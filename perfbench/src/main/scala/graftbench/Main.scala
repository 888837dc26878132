package graftbench

import java.io.File
import scala.collection.mutable
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import graft.core.Engine

/** Benchmark entry point:
  *
  * {{{
  * graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                 --work <dir> [--scale <x>] [--corrupt-expected 1]
  * }}}
  *
  * One client drives the engine in a closed loop at `local[nproc]`:
  * set-up (session start and seeded input generation) runs
  * [[Main.SetupReps]] times, then [[Main.WarmupPasses]] untimed passes,
  * then untraced passes for `--seconds`. With `--trace 1` the untraced
  * passes get half the time and [[Main.TracedPasses]] traced passes
  * and a traced small-job loop follow. The last line of standard
  * output is the result object. */
object Main {
  val SetupReps = 3
  val WarmupPasses = 6
  val TracedPasses = 2
  val SmallJobs = 50
  /** Shuffle partitions sized for the local cluster (two per core), as
    * the engine's session factory asks of its callers. */
  val ShufflePartitions: Int = 2 * Runtime.getRuntime.availableProcessors

  /** Spans and the layer metrics each one reports in a traced run. A
    * span a workload does not call is opened empty: its counts are 0
    * and its times the tracer's own cost for a span. */
  val SpanMetrics: Seq[(String, Seq[String])] = {
    val common = Seq("wall_s", "cpu_s", "rows_out", "shuffle_write_mb", "spill_mb", "task_skew")
    Seq(
      "core.plan" -> Seq("plan_ms", "small_job_ms_p50", "small_job_ms_p80"),
      "jobs.terasort.sort" -> Nil,
      "jobs.terasort.validate" -> Nil,
      "jobs.wordcount" -> Nil,
      "ops.datajoin" -> Nil,
      "ops.secondarysort" -> Nil,
      "agg.aggregate" -> Nil,
      "functions.sketch" -> Nil,
      "llm.dedup.candidates" -> Seq("cand_pairs", "band_rows", "emit_factor"),
      "llm.dedup.verified" -> Seq("out_pairs", "verify_yield"),
      "llm.dedup.components" -> Seq("jobs"),
      "llm.setsim" -> Seq("out_pairs", "verify_in_rows"),
      "sources.warc" -> Seq("records_in", "undecodable", "mb_per_s"),
      "llm.curation.gates" -> Seq("pass_ratio"),
      "llm.curation.keepfirst" -> Seq("pass_ratio"),
      "sink.parquet" -> Seq("write_mb"),
    ).map { case (span, extra) => span -> (common ++ extra) }
  }

  val PerLayerUnits: Map[String, String] = Map(
    "wall_s" -> "s", "cpu_s" -> "s", "rows_out" -> "count", "shuffle_write_mb" -> "MB",
    "spill_mb" -> "MB", "task_skew" -> "ratio", "plan_ms" -> "ms", "cand_pairs" -> "count",
    "band_rows" -> "count", "emit_factor" -> "ratio", "out_pairs" -> "count",
    "verify_yield" -> "ratio", "jobs" -> "count", "verify_in_rows" -> "count",
    "records_in" -> "count", "undecodable" -> "count", "mb_per_s" -> "MB/s",
    "pass_ratio" -> "ratio", "write_mb" -> "MB", "small_job_ms_p50" -> "ms",
    "small_job_ms_p80" -> "ms")

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: File, scale: Double, corrupt: Boolean)

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val wl = Workload.byName(args.workload).getOrElse {
      System.err.println(s"unknown workload ${args.workload}; one of " +
        Workload.all.map(_.name).mkString(", "))
      sys.exit(2)
    }
    val (result, evidence) = run(args, wl)
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    println(json.writeValueAsString(evidence))
    println(json.writeValueAsString(result))
  }

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, { System.err.println(s"missing --$k"); sys.exit(2) })
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", new File(need("work")), m.get("scale").map(_.toDouble).getOrElse(1.0),
      m.get("corrupt-expected").contains("1"))
  }

  private final case class PassStats(wallS: Double, cpuS: Double, taskCpuS: Double,
                                     peakHeapMb: Double, gcS: Double, jitS: Double,
                                     compiles: Long)

  /** One pass, timed. Its CPU is the process CPU over the pass: every
    * thread of the JVM, so Spark tasks, the client, GC and the JIT
    * compiler. The CPU of the pass's Spark tasks and the JIT
    * compiler's time are kept beside it.
    * Tables the engine cached during the pass (its operators persist
    * sketch, band and rarity tables and leave them cached) are dropped
    * after the timed window, so every pass computes them again. */
  private def timedPass(spark: SparkSession, wl: Workload, dir: File, spans: Spans,
                        checks: Checks, tasks: TaskListener): PassStats = {
    System.gc() // every pass starts from a collected heap
    tasks.drain()
    Probes.resetHeapPeak()
    val (p0, k0, g0, j0) = (Probes.processCpuS, tasks.taskCpuS, Probes.gcS, Probes.jitS)
    val n0 = Probes.codegenCompiles
    val t0 = System.nanoTime()
    wl.pass(spark, dir, spans, checks)
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = Probes.processCpuS - p0
    val (heap, gc, jit) = (Probes.peakHeapMb, Probes.gcS - g0, Probes.jitS - j0)
    val compiles = Probes.codegenCompiles - n0
    spark.catalog.clearCache()
    tasks.drain()
    PassStats(wall, cpu, tasks.taskCpuS - k0, heap, gc, jit, compiles)
  }

  private val started = System.nanoTime()
  private def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - started) / 1e9}%7.2f s] $msg")

  def run(args: Args, wl: Workload): (Map[String, Any], Map[String, Any]) = {
    val host = new Probes.Window
    val checks = new Checks
    val dir = new File(args.work, wl.name)
    var spark: SparkSession = null

    // set-up, SetupReps times: session start and seeded input
    // generation; setup_s is the median
    val setupS = (0 until SetupReps).map { _ =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = Engine.session("perfbench", shufflePartitions = ShufflePartitions)
      Util.deleteRecursively(dir)
      wl.setup(spark, dir, args.seed, args.scale)
      if (args.corrupt) Util.corruptExpected(dir)
      (System.nanoTime() - t0) / 1e9
    }
    log("set up")
    val tasks = new TaskListener(spark)

    // untraced passes: at least `min`, and until `seconds` are up
    def passesFor(min: Int, seconds: Double): Seq[PassStats] = {
      val out = mutable.ArrayBuffer.empty[PassStats]
      val end = System.nanoTime() + (seconds * 1e9).toLong
      while (out.size < min || (System.nanoTime() < end && out.size < 100))
        out += timedPass(spark, wl, dir, NoSpans, checks, tasks)
      out.toSeq
    }
    // untimed warm-up: in a fresh JVM the first pass costs about 5x the
    // CPU of a steady one, and the JIT compiler keeps the CPU of a pass
    // falling for about five passes after it
    val warmup = passesFor(WarmupPasses, 0)
    log("warmed up")
    val passes = passesFor(1, if (args.trace) args.seconds / 2 else args.seconds)
    log(s"${passes.size} measured passes done")
    val traced = if (!args.trace) Nil else {
      val tr = new Tracer(spark, tasks)
      (0 until TracedPasses).map { _ =>
        val st = timedPass(spark, wl, dir, tr, checks, tasks)
        (st, tr.nextPass(SpanMetrics.map(_._1).filter(_ != "core.plan")))
      } :+ {
        smallJobLoop(spark, args.seed, tr, checks)
        (null: PassStats, tr.nextPass(Nil))
      }
    }
    spark.stop()

    // recall of the planted near-duplicate pairs; a workload that
    // plants none can miss none, and reports 1
    val dedupRecall =
      if (checks.recallExpected == 0) 1.0
      else checks.recallFound.toDouble / checks.recallExpected
    val tracedPasses = traced.filter(_._1 != null)
    val metrics: Seq[(String, Double, String)] =
      if (!args.trace) Seq(
        ("cpu_s", Util.median(passes.map(_.cpuS)), "s"),
        ("setup_s", Util.median(setupS), "s"),
        ("dedup_recall", dedupRecall, "ratio"))
      else {
        val spanPasses = traced.map(_._2)
        val perSpan = for ((span, ms) <- SpanMetrics; m <- ms) yield {
          val vs = spanPasses.flatMap(_.get(span)).flatMap(_.get(m))
          (s"$span.$m", if (vs.isEmpty) 0.0 else Util.median(vs), PerLayerUnits(m))
        }
        perSpan ++ Seq(
          ("job_s", Util.median(passes.map(_.wallS)), "s"),
          ("task_cpu_s", Util.median(passes.map(_.taskCpuS)), "s"),
          ("jvm.gc_s", Util.median(passes.map(_.gcS)), "s"),
          ("jvm.jit_s", Util.median(passes.map(_.jitS)), "s"),
          ("core.codegen_compiles", Util.median(passes.map(_.compiles.toDouble)), "count"),
          ("jvm.peak_heap_mb", Util.median(passes.map(_.peakHeapMb)), "MB"),
          ("trace_overhead", Util.median(tracedPasses.map(_._1.wallS)) /
            Util.median(passes.map(_.wallS)), "ratio"))
      }

    val result = Map(
      "correct" -> (checks.failed == 0),
      "attempted" -> checks.attempted,
      "failed" -> checks.failed,
      "metrics" -> mutable.LinkedHashMap(metrics.map { case (n, v, u) =>
        n -> Map("value" -> v, "unit" -> u) }: _*))
    val evidence = Map(
      "workload" -> wl.name, "seed" -> args.seed, "scale" -> args.scale,
      "cores" -> Runtime.getRuntime.availableProcessors,
      "fail_frac" -> (if (checks.attempted == 0) Double.NaN
                      else checks.failed.toDouble / checks.attempted),
      "failures" -> checks.failures.take(20),
      "setup_s" -> setupS, "warmup_pass_wall_s" -> warmup.map(_.wallS),
      "warmup_pass_cpu_s" -> warmup.map(_.cpuS),
      "pass_wall_s" -> passes.map(_.wallS), "pass_cpu_s" -> passes.map(_.cpuS),
      "pass_task_cpu_s" -> passes.map(_.taskCpuS),
      "pass_peak_heap_mb" -> passes.map(_.peakHeapMb), "pass_gc_s" -> passes.map(_.gcS),
      "pass_jit_s" -> passes.map(_.jitS),
      "pass_codegen_compiles" -> passes.map(_.compiles),
      "traced_pass_wall_s" -> tracedPasses.map(_._1.wallS),
      "traced_span_share" -> spanShares(tracedPasses),
      "host" -> host.close())
    (result, evidence)
  }

  /** What share of a traced pass's wall time and process CPU each span
    * that ran jobs took, as medians over the traced passes. The rest,
    * `unattributed`, is the benchmark's own output checks and the
    * client's work between spans. */
  private def spanShares(traced: Seq[(PassStats, Map[String, Map[String, Double]])])
      : Map[String, Map[String, Double]] = {
    val perPass = traced.map { case (st, spans) =>
      val own = spans.filter(_._2.getOrElse("jobs", 0.0) > 0).map { case (span, m) =>
        span -> Map("wall" -> m("wall_s") / st.wallS, "cpu" -> m("cpu_s") / st.cpuS)
      }
      own + ("unattributed" -> Map(
        "wall" -> (1 - own.values.map(_("wall")).sum),
        "cpu" -> (1 - own.values.map(_("cpu")).sum)))
    }
    perPass.flatMap(_.keys).distinct.map { span =>
      span -> Seq("wall", "cpu").map(k => k -> Util.median(perPass.flatMap(_.get(span)).map(_(k)))).toMap
    }.toMap
  }

  /** The MRBench loop, run as the `core.plan` span of a traced run:
    * [[SmallJobs]] tiny reduce jobs, each over a fresh two-split input
    * of 64 rows whose per-key sums are checked. It reports the job
    * latency's median and 80th percentile and `plan_ms`, the median
    * time to build the executed plan. */
  private def smallJobLoop(spark: SparkSession, seed: Long, spans: Spans,
                           checks: Checks): Unit = {
    import spark.implicits._
    val planMs = mutable.ArrayBuffer.empty[Double]
    val lat = mutable.ArrayBuffer.empty[Double]
    spans("core.plan") {
      for (i <- 0 until SmallJobs) {
        val r = new java.util.Random(seed * 1000003L + i)
        val rows = Seq.fill(64)((r.nextInt(8).toLong, r.nextInt(1000).toLong))
        val expected = rows.groupBy(_._1).map { case (k, vs) => (k, vs.map(_._2).sum, vs.size.toLong) }
          .toSeq.sorted
        checks.job("small_job") {
          val t0 = System.nanoTime()
          val df = spark.sparkContext.parallelize(rows, 2).toDF("key", "v")
          val q = graft.agg.ValueAggregators.aggregate(df, Seq("key"), Seq("sum:v:s", "count:v:c"))
          val tp = System.nanoTime()
          q.queryExecution.executedPlan
          planMs += (System.nanoTime() - tp) / 1e6
          val got = q.as[(Long, Long, Long)].collect().toSeq.sorted
          lat += (System.nanoTime() - t0) / 1e6
          got == expected
        }
      }
    }
    spans.put("core.plan", "plan_ms", Util.median(planMs.toSeq))
    spans.put("core.plan", "rows_out", lat.size.toDouble)
    spans.put("core.plan", "small_job_ms_p50", Util.quantile(lat.toSeq, 0.5))
    spans.put("core.plan", "small_job_ms_p80", Util.quantile(lat.toSeq, 0.8))
  }
}
