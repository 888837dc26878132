package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name prefixes — run (and
    // emit oracle SQL for) only matching queries. Local-iteration aid;
    // the driver always runs the full surface with 2 args.
    val (Array(sfDir, outDir), only) = (args.take(2), args.drop(2).headOption)
    val keep: String => Boolean = only match {
      case Some(pfx) =>
        val ps = pfx.split(',').toSeq; name => ps.exists(name.startsWith)
      case None => _ => true
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // bucketed-table queries (q53) saveAsTable here; default would
      // drop a spark-warehouse dir into the repo CWD
      .config("spark.sql.warehouse.dir",
        Files.createTempDirectory("graft-verify-wh").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Per-query wall seconds, written as timings.json beside the
    // results (r17 verdict item 7: the driver's CORRECTNESS file
    // covered 326 of 345 queries — if its budget cuts the run, the
    // cut point and the queries worth optimizing must be visible
    // from the artifact alone).
    //
    // Queries are submitted from a small thread pool (guide §2.6,
    // optimization r20): each query's single-threaded driver work
    // (analysis, codegen compile, parquet commit) overlaps another
    // query's executor work, and a query's job tail backfills with
    // the next query's tasks. Per-query isolation is preserved —
    // one parquet dir per query, same bytes as the sequential run
    // (every query is deterministic and caches are never
    // correctness-bearing); under concurrency an individual
    // timings.json wall includes neighbor overlap, so read the slow
    // list comparatively, not absolutely.
    // WAVE-synchronized: queries run `nThreads` at a time, but the
    // per-query clearCache of the sequential harness moves to the
    // wave BARRIER, where nothing is in flight. clearCache while a
    // neighbor query executes is NOT safe: two queries sharing a
    // canonically-identical persisted subplan (q27/q49 share the
    // MinHash sketch + band table) intermittently evaluated the
    // still-running query's cached scan as EMPTY when the finished
    // one dropped the shared entry mid-flight (reproduced 2/6 in
    // optimization r20 §5; clear-only and concurrency-only
    // controls were each 100% clean). Caches therefore accumulate
    // only within one wave (bounded — the r8 eviction-churn concern
    // was cross-356-query accumulation).
    val nThreads = 4
    val entries = SparkEntry.queries.toSeq.filter(kv => keep(kv._1))
    val walls = new java.util.concurrent.ConcurrentHashMap[String, Double]()
    entries.grouped(nThreads).foreach { wave =>
      val threads = wave.map { case (name, fn) =>
        val t = new Thread(() => {
          val t0 = System.nanoTime()
          try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
          }
          finally {
            val w = (System.nanoTime() - t0) / 1e9
            walls.put(name, w)
            if (w > 10)
              System.err.println(f"[verify] slow: $name took $w%.1f s")
          }
        })
        t.start(); t
      }
      threads.foreach(_.join())
      // queries persist fork points (diamond-plan policy) without
      // unpersisting; one harness-level drop per WAVE keeps the cache
      // bounded while never racing an in-flight query.
      spark.catalog.clearCache()
    }
    val tJson = entries.flatMap { case (name, _) =>
      Option(walls.get(name)).map(name -> _) }
      .map { case (k, v) => "\"" + k + "\": " + math.round(v * 100) / 100.0 }
      .mkString("{", ", ", "}")
    Files.writeString(Paths.get(s"$outDir/timings.json"), tJson)
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
