package graftbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Where a workload marks its calls into the engine's layers. The
  * untraced pass runs the bodies as they are; the traced pass records
  * one span per call. */
trait Spans {
  def enabled: Boolean
  def apply[T](name: String)(body: => T): T
  /** Attach a layer count or ratio to a span of the current pass. */
  def put(span: String, metric: String, value: Double): Unit
  /** Executed plans of the queries a span ran (empty when untraced). */
  def plans(span: String): Seq[SparkPlan]
}

object NoSpans extends Spans {
  def enabled = false
  def apply[T](name: String)(body: => T): T = body
  def put(span: String, metric: String, value: Double): Unit = ()
  def plans(span: String): Seq[SparkPlan] = Nil
}

/** The benchmark's own `SparkListener`. It sums the CPU time of every
  * task, attributes the tasks of each job group to that group (the
  * traced run's spans), and lets the client wait until the listener
  * bus has delivered every event posted before the wait. */
final class TaskListener(spark: SparkSession) extends SparkListener {
  import Tracer._

  final class StageAcc {
    var cpuNs = 0L; var shuffleBytes = 0L; var spillBytes = 0L
    val durations = mutable.ArrayBuffer.empty[Long]
  }
  final class GroupAcc {
    var jobs = 0
    val stages = mutable.Map.empty[Int, StageAcc]
  }

  private val cpuNs = new java.util.concurrent.atomic.AtomicLong
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val accs = new ConcurrentHashMap[String, GroupAcc]()
  private val barrierJobs = ConcurrentHashMap.newKeySet[Int]()
  private var barrierEnds = 0L // guarded by this

  spark.sparkContext.addSparkListener(this)

  private def acc(group: String) = accs.computeIfAbsent(group, _ => new GroupAcc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).map(_.getProperty(JobGroupKey)).orNull
    if (group == BarrierGroup) barrierJobs.add(e.jobId)
    else if (group != null) {
      val a = acc(group)
      a.synchronized { a.jobs += 1 }
      e.stageIds.foreach(stageGroup.put(_, group))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val cpu = m.executorCpuTime + m.executorDeserializeCpuTime
      cpuNs.addAndGet(cpu)
      val group = stageGroup.get(e.stageId)
      if (group != null) {
        val a = acc(group)
        a.synchronized {
          val st = a.stages.getOrElseUpdate(e.stageId, new StageAcc)
          st.cpuNs += cpu
          st.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          st.spillBytes += m.diskBytesSpilled
          st.durations += e.taskInfo.duration
        }
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (barrierJobs.remove(e.jobId)) synchronized { barrierEnds += 1; notifyAll() }

  /** CPU seconds of every task that has ended and been delivered. */
  def taskCpuS: Double = cpuNs.get / 1e9

  /** The accounts of one job group, removed. */
  def take(group: String): Option[GroupAcc] = Option(accs.remove(group))

  /** Waits until the bus has delivered every event posted before this
    * call: a marker job's end event is queued after them on the same
    * shared queue, so seeing it means all earlier task and query
    * events have reached their listeners. */
  def drain(): Unit = {
    val sc = spark.sparkContext
    val before = synchronized(barrierEnds)
    sc.setJobGroup(BarrierGroup, "listener barrier", interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000000000L
    synchronized {
      while (barrierEnds <= before && System.nanoTime() < deadline) wait(50)
    }
  }
}

/** Span recorder for the traced run. Each span runs under its own
  * Spark job group; the [[TaskListener]] attributes every task of that
  * group's stages (CPU, shuffle write, spill, duration) to the span,
  * and a query-execution listener keeps the executed plans so a
  * workload can read SQL metrics off them. Spans live in memory and
  * are folded into per-pass maps; nothing is written until the run
  * ends. Spans named `bench.*` time the benchmark's own checks and are
  * kept out of the layer metrics. */
final class Tracer(spark: SparkSession, tasks: TaskListener) extends Spans {
  @volatile private var current: String = null
  private val planLog = new ConcurrentHashMap[String, mutable.ArrayBuffer[SparkPlan]]()

  private object PlanListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val span = current
      if (span != null) {
        val log = planLog.computeIfAbsent(span, _ => mutable.ArrayBuffer.empty[SparkPlan])
        log.synchronized { log += qe.executedPlan }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  spark.listenerManager.register(PlanListener)

  private var pass = mutable.LinkedHashMap.empty[String, mutable.LinkedHashMap[String, Double]]
  private val threadCpu = java.lang.management.ManagementFactory.getThreadMXBean

  def enabled = true

  /** Starts a new pass; returns the finished pass's span metrics.
    * Each span of `all` the pass did not call is first opened empty,
    * so it reports the tracer's own cost and counts of 0. */
  def nextPass(all: Seq[String]): Map[String, Map[String, Double]] = {
    all.filterNot(pass.contains).foreach(apply(_)(()))
    val done = pass.map { case (k, v) => k -> v.toMap }.toMap
    pass = mutable.LinkedHashMap.empty
    planLog.clear()
    done
  }

  def put(span: String, metric: String, value: Double): Unit =
    pass.getOrElseUpdate(span, mutable.LinkedHashMap.empty)(metric) = value

  def plans(span: String): Seq[SparkPlan] =
    Option(planLog.get(span)).map(l => l.synchronized(l.toList)).getOrElse(Nil)

  def apply[T](name: String)(body: => T): T = {
    val sc = spark.sparkContext
    current = name
    sc.setJobGroup(name, name, interruptOnCancel = false)
    val (t0, c0) = (System.nanoTime(), threadCpu.getCurrentThreadCpuTime)
    try body
    finally {
      val wall = (System.nanoTime() - t0) / 1e9
      val callerCpu = (threadCpu.getCurrentThreadCpuTime - c0) / 1e9
      sc.clearJobGroup()
      tasks.drain()
      current = null
      val acc = tasks.take(name)
      if (!name.startsWith("bench.")) record(name, wall, callerCpu, acc)
    }
  }

  private def record(name: String, wall: Double, callerCpu: Double,
                     acc: Option[TaskListener#GroupAcc]): Unit = {
    val stages = acc.map(_.stages.values.toSeq).getOrElse(Nil)
    put(name, "wall_s", wall)
    // task CPU of the span's stages plus the calling thread's own
    // (planning, result handling)
    put(name, "cpu_s", stages.map(_.cpuNs).sum / 1e9 + callerCpu)
    put(name, "shuffle_write_mb", stages.map(_.shuffleBytes).sum / 1048576.0)
    put(name, "spill_mb", stages.map(_.spillBytes).sum / 1048576.0)
    // skew of the span's heaviest stage: its slowest task over its median
    val skew = if (stages.isEmpty) 0.0 else {
      val d = stages.maxBy(_.durations.sum).durations.sorted
      if (d.isEmpty) 0.0 else d.last.toDouble / math.max(1L, d(d.size / 2))
    }
    put(name, "task_skew", skew)
    put(name, "jobs", acc.map(_.jobs.toDouble).getOrElse(0.0))
  }
}

object Tracer {
  val JobGroupKey = "spark.jobGroup.id"
  val BarrierGroup = "bench.barrier"

  /** Children of a plan node, looking through adaptive execution's
    * wrappers into the final stage plans. */
  def children(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec => Seq(q.plan)
    case o => o.children
  }

  /** Every node of an executed plan. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p +: children(p).flatMap(nodes)

  /** Value of the SQL metric `metric` on a plan node, if it has one. */
  def metric(p: SparkPlan, metric: String): Option[Long] =
    p.metrics.get(metric).map(_.value)
}
