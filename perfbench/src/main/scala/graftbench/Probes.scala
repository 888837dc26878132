package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.jdk.CollectionConverters._
import com.sun.management.GarbageCollectionNotificationInfo

/** Process-level readings: heap peaks and GC time from the JVM's
  * management beans, and host noise (steal, iowait, load) from `/proc`.
  * Host noise is evidence printed next to the metrics; it never gates a
  * run. */
object Probes {
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds of every thread of this JVM since it started. */
  def processCpuS: Double = os.getProcessCpuTime / 1e9

  /** Time the JIT compiler threads have spent compiling since start. */
  def jitS: Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  /** Classes Spark's code generator has compiled since start: one per
    * miss of its compiled-class cache. */
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def gcS: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3

  private val heapPoolNames = heapPools.map(_.getName).toSet
  @volatile private var peakAfterGc = 0L

  /** Heap occupancy after each collection: what survived it (live and
    * promoted data), without the garbage a young generation of
    * adaptive size happens to hold when sampled. */
  private lazy val gcListener: Unit = {
    val l = new NotificationListener {
      def handleNotification(n: Notification, handback: Any): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPoolNames(pool) => u.getUsed }.sum
          Probes.synchronized { if (after > peakAfterGc) peakAfterGc = after }
        }
    }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(l, null, null)
      case _ =>
    }
  }

  def resetHeapPeak(): Unit = { gcListener; Probes.synchronized { peakAfterGc = 0L } }

  /** Peak heap occupancy since the last reset, as left by collections;
    * at least the tenured and survivor occupancy at the time of call. */
  def peakHeapMb: Double = {
    val retained = heapPools.filterNot(_.getName.toLowerCase.contains("eden"))
      .map(_.getUsage.getUsed).sum
    math.max(Probes.synchronized(peakAfterGc), retained) / 1048576.0
  }

  /** Cumulative (total, iowait, steal) jiffies of the host CPU line. */
  final case class CpuTicks(total: Long, iowait: Long, steal: Long)

  def cpuTicks: Option[CpuTicks] = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    val line = try src.getLines().next() finally src.close()
    val f = line.trim.split("\\s+").drop(1).map(_.toLong)
    Some(CpuTicks(f.take(8).sum, f(4), if (f.length > 7) f(7) else 0L))
  } catch { case _: Exception => None }

  def loadAvg1: Double = try {
    val src = scala.io.Source.fromFile("/proc/loadavg")
    try src.getLines().next().split(" ")(0).toDouble finally src.close()
  } catch { case _: Exception => Double.NaN }

  /** Host-noise window: steal and iowait as shares of all host CPU
    * time between `start` and now, load average at both ends, and the
    * JVM's GC time over the window. */
  final class Window {
    private val t0 = cpuTicks
    private val load0 = loadAvg1
    private val gc0 = gcS
    def close(): Map[String, Any] = {
      val shares = for (a <- t0; b <- cpuTicks if b.total > a.total) yield {
        val d = (b.total - a.total).toDouble
        ((b.steal - a.steal) / d, (b.iowait - a.iowait) / d)
      }
      Map(
        "steal_frac" -> shares.map(_._1),
        "iowait_frac" -> shares.map(_._2),
        "loadavg1_start" -> load0,
        "loadavg1_end" -> loadAvg1,
        "gc_s" -> (gcS - gc0))
    }
  }
}
