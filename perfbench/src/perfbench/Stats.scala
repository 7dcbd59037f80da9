package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

/** Order statistics for latency samples. */
object Stats {

  def median(v: Seq[Double]): Double = {
    require(v.nonEmpty, "median of no samples")
    val s = v.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** The tail: the highest percentile that still has at least 10 samples
    * beyond it. Failed operations count as samples beyond every latency
    * (`failed` infinite samples). Returns (value, percentile, samples); with
    * 10 or fewer samples there is no such percentile and the maximum is
    * reported at percentile 100.
    */
  def tail(v: Seq[Double], failed: Long = 0): (Double, Double, Int) = {
    val s = (v ++ Seq.fill(failed.toInt)(Double.PositiveInfinity)).sorted
    val n = s.size
    require(n > 0, "tail of no samples")
    if (n <= 10) (s.last, 100.0, n)
    else {
      val idx = n - 11 // 10 samples lie strictly beyond this rank
      (s(idx), 100.0 * (idx + 1) / n, n)
    }
  }

  def loadavg(): String =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
    catch { case scala.util.control.NonFatal(_) => "unavailable" }

  /** The heap's live set: the largest heap occupancy right after a
    * collection, over every collection from now on, in MB (0 until the
    * first collection). Unlike the resident set it does not depend on how
    * far the collector let the heap grow before collecting.
    */
  final class LiveHeapPeak {
    private val peak = new java.util.concurrent.atomic.AtomicLong()
    private val onGc = new javax.management.NotificationListener {
      def handleNotification(n: javax.management.Notification, hb: Any): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val heapNames = ManagementFactory.getMemoryPoolMXBeans.asScala
            .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapNames(pool) => u.getUsed }.sum
          peak.accumulateAndGet(used, (a: Long, b: Long) => math.max(a, b))
        }
    }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter => e.addNotificationListener(onGc, null, null)
      case _ =>
    }
    def get(): Double = peak.get() / (1024.0 * 1024.0)
  }

  def liveHeapPeak(): LiveHeapPeak = new LiveHeapPeak

  /** Peak resident set (VmHWM) of this process in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }
}
