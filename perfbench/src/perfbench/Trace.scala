package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Totals the listener collects for one tag (a span, or a whole op). */
final class Tally {
  var jobs = 0
  var tasks = 0
  var execCpuNs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  /** Max over median task time; 0 when the tag ran no task. */
  def taskSkew: Double =
    if (taskMs.isEmpty) 0.0
    else {
      val s = taskMs.sorted
      s.last.toDouble / math.max(1L, s(s.size / 2)).toDouble
    }
}

/** Job, task and shuffle accounting by tag. Jobs inherit the tag from
  * the `perfbench.tag` local property of the thread that submits them;
  * tasks are attributed through their stage. Untagged work is ignored.
  */
final class TagListener extends SparkListener {
  private val stageTag = new ConcurrentHashMap[Int, String]()
  private val jobTag = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  private val tallies = mutable.HashMap.empty[String, Tally]

  private def tally(tag: String): Tally = synchronized(tallies.getOrElseUpdate(tag, new Tally))

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(TagListener.Key))).foreach { tag =>
      jobTag.put(e.jobId, tag)
      jobStart.put(e.jobId, e.time)
      e.stageIds.foreach(stageTag.put(_, tag))
      synchronized(tally(tag).jobs += 1)
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobTag.remove(e.jobId)).foreach { tag =>
      val t0 = jobStart.remove(e.jobId)
      synchronized(tally(tag).jobIntervals += (t0 -> e.time))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageTag.get(e.stageId)).foreach { tag =>
      val m = e.taskMetrics
      synchronized {
        val t = tally(tag)
        t.tasks += 1
        t.taskMs += e.taskInfo.duration
        if (m != null) {
          t.execCpuNs += m.executorCpuTime
          t.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }

  /** Remove and return a tag's totals, after all posted events arrived. */
  def take(sc: SparkContext, tag: String): Tally = {
    org.apache.spark.perfbench.Bus.drain(sc)
    synchronized(tallies.remove(tag).getOrElse(new Tally))
  }
}

object TagListener {
  val Key = "perfbench.tag"

  def tagged[T](sc: SparkContext, tag: String)(f: => T): T = {
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, tag)
    try f finally sc.setLocalProperty(Key, prev)
  }
}

/** Length of the union of intervals, clipped to [lo, hi]. */
object Intervals {
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var end = lo
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > end) { total += b - math.max(a, end); end = b }
      }
    total
  }
}

/** Process-level counters: CPU, GC, JIT, old-gen after GC, host steal. */
object Host {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val jit = ManagementFactory.getCompilationMXBean

  def cpuS: Double = os.getProcessCpuTime / 1e9
  def gcS: Double = gcs.map(_.getCollectionTime).sum / 1e3
  def jitS: Double = jit.getTotalCompilationTime / 1e3

  /** Host-wide steal time in seconds, from the first line of /proc/stat. */
  def stealS: Double =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+")
        if (f.length > 8) f(8).toDouble / 100.0 else 0.0
      } finally src.close()
    } catch { case _: Exception => 0.0 }

  def loadAvg1: Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim.split("\\s+")(0).toDouble finally src.close()
    } catch { case _: Exception => 0.0 }

  @volatile private var oldPeak = 0L

  /** Old-generation bytes in use after each GC, tracked as a running max
    * that `resetOldPeak` clears.
    */
  def watchOldGen(): Unit = gcs.foreach {
    case em: javax.management.NotificationEmitter =>
      em.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
        if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
            .GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          info.getGcInfo.getMemoryUsageAfterGc.asScala.foreach { case (pool, u) =>
            if (pool.contains("Old Gen") && u.getUsed > oldPeak) oldPeak = u.getUsed
          }
        }
      }, null, null)
    case _ =>
  }

  def resetOldPeak(): Unit = oldPeak = 0L
  def oldPeakMb: Double = oldPeak / 1048576.0
}
