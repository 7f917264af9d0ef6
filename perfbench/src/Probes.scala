package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import javax.management.{NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler._

/** One Spark job as [[JobListener]] saw it. */
final class JobRecord(val id: Int, val span: String, val callSite: String, val startMs: Long) {
  var endMs: Long = startMs
  var tasks: Int = 0
  var taskRunMs: Long = 0L
  var shuffleBytes: Long = 0L
  def wallMs: Long = endMs - startMs
}

/** Bench-side SparkListener for the traced run: jobs, tasks, executor
  * run time and shuffle bytes, each job tagged with the span that
  * submitted it (the [[Trace.SpanKey]] local property).
  */
final class JobListener extends SparkListener {
  private val byId = mutable.LinkedHashMap.empty[Int, JobRecord]
  private val stageJob = mutable.HashMap.empty[Int, JobRecord]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k))).getOrElse("")
    // the final stage's name is the job's call site, e.g. "save at X.scala:12"
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    val j = new JobRecord(e.jobId, prop(Trace.SpanKey), site, e.time)
    byId(e.jobId) = j
    e.stageIds.foreach(stageJob(_) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    byId.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        j.taskRunMs += m.executorRunTime
        j.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  def jobs: Seq[JobRecord] = synchronized(byId.values.toSeq)
  def jobsOf(span: String): Seq[JobRecord] = jobs.filter(_.span == span)
}

/** A timed region of the traced run. Times are `System.nanoTime`. */
final case class Span(name: String, startNs: Long, endNs: Long, parent: String, runId: String)

object Trace {
  val SpanKey = "perfbench.span"
}

/** Spans kept in memory and written once, at the end of the run. */
final class Trace(val runId: String) {
  private val spans = ArrayBuffer.empty[Span]

  def record(name: String, startNs: Long, endNs: Long, parent: String): Unit =
    spans += Span(name, startNs, endNs, parent, runId)

  def write(file: Path): Unit = {
    val lines = spans.map { s =>
      s"""{"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""parent":"${s.parent}","run":"${s.runId}"}"""
    }
    Files.write(file, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

/** Peak used heap right after a collection, over an armed window. */
final class HeapPeak {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  @volatile private var armed = false
  @volatile private var peak = 0L

  private val listener = new NotificationListener {
    def handleNotification(n: javax.management.Notification, hb: Any): Unit =
      if (armed && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        synchronized { if (used > peak) peak = used }
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _                      => ()
  }

  private def usedAfterGc(): Long = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  /** Collect, note the level, and start watching. Returns the level. */
  def arm(): Long = {
    val start = usedAfterGc()
    synchronized { peak = start }
    armed = true
    start
  }

  /** Stop watching; the peak includes one last collection. */
  def disarm(): Long = {
    val end = usedAfterGc()
    armed = false
    synchronized { math.max(peak, end) }
  }
}

/** The machine's CPU steal: time the host gave this machine's CPUs to
  * its neighbours. On a shared host it comes in episodes that slow
  * every wall-clock reading taken during them.
  */
object Steal {
  private val stat = java.nio.file.Paths.get("/proc/stat")

  /** (steal, total) jiffies so far; zeros where the kernel has none. */
  def ticks(): (Long, Long) =
    if (!Files.isReadable(stat)) (0L, 0L)
    else {
      val f = Files.readAllLines(stat).get(0).trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    }

  /** Share of the machine's CPU time stolen since `from`. */
  def since(from: (Long, Long)): Double = {
    val (s, t) = ticks()
    (s - from._1).toDouble / math.max(t - from._2, 1L)
  }
}

object Fs {
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    val paths = try s.iterator.asScala.toSeq finally s.close()
    paths.sortBy(-_.getNameCount).foreach(Files.deleteIfExists(_))
  }

  def jsonString(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c    => b += c
    }
    (b += '"').toString
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    percentile(xs, 50)
  }

  /** Percentile with linear interpolation between closest ranks. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    val r = p / 100.0 * (s.length - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  /** The highest whole percentile with at least ten calls beyond it,
    * or 100 (the slowest call) when a pass has fewer than twenty.
    */
  def tailPercentile(n: Int): Int =
    if (n < 20) 100 else math.floor(100.0 * (1.0 - 10.0 / n)).toInt
}
