package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Outside-in JVM probes: GC time, JIT time, the live heap after GC, and
  * a fixed CPU canary that reads host noise before each sample. */
object Jvm {
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  def gcSeconds(): Double = gcBeans.map(b => math.max(b.getCollectionTime, 0L)).sum / 1e3

  def jitSeconds(): Double = {
    val c = ManagementFactory.getCompilationMXBean
    if (c != null && c.isCompilationTimeMonitoringSupported) c.getTotalCompilationTime / 1e3
    else 0.0
  }

  def maxHeapMb: Double = Runtime.getRuntime.maxMemory / 1048576.0

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).toSeq

  /** Runs `body` while a sampler thread forces a full GC every `periodMs`
    * and reads the heap left in use right after it (the pools'
    * `getCollectionUsage`); returns the highest such live set, in MB. Only
    * full collections are read: after a young one the old generation still
    * holds dead objects. The forced collections slow `body` down, so it is
    * never a timed sample. */
  def peakLiveHeapMb(periodMs: Long)(body: => Unit): Double = {
    @volatile var done = false
    var peak = 0L
    def collectAndRead(): Unit = {
      System.gc()
      val used = heapPools.map(p => Option(p.getCollectionUsage).map(_.getUsed).getOrElse(0L)).sum
      peak = math.max(peak, used)
    }
    val sampler = new Thread(() => while (!done) { collectAndRead(); Thread.sleep(periodMs) })
    sampler.setDaemon(true)
    sampler.start()
    try body
    finally {
      done = true
      sampler.join()
    }
    collectAndRead()
    peak / 1048576.0
  }

  /** (steal, total) CPU jiffies of the host from /proc/stat; zeros where
    * there is none. */
  def cpuJiffies(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case _: Exception => (0L, 0L) }

  /** Share of the host's CPU time taken by the hypervisor between two
    * readings: the other host-noise reading next to the canary. */
  def stealShare(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 > a._2) (b._1 - a._1).toDouble / (b._2 - a._2) else 0.0

  @volatile private var sink = 0L

  /** Milliseconds for a fixed integer loop: a host-noise reading. */
  def canaryMs(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 30000000) {
      x = x * 6364136223846793005L + 1442695040888963407L
      x ^= x >>> 29
      i += 1
    }
    sink ^= x
    (System.nanoTime() - t0) / 1e6
  }
}

/** Per-stage task metrics gathered from Spark's public listener bus. */
final class StageStats(val stageId: Int) {
  var submittedMs = 0L
  var completedMs = 0L
  var name = ""
  val taskSeconds = mutable.ArrayBuffer.empty[Double]
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var fetchWaitMs = 0L
  var diskSpillBytes = 0L
  var peakExecMemBytes = 0L
  def seconds: Double = (completedMs - submittedMs) / 1e3
  def maxTaskSeconds: Double = if (taskSeconds.isEmpty) 0.0 else taskSeconds.max
  def medianTaskSeconds: Double = Stats.median(taskSeconds.toSeq)
}

final class StageListener extends SparkListener {
  private val stages = mutable.LinkedHashMap.empty[Int, StageStats]
  private val jobSubmitMs = mutable.ArrayBuffer.empty[Long]

  private def stage(id: Int): StageStats = stages.getOrElseUpdate(id, new StageStats(id))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobSubmitMs += e.time }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val s = stage(e.stageInfo.stageId)
    s.submittedMs = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    s.name = e.stageInfo.name
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = stage(e.stageInfo.stageId)
    s.completedMs = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId)
    s.taskSeconds += e.taskInfo.duration / 1e3
    val m = e.taskMetrics
    if (m != null) {
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      s.diskSpillBytes += m.diskBytesSpilled
      s.peakExecMemBytes = math.max(s.peakExecMemBytes, m.peakExecutionMemory)
    }
  }

  /** Completed stages submitted inside [fromMs, toMs], in submission order. */
  def stagesBetween(fromMs: Long, toMs: Long): Seq[StageStats] = synchronized {
    stages.values.filter(s => s.completedMs > 0 && s.submittedMs >= fromMs && s.submittedMs <= toMs)
      .toSeq.sortBy(s => (s.submittedMs, s.stageId))
  }

  def jobsBetween(fromMs: Long, toMs: Long): Int = synchronized {
    jobSubmitMs.count(t => t >= fromMs && t <= toMs)
  }
}

/** One recorded span: a layer call, or a Spark stage under one. */
final case class Rec(id: Int, name: String, parent: Int, startMs: Double, endMs: Double)

/** In-memory spans recorded around each layer call; written out at the end.
  * Times are epoch milliseconds (fractional) so they share a clock with
  * Spark's stage submission and completion times. */
final class Tracer {
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  val spans = mutable.ArrayBuffer.empty[Rec]
  private var open = List.empty[Int]

  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  def span[T](name: String)(body: => T): T = {
    val id = spans.size
    spans += Rec(id, name, open.headOption.getOrElse(-1), nowMs, Double.NaN)
    open = id :: open
    try body
    finally {
      open = open.tail
      spans(id) = spans(id).copy(endMs = nowMs)
    }
  }

  /** Add a finished child span (e.g. a Spark stage) under `parent`, clipped
    * to the parent's interval. */
  def addChild(parent: Int, name: String, startMs: Long, endMs: Long): Unit = {
    val p = spans(parent)
    val s = math.max(startMs.toDouble, p.startMs)
    val e = math.min(math.max(endMs.toDouble, s), p.endMs)
    spans += Rec(spans.size, name, parent, s, e)
  }

  /** The spans with their self times, for the result file. */
  def records(selfMs: Map[Int, Double]): Seq[Map[String, Any]] =
    spans.toSeq.map(r => Map("id" -> r.id, "name" -> r.name, "parent" -> r.parent,
      "start_ms" -> r.startMs, "end_ms" -> r.endMs, "self_ms" -> selfMs.getOrElse(r.id, 0.0)))

  def depth(r: Rec): Int = if (r.parent < 0) 0 else 1 + depth(spans(r.parent))

  /** Self time per span id: each instant inside `root` is charged to the
    * deepest span open at that instant (the latest-started on a tie), so
    * the self times under `root` add up to its duration exactly. */
  def selfMs(root: Int): Map[Int, Double] = {
    def under(r: Rec): Boolean = r.id == root || (r.parent >= 0 && under(spans(r.parent)))
    val rs = spans.filter(under).toSeq
    val cuts = rs.flatMap(r => Seq(r.startMs, r.endMs)).distinct.sorted
    val self = mutable.Map.empty[Int, Double].withDefaultValue(0.0)
    cuts.sliding(2).foreach {
      case Seq(a, b) if b > a =>
        val mid = (a + b) / 2
        val active = rs.filter(r => r.startMs <= mid && r.endMs >= mid)
        if (active.nonEmpty) {
          val owner = active.maxBy(r => (depth(r), r.startMs))
          self(owner.id) += b - a
        }
      case _ =>
    }
    self.toMap
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Minimal JSON writer for the harness's result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
