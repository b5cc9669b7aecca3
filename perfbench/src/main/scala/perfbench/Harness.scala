package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.link.DependencyLinker
import graft.model.Span
import graft.pipeline.{Admission, LinkJob}
import org.apache.spark.sql.{Dataset, Row, SparkSession}

/** Benchmark harness JVM. Every measurement is taken from outside the
  * program: wall clocks around its public calls, Spark's listener bus, and
  * the JVM's management beans.
  *
  *   --mode day     link one generated day (readJsonV2 / fromJsonV2Shape ->
  *                  linkSpans -> writeLinks), timed as graft.Main runs it
  *   --mode graph   run graph-family queries of SparkEntry.queries to the
  *                  noop sink
  *
  * With `--trace 1` the run is split into layer calls recorded as spans,
  * with Spark stages attached as child spans, plus (day) a pure-JVM
  * DependencyLinker microbenchmark. Results go to `--result` as JSON.
  */
object Harness {
  val Ready = "PERFBENCH_READY"

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[${o("cores")}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", o("partitions"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      // the status store (kept even with the UI off) holds finished jobs,
      // stages and tasks on the heap and trims them in batches; small caps
      // keep that from stepping the live heap between runs
      .config("spark.sql.ui.retainedExecutions", "2")
      .config("spark.ui.retainedJobs", "10")
      .config("spark.ui.retainedStages", "20")
      .config("spark.ui.retainedTasks", "200")
      .config("spark.local.dir", o("work") + "/spark-local")
      .config("spark.sql.warehouse.dir", o("work") + "/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val t1 = System.nanoTime()
    graft.expr.GraftFunctions.ensureRegistered(spark)
    val t2 = System.nanoTime()
    // ready line: JVM uptime before main, session build, function registration
    val preMain = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3 -
      (t2 - t0) / 1e9
    println(s"$Ready $preMain ${(t1 - t0) / 1e9} ${(t2 - t1) / 1e9}")
    System.out.flush()

    val env = Map(
      "cores" -> spark.sparkContext.defaultParallelism,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions").toInt,
      "xmx_mb" -> Jvm.maxHeapMb,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"))
    val result: Map[String, Any] = o("mode") match {
      case "day" => new DayRun(spark, o).run()
      case "graph" => new GraphRun(spark, o).run()
    }
    spark.stop()
    write(o("result"), Json(Map("env" -> env) ++ result))
  }

  def write(path: String, text: String): Unit =
    Files.write(Paths.get(path), (text + "\n").getBytes(StandardCharsets.UTF_8))

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(treeBytes).sum).getOrElse(0L)
    else if (f.getName.endsWith(".crc")) 0L
    else f.length()
}

/** Shared sampling loop: each sample starts from an empty cache after a
  * forced GC, reads the host canary, then times `body`. */
abstract class Sampler(spark: SparkSession, o: Map[String, String]) {
  val work: String = o("work")
  val seconds: Double = o("seconds").toDouble
  val traced: Boolean = o("trace") == "1"
  val samples = mutable.ArrayBuffer.empty[Map[String, Any]]
  lazy val listener: StageListener = {
    val l = new StageListener
    spark.sparkContext.addSparkListener(l)
    l
  }

  /** Runs the measured body; afterwards `check(i)` dumps its output for the
    * correctness check (untimed). */
  def sample(kind: String)(body: => Unit)(check: Int => Unit): Map[String, Any] = {
    prepare()
    spark.catalog.clearCache()
    System.gc()
    val canary = Jvm.canaryMs()
    val cpu0 = Jvm.cpuJiffies()
    val gc0 = Jvm.gcSeconds()
    val t0 = System.nanoTime()
    var error: String = null
    try body
    catch { case e: Throwable => error = e.toString }
    val wall = (System.nanoTime() - t0) / 1e9
    val gc = Jvm.gcSeconds() - gc0
    val steal = Jvm.stealShare(cpu0, Jvm.cpuJiffies())
    val i = samples.size
    if (error == null) {
      try check(i)
      catch { case e: Throwable => error = "check: " + e.toString }
    }
    val s = Map("kind" -> kind, "wall_s" -> wall, "canary_ms" -> canary, "steal" -> steal,
      "gc_s" -> gc, "error" -> Option(error), "index" -> i)
    samples += s
    s
  }

  def prepare(): Unit = ()

  /** Three traced runs; the one with the median wall is reported. */
  def tracedRuns(run: => Map[String, Any]): Map[String, Any] = {
    val runs = (1 to 3).map(_ => run)
    val walls = runs.map(_("traced_wall_s").asInstanceOf[Double])
    Map("traced" -> runs.sortBy(_("traced_wall_s").asInstanceOf[Double]).apply(1),
      "traced_walls" -> walls)
  }

  /** The first (cold) run; one warm run under the live-heap sampler, which
    * is not timed (`memoryRun`, by default the same work); then timed warm
    * runs until `seconds` have passed (at least one). */
  def untracedRuns(body: => Unit, check: Int => Unit, gcPeriodMs: Long)(
      memoryRun: => Unit = body): Map[String, Any] = {
    sample("first")(body)(check)
    val jit = Jvm.jitSeconds()
    var liveHeap = 0.0
    sample("memory") { liveHeap = Jvm.peakLiveHeapMb(gcPeriodMs)(memoryRun) }(check)
    val t0 = System.nanoTime()
    var n = 0
    while (n < 1 || ((System.nanoTime() - t0) / 1e9 < seconds && n < 500)) {
      sample("warm")(body)(check)
      n += 1
    }
    Map("jit_s_after_first" -> jit, "live_heap_mb" -> liveHeap)
  }
}

final class DayRun(spark: SparkSession, o: Map[String, String]) extends Sampler(spark, o) {
  private val input = o("data") + "/" + o("input")
  private val json = o("format") == "json"
  private val day = o("day")
  private val cap = o("cap").toInt
  private val admission: Admission = o("admission") match {
    case "IndexDay" => Admission.IndexDay
    case "RootInWindow" => Admission.RootInWindow
  }
  private val out = work + "/links"
  private val dayDir = new File(s"$out/day=$day")

  private def read(): Dataset[Span] =
    if (json) LinkJob.readJsonV2(spark, input)
    else LinkJob.fromJsonV2Shape(spark.read.parquet(input))

  /** One day as graft.Main runs it: link, persist, write unless empty. */
  private def runDay(): Unit = {
    val links = LinkJob.linkSpans(read(), day, admission, strict = false, maxSpansPerTrace = cap)
      .persist()
    if (!links.isEmpty) LinkJob.writeLinks(links, day, out)
    links.unpersist()
  }

  override def prepare(): Unit = Harness.deleteTree(dayDir)

  /** Read the written day partition back and dump it as sorted TSV. */
  private def dumpLinks(i: Int): Unit = {
    val rows = spark.read.parquet(dayDir.getPath)
      .select("parent", "child", "callCount", "errorCount").collect()
      .map(r => s"${r.getString(0)}\t${r.getString(1)}\t${r.getLong(2)}\t${r.getLong(3)}")
      .sorted
    Harness.write(s"$work/links-$i.tsv", rows.mkString("\n"))
  }

  def run(): Map[String, Any] = {
    // the whale is held whole only while its island task sorts and caps it
    val base = untracedRuns(runDay(), dumpLinks, gcPeriodMs = 100)()
    if (!traced) return base ++ Map("samples" -> samples.toSeq)
    val inputRows =
      if (json) spark.read.text(input).count() else spark.read.parquet(input).count()
    base ++ tracedRuns(tracedDay()) ++
      Map("samples" -> samples.toSeq, "input_rows" -> inputRows, "linker" -> linkerMicrobench())
  }

  /** The traced day: read -> persist, admit, linkSpans -> persist, writeLinks,
    * each a span; the link phase's Spark stages become its child spans. */
  private def tracedDay(): Map[String, Any] = {
    val tr = new Tracer
    val lis = listener
    var spansOut, admitted, linksOut = 0L
    val s = sample("traced") {
      tr.span("run") {
        val spans = tr.span("read") { val d = read().persist(); spansOut = d.count(); d }
        val (lo, hi) = LinkJob.dayWindowMicros(day)
        admitted = tr.span("admit") { LinkJob.admit(spans, admission, lo, hi).count() }
        val links = tr.span("link") {
          val l = LinkJob.linkSpans(spans, day, admission, strict = false, maxSpansPerTrace = cap)
            .persist()
          linksOut = l.count()
          l
        }
        tr.span("sink") { LinkJob.writeLinks(links, day, out) }
        links.unpersist()
        spans.unpersist()
      }
    }(dumpLinks)
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    def rec(name: String) = tr.spans.find(_.name == name).get
    def stagesOf(name: String) = {
      val r = rec(name)
      lis.stagesBetween(math.floor(r.startMs).toLong, math.ceil(r.endMs).toLong)
    }
    // linkSpans runs as: trace-shuffle map stage, the flatMapGroups island
    // stage (reads the trace shuffle), then the link aggregation stages.
    val linkStages = stagesOf("link")
    val mapStage = linkStages.headOption
    val island = linkStages.drop(1).headOption
    val agg = linkStages.drop(2)
    val linkId = rec("link").id
    mapStage.foreach(st => tr.addChild(linkId, "shuffle", st.submittedMs, st.completedMs))
    island.foreach(st => tr.addChild(linkId, "island", st.submittedMs, st.completedMs))
    if (agg.nonEmpty)
      tr.addChild(linkId, "agg", agg.map(_.submittedMs).min, agg.map(_.completedMs).max)
    val self = tr.selfMs(rec("run").id)
    def selfOf(name: String) = tr.spans.filter(_.name == name).map(r => self.getOrElse(r.id, 0.0)).sum / 1e3
    val readS = (rec("read").endMs - rec("read").startMs) / 1e3
    val ms = Seq(mapStage, island).flatten ++ agg
    val layer = Map(
      "read.s" -> readS,
      "read.mb_per_s" -> (new File(input).length / 1e6 / readS),
      "read.spans_out" -> spansOut,
      "admit.spans_out" -> admitted,
      "shuffle.write_bytes_per_span" ->
        mapStage.map(_.shuffleWriteBytes.toDouble / math.max(1L, spansOut)).getOrElse(0.0),
      "shuffle.map_stage_s" -> mapStage.map(_.seconds).getOrElse(0.0),
      "shuffle.fetch_wait_s" -> island.map(_.fetchWaitMs / 1e3).getOrElse(0.0),
      "shuffle.spill_mb" -> (Seq(mapStage, island).flatten.map(_.diskSpillBytes).sum / 1048576.0),
      "island.stage_s" -> island.map(_.seconds).getOrElse(0.0),
      "island.max_task_s" -> island.map(_.maxTaskSeconds).getOrElse(0.0),
      "island.task_skew" -> island.map(st => st.maxTaskSeconds / math.max(1e-3, st.medianTaskSeconds))
        .getOrElse(0.0),
      "island.peak_exec_mem_mb" -> island.map(_.peakExecMemBytes / 1048576.0).getOrElse(0.0),
      "agg.stage_s" -> (if (agg.isEmpty) 0.0 else (agg.map(_.completedMs).max - agg.map(_.submittedMs).min) / 1e3),
      "agg.links_out" -> linksOut,
      "sink.s" -> (rec("sink").endMs - rec("sink").startMs) / 1e3,
      "sink.bytes" -> Harness.treeBytes(dayDir),
      "jvm.gc_s" -> s("gc_s"))
    val selfTimes = Seq("read", "admit", "shuffle", "island", "agg", "sink")
      .map(n => s"self.${n}_s" -> selfOf(n)).toMap +
      ("self.unattributed_s" -> (selfOf("run") + selfOf("link")))
    Map("traced_wall_s" -> (rec("run").endMs - rec("run").startMs) / 1e3,
      "layers" -> (layer ++ selfTimes),
      "stages" -> ms.map(st => Map("stage" -> st.stageId, "name" -> st.name, "s" -> st.seconds,
        "tasks" -> st.taskSeconds.size, "shuffle_write" -> st.shuffleWriteBytes,
        "shuffle_read" -> st.shuffleReadBytes)),
      "spans" -> tr.records(self))
  }

  /** Pure-JVM DependencyLinker.link over the day's traces, collected once
    * and bucketed by trace size; ns per span per bucket. */
  private def linkerMicrobench(): Map[String, Any] = {
    val traces = read().collect().groupBy(_.traceIdLow64).values.toSeq
    val buckets = Seq("le16" -> 16, "le256" -> 256, "le4k" -> 4096, "whale" -> Int.MaxValue)
    val byBucket = traces.groupBy(t => buckets.find(b => t.length <= b._2).get._1)
    var links = 0L
    traces.foreach(t => links += DependencyLinker.link(t).size) // warm-up, and the link count
    val ns = buckets.map { case (name, _) =>
      val ts = byBucket.getOrElse(name, Seq.empty)
      val spansPerPass = ts.map(_.length.toLong).sum
      var done = 0L
      val t0 = System.nanoTime()
      while (spansPerPass > 0 && (done == 0 || System.nanoTime() - t0 < 300000000L)) {
        ts.foreach(DependencyLinker.link(_))
        done += spansPerPass
      }
      s"linker.ns_per_span.$name" -> (if (done == 0) 0.0 else (System.nanoTime() - t0).toDouble / done)
    }.toMap
    ns ++ Map("linker.links_per_trace" -> links.toDouble / traces.size,
      "buckets" -> buckets.map(b => b._1 -> byBucket.get(b._1).map(_.size).getOrElse(0)).toMap)
  }
}

final class GraphRun(spark: SparkSession, o: Map[String, String]) extends Sampler(spark, o) {
  private val dir = o("data")
  private val names = o("queries").split(",").toSeq
  private val fns = names.map(n => n -> graft.SparkEntry.queries(n))

  private def runQuery(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit = {
    fn(spark, dir).write.format("noop").mode("overwrite").save()
    spark.catalog.clearCache()
  }

  private def runAll(): Unit = fns.foreach { case (_, fn) => runQuery(fn) }

  /** Collect each query once and dump its rows as JSON lines: the
    * workload's untimed memory run, which also feeds the oracle check. */
  private def dumpRows(): Unit = fns.foreach { case (name, fn) =>
    val df = fn(spark, dir)
    val cols = df.columns
    val lines = df.collect().map { r: Row =>
      Json(cols.indices.map(i => cols(i) -> (r.get(i) match {
        case d: java.math.BigDecimal => d.doubleValue
        case v => v
      })).toMap)
    }
    spark.catalog.clearCache()
    Harness.write(s"$work/rows-$name.jsonl", lines.mkString("\n"))
  }

  def run(): Map[String, Any] = {
    val base = untracedRuns(runAll(), _ => (), gcPeriodMs = 1000)(dumpRows())
    Harness.write(s"$work/oracle_sql.json",
      Json(names.map(n => n -> graft.SparkEntry.oracleSql.get(n)).toMap))
    if (!traced) return base ++ Map("samples" -> samples.toSeq)
    base ++ tracedRuns(tracedGraph()) ++ Map("samples" -> samples.toSeq)
  }

  private def tracedGraph(): Map[String, Any] = {
    val tr = new Tracer
    val lis = listener
    val s = sample("traced") {
      tr.span("run") { fns.foreach { case (name, fn) => tr.span(name) { runQuery(fn) } } }
    }(_ => ())
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val layer = mutable.LinkedHashMap.empty[String, Any]
    names.foreach { n =>
      val r = tr.spans.find(_.name == n).get
      val (a, b) = (math.floor(r.startMs).toLong, math.ceil(r.endMs).toLong)
      val st = lis.stagesBetween(a, b)
      layer(s"graph.$n.s") = (r.endMs - r.startMs) / 1e3
      layer(s"graph.$n.jobs") = lis.jobsBetween(a, b)
      layer(s"graph.$n.shuffle_mb") = st.map(_.shuffleWriteBytes).sum / 1048576.0
    }
    layer("jvm.gc_s") = s("gc_s")
    val root = tr.spans.find(_.name == "run").get
    val self = tr.selfMs(root.id)
    layer("self.unattributed_s") = self.getOrElse(root.id, 0.0) / 1e3
    Map("traced_wall_s" -> (root.endMs - root.startMs) / 1e3, "layers" -> layer,
      "spans" -> tr.records(self))
  }
}
