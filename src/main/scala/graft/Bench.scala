package graft

import graft.ops.Graph.RoundDescriptionPrefix
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Benchmark main — writes the full metrics object to `BENCH.json` (the
  * artifact of record) and prints a COMPACT one-line JSON as the very last
  * stdout line for the driver's stdout scrape.
  *
  * Why two shapes: the driver keeps only a ~2000-char tail of stdout, and
  * the full object (75 queries × raw-run arrays) is several times that, so
  * the line's opening brace fell outside the tail every round and parsed as
  * null (r1–r6). The compact line carries per-query medians under short
  * `qNN` keys (~1.1 KB), printed after `spark.stop()` so nothing can
  * interleave; the full per-run detail lives in the artifact file.
  *
  * Methodology (round-5 bench hygiene + round-7 GC attribution):
  *  - Each query executes through `format("noop")` so the FULL physical plan
  *    runs (count() would let Catalyst drop sorts/projections and
  *    under-measure).
  *  - A warmup pass absorbs JVM/classloader/JIT costs per kernel family.
  *  - Each query then runs 1 + SPARK_GRAFT_BENCH_RUNS times (default 1+3)
  *    in this one JVM: the FIRST run is a DISCARD (it carries first-touch
  *    costs — plan-specific codegen compilation, JIT of the generated
  *    classes, file-metadata cache) and the per-query MEDIAN is taken over
  *    the remaining runs. All raw samples, discard included, are recorded
  *    in raw_runs for audit.
  *  - raw_gc_ms records the JVM GC time that elapsed DURING each run
  *    (collector-bean deltas), so a storage-pressure outlier — like r6's
  *    q48 3.3–17.5 s spread from accumulated checkpoint blocks — is
  *    attributable from the artifact alone.
  *  - A stage listener records, per run, the job and stage counts, shuffle
  *    read/write bytes, disk spill bytes and task GC time (`raw_jobs`,
  *    `raw_stages`, `raw_shuffle_read_bytes`, `raw_shuffle_write_bytes`,
  *    `raw_disk_spill_bytes`, `raw_task_gc_ms`), plus the top stages by
  *    wall time of each query's last run (`top_stages`). Jobs labelled
  *    "Graph.<loop> rN" by the loops [[graft.ops.Graph.iterate]] drives
  *    ([[graft.ops.Dedup.dupClusters]] among them) are summed by job wall
  *    time per round into `raw_graph_round_secs` (keyed "<loop> rN"), so a
  *    slow sample names the round that stalled.
  *  - `raw_canary_ms` times a fixed integer loop before each run: a
  *    host-noise reading that flags a capture taken on a busy box.
  *  - The cache manager is cleared and a System.gc() is forced between
  *    runs: persisted intermediates never subsidize the next measurement,
  *    and dropped checkpoint/broadcast references are actually cleaned by
  *    ContextCleaner between samples instead of mid-measurement.
  *  - A query that throws in any run is listed in `failed_queries` (its
  *    failed samples read -1) so the perf gate fails it instead of
  *    dropping it.
  *  - The artifact stamps its environment: `cpus`, `shuffle_partitions`,
  *    `max_heap_mb`, `spark_version`, `java_version`, and `git_head`
  *    (read from `.git` in the working directory; null outside a
  *    checkout).
  */
object Bench {
  private final case class StageRow(id: Int, name: String, tasks: Int,
    wallMs: Long, taskMs: Long, shufReadB: Long, shufWriteB: Long,
    spillB: Long, gcMs: Long)

  /** What the listener saw during one query run; `roundMs` is keyed by
    * round label: job description "Graph.pageRank r3" → "pageRank r3". */
  private final case class RunStats(jobs: Int, stages: Seq[StageRow],
    roundMs: Seq[(String, Long)])

  /** Collects job and stage events between two [[take]] calls. */
  private final class RunListener extends SparkListener {
    private var jobs = 0
    private val stages = Vector.newBuilder[StageRow]
    private val jobRound = scala.collection.mutable.Map.empty[Int, (String, Long)]
    private val roundMs = scala.collection.mutable.LinkedHashMap.empty[String, Long]

    override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
      jobs += 1
      Option(j.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
        .filter(_.startsWith(RoundDescriptionPrefix))
        .map(_.stripPrefix(RoundDescriptionPrefix))
        .foreach(round => jobRound(j.jobId) = (round, j.time))
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
      jobRound.remove(j.jobId).foreach { case (round, t0) =>
        roundMs(round) = roundMs.getOrElse(round, 0L) + (j.time - t0)
      }
    }
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = synchronized {
      val si = sc.stageInfo
      val m = si.taskMetrics
      val wall = (for { s <- si.submissionTime; c <- si.completionTime } yield c - s)
        .getOrElse(0L)
      stages += StageRow(si.stageId, si.name.take(60), si.numTasks, wall,
        m.executorRunTime, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled, m.jvmGCTime)
    }

    /** Everything seen since the previous call; resets the counters. */
    def take(): RunStats = synchronized {
      val out = RunStats(jobs, stages.result(), roundMs.toList)
      jobs = 0; stages.clear(); jobRound.clear(); roundMs.clear()
      out
    }
  }

  private final case class Sample(sec: Double, gcMs: Long, canaryMs: Double, stats: RunStats)

  @volatile private var canarySink = 0L

  /** Milliseconds for a fixed integer loop: a host-noise reading (perfbench's
    * canary at a third of the length, ~25 ms on a quiet 4-core box, since a
    * full capture takes ~800 of them). */
  private def canaryMs(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 10000000) {
      x = x * 6364136223846793005L + 1442695040888963407L
      x ^= x >>> 29
      i += 1
    }
    canarySink ^= x
    (System.nanoTime() - t0) / 1e6
  }

  /** The checked-out commit, read from `.git` in the working directory
    * without spawning `git`; None outside a checkout. */
  private def gitHead(): Option[String] = {
    import java.nio.file.{Files, Paths}
    def read(p: String) =
      new String(Files.readAllBytes(Paths.get(".git", p)), java.nio.charset.StandardCharsets.UTF_8)
    try {
      val head = read("HEAD").trim
      if (!head.startsWith("ref: ")) Some(head)
      else {
        val ref = head.stripPrefix("ref: ")
        if (Files.exists(Paths.get(".git", ref))) Some(read(ref).trim)
        else read("packed-refs").linesIterator
          .collectFirst { case l if l.endsWith(" " + ref) => l.takeWhile(_ != ' ') }
      }
    } catch { case _: java.io.IOException => None }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt.max(1)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/root/repo/BENCH.json")
    val spark = Verify.session()
    val listener = new RunListener
    spark.sparkContext.addSparkListener(listener)

    def gcMillis(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(b => math.max(b.getCollectionTime, 0L)).sum
    }

    // one run to the noop sink: (wall seconds, gc ms observed during the
    // run, listener totals); -1 seconds on failure
    def exec(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Sample = {
      val canary = canaryMs()
      listener.take()
      val gc0 = gcMillis()
      val t0 = System.nanoTime()
      val sec =
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          -1.0
        }
      val gcMs = if (sec < 0) -1L else gcMillis() - gc0
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      Sample(sec, gcMs, canary, listener.take())
    }

    // warmup: the flagship query plus one representative of each heavy
    // kernel family (LSH text sketching, embedding similarity, UDAF) —
    // absorbs JVM/classloader/JIT and filesystem metadata so measurements
    // reflect the warm engine rather than first-touch compilation of the
    // fused kernels (~+2-4s on whichever query runs one first)
    exec("warmup", (s, _) => SparkEntry.entry(s))
    exec("warmup", (s, _) => SparkEntry.entry(s))
    exec("warmup-lsh", (s, d) => graft.operators.NorthStarQueries.ngramNearDups(s, d))
    exec("warmup-emb", (s, d) => graft.operators.NorthStarQueries.embeddingTopK(s, d))
    exec("warmup-udaf", (s, d) => graft.operators.PipelineQueries.sourceOverlap(s, d))
    spark.sharedState.cacheManager.clearCache()

    def round3(v: Double): Double = math.round(v * 1000.0) / 1000.0

    // Loud subset guard (mirrors Verify): a leaked filter must not let a
    // partial capture pass for a full one — warn on stderr and stamp the
    // filter into the artifact (`"subset_filter"` key below).
    val only = Verify.onlyFilter
    val onlyFilter = only.map(_.mkString(","))
    onlyFilter.foreach { f =>
      System.err.println(s"[bench] WARNING: SPARK_GRAFT_ONLY=$f — SUBSET run, " +
        "totals are NOT comparable to full captures")
    }
    // 1 discard + runs measured samples per query, in name order; cache
    // cleared and a GC forced after every run so neither persisted blocks
    // nor deferred ContextCleaner work leaks into the next sample.
    val samples: Seq[(String, Seq[Sample])] =
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (name, _) => only.forall(_.exists(name.contains)) }
        .map { case (name, fn) =>
          val ts = (0 to runs).map { _ =>
            val s = exec(name, fn)
            spark.sharedState.cacheManager.clearCache()
            System.gc()
            s.copy(sec = round3(s.sec))
          }
          name -> ts
        }

    def median(ts: Seq[Double]): Double = {
      val ok = ts.filter(_ >= 0).sorted
      if (ok.isEmpty) -1.0
      else if (ok.size % 2 == 1) ok(ok.size / 2)
      else round3((ok(ok.size / 2 - 1) + ok(ok.size / 2)) / 2.0)
    }

    // anchored: "sf1." or a dir without an sf prefix must not fabricate an
    // invalid/zero JSON number — fall back to the quoted dir name instead
    // (escaped: a quote/backslash/control char in the path must not emit
    // invalid JSON)
    def jstr(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def obj(kvs: Iterable[(String, Any)]): String =
      kvs.map { case (k, v) => jstr(k) + ":" + v }.mkString("{", ",", "}")
    def arr(xs: Iterable[Any]): String = xs.mkString("[", ",", "]")
    def perRun(f: Sample => Any): String =
      obj(samples.map { case (k, ts) => k -> arr(ts.map(f)) })

    val medians = samples.map { case (name, ts) => name -> median(ts.tail.map(_.sec)) }
    val total = round3(medians.map(_._2).filter(_ >= 0).sum)
    val failed = samples.collect { case (k, ts) if ts.exists(_.sec < 0) => jstr(k) }
    val sfNum = """sf([0-9]+(?:\.[0-9]+)?)""".r.findFirstMatchIn(sfDir).map(_.group(1))
      .getOrElse(jstr(sfDir))
    val rawRounds = obj(samples.flatMap { case (k, ts) =>
      val objs = ts.map(_.stats.roundMs).filter(_.nonEmpty)
        .map(ps => obj(ps.map { case (l, ms) => l -> round3(ms / 1000.0) }))
      if (objs.isEmpty) None else Some(k -> arr(objs))
    })
    val topStages = obj(samples.map { case (k, ts) =>
      k -> arr(ts.last.stats.stages.sortBy(-_.wallMs).take(5).map { s =>
        obj(Seq("id" -> s.id, "name" -> jstr(s.name), "tasks" -> s.tasks,
          "wall_ms" -> s.wallMs, "task_ms" -> s.taskMs,
          "shuffle_read_bytes" -> s.shufReadB, "shuffle_write_bytes" -> s.shufWriteB,
          "disk_spill_bytes" -> s.spillB, "task_gc_ms" -> s.gcMs))
      })
    })
    def stageSum(f: StageRow => Long)(s: Sample): Long = s.stats.stages.map(f).sum
    val detail = obj(Seq(
      "metric" -> jstr("total_wall_sec"), "value" -> total, "unit" -> jstr("sec"),
      "queries" -> obj(medians), "sf" -> sfNum, "sf_dir" -> jstr(sfDir),
      "runs_per_query" -> runs,
      "aggregation" -> jstr("median_after_discarding_run1"),
      "raw_runs" -> perRun(_.sec), "raw_gc_ms" -> perRun(_.gcMs),
      "raw_graph_round_secs" -> rawRounds,
      "raw_canary_ms" -> perRun(s => round3(s.canaryMs))) ++
      onlyFilter.map(f => "subset_filter" -> jstr(f)) ++ Seq(
      "raw_jobs" -> perRun(_.stats.jobs),
      "raw_stages" -> perRun(_.stats.stages.size),
      "raw_shuffle_read_bytes" -> perRun(stageSum(_.shufReadB)),
      "raw_shuffle_write_bytes" -> perRun(stageSum(_.shufWriteB)),
      "raw_disk_spill_bytes" -> perRun(stageSum(_.spillB)),
      "raw_task_gc_ms" -> perRun(stageSum(_.gcMs)),
      "top_stages" -> topStages,
      "failed_queries" -> arr(failed),
      "cpus" -> spark.sparkContext.defaultParallelism,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "spark_version" -> jstr(spark.version),
      "java_version" -> jstr(System.getProperty("java.version")),
      "git_head" -> gitHead().map(jstr).getOrElse("null")))
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (detail + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable => System.err.println(s"[bench] write $outPath failed: ${e.getMessage}") }
    spark.stop()
    // the compact scrape line is the ONLY stdout line: short qNN keys keep
    // it ~1.1 KB so the whole object sits inside the driver's ~2000-char
    // stdout tail, and not printing the multi-KB detail line avoids the
    // fork-output flush race that truncated it mid-line in testing (the
    // full per-run detail is already in the artifact file)
    println(obj(Seq(
      "metric" -> jstr("total_wall_sec"), "value" -> total, "unit" -> jstr("sec"),
      "queries" -> obj(medians.map { case (k, v) => k.takeWhile(_ != '_') -> v }),
      "sf" -> sfNum, "runs_per_query" -> runs, "detail" -> jstr(outPath)) ++
      Option.when(onlyFilter.isDefined)("subset" -> true)))
  }
}
