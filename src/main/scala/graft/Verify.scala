package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** The query filter (unset on the driver): comma-separated name
    * substrings from SPARK_GRAFT_ONLY. */
  private[graft] def onlyFilter: Option[Seq[String]] =
    sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)

  /** Dump every selected query's result for ONE corpus dir plus the
    * oracle_sql.json the DuckDB compare replays — shared by the driver's
    * full-testdata run (main below) and the fuzz harness
    * ([[FuzzVerify]]), so both verify the EXACT production query surface. */
  private[graft] def dump(spark: SparkSession, sfDir: String, outDir: String,
      only: Option[Seq[String]]): Unit = {
    new java.io.File(outDir).mkdirs()
    val selected = SparkEntry.queries.filter { case (name, _) =>
      only.forall(_.exists(name.contains)) }
    // Loud subset guard: if the filter leaks into a driver/CI run, the
    // output dir must not masquerade as a full verification.
    only.foreach { f =>
      System.err.println(s"[verify] WARNING: SPARK_GRAFT_ONLY=${f.mkString(",")} " +
        s"— running ${selected.size}/${SparkEntry.queries.size} queries (SUBSET run)")
      Files.writeString(Paths.get(s"$outDir/_SUBSET_FILTER"),
        s"SPARK_GRAFT_ONLY=${f.mkString(",")} selected=${selected.size}/${SparkEntry.queries.size}\n")
    }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // Loud failure: leave a marker dir so the driver's compare records a
        // red `err` row for this query instead of silently omitting it (the
        // round-9 NTZ regression was invisible in CORRECTNESS because thrown
        // queries just vanished from the output dir).
        // The marker write itself must never abort the loop: if the query
        // failed because the output volume is sick (ENOSPC, read-only),
        // this write fails the same way and would otherwise kill every
        // remaining query — recreating the invisible-failure mode the
        // marker exists to prevent.
        try {
          val d = Paths.get(s"$outDir/$name")
          Files.createDirectories(d)
          Files.writeString(d.resolve("_FAILED"),
            s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(4000)}\n")
        } catch { case m: Throwable =>
          System.err.println(s"[verify] $name marker write failed too: ${m.getMessage}")
        }
      }
      // release per-query persisted intermediates — no cached-block leaks
      spark.sharedState.cacheManager.clearCache()
    }
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
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }

  /** The one session every measurement and correctness main shares
    * (Bench, Verify, FuzzVerify, PlanDump), so timings, plans and dumps
    * all come from the same engine configuration:
    * `local[SPARK_GRAFT_CPUS]` (default: the JVM's available processors),
    * shuffle partitions from SPARK_GRAFT_SHUFFLE_PARTITIONS (default: the
    * core count), UTC, UI off, a 64 MB broadcast threshold. */
  private[graft] def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    // SPARK_GRAFT_SHUFFLE_PARTITIONS decouples shuffle width from thread
    // count for scale drills: at sf1.0+ the honest cluster analogue scales
    // partitions with the data (a real deployment sizes
    // spark.sql.shuffle.partitions to the stage volume, not the box).
    val shufflePartitions =
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.autoBroadcastJoinThreshold", 64 * 1024 * 1024)
      // Driver-housekeeping caps: the UI is disabled, but the status
      // stores still retain 1000 SQL executions' full plan graphs +
      // per-node metrics and up to 100k task wrappers — across a many-query
      // run that live set grows until GC dominates: measured on q156 alone
      // (1 JVM, 7 runs, 8 g heap) wall 7.5→13.9 s RISING with GC 0.4→4.0 s
      // under the defaults, vs a flat 3.7–4.4 s with GC ~0.1 s capped.
      // Scale-neutral: these stores serve only the (disabled) UI/REST.
      .config("spark.sql.ui.retainedExecutions", "8")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "200")
      .config("spark.ui.retainedTasks", "2000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.expr.GraftFunctions.ensureRegistered(spark)
    spark
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = session()
    dump(spark, sfDir, outDir, onlyFilter)
    spark.stop()
  }
}

/** Fuzz-verification entry: replay the (filtered) query surface over EVERY
  * corpus under `<corporaRoot>/<name>/` into `<outRoot>/<name>/` in one
  * JVM — the fixed-testdata gate cannot catch data-shape-conditional
  * divergence, so tools/fuzz_diff.py generates randomized corpora (sizes,
  * unicode planes, whitespace/empty skew, duplicate rates) and DuckDB-
  * compares each dump with the same oracle_check.py the driver runs. */
object FuzzVerify {
  def main(args: Array[String]): Unit = {
    val Array(corporaRoot, outRoot) = args
    val spark = Verify.session()
    val dirs = new java.io.File(corporaRoot).listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    require(dirs.nonEmpty, s"no corpus dirs under $corporaRoot")
    dirs.foreach { name =>
      // per-corpus rotation: the generator writes _queries.txt (comma-
      // separated full names) so each corpus replays ITS subset; the
      // SPARK_GRAFT_ONLY env is the fallback for ad-hoc runs
      val qfile = Paths.get(s"$corporaRoot/$name/_queries.txt")
      val filter =
        if (Files.exists(qfile))
          Some(Files.readString(qfile).trim.split(",").toSeq)
        else Verify.onlyFilter
      System.err.println(s"[fuzz-verify] corpus $name " +
        s"(${filter.map(_.size.toString).getOrElse("all")} queries)")
      Verify.dump(spark, s"$corporaRoot/$name", s"$outRoot/$name", filter)
    }
    spark.stop()
  }
}
