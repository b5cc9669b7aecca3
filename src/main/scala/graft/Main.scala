package graft

import graft.model.{DependencyLink, Span}
import graft.pipeline.{Admission, LinkJob}
import org.apache.spark.sql.{Dataset, SparkSession}

/** Env-level config parity with the reference launcher
  * (main/.../ZipkinDependenciesJob.java:21-87), resolved as pure data so
  * MainSpec can pin the dispatch rules:
  *  - STORAGE_TYPE selects the backend profile — the input format + admission
  *    semantics each reference backend hardcodes (cassandra3 → root-in-window
  *    over span documents; mysql → per-span window over the two v1 tables;
  *    elasticsearch → daily-index admission over the live sliced-scroll
  *    source). Explicit --format/--admission flags override the profile.
  *  - SPARK_CONF is a comma-separated k=v list applied to the SparkSession
  *    (reference :34-43 — pairs without exactly one '=' are skipped).
  *  - GRAFT_LOG_LEVEL mirrors ZIPKIN_LOG_LEVEL (:29-32).
  *  - STRICT_TRACE_ID (CassandraDependenciesJob.java:65) and SPARK_MASTER
  *    (:59) resolve env-side with CLI flags winning; strict defaults TRUE
  *    under a backend profile (the reference's cron default) and stays the
  *    opt-in flag in file mode.
  *  - MYSQL_HOST / MYSQL_TCP_PORT / MYSQL_DB (+ MYSQL_USER / MYSQL_PASS,
  *    MYSQL_USE_SSL, MYSQL_MAX_CONNECTIONS) build the mysql profile's JDBC
  *    URL when --jdbc-url is absent (MySQLDependenciesJob.java:42-48,
  *    150-155); GRAFT_JDBC_URL / GRAFT_JDBC_DIALECT are the engine's
  *    escape hatch for ANSI stores the standard dialect supports.
  *  - day defaults to today UTC when absent ("runs with defaults, starting
  *    today" — :22-23). */
object MainConfig {
  final case class Resolved(
      day: String, format: String, admission: Admission, strict: Boolean,
      sparkConf: Seq[(String, String)], logLevel: String,
      master: String = "local[4]", outFormat: String = "parquet")

  /** The span sources `--format` selects; `Main.dispatch` has one case each. */
  val formats: Seq[String] = Seq(
    "json-v2", "csv", "v1-rows", "v1-tables", "v1-jdbc", "es-scroll", "c3-span-table", "c3-cql")

  /** The codecs `--out-format` selects for the day-partitioned link table. */
  val outFormats: Seq[String] = Seq("parquet", "orc", "json", "csv")

  private def oneOf(flag: String, value: String, valid: Seq[String]): Either[String, String] =
    if (valid.contains(value)) Right(value)
    else Left(s"unknown --$flag $value (${valid.mkString("|")})")

  /** The reference's MySQL JDBC URL, built from its env surface
    * (MySQLDependenciesJob.java:42-48 defaults, :150-155 URL shape):
    * MYSQL_HOST (localhost) / MYSQL_TCP_PORT (3306) / MYSQL_DB (zipkin) /
    * MYSQL_USE_SSL (false). Pure so MainSpec pins the exact string. */
  def mysqlJdbcUrl(env: Map[String, String]): String = {
    val host = env.getOrElse("MYSQL_HOST", "localhost")
    val port = env.getOrElse("MYSQL_TCP_PORT", "3306")
    val db = env.getOrElse("MYSQL_DB", "zipkin")
    val ssl = env.get("MYSQL_USE_SSL").exists(_.equalsIgnoreCase("true"))
    s"jdbc:mysql://$host:$port/$db?permitMysqlScheme&autoReconnect=true&useSSL=$ssl"
  }

  /** JDBC URL resolution for the mysql profile: explicit `--jdbc-url`,
    * else GRAFT_JDBC_URL (the engine's escape hatch for non-MySQL SQL
    * stores — the Derby-backed specs and any ANSI store the standard
    * dialect supports), else the reference's MYSQL_* URL when any of that
    * surface is present. None → the fixture two-table path stays. */
  def jdbcUrl(opts: Map[String, String], env: Map[String, String]): Option[String] =
    opts.get("jdbc-url")
      .orElse(env.get("GRAFT_JDBC_URL"))
      .orElse(
        if (Seq("MYSQL_HOST", "MYSQL_TCP_PORT", "MYSQL_DB").exists(env.contains))
          Some(mysqlJdbcUrl(env))
        else None)

  /** format + admission each STORAGE_TYPE implies in the reference.
    * elasticsearch maps to the LIVE sliced-scroll source (hosts from
    * ES_HOSTS, default 127.0.0.1) and cassandra3 to the LIVE token-range
    * CQL source (contact points from CASSANDRA_CONTACT_POINTS) so the
    * env-only periodic invocation — `STORAGE_TYPE=… bin/graft-today` —
    * reads a real cluster exactly like the reference's docker entrypoint;
    * a file-backed run stays one explicit `--format json-v2 --in …` (or
    * `--format c3-span-table`) away. */
  val storageProfiles: Map[String, (String, String)] = Map(
    "cassandra3" -> (("c3-cql", "root-in-window")),
    "mysql" -> (("v1-tables", "per-span-window")),
    "elasticsearch" -> (("es-scroll", "index-day")))

  /** Reference parse: split(",", -1) then split("=", -1), keep len==2. */
  def parseSparkConf(raw: String): Seq[(String, String)] =
    if (raw == null || !raw.contains("=")) Nil
    else raw.split(",", -1).toSeq.flatMap { pair =>
      pair.split("=", -1) match {
        case Array(k, v) => Some(k -> v)
        case _ => None
      }
    }

  /** `--backfill from..to` (inclusive, yyyy-MM-dd both sides) → the day
    * list to run, oldest first. The reference achieves backfills by
    * re-invoking its cron entrypoint once per day (the docker/periodic
    * hourly+daily entrypoints); because the sink is an idempotent
    * day-partition overwrite, running the same window twice is safe. Capped at 400 days — a fat-fingered year
    * range should fail loudly, not launch 10k Spark jobs. */
  def parseBackfill(raw: String): Either[String, Seq[String]] =
    raw.split("\\.\\.", -1) match {
      case Array(from, to) =>
        try {
          val (f, t) = (java.time.LocalDate.parse(from), java.time.LocalDate.parse(to))
          if (t.isBefore(f)) Left(s"--backfill end $to precedes start $from")
          else {
            val n = java.time.temporal.ChronoUnit.DAYS.between(f, t) + 1
            if (n > 400) Left(s"--backfill spans $n days (max 400)")
            else Right((0L until n).map(i => f.plusDays(i).toString))
          }
        } catch {
          case _: java.time.format.DateTimeParseException =>
            Left(s"--backfill must be yyyy-MM-dd..yyyy-MM-dd, got: $raw")
        }
      case _ => Left(s"--backfill must be yyyy-MM-dd..yyyy-MM-dd, got: $raw")
    }

  def admissionOf(name: String): Either[String, Admission] = name match {
    case "index-day" => Right(Admission.IndexDay)
    case "per-span-window" => Right(Admission.PerSpanWindow)
    case "root-in-window" => Right(Admission.RootInWindow)
    case other => Left(s"unknown admission '$other' (index-day|per-span-window|root-in-window)")
  }

  /** `--stream` reads JSON v2 files and appends parquet deltas for whatever
    * days its input holds, so another input format, or a flag it would
    * ignore (`--out-format`, `--backfill`, `--day`), is an error, not a
    * silent no-op. */
  private def streamConflict(opts: Map[String, String], format: String): Either[String, Unit] =
    if (!opts.contains("stream")) Right(())
    else if (format != "json-v2") Left(s"--stream reads json-v2 only, not --format $format")
    else Seq("out-format", "backfill", "day").find(opts.contains)
      .map(flag => s"--stream does not take --$flag").toLeft(())

  def resolve(opts: Map[String, String], env: Map[String, String],
      todayUtc: String): Either[String, Resolved] = {
    val profile = env.get("STORAGE_TYPE") match {
      case Some(st) => storageProfiles.get(st).toRight(
        s"Unsupported STORAGE_TYPE: $st\nOptions are: ${storageProfiles.keys.toSeq.sorted.mkString(", ")}")
      case None => Right(("json-v2", "index-day"))
    }
    for {
      p <- profile
      day = opts.getOrElse("day", todayUtc)
      _ <- (try { java.time.LocalDate.parse(day); Right(()) }
        catch { case _: java.time.format.DateTimeParseException =>
          Left(s"--day must be yyyy-MM-dd, got: $day") })
      admission <- admissionOf(opts.getOrElse("admission", p._2))
      format <- oneOf("format", opts.getOrElse("format", p._1), formats)
      outFormat <- oneOf("out-format", opts.getOrElse("out-format", "parquet"), outFormats)
      _ <- streamConflict(opts, format)
    } yield Resolved(
      day = day,
      format = format,
      admission = admission,
      // STRICT_TRACE_ID parity (CassandraDependenciesJob.java:65): the
      // reference's env-only cron defaults to strict=TRUE, so a backend
      // profile run (STORAGE_TYPE set) inherits that default; the
      // file-mode CLI keeps its documented opt-in --strict-trace-id
      // (default false). Precedence: CLI flag > STRICT_TRACE_ID env >
      // mode default.
      strict =
        if (opts.contains("strict-trace-id")) true
        else env.get("STRICT_TRACE_ID") match {
          case Some(v) => v.equalsIgnoreCase("true")
          case None => env.contains("STORAGE_TYPE")
        },
      sparkConf = parseSparkConf(env.getOrElse("SPARK_CONF", "")),
      logLevel = env.getOrElse("GRAFT_LOG_LEVEL", "WARN"),
      // SPARK_MASTER parity (CassandraDependenciesJob.java:59): CLI
      // --master > SPARK_MASTER env > local[SPARK_GRAFT_CPUS|4]. The
      // reference defaults to local[*]; the engine's default stays the
      // CPU-pinned local so the test/driver budget is explicit.
      master = opts.getOrElse("master", env.getOrElse("SPARK_MASTER",
        s"local[${env.getOrElse("SPARK_GRAFT_CPUS", "4")}]")),
      outFormat = outFormat)
  }
}

/** CLI for the dependency-link job (the reference's main() analogue —
  * main/.../ZipkinDependenciesJob.java:21-87, re-expressed as explicit flags
  * instead of env vars):
  *
  *   runMain graft.Main --day 2025-08-11 --in spans.jsonl --out /path/links \
  *     [--backfill yyyy-MM-dd..yyyy-MM-dd] \
  *     [--admission index-day|per-span-window|root-in-window] \
  *     [--strict-trace-id] [--master local[N]] \
  *     [--format <one of MainConfig.formats>] [--out-format parquet|orc|json|csv] \
  *     [--es-bulk] [--cql-write] [--jdbc-write] [--stream]
  *
  * Every format is a source that yields the day's `Dataset[Span]`; one
  * `LinkJob.runDay` links, counts and writes it, and the requested
  * write-backs run when the day has links. --backfill runs the same per-day
  * job for every day of the inclusive range (oldest first) — the
  * reference's cron re-run model as one command; day-partition overwrite
  * makes each day idempotent.
  *
  * --format v1-rows reads a parquet of tall Zipkin v1 annotation rows (the
  * MySQL-path input shape, SURVEY §2.2) and reconstructs spans via
  * conditional aggregation before linking. --format v1-tables reads the two
  * raw v1 tables (--in-spans, --in-annotations parquet of zipkin_spans /
  * zipkin_annotations shape) and performs the reference's pushdown join in
  * Spark before the same fold (M1). --stream runs the Structured
  * Streaming session-gap pipeline over the input with an available-now
  * trigger (file source), writing link deltas.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = parseArgs(args)
    val resolved = MainConfig.resolve(opts, sys.env,
      java.time.LocalDate.now(java.time.ZoneOffset.UTC).toString) match {
      case Right(r) => r
      case Left(err) => System.err.println(s"$err\n$usage"); sys.exit(2)
    }
    val builder = SparkSession.builder()
      .master(resolved.master)
      .appName("graft-link-job")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    resolved.sparkConf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel(resolved.logLevel)
    try dispatch(spark, opts, resolved)
    finally spark.stop()
  }

  /** Env-only write-back: the reference's cron jobs always save links to
    * the storage they read with zero flags; `GRAFT_WRITE_BACK=1` (or true)
    * recovers that — it enables the backend write flag matching
    * STORAGE_TYPE, so `STORAGE_TYPE=cassandra3 GRAFT_WRITE_BACK=1
    * bin/graft-today` is the reference's exact loop; mysql resolves its URL
    * env-only too (MYSQL_HOST/MYSQL_TCP_PORT/MYSQL_DB via
    * MainConfig.jdbcUrl). Pure so MainSpec can pin the mapping without
    * mutating the process env. */
  private[graft] def writeBackFlags(env: Map[String, String]): Map[String, String] = {
    val on = env.get("GRAFT_WRITE_BACK").exists(v => v == "1" || v.equalsIgnoreCase("true"))
    if (!on) Map.empty
    else env.get("STORAGE_TYPE") match {
      case Some("elasticsearch") => Map("es-bulk" -> "true")
      case Some("cassandra3") => Map("cql-write" -> "true")
      case Some("mysql") => Map("jdbc-write" -> "true")
      case _ => Map.empty
    }
  }

  /** Full post-session CLI dispatch (source choice, admission, sinks,
    * backfill) — separated from main so MainSpec can drive a backend
    * profile end-to-end against the shared test session; main owns and
    * stops its own session, which a test must never do. `env` defaults to
    * the process env in main's call; tests and embedders pass their own
    * map, so dispatch behavior never depends on a stray variable in the
    * host environment (the GRAFT_WRITE_BACK hazard). */
  private[graft] def dispatch(spark: SparkSession, rawOpts: Map[String, String],
      resolved: MainConfig.Resolved, env: Map[String, String] = sys.env): Unit = {
    val opts = writeBackFlags(env) ++ rawOpts
    def req(k: String): String = opts.getOrElse(k,
      { System.err.println(s"missing required --$k\n$usage"); sys.exit(2) })
    if (opts.contains("stream"))
      runStreaming(spark, req("in"), req("out"),
        opts.getOrElse("gap-minutes", "10").toInt, resolved.strict)
    else {
      val days = opts.get("backfill") match {
        case Some(range) => MainConfig.parseBackfill(range) match {
          case Right(ds) => ds
          case Left(err) => System.err.println(s"$err\n$usage"); sys.exit(2)
        }
        case None => Seq(resolved.day)
      }
      // The ES and Cassandra env surfaces with their CLI overrides; a run's
      // read and its write-back resolve their transports from the same config.
      val esm = esEnv(opts, env)
      lazy val c3Config = graft.sources.CassandraV3Source.fromEnv(
        env ++ opts.get("c3-contact-points").map("CASSANDRA_CONTACT_POINTS" -> _),
        numRanges = opts.getOrElse("c3-ranges", "32").toInt)
      // STORAGE_TYPE=mysql upgrades the fixture two-table read to the live
      // partitioned-JDBC source (same fold + linker) whenever a JDBC URL
      // resolves — from --jdbc-url, GRAFT_JDBC_URL, or the reference's
      // MYSQL_* env surface — so the env-only docker entrypoint
      // (`STORAGE_TYPE=mysql bin/graft-today`) reads the live store with zero
      // flags, like the reference.
      val jdbcUrl = MainConfig.jdbcUrl(opts, env)
      val format =
        if (resolved.format == "v1-tables" && jdbcUrl.isDefined) "v1-jdbc" else resolved.format

      def spansOf(day: String): Dataset[Span] = {
        val (lo, hi) = LinkJob.dayWindowMicros(day)
        format match {
          case "json-v2" => LinkJob.readJsonV2(spark, req("in"))
          case "csv" => LinkJob.readCsvSpans(spark, req("in"))
          // the v1 folds apply the day window at the scan, so PerSpanWindow
          // (the mysql profile default) is a no-op after them; an explicit
          // --admission root-in-window still takes effect
          case "v1-rows" =>
            graft.codec.V1SpanFold.foldWindow(spark.read.parquet(req("in")), lo, hi)
          case "v1-tables" => // M1: zipkin_spans ⟕ zipkin_annotations
            graft.codec.V1SpanFold.fromV1Tables(spark.read.parquet(req("in-spans")),
              spark.read.parquet(req("in-annotations")), lo, hi)
          case "v1-jdbc" =>
            // live v1 SQL store via partitioned JDBC (fixes the reference's
            // single-connection read — see JdbcV1Source)
            val cfg = graft.sources.JdbcV1Config.fromEnv(
              url = jdbcUrl.getOrElse(req("jdbc-url")),
              numPartitions = opts.getOrElse("jdbc-partitions",
                env.getOrElse("SPARK_GRAFT_CPUS", "4")).toInt,
              env = env).copy(
              spansTable = opts.getOrElse("jdbc-spans-table", "zipkin_spans"),
              annotationsTable = opts.getOrElse("jdbc-annotations-table", "zipkin_annotations"))
            graft.sources.JdbcV1Source.spansWindow(spark, cfg, lo, hi)
          case "es-scroll" =>
            // live ES/OS daily-index read via sliced scroll over the JDK
            // transport (missing index => empty day, like the reference)
            graft.sources.EsSpanSource.readDay(spark,
              graft.sources.EsSpanSource.ScrollConfig(graft.util.EsFlavor.esConf(esm),
                slices = opts.getOrElse("es-slices", env.getOrElse("SPARK_GRAFT_CPUS", "4")).toInt,
                dateSeparator = esm.getOrElse("ES_DATE_SEPARATOR", "-")),
              day)
          case "c3-span-table" =>
            // Cassandra-v3-shaped token-range source (fixture-backed
            // transport; ring split + decode are the real thing)
            graft.sources.CassandraV3Source.spans(spark, req("in"), c3Config)
          case "c3-cql" =>
            // LIVE Cassandra read over the in-house CQL v4 client: one token
            // range per task, contact points / keyspace / creds from the
            // reference's CASSANDRA_* env surface
            graft.sources.CassandraV3Source.liveSpans(spark, c3Config)
          case other => throw new IllegalArgumentException(
            s"unknown --format $other (${MainConfig.formats.mkString("|")})")
        }
      }

      // The requested write-backs, each saving a day's links to a live store
      // besides the `--out` table; each is an idempotent upsert, so re-running
      // a day is safe.
      def writeBack(flag: String, links: Dataset[DependencyLink], day: String): Unit = flag match {
        case "es-bulk" =>
          // ES/OS bulk upsert, id=parent|child (ElasticsearchDependenciesJob
          // .java:198-221); hosts / index / creds from ES_HOSTS, ES_INDEX,
          // ES_USERNAME, ES_PASSWORD, ES_DATE_SEPARATOR
          graft.sinks.EsBulkSink.writeLinks(links, day, graft.util.EsFlavor.esConf(esm),
            dateSeparator = esm.getOrElse("ES_DATE_SEPARATOR", "-"))
        case "cql-write" =>
          // INSERT day,parent,child,calls[,errors] into the Cassandra
          // `dependency` table (CassandraDependenciesJob.java:193-209)
          graft.sinks.CqlLinkSink.writeLinks(links, day, c3Config)
        case "jdbc-write" =>
          // the reference's REPLACE INTO zipkin_dependencies
          // (MySQLDependenciesJob.java:241-255), distributed per partition;
          // --jdbc-dialect (or GRAFT_JDBC_DIALECT) standard swaps REPLACE for
          // the ANSI delete-day-then-insert
          graft.sinks.JdbcLinkSink.writeLinks(links, day, jdbcUrl.getOrElse(req("jdbc-url")),
            properties = Seq(
              env.get("MYSQL_USER").map("user" -> _),
              env.get("MYSQL_PASS").map("password" -> _)).flatten.toMap,
            dialect = opts.getOrElse("jdbc-dialect", env.getOrElse("GRAFT_JDBC_DIALECT", "mysql")))
      }
      val writeBacks = Seq("es-bulk", "cql-write", "jdbc-write").filter(opts.contains)

      days.foreach { d =>
        val (links, n) = LinkJob.runDay(spansOf(d), d, req("out"),
          resolved.admission, resolved.strict, resolved.outFormat)
        if (n > 0) writeBacks.foreach(writeBack(_, links, d))
        else if (writeBacks.nonEmpty)
          println(s"day=$d no links; skipping ${writeBacks.map("--" + _).mkString(" ")}")
        println(s"day=$d links=$n out=${req("out")}")
        links.orderBy("parent", "child").show(100, truncate = false)
        links.unpersist()
      }
    }
  }

  /** The ES env surface with CLI overrides folded in: `--es-hosts` wins over
    * ES_HOSTS and `--es-timeout` (millis) over ES_TIMEOUT — both the scroll
    * source and the bulk sink resolve their EsConf from this one map, so a
    * flag reaches every transport the run constructs. */
  private[graft] def esEnv(opts: Map[String, String],
      env: Map[String, String]): Map[String, String] =
    env ++ opts.get("es-hosts").map("ES_HOSTS" -> _) ++
      opts.get("es-timeout").map("ES_TIMEOUT" -> _)

  /** `--stream`: the session-gap pipeline over the JSON v2 files under `in`,
    * appending link deltas to `out`. The checkpoint lives at
    * `out/_checkpoint` (the `_` prefix hides it from readers): the file sink
    * skips every batch id its `_spark_metadata` log already holds, so a
    * fresh checkpoint per run would restart at batch 0 and the sink would
    * drop a re-run's new input. */
  private def runStreaming(spark: SparkSession, in: String, out: String,
      gapMinutes: Int, strict: Boolean): Unit = {
    val spans = LinkJob.fromJsonV2Shape(
      spark.readStream.schema(Span.jsonV2Schema).json(in))
    val query = graft.streaming.StreamingLinkJob.linkStream(spans, gapMinutes, strict)
      .writeStream
      .format("parquet").option("path", out)
      .option("checkpointLocation", s"$out/_checkpoint")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    query.awaitTermination()
    val n = spark.read.parquet(out).count()
    println(s"stream done deltas=$n out=$out")
  }

  private val usage =
    "usage: graft.Main --day yyyy-MM-dd --out <links path> " +
      "[--in <spans path> | --in-spans <path> --in-annotations <path>] " +
      s"[--format ${MainConfig.formats.mkString("|")}] " +
      s"[--out-format ${MainConfig.outFormats.mkString("|")}] " +
      "[--backfill yyyy-MM-dd..yyyy-MM-dd] " +
      "[--admission index-day|per-span-window|root-in-window] [--strict-trace-id] [--master local[N]] " +
      "[--es-bulk [--es-hosts http://h1:9200,h2] [--es-timeout ms]] " +
      "[--cql-write [--c3-contact-points h1:9042,h2]] " +
      "[--jdbc-write [--jdbc-dialect mysql|standard]] " +
      "[--stream [--gap-minutes N]]"

  private[graft] def parseArgs(args: Array[String]): Map[String, String] = {
    val flags = Set("strict-trace-id", "stream", "es-bulk", "cql-write", "jdbc-write")
    @annotation.tailrec
    def go(rest: List[String], acc: Map[String, String]): Map[String, String] = rest match {
      case Nil => acc
      case k :: tail if k.startsWith("--") && flags(k.drop(2)) => go(tail, acc + (k.drop(2) -> "true"))
      case k :: v :: tail if k.startsWith("--") => go(tail, acc + (k.drop(2) -> v))
      case other :: _ =>
        System.err.println(s"unexpected argument: $other\n$usage"); sys.exit(2)
    }
    go(args.toList, Map.empty)
  }
}
