package graft

import graft.pipeline.Admission
import org.scalatest.funsuite.AnyFunSuite

/** Pins the env-level config surface (P20) against the reference launcher's
  * rules (ZipkinDependenciesJob.java:21-87). */
class MainSpec extends AnyFunSuite {
  private val today = "2026-08-12"
  private val fixture = getClass.getResource("/fixtures/spans_day.jsonl").getPath
  private val Day = "2025-08-11"

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def linkRows(df: org.apache.spark.sql.DataFrame): Seq[(String, String, Long, Long)] = {
    import df.sparkSession.implicits._
    df.select("parent", "child", "callCount", "errorCount")
      .as[(String, String, Long, Long)].collect().toSeq
  }

  /** The fixture day in each file shape `dispatch` reads, as (format, the
    * `--in*` flags, the same input read straight through the format's
    * reader). v1 rows carry each v2 span as its core annotations: the
    * kind's local/remote keys plus an `error` string tag. */
  private lazy val fileSources: Seq[(String, Seq[String],
      org.apache.spark.sql.SparkSession => org.apache.spark.sql.Dataset[graft.model.Span])] = {
    import org.apache.spark.sql.functions._
    import graft.pipeline.LinkJob
    import graft.codec.V1SpanFold
    val spark = graft.pipeline.SparkTestSession.get
    val v2 = spark.read.schema(graft.model.Span.jsonV2Schema).json(fixture)
      .where(col("traceId").isNotNull && col("id").isNotNull)
    val csvDir = tmp("dispatch-csv")
    v2.select(col("traceId"), col("parentId"), col("id"), col("kind"),
        col("timestamp"), col("duration"), col("shared"),
        col("localEndpoint.serviceName").as("localServiceName"),
        col("remoteEndpoint.serviceName").as("remoteServiceName"),
        element_at(col("tags"), "error").as("error"))
      .coalesce(1).write.mode("overwrite").option("header", "true").csv(csvDir)
    // a negative target base makes conv read the 64 bits as a signed long
    def signed64(hex: org.apache.spark.sql.Column) = conv(hex, 16, -10).cast("long")
    def hex64(c: String) = signed64(substring(col(c), -16, 16))
    val kind = col("kind")
    def ann(key: org.apache.spark.sql.Column, svc: String, aType: Int) =
      struct(key.as("a_key"), col(svc).as("endpoint_service_name"), lit(aType).as("a_type"))
    val rows = v2.select(
        when(length(col("traceId")) > 16, signed64(substring(col("traceId"), 1, 16)))
          .as("trace_id_high"),
        hex64("traceId").as("trace_id"), hex64("parentId").as("parent_id"),
        hex64("id").as("id"), col("timestamp").as("start_ts"),
        explode(array(
          ann(when(kind === "CLIENT", "cs").when(kind === "SERVER", "sr")
            .when(kind === "PRODUCER", "ms").when(kind === "CONSUMER", "mr")
            .otherwise("lc"), "localEndpoint.serviceName", -1),
          ann(when(kind === "CLIENT", "sa").when(kind === "SERVER", "ca")
            .when(kind.isin("PRODUCER", "CONSUMER"), "ma"), "remoteEndpoint.serviceName", -1),
          ann(when(map_contains_key(col("tags"), "error"), "error"),
            "localEndpoint.serviceName", 6))).as("a"))
      .where(col("a.a_key").isNotNull)
      .select(col("trace_id_high"), col("trace_id"), col("parent_id"), col("id"),
        col("a.a_key").as("a_key"), col("a.endpoint_service_name").as("endpoint_service_name"),
        col("a.a_type").as("a_type"), col("start_ts"))
    val rowsDir = tmp("dispatch-v1rows")
    rows.write.mode("overwrite").parquet(rowsDir)
    val spansDir = tmp("dispatch-v1spans")
    rows.select("trace_id", "parent_id", "id", "start_ts").distinct()
      .write.mode("overwrite").parquet(spansDir)
    val annosDir = tmp("dispatch-v1annos")
    rows.select(col("trace_id"), col("id").as("span_id"), col("a_key"),
        col("endpoint_service_name"), col("a_type"))
      .write.mode("overwrite").parquet(annosDir)
    val (lo, hi) = LinkJob.dayWindowMicros(Day)
    Seq(
      ("json-v2", Seq("--in", fixture), s => LinkJob.readJsonV2(s, fixture)),
      ("csv", Seq("--in", csvDir), s => LinkJob.readCsvSpans(s, csvDir)),
      ("v1-rows", Seq("--in", rowsDir),
        s => V1SpanFold.foldWindow(s.read.parquet(rowsDir), lo, hi)),
      ("v1-tables", Seq("--in-spans", spansDir, "--in-annotations", annosDir),
        s => V1SpanFold.fromV1Tables(s.read.parquet(spansDir), s.read.parquet(annosDir), lo, hi)))
  }

  /** Runs `dispatch` for one file format into a fresh `--out` and returns
    * the day partition it wrote next to `linkSpans` on the same input. */
  private def dispatchFormat(spark: org.apache.spark.sql.SparkSession, format: String)
      : (Set[(String, String, Long, Long)], Set[(String, String, Long, Long)]) = {
    import org.apache.spark.sql.functions.col
    val (_, inFlags, read) = fileSources.find(_._1 == format).get
    val out = tmp(s"dispatch-$format-out")
    val opts = Main.parseArgs((Seq("--day", Day, "--format", format,
      "--admission", "per-span-window", "--out", out) ++ inFlags).toArray)
    val resolved = MainConfig.resolve(opts, Map.empty, today).toOption.get
    Main.dispatch(spark, opts, resolved, Map.empty)
    val written = linkRows(spark.read.parquet(out).where(col("day") === Day)).toSet
    val expected = linkRows(graft.pipeline.LinkJob.linkSpans(
      read(spark), Day, Admission.PerSpanWindow).toDF()).toSet
    (written, expected)
  }

  Seq("json-v2", "csv", "v1-rows", "v1-tables").foreach { format =>
    test(s"dispatch --format $format writes the day's linkSpans result") {
      val (written, expected) = dispatchFormat(graft.pipeline.SparkTestSession.get, format)
      info(written.toSeq.sorted.mkString(" "))
      assert(written.nonEmpty)
      assert(written == expected)
    }
  }

  test("dispatch on an empty day writes no day partition and skips write-backs") {
    val spark = graft.pipeline.SparkTestSession.get
    // a missing day file is an empty day for json-v2 (the default) and csv
    Seq(Nil, Seq("--format", "csv")).foreach { format =>
      val out = s"${tmp("dispatch-empty")}/links"
      // the ES host is never contacted: the write-back is skipped for 0 links
      val opts = Main.parseArgs((Seq("--day", Day, "--in", s"$out-no-such-input",
        "--out", out, "--es-bulk", "--es-hosts", "http://127.0.0.1:1") ++ format).toArray)
      val resolved = MainConfig.resolve(opts, Map.empty, today).toOption.get
      val stdout = new java.io.ByteArrayOutputStream()
      Console.withOut(stdout)(Main.dispatch(spark, opts, resolved, Map.empty))
      val dir = new java.io.File(out)
      assert(!dir.exists || !dir.list().exists(_.startsWith("day=")))
      val printed = stdout.toString
      assert(printed.contains(s"day=$Day links=0"), format)
      assert(printed.contains("skipping"), format)
    }
  }

  test("the link path runs on a session with no graft_ functions and registers none") {
    val fresh = graft.pipeline.SparkTestSession.get.newSession()
    def graftFunctions = fresh.sessionState.functionRegistry.listFunction()
      .map(_.funcName).filter(_.startsWith("graft_"))
    assert(graftFunctions.isEmpty)
    val (written, expected) = dispatchFormat(fresh, "json-v2")
    assert(written.nonEmpty && written == expected)
    assert(graftFunctions.isEmpty)
  }

  test("unknown --format and --out-format are rejected before a session, naming the valid values") {
    val fmt = MainConfig.resolve(Map("format" -> "avro-v9"), Map.empty, today)
    assert(fmt == Left("unknown --format avro-v9 " +
      "(json-v2|csv|v1-rows|v1-tables|v1-jdbc|es-scroll|c3-span-table|c3-cql)"))
    val out = MainConfig.resolve(Map("out-format" -> "xlsx"), Map.empty, today)
    assert(out == Left("unknown --out-format xlsx (parquet|orc|json|csv)"))
    // a profile's own format passes, and a valid --out-format is carried
    assert(MainConfig.resolve(Map("out-format" -> "orc"),
      Map("STORAGE_TYPE" -> "mysql"), today).map(_.outFormat) == Right("orc"))
  }

  test("--stream rejects a format other than json-v2 and the flags it would ignore") {
    def resolve(args: String*)(env: Map[String, String] = Map.empty) =
      MainConfig.resolve(Main.parseArgs(("--stream" +: args).toArray), env, today)
    assert(resolve("--in", "x", "--out", "y")().map(_.format) == Right("json-v2"))
    assert(resolve("--format", "csv")() == Left("--stream reads json-v2 only, not --format csv"))
    // a backend profile's format conflicts as well
    assert(resolve()(Map("STORAGE_TYPE" -> "mysql")) ==
      Left("--stream reads json-v2 only, not --format v1-tables"))
    assert(resolve("--out-format", "orc")() == Left("--stream does not take --out-format"))
    assert(resolve("--backfill", "2025-08-01..2025-08-02")() ==
      Left("--stream does not take --backfill"))
    assert(resolve("--day", Day)() == Left("--stream does not take --day"))
  }

  /** One JSON v2 span line (services as given; `parent` empty for a root). */
  private def spanLine(trace: String, id: String, parent: String, kind: String,
      ts: Long, local: String, remote: String): String = {
    val parentField = if (parent.isEmpty) "" else s""""parentId":"$parent","""
    s"""{"traceId":"$trace",$parentField"id":"$id","kind":"$kind","timestamp":$ts,""" +
      s""""localEndpoint":{"serviceName":"$local"},"remoteEndpoint":{"serviceName":"$remote"}}"""
  }

  /** Runs `--stream` over `in` into `out`; returns every delta row there. */
  private def streamDeltas(in: String, out: String,
      env: Map[String, String] = Map.empty): Seq[(String, String, Long, Long)] = {
    val spark = graft.pipeline.SparkTestSession.get
    val opts = Main.parseArgs(Array("--stream", "--in", in, "--out", out))
    Main.dispatch(spark, opts, MainConfig.resolve(opts, env, today).toOption.get, env)
    linkRows(spark.read.parquet(out))
  }

  test("--stream re-run into the same --out keeps the new input's deltas") {
    val t0 = 1754870400000000L // 2025-08-11T00:00:00Z
    val hour = 3600L * 1000000L
    val in = tmp("stream-in")
    val out = s"${tmp("stream-out")}/deltas"
    def put(name: String, lines: String*): Unit = java.nio.file.Files.write(
      java.nio.file.Paths.get(in, name), lines.mkString("\n").getBytes("UTF-8"))
    // each file ends with a later trace that moves the watermark past the
    // session gap of the traces before it
    put("1.json",
      spanLine("00000000000000a1", "0000000000000001", "", "CLIENT", t0, "frontend", "backend"),
      spanLine("00000000000000f1", "0000000000000009", "", "CLIENT", t0 + 2 * hour, "w1", "z1"))
    assert(streamDeltas(in, out).exists(d => d._1 == "frontend" && d._2 == "backend"))
    put("2.json",
      spanLine("00000000000000b2", "0000000000000002", "", "CLIENT", t0 + 3 * hour, "api", "auth"),
      spanLine("00000000000000f2", "000000000000000a", "", "CLIENT", t0 + 5 * hour, "w2", "z2"))
    val second = streamDeltas(in, out)
    assert(second.exists(d => d._1 == "api" && d._2 == "auth"))
    // the first run's deltas are kept, not written again
    assert(second.count(d => d._1 == "frontend" && d._2 == "backend") == 1)
  }

  test("--stream honours STRICT_TRACE_ID: mixed-width ids stay separate traces") {
    val t0 = 1754870401000000L
    val in = tmp("stream-strict-in")
    java.nio.file.Files.write(java.nio.file.Paths.get(in, "spans.json"), Seq(
      spanLine("feedfacefeedface000000000000a002", "0000000000000003", "", "CLIENT",
        t0, "frontend", "backend"),
      spanLine("000000000000a002", "0000000000000004", "0000000000000003", "SERVER",
        t0 + 100000L, "backend", "frontend"),
      spanLine("00000000000000f3", "000000000000000b", "", "CLIENT",
        t0 + 7200L * 1000000L, "w", "z")).mkString("\n").getBytes("UTF-8"))
    def calls(env: Map[String, String]): Long =
      streamDeltas(in, s"${tmp("stream-strict-out")}/deltas", env)
        .filter(d => d._1 == "frontend" && d._2 == "backend").map(_._3).sum
    assert(calls(Map("STRICT_TRACE_ID" -> "true")) == 2L)
    assert(calls(Map.empty) == 1L)
  }

  test("backfill range parses inclusively, oldest first") {
    assert(MainConfig.parseBackfill("2025-08-10..2025-08-12") ==
      Right(Seq("2025-08-10", "2025-08-11", "2025-08-12")))
    assert(MainConfig.parseBackfill("2025-08-10..2025-08-10") == Right(Seq("2025-08-10")))
    // month boundary
    assert(MainConfig.parseBackfill("2025-01-31..2025-02-01") ==
      Right(Seq("2025-01-31", "2025-02-01")))
  }

  test("backfill rejects reversed, oversized, and malformed ranges") {
    assert(MainConfig.parseBackfill("2025-08-12..2025-08-10").isLeft)
    assert(MainConfig.parseBackfill("2024-01-01..2026-01-01").isLeft) // > 400 days
    assert(MainConfig.parseBackfill("2025-08-10").isLeft)
    assert(MainConfig.parseBackfill("2025-08-10..not-a-date").isLeft)
    assert(MainConfig.parseBackfill("2025-08-10..2025-08-11..2025-08-12").isLeft)
  }

  test("STORAGE_TYPE selects the backend profile (format + admission)") {
    // elasticsearch reaches the LIVE scroll source env-only, so the periodic
    // entrypoints (bin/graft-today) work without flags, like the reference
    // (strict defaults TRUE under a backend profile — the reference's
    // STRICT_TRACE_ID default)
    val es = MainConfig.resolve(Map(), Map("STORAGE_TYPE" -> "elasticsearch"), today)
    assert(es == Right(MainConfig.Resolved(today, "es-scroll", Admission.IndexDay,
      strict = true, Nil, "WARN")))
    val my = MainConfig.resolve(Map(), Map("STORAGE_TYPE" -> "mysql"), today)
    assert(my.map(r => (r.format, r.admission)) == Right(("v1-tables", Admission.PerSpanWindow)))
    // cassandra3 likewise reaches the LIVE token-range CQL source env-only
    // (contact points from CASSANDRA_CONTACT_POINTS, like the reference)
    val cas = MainConfig.resolve(Map(), Map("STORAGE_TYPE" -> "cassandra3"), today)
    assert(cas.map(r => (r.format, r.admission)) == Right(("c3-cql", Admission.RootInWindow)))
  }

  test("unsupported STORAGE_TYPE errors with the option list") {
    val r = MainConfig.resolve(Map(), Map("STORAGE_TYPE" -> "dynamo"), today)
    assert(r.isLeft)
    assert(r.swap.exists(_.contains("Unsupported STORAGE_TYPE: dynamo")))
    assert(r.swap.exists(_.contains("cassandra3, elasticsearch, mysql")))
  }

  test("explicit flags override the storage profile") {
    val r = MainConfig.resolve(
      Map("format" -> "v1-rows", "admission" -> "index-day", "strict-trace-id" -> "true"),
      Map("STORAGE_TYPE" -> "mysql"), today)
    assert(r.map(x => (x.format, x.admission, x.strict)) ==
      Right(("v1-rows", Admission.IndexDay, true)))
  }

  test("day defaults to today UTC; malformed day rejected") {
    assert(MainConfig.resolve(Map(), Map(), today).map(_.day) == Right(today))
    assert(MainConfig.resolve(Map("day" -> "2024-02-01"), Map(), today).map(_.day) ==
      Right("2024-02-01"))
    assert(MainConfig.resolve(Map("day" -> "not-a-date"), Map(), today).isLeft)
  }

  test("SPARK_CONF parses as the reference does: k=v pairs, malformed skipped") {
    assert(MainConfig.parseSparkConf("spark.executor.memory=4g,spark.x=1") ==
      Seq("spark.executor.memory" -> "4g", "spark.x" -> "1"))
    // no '=' at all → nothing
    assert(MainConfig.parseSparkConf("garbage") == Nil)
    assert(MainConfig.parseSparkConf("") == Nil)
    // pairs with more or fewer than one '=' are skipped, valid ones kept
    assert(MainConfig.parseSparkConf("a=b,oops,c=d=e,f=g") ==
      Seq("a" -> "b", "f" -> "g"))
    // empty key/value survive (reference split keeps them)
    assert(MainConfig.parseSparkConf("a=") == Seq("a" -> ""))
    val viaEnv = MainConfig.resolve(Map(), Map("SPARK_CONF" -> "spark.y=2"), today)
    assert(viaEnv.map(_.sparkConf) == Right(Seq("spark.y" -> "2")))
  }

  test("GRAFT_LOG_LEVEL mirrors ZIPKIN_LOG_LEVEL, defaulting sanely") {
    assert(MainConfig.resolve(Map(), Map("GRAFT_LOG_LEVEL" -> "INFO"), today)
      .map(_.logLevel) == Right("INFO"))
    assert(MainConfig.resolve(Map(), Map(), today).map(_.logLevel) == Right("WARN"))
  }

  test("esEnv: --es-hosts / --es-timeout override ES_HOSTS / ES_TIMEOUT; env passes through") {
    val env = Map("ES_HOSTS" -> "envhost", "ES_TIMEOUT" -> "10000", "ES_INDEX" -> "traces")
    // no flags: env verbatim
    assert(Main.esEnv(Map.empty, env) == env)
    // flags win; untouched keys survive — and the merged map round-trips
    // through esConf so the override reaches the actual transport config
    val merged = Main.esEnv(
      Map("es-hosts" -> "clihost:9400", "es-timeout" -> "30000"), env)
    assert(merged("ES_HOSTS") == "clihost:9400" && merged("ES_TIMEOUT") == "30000")
    val conf = graft.util.EsFlavor.esConf(merged)
    assert(conf.hosts == Seq("http://clihost:9400") && conf.timeoutMs == 30000L)
    assert(conf.index == "traces")
    // ES_DEBUG passes through esEnv untouched and lands on the conf —
    // the transport-logging knob (EsDebugSpec pins the log lines)
    val dbg = Main.esEnv(Map.empty, env + ("ES_DEBUG" -> "true"))
    assert(graft.util.EsFlavor.esConf(dbg).debug)
    assert(!conf.debug)
  }

  test("STRICT_TRACE_ID env/CLI precedence (reference default true under a backend profile)") {
    // rows: (opts, env, expected strict)
    val rows = Seq(
      // file-mode CLI keeps the documented opt-in default
      (Map.empty[String, String], Map.empty[String, String], false),
      (Map("strict-trace-id" -> "true"), Map.empty[String, String], true),
      // backend profile inherits the reference's env default (true)
      (Map.empty[String, String], Map("STORAGE_TYPE" -> "cassandra3"), true),
      // explicit env wins over the mode default, either way
      (Map.empty[String, String],
        Map("STORAGE_TYPE" -> "cassandra3", "STRICT_TRACE_ID" -> "false"), false),
      (Map.empty[String, String], Map("STRICT_TRACE_ID" -> "true"), true),
      (Map.empty[String, String], Map("STRICT_TRACE_ID" -> "false"), false),
      // CLI flag beats an env false (CassandraDependenciesJob.java:65 is
      // env-only; the flag is this engine's explicit override)
      (Map("strict-trace-id" -> "true"),
        Map("STORAGE_TYPE" -> "cassandra3", "STRICT_TRACE_ID" -> "false"), true))
    rows.foreach { case (opts, env, want) =>
      assert(MainConfig.resolve(opts, env, today).map(_.strict) == Right(want),
        s"opts=$opts env=$env")
    }
  }

  test("SPARK_MASTER env/CLI precedence (reference env var, CLI --master winning)") {
    val rows = Seq(
      (Map.empty[String, String], Map.empty[String, String], "local[4]"),
      (Map.empty[String, String], Map("SPARK_GRAFT_CPUS" -> "8"), "local[8]"),
      (Map.empty[String, String], Map("SPARK_MASTER" -> "local[*]"), "local[*]"),
      (Map.empty[String, String],
        Map("SPARK_MASTER" -> "spark://m:7077", "SPARK_GRAFT_CPUS" -> "8"), "spark://m:7077"),
      (Map("master" -> "local[2]"), Map("SPARK_MASTER" -> "local[*]"), "local[2]"))
    rows.foreach { case (opts, env, want) =>
      assert(MainConfig.resolve(opts, env, today).map(_.master) == Right(want),
        s"opts=$opts env=$env")
    }
  }

  test("MySQL URL builds from the reference env surface; resolution order pinned") {
    // defaults exactly as MySQLDependenciesJob.java:42-48,150-155
    assert(MainConfig.mysqlJdbcUrl(Map.empty) ==
      "jdbc:mysql://localhost:3306/zipkin?permitMysqlScheme&autoReconnect=true&useSSL=false")
    assert(MainConfig.mysqlJdbcUrl(Map("MYSQL_HOST" -> "db.prod",
      "MYSQL_TCP_PORT" -> "3307", "MYSQL_DB" -> "traces", "MYSQL_USE_SSL" -> "true")) ==
      "jdbc:mysql://db.prod:3307/traces?permitMysqlScheme&autoReconnect=true&useSSL=true")
    // no flag, no env → None (the fixture two-table path stays available)
    assert(MainConfig.jdbcUrl(Map.empty, Map.empty).isEmpty)
    // any MYSQL_* presence activates the env-built URL
    assert(MainConfig.jdbcUrl(Map.empty, Map("MYSQL_HOST" -> "h")) ==
      Some("jdbc:mysql://h:3306/zipkin?permitMysqlScheme&autoReconnect=true&useSSL=false"))
    // GRAFT_JDBC_URL (the non-MySQL-store escape) beats the built URL
    assert(MainConfig.jdbcUrl(Map.empty,
      Map("MYSQL_HOST" -> "h", "GRAFT_JDBC_URL" -> "jdbc:derby:d")) == Some("jdbc:derby:d"))
    // --jdbc-url beats everything
    assert(MainConfig.jdbcUrl(Map("jdbc-url" -> "jdbc:x"),
      Map("MYSQL_HOST" -> "h", "GRAFT_JDBC_URL" -> "jdbc:derby:d")) == Some("jdbc:x"))
  }

  test("MYSQL_MAX_CONNECTIONS caps the JDBC stride count only when set") {
    import graft.sources.JdbcV1Config
    assert(JdbcV1Config.fromEnv("u", 32, Map.empty).numPartitions == 32)
    assert(JdbcV1Config.fromEnv("u", 32, Map("MYSQL_MAX_CONNECTIONS" -> "10")).numPartitions == 10)
    // a cap above the request is not a floor
    assert(JdbcV1Config.fromEnv("u", 4, Map("MYSQL_MAX_CONNECTIONS" -> "10")).numPartitions == 4)
    assert(JdbcV1Config.fromEnv("u", 8, Map("MYSQL_MAX_CONNECTIONS" -> "0")).numPartitions == 1)
  }

  test("GRAFT_WRITE_BACK maps STORAGE_TYPE to its backend write flag, env-only") {
    assert(Main.writeBackFlags(Map()) == Map())
    assert(Main.writeBackFlags(Map("GRAFT_WRITE_BACK" -> "1")) == Map())
    assert(Main.writeBackFlags(
      Map("GRAFT_WRITE_BACK" -> "1", "STORAGE_TYPE" -> "elasticsearch")) ==
      Map("es-bulk" -> "true"))
    assert(Main.writeBackFlags(
      Map("GRAFT_WRITE_BACK" -> "true", "STORAGE_TYPE" -> "cassandra3")) ==
      Map("cql-write" -> "true"))
    assert(Main.writeBackFlags(
      Map("GRAFT_WRITE_BACK" -> "1", "STORAGE_TYPE" -> "mysql")) ==
      Map("jdbc-write" -> "true"))
    // off stays off, whatever the storage
    assert(Main.writeBackFlags(
      Map("GRAFT_WRITE_BACK" -> "0", "STORAGE_TYPE" -> "mysql")) == Map())
    // CLI flags must win over the env mapping (rawOpts applied second)
    assert((Main.writeBackFlags(Map("GRAFT_WRITE_BACK" -> "1",
      "STORAGE_TYPE" -> "mysql")) ++ Map("jdbc-dialect" -> "standard"))
      .keySet == Set("jdbc-write", "jdbc-dialect"))
  }

  test("mysql profile env-only end-to-end: STORAGE_TYPE + GRAFT_WRITE_BACK, zero backend flags") {
    // the reference's docker entrypoint shape: STORAGE_TYPE=mysql and env
    // vars only — the JDBC URL resolves from env (here GRAFT_JDBC_URL, the
    // documented escape for the embedded ANSI store; a real MySQL would use
    // MYSQL_HOST/MYSQL_TCP_PORT/MYSQL_DB), the read upgrades to the
    // partitioned v1-jdbc source, and GRAFT_WRITE_BACK=1 saves the links
    // back to the same store, all with no mysql-specific CLI flags.
    val spark = graft.pipeline.SparkTestSession.get
    val day = "2025-08-11"
    val (lo, _) = graft.pipeline.LinkJob.dayWindowMicros(day)
    val dir = java.nio.file.Files.createTempDirectory("derbyenvonly").toString
    val url = s"jdbc:derby:$dir/zipkin;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.executeUpdate(
        "CREATE TABLE zipkin_spans (trace_id BIGINT, parent_id BIGINT, id BIGINT, start_ts BIGINT)")
      st.executeUpdate(
        "CREATE TABLE zipkin_annotations (trace_id BIGINT, span_id BIGINT, " +
          "a_key VARCHAR(255), endpoint_service_name VARCHAR(255), a_type INT)")
      st.executeUpdate(
        "CREATE TABLE zipkin_dependencies (day DATE, parent VARCHAR(255), " +
          "child VARCHAR(255), call_count BIGINT, error_count BIGINT, " +
          "PRIMARY KEY (day, parent, child))")
      st.executeUpdate(s"INSERT INTO zipkin_spans VALUES (1, NULL, 10, ${lo + 1000})")
      st.executeUpdate(s"INSERT INTO zipkin_spans VALUES (1, 10, 11, ${lo + 1100})")
      st.executeUpdate("INSERT INTO zipkin_annotations VALUES (1, 10, 'cs', 'frontend', -1)")
      st.executeUpdate("INSERT INTO zipkin_annotations VALUES (1, 11, 'sr', 'backend', -1)")
      st.executeUpdate("INSERT INTO zipkin_annotations VALUES (1, 11, 'ca', 'frontend', -1)")
    } finally conn.close()
    val env = Map(
      "STORAGE_TYPE" -> "mysql", "GRAFT_WRITE_BACK" -> "1",
      "GRAFT_JDBC_URL" -> url, "GRAFT_JDBC_DIALECT" -> "standard",
      "MYSQL_MAX_CONNECTIONS" -> "2")
    val out = java.nio.file.Files.createTempDirectory("mysql-envonly-out").toString
    val opts = Main.parseArgs(Array("--day", day, "--out", out))
    val resolved = MainConfig.resolve(opts, env, today).toOption.get
    assert(resolved.format == "v1-tables" && resolved.admission == Admission.PerSpanWindow)
    assert(resolved.strict) // backend profile → reference strict default
    Main.dispatch(spark, opts, resolved, env)
    import spark.implicits._
    val links = spark.read.parquet(out)
      .select("parent", "child", "callCount", "errorCount")
      .as[(String, String, Long, Long)].collect().toSet
    assert(links == Set(("frontend", "backend", 1L, 0L)))
    // GRAFT_WRITE_BACK pushed the same links into zipkin_dependencies
    val c2 = java.sql.DriverManager.getConnection(url)
    try {
      val rs = c2.createStatement().executeQuery(
        "SELECT day, parent, child, call_count, error_count FROM zipkin_dependencies")
      var rows = List.empty[(String, String, String, Long, Long)]
      while (rs.next()) rows ::= ((rs.getDate(1).toString, rs.getString(2),
        rs.getString(3), rs.getLong(4), rs.getLong(5)))
      assert(rows == List((day, "frontend", "backend", 1L, 0L)))
    } finally c2.close()
    // idempotent env-only re-run: same single row, no PK violation
    Main.dispatch(spark, opts, resolved, env)
    val c3 = java.sql.DriverManager.getConnection(url)
    try {
      val rs = c3.createStatement().executeQuery("SELECT count(*) FROM zipkin_dependencies")
      rs.next(); assert(rs.getInt(1) == 1)
    } finally c3.close()
  }

  test("cassandra3 profile end-to-end through the CLI dispatch: LIVE scripted CQL → links → sink") {
    // env-only invocation parity with the reference's docker entrypoint:
    // STORAGE_TYPE=cassandra3 resolves straight to the live token-range CQL
    // source; --c3-contact-points stands in for CASSANDRA_CONTACT_POINTS
    // (dispatch reads the real sys.env, which a test must not mutate)
    val spark = graft.pipeline.SparkTestSession.get
    val ts = 1754870400000000L // inside 2025-08-11 UTC
    val rows = Seq(
      graft.sources.FRow(-42L, "00000000000000aa", null, "0000000000000001",
        "CLIENT", ts, null, false, "frontend", "backend", null),
      graft.sources.FRow(42L, "00000000000000aa", "0000000000000001", "0000000000000002",
        "SERVER", ts + 1000L, null, true, "backend", null, Map("error" -> "true")))
    val es = new graft.sources.ScriptedCassandra(rows)
    try {
      val out = java.nio.file.Files.createTempDirectory("c3-cql-cli-out").toString
      val opts = Main.parseArgs(Array(
        "--day", "2025-08-11", "--out", out, "--cql-write",
        "--c3-contact-points", s"127.0.0.1:${es.port}", "--c3-ranges", "2"))
      val resolved = MainConfig.resolve(opts,
        Map("STORAGE_TYPE" -> "cassandra3"), today).toOption.get
      assert(resolved.format == "c3-cql" && resolved.admission == Admission.RootInWindow)
      Main.dispatch(spark, opts, resolved)
      import spark.implicits._
      val links = spark.read.parquet(out)
        .select("parent", "child", "callCount", "errorCount")
        .as[(String, String, Long, Long)].collect().toSet
      assert(links == Set(("frontend", "backend", 1L, 1L)))
      // --cql-write pushed the same day's links back through the write half
      // of the transport: read+write parity on one scripted cluster
      val it = es.queries.iterator(); var inserts = List.empty[String]
      while (it.hasNext) { val q = it.next(); if (q.startsWith("INSERT")) inserts ::= q }
      assert(inserts ==
        List("INSERT INTO zipkin2.dependency (day,parent,child,calls,errors)" +
          " VALUES ('2025-08-11','frontend','backend',1,1)"))
    } finally es.stop()
  }

  test("c3 profile end-to-end through the CLI dispatch: fixture table → links → sink") {
    // the same driven-entrypoint coverage the ES and MySQL paths have: real
    // argv parse → cassandra3 profile resolve (root-in-window admission,
    // --format overriding to the token-range source) → link → parquet sink
    val spark = graft.pipeline.SparkTestSession.get
    val ts = 1754870400000000L // inside 2025-08-11 UTC
    val rows = Seq(
      org.apache.spark.sql.Row("00000000000000aa", null, "0000000000000001",
        "CLIENT", java.lang.Long.valueOf(ts), null, false,
        org.apache.spark.sql.Row("frontend"), org.apache.spark.sql.Row("backend"), null),
      org.apache.spark.sql.Row("00000000000000aa", "0000000000000001", "0000000000000002",
        "SERVER", java.lang.Long.valueOf(ts + 1000), null, true,
        org.apache.spark.sql.Row("backend"), null, Map("error" -> "true")))
    val in = java.nio.file.Files.createTempDirectory("c3-cli-fixture").toString
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2),
      graft.sources.CassandraV3Source.spanTableSchema)
      .write.mode("overwrite").parquet(in)
    val out = java.nio.file.Files.createTempDirectory("c3-cli-out").toString
    val opts = Main.parseArgs(Array(
      "--day", "2025-08-11", "--format", "c3-span-table",
      "--in", in, "--out", out, "--c3-ranges", "2"))
    val resolved = MainConfig.resolve(opts,
      Map("STORAGE_TYPE" -> "cassandra3"), today).toOption.get
    assert(resolved.admission == Admission.RootInWindow) // profile held
    assert(resolved.format == "c3-span-table") // explicit flag overrode json-v2
    Main.dispatch(spark, opts, resolved)
    import spark.implicits._
    val links = spark.read.parquet(out)
      .select("parent", "child", "callCount", "errorCount")
      .as[(String, String, Long, Long)].collect().toSet
    assert(links == Set(("frontend", "backend", 1L, 1L)))
    // re-run is an idempotent day overwrite, like every sink in the engine
    Main.dispatch(spark, opts, resolved)
    assert(spark.read.parquet(out).count() == 1)
  }
}
