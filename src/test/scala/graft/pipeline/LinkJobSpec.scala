package graft.pipeline

import graft.model.{DependencyLink, Span}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, element_at}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** End-to-end pipeline: JSON v2 fixture → links, admission modes, strict vs
  * low-64 grouping, idempotent re-run sink (FIXTURES.md scenarios at the
  * pipeline level). */
class LinkJobSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkTestSession.get
  private val fixture = getClass.getResource("/fixtures/spans_day.jsonl").getPath
  private val Day = "2025-08-11"

  private def linkMap(links: Seq[DependencyLink]): Map[(String, String), (Long, Long)] =
    links.map(l => (l.parent, l.child) -> (l.callCount, l.errorCount)).toMap

  test("missing day path reads as empty, not as a failure (index-missing-as-empty)") {
    val spans = LinkJob.readJsonV2(spark, "/tmp/graft-no-such-day-9999/spans.jsonl")
    assert(spans.isEmpty)
    val links = LinkJob.linkSpans(spans, "2025-08-11")
    assert(links.isEmpty)
  }

  test("per-span-window admission links one UTC day") {
    val spans = LinkJob.readJsonV2(spark, fixture)
    val out = LinkJob.linkSpans(spans, Day, Admission.PerSpanWindow).collect().toSeq
    assert(linkMap(out) == Map(
      ("frontend", "backend") -> (2L, 1L),
      ("backend", "db") -> (1L, 0L),
      ("producer", "kafka") -> (1L, 0L),
      ("kafka", "consumer") -> (1L, 0L),
      ("x", "y") -> (1L, 0L)))
  }

  test("index-day admission admits everything read") {
    val spans = LinkJob.readJsonV2(spark, fixture)
    val out = LinkJob.linkSpans(spans, Day, Admission.IndexDay).collect().toSeq
    assert(linkMap(out)(("frontend", "backend")) == (3L, 1L))
  }

  test("strict trace ids split mixed-width traces; low-64 unifies them") {
    val spans = LinkJob.readJsonV2(spark, fixture)
      .filter((s: Span) => Span.low64(s.traceId) == "000000000000a002")
    val strictOut = LinkJob.linkSpans(spans, Day, Admission.IndexDay, strict = true).collect()
    val unifiedOut = LinkJob.linkSpans(spans, Day, Admission.IndexDay, strict = false).collect()
    assert(linkMap(strictOut.toSeq) == Map(("frontend", "backend") -> (2L, 0L)))
    assert(linkMap(unifiedOut.toSeq) == Map(("frontend", "backend") -> (1L, 0L)))
  }

  test("json-v2 trace ids are zero-padded, so one trace reported at two widths links once") {
    val t0 = 1754870400000000L
    def line(traceId: String, id: String, kind: String, shared: Boolean, local: String,
        remote: String, ts: Long) =
      s"""{"traceId":"$traceId","id":"$id","kind":"$kind","shared":$shared,""" +
        s""""timestamp":$ts,"localEndpoint":{"serviceName":"$local"},""" +
        s""""remoteEndpoint":{"serviceName":"$remote"}}"""
    val dir = java.nio.file.Files.createTempDirectory("padded-ids")
    java.nio.file.Files.write(dir.resolve("spans.jsonl"), Seq(
      // 3 hex chars, and the same trace padded to 16
      line("ABC", "0000000000000001", "CLIENT", false, "frontend", "backend", t0),
      line("0000000000000abc", "0000000000000001", "SERVER", true, "backend", "frontend", t0 + 1),
      // 20 hex chars, and the same trace padded to 32
      line("1234567890abcdef1234", "0000000000000002", "CLIENT", false, "web", "api", t0),
      line("0000000000001234567890abcdef1234", "0000000000000002", "SERVER", true, "api", "web",
        t0 + 1)).mkString("\n").getBytes("UTF-8"))
    val spans = LinkJob.readJsonV2(spark, dir.toString)
    assert(spans.collect().map(_.traceId).toSet ==
      Set("0000000000000abc", "0000000000001234567890abcdef1234"))
    for (strict <- Seq(true, false)) {
      val out = LinkJob.linkSpans(spans, Day, Admission.IndexDay, strict = strict).collect()
      assert(linkMap(out.toSeq) == Map(("frontend", "backend") -> (1L, 0L),
        ("web", "api") -> (1L, 0L)), s"strict = $strict")
    }
  }

  test("root-in-window admission drops traces with timestamp-less roots") {
    import spark.implicits._
    val (lo, _) = LinkJob.dayWindowMicros(Day)
    val spans = Seq(
      // root missing timestamp => trace dropped in RootInWindow mode
      Span("0000000000000b01", None, "01" * 8, Some("CLIENT"), None, None, false,
        Some("a"), Some("b"), false),
      // root inside window => admitted
      Span("0000000000000b02", None, "02" * 8, Some("CLIENT"), Some(lo + 5), None, false,
        Some("c"), Some("d"), false)
    ).toDS()
    val out = LinkJob.linkSpans(spans, Day, Admission.RootInWindow).collect().toSeq
    assert(linkMap(out) == Map(("c", "d") -> (1L, 0L)))
    // but both admitted under IndexDay
    val all = LinkJob.linkSpans(spans, Day, Admission.IndexDay).collect().toSeq
    assert(all.size == 2)
  }

  test("root-in-window under a cap still drops a trace whose root sorts past the cap") {
    import spark.implicits._
    val (lo, _) = LinkJob.dayWindowMicros(Day)
    // the timestamp-less root sorts last in cap order, so a cap of 4 cuts it
    val root = Span("0000000000000b03", None, "03" * 8, None, None, None, false,
      Some("a"), None, false)
    val children = (1 to 4).map(i => Span("0000000000000b03", Some("03" * 8), f"$i%016x",
      Some("CLIENT"), Some(lo + i), None, false, Some("a"), Some(s"b$i"), false))
    val spans = (root +: children).toDS()
    for (cap <- Seq(0, 4)) {
      val out = LinkJob.linkSpans(spans, Day, Admission.RootInWindow,
        maxSpansPerTrace = cap).collect()
      assert(out.isEmpty, s"cap $cap admitted a trace whose root is outside the window")
    }
    assert(LinkJob.linkSpans(spans, Day, Admission.IndexDay, maxSpansPerTrace = 4)
      .collect().length == 4)
  }

  test("midnight straddle: root-window keeps whole trace; per-span splits it") {
    import spark.implicits._
    val (lo, hi) = LinkJob.dayWindowMicros(Day)
    val spans = Seq(
      Span("0000000000000c01", None, "0a" * 8, Some("CLIENT"), Some(hi - 1), None, false,
        Some("a"), Some("b"), false),
      // child lands after midnight
      Span("0000000000000c01", Some("0a" * 8), "0b" * 8, Some("CLIENT"), Some(hi + 5000000), None,
        false, Some("b"), Some("c"), false)
    ).toDS()
    val rootMode = LinkJob.linkSpans(spans, Day, Admission.RootInWindow).collect().toSeq
    assert(linkMap(rootMode) == Map(("a", "b") -> (1L, 0L), ("b", "c") -> (1L, 0L)))
    val spanMode = LinkJob.linkSpans(spans, Day, Admission.PerSpanWindow).collect().toSeq
    assert(linkMap(spanMode) == Map(("a", "b") -> (1L, 0L)))
  }

  test("rerun_idempotent: writing the same day twice leaves identical links") {
    val out = java.nio.file.Files.createTempDirectory("links").toString
    val spans = LinkJob.readJsonV2(spark, fixture)
    def run(): Unit = {
      val links = LinkJob.linkSpans(spans, Day, Admission.PerSpanWindow)
      LinkJob.writeLinks(links, Day, out)
    }
    run(); run()
    val stored = spark.read.parquet(out).where(org.apache.spark.sql.functions.col("day") === Day)
    assert(stored.count() == 5)
    assert(stored.select("parent", "child").distinct().count() == 5)
  }

  test("maxSpansPerTrace caps giant traces deterministically (earliest kept)") {
    import spark.implicits._
    val t0 = 1754870400000000L
    val spans = (0 until 100).map { i =>
      Span("000000000000cafe", if (i == 0) None else Some(f"${(i - 1) / 2}%016x"),
        f"$i%016x", Some(if (i % 2 == 0) "SERVER" else "CLIENT"), Some(t0 + i), None, false,
        Some(s"svc${i % 7}"), Some(s"svc${(i + 1) % 7}"), false)
    }.toDS()
    val capped = LinkJob.linkSpans(spans, Day, Admission.IndexDay,
      maxSpansPerTrace = 10).collect()
    val full = LinkJob.linkSpans(spans, Day, Admission.IndexDay).collect()
    assert(capped.map(_.callCount).sum < full.map(_.callCount).sum)
    assert(capped.map(_.callCount).sum > 0)
    // deterministic: same result on re-run
    val capped2 = LinkJob.linkSpans(spans, Day, Admission.IndexDay,
      maxSpansPerTrace = 10).collect()
    assert(capped.toSeq.sortBy(l => (l.parent, l.child)) ==
      capped2.toSeq.sortBy(l => (l.parent, l.child)))
  }

  test("the island pulls at most maxSpansPerTrace spans from its sorted group") {
    val t0 = 1754870400000000L
    val trace = (0 until 1000).map { i =>
      Span("000000000000beef", if (i == 0) None else Some(f"${i - 1}%016x"), f"$i%016x",
        Some("SERVER"), Some(t0 + i), None, false, Some(s"svc${i % 5}"), None, false)
    }
    for (cap <- Seq(0, 1, 10, 999, 1000)) { // 0 = unbounded
      val kept = if (cap == 0) trace.size else cap
      var pulled = 0
      val counting = trace.iterator.map { s => pulled += 1; s }
      val links = LinkJob.linkTrace(counting, cap, None)
      assert(pulled == kept, s"cap $cap pulled $pulled spans")
      assert(linkMap(links) == linkMap(graft.link.DependencyLinker.link(trace.take(kept))))
    }
  }

  test("the trace key column is Span.low64 (non-strict) and traceId (strict)") {
    import spark.implicits._
    val rnd = new scala.util.Random(8)
    val ids = (0 to 40).flatMap(n => Seq.fill(3)(Seq.fill(n)(rnd.nextInt(16).toHexString).mkString))
    val keys = ids.toDF("traceId").select($"traceId",
      LinkJob.traceKey($"traceId", strict = false), LinkJob.traceKey($"traceId", strict = true))
      .as[(String, String, String)].collect()
    assert(keys.length == ids.size)
    keys.foreach { case (id, low, strict) =>
      assert(low == Span.low64(id), s"low-64 key of '$id'")
      assert(strict == id, s"strict key of '$id'")
    }
  }

  test("flattened-CSV source links identically to the JSON v2 fixture") {
    import spark.implicits._
    // flatten the fixture day to the documented CSV contract and read back
    val csvDir = java.nio.file.Files.createTempDirectory("spanscsv").toString
    spark.read.schema(graft.model.Span.jsonV2Schema).json(fixture)
      .select(col("traceId"), col("parentId"), col("id"), col("kind"),
        col("timestamp"), col("duration"), col("shared"),
        col("localEndpoint.serviceName").as("localServiceName"),
        col("remoteEndpoint.serviceName").as("remoteServiceName"),
        element_at(col("tags"), "error").as("error"))
      .coalesce(1).write.mode("overwrite").option("header", "true").csv(csvDir)
    def canon(links: org.apache.spark.sql.Dataset[graft.model.DependencyLink]) =
      links.as[(String, String, Long, Long)].collect().toSet
    val viaCsv = canon(LinkJob.linkSpans(
      LinkJob.readCsvSpans(spark, csvDir), Day, Admission.PerSpanWindow))
    val viaJson = canon(LinkJob.linkSpans(
      LinkJob.readJsonV2(spark, fixture), Day, Admission.PerSpanWindow))
    assert(viaCsv == viaJson && viaCsv.nonEmpty)
  }

  test("ORC sink round-trips links with the same day-overwrite semantics") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("orclinks").toString
    val links = LinkJob.linkSpans(LinkJob.readJsonV2(spark, fixture), Day,
      Admission.PerSpanWindow)
    LinkJob.writeLinks(links, Day, out, format = "orc")
    LinkJob.writeLinks(links, Day, out, format = "orc") // idempotent re-run
    val read = spark.read.format("orc").load(out)
      .select("parent", "child", "callCount", "errorCount")
      .as[(String, String, Long, Long)].collect().toSet
    assert(read == links.as[(String, String, Long, Long)].collect().toSet)
  }

  test("heavy single trace (100k spans) links bounded and matches the linker oracle") {
    // mirror of the reference's ITDependenciesHeavy (cassandra3/src/test/java/
    // zipkin2/storage/cassandra/ITCassandraDependenciesHeavy.java:17): one
    // giant trace must aggregate in bounded memory. The whole trace lands in
    // ONE flatMapGroups task (same as the reference); the deterministic
    // maxSpansPerTrace cap is the documented mitigation beyond that.
    import spark.implicits._
    val n = 100000
    def mk(i: Long): Span = {
      val parent = if (i == 0) None else Some(f"${(i - 1) / 2}%016x")
      Span("000000000000dead", parent, f"$i%016x",
        Some(if (i % 2 == 0) "CLIENT" else "SERVER"),
        Some(1754870400000000L + i), None, false,
        Some(s"svc${i % 7}"), Some(s"svc${(i + 1) % 7}"), i % 11 == 0)
    }
    val spans = spark.range(n).map(i => mk(i))
    val t0 = System.nanoTime()
    val out = LinkJob.linkSpans(spans, Day, Admission.IndexDay).collect()
    val fullSec = (System.nanoTime() - t0) / 1e9
    info(f"100k-span trace linked in $fullSec%.1f s")

    // oracle: the same per-trace walk run directly, aggregated locally
    def agg(links: Seq[graft.model.DependencyLink]) =
      links.groupBy(l => (l.parent, l.child)).map { case (k, ls) =>
        k -> ((ls.map(_.callCount).sum, ls.map(_.errorCount).sum))
      }
    val allLocal = (0L until n).map(mk)
    val expected = agg(graft.link.DependencyLinker.link(allLocal))
    assert(out.map(l => (l.parent, l.child) -> ((l.callCount, l.errorCount))).toMap
      == expected)

    // capped run == linking exactly the documented earliest-10k subset
    val cap = 10000
    val capped = LinkJob.linkSpans(spans, Day, Admission.IndexDay,
      maxSpansPerTrace = cap).collect()
    val subset = allLocal.sortBy(s => (s.timestamp.getOrElse(Long.MaxValue), s.id, s.shared))
      .take(cap)
    assert(capped.map(l => (l.parent, l.child) -> ((l.callCount, l.errorCount))).toMap
      == agg(graft.link.DependencyLinker.link(subset)))
  }
}
