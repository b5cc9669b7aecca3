package graft.streaming

import graft.model.Span
import graft.pipeline.SparkTestSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

class StreamingLinkJobSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.get

  private def span(traceId: String, id: String, parentId: Option[String],
      kind: String, local: String, remote: String, tsMicros: Long,
      error: Boolean = false): Span =
    Span(traceId, parentId, id, Some(kind), Some(tsMicros), None, false,
      Some(local), Option(remote), error)

  test("stream links a trace after its event-time session gap passes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Span]
    val deltas = StreamingLinkJob.linkStream(input.toDS(), gapMinutes = 10)
    val query = deltas.writeStream.format("memory").queryName("links_out")
      .outputMode("append").start()
    try {
      val t0 = 1754870400000000L // 2025-08-11T00:00:00Z in micros
      // trace A: frontend -> backend
      input.addData(
        span("00000000000000a1", "01", None, "CLIENT", "frontend", "backend", t0),
        span("00000000000000a1", "02", Some("01"), "SERVER", "backend", null, t0 + 5000L))
      query.processAllAvailable()
      // nothing emitted yet — watermark hasn't passed the session gap
      assert(spark.sql("SELECT * FROM links_out").count() == 0)

      // a much later span pushes the watermark past trace A's gap
      input.addData(
        span("00000000000000b2", "03", None, "CLIENT", "x", "y", t0 + 3600L * 1000000L))
      query.processAllAvailable()
      // one more microbatch so timed-out state is flushed
      input.addData(
        span("00000000000000c3", "04", None, "CLIENT", "p", "q", t0 + 7200L * 1000000L))
      query.processAllAvailable()

      val rows = spark.sql("SELECT day, parent, child, callCount, errorCount FROM links_out")
        .as[(java.sql.Date, String, String, Long, Long)].collect().toSet
      assert(rows.exists(r => r._2 == "frontend" && r._3 == "backend" && r._4 == 1L))
      assert(rows.forall(_._1.toString == "2025-08-11" || rows.size > 1))
    } finally query.stop()
  }

  test("span arriving after its trace emitted re-opens state: additive delta") {
    // the streaming analogue of the reference's re-run-the-day model: late
    // evidence produces a supplementary delta (downstream runningTotals sum
    // deltas), never corruption or a dropped update
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Span]
    val deltas = StreamingLinkJob.linkStream(input.toDS(), gapMinutes = 10)
    val query = deltas.writeStream.format("memory").queryName("links_late")
      .outputMode("append").start()
    try {
      val t0 = 1754870400000000L
      input.addData(
        span("00000000000000d4", "01", None, "CLIENT", "frontend", "backend", t0),
        span("00000000000000d4", "02", Some("01"), "SERVER", "backend", null, t0 + 5000L))
      query.processAllAvailable()
      input.addData( // push watermark far past trace D's gap → D emits
        span("00000000000000e5", "03", None, "CLIENT", "x", "y", t0 + 3600L * 1000000L))
      query.processAllAvailable()
      input.addData(
        span("00000000000000f6", "04", None, "CLIENT", "p", "q", t0 + 7200L * 1000000L))
      query.processAllAvailable()
      val afterFirst = spark.sql(
        "SELECT count(*) FROM links_late WHERE parent='frontend'").first().getLong(0)
      assert(afterFirst == 1L)

      // a straggler for trace D, event time ahead of the watermark (so not
      // watermark-dropped) but long after D's session closed and emitted
      input.addData(
        span("00000000000000d4", "05", Some("02"), "SERVER", "db", "backend", t0 + 7200L * 1000000L))
      query.processAllAvailable()
      input.addData( // advance watermark past the re-opened session's gap
        span("00000000000000a7", "06", None, "CLIENT", "m", "n", t0 + 11000L * 1000000L))
      query.processAllAvailable()
      input.addData(
        span("00000000000000a8", "07", None, "CLIENT", "m", "n", t0 + 15000L * 1000000L))
      query.processAllAvailable()

      val rows = spark.sql("SELECT parent, child, callCount FROM links_late")
        .as[(String, String, Long)].collect().toSet
      // the straggler linked in its own supplementary pass: its parent span
      // is gone from state, so the remote service carries the parent side
      assert(rows.contains(("backend", "db", 1L)), s"supplementary delta expected, got $rows")
      assert(rows.contains(("frontend", "backend", 1L))) // original delta intact
    } finally query.stop()
  }

  test("a day of spans streamed in disorder equals the batch links exactly") {
    // the strongest streaming artifact: same input, arbitrary batch split,
    // summed deltas == the batch pipeline's links, link for link
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val path = getClass.getResource("/fixtures/spans_day.jsonl").getPath
    val all = graft.pipeline.LinkJob.readJsonV2(spark, path)
      .filter((s: Span) => s.timestamp.isDefined) // stream requires event time
      .collect().toSeq
    assert(all.nonEmpty)
    val batch = graft.pipeline.LinkJob
      .linkSpans(all.toDS(), "2025-08-11", graft.pipeline.Admission.IndexDay)
      .collect().map(l => (l.parent, l.child) -> (l.callCount, l.errorCount)).toMap

    val input = MemoryStream[Span]
    // gap > 1 day: every trace of the day sessions exactly once
    val deltas = StreamingLinkJob.linkStream(input.toDS(), gapMinutes = 25 * 60)
    val query = deltas.writeStream.format("memory").queryName("links_eq")
      .outputMode("append").start()
    try {
      val disordered = all.sortBy(_.id.hashCode) // deterministic disorder
      val (h1, h2) = disordered.splitAt(disordered.size / 2)
      input.addData(h1: _*); query.processAllAvailable()
      input.addData(h2: _*); query.processAllAvailable()
      // two far-future sentinels: first advances the watermark past every
      // session's gap, second triggers the timed-out state flush
      val tMax = all.flatMap(_.timestamp).max
      input.addData(span("00000000000000aa", "f1", None, "CLIENT",
        "zz-sentinel", "zz-sentinel", tMax + 3L * 86400L * 1000000L))
      query.processAllAvailable()
      input.addData(span("00000000000000ab", "f2", None, "CLIENT",
        "zz-sentinel", "zz-sentinel", tMax + 6L * 86400L * 1000000L))
      query.processAllAvailable()
      val streamed = spark.sql("SELECT parent, child, callCount, errorCount FROM links_eq")
        .as[(String, String, Long, Long)].collect().toSeq
        .filter(r => !r._1.startsWith("zz-") && !r._2.startsWith("zz-"))
        .groupBy(r => (r._1, r._2))
        .view.mapValues(v => (v.map(_._3).sum, v.map(_._4).sum)).toMap
      assert(streamed == batch, s"stream deltas $streamed != batch $batch")
    } finally query.stop()
  }

  test("the cap splits a tied client/server pair as the batch cap does, whatever arrives first") {
    // client and server halves of span b2 share timestamp and id: the cap
    // boundary falls between them, and the batch order (shared last) keeps
    // the client. The server half arrives one micro-batch earlier.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = 1754870400000000L
    val root = span("00000000000000b7", "a1", None, "SERVER", "frontend", null, t0)
    val client = span("00000000000000b7", "b2", Some("a1"), "CLIENT", "frontend", "proxy", t0 + 10L)
    val server = span("00000000000000b7", "b2", Some("a1"), "SERVER", "backend", null, t0 + 10L)
      .copy(shared = true)
    val child = span("00000000000000b7", "c3", Some("b2"), "CLIENT", "backend", "db", t0 + 20L)
    val cap = 2
    val batch = graft.pipeline.LinkJob.linkSpans(Seq(root, client, server, child).toDS(),
      "2025-08-11", graft.pipeline.Admission.IndexDay, maxSpansPerTrace = cap)
      .as[(String, String, Long, Long)].collect().toSet
    assert(batch == Set(("frontend", "proxy", 1L, 0L)))

    val input = MemoryStream[Span]
    val deltas = StreamingLinkJob.linkStream(input.toDS(), gapMinutes = 10, maxSpansPerTrace = cap)
    val query = deltas.writeStream.format("memory").queryName("links_cap_tie")
      .outputMode("append").start()
    try {
      input.addData(root, server); query.processAllAvailable()
      input.addData(client, child); query.processAllAvailable()
      input.addData(span("00000000000000b8", "f1", None, "CLIENT", "zz-sentinel", "zz-sentinel",
        t0 + 3600L * 1000000L))
      query.processAllAvailable()
      input.addData(span("00000000000000b9", "f2", None, "CLIENT", "zz-sentinel", "zz-sentinel",
        t0 + 7200L * 1000000L))
      query.processAllAvailable()
      val streamed = spark.sql("SELECT parent, child, callCount, errorCount FROM links_cap_tie")
        .as[(String, String, Long, Long)].collect().toSet
        .filter(r => !r._1.startsWith("zz-"))
      assert(streamed == batch, s"stream kept a different half: $streamed != $batch")
    } finally query.stop()
  }

  test("giant-trace cap keeps earliest spans and still links") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Span]
    val deltas = StreamingLinkJob.linkStream(input.toDS(), gapMinutes = 1, maxSpansPerTrace = 10)
    val query = deltas.writeStream.format("memory").queryName("links_cap")
      .outputMode("append").start()
    try {
      val t0 = 1754870400000000L
      val big = (0 until 50).map { i =>
        span("00000000000000d4", f"$i%02x", if (i == 0) None else Some(f"${i - 1}%02x"),
          if (i % 2 == 0) "CLIENT" else "SERVER", s"svc${i % 3}", s"svc${(i + 1) % 3}",
          t0 + i * 1000L)
      }
      input.addData(big: _*)
      query.processAllAvailable()
      input.addData(span("00000000000000e5", "ff", None, "CLIENT", "x", "y",
        t0 + 7200L * 1000000L))
      query.processAllAvailable()
      input.addData(span("00000000000000e6", "fe", None, "CLIENT", "x", "y",
        t0 + 9600L * 1000000L))
      query.processAllAvailable()
      val n = spark.sql("SELECT count(*) FROM links_cap").as[Long].head()
      assert(n > 0) // capped trace still produced links from its earliest spans
    } finally query.stop()
  }
}
