package graft.pipeline

import graft.expr.AsciiCaseFold
import graft.link.DependencyLinker
import graft.model.{DependencyLink, Span}
import org.apache.spark.sql.{Column, DataFrame, Dataset, ExpressionColumn, SparkSession}
import org.apache.spark.sql.functions._

/** Admission semantics differ per reference backend and must be explicit
  * (SURVEY §2.3): which spans/traces of the scanned data contribute to a day. */
sealed trait Admission
object Admission {
  /** Cassandra path: a trace contributes only if every parentless span has a
    * timestamp inside the window (SpansToDependencyLinks.java:36-42). */
  case object RootInWindow extends Admission
  /** MySQL path: per-span predicate start_ts BETWEEN lo AND hi
    * (MySQLDependenciesJob.java:188-196) — pushed down before grouping. */
  case object PerSpanWindow extends Admission
  /** ES/OS path: the daily index IS the predicate; everything read is admitted
    * (ElasticsearchDependenciesJob.java:173,180). */
  case object IndexDay extends Admission
}

/** The end-to-end dependency-link pipeline, Spark-first (SURVEY §3.4):
  * declarative scan → (pushed-down) day filter → typed island
  * groupBy(traceKey).flatMapSortedGroups(capOrder)(linkTrace) → relational
  * groupBy(parent,child).agg(sum,sum) → day-partitioned overwrite sink.
  *
  * Scale notes (100 TB posture):
  *  - the only wide ops are the trace shuffle and the tiny (|services|²)
  *    link aggregation; the link agg gets map-side partial aggregation for
  *    free from Catalyst (HashAggregate partial → Exchange → final).
  *  - span-level filters/projections stay relational so Parquet pushdown and
  *    column pruning apply before the typed island (verified via .explain —
  *    see PlanSpec). The trace key is a column too, so spans reach the
  *    shuffle as rows, never as objects.
  *  - Spark's external sorter orders each trace by the cap order (and
  *    spills), so with a cap set an island holds at most `maxSpansPerTrace`
  *    spans, however large the trace.
  *  - the result is persisted before reuse: the reference recomputed its whole
  *    lineage twice (isEmpty + save, BASELINE.md); we do not.
  */
object LinkJob {

  /** Read Zipkin JSON v2 span documents (one object per line) into the typed
    * span projection. PERMISSIVE parse: corrupt records dropped (P9 —
    * TraceIdAndJsonToDependencyLinks.java:35-44 logs & skips). A missing
    * day path yields an EMPTY dataset, matching the reference's
    * ES_INDEX_READ_MISSING_AS_EMPTY=true (ElasticsearchDependenciesJob
    * .java:66) — a day with no index is a day with no spans, not a failure. */
  def readJsonV2(spark: SparkSession, path: String): Dataset[Span] =
    fromJsonV2Shape(readOrEmpty(spark, path, Span.jsonV2Schema)(_.json(path)))

  /** `read` over `path` with `schema`, or an empty frame of that schema when
    * nothing matches `path` (a literal path or a day glob): the file
    * sources' missing-day-is-empty rule. */
  private def readOrEmpty(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType)(
      read: org.apache.spark.sql.DataFrameReader => DataFrame): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val glob = p.getFileSystem(spark.sparkContext.hadoopConfiguration).globStatus(p)
    if (glob != null && glob.nonEmpty) read(spark.read.schema(schema))
    else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  /** Same projection from an already-loaded DataFrame in JSON v2 nested shape
    * (e.g. parquet with localEndpoint/remoteEndpoint structs + tags map).
    * Ids fold A–Z to a–z and kind to upper case with the ASCII kernel
    * [[graft.expr.AsciiCase]] (why not `lower`/`upper`: see there); other
    * bytes are kept. */
  def fromJsonV2Shape(df: DataFrame): Dataset[Span] = {
    val spark = df.sparkSession
    import spark.implicits._
    df
      .where($"traceId".isNotNull && $"id".isNotNull)
      .select(
        normalizeTraceId(asciiFold($"traceId", upper = false)).as("traceId"),
        asciiFold($"parentId", upper = false).as("parentId"),
        asciiFold($"id", upper = false).as("id"),
        asciiFold($"kind", upper = true).as("kind"),
        $"timestamp",
        $"duration",
        coalesce($"shared", lit(false)).as("shared"),
        $"localEndpoint.serviceName".as("localServiceName"),
        $"remoteEndpoint.serviceName".as("remoteServiceName"),
        // only the presence of the "error" tag is consumed (P7)
        coalesce(map_contains_key($"tags", "error"), lit(false)).as("errorTag")
      )
      .withColumn("kind",
        when($"kind".isin(Span.Client, Span.Server, Span.Producer, Span.Consumer), $"kind"))
      .as[Span]
  }

  private def asciiFold(c: Column, upper: Boolean): Column =
    ExpressionColumn(AsciiCaseFold(ExpressionColumn.expression(c), upper))

  /** Zero-pad a non-empty trace id to 16 hex chars when shorter, and to 32
    * when 17–31 chars long (`zipkin2.Span.normalizeTraceId`), so a short id
    * groups with its padded report. */
  private def normalizeTraceId(traceId: Column): Column = {
    val width = length(traceId)
    when(width.between(1, 15), lpad(traceId, 16, "0"))
      .when(width.between(17, 31), lpad(traceId, 32, "0"))
      .otherwise(traceId)
  }

  /** Flattened-CSV span source (header row required): columns
    * `traceId,parentId,id,kind,timestamp,duration,shared,localServiceName,
    * remoteServiceName,error` — the JSON v2 projection with endpoints and
    * the error tag pre-flattened (CSV has no nested types). An `error` cell
    * that is non-empty marks the span errored, matching the
    * only-key-presence-matters tag semantics of P7. Reuses the same
    * normalization path as every other source (fromJsonV2Shape). */
  val csvSpanSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("traceId", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("parentId", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("kind", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("timestamp", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("duration", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("shared", org.apache.spark.sql.types.BooleanType),
      org.apache.spark.sql.types.StructField("localServiceName", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("remoteServiceName", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("error", org.apache.spark.sql.types.StringType)))

  /** The [[csvSpanSchema]] files at `path` as spans; a missing day path is
    * an empty day, as for [[readJsonV2]]. */
  def readCsvSpans(spark: SparkSession, path: String): Dataset[Span] = {
    val raw = readOrEmpty(spark, path, csvSpanSchema)(_.option("header", "true").csv(path))
    fromJsonV2Shape(raw.select(
      col("traceId"), col("parentId"), col("id"), col("kind"),
      col("timestamp"), col("duration"), col("shared"),
      struct(col("localServiceName").as("serviceName")).as("localEndpoint"),
      struct(col("remoteServiceName").as("serviceName")).as("remoteEndpoint"),
      when(col("error").isNotNull && col("error") =!= "",
        map(lit("error"), col("error"))).as("tags")))
  }

  /** UTC day window [startMicros, endMicros] for a yyyy-MM-dd day string —
    * day*1000_000 … +86399999999 (CassandraDependenciesJob.java:168-169). */
  def dayWindowMicros(day: String): (Long, Long) = {
    val d = java.time.LocalDate.parse(day)
    val start = d.atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli * 1000L
    (start, start + 86399999999L)
  }

  /** Apply admission semantics for one day window. RootInWindow is expressed
    * relationally (a groupBy-derived trace verdict joined back would shuffle;
    * instead we compute the verdict inside the linker group where the trace is
    * already co-located — zero extra shuffles). */
  def admit(spans: Dataset[Span], admission: Admission, lo: Long, hi: Long): Dataset[Span] = {
    val spark = spans.sparkSession
    import spark.implicits._
    admission match {
      case Admission.PerSpanWindow =>
        // pushed to the scan by Catalyst (PushedFilters on timestamp)
        spans.filter($"timestamp".isNotNull && $"timestamp".between(lo, hi))
      case _ => spans // RootInWindow is enforced per-trace in linkSpans
    }
  }

  /** The trace grouping key: `traceId` verbatim when strict, else its low
    * 64 bits (last 16 hex chars, `Span.low64`), so 128-bit ids unify with
    * their 64-bit reports (SURVEY §2.3). Batch and streaming group on it. */
  def traceKey(traceId: Column, strict: Boolean): Column =
    if (strict) traceId else substring(traceId, -16, 16).as("traceKey")

  /** The giant-trace cap order (SURVEY §4.2): earliest first with a missing
    * timestamp last, then id, then shared — so a client/server pair that ties
    * on (timestamp, id) is split the same way whatever the arrival order.
    * `capOrder` sorts the batch groups; `capOrdering` is the same order on
    * spans for the streaming state. Change them together. */
  val capOrder: Seq[Column] = Seq(col("timestamp").asc_nulls_last, col("id"), col("shared"))
  val capOrdering: Ordering[Span] =
    Ordering.by(s => (s.timestamp.isEmpty, s.timestamp.getOrElse(0L), s.id, s.shared))

  /** One trace of the island, its spans in cap order: keep the first `cap`
    * (all when 0), drop the trace when `rootWindow` is set and a kept
    * parentless span lacks a timestamp inside it (SpansToDependencyLinks
    * .java:36-42), then link. Pulls at most `cap` spans from `spans`; under
    * RootInWindow [[linkSpans]] sorts such a span first, so the kept spans
    * judge the whole trace. */
  private[pipeline] def linkTrace(spans: Iterator[Span], cap: Int,
      rootWindow: Option[(Long, Long)]): Seq[DependencyLink] = {
    val kept = (if (cap > 0) spans.take(cap) else spans).toVector
    val admitted = rootWindow.forall { case (lo, hi) =>
      kept.forall(s => s.parentId.isDefined || s.timestamp.exists(ts => ts >= lo && ts <= hi))
    }
    if (admitted) DependencyLinker.link(kept) else Nil
  }

  /** Core: spans → per-day dependency links.
    *
    * @param admission which spans/traces count toward the day; RootInWindow
    *   is judged per trace inside the island, where the trace is co-located,
    *   on all of its spans, the ones past the cap included
    * @param strict    group by stored traceId verbatim vs low-64 unification
    *   ([[traceKey]])
    * @param maxSpansPerTrace giant-trace guard (SURVEY §4.2): a trace keeps
    *   its first `maxSpansPerTrace` spans in [[capOrder]], taken from the
    *   sorted group so the island holds no more. 0 = off (reference
    *   behavior). Salting cannot preserve tree-walk semantics, so a
    *   documented cap is the honest skew mitigation. */
  def linkSpans(
      spans: Dataset[Span],
      day: String,
      admission: Admission = Admission.IndexDay,
      strict: Boolean = false,
      maxSpansPerTrace: Int = 0
  ): Dataset[DependencyLink] = {
    val spark = spans.sparkSession
    import spark.implicits._
    val (lo, hi) = dayWindowMicros(day)
    val rootWindow = if (admission == Admission.RootInWindow) Some((lo, hi)) else None
    // Under RootInWindow a parentless span outside the window sorts first, so
    // the cap never cuts the span that drops its trace. An admitted trace has
    // none, so its spans keep the cap order.
    val order =
      if (rootWindow.isEmpty) capOrder
      else ($"parentId".isNull && !coalesce($"timestamp".between(lo, hi), lit(false))).desc +: capOrder
    admit(spans, admission, lo, hi)
      .groupBy(traceKey($"traceId", strict))
      .as[String, Span]
      .flatMapSortedGroups(order: _*)((_, it) => linkTrace(it, maxSpansPerTrace, rootWindow))
      .groupBy($"parent", $"child")
      .agg(sum($"callCount").as("callCount"), sum($"errorCount").as("errorCount"))
      .as[DependencyLink]
  }

  /** Sink: day-partitioned dynamic partition overwrite — the idempotent
    * re-run/upsert semantics of the reference sinks (P15-P17). `format`
    * selects the storage codec (parquet default; orc/json/csv keep the same
    * day-overwrite semantics — the partition layout, not the codec, is what
    * makes re-runs safe). Dynamic overwrite is a write option, so the
    * caller's session conf is left as it was. */
  def writeLinks(links: Dataset[DependencyLink], day: String, outPath: String,
      format: String = "parquet"): Unit = {
    val w = links.withColumn("day", lit(java.sql.Date.valueOf(day)))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("day").format(format)
    // csv keeps a header row — symmetric with readCsvSpans (which requires
    // one) and non-lossy for downstream consumers of the links table
    (if (format == "csv") w.option("header", "true") else w).save(outPath)
  }

  /** One day end-to-end: link → persist → count → write when non-empty.
    * The count is the one action before the sink; an empty day writes no
    * partition. Returns the persisted links and their count — the caller
    * owns the cache and unpersists when done consuming. */
  def runDay(
      spans: Dataset[Span],
      day: String,
      outPath: String,
      admission: Admission = Admission.IndexDay,
      strict: Boolean = false,
      outFormat: String = "parquet"
  ): (Dataset[DependencyLink], Long) = {
    val links = linkSpans(spans, day, admission, strict).persist()
    val n = links.count()
    if (n > 0) writeLinks(links, day, outPath, outFormat)
    (links, n)
  }
}
