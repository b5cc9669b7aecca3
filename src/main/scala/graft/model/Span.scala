package graft.model

import org.apache.spark.sql.types._

/** Core span record — the projection of a Zipkin v2 span actually consumed by
  * dependency linking (reference: cassandra3/.../CassandraRowToSpan.java:25-53;
  * field inventory SURVEY.md §1.1). Pure data, no Spark deps beyond the schema
  * companion, so the linker stays unit-testable without a session.
  *
  * All fields that may be absent are Options; `tags` is only ever inspected for
  * the presence of key "error" (CassandraRowToSpan.java:37-40).
  */
final case class Span(
    traceId: String,
    parentId: Option[String],
    id: String,
    kind: Option[String], // CLIENT | SERVER | PRODUCER | CONSUMER
    timestamp: Option[Long], // epoch MICROS (reference convention)
    duration: Option[Long],
    shared: Boolean,
    localServiceName: Option[String],
    remoteServiceName: Option[String],
    errorTag: Boolean // presence of tags["error"] — the only tag consumed
) {
  /** Low 64 bits of the trace id: last 16 hex chars
    * (ElasticsearchDependenciesJob.java:261-266 semantics). */
  def traceIdLow64: String = Span.low64(traceId)
}

object Span {
  val Client = "CLIENT"
  val Server = "SERVER"
  val Producer = "PRODUCER"
  val Consumer = "CONSUMER"

  /** Last 16 hex chars = low 64 bits (128-bit ids unify with their 64-bit
    * reports under this key — SURVEY §2.3 trace-id width semantics). */
  def low64(traceId: String): String =
    if (traceId.length <= 16) traceId else traceId.substring(traceId.length - 16)

  /** Spark schema of the Zipkin JSON v2 span document (FIXTURES.md §1.1). */
  val jsonV2Schema: StructType = StructType(Seq(
    StructField("traceId", StringType),
    StructField("parentId", StringType),
    StructField("id", StringType),
    StructField("kind", StringType),
    StructField("name", StringType),
    StructField("timestamp", LongType),
    StructField("duration", LongType),
    StructField("shared", BooleanType),
    StructField("localEndpoint", StructType(Seq(StructField("serviceName", StringType)))),
    StructField("remoteEndpoint", StructType(Seq(StructField("serviceName", StringType)))),
    StructField("tags", MapType(StringType, StringType))
  ))
}

/** Output edge of the link pipeline (zipkin2.DependencyLink shape —
  * SURVEY §1.1 item 3). */
final case class DependencyLink(
    parent: String,
    child: String,
    callCount: Long,
    errorCount: Long
)
