package graft.streaming

import graft.link.DependencyLinker
import graft.model.{DependencyLink, Span}
import graft.pipeline.LinkJob
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming dependency linking (new-engine extension; the reference is a
  * cron-batch job — SURVEY §2.4 declares this Structured-Streaming mode).
  *
  * Model: spans stream in (any streaming source producing the JSON v2 shape);
  * a trace is assembled in keyed state until its event-time session gap
  * expires (no span for `gapMinutes` past the watermark), then the whole
  * trace is linked once and its links are emitted as deltas. Because the
  * reference's semantics are per-complete-trace (tree walk), a per-trace
  * session window — not a tumbling aggregate — is the correct streaming
  * translation; downstream running totals are a plain streaming
  * groupBy(parent,child) in update mode, and a 1-day tumbling event-time
  * window over the deltas reproduces the batch day-bucket semantics.
  *
  * Scale posture: state per open trace is bounded by `maxSpansPerTrace`
  * (giant-trace guard — same skew hazard as the batch path, SURVEY §4.2).
  * Traces are keyed by the batch key (`LinkJob.traceKey`) and capped in the
  * batch order (`LinkJob.capOrdering`), so a trace keeps the spans the batch
  * cap keeps, whatever their arrival order. The drop is not reported yet:
  * `TraceState.dropped` is never emitted and stays so that existing
  * checkpoints resume.
  */
object StreamingLinkJob {

  /** Spans buffered for one in-flight trace, and how many the cap cut. */
  case class TraceState(spans: Seq[Span], dropped: Long)

  /** Per-trace link deltas with the trace's UTC day bucket (from its earliest
    * span) — (day, parent, child, callCount, errorCount). */
  case class LinkDelta(day: java.sql.Date, parent: String, child: String,
      callCount: Long, errorCount: Long)

  def linkStream(
      spans: Dataset[Span],
      gapMinutes: Int = 10,
      strict: Boolean = false,
      maxSpansPerTrace: Int = 100000): Dataset[LinkDelta] = {
    val spark = spans.sparkSession
    import spark.implicits._

    val gapMs = gapMinutes * 60L * 1000L
    spans
      .where($"timestamp".isNotNull) // event time is the span timestamp
      .withColumn("eventTime", timestamp_micros($"timestamp"))
      .withWatermark("eventTime", s"$gapMinutes minutes")
      .groupBy(LinkJob.traceKey($"traceId", strict))
      .as[String, Span]
      .flatMapGroupsWithState[TraceState, LinkDelta](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: String, rows: Iterator[Span], state: GroupState[TraceState]) =>
          if (state.hasTimedOut) {
            // session gap elapsed: link the complete trace, emit, clear
            val st = state.get
            state.remove()
            val links = DependencyLinker.link(st.spans)
            val dayMs = st.spans.flatMap(_.timestamp).minOption
              .map(us => us / 1000L - Math.floorMod(us / 1000L, 86400000L))
              .getOrElse(0L)
            val day = new java.sql.Date(dayMs)
            links.iterator.map(l =>
              LinkDelta(day, l.parent, l.child, l.callCount, l.errorCount))
          } else {
            val prev = state.getOption.getOrElse(TraceState(Nil, 0L))
            val all = prev.spans ++ rows
            val kept =
              if (maxSpansPerTrace > 0 && all.size > maxSpansPerTrace)
                all.sorted(LinkJob.capOrdering).take(maxSpansPerTrace)
              else all
            state.update(TraceState(kept, prev.dropped + (all.size - kept.size)))
            // extend the session: timeout at (max event time in trace) + gap,
            // but never behind the current watermark + 1ms (else immediate
            // re-timeout before new data can arrive)
            val maxEventMs = kept.flatMap(_.timestamp).maxOption.map(_ / 1000L).getOrElse(0L)
            val floorMs = state.getCurrentWatermarkMs() + 1L
            state.setTimeoutTimestamp(math.max(maxEventMs + gapMs, floorMs))
            Iterator.empty
          }
      }
  }

  /** Running link totals (update mode): sum deltas by (day, parent, child). */
  def runningTotals(deltas: Dataset[LinkDelta]): Dataset[DependencyLink] = {
    val spark = deltas.sparkSession
    import spark.implicits._
    deltas.groupBy($"day", $"parent", $"child")
      .agg(sum($"callCount").as("callCount"), sum($"errorCount").as("errorCount"))
      .select($"parent", $"child", $"callCount", $"errorCount")
      .as[DependencyLink]
  }
}
