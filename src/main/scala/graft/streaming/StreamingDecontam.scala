package graft.streaming

import graft.expr.{GramOverlapMax, ProbeGramIndex}
import org.apache.spark.sql.{Column, DataFrame, ExpressionColumn}
import org.apache.spark.sql.functions._

/** Streaming benchmark decontamination — the ingest-time counterpart of the
  * batch q51 contamination join, for screening documents AS they arrive
  * instead of quarantining after the fact.
  *
  * The batch query can broadcast-join the corpus against the probe grams
  * because an action materializes both sides; a stream cannot re-shuffle
  * its unbounded side per probe, so the probe set becomes a compact
  * [[ProbeGramIndex]] (built once from the static eval frame — a
  * driver-side collect of the probe grams, small by definition, the same
  * documented exception as the ANN centroid pull) and each arriving row is
  * screened by the codegen'd [[GramOverlapMax]] expression: stateless,
  * append-mode, no watermark, no state store, no shuffle. Gram formation
  * and hashing are bit-identical to the batch join key (TextHash.wordNGrams
  * + xxhash64 seed 42), and `max_shared >= minShared` reproduces the batch
  * decision "shares >= minShared distinct grams with SOME single probe"
  * exactly — pinned in StreamingDecontamSpec.
  */
object StreamingDecontam {

  /** Build the probe index from the static probes frame. One collect of
    * (probe ordinal, gram hash) pairs — |eval set| sized, not corpus
    * sized. */
  def probeIndex(probes: DataFrame, textCol: String = "text", n: Int = 3): ProbeGramIndex = {
    graft.expr.GraftFunctions.ensureRegistered(probes.sparkSession)
    val withIdx = probes.select(col(textCol))
      .withColumn("_p", (row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(monotonically_increasing_id())) - 1)
        .cast("int"))
    val pairs = withIdx
      .select(col("_p"),
        explode(graft.expr.GraftFunctions.wordNGrams(col(textCol), n)).as("_g"))
      .select(col("_p"), xxhash64(col("_g")).as("_h"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1)))
      .toSeq
    val nProbes = withIdx.count().toInt
    ProbeGramIndex.build(pairs, math.max(nProbes, 1))
  }

  /** The screening column: max distinct-gram overlap against any probe. The
    * index rides inside the expression (serialized with the plan). */
  def maxSharedCol(text: Column, n: Int, index: ProbeGramIndex): Column =
    ExpressionColumn(GramOverlapMax(ExpressionColumn.expression(text), n, index))

  /** Annotate each (static or streaming) document with its overlap count. */
  def annotate(docs: DataFrame, index: ProbeGramIndex,
      textCol: String = "text", n: Int = 3): DataFrame =
    docs.withColumn("max_shared",
      maxSharedCol(col(textCol), n, index))

  /** The gate: only documents below the contamination threshold flow
    * downstream (the arriving-corpus side of the q51 rule). */
  def screen(docs: DataFrame, index: ProbeGramIndex,
      minShared: Int = 2, textCol: String = "text", n: Int = 3): DataFrame =
    annotate(docs, index, textCol, n)
      .where(col("max_shared") < minShared).drop("max_shared")
}
