package graft.operators

import graft.pipeline.{Admission, LinkJob, SparkTestSession}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Attribute, Lower, Upper}
import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan contracts — the scale promises of SURVEY §4 as assertions,
  * so a regression that silently de-optimizes a plan (lost pushdown, lost
  * broadcast, extra shuffle, lost partial agg) fails the build. */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.get
  /** Plan traversal that descends into adaptive plans and query stages. */
  private object AQEPlans extends AdaptiveSparkPlanHelper {
    /** Children, looking into adaptive plans and query stages. */
    def kids(p: SparkPlan): Seq[SparkPlan] = allChildren(p)
  }
  private val sf = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(FormattedMode)

  test("q01: column pruning reaches the parquet scan") {
    val p = plan(ContractQueries.q01(spark, sf))
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double>"))
  }

  test("q02: timestamp window is pushed into the scan") {
    val p = plan(ContractQueries.q02(spark, sf))
    assert(p.contains("GreaterThanOrEqual(l_shipdate") && p.contains("LessThanOrEqual(l_shipdate"))
  }

  test("q03: aggregation is partial before the exchange") {
    val p = plan(ContractQueries.q03(spark, sf))
    val firstAgg = p.indexOf("HashAggregate")
    val exchange = p.indexOf("Exchange")
    assert(firstAgg >= 0 && exchange >= 0)
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "map-side partial aggregation expected")
  }

  test("q05: dimension join is broadcast, not shuffle") {
    val p = plan(ContractQueries.q05(spark, sf))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("q16: top-k plans as TakeOrderedAndProject (no global sort)") {
    val p = plan(ContractQueries.q16(spark, sf))
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("q21: exact dedup keys the corpus-wide exchanges on digests only") {
    val p = plan(NorthStarQueries.dedupKeepFirst(spark, sf))
    val parts = p.linesIterator.filter(_.contains("hashpartitioning(")).toSeq
    assert(parts.exists(_.contains("_d1#")), s"digest-keyed exchange expected\n$p")
    // the ONLY payload-keyed exchange allowed is the collision-resolve pass,
    // which is restricted to broadcast-semi-flagged digests (~0 rows)
    assert(parts.count(_.contains("text#")) <= 1,
      s"full-corpus payload shuffle detected\n${parts.mkString("\n")}")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      "collision resolve must be broadcast-semi restricted")
  }

  test("bucketed corpus layout: the dedup survivor join co-locates the payload side") {
    // the 100 TB claim in exactDedup's doc: with the corpus bucketed by the
    // unique id, the final left-semi join shuffles only the winner-id side —
    // the payload side reads its buckets in place.
    val s = spark
    import s.implicits._
    spark.sql("DROP TABLE IF EXISTS docs_bucketed")
    Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("doc_id", "text")
      .write.bucketBy(8, "doc_id").sortBy("doc_id").saveAsTable("docs_bucketed")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force shuffle join
    try {
      val docs = spark.table("docs_bucketed")
      // winners come from elsewhere (the digest aggregation), NOT the
      // bucketed scan — only they should move
      val winners = Seq(1L, 3L).toDF("_win")
      val joined = docs.join(winners,
        org.apache.spark.sql.functions.col("doc_id") === org.apache.spark.sql.functions.col("_win"),
        "left_semi")
      val p = plan(joined)
      assert(p.contains("Bucketed: true"), s"bucketed scan expected\n$p")
      val exchanges = p.linesIterator.filter(_.trim.matches("\\(\\d+\\) Exchange.*")).size
      assert(exchanges == 1, s"only the winner-id side may shuffle, got $exchanges\n$p")
      val parts = p.linesIterator.filter(_.contains("hashpartitioning(")).toSeq
      assert(parts.forall(_.contains("_win#")),
        s"the single exchange must be the winner ids, not the payload\n${parts.mkString("\n")}")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS docs_bucketed")
    }
  }

  test("q53: the event-type filters reach the events scan") {
    val p = plan(PipelineQueries.asofViewBeforeClick(spark, sf))
    assert(p.contains("EqualTo(event_type,click)") && p.contains("EqualTo(event_type,view)"),
      s"as-of inputs must prune at the scan\n$p")
  }

  test("q54: range join plans as a hash equi-join on the time bucket") {
    val p = plan(PipelineQueries.windowRangeCounts(spark, sf))
    assert(p.contains("BroadcastHashJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("SortMergeJoin"), s"bucket equi-join expected\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"interval containment must not plan a theta join\n$p")
  }

  test("q59: the bottom-k sketch aggregates partially before the exchange") {
    val p = plan(PipelineQueries.sourceOverlap(spark, sf))
    // typed Aggregator UDAFs plan as ObjectHashAggregate partial -> final;
    // the sketch must combine map-side, not ship raw hashes to one reducer
    assert(p.contains("ObjectHashAggregate"), s"sketch UDAF aggregate expected\n$p")
    assert(p.contains("partial_bottomkaggregator"),
      s"map-side partial sketch aggregation expected\n$p")
  }

  test("q67: df aggregation combines map-side; term filter applied before grouping") {
    val p = plan(PipelineQueries.bm25TopK(spark, sf))
    assert(p.contains("partial_count"), s"postings/df aggregation must combine map-side\n$p")
    // the term restriction must run INSIDE the token array, before the
    // generator (round 11): the explode emits query-term hits only, so the
    // corpus token stream never exists as rows, let alone reaches a shuffle
    assert(p.contains("array_contains") && p.contains("filter("),
      s"pre-explode array term filter expected in plan\n$p")
  }

  test("q68: per-lang rollup is one partial+final aggregation (no extra shuffle)") {
    val p = plan(PipelineQueries.repetitionStats(spark, sf))
    val exchangeCount = p.linesIterator.count(l => l.trim.matches("\\(\\d+\\) Exchange.*"))
    // one shuffle for the lang rollup, one for the final orderBy range
    // partitioning - nothing else
    assert(exchangeCount <= 2, s"lang rollup + sort expected, got $exchangeCount\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"map-side partial aggregation expected\n$p")
  }

  test("q73: row rules share ONE scan; uniqueness adds one key-only scan each") {
    val p = plan(PipelineQueries.qualityReport(spark, sf))
    val scans = p.linesIterator.count(l => l.trim.matches("\\(\\d+\\) Scan parquet.*"))
    // 1 scan for all three row rules + 1 per unique rule = 3 total
    assert(scans == 3, s"expected 3 scans (row rules fused into one), got $scans\n$p")
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      s"violation counting must combine map-side\n$p")
  }

  test("q76: incremental admission shuffles sketches and ids, never document payloads") {
    // the 100 TB promise: the probe join and the cap window move band keys,
    // ids and k-long signatures; the text column must not reach any exchange
    val p = plan(PortableQueries.incrementalDedup(spark, sf))
    val parts = p.linesIterator.filter(_.contains("hashpartitioning(")).toSeq
    assert(parts.nonEmpty)
    assert(!parts.exists(_.contains("text#")),
      s"document payload in a shuffle\n${parts.mkString("\n")}")
  }

  test("q51: gram join broadcasts the probe side even under a tightened threshold; " +
    "shuffles carry counts, never gram strings") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1024") // 1 KB — hint must win
    try {
      val p = plan(NorthStarQueries.contaminationReport(spark, sf))
      assert(p.contains("BroadcastHashJoin"), s"probe gram join must broadcast\n$p")
      assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
        s"gram join degraded to a shuffle join\n$p")
      // the only exchanges allowed: the spread repartition, the (doc, probe)
      // count aggregation, and the output sort — none may carry gram data
      val parts = p.linesIterator.filter(_.contains("hashpartitioning(")).toSeq
      assert(!parts.exists(l => l.contains("_g#") || l.contains("_h#") || l.contains("text#")),
        s"gram strings/hashes or payload in a shuffle\n${parts.mkString("\n")}")
      assert(p.contains("partial_count"), "shared-gram count must combine map-side")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q24/q66: the LSH near-dup family exchanges key on bands/ids, never gram or text data") {
    for ((name, df) <- Seq(
      "q24" -> NorthStarQueries.ngramNearDups(spark, sf),
      "q66" -> PortableQueries.dedupKeepBest(spark, sf))) {
      val p = plan(df)
      val parts = p.linesIterator.filter(_.contains("hashpartitioning(")).toSeq
      assert(parts.nonEmpty, s"$name: expected keyed exchanges")
      assert(!parts.exists(l => l.contains("text#") || l.contains("_g#") || l.contains("_set#")),
        s"$name: gram/text data keyed a shuffle\n${parts.mkString("\n")}")
      // the candidate-id restriction must broadcast (verify stage shingles
      // candidates only — the |candidates| ≪ |docs| promise)
      assert(p.contains("BroadcastExchange"), s"$name: candidate restriction must broadcast")
    }
    spark.sharedState.cacheManager.clearCache()
  }

  test("q78: containment probe side is broadcast; top-3 rank pushes a group limit") {
    val p = plan(NorthStarQueries.containmentDecontam(spark, sf))
    assert(p.contains("BroadcastHashJoin"), "probe gram join must broadcast")
    // rank <= 3 must reach the window as a group-limit (partial top-k before
    // the per-probe sort), not a full sort + filter
    assert(p.contains("WindowGroupLimit"), s"expected WindowGroupLimit\n$p")
  }

  test("q80: novelty exchanges key on the 8-byte gram hash, never gram strings") {
    val p = plan(PipelineQueries.ngramNovelty(spark, sf))
    val parts = p.linesIterator.filter(_.contains("hashpartitioning(")).toSeq
    assert(parts.exists(_.contains("_h#")), s"hash-keyed exchange expected\n$p")
    assert(!parts.exists(p0 => p0.contains("_g#") || p0.contains("text#")),
      s"gram-string or payload shuffle detected\n${parts.mkString("\n")}")
  }

  test("q97: boilerplate exchanges key on ids and the 8-byte gram hash, never text") {
    val p = plan(SelectionQueries.boilerplate(spark, sf))
    val parts = p.linesIterator.filter(_.contains("hashpartitioning(")).toSeq
    assert(parts.exists(_.contains("_g#")), s"gram-hash-keyed exchange expected\n$p")
    assert(!parts.exists(l => l.contains("text#") || l.contains("_t#")),
      s"text or token-array data keyed a shuffle\n${parts.mkString("\n")}")
    spark.sharedState.cacheManager.clearCache()
  }

  test("q105: chunk dedup exchanges key on the 8-byte digest, never token arrays") {
    val p = plan(CurationQueries.chunkDedup(spark, sf))
    val parts = p.linesIterator.filter(_.contains("hashpartitioning(")).toSeq
    assert(parts.exists(_.contains("_h#")), s"digest-keyed exchange expected\n$p")
    assert(!parts.exists(l => l.contains("text#") || l.contains("_ts#")),
      s"text or token-array data keyed a shuffle\n${parts.mkString("\n")}")
    // keep-first is a MIN aggregation with a map-side partial, not a window
    assert(p.contains("partial_min"), s"partial min expected\n$p")
    assert(!p.contains("Window"), s"no window/sort expected\n$p")
    spark.sharedState.cacheManager.clearCache()
  }

  test("q106: top-k is a TakeOrdered, and the pair agg follows a vocab-bounded agg") {
    val p = plan(PipelineQueries.bpePairs(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), s"TakeOrdered expected, not a global sort\n$p")
    // two aggregations: token->count (corpus) then pair->sum (vocab-bounded),
    // both with map-side partials
    assert(p.contains("partial_count") && p.contains("partial_sum"),
      s"partial aggregation expected at both levels\n$p")
  }

  test("q107/q108: the <=64-row vocab joins broadcast, never shuffling the corpus side") {
    for (df <- Seq(PipelineQueries.oovRate(spark, sf), PipelineQueries.tokenIds(spark, sf))) {
      val p = plan(df)
      assert(p.contains("BroadcastHashJoin"), s"vocab join must broadcast\n$p")
      assert(!p.contains("SortMergeJoin"), s"no sort-merge join expected\n$p")
      spark.sharedState.cacheManager.clearCache()
    }
  }

  test("no accidental cartesian/nested-loop joins anywhere in the query surface") {
    // the only legitimate non-equi joins: q27's documented brute-force
    // broadcast-cross oracle path, q35's cross-join operator itself, and
    // the one-row corpus-constants broadcasts in q67 (N/avgLen onto
    // postings), q81 (corpus token total onto the vocabulary), q84 (the
    // vocabulary size V onto the scoring join), and q86 (token total +
    // raw-weight sum onto the per-source frame) — a keyless 1-row join is
    // BNLJ by construction and O(|other side|); q92 inherits q86's two
    // one-row constant joins (token total + raw-weight sum)
    // q104/q109 embed q27's brute-force broadcast-cross pass as ground truth
    val allowNestedLoop = Set(
      "q27_embedding_topk", "q35_cross_join", "q67_bm25_topk", "q81_source_drift",
      "q84_bigram_lm", "q86_mix_weights", "q92_mixture_sample",
      "q96_embedding_filter", "q98_dedup_recall", "q99_pipeline_funnel",
      "q104_ann_recall", "q109_pq_recall",
      // q112: each ref rule attaches its 1-row total via a keyless
      // broadcast join (the q86 one-row-constants pattern)
      "q112_ref_integrity",
      // q113: the 1-row corpus-totals frame broadcasts onto the 128-row
      // bucket aggregate (q86 pattern); per-token scoring itself is a
      // keyed broadcast-hash join
      "q113_importance_weights",
      // q115: embeds q67's one-row corpus constants AND q27's brute-force
      // broadcast-cross centroid ranking (5 centroids x corpus)
      "q115_hybrid_rrf",
      // q138: the census row is three 1-row aggregate frames (node/wedge,
      // edge, triangle counts) cross-joined — keyless 1-row BNLJ by
      // construction (the q86 one-row-constants pattern)
      "q138_triangle_census",
      // q156: q67's one-row corpus-constants broadcast onto the postings
      "q156_retrieval_eval",
      // q158: NB scoring fans every doc-gram row out to |langs| scored rows
      // via a keyless broadcast of the |langs|-row model-stats frame (5
      // rows) — bounded-model BNLJ by construction (the q86 pattern)
      "q158_language_id",
      // q167/q170: the 1-row host-count / kept-weight-total frames attach
      // via keyless broadcasts onto the |hosts|-row reputation table (the
      // q86 one-row-constants pattern; both sides host-bounded)
      "q167_host_reputation", "q170_reputation_select",
      // q169 embeds q158's |langs|-row model-stats broadcast fan-out
      "q169_ccnet_composition",
      // q177: the per-round water-fill scalars are one-row aggregates
      // attached by keyless broadcast onto the |sources|-row state (the
      // q86 one-row-constants pattern)
      "q177_epoch_mix",
      // q180: the ≤64-row ⌈log2⌉ histogram joins the 17 k-rows on an
      // inequality — a bounded-model nested loop by construction; plus the
      // one-row token-total broadcast
      "q180_vocab_growth",
      // q181: the one-row grand-total broadcast onto the ≤8-cell cross-tab
      "q181_signal_agreement",
      // q182: the one-row corpus-count broadcast onto the |sources| rows
      "q182_mixing_audit",
      // q187: the one-row corpus byte/token totals broadcast onto the
      // |langs|-row fertility rollup
      "q187_lang_fertility")
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val p = plan(fn(spark, sf))
      assert(!p.contains("CartesianProduct"), s"$name plans a cartesian product")
      if (!allowNestedLoop(name))
        assert(!p.contains("BroadcastNestedLoopJoin"),
          s"$name plans a nested-loop join")
    }
    // building 186 query plans registers every query's persist() in the
    // cache manager; a lingering cached docs subtree would substitute an
    // InMemoryTableScan into LATER tests' plans (q83's exchange count
    // caught exactly this once q181's persisted spread-docs frame matched
    // its scan subtree)
    spark.sharedState.cacheManager.clearCache()
  }

  test("q158: scoring is the fused kernel projection — no gram explode, " +
      "no scoring join (round-17 kernel fusion)") {
    val p = plan(Round12Queries.languageId(spark, sf))
    assert(p.contains("graft_langid_pred"),
      s"scoring must be the fused LangIdPredict projection\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"scoring must never sort-merge the gram relation\n$p")
    assert(!p.contains("Generate"),
      s"the fused scorer must not explode gram rows\n$p")
  }

  test("q160: shard packing never plans a single-partition exchange") {
    val p = plan(Round12Queries.shardPacking(spark, sf))
    assert(!p.contains("SinglePartition"),
      s"the prefix sum must stay range-partitioned\n$p")
  }

  test("q172: curriculum packing chains TWO global sequences (tercile rank " +
      "+ shard prefix sum) with no single-partition exchange in either") {
    val p = plan(Round13Queries.curriculumPacking(spark, sf))
    assert(!p.contains("SinglePartition"),
      s"both rank passes must stay range-partitioned\n$p")
  }

  test("q161: truth denominators and the candidate attachment broadcast") {
    val p = plan(Round12Queries.bandingSCurve(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast joins\n$p")
  }

  test("q92: the per-doc keep decision joins the tiny rates frame broadcast") {
    val p = plan(SelectionQueries.mixtureSample(spark, sf))
    assert(p.contains("BroadcastHashJoin"),
      s"rates must broadcast onto the corpus, not shuffle it\n$p")
  }

  test("q94: epoch order never plans a single-partition exchange") {
    // the whole point of Layout.globalSequence: global ROW_NUMBER without
    // Exchange SinglePartition (a plain Window.orderBy would plan one)
    val p = plan(SelectionQueries.epochOrder(spark, sf))
    assert(!p.contains("SinglePartition"),
      s"global sequence must stay range-partitioned\n$p")
  }

  test("q95: the classifier gate aggregates partially before both exchanges") {
    val p = plan(SelectionQueries.classifierGate(spark, sf))
    assert(p.contains("partial_sum") && p.contains("partial_count"),
      s"expected map-side partial aggregation\n$p")
  }

  test("q83: chunking is map-only — the only exchanges are spread and the output sort") {
    // exchange counting must see the bare scan, not a cached substitute
    spark.sharedState.cacheManager.clearCache()
    val p = plan(CurationQueries.docChunks(spark, sf))
    val exchangeCount = p.linesIterator.count(l => l.trim.matches("\\(\\d+\\) Exchange.*"))
    assert(exchangeCount == 2, s"spread + orderBy only, got $exchangeCount\n$p")
  }

  test("q84: the bigram window subtree materializes once; model reads hit the cache") {
    val p = plan(CurationQueries.bigramLm(spark, sf))
    // the scoring join input and both model aggregations read the persisted
    // per-doc bigram counts (first-draft plan re-ran explode+window 3×)
    val cacheReads = p.linesIterator.count(l => l.trim.matches("\\(\\d+\\) InMemoryTableScan.*"))
    assert(cacheReads >= 3, s"grouped bigram counts must be cached and reread, got $cacheReads reads\n$p")
    spark.sharedState.cacheManager.clearCache()
  }

  test("q113: the ratio model attaches broadcast; bucket agg is partial") {
    val p = plan(SelectionQueries.importanceWeights(spark, sf))
    assert(p.contains("BroadcastHashJoin"),
      s"the 128-row ratio model must broadcast onto the token stream\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "bucket distribution must combine map-side")
    spark.sharedState.cacheManager.clearCache()
  }

  test("q114: phrase top-k is a TakeOrdered; scan reads only id + text") {
    val p = plan(PipelineQueries.phraseSearch(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), s"top-k must not global-sort\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"posting build must prune the documents scan\n$p")
    spark.sharedState.cacheManager.clearCache()
  }

  test("q115: the embedding scan is pruned to id + vector") {
    val p = plan(PipelineQueries.hybridRrf(spark, sf))
    assert(p.contains("ReadSchema: struct<vec_id:bigint,embedding:array<float>>"),
      s"dense leg must prune the embeddings scan\n$p")
    spark.sharedState.cacheManager.clearCache()
  }

  test("q116: every funnel exchange keys on user_id — one reusable shuffle key") {
    val p = plan(PipelineQueries.conversionFunnel(spark, sf))
    val parts = p.linesIterator.filter(_.contains("hashpartitioning(")).toSeq
    assert(parts.nonEmpty && parts.forall(_.contains("user_id#")),
      s"funnel must shuffle on user_id only\n${parts.mkString("\n")}")
    spark.sharedState.cacheManager.clearCache()
  }

  test("q129: retention plans no window; every exchange keys on user/day ids") {
    val p = plan(PipelineQueries.cohortRetention(spark, sf))
    assert(!p.contains("Window"), s"retention must not sequence per user\n$p")
    val parts = p.linesIterator.filter(_.contains("hashpartitioning(")).toSeq
    assert(parts.nonEmpty && parts.forall(l =>
      l.contains("user_id#") || l.contains("d0#") || l.contains("day")),
      s"exchanges must key on user/day ids only\n${parts.mkString("\n")}")
  }

  test("q130: the 5-row stats relation joins broadcast; hour counts aggregate partially") {
    val p = plan(PipelineQueries.hourlyAnomalies(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"stats join must broadcast\n$p")
    assert(p.contains("partial_count"),
      s"the (type, hour) collapse must aggregate before its exchange\n$p")
    spark.sharedState.cacheManager.clearCache()
  }

  test("q131: gram strings never shuffle — exchanges carry ids and 8-byte hashes only") {
    val p = plan(NorthStarQueries.bloomDecontamScreen(spark, sf))
    assert(p.contains("BroadcastHashJoin"),
      s"the position set / probe-gram relations must broadcast\n$p")
    val parts = p.linesIterator.filter(_.contains("hashpartitioning(")).toSeq
    assert(parts.nonEmpty && parts.forall(l => !l.contains("_g#")),
      s"gram strings must collapse to hashes before any exchange\n${parts.mkString("\n")}")
    spark.sharedState.cacheManager.clearCache()
  }

  test("q132: the fold plans no window; day counts aggregate partially") {
    val p = plan(PipelineQueries.ewmaTrend(spark, sf))
    assert(!p.contains("Window"), s"the EWMA chain must fold, not window\n$p")
    assert(p.contains("partial_count"),
      s"the (type, day) collapse must aggregate before its exchange\n$p")
  }

  test("q143: rule ranking is a TakeOrdered; item-count joins broadcast") {
    val p = plan(NorthStarQueries.associationRules(spark, sf))
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 must never plan a global sort\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the |items|-row count relation must broadcast onto the rules\n$p")
    spark.sharedState.cacheManager.clearCache()
  }

  test("q144: per-round stats are unioned aggregates over checkpointed edges — no window, no sort until the final 7 rows") {
    val p = plan(NorthStarQueries.basketKCore(spark, sf))
    assert(!p.contains("Window"), s"the peel must not sequence anything\n$p")
    // each round's edge set is an eager localCheckpoint: the trace plan
    // reads 7 LogicalRDD scans, never re-deriving a round from lineitem
    assert(!p.contains("lineitem"),
      s"rounds must read checkpointed edges, not re-derive the basket graph\n$p")
    spark.sharedState.cacheManager.clearCache()
  }

  /** The executed plans of the checkpoints `run` cuts above a join — one
    * per graph round (per half-round for HITS), in cut order. Captured
    * from the real run, under the session's own config (AQE on, the
    * default broadcast threshold). */
  private def roundPlans(run: => Unit): Seq[SparkPlan] = {
    val cuts = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName == "localCheckpoint") cuts.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try { run; org.apache.spark.ListenerBusDrain(spark.sparkContext) }
    finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    cuts.asScala.toSeq.filter(p => AQEPlans.find(p)(_.isInstanceOf[BaseJoinExec]).isDefined)
  }

  /** One round: exactly one Exchange, hash-partitioned on `key`; no
    * broadcast and no sort anywhere. Returns the exchange. */
  private def assertOneExchange(p: SparkPlan, key: String): ShuffleExchangeExec = {
    val shuffles = AQEPlans.collect(p) { case s: ShuffleExchangeExec => s }
    assert(shuffles.size == 1, s"one Exchange per round expected\n$p")
    shuffles.head.outputPartitioning match {
      case h: HashPartitioning =>
        assert(h.expressions.map(_.asInstanceOf[Attribute].name) == Seq(key), s"\n$p")
      case other => fail(s"expected a hash exchange on $key, got $other\n$p")
    }
    assert(AQEPlans.collect(p) { case b: BroadcastExchangeExec => b }.isEmpty,
      s"no broadcast: the edges and the state are co-partitioned checkpoints\n$p")
    assert(AQEPlans.collect(p) { case s: SortExec => s }.isEmpty, s"no sort\n$p")
    shuffles.head
  }

  private def assertPartialBelow(x: ShuffleExchangeExec): Unit =
    assert(AQEPlans.find(x.child) {
      case h: HashAggregateExec => h.aggregateExpressions.exists(_.mode == Partial)
      case _ => false
    }.isDefined, s"contributions must combine map-side before the exchange\n$x")

  private lazy val roundEdges = {
    import spark.implicits._
    val pairs = (1L to 64L).map(i => (i, 100L + i % 8, 1L + i % 3))
    (pairs ++ pairs.map(p => (p._2, p._1, p._3))).toDF("src", "dst", "w")
  }

  test("graph rounds: one dst exchange after partial_sum, no broadcast, no sort " +
      "(pageRank, hits, labelPropagation under the session's config)") {
    val pr = roundPlans(graft.ops.Graph.pageRank(roundEdges, 3).collect())
    assert(pr.size == 3, s"one cut per round expected, got ${pr.size}")
    pr.foreach(p => assertPartialBelow(assertOneExchange(p, "dst")))

    // HITS alternates: authorities gather on dst, hubs on src
    val hits = roundPlans(graft.ops.Graph.hits(roundEdges, 2).collect())
    assert(hits.size == 4, s"one cut per half-round expected, got ${hits.size}")
    hits.zipWithIndex.foreach { case (p, i) =>
      assertPartialBelow(assertOneExchange(p, if (i % 2 == 0) "dst" else "src"))
    }

    // label propagation: the one dst exchange serves both the (dst, label)
    // sum and the dst argmax, so it sits under both aggregates
    val lpa = roundPlans(graft.ops.Graph.labelPropagation(roundEdges, 2).collect())
    assert(lpa.size == 2, s"one cut per round expected, got ${lpa.size}")
    lpa.foreach { p =>
      val x = assertOneExchange(p, "dst")
      assert(AQEPlans.collect(p) { case h: HashAggregateExec => h }.size == 4, s"\n$p")
      assert(AQEPlans.find(x.child)(_.isInstanceOf[HashAggregateExec]).isEmpty, s"\n$p")
    }
    spark.sharedState.cacheManager.clearCache()
  }

  /** The operators from `p` down to the src-keyed edge checkpoint (the
    * leaf with `src` and `dst` columns), unless a join comes first. */
  private def edgePath(p: SparkPlan): Option[List[SparkPlan]] = p match {
    case _: BaseJoinExec => None
    case _ if AQEPlans.kids(p).isEmpty =>
      if (Set("src", "dst").subsetOf(p.output.map(_.name).toSet)) Some(List(p)) else None
    case _ => AQEPlans.kids(p).iterator.map(edgePath).collectFirst { case Some(path) => p :: path }
  }

  /** A round joins the src-keyed edges where they lie: no Exchange and no
    * broadcast between the edge checkpoint and the join that reads it.
    * Nothing else in the round is broadcast either (the state is keyed
    * like the edges), and the round sorts nothing. */
  private def assertEdgesReadInPlace(p: SparkPlan): Unit = {
    val paths = AQEPlans.collect(p) { case j: BaseJoinExec => j.children.flatMap(edgePath) }.flatten
    assert(paths.nonEmpty, s"no join reads the edges\n$p")
    paths.foreach(path => assert(!path.exists {
      case _: ShuffleExchangeExec | _: BroadcastExchangeExec => true
      case _ => false
    }, s"the edges must be joined where they are keyed\n$p"))
    assert(AQEPlans.collect(p) { case b: BroadcastExchangeExec => b }.isEmpty, s"no broadcast\n$p")
    assert(AQEPlans.collect(p) { case s: SortExec => s }.isEmpty, s"no sort\n$p")
  }

  test("graph rounds: the frontier loops and the ANF sketches join the src-keyed " +
      "edges where they lie, broadcast nothing and sort nothing " +
      "(bfsDistances, seedDistances, weightedDistances, anfSketches under the session's config)") {
    import spark.implicits._
    val seeds = Seq(1L, 2L).toDF("node")
    val loops = Seq(
      "bfsDistances" -> (() => graft.ops.Graph.bfsDistances(roundEdges, seeds, 3).collect()),
      "seedDistances" -> (() => graft.ops.Graph.seedDistances(roundEdges, seeds, 3).collect()),
      "weightedDistances" -> (() => graft.ops.Graph.weightedDistances(roundEdges, seeds, 3).collect()),
      "anfSketches" -> (() => graft.ops.Graph.anfSketches(roundEdges, 2).foreach(_._2.collect())),
      "dupClusters" -> (() => graft.ops.Dedup.dupClusters(
        roundEdges.select($"src".as("idA"), $"dst".as("idB"))).collect()))
    for ((loop, run) <- loops) {
      val rounds = roundPlans(run())
      assert(rounds.nonEmpty, s"$loop: no round plan captured")
      rounds.foreach(assertEdgesReadInPlace)
    }
    spark.sharedState.cacheManager.clearCache()
  }

  test("q121: gram counts combine map-side; scan pruned to doc_id+lang+text") {
    val p = plan(CurationQueries.repetitionProfile(spark, sf))
    assert(p.contains("partial_count") || p.contains("partial_min"),
      s"the (doc, n, gram) collapse must aggregate before its exchange\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string,lang:string>"),
      s"source/ts must not be read\n$p")
  }

  test("q122: hot-bucket inventory broadcasts; the hash sketch is cached, payload never shuffles") {
    val p = plan(NorthStarQueries.phashNearDups(spark, sf))
    assert(p.contains("BroadcastHashJoin"),
      s"cappedPairs' hot inventory must attach broadcast\n$p")
    val cacheReads = p.linesIterator.count(l => l.trim.matches("\\(\\d+\\) InMemoryTableScan.*"))
    assert(cacheReads >= 3, s"hashed sketch read by banding + both verify sides, got $cacheReads\n$p")
    // every exchange moves only id/hash/band/modality-derived columns —
    // the binary payload stays inside the scan stage
    val exch = p.linesIterator.filter(_.contains("hashpartitioning(")).toSeq
    assert(exch.nonEmpty && !exch.exists(_.contains("payload")),
      s"payload must never key or ride an exchange\n${exch.mkString("\n")}")
    spark.sharedState.cacheManager.clearCache()
  }

  test("q124: the corpus-sized window relation shuffles once and is reread cached") {
    val p = plan(CurationQueries.substringDupSpans(spark, sf))
    val cacheReads = p.linesIterator.count(l => l.trim.matches("\\(\\d+\\) InMemoryTableScan.*"))
    assert(cacheReads >= 2, s"dup-hash agg + flag join must reread the persisted pairs, got $cacheReads\n$p")
    // shuffles key only on the 8-byte hash or doc_id — window text never
    // rides an exchange, and the span merge is per-doc (never single-part)
    val parts = p.linesIterator.filter(_.contains("hashpartitioning(")).toSeq
    assert(parts.nonEmpty && parts.forall(l =>
      l.contains("_h#") || l.contains("doc_id#") || l.contains("lang#")),
      s"unexpected exchange key\n${parts.mkString("\n")}")
    assert(!p.contains("SinglePartition") || !p.contains("Window"),
      "span merge must not collapse to one partition")
    spark.sharedState.cacheManager.clearCache()
  }

  test("link pipeline: window pushed to scan; exactly two exchanges; partial agg") {
    val spans = LinkJob.readJsonV2(spark,
      getClass.getResource("/fixtures/spans_day.jsonl").getPath)
    val p = plan(LinkJob.linkSpans(spans, "2025-08-11", Admission.PerSpanWindow).toDF())
    assert(p.contains("GreaterThanOrEqual(timestamp"), "per-span window must reach the scan")
    val exchanges = "(?m)^\\(\\d+\\) Exchange".r.findAllIn(
      p.linesIterator.map(_.trim).mkString("\n")).size
    val exchangeCount = p.linesIterator.count(l => l.trim.matches("\\(\\d+\\) Exchange.*"))
    assert(exchangeCount == 2,
      s"trace shuffle + link-agg shuffle expected, got $exchangeCount\n$p")
    assert(p.contains("partial_sum"), "link aggregation must combine map-side")
    assert(!p.contains("AppendColumns"), s"the trace key must be a column, not a lambda\n$p")
    val tree = p.linesIterator.takeWhile(_.nonEmpty).map(_.trim.stripPrefix("+- ")).toSeq
    assert(tree.count(_.startsWith("Sort ")) == 1 &&
      tree(tree.indexWhere(_.startsWith("MapGroups ")) + 1).startsWith("Sort "),
      s"exactly one Sort, right below MapGroups, expected\n$p")
    val sortKeys = "\\(\\d+\\) Sort\\n[^\\n]*\\nArguments: \\[([^\\]]*)\\]".r
      .findFirstMatchIn(p).map(_.group(1))
    assert(sortKeys.exists(_.matches("traceKey#\\d+ ASC NULLS FIRST, timestamp#\\d+L ASC NULLS LAST, " +
      "id#\\d+ ASC NULLS FIRST, shared#\\d+ ASC NULLS FIRST")),
      s"the island sorts on the trace key, then the cap order; got $sortKeys\n$p")
  }

  test("link pipeline: span ids and kinds fold with the ASCII kernel, never Lower/Upper") {
    val spans = LinkJob.fromJsonV2Shape(spark.read.schema(graft.model.Span.jsonV2Schema)
      .json(getClass.getResource("/fixtures/spans_day.jsonl").getPath))
    val optimized = LinkJob.linkSpans(spans, "2025-08-11", Admission.RootInWindow)
      .queryExecution.optimizedPlan
    val exprs = optimized.collect { case n => n.expressions }.flatten.flatMap(_.collect { case e => e })
    assert(!exprs.exists(e => e.isInstanceOf[Lower] || e.isInstanceOf[Upper]),
      s"Lower/Upper map case through ICU\n$optimized")
    assert(exprs.exists(_.isInstanceOf[graft.expr.AsciiCaseFold]), s"\n$optimized")
  }

}
