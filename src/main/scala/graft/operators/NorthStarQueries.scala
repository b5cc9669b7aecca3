package graft.operators

import graft.model.Span
import graft.ops.{Dedup, Multimodal, Similarity, TextOps}
import graft.pipeline.{Admission, LinkJob}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** North-star operator surface (builder prompt + SURVEY §7.1.6): dedup,
  * similarity search, text analysis, multimodal plumbing, and the core
  * dependency-link operator — each exposed as a driver-checkable query.
  * Oracle SQL (DuckDB) accompanies every query whose semantics DuckDB can
  * reproduce; the rest get rows-only checks plus ScalaTest fixtures.
  */
object NorthStarQueries {
  import ContractQueries.table

  // --- dedup ---------------------------------------------------------------

  /** Exact dedup, keep-first: one row per distinct text with min doc_id. */
  def dedupKeepFirst(spark: SparkSession, dir: String): DataFrame =
    Dedup.exactDedup(table(spark, dir, "documents"), "text", "doc_id")
      .orderBy("doc_id")

  /** Near-duplicate pairs — MinHash LSH candidates verified with EXACT
    * word-3-gram Jaccard ≥ 0.5. The raw capped candidate relation feeds the
    * exact verify DIRECTLY: the banding unit matches the verify metric
    * (word 3-grams), so an estimated-Jaccard screen could only re-filter
    * what the verify decides anyway while paying two signature re-attach
    * joins — dropping it measured 4.6→4.3 s at sf0.1 with byte-identical
    * output (and recall can only improve: banding, not the estimate, is
    * the lossy step — k=64 miss probability ≈ 3e-4 at j=0.5, ≈ 0 at this
    * corpus's ≥0.9 pairs). Output equals the brute-force all-pairs
    * oracle. */
  def ngramNearDups(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    // persist: the verify stage references the candidate relation several
    // times (broadcast id set, unpivot, final pair join) — without this the
    // whole LSH pipeline would re-run per reference.
    // Ownership: Verify/Bench clear the cache after each query's action.
    val candidates = Dedup.minhashCandidatePairs(docs, "text", "doc_id",
      k = 64, bands = 16, shingle = 3, wordGrams = true)
      .select("idA", "idB").persist()
    Dedup.ngramJaccardVerify(docs, candidates, "text", "doc_id", n = 3, threshold = 0.5)
      .select("idA", "idB", "jaccard")
      .orderBy("idA", "idB")
  }

  /** MinHash estimated-Jaccard near-dup pairs (the pure sketch path).
    * Banded on word 3-grams: char-5-grams over this small-vocab corpus
    * collide whole bands (~72k spurious candidates at sf0.1 — BASELINE.md);
    * word-gram bands keep the candidate set ≈ the true near-dup set. */
  def minhashNearDups(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashNearDups(table(spark, dir, "documents"), "text", "doc_id",
      k = 64, bands = 16, shingle = 3, threshold = 0.5, wordGrams = true)
      .orderBy("idA", "idB")

  /** SimHash: closest candidate pairs by hamming distance (4×16-bit block
    * join; exact ≤3 guaranteed found, plus whatever else collides). */
  def simhashNearDups(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashNearDups(table(spark, dir, "documents"), "text", "doc_id",
      shingle = 5, maxDistance = 3)
      .orderBy("idA", "idB")

  // --- similarity search ---------------------------------------------------

  /** Brute-force exact cosine top-5 neighbors for the first 10 vectors.
    * Embeddings widen FLOAT→DOUBLE before the dot product so the arithmetic
    * is bit-comparable with the DuckDB oracle (float×float products would
    * carry ~1e-8 error against the oracle's double path — too close to the
    * round-6 boundary to trust). */
  def embeddingTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = table(spark, dir, "embeddings")
      .withColumn("embedding", col("embedding").cast("array<double>"))
    Similarity.bruteForceTopK(
      emb, "embedding", "vec_id",
      emb.where(col("vec_id") < 10), "embedding", "vec_id",
      k = 5)
      .select("queryId", "neighborId", "cosine", "rank")
      .orderBy("queryId", "rank")
  }

  /** LSH-bucketed approximate top-5 for the same queries (the scale path). */
  def embeddingLshTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = table(spark, dir, "embeddings")
      .withColumn("embedding", col("embedding").cast("array<double>"))
    Similarity.lshTopK(
      emb, "embedding", "vec_id",
      emb.where(col("vec_id") < 10), "embedding", "vec_id",
      dim = 64, k = 5, nPlanes = 8)
      .select("queryId", "neighborId", "cosine", "rank")
      .orderBy("queryId", "rank")
  }

  /** IVF-bucketed ANN — the Similarity.ivfAssign scale path: corpus vectors
    * quantize to their nearest of K centroids (here every 50th vector,
    * standing in for an offline k-means model); each query probes ONLY its
    * own centroid's bucket (nprobe=1), ranking exactly within it. Recall
    * trades against a |bucket|-sized candidate set — at scale the bucket id
    * doubles as a partition/clustering key so a probe touches one partition.
    * The centroid collect is the documented exception to the no-driver-loop
    * rule: IVF centroids are a small driver-side model by construction
    * (broadcast to every executor as expression literals). */
  def embeddingIvfTopK(spark: SparkSession, dir: String): DataFrame = {
    graft.expr.GraftFunctions.ensureRegistered(spark) // ivfAssign/cosine use graft_dot
    val emb = table(spark, dir, "embeddings")
      .withColumn("embedding", col("embedding").cast("array<double>"))
    // nlist capped at 16: the literal-expression assignment unrolls K×dim
    // constants into one codegen'd projection — right for a small coarse
    // quantizer; past that cap use the broadcast-model form
    // (Similarity.ivfAssignModel, exercised at nlist=40 by q75)
    val centroids = graft.ops.SemDedup.idRankSample(emb, "vec_id", 50, 800)
      .orderBy("vec_id")
      .select("embedding").collect().map(_.getSeq[Double](0).toArray)
    val assigned = emb.withColumn("cid",
      Similarity.ivfAssign(col("embedding"), centroids))
    val q = assigned.where(col("vec_id") < 10)
      .select(col("vec_id").as("queryId"), col("embedding").as("_qv"), col("cid"))
    val scored = broadcast(q)
      .join(assigned.select(col("vec_id").as("neighborId"), col("embedding").as("_cv"), col("cid")), "cid")
      .where(col("queryId") =!= col("neighborId"))
      .select(col("queryId"), col("neighborId"),
        round(Similarity.cosine(col("_qv"), col("_cv")), 6).as("cosine"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("queryId").orderBy(col("cosine").desc, col("neighborId").asc)
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= 5)
      .orderBy("queryId", "rank")
  }

  /** q77 — multi-probe IVF (nprobe=2): q47's pipeline with the recall knob
    * turned. The corpus keeps its single codegen'd bucket assignment; each
    * QUERY probes its 2 nearest coarse buckets ([[Similarity.ivfProbe]],
    * same tie rule as the assignment), so the candidate set is the union of
    * both buckets — neighbors just across a Voronoi boundary, which
    * single-probe IVF misses by construction, become reachable. Probed cids
    * are distinct and every corpus vector lives in exactly one bucket, so
    * the bucket join yields each (query, neighbor) pair at most once — no
    * dedup stage. At scale this is the standard recall/latency dial: cost
    * grows linearly in nprobe while the scan stays partition-pruned. */
  def embeddingIvfProbe2TopK(spark: SparkSession, dir: String): DataFrame = {
    graft.expr.GraftFunctions.ensureRegistered(spark)
    val emb = table(spark, dir, "embeddings")
      .withColumn("embedding", col("embedding").cast("array<double>"))
    val centroids = graft.ops.SemDedup.idRankSample(emb, "vec_id", 50, 800)
      .orderBy("vec_id")
      .select("embedding").collect().map(_.getSeq[Double](0).toArray)
    val assigned = emb.withColumn("cid",
      Similarity.ivfAssign(col("embedding"), centroids))
    val q = assigned.where(col("vec_id") < 10)
      .select(col("vec_id").as("queryId"), col("embedding").as("_qv"),
        explode(Similarity.ivfProbe(col("embedding"), centroids, 2)).as("cid"))
    val scored = broadcast(q)
      .join(assigned.select(col("vec_id").as("neighborId"), col("embedding").as("_cv"), col("cid")), "cid")
      .where(col("queryId") =!= col("neighborId"))
      .select(col("queryId"), col("neighborId"),
        round(Similarity.cosine(col("_qv"), col("_cv")), 6).as("cosine"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("queryId").orderBy(col("cosine").desc, col("neighborId").asc)
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= 5)
      .orderBy("queryId", "rank")
  }

  /** q104 — ANN RECALL AUDIT: measures per-query recall@5 of the IVF path
    * against the exact brute-force ranking, at both nprobe=1 and nprobe=2 —
    * the honesty check the similarity family owes its users (the q98
    * analogue for ANN). One shared candidate pipeline serves both probe
    * depths: the corpus is assigned once, each query's candidates carry
    * their probe rank, and nprobe=1 is a FILTER over the nprobe=2 relation
    * rather than a second bucket join — measuring the recall dial costs one
    * pipeline, not two. At scale this runs over a query SAMPLE (here the
    * q27/q47 query set) against the full index, so the audit's cost is
    * |sample|×|bucket|, never corpus². The exact-side crossJoin is
    * broadcast-bounded by the same sample. */
  def annRecall(spark: SparkSession, dir: String): DataFrame = {
    graft.expr.GraftFunctions.ensureRegistered(spark)
    val emb = table(spark, dir, "embeddings")
      .withColumn("embedding", col("embedding").cast("array<double>"))
    val centroids = graft.ops.SemDedup.idRankSample(emb, "vec_id", 50, 800)
      .orderBy("vec_id")
      .select("embedding").collect().map(_.getSeq[Double](0).toArray)
    // persist the assignment: it feeds the query side, the bucket join's
    // corpus side, AND the brute-force pass — one scan + one quantization
    // instead of three of each.
    // Ownership: Verify/Bench clear the cache after each query's action.
    val assigned = emb.withColumn("cid",
      Similarity.ivfAssign(col("embedding"), centroids)).persist()
    // posexplode keeps the probe rank: pos=0 is the query's own bucket
    // (exactly q47's candidate set), pos<=1 is the q77 union.
    val q = assigned.where(col("vec_id") < 10)
      .select(col("vec_id").as("queryId"), col("embedding").as("_qv"),
        posexplode(Similarity.ivfProbe(col("embedding"), centroids, 2)))
      .withColumnRenamed("pos", "_probe").withColumnRenamed("col", "cid")
    // persist: both probe depths rank over this one scored relation.
    val scored = broadcast(q)
      .join(assigned.select(col("vec_id").as("neighborId"), col("embedding").as("_cv"), col("cid")), "cid")
      .where(col("queryId") =!= col("neighborId"))
      .select(col("queryId"), col("_probe"), col("neighborId"),
        round(Similarity.cosine(col("_qv"), col("_cv")), 6).as("cosine"))
      .persist()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("queryId").orderBy(col("cosine").desc, col("neighborId").asc)
    def top5(cand: DataFrame): DataFrame =
      cand.withColumn("rank", row_number().over(w)).where(col("rank") <= 5)
        .select("queryId", "neighborId")
    val ivf1 = top5(scored.where(col("_probe") === 0))
    val ivf2 = top5(scored)
    // exact ground truth — the q27 pipeline (sample×corpus, broadcast side
    // bounded by the sample); referenced by both hit joins + the base rows.
    val truth = Similarity.bruteForceTopK(
      assigned, "embedding", "vec_id", assigned.where(col("vec_id") < 10), "embedding", "vec_id",
      k = 5).select("queryId", "neighborId").persist()
    def hits(approx: DataFrame, name: String): DataFrame =
      truth.join(approx, Seq("queryId", "neighborId"))
        .groupBy("queryId").agg(count(lit(1)).as(name))
    truth.select("queryId").distinct()
      .join(hits(ivf1, "hits_p1"), Seq("queryId"), "left")
      .join(hits(ivf2, "hits_p2"), Seq("queryId"), "left")
      .select(col("queryId"),
        coalesce(col("hits_p1"), lit(0L)).as("hits_p1"),
        coalesce(col("hits_p2"), lit(0L)).as("hits_p2"))
      .withColumn("recall_p1", round(col("hits_p1") / 5.0, 6))
      .withColumn("recall_p2", round(col("hits_p2") / 5.0, 6))
      .orderBy("queryId")
  }

  /** q109 — PQ RECALL AUDIT: q104's honesty check extended to the third ANN
    * configuration, the IVF-PQ ADC path (q89 — the 100 TB shape: 8-byte
    * codes in place of 512-byte vectors). Per-query recall@5 of the
    * ADC-ranked, top-12-reranked result against the exact brute-force
    * top-5 — quantization error is the one loss source q104 cannot see
    * (same buckets, compressed distances), so the family's recall story is
    * complete only with this leg. Cost: the q89 pipeline + one
    * sample-bounded exact pass. */
  def pqRecall(spark: SparkSession, dir: String): DataFrame = {
    graft.expr.GraftFunctions.ensureRegistered(spark)
    val emb = table(spark, dir, "embeddings")
      .withColumn("embedding", col("embedding").cast("array<double>"))
    val pq = embeddingPqTopK(spark, dir).select("queryId", "neighborId")
    // referenced by the hit join + the base rows.
    // Ownership: Verify/Bench clear the cache after each query's action.
    val truth = Similarity.bruteForceTopK(
      emb, "embedding", "vec_id", emb.where(col("vec_id") < 10), "embedding", "vec_id",
      k = 5).select("queryId", "neighborId").persist()
    val hits = truth.join(pq, Seq("queryId", "neighborId"))
      .groupBy("queryId").agg(count(lit(1)).as("hits_pq"))
    truth.select("queryId").distinct()
      .join(hits, Seq("queryId"), "left")
      .select(col("queryId"), coalesce(col("hits_pq"), lit(0L)).as("hits_pq"))
      .withColumn("recall_pq", round(col("hits_pq") / 5.0, 6))
      .orderBy("queryId")
  }

  /** q75 — IVF with a broadcast centroid MODEL (nlist=40): the scale form
    * q47's scaladoc promises for centroid counts past the ~16-literal
    * codegen cap. Same pipeline shape as q47 — assign, probe own bucket,
    * exact re-rank — but the quantizer is [[Similarity.ivfAssignModel]]:
    * the 40×64 model is ONE array literal folded with a higher-order
    * aggregate, so nlist can grow to thousands without touching the
    * generated-method size limit, and the assignment stays a zero-shuffle
    * projection. */
  def embeddingIvfModelTopK(spark: SparkSession, dir: String): DataFrame = {
    graft.expr.GraftFunctions.ensureRegistered(spark)
    val emb = table(spark, dir, "embeddings")
      .withColumn("embedding", col("embedding").cast("array<double>"))
    val centroids = graft.ops.SemDedup.idRankSample(emb, "vec_id", 20, 800)
      .orderBy("vec_id")
      .select("embedding").collect().map(_.getSeq[Double](0).toArray)
    val assigned = emb.withColumn("cid",
      Similarity.ivfAssignModel(col("embedding"), centroids))
    val q = assigned.where(col("vec_id") < 10)
      .select(col("vec_id").as("queryId"), col("embedding").as("_qv"), col("cid"))
    val scored = broadcast(q)
      .join(assigned.select(col("vec_id").as("neighborId"), col("embedding").as("_cv"), col("cid")), "cid")
      .where(col("queryId") =!= col("neighborId"))
      .select(col("queryId"), col("neighborId"),
        round(Similarity.cosine(col("_qv"), col("_cv")), 6).as("cosine"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("queryId").orderBy(col("cosine").desc, col("neighborId").asc)
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= 5)
      .orderBy("queryId", "rank")
  }

  /** q79 — the full scale form of IVF search: broadcast centroid MODEL
    * (nlist=40, past the literal-unroll codegen cap) AND the nprobe=2
    * recall dial together — q75's quantizer with q77's probe, composing
    * [[Similarity.ivfAssignModel]] (corpus, codegen-safe at any nlist) with
    * [[Similarity.ivfProbeModel]] (query side). At 40 buckets the Voronoi
    * cells are small, so single-probe recall loss is worst exactly where
    * the model form is needed — this is the configuration a real
    * billion-vector corpus would run. */
  def embeddingIvfModelProbe2TopK(spark: SparkSession, dir: String): DataFrame = {
    graft.expr.GraftFunctions.ensureRegistered(spark)
    val emb = table(spark, dir, "embeddings")
      .withColumn("embedding", col("embedding").cast("array<double>"))
    val centroids = graft.ops.SemDedup.idRankSample(emb, "vec_id", 20, 800)
      .orderBy("vec_id")
      .select("embedding").collect().map(_.getSeq[Double](0).toArray)
    val assigned = emb.withColumn("cid",
      Similarity.ivfAssignModel(col("embedding"), centroids))
    val q = assigned.where(col("vec_id") < 10)
      .select(col("vec_id").as("queryId"), col("embedding").as("_qv"),
        explode(Similarity.ivfProbeModel(col("embedding"), centroids, 2)).as("cid"))
    val scored = broadcast(q)
      .join(assigned.select(col("vec_id").as("neighborId"), col("embedding").as("_cv"), col("cid")), "cid")
      .where(col("queryId") =!= col("neighborId"))
      .select(col("queryId"), col("neighborId"),
        round(Similarity.cosine(col("_qv"), col("_cv")), 6).as("cosine"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("queryId").orderBy(col("cosine").desc, col("neighborId").asc)
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= 5)
      .orderBy("queryId", "rank")
  }

  /** q89 — IVF-PQ ADC search, the full 100 TB ANN architecture in one
    * query: the corpus carries a coarse IVF bucket (q47's codegen'd
    * assignment), 8 product-quantization codes (M=8 subspaces × K=16,
    * codebooks sampled from the data like the IVF centroids), and a
    * precomputed reconstruction norm — at scale that is ~13 bytes of
    * search state per vector instead of 256 bytes of floats. A query
    * probes its own bucket, ranks candidates by the asymmetric-distance
    * (ADC) approximation — which reads ONLY the codes, never the
    * candidate's floats — keeps the top 12, and exact-reranks those few
    * with true cosine to the final top 5. The ADC score is rounded to 9 dp
    * BEFORE the candidate cut on both engines: real score spacing is
    * ~1e-2, summation-order noise ~1e-15, so the rounding pins the
    * cut-boundary ordering without costing discrimination. */
  def embeddingPqTopK(spark: SparkSession, dir: String): DataFrame = {
    graft.expr.GraftFunctions.ensureRegistered(spark)
    // persist: the casted embedding frame is scanned by the codebook-seed
    // sample, BOTH Lloyd training rounds, and the final encode pass
    // (round-16 optimization — one parquet decode + cast instead of four).
    // Ownership: Verify/Bench clear the cache after each query's action.
    val emb = table(spark, dir, "embeddings")
      .withColumn("embedding", col("embedding").cast("array<double>"))
      .persist()
    val sample = graft.ops.SemDedup.idRankSample(emb, "vec_id", 50, 800)
      .orderBy("vec_id")
      .select("embedding").collect().map(_.getSeq[Double](0).toArray)
    // codebooks: seeded from the sample slices, then Lloyd-trained 2
    // rounds over the corpus (round 16 — lifts q109 recall 0.20 → 0.24 at
    // sf0.01; the residual IVF-PQ construction was measured WORSE on this
    // isotropic corpus, see Similarity.pqTrainBooks)
    val seedBooks = Array.tabulate(8)(m => sample.map(_.slice(m * 8, m * 8 + 8)))
    val books = Similarity.pqTrainBooks(emb, "embedding", seedBooks, rounds = 2)
    val assigned = emb
      .withColumn("cid", Similarity.ivfAssign(col("embedding"), sample))
      .withColumn("_codes", Similarity.pqEncode(col("embedding"), books))
      .withColumn("_nsq", Similarity.pqNormSq(col("_codes"), books))
    val q = assigned.where(col("vec_id") < 10)
      .select(col("vec_id").as("queryId"), col("embedding").as("_qv"), col("cid"))
    val adcDen = Similarity.norm(col("_qv")) * sqrt(col("_nsq"))
    val approx = broadcast(q)
      .join(assigned.select(col("vec_id").as("neighborId"), col("embedding").as("_cv"),
        col("cid"), col("_codes"), col("_nsq")), "cid")
      .where(col("queryId") =!= col("neighborId"))
      .select(col("queryId"), col("neighborId"), col("_qv"), col("_cv"),
        round(when(adcDen === 0.0d, 0.0d)
          .otherwise(Similarity.pqAdcDot(col("_qv"), col("_codes"), books) / adcDen), 9)
          .as("approx_cos"))
    val wa = org.apache.spark.sql.expressions.Window
      .partitionBy("queryId").orderBy(col("approx_cos").desc, col("neighborId").asc)
    val rerank = approx.withColumn("_ra", row_number().over(wa)).where(col("_ra") <= 12)
      .select(col("queryId"), col("neighborId"), col("approx_cos"),
        round(Similarity.cosine(col("_qv"), col("_cv")), 6).as("cosine"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("queryId").orderBy(col("cosine").desc, col("neighborId").asc)
    rerank.withColumn("rank", row_number().over(w)).where(col("rank") <= 5)
      .select("queryId", "neighborId", "cosine", "approx_cos", "rank")
      .orderBy("queryId", "rank")
  }

  /** Embedding-cosine near-duplicates (SRP-LSH banded + exact verify). This
    * corpus is near-orthogonal (max pairwise cosine ≈ 0.51), so the
    * threshold sits at 0.35 to exercise the full path with non-empty
    * output; the semantics — bucket-banded candidates, exact cosine verify —
    * are what a 0.95-threshold dedup run would use unchanged. */
  def embeddingNearDupPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.embeddingNearDups(
      table(spark, dir, "embeddings")
        .withColumn("embedding", col("embedding").cast("array<double>")),
      "embedding", "vec_id", dim = 64, planes = 48, bands = 6,
      threshold = 0.35)
      .orderBy("idA", "idB")

  // --- text analysis -------------------------------------------------------

  /** Whitespace token count per document (DuckDB-checkable). */
  def tokenCounts(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .select(col("doc_id"), TextOps.tokenCount(col("text")).as("n_tokens"))
      .orderBy("doc_id")

  /** Per-language token/punctuation totals (DuckDB-checkable). */
  def textStatsByLang(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .groupBy("lang")
      .agg(
        sum(TextOps.tokenCount(col("text"))).as("toks"),
        sum(size(regexp_extract_all(col("text"), lit("[\\p{Punct}]"), lit(0)))).as("punct"))
      .orderBy("lang")

  /** Language-ID + quality annotation rollup (heuristics — fixture-tested,
    * rows-only for the driver). */
  def langQualityRollup(spark: SparkSession, dir: String): DataFrame =
    TextOps.annotate(graft.ops.Partitioning.spread(table(spark, dir, "documents")))
      .groupBy("lang_guess")
      .agg(count(lit(1)).as("n"), round(avg("quality"), 4).as("avg_quality"),
        round(avg("n_tokens"), 4).as("avg_tokens"))
      .orderBy("lang_guess")

  /** Bottom-k fingerprint collisions: documents sharing min-shingle-hash
    * (rows-only; the fingerprint itself is hash-family-specific). */
  def fingerprintBuckets(spark: SparkSession, dir: String): DataFrame = {
    graft.expr.GraftFunctions.ensureRegistered(spark)
    graft.ops.Partitioning.spread(table(spark, dir, "documents"))
      .select(col("doc_id"), graft.expr.GraftFunctions.fingerprint64(col("text"), 8).as("fp64"))
      .groupBy("fp64").agg(count(lit(1)).as("n"), min("doc_id").as("first_doc"))
      .where(col("n") > 1)
      .orderBy("fp64")
  }

  // --- multimodal ----------------------------------------------------------

  /** Binary-payload pipeline rollup: resize (bounded payloads, metadata kept
    * consistent) → batched feature extraction → modality rollup
    * (deterministic stub decode; the Spark plumbing — schema, batching,
    * metadata update — is real). */
  def multimodalFeatures(spark: SparkSession, dir: String): DataFrame = {
    val assets = Multimodal.resizePayload(
      Multimodal.fakeAssets(table(spark, dir, "documents")), maxBytes = 256)
    // min/max of per-row float features, widened to double BEFORE rounding:
    // order-insensitive aggregates make the rollup bit-deterministic under
    // parallel execution (an avg of floats is not), which is what lets the
    // DuckDB oracle replay the stub decode's float32 arithmetic exactly
    def bin(i: Int) = element_at(col("features"), i + 1).cast("double")
    Multimodal.extractFeatures(assets, batchSize = 64)
      .groupBy("modality")
      .agg(count(lit(1)).as("n"),
        round(min(bin(6)), 4).as("min_bin6"),
        round(max(bin(6)), 4).as("max_bin6"),
        round(max(bin(7)), 4).as("max_bin7"))
      .orderBy("modality")
  }

  /** q101 — audio stream stats: the audio-modality assets through
    * [[Multimodal.audioStats]] — REAL javax.sound decode when an installed
    * reader claims the payload, the deterministic size/byte fallback on
    * the synthetic text-byte assets (same real/fallback contract as
    * q31/q32's image path; the real WAV path is pinned in MultimodalSpec).
    * A narrow per-partition map over the scan — the only exchange is the
    * presentation sort. */
  def audioStreamStats(spark: SparkSession, dir: String): DataFrame = {
    val assets = Multimodal.fakeAssets(table(spark, dir, "documents"))
    Multimodal.audioStats(assets.where(col("meta.modality") === "audio"))
      .orderBy("asset_id")
  }

  /** Frame sampling: video assets → (asset_id, frame_no) rows. */
  def videoFrameSample(spark: SparkSession, dir: String): DataFrame = {
    val assets = Multimodal.fakeAssets(table(spark, dir, "documents"))
    Multimodal.sampleFrames(assets, frames = 4)
      .groupBy("frame_no").agg(count(lit(1)).as("n"))
      .orderBy("frame_no")
  }

  /** q122 — perceptual-hash near-dup report over the multimodal assets:
    * [[Multimodal.phashNearDupReport]] (64-bit positional aHash, 4x16-bit
    * banded LSH — structurally complete for Hamming <= 3 — capped buckets,
    * exact bit_count verify). 64-bit/16-bit-band is the SCALE-correct
    * density: a 16-bit hash family saturates its 65k-value space at corpus
    * scale and every bucket goes hot, while 16-bit bands of a 64-bit hash
    * keep bucket occupancy ~n/65k per modality per band. */
  def phashNearDups(spark: SparkSession, dir: String): DataFrame =
    Multimodal.phashNearDupReport(
      Multimodal.fakeAssets(table(spark, dir, "documents")))

  /** q123 — incremental perceptual admission: sources src18/src19 play the
    * daily asset batch (the q76 convention), everything else the standing
    * corpus; [[Multimodal.phashAdmit]] screens only batch×prior — at 100 TB
    * the corpus is never self-joined. Output is the admitted batch
    * (asset_id, modality). */
  def phashAdmitBatch(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val isBatch = col("source").isin("src18", "src19")
    Multimodal.phashAdmit(
      Multimodal.fakeAssets(docs.where(!isBatch)),
      Multimodal.fakeAssets(docs.where(isBatch)))
      .select(col("asset_id"), col("meta.modality").as("modality"))
      .orderBy("asset_id")
  }

  /** q127 — perceptual dup CLUSTERS: connected components over q122's
    * near relation — the q48 shape for assets, so transitive re-encode
    * chains collapse to one representative. The corpus plants a replica
    * stream (src18/src19 docs re-materialized with their first byte
    * bumped — the value-level edit a re-encode makes; a LENGTH change
    * would shift every segment boundary, measured avg Hamming 11, while
    * the byte bump stays ≤ 2), because the base corpus is hash-sparse and
    * a clustering of nothing proves nothing. Replica ids offset by
    * 999999 ≡ 0 (mod 3), preserving fakeAssets' modality derivation.
    * Clustering is [[graft.ops.Dedup.dupClusters]]: label propagation with
    * pointer jumping, O(log D) rounds, never a driver-side union-find. */
  def phashDupClusters(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val replicas = docs
      .where(col("source").isin("src18", "src19") && length(col("text")) > 0)
      .withColumn("doc_id", col("doc_id") + 999999L)
      .withColumn("text",
        expr("concat(char(ascii(substring(text, 1, 1)) + 1), substring(text, 2))"))
    val assets = Multimodal.fakeAssets(docs.unionByName(replicas))
    graft.ops.Dedup.dupClusters(Multimodal.phashNearPairs(assets).select("idA", "idB"))
      .withColumnRenamed("id", "asset_id")
      .withColumnRenamed("rep", "cluster_rep")
      .orderBy("asset_id")
  }

  // --- deterministic splits / sampling -------------------------------------

  private[operators] val splitWeights = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)

  /** The q50 split assignment as a SQL CASE over `text` — one source of
    * truth for every oracle that replays split membership (q50, q102). */
  private[operators] def splitCaseSql: String = {
    val Seq((_, Some(tTrain)), (_, Some(tVal))) =
      graft.ops.Sampling.thresholdsFor(splitWeights): @unchecked
    s"CASE WHEN substr(md5('v1' || text), 1, 4) < '$tTrain' THEN 'train' " +
      s"WHEN substr(md5('v1' || text), 1, 4) < '$tVal' THEN 'val' ELSE 'test' END"
  }

  /** Deterministic train/val/test assignment + stable 25% sample flag over
    * document content — split counts per (lang, split). Content-hash
    * assignment means re-runs and other engines agree row-for-row, which is
    * what the DuckDB oracle verifies. */
  def trainSplits(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .withColumn("split", graft.ops.Sampling.hashSplit(col("text"), splitWeights, salt = "v1"))
      .withColumn("in_quarter", graft.ops.Sampling.sampledBy(col("text"), 0.25, salt = "q"))
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("n"),
        sum(col("in_quarter").cast("long")).as("n_quarter"))
      .orderBy("lang", "split")

  /** Benchmark decontamination: probe set = every 100th document (standing
    * in for an eval set); report corpus documents sharing ≥2 distinct word
    * 3-grams with a probe. */
  def contaminationReport(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val probes = docs.where(pmod(col("doc_id"), lit(100)) === 0)
    TextOps.contamination(docs, "text", "doc_id", probes, "text", "doc_id",
      n = 3, minShared = 2)
      .orderBy("doc_id", "probe_id")
  }

  /** q90 — EXACT-substring decontamination: corpus documents sharing at
    * least one exact 20-char window with any probe document — the strongest
    * contamination evidence (an n-gram overlap can be coincidence; a long
    * verbatim run cannot), the fixed-window form of the exact-substring
    * rule from the dedup/decontamination literature. Both sides explode to
    * DISTINCT char windows, collapse each window to the engine-portable
    * 60-bit md5 hash (PortableSketch.h60 — the same family every portable
    * sketch uses, so DuckDB replays the join bit-for-bit), and equi-join on
    * the hash with the probe side broadcast: shuffles and broadcasts carry
    * 8-byte hashes, never window strings, and count(1) over the join IS
    * the distinct shared-window count (both sides distinct). Window
    * formation reuses charShingles' fewer-than-W fallback (whole text as
    * one window), so short documents still screen. */
  def substringDecontam(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val probes = docs.where(pmod(col("doc_id"), lit(100)) === 0)
    TextOps.sharedWindows(docs, "text", "doc_id", probes, "text", "doc_id", w = 20)
      .orderBy("doc_id", "probe_id")
  }

  /** q131 — Bloom-filter decontamination screen: the fixed-size-broadcast
    * scale path for q51 (see [[graft.ops.TextOps.bloomDecontam]]). Probes
    * are the q51/q90 benchmark slice (doc_id % 100 == 0), the screened
    * corpus is everything else (a probe trivially contains its own grams —
    * self-exclusion by partition, where q51 excludes self-PAIRS). A doc is
    * bloom-flagged when ≥ 2 of its grams are filter candidates and
    * exact-flagged when ≥ 2 are truly shared with the probe gram SET (the
    * union semantics a stage-1 screen has — q51's per-pair report is the
    * stage-2 refinement on survivors). The per-source report carries the
    * audit: false_pos = bloom-only flags (position collisions; grows with
    * filter load, shrinkable via mBits), false_neg pinned 0 structurally —
    * a Bloom filter cannot miss a member. */
  def bloomDecontamScreen(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val corpus = docs.where(pmod(col("doc_id"), lit(100)) =!= 0)
    val probes = docs.where(pmod(col("doc_id"), lit(100)) === 0)
    val perDoc = TextOps.bloomDecontam(corpus, "text", "doc_id",
      probes, "text", "doc_id")
    corpus.select(col("doc_id"), col("source"))
      .join(perDoc, Seq("doc_id"), "left")
      .na.fill(0L, Seq("bloom_shared", "exact_shared"))
      .groupBy("source").agg(
        count(lit(1)).as("docs"),
        sum(when(col("bloom_shared") >= 2, 1L).otherwise(0L)).as("bloom_flagged"),
        sum(when(col("exact_shared") >= 2, 1L).otherwise(0L)).as("exact_flagged"),
        sum(when(col("bloom_shared") >= 2 && col("exact_shared") < 2, 1L)
          .otherwise(0L)).as("false_pos"),
        sum(when(col("exact_shared") >= 2 && col("bloom_shared") < 2, 1L)
          .otherwise(0L)).as("false_neg"))
      .orderBy("source")
  }

  /** q135 — trade communities via synchronous weighted label propagation
    * (4 rounds): the clustering semantics the graph family lacked —
    * components say WHICH nodes connect (q48/q127), rank says WHO matters
    * (q128/q133); communities say WHAT clusters together (the
    * domain/topic-clustering verb). Labels are node ids (< 10^7 at every
    * testdata SF — the argmax-encode bound Graph.labelPropagation
    * documents); the report is the top-20 communities by size with the
    * representative label rendered c:/s:. Bipartite oscillation is fixed
    * by the deterministic round count and replayed identically by the
    * oracle. */
  def tradeCommunities(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Graph.labelPropagation(tradeEdges(spark, dir), rounds = 4)
      .groupBy("lab").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("lab")).limit(20)
      .select(when(col("lab") % 2 === 0, concat(lit("c:"), expr("lab div 2")))
        .otherwise(concat(lit("s:"), expr("lab div 2"))).as("community"),
        col("n"))

  /** q136 — bipartite co-occurrence projection: the graph-CONSTRUCTION
    * verb the graph-algorithm family (q128/q133/q134/q135) consumes —
    * project the customer↔supplier bipartite relation onto suppliers, two
    * suppliers connected with weight = the number of customers they share
    * (co-purchase; same shape as co-citation / co-click / doc-term
    * co-occurrence). The scale hazard is the per-customer basket: pairs
    * per customer grow as basket², so a whale customer explodes the join.
    * Discipline: the basket caps at 256 suppliers per customer via the
    * skew-safe bottom-k threshold form ([[graft.ops.Sampling
    * .quotaPerKeyAgg]], the q52 operator — no single-task sort), keeping
    * per-customer fanout ≤ cap²/2 at any scale. The oracle replays the
    * SAME capped projection (on a distinct (c, s) relation the bottom-k
    * threshold is exactly `row_number() ≤ quota ORDER BY s`), so the
    * contract holds whether or not the cap binds — non-binding on this
    * testdata (max basket 102 at sf0.1), binding and certified on the
    * round-16 whale corpus (tools/gen_sf.py --whales).
    * Output: top-20 supplier pairs by shared customers. */
  /** The capped projection core over a distinct (c, s) relation — exposed
    * for the spec's whale-basket pin. */
  private[operators] def coPurchaseProjection(ps: DataFrame, quota: Int): DataFrame = {
    // persist: the self-join references `capped` twice and Catalyst does not
    // unify the legs — unpersisted, the bottom-k quota aggregation + threshold
    // join run once per leg (round-16 optimization, guide §2.4: one subtree
    // materialization instead of two identical ones). The cached relation is
    // narrow (two longs/row, ≤ quota rows per key).
    // Ownership: Verify/Bench clear the cache after each query's action.
    val capped = graft.ops.Sampling.quotaPerKeyAgg(ps, "c", "s", quota).persist()
    capped.as("a").join(capped.as("b"),
        col("a.c") === col("b.c") && col("a.s") < col("b.s"))
      .groupBy(col("a.s").as("s1"), col("b.s").as("s2"))
      .agg(count(lit(1)).as("shared"))
  }

  def coPurchasePairs(spark: SparkSession, dir: String): DataFrame = {
    val li = table(spark, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
    val ord = table(spark, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    val ps = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("s")).distinct()
    coPurchaseProjection(ps, quota = 256)
      .orderBy(col("shared").desc, col("s1"), col("s2")).limit(20)
  }

  /** Shared market-basket edge relation for the triangle family: parts are
    * connected when they appear in the SAME order at least twice (support
    * ≥ 2 — the a-priori screen that keeps the co-occurrence graph sparse
    * where the q136 customer↔supplier projection is complete). Same basket
    * discipline as q136: the per-order basket caps at 256 parts via the
    * skew-safe bottom-k threshold ([[graft.ops.Sampling.quotaPerKeyAgg]]),
    * bounding per-basket pair fanout at cap²/2 at any scale; the oracle
    * replays the same cap as `row_number() ≤ 256` (valid whether or not
    * it binds — TPC-H orders hold ≤ 7 lineitems, so here it never does). */
  private[operators] def basketEdges(spark: SparkSession, dir: String): DataFrame = {
    val po = table(spark, dir, "lineitem")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    // persist: both legs of the self-join below read `capped` — cached, the
    // lineitem scan + distinct + quota aggregation run once instead of twice
    // (round-16 optimization, guide §2.4). Narrow (long, long) rows.
    // Ownership: Verify/Bench clear the cache after each query's action.
    val capped = graft.ops.Sampling.quotaPerKeyAgg(po, "o", "p", 256).persist()
    capped.as("a").join(capped.as("b"),
        col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .groupBy(col("a.p").as("u"), col("b.p").as("v"))
      .agg(count(lit(1)).as("sh"))
      .where(col("sh") >= 2)
      .select("u", "v")
  }

  /** q138 — triangle census: global cohesion of the market-basket
    * co-occurrence graph — nodes, edges, wedges (open 2-paths), triangles,
    * and transitivity (3·triangles/wedges) in integer basis points. The
    * graph family's COUNTING verb next to components (q48), rank (q128),
    * distance (q134) and communities (q135). Enumeration is the classic
    * degree-ordered form ([[graft.ops.Graph.orientByDegree]]): orient every
    * edge from its (degree, id)-smaller endpoint, then one wedge join plus
    * one closure semi-join — O(m^1.5) intermediate rows on any graph (a
    * power-law hub fans out deg² wedges under naive id-ordering; under
    * degree-ordering every out-degree is O(√m)). No window, no driver
    * state; the three census scalars cross-join as one-row frames.
    * Persisted frames: the edge set feeds degrees + the edge count + the
    * orientation; Verify/Bench clear the cache per query. */
  def triangleCensus(spark: SparkSession, dir: String): DataFrame = {
    val e0 = basketEdges(spark, dir).persist()
    val deg = graft.ops.Graph.degrees(e0).persist()
    val oe = graft.ops.Graph.orientByDegree(e0, deg).persist()
    val tris = graft.ops.Graph.triangles(oe)
    val nw = deg.agg(count(lit(1)).as("nodes"),
      sum(expr("d * (d - 1) div 2")).as("wedges"))
    nw.crossJoin(e0.agg(count(lit(1)).as("edges")))
      .crossJoin(tris.agg(count(lit(1)).as("triangles")))
      .select(col("nodes"), col("edges"), col("wedges"), col("triangles"),
        expr("(triangles * 30000) div wedges").as("transitivity_bp"))
  }

  /** q139 — local clustering coefficient: per-part triangle participation
    * against its wedge capacity d(d−1)/2, in basis points — the node-level
    * cohesion signal (is this part's neighborhood a clique or a star?)
    * that the q138 global census averages away. Top-20 by (cc, triangles,
    * id) — a total order, so ranks are deterministic under ties. */
  def localClustering(spark: SparkSession, dir: String): DataFrame = {
    val e0 = basketEdges(spark, dir).persist()
    val deg = graft.ops.Graph.degrees(e0).persist()
    val oe = graft.ops.Graph.orientByDegree(e0, deg).persist()
    val tn = graft.ops.Graph.triangleCounts(graft.ops.Graph.triangles(oe))
    deg.join(tn, Seq("n"), "left").na.fill(0L, Seq("tri"))
      .where(col("d") >= 2)
      .select(col("n").as("part"), col("d").as("degree"), col("tri"),
        expr("(tri * 20000) div (d * (d - 1))").as("local_cc_bp"))
      .orderBy(col("local_cc_bp").desc, col("tri").desc, col("part"))
      .limit(20)
  }

  /** q143 — association rules over the customer→supplier baskets: for each
    * ordered supplier pair (antecedent → consequent), support (shared
    * customers), confidence (shared div antecedent count, basis points) and
    * lift (shared·N div ante·cons, basis points with N = distinct
    * customers) — the market-basket RULE verb (Agrawal et al. 1993) over
    * the q136 co-occurrence projection: q136 says which items co-occur,
    * q143 says which co-occurrences are SURPRISING (lift > 10000) versus
    * popularity artifacts. Top-20 by the total order (lift, conf, ante,
    * cons) — (ante, cons) is unique, so ranks are deterministic.
    *
    * Scale: the pair relation is the q136 capped projection (the oracle
    * replays the SAME cap as row_number ≤ 256, so the contract holds on
    * cap-binding whale data too — certified round 16); item counts are one
    * |items|-row aggregate joined twice (broadcast-able at any realistic
    * vocabulary); N is the one scalar collect (a count, like pageRank's
    * |nodes|). Integer-exact; overflow bound documented on the lift
    * product: shared·10000·N < 2^63 holds through ~9e14 customer-pairs —
    * widen to DecimalType past that (the [[graft.ops.Graph]] rule). */
  def associationRules(spark: SparkSession, dir: String): DataFrame = {
    val li = table(spark, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
    val ord = table(spark, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    val ps = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("s")).distinct().persist()
    val nBaskets = ps.select("c").distinct().count()
    val itemCnt = ps.groupBy("s").agg(count(lit(1)).as("cnt"))
    // persist: `rules` reads the pair relation twice (ante→cons and
    // cons→ante legs of the unionAll) — unpersisted, the WHOLE capped
    // projection (quota agg + self-join + pair aggregation) ran once per
    // leg (round-16 optimization; the plan showed two identical Aggregate
    // subtrees under the Union). Narrow rows: (long, long, long).
    // Ownership: Verify/Bench clear the cache after each query's action.
    val pairs = coPurchaseProjection(ps, quota = 256).persist()
    val rules = pairs.select(col("s1").as("ante"), col("s2").as("cons"), col("shared"))
      .unionAll(pairs.select(col("s2").as("ante"), col("s1").as("cons"), col("shared")))
    rules
      .join(itemCnt.select(col("s").as("ante"), col("cnt").as("n_ante")), "ante")
      .join(itemCnt.select(col("s").as("cons"), col("cnt").as("n_cons")), "cons")
      .where(col("shared") >= 3)
      .select(col("ante"), col("cons"), col("shared"), col("n_ante"), col("n_cons"),
        expr("(shared * 10000) div n_ante").as("conf_bp"),
        expr(s"(shared * 10000 * ${nBaskets}L) div (n_ante * n_cons)").as("lift_bp"))
      .orderBy(col("lift_bp").desc, col("conf_bp").desc, col("ante"), col("cons"))
      .limit(20)
  }

  /** q144 — 2-core peel trace of the market-basket graph
    * ([[graft.ops.Graph.kCoreTrace]], k=2, 6 synchronous rounds): how fast
    * the tree periphery strips away to the cohesive kernel. 6 rounds
    * converge at both test SFs (sf0.1 peels 5922→3 nodes — the graph is
    * almost all periphery; sf0.01 stabilizes by round 3), and convergence
    * is visible as equal tail rows. Oracle unrolls the same 6 peels. */
  def basketKCore(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Graph.kCoreTrace(basketEdges(spark, dir), k = 2, rounds = 6)
      .orderBy("round")

  /** q145 — link prediction on the market-basket graph
    * ([[graft.ops.Graph.linkPredict]]): the top-20 missing part-part links
    * by resource-allocation index (ties: common neighbors, then ids) — the
    * related-item recommendation the co-occurrence graph implies but
    * doesn't contain. The 256 neighbor cap is provably non-binding (max
    * degree 13 at both test SFs), so the oracle replays the uncapped wedge
    * set (the q63/q122 rule). */
  def basketLinkPredict(spark: SparkSession, dir: String): DataFrame = {
    val e0 = basketEdges(spark, dir).persist()
    graft.ops.Graph.linkPredict(e0)
      .orderBy(col("ra_ppm").desc, col("cn").desc, col("u"), col("v"))
      .limit(20)
  }

  /** q142 — edit-distance record linkage over documents: pairs within
    * normalized Levenshtein 0.2 of the longer side, candidates from the
    * portable 1/8 sampled-gram inverted index ([[graft.ops.Dedup
    * .editNearDups]]). The 1024 bucket cap is provably non-binding on this
    * corpus (max sampled-gram bucket 23 at sf0.1), so the oracle replays
    * the UNCAPPED index + the unbounded levenshtein — same candidate set,
    * same filter, hash-exact. */
  def editDistanceLinks(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.editNearDups(table(spark, dir, "documents"), "text", "doc_id")
      .orderBy("idA", "idB")

  /** q78 — the decontamination review queue: for each probe (eval item),
    * the 3 corpus documents that CONTAIN most of it — containment =
    * shared/|probe grams|, the asymmetric score that catches a short
    * benchmark item verbatim inside a long training doc where Jaccard
    * vanishes. Threshold-free on purpose: absolute cutoffs are
    * corpus-dependent (this synthetic corpus tops out at ~0.09), while
    * "the top-k suspects per probe" is the shape a human review or a
    * downstream drop-rule consumes at any scale. Ties break to the
    * smaller doc_id, so ranks are deterministic. */
  def containmentDecontam(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val probes = docs.where(pmod(col("doc_id"), lit(100)) === 0)
    val scored = TextOps.containmentScores(
      docs, "text", "doc_id", probes, "text", "doc_id", n = 3)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("probe_id").orderBy(col("containment").desc, col("doc_id").asc)
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= 3)
      .orderBy("probe_id", "rank")
  }

  /** Per-source document quota (the crawl pipeline's per-domain cap):
    * first 20 docs per source by id, rolled up. Runs the skew-safe
    * bottom-k-threshold form — doc_id is unique, so it selects exactly the
    * window variant's rows while a 90%-hot source (the power-law crawl
    * shape) pre-reduces map-side instead of sorting in one task. */
  def sourceQuota(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.quotaPerKeyAgg(table(spark, dir, "documents"), "source", "doc_id", quota = 20)
      .groupBy("source")
      .agg(count(lit(1)).as("n"), max("doc_id").as("max_kept"))
      .orderBy("source")

  // --- the core graph operator, driver-visible -----------------------------

  /** Dependency links over spans synthesized deterministically from `events`:
    * each event is a span; ~50 events share a trace; parent = previous
    * event id within the trace; service names from event_type; errors where
    * value < 0.05. Exercises the full distributed link pipeline (grouping,
    * linker, final agg) on driver data — semantics pinned by fixtures. */
  def dependencyLinks(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = table(spark, dir, "events")
    val spans = ev.select(
      format_string("%016x", expr("event_id DIV 50")).as("traceId"),
      when(pmod(col("event_id"), lit(50)) =!= 0,
        format_string("%016x", col("event_id") - 1)).as("parentId"),
      format_string("%016x", col("event_id")).as("id"),
      element_at(array(lit("CLIENT"), lit("SERVER"), lit("CLIENT"), lit("SERVER")),
        (pmod(col("event_id"), lit(4)) + 1).cast("int")).as("kind"),
      ContractQueries.tsMicros(ev).as("timestamp"),
      lit(null).cast("long").as("duration"),
      lit(false).as("shared"),
      concat(lit("svc-"), col("event_type")).as("localServiceName"),
      concat(lit("svc-"), element_at(array(lit("click"), lit("view"), lit("purchase")),
        (pmod(col("user_id"), lit(3)) + 1).cast("int"))).as("remoteServiceName"),
      (col("value") < 0.05).as("errorTag"))
      .as[Span]
    LinkJob.linkSpans(spans, "2024-01-01", Admission.IndexDay)
      .orderBy("parent", "child").toDF()
  }

  /** Dup clusters: connected components over the exact-verified near-dup
    * pairs (q24's output), assigning every clustered document its
    * component's min-id representative — pairwise evidence → keep-one-per-
    * cluster decisions. Oracle: recursive-CTE transitive closure. */
  def dupClusters(spark: SparkSession, dir: String): DataFrame =
    Dedup.dupClusters(ngramNearDups(spark, dir).select("idA", "idB"))
      .withColumnRenamed("id", "doc_id").withColumnRenamed("rep", "cluster_rep")
      .orderBy("doc_id")

  /** M1 driver surface — the v1 two-table ingest, end to end: synthesize
    * zipkin_spans / zipkin_annotations-shaped tables from `events`, run the
    * Spark-side pushdown join (V1SpanFold.fromV1Tables), fold, link.
    *
    * Synthesis (deterministic): spans chain as in q33 (trace = event_id/50,
    * parent = previous event). Every non-"signup" span gets annotations
    * sr=own service, ca=previous event's service (root: "svc-ingress"), a
    * non-core "http.path" tag (must be filtered by the key list), and error
    * rows exercising all three guards: a_type=6 with endpoint (counts,
    * value<0.05), a_type=6 with NULL endpoint (must NOT count,
    * 0.05≤value<0.07 — DependencyLinkSpanIterator.java:94), a_type=-1
    * annotation (must NOT count, 0.07≤value<0.08). "signup" spans get no
    * annotations — the LEFT OUTER join keeps them as kind-less tree hops the
    * linker's ancestor walk must step across (recursion depth > 1). */
  def v1TwoTableLinks(spark: SparkSession, dir: String): DataFrame = {
    val (lo, hi) = LinkJob.dayWindowMicros("2024-01-01")
    val ev = table(spark, dir, "events")
      .select(col("event_id"), col("event_type"), col("value"))
    val trace = expr("event_id DIV 50")
    val svc = concat(lit("svc-"), col("event_type"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(trace).orderBy("event_id")
    val withCa = ev.withColumn("ca_svc", coalesce(lag(svc, 1).over(w), lit("svc-ingress")))
    val spansT = ev.select(
      trace.as("trace_id"),
      when(pmod(col("event_id"), lit(50)) =!= 0, col("event_id") - 1).as("parent_id"),
      col("event_id").as("id"),
      (lit(lo) + pmod(col("event_id"), lit(1000000L))).as("start_ts"))
    val annRows = withCa
      .where(col("event_type") =!= "signup")
      .select(trace.as("trace_id"), col("event_id").as("span_id"),
        explode(array(
          struct(lit("sr").as("k"), svc.as("esn"), lit(-1).as("t"), lit(true).as("keep")),
          struct(lit("ca").as("k"), col("ca_svc").as("esn"), lit(-1).as("t"), lit(true).as("keep")),
          struct(lit("http.path").as("k"), lit("/x").as("esn"), lit(6).as("t"), lit(true).as("keep")),
          struct(lit("error").as("k"), svc.as("esn"), lit(6).as("t"), (col("value") < 0.05).as("keep")),
          struct(lit("error").as("k"), lit(null).cast("string").as("esn"), lit(6).as("t"),
            (col("value") >= 0.05 && col("value") < 0.07).as("keep")),
          struct(lit("error").as("k"), svc.as("esn"), lit(-1).as("t"),
            (col("value") >= 0.07 && col("value") < 0.08).as("keep")))).as("ann"))
      .where(col("ann.keep"))
      .select(col("trace_id"), col("span_id"), col("ann.k").as("a_key"),
        col("ann.esn").as("endpoint_service_name"), col("ann.t").as("a_type"))
    val spans = graft.codec.V1SpanFold.fromV1Tables(spansT, annRows, lo, hi)
    LinkJob.linkSpans(spans, "2024-01-01", Admission.IndexDay)
      .orderBy("parent", "child").toDF()
  }

  /** Approximate distinct (HLL++) vs exact — the §4.3 cardinality surface
    * for 100 TB (exact distinct is a full shuffle of the values; HLL is a
    * fixed-size sketch mergeable map-side). DuckDB can't reproduce Spark's
    * HLL values, so the sketch surfaces as `approx_ok` — |approx − exact| ≤
    * 6%·exact (3× the configured rsd=0.02) — which the oracle pins to TRUE
    * while the exact columns hash-match as usual. A sketch drifting out of
    * its accuracy bound turns the row red. */
  def approxDistinct(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .groupBy("source")
      .agg(
        approx_count_distinct(col("text"), 0.02).as("approx_uniq"),
        countDistinct(col("text")).as("exact_uniq"),
        count(lit(1)).as("n"))
      .select(col("source"), col("exact_uniq"), col("n"),
        // 3× rsd relative + a small absolute floor: at tiny cardinalities
        // (sf0.001: 25/source) the relative term alone is < 2 counts,
        // tighter than the sketch's integer resolution
        (abs(col("approx_uniq") - col("exact_uniq")) <=
          col("exact_uniq") * 0.06 + lit(3.0)).as("approx_ok"))
      .orderBy("source")

  /** q128 — graph rank propagation: weighted PageRank over the
    * customer↔supplier trade graph (nodes = trading customers + suppliers,
    * one directed edge EACH WAY per trading pair weighted by its lineitem
    * count — symmetrization also guarantees [[graft.ops.Graph.pageRank]]'s
    * no-dangling-node precondition). The rank family CC (q48/q127) doesn't
    * cover: in curation terms this is host-graph centrality (Common Crawl's
    * published host ranking), here ranking suppliers/customers by recursive
    * trade importance, 10 damped power-iteration steps at 0.85. Entirely
    * integer arithmetic in BIGINT mass units (see Graph.pageRank), so the
    * top-20 rank vector hash-matches DuckDB's unrolled-CTE replay exactly.
    * Scale: the pair aggregation collapses lineitem×orders to the distinct
    * trading-pair relation before any iteration; the loop touches only
    * (node, long) rows. */
  /** Shared symmetrized trade-graph edge relation on LONG node ids
    * (customer 2k, supplier 2k+1 — 8-byte keys through every loop
    * shuffle; labels render on final rows only). Persists the pair
    * relation (both union legs read it — else the big lineitem⋈orders
    * join runs twice); Verify/Bench clear the cache after each query's
    * action. */
  private[operators] def tradeEdges(spark: SparkSession, dir: String): DataFrame = {
    val li = table(spark, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
    val ord = table(spark, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    val pair = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey").as("c"), col("l_suppkey").as("s"))
      .agg(count(lit(1)).as("w")).persist()
    pair.select(expr("c * 2").as("src"), expr("s * 2 + 1").as("dst"), col("w"))
      .unionByName(pair.select(expr("s * 2 + 1").as("src"), expr("c * 2").as("dst"), col("w")))
  }

  /** The q133/q134 trusted seed set: every tenth supplier, as graph node
    * ids. (Rate-only is fine HERE: TrustRank/BFS state is min-merged per
    * node — O(|V|) whatever |seeds| is. Per-seed-state consumers must use
    * [[calibrationSeeds]] instead.) */
  private[operators] def seedSuppliers(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "supplier")
      .where(pmod(col("s_suppkey"), lit(10)) === 0)
      .select(expr("s_suppkey * 2 + 1").as("node"))

  /** ABSOLUTE cap on the q167 host-reputation seed set. (The q157/q166
    * calibration audits use the tighter [[CalibrationSeedCap]] = 8, not
    * this.) The exact side of a per-seed-state audit carries (seed, node)
    * rows, so |seeds| must be a CONSTANT, not a rate — the 1%-rate form
    * grew work ∝ sf² (measured 12.5× at 10× data in the round-14 drill;
    * ~10,000× at 100×). 64 caps the q167 host seeds (domain-grained — 20
    * at every test SF, so non-binding there). */
  private[operators] val SeedCap = 64

  /** The supplier calibration audits (q157/q166) use a tighter cap: their
    * exact side walks |seeds| simultaneous 3-hop BFS frontiers over the
    * whole trade graph, so the cap is the entire cost story — 8 seeds
    * make the exact audit a rounding error against the O(|V|·16) sketch
    * side it calibrates at any corpus size, while still averaging
    * mean/max error over 8 balls × 3 hops. Binds from sf0.1 up (10
    * sampled suppliers → 8), which is exactly what lets the scale drill
    * measure the capped shape at BOTH drill points; the correctness-gate
    * SFs sample ≤ 1 seed and are unchanged. Raising the cap is a
    * deliberate audit-cost decision, never a side effect of data growth. */
  private[operators] val CalibrationSeedCap = 8

  /** q157/q166's calibration seed set: every 100th supplier, capped to
    * the [[CalibrationSeedCap]] smallest node ids — a deterministic
    * TakeOrdered the oracle replays as ORDER BY node LIMIT n (the
    * SemDedup.idRankSample discipline applied to graph seeds). */
  private[operators] def calibrationSeeds(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "supplier")
      .where(pmod(col("s_suppkey"), lit(100)) === 0)
      .select(expr("s_suppkey * 2 + 1").as("node"))
      .orderBy("node").limit(CalibrationSeedCap)

  /** SQL twin of [[calibrationSeeds]] — the `sd` CTE both graph-audit
    * oracles open with. */
  private[operators] val calibrationSeedCte: String =
    s"sd AS (SELECT s_suppkey * 2 + 1 AS node FROM supplier " +
      s"WHERE s_suppkey % 100 = 0 ORDER BY node LIMIT $CalibrationSeedCap)"

  private def labelTop20(ranked: DataFrame): DataFrame =
    ranked.orderBy(col("rank_u").desc, col("node")).limit(20)
      .select(when(col("node") % 2 === 0, concat(lit("c:"), expr("node div 2")))
        .otherwise(concat(lit("s:"), expr("node div 2"))).as("node"), col("rank_u"))

  def tradePageRank(spark: SparkSession, dir: String): DataFrame =
    labelTop20(graft.ops.Graph.pageRank(tradeEdges(spark, dir), iterations = 10))

  /** q133 — TrustRank / personalized PageRank: the q128 power iteration
    * with ALL teleport mass on a trusted seed set (every tenth supplier) —
    * Gyöngyi et al. 2004's trust propagation, the curation form of "rank
    * hosts by recursive proximity to a seed whitelist" that demotes
    * spam-farm subgraphs a global PageRank can't distinguish. Same integer
    * discipline, same 10×0.85 loop; the rank vector keeps exact zeros for
    * unreached nodes so every iteration's plan is identical. */
  def tradeTrustRank(spark: SparkSession, dir: String): DataFrame =
    labelTop20(graft.ops.Graph.personalizedPageRank(
      tradeEdges(spark, dir), seedSuppliers(spark, dir), iterations = 10))

  /** q134 — distance-to-seed histogram: multi-source BFS hop distance from
    * the trusted seed set, bounded at 4 hops, rolled up per node side —
    * TrustRank's discrete cousin (how many trade steps from a trusted
    * supplier?) and the frontier-expansion Pregel shape: each round joins
    * only the newly-reached frontier against the edges, so a converged
    * graph stops early instead of burning rounds×|edges|. Unreached nodes
    * report dist −1. */
  def tradeSeedDistances(spark: SparkSession, dir: String): DataFrame = {
    val edges = tradeEdges(spark, dir)
    val dist = graft.ops.Graph.bfsDistances(edges, seedSuppliers(spark, dir),
      maxHops = 4)
    edges.select(col("src").as("node")).distinct()
      .join(dist, Seq("node"), "left")
      .select(when(col("node") % 2 === 0, lit("customer"))
        .otherwise(lit("supplier")).as("side"),
        coalesce(col("dist"), lit(-1L)).as("dist"))
      .groupBy("side", "dist").agg(count(lit(1)).as("n"))
      .orderBy("side", "dist")
  }

  /** q148 — HITS hubs & authorities (Kleinberg 1999) over the DIRECTED
    * customer→supplier trade graph (edge weight = lineitem count): the
    * endorsement rank the symmetrized PageRank family can't express — a
    * strong BUYER (hub) is one buying from strong SUPPLIERS (authorities)
    * and vice versa, two mutually-recursive vectors where q128 collapses
    * both roles into one score. Curation reading: rank crawl seed lists
    * (hubs) against content hosts (authorities) over the link bipartite.
    * 4 rounds of [[graft.ops.Graph.hits]]'s integer loop; top-10 per side
    * by the total (score, node) order, node ids labeled on final rows
    * only. The pair aggregation collapses lineitem⋈orders before any
    * iteration — the loop touches (node, long) rows only. */
  def tradeHits(spark: SparkSession, dir: String): DataFrame = {
    val li = table(spark, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
    val ord = table(spark, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    val pair = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey").as("src"), col("l_suppkey").as("dst"))
      .agg(count(lit(1)).as("w"))
    val scored = graft.ops.Graph.hits(pair, rounds = 4)
    val hubs = scored.where(col("side") === "hub")
      .orderBy(col("score_u").desc, col("node")).limit(10)
      .select(col("side"), concat(lit("c:"), col("node")).as("node"), col("score_u"))
    val auths = scored.where(col("side") === "auth")
      .orderBy(col("score_u").desc, col("node")).limit(10)
      .select(col("side"), concat(lit("s:"), col("node")).as("node"), col("score_u"))
    hubs.unionByName(auths).orderBy(col("side"), col("score_u").desc, col("node"))
  }

  /** q151 — trade-graph degree profile: [[graft.ops.Concentration]]'s Gini
    * + top-1%-share over each side's degree distribution (customer degree =
    * distinct suppliers traded with; supplier degree = distinct customers) —
    * the graph-SHAPE verb the algorithm family presumes: before q136's
    * basket cap or q145's star cap you measure how hub-heavy the graph
    * actually is, as auditable integer basis points. The distinct pair
    * relation collapses lineitem⋈orders once; each side is one key-count
    * aggregate; all windows run over the degree-value histogram. */
  def tradeDegreeProfile(spark: SparkSession, dir: String): DataFrame = {
    val li = table(spark, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
    val ord = table(spark, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    val ps = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("s")).distinct()
      .persist()
    val deg = ps.groupBy("c").agg(count(lit(1)).as("deg"))
      .select(lit("customer").as("side"), col("deg"))
      .unionByName(ps.groupBy("s").agg(count(lit(1)).as("deg"))
        .select(lit("supplier").as("side"), col("deg")))
    graft.ops.Concentration.profile(deg, Seq("side"), "deg").orderBy("side")
  }

  /** q153 — trade-cost proximity: bounded weighted shortest path (≤4 edges)
    * from the trusted seed suppliers over the symmetrized trade graph with
    * edge LENGTH = max(1, 1e6 div w) — strong trading pairs are NEAR, so
    * this is q134's hop distance upgraded to cost semantics (a customer two
    * heavy hops away outranks one light hop away). Per side: nodes, reached
    * count, total and max cost. [[graft.ops.Graph.weightedDistances]] is
    * the min-plus Pregel with SPFA frontier relaxation; the oracle replays
    * FULL relaxation (provably equal, see the operator doc). */
  def tradeCostDistances(spark: SparkSession, dir: String): DataFrame = {
    val edges = tradeEdges(spark, dir)
      .select(col("src"), col("dst"),
        greatest(lit(1L), expr("1000000 div w")).as("w"))
    val dist = graft.ops.Graph.weightedDistances(
      edges, seedSuppliers(spark, dir), rounds = 4)
    edges.select(col("src").as("node")).distinct()
      .join(dist, Seq("node"), "left")
      .select(when(col("node") % 2 === 0, lit("customer"))
        .otherwise(lit("supplier")).as("side"), col("dist"))
      .groupBy("side")
      .agg(count(lit(1)).as("n_nodes"), count(col("dist")).as("n_reached"),
        sum("dist").as("sum_dist"), max("dist").as("max_dist"))
      .orderBy("side")
  }

  val all: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q128_pagerank" -> (tradePageRank _),
    "q148_hits" -> (tradeHits _),
    "q151_degree_profile" -> (tradeDegreeProfile _),
    "q153_cost_distance" -> (tradeCostDistances _),
    "q133_trustrank" -> (tradeTrustRank _),
    "q134_seed_distance" -> (tradeSeedDistances _),
    "q135_communities" -> (tradeCommunities _),
    "q136_copurchase" -> (coPurchasePairs _),
    "q138_triangle_census" -> (triangleCensus _),
    "q139_local_clustering" -> (localClustering _),
    "q142_edit_linkage" -> (editDistanceLinks _),
    "q143_assoc_rules" -> (associationRules _),
    "q144_kcore_peel" -> (basketKCore _),
    "q145_link_predict" -> (basketLinkPredict _),
    "q21_dedup_keep_first" -> (dedupKeepFirst _),
    "q22_token_count" -> (tokenCounts _),
    "q23_text_stats_by_lang" -> (textStatsByLang _),
    "q24_ngram_neardups" -> (ngramNearDups _),
    "q25_minhash_neardups" -> (minhashNearDups _),
    "q26_simhash_neardups" -> (simhashNearDups _),
    "q27_embedding_topk" -> (embeddingTopK _),
    "q28_embedding_lsh_topk" -> (embeddingLshTopK _),
    "q29_lang_quality" -> (langQualityRollup _),
    "q30_fingerprint_buckets" -> (fingerprintBuckets _),
    "q31_multimodal_features" -> (multimodalFeatures _),
    "q32_video_frames" -> (videoFrameSample _),
    "q101_audio_stats" -> (audioStreamStats _),
    "q122_phash_neardups" -> (phashNearDups _),
    "q123_phash_admit" -> (phashAdmitBatch _),
    "q127_phash_clusters" -> (phashDupClusters _),
    "q33_dependency_links" -> (dependencyLinks _),
    "q34_approx_distinct" -> (approxDistinct _),
    "q46_v1_two_table_links" -> (v1TwoTableLinks _),
    "q47_embedding_ivf_topk" -> (embeddingIvfTopK _),
    "q48_dup_clusters" -> (dupClusters _),
    "q49_embedding_neardups" -> (embeddingNearDupPairs _),
    "q50_train_splits" -> (trainSplits _),
    "q51_contamination" -> (contaminationReport _),
    "q131_bloom_decontam" -> (bloomDecontamScreen _),
    "q52_source_quota" -> (sourceQuota _),
    "q75_embedding_ivf_model" -> (embeddingIvfModelTopK _),
    "q77_embedding_ivf_probe2" -> (embeddingIvfProbe2TopK _),
    "q104_ann_recall" -> (annRecall _),
    "q109_pq_recall" -> (pqRecall _),
    "q78_containment_decontam" -> (containmentDecontam _),
    "q79_embedding_ivf_model_probe2" -> (embeddingIvfModelProbe2TopK _),
    "q89_embedding_pq_topk" -> (embeddingPqTopK _),
    "q90_substring_decontam" -> (substringDecontam _)
  )

  /** Shared DuckDB fragments for the word-3-gram pair oracles (q24, q48). */
  private[operators] val gramsCte =
    "toks AS (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS t FROM documents), " +
      "grams AS (SELECT doc_id, list_distinct(CASE WHEN len(t) = 0 THEN CAST([] AS VARCHAR[]) " +
      "WHEN len(t) < 3 THEN [array_to_string(t, ' ')] " +
      "ELSE list_transform(generate_series(1, len(t)-2), i -> array_to_string(t[i:i+2], ' ')) END) AS g FROM toks)"
  /** q138/q139 shared replay: uncapped basket edges (the 256 cap cannot
    * bind — ≤ 7 lineitems per order), (degree, id) tuple-ordered
    * orientation, path-closure triangle enumeration. */
  private val basketTriCtes =
    """po AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |pc AS (SELECT o, p FROM (
      |    SELECT o, p, row_number() OVER (PARTITION BY o ORDER BY p) AS rk FROM po)
      |  WHERE rk <= 256),
      |e0 AS (SELECT a.p AS u, b.p AS v FROM pc a JOIN pc b
      |  ON a.o = b.o AND a.p < b.p GROUP BY 1, 2 HAVING count(*) >= 2),
      |deg AS (SELECT n, count(*)::BIGINT AS d FROM
      |  (SELECT u AS n FROM e0 UNION ALL SELECT v FROM e0) GROUP BY 1),
      |oe AS (SELECT CASE WHEN (du.d, e0.u) < (dv.d, e0.v) THEN e0.u ELSE e0.v END AS s,
      |              CASE WHEN (du.d, e0.u) < (dv.d, e0.v) THEN e0.v ELSE e0.u END AS t
      |  FROM e0 JOIN deg du ON du.n = e0.u JOIN deg dv ON dv.n = e0.v),
      |tris AS (SELECT e1.s AS a, e1.t AS b, e2.t AS c FROM oe e1
      |  JOIN oe e2 ON e2.s = e1.t
      |  WHERE EXISTS (SELECT 1 FROM oe e3 WHERE e3.s = e1.s AND e3.t = e2.t))""".stripMargin

  /** q144 replay: the same CAPPED basket edge set (the basketEdges
    * quota replayed as row_number ≤ 256 — see the q143 oracle note), then
    * 6 unrolled synchronous k=2 peels — d_r from e_r, e_{r+1} keeps edges
    * whose both endpoints have d_r ≥ 2; one stats row per round. Every CTE
    * level is MATERIALIZED: DuckDB otherwise inlines the recursion-shaped
    * chain and the expanded tree re-opens the parquet exponentially
    * (observed as "Too many open files" at depth 6). */
  private def q144OracleSql: String = {
    val sb = new StringBuilder(
      """WITH po AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |pc AS MATERIALIZED (SELECT o, p FROM (
        |    SELECT o, p, row_number() OVER (PARTITION BY o ORDER BY p) AS rk FROM po)
        |  WHERE rk <= 256),
        |e0 AS MATERIALIZED (SELECT a.p AS u, b.p AS v FROM pc a JOIN pc b
        |  ON a.o = b.o AND a.p < b.p GROUP BY 1, 2 HAVING count(*) >= 2),
        |""".stripMargin)
    for (r <- 0 until 6) {
      sb ++= s"d$r AS MATERIALIZED (SELECT n, count(*)::BIGINT AS d FROM " +
        s"(SELECT u AS n FROM e$r UNION ALL SELECT v FROM e$r) GROUP BY 1),\n"
      sb ++= s"e${r + 1} AS MATERIALIZED (SELECT u, v FROM e$r " +
        s"WHERE u IN (SELECT n FROM d$r WHERE d >= 2) " +
        s"AND v IN (SELECT n FROM d$r WHERE d >= 2)),\n"
    }
    sb ++= "d6 AS MATERIALIZED (SELECT n, count(*)::BIGINT AS d FROM " +
      "(SELECT u AS n FROM e6 UNION ALL SELECT v FROM e6) GROUP BY 1)\n"
    sb ++= (0 to 6).map(r =>
      s"SELECT $r::BIGINT AS round, (SELECT count(*) FROM d$r)::BIGINT AS n_nodes, " +
        s"(SELECT count(*) FROM e$r)::BIGINT AS n_edges")
      .mkString("", " UNION ALL ", " ORDER BY round")
    sb.toString
  }

  private[operators] val jaccardGe05 =
    "len(list_intersect(a.g, b.g))::DOUBLE / GREATEST(len(list_distinct(a.g || b.g)), 1) >= 0.5"

  /** Unrounded cosine (the IVF assignment compares raw similarities). */
  private def cosineAssignSql(a: String, b: String): String =
    s"CASE WHEN sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)) = 0 THEN 0.0 " +
      s"ELSE list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b))) END"

  /** Shared cosine fragment for the embedding oracles (double-widened, same
    * round-6 as the Spark side). */
  private def cosineSql(a: String, b: String): String =
    s"ROUND(CASE WHEN sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)) = 0 THEN 0.0 " +
      s"ELSE list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b))) END, 6)"

  /** q28 oracle: the SRP planes are deterministic (seeded), so they embed in
    * the SQL as double literals — the oracle recomputes the full signature,
    * single-probe bucket join, and exact re-rank independently of Spark. */
  private def q28OracleSql: String = {
    val ps = Similarity.planes(dim = 64, nPlanes = 8, seed = 42L)
    val sigExpr = ps.zipWithIndex.map { case (p, i) =>
      val lit = p.map(_.toString).mkString("[", ",", "]")
      s"(CASE WHEN list_dot_product(v, $lit) >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")
    "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
      s"sig AS (SELECT vec_id, v, $sigExpr AS s FROM e), " +
      "q AS (SELECT vec_id AS qid, v AS qv, s FROM sig WHERE vec_id < 10), " +
      "scored AS (SELECT q.qid AS \"queryId\", c.vec_id AS \"neighborId\", " +
      cosineSql("q.qv", "c.v") + " AS cosine " +
      "FROM q JOIN sig c ON c.s = q.s WHERE c.vec_id <> q.qid), " +
      "ranked AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY \"queryId\" ORDER BY cosine DESC, \"neighborId\") AS INTEGER) AS rank FROM scored) " +
      "SELECT \"queryId\", \"neighborId\", cosine, rank FROM ranked WHERE rank <= 5 ORDER BY \"queryId\", rank"
  }

  /** q49 oracle: replays the 48-plane SRP signature, 6×8-bit banding, and
    * exact cosine verify in SQL (planes embedded as literals). Assumes no
    * bucket exceeds the cap at oracle scale (sf0.01: ~2 ids per band key,
    * cap 1024), so the uncapped SQL equals the capped Spark output. */
  private def q49OracleSql: String = {
    val ps = Similarity.planes(dim = 64, nPlanes = 48, seed = 42L)
    val sigExpr = ps.zipWithIndex.map { case (p, i) =>
      val lit = p.map(_.toString).mkString("[", ",", "]")
      s"(CASE WHEN list_dot_product(v, $lit) >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")
    "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
      s"sig AS (SELECT vec_id, $sigExpr AS s FROM e), " +
      "banded AS (SELECT vec_id, t.b, ((s >> (t.b * 8)) & 255) AS k " +
      "FROM sig, (SELECT UNNEST([0,1,2,3,4,5]) AS b) t), " +
      "p AS (SELECT DISTINCT l.vec_id AS ia, r.vec_id AS ib FROM banded l " +
      "JOIN banded r ON l.b = r.b AND l.k = r.k AND l.vec_id < r.vec_id), " +
      "scored AS (SELECT p.ia AS idA, p.ib AS idB, " +
      cosineSql("ea.v", "eb.v") + " AS cosine " +
      "FROM p JOIN e ea ON ea.vec_id = p.ia JOIN e eb ON eb.vec_id = p.ib) " +
      "SELECT idA, idB, cosine FROM scored WHERE cosine >= 0.35 ORDER BY idA, idB"
  }

  /** q50 oracle: same md5-hex-prefix thresholds, computed from the same
    * weights so the literals can never drift from the Spark side. */
  private def q50OracleSql: String = {
    // These weights can't saturate (cumulative < 1.0 by construction of
    // init), so a None threshold here is a programming error — fail loudly.
    val Some(tQuarter) = graft.ops.Sampling.thresholdsFor(Seq("in" -> 0.25, "out" -> 0.75)).head._2: @unchecked
    "WITH s AS (SELECT lang, " +
      s"$splitCaseSql AS split, " +
      s"CASE WHEN substr(md5('q' || text), 1, 4) < '$tQuarter' THEN 1 ELSE 0 END AS q " +
      "FROM documents) " +
      "SELECT lang, split, count(*) AS n, CAST(SUM(q) AS BIGINT) AS n_quarter " +
      "FROM s GROUP BY lang, split ORDER BY lang, split"
  }

  /** Shared IVF oracle (q47 literal / q75 model forms): assignment by
    * argmax cosine over an every-`centroidEvery`th-vector coarse model,
    * ties to the larger centroid index, then a single-bucket probe with
    * exact re-rank. */
  /** IVF oracle: corpus assignment is always rn=1; queries take their
    * `nprobe` best buckets under the same (sim DESC, ci DESC) order the
    * Spark quantizer uses. */
  private def ivfOracleSql(centroidEvery: Int, nprobe: Int = 1): String =
    "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
      "cent AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS ci, v AS cv " +
      s"FROM (SELECT vec_id, v FROM (SELECT vec_id, v, ROW_NUMBER() OVER (ORDER BY vec_id) AS rk FROM e) WHERE (rk - 1) % $centroidEvery = 0 AND rk <= 800)), " +
      "sa AS (SELECT e.vec_id, e.v, c.ci, " + cosineAssignSql("e.v", "c.cv") + " AS sim " +
      "FROM e CROSS JOIN cent c), " +
      "rs AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, ci DESC) AS rn FROM sa), " +
      "assigned AS (SELECT vec_id, v, ci AS cid FROM rs WHERE rn = 1), " +
      s"q AS (SELECT vec_id AS qid, v AS qv, ci AS cid FROM rs WHERE rn <= $nprobe AND vec_id < 10), " +
      "scored AS (SELECT q.qid AS \"queryId\", c.vec_id AS \"neighborId\", " +
      cosineSql("q.qv", "c.v") + " AS cosine " +
      "FROM q JOIN assigned c ON c.cid = q.cid AND c.vec_id <> q.qid), " +
      "ranked AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY \"queryId\" ORDER BY cosine DESC, \"neighborId\") AS INTEGER) AS rank FROM scored) " +
      "SELECT \"queryId\", \"neighborId\", cosine, rank FROM ranked WHERE rank <= 5 ORDER BY \"queryId\", rank"

  /** q104 oracle: re-derives BOTH sides of the audit independently — the
    * IVF candidates at each probe depth (same coarse model, assignment, and
    * tie rules as [[ivfOracleSql]]) and the exact brute-force top-5 — then
    * counts the overlap per query. recall = hits/5 is exact in binary
    * (n/5·10⁻¹ decimals round clean at 6 dp on both engines). */
  private def annRecallOracleSql: String =
    "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
      "cent AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS ci, v AS cv " +
      "FROM (SELECT vec_id, v FROM (SELECT vec_id, v, ROW_NUMBER() OVER (ORDER BY vec_id) AS rk FROM e) WHERE (rk - 1) % 50 = 0 AND rk <= 800)), " +
      "sa AS (SELECT e.vec_id, e.v, c.ci, " + cosineAssignSql("e.v", "c.cv") + " AS sim " +
      "FROM e CROSS JOIN cent c), " +
      "rs AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, ci DESC) AS rn FROM sa), " +
      "assigned AS (SELECT vec_id, v, ci AS cid FROM rs WHERE rn = 1), " +
      "q AS (SELECT vec_id AS qid, v AS qv, ci AS cid, rn AS pr FROM rs WHERE rn <= 2 AND vec_id < 10), " +
      "scored AS (SELECT q.qid, q.pr, c.vec_id AS nid, " + cosineSql("q.qv", "c.v") + " AS cosine " +
      "FROM q JOIN assigned c ON c.cid = q.cid AND c.vec_id <> q.qid), " +
      "iv1 AS (SELECT qid, nid FROM (SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rk " +
      "FROM scored WHERE pr = 1) WHERE rk <= 5), " +
      "iv2 AS (SELECT qid, nid FROM (SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rk " +
      "FROM scored) WHERE rk <= 5), " +
      "bf AS (SELECT qid, nid FROM (SELECT q.qid, c.vec_id AS nid, " +
      "ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY " + cosineSql("q.qv", "c.v") + " DESC, c.vec_id) AS rk " +
      "FROM (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10) q CROSS JOIN e c WHERE c.vec_id <> q.qid) WHERE rk <= 5), " +
      "h1 AS (SELECT bf.qid, count(*) AS c FROM bf JOIN iv1 ON bf.qid = iv1.qid AND bf.nid = iv1.nid GROUP BY 1), " +
      "h2 AS (SELECT bf.qid, count(*) AS c FROM bf JOIN iv2 ON bf.qid = iv2.qid AND bf.nid = iv2.nid GROUP BY 1) " +
      "SELECT b.qid AS \"queryId\", COALESCE(h1.c, 0)::BIGINT AS hits_p1, COALESCE(h2.c, 0)::BIGINT AS hits_p2, " +
      "round(COALESCE(h1.c, 0) / 5.0, 6) AS recall_p1, round(COALESCE(h2.c, 0) / 5.0, 6) AS recall_p2 " +
      "FROM (SELECT DISTINCT qid FROM bf) b LEFT JOIN h1 ON h1.qid = b.qid LEFT JOIN h2 ON h2.qid = b.qid " +
      "ORDER BY 1"

  /** q109 oracle: the q89 PQ replication rides as a NESTED-WITH CTE (its
    * inner e/cent/... shadow the outer names), joined against an
    * independently-computed brute-force top-5; recall = hits/5 rounds clean
    * at 6 dp on both engines. */
  private def pqRecallOracleSql: String =
    "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
      "pq AS (" + pqOracleSql + "), " +
      "bf AS (SELECT qid, nid FROM (SELECT q.qid, c.vec_id AS nid, " +
      "ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY " + cosineSql("q.qv", "c.v") + " DESC, c.vec_id) AS rk " +
      "FROM (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10) q CROSS JOIN e c WHERE c.vec_id <> q.qid) WHERE rk <= 5), " +
      "h AS (SELECT bf.qid, count(*) AS c FROM bf JOIN pq ON pq.\"queryId\" = bf.qid AND pq.\"neighborId\" = bf.nid GROUP BY 1) " +
      "SELECT b.qid AS \"queryId\", COALESCE(h.c, 0)::BIGINT AS hits_pq, " +
      "round(COALESCE(h.c, 0) / 5.0, 6) AS recall_pq " +
      "FROM (SELECT DISTINCT qid FROM bf) b LEFT JOIN h ON h.qid = b.qid ORDER BY 1"

  /** The q89 Lloyd rounds unrolled as CTEs: asg_r assigns every vector's
    * subspace-m slice to its nearest books_{r-1} entry (the pqEncode
    * argmax — ties to the HIGHER code), mb_r/nb_r rebuild per-(m, code)
    * mean entries rounded to 6 dp (the Similarity.pqTrainBooks rule), and
    * books_r keeps the prior entry for empty cells via the LEFT JOIN
    * COALESCE. */
  private val PqTrainRounds = 2
  private def pqTrainCtes: String = (1 to PqTrainRounds).map { r =>
    s"asg$r AS (SELECT vec_id, m, k AS code FROM (" +
      "SELECT e.vec_id, b.m, b.k, ROW_NUMBER() OVER (PARTITION BY e.vec_id, b.m ORDER BY " +
      "2 * list_dot_product(e.v[b.m*8+1 : b.m*8+8], b.bv) - list_dot_product(b.bv, b.bv) DESC, b.k DESC) AS rn " +
      s"FROM e CROSS JOIN books${r - 1} b) WHERE rn = 1), " +
      s"mb$r AS (SELECT a.m, a.code AS k, t.j, round(avg(e.v[a.m*8+t.j]), 6) AS x " +
      s"FROM asg$r a, e, unnest(generate_series(1, 8)) AS t(j) " +
      "WHERE e.vec_id = a.vec_id GROUP BY a.m, a.code, t.j), " +
      s"nb$r AS (SELECT m, k, list(x ORDER BY j) AS bv FROM mb$r GROUP BY m, k), " +
      s"books$r AS (SELECT b.m, b.k, COALESCE(n.bv, b.bv) AS bv " +
      s"FROM books${r - 1} b LEFT JOIN nb$r n ON n.m = b.m AND n.k = b.k), "
  }.mkString

  /** q89 oracle: the full IVF-PQ replication — codebooks SEEDED from the
    * same data sample (subspace slices of every 50th vector) then
    * Lloyd-trained [[PqTrainRounds]] rounds exactly as
    * Similarity.pqTrainBooks (6-dp-rounded per-dim means, ties to the
    * higher code, empty cells keep their seed), encode re-run as the same
    * argmax (2·x_m·c − ‖c‖², ties to the higher code), ADC re-summed per
    * candidate, rounded to 9 dp before the top-12 cut (the same pre-rank
    * rounding the Spark side applies, so the candidate set is pinned),
    * then the exact-cosine rerank. */
  private def pqOracleSql: String =
    "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
      "cent AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS ci, v AS cv " +
      "FROM (SELECT vec_id, v FROM (SELECT vec_id, v, ROW_NUMBER() OVER (ORDER BY vec_id) AS rk FROM e) WHERE (rk - 1) % 50 = 0 AND rk <= 800)), " +
      // corpus-side IVF assignment, identical to ivfOracleSql
      "sa AS (SELECT e.vec_id, e.v, c.ci, " + cosineAssignSql("e.v", "c.cv") + " AS sim " +
      "FROM e CROSS JOIN cent c), " +
      "rs AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, ci DESC) AS rn FROM sa), " +
      "assigned AS (SELECT vec_id, v, ci AS cid FROM rs WHERE rn = 1), " +
      // PQ codebook SEED: subspace m slice of sample k (same sample as the
      // centroids), then the Lloyd training rounds
      "ms AS (SELECT unnest(generate_series(0, 7)) AS m), " +
      "books0 AS (SELECT ms.m, cent.ci AS k, cv[ms.m*8+1 : ms.m*8+8] AS bv FROM cent, ms), " +
      pqTrainCtes +
      // encode: argmax 2*x_m·c - ||c||^2, ties to the HIGHER code
      "encsc AS (SELECT e.vec_id, b.m, b.k, " +
      "2 * list_dot_product(e.v[b.m*8+1 : b.m*8+8], b.bv) - list_dot_product(b.bv, b.bv) AS s " +
      s"FROM e CROSS JOIN books$PqTrainRounds b), " +
      "codes AS (SELECT vec_id, m, k AS code FROM " +
      "(SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY s DESC, k DESC) AS rn FROM encsc) WHERE rn = 1), " +
      "nsq AS (SELECT c.vec_id, sum(list_dot_product(b.bv, b.bv)) AS nsq " +
      s"FROM codes c JOIN books$PqTrainRounds b ON b.m = c.m AND b.k = c.code GROUP BY c.vec_id), " +
      "q AS (SELECT vec_id AS qid, v AS qv, cid FROM assigned WHERE vec_id < 10), " +
      "cand AS (SELECT q.qid, a.vec_id AS nid, q.qv, a.v FROM q " +
      "JOIN assigned a ON a.cid = q.cid AND a.vec_id <> q.qid), " +
      // ADC: query subvector dotted with the candidate's reconstructed codes
      "adot AS (SELECT c.qid, c.nid, sum(list_dot_product(c.qv[b.m*8+1 : b.m*8+8], b.bv)) AS adot " +
      s"FROM cand c JOIN codes k2 ON k2.vec_id = c.nid JOIN books$PqTrainRounds b ON b.m = k2.m AND b.k = k2.code " +
      "GROUP BY c.qid, c.nid), " +
      "approx AS (SELECT c.qid, c.nid, c.qv, c.v, " +
      "ROUND(CASE WHEN sqrt(list_dot_product(c.qv, c.qv)) * sqrt(n.nsq) = 0 THEN 0.0 " +
      "ELSE a.adot / (sqrt(list_dot_product(c.qv, c.qv)) * sqrt(n.nsq)) END, 9) AS approx_cos " +
      "FROM cand c JOIN adot a ON a.qid = c.qid AND a.nid = c.nid JOIN nsq n ON n.vec_id = c.nid), " +
      "ra AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY approx_cos DESC, nid) AS rn FROM approx), " +
      "rerank AS (SELECT qid AS \"queryId\", nid AS \"neighborId\", approx_cos, " +
      cosineSql("qv", "v") + " AS cosine FROM ra WHERE rn <= 12), " +
      "ranked AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY \"queryId\" ORDER BY cosine DESC, \"neighborId\") AS INTEGER) AS rank FROM rerank) " +
      "SELECT \"queryId\", \"neighborId\", cosine, approx_cos, rank FROM ranked WHERE rank <= 5 ORDER BY \"queryId\", rank"

  /** DuckDB oracles for the SQL-expressible subset. */
  /** q128 oracle: the 10 power-iteration steps unrolled as chained CTEs
    * (the q117 discipline — DuckDB recursive CTEs can't aggregate over the
    * recursive term). Every step is the same integer arithmetic as
    * Graph.pageRank: `//` here == `div` there on all-positive operands;
    * hugeint intermediates cast back to BIGINT. */
  /** Shared trade-graph CTE prefix for the q128/q133/q134 oracles. */
  private[operators] val tradeGraphCtes =
    """pair AS (
      |  SELECT o_custkey AS c, l_suppkey AS s, count(*)::BIGINT AS w
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1, 2),
      |edges AS (
      |  SELECT c * 2 AS src, s * 2 + 1 AS dst, w FROM pair
      |  UNION ALL SELECT s * 2 + 1, c * 2, w FROM pair),
      |deg AS (SELECT src, sum(w)::BIGINT AS wsum FROM edges GROUP BY 1)""".stripMargin

  private val labelTop20Sql =
    """top AS (SELECT node, rank_u FROM r10 ORDER BY rank_u DESC, node LIMIT 20)
      |SELECT CASE WHEN node % 2 = 0 THEN 'c:' || (node // 2)
      |  ELSE 's:' || (node // 2) END AS node, rank_u FROM top""".stripMargin

  private def q128OracleSql: String = {
    val steps = (1 to 10).map { i =>
      s"""r$i AS (
         |  SELECT e.dst AS node,
         |    ((15 * (SELECT b FROM base)) // 100
         |      + (85 * sum((r.rank_u * e.w) // d.wsum)) // 100)::BIGINT AS rank_u
         |  FROM edges e JOIN r${i - 1} r ON r.node = e.src
         |    JOIN deg d ON d.src = e.src
         |  GROUP BY e.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH $tradeGraphCtes,
       |base AS (SELECT 1000000000 // count(*) AS b FROM deg),
       |r0 AS (SELECT src AS node, (SELECT b FROM base)::BIGINT AS rank_u FROM deg),
       |$steps,
       |$labelTop20Sql""".stripMargin
  }

  /** q148 oracle: 4 unrolled HITS rounds with the identical integer renorm
    * `(raw·10000) // (Σraw // 10000)`. MATERIALIZED on each raw/normalized
    * vector: every a_i/h_i is referenced twice (the renorm scalar and the
    * next half-round), so inlining would double the pair-join work per
    * reference (the q144 lesson). */
  private def q148OracleSql: String = {
    val steps = (1 to 4).map { i =>
      s"""a${i}r AS MATERIALIZED (
         |  SELECT dst, sum(w * h)::BIGINT AS raw
         |  FROM pair JOIN h${i - 1} ON h${i - 1}.c = pair.src GROUP BY dst),
         |a$i AS MATERIALIZED (
         |  SELECT dst AS s, (raw * 10000 // ((SELECT sum(raw) FROM a${i}r) // 10000))::BIGINT AS a
         |  FROM a${i}r),
         |h${i}r AS MATERIALIZED (
         |  SELECT src, sum(w * a)::BIGINT AS raw
         |  FROM pair JOIN a$i ON a$i.s = pair.dst GROUP BY src),
         |h$i AS MATERIALIZED (
         |  SELECT src AS c, (raw * 10000 // ((SELECT sum(raw) FROM h${i}r) // 10000))::BIGINT AS h
         |  FROM h${i}r)""".stripMargin
    }.mkString(",\n")
    s"""WITH pair AS MATERIALIZED (
       |  SELECT o_custkey AS src, l_suppkey AS dst, count(*)::BIGINT AS w
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1, 2),
       |h0 AS MATERIALIZED (
       |  SELECT src AS c,
       |    (100000000 // (SELECT count(DISTINCT src) FROM pair))::BIGINT AS h
       |  FROM (SELECT DISTINCT src FROM pair)),
       |$steps
       |SELECT * FROM (
       |  (SELECT 'hub' AS side, 'c:' || c::VARCHAR AS node, h AS score_u
       |   FROM h4 ORDER BY h DESC, c LIMIT 10)
       |  UNION ALL
       |  (SELECT 'auth' AS side, 's:' || s::VARCHAR AS node, a AS score_u
       |   FROM a4 ORDER BY a DESC, s LIMIT 10))
       |ORDER BY side, score_u DESC, node""".stripMargin
  }

  /** q133 oracle: the personalized variant — teleport only on effective
    * (graph-present) seeds, holds LEFT-joined so zero-rank nodes persist. */
  private def q133OracleSql: String = {
    val steps = (1 to 10).map { i =>
      s"""r$i AS (
         |  SELECT h.node,
         |    (h.hold_u + coalesce((85 * c.s) // 100, 0))::BIGINT AS rank_u
         |  FROM holds h LEFT JOIN (
         |    SELECT e.dst AS node, sum((r.rank_u * e.w) // d.wsum) AS s
         |    FROM edges e JOIN r${i - 1} r ON r.node = e.src
         |      JOIN deg d ON d.src = e.src
         |    GROUP BY e.dst) c ON c.node = h.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH $tradeGraphCtes,
       |sd AS (SELECT s_suppkey * 2 + 1 AS node FROM supplier WHERE s_suppkey % 10 = 0),
       |eff AS (SELECT node FROM sd WHERE node IN (SELECT src FROM deg)),
       |tp AS (SELECT 1000000000 // count(*) AS t FROM eff),
       |holds AS (
       |  SELECT d.src AS node,
       |    CASE WHEN d.src IN (SELECT node FROM eff)
       |      THEN (15 * (SELECT t FROM tp)) // 100 ELSE 0 END AS hold_u,
       |    CASE WHEN d.src IN (SELECT node FROM eff)
       |      THEN (SELECT t FROM tp) ELSE 0 END AS r0
       |  FROM deg d),
       |r0 AS (SELECT node, r0::BIGINT AS rank_u FROM holds),
       |$steps,
       |$labelTop20Sql""".stripMargin
  }

  /** q135 oracle: 4 unrolled LPA rounds; the argmax uses the same
    * `ws·1e7 − lab` total-order encode (max_by keys are distinct, so the
    * unspecified-tie behavior of either engine's max_by never engages). */
  private def q135OracleSql: String = {
    val steps = (1 to 4).map { i =>
      s"""w$i AS (SELECT e.dst AS node, l.lab, sum(e.w) AS ws
         |  FROM edges e JOIN lab${i - 1} l ON l.node = e.src GROUP BY 1, 2),
         |lab$i AS (SELECT node, max_by(lab, ws * 10000000 - lab)::BIGINT AS lab
         |  FROM w$i GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH $tradeGraphCtes,
       |lab0 AS (SELECT DISTINCT src AS node, src AS lab FROM edges),
       |$steps,
       |top AS (SELECT lab, count(*)::BIGINT AS n FROM lab4 GROUP BY 1
       |  ORDER BY n DESC, lab LIMIT 20)
       |SELECT CASE WHEN lab % 2 = 0 THEN 'c:' || (lab // 2)
       |  ELSE 's:' || (lab // 2) END AS community, n FROM top""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q128_pagerank" -> q128OracleSql,
    "q148_hits" -> q148OracleSql,
    // q153: 4 unrolled FULL Bellman-Ford relaxation rounds (== the engine's
    // frontier relaxation, see Graph.weightedDistances); MATERIALIZED —
    // each d_i feeds both legs of d_{i+1}
    "q153_cost_distance" -> {
      val steps = (1 to 4).map { i =>
        s"""d$i AS MATERIALIZED (SELECT node, min(d)::BIGINT AS dist FROM (
           |  SELECT node, dist AS d FROM d${i - 1}
           |  UNION ALL
           |  SELECT el.dst, d${i - 1}.dist + el.w
           |  FROM el JOIN d${i - 1} ON d${i - 1}.node = el.src) GROUP BY node)""".stripMargin
      }.mkString(",\n")
      s"""WITH $tradeGraphCtes,
         |el AS MATERIALIZED (SELECT src, dst, GREATEST(1, 1000000 // w)::BIGINT AS w FROM edges),
         |d0 AS (SELECT DISTINCT s_suppkey * 2 + 1 AS node, 0::BIGINT AS dist
         |  FROM supplier WHERE s_suppkey % 10 = 0),
         |$steps,
         |nodes AS (SELECT DISTINCT src AS node FROM edges)
         |SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS side,
         |  count(*)::BIGINT AS n_nodes, count(dist)::BIGINT AS n_reached,
         |  SUM(dist)::BIGINT AS sum_dist, MAX(dist)::BIGINT AS max_dist
         |FROM nodes LEFT JOIN d4 USING (node) GROUP BY 1 ORDER BY 1""".stripMargin
    },
    // q151: the Concentration CTE replay over both degree sides
    "q151_degree_profile" ->
      """WITH ps AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS s
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |deg AS (SELECT 'customer' AS side, count(*)::BIGINT AS w FROM ps GROUP BY c
        |  UNION ALL SELECT 'supplier', count(*)::BIGINT FROM ps GROUP BY s),
        |h AS (SELECT side, w, count(*)::BIGINT AS cnt FROM deg GROUP BY 1, 2),
        |c AS (SELECT side, w, cnt,
        |    coalesce(SUM(cnt) OVER (PARTITION BY side ORDER BY w ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS cum_asc,
        |    coalesce(SUM(cnt) OVER (PARTITION BY side ORDER BY w DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS cum_desc
        |  FROM h),
        |a AS (SELECT side, SUM(cnt)::BIGINT AS n_units, SUM(w * cnt)::BIGINT AS total_w,
        |    MAX(w)::BIGINT AS max_w,
        |    SUM(w * (cnt * cum_asc + (cnt * (cnt + 1)) // 2))::BIGINT AS s
        |  FROM c GROUP BY 1),
        |tp AS (SELECT c.side,
        |    SUM(w * GREATEST(0, LEAST(cnt, (SELECT (n_units + 99) // 100 FROM a WHERE a.side = c.side) - cum_desc)))::BIGINT AS topw
        |  FROM c GROUP BY 1)
        |SELECT a.side, n_units, total_w, max_w,
        |  (((2 * s - (n_units + 1) * total_w) * 10000) // (n_units * total_w))::BIGINT AS gini_bp,
        |  ((topw * 10000) // total_w)::BIGINT AS top1pct_bp
        |FROM a JOIN tp ON a.side = tp.side ORDER BY a.side""".stripMargin,
    "q133_trustrank" -> q133OracleSql,
    "q135_communities" -> q135OracleSql,
    // q136: the oracle replays the UNCAPPED projection — sound because the
    // 256 basket cap cannot bind (max basket 102 at sf0.1, 67 at sf0.01)
    // q136: the oracle replays the CAPPED projection — on a distinct
    // (c, s) relation, quotaPerKeyAgg's bottom-k threshold is exactly
    // row_number() ≤ quota ordered by s, so the replay is valid whether or
    // not the cap binds (it degenerates to the uncapped projection when no
    // basket exceeds 256 — the testdata case)
    "q136_copurchase" ->
      """WITH ps AS (
        |  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |cap AS (SELECT c, s FROM (
        |    SELECT c, s, row_number() OVER (PARTITION BY c ORDER BY s) AS rk FROM ps)
        |  WHERE rk <= 256)
        |SELECT a.s AS s1, b.s AS s2, count(*)::BIGINT AS shared
        |FROM cap a JOIN cap b ON a.c = b.c AND a.s < b.s
        |GROUP BY 1, 2 ORDER BY shared DESC, s1, s2 LIMIT 20""".stripMargin,
    // q134: BFS min-hop via bounded recursive reach (UNION dedups (node,d)
    // pairs and d < 4 bounds the recursion, so cycles terminate); min(d)
    // IS the hop distance for every node reachable within 4
    "q134_seed_distance" ->
      (s"WITH RECURSIVE $tradeGraphCtes,\n" +
        """sd AS (SELECT s_suppkey * 2 + 1 AS node FROM supplier WHERE s_suppkey % 10 = 0),
          |r(node, d) AS (
          |  SELECT node, 0 FROM sd
          |  UNION
          |  SELECT e.dst, r.d + 1 FROM r JOIN edges e ON e.src = r.node
          |  WHERE r.d < 4),
          |dist AS (SELECT node, min(d)::BIGINT AS d FROM r GROUP BY 1),
          |nodes AS (SELECT DISTINCT src AS node FROM edges)
          |SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS side,
          |  coalesce(dist.d, -1) AS dist, count(*)::BIGINT AS n
          |FROM nodes LEFT JOIN dist USING (node)
          |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // q142: candidate blocking replayed verbatim — same word-3-grams
    // (gramsCte), same h60 sample (mod 8), uncapped (max bucket 23 at
    // sf0.1 ≪ the 1024 star-cap); verify is plain levenshtein + the same
    // integer filter (the Spark side's bounded form only skips work the
    // filter rejects anyway)
    "q142_edit_linkage" ->
      (s"WITH $gramsCte,\n" +
        """sg AS (SELECT DISTINCT doc_id, ('0x'||substr(md5(x),1,15))::BIGINT AS h
          |  FROM (SELECT doc_id, unnest(g) AS x FROM grams)
          |  WHERE ('0x'||substr(md5(x),1,15))::BIGINT % 8 = 0),
          |cand AS (SELECT DISTINCT a.doc_id AS idA, b.doc_id AS idB
          |  FROM sg a JOIN sg b ON a.h = b.h AND a.doc_id < b.doc_id),
          |v AS (SELECT idA, idB, levenshtein(da.text, db.text)::BIGINT AS lev,
          |    greatest(length(da.text), length(db.text))::BIGINT AS ml
          |  FROM cand JOIN documents da ON da.doc_id = idA
          |  JOIN documents db ON db.doc_id = idB)
          |SELECT idA, idB, lev, (10000 - (lev * 10000) // ml)::BIGINT AS sim_bp
          |FROM v WHERE lev * 5 <= ml ORDER BY idA, idB""".stripMargin),
    // q143: CAPPED projection replay (the q136 rule — row_number ≤ 256
    // over the distinct basket ≡ quotaPerKeyAgg; valid whether or not the
    // cap binds, certified round 16 on a whale corpus where it does);
    // item counts and N stay UNCAPPED exactly as the engine computes them.
    // Same integer conf/lift arithmetic — all operands positive so
    // DuckDB `//` == div
    "q143_assoc_rules" ->
      """WITH ps AS (
        |  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |cap AS (SELECT c, s FROM (
        |    SELECT c, s, row_number() OVER (PARTITION BY c ORDER BY s) AS rk FROM ps)
        |  WHERE rk <= 256),
        |nb AS (SELECT count(DISTINCT c)::BIGINT AS n FROM ps),
        |ic AS (SELECT s, count(*)::BIGINT AS cnt FROM ps GROUP BY 1),
        |pr AS (SELECT a.s AS s1, b.s AS s2, count(*)::BIGINT AS shared
        |  FROM cap a JOIN cap b ON a.c = b.c AND a.s < b.s GROUP BY 1, 2),
        |ru AS (SELECT s1 AS ante, s2 AS cons, shared FROM pr
        |  UNION ALL SELECT s2, s1, shared FROM pr)
        |SELECT ante, cons, shared, ia.cnt AS n_ante, ic2.cnt AS n_cons,
        |  (shared * 10000) // ia.cnt AS conf_bp,
        |  (shared * 10000 * (SELECT n FROM nb)) // (ia.cnt * ic2.cnt) AS lift_bp
        |FROM ru JOIN ic ia ON ia.s = ante JOIN ic ic2 ON ic2.s = cons
        |WHERE shared >= 3
        |ORDER BY lift_bp DESC, conf_bp DESC, ante, cons LIMIT 20""".stripMargin,
    "q144_kcore_peel" -> q144OracleSql,
    // q145: capped wedge replay (the shared basket cap as row_number ≤
    // 256 — see the q143 oracle note), same integer resource-allocation
    // arithmetic, one NOT EXISTS for adjacency
    "q145_link_predict" ->
      """WITH po AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |pc AS (SELECT o, p FROM (
        |    SELECT o, p, row_number() OVER (PARTITION BY o ORDER BY p) AS rk FROM po)
        |  WHERE rk <= 256),
        |e0 AS (SELECT a.p AS u, b.p AS v FROM pc a JOIN pc b
        |  ON a.o = b.o AND a.p < b.p GROUP BY 1, 2 HAVING count(*) >= 2),
        |se AS (SELECT u AS w, v AS n FROM e0 UNION ALL SELECT v, u FROM e0),
        |deg AS (SELECT w AS n, count(*)::BIGINT AS d FROM se GROUP BY 1),
        |wedge AS (SELECT a.n AS u, b.n AS v, dg.d AS dw
        |  FROM se a JOIN se b ON a.w = b.w AND a.n < b.n
        |  JOIN deg dg ON dg.n = a.w
        |  WHERE NOT EXISTS (SELECT 1 FROM e0 WHERE e0.u = a.n AND e0.v = b.n))
        |SELECT u, v, count(*)::BIGINT AS cn,
        |  sum(1000000 // dw)::BIGINT AS ra_ppm
        |FROM wedge GROUP BY 1, 2
        |ORDER BY ra_ppm DESC, cn DESC, u, v LIMIT 20""".stripMargin,
    "q138_triangle_census" ->
      (s"WITH $basketTriCtes\n" +
        """SELECT (SELECT count(*) FROM deg)::BIGINT AS nodes,
          |  (SELECT count(*) FROM e0)::BIGINT AS edges,
          |  (SELECT sum(d * (d - 1) // 2) FROM deg)::BIGINT AS wedges,
          |  (SELECT count(*) FROM tris)::BIGINT AS triangles,
          |  ((SELECT count(*) FROM tris) * 30000
          |    // (SELECT sum(d * (d - 1) // 2) FROM deg))::BIGINT AS transitivity_bp""".stripMargin),
    "q139_local_clustering" ->
      (s"WITH $basketTriCtes,\n" +
        """tn AS (SELECT n, count(*)::BIGINT AS tri FROM
          |  (SELECT a AS n FROM tris UNION ALL SELECT b FROM tris
          |   UNION ALL SELECT c FROM tris) GROUP BY 1)
          |SELECT deg.n AS part, deg.d AS degree, coalesce(tn.tri, 0)::BIGINT AS tri,
          |  (coalesce(tn.tri, 0) * 20000 // (deg.d * (deg.d - 1)))::BIGINT AS local_cc_bp
          |FROM deg LEFT JOIN tn ON tn.n = deg.n WHERE deg.d >= 2
          |ORDER BY local_cc_bp DESC, tri DESC, part LIMIT 20""".stripMargin),
    // q131: full replication — same grams (gramsCte == the word-ngram
    // kernel), same h60, same 4×14-bit-stride position slices, same
    // position-set membership rule, same ≥2 flag thresholds and audit.
    "q131_bloom_decontam" ->
      (s"WITH $gramsCte,\n" +
        """pg AS (SELECT DISTINCT ('0x'||substr(md5(x),1,15))::BIGINT AS g
          |  FROM (SELECT unnest(g) AS x FROM grams WHERE doc_id % 100 = 0)),
          |bp AS (SELECT DISTINCT unnest([(g >> 0) % 131072, (g >> 14) % 131072,
          |    (g >> 28) % 131072, (g >> 42) % 131072]) AS p FROM pg),
          |cg AS (SELECT doc_id, ('0x'||substr(md5(x),1,15))::BIGINT AS g
          |  FROM (SELECT doc_id, unnest(g) AS x FROM grams WHERE doc_id % 100 <> 0)),
          |ch AS (SELECT doc_id, count(*)::BIGINT AS bloom_shared FROM cg
          |  WHERE (g >> 0) % 131072 IN (SELECT p FROM bp)
          |    AND (g >> 14) % 131072 IN (SELECT p FROM bp)
          |    AND (g >> 28) % 131072 IN (SELECT p FROM bp)
          |    AND (g >> 42) % 131072 IN (SELECT p FROM bp)
          |  GROUP BY 1),
          |ce AS (SELECT doc_id, count(*)::BIGINT AS exact_shared FROM cg
          |  WHERE g IN (SELECT g FROM pg) GROUP BY 1)
          |SELECT d.source, count(*)::BIGINT AS docs,
          |  sum(CASE WHEN coalesce(h.bloom_shared, 0) >= 2 THEN 1 ELSE 0 END)::BIGINT AS bloom_flagged,
          |  sum(CASE WHEN coalesce(e.exact_shared, 0) >= 2 THEN 1 ELSE 0 END)::BIGINT AS exact_flagged,
          |  sum(CASE WHEN coalesce(h.bloom_shared, 0) >= 2
          |      AND coalesce(e.exact_shared, 0) < 2 THEN 1 ELSE 0 END)::BIGINT AS false_pos,
          |  sum(CASE WHEN coalesce(e.exact_shared, 0) >= 2
          |      AND coalesce(h.bloom_shared, 0) < 2 THEN 1 ELSE 0 END)::BIGINT AS false_neg
          |FROM documents d LEFT JOIN ch h USING (doc_id) LEFT JOIN ce e USING (doc_id)
          |WHERE d.doc_id % 100 <> 0
          |GROUP BY 1 ORDER BY 1""".stripMargin),
    // q31/q32: the decode STUB is deterministic byte arithmetic, so the
    // oracle replays it — byte histogram via hex-nibble counting (float32
    // division ::FLOAT matches the JVM's binary32 exactly), resize as a
    // 512-hex-char (256-byte) prefix, frame admission as pure arithmetic on
    // byte lengths. A real codec would demote these to rows-only again;
    // until then the full Spark plumbing (modality routing, resize bounds,
    // batching neutrality, explode shape) is hash-checked.
    "q31_multimodal_features" ->
      """WITH a AS (
        |  SELECT doc_id,
        |    ['image','audio','video'][(doc_id % 3 + 1)] AS modality,
        |    substr(hex(encode(text)), 1, 512) AS h
        |  FROM documents),
        |f AS (
        |  SELECT modality,
        |    CASE WHEN len(h) = 0 THEN 0.0::FLOAT ELSE
        |      (len(list_filter([h[i] for i in range(1, len(h)+1, 2)], c -> c = '6'))::FLOAT
        |        / ((len(h) // 2)::FLOAT)) END AS bin6,
        |    CASE WHEN len(h) = 0 THEN 0.0::FLOAT ELSE
        |      (len(list_filter([h[i] for i in range(1, len(h)+1, 2)], c -> c = '7'))::FLOAT
        |        / ((len(h) // 2)::FLOAT)) END AS bin7
        |  FROM a)
        |SELECT modality, count(*) AS n,
        |  round(min(bin6)::DOUBLE, 4) AS min_bin6,
        |  round(max(bin6)::DOUBLE, 4) AS max_bin6,
        |  round(max(bin7)::DOUBLE, 4) AS max_bin7
        |FROM f GROUP BY modality ORDER BY modality""".stripMargin,
    "q32_video_frames" ->
      """WITH v AS (
        |  SELECT octet_length(encode(text)) AS len
        |  FROM documents WHERE doc_id % 3 = 2)
        |SELECT frame_no, count(*) AS n
        |FROM (SELECT unnest(range(0,4)) AS frame_no), v
        |WHERE frame_no * greatest(len // 4, 1) < len
        |GROUP BY frame_no ORDER BY frame_no""".stripMargin,
    // q101: the audio FALLBACK replayed byte-for-byte — stream properties
    // from the payload size, mean-square as the exact integer-sum-of-
    // squares over unsigned bytes divided once in float64 (bit-identical
    // across engines; no rounding on either side — the compare's own
    // round(4) canonicalization sees the same double)
    "q101_audio_stats" ->
      """WITH a AS (
        |  SELECT doc_id, hex(encode(text)) AS h,
        |    octet_length(encode(text)) AS n,
        |    40 * length(text) AS dur
        |  FROM documents WHERE doc_id % 3 = 1),
        |b AS (
        |  SELECT doc_id, n, dur,
        |    [('0x' || substr(h, i, 2))::BIGINT for i in range(1, 2*n + 1, 2)] AS bs
        |  FROM a)
        |SELECT doc_id AS asset_id,
        |  (8000 + (n % 8) * 1000)::INT AS sample_rate,
        |  (1 + (n % 2))::INT AS channels,
        |  16::INT AS bit_depth,
        |  dur::BIGINT AS duration_ms,
        |  CASE WHEN n = 0 THEN 0.0
        |       ELSE list_sum(list_transform(bs, x -> x * x))::DOUBLE / n
        |  END AS mean_sq,
        |  CASE WHEN n = 0 THEN 0 ELSE list_max(bs) END::INT AS peak,
        |  FALSE AS decoded
        |FROM b ORDER BY asset_id""".stripMargin,
    // q122: the 64-segment positional average-hash replayed bit-by-bit
    // (ord(char) == payload byte on the all-ASCII corpus — the same
    // correspondence every fallback-decode oracle in this family relies
    // on), banding as 16-bit slices of the bit list, candidate pairs as
    // the distinct bucket self-join, Hamming verify as elementwise bit
    // compare. Valid while no LSH bucket exceeds the 1024 star-cap —
    // asserted at both oracle SFs (largest observed bucket: 9 at sf0.1).
    "q122_phash_neardups" ->
      """WITH d AS (SELECT doc_id AS asset_id,
        |    ['image','audio','video'][(doc_id % 3)::INT + 1] AS modality,
        |    list_transform(range(1, length(text)+1), i -> ord(text[i])) AS b,
        |    length(text) AS L
        |  FROM documents),
        |bits AS (SELECT asset_id, modality,
        |    list_transform(range(0, 64), i ->
        |      CASE WHEN list_sum(list_slice(b, (i*L)//64 + 1, ((i+1)*L)//64)) * L >
        |                list_sum(b) * (((i+1)*L)//64 - (i*L)//64)
        |           THEN 1 ELSE 0 END) AS bt
        |  FROM d),
        |bands AS (SELECT asset_id, modality, j,
        |    list_sum(list_transform(range(0,16),
        |      k -> bt[16*j + k + 1] * (1 << (15 - k)))) AS bv
        |  FROM bits, unnest(range(0,4)) AS t(j)),
        |cand AS (SELECT DISTINCT a.asset_id AS x, b2.asset_id AS y, a.modality
        |  FROM bands a JOIN bands b2
        |    ON a.modality = b2.modality AND a.j = b2.j AND a.bv = b2.bv
        |   AND a.asset_id < b2.asset_id),
        |ham AS (SELECT c.modality, c.x, c.y,
        |    list_sum(list_transform(range(1,65),
        |      i -> CASE WHEN ha.bt[i] <> hb.bt[i] THEN 1 ELSE 0 END)) AS hd
        |  FROM cand c JOIN bits ha ON ha.asset_id = c.x
        |    JOIN bits hb ON hb.asset_id = c.y),
        |pstats AS (SELECT modality, count(*) AS cand_pairs,
        |    sum(CASE WHEN hd <= 3 THEN 1 ELSE 0 END) AS near_pairs
        |  FROM ham GROUP BY 1),
        |na AS (SELECT modality, count(DISTINCT id) AS near_assets FROM
        |    (SELECT modality, unnest([x, y]) AS id FROM ham WHERE hd <= 3)
        |  GROUP BY 1),
        |astats AS (SELECT modality, count(*) AS n_assets,
        |    count(DISTINCT bt) AS n_hash FROM bits GROUP BY 1)
        |SELECT a.modality, n_assets, n_hash,
        |  coalesce(cand_pairs, 0)::BIGINT AS cand_pairs,
        |  coalesce(near_pairs, 0)::BIGINT AS near_pairs,
        |  coalesce(near_assets, 0)::BIGINT AS near_assets
        |FROM astats a LEFT JOIN pstats USING (modality)
        |  LEFT JOIN na USING (modality)
        |ORDER BY modality""".stripMargin,
    // q123: the q122 hash/banding CTEs with the batch flag carried; a batch
    // asset is rejected when a same-modality prior (corpus, or batch with a
    // smaller id) shares a band within Hamming 3. The prior-side cap does
    // not bind at oracle scale (q122 note: max bucket 9).
    "q123_phash_admit" ->
      """WITH d AS (SELECT doc_id AS asset_id,
        |    source IN ('src18','src19') AS is_batch,
        |    ['image','audio','video'][(doc_id % 3)::INT + 1] AS modality,
        |    list_transform(range(1, length(text)+1), i -> ord(text[i])) AS b,
        |    length(text) AS L
        |  FROM documents),
        |bits AS (SELECT asset_id, is_batch, modality,
        |    list_transform(range(0, 64), i ->
        |      CASE WHEN list_sum(list_slice(b, (i*L)//64 + 1, ((i+1)*L)//64)) * L >
        |                list_sum(b) * (((i+1)*L)//64 - (i*L)//64)
        |           THEN 1 ELSE 0 END) AS bt
        |  FROM d),
        |bands AS (SELECT asset_id, is_batch, modality, bt, j,
        |    list_sum(list_transform(range(0,16),
        |      k -> bt[16*j + k + 1] * (1 << (15 - k)))) AS bv
        |  FROM bits, unnest(range(0,4)) AS t(j)),
        |rej AS (SELECT DISTINCT nb.asset_id
        |  FROM bands nb JOIN bands pb
        |    ON nb.modality = pb.modality AND nb.j = pb.j AND nb.bv = pb.bv
        |   AND nb.is_batch AND (NOT pb.is_batch OR pb.asset_id < nb.asset_id)
        |  WHERE list_sum(list_transform(range(1,65),
        |      i -> CASE WHEN nb.bt[i] <> pb.bt[i] THEN 1 ELSE 0 END)) <= 3)
        |SELECT asset_id, modality FROM bits
        |WHERE is_batch AND asset_id NOT IN (SELECT asset_id FROM rej)
        |ORDER BY asset_id""".stripMargin,
    // q127: the q122 hash/band CTEs over the replica-extended corpus, near
    // pairs at Hamming <= 3, then the q48-style recursive reach for
    // connected components (min reachable id = cluster representative)
    "q127_phash_clusters" ->
      """WITH RECURSIVE src AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 999999, chr(ord(text[1]) + 1) || substr(text, 2)
        |  FROM documents
        |  WHERE source IN ('src18','src19') AND length(text) > 0),
        |d AS (SELECT doc_id AS asset_id,
        |    ['image','audio','video'][(doc_id % 3)::INT + 1] AS modality,
        |    list_transform(range(1, length(text)+1), i -> ord(text[i])) AS b,
        |    length(text) AS L
        |  FROM src),
        |bits AS (SELECT asset_id, modality,
        |    list_transform(range(0, 64), i ->
        |      CASE WHEN list_sum(list_slice(b, (i*L)//64 + 1, ((i+1)*L)//64)) * L >
        |                list_sum(b) * (((i+1)*L)//64 - (i*L)//64)
        |           THEN 1 ELSE 0 END) AS bt
        |  FROM d),
        |bands AS (SELECT asset_id, modality, bt, j,
        |    list_sum(list_transform(range(0,16),
        |      k -> bt[16*j + k + 1] * (1 << (15 - k)))) AS bv
        |  FROM bits, unnest(range(0,4)) AS t(j)),
        |p AS (SELECT DISTINCT a.asset_id AS ia, b2.asset_id AS ib
        |  FROM bands a JOIN bands b2
        |    ON a.modality = b2.modality AND a.j = b2.j AND a.bv = b2.bv
        |   AND a.asset_id < b2.asset_id
        |  WHERE list_sum(list_transform(range(1,65),
        |      i -> CASE WHEN a.bt[i] <> b2.bt[i] THEN 1 ELSE 0 END)) <= 3),
        |edges AS (SELECT ia AS s, ib AS d2 FROM p
        |  UNION ALL SELECT ib, ia FROM p),
        |reach(id, r) AS (SELECT s, s FROM edges
        |  UNION SELECT e.s, reach.r FROM edges e JOIN reach ON reach.id = e.d2)
        |SELECT id AS asset_id, MIN(r) AS cluster_rep FROM reach
        |GROUP BY id ORDER BY asset_id""".stripMargin,
    "q49_embedding_neardups" -> q49OracleSql,
    "q50_train_splits" -> q50OracleSql,
    "q51_contamination" ->
      (s"WITH $gramsCte, " +
        "pr AS (SELECT doc_id AS probe_id, g AS pg FROM grams WHERE doc_id % 100 = 0) " +
        "SELECT c.doc_id, p.probe_id, CAST(len(list_intersect(c.g, p.pg)) AS BIGINT) AS shared_ngrams " +
        "FROM grams c JOIN pr p ON c.doc_id <> p.probe_id " +
        "WHERE len(list_intersect(c.g, p.pg)) >= 2 ORDER BY doc_id, probe_id"),
    "q90_substring_decontam" ->
      // the h60 join replayed bit-for-bit: same lowercase, same whole-text
      // fallback under 20 chars, same distinct windows, same md5-top-15-hex
      // hash, same hash-equality join
      ("""WITH t AS (SELECT doc_id, lower(text) AS t FROM documents), """ +
        """w AS (SELECT doc_id, list_distinct(CASE WHEN length(t) < 20 THEN [t] """ +
        """ELSE [substr(t, i, 20) for i in range(1, length(t)-18)] END) AS ws FROM t), """ +
        """e AS (SELECT doc_id, ('0x'||substr(md5(x),1,15))::BIGINT AS h """ +
        """FROM (SELECT doc_id, unnest(ws) AS x FROM w)), """ +
        """pr AS (SELECT doc_id AS probe_id, h FROM e WHERE doc_id % 100 = 0) """ +
        """SELECT e.doc_id, pr.probe_id, count(*)::BIGINT AS shared_windows """ +
        """FROM e JOIN pr ON e.h = pr.h AND e.doc_id <> pr.probe_id """ +
        """GROUP BY 1, 2 ORDER BY doc_id, probe_id"""),
    "q78_containment_decontam" ->
      (s"WITH $gramsCte, " +
        "pr AS (SELECT doc_id AS probe_id, g AS pg, len(g) AS ptot FROM grams WHERE doc_id % 100 = 0), " +
        "scored AS (SELECT c.doc_id, p.probe_id, " +
        "CAST(len(list_intersect(c.g, p.pg)) AS BIGINT) AS shared_ngrams, " +
        "round(len(list_intersect(c.g, p.pg)) / p.ptot, 6) AS containment " +
        "FROM grams c JOIN pr p ON c.doc_id <> p.probe_id " +
        "WHERE len(list_intersect(c.g, p.pg)) >= 1), " +
        "ranked AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY containment DESC, doc_id) AS INTEGER) AS rank FROM scored) " +
        "SELECT doc_id, probe_id, shared_ngrams, containment, rank FROM ranked " +
        "WHERE rank <= 3 ORDER BY probe_id, rank"),
    "q52_source_quota" ->
      ("SELECT source, count(*) AS n, MAX(doc_id) AS max_kept FROM " +
        "(SELECT source, doc_id, ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn FROM documents) " +
        "WHERE rn <= 20 GROUP BY source ORDER BY source"),
    "q27_embedding_topk" ->
      ("WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id < 10), " +
        "c AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
        "scored AS (SELECT q.qid AS \"queryId\", c.nid AS \"neighborId\", " +
        cosineSql("q.v", "c.v") + " AS cosine FROM q, c WHERE q.qid <> c.nid), " +
        "ranked AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY \"queryId\" ORDER BY cosine DESC, \"neighborId\") AS INTEGER) AS rank FROM scored) " +
        "SELECT \"queryId\", \"neighborId\", cosine, rank FROM ranked WHERE rank <= 5 ORDER BY \"queryId\", rank"),
    "q28_embedding_lsh_topk" -> q28OracleSql,
    // IVF oracle: replays the centroid assignment (argmax cosine, ties to
    // the larger centroid index — Spark's struct-max semantics) and the
    // single-bucket probe entirely in SQL. q75 is the same semantics at
    // nlist=40 (every-20th sampling) — the SQL is quantizer-representation-
    // independent, so ONE oracle shape covers both the literal-unrolled and
    // the broadcast-model Spark forms.
    "q47_embedding_ivf_topk" -> ivfOracleSql(centroidEvery = 50),
    "q89_embedding_pq_topk" -> pqOracleSql,
    "q75_embedding_ivf_model" -> ivfOracleSql(centroidEvery = 20),
    "q77_embedding_ivf_probe2" -> ivfOracleSql(centroidEvery = 50, nprobe = 2),
    "q104_ann_recall" -> annRecallOracleSql,
    "q109_pq_recall" -> pqRecallOracleSql,
    "q79_embedding_ivf_model_probe2" -> ivfOracleSql(centroidEvery = 20, nprobe = 2),
    "q29_lang_quality" ->
      ("WITH base AS (SELECT text, " +
        "list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS ts_raw, " +
        "list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS ts_low FROM documents), " +
        "feat AS (SELECT len(ts_raw) AS n_tok, length(text) AS n_char, " +
        "len(regexp_extract_all(text, '[[:punct:]]')) AS punct, " +
        "len(regexp_extract_all(text, '[0-9]')) AS digits, " +
        "CASE WHEN len(ts_raw) > 0 THEN len(list_distinct(ts_raw))::DOUBLE / len(ts_raw) ELSE 0.0 END AS distinct_ratio, " +
        "length(regexp_replace(text, '[^\\x{4e00}-\\x{9fff}]', '', 'g')) AS cjk, " +
        "len(list_intersect(ts_low, ['the','and','of','to','in','is','a','that','for','with','as','on','are','this','it'])) AS h_en, " +
        "len(list_intersect(ts_low, ['der','die','das','und','ist','nicht','mit','ein','eine','zu','den','von','für','auf','im'])) AS h_de, " +
        "len(list_intersect(ts_low, ['el','la','de','que','y','en','los','se','del','las','por','un','una','con','para'])) AS h_es, " +
        "len(list_intersect(ts_low, ['le','la','les','de','des','et','est','en','que','une','un','du','dans','pour','qui'])) AS h_fr FROM base), " +
        "scored AS (SELECT CASE WHEN cjk * 2 > n_char THEN 'zh' " +
        "WHEN GREATEST(h_en,h_de,h_es,h_fr) > 0 THEN " +
        "CASE GREATEST(h_en,h_de,h_es,h_fr) WHEN h_fr THEN 'fr' WHEN h_es THEN 'es' WHEN h_en THEN 'en' ELSE 'de' END " +
        "ELSE 'und' END AS lang_guess, n_tok, " +
        "ROUND(LEAST(CASE WHEN n_tok BETWEEN 5 AND 100000 THEN 1.0 ELSE n_tok::DOUBLE / 5.0 END, 1.0) " +
        "* (1.0 - LEAST(punct::DOUBLE / GREATEST(n_char,1) * 2, 1.0)) " +
        "* (1.0 - LEAST(digits::DOUBLE / GREATEST(n_char,1) * 2, 1.0)) " +
        "* (0.5 + distinct_ratio / 2), 6) AS quality FROM feat) " +
        "SELECT lang_guess, count(*) AS n, ROUND(AVG(quality), 4) AS avg_quality, ROUND(AVG(n_tok), 4) AS avg_tokens " +
        "FROM scored GROUP BY lang_guess ORDER BY lang_guess"),
    // The SURVEY §2.5-promised independent linker oracle: a recursive-CTE walk
    // to the nearest remote ancestor (the rule the linker applies imperatively)
    // over the same span synthesis q33 builds from `events`.
    "q33_dependency_links" ->
      ("WITH RECURSIVE spans AS (SELECT event_id AS id, event_id // 50 AS trace, " +
        "CASE WHEN event_id % 50 <> 0 THEN event_id - 1 END AS parent_id, " +
        "CASE WHEN event_id % 2 = 0 THEN 'CLIENT' ELSE 'SERVER' END AS kind, " +
        "'svc-' || event_type AS local_svc, " +
        "'svc-' || (['click','view','purchase'])[CAST(user_id % 3 AS INTEGER) + 1] AS remote_svc, " +
        "(value < 0.05) AS err FROM events), " +
        "anc(id, trace, a_id, a_kind, a_local) AS (" +
        "SELECT s.id, s.trace, p.id, p.kind, p.local_svc FROM spans s " +
        "JOIN spans p ON p.trace = s.trace AND p.id = s.parent_id " +
        "UNION ALL SELECT a.id, a.trace, p.id, p.kind, p.local_svc FROM anc a " +
        "JOIN spans c ON c.trace = a.trace AND c.id = a.a_id " +
        "JOIN spans p ON p.trace = a.trace AND p.id = c.parent_id WHERE a.a_kind IS NULL), " +
        "remote_anc AS (SELECT id, trace, a_local FROM anc WHERE a_kind IS NOT NULL), " +
        "server_links AS (SELECT COALESCE(ra.a_local, s.remote_svc) AS parent, s.local_svc AS child, s.err " +
        "FROM spans s LEFT JOIN remote_anc ra ON ra.trace = s.trace AND ra.id = s.id " +
        "WHERE s.kind = 'SERVER' AND NOT (s.parent_id IS NULL AND ra.a_local IS NULL AND s.remote_svc IS NULL)), " +
        "client_leaves AS (SELECT s.local_svc, s.remote_svc, s.err, ra.a_local " +
        "FROM spans s LEFT JOIN remote_anc ra ON ra.trace = s.trace AND ra.id = s.id " +
        "WHERE s.kind = 'CLIENT' AND NOT EXISTS (SELECT 1 FROM spans c WHERE c.trace = s.trace AND c.parent_id = s.id)), " +
        "all_links AS (SELECT parent, child, err FROM server_links " +
        "UNION ALL SELECT a_local, local_svc, FALSE FROM client_leaves WHERE a_local IS NOT NULL AND a_local <> local_svc " +
        "UNION ALL SELECT local_svc, remote_svc, err FROM client_leaves) " +
        "SELECT parent, child, CAST(COUNT(*) AS BIGINT) AS \"callCount\", " +
        "CAST(SUM(CASE WHEN err THEN 1 ELSE 0 END) AS BIGINT) AS \"errorCount\" " +
        "FROM all_links GROUP BY parent, child ORDER BY parent, child"),
    "q34_approx_distinct" ->
      "SELECT source, COUNT(DISTINCT text) AS exact_uniq, COUNT(*) AS n, TRUE AS approx_ok FROM documents GROUP BY source ORDER BY source",
    // M1 oracle: replays the v1 synthesis + join + fold + linker rules in
    // SQL. "signup" spans are annotation-less (kind null), so the
    // nearest-remote-ancestor CTE genuinely recurses across them; the error
    // guards (endpoint null / a_type annotation) are encoded in `err`.
    "q46_v1_two_table_links" ->
      ("WITH RECURSIVE spans AS (SELECT event_id AS id, event_id // 50 AS trace, " +
        "CASE WHEN event_id % 50 <> 0 THEN event_id - 1 END AS parent_id, " +
        "(event_type <> 'signup') AS annotated, " +
        "'svc-' || event_type AS svc, " +
        "(event_type <> 'signup' AND value < 0.05) AS err FROM events), " +
        "withca AS (SELECT s.*, COALESCE(p.svc, 'svc-ingress') AS ca " +
        "FROM spans s LEFT JOIN spans p ON p.trace = s.trace AND p.id = s.id - 1), " +
        "anc(id, trace, a_id, a_annotated, a_svc) AS (" +
        "SELECT s.id, s.trace, p.id, p.annotated, p.svc FROM spans s " +
        "JOIN spans p ON p.trace = s.trace AND p.id = s.parent_id " +
        "UNION ALL SELECT a.id, a.trace, p.id, p.annotated, p.svc FROM anc a " +
        "JOIN spans c ON c.trace = a.trace AND c.id = a.a_id " +
        "JOIN spans p ON p.trace = a.trace AND p.id = c.parent_id WHERE NOT a.a_annotated), " +
        "remote_anc AS (SELECT id, trace, a_svc FROM anc WHERE a_annotated), " +
        "links AS (SELECT COALESCE(ra.a_svc, s.ca) AS parent, s.svc AS child, s.err " +
        "FROM withca s LEFT JOIN remote_anc ra ON ra.trace = s.trace AND ra.id = s.id " +
        "WHERE s.annotated) " +
        "SELECT parent, child, CAST(COUNT(*) AS BIGINT) AS \"callCount\", " +
        "CAST(SUM(CASE WHEN err THEN 1 ELSE 0 END) AS BIGINT) AS \"errorCount\" " +
        "FROM links GROUP BY parent, child ORDER BY parent, child"),
    "q21_dedup_keep_first" ->
      "SELECT text, MIN(doc_id) AS doc_id FROM documents GROUP BY text ORDER BY doc_id",
    "q22_token_count" ->
      "SELECT doc_id, len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS n_tokens FROM documents ORDER BY doc_id",
    "q23_text_stats_by_lang" ->
      "SELECT lang, CAST(SUM(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))) AS BIGINT) AS toks, CAST(SUM(len(regexp_extract_all(text, '[[:punct:]]'))) AS BIGINT) AS punct FROM documents GROUP BY lang ORDER BY lang",
    "q24_ngram_neardups" ->
      (s"WITH $gramsCte " +
        "SELECT a.doc_id AS idA, b.doc_id AS idB, " +
        "ROUND(len(list_intersect(a.g, b.g))::DOUBLE / GREATEST(len(list_distinct(a.g || b.g)), 1), 6) AS jaccard " +
        "FROM grams a JOIN grams b ON a.doc_id < b.doc_id " +
        s"WHERE $jaccardGe05 ORDER BY idA, idB"),
    // connected components over the same exact pairs: transitive closure via
    // a recursive CTE, rep = min reachable node (symmetric edges)
    "q48_dup_clusters" ->
      (s"WITH RECURSIVE $gramsCte, " +
        "p AS (SELECT a.doc_id AS ia, b.doc_id AS ib FROM grams a JOIN grams b " +
        s"ON a.doc_id < b.doc_id WHERE $jaccardGe05), " +
        "edges AS (SELECT ia AS s, ib AS d FROM p UNION ALL SELECT ib, ia FROM p), " +
        "reach(id, r) AS (SELECT s, s FROM edges " +
        "UNION SELECT e.s, reach.r FROM edges e JOIN reach ON reach.id = e.d) " +
        "SELECT id AS doc_id, MIN(r) AS cluster_rep FROM reach GROUP BY id ORDER BY doc_id")
  )
}
