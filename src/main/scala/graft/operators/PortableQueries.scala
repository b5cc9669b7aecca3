package graft.operators

import graft.ops.{Dedup, PortableSketch, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-4 queries: the engine-portable sketch family (ops.PortableSketch).
  *
  * q63–q65 mirror the xxhash64-kernel near-dup queries (q25/q26/q62) over
  * the md5-based 60-bit hash family, which any SQL engine reproduces
  * bit-for-bit. The payoff is oracle depth: where the kernel queries are
  * rows-only for the driver (DuckDB has no xxhash64), these three are FULL
  * hash-matched replications of the near-dup pipeline — DuckDB independently
  * recomputes the signatures, replays the banding self-join (q63), runs the
  * brute-force all-pairs scan the pigeonhole blocking must equal (q64), and
  * re-derives every winnow fingerprint (q65). One oracle checks semantics
  * end to end, not just row counts.
  */
object PortableQueries {
  import ContractQueries.table

  /** q63 — portable MinHash+LSH near-dup pairs (k=16, 4 bands × 4 rows,
    * word 3-grams, estimated Jaccard ≥ 0.5). The DuckDB oracle replays the
    * whole pipeline: signatures, band keys, candidate self-join, estimate.
    * The oracle replays UNCAPPED banding — sound because the hot-bucket cap
    * cannot fire at oracle scale (a band bucket holds at most the corpus,
    * 500 docs at sf0.01, under the 1024 default). */
  def portableMinhashNearDups(spark: SparkSession, dir: String): DataFrame =
    PortableSketch.minhashNearDups(table(spark, dir, "documents"),
      "text", "doc_id", k = 16, bands = 4, n = 3, threshold = 0.5)
      .orderBy("idA", "idB")

  /** q64 — portable simhash near-dup pairs (char 5-grams, 60 bits, hamming
    * ≤ 3). The oracle is the brute-force all-pairs scan — equality PROVES
    * the 4×15-bit pigeonhole blocking loses nothing at this distance. */
  def portableSimhashNearDups(spark: SparkSession, dir: String): DataFrame =
    PortableSketch.simhashNearDups(table(spark, dir, "documents"),
      "text", "doc_id", n = 5, maxDistance = 3)
      .orderBy("idA", "idB")

  /** q65 — portable winnowing fingerprint buckets (char 8-grams, window 16):
    * documents sharing a selected winnow hash, fully recomputed by the
    * oracle. */
  def portableWinnowBuckets(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      // fused single-pass kernel (pinned equal to the expression-tree form)
      .select(col("doc_id"),
        explode(PortableSketch.winnowText(col("text"), 8, 16)).as("fp"))
      .groupBy("fp")
      .agg(count(lit(1)).as("n"), min("doc_id").as("first_doc"))
      .where(col("n") > 1)
      .orderBy("fp")

  /** q66 — the dedup pipeline end to end: portable near-dup pairs (q63's
    * candidate machinery) → connected components (Dedup.dupClusters, the
    * O(log D) pointer-jumping propagation) → keep-best-per-cluster (most
    * tokens, ties to the smallest doc_id — the standard "keep the richest
    * copy" training-data rule). Every stage is independently recomputed by
    * the oracle: signatures + banding in list SQL, components by recursive
    * CTE, the keep rule by arg-max. One hash match certifies the WHOLE
    * pipeline composition, not just its operators in isolation. */
  def dedupKeepBest(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val pairs = PortableSketch.minhashNearDups(docs, "text", "doc_id",
      k = 16, bands = 4, n = 3, threshold = 0.5).select("idA", "idB")
    val toks = docs.select(col("doc_id"), TextOps.tokenCount(col("text")).as("tokens"))
    Dedup.dupClusters(pairs)
      .join(toks, col("id") === col("doc_id"))
      .groupBy(col("rep").as("cluster_rep"))
      .agg(count(lit(1)).as("n_docs"),
        max_by(col("id"), struct(col("tokens"), -col("id"))).as("keep_doc"),
        max(col("tokens")).as("keep_tokens"))
      .orderBy("cluster_rep")
  }

  /** q76 — incremental near-dup admission: sources src18/src19 play the
    * arriving batch, everything else the already-deduplicated corpus. A
    * batch doc is admitted unless some PRIOR doc (any corpus doc, or a
    * smaller-id batch doc) is an estimated near-dup at the q63 parameters.
    * The asymmetric candidate join never forms corpus×corpus pairs — the
    * steady-state daily-ingest shape, where the corpus band table is a
    * persisted artifact and cost is ∝ |batch|. The oracle replays the whole
    * admission: signatures, banding, the prior-doc predicate, the estimate
    * threshold. (The hot-bucket cap cannot fire at oracle scale — a bucket
    * holds at most the corpus, 500 docs at sf0.01, under the 1024 default.) */
  def incrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val isBatch = col("source").isin("src18", "src19")
    PortableSketch.incrementalAdmit(
      docs.where(!isBatch), docs.where(isBatch), "text", "doc_id",
      k = 16, bands = 4, n = 3, threshold = 0.5)
      .select("doc_id", "lang", "source")
      .orderBy("doc_id")
  }

  /** Audit sample rate for q98, as an md5-prefix hex threshold over 4 hex
    * chars: a doc is sampled iff `md5('q98' || text)[0,4) < Q98SampleHex`.
    * "8000" = 50% — a TEST-SF setting chosen so the tiny corpus still
    * yields enough true pairs to score; at 100 TB run the audit at ≲1%
    * ("0290" ≈ 1/100) — the exact-truth gram self-join is quadratic-ish in
    * the sample, so the rate is THE cost lever, and it is a parameter
    * threaded through both the Spark query and the oracle SQL (never a
    * hard-coded literal in one of them). */
  val Q98SampleHex = "8000"

  /** q98 — dedup RECALL audit: how much does the banded-LSH screen (q63
    * parameters) actually miss? On a deterministic content-hash sample
    * (rate = `sampleHex`, default [[Q98SampleHex]]), compute the TRUE
    * near-dup pairs (exact word-3-gram Jaccard ≥ 0.5 via a gram-hash
    * inverted index — a true pair must share a gram, so the index finds
    * every one; shuffles carry 8-byte hashes) and the pairs the sketch
    * pipeline reports, then score recall. This is the measurement a
    * production dedup deployment runs continuously: banding is the lossy
    * stage, and its miss rate is a number you audit on a bounded sample,
    * not a hope. The oracle replays sample membership, the exact truth set,
    * the full sketch pipeline, and the recall arithmetic.
    *
    * Cost shape (round-12 attribution): ONE tokenize pass over the sample
    * (the persisted gram-array frame feeds both the truth index and the
    * signatures) and ONE signature pass (feeding both the candidate
    * pipeline via nearDupsFromSigs and the per-band attribution) — the
    * previous shape tokenized three times and sketched twice. */
  def dedupRecall(spark: SparkSession, dir: String,
      sampleHex: String = Q98SampleHex): DataFrame = {
    graft.expr.GraftFunctions.ensureRegistered(spark)
    val docs = table(spark, dir, "documents")
      .where(substring(md5(encode(concat(lit("q98"), col("text")), "UTF-8")), 1, 4) < sampleHex)
    // ONE tokenize+shingle pass: the persisted gram-array frame is read by
    // the exact-truth explode AND the signature projection below
    val gramsArr = graft.ops.Partitioning.spread(docs)
      .select(col("doc_id"),
        graft.expr.GraftFunctions.wordNGrams(col("text"), 3).as("_grams"))
      .persist()
    // exact truth: per-doc DISTINCT gram hashes (the fused kernel emits
    // distinct grams; persist — read by sizes, both join sides)
    val grams = gramsArr
      .select(col("doc_id"), explode(col("_grams")).as("_g"))
      .select(col("doc_id"), PortableSketch.h60(col("_g")).as("_h"))
      .persist()
    val sizes = grams.groupBy("doc_id").agg(count(lit(1)).as("_sz"))
    val inter = grams.select(col("doc_id").as("idA"), col("_h"))
      .join(grams.select(col("doc_id").as("idB"), col("_h")), Seq("_h"))
      .where(col("idA") < col("idB"))
      .groupBy("idA", "idB").agg(count(lit(1)).as("_ns"))
    // sizes is one row per SAMPLED doc — bounded by the audit sample size
    // by design, so both denominator attachments broadcast instead of
    // shuffling the pair relation twice
    // persist: the truth relation is consumed THREE times (n_true_pairs,
    // the n_caught semi-join, and the attribution broadcast) and its
    // inverted-index self-join is the audit's single most expensive stage
    // (~1.5 s/recompute at sf0.1, attributed by a stage listener) — without the
    // persist it re-executes per consumer. Audit-sample-bounded rows.
    val truth = inter
      .join(broadcast(sizes.select(col("doc_id").as("idA"), col("_sz").as("_sa"))), Seq("idA"))
      .join(broadcast(sizes.select(col("doc_id").as("idB"), col("_sz").as("_sb"))), Seq("idB"))
      .where(col("_ns").cast("double") / (col("_sa") + col("_sb") - col("_ns")) >= 0.5)
      .select("idA", "idB")
      .persist()
    // ONE signature pass over the persisted gram arrays, consumed by BOTH
    // the candidate pipeline (nearDupsFromSigs — no second tokenize+sketch
    // sweep inside minhashNearDups) and the per-band attribution joins
    val sigs = gramsArr
      .select(col("doc_id"),
        PortableSketch.minhashSigFromGramsFast(col("_grams"), 16).as("_sig"))
      .persist()
    val caught = PortableSketch.nearDupsFromSigs(
      sigs.select(col("doc_id").as("_id"), col("_sig")),
      k = 16, bands = 4, threshold = 0.5).select("idA", "idB")
    // gramsArr is one row per sampled doc, already persisted — counting it
    // spares a second parquet scan + md5 sample filter pass
    val nSample = gramsArr.agg(count(lit(1)).as("n_sample"))
    val nTrue = truth.agg(count(lit(1)).as("n_true_pairs"))
    val nCaught = truth.join(caught, Seq("idA", "idB"), "left_semi")
      .agg(count(lit(1)).as("n_caught"))
    // Per-band ATTRIBUTION of the banding stage: for each band, how many
    // true pairs agree on that band's key (any agreement admits the pair as
    // a candidate), and how many agree on NO band — the pairs banding
    // itself can never surface, the audit's actionable number (a high
    // n_missed_banding says add bands / shrink rows, not tune the verify).
    // The true-pair relation is audit-sample-bounded, so signatures attach
    // to it by broadcast rather than shuffling the doc-sized sketch frame:
    // the cached sigs frame is always the streamed probe side and the
    // truth-bounded relation is the build side. Verify/Bench clear caches
    // after the query.
    val attachA = sigs.select(col("doc_id").as("idA"), col("_sig").as("_sigA"))
      .join(broadcast(truth), Seq("idA"))
    val withSigs = sigs.select(col("doc_id").as("idB"), col("_sig").as("_sigB"))
      .join(broadcast(attachA), Seq("idB"))
    val bandHit = (0 until 4).map(b =>
      PortableSketch.bandKey(col("_sigA"), b, 4) ===
        PortableSketch.bandKey(col("_sigB"), b, 4))
    val bandCols = (0 until 4).map(b =>
      coalesce(sum(when(bandHit(b), 1L).otherwise(0L)), lit(0L)).as(s"n_band$b")) :+
      coalesce(sum(when(bandHit.reduce(_ || _), 0L).otherwise(1L)), lit(0L))
        .as("n_missed_banding")
    val perBand = withSigs.agg(bandCols.head, bandCols.tail: _*)
    nSample.crossJoin(broadcast(nTrue)).crossJoin(broadcast(nCaught))
      .crossJoin(broadcast(perBand))
      .select(col("n_sample") +: col("n_true_pairs") +: col("n_caught") +:
        when(col("n_true_pairs") === 0, lit(null).cast("double"))
          .otherwise(round(col("n_caught").cast("double") / col("n_true_pairs"), 6))
          .as("recall") +:
        (0 until 4).map(b => col(s"n_band$b")) :+ col("n_missed_banding"): _*)
  }

  /** q102 — train/test near-dup LEAKAGE audit: the deterministic split
    * assignment (q50's content-hash mechanism — so this replays the exact
    * membership any run of the pipeline produces) crossed with the portable
    * near-dup pair relation (q63's machinery). A near-dup pair straddling
    * train and val/test is contamination that survives within-split dedup
    * by construction — no within-split pass can see it — so it has to be
    * audited across splits, and this is the number a dataset release gates
    * on. Output: per unordered split-pair class, the pair count and the
    * distinct documents involved. Scale shape: pairs come from the banded
    * sketch join (never all-pairs); the split relation is a narrow
    * (id, 5-char split) projection joined by id on both ends. */
  def splitLeakage(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val pairs = PortableSketch.minhashNearDups(docs, "text", "doc_id",
      k = 16, bands = 4, n = 3, threshold = 0.5).select("idA", "idB")
    val sp = docs.select(col("doc_id"), graft.ops.Sampling
      .hashSplit(col("text"), NorthStarQueries.splitWeights, salt = "v1").as("split"))
    val cls = pairs
      .join(sp.select(col("doc_id").as("idA"), col("split").as("_sa")), Seq("idA"))
      .join(sp.select(col("doc_id").as("idB"), col("split").as("_sb")), Seq("idB"))
      .select(least(col("_sa"), col("_sb")).as("split_a"),
        greatest(col("_sa"), col("_sb")).as("split_b"),
        col("idA"), col("idB"))
    // one pass: each pair contributes exactly two exploded rows, so
    // n_pairs = rows/2 — aggregating the exploded frame once avoids
    // recomputing the embedded LSH pipeline for a second aggregation
    cls.select(col("split_a"), col("split_b"),
        explode(array(col("idA"), col("idB"))).as("_d"))
      .groupBy("split_a", "split_b")
      .agg((count(lit(1)) / 2).cast("long").as("n_pairs"),
        countDistinct(col("_d")).as("n_docs"))
      .orderBy("split_a", "split_b")
  }

  private def q102OracleSql: String =
    s"WITH ${minhashPipelineCtes()},\n" +
      s"""pairs2 AS (SELECT idA, idB FROM j WHERE est_jaccard >= 0.5),
        |sp AS (SELECT doc_id, ${NorthStarQueries.splitCaseSql} AS split FROM documents),
        |cls AS (SELECT least(sa.split, sb.split) AS split_a,
        |    greatest(sa.split, sb.split) AS split_b, p.idA, p.idB
        |  FROM pairs2 p JOIN sp sa ON sa.doc_id = p.idA
        |  JOIN sp sb ON sb.doc_id = p.idB),
        |a AS (SELECT split_a, split_b, count(*) AS n_pairs FROM cls GROUP BY 1, 2),
        |d AS (SELECT split_a, split_b, count(DISTINCT dd) AS n_docs FROM (
        |  SELECT split_a, split_b, idA AS dd FROM cls
        |  UNION ALL SELECT split_a, split_b, idB FROM cls) GROUP BY 1, 2)
        |SELECT a.split_a, a.split_b, a.n_pairs, d.n_docs
        |FROM a JOIN d USING (split_a, split_b) ORDER BY 1, 2""".stripMargin

  val all: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q63_portable_minhash_neardups" -> (portableMinhashNearDups _),
    "q64_portable_simhash_neardups" -> (portableSimhashNearDups _),
    "q65_portable_winnow_buckets" -> (portableWinnowBuckets _),
    "q66_dedup_keep_best" -> (dedupKeepBest _),
    "q76_incremental_dedup" -> (incrementalDedup _),
    "q98_dedup_recall" -> ((s: SparkSession, d: String) => dedupRecall(s, d)),
    "q102_split_leakage" -> (splitLeakage _)
  )

  /** Shared DuckDB fragments: the portable minhash pipeline (tokenize →
    * word 3-grams → double-hash signatures → band keys → candidate self-join
    * → estimate) as CTEs, reused verbatim by the q63, q66, and q98 oracles
    * (q98 feeds it the sampled source instead of the full corpus). */
  /** The minhash pipeline CTEs over an arbitrary (doc_id, text) source —
    * exposed for the q99 funnel oracle, which replays the sketch stage over
    * the documents surviving its upstream stages. */
  private[operators] def minhashCtesFor(src: String): String =
    minhashPipelineCtes(src)

  private def minhashPipelineCtes(src: String = "documents") =
    s"""w AS (
      |  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS words
      |  FROM $src),
      |g AS (
      |  SELECT doc_id,
      |    CASE WHEN len(words) = 0 THEN CAST([] AS VARCHAR[])
      |         WHEN len(words) < 3 THEN [array_to_string(words, ' ')]
      |         ELSE list_distinct([array_to_string(words[i:i+2], ' ') for i in range(1, len(words)-1)])
      |    END AS grams
      |  FROM w),
      |s AS (
      |  SELECT doc_id,
      |    [list_min([(('0x'||substr(md5(g2),1,15))::BIGINT
      |               + i * (('0x'||substr(md5(g2),17,15))::BIGINT % 72057594037927936)) % 1152921504606846976
      |              for g2 in grams]) for i in range(0,16)] AS sig
      |  FROM g WHERE len(grams) > 0),
      |b AS (
      |  SELECT doc_id, band, array_to_string(sig[band*4+1 : band*4+4], ',') AS key
      |  FROM s, (SELECT unnest(range(0,4)) AS band)),
      |p AS (
      |  SELECT DISTINCT a.doc_id AS idA, c.doc_id AS idB
      |  FROM b a JOIN b c ON a.band = c.band AND a.key = c.key AND a.doc_id < c.doc_id),
      |j AS (
      |  SELECT idA, idB,
      |    round(len([i for i in range(1,17) if sa.sig[i] = sb.sig[i]]) / 16.0, 6) AS est_jaccard
      |  FROM p JOIN s sa ON sa.doc_id = p.idA JOIN s sb ON sb.doc_id = p.idB)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q63_portable_minhash_neardups" ->
      (s"WITH ${minhashPipelineCtes()}\n" +
        "SELECT idA, idB, est_jaccard FROM j WHERE est_jaccard >= 0.5 ORDER BY idA, idB"),
    "q66_dedup_keep_best" ->
      (s"WITH RECURSIVE ${minhashPipelineCtes()},\n" +
        """pairs AS (SELECT idA, idB FROM j WHERE est_jaccard >= 0.5),
          |edges AS (SELECT idA AS src, idB AS dst FROM pairs UNION ALL SELECT idB, idA FROM pairs),
          |reach(id, r) AS (SELECT src, src FROM edges
          |  UNION SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst),
          |cl AS (SELECT id, MIN(r) AS rep FROM reach GROUP BY id),
          |tk AS (SELECT doc_id, len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS tokens
          |       FROM documents)
          |SELECT cl.rep AS cluster_rep, count(*) AS n_docs,
          |  -- (tokens desc, id asc) arg-max, encoded arithmetically because
          |  -- DuckDB max_by lacks struct keys; the HUGEINT 2^64 multiplier
          |  -- keeps the encoding exact for ANY BIGINT doc_id (the old 10^7
          |  -- scale flipped the winner at sparse ids — a fuzz_diff find;
          |  -- the Spark side uses the domain-free struct ordering)
          |  max_by(cl.id, tk.tokens::HUGEINT * 18446744073709551616::HUGEINT - cl.id) AS keep_doc,
          |  max(tk.tokens) AS keep_tokens
          |FROM cl JOIN tk ON tk.doc_id = cl.id
          |GROUP BY cl.rep ORDER BY cluster_rep""".stripMargin),
    "q64_portable_simhash_neardups" ->
      """WITH t AS (SELECT doc_id, lower(text) AS t FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    list_distinct(CASE WHEN length(t) < 5 THEN [t]
        |         ELSE [substr(t, i, 5) for i in range(1, length(t)-3)] END) AS grams
        |  FROM t),
        |h AS (
        |  SELECT doc_id, [('0x'||substr(md5(g2),1,15))::BIGINT for g2 in grams] AS hs
        |  FROM g),
        |s AS (
        |  SELECT doc_id,
        |    list_sum([CASE WHEN 2*len([x for x in hs if (x >> b) & 1 = 1]) > len(hs)
        |                   THEN (1::BIGINT << b) ELSE 0 END for b in range(0,60)])::BIGINT AS sh
        |  FROM h)
        |SELECT a.doc_id AS idA, c.doc_id AS idB, bit_count(xor(a.sh, c.sh))::BIGINT AS hamming
        |FROM s a JOIN s c ON a.doc_id < c.doc_id
        |WHERE bit_count(xor(a.sh, c.sh)) <= 3
        |ORDER BY idA, idB""".stripMargin,
    "q76_incremental_dedup" ->
      (s"WITH ${minhashPipelineCtes()},\n" +
        """nb AS (SELECT b.* FROM b JOIN documents d ON d.doc_id = b.doc_id
          |       WHERE d.source IN ('src18','src19')),
          |pr AS (SELECT b.*, d.source NOT IN ('src18','src19') AS is_corpus
          |       FROM b JOIN documents d ON d.doc_id = b.doc_id),
          |rej AS (
          |  SELECT DISTINCT nb.doc_id
          |  FROM nb JOIN pr ON nb.band = pr.band AND nb.key = pr.key
          |            AND (pr.is_corpus OR pr.doc_id < nb.doc_id)
          |  JOIN s sn ON sn.doc_id = nb.doc_id
          |  JOIN s so ON so.doc_id = pr.doc_id
          |  WHERE len([i for i in range(1,17) if sn.sig[i] = so.sig[i]]) / 16.0 >= 0.5)
          |SELECT doc_id, lang, source FROM documents
          |WHERE source IN ('src18','src19') AND doc_id NOT IN (SELECT doc_id FROM rej)
          |ORDER BY doc_id""".stripMargin),
    "q65_portable_winnow_buckets" ->
      """WITH t AS (SELECT doc_id, lower(text) AS t FROM documents),
        |h AS (
        |  SELECT doc_id,
        |    CASE WHEN length(t) < 8 THEN [('0x'||substr(md5(t),1,15))::BIGINT]
        |         ELSE [('0x'||substr(md5(substr(t, i, 8)),1,15))::BIGINT for i in range(1, length(t)-6)]
        |    END AS hs
        |  FROM t),
        |f AS (
        |  SELECT doc_id,
        |    CASE WHEN len(hs) < 16 THEN [list_min(hs)]
        |         ELSE list_distinct([list_min(hs[i:i+15]) for i in range(1, len(hs)-14)])
        |    END AS fps
        |  FROM h)
        |SELECT fp, count(*) AS n, min(doc_id) AS first_doc
        |FROM (SELECT doc_id, unnest(fps) AS fp FROM f)
        |GROUP BY fp HAVING count(*) > 1 ORDER BY fp""".stripMargin,
    "q98_dedup_recall" ->
      ("WITH d AS (SELECT doc_id, text FROM documents " +
        s"WHERE substr(md5('q98' || text), 1, 4) < '$Q98SampleHex'),\n" +
        s"${minhashPipelineCtes("d")},\n" +
        """gr AS (SELECT doc_id, ('0x'||substr(md5(gg),1,15))::BIGINT AS h
          |       FROM (SELECT doc_id, unnest(grams) AS gg FROM g)),
          |sz AS (SELECT doc_id, count(*) AS sz FROM gr GROUP BY 1),
          |ix AS (SELECT a.doc_id AS idA, b2.doc_id AS idB, count(*) AS ns
          |       FROM gr a JOIN gr b2 ON a.h = b2.h AND a.doc_id < b2.doc_id
          |       GROUP BY 1, 2),
          |tr AS (SELECT idA, idB FROM ix
          |       JOIN sz sa ON sa.doc_id = ix.idA
          |       JOIN sz sb ON sb.doc_id = ix.idB
          |       WHERE ns::DOUBLE / (sa.sz + sb.sz - ns) >= 0.5),
          |ca AS (SELECT idA, idB FROM j WHERE est_jaccard >= 0.5),
          |bb AS (SELECT a.doc_id AS idA, c.doc_id AS idB, a.band
          |       FROM b a JOIN b c ON a.band = c.band AND a.key = c.key
          |                        AND a.doc_id < c.doc_id)
          |SELECT (SELECT count(*) FROM d) AS n_sample,
          |  (SELECT count(*) FROM tr) AS n_true_pairs,
          |  (SELECT count(*) FROM tr JOIN ca USING (idA, idB)) AS n_caught,
          |  CASE WHEN (SELECT count(*) FROM tr) = 0 THEN NULL
          |       ELSE ROUND((SELECT count(*) FROM tr JOIN ca USING (idA, idB))::DOUBLE
          |                  / (SELECT count(*) FROM tr), 6) END AS recall,
          |  (SELECT count(*) FROM tr JOIN bb USING (idA, idB) WHERE bb.band = 0) AS n_band0,
          |  (SELECT count(*) FROM tr JOIN bb USING (idA, idB) WHERE bb.band = 1) AS n_band1,
          |  (SELECT count(*) FROM tr JOIN bb USING (idA, idB) WHERE bb.band = 2) AS n_band2,
          |  (SELECT count(*) FROM tr JOIN bb USING (idA, idB) WHERE bb.band = 3) AS n_band3,
          |  (SELECT count(*) FROM tr WHERE NOT EXISTS (SELECT 1 FROM bb
          |     WHERE bb.idA = tr.idA AND bb.idB = tr.idB)) AS n_missed_banding""".stripMargin),
    "q102_split_leakage" -> q102OracleSql
  )
}
