package graft.ops

import org.apache.spark.sql.{Column, DataFrame, KeyedCheckpoint}
import org.apache.spark.sql.functions._

/** Deduplication operators — exact, MinHash+LSH, SimHash, n-gram Jaccard,
  * embedding-cosine — the core scrubbing passes of a training-data pipeline.
  *
  * Scale design (100 TB posture):
  *  - exact dedup is one hash shuffle on a 64-bit digest of the text, never
  *    on the text bytes themselves (shuffle volume ∝ ids, not payload);
  *  - near-dup never compares all pairs: MinHash/SimHash/SRP signatures are
  *    computed in a single codegen'd scan, then candidates come from an
  *    equi-join on LSH band keys (shuffle on small band keys), and only
  *    candidates are verified exactly;
  *  - all hash families are seeded deterministically — re-runs and the
  *    fixture tests see identical output.
  */
object Dedup {

  import Partitioning.spread

  // --- exact ---------------------------------------------------------------

  /** Exact dedup keeping the smallest id per distinct value of `on`.
    * Requires `idCol` unique per row (a document id).
    *
    * Scale design (100 TB): the wide payload never travels as a shuffle key.
    * The default path is ONE narrow aggregation — winners elected per
    * 128-bit digest pair (xxhash64 + an independent witness hash; distinct
    * values collide w.p. 2⁻¹²⁸ — the standard content-hash dedup
    * guarantee). The shuffle carries 24-byte rows, and survivors materialize
    * via a left-semi join on the unique id: the single payload-moving step,
    * which co-locates with an id-bucketed corpus layout (both
    * plan-asserted in PlanSpec).
    *
    * `strictResolve = true` additionally value-resolves every d1-digest
    * group whose witness hashes disagree. Note what that does and does not
    * buy: it catches d1 collisions that the witness detects, but two values
    * colliding on BOTH hashes would still merge silently — the same
    * ~2⁻¹²⁸-order event the default path accepts (an order-of-magnitude
    * heuristic, not a proof: d2 is xxhash64 under a derived seed, not an
    * independently-drawn hash). Unconditional exactness requires grouping
    * by the value itself, i.e. paying the payload shuffle this operator
    * exists to avoid. The flagged-digest inventory is a second pass over
    * the digest aggregation — Catalyst cannot reuse the exchange across
    * the two branches because they prune different columns — so strict
    * mode honestly costs one extra narrow scan; the default path is the
    * production choice.
    */
  def exactDedup(df: DataFrame, on: String, idCol: String,
      strictResolve: Boolean = false): DataFrame = {
    val d1 = xxhash64(col(on))
    val d2 = xxhash64(lit(0x9E3779B9L), col(on)) // independent witness hash
    val winners =
      if (!strictResolve)
        df.select(d1.as("_d1"), d2.as("_d2"), col(idCol).as("_id"))
          .groupBy("_d1", "_d2").agg(min("_id").as("_win")).select("_win")
      else {
        val agg = df.select(d1.as("_d1"), d2.as("_d2"), col(idCol).as("_id"))
          .groupBy("_d1")
          .agg(min("_id").as("_win"), (countDistinct("_d2") > 1).as("_collided"))
        val clean = agg.where(!col("_collided")).select("_win")
        val resolved = df // exact-value resolve over just the flagged digests
          .join(broadcast(agg.where(col("_collided")).select("_d1")),
            d1 === col("_d1"), "left_semi")
          .groupBy(col(on)).agg(min(col(idCol)).as("_win")).select("_win")
        clean.union(resolved)
      }
    df.select(col(on), col(idCol))
      .join(winners, col(idCol) === col("_win"), "left_semi")
  }

  /** Ids that would be dropped by exactDedup (duplicate report rows).
    * Windows on the same 128-bit digest pair as exactDedup — a single
    * 64-bit key would co-partition two distinct colliding texts and
    * misreport one as a duplicate. */
  def exactDupIds(df: DataFrame, on: String, idCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(xxhash64(col(on)), xxhash64(lit(0x9E3779B9L), col(on)))
      .orderBy(col(idCol))
    df.select(col(idCol), row_number().over(w).as("_rn"))
      .where(col("_rn") > 1).drop("_rn")
  }

  // --- MinHash + LSH -------------------------------------------------------

  /** Deterministic affine hash family over xxhash64: h_i(x) = a_i*x + b_i
    * (odd a_i, wraparound 64-bit). */
  private def hashFamily(k: Int, seed: Long): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(k)((rnd.nextLong() | 1L, rnd.nextLong()))
  }

  /** MinHash signature (k values) over character or word shingles — both
    * paths run as fused codegen kernels (graft.expr.TextHash): one pass over
    * the UTF8String bytes, zero per-shingle allocation. Bit-equality with
    * the expression-tree formulation (below) is pinned by TextHashExprSpec.
    * One projection, no shuffle. */
  def minhash(text: Column, k: Int = 64, shingle: Int = 5, seed: Long = 42L,
      wordGrams: Boolean = false): Column =
    if (wordGrams) graft.expr.GraftFunctions.wordMinhash(text, shingle, k, seed)
    else graft.expr.GraftFunctions.minhash(text, shingle, k, seed)

  /** The reference expression-tree formulation of the word-gram signature:
    * Catalyst shingling + xxhash64, then a JVM-UDF k-way min fold (the
    * affine family needs 64-bit wraparound, which ANSI-mode Catalyst
    * arithmetic correctly rejects). Kept as the independent formulation the
    * fused kernel is pinned against. */
  private[graft] def minhashUdfFold(text: Column, k: Int, shingle: Int,
      seed: Long): Column = {
    val family = hashFamily(k, seed).toArray
    val fold = udf { (hs: Seq[Long]) =>
      val sig = Array.fill(k)(Long.MaxValue)
      hs.foreach { h =>
        var i = 0
        while (i < k) {
          val v = h * family(i)._1 + family(i)._2 // wraparound intended
          if (v < sig(i)) sig(i) = v
          i += 1
        }
      }
      sig
    }
    fold(array_distinct(transform(TextOps.wordShingles(text, shingle), s => xxhash64(s))))
  }

  /** (band, bandKey) pairs for LSH banding: k = bands*rows, a candidate pair
    * must collide on at least one whole band. */
  def minhashBands(sig: Column, bands: Int, rows: Int): Column =
    array((0 until bands).map { b =>
      struct(lit(b).as("band"), xxhash64(to_json(struct(slice(sig, b * rows + 1, rows)))).as("key"))
    }: _*)

  /** Estimated Jaccard from two signatures: fraction of agreeing positions. */
  def minhashEstimate(sigA: Column, sigB: Column, k: Int): Column =
    size(filter(zip_with(sigA, sigB, (x, y) => x === y), b => b)).cast("double") / k

  /** Candidate pairs from an exploded (_id, _b) blocking relation with a
    * deterministic per-key frequency cap (the LSH/SimHash skew guard):
    *  - keys with ≤ maxBucket members emit all within-key pairs (idA < idB);
    *  - hotter keys (empty/boilerplate texts collapse whole corpora onto one
    *    band key) emit STAR pairs to the key's minimum id — O(n) rows
    *    instead of O(n²), so no bucket can go quadratic at 100 TB.
    * Nothing is dropped: every member of a capped bucket still reaches the
    * exact-verify stage via its representative (duplicates of the
    * representative are found; duplicate pairs both ≉ representative are the
    * accepted recall trade, the standard LSH hot-bucket treatment).
    *
    * Mechanics: the hot-key inventory comes from a map-side-combined count
    * aggregation and is tiny by construction (a key is hot only past
    * maxBucket members — pathologies, not the norm), so it broadcasts back
    * onto the blocking relation; the cap adds NO extra shuffle or sort of
    * the (16-byte) blocking rows.
    *
    * Multi-consumption contract: `blocked` feeds the hot-key aggregation,
    * both self-join sides, and the star branch, and Catalyst does NOT unify
    * those subtrees (AQE may plan the small-bucket join as broadcast,
    * duplicating the subtree outright). Callers therefore persist the
    * COMPACT upstream sketch frame (signatures / simhashes / vec+norm)
    * before exploding band keys — each branch then re-derives the blocking
    * rows with a cheap cached projection, instead of re-running the sketch
    * scan up to three times or caching the ×bands-larger exploded relation
    * (measurably worse on both counts — verified by plan/bench inspection).
    *
    * `carry` names columns of `blocked` (functionally dependent on _id) to
    * thread through to the output as <c>A/<c>B — lets a caller with a
    * compact per-id payload (e.g. an 8-byte simhash) avoid two re-attach
    * joins downstream. */
  private[ops] def cappedPairs(blocked: DataFrame, maxBucket: Int,
      carry: Seq[String] = Nil): DataFrame = {
    val rep = struct(col("_id") +: carry.map(col): _*)
    val hot = blocked.groupBy("_b")
      .agg(count(lit(1)).as("_n"), min(rep).as("_rep"))
      .where(col("_n") > maxBucket)
      .select(col("_b"), col("_rep"))
    val flagged = blocked.join(broadcast(hot), Seq("_b"), "left_outer")
    val small = flagged.where(col("_rep").isNull)
    val allPairs = small.as("l")
      .join(small.as("r"), col("l._b") === col("r._b") && col("l._id") < col("r._id"))
      .select(col("l._id").as("idA") +: col("r._id").as("idB") +:
        carry.flatMap(c => Seq(col(s"l.$c").as(c + "A"), col(s"r.$c").as(c + "B"))): _*)
    val starPairs = flagged
      .where(col("_rep").isNotNull && col("_id") =!= col("_rep._id"))
      .select(col("_rep._id").as("idA") +: col("_id").as("idB") +:
        carry.flatMap(c => Seq(col(s"_rep.$c").as(c + "A"), col(c).as(c + "B"))): _*)
    // pair-dedup keys on the ids only — carried columns are id-functional,
    // so they need not enter the dedup comparison (they can be wide: q49
    // carries 64-double vectors)
    allPairs.union(starPairs).dropDuplicates(Seq("idA", "idB"))
  }

  /** MinHash+LSH near-duplicate pairs.
    *
    * Pipeline: signature scan → explode band keys → capped self-equi-join on
    * (band, key) → distinct candidate pairs → verify estimated Jaccard ≥
    * threshold. Returns (idA, idB, est_jaccard) with idA < idB.
    */
  def minhashNearDups(
      df: DataFrame, textCol: String, idCol: String,
      k: Int = 64, bands: Int = 16, shingle: Int = 5,
      threshold: Double = 0.7, seed: Long = 42L,
      wordGrams: Boolean = false, maxBucket: Int = 1024): DataFrame = {
    val (candidates, sigs) = bandedCandidates(df, textCol, idCol, k, bands,
      shingle, seed, wordGrams, maxBucket)
    candidates
      .join(sigs.select(col("_id").as("idA"), col("_sig").as("sigA")), "idA")
      .join(sigs.select(col("_id").as("idB"), col("_sig").as("sigB")), "idB")
      .withColumn("est_jaccard", round(minhashEstimate(col("sigA"), col("sigB"), k), 6))
      .where(col("est_jaccard") >= threshold)
      .select("idA", "idB", "est_jaccard")
  }

  /** The raw LSH candidate relation (idA, idB) — banding + hot-bucket cap,
    * WITHOUT the signature re-attach / estimated-Jaccard screen. The right
    * input for a downstream EXACT verify (ngramJaccardVerify): when the
    * banding unit matches the verify metric, the estimate screen only
    * re-filters what the exact verify decides anyway, at the cost of two
    * signature joins. Use minhashNearDups when the estimate itself is the
    * output. */
  def minhashCandidatePairs(
      df: DataFrame, textCol: String, idCol: String,
      k: Int = 64, bands: Int = 16, shingle: Int = 5, seed: Long = 42L,
      wordGrams: Boolean = false, maxBucket: Int = 1024): DataFrame =
    bandedCandidates(df, textCol, idCol, k, bands, shingle, seed, wordGrams,
      maxBucket)._1

  private def bandedCandidates(
      df: DataFrame, textCol: String, idCol: String,
      k: Int, bands: Int, shingle: Int, seed: Long,
      wordGrams: Boolean, maxBucket: Int): (DataFrame, DataFrame) = {
    require(k % bands == 0, s"k=$k must be divisible by bands=$bands")
    graft.expr.GraftFunctions.ensureRegistered(df.sparkSession)
    val rows = k / bands
    val sigs = spread(df)
      .select(col(idCol).as("_id"),
        minhash(col(textCol), k, shingle, seed, wordGrams).as("_sig"))
      .persist()
    // the self-join and pair-dedup move only (id, bandKey) — 16-byte rows —
    // never the k-long signatures; sigs re-attach afterwards (small side).
    val banded = sigs.select(col("_id"),
      explode(minhashBands(col("_sig"), bands, rows)).as("_b"))
    (cappedPairs(banded, maxBucket), sigs)
  }

  // --- n-gram Jaccard (exact) ---------------------------------------------

  /** Exact Jaccard similarity between word-n-gram sets of candidate pairs.
    * `pairs` must have (idA, idB); returns them with exact jaccard ≥
    * threshold. Joining shingle sets only for candidates keeps the verify
    * cost |candidates|, not |docs|².
    *
    * The gram sets shuffle as 8-byte xxhash64 values, not strings (the
    * q51/q59/q80 narrow-intermediate rule: wide string payloads are what
    * degrades superlinearly under host contention). Set sizes — and hence
    * the jaccard — are unchanged unless two distinct grams of one document
    * collide in 64 bits (~n_grams²/2⁶⁵ per doc, vanishing), the same
    * accepted equivalence as the q51 decontamination join. */
  def ngramJaccardVerify(
      df: DataFrame, pairs: DataFrame, textCol: String, idCol: String,
      n: Int = 3, threshold: Double = 0.0): DataFrame = {
    // shingle only documents that occur in a candidate pair (left-semi on the
    // broadcast candidate-id set) — at scale |candidates| ≪ |docs|
    graft.expr.GraftFunctions.ensureRegistered(df.sparkSession)
    val neededIds = pairs.select(col("idA").as("_nid"))
      .union(pairs.select(col("idB").as("_nid"))).distinct()
    val sets = spread(df)
      .join(broadcast(neededIds), col(idCol) === col("_nid"), "left_semi")
      .select(col(idCol).as("_id"),
        transform(graft.expr.GraftFunctions.wordNGrams(col(textCol), n),
          g => xxhash64(g)).as("_set"))
    // Attach both sets with ONE pass over the shingle frame: each pair
    // unpivots to two (side, id) rows, joins `sets` once, and folds back per
    // pair (singleton sides, so max() just picks the value). The shingle
    // frame appears a single time in the DAG — the docs scan + shingling run
    // once WITHOUT caching, so a library caller leaks nothing (the earlier
    // two-rename double join read it twice and needed a persist whose
    // cleanup no one owned).
    val tall = pairs.select(col("idA"), col("idB"), explode(array(
        struct(lit("A").as("_side"), col("idA").as("_sid")),
        struct(lit("B").as("_side"), col("idB").as("_sid")))).as("_e"))
      .select(col("idA"), col("idB"), col("_e._side").as("_side"), col("_e._sid").as("_sid"))
    val bothSets = tall.join(sets, col("_sid") === col("_id"))
      .groupBy("idA", "idB")
      .agg(max(when(col("_side") === "A", col("_set"))).as("_setA"),
        max(when(col("_side") === "B", col("_set"))).as("_setB"))
      // a pair whose doc is absent from `df` has a null side: drop it (the
      // old inner joins did the same)
      .where(col("_setA").isNotNull && col("_setB").isNotNull)
    pairs.join(bothSets, Seq("idA", "idB"))
      .withColumn("jaccard", round(
        size(array_intersect(col("_setA"), col("_setB"))).cast("double") /
          greatest(size(array_union(col("_setA"), col("_setB"))), lit(1)), 6))
      .where(col("jaccard") >= threshold)
      .drop("_setA", "_setB")
  }

  /** Edit-distance record linkage: near-duplicate pairs under NORMALIZED
    * Levenshtein distance ≤ maxDistNum/maxDistDen of the longer side — the
    * classic entity-resolution verify metric (character edits, order-aware)
    * next to the dedup family's set metrics (Jaccard q24, hamming q26/q122).
    *
    * Blocking is a deterministic gram SAMPLE, not LSH: candidates share at
    * least one word-`n`-gram whose portable 60-bit md5 hash ≡ 0
    * (mod `sampleMod`) — a 1/sampleMod inverted index both engines compute
    * identically (PortableSketch.h60), so the oracle replays the candidate
    * set verbatim and the result is exact over it, never a recall gamble.
    * Hot sampled grams (boilerplate) star-cap at `maxBucket` via the shared
    * [[cappedPairs]] discipline; the cap must be non-binding wherever an
    * exact oracle replays the uncapped index (the q63/q122 rule — callers
    * measure).
    *
    * Verify is the BOUNDED band algorithm: `levenshtein(a, b, thr)` stops
    * at O(len·thr) work instead of O(len²), with `thr` the largest
    * admissible distance anywhere in the corpus — one scalar aggregate
    * (ceil of maxLen·num/den), never a per-row collect. A pair the bound
    * rejects (-1) cannot be admissible, since its own bound ml·num/den ≤
    * thr. Returns (idA, idB, lev, sim_bp) with sim_bp = 10000 −
    * lev·10000 div max(len) — integer-exact. */
  def editNearDups(
      df: DataFrame, textCol: String, idCol: String,
      n: Int = 3, sampleMod: Int = 8, maxBucket: Int = 1024,
      maxDistNum: Int = 1, maxDistDen: Int = 5): DataFrame = {
    graft.expr.GraftFunctions.ensureRegistered(df.sparkSession)
    val base = spread(df)
      .select(col(idCol).as("_bid"), col(textCol).as("_t")).persist()
    // persisted: cappedPairs reads the index four times (hot-bucket agg,
    // the flag join, and both legs of the small self-join) — unpersisted,
    // each read re-runs the explode+hash+distinct over the corpus
    val blocked = base.select(col("_bid").as("_id"),
        explode(graft.expr.GraftFunctions.wordNGrams(col("_t"), n)).as("_g"))
      .select(col("_id"), PortableSketch.h60(col("_g")).as("_b"))
      .where(pmod(col("_b"), lit(sampleMod)) === 0)
      .distinct().persist()
    val thr = Option(base.agg(max(length(col("_t")))).head().get(0))
      .map(_.asInstanceOf[Int]).getOrElse(0) * maxDistNum / maxDistDen + 1
    cappedPairs(blocked, maxBucket)
      // the verify below is COMPUTE-bound, not byte-bound: AQE sees the
      // few-MB pair-dedup shuffle and coalesces the tail to one partition,
      // serializing every bounded levenshtein onto one core (profiled: a
      // 22 s single-task stage inside a 24 s query at sf0.1). An explicit
      // user repartition is exempt from AQE coalescing and costs one
      // skinny-row shuffle.
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .join(base.select(col("_bid").as("idA"), col("_t").as("_ta")), "idA")
      .join(base.select(col("_bid").as("idB"), col("_t").as("_tb")), "idB")
      .withColumn("_ml",
        greatest(length(col("_ta")), length(col("_tb"))).cast("long"))
      .withColumn("lev", levenshtein(col("_ta"), col("_tb"), thr).cast("long"))
      .where(col("lev") >= 0 &&
        col("lev") * maxDistDen <= col("_ml") * maxDistNum)
      .select(col("idA"), col("idB"), col("lev"),
        expr("10000 - (lev * 10000) div _ml").as("sim_bp"))
  }

  /** Brute-force exact n-gram Jaccard over all pairs — the small-data oracle
    * path (O(n²)); the scale path is minhashNearDups + ngramJaccardVerify. */
  def ngramJaccardAllPairs(
      df: DataFrame, textCol: String, idCol: String,
      n: Int = 3, threshold: Double = 0.5): DataFrame = {
    val ids = df.select(col(idCol).as("idA"))
    val pairs = ids.crossJoin(df.select(col(idCol).as("idB"))).where(col("idA") < col("idB"))
    ngramJaccardVerify(df, pairs, textCol, idCol, n, threshold)
      .select("idA", "idB", "jaccard")
  }

  // --- SimHash -------------------------------------------------------------

  /** 64-bit SimHash over character shingles. The bit-vote accumulation is a
    * genuinely imperative 64-lane loop — a native Scala UDF (JVM, not
    * Python) is the right tool; it runs inside the same scan stage. */
  private val simhash64 = udf { (shingleHashes: Seq[Long]) =>
    if (shingleHashes == null || shingleHashes.isEmpty) 0L
    else {
      val votes = new Array[Int](64)
      shingleHashes.foreach { h =>
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      var out = 0L
      var b = 0
      while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
      out
    }
  }

  def simhash(text: Column, shingle: Int = 5): Column =
    graft.expr.GraftFunctions.simhash(text, shingle)

  /** Expression-tree SimHash (reference formulation; equals the fused kernel
    * on ASCII — pinned by ExprSpec). */
  def simhashBuiltin(text: Column, shingle: Int = 5): Column =
    simhash64(array_distinct(transform(TextOps.charShingles(text, shingle), s => xxhash64(s))))

  /** Hamming distance between two 64-bit simhashes. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dups: block on 4×16-bit chunks (a pair within hamming
    * distance ≤ 3 of 64 bits must agree on at least one chunk when distance
    * ≤ 3 < 4 chunks — pigeonhole), then verify exact hamming ≤ maxDistance.
    * The 16-bit key space is small (≤65,536 buckets), so at large N the
    * per-chunk-key frequency cap (star pairs to the bucket representative —
    * see cappedPairs) is what keeps the block join from going quadratic. */
  def simhashNearDups(
      df: DataFrame, textCol: String, idCol: String,
      shingle: Int = 5, maxDistance: Int = 3, maxBucket: Int = 1024): DataFrame = {
    graft.expr.GraftFunctions.ensureRegistered(df.sparkSession)
    // the 8-byte simhash rides along the block join (carry) — re-attach
    // joins would cost more than the payload they avoid moving. The sketch
    // frame persists; the exploded blocking rows re-derive from the cache
    // per consuming branch (see cappedPairs contract).
    val sh = spread(df)
      .select(col(idCol).as("_id"), simhash(col(textCol), shingle).as("_sh"))
      .persist()
    val chunked = sh
      .select(col("_id"), col("_sh"),
        explode(array((0 until 4).map { i =>
          struct(lit(i).as("chunk"), shiftright(col("_sh"), i * 16).bitwiseAND(lit(0xFFFFL)).as("key"))
        }: _*)).as("_b"))
    cappedPairs(chunked, maxBucket, carry = Seq("_sh"))
      .withColumn("hamming", hamming64(col("_shA"), col("_shB")))
      .where(col("hamming") <= maxDistance)
      .select("idA", "idB", "hamming")
  }

  // --- embedding cosine near-dup ------------------------------------------

  /** Cosine-similarity near-duplicates over an embedding column, via random
    * hyperplane (SRP) LSH: planes from a seeded RNG, signature = sign bits,
    * block on signature chunks (hot-bucket capped like the text paths),
    * verify exact cosine ≥ threshold. The vector rides the block join
    * (carry) — for LSH chunk keys the bucket fan-out is small and re-attach
    * joins would cost more than the vector bytes they avoid moving. */
  /** Band-key width (planes/bands bits) must track corpus size: k-bit keys
    * give 2^k buckets per band, and EVERY bucket pair-joins — undersized
    * keys are uniform candidate explosion, not skew (the cap only guards
    * outlier buckets). Norms are computed once per vector in the signature
    * scan and ride the join, so the verify does one dot product per pair. */
  def embeddingNearDups(
      df: DataFrame, vecCol: String, idCol: String,
      dim: Int, planes: Int = 16, bands: Int = 4,
      threshold: Double = 0.95, seed: Long = 42L,
      maxBucket: Int = 1024): DataFrame = {
    require(planes % bands == 0, s"planes=$planes must divide by bands=$bands")
    graft.expr.GraftFunctions.ensureRegistered(df.sparkSession)
    val sig = Similarity.srpSignature(col(vecCol), dim, planes, seed)
    val rows = planes / bands
    val v = df
      .select(col(idCol).as("_id"), col(vecCol).as("_vec"), sig.as("_sig"))
      .withColumn("_nrm", sqrt(Similarity.dot(col("_vec"), col("_vec"))))
      .persist() // sketch frame cached; explode re-derives per branch
    val banded = v
      .select(col("_id"), col("_vec"), col("_nrm"),
        explode(array((0 until bands).map { b =>
          struct(lit(b).as("band"), shiftright(col("_sig"), b * rows)
            .bitwiseAND(lit((1L << rows) - 1)).as("key"))
        }: _*)).as("_b"))
    cappedPairs(banded, maxBucket, carry = Seq("_vec", "_nrm"))
      .withColumn("cosine", round(
        when(col("_nrmA") * col("_nrmB") === 0.0d, 0.0d)
          .otherwise(Similarity.dot(col("_vecA"), col("_vecB")) / (col("_nrmA") * col("_nrmB"))), 6))
      .where(col("cosine") >= threshold)
      .select("idA", "idB", "cosine")
  }

  // --- dup clusters (connected components) ---------------------------------

  /** Connected components over near-duplicate pairs → cluster assignment
    * (id, rep = the component's minimum id): the step that turns pairwise
    * near-dup evidence into keep-one-per-cluster decisions.
    *
    * Min-label propagation with pointer jumping, a frontier loop on
    * [[Graph.iterate]]. The pairs are symmetrised once into `(src, dst)`
    * edges keyed on `src`; every node starts from the least of itself and
    * its neighbours. A round:
    *   - the nodes whose label changed last round offer it to their
    *     neighbours: a join with the co-keyed edges and a `dst`
    *     min-aggregate, so each round moves (id, label) rows, never payloads;
    *     each node takes the least of its label and its offers, which land
    *     keyed like the state;
    *   - the pointer jump `rep := min(rep, S(rep))` looks the new label up in
    *     the round's input state S, which is already a keyed checkpoint, so
    *     a depth-D chain converges in O(log D) rounds instead of O(D).
    * The loop ends after the first round that changes no label.
    *
    * Throws IllegalStateException if labels are still changing after
    * `maxIter` rounds: a truncated propagation silently splits one
    * component into several clusters, which a caller cannot distinguish
    * from converged output.
    *
    * Storage: the edges and every superseded round are released on return.
    * The returned frame is backed by the final round's checkpoint and
    * carries its stored size as statistics, so a caller's join can
    * broadcast it; the caller frees it with [[releaseClusterLabels]] after
    * its terminal action, or leaves it to ContextCleaner. Round N's jobs
    * carry the job description "Graph.dupClusters rN".
    */
  def dupClusters(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    // one explode reads the (often uncached) pair pipeline once
    val edges = KeyedCheckpoint(pairs.select(explode(array(
        struct(col("idA").as("src"), col("idB").as("dst")),
        struct(col("idB").as("src"), col("idA").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst")), "src")
    // the edges are symmetric, so grouping on their key covers every node
    val init = edges.groupBy(col("src").as("node"))
      .agg(least(min(col("src")), min(col("dst"))).as("rep"))
      .withColumn("changed", lit(true))
    val states = Graph.iterate("dupClusters", init, maxIter, frontier = Some("changed")) { s =>
      val moved = s.where(col("changed"))
      val offers = edges.join(moved.hint("shuffle_hash"), edges("src") === moved("node"))
        .groupBy(col("dst")).agg(min(col("rep")).as("offer"))
      val stepped = s.hint("shuffle_hash").join(offers, s("node") === offers("dst"), "left")
        .select(col("node"), least(col("rep"), col("offer")).as("_rep"), col("rep").as("_prev"))
      val lookup = s.select(col("node").as("_j"), col("rep").as("_jrep"))
      val rep = least(col("_rep"), col("_jrep"))
      // <=>: a null label (from a null id in the pairs) compares as a value
      stepped.join(lookup.hint("shuffle_hash"), col("_rep") === col("_j"), "left")
        .select(col("node"), rep.as("rep"), not(rep <=> col("_prev")).as("changed"))
    }
    val last = states.last
    val converged = states.size <= maxIter || last.where(col("changed")).isEmpty
    // a finished job has materialized every state, so none is read again
    (edges +: states.init).foreach(releaseClusterLabels)
    if (!converged) {
      releaseClusterLabels(last)
      throw new IllegalStateException(
        s"dupClusters did not converge within maxIter=$maxIter rounds; " +
          "labels were still changing (component diameter exceeds maxIter). " +
          "Returning them would silently split components — raise maxIter.")
    }
    KeyedCheckpoint.measured(last).select(col("node").as("id"), col("rep"))
  }

  /** Free the storage backing a checkpointed frame from [[dupClusters]]:
    * unpersists its checkpoint blocks. Callers may invoke it on the returned
    * labels after their terminal action instead of waiting for
    * ContextCleaner. Safe on any frame (non-checkpoint leaves are ignored),
    * but the frame must not be read again afterwards — its lineage is
    * truncated, so lost blocks cannot be recomputed.
    */
  def releaseClusterLabels(df: DataFrame): Unit =
    df.queryExecution.logical.collectLeaves().foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(blocking = false)
      case _ => ()
    }
}
