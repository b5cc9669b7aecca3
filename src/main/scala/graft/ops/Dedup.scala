package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
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
    * Iterative min-label propagation with adaptive pointer jumping:
    * each round every node adopts the smallest label among itself and its
    * neighbors; from round 3 on, labels additionally compress through their
    * own representative (rep := rep-of-rep, the path-doubling step), so a
    * depth-D component converges in O(log D) rounds instead of O(D) — a
    * degenerate chain-shaped corpus (overlapping boilerplate forming one
    * long near-dup path) stays tractable. Near-dup clusters are typically
    * shallow (dup groups), so the first rounds skip the jump join and pay
    * nothing for the safeguard. Each round is one equi-join plus one
    * aggregation shuffling only (id, label) pairs; new labels are eagerly
    * checkpointed each round — the label frame appears twice per
    * iteration, so without lineage truncation the logical plan doubles every
    * round (exponential planning cost), and the jump self-joins the
    * materialized checkpoint, not the un-truncated subtree. An isEmpty
    * probe on changed labels decides convergence. The standard MapReduce-CC
    * shape — at scale each round moves |edges| 16-byte rows, never payloads.
    *
    * `checkpointDir`: None (default) truncates lineage with localCheckpoint —
    * blocks live on executor storage, fastest, but an executor loss
    * mid-iteration kills the job. On a long-running cluster job pass a
    * reliable directory (HDFS/S3) instead: each round's labels are written
    * to `checkpointDir` via `Dataset.checkpoint(eager = true)` and survive
    * executor loss; the per-round (id, rep) frame is tiny relative to the
    * near-dup pair evidence, so the durability costs little.
    *
    * Storage lifecycle: once round N's checkpoint has eagerly materialized,
    * round N−1 can never be referenced again (N's lineage is truncated), so
    * its blocks are unpersisted and its reliable checkpoint files deleted
    * immediately. Without this, repeated calls in one JVM accumulate every
    * round's blocks until GC/ContextCleaner pressure stalls a run (observed
    * as a 3.3–17.5 s spread across identical q48 bench runs). OWNERSHIP of
    * the returned frame: it is backed by the FINAL round's checkpoint; its
    * blocks (and, on the reliable path, files) stay live until the caller
    * either lets the frame be garbage-collected (ContextCleaner frees the
    * blocks; reliable files need
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true`) or calls
    * [[releaseClusterLabels]] after its terminal action.
    *
    * Throws IllegalStateException if labels are still changing after
    * `maxIter` rounds: a truncated propagation silently splits one
    * component into several clusters, which a caller cannot distinguish
    * from converged output — failing loudly beats returning wrong labels.
    * With pointer jumping the default 20 rounds covers components ~2^17
    * deep; hitting it means something is genuinely wrong.
    *
    * Each phase's jobs carry the job description "dupClusters init",
    * "dupClusters r1", "dupClusters r2", … (each round includes its
    * checkpoint materialization and the convergence probe), so a listener
    * can name the round a slow run stalled in. The caller's own description
    * is restored on return; the job group is left alone, since callers use
    * it to cancel their jobs.
    */
  /** Prefix of the job description [[dupClusters]] gives each phase. */
  private[graft] final val PhaseDescriptionPrefix = "dupClusters "

  def dupClusters(
      pairs: DataFrame, maxIter: Int = 20,
      checkpointDir: Option[String] = None): DataFrame = {
    val sc = pairs.sparkSession.sparkContext
    def phase[A](label: String)(f: => A): A =
      graft.util.JobLabel(sc, PhaseDescriptionPrefix + label)(f)
    checkpointDir.foreach { dir =>
      // setCheckpointDir stores a qualified <dir>/<UUID> path, so equality
      // (Option.contains) never matches and every call would reset the dir
      // and mint a fresh UUID subdir — compare by substring instead
      if (!sc.getCheckpointDir.exists(_.contains(dir))) sc.setCheckpointDir(dir)
    }
    def ckpt(df: DataFrame): DataFrame =
      if (checkpointDir.isDefined) df.checkpoint() else df.localCheckpoint()
    // Convergence is observed DURING the eager-checkpoint job instead of as
    // a separate scan afterwards: a pass-through filter increments a fresh
    // per-round accumulator for every row whose label moved, so each round
    // runs one job, not two. Accumulator semantics make this safe: task
    // replays can only over-count (never under-count), and an over-count
    // merely schedules one extra round whose own probe then reads 0 — the
    // loop can converge late, never early, and never on wrong labels.
    def ckptProbed(df: DataFrame): (DataFrame, org.apache.spark.util.LongAccumulator) = {
      val acc = sc.longAccumulator
      val probe = udf { (changed: Boolean) => if (changed) acc.add(1L); true }
      // null-safe comparison: `=!=` yields null when either side is null
      // (possible via null ids in a caller-supplied pairs frame), and the
      // primitive-Boolean UDF is null-short-circuited — the row would be
      // FILTERED OUT of the checkpointed labels instead of counted as
      // unchanged. `<=>` is always true/false, so the filter always passes.
      (ckpt(df.where(probe(not(col("rep") <=> col("_prev"))))), acc)
    }
    // The edge relation is static across rounds and every round equi-joins
    // it on _dst: hash-partition it by _dst ONCE before caching, so the
    // cached partitioning satisfies each round's join distribution and only
    // the (much smaller) label frame shuffles per round. At scale |edges| ≥
    // |labels| by the component factor, so this halves per-round shuffle
    // volume; the plan-level reuse is pinned in PlanSpec.
    // The repartition is an unconditional extra shuffle of the doubled edge
    // set before caching — deliberate 100 TB posture: per-round joins take
    // the shuffle-join shape at scale, where the cached partitioning saves
    // |edges| per round. Small inputs whose rounds broadcast the label side
    // pay it for nothing; callers at toy scale can pre-partition themselves.
    // Symmetrize via explode, not union-of-two-selects: a union references
    // the `pairs` plan twice, and when the caller hands an UNCACHED pair
    // pipeline (q48 end to end: banding + exact verify) the first edge
    // materialization would compute that whole upstream twice. One explode
    // reads it once and emits both directions — same rows, half the
    // upstream work, and the downstream repartition/persist is unchanged.
    val edges = pairs.select(explode(array(
        struct(col("idA").as("_src"), col("idB").as("_dst")),
        struct(col("idB").as("_src"), col("idA").as("_dst")))).as("_e"))
      .select(col("_e._src").as("_src"), col("_e._dst").as("_dst"))
      .repartition(col("_dst"))
      .persist()
    // round 0 folded into the init: every node starts from min(self, direct
    // neighbors) — one aggregation instead of a full propagate round. The
    // edge relation is symmetric (both directions in the union), so grouping
    // on _dst is equivalent to grouping on _src — and _dst is the cached
    // partitioning key, so the init aggregation runs exchange-free where a
    // groupBy(_src) would re-shuffle the whole edge set once more.
    var current = phase("init")(ckpt(edges
      .groupBy(col("_dst").as("id"))
      .agg(least(min(col("_src")), min(col("_dst"))).as("rep"))))
    var labels = current
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      phase(s"r${iter + 1}") {
        val neighborMin = edges.join(labels, col("_dst") === col("id"))
          .groupBy(col("_src")).agg(min(col("rep")).as("_nrep"))
        // carry the previous label through so convergence is observed inside
        // the checkpoint job itself (ckptProbed), not by re-scanning the
        // checkpointed frame afterwards
        val steppedPlan = labels.as("cur")
          .join(neighborMin, col("cur.id") === col("_src"), "left_outer")
          .select(col("cur.id").as("id"),
            least(col("cur.rep"), coalesce(col("_nrep"), col("cur.rep"))).as("rep"),
            col("cur.rep").as("_prev")) // eager ckpt: materializes AND truncates lineage
        val (next, acc) =
          if (iter < 2) ckptProbed(steppedPlan)
          else {
            // pointer jump (path doubling): rep := rep's rep. Only engaged
            // once a component has shown depth (> 2 rounds), so the common
            // shallow case never pays this extra join. Every rep IS a node
            // id (min over self ∪ neighbors ∪ earlier reps), so the lookup
            // joins labels back to themselves on the materialized checkpoint.
            // The half-step is checkpointed WITHOUT a probe — only the
            // post-jump labels decide convergence.
            val stepped = ckpt(steppedPlan)
            val reps = stepped.select(col("id").as("_jid"), col("rep").as("_jrep"))
            val jumped = ckptProbed(stepped
              .join(reps, col("rep") === col("_jid"), "left_outer")
              .select(col("id"),
                least(col("rep"), coalesce(col("_jrep"), col("rep"))).as("rep"),
                col("_prev")))
            releaseClusterLabels(stepped) // jumped is materialized; the half-step is dead
            jumped
          }
        converged = acc.value == 0L
        releaseClusterLabels(current) // next is materialized; round N−1 is unreachable
        current = next
        labels = next.drop("_prev")
        iter += 1
      }
    }
    edges.unpersist()
    if (!converged) throw new IllegalStateException(
      s"dupClusters did not converge within maxIter=$maxIter rounds; " +
        "labels were still changing (component diameter exceeds maxIter). " +
        "Returning them would silently split components — raise maxIter.")
    labels
  }

  /** Free the storage backing a checkpointed frame from [[dupClusters]]:
    * unpersists the truncated-lineage RDD blocks and deletes reliable
    * checkpoint files. Used internally to release each superseded round the
    * moment its successor materializes; callers may invoke it on the
    * returned labels after their terminal action instead of waiting for
    * ContextCleaner. Safe on any frame (non-checkpoint leaves are ignored),
    * but the frame must not be read again afterwards — its lineage is
    * truncated, so lost blocks cannot be recomputed.
    */
  def releaseClusterLabels(df: DataFrame): Unit = {
    val hadoopConf = df.sparkSession.sparkContext.hadoopConfiguration
    df.queryExecution.logical.collectLeaves().foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
        lr.rdd.getCheckpointFile.foreach { f => // reliable path: files, not blocks
          val p = new org.apache.hadoop.fs.Path(f)
          try p.getFileSystem(hadoopConf).delete(p, true)
          catch { case _: java.io.IOException => () } // cleanup is best-effort
        }
      case _ => ()
    }
  }
}
