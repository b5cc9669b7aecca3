package graft.operators

import graft.ops.{Multimodal, Partitioning, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-13 queries: the capability-headroom items from the round-12
  * verdict — byte-level BPE (q165: the production tokenizer alphabet, 256
  * symbols, no OOV by construction), the ANF calibration audit (q166:
  * measured sketch error against the exact seed balls — the stated reason
  * the q157/q163 pair ships), host-reputation composition (q167:
  * canonical host × quality × centrality → the per-domain keep/weight
  * gate a CC-style pipeline runs), the perceptual-hash banding recall
  * audit (q168: measured catch rate per Hamming distance against exact
  * truth — the q161 construction for the asset family) — plus the round's
  * own compositions: the CCNet pipeline end to end on PREDICTED languages
  * (q169), reputation-weighted document selection applying the q167 table
  * (q170), and content-defined chunk dedup, the insertion-robust dedup
  * family member (q171).
  */
object Round13Queries {
  import ContractQueries.table

  // --- q165: byte-level BPE --------------------------------------------------

  /** Shared q165 constant (Spark + oracle): induction rounds. */
  private val ByteBpeRounds = 6

  /** The byte-level merge loop (the q117 chain re-run over UTF-8 BYTES):
    * symbols are 2-hex-char strings of the word's UTF-8 bytes — the
    * engine-portable byte spelling (Spark `hex(encode(w))` == DuckDB
    * `hex(encode(w))`, both uppercase), so a merged symbol is just the
    * concatenated hex and the 256-value alphabet needs no escape chars.
    * Same greedy left-to-right Sennrich fold, same (count desc, a, b)
    * argmax tie order (hex is ASCII — Scala/Spark/DuckDB agree), same
    * vocab-bounded per-round cost. The hex string projects into an
    * attribute BEFORE the transform lambda (the lambda-recompute trap:
    * an expression captured in a HOF re-evaluates per element). */
  private def byteBpeChain(tf: DataFrame)
      : (DataFrame, Seq[(Int, String, Long)]) = {
    var seg = tf
      .withColumn("_hx", hex(encode(col("w"), "UTF-8")))
      .select(col("w"), col("c"),
        transform(sequence(lit(1), octet_length(encode(col("w"), "UTF-8"))),
          i => col("_hx").substr((i - lit(1)) * lit(2) + lit(1), lit(2))).as("s"))
      .persist()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long)]
    var r = 1
    var done = false
    while (r <= ByteBpeRounds && !done) {
      val top = seg.where(size(col("s")) >= 2)
        .select(col("c"), col("s"),
          explode(sequence(lit(1), size(col("s")) - 1)).as("i"))
        .select(element_at(col("s"), col("i")).as("a"),
          element_at(col("s"), col("i") + 1).as("b"), col("c"))
        .groupBy("a", "b").agg(sum("c").as("cnt"))
        .orderBy(col("cnt").desc, col("a").asc, col("b").asc)
        .head(1)
      if (top.isEmpty) done = true
      else {
        val (a, b, cnt) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((r, a + " " + b, cnt))
        val next = seg.select(col("w"), col("c"),
          aggregate(
            slice(col("s"), lit(2), greatest(size(col("s")) - 1, lit(0))),
            slice(col("s"), 1, 1),
            (acc, x) => when(
              element_at(acc, -1) === a && x === b,
              concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
              .otherwise(concat(acc, array(x)))).as("s"))
          .persist()
        next.count() // materialize before releasing the parent cache
        seg.unpersist()
        seg = next
      }
      r += 1
    }
    (seg, merges.toSeq)
  }

  /** q165 — BYTE-level BPE compression report: the q117/q118 induction
    * re-based on the UTF-8 byte alphabet — how the GPT-2 tokenizer family
    * actually works (256 base symbols, so there is NO out-of-vocabulary
    * word by construction; q107's OOV rate is structurally zero here).
    * Per source: words, bytes, tokens, bytes-per-token — directly
    * comparable with q118 (char BPE) and q159 (unigram LM), completing
    * the three mainstream tokenizer families. Scale shape: identical to
    * q118 — the corpus collapses to (source, word) counts, every merge
    * round is vocab-bounded, the encoded-size relation broadcasts back.
    * On the ASCII testdata bytes == chars, so the REPORT numbers equal a
    * char-BPE run — the mechanism under test is the byte alphabet and the
    * hex spelling, which the oracle replays merge by merge. */
  def byteBpe(spark: SparkSession, dir: String): DataFrame = {
    // persist: feeds the vocabulary build AND the per-source rollup.
    // Ownership: Verify/Bench clear the cache after each query's action.
    val sw = Partitioning.spread(table(spark, dir, "documents"))
      .select(col("source"), explode(TextOps.tokens(col("text"))).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("c"))
      .persist()
    val tf = sw.groupBy("w").agg(sum("c").as("c"))
    val (seg, _) = byteBpeChain(tf)
    val enc = seg.select(col("w"), size(col("s")).cast("long").as("ntok"))
    sw.join(broadcast(enc), Seq("w"))
      .withColumn("_nb", octet_length(encode(col("w"), "UTF-8")).cast("long"))
      .groupBy("source")
      .agg(sum("c").as("n_words"),
        sum(col("c") * col("_nb")).as("n_bytes"),
        sum(col("c") * col("ntok")).as("n_tokens"),
        round(sum(col("c") * col("_nb")) /
          sum(col("c") * col("ntok")), 6).as("bytes_per_token"))
      .orderBy("source")
  }

  /** q165 oracle: the q118 merge-chain oracle with seg0 over hex-pair byte
    * symbols (DuckDB `hex(encode(w))` matches Spark's uppercase hex) and
    * byte totals from octet_length. Each round's resegmentation is the
    * fold-free [[PipelineQueries.bpeResegCtes]] block (the LEFT JOIN keeps
    * early-stop semantics identical to the Spark loop; the retired
    * list_reduce fold was latently exposed to the DuckDB 1.0 misfold the
    * CDC chain hit). */
  /** The shared q165/q187 oracle chain: per-`key` word counts, hex-pair
    * seg0, and the unrolled merge rounds (identical merges whatever the
    * rollup key — the model is corpus-level by construction). */
  private def byteBpeOracleChain(key: String): String = {
    val head =
      s"""tk AS (SELECT $key, unnest(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS w FROM documents),
         |swc AS (SELECT $key, w, count(*) AS c FROM tk GROUP BY 1, 2),
         |tf AS (SELECT w, sum(c)::BIGINT AS c FROM swc GROUP BY w),
         |hx AS (SELECT w, c, hex(encode(w)) AS h, octet_length(encode(w)) AS nb FROM tf),
         |seg0 AS (SELECT w, c, [substr(h, 2*i - 1, 2) for i in range(1, nb + 1)] AS s FROM hx)""".stripMargin
    val rounds = (1 to ByteBpeRounds).map { r =>
      s"""p$r AS (SELECT t.a, t.b, sum(c)::BIGINT AS cnt FROM (
         |  SELECT c, s[i] AS a, s[i+1] AS b FROM seg${r - 1}, unnest(generate_series(1, len(s)-1)) AS u(i)) t
         |  GROUP BY 1, 2),
         |m$r AS (SELECT a, b FROM p$r ORDER BY cnt DESC, a, b LIMIT 1),
         |${PipelineQueries.bpeResegCtes(r)}""".stripMargin
    }
    s"""$head,
       |${rounds.mkString(",\n")},
       |enc AS (SELECT w, len(s) AS ntok FROM seg$ByteBpeRounds)""".stripMargin
  }

  private def q165OracleSql: String =
    s"""WITH ${byteBpeOracleChain("source")}
       |SELECT source, sum(c)::BIGINT AS n_words,
       |  sum(c * octet_length(encode(w)))::BIGINT AS n_bytes,
       |  sum(c * ntok)::BIGINT AS n_tokens,
       |  round(sum(c * octet_length(encode(w)))::DOUBLE / sum(c * ntok), 6) AS bytes_per_token
       |FROM swc JOIN enc USING (w) GROUP BY source ORDER BY source""".stripMargin

  /** q187 — tokenizer FERTILITY by language: the multilingual-fairness
    * number the tokenizer literature reports (a language whose
    * bytes-per-token runs far below the corpus mean pays more tokens —
    * more compute, less context — for the same content under the SAME
    * shared vocabulary). Same corpus-level byte-BPE model as q165 (the
    * merges are what they are; fairness is about who they serve), rolled
    * up per LANGUAGE, with `fertility` = the language's bytes-per-token
    * relative to the corpus's (round-6 double, the q56/q81 float
    * boundary: both engines evaluate the identical expression tree).
    * fertility < 1 = over-tokenized relative to the mix. Scale: q165's
    * shapes unchanged; the corpus totals are a one-row broadcast. */
  def byteBpeLangFertility(spark: SparkSession, dir: String): DataFrame = {
    // persist: feeds the vocabulary build AND the per-lang rollup.
    // Ownership: Verify/Bench clear the cache after each query's action.
    val lw = Partitioning.spread(table(spark, dir, "documents"))
      .select(col("lang"), explode(TextOps.tokens(col("text"))).as("w"))
      .groupBy("lang", "w").agg(count(lit(1)).as("c"))
      .persist()
    val tf = lw.groupBy("w").agg(sum("c").as("c"))
    val (seg, _) = byteBpeChain(tf)
    val enc = seg.select(col("w"), size(col("s")).cast("long").as("ntok"))
    // persist: the per-lang rollup AND the corpus-total scalar read it
    val scored = lw.join(broadcast(enc), Seq("w"))
      .withColumn("_nb", octet_length(encode(col("w"), "UTF-8")).cast("long"))
      .persist()
    val perLang = scored.groupBy("lang")
      .agg(sum("c").as("n_words"),
        sum(col("c") * col("_nb")).as("n_bytes"),
        sum(col("c") * col("ntok")).as("n_tokens"))
    val corpus = scored.agg(
      sum(col("c") * col("_nb")).as("_cb"),
      sum(col("c") * col("ntok")).as("_ct"))
    perLang.crossJoin(broadcast(corpus))
      .select(col("lang"), col("n_words"), col("n_bytes"), col("n_tokens"),
        round(col("n_bytes").cast("double") / col("n_tokens"), 6)
          .as("bytes_per_token"),
        round((col("n_bytes").cast("double") / col("n_tokens")) /
          (col("_cb").cast("double") / col("_ct")), 6).as("fertility"))
      .orderBy("lang")
  }

  private def q187OracleSql: String =
    s"""WITH ${byteBpeOracleChain("lang")},
       |lagg AS (SELECT lang, sum(c)::BIGINT AS n_words,
       |    sum(c * octet_length(encode(w)))::BIGINT AS n_bytes,
       |    sum(c * ntok)::BIGINT AS n_tokens
       |  FROM swc JOIN enc USING (w) GROUP BY lang),
       |corp AS (SELECT sum(c * octet_length(encode(w)))::BIGINT AS cb,
       |    sum(c * ntok)::BIGINT AS ct
       |  FROM swc JOIN enc USING (w))
       |SELECT lang, n_words, n_bytes, n_tokens,
       |  round(n_bytes::DOUBLE / n_tokens, 6) AS bytes_per_token,
       |  round((n_bytes::DOUBLE / n_tokens) / (corp.cb::DOUBLE / corp.ct), 6)
       |    AS fertility
       |FROM lagg, corp ORDER BY lang""".stripMargin

  // --- q166: ANF calibration audit -------------------------------------------

  /** q166 — ANF CALIBRATION: the measured number behind the q157/q163
    * pair's stated contract ("exact on a seed sample to calibrate,
    * sketches for the full curve" — `ops/Graph.anfSketches` doc). For
    * every seed in q157's capped deterministic sample, join the exact ball
    * size |{v : d(seed,v) ≤ h}| (from [[graft.ops.Graph.seedDistances]];
    * the trade graph is symmetric, so out-balls equal the in-balls the
    * sketches estimate) against q163's 16-register HLL estimate of the
    * same ball, and report per hop the mean/max relative error — the
    * q98/q104/q161 audit-family pattern applied to the graph sketches.
    * Error stays integer: rel_u = |est_u − exact·1e6| div exact (already
    * micro-units of relative error); only the final per-hop means divide
    * in float, round(6). Scale: the sketch side is q163's O(|V|·16)
    * state; the exact side is seed-CAP-bounded (≤ CalibrationSeedCap
    * seeds at ANY corpus size — the rate-only form measured 12.5× at 10×
    * data); the audit join is |seeds|×hops rows. */
  def anfCalibration(spark: SparkSession, dir: String): DataFrame = {
    val edges = NorthStarQueries.tradeEdges(spark, dir)
    // graph-member seeds only: the old sketch side was keyed on the
    // propagation's node set (trading nodes), so a non-trading seed was
    // dropped by the final inner join — filtering upfront preserves that
    // contract now that the sketch side derives from `dist` (below)
    val seeds = NorthStarQueries.calibrationSeeds(spark, dir)
      .join(edges.select(col("src").as("node")), Seq("node"), "left_semi")
    // exact per-seed ball sizes (self included: dist 0 rows count)
    val dist = graft.ops.Graph.seedDistances(edges, seeds, maxHops = 3)
    val exCols = (1 to 3).map(h =>
      sum(when(col("dist") <= h, 1L).otherwise(0L)).as(s"e$h"))
    val ex = dist.groupBy(col("seed").as("node"))
      .agg(exCols.head, exCols.tail: _*)
    val exact = (1 to 3).map(h =>
        ex.select(col("node"), lit(h.toLong).as("hop"),
          col(s"e$h").as("exact_n")))
      .reduce(_ unionByName _)
    // sketch estimates, restricted to seeds BEFORE the register fold
    // (the fold is the q163 integer HLL estimate, verbatim)
    val su = (0 until 16).map(i =>
      expr(s"shiftleft(CAST(1 AS BIGINT), 57 - r$i)")).reduce(_ + _)
    val vZeros = (0 until 16).map(i =>
      when(col(s"r$i") === 0, 1).otherwise(0)).reduce(_ + _)
    val estRaw = lit(0.673) * lit(256.0) * lit(144115188075855872.0) /
      col("_su").cast("double")
    val est = when(col("_est_raw") <= 40.0 && col("_v") > 0,
      lit(16.0) * log(lit(16.0) / col("_v").cast("double")))
      .otherwise(col("_est_raw"))
    // round-16 optimization: the seed sketches are computed FROM the exact
    // ball relation `dist` instead of running the full O(|V|·16)-state
    // propagation and discarding every non-seed row. Equality is the
    // anfSketches union-associativity contract (ops/Graph doc): h rounds of
    // neighbor max-merges EQUAL the register fold over the exact ≤h-hop
    // ball — which is exactly how the q166 oracle has always constructed
    // the sketch side (its `balls → hh → rk → regs` chain). Same element
    // hash, bucket, rank expressions as anfSketches' init; the register
    // fold below (su/vZeros/est) is the q163 integer HLL estimate,
    // verbatim. Measured: q166 11.4 s → ~6 s fresh-JVM median at sf0.1
    // (drops the 3 propagation rounds + their checkpoints over all nodes).
    // The propagation itself stays exercised at full-graph scale by q163.
    val hopsDf = (1 to 3).map(hh => dist.where(col("dist") <= hh)
        .select(col("seed"), lit(hh.toLong).as("hop"), col("node").as("_m")))
      .reduce(_ unionByName _)
    val ballRegs = hopsDf
      .withColumn("_h", graft.ops.PortableSketch.h60(
        concat(lit("anf:"), col("_m").cast("string"))))
      .withColumn("_b", pmod(col("_h"), lit(16L)))
      .withColumn("_v0", expr("_h div 16"))
      .withColumn("_rank", length(bin(expr("_v0 & -_v0"))).cast("int"))
      .select(Seq(col("seed").as("node"), col("hop")) ++ (0 until 16).map(i =>
        when(col("_b") === i, col("_rank")).otherwise(lit(0)).as(s"r$i")): _*)
    val sketch = ballRegs
      .groupBy("node", "hop")
      .agg(max("r0").as("r0"), (1 until 16).map(i => max(s"r$i").as(s"r$i")): _*)
      .withColumn("_su", su).withColumn("_v", vZeros)
      .withColumn("_est_raw", estRaw)
      .select(col("node"), col("hop"),
        round(lit(1e6) * est).cast("long").as("est_u"))
    sketch.join(broadcast(exact), Seq("node", "hop"))
      .withColumn("rel_u", expr("abs(est_u - exact_n * 1000000) div exact_n"))
      .groupBy("hop")
      .agg(count(lit(1)).as("n_seeds"), sum("exact_n").as("sum_exact"),
        round((sum("rel_u").cast("double") / count(lit(1))) / lit(1e6), 6)
          .as("mean_rel_err"),
        round(max("rel_u").cast("double") / lit(1e6), 6).as("max_rel_err"))
      .orderBy("hop")
  }

  /** The q166 oracle composes the two existing CTE families: q163's
    * register chain (restricted to seed nodes before the fold) and
    * q157's exact reach relation (restricted to seed origins). Quadratic
    * reach sets are oracle-scale-bounded by design (q163's argument). */
  private def q166OracleSql: String =
    (s"WITH RECURSIVE ${NorthStarQueries.tradeGraphCtes},\n" +
      """nodes AS (SELECT DISTINCT src AS node FROM edges),
        |r(node, reach, d) AS (
        |  SELECT node, node, 0 FROM nodes
        |  UNION
        |  SELECT e.dst, r.reach, r.d + 1 FROM r JOIN edges e ON e.src = r.node
        |  WHERE r.d < 3),
        |dmin AS (SELECT node, reach, min(d) AS d FROM r GROUP BY 1, 2),
        |__SD_CTE__,
        |hops(hop) AS (SELECT unnest([1, 2, 3])),
        |balls AS (SELECT hops.hop, dmin.node, dmin.reach
        |  FROM dmin JOIN hops ON dmin.d <= hops.hop
        |  WHERE dmin.node IN (SELECT node FROM sd)),
        |hh AS (SELECT hop, node, reach,
        |    ('0x' || substr(md5('anf:' || reach), 1, 15))::BIGINT AS h
        |  FROM balls),
        |rk AS (SELECT hop, node, h % 16 AS bucket,
        |    length(bin((h // 16) & (-(h // 16)))) AS rank
        |  FROM hh),
        |regs AS (SELECT hop, node, bucket, max(rank)::BIGINT AS r
        |  FROM rk GROUP BY 1, 2, 3),
        |su AS (SELECT hop, node,
        |    sum(1::BIGINT << (57 - r))::BIGINT
        |      + (16 - count(*)) * (1::BIGINT << 57) AS s_u,
        |    (16 - count(*))::BIGINT AS v
        |  FROM regs GROUP BY 1, 2),
        |est AS (SELECT hop, node,
        |    0.673 * 256.0 * 144115188075855872.0 / s_u::DOUBLE AS est_raw, v
        |  FROM su),
        |eu AS (SELECT hop, node,
        |    round(1000000.0 * (CASE WHEN est_raw <= 40.0 AND v > 0
        |      THEN 16.0 * ln(16.0 / v::DOUBLE) ELSE est_raw END))::BIGINT AS est_u
        |  FROM est),
        |exact AS (SELECT hops.hop, dmin.reach AS node, count(*)::BIGINT AS exact_n
        |  FROM dmin JOIN hops ON dmin.d <= hops.hop
        |  WHERE dmin.reach IN (SELECT node FROM sd)
        |  GROUP BY 1, 2),
        |j AS (SELECT e.hop, e.node, x.exact_n,
        |    (abs(e.est_u - x.exact_n * 1000000) // x.exact_n)::BIGINT AS rel_u
        |  FROM eu e JOIN exact x ON x.hop = e.hop AND x.node = e.node)
        |SELECT hop::BIGINT AS hop, count(*)::BIGINT AS n_seeds,
        |  sum(exact_n)::BIGINT AS sum_exact,
        |  round((sum(rel_u)::DOUBLE / count(*)) / 1000000.0, 6) AS mean_rel_err,
        |  round(max(rel_u)::DOUBLE / 1000000.0, 6) AS max_rel_err
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin)
      .replace("__SD_CTE__", NorthStarQueries.calibrationSeedCte)

  // --- q167: host-reputation composition -------------------------------------

  /** Deterministic host-graph edges: a document emits a link from its
    * canonical host to a content-hash-keyed partner host (the q162/q142
    * pinned-input discipline — derived from corpus columns, replayed
    * exactly by the oracle). The ~1/8 emission rate keeps the 20-node
    * graph SPARSE at oracle SF so 3-hop reach genuinely varies by host
    * (a doc_id-arithmetic partner is constant per host — source is
    * doc_id mod 20 — which degenerates the graph to one out-edge per
    * node); 20 == the corpus's source fan-out. */
  private def hostEdges(docs: DataFrame): DataFrame = {
    val h = graft.ops.PortableSketch.h60(concat(lit("q167:"), col("text")))
    docs.select(
        concat(col("source"), lit(".example.com")).as("src"),
        concat(lit("src"), (h % 20).cast("string"), lit(".example.com"))
          .as("dst"), h.as("_h"))
      .where(expr("(_h div 20) % 8 = 0"))
      .select("src", "dst").distinct()
  }

  /** q167 — HOST-REPUTATION composition: the per-domain keep/weight gate a
    * CC-style pipeline actually runs, composed from three green inputs —
    * q162's canonical host (via [[graft.ops.Urls.host]] over the messy
    * URL), q82's Gopher rule gate rolled up per HOST (quality), and
    * q157's harmonic centrality over a pinned host-link graph (every
    * doc-bearing host as a seed, 3 hops). Decision is pure integer: a
    * host keeps when ≥ 25% of its documents pass all four Gopher rules
    * (`qual_ok`) AND at least half the seed hosts reach it (`cent_ok`);
    * its mix weight is quality × centrality in micro-units. Scale shape:
    * quality is the q82 rollup re-keyed by host; the host graph is
    * |hosts|-bounded (domains, not documents — exactly why a real
    * pipeline gates at host level); the composition join is |hosts| rows,
    * broadcast. */
  def hostReputation(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val host = graft.ops.Urls.host(Round12Queries.messyUrl).as("host")
    // per-doc Gopher keep (the q82 rules, doc-grained), re-keyed by host.
    // host and the token array materialize as attributes BEFORE the
    // generator projection (the q78 explode-sibling trap: siblings of an
    // explode re-evaluate per output row — a regex host parse per TOKEN).
    val toks = Partitioning.spread(docs)
      .select(col("doc_id"), host, TextOps.tokens(col("text")).as("_ts"))
      .select(col("doc_id"), col("host"), explode(col("_ts")).as("w"))
    val byTok = toks.groupBy("doc_id", "host", "w")
      .agg(count(lit(1)).as("c"), sum(length(col("w"))).as("lensum"))
    val perDoc = byTok.groupBy("doc_id", "host").agg(
      sum("c").as("n"), sum("lensum").as("sumlen"),
      sum(when(col("w").isin("the", "a"), col("c")).otherwise(0L)).as("nstop"),
      max("c").as("mx"))
    val hq = perDoc.select(col("host"),
        (col("n").between(20, 90) &&
          col("sumlen") * 10 >= col("n") * 40 &&
          col("sumlen") * 10 <= col("n") * 50 &&
          col("nstop") * 10 <= col("n") &&
          col("mx") * 20 <= col("n") * 3).cast("long").as("_keep"))
      .groupBy("host")
      .agg(count(lit(1)).as("n_docs"), sum("_keep").as("n_keep"))
      .persist() // feeds the seed set AND the composition join
    // pinned host-link graph; seeds = the SeedCap smallest doc-bearing
    // hosts (every host at test SFs — 20 domains; the cap is what keeps
    // harmonicCentrality's (seed, node) state |V|-linear when the domain
    // count grows with the corpus). cent_ok's denominator is the SEED
    // count for the same reason — "half the seed hosts reach it" must not
    // dilute as |hosts| outgrows the cap.
    val edges = hostEdges(docs)
    val seeds = hq.select(col("host").as("node"))
      .orderBy("node").limit(NorthStarQueries.SeedCap)
    val cent = graft.ops.Graph.harmonicCentrality(edges, seeds, maxHops = 3)
      .select(col("node").as("host"), col("harmonic_u"), col("n_seeds_reached"))
    val nHosts = seeds.agg(count(lit(1)).as("_nh"))
    hq.join(broadcast(cent), Seq("host"), "left")
      .crossJoin(broadcast(nHosts))
      .select(col("host"), col("n_docs"), col("n_keep"),
        expr("n_keep * 1000000 div n_docs").as("qual_rate_u"),
        coalesce(col("harmonic_u"), lit(0L)).as("harmonic_u"),
        coalesce(col("n_seeds_reached"), lit(0L)).as("n_seeds_reached"),
        col("_nh"))
      .withColumn("qual_ok", col("qual_rate_u") >= 250000L)
      .withColumn("cent_ok", col("n_seeds_reached") * 2 >= col("_nh"))
      .withColumn("keep", col("qual_ok") && col("cent_ok"))
      .withColumn("weight_u",
        when(col("keep"),
          expr("(qual_rate_u * harmonic_u) div 1000000")).otherwise(lit(0L)))
      .drop("_nh")
      .orderBy("host")
  }

  private def q167OracleSql: String =
    """WITH RECURSIVE tk AS (SELECT doc_id,
      |    source || '.example.com' AS host,
      |    unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS w
      |  FROM documents),
      |c AS (SELECT doc_id, host, w, count(*) AS c, sum(len(w)) AS lensum
      |  FROM tk GROUP BY 1, 2, 3),
      |d AS (SELECT doc_id, host, sum(c) AS n, sum(lensum) AS sumlen,
      |    sum(CASE WHEN w IN ('the','a') THEN c ELSE 0 END) AS nstop,
      |    max(c) AS mx
      |  FROM c GROUP BY 1, 2),
      |hq AS (SELECT host, count(*)::BIGINT AS n_docs,
      |    sum(CASE WHEN n BETWEEN 20 AND 90
      |      AND sumlen*10 >= n*40 AND sumlen*10 <= n*50
      |      AND nstop*10 <= n AND mx*20 <= n*3 THEN 1 ELSE 0 END)::BIGINT AS n_keep
      |  FROM d GROUP BY 1),
      |eh AS (SELECT source || '.example.com' AS src,
      |    ('0x' || substr(md5('q167:' || text), 1, 15))::BIGINT AS h
      |  FROM documents),
      |edges AS (SELECT DISTINCT src, 'src' || (h % 20) || '.example.com' AS dst
      |  FROM eh WHERE (h // 20) % 8 = 0),
      |seeds AS (SELECT host AS node FROM hq ORDER BY node LIMIT __CAP__),
      |r(seed, node, dd) AS (
      |  SELECT node, node, 0 FROM seeds
      |  UNION
      |  SELECT r.seed, e.dst, r.dd + 1 FROM r JOIN edges e ON e.src = r.node
      |  WHERE r.dd < 3),
      |dist AS (SELECT seed, node, min(dd) AS dd FROM r GROUP BY 1, 2),
      |hc AS (SELECT node AS host, sum(1000000 // dd)::BIGINT AS harmonic_u,
      |    count(*)::BIGINT AS n_seeds_reached
      |  FROM dist WHERE dd >= 1 GROUP BY 1),
      |nh AS (SELECT count(*)::BIGINT AS n FROM seeds),
      |comp AS (SELECT h.host, h.n_docs, h.n_keep,
      |    (h.n_keep * 1000000 // h.n_docs)::BIGINT AS qual_rate_u,
      |    coalesce(hc.harmonic_u, 0)::BIGINT AS harmonic_u,
      |    coalesce(hc.n_seeds_reached, 0)::BIGINT AS n_seeds_reached
      |  FROM hq h LEFT JOIN hc USING (host))
      |SELECT host, n_docs, n_keep, qual_rate_u, harmonic_u, n_seeds_reached,
      |  qual_rate_u >= 250000 AS qual_ok,
      |  n_seeds_reached * 2 >= (SELECT n FROM nh) AS cent_ok,
      |  (qual_rate_u >= 250000 AND n_seeds_reached * 2 >= (SELECT n FROM nh)) AS keep,
      |  CASE WHEN qual_rate_u >= 250000 AND n_seeds_reached * 2 >= (SELECT n FROM nh)
      |    THEN (qual_rate_u * harmonic_u) // 1000000 ELSE 0 END::BIGINT AS weight_u
      |FROM comp ORDER BY host""".stripMargin
      .replace("__CAP__", NorthStarQueries.SeedCap.toString)

  // --- q168: phash banding recall audit ---------------------------------------

  /** q168 sample threshold (first md5 hex char): '8' = 50% at test SF.
    * The exact-truth side is all-pairs over the sample — the honest
    * quadratic audit term (the q98/q161 discipline); at 100 TB this
    * threshold is the lever (≲1% makes the audit a rounding error while
    * still measuring thousands of true pairs). */
  private val Q168SampleHex = "8"

  /** q168 — PERCEPTUAL-HASH banding recall audit: q161's S-curve
    * construction applied to the asset family. On a deterministic 50%
    * payload sample (plus the q127 replica stream — one-byte bumps of
    * src18/src19 payloads, so small-Hamming truth pairs exist at all),
    * compute exact Hamming distances over ALL same-modality pairs of
    * 64-bit perceptual hashes — an independent truth path that never
    * touches the banding — and measure, per distance d ≤ 6, what fraction
    * of true pairs the 4×16-bit banding actually catches. Pigeonhole says
    * catch = 1.0 for d ≤ 3 (`guaranteed`); d in 4..6 measures the decay
    * beyond the structural floor. The banding side replays q122's
    * construction UNCAPPED (the audit measures the banding family, not
    * the hot-bucket cap — the q63/q122 rule). Scale shape: only 8-byte
    * hashes shuffle; truth is sample²-bounded with the sample rate as the
    * documented lever; candidates are the production banding shape. */
  def phashRecallAudit(spark: SparkSession, dir: String): DataFrame = {
    graft.expr.GraftFunctions.ensureRegistered(spark)
    val base = table(spark, dir, "documents")
      .where(substring(md5(encode(concat(lit("q168"), col("text")), "UTF-8")),
        1, 1) < Q168SampleHex)
    // replica stream: '~' planted at 4 SPREAD positions (1 + j·(L div 4)),
    // one per hash-segment region — q127's single-byte bump almost never
    // crosses a segment-mean threshold (measured: hd 0 for every pair at
    // sf0.01), while the 4-spread edit lands truth pairs across hd 0..8,
    // which is the whole point of a per-distance recall measurement
    val step = expr("length(text) div 4")
    val edited = (0 to 3).foldLeft(col("text")) { (t, j) =>
      overlay(t, lit("~"), lit(j) * step + 1)
    }
    val replicas = base
      .where(col("source").isin("src18", "src19") && length(col("text")) >= 80)
      .withColumn("doc_id", col("doc_id") + 999999L)
      .withColumn("text", edited)
    val assets = Multimodal.fakeAssets(base.unionByName(replicas))
    val hashed = Partitioning.spread(assets)
      .select(col("asset_id").as("_id"), col("meta.modality").as("modality"),
        Multimodal.phashCol(coalesce(col("payload"),
          lit(Array.emptyByteArray))).as("_h"))
      .persist() // feeds the truth self-join AND the banding
    val truth = hashed
      .select(col("modality"), col("_id").as("idA"), col("_h").as("_hA"))
      .join(hashed.select(col("modality"), col("_id").as("idB"),
        col("_h").as("_hB")), Seq("modality"))
      .where(col("idA") < col("idB"))
      .withColumn("_hd", bit_count(col("_hA").bitwiseXOR(col("_hB"))))
      .where(col("_hd") <= 6)
    val banded = hashed.select(col("_id"), col("modality"),
        explode(array((0 until 4).map { j =>
          struct(lit(j).as("band"),
            shiftrightunsigned(col("_h"), 64 - 16 * (j + 1))
              .bitwiseAND(lit(0xFFFFL)).as("bits"))
        }: _*)).as("_b"))
      .select(col("_id"), col("modality"),
        col("_b.band").as("band"), col("_b.bits").as("bits"))
    val cand = banded.select(col("modality"), col("band"), col("bits"),
        col("_id").as("idA"))
      .join(banded.select(col("modality"), col("band"), col("bits"),
        col("_id").as("idB")), Seq("modality", "band", "bits"))
      .where(col("idA") < col("idB"))
      .select("idA", "idB").distinct()
      .withColumn("_hit", lit(1L))
    truth.join(cand, Seq("idA", "idB"), "left")
      .groupBy(col("_hd").cast("long").as("hamming_d"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(coalesce(col("_hit"), lit(0L))).as("n_caught"),
        round(sum(coalesce(col("_hit"), lit(0L))).cast("double") /
          count(lit(1)), 6).as("catch_rate"))
      .withColumn("guaranteed", col("hamming_d") <= 3)
      .orderBy("hamming_d")
  }

  /** q168 oracle: the q122 bit/band CTEs over the sampled+replica corpus,
    * exact truth from the all-pairs same-modality bit compare. */
  private def q168OracleSql: String =
    s"""WITH src AS (
       |  SELECT doc_id, text FROM documents
       |  WHERE substr(md5('q168' || text), 1, 1) < '$Q168SampleHex'
       |  UNION ALL
       |  SELECT doc_id + 999999,
       |    array_to_string(list_transform(range(1, length(text) + 1),
       |      pos -> CASE WHEN (pos - 1) % (length(text) // 4) = 0
       |                   AND (pos - 1) // (length(text) // 4) < 4
       |        THEN '~' ELSE text[pos] END), '')
       |  FROM documents
       |  WHERE substr(md5('q168' || text), 1, 1) < '$Q168SampleHex'
       |    AND source IN ('src18','src19') AND length(text) >= 80),
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
       |truth AS (SELECT a.asset_id AS x, b2.asset_id AS y,
       |    list_sum(list_transform(range(1, 65),
       |      i -> CASE WHEN a.bt[i] <> b2.bt[i] THEN 1 ELSE 0 END)) AS hd
       |  FROM bits a JOIN bits b2
       |    ON a.modality = b2.modality AND a.asset_id < b2.asset_id
       |  WHERE list_sum(list_transform(range(1, 65),
       |      i -> CASE WHEN a.bt[i] <> b2.bt[i] THEN 1 ELSE 0 END)) <= 6),
       |bands AS (SELECT asset_id, modality, j,
       |    list_sum(list_transform(range(0,16),
       |      k -> bt[16*j + k + 1] * (1 << (15 - k)))) AS bv
       |  FROM bits, unnest(range(0,4)) AS t(j)),
       |cand AS (SELECT DISTINCT a.asset_id AS x, b2.asset_id AS y
       |  FROM bands a JOIN bands b2
       |    ON a.modality = b2.modality AND a.j = b2.j AND a.bv = b2.bv
       |   AND a.asset_id < b2.asset_id),
       |per AS (SELECT t.hd, CASE WHEN c.x IS NOT NULL THEN 1 ELSE 0 END AS caught
       |  FROM truth t LEFT JOIN cand c ON c.x = t.x AND c.y = t.y)
       |SELECT hd::BIGINT AS hamming_d, count(*)::BIGINT AS n_pairs,
       |  sum(caught)::BIGINT AS n_caught,
       |  round(sum(caught)::DOUBLE / count(*), 6) AS catch_rate,
       |  hd <= 3 AS guaranteed
       |FROM per GROUP BY hd ORDER BY hd""".stripMargin

  // --- q169: CCNet composition — classifier-driven perplexity buckets --------

  /** q169 — the CCNet composition END TO END (Wenzek et al. 2020): q158's
    * integer NB language classifier (fit on the deterministic content-hash
    * HALF) predicts a language for EVERY document, and q164's per-language
    * bigram-LM perplexity terciles then run keyed on the PREDICTED
    * language — the honest pipeline shape (a real crawl has no labels; the
    * LM a document is scored under is whatever the classifier routed it
    * to, misroutes and all). Per (pred_lang, bucket): doc counts and
    * mean/max nlp. Each stage is individually green (q158, q164); this
    * query certifies the COMPOSITION, the q99 discipline. Scale shapes
    * compose unchanged: NB model broadcast + one doc-keyed agg for
    * prediction, vocab²-per-lang count tables + the two-pass rank for the
    * terciles. */
  /** q169's model hand-off directory: unique PER JVM (the loaded model is
    * a lazy parquet scan read by the returned plan, so the dir must
    * outlive the query — but a fixed world-shared /tmp path let two
    * concurrent Verify/Bench/Fuzz JVMs clobber each other mid-read, and
    * was predictable on multi-user hosts). Re-runs inside one JVM
    * overwrite sequentially (no concurrent self-read); a shutdown hook
    * removes the tree. */
  private lazy val q169ModelDir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_q169_langid_model_")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(d.toFile)
    }))
    d.toAbsolutePath.toString
  }

  def ccnetComposition(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val isTrain =
      substring(md5(encode(concat(lit("q169"), col("text")), "UTF-8")), 1, 1) < "8"
    val (fitModel, fitStats) =
      graft.ops.LangId.fit(docs.where(isTrain), "text", "lang", n = 3)
    // stage hand-off: persist the fitted model as parquet and score from
    // the LOADED copy (LangId.saveModel/loadModel) — the composed pipeline
    // reuses one fit instead of re-evaluating the fit plan inside the
    // stats collect AND the likelihood pivot; integer micro-units
    // round-trip parquet exactly, so results are unchanged. In production
    // the saved model is the artifact a separate scoring job (or the
    // streaming mirror via StreamingLangId.modelFromSaved) starts from.
    graft.ops.LangId.saveModel(fitModel, fitStats, q169ModelDir)
    val (model, langStats) = graft.ops.LangId.loadModel(spark, q169ModelDir)
    // round-17 kernel fusion (guide §4): the fused LangIdPredict projection
    // annotates the docs IN PLACE — no doc-gram explode, no scoring join of
    // pred back onto the texts (predict is now a map of the same rows, and
    // doc_id is unique, so join-on-id ≡ in-place projection; null-text docs
    // are dropped exactly as the old inner join on the aggregate did).
    // persist: the tercile machinery reads the routed frame THREE times
    // (bigram counts, per-lang vocab, the unscored anti-join) — unpersisted,
    // each read re-runs the scoring pass. Ownership: Verify/Bench clear
    // caches per query.
    val predCol = graft.ops.LangId.predictColumn(col("text"), n = 3,
      model = model, langStats = langStats)
    val routed = Partitioning.spread(
        docs.where(col("text").isNotNull).select(col("doc_id"), col("text")))
      .select(col("doc_id"), predCol.as("lang"), col("text"))
      .persist()
    Round12Queries.perplexityBucketsOver(spark, routed)
      .withColumnRenamed("lang", "pred_lang")
  }

  /** q169 oracle: the q158 fit/score chain (salt 'q169', scoring ALL
    * documents) feeding the q164 LM/tercile chain keyed on the predicted
    * language. */
  private def q169OracleSql: String =
    """WITH sp AS (SELECT doc_id, lang, text, lower(text) AS t,
      |    substr(md5('q169' || text), 1, 1) < '8' AS is_train FROM documents),
      |trg AS (SELECT lang, unnest(CASE WHEN length(t) < 3 THEN [t]
      |    ELSE [substr(t, i, 3) for i in range(1, length(t) - 1)] END) AS g
      |  FROM sp WHERE is_train),
      |lg AS (SELECT lang, ('0x' || substr(md5(g), 1, 15))::BIGINT AS h,
      |    count(*)::BIGINT AS c FROM trg GROUP BY 1, 2),
      |tot AS (SELECT lang, sum(c)::BIGINT AS tot FROM lg GROUP BY 1),
      |vv AS (SELECT count(DISTINCT h)::BIGINT AS v FROM lg),
      |nd AS (SELECT lang, count(*)::BIGINT AS nl FROM sp WHERE is_train GROUP BY 1),
      |nn AS (SELECT count(*)::BIGINT AS n FROM sp WHERE is_train),
      |mult AS (SELECT min(1::BIGINT << g.g) AS m FROM generate_series(0, 30) g(g)
      |  WHERE (1::BIGINT << g.g) >= (SELECT count(*) FROM nd)),
      |ls AS (SELECT t.lang,
      |    (ROW_NUMBER() OVER (ORDER BY t.lang) - 1)::BIGINT AS lang_idx,
      |    round(1000000.0 * ln(nd.nl::DOUBLE / (SELECT n FROM nn)))::BIGINT AS prior_u,
      |    round(1000000.0 * ln(1.0 / (t.tot + (SELECT v FROM vv))))::BIGINT AS oov_llu,
      |    (t.tot + (SELECT v FROM vv)) AS denom
      |  FROM tot t JOIN nd ON nd.lang = t.lang),
      |model AS (SELECT lg.h, lg.lang,
      |    round(1000000.0 * ln((lg.c + 1)::DOUBLE / ls.denom))::BIGINT AS llu
      |  FROM lg JOIN ls USING (lang)),
      |teg AS (SELECT doc_id, unnest(CASE WHEN length(t) < 3 THEN [t]
      |    ELSE [substr(t, i, 3) for i in range(1, length(t) - 1)] END) AS g
      |  FROM sp),
      |dgc AS (SELECT doc_id, ('0x' || substr(md5(g), 1, 15))::BIGINT AS h,
      |    count(*)::BIGINT AS cnt FROM teg GROUP BY 1, 2),
      |contrib AS (SELECT d.doc_id, ls.lang, ls.lang_idx, ls.prior_u,
      |    d.cnt * coalesce(m.llu, ls.oov_llu) AS x
      |  FROM dgc d CROSS JOIN ls
      |  LEFT JOIN model m ON m.h = d.h AND m.lang = ls.lang),
      |scr AS (SELECT doc_id, lang,
      |    ((prior_u + sum(x)) * (SELECT m FROM mult) - lang_idx)::BIGINT AS key
      |  FROM contrib GROUP BY doc_id, lang, lang_idx, prior_u),
      |pr AS (SELECT doc_id, max_by(lang, key) AS pred FROM scr GROUP BY 1),
      |rdocs AS (SELECT sp.doc_id, pr.pred AS lang, sp.text
      |  FROM sp JOIN pr USING (doc_id)),
      |tk AS (SELECT doc_id, lang,
      |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS ts
      |  FROM rdocs),
      |toks AS (SELECT doc_id, lang, unnest(ts) AS w,
      |    unnest(generate_series(1, len(ts))) AS pos FROM tk),
      |big AS (SELECT doc_id, lang, w AS w1,
      |    lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2 FROM toks),
      |bg AS (SELECT doc_id, lang, w1, w2, count(*)::BIGINT AS n FROM big
      |  WHERE w2 IS NOT NULL GROUP BY 1, 2, 3, 4),
      |c2 AS (SELECT lang, w1, w2, sum(n)::BIGINT AS c2 FROM bg GROUP BY 1, 2, 3),
      |c1 AS (SELECT lang, w1, sum(n)::BIGINT AS c1 FROM bg GROUP BY 1, 2),
      |v AS (SELECT lang, count(DISTINCT w)::BIGINT AS v FROM toks GROUP BY 1),
      |sc AS (SELECT bg.doc_id, bg.lang,
      |    sum(bg.n * round(1000000.0 * -ln((c2.c2 + 0.5) /
      |      (c1.c1 + 0.5 * v.v)))::BIGINT)::BIGINT AS sum_u,
      |    sum(bg.n)::BIGINT AS nb
      |  FROM bg JOIN c2 USING (lang, w1, w2) JOIN c1 USING (lang, w1)
      |    JOIN v USING (lang)
      |  GROUP BY 1, 2),
      |avgs AS (SELECT doc_id, lang, sum_u // nb AS avg_u FROM sc),
      |rk AS (SELECT lang, avg_u,
      |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY avg_u, doc_id) AS r,
      |    count(*) OVER (PARTITION BY lang) AS nl FROM avgs),
      |bk AS (SELECT lang, avg_u,
      |    CASE WHEN 3 * (r - 1) < nl THEN 'head'
      |         WHEN 3 * (r - 1) < 2 * nl THEN 'middle'
      |         ELSE 'tail' END AS bucket FROM rk),
      |so AS (SELECT lang, bucket, count(*)::BIGINT AS n_docs,
      |    round((sum(avg_u)::DOUBLE / count(*)) / 1000000.0, 6) AS mean_nlp,
      |    round(max(avg_u)::DOUBLE / 1000000.0, 6) AS max_nlp
      |  FROM bk GROUP BY 1, 2),
      |uns AS (SELECT d.lang, 'unscored' AS bucket, count(*)::BIGINT AS n_docs,
      |    NULL::DOUBLE AS mean_nlp, NULL::DOUBLE AS max_nlp
      |  FROM rdocs d
      |  WHERE NOT EXISTS (SELECT 1 FROM avgs a WHERE a.doc_id = d.doc_id)
      |  GROUP BY 1)
      |SELECT lang AS pred_lang, bucket, n_docs, mean_nlp, max_nlp FROM so
      |UNION ALL
      |SELECT lang AS pred_lang, bucket, n_docs, mean_nlp, max_nlp FROM uns
      |ORDER BY pred_lang, bucket""".stripMargin

  // --- q170: reputation-weighted selection ------------------------------------

  /** q170 — APPLY the q167 host gate: reject documents of non-keep hosts
    * outright, then sample the keepers at rates PROPORTIONAL to their
    * host's reputation weight, targeting half the kept corpus — the
    * mixing step a CC-style pipeline runs off its domain table (q167
    * decides, q170 selects; the q99 composition discipline). Rates are
    * pure integer: per host, a 16-bit threshold `t = min(65536,
    * (weight_u · 32768 · n_kept_total) div Σ_keep(weight_u · n_docs))` and
    * a document survives iff its content-hash 16-bit value falls under
    * its host's threshold (the q99/q92 content-hash Bernoulli — re-runs
    * and engines agree row-for-row). Per host: docs, weight, threshold,
    * sampled count. Scale: the reputation table is |hosts| rows and
    * broadcasts; selection is one scan-side hash compare. */
  def reputationSelect(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val hr = hostReputation(spark, dir)
      .select("host", "n_docs", "keep", "weight_u")
      .persist() // |hosts| rows, read for the weight total AND the join
    val tot = hr.where(col("keep"))
      .agg(sum(col("weight_u") * col("n_docs")).as("_wsum"),
        sum("n_docs").as("_nkept"))
    val rates = hr.crossJoin(broadcast(tot))
      .select(col("host"), col("n_docs"), col("keep"), col("weight_u"),
        when(!col("keep") || coalesce(col("_wsum"), lit(0L)) <= 0L, lit(0L))
          .otherwise(least(lit(65536L),
            expr("(weight_u * 32768 * _nkept) div _wsum"))).as("t_u"))
    val sampled = docs
      .select(graft.ops.Urls.host(Round12Queries.messyUrl).as("host"),
        conv(substring(md5(encode(concat(lit("q170"), col("text")), "UTF-8")),
          1, 4), 16, 10).cast("long").as("_hv"))
      .join(broadcast(rates.select("host", "t_u")), Seq("host"))
      .where(col("_hv") < col("t_u"))
      .groupBy("host").agg(count(lit(1)).as("n_sampled"))
    rates.join(sampled, Seq("host"), "left")
      .select(col("host"), col("n_docs"), col("keep"), col("weight_u"),
        col("t_u"), coalesce(col("n_sampled"), lit(0L)).as("n_sampled"))
      .orderBy("host")
  }

  /** q170 oracle: the q167 composition CTEs + the content-hash Bernoulli. */
  private def q170OracleSql: String = {
    val q167Body = q167OracleSql
      .replace("SELECT host, n_docs, n_keep, qual_rate_u,",
        ",rep AS (SELECT host, n_docs, n_keep, qual_rate_u,")
      .replace("FROM comp ORDER BY host", "FROM comp)")
    s"""$q167Body,
       |tot AS (SELECT sum(weight_u * n_docs)::BIGINT AS wsum,
       |    sum(n_docs)::BIGINT AS nkept FROM rep WHERE keep),
       |rates AS (SELECT host, n_docs, keep, weight_u,
       |    CASE WHEN NOT keep OR coalesce((SELECT wsum FROM tot), 0) <= 0 THEN 0
       |      ELSE least(65536, (weight_u * 32768 * (SELECT nkept FROM tot))
       |        // (SELECT wsum FROM tot)) END::BIGINT AS t_u
       |  FROM rep),
       |dh AS (SELECT source || '.example.com' AS host,
       |    ('0x' || substr(md5('q170' || text), 1, 4))::BIGINT AS hv
       |  FROM documents),
       |smp AS (SELECT dh.host, count(*)::BIGINT AS n_sampled
       |  FROM dh JOIN rates USING (host) WHERE dh.hv < rates.t_u GROUP BY 1)
       |SELECT r.host, r.n_docs, r.keep, r.weight_u, r.t_u,
       |  coalesce(s.n_sampled, 0)::BIGINT AS n_sampled
       |FROM rates r LEFT JOIN smp s USING (host) ORDER BY r.host""".stripMargin
  }

  // --- q171: content-defined chunk dedup --------------------------------------

  /** q171 — CONTENT-DEFINED chunk dedup ([[graft.ops.TextOps.cdcChunks]]):
    * the insertion-robust member of the dedup family. q105's fixed
    * 20-token tiles miss every duplicate downstream of an insertion (one
    * added token shifts every tile boundary); CDC boundaries are a
    * function of content, so chunks RE-SYNCHRONIZE at the next surviving
    * boundary and everything after an edit dedups exactly. The corpus
    * plants a prefix-shift replica stream (src18/src19 docs with a
    * 16-char prefix — the offset-shifting edit fixed tiles are blind to)
    * so the property is a measured number, not a claim: those sources'
    * dup rates jump while the others stay at the corpus's natural rate.
    * Per source: docs, chunks, globally-duplicated chunks, dup rate, mean
    * chunk length. Scale: candidate scan is codegen'd per-row arithmetic;
    * only (source, 8-byte digest, len) rows shuffle; the dup join keys on
    * the digest. */
  /** The shared q171/q173 corpus: documents + the prefix-shift replica
    * stream (the offset-shifting edit fixed tiles are blind to). */
  private def cdcCorpus(spark: SparkSession, dir: String): DataFrame = {
    val docs = Partitioning.spread(table(spark, dir, "documents"))
    val replicas = docs
      .where(col("source").isin("src18", "src19") && length(col("text")) > 0)
      .withColumn("doc_id", col("doc_id") + 999999L)
      .withColumn("text", concat(lit("PFX0123456789XX "), col("text")))
    docs.unionByName(replicas)
  }

  def cdcChunkDedup(spark: SparkSession, dir: String): DataFrame = {
    val chunks = graft.ops.TextOps.cdcChunks(cdcCorpus(spark, dir),
        "text", Seq("doc_id", "source"))
      .persist() // feeds the global hash counts AND the per-source rollup
    val counts = chunks.groupBy("_h").agg(count(lit(1)).as("_n"))
    chunks.join(counts, Seq("_h"))
      .groupBy("source")
      .agg(count_distinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_chunks"),
        sum(when(col("_n") >= 2, 1L).otherwise(0L)).as("n_dup_chunks"),
        round(sum(when(col("_n") >= 2, 1L).otherwise(0L)).cast("double") /
          count(lit(1)), 6).as("dup_rate"),
        round(sum("chunk_len").cast("double") / count(lit(1)), 6)
          .as("mean_chunk_len"))
      .orderBy("source")
  }

  /** q171 oracle: the CDC boundary rule replayed per position (candidate
    * windows → greedy min-length fold via the chr-joined-string
    * list_reduce accumulator, the q117 trick — DuckDB's fold accumulator
    * must share the element type) and the same global-dup rollup. */
  private def q171OracleSql: String =
    s"""WITH RECURSIVE $cdcOracleCtes,
       |cnt AS (SELECT h, count(*) AS n FROM hk GROUP BY 1)
       |SELECT source, count(DISTINCT doc_id)::BIGINT AS n_docs,
       |  count(*)::BIGINT AS n_chunks,
       |  sum(CASE WHEN cnt.n >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_dup_chunks,
       |  round(sum(CASE WHEN cnt.n >= 2 THEN 1 ELSE 0 END)::DOUBLE / count(*), 6) AS dup_rate,
       |  round(sum(clen)::DOUBLE / count(*), 6) AS mean_chunk_len
       |FROM hk JOIN cnt USING (h) GROUP BY 1 ORDER BY 1""".stripMargin

  /** The shared CDC oracle chain (q171/q173 over the replica-extended
    * corpus, q174 over plain documents): per-position candidates, the
    * greedy fold, chunk spans and digests — ends at
    * `hk(doc_id, source, clen, h)`. */
  private def cdcOracleCtes: String = cdcOracleCtesFor(
    """SELECT doc_id, source, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 999999, source, 'PFX0123456789XX ' || text
      |  FROM documents WHERE source IN ('src18','src19') AND length(text) > 0""".stripMargin)

  /** private[operators]: q186's template inventory replays the SAME chain
    * over its planted-header src — one definition of the CDC boundary rule
    * for every oracle that needs it (a silent constant/rule divergence
    * between the q171-family and q186 would otherwise only surface as a
    * hash mismatch). */
  /** Callers must open with `WITH RECURSIVE`: the greedy min-length fold
    * is a recursive CTE stepping one candidate per round. It replaced a
    * `list_reduce` string-accumulator fold after tools/fuzz_diff.py caught
    * DuckDB 1.0 mis-folding one row when the lambda runs over a full
    * multi-row vector (correct under a one-row filter, wrong values that
    * appear in NO row's candidate list otherwise) — the recursive form is
    * plain relational algebra with no lambda state to misalign. */
  private[operators] def cdcOracleCtesFor(srcSql: String): String = {
    val (w, mask, minLen) = (graft.ops.TextOps.CdcW,
      graft.ops.TextOps.CdcMask, graft.ops.TextOps.CdcMinLen)
    s"""src AS ($srcSql),
       |c AS (SELECT doc_id, source, text AS t, length(text) AS L FROM src),
       |cd AS (SELECT doc_id, source, t, L,
       |    CASE WHEN L >= $w THEN list_filter(list_transform(range($w, L + 1),
       |        i -> CASE WHEN ('0x' || substr(md5(substr(t, i - ${w - 1}, $w)), 1, 15))::BIGINT % $mask = 0 THEN i END),
       |      x -> x IS NOT NULL) ELSE CAST([] AS BIGINT[]) END AS cands
       |  FROM c),
       |fold(doc_id, source, k, lastb, acc) AS (
       |  SELECT doc_id, source, 0::BIGINT, 0::BIGINT, CAST([] AS BIGINT[]) FROM cd
       |  UNION ALL
       |  SELECT f.doc_id, f.source, f.k + 1,
       |    CASE WHEN cd.cands[(f.k + 1)::INT] - f.lastb >= $minLen
       |      THEN cd.cands[(f.k + 1)::INT] ELSE f.lastb END,
       |    CASE WHEN cd.cands[(f.k + 1)::INT] - f.lastb >= $minLen
       |      THEN list_append(f.acc, cd.cands[(f.k + 1)::INT]) ELSE f.acc END
       |  FROM fold f JOIN cd ON cd.doc_id = f.doc_id AND cd.source = f.source
       |  WHERE f.k < len(cd.cands)),
       |bsr AS (SELECT f.doc_id, f.source, cd.t, cd.L, f.acc FROM fold f
       |  JOIN cd ON cd.doc_id = f.doc_id AND cd.source = f.source
       |  WHERE f.k = len(cd.cands)),
       |en AS (SELECT doc_id, source, t,
       |    CASE WHEN L > coalesce(acc[-1], 0)
       |      THEN list_append(acc, L::BIGINT) ELSE acc END AS ends
       |  FROM bsr),
       |ch AS (SELECT doc_id, source,
       |    CASE WHEN u.i = 1 THEN 0 ELSE ends[u.i - 1] END AS s0, ends[u.i] AS e0, t
       |  FROM en, unnest(generate_series(1, len(ends))) AS u(i)),
       |hk AS (SELECT doc_id, source, e0 - s0 AS clen,
       |    ('0x' || substr(md5(substr(t, s0 + 1, e0 - s0)), 1, 15))::BIGINT AS h
       |  FROM ch)""".stripMargin
  }

  // --- q172: curriculum shard packing -----------------------------------------

  /** Shared q172 constant (Spark + oracle): tokens per shard. */
  private val CurriculumBudget = 2000L

  /** q172 — CURRICULUM shard packing: the q160 prefix-sum next-fit writer
    * with the epoch order keyed by q164's quality terciles — head documents
    * pack into the earliest shards, then middle, tail, and finally the
    * unscored lane, with the content-hash order inside each bucket (the
    * q94/q160 key). This is curriculum learning's data-prep step: a
    * training reader walking shard 0,1,2,… sees quality-descending data
    * with exact, replayable boundaries. Per shard: docs, tokens, the
    * bucket MIX (how many head/middle/tail/unscored — the transition
    * shards show the split), and the position span. Composition of two
    * green ops (q164 grain + q160 packing — the q99 discipline); all
    * integer arithmetic end to end. */
  def curriculumPacking(spark: SparkSession, dir: String): DataFrame = {
    val docs = Partitioning.spread(table(spark, dir, "documents"))
    val db = Round12Queries.perplexityDocBuckets(spark, docs)
    val keyed = db.join(
        docs.select(col("doc_id"),
          TextOps.tokenCount(col("text")).cast("long").as("tokens"),
          graft.ops.PortableSketch.h60(concat(lit("ord:"), col("text")))
            .as("_ord")),
        Seq("doc_id"))
      .withColumn("_b",
        when(col("bucket") === "head", 0L)
          .when(col("bucket") === "middle", 1L)
          .when(col("bucket") === "tail", 2L).otherwise(3L))
    graft.ops.Layout.shardAssign(keyed,
        Seq(col("_b"), col("_ord"), col("doc_id")), col("tokens"),
        budget = CurriculumBudget)
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("tokens").as("sum_tokens"),
        sum(when(col("_b") === 0L, 1L).otherwise(0L)).as("n_head"),
        sum(when(col("_b") === 1L, 1L).otherwise(0L)).as("n_middle"),
        sum(when(col("_b") === 2L, 1L).otherwise(0L)).as("n_tail"),
        sum(when(col("_b") === 3L, 1L).otherwise(0L)).as("n_unscored"),
        min("pos").as("first_pos"), max("pos").as("last_pos"))
      .orderBy("shard")
  }

  /** q172 oracle: the q164 per-doc bucket CTEs feeding the q160 prefix-sum
    * next-fit rule, with the bucket index leading the order key. */
  private def q172OracleSql: String =
    s"""WITH tk AS (SELECT doc_id, lang,
       |    list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS ts
       |  FROM documents),
       |toks AS (SELECT doc_id, lang, unnest(ts) AS w,
       |    unnest(generate_series(1, len(ts))) AS pos FROM tk),
       |big AS (SELECT doc_id, lang, w AS w1,
       |    lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2 FROM toks),
       |bg AS (SELECT doc_id, lang, w1, w2, count(*)::BIGINT AS n FROM big
       |  WHERE w2 IS NOT NULL GROUP BY 1, 2, 3, 4),
       |c2 AS (SELECT lang, w1, w2, sum(n)::BIGINT AS c2 FROM bg GROUP BY 1, 2, 3),
       |c1 AS (SELECT lang, w1, sum(n)::BIGINT AS c1 FROM bg GROUP BY 1, 2),
       |v AS (SELECT lang, count(DISTINCT w)::BIGINT AS v FROM toks GROUP BY 1),
       |sc AS (SELECT bg.doc_id, bg.lang,
       |    sum(bg.n * round(1000000.0 * -ln((c2.c2 + 0.5) /
       |      (c1.c1 + 0.5 * v.v)))::BIGINT)::BIGINT AS sum_u,
       |    sum(bg.n)::BIGINT AS nb
       |  FROM bg JOIN c2 USING (lang, w1, w2) JOIN c1 USING (lang, w1)
       |    JOIN v USING (lang)
       |  GROUP BY 1, 2),
       |avgs AS (SELECT doc_id, lang, sum_u // nb AS avg_u FROM sc),
       |rk AS (SELECT doc_id, lang, avg_u,
       |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY avg_u, doc_id) AS r,
       |    count(*) OVER (PARTITION BY lang) AS nl FROM avgs),
       |bk AS (SELECT doc_id,
       |    CASE WHEN 3 * (r - 1) < nl THEN 0
       |         WHEN 3 * (r - 1) < 2 * nl THEN 1
       |         ELSE 2 END AS b FROM rk),
       |db AS (SELECT d.doc_id, coalesce(bk.b, 3) AS b,
       |    len(list_filter(string_split_regex(d.text, '\\s+'), x -> x <> ''))::BIGINT AS tokens,
       |    ('0x' || substr(md5('ord:' || d.text), 1, 15))::BIGINT AS ord
       |  FROM documents d LEFT JOIN bk USING (doc_id)),
       |p AS (SELECT b, tokens,
       |    ROW_NUMBER() OVER (ORDER BY b, ord, doc_id) AS pos,
       |    (sum(tokens) OVER (ORDER BY b, ord, doc_id ROWS UNBOUNDED PRECEDING)
       |      - tokens)::BIGINT AS cumb
       |  FROM db)
       |SELECT (cumb // $CurriculumBudget)::BIGINT AS shard,
       |  count(*)::BIGINT AS n_docs, sum(tokens)::BIGINT AS sum_tokens,
       |  sum(CASE WHEN b = 0 THEN 1 ELSE 0 END)::BIGINT AS n_head,
       |  sum(CASE WHEN b = 1 THEN 1 ELSE 0 END)::BIGINT AS n_middle,
       |  sum(CASE WHEN b = 2 THEN 1 ELSE 0 END)::BIGINT AS n_tail,
       |  sum(CASE WHEN b = 3 THEN 1 ELSE 0 END)::BIGINT AS n_unscored,
       |  min(pos)::BIGINT AS first_pos, max(pos)::BIGINT AS last_pos
       |FROM p GROUP BY 1 ORDER BY 1""".stripMargin

  // --- q173: chunk-containment near-dups ---------------------------------------

  /** Shared q173 constants (Spark + oracle): a chunk hash held by more than
    * `MaxChunkDocs` documents is boilerplate and never forms pairs (the
    * hot-bucket discipline — here part of the SEMANTICS, replayed by the
    * oracle, because a crawl's template chunks would otherwise pair every
    * page of a site with every other); pairs need at least `MinShared`
    * shared chunks and containment ≥ 0.5. */
  private val MaxChunkDocs = 16
  private val MinShared = 2

  /** q173 — chunk-CONTAINMENT near-dups: the document-pair relation over
    * q171's content-defined chunks — `containment = |shared chunks| /
    * min(|A|, |B|)`, the asymmetric-duplicate measure n-gram Jaccard
    * (q24/q63) underestimates by construction (a document embedded whole
    * in a longer one has low Jaccard but containment ≈ 1), and exactly
    * the relation the prefix-shift replicas light up (each replica
    * contains its original). Candidates come from an inverted index on
    * chunk digests with the boilerplate cap above — no all-pairs stage
    * anywhere. Scale: the index rows are (8-byte digest, id); pair
    * formation is digest-keyed; per-chunk fan-out is capped at
    * MaxChunkDocs² pairs. */
  def cdcContainment(spark: SparkSession, dir: String): DataFrame = {
    val chunkSets = graft.ops.TextOps.cdcChunks(cdcCorpus(spark, dir),
        "text", Seq("doc_id"))
      .select("doc_id", "_h").distinct()
      .persist() // feeds sizes, the rarity filter, and both pair sides
    val sizes = chunkSets.groupBy("doc_id").agg(count(lit(1)).as("_sz"))
    val rare = chunkSets.groupBy("_h").agg(count(lit(1)).as("_d"))
      .where(col("_d").between(2, MaxChunkDocs))
      .select("_h")
    // persist: BOTH pair sides read this frame (the rare-filter join would
    // otherwise run twice). Ownership: Verify/Bench clear per query.
    val indexed = chunkSets.join(rare, Seq("_h")).persist()
    val pairs = indexed.select(col("_h"), col("doc_id").as("idA"))
      .join(indexed.select(col("_h"), col("doc_id").as("idB")), Seq("_h"))
      .where(col("idA") < col("idB"))
      .groupBy("idA", "idB").agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= MinShared)
    pairs
      .join(sizes.select(col("doc_id").as("idA"), col("_sz").as("_sa")), Seq("idA"))
      .join(sizes.select(col("doc_id").as("idB"), col("_sz").as("_sb")), Seq("idB"))
      .withColumn("containment",
        round(col("n_shared").cast("double") / least(col("_sa"), col("_sb")), 6))
      .where(col("containment") >= 0.5)
      .select("idA", "idB", "n_shared", "containment")
      .orderBy("idA", "idB")
  }

  private def q173OracleSql: String =
    s"""WITH RECURSIVE $cdcOracleCtes,
       |cs AS (SELECT DISTINCT doc_id, h FROM hk),
       |sz AS (SELECT doc_id, count(*)::BIGINT AS sz FROM cs GROUP BY 1),
       |rare AS (SELECT h FROM (SELECT h, count(*) AS d FROM cs GROUP BY 1)
       |  WHERE d BETWEEN 2 AND $MaxChunkDocs),
       |ix AS (SELECT cs.doc_id, cs.h FROM cs JOIN rare USING (h)),
       |pr AS (SELECT a.doc_id AS idA, b.doc_id AS idB, count(*)::BIGINT AS n_shared
       |  FROM ix a JOIN ix b ON a.h = b.h AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2 HAVING count(*) >= $MinShared)
       |SELECT idA, idB, n_shared,
       |  round(n_shared::DOUBLE / least(sa.sz, sb.sz), 6) AS containment
       |FROM pr JOIN sz sa ON sa.doc_id = pr.idA JOIN sz sb ON sb.doc_id = pr.idB
       |WHERE round(n_shared::DOUBLE / least(sa.sz, sb.sz), 6) >= 0.5
       |ORDER BY idA, idB""".stripMargin

  // --- q174: CDC-novelty incremental admission ---------------------------------

  /** q174 — chunk-NOVELTY admission: the q76/q123 incremental-ingest shape
    * at the content-defined chunk grain. The daily batch (src18/src19, the
    * house convention) is screened against the standing corpus's distinct
    * chunk-digest index: per batch document, how many of its chunks the
    * corpus has already seen, `novelty_u = (n − n_seen)·1e6 div n`, admit
    * iff at least half its chunks are new (`2·(n − n_seen) ≥ n`, pure
    * integer) — RefinedWeb's duplicated-content fraction as an admission
    * gate, robust to the offset-shifting edits that defeat tile- and
    * whole-hash admission. Scale: corpus×corpus is NEVER formed — the
    * corpus contributes one distinct digest index (the standing state a
    * real ingest keeps materialized) and the screen is one batch-side
    * left-semi join; steady-state cost ∝ batch. */
  def cdcAdmit(spark: SparkSession, dir: String): DataFrame = {
    val docs = Partitioning.spread(table(spark, dir, "documents"))
    val isBatch = col("source").isin("src18", "src19")
    val corpusIdx = graft.ops.TextOps.cdcChunks(docs.where(!isBatch),
        "text", Seq("doc_id"))
      .select("_h").distinct()
    // persist: per-doc chunk sets feed the totals AND the seen counts
    val batchChunks = graft.ops.TextOps.cdcChunks(docs.where(isBatch),
        "text", Seq("doc_id"))
      .select("doc_id", "_h").distinct()
      .persist()
    val totals = batchChunks.groupBy("doc_id").agg(count(lit(1)).as("n_chunks"))
    val seen = batchChunks.join(corpusIdx, Seq("_h"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_seen"))
    totals.join(seen, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"),
        coalesce(col("n_seen"), lit(0L)).as("n_seen"))
      .withColumn("novelty_u",
        expr("(n_chunks - n_seen) * 1000000 div n_chunks"))
      .withColumn("admit", expr("2 * (n_chunks - n_seen) >= n_chunks"))
      .orderBy("doc_id")
  }

  private def q174OracleSql: String =
    s"""WITH RECURSIVE ${cdcOracleCtesFor("SELECT doc_id, source, text FROM documents")},
       |cidx AS (SELECT DISTINCT h FROM hk WHERE source NOT IN ('src18','src19')),
       |bch AS (SELECT DISTINCT doc_id, h FROM hk WHERE source IN ('src18','src19')),
       |tot AS (SELECT doc_id, count(*)::BIGINT AS n_chunks FROM bch GROUP BY 1),
       |sn AS (SELECT doc_id, count(*)::BIGINT AS n_seen FROM bch
       |  WHERE h IN (SELECT h FROM cidx) GROUP BY 1)
       |SELECT t.doc_id, t.n_chunks, coalesce(sn.n_seen, 0)::BIGINT AS n_seen,
       |  ((t.n_chunks - coalesce(sn.n_seen, 0)) * 1000000 // t.n_chunks)::BIGINT
       |    AS novelty_u,
       |  2 * (t.n_chunks - coalesce(sn.n_seen, 0)) >= t.n_chunks AS admit
       |FROM tot t LEFT JOIN sn USING (doc_id) ORDER BY t.doc_id""".stripMargin

  val all: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q165_byte_bpe" -> (byteBpe _),
    "q166_anf_calibration" -> (anfCalibration _),
    "q167_host_reputation" -> (hostReputation _),
    "q168_phash_recall" -> (phashRecallAudit _),
    "q169_ccnet_composition" -> (ccnetComposition _),
    "q170_reputation_select" -> (reputationSelect _),
    "q171_cdc_chunk_dedup" -> (cdcChunkDedup _),
    "q172_curriculum_packing" -> (curriculumPacking _),
    "q173_cdc_containment" -> (cdcContainment _),
    "q174_cdc_admit" -> (cdcAdmit _),
    "q187_lang_fertility" -> (byteBpeLangFertility _)
  )

  val oracles: Map[String, String] = Map(
    "q165_byte_bpe" -> q165OracleSql,
    "q166_anf_calibration" -> q166OracleSql,
    "q167_host_reputation" -> q167OracleSql,
    "q168_phash_recall" -> q168OracleSql,
    "q169_ccnet_composition" -> q169OracleSql,
    "q170_reputation_select" -> q170OracleSql,
    "q171_cdc_chunk_dedup" -> q171OracleSql,
    "q172_curriculum_packing" -> q172OracleSql,
    "q173_cdc_containment" -> q173OracleSql,
    "q174_cdc_admit" -> q174OracleSql,
    "q187_lang_fertility" -> q187OracleSql
  )
}
