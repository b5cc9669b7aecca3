package graft.ops

import org.apache.spark.sql.{DataFrame, KeyedCheckpoint}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Iterative graph-rank propagation — the power-iteration family (PageRank
  * and friends) the connected-components operator ([[Dedup.dupClusters]])
  * doesn't cover: CC answers "which nodes are the same thing", rank answers
  * "which nodes matter". In a curation pipeline this is the host-graph
  * centrality signal web-corpus ranking runs on (Common Crawl publishes
  * exactly this as its harmonic-centrality host ranking); over the
  * dependency-link graph it is service criticality.
  *
  * Scale shape (the Pregel loop expressed in Catalyst) of every loop here —
  * the fixed-round [[pageRank]], [[personalizedPageRank]],
  * [[labelPropagation]], [[hits]], [[anfSketches]] and [[kCoreTrace]], and
  * the frontier loops [[bfsDistances]], [[seedDistances]],
  * [[weightedDistances]] and [[Dedup.dupClusters]] — all driven by
  * [[iterate]]:
  *   - the edge relation is keyed ONCE: hash-partitioned on `src` into
  *     exactly `spark.sql.shuffle.partitions` buckets and checkpointed with
  *     that layout recorded ([[org.apache.spark.sql.KeyedCheckpoint]]). A
  *     source's out-weight `wsum` is a window over those partitions, not an
  *     aggregate joined back;
  *   - the state vector is keyed the same way on `node` every round, so a
  *     round's join reads two co-partitioned checkpoints: a shuffle-hash
  *     join (hinted on the state side) with no Exchange, no Sort and no
  *     broadcast. The round's ONE Exchange moves its output to the node it
  *     lands on (the `dst`-keyed contribution sum, partially aggregated
  *     map-side; a frontier loop's offers; the peel's surviving edges);
  *     that output already has the next state's layout, so keying the new
  *     state adds no shuffle;
  *   - why the shim: under AQE a plain `localCheckpoint` reports
  *     UnknownPartitioning, so the src-partitioned, persisted edge relation
  *     these loops used to build was never reused: every round broadcast
  *     the whole edge relation and ran a second shuffle (q128 ran 35 jobs
  *     and q133 45; on this kernel 20 and 23);
  *   - every checkpoint is LAZY: lineage is cut at definition, so each
  *     round plans O(1) work (an uncut lineage re-planned the whole
  *     history: 1.4 s → 12.5 s of driver planning by iteration 10 at
  *     sf0.1), while materialization folds into the next round's job. The
  *     next round reads a state before any other reader does, so no
  *     branch races a half-materialized checkpoint;
  *   - nothing collects to the driver except scalars (the node count, the
  *     HITS renormalization sums, a frontier loop's one emptiness probe
  *     per round) — the state stays distributed.
  *
  * Cross-engine exactness: ranks are BIGINT "mass units" (the total graph
  * mass is `mass` units) and every step is integer arithmetic —
  * per-edge contribution `(rank * w) div wsum` (truncating division; all
  * operands positive, so Spark's `div` == DuckDB's `//`), damped update
  * `((100-d)*base) div 100 + (d*sum) div 100`. Long sums are exact and
  * order-independent, so there is NO float boundary anywhere and the final
  * ranks hash-match any engine that replays the same integer steps.
  * Truncation leaks ≤ 1 unit per edge per iteration — with the default
  * 1e9-unit mass the relative rank error is ≤ out-degree/1e9, irrelevant
  * for ranking and identical in both engines by construction.
  *
  * Overflow bound (documented, not checked row-wise): `rank * w` with
  * rank ≤ mass requires `mass * max(w) < 2^63`; the 1e9 default leaves
  * headroom for per-edge weights up to ~9e9. Widen to DecimalType before
  * raising `mass` past that.
  *
  * Precondition: every `dst` must also occur as a `src` (no dangling
  * nodes — their mass would silently leak). Symmetrized graphs (an edge
  * each way, as [[graft.operators.NorthStarQueries.tradePageRank]] builds)
  * satisfy this by construction.
  */
object Graph {

  /** Job descriptions of the [[iterate]] rounds start with this prefix
    * ("Graph.pageRank r3"), so a listener can sum their jobs per round. */
  private[graft] final val RoundDescriptionPrefix = "Graph."

  /** The one loop driver: keys `init` on `node`, then runs up to `rounds`
    * applications of `step`, keying each new state on `node` again (lazy
    * checkpoints, see the header), and returns every state, `init`'s first.
    * A frontier loop names its boolean `frontier` column: the loop ends
    * after the first round whose state flags no row. Round N's jobs, that
    * emptiness probe included, carry the job description
    * [[RoundDescriptionPrefix]] + "<loop> rN"; the caller's own description
    * is restored after each round. A `step` ending in an aggregate on a
    * column renamed to `node` is already keyed, so keying it costs no
    * shuffle. */
  private[ops] def iterate(loop: String, init: DataFrame, rounds: Int,
      frontier: Option[String] = None)(step: DataFrame => DataFrame): Seq[DataFrame] = {
    val sc = init.sparkSession.sparkContext
    def from(state: DataFrame, r: Int): List[DataFrame] =
      if (r > rounds) Nil
      else {
        val (next, live) = graft.util.JobLabel(sc, s"$RoundDescriptionPrefix$loop r$r") {
          val next = KeyedCheckpoint(step(state), "node")
          (next, frontier.forall(f => !next.where(col(f)).isEmpty))
        }
        next :: (if (live) from(next, r + 1) else Nil)
      }
    val first = KeyedCheckpoint(init, "node")
    first :: from(first, 1)
  }

  private def weighted(edges: DataFrame): DataFrame =
    edges.select(col("src"), col("dst"), col("w").cast("long").as("w"))

  /** `edges(src, dst, w)` with long weights, keyed on `src`. */
  private def srcKeyed(edges: DataFrame): DataFrame =
    KeyedCheckpoint(weighted(edges), "src")

  /** [[srcKeyed]] edges with each source's out-weight `wsum` attached: a
    * window over the src partitions, so no aggregate is joined back. */
  private def normalizedEdges(edges: DataFrame): DataFrame =
    KeyedCheckpoint(
      weighted(edges).withColumn("wsum", sum("w").over(Window.partitionBy("src"))), "src")

  /** One power-iteration spread: each source sends `(rank_u * w) div wsum`
    * along its out-edges, summed per `dst` into `s`. */
  private def spread(en: DataFrame, ranks: DataFrame): DataFrame =
    en.join(ranks.hint("shuffle_hash"), en("src") === ranks("node"))
      .groupBy("dst").agg(sum(expr("(rank_u * w) div wsum")).as("s"))

  /** Weighted PageRank over `edges(src, dst, w)`: `iterations` damped
    * power-iteration steps at `dampingPct`/100, returning the final
    * `(node, rank_u)` vector in integer mass units (Σ rank_u ≤ `mass`).
    */
  def pageRank(edges: DataFrame, iterations: Int, dampingPct: Int = 85,
      mass: Long = 1000000000L): DataFrame = {
    require(iterations >= 1 && dampingPct >= 0 && dampingPct <= 100)
    val en = normalizedEdges(edges)
    // the count is the edges' first consumer, so it materializes them
    val nodes = en.select(col("src").as("node")).distinct()
    val n = nodes.count()
    require(n > 0, "pageRank needs a non-empty edge set")
    val base = mass / n // integer division — the oracle replays `mass // n`
    val hold = ((100L - dampingPct) * base) / 100L
    iterate("pageRank", nodes.withColumn("rank_u", lit(base)), iterations) { ranks =>
      spread(en, ranks).select(col("dst").as("node"),
        (lit(hold) + expr(s"($dampingPct * s) div 100")).as("rank_u"))
    }.last
  }

  /** Personalized PageRank (TrustRank): identical damped power iteration,
    * but ALL teleport mass concentrates on `seeds(node)` instead of
    * spreading uniformly — the trust/spam-propagation scoring of
    * Gyöngyi et al. 2004, and the curation form of "rank hosts by
    * recursive proximity to a trusted seed list". Only seeds present in
    * the graph carry teleport (an isolated seed has no edges to propagate
    * through — documented; the caller sees it absent from the output).
    * Ranks of unreached nodes are exact zeros and STAY in the vector (the
    * rank relation is |nodes| rows every iteration — no conditional
    * shrinkage, so the plan is identical each round). Same integer
    * discipline as [[pageRank]]: teleport = mass div |effective seeds|,
    * per-node hold = ((100−d)·teleport) div 100 for seeds else 0, update
    * `hold + (d·Σcontrib) div 100` — hash-exact cross-engine. */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
      iterations: Int, dampingPct: Int = 85,
      mass: Long = 1000000000L): DataFrame = {
    require(iterations >= 1 && dampingPct >= 0 && dampingPct <= 100)
    val en = normalizedEdges(edges)
    // one node-keyed (node, is_seed) frame carries the seed holds: each
    // round joins it locally after the dst aggregate (both keyed alike)
    val seeded = KeyedCheckpoint(en.select(col("src").as("node")).distinct()
      .join(seeds.select(col("node"), lit(true).as("is_seed")).distinct(), Seq("node"), "left")
      .select(col("node"), coalesce(col("is_seed"), lit(false)).as("is_seed")), "node")
    val nSeeds = seeded.where(col("is_seed")).count()
    require(nSeeds > 0, "personalizedPageRank needs at least one seed in the graph")
    val teleport = mass / nSeeds
    val holdSeed = (100L - dampingPct) * teleport / 100L
    // a fresh `node` attribute: each round joins the state's lineage
    // against `seeded` itself, so the two must not share one
    val init = seeded.select(col("node").as("node"),
      when(col("is_seed"), lit(teleport)).otherwise(lit(0L)).as("rank_u"))
    iterate("personalizedPageRank", init, iterations) { ranks =>
      // every node of a symmetrized graph has an in-edge, so the dst-keyed
      // aggregate covers the whole node set each round (zero-rank sources
      // still emit zero-valued contribution rows)
      spread(en, ranks).join(seeded.hint("shuffle_hash"), col("dst") === seeded("node"))
        .select(col("dst").as("node"), (when(col("is_seed"), lit(holdSeed)).otherwise(lit(0L)) +
          expr(s"($dampingPct * s) div 100")).as("rank_u"))
    }.last
  }

  /** Multi-source BFS hop distance: the shortest hop count from any seed,
    * bounded at `maxHops` — the "distance to a trusted set" reachability
    * metric (TrustRank's discrete cousin) and the frontier-expansion
    * Pregel shape: each round joins only the FRONTIER (nodes first reached
    * last round) against the edge relation, so total work is
    * Σ|frontier-incident edges| — never rounds×|edges| — and a converged
    * graph costs nothing more (empty frontier short-circuits the loop).
    * Seeds sit at distance 0 whether or not they trade; unreached nodes
    * are ABSENT from the returned (node, dist) vector (the caller decides
    * their sentinel). Pure integer output — hash-exact anywhere. It is
    * [[weightedDistances]] with every edge of length 1: the nodes a round
    * improves are exactly the ones it reaches first. */
  def bfsDistances(edges: DataFrame, seeds: DataFrame,
      maxHops: Int): DataFrame =
    distances("bfsDistances", unitLength(edges), seeds, maxHops, perSeed = false)

  /** PER-SEED bounded BFS hop distances: [[bfsDistances]] with seed
    * identity carried through the frontier, so the result is the full
    * (seed, node, dist) relation — |S| simultaneous BFSes in one loop —
    * rather than the min over seeds. The primitive harmonic centrality
    * needs (Σ 1/d must see EVERY seed's distance; the min-merge collapses
    * exactly the information it sums).
    *
    * Scale shape: state and shuffle rows are (seed, node) pairs — bounded
    * by |sample| × |reached|, which is why the CALLER passes a seed SAMPLE
    * (the q157 discipline: deterministic modulo sample, documented rate),
    * never the full node set; with that, each round is one frontier⋈edges
    * join and one min-merge of 24-byte rows, Σ|frontier-incident edges|
    * total work, empty-frontier short-circuit. (The sketched
    * alternative — HyperBall's HyperLogLog counters, Boldi & Vigna 2013 —
    * trades this exactness for O(|V|) state; the exact per-seed-sample
    * relation is what the integer oracle can replay.) Seeds sit at
    * distance 0 from themselves; unreached (seed, node) pairs are absent. */
  def seedDistances(edges: DataFrame, seeds: DataFrame,
      maxHops: Int): DataFrame =
    distances("seedDistances", unitLength(edges), seeds, maxHops, perSeed = true)

  private def unitLength(edges: DataFrame): DataFrame =
    edges.select(col("src"), col("dst"), lit(1L).as("w"))

  /** The frontier relaxation the distance loops share: Bellman-Ford from
    * the seeds, relaxing only the out-edges of rows whose distance
    * improved last round. The state is `([seed,] node, dist, _improved)`.
    * A round joins the improved rows with the src-keyed edges (co-keyed,
    * no Exchange), moves the offers `dist + w` to their `node` (the round's
    * one Exchange) and min-merges them into the state, which is keyed on
    * `node` already; a row is improved when it is new or its distance
    * dropped. `perSeed` keeps one distance per (seed, node) pair. */
  private def distances(loop: String, edges: DataFrame, seeds: DataFrame,
      rounds: Int, perSeed: Boolean): DataFrame = {
    require(rounds >= 0)
    val en = KeyedCheckpoint(edges, "src")
    val seed = if (perSeed) Seq(col("seed")) else Nil
    val keys = seed :+ col("node")
    val init = seeds.select(col("node")).distinct()
      .select((if (perSeed) Seq(col("node").as("seed")) else Nil) ++
        Seq(col("node"), lit(0L).as("dist"), lit(true).as("_improved")): _*)
    iterate(loop, init, rounds, frontier = Some("_improved")) { state =>
      val f = state.where(col("_improved"))
      val offers = en.join(f.hint("shuffle_hash"), en("src") === f("node"))
        .select(seed ++ Seq(col("dst").as("node"), (col("dist") + col("w")).as("dist"),
          lit(null).cast("long").as("_was")): _*)
        .repartition(col("node"))
      state.select(keys ++ Seq(col("dist"), col("dist").as("_was")): _*)
        .unionByName(offers)
        .groupBy(keys: _*).agg(min("dist").as("dist"), min("_was").as("_was"))
        .select(keys ++ Seq(col("dist"),
          (col("_was").isNull || col("dist") < col("_was")).as("_improved")): _*)
    }.last.select(keys :+ col("dist"): _*)
  }

  /** Bounded harmonic centrality from a deterministic seed sample — the
    * statistic this file's header cites for Common Crawl's host ranking
    * (which publishes HARMONIC centrality, not PageRank: Boldi & Vigna,
    * "Axioms for centrality", 2014 — harmonic is the one that handles
    * disconnected graphs without a reachability fudge). For each node v:
    * `Σ_{s∈S, 1≤d(s,v)≤maxHops} (1_000_000 div d(s,v))` plus the reaching
    * seed count — INTEGER micro-units end to end, so the vector hash-matches
    * an unrolled/recursive SQL replay exactly.
    *
    * The hop bound is principled, not a shortcut: each >maxHops
    * contribution is < 1e6/(maxHops+1), and at crawl scale ~everything
    * sits within a small diameter of a large seed sample (the same
    * observation HyperBall exploits). Estimator shape: sampled-source
    * exact BFS (Eppstein–Wang 2004) — centrality ∝ sample mean, so the
    * caller scales by |V|/|S| when an absolute number is needed; ranking
    * needs no rescale. */
  def harmonicCentrality(edges: DataFrame, seeds: DataFrame,
      maxHops: Int): DataFrame =
    seedDistances(edges, seeds, maxHops)
      .where(col("dist") >= 1L)
      .groupBy("node")
      .agg(sum(expr("1000000 div dist")).as("harmonic_u"),
        count(lit(1)).as("n_seeds_reached"))

  /** ANF / neighborhood-function sketches (Palmer et al. 2002; the
    * HyperBall mechanism, Boldi & Vigna 2013): for EVERY node, a
    * 16-register HyperLogLog sketch of its in-ball — the set of nodes that
    * reach it within h hops (self included) — for each h ≤ maxHops. This
    * is the O(|V|·m) -state complement to [[seedDistances]]' exact
    * per-seed-sample relation: where q157 trades coverage for exactness,
    * ANF covers every node at once and trades exactness for a ~26%
    * standard-error estimate — the pair a 100 TB host-graph analysis
    * actually runs (exact on a seed sample to calibrate, sketches for the
    * full curve).
    *
    * Everything is DETERMINISTIC and engine-portable: element hash =
    * h60('anf:' || node), bucket = h mod 16, rank = position of the
    * lowest set bit of (h div 16) via `length(bin(lsb))` — string length
    * of the binary rendering, exact in any engine, no float log. Each
    * register is its own INT column, so the per-round merge is a plain
    * 16-max aggregate: codegen'd, map-side-combining, no UDAF, no
    * collect_list (a hub's merge state is 16 ints regardless of degree).
    * Union-associativity of elementwise max makes h rounds of neighbor
    * merges EQUAL the sketch of the exact ≤h-hop ball — the property the
    * oracle replays from recursive-CTE reach sets.
    *
    * Returns one frame per hop 1..maxHops: (node, r0..r15). Estimation is
    * the caller's (q163 folds registers into the HLL estimate in integer
    * units). Scale shape: each round is one co-keyed join and a 16-max
    * aggregate over (node, 16×int) rows — partial below the round's one
    * Exchange, final against the node-keyed state. */
  def anfSketches(edges: DataFrame, maxHops: Int): Seq[(Int, DataFrame)] = {
    require(maxHops >= 1)
    val M = 16
    val en = KeyedCheckpoint(edges.select(col("src"), col("dst")), "src")
    val h = PortableSketch.h60(concat(lit("anf:"), col("node").cast("string")))
    val rs = (0 until M).map(i => s"r$i")
    val init = en.select(col("src").as("node"))
      .union(en.select(col("dst").as("node"))).distinct()
      .withColumn("_h", h)
      .withColumn("_b", pmod(col("_h"), lit(M.toLong)))
      .withColumn("_v", expr(s"_h div $M"))
      .withColumn("_rank",
        length(bin(expr("_v & -_v"))).cast("int"))
      .select(col("node") +: (0 until M).map(i =>
        when(col("_b") === i, col("_rank")).otherwise(lit(0)).as(s"r$i")): _*)
    def merge(df: DataFrame): DataFrame =
      df.groupBy("node").agg(max(rs.head).as(rs.head), rs.tail.map(r => max(r).as(r)): _*)
    iterate("anfSketches", init, maxHops) { sk =>
      merge(merge(en.join(sk.hint("shuffle_hash"), en("src") === sk("node"))
          .select(col("dst").as("node") +: rs.map(col): _*))
        .unionByName(sk))
    }.zipWithIndex.tail.map(_.swap)
  }

  /** Bounded weighted shortest path — Bellman-Ford relaxation rounds from a
    * seed set over positive integer edge lengths: the COST-distance verb
    * next to [[bfsDistances]]' hop distance (how cheap is the path, not how
    * many steps). The min-plus Pregel shape with the frontier optimization
    * (SPFA): each round relaxes only edges out of nodes whose distance
    * IMPROVED last round — provably equal to full relaxation (a node
    * unimproved in round i−1 already contributed its final offers in the
    * round it last improved), so work ∝ Σ improved-incident edges and a
    * converged graph stops early instead of burning rounds×|edges|.
    * `rounds` bounds path LENGTH (edges), so dist after r rounds = cheapest
    * ≤r-edge path — a fixed-round definition the oracle replays exactly
    * (full relaxation in SQL, equal by the argument above). Long min-merge
    * is order-independent: integer-exact anywhere. Unreached nodes are
    * simply absent (the caller left-joins, the [[bfsDistances]] contract).
    * Precondition: w ≥ 1 (positive lengths — with them, dist values only
    * ever decrease and the merge needs no tie rule beyond min). */
  def weightedDistances(edges: DataFrame, seeds: DataFrame,
      rounds: Int): DataFrame =
    distances("weightedDistances", weighted(edges), seeds, rounds, perSeed = false)

  /** Synchronous weighted label propagation (community detection): every
    * node starts labeled with itself; each round it adopts the label with
    * the greatest total incident edge weight, ties to the SMALLEST label —
    * Raghavan et al. 2007 made deterministic. The third graph semantics
    * next to components (same thing?) and rank (how important?):
    * communities (which cluster?) — in curation terms, domain/topic
    * clustering over a similarity or co-occurrence graph.
    *
    * Determinism: synchronous rounds + a total argmax order (encoded
    * `ws·ordBound − label`, distinct per (ws, label) while every label <
    * `ordBound` and ws·ordBound stays in int64 — caller-guaranteed,
    * documented at the call site) make the result a pure function of the
    * graph and round count; on bipartite structures synchronous LPA can
    * OSCILLATE between two colorings (the classic artifact — a production
    * run would semi-synchronously color first), which fixed rounds keep
    * reproducible and the oracle replays exactly.
    *
    * Scale: the [[iterate]] kernel, like [[pageRank]]; the contributions
    * cross ONE dst-keyed exchange that serves both the (dst, label) sum and
    * the dst argmax (8-byte longs, never payloads). Labels are node ids, so
    * the output is integer-exact anywhere. */
  def labelPropagation(edges: DataFrame, rounds: Int,
      ordBound: Long = 10000000L): DataFrame = {
    require(rounds >= 1)
    val e = srcKeyed(edges)
    val init = e.select(col("src").as("node")).distinct().withColumn("lab", col("node"))
    iterate("labelPropagation", init, rounds) { labels =>
      // Spark would shuffle the (dst, lab) sum on both keys and the argmax
      // again on dst; partitioning on dst first satisfies both
      e.join(labels.hint("shuffle_hash"), e("src") === labels("node"))
        .repartition(col("dst"))
        .groupBy(col("dst"), col("lab")).agg(sum("w").as("ws"))
        .groupBy(col("dst"))
        .agg(expr(s"max_by(lab, ws * $ordBound - lab)").as("lab"))
        .select(col("dst").as("node"), col("lab"))
    }.last
  }

  /** HITS hubs & authorities (Kleinberg 1999) over a DIRECTED edge set —
    * the bipartite/endorsement rank the symmetrized PageRank family
    * (q128/q133) can't express: a hub is good because it points at good
    * authorities, an authority because good hubs point at it — two
    * mutually-recursive vectors, not one. Integer discipline throughout:
    * scores are BIGINT mass units, each half-round is ONE exchange-free
    * join of keyed checkpoints (the authority half reads the src-keyed
    * edges, the hub half a dst-keyed copy built once) + ONE aggregate
    * shuffling 8-byte longs on the far end, and the per-round
    * renormalization back to ~`mass` total is
    * `(raw·10000) div (Σraw div 10000)` — both factors exact integer ops
    * (Spark `div` == DuckDB `//` on positives), so the vectors hash-match
    * an unrolled-CTE replay with no float boundary. The Σraw scalar is a
    * one-row driver aggregate per half-round over the checkpointed raw
    * vector (the q128 bounded-model exception). Overflow bound: raw ≤
    * Σscore·maxWeightedDegree ≈ mass·maxdeg, and the renorm multiplies by
    * 10000 — safe while mass·maxdeg < 9.2e14 (maxdeg < ~9.2e6 at the
    * default mass); widen to Decimal past that. Truncation: each renorm
    * loses < 10^-4 relative mass — deterministic, not approximate.
    * Precondition: every src has ≥1 out-edge by construction; `mass` must
    * keep Σraw ≥ 10000 (default 1e8 does at any graph size ≥ 1 node). */
  def hits(edges: DataFrame, rounds: Int,
      mass: Long = 100000000L): DataFrame = {
    require(rounds >= 1)
    val es = srcKeyed(edges)
    // a dst-keyed copy, built once: the hub half-round joins on dst
    val ed = KeyedCheckpoint(es, "dst")
    val srcNodes = es.select(col("src").as("node")).distinct()
    val nh = srcNodes.count()
    require(nh > 0, "hits needs a non-empty edge set")
    // one half-round: scores flow from `from`-keyed edges to their `to`
    // end, the raw sums are keyed on node and renormalized back to ~mass.
    // The raw vector is read twice (the renorm scalar and the next half),
    // so it is the one that checkpoints; the scalar collect is its first
    // consumer and materializes it inside its own job.
    def half(e: DataFrame, from: String, to: String, score: DataFrame,
        side: String): DataFrame = {
      val raw = KeyedCheckpoint(e.join(score.hint("shuffle_hash"), e(from) === score("node"))
        .groupBy(to).agg(sum(col("w") * col("x")).as("raw"))
        .select(col(to).as("node"), col("raw")), "node")
      val total = raw.agg(sum("raw")).head().getLong(0)
      require(total >= 10000L,
        s"hits: $side mass $total < 10000 — raise `mass` (renorm divisor would be 0)")
      raw.select(col("node"), expr(s"(raw * 10000) div (${total}L div 10000)").as("x"))
    }
    var auths: DataFrame = null
    val hubs = iterate("hits", srcNodes.withColumn("x", lit(mass / nh)), rounds) { hubs =>
      auths = half(es, "src", "dst", hubs, "authority")
      half(ed, "dst", "src", auths, "hub")
    }.last
    hubs.select(lit("hub").as("side"), col("node"), col("x").as("score_u"))
      .unionByName(auths.select(lit("auth").as("side"), col("node"),
        col("x").as("score_u")))
  }

  // --- triangle census (cohesion) -----------------------------------------

  /** Undirected degree relation over `edges(u, v)` — one row per edge, each
    * unordered pair exactly once. */
  def degrees(edges: DataFrame): DataFrame =
    edges.select(col("u").as("n"))
      .unionByName(edges.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))

  /** Degree-ordered orientation of an undirected edge set: each edge `(u,v)`
    * becomes `s → t` where `s` precedes `t` in the TOTAL order
    * `(degree, id)` — the classic triangle-enumeration preparation
    * (Chiba–Nishizeki / Schank–Wagner): in the resulting DAG every node's
    * out-degree is O(√m), so the wedge join below generates O(m^1.5)
    * intermediate rows on ANY graph, including power-law ones where
    * id-ordering alone lets a small-id hub fan out deg² wedges. The order
    * compares `struct(d, id)` — engine-native tuple comparison, no packed
    * arithmetic to overflow. `deg` is expected from [[degrees]] (small —
    * one row per node); joined twice, once per endpoint. */
  def orientByDegree(edges: DataFrame, deg: DataFrame): DataFrame = {
    val precedes = struct(col("du"), col("u")) < struct(col("dv"), col("v"))
    edges
      .join(deg.select(col("n").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("d").as("dv")), "v")
      .select(when(precedes, col("u")).otherwise(col("v")).as("s"),
        when(precedes, col("v")).otherwise(col("u")).as("t"))
  }

  /** Triangle enumeration over a degree-oriented DAG `(s, t)`: each triangle
    * `a ≺ b ≺ c` is produced exactly once as the path `a→b→c` closed by
    * `a→c` — two equi-joins on node ids, no window, no driver state. The
    * oriented relation is referenced three times; callers persist it. */
  def triangles(oriented: DataFrame): DataFrame =
    oriented.as("e1")
      .join(oriented.as("e2"), col("e1.t") === col("e2.s"))
      .join(oriented.as("e3"),
        col("e3.s") === col("e1.s") && col("e3.t") === col("e2.t"), "leftsemi")
      .select(col("e1.s").as("a"), col("e1.t").as("b"), col("e2.t").as("c"))

  /** Per-node triangle participation: each triangle credits all three
    * corners. */
  def triangleCounts(tris: DataFrame): DataFrame =
    tris.select(explode(array(col("a"), col("b"), col("c"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("tri"))

  // --- link prediction (similarity) ---------------------------------------

  /** Link prediction over undirected `edges(u, v)` (u < v): for every
    * NON-adjacent pair with ≥ 1 common neighbor, the common-neighbor count
    * and the resource-allocation index (Zhou et al. 2009) — Σ over common
    * neighbors w of `scale div deg(w)`, the integer-exact member of the
    * Adamic-Adar family (low-degree shared neighbors are strong evidence, a
    * shared hub is weak). The graph family's PREDICTION verb: which links
    * are missing — recommendation, knowledge-graph completion, related-item
    * mining.
    *
    * Enumeration is wedge-by-center over the symmetrized adjacency —
    * Σ deg(w)² candidate rows, the honest cost of scoring every
    * 2-path-connected pair. The hub hazard is bounded by `cap`: neighbor
    * lists star-cap at `cap` members via the skew-safe bottom-k threshold
    * ([[Sampling.quotaPerKeyAgg]] — no single-task sort), so one celebrity
    * node can never fan out deg² rows; callers must verify the cap is
    * non-binding wherever an exact oracle replays the uncapped wedge set
    * (the q63/q122 rule). Adjacent pairs drop by ONE anti-join against the
    * edge relation; center degrees ride the wedge relation from a
    * \|nodes\|-row broadcast-able join. All integer. */
  def linkPredict(edges: DataFrame, cap: Int = 256,
      scale: Long = 1000000L): DataFrame = {
    val se = edges.select(col("u").as("w"), col("v").as("n"))
      .unionByName(edges.select(col("v").as("w"), col("u").as("n")))
    val deg = degrees(edges)
    // persist: the wedge self-join references `capped` twice — cached, the
    // symmetrize + quota aggregation + degree join run once instead of once
    // per leg (round-16 optimization, guide §2.4). Narrow (long×3) rows,
    // ≤ cap per center. Ownership: Verify/Bench clear caches per query.
    val capped = Sampling.quotaPerKeyAgg(se, "w", "n", cap)
      .join(deg.select(col("n").as("w"), col("d").as("dw")), "w")
      .persist()
    capped.as("a").join(capped.as("b"),
        col("a.w") === col("b.w") && col("a.n") < col("b.n"))
      .select(col("a.n").as("u"), col("b.n").as("v"), col("a.dw").as("dw"))
      .join(edges.select(col("u"), col("v")), Seq("u", "v"), "left_anti")
      .groupBy("u", "v")
      .agg(count(lit(1)).as("cn"),
        sum(expr(s"${scale}L div dw")).as("ra_ppm"))
  }

  // --- k-core peel (density) ----------------------------------------------

  /** k-core peel trace over undirected `edges(u, v)`: `rounds` synchronous
    * peel steps (drop every node of current degree < k, keep only edges
    * with both endpoints surviving), reporting `(round, n_nodes, n_edges)`
    * after each — round 0 is the input graph. The graph family's DENSITY
    * verb (Seidman 1983): the 2-core strips the tree periphery, higher k
    * isolates the cohesive kernel spam/community analysis keys on. The
    * fixed round count is part of the query definition (the q135 LPA
    * discipline — deterministic, unrollable by any engine); a converged
    * trace shows equal tail rows, so convergence is VISIBLE in the output
    * rather than assumed.
    *
    * Scale shape: the state is the degree relation `(node, d)` on
    * [[iterate]]; the edges are kept in both directions, keyed on `src`,
    * so round 0's degrees are a local count. A round keeps the edges whose
    * `src` survives (a co-keyed semi-join), moves them to their `dst` (the
    * round's one Exchange) for the second semi-join, and counts them per
    * `dst` — by symmetry, each surviving node's new degree, already keyed.
    * Per-round stats are one-row aggregates over the states, UNIONed, never
    * collected. Nodes are counted from the degree relation, so isolated
    * nodes drop with their last edge — the standard
    * subgraph-of-the-edge-set convention. */
  def kCoreTrace(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1)
    val es = KeyedCheckpoint(edges.select(col("u").as("src"), col("v").as("dst"))
      .unionByName(edges.select(col("v").as("src"), col("u").as("dst"))), "src")
    def stats(r: Int, deg: DataFrame): DataFrame =
      deg.agg(count(lit(1)).as("n_nodes"),
          // integer div: sum(d) is exactly 2·|edges|; float division would
          // lose exactness past 2^53 summed degree at full scale
          expr("coalesce(sum(d), 0L) div 2").as("n_edges"))
        .select(lit(r).cast("long").as("round"), col("n_nodes"), col("n_edges"))
    val init = es.groupBy(col("src").as("node")).agg(count(lit(1)).as("d"))
    iterate("kCoreTrace", init, rounds) { deg =>
      val keep = deg.where(col("d") >= k)
      es.join(keep.select(col("node").as("src")).hint("shuffle_hash"), Seq("src"), "left_semi")
        .join(keep.select(col("node").as("dst")).hint("shuffle_hash"), Seq("dst"), "left_semi")
        .groupBy(col("dst").as("node")).agg(count(lit(1)).as("d"))
    }.zipWithIndex.map { case (deg, r) => stats(r, deg) }.reduce(_ union _)
  }
}
