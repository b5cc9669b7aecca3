package graft.ops

import graft.pipeline.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class GraphSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.get
  import spark.implicits._

  /** Plain-Scala replay of Graph.pageRank's integer steps (Long `/` on
    * positive operands == Spark `div` == DuckDB `//`). */
  private def ref(edges: Seq[(String, String, Long)], iters: Int,
      dPct: Long = 85L, mass: Long = 1000000000L): Map[String, Long] = {
    val wsum = edges.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val nodes = edges.map(_._1).distinct
    val base = mass / nodes.size
    val hold = (100L - dPct) * base / 100L
    var r = nodes.map(_ -> base).toMap
    for (_ <- 1 to iters) {
      val s = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
      for ((u, v, w) <- edges) s(v) += r(u) * w / wsum(u)
      r = nodes.map(n => n -> (hold + dPct * s(n) / 100L)).toMap
    }
    r
  }

  private def run(edges: Seq[(String, String, Long)], iters: Int): Map[String, Long] =
    Graph.pageRank(edges.toDF("src", "dst", "w"), iters)
      .as[(String, Long)].collect().toMap

  test("symmetric two-node graph: ranks stay exactly at base mass forever") {
    val edges = Seq(("a", "b", 1L), ("b", "a", 1L))
    val got = run(edges, 7)
    // base = 1e9/2; hold+damped of an equal split reproduces it exactly:
    // (15*5e8)/100 + (85*5e8)/100 = 75e6 + 425e6 = 5e8
    assert(got == Map("a" -> 500000000L, "b" -> 500000000L))
  }

  test("hub node outranks leaves; exact integer values match the reference") {
    // star: b trades with a and c (symmetrized), so b receives full mass
    // from both leaves but returns only half to each
    val edges = Seq(("a", "b", 1L), ("b", "a", 1L),
      ("c", "b", 1L), ("b", "c", 1L))
    val got = run(edges, 10)
    val want = ref(edges, 10)
    assert(got == want)
    assert(got("b") > got("a") && got("a") == got("c"))
    // no mass is created; truncation may only leak it
    assert(got.values.sum <= 1000000000L)
  }

  test("weighted edges shift rank toward the heavy destination") {
    // a sends 3/4 of its damped mass to b, 1/4 to c
    val edges = Seq(("a", "b", 3L), ("a", "c", 1L),
      ("b", "a", 1L), ("c", "a", 1L))
    val got = run(edges, 10)
    assert(got == ref(edges, 10))
    assert(got("b") > got("c"))
  }

  test("property: 40 random symmetric weighted graphs match the plain-Scala reference") {
    val rnd = new scala.util.Random(20260814L)
    for (case_ <- 1 to 40) {
      val n = 2 + rnd.nextInt(10)
      val nodes = (0 until n).map(i => s"n$i")
      // a random spanning chain keeps every node non-dangling, plus extras
      val undirected = (1 until n).map(i => (nodes(rnd.nextInt(i)), nodes(i))) ++
        Seq.fill(rnd.nextInt(2 * n))((nodes(rnd.nextInt(n)), nodes(rnd.nextInt(n))))
      val pairs = undirected.filter(p => p._1 != p._2).distinct
      val edges = pairs.flatMap { case (u, v) =>
        val w = 1L + rnd.nextInt(5)
        Seq((u, v, w), (v, u, w))
      }
      val iters = 1 + rnd.nextInt(5)
      assert(run(edges, iters) == ref(edges, iters), s"case $case_ edges=$edges iters=$iters")
    }
    spark.sharedState.cacheManager.clearCache()
  }

  /** Plain-Scala replay of personalizedPageRank's integer steps. */
  private def refPpr(edges: Seq[(String, String, Long)], seeds: Set[String],
      iters: Int, dPct: Long = 85L, mass: Long = 1000000000L): Map[String, Long] = {
    val wsum = edges.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val nodes = edges.map(_._1).distinct
    val eff = nodes.filter(seeds)
    val t = mass / eff.size
    val hold = (100L - dPct) * t / 100L
    var r = nodes.map(n => n -> (if (eff.contains(n)) t else 0L)).toMap
    for (_ <- 1 to iters) {
      val s = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
      for ((u, v, w) <- edges) s(v) += r(u) * w / wsum(u)
      r = nodes.map(n =>
        n -> ((if (eff.contains(n)) hold else 0L) + dPct * s(n) / 100L)).toMap
    }
    r
  }

  private def runPpr(edges: Seq[(String, String, Long)], seeds: Seq[String],
      iters: Int): Map[String, Long] =
    Graph.personalizedPageRank(edges.toDF("src", "dst", "w"),
        seeds.toDF("node"), iters)
      .as[(String, Long)].collect().toMap

  test("personalized: teleport concentrates on seeds; unseeded components stay exactly zero") {
    // two components: a<->b (seeded at a), x<->y (no seed)
    val edges = Seq(("a", "b", 1L), ("b", "a", 1L), ("x", "y", 1L), ("y", "x", 1L))
    val got = runPpr(edges, Seq("a"), 6)
    assert(got == refPpr(edges, Set("a"), 6))
    assert(got("x") == 0L && got("y") == 0L, "no teleport, no mass — exact zeros")
    assert(got("a") > got("b") && got("b") > 0L)
    // a seed OUTSIDE the graph contributes nothing (effective-seed rule):
    // with one in-graph seed the result is unchanged
    assert(runPpr(edges, Seq("a", "zz"), 6) == got)
    spark.sharedState.cacheManager.clearCache()
  }

  test("personalized property: 25 random graphs and seed subsets match the reference") {
    val rnd = new scala.util.Random(20260815L)
    for (case_ <- 1 to 25) {
      val n = 2 + rnd.nextInt(8)
      val nodes = (0 until n).map(i => s"n$i")
      val undirected = (1 until n).map(i => (nodes(rnd.nextInt(i)), nodes(i))) ++
        Seq.fill(rnd.nextInt(n))((nodes(rnd.nextInt(n)), nodes(rnd.nextInt(n))))
      val edges = undirected.filter(p => p._1 != p._2).distinct.flatMap { case (u, v) =>
        val w = 1L + rnd.nextInt(4)
        Seq((u, v, w), (v, u, w))
      }
      val seeds = nodes.filter(_ => rnd.nextBoolean()) match {
        case s if s.nonEmpty => s
        case _ => Seq(nodes.head)
      }
      val iters = 1 + rnd.nextInt(4)
      assert(runPpr(edges, seeds, iters) == refPpr(edges, seeds.toSet, iters),
        s"case $case_ seeds=$seeds edges=$edges iters=$iters")
    }
    spark.sharedState.cacheManager.clearCache()
  }

  test("bfsDistances: hop layers, multi-seed min, hop bound, unreached absent") {
    // chain a-b-c-d-e (symmetrized) plus disconnected pair p-q
    val chain = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("p", "q"))
    val edges = chain.flatMap { case (u, v) => Seq((u, v, 1L), (v, u, 1L)) }
      .toDF("src", "dst", "w")
    def dists(seeds: Seq[String], hops: Int) =
      Graph.bfsDistances(edges, seeds.toDF("node"), hops)
        .as[(String, Long)].collect().toMap
    assert(dists(Seq("a"), 4) ==
      Map("a" -> 0L, "b" -> 1L, "c" -> 2L, "d" -> 3L, "e" -> 4L))
    assert(dists(Seq("a"), 2) == Map("a" -> 0L, "b" -> 1L, "c" -> 2L),
      "the hop bound truncates the frontier expansion")
    // multi-seed: distance is the MIN over seeds; p's component reachable
    assert(dists(Seq("a", "e", "p"), 4) == Map("a" -> 0L, "b" -> 1L,
      "c" -> 2L, "d" -> 1L, "e" -> 0L, "p" -> 0L, "q" -> 1L))
    // early convergence: a tiny graph with a generous bound terminates
    assert(dists(Seq("p"), 100) == Map("p" -> 0L, "q" -> 1L))
    spark.sharedState.cacheManager.clearCache()
  }

  test("bfsDistances: the loop ends at the first round that reaches nothing new; " +
      "its jobs carry only \"Graph.bfsDistances rN\", N <= 3; the caller's description is restored") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String)]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        seen.add(j.jobId -> String.valueOf(j.properties.getProperty("spark.job.description")))
    }
    // chain a-b-c seeded at a: round 1 reaches b, round 2 reaches c, round 3
    // reaches nothing new, so 97 of the 100 allowed hops never run
    val edges = Seq(("a", "b"), ("b", "c"))
      .flatMap { case (u, v) => Seq((u, v, 1L), (v, u, 1L)) }.toDF("src", "dst", "w")
    sc.addSparkListener(listener)
    sc.setJobDescription("caller job")
    try {
      val dist = Graph.bfsDistances(edges, Seq("a").toDF("node"), 100)
      assert(sc.getLocalProperty("spark.job.description") == "caller job")
      assert(dist.as[(String, Long)].collect().toMap == Map("a" -> 0L, "b" -> 1L, "c" -> 2L))
      org.apache.spark.ListenerBusDrain(sc)
    } finally {
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
    import scala.jdk.CollectionConverters._
    val descs = seen.asScala.toSeq.sortBy(_._1).map(_._2)
    val rounds = descs.filter(_ != "caller job")
    val k = rounds.distinct.size
    assert(k >= 1 && k <= 3 && rounds.distinct == (1 to k).map(r => s"Graph.bfsDistances r$r"),
      s"every other job runs under the caller's description: $descs")
    assert(rounds == rounds.sorted, s"rounds out of order: $descs")
    spark.sharedState.cacheManager.clearCache()
  }

  /** Plain-Scala multi-source BFS: hop layers from the seed set, bounded. */
  private def refBfs(edges: Seq[(Long, Long)], seeds: Seq[Long],
      maxHops: Int): Map[Long, Long] = {
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var dist = seeds.map(_ -> 0L).toMap
    var frontier = seeds.toSet
    for (h <- 1 to maxHops if frontier.nonEmpty) {
      frontier = frontier.flatMap(adj.getOrElse(_, Nil)).filterNot(dist.contains)
      dist ++= frontier.map(_ -> h.toLong)
    }
    dist
  }

  test("bfsDistances property: 25 random digraphs match the plain-Scala " +
      "multi-source BFS (seeds off the graph, hop bound 0 included)") {
    val rnd = new scala.util.Random(134)
    for (trial <- 1 to 25) {
      val n = 3 + rnd.nextInt(10)
      val edges = (for {
        u <- 0L until n.toLong; v <- 0L until n.toLong
        if u != v && rnd.nextInt(4) == 0
      } yield (u, v)).toSeq
      // two ids past the node range: seeds that have no edges
      val seeds = (0L until n + 2L).filter(_ => rnd.nextInt(4) == 0) match {
        case s if s.nonEmpty => s
        case _ => Seq(0L)
      }
      val hops = rnd.nextInt(6)
      val got = Graph.bfsDistances(
          edges.map { case (u, v) => (u, v, 1L) }.toDF("src", "dst", "w"),
          seeds.toDF("node"), hops)
        .as[(Long, Long)].collect().toMap
      assert(got == refBfs(edges, seeds, hops),
        s"trial $trial seeds=$seeds hops=$hops edges=$edges")
      spark.sharedState.cacheManager.clearCache()
    }
  }

  test("seedDistances: per-seed layers (no min-merge), bound, self at 0") {
    val chain = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("p", "q"))
    val edges = chain.flatMap { case (u, v) => Seq((u, v, 1L), (v, u, 1L)) }
      .toDF("src", "dst", "w")
    val got = Graph.seedDistances(edges, Seq("a", "c", "p").toDF("node"), 2)
      .as[(String, String, Long)].collect().toSet
    // bfsDistances would collapse b to min(1,1)=1 once; per-seed keeps BOTH
    assert(got == Set(
      ("a", "a", 0L), ("a", "b", 1L), ("a", "c", 2L),
      ("c", "c", 0L), ("c", "b", 1L), ("c", "d", 1L), ("c", "a", 2L),
      ("p", "p", 0L), ("p", "q", 1L)))
    spark.sharedState.cacheManager.clearCache()
  }

  /** Plain-Scala per-seed BFS + harmonic sum (the oracle's semantics). */
  private def refHarmonic(edges: Seq[(Long, Long)], seeds: Seq[Long],
      maxHops: Int): Map[Long, (Long, Long)] = {
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val contrib = scala.collection.mutable.Map.empty[Long, (Long, Long)]
      .withDefaultValue((0L, 0L))
    for (s <- seeds.distinct) {
      var dist = Map(s -> 0L)
      var frontier = Set(s)
      for (h <- 1 to maxHops if frontier.nonEmpty) {
        val next = frontier.flatMap(n => adj.getOrElse(n, Nil))
          .filterNot(dist.contains)
        next.foreach(n => dist += n -> h.toLong)
        frontier = next
      }
      for ((n, d) <- dist if d >= 1) {
        val (hu, c) = contrib(n)
        contrib(n) = (hu + 1000000L / d, c + 1L)
      }
    }
    contrib.toMap
  }

  test("harmonicCentrality: hand star — center sums 1e6 per seed, " +
      "leaves split by hop") {
    // star: center 0 joined to leaves 1..4; seeds 1 and 2
    val edges = (1L to 4L).flatMap(l => Seq((0L, l, 1L), (l, 0L, 1L)))
      .toDF("src", "dst", "w")
    val got = Graph.harmonicCentrality(edges, Seq(1L, 2L).toDF("node"), 2)
      .as[(Long, Long, Long)].collect().toSet
    // center: dist 1 from both seeds → 2e6; each leaf (incl. the seeds,
    // from the OTHER seed): dist 2 → 500000 each
    assert(got == Set((0L, 2000000L, 2L), (1L, 500000L, 1L),
      (2L, 500000L, 1L), (3L, 1000000L, 2L), (4L, 1000000L, 2L)))
    spark.sharedState.cacheManager.clearCache()
  }

  test("harmonicCentrality property: 25 random graphs + seed samples " +
      "match the plain-Scala reference") {
    val rnd = new scala.util.Random(157)
    for (trial <- 1 to 25) {
      val n = 4 + rnd.nextInt(8)
      val edges = (for {
        u <- 0L until n.toLong; v <- 0L until n.toLong
        if u != v && rnd.nextInt(4) == 0
      } yield (u, v)).toSeq
      if (edges.nonEmpty) {
        val seeds = (0L until n.toLong).filter(_ => rnd.nextInt(3) == 0) match {
          case s if s.nonEmpty => s
          case _ => Seq(edges.head._1)
        }
        val hops = 1 + rnd.nextInt(4)
        val got = Graph.harmonicCentrality(
            edges.map { case (u, v) => (u, v, 1L) }.toDF("src", "dst", "w"),
            seeds.toDF("node"), hops)
          .as[(Long, Long, Long)].collect()
          .map(r => r._1 -> (r._2, r._3)).toMap
        assert(got == refHarmonic(edges, seeds, hops), s"trial $trial")
        spark.sharedState.cacheManager.clearCache()
      }
    }
  }

  /** Plain-Scala ANF register replay: exact ≤h in-balls, then the same
    * h60/bucket/lsb-rank register rule — equality proves the distributed
    * neighbor-merge equals the sketch of the exact ball (union
    * associativity of elementwise max). */
  private def refAnfRegs(edges: Seq[(Long, Long)], maxHops: Int)
      : Map[(Int, Long), Vector[Int]] = {
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    def rank(reach: Long): (Int, Int) = {
      val h = PortableSketch.h60String(s"anf:$reach")
      val v = h / 16
      val lsb = v & -v
      ((h % 16).toInt, java.lang.Long.toBinaryString(lsb).length)
    }
    val out = scala.collection.mutable.Map.empty[(Int, Long), Vector[Int]]
    for (n <- nodes) {
      var ball = Set(n)
      var frontier = Set(n)
      for (h <- 1 to maxHops) {
        // in-ball: who reaches n — walk REVERSE edges from n
        frontier = frontier.flatMap(x =>
          edges.collect { case (u, v) if v == x => u }).diff(ball)
        ball ++= frontier
        val regs = Array.fill(16)(0)
        ball.foreach { m =>
          val (b, r) = rank(m)
          regs(b) = math.max(regs(b), r)
        }
        out((h, n)) = regs.toVector
      }
    }
    out.toMap
  }

  test("anfSketches property: 20 random digraphs — registers equal the " +
      "exact-ball replay at every hop") {
    val rnd = new scala.util.Random(163)
    for (trial <- 1 to 20) {
      val n = 4 + rnd.nextInt(7)
      val edges = (for {
        u <- 0L until n.toLong; v <- 0L until n.toLong
        if u != v && rnd.nextInt(4) == 0
      } yield (u, v)).toSeq
      if (edges.nonEmpty) {
        val hops = 1 + rnd.nextInt(3)
        val ref = refAnfRegs(edges, hops)
        Graph.anfSketches(
            edges.map { case (u, v) => (u, v, 1L) }.toDF("src", "dst", "w"),
            hops)
          .foreach { case (h, sk) =>
            val got = sk.collect().map { r =>
              (h, r.getLong(0)) -> (1 to 16).map(r.getInt).toVector
            }.toMap
            val want = ref.collect { case ((`h`, node), regs) => (h, node) -> regs }
            assert(got == want, s"trial $trial hop $h")
          }
        spark.sharedState.cacheManager.clearCache()
      }
    }
  }

  /** Plain-Scala replay of labelPropagation (same argmax encode). */
  private def refLpa(edges: Seq[(Long, Long, Long)], rounds: Int): Map[Long, Long] = {
    var lab = edges.map(_._1).distinct.map(n => n -> n).toMap
    for (_ <- 1 to rounds) {
      val w = scala.collection.mutable.Map.empty[(Long, Long), Long].withDefaultValue(0L)
      for ((u, v, wt) <- edges) w((v, lab(u))) += wt
      lab = w.keys.toSeq.groupBy(_._1).map { case (node, ks) =>
        node -> ks.map(_._2).maxBy(l => w((node, l)) * 10000000L - l)
      }
    }
    lab
  }

  private def runLpa(edges: Seq[(Long, Long, Long)], rounds: Int): Map[Long, Long] =
    Graph.labelPropagation(edges.toDF("src", "dst", "w"), rounds)
      .as[(Long, Long)].collect().toMap

  test("labelPropagation: disjoint triangles converge to their min labels") {
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L), (11L, 12L), (10L, 12L))
    val edges = tri.flatMap { case (u, v) => Seq((u, v, 1L), (v, u, 1L)) }
    val got = runLpa(edges, 4)
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))
    assert(got == refLpa(edges, 4))
    spark.sharedState.cacheManager.clearCache()
  }

  test("labelPropagation: heavy edges win; a path oscillates deterministically") {
    // weighted star: node 2 hears label 1 at weight 5 vs label 3 at 1
    val weighted = Seq((1L, 2L, 5L), (2L, 1L, 5L), (3L, 2L, 1L), (2L, 3L, 1L))
    assert(runLpa(weighted, 1) == Map(1L -> 2L, 2L -> 1L, 3L -> 2L))
    // unweighted path 1-2-3: synchronous updates swap colorings each round
    // (the documented bipartite artifact — deterministic, round-parity-dependent)
    val path = Seq((1L, 2L), (2L, 3L)).flatMap { case (u, v) =>
      Seq((u, v, 1L), (v, u, 1L)) }
    assert(runLpa(path, 1) == Map(1L -> 2L, 2L -> 1L, 3L -> 2L))
    assert(runLpa(path, 2) == Map(1L -> 1L, 2L -> 2L, 3L -> 1L))
    spark.sharedState.cacheManager.clearCache()
  }

  test("labelPropagation property: 25 random graphs match the plain-Scala reference") {
    val rnd = new scala.util.Random(20260816L)
    for (case_ <- 1 to 25) {
      val n = 2 + rnd.nextInt(8)
      val undirected = (1 until n).map(i => (rnd.nextInt(i).toLong, i.toLong)) ++
        Seq.fill(rnd.nextInt(n))((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val edges = undirected.filter(p => p._1 != p._2).distinct.flatMap { case (u, v) =>
        val w = 1L + rnd.nextInt(4)
        Seq((u, v, w), (v, u, w))
      }
      val rounds = 1 + rnd.nextInt(4)
      assert(runLpa(edges, rounds) == refLpa(edges, rounds),
        s"case $case_ edges=$edges rounds=$rounds")
    }
    spark.sharedState.cacheManager.clearCache()
  }

  test("re-run determinism and empty-edge rejection") {
    val edges = Seq(("a", "b", 2L), ("b", "a", 1L), ("b", "c", 1L), ("c", "b", 9L))
    assert(run(edges, 5) == run(edges, 5))
    assertThrows[IllegalArgumentException] {
      Graph.pageRank(Seq.empty[(String, String, Long)].toDF("src", "dst", "w"), 3)
    }
    spark.sharedState.cacheManager.clearCache()
  }

  test("pageRank: each round's jobs carry \"Graph.pageRank rN\"; " +
      "the caller's description is restored") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String)]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        seen.add(j.jobId -> String.valueOf(j.properties.getProperty("spark.job.description")))
    }
    val edges = Seq(("a", "b", 2L), ("b", "a", 1L), ("b", "c", 1L), ("c", "b", 9L))
    sc.addSparkListener(listener)
    sc.setJobDescription("caller job")
    try {
      val ranks = Graph.pageRank(edges.toDF("src", "dst", "w"), 3)
      assert(sc.getLocalProperty("spark.job.description") == "caller job")
      assert(ranks.as[(String, Long)].collect().toMap == ref(edges, 3))
      org.apache.spark.ListenerBusDrain(sc)
    } finally {
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
    import scala.jdk.CollectionConverters._
    val descs = seen.asScala.toSeq.sortBy(_._1).map(_._2)
    val rounds = descs.filter(_ != "caller job")
    assert(rounds.nonEmpty && rounds.distinct == (1 to 3).map(r => s"Graph.pageRank r$r"),
      s"every other job runs under the caller's description: $descs")
    assert(rounds == rounds.sorted, s"rounds out of order: $descs")
    // setup (the node count) and the caller's collect keep the caller's label
    assert(descs.head == "caller job" && descs.last == "caller job", descs)
    spark.sharedState.cacheManager.clearCache()
  }

  test("KeyedCheckpoint property: every row sits in partition pmod(hash(key), n), " +
      "for long and string keys with nulls") {
    import org.apache.spark.sql.KeyedCheckpoint
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val rnd = new scala.util.Random(20261017L)
    def check(df: org.apache.spark.sql.DataFrame, what: String): Unit = {
      val cut = KeyedCheckpoint(df, "k")
      if (rnd.nextBoolean()) cut.count() // materialized before the checks, or by them
      val misplaced = cut.where(spark_partition_id() =!= pmod(hash(col("k")), lit(n))).count()
      assert(misplaced == 0L, s"$what: $misplaced rows off their hash partition")
      assert(cut.count() == df.count(), what)
      assert(cut.rdd.getNumPartitions == n, what)
    }
    for (case_ <- 1 to 10) {
      val rows = Seq.fill(rnd.nextInt(200)) {
        (if (rnd.nextInt(8) == 0) None else Some(rnd.nextLong() % 50), rnd.nextInt())
      }
      check(rows.toDF("k", "v"), s"long case $case_ $rows")
      val strs = rows.map { case (k, v) => (k.map(x => s"s$x"), v) }
      check(strs.toDF("k", "v"), s"string case $case_ $strs")
    }
    spark.sharedState.cacheManager.clearCache()
  }

  test("KeyedCheckpoint: an upstream layout with the wrong partition count fails loudly") {
    import org.apache.spark.sql.{ClaimedLayout, KeyedCheckpoint}
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // the scan claims HashPartitioning(k, n), so the repartition is elided,
    // but its rows sit in n + 1 partitions
    val lying = ClaimedLayout(spark.range(40).toDF("k").repartition(n + 1), "k", n)
    val e = intercept[IllegalStateException](KeyedCheckpoint(lying, "k"))
    assert(e.getMessage.contains("`k`") && e.getMessage.contains(s"${n + 1} partitions") &&
      e.getMessage.contains(s"expected $n"), e.getMessage)
  }

  // --- triangle census ------------------------------------------------------

  /** O(n³) reference triangle set over an undirected edge list (pairs in
    * any per-edge order, each unordered pair once). */
  private def refTriangles(edges: Seq[(Long, Long)]): Set[(Long, Long, Long)] = {
    val es = edges.map { case (u, v) => (u min v, u max v) }.toSet
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    (for {
      a <- nodes; b <- nodes if a < b && es((a, b))
      c <- nodes if b < c && es((b, c)) && es((a, c))
    } yield (a, b, c)).toSet
  }

  private def runTriangles(edges: Seq[(Long, Long)]): Seq[(Long, Long, Long)] = {
    val e = edges.toDF("u", "v")
    val tris = Graph.triangles(Graph.orientByDegree(e, Graph.degrees(e)).persist())
    tris.as[(Long, Long, Long)].collect().toSeq
  }

  test("triangles: hand graph — one triangle with a pendant, none double-counted") {
    // 1-2-3 triangle, 4 pendant off 3, 4-5 pendant chain: exactly one triangle
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
    val got = runTriangles(edges)
    assert(got.size == 1)
    assert(got.map { case (a, b, c) => Set(a, b, c) }.toSet == Set(Set(1L, 2L, 3L)))
    spark.sharedState.cacheManager.clearCache()
  }

  test("triangles: two triangles sharing an edge credit the shared corners twice") {
    // 1-2-3 and 2-3-4 share edge (2,3)
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (2L, 4L), (3L, 4L))
    val e = edges.toDF("u", "v")
    val oe = Graph.orientByDegree(e, Graph.degrees(e)).persist()
    val counts = Graph.triangleCounts(Graph.triangles(oe))
      .as[(Long, Long)].collect().toMap
    assert(counts == Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 1L))
    spark.sharedState.cacheManager.clearCache()
  }

  test("triangles: K4 yields 4 triangles, each node in 3") {
    val nodes = Seq(1L, 2L, 3L, 4L)
    val edges = for (a <- nodes; b <- nodes if a < b) yield (a, b)
    val e = edges.toDF("u", "v")
    val oe = Graph.orientByDegree(e, Graph.degrees(e)).persist()
    val tris = Graph.triangles(oe).as[(Long, Long, Long)].collect().toSeq
    assert(tris.size == 4)
    val counts = Graph.triangleCounts(Graph.triangles(oe))
      .as[(Long, Long)].collect().toMap
    assert(counts == nodes.map(_ -> 3L).toMap)
    spark.sharedState.cacheManager.clearCache()
  }

  test("orientByDegree: every edge appears exactly once, directed low-(deg,id) → high") {
    // star center 9 has degree 3; leaves degree 1 → all edges leaf → center;
    // the 1-2 edge ties on degree and breaks by id
    val edges = Seq((9L, 1L), (9L, 2L), (9L, 3L), (1L, 2L))
    val e = edges.toDF("u", "v")
    val oe = Graph.orientByDegree(e, Graph.degrees(e))
      .as[(Long, Long)].collect().toSeq
    assert(oe.size == 4)
    assert(oe.toSet == Set((1L, 9L), (2L, 9L), (3L, 9L), (1L, 2L)))
    spark.sharedState.cacheManager.clearCache()
  }

  test("triangles property: 30 random graphs match the O(n³) reference") {
    val rnd = new scala.util.Random(20260815L)
    for (case_ <- 1 to 30) {
      val n = 3 + rnd.nextInt(9)
      val pairs = Seq.fill(n * 2)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(p => p._1 != p._2)
        .map { case (u, v) => (u min v, u max v) }.distinct
      if (pairs.nonEmpty) {
        val got = runTriangles(pairs)
        // each triangle exactly once, as its (deg,id)-ordered corner path
        assert(got.size == got.toSet.size, s"case $case_ duplicated a triangle")
        val canon = got.map { case (a, b, c) =>
          val s = Seq(a, b, c).sorted; (s(0), s(1), s(2)) }.toSet
        assert(canon == refTriangles(pairs), s"case $case_ pairs=$pairs")
      }
    }
    spark.sharedState.cacheManager.clearCache()
  }

  // --- linkPredict --------------------------------------------------------

  /** Plain-Scala reference: non-adjacent pairs with ≥1 common neighbor →
    * (cn, Σ 1e6/deg(w)). */
  private def refLp(edges: Seq[(Long, Long)]): Map[(Long, Long), (Long, Long)] = {
    val es = edges.map { case (u, v) => (u min v, u max v) }.distinct
    val adj = es.flatMap { case (u, v) => Seq(u -> v, v -> u) }
      .groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2).toSet }
    val nodes = adj.keys.toSeq.sorted
    (for {
      u <- nodes; v <- nodes
      if u < v && !adj(u)(v)
      common = adj(u) & adj(v)
      if common.nonEmpty
    } yield (u, v) -> (common.size.toLong,
      common.toSeq.map(w => 1000000L / adj(w).size).sum)).toMap
  }

  private def runLp(edges: Seq[(Long, Long)],
      cap: Int = 256): Map[(Long, Long), (Long, Long)] = {
    val out = Graph.linkPredict(edges.toDF("u", "v"), cap)
      .as[(Long, Long, Long, Long)].collect()
      .map(t => (t._1, t._2) -> (t._3, t._4)).toMap
    spark.sharedState.cacheManager.clearCache()
    out
  }

  test("linkPredict: square diagonals score both centers; adjacent pairs never appear") {
    val square = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L))
    val got = runLp(square)
    // diagonals (1,3) via {2,4} and (2,4) via {1,3}; every deg = 2
    assert(got == Map((1L, 3L) -> (2L, 1000000L), (2L, 4L) -> (2L, 1000000L)))
  }

  test("linkPredict: a shared hub scores weaker than a shared low-degree neighbor") {
    // 1 and 3 share hub 2 (deg 4); 5 and 6 share pendant-ish 4 (deg 3)
    val edges = Seq((1L, 2L), (2L, 3L), (2L, 5L), (2L, 6L), (4L, 5L), (4L, 6L), (1L, 4L))
    val got = runLp(edges)
    assert(got((1L, 3L))._2 == 250000L)       // via the deg-4 hub
    assert(got((5L, 6L))._2 == 250000L + 333333L) // via hub 2 AND deg-3 node 4
  }

  test("linkPredict: the neighbor cap stars a hub on its smallest neighbors") {
    val star = Seq((10L, 1L), (10L, 2L), (10L, 3L), (10L, 4L))
    assert(runLp(star).keySet.size == 6) // C(4,2) leaf pairs
    // cap 2 keeps the hub's two smallest neighbors — one candidate pair
    assert(runLp(star, cap = 2).keySet == Set((1L, 2L)))
  }

  test("linkPredict property: 25 random graphs match the plain-Scala reference") {
    val rnd = new scala.util.Random(20260819L)
    for (case_ <- 1 to 25) {
      val n = 3 + rnd.nextInt(10)
      val pairs = Seq.fill(n * 2)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(p => p._1 != p._2)
        .map { case (u, v) => (u min v, u max v) }.distinct
      if (pairs.nonEmpty)
        assert(runLp(pairs) == refLp(pairs), s"case $case_ pairs=$pairs")
    }
  }

  // --- kCoreTrace ---------------------------------------------------------

  /** Plain-Scala synchronous peel: `rounds` steps of drop-degree-<k, keep
    * edges with both endpoints surviving; (round, nodes, edges) trace. */
  private def refKCore(edges: Seq[(Long, Long)], k: Int,
      rounds: Int): Seq[(Long, Long, Long)] = {
    var es = edges.map { case (u, v) => (u min v, u max v) }.distinct
    def deg = es.flatMap(e => Seq(e._1, e._2)).groupBy(identity)
      .map { case (n, xs) => n -> xs.size }
    val out = scala.collection.mutable.ArrayBuffer(
      (0L, deg.size.toLong, es.size.toLong))
    for (r <- 1 to rounds) {
      val d = deg
      val keep = d.filter(_._2 >= k).keySet
      es = es.filter(e => keep(e._1) && keep(e._2))
      out += ((r.toLong, deg.size.toLong, es.size.toLong))
    }
    out.toSeq
  }

  private def runKCore(edges: Seq[(Long, Long)], k: Int,
      rounds: Int): Seq[(Long, Long, Long)] = {
    val out = Graph.kCoreTrace(edges.toDF("u", "v"), k, rounds)
      .orderBy("round").as[(Long, Long, Long)].collect().toSeq
    spark.sharedState.cacheManager.clearCache()
    out
  }

  test("kCoreTrace: a triangle with pendant chains peels to the triangle at k=2") {
    // triangle 1-2-3; chain 3-4-5-6 peels one layer per round (6, then 5,
    // then 4) — the synchronous-peel cascade a one-shot degree filter misses
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
    val got = runKCore(edges, 2, 4)
    assert(got == Seq((0L, 6L, 6L), (1L, 5L, 5L), (2L, 4L, 4L),
      (3L, 3L, 3L), (4L, 3L, 3L)))
  }

  test("kCoreTrace: k above the max degree empties the graph in one round") {
    val got = runKCore(Seq((1L, 2L), (2L, 3L)), 3, 2)
    assert(got == Seq((0L, 3L, 2L), (1L, 0L, 0L), (2L, 0L, 0L)))
  }

  test("kCoreTrace property: 25 random graphs match the plain-Scala peel (k=2,3)") {
    val rnd = new scala.util.Random(20260818L)
    for (case_ <- 1 to 25) {
      val n = 3 + rnd.nextInt(10)
      val pairs = Seq.fill(n * 2)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(p => p._1 != p._2)
        .map { case (u, v) => (u min v, u max v) }.distinct
      if (pairs.nonEmpty) {
        for (k <- Seq(2, 3)) {
          assert(runKCore(pairs, k, 4) == refKCore(pairs, k, 4),
            s"case $case_ k=$k pairs=$pairs")
        }
      }
    }
  }

  /** Plain-Scala FULL Bellman-Ford relaxation (== the engine's frontier
    * relaxation — the equivalence weightedDistances documents). */
  private def refWsp(edges: Seq[(String, String, Long)], seeds: Set[String],
      rounds: Int): Map[String, Long] = {
    var d = seeds.map(_ -> 0L).toMap
    for (_ <- 1 to rounds) {
      val upd = scala.collection.mutable.Map.empty[String, Long] ++ d
      for ((u, v, w) <- edges; du <- d.get(u)) {
        val nd = du + w
        if (upd.get(v).forall(_ > nd)) upd(v) = nd
      }
      d = upd.toMap
    }
    d
  }

  private def runWsp(edges: Seq[(String, String, Long)], seeds: Seq[String],
      rounds: Int): Map[String, Long] =
    Graph.weightedDistances(edges.toDF("src", "dst", "w"),
        seeds.toDF("node"), rounds)
      .as[(String, Long)].collect().toMap

  test("weightedDistances: cheap multi-hop beats the heavy direct edge") {
    // a→b→c costs 1+1=2; the direct a→c edge costs 10
    val edges = Seq(("a", "b", 1L), ("b", "c", 1L), ("a", "c", 10L))
    val got = runWsp(edges, Seq("a"), 4)
    assert(got == Map("a" -> 0L, "b" -> 1L, "c" -> 2L))
    // at 1 round only the direct offers exist
    assert(runWsp(edges, Seq("a"), 1) == Map("a" -> 0L, "b" -> 1L, "c" -> 10L))
  }

  test("weightedDistances: the round bound cuts paths longer than r edges") {
    val chain = Seq(("a", "b", 2L), ("b", "c", 2L), ("c", "d", 2L),
      ("d", "e", 2L), ("e", "f", 2L))
    val got = runWsp(chain, Seq("a"), 4)
    assert(got == Map("a" -> 0L, "b" -> 2L, "c" -> 4L, "d" -> 6L, "e" -> 8L))
    assert(!got.contains("f"), "f is 5 edges out — beyond the bound")
  }

  test("weightedDistances: absent seeds are inert; early convergence stops the loop") {
    val edges = Seq(("a", "b", 3L), ("b", "a", 3L))
    // "z" has no edges; graph converges after round 1 of 4
    val got = runWsp(edges, Seq("a", "z"), 4)
    assert(got == Map("a" -> 0L, "b" -> 3L, "z" -> 0L))
  }

  test("weightedDistances property: 25 random digraphs match full relaxation") {
    val rnd = new scala.util.Random(20260822L)
    for (case_ <- 1 to 25) {
      val n = 3 + rnd.nextInt(8)
      val nodes = (0 until n).map(i => s"n$i")
      val edges = Seq.fill(2 * n)(
          (nodes(rnd.nextInt(n)), nodes(rnd.nextInt(n)), 1L + rnd.nextInt(9)))
        .filter(e => e._1 != e._2)
        .groupBy(e => (e._1, e._2)).map(_._2.minBy(_._3)).toSeq
      val seeds = nodes.filter(_ => rnd.nextBoolean()) match {
        case s if s.nonEmpty => s
        case _ => Seq(nodes.head)
      }
      val rounds = 1 + rnd.nextInt(4)
      assert(runWsp(edges, seeds, rounds) == refWsp(edges, seeds.toSet, rounds),
        s"case $case_ rounds=$rounds seeds=$seeds edges=$edges")
    }
    spark.sharedState.cacheManager.clearCache()
  }

  /** Plain-Scala replay of Graph.hits' integer recurrence (init mass div
    * |srcs|, renorm (raw·10000)/(Σraw/10000) each half-round). */
  private def refHits(edges: Seq[(String, String, Long)], rounds: Int,
      mass: Long = 100000000L): (Map[String, Long], Map[String, Long]) = {
    val srcs = edges.map(_._1).distinct
    var h = srcs.map(_ -> mass / srcs.size).toMap
    var a = Map.empty[String, Long]
    for (_ <- 1 to rounds) {
      val ar = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
      for ((u, v, w) <- edges) ar(v) += w * h(u)
      val asum = ar.values.sum
      a = ar.map { case (k, r) => k -> r * 10000L / (asum / 10000L) }.toMap
      val hr = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
      for ((u, v, w) <- edges) hr(u) += w * a(v)
      val hsum = hr.values.sum
      h = hr.map { case (k, r) => k -> r * 10000L / (hsum / 10000L) }.toMap
    }
    (h, a)
  }

  private def runHits(edges: Seq[(String, String, Long)], rounds: Int)
      : (Map[String, Long], Map[String, Long]) = {
    val rows = Graph.hits(edges.toDF("src", "dst", "w"), rounds)
      .as[(String, String, Long)].collect()
    (rows.filter(_._1 == "hub").map(r => r._2 -> r._3).toMap,
      rows.filter(_._1 == "auth").map(r => r._2 -> r._3).toMap)
  }

  test("hits: the universally-bought supplier is top authority; the broad buyer top hub") {
    // c1,c2,c3 all buy s1; only c1 also buys s2 — s1 must out-score s2,
    // and c1 (endorsing both authorities) must out-score c2/c3
    val edges = Seq(("c1", "s1", 1L), ("c2", "s1", 1L), ("c3", "s1", 1L),
      ("c1", "s2", 1L))
    val (hubs, auths) = runHits(edges, 4)
    val (hRef, aRef) = refHits(edges, 4)
    assert(hubs == hRef && auths == aRef)
    assert(auths("s1") > auths("s2"))
    assert(hubs("c1") > hubs("c2") && hubs("c2") == hubs("c3"))
    // renorm keeps each vector within one truncation step of the mass scale
    assert(auths.values.sum <= 100000000L + 10000L)
    assert(hubs.values.sum <= 100000000L + 10000L)
  }

  test("hits: edge weight shifts authority toward the heavy endorsement") {
    val edges = Seq(("c1", "s1", 5L), ("c1", "s2", 1L), ("c2", "s2", 1L))
    val (hubs, auths) = runHits(edges, 3)
    val (hRef, aRef) = refHits(edges, 3)
    assert(hubs == hRef && auths == aRef)
    assert(auths("s1") > auths("s2"))
  }

  test("hits property: 25 random bipartite graphs match the plain-Scala reference") {
    val rnd = new scala.util.Random(20260820L)
    for (case_ <- 1 to 25) {
      val nc = 2 + rnd.nextInt(6)
      val ns = 2 + rnd.nextInt(6)
      // every customer gets ≥1 edge (hits' non-dangling-src precondition)
      val base = (0 until nc).map(c => (s"c$c", s"s${rnd.nextInt(ns)}"))
      val extra = Seq.fill(rnd.nextInt(3 * nc))(
        (s"c${rnd.nextInt(nc)}", s"s${rnd.nextInt(ns)}"))
      val edges = (base ++ extra).distinct
        .map { case (u, v) => (u, v, 1L + rnd.nextInt(5).toLong) }
      val rounds = 1 + rnd.nextInt(4)
      val (hubs, auths) = runHits(edges, rounds)
      val (hRef, aRef) = refHits(edges, rounds)
      assert(hubs == hRef && auths == aRef,
        s"case $case_ rounds=$rounds edges=$edges")
    }
    spark.sharedState.cacheManager.clearCache()
  }
}
