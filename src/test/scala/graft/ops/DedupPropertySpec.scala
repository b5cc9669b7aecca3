package graft.ops

import graft.pipeline.SparkTestSession
import org.scalacheck.{Gen, Prop, Properties}

/** Invariants of the hot-bucket candidate capping (Dedup.cappedPairs) over
  * random blocking relations — the skew guard must never invent pairs, must
  * be exhaustive below the cap, and must keep every hot-bucket member
  * reachable through its representative — and of the connected components
  * over pair lists (Dedup.dupClusters), against a plain-Scala union-find. */
class DedupPropertySpec extends Properties("cappedPairs") {
  private lazy val spark = SparkTestSession.get

  // random (_id, _b) blocking relation: ids 0..n-1, each assigned 1-3 of a
  // handful of bucket keys (small key space forces hot buckets)
  private val genBlocked: Gen[Seq[(Long, Int)]] = for {
    n <- Gen.choose(1, 60)
    keys <- Gen.listOfN(n, Gen.choose(0, 4))
    extra <- Gen.listOfN(n, Gen.option(Gen.choose(0, 4)))
  } yield (0L until n.toLong).zip(keys).map { case (id, k) => (id, k) } ++
    (0L until n.toLong).zip(extra).collect { case (id, Some(k)) => (id, k) }

  private def run(rows: Seq[(Long, Int)], maxBucket: Int): Set[(Long, Long)] = {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val blocked = rows.toDF("_id", "_k")
      .select(col("_id"), struct(col("_k")).as("_b")).distinct()
    Dedup.cappedPairs(blocked, maxBucket)
      .as[(Long, Long)].collect().toSet
  }

  private def sameBucketPairs(rows: Seq[(Long, Int)]): Set[(Long, Long)] = {
    val byKey = rows.distinct.groupBy(_._2).values
    byKey.flatMap { members =>
      val ids = members.map(_._1).distinct
      for (a <- ids; b <- ids if a < b) yield (a, b)
    }.toSet
  }

  property("pairs are ordered and never cross buckets") = Prop.forAll(genBlocked) { rows =>
    val got = run(rows, maxBucket = 8)
    val legal = sameBucketPairs(rows)
    got.forall { case (a, b) => a < b && legal((a, b)) }
  }

  property("uncapped output is exactly the same-bucket pairs") = Prop.forAll(genBlocked) { rows =>
    run(rows, maxBucket = Int.MaxValue) == sameBucketPairs(rows)
  }

  property("every hot-bucket member pairs with its representative") =
    Prop.forAll(genBlocked) { rows =>
      val cap = 4
      val got = run(rows, cap)
      rows.distinct.groupBy(_._2).values.forall { members =>
        val ids = members.map(_._1).distinct.sorted
        ids.size <= cap || {
          val rep = ids.head
          ids.tail.forall(id => got((rep, id)))
        }
      }
    }

  // pair lists over a small id range: random pairs (duplicates, self-pairs
  // and both orientations arise by themselves), stars and chains up to 60
  // deep in either orientation, some pairs repeated or swapped; k = 0 is
  // the empty list
  private val genPairs: Gen[Seq[(Long, Long)]] = {
    val id = Gen.choose(0L, 120L)
    val loose = Gen.choose(1, 30).flatMap(Gen.listOfN(_, Gen.zip(id, id)))
    val star = for {
      hub <- id
      n <- Gen.choose(1, 12)
      leaves <- Gen.listOfN(n, id)
    } yield leaves.map(hub -> _)
    val chain = for {
      start <- id
      depth <- Gen.choose(1, 60)
      flip <- Gen.prob(0.5)
    } yield (start until start + depth).map(i => if (flip) (i + 1, i) else (i, i + 1))
    for {
      k <- Gen.choose(0, 3)
      parts <- Gen.listOfN(k, Gen.oneOf(loose, star, chain))
      again <- Gen.choose(0, 4)
    } yield {
      val all = parts.flatten
      all ++ all.take(again) ++ all.takeRight(again).map(_.swap)
    }
  }

  /** Each node's component minimum, by union-find with the smaller root
    * always kept (so every root is its component's minimum id). */
  private def minIdComponents(pairs: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.toList.sorted.map(x => x -> find(x))
  }

  property("dupClusters assigns every node its component's minimum id") =
    Prop.forAll(genPairs) { pairs =>
      val s = spark
      import s.implicits._
      val got = Dedup.dupClusters(pairs.toDF("idA", "idB")).as[(Long, Long)].collect()
      got.toSeq.sorted == minIdComponents(pairs)
    }.useSeed(org.scalacheck.rng.Seed(20261019L))
}
