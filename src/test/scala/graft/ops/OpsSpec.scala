package graft.ops

import graft.pipeline.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TextOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.get
  import spark.implicits._

  test("tokenCount handles empties and repeated whitespace") {
    val df = Seq("a b  c", "  leading", "", "one").toDF("text")
      .select(TextOps.tokenCount(col("text")).as("n"))
    assert(df.as[Int].collect().toSeq == Seq(3, 1, 0, 1))
  }

  test("bpeish token count splits words, numbers, punct") {
    val n = Seq("hello world, it's 2024!").toDF("text")
      .select(TextOps.bpeishTokenCount(col("text")).as("n")).as[Int].head()
    // hello|world|,|it|'s|202|4|! = 8 (numbers chunk at 3 digits, cl100k-style)
    assert(n == 8)
  }

  test("charShingles and wordShingles sizes") {
    val cs = Seq("abcdef").toDF("text")
      .select(size(TextOps.charShingles(col("text"), 5)).as("n")).as[Int].head()
    assert(cs == 2) // abcde, bcdef
    val ws = Seq("a b c d").toDF("text")
      .select(size(TextOps.wordShingles(col("text"), 3)).as("n")).as[Int].head()
    assert(ws == 2) // "a b c", "b c d"
    val short = Seq("a b").toDF("text")
      .select(TextOps.wordShingles(col("text"), 3).as("g")).as[Seq[String]].head()
    assert(short == Seq("a b"))
  }

  test("langId recognizes stopword-bearing text and CJK") {
    val got = Seq(
      "the cat sat on the mat and it is warm",
      "der Hund ist nicht mit der Katze",
      "el perro y la casa de los niños",
      "le chat est dans la maison pour les enfants",
      "你好世界这是中文文本",
      "zzz qqq xxx").toDF("text")
      .select(TextOps.langId(col("text")).as("l")).as[String].collect().toSeq
    assert(got == Seq("en", "de", "es", "fr", "zh", "und"))
  }

  test("qualityScore penalizes degenerate docs") {
    val scores = Seq(
      "a normal sentence with several distinct meaningful words here",
      "spam spam spam spam spam spam spam spam spam spam",
      "!!! ??? !!! ??? !!! ???",
      "x").toDF("text")
      .select(TextOps.qualityScore(col("text")).as("q")).as[Double].collect().toSeq
    assert(scores(0) > 0.9)
    assert(scores(1) < scores(0)) // repetition penalized
    assert(scores(2) < 0.5) // punctuation penalized
    assert(scores(3) < 0.5) // too short
  }

  test("fingerprint robust to small edits, exact for identical text") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "the quick brown fox jumps over the lazy cat again and again"),
      (4L, "completely different content about spark catalyst planning")).toDF("id", "text")
      .select(col("id"), TextOps.fingerprint(col("text"), 8, 16).as("fp"))
    val fps = df.as[(Long, Seq[Long])].collect().toMap
    assert(fps(1L) == fps(2L))
    val overlap = fps(1L).toSet.intersect(fps(3L).toSet).size
    assert(overlap >= 8, s"near-identical docs share most sketch entries, got $overlap")
    assert(fps(1L).toSet.intersect(fps(4L).toSet).size <= 2)
  }
}

class ContainmentSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.get
  import spark.implicits._

  test("short probe verbatim inside a long doc scores containment 1.0") {
    // the asymmetric case Jaccard misses: the probe's grams are a tiny
    // fraction of the long doc's, so Jaccard ~ |probe|/|doc| → 0, while
    // containment divides by the probe and saturates
    val longDoc = (1 to 40).map(i => s"w$i").mkString(" ") +
      " beta gamma delta epsilon " + (41 to 80).map(i => s"w$i").mkString(" ")
    val corpus = Seq(
      (1L, longDoc),
      (2L, "entirely unrelated words about completely other things")
    ).toDF("doc_id", "text")
    val probes = Seq((100L, "beta gamma delta epsilon")).toDF("doc_id", "text")
    val got = TextOps.containmentScores(
      corpus, "text", "doc_id", probes, "text", "doc_id", n = 3)
      .as[(Long, Long, Long, Double)].collect().toSet
    // probe has 2 word-3-grams, both present in doc 1; doc 2 shares none
    assert(got == Set((1L, 100L, 2L, 1.0)))
  }

  test("sharedWindows flags verbatim 20-char runs; paraphrase and shorts behave") {
    val lifted = "the quick brown fox jumps over the lazy dog tonight"
    val corpus = Seq(
      (1L, s"prefix words then $lifted and a suffix"), // verbatim run → flagged
      (2L, "the quick brown cat naps under the busy dog today"), // paraphrase → clean
      (3L, "tiny")) // shorter than the window: whole-text fallback, no match
      .toDF("doc_id", "text")
    val probes = Seq((100L, lifted)).toDF("doc_id", "text")
    val got = TextOps.sharedWindows(corpus, "text", "doc_id",
        probes, "text", "doc_id", w = 20)
      .as[(Long, Long, Long)].collect().toSet
    // doc 1 contains the probe verbatim, so every probe window (len-19 of
    // them) occurs in it; windows straddling the prefix/suffix boundary
    // exist only in doc 1 and don't match — the count is exactly the
    // probe's own window count
    assert(got.map(x => (x._1, x._2)) == Set((1L, 100L)))
    assert(got.head._3 == lifted.length - 19)
    // whole-text fallback: an exact short duplicate still screens
    val shorts = TextOps.sharedWindows(
      Seq((7L, "tiny")).toDF("doc_id", "text"),
      "text", "doc_id", probes.unionAll(Seq((200L, "tiny")).toDF("doc_id", "text")),
      "text", "doc_id", w = 20)
      .as[(Long, Long, Long)].collect().toSet
    assert(shorts == Set((7L, 200L, 1L)))
  }

  test("containment is probe-normalized: same shared grams, different probe sizes") {
    val corpus = Seq((1L, "a b c d e f")).toDF("doc_id", "text")
    val probes = Seq(
      (100L, "a b c"), // 1 gram, shared → 1.0
      (200L, "a b c x y z")) // 4 grams, 1 shared → 0.25
      .toDF("doc_id", "text")
    val got = TextOps.containmentScores(
      corpus, "text", "doc_id", probes, "text", "doc_id", n = 3)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(got == Set((1L, 100L, 1L, 1.0), (1L, 200L, 1L, 0.25)))
  }
}

class DedupSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.get
  import spark.implicits._

  private val base = "spark catalyst optimizes declarative query plans with predicate pushdown " +
    "column pruning and whole stage code generation for fast scans"
  private def docs = Seq(
    (1L, base),
    (2L, base), // exact dup of 1
    (3L, base.replace("fast", "rapid")), // near dup of 1
    (4L, "an entirely unrelated document discussing distributed consensus protocols raft paxos leader election terms"),
    (5L, "yet another topic entirely namely cooking recipes for sourdough bread hydration ratios")
  ).toDF("doc_id", "text")

  test("exactDedup strict-resolve mode agrees with the default digest path") {
    import spark.implicits._
    val docs = (0 until 500).map(i => (i.toLong, s"text ${i % 333}")).toDF("doc_id", "text")
    val fast = Dedup.exactDedup(docs, "text", "doc_id").as[(String, Long)].collect().toSet
    val strict = Dedup.exactDedup(docs, "text", "doc_id", strictResolve = true)
      .as[(String, Long)].collect().toSet
    assert(fast == strict && fast.size == 333)
  }

  test("exactDedup keeps min id per distinct text") {
    val out = Dedup.exactDedup(docs, "text", "doc_id")
      .orderBy("doc_id").as[(String, Long)].collect().map(_._2).toSeq
    assert(out == Seq(1L, 3L, 4L, 5L))
    val dropped = Dedup.exactDupIds(docs, "text", "doc_id").as[Long].collect().toSeq
    assert(dropped == Seq(2L))
  }

  test("minhash LSH finds exact and near dups, not unrelated docs") {
    val pairs = Dedup.minhashNearDups(docs, "text", "doc_id", k = 64, bands = 16,
      shingle = 5, threshold = 0.5)
      .select("idA", "idB").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L)))
    assert(!pairs.exists { case (a, b) => b == 4L || b == 5L || a == 4L || a == 5L })
  }

  test("minhash estimate approximates true jaccard") {
    val est = Dedup.minhashNearDups(docs.where($"doc_id".isin(1, 2)), "text", "doc_id",
      k = 64, bands = 16, shingle = 5, threshold = 0.0)
      .select("est_jaccard").as[Double].head()
    assert(est == 1.0) // identical docs agree on every minhash
  }

  test("ngram jaccard all-pairs matches LSH-candidates + verify") {
    val brute = Dedup.ngramJaccardAllPairs(docs, "text", "doc_id", n = 3, threshold = 0.5)
      .select("idA", "idB", "jaccard").as[(Long, Long, Double)].collect().toSet
    val cands = Dedup.minhashNearDups(docs, "text", "doc_id", k = 64, bands = 16,
      shingle = 5, threshold = 0.0).select("idA", "idB")
    val lsh = Dedup.ngramJaccardVerify(docs, cands, "text", "doc_id", n = 3, threshold = 0.5)
      .select("idA", "idB", "jaccard").as[(Long, Long, Double)].collect().toSet
    assert(brute == lsh)
    assert(brute.map(p => (p._1, p._2)) == Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("contamination flags docs sharing n-grams with probes; clean docs pass") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "a quick brown fox jumps over a sleepy cat"), // shares 3-grams with 1
      (3L, "completely unrelated text about spark catalyst plans")
    ).toDF("doc_id", "text")
    val probes = Seq((100L, "the quick brown fox jumps high")).toDF("doc_id", "text")
    val hits = TextOps.contamination(docs, "text", "doc_id", probes, "text", "doc_id",
      n = 3, minShared = 2).as[(Long, Long, Long)].collect().toSet
    assert(hits.map(_._1) == Set(1L, 2L)) // doc 3 untouched
    assert(hits.forall(_._2 == 100L) && hits.forall(_._3 >= 2L))
  }

  test("bloomDecontam: candidates == exact at low load; saturated filter forces FPs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"), // 3 shared grams
      (2L, "a quick brown fox jumps over a sleepy cat"),   // 2 shared grams
      (3L, "completely unrelated text about spark catalyst plans")
    ).toDF("doc_id", "text")
    val probes = Seq((100L, "the quick brown fox jumps high")).toDF("doc_id", "text")
    def run(m: Int) = TextOps.bloomDecontam(docs, "text", "doc_id",
        probes, "text", "doc_id", mBits = m)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    // default load: 16 probe positions in 131072 bits — per-gram FP odds
    // ~2e-16, so candidates equal exact and the clean doc has NO row
    assert(run(131072) == Map(1L -> ((3L, 3L)), 2L -> ((2L, 2L))))
    // one-bit filter: every gram is a candidate (bloom_shared = the doc's
    // distinct gram count), exact untouched — the FP audit path exercised
    assert(run(1) == Map(1L -> ((7L, 3L)), 2L -> ((7L, 2L)), 3L -> ((5L, 0L))))
    spark.sharedState.cacheManager.clearCache()
  }

  test("quotaPerKey keeps the first N per key deterministically") {
    import spark.implicits._
    val rows = (0 until 30).map(i => (s"k${i % 3}", i.toLong)).toDF("k", "v")
    val capped = Sampling.quotaPerKey(rows, "k", "v", quota = 4)
    val byKey = capped.as[(String, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    assert(byKey.keySet == Set("k0", "k1", "k2"))
    assert(byKey("k0").toSeq == Seq(0L, 3L, 6L, 9L)) // earliest four
    assert(byKey.values.forall(_.length == 4))
  }

  test("hashSplit: deterministic, complete, and near the declared weights") {
    import spark.implicits._
    val docs = (0 until 2000).map(i => s"document number $i with some text").toDF("text")
    val w = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val a = docs.withColumn("s", Sampling.hashSplit($"text", w, salt = "v1"))
    val b = docs.withColumn("s", Sampling.hashSplit($"text", w, salt = "v1"))
    assert(a.except(b).isEmpty && b.except(a).isEmpty) // rerun-stable
    val counts = a.groupBy("s").count().as[(String, Long)].collect().toMap
    assert(counts.keySet == Set("train", "val", "test"))
    assert(counts("train") > 1500 && counts("train") < 1700) // ~0.8 of 2000
    assert(counts("val") > 120 && counts("val") < 280)
    // different salt gives a different (but still deterministic) assignment
    val c = docs.withColumn("s", Sampling.hashSplit($"text", w, salt = "v2"))
    assert(c.except(a).count() > 0)
    // sample flag keeps a stable ~fraction subset
    val kept = docs.where(Sampling.sampledBy($"text", 0.25, salt = "q")).count()
    assert(kept > 400 && kept < 600)
  }

  test("sampledBy/hashSplit: saturated thresholds keep everything (no 5-char hex)") {
    import spark.implicits._
    val docs = (0 until 1000).map(i => s"document number $i").toDF("text")
    // fraction 1.0 used to emit threshold '10000' which lexically sits
    // BELOW most 4-char keys ('ffff' > '10000') — keeping only ~6% of rows
    assert(docs.where(Sampling.sampledBy($"text", 1.0, salt = "q")).count() == 1000)
    assert(docs.where(Sampling.sampledBy($"text", 0.9999999, salt = "q")).count() == 1000)
    assert(docs.where(Sampling.sampledBy($"text", 0.0, salt = "q")).count() == 0)
    // a zero-weight tail split: the saturated middle threshold absorbs the
    // remainder; the tail split gets exactly its declared 0% share
    val w = Seq("a" -> 0.5, "b" -> 0.5, "c" -> 0.0)
    val counts = docs.withColumn("s", Sampling.hashSplit($"text", w))
      .groupBy("s").count().as[(String, Long)].collect().toMap
    assert(counts.getOrElse("c", 0L) == 0L)
    assert(counts("a") + counts("b") == 1000L)
    assert(counts("a") > 400 && counts("b") > 400)
  }

  test("dupClusters: transitive chains collapse to min-id components") {
    import spark.implicits._
    // components: {1,2,3,9} via chain 1-2, 2-3, 3-9; {5,7}; pair list order-free
    val pairs = Seq((2L, 3L), (1L, 2L), (3L, 9L), (5L, 7L)).toDF("idA", "idB")
    val got = Dedup.dupClusters(pairs).as[(Long, Long)].collect().sortBy(_._1)
    assert(got.toSeq == Seq((1L, 1L), (2L, 1L), (3L, 1L), (5L, 5L), (7L, 5L), (9L, 1L)))
    // a long chain still converges within maxIter (diameter rounds)
    val chain = (0L until 12L).map(i => (i, i + 1)).toDF("idA", "idB")
    val reps = Dedup.dupClusters(chain).as[(Long, Long)].collect()
    assert(reps.forall(_._2 == 0L) && reps.length == 13)
  }

  test("dupClusters: pointer jumping converges a 300-deep chain in O(log D) rounds") {
    import spark.implicits._
    // plain min-propagation needs ~300 rounds; path doubling needs ~12,
    // inside the default maxIter=20
    val chain = (0L until 300L).map(i => (i, i + 1)).toDF("idA", "idB")
    val reps = Dedup.dupClusters(chain).as[(Long, Long)].collect()
    assert(reps.length == 301 && reps.forall(_._2 == 0L))
  }

  test("dupClusters: superseded round checkpoints are released, not accumulated") {
    import spark.implicits._
    // r6 bench showed a 3.3–17.5 s spread across identical q48 runs in one
    // JVM: every round's localCheckpoint blocks stayed persisted until GC
    // pressure stalled a run. The 300-chain runs ~12 rounds including the
    // pointer-jump branch (two checkpoints per round), so an accumulation
    // regression shows up as dozens of leaked persistent RDDs here.
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val chain = (0L until 300L).map(i => (i, i + 1)).toDF("idA", "idB")
    val out = Dedup.dupClusters(chain)
    val reps = out.as[(Long, Long)].collect()
    assert(reps.length == 301 && reps.forall(_._2 == 0L))
    val afterRun = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(afterRun.size <= 1, s"leaked persisted RDDs beyond the final frame: $afterRun")
    Dedup.releaseClusterLabels(out) // caller-side release of the final frame
    val afterRelease = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(afterRelease.isEmpty, s"final frame not released: $afterRelease")
  }

  test("dupClusters: labels each phase's jobs and restores the caller's description") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String)]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        seen.add(j.jobId -> String.valueOf(j.properties.getProperty("spark.job.description")))
    }
    // a 12-deep chain needs several rounds, so r1 and r2 both show up
    val chain = (0L until 12L).map(i => (i, i + 1)).toDF("idA", "idB")
    sc.addSparkListener(listener)
    sc.setJobDescription("caller job")
    try {
      val reps = Dedup.dupClusters(chain).as[(Long, Long)].collect()
      assert(reps.length == 13 && reps.forall(_._2 == 0L))
      org.apache.spark.ListenerBusDrain(sc)
    } finally {
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
    import scala.jdk.CollectionConverters._
    val descs = seen.asScala.toSeq.sortBy(_._1).map(_._2)
    val labelled = descs.filter(_.startsWith("Graph.dupClusters "))
    val phases = labelled.distinct
    assert(phases.size >= 2, s"expected at least two rounds: $descs")
    assert(phases == (1 to phases.size).map(r => s"Graph.dupClusters r$r"))
    assert(labelled == labelled.sortBy(phases.indexOf(_)), s"phases out of order: $descs")
    // the caller's collect afterwards carries the caller's own description
    val after = descs.reverse.takeWhile(!_.startsWith("Graph.dupClusters "))
    assert(after.nonEmpty && after.forall(_ == "caller job"),
      s"caller description not restored: $descs")
  }

  test("dupClusters: the labels carry their stored size, small enough to broadcast") {
    import spark.implicits._
    // four rounds of three joins each: the estimate recorded at each cut
    // multiplies through them, far past any broadcast threshold
    val chain = (0L until 12L).map(i => (i, i + 1)).toDF("idA", "idB")
    val labels = Dedup.dupClusters(chain)
    val threshold = spark.sessionState.conf.autoBroadcastJoinThreshold
    val size = labels.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(size > 0 && size <= threshold, s"estimated $size bytes for 13 labels")
    Dedup.releaseClusterLabels(labels)
  }

  test("dupClusters: fails loudly instead of returning truncated labels") {
    import spark.implicits._
    // diameter 12 > maxIter 3: silently returning would split the chain
    // into several clusters indistinguishable from converged output
    val chain = (0L until 12L).map(i => (i, i + 1)).toDF("idA", "idB")
    val e = intercept[IllegalStateException] { Dedup.dupClusters(chain, maxIter = 3) }
    assert(e.getMessage.contains("maxIter"))
  }

  test("hot-bucket cap: pathological identical corpus stays linear (star pairs)") {
    import spark.implicits._
    // 5000 identical docs collapse every band/chunk bucket onto one key —
    // uncapped this is ~12.5M candidate pairs per band; capped it must
    // produce exactly n-1 star pairs to the representative, quickly.
    val n = 5000
    val docs = (0 until n).map(i => (i.toLong, "the same boilerplate text appears everywhere"))
      .toDF("doc_id", "text")
    val mh = Dedup.minhashNearDups(docs, "text", "doc_id",
      k = 16, bands = 4, shingle = 3, threshold = 0.5, maxBucket = 64)
    assert(mh.count() == n - 1)
    assert(mh.where($"idA" === 0).count() == n - 1) // all star to min id
    val sh = Dedup.simhashNearDups(docs, "text", "doc_id", maxBucket = 64)
    assert(sh.count() == n - 1)
    assert(sh.where($"idA" === 0 && $"hamming" === 0).count() == n - 1)
  }

  test("simhash: identical docs distance 0; near dups small; unrelated far") {
    val sh = docs.select($"doc_id", Dedup.simhash(col("text")).as("sh"))
      .as[(Long, Long)].collect().toMap
    assert(sh(1L) == sh(2L))
    assert(java.lang.Long.bitCount(sh(1L) ^ sh(3L)) <= 8)
    assert(java.lang.Long.bitCount(sh(1L) ^ sh(4L)) > 10)
    val pairs = Dedup.simhashNearDups(docs, "text", "doc_id", maxDistance = 3)
      .select("idA", "idB").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("embedding near-dups via SRP-LSH finds planted duplicate vector") {
    val rnd = new scala.util.Random(7)
    def vec(): Array[Float] = Array.fill(16)(rnd.nextGaussian().toFloat)
    val v1 = vec()
    val v1close = v1.zipWithIndex.map { case (x, i) => if (i == 0) x + 0.01f else x }
    val rows = Seq((1L, v1.toSeq), (2L, v1close.toSeq)) ++
      (3L to 40L).map(i => (i, vec().toSeq))
    val df = rows.toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDups(df, "embedding", "vec_id", dim = 16,
      planes = 16, bands = 4, threshold = 0.99)
      .select("idA", "idB").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
  }
}

class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.get
  import spark.implicits._

  test("cosine matches manual computation") {
    val df = Seq((Seq(1f, 0f, 0f), Seq(0.6f, 0.8f, 0f))).toDF("a", "b")
    val c = df.select(Similarity.cosine(col("a"), col("b")).as("c")).as[Double].head()
    assert(math.abs(c - 0.6) < 1e-6)
    val z = Seq((Seq(0f, 0f), Seq(1f, 1f))).toDF("a", "b")
      .select(Similarity.cosine(col("a"), col("b")).as("c")).as[Double].head()
    assert(z == 0.0)
  }

  test("brute-force topk ranks the planted twin first") {
    val rnd = new scala.util.Random(11)
    def vec(): Seq[Float] = Seq.fill(8)(rnd.nextGaussian().toFloat)
    val v = vec()
    val twin = v.map(_ * 2.0f) // same direction => cosine 1
    val corpus = ((1L, v) +: (2L, twin) +: (3L to 30L).map(i => (i, vec()))).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(corpus, "embedding", "vec_id",
      corpus.where($"vec_id" === 1), "embedding", "vec_id", k = 3)
    val first = top.where(col("rank") === 1).select("neighborId").as[Long].head()
    assert(first == 2L)
  }

  test("lsh topk finds the twin (identical signature) and agrees with brute force") {
    val rnd = new scala.util.Random(13)
    def vec(): Seq[Float] = Seq.fill(8)(rnd.nextGaussian().toFloat)
    val v = vec()
    val twin = v.map(_ * 3.0f)
    val corpus = ((1L, v) +: (2L, twin) +: (3L to 60L).map(i => (i, vec()))).toDF("vec_id", "embedding")
    val top = Similarity.lshTopK(corpus, "embedding", "vec_id",
      corpus.where($"vec_id" === 1), "embedding", "vec_id", dim = 8, k = 1, nPlanes = 6)
    val first = top.select("neighborId").as[Long].head()
    assert(first == 2L)
  }

  // --- literal vs model IVF quantizer equivalence pin -----------------------

  test("ivfAssignModel === ivfAssign on random vectors over a shared model") {
    val dim = 8
    val centroids: Array[Array[Double]] = {
      val rnd = new scala.util.Random(7)
      Array.fill(6)(Array.fill(dim)(rnd.nextGaussian()))
    }
    val rnd = new scala.util.Random(11)
    val vecs = (0 until 200).map(i => (i.toLong, Seq.fill(dim)(rnd.nextGaussian().toFloat)))
    val df = vecs.toDF("vec_id", "embedding")
      .select(col("vec_id"),
        Similarity.ivfAssign(col("embedding"), centroids).as("lit_cid"),
        Similarity.ivfAssignModel(col("embedding"), centroids).as("model_cid"))
    assert(df.where(col("lit_cid") =!= col("model_cid")).count() == 0)
    // and the assignment is non-degenerate: more than one bucket used
    assert(df.select("lit_cid").distinct().count() > 1)
  }

  test("ivf exact tie resolves to the higher centroid id in both forms") {
    // duplicate centroid => two cids with bit-identical cosine; array_max on
    // (sim, cid) structs and the >=-ascending fold must both take the later id
    val dup: Array[Array[Double]] = Array(
      Array(1.0, 0.0, 0.0),
      Array(0.0, 1.0, 0.0),
      Array(1.0, 0.0, 0.0)) // same direction as cid 0
    val got = Seq((1L, Seq(2.0f, 0.0f, 0.0f)), (2L, Seq(0.0f, 3.0f, 0.0f)))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"),
        Similarity.ivfAssign(col("embedding"), dup).as("lit_cid"),
        Similarity.ivfAssignModel(col("embedding"), dup).as("model_cid"))
      .orderBy("vec_id")
      .as[(Long, Int, Int)].collect().toSeq
    assert(got == Seq((1L, 2, 2), (2L, 1, 1)))
  }

  test("ivf NULL embedding returns the -1 sentinel in both forms") {
    val rows = Seq(
      (1L, Some(Seq(1.0f, 0.5f, 0.1f))), // clean
      (2L, None)) // null embedding -> cosine NULL vs every centroid
    val cs: Array[Array[Double]] = Array(Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 0.0))
    val got = rows.toDF("vec_id", "embedding")
      .select(col("vec_id"),
        Similarity.ivfAssign(col("embedding"), cs).as("lit_cid"),
        Similarity.ivfAssignModel(col("embedding"), cs).as("model_cid"))
      .orderBy("vec_id")
      .as[(Long, Int, Int)].collect().toSeq
    assert(got.head._1 == 1L && got.head._2 == got.head._3 && got.head._2 >= 0)
    assert(got(1) == ((2L, -1, -1)))
    // null ELEMENTS are outside the dot kernel's contract (reads as 0.0, see
    // VecExpressions scaladoc) — but the two quantizers must still agree
    val dirty = Seq((3L, Seq(Some(1.0f), None, Some(0.1f))))
      .toDF("vec_id", "embedding")
      .select(
        Similarity.ivfAssign(col("embedding"), cs).as("lit_cid"),
        Similarity.ivfAssignModel(col("embedding"), cs).as("model_cid"))
      .as[(Int, Int)].head()
    assert(dirty._1 == dirty._2)
  }

  test("ivfProbe slot 1 equals ivfAssign; probes are distinct, similarity-ordered") {
    val dim = 8
    val centroids: Array[Array[Double]] = {
      val rnd = new scala.util.Random(7)
      Array.fill(6)(Array.fill(dim)(rnd.nextGaussian()))
    }
    val rnd = new scala.util.Random(29)
    val vecs = (0 until 200).map(i => (i.toLong, Seq.fill(dim)(rnd.nextGaussian().toFloat)))
    val df = vecs.toDF("vec_id", "embedding")
      .select(col("vec_id"),
        Similarity.ivfAssign(col("embedding"), centroids).as("cid"),
        Similarity.ivfProbe(col("embedding"), centroids, 3).as("probes"))
      .as[(Long, Int, Seq[Int])].collect()
    df.foreach { case (id, cid, probes) =>
      assert(probes.length == 3 && probes.head == cid,
        s"vec $id: probe head ${probes.head} != assigned $cid")
      assert(probes.distinct.length == 3, s"vec $id: duplicate probed buckets $probes")
    }
    // tie rule carries over: a duplicated centroid direction probes the
    // HIGHER cid first, like the assignment
    val dup: Array[Array[Double]] = Array(
      Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 0.0), Array(1.0, 0.0, 0.0))
    val tied = Seq((1L, Seq(2.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
      .select(Similarity.ivfProbe(col("embedding"), dup, 2).as("p"))
      .as[Seq[Int]].head()
    assert(tied == Seq(2, 0))
    // an all-NULL-cosine vector probes the -1 sentinel first
    val nul = Seq((2L, Option.empty[Seq[Float]])).toDF("vec_id", "embedding")
      .select(Similarity.ivfProbe(col("embedding"), dup, 2).as("p"))
      .as[Seq[Int]].head()
    assert(nul.head == -1)
  }

  test("ivfProbeModel === ivfProbe slot-for-slot (random, tie, and NULL vectors)") {
    val dim = 8
    val centroids: Array[Array[Double]] = {
      val rnd = new scala.util.Random(17)
      Array.fill(6)(Array.fill(dim)(rnd.nextGaussian()))
    }
    val rnd = new scala.util.Random(31)
    val vecs = (0 until 200).map(i => (i.toLong, Seq.fill(dim)(rnd.nextGaussian().toFloat)))
    val diff = vecs.toDF("vec_id", "embedding")
      .select(col("vec_id"),
        Similarity.ivfProbe(col("embedding"), centroids, 3).as("lit_p"),
        Similarity.ivfProbeModel(col("embedding"), centroids, 3).as("model_p"))
      .where(col("lit_p") =!= col("model_p"))
    assert(diff.count() == 0)
    val dup: Array[Array[Double]] = Array(
      Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 0.0), Array(1.0, 0.0, 0.0))
    val edge = Seq(
      (1L, Some(Seq(2.0f, 0.0f, 0.0f))), // exact tie between cids 0 and 2
      (2L, Option.empty[Seq[Float]])) // all-NULL cosine -> sentinel first
      .toDF("vec_id", "embedding")
      .select(col("vec_id"),
        Similarity.ivfProbe(col("embedding"), dup, 2).as("lit_p"),
        Similarity.ivfProbeModel(col("embedding"), dup, 2).as("model_p"))
      .orderBy("vec_id")
      .as[(Long, Seq[Int], Seq[Int])].collect().toSeq
    assert(edge.map(e => (e._1, e._2)) == Seq((1L, Seq(2, 0)), (2L, Seq(-1, 2))))
    assert(edge.forall(e => e._2 == e._3))
  }

  test("ivfAssign's scoring tree appears exactly once in the plan (no duplicated argmax)") {
    // regression guard: a when(max.sim isNull ...) wrapper around the argmax
    // referenced the whole K*dim scoring tree twice and cost q47 +43%; the
    // sentinel-struct formulation must keep a single array_max node
    val centroids: Array[Array[Double]] = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    // range input: non-foldable, so the expression survives into the plan
    val df = spark.range(3)
      .select(array(col("id").cast("double"), lit(0.0d)).as("embedding"))
      .select(Similarity.ivfAssign(col("embedding"), centroids).as("cid"))
    val plan = df.queryExecution.executedPlan.toString
    assert("array_max".r.findAllIn(plan).size == 1, plan.take(800))
  }

  test("ivf zero vector is a defined (non-null) assignment, identical in both forms") {
    // cosine() maps zero-norm to 0.0 for every centroid -> an all-tie, so the
    // rule says: highest cid, not the sentinel
    val cs: Array[Array[Double]] = Array(Array(1.0, 0.0), Array(0.0, 1.0), Array(1.0, 1.0))
    val got = Seq((1L, Seq(0.0f, 0.0f))).toDF("vec_id", "embedding")
      .select(
        Similarity.ivfAssign(col("embedding"), cs).as("lit_cid"),
        Similarity.ivfAssignModel(col("embedding"), cs).as("model_cid"))
      .as[(Int, Int)].head()
    assert(got == ((2, 2)))
  }

  test("pqEncode picks the L2-nearest code per subspace; codebook members self-encode") {
    // 2 subspaces of 2 dims, 2 codes: book vectors are the axis pairs
    val books: Array[Array[Array[Double]]] = Array(
      Array(Array(1.0, 0.0), Array(0.0, 1.0)), // subspace 0
      Array(Array(2.0, 0.0), Array(0.0, 2.0))) // subspace 1
    val rows = Seq(
      (1L, Seq(0.9f, 0.1f, 0.1f, 1.9f)), // near code 0 then code 1
      (2L, Seq(0.0f, 1.0f, 2.0f, 0.0f)), // exactly code 1 then code 0
      (3L, Seq(1.0f, 0.0f, 0.0f, 2.0f))) // exactly code 0 then code 1
    val got = rows.toDF("vec_id", "embedding")
      .select(col("vec_id"), Similarity.pqEncode(col("embedding"), books).as("c"))
      .as[(Long, Seq[Int])].collect().toMap
    assert(got(1L) == Seq(0, 1) && got(2L) == Seq(1, 0) && got(3L) == Seq(0, 1))
  }

  test("pqNormSq and pqAdcDot equal the reconstruction's norm and dot, by hand") {
    val books: Array[Array[Array[Double]]] = Array(
      Array(Array(1.0, 0.0), Array(0.0, 3.0)),
      Array(Array(2.0, 0.0), Array(0.0, 2.0)))
    // codes (1, 0) -> reconstruction [0,3, 2,0]: normSq = 9 + 4 = 13
    val q = Seq(1.0, 2.0, 3.0, 4.0)
    val df = Seq((1L, q.map(_.toFloat), Seq(1, 0))).toDF("vec_id", "qv", "codes")
      .select(
        Similarity.pqNormSq(col("codes"), books).as("nsq"),
        Similarity.pqAdcDot(col("qv").cast("array<double>"), col("codes"), books).as("adot"))
      .as[(Double, Double)].head()
    assert(df._1 == 13.0)
    assert(df._2 == (2.0 * 3.0) + (3.0 * 2.0)) // q·[0,3,2,0] = 6 + 6
  }

  test("pqTrainBooks: one Lloyd round moves entries to 6-dp cluster means; empty cells keep seeds") {
    // subspace 0: two clusters near the seeds; subspace 1: EVERY vector
    // nearest code 0, so code 1's cell is empty and must keep its seed
    val seed: Array[Array[Array[Double]]] = Array(
      Array(Array(1.0, 0.0), Array(0.0, 1.0)),
      Array(Array(1.0, 0.0), Array(100.0, 100.0)))
    val rows = Seq(
      (1L, Seq(0.9, 0.1, 1.2, 0.0)),
      (2L, Seq(1.1, 0.1, 0.8, 0.0)),
      (3L, Seq(0.1, 0.9, 1.0, 0.3)))
    val df = rows.toDF("vec_id", "embedding")
    val trained = Similarity.pqTrainBooks(df, "embedding", seed, rounds = 1)
    // subspace 0 code 0 <- mean of vecs 1, 2 = (1.0, 0.1); code 1 <- vec 3
    assert(trained(0)(0).toSeq == Seq(1.0, 0.1))
    assert(trained(0)(1).toSeq == Seq(0.1, 0.9))
    // subspace 1 code 0 <- mean of all three = (1.0, 0.1); code 1 unchanged
    assert(trained(1)(0).toSeq == Seq(1.0, 0.1))
    assert(trained(1)(1).toSeq == Seq(100.0, 100.0))
    // determinism: a second run returns identical books
    val again = Similarity.pqTrainBooks(df, "embedding", seed, rounds = 1)
    assert(trained.flatten.map(_.toSeq).toSeq == again.flatten.map(_.toSeq).toSeq)
  }

  test("pq ADC ranking finds a planted twin through the codes alone") {
    // corpus = twin of the query + orthogonal noise; the twin's codes
    // reconstruct closest, so ADC must rank it first without reading floats
    val rnd = new scala.util.Random(11)
    val dim = 16
    def vec(): Seq[Float] = Seq.fill(dim)(rnd.nextGaussian().toFloat)
    val qv = vec()
    val corpus = ((1L, qv) +: (2L to 40L).map(i => (i, vec())))
    val sample = corpus.take(8).map(_._2.map(_.toDouble).toArray).toArray
    val books = Array.tabulate(4)(m => sample.map(_.slice(m * 4, m * 4 + 4)))
    val enc = corpus.toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<double>"))
      .withColumn("codes", Similarity.pqEncode(col("embedding"), books))
      .withColumn("nsq", Similarity.pqNormSq(col("codes"), books))
    val qLit = array(qv.map(x => lit(x.toDouble)): _*)
    val top = enc
      .select(col("vec_id"),
        (Similarity.pqAdcDot(qLit, col("codes"), books) /
          (Similarity.norm(qLit) * sqrt(col("nsq")))).as("approx"))
      .orderBy(col("approx").desc).limit(1)
      .as[(Long, Double)].head()
    assert(top._1 == 1L, s"expected the twin, got $top")
  }
}

class MultimodalSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.get
  import spark.implicits._

  private def docs = (0L until 100L).map(i => (i, s"document body number $i " * 3)).toDF("doc_id", "text")

  test("fakeAssets carries payload bytes + typed metadata") {
    val assets = Multimodal.fakeAssets(docs)
    assert(assets.schema("payload").dataType.typeName == "binary")
    val m = assets.select("meta.modality").distinct().as[String].collect().toSet
    assert(m == Set("image", "audio", "video"))
    val sz = assets.select(col("meta.sizeBytes") === length(col("payload"))).as[Boolean].collect()
    assert(sz.forall(identity))
  }

  test("extractFeatures: normalized 16-bin features, bounded batches") {
    val feats = Multimodal.extractFeatures(Multimodal.fakeAssets(docs), batchSize = 16)
    val rows = feats.collect()
    assert(rows.length == 100)
    rows.foreach { r =>
      val f = r.getAs[scala.collection.Seq[Float]]("features")
      assert(f.length == 16)
      assert(math.abs(f.sum - 1.0f) < 1e-3)
      assert(r.getAs[Int]("batch_size") <= 16)
    }
  }

  test("real ImageIO decode: a checked-in PNG decodes to known luminance pixels") {
    // 8x4 RGB gradient, pixel (x,y) = (x*32 % 256, y*64 % 256, (x+y)*16 % 256);
    // BT.601 integer luma of row 0 is the fixed sequence below
    val png = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      getClass.getResource("/fixtures/gradient_8x4.png").toURI))
    val pixels = Multimodal.decodeImageBytes(png).get
    assert(pixels.length == 8 * 4)
    assert(pixels.take(8).map(_ & 0xFF).toSeq == Seq(0, 11, 22, 34, 45, 56, 68, 79))
    // the feature vector is the histogram of DECODED pixels, not file bytes
    val expectedHist = Array(2, 1, 3, 3, 4, 2, 3, 4, 3, 3, 2, 1, 1, 0, 0, 0)
      .map(_ / 32.0f)
    assert(Multimodal.decode(png).toSeq == expectedHist.toSeq)
    assert(Multimodal.decode(png).toSeq != Multimodal.fakeDecode(png).toSeq)
    // non-image payloads (the synthetic text assets the oracle replays)
    // take the raw-byte fallback — unchanged arithmetic
    val text = "not an image at all".getBytes("UTF-8")
    assert(Multimodal.decodeImageBytes(text).isEmpty)
    assert(Multimodal.decode(text).toSeq == Multimodal.fakeDecode(text).toSeq)
    // truncated image bytes degrade to the fallback, never crash
    val cut = png.take(20)
    assert(Multimodal.decode(cut).length == 16)
  }

  test("extractFeatures routes real images through ImageIO inside the Spark pipeline") {
    val png = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      getClass.getResource("/fixtures/gradient_8x4.png").toURI))
    val rows = Seq(
      (1L, png, "image", "png"),
      (2L, "plain text payload".getBytes("UTF-8"), "image", "png"))
    val assets = rows.toDF("asset_id", "payload", "m", "f")
      .select(col("asset_id"), col("payload"),
        struct(col("m").as("modality"), col("f").as("format"),
          lit(8).as("width"), lit(4).as("height"),
          lit(0L).as("durationMs"), length(col("payload")).cast("long").as("sizeBytes"))
          .as("meta"))
    val feats = Multimodal.extractFeatures(assets, batchSize = 8)
      .collect().map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Float]]("features")).toMap
    val expectedHist = Array(2, 1, 3, 3, 4, 2, 3, 4, 3, 3, 2, 1, 1, 0, 0, 0).map(_ / 32.0f)
    assert(feats(1L) == expectedHist.toSeq)
    assert(feats(2L) == Multimodal.fakeDecode("plain text payload".getBytes("UTF-8")).toSeq)
  }

  private def makeWav(rate: Float, channels: Int, samples: Array[Short]): Array[Byte] = {
    import javax.sound.sampled._
    val fmt = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED, rate, 16,
      channels, channels * 2, rate, false)
    val bytes = new Array[Byte](samples.length * 2)
    var i = 0
    while (i < samples.length) {
      bytes(2 * i) = (samples(i) & 0xFF).toByte
      bytes(2 * i + 1) = ((samples(i) >> 8) & 0xFF).toByte
      i += 1
    }
    val ais = new AudioInputStream(new java.io.ByteArrayInputStream(bytes),
      fmt, samples.length / channels)
    val out = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  test("real javax.sound decode: a generated WAV yields exact stream stats") {
    // 100 ms mono square wave at ±1000: mean-square is EXACTLY 1e6
    val mono = makeWav(8000f, 1,
      Array.tabulate[Short](800)(i => if (i % 2 == 0) 1000 else -1000))
    val st = Multimodal.decodeAudio(mono).get
    assert(st.sampleRate == 8000 && st.channels == 1 && st.bitDepth == 16)
    assert(st.durationMs == 100L)
    assert(st.meanSq == 1e6 && st.peak == 1000 && st.decoded)
    // stereo: 400 frames at 16 kHz = 25 ms, same sample stats
    val stereo = makeWav(16000f, 2,
      Array.tabulate[Short](800)(i => if (i % 2 == 0) 2000 else -2000))
    val st2 = Multimodal.decodeAudio(stereo).get
    assert(st2.sampleRate == 16000 && st2.channels == 2)
    assert(st2.durationMs == 25L && st2.meanSq == 4e6 && st2.peak == 2000)
    // non-audio payloads fall back — never claimed, never crash
    assert(Multimodal.decodeAudio("just some text".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.decodeAudio(mono.take(16)).isEmpty)
  }

  private def makeAudio(rate: Float, channels: Int, samples: Array[Short],
      fileType: javax.sound.sampled.AudioFileFormat.Type,
      bigEndian: Boolean): Array[Byte] = {
    import javax.sound.sampled._
    val fmt = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED, rate, 16,
      channels, channels * 2, rate, bigEndian)
    val bytes = new Array[Byte](samples.length * 2)
    var i = 0
    while (i < samples.length) {
      val (lo, hi) = if (bigEndian) (2 * i + 1, 2 * i) else (2 * i, 2 * i + 1)
      bytes(lo) = (samples(i) & 0xFF).toByte
      bytes(hi) = ((samples(i) >> 8) & 0xFF).toByte
      i += 1
    }
    val ais = new AudioInputStream(new java.io.ByteArrayInputStream(bytes),
      fmt, samples.length / channels)
    val out = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais, fileType, out)
    out.toByteArray
  }

  test("AIFF and AU containers decode with the same exact stats as WAV") {
    import javax.sound.sampled.AudioFileFormat
    // identical square wave in all three containers must yield identical
    // decoded stats — container parsing, not arithmetic, is what varies
    val samples = Array.tabulate[Short](800)(i => if (i % 2 == 0) 1000 else -1000)
    for (t <- Seq(AudioFileFormat.Type.AIFF, AudioFileFormat.Type.AU)) {
      val payload = makeAudio(8000f, 1, samples, t, bigEndian = true)
      val st = Multimodal.decodeAudio(payload).get
      assert(st.sampleRate == 8000 && st.channels == 1 && st.bitDepth == 16,
        s"$t header mismatch: $st")
      assert(st.durationMs == 100L && st.meanSq == 1e6 && st.peak == 1000 && st.decoded,
        s"$t stats mismatch: $st")
    }
    // stereo AIFF at 16 kHz, same per-sample stats
    val st2 = Multimodal.decodeAudio(makeAudio(16000f, 2,
      Array.tabulate[Short](800)(i => if (i % 2 == 0) 2000 else -2000),
      AudioFileFormat.Type.AIFF, bigEndian = true)).get
    assert(st2.sampleRate == 16000 && st2.channels == 2 && st2.durationMs == 25L)
    assert(st2.meanSq == 4e6 && st2.peak == 2000)
  }

  test("fakeAudioStats is the exact byte arithmetic the q101 oracle replays") {
    val p = "abc".getBytes("UTF-8") // 97, 98, 99
    val st = Multimodal.fakeAudioStats(p, durationMs = 120L)
    assert(st.sampleRate == 8000 + (3 % 8) * 1000 && st.channels == 1 + (3 % 2))
    assert(st.bitDepth == 16 && st.durationMs == 120L)
    assert(st.meanSq == (97 * 97 + 98 * 98 + 99 * 99).toDouble / 3)
    assert(st.peak == 99 && !st.decoded)
    val empty = Multimodal.fakeAudioStats(Array.emptyByteArray, 0L)
    assert(empty.meanSq == 0.0 && empty.peak == 0)
  }

  test("audioStats routes real WAVs through javax.sound inside the Spark pipeline") {
    val wav = makeWav(8000f, 1,
      Array.tabulate[Short](800)(i => if (i % 2 == 0) 1000 else -1000))
    val rows = Seq((1L, wav), (2L, "plain text payload".getBytes("UTF-8")))
    val assets = rows.toDF("asset_id", "payload")
      .select(col("asset_id"), col("payload"),
        struct(lit("audio").as("modality"), lit("wav").as("format"),
          lit(0).as("width"), lit(0).as("height"),
          lit(720L).as("durationMs"),
          length(col("payload")).cast("long").as("sizeBytes")).as("meta"))
    val got = Multimodal.audioStats(assets, batchSize = 8).collect()
      .map(r => r.getLong(0) -> r).toMap
    val real = got(1L)
    assert(real.getInt(1) == 8000 && real.getInt(2) == 1 &&
      real.getLong(4) == 100L && real.getDouble(5) == 1e6 &&
      real.getInt(6) == 1000 && real.getBoolean(7))
    val fb = got(2L)
    val p = "plain text payload".getBytes("UTF-8")
    assert(fb.getInt(1) == 8000 + (p.length % 8) * 1000 &&
      fb.getLong(4) == 720L && !fb.getBoolean(7)) // meta duration passes through
    assert(fb.getDouble(5) == p.map(b => (b & 0xFF).toLong * (b & 0xFF)).sum.toDouble / p.length)
  }

  test("sampleFrames: video assets explode to at most N frames") {
    val frames = Multimodal.sampleFrames(Multimodal.fakeAssets(docs), frames = 4)
    val perAsset = frames.groupBy("asset_id").count().select("count").as[Long].collect()
    assert(perAsset.nonEmpty && perAsset.forall(_ <= 4))
    val nVideo = Multimodal.fakeAssets(docs).where(col("meta.modality") === "video").count()
    assert(frames.select("asset_id").distinct().count() == nVideo)
  }

  /** A real multi-frame GIF, written via the stock ImageIO sequence writer:
    * constant-gray frames, so each decoded luma plane is a known constant
    * (BT.601 of (g,g,g) is exactly g — the weights sum to 1000). */
  private def animatedGif(grays: Seq[Int], w: Int, h: Int): Array[Byte] = {
    val baos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(baos)
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    grays.foreach { g =>
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val rgb = (g << 16) | (g << 8) | g
      var y = 0
      while (y < h) { var x = 0; while (x < w) { img.setRGB(x, y, rgb); x += 1 }; y += 1 }
      writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
    }
    writer.endWriteSequence(); ios.close(); writer.dispose()
    baos.toByteArray
  }

  test("decodeFrames: a real animated GIF yields every frame's luma plane") {
    val gif = animatedGif(Seq(0, 50, 100, 150, 200), w = 6, h = 3)
    val frames = Multimodal.decodeFrames(gif).get
    assert(frames.length == 5)
    assert(frames.map(f => f.map(_ & 0xFF).toSet) ==
      IndexedSeq(Set(0), Set(50), Set(100), Set(150), Set(200)))
    assert(frames.forall(_.length == 18))
    // single-frame images still decode (n=1); non-images don't
    val png = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      getClass.getResource("/fixtures/gradient_8x4.png").toURI))
    assert(Multimodal.decodeFrames(png).get.length == 1)
    assert(Multimodal.decodeFrames("just text".getBytes("UTF-8")).isEmpty)
  }

  test("sampleFramesDecoded: real frames evenly spaced, fallback keeps shape") {
    val gif = animatedGif(Seq(0, 50, 100, 150, 200), w = 6, h = 3)
    val assets = Seq(
      (1L, gif),
      (2L, ("x" * 64).getBytes("UTF-8"))).toDF("asset_id", "payload")
    val got = Multimodal.sampleFramesDecoded(assets, maxFrames = 3, batchSize = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getAs[scala.collection.Seq[Float]]("features"), r.getBoolean(4)))
    val real = got.filter(_._1 == 1L).sortBy(_._2)
    // 5 frames at maxFrames=3 -> picks 0, 2, 4 -> grays 0, 100, 200 ->
    // all histogram mass in bins 0, 6, 12
    assert(real.map(r => (r._2, r._3, r._5)).toSeq ==
      Seq((0, 5, true), (1, 5, true), (2, 5, true)))
    assert(real.map(_._4.indexOf(1.0f)).toSeq == Seq(0, 6, 12))
    val fake = got.filter(_._1 == 2L)
    assert(fake.length == 3 && fake.forall(r => r._3 == 3 && !r._5))
    // fallback features are the slice byte-histogram: 'x' = 0x78 -> bin 7
    assert(fake.forall(_._4(7) == 1.0f))
  }

  test("real resize: the fixture PNG scales to fit, re-decodes, and text passes through") {
    val png = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      getClass.getResource("/fixtures/gradient_8x4.png").toURI))
    // 8x4 fit into 4x4 → scale 0.5 → 4x2; never upscale: 16x16 keeps 8x4
    val down = Multimodal.resizeImage(png, 4, 4).get
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(down))
    assert(img.getWidth == 4 && img.getHeight == 2)
    val same = Multimodal.resizeImage(png, 16, 16).get
    val img2 = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(same))
    assert(img2.getWidth == 8 && img2.getHeight == 4)
    assert(Multimodal.resizeImage("not an image".getBytes("UTF-8"), 4, 4).isEmpty)
    // frame-level: image rows resize + re-decode, text rows pass through
    val rows = Seq((1L, png, 8, 4), (2L, "plain text".getBytes("UTF-8"), 0, 0))
    val assets = rows.toDF("asset_id", "payload", "w", "h")
      .select(col("asset_id"), col("payload"),
        struct(lit("image").as("modality"), lit("png").as("format"),
          col("w").as("width"), col("h").as("height"),
          lit(0L).as("durationMs"), length(col("payload")).cast("long").as("sizeBytes"))
          .as("meta"))
    val out = Multimodal.resizeImageAssets(assets, maxW = 4, maxH = 4)
      .collect().map(r => r.getLong(0) -> ((r.getInt(2), r.getInt(3), r.getBoolean(4)))).toMap
    assert(out(1L) == ((4, 2, true)))
    assert(out(2L) == ((0, 0, false)))
  }

  test("resizePayload bounds payload and fixes metadata") {
    val resized = Multimodal.resizePayload(Multimodal.fakeAssets(docs), maxBytes = 32)
    val ok = resized.select(length(col("payload")) <= 32 && col("meta.sizeBytes") <= 32)
      .as[Boolean].collect()
    assert(ok.forall(identity))
  }

  // --- perceptual-hash near-dup report (q122) ------------------------------

  private def payloadFor(bits: Long): Array[Byte] = graft.TestRefs.payloadFor(bits)

  private def assetsDf(rows: Seq[(Long, Array[Byte], String)]) =
    rows.toDF("asset_id", "payload", "m")
      .select(col("asset_id"), col("payload"),
        struct(col("m").as("modality"), lit("png").as("format"),
          lit(8).as("width"), lit(4).as("height"), lit(0L).as("durationMs"),
          length(col("payload")).cast("long").as("sizeBytes")).as("meta"))

  test("phashNearDupReport: planted hamming pairs, exact dup, modality isolation") {
    val p = 0x5A5A5A5A5A5A5A5AL // 32 ones — payloadFor's k precondition holds
    assert(graft.expr.PHash.phash64(payloadFor(p)) == p)
    val near = p ^ 3L // 2 flips, both in band 3 → bands 0-2 still collide
    // 5 flips in EVERY 16-bit band → no shared band with p or near (and
    // hamming 20 ≫ 3 even if a bucket had paired it)
    val far = p ^ 0x1F001F001F001F00L
    val rows = Seq(
      (1L, payloadFor(p), "image"),
      (2L, payloadFor(near), "image"),
      (3L, payloadFor(p), "image"), // exact dup of 1
      (4L, payloadFor(far), "image"),
      (5L, payloadFor(p), "audio")) // same hash, other modality: no pair
    val r = Multimodal.phashNearDupReport(assetsDf(rows))
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(r == Seq(
      ("audio", 1L, 1L, 0L, 0L, 0L),
      ("image", 4L, 3L, 3L, 3L, 3L)))
  }

  test("phashAdmit: corpus witness, in-batch order, modality isolation — incl. under cap 1") {
    val p = 0x5A5A5A5A5A5A5A5AL
    val q = 0x0F0F0F0F0F0F0F0FL // shares no band with p
    val corpus = assetsDf(Seq(
      (10L, payloadFor(p), "image"),
      (11L, payloadFor(p ^ 0x1F001F001F001F00L), "image"),
      (12L, payloadFor(p), "audio")))
    val batch = assetsDf(Seq(
      (1L, payloadFor(p ^ 3L), "image"), // hamming 2 vs corpus 10 → rejected
      (2L, payloadFor(p), "image"), // exact corpus dup → rejected
      (3L, payloadFor(q), "image"), // novel → admitted
      (4L, payloadFor(q), "image"), // dup of EARLIER batch id 3 → rejected
      (5L, payloadFor(p), "video"))) // corpus has no video → admitted
    for (cap <- Seq(1024, 1)) {
      // cap 1 makes every multi-member bucket hot; corpus-first ranking
      // must keep corpus 10 as the witness for probe 2, and the batch-only
      // q bucket must keep id 3 (so 4 is still rejected, 3 still admitted)
      val admitted = Multimodal.phashAdmit(corpus, batch, maxBucket = cap)
        .select("asset_id").as[Long].collect().toSet
      assert(admitted == Set(3L, 5L), s"cap=$cap")
    }
    // corpus is never screened against itself: admitting an empty batch
    // forms no pairs and returns an empty frame
    assert(Multimodal.phashAdmit(corpus, batch.limit(0)).count() == 0)
  }

  test("phash: re-encodings of the same pixels collide on the decoded hash; fallback is the kernel") {
    val png = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      getClass.getResource("/fixtures/gradient_8x4.png").toURI))
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    // lossless re-encode via an alpha-free copy (BMP writers reject ARGB)
    val rgb = new java.awt.image.BufferedImage(img.getWidth, img.getHeight,
      java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    rgb.getGraphics.drawImage(img, 0, 0, null)
    val out = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(rgb, "bmp", out))
    val bmp = out.toByteArray
    assert(!java.util.Arrays.equals(bmp, png))
    // same pixels, different container bytes: the DECODED hash collides
    // where the byte kernel cannot — the point of a perceptual hash
    assert(Multimodal.phash64Any(png) == Multimodal.phash64Any(bmp))
    assert(graft.expr.PHash.phash64(png) != graft.expr.PHash.phash64(bmp))
    // unclaimed payloads take the fused kernel's exact arithmetic
    val text = "not an image at all".getBytes("UTF-8")
    assert(Multimodal.phash64Any(text) == graft.expr.PHash.phash64(text))
    val cut = png.take(20)
    assert(Multimodal.phash64Any(cut) == graft.expr.PHash.phash64(cut))
    // and the segment-constant spec payloads stay on the fallback too —
    // the planted-pattern fixtures above remain valid under phashCol
    val planted = payloadFor(0x5A5A5A5A5A5A5A5AL)
    assert(Multimodal.phash64Any(planted) == graft.expr.PHash.phash64(planted))
  }

  test("phash: WAV/AIFF/AU re-encodings of the same samples collide on the decoded hash") {
    import javax.sound.sampled.AudioFileFormat
    // a RAMP (not a flat square wave — that hashes to 0 everywhere and
    // proves nothing): per-segment mean |amplitude| varies, so the hash is
    // nontrivial and container-independent
    val samples = Array.tabulate[Short](1024)(i =>
      (if (i % 2 == 0) i else -i).toShort)
    val wav = makeWav(8000f, 1, samples)
    val aiff = makeAudio(8000f, 1, samples, AudioFileFormat.Type.AIFF, bigEndian = true)
    val au = makeAudio(8000f, 1, samples, AudioFileFormat.Type.AU, bigEndian = true)
    val hw = Multimodal.phash64Any(wav)
    assert(hw != 0L && hw == Multimodal.phash64Any(aiff)
      && hw == Multimodal.phash64Any(au))
    // the byte kernel sees three different containers
    assert(graft.expr.PHash.phash64(wav) != graft.expr.PHash.phash64(aiff))
    // a truncated container no reader claims falls back to the kernel
    val cut = wav.take(10)
    assert(Multimodal.phash64Any(cut) == graft.expr.PHash.phash64(cut))
  }

  test("audio phash matches a plain-Scala envelope reference on random waves") {
    val rnd = new scala.util.Random(17)
    for (_ <- 1 to 20) {
      val n = 64 + rnd.nextInt(2000)
      val samples = Array.fill[Short](n)((rnd.nextInt(65536) - 32768).toShort)
      val wav = makeWav(8000f, 1, samples)
      // reference: 64-segment mean |amplitude| vs global mean, BigInt side
      val abs = samples.map(s => math.abs(s.toInt).toLong)
      val total = abs.sum
      val want = (0 until 64).foldLeft(0L) { (acc, seg) =>
        val lo = (seg.toLong * n / 64).toInt
        val hi = ((seg + 1).toLong * n / 64).toInt
        val sum = abs.slice(lo, hi).sum
        if (BigInt(sum) * n > BigInt(total) * (hi - lo)) acc | (1L << (63 - seg))
        else acc
      }
      assert(Multimodal.phash64Any(wav) == want, s"n=$n")
    }
  }

  test("phashNearPairs + dupClusters: a transitive chain collapses to one rep") {
    val p = 0x5A5A5A5A5A5A5A5AL
    val b = p ^ 3L // hd(A,B) = 2
    val c = p ^ 0x1FL // hd(A,C) = 5 — NOT near; hd(B,C) = 3 — near
    val rows = Seq(
      (1L, payloadFor(p), "image"),
      (2L, payloadFor(b), "image"),
      (3L, payloadFor(c), "image"),
      (4L, payloadFor(p ^ 0x1F001F001F001F00L), "image"), // isolated
      (5L, payloadFor(p), "audio")) // pattern shadow in another modality
    val pairsDf = Multimodal.phashNearPairs(assetsDf(rows)).persist()
    val pairs = pairsDf.select("idA", "idB", "hamming")
      .as[(Long, Long, Int)].collect().toSet
    // A-C (hamming 5) is correctly absent even though they share bands 0-2
    assert(pairs == Set((1L, 2L, 2), (2L, 3L, 3)))
    // ...yet the CLUSTER joins all three through B — the q48 semantics
    val clusters = Dedup.dupClusters(pairsDf.select("idA", "idB"))
      .as[(Long, Long)].collect().toMap
    assert(clusters == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("phashNearDupReport: hot bucket takes the star cap, not all-pairs") {
    val p = 0x00FF00FF00FF00FFL
    val rows = (1L to 4L).map(i => (i, payloadFor(p), "image"))
    val r = Multimodal.phashNearDupReport(assetsDf(rows), maxBucket = 2)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    // 4 identical hashes over cap 2: star pairs (1,2)(1,3)(1,4) — O(bucket)
    // pair count — yet every asset still surfaces as a near-dup member
    assert(r == Seq(("image", 4L, 1L, 3L, 3L, 4L)))
  }
}
