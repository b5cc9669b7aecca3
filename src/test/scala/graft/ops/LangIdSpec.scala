package graft.ops

import graft.pipeline.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class LangIdSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.get
  import spark.implicits._

  test("charGrams: multiplicity kept, short text collapses to one gram") {
    val got = Seq("ABAB", "ab", "").toDF("t")
      .select(LangId.charGrams(col("t"), 3)).as[Seq[String]].collect().toSeq
    assert(got == Seq(Seq("aba", "bab"), Seq("ab"), Seq("")))
  }

  test("fit + predict: distinctive char patterns classify a held-out doc; " +
      "OOV grams fall to the per-language floor") {
    val train = Seq(
      ("xx", "aaa bbb aaa"), ("xx", "aab baa aaa"),
      ("yy", "zzz yyy zzz"), ("yy", "zzy yzz zzz")
    ).toDF("lang", "text")
    val (model, stats) = LangId.fit(train, "text", "lang", n = 3)
    val test = Seq(
      (1L, "aaa aab"),     // xx-shaped
      (2L, "zzz yzz"),     // yy-shaped
      (3L, "qqq qqq qqq")  // all OOV → priors + OOV floors decide, total order
    ).toDF("doc_id", "text")
    val got = LangId.predict(test, "text", "doc_id", n = 3, model, stats)
      .as[(Long, String)].collect().toMap
    assert(got(1L) == "xx")
    assert(got(2L) == "yy")
    assert(Set("xx", "yy").contains(got(3L)),
      "an all-OOV doc still gets a deterministic prediction")
    // determinism: re-running fit+predict reproduces the same predictions
    val (m2, s2) = LangId.fit(train, "text", "lang", n = 3)
    val again = LangId.predict(test, "text", "doc_id", n = 3, m2, s2)
      .as[(Long, String)].collect().toMap
    assert(got == again)
    spark.sharedState.cacheManager.clearCache()
  }

  test("binding the fused scorers leaves the function registry alone " +
      "(LangId.predictColumn and StreamingDecontam.maxSharedCol, 5 builds each)") {
    val train = Seq(("xx", "aaa bbb aaa"), ("yy", "zzz yyy zzz")).toDF("lang", "text")
    val (model, stats) = LangId.fit(train, "text", "lang", n = 3)
    val idx = graft.streaming.StreamingDecontam.probeIndex(
      Seq("aaa bbb aaa ccc").toDF("text"), "text", n = 3)
    val docs = Seq("aaa bbb aaa ccc ddd", "zzz yyy zzz").toDF("text")
    def build(): Seq[(String, Int)] =
      docs.select(LangId.predictColumn(col("text"), 3, model, stats),
          graft.streaming.StreamingDecontam.maxSharedCol(col("text"), 3, idx))
        .as[(String, Int)].collect().toSeq
    val registry = spark.sessionState.functionRegistry
    // the first build settles whatever the session registers once
    val first = build()
    assert(first == Seq(("xx", 2), ("yy", 0)), first)
    val before = registry.listFunction().size
    for (_ <- 1 to 5) assert(build() == first)
    assert(registry.listFunction().size == before,
      "each binding must not leave a session function behind")
    spark.sharedState.cacheManager.clearCache()
  }

  test("prediction key is tie-free: identical scores resolve by language " +
      "index, never arbitrarily") {
    // two languages with IDENTICAL training text → identical likelihoods
    // and priors; the ·M − lang_idx encoding must pick the alphabetically
    // FIRST language for every doc
    val train = Seq(("aa", "foo bar foo"), ("bb", "foo bar foo"))
      .toDF("lang", "text")
    val (model, stats) = LangId.fit(train, "text", "lang", n = 3)
    val test = Seq((1L, "foo bar"), (2L, "bar foo foo")).toDF("doc_id", "text")
    val got = LangId.predict(test, "text", "doc_id", n = 3, model, stats)
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "aa", 2L -> "aa"))
    spark.sharedState.cacheManager.clearCache()
  }

  test("argmaxMultiplier: smallest power of two ≥ |langs|") {
    assert(LangId.argmaxMultiplier(1) == 1L)
    assert(LangId.argmaxMultiplier(2) == 2L)
    assert(LangId.argmaxMultiplier(3) == 4L)
    assert(LangId.argmaxMultiplier(8) == 8L)
    assert(LangId.argmaxMultiplier(9) == 16L)
    assert(LangId.argmaxMultiplier(20) == 32L)
    assert(LangId.argmaxMultiplier(1000) == 1024L)
    assertThrows[IllegalArgumentException](LangId.argmaxMultiplier(0))
  }

  test("20-language fit + predict: every language routes correctly past " +
      "the old 8-language cap; streaming annotate agrees") {
    val langs = (0 until 20).map(i => f"l$i%02d")
    // distinctive alphabets: language i writes only the ('a'+i) letter
    def textOf(i: Int): String = {
      val c = ('a' + i).toChar.toString * 3
      s"$c $c $c"
    }
    val train = langs.zipWithIndex.flatMap { case (l, i) =>
      Seq((l, textOf(i)), (l, textOf(i) + " " + textOf(i)))
    }.toDF("lang", "text")
    val (model, stats) = LangId.fit(train, "text", "lang", n = 3)
    assert(stats.count() == 20)
    val test = langs.indices.map(i => (i.toLong, textOf(i))).toDF("doc_id", "text")
    val got = LangId.predict(test, "text", "doc_id", n = 3, model, stats)
      .as[(Long, String)].collect().toMap
    langs.indices.foreach(i => assert(got(i.toLong) == langs(i),
      s"doc $i should route to ${langs(i)}, got ${got(i.toLong)}"))
    // streaming mirror: fitModel no longer rejects >8 languages and the
    // UDF argmax agrees with batch predict on identical text
    val sm = graft.streaming.StreamingLangId.fitModel(
      train, "text", "lang", n = 3)
    assert(sm.langs.length == 20)
    val ann = graft.streaming.StreamingLangId.annotate(test, sm)
      .select(col("doc_id"), col("lang_pred")).as[(Long, String)]
      .collect().toMap
    assert(ann == got)
    spark.sharedState.cacheManager.clearCache()
  }

  test("saveModel/loadModel: the parquet hand-off predicts bit-identically " +
      "to the fitting session; streaming modelFromSaved agrees too") {
    val train = Seq(
      ("xx", "aaa bbb aaa"), ("xx", "aab baa aaa"),
      ("yy", "zzz yyy zzz"), ("yy", "zzy yzz zzz")
    ).toDF("lang", "text")
    val (model, stats) = LangId.fit(train, "text", "lang", n = 3)
    val path = new java.io.File(
      sys.props("java.io.tmpdir"), "graft_langid_spec_model").getAbsolutePath
    LangId.saveModel(model, stats, path)
    val test = Seq((1L, "aaa aab"), (2L, "zzz yzz"), (3L, "qqq"))
      .toDF("doc_id", "text")
    val direct = LangId.predict(test, "text", "doc_id", n = 3, model, stats)
      .as[(Long, String)].collect().toMap
    val (lm, ls) = LangId.loadModel(spark, path)
    val loaded = LangId.predict(test, "text", "doc_id", n = 3, lm, ls)
      .as[(Long, String)].collect().toMap
    assert(loaded == direct)
    val sm = graft.streaming.StreamingLangId.modelFromSaved(spark, path)
    val ann = graft.streaming.StreamingLangId.annotate(test, sm)
      .select(col("doc_id"), col("lang_pred")).as[(Long, String)]
      .collect().toMap
    assert(ann == direct)
    spark.sharedState.cacheManager.clearCache()
  }

  test("a 1-micro-unit score edge survives at langIdx ≥ 8 (the widened " +
      "multiplier regression)") {
    // hand-built model: 20 languages, equal priors; on gram 'abc' language
    // l19 (idx 19) scores EXACTLY 1 micro-unit above l08 (idx 8). Under
    // the old fixed ·8 key, key(l08) − key(l19) = 8·1 − (19−8) < 0 flipped
    // the argmax to l08; the power-of-two multiplier (32 ≥ 20) must keep
    // the true winner l19.
    val langs = (0 until 20).map(i => f"l$i%02d")
    val h0 = Seq("abc").toDF("g")
      .select(PortableSketch.h60(col("g"))).as[Long].first()
    val stats = langs.zipWithIndex.map { case (l, i) =>
      (l, i.toLong, 0L, -1000000L) // lang, lang_idx, prior_u, oov_llu
    }.toDF("lang", "lang_idx", "prior_u", "oov_llu")
    val model = Seq((h0, "l08", -5L), (h0, "l19", -4L))
      .toDF("_h", "lang", "llu")
    val test = Seq((1L, "abc")).toDF("doc_id", "text")
    val got = LangId.predict(test, "text", "doc_id", n = 3, model, stats)
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "l19"),
      "the 1-micro-unit edge at langIdx 19 must beat langIdx 8")
    spark.sharedState.cacheManager.clearCache()
  }

  // round-17 kernel-fusion parity: the fused CharGramH60 / LangIdPredict
  // kernels must reproduce the expression-tree reference formulation
  // bit-for-bit — multi-byte code points (Spark substr walks code points,
  // the kernel walks UTF-8 char starts), empty/short texts, whitespace-only
  // docs, tie scores, all-OOV docs.
  private def adversarialDocs = Seq(
    (1L, "aaa bbb aaa"), (2L, "zzz yyy zzz"), (3L, ""), (4L, "ab"),
    (5L, "ÁÉÍ çüß Ωφλ"), (6L, "日本語のテキストです"), (7L, "aAa BbB aAa"),
    (8L, "   "), (9L, "ééé combining"), (10L, "🙂🙂🙂 emoji aaa"),
    (11L, "mixed ascii и кириллица zzz"), (12L, "qqq qqq qqq"),
    (13L, "a"), (14L, "\t\nx\r y"), (15L, "ZZZ YZZ")
  ).toDF("doc_id", "text")

  test("CharGramH60 kernel equals h60(charGrams(lower(text))) with " +
      "multiplicity on an adversarial corpus") {
    graft.expr.GraftFunctions.ensureRegistered(spark)
    val kernel = adversarialDocs
      .select(col("doc_id"),
        graft.expr.GraftFunctions.charGramH60(col("text"), 3).as("hs"))
      .as[(Long, Seq[Long])].collect().toMap
    val reference = adversarialDocs
      .select(col("doc_id"), lower(col("text")).as("_t"))
      .select(col("doc_id"), LangId.charGrams(col("_t"), 3).as("gs"))
      .select(col("doc_id"),
        transform(col("gs"), g => conv(substring(md5(g.cast("binary")), 1, 15),
          16, 10).cast("long")).as("hs"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(kernel == reference)
  }

  test("fused LangIdPredict equals the relational reference formulation " +
      "on an adversarial corpus (unicode, ties, OOV, short texts)") {
    val train = Seq(
      ("xx", "aaa bbb aaa"), ("xx", "aab baa aaa"), ("xx", "ÁÉÍ çüß aaa"),
      ("yy", "zzz yyy zzz"), ("yy", "zzy yzz zzz"), ("yy", "Ωφλ 日本語 zzz"),
      ("ww", "и кириллица text"), ("ww", "кириллица и text")
    ).toDF("lang", "text")
    val (model, stats) = LangId.fit(train, "text", "lang", n = 3)
    val fused = LangId.predict(adversarialDocs, "text", "doc_id", n = 3,
      model, stats).as[(Long, String)].collect().toMap
    val reference = LangId.predictReference(adversarialDocs, "text",
      "doc_id", n = 3, model, stats).as[(Long, String)].collect().toMap
    assert(fused == reference)
    assert(fused.keySet == (1L to 15L).toSet,
      "every non-null-text doc must receive a prediction on both paths")
    spark.sharedState.cacheManager.clearCache()
  }

  test("fused predict drops null-text docs exactly like the reference") {
    val train = Seq(("xx", "aaa"), ("yy", "zzz")).toDF("lang", "text")
    val (model, stats) = LangId.fit(train, "text", "lang", n = 3)
    val withNull = Seq((1L, Some("aaa")), (2L, None), (3L, Some("zzz")))
      .toDF("doc_id", "text")
    val fused = LangId.predict(withNull, "text", "doc_id", n = 3,
      model, stats).as[(Long, String)].collect().toMap
    val reference = LangId.predictReference(withNull, "text", "doc_id",
      n = 3, model, stats).as[(Long, String)].collect().toMap
    assert(fused == reference)
    assert(fused.keySet == Set(1L, 3L))
    spark.sharedState.cacheManager.clearCache()
  }
}
