package graft.ops

import org.apache.spark.sql.{Column, DataFrame, ExpressionColumn}
import org.apache.spark.sql.functions._

/** Language identification — the classifier that DERIVES the `lang` column
  * every per-language operator downstream consumes (q18/q19/q57/q82/q121/
  * q126/q152 all take it as given; a real crawl has to infer it). The
  * fastText/CLD shape reduced to its Spark-native, oracle-replayable core:
  * a multinomial Naive Bayes over char n-gram counts.
  *
  * Determinism discipline (the [[TrainedGate]] precedent): the model is
  * INTEGER micro-unit log-likelihoods —
  * `llu(lang, gram) = round(1e6 · ln((c+1) / (tot_lang + V)))` (Laplace),
  * `oov_llu(lang) = round(1e6 · ln(1 / (tot_lang + V)))` for grams unseen
  * in training, `prior_u(lang) = round(1e6 · ln(n_lang / n))` — so scoring
  * is pure BIGINT arithmetic any engine replays exactly; only the ln at
  * FIT time touches libm, rounded with the house 5e-7 margin (the same
  * exposure TrainedGate's 6-dp gradient rounding accepts). Prediction ties
  * are impossible by construction: the argmax ranks `score·M − langIdx`
  * where M = [[argmaxMultiplier]] (the smallest power of two ≥ |langs|,
  * computed at fit time from the model) and langIdx is the alphabetical
  * index — M > maxIdx guarantees a 1-micro-unit score edge always beats
  * the index term, at ANY language count, while equal scores still
  * resolve to the alphabetically first language.
  *
  * Scale shape: fitting aggregates (lang, gram) counts — alphabet^n ×
  * |langs| bounded, never corpus-bounded. Scoring collects that bounded
  * model to the driver and runs ONE fused codegen projection over the
  * documents ([[graft.expr.LangIdPredict]], see [[predict]]): map-only,
  * no gram explode, no join, no doc-keyed shuffle — the fit-on-sample /
  * score-everything posture (at 100 TB you fit on a labeled sample, as
  * q158 does via its content-hash split). The relational shape (gram
  * explode + broadcast model join + doc-keyed aggregate) survives only as
  * [[predictReference]], the reference LangIdSpec checks the kernel
  * against. A streaming mirror scores arriving micro-batches against the
  * saved model with no state store.
  */
object LangId {

  /** The tie-break multiplier for the `score·M − langIdx` argmax key: the
    * smallest power of two ≥ `nLangs`. Any M > max(langIdx) keeps the key
    * order consistent with scores (a 1-micro-unit edge contributes ≥ M to
    * the key, the index term at most nLangs−1 < M); the power of two makes
    * the constant stable under small |langs| drift and trivially
    * replayable in oracle SQL (`min(1::BIGINT << g) ... >= count(*)`).
    * Scores are ≲ 1e12 micro-units (1e6-scale llu × gram counts), so even
    * M = 2^20 (a million languages) stays far inside BIGINT. */
  def argmaxMultiplier(nLangs: Int): Long = {
    require(nLangs >= 1, s"argmaxMultiplier: need ≥1 language, got $nLangs")
    var m = 1L
    while (m < nLangs) m <<= 1
    m
  }

  /** Overlapping char n-grams of lower(text), WITH multiplicity
    * (multinomial counts need them); text shorter than n collapses to one
    * whole-text gram, so every document scores.
    *
    * CALLER CONTRACT: pass an ATTRIBUTE (a projected column), not an
    * expression — Catalyst re-evaluates an expression captured inside the
    * transform lambda PER ELEMENT (the minhashNearDups two-projection
    * lesson), which turns the shingling O(len·n) into O(len²): measured
    * 26 s vs 3 s on the 10× corpus. [[gramRows]] does the projection. */
  def charGrams(text: Column, n: Int): Column = {
    val t = lower(text)
    when(length(t) < n, array(t))
      .otherwise(transform(sequence(lit(1), length(t) - (n - 1)),
        i => t.substr(i, lit(n))))
  }

  /** One row per (carried cols, gram hash), via the fused
    * [[graft.expr.CharGramH60]] kernel: one pass over the UTF8String's
    * bytes lowers, shingles, and hashes (no per-gram String allocation, a
    * LONG explode payload instead of gram strings). Hash values equal the
    * reference formulation `h60(explode(charGrams(lower(text))))` exactly
    * (pinned in LangIdSpec); [[gramRowsReference]] keeps that formulation
    * for the parity spec. */
  private def gramRows(docs: DataFrame, textCol: String,
      carry: Seq[String], n: Int): DataFrame = {
    graft.expr.GraftFunctions.ensureRegistered(docs.sparkSession)
    Partitioning.spread(docs)
      .select(carry.map(col) :+ explode(
        graft.expr.GraftFunctions.charGramH60(col(textCol), n)).as("_h"): _*)
  }

  /** The expression-tree reference formulation of [[gramRows]] (lowercase
    * into an attribute, shingle per the two-projection discipline, h60 each
    * gram) — test-pinned against the fused kernel, not on the query path. */
  private[graft] def gramRowsReference(docs: DataFrame, textCol: String,
      carry: Seq[String], n: Int): DataFrame = {
    val t = col("_t")
    val grams = when(length(t) < n, array(t))
      .otherwise(transform(sequence(lit(1), length(t) - (n - 1)),
        i => t.substr(i, lit(n))))
    Partitioning.spread(docs)
      .select(carry.map(col) :+ lower(col(textCol)).as("_t"): _*)
      .select(carry.map(col) :+ explode(grams).as("_g"): _*)
      .select(carry.map(col) :+ PortableSketch.h60(col("_g")).as("_h"): _*)
  }

  /** Per-document gram-hash counts: (idCol, _h, _cnt). */
  def docGramCounts(docs: DataFrame, textCol: String, idCol: String,
      n: Int): DataFrame =
    gramRows(docs, textCol, Seq(idCol), n)
      .groupBy(idCol, "_h").agg(count(lit(1)).as("_cnt"))

  /** Fit the NB model on a LABELED frame. Returns (model, langStats):
    * model = (_h, lang, llu); langStats = (lang, lang_idx, prior_u,
    * oov_llu) with lang_idx the alphabetical index. Both are
    * vocabulary-bounded — broadcast them into scoring. */
  def fit(train: DataFrame, textCol: String, langCol: String,
      n: Int): (DataFrame, DataFrame) = {
    val lg = gramRows(train.withColumnRenamed(langCol, "lang"),
        textCol, Seq("lang"), n)
      .groupBy("lang", "_h").agg(count(lit(1)).as("_c"))
      .persist() // feeds totals, vocab size, and the llu projection
    val tot = lg.groupBy("lang").agg(sum("_c").as("_tot"))
    val v = lg.select(countDistinct("_h").as("_v"))
    val nd = train.groupBy(col(langCol).as("lang"))
      .agg(count(lit(1)).as("_nl"))
      .crossJoin(broadcast(train.select(count(lit(1)).as("_n"))))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy("lang") // |langs| rows — a bounded-model window, not corpus
    val langStats = tot.crossJoin(broadcast(v))
      .join(nd, Seq("lang"))
      .select(col("lang"),
        (row_number().over(w) - 1).cast("long").as("lang_idx"),
        round(lit(1e6) * log(col("_nl").cast("double") / col("_n")))
          .cast("long").as("prior_u"),
        round(lit(1e6) * log(lit(1.0) / (col("_tot") + col("_v"))))
          .cast("long").as("oov_llu"),
        (col("_tot") + col("_v")).as("_denom"))
    val model = lg.join(broadcast(langStats.select("lang", "_denom")), Seq("lang"))
      .select(col("_h"), col("lang"),
        round(lit(1e6) * log((col("_c") + lit(1)).cast("double") / col("_denom")))
          .cast("long").as("llu"))
    (model, langStats.drop("_denom"))
  }

  /** Persist a fitted model as parquet (the [[TrainedGate.saveModel]]
    * pattern: a model is a bounded frame, not JVM state) — the hand-off
    * that lets a composed pipeline (q169's classifier→LM chain) or a
    * streaming scorer reuse one fit instead of recomputing it per stage.
    * Layout: `path/llu` = (_h, lang, llu) and `path/stats` = (lang,
    * lang_idx, prior_u, oov_llu); both vocabulary-bounded. */
  def saveModel(model: DataFrame, langStats: DataFrame, path: String): Unit = {
    model.select("_h", "lang", "llu")
      .write.mode("overwrite").parquet(s"$path/llu")
    langStats.select("lang", "lang_idx", "prior_u", "oov_llu")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/stats")
  }

  /** Load a model written by [[saveModel]] — drop-in for the (model,
    * langStats) pair [[fit]] returns; integer micro-units round-trip
    * parquet exactly, so predictions are bit-identical to the fitting
    * session's. */
  def loadModel(spark: org.apache.spark.sql.SparkSession,
      path: String): (DataFrame, DataFrame) =
    (spark.read.parquet(s"$path/llu"), spark.read.parquet(s"$path/stats"))

  /** Score a frame: per document, the argmax language under the model.
    * Returns (idCol, pred).
    *
    * Shape (round-17 kernel fusion, guide §4): the WHOLE model — not just
    * the |langs| stats rows — collects to the driver (it is
    * vocabulary-bounded, the StreamingLangId.Model precedent) and scoring
    * becomes ONE codegen projection over the documents
    * ([[graft.expr.LangIdPredict]]): per doc, one pass over the lowercased
    * bytes folds every gram occurrence's llu (table miss → that language's
    * OOV floor) into |langs| running sums — no gram explode, no gram-keyed
    * shuffle, no broadcast join, no doc-keyed aggregate. Integer addition
    * is order-free, so the per-occurrence fold equals the reference
    * formulation's per-distinct-gram `sum(cnt·llu)` exactly; the argmax
    * stays the tie-free `score·M − langIdx` total order
    * (M = [[argmaxMultiplier]] of the fitted language count). The
    * relational reference ([[predictReference]]) is pinned equal in
    * LangIdSpec; oracle SQL derives the SAME M — the
    * `min(1::BIGINT << g) ≥ count(*)` CTE in the q158/q169 oracles. */
  def predict(docs: DataFrame, textCol: String, idCol: String, n: Int,
      model: DataFrame, langStats: DataFrame): DataFrame = {
    val predCol = predictColumn(col(textCol), n, model, langStats)
    // null-text docs produce zero gram rows in the reference formulation
    // and so vanish from its doc-keyed aggregate — the filter reproduces
    // that contract on the map-only path. idCol is unique per row (the
    // documents-table contract), so one row per doc either way.
    Partitioning.spread(docs.where(col(textCol).isNotNull))
      .select(col(idCol), predCol.as("pred"))
  }

  /** The fused scoring column: collect the vocabulary-bounded model (the
    * StreamingLangId bounded-model exception) and score each document in
    * ONE codegen projection — no gram explode, no broadcast join, no
    * doc-keyed aggregate. Exposed so compositions (q169) can annotate
    * their frame in place instead of joining predictions back on the id. */
  def predictColumn(text: Column, n: Int, model: DataFrame,
      langStats: DataFrame): Column = {
    val stats = langStats.select("lang", "lang_idx", "prior_u", "oov_llu")
      .collect().sortBy(_.getLong(1))
    require(stats.nonEmpty, "langId.predict: empty model")
    val mult = argmaxMultiplier(stats.length)
    val langs = stats.map(_.getString(0))
    val idx = langs.zipWithIndex.toMap
    val priorU = stats.map(_.getLong(2))
    val oov = stats.map(_.getLong(3))
    val grouped = new java.util.HashMap[java.lang.Long, Array[Long]]()
    model.select("_h", "lang", "llu").collect().foreach { r =>
      val arr = grouped.computeIfAbsent(r.getLong(0), _ => oov.clone())
      arr(idx(r.getString(1))) = r.getLong(2)
    }
    val data = graft.expr.LangIdModel.build(langs, priorU, oov, mult, grouped)
    ExpressionColumn(graft.expr.LangIdPredict(ExpressionColumn.expression(text), n, data))
  }

  /** The expression-tree reference formulation of [[predict]] (gram-count
    * rows → broadcast wide-likelihood join → doc-keyed |langs|-sum →
    * tie-free argmax) — test-pinned against the fused kernel in LangIdSpec,
    * not on the query path. */
  private[graft] def predictReference(docs: DataFrame, textCol: String,
      idCol: String, n: Int,
      model: DataFrame, langStats: DataFrame): DataFrame = {
    val stats = langStats.select("lang", "lang_idx", "prior_u", "oov_llu")
      .collect().sortBy(_.getLong(1))
    require(stats.nonEmpty, "langId.predict: empty model")
    val mult = argmaxMultiplier(stats.length)
    val langs = stats.map(_.getString(0))
    val wide = model.groupBy("_h")
      .pivot("lang", langs.toSeq).agg(first("llu"))
    val scores = stats.zipWithIndex.map { case (s, i) =>
      sum(col("_cnt") * coalesce(col(langs(i)), lit(s.getLong(3))))
        .as(s"_s$i")
    }
    val keys = stats.zipWithIndex.map { case (s, i) =>
      ((col(s"_s$i") + lit(s.getLong(2))) * mult - lit(i)).as(s"_k$i")
    }
    // linear-size argmax: project the max key once, then map it back to
    // its language with a flat coalesce-of-whens. (The obvious nested
    // when-fold embeds the accumulated best-so-far tree inside BOTH the
    // predicate and the else branch, so the expression TRIPLES per
    // language — codegen OOM'd at 20 languages; this shape is O(|langs|).)
    // Keys are pairwise distinct by construction (same score ⇒ different
    // index term), so exactly one branch fires.
    val kmax =
      if (stats.length == 1) col("_k0")
      else greatest(stats.indices.map(i => col(s"_k$i")): _*)
    val pred = coalesce(stats.indices.map(i =>
      when(col(s"_k$i") === col("_km"), lit(langs(i)))): _*)
    gramRowsReference(docs, textCol, Seq(idCol), n)
      .groupBy(idCol, "_h").agg(count(lit(1)).as("_cnt"))
      .join(broadcast(wide), Seq("_h"), "left")
      .groupBy(idCol)
      .agg(scores.head, scores.tail: _*)
      .select(col(idCol) +: keys: _*)
      .withColumn("_km", kmax)
      .select(col(idCol), pred.as("pred"))
  }
}
