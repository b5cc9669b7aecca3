package graft.expr

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.functions.{call_function, lit, lower}

/** Session extension installing the fused text-sketch expressions
  * (`spark.sql.extensions=graft.expr.GraftExtensions`), SURVEY §4.3's
  * "promote to Catalyst Expression for bench-critical paths" step. The same
  * builders can be attached to a live session with
  * `GraftFunctions.ensureRegistered` (used by the ops layer, so the library
  * works on sessions built without the extension). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.injections.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => DotProductRewrite)
  }
}

object GraftFunctions {

  private def intArg(args: Seq[Expression], i: Int, fn: String): Int = {
    if (i >= args.length) throw new IllegalArgumentException(
      s"$fn: expected at least ${i + 1} arguments, got ${args.length}")
    args(i) match {
      case Literal(v: Int, _) => v
      case Literal(v: Long, _) => v.toInt
      case other => throw new IllegalArgumentException(
        s"$fn: argument ${i + 1} must be an integer literal, got $other")
    }
  }

  val injections: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("graft_minhash"),
      new ExpressionInfo(classOf[MinHashSig].getName, "graft_minhash"),
      (args: Seq[Expression]) => MinHashSig(args.head,
        intArg(args, 1, "graft_minhash"), intArg(args, 2, "graft_minhash"),
        intArg(args, 3, "graft_minhash").toLong)),
    (FunctionIdentifier("graft_word_minhash"),
      new ExpressionInfo(classOf[WordMinHashSig].getName, "graft_word_minhash"),
      (args: Seq[Expression]) => WordMinHashSig(args.head,
        intArg(args, 1, "graft_word_minhash"), intArg(args, 2, "graft_word_minhash"),
        intArg(args, 3, "graft_word_minhash").toLong)),
    (FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[SimHash64].getName, "graft_simhash"),
      (args: Seq[Expression]) => SimHash64(args.head, intArg(args, 1, "graft_simhash"))),
    (FunctionIdentifier("graft_fingerprint64"),
      new ExpressionInfo(classOf[Fingerprint64].getName, "graft_fingerprint64"),
      (args: Seq[Expression]) => Fingerprint64(args.head, intArg(args, 1, "graft_fingerprint64"))),
    (FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (args: Seq[Expression]) => {
        if (args.length != 2) throw new IllegalArgumentException(
          s"graft_dot: expected 2 arguments, got ${args.length}")
        DotProduct(args(0), args(1))
      }),
    (FunctionIdentifier("graft_winnow"),
      new ExpressionInfo(classOf[Winnow].getName, "graft_winnow"),
      (args: Seq[Expression]) => Winnow(args.head,
        intArg(args, 1, "graft_winnow"), intArg(args, 2, "graft_winnow"))),
    (FunctionIdentifier("graft_word_bigrams"),
      new ExpressionInfo(classOf[WordBigrams].getName, "graft_word_bigrams"),
      (args: Seq[Expression]) => WordBigrams(args.head)),
    (FunctionIdentifier("graft_word_ngrams"),
      new ExpressionInfo(classOf[WordNGrams].getName, "graft_word_ngrams"),
      (args: Seq[Expression]) => WordNGrams(args.head, intArg(args, 1, "graft_word_ngrams"))),
    (FunctionIdentifier("graft_nfc"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "graft_nfc"),
      (args: Seq[Expression]) => NfcNormalize(args.head)),
    (FunctionIdentifier("graft_phash64"),
      new ExpressionInfo(classOf[PHash64].getName, "graft_phash64"),
      (args: Seq[Expression]) => PHash64(args.head)),
    (FunctionIdentifier("graft_phash64any"),
      new ExpressionInfo(classOf[PHash64Any].getName, "graft_phash64any"),
      (args: Seq[Expression]) => PHash64Any(args.head)),
    (FunctionIdentifier("graft_cdc_ends"),
      new ExpressionInfo(classOf[CdcEnds].getName, "graft_cdc_ends"),
      (args: Seq[Expression]) => CdcEnds(args.head)),
    (FunctionIdentifier("graft_win_hashes"),
      new ExpressionInfo(classOf[WinHashes].getName, "graft_win_hashes"),
      (args: Seq[Expression]) => WinHashes(args.head,
        intArg(args, 1, "graft_win_hashes"))),
    (FunctionIdentifier("graft_char_gram_h60"),
      new ExpressionInfo(classOf[CharGramH60].getName, "graft_char_gram_h60"),
      (args: Seq[Expression]) => CharGramH60(args.head,
        intArg(args, 1, "graft_char_gram_h60")))
  )

  /** Idempotently register the fused functions on a live session (no-op when
    * installed via the extension or a prior call). Registers FUNCTIONS only —
    * a function registration is invisible until someone calls it by name, so
    * the ops layer may do this on any session without changing the behavior
    * of unrelated queries. The DotProductRewrite optimizer rule, which DOES
    * change how user-written plans compile, is never installed here: it ships
    * only via the `GraftExtensions` opt-in or an explicit
    * [[installDotRewrite]] call. */
  def ensureRegistered(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    injections.foreach { case (id, info, builder) =>
      if (!reg.functionExists(id)) reg.registerFunction(id, info, builder)
    }
  }

  /** Explicitly attach the DotProductRewrite optimizer rule to a live
    * session (the experimental-methods equivalent of the
    * `GraftExtensions` injectOptimizerRule). Opt-in only: the rule rewrites
    * user-written HOF dot products to the fused kernel, whose contract is
    * equal-length vectors — see DotProductRewrite's scaladoc for the exact
    * match conditions. Idempotent. */
  def installDotRewrite(spark: SparkSession): Unit = {
    val extra = spark.experimental.extraOptimizations
    if (!extra.contains(DotProductRewrite))
      spark.experimental.extraOptimizations = extra :+ DotProductRewrite
  }

  // Column-side helpers (the session must have the functions registered)

  /** Fused MinHash over lowercased byte n-grams. */
  def minhash(text: Column, n: Int, k: Int, seed: Long): Column =
    call_function("graft_minhash", lower(text), lit(n), lit(k), lit(seed))

  /** Fused MinHash over word n-grams (NOT lowercased — wordShingles
    * tokenizes the raw text). */
  def wordMinhash(text: Column, n: Int, k: Int, seed: Long): Column =
    call_function("graft_word_minhash", text, lit(n), lit(k), lit(seed))

  /** Fused SimHash over lowercased distinct byte n-grams. */
  def simhash(text: Column, n: Int): Column =
    call_function("graft_simhash", lower(text), lit(n))

  /** Fused min-window-hash fingerprint over lowercased byte n-grams. */
  def fingerprint64(text: Column, n: Int): Column =
    call_function("graft_fingerprint64", lower(text), lit(n))

  /** Fused double-array dot product (float arrays widen implicitly). */
  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  /** Fused winnowing fingerprint set over lowercased byte n-grams. */
  def winnow(text: Column, n: Int, w: Int): Column =
    call_function("graft_winnow", lower(text), lit(n), lit(w))

  /** Unicode NFC normalization (codegen'd; DuckDB `nfc_normalize` parity). */
  def nfc(text: Column): Column = call_function("graft_nfc", text)

  /** Fused 64-bit positional average-hash over a binary payload. */
  def phash64(payload: Column): Column = call_function("graft_phash64", payload)

  /** Decoded-or-fallback perceptual hash (real images: 8×8 aHash). */
  def phash64Any(payload: Column): Column =
    call_function("graft_phash64any", payload)

  /** Fused adjacent word-pair array ("w1 w2" strings; empty under two
    * tokens — NOT lowercased, raw-text tokenization like wordMinhash). */
  def wordBigrams(text: Column): Column =
    call_function("graft_word_bigrams", text)

  /** Fused distinct word n-gram array — exact drop-in for
    * TextOps.wordShingles (raw-text tokenization, whole-text fallback under
    * n tokens, first-occurrence distinct order). */
  def wordNGrams(text: Column, n: Int): Column =
    call_function("graft_word_ngrams", text, lit(n))

  /** Fused h60 (md5-prefix) hashes of the LOWERCASED char n-grams, with
    * multiplicity — the LangId gram-row kernel (lowercasing happens inside
    * the one fused pass; do NOT pre-lower). */
  def charGramH60(text: Column, n: Int): Column =
    call_function("graft_char_gram_h60", text, lit(n))
}
