package graft.expr

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Collected naive-Bayes language-ID model for the fused scorer — the
  * vocabulary-bounded driver-collect exception (the StreamingLangId.Model
  * precedent), packed for per-gram lookup: an open-addressed long table of
  * gram h60 hashes with a flat `vals` array of per-language micro-unit
  * log-likelihoods (row i covers langs in alphabetical = lang_idx order; a
  * (gram, lang) pair absent from the fitted table holds that language's OOV
  * floor, the relational path's `coalesce(llu, oov)`). Rides inside the
  * bound expression, so it serializes with the plan like any literal
  * (bound through org.apache.spark.sql.ExpressionColumn). */
final class LangIdModel(
    val langs: Array[String],
    val priorU: Array[Long],
    val oovLlu: Array[Long],
    val mult: Long,
    val keys: Array[Long],
    val vals: Array[Long]) extends Serializable {
  @transient private[this] lazy val u8: Array[UTF8String] =
    langs.map(UTF8String.fromString)
  private[expr] def langU8(i: Int): UTF8String = u8(i)
}

object LangIdModel {
  // h60 values are md5-prefix 60-bit (always ≥ 0), so -1 is a free sentinel
  private[expr] final val Empty = -1L

  @inline private def mix(h: Long): Long = {
    val x = h * 0x9E3779B97F4A7C15L
    x ^ (x >>> 32)
  }

  private[expr] def slot(keys: Array[Long], h: Long): Int = {
    val mask = keys.length - 1
    var i = (mix(h) & mask).toInt
    while (keys(i) != Empty && keys(i) != h) i = (i + 1) & mask
    i
  }

  /** Pack a grouped (gram h60 → per-lang llu row, already OOV-defaulted)
    * table into the open-addressed model. */
  def build(langs: Array[String], priorU: Array[Long], oovLlu: Array[Long],
      mult: Long,
      table: java.util.Map[java.lang.Long, Array[Long]]): LangIdModel = {
    val nLangs = langs.length
    var cap = 4
    while (cap < (table.size + 1) * 2) cap <<= 1
    val keys = new Array[Long](cap)
    java.util.Arrays.fill(keys, Empty)
    val vals = new Array[Long](cap * nLangs)
    val it = table.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val i = slot(keys, e.getKey.longValue())
      keys(i) = e.getKey.longValue()
      System.arraycopy(e.getValue, 0, vals, i * nLangs, nLangs)
    }
    new LangIdModel(langs, priorU, oovLlu, mult, keys, vals)
  }
}

/** Fused language-ID kernels: one pass over the lowercased UTF8String —
  * no per-gram String allocation, no gram-row fan-out, no scoring join.
  *
  * Gram semantics are EXACTLY LangId.charGrams over `lower(text)` (the
  * DuckDB-oracle contract): overlapping CHAR n-grams (code-point windows,
  * Spark `substr` semantics), WITH multiplicity, text shorter than n chars
  * collapsing to one whole-text gram. Each gram's hash is
  * PortableSketch.h60 — the first 60 bits of md5 over the gram's UTF-8
  * bytes — computed here from the digest's leading 8 bytes
  * (`beLong >>> 4`, the h60String identity) instead of the hex-string
  * round-trip. Equality with the expression-tree reference formulation is
  * pinned in LangIdSpec on an adversarial corpus (multi-byte code points,
  * empty/short texts, ties). */
object LangIdKernel {
  private val md5 = ThreadLocal.withInitial[java.security.MessageDigest](() =>
    java.security.MessageDigest.getInstance("MD5"))

  /** Code-point start offsets of a UTF-8 byte buffer (the boundaries Spark
    * `substr`/`length` walk). Returns starts(0..nc) with starts(nc) = len. */
  private def charStarts(b: Array[Byte]): Array[Int] = {
    var starts = new Array[Int](math.max(b.length / 2, 8))
    var nc = 0
    var i = 0
    while (i < b.length) {
      if (nc + 1 >= starts.length)
        starts = java.util.Arrays.copyOf(starts, starts.length * 2)
      starts(nc) = i
      nc += 1
      i += UTF8String.numBytesForFirstByte(b(i))
    }
    if (nc + 1 > starts.length)
      starts = java.util.Arrays.copyOf(starts, nc + 1)
    starts(nc) = b.length
    java.util.Arrays.copyOf(starts, nc + 1)
  }

  @inline private def h60(md: java.security.MessageDigest, out: Array[Byte],
      b: Array[Byte], off: Int, len: Int): Long = {
    md.update(b, off, len)
    md.digest(out, 0, 16)
    (((out(0) & 0xFFL) << 56) | ((out(1) & 0xFFL) << 48) |
      ((out(2) & 0xFFL) << 40) | ((out(3) & 0xFFL) << 32) |
      ((out(4) & 0xFFL) << 24) | ((out(5) & 0xFFL) << 16) |
      ((out(6) & 0xFFL) << 8) | (out(7) & 0xFFL)) >>> 4
  }

  /** h60 hashes of the lowercased char n-grams, WITH multiplicity — the
    * fused gram-row payload (LangId fit/docGramCounts explode these longs
    * instead of materializing gram strings). */
  def gramH60(s: UTF8String, n: Int): UnsafeArrayData = {
    val b = s.toLowerCase.getBytes
    val starts = charStarts(b)
    val nc = starts.length - 1
    val md = md5.get()
    val buf = new Array[Byte](16)
    val out =
      if (nc < n) Array(h60(md, buf, b, 0, b.length))
      else {
        val hs = new Array[Long](nc - n + 1)
        var i = 0
        while (i < hs.length) {
          hs(i) = h60(md, buf, b, starts(i), starts(i + n) - starts(i))
          i += 1
        }
        hs
      }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** The argmax language of one document under the collected model — the
    * whole scoring pipeline (gram explode → broadcast model join → doc-keyed
    * |langs|-sum aggregate → `score·M − langIdx` argmax) folded into one
    * projection. Integer arithmetic is order-free, so the per-occurrence
    * fold equals the relational per-distinct-gram `sum(cnt·llu)` exactly;
    * the tie-free key makes the strict-max scan deterministic. */
  def predict(s: UTF8String, n: Int, m: LangIdModel): UTF8String = {
    val b = s.toLowerCase.getBytes
    val starts = charStarts(b)
    val nc = starts.length - 1
    val md = md5.get()
    val buf = new Array[Byte](16)
    val nLangs = m.langs.length
    val scores = new Array[Long](nLangs)
    @inline def fold(off: Int, len: Int): Unit = {
      val h = h60(md, buf, b, off, len)
      val i = LangIdModel.slot(m.keys, h)
      if (m.keys(i) == h) {
        val base = i * nLangs
        var l = 0
        while (l < nLangs) { scores(l) += m.vals(base + l); l += 1 }
      } else {
        var l = 0
        while (l < nLangs) { scores(l) += m.oovLlu(l); l += 1 }
      }
    }
    if (nc < n) fold(0, b.length)
    else {
      var i = 0
      while (i <= nc - n) { fold(starts(i), starts(i + n) - starts(i)); i += 1 }
    }
    var best = 0
    var bestKey = Long.MinValue
    var l = 0
    while (l < nLangs) {
      val k = (m.priorU(l) + scores(l)) * m.mult - l
      if (k > bestKey) { bestKey = k; best = l }
      l += 1
    }
    m.langU8(best)
  }
}

/** `graft_char_gram_h60(text, n)` — fused h60 hashes of lowercased char
  * n-grams, with multiplicity (the LangId gram-row kernel). */
case class CharGramH60(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_char_gram_h60"
  protected override def nullSafeEval(input: Any): Any =
    LangIdKernel.gramH60(input.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expr.LangIdKernel.gramH60($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): CharGramH60 =
    copy(child = newChild)
}

/** `graft_langid_pred(text)` — fused NB language prediction under a
  * collected [[LangIdModel]] (bound through
  * org.apache.spark.sql.ExpressionColumn: the model rides inside the
  * expression instance). */
case class LangIdPredict(child: Expression, n: Int, model: LangIdModel)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_langid_pred"
  protected override def nullSafeEval(input: Any): Any =
    LangIdKernel.predict(input.asInstanceOf[UTF8String], n, model)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("langidModel", model,
      classOf[LangIdModel].getName)
    defineCodeGen(ctx, ev, c => s"graft.expr.LangIdKernel.predict($c, $n, $ref)")
  }
  override protected def withNewChildInternal(newChild: Expression): LangIdPredict =
    copy(child = newChild)
}
