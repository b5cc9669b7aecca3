package graft.expr

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** ASCII case folding for span ids and kinds. Spark's `lower`/`upper` map
  * case through ICU, whose first use builds a Unicode case-mapping table
  * (`CollationAwareUTF8String`'s static initializer) on one thread inside
  * a cold day run's first map stage. Ids are hex and kinds are four ASCII
  * words, so folding A–Z alone gives the same bytes on every value the
  * link path accepts; any other byte is kept. */
object AsciiCase {
  def lower(s: UTF8String): UTF8String = if (has(s, 'A', 'Z')) s.toLowerCaseAscii else s

  def upper(s: UTF8String): UTF8String = if (has(s, 'a', 'z')) s.toUpperCaseAscii else s

  /** Whether a byte of `s` lies in `[lo, hi]`: a string with no letter to
    * fold comes back as the same instance, without a copy. */
  private def has(s: UTF8String, lo: Char, hi: Char): Boolean = {
    val n = s.numBytes
    var i = 0
    while (i < n) {
      val b = s.getByte(i)
      if (b >= lo && b <= hi) return true
      i += 1
    }
    false
  }
}

/** `child` with ASCII letters folded to upper case when `upper`, else to
  * lower case (codegen'd; bound through `ExpressionColumn`). */
case class AsciiCaseFold(child: Expression, upper: Boolean)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = if (upper) "graft_ascii_upper" else "graft_ascii_lower"
  protected override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    if (upper) AsciiCase.upper(s) else AsciiCase.lower(s)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expr.AsciiCase.${if (upper) "upper" else "lower"}($c)")
  override protected def withNewChildInternal(newChild: Expression): AsciiCaseFold =
    copy(child = newChild)
}
