package graft.expr

import graft.model.Span
import graft.pipeline.{LinkJob, SparkTestSession}
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, GenerateMutableProjection}
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** The ASCII case-fold kernel of the span projection, each case through
  * generated code and through `eval`. */
class AsciiCaseFoldSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.get

  private val input = BoundReference(0, StringType, nullable = true)

  /** `e` over `s` as (generated projection, interpreted eval). */
  private def both(e: Expression, s: UTF8String): (Any, Any) = {
    val row = InternalRow(s)
    (GenerateMutableProjection.generate(Seq(e)).apply(row).get(0, StringType), e.eval(row))
  }

  private def lower(s: UTF8String) = both(AsciiCaseFold(input, upper = false), s)
  private def upper(s: UTF8String) = both(AsciiCaseFold(input, upper = true), s)

  test("A-Z folds to a-z, and a-z to A-Z") {
    assert(lower(UTF8String.fromString("ABC")) ==
      (UTF8String.fromString("abc"), UTF8String.fromString("abc")))
    assert(upper(UTF8String.fromString("Client")) ==
      (UTF8String.fromString("CLIENT"), UTF8String.fromString("CLIENT")))
  }

  test("a string with nothing to fold comes back as the same instance") {
    // the generated code returns the kernel's result as it is (a generated
    // projection copies strings into its row, so the instance is checked
    // on the kernel and on eval)
    Seq(AsciiCaseFold(input, upper = false) -> UTF8String.fromString("00000000000abc12"),
        AsciiCaseFold(input, upper = true) -> UTF8String.fromString("SERVER")).foreach {
      case (e, s) =>
        val kernel = if (e.upper) AsciiCase.upper(s) else AsciiCase.lower(s)
        assert(kernel eq s)
        assert(e.eval(InternalRow(s)).asInstanceOf[AnyRef] eq s)
        val code = e.genCode(new CodegenContext).code.toString
        assert(code.contains(s"graft.expr.AsciiCase.${if (e.upper) "upper" else "lower"}("), code)
    }
  }

  test("null stays null") {
    assert(lower(null) == ((null, null)))
    assert(upper(null) == ((null, null)))
  }

  test("non-ASCII bytes pass through unchanged; ASCII letters around them fold") {
    def u(s: String) = UTF8String.fromString(s)
    assert(lower(u("ÄBÇ-é")) == ((u("ÄbÇ-é"), u("ÄbÇ-é"))))
    assert(upper(u("äbç-É")) == ((u("äBç-É"), u("äBç-É"))))
    val (gen, interp) = upper(UTF8String.fromBytes(Array[Byte]('a', -61, -1, 'z')))
    assert(gen.asInstanceOf[UTF8String].getBytes.toSeq == Seq[Byte]('A', -61, -1, 'Z'))
    assert(interp == gen)
  }

  test("span kinds fold to upper case and only the four kinds are admitted, " +
      "codegen'd and interpreted") {
    def kinds(session: SparkSession): Seq[Option[String]] = {
      val lines = Seq("Client", "server", "PRODUCER", "foo").zipWithIndex.map { case (k, i) =>
        s"""{"traceId":"A$i","id":"B$i","kind":"$k"}"""
      }
      val json = session.read.schema(Span.jsonV2Schema)
        .json(session.createDataset(lines)(Encoders.STRING))
      LinkJob.fromJsonV2Shape(json).collect().sortBy(_.id).toSeq.map(_.kind)
    }
    val want = Seq(Some(Span.Client), Some(Span.Server), Some(Span.Producer), None)
    assert(kinds(spark) == want)
    val interpreted = spark.newSession()
    interpreted.conf.set("spark.sql.codegen.wholeStage", "false")
    interpreted.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    assert(kinds(interpreted) == want)
  }
}
