package graft.functions

import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** JVM implementation of the reference's R4 float formatting
  * (etl_job.py:810-844): `%.15g`, fixed-notation fallback when
  * scientific appears, trailing zeros stripped, lowercase nan/inf.
  * Python formats the EXACT binary value, correctly rounded (half-even
  * on ties), so this does too: Java's `%.15g` / `%.15f` start from the
  * shortest repr instead, which double-rounds (556.4543226524335 →
  * …434, Python …433) and pads big values with zeros (6.02214076e23 →
  * 602214076000000000000000, Python 602214075999999987023872).
  * Standalone object (not a companion) so the compiler emits a static
  * forwarder Janino-generated code can call directly.
  */
object FloatFormat {
  private val Sig15 =
    new java.math.MathContext(15, java.math.RoundingMode.HALF_EVEN)

  def format(v: Double): UTF8String = UTF8String.fromString(formatString(v))

  def formatString(v: Double): String = {
    if (java.lang.Double.isNaN(v)) return "nan"
    if (java.lang.Double.isInfinite(v)) return if (v > 0) "inf" else "-inf"
    if (v == 0.0) return if (1.0 / v < 0) "-0" else "0"
    val exact = new java.math.BigDecimal(v)
    val g = exact.round(Sig15)
    // Python's %g rule: the decimal exponent of the value rounded to
    // 15 significant digits picks fixed (-4 <= exp < 15) or scientific
    // notation — and scientific falls back to %.15f
    val exp = g.precision - g.scale - 1
    if (exp >= -4 && exp < 15) return strip(g.toPlainString)
    val f = exact.setScale(15, java.math.RoundingMode.HALF_EVEN)
    // BigDecimal has no -0: a negative value under 5e-16 renders "-0"
    strip((if (f.signum == 0 && v < 0) "-" else "") + f.toPlainString)
  }

  private def strip(s: String): String = {
    if (s.indexOf('.') < 0) return s
    var end = s.length
    while (end > 0 && s.charAt(end - 1) == '0') end -= 1
    if (end > 0 && s.charAt(end - 1) == '.') end -= 1
    s.substring(0, end)
  }
}

/** Native expression for R4 float formatting. The expression-tree
  * version (CASE + two format_string + three regexp_replace, all
  * evaluated per row) cost ~57 µs/row on the ingest path — 5.7 s per
  * 100k rows, dominating TSV rendering. One JVM call with a manual
  * strip is ~50× cheaper and inlines into whole-stage codegen.
  */
case class FormatFloatExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"format_float requires DOUBLE, got ${child.dataType}")
  override def dataType: DataType = StringType
  override def prettyName: String = "format_float"

  override def nullSafeEval(v: Any): Any =
    FloatFormat.format(v.asInstanceOf[Double])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.FloatFormat.format($c)")

  override protected def withNewChildInternal(newChild: Expression): FormatFloatExpr =
    copy(child = newChild)
}

object FormatFloatExpr {
  def formatFloat(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    GraftBridge.column(FormatFloatExpr(GraftBridge.expression(c)))
}
