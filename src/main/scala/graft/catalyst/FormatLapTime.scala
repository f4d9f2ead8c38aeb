package graft.catalyst

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the reference's lap-time formatter
  * (P9/P10: float seconds → "M:SS.mmm", truncating, NULL → "") with
  * full whole-stage-codegen support — the custom-Expression exemplar
  * promised by SURVEY.md §7.2.10. Semantically identical to the
  * builtin-composition path `F1Functions.formatLapTime` (pinned by
  * FormatLapTimeSpec and the q_format_lap_time_expr oracle); the win
  * is one virtual call into a static method instead of a 10-node
  * expression tree (floor/cast/mod/format_string/when) per row.
  * Ref: /root/reference/src/data_processing.py:314-318.
  */
case class FormatLapTime(child: Expression) extends UnaryExpression {

  // AbstractDataType (ImplicitCastInputTypes) is private[sql] in
  // Spark 4, so input typing is enforced here and the registry builder
  // inserts the numeric→double Cast explicitly.
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"format_lap_time requires DOUBLE input, got ${child.dataType.sql}")

  override def dataType: DataType = StringType
  // never null: a NULL input formats to the empty string
  override def nullable: Boolean = false
  override def prettyName: String = "format_lap_time"

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) UTF8String.EMPTY_UTF8
    else FormatLapTime.format(v.asInstanceOf[Double])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(
      code = code"""
        ${c.code}
        UTF8String ${ev.value};
        if (${c.isNull}) {
          ${ev.value} = UTF8String.EMPTY_UTF8;
        } else {
          ${ev.value} = graft.catalyst.FormatLapTime.format(${c.value});
        }
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): FormatLapTime =
    copy(child = newChild)
}

object FormatLapTime {
  /** Shared by interpreted eval and generated code (static forwarder).
    * The arithmetic mirrors the builtin path EXACTLY — floor division
    * for minutes/seconds but sign-of-dividend remainders — so the two
    * paths agree on any input, including (nonsensical but legal)
    * negative seconds. Locale.US pins the digits: Spark's
    * format_string and DuckDB printf never localize, and a default
    * locale with non-ASCII digits would otherwise diverge. */
  def format(seconds: Double): UTF8String = {
    val tm = Math.floor(seconds * 1000.0).toLong
    val m = Math.floorDiv(tm, 60000L)
    val s = Math.floorDiv(tm % 60000L, 1000L)
    val ms = tm % 1000L
    UTF8String.fromString(
      String.format(java.util.Locale.US, "%d:%02d.%03d",
        java.lang.Long.valueOf(m), java.lang.Long.valueOf(s),
        java.lang.Long.valueOf(ms)))
  }

  private val info = new ExpressionInfo(classOf[FormatLapTime].getName,
    null, "format_lap_time", "_FUNC_(seconds) - formats float seconds as M:SS.mmm",
    "", "", "", "", "", "", "built-in")

  private def build(exprs: Seq[Expression]): Expression =
    FormatLapTime(Cast(exprs.head, DoubleType))

  /** Session-registry registration: `expr("format_lap_time(x)")` and
    * SQL both resolve to the native expression. */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "format_lap_time", build, "built-in")

  /** For `spark.sql.extensions=graft.catalyst.GraftExtensions`. */
  val description: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("format_lap_time"), info, build)
}

/** SparkSessionExtensions hook: injects the engine's native functions,
  * its optimizer rule and its planner strategy at session build
  * (`--conf spark.sql.extensions=graft.catalyst.GraftExtensions`). */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    ext.injectFunction(FormatLapTime.description)
    ext.injectOptimizerRule(_ => BandedLevenshteinRule)
    ext.injectPlannerStrategy(_ => SinglePartitionScan)
  }
}
