package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.types._

/** Native Catalyst window function for recursive exponential smoothing —
  * the one primitive SURVEY §4.1 flags as inexpressible with built-in
  * window aggregates. Usage:
  *
  * {{{
  *   df.withColumn("ema", GraftFunctions.ema(col("close"), 0.25)
  *     .over(Window.partitionBy($"sym").orderBy($"ts")))
  * }}}
  *
  * Semantics match the reference's `ewm(adjust=False)` convention
  * (`/root/reference/python/framework/utils/trading_math/moving_average.py:18-20`):
  * seeded with the first non-null value, then
  * ema = alpha·x + (1−alpha)·ema_prev; null inputs carry the previous
  * state forward. Because it extends [[AggregateWindowFunction]], the
  * state lives in the window operator's aggregate buffer — a running
  * frame evaluated in one pass per partition, no shuffle beyond the
  * window's own Exchange+Sort, and no Dataset serialization round-trip
  * (unlike the mapPartitions kernel in [[graft.ops.SequentialOps]],
  * which remains the tool for multi-state scans like the simulation).
  */
case class EmaWindow(child: Expression, alpha: Expression)
    extends AggregateWindowFunction with BinaryLike[Expression] {

  override def left: Expression = child
  override def right: Expression = alpha

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "ema"

  // lazy: analyzer rules rewrite children (casts, folding) before
  // evaluation — only require foldability when the plan actually runs
  private lazy val alphaVal: Double = alpha match {
    case a if a.foldable => a.eval() match {
      case d: java.lang.Number => d.doubleValue()
      case d: org.apache.spark.sql.types.Decimal => d.toDouble
      case other => throw new IllegalArgumentException(
        s"ema(col, alpha): alpha must be numeric, got $other")
    }
    case _ => throw new IllegalArgumentException(
      "ema(col, alpha): alpha must be a foldable numeric literal")
  }

  private lazy val ema = AttributeReference("ema", DoubleType, nullable = true)()
  override def aggBufferAttributes: Seq[AttributeReference] = Seq(ema)

  override lazy val initialValues: Seq[Expression] =
    Seq(Literal.create(null, DoubleType))

  override lazy val updateExpressions: Seq[Expression] = {
    val x = Cast(child, DoubleType)
    val a = Literal(alphaVal)
    val oneMinusA = Literal(1.0 - alphaVal)
    Seq(
      If(IsNull(x), ema,
        If(IsNull(ema), x, Add(Multiply(a, x), Multiply(oneMinusA, ema)))))
  }

  override lazy val evaluateExpression: Expression = ema

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): EmaWindow =
    copy(child = newLeft, alpha = newRight)
}

/** Column-API and SQL registration for the graft custom functions. */
object GraftFunctions {

  /** Column API. Resolution must go through the function registry (a
    * Column wrapping a raw window-function Expression trips the
    * naked-window-function analyzer check — verified against built-in
    * NthValue), so this registers into the active session and emits an
    * unresolved call, exactly like built-in functions do. */
  def ema(c: Column, alpha: Double): Column = {
    SparkSession.getActiveSession.foreach(register)
    org.apache.spark.sql.functions.call_function("ema", c,
      org.apache.spark.sql.functions.lit(alpha))
  }

  /** Register `ema` for SQL: `ema(close, 0.2) OVER (...)`. Idempotent:
    * a session that already resolves `ema` (the [[GraftExtensions]]
    * injection, or an earlier call) keeps its builder, so repeated use
    * neither replaces it nor logs Spark's replaced-function warning. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    if (!registry.functionExists(FunctionIdentifier("ema")))
      registry.createOrReplaceTempFunction(
        "ema", exprs => EmaWindow(exprs.head, exprs(1)), "built-in")
  }
}
