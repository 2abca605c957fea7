package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native Catalyst expression: exact integer squared L2 distance of two
  * `array<bigint>` columns in one fused loop, with whole-stage codegen.
  *
  * This is the hot-path form of the `aggregate(zip_with(a, b, (x, y) ->
  * (x−y)·(x−y)), 0L, +)` fold that every quantized-domain operator
  * scores with (k-means assignment q119+, kNN q140/q152, JL space
  * q154/q160, drift q162): the HOF walks the arrays through interpreted
  * lambda calls and materializes the zipped products; this loop is plain
  * long arithmetic inside WholeStageCodegen. Long addition is associative
  * even under wrap, so the value is bit-identical to the fold in every
  * case — the oracle arithmetic is unchanged, only the cycle count.
  */
case class L2Distance(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"int_l2 expects (array<bigint>, array<bigint>), got (${left.dataType}, ${right.dataType})")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      val d = x.getLong(i) - y.getLong(i)
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  long $d = $a.getLong($i) - $b.getLong($i);
         |  $acc += $d * $d;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object L2Distance {
  /** Column face — usable inside HOF lambdas (centroid-array argmins),
    * where a registry-name round-trip cannot reach the lambda variable. */
  def l2(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftSqlShim.column(L2Distance(
      org.apache.spark.sql.GraftSqlShim.expressionOf(a),
      org.apache.spark.sql.GraftSqlShim.expressionOf(b)))

  /** Register as a SQL function for the session (name: int_l2_native). */
  def register(spark: SparkSession): Unit =
    registerOnce(spark, "int_l2_native")(exprs => L2Distance(exprs.head, exprs(1)))
}
