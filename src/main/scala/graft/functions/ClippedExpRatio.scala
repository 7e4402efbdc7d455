package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/**
 * Fused EBW ratio kernel: r = clip(exp(eta * (x . theta)), lb, ub) in ONE
 * codegen'd primitive loop — the column `model.transform` adds to every
 * row. Replaces the exp(least(graft_dot(...), 700)) / greatest / least
 * expression tree: one pass over the feature array, no intermediate
 * expression nodes, exp input capped at 700 exactly like the solver's
 * one link formula (graft.ebw.Link.rAndSlope, which every EbwAggregator
 * pass evaluates), so transform output bit-matches the solve.
 *
 * eta/lb/ub are foldable parameters (captured at plan time): the common
 * call shape is graft_ratio(features, lit(theta), eta, lb, ub).
 */
case class ClippedExpRatio(
    left: Expression, right: Expression,
    eta: Double, lb: Double, ub: Double)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_ratio requires array<double> inputs, got ${left.dataType} / ${right.dataType}")
  }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "graft_ratio"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var t = 0.0
    var i = 0
    while (i < n) { t += x.getDouble(i) * y.getDouble(i); i += 1 }
    var et = eta * t
    if (et > 700.0) et = 700.0
    val e = math.exp(et)
    if (e < lb) lb else if (e > ub) ub else e
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val t = ctx.freshName("t")
      val e = ctx.freshName("e")
      // ub may be +Infinity; Double.toString yields "Infinity" which is not
      // a Java literal — emit guarded comparisons only for finite bounds
      val ubClause =
        if (ub.isPosInfinity) "" else s"else if ($e > $ub) ${ev.value} = $ub;"
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $t = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $t += $a.getDouble($i) * $b.getDouble($i);
         |}
         |$t = $eta * $t;
         |if ($t > 700.0) $t = 700.0;
         |double $e = java.lang.Math.exp($t);
         |${ev.value} = $e;
         |if ($e < $lb) ${ev.value} = $lb;
         |$ubClause
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ClippedExpRatio =
    copy(left = newLeft, right = newRight)
}
