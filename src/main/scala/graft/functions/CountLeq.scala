package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._

/** Native Catalyst expression counting the elements of a double array
  * that are <= a probe value: the boundary-array bucket assignment of
  * [[graft.api.Graft.globalRanks]] (`size(filter(bnd, b -> b <= v))`),
  * compiled. The higher-order `filter` lambda evaluates INTERPRETED, one
  * closure dispatch per array element per row (PERF.md, "qagg_rfm's
  * bucket assignment was interpreted").
  *
  * Value contract (bit-exact vs the lambda for every non-NaN probe):
  * null elements are skipped (the SQL filter drops a null predicate
  * result); an empty array counts 0; a null array or probe is null
  * (BinaryExpression null-intolerance, same as `size(filter())` over a
  * null). One DELIBERATE divergence: a NaN probe counts Java-style
  * (b <= NaN is false → 0) where the SQL lambda would use NaN-greatest
  * ordering — callers route NaN BEFORE the boundary count (the sampled
  * rank pins NaN to the last bucket), and this expression documents
  * rather than replicates the SQL footgun.
  */
case class CountLeq(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), DoubleType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          "count_leq requires (array<double>, double), " +
            s"got ${l.catalogString} and ${r.catalogString}")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val v = b.asInstanceOf[Double]
    val n = arr.numElements()
    var c = 0L
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i) && arr.getDouble(i) <= v) c += 1L
      i += 1
    }
    c
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val c = ctx.freshName("c")
      s"""
         |int $n = $a.numElements();
         |long $c = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && $a.getDouble($i) <= $b) $c++;
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CountLeq =
    copy(left = newLeft, right = newRight)
}

object ArraySearch {
  /** Column-API entry point for [[CountLeq]]. */
  def count_leq(arr: Column, v: Column): Column =
    Bridge.column(CountLeq(Bridge.expression(arr), Bridge.expression(v)))
}
