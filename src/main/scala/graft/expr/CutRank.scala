package graft.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Count of the cut points `<=` a value — the bin index of quantile
  * binning ([[graft.ops.Summaries.quantileBins]]) as ONE codegen'd
  * expression: a binary search over the ascending `array<double>` of cuts,
  * O(log n) per row and a constant-size generated method at every bin
  * count. A sum of one `when(cut_i <= v)` per cut grows the generated
  * method with the bin count and passes Janino's 64 KB method limit at
  * ~1024 bins, where Spark silently drops whole-stage codegen.
  *
  * Comparison is Spark's double ordering
  * (`SQLOrderingUtil.compareDoubles`: NaN above every other value, NaN
  * equal to NaN, −0.0 equal to 0.0) — exactly what `cut <= v` evaluates.
  * The cuts must be sorted under that ordering (`sort_array` sorts so);
  * NULL elements sort first and never count, as a NULL comparison never
  * did. A NULL array or value yields NULL.
  */
case class CutRank(cuts: Expression, value: Expression) extends BinaryExpression {

  override def left: Expression = cuts
  override def right: Expression = value
  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult = (cuts.dataType, value.dataType) match {
    case (ArrayType(DoubleType, _), DoubleType) => TypeCheckResult.TypeCheckSuccess
    case (c, v) => TypeCheckResult.TypeCheckFailure(
      s"cut_rank expects (array<double>, double), got (${c.simpleString}, ${v.simpleString})")
  }

  override protected def nullSafeEval(a: Any, v: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val x = v.asInstanceOf[Double]
    val n = arr.numElements()
    var nulls = 0
    while (nulls < n && arr.isNullAt(nulls)) nulls += 1
    var lo = nulls; var hi = n
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (SQLOrderingUtil.compareDoubles(arr.getDouble(mid), x) <= 0) lo = mid + 1 else hi = mid
    }
    lo - nulls
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, x) => {
      val n     = ctx.freshName("n")
      val nulls = ctx.freshName("nulls")
      val lo    = ctx.freshName("lo")
      val hi    = ctx.freshName("hi")
      val mid   = ctx.freshName("mid")
      s"""
         |int $n = $a.numElements();
         |int $nulls = 0;
         |while ($nulls < $n && $a.isNullAt($nulls)) { $nulls++; }
         |int $lo = $nulls, $hi = $n;
         |while ($lo < $hi) {
         |  int $mid = ($lo + $hi) >>> 1;
         |  if (org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles(
         |      $a.getDouble($mid), $x) <= 0) {
         |    $lo = $mid + 1;
         |  } else {
         |    $hi = $mid;
         |  }
         |}
         |${ev.value} = $lo - $nulls;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(cuts = l, value = r)
}
