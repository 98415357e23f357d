package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native squared L2 distance over two array<double> columns — the hot
  * inner loop of every L2 assigner (PQ codebook assignment scores
  * m·nlist candidate entries per vector, each a d-dim loop).
  *
  * Same design as [[DotProduct]] (`graft_dot`): a codegen'd primitive
  * loop replacing the `aggregate(zip_with(a, b, (x,y) -> (x-y)*(x-y)),
  * 0D, (a,x) -> a + x)` higher-order expression, with EXACTLY its
  * accumulation semantics — a sequential left fold of the per-position
  * squared differences, so distances are bit-identical to the HOF form
  * the DuckDB oracles replay (each partial `(x-y)*(x-y)` and each
  * `a + x` is the same IEEE op in the same order). The r17 round
  * measured that literal-compiling pqAssign WITHOUT this expression is
  * 3× slower (zip_with folds over literal arrays leave whole-stage
  * codegen); this is the missing native kernel.
  *
  * Registered as `graft_dist2` by Tables.sessionBuilder via
  * SparkSessionExtensions.injectFunction. Whole-array nulls propagate
  * null (BinaryExpression's null-safe contract); a null element yields
  * NULL, and so do mismatched dimensions — exactly what the zip_with
  * HOF does (a null difference, or the shorter side's null padding,
  * poisons the fold) — so a malformed vector surfaces as a detectable
  * null, never a truncated-but-plausible distance. Elements are
  * null-checked only when an input type has `containsNull = true`;
  * over non-null element types the loop is unchanged.
  */
case class SquaredDistance(left: Expression, right: Expression)
    extends BinaryExpression {

  // nullable even over non-null children: dimension mismatch → NULL
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dist2 requires array<double> inputs, got ${left.dataType} and ${right.dataType}")
  }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "graft_dist2"

  private def elemNulls(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].containsNull
  private lazy val leftNulls = elemNulls(left)
  private lazy val rightNulls = elemNulls(right)

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (b.numElements() != n) null
    else {
      var s = 0.0
      var i = 0
      while (i < n) {
        if (leftNulls && a.isNullAt(i) || rightNulls && b.isNullAt(i))
          return null
        val d = a.getDouble(i) - b.getDouble(i)
        s += d * d
        i += 1
      }
      s
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      val d = ctx.freshName("d")
      val nullAt = Seq(leftNulls -> a, rightNulls -> b)
        .collect { case (true, x) => s"$x.isNullAt($i)" }
      // a null element ends the fold with NULL
      val nullCheck =
        if (nullAt.isEmpty) ""
        else s"if (${nullAt.mkString(" || ")}) { ${ev.isNull} = true; break; }"
      s"""
         |int $n = $a.numElements();
         |if ($b.numElements() != $n) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $nullCheck
         |    double $d = $a.getDouble($i) - $b.getDouble($i);
         |    $s += $d * $d;
         |  }
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
