package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native dot product over two array<double> columns — the hot inner
  * loop of every similarity scorer (dim multiply-adds per candidate).
  *
  * This replaces a Scala UDF: a UDF pays per-row catalyst↔Scala
  * conversion (ArrayData → Seq[Double] boxing) and is an optimizer
  * black box, while this expression participates in whole-stage
  * codegen — `doGenCode` emits the bare primitive loop straight into
  * the generated stage. The accumulation is the same sequential fold
  * as the equivalent `aggregate(zip_with(a, b, (x,y) -> x*y), 0D, +)`
  * higher-order expression (and DuckDB's list_sum), so similarity
  * values stay bit-identical to the oracles.
  *
  * Registered as `graft_dot` by Tables.sessionBuilder via
  * SparkSessionExtensions.injectFunction — sessions built elsewhere
  * must inject it the same way. Whole-array nulls propagate null
  * (handled by BinaryExpression's null-safe contract); a null element
  * yields NULL, and so do mismatched dimensions — exactly what the
  * documented-equivalent `aggregate(zip_with(...))` HOF does — so a
  * malformed embedding surfaces as a detectable null, never as a
  * silently-truncated but plausible similarity. Elements are
  * null-checked only when an input type has `containsNull = true`;
  * over non-null element types the loop is unchanged.
  */
case class DotProduct(left: Expression, right: Expression)
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
      s"graft_dot requires array<double> inputs, got ${left.dataType} and ${right.dataType}")
  }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "graft_dot"

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
        s += a.getDouble(i) * b.getDouble(i)
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
         |    $s += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
