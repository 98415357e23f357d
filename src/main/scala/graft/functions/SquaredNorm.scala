package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native squared norm (Σ xᵢ·xᵢ) over an array<double> column — the
  * self-dot every `withNorm`-style pass pays once per corpus row.
  *
  * A UNARY expression on purpose: the equivalent `graft_dot(v, v)`
  * references its child twice, and CollapseProject then inlines the
  * producing expression (typically `transform(embedding, cast)`)
  * twice per row — measured ~8% on the sf1 IVF curves. One child,
  * one evaluation, same sequential fold as the
  * `aggregate(v, 0D, (a, x) -> a + x * x)` HOF it replaces (each
  * `x*x` product and each add is the same IEEE op in the same
  * order), so norms are bit-identical to the DuckDB oracles.
  *
  * Registered as `graft_norm2` by Tables.sessionBuilder. A null
  * array propagates null (UnaryExpression's null-safe contract), and
  * so does a null element, like the HOF's `a + x * x` over a null x.
  * Elements are null-checked only when the input type has
  * `containsNull = true`; over non-null element types the loop is
  * unchanged. */
case class SquaredNorm(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"graft_norm2 requires an array<double> input, got $dt")
  }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "graft_norm2"

  private lazy val elemNulls =
    child.dataType.asInstanceOf[ArrayType].containsNull

  override def nullable: Boolean = child.nullable || elemNulls

  override protected def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = a.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      if (elemNulls && a.isNullAt(i)) return null
      val x = a.getDouble(i)
      s += x * x
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      val x = ctx.freshName("x")
      // a null element ends the fold with NULL
      val nullCheck =
        if (elemNulls) s"if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }"
        else ""
      s"""
         |int $n = $a.numElements();
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $nullCheck
         |  double $x = $a.getDouble($i);
         |  $s += $x * $x;
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
