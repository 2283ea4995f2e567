package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native dot product over two array<double> columns.
  *
  * The engine's canonical dot spelling was
  * `aggregate(zip_with(a, b, _*_), 0.0, _+_)` — higher-order functions are
  * CodegenFallback, so every pair-stage cosine (ANN candidate scoring,
  * embedding dedup verification, k-means assignment) paid interpreted
  * per-element lambda evaluation plus a materialized zipped array. This
  * expression produces the SAME double bit-for-bit — left-to-right
  * index-order accumulation, identical null semantics (null input, null
  * element, or length mismatch → null; empty arrays → 0.0, matching
  * zip_with's null-padded tail collapsing the fold to null) — as a single
  * codegen'd loop with no allocation.
  */
object VectorOps {

  case class DotExpr(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = x.numElements()
      if (y.numElements() != n) return null
      var acc = 0.0
      var i = 0
      while (i < n) {
        if (x.isNullAt(i) || y.isNullAt(i)) return null
        acc += x.getDouble(i) * y.getDouble(i)
        i += 1
      }
      acc
    }

    override protected def doGenCode(ctx: CodegenContext,
                                     ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val acc = ctx.freshName("acc")
        val i = ctx.freshName("i")
        val n = ctx.freshName("n")
        s"""
           |int $n = $a.numElements();
           |if ($b.numElements() != $n) { ${ev.isNull} = true; }
           |else {
           |  double $acc = 0.0;
           |  for (int $i = 0; $i < $n; $i++) {
           |    if ($a.isNullAt($i) || $b.isNullAt($i)) {
           |      ${ev.isNull} = true; break;
           |    }
           |    $acc += $a.getDouble($i) * $b.getDouble($i);
           |  }
           |  if (!${ev.isNull}) { ${ev.value} = $acc; }
           |}
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): DotExpr =
      copy(left = newLeft, right = newRight)
  }

  /** Column form: dot(a, b) with array<double> inputs (resolved through
    * the session function registry — [[graft.GraftExtensions]] and
    * [[graft.core.Normalize.register]] install "vec_dot", and every entry
    * point of the engine registers). */
  def dot(a: Column, b: Column): Column = call_function("vec_dot", a, b)
}
