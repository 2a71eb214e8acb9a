package graft.plans

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native dot product over two array<double> columns.
  *
  * This is the (b) tier of the extension ladder (SURVEY.md §4 /
  * the build brief): a real Catalyst `Expression` with `doGenCode`, used
  * where the built-in higher-order `aggregate(zip_with(...))` fold is
  * semantically right but executes as an interpreted lambda per element
  * (HOF expressions don't participate in whole-stage codegen's fused
  * loops). The generated code is a tight primitive loop — no per-element
  * closure dispatch, no boxing.
  *
  * Semantics contract: EXACTLY
  * `aggregate(zip_with(a, b, (x,y) -> x*y), 0.0d, (acc,v) -> acc+v)`:
  *  - a strict left-to-right sequential fold, so results are bit-for-bit
  *    equal to the HOF form (and to DuckDB's list_aggregate 'sum') — what
  *    lets the oracle-checked queries use it;
  *  - NULL when the arrays differ in length (zip_with null-pads the
  *    shorter side, the null product nulls the fold) or when any element
  *    is null — NOT a silent min-length sum. This exact null contract is
  *    what makes the FoldToDotProduct optimizer rewrite sound for ANY
  *    array<double> inputs, nullable elements or not.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  // Can return null even for non-null inputs (length mismatch / null
  // element), so nullability is not derivable from the children.
  override def nullable: Boolean = true

  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val bad = ctx.freshName("bad")
      s"""
         |final int $n = $a.numElements();
         |boolean $bad = $n != $b.numElements();
         |double $acc = 0.0;
         |for (int $i = 0; !$bad && $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) { $bad = true; }
         |  else { $acc += $a.getDouble($i) * $b.getDouble($i); }
         |}
         |if ($bad) { ${ev.isNull} = true; } else { ${ev.value} = $acc; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

object DotProduct {
  /** Column-API surface: native dot product. */
  def dot(a: Column, b: Column): Column =
    GraftColumnBridge.column(
      DotProduct(GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  /** Squared L2 norm as a self-dot — same generated loop. */
  def norm2(a: Column): Column = dot(a, a)

  /** Exact squared L2 distance on the 1e6 integer grid, as a long (the
    * q219/q228 bridge): for 64-dim vectors n2+n2−2·dot ≤ 64·(2e6)² =
    * 2.56e14 < 2^53, so the double arithmetic is exact and the long cast
    * lossless — bit-identical keys in both engines. */
  def gridDist(a: Column, b: Column): Column = {
    val (ad, bd) = (a.cast("array<double>"), b.cast("array<double>"))
    (norm2(ad) + norm2(bd) - lit(2.0) * dot(ad, bd)).cast("long")
  }
}
