package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{DataType, IntegerType}

/** Intersection cardinality of two SORTED long arrays via a single merge
  * pass — a native Catalyst expression with whole-stage codegen.
  *
  * This is the hot inner loop of exact near-dup verification
  * (|A∩B| for Jaccard): the built-in `array_intersect` builds a hash set
  * per row pair (allocation + hashing per element), while this merge walk
  * is branch-only, allocation-free, and O(|A|+|B|). On an all-pairs
  * similarity stage this is the difference between the expression being
  * ~the cost of reading the arrays and dominating the whole query.
  *
  * Inputs must be sorted ascending and duplicate-free (the contract of
  * `TextFns.ngramHashSet`); behavior on unsorted input is undefined.
  * Null if either side is null (default BinaryExpression null semantics).
  */
case class IntersectCardSorted(left: Expression, right: Expression)
    extends BinaryExpression {

  // inputs are always array<bigint> (sorted distinct hash sets such as
  // `TextFns.ngramHashSet` output)
  override def dataType: DataType = IntegerType

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    var i = 0
    var j = 0
    var n = 0
    val xn = x.numElements()
    val yn = y.numElements()
    while (i < xn && j < yn) {
      val xv = x.getLong(i)
      val yv = y.getLong(j)
      if (xv == yv) { n += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    n
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |int $i = 0, $j = 0;
         |${ev.value} = 0;
         |while ($i < $a.numElements() && $j < $b.numElements()) {
         |  long $xv = $a.getLong($i);
         |  long $yv = $b.getLong($j);
         |  if ($xv == $yv) { ${ev.value}++; $i++; $j++; }
         |  else if ($xv < $yv) { $i++; } else { $j++; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object IntersectCardSorted {
  /** Column API: |a ∩ b| for sorted, distinct long arrays. */
  def apply(a: Column, b: Column): Column =
    Bridge.column(IntersectCardSorted(Bridge.expression(a), Bridge.expression(b)))
}
