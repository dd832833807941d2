package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, LongType}

/** Hilbert-curve index of a 2-D point (the xy→d walk of the classic
  * iterative algorithm — public method, Hilbert 1891; the rotate/reflect
  * formulation is the standard public-domain one). Unlike the Morton/Z
  * curve, the Hilbert curve is CONTINUOUS: consecutive curve positions are
  * always Manhattan-adjacent cells, so a contiguous curve range maps to a
  * more compact rectangle — tighter per-file min/max envelopes than Z at
  * the same file count, i.e. strictly better row-group pruning for the
  * same layout cost (the hilbert rows of LAYOUT_PROBE_r14.json).
  *
  * Why a native Expression and not Column arithmetic: each of the `bits`
  * iterations REWRITES (x, y) as a function of both previous values
  * (quadrant rotation), so a pure-Column formulation nests when() trees
  * exponentially in `bits` (and Catalyst's CollapseProject would re-inline
  * any staged-column workaround). The imperative loop is O(bits) in both
  * interpreted and codegen'd form. Inputs are rank-normalized longs in
  * [0, 2^bits); high bits beyond `bits` are masked — like zorder2, d is a
  * SORT key only, never data.
  */
case class HilbertIndex(left: Expression, right: Expression, bits: Int)
    extends BinaryExpression {

  require(bits >= 1 && bits <= 31, s"bits must be in [1, 31], got $bits")

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "hilbert_index"

  override def nullSafeEval(xIn: Any, yIn: Any): Any = {
    val mask = (1L << bits) - 1
    var x = xIn.asInstanceOf[Long] & mask
    var y = yIn.asInstanceOf[Long] & mask
    var d = 0L
    var s = 1L << (bits - 1)
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3 * rx) ^ ry)
      if (ry == 0) { // rotate quadrant
        if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (xIn, yIn) => {
      val x = ctx.freshName("hx")
      val y = ctx.freshName("hy")
      val d = ctx.freshName("hd")
      val s = ctx.freshName("hs")
      val rx = ctx.freshName("hrx")
      val ry = ctx.freshName("hry")
      val t = ctx.freshName("ht")
      s"""
         |long $x = $xIn & ${(1L << bits) - 1}L;
         |long $y = $yIn & ${(1L << bits) - 1}L;
         |long $d = 0L;
         |for (long $s = ${1L << (bits - 1)}L; $s > 0; $s >>= 1) {
         |  long $rx = (($x & $s) > 0) ? 1L : 0L;
         |  long $ry = (($y & $s) > 0) ? 1L : 0L;
         |  $d += $s * $s * ((3L * $rx) ^ $ry);
         |  if ($ry == 0) {
         |    if ($rx == 1) { $x = $s - 1 - $x; $y = $s - 1 - $y; }
         |    long $t = $x; $x = $y; $y = $t;
         |  }
         |}
         |${ev.value} = $d;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HilbertIndex =
    copy(left = newLeft, right = newRight)
}

object HilbertExpression {
  def hilbertIndex(x: Column, y: Column, bits: Int): Column =
    ColumnBridge.toColumn(HilbertIndex(
      ColumnBridge.toExpression(x.cast("long")),
      ColumnBridge.toExpression(y.cast("long")), bits))
}
