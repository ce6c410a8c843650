package graft.functions

import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.types.{DataType, LongType}

/** z_interleave(x, y): the Morton (Z-order) code of two keys — the low
  * 32 bits of each, bit-interleaved into one 64-bit value (x on even
  * bit positions, y on odd). Sorting by the z-value clusters rows that
  * are close in BOTH dimensions, which is what makes multi-dimensional
  * min/max pruning work (see [[graft.operators.Zorder]]).
  *
  * Native + codegen'd: this runs once per row of a 100 TB table during
  * the layout write, so it must stay inside whole-stage codegen. Inputs
  * are masked to 32 bits (callers normalize negative / wide domains
  * first — e.g. `pmod`, day-offsets, or rank buckets). */
case class ZInterleave(left: Expression, right: Expression)
    extends BinaryExpression {
  override def prettyName: String = "z_interleave"
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == LongType && right.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"z_interleave requires two longs, got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}")

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[Long] & 0xFFFFFFFFL
    val y = b.asInstanceOf[Long] & 0xFFFFFFFFL
    var z = 0L
    var i = 0
    while (i < 32) {
      z |= ((x >> i) & 1L) << (2 * i)
      z |= ((y >> i) & 1L) << (2 * i + 1)
      i += 1
    }
    z
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // fresh local names: two z_interleave calls can share one codegen
    // method, where fixed names would collide
    val (x, y, z, i) = (ctx.freshName("zx"), ctx.freshName("zy"),
      ctx.freshName("zv"), ctx.freshName("zi"))
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      |long $x = $a & 0xFFFFFFFFL;
      |long $y = $b & 0xFFFFFFFFL;
      |long $z = 0L;
      |for (int $i = 0; $i < 32; $i++) {
      |  $z |= (($x >> $i) & 1L) << (2 * $i);
      |  $z |= (($y >> $i) & 1L) << (2 * $i + 1);
      |}
      |${ev.value} = $z;""".stripMargin)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** hilbert_index(x, y): the order-16 Hilbert-curve distance of two
  * 16-bit keys — the locality-better alternative to [[ZInterleave]]:
  * consecutive d-values are ALWAYS grid neighbors (unit steps, no
  * Morton "seams" where the curve jumps across the space), so row
  * groups cut from a d-sorted layout have tighter per-dimension min/max
  * bounds and prune a bit better on box filters.
  *
  * Standard per-level quadrant walk: at each scale s the quadrant
  * index ((3·rx)⊕ry) contributes s²·q to d, then the frame rotates
  * (the s-scaled rotation variant; intermediate coordinates may go
  * negative — two's-complement `&` keeps the bit tests exact, and
  * HilbertSpec proves the result is a bijection with unit steps).
  * 16-bit domains ⇒ d < 2^32; callers normalize keys first (pmod /
  * day-offsets), as with z_interleave. The oracle unrolls the same 16
  * levels as chained CTEs — plain SQL column semantics, one level per
  * SELECT (DuckDB 1.0's list_reduce mutates struct accumulators
  * field-sequentially, which corrupts the swap — avoided entirely).
  */
case class HilbertIndex(left: Expression, right: Expression)
    extends BinaryExpression {
  override def prettyName: String = "hilbert_index"
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == LongType && right.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"hilbert_index requires two longs, got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}")

  override def nullSafeEval(a: Any, b: Any): Any = {
    var x = a.asInstanceOf[Long] & 0xFFFFL
    var y = b.asInstanceOf[Long] & 0xFFFFL
    var d = 0L
    var s = 1L << 15
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3 * rx) ^ ry)
      if (ry == 0) {
        if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val (x, y, d, s, rx, ry, t) = (ctx.freshName("hx"), ctx.freshName("hy"),
      ctx.freshName("hd"), ctx.freshName("hs"), ctx.freshName("hrx"),
      ctx.freshName("hry"), ctx.freshName("ht"))
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      |long $x = $a & 0xFFFFL;
      |long $y = $b & 0xFFFFL;
      |long $d = 0L;
      |for (long $s = 1L << 15; $s > 0; $s >>= 1) {
      |  long $rx = (($x & $s) > 0) ? 1L : 0L;
      |  long $ry = (($y & $s) > 0) ? 1L : 0L;
      |  $d += $s * $s * ((3 * $rx) ^ $ry);
      |  if ($ry == 0) {
      |    if ($rx == 1) { $x = $s - 1 - $x; $y = $s - 1 - $y; }
      |    long $t = $x; $x = $y; $y = $t;
      |  }
      |}
      |${ev.value} = $d;""".stripMargin)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

object ZorderFunctions {
  val fns: Seq[(String, FunctionBuilder, String)] = Seq(
    ("z_interleave", (e: Seq[Expression]) => ZInterleave(e(0), e(1)),
      "z_interleave(x, y) - 64-bit Morton code of two 32-bit keys"),
    ("hilbert_index", (e: Seq[Expression]) => HilbertIndex(e(0), e(1)),
      "hilbert_index(x, y) - order-16 Hilbert distance of two 16-bit keys"))
}
