package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Z-order (Morton) encoding: interleaves the bits of two dimensions so
  * that a 2-d box query becomes a union of CONTIGUOUS row-key ranges on
  * the engine's sorted layout. A key-sorted store prunes files only on
  * the leading key dimension; z-ordering the key recovers pruning for
  * BOTH dimensions — the classic multi-dimensional-layout move
  * (Orenstein/Merrett '84; the same layout Delta/Iceberg expose as
  * `OPTIMIZE ZORDER BY`). On a 100-TB table a box covering p% of each
  * dimension touches ~p²-ish of the z-range volume instead of 100% of
  * the files, and each decomposed range rides the engine's existing
  * leaf-pruned sorted scan (`GraftTable.query` regions → parquet
  * row-group/page filters).
  *
  * Bit layout: x occupies even bits, y odd bits. Both the driver-side
  * [[encode]] and the Catalyst-side [[zvalue]] use the identical
  * spread-bits mask cascade, so plans and planners agree bit-for-bit.
  */
object ZOrder {

  /** Spread the low 32 bits of v across the even bit positions. */
  def spread(v: Long): Long = {
    var x = v & 0xFFFFFFFFL
    x = (x | (x << 16)) & 0x0000FFFF0000FFFFL
    x = (x | (x << 8)) & 0x00FF00FF00FF00FFL
    x = (x | (x << 4)) & 0x0F0F0F0F0F0F0F0FL
    x = (x | (x << 2)) & 0x3333333333333333L
    x = (x | (x << 1)) & 0x5555555555555555L
    x
  }

  /** Morton code of (x, y), each taken as an unsigned 32-bit value. */
  def encode(x: Long, y: Long): Long = spread(x) | (spread(y) << 1)

  /** [[encode]] as a Column: the same mask cascade over Spark's builtin
    * bitwise ops, so it stays inside whole-stage codegen — no UDF.
    */
  def zvalue(x: Column, y: Column): Column = {
    def spreadC(c: Column): Column = {
      var t = c.cast("long").bitwiseAND(lit(0xFFFFFFFFL))
      t = t.bitwiseOR(shiftleft(t, 16)).bitwiseAND(lit(0x0000FFFF0000FFFFL))
      t = t.bitwiseOR(shiftleft(t, 8)).bitwiseAND(lit(0x00FF00FF00FF00FFL))
      t = t.bitwiseOR(shiftleft(t, 4)).bitwiseAND(lit(0x0F0F0F0F0F0F0F0FL))
      t = t.bitwiseOR(shiftleft(t, 2)).bitwiseAND(lit(0x3333333333333333L))
      t = t.bitwiseOR(shiftleft(t, 1)).bitwiseAND(lit(0x5555555555555555L))
      t
    }
    spreadC(x).bitwiseOR(shiftleft(spreadC(y), 1))
  }

  /** Decompose the inclusive box [x0,x1]×[y0,y1] (coordinates in
    * [0, 2^bits)) into ~`maxRanges` inclusive z ranges (the budget is
    * approximate: fully-inside cells met after the budget exhausts
    * still emit their exact range, a small constant per tree level)
    * whose union COVERS the box. Quadtree descent in z order: a fully-inside
    * cell emits its exact contiguous z range (an aligned power-of-two
    * cell is always z-contiguous); a partially-overlapping cell splits
    * while budget remains, else emits its covering range — so the cover
    * is exact given budget, and merely loose (never lossy) without.
    * Callers re-apply the box as a residual filter either way, the same
    * contract every z-order scan layer uses. Adjacent output ranges are
    * coalesced; output is sorted and disjoint.
    */
  def ranges(x0: Long, x1: Long, y0: Long, y1: Long, bits: Int,
      maxRanges: Int): Seq[(Long, Long)] = {
    require(bits >= 1 && bits <= 32, s"bits=$bits out of range")
    require(x0 <= x1 && y0 <= y1, "empty box")
    require(maxRanges >= 1, "need at least one range")
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    // cell = [cx, cx+size) × [cy, cy+size), size = 2^(bits-level)
    def cellRange(cx: Long, cy: Long, size: Long): (Long, Long) =
      (encode(cx, cy), encode(cx + size - 1, cy + size - 1))
    def go(cx: Long, cy: Long, size: Long, budget: Int): Int = {
      val disjoint = cx > x1 || cx + size - 1 < x0 || cy > y1 || cy + size - 1 < y0
      if (disjoint) return budget
      val inside = cx >= x0 && cx + size - 1 <= x1 && cy >= y0 && cy + size - 1 <= y1
      if (inside || size == 1 || budget <= 1) {
        out += cellRange(cx, cy, size)
        budget - 1
      } else {
        val h = size / 2
        // children visited in ascending z order: (0,0), (1,0), (0,1), (1,1)
        var b = budget
        b = go(cx, cy, h, b)
        b = go(cx + h, cy, h, b)
        b = go(cx, cy + h, h, b)
        b = go(cx + h, cy + h, h, b)
        b
      }
    }
    go(0L, 0L, 1L << bits, maxRanges)
    // DFS in z order emits sorted, non-overlapping ranges; coalesce the
    // adjacent ones so the region list the scan sees is minimal.
    val merged = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    for ((lo, hi) <- out) merged.lastOption match {
      case Some((plo, phi)) if phi + 1 == lo => merged(merged.size - 1) = (plo, hi)
      case _ => merged += ((lo, hi))
    }
    merged.toSeq
  }
}
