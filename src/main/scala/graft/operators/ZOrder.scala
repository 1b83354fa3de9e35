package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Z-order (Morton) data layout — the multi-dimensional clustering trick
  * for scan pruning when queries filter on TWO correlated dimensions at
  * once (pickup_zone × hour, partkey × suppkey): interleave the bits of
  * both keys into one sort key, range-partition and sort files by it,
  * and a rectangle predicate in (x, y) space touches only the handful of
  * files whose z-range overlaps it. Where plain `sortWithinPartitions(x)`
  * gives perfect min/max pruning on x and NONE on y, z-order gives
  * near-optimal pruning on both — this is what Delta's `OPTIMIZE ZORDER
  * BY` and Iceberg's sort orders do under the hood.
  *
  * Everything is row-local literal bit arithmetic (codegen'd shifts and
  * masks, no UDF), so the key costs nothing at 100 TB and is exactly
  * reproducible by any engine with integer shifts — which is how the
  * gate pins it against DuckDB.
  */
object ZOrder {

  /** Morton-interleave the low `bits` bits of two non-negative integer
    * columns: bit i of `x` lands at position 2i, bit i of `y` at 2i+1.
    * Callers with non-integer dimensions quantize first (e.g.
    * `ntile`/fixed-width buckets); `2·bits` must stay < 63. */
  def zorderKey2(x: Column, y: Column, bits: Int = 16): Column =
    zorderKeyN(Seq(x, y), bits)

  /** N-dimensional Morton key: bit i of column j lands at position
    * `i·N + j` — the general form real table layouts use (zone × hour ×
    * cab type). `N·bits` must stay < 63. */
  def zorderKeyN(cols: Seq[Column], bits: Int): Column = {
    val n = cols.length
    require(n >= 2, s"need at least 2 columns, got $n")
    require(bits >= 1 && n * bits < 63, s"$n cols × $bits bits exceeds a long")
    val longs = cols.map(_.cast("long"))
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      longs.zipWithIndex.foldLeft(acc) { case (a, (c, j)) =>
        a + shiftleft(shiftrightunsigned(c, i).bitwiseAND(lit(1L)), i * n + j)
      }
    }
  }
}
