package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Physical-layout keys.
  *
  * Z-ordering interleaves the bits of two dimension keys so that rows
  * close in BOTH dimensions land close in the sort order. Written with
  * `repartitionByRange(zkey).sortWithinPartitions(zkey)`, every parquet
  * file then covers a narrow range of BOTH columns, and min/max row-group
  * stats prune scans with predicates on EITHER dimension — the standard
  * multi-dimensional data-skipping layout for a 100 TB fact table, where
  * a single-column sort can only skip for its leading column.
  *
  * The key is a pure column expression (portable integer bit arithmetic,
  * replayed exactly by the SQL oracle); it is computed once at write
  * time, so interpreted higher-order-function cost is irrelevant.
  */
object Layout {

  /** Max bits per dimension (2 × 31 = 62 interleaved bits in a long). */
  val MaxBits = 31

  /** Morton/Z-order key of two non-negative integer columns:
    * bit i of `a` → bit 2i, bit i of `b` → bit 2i+1. Monotone in each
    * argument (spread(a) + 2·spread(b) with spread monotone), which is
    * what makes range predicates on either dimension map to zkey ranges.
    * `bits` is compile-time, so the interleave unrolls to 2·bits codegen'd
    * shift/mask terms — no interpreted higher-order lambdas. */
  def zorder2(a: Column, b: Column, bits: Int = 20): Column = {
    require(bits >= 1 && bits <= MaxBits, s"bits must be in [1, $MaxBits]")
    (0 until bits).map { i =>
      shiftleft(shiftright(a.cast("long"), i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(b.cast("long"), i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)
  }
}
