package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.ops.Layout

/** Z-order layout keys (ops.Layout): correctness of the interleave and
  * the monotonicity that lets range predicates map to key ranges. */
class LayoutSpec extends SparkSpec {

  /** Even (dim 0 = `a`) / odd (dim 1 = `b`) de-interleave — the inverse
    * of [[Layout.zorder2]], the round-trip oracle. */
  private def zorderDim(z: Column, dim: Int, bits: Int = 20): Column =
    (0 until bits).map { i =>
      shiftleft(shiftright(z, 2 * i + dim).bitwiseAND(lit(1L)), i)
    }.reduce(_ + _)

  test("zorder2 round-trips through de-interleave") {
    import spark.implicits._
    val vals = Seq((0L, 0L), (1L, 0L), (0L, 1L), (5L, 9L), (1023L, 511L),
      ((1L << 20) - 1, (1L << 20) - 1), (123456L, 654321L))
    val got = vals.toDF("a", "b")
      .select(col("a"), col("b"), Layout.zorder2(col("a"), col("b")).as("z"))
      .select(col("a"), col("b"),
        zorderDim(col("z"), 0).as("a2"), zorderDim(col("z"), 1).as("b2"))
      .collect()
    got.foreach { r =>
      assert(r.getLong(0) == r.getLong(2) && r.getLong(1) == r.getLong(3),
        s"round-trip failed: $r")
    }
  }

  test("zorder2 is monotone in each dimension (range predicates map to key ranges)") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val pairs = Seq.fill(200)((rnd.nextInt(1 << 20).toLong, rnd.nextInt(1 << 20).toLong))
    val z = pairs.toDF("a", "b")
      .select(col("a"), col("b"), Layout.zorder2(col("a"), col("b")).as("z"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    for (((a, b), zv) <- z; ((a2, b2), zv2) <- z
         if a <= a2 && b <= b2)
      assert(zv <= zv2, s"monotonicity violated: ($a,$b)->$zv vs ($a2,$b2)->$zv2")
  }
}
