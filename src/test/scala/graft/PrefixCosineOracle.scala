package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Window-side reference for `NativeExpressions.prefixTopK`: the q209
  * ranking contract is pinned against a row_number window over these
  * per-cut cosines, and each cut is pinned bit-equal to the sliced
  * `longCosine`. */
object PrefixCosineOracle {

  /** ALL prefix-truncation cosines of two quantized long vectors in ONE
    * pass: running integer partials (dot, |a|², |b|²) snapshot a cosine at
    * each cut point — the same loop `PrefixTopKAgg` fuses with its heaps.
    * Each emitted cosine is BIT-IDENTICAL to `LongCosine(slice(a, 1, cut),
    * slice(b, 1, cut))`: the partial sums at element `cut` are the same
    * exact longs a sliced evaluation would accumulate, and the final
    * divide is the same double expression. Cuts must be ascending and
    * within both arrays (a cut past the shorter array snapshots at its
    * end — same min-length contract as LongCosine). */
  case class PrefixLongCosines(left: Expression, right: Expression, cuts: Seq[Int])
      extends BinaryExpression with CodegenFallback {
    require(cuts.nonEmpty && cuts == cuts.sorted && cuts.forall(_ >= 1),
      s"ascending positive cut points expected, got $cuts")
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def nullSafeEval(a: Any, b: Any): Any = {
      val va = a.asInstanceOf[ArrayData]
      val vb = b.asInstanceOf[ArrayData]
      val n = math.min(va.numElements(), vb.numElements())
      val out = new Array[Double](cuts.size)
      var dot = 0L; var na = 0L; var nb = 0L
      var i = 0; var c = 0
      while (c < cuts.size) {
        val cut = math.min(cuts(c), n)
        while (i < cut) {
          val x = va.getLong(i)
          val y = vb.getLong(i)
          dot += x * y; na += x * x; nb += y * y
          i += 1
        }
        out(c) = dot.toDouble / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
        c += 1
      }
      ArrayData.toArrayData(out)
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): PrefixLongCosines =
      copy(left = l, right = r)
  }

  def prefixLongCosines(a: Column, b: Column, cuts: Seq[Int]): Column =
    ColumnBridge.column(PrefixLongCosines(
      ColumnBridge.expression(a), ColumnBridge.expression(b), cuts))
}
