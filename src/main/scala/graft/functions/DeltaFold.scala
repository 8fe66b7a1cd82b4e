package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** Typed single-pass delta-chain fold (SURVEY §2 row 19 / §7.3): merges the
  * sparse (delta_idx, delta_val) rows of a chain into one dense additive
  * accumulation array.
  *
  * Because delta application is pure element-wise addition, the fold is
  * order-insensitive (reconstructed[i] = base[i] + Σ delta_val[i]) — this
  * Aggregator exploits that with a mutable dense buffer: one pass over the
  * chain rows, no per-dimension explode. PropertySpec checks those
  * algebraic laws on it; the read path folds with the compiled
  * [[DeltaChainFoldExpr]], which sums the same way. Out-of-range indices
  * are silently ignored (reference core/data_structures.py:118).
  */
class DeltaFoldAggregator(dim: Int)
    extends Aggregator[(Seq[Int], Seq[Float]), Array[Double], Seq[Float]] {

  override def zero: Array[Double] = Array.fill(dim)(0.0)

  override def reduce(acc: Array[Double],
                      row: (Seq[Int], Seq[Float])): Array[Double] = {
    val (idx, vs) = row
    var k = 0
    val n = math.min(idx.length, vs.length)
    while (k < n) {
      val i = idx(k)
      if (i >= 0 && i < dim) acc(i) += vs(k).toDouble
      k += 1
    }
    acc
  }

  override def merge(a: Array[Double], b: Array[Double]): Array[Double] = {
    var i = 0
    while (i < dim) { a(i) += b(i); i += 1 }
    a
  }

  override def finish(acc: Array[Double]): Seq[Float] =
    acc.toSeq.map(_.toFloat)

  override def bufferEncoder: Encoder[Array[Double]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]()

  override def outputEncoder: Encoder[Seq[Float]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Float]]()
}
