package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Compiled delta-chain fold for the reconstruction read path. Given one
  * content's collected stored rows and a target seq —
  *
  *   history: ARRAY<STRUCT<seq INT, is_base BOOLEAN, embedding ARRAY<FLOAT>,
  *            delta_idx ARRAY<INT>, delta_val ARRAY<FLOAT>,
  *            change_magnitude DOUBLE>>
  *
  * — it takes the nearest base at or before the target (the max base seq)
  * and folds every delta after it, up to the target, onto that base:
  *
  *   struct(embedding ARRAY<FLOAT>, base_seq INT, deltas_applied INT,
  *          avg_magnitude DOUBLE)
  *
  * NULL when no base precedes the target. The arithmetic is
  * [[ApplyMapDeltaExpr]]'s scatter-add, so values are bit-identical to
  * summing the chain per dimension first: per-dimension delta sums in
  * double, `out[i] = (float)((double) base[i] + sum[i])`, out-of-range
  * indices ignored; a chain with no stored entries returns the base
  * unchanged. The chain is walked in seq order, so `avg_magnitude` (the
  * mean of its non-null change magnitudes, NULL for an empty chain) does
  * not depend on the order the rows were collected in. A null element in
  * the base or in a chain's delta arrays makes the embedding NULL (null
  * cells are corruption, as in [[ApplyMapDeltaExpr]]).
  *
  * Generated code calls [[DeltaChainFoldExpr.fold]] directly: one
  * JIT-compiled loop per (content, target), no interpreted path inside
  * whole-stage codegen. */
case class DeltaChainFoldExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  private def entryTypesOk(s: StructType): Boolean =
    s.fields.map(_.dataType).toSeq match {
      case Seq(IntegerType, BooleanType, ArrayType(FloatType, _),
               ArrayType(IntegerType, _), ArrayType(FloatType, _),
               DoubleType) => true
      case _ => false
    }

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(s: StructType, _), IntegerType) if entryTypesOk(s) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<struct<seq int, is_base boolean, " +
          "embedding array<float>, delta_idx array<int>, delta_val " +
          s"array<float>, change_magnitude double>>, int), got $l / $r")
    }

  // the embedding may carry the base's nulls through an empty chain
  private def embeddingType: DataType = left.dataType match {
    case ArrayType(s: StructType, _) => s.fields(2).dataType
    case _ => ArrayType(FloatType)
  }

  override def dataType: DataType = StructType(Seq(
    StructField("embedding", embeddingType),
    StructField("base_seq", IntegerType, nullable = false),
    StructField("deltas_applied", IntegerType, nullable = false),
    StructField("avg_magnitude", DoubleType)))

  override def nullable: Boolean = true

  override def prettyName: String = "graft_fold_chain"

  override def nullSafeEval(history: Any, target: Any): Any =
    DeltaChainFoldExpr.fold(history.asInstanceOf[ArrayData],
      target.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (h, t) =>
      s"""
         |${ev.value} = graft.functions.DeltaChainFoldExpr$$.MODULE$$
         |  .fold($h, $t);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object DeltaChainFoldExpr {
  private val Fields = 6

  def fold(history: ArrayData, target: Int): InternalRow = {
    val n = history.numElements()
    var base: InternalRow = null
    var baseSeq = 0
    var j = 0
    while (j < n) {
      val e = history.getStruct(j, Fields)
      val s = e.getInt(0)
      if (s <= target && e.getBoolean(1) && (base == null || s > baseSeq)) {
        base = e
        baseSeq = s
      }
      j += 1
    }
    if (base == null) return null

    // the chain in seq order: (seq << 32 | position) sorts by seq
    val chain = new Array[Long](n)
    var len = 0
    j = 0
    while (j < n) {
      val e = history.getStruct(j, Fields)
      val s = e.getInt(0)
      if (s > baseSeq && s <= target && !e.getBoolean(1)) {
        chain(len) = (s.toLong << 32) | j
        len += 1
      }
      j += 1
    }
    java.util.Arrays.sort(chain, 0, len)

    val emb = if (base.isNullAt(2)) null else base.getArray(2)
    val dim = if (emb == null) 0 else emb.numElements()
    val sum = new Array[Double](dim)
    var touched = false
    var poisoned = emb == null
    var magSum = 0.0
    var magN = 0
    var c = 0
    while (c < len) {
      val e = history.getStruct((chain(c) & 0xffffffffL).toInt, Fields)
      if (!e.isNullAt(5)) { magSum += e.getDouble(5); magN += 1 }
      if (!e.isNullAt(3)) {
        val idx = e.getArray(3)
        val vals = if (e.isNullAt(4)) null else e.getArray(4)
        var p = 0
        while (p < idx.numElements()) {
          touched = true
          if (vals == null || p >= vals.numElements() ||
              idx.isNullAt(p) || vals.isNullAt(p)) poisoned = true
          else {
            val k = idx.getInt(p)
            if (k >= 0 && k < dim) sum(k) += vals.getFloat(p).toDouble
          }
          p += 1
        }
      }
      c += 1
    }

    val out: ArrayData =
      if (poisoned) null
      else if (!touched) emb.copy()
      else {
        val v = new Array[Float](dim)
        var i = 0
        while (i < dim && !poisoned) {
          if (emb.isNullAt(i)) poisoned = true
          else v(i) = (emb.getFloat(i).toDouble + sum(i)).toFloat
          i += 1
        }
        if (poisoned) null else UnsafeArrayData.fromPrimitiveArray(v)
      }
    new GenericInternalRow(Array[Any](out, baseSeq, len,
      if (magN == 0) null else magSum / magN))
  }
}
