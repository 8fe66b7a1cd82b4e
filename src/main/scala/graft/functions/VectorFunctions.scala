package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `ARRAY<FLOAT>` columns, built exclusively on Spark's
  * codegen-friendly higher-order functions (`zip_with`/`aggregate`/
  * `transform`/`filter`) — no UDFs — so the hot path stays inside
  * whole-stage codegen and scales linearly with executor count.
  *
  * Semantics mirror the reference's numpy kernels:
  *  - L2 norm / normalize: /root/reference/storage/storage_engine.py:101,153-155
  *  - cosine via inner product of normalized vectors: storage_engine.py:85,456-461
  *  - sparse diff with |x| >= threshold: core/delta_computer.py:63-66
  *  - scatter-add delta application ignoring out-of-range indices:
  *    core/data_structures.py:106-120 (ignore at :118)
  *
  * All accumulation happens in `double` regardless of input element type, so
  * results are deterministic and match a DuckDB oracle after rounding.
  *
  * PERF NOTE: `cosine`/`l2Normalize` inline their norm sub-expressions; when
  * scoring N×M pairs, materialize norms once per side (`withColumn("norm",
  * l2Norm($"v"))`) and use [[dot]] / [[l2NormalizeWith]] — otherwise the O(d)
  * aggregate is re-evaluated per pair.
  */
object VectorFunctions {
  private val D = "double"

  /** Σ v[i]² accumulated in double. */
  def sumSq(v: Column): Column =
    aggregate(v, lit(0.0), (acc, x) => acc + x.cast(D) * x.cast(D))

  /** L2 norm (generic: any numeric element type, interpreted HOF). */
  def l2Norm(v: Column): Column = sqrt(sumSq(v))

  /** L2 norm of an ARRAY<FLOAT> column via the codegen'd [[DotProduct]]
    * (dot(v, v) is exactly [[sumSq]]: same left-to-right double fold from
    * 0.0, so values are bit-identical) — compiled, for the bulk
    * normalization passes in the similarity/dedup scans. */
  def l2NormNative(v: Column): Column = sqrt(dotNative(v, v))

  /** Element-wise `cur - prev` as ARRAY<DOUBLE>. */
  def vecDiff(cur: Column, prev: Column): Column =
    zip_with(cur, prev, (x, y) => x.cast(D) - y.cast(D))

  /** Inner product, double accumulator, left-to-right (deterministic).
    * Built-in HOF form — see [[dotNative]] for the codegen'd fast path. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast(D) * y.cast(D)),
      lit(0.0), (acc, v) => acc + v)

  /** Inner product via the native codegen'd [[DotProduct]] expression —
    * identical values to [[dot]] (same fold order), ~10× faster in bulk
    * scoring joins. Inputs must be ARRAY<FLOAT>. */
  def dotNative(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(DotProduct(Bridge.expression(a), Bridge.expression(b)))
  }

  /** [[dotNative]] for ARRAY<DOUBLE> inputs (the distributed trainers'
    * double-precision centroids) — codegen'd [[DotProductDouble]]. */
  def dotNativeD(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(DotProductDouble(Bridge.expression(a), Bridge.expression(b)))
  }

  /** Cosine similarity of two raw vectors. For bulk scoring pre-normalize. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Euclidean distance. */
  def l2Dist(a: Column, b: Column): Column =
    sqrt(aggregate(
      zip_with(a, b, (x, y) => (x.cast(D) - y.cast(D)) * (x.cast(D) - y.cast(D))),
      lit(0.0), (acc, v) => acc + v))

  /** v / norm with the norm supplied separately (materialize it once).
    * Generic HOF form — see [[l2NormalizeWithNative]] for the compiled
    * ARRAY<FLOAT> fast path. */
  def l2NormalizeWith(v: Column, norm: Column): Column =
    transform(v, x => (x.cast(D) / norm).cast("float"))

  /** [[l2NormalizeWith]] via the codegen'd [[L2NormalizeExpr]] —
    * bit-identical values for ARRAY<FLOAT> inputs, compiled (no
    * per-element lambda dispatch in the bulk normalization scans). */
  def l2NormalizeWithNative(v: Column, norm: Column): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(L2NormalizeExpr(
      Bridge.expression(v), Bridge.expression(norm.cast(D))))
  }

  def l2Normalize(v: Column): Column = l2NormalizeWith(v, l2Norm(v))

  /** Sparse diff: ARRAY<STRUCT<idx INT, val DOUBLE>> of dims where
    * |cur-prev| >= threshold (reference core/delta_computer.py:63-66). */
  def sparseDiff(cur: Column, prev: Column, threshold: Double): Column =
    filter(
      zip_with(cur, prev, (x, y) => x.cast(D) - y.cast(D)) match {
        case diff => transform(diff, (v, i) => struct(i.as("idx"), v.as("val")))
      },
      s => abs(s("val")) >= lit(threshold))

  /** One-pass compiled sparse diff via [[SparseDiffExpr]]: returns
    * struct(idx, val, n_changed, raw_magnitude) — bit-identical to
    * composing [[sparseDiff]] + size + the raw-dense magnitude aggregate,
    * in a single codegen'd loop (the ingest write path's hot kernel). */
  def sparseDiffNative(cur: Column, prev: Column, threshold: Double): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(SparseDiffExpr(
      Bridge.expression(cur), Bridge.expression(prev), threshold))
  }

  /** Projections of [[sparseDiff]] output to the storage layout's parallel
    * arrays (reference storage/storage_engine.py:204-211). */
  def pairsIdx(pairs: Column): Column = transform(pairs, s => s("idx"))
  def pairsVal(pairs: Column): Column =
    transform(pairs, s => s("val").cast("float"))

  /** Scatter-add a sparse delta into a dense vector. Indices outside the
    * vector are silently ignored (reference core/data_structures.py:118). */
  def applyDelta(base: Column, deltaIdx: Column, deltaVal: Column): Column = {
    val m = map_from_arrays(deltaIdx, deltaVal)
    transform(base, (x, i) =>
      (x.cast(D) + coalesce(element_at(m, i).cast(D), lit(0.0))).cast("float"))
  }

  /** Compiled scatter+add of a MAP<INT,DOUBLE> delta onto an ARRAY<FLOAT>
    * base via [[ApplyMapDeltaExpr]] — bit-identical to the HOF
    * `transform(base, (x,i) => (x + coalesce(element_at(m,i),0)).cast(f))`
    * but O(d + |map|) instead of O(d·|map|) interpreted lookups. */
  def applyMapDeltaNative(base: Column, adds: Column): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(ApplyMapDeltaExpr(
      Bridge.expression(base), Bridge.expression(adds)))
  }

  /** Compiled nearest-base + delta-chain fold of one content's collected
    * stored rows at `target` via [[DeltaChainFoldExpr]]: struct(embedding,
    * base_seq, deltas_applied, avg_magnitude), NULL when no base precedes
    * the target. */
  def foldChainNative(history: Column, target: Column): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(DeltaChainFoldExpr(
      Bridge.expression(history), Bridge.expression(target)))
  }

  /** Change magnitude from sparse values only (used when the dense diff is
    * unavailable; reference core/data_structures.py:92-95). */
  def sparseMagnitude(deltaVal: Column): Column =
    sqrt(aggregate(deltaVal, lit(0.0), (a, v) => a + v.cast(D) * v.cast(D)))
}
