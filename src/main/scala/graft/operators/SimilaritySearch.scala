package graft.operators

import graft.functions.VectorFunctions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Batch cosine kNN (SURVEY §2 rows 21, 27, 43; reference FAISS path
  * /root/reference/storage/storage_engine.py:439-469).
  *
  * The reference searches an exact inner-product index over L2-normalized
  * BASE snapshots only (delta-only versions are never indexed —
  * storage_engine.py:89-110). The Spark formulation: normalize both sides
  * ONCE (norms materialized, not re-derived per pair), broadcast the small
  * query side, score with a codegen'd higher-order dot product, rank with a
  * per-query window. The corpus is scanned exactly once regardless of query
  * count; the only shuffle is the rank-by-query exchange, which is
  * proportional to |queries| × |corpus| only in the rows that survive
  * scoring — at cluster scale swap the window for a bounded-heap
  * TypedImperativeAggregate if ranking dominates (SURVEY row 43).
  */
object SimilaritySearch {

  /** Exact top-k cosine join. `queries`: (query_id, qvec); `corpus`:
    * (id, vec). Output: query_id, rank, id, sim — positive similarities
    * only (reference storage_engine.py:464-467). */
  def topK(queries: DataFrame, corpus: DataFrame, k: Int,
           positiveOnly: Boolean = true): DataFrame = {
    // salted two-phase ranking: a handful of query ids would otherwise
    // each rank the whole corpus on a single task (hot-key skew)
    val ranked = TopK.perKeySalted(scored(queries, corpus), "query_id",
      Seq(desc("sim"), col("id")), k)

    (if (positiveOnly) ranked.where(col("sim") > 0) else ranked)
      .drop("qvec", "vec")
  }

  /** [[topK]] for ONE query vector: the same normalization, scores and
    * `sim > 0` filter, so (rank, id, sim) are bit-identical, but ranked
    * by one bounded top-k (`orderBy(desc(sim), id).limit(k)`, planned as
    * a TakeOrderedAndProject) instead of two salted window exchanges.
    * The query is normalized in plain driver code ([[unitQuery]], nothing
    * planned) and joins the corpus as a literal, so no broadcast runs
    * either: collecting the result runs one Spark job. The rank window
    * runs over the ≤ k rows the limit keeps, on its single partition (a
    * local sort, no exchange). Output: the corpus columns but `vec`, plus
    * rank and sim. */
  def topKOne(query: Array[Float], corpus: DataFrame, k: Int): DataFrame = {
    val qn = unitQuery(query)
    normalizedCorpus(corpus)
      .where(lit(qn.nonEmpty)) // a zero query ranks nothing, as in topK
      .withColumn("sim", dotNative(typedLit(qn.getOrElse(query)), col("vec")))
      .orderBy(desc("sim"), col("id")).limit(k)
      // the positive rows lead the order, so their rank within the
      // `sim > 0` partition is their overall rank; the partition key
      // keeps the window off a whole-frame AllTuples requirement
      .withColumn("rank", row_number().over(Window
        .partitionBy(col("sim") > 0).orderBy(desc("sim"), col("id"))))
      .where(col("sim") > 0)
      .drop("vec")
  }

  /** [[normalizedQueries]] of one query vector, on the driver with the
    * kernels' own arithmetic — the norm is [[graft.functions.DotProduct]]'s
    * left-to-right double sum under `sqrt`, each element
    * [[graft.functions.L2NormalizeExpr]]'s `(float)((double) v / norm)` —
    * so the result is bit-identical; None when the column path drops the
    * query (`_qnorm > 0` is false; Spark orders NaN above every number). */
  private def unitQuery(query: Array[Float]): Option[Array[Float]] = {
    var ss = 0.0
    query.foreach(x => ss += x.toDouble * x.toDouble)
    val norm = math.sqrt(ss)
    if (norm > 0 || norm.isNaN)
      Some(query.map(x => (x.toDouble / norm).toFloat))
    else None
  }

  /** Unit-normalize both sides (zero-norm rows dropped) and score every
    * (corpus row, query) pair by the dot product of the unit vectors. */
  private def scored(queries: DataFrame, corpus: DataFrame): DataFrame =
    normalizedCorpus(corpus).crossJoin(broadcast(normalizedQueries(queries)))
      .withColumn("sim", dotNative(col("qvec"), col("vec")))

  private def normalizedQueries(queries: DataFrame): DataFrame =
    queries
      .withColumn("_qnorm", l2NormNative(col("qvec")))
      .where(col("_qnorm") > 0)
      .withColumn("qvec", l2NormalizeWithNative(col("qvec"), col("_qnorm")))
      .drop("_qnorm")

  private def normalizedCorpus(corpus: DataFrame): DataFrame =
    corpus
      .withColumn("_cnorm", l2NormNative(col("vec")))
      .where(col("_cnorm") > 0)
      .withColumn("vec", l2NormalizeWithNative(col("vec"), col("_cnorm")))
      .drop("_cnorm")

  /** Approximate top-k via hyperplane-LSH buckets (the 100 TB path): both
    * sides get a deterministic [[Dedup.hyperplaneBucket]] from the RAW
    * vector, and scoring joins only bucket-mates — an equi-join replaces
    * the cross join, trading recall (no multi-probe) for corpus-scan cost
    * proportional to matching buckets only. Exact [[topK]] is the recall
    * baseline. */
  def topKLsh(queries: DataFrame, corpus: DataFrame, k: Int,
              nBits: Int = 8, multiProbe: Boolean = true): DataFrame = {
    val qb = queries
      .withColumn("_qb", Dedup.hyperplaneBucket(col("qvec"), nBits))
      .withColumn("_qnorm", l2NormNative(col("qvec")))
      .where(col("_qnorm") > 0)
      .withColumn("qvec", l2NormalizeWithNative(col("qvec"), col("_qnorm")))
      .drop("_qnorm")
    // multi-probe: each query also probes every hamming-1 neighbor bucket,
    // recovering candidates whose single sign bit flipped — the standard
    // recall lever that costs nBits extra probes instead of more tables
    val qn =
      if (!multiProbe) qb.withColumnRenamed("_qb", "_bucket")
      else qb.select(col("query_id"), col("qvec"),
        explode(array((col("_qb") +: (0 until nBits).map(j =>
          col("_qb").bitwiseXOR(lit(1L << j)))): _*)).as("_bucket"))
    val cn = corpus
      .withColumn("_bucket", Dedup.hyperplaneBucket(col("vec"), nBits))
      .withColumn("_cnorm", l2NormNative(col("vec")))
      .where(col("_cnorm") > 0)
      .withColumn("vec", l2NormalizeWithNative(col("vec"), col("_cnorm")))
      .drop("_cnorm")
    val scored = cn.join(broadcast(qn), Seq("_bucket"))
      .withColumn("sim", dotNative(col("qvec"), col("vec")))
    // salted two-phase rank (same as topK): a hot query in a dense bucket
    // would otherwise rank its whole candidate set on one task
    TopK.perKeySalted(scored, "query_id", Seq(desc("sim"), col("id")), k)
      .where(col("sim") > 0)
      .drop("qvec", "vec", "_bucket")
  }

  /** Multi-table hyperplane-LSH top-k: the corpus enters `nTables`
    * independent bucket tables ([[Dedup.hyperplaneBucket]] with a table
    * offset) and each query probes its bucket (plus hamming-1 neighbors
    * when `multiProbe`) in EVERY table; candidates found by any table are
    * unioned before ranking. Recall loss requires every table to split the
    * pair — exponential decay in nTables — while cost stays Σ bucket² per
    * table with ONE shuffle keyed by (table, bucket). Scores dedup on
    * (query_id, id, sim) before ranking so cross-table hits rank once.
    * Size `nBits` with [[Dedup.autoBits]] at scale. */
  def topKLshMulti(queries: DataFrame, corpus: DataFrame, k: Int,
                   nBits: Int = 8, nTables: Int = 4,
                   multiProbe: Boolean = true): DataFrame = {
    val probeStructs = (0 until nTables).flatMap { t =>
      val base = Dedup.hyperplaneBucket(col("qvec"), nBits, t)
      val buckets =
        if (multiProbe) base +: (0 until nBits).map(j =>
          base.bitwiseXOR(lit(1L << j)))
        else Seq(base)
      buckets.map(b => struct(lit(t).as("t"), b.as("b")))
    }
    // buckets derive from the RAW vector on both sides (same convention as
    // topKLsh); probes computed before normalization overwrites qvec
    val qp = queries
      .withColumn("_probes", array(probeStructs: _*))
      .withColumn("_qnorm", l2NormNative(col("qvec")))
      .where(col("_qnorm") > 0)
      .withColumn("qvec", l2NormalizeWithNative(col("qvec"), col("_qnorm")))
      .select(col("query_id"), col("qvec"), explode(col("_probes")).as("_p"))
      .select(col("query_id"), col("qvec"),
        col("_p.t").as("_table"), col("_p.b").as("_bucket"))
    val cn = corpus
      .withColumn("_buckets", array((0 until nTables).map(t =>
        Dedup.hyperplaneBucket(col("vec"), nBits, t)): _*))
      .withColumn("_cnorm", l2NormNative(col("vec")))
      .where(col("_cnorm") > 0)
      .withColumn("vec", l2NormalizeWithNative(col("vec"), col("_cnorm")))
      .select(col("id"), col("vec"),
        posexplode(col("_buckets")).as(Seq("_table", "_bucket")))
    val scored = cn.join(broadcast(qp), Seq("_table", "_bucket"))
      .withColumn("sim", dotNative(col("qvec"), col("vec")))
      .select("query_id", "id", "sim").distinct()
    // salted two-phase rank (same as topK): cross-table unions make this
    // candidate set the largest of the LSH family — never one task per key
    TopK.perKeySalted(scored, "query_id", Seq(desc("sim"), col("id")), k)
      .where(col("sim") > 0)
  }

  /** [[topKLshMulti]] with `nBits` sized from the actual corpus count via
    * [[Dedup.autoBits]] — the production entry point (one count job, then
    * the bucketed pipeline). */
  def topKLshAuto(queries: DataFrame, corpus: DataFrame, k: Int,
                  nTables: Int = 4, targetBucketSize: Long = 1024L,
                  multiProbe: Boolean = true): DataFrame =
    topKLshMulti(queries, corpus, k,
      Dedup.autoBits(corpus.count(), targetBucketSize), nTables, multiProbe)

  /** Approximate top-k via IVF (inverted-file) partitioning: Lloyd's
    * centroids over a corpus sample, each corpus vector assigned to its
    * nearest centroid, and each query probing only the `nProbe` nearest
    * cells — the classic coarse-quantizer ANN shape.
    *
    * Scale shape: training is the one justified driver-side collect (IVF
    * quantizers always train on a bounded sample); centroids then become
    * ARRAY<FLOAT> LITERALS, so cell assignment is a map-only projection —
    * nCells codegen'd dots + argmax per row, zero shuffle, no join — and
    * query probing is the same projection with a top-nProbe `array_sort`.
    * The only exchange in the whole operator is the final rank-by-query
    * window over the probed candidates.
    *
    * Training ([[lloydQuantized]]) is bit-deterministic AND engine-portable:
    * sample vectors quantize to integers, so all cross-row arithmetic is
    * exact and order-independent — a DuckDB oracle replays the identical
    * centroids (5 unrolled iterations in SQL), making this operator fully
    * hash-checkable. */
  def topKIvf(queries: DataFrame, corpus: DataFrame, k: Int,
              nCells: Int = 16, nProbe: Int = 4,
              trainSample: Int = 4096): DataFrame = {
    val cn = corpus
      .withColumn("_cnorm", l2NormNative(col("vec")))
      .where(col("_cnorm") > 0)
      .withColumn("vec", l2NormalizeWithNative(col("vec"), col("_cnorm")))
      .drop("_cnorm")

    val sample = cn.select(col("id"), col("vec")).orderBy("id")
      .limit(trainSample).collect()
      .map(_.getAs[scala.collection.Seq[Float]]("vec").toArray)
    val centroids = lloydQuantized(sample, nCells, iters = 5)

    // map-only nearest-centroid assignment: argmax over centroid literals
    val assigned = withCell(cn, centroids, col("vec"))

    val qn = queries
      .withColumn("_qnorm", l2NormNative(col("qvec")))
      .where(col("_qnorm") > 0)
      .withColumn("qvec", l2NormalizeWithNative(col("qvec"), col("_qnorm")))
      .drop("_qnorm")
    // map-only top-nProbe cells per query
    val probes = qn
      .withColumn("_probes", probeCellsExpr(centroids, col("qvec"), nProbe))
      .select(col("query_id"), col("qvec"),
        explode(col("_probes")).as("_cell"))

    val scored = assigned.join(broadcast(probes), Seq("_cell"))
      .withColumn("sim", dotNative(col("qvec"), col("vec")))
    // salted two-phase rank (same as topK): nProbe dense cells per hot
    // query would otherwise sort on a single task
    TopK.perKeySalted(scored, "query_id", Seq(desc("sim"), col("id")), k)
      .where(col("sim") > 0)
      .select("query_id", "rank", "id", "sim")
  }

  /** Map-only nearest-centroid cell assignment for a (normalized) vector
    * column: adds `_cell` = argmax over centroid LITERALS — nCells
    * codegen'd dots + an argmax per row, zero shuffle (the sims array is
    * materialized ONCE in an intermediate column, referenced twice, then
    * dropped). `array_position` picks the FIRST max, i.e. ties resolve to
    * the lowest cell (same as ORDER BY sim DESC, cell ASC LIMIT 1 — the
    * tie-break every oracle replays). */
  private[graft] def withCell(df: DataFrame, centroids: Array[Array[Float]],
                              vecCol: Column): DataFrame = {
    // compiled argmax kernel (one loop, any centroid count) in place of
    // the per-centroid literal tree — float→double widening is exact, so
    // double-stored centroids score float vectors identically to the old
    // float-literal dots (spec-gated vs the literal twin)
    import org.apache.spark.sql.graftbridge.Bridge
    df.withColumn("_as", Bridge.column(graft.functions.CellArgmaxExpr(
        Bridge.expression(vecCol), centroids.map(_.map(_.toDouble)))))
      .withColumn("_cell", col("_as.cell"))
      .drop("_as")
  }

  /** Map-only top-`nProbe` cell ids for a (normalized) query column: sort
    * (−sim, cell) structs ascending = sim DESC with cell ASC tiebreak,
    * slice, project the cell ids. */
  private[graft] def probeCellsExpr(centroids: Array[Array[Float]],
                                    qvecCol: Column, nProbe: Int): Column =
    transform(probeCellsWithSimExpr(centroids, qvecCol, nProbe),
      x => x("c"))

  /** The pre-kernel literal probe formulation — the ordering cross-check
    * twin for [[graft.functions.ProbeCellsExpr]] (SimilaritySpec). */
  private[graft] def probeCellsLiteral(centroids: Array[Array[Float]],
                                       qvecCol: Column, nProbe: Int)
      : Column = {
    val qsims = centroids.zipWithIndex.map { case (c, i) =>
      struct((-dotNative(qvecCol, typedLit(c.toSeq))).as("ns"),
        lit(i).as("c"))
    }
    transform(slice(array_sort(array(qsims: _*)), 1, nProbe),
      x => struct(x("c").as("c"), (-x("ns")).as("s")))
  }

  /** Driver-side Lloyd's for IVF training, designed for bit-exact replay in
    * any engine:
    *  - sample vectors quantize to integer grids (floor(v·1024 + 0.5)), so
    *    per-cell sums are EXACT integers — summation order cannot change
    *    the result (the one place float addition order would diverge
    *    between engines);
    *  - everything per-dimension is double arithmetic in fixed index order
    *    (deterministic IEEE ops);
    *  - init = evenly-strided sample rows (index c·n/k of the id-ordered
    *    sample); ties in assignment go to the lowest cell; empty cells and
    *    zero-norm means keep their previous centroid.
    * Returns centroids rounded to float (the literal type the codegen'd
    * [[graft.functions.DotProduct]] consumes; the oracle casts to REAL). */
  private[graft] def lloydQuantized(sample: Array[Array[Float]],
                                    nCells: Int,
                                    iters: Int): Array[Array[Float]] = {
    require(sample.nonEmpty, "IVF training sample is empty")
    val dim = sample.head.length
    val n = sample.length
    val k = math.min(nCells, n)
    val qs: Array[Array[Long]] =
      sample.map(_.map(x => math.floor(x.toDouble * 1024.0 + 0.5).toLong))
    val dv: Array[Array[Double]] = qs.map(_.map(_ / 1024.0))
    var cents: Array[Array[Double]] =
      Array.tabulate(k)(c => dv((c * n) / k).clone())
    for (_ <- 1 to iters) {
      val sums = Array.fill(k)(new Array[Long](dim))
      val counts = new Array[Long](k)
      var r = 0
      while (r < n) {
        var best = 0; var bestSim = Double.NegativeInfinity
        var c = 0
        while (c < k) {
          var s = 0.0; var i = 0
          while (i < dim) { s += dv(r)(i) * cents(c)(i); i += 1 }
          if (s > bestSim) { bestSim = s; best = c }
          c += 1
        }
        counts(best) += 1
        var i = 0
        while (i < dim) { sums(best)(i) += qs(r)(i); i += 1 }
        r += 1
      }
      cents = Array.tabulate(k) { c =>
        if (counts(c) == 0) cents(c)
        else {
          val m = Array.tabulate(dim)(i =>
            sums(c)(i).toDouble / counts(c).toDouble / 1024.0)
          var ss = 0.0; var i = 0
          while (i < dim) { ss += m(i) * m(i); i += 1 }
          val nn = math.sqrt(ss)
          if (nn == 0) cents(c) else m.map(_ / nn)
        }
      }
    }
    cents.map(_.map(_.toFloat))
  }

  /** Approximate top-k via product quantization (ADC scan) — the memory
    * path for 100 TB corpora: each corpus vector compresses to `m` byte
    * codes (64-dim float → 8 bytes at the defaults, a 32× reduction), and
    * scoring a candidate costs `m` table lookups instead of a d-dim dot.
    *
    * Pipeline (all map-only until the final rank):
    *  1. train `m` per-subspace codebooks of `ks` centroids on a bounded
    *     corpus sample (the same justified driver-side collect as
    *     [[topKIvf]]; codebooks are per-subspace k-means, L2 objective);
    *  2. ENCODE: each corpus vector's subvector s maps to its nearest
    *     codebook entry — argmin over `ks` centroid LITERALS, a pure
    *     projection with zero shuffle (the `vec` column is dropped here:
    *     downstream only ships `m` small ints per row);
    *  3. ADC scoring: each query precomputes a `m × ks` lookup table of
    *     partial dots ON THE BROADCAST SIDE (once per query, not per
    *     pair), and sim(q, x) ≈ Σ_s lut[s][code_s(x)];
    *  4. rank: the salted per-key top-k (same as [[topK]]).
    *
    * Training ([[lloydQuantizedL2]]) follows the [[lloydQuantized]]
    * playbook — sample quantized to integer grids so cross-row sums are
    * exact, all per-dim ops double in fixed index order, strided init,
    * ties to the lowest cell — which makes the whole operator bit-exactly
    * replayable by a SQL oracle (q41). Returned `sim` is the ADC
    * approximation, not the exact dot; compose with an exact re-rank of
    * the survivors when exact scores matter. */
  def topKPq(queries: DataFrame, corpus: DataFrame, k: Int,
             m: Int = 0, ks: Int = 256, trainSample: Int = 4096,
             iters: Int = 5): DataFrame = {
    val cn = normalized(corpus, "vec")
    val qn = normalized(queries, "qvec")
    TopK.perKeySalted(adcScored(qn, cn, m, ks, trainSample, iters),
        "query_id", Seq(desc("sim"), col("id")), k)
      .where(col("sim") > 0)
  }

  /** [[topKPq]] with an exact re-rank: the ADC scan keeps the top
    * `refine` candidates per query (cheap, compressed-domain), then ONLY
    * those survivors re-join the raw corpus vectors for exact dots — the
    * standard two-stage shape (quantized recall stage + exact precision
    * stage). Returned `sim` is EXACT. The survivor set is tiny (queries ×
    * refine rows), so the re-join broadcasts it against the corpus scan.
    * Fully oracle-replayable (q43). */
  def topKPqRefine(queries: DataFrame, corpus: DataFrame, k: Int,
                   refine: Int = 20, m: Int = 0, ks: Int = 256,
                   trainSample: Int = 4096, iters: Int = 5): DataFrame = {
    val cn = normalized(corpus, "vec")
    val qn = normalized(queries, "qvec")
    // stage 1: compressed-domain candidates (no positivity filter here —
    // the exact stage decides; topKPq's own filter applies to ADC scores)
    val adcTop = TopK.perKeySalted(
        adcScored(qn, cn, m, ks, trainSample, iters),
        "query_id", Seq(desc("sim"), col("id")), refine)
      .select("query_id", "id")
    // stage 2: exact dots over survivors only
    cn.join(broadcast(adcTop), Seq("id"))
      .join(broadcast(qn), Seq("query_id"))
      .withColumn("sim", dotNative(col("qvec"), col("vec")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(desc("sim"), col("id"))))
      .where(col("rank") <= k && col("sim") > 0)
      .select("query_id", "rank", "id", "sim")
  }

  /** IVF-PQ with RESIDUAL encoding: the coarse quantizer restricts
    * candidates to the query's `nProbe` nearest cells (equi-join on the
    * cell id — no cross join anywhere) and ADC scores them in the
    * compressed domain. The corpus side carries only (id, cell, m byte
    * codes): at 100 TB this is the memory-AND-compute shape — candidates
    * ∝ probed cells, per-candidate cost m lookups.
    *
    * The PQ codebooks are trained on RESIDUALS — each vector minus its
    * coarse cell centroid (the FAISS IVFPQ composition, Jégou et al.
    * 2011): residual magnitudes are far smaller than raw vectors, so the
    * same code budget quantizes much finer and recall holds at high
    * compression (the raw-vector encoding this replaces measured
    * recall@10 0.24 at the default knobs; the reference's flat FAISS
    * index, storage_engine.py:83-110, is exact — residuals are how the
    * compressed path approaches it). Scoring decomposes exactly:
    * sim(q, x) ≈ ⟨q, c_cell⟩ + Σ_s lut[s][code_s], where the first term
    * rides along with each probe (the probe already computed it to rank
    * cells) and the LUT is the raw query against the shared residual
    * codebooks — both computed once per query on the broadcast side.
    *
    * Cells come from the q35 spherical trainer; codebooks from the q41
    * L2 trainer over the sample's residuals (ONE driver-side collect).
    * Returned `sim` is the ADC approximation, unless `refine > 0` adds
    * the exact re-rank stage over the top-`refine` ADC survivors
    * (IVFPQ-R, q72) — then `sim` is EXACT. Fully oracle-replayable
    * (q44 ADC-only, q72 refined). */
  def topKIvfPq(queries: DataFrame, corpus: DataFrame, k: Int,
                nCells: Int = 16, nProbe: Int = 4, m: Int = 0, ks: Int = 256,
                trainSample: Int = 4096, iters: Int = 5,
                refine: Int = 0): DataFrame = {
    val cn = normalized(corpus, "vec")
    val qn = normalized(queries, "qvec")

    val sample = collectSample(cn, trainSample, "IVF-PQ")
    val dim = sample.head.length
    val mm = if (m > 0) m else autoM(dim)
    require(dim % mm == 0, s"dim $dim not divisible by m=$mm subspaces")
    val centroids = lloydQuantized(sample, nCells, iters)
    val books = pqCodebooks(sampleResiduals(sample, centroids), mm, ks, iters)

    // corpus: map-only cell assignment (q35 shape), then the RESIDUAL
    // (vec minus the assigned cell's centroid literal) byte-encodes (q41
    // shape); the raw vector and residual both drop here
    val encoded = withCell(cn, centroids, col("vec"))
      .withColumn("_resid", residualExpr(centroids, col("vec"), col("_cell")))
      .withColumn("_codes", pqEncodeExpr(books, col("_resid")))
      .drop("vec", "_resid")

    // queries: top-nProbe cells WITH their ⟨q, centroid⟩ sims (the
    // residual decomposition's first term) + ADC lookup tables, all
    // computed below the broadcast
    val probes = qn
      .withColumn("_lut", pqLutExpr(books, col("qvec")))
      .withColumn("_pc", probeCellsWithSimExpr(centroids, col("qvec"), nProbe))
      .select(col("query_id"), col("_lut"), explode(col("_pc")).as("_p"))
      .select(col("query_id"), col("_lut"),
        col("_p.c").as("_cell"), col("_p.s").as("_csim"))

    val scored = encoded.join(broadcast(probes), Seq("_cell"))
      .withColumn("sim", col("_csim") + adcSimExpr(mm))
      .drop("_codes", "_lut", "_csim")
    if (refine <= 0)
      TopK.perKeySalted(scored, "query_id", Seq(desc("sim"), col("id")), k)
        .where(col("sim") > 0)
        .select("query_id", "rank", "id", "sim")
    else {
      // IVFPQ-R: ADC keeps the top `refine` candidates per query inside
      // the probed cells, then ONLY those survivors re-join the raw
      // corpus for exact dots — the same two-stage shape as
      // [[topKPqRefine]] with the coarse quantizer bounding stage 1.
      // Returned `sim` is EXACT.
      val survivors = TopK.perKeySalted(scored, "query_id",
          Seq(desc("sim"), col("id")), refine)
        .select("query_id", "id")
      cn.join(broadcast(survivors), Seq("id"))
        .join(broadcast(qn), Seq("query_id"))
        .withColumn("sim", dotNative(col("qvec"), col("vec")))
        .withColumn("rank", row_number().over(
          Window.partitionBy("query_id").orderBy(desc("sim"), col("id"))))
        .where(col("rank") <= k && col("sim") > 0)
        .select("query_id", "rank", "id", "sim")
    }
  }

  /** Driver-side nearest-centroid assignment for a training sample — the
    * same arithmetic as [[withCell]]'s literal argmax (double accumulation
    * in index order, strict >, ties to the lowest cell), so the oracle
    * replays it with the identical row_number tie-break. */
  private[graft] def assignCells(sample: Array[Array[Float]],
                                 cents: Array[Array[Float]]): Array[Int] =
    sample.map { v =>
      var best = 0; var bestSim = Double.NegativeInfinity
      var c = 0
      while (c < cents.length) {
        val cv = cents(c)
        val n = math.min(v.length, cv.length)
        var s = 0.0; var i = 0
        while (i < n) { s += v(i).toDouble * cv(i).toDouble; i += 1 }
        if (s > bestSim) { bestSim = s; best = c }
        c += 1
      }
      best
    }

  /** Float residuals of the sample vs their assigned coarse centroids
    * (double subtraction, float round — the exact arithmetic
    * [[residualExpr]] applies corpus-side). */
  private[graft] def sampleResiduals(sample: Array[Array[Float]],
                                     cents: Array[Array[Float]])
      : Array[Array[Float]] = {
    val cells = assignCells(sample, cents)
    Array.tabulate(sample.length) { r =>
      val v = sample(r); val c = cents(cells(r))
      Array.tabulate(v.length)(i => (v(i).toDouble - c(i).toDouble).toFloat)
    }
  }

  /** Map-only residual column: vec minus its assigned cell's centroid,
    * selected from a 2-D centroid LITERAL by the `_cell` value — zero
    * shuffle, no join (the centroid table is part of the plan). */
  private[graft] def residualExpr(cents: Array[Array[Float]],
                                  vecCol: Column, cellCol: Column): Column =
    zip_with(vecCol,
      element_at(typedLit(cents.map(_.toSeq).toSeq), cellCol + 1),
      (x, c) => (x.cast("double") - c.cast("double")).cast("float"))

  /** [[probeCellsExpr]] carrying each probed cell's ⟨q, centroid⟩ sim:
    * array<struct<c: cell id, s: sim>> — the residual ADC decomposition
    * needs the sim anyway, and the probe already computed it to rank
    * cells. Compiled ([[graft.functions.ProbeCellsExpr]], one pass over
    * the centroid table) for the same any-nCells reason as the
    * assignment kernel; ordering parity with the pre-kernel literal
    * sort is spec-gated ([[probeCellsLiteral]]). */
  private[graft] def probeCellsWithSimExpr(centroids: Array[Array[Float]],
                                           qvecCol: Column,
                                           nProbe: Int): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(graft.functions.ProbeCellsExpr(
      Bridge.expression(qvecCol), centroids.map(_.map(_.toDouble)), nProbe))
  }

  /** The shared ADC pipeline of [[topKPq]]/[[topKPqRefine]]: train, encode
    * the (already normalized) corpus, score every (query, code-row) pair
    * via broadcast LUTs. Returns (query_id, id, sim≈) unranked. */
  private def adcScored(qn: DataFrame, cn: DataFrame, m0: Int, ks: Int,
                        trainSample: Int, iters: Int): DataFrame = {
    val sample = collectSample(cn, trainSample, "PQ")
    val dim = sample.head.length
    val m = if (m0 > 0) m0 else autoM(dim)
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val books = pqCodebooks(sample, m, ks, iters)
    val encoded = cn
      .withColumn("_codes", pqEncodeExpr(books, col("vec")))
      .drop("vec") // the compression: only (id, m codes) flow downstream
    // LUT computed below the broadcast exchange: once per QUERY row, never
    // per pair (a projection above the join could not be pushed back down)
    val qlut = qn.withColumn("_lut", pqLutExpr(books, col("qvec")))
      .drop("qvec")
    encoded.crossJoin(broadcast(qlut))
      .withColumn("sim", adcSimExpr(m))
      .drop("_codes", "_lut")
  }

  /** Drop zero-norm rows and unit-normalize `colName` in place (shared by
    * the PQ family; the older operators keep their inline spelled-out
    * twins, proven by their oracles). */
  /** Scalar-quantized (SQ8) approximate top-k: each dimension compresses
    * to one byte on a per-dimension [lo, hi] grid trained from the
    * bounded id-ordered sample — 4× compression against float32 with a
    * far gentler accuracy loss than PQ (256 levels PER DIMENSION, not per
    * subspace), the FAISS `SQ8` trade. Asymmetric scoring: the query
    * stays full-precision, corpus codes decode on the fly (map-only
    * zip_with over literal lo/scale arrays, codegen'd — the decoded
    * vector never materializes to storage). Flat scan like [[topKPq]];
    * compose with an IVF coarse layer the same way [[topKIvfPq]] does
    * when candidates must shrink too.
    *
    * Fully oracle-replayable BY CONSTRUCTION: the trainer is per-dim
    * min/max over the sample — exact regardless of order (no float-sum
    * ambiguity at all, unlike the Lloyd trainers) — and encode/decode are
    * fixed-order double IEEE ops. Out-of-range values (corpus rows beyond
    * the sample's envelope) clamp to the grid edge. */
  def topKSq(queries: DataFrame, corpus: DataFrame, k: Int,
             trainSample: Int = 4096): DataFrame = {
    val cn = normalized(corpus, "vec")
    val qn = normalized(queries, "qvec")
    val sample = collectSample(cn, trainSample, "SQ8")
    val dim = sample.head.length
    val lo = Array.tabulate(dim)(d => sample.map(_(d)).min)
    val sc = Array.tabulate(dim)(d =>
      (sample.map(_(d)).max.toDouble - lo(d).toDouble) / 255.0)
    val loD = typedLit(lo.map(_.toDouble).toSeq)
    val scD = typedLit(sc.toSeq)
    // encode: code = clamp(floor((v - lo)/scale + 0.5), 0, 255); constant
    // dims (scale 0) pin to code 0 / decode lo
    val codes = zip_with(
      zip_with(col("vec"), loD, (x, l) => x.cast("double") - l), scD,
      (dx, s) => when(s === 0.0, lit(0L)).otherwise(
        least(lit(255L), greatest(lit(0L),
          floor(dx / s + lit(0.5)).cast("long")))))
    val dec = zip_with(
      zip_with(col("_codes"), scD, (c, s) => c.cast("double") * s), loD,
      (cs, l) => (cs + l).cast("float"))
    val scored = cn.withColumn("_codes", codes)
      .withColumn("_dec", dec)
      .crossJoin(broadcast(qn))
      .withColumn("sim", dotNative(col("qvec"), col("_dec")))
    TopK.perKeySalted(scored, "query_id", Seq(desc("sim"), col("id")), k)
      .where(col("sim") > 0)
      .select("query_id", "rank", "id", "sim")
  }

  /** Binary-quantized (sign-bit) approximate top-k: each dimension
    * compresses to ONE BIT — the sign of the RAW component, packed into
    * ⌈dim/32⌉ long words — 32× compression against float32, the cheapest
    * candidate representation in the family (the "binary embedding" /
    * Hamming-prefilter deployment shape: e.g. FAISS `IndexBinaryFlat` +
    * refine). Signs are invariant under the positive L2 scaling, so raw
    * and normalized vectors quantize identically (the [[topKLsh]] RAW-side
    * convention, with the data's own axes as the hyperplanes).
    *
    * Two stages: (1) a flat Hamming scan over the packed words —
    * `bit_count(xor)` per word, codegen'd builtins, the corpus read is
    * nWords longs/row — keeps the `max(refine, k)` Hamming-nearest
    * candidates per query (ascending distance, id tie-break); (2) ONLY
    * those survivors re-join the raw corpus for exact normalized dots
    * (the [[topKPqRefine]] precision stage), so returned sims are EXACT.
    * With `refine <= 0` stage 2 is skipped and the score is the exact
    * rational sign-agreement `(dim − 2·ham)/dim` ∈ [−1, 1] (the linear
    * Hamming proxy for cosine — integer arithmetic plus one IEEE divide,
    * engine-portable unlike a transcendental `cos(π·ham/dim)`).
    *
    * Scale shape: both stages are broadcast-query flat scans (no shuffle
    * on the corpus side; ranking is the salted two-phase top-k), and the
    * compressed stage's scan cost is 1/32 of [[topK]]'s — compose with an
    * IVF coarse layer the way [[topKIvfPq]] does when the candidate COUNT
    * must also shrink. Fully oracle-replayable: sign tests, xor/popcount,
    * and ordered exact dots — no trainer at all. */
  def topKBq(queries: DataFrame, corpus: DataFrame, k: Int,
             refine: Int = 50): DataFrame = {
    val dimRow = corpus.select(size(col("vec")).as("_d")).limit(1).collect()
    if (dimRow.isEmpty) {
      // empty corpus: the output schema with zero rows (no head() throw)
      return queries.select(col("query_id")).limit(0)
        .withColumn("rank", lit(1).cast("int"))
        .withColumn("id", lit(null).cast(corpus.schema("id").dataType))
        .withColumn("sim", lit(0.0))
        .select("query_id", "rank", "id", "sim")
    }
    val dim = dimRow.head.getInt(0)
    val nWords = (dim + 31) / 32
    def words(c: Column): Column = array((0 until nWords).map { w =>
      (0 until math.min(32, dim - 32 * w)).map { j =>
        when(element_at(c, 32 * w + j + 1) >= 0f, lit(1L << j))
          .otherwise(lit(0L))
      }.reduce(_.bitwiseOR(_))
    }: _*)
    def ham(qw: Column, cw: Column): Column =
      (0 until nWords).map(w => bit_count(
        element_at(qw, w + 1).bitwiseXOR(element_at(cw, w + 1)))
        .cast("long")).reduce(_ + _)
    // a query shorter than the corpus dim would read NULL past its end
    // and silently quantize as a 0 sign bit — fail loudly instead (one
    // when() around the whole packed array, not per element)
    val qb = queries.select(col("query_id"),
      when(size(col("qvec")) === dim, words(col("qvec")))
        .otherwise(raise_error(concat(
          lit("topKBq: query dim "), size(col("qvec")).cast("string"),
          lit(s" != corpus dim $dim")))).as("_qw"))
    val cb = corpus.select(col("id"), words(col("vec")).as("_cw"))
    val hammed = cb.crossJoin(broadcast(qb))
      .withColumn("_ham", ham(col("_qw"), col("_cw")))
    if (refine <= 0) {
      // compressed-domain only: rank by Hamming, exact-rational score
      TopK.perKeySalted(hammed, "query_id",
          Seq(col("_ham").asc, col("id")), k)
        .withColumn("sim",
          (lit(dim.toDouble) - col("_ham").cast("double") * 2.0)
            / lit(dim.toDouble))
        .where(col("sim") > 0)
        .select("query_id", "rank", "id", "sim")
    } else {
      // the candidate set is bounded (|queries| × refine rows of two
      // longs) — broadcast it so the refine stage is one more corpus
      // scan with ZERO shuffle before the final rank
      val cand = TopK.perKeySalted(hammed, "query_id",
          Seq(col("_ham").asc, col("id")), math.max(refine, k))
        .select("query_id", "id")
      val ex = normalized(corpus, "vec")
        .join(broadcast(cand), "id")
        .join(broadcast(normalized(queries, "qvec")), "query_id")
        .withColumn("sim", dotNative(col("qvec"), col("vec")))
      TopK.perKeySalted(ex, "query_id", Seq(desc("sim"), col("id")), k)
        .where(col("sim") > 0)
        .select("query_id", "rank", "id", "sim")
    }
  }

  private def normalized(df: DataFrame, colName: String): DataFrame =
    df.withColumn("_n", l2NormNative(col(colName)))
      .where(col("_n") > 0)
      .withColumn(colName, l2NormalizeWithNative(col(colName), col("_n")))
      .drop("_n")

  /** Bounded id-ordered training sample — the one justified driver-side
    * collect in the ANN family. */
  private def collectSample(cn: DataFrame, n: Int,
                            what: String): Array[Array[Float]] = {
    val s = cn.select(col("id"), col("vec")).orderBy("id").limit(n).collect()
      .map(_.getAs[scala.collection.Seq[Float]]("vec").toArray)
    require(s.nonEmpty, s"$what training sample is empty")
    s
  }

  /** Byte-code encoding of a (normalized) vector column — a map-only
    * projection through the compiled [[graft.functions.PqEncodeExpr]]
    * kernel (argmin_c ||c||² − 2·⟨v_s, c⟩ per subspace, first minimum =
    * lowest code; the oracle runs the same formula so float ties resolve
    * identically). */
  private[graft] def pqEncodeExpr(books: Array[Array[Array[Float]]],
                                  vecCol: Column): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(graft.functions.PqEncodeExpr(
      Bridge.expression(vecCol), books))
  }

  /** ADC lookup table for a (normalized) query column: partial dots of
    * every subvector against every codebook entry, via the compiled
    * [[graft.functions.PqLutExpr]] kernel. */
  private[graft] def pqLutExpr(books: Array[Array[Array[Float]]],
                               qvecCol: Column): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(graft.functions.PqLutExpr(
      Bridge.expression(qvecCol), books))
  }

  /** Default subspace count for a PQ family operator: the largest m ≤ 16
    * dividing `dim` that keeps subvectors ≥ 2 wide (product quantization
    * needs multi-dim subspaces to beat per-dim scalar quantization);
    * falls back to 1 for tiny dims. dim=64 → 16 (4-wide subspaces — with
    * ks=256 that is 16 bytes/vector, 16× compression, and the measured
    * sweet spot: recall@10 0.70 vs 0.47 at m=8 on the sf0.1 fixture). */
  private[graft] def autoM(dim: Int): Int =
    (math.min(16, dim / 2) to 1 by -1).find(dim % _ == 0).getOrElse(1)

  /** ADC similarity from `_lut` (query side) and `_codes` (corpus side):
    * m lookups summed left-to-right — the fixed fold order the oracle's
    * ordered-list sum replays. */
  private[graft] def adcSimExpr(m: Int): Column =
    (0 until m).map(s =>
      element_at(element_at(col("_lut"), s + 1),
        element_at(col("_codes"), s + 1) + 1)).reduce(_ + _)

  /** Per-subspace PQ codebooks: [[lloydQuantizedL2]] on each dsub-wide
    * slice of the (normalized) training sample. */
  private[graft] def pqCodebooks(sample: Array[Array[Float]], m: Int,
                                 ks: Int,
                                 iters: Int): Array[Array[Array[Float]]] = {
    val dim = sample.head.length
    val dsub = dim / m
    Array.tabulate(m) { s =>
      val sub = sample.map(v =>
        java.util.Arrays.copyOfRange(v, s * dsub, (s + 1) * dsub))
      lloydQuantizedL2(sub, ks, iters)
    }
  }

  /** L2-objective Lloyd's with the same engine-portability recipe as
    * [[lloydQuantized]]: integer-grid quantization (exact, order-free
    * cross-row sums), fixed-index-order double arithmetic, strided init
    * (row (c·n)/k of the id-ordered sample), ties to the lowest cell,
    * empty cells keep their previous centroid. Unlike the IVF (spherical)
    * trainer, centroids are plain means — PQ codebooks minimize
    * reconstruction error, so no renormalization. */
  private[graft] def lloydQuantizedL2(sample: Array[Array[Float]],
                                      nCells: Int,
                                      iters: Int): Array[Array[Float]] = {
    require(sample.nonEmpty, "PQ training sample is empty")
    val dim = sample.head.length
    val n = sample.length
    val k = math.min(nCells, n)
    val qs: Array[Array[Long]] =
      sample.map(_.map(x => math.floor(x.toDouble * 1024.0 + 0.5).toLong))
    val dv: Array[Array[Double]] = qs.map(_.map(_ / 1024.0))
    var cents: Array[Array[Double]] =
      Array.tabulate(k)(c => dv((c * n) / k).clone())
    for (_ <- 1 to iters) {
      val sums = Array.fill(k)(new Array[Long](dim))
      val counts = new Array[Long](k)
      var r = 0
      while (r < n) {
        var best = 0; var bestD = Double.PositiveInfinity
        var c = 0
        while (c < k) {
          var s = 0.0; var i = 0
          while (i < dim) {
            val t = dv(r)(i) - cents(c)(i); s += t * t; i += 1
          }
          if (s < bestD) { bestD = s; best = c } // strict: ties keep lowest
          c += 1
        }
        counts(best) += 1
        var i = 0
        while (i < dim) { sums(best)(i) += qs(r)(i); i += 1 }
        r += 1
      }
      cents = Array.tabulate(k) { c =>
        if (counts(c) == 0) cents(c)
        else Array.tabulate(dim)(i =>
          sums(c)(i).toDouble / counts(c).toDouble / 1024.0)
      }
    }
    cents.map(_.map(_.toFloat))
  }

  /** Recall@k harness: per-query recall of ANY approximate top-k path
    * against the exact [[topK]] baseline on the same (queries, corpus, k)
    * — the tuning instrument for the six approximate paths' knobs
    * (`nBits`/`nTables`/`nProbe`/`m`/`ks`/`refine`). Output: (query_id,
    * n_exact, n_hit, recall), one row per query that has a non-empty
    * exact top-k.
    *
    * Scale shape: the exact baseline is the quadratic scan, so run this
    * on a BOUNDED query/corpus sample (that is the point of a recall
    * harness — measure on a sample you can afford, then apply the tuned
    * knobs to the full corpus). Both sides reduce to (query_id, id) pairs
    * before the hit join, so the harness itself shuffles only k rows per
    * query. */
  def annRecall(queries: DataFrame, corpus: DataFrame, k: Int,
                approx: (DataFrame, DataFrame, Int) => DataFrame)
      : DataFrame = {
    val exact = topK(queries, corpus, k).select(col("query_id"), col("id"))
    val got = approx(queries, corpus, k)
      .select(col("query_id"), col("id")).distinct()
    val nExact = exact.groupBy("query_id").agg(count(lit(1)).as("n_exact"))
    val nHit = exact.join(got, Seq("query_id", "id"))
      .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
    nExact.join(nHit, Seq("query_id"), "left")
      .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
      .withColumn("recall",
        col("n_hit").cast("double") / col("n_exact").cast("double"))
  }

  /** One-row [[annRecall]] summary: macro-averaged recall@k with the
    * worst/best per-query extremes — the number a tuning loop thresholds
    * on. */
  def annRecallSummary(queries: DataFrame, corpus: DataFrame, k: Int,
                       approx: (DataFrame, DataFrame, Int) => DataFrame)
      : DataFrame =
    annRecall(queries, corpus, k, approx).agg(
      count(lit(1)).as("n_queries"),
      avg("recall").as("avg_recall"),
      min("recall").as("min_recall"),
      max("recall").as("max_recall"))

  /** Search the versioned store the way the reference does: corpus = base
    * snapshots only (storage_engine.py:89-110), identity = (content_id, seq). */
  def searchBases(versions: DataFrame, queries: DataFrame, k: Int): DataFrame =
    topK(queries,
      versions.where(col("kind") === "base")
        .select(concat_ws("#", col("content_id"), col("seq")).as("id"),
          col("embedding").as("vec")),
      k)
}
