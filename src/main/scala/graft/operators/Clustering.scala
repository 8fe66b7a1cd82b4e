package graft.operators

import graft.functions.VectorFunctions._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/** Distributed spherical k-means over the FULL corpus — the 100 TB
  * counterpart of the sample-bound quantized Lloyd's the ANN paths train
  * with ([[SimilaritySearch.lloydQuantized]]). The sample trainers collect
  * ≤4096 rows and iterate on the driver; this trainer never moves the
  * corpus: each iteration is ONE map-side-combinable aggregation whose
  * shuffle carries at most k·dim·partitions partial-sum rows, and the
  * driver only ever holds the k centroids. That is how IVF coarse
  * quantizers are trained at corpus scale (a 4096-row sample of a 100 TB
  * corpus under-fits its cell structure; the full-corpus pass doesn't).
  *
  * Determinism (and hence DuckDB replayability, same recipe as the
  * sample trainers, proven by q35/q44):
  *  - vectors unit-normalize, then quantize to the 1/1024 integer grid;
  *    per-cell per-dimension sums are EXACT longs — aggregation order
  *    cannot move them;
  *  - assignment dots run in double over the dequantized grid values
  *    (codegen'd [[graft.functions.DotProductDouble]]), ties to the
  *    lowest cell;
  *  - init = the k lowest-vec_id rows (deterministic without a global
  *    rank: an `orderBy(id).limit(k)` is a distributed top-k, not a
  *    corpus sort);
  *  - centroid update on the driver in double: mean = sum/cnt/1024,
  *    L2-normalized; empty cells keep their previous centroid.
  */
object Clustering {

  /** Train `nCells` centroids with `iters` full-corpus Lloyd iterations,
    * then return every vector's final assignment: (vec_id, cell, sim)
    * with `sim` = dot(dequantized vector, its centroid). The input is
    * (vec_id, embedding ARRAY<FLOAT>); zero-norm rows are dropped (they
    * have no direction to cluster).
    *
    * The quantized corpus projection persists across the iteration jobs
    * and is freed before returning; the result is checkpoint-backed
    * (same lifetime contract as [[Closure.components]]). */
  def kmeansAssign(corpus: DataFrame, nCells: Int = 8,
                   iters: Int = 3): DataFrame = {
    val (nrm, cents) = train(corpus, nCells, iters)
    val out = withCellD(nrm, cents)
      .withColumn("sim", col("_sim"))
      .select("vec_id", "cell", "sim")
      .transform(Ckpt.eager)
    nrm.unpersist(false)
    out
  }

  /** [[kmeansAssign]] keeping the dequantized unit vector alongside the
    * assignment: (vec_id, cell, sim, dv). The column a downstream
    * within-cell pair join needs ([[Dedup.semanticDupPairs]]) without
    * re-scanning and re-normalizing the corpus — cosines computed over
    * `dv` run in the SAME exact 1/1024 metric space the trainer assigned
    * in, so they replay bit-for-bit in any engine. */
  def kmeansAssignVec(corpus: DataFrame, nCells: Int = 8,
                      iters: Int = 3): DataFrame = {
    val (nrm, cents) = train(corpus, nCells, iters)
    val out = withCellD(nrm, cents)
      .withColumn("sim", col("_sim"))
      .select("vec_id", "cell", "sim", "dv")
      .transform(Ckpt.eager)
    nrm.unpersist(false)
    out
  }

  /** The trained centroids alone (assignment skipped) — the full-corpus
    * IVF coarse-quantizer training path: feed these to
    * [[SimilaritySearch.withCell]]-style assignment in place of the
    * sample-trained centroids. Returned as floats (the literal type the
    * codegen'd float dot consumes). */
  def kmeansCentroids(corpus: DataFrame, nCells: Int = 8,
                      iters: Int = 3): Array[Array[Float]] = {
    val (nrm, cents) = train(corpus, nCells, iters)
    nrm.unpersist(false)
    cents.map(_.map(_.toFloat))
  }

  /** The trained centroids at FULL double precision — the frozen-centroid
    * artifact for incremental semantic dedup
    * ([[graft.operators.Dedup.extendSemanticDeduped]]): assignment via
    * [[assignVecWithCentroids]] over these doubles is bit-identical to
    * the trainer's own final assignment, so a persisted base assignment
    * and later batch assignments live in ONE exact metric space (the
    * float round-trip of [[kmeansCentroids]] would perturb argmax
    * tie-breaks). k·dim doubles — driver/artifact-bounded like the PQ
    * codebooks (the facade's persisted-codebook discipline). */
  def kmeansCentroidsD(corpus: DataFrame, nCells: Int = 8,
                       iters: Int = 3): Array[Array[Double]] = {
    val (nrm, cents) = train(corpus, nCells, iters)
    nrm.unpersist(false)
    cents
  }

  /** Persist a frozen-centroid artifact beside the store — one parquet
    * row per (cell, cv ARRAY<DOUBLE>). Parquet DOUBLEs are IEEE-754
    * exact, so [[loadCentroids]] restores the bits and every later
    * [[assignVecWithCentroids]] replays the identical argmax — the same
    * persist/reload discipline as the facade's PQ codebooks. */
  def saveCentroids(spark: org.apache.spark.sql.SparkSession,
                    cents: Array[Array[Double]], path: String): Unit = {
    import spark.implicits._
    cents.zipWithIndex
      .map { case (cv, i) => (i, cv.toSeq) }.toSeq
      .toDF("cell", "cv")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Reload a [[saveCentroids]] artifact, cell order restored. */
  def loadCentroids(spark: org.apache.spark.sql.SparkSession,
                    path: String): Array[Array[Double]] = {
    import spark.implicits._
    val rows = spark.read.parquet(path)
      .select(col("cell").cast("int"), col("cv"))
      .as[(Int, Seq[Double])].collect()
    require(rows.nonEmpty, s"no centroids at $path")
    val out = new Array[Array[Double]](rows.length)
    rows.foreach { case (i, cv) =>
      require(i >= 0 && i < rows.length && out(i) == null,
        s"corrupt centroid artifact at $path: bad/duplicate cell $i")
      out(i) = cv.toArray
    }
    out
  }

  /** Map-only assignment of a corpus to FROZEN centroids — the batch
    * half of incremental semantic dedup: (vec_id, cell, sim, dv), the
    * exact [[kmeansAssignVec]] output schema and arithmetic (same
    * normalize → 1/1024 grid → compiled argmax chain), with the trainer
    * skipped. `assignVecWithCentroids(base, kmeansCentroidsD(base, k,
    * it))` is bit-identical to `kmeansAssignVec(base, k, it)`
    * (spec-gated), so a deployment persists the centroids once and
    * assigns every appended batch against them — no full-corpus Lloyd
    * rounds per append. */
  def assignVecWithCentroids(corpus: DataFrame,
                             cents: Array[Array[Double]]): DataFrame = {
    require(cents.nonEmpty, "assignVecWithCentroids: empty centroids")
    withCellD(quantized(corpus), cents)
      .withColumn("sim", col("_sim"))
      .select("vec_id", "cell", "sim", "dv")
  }

  /** Map-only assignment through the compiled
    * [[graft.functions.CellArgmaxExpr]] kernel: `cell` = argmax with
    * first-max (lowest-cell) tie-break, `sim` = its dot — the shape
    * every oracle replays as
    * `row_number() OVER (ORDER BY d DESC, cell) = 1`. One compiled loop
    * regardless of nCells; the per-centroid literal tree this replaces
    * walled at a few hundred cells (planning + codegen method size),
    * which the 100 TB sizing (nCells ~√N, SemDeDup ~100k clusters)
    * blows straight through. The pre-kernel literal formulation is
    * retained as [[withCellDLiteral]], the cross-check twin
    * (PipelineOpsSpec gates bit-identity, ties included). */
  private[graft] def withCellD(df: DataFrame,
                               cents: Array[Array[Double]]): DataFrame = {
    import org.apache.spark.sql.graftbridge.Bridge
    df.withColumn("_as", Bridge.column(graft.functions.CellArgmaxExpr(
        Bridge.expression(col("dv")), cents)))
      .withColumn("cell", col("_as.cell"))
      .withColumn("_sim", col("_as.sim"))
      .drop("_as")
  }

  /** The pre-kernel per-centroid literal formulation — the bit-identity
    * cross-check reference for [[withCellD]] (ClusteringSpec). */
  private[graft] def withCellDLiteral(df: DataFrame,
                                      cents: Array[Array[Double]])
      : DataFrame =
    df.withColumn("_sims", array(cents.map(c =>
        dotNativeD(col("dv"), typedLit(c.toSeq))): _*))
      .withColumn("cell",
        (array_position(col("_sims"), array_max(col("_sims"))) - 1)
          .cast("int"))
      .withColumn("_sim", array_max(col("_sims")))
      .drop("_sims")

  /** Shared pipeline: persisted quantized corpus projection + `iters`
    * aggregate-collect rounds. Caller owns unpersisting the frame. */
  /** The normalize → 1/1024 integer grid projection every k-means path
    * shares: (vec_id, qv, dv), zero-norm rows dropped. NOT persisted —
    * [[train]] persists it across its iteration jobs;
    * [[assignVecWithCentroids]] consumes it once, map-only. */
  private def quantized(corpus: DataFrame): DataFrame = corpus
    .withColumn("_n", l2NormNative(col("embedding")))
    .where(col("_n") > 0)
    .withColumn("_v", l2NormalizeWithNative(col("embedding"), col("_n")))
    .select(col("vec_id"),
      transform(col("_v"),
        x => floor(x.cast("double") * lit(1024.0) + lit(0.5)).cast("long"))
        .as("qv"))
    .withColumn("dv",
      transform(col("qv"), q => q.cast("double") / lit(1024.0)))

  private def train(corpus: DataFrame, nCells: Int, iters: Int)
      : (DataFrame, Array[Array[Double]]) = {
    require(nCells > 0 && iters >= 0)
    val nrm = quantized(corpus)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    var cents: Array[Array[Double]] = nrm.orderBy("vec_id").limit(nCells)
      .select("dv").collect()
      .map(_.getAs[scala.collection.Seq[Double]]("dv").toArray)
    require(cents.nonEmpty, "kmeans: empty corpus")
    val dim = cents.head.length

    for (_ <- 1 to iters) {
      // one job per round: per-(cell, dimension) exact long sums with
      // map-side combine; only k·dim aggregated rows reach the driver
      val parts = withCellD(nrm, cents)
        .select(col("cell"), posexplode(col("qv")).as(Seq("pos", "q")))
        .groupBy("cell", "pos")
        .agg(sum("q").as("sq"), count(lit(1)).as("cnt"))
        .collect()
      val sums = Array.fill(cents.length)(new Array[Long](dim))
      val counts = new Array[Long](cents.length)
      parts.foreach { r =>
        val c = r.getAs[Int]("cell"); val p = r.getAs[Int]("pos")
        sums(c)(p) = r.getAs[Long]("sq")
        counts(c) = r.getAs[Long]("cnt")
      }
      cents = Array.tabulate(cents.length) { c =>
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
    (nrm, cents)
  }

  /** Per-cell LEAST-prototypical members: the full-corpus k-means
    * assignment, then each cell's bottom-`perCell` rows by centroid
    * cosine — the embedding-curation filter that flags cluster outliers
    * (the flip side of SemDeDup's prune-the-redundant: LOW centroid
    * similarity marks the unusual/noisy members a pipeline reviews or
    * drops before training). Ranking is the salted two-phase top-k (no
    * single-task sorts); ties break by vec_id, and the similarity is
    * the exact 1/1024-grid cosine the trainer assigned in, so the whole
    * chain replays in SQL (q79). Output: (vec_id, cell, sim, rank),
    * rank 1 = least prototypical. */
  def cellOutliers(corpus: DataFrame, nCells: Int = 8, iters: Int = 3,
                   perCell: Int = 5): DataFrame =
    TopK.perKeySalted(kmeansAssign(corpus, nCells, iters), "cell",
      Seq(col("sim").asc, col("vec_id").asc), perCell)

  /** Cluster-balanced (diversity) sampling: the full-corpus k-means
    * assignment, then up to `perCell` members PER CELL by a
    * deterministic md5 draw — the curation sampler that caps every
    * semantic region instead of letting the corpus's head topics
    * dominate a uniform draw (the selection counterpart of SemDeDup:
    * dedup prunes redundancy within a region, this bounds the region's
    * budget share). The draw is the engine's standard keyed-ppm hash
    * (`md5(vec_id || ':cbs') % 1e6`, the q63/q82 discipline), so the
    * sample is append-stable, partition-invariant, and replayable in
    * SQL; ranking is the salted two-phase top-k (no single-task sorts).
    * Output: (vec_id, cell, sim, draw, rank), rank ≤ perCell. */
  def clusterBalancedSample(corpus: DataFrame, nCells: Int = 8,
                            iters: Int = 3, perCell: Int = 5): DataFrame =
    TopK.perKeySalted(
      kmeansAssign(corpus, nCells, iters)
        .withColumn("draw", pmod(Dedup.md5Long(
          concat(col("vec_id").cast("string"), lit(":cbs"))),
          lit(1000000L))),
      "cell", Seq(col("draw").asc, col("vec_id").asc), perCell)
}
