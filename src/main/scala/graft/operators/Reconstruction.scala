package graft.operators

import graft.functions.VectorFunctions.foldChainNative
import graft.model.Defaults
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame, Row}
import scala.jdk.CollectionConverters._

/** Set-based version reconstruction (SURVEY §2 rows 19, 24-25, 41, 45;
  * reference read path /root/reference/core/reconstruction_service.py:61-127,
  * fold core/delta_computer.py:90-135).
  *
  * The reference reconstructs one version at a time: load the full timeline,
  * probe downward for the nearest base at-or-before the target
  * (core/data_structures.py:242-252), then fold the delta chain forward.
  * `batch_reconstruct` loops that per target (:176-183) despite claiming
  * reuse. Here ALL targets reconstruct in one job over ONE scan of the
  * store:
  *
  *   1. prune: a semi-join keeps the stored rows of targeted contents at
  *      or before their latest target;
  *   2. collect: one groupBy(content_id) gathers each content's rows into
  *      one history row — the only hash exchange on the store side (none
  *      on a store bucketed by content_id), and every stored row crosses
  *      it once however many targets share its content;
  *   3. fold: each (content, target) pair runs one compiled kernel
  *      ([[graft.functions.DeltaChainFoldExpr]]) that picks the max base
  *      seq at or before the target and scatter-adds the deltas after it.
  *
  * The targets join both sides as a small broadcast at interactive sizes
  * (no store-sized data is broadcast); larger target sets shuffle by
  * content_id instead. [[latest]] is the same collect + fold with each
  * content's max seq as the target, so it needs no targets at all.
  *
  * Error/quality provenance columns reproduce the reference's formulas
  * (core/reconstruction_service.py:229-297).
  */
object Reconstruction {

  /** Reconstruct every (content_id, seq) in `targets` from `versions`.
    * Output: content_id, seq, embedding, base_seq_used, deltas_applied,
    * reconstruction_cost, plus error/quality metrics — one row per
    * distinct target. Targets that precede the earliest base produce no
    * row (the reference raises there, core/delta_computer.py:116-119). */
  def reconstruct(versions: DataFrame, targets: DataFrame): DataFrame = {
    val t = targets.select(col("content_id").as("_tcid"),
      col("seq").as("_target"))
    val rows = versions.join(t, col("content_id") === col("_tcid") &&
      col("seq") <= col("_target"), "left_semi")
    fold(histories(rows).join(t, col("content_id") === col("_tcid")))
      // duplicate targets pair with the history more than once; the
      // dedup is partition-local (the rows are clustered by content_id)
      .dropDuplicates("content_id", "seq")
  }

  /** Every content's latest version in `rows` (a versions-schema frame),
    * reconstructed: the target is each content's max seq among the rows
    * where `visible` holds (all rows by default), folded from every row at
    * or before it. Same output as [[reconstruct]]. One groupBy over
    * `rows`, no targets frame and no second pass. */
  def latest(rows: DataFrame, visible: Column = lit(true)): DataFrame =
    fold(histories(rows, max(when(visible, col("seq"))).as("_target")))

  /** [[reconstruct]] for targets of ONE content, computed now: one Spark
    * job scans `versions` with the literal `content_id = contentId AND
    * seq <= max(seqs)` on the scan and returns that content's stored
    * rows to the driver — exactly the rows [[reconstruct]]'s exchange
    * would send to one task — and [[fold]] runs on them as a local
    * relation (no exchange, no dedup aggregate, no further job when the
    * result is collected). Same rows, bit for bit, as `reconstruct` over
    * the distinct `seqs`. The result holds its values: later appends to
    * the store do not change it. The local relation carries the history
    * once per target, so it suits a content's own range of versions,
    * not millions of targets. */
  def reconstructOne(versions: DataFrame, contentId: String,
                     seqs: Seq[Int]): DataFrame = {
    val targets = seqs.distinct
    val rows =
      if (targets.isEmpty) Array.empty[Row]
      else contentRows(versions, contentId, Some(targets.max), lit(true))
    foldOne(versions, contentId, rows, targets)
  }

  /** [[latest]] for ONE content, computed now, with the same one-job
    * scan as [[reconstructOne]] (no seq bound: the target is the
    * content's max seq among the rows where `visible` holds, evaluated
    * on the scan). */
  def latestOne(versions: DataFrame, contentId: String,
                visible: Column = lit(true)): DataFrame = {
    val rows = contentRows(versions, contentId, None, visible)
    val target = rows.filter(_.getBoolean(1)).map(_.getStruct(0).getInt(0))
    foldOne(versions, contentId, rows,
      if (target.isEmpty) Nil else Seq(target.max))
  }

  /** The fold kernel's history entry of one stored row. */
  private def entry: Column =
    struct(col("seq"), (col("kind") === "base").as("is_base"),
      col("embedding"), col("delta_idx"), col("delta_val"),
      col("change_magnitude"))

  /** One content's base/delta rows, at or before `upTo` when given, as
    * (history entry, visible) — one job, both predicates on the scan. */
  private def contentRows(versions: DataFrame, contentId: String,
                          upTo: Option[Int], visible: Column): Array[Row] = {
    val scoped = versions.where(col("content_id") === contentId &&
      col("kind").isin("base", "delta"))
    upTo.fold(scoped)(k => scoped.where(col("seq") <= k))
      .select(entry.as("_e"), coalesce(visible, lit(false)).as("_v"))
      .collect()
  }

  /** [[fold]] over a local relation of one history row per target. */
  private def foldOne(versions: DataFrame, contentId: String,
                      rows: Array[Row], targets: Seq[Int]): DataFrame = {
    val history = rows.map(_.getStruct(0)).toSeq
    val bases = history.filter(_.getBoolean(1)).map(_.getInt(0))
    val firstBase: Any = if (bases.isEmpty) null else bases.min
    val schema = StructType(Seq(
      StructField("content_id", StringType),
      StructField("_history",
        ArrayType(versions.select(entry).schema.head.dataType)),
      StructField("_first_base", IntegerType),
      StructField("_target", IntegerType)))
    fold(versions.sparkSession.createDataFrame(
      targets.map(t => Row(contentId, history, firstBase, t)).asJava,
      schema))
  }

  /** One row per content: its stored rows collected as the fold kernel's
    * `_history`, the first base seq (to drop targets before it without
    * running the kernel), plus `more` aggregates. */
  private def histories(rows: DataFrame, more: Column*): DataFrame =
    rows.where(col("kind").isin("base", "delta"))
      .groupBy("content_id")
      .agg(collect_list(entry).as("_history"),
        min(when(col("kind") === "base", col("seq"))).as("_first_base")
          +: more: _*)

  /** Run the fold kernel on (content_id, _history, _first_base, _target)
    * rows and shape the reconstruction output. */
  private def fold(paired: DataFrame): DataFrame = {
    val folded = paired
      .where(col("_first_base") <= col("_target"))
      .select(col("content_id"), col("_target").as("seq"),
        foldChainNative(col("_history"), col("_target")).as("_f"))
      .select(col("content_id"), col("seq"),
        col("_f.embedding").as("embedding"),
        col("_f.base_seq").as("base_seq_used"),
        col("_f.deltas_applied").as("deltas_applied"),
        (col("seq") - col("_f.base_seq")).as("reconstruction_cost"),
        col("_f.avg_magnitude").as("avg_chain_magnitude"))
    withMetrics(folded)
      .select("content_id", "seq", "embedding", "base_seq_used",
        "deltas_applied", "reconstruction_cost", "estimated_error",
        "quality_score")
  }

  /** Error-bound estimate and quality score, reproducing the reference's
    * deterministic formulas (core/reconstruction_service.py:229-297,
    * constants :57-59). Pure column expressions — codegen-friendly. */
  private def withMetrics(df: DataFrame): DataFrame = {
    val cost = col("reconstruction_cost").cast("double")
    val avgMag = coalesce(col("avg_chain_magnitude"), lit(0.0))
    val baseError = cost * Defaults.ErrorAccumulationRate
    val magFactor = lit(1.0) + lit(0.05) * avgMag
    val shortBonus = when(cost < 5, lit(0.9)).otherwise(lit(1.0))
    val estError = baseError * magFactor * shortBonus

    val chainPenalty =
      lit(1.0) - least(cost / Defaults.MaxChainLength, lit(1.0)) * lit(0.3)
    val errorPenalty = greatest(lit(0.5), lit(1.0) - estError * lit(10.0))
    val lowCostBonus = when(cost < 8, lit(1.1)).otherwise(lit(1.0))
    val quality = least(lit(1.0),
      greatest(lit(0.0), chainPenalty * errorPenalty * lowCostBonus))

    df.withColumn("estimated_error", estError)
      .withColumn("quality_score", quality)
  }

  /** Reconstruction validation (reference validate_reconstruction,
    * core/delta_computer.py:193-216): L2 error vs a ground-truth embedding,
    * tolerance check, and cosine similarity, as pure column expressions.
    * Input df needs `embedding` (reconstructed) and `expected` columns. */
  def validate(df: DataFrame,
               tolerance: Double = Defaults.ReconstructionTol): DataFrame = {
    import graft.functions.VectorFunctions._
    df.withColumn("l2_error", l2Dist(col("embedding"), col("expected")))
      .withColumn("is_valid", col("l2_error") < tolerance)
      .withColumn("cosine_similarity",
        cosine(col("embedding"), col("expected")))
  }

  /** Cost-estimate heuristic without reconstructing (reference
    * estimate_reconstruction_cost, core/delta_computer.py:218-271):
    * chain length, estimated error (cost·0.001 + magnitude & sparsity
    * penalties), and the `recommended` flag (cost < 10 && err < 0.05). */
  def costEstimate(versions: DataFrame, targets: DataFrame): DataFrame = {
    val deltas = versions.where(col("kind") === "delta")
      .select(col("content_id"), col("seq").as("delta_seq"),
        col("change_magnitude"), size(col("delta_idx")).as("n_changed"))
    val bases = versions.where(col("kind") === "base")
      .select(col("content_id"), col("seq").as("base_seq"))
    val nearest = targets.select(col("content_id"), col("seq"))
      .join(bases, Seq("content_id"))
      .where(col("base_seq") <= col("seq"))
      .groupBy("content_id", "seq").agg(max("base_seq").as("base_seq"))
    // range predicate inside the LEFT join condition — a post-join filter
    // would drop targets whose chain is empty (e.g. the target IS a base)
    nearest.as("t").join(deltas.as("dd"),
        col("t.content_id") === col("dd.content_id") &&
          col("dd.delta_seq") > col("t.base_seq") &&
          col("dd.delta_seq") <= col("t.seq"), "left")
      .groupBy(col("t.content_id").as("content_id"), col("t.seq").as("seq"),
        col("t.base_seq").as("base_seq"))
      .agg(count(col("dd.delta_seq")).cast("int").as("chain_length"),
        coalesce(avg(col("dd.change_magnitude")), lit(0.0))
          .as("avg_magnitude"))
      .withColumn("estimated_error",
        col("chain_length") * lit(0.001) *
          (lit(1.0) + lit(0.1) * col("avg_magnitude")))
      .withColumn("recommended",
        col("chain_length") < 10 && col("estimated_error") < 0.05)
  }

  /** Base-candidate enumeration for a target (reference
    * find_optimal_base_for_target, core/reconstruction_service.py:186-227):
    * every base at-or-before the target with its chain cost, cheapest
    * first — set-based over all targets at once. */
  def baseCandidates(versions: DataFrame, targets: DataFrame): DataFrame =
    targets.select(col("content_id"), col("seq"))
      .join(versions.where(col("kind") === "base")
        .select(col("content_id"), col("seq").as("base_seq")),
        Seq("content_id"))
      .where(col("base_seq") <= col("seq"))
      .withColumn("cost", col("seq") - col("base_seq"))
      .orderBy(col("content_id"), col("seq"), col("cost"))

  /** Reconstruction-cost audit without materializing embeddings: for every
    * version, the chain length from its nearest base (SURVEY row 41/59;
    * reference storage/temporal_database.py:443-494). */
  def costs(versions: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("content_id").orderBy("seq")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    versions
      .withColumn("nearest_base_seq",
        max(when(col("kind") === "base", col("seq"))).over(w))
      .withColumn("reconstruction_cost", col("seq") - col("nearest_base_seq"))
      .select("content_id", "seq", "kind", "nearest_base_seq",
        "reconstruction_cost")
  }
}
