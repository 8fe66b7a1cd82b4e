package graft.operators

import graft.functions.VectorFunctions._
import graft.model.Defaults
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/** Batch ingest of embedding versions into the engine's `versions` table
  * (SURVEY §2 rows 1-2, 16, 38-40; reference write path
  * /root/reference/storage/temporal_database.py:86-178).
  *
  * The reference ingests one row at a time, reloading the full timeline per
  * write (O(V) HDF5 round-trips, storage/storage_engine.py:377-415). Here the
  * whole history is one declarative job: a single window shuffle on
  * `content_id` assigns sequence numbers and previous-version embeddings;
  * everything downstream (sparse diff, promotion policy, magnitude) is
  * per-row expression work that stays in whole-stage codegen. At 100 TB the
  * only exchange is the hash partition by content_id — no driver loops, no
  * per-row index maintenance.
  *
  * Promotion policy (reference storage/temporal_database.py:354-413):
  *   base iff forced | first version (:381-382) | (seq-1) % interval == 0
  *   (:384-386, note the off-by-one) | changed-dim ratio > promotionRatio
  *   (:388-402, dims with |diff| >= sparsityThreshold). The "gap since last
  *   base > 2×interval" rule (:404-411) is provably dead code when the
  *   interval rule is active (a delta run can never exceed interval-1 < 2×
  *   interval), so it is not replicated.
  *
  * Forced promotion (reference `force_base_snapshot` parameter,
  * temporal_database.py:86-92 and the check at :378): rows carrying an
  * optional BOOLEAN `force` column promote to base unconditionally — the
  * set-based equivalent of the per-call flag. Like the reference, forcing
  * changes only that version's storage kind; later versions' promotion
  * decisions are unaffected (the interval rule counts versions, not
  * distance-from-last-base), and the next delta chains from the forced
  * base through the usual nearest-base-at-or-before reconstruction.
  */
object VersionStore {

  case class Config(
      sparsityThreshold: Double = Defaults.SparsityThreshold,
      baseInterval: Int = Defaults.BaseInterval,
      promotionRatio: Double = Defaults.PromotionRatio)

  /** The optional per-row force_base_snapshot flag: absent column = never
    * forced; null values = not forced. */
  private def forced(df: DataFrame) =
    if (df.columns.contains("force")) coalesce(col("force"), lit(false))
    else lit(false)

  /** Ingest rows (content_id, seq, ts, embedding) with caller-assigned
    * contiguous seqs. Returns the full `versions` schema (FIXTURES A1). */
  def ingestWithSeq(df: DataFrame, cfg: Config = Config()): DataFrame = {
    val w = Window.partitionBy("content_id").orderBy("seq")
    val dim = size(col("embedding"))
    val prev = lag(col("embedding"), 1).over(w)

    val staged = df
      .withColumn("prev_embedding", prev)
      // ONE compiled pass computes the sparse diff arrays, changed-dim
      // count, and raw-dense L2 magnitude (SparseDiffExpr) — the write
      // path's hot kernel stays inside whole-stage codegen end to end.
      .withColumn("_sd",
        when(col("prev_embedding").isNotNull,
          sparseDiffNative(col("embedding"), col("prev_embedding"),
            cfg.sparsityThreshold)))
      .withColumn("n_changed", col("_sd.n_changed"))
      .withColumn("change_ratio", col("n_changed").cast("double") / dim.cast("double"))
      .withColumn("kind",
        when(forced(df), lit("base")) // reference checks force first (:378)
          .when(col("prev_embedding").isNull || col("seq") === 1, lit("base"))
          .when(pmod(col("seq") - 1, lit(cfg.baseInterval)) === 0, lit("base"))
          .when(col("change_ratio") > cfg.promotionRatio, lit("base"))
          .otherwise(lit("delta")))

    staged.select(
      col("content_id"),
      col("seq"),
      col("ts"),
      col("kind"),
      when(col("kind") === "base", col("embedding")).as("embedding"),
      when(col("kind") === "delta", col("_sd.idx")).as("delta_idx"),
      when(col("kind") === "delta", col("_sd.val")).as("delta_val"),
      when(col("kind") === "delta", col("seq") - 1).as("from_seq"),
      // L2 of the RAW dense diff, not just the sparsified dims
      // (reference core/delta_computer.py:74)
      when(col("prev_embedding").isNotNull, col("_sd.raw_magnitude"))
        .as("change_magnitude"),
      (if (df.columns.contains("metadata")) col("metadata")
       else lit(null).cast("map<string,string>")).as("metadata"))
  }

  /** Ingest rows (content_id, ts, embedding) without sequence numbers:
    * 1-based seqs assigned chronologically per content (reference
    * auto-increment, storage/temporal_database.py:114), with `existing` max
    * seqs as offsets for incremental appends. */
  def ingest(df: DataFrame, existing: Option[DataFrame] = None,
             cfg: Config = Config()): DataFrame =
    ingestAfter(df, existing.map(maxSeqs), cfg)

  /** Each content's max seq in `versions`: (content_id, seq), one row
    * per content. */
  def maxSeqs(versions: DataFrame): DataFrame =
    versions.groupBy("content_id").agg(max("seq").as("seq"))

  /** [[ingest]] after the per-content max seqs `maxSeqs` ((content_id,
    * seq), at most one row per content) — [[maxSeqs]] of the stored
    * versions, or any frame already holding them, such as a maintained
    * latest index. */
  def ingestAfter(df: DataFrame, maxSeqs: Option[DataFrame],
                  cfg: Config = Config()): DataFrame = {
    val w = Window.partitionBy("content_id").orderBy("ts")
    val numbered = df.withColumn("seq", row_number().over(w))
    val offset = maxSeqs match {
      case None => numbered
      case Some(m) =>
        numbered.join(broadcast(m.select(col("content_id"),
            col("seq").as("_max_seq"))), Seq("content_id"), "left")
          .withColumn("seq", col("seq") + coalesce(col("_max_seq"), lit(0)))
          .drop("_max_seq")
    }
    ingestWithSeq(offset, cfg)
  }

  /** The versions [[promoteBases]] promotes for `maxCost`: every version
    * whose reconstruction cost is a positive multiple of maxCost+1. After
    * promoting exactly these, NO version in the store costs more than
    * maxCost — one promotion per maxCost+1 run of a delta chain, the
    * greedy minimum for contiguous chains (a version originally at cost
    * c reconstructs from the promoted base at ⌊c/(maxCost+1)⌋·(maxCost+1)
    * with cost c mod (maxCost+1) ≤ maxCost). */
  def promotionTargets(versions: DataFrame, maxCost: Int): DataFrame = {
    require(maxCost >= 1, s"maxCost must be >= 1, got $maxCost")
    Reconstruction.costs(versions)
      .where(col("reconstruction_cost") > 0 &&
        pmod(col("reconstruction_cost"), lit(maxCost + 1)) === 0)
      .select("content_id", "seq")
  }

  /** EXECUTE the base-promotion recommendation the reference can only
    * REPORT (optimize_content_bases returns "Consider promoting N
    * versions to base snapshots", temporal_database.py:443-494, and no
    * code path acts on it): reconstruct every `targets` row ((content_id,
    * seq) — [[promotionTargets]], computed once by the caller) in ONE
    * set-based job and rewrite it as a base snapshot — embedding
    * materialized, delta arrays and from_seq cleared, ts / metadata /
    * change_magnitude preserved. Every version's VALUE is unchanged
    * (promotion materializes exactly what reconstruction computes); only
    * future read cost changes. Returns the rewritten store frame; the
    * facade's applyBaseOptimization handles the store swap. */
  def promoteBases(versions: DataFrame, targets: DataFrame): DataFrame = {
    val rebuilt = Reconstruction.reconstruct(versions, targets)
      .select(col("content_id"), col("seq"), col("embedding").as("_emb"))
    val promoted = versions
      .join(rebuilt, Seq("content_id", "seq"))
      .select(col("content_id"), col("seq"), col("ts"),
        lit("base").as("kind"),
        col("_emb").as("embedding"),
        lit(null).cast("array<int>").as("delta_idx"),
        lit(null).cast("array<float>").as("delta_val"),
        lit(null).cast("int").as("from_seq"),
        col("change_magnitude"),
        col("metadata"))
    versions.join(rebuilt.select("content_id", "seq"),
        Seq("content_id", "seq"), "left_anti")
      .unionByName(promoted)
  }

  /** Write a versions DataFrame to parquet, hash-distributed by content_id so
    * downstream per-content reads prune well. At cluster scale this is where
    * bucketing (`bucketBy(content_id)`) would go; plain repartition keeps the
    * local filesystem layout simple while exercising the same exchange. */
  def write(versions: DataFrame, path: String, numPartitions: Int = 32): Unit =
    versions.repartition(numPartitions, col("content_id"))
      .write.mode("overwrite")
      .option("compression", "zstd") // better ratio than snappy on float arrays
      .parquet(path)
}
