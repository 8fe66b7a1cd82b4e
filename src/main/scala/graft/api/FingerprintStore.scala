package graft.api

import graft.operators.{Ckpt, Dedup}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import EpochStore.At

/** PERSISTED incremental fingerprint-dedup store — the deployment
  * packaging of [[graft.operators.Dedup.extendHashDeduped]] for the
  * media families (image dHash, audio energy prints, video
  * temporal-majority prints, text SimHash), the way
  * [[SubstringDedupStore]] packages the substring flow: a growing media
  * corpus whose per-append cost is batch fingerprinting + rep-level
  * extension — the base media is NEVER re-decoded (its prints are the
  * persisted 8-byte-per-doc artifact) and base×base never re-bands.
  * q118/q118b/q118c prove the extension hash-identical to from-scratch
  * [[graft.operators.Dedup.hashDeduped]] over the union;
  * bench_r12_incr.json prices the gap (the from-scratch linear term is
  * the base decode: 47 s of its 51 s wall at the 100× decade).
  *
  * Layout under `root/` (all parquet):
  * {{{
  *   prints/epoch=N/  the batch's fingerprints (_id, simhash) — appended
  *                    at N; NEVER pruned (they ARE the maintained artifact)
  *   grp/epoch=N/     the hash-group frame (_sh, _rep — one row per
  *                    distinct hash, rep = union-min member id): snapshot
  *                    epochs FULL, append epochs only the rows the batch
  *                    ADDED (new hashes) or RELABELED (undercut reps),
  *                    resolved latest-epoch-wins per _sh — so an append
  *                    extends against a SCAN of this artifact instead of
  *                    re-aggregating every stored print (the former
  *                    base-linear groupBy shuffle), and [[kept]] derives
  *                    its node mapping from it instead of re-grouping
  *   comp/epoch=N/    the rep-level component assignment (id = distinct-
  *                    hash representative, component = min member id):
  *                    snapshot epochs (init, [[compact]]) hold the FULL
  *                    assignment; append epochs only the rows the append
  *                    ADDED or RELABELED
  * }}}
  *
  * Readers resolve `comp` LATEST-EPOCH-WINS per id from the latest
  * snapshot — valid because the assignment is append-monotone: extension
  * only adds reps or relabels a rep's component to a smaller minimum,
  * never deletes a row. Per-append WRITE volume therefore tracks the
  * batch's cluster impact, not the corpus — under heavy duplication the
  * full assignment is corpus-sized (every duplicated doc's rep is a
  * member row), which made the round-12 first cut's full-per-epoch comp
  * rewrite the same write-amplification cliff the delta
  * [[SubstringDedupStore]] epochs fixed for text. [[compact]] rewrites
  * the resolved assignment as ONE snapshot epoch and prunes absorbed
  * comp deltas; `prints` epochs must all be retained. Time-travel
  * ([[keptAt]]) reaches epochs at or above the latest snapshot, and the
  * one a compaction folded.
  *
  * Crash safety and the commit/compact/replay sequence are the
  * [[EpochStore]] contract. Appended ids must be DISJOINT from every
  * stored id (checked, fails loudly — a duplicated id would double its
  * membership weight in the drop set).
  */
class FingerprintStore private (spark: SparkSession, root: String,
                                val maxHamming: Int, autoCompactEpochs: Int)
    extends EpochStore(spark, root, autoCompactEpochs) {

  protected val dataKinds = Seq("prints" -> Seq("_id", "simhash"))
  protected val snapshotKinds = Seq("grp" -> grpAt _, "comp" -> compAt _)

  private def printsAt(e: Long): DataFrame = dataAt("prints", e)

  private def grpAt(at: At): DataFrame =
    latestWinsAt("grp", at, Seq("_sh"), Seq("_sh", "_rep"))

  /** Every stored fingerprint at the latest committed epoch. */
  def prints: DataFrame = printsAt(requireCommitted())

  /** The maintained rep-level component assignment (latest epoch,
    * snapshot + deltas resolved latest-wins). */
  def components: DataFrame = compAt(current)

  /** Append a batch's fingerprints (_id, simhash) — ids disjoint from
    * every stored id (fails loudly) — extend the component assignment
    * with batch-only work, commit epoch+1 writing only the assignment
    * rows the batch ADDED or RELABELED. Returns the new epoch (the
    * head may advance further when `autoCompactEpochs` triggers a
    * compaction — read-identical, spec-gated). */
  def append(batchHashes: DataFrame): Long =
    appendDelta(None)(delta(batchHashes))

  /** Exactly-once append for replayable callers (the Structured
    * Streaming `foreachBatch` bridge): a replayed call with the same
    * `token` is a NO-OP returning the original epoch. */
  def append(batchHashes: DataFrame, token: String): Long =
    appendDelta(Some(token))(delta(batchHashes))

  private def delta(batchHashes: DataFrame)(at: At): Seq[DataFrame] = {
    val b = Ckpt.eager(batchHashes.select(
      col("_id").cast("long").as("_id"), col("simhash").cast("long")
        .as("simhash")))
    requireDisjoint(b, printsAt(at.e), "_id",
      "a duplicated id would double-count in the drop set")
    val oldComp = compAt(at)
    // the stored prints are never re-aggregated and the grp artifact is
    // never shuffled: the batch-present hashes resolve through a
    // key-restricted latest-wins window (batch-sized), and the banded
    // candidate join scans the PLAIN grp union (duplicate undercut reps
    // are closure-neutral — extendHashComponentsArtifact's contract)
    val sharedGrp = Ckpt.eager(latestWinsFor("grp", at, Seq("_sh"),
      Seq("_sh", "_rep"), b.select(col("simhash").as("_sh")).distinct()))
    val comp = Dedup.extendHashComponentsArtifact(sharedGrp,
      unionAt("grp", at, Seq("_sh", "_rep")), oldComp, b, maxHamming)
    Seq(b, Dedup.hashGroupDelta(sharedGrp, b), changedRows(comp, oldComp))
  }

  /** The kept rows of `corpus` (one per duplicate cluster — the min
    * member id — plus every unpaired doc) as of the latest epoch,
    * derived from the persisted artifacts: one aggregation over the
    * prints, one join to the assignment — the media never decodes. The
    * frame is planned lazily: each action reads the store at the head
    * this call resolved. */
  def kept(corpus: DataFrame, idCol: String = "doc_id"): DataFrame =
    keptAt(current, corpus, idCol)

  /** [[kept]] as of a PAST committed epoch at or above the latest
    * snapshot, or the one a compaction folded (audit/time-travel; older
    * epochs' comp deltas were pruned by [[compact]], fails loudly) — the
    * drop set uses only fingerprints appended at or before `e`. */
  def keptAt(e: Long, corpus: DataFrame,
             idCol: String = "doc_id"): DataFrame =
    keptAt(asOf(e), corpus, idCol)

  private[api] def keptAt(at: At, corpus: DataFrame,
                          idCol: String): DataFrame = {
    val comp = compAt(at)
    // the node mapping (hash → min member id) IS the maintained grp
    // artifact — no re-aggregation of the prints at read time
    val node = grpAt(at).select(col("_sh").as("simhash"),
      col("_rep").as("_node"))
    val drop = printsAt(at.e).join(node, Seq("simhash"))
      .join(comp, col("_node").cast("long") === comp("id"))
      .where(col("_id").cast("long") =!= col("component"))
      .select(col("_id").cast("long").as("_drop_id"))
    corpus.join(drop, corpus(idCol).cast("long") === drop("_drop_id"),
      "left_anti")
  }
}

object FingerprintStore {

  /** Create the store at `root` from an initial fingerprint frame
    * (_id, simhash): epoch 0 holds the prints and their from-scratch
    * [[graft.operators.Dedup.hashComponents]] closure (the first
    * snapshot). Fails loudly if the root already has a committed epoch. */
  def init(spark: SparkSession, root: String, hashes: DataFrame,
           maxHamming: Int = 3,
           autoCompactEpochs: Int = EpochStore.DefaultAutoCompactEpochs)
      : FingerprintStore = {
    val s = new FingerprintStore(spark, root, maxHamming,
      autoCompactEpochs).fresh()
    s.commitSnapshot(0L) {
      val h = Ckpt.eager(hashes.select(col("_id").cast("long").as("_id"),
        col("simhash").cast("long").as("simhash")))
      Seq(h, Dedup.hashGroupArtifact(h), Dedup.hashComponents(h, maxHamming))
    }
    s
  }

  /** Open an existing store (any committed epoch present). */
  def open(spark: SparkSession, root: String, maxHamming: Int = 3,
           autoCompactEpochs: Int = EpochStore.DefaultAutoCompactEpochs)
      : FingerprintStore =
    new FingerprintStore(spark, root, maxHamming, autoCompactEpochs)
      .opened()
}
