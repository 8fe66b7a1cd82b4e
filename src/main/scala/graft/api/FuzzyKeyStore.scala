package graft.api

import graft.operators.{Ckpt, Closure, Dedup}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import EpochStore.At

/** PERSISTED incremental fuzzy-key store — the deployment packaging of
  * [[graft.operators.Dedup.extendFuzzyKeyPairs]], the way
  * [[FingerprintStore]] packages the media families and
  * [[SubstringDedupStore]] the substring flow: a growing key corpus
  * (titles, normalized names) whose per-append cost is batch variant
  * emission + one equi-join against the STORED variant index + the
  * star closure — base variants are never re-derived and base keys
  * never re-join. q120 proves the extension hash-identical to
  * from-scratch [[graft.operators.Dedup.fuzzyKeyPairs]] + closure over
  * the union; bench_r12_incr.json prices the gap (from-scratch
  * re-collapses and re-explodes every corpus key per run: 97.7 s vs
  * 3.5 s at the 100× decade).
  *
  * Layout under `root/` (all parquet):
  * {{{
  *   keys/epoch=N/   the batch APPENDED at N (doc_id, key) — the data;
  *                   NEVER pruned
  *   index/epoch=N/  variant rows (rep, key, _vh): snapshot epochs hold
  *                   the FULL index; append epochs only the distinct
  *                   keys GENUINELY NEW at N — epochs are disjoint key
  *                   slices, so the resolved index is their PLAIN UNION
  *                   from the latest snapshot (no latest-wins window:
  *                   a stored key's rep and variants never change)
  *   comp/epoch=N/   the rep-level cluster assignment (paired reps
  *                   only — fuzzy-cluster-structure sized): snapshot
  *                   epochs FULL, append epochs only the rows the
  *                   append ADDED or RELABELED, resolved
  *                   latest-epoch-wins per id (extension never deletes
  *                   a row)
  * }}}
  *
  * The index stores NO `cnt` column: counts grow under append, so a
  * key's cnt is epoch-relative — [[keptKeysAt]] derives it from the
  * stored key batches at read time (min-id reps are append-invariant
  * under the id contract below, so the derived rep always equals the
  * stored rep).
  *
  * [[compact]] rewrites the resolved index + assignment as ONE snapshot
  * epoch and prunes the absorbed delta directories — bounding read-side
  * union/resolution fan-in on a long-lived store; `keys/` is never
  * pruned. Time-travel ([[keptKeysAt]]) reaches epochs at or above the
  * latest snapshot, and the one a compaction folded.
  *
  * Crash safety and the commit/compact/replay sequence are the
  * [[EpochStore]] contract. APPEND CONTRACT: every batch id must
  * STRICTLY EXCEED every stored doc id (fails loudly) — this keeps
  * stored reps invariant, which is what lets epoch index slices union
  * instead of merge.
  *
  * The reference has no fuzzy-string machinery (its dedup surface is
  * vector-level; reference storage_engine.py) —
  * training-data-pipeline tier.
  */
class FuzzyKeyStore private (spark: SparkSession, root: String,
                             val maxKeyLen: Int, val maxEdit: Int,
                             autoCompactEpochs: Int)
    extends EpochStore(spark, root, autoCompactEpochs) {

  protected val dataKinds = Seq("keys" -> Seq("doc_id", "key"))
  // the index snapshot is written DISTINCT: after a torn compact (commit
  // marker present, snapshot marker absent) indexAt unions the old
  // snapshot with the torn epoch's full index, which read-side the
  // variant join tolerates (pairs are distinct()-ed) but persisted
  // verbatim would bake duplicate rows into every later snapshot — a
  // no-op shuffle in the normal disjoint-slice case buys the guarantee
  protected val snapshotKinds = Seq(
    "index" -> ((at: At) => indexAt(at).dropDuplicates("rep", "key", "_vh")),
    "comp" -> compAt _)

  private def keysAt(e: Long): DataFrame = dataAt("keys", e)

  private def indexAt(at: At): DataFrame =
    unionAt("index", at, Seq("rep", "key", "_vh"))

  /** Every stored (doc_id, key) row at the latest committed epoch. */
  def keys: DataFrame = keysAt(requireCommitted())

  /** The maintained variant index (rep, key, _vh) — latest epoch. */
  def index: DataFrame = indexAt(current)

  /** The maintained rep-level fuzzy-cluster assignment (latest epoch,
    * snapshot + deltas resolved latest-wins). */
  def components: DataFrame = compAt(current)

  /** Append a key batch (doc_id, key) — ids strictly above every stored
    * id (fails loudly) — extend the variant index with the batch's
    * genuinely-new keys and the cluster assignment with their edges,
    * commit epoch+1 writing only the new-key variants and the
    * assignment rows the batch ADDED or RELABELED. Returns the new
    * epoch (the head may advance further when `autoCompactEpochs`
    * triggers a compaction — read-identical, spec-gated). */
  def append(batch: DataFrame): Long = appendDelta(None)(delta(batch))

  /** Exactly-once append for replayable callers (the Structured
    * Streaming `foreachBatch` bridge): a replayed call with the same
    * `token` is a NO-OP returning the original epoch. */
  def append(batch: DataFrame, token: String): Long =
    appendDelta(Some(token))(delta(batch))

  private def delta(batch: DataFrame)(at: At): Seq[DataFrame] = {
    val b = Ckpt.eager(batch.select(
      col("doc_id").cast("long").as("doc_id"),
      col("key").cast("string").as("key")))
    val storedMax = keysAt(at.e).agg(max(col("doc_id"))).collect()
      .headOption.filter(!_.isNullAt(0)).map(_.getLong(0))
      .getOrElse(Long.MinValue)
    val batchMin = b.agg(min(col("doc_id"))).collect()
      .headOption.filter(!_.isNullAt(0)).map(_.getLong(0))
      .getOrElse(Long.MaxValue)
    require(batchMin > storedMax,
      s"FuzzyKeyStore.append: batch min id $batchMin does not exceed " +
        s"the stored max id $storedMax at $root — appended ids must be " +
        "strictly above every stored id so min-id reps stay invariant")
    val idx = indexAt(at)
    // variants computed ONCE: the epoch's index delta AND the pair
    // probe are the same frame (the refactor extendFuzzyKeyPairs
    // itself composes)
    val nv = Ckpt.eager(Dedup.fuzzyNewVariants(idx, b, "key", "doc_id",
      maxKeyLen, maxEdit))
    val pairs = Dedup.extendFuzzyKeyPairsOf(idx, nv, maxEdit)
      .select(col("rep_a").as("id1"), col("rep_b").as("id2"))
    val oldComp = compAt(at)
    // extendComponents returns an eagerly-checkpointed frame (and frees
    // its internal checkpoints itself) — no second Ckpt.eager copy here
    val comp = Dedup.extendComponents(oldComp, pairs)
    Seq(b, nv, changedRows(comp, oldComp))
  }

  /** The fuzzy-deduped key corpus at the latest epoch — one row per
    * surviving distinct key: (rep, key, cnt), dropping every key whose
    * rep is a non-minimum member of a cluster (the q114b policy);
    * unpaired keys survive. Derived from the persisted artifacts: one
    * aggregation over the stored key batches, one anti-join to the
    * assignment — no variant work. */
  def keptKeys: DataFrame = keptKeysAt(current)

  /** [[keptKeys]] as of a PAST committed epoch at or above the latest
    * snapshot, or the one a compaction folded (audit/time-travel; older
    * epochs' deltas were pruned by [[compact]], fails loudly). */
  def keptKeysAt(e: Long): DataFrame = keptKeysAt(asOf(e))

  private[api] def keptKeysAt(at: At): DataFrame = {
    val ks = keysAt(at.e).where(length(col("key")) > 0)
      .groupBy("key")
      .agg(min(col("doc_id").cast("long")).as("rep"),
        count(lit(1)).as("cnt"))
    val drop = compAt(at).where(col("id") =!= col("component"))
      .select(col("id").as("_drop_id"))
    ks.join(drop, ks("rep") === drop("_drop_id"), "left_anti")
      .select(col("rep"), col("key"), col("cnt"))
  }
}

object FuzzyKeyStore {

  /** Create the store at `root` from an initial key frame (doc_id,
    * key): epoch 0 holds the keys, their full variant index, and the
    * from-scratch pair-graph closure (the first snapshot). Fails loudly
    * if the root already has a committed epoch. */
  def init(spark: SparkSession, root: String, keys: DataFrame,
           maxKeyLen: Int = 64, maxEdit: Int = 1,
           autoCompactEpochs: Int = EpochStore.DefaultAutoCompactEpochs)
      : FuzzyKeyStore = {
    val s = new FuzzyKeyStore(spark, root, maxKeyLen, maxEdit,
      autoCompactEpochs).fresh()
    s.commitSnapshot(0L) {
      val d = Ckpt.eager(keys.select(col("doc_id").cast("long")
        .as("doc_id"), col("key").cast("string").as("key")))
      val idx = Ckpt.eager(Dedup.fuzzyVariantIndex(d, "key", "doc_id",
          maxKeyLen, maxEdit)
        .select(col("rep"), col("key"), col("_vh")))
      // from-scratch pairs = the extension's within-join against an
      // empty base (one code path for both, so the q120 theorem covers
      // init too)
      Seq(d, idx, Closure.components(
        Dedup.extendFuzzyKeyPairsOf(idx.limit(0), idx, maxEdit)
          .select(col("rep_a").as("id1"), col("rep_b").as("id2"))))
    }
    s
  }

  /** Open an existing store (any committed epoch present). `maxKeyLen`
    * and `maxEdit` must match the values the store was initialized
    * with — they parameterize the stored variant family. */
  def open(spark: SparkSession, root: String, maxKeyLen: Int = 64,
           maxEdit: Int = 1,
           autoCompactEpochs: Int = EpochStore.DefaultAutoCompactEpochs)
      : FuzzyKeyStore =
    new FuzzyKeyStore(spark, root, maxKeyLen, maxEdit, autoCompactEpochs)
      .opened()
}
