package graft.api

import graft.operators.{Ckpt, SubstringIndex, SuffixArray}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import EpochStore.At

/** PERSISTED incremental substring-dedup store — the deployment packaging
  * of [[graft.operators.SubstringIndex]]: a growing corpus deduped after
  * every append, with the maintained artifacts written beside the data the
  * way [[graft.operators.VersionStore]] persists versions and the facade
  * persists its PQ codes. q111 proves the append path hash-identical to a
  * from-scratch rebuild; this class makes the flow a durable API AND keeps
  * per-append WRITE volume batch-proportional: an append persists only
  * the index rows its batch touched and the deduped rows it changed
  * (touched ∪ batch), never the full corpus artifacts — the round-11
  * design's one O(corpus)-per-append cost, removed.
  *
  * Layout under `root/` (all parquet):
  * {{{
  *   corpus/epoch=N/    the batch APPENDED at epoch N (corpus = union ≤ N)
  *   index/epoch=N/     snapshot epochs: the FULL window-key index;
  *                      delta epochs: merged rows for BATCH-PRESENT keys
  *   deduped/epoch=N/   snapshot epochs: the FULL deduped corpus;
  *                      delta epochs: the rows the append CHANGED
  *                      (recomputed touched base docs + the new batch)
  * }}}
  *
  * Epoch 0 (init) is a snapshot; [[append]] writes deltas; readers resolve
  * at the latest committed epoch by LATEST-EPOCH-WINS — per window key for
  * the index (the [[graft.operators.SubstringIndex.extendIndexDelta]] merge
  * is per-key, so a key untouched since epoch k is byte-identical to k's
  * row) and per doc_id for the deduped corpus (an untouched doc's latest
  * row is the last epoch that rewrote it). [[compact]] rewrites the
  * resolved state as ONE new snapshot epoch and prunes the absorbed
  * index/deduped delta directories ([[EpochStore.compact]]) — bounding
  * read-side resolution work on a long-lived store. `corpus/` epochs are NEVER pruned: each
  * holds an appended batch, i.e. the data itself, not a derived snapshot.
  *
  * Crash safety and the commit/compact/replay sequence are the
  * [[EpochStore]] contract.
  *
  * Time-travel: [[dedupedAt]] serves any epoch at or above the latest
  * snapshot, and the one a compaction folded; epochs below it were
  * pruned by [[compact]] and fail loudly.
  *
  * The reference engine has no substring machinery (vector-level dedup
  * only; reference storage_engine.py) — training-data-pipeline tier.
  */
class SubstringDedupStore private (spark: SparkSession, root: String,
                                   val window: Int,
                                   autoCompactEpochs: Int)
    extends EpochStore(spark, root, autoCompactEpochs) {

  private val indexCols = Seq("k1", "k2", "keep", "occ")

  protected val dataKinds = Seq("corpus" -> Seq("doc_id", "text"))
  protected val snapshotKinds =
    Seq("index" -> indexAt _, "deduped" -> (dedupedAt(_: At)))

  private def indexAt(at: At): DataFrame =
    latestWinsAt("index", at, Seq("k1", "k2"), indexCols)

  private[api] def dedupedAt(at: At): DataFrame =
    latestWinsAt("deduped", at, Seq("doc_id"),
      Seq("doc_id", "text", "n_tokens_before", "n_tokens_after"))

  /** The full corpus at the latest committed epoch (union of appended
    * batches — epoch pruning via the partition column). */
  def corpus: DataFrame = dataAt("corpus", requireCommitted())

  /** The corpus as of a PAST committed epoch — reaches ANY committed
    * epoch (`corpus/` holds the data itself and is never pruned, so
    * corpus time-travel is not snapshot-bounded). */
  def corpusAt(e: Long): DataFrame = {
    requireEpoch(e)
    dataAt("corpus", e)
  }

  private[api] def corpusAt(at: At): DataFrame = dataAt("corpus", at.e)

  /** The maintained window-key index at the latest committed epoch
    * (snapshot + deltas, latest-epoch-wins per key). */
  def index: DataFrame = indexAt(current)

  /** The deduped corpus at the latest committed epoch. */
  def deduped: DataFrame = dedupedAt(current)

  /** Dedup result as of a PAST committed epoch (audit/time-travel) —
    * reaches any epoch at or above the latest snapshot, and the one a
    * compaction folded; older epochs were pruned by [[compact]] and fail
    * loudly. */
  def dedupedAt(e: Long): DataFrame = dedupedAt(asOf(e))

  /** Append a batch (ids strictly above every stored id — enforced by
    * [[graft.operators.SubstringIndex]]'s guard), commit epoch+1 as a
    * DELTA epoch: compute is batch + touched
    * ([[graft.operators.SubstringIndex.appendDeltas]], key-restricted
    * index resolution — the stored index is scanned, never shuffled
    * whole) and the WRITE is exactly those rows plus the batch-present
    * index keys — never the full corpus artifacts. Returns the new
    * epoch (the head may advance further when `autoCompactEpochs`
    * triggers a compaction — read-identical, spec-gated). */
  def append(batch: DataFrame): Long = appendDelta(None)(delta(batch))

  /** Exactly-once append for replayable callers (the Structured
    * Streaming `foreachBatch` bridge, [[graft.streaming.StoreSink]]):
    * a replayed call with the same `token` (e.g. the stream's batchId)
    * is a NO-OP returning the original epoch. */
  def append(batch: DataFrame, token: String): Long =
    appendDelta(Some(token))(delta(batch))

  private def delta(batch: DataFrame)(at: At): Seq[DataFrame] = {
    val b = Ckpt.eager(batch.select(col("doc_id").cast("long")
      .as("doc_id"), col("text").cast("string").as("text")))
    // the index is consumed KEY-RESTRICTED: the latest-wins window runs
    // only over the rows whose key the batch (then the touched docs)
    // actually carries — filtering on the window's own partition keys
    // first is resolution-transparent — so the stored index is scanned,
    // never shuffled whole (the former base-linear append term, r14)
    val indexFor: DataFrame => DataFrame = keys =>
      latestWinsFor("index", at, Seq("k1", "k2"), indexCols, keys)
    val (dedDelta, idxDelta) = SubstringIndex.appendDeltas(
      corpusAt(at), indexFor, b, window)
    Seq(b, idxDelta, dedDelta)
  }
}

object SubstringDedupStore {

  /** Create the store at `root` from an initial corpus: epoch 0 holds the
    * corpus itself, its full index, and its from-scratch dedup (the first
    * snapshot). Fails loudly if the root already has a committed epoch. */
  def init(spark: SparkSession, root: String, docs: DataFrame,
           window: Int,
           autoCompactEpochs: Int = EpochStore.DefaultAutoCompactEpochs)
      : SubstringDedupStore = {
    val s = new SubstringDedupStore(spark, root, window,
      autoCompactEpochs).fresh()
    s.commitSnapshot(0L) {
      val d = Ckpt.eager(docs.select(
        col("doc_id").cast("long").as("doc_id"),
        col("text").cast("string").as("text")))
      Seq(d, SubstringIndex.buildIndex(d, window),
        SuffixArray.substringDeduped(d, window))
    }
    s
  }

  /** Open an existing store (any committed epoch present). */
  def open(spark: SparkSession, root: String, window: Int,
           autoCompactEpochs: Int = EpochStore.DefaultAutoCompactEpochs)
      : SubstringDedupStore =
    new SubstringDedupStore(spark, root, window, autoCompactEpochs)
      .opened()
}
