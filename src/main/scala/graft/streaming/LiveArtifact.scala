package graft.streaming

import graft.api.EpochStore
import graft.operators.{Pipeline, Retrieval, Sketches, SubstringIndex,
  TextAnalysis}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** A maintained live artifact over a stream — a state that is the
  * associative MERGE of per-batch deltas, so the live state equals the
  * batch build over every ingested row by the merge identity — on the
  * [[graft.api.EpochStore]] core, whose contract (commit order, token
  * replay, compaction, prune) it inherits. An artifact declares only:
  *
  *  - `build`: batch → delta;
  *  - `merge`: the associative merge over a union of deltas;
  *  - `emptyInput`: a zero-row input, so the state before the first
  *    commit is the build over it (schema derived, never hand-written).
  *
  * Layout under `root/`: `delta/epoch=N/` is batch N's delta (or, at a
  * snapshot epoch, the merged state), plus the core's `_commits`,
  * `_snapshots` and `_tokens`. The one snapshot kind resolves as
  * `merge(union of deltas from the latest snapshot)`; [[compact]]
  * commits exactly that as a new snapshot epoch, so a compaction always
  * applies the merge the reader uses, and prunes the deltas and commit
  * markers below it. An append folds the chain itself once it spans the
  * core's default cadence of delta epochs. Appends are exactly-once per
  * token (the stream's query and batch id): a replayed id no-ops even
  * after compaction pruned its delta. `_tokens` keeps one small file per
  * batch id ever committed — it is probed by name, never listed. Single
  * writer per root. */
sealed abstract class LiveArtifact(spark: SparkSession, root: String)
    extends EpochStore(spark, root, EpochStore.DefaultAutoCompactEpochs) {

  protected def build(batch: DataFrame): DataFrame
  protected def merge(deltas: DataFrame): DataFrame
  protected def emptyInput: DataFrame

  protected def emptyOf(ddl: String): DataFrame =
    spark.createDataFrame(java.util.List.of[Row](), StructType.fromDDL(ddl))

  private lazy val cols = build(emptyInput).columns.toSeq

  protected val dataKinds = Nil
  protected val snapshotKinds = Seq("delta" -> stateAt _)

  private def stateAt(at: EpochStore.At): DataFrame =
    merge(unionAt("delta", at, cols))

  /** The live state: the merge of every committed delta. */
  def read: DataFrame = {
    val e = epoch
    if (e < 0) build(emptyInput) else stateAt(position(e, e))
  }

  /** Commit `batch`'s delta as the next epoch, exactly once per
    * `token`; returns the epoch (a replay returns the original one). */
  def append(batch: DataFrame, token: String): Long =
    appendOnce(Some(token))(head => commitDelta(head + 1, Some(token))(
      Seq(build(batch))))

  // read only at the head: compaction prunes the absorbed commit markers
  override protected def keepsCommitHistory = false
}

/** Count-min frequency sketch ([[Sketches.countMin]]): cellwise sum. */
final class CountMinArtifact(spark: SparkSession, root: String,
                             valueCol: String = "_v", depth: Int = 4,
                             width: Int = 1024)
    extends LiveArtifact(spark, root) {
  protected def emptyInput = emptyOf(s"`$valueCol` STRING")
  protected def build(b: DataFrame) =
    Sketches.countMin(b, col(valueCol), depth, width).coalesce(1)
  protected def merge(d: DataFrame) =
    d.groupBy("row", "bucket").agg(sum("cnt").as("cnt"))
}

/** HyperLogLog registers ([[Sketches.hllRegisters]]): cellwise max. */
final class HllArtifact(spark: SparkSession, root: String,
                        groupCol: String, valueCol: String = "_v",
                        p: Int = 8)
    extends LiveArtifact(spark, root) {
  protected def emptyInput =
    emptyOf(s"`$groupCol` STRING, `$valueCol` STRING")
  protected def build(b: DataFrame) =
    Sketches.hllRegisters(b, groupCol, col(valueCol), p).coalesce(1)
  protected def merge(d: DataFrame) =
    d.groupBy(groupCol, "bucket").agg(max("register").as("register"))
}

/** Publish manifest ([[Pipeline.datasetManifest]]): counts and token
  * sums add, id bounds min/max, checksums add mod 2^56. */
final class ManifestArtifact(spark: SparkSession, root: String,
                             groupCol: String)
    extends LiveArtifact(spark, root) {
  protected def emptyInput =
    emptyOf(s"doc_id BIGINT, `$groupCol` STRING, text STRING")
  protected def build(b: DataFrame) =
    Pipeline.datasetManifest(b, groupCol).coalesce(1)
  protected def merge(d: DataFrame) = {
    val mod = lit(72057594037927936L).cast("decimal(38,0)") // 2^56
    def ck(c: String): Column =
      pmod(sum(col(c).cast("decimal(38,0)")) % mod, mod).cast("long")
    d.groupBy(groupCol)
      .agg(sum("n_docs").as("n_docs"), sum("n_tokens").as("n_tokens"),
        min("min_id").as("min_id"), max("max_id").as("max_id"),
        ck("id_checksum").as("id_checksum"),
        ck("content_checksum").as("content_checksum"))
  }
}

/** Weighted priority sample ([[TextAnalysis.prioritySample]]): top-k,
  * since topk(A ∪ B) = topk(topk(A) ∪ topk(B)) for stateless per-row
  * priorities. */
final class PrioritySampleArtifact(spark: SparkSession, root: String,
                                   k: Int, weightCol: String = "_w",
                                   idCol: String = "doc_id",
                                   seed: Int = 0)
    extends LiveArtifact(spark, root) {
  protected def emptyInput =
    emptyOf(s"`$idCol` BIGINT, `$weightCol` BIGINT")
  protected def build(b: DataFrame) =
    TextAnalysis.prioritySample(b, k, weightCol, idCol, seed).coalesce(1)
  protected def merge(d: DataFrame) =
    d.orderBy(desc("priority"), col(idCol)).limit(k)
}

/** Per-doc token counts (doc_id, n_subtokens) — the packing inputs:
  * rows are the state, merged by union. */
final class PackingCountsArtifact(spark: SparkSession, root: String,
                                  counter: Column => Column =
                                    TextAnalysis.subtokenCount)
    extends LiveArtifact(spark, root) {
  protected def emptyInput = emptyOf("doc_id BIGINT, text STRING")
  protected def build(b: DataFrame) = b.select(col("doc_id"),
    counter(col("text")).cast("long").as("n_subtokens"))
  protected def merge(d: DataFrame) = d
}

/** BM25 postings ([[Retrieval.postings]]): rows are the state, merged
  * by union (each document is ingested once). */
final class PostingsArtifact(spark: SparkSession, root: String)
    extends LiveArtifact(spark, root) {
  protected def emptyInput = emptyOf("doc_id BIGINT, text STRING")
  protected def build(b: DataFrame) = Retrieval.postings(b)
  protected def merge(d: DataFrame) = d
}

/** Substring window-key index ([[SubstringIndex.buildIndex]]): keep =
  * least of the minima, occ = summed counts, per key. */
final class SubstringIndexArtifact(spark: SparkSession, root: String,
                                   window: Int)
    extends LiveArtifact(spark, root) {
  protected def emptyInput = emptyOf("doc_id BIGINT, text STRING")
  protected def build(b: DataFrame) = SubstringIndex.buildIndex(b, window)
  protected def merge(d: DataFrame) = d.groupBy("k1", "k2")
    .agg(min(col("keep")).as("keep"), sum(col("occ")).as("occ"))
}
