package graft.api

import graft.operators.{Ckpt, Closure, Dedup}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import EpochStore.At

/** PERSISTED incremental MinHash/Jaccard near-dup store — the
  * deployment packaging of the q117 compute path
  * ([[graft.operators.Dedup.sigNearDupPairs]] +
  * [[graft.operators.Dedup.crossSigNearDupPairs]] +
  * [[graft.operators.Dedup.extendComponents]]), completing the durable
  * family beside [[SubstringDedupStore]] (substring),
  * [[FingerprintStore]] (media fingerprints), [[FuzzyKeyStore]] (fuzzy
  * keys) and [[SemanticDedupStore]] (embeddings): a growing TEXT corpus
  * near-deduplicated after every append, where the per-append cost is
  * batch shingling + batch×batch and batch×base banding + the star
  * closure — the base text is NEVER re-shingled (its signature frame is
  * the persisted artifact, ~100× smaller than the text) and base×base
  * never re-bands. q117/q121 prove the extension hash-identical to the
  * from-scratch [[graft.operators.Dedup.nearDupPairs]] + closure over
  * the union: banding is a deterministic function of the signatures, so
  * union-banding decomposes exactly into base×base (already closed in
  * the stored assignment) + batch×base + batch×batch (the appended
  * edges).
  *
  * Layout under `root/` (all parquet):
  * {{{
  *   sig/epoch=N/    the batch's signature frame
  *                   (_id, _g, _m0.._m{k-1}, _h) appended at N —
  *                   disjoint id slices, so resolution is the PLAIN
  *                   UNION; NEVER pruned (it IS the maintained artifact)
  *   band/epoch=N/   the banded projection of the batch's exact-group
  *                   reps (_band, _bhash, _id) — [[append]] bands new
  *                   batches against a SCAN of this union instead of
  *                   re-collapsing + re-hashing every stored signature's
  *                   minima (the append's former base-linear shuffle);
  *                   epoch-LOCAL reps of a cross-epoch text group band
  *                   identically, so candidates are unchanged (the
  *                   [[graft.operators.Dedup.crossBandNearDupPairs]]
  *                   parity argument, spec-gated); NEVER pruned
  *   comp/epoch=N/   the pair-graph component assignment (paired ids
  *                   only, component = min member id): snapshot epochs
  *                   (init, [[compact]]) hold the FULL assignment,
  *                   append epochs only the rows the append ADDED or
  *                   RELABELED, resolved latest-epoch-wins per id —
  *                   extension never deletes a row, and under heavy
  *                   duplication the full assignment is corpus-sized,
  *                   so full-per-epoch rewrites would be the
  *                   write-amplification cliff the delta epochs avoid
  * }}}
  *
  * The banding knobs (tau, n, numHashes, bands) parameterize the stored
  * pair graph and must match across open() calls — they are the
  * family's analogue of [[FuzzyKeyStore]]'s (maxKeyLen, maxEdit).
  * Documents whose text yields no shingles carry no signature row; they
  * never pair and survive [[kept]] by construction (matching
  * [[graft.operators.Dedup.nearDupPairs]] dropping them pre-banding).
  *
  * Crash safety and the commit/compact/replay sequence are the
  * [[EpochStore]] contract. Appended ids must be DISJOINT from every
  * stored id (checked, fails loudly — a duplicated id would corrupt the
  * min-id keep policy).
  *
  * The reference has no corpus-level text dedup (its dedup surface is
  * vector-level; reference storage_engine.py) —
  * training-data-pipeline tier (MinHash+LSH, Broder 1997; the
  * RefinedWeb/Gopher-style crawl-dedup discipline).
  */
class MinHashDedupStore private (spark: SparkSession, root: String,
                                 val tau: Double, val n: Int,
                                 val numHashes: Int, val bands: Int,
                                 autoCompactEpochs: Int)
    extends EpochStore(spark, root, autoCompactEpochs) {

  private val sigCols: Seq[String] =
    Seq("_id", "_g") ++ (0 until numHashes).map(j => s"_m$j") :+ "_h"

  protected val dataKinds =
    Seq("sig" -> sigCols, "band" -> Seq("_band", "_bhash", "_id"))
  protected val snapshotKinds = Seq("comp" -> compAt _)

  private def sigAt(e: Long): DataFrame = dataAt("sig", e)

  /** The full stored signature frame at the latest committed epoch. */
  def signatures: DataFrame = sigAt(requireCommitted())

  /** The maintained pair-graph component assignment (latest epoch,
    * snapshot + deltas resolved latest-wins). */
  def components: DataFrame = compAt(current)

  /** Append a text batch (idCol, textCol) — ids disjoint from every
    * stored id (fails loudly) — shingle ONLY the batch, band it against
    * itself and against the STORED signature frame, extend the
    * component assignment with the new edges, commit epoch+1 writing
    * the batch's signatures and only the assignment rows the batch
    * ADDED or RELABELED. Returns the new epoch (the head may advance
    * further when `autoCompactEpochs` triggers a compaction —
    * read-identical, spec-gated). */
  def append(batch: DataFrame, idCol: String = "doc_id",
             textCol: String = "text"): Long =
    appendDelta(None)(delta(batch, idCol, textCol))

  /** Exactly-once append for replayable callers (the Structured
    * Streaming `foreachBatch` bridge): a replayed call with the same
    * `token` is a NO-OP returning the original epoch. */
  def append(batch: DataFrame, idCol: String, textCol: String,
             token: String): Long =
    appendDelta(Some(token))(delta(batch, idCol, textCol))

  private def delta(batch: DataFrame, idCol: String, textCol: String)(
      at: At): Seq[DataFrame] = {
    val bSig = Ckpt.eager(normalizeSig(Dedup.signatureFrame(
      batch.select(col(idCol).cast("long").as(idCol), col(textCol)),
      idCol, textCol, n, numHashes)))
    val baseSig = sigAt(at.e)
    requireDisjoint(bSig, baseSig, "_id",
      "a duplicated id would corrupt the min-id keep policy")
    // ONE shared exact-dup collapse of the batch (r15): the within-pair,
    // cross-pair and band-artifact consumers all ride the same
    // (membership, rep) frames instead of re-collapsing the batch three
    // times — the fixed-cost term that dominated small-batch appends.
    // The appended edges: batch-internal pairs + batch×base pairs — the
    // batch's banded projection broadcasts against a SCAN of the stored
    // band artifact (no re-collapse or re-banding of the base minima);
    // the stored sig frame is touched only by the candidate-keyed
    // verify/expansion joins
    val (bMem, bRep) = Dedup.collapseFromSignatures(bSig)
    val newEdges = Dedup
      .sigNearDupPairsCollapsed(bMem, bRep, tau, numHashes, bands)
      .select(col("id1").cast("long"), col("id2").cast("long"))
      .unionByName(Dedup
        .crossBandNearDupPairsCollapsed(bMem, bRep, dataAt("band", at.e),
          baseSig, tau, numHashes, bands)
        .select(col("existing_id").cast("long").as("id1"),
          col("new_id").cast("long").as("id2")))
    val oldComp = compAt(at)
    // extendComponents returns an eagerly-checkpointed frame (and frees
    // its internal checkpoints itself) — no second Ckpt.eager copy here
    val comp = Dedup.extendComponents(oldComp, newEdges)
    // the band artifact (a checkpoint) is the rep frame's last consumer
    val band = Dedup.bandArtifactOfRep(bRep, numHashes, bands)
    bRep.unpersist(false)
    Seq(bSig, band, changedRows(comp, oldComp))
  }

  /** Pin the signature frame's id to long and its column order to the
    * stored layout, so epoch unions line up by position and name. */
  private def normalizeSig(sig: DataFrame): DataFrame =
    sig.withColumn("_id", col("_id").cast("long")).select(
      sigCols.map(col): _*)

  /** The kept rows of `corpus` at the latest epoch (per near-dup
    * cluster keep the minimum member id — the
    * [[graft.operators.Dedup.dedupedCorpusCC]] policy; unpaired and
    * shingle-less docs survive), derived from the persisted assignment:
    * one anti-join — no shingling, no banding. */
  def kept(corpus: DataFrame, idCol: String = "doc_id"): DataFrame =
    keptAt(current, corpus, idCol)

  /** [[kept]] as of a PAST committed epoch at or above the latest
    * snapshot, or the one a compaction folded (audit/time-travel; older
    * epochs' comp deltas were pruned by [[compact]], fails loudly). */
  def keptAt(e: Long, corpus: DataFrame,
             idCol: String = "doc_id"): DataFrame =
    keptAt(asOf(e), corpus, idCol)

  private[api] def keptAt(at: At, corpus: DataFrame,
                          idCol: String): DataFrame = {
    val drop = compAt(at)
      .where(col("id") =!= col("component"))
      .select(col("id").as("_drop_id"))
    corpus.join(drop, corpus(idCol).cast("long") === drop("_drop_id"),
      "left_anti")
  }
}

object MinHashDedupStore {

  /** Create the store at `root` from an initial corpus (idCol,
    * textCol): epoch 0 holds the corpus's signature frame and its
    * from-scratch pair-graph closure (the first snapshot). The banding
    * knobs are fixed here for the store's lifetime. Fails loudly if the
    * root already has a committed epoch. */
  def init(spark: SparkSession, root: String, docs: DataFrame,
           tau: Double, idCol: String = "doc_id",
           textCol: String = "text", n: Int = 3, numHashes: Int = 16,
           bands: Int = 4,
           autoCompactEpochs: Int = EpochStore.DefaultAutoCompactEpochs)
      : MinHashDedupStore = {
    val s = new MinHashDedupStore(spark, root, tau, n, numHashes, bands,
      autoCompactEpochs).fresh()
    s.commitSnapshot(0L) {
      val sig = Ckpt.eager(s.normalizeSig(Dedup.signatureFrame(
        docs.select(col(idCol).cast("long").as(idCol), col(textCol)),
        idCol, textCol, n, numHashes)))
      // one shared collapse for the pair and band-artifact consumers (r15)
      val (mem, rep) = Dedup.collapseFromSignatures(sig)
      val comp0 = Closure.components(Dedup
        .sigNearDupPairsCollapsed(mem, rep, tau, numHashes, bands)
        .select(col("id1").cast("long"), col("id2").cast("long")))
      // the band artifact (a checkpoint) is the rep frame's last consumer
      val band = Dedup.bandArtifactOfRep(rep, numHashes, bands)
      rep.unpersist(false)
      Seq(sig, band, comp0)
    }
    s
  }

  /** Open an existing store (any committed epoch present). The banding
    * knobs must match the values the store was initialized with — they
    * parameterize the stored signatures and pair graph. */
  def open(spark: SparkSession, root: String, tau: Double,
           n: Int = 3, numHashes: Int = 16, bands: Int = 4,
           autoCompactEpochs: Int = EpochStore.DefaultAutoCompactEpochs)
      : MinHashDedupStore =
    new MinHashDedupStore(spark, root, tau, n, numHashes, bands,
      autoCompactEpochs).opened()
}
