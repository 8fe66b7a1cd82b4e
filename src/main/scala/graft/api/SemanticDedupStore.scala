package graft.api

import graft.operators.{Ckpt, Closure, Clustering, Dedup}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import EpochStore.At

/** PERSISTED incremental semantic-dedup store — the deployment
  * packaging of [[graft.operators.Dedup.extendSemanticDeduped]]
  * (SemDeDup under FROZEN centroids), completing the durable-store
  * family beside [[SubstringDedupStore]] (substring),
  * [[FingerprintStore]] (media fingerprints) and [[FuzzyKeyStore]]
  * (fuzzy keys): a growing embedding corpus whose per-append cost is
  * map-only frozen-cell assignment + batch-touched-cell pairs + the
  * star closure — the base is never re-clustered and base×base never
  * re-pairs. q119 proves the extension hash-identical to a from-scratch
  * replay of the frozen chain over the union.
  *
  * Layout under `root/` (all parquet):
  * {{{
  *   vecs/epoch=N/       the batch APPENDED at N (vec_id, embedding) —
  *                       the data; NEVER pruned
  *   asg/epoch=N/        frozen-centroid assignment rows
  *                       (vec_id, cell, sim, dv): snapshot epochs (init,
  *                       retrain) hold the FULL corpus assignment,
  *                       append epochs the batch's rows — vec_ids are
  *                       disjoint across epochs, so resolution is the
  *                       PLAIN UNION from the latest snapshot
  *   comp/epoch=N/       the pair-graph component assignment (paired
  *                       vec_ids only): snapshot epochs FULL, append
  *                       epochs only the rows the append ADDED or
  *                       RELABELED, resolved latest-epoch-wins per id —
  *                       extension never deletes a row, and under heavy
  *                       duplication the full assignment is
  *                       corpus-sized, so full-per-epoch rewrites would
  *                       be the write-amplification cliff the delta
  *                       [[SubstringDedupStore]] epochs fixed for text
  *   centroids/epoch=T/  the frozen-centroid artifact for TRAIN epoch T
  *                       ([[graft.operators.Clustering.saveCentroids]] —
  *                       IEEE-754-exact doubles, so every later
  *                       assignment replays the identical argmax)
  *   _trainmass/T        the full-corpus assignment mass at train time
  *                       (one ASCII long) — survives compaction pruning
  *                       so staleness stays train-relative
  * }}}
  *
  * A COMMITTED epoch is a snapshot iff it carries a `centroids/epoch=N`
  * directory (init/[[retrain]]) or the core's `_snapshots/N` mark
  * ([[compact]]). Both are written BEFORE the commit marker —
  * assignment resolution is a plain union over disjoint vec_id slices,
  * so a full assignment read as a delta would duplicate every vec_id:
  * either the marker exists and the epoch is a complete snapshot, or it
  * doesn't and the litter is invisible (and cleared before the epoch
  * number is reused).
  *
  * SNAPSHOT ≠ TRAIN GENERATION: [[compact]] bounds read-side
  * resolution (the asg union fan-in and the comp latest-wins window)
  * WITHOUT retraining — sound because extension under frozen centroids
  * is append-monotone, so the resolved asg+comp at any epoch is itself
  * a valid snapshot of the same frozen generation. The centroids
  * artifact therefore lives at the latest TRAIN epoch (which a compact
  * leaves in place, possibly below the latest snapshot), and staleness
  * is measured against the TRAIN-time mass (persisted in
  * `_trainmass/T`), so compacting never masks drift.
  *
  * THE FREEZE IS THE APPROXIMATION, so it is gated like the facade's PQ
  * codebook staleness: [[append]] fails LOUDLY once the CUMULATIVE mass
  * appended since the last snapshot would exceed `maxStaleFrac` of that
  * snapshot's mass, telling the caller to [[retrain]] — which re-trains
  * the centroids on the full stored corpus, rewrites the assignment as
  * one new snapshot epoch, re-freezes, and prunes the absorbed
  * asg/comp/centroids epochs below it (the [[SubstringDedupStore]]
  * compaction discipline; `vecs/` is the data and is never pruned).
  * Time-travel ([[keptAt]]) reaches epochs at or above the latest
  * snapshot, and the one a [[compact]] folded (a retrain re-clusters, so
  * its snapshot folds nothing); older epochs were pruned and fail
  * loudly.
  *
  * Crash safety and the commit/replay sequence are the [[EpochStore]]
  * contract, with the centroids dir as a train epoch's snapshot mark.
  * Appended vec_ids must be DISJOINT from every stored id (checked,
  * fails loudly). Zero-norm embeddings are unassignable and therefore
  * never pair — they survive [[kept]] by construction, matching
  * [[graft.operators.Dedup.semanticDeduped]].
  *
  * The reference keeps FAISS indexes per content but has no
  * corpus-level semantic dedup (reference storage_engine.py) —
  * training-data-pipeline tier (SemDeDup, Abbas et al. 2023).
  */
class SemanticDedupStore private (spark: SparkSession, root: String,
                                  val tau: Double,
                                  val maxStaleFrac: Double,
                                  autoCompactEpochs: Int)
    extends EpochStore(spark, root, autoCompactEpochs) {

  protected val dataKinds = Seq("vecs" -> Seq("vec_id", "embedding"))
  protected val snapshotKinds = Seq("asg" -> asgAt _, "comp" -> compAt _)

  /** Highest committed TRAIN epoch — the epoch whose centroids are the
    * frozen generation every later assignment replays (0 after init;
    * bumped by every [[retrain]]; NOT bumped by [[compact]]). Centroid
    * litter at an uncommitted epoch is invisible (the `<= epoch`
    * filter). */
  def latestTrain: Long = latestTrainAt(epoch)

  private def latestTrainAt(e: Long): Long = {
    val dir = new Path(s"$root/centroids")
    if (e < 0 || !fs.exists(dir)) -1L
    else fs.listStatus(dir).map(_.getPath.getName)
      .filter(_.startsWith("epoch="))
      .flatMap(n =>
        scala.util.Try(n.stripPrefix("epoch=").toLong).toOption)
      .filter(_ <= e)
      .foldLeft(-1L)(math.max)
  }

  /** Highest full-assignment snapshot epoch — the resolution base for
    * asg/comp reads: the latest committed TRAIN epoch or trainer-free
    * [[compact]] epoch, whichever is higher. */
  override protected def latestSnapshotAt(head: Long): Long =
    math.max(latestTrainAt(head), super.latestSnapshotAt(head))

  /** A train epoch re-clusters: its snapshot never holds the state of
    * the epoch below it. */
  override protected def isCompaction(s: Long): Boolean =
    !fs.exists(new Path(s"$root/centroids/epoch=$s"))

  private def vecsAt(e: Long): DataFrame = dataAt("vecs", e)

  private def asgAt(at: At): DataFrame =
    unionAt("asg", at, Seq("vec_id", "cell", "sim", "dv"))

  /** Every stored (vec_id, embedding) row at the latest epoch. */
  def vectors: DataFrame = vecsAt(requireCommitted())

  /** The maintained frozen-centroid assignment (latest epoch). */
  def assignment: DataFrame = asgAt(current)

  /** The maintained pair-graph component assignment (latest epoch). */
  def components: DataFrame = compAt(current)

  /** The frozen centroids of the latest TRAIN generation (init or
    * [[retrain]] — a [[compact]] snapshot reuses them). */
  def centroids: Array[Array[Double]] =
    Clustering.loadCentroids(spark,
      s"$root/centroids/epoch=${trainedAt(requireCommitted())}")

  /** The latest train epoch under the committed `head`; fails loudly
    * when there is none. */
  private def trainedAt(head: Long): Long = {
    val t = latestTrainAt(head)
    require(t >= 0, s"SemanticDedupStore at $root has no trained " +
      "centroids artifact")
    t
  }

  /** `(trainMass, sinceMass)` at the head read position `at`: the
    * full-corpus assignment mass when the frozen centroids were TRAINED
    * (persisted in `_trainmass/T` before the train epoch's commit
    * marker, so it survives compaction pruning) and the mass assigned
    * since. Shared by [[staleFrac]] and [[append]]'s gate so the two can
    * never diverge. Train-relative, NOT snapshot-relative: a
    * trainer-free [[compact]] must not reset drift accounting. */
  private def staleCounts(at: At): (Long, Long) = {
    val t = trainedAt(at.e)
    val trainMass = EpochStoreKit
      .readToken(fs, new Path(s"$root/_trainmass/$t"))
    require(trainMass.isDefined, s"SemanticDedupStore at $root has no " +
      s"_trainmass/$t record for its train epoch $t")
    (trainMass.get, asgAt(at).count() - trainMass.get)
  }

  /** Mass appended since the last [[retrain]] as a fraction of the
    * train-time mass — [[append]] fails once a batch would push this
    * past `maxStaleFrac`. Unchanged by [[compact]] (spec-gated). */
  def staleFrac: Double = {
    val (trainMass, since) = staleCounts(current)
    if (since == 0) 0.0
    else if (trainMass == 0) Double.PositiveInfinity
    else since.toDouble / trainMass
  }

  /** Append an embedding batch (vec_id, embedding) — ids disjoint from
    * every stored id (fails loudly) — assign against the frozen
    * centroids, extend the pair-graph components with batch-only work,
    * commit epoch+1 as a delta. Fails loudly when the cumulative
    * post-TRAIN mass would exceed `maxStaleFrac` of the train-time
    * mass — call [[retrain]] first. Returns the new epoch (the head may
    * advance further when `autoCompactEpochs` triggers a trainer-free
    * [[compact]] — read-identical, train-relative staleness untouched). */
  def append(batch: DataFrame): Long = appendDelta(None)(delta(batch))

  /** Exactly-once append for replayable callers (the Structured
    * Streaming `foreachBatch` bridge): a replayed call with the same
    * `token` is a NO-OP returning the original epoch. */
  def append(batch: DataFrame, token: String): Long =
    appendDelta(Some(token))(delta(batch))

  private def delta(batch: DataFrame)(at: At): Seq[DataFrame] = {
    val b = Ckpt.eager(batch.select(col("vec_id").cast("long")
      .as("vec_id"), col("embedding")))
    requireDisjoint(b, vecsAt(at.e), "vec_id",
      "a duplicated id would corrupt the keep policy")
    // cumulative staleness gate (the PQ-codebook discipline): count the
    // post-TRAIN assignment mass, not just this batch — via the same
    // helper staleFrac reports, so the gate and the metric cannot
    // diverge
    val (trainMass, since) = staleCounts(at)
    val nb = b.count()
    require(trainMass > 0,
      s"SemanticDedupStore.append: the frozen centroids at $root " +
        "assigned ZERO rows at train time (an unassignable corpus — " +
        "all zero-norm embeddings?) — staleness cannot be bounded " +
        "against an empty baseline, and retrain() on the same corpus " +
        "would reproduce it; re-init the store once assignable rows " +
        "exist")
    require(since + nb <= maxStaleFrac * trainMass,
      s"SemanticDedupStore.append: appending $nb rows would put " +
        s"${since + nb} post-train rows over maxStaleFrac=" +
        s"$maxStaleFrac of the train-time mass $trainMass — the frozen " +
        "centroids are stale; call retrain() to re-freeze, then append")
    val cents = Clustering.loadCentroids(spark,
      s"$root/centroids/epoch=${trainedAt(at.e)}")
    val batchAsg = Ckpt.eager(
      Clustering.assignVecWithCentroids(b, cents))
    val oldComp = compAt(at)
    // extendSemanticComponents returns an eagerly-checkpointed frame
    // (extendComponents' contract) — no second Ckpt.eager copy here
    val comp = Dedup.extendSemanticComponents(
      asgAt(at), oldComp, batchAsg, tau)
    clearLitter(at.e + 1)
    Seq(b, batchAsg, changedRows(comp, oldComp))
  }

  /** Torn-retrain litter at the still-uncommitted epoch `n`: a crashed
    * retrain may have left a centroids dir (+ trainmass file). Once a
    * commit at `n` lands, that litter would falsely read as a snapshot —
    * a trainer-free commit would promote never-used centroids to
    * [[latestTrain]] (later appends would assign against a generation
    * the stored pair graph never saw) and truncate assignment
    * resolution — so appends and compactions clear it before their
    * marker. */
  private def clearLitter(n: Long): Unit = {
    val cdir = new Path(s"$root/centroids/epoch=$n")
    if (fs.exists(cdir)) fs.delete(cdir, true)
    val mass = new Path(s"$root/_trainmass/$n")
    if (fs.exists(mass)) fs.delete(mass, false)
  }

  /** Train centroids on `all`, and commit its full assignment + closure
    * as snapshot epoch `n` with `vecs` as the epoch's data slice, in
    * the caller's [[Ckpt.scope]] (it frees the pinned frames once the
    * epoch write landed). The centroids dir IS the snapshot marker once
    * the commit marker lands, so it (and the train-mass record
    * staleness needs after a later compact prunes this epoch's asg) is
    * durable BEFORE the commit. */
  private def trainSnapshot(n: Long, all: DataFrame, vecs: DataFrame,
                            nCells: Int, iters: Int): Unit = {
    val cents = Clustering.kmeansCentroidsD(all, nCells, iters)
    val asg = Ckpt.eager(Clustering.assignVecWithCentroids(all, cents))
    val comp = Closure.components(
      Dedup.assignmentDupPairs(asg, tau).select("id1", "id2"))
    EpochStoreKit.boundary(s"$root/centroids/epoch=$n")
    Clustering.saveCentroids(spark, cents, s"$root/centroids/epoch=$n")
    EpochStoreKit.writeToken(fs, new Path(s"$root/_trainmass/$n"),
      asg.count())
    // the centroids dir is this snapshot's mark
    commit(n, Seq(vecs, asg, comp))
  }

  /** [[compact]] is trainer-free: it rewrites the resolved asg + comp
    * under the SAME frozen centroids (sound because extension under
    * them is append-monotone) and leaves [[staleFrac]] unchanged. */
  override protected def beforeCompactCommit(n: Long): Unit =
    clearLitter(n)

  /** Re-train the centroids on the FULL stored corpus, rewrite the
    * assignment + closure as one new SNAPSHOT epoch (empty vecs delta),
    * re-freeze, and prune the absorbed asg/comp/centroids epochs below
    * it. Resets [[staleFrac]] to 0. Crash windows: before the commit
    * marker, all litter (including the new centroids dir) is invisible
    * and a retry overwrites it; after the marker but mid-prune, the
    * next [[retrain]]'s prune sweep finishes the job (readers never
    * resolve below the latest snapshot either way). Returns the
    * snapshot epoch. */
  def retrain(nCells: Int, iters: Int = 3): Long = {
    val e = requireCommitted()
    val n = e + 1
    Ckpt.scope {
      val all = Ckpt.eager(vecsAt(e))
      trainSnapshot(n, all, all.limit(0), nCells, iters)
    }
    pruneBelow(n)
    n
  }

  /** Prune below the new snapshot: asg/comp epochs and snapshot marks
    * are absorbed, but the TRAIN-generation artifacts
    * (centroids dir, `_trainmass`) survive down to [[latestTrain]] —
    * after a [[compact]] the frozen generation is still in use below
    * the snapshot; after a [[retrain]] latestTrain IS the snapshot. */
  override protected def pruneBelow(snap: Long): Unit = {
    super.pruneBelow(snap)
    val t = latestTrain
    pruneKinds(Seq("centroids"), t)
    pruneMarkers("_trainmass", t)
  }

  /** The kept rows of `corpus` at the latest epoch under the SemDeDup
    * keep policy (per component keep the member LEAST similar to its
    * centroid, ties to the lowest id), derived from the persisted
    * artifacts — no clustering, no pairing. The frame is planned
    * lazily: each action reads the store at the head this call
    * resolved. */
  def kept(corpus: DataFrame, idCol: String = "vec_id"): DataFrame =
    keptAt(current, corpus, idCol)

  /** [[kept]] as of a PAST committed epoch at or above the latest
    * snapshot, or the one a compaction folded (older epochs were pruned
    * by [[compact]] or [[retrain]], fails loudly). */
  def keptAt(e: Long, corpus: DataFrame,
             idCol: String = "vec_id"): DataFrame =
    keptAt(asOf(e), corpus, idCol)

  private[api] def keptAt(at: At, corpus: DataFrame,
                          idCol: String): DataFrame = {
    val sims = asgAt(at).select(col("vec_id"), col("sim"))
    val drop = Dedup.semanticDropIds(compAt(at), sims)
    corpus.join(drop, corpus(idCol).cast("long") === drop("_drop_id"),
      "left_anti")
  }
}

object SemanticDedupStore {

  /** Create the store at `root` from an initial embedding frame
    * (vec_id, embedding): epoch 0 trains the centroids, holds the full
    * assignment and from-scratch closure, and is the first snapshot.
    * Fails loudly if the root already has a committed epoch. */
  def init(spark: SparkSession, root: String, vecs: DataFrame,
           nCells: Int, iters: Int = 3, tau: Double = 0.95,
           maxStaleFrac: Double = 0.5,
           autoCompactEpochs: Int = EpochStore.DefaultAutoCompactEpochs)
      : SemanticDedupStore = {
    val s = new SemanticDedupStore(spark, root, tau, maxStaleFrac,
      autoCompactEpochs).fresh()
    Ckpt.scope {
      val v = Ckpt.eager(vecs.select(col("vec_id").cast("long")
        .as("vec_id"), col("embedding")))
      s.trainSnapshot(0L, v, v, nCells, iters)
    }
    s
  }

  /** Open an existing store (any committed epoch present). `tau` and
    * `maxStaleFrac` must match the values the store was initialized
    * with — they parameterize the stored pair graph. */
  def open(spark: SparkSession, root: String, tau: Double = 0.95,
           maxStaleFrac: Double = 0.5,
           autoCompactEpochs: Int = EpochStore.DefaultAutoCompactEpochs)
      : SemanticDedupStore =
    new SemanticDedupStore(spark, root, tau, maxStaleFrac,
      autoCompactEpochs).opened()
}
