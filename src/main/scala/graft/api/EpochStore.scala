package graft.api

import graft.operators.Ckpt
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.Bridge

/** The epoch protocol of the durable dedup stores ([[SubstringDedupStore]],
  * [[FingerprintStore]], [[FuzzyKeyStore]], [[MinHashDedupStore]],
  * [[SemanticDedupStore]]), written once. A store supplies its artifact
  * kinds, its batch → delta operator and its reads; this class owns the
  * commit, snapshot, replay, compaction and prune sequence.
  *
  * Layout shared by every store under `root/` (all parquet):
  * {{{
  *   <data kind>/epoch=N/      the slice APPENDED at N — the data itself;
  *                             reads union epochs 0..e, never pruned
  *   <snapshot kind>/epoch=N/  snapshot epochs: the FULL state; delta
  *                             epochs: only the rows the append added
  *                             or changed; pruned below the snapshot
  *   _commits/N                empty marker file — the epoch's commit point
  *   _snapshots/N              marks epoch N as a full snapshot
  *   _tokens/<token>-<digest>  the epoch a token-carrying append committed
  * }}}
  *
  * CRASH SAFETY (single writer) — the contract every store inherits:
  *
  *  - [[commit]] writes the epoch's artifacts FIRST, in declared order
  *    (idempotent overwrites), then the append's idempotence token, then
  *    the commit marker, created atomically with overwrite=false.
  *    Readers resolve at the highest MARKED epoch, so unmarked litter is
  *    invisible and the retry overwrites it; a replayed commit onto a
  *    marked epoch fails loudly at the marker create.
  *  - Snapshot-kind chains resolve from the governing snapshot: either
  *    LATEST-EPOCH-WINS per key (valid whenever rows are only added or
  *    relabeled, never deleted — each store documents why) or a plain
  *    union of disjoint row slices.
  *  - [[compact]] commits the resolved state as ONE new epoch and marks
  *    it a snapshot AFTER its commit marker: a crash between the two
  *    leaves a committed epoch whose full content reads correctly as a
  *    delta, and the next [[compact]] re-marks. A store whose resolution
  *    cannot absorb a full-content delta marks before the commit instead
  *    ([[SemanticDedupStore]]).
  *  - Pruning only removes directories BELOW the latest snapshot, which
  *    readers never resolve, so an interrupted prune is finished by the
  *    next compaction's sweep.
  *  - Token appends are exactly-once ([[EpochStoreKit.replayCheck]]): a
  *    crash before the token leaves no record and the replay recomputes;
  *    a crash between token and marker leaves a token naming epoch+1
  *    and the replay recomputes and commits; a crash after the marker
  *    leaves a token naming a committed epoch and the replay is a no-op.
  *
  * Every mutating filesystem operation goes through [[EpochStoreKit]],
  * whose fault boundaries let FaultSweepSpec kill each operation at
  * every write in turn. */
private[graft] abstract class EpochStore(val spark: SparkSession,
                                         val root: String,
                                         val autoCompactEpochs: Int) {

  /** Data kinds in commit order, with their columns: compaction writes
    * an empty slice for each. */
  protected def dataKinds: Seq[(String, Seq[String])]

  /** Snapshot kinds in commit order, with their resolved state at a
    * committed epoch: compaction writes that state and prunes below it. */
  protected def snapshotKinds: Seq[(String, Long => DataFrame)]

  protected def fs: FileSystem = EpochStoreKit.fsOf(spark, root)

  private def storeName = getClass.getSimpleName

  /** Highest committed epoch, or -1 for a never-initialized root. */
  def epoch: Long = EpochStoreKit.maxMarked(fs, new Path(s"$root/_commits"))

  /** Highest epoch whose snapshot kinds are full snapshots (0 after
    * `init`; bumped by [[compact]]). */
  def latestSnapshot: Long =
    EpochStoreKit.maxMarked(fs, new Path(s"$root/_snapshots"))

  protected def requireCommitted(): Long = {
    val e = epoch
    require(e >= 0, s"$storeName at $root has no committed epoch")
    e
  }

  /** The committed-epoch guard of time-travel reads. */
  protected def requireEpoch(e: Long): Unit =
    require(e >= 0 && e <= epoch &&
      fs.exists(new Path(s"$root/_commits/$e")),
      s"epoch $e not committed at $root")

  /** Snapshot base for reads at epoch `e` — fails loudly when `e`
    * predates the latest compaction (its deltas were pruned). */
  protected def snapshotFor(e: Long): Long = {
    val s = latestSnapshot
    require(s >= 0 && s <= e,
      s"epoch $e at $root is below the latest snapshot $s — its delta " +
        "epochs were pruned by compaction; time-travel only reaches " +
        "epochs at or above the snapshot")
    s
  }

  /** `init`'s guard: the root must not hold a committed epoch yet. */
  private[api] def fresh(): this.type = {
    require(epoch < 0,
      s"$storeName already initialized at $root (epoch $epoch)")
    this
  }

  /** `open`'s guard: the root must hold a committed epoch. */
  private[api] def opened(): this.type = { requireCommitted(); this }

  // ---- reads ---------------------------------------------------------

  /** Data kind `kind` at epoch `e`: every slice appended at or before e. */
  protected def dataAt(kind: String, e: Long): DataFrame =
    EpochStoreKit.unionEpochs(spark, root, kind, 0L, e,
      dataKinds.find(_._1 == kind).get._2)

  /** Snapshot kind `kind` at `e` as the plain union of disjoint slices
    * from the governing snapshot. */
  protected def unionAt(kind: String, e: Long,
                        cols: Seq[String]): DataFrame =
    EpochStoreKit.unionEpochs(spark, root, kind, snapshotFor(e), e, cols)

  /** Snapshot kind `kind` at `e`, latest-epoch-wins per `keys`. */
  protected def latestWinsAt(kind: String, e: Long, keys: Seq[String],
                             cols: Seq[String]): DataFrame =
    EpochStoreKit.resolveLatestWins(spark, root, kind, snapshotFor(e), e,
      keys, cols)

  /** [[latestWinsAt]] restricted to the keys in `keyFrame` — the
    * append-path resolution ([[EpochStoreKit.resolveLatestWinsForKeys]]). */
  protected def latestWinsFor(kind: String, e: Long, keys: Seq[String],
                              cols: Seq[String],
                              keyFrame: DataFrame): DataFrame =
    EpochStoreKit.resolveLatestWinsForKeys(spark, root, kind,
      snapshotFor(e), e, keys, cols, keyFrame)

  /** The `comp` kind of the cluster stores — the (id, component)
    * assignment, latest-epoch-wins per id — at committed epoch `e`. */
  protected def compAt(e: Long): DataFrame = {
    requireEpoch(e)
    latestWinsAt("comp", e, Seq("id"), Seq("id", "component"))
  }

  /** The rows of `comp` whose (id → component) mapping is new or changed
    * against `old` — extension never deletes a row, so latest-wins over
    * (old resolved state + this delta) IS the new assignment. */
  protected def changedRows(comp: DataFrame, old: DataFrame): DataFrame =
    comp.join(old, Seq("id", "component"), "left_anti")

  /** Fails loudly when `batch` carries an `idCol` value `stored` already
    * holds (`why` says what a duplicate would corrupt). */
  protected def requireDisjoint(batch: DataFrame, stored: DataFrame,
                                idCol: String, why: String): Unit = {
    val clash = batch.select(col(idCol))
      .join(stored.select(col(idCol)), Seq(idCol), "left_semi")
      .limit(1).collect()
    require(clash.isEmpty,
      s"$storeName.append: batch $idCol ${clash.headOption
        .map(_.get(0)).getOrElse("")} already stored at $root — " +
        s"appended ids must be disjoint ($why)")
  }

  // ---- writes --------------------------------------------------------

  /** Commit epoch `n`: `artifacts` (one per data kind, then one per
    * snapshot kind) in order, then `token`, then the commit marker. */
  protected def commit(n: Long, artifacts: Seq[DataFrame],
                       token: Option[String] = None): Unit = {
    val kinds = dataKinds.map(_._1) ++ snapshotKinds.map(_._1)
    require(artifacts.size == kinds.size,
      s"$storeName: ${artifacts.size} artifacts for kinds $kinds")
    kinds.zip(artifacts).foreach { case (k, df) =>
      EpochStoreKit.writeParquet(df, s"$root/$k/epoch=$n")
    }
    token.foreach(t =>
      EpochStoreKit.writeToken(fs, EpochStoreKit.tokenPath(root, t), n))
    EpochStoreKit.commitMarker(fs, new Path(s"$root/_commits/$n"))
  }

  /** Commit the delta epoch `n` of an append, free the checkpoints the
    * write was the last consumer of, and fold the chain once it spans
    * `autoCompactEpochs` deltas (0 disables; SCALE.md's measured curve
    * sizes it). Returns `n`. */
  protected def commitDelta(n: Long, artifacts: Seq[DataFrame],
                            token: Option[String],
                            pinned: DataFrame*): Long = {
    commit(n, artifacts, token)
    pinned.foreach(Bridge.unpersistCheckpoint)
    if (autoCompactEpochs > 0 && n - latestSnapshot >= autoCompactEpochs)
      compact()
    n
  }

  /** Commit the snapshot epoch `n`, free the pinned checkpoints, then
    * mark it a snapshot. */
  protected def commitSnapshot(n: Long, artifacts: Seq[DataFrame],
                               pinned: DataFrame*): Unit = {
    commit(n, artifacts)
    pinned.foreach(Bridge.unpersistCheckpoint)
    markSnapshot(n)
  }

  /** The post-commit snapshot marker (idempotent: a torn window
    * re-marks). */
  protected def markSnapshot(n: Long): Unit =
    EpochStoreKit.markFile(fs, new Path(s"$root/_snapshots/$n"))

  /** Runs just before [[compact]]'s commit. */
  protected def beforeCompactCommit(n: Long): Unit = ()

  /** The exactly-once wrapper: a token that already committed returns
    * its epoch; otherwise `append` runs. */
  protected def replayOr(token: String)(append: => Long): Long =
    EpochStoreKit.replayCheck(fs, root, token, epoch).getOrElse(append)

  /** Rewrite the resolved state as ONE new snapshot epoch — an empty
    * slice for each data kind, the eagerly resolved state for each
    * snapshot kind — and prune the absorbed epochs below it, bounding
    * read-side resolution work on a long-lived store. Idempotent:
    * compacting an already-snapshot head only finishes any interrupted
    * prune. Returns the snapshot epoch. */
  def compact(): Long = {
    val e = requireCommitted()
    if (latestSnapshot == e) { pruneBelow(e); return e }
    val n = e + 1
    val empties = dataKinds.map { case (k, cols) =>
      spark.read.parquet(s"$root/$k/epoch=0").select(cols.map(col): _*)
        .limit(0)
    }
    val snaps = snapshotKinds.map { case (_, at) => Ckpt.eager(at(e)) }
    beforeCompactCommit(n)
    commitSnapshot(n, empties ++ snaps, snaps: _*)
    pruneBelow(n)
    n
  }

  protected def pruneKinds(kinds: Seq[String], snap: Long): Unit =
    kinds.foreach(k => EpochStoreKit.pruneEpochDirsBelow(fs, root, k, snap))

  protected def pruneMarkers(dir: String, snap: Long): Unit =
    EpochStoreKit.pruneMarkersBelow(fs, new Path(s"$root/$dir"), snap)

  /** Delete snapshot-kind epoch directories and snapshot markers below
    * `snap` — safe to (re-)run any time, so [[compact]] uses it both as
    * its prune step and as the recovery sweep for an interrupted prune. */
  protected def pruneBelow(snap: Long): Unit = {
    pruneKinds(snapshotKinds.map(_._1), snap)
    pruneMarkers("_snapshots", snap)
  }
}
