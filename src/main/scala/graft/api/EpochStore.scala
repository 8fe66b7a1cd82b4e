package graft.api

import graft.operators.Ckpt
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** The epoch protocol of the durable dedup stores ([[SubstringDedupStore]],
  * [[FingerprintStore]], [[FuzzyKeyStore]], [[MinHashDedupStore]],
  * [[SemanticDedupStore]]), the streaming live artifacts
  * ([[graft.streaming.LiveArtifact]]), the versions table of the
  * path-backed [[TemporalVectorDB]] and [[CurationDB]]'s facade epochs,
  * written once. A family supplies its artifact kinds, its delta builder
  * (the listed head → the epoch's artifacts) and its reads; this class
  * owns the commit, snapshot, replay, compaction and prune sequence.
  *
  * ONE LISTED HEAD PER OPERATION: [[appendOnce]] is every family's one
  * append entry. It lists `_commits` once — a token append lists it in
  * the replay check and reuses it — and hands that head down to
  * everything the build resolves. A current read resolves at the head
  * it lists once ([[current]]), an as-of read at the epoch that one
  * listing guards ([[asOf]]); both pass the resulting [[EpochStore.At]]
  * to every resolution (`dataAt`, [[unionAt]], [[latestWinsAt]],
  * [[latestWinsFor]], [[compAt]]) instead of listing again.
  *
  * Layout shared by every store under `root/` (all parquet):
  * {{{
  *   <data kind>/epoch=N/      the slice APPENDED at N — the data itself;
  *                             reads union epochs 0..e, never pruned
  *   <snapshot kind>/epoch=N/  snapshot epochs: the FULL state; delta
  *                             epochs: only the rows the append added
  *                             or changed; pruned below the snapshot
  *   _commits/N                marker file — the epoch's commit point;
  *                             records the token of a token append;
  *                             pruned below the snapshot by families
  *                             without time travel
  *   _snapshots/N              marks epoch N as a full snapshot
  *   _tokens/<token>-<digest>  the epoch a token-carrying append committed
  * }}}
  *
  * CRASH SAFETY (single writer) — the contract every store inherits:
  *
  *  - [[commit]] writes the epoch's artifacts FIRST, in declared order
  *    (idempotent overwrites), then the commit marker, renamed into
  *    place atomically and refused if it exists. The marker is the last
  *    write; it records a token append's idempotence token.
  *    Readers resolve at the highest MARKED epoch, so unmarked litter is
  *    invisible and the retry overwrites it; a replayed commit onto a
  *    marked epoch fails loudly at the marker create.
  *  - Snapshot-kind chains resolve from the governing snapshot: either
  *    LATEST-EPOCH-WINS per key (valid whenever rows are only added or
  *    relabeled, never deleted — each store documents why) or a plain
  *    union of disjoint row slices.
  *  - [[compact]] commits the resolved state as ONE new epoch, marked a
  *    snapshot BEFORE its commit marker (a sum or union resolution
  *    cannot read a full state as a delta, so the mark may never trail
  *    the commit). A mark above the committed head is a torn
  *    compaction's: readers ignore it, the next [[compact]] re-marks
  *    and the next delta commit at that epoch clears it.
  *  - THE FOLD RULE: a compaction of head `e` (an append's auto-fold,
  *    [[compact]]) commits snapshot `e + 1` holding exactly `e`'s state,
  *    so a read at `e` under that snapshot resolves from it — the epoch
  *    an append returned stays readable after its own fold. Every other
  *    read below the latest snapshot fails loudly (its deltas were
  *    pruned), as does a read below a snapshot that is not a compaction
  *    ([[isCompaction]]).
  *  - Pruning only removes directories BELOW the latest snapshot, which
  *    readers never resolve, so an interrupted prune is finished by the
  *    next compaction's sweep.
  *  - Token appends are exactly-once ([[EpochStoreKit.replayCheck]]): a
  *    crash before the marker leaves no record and the replay
  *    recomputes; once the marker lands the replay finds the token in
  *    the head marker's record, and the next [[commit]] copies it to
  *    the token's file under `_tokens/`. A token file therefore exists
  *    only for an epoch that token committed: it stays valid whatever
  *    commits or compactions run before the replay, and after any
  *    prune of the markers.
  *
  * Every mutating filesystem operation goes through [[EpochStoreKit]],
  * whose fault boundaries let FaultSweepSpec kill each operation at
  * every write in turn. */
private[graft] abstract class EpochStore(val spark: SparkSession,
                                         val root: String,
                                         val autoCompactEpochs: Int) {
  import EpochStore.At

  /** Data kinds in commit order, with their columns: compaction writes
    * an empty slice for each. */
  protected def dataKinds: Seq[(String, Seq[String])]

  /** Snapshot kinds in commit order, with their resolved state at a
    * read position: compaction writes the state at the committed head
    * and prunes below it. */
  protected def snapshotKinds: Seq[(String, At => DataFrame)]

  protected def fs: FileSystem = EpochStoreKit.fsOf(spark, root)

  private def storeName = getClass.getSimpleName

  /** Highest committed epoch, or -1 for a never-initialized root. */
  def epoch: Long = EpochStoreKit.maxMarked(fs, new Path(s"$root/_commits"))

  /** Highest committed epoch whose snapshot kinds are full snapshots (0
    * after `init`; bumped by [[compact]]). */
  def latestSnapshot: Long = latestSnapshotAt(epoch)

  /** [[latestSnapshot]] under the committed `head` the caller already
    * holds: one `_snapshots` listing, no `_commits` listing. */
  protected def latestSnapshotAt(head: Long): Long =
    EpochStoreKit.maxMarked(fs, new Path(s"$root/_snapshots"), head)

  /** Whether snapshot epoch `s` above 0 was committed by a compaction of
    * `s - 1` and so holds exactly its state (the fold rule). The default
    * holds for [[compact]]'s snapshots. A family that commits other
    * state through [[compactWith]] (a retrain, a rewrite that changes
    * rows) either overrides this or reads only at its head. */
  protected def isCompaction(s: Long): Boolean = true

  /** The committed head, listed once; fails loudly on a
    * never-initialized root. */
  protected def requireCommitted(): Long = {
    val e = epoch
    require(e >= 0, s"$storeName at $root has no committed epoch")
    e
  }

  /** The committed-epoch guard of as-of reads: lists the head once and
    * returns it. */
  protected def requireEpoch(e: Long): Long = {
    val head = epoch
    require(e >= 0 && e <= head &&
      fs.exists(new Path(s"$root/_commits/$e")),
      s"epoch $e not committed at $root")
    head
  }

  /** Where a read at committed epoch `e` resolves under the committed
    * `head` the caller listed: from the latest snapshot up to `e`, or
    * the snapshot alone when it folded `e` (the fold rule). Fails loudly
    * when `e` predates the latest compaction (its deltas were pruned). */
  protected def position(e: Long, head: Long): At = {
    val s = latestSnapshotAt(head)
    if (s >= 0 && s <= e) At(e, s, e)
    else {
      require(s == e + 1 && isCompaction(s),
        s"epoch $e at $root is below the latest snapshot $s — its delta " +
          "epochs were pruned by compaction; time-travel only reaches " +
          "epochs at or above the snapshot, or the one it folded")
      At(e, s, s)
    }
  }

  /** The read position at the committed head, listed once. */
  protected[api] def current: At = {
    val head = requireCommitted()
    position(head, head)
  }

  /** The read position at committed epoch `e`, under the head its guard
    * listed once. */
  protected[api] def asOf(e: Long): At = position(e, requireEpoch(e))

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

  /** Snapshot kind `kind` at `at` as the plain union of disjoint slices;
    * a declared `schema` spares the footer schema-inference job. */
  protected def unionAt(kind: String, at: At, cols: Seq[String],
                        schema: Option[StructType] = None): DataFrame =
    EpochStoreKit.unionEpochs(spark, root, kind, at.from, at.to, cols,
      schema)

  /** Snapshot kind `kind` at `at`, latest-epoch-wins per `keys`. */
  protected def latestWinsAt(kind: String, at: At, keys: Seq[String],
                             cols: Seq[String]): DataFrame =
    EpochStoreKit.resolveLatestWins(spark, root, kind, at.from, at.to,
      keys, cols)

  /** [[latestWinsAt]] restricted to the keys in `keyFrame` — the
    * append-path resolution ([[EpochStoreKit.resolveLatestWinsForKeys]]). */
  protected def latestWinsFor(kind: String, at: At, keys: Seq[String],
                              cols: Seq[String],
                              keyFrame: DataFrame): DataFrame =
    EpochStoreKit.resolveLatestWinsForKeys(spark, root, kind, at.from,
      at.to, keys, cols, keyFrame)

  /** The `comp` kind of the cluster stores — the (id, component)
    * assignment, latest-epoch-wins per id — at `at`. */
  protected def compAt(at: At): DataFrame =
    latestWinsAt("comp", at, Seq("id"), Seq("id", "component"))

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

  /** Commit epoch `n`: write the head's token file, then `artifacts`
    * (one per data kind, then one per snapshot kind) in order, then the
    * commit marker — always the last write — whose record is `fields`
    * followed by `token`'s field. */
  protected def commit(n: Long, artifacts: Seq[DataFrame],
                       token: Option[String] = None,
                       fields: Seq[String] = Nil): Unit = {
    val kinds = dataKinds.map(_._1) ++ snapshotKinds.map(_._1)
    require(artifacts.size == kinds.size,
      s"$storeName: ${artifacts.size} artifacts for kinds $kinds")
    if (n > 0) EpochStoreKit.completeToken(fs, root, n - 1)
    kinds.zip(artifacts).foreach { case (k, df) =>
      EpochStoreKit.writeParquet(df, s"$root/$k/epoch=$n")
    }
    EpochStoreKit.commitMarker(fs, new Path(s"$root/_commits/$n"),
      (fields ++ token.map(EpochStoreKit.tokenField)).mkString(","))
  }

  /** The one append entry of every family: list the committed head
    * once — for a token, in the replay check, which returns the epoch
    * the token already committed without running `append` — and run
    * `append` on it (-1 for a never-initialized root). */
  protected[api] def appendOnce(token: Option[String])(
      append: Long => Long): Long =
    token.fold(append(epoch)) { t =>
      val head = epoch
      EpochStoreKit.replayCheck(fs, root, t, head).getOrElse(append(head))
    }

  /** [[appendOnce]] of the families an `init` creates: build the delta
    * epoch with `delta` at the listed head (refused on a
    * never-initialized root) and commit it ([[commitDelta]]). Returns
    * the appended epoch, which stays readable after an auto-fold (the
    * fold rule). */
  protected def appendDelta(token: Option[String])(
      delta: At => Seq[DataFrame]): Long =
    appendOnce(token) { head =>
      require(head >= 0, s"$storeName at $root has no committed epoch")
      commitDelta(head + 1, token)(delta(position(head, head)))
    }

  /** Build and commit the delta epoch `n` of an append in one
    * [[Ckpt.scope]] — every checkpoint the build made is freed once the
    * epoch write landed — then fold the chain once it spans
    * `autoCompactEpochs` deltas (0 disables; SCALE.md's measured curve
    * sizes it). A torn compaction's mark at `n` is cleared before the
    * commit (epoch 0 is never a compaction's); epoch 0 — the first delta
    * of a store without an `init` — holds the whole state, so it is
    * marked a snapshot. Returns `n`. */
  protected def commitDelta(n: Long, token: Option[String])(
      artifacts: => Seq[DataFrame]): Long = {
    commitAndFold(n, token)(artifacts)
    n
  }

  /** [[commitDelta]], returning the committed head it leaves that holds
    * exactly epoch `n`'s state: the auto-fold's snapshot when the fold
    * compacted `n` itself, else `n` (also when another writer's commit
    * landed between the two, so the fold compacted a later head). */
  protected def commitAndFold(n: Long, token: Option[String])(
      artifacts: => Seq[DataFrame]): Long = {
    Ckpt.scope {
      val built = artifacts
      if (n > 0) EpochStoreKit.unmark(fs, new Path(s"$root/_snapshots/$n"))
      else markSnapshot(0)
      commit(n, built, token)
    }
    if (autoCompactEpochs > 0 && n - latestSnapshotAt(n) >= autoCompactEpochs) {
      val folded = compact()
      if (folded == n + 1) folded else n
    } else n
  }

  /** Build the snapshot epoch `n`, mark it, and commit it in one
    * [[Ckpt.scope]]: the build's checkpoints free once the write landed. */
  protected def commitSnapshot(n: Long)(artifacts: => Seq[DataFrame]): Unit =
    Ckpt.scope {
      val built = artifacts
      markSnapshot(n)
      commit(n, built)
    }

  /** The pre-commit snapshot mark (idempotent: a retry re-marks). */
  protected def markSnapshot(n: Long): Unit =
    EpochStoreKit.markFile(fs, new Path(s"$root/_snapshots/$n"))

  /** Runs just before [[compact]]'s commit. */
  protected def beforeCompactCommit(n: Long): Unit = ()

  /** Rewrite the resolved state as ONE new snapshot epoch and prune the
    * absorbed epochs below it ([[compactWith]]), bounding read-side
    * resolution work on a long-lived store. Idempotent: compacting an
    * already-snapshot head only finishes any interrupted prune. Returns
    * the snapshot epoch. */
  def compact(): Long = {
    val e = requireCommitted()
    if (latestSnapshotAt(e) == e) { pruneBelow(e); e }
    else compactWith(e)(compactState)
  }

  /** The state [[compact]] commits: every snapshot kind resolved at the
    * head `e`, eagerly. */
  protected def compactState(e: Long): Seq[DataFrame] = {
    val at = position(e, e)
    snapshotKinds.map { case (_, state) => Ckpt.eager(state(at)) }
  }

  /** The one commit-and-prune sequence of every rewrite: commit
    * `state(e)` — one frame per snapshot kind, resolved at the committed
    * head `e` — as snapshot epoch e + 1 with an empty slice per data
    * kind ([[commitSnapshot]] frees the state's checkpoints), and prune
    * below it. A rewrite never touches the epochs it reads until its
    * commit marker landed. Returns the snapshot epoch. */
  protected def compactWith(e: Long)(state: Long => Seq[DataFrame]): Long = {
    val n = e + 1
    commitSnapshot(n) {
      val empties = dataKinds.map { case (k, cols) =>
        spark.read.parquet(s"$root/$k/epoch=0").select(cols.map(col): _*)
          .limit(0)
      }
      val snaps = state(e)
      beforeCompactCommit(n)
      empties ++ snaps
    }
    pruneBelow(n)
    n
  }

  protected def pruneKinds(kinds: Seq[String], snap: Long): Unit =
    kinds.foreach(k => EpochStoreKit.pruneEpochDirsBelow(fs, root, k, snap))

  protected def pruneMarkers(dir: String, snap: Long): Unit =
    EpochStoreKit.pruneMarkersBelow(fs, new Path(s"$root/$dir"), snap)

  /** Whether commit markers below the latest snapshot are kept — the
    * stores with time-travel reads ([[requireEpoch]]) keep them;
    * families read only at the head prune them, so listing `_commits`
    * costs the epochs since the last compaction, not every append. */
  protected def keepsCommitHistory: Boolean = true

  /** Delete snapshot-kind epoch directories and snapshot markers (and,
    * without [[keepsCommitHistory]], commit markers) below `snap` — safe
    * to (re-)run any time, so [[compact]] uses it both as its prune step
    * and as the recovery sweep for an interrupted prune. */
  protected def pruneBelow(snap: Long): Unit = {
    pruneKinds(snapshotKinds.map(_._1), snap)
    pruneMarkers("_snapshots", snap)
    if (!keepsCommitHistory) pruneMarkers("_commits", snap)
  }
}

private[graft] object EpochStore {

  /** A read position: snapshot kinds resolve over epochs `from` to `to`
    * (the governing snapshot up to `e`, or the snapshot alone when it
    * folded `e`); data kinds over 0 to `e`. */
  final case class At(e: Long, from: Long, to: Long)

  /** The auto-compaction cadence of every family: SCALE.md's
    * "Auto-compaction, sized by measurement" picks 16 delta epochs. It
    * also keeps a head read's epoch directories below Spark's 32-path
    * parallel-listing threshold, so resolving a store lists on the
    * driver without a listing job. */
  val DefaultAutoCompactEpochs = 16
}
