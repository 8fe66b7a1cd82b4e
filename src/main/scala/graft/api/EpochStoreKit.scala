package graft.api

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Low-level IO for the durable epoch stores: filesystem handles,
  * parquet/marker/token writes, epoch-chain resolution, prunes, and the
  * test-only fault hooks every mutating write announces itself through.
  * The protocol built on these primitives — and its crash-safety
  * contract — lives once in [[EpochStore]]; [[CurationDB]] composes the
  * same primitives for its facade epochs.
  */
private[graft] object EpochStoreKit {

  def fsOf(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  // ---- fault-injection boundaries (test-only) -----------------------
  //
  // Every MUTATING filesystem operation a store performs (artifact
  // write, marker create, token write, prune delete) announces itself
  // here before executing. Production cost is one empty-map check; the
  // fault-sweep spec registers a hook under a store root and throws at
  // the k-th boundary, turning "the crash windows we thought of" into
  // an exhaustive kill-at-every-boundary sweep. Hooks are keyed by root
  // prefix so concurrent suites cannot trip each other.
  private val faultHooks =
    new java.util.concurrent.ConcurrentHashMap[String, String => Unit]()

  private[graft] def installFaultHook(rootPrefix: String,
                                      hook: String => Unit): Unit =
    faultHooks.put(rootPrefix, hook)

  private[graft] def clearFaultHook(rootPrefix: String): Unit =
    faultHooks.remove(rootPrefix)

  /** Announce a mutating operation on `path` — fires any hook whose
    * registered root the path CONTAINS (containment, not prefix: paths
    * sourced from `fs.listStatus` carry a `file:` scheme that a
    * scheme-less registered root would never prefix-match — which would
    * silently exempt every prune delete from the sweep). Called BEFORE
    * the mutation, so a throwing hook simulates a crash that prevented
    * it. */
  private[graft] def boundary(path: String): Unit = fire(faultHooks, path)

  private def fire(hooks: java.util.concurrent.ConcurrentHashMap[
      String, String => Unit], path: String): Unit =
    if (!hooks.isEmpty) {
      val it = hooks.entrySet().iterator()
      while (it.hasNext) {
        val en = it.next()
        if (path.contains(en.getKey)) en.getValue.apply(path)
      }
    }

  // Marker-directory listings ([[maxMarked]]) announce themselves the
  // same way (test-only, read-side): a spec counts how often an
  // operation lists `_commits`.
  private val listingProbes =
    new java.util.concurrent.ConcurrentHashMap[String, String => Unit]()

  private[graft] def installListingProbe(rootPrefix: String,
                                         probe: String => Unit): Unit =
    listingProbes.put(rootPrefix, probe)

  private[graft] def clearListingProbe(rootPrefix: String): Unit =
    listingProbes.remove(rootPrefix)

  /** True when a fault hook overlaps `root` (the hook's key is inside
    * the root or vice versa) — the fault sweeps enumerate write
    * boundaries by ORDER, so facades that overlap member operations
    * concurrently in production fall back to the serial order while a
    * sweep is driving them. */
  private[graft] def hasHookFor(root: String): Boolean =
    !faultHooks.isEmpty && {
      val it = faultHooks.keySet().iterator()
      var found = false
      while (it.hasNext && !found) {
        val k = it.next()
        found = k.contains(root) || root.contains(k)
      }
      found
    }

  /** Overwrite-mode parquet write with a fault boundary — ALL store
    * artifact writes go through here so the sweep sees them. */
  def writeParquet(df: DataFrame, path: String): Unit = {
    boundary(path)
    df.write.mode("overwrite").parquet(path)
  }

  // ---- idempotence tokens (the streaming bridge) --------------------
  //
  // append(batch, token) is exactly-once under Structured Streaming's
  // replay contract: the commit marker's record names the token, and the
  // next commit writes the token file (content = the epoch it committed)
  // — the crash windows are argued once in EpochStore's contract.

  def tokenPath(root: String, token: String): Path =
    new Path(s"$root/_tokens/${tokenName(token)}")

  /** The token's file name under `_tokens/`, which the commit marker's
    * record also carries. */
  def tokenName(token: String): String = {
    val safe = sanitizeToken(token)
    // sanitization alone is not injective ("a/b" and "a_b" collide, and a
    // collision makes replayCheck treat a NEW append as a committed replay
    // and silently drop the batch) — suffix a digest of the raw token so
    // distinct tokens can never share a file
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(token.getBytes("UTF-8")).take(8)
      .map(b => f"${b & 0xff}%02x").mkString
    s"$safe-$digest"
  }

  /** The marker-record field naming the token an epoch committed. */
  def tokenField(token: String): String = s"token=${tokenName(token)}"

  private def sanitizeToken(token: String): String =
    token.map(c =>
      if (c.isLetterOrDigit || c == '-' || c == '_' || c == '.') c
      else '_')

  def writeToken(fs: FileSystem, path: Path, epoch: Long): Unit = {
    boundary(path.toString)
    fs.mkdirs(path.getParent)
    val out = fs.create(path, true)
    out.write(epoch.toString.getBytes("UTF-8"))
    out.close()
  }

  def readToken(fs: FileSystem, path: Path): Option[Long] =
    readText(fs, path, 32).map(_.toLong)

  /** Idempotent small-text write (marker files that carry content,
    * e.g. [[CurationDB]]'s per-member epoch record): overwrites, fires
    * the fault boundary. Replayed writers rewrite identical bytes. */
  def writeText(fs: FileSystem, path: Path, text: String): Unit = {
    boundary(path.toString)
    fs.mkdirs(path.getParent)
    val out = fs.create(path, true)
    out.write(text.getBytes("UTF-8"))
    out.close()
  }

  def readText(fs: FileSystem, path: Path,
               maxBytes: Int = 4096): Option[String] =
    if (!fs.exists(path)) None
    else {
      val in = fs.open(path)
      try {
        // loop to EOF: a single read() is not guaranteed to fill on
        // HDFS/object-store streams, and a short read here would silently
        // truncate an epoch number into a DIFFERENT valid value
        val buf = new Array[Byte](maxBytes)
        var off = 0
        var k = in.read(buf, off, maxBytes - off)
        while (k > 0) {
          off += k
          k = if (off < maxBytes) in.read(buf, off, maxBytes - off) else -1
        }
        Some(new String(buf, 0, off, "UTF-8").trim).filter(_.nonEmpty)
      } finally in.close()
    }

  /** The token file name recorded in epoch `e`'s commit marker, if the
    * epoch was committed by a token append. */
  private def recordedToken(fs: FileSystem, root: String,
                            e: Long): Option[String] =
    readText(fs, new Path(s"$root/_commits/$e")).toSeq
      .flatMap(_.split(",")).find(_.startsWith("token="))
      .map(_.stripPrefix("token="))

  /** The shared replay protocol for token-carrying appends: returns
    * `Some(epoch)` when `token` already committed (the caller no-ops),
    * `None` when the append must (re-)run. A token file only exists for
    * an epoch that token committed; the head epoch's token has no file
    * yet and is read off the head marker's record. */
  def replayCheck(fs: FileSystem, root: String, token: String,
                  currentEpoch: Long): Option[Long] =
    readToken(fs, tokenPath(root, token)) match {
      case Some(n) =>
        require(n <= currentEpoch,
          s"token '$token' at $root recorded epoch $n but the store " +
            s"is at $currentEpoch — the token file is corrupt or the " +
            "store was rolled back under it")
        Some(n)
      case None =>
        Some(currentEpoch).filter(e => e >= 0 &&
          recordedToken(fs, root, e).contains(tokenName(token)))
    }

  /** Write the token file of the head epoch `e`, if a token committed
    * it — run before the next epoch commits, so only the head ever
    * lacks its file. */
  def completeToken(fs: FileSystem, root: String, e: Long): Unit =
    recordedToken(fs, root, e).foreach { name =>
      val p = new Path(s"$root/_tokens/$name")
      if (!fs.exists(p)) writeToken(fs, p, e)
    }

  /** Highest numeric child of `dir` (commit/snapshot marker dirs) not
    * above `upTo`, or -1 when the directory does not exist / has no such
    * child. */
  def maxMarked(fs: FileSystem, dir: Path,
                upTo: Long = Long.MaxValue): Long =
    if (!fs.exists(dir)) -1L
    else {
      fire(listingProbes, dir.toString)
      fs.listStatus(dir).map(_.getPath.getName)
        .flatMap(n => scala.util.Try(n.toLong).toOption)
        .filter(_ <= upTo)
        .foldLeft(-1L)(math.max)
    }

  /** Create the commit marker carrying `record`: the commit point. The
    * record is written to a hidden temp file that is then renamed onto
    * the marker, so a crash leaves either no marker or the whole record.
    * A second writer replaying the same epoch fails HERE, after which
    * its (identical-input) artifact overwrites have harmed nothing. */
  def commitMarker(fs: FileSystem, marker: Path,
                   record: String = ""): Unit = {
    boundary(marker.toString)
    fs.mkdirs(marker.getParent)
    val tmp = new Path(marker.getParent, s".${marker.getName}.tmp")
    val out = fs.create(tmp, true)
    out.write(record.getBytes("UTF-8"))
    out.close()
    require(!fs.exists(marker) && fs.rename(tmp, marker),
      s"commit marker $marker already exists")
  }

  /** Idempotent marker create (snapshot marks):
    * unlike [[commitMarker]], an existing file is fine — re-marking
    * after a torn window must converge, not fail. */
  def markFile(fs: FileSystem, path: Path): Unit = {
    boundary(path.toString)
    fs.mkdirs(path.getParent)
    if (!fs.exists(path)) fs.create(path, false).close()
  }

  /** Delete a marker file if present — undoes a torn [[markFile]]
    * before its epoch number is reused. */
  def unmark(fs: FileSystem, path: Path): Unit =
    if (fs.exists(path)) { boundary(path.toString); fs.delete(path, false) }

  /** Plain union of `kind`'s epoch directories `from..to` — the
    * resolution for artifacts whose epochs are DISJOINT row slices
    * (appended data, new-key index deltas). A declared `schema` is read
    * as is; without one Spark infers it from a footer. */
  def unionEpochs(spark: SparkSession, root: String, kind: String,
                  from: Long, to: Long, outCols: Seq[String],
                  schema: Option[StructType] = None): DataFrame =
    schema.foldLeft(spark.read)(_.schema(_))
      .option("basePath", s"$root/$kind")
      .parquet((from to to).map(n => s"$root/$kind/epoch=$n"): _*)
      .select(outCols.map(col): _*)

  /** LATEST-EPOCH-WINS resolution of a delta-epoch artifact chain:
    * epoch `from` must be a full snapshot; later epochs carry only new
    * or changed rows per `keyCols`. Single-epoch reads skip the window. */
  def resolveLatestWins(spark: SparkSession, root: String, kind: String,
                        from: Long, to: Long, keyCols: Seq[String],
                        outCols: Seq[String]): DataFrame = {
    val df = spark.read.option("basePath", s"$root/$kind")
      .parquet((from to to).map(n => s"$root/$kind/epoch=$n"): _*)
    if (from == to) df.select(outCols.map(col): _*)
    else df
      .withColumn("_rk", row_number().over(Window
        .partitionBy(keyCols.map(col): _*).orderBy(col("epoch").desc)))
      .where(col("_rk") === 1)
      .select(outCols.map(col): _*)
  }

  /** [[resolveLatestWins]] restricted to the rows whose key appears in
    * `keys` (a small frame carrying exactly `keyCols`, broadcast) — the
    * append-path resolution: filtering on the window's own partition
    * keys BEFORE the window preserves every surviving per-key group, so
    * the result equals filtering after full resolution (spec-gated via
    * the stores' append ≡ from-scratch gates) at a key-set-sized window
    * instead of an artifact-sized shuffle. */
  def resolveLatestWinsForKeys(spark: SparkSession, root: String,
                               kind: String, from: Long, to: Long,
                               keyCols: Seq[String], outCols: Seq[String],
                               keys: DataFrame): DataFrame = {
    val df = spark.read.option("basePath", s"$root/$kind")
      .parquet((from to to).map(n => s"$root/$kind/epoch=$n"): _*)
      .join(guardedBroadcast(spark, keys), keyCols, "left_semi")
    if (from == to) df.select(outCols.map(col): _*)
    else df
      .withColumn("_rk", row_number().over(Window
        .partitionBy(keyCols.map(col): _*).orderBy(col("epoch").desc)))
      .where(col("_rk") === 1)
      .select(outCols.map(col): _*)
  }

  /** Broadcast `keys` only while its PLAN-STATISTICS size estimate
    * (driver-side, zero extra jobs) stays under 256 MB. Past the budget
    * the plain frame is returned and the join shuffles both sides —
    * slower but bounded, where an unconditional broadcast of a flood
    * batch's key set (or a touched-doc key set that scales with touched
    * TEXT, not batch size) would OOM the driver. The join RESULT is
    * identical either way. */
  private[graft] def guardedBroadcast(spark: SparkSession,
                                      keys: DataFrame): DataFrame =
    if (keys.queryExecution.optimizedPlan.stats.sizeInBytes <=
          KeysBroadcastMaxBytes) broadcast(keys)
    else keys

  private val KeysBroadcastMaxBytes = 256L * 1024 * 1024

  /** Delete `kind/epoch=N` directories with N below `snap`. Readers
    * never resolve below the latest snapshot, so this is safe to
    * (re-)run any time — compaction uses it both as its prune step and
    * as the recovery sweep for an interrupted prune. */
  def pruneEpochDirsBelow(fs: FileSystem, root: String, kind: String,
                          snap: Long): Unit = {
    val dir = new Path(s"$root/$kind")
    if (fs.exists(dir)) fs.listStatus(dir)
      .filter(_.getPath.getName.startsWith("epoch="))
      .flatMap(st => scala.util.Try(
        st.getPath.getName.stripPrefix("epoch=").toLong).toOption
        .map(v => (v, st.getPath)))
      .filter(_._1 < snap)
      .foreach { case (_, p) => boundary(p.toString); fs.delete(p, true) }
  }

  /** Delete numeric marker files below `snap` in a marker directory. */
  def pruneMarkersBelow(fs: FileSystem, dir: Path, snap: Long): Unit =
    if (fs.exists(dir)) fs.listStatus(dir)
      .flatMap(st => scala.util.Try(st.getPath.getName.toLong).toOption
        .map(v => (v, st.getPath)))
      .filter(_._1 < snap)
      .foreach { case (_, p) => boundary(p.toString); fs.delete(p, true) }
}
