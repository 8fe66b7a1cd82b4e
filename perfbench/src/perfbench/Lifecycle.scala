package perfbench

import graft.api.TemporalVectorDB
import graft.model.Defaults
import graft.operators.{AsOfJoin, VersionStore}
import graft.simulation.EvolutionSimulator
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.sql.Timestamp
import scala.collection.mutable.ArrayBuffer
import scala.util.Random

/** The paper's versioned-vector lifecycle on a seeded article history.
  * Step 0 bulk-loads each article's first 1–10 versions in one batch (so
  * the store holds delta chains of every length up to the base interval);
  * each later step edits a skewed subset (80 % of a hot fifth of the
  * articles, 10 % of the rest) and appends one version per edited article
  * through `TemporalVectorDB.addVersions`. */
object Lifecycle {
  val Dim = Defaults.EmbeddingDim
  val Articles = 400
  val MaxBulk = Defaults.BaseInterval
  val Setups = 5
  val Steps = 8
  // unmeasured first appends: the append path is still compiling
  val WarmSteps = 2
  val HotFrac = 0.2
  val PHot = 0.8
  val PCold = 0.1
  val CompactEvery = 3
  val K = Defaults.DefaultK
  val Targets = 2000
  val Queries = 128
  val PointReads = 3
  // the reference's reconstruction gates
  val MaxL2 = 0.01
  val MinCos = 0.995

  /** The generated history: per article its versions in order (seq k is
    * index k-1) with their timestamps, and the (article, seq) pairs each
    * step appends. */
  final case class History(ids: IndexedSeq[String],
                           vecs: Map[String, IndexedSeq[Array[Float]]],
                           ts: Map[String, IndexedSeq[Timestamp]],
                           batches: IndexedSeq[Seq[(String, Int)]]) {
    val versions: Int = batches.map(_.size).sum
    val counts: Map[String, Int] =
      batches.flatten.groupBy(_._1).map { case (c, vs) => c -> vs.size }
  }

  def history(seed: Long): History = {
    val rows = EvolutionSimulator.history(Articles, MaxBulk + Steps, Dim, seed)
    val byId = rows.groupBy(_._1).map { case (c, vs) => c -> vs.sortBy(_._2) }
    val ids = rows.map(_._1).distinct.toIndexedSeq
    // counts are fixed and only the choice of articles follows the seed,
    // so every seed gives batches of the same sizes
    val rnd = new Random(seed ^ 0x5eed1L)
    val bulk = ids.zip(rnd.shuffle(ids.indices.map(i => 1 + i % MaxBulk))).toMap
    val (hot, cold) = rnd.shuffle(ids).splitAt((Articles * HotFrac).toInt)
    val next = scala.collection.mutable.Map(ids.map(c => c -> (bulk(c) + 1)): _*)
    val edits = (1 to Steps).map { _ =>
      val edited = (rnd.shuffle(hot).take((hot.size * PHot).toInt) ++
        rnd.shuffle(cold).take((cold.size * PCold).toInt)).toSet
      ids.filter(edited).map { c => val k = next(c); next(c) = k + 1; (c, k) }
    }
    History(ids, byId.map { case (c, vs) => c -> vs.map(_._4).toIndexedSeq },
      byId.map { case (c, vs) => c -> vs.map(_._3).toIndexedSeq },
      ids.flatMap(c => (1 to bulk(c)).map(c -> _)) +: edits)
  }

  private val BatchSchema = StructType(Seq(
    StructField("content_id", StringType),
    StructField("ts", TimestampType),
    StructField("embedding", ArrayType(FloatType, containsNull = false))))

  def batchDf(spark: SparkSession, h: History, step: Int): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(h.batches(step).map { case (c, k) =>
        Row(c, h.ts(c)(k - 1), h.vecs(c)(k - 1)) }, 1),
      BatchSchema)

  def l2(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i); s += d * d; i += 1 }
    math.sqrt(s)
  }

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var ab, aa, bb = 0.0
    var i = 0
    while (i < a.length) {
      ab += a(i).toDouble * b(i); aa += a(i).toDouble * a(i)
      bb += b(i).toDouble * b(i); i += 1
    }
    ab / math.sqrt(aa * bb)
  }

  /** Brute-force top-k ids with their cosine similarities, ties by id. */
  def bruteTopK(q: Array[Float], corpus: Seq[(String, Array[Float])],
                k: Int): Seq[(String, Double)] =
    corpus.map { case (id, v) => id -> cosine(q, v) }
      .sortBy { case (id, s) => (-s, id) }.take(k)

  /** The returned ranking agrees with brute force: the same ids, or rank
    * by rank the same similarity within `eps` (stored vectors carry the
    * delta encoding's bounded error, which may swap near ties). */
  def sameTopK(got: Seq[String], want: Seq[(String, Double)],
               sim: String => Option[Double], eps: Double): Boolean =
    got.size == want.size && (got == want.map(_._1) ||
      got.zip(want).forall { case (g, (_, s)) => sim(g).exists(x => math.abs(x - s) <= eps) })
}

/** One lifecycle run: the generated history, the operations both
  * lifecycle workloads issue, their output checks, and the end-to-end
  * metrics computed from every call made.
  *
  * Reconstruction is checked against the simulator's vectors through the
  * reference encoding: a version stored as a delta keeps only the
  * dimensions that moved by at least the sparsity threshold, so the
  * reference's own loss is the bound. A reconstructed version passes when
  * it is one row per target and no further from the simulator's vector
  * than the reference encoding of that version (base snapshot plus the
  * sparse diffs of the chain, with the store's own base/delta choice).
  * How many versions also meet the reference's fixed gates (L2 ≤ 0.01,
  * cosine ≥ 0.995) is reported, not checked. */
final class LifecycleRun(spark: SparkSession, t: Tracer, rec: Record,
                         workDir: String, seed: Long) {
  import Lifecycle._
  import spark.implicits._

  val h: History = history(seed)
  private val rnd = new Random(seed)
  private var stores = 0
  // wall seconds of every measured call, per operation
  private val walls = scala.collection.mutable.LinkedHashMap[String, ArrayBuffer[Double]]()
  private val spaceRatios, errors = ArrayBuffer[Double]()
  // off during warm-up calls: they are made and checked, not timed
  private var measuring = true
  private var appended = 0L
  private var gateMisses, gateChecked = 0L
  private var cycles = 0
  // per article, whether each stored seq is a base snapshot
  private var isBase = Map.empty[String, Array[Boolean]]
  private val reference = scala.collection.mutable.Map[(String, Int), Array[Float]]()

  /** A fresh store holding the step-0 bulk load, with both maintained
    * indexes pinned. */
  def load(): TemporalVectorDB = {
    stores += 1
    val db = new TemporalVectorDB(spark, s"$workDir/versions_$stores")
    db.addVersions(batchDf(spark, h, 0))
    db.cacheBases(); db.cacheLatest()
    db
  }

  /** Append steps 1..Steps one `addVersions` call each, compacting every
    * `CompactEvery` steps when `compact`; then check the store. In traced
    * runs each append is preceded by a replay of the ingest operator alone
    * to a noop sink. */
  def appendSteps(db: TemporalVectorDB, compact: Boolean): Unit = {
    for (step <- 1 to Steps) rec.attempt(s"append[$step]") {
      measuring = step > WarmSteps
      val batch = batchDf(spark, h, step)
      if (t.enabled) t.span("operators.version_ingest") {
        VersionStore.ingest(batch, Some(db.versions.select("content_id", "seq")), db.cfg)
          .write.format("noop").mode("overwrite").save()
      }
      timed("add_versions")(db.addVersions(batch))
      if (measuring) appended += h.batches(step).size
      rec.check(s"append[$step]", ok = true, "")
      if (compact && step % CompactEvery == 0) {
        val (f0, b0) = Space.of(spark, db.path)
        val (before, after) = timed("compact_store")(db.compactStore())
        val (f1, b1) = Space.of(spark, db.path)
        rec.layer("io.versions.files_before_compact", f0, "count")
        rec.layer("io.versions.bytes_before_compact", b0, "B")
        rec.layer("io.versions.files_after_compact", f1, "count")
        rec.layer("io.versions.bytes_after_compact", b1, "B")
        rec.check(s"compact[$step]", before == f0 && after == f1 && after < before,
          s"compactStore reported ($before, $after), the listing saw ($f0, $f1)")
      }
    }
    val stored = db.versions.select("content_id", "seq", "kind").collect()
      .groupBy(_.getString(0))
    isBase = stored.map { case (c, rs) =>
      val a = new Array[Boolean](rs.length)
      rs.foreach(r => if (r.getInt(1) <= a.length) a(r.getInt(1) - 1) = r.getString(2) == "base")
      c -> a
    }
    reference.clear()
    val bulk = h.batches(0).groupBy(_._1).map { case (c, vs) => c -> vs.size }
    rec.note("appended_as_base", s"${isBase.map { case (c, a) => a.drop(bulk(c)).count(identity) }.sum}" +
      s" of ${h.versions - h.batches(0).size} appended versions stored as base snapshots")
    rec.check("seq_numbers", stored.map { case (c, rs) => c -> rs.map(_.getInt(1)).sorted.toSeq } ==
      h.counts.map { case (c, n) => c -> (1 to n) },
      "stored seqs differ from 1..n per article")
    val idx = db.cacheLatest().collect()
      .map(r => r.getString(0) -> (r.getInt(1), r.getSeq[Float](2).toArray)).toMap
    rec.check("latest_index", idx.size == h.counts.size && h.counts.forall { case (c, n) =>
      idx.get(c).exists { case (k, v) => k == n && withinReference(c, n, v) } },
      "the maintained latest index disagrees with the history")
    val (files, bytes) = Space.of(spark, db.path)
    rec.layer("io.versions.store_files", files, "count")
    rec.layer("io.versions.store_bytes", bytes, "B")
    spaceRatios += bytes.toDouble / (h.versions * Dim * 4.0)
    rec.layer("functions.sparse_diff.dims", h.versions.toDouble * Dim, "count")
    rec.layer("functions.sparse_diff.bytes", h.versions.toDouble * Dim * 8, "B")
  }

  /** The reference encoding of version k: its nearest stored base at or
    * before k plus the thresholded diffs of every later version up to k. */
  private def referenceVec(c: String, k: Int): Array[Float] =
    reference.getOrElseUpdate((c, k), {
      val kinds = isBase(c)
      var b = k
      while (b > 1 && !kinds(b - 1)) b -= 1
      val add = new Array[Double](Dim)
      for (j <- b + 1 to k) {
        val cur = h.vecs(c)(j - 1)
        val prev = h.vecs(c)(j - 2)
        var i = 0
        while (i < Dim) {
          val d = cur(i).toDouble - prev(i)
          if (math.abs(d) >= Defaults.SparsityThreshold) add(i) += d.toFloat
          i += 1
        }
      }
      val base = h.vecs(c)(b - 1)
      Array.tabulate(Dim)(i => (base(i) + add(i)).toFloat)
    })

  private def withinReference(c: String, k: Int, v: Array[Float]): Boolean = {
    val truth = h.vecs(c)(k - 1)
    val ref = referenceVec(c, k)
    l2(v, truth) <= l2(ref, truth) + 1e-4 && cosine(v, truth) >= cosine(ref, truth) - 1e-6
  }

  /** Run `body` as span `op`, keeping its wall when measuring. */
  private def timed[T](op: String)(body: => T): T = {
    val (r, s) = t.span(op)(body)
    if (measuring) walls.getOrElseUpdate(op, ArrayBuffer()) += s
    r
  }

  private def target(): (String, Int) = {
    val c = h.ids(rnd.nextInt(h.ids.size)); (c, 1 + rnd.nextInt(h.counts(c)))
  }

  private def noisy(v: Array[Float]): Array[Float] =
    v.map(x => x + (rnd.nextGaussian() * 0.02).toFloat)

  /** Check reconstructed rows: one per distinct target, each within the
    * reference encoding's loss. With `keep`, the errors against the
    * simulator's vectors and the reference-gate counts are kept. */
  private def checkReconstruction(name: String, targets: Seq[(String, Int)],
                                  rows: Array[Row], keep: Boolean = false): Unit = {
    val got = rows.groupBy(r => (r.getString(0), r.getInt(1)))
    val want = targets.distinct
    val bad = want.count { case (c, k) =>
      got.get((c, k)) match {
        case Some(Array(r)) =>
          val v = r.getSeq[Float](2).toArray
          val truth = h.vecs(c)(k - 1)
          val e = l2(v, truth)
          if (keep) {
            errors += e
            gateChecked += 1
            if (e > MaxL2 || cosine(v, truth) < MinCos) gateMisses += 1
          }
          !withinReference(c, k, v)
        case _ => true
      }
    }
    rec.check(name, bad == 0 && rows.length == want.size,
      s"$bad of ${want.size} targets beyond the reference encoding's loss (${rows.length} rows)")
  }

  /** One read cycle on `db`: a batch reconstruction at uniform targets, a
    * batch as-of read at timestamps, a batch k=5 search over the pinned
    * latest corpus, and single-item reads, each checked. */
  def readCycle(db: TemporalVectorDB, bases: Seq[(String, Array[Float])],
                latest: Seq[(String, Array[Float])], scale: Int = 1): Unit = {
    val nTargets = Targets / scale
    val nQueries = Queries / scale
    val targets = Seq.fill(nTargets)(target())
    val tdf = targets.toDF("content_id", "seq")
    var batchRows = Map.empty[(String, Int), Array[Float]]
    rec.attempt("batch_reconstruct") {
      val rows = timed("batch_reconstruct")(db.batchReconstruct(tdf).collect())
      checkReconstruction("batch_reconstruct", targets, rows)
      if (measuring) {
        rec.first("functions.delta_fold.deltas", rows.map(_.getAs[Int]("deltas_applied")).sum, "count")
        rec.first("functions.delta_fold.bytes", rows.length.toDouble * Dim * 8, "B")
      }
      batchRows = rows.map(r => (r.getString(0), r.getInt(1)) -> r.getSeq[Float](2).toArray).toMap
    }

    val asofTargets = IndexedSeq.tabulate(nTargets) { i =>
      val (c, k) = target()
      (i.toLong, c, new Timestamp(h.ts(c)(k - 1).getTime + rnd.nextInt(86400000)), k)
    }
    val left = asofTargets.map(x => (x._1, x._2, x._3)).toDF("qid", "content_id", "t")
    rec.attempt("asof_reconstruct") {
      val (hits, rows) = timed("asof_reconstruct") {
        val hits = t.span("operators.asof_join") {
          AsOfJoin.lastBefore(left, db.versions.select("content_id", "ts", "seq"),
            "content_id", "qid", "t", "ts", Seq("seq"), strict = false)
            .select("qid", "content_id", "asof_seq").collect()
        }._1
        val tgt = hits.filter(!_.isNullAt(2)).map(r => (r.getString(1), r.getInt(2))).distinct.toSeq
        (hits, db.batchReconstruct(tgt.toDF("content_id", "seq")).collect())
      }
      rec.check("asof_seq", hits.length == nTargets && hits.forall { r =>
        !r.isNullAt(2) && r.getInt(2) == asofTargets(r.getLong(0).toInt)._4 },
        "an as-of seq differs from the greatest version at or before t")
      checkReconstruction("asof_reconstruct",
        hits.filter(!_.isNullAt(2)).map(r => (r.getString(1), r.getInt(2))).toSeq, rows)
    }

    // the k=5 search must rank the pinned latest corpus exactly
    val byId = latest.toMap
    val pool = latest.map(_._2).toIndexedSeq
    val qvecs = IndexedSeq.fill(nQueries)(noisy(pool(rnd.nextInt(pool.size))))
    val qdf = qvecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("query_id", "qvec")
    rec.attempt("search_latest_batch") {
      val rows = timed("search_latest_batch")(db.searchLatestVersionsBatch(qdf, K).collect())
      if (measuring) {
        rec.first("functions.dot_product.flops", nQueries.toDouble * latest.size * Dim * 2, "count")
        rec.first("functions.dot_product.bytes", nQueries.toDouble * latest.size * Dim * 8, "B")
      }
      val got = rows.groupBy(_.getLong(0)).map { case (q, rs) =>
        q -> rs.sortBy(_.getInt(1)).map(_.getString(2)).toSeq }
      val bad = qvecs.indices.count { i =>
        !sameTopK(got.getOrElse(i.toLong, Nil), bruteTopK(qvecs(i), latest, K),
          id => byId.get(id).map(cosine(qvecs(i), _)), 1e-6) }
      rec.check("knn_top5", bad == 0, s"$bad of $nQueries queries differ from brute force")
    }

    // a point read: look one version up, then search the stored bases
    // for content similar to it
    val baseById = bases.toMap
    for (_ <- 0 until math.max(1, PointReads / scale)) {
      val (c, k) = if (batchRows.isEmpty) target() else batchRows.keys.toIndexedSeq(rnd.nextInt(batchRows.size))
      rec.attempt("point_read") {
        val (gv, ss) = timed("point_read") {
          val gv = t.span("get_version")(db.getVersion(c, k).collect())._1
          val q = gv.headOption.map(_.getSeq[Float](2).toArray)
          (gv, q.map(v => v -> t.span("search_similar")(db.searchSimilarContent(v, K).collect())._1))
        }
        rec.check("get_version", gv.length == 1 &&
          batchRows.get((c, k)).forall(l2(_, gv(0).getSeq[Float](2).toArray) <= 1e-6),
          s"getVersion($c, $k) differs from its batch row")
        rec.check("search_similar", ss.exists { case (q, rows) =>
          sameTopK(rows.sortBy(_.getInt(0)).map(_.getString(1)).toSeq,
            bruteTopK(q, bases, K), id => baseById.get(id).map(cosine(q, _)), 1e-6) },
          "searchSimilarContent differs from brute force over the stored bases")
      }
    }
    cycles += 1
  }

  /** An unmeasured batch reconstruction of every stored version, which
    * gives the reconstruction error over the whole store; one unmeasured
    * warm-up cycle; then measured read cycles for `seconds` (at least
    * one). */
  def readCycles(db: TemporalVectorDB, seconds: Double): Unit = {
    val all = h.counts.toSeq.sorted.flatMap { case (c, n) => (1 to n).map(c -> _) }
    rec.attempt("reconstruct_all") {
      val rows = db.batchReconstruct(all.toDF("content_id", "seq")).collect()
      checkReconstruction("reconstruct_all", all, rows, keep = true)
    }
    // the stored base snapshots: the corpus searchSimilarContent ranks
    val bases = db.versions.where(col("kind") === "base").select("content_id", "seq", "embedding")
      .collect().map(r => s"${r.getString(0)}#${r.getInt(1)}" -> r.getSeq[Float](2).toArray).toSeq
    // the pinned latest corpus the k=5 search ranks; no call of the read
    // cycles changes it, and it was checked against the history after
    // the appends
    val latest = db.cacheLatest().collect()
      .map(r => s"${r.getString(0)}#${r.getInt(1)}" -> r.getSeq[Float](2).toArray).toSeq
    measuring = false
    readCycle(db, bases, latest, scale = 8)
    measuring = true
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    do readCycle(db, bases, latest) while (System.nanoTime() < deadline)
    rec.note("cycles", cycles - 1)
  }

  /** Free the store's indexes and record the pinned-block probe. */
  def close(db: TemporalVectorDB, pinned0: (Long, Long)): Unit = {
    rec.layer("ckpt.round.persistent_rdds", Space.pinned(spark)._1, "count")
    db.close()
    pinned("after")
    val (n, b) = Space.pinned(spark)
    rec.layer("ckpt.net_growth_rdds", n - pinned0._1, "count")
    rec.layer("ckpt.net_growth_bytes", b - pinned0._2, "B")
  }

  def pinned(tag: String): Unit = {
    val (n, b) = Space.pinned(spark)
    rec.layer(s"ckpt.$tag.persistent_rdds", n, "count")
    rec.layer(s"ckpt.$tag.pinned_bytes", b, "B")
  }

  /** The end-to-end metrics over every measured call of this run. A rate
    * is items over the summed wall of its calls (appends with their
    * compactions). Batch reconstruction and as-of reads share one rate:
    * apart, ten runs spread up to 0.25 and 0.17, together 0.14. The k=5
    * search rate is recorded but is not an end-to-end metric: its wall
    * depends on how the appends left the maintained latest index
    * partitioned, and varies 2.5× across seeds. */
  def report(setupS: Double): Unit = {
    def w(op: String): Seq[Double] = walls.getOrElse(op, ArrayBuffer()).toSeq
    val points = w("point_read")
    rec.metric("setup_s", setupS, "s")
    rec.metric("ingest_versions_per_s", appended / (w("add_versions").sum + w("compact_store").sum),
      "versions/s")
    rec.metric("append_p50_s", Stats.median(w("add_versions")), "s")
    def rate(items: Int, ops: String*) =
      items * ops.map(w(_).size).sum / ops.map(w(_).sum).sum
    rec.metric("batch_read_versions_per_s",
      rate(Targets, "batch_reconstruct", "asof_reconstruct"), "versions/s")
    rec.note("reconstruct_versions_per_s", rate(Targets, "batch_reconstruct"))
    rec.note("asof_versions_per_s", rate(Targets, "asof_reconstruct"))
    rec.note("knn_queries_per_s", rate(Queries, "search_latest_batch"))
    rec.metric("point_read_p50_s", Stats.median(points), "s")
    rec.metric("bytes_per_user_byte", Stats.median(spaceRatios.toSeq), "ratio")
    rec.metric("recon_max_l2_err", errors.maxOption.getOrElse(Double.NaN), "L2")
    for ((name, xs) <- Seq("append" -> w("add_versions"), "point_read" -> points)) {
      val (v, p) = Stats.tail(xs)
      rec.note(s"${name}_tail_s", f"$v%.4f (p$p of ${xs.size} calls)")
    }
    rec.note("recon_mean_l2_err", errors.sum / errors.size)
    rec.note("recon_reference_gates", s"${gateChecked - gateMisses} of $gateChecked " +
      s"stored versions within L2 <= $MaxL2 and cosine >= $MinCos")
    rec.note("storage_efficiency", f"${1 / Stats.median(spaceRatios.toSeq)}%.3f (reference gate: > 5)")
    for ((op, xs) <- walls) rec.note(s"walls.$op", xs.map(x => f"$x%.3f").mkString(" "))
  }
}

/** The two lifecycle workloads issue the same calls and differ in the
  * store they run on. `lifecycle_ingest` compacts every few steps while it
  * appends, so appends pay for compaction and reads see a few large files;
  * `lifecycle_read` never compacts, so reads see the fragmented layout
  * every per-step append leaves. Each run: set-up (the bulk load and both
  * maintained indexes, made `Setups` times on fresh stores, the median
  * reported and the last store kept), the per-step appends, one
  * unmeasured warm-up read cycle, then measured read cycles for the run's
  * time. */
object LifecycleWorkload {
  def run(spark: SparkSession, t: Tracer, rec: Record, work: String,
          seed: Long, seconds: Double, compact: Boolean): Unit = {
    val lr = new LifecycleRun(spark, t, rec, work, seed)
    val pinned0 = Space.pinned(spark)
    lr.pinned("before")
    // set-up is repeated and its median reported; the last store is kept
    val setups = (1 to Lifecycle.Setups).map(_ => t.span("setup")(lr.load()))
    setups.init.foreach(_._1.close())
    val db = setups.last._1
    val setupS = Stats.median(setups.map(_._2))
    rec.note("walls.setup", setups.map(x => f"${x._2}%.3f").mkString(" "))
    lr.appendSteps(db, compact)
    lr.readCycles(db, seconds)
    lr.close(db, pinned0)
    lr.report(setupS)
  }
}
