package graft

import graft.api.{EpochStoreKit, TemporalVectorDB}
import graft.operators.{Reconstruction, VersionStore}
import graft.streaming.StreamingIngest
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.sql.Timestamp
import java.nio.file.Files

/** The append path driven by the maintained latest index: with the index
  * pinned and reflecting the committed head, an append numbers its seqs
  * after the index rows and refreshes the index in one fold. These specs
  * check that the stored rows never depend on which path numbered them,
  * that the maintained index equals a rebuild from the store bit for bit,
  * that any head the index does not reflect (another writer, an append
  * torn after its marker) falls back to the store, and the job budget of
  * each path. */
class AppendPathSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 16
  private val cfg = VersionStore.Config(baseInterval = 4)

  private def ts(k: Int) =
    new Timestamp(Timestamp.valueOf("2025-05-01 00:00:00").getTime +
      k * 60000L)

  private def freshRoot(): String = {
    val dir = Files.createTempDirectory("tvdb-append").toFile
    dir.delete()
    dir.getAbsolutePath
  }

  /** Random walks over six contents: each step moves three dims far and
    * four by less than the sparsity threshold. Batch 0 holds twelve
    * versions of five contents; each later batch touches some contents
    * (one or two versions each) and leaves the others alone; "f" first
    * appears in batch 2. */
  private lazy val walks: Map[String, Array[Array[Float]]] = {
    val r = new scala.util.Random(29)
    Seq("a", "b", "c", "d", "e", "f").map { c =>
      var cur = Array.fill(dim)(r.nextFloat() - 0.4f)
      c -> Array.fill(40) {
        cur = cur.clone()
        (0 until 3).foreach(_ => cur(r.nextInt(dim)) += r.nextFloat() - 0.5f)
        // moves below the sparsity threshold: the stored deltas drop
        // them, so a reconstruction is no longer exact in float
        (0 until 4).foreach(_ =>
          cur(r.nextInt(dim)) += (r.nextFloat() - 0.5f) * 0.016f)
        cur
      }
    }.toMap
  }

  private def batch(step: Int): DataFrame = {
    val touched =
      if (step == 0) Seq("a", "b", "c", "d", "e")
      else Seq("a", "b", "c", "d", "e", "f")
        .filter(c => (c.head + step) % 3 != 0 && (c != "f" || step >= 2))
    touched.flatMap { c =>
      val n = if (step == 0) 12 else 1 + (c.head + step) % 2
      (0 until n).map(v => (c, ts(step * 20 + v), walks(c)(step * 2 + v)))
    }.toDF("content_id", "ts", "embedding")
  }

  private def floatBits(a: scala.collection.Seq[Float]): Seq[Int] =
    if (a == null) null else a.map(java.lang.Float.floatToRawIntBits).toSeq

  /** Every stored row, every value as exact bits, sorted. */
  private def stored(db: TemporalVectorDB): Seq[Seq[Any]] =
    db.versions.collect().toSeq.map { r =>
      Seq(r.getAs[String]("content_id"), r.getAs[Int]("seq"),
        r.getAs[Timestamp]("ts"), r.getAs[String]("kind"),
        floatBits(r.getAs[scala.collection.Seq[Float]]("embedding")),
        Option(r.getAs[scala.collection.Seq[Int]]("delta_idx"))
          .map(_.toSeq).orNull,
        floatBits(r.getAs[scala.collection.Seq[Float]]("delta_val")),
        r.get(r.fieldIndex("from_seq")),
        Option(r.get(r.fieldIndex("change_magnitude")))
          .map(d => java.lang.Double.doubleToRawLongBits(
            d.asInstanceOf[Double])))
    }.sortBy(r => (r(0).asInstanceOf[String], r(1).asInstanceOf[Int]))

  private def latestBits(rows: Array[Row]): Seq[(String, Int, Seq[Int])] =
    rows.toSeq.map(r => (r.getString(0), r.getInt(1),
      floatBits(r.getAs[scala.collection.Seq[Float]](2))))
      .sortBy(r => (r._1, r._2))

  /** The pinned latest index equals a rebuild from the store, bit for bit. */
  private def checkIndex(db: TemporalVectorDB, after: String): Unit = {
    val want = latestBits(Reconstruction.latest(db.versions)
      .select("content_id", "seq", "embedding").collect())
    assert(latestBits(db.cacheLatest().collect()) == want,
      s"after $after: the maintained latest index differs from a rebuild")
  }

  private def checkNoDuplicates(db: TemporalVectorDB): Unit = {
    val keys = db.versions.select("content_id", "seq")
      .as[(String, Int)].collect().toSeq
    assert(keys.distinct.size == keys.size,
      s"duplicate (content_id, seq): ${keys.diff(keys.distinct)}")
  }

  private def pinned(root: String,
                     c: VersionStore.Config = cfg): TemporalVectorDB = {
    val db = new TemporalVectorDB(spark, root, c)
    db.addVersions(batch(0))
    db.cacheBases(); db.cacheLatest()
    db
  }

  test("with both indexes pinned, 3 appends, applyBaseOptimization and " +
    "compactStore store exactly a twin's rows without indexes, and the " +
    "latest index equals Reconstruction.latest of the store after " +
    "every step") {
    // long delta chains: batch 0's twelve versions of "b" and "e" stay
    // their latest through append 1, so the promotion lands inside the
    // chain their latest version folds
    val chains = VersionStore.Config(baseInterval = 50)
    val db = pinned(freshRoot(), chains)
    val twin = new TemporalVectorDB(spark, freshRoot(), chains)
    twin.addVersions(batch(0))
    def step(name: String)(op: TemporalVectorDB => Unit): Unit = {
      op(db); op(twin)
      assert(stored(db) == stored(twin), s"after $name: stored rows differ")
      checkNoDuplicates(db)
      checkIndex(db, name)
    }
    checkIndex(db, "the first append")
    step("append 1")(_.addVersions(batch(1)))
    step("applyBaseOptimization") { d =>
      assert(d.applyBaseOptimization(maxCost = 2) > 0); ()
    }
    step("append 2")(_.addVersions(batch(2)))
    step("compactStore") { d => d.compactStore(targetPartitions = 2); () }
    step("append 3")(_.addVersions(batch(3)))
    assert(db.versions.where($"content_id" === "f").count() > 0)
    db.close(); twin.close()
  }

  test("a second facade appending to the same root between two appends " +
    "of the first: no (content_id, seq) repeats and the first facade's " +
    "seqs continue after the other writer's") {
    val root = freshRoot()
    val db = pinned(root)
    db.addVersions(batch(1))
    new TemporalVectorDB(spark, root, cfg).addVersions(batch(2))
    db.addVersions(batch(3))
    checkNoDuplicates(db)
    val serial = new TemporalVectorDB(spark, freshRoot(), cfg)
    (0 to 3).foreach(s => serial.addVersions(batch(s)))
    assert(stored(db) == stored(serial))
    // the index may be stale after a foreign write, never the numbering:
    // one more append still continues every content's seqs
    db.addVersions(batch(4))
    serial.addVersions(batch(4))
    assert(stored(db) == stored(serial))
    db.close()
  }

  test("a fault after the versions commit marker, before the refresh " +
    "(at the auto-fold's first write), then the token's retry: the next " +
    "append's seqs continue after the committed batch") {
    val root = freshRoot()
    val db = pinned(root)
    val twin = new TemporalVectorDB(spark, freshRoot(), cfg)
    twin.addVersions(batch(0))
    // epochs 1..15 are deltas; the 16th delta makes the append fold
    for (s <- 1 to 15) {
      db.addVersions(batch(s), s"t$s")
      twin.addVersions(batch(s), s"t$s")
    }
    EpochStoreKit.installFaultHook(root, p =>
      if (p.contains("/_snapshots/"))
        throw new IllegalStateException(s"fault injected at $p"))
    try intercept[IllegalStateException](db.addVersions(batch(16), "t16"))
    finally EpochStoreKit.clearFaultHook(root)
    assert(new java.io.File(s"$root/_commits/16").exists,
      "the fault fired before the commit marker")
    assert(db.addVersions(batch(16), "t16") == 16L) // the replay: a no-op
    twin.addVersions(batch(16), "t16")
    db.addVersions(batch(17), "t17")
    twin.addVersions(batch(17), "t17")
    checkNoDuplicates(db)
    assert(stored(db) == stored(twin))
    db.close()
  }

  test("a token append replayed through StreamingIngest with the indexes " +
    "pinned stores exactly the rows of untokened appends") {
    implicit val sqlCtx = spark.sqlContext
    val root = freshRoot()
    val db = pinned(root)
    val twin = new TemporalVectorDB(spark, freshRoot(), cfg)
    twin.addVersions(batch(0))
    val stream = MemoryStream[(String, Timestamp, Array[Float])]
    val ckpt = Files.createTempDirectory("tvdb-append-ckpt").toString
    def run(): org.apache.spark.sql.streaming.StreamingQuery =
      StreamingIngest.start(
        stream.toDF().toDF("content_id", "ts", "embedding"), db, ckpt)
    def feed(step: Int): Unit = {
      stream.addData(batch(step).as[(String, Timestamp, Array[Float])]
        .collect().toSeq: _*)
      twin.addVersions(batch(step))
    }
    val q1 = run()
    try {
      feed(1)
      q1.processAllAvailable()
      // the second micro-batch dies at its commit marker: the restarted
      // query replays it under the same token
      EpochStoreKit.installFaultHook(root, p =>
        if (p.endsWith("/_commits/2"))
          throw new IllegalStateException("fault injected at the marker"))
      feed(2)
      intercept[Exception](q1.processAllAvailable())
    } finally {
      EpochStoreKit.clearFaultHook(root)
      q1.stop()
    }
    assert(db.versions.count() == twin.versions.count() -
      batch(2).count())
    val q2 = run()
    try {
      q2.processAllAvailable()
      feed(3)
      q2.processAllAvailable()
    } finally q2.stop()
    checkNoDuplicates(db)
    assert(stored(db) == stored(twin))
    checkIndex(db, "the replayed stream")
    db.close()
  }

  test("job budget: an append numbered from the pinned index runs fewer " +
    "jobs than one numbered from the store, also after compactStore and " +
    "applyBaseOptimization; getVersion and searchSimilarContent run at " +
    "most one job each") {
    val root = freshRoot()
    val db = pinned(root)
    db.addVersions(batch(1)) // warm the plans
    val (_, indexed) = jobsOf(db.addVersions(batch(2)))
    // another writer moves the head: the next append reads the store
    new TemporalVectorDB(spark, root, cfg).addVersions(batch(3))
    val (_, fromStore) = jobsOf(db.addVersions(batch(4)))
    assert(indexed < fromStore,
      s"index-numbered append ran $indexed jobs, store-numbered $fromStore")
    // rebuilt, the index tracks the head again, also across maintenance
    db.close(); db.cacheBases(); db.cacheLatest()
    assert(jobsOf(db.addVersions(batch(5)))._2 == indexed)
    db.compactStore(targetPartitions = 2)
    assert(jobsOf(db.addVersions(batch(6)))._2 == indexed)
    assert(db.applyBaseOptimization(maxCost = 2) > 0)
    assert(jobsOf(db.addVersions(batch(7)))._2 == indexed)
    assert(indexed <= 7 && fromStore <= 8,
      s"jobs per append: $indexed from the index, $fromStore from the store")
    info(s"jobs per append: $indexed from the index, $fromStore from the store")
    val q = walks("a")(3)
    for (c <- Seq("a", "f"); s <- Seq(1, 4)) {
      val (_, jobs) = jobsOf(db.getVersion(c, s).collect())
      assert(jobs <= 1, s"getVersion($c, $s) ran $jobs jobs")
    }
    val (_, searchJobs) = jobsOf(db.searchSimilarContent(q, 5).collect())
    assert(searchJobs <= 1, s"searchSimilarContent ran $searchJobs jobs")
    db.close()
  }

  test("job budget: applyBaseOptimization evaluates the store-wide cost " +
    "window once") {
    val db = pinned(freshRoot(), VersionStore.Config(baseInterval = 50))
    db.addVersions(batch(1))
    val (promoted, jobs) = jobsOf(db.applyBaseOptimization(maxCost = 2))
    assert(promoted > 0)
    // the targets are pinned once and handed to the rewrite; evaluating
    // the cost window again inside it adds its exchange's jobs (17)
    assert(jobs <= 15, s"one promotion ran $jobs jobs")
    info(s"jobs per promotion: $jobs")
    db.close()
  }
}
