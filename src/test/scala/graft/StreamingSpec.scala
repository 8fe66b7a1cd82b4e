package graft

import graft.api.{EpochStoreKit, FingerprintStore, TemporalVectorDB}
import graft.operators.VersionStore
import graft.streaming.{StoreSink, StreamingIngest}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp
import java.nio.file.Files

/** Structured Streaming ingest: micro-batches run the batch ingest job via
  * foreachBatch; seqs continue across batches. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(i: Int) = Timestamp.valueOf(f"2025-03-${i}%02d 00:00:00")

  test("foreachBatch streaming ingest assigns continuing seqs per content") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(String, Timestamp, Array[Float])]
    val dir = Files.createTempDirectory("tvdb-stream").toFile
    dir.delete()
    val ckpt = Files.createTempDirectory("tvdb-ckpt").toFile.getAbsolutePath
    val db = new TemporalVectorDB(spark, dir.getAbsolutePath,
      VersionStore.Config(baseInterval = 5))

    val q = StreamingIngest.start(
      stream.toDF().toDF("content_id", "ts", "embedding"), db, ckpt)
    try {
      stream.addData(("s1", ts(1), Array.fill(8)(0.5f)),
        ("s1", ts(2), Array.fill(8)(0.6f)))
      q.processAllAvailable()
      stream.addData(("s1", ts(3), Array.fill(8)(0.7f)),
        ("s2", ts(1), Array.fill(8)(0.1f)))
      q.processAllAvailable()
    } finally q.stop()

    val got = db.versions.select("content_id", "seq", "kind")
      .as[(String, Int, String)].collect().sorted.toSeq
    assert(got.map(r => (r._1, r._2)) ==
      Seq(("s1", 1), ("s1", 2), ("s1", 3), ("s2", 1)))
    assert(got.filter(_._2 == 1).forall(_._3 == "base"))
    assert(db.validateTimelineIntegrity().count() == 0)
  }

  test("streaming appends maintain the live search indexes: the PQ index " +
    "re-encodes streamed contents and serves them without a rebuild") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(String, Timestamp, Array[Float])]
    val dir = Files.createTempDirectory("tvdb-stream-pq").toFile
    dir.delete()
    val ckpt = Files.createTempDirectory("tvdb-ckpt-pq").toFile.getAbsolutePath
    val db = new TemporalVectorDB(spark, dir.getAbsolutePath,
      VersionStore.Config(baseInterval = 5))
    val dim = 16
    def vec(seed: Int) = Array.tabulate(dim)(j => math.sin(seed * 17 + j).toFloat)

    val q = StreamingIngest.start(
      stream.toDF().toDF("content_id", "ts", "embedding"), db, ckpt)
    try {
      stream.addData((0 until 8).map(i => (f"s$i%02d", ts(1), vec(i))): _*)
      q.processAllAvailable()
      // build the maintained index over the streamed-so-far corpus...
      assert(db.searchLatestVersionsPq(vec(3), k = 1, refine = 4)
        .select("id").as[String].collect().head == "s03#1")
      // ...then stream MORE contents: each append's refresh must re-encode
      // them with the EXISTING centroids/codebooks (no retrain, no
      // rebuild) and searches must find them immediately
      stream.addData(("zz", ts(2), vec(99)))
      q.processAllAvailable()
      assert(db.pqIndex().count() == 9)
      assert(db.searchLatestVersionsPq(vec(99), k = 1, refine = 4)
        .select("id").as[String].collect().head == "zz#1")
      // a streamed NEW VERSION of an existing content moves its latest
      // in the index (the index row re-encodes at the new seq)
      stream.addData(("s03", ts(3), vec(55)))
      q.processAllAvailable()
      assert(db.searchLatestVersionsPq(vec(55), k = 1, refine = 4)
        .select("id").as[String].collect().head == "s03#2")

      // staleness contract: the appends above re-encoded rows with the
      // train-time books, so the drift clock is positive; the gate
      // retrains at a threshold below it and resets the clock
      assert(db.pqStaleness() > 0.0)
      assert(!db.retrainPqIndexIfStale(threshold = 100.0)) // below: no-op
      assert(db.retrainPqIndexIfStale(threshold = 1e-9))
      assert(db.pqStaleness() == 0.0)
      // retrained mid-stream state EQUALS a cold rebuild over the same
      // store: a fresh facade trains on the identical corpus with the
      // identical deterministic trainers
      val cold = new TemporalVectorDB(spark, dir.getAbsolutePath,
        VersionStore.Config(baseInterval = 5))
      def codeSet(d: TemporalVectorDB) = d.pqIndex()
        .select(col("content_id"), col("seq"), col("_cell"),
          col("_codes").cast("string"))
        .as[(String, Int, Int, String)].collect().toSet
      assert(codeSet(db) == codeSet(cold))
      val warmHit = db.searchLatestVersionsPq(vec(55), k = 3, refine = 4)
        .select("rank", "id").as[(Int, String)].collect().toSeq
      val coldHit = cold.searchLatestVersionsPq(vec(55), k = 3, refine = 4)
        .select("rank", "id").as[(Int, String)].collect().toSeq
      assert(warmHit == coldHit)
    } finally q.stop()
  }

  test("replayed micro-batch is skipped via its commit marker (idempotent)") {
    val dir = Files.createTempDirectory("tvdb-replay").toFile
    dir.delete()
    val db = new TemporalVectorDB(spark, dir.getAbsolutePath)
    val batch = Seq(("r1", ts(1), Array.fill(8)(0.5f)),
      ("r1", ts(2), Array.fill(8)(0.6f)))
      .toDF("content_id", "ts", "embedding")
    assert(db.addVersions(batch, "0") == 0L)
    assert(db.versions.count() == 2)
    // at-least-once replay of the SAME batch id: a no-op that returns
    // the epoch the token committed
    assert(db.addVersions(batch, "0") == 0L)
    assert(db.versions.count() == 2)
    // a NEW batch id still appends
    db.addVersions(Seq(("r1", ts(3), Array.fill(8)(0.7f)))
      .toDF("content_id", "ts", "embedding"), "1")
    assert(db.versions.count() == 3)
    assert(db.validateTimelineIntegrity().count() == 0)
  }

  test("streaming tokens are scoped by the query: a second query on a " +
    "fresh checkpoint lands its batch 0 in a versions store, a store " +
    "sink and a live artifact a first query already wrote") {
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("tvdb-two-queries").toString
    val db = new TemporalVectorDB(spark, s"$base/versions")
    val h = 0x00FF00FF00L
    val fp = FingerprintStore.init(spark, s"$base/fp",
      Seq((1L, h)).toDF("_id", "simhash"))
    val cms = s"$base/cms"
    // each query runs on its own checkpoint, so both start at batch id 0
    def runQuery(k: Int): Unit = {
      val ck = s"$base/ck$k"
      val vs = MemoryStream[(String, Timestamp, Array[Float])]
      val ps = MemoryStream[(Long, Long)]
      val ws = MemoryStream[String]
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[
        (Option[String], String)]()
      val sink = ps.toDF().toDF("_id", "simhash").writeStream
        .option("checkpointLocation", s"$ck/fp")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          seen.add((Option(b.sparkSession.sparkContext
            .getLocalProperty("sql.streaming.queryId")),
            StoreSink.batchToken(b, id)))
          StoreSink.fingerprint(fp)(b, id)
        }.start()
      val queries = Seq(sink,
        StreamingIngest.start(
          vs.toDF().toDF("content_id", "ts", "embedding"), db, s"$ck/v"),
        StreamingIngest.streamingCountMin(ws.toDF().toDF("_v"), "_v", cms,
          s"$ck/cms"))
      try {
        vs.addData((s"q$k", ts(k), Array.fill(8)(0.1f * k)))
        ps.addData((100L * k, h ^ (1L << k)))
        ws.addData(s"w$k")
        queries.foreach(_.processAllAvailable())
      } finally queries.foreach(_.stop())
      // the query id is set on the micro-batch thread, and the token
      // carries it
      val qid = sink.id.toString
      assert(seen.toArray.toSeq == Seq((Some(qid), s"stream-$qid-0")))
    }
    runQuery(1)
    runQuery(2)
    assert(db.versions.select("content_id").as[String].collect().sorted
      .toSeq == Seq("q1", "q2"))
    assert(fp.prints.count() == 3)
    val cmsRow0 = StreamingIngest.readCountMin(spark, cms)
      .where(col("row") === 0).agg(sum("cnt")).as[Long].head()
    assert(cmsRow0 == 2L)
    // outside a query, the token keeps its direct-call form
    assert(StoreSink.batchToken(spark.emptyDataFrame, 7L) == "stream-7")
  }

  test("compactStore: streamed small files collapse, data is identical, " +
    "idempotence tokens survive the rewrite — replayed batches still skip") {
    val dir = Files.createTempDirectory("tvdb-compact").toFile
    dir.delete()
    val db = new TemporalVectorDB(spark, dir.getAbsolutePath)
    val batches = (0 until 5).map { b =>
      (0 until 4).map(i =>
        (s"k$i", ts(b + 1), Array.fill(8)(0.1f * (b + 1))))
        .toDF("content_id", "ts", "embedding")
    }
    batches.zipWithIndex.foreach { case (bt, id) =>
      db.addVersions(bt, id.toString) }
    val rowsBefore = db.versions
      .select("content_id", "seq", "kind")
      .as[(String, Int, String)].collect().sorted.toSeq
    assert(rowsBefore.length == 20)
    val (nBefore, nAfter) = db.compactStore(targetPartitions = 2)
    // five delta epochs accreted a file set per batch; two files remain
    assert(nBefore > nAfter && nAfter <= 2L, s"$nBefore -> $nAfter")
    val rowsAfter = db.versions
      .select("content_id", "seq", "kind")
      .as[(String, Int, String)].collect().sorted.toSeq
    assert(rowsAfter == rowsBefore)
    assert(db.validateTimelineIntegrity().count() == 0)
    // the tokens survived: an at-least-once replay of an already
    // committed batch is STILL a no-op (without them the rewrite would
    // have silently downgraded exactly-once to duplicates)
    db.addVersions(batches(3), "3")
    assert(db.versions.count() == 20)
    // and ingest continues normally on the compacted store
    db.addVersions(Seq(("k0", ts(9), Array.fill(8)(0.9f)))
      .toDF("content_id", "ts", "embedding"), "5")
    assert(db.versions.count() == 21)
    assert(db.validateTimelineIntegrity().count() == 0)
  }

  test("exactly-once: a crash at the commit marker leaves the batch " +
    "invisible, and the replay neither loses nor duplicates rows " +
    "(fault injection)") {
    val dir = Files.createTempDirectory("tvdb-crash").toFile
    dir.delete()
    val root = dir.getAbsolutePath
    val db = new TemporalVectorDB(spark, root)
    db.addVersions(Seq(("c1", ts(1), Array.fill(8)(0.5f)))
      .toDF("content_id", "ts", "embedding"), "0")
    assert(db.versions.count() == 1)
    val batch1 = Seq(("c1", ts(2), Array.fill(8)(0.6f)),
      ("c2", ts(1), Array.fill(8)(0.1f)))
      .toDF("content_id", "ts", "embedding")
    // worst-case crash: the epoch's data files are written, its commit
    // marker never lands
    EpochStoreKit.installFaultHook(root, p =>
      if (p.endsWith("/_commits/1"))
        throw new IllegalStateException("fault injected before the marker"))
    try intercept[IllegalStateException](db.addVersions(batch1, "1"))
    finally EpochStoreKit.clearFaultHook(root)
    assert(new java.io.File(s"$root/versions/epoch=1").exists)
    assert(db.versions.count() == 1) // uncommitted rows stay invisible
    // replay of the same batch id: recompute + overwrite + commit
    db.addVersions(batch1, "1")
    assert(db.versions.count() == 3) // no duplicates
    val got = db.versions.select("content_id", "seq")
      .as[(String, Int)].collect().sorted.toSeq
    assert(got == Seq(("c1", 1), ("c1", 2), ("c2", 1))) // no losses either
    assert(db.validateTimelineIntegrity().count() == 0)
    // a second replay after commit is a no-op
    db.addVersions(batch1, "1")
    assert(db.versions.count() == 3)
    // and the next batch continues normally
    db.addVersions(Seq(("c2", ts(2), Array.fill(8)(0.2f)))
      .toDF("content_id", "ts", "embedding"), "2")
    assert(db.versions.count() == 4)
    assert(db.validateTimelineIntegrity().count() == 0)
  }

  test("evicted content resumes its timeline: state shrinks on timeout, " +
    "the next version re-bases at the continued seq") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(String, Timestamp, Array[Float])]
    val q = StreamingIngest.statefulIngest(stream.toDS(),
        VersionStore.Config(baseInterval = 50),
        evictAfter = Some(java.time.Duration.ofSeconds(30)),
        lateness = "0 seconds")
      .writeStream.format("memory").queryName("sf_evict")
      .outputMode("append").start()
    def t(s: String) = Timestamp.valueOf(s)
    try {
      // ea: two versions, then idle; eb keeps the stream moving
      stream.addData(("ea", t("2025-03-01 00:00:00"), Array.fill(8)(0.5f)),
        ("ea", t("2025-03-01 00:00:01"),
          Array.tabulate(8)(i => if (i == 0) 0.52f else 0.5f)),
        ("eb", t("2025-03-01 00:00:00"), Array.fill(8)(0.1f)))
      q.processAllAvailable()
      // advance the watermark far past ea's timeout (00:00:01 + 30s); the
      // timeout fires while processing this batch or the next
      stream.addData(("eb", t("2025-03-01 01:00:00"),
        Array.tabulate(8)(i => if (i == 0) 0.12f else 0.1f)))
      q.processAllAvailable()
      stream.addData(("eb", t("2025-03-01 01:00:01"),
        Array.tabulate(8)(i => if (i == 0) 0.13f else 0.1f)))
      q.processAllAvailable()
      // ea re-appears after eviction
      stream.addData(("ea", t("2025-03-01 02:00:00"), Array.fill(8)(0.6f)))
      q.processAllAvailable()
    } finally q.stop()
    val ea = spark.table("sf_evict")
      .where(col("content_id") === "ea")
      .select("seq", "kind").as[(Int, String)].collect().sortBy(_._1).toSeq
    // seq CONTINUES at 3 (no restart, no collision) and re-bases because
    // the evicted state kept the counter but dropped the embedding
    assert(ea == Seq((1, "base"), (2, "delta"), (3, "base")), ea.toString)
    val eb = spark.table("sf_evict")
      .where(col("content_id") === "eb")
      .select("seq", "kind").as[(Int, String)].collect().sortBy(_._1).toSeq
    assert(eb.map(_._1) == Seq(1, 2, 3)) // untouched content unaffected
    assert(eb.count(_._2 == "delta") == 2)
  }

  test("statefulIngest (flatMapGroupsWithState) matches batch ingest " +
    "row-for-row across micro-batch boundaries") {
    implicit val sqlCtx = spark.sqlContext
    val dim = 16
    // per-content walks with small edits, one 80% edit (sparsity
    // promotion) and enough versions for an interval promotion
    def history(c: String, bigAt: Int): Seq[(String, Timestamp, Array[Float])] = {
      var cur = Array.tabulate(dim)(j => 0.05f * j)
      (1 to 8).map { k =>
        if (k > 1) {
          val n = if (k == bigAt) (dim * 0.8).toInt else 2
          cur = cur.zipWithIndex.map { case (x, i) =>
            if (i < n) x + 0.5f else x }
        }
        (c, ts(k), cur.clone())
      }
    }
    val rows = history("sa", 4) ++ history("sb", 6)
    val cfg = VersionStore.Config(baseInterval = 5)

    val stream = MemoryStream[(String, Timestamp, Array[Float])]
    val q = StreamingIngest.statefulIngest(stream.toDS(), cfg)
      .writeStream.format("memory").queryName("sf_ingest")
      .outputMode("append").start()
    try {
      stream.addData(rows.filter(_._2.getTime <= ts(3).getTime))
      q.processAllAvailable()
      stream.addData(rows.filter(_._2.getTime > ts(3).getTime))
      q.processAllAvailable()
    } finally q.stop()

    val cols = Seq("content_id", "seq", "kind", "delta_idx", "delta_val",
      "from_seq")
    val got = spark.table("sf_ingest").select(cols.map(col): _*)
    val want = VersionStore.ingest(
      rows.toDF("content_id", "ts", "embedding"), cfg = cfg)
      .select(cols.map(col): _*)
    assert(got.count() == 16)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // magnitudes match too (double arithmetic replicated exactly)
    val gm = spark.table("sf_ingest")
      .select(col("content_id"), col("seq"),
        graft.queries.r4(col("change_magnitude")).as("m"))
    val wm = VersionStore.ingest(
      rows.toDF("content_id", "ts", "embedding"), cfg = cfg)
      .select(col("content_id"), col("seq"),
        graft.queries.r4(col("change_magnitude")).as("m"))
    assert(gm.exceptAll(wm).isEmpty && wm.exceptAll(gm).isEmpty)
  }

  test("statefulIngest orders same-millisecond rows by full ts precision") {
    implicit val sqlCtx = spark.sqlContext
    val t1 = Timestamp.valueOf("2025-03-01 00:00:00"); t1.setNanos(100000)
    val t2 = Timestamp.valueOf("2025-03-01 00:00:00"); t2.setNanos(900000)
    // later-ts row listed FIRST: a millisecond-truncated sort would keep
    // this order (stable sort, equal keys) and assign seqs backwards
    val stream = MemoryStream[(String, Timestamp, Array[Float])]
    val q = StreamingIngest.statefulIngest(stream.toDS())
      .writeStream.format("memory").queryName("sf_micro")
      .outputMode("append").start()
    try {
      stream.addData(("m1", t2, Array.fill(8)(0.9f)),
        ("m1", t1, Array.fill(8)(0.1f)))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("sf_micro").select("seq", "ts")
      .as[(Int, Timestamp)].collect().sortBy(_._1).toSeq
    assert(got.map(_._2.getNanos) == Seq(100000, 900000),
      s"seq order must follow microsecond ts: $got")
  }

  test("statefulIngestFrom continues seqs and diffs against the stored " +
    "latest state (seeded initial state)") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("tvdb-seed").toFile
    dir.delete()
    val db = new TemporalVectorDB(spark, dir.getAbsolutePath,
      VersionStore.Config(baseInterval = 5))
    db.addVersions(Seq(
      ("sc", ts(1), Array.fill(8)(0.5f)),
      ("sc", ts(2), Array.fill(8)(0.52f)))
      .toDF("content_id", "ts", "embedding"))

    val stream = MemoryStream[(String, Timestamp, Array[Float])]
    val q = StreamingIngest.statefulIngestFrom(stream.toDS(), db)
      .writeStream.format("memory").queryName("sf_seeded")
      .outputMode("append").start()
    try {
      // edit ONE dim by +0.02 (above sparsity threshold, ratio 1/8 < 0.7)
      stream.addData(("sc", ts(3),
        Array.tabulate(8)(i => if (i == 0) 0.54f else 0.52f)))
      q.processAllAvailable()
    } finally q.stop()

    val r = spark.table("sf_seeded")
      .select("content_id", "seq", "kind", "from_seq", "delta_idx",
        "delta_val")
      .as[(String, Int, String, Option[Int], Option[Seq[Int]],
        Option[Seq[Float]])]
      .collect().toSeq
    assert(r.map(x => (x._1, x._2, x._3, x._4, x._5)) ==
      Seq(("sc", 3, "delta", Some(2), Some(Seq(0)))))
    // diffed against the STORED latest (0.52), not a fresh base: +0.02
    assert(r.head._6.get.size == 1 &&
      math.abs(r.head._6.get.head - 0.02f) < 1e-6)
  }

  test("streaming dedup drops duplicate keys within the watermark horizon") {
    implicit val sqlCtx = spark.sqlContext
    val docs = MemoryStream[(Timestamp, Long, String)]
    val out = StreamingIngest.streamingDedup(
      docs.toDF().toDF("ts", "doc_id", "text"), Seq("doc_id"))
    val q = out.writeStream.format("memory")
      .queryName("dedupstream").outputMode("append").start()
    try {
      docs.addData(
        (Timestamp.valueOf("2025-03-01 10:00:00"), 1L, "a"),
        (Timestamp.valueOf("2025-03-01 10:01:00"), 1L, "a dup"),
        (Timestamp.valueOf("2025-03-01 10:02:00"), 2L, "b"))
      q.processAllAvailable()
    } finally q.stop()
    val ids = spark.sql("SELECT doc_id FROM dedupstream")
      .as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 2L))
  }

  test("watermarked hourly event stats compute on a stream") {
    implicit val sqlCtx = spark.sqlContext
    val events = MemoryStream[(Timestamp, String, Double)]
    val out = StreamingIngest.eventStats(
      events.toDF().toDF("ts", "event_type", "value"))
    val q = out.writeStream.format("memory")
      .queryName("evstats").outputMode("append").start()
    try {
      events.addData(
        (Timestamp.valueOf("2025-03-01 10:05:00"), "click", 1.0),
        (Timestamp.valueOf("2025-03-01 10:45:00"), "click", 3.0),
        (Timestamp.valueOf("2025-03-01 11:05:00"), "view", 5.0))
      q.processAllAvailable()
      // advance watermark past the 10:00 window
      events.addData((Timestamp.valueOf("2025-03-01 13:00:00"), "click", 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.sql(
      "SELECT event_type, n_events, avg_value FROM evstats")
      .as[(String, Long, Double)].collect().toSet
    assert(rows.contains(("click", 2L, 2.0)))
  }

  test("streaming decontamination refuses a held-out set past maxKeys " +
    "instead of collecting it to the driver") {
    implicit val sqlCtx = spark.sqlContext
    // 8 docs x 6 tokens = 8 * 3 = 24 distinct 4-gram keys > maxKeys=10
    val big = (0 until 8).map(i =>
      (i.toLong, s"t${i}a t${i}b t${i}c t${i}d t${i}e t${i}f"))
      .toDF("doc_id", "text")
    val stream = MemoryStream[(Long, String)]
    val in = stream.toDF().toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      StreamingIngest.streamingDecontaminate(in, big, maxKeys = 10L)
    }
    assert(e.getMessage.contains("maxKeys"), e.getMessage)
    // the same set passes under the default bound
    StreamingIngest.streamingDecontaminate(in, big)
  }

  test("streaming decontamination: clean + quarantine streams partition " +
    "the input and agree row-for-row with the batch operator") {
    implicit val sqlCtx = spark.sqlContext
    val testSet = Seq((100L, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    val docsData = Seq(
      (1L, "x alpha beta gamma delta y"),    // shares 'alpha beta gamma delta'
      (2L, "totally clean document right here"),
      (3L, "beta gamma delta epsilon tail"), // shares a shifted 4-gram
      (4L, "alpha beta gamma x delta"),      // broken up: no shared 4-gram
      (5L, "tiny doc"))                      // < n tokens: trivially clean
    val stream = MemoryStream[(Long, String)]
    val in = stream.toDF().toDF("doc_id", "text")
    val qc = StreamingIngest.streamingDecontaminate(in, testSet)
      .writeStream.format("memory").queryName("decon_clean")
      .outputMode("append").start()
    val qq = StreamingIngest.streamingDecontaminate(in, testSet,
        invert = true)
      .writeStream.format("memory").queryName("decon_quar")
      .outputMode("append").start()
    try {
      stream.addData(docsData: _*)
      qc.processAllAvailable(); qq.processAllAvailable()
    } finally { qc.stop(); qq.stop() }
    val kept = spark.table("decon_clean")
      .select("doc_id").as[Long].collect().toSet
    val quarantined = spark.table("decon_quar")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 4L, 5L), s"kept $kept")
    assert(quarantined == Set(1L, 3L), s"quarantined $quarantined")
    // exact agreement with the batch operator's flags
    val flagged = graft.operators.TextAnalysis
      .decontaminate(docsData.toDF("doc_id", "text"), testSet)
      .select("doc_id").as[Long].collect().toSet
    assert(flagged == quarantined)
    // the JVM gram hasher is bit-identical to the column-side keys
    val sparkKeys = docsData.toDF("doc_id", "text")
      .select(org.apache.spark.sql.functions.explode(
        graft.operators.TextAnalysis.ngrams(col("text"), 4)).as("g"))
      .select(conv(substring(md5(col("g").cast("binary")), 1, 14), 16, 10)
        .cast("long")).as[Long].collect().sorted.toSeq
    val jvmKeys = docsData
      .flatMap(d => StreamingIngest.gramKeysJvm(d._2, 4)).sorted
    assert(sparkKeys == jvmKeys)
  }

  test("streaming near-dup guard: quarantine equals the batch banding " +
    "candidate set; short/null docs are clean; JVM bands bit-identical") {
    implicit val sqlCtx = spark.sqlContext
    val existing = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again"),
      (11L, "totally unrelated existing text about storage engines and io"))
      .toDF("doc_id", "text")
    val incoming = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "quick brown fox jumps over the lazy dog again and again"),
      (3L, "fresh content with nothing in common whatsoever here at all"),
      (4L, "hi there"),                    // < 3 tokens: no shingles
      (5L, null.asInstanceOf[String]))     // null text: clean
    val stream = MemoryStream[(Long, String)]
    val in = stream.toDF().toDF("doc_id", "text")
    val qc = StreamingIngest.streamingNearDupGuard(in, existing)
      .writeStream.format("memory").queryName("ndg_clean")
      .outputMode("append").start()
    val qq = StreamingIngest.streamingNearDupGuard(in, existing,
        invert = true)
      .writeStream.format("memory").queryName("ndg_quar")
      .outputMode("append").start()
    try {
      stream.addData(incoming: _*)
      qc.processAllAvailable(); qq.processAllAvailable()
    } finally { qc.stop(); qq.stop() }
    val clean = spark.table("ndg_clean")
      .select("doc_id").as[Long].collect().toSet
    val quarantined = spark.table("ndg_quar")
      .select("doc_id").as[Long].collect().toSet
    assert(clean.union(quarantined) == incoming.map(_._1).toSet)
    assert(clean.intersect(quarantined).isEmpty)
    assert(Set(4L, 5L).subsetOf(clean)) // shingle-less docs always clean
    // agreement with the BATCH candidate set: tau = 0 keeps every banded
    // candidate (jaccard >= 0 always), i.e. exactly the collision set
    val batchCands = graft.operators.Dedup.crossNearDupPairs(
        incoming.filter(_._2 != null).toDF("doc_id", "text"), existing,
        "doc_id", "text", tau = 0.0)
      .select("new_id").as[Long].collect().toSet
    assert(quarantined == batchCands)
    assert(quarantined.contains(1L)) // the exact copy must be caught
    // JVM packed band keys are bit-identical to the column-side packing
    val docsDf = incoming.filter(_._2 != null).toDF("doc_id", "text")
    val colBands = graft.operators.Dedup.bandedProjection(
        graft.operators.Dedup.minhashSignatures(docsDf, "doc_id", "text",
          3, 16), 16, 4)
      .select(StreamingIngest.packedBandKey)
      .as[Long].collect().sorted.toSeq
    val jvmBands = incoming.filter(_._2 != null)
      .flatMap(d => StreamingIngest.bandKeysJvm(d._2, 3, 16, 4))
      .sorted
    assert(colBands == jvmBands)
  }

  test("streaming curate guard: the full ingest funnel agrees with the " +
    "batch gate decisions; intra-stream dups pass by contract") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{Pipeline, QualityModels, TextAnalysis}
    // reuse the curate spec's engineered word pool via the JVM margin twin
    def md5L(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(7).map(b => f"$b%02x").mkString, 16)
    }
    def wq(t: String): Long = {
      val bkt = java.lang.Math.floorMod(md5L(t), 256L)
      java.lang.Math.floorMod(md5L("w" + bkt), 2000001L) - 1000000L
    }
    val pool = Seq("data", "table", "row", "scan", "fast", "slow", "key",
      "agg", "merge", "part", "hash", "value", "batch", "join", "sort")
    val posW = pool.filter(w => wq(w) > 0L)
    val negW = pool.filter(w => wq(w) < 0L)
    val posText = (posW.take(2) ++ posW.take(2)).mkString(" ")
    val negText = List.fill(4)(negW.head).mkString(" ")
    val freshText = posW.mkString(" ")
    val evalText = "leak gram probe here"
    val contText = posText + " " + evalText
    val contPasses = contText.trim.split("\\s+", -1).map(wq).sum >= 0L
    val existing = Seq((100L, posText)).toDF("doc_id", "text")
    val eval = Seq((200L, evalText)).toDF("doc_id", "text")
    val incoming = Seq(
      (1L, posText), // duplicate of the INDEXED corpus: dropped
      (2L, posText), // same: dropped (novelty is vs the index)
      (3L, negText), // quality gate
      (4L, "der und die das"), // language gate
      (5L, contText), // decontamination (or quality if margin fails)
      (6L, freshText), // kept
      (7L, freshText)) // INTRA-stream dup of 6: passes BY CONTRACT
    val stream = MemoryStream[(Long, String)]
    val q = StreamingIngest.streamingCurateGuard(
        stream.toDF().toDF("doc_id", "text"), existing, eval)
      .writeStream.format("memory").queryName("scg_clean")
      .outputMode("append").start()
    try {
      stream.addData(incoming: _*)
      q.processAllAvailable()
    } finally q.stop()
    val clean = spark.table("scg_clean")
      .select("doc_id").as[Long].collect().toSet
    assert(clean == Set(6L, 7L), s"clean=$clean contPasses=$contPasses")
    // batch agreement at TEXT level: curate over (existing ∪ stream)
    // keeps one representative per surviving text (min-id: posText via
    // id 1, freshText via id 6); the guard instead defers posText to the
    // already-ingested corpus copy — same kept TEXTS either way, which
    // is the dedup contract (canonical choice differs by design: the
    // batch picks min-id globally, the stream picks first-ingested)
    val batchKeptIds = Pipeline.curate(
        existing.unionByName(incoming.toDF("doc_id", "text")), eval)
      .select("doc_id").as[Long].collect().toSet
    assert(batchKeptIds == Set(1L, 6L))
    val allTexts = (existing.collect() ++
      incoming.toDF("doc_id", "text").collect())
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val batchTexts = batchKeptIds.map(allTexts)
    val guardTexts = clean.map(allTexts) ++
      existing.select("text").as[String].collect() // corpus already kept
    assert(batchTexts.subsetOf(guardTexts))
    // and the guard admits nothing batch would reject outright (every
    // clean text is a batch-kept text)
    assert(clean.map(allTexts).subsetOf(batchTexts))
  }

  test("maintained count-min sketch: streamed deltas sum to the batch " +
    "sketch of the union; replayed and crashed batches are absorbed") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Sketches
    val dir = java.nio.file.Files
      .createTempDirectory("graft-cms").toString
    val sketchPath = s"$dir/sketch"
    // before any commit the live sketch is EMPTY, not an exception (a
    // monitor may race the first rename)
    assert(StreamingIngest.readCountMin(spark, sketchPath).count() == 0)
    val a = (1 to 30).map(i => s"tok${i % 7}")
    val b = (1 to 50).map(i => s"tok${i % 11}")
    val stream = MemoryStream[String]
    val q = StreamingIngest.streamingCountMin(
      stream.toDF().toDF("w"), "w", sketchPath, s"$dir/ckpt",
      depth = 3, width = 32)
    try {
      stream.addData(a: _*); q.processAllAvailable()
      stream.addData(b: _*); q.processAllAvailable()
    } finally q.stop()
    def cells(df: org.apache.spark.sql.DataFrame) =
      df.as[(Int, Long, Long)].collect().sortBy(t => (t._1, t._2)).toSeq
    val batchEquiv = Sketches.countMin((a ++ b).toDF("w"), col("w"), 3, 32)
    val live = StreamingIngest.readCountMin(spark, sketchPath)
    // the merge identity: streamed deltas sum EXACTLY to the batch build
    assert(cells(live) == cells(batchEquiv))
    // a replayed micro-batch (same id, even different data) is a no-op;
    // a streamed batch's token is its query id + batch id
    val cms = new graft.streaming.CountMinArtifact(spark, sketchPath, "w",
      3, 32)
    cms.append(Seq.fill(99)("tokX").toDF("w"), s"stream-${q.id}-0")
    assert(cells(StreamingIngest.readCountMin(spark, sketchPath)) ==
      cells(batchEquiv))
    // a crashed append leaves only uncommitted litter; the next commit
    // overwrites it
    val litter = new java.io.File(s"$sketchPath/delta/epoch=2/part-junk")
    litter.getParentFile.mkdirs()
    java.nio.file.Files.writeString(litter.toPath, "partial")
    cms.append(Seq("extra").toDF("w"), "7")
    val withExtra = StreamingIngest.readCountMin(spark, sketchPath)
    assert(cells(withExtra) == cells(
      Sketches.countMin((a ++ b :+ "extra").toDF("w"), col("w"), 3, 32)))
    // the maintained sketch probes through the standard estimator
    val est = Sketches.countMinEstimate(withExtra,
        Seq("tok1").toDF("w"), "w", 3, 32)
      .as[(String, Long)].collect().head
    val trueCnt = (a ++ b).count(_ == "tok1").toLong
    assert(est._2 >= trueCnt)
  }

  test("maintained hll sketch: streamed deltas max to the batch sketch " +
    "of the union; replayed and crashed batches are absorbed") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Sketches
    val dir = java.nio.file.Files
      .createTempDirectory("graft-hll").toString
    val sketchPath = s"$dir/sketch"
    // before any commit the live sketch is EMPTY, not an exception
    assert(StreamingIngest.readHll(spark, sketchPath, "g").count() == 0)
    val a = (1 to 300).map(i => ("en", s"tok${i % 90}"))
    val b = (1 to 400).map(i => ("de", s"tok${i % 130}"))
    val stream = MemoryStream[(String, String)]
    val q = StreamingIngest.streamingHll(
      stream.toDF().toDF("g", "w"), "g", "w", sketchPath, s"$dir/ckpt",
      p = 6)
    try {
      stream.addData(a: _*); q.processAllAvailable()
      stream.addData(b: _*); q.processAllAvailable()
    } finally q.stop()
    def cells(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, Long, Int)].collect().sortBy(t => (t._1, t._2)).toSeq
    val batchEquiv = Sketches.hllRegisters(
      (a ++ b).toDF("g", "w"), "g", col("w"), p = 6)
    val live = StreamingIngest.readHll(spark, sketchPath, "g")
    // the merge identity: per-cell MAX over deltas = the batch build
    assert(cells(live) == cells(batchEquiv))
    // a replayed micro-batch (same id, even different data) is a no-op
    val hll = new graft.streaming.HllArtifact(spark, sketchPath, "g", "w",
      6)
    hll.append(Seq(("fr", "tokX")).toDF("g", "w"), s"stream-${q.id}-0")
    assert(cells(StreamingIngest.readHll(spark, sketchPath, "g")) ==
      cells(batchEquiv))
    // a crashed append leaves only uncommitted litter; the next commit
    // overwrites it
    val litter = new java.io.File(s"$sketchPath/delta/epoch=2/part-junk")
    litter.getParentFile.mkdirs()
    java.nio.file.Files.writeString(litter.toPath, "partial")
    hll.append(Seq(("en", "fresh")).toDF("g", "w"), "7")
    val withExtra = StreamingIngest.readHll(spark, sketchPath, "g")
    assert(cells(withExtra) == cells(Sketches.hllRegisters(
      (a ++ b :+ (("en", "fresh"))).toDF("g", "w"), "g", col("w"), 6)))
    // the maintained sketch reads through the standard estimator and
    // lands near the true distinct counts (90 en + fresh, 130 de)
    val est = Sketches.hllEstimate(withExtra, "g", p = 6)
      .select("g", "estimate").as[(String, Double)].collect().toMap
    assert(math.abs(est("en") - 91.0) / 91.0 < 0.35, est.toString)
    assert(math.abs(est("de") - 130.0) / 130.0 < 0.35, est.toString)
  }

  test("maintained publish manifest: streamed deltas merge EXACTLY to " +
    "the batch manifest of the union (modular checksum additivity); " +
    "replayed and crashed batches are absorbed") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Pipeline
    val dir = java.nio.file.Files
      .createTempDirectory("graft-manifest").toString
    val mPath = s"$dir/manifest"
    // before any commit the live manifest is EMPTY with the right schema
    val empty = StreamingIngest.readManifest(spark, mPath, "grp")
    assert(empty.count() == 0 && empty.columns.toSeq == Seq("grp",
      "n_docs", "n_tokens", "min_id", "max_id", "id_checksum",
      "content_checksum"))
    val a = Seq((1L, "g1", "alpha beta"), (2L, "g2", "gamma delta"),
      (3L, "g1", "eps"))
    val b = Seq((4L, "g2", "zeta"), (5L, "g1", "eta theta iota"))
    val stream = MemoryStream[(Long, String, String)]
    val q = StreamingIngest.streamingManifest(
      stream.toDF().toDF("doc_id", "grp", "text"), "grp", mPath,
      s"$dir/ckpt")
    try {
      stream.addData(a: _*); q.processAllAvailable()
      stream.addData(b: _*); q.processAllAvailable()
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, Long, Long, Long, Long, Long, Long)]
        .collect().sortBy(_._1).toSeq
    val batchEquiv = Pipeline.datasetManifest(
      (a ++ b).toDF("doc_id", "grp", "text"), "grp")
    assert(rows(StreamingIngest.readManifest(spark, mPath, "grp")) ==
      rows(batchEquiv))
    // a replayed micro-batch (same id, even different data) is a no-op
    val man = new graft.streaming.ManifestArtifact(spark, mPath, "grp")
    man.append(Seq((9L, "g9", "junk")).toDF("doc_id", "grp", "text"),
      s"stream-${q.id}-0")
    assert(rows(StreamingIngest.readManifest(spark, mPath, "grp")) ==
      rows(batchEquiv))
    // a crashed append leaves only uncommitted litter; the next commit
    // overwrites it
    val litter = new java.io.File(s"$mPath/delta/epoch=2/part-junk")
    litter.getParentFile.mkdirs()
    java.nio.file.Files.writeString(litter.toPath, "partial")
    man.append(
      Seq((6L, "g2", "fresh doc")).toDF("doc_id", "grp", "text"), "7")
    assert(rows(StreamingIngest.readManifest(spark, mPath, "grp")) ==
      rows(Pipeline.datasetManifest(
        (a ++ b :+ ((6L, "g2", "fresh doc")))
          .toDF("doc_id", "grp", "text"), "grp")))
    // the audit works: the live manifest DIFFERS from a drifted corpus's
    // (one character edited) in content_checksum only
    val drifted = Pipeline.datasetManifest(
      ((a.tail :+ ((1L, "g1", "alpha betX"))) ++ b :+
        ((6L, "g2", "fresh doc"))).toDF("doc_id", "grp", "text"), "grp")
    val live = rows(StreamingIngest.readManifest(spark, mPath, "grp"))
    val drift = rows(drifted)
    assert(live.map(_._2) == drift.map(_._2)) // counts agree
    assert(live.map(_._6) == drift.map(_._6)) // ids agree
    assert(live.map(_._7) != drift.map(_._7)) // content does not
  }

  test("streaming packing: committed count deltas derive the EXACT batch " +
    "packSequences manifest of the ingested prefix; replayed and crashed " +
    "batches absorbed; late smaller ids handled (read-side recompute)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Packing
    val dir = java.nio.file.Files
      .createTempDirectory("graft-pack").toString
    val pPath = s"$dir/counts"
    // before any commit: empty manifest, correct q102 schema
    val empty = StreamingIngest.readPackingManifest(spark, pPath, 8L)
    assert(empty.count() == 0 && empty.columns.toSeq ==
      Seq("doc_id", "seq_id", "tok_from", "tok_to", "pos_in_seq"))
    val a = Seq((10L, "a b c d e"), (12L, "f g h i j k l"),
      (14L, "m n o"))
    // batch 2 arrives with SMALLER ids than batch 1 — the case that
    // breaks any per-batch-mergeable packing state and forces the
    // read-side recompute design
    val b = Seq((1L, "p q r s t u"), (11L, "v w"))
    val stream = MemoryStream[(Long, String)]
    val q = StreamingIngest.streamingPackingCounts(
      stream.toDF().toDF("doc_id", "text"), pPath, s"$dir/ckpt")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, Long, Long)].collect()
        .sortBy(r => (r._1, r._2)).toSeq
    try {
      stream.addData(a: _*); q.processAllAvailable()
      // mid-stream prefix parity (first batch only)
      assert(rows(StreamingIngest.readPackingManifest(spark, pPath, 8L)) ==
        rows(Packing.packSequences(a.toDF("doc_id", "text"), 8L)))
      stream.addData(b: _*); q.processAllAvailable()
    } finally q.stop()
    val batchEquiv = Packing.packSequences(
      (a ++ b).toDF("doc_id", "text"), 8L)
    assert(rows(StreamingIngest.readPackingManifest(spark, pPath, 8L)) ==
      rows(batchEquiv))
    // replayed micro-batch (same id, different data) is a no-op
    val pack = new graft.streaming.PackingCountsArtifact(spark, pPath)
    pack.append(Seq((99L, "junk junk junk")).toDF("doc_id", "text"),
      s"stream-${q.id}-0")
    assert(rows(StreamingIngest.readPackingManifest(spark, pPath, 8L)) ==
      rows(batchEquiv))
    // uncommitted crash litter is overwritten by the next commit
    val litter = new java.io.File(s"$pPath/delta/epoch=2/part-junk")
    litter.getParentFile.mkdirs()
    java.nio.file.Files.writeString(litter.toPath, "partial")
    pack.append(Seq((20L, "x y z")).toDF("doc_id", "text"), "7")
    assert(rows(StreamingIngest.readPackingManifest(spark, pPath, 8L)) ==
      rows(Packing.packSequences(
        (a ++ b :+ ((20L, "x y z"))).toDF("doc_id", "text"), 8L)))
  }

  test("maintained substring index: streamed per-batch partials merge to " +
    "the EXACT batch buildIndex (order-insensitive — late smaller ids " +
    "fine); dedup served from the live index equals from-scratch; " +
    "replay/crash absorbed") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{SubstringIndex, SuffixArray}
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ssidx").toString
    val iPath = s"$dir/ssindex"
    val W = 3
    // before any commit: empty index, correct (k1, k2, keep, occ) schema
    val empty = StreamingIngest.readSubstringIndex(spark, iPath, W)
    assert(empty.count() == 0 &&
      empty.columns.toSeq == Seq("k1", "k2", "keep", "occ"))
    val a = Seq((5L, "a b c d e f"), (9L, "x y z"), (6L, "a b c q r"))
    // batch 2 arrives with SMALLER ids AND re-duplicates batch 1's
    // windows — unlike the append path, the index merge is a pure
    // min/sum aggregation, so out-of-order ids must still yield the
    // exact batch build (keep = global least (doc_id, pos))
    val b = Seq((1L, "p a b c d w"), (7L, "x y z"))
    val stream = MemoryStream[(Long, String)]
    val q = StreamingIngest.streamingSubstringIndex(
      stream.toDF().toDF("doc_id", "text"), iPath, s"$dir/ckpt", W)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("k1"), col("k2"), col("keep.doc_id"),
          col("keep.pos"), col("occ"))
        .as[(Long, Long, Long, Long, Long)].collect().sorted.toSeq
    try {
      stream.addData(a: _*); q.processAllAvailable()
      // mid-stream prefix parity (first batch only)
      assert(rows(StreamingIngest.readSubstringIndex(spark, iPath, W)) ==
        rows(SubstringIndex.buildIndex(a.toDF("doc_id", "text"), W)))
      stream.addData(b: _*); q.processAllAvailable()
    } finally q.stop()
    val union = (a ++ b).toDF("doc_id", "text")
    val live = StreamingIngest.readSubstringIndex(spark, iPath, W)
    assert(rows(live) == rows(SubstringIndex.buildIndex(union, W)))
    // dedup of the ingested corpus served straight FROM the live index
    // (the read path a deployment runs) == from-scratch substringDeduped
    def ded(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "text", "n_tokens_before", "n_tokens_after")
        .as[(Long, String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(ded(SubstringIndex.dedupeWithIndex(union, live, W)) ==
      ded(SuffixArray.substringDeduped(union, W)))
    // replayed micro-batch (same id, different data) is a no-op
    val ssi = new graft.streaming.SubstringIndexArtifact(spark, iPath, W)
    ssi.append(Seq((99L, "j j j j")).toDF("doc_id", "text"),
      s"stream-${q.id}-0")
    assert(rows(StreamingIngest.readSubstringIndex(spark, iPath, W)) ==
      rows(SubstringIndex.buildIndex(union, W)))
    // uncommitted crash litter is overwritten by the next commit
    val litter = new java.io.File(s"$iPath/delta/epoch=2/part-junk")
    litter.getParentFile.mkdirs()
    java.nio.file.Files.writeString(litter.toPath, "partial")
    ssi.append(Seq((20L, "a b c")).toDF("doc_id", "text"), "7")
    val unionExtra = (a ++ b :+ ((20L, "a b c"))).toDF("doc_id", "text")
    assert(rows(StreamingIngest.readSubstringIndex(spark, iPath, W)) ==
      rows(SubstringIndex.buildIndex(unionExtra, W)))
  }

  test("fuzzy-key guard: quarantines stream keys within maxEdit of the " +
    "corpus (complete cover — no fuzzy dup slips through), passes " +
    "clean/empty/null keys; JVM and column md5-56 variant keys are " +
    "bit-identical; invert emits the complement") {
    import graft.operators.Dedup
    val corpus = Seq((1L, "apple pie"), (2L, "banana"))
      .toDF("doc_id", "key")
    val rows = Seq((10L, "apple pi"), (11L, "orange"), (12L, "bananna"),
      (13L, ""), (14L, "apple pie"))
    val stream = rows.toDF("doc_id", "key")
      .unionByName(Seq((15L, Option.empty[String])).toDF("doc_id", "key"))
    val clean = StreamingIngest.streamingFuzzyKeyGuard(
      stream, corpus, "key").select("doc_id").as[Long].collect().toSet
    assert(clean == Set(11L, 13L, 15L)) // 10/12 within d1, 14 exact
    val quarantined = StreamingIngest.streamingFuzzyKeyGuard(
      stream, corpus, "key", invert = true)
      .select("doc_id").as[Long].collect().toSet
    assert(quarantined == Set(10L, 12L, 14L))
    // d=2 widens the reach: "appl pi" is TWO deletions from
    // "apple pie" — the d1 guard passes it (variant lengths 7/6 vs 9/8
    // can never meet), the d2 guard quarantines it
    val farther = Seq((20L, "appl pi")).toDF("doc_id", "key")
    assert(StreamingIngest.streamingFuzzyKeyGuard(
      farther, corpus, "key", maxEdit = 1).count() == 1)
    assert(StreamingIngest.streamingFuzzyKeyGuard(
      farther, corpus, "key", maxEdit = 2).count() == 0)
    // bit-identity: the JVM md5-56 variant keys equal the column side's
    val colKeys = corpus.select(explode(
        org.apache.spark.sql.graftbridge.Bridge.column(
          graft.functions.DeleteVariantsExpr(
            org.apache.spark.sql.graftbridge.Bridge.expression(col("key")),
            2))).as("_v"))
      .select(Dedup.md5Long(col("_v")).as("_k"))
      .as[Long].collect().toSet
    val jvmKeys = Seq("apple pie", "banana")
      .flatMap(k => StreamingIngest.fuzzyKeysJvm(k, 2)).toSet
    assert(colKeys == jvmKeys)
  }

  test("delta compaction: one marked generation replaces the committed " +
    "deltas; reads identical before/after; replayed batches <= M no-op " +
    "even with their directories pruned; post-compaction deltas merge; " +
    "second compaction absorbs them") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{Retrieval, SubstringIndex}
    import graft.streaming.{PackingCountsArtifact, PostingsArtifact,
      SubstringIndexArtifact}
    val dir = java.nio.file.Files
      .createTempDirectory("graft-compact").toString
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def exists(p: String) = fs.exists(new org.apache.hadoop.fs.Path(p))

    // ---- postings (pure row-state artifact) ----
    val pPath = s"$dir/postings"
    val post = new PostingsArtifact(spark, pPath)
    val a = Seq((1L, "a b a c")); val b = Seq((2L, "b d"))
    val c = Seq((3L, "a a d d e"))
    post.append(a.toDF("doc_id", "text"), "0")
    post.append(b.toDF("doc_id", "text"), "1")
    post.append(c.toDF("doc_id", "text"), "2")
    def prows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "dl", "term_key", "tf")
        .as[(Long, Long, Long, Long)].collect().sorted.toSeq
    val want = prows(Retrieval.postings((a ++ b ++ c).toDF("doc_id", "text")))
    // epochs 0..2 fold into ONE snapshot epoch 3; the absorbed delta
    // epochs are pruned
    assert(post.compact() == 3L)
    assert(!exists(s"$pPath/delta/epoch=0"))
    assert(exists(s"$pPath/delta/epoch=3"))
    // the absorbed commit markers go too: listing `_commits` costs the
    // epochs since the last compaction
    assert(!exists(s"$pPath/_commits/2") && exists(s"$pPath/_commits/3"))
    assert(post.latestSnapshot == 3L)
    assert(prows(StreamingIngest.readPostings(spark, pPath)) == want)
    // the critical replay property: batch 1's delta no longer exists,
    // but its token does — re-committing (with junk data) still no-ops
    assert(post.append(
      Seq((99L, "junk")).toDF("doc_id", "text"), "1") == 1L)
    assert(prows(StreamingIngest.readPostings(spark, pPath)) == want)
    // a NEW delta above the snapshot merges on read
    val d = Seq((4L, "e f"))
    assert(post.append(d.toDF("doc_id", "text"), "3") == 4L)
    val want2 = prows(Retrieval.postings(
      (a ++ b ++ c ++ d).toDF("doc_id", "text")))
    assert(prows(StreamingIngest.readPostings(spark, pPath)) == want2)
    // second compaction absorbs it and prunes the old snapshot
    assert(post.compact() == 5L)
    assert(!exists(s"$pPath/delta/epoch=3"))
    assert(prows(StreamingIngest.readPostings(spark, pPath)) == want2)
    // compaction with nothing new is a no-op
    assert(post.compact() == 5L)

    // ---- substring index (merged snapshot) ----
    val iPath = s"$dir/ssindex"; val W = 3
    val ssi = new SubstringIndexArtifact(spark, iPath, W)
    val x = Seq((5L, "a b c d")); val y = Seq((2L, "p a b c"))
    ssi.append(x.toDF("doc_id", "text"), "0")
    ssi.append(y.toDF("doc_id", "text"), "1")
    def irows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("k1"), col("k2"), col("keep.doc_id"),
          col("keep.pos"), col("occ"))
        .as[(Long, Long, Long, Long, Long)].collect().sorted.toSeq
    val iwant = irows(SubstringIndex.buildIndex(
      (x ++ y).toDF("doc_id", "text"), W))
    assert(ssi.compact() == 2L)
    assert(irows(StreamingIngest.readSubstringIndex(spark, iPath, W)) ==
      iwant)
    // the snapshot is PRE-MERGED: one row per key on disk
    val gen = spark.read.parquet(s"$iPath/delta/epoch=2")
    assert(gen.count() == gen.select("k1", "k2").distinct().count())
    // a post-compaction delta still merges (occ sums across
    // snapshot + delta)
    ssi.append(Seq((9L, "a b c")).toDF("doc_id", "text"), "2")
    assert(irows(StreamingIngest.readSubstringIndex(spark, iPath, W)) ==
      irows(SubstringIndex.buildIndex(
        (x ++ y :+ ((9L, "a b c"))).toDF("doc_id", "text"), W)))

    // ---- packing counts ----
    val cPath = s"$dir/counts"
    val pack = new PackingCountsArtifact(spark, cPath)
    pack.append(Seq((10L, "a b c d e")).toDF("doc_id", "text"), "0")
    pack.append(Seq((11L, "f g h")).toDF("doc_id", "text"), "1")
    val mWant = StreamingIngest.readPackingManifest(spark, cPath, 4L)
      .as[(Long, Long, Long, Long, Long)].collect().sorted.toSeq
    assert(pack.compact() == 2L)
    assert(StreamingIngest.readPackingManifest(spark, cPath, 4L)
      .as[(Long, Long, Long, Long, Long)].collect().sorted.toSeq == mWant)
  }

  test("live artifacts after compaction: a compacted batch id replayed " +
    "with junk no-ops and a new batch merges — each of the seven reads " +
    "equals its batch build over the union, exactly") {
    import graft.operators.{Packing, Pipeline, Retrieval, Sketches,
      SubstringIndex, TextAnalysis}
    import graft.streaming._
    import org.apache.spark.sql.DataFrame
    val dir = Files.createTempDirectory("graft-live-compact").toString
    val batches = Seq(
      Seq((1L, "g1", "a b c d a b"), (2L, "g2", "b c d e")),
      Seq((3L, "g1", "c d e f g"), (4L, "g2", "a b c d")),
      Seq((5L, "g2", "x y z a b c")))
    val junk = Seq((99L, "g9", "junk junk junk junk"))
    def docs(rows: Seq[(Long, String, String)]): DataFrame =
      rows.toDF("doc_id", "grp", "text")
        .withColumn("w", col("doc_id") * 7 % 13 + 1)
    case class Case(name: String, artifact: String => LiveArtifact,
                    read: String => DataFrame, batch: DataFrame => DataFrame)
    val cases = Seq(
      Case("count-min", new CountMinArtifact(spark, _, "text", 3, 32),
        StreamingIngest.readCountMin(spark, _),
        Sketches.countMin(_, col("text"), 3, 32)),
      Case("hll", new HllArtifact(spark, _, "grp", "text", 6),
        StreamingIngest.readHll(spark, _, "grp"),
        Sketches.hllRegisters(_, "grp", col("text"), 6)),
      Case("manifest", new ManifestArtifact(spark, _, "grp"),
        StreamingIngest.readManifest(spark, _, "grp"),
        Pipeline.datasetManifest(_, "grp")),
      Case("priority-sample", new PrioritySampleArtifact(spark, _, 3, "w"),
        StreamingIngest.readPrioritySample(spark, _, 3),
        TextAnalysis.prioritySample(_, 3, "w")),
      Case("packing-counts", new PackingCountsArtifact(spark, _),
        StreamingIngest.readPackingManifest(spark, _, 4L),
        Packing.packSequences(_, 4L)),
      Case("postings", new PostingsArtifact(spark, _),
        StreamingIngest.readPostings(spark, _), Retrieval.postings(_)),
      Case("substring-index", new SubstringIndexArtifact(spark, _, 3),
        StreamingIngest.readSubstringIndex(spark, _, 3),
        SubstringIndex.buildIndex(_, 3)))
    for (c <- cases) {
      val root = s"$dir/${c.name}"
      val artifact = c.artifact(root)
      artifact.append(docs(batches(0)), "0")
      artifact.append(docs(batches(1)), "1")
      artifact.compact()
      artifact.append(docs(junk), "0") // replay of a compacted batch id
      artifact.append(docs(batches(2)), "2")
      val want = c.batch(docs(batches.flatten))
      def rows(df: DataFrame) = df.select(want.columns.map(col): _*)
        .collect().map(_.toString).sorted.toSeq
      assert(rows(c.read(root)) == rows(want), c.name)
    }
  }

  test("maintained postings index: streamed deltas union to the batch " +
    "build; BM25 over the live index equals the batch search") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Retrieval
    val dir = java.nio.file.Files
      .createTempDirectory("graft-post").toString
    val postPath = s"$dir/postings"
    // before any commit the live index is EMPTY with the right schema
    val empty = StreamingIngest.readPostings(spark, postPath)
    assert(empty.count() == 0 &&
      empty.columns.toSeq == Seq("doc_id", "dl", "term_key", "tf"))
    val a = Seq((1L, "a b a c"), (2L, "b d"))
    val b = Seq((3L, "a a d d e"), (4L, "c"))
    val stream = MemoryStream[(Long, String)]
    val q = StreamingIngest.streamingPostings(
      stream.toDF().toDF("doc_id", "text"), postPath, s"$dir/ckpt")
    try {
      stream.addData(a: _*); q.processAllAvailable()
      stream.addData(b: _*); q.processAllAvailable()
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "dl", "term_key", "tf")
        .as[(Long, Long, Long, Long)].collect().sorted.toSeq
    val union = (a ++ b).toDF("doc_id", "text")
    val live = StreamingIngest.readPostings(spark, postPath)
    // the union identity: streamed deltas ARE the batch postings build
    assert(rows(live) == rows(Retrieval.postings(union)))
    // a replayed micro-batch (same id, even different data) is a no-op
    val post = new graft.streaming.PostingsArtifact(spark, postPath)
    post.append(Seq((99L, "x y z")).toDF("doc_id", "text"), s"stream-${q.id}-0")
    assert(rows(StreamingIngest.readPostings(spark, postPath)) ==
      rows(Retrieval.postings(union)))
    // a crashed append leaves only uncommitted litter; the next commit
    // overwrites it
    val litter = new java.io.File(s"$postPath/delta/epoch=2/part-junk")
    litter.getParentFile.mkdirs()
    java.nio.file.Files.writeString(litter.toPath, "partial")
    post.append(Seq((5L, "a e")).toDF("doc_id", "text"), "7")
    val withExtra = StreamingIngest.readPostings(spark, postPath)
    val unionExtra = (a ++ b :+ (5L -> "a e")).toDF("doc_id", "text")
    assert(rows(withExtra) == rows(Retrieval.postings(unionExtra)))
    // BM25 over the live index == the one-shot batch search, df/N/avgdl
    // freshness included
    val qs = Seq((10L, "a d"), (11L, "e")).toDF("query_id", "qtext")
    def hits(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "doc_id", "score")
        .as[(Long, Int, Long, Double)].collect().sorted.toSeq
    assert(hits(Retrieval.bm25OverPostings(withExtra, qs, 3)) ==
      hits(Retrieval.bm25(unionExtra, qs, 3)))
  }

  test("streaming priority sample: delta top-k merges to the exact batch " +
    "sample, replay no-ops, crash litter absorbed, empty before commit") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.TextAnalysis
    val dir = java.nio.file.Files.createTempDirectory("psample").toString
    val samplePath = s"$dir/sample"
    assert(StreamingIngest.readPrioritySample(spark, samplePath, 5)
      .count() == 0)
    val a = (0 until 300).map(i => (i.toLong, 5L + i % 40))
    val b = (300 until 700).map(i => (i.toLong, 5L + i % 90))
    val stream = MemoryStream[(Long, Long)]
    val q = StreamingIngest.streamingPrioritySample(
      stream.toDF().toDF("doc_id", "w"), "w", samplePath, s"$dir/ckpt",
      k = 5)
    try {
      stream.addData(a: _*); q.processAllAvailable()
      stream.addData(b: _*); q.processAllAvailable()
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "weight", "priority")
        .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    val batchEquiv = TextAnalysis.prioritySample(
      (a ++ b).toDF("doc_id", "w"), 5, "w")
    val live = StreamingIngest.readPrioritySample(spark, samplePath, 5)
    // mergeability: topk(A ∪ B) == topk(topk(A) ∪ topk(B)), exactly
    assert(rows(live) == rows(batchEquiv))
    // a replayed micro-batch (same id, different data) is a no-op
    val ps = new graft.streaming.PrioritySampleArtifact(spark, samplePath,
      5, "w")
    ps.append(Seq((9999L, 9999L)).toDF("doc_id", "w"), s"stream-${q.id}-0")
    assert(rows(StreamingIngest.readPrioritySample(spark, samplePath, 5))
      == rows(batchEquiv))
    // uncommitted crash litter is overwritten by the next commit
    val litter = new java.io.File(s"$samplePath/delta/epoch=2/part-junk")
    litter.getParentFile.mkdirs()
    java.nio.file.Files.writeString(litter.toPath, "partial")
    val c = (700 until 800).map(i => (i.toLong, 200L + i % 50))
    ps.append(c.toDF("doc_id", "w"), "7")
    assert(rows(StreamingIngest.readPrioritySample(spark, samplePath, 5))
      == rows(TextAnalysis.prioritySample(
        (a ++ b ++ c).toDF("doc_id", "w"), 5, "w")))
  }

  test("streaming fingerprint guard: media near-dups quarantine against " +
    "an ingested corpus, undecodable payloads are clean, no true " +
    "near-dup missed") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Video
    def frame(p: Int, q: Int, t: Int): Array[Int] =
      Array.tabulate(32 * 32) { idx =>
        val x = idx % 32; val y = idx / 32
        ((3 * x + 5 * y + 7 * p + x * y + 2 * t * x +
          (if (x < 2 && t < 4) q else 0)) % 256) * 0x010101
      }
    def avi(p: Int, q: Int): Array[Byte] =
      Video.buildAviRgb24(Array.tabulate(6)(frame(p, q, _)), 32, 32)
    val existing = Seq((10L, avi(4, 0)), (11L, avi(9, 0)))
      .toDF("media_id", "payload")
    val existingPrints = Video.fingerprints(existing, frameStep = 2)
    val incoming = Seq(
      (1L, avi(4, 0)),  // exact copy of 10
      (2L, avi(4, 2)),  // same-family tier: Hamming-close to 10
      (3L, avi(17, 0)), // unrelated family
      (4L, "not a video".getBytes("UTF-8"))) // undecodable: clean
    val hashFn: Array[Byte] => java.lang.Long =
      Video.fingerprint56(_, frameStep = 2)
    val stream = MemoryStream[(Long, Array[Byte])]
    val in = stream.toDF().toDF("media_id", "payload")
    val qc = StreamingIngest.streamingFingerprintGuard(in, existingPrints,
        hashFn = hashFn)
      .writeStream.format("memory").queryName("fpg_clean")
      .outputMode("append").start()
    val qq = StreamingIngest.streamingFingerprintGuard(in, existingPrints,
        hashFn = hashFn, invert = true)
      .writeStream.format("memory").queryName("fpg_quar")
      .outputMode("append").start()
    try {
      stream.addData(incoming: _*)
      qc.processAllAvailable(); qq.processAllAvailable()
    } finally { qc.stop(); qq.stop() }
    val clean = spark.table("fpg_clean")
      .select("media_id").as[Long].collect().toSet
    val quarantined = spark.table("fpg_quar")
      .select("media_id").as[Long].collect().toSet
    assert(clean.union(quarantined) == incoming.map(_._1).toSet)
    assert(clean.intersect(quarantined).isEmpty)
    assert(clean.contains(4L)) // no fingerprint -> always clean
    // never-miss: every incoming payload whose TRUE Hamming vs some
    // existing print is <= 3 must be quarantined (pigeonhole contract)
    val exPrints = existingPrints.select("simhash").as[Long].collect()
    val mustCatch = incoming.flatMap { case (id, payload) =>
      Option(hashFn(payload)).filter(h =>
        exPrints.exists(e => java.lang.Long.bitCount(e ^ h) <= 3))
        .map(_ => id)
    }.toSet
    assert(mustCatch.subsetOf(quarantined))
    assert(mustCatch.contains(1L) && mustCatch.contains(2L))
    assert(clean.contains(3L)) // the unrelated family passes
  }

  test("near-dup guard memory contract: Bloom payload is O(bloom bits) " +
    "not O(corpus); Bloom path misses no true collision") {
    implicit val sqlCtx = spark.sqlContext
    // two corpora, the second 8x the rows AND 50x the text bytes — the
    // Bloom payload must track nKeys*ln(1/fpp) bits, never text size
    def corpus(rows: Int, pad: Int): org.apache.spark.sql.DataFrame =
      spark.range(rows).selectExpr("id as doc_id",
        s"concat_ws(' ', transform(sequence(0, 11), " +
          s"j -> concat('tok', pmod(id * 13 + j * 7, $pad)))) as text")
    val small = corpus(50, 1000)
    val big = corpus(400, 50000)
    def bloomIdx(df: org.apache.spark.sql.DataFrame) =
      StreamingIngest.corpusBandIndex(df, "doc_id", "text", 3, 16, 4,
        exactKeyLimit = 0L, bloomFpp = 0.01) // force the Bloom path
    val (iSmall, iBig) = (bloomIdx(small), bloomIdx(big))
    // payload matches the Bloom sizing formula for its own key count —
    // bits ~= ceil(-n*ln(p)/ln(2)^2), NOT the ~100 B/key a string set pays
    def expectedBytes(df: org.apache.spark.sql.DataFrame): Long = {
      val n = graft.operators.Dedup.bandedProjection(
          graft.operators.Dedup.minhashSignatures(df, "doc_id", "text",
            3, 16), 16, 4)
        .select(StreamingIngest.packedBandKey).distinct().count()
      (org.apache.spark.util.sketch.BloomFilter
        .create(n, 0.01).bitSize() + 7) / 8
    }
    assert(iSmall.payloadBytes == expectedBytes(small))
    assert(iBig.payloadBytes == expectedBytes(big))
    // ~10 bits/key at 1% fpp: payload stays far below the corpus bytes
    val bigTextBytes = big.selectExpr("sum(length(text))")
      .collect()(0).getLong(0)
    assert(iBig.payloadBytes < bigTextBytes / 4)
    // exact path for comparison: 8 B/key
    val exact = StreamingIngest.corpusBandIndex(small, "doc_id", "text",
      3, 16, 4, exactKeyLimit = Long.MaxValue, bloomFpp = 0.01)
    assert(exact.isInstanceOf[StreamingIngest.ExactBandKeys])
    // no false negatives: every key the exact index holds, Bloom admits
    val smallKeys = small.collect().flatMap(r =>
      StreamingIngest.bandKeysJvm(r.getString(1), 3, 16, 4))
    assert(smallKeys.forall(k => exact.mightContain(k)))
    assert(smallKeys.forall(k => iSmall.mightContain(k)))
    // guard-level agreement: the Bloom guard's CLEAN set is a subset of
    // the exact guard's (fpp only ever moves clean docs to quarantine)
    val incoming = (0 until 30).map(i =>
      (1000L + i, s"fresh tok${i} unrelated text with nothing shared " +
        s"whatsoever number ${i * 31}")).toDF("doc_id", "text")
    val exactClean = incoming.filter { r =>
      !StreamingIngest.bandKeysJvm(r.getString(1), 3, 16, 4)
        .exists(exact.mightContain)
    }.select("doc_id").as[Long].collect().toSet
    val bloomClean = incoming.filter { r =>
      !StreamingIngest.bandKeysJvm(r.getString(1), 3, 16, 4)
        .exists(iSmall.mightContain)
    }.select("doc_id").as[Long].collect().toSet
    assert(bloomClean.subsetOf(exactClean))
  }

  test("streaming quality filter + PII scrub: stateless column guards " +
    "run on a stream and agree with the batch operators") {
    implicit val sqlCtx = spark.sqlContext
    val docsData = (0 until 40).map(i =>
      (i.toLong, s"doc $i filler tok${i % 7} mail user$i@example.com")) :+
      (99L, null.asInstanceOf[String]) // null text must REJECT, not vanish
    val stream = MemoryStream[(Long, String)]
    val in = stream.toDF().toDF("doc_id", "text")
    // quality guard (margin >= 0) feeding the PII scrubber — the hygiene
    // chain as ONE stateless streaming pipeline
    val guarded = StreamingIngest.streamingQualityFilter(in, minMargin = 0L)
    val q = graft.operators.TextAnalysis.scrubPii(guarded)
      .writeStream.format("memory").queryName("qual_scrub")
      .outputMode("append").start()
    val qr = StreamingIngest
      .streamingQualityFilter(in, minMargin = 0L, invert = true)
      .writeStream.format("memory").queryName("qual_reject")
      .outputMode("append").start()
    try {
      stream.addData(docsData: _*)
      q.processAllAvailable(); qr.processAllAvailable()
    } finally { q.stop(); qr.stop() }
    val kept = spark.table("qual_scrub")
    val rejected = spark.table("qual_reject")
      .select("doc_id").as[Long].collect().toSet
    // pass + reject partition the input (null text lands in reject —
    // nothing to score in a quality gate), split exactly as the batch
    // scorer's labels on the scoreable rows
    val batchLabels = graft.operators.QualityModels
      .hashedLinearScore(docsData.filter(_._2 != null)
        .toDF("doc_id", "text"))
      .select("doc_id", "label").as[(Long, Int)].collect().toMap
    val keptIds = kept.select("doc_id").as[Long].collect().toSet
    assert(keptIds.union(rejected) == docsData.map(_._1).toSet)
    assert(keptIds.intersect(rejected).isEmpty)
    assert(rejected.contains(99L) && !keptIds.contains(99L))
    assert(keptIds == batchLabels.filter(_._2 == 1).keySet)
    assert(keptIds.nonEmpty && rejected.nonEmpty) // both regimes exercised
    // the scrubber redacted every kept doc's address on the stream
    assert(kept.count() > 0)
    assert(kept.select("n_emails").as[Long].collect().forall(_ == 1L))
    assert(!kept.select("text").as[String].collect()
      .exists(_.contains("@example.com")))
  }
}
