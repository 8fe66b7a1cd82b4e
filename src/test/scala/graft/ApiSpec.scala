package graft

import graft.api.TemporalVectorDB
import graft.operators.VersionStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.sql.Timestamp
import java.nio.file.Files

/** Facade-level access patterns, porting test_week2.py:551-623 (all access
  * patterns incl. temporal and range) and :711-787 (persistence + seq
  * continuity across sessions). */
class ApiSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 50
  private def ts(day: Int, hour: Int = 0) =
    Timestamp.valueOf(f"2025-02-$day%02d $hour%02d:00:00")

  private def freshDb(): TemporalVectorDB = {
    val dir = Files.createTempDirectory("tvdb").toFile
    dir.delete()
    new TemporalVectorDB(spark, dir.getAbsolutePath,
      VersionStore.Config(baseInterval = 5))
  }

  /** Deterministic per-content random vector for the PQ index tests:
    * genuinely separated contents (pairwise |cos| ≈ 1/√dim), unlike a
    * phase-shifted sine family whose phases can collide mod 2π (i·17 made
    * c22 a 0.9997-cosine near-duplicate of c05 — a gap below ADC
    * quantization error, so the approximate path legitimately could not
    * rank the self-match first). */
  private def fleetVec(i: Int): Array[Float] = {
    val r = new scala.util.Random(i * 1000 + 7)
    Array.fill(dim)(r.nextFloat() - 0.5f)
  }

  private def mkHistory(n: Int): Seq[(String, Timestamp, Array[Float])] = {
    var cur = Array.fill(dim)(0.5f)
    (1 to n).map { k =>
      if (k > 1) cur = cur.zipWithIndex.map { case (x, i) =>
        if (i % 10 == k % 10) x + 0.1f else x }
      ("art", ts(k), cur.clone())
    }
  }

  test("ingest + getVersion + getLatestVersion + range (test_week2 access patterns)") {
    val db = freshDb()
    db.addVersions(mkHistory(6).toDF("content_id", "ts", "embedding"))

    assert(db.versions.count() == 6)
    assert(db.listContentIds().as[String].collect().toSeq == Seq("art"))

    val v2 = db.getVersion("art", 2).select("seq", "base_seq_used")
      .as[(Int, Int)].collect()
    assert(v2.toSeq == Seq((2, 1)))

    val latest = db.getLatestVersion("art").select("seq").as[Int].collect()
    assert(latest.toSeq == Seq(6))

    // range 2..4 returns exactly 3 rows (test_week2.py:828-860)
    assert(db.getVersionRange("art", 2, 4).count() == 3)
  }

  test("temporal as-of query between v3 and v4 resolves to v3 " +
    "(test_week2.py:551-623, <= semantics data_structures.py:213-227)") {
    val db = freshDb()
    db.addVersions(mkHistory(6).toDF("content_id", "ts", "embedding"))
    val got = db.getVersionAtTime("art", ts(3, hour = 12))
      .select("seq").as[Int].collect()
    assert(got.toSeq == Seq(3))
    // before the first version: no row (reference errors on 0)
    assert(db.getVersionAtTime("art", ts(1, hour = 0)).count() == 1) // exactly v1
  }

  test("incremental append continues sequence numbers " +
    "(persistence suite, test_week2.py:711-787)") {
    val db = freshDb()
    db.addVersions(mkHistory(3).toDF("content_id", "ts", "embedding"))
    val more = Seq(("art", ts(10), Array.fill(dim)(0.9f)),
      ("new", ts(10), Array.fill(dim)(0.2f)))
      .toDF("content_id", "ts", "embedding")
    db.addVersions(more)
    val seqs = db.versions.where(col("content_id") === "art")
      .select("seq").as[Int].collect().sorted.toSeq
    assert(seqs == Seq(1, 2, 3, 4))
    val newSeqs = db.versions.where(col("content_id") === "new")
      .select("seq").as[Int].collect().toSeq
    assert(newSeqs == Seq(1))
    assert(db.validateTimelineIntegrity().count() == 0)
  }

  test("searchSimilarContent returns bases only, self-similar first") {
    val db = freshDb()
    db.addVersions(mkHistory(6).toDF("content_id", "ts", "embedding"))
    val q = mkHistory(1).head._3
    val hits = db.searchSimilarContent(q, k = 3)
      .select("rank", "id", "sim").as[(Int, String, Double)].collect()
    assert(hits.nonEmpty)
    assert(hits.head._1 == 1 && hits.head._2.startsWith("art#"))
    assert(hits.forall(_._3 > 0))
    // corpus = bases only: with interval 5 over 6 versions, bases = {1, 6}
    assert(hits.length == 2)
  }

  test("getVersionById parses and malformed ids are rejected") {
    val db = freshDb()
    db.addVersions(mkHistory(2).toDF("content_id", "ts", "embedding"))
    assert(db.getVersionById("art_v2").select("seq").as[Int]
      .collect().toSeq == Seq(2))
    intercept[IllegalArgumentException](db.getVersionById("nounderscore"))
  }

  test("statistics + optimizeContentBases") {
    val db = freshDb()
    db.addVersions(mkHistory(12).toDF("content_id", "ts", "embedding"))
    val stats = db.getDatabaseStatistics()
      .select("n_contents", "total_versions", "total_bases")
      .as[(Int, Long, Long)].collect()(0)
    assert(stats._1 == 1 && stats._2 == 12)
    assert(stats._3 >= 3) // interval bases at 1, 6, 11
    // with interval 5, max chain is 4 -> nothing above cost 10
    assert(db.optimizeContentBases(maxCost = 10).count() == 0)
    assert(db.optimizeContentBases(maxCost = 2).count() > 0)
  }

  test("searchLatestVersions searches reconstructed latest state " +
    "(deltas included, unlike the bases-only corpus)") {
    val db = freshDb()
    db.addVersions(mkHistory(7).toDF("content_id", "ts", "embedding"))
    // latest version (seq 7) is a delta: bases-only search can never
    // return seq 7, the latest-version search must return exactly it
    val latestKind = db.versions.where(col("seq") === 7)
      .select("kind").as[String].collect().head
    assert(latestKind == "delta")
    val latestVec = db.getLatestVersion("art")
      .select("embedding").as[Seq[Float]].collect().head.toArray
    val hit = db.searchLatestVersions(latestVec, k = 1)
      .select("id", "sim").as[(String, Double)].collect().head
    assert(hit._1 == "art#7")
    assert(math.abs(hit._2 - 1.0) < 1e-6)
  }

  test("materialized latest corpus: repeated searches hit the cache, " +
    "appends refresh it incrementally") {
    val db = freshDb()
    db.addVersions(mkHistory(7).toDF("content_id", "ts", "embedding"))
    val latestVec = db.getLatestVersion("art")
      .select("embedding").as[Seq[Float]].collect().head.toArray
    // first search builds the materialized corpus...
    assert(db.searchLatestVersions(latestVec, k = 1)
      .select("id").as[String].collect().head == "art#7")
    // ...every later latest-state search reads the in-memory projection,
    // never the reconstruction pipeline (no delta-fold explode/aggregate)
    val plan = db.searchLatestVersions(latestVec, k = 1)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ExistingRDD"), plan)
    // append a new content: only the touched contents reconstruct; the
    // refreshed corpus serves both old and new latest states
    db.addVersions(Seq(("new", ts(10), Array.fill(dim)(0.9f)))
      .toDF("content_id", "ts", "embedding"))
    val ids = db.cacheLatest().select("content_id", "seq")
      .as[(String, Int)].collect().toSet
    assert(ids == Set(("art", 7), ("new", 1)))
    val hit = db.searchLatestVersions(Array.fill(dim)(0.9f), k = 1)
      .select("id").as[String].collect().head
    assert(hit == "new#1")
    // appending MORE versions of an existing content moves its latest
    db.addVersions(Seq(("art", ts(11), Array.fill(dim)(0.1f)))
      .toDF("content_id", "ts", "embedding"))
    val ids2 = db.cacheLatest().select("content_id", "seq")
      .as[(String, Int)].collect().toSet
    assert(ids2 == Set(("art", 8), ("new", 1)))
  }

  test("searchLatestVersionsApprox agrees with the exact search on the " +
    "self-query and reads the cached corpus") {
    val db = freshDb()
    db.addVersions(mkHistory(7).toDF("content_id", "ts", "embedding"))
    val latestVec = db.getLatestVersion("art")
      .select("embedding").as[Seq[Float]].collect().head.toArray
    // a query equal to a corpus vector always shares its own bucket, so
    // the approx path must find the exact self-match
    val hit = db.searchLatestVersionsApprox(latestVec, k = 1, nBits = 6)
      .select("id", "sim").as[(String, Double)].collect().head
    assert(hit._1 == "art#7" && math.abs(hit._2 - 1.0) < 1e-6)
    val plan = db.searchLatestVersionsApprox(latestVec, k = 1, nBits = 6)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ExistingRDD"), plan)
    // auto-sized bits path runs too (tiny corpus clamps to 4 bits)
    assert(db.searchLatestVersionsApprox(latestVec, k = 1)
      .count() >= 1)
  }

  test("PQ latest-state index: compressed search + exact refine, " +
    "incremental re-encode on append") {
    val db = freshDb()
    // 24 well-separated contents so the codebooks (trained once on the
    // latest corpus; dim 50 -> autoM picks 10 subspaces) are meaningful
    val fleet = (0 until 24).map(i => (f"c$i%02d", ts(1),
      fleetVec(i)))
    db.addVersions(fleet.toDF("content_id", "ts", "embedding"))
    val v5 = fleet(5)._3
    // exact-refine search: top hit is the self vector with EXACT sim 1
    val refined = db.searchLatestVersionsPq(v5, k = 1, refine = 8)
      .select("id", "sim").as[(String, Double)].collect().head
    assert(refined._1 == "c05#1" && math.abs(refined._2 - 1.0) < 1e-6)
    // the maintained index is (content_id, seq, cell, codes) ONLY — no
    // float vectors — and repeated ADC searches read it from memory
    assert(db.cachePqIndex().columns.toSeq ==
      Seq("content_id", "seq", "_cell", "_codes"))
    val plan = db.searchLatestVersionsPq(v5, k = 1)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ExistingRDD"), plan)
    // the coarse layer makes the search an EQUI-join on the cell id:
    // no cross join / nested loop anywhere — the probed fraction of the
    // code table is all a search touches (the scale contract)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
    // probing EVERY cell (nProbe <= 0) is exact parity with a flat ADC
    // scan: every code row is reachable through the cell equi-join (each
    // row matches its one cell exactly once — k >= corpus returns every
    // positively-scored row, no duplicates, no drops)
    val flat = db.searchLatestVersionsPq(v5, k = 24, nProbe = 0)
      .select("id", "sim").as[(String, Double)].collect()
    assert(flat.map(_._1).distinct.length == flat.length)
    assert(flat.length ==
      db.searchLatestVersionsPq(v5, k = 24, nProbe = 16).count())
    // the default probe (4 of 16 cells) must still find the self-match:
    // the query's nearest cell IS its own assigned cell (same centroids,
    // same tie-break)
    val probedHit = db.searchLatestVersionsPq(v5, k = 1)
      .select("id").as[String].collect().head
    assert(probedHit == "c05#1")
    // append a new content: it re-encodes with the EXISTING codebooks and
    // becomes searchable; carried rows are not re-encoded
    val vz = fleetVec(99)
    db.addVersions(Seq(("zz", ts(2), vz))
      .toDF("content_id", "ts", "embedding"))
    val hit2 = db.searchLatestVersionsPq(vz, k = 1, refine = 8)
      .select("id").as[String].collect().head
    assert(hit2 == "zz#1")
    assert(db.cachePqIndex().count() == 25)
    // explicit reconfiguration rebuilds (new books, full re-encode) and
    // retrain refreshes in place; searches keep working on both
    assert(db.cachePqIndex(m = 5, ks = 8, trainSample = 1024).count() == 25)
    assert(db.searchLatestVersionsPq(vz, k = 1, refine = 8)
      .select("id").as[String].collect().head == "zz#1")
    assert(db.retrainPqIndex().count() == 25)
    assert(db.searchLatestVersionsPq(v5, k = 1, refine = 8)
      .select("id").as[String].collect().head == "c05#1")
  }

  test("batch PQ search: one job ranks every query independently and " +
    "agrees with the single-query path") {
    val db = freshDb()
    val fleet = (0 until 24).map(i => (f"c$i%02d", ts(1),
      fleetVec(i)))
    db.addVersions(fleet.toDF("content_id", "ts", "embedding"))
    val batch = Seq((5L, fleet(5)._3), (11L, fleet(11)._3))
      .toDF("query_id", "qvec")
    val got = db.searchLatestVersionsPqBatch(batch, k = 1, refine = 8)
      .select("query_id", "rank", "id", "sim")
      .as[(Long, Int, String, Double)].collect().sortBy(_._1).toSeq
    // every query self-matches with exact sim 1 (refine stage)
    assert(got.map(t => (t._1, t._2, t._3)) ==
      Seq((5L, 1, "c05#1"), (11L, 1, "c11#1")))
    assert(got.forall(t => math.abs(t._4 - 1.0) < 1e-6))
    // the batch row for query 5 is exactly the single-query result
    val single = db.searchLatestVersionsPq(fleet(5)._3, k = 1, refine = 8)
      .select("rank", "id", "sim").as[(Int, String, Double)].collect().head
    assert((got.head._2, got.head._3, got.head._4) == single)
    // the EXACT batch path agrees: same self-matches, exact sims, one
    // corpus scan for the whole batch
    val exact = db.searchLatestVersionsBatch(batch, k = 1)
      .select("query_id", "rank", "id", "sim")
      .as[(Long, Int, String, Double)].collect().sortBy(_._1).toSeq
    assert(exact.map(t => (t._1, t._2, t._3)) ==
      Seq((5L, 1, "c05#1"), (11L, 1, "c11#1")))
    assert(exact.forall(t => math.abs(t._4 - 1.0) < 1e-6))
    // the MILLION-QUERY shape (broadcastQueries = false: the per-query
    // LUT frame is gigabytes at that scale, past the broadcast limit)
    // produces identical rows through shuffled hash joins, both with and
    // without the refine stage
    for (ref <- Seq(0, 8)) {
      val hinted = db.searchLatestVersionsPqBatch(batch, k = 3,
          refine = ref)
        .select("query_id", "rank", "id", "sim")
        .as[(Long, Int, String, Double)].collect().toSet
      val unhinted = db.searchLatestVersionsPqBatch(batch, k = 3,
          refine = ref, broadcastQueries = false)
        .select("query_id", "rank", "id", "sim")
        .as[(Long, Int, String, Double)].collect().toSet
      assert(unhinted == hinted, s"refine=$ref broadcast/shuffle mismatch")
    }
  }

  test("persisted indexes reload in a second facade instance: identical " +
    "codes and search results with ZERO store reads or retraining") {
    val db = freshDb()
    val fleet = (0 until 24).map(i => (f"c$i%02d", ts(1),
      fleetVec(i)))
    db.addVersions(fleet.toDF("content_id", "ts", "embedding"))
    val v5 = fleet(5)._3
    val before = db.searchLatestVersionsPq(v5, k = 3, refine = 8)
      .select("rank", "id", "sim").as[(Int, String, Double)]
      .collect().toSeq
    db.persistIndexes()
    val codesBefore = db.pqIndex()
      .as[(String, Int, Int, Seq[Int])].collect().toSet

    // move the versions store AWAY: a second facade on the same path can
    // only serve searches if the loaded indexes truly carry everything
    // (the reference re-embeds every vector into FAISS here)
    val storeDir = java.nio.file.Paths.get(db.path)
    val hidden = java.nio.file.Paths.get(db.path + "_hidden")
    java.nio.file.Files.move(storeDir, hidden)
    try {
      val db2 = new TemporalVectorDB(spark, db.path,
        VersionStore.Config(baseInterval = 5))
      assert(db2.loadIndexes())
      assert(db2.pqIndex().as[(String, Int, Int, Seq[Int])]
        .collect().toSet == codesBefore)
      val after = db2.searchLatestVersionsPq(v5, k = 3, refine = 8)
        .select("rank", "id", "sim").as[(Int, String, Double)]
        .collect().toSeq
      assert(after == before)
      assert(db2.searchSimilarContent(v5, k = 1)
        .select("id").as[String].collect().head == "c05#1")
    } finally java.nio.file.Files.move(hidden, storeDir)

    // with the store back, a loaded facade keeps maintaining the indexes
    // incrementally (re-encode with the LOADED centroids/codebooks)
    val db3 = new TemporalVectorDB(spark, db.path,
      VersionStore.Config(baseInterval = 5))
    assert(db3.loadIndexes())
    val vz = fleetVec(99)
    db3.addVersions(Seq(("zz", ts(2), vz))
      .toDF("content_id", "ts", "embedding"))
    assert(db3.searchLatestVersionsPq(vz, k = 1, refine = 8)
      .select("id").as[String].collect().head == "zz#1")
    assert(db3.pqIndex().count() == 25)

    // nothing persisted -> load reports false and leaves state alone
    assert(!freshDb().loadIndexes())
  }

  test("full-corpus coarse cells: cachePqIndex(fullCells=true) trains " +
    "the IVF layer with the distributed trainer; searches, incremental " +
    "append and persist/reload all carry the configuration") {
    val db = freshDb()
    val fleet = (0 until 24).map(i => (f"c$i%02d", ts(1),
      fleetVec(i)))
    db.addVersions(fleet.toDF("content_id", "ts", "embedding"))
    val codes = db.cachePqIndex(nCells = 4, fullCells = true)
    assert(codes.columns.toSeq == Seq("content_id", "seq", "_cell", "_codes"))
    val cells = codes.select("_cell").as[Int].collect()
    assert(cells.length == 24 && cells.forall(c => c >= 0 && c < 4))
    assert(cells.distinct.length >= 2) // separated data spreads over cells
    // searches on the corpus-trained cells still self-match exactly
    val v5 = fleet(5)._3
    val before = db.searchLatestVersionsPq(v5, k = 3, refine = 8)
      .select("rank", "id", "sim").as[(Int, String, Double)].collect().toSeq
    assert(before.head._2 == "c05#1" && math.abs(before.head._3 - 1.0) < 1e-6)
    // a default-argument search never discards the configuration, and an
    // append re-assigns + re-encodes with the CORPUS-trained centroids
    val vz = fleetVec(99)
    db.addVersions(Seq(("zz", ts(2), vz)).toDF("content_id", "ts", "embedding"))
    assert(db.pqIndex().count() == 25)
    assert(db.searchLatestVersionsPq(vz, k = 1, refine = 8)
      .select("id").as[String].collect().head == "zz#1")
    // persist + reload round-trips the full-cells flag: a matching
    // explicit cachePqIndex on the loaded instance reuses the loaded
    // index (same codes), it does not retrain
    db.persistIndexes()
    val codesBefore = db.pqIndex()
      .as[(String, Int, Int, Seq[Int])].collect().toSet
    val db2 = new TemporalVectorDB(spark, db.path,
      VersionStore.Config(baseInterval = 5))
    assert(db2.loadIndexes())
    assert(db2.cachePqIndex(nCells = 4, fullCells = true)
      .as[(String, Int, Int, Seq[Int])].collect().toSet == codesBefore)
    assert(db2.searchLatestVersionsPq(v5, k = 3, refine = 8)
      .select("rank", "id", "sim").as[(Int, String, Double)]
      .collect().toSeq == before)
  }

  test("incremental cacheBases: append unions the batch into the cached " +
    "index instead of rebuilding from a full re-scan") {
    val db = freshDb()
    db.addVersions(mkHistory(6).toDF("content_id", "ts", "embedding"))
    assert(db.cacheBases().count() == 2) // interval-5 bases at seq 1, 6
    // this append creates base seq 1 for "new" and base seq 7 for "art"
    // (the 0.9-fill changes nearly every dim -> promotion-ratio rule)
    db.addVersions(Seq(
      ("new", ts(10), Array.fill(dim)(0.2f)),
      ("art", ts(10), Array.fill(dim)(0.9f)))
      .toDF("content_id", "ts", "embedding"))
    val bases = db.cacheBases().select("content_id", "seq")
      .as[(String, Int)].collect().toSet
    assert(bases == Set(("art", 1), ("art", 6), ("art", 7), ("new", 1)))
    // the refreshed index is still served from memory
    val plan = db.searchSimilarContent(Array.fill(dim)(0.5f), k = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ExistingRDD"), plan)
  }

  test("applyBaseOptimization EXECUTES the promotion recommendation: " +
    "costs bounded, values bit-identical, indexes refreshed, idempotent") {
    val db = freshDb()
    db.addVersions(mkHistory(12).toDF("content_id", "ts", "embedding"))
    // chains under interval-5 bases run up to cost 4 -> maxCost=2 has work
    assert(db.optimizeContentBases(maxCost = 2).count() > 0)
    val beforeVals = db.getVersionRange("art", 1, 12)
      .select("seq", "embedding").as[(Int, Seq[Float])].collect().toMap
    val basesBefore = db.cacheBases().count()

    val n = db.applyBaseOptimization(maxCost = 2)
    assert(n > 0)
    // the recommendation is now satisfied: nothing above maxCost remains
    assert(db.optimizeContentBases(maxCost = 2).count() == 0)
    // every version's VALUE is unchanged (promotion materializes what
    // reconstruction computed)
    val afterVals = db.getVersionRange("art", 1, 12)
      .select("seq", "embedding").as[(Int, Seq[Float])].collect().toMap
    assert(afterVals == beforeVals)
    // the store stays audit-clean and the same size (rows rewritten in
    // place, not appended)
    assert(db.validateTimelineIntegrity().count() == 0)
    assert(db.versions.count() == 12)
    assert(db.versions.where(col("kind") === "base").count() ==
      basesBefore + n)
    // the maintained bases index absorbed the promoted rows incrementally
    assert(db.cacheBases().count() == basesBefore + n)
    // nothing left to promote: second run is a no-op
    assert(db.applyBaseOptimization(maxCost = 2) == 0)
  }

  /** `n` versions of `content` from day `day0` on: a seeded random walk
    * editing ~20% of the dims per version by random amounts, so delta
    * chains sum floats whose rounding a refresh could get wrong. */
  private def walk(content: String, day0: Int, n: Int,
                   seed: Int): Seq[(String, Timestamp, Array[Float])] = {
    val r = new scala.util.Random(seed)
    var cur = Array.fill(dim)(r.nextFloat() - 0.5f)
    (0 until n).map { k =>
      if (k > 0) cur = cur.map(x =>
        if (r.nextDouble() < 0.2) x + (r.nextFloat() - 0.5f) * 0.3f else x)
      (content, ts(day0 + k), cur.clone())
    }
  }

  test("indexes maintained through appends and a base promotion equal a " +
    "cold facade's on the same store") {
    val db = freshDb()
    db.addVersions((walk("a", 1, 4, 1) ++ walk("b", 1, 3, 2))
      .toDF("content_id", "ts", "embedding"))
    db.cacheBases(); db.cacheLatest()
    Seq(walk("a", 5, 4, 3), walk("c", 5, 6, 4) ++ walk("b", 4, 2, 5),
        walk("a", 9, 3, 6) ++ walk("c", 11, 4, 7))
      .foreach(b => db.addVersions(b.toDF("content_id", "ts", "embedding")))
    assert(db.applyBaseOptimization(maxCost = 1) > 0)
    val cold = new TemporalVectorDB(spark, db.path,
      VersionStore.Config(baseInterval = 5))
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getInt(1), r.getSeq[Float](2)))
      .sortBy(r => (r._1, r._2)).toSeq
    assert(rows(db.cacheBases()) == rows(cold.cacheBases()))
    assert(rows(db.cacheLatest()) == rows(cold.cacheLatest()))
    assert(rows(db.cacheLatest()).map(r => (r._1, r._2)) ==
      Seq(("a", 11), ("b", 5), ("c", 10)))
    cold.close()
  }

  test("appends and reads pin nothing beyond the live indexes: every " +
    "addVersions frees the ingested rows it pinned") {
    val db = freshDb()
    val sc = spark.sparkContext
    val baseline = sc.getPersistentRDDs.keySet
    def extra = sc.getPersistentRDDs.keySet -- baseline
    db.addVersions(walk("a", 1, 3, 1).toDF("content_id", "ts", "embedding"))
    assert(extra.isEmpty)
    val live = () => Seq(db.cacheBases(), db.cacheLatest())
      .flatMap(graft.operators.Ckpt.rdds(_).map(_.id)).toSet
    val built = live() // builds both indexes
    assert(built.size == 2 && extra == built)
    for (step <- 1 to 3) {
      db.addVersions(walk("a", 3 * step + 1, 3, step)
        .toDF("content_id", "ts", "embedding"))
      assert(extra == live(), s"after append $step")
      db.getVersion("a", 2 * step).collect()
      assert(extra == live(), s"after getVersion $step")
    }
    db.close()
    assert(extra.isEmpty)
  }

  test("close() releases every pinned index block (temporal_database.py" +
    ":544-553 surface); loadIndexes still restores from parquet after") {
    val db = freshDb()
    val fleet = (0 until 24).map(i => (f"c$i%02d", ts(1), fleetVec(i)))
    db.addVersions(fleet.toDF("content_id", "ts", "embedding"))
    val sc = spark.sparkContext
    // track the SPECIFIC RDD ids this facade pins (global counts race
    // with the async ContextCleaner reaping earlier suites' dead frames)
    val baseline = sc.getPersistentRDDs.keySet
    // build all three maintained indexes, persist them for the reload leg
    db.cacheBases(); db.cacheLatest(); db.cachePqIndex(nCells = 4)
    db.persistIndexes()
    val v5 = fleet(5)._3
    val before = db.searchLatestVersionsPq(v5, k = 3, refine = 8)
      .select("rank", "id", "sim").as[(Int, String, Double)].collect().toSeq
    val pinned = sc.getPersistentRDDs.keySet -- baseline
    assert(pinned.size >= 3,
      "expected >=3 pinned index frames while the facade is open")

    db.close()
    // executor storage freed: every block this facade pinned is gone
    val leftover = sc.getPersistentRDDs.keySet.intersect(pinned)
    assert(leftover.isEmpty, s"close() left pinned RDDs: $leftover")
    db.close() // idempotent

    // the closed facade stays usable: loadIndexes restores the persisted
    // materialized state and searches serve identical results
    assert(db.loadIndexes())
    assert(db.searchLatestVersionsPq(v5, k = 3, refine = 8)
      .select("rank", "id", "sim").as[(Int, String, Double)]
      .collect().toSeq == before)
    // ...and a close WITHOUT a reload rebuilds from the store on demand
    db.close()
    assert(db.searchSimilarContent(v5, k = 1)
      .select("id").as[String].collect().head == "c05#1")
    db.close()
  }

  test("getContentStatistics bundles counts + recon stats + integrity " +
    "(temporal_database.py:301-330 shape)") {
    val db = freshDb()
    db.addVersions(mkHistory(12).toDF("content_id", "ts", "embedding"))
    val rows = db.getContentStatistics("art")
    val expected = Seq("content_id", "max_seq", "n_versions", "n_bases",
      "n_deltas", "avg_delta_magnitude", "max_delta_magnitude",
      "min_delta_magnitude", "avg_cost", "max_cost", "n_sampled",
      "recommend_promotion", "n_integrity_issues", "timeline_valid")
    assert(expected.forall(rows.columns.contains),
      s"missing: ${expected.filterNot(rows.columns.contains)}")
    val r = rows.collect().head
    assert(r.getAs[Int]("n_versions") == 12)
    assert(r.getAs[Int]("n_sampled") == 12)
    assert(r.getAs[Int]("max_cost") <= 4) // interval-5 chains
    assert(r.getAs[Int]("n_integrity_issues") == 0)
    assert(r.getAs[Boolean]("timeline_valid"))
  }
}
