package graft

import graft.api.{BucketedTemporalVectorDB, FingerprintStore,
  MinHashDedupStore, SemanticDedupStore, TemporalVectorDB}
import graft.streaming.{CountMinArtifact, PostingsArtifact}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** The `autoCompactEpochs` knob: once the latest-wins resolution window
  * spans the threshold, append() folds it automatically — and the fold
  * must be READ-IDENTICAL to a never-compacting twin at every step
  * (compaction is maintenance, not semantics). SCALE.md's measured
  * curve (bench_r13_epochs.json) sizes the threshold; this spec pins
  * that whatever the threshold, turning it on cannot change results. */
class AutoCompactSpec extends SparkSpec {
  import spark.implicits._

  private val H = 0x00FF00FF00L

  private def batch(k: Int): DataFrame = Seq(
    (100L * k, H ^ (1L << (k % 3))), (100L * k + 1, 0x1000000000L * k))
    .toDF("_id", "simhash")

  private def ids(df: DataFrame): Set[Long] =
    df.select(col("doc_id").cast("long")).as[Long].collect().toSet

  test("fingerprint store with autoCompactEpochs=2: appends trigger " +
    "compaction automatically, the head snapshots keep advancing, and " +
    "every read equals the never-compacting twin's") {
    val rootA = Files.createTempDirectory("graft-ac1").toString + "/s"
    val rootB = Files.createTempDirectory("graft-ac2").toString + "/s"
    val init = Seq((1L, H), (2L, H)).toDF("_id", "simhash")
    val auto = FingerprintStore.init(spark, rootA, init,
      autoCompactEpochs = 2)
    val plain = FingerprintStore.init(spark, rootB, init)
    var allIds = Seq(1L, 2L).toDF("doc_id")
    for (k <- 1 to 5) {
      auto.append(batch(k))
      plain.append(batch(k))
      allIds = allIds.unionByName(batch(k).select(col("_id").as("doc_id")))
      assert(ids(auto.kept(allIds)) == ids(plain.kept(allIds)),
        s"after append $k")
      assert(auto.components.collect().map(_.toString).toSet ==
        plain.components.collect().map(_.toString).toSet)
      // the window never exceeds the threshold
      assert(auto.epoch - auto.latestSnapshot < 2)
    }
    assert(plain.latestSnapshot == 0L) // the twin never compacted
    assert(auto.latestSnapshot > 0L)
  }

  test("minhash store with autoCompactEpochs=1: every append is " +
    "followed by a fold; reads equal the never-compacting twin") {
    val rootA = Files.createTempDirectory("graft-ac3").toString + "/s"
    val rootB = Files.createTempDirectory("graft-ac4").toString + "/s"
    val init = Seq(1L -> "a b c d e f g h", 2L -> "p q r s t u v w")
      .toDF("doc_id", "text")
    val auto = MinHashDedupStore.init(spark, rootA, init, 0.5,
      autoCompactEpochs = 1)
    val plain = MinHashDedupStore.init(spark, rootB, init, 0.5)
    val b1 = Seq(10L -> "a b c d e f g h", 11L -> "unrelated words here x")
      .toDF("doc_id", "text")
    val b2 = Seq(20L -> "p q r s t u v w").toDF("doc_id", "text")
    for (b <- Seq(b1, b2)) { auto.append(b); plain.append(b) }
    val allIds = (init unionByName b1 unionByName b2).select("doc_id")
    assert(ids(auto.kept(allIds)) == ids(plain.kept(allIds)))
    assert(auto.components.collect().map(_.toString).toSet ==
      plain.components.collect().map(_.toString).toSet)
    assert(auto.epoch - auto.latestSnapshot < 1 ||
      auto.latestSnapshot == auto.epoch)
  }

  test("the DEFAULT autoCompactEpochs (the measured 16) fires without " +
    "being asked: 16 appends on a default-knob store advance the " +
    "snapshot, reads stay identical to a manual (knob=0) twin") {
    val rootA = Files.createTempDirectory("graft-ac5").toString + "/s"
    val rootB = Files.createTempDirectory("graft-ac6").toString + "/s"
    val init = Seq((1L, H), (2L, H)).toDF("_id", "simhash")
    val auto = FingerprintStore.init(spark, rootA, init) // default knob
    assert(auto.autoCompactEpochs == 16)
    val manual = FingerprintStore.init(spark, rootB, init,
      autoCompactEpochs = 0)
    var allIds = Seq(1L, 2L).toDF("doc_id")
    for (k <- 1 to 16) {
      auto.append(batch(k))
      manual.append(batch(k))
      allIds = allIds.unionByName(batch(k).select(col("_id").as("doc_id")))
    }
    assert(auto.latestSnapshot > 0L, "default knob never fired")
    assert(manual.latestSnapshot == 0L)
    assert(ids(auto.kept(allIds)) == ids(manual.kept(allIds)))
    assert(auto.components.collect().map(_.toString).toSet ==
      manual.components.collect().map(_.toString).toSet)
  }

  test("semantic store with autoCompactEpochs=1: appends fold " +
    "trainer-free, reads equal the manual twin, and staleness stays " +
    "TRAIN-relative (the fold must not reset the drift clock)") {
    val rootA = Files.createTempDirectory("graft-ac7").toString + "/s"
    val rootB = Files.createTempDirectory("graft-ac8").toString + "/s"
    val init = Seq(
      (1L, Seq(1f, 0.01f, 0f, 0f)), (2L, Seq(0f, 1f, 0f, 0f)),
      (3L, Seq(0f, 0f, 1f, 0f)), (4L, Seq(0.7f, 0.7f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val auto = SemanticDedupStore.init(spark, rootA, init, nCells = 2,
      iters = 2, tau = 0.95, maxStaleFrac = 10.0, autoCompactEpochs = 1)
    val manual = SemanticDedupStore.init(spark, rootB, init, nCells = 2,
      iters = 2, tau = 0.95, maxStaleFrac = 10.0, autoCompactEpochs = 0)
    val b1 = Seq((10L, Seq(1f, 0.015f, 0f, 0f))).toDF("vec_id", "embedding")
    val b2 = Seq((11L, Seq(0f, 0f, 0.99f, 0.05f))).toDF("vec_id", "embedding")
    for (b <- Seq(b1, b2)) { auto.append(b); manual.append(b) }
    assert(auto.latestSnapshot > manual.latestSnapshot)
    assert(auto.latestTrain == 0L) // the fold trained nothing
    assert(auto.staleFrac == manual.staleFrac) // drift clock untouched
    val allIds = (init unionByName b1 unionByName b2).select("vec_id")
    def kept(s: SemanticDedupStore): Set[Long] = s.kept(allIds, "vec_id")
      .select(col("vec_id").cast("long")).as[Long].collect().toSet
    assert(kept(auto) == kept(manual))
  }

  test("the epoch an auto-folding append returns stays readable: keptAt " +
    "of a plain append's, a token append's and its replay's epoch equals " +
    "a never-folded twin's; a read two epochs below the fold, or below a " +
    "retrain, fails loudly") {
    val rootA = Files.createTempDirectory("graft-ac9").toString + "/s"
    val rootB = Files.createTempDirectory("graft-ac10").toString + "/s"
    val init = Seq((1L, H), (2L, H)).toDF("_id", "simhash")
    val auto = FingerprintStore.init(spark, rootA, init,
      autoCompactEpochs = 1)
    val plain = FingerprintStore.init(spark, rootB, init,
      autoCompactEpochs = 0)
    val allIds = (Seq(1L, 2L) ++ (1 to 2).flatMap(k => Seq(100L * k,
      100L * k + 1))).toDF("doc_id")
    def same(a: Long, p: Long, what: String): Unit =
      assert(ids(auto.keptAt(a, allIds)) == ids(plain.keptAt(p, allIds)),
        what)
    val a1 = auto.append(batch(1))
    val p1 = plain.append(batch(1))
    assert(a1 == 1L && auto.latestSnapshot == 2L, "the fold fired")
    same(a1, p1, "plain append")
    val a2 = auto.append(batch(2), "t2")
    val p2 = plain.append(batch(2), "t2")
    assert(a2 == 3L && auto.latestSnapshot == 4L)
    same(a2, p2, "token append")
    assert(auto.append(batch(2), "t2") == a2)
    assert(plain.append(batch(2), "t2") == p2)
    same(a2, p2, "replay")
    assert(ids(auto.kept(allIds)) == ids(plain.kept(allIds)))
    val gone = intercept[IllegalArgumentException](
      auto.keptAt(a1, allIds).collect())
    assert(gone.getMessage.contains("below the latest snapshot"))

    // a retrain's snapshot re-clusters: it folds nothing
    val vecs = Seq((1L, Seq(1f, 0.01f, 0f, 0f)), (2L, Seq(0f, 1f, 0f, 0f)),
      (3L, Seq(0f, 0f, 1f, 0f))).toDF("vec_id", "embedding")
    val sm = SemanticDedupStore.init(spark,
      Files.createTempDirectory("graft-ac11").toString + "/s", vecs,
      nCells = 2, iters = 2, maxStaleFrac = 10.0, autoCompactEpochs = 0)
    val e1 = sm.append(Seq((10L, Seq(1f, 0.015f, 0f, 0f)))
      .toDF("vec_id", "embedding"))
    assert(sm.retrain(nCells = 2, iters = 2) == e1 + 1)
    val retrained = intercept[IllegalArgumentException](
      sm.keptAt(e1, vecs.select("vec_id"), "vec_id").collect())
    assert(retrained.getMessage.contains("below the latest snapshot"))
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("live artifacts fold at the default cadence: 20 token appends " +
    "compact at the 17th, and every read equals a never-folded twin " +
    "holding the same rows as one delta") {
    val base = Files.createTempDirectory("graft-ac-la").toString
    val cms = new CountMinArtifact(spark, s"$base/cms", "text", 3, 32)
    val post = new PostingsArtifact(spark, s"$base/post")
    def batch(k: Int) = (0 until 5)
      .map(i => (100L * k + i, s"w${(i * k) % 7} w${k % 4} tail"))
      .toDF("doc_id", "text")
    for (k <- 1 to 20) {
      cms.append(batch(k), s"b$k")
      post.append(batch(k), s"b$k")
      if (k >= 15) {
        val all = (1 to k).map(batch).reduce(_ unionByName _)
        val cmsTwin = new CountMinArtifact(spark, s"$base/cms-twin$k",
          "text", 3, 32)
        cmsTwin.append(all, "all")
        assert(rows(cms.read) == rows(cmsTwin.read), s"count-min at $k")
        val postTwin = new PostingsArtifact(spark, s"$base/post-twin$k")
        postTwin.append(all, "all")
        assert(rows(post.read) == rows(postTwin.read), s"postings at $k")
      }
    }
    // epochs 0..15 are deltas, the 17th append (epoch 16) folds them
    assert(cms.latestSnapshot == 17L && cms.epoch == 20L)
    assert(!Files.exists(Paths.get(s"$base/cms/delta/epoch=0")))
  }

  test("the versions table folds at the default cadence: 20 appends " +
    "compact at the 17th, and the store reads equal a never-folded " +
    "(bucketed, catalog-backed) twin's at every step past the fold") {
    val dir = Files.createTempDirectory("graft-ac-tv").toString + "/v"
    val db = new TemporalVectorDB(spark, dir)
    spark.sql("DROP TABLE IF EXISTS graft_ac_twin")
    val twin = new BucketedTemporalVectorDB(spark, "graft_ac_twin",
      buckets = 2)
    // two versions per content per append: a base, then a sparse delta
    def batch(k: Int) = (for (c <- Seq("x", "y"); v <- 0 to 1) yield
      (c, new java.sql.Timestamp(1700000000000L + k * 1000L + v),
        Array.tabulate(16)(j =>
          if (j == k % 16) k.toFloat + v else 0.5f)))
      .toDF("content_id", "ts", "embedding")
    try {
      for (k <- 1 to 20) {
        db.addVersions(batch(k))
        twin.addVersions(batch(k))
        if (k >= 15)
          assert(rows(db.versions) == rows(twin.versions), s"after $k")
      }
      assert(!Files.exists(Paths.get(s"$dir/versions/epoch=0")))
      assert(Files.exists(Paths.get(s"$dir/_snapshots/17")))
      val targets = db.versions.select("content_id", "seq")
      assert(rows(db.batchReconstruct(targets)) ==
        rows(twin.batchReconstruct(targets)))
    } finally spark.sql("DROP TABLE IF EXISTS graft_ac_twin")
  }
}
