package graft

import graft.api.FingerprintStore
import graft.operators.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The persisted fingerprint store: every committed epoch's kept corpus
  * must equal from-scratch [[Dedup.hashDeduped]] over the prints stored
  * as of that epoch — across appends (including a batch id taking over
  * a cluster minimum), reopen, time-travel, crash litter, replayed
  * commits, and the duplicate-id guard. */
class FingerprintStoreSpec extends SparkSpec {
  import spark.implicits._

  private val H0 = 0x00FF00FF00L
  private val H2 = 0x7700AA0011L
  private val HC = 0x0123456789L

  private def base: DataFrame = Seq(
    (10L, H0), (12L, H0),      // identical-hash pair
    (14L, H0 ^ 1L),            // banded into the H0 cluster
    (20L, H2), (22L, H2 ^ 6L), // a second cluster
    (30L, HC),                 // unpaired singleton
    (40L, 0x5544332211L)       // singleton whose hash batch2 shares
  ).toDF("_id", "simhash")

  // batch1: id 3 takes over the H0 cluster minimum; {60, 61} an isolated
  // new-hash clique; 80 joins the H2 cluster
  private def batch1: DataFrame = Seq(
    (3L, H0), (60L, 0x13572468ACL), (61L, 0x13572468ACL),
    (80L, H2 ^ 1L)).toDF("_id", "simhash")

  // batch2: 90 shares the base singleton 40's hash (group becomes
  // multi-member); 95 bridges nothing (fresh singleton)
  private def batch2: DataFrame = Seq(
    (90L, 0x5544332211L), (95L, 0x7FFFFFFFFFL)).toDF("_id", "simhash")

  private def ids(df: DataFrame): Set[Long] =
    df.select(col("doc_id").cast("long")).as[Long].collect().toSet

  private def scratch(prints: DataFrame, corpus: DataFrame): Set[Long] =
    ids(Dedup.hashDeduped(corpus, "doc_id", prints, maxHamming = 3))

  test("init → append → reopen → append: every epoch's kept corpus " +
    "equals from-scratch hashDeduped over that epoch's prints; " +
    "time-travel serves old epochs; min takeover happens") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-fps").toString + "/store"
    val allIds = (base.select("_id") unionByName batch1.select("_id")
      unionByName batch2.select("_id")).select(col("_id").as("doc_id"))
    val s0 = FingerprintStore.init(spark, root, base)
    assert(s0.epoch == 0L)
    assert(ids(s0.kept(allIds)) == scratch(base, allIds))

    assert(s0.append(batch1) == 1L)
    val u1 = base.unionByName(batch1)
    val want1 = scratch(u1, allIds)
    assert(ids(s0.kept(allIds)) == want1)
    // the takeover: batch id 3 is the H0 cluster's new keep
    assert(want1.contains(3L) && !want1.contains(10L))

    val s1 = FingerprintStore.open(spark, root)
    assert(s1.epoch == 1L)
    assert(s1.append(batch2) == 2L)
    val u2 = u1.unionByName(batch2)
    assert(ids(s1.kept(allIds)) == scratch(u2, allIds))
    // the base singleton 40's group became multi-member and deduped
    assert(!ids(s1.kept(allIds)).contains(90L) &&
      ids(s1.kept(allIds)).contains(40L))
    // time-travel: epoch 1's drop set ignores batch2
    assert(ids(s1.keptAt(1L, allIds)) == want1)
    assert(s1.prints.count() == u2.count())

    // DELTA CONTENT: epoch 1's comp directory holds exactly the rows
    // batch1 added or relabeled — the takeover relabels the H0 cluster
    // (3→3, 10→3, 14→3), 80 joins H2 (80→20), {60,61}'s new-hash clique
    // enters as its rep singleton (60→60); the UNTOUCHED H2 base rows
    // (20→20), (22→20) are NOT rewritten
    val delta1 = spark.read.parquet(s"$root/comp/epoch=1")
      .select(col("id").cast("long"), col("component").cast("long"))
      .as[(Long, Long)].collect().toSet
    assert(delta1 == Set((3L, 3L), (10L, 3L), (14L, 3L), (80L, 20L),
      (60L, 60L)))

    // COMPACT: rewrites the resolved assignment as one snapshot epoch,
    // prunes absorbed deltas, reads unchanged; pruned epochs fail loudly
    val preKept = ids(s1.kept(allIds))
    val snap = s1.compact()
    assert(snap == 3L && s1.latestSnapshot == 3L)
    assert(ids(s1.kept(allIds)) == preKept)
    assert(!new java.io.File(s"$root/comp/epoch=1").exists)
    val old = intercept[IllegalArgumentException] {
      s1.keptAt(1L, allIds)
    }
    assert(old.getMessage.contains("below the latest snapshot"))
    // appends keep extending from the compacted snapshot
    assert(s1.append(Seq((200L, HC)).toDF("_id", "simhash")) == 4L)
    val u3 = u2.unionByName(Seq((200L, HC)).toDF("_id", "simhash"))
    val all3 = allIds.unionByName(
      Seq(200L).toDF("doc_id").select(col("doc_id").cast("long")))
    assert(ids(s1.kept(all3)) == scratch(u3, all3))
  }

  test("crash litter invisible and overwritten; replayed commit fails " +
    "loudly; duplicate batch id fails loudly; double init fails") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-fps2").toString + "/store"
    FingerprintStore.init(spark, root, base)
    intercept[IllegalArgumentException] {
      FingerprintStore.init(spark, root, base)
    }
    // unmarked epoch-1 litter
    Seq((99L, 1L)).toDF("_id", "simhash")
      .write.mode("overwrite").parquet(s"$root/prints/epoch=1")
    val s = FingerprintStore.open(spark, root)
    assert(s.epoch == 0L)
    assert(s.append(batch1) == 1L)
    val allIds = (base.select("_id") unionByName batch1.select("_id"))
      .select(col("_id").as("doc_id"))
    assert(ids(s.kept(allIds)) ==
      scratch(base.unionByName(batch1), allIds))
    // replaying the same epoch commit is rejected at the marker
    intercept[Exception] {
      val m = new org.apache.hadoop.fs.Path(s"$root/_commits/1")
      m.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .create(m, false).close()
    }
    // an already-stored id is rejected loudly
    val dup = intercept[IllegalArgumentException] {
      s.append(Seq((12L, 7L)).toDF("_id", "simhash"))
    }
    assert(dup.getMessage.contains("already stored"))
  }

  test("interrupted compact: a committed compaction epoch with NO " +
    "snapshot marker (the crash window between the two markers, before " +
    "any prune) reads identically — the full assignment is just a " +
    "full-content delta under latest-wins — and the next compact() " +
    "finishes the job") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-fps3").toString + "/store"
    val allIds = (base.select("_id") unionByName batch1.select("_id"))
      .select(col("_id").as("doc_id"))
    val s = FingerprintStore.init(spark, root, base)
    s.append(batch1)
    val want = ids(s.kept(allIds))
    // hand-build the torn state compact() would leave if it crashed
    // right after its commit marker: epoch 2 holds an empty prints
    // delta + the FULL resolved grp and assignment, commit marker
    // present, snapshot marker ABSENT, nothing pruned
    s.components.write.parquet(s"$root/comp/epoch=2")
    Dedup.hashGroupArtifact(s.prints).write.parquet(s"$root/grp/epoch=2")
    spark.read.parquet(s"$root/prints/epoch=0").limit(0)
      .write.parquet(s"$root/prints/epoch=2")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new org.apache.hadoop.fs.Path(s"$root/_commits/2"), false)
      .close()
    val s2 = FingerprintStore.open(spark, root)
    assert(s2.epoch == 2L && s2.latestSnapshot == 0L)
    assert(ids(s2.kept(allIds)) == want) // reads unchanged
    // the retried compact writes its own snapshot epoch, marks it, and
    // prunes every absorbed delta (including the torn epoch 2)
    val snap2 = s2.compact()
    assert(snap2 == 3L && s2.latestSnapshot == 3L)
    assert(ids(s2.kept(allIds)) == want)
    assert(!new java.io.File(s"$root/comp/epoch=1").exists)
    assert(!new java.io.File(s"$root/comp/epoch=2").exists)
  }

  test("the maintained grp artifact resolves to hashGroupArtifact over " +
    "the full prints at every epoch (incl. a rep UNDERCUT by a later " +
    "smaller id), and epoch deltas hold exactly the added/relabeled " +
    "hash rows") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-fps4").toString + "/store"
    val s = FingerprintStore.init(spark, root, base)
    s.append(batch1) // id 3 undercuts H0's rep 10
    s.append(batch2) // 90 shares 40's hash but does NOT undercut
    def grpRows(df: DataFrame): Set[(Long, Long)] = df
      .select(col("_sh").cast("long"), col("_rep").cast("long"))
      .as[(Long, Long)].collect().toSet
    val resolved = graft.api.EpochStoreKit.resolveLatestWins(spark, root,
      "grp", 0L, 2L, Seq("_sh"), Seq("_sh", "_rep"))
    assert(grpRows(resolved) ==
      grpRows(Dedup.hashGroupArtifact(s.prints)))
    // epoch 1's delta: the two batch-new hashes + the undercut H0 rep
    val d1 = grpRows(spark.read.parquet(s"$root/grp/epoch=1"))
    assert(d1 == Set((H0, 3L), (0x13572468ACL, 60L), (H2 ^ 1L, 80L)))
    // epoch 2's delta: one new hash only (90 does not undercut 40)
    val d2 = grpRows(spark.read.parquet(s"$root/grp/epoch=2"))
    assert(d2 == Set((0x7FFFFFFFFFL, 95L)))
  }
}
