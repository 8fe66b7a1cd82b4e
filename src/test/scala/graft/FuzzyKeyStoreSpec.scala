package graft

import graft.api.FuzzyKeyStore
import graft.operators.{Closure, Dedup}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The persisted fuzzy-key store: every committed epoch's kept-key
  * corpus and cluster assignment must equal the from-scratch
  * [[Dedup.fuzzyKeyPairs]] + closure chain over the keys stored as of
  * that epoch — across appends (exact-dup mass on an existing key,
  * cross pairs against keys stored epochs earlier), reopen,
  * time-travel, crash litter, replayed commits, and the id-ordering
  * guard. */
class FuzzyKeyStoreSpec extends SparkSpec {
  import spark.implicits._

  private def base: DataFrame = Seq(
    (1L, "alpha"), (2L, "alpha"), // identical pair (one distinct key)
    (3L, "alphb"),                // dist-1 of alpha
    (5L, "gamma"),
    (7L, "delta")                 // unpaired singleton
  ).toDF("doc_id", "key")

  // 10 joins the alpha cluster (dist 1 of both members); 11 a fresh
  // singleton; 12 an EXISTING key (exact-dup mass, provably no edge)
  private def batch1: DataFrame = Seq(
    (10L, "alphc"), (11L, "zzzzz"), (12L, "gamma")).toDF("doc_id", "key")

  // 20 pairs with the base key gamma (stored two epochs earlier);
  // 21 pairs with batch1's zzzzz (stored ONE epoch earlier)
  private def batch2: DataFrame = Seq(
    (20L, "gammb"), (21L, "zzzzx")).toDF("doc_id", "key")

  private def keptSet(df: DataFrame): Set[(Long, String, Long)] =
    df.select(col("rep").cast("long"), col("key"),
        col("cnt").cast("long"))
      .as[(Long, String, Long)].collect().toSet

  private def compSet(df: DataFrame): Set[(Long, Long)] =
    df.select(col("id").cast("long"), col("component").cast("long"))
      .as[(Long, Long)].collect().toSet

  private def scratchKept(u: DataFrame): Set[(Long, String, Long)] = {
    val keys = u.where(length(col("key")) > 0)
      .groupBy("key")
      .agg(min(col("doc_id").cast("long")).as("rep"),
        count(lit(1)).as("cnt"))
    val pairs = Dedup.fuzzyKeyPairs(u, "key", "doc_id")
      .select(col("rep_a").as("id1"), col("rep_b").as("id2"))
    keptSet(Dedup.dedupedCorpusCC(keys, "rep", pairs)
      .select("rep", "key", "cnt"))
  }

  private def scratchComp(u: DataFrame): Set[(Long, Long)] =
    compSet(Closure.components(
      Dedup.fuzzyKeyPairs(u, "key", "doc_id")
        .select(col("rep_a").as("id1"), col("rep_b").as("id2"))))

  test("init → append → reopen → append: every epoch's keptKeys and " +
    "components equal the from-scratch chain over that epoch's keys; " +
    "time-travel serves old epochs; existing-key mass adds no edge") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-fks").toString + "/store"
    val s0 = FuzzyKeyStore.init(spark, root, base)
    assert(s0.epoch == 0L)
    assert(keptSet(s0.keptKeys) == scratchKept(base))
    assert(compSet(s0.components) == scratchComp(base))

    assert(s0.append(batch1) == 1L)
    val u1 = base.unionByName(batch1)
    assert(keptSet(s0.keptKeys) == scratchKept(u1))
    assert(compSet(s0.components) == scratchComp(u1))
    // the existing key gamma gained mass but no edge: cnt 2, rep 5
    assert(keptSet(s0.keptKeys).contains((5L, "gamma", 2L)))
    // alphc joined the alpha cluster: only rep 1 survives of {1,3,10}
    val k1 = keptSet(s0.keptKeys).map(_._1)
    assert(k1.contains(1L) && !k1.contains(3L) && !k1.contains(10L))

    val s1 = FuzzyKeyStore.open(spark, root)
    assert(s1.epoch == 1L)
    assert(s1.append(batch2) == 2L)
    val u2 = u1.unionByName(batch2)
    assert(keptSet(s1.keptKeys) == scratchKept(u2))
    assert(compSet(s1.components) == scratchComp(u2))
    // cross pairs against keys stored one AND two epochs earlier
    val k2 = keptSet(s1.keptKeys).map(_._1)
    assert(!k2.contains(20L) && !k2.contains(21L))
    // time-travel: epoch 1's view ignores batch2
    assert(keptSet(s1.keptKeysAt(1L)) == scratchKept(u1))
    assert(s1.keys.count() == u2.count())

    // DELTA CONTENT: each epoch's comp directory holds exactly the rows
    // its batch added or relabeled. Epoch 1: alphc joins the alpha
    // cluster → (10→1) only (the cluster's base rows (1→1),(3→1) keep
    // their label and are NOT rewritten). Epoch 2: gammb pairs with the
    // base key gamma → {(5,5),(20,5)}; zzzzx pairs with batch1's zzzzz
    // → {(11,11),(21,11)}.
    def deltaOf(n: Long): Set[(Long, Long)] =
      spark.read.parquet(s"$root/comp/epoch=$n")
        .select(col("id").cast("long"), col("component").cast("long"))
        .as[(Long, Long)].collect().toSet
    assert(deltaOf(1L) == Set((10L, 1L)))
    assert(deltaOf(2L) == Set((5L, 5L), (20L, 5L), (11L, 11L),
      (21L, 11L)))

    // COMPACT: one snapshot epoch, absorbed deltas pruned, reads
    // unchanged; pruned epochs fail loudly; appends keep extending
    val preKept = keptSet(s1.keptKeys)
    val snap = s1.compact()
    assert(snap == 3L && s1.latestSnapshot == 3L)
    assert(keptSet(s1.keptKeys) == preKept)
    assert(!new java.io.File(s"$root/comp/epoch=1").exists)
    assert(!new java.io.File(s"$root/index/epoch=1").exists)
    val old = intercept[IllegalArgumentException] { s1.keptKeysAt(1L) }
    assert(old.getMessage.contains("below the latest snapshot"))
    assert(s1.append(Seq((100L, "deltb")).toDF("doc_id", "key")) == 4L)
    val u3 = u2.unionByName(Seq((100L, "deltb")).toDF("doc_id", "key"))
    assert(keptSet(s1.keptKeys) == scratchKept(u3))
    assert(compSet(s1.components) == scratchComp(u3))
  }

  test("crash litter invisible; replayed commit fails loudly; " +
    "id-ordering guard fails loudly; double init fails") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-fks2").toString + "/store"
    FuzzyKeyStore.init(spark, root, base)
    intercept[IllegalArgumentException] {
      FuzzyKeyStore.init(spark, root, base)
    }
    // unmarked epoch-1 litter in keys/ and index/ is invisible
    Seq((99L, "junk")).toDF("doc_id", "key")
      .write.mode("overwrite").parquet(s"$root/keys/epoch=1")
    val s = FuzzyKeyStore.open(spark, root)
    assert(s.epoch == 0L)
    assert(s.append(batch1) == 1L)
    assert(keptSet(s.keptKeys) == scratchKept(base.unionByName(batch1)))
    // replaying the same epoch commit is rejected at the marker
    intercept[Exception] {
      val m = new org.apache.hadoop.fs.Path(s"$root/_commits/1")
      m.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .create(m, false).close()
    }
    // a batch id at or below the stored max id is rejected loudly
    val low = intercept[IllegalArgumentException] {
      s.append(Seq((12L, "newkey")).toDF("doc_id", "key"))
    }
    assert(low.getMessage.contains("strictly above"))
  }

  test("interrupted compact: a committed compaction epoch with NO " +
    "snapshot marker reads identically (comp is a full-content delta " +
    "under latest-wins; duplicated index rows are tolerated by the " +
    "distinct()-ed pair join) and the next compact() + append finish " +
    "correctly") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-fks3").toString + "/store"
    val s = FuzzyKeyStore.init(spark, root, base)
    s.append(batch1)
    val u1 = base.unionByName(batch1)
    val want = keptSet(s.keptKeys)
    // the torn state: epoch 2 = empty keys delta + FULL index + FULL
    // comp, commit marker present, snapshot marker absent, no prune
    s.index.write.parquet(s"$root/index/epoch=2")
    s.components.write.parquet(s"$root/comp/epoch=2")
    spark.read.parquet(s"$root/keys/epoch=0").limit(0)
      .write.parquet(s"$root/keys/epoch=2")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new org.apache.hadoop.fs.Path(s"$root/_commits/2"), false)
      .close()
    val s2 = FuzzyKeyStore.open(spark, root)
    assert(s2.epoch == 2L && s2.latestSnapshot == 0L)
    assert(keptSet(s2.keptKeys) == want)
    // an append lands correctly on the torn state (its variant probe
    // sees duplicated index rows — harmless: edges are distinct()-ed)
    assert(s2.append(batch2) == 3L)
    val u2 = u1.unionByName(batch2)
    assert(keptSet(s2.keptKeys) == scratchKept(u2))
    assert(compSet(s2.components) == scratchComp(u2))
    // the retried compact absorbs everything below its snapshot
    val snap = s2.compact()
    assert(snap == 4L && s2.latestSnapshot == 4L)
    assert(keptSet(s2.keptKeys) == scratchKept(u2))
    assert(!new java.io.File(s"$root/index/epoch=2").exists)
    assert(!new java.io.File(s"$root/comp/epoch=2").exists)
  }
}
