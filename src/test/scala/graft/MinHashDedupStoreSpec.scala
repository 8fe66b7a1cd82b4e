package graft

import graft.api.MinHashDedupStore
import graft.operators.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The persisted MinHash near-dup store: every committed epoch's kept
  * corpus must equal from-scratch [[Dedup.nearDupPairs]] +
  * [[Dedup.dedupedCorpusCC]] over the text stored as of that epoch —
  * across appends (exact dups, near dups, batch×batch-of-earlier-epoch
  * pairs, shingle-less docs), reopen, time-travel, crash litter,
  * replayed commits, compaction, and the duplicate-id guard. The
  * banding decomposition theorem the store rides: banding is a
  * deterministic function of signatures, so union-banding = base×base
  * (already closed) + batch×base + batch×batch. */
class MinHashDedupStoreSpec extends SparkSpec {
  import spark.implicits._

  private val Tau = 0.5

  private def df(rows: (Long, String)*): DataFrame =
    rows.toDF("doc_id", "text")

  // NOTE on fixture choice: banding recall is probabilistic in theory
  // but DETERMINISTIC given the fixed hash family — each near-dup text
  // below was probed to actually share a band at (16 hashes, 4 bands)
  // (e.g. "a b c d e f g x" at the same 0.71 jaccard does NOT band
  // with doc 1; "p q r s t u v y" does band with doc 3).
  private def base: DataFrame = df(
    1L -> "a b c d e f g h",
    2L -> "a b c d e f g h h2", // jaccard 6/7 with 1, bands
    3L -> "p q r s t u v w",
    4L -> "p q r s t u v w",   // exact dup of 3
    5L -> "completely different words here indeed truly novel stuff",
    6L -> "m n o p q",
    7L -> "x y")               // < 3 tokens: no shingles, never pairs

  private def batch1: DataFrame = df(
    10L -> "a b c d e f g h", // exact dup of base 1
    11L -> "p q r s t u v y", // jaccard 5/7 with 3/4, bands
    12L -> "zz yy xx ww vv uu")

  private def batch2: DataFrame = df(
    20L -> "zz yy xx ww vv tt", // jaccard 3/5 with EPOCH-1's 12, bands
    21L -> "only one shingle")

  private def ids(kept: DataFrame): Set[Long] =
    kept.select(col("doc_id").cast("long")).as[Long].collect().toSet

  private def scratch(union: DataFrame): Set[Long] = {
    val allIds = union.select("doc_id")
    ids(Dedup.dedupedCorpusCC(allIds, "doc_id",
      Dedup.nearDupPairs(union, "doc_id", "text", Tau)
        .select("id1", "id2")))
  }

  test("init → append → reopen → append: every epoch's kept corpus " +
    "equals from-scratch nearDupPairs+closure over that epoch's text; " +
    "a batch pairs with an EARLIER batch through the stored frame; " +
    "shingle-less docs survive; time-travel and compaction hold") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-mhs").toString + "/store"
    val s0 = MinHashDedupStore.init(spark, root, base, Tau)
    assert(s0.epoch == 0L)
    val want0 = scratch(base)
    assert(ids(s0.kept(base.select("doc_id"))) == want0)
    assert(want0 == Set(1L, 3L, 5L, 6L, 7L)) // {1,2} and {3,4} collapse

    assert(s0.append(batch1) == 1L)
    val u1 = base.unionByName(batch1)
    val want1 = scratch(u1)
    assert(ids(s0.kept(u1.select("doc_id"))) == want1)
    assert(!want1.contains(10L) && !want1.contains(11L)) // joined clusters
    assert(want1.contains(12L))

    val s1 = MinHashDedupStore.open(spark, root, Tau)
    assert(s1.epoch == 1L)
    assert(s1.append(batch2) == 2L)
    val u2 = u1.unionByName(batch2)
    val want2 = scratch(u2)
    assert(ids(s1.kept(u2.select("doc_id"))) == want2)
    // 20 paired with 12 — appended at DIFFERENT epochs: the cross join
    // ran against the stored signature union, not just the init slice
    assert(!want2.contains(20L) && want2.contains(12L))
    assert(want2.contains(21L) && want2.contains(7L))

    // time-travel: epoch 1's assignment ignores batch2
    assert(ids(s1.keptAt(1L, u2.select("doc_id"))) ==
      want1 ++ Set(20L, 21L))

    // DELTA CONTENT: epoch 2's comp dir holds exactly the batch's
    // added/relabeled rows — the (12, 20) pair's two members entering
    // the assignment (12 was unpaired before, so it appears NOW) and
    // nothing else (21 is unpaired, base clusters untouched)
    val delta2 = spark.read.parquet(s"$root/comp/epoch=2")
      .select(col("id").cast("long"), col("component").cast("long"))
      .as[(Long, Long)].collect().toSet
    assert(delta2 == Set((12L, 12L), (20L, 12L)))

    // COMPACT: one snapshot epoch, absorbed deltas pruned, reads
    // unchanged, pruned epochs fail loudly, appends keep working
    val preKept = ids(s1.kept(u2.select("doc_id")))
    val snap = s1.compact()
    assert(snap == 3L && s1.latestSnapshot == 3L)
    assert(ids(s1.kept(u2.select("doc_id"))) == preKept)
    assert(!new java.io.File(s"$root/comp/epoch=1").exists)
    val old = intercept[IllegalArgumentException] {
      s1.keptAt(1L, u2.select("doc_id"))
    }
    assert(old.getMessage.contains("below the latest snapshot"))
    val b3 = df(30L -> "a b c d e f g h h2") // exact dup of 2: joins {1,2,10}
    assert(s1.append(b3) == 4L)
    val u3 = u2.unionByName(b3)
    assert(ids(s1.kept(u3.select("doc_id"))) == scratch(u3))
    // the signature artifact holds every shingled doc ever appended
    assert(s1.signatures.count() == u3.count() - 1) // 7 has no shingles
  }

  test("crash litter invisible and overwritten; replayed commit fails " +
    "loudly; duplicate batch id fails loudly; double init fails") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-mhs2").toString + "/store"
    MinHashDedupStore.init(spark, root, base, Tau)
    intercept[IllegalArgumentException] {
      MinHashDedupStore.init(spark, root, base, Tau)
    }
    // unmarked epoch-1 litter: invisible to readers, overwritten by the
    // real append
    Dedup.signatureFrame(df(99L -> "junk litter row words"),
        "doc_id", "text", 3, 16)
      .write.mode("overwrite").parquet(s"$root/sig/epoch=1")
    val s = MinHashDedupStore.open(spark, root, Tau)
    assert(s.epoch == 0L)
    assert(s.append(batch1) == 1L)
    val u1 = base.unionByName(batch1)
    assert(ids(s.kept(u1.select("doc_id"))) == scratch(u1))
    assert(s.signatures.where(col("_id") === 99L).count() == 0)
    // replaying the same epoch commit is rejected at the marker
    intercept[Exception] {
      val m = new org.apache.hadoop.fs.Path(s"$root/_commits/1")
      m.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .create(m, false).close()
    }
    // an already-stored id is rejected loudly
    val dup = intercept[IllegalArgumentException] {
      s.append(df(12L -> "whatever text this is"))
    }
    assert(dup.getMessage.contains("already stored"))
  }

  test("banded-artifact append path ≡ the re-collapse path bit for " +
    "bit: crossBandNearDupPairs over a multi-epoch band union (with an " +
    "exact text group SPANNING epochs, i.e. duplicate epoch-local " +
    "reps) equals crossSigNearDupPairs over the same base") {
    // slice the base into two 'epochs' sharing an exact text group
    // (doc 3 in slice A, doc 4 = same text in slice B → the band union
    // carries TWO reps for that group, the store's epoch-local shape)
    val sliceA = df(1L -> "a b c d e f g h", 3L -> "p q r s t u v w",
      5L -> "completely different words here indeed truly novel stuff")
    val sliceB = df(2L -> "a b c d e f g h h2", 4L -> "p q r s t u v w",
      6L -> "m n o p q")
    def sig(d: DataFrame) =
      Dedup.signatureFrame(d, "doc_id", "text", 3, 16)
    val baseSig = sig(sliceA).unionByName(sig(sliceB))
    val bandUnion = Dedup.bandArtifact(sig(sliceA), 16, 4)
      .unionByName(Dedup.bandArtifact(sig(sliceB), 16, 4))
    // two reps per spanning group, one per other group
    assert(bandUnion.count() >
      Dedup.bandArtifact(baseSig, 16, 4).count())
    val newSig = sig(batch1)
    def rows(d: DataFrame): Set[(Long, Long, Double)] = d
      .select(col("new_id").cast("long"),
        col("existing_id").cast("long"), col("jaccard").cast("double"))
      .as[(Long, Long, Double)].collect().toSet
    val banded = rows(Dedup.crossBandNearDupPairs(newSig, bandUnion,
      baseSig, Tau, 16, 4))
    val direct = rows(Dedup.crossSigNearDupPairs(newSig, baseSig,
      Tau, 16, 4))
    assert(banded == direct && banded.nonEmpty)
  }

  test("exactly-once token appends: a replayed token is a no-op; a " +
    "fresh token appends") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-mhs3").toString + "/store"
    val s = MinHashDedupStore.init(spark, root, base, Tau)
    val e1 = s.append(batch1, "doc_id", "text", "batch-0")
    assert(e1 == 1L)
    // replay: same token, same (or even different) frame — NO-OP
    assert(s.append(batch1, "doc_id", "text", "batch-0") == 1L)
    assert(s.epoch == 1L)
    val e2 = s.append(batch2, "doc_id", "text", "batch-1")
    assert(e2 == 2L)
    val u2 = base.unionByName(batch1).unionByName(batch2)
    assert(ids(s.kept(u2.select("doc_id"))) == scratch(u2))
  }
}
