package graft

import graft.api.SemanticDedupStore
import graft.operators.{Closure, Clustering, Dedup}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The persisted semantic-dedup store: every committed epoch's kept set
  * must equal a from-scratch replay of the FROZEN-centroid chain
  * (assign → within-cell pairs → closure → least-similar keep) over the
  * vectors stored as of that epoch, using the STORE's persisted
  * centroids — across appends, reopen, time-travel, the cumulative
  * staleness gate, retrain (which must also equal the full from-scratch
  * [[Dedup.semanticDeduped]] trainer chain), crash litter, and the
  * disjoint-id guard. */
class SemanticDedupStoreSpec extends SparkSpec {
  import spark.implicits._

  private val TAU = 0.95
  private val K = 2
  private val IT = 2

  private def vf(xs: Double*): Seq[Float] = xs.map(_.toFloat)

  private def base: DataFrame = Seq(
    (1L, vf(1, 0.01, 0, 0)), (2L, vf(1, 0.02, 0, 0)),   // near-dup pair A
    (3L, vf(0.01, 1, 0, 0)), (4L, vf(0.03, 1, 0, 0)),   // near-dup pair B
    (5L, vf(0, 0, 1, 0)),                               // singleton
    (6L, vf(0.6, 0.8, 0, 0)),                           // mid-direction
    (7L, vf(0, 0, 0, 0))                                // zero-norm
  ).toDF("vec_id", "embedding")

  private def batch1: DataFrame = Seq(
    (10L, vf(1, 0.015, 0, 0)),     // joins pair A's direction
    (11L, vf(0, 0, 0.99, 0.05))    // near the singleton 5
  ).toDF("vec_id", "embedding")

  private def batch2: DataFrame = Seq(
    (20L, vf(0.02, 1, 0, 0)),      // joins pair B's direction
    (21L, vf(0.1, 0, 0, 1))        // fresh direction
  ).toDF("vec_id", "embedding")

  private def batch3: DataFrame = Seq(
    (30L, vf(1, 0.018, 0, 0))).toDF("vec_id", "embedding")

  private def ids(df: DataFrame): Set[Long] =
    df.select(col("vec_id").cast("long")).as[Long].collect().toSet

  /** From-scratch replay of the frozen chain over `union` under the
    * given centroids — the q119 oracle shape. */
  private def scratchKept(union: DataFrame,
                          cents: Array[Array[Double]]): Set[Long] = {
    val asg = Clustering.assignVecWithCentroids(union, cents)
    val comp = Closure.components(
      Dedup.assignmentDupPairs(asg, TAU).select("id1", "id2"))
    val drop = Dedup.semanticDropIds(comp,
        asg.select(col("vec_id"), col("sim")))
      .as[Long].collect().toSet
    ids(union.select("vec_id")) -- drop
  }

  test("init → append → reopen → append: every epoch's kept set equals " +
    "the frozen-chain replay under the persisted centroids; zero-norm " +
    "vectors survive; time-travel serves old epochs") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-sds").toString + "/store"
    val s0 = SemanticDedupStore.init(spark, root, base, K, IT, TAU,
      maxStaleFrac = 0.8)
    assert(s0.epoch == 0L && s0.latestSnapshot == 0L)
    val cents = s0.centroids // reloaded from the parquet artifact
    assert(ids(s0.kept(base)) == scratchKept(base, cents))
    // the near-dup pairs actually deduplicated something
    assert(ids(s0.kept(base)).size < 7)
    // the zero-norm vector is unassignable and always survives
    assert(ids(s0.kept(base)).contains(7L))

    assert(s0.append(batch1) == 1L)
    val u1 = base.unionByName(batch1)
    assert(ids(s0.kept(u1)) == scratchKept(u1, cents))

    // DELTA CONTENT: epoch 1's comp directory holds exactly the rows
    // the append added or relabeled — the from-scratch frozen-chain
    // replays over base and union pin the expected difference
    def compSet(v: DataFrame): Set[(Long, Long)] = {
      val asg = Clustering.assignVecWithCentroids(v, cents)
      Closure.components(
          Dedup.assignmentDupPairs(asg, TAU).select("id1", "id2"))
        .select(col("id").cast("long"), col("component").cast("long"))
        .as[(Long, Long)].collect().toSet
    }
    val delta1 = spark.read.parquet(s"$root/comp/epoch=1")
      .select(col("id").cast("long"), col("component").cast("long"))
      .as[(Long, Long)].collect().toSet
    assert(delta1 == compSet(u1) -- compSet(base))
    assert(delta1.nonEmpty) // batch1 genuinely paired

    val s1 = SemanticDedupStore.open(spark, root, TAU,
      maxStaleFrac = 0.8)
    assert(s1.epoch == 1L)
    assert(s1.append(batch2) == 2L)
    val u2 = u1.unionByName(batch2)
    assert(ids(s1.kept(u2)) == scratchKept(u2, cents))
    // time-travel: epoch 1's drop set ignores batch2
    assert(ids(s1.keptAt(1L, u2)) ==
      scratchKept(u1, cents) ++ ids(batch2.select("vec_id")))
    assert(s1.vectors.count() == u2.count())
    assert(s1.staleFrac > 0.0)
  }

  test("cumulative staleness gate fails loudly; retrain re-freezes " +
    "(≡ the full from-scratch trainer chain), resets staleness, prunes " +
    "absorbed epochs, and appends succeed again") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-sds2").toString + "/store"
    // snapshot mass = 6 assigned rows (the zero vector never assigns);
    // limit = 0.8 * 6 = 4.8 → two 2-row appends pass (2, then 4), a
    // third fails at 5
    val s = SemanticDedupStore.init(spark, root, base, K, IT, TAU,
      maxStaleFrac = 0.8)
    s.append(batch1)
    s.append(batch2)
    val stale = intercept[IllegalArgumentException] { s.append(batch3) }
    assert(stale.getMessage.contains("retrain"))

    val snap = s.retrain(K, IT)
    assert(snap == 3L && s.latestSnapshot == 3L && s.staleFrac == 0.0)
    val u2 = base.unionByName(batch1).unionByName(batch2)
    // retrain ≡ the full from-scratch trainer chain over the union
    assert(ids(s.kept(u2)) ==
      ids(Dedup.semanticDeduped(u2, K, IT, TAU).select("vec_id")))
    // and ≡ the frozen replay under the NEW persisted centroids
    assert(ids(s.kept(u2)) == scratchKept(u2, s.centroids))
    // pruned epochs below the snapshot fail loudly
    val old = intercept[IllegalArgumentException] { s.keptAt(1L, u2) }
    assert(old.getMessage.contains("below the latest snapshot"))

    assert(s.append(batch3) == 4L)
    val u3 = u2.unionByName(batch3)
    assert(ids(s.kept(u3)) == scratchKept(u3, s.centroids))
  }

  test("trainer-free compact(): reads identical, staleFrac UNCHANGED " +
    "(compaction must not mask centroid drift), centroids still the " +
    "TRAIN generation's, appends extend from the compacted snapshot, " +
    "and the stale gate still trips at the train-relative limit; a " +
    "torn compact (sentinel litter, no commit) stays invisible and the " +
    "retry converges") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-sds4").toString + "/store"
    val s = SemanticDedupStore.init(spark, root, base, K, IT, TAU,
      maxStaleFrac = 0.8)
    s.append(batch1)
    val cents = s.centroids
    val u1 = base.unionByName(batch1)
    val preKept = ids(s.kept(u1))
    val preStale = s.staleFrac
    assert(preStale > 0.0)

    val snap = s.compact()
    assert(snap == 2L && s.latestSnapshot == 2L && s.latestTrain == 0L)
    assert(ids(s.kept(u1)) == preKept)
    assert(s.staleFrac == preStale) // train-relative, NOT reset
    assert(s.centroids.map(_.toSeq).toSeq ==
      cents.map(_.toSeq).toSeq) // same frozen generation
    // absorbed asg/comp deltas pruned; the epoch the compaction folded
    // reads from the snapshot, time-travel further below fails loudly
    assert(!new java.io.File(s"$root/asg/epoch=1").exists)
    assert(ids(s.keptAt(1L, u1)) == preKept)
    val old = intercept[IllegalArgumentException] { s.keptAt(0L, base) }
    assert(old.getMessage.contains("below the latest snapshot"))

    // appends extend from the compacted snapshot under the SAME frozen
    // chain (scratch replay uses the ORIGINAL centroids)
    assert(s.append(batch2) == 3L)
    val u2 = u1.unionByName(batch2)
    assert(ids(s.kept(u2)) == scratchKept(u2, cents))
    // the gate limit is still train-relative: 6 train rows * 0.8 = 4.8,
    // 4 appended → a further 1-row append tips past it even though the
    // SNAPSHOT now carries the full corpus
    val stale = intercept[IllegalArgumentException] { s.append(batch3) }
    assert(stale.getMessage.contains("retrain"))

    // torn compact: sentinel + artifacts written, commit crashed — the
    // next compact() must converge (the sweep covers every window; this
    // pins the sentinel-litter one explicitly on a reopened handle)
    val s2 = SemanticDedupStore.open(spark, root, TAU,
      maxStaleFrac = 0.8)
    graft.api.EpochStoreKit.installFaultHook(root, p =>
      if (p.contains("/_commits/")) throw new RuntimeException("boom"))
    intercept[RuntimeException] { s2.compact() }
    graft.api.EpochStoreKit.clearFaultHook(root)
    assert(s2.epoch == 3L && s2.latestSnapshot == 2L) // litter invisible
    assert(ids(s2.kept(u2)) == scratchKept(u2, cents))
    val snap2 = s2.compact()
    assert(snap2 == 4L && s2.latestSnapshot == 4L)
    assert(ids(s2.kept(u2)) == scratchKept(u2, cents))
    assert(s2.staleFrac == s.staleFrac)
  }

  test("crash litter invisible (including a centroid dir at an " +
    "uncommitted epoch); replayed commit fails loudly; duplicate " +
    "vec_id fails loudly; double init fails") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-sds3").toString + "/store"
    SemanticDedupStore.init(spark, root, base, K, IT, TAU)
    intercept[IllegalArgumentException] {
      SemanticDedupStore.init(spark, root, base, K, IT, TAU)
    }
    // a torn retrain: centroids + asg litter at unmarked epoch 1 —
    // invisible to epoch, latestSnapshot, and reads
    val s0 = SemanticDedupStore.open(spark, root, TAU)
    Clustering.saveCentroids(spark,
      Array(Array(1.0, 0, 0, 0)), s"$root/centroids/epoch=1")
    Seq((99L, 0, 0.5, Seq(1.0))).toDF("vec_id", "cell", "sim", "dv")
      .write.mode("overwrite").parquet(s"$root/asg/epoch=1")
    val s = SemanticDedupStore.open(spark, root, TAU)
    assert(s.epoch == 0L && s.latestSnapshot == 0L)
    assert(ids(s.kept(base)) == scratchKept(base, s.centroids))
    // the retry (here: a normal append) overwrites the litter
    assert(s.append(batch1) == 1L)
    assert(s.latestSnapshot == 0L) // the litter centroid dir was replaced
    val u1 = base.unionByName(batch1)
    assert(ids(s.kept(u1)) == scratchKept(u1, s.centroids))
    // replaying the same epoch commit is rejected at the marker
    intercept[Exception] {
      val m = new org.apache.hadoop.fs.Path(s"$root/_commits/1")
      m.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .create(m, false).close()
    }
    // an already-stored id is rejected loudly
    val dup = intercept[IllegalArgumentException] {
      s.append(Seq((3L, vf(1, 0, 0, 0))).toDF("vec_id", "embedding"))
    }
    assert(dup.getMessage.contains("already stored"))
  }
}
