package graft

import graft.operators.{Reconstruction, VersionStore}
import graft.functions.VectorFunctions
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** End-to-end reconstruction accuracy vs ground truth, porting the
  * reference's gates (cos >= 0.995, test_week1.py:232-235; nearest-base
  * selection test_week2.py:399-466). */
class ReconstructionSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 100
  private val rnd = new scala.util.Random(42)
  private def ts(i: Int) = Timestamp.valueOf(f"2025-01-${i + 1}%02d 00:00:00")

  /** Random-walk history: 12 versions, each editing ~10% of dims. */
  private val truth: Seq[Array[Float]] = {
    var cur = Array.fill(dim)(rnd.nextFloat())
    (0 until 12).map { k =>
      if (k > 0)
        cur = cur.map(x =>
          if (rnd.nextDouble() < 0.1) x + rnd.nextFloat() * 0.4f - 0.2f else x)
      cur.clone()
    }
  }

  private lazy val versions = VersionStore.ingestWithSeq(
    truth.zipWithIndex.map { case (v, k) => ("doc", k + 1, ts(k), v) }
      .toDF("content_id", "seq", "ts", "embedding"),
    VersionStore.Config(baseInterval = 5))

  test("every version reconstructs within L2 tolerance 0.01 " +
    "(delta_computer.py:194) and cosine >= 0.995 (test_week1.py:233)") {
    val targets = (1 to 12).map(("doc", _)).toDF("content_id", "seq")
    val recon = Reconstruction.reconstruct(versions, targets)
      .select("seq", "embedding").as[(Int, Array[Float])]
      .collect().toMap
    assert(recon.size == 12)
    for (k <- 1 to 12) {
      val got = recon(k)
      val want = truth(k - 1)
      val l2 = math.sqrt(got.zip(want).map { case (a, b) =>
        (a - b).toDouble * (a - b) }.sum)
      assert(l2 < 0.01, s"seq $k l2=$l2")
      val cos = got.zip(want).map { case (a, b) => a.toDouble * b }.sum /
        (math.sqrt(got.map(x => x.toDouble * x).sum) *
          math.sqrt(want.map(x => x.toDouble * x).sum))
      assert(cos >= 0.995, s"seq $k cos=$cos")
    }
  }

  test("nearest-base selection: with bases {1,6,11}, v3->1, v7->6, v10->6 " +
    "(test_week2.py:405-463)") {
    val bases = versions.where(col("kind") === "base")
      .select("seq").as[Int].collect().sorted.toSeq
    assert(bases == Seq(1, 6, 11))
    val targets = Seq(("doc", 3), ("doc", 7), ("doc", 10))
      .toDF("content_id", "seq")
    val got = Reconstruction.reconstruct(versions, targets)
      .select("seq", "base_seq_used", "reconstruction_cost")
      .as[(Int, Int, Int)].collect()
      .map { case (s, b, c) => s -> (b, c) }.toMap
    assert(got(3) == (1, 2) && got(7) == (6, 1) && got(10) == (6, 4))
  }

  test("target before earliest base yields no row " +
    "(reference raises, delta_computer.py:116-119)") {
    // strip the seq-1 base: keep only deltas + later bases
    val noEarly = versions.where(col("seq") =!= 1)
    val got = Reconstruction.reconstruct(noEarly,
      Seq(("doc", 3)).toDF("content_id", "seq"))
    // bases remaining start at 6 -> no base at-or-before 3
    assert(got.count() == 0)
  }

  test("cost-0 target (a base itself) reconstructs exactly, quality 1.0") {
    val got = Reconstruction.reconstruct(versions,
      Seq(("doc", 6)).toDF("content_id", "seq"))
      .select("reconstruction_cost", "deltas_applied", "quality_score")
      .as[(Int, Int, Double)].collect()(0)
    assert(got == ((0, 0, 1.0)))
  }

  /** The fold computed on the driver from the stored rows: nearest base
    * at or before `k`, then every later delta up to `k` summed per
    * dimension in double and added to the base. */
  private lazy val stored = versions.collect()
  private def driverFold(k: Int): (Int, Int, Array[Float]) = {
    val b = stored.filter(r => r.getAs[String]("kind") == "base" &&
      r.getAs[Int]("seq") <= k).maxBy(_.getAs[Int]("seq"))
    val bSeq = b.getAs[Int]("seq")
    val chain = stored.filter(r => r.getAs[String]("kind") == "delta" &&
      r.getAs[Int]("seq") > bSeq && r.getAs[Int]("seq") <= k)
    val base = b.getAs[scala.collection.Seq[Float]]("embedding").toArray
    val add = new Array[Double](base.length)
    for (r <- chain) {
      val idx = r.getAs[scala.collection.Seq[Int]]("delta_idx")
      val vals = r.getAs[scala.collection.Seq[Float]]("delta_val")
      idx.zip(vals).foreach { case (i, v) => add(i) += v.toDouble }
    }
    (bSeq, chain.length,
      if (chain.exists(_.getAs[scala.collection.Seq[Int]]("delta_idx")
          .nonEmpty))
        Array.tabulate(base.length)(i => (base(i).toDouble + add(i)).toFloat)
      else base)
  }

  test("embeddings equal a driver-side fold of the stored rows, exactly") {
    val targets = (1 to 12).map(("doc", _)).toDF("content_id", "seq")
    val got = Reconstruction.reconstruct(versions, targets)
      .select("seq", "base_seq_used", "deltas_applied", "embedding")
      .as[(Int, Int, Int, Seq[Float])].collect()
    assert(got.length == 12)
    for ((k, b, n, emb) <- got) {
      val (wantB, wantN, want) = driverFold(k)
      assert((b, n) == ((wantB, wantN)), s"seq $k")
      assert(emb == want.toSeq, s"seq $k")
    }
  }

  test("duplicate targets give one row each and do not double-count deltas") {
    val once = Reconstruction.reconstruct(versions,
        Seq(("doc", 4), ("doc", 10)).toDF("content_id", "seq"))
      .as[(String, Int, Seq[Float], Int, Int, Int, Double, Double)]
      .collect().sortBy(_._2).toSeq
    val dup = Reconstruction.reconstruct(versions,
        Seq(("doc", 10), ("doc", 4), ("doc", 10), ("doc", 4), ("doc", 10))
          .toDF("content_id", "seq"))
      .as[(String, Int, Seq[Float], Int, Int, Int, Double, Double)]
      .collect().sortBy(_._2).toSeq
    assert(dup == once)
    assert(dup.map(r => (r._2, r._5)) == Seq((4, 3), (10, 4)))
    assert(dup.map(_._3) ==
      Seq(driverFold(4)._3.toSeq, driverFold(10)._3.toSeq))
  }

  test("a target before the earliest base gives no row; the others " +
    "in the same batch still reconstruct") {
    val noEarly = versions.where(col("seq") =!= 1)
    val got = Reconstruction.reconstruct(noEarly,
        Seq(("doc", 3), ("doc", 5), ("doc", 7), ("ghost", 7))
          .toDF("content_id", "seq"))
      .select("seq", "base_seq_used").as[(Int, Int)].collect().toSeq
    // bases left: {6, 11}; 3 and 5 precede both, "ghost" has no rows
    assert(got == Seq((7, 6)))
  }

  test("a target past a content's max seq folds the whole last chain " +
    "(nearest base 11, chain {12}, cost counted to the target)") {
    val got = Reconstruction.reconstruct(versions,
        Seq(("doc", 20)).toDF("content_id", "seq"))
      .select("seq", "base_seq_used", "deltas_applied",
        "reconstruction_cost", "embedding")
      .as[(Int, Int, Int, Int, Seq[Float])].collect().toSeq
    assert(got == Seq((20, 11, 1, 9, driverFold(12)._3.toSeq)))
  }

  test("validate() flags reconstructions within/outside tolerance") {
    val df = Seq(
      (Array(1.0f, 2.0f), Array(1.0f, 2.0f)),         // exact
      (Array(1.0f, 2.0f), Array(1.0f, 2.005f)),       // within 0.01
      (Array(1.0f, 2.0f), Array(1.0f, 2.5f))          // outside
    ).toDF("embedding", "expected")
    val got = Reconstruction.validate(df)
      .select("is_valid", "cosine_similarity")
      .as[(Boolean, Double)].collect()
    assert(got.map(_._1).toSeq == Seq(true, true, false))
    assert(got.forall(_._2 > 0.9))
  }

  test("costEstimate: chain length + recommended flag without reconstructing") {
    val targets = Seq(("doc", 6), ("doc", 10)).toDF("content_id", "seq")
    val got = Reconstruction.costEstimate(versions, targets)
      .select("seq", "chain_length", "recommended")
      .as[(Int, Int, Boolean)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got(6) == (0, true))  // base itself
    assert(got(10) == (4, true)) // 4-delta chain, cheap
  }

  test("baseCandidates lists all bases at-or-before, cheapest first") {
    val got = Reconstruction.baseCandidates(versions,
      Seq(("doc", 10)).toDF("content_id", "seq"))
      .select("base_seq", "cost").as[(Int, Int)].collect().toSeq
    assert(got == Seq((6, 4), (1, 9))) // bases {1,6}; 11 is after target
  }

  test("costs() audit matches reconstruct() provenance") {
    val audit = Reconstruction.costs(versions)
      .select("seq", "reconstruction_cost").as[(Int, Int)].collect().toMap
    assert(audit(3) == 2 && audit(7) == 1 && audit(10) == 4 && audit(11) == 0)
  }
}
