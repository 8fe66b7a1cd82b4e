package graft

import graft.operators.VersionStore
import java.sql.Timestamp

/** Promotion-policy truth table, porting the reference's week2 suites
  * (/root/reference/tests/test_week2.py:47-148, 323-397, 405-463). */
class VersionStoreSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 100
  private def ts(i: Int) = Timestamp.valueOf(f"2025-01-${i + 1}%02d 00:00:00")

  /** versions where v(k) edits `frac` of dims by +0.5 relative to v(k-1). */
  private def history(edits: Seq[Double]): Seq[(String, Int, Timestamp, Array[Float])] = {
    var cur = Array.fill(dim)(0.1f)
    edits.zipWithIndex.map { case (frac, k) =>
      if (k > 0) {
        val n = (dim * frac).toInt
        cur = cur.zipWithIndex.map { case (x, i) =>
          if (i < n) x + 0.5f else x
        }
      }
      ("doc", k + 1, ts(k), cur.clone())
    }
  }

  private def kinds(edits: Seq[Double],
                    cfg: VersionStore.Config): Seq[(Int, String)] = {
    val df = history(edits)
      .toDF("content_id", "seq", "ts", "embedding")
    VersionStore.ingestWithSeq(df, cfg)
      .select("seq", "kind").as[(Int, String)].collect().sorted.toSeq
  }

  test("first version is always a base (temporal_database.py:381-382)") {
    assert(kinds(Seq(0.0), VersionStore.Config()) == Seq((1, "base")))
  }

  test("small edit -> delta; 75% edit -> sparsity-promoted base; " +
    "50% edit -> delta (test_week2.py:60-119 shape)") {
    val ks = kinds(Seq(0.0, 0.05, 0.75, 0.5),
      VersionStore.Config(baseInterval = 100, promotionRatio = 0.7))
    assert(ks == Seq((1, "base"), (2, "delta"), (3, "base"), (4, "delta")))
  }

  test("interval promotion at (seq-1) % interval == 0 " +
    "(temporal_database.py:384-386 off-by-one)") {
    val ks = kinds(Seq.fill(12)(0.05),
      VersionStore.Config(baseInterval = 5, promotionRatio = 0.99))
    val bases = ks.filter(_._2 == "base").map(_._1)
    assert(bases == Seq(1, 6, 11)) // the reference's own test shape
  }

  test("force column promotes mid-interval; next delta chains from the " +
    "forced base (temporal_database.py:86-92, 378)") {
    val df = history(Seq(0.0, 0.05, 0.05, 0.05))
      .toDF("content_id", "seq", "ts", "embedding")
      .withColumn("force", org.apache.spark.sql.functions.col("seq") === 3)
    val cfg = VersionStore.Config(baseInterval = 100, promotionRatio = 0.99)
    val stored = VersionStore.ingestWithSeq(df, cfg)
    val ks = stored.select("seq", "kind").as[(Int, String)]
      .collect().sorted.toSeq
    // without force all of 2..4 would be deltas (tiny edits, huge interval)
    assert(ks == Seq((1, "base"), (2, "delta"), (3, "base"), (4, "delta")))
    // forced base stores a full embedding, no delta arrays
    val f = stored.where("seq = 3").collect().head
    assert(!f.isNullAt(f.fieldIndex("embedding")))
    assert(f.isNullAt(f.fieldIndex("delta_idx")))
    // seq 4 reconstructs FROM the forced base (cost 1, not 3)
    val recon = graft.operators.Reconstruction.reconstruct(stored,
      Seq(("doc", 4)).toDF("content_id", "seq"))
    assert(recon.select("base_seq_used").as[Int].collect().head == 3)
    // null / absent force behaves as never-forced
    val nf = VersionStore.ingestWithSeq(df.withColumn("force",
        org.apache.spark.sql.functions.lit(null).cast("boolean")), cfg)
      .select("seq", "kind").as[(Int, String)].collect().sorted.toSeq
    assert(nf == Seq((1, "base"), (2, "delta"), (3, "delta"), (4, "delta")))
  }

  test("delta rows carry sparse arrays + from_seq; bases carry embedding") {
    val df = history(Seq(0.0, 0.05)).toDF("content_id", "seq", "ts", "embedding")
    val out = VersionStore.ingestWithSeq(df, VersionStore.Config()).collect()
    val base = out.find(_.getAs[Int]("seq") == 1).get
    val delta = out.find(_.getAs[Int]("seq") == 2).get
    assert(base.getAs[String]("kind") == "base")
    assert(base.getAs[collection.Seq[Float]]("embedding") != null)
    assert(base.getAs[collection.Seq[Int]]("delta_idx") == null)
    assert(delta.getAs[String]("kind") == "delta")
    assert(delta.getAs[collection.Seq[Float]]("embedding") == null)
    assert(delta.getAs[collection.Seq[Int]]("delta_idx").size == 5)
    assert(delta.getAs[Int]("from_seq") == 1)
    assert(math.abs(delta.getAs[Double]("change_magnitude")
      - math.sqrt(5 * 0.25)) < 1e-5)
  }

  test("threshold sweep: sparsity {0.2,0.4,0.6,0.8} x promotion threshold " +
    "{0.3,0.5,0.7,0.9} (test_week2.py:244-321)") {
    for (sparsity <- Seq(0.2, 0.4, 0.6, 0.8);
         threshold <- Seq(0.3, 0.5, 0.7, 0.9)) {
      val ks = kinds(Seq(0.0, sparsity),
        VersionStore.Config(baseInterval = 100, promotionRatio = threshold))
      val expected = if (sparsity > threshold) "base" else "delta"
      assert(ks == Seq((1, "base"), (2, expected)),
        s"sparsity=$sparsity threshold=$threshold")
    }
  }

  test("promoteBases rewrites exactly the cost-multiple rows as bases, " +
    "preserving ts/metadata/magnitude and every version's value") {
    import org.apache.spark.sql.functions._
    // 10 tiny edits under interval 100 -> one base at seq 1, deltas with
    // costs 1..9; maxCost=3 promotes costs 4 and 8 (multiples of 4)
    val rows = history(Seq.fill(10)(0.02))
      .toDF("content_id", "seq", "ts", "embedding")
      .withColumn("metadata", map(lit("rev"), col("seq").cast("string")))
    val store = VersionStore.ingestWithSeq(rows,
      VersionStore.Config(baseInterval = 100))
    val before = graft.operators.Reconstruction
      .reconstruct(store, store.select("content_id", "seq"))
      .select("seq", "embedding").as[(Int, Seq[Float])].collect().toMap

    val rewritten = VersionStore.promoteBases(store,
      VersionStore.promotionTargets(store, maxCost = 3))
    val kinds = rewritten.select("seq", "kind").as[(Int, String)]
      .collect().toMap
    assert((1 to 10).map(kinds) == Seq("base", "delta", "delta", "delta",
      "base", "delta", "delta", "delta", "base", "delta"))
    // promoted rows keep their ts and metadata, clear delta columns
    val promoted = rewritten.where(col("seq").isin(5, 9))
      .select(col("ts"), col("metadata")("rev"), col("delta_idx").isNull,
        col("from_seq").isNull, col("embedding").isNotNull)
      .as[(Timestamp, String, Boolean, Boolean, Boolean)].collect()
    assert(promoted.map(_._2).sorted.toSeq == Seq("5", "9"))
    assert(promoted.forall(p => p._3 && p._4 && p._5))
    assert(promoted.map(_._1).toSet == Set(ts(4), ts(8)))
    // every version reconstructs to the identical value afterwards
    val after = graft.operators.Reconstruction
      .reconstruct(rewritten, rewritten.select("content_id", "seq"))
      .select("seq", "embedding").as[(Int, Seq[Float])].collect().toMap
    assert(after == before)
    // and nothing costs more than 3 now
    assert(graft.operators.Reconstruction.costs(rewritten)
      .agg(max("reconstruction_cost")).as[Int].collect().head <= 3)
  }

  test("ingest without seqs assigns chronological 1-based seqs with offset") {
    val first = Seq(("a", ts(0), Array.fill(4)(1.0f)))
      .toDF("content_id", "ts", "embedding")
    val v1 = VersionStore.ingest(first)
    assert(v1.select("seq").as[Int].collect().toSeq == Seq(1))
    val more = Seq(("a", ts(1), Array.fill(4)(2.0f)),
      ("a", ts(2), Array.fill(4)(3.0f)),
      ("b", ts(1), Array.fill(4)(9.0f)))
      .toDF("content_id", "ts", "embedding")
    val v2 = VersionStore.ingest(more, Some(v1.select("content_id", "seq")))
    val got = v2.select("content_id", "seq").as[(String, Int)]
      .collect().sorted.toSeq
    assert(got == Seq(("a", 2), ("a", 3), ("b", 1)))
  }
}
