package graft

import graft.api.{BucketedTemporalVectorDB, TemporalVectorDB}
import graft.operators.{Reconstruction, SimilaritySearch, VersionStore}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import java.sql.Timestamp
import java.nio.file.Files

/** The facade's point reads: the store relation resolves from the
  * declared schema without a job, single-content reconstruction and
  * single-query search return exactly what the set-based paths return,
  * and each call runs at most one Spark job. */
class PointReadSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 24
  private def ts(k: Int) =
    new Timestamp(Timestamp.valueOf("2025-03-01 00:00:00").getTime +
      k * 3600L * 1000L)

  private def freshDb(): TemporalVectorDB = {
    val dir = Files.createTempDirectory("tvdb-point").toFile
    dir.delete()
    new TemporalVectorDB(spark, dir.getAbsolutePath,
      VersionStore.Config(baseInterval = 4))
  }

  /** Random-walk histories of 12 versions: each step moves a few dims,
    * so chains of sparse deltas grow between interval-4 bases. Contents
    * "tie1" and "tie2" are one identical single-version history (equal
    * sims, so the rank tie is broken by id). */
  private lazy val history: Seq[(String, Timestamp, Array[Float])] = {
    val r = new scala.util.Random(17)
    val walks = Seq("a", "b", "c").flatMap { c =>
      var cur = Array.fill(dim)(r.nextFloat() - 0.3f)
      (1 to 12).map { k =>
        if (k > 1) cur = step(cur, r)
        (c, ts(k), cur.clone())
      }
    }
    val tie = Array.tabulate(dim)(j => (j % 5).toFloat - 1.5f)
    walks ++ Seq(("tie1", ts(1), tie), ("tie2", ts(1), tie))
  }

  /** The store: versions 1..9 in one append, 10..12 in a second. */
  private def loaded(db: TemporalVectorDB): TemporalVectorDB = {
    val (first, second) = history.partition(_._2.before(ts(10)))
    db.addVersions(first.toDF("content_id", "ts", "embedding"))
    db.addVersions(second.toDF("content_id", "ts", "embedding"))
    db
  }

  private def step(v: Array[Float], r: scala.util.Random): Array[Float] = {
    val out = v.clone()
    (0 until 3).foreach(_ => out(r.nextInt(dim)) += r.nextFloat() - 0.5f)
    out
  }

  /** Reconstruction rows with every value as exact bits. */
  private def bits(rows: Seq[Row]): Seq[Seq[Any]] =
    rows.map { r =>
      Seq(r.getAs[String]("content_id"), r.getAs[Int]("seq"),
        r.getAs[scala.collection.Seq[Float]]("embedding")
          .map(java.lang.Float.floatToRawIntBits).toSeq,
        r.getAs[Int]("base_seq_used"), r.getAs[Int]("deltas_applied"),
        r.getAs[Int]("reconstruction_cost"),
        java.lang.Double.doubleToRawLongBits(
          r.getAs[Double]("estimated_error")),
        java.lang.Double.doubleToRawLongBits(
          r.getAs[Double]("quality_score")))
    }.sortBy(r => (r(0).asInstanceOf[String], r(1).asInstanceOf[Int]))

  private def recon(df: DataFrame): Seq[Seq[Any]] = bits(df.collect().toSeq)

  /** Search rows as (rank, id, sim bits). */
  private def ranked(df: DataFrame): Seq[(Int, String, Long)] =
    df.select("rank", "id", "sim").as[(Int, String, Double)].collect()
      .map { case (k, id, s) =>
        (k, id, java.lang.Double.doubleToRawLongBits(s)) }
      .sortBy(_._1).toSeq

  test("the store relation resolves from the declared schema without a " +
    "job, equal to the inferred schema after addVersions, " +
    "applyBaseOptimization and compactStore") {
    val db = loaded(freshDb())
    def check(after: String): Unit = {
      val (rel, jobs) = jobsOf(db.versions)
      assert(jobs == 0, s"after $after: resolving the store ran $jobs jobs")
      // the schema Spark infers from the store's epoch directories,
      // without the directories' own `epoch` partition column
      val inferred = org.apache.spark.sql.types.StructType(
        spark.read.parquet(s"${db.path}/versions").schema
          .filterNot(_.name == "epoch"))
      assert(rel.schema == inferred,
        s"after $after: ${rel.schema.treeString} vs ${inferred.treeString}")
    }
    check("addVersions")
    assert(db.applyBaseOptimization(maxCost = 1) > 0)
    check("applyBaseOptimization")
    db.compactStore(targetPartitions = 2)
    check("compactStore")
    assert(db.versions.count() == 3 * 12 + 2)
  }

  private def checkSingleContentReads(db: TemporalVectorDB): Unit = {
    val store = db.versions
    for (c <- Seq("a", "b", "zz-unknown"); s <- Seq(0, 1, 3, 7, 11, 99)) {
      val (one, jobs) = jobsOf(recon(db.getVersion(c, s)))
      assert(jobs <= 1, s"getVersion($c, $s) ran $jobs jobs")
      val set = recon(db.batchReconstruct(Seq((c, s)).toDF("content_id", "seq")))
      assert(one == set, s"getVersion($c, $s)")
      assert(one.size == (if (c.startsWith("zz") || s == 0) 0 else 1))
    }
    val (range, rangeJobs) = jobsOf(recon(db.getVersionRange("b", 0, 14)))
    assert(rangeJobs <= 1, s"getVersionRange ran $rangeJobs jobs")
    assert(range == recon(db.batchReconstruct(
      (0 to 14).map(s => ("b", s)).toDF("content_id", "seq"))))
    assert(range.map(_(1)) == (1 to 14))
    assert(recon(db.getVersionRange("b", 5, 4)).isEmpty)
    for (c <- Seq("a", "c", "tie1", "zz-unknown")) {
      val (latest, jobs) = jobsOf(recon(db.getLatestVersion(c)))
      assert(jobs <= 1, s"getLatestVersion($c) ran $jobs jobs")
      assert(latest == recon(Reconstruction.latest(store)
        .where(col("content_id") === c)), s"getLatestVersion($c)")
      for (k <- Seq(0, 1, 6, 30)) {
        val t = new Timestamp(ts(k).getTime + 1800L * 1000L)
        val (asOf, asOfJobs) = jobsOf(recon(db.getVersionAtTime(c, t)))
        assert(asOfJobs <= 1, s"getVersionAtTime($c, $k) ran $asOfJobs jobs")
        assert(asOf == recon(Reconstruction.latest(store,
            visible = col("ts") <= lit(t)).where(col("content_id") === c)),
          s"getVersionAtTime($c, $k)")
        assert(asOf.size == (if (k == 0 || c.startsWith("zz")) 0 else 1))
      }
    }
  }

  private def checkSearches(db: TemporalVectorDB): Unit = {
    val bases = db.cacheBases().select(
      concat_ws("#", col("content_id"), col("seq")).as("id"), col("vec"))
    val latest = db.cacheLatest().select(
      concat_ws("#", col("content_id"), col("seq")).as("id"),
      col("embedding").as("vec"))
    val corpusSize = bases.count().toInt
    val self = db.getVersion("a", 5).select("embedding").as[Array[Float]]
      .head()
    val tie = Array.tabulate(dim)(j => (j % 5).toFloat - 1.5f)
    val queries = Seq("self" -> self, "tie" -> tie,
      "zero" -> Array.fill(dim)(0f))
    for ((name, q) <- queries; k <- Seq(1, 3, corpusSize + 5)) {
      val qdf = Seq((1L, q)).toDF("query_id", "qvec")
      val (got, jobs) = jobsOf(ranked(db.searchSimilarContent(q, k)))
      assert(jobs <= 1, s"searchSimilarContent($name, $k) ran $jobs jobs")
      assert(got == ranked(SimilaritySearch.topK(qdf, bases, k)),
        s"searchSimilarContent($name, $k)")
      val (gotL, jobsL) = jobsOf(ranked(db.searchLatestVersions(q, k)))
      assert(jobsL <= 1, s"searchLatestVersions($name, $k) ran $jobsL jobs")
      assert(gotL == ranked(SimilaritySearch.topK(qdf, latest, k)),
        s"searchLatestVersions($name, $k)")
      if (name == "zero") assert(got.isEmpty && gotL.isEmpty)
      else assert(got.map(_._1) == (1 to got.size) && got.size <= k)
    }
    // the tied pair ranks by id
    assert(ranked(db.searchSimilarContent(tie, 2)).map(_._2) ==
      Seq("tie1#1", "tie2#1"))
  }

  test("single-content reads equal batchReconstruct / Reconstruction." +
    "latest bit for bit and run at most one job (path-backed store)") {
    val db = loaded(freshDb())
    checkSingleContentReads(db)
    db.close()
  }

  test("single-query searches equal SimilaritySearch.topK bit for bit " +
    "(k past the corpus, zero query, id tie-break), one job each " +
    "(path-backed store)") {
    val db = freshDb()
    checkSearches(loaded(db))
    db.close()
  }

  test("40 appends and no compactStore: the store folds itself every " +
    "16 delta epochs, so a read lists few epoch directories and " +
    "getVersion still runs at most one job") {
    val db = freshDb()
    val r = new scala.util.Random(23)
    var cur = Array.fill(dim)(r.nextFloat() - 0.3f)
    for (k <- 1 to 40) {
      cur = step(cur, r)
      db.addVersions(Seq(("a", ts(k), cur.clone()), ("b", ts(k), cur.map(-_)))
        .toDF("content_id", "ts", "embedding"))
    }
    val epochDirs = new java.io.File(s"${db.path}/versions").list()
      .count(_.startsWith("epoch="))
    assert(epochDirs <= 16, s"$epochDirs epoch directories after 40 appends")
    for (s <- Seq(1, 17, 37, 40)) {
      val (one, jobs) = jobsOf(recon(db.getVersion("a", s)))
      assert(jobs <= 1, s"getVersion(a, $s) ran $jobs jobs")
      assert(one == recon(db.batchReconstruct(
        Seq(("a", s)).toDF("content_id", "seq"))), s"getVersion(a, $s)")
      assert(one.size == 1)
    }
    assert(db.versions.count() == 80)
  }

  test("the bucketed facade's point reads equal its set-based paths and " +
    "run at most one job each") {
    spark.sql("DROP TABLE IF EXISTS graft_point_reads")
    val db = new BucketedTemporalVectorDB(spark, "graft_point_reads",
      VersionStore.Config(baseInterval = 4), buckets = 4)
    try {
      loaded(db)
      checkSingleContentReads(db)
      checkSearches(db)
      db.close()
    } finally spark.sql("DROP TABLE IF EXISTS graft_point_reads")
  }
}
