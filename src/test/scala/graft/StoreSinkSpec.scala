package graft

import graft.api.{EpochStoreKit, FingerprintStore, MinHashDedupStore}
import graft.operators.Dedup
import graft.streaming.StoreSink
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The Structured Streaming → durable-store bridge: batchId → epoch
  * exactly once. Gates (the round-12 verdict's item 4): a stream-built
  * store reads identically to a batch-built store on the same data; a
  * replayed batch is a NO-OP; a crash between the artifact writes and
  * the commit marker leaves invisible litter and the replay converges. */
class StoreSinkSpec extends SparkSpec {
  import spark.implicits._

  private val H = 0x00FF00FF00L

  private def b0: DataFrame = Seq(
    (1L, H), (2L, H), (3L, 0x1234500000L)).toDF("_id", "simhash")
  private def b1: DataFrame = Seq(
    (10L, H ^ 1L), (11L, 0x7777777777L)).toDF("_id", "simhash")
  private def b2: DataFrame = Seq(
    (20L, 0x7777777777L)).toDF("_id", "simhash")

  private def ids(df: DataFrame): Set[Long] =
    df.select(col("doc_id").cast("long")).as[Long].collect().toSet

  test("stream-built FingerprintStore ≡ batch-built store on the same " +
    "data, across a query restart from the checkpoint") {
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("graft-sink").toString + "/store"
    val ckpt = Files.createTempDirectory("graft-sink-ck").toString
    val store = FingerprintStore.init(spark, root, b0)

    val stream = MemoryStream[(Long, Long)]
    def start() = stream.toDF().toDF("_id", "simhash").writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch(StoreSink.fingerprint(store))
      .start()

    val q1 = start()
    try {
      stream.addData(10L -> (H ^ 1L), 11L -> 0x7777777777L)
      q1.processAllAvailable()
    } finally q1.stop()
    // restart the query from the checkpoint — a new incarnation, the
    // engine decides whether anything replays; the token protocol makes
    // either answer correct
    val q2 = start()
    try {
      stream.addData(20L -> 0x7777777777L)
      q2.processAllAvailable()
    } finally q2.stop()

    val batchRoot = Files.createTempDirectory("graft-sinkb")
      .toString + "/store"
    val twin = FingerprintStore.init(spark, batchRoot, b0)
    twin.append(b1)
    twin.append(b2)

    val allIds = (b0 unionByName b1 unionByName b2)
      .select(col("_id").as("doc_id"))
    assert(store.epoch == twin.epoch)
    assert(ids(store.kept(allIds)) == ids(twin.kept(allIds)))
    assert(store.prints.count() == twin.prints.count())
  }

  test("replayed batchId is a NO-OP; a crash between artifact writes " +
    "and the commit marker leaves invisible litter and the replayed " +
    "batch converges") {
    val root = Files.createTempDirectory("graft-sink2").toString + "/store"
    val store = FingerprintStore.init(spark, root, b0)
    val sink = StoreSink.fingerprint(store)

    sink(b1, 0L)
    assert(store.epoch == 1L)
    val allIds = (b0 unionByName b1).select(col("_id").as("doc_id"))
    val kept1 = ids(store.kept(allIds))
    // replay of a committed batch: no-op (the disjoint-id guard never
    // fires because the token short-circuits first)
    sink(b1, 0L)
    assert(store.epoch == 1L)
    assert(ids(store.kept(allIds)) == kept1)

    // crash window: kill exactly at the commit-marker create for the
    // next batch — the artifacts are on disk, the epoch is NOT
    // committed (the marker would record the token), readers see the
    // prior state
    EpochStoreKit.installFaultHook(root, p =>
      if (p.contains("/_commits/")) throw new RuntimeException("boom"))
    intercept[RuntimeException] { sink(b2, 1L) }
    EpochStoreKit.clearFaultHook(root)
    assert(store.epoch == 1L)
    assert(ids(store.kept(allIds)) == kept1)
    // the replay (same batchId) finds no token, recomputes over
    // unchanged inputs, and commits exactly once
    sink(b2, 1L)
    assert(store.epoch == 2L)
    val allIds2 = (b0 unionByName b1 unionByName b2)
      .select(col("_id").as("doc_id"))
    val twinRoot = Files.createTempDirectory("graft-sink2b")
      .toString + "/store"
    val twin = FingerprintStore.init(spark, twinRoot, b0)
    twin.append(b1); twin.append(b2)
    assert(ids(store.kept(allIds2)) == ids(twin.kept(allIds2)))
  }

  test("CurationDB sink: a batch lands across all five member stores " +
    "exactly once; the replay is a no-op at the facade") {
    import graft.api.CurationDB
    val cfg = CurationDB.Config(window = 4, minhashTau = 0.5,
      nCells = 2, kmeansIters = 2, maxStaleFrac = 10.0)
    val root = Files.createTempDirectory("graft-sink4").toString + "/db"
    val base = Seq((1L, "a b c d e f g h", "alpha",
        Seq(1f, 0.01f, 0f, 0f)),
      (2L, "p q r s t u v w", "gamma", Seq(0f, 1f, 0f, 0f)))
      .toDF("doc_id", "text", "key", "embedding")
    val batch = Seq((10L, "a b c d e f g h", "alphb",
      Seq(1f, 0.015f, 0f, 0f)))
      .toDF("doc_id", "text", "key", "embedding")
    val db = CurationDB.init(spark, root, base, cfg)
    val sink = StoreSink.curation(db)
    sink(batch, 0L)
    sink(batch, 0L) // replay: no-op all the way down
    assert(db.epoch == 1L)
    assert(db.substring.epoch == 1L && db.semantic.epoch == 1L)
    assert(db.memberEpochsAt(1L) == ((1L, 1L, 1L, 1L, 1L)))
  }

  test("MinHash sink: stream of text batches lands epoch-per-batch and " +
    "matches the from-scratch closure over the union") {
    val root = Files.createTempDirectory("graft-sink3").toString + "/store"
    val base = Seq(1L -> "a b c d e f g h", 2L -> "m n o p q r")
      .toDF("doc_id", "text")
    val batch = Seq(10L -> "a b c d e f g h", 11L -> "fresh words only")
      .toDF("doc_id", "text")
    val store = MinHashDedupStore.init(spark, root, base, tau = 0.5)
    val sink = StoreSink.minhash(store)
    sink(batch, 0L)
    sink(batch, 0L) // replay: no-op
    assert(store.epoch == 1L)
    val union = base.unionByName(batch)
    val want = ids(Dedup.dedupedCorpusCC(union.select("doc_id"), "doc_id",
      Dedup.nearDupPairs(union, "doc_id", "text", 0.5)
        .select("id1", "id2")))
    assert(ids(store.kept(union.select("doc_id"))) == want)
  }
}
