package graft

import graft.operators.{Ckpt, Closure, Dedup, Graph, SuffixArray}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftbridge.Bridge

/** Reliable-vs-local checkpoint parity for the iterative pyramids
  * (VERDICT r9 item 4): `spark.graft.checkpoint.reliable=true` must
  * change ONLY the lineage-truncation storage (checkpoint-dir-backed,
  * executor-loss-safe), never a single output bit. Gated here on the
  * exact operators the verdict named — pageRank (q100 shape),
  * suffixRanks + the LCP stats built on them (q96 shape), and both
  * connected-components routes — plus the loud-failure contract when
  * the mode is flipped without a checkpoint dir, and the scope
  * ownership of every checkpoint a closure makes. */
class CkptSpec extends SparkSpec {
  import spark.implicits._

  /** Run `body` once per checkpoint mode and return both results. */
  private def bothModes[T](body: => T): (T, T) = {
    val sc = spark.sparkContext
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val local = body // default mode: localCheckpoint
    sc.setCheckpointDir(dir)
    spark.conf.set(Ckpt.ReliableKey, "true")
    try { (local, body) }
    finally spark.conf.unset(Ckpt.ReliableKey)
  }

  private def sortedRows(df: DataFrame): Seq[Seq[Any]] = {
    val names = df.columns.sorted.toSeq
    df.collect().map(r => names.map(n => r.get(r.fieldIndex(n))))
      .sortBy(_.mkString("|")).toSeq
  }

  test("reliable=true without a checkpoint dir fails loudly") {
    // a fresh session shares the SparkContext; only flip the conf if no
    // dir is set yet (suite order may have set one)
    if (spark.sparkContext.getCheckpointDir.isEmpty) {
      spark.conf.set(Ckpt.ReliableKey, "true")
      try {
        val e = intercept[IllegalArgumentException] {
          Ckpt.eager(Seq(1L).toDF("v"))
        }
        assert(e.getMessage.contains("setCheckpointDir"))
      } finally spark.conf.unset(Ckpt.ReliableKey)
    } else cancel("checkpoint dir already set by an earlier suite")
  }

  test("pageRank is bit-identical in local and reliable checkpoint modes") {
    val edges = Seq[(Long, Long)]((1L, 2L), (2L, 3L), (3L, 1L), (1L, 9L),
      (9L, 3L), (4L, 1L), (4L, 2L)).toDF("src", "dst")
    val (a, b) = bothModes(
      Graph.pageRank(edges, iters = 6)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq)
    assert(a == b)
    assert(a.nonEmpty)
  }

  test("suffixRanks + substringDedupStats are bit-identical in both modes") {
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again"),
      (1L, "the quick brown fox jumps over the lazy dog every single day"),
      (2L, "completely unrelated text with no repeats at all here"),
      (3L, "the quick brown fox jumps over the lazy dog again and again")
    ).toDF("doc_id", "text")
    val (a, b) = bothModes {
      val ranks = SuffixArray.suffixRanks(docs, levels = 4)
      (sortedRows(ranks), sortedRows(SuffixArray.substringDedupStats(docs, 4)))
    }
    assert(a == b)
    assert(a._1.nonEmpty && a._2.nonEmpty)
  }

  test("closure routes (union-find and star) are bit-identical in both " +
    "modes") {
    val pairs = Seq[(Long, Long)]((1L, 2L), (2L, 3L), (10L, 11L), (5L, 5L),
      (11L, 12L), (12L, 13L), (20L, 21L)).toDF("id1", "id2")
    // 7 edges fit the local cap, so the second closure forces the star
    // route: reliable mode must checkpoint its rounds, not skip them
    val (a, b) = bothModes((
      sortedRows(Closure.components(pairs)),
      sortedRows(Closure.components(pairs, localMaxEdges = 0))))
    assert(a == b)
    assert(a._1 == a._2)
    assert(a._1.nonEmpty && a._2.nonEmpty)
  }

  test("closures pin nothing past their result: after each returned " +
    "frame is freed, no persisted RDD is left above the baseline") {
    def persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val pairs = Seq[(Long, Long)]((1L, 2L), (2L, 3L), (10L, 11L), (5L, 5L),
      (11L, 12L), (20L, 21L)).toDF("id1", "id2")
    val asg = Seq[(Long, Long)]((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L),
      (11L, 10L), (40L, 40L)).toDF("id", "component")
    val newPairs = Seq[(Long, Long)]((3L, 4L), (11L, 20L), (30L, 31L))
      .toDF("id1", "id2")
    val docs = (1L to 31L).map(i => (i, i * 7 % 5)).toDF("doc_id", "q")
    val hashes = Seq[(Long, Long)]((1L, 0xFF00L), (2L, 0xFF01L),
      (3L, 0xFF00L), (4L, 0x123456789L)).toDF("_id", "simhash")
    val before = persisted
    // growth, not equality (as in EpochStoreSpec): RDDs an earlier suite
    // left to the context cleaner may be collected mid-test
    val grown = scala.collection.mutable.ArrayBuffer.empty[String]
    def step(what: String)(op: => DataFrame): Unit = {
      val out = op
      assert(out.count() > 0, what)
      Bridge.unpersistCheckpoint(out)
      val g = persisted -- before
      if (g.nonEmpty) grown += s"$what: ${g.toSeq.sorted.mkString(",")}"
    }
    step("components, union-find")(Closure.components(pairs))
    step("components, star")(Closure.components(pairs, localMaxEdges = 0))
    step("hashComponents")(Dedup.hashComponents(hashes))
    step("extendComponents, full star")(
      Dedup.extendComponents(asg, newPairs))
    spark.conf.set("spark.graft.extend.restrictMinBytes", "0")
    try {
      step("extendComponents, restricted")(
        Dedup.extendComponents(asg, newPairs))
      spark.conf.set("spark.graft.extend.broadcastMaxBytes", "0")
      step("extendComponents, over budget")(
        Dedup.extendComponents(asg, newPairs))
    } finally {
      spark.conf.unset("spark.graft.extend.restrictMinBytes")
      spark.conf.unset("spark.graft.extend.broadcastMaxBytes")
    }
    step("dedupedCorpusCC")(Dedup.dedupedCorpusCC(docs, "doc_id", pairs))
    step("canonicalByQuality")(
      Dedup.canonicalByQuality(docs, "doc_id", "q", pairs))
    assert(grown.isEmpty,
      s"persisted RDDs above the baseline after ${grown.mkString("; ")}")
  }

  /** Destroy every cached block in the context — the observable state an
    * executor loss leaves behind for non-replicated localCheckpoint
    * blocks (local mode cannot lose a remote executor, but the block
    * store going away IS the failure: LocalCheckpointRDD has no lineage
    * to recompute from, so a missing block is terminal by design). */
  private def loseAllCachedBlocks(): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))

  test("FAULT INJECTION: after total cached-block loss a reliable-mode " +
    "pyramid still serves (checkpoint-dir files), identical results; " +
    "local mode fails with the missing-checkpoint-block error") {
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again"),
      (1L, "the quick brown fox jumps over the lazy dog every single day"),
      (2L, "completely unrelated text with no repeats at all here"),
      (3L, "the quick brown fox jumps over the lazy dog again and again")
    ).toDF("doc_id", "text")
    val edges = Seq[(Long, Long)]((1L, 2L), (2L, 3L), (3L, 1L), (1L, 9L),
      (9L, 3L), (4L, 1L), (4L, 2L)).toDF("src", "dst")
    val sc = spark.sparkContext

    // --- local mode: the pyramid's frames die with their blocks ---
    val localRanks = SuffixArray.suffixRanks(docs, levels = 4)
    assert(localRanks.count() > 0) // healthy while blocks live
    loseAllCachedBlocks()
    val e = intercept[Exception](localRanks.count())
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(m => m.contains("Checkpoint block") ||
      m.contains("block")), s"unexpected failure: $e")

    // --- reliable mode: the q96 and q100 shapes survive the same loss ---
    if (sc.getCheckpointDir.isEmpty)
      sc.setCheckpointDir(java.nio.file.Files
        .createTempDirectory("graft_ckpt_fault").toString)
    spark.conf.set(Ckpt.ReliableKey, "true")
    try {
      val relRanks = SuffixArray.suffixRanks(docs, levels = 4)
      val ranksBefore = sortedRows(relRanks)
      val relPr = Graph.pageRank(edges, iters = 6)
      val prBefore = sortedRows(relPr)
      loseAllCachedBlocks()
      assert(sortedRows(relRanks) == ranksBefore) // served from the dir
      assert(sortedRows(relPr) == prBefore)
      // and downstream consumers of the survived frames keep working
      loseAllCachedBlocks()
      assert(relRanks.groupBy("doc_id").count().count() == 4)
    } finally spark.conf.unset(Ckpt.ReliableKey)
  }
}
