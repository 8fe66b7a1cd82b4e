package graft

import graft.api.{EpochStore, EpochStoreKit, FingerprintStore,
  FuzzyKeyStore, MinHashDedupStore, SemanticDedupStore,
  SubstringDedupStore}
import graft.streaming.{CountMinArtifact, LiveArtifact,
  PrioritySampleArtifact}
import org.apache.spark.sql.DataFrame
import java.nio.file.Files

/** The shared [[EpochStore]] append and compact path pins checkpoints
  * only for as long as its epoch write needs them: across init, plain
  * appends, a token append and its replay, compact() and a cold open,
  * every store family ends holding no persisted RDD the session did not
  * hold before init. */
class EpochStoreSpec extends SparkSpec {
  import spark.implicits._

  private def persisted: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** One family's lifecycle: `append(store, k, token)` appends the k-th
    * batch (k = 1, 2, 3). */
  private def noNetGrowth[S <: EpochStore](name: String)(
      init: String => S)(append: (S, Int, Option[String]) => Long)(
      open: String => S): Unit = {
    val root = Files.createTempDirectory(s"graft-ckpt-$name").toString +
      "/store"
    val before = persisted
    // checked after EVERY step, not only at the end: the session tracks
    // persisted RDDs by weak reference, so a leaked pin that the driver
    // happens to garbage-collect before a single final check would hide
    val grown = scala.collection.mutable.ArrayBuffer.empty[String]
    def step[A](what: String)(op: => A): A = {
      val out = op
      // growth, not equality: RDDs an earlier suite left to the context
      // cleaner may be collected mid-test, which is not this store's doing
      val g = persisted -- before
      if (g.nonEmpty) grown += s"$what: ${g.toSeq.sorted.mkString(",")}"
      out
    }
    val s = step("init")(init(root))
    assert(step("append 1")(append(s, 1, None)) == 1L, name)
    assert(step("append 2")(append(s, 2, None)) == 2L, name)
    assert(step("token append")(append(s, 3, Some("batch-3"))) == 3L, name)
    assert(step("replay")(append(s, 3, Some("batch-3"))) == 3L, name)
    assert(step("compact")(s.compact()) == 4L, name)
    assert(step("open")(open(root).epoch) == 4L, name)
    assert(grown.isEmpty,
      s"$name: persisted RDDs above the pre-init baseline after " +
        grown.mkString("; "))
  }

  private def text(k: Int): DataFrame = Seq(
    (10L * k, "a b c d e f g h"), (10L * k + 1, s"fresh w$k x$k y$k z$k"))
    .toDF("doc_id", "text")

  test("no net checkpoint growth: init, 2 appends, a token append + its " +
    "replay, compact() and a cold open leave every store family's " +
    "persisted RDD set at its pre-init baseline") {
    val texts = Seq(1L -> "a b c d e f g h", 2L -> "p q r s t u v w")
      .toDF("doc_id", "text")
    noNetGrowth[SubstringDedupStore]("substring")(
      SubstringDedupStore.init(spark, _, texts, 4))(
      (s, k, t) => t.fold(s.append(text(k)))(s.append(text(k), _)))(
      SubstringDedupStore.open(spark, _, 4))

    val H = 0x00FF00FF00L
    def prints(k: Int) = Seq((100L * k, H ^ k.toLong),
      (100L * k + 1, 0x1000000000L * k)).toDF("_id", "simhash")
    noNetGrowth[FingerprintStore]("fingerprint")(
      FingerprintStore.init(spark, _,
        Seq((1L, H), (2L, 0x7700AA0011L)).toDF("_id", "simhash")))(
      (s, k, t) => t.fold(s.append(prints(k)))(s.append(prints(k), _)))(
      FingerprintStore.open(spark, _))

    def keys(k: Int) = Seq(10L * k -> s"alph$k", (10L * k + 1) -> s"kw$k")
      .toDF("doc_id", "key")
    noNetGrowth[FuzzyKeyStore]("fuzzy")(
      FuzzyKeyStore.init(spark, _,
        Seq(1L -> "alpha", 2L -> "gamma").toDF("doc_id", "key")))(
      (s, k, t) => t.fold(s.append(keys(k)))(s.append(keys(k), _)))(
      FuzzyKeyStore.open(spark, _))

    noNetGrowth[MinHashDedupStore]("minhash")(
      MinHashDedupStore.init(spark, _, texts, 0.5))(
      (s, k, t) => t.fold(s.append(text(k)))(
        s.append(text(k), "doc_id", "text", _)))(
      MinHashDedupStore.open(spark, _, 0.5))

    def vecs(k: Int) = Seq((10L * k, Seq(1f, 0.01f * k, 0f, 0f)),
      (10L * k + 1, Seq(0f, 0f, 1f, 0.02f * k))).toDF("vec_id", "embedding")
    noNetGrowth[SemanticDedupStore]("semantic")(
      SemanticDedupStore.init(spark, _,
        Seq((1L, Seq(1f, 0f, 0f, 0f)), (2L, Seq(0f, 1f, 0f, 0f)),
          (3L, Seq(0f, 0f, 1f, 0f))).toDF("vec_id", "embedding"),
        nCells = 2, iters = 2, maxStaleFrac = 10.0))(
      (s, k, t) => t.fold(s.append(vecs(k)))(s.append(vecs(k), _)))(
      SemanticDedupStore.open(spark, _, maxStaleFrac = 10.0))

    // the streaming live artifacts: the first append is the init
    def live(k: Int) = Seq((10L * k, s"w$k", 2L), (10L * k + 1, "w", 3L))
      .toDF("doc_id", "text", "w")
    def liveFamily(name: String, at: String => LiveArtifact): Unit =
      noNetGrowth[LiveArtifact](name)(
        r => { val a = at(r); a.append(live(0), "0"); a })(
        (a, k, t) => a.append(live(k), t.getOrElse(k.toString)))(at)
    liveFamily("count-min", new CountMinArtifact(spark, _, "text", 3, 16))
    liveFamily("priority-sample",
      new PrioritySampleArtifact(spark, _, 3, "w"))
  }

  test("a live artifact's read, token append and replay each list " +
    "_commits once: the head epoch is passed down, not listed again") {
    val root = Files.createTempDirectory("graft-listings").toString +
      "/cms"
    val a = new CountMinArtifact(spark, root, "text", 3, 16)
    val listed = new java.util.concurrent.atomic.AtomicInteger(0)
    def commitListings[A](op: => A): Int = {
      listed.set(0)
      op
      listed.get()
    }
    def batch(k: Int) = Seq(s"w$k", "w").toDF("text")
    EpochStoreKit.installListingProbe(root,
      p => if (p.endsWith("/_commits")) listed.incrementAndGet())
    try {
      // the init: no `_commits` directory yet, so nothing to list
      assert(commitListings(a.append(batch(0), "0")) == 0)
      assert(commitListings(a.append(batch(1), "1")) == 1)
      assert(commitListings(a.append(batch(1), "1")) == 1) // the replay
      assert(commitListings(a.read.collect()) == 1)
      assert(a.compact() == 2L)
      assert(commitListings(a.read.collect()) == 1)
      assert(commitListings(a.append(batch(2), "2")) == 1)
      assert(a.read.where($"cnt" > 0).count() > 0)
    } finally EpochStoreKit.clearListingProbe(root)
  }
}
