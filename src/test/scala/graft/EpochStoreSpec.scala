package graft

import graft.api.{CurationDB, EpochStore, EpochStoreKit, FingerprintStore,
  FuzzyKeyStore, MinHashDedupStore, SemanticDedupStore,
  SubstringDedupStore}
import graft.streaming.{CountMinArtifact, LiveArtifact,
  PrioritySampleArtifact}
import org.apache.spark.sql.DataFrame
import java.nio.file.Files

/** The shared [[EpochStore]] append and compact path pins checkpoints
  * only for as long as its epoch write needs them: across init, plain
  * appends, a token append and its replay, compact() and a cold open,
  * each followed by a read, every store family ends holding no persisted
  * RDD the session did not hold before init. And every operation lists
  * each root's `_commits` once: the head it listed is passed down. */
class EpochStoreSpec extends SparkSpec {
  import spark.implicits._

  private def persisted: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** One family's lifecycle: `append(store, k, token)` appends the k-th
    * batch (k = 1, 2, 3); `read` collects the store's current read. */
  private def noNetGrowth[S <: EpochStore](name: String)(
      init: String => S)(append: (S, Int, Option[String]) => Long)(
      open: String => S)(read: S => Unit): Unit = {
    val root = Files.createTempDirectory(s"graft-ckpt-$name").toString +
      "/store"
    val before = persisted
    // checked after EVERY step, not only at the end: the session tracks
    // persisted RDDs by weak reference, so a leaked pin that the driver
    // happens to garbage-collect before a single final check would hide
    val grown = scala.collection.mutable.ArrayBuffer.empty[String]
    lazy val s = init(root)
    // each step is followed by a collected read of the store, and the
    // check forces no GC: a read that pinned a frame nobody frees shows
    def step[A](what: String)(op: => A): A = {
      val out = op
      read(s)
      // growth, not equality: RDDs an earlier suite left to the context
      // cleaner may be collected mid-test, which is not this store's doing
      val g = persisted -- before
      if (g.nonEmpty) grown += s"$what: ${g.toSeq.sorted.mkString(",")}"
      out
    }
    step("init")(s)
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

  private val docIds = (0 to 40).map(_.toLong).toDF("doc_id")

  test("no net checkpoint growth: init, 2 appends, a token append + its " +
    "replay, compact() and a cold open leave every store family's " +
    "persisted RDD set at its pre-init baseline") {
    val texts = Seq(1L -> "a b c d e f g h", 2L -> "p q r s t u v w")
      .toDF("doc_id", "text")
    noNetGrowth[SubstringDedupStore]("substring")(
      SubstringDedupStore.init(spark, _, texts, 4))(
      (s, k, t) => t.fold(s.append(text(k)))(s.append(text(k), _)))(
      SubstringDedupStore.open(spark, _, 4))(_.deduped.collect())

    val H = 0x00FF00FF00L
    def prints(k: Int) = Seq((100L * k, H ^ k.toLong),
      (100L * k + 1, 0x1000000000L * k)).toDF("_id", "simhash")
    noNetGrowth[FingerprintStore]("fingerprint")(
      FingerprintStore.init(spark, _,
        Seq((1L, H), (2L, 0x7700AA0011L)).toDF("_id", "simhash")))(
      (s, k, t) => t.fold(s.append(prints(k)))(s.append(prints(k), _)))(
      FingerprintStore.open(spark, _))(_.kept(docIds).collect())

    def keys(k: Int) = Seq(10L * k -> s"alph$k", (10L * k + 1) -> s"kw$k")
      .toDF("doc_id", "key")
    noNetGrowth[FuzzyKeyStore]("fuzzy")(
      FuzzyKeyStore.init(spark, _,
        Seq(1L -> "alpha", 2L -> "gamma").toDF("doc_id", "key")))(
      (s, k, t) => t.fold(s.append(keys(k)))(s.append(keys(k), _)))(
      FuzzyKeyStore.open(spark, _))(_.keptKeys.collect())

    noNetGrowth[MinHashDedupStore]("minhash")(
      MinHashDedupStore.init(spark, _, texts, 0.5))(
      (s, k, t) => t.fold(s.append(text(k)))(
        s.append(text(k), "doc_id", "text", _)))(
      MinHashDedupStore.open(spark, _, 0.5))(_.kept(docIds).collect())

    def vecs(k: Int) = Seq((10L * k, Seq(1f, 0.01f * k, 0f, 0f)),
      (10L * k + 1, Seq(0f, 0f, 1f, 0.02f * k))).toDF("vec_id", "embedding")
    noNetGrowth[SemanticDedupStore]("semantic")(
      SemanticDedupStore.init(spark, _,
        Seq((1L, Seq(1f, 0f, 0f, 0f)), (2L, Seq(0f, 1f, 0f, 0f)),
          (3L, Seq(0f, 0f, 1f, 0f))).toDF("vec_id", "embedding"),
        nCells = 2, iters = 2, maxStaleFrac = 10.0))(
      (s, k, t) => t.fold(s.append(vecs(k)))(s.append(vecs(k), _)))(
      SemanticDedupStore.open(spark, _, maxStaleFrac = 10.0))(
      _.kept(docIds.select($"doc_id".as("vec_id"))).collect())

    // the streaming live artifacts: the first append is the init
    def live(k: Int) = Seq((10L * k, s"w$k", 2L), (10L * k + 1, "w", 3L))
      .toDF("doc_id", "text", "w")
    def liveFamily(name: String, at: String => LiveArtifact): Unit =
      noNetGrowth[LiveArtifact](name)(
        r => { val a = at(r); a.append(live(0), "0"); a })(
        (a, k, t) => a.append(live(k), t.getOrElse(k.toString)))(at)(
        _.read.collect())
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

  /** `_commits` listings per root while `op` runs, for every root under
    * `base` (member stores run on a thread pool, hence the concurrent
    * map). */
  private def commitListings[A](base: String)(op: => A): Map[String, Int] = {
    val seen = new java.util.concurrent.ConcurrentHashMap[String, Int]()
    EpochStoreKit.installListingProbe(base, p =>
      if (p.endsWith("/_commits"))
        seen.merge(p.stripSuffix("/_commits"), 1, _ + _))
    try op
    finally EpochStoreKit.clearListingProbe(base)
    import scala.jdk.CollectionConverters._
    seen.asScala.toMap
  }

  test("each dedup store lists _commits once per plain append, token " +
    "append, replay, current read and as-of read") {
    val base = Files.createTempDirectory("graft-store-listings").toString
    /** `append(k, token)` appends the k-th batch; `read(e)` reads at
      * epoch `e`, or at the head when None. */
    def once(name: String)(append: (Int, Option[String]) => Long)(
        read: Option[Long] => DataFrame): Unit = {
      val root = s"$base/$name"
      def listed(what: String)(op: => Any): Unit = {
        val got = commitListings(root)(op)
        assert(got == Map(root -> 1), s"$name $what: $got")
      }
      listed("plain append")(assert(append(1, None) == 1L))
      listed("token append")(assert(append(2, Some("t2")) == 2L))
      listed("replay")(assert(append(2, Some("t2")) == 2L))
      listed("current read")(read(None).collect())
      listed("as-of read")(read(Some(1L)).collect())
    }
    val texts = Seq(1L -> "a b c d e f g h", 2L -> "p q r s t u v w")
      .toDF("doc_id", "text")

    val sub = SubstringDedupStore.init(spark, s"$base/sub", texts, 4)
    once("sub")((k, t) => t.fold(sub.append(text(k)))(sub.append(text(k), _)))(
      _.fold(sub.deduped)(sub.dedupedAt))

    val H = 0x00FF00FF00L
    def prints(k: Int) = Seq((100L * k, H ^ k.toLong),
      (100L * k + 1, 0x1000000000L * k)).toDF("_id", "simhash")
    val fp = FingerprintStore.init(spark, s"$base/fp",
      Seq((1L, H), (2L, 0x7700AA0011L)).toDF("_id", "simhash"))
    once("fp")((k, t) =>
      t.fold(fp.append(prints(k)))(fp.append(prints(k), _)))(
      _.fold(fp.kept(docIds))(fp.keptAt(_, docIds)))

    def keys(k: Int) = Seq(10L * k -> s"alph$k", (10L * k + 1) -> s"kw$k")
      .toDF("doc_id", "key")
    val fz = FuzzyKeyStore.init(spark, s"$base/fz",
      Seq(1L -> "alpha", 2L -> "gamma").toDF("doc_id", "key"))
    once("fz")((k, t) => t.fold(fz.append(keys(k)))(fz.append(keys(k), _)))(
      _.fold(fz.keptKeys)(fz.keptKeysAt))

    val mh = MinHashDedupStore.init(spark, s"$base/mh", texts, 0.5)
    once("mh")((k, t) => t.fold(mh.append(text(k)))(
      mh.append(text(k), "doc_id", "text", _)))(
      _.fold(mh.kept(docIds))(mh.keptAt(_, docIds)))

    def vecs(k: Int) = Seq((10L * k, Seq(1f, 0.01f * k, 0f, 0f)),
      (10L * k + 1, Seq(0f, 0f, 1f, 0.02f * k))).toDF("vec_id", "embedding")
    val vecIds = docIds.select($"doc_id".as("vec_id"))
    val sm = SemanticDedupStore.init(spark, s"$base/sm",
      Seq((1L, Seq(1f, 0f, 0f, 0f)), (2L, Seq(0f, 1f, 0f, 0f)),
        (3L, Seq(0f, 0f, 1f, 0f))).toDF("vec_id", "embedding"),
      nCells = 2, iters = 2, maxStaleFrac = 10.0)
    once("sm")((k, t) => t.fold(sm.append(vecs(k)))(sm.append(vecs(k), _)))(
      _.fold(sm.kept(vecIds))(sm.keptAt(_, vecIds)))

    // an append whose auto-fold fires lists once more, in the fold's
    // compact(): it re-reads the head so that a commit landing between
    // the two is folded rather than overwritten by the snapshot
    val fold = s"$base/fz-fold"
    val fzFold = FuzzyKeyStore.init(spark, fold,
      Seq(1L -> "alpha", 2L -> "gamma").toDF("doc_id", "key"),
      autoCompactEpochs = 1)
    def folding(what: String, want: Int)(op: => Any): Unit = {
      val got = commitListings(fold)(op)
      assert(got == Map(fold -> want), s"fz-fold $what: $got")
    }
    folding("plain append", 2)(assert(fzFold.append(keys(1)) == 1L))
    assert(fzFold.latestSnapshot == 2L)
    folding("token append", 2)(assert(fzFold.append(keys(2), "t2") == 3L))
    folding("replay", 1)(assert(fzFold.append(keys(2), "t2") == 3L))
    folding("as-of read of the folded epoch", 1)(
      fzFold.keptKeysAt(3L).collect())
  }

  test("CurationDB lists each root's _commits once per plain append, " +
    "token append, current read and as-of read; a replay lists only the " +
    "facade root, whose record answers it without opening a member") {
    val root = Files.createTempDirectory("graft-cdb-listings").toString +
      "/db"
    def rows(k: Int) = Seq(
      (10L * k, "a b c d e f g h", s"alph$k", Seq(1f, 0.01f * k, 0f, 0f)),
      (10L * k + 1, s"fresh w$k x$k y$k z$k", s"kw$k",
        Seq(0f, 0f, 1f, 0.02f * k)))
      .toDF("doc_id", "text", "key", "embedding")
    val cfg = CurationDB.Config(window = 4, nCells = 2, kmeansIters = 2,
      maxStaleFrac = 10.0)
    val db = CurationDB.init(spark, root, rows(0), cfg)
    val every = (Seq(root) ++ Seq("sub", "fp", "fz", "mh", "sm")
      .map(m => s"$root/$m")).map(_ -> 1).toMap
    def listed(what: String, want: Map[String, Int])(op: => Any): Unit = {
      val got = commitListings(root)(op)
      assert(got == want, s"CurationDB $what: $got")
    }
    listed("plain append", every)(assert(db.append(rows(1)) == 1L))
    listed("token append", every)(assert(db.append(rows(2), "t2") == 2L))
    listed("replay", Map(root -> 1))(assert(db.append(rows(2), "t2") == 2L))
    listed("current read", every)(db.manifest.collect())
    listed("as-of read", every)(db.keptAt(1L, docIds).collect())
    listed("as-of manifest", every)(db.manifestAt(1L).collect())
  }
}
