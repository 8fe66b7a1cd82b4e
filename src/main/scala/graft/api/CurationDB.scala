package graft.api

import graft.operators.{Dedup, Pipeline}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import EpochStore.At

/** ONE-CALL deployment surface for the proven five-store curation
  * composition (the StoreQuartetSpec-turned-quintet gate, productized):
  * a corpus row carries (doc_id, text, key, embedding), and a document
  * survives curation iff it survives EVERY dedup family —
  *
  *  - substring windows ([[SubstringDedupStore]], exact-span removal),
  *  - text fingerprints ([[FingerprintStore]] over doc-level SimHash),
  *  - fuzzy keys ([[FuzzyKeyStore]], edit-distance clusters),
  *  - MinHash/Jaccard near-dups ([[MinHashDedupStore]]),
  *  - embedding semantics ([[SemanticDedupStore]], SemDeDup).
  *
  * Each family keeps its own durable epoch-committed store under
  * `root/{sub,fp,fz,mh,sm}`; this facade adds the cross-store append
  * protocol and the composed read.
  *
  * APPEND PROTOCOL (crash-convergent, exactly-once): a five-store
  * append cannot be atomic, so [[append]] rides the [[EpochStore]]
  * token protocol END TO END — every store receives the SAME token
  * (derived from the facade's next epoch, or supplied by a streaming
  * caller), so a crash after any subset of stores committed is repaired
  * by replaying the call verbatim: committed stores no-op on their
  * recorded token, stragglers commit, and only then does the facade
  * commit its own epoch. The facade epochs are an [[EpochStore]] family
  * of their own with no artifact kinds: the append runs through the
  * core's one entry ([[EpochStore.appendOnce]]), which lists the facade
  * head once and replays a committed token, and the core's commit
  * writes the marker recording the member epochs and the token. The
  * facade epoch therefore counts COMPLETED quintet appends; individual
  * stores may run ahead transiently (mid-recovery) or independently via
  * their own `compact()`/`retrain()` (which bump only their internal
  * epochs — the facade reads always resolve each store's latest state,
  * so per-store maintenance is invisible to the composition).
  *
  * Reads: [[kept]] filters any corpus frame through all five families;
  * [[keptCorpus]] applies it to the stored corpus (the substring
  * store's data epochs); [[manifest]] emits the
  * [[graft.operators.Pipeline.datasetManifest]] publish artifact for
  * the current epoch's kept corpus — the order-invariant checksums a
  * downstream consumer re-verifies.
  *
  * TIME-TRAVEL: each facade commit marker RECORDS the five member
  * epochs it bound together, so [[keptAt]] serves the composed filter
  * as of any committed facade epoch by replaying each member's
  * `keptAt` at its recorded epoch. Member maintenance prunes below its
  * latest snapshot — a recorded member epoch that a member `compact()`
  * folded still reads (the [[EpochStore]] fold rule, so `keptAt(epoch)`
  * ≡ [[kept]] after [[compactAll]]), while older ones, and any below a
  * `retrain()`, fail loudly with that member's message (the same
  * contract the members themselves apply).
  *
  * Every read resolves each member at one read position, listed once
  * per member root: at its head for the current reads, at the recorded
  * member epoch for the as-of reads.
  *
  * The reference's public surface is the single-store facade
  * (reference temporal_database.py); this is its curation-pipeline
  * counterpart over the store family. */
class CurationDB private (val spark: SparkSession, val root: String,
                          val substring: SubstringDedupStore,
                          val fingerprint: FingerprintStore,
                          val fuzzy: FuzzyKeyStore,
                          val minhash: MinHashDedupStore,
                          val semantic: SemanticDedupStore) {

  private val facade = new CurationDB.FacadeEpochs(spark, root)
  private var pinned: List[DataFrame] = Nil

  /** Completed quintet appends (0 after [[CurationDB.init]]). */
  def epoch: Long = facade.epoch

  /** Append one batch — (doc_id, text, key, embedding) — to all five
    * stores, exactly once per facade epoch. Idempotent under retry
    * after ANY crash window (see the class protocol note): the token is
    * `cdb-<next facade epoch>`, which no committed facade epoch can
    * carry. Returns the new facade epoch. */
  def append(batch: DataFrame): Long =
    facade.appendOnce(None)(head => appendAt(head, batch, s"cdb-${head + 1}"))

  /** [[append]] with a caller-supplied idempotence token (the
    * Structured Streaming `foreachBatch` bridge — pass
    * `"stream-<batchId>"`). A replayed token is a NO-OP returning the
    * originally committed facade epoch. */
  def append(batch: DataFrame, token: String): Long =
    facade.appendOnce(Some(token))(appendAt(_, batch, token))

  private def appendAt(head: Long, batch: DataFrame, token: String): Long = {
    val b = batch.select(col("doc_id").cast("long").as("doc_id"),
      col("text").cast("string").as("text"),
      col("key").cast("string").as("key"), col("embedding"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // materialize the shared batch ONCE before the members run —
    // the five appends then all read the cached blocks
    b.count()
    // the five member appends are INDEPENDENT Spark job chains over
    // disjoint store roots; overlapping them fills the executor slots
    // each member's small sequential jobs leave idle (guide §2.6) —
    // crash-convergence is untouched (a failure in any member leaves
    // exactly a crash window the verbatim replay repairs)
    val es = CurationDB.runMembers(spark, root, Seq(
      () => substring.append(b.select("doc_id", "text"), token),
      () => fingerprint.append(CurationDB.textHashes(b), token),
      () => fuzzy.append(b.select("doc_id", "key"), token),
      () => minhash.append(b.select("doc_id", "text"), "doc_id",
        "text", token),
      () => semantic.append(b.select(col("doc_id").as("vec_id"),
        col("embedding")), token)))
    b.unpersist(false)
    // the facade marker RECORDS the member epochs this commit bound
    // together — the time-travel map keptAt replays — and the token
    facade.commitRecord(head + 1, CurationDB.memberRecord(es), Some(token))
    head + 1
  }

  /** The five members' read positions: each at its head, listed once. */
  private def heads: CurationDB.MemberAt = CurationDB.MemberAt(
    substring.current, fingerprint.current, fuzzy.current,
    minhash.current, semantic.current)

  /** The five members' read positions at the member epochs facade epoch
    * `n` recorded. */
  private def recorded(n: Long): CurationDB.MemberAt = {
    val (subE, fpE, fzE, mhE, smE) = memberEpochsAt(n)
    CurationDB.MemberAt(substring.asOf(subE), fingerprint.asOf(fpE),
      fuzzy.asOf(fzE), minhash.asOf(mhE), semantic.asOf(smE))
  }

  /** The stored corpus (doc_id, text) — the substring store's data
    * epochs, which the facade treats as the corpus of record. */
  def corpus: DataFrame = substring.corpus

  /** Filter ANY corpus frame through the composed curation policy: a
    * row survives iff its id survives every family. One semi-join per
    * membership family (substring, fuzzy-rep) + the three stores' own
    * kept anti-joins — no shingling, banding, or clustering at read
    * time; everything rides the maintained artifacts. */
  def kept(corpus: DataFrame, idCol: String = "doc_id"): DataFrame =
    keptWith(heads, corpus, idCol)

  private def keptWith(at: CurationDB.MemberAt, corpus: DataFrame,
                       idCol: String): DataFrame = {
    val afterSub = corpus.join(
      substring.dedupedAt(at.sub)
        .select(col("doc_id").cast("long").as("_sub_id")),
      corpus(idCol).cast("long") === col("_sub_id"), "left_semi")
    // fuzzy keeps KEYS; the doc-level policy (the quintet-gate lift): a
    // doc survives iff it carries a surviving key as that key's rep
    val afterFz = afterSub.join(
      fuzzy.keptKeysAt(at.fz).select(col("rep").cast("long").as("_fz_id"))
        .distinct(),
      afterSub(idCol).cast("long") === col("_fz_id"), "left_semi")
    semantic.keptAt(at.sm, minhash.keptAt(at.mh,
      fingerprint.keptAt(at.fp, afterFz, idCol), idCol), idCol)
  }

  /** The curated corpus at `at`: the stored corpus at the substring
    * member's position, filtered through every member at its own. */
  private def keptCorpusAt(at: CurationDB.MemberAt): DataFrame =
    keptWith(at, substring.corpusAt(at.sub), "doc_id")

  /** The curated corpus at the current epoch. */
  def keptCorpus: DataFrame = keptCorpusAt(heads)

  /** [[kept]] as of a PAST committed facade epoch: each member filter
    * replays at the member epoch the facade's commit marker recorded
    * (audit/time-travel), under the members' time-travel contract: a
    * recorded epoch that a member compaction folded (the member's next
    * epoch is the snapshot of it) reads from that snapshot; one further
    * below a member snapshot, or below a semantic retrain, fails
    * loudly. */
  def keptAt(n: Long, corpus: DataFrame,
             idCol: String = "doc_id"): DataFrame =
    keptWith(recorded(n), corpus, idCol)

  /** The member epochs facade epoch `n` bound together, parsed from
    * its commit marker record. */
  def memberEpochsAt(n: Long): (Long, Long, Long, Long, Long) = {
    val m = facade.recordAt(n).split(",").map(_.split("=")).collect {
      case Array(k, v) if k != "token" => k -> v.toLong
    }.toMap
    (m("sub"), m("fp"), m("fz"), m("mh"), m("sm"))
  }

  /** Pin the curated corpus for repeated downstream reads; freed by
    * [[close]]. */
  def cacheKept(): DataFrame = {
    val k = keptCorpus
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    pinned = k :: pinned
    k
  }

  /** The publish manifest of the CURRENT epoch's kept corpus — one row
    * keyed by the facade epoch, with the order-invariant id/content
    * checksums ([[graft.operators.Pipeline.datasetManifest]]). Emitted
    * per epoch, it is the audit trail a downstream consumer verifies a
    * delivered dataset against. */
  def manifest: DataFrame =
    Pipeline.datasetManifest(
      keptCorpus.withColumn("epoch", lit(epoch)), "epoch")

  /** The publish manifest AS OF a past committed facade epoch: the
    * kept corpus is replayed over the corpus stored by the recorded
    * substring-member epoch (the facade's corpus of record), filtered
    * through every member at its recorded epoch — so a consumer can
    * re-verify any historical delivery's checksums, not just the
    * latest. manifestAt(epoch) ≡ [[manifest]] (spec-gated). Subject to
    * the members' time-travel contract, as [[keptAt]]: a folded recorded
    * epoch reads, older ones and any below a retrain fail loudly. */
  def manifestAt(n: Long): DataFrame =
    Pipeline.datasetManifest(
      keptCorpusAt(recorded(n)).withColumn("epoch", lit(n)), "epoch")

  /** Run every member store's compaction (trainer-free across the
    * board) — bounds each family's read-side resolution window. Member
    * epochs advance independently; the facade epoch is untouched. The
    * five compactions are independent job chains and overlap
    * (guide §2.6), like [[append]]'s member appends. */
  def compactAll(): Unit = {
    CurationDB.runMembers(spark, root, Seq(
      () => substring.compact(), () => fingerprint.compact(),
      () => fuzzy.compact(), () => minhash.compact(),
      () => semantic.compact()))
    ()
  }

  /** Free every frame [[cacheKept]] pinned. */
  def close(): Unit = {
    pinned.foreach(_.unpersist(false))
    pinned = Nil
  }
}

object CurationDB {

  /** Store-family knobs; defaults match the declared-query pins. Every
    * member folds its deltas at the family default cadence
    * ([[EpochStore.DefaultAutoCompactEpochs]]). */
  case class Config(window: Int = 8, maxHamming: Int = 3,
                    maxKeyLen: Int = 64, maxEdit: Int = 1,
                    minhashTau: Double = 0.5, shingleN: Int = 3,
                    numHashes: Int = 16, bands: Int = 4,
                    semanticTau: Double = 0.95, nCells: Int = 16,
                    kmeansIters: Int = 3, maxStaleFrac: Double = 0.5)

  /** The facade epochs under `root/_commits`: an [[EpochStore]] family
    * with no artifact kinds, whose commit markers record the member
    * epochs each facade epoch bound together. */
  private final class FacadeEpochs(spark: SparkSession, root: String)
      extends EpochStore(spark, root, 0) {
    protected val dataKinds = Nil
    protected val snapshotKinds = Nil

    def commitRecord(n: Long, record: Seq[String],
                     token: Option[String]): Unit =
      commit(n, Nil, token, record)

    /** The record of committed facade epoch `n`. */
    def recordAt(n: Long): String = {
      requireEpoch(n)
      EpochStoreKit.readText(fs, new Path(s"$root/_commits/$n")).getOrElse(
        throw new IllegalArgumentException(
          s"facade epoch $n at $root carries no member-epoch record — " +
            "markers written before the time-travel format only serve " +
            "latest reads"))
    }
  }

  /** One read position per member store. */
  private final case class MemberAt(sub: At, fp: At, fz: At, mh: At,
                                    sm: At)

  /** Doc-level text SimHash frame — the fingerprint family's input (one
    * compiled-kernel projection). */
  private[api] def textHashes(docs: DataFrame): DataFrame =
    docs.select(col("doc_id").as("_id"),
      Dedup.simhashNative(col("text")).as("simhash"))

  /** The marker record fields binding member epochs (in member order)
    * to a facade epoch. */
  private def memberRecord(es: Seq[Long]): Seq[String] =
    Seq("sub", "fp", "fz", "mh", "sm").zip(es).map { case (k, e) => s"$k=$e" }

  /** Run the five member operations, OVERLAPPED on a small thread pool
    * (each member is a chain of small sequential Spark jobs over its own
    * store root; concurrent jobs back-fill the executor slots one
    * member's stage tail leaves idle — guide §2.6 — measured ~2× on the
    * facade append wall locally). Every task runs to completion before
    * the first failure (in member order) is rethrown with its original
    * type, so a failed parallel append leaves exactly the
    * some-members-committed crash window the verbatim replay repairs.
    * Falls back to the serial member order when a fault-sweep hook is
    * driving this root (the sweeps enumerate write boundaries by
    * order). */
  private def runMembers[T](spark: SparkSession, root: String,
                             tasks: Seq[() => T]): Seq[T] =
    if (EpochStoreKit.hasHookFor(root)) tasks.map(_())
    else {
      val pool =
        java.util.concurrent.Executors.newFixedThreadPool(tasks.size)
      try {
        val futs = tasks.map { t =>
          pool.submit(new java.util.concurrent.Callable[scala.util.Try[T]] {
            def call(): scala.util.Try[T] = {
              // pool threads carry no thread-local active session; a plan
              // fragment built without one escapes with session == null and
              // NPEs later (SparkPlan.resetMetrics on a shared JVM)
              SparkSession.setActiveSession(spark)
              try scala.util.Try(t())
              finally SparkSession.clearActiveSession()
            }
          })
        }
        futs.map(_.get()).map(_.get)
      } finally pool.shutdown()
    }

  /** Initialize all five stores at `root` from a base corpus
    * (doc_id, text, key, embedding); facade epoch 0 = the base.
    *
    * CRASH-CONVERGENT like [[CurationDB.append]]: a crash after any
    * subset of member inits committed is repaired by replaying the call
    * verbatim with the SAME base — already-committed members are OPENED
    * instead of re-initialized (their epoch-0 artifacts are the
    * replay's, by the same same-inputs contract the append token
    * protocol assumes), stragglers init, and only then does the facade
    * marker land. Fails loudly if the facade itself already committed. */
  def init(spark: SparkSession, root: String, base: DataFrame,
           cfg: Config = Config()): CurationDB = {
    val fs = EpochStoreKit.fsOf(spark, root)
    require(new FacadeEpochs(spark, root).epoch < 0,
      s"CurationDB already initialized at $root")
    def committed(member: String): Boolean =
      EpochStoreKit.maxMarked(fs,
        new Path(s"$root/$member/_commits")) >= 0
    val b = base.select(col("doc_id").cast("long").as("doc_id"),
      col("text").cast("string").as("text"),
      col("key").cast("string").as("key"), col("embedding"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // materialize the shared base ONCE, then overlap the five
    // independent member inits (guide §2.6) — same discipline as
    // [[CurationDB.append]]'s member appends
    b.count()
    val members = runMembers[Any](spark, root, Seq(
      () =>
        if (committed("sub"))
          SubstringDedupStore.open(spark, s"$root/sub", cfg.window)
        else SubstringDedupStore.init(spark, s"$root/sub",
          b.select("doc_id", "text"), cfg.window),
      () =>
        if (committed("fp"))
          FingerprintStore.open(spark, s"$root/fp", cfg.maxHamming)
        else FingerprintStore.init(spark, s"$root/fp", textHashes(b),
          cfg.maxHamming),
      () =>
        if (committed("fz"))
          FuzzyKeyStore.open(spark, s"$root/fz", cfg.maxKeyLen,
            cfg.maxEdit)
        else FuzzyKeyStore.init(spark, s"$root/fz",
          b.select("doc_id", "key"), cfg.maxKeyLen, cfg.maxEdit),
      () =>
        if (committed("mh"))
          MinHashDedupStore.open(spark, s"$root/mh", cfg.minhashTau,
            cfg.shingleN, cfg.numHashes, cfg.bands)
        else MinHashDedupStore.init(spark, s"$root/mh",
          b.select("doc_id", "text"), cfg.minhashTau, "doc_id", "text",
          cfg.shingleN, cfg.numHashes, cfg.bands),
      () =>
        if (committed("sm"))
          SemanticDedupStore.open(spark, s"$root/sm", cfg.semanticTau,
            cfg.maxStaleFrac)
        else SemanticDedupStore.init(spark, s"$root/sm",
          b.select(col("doc_id").as("vec_id"), col("embedding")),
          cfg.nCells, cfg.kmeansIters, cfg.semanticTau,
          cfg.maxStaleFrac)))
    val db = new CurationDB(spark, root,
      members(0).asInstanceOf[SubstringDedupStore],
      members(1).asInstanceOf[FingerprintStore],
      members(2).asInstanceOf[FuzzyKeyStore],
      members(3).asInstanceOf[MinHashDedupStore],
      members(4).asInstanceOf[SemanticDedupStore])
    b.unpersist(false)
    db.facade.commitRecord(0L, memberRecord(Seq.fill(5)(0L)), None)
    db
  }

  /** Open an existing facade (all five member stores must be
    * committed). Knobs must match init's — they parameterize the
    * stored artifacts. */
  def open(spark: SparkSession, root: String,
           cfg: Config = Config()): CurationDB = {
    val db = new CurationDB(spark, root,
      SubstringDedupStore.open(spark, s"$root/sub", cfg.window),
      FingerprintStore.open(spark, s"$root/fp", cfg.maxHamming),
      FuzzyKeyStore.open(spark, s"$root/fz", cfg.maxKeyLen, cfg.maxEdit),
      MinHashDedupStore.open(spark, s"$root/mh", cfg.minhashTau,
        cfg.shingleN, cfg.numHashes, cfg.bands),
      SemanticDedupStore.open(spark, s"$root/sm", cfg.semanticTau,
        cfg.maxStaleFrac))
    require(db.epoch >= 0,
      s"CurationDB at $root has no committed facade epoch")
    db
  }
}
