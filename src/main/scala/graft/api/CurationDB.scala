package graft.api

import graft.operators.{Dedup, Pipeline}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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
  * append cannot be atomic, so [[append]] rides the
  * [[EpochStoreKit]] token protocol END TO END — every store receives
  * the SAME token (derived from the facade's next epoch, or supplied by
  * a streaming caller), so a crash after any subset of stores committed
  * is repaired by replaying the call verbatim: committed stores no-op
  * on their recorded token, stragglers commit, and only then does the
  * facade write its own commit marker, which records the token. The
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
  * latest snapshot — facade epochs whose recorded member epochs were
  * absorbed by a later member `compact()`/`retrain()` fail loudly with
  * that member's message (the same contract the members themselves
  * apply).
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

  private def fs = EpochStoreKit.fsOf(spark, root)
  private def marker(n: Long) = new Path(s"$root/_commits/$n")
  private var pinned: List[DataFrame] = Nil

  /** Completed quintet appends (0 after [[CurationDB.init]]). */
  def epoch: Long = EpochStoreKit.maxMarked(fs, new Path(s"$root/_commits"))

  /** Append one batch — (doc_id, text, key, embedding) — to all five
    * stores, exactly once per facade epoch. Idempotent under retry
    * after ANY crash window (see the class protocol note). Returns the
    * new facade epoch. */
  def append(batch: DataFrame): Long = {
    val n = epoch + 1
    append(batch, s"cdb-$n")
  }

  /** [[append]] with a caller-supplied idempotence token (the
    * Structured Streaming `foreachBatch` bridge — pass
    * `"stream-<batchId>"`). A replayed token is a NO-OP returning the
    * originally committed facade epoch. */
  def append(batch: DataFrame, token: String): Long =
    EpochStoreKit.replayCheck(fs, root, token, epoch).getOrElse {
      val n = epoch + 1
      EpochStoreKit.completeToken(fs, root, n - 1)
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
      val (subE, fpE, fzE, mhE, smE) =
        (es(0), es(1), es(2), es(3), es(4))
      b.unpersist(false)
      // the facade marker RECORDS the member epochs this commit bound
      // together — the time-travel map keptAt replays — and the token
      // (the EpochStore token order: its file follows at the next append)
      EpochStoreKit.commitMarker(fs, marker(n),
        CurationDB.memberRecord(subE, fpE, fzE, mhE, smE) + "," +
          EpochStoreKit.tokenField(token))
      n
    }

  /** The stored corpus (doc_id, text) — the substring store's data
    * epochs, which the facade treats as the corpus of record. */
  def corpus: DataFrame = substring.corpus

  /** Filter ANY corpus frame through the composed curation policy: a
    * row survives iff its id survives every family. One semi-join per
    * membership family (substring, fuzzy-rep) + the three stores' own
    * kept anti-joins — no shingling, banding, or clustering at read
    * time; everything rides the maintained artifacts. */
  def kept(corpus: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val afterSub = corpus.join(
      substring.deduped.select(col("doc_id").cast("long").as("_sub_id")),
      corpus(idCol).cast("long") === col("_sub_id"), "left_semi")
    // fuzzy keeps KEYS; the doc-level policy (the quintet-gate lift): a
    // doc survives iff it carries a surviving key as that key's rep
    val afterFz = afterSub.join(
      fuzzy.keptKeys.select(col("rep").cast("long").as("_fz_id"))
        .distinct(),
      afterSub(idCol).cast("long") === col("_fz_id"), "left_semi")
    semantic.kept(
      minhash.kept(fingerprint.kept(afterFz, idCol), idCol), idCol)
  }

  /** The curated corpus at the current epoch. */
  def keptCorpus: DataFrame = kept(corpus, "doc_id")

  /** [[kept]] as of a PAST committed facade epoch: each member filter
    * replays at the member epoch the facade's commit marker recorded
    * (audit/time-travel). Fails loudly when a member's recorded epoch
    * was absorbed by a later member compact()/retrain() — the members'
    * own time-travel contract. */
  def keptAt(n: Long, corpus: DataFrame,
             idCol: String = "doc_id"): DataFrame = {
    val (subE, fpE, fzE, mhE, smE) = memberEpochsAt(n)
    val afterSub = corpus.join(
      substring.dedupedAt(subE)
        .select(col("doc_id").cast("long").as("_sub_id")),
      corpus(idCol).cast("long") === col("_sub_id"), "left_semi")
    val afterFz = afterSub.join(
      fuzzy.keptKeysAt(fzE).select(col("rep").cast("long").as("_fz_id"))
        .distinct(),
      afterSub(idCol).cast("long") === col("_fz_id"), "left_semi")
    semantic.keptAt(smE,
      minhash.keptAt(mhE, fingerprint.keptAt(fpE, afterFz, idCol),
        idCol), idCol)
  }

  /** The member epochs facade epoch `n` bound together, parsed from
    * its commit marker record. */
  def memberEpochsAt(n: Long): (Long, Long, Long, Long, Long) = {
    require(n >= 0 && n <= epoch && fs.exists(marker(n)),
      s"facade epoch $n not committed at $root")
    val rec = EpochStoreKit.readText(fs, marker(n)).getOrElse(
      throw new IllegalArgumentException(
        s"facade epoch $n at $root carries no member-epoch record — " +
          "markers written before the time-travel format only serve " +
          "latest reads"))
    val m = rec.split(",").map(_.split("=")).collect {
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
    * the members' time-travel contract (fails loudly below a member
    * snapshot). */
  def manifestAt(n: Long): DataFrame = {
    val (subE, _, _, _, _) = memberEpochsAt(n)
    Pipeline.datasetManifest(
      keptAt(n, substring.corpusAt(subE)).withColumn("epoch", lit(n)),
      "epoch")
  }

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

  /** Store-family knobs; defaults match the declared-query pins.
    * `autoCompactEpochs` follows the five members' measured default
    * (SCALE.md: resolution cost flat through ~16 delta epochs); 0
    * reverts every member to manual compaction. */
  case class Config(window: Int = 8, maxHamming: Int = 3,
                    maxKeyLen: Int = 64, maxEdit: Int = 1,
                    minhashTau: Double = 0.5, shingleN: Int = 3,
                    numHashes: Int = 16, bands: Int = 4,
                    semanticTau: Double = 0.95, nCells: Int = 16,
                    kmeansIters: Int = 3, maxStaleFrac: Double = 0.5,
                    autoCompactEpochs: Int =
                      EpochStore.DefaultAutoCompactEpochs)

  /** Doc-level text SimHash frame — the fingerprint family's input (one
    * compiled-kernel projection). */
  private[api] def textHashes(docs: DataFrame): DataFrame =
    docs.select(col("doc_id").as("_id"),
      Dedup.simhashNative(col("text")).as("simhash"))

  /** The marker record format binding member epochs to a facade epoch. */
  private[api] def memberRecord(subE: Long, fpE: Long, fzE: Long,
                                mhE: Long, smE: Long): String =
    s"sub=$subE,fp=$fpE,fz=$fzE,mh=$mhE,sm=$smE"

  /** Run the five member operations, OVERLAPPED on a small thread pool
    * (each member is a chain of small sequential Spark jobs over its own
    * store root; concurrent jobs back-fill the executor slots one
    * member's stage tail leaves idle — guide §2.6 — measured ~2× on the
    * facade append wall locally). Every task runs to completion before
    * the first failure (in member order) is rethrown with its original
    * type, so a failed parallel append leaves exactly the
    * some-members-committed crash window the verbatim replay repairs.
    * Falls back to the serial member order when a fault-sweep hook is
    * driving this root (the sweeps enumerate write boundaries by order)
    * or when `spark.graft.curation.parallelMembers=false`. */
  private[api] def runMembers[T](spark: SparkSession, root: String,
                                 tasks: Seq[() => T]): Seq[T] = {
    val parallel = spark.conf
      .getOption("spark.graft.curation.parallelMembers")
      .forall(_ != "false") && !EpochStoreKit.hasHookFor(root)
    if (!parallel) tasks.map(_())
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
    require(
      EpochStoreKit.maxMarked(fs, new Path(s"$root/_commits")) < 0,
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
          SubstringDedupStore.open(spark, s"$root/sub", cfg.window,
            cfg.autoCompactEpochs)
        else SubstringDedupStore.init(spark, s"$root/sub",
          b.select("doc_id", "text"), cfg.window, cfg.autoCompactEpochs),
      () =>
        if (committed("fp"))
          FingerprintStore.open(spark, s"$root/fp", cfg.maxHamming,
            cfg.autoCompactEpochs)
        else FingerprintStore.init(spark, s"$root/fp", textHashes(b),
          cfg.maxHamming, cfg.autoCompactEpochs),
      () =>
        if (committed("fz"))
          FuzzyKeyStore.open(spark, s"$root/fz", cfg.maxKeyLen,
            cfg.maxEdit, cfg.autoCompactEpochs)
        else FuzzyKeyStore.init(spark, s"$root/fz",
          b.select("doc_id", "key"), cfg.maxKeyLen, cfg.maxEdit,
          cfg.autoCompactEpochs),
      () =>
        if (committed("mh"))
          MinHashDedupStore.open(spark, s"$root/mh", cfg.minhashTau,
            cfg.shingleN, cfg.numHashes, cfg.bands, cfg.autoCompactEpochs)
        else MinHashDedupStore.init(spark, s"$root/mh",
          b.select("doc_id", "text"), cfg.minhashTau, "doc_id", "text",
          cfg.shingleN, cfg.numHashes, cfg.bands, cfg.autoCompactEpochs),
      () =>
        if (committed("sm"))
          SemanticDedupStore.open(spark, s"$root/sm", cfg.semanticTau,
            cfg.maxStaleFrac, cfg.autoCompactEpochs)
        else SemanticDedupStore.init(spark, s"$root/sm",
          b.select(col("doc_id").as("vec_id"), col("embedding")),
          cfg.nCells, cfg.kmeansIters, cfg.semanticTau, cfg.maxStaleFrac,
          cfg.autoCompactEpochs)))
    val db = new CurationDB(spark, root,
      members(0).asInstanceOf[SubstringDedupStore],
      members(1).asInstanceOf[FingerprintStore],
      members(2).asInstanceOf[FuzzyKeyStore],
      members(3).asInstanceOf[MinHashDedupStore],
      members(4).asInstanceOf[SemanticDedupStore])
    b.unpersist(false)
    EpochStoreKit.writeText(fs, new Path(s"$root/_commits/0"),
      memberRecord(0L, 0L, 0L, 0L, 0L))
    db
  }

  /** Open an existing facade (all five member stores must be
    * committed). Knobs must match init's — they parameterize the
    * stored artifacts. */
  def open(spark: SparkSession, root: String,
           cfg: Config = Config()): CurationDB = {
    val db = new CurationDB(spark, root,
      SubstringDedupStore.open(spark, s"$root/sub", cfg.window,
        cfg.autoCompactEpochs),
      FingerprintStore.open(spark, s"$root/fp", cfg.maxHamming,
        cfg.autoCompactEpochs),
      FuzzyKeyStore.open(spark, s"$root/fz", cfg.maxKeyLen, cfg.maxEdit,
        cfg.autoCompactEpochs),
      MinHashDedupStore.open(spark, s"$root/mh", cfg.minhashTau,
        cfg.shingleN, cfg.numHashes, cfg.bands, cfg.autoCompactEpochs),
      SemanticDedupStore.open(spark, s"$root/sm", cfg.semanticTau,
        cfg.maxStaleFrac, cfg.autoCompactEpochs))
    require(db.epoch >= 0,
      s"CurationDB at $root has no committed facade epoch")
    db
  }
}
