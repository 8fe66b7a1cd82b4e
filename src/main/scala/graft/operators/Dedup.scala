package graft.operators

import graft.functions.VectorFunctions._
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/** Deduplication operators for large-scale training-data pipelines (builder
  * north star): exact, MinHash+LSH, SimHash, n-gram Jaccard, and
  * embedding-cosine near-dup.
  *
  * Scale shape: every stage is a per-row expression (shingling, signatures,
  * band hashes) followed by ONE shuffle keyed on (band, band_hash) — the
  * classic shingle→minhash→band→bucket-join pipeline. No cross joins over
  * the corpus: candidate generation touches only rows sharing a bucket, so
  * cost is Σ bucket² not N². All hashes derive from md5 (portable, stable
  * across engines/restarts — no JVM hashCode anywhere).
  */
object Dedup {

  /** 2^31-1, Mersenne prime; all minhash arithmetic stays below 2^62. */
  val P: Long = 2147483647L
  def hashA(j: Int): Long = (637543L + 104729L * j) % P
  def hashB(j: Int): Long = (389287L + 982451L * j) % P

  /** 56-bit integer hash of a string via md5 — the portable base hash. */
  def md5Long(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 14), 16, 10).cast("long")

  /** Word n-gram shingles (space-joined), e.g. n=3 → "a b c","b c d",... */
  def shingles(text: Column, n: Int): Column = {
    val toks = split(trim(text), "\\s+")
    filter(
      transform(toks, (_, i) =>
        when(i <= size(toks) - n,
          concat_ws(" ", slice(toks, i + 1, lit(n))))),
      s => s.isNotNull)
  }

  /** Per-shingle base hashes reduced mod P (computed once per doc). */
  def shingleHashes(text: Column, n: Int): Column =
    transform(shingles(text, n), s => pmod(md5Long(s), lit(P)))

  /** MinHash signature as a scalar expression (array of `numHashes` minima
    * of (a_j·x + b_j) mod P over the shingle hash set). NOTE: higher-order
    * functions are interpreted, not codegen'd — for bulk corpora use
    * [[minhashSignatures]] (explode + codegen'd min aggregates), which is
    * ~50× faster; this scalar form is for small/ad-hoc use. */
  def minhashSignature(shingleHashCol: Column, numHashes: Int): Column =
    transform(sequence(lit(0), lit(numHashes - 1)), j => {
      val a = element_at(lit((0 until numHashes).map(hashA).toArray), j + 1)
      val b = element_at(lit((0 until numHashes).map(hashB).toArray), j + 1)
      array_min(transform(shingleHashCol, x => pmod(a * x + b, lit(P))))
    })

  /** Compiled one-pass MinHash ([[graft.functions.MinHashExpr]]): per-row
    * struct(sig ARRAY<LONG>, hashes ARRAY<LONG> distinct ascending) —
    * empty arrays when the doc has fewer than n tokens. */
  def minhashNative(text: Column, n: Int, numHashes: Int): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(graft.functions.MinHashExpr(
      Bridge.expression(text), n, numHashes))
  }

  /** Bulk MinHash via the compiled kernel — a MAP-ONLY projection (no
    * explode, no aggregate shuffle); docs with no shingles are dropped,
    * matching the aggregate twin's absent groups. Output:
    * (_id, _m0.._m{k-1}). */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        n: Int, numHashes: Int): DataFrame =
    docs.select(col(idCol).as("_id"),
        minhashNative(col(textCol), n, numHashes).as("_mh"))
      .where(size(col("_mh.hashes")) > 0)
      .select(col("_id") +: (0 until numHashes).map(j =>
        col("_mh.sig").getItem(j).as(s"_m$j")): _*)

  /** The pre-kernel bulk formulation (explode shingle hashes + codegen'd
    * min aggregates — ONE shuffle keyed by doc id); retained as the
    * cross-check reference for [[minhashNative]]. */
  private[graft] def minhashSignaturesAgg(docs: DataFrame, idCol: String,
                                          textCol: String, n: Int,
                                          numHashes: Int): DataFrame = {
    val exploded = docs.select(col(idCol).as("_id"),
      explode(shingleHashes(col(textCol), n)).as("_x"))
    val aggs = (0 until numHashes).map(j =>
      min(pmod(lit(hashA(j)) * col("_x") + lit(hashB(j)), lit(P)))
        .as(s"_m$j"))
    exploded.groupBy("_id").agg(aggs.head, aggs.tail: _*)
  }

  /** LSH candidate pairs: split the signature into `bands` bands, hash each
    * band, and join docs sharing any (band, band_hash) bucket. Output:
    * (id1, id2) with id1 < id2, distinct. Cost: signature agg (one shuffle)
    * + bucket self-join (one shuffle) — Σ bucket², never N². */
  def minhashCandidates(docs: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, numHashes: Int = 16,
                        bands: Int = 4): DataFrame =
    bandCandidates(minhashSignatures(docs, idCol, textCol, n, numHashes),
      numHashes, bands)

  /** The banded LSH self-join over a signature frame (_id, _m0.._m{k-1}):
    * distinct candidate pairs (id1 < id2) sharing any (band, band_hash)
    * bucket. Shared by [[minhashCandidates]] and [[nearDupPairs]]; exposed
    * `private[graft]` so DedupSpec can gate candidate-count linearity on
    * exact-dup-heavy corpora directly. */
  /** (id, band, band-hash) explode of a signature frame — the LSH bucket
    * key stream both the self-join ([[bandCandidates]]) and the
    * cross-corpus join ([[crossNearDupPairs]]) consume. */
  private[graft] def bandedProjection(sig: DataFrame, numHashes: Int,
                                      bands: Int): DataFrame = {
    val r = numHashes / bands
    sig.select(col("_id"),
      posexplode(array((0 until bands).map { b =>
        md5(concat_ws(",",
          (b * r until (b + 1) * r).map(j => col(s"_m$j").cast("string")): _*)
          .cast("binary"))
      }: _*)).as(Seq("_band", "_bhash")))
  }

  private[graft] def bandCandidates(sig: DataFrame, numHashes: Int,
                                    bands: Int): DataFrame = {
    val banded = bandedProjection(sig, numHashes, bands)
    banded.as("l").join(banded.as("r"),
        col("l._band") === col("r._band") &&
          col("l._bhash") === col("r._bhash") &&
          col("l._id") < col("r._id"))
      .select(col("l._id").as("id1"), col("r._id").as("id2"))
      .distinct()
  }

  /** n-gram Jaccard similarity on ALREADY-DISTINCT shingle-hash sets.
    * `array_intersect` is hash-based O(|A|+|B|) — do NOT pass raw arrays;
    * distinct them once per document, not once per candidate pair. */
  def jaccard(aDistinct: Column, bDistinct: Column): Column = {
    val inter = size(array_intersect(aDistinct, bDistinct)).cast("double")
    inter / (size(aDistinct) + size(bDistinct) - inter).cast("double")
  }

  /** MinHash-LSH near-dup pairs verified by true n-gram Jaccard >= tau.
    * The shingle scan is done ONCE, by the compiled one-pass kernel: each
    * row yields both the minhash minima (for banding) and the distinct
    * shingle-hash set (for the jaccard verify) with NO exploded aggregate
    * — the LSH band join is the pipeline's only corpus-scale shuffle.
    *
    * Exact-dup collapse (the crawl-corpus safeguard): e byte-identical
    * copies of one document share one signature, so banding them all
    * floods every band bucket with e² candidate pairs — the degenerate
    * Σ bucket² shape real web corpora hit hardest. Only ONE representative
    * per exact text group (min id) enters the band join; verified rep
    * pairs expand back to member pairs afterwards, and within-group pairs
    * emit directly with jaccard 1.0 (identical texts ⇒ identical shingle
    * sets). Output is IDENTICAL to banding every member — members band
    * together iff their reps do — but candidate generation and the
    * jaccard verify see each group once.
    *
    * The collapse is pure overhead (a rep-selection window + two
    * expansion joins) on corpora without sizable exact-dup groups, so it
    * is GATED: `collapseExactDups = None` (default) probes the LARGEST
    * exact group's size on the already-persisted signature frame — one
    * cheap group-count aggregation — and collapses only when it exceeds
    * [[collapseGroupThreshold]]. The hazard the collapse guards against
    * is quadratic in the largest group (e copies → C(e,2)·bands band
    * candidates), not in the dup COUNT: a handful of pairs is noise the
    * direct path absorbs, while one text duplicated 100k times is the
    * blowup — which is why the probe is an EXACT max (any approximate
    * distinct-count could miss a single huge group in a clean corpus).
    * `Some(true)`/`Some(false)` skips the probe for callers that know
    * their corpus shape (a crawl pipeline forces true; a
    * pre-deduplicated corpus forces false). Either branch returns
    * identical pairs (spec-gated). */
  def nearDupPairs(docs: DataFrame, idCol: String, textCol: String,
                   tau: Double, n: Int = 3, numHashes: Int = 16,
                   bands: Int = 4,
                   collapseExactDups: Option[Boolean] = None): DataFrame = {
    // one corpus text scan either way: both the probe and both branches
    // read this persisted signature frame
    val sig0 = signatures0(docs, idCol, textCol, n, numHashes)
    val out = sigNearDupPairsOf(sig0, tau, numHashes, bands,
      collapseExactDups)
    sig0.unpersist(false)
    out
  }

  /** [[nearDupPairs]] over a PREBUILT signature frame (the
    * [[signatureFrame]] shape, e.g. read back from a persisted
    * artifact) — no text scan: the frame already carries the minima,
    * the exact-group keys, and the shingle sets. The store read/append
    * path ([[graft.api.MinHashDedupStore]]). */
  def sigNearDupPairs(sig: DataFrame, tau: Double, numHashes: Int = 16,
                      bands: Int = 4,
                      collapseExactDups: Option[Boolean] = None)
      : DataFrame = {
    val sig0 = sig
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = sigNearDupPairsOf(sig0, tau, numHashes, bands,
      collapseExactDups)
    sig0.unpersist(false)
    out
  }

  /** Shared body of [[nearDupPairs]]/[[sigNearDupPairs]] — `sig0` must
    * already be persisted (both the collapse probe and both branches
    * re-read it); the CALLER unpersists it. */
  private def sigNearDupPairsOf(sig0: DataFrame, tau: Double,
                                numHashes: Int, bands: Int,
                                collapseExactDups: Option[Boolean])
      : DataFrame = {
    val doCollapse = collapseExactDups.getOrElse {
      val maxE = sig0.groupBy("_g").agg(count(lit(1)).as("_e"))
        .agg(coalesce(max(col("_e")), lit(0L))).head().getLong(0)
      maxE > collapseGroupThreshold
    }

    val out =
      if (!doCollapse) {
        // dup-free corpus: band every signature directly — no rep window,
        // no expansion joins (the shape r4 shipped)
        val cand = bandCandidates(sig0, numHashes, bands)
        val hashed = sig0.select(col("_id"), col("_h"))
        cand
          .join(hashed.select(col("_id").as("id1"), col("_h").as("_h1")),
            "id1")
          .join(hashed.select(col("_id").as("id2"), col("_h").as("_h2")),
            "id2")
          .withColumn("jaccard", jaccard(col("_h1"), col("_h2")))
          .where(col("jaccard") >= tau)
          .select("id1", "id2", "jaccard")
          .transform(Ckpt.eager)
      } else {
        val (mem, repSig) = collapseFromSignatures(sig0)
        val paired = sigNearDupPairsCollapsed(mem, repSig, tau, numHashes,
          bands)
        repSig.unpersist(false)
        paired
      }
    out
  }

  /** The collapsed branch of [[sigNearDupPairs]] over a PRE-COLLAPSED
    * (membership, persisted rep signature) pair — the store append/init
    * path shares ONE collapse across the within-pairs, cross-pairs and
    * band-artifact consumers instead of re-collapsing per call
    * ([[graft.api.MinHashDedupStore]]). Output-identical to
    * [[sigNearDupPairs]] (both branches are; spec-gated). Caller owns
    * `repSig`'s unpersist; the result is checkpoint-backed. */
  private[graft] def sigNearDupPairsCollapsed(mem: DataFrame,
                                              repSig: DataFrame,
                                              tau: Double, numHashes: Int,
                                              bands: Int): DataFrame = {
    val cand = bandCandidates(repSig, numHashes, bands)

    val hashed = repSig.select(col("_id"), col("_g"), col("_h"))
    val repPairs = cand
      .join(hashed.select(col("_id").as("id1"), col("_g").as("_g1"),
        col("_h").as("_h1")), "id1")
      .join(hashed.select(col("_id").as("id2"), col("_g").as("_g2"),
        col("_h").as("_h2")), "id2")
      .withColumn("jaccard", jaccard(col("_h1"), col("_h2")))
      .where(col("jaccard") >= tau)
      .select("_g1", "_g2", "jaccard")

    // cross-group expansion: every member pair of a verified rep pair
    // is a near-dup pair with the SAME jaccard (members are
    // byte-identical to their reps); groups are disjoint so
    // least/greatest never ties
    val cross = repPairs
      .join(mem.select(col("_g").as("_g1"), col("_id").as("_a")), "_g1")
      .join(mem.select(col("_g").as("_g2"), col("_id").as("_b")), "_g2")
      .select(least(col("_a"), col("_b")).as("id1"),
        greatest(col("_a"), col("_b")).as("id2"), col("jaccard"))
    // within-group pairs: identical shingle sets, jaccard exactly 1.0
    // (identical signatures share every band, so the uncollapsed form
    // always banded and verified them)
    val within = mem.as("l").join(mem.as("r"),
        col("l._g") === col("r._g") && col("l._id") < col("r._id"))
      .select(col("l._id").as("id1"), col("r._id").as("id2"),
        lit(1.0).as("jaccard"))
      .where(lit(1.0) >= tau)

    // pairs are tiny next to the corpus: materialize them so both
    // caches free NOW (the result is checkpoint-backed)
    cross.unionByName(within).transform(Ckpt.eager)
  }

  /** Production banding knobs `(numHashes, bands)` for a corpus of
    * `corpusSize` documents at near-dup threshold `tau` — the sizing rule
    * that keeps RANDOM-collision candidate mass bounded as the corpus
    * grows, where the declared queries pin (16, 4) for oracle determinism.
    *
    * Banding theory (Leskovec/Rajaraman/Ullman, MMDS ch. 3): with `r`
    * rows per band and `b` bands, a pair at Jaccard `j` becomes a
    * candidate with probability 1 − (1 − j^r)^b.
    *
    *  - Rows per band `r` bounds random mass: an UNRELATED pair (shingle
    *    Jaccard ≈ `pRand`) collides in one band with probability ≈
    *    pRand^r, so expected random candidate pairs stay ≤
    *    `candPerDoc`·N when N²/2 · pRand^r ≤ candPerDoc·N, i.e.
    *    r = ceil( ln(N / (2·candPerDoc)) / ln(1/pRand) ).
    *  - But `r` is recall-capped: a TRUE pair at `tau` needs
    *    b ≈ ln(1/missProb)/tau^r bands for miss probability
    *    (1−tau^r)^b ≤ exp(−b·tau^r) ≤ missProb, and b is bounded by
    *    `maxBands` (hash budget), so r ≤ ln(ln(1/missProb)/maxBands)
    *    / ln(tau).
    *
    * The clamp order is deliberate: RECALL WINS. At low thresholds
    * (tau ≲ 0.6) the (1−j^r)^b curve itself prices candidate generation
    * — no knob setting gives both linear candidates and high recall;
    * production dedup runs tau ≥ ~0.7 exactly for this reason (e.g.
    * RefinedWeb: 9000 hashes = 450 bands × 20 rows at tau 0.8), and at
    * those thresholds the two constraints are compatible through the
    * billions of rows. Returned numHashes = b·r never exceeds
    * maxBands·32. */
  def autoMinhashKnobs(corpusSize: Long, tau: Double,
                       candPerDoc: Long = 16L,
                       pRand: Double = 0.1,
                       missProb: Double = 0.05,
                       maxBands: Int = 64): (Int, Int) = {
    require(tau > 0 && tau < 1, s"tau must be in (0,1), got $tau")
    require(pRand > 0 && pRand < 1, s"pRand must be in (0,1), got $pRand")
    require(missProb > 0 && missProb < 1,
      s"missProb must be in (0,1), got $missProb")
    val lnMiss = math.log(1.0 / missProb)
    // bucket-bound r: random candidate pairs <= candPerDoc per document
    val excess = corpusSize.toDouble / math.max(1L, 2L * candPerDoc)
    val rBucket =
      if (excess <= 1.0) 2
      else math.ceil(math.log(excess) / math.log(1.0 / pRand)).toInt
    // recall-cap r: the band count the formula will ask for must fit
    // the hash budget
    val rRecall =
      math.max(2, math.floor(math.log(lnMiss / maxBands) /
        math.log(tau)).toInt)
    val r = math.max(2, math.min(32, math.min(rBucket, rRecall)))
    val b = math.max(2, math.min(maxBands,
      math.ceil(lnMiss / math.pow(tau, r)).toInt))
    (b * r, b)
  }

  /** [[nearDupPairs]] with `(numHashes, bands)` sized from the actual
    * corpus count via [[autoMinhashKnobs]] — the production entry point
    * (one count job, then the banded pipeline). Explicit-knob overloads
    * remain for deterministic oracle queries. Pass `knownCount` when the
    * caller already holds the corpus size (a catalog row count, a
    * previous stage's metric) — skips the sizing scan, same contract as
    * [[semanticDedupedAuto]]. */
  def nearDupPairsAuto(docs: DataFrame, idCol: String, textCol: String,
                       tau: Double, n: Int = 3,
                       candPerDoc: Long = 16L,
                       collapseExactDups: Option[Boolean] = None,
                       knownCount: Option[Long] = None)
      : DataFrame = {
    val (numHashes, bands) =
      autoMinhashKnobs(knownCount.getOrElse(docs.count()), tau, candPerDoc)
    nearDupPairs(docs, idCol, textCol, tau, n, numHashes, bands,
      collapseExactDups)
  }

  /** Cross-corpus near-dup pairs: every `newDocs` document whose n-gram
    * Jaccard against some `existing` document is >= tau — the INCREMENTAL
    * dedup shape: each incoming crawl batch checks against the
    * already-kept corpus instead of re-deduplicating the union from
    * scratch (batch² → batch×corpus banding, and only bucket-mates
    * score). Both sides collapse exact groups first (the same crawl
    * safeguard as [[nearDupPairs]]); verified representative pairs
    * expand back to member pairs on both sides. Byte-identical cross
    * matches need no special case: identical texts share every band.
    *
    * Sides keep their identities — output (new_id, existing_id, jaccard);
    * ids may be any type and may collide numerically across sides. At
    * deployment scale, persist the existing side's signature table
    * ([[minhashSignatures]]) next to the corpus and feed batches against
    * it; building it here per call is the self-contained form. */
  def crossNearDupPairs(newDocs: DataFrame, existing: DataFrame,
                        idCol: String, textCol: String, tau: Double,
                        n: Int = 3, numHashes: Int = 16,
                        bands: Int = 4): DataFrame =
    crossSigNearDupPairs(
      signatureFrame(newDocs, idCol, textCol, n, numHashes),
      signatureFrame(existing, idCol, textCol, n, numHashes),
      tau, numHashes, bands)

  /** [[crossNearDupPairs]] over PREBUILT signature frames (the
    * [[signatureFrame]] shape) — the deployment form that note promises:
    * the existing side IS the persisted signature artifact, so a batch
    * bands against stored minima and jaccard-verifies against stored
    * shingle sets without ever touching base text
    * ([[graft.api.MinHashDedupStore.append]]). */
  def crossSigNearDupPairs(newSig: DataFrame, existingSig: DataFrame,
                           tau: Double, numHashes: Int = 16,
                           bands: Int = 4): DataFrame = {
    val sigN = newSig
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (memN, repN) = collapseFromSignatures(sigN)
    val sigE = existingSig
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (memE, repE) = collapseFromSignatures(sigE)
    val cand = bandedProjection(repN, numHashes, bands).as("l")
      .join(bandedProjection(repE, numHashes, bands).as("r"),
        col("l._band") === col("r._band") &&
          col("l._bhash") === col("r._bhash"))
      .select(col("l._id").as("_idn"), col("r._id").as("_ide"))
      .distinct()
    val verified = cand
      .join(repN.select(col("_id").as("_idn"), col("_g").as("_gn"),
        col("_h").as("_hn")), "_idn")
      .join(repE.select(col("_id").as("_ide"), col("_g").as("_ge"),
        col("_h").as("_he")), "_ide")
      .withColumn("jaccard", jaccard(col("_hn"), col("_he")))
      .where(col("jaccard") >= tau)
      .select("_gn", "_ge", "jaccard")
    // expand both sides' exact groups (members are byte-identical to
    // their reps, so every member pair shares the rep pair's jaccard)
    val out = verified
      .join(memN.select(col("_g").as("_gn"), col("_id").as("new_id")),
        "_gn")
      .join(memE.select(col("_g").as("_ge"), col("_id").as("existing_id")),
        "_ge")
      .select("new_id", "existing_id", "jaccard")
      .transform(Ckpt.eager)
    Seq(sigN, repN, sigE, repE).foreach(_.unpersist(false))
    out
  }

  /** The PERSISTABLE banded projection of a signature frame's
    * exact-group reps — (_band, _bhash, _id), `bands` rows per rep:
    * what [[graft.api.MinHashDedupStore]] writes per epoch so that
    * [[crossBandNearDupPairs]] can band an appended batch against a
    * SCAN of the stored projection instead of re-collapsing (a full
    * window shuffle) and re-hashing every stored signature's minima per
    * batch. ~`bands` small rows per distinct stored text. */
  def bandArtifact(sig: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    val s = sig
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (_, rep) = collapseFromSignatures(s)
    val out = bandArtifactOfRep(rep, numHashes, bands)
    rep.unpersist(false)
    s.unpersist(false)
    out
  }

  /** [[bandArtifact]] over a PRE-COLLAPSED persisted rep frame — the
    * shared-collapse store path ([[graft.api.MinHashDedupStore]]).
    * Caller owns `rep`'s unpersist. */
  private[graft] def bandArtifactOfRep(rep: DataFrame, numHashes: Int,
                                       bands: Int): DataFrame =
    bandedProjection(rep, numHashes, bands)
      .select(col("_band"), col("_bhash"), col("_id"))
      .transform(Ckpt.eager)

  /** [[crossSigNearDupPairs]] where the EXISTING side's banded
    * projection is a PREBUILT artifact ([[bandArtifact]] epochs read
    * back from [[graft.api.MinHashDedupStore]]) — the deployment form
    * that removes the append's base-linear shuffle: the stored
    * signature frame is never re-collapsed or re-banded; the batch's
    * banded projection BROADCASTS against a scan of the stored
    * projection, and `baseSig` is touched only by the candidate-keyed
    * verify join and the group-membership expansion.
    *
    * `baseBand` may carry MULTIPLE rows per stored exact group (one
    * per epoch the group's text appeared in — epoch-LOCAL reps):
    * identical texts carry identical minima, so the extra rows band
    * identically and candidates are unchanged at the group level; the
    * verify output is deduplicated per (new-group, existing-group)
    * before member expansion. Output-identical to
    * [[crossSigNearDupPairs]] (spec-gated). */
  def crossBandNearDupPairs(newSig: DataFrame, baseBand: DataFrame,
                            baseSig: DataFrame, tau: Double,
                            numHashes: Int = 16,
                            bands: Int = 4): DataFrame = {
    val sigN = newSig
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (memN, repN) = collapseFromSignatures(sigN)
    val out = crossBandNearDupPairsCollapsed(memN, repN, baseBand,
      baseSig, tau, numHashes, bands)
    Seq(sigN, repN).foreach(_.unpersist(false))
    out
  }

  /** [[crossBandNearDupPairs]] over a PRE-COLLAPSED batch (membership,
    * persisted rep signature) — the shared-collapse store path
    * ([[graft.api.MinHashDedupStore]] collapses its batch ONCE for the
    * within-pairs, cross-pairs and band-artifact consumers). Caller owns
    * `repN`'s unpersist; the result is checkpoint-backed. */
  private[graft] def crossBandNearDupPairsCollapsed(
      memN: DataFrame, repN: DataFrame, baseBand: DataFrame,
      baseSig: DataFrame, tau: Double, numHashes: Int,
      bands: Int): DataFrame = {
    val cand = baseBand
      .join(broadcast(bandedProjection(repN, numHashes, bands)
        .select(col("_band"), col("_bhash"), col("_id").as("_idn"))),
        Seq("_band", "_bhash"))
      .select(col("_idn"), col("_id").as("_ide"))
      .distinct()
    val verified = cand
      .join(repN.select(col("_id").as("_idn"), col("_g").as("_gn"),
        col("_h").as("_hn")), "_idn")
      .join(baseSig.select(col("_id").as("_ide"), col("_g").as("_ge"),
        col("_h").as("_he")), "_ide")
      .withColumn("jaccard", jaccard(col("_hn"), col("_he")))
      .where(col("jaccard") >= tau)
      // epoch-local reps of one stored group duplicate the verified row
      // with an IDENTICAL jaccard (same text ⇒ same shingle set) — keep
      // one row per group pair before expansion
      .groupBy("_gn", "_ge").agg(max(col("jaccard")).as("jaccard"))
    verified
      .join(memN.select(col("_g").as("_gn"), col("_id").as("new_id")),
        "_gn")
      .join(baseSig.select(col("_g").as("_ge"),
        col("_id").as("existing_id")), "_ge")
      .select("new_id", "existing_id", "jaccard")
      .transform(Ckpt.eager)
  }

  /** Keep only the genuinely new documents of a batch: `newDocs` minus
    * everything [[crossNearDupPairs]] matches into `existing` — one
    * anti-join after the banded check. The per-batch hygiene step of an
    * incremental corpus build. */
  def dedupedAgainstCorpus(newDocs: DataFrame, existing: DataFrame,
                           idCol: String, textCol: String, tau: Double,
                           n: Int = 3, numHashes: Int = 16,
                           bands: Int = 4): DataFrame = {
    val dup = crossNearDupPairs(newDocs, existing, idCol, textCol, tau,
        n, numHashes, bands)
      .select(col("new_id").as("_dup_id")).distinct()
    newDocs.join(dup, newDocs(idCol) === dup("_dup_id"), "left_anti")
  }

  /** Banding-recall harness — the dedup counterpart of
    * [[SimilaritySearch.annRecall]]: on a BOUNDED sample, compare the
    * banded pipeline's verified pairs against ALL-PAIRS n-gram Jaccard
    * ground truth at the same tau. Banding's precision is 1 by
    * construction (every candidate is jaccard-verified); what it can
    * lose is RECALL — true pairs whose signatures never share a band
    * (probability (1−j^r)^b per pair at jaccard j). This measures that
    * loss on a sample you can afford, so the `numHashes`/`bands` knobs
    * are tuned with evidence instead of the formula alone.
    *
    * Sample = the `sampleN` lowest-md5(id) docs (deterministic,
    * unbiased by id assignment order). Output: one row —
    * (n_sample, n_true_pairs, n_found_pairs, recall); recall is 1.0
    * when the sample has no true pairs (nothing to miss). */
  def bandingRecall(docs: DataFrame, idCol: String, textCol: String,
                    tau: Double, sampleN: Int = 512, n: Int = 3,
                    numHashes: Int = 16, bands: Int = 4): DataFrame = {
    val sample = docs
      .orderBy(md5Long(col(idCol).cast("string")), col(idCol))
      .limit(sampleN)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // ground truth: all-pairs jaccard on the sample's distinct shingle
    // sets (quadratic — the sample bound is the point)
    val sh = sample.select(col(idCol).as("_id"),
        array_distinct(transform(shingles(col(textCol), n),
          s => md5Long(s) % P)).as("_h"))
      .where(size(col("_h")) > 0)
    val truth = sh.as("l").join(sh.as("r"), col("l._id") < col("r._id"))
      .withColumn("jaccard", jaccard(col("l._h"), col("r._h")))
      .where(col("jaccard") >= tau)
      .select(col("l._id").as("id1"), col("r._id").as("id2"))
    val found = nearDupPairs(sample, idCol, textCol, tau, n, numHashes,
        bands)
      .select("id1", "id2")
    val nTrue = truth.count()
    val nFound = found.count()
    val nHit = truth.join(found, Seq("id1", "id2")).count()
    val nSample = sample.count()
    sample.unpersist(false)
    val recall = if (nTrue == 0) 1.0 else nHit.toDouble / nTrue.toDouble
    val spark = docs.sparkSession
    import spark.implicits._
    Seq((nSample, nTrue, nFound, recall))
      .toDF("n_sample", "n_true_pairs", "n_found_pairs", "recall")
  }

  /** The exact-dup collapse stage of [[nearDupPairs]], exposed
    * `private[graft]` so DedupSpec can gate its linearity promise (the
    * band join sees ONE row per byte-identical text group, so e exact
    * copies cannot produce e² band candidates). Returns:
    *  - `sig0`: per-doc signatures + exact-group key `_g` = md5(text) +
    *    distinct shingle-hash set `_h` (persisted — feeds all three
    *    consumers below; ~100× smaller than the text, the dedup analogue
    *    of the reference's cached vector index, storage_engine.py:89-110);
    *  - `mem`: (id -> exact group) membership;
    *  - `repSig`: ONE signature row per group (min-id representative;
    *    persisted — feeds the band join and the jaccard verify).
    * The caller unpersists sig0 and repSig when done. */
  /** Largest exact-dup group size above which [[nearDupPairs]]'s auto
    * probe turns the collapse on. At e = 8 a group adds C(8,2)·bands =
    * 112 band candidates — noise; the collapse's window + expansion
    * joins cost more than that until groups reach the tens. */
  private[graft] val collapseGroupThreshold = 8L

  /** The MinHash family's PERSISTABLE per-doc signature frame
    * (_id, _g = md5(text), _m0.._m{k-1}, _h = distinct shingle-hash
    * set) — ONE text scan producing everything every near-dup path
    * needs: the minima for banding, the exact-group key for the
    * crawl-corpus collapse, and the shingle set for the jaccard verify.
    * This is the artifact a deployment persists beside its corpus
    * ([[graft.api.MinHashDedupStore]] writes it per epoch): appended
    * batches band against the STORED frame, so base text is never
    * re-shingled and base×base never re-bands. ~100× smaller than the
    * text it summarizes. */
  def signatureFrame(docs: DataFrame, idCol: String, textCol: String,
                     n: Int, numHashes: Int): DataFrame =
    docs.select(col(idCol).as("_id"),
        md5(col(textCol).cast("binary")).as("_g"),
        minhashNative(col(textCol), n, numHashes).as("_mh"))
      .where(size(col("_mh.hashes")) > 0)
      .select(Seq(col("_id"), col("_g")) ++
        (0 until numHashes).map(j =>
          col("_mh.sig").getItem(j).as(s"_m$j")) :+
        col("_mh.hashes").as("_h"): _*)

  /** [[signatureFrame]], persisted — the caller unpersists. */
  private def signatures0(docs: DataFrame, idCol: String, textCol: String,
                          n: Int, numHashes: Int): DataFrame =
    signatureFrame(docs, idCol, textCol, n, numHashes)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  private[graft] def exactCollapsed(docs: DataFrame, idCol: String,
                                    textCol: String, n: Int, numHashes: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    val sig0 = signatures0(docs, idCol, textCol, n, numHashes)
    val (mem, repSig) = collapseFromSignatures(sig0)
    (sig0, mem, repSig)
  }

  /** The collapse stage over a prebuilt signature frame: (id -> group)
    * membership plus ONE persisted signature row per exact text group
    * (min-id representative). Caller unpersists repSig. */
  private[graft] def collapseFromSignatures(sig0: DataFrame)
      : (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val mem = sig0.select(col("_id"), col("_g"))
    // rep selection via rank-1 window: Spark's WindowGroupLimit pushes a
    // PARTIAL top-1-per-group below the exchange, so only ~one row per
    // group is shuffled — already the map-side collapse a groupBy would
    // buy, without forcing the array column `_h` through a sort-based
    // aggregation buffer (first(ARRAY) disqualifies HashAggregate)
    val repSig = sig0
      .withColumn("_rn",
        row_number().over(Window.partitionBy("_g").orderBy("_id")))
      .where(col("_rn") === 1).drop("_rn")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (mem, repSig)
  }

  /** Materialize a deduplicated corpus: drop every doc that appears as the
    * RIGHT side of a near-dup pair whose left partner survives — the
    * standard keep-lowest-id policy. `pairs` must have (id1, id2) with
    * id1 < id2; docs named in id2 with a surviving id1 are dropped.
    * One anti-join — no iteration (transitive chains resolve to "keep the
    * minimum of each connected component's reachable-from set" under the
    * id1<id2 convention: every non-minimal member is some pair's id2). */
  def dedupedCorpus(docs: DataFrame, idCol: String,
                    pairs: DataFrame): DataFrame =
    docs.join(pairs.select(col("id2").as(idCol)).distinct(),
      Seq(idCol), "left_anti")

  /** Cluster summary over [[Closure.components]] output: one row per
    * component with its size and representative (the component id is
    * already the minimum member id — the member every keep-lowest-id
    * dedup policy retains). */
  def componentSummary(components: DataFrame): DataFrame =
    components.groupBy("component")
      .agg(count(lit(1)).as("n_members"), max("id").as("max_member"))

  /** Deduplicated corpus via the component closure: keep EXACTLY ONE doc
    * per duplicate cluster (the component minimum), drop every other
    * member — the principled form of [[dedupedCorpus]]'s pair-based
    * policy (identical on most pair graphs; differs only when a pair's
    * id1 is itself a dropped member of another cluster, where the
    * pair-based form can over-keep). One anti-join after the closure.
    *
    * The closure is [[Closure.components]]; above its local cap it
    * runs the star loop (O(log²) rounds regardless of component
    * diameter — banding chains document families into long components;
    * controlled 100× single-shots measured min-label propagation at
    * 266 s where the star closure finished the SAME relation in ~102 s,
    * bench_r8_full_100x.json). */
  def dedupedCorpusCC(docs: DataFrame, idCol: String,
                      pairs: DataFrame): DataFrame = {
    // the closure's integral-id contract on the docs side too, so a
    // string-id corpus cannot silently anti-join on nulls and come back
    // undeduplicated
    Closure.requireIntegral(docs, idCol, "dedupedCorpusCC")
    val drop = Closure.components(pairs)
      .where(col("id") =!= col("component"))
      .select(col("id").as("_drop_id"))
    docs.join(drop, docs(idCol).cast("long") === drop("_drop_id"),
      "left_anti")
  }

  /** Quality-aware canonical selection — the production near-dup KEEP
    * policy: within each near-dup component keep the member with the
    * HIGHEST quality (ties to the lowest id), not the lowest id
    * ([[dedupedCorpusCC]]'s witness policy). A crawl pipeline dedups to
    * the best-scored page of a clique — lowest-id keep discards quality
    * mass for free. Unpaired docs survive as their own canonical.
    *
    * `qualityCol` must be integral (an exact long score such as
    * [[QualityModels.marginExpr]]'s µ-unit margin) so the per-component
    * argmax replays bit-for-bit across engines — a float score's
    * near-ties would make the kept set engine-dependent.
    *
    * Shape: the closure runs over the PAIR graph only
    * ([[Closure.components]]); the corpus then
    * aggregates ONCE by component with a map-side-combinable
    * max(struct(quality, -id)) argmax — no per-component sort window, no
    * corpus self-join, one exchange keyed by component. Output: one row
    * per KEPT doc — (<idCol>, component, <qualityCol>, n_members). */
  def canonicalByQuality(docs: DataFrame, idCol: String,
                         qualityCol: String, pairs: DataFrame): DataFrame = {
    Seq(idCol, qualityCol).foreach(
      Closure.requireIntegral(docs, _, "canonicalByQuality"))
    val comp = Closure.components(pairs)
    docs
      .select(col(idCol).cast("long").as("_id"),
        col(qualityCol).cast("long").as("_q"))
      .join(comp, col("_id") === comp("id"), "left")
      .select(col("_id"), col("_q"),
        coalesce(col("component"), col("_id")).as("component"))
      .groupBy("component")
      .agg(max(struct(col("_q").as("q"), (-col("_id")).as("nid")))
          .as("_best"),
        count(lit(1)).as("n_members"))
      .select((-col("_best.nid")).as(idCol), col("component"),
        col("_best.q").as(qualityCol), col("n_members"))
  }

  /** Fingerprint width for [[simhash56]]/[[simhashes]]: 56 bits — the full
    * range of [[md5Long]], and the widest fingerprint whose bit-masks and
    * vote-weighted sums stay BIGINT-safe for SQL portability. Width drives
    * band selectivity: with the default maxHamming=3 the pigeonhole join
    * uses 4 bands × 14 bits → 2^14 values per band, so per-band bucket
    * population is ~N/16384 and the banded self-join stays near-linear at
    * corpus scale (a 32-bit hash with 7 bands of 4-5 bits degenerates
    * toward N²/32). */
  val SimhashBits = 56

  /** SimHash near-dup pairs with Hamming distance <= maxHamming, via LSH
    * banding on the 56-bit hash: split into `maxHamming+1` bit-bands — by
    * pigeonhole, any pair within maxHamming shares at least one identical
    * band, so the banded equi-join is EXACT (same result as the N² brute
    * join) while shuffling only bucket-mates. Keep maxHamming <= 3 at scale
    * so bands stay >= 14 bits wide (see [[SimhashBits]]). */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String = "text",
                   maxHamming: Int = 3): DataFrame =
    hashPairs(simhashes(docs, idCol, textCol), maxHamming)

  /** The banded Hamming pair machinery over ANY 56-bit fingerprint frame
    * (_id, simhash) — text SimHash ([[simhashPairs]]) and perceptual
    * image dHash ([[Multimodal.dHashes]]) both feed it. Pigeonhole-exact
    * within `maxHamming` (same result as the N² brute join) while
    * shuffling only bucket-mates.
    *
    * EAGER: the call itself runs jobs — it persists the hash frame,
    * probes the largest identical-hash group (unless `collapseIdentical`
    * pre-answers it), and MATERIALIZES the full pair set before
    * returning (checkpoint-backed result, same lifetime contract as
    * [[nearDupPairs]]). Callers that would compose lazily and prune
    * before an action should filter the INPUT frame instead — pruning
    * the returned frame happens after the pairs exist. */
  def hashPairs(hashes: DataFrame, maxHamming: Int = 3,
                collapseIdentical: Option[Boolean] = None): DataFrame = {
    // persist across the probe + both join sides: the upstream hash
    // computation can be expensive (image decode for dHashes) and a
    // self-join alone evaluates it twice — same lifetime contract as
    // nearDupPairs' signature frame (result checkpoint-backed, temp
    // freed before returning)
    val sh = hashes.withColumnRenamed("simhash", "_sh")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val grp = hashGroups(sh)
    val doCollapse = collapseIdentical.getOrElse {
      grp.agg(coalesce(max(col("_e")), lit(0L))).head().getLong(0) >
        collapseGroupThreshold
    }
    val out =
      if (!doCollapse) bandedHashPairs(sh, maxHamming)
      else {
        // identical-hash mass (replica-heavy image/text corpora: one
        // fingerprint carried by e rows turns the band join into e² work
        // per bucket): band REPRESENTATIVES only, expand after. Identical
        // hashes are hamming-0 to each other (always ≤ maxHamming) and
        // hamming-equal against any third hash, so output is identical.
        val mem = sh.join(grp.select(col("_sh"), col("_rep")), Seq("_sh"))
          .select(col("_id"), col("_rep"))
        val reps = grp.select(col("_rep").as("_id"), col("_sh"))
        val repPairs = bandedHashPairs(reps, maxHamming)
        val cross = repPairs
          .join(mem.select(col("_rep").as("id1"), col("_id").as("_a")),
            "id1")
          .join(mem.select(col("_rep").as("id2"), col("_id").as("_b")),
            "id2")
          .select(least(col("_a"), col("_b")).as("id1"),
            greatest(col("_a"), col("_b")).as("id2"), col("hamming"))
        val within = mem.as("l").join(mem.as("r"),
            col("l._rep") === col("r._rep") &&
              col("l._id") < col("r._id"))
          .select(col("l._id").as("id1"), col("r._id").as("id2"),
            lit(0).as("hamming"))
        cross.unionByName(within)
      }
    val pinned = out.transform(Ckpt.eager)
    sh.unpersist(false)
    pinned
  }

  /** One row per distinct hash value: representative = min id, member
    * count. Shared by [[hashPairs]]' collapse gate and [[hashDeduped]]. */
  private def hashGroups(sh: DataFrame): DataFrame =
    sh.groupBy("_sh").agg(min(col("_id")).as("_rep"),
      count(lit(1)).as("_e"))

  /** The direct banded pipeline over a (_id, _sh) frame: pigeonhole bands
    * (maxHamming+1 bands — a pair within maxHamming shares at least one),
    * bucket equi-join, exact Hamming verify. Returns distinct
    * (id1, id2, hamming). */
  /** (offset, width) of each pigeonhole band of a [[SimhashBits]]-bit
    * hash at radius `maxHamming`: maxHamming+1 bands, the first
    * `SimhashBits mod (maxHamming+1)` of them one bit wider. Shared by
    * the batch banded join and the streaming fingerprint guard so their
    * band keys are bit-identical by construction. */
  private[graft] def hammingBandSpec(maxHamming: Int): Seq[(Int, Int)] = {
    val nBands = maxHamming + 1
    val base = SimhashBits / nBands
    val extra = SimhashBits % nBands // first `extra` bands get an extra bit
    val widths = (0 until nBands).map(b => base + (if (b < extra) 1 else 0))
    widths.scanLeft(0)(_ + _).zip(widths)
  }

  /** The pigeonhole band projection of a (_id, _sh) frame — one row per
    * (band, band-value); shared by the self-join and cross-side pair
    * paths so their band keys are bit-identical by construction. */
  private def bandProjected(sh: DataFrame, maxHamming: Int): DataFrame =
    sh.select(col("_id"), col("_sh"),
      posexplode(array(hammingBandSpec(maxHamming).map {
        case (offset, width) =>
          shiftright(col("_sh"), offset)
            .bitwiseAND(lit((1L << width) - 1))
      }: _*)).as(Seq("_band", "_bval")))

  private def bandedHashPairs(sh: DataFrame, maxHamming: Int): DataFrame = {
    val banded = bandProjected(sh, maxHamming)
    banded.as("l").join(banded.as("r"),
        col("l._band") === col("r._band") &&
          col("l._bval") === col("r._bval") &&
          col("l._id") < col("r._id"))
      .select(col("l._id").as("id1"), col("r._id").as("id2"),
        hamming(col("l._sh"), col("r._sh")).cast("int").as("hamming"))
      // filter BEFORE distinct: hamming is cheap codegen per joined row,
      // so only true matches enter the dedup shuffle (bucket-mate pairs
      // can be ~100× more numerous than matches)
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  /** CROSS-side banded Hamming pairs — [[crossNearDupPairs]]' shape for
    * the 56-bit fingerprint family (image dHash, audio energy prints,
    * video temporal-majority prints, text SimHash): an appended batch's
    * fingerprints against the PERSISTED base fingerprint artifact,
    * without re-banding base-vs-base. Feeds [[extendComponents]] —
    * together with the batch's own [[hashPairs]] — to maintain a media
    * corpus's dedup components incrementally (q118/q118b/q118c prove
    * extension ≡ from-scratch [[hashDeduped]] over the union); the
    * expensive full-corpus step that does NOT run is the batch-side
    * media DECODE of the base (fingerprints are 8 bytes/doc — the
    * persisted artifact is ~10^6× smaller than the media it summarizes)
    * and the base×base band join.
    *
    * Pigeonhole-exact within `maxHamming` (same [[hammingBandSpec]]
    * bands both sides, so a cross pair within the radius shares ≥ 1
    * band — identical hashes across sides share ALL bands and surface
    * as hamming 0). Identical-hash mass collapses per side before the
    * band join (reps only — the [[hashPairs]] discipline), expanding to
    * member pairs after. EAGER: materializes the pair set before
    * returning (checkpoint-backed), freeing both persisted hash frames.
    * Output: (new_id, existing_id, hamming), distinct. */
  def crossHashPairs(newHashes: DataFrame, baseHashes: DataFrame,
                     maxHamming: Int = 3): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val nh = newHashes.withColumnRenamed("simhash", "_sh").persist(lvl)
    val bh = baseHashes.withColumnRenamed("simhash", "_sh").persist(lvl)
    val ng = hashGroups(nh)
    val bg = hashGroups(bh)
    val memN = nh.join(ng.select(col("_sh"), col("_rep")), Seq("_sh"))
      .select(col("_id"), col("_rep"))
    val memB = bh.join(bg.select(col("_sh"), col("_rep")), Seq("_sh"))
      .select(col("_id"), col("_rep"))
    val repPairs = bandProjected(
        ng.select(col("_rep").as("_id"), col("_sh")), maxHamming).as("l")
      .join(bandProjected(
        bg.select(col("_rep").as("_id"), col("_sh")), maxHamming).as("r"),
        col("l._band") === col("r._band") &&
          col("l._bval") === col("r._bval"))
      .select(col("l._id").as("_rn"), col("r._id").as("_rb"),
        hamming(col("l._sh"), col("r._sh")).cast("int").as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
    // expand both sides' identical-hash groups (members share their
    // rep's hash, so every member pair inherits the rep pair's hamming)
    val out = repPairs
      .join(memN.select(col("_rep").as("_rn"), col("_id").as("new_id")),
        "_rn")
      .join(memB.select(col("_rep").as("_rb"),
        col("_id").as("existing_id")), "_rb")
      .select("new_id", "existing_id", "hamming")
      .transform(Ckpt.eager)
    nh.unpersist(false)
    bh.unpersist(false)
    out
  }

  /** Linear-output Hamming-hash corpus dedup, FUSED with the identical-
    * hash collapse: components run over distinct-hash REPRESENTATIVES
    * (identical-hash members are a hamming-0 clique, so they inherit the
    * rep's component), keep = each component's minimum id, unpaired rows
    * pass through. Output-identical to
    * `dedupedCorpusCC(corpus, hashPairs(hashes, maxHamming))` — the
    * component label is the min member id either way, since reps ARE
    * their groups' minima — but the pair graph, the closure, and the
    * drop set never materialize member pairs: a replica-heavy corpus
    * (fingerprint groups ~ replication factor) closes over distinct
    * hashes, not rows. */
  def hashDeduped(corpus: DataFrame, idCol: String, hashes: DataFrame,
                  maxHamming: Int = 3): DataFrame = {
    Closure.requireIntegral(corpus, idCol, "hashDeduped")
    val sh = hashes.withColumnRenamed("simhash", "_sh")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val grp = hashGroups(sh)
    val mem = sh.join(grp.select(col("_sh"), col("_rep")), Seq("_sh"))
      .select(col("_id"), col("_rep"))
    // drop set pinned so the hash frame frees NOW (the returned anti-join
    // would otherwise re-decode the corpus per downstream action); the
    // closure's own checkpoints free with the scope
    val drop = Ckpt.scope {
      val allComp = hashComponentsOf(grp, maxHamming)
      Ckpt.eager(mem
        .join(allComp, mem("_rep").cast("long") === allComp("id"))
        .where(col("_id").cast("long") =!= col("component"))
        .select(col("_id").cast("long").as("_drop_id")))
    }
    sh.unpersist(false)
    corpus.join(drop, corpus(idCol).cast("long") === drop("_drop_id"),
      "left_anti")
  }

  /** The rep-level component closure over a [[hashGroups]] frame:
    * banded pairs between distinct-hash representatives, closed, PLUS
    * every multi-member group with no external edge as its own
    * component (a hamming-0 clique) — (id = group rep, component = min
    * member id of the whole near-dup cluster; reps ARE group minima, so
    * the rep-graph minimum is the member minimum). */
  private def hashComponentsOf(grp: DataFrame,
                               maxHamming: Int): DataFrame = {
    val reps = grp.select(col("_rep").as("_id"), col("_sh"))
    // a Hamming CHAIN (a drifting near-dup series pairs i with i±1
    // only) is the long-diameter shape the closure's star route is for
    val repComp = Closure.components(
      bandedHashPairs(reps, maxHamming).select(col("id1"), col("id2")))
    val cliqueOnly = grp.where(col("_e") > 1)
      .select(col("_rep").cast("long").as("id"),
        col("_rep").cast("long").as("component"))
      .join(repComp.select(col("id")), Seq("id"), "left_anti")
    repComp.unionByName(cliqueOnly)
  }

  /** The PERSISTABLE component artifact behind [[hashDeduped]] — one row
    * per distinct-hash representative that belongs to a multi-member
    * cluster (banded pairs closed, plus isolated hamming-0 cliques):
    * (id = rep, component = min member id). Write it beside the
    * fingerprint frame and feed [[extendHashDeduped]] per append; a
    * corpus rebuild is `hashDeduped(corpus, hashes)` and this artifact
    * refreshes with it. */
  def hashComponents(hashes: DataFrame, maxHamming: Int = 3): DataFrame = {
    val sh = hashes.withColumnRenamed("simhash", "_sh")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // materialized before the hash frame frees; the closure's own
    // checkpoints free with the scope
    val out = Ckpt.scope(Ckpt.eager(hashComponentsOf(hashGroups(sh),
      maxHamming)))
    sh.unpersist(false)
    out
  }

  /** INCREMENTAL [[hashDeduped]] — the append path of the fingerprint
    * families (image dHash, audio prints, video prints, SimHash),
    * REP-LEVEL throughout: the persisted base artifacts are the base
    * fingerprint frame (`baseHashes`, 8 bytes/doc — the media itself is
    * never re-decoded) and its [[hashComponents]] closure; the appended
    * batch contributes its own fingerprints and the extension runs over
    * DISTINCT-hash representatives — member pairs never materialize
    * (the [[hashDeduped]] fused-collapse discipline, kept under append:
    * a replica-flood batch costs reps², not members²).
    *
    * Edge construction, hash-keyed: a batch hash IDENTICAL to a base
    * hash joins that base group through one (base rep, batch rep) edge
    * (its members are hamming-0 to the group); batch-NEW hashes band
    * against base reps (cross) and each other (within). Node labels are
    * recomputed by the closure, so a batch id smaller than every base
    * member correctly takes over as the cluster's canonical keep — the
    * output is EXACTLY `hashDeduped(corpus, baseHashes ∪ newHashes)`
    * (spec-gated on adversarial id interleavings; q118/q118b/q118c's
    * oracles replay the from-scratch closure verbatim).
    *
    * Cost shape: batch fingerprinting + one batch hash aggregation +
    * band joins sized by batch reps × (base reps + batch reps), one
    * group aggregation over the base PRINT artifact (not the media),
    * and the star closure over the rep graph. Returns the kept rows of
    * `corpus` (the union's id space). */
  def extendHashDeduped(corpus: DataFrame, idCol: String,
                        baseHashes: DataFrame, baseComp: DataFrame,
                        newHashes: DataFrame,
                        maxHamming: Int = 3): DataFrame = {
    Closure.requireIntegral(corpus, idCol, "extendHashDeduped")
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val bh = baseHashes.withColumnRenamed("simhash", "_sh").persist(lvl)
    val nh = newHashes.withColumnRenamed("simhash", "_sh").persist(lvl)
    val bg = hashGroups(bh).persist(lvl)
    val ng = hashGroups(nh).persist(lvl)
    val comp = extendHashComponentsOf(bg, ng, baseComp, maxHamming)
    // member mapping rides the hash: base members through base reps,
    // batch members through the base rep when the hash is shared, their
    // own rep otherwise
    val node = bg.select(col("_sh"), col("_rep").as("_node"))
    val memB = bh.join(node, Seq("_sh")).select(col("_id"), col("_node"))
    val nodeN = ng.select(col("_sh"), col("_rep"))
      .join(node, Seq("_sh"), "left")
      .select(col("_sh"), coalesce(col("_node"), col("_rep")).as("_node"))
    val memN = nh.join(nodeN, Seq("_sh")).select(col("_id"), col("_node"))
    val drop = memB.unionByName(memN)
      .join(comp, col("_node").cast("long") === comp("id"))
      .where(col("_id").cast("long") =!= col("component"))
      .select(col("_id").cast("long").as("_drop_id"))
      .transform(Ckpt.eager)
    Seq(bh, nh, bg, ng).foreach(_.unpersist(false))
    corpus.join(drop, corpus(idCol).cast("long") === drop("_drop_id"),
      "left_anti")
  }

  /** The component-extension half of [[extendHashDeduped]], exposed as
    * the ARTIFACT REFRESHER for a persisted fingerprint store
    * ([[graft.api.FingerprintStore]]): given the PERSISTED base
    * fingerprints' component assignment and an appended batch's
    * fingerprints, returns the updated rep-level assignment over the
    * union — a node superset of from-scratch [[hashComponents]] on the
    * union (for a shared hash both the base rep and the batch rep
    * appear as nodes; they share a component, and the group's union
    * minimum is always among the nodes, so labels equal the
    * from-scratch member minima and every union-group representative is
    * present — the two properties the kept-corpus derivation and the
    * NEXT append's extension rely on; spec-gated through chained
    * appends). */
  def extendHashComponents(baseHashes: DataFrame, baseComp: DataFrame,
                           newHashes: DataFrame,
                           maxHamming: Int = 3): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val bh = baseHashes.withColumnRenamed("simhash", "_sh").persist(lvl)
    val nh = newHashes.withColumnRenamed("simhash", "_sh").persist(lvl)
    val bg = hashGroups(bh).persist(lvl)
    val ng = hashGroups(nh).persist(lvl)
    // extendHashComponentsOf already returns an eagerly-checkpointed
    // frame (extendComponents' contract) — a second Ckpt.eager here
    // would copy the full assignment once more per append
    val out = extendHashComponentsOf(bg, ng, baseComp, maxHamming)
    Seq(bh, nh, bg, ng).foreach(_.unpersist(false))
    out
  }

  /** [[extendHashComponents]] over the PERSISTED hash-group artifacts
    * of [[graft.api.FingerprintStore]], shaped so the stored frames are
    * SCANNED, never shuffled or re-aggregated per append:
    *
    *  - `sharedGroups`: (_sh, _rep) resolved latest-wins for EXACTLY
    *    the batch-present hashes (batch-sized — it broadcasts);
    *  - `unionGroups`: the PLAIN union of the store's grp epochs from
    *    its snapshot, UNRESOLVED — an undercut hash may carry both its
    *    old and new rep. Harmless for the banded candidate join, its
    *    only consumer: the duplicate rep's extra edges land between
    *    nodes the undercut batch already wired into one component, so
    *    the closure labels are unchanged (spec-gated through the
    *    store's chained-append ≡ from-scratch gates).
    *
    * Output-identical to [[extendHashComponents]] over the prints the
    * groups summarize. */
  def extendHashComponentsArtifact(sharedGroups: DataFrame,
                                   unionGroups: DataFrame,
                                   baseComp: DataFrame,
                                   newHashes: DataFrame,
                                   maxHamming: Int = 3): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val nh = newHashes.withColumnRenamed("simhash", "_sh").persist(lvl)
    val ng = hashGroups(nh).persist(lvl)
    val shared = sharedGroups.select(col("_sh"), col("_rep").as("_brep"))
    val sharedEdges = ng.as("n")
      .join(broadcast(shared.as("s")), col("n._sh") === col("s._sh"))
      .select(col("s._brep").as("id1"), col("n._rep").as("id2"))
    val newOnly = ng.join(broadcast(shared.select(col("_sh"))),
        Seq("_sh"), "left_anti")
      .select(col("_rep").as("_id"), col("_sh"))
    val crossEdges = broadcast(bandProjected(newOnly, maxHamming)).as("l")
      .join(bandProjected(unionGroups
        .select(col("_rep").as("_id"), col("_sh")), maxHamming).as("r"),
        col("l._band") === col("r._band") &&
          col("l._bval") === col("r._bval"))
      .select(col("r._id").as("id1"), col("l._id").as("id2"),
        hamming(col("l._sh"), col("r._sh")).cast("int").as("hamming"))
      .where(col("hamming") <= maxHamming)
      .select("id1", "id2").distinct()
    val withinEdges = bandedHashPairs(newOnly, maxHamming)
      .select("id1", "id2")
    val newCliques = ng
      .join(broadcast(shared.select(col("_sh"))), Seq("_sh"), "left_anti")
      .where(col("_e") > 1)
      .select(col("_rep").cast("long").as("id"),
        col("_rep").cast("long").as("component"))
    // extendComponents already returns an eagerly-checkpointed frame —
    // a second Ckpt.eager here would copy the full assignment again
    val out = extendComponents(
      baseComp.unionByName(newCliques
        .join(baseComp.select("id"), Seq("id"), "left_anti")),
      sharedEdges.unionByName(crossEdges).unionByName(withinEdges))
    Seq(nh, ng).foreach(_.unpersist(false))
    out
  }

  /** The persistable hash-group frame of a fingerprint batch —
    * (_sh, _rep): what [[graft.api.FingerprintStore.init]] writes as its
    * first `grp` snapshot. Input carries (_id, simhash). */
  def hashGroupArtifact(hashes: DataFrame): DataFrame =
    hashGroups(hashes.withColumnRenamed("simhash", "_sh"))
      .select(col("_sh"), col("_rep"))

  /** The per-epoch (_sh, _rep) DELTA for a maintained hash-group
    * artifact: batch-new hashes (their batch-min rep) plus stored
    * hashes whose union-min rep the batch undercuts. `baseGroups` needs
    * only the batch-present hashes' resolved rows (a superset is fine —
    * the join keys on _sh). Latest-wins resolution over (snapshot +
    * these deltas) equals [[hashGroupArtifact]] over the full print
    * union (spec-gated). */
  def hashGroupDelta(baseGroups: DataFrame,
                     newHashes: DataFrame): DataFrame = {
    val ng = hashGroups(newHashes.withColumnRenamed("simhash", "_sh"))
    ng.join(broadcast(baseGroups
        .select(col("_sh"), col("_rep").as("_brep"))),
        Seq("_sh"), "left")
      .where(col("_brep").isNull || col("_rep") < col("_brep"))
      .select(col("_sh"), col("_rep"))
  }

  private def extendHashComponentsOf(bg: DataFrame, ng: DataFrame,
                                     baseComp: DataFrame,
                                     maxHamming: Int): DataFrame = Ckpt.scope {
    // the base side is consumed STREAMING-ONLY: every bg access is an
    // inner/banded join whose batch side carries a broadcast hint (ng is
    // batch-sized by the append contract), so the stored group frame is
    // scanned, never shuffled — the anti-join probes that would have
    // forced a base shuffle (left_anti can only broadcast its right
    // side) are rewritten against the batch-sized `shared` frame
    // batch-sized, pinned: three consumers (edge join + two anti-probes)
    // would otherwise each re-stream the base frame
    val shared = Ckpt.eager(bg.as("b")
      .join(broadcast(ng.select(col("_sh")).as("n")),
        col("b._sh") === col("n._sh"))
      .select(col("b._sh").as("_sh"), col("b._rep").as("_brep")))
    // batch hashes the base already carries: one rep-level edge wires
    // the batch members into the existing group (hamming 0)
    val sharedEdges = ng.as("n")
      .join(shared.as("s"), col("n._sh") === col("s._sh"))
      .select(col("s._brep").as("id1"), col("n._rep").as("id2"))
    // batch-NEW hashes: band against base reps and against each other
    val newOnly = ng.join(broadcast(shared.select(col("_sh"))),
        Seq("_sh"), "left_anti")
      .select(col("_rep").as("_id"), col("_sh"))
    val crossEdges = broadcast(bandProjected(newOnly, maxHamming)).as("l")
      .join(bandProjected(
        bg.select(col("_rep").as("_id"), col("_sh")), maxHamming).as("r"),
        col("l._band") === col("r._band") &&
          col("l._bval") === col("r._bval"))
      .select(col("r._id").as("id1"), col("l._id").as("id2"),
        hamming(col("l._sh"), col("r._sh")).cast("int").as("hamming"))
      .where(col("hamming") <= maxHamming)
      .select("id1", "id2").distinct()
    val withinEdges = bandedHashPairs(newOnly, maxHamming)
      .select("id1", "id2")
    // batch-internal hamming-0 mass: a multi-member NEW-hash group is a
    // clique — wire it as (rep, rep)-labeled singleton so it survives
    // even with no external edge (extendComponents preserves singletons)
    val newCliques = ng
      .join(broadcast(shared.select(col("_sh"))), Seq("_sh"), "left_anti")
      .where(col("_e") > 1)
      .select(col("_rep").cast("long").as("id"),
        col("_rep").cast("long").as("component"))
    // extendComponents materializes its result, so the scope frees the
    // pinned `shared` probe frame instead of leaking it per append (§5)
    extendComponents(
      baseComp.unionByName(newCliques
        .join(baseComp.select("id"), Seq("id"), "left_anti")),
      sharedEdges.unionByName(crossEdges).unionByName(withinEdges))
  }

  /** 56-bit SimHash over word tokens: bit j is set iff the majority of
    * token hashes have bit j set (sum of ±1 votes > 0). [[SimhashBits]]=56
    * uses md5Long's full range while keeping every intermediate in BIGINT
    * range for SQL portability.
    *
    * Evaluates via the compiled one-pass [[graft.functions.SimHashExpr]]
    * — bulk fingerprinting is MAP-ONLY (no explode, no shuffle). The
    * declarative twins below ([[simhash56Hof]], [[simhashesAgg]]) are the
    * bit-identity cross-check references (DedupSpec). */
  def simhashNative(text: Column): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(graft.functions.SimHashExpr(
      Bridge.expression(text), SimhashBits))
  }

  /** Interpreted higher-order-function formulation of [[simhashNative]];
    * retained as the cross-check reference for the codegen expression. */
  private[graft] def simhash56Hof(text: Column): Column = {
    val toks = transform(split(trim(text), "\\s+"), t => md5Long(t))
    (0 until SimhashBits).map { j =>
      val votes = aggregate(toks, lit(0L), (a, h) =>
        a + when(pmod(shiftright(h, j), lit(2)) === 1, 1L).otherwise(-1L))
      when(votes > 0, lit(1L << j)).otherwise(0L)
    }.reduce(_ + _)
  }

  /** Bulk SimHash: one compiled pass per document via [[simhashNative]] —
    * a map-only projection, no explode and no aggregate shuffle in the
    * corpus scan. Output: (_id, simhash). */
  def simhashes(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("_id"),
      simhashNative(col(textCol)).as("simhash"))

  /** The pre-kernel bulk formulation (explode token hashes + 56 codegen'd
    * sum aggregates); retained as the shuffle-shaped cross-check reference
    * for [[simhashNative]]. */
  private[graft] def simhashesAgg(docs: DataFrame, idCol: String,
                                  textCol: String): DataFrame = {
    val exploded = docs.select(col(idCol).as("_id"),
      explode(transform(split(trim(col(textCol)), "\\s+"), t => md5Long(t)))
        .as("_h"))
    val aggs = (0 until SimhashBits).map(j =>
      sum(when(pmod(shiftright(col("_h"), j), lit(2)) === 1, 1L)
        .otherwise(-1L)).as(s"_v$j"))
    exploded.groupBy("_id").agg(aggs.head, aggs.tail: _*)
      .select(col("_id"),
        (0 until SimhashBits).map(j =>
          when(col(s"_v$j") > 0, lit(1L << j)).otherwise(0L))
          .reduce(_ + _).as("simhash"))
  }

  /** Hamming distance between two simhash values. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Deterministic random-hyperplane LSH bucket for an embedding:
    * `nBits` sign bits of dot(v, r_j), with closed-form pseudo-random
    * planes r_j[i] = ((73·i + 179·j + 11) mod 97)/97 − 0.5 — reproducible
    * in any engine, no stored model. */
  def hyperplaneBucket(vec: Column, nBits: Int = 8): Column =
    hyperplaneBucket(vec, nBits, 0)

  /** Table `table` of a multi-table hyperplane LSH: an INDEPENDENT set of
    * `nBits` planes (global plane index table·nBits + j), so each table
    * partitions the space differently and a near pair split by one table's
    * boundary usually shares a bucket in another — the standard recall
    * lever (mirrors [[minhashCandidates]]' band structure). Table 0 is
    * identical to the single-table [[hyperplaneBucket]].
    *
    * Evaluates via the codegen'd [[graft.functions.HyperplaneBucketExpr]]
    * (bulk bucketing dominates the LSH scans; the HOF formulation below is
    * kept for the bit-identity cross-check in DedupSpec). */
  def hyperplaneBucket(vec: Column, nBits: Int, table: Int): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(graft.functions.HyperplaneBucketExpr(
      Bridge.expression(vec), nBits, table))
  }

  /** The interpreted higher-order-function formulation of
    * [[hyperplaneBucket]] — same plane family, same double fold order;
    * retained as the cross-check reference for the codegen expression. */
  private[graft] def hyperplaneBucketHof(vec: Column, nBits: Int,
                                         table: Int): Column =
    (0 until nBits).map { j =>
      val g = table * nBits + j
      val dotj = aggregate(
        transform(vec, (x, i) =>
          x.cast("double") *
            ((pmod(lit(73) * i + lit(179 * g + 11), lit(97))
              .cast("double") / 97.0) - 0.5)),
        lit(0.0), (a, v) => a + v)
      when(dotj > 0, lit(1L << j)).otherwise(0L)
    }.reduce(_ + _)

  /** Bucket-count sizing for the hyperplane LSH at a given corpus size:
    * the Σ bucket² candidate join stays linear only if bucket population is
    * bounded, so bits must GROW with the corpus — nBits ≈
    * log₂(N / targetBucketSize), clamped to [4, 24]. With the default 1k
    * target: 1M rows → 10 bits (1k buckets), 1B rows → 20 bits (1M
    * buckets); a fixed 8-bit default would make a 1B-row join ~N²/256. */
  def autoBits(corpusSize: Long, targetBucketSize: Long = 1024L): Int = {
    val buckets = math.max(1L, corpusSize / math.max(1L, targetBucketSize))
    // exact integer ceil-log2 (bit length of buckets-1) — float log at
    // power-of-2 boundaries rounds differently across engines, and the
    // sizing must be REPLAYABLE by an external oracle (q26c derives the
    // same value in SQL from the same count)
    val bits =
      if (buckets <= 1L) 0
      else 64 - java.lang.Long.numberOfLeadingZeros(buckets - 1L)
    math.max(4, math.min(24, bits))
  }

  /** Embedding-cosine near-dup pairs, brute force (exact baseline):
    * all pairs with cosine >= tau. Quadratic — for oracle-scale corpora
    * and ground truth only; the scale path is [[nearDupPairsLsh]]. */
  def embeddingNearDup(df: DataFrame, idCol: String, vecCol: String,
                       tau: Double): DataFrame = {
    val n = df.select(col(idCol).as("_id"), col(vecCol).as("_v"))
      .withColumn("_nrm", l2NormNative(col("_v")))
      .where(col("_nrm") > 0)
      .withColumn("_nv", l2NormalizeWithNative(col("_v"), col("_nrm")))
      .select("_id", "_nv")
    n.as("a").join(n.as("b"), col("a._id") < col("b._id"))
      .withColumn("cosine", dotNative(col("a._nv"), col("b._nv")))
      .where(col("cosine") >= tau)
      .select(col("a._id").as("id1"), col("b._id").as("id2"), col("cosine"))
  }

  /** Embedding-level decontamination — the SEMANTIC form of
    * [[TextAnalysis.decontaminate]]: a corpus vector is contaminated when
    * its cosine against ANY eval-suite vector ≥ `tau`, the eval-leakage
    * class n-gram probes miss (paraphrases and re-encodes share
    * embeddings, not grams). Returns (idCol, n_eval_hits, max_cos) for
    * contaminated corpus rows only; zero-norm vectors on either side
    * never match (no cosine exists).
    *
    * Scale shape: the eval suite is corpus-≪ by assumption (the same
    * contract as the gram probe's broadcast key set), so it BROADCASTS
    * normalized and the corpus side pays one map-only normalize plus a
    * broadcast nested-loop cosine filter — linear in corpus rows; the
    * only shuffle is the final id-keyed, map-side-combinable
    * aggregation. An eval suite too large to broadcast is corpus-scale
    * dedup, not decontamination — run [[nearDupPairsLshMulti]] over the
    * tagged union instead (bucketed, never N²). */
  def semanticContaminated(corpus: DataFrame, evalSet: DataFrame,
                           tau: Double, idCol: String = "vec_id",
                           vecCol: String = "embedding"): DataFrame = {
    def normed(df: DataFrame, idName: String, vName: String) =
      df.select(col(idCol).as(idName), col(vecCol).as("_v"))
        .withColumn("_nrm", l2NormNative(col("_v")))
        .where(col("_nrm") > 0)
        .select(col(idName),
          l2NormalizeWithNative(col("_v"), col("_nrm")).as(vName))
    normed(corpus, "_cid", "_cv")
      .crossJoin(broadcast(normed(evalSet, "_eid", "_ev")))
      .withColumn("_cos", dotNative(col("_cv"), col("_ev")))
      .where(col("_cos") >= tau)
      .groupBy(col("_cid").as(idCol))
      .agg(count(lit(1)).as("n_eval_hits"), max(col("_cos")).as("max_cos"))
  }

  /** Embedding near-dup via hyperplane-LSH buckets: pairs only within a
    * bucket, then exact cosine filter. One shuffle on the bucket key —
    * the 100 TB path (cost Σ bucket², not N²). Size `nBits` with
    * [[autoBits]] at scale; for recall-critical corpora use the
    * multi-table [[nearDupPairsLshMulti]]. */
  def nearDupPairsLsh(df: DataFrame, idCol: String, vecCol: String,
                      tau: Double, nBits: Int = 8): DataFrame =
    nearDupPairsLshMulti(df, idCol, vecCol, tau, nBits, nTables = 1)

  /** Multi-table embedding near-dup: each row enters `nTables` independent
    * hyperplane-LSH tables; candidate pairs are the UNION of per-table
    * bucket-mates (a pair is missed only if EVERY table splits it —
    * miss probability decays exponentially in nTables), then the exact
    * cosine filter verifies. The cosine is computed before the pair
    * distinct — cheap codegen per joined row vs shuffling vectors — so
    * cross-table duplicates dedup on the (id1, id2, cosine) triple. Cost:
    * nTables × (Σ bucket²) candidate rows and ONE shuffle keyed by
    * (table, bucket); still never N². */
  def nearDupPairsLshMulti(df: DataFrame, idCol: String, vecCol: String,
                           tau: Double, nBits: Int = 8,
                           nTables: Int = 4): DataFrame = {
    val b = df.select(col(idCol).as("_id"), col(vecCol).as("_v"))
      .withColumn("_nrm", l2NormNative(col("_v")))
      .where(col("_nrm") > 0)
      .withColumn("_nv", l2NormalizeWithNative(col("_v"), col("_nrm")))
      .select(col("_id"), col("_nv"),
        posexplode(array((0 until nTables).map(t =>
          hyperplaneBucket(col("_v"), nBits, t)): _*))
          .as(Seq("_table", "_bucket")))
    val pairs = b.as("a").join(b.as("b"),
        col("a._table") === col("b._table") &&
          col("a._bucket") === col("b._bucket") &&
          col("a._id") < col("b._id"))
      .withColumn("cosine", dotNative(col("a._nv"), col("b._nv")))
      .where(col("cosine") >= tau)
      .select(col("a._id").as("id1"), col("b._id").as("id2"), col("cosine"))
    // single table cannot produce cross-table duplicates — skip the shuffle
    if (nTables == 1) pairs else pairs.distinct()
  }

  /** [[nearDupPairsLshMulti]] with `nBits` sized from the actual corpus
    * count via [[autoBits]] — the production entry point (one count job,
    * then the bucketed pipeline). Explicit-bits overloads remain for
    * deterministic oracle queries; `knownCount` skips the sizing scan
    * when the caller already holds the corpus size. */
  def nearDupPairsLshAuto(df: DataFrame, idCol: String, vecCol: String,
                          tau: Double, nTables: Int = 4,
                          targetBucketSize: Long = 1024L,
                          knownCount: Option[Long] = None): DataFrame =
    nearDupPairsLshMulti(df, idCol, vecCol, tau,
      autoBits(knownCount.getOrElse(df.count()), targetBucketSize), nTables)

  /** SemDeDup-shape semantic near-dup pairs (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the corpus with the FULL-corpus k-means
    * ([[Clustering.kmeansAssignVec]]), then pair only WITHIN a cluster and
    * keep pairs with cosine >= tau. The cluster partition is what makes
    * semantic dedup tractable — the pair join is keyed by `cell`, so cost
    * is Σ cell² not N², and at deployment scale `nCells` grows with the
    * corpus exactly like [[autoBits]] sizes LSH buckets (the paper runs
    * ~100k clusters over LAION). Cosines are computed over the trainer's
    * own dequantized 1/1024 unit vectors — the SAME exact metric space the
    * assignment used, replayable bit-for-bit by an external engine.
    *
    * Output: (id1, id2, cell, cosine). Unlike [[nearDupPairsLshMulti]]
    * (random hyperplanes, recall < 1), the cluster partition is a learned
    * structure: a cross-cell near-dup pair is invisible by design — that
    * is the paper's own approximation, priced by its cluster count. */
  def semanticDupPairs(corpus: DataFrame, nCells: Int = 8, iters: Int = 3,
                       tau: Double = 0.95,
                       collapseIdentical: Option[Boolean] = None)
      : DataFrame = {
    val asg = Clustering.kmeansAssignVec(corpus, nCells, iters)
    val (grp, mem) = semanticGroups(asg)
    val doCollapse = collapseIdentical.getOrElse {
      grp.agg(coalesce(max(col("_e")), lit(0L))).head().getLong(0) >
        collapseGroupThreshold
    }
    if (!doCollapse)
      asg.as("a").join(asg.as("b"),
          col("a.cell") === col("b.cell") &&
            col("a.vec_id") < col("b.vec_id"))
        .withColumn("cosine", dotNativeD(col("a.dv"), col("b.dv")))
        .where(col("cosine") >= tau)
        .select(col("a.vec_id").as("id1"), col("b.vec_id").as("id2"),
          col("a.cell").as("cell"), col("cosine"))
    else {
      // identical-vector mass (the pathological SemDeDup corpus: one text
      // embedded e times lands e IDENTICAL dv rows in one cell — e² pair
      // work): pair REPRESENTATIVES only, then expand. Same guard shape
      // as the MinHash exact-dup collapse; output identical (identical dv
      // ⇒ identical cell, identical cosine against any third vector).
      val reps = grp.select(col("_rep").as("_rid"), col("cell"), col("dv"))
      val repPairs = reps.as("a").join(reps.as("b"),
          col("a.cell") === col("b.cell") && col("a._rid") < col("b._rid"))
        .withColumn("cosine", dotNativeD(col("a.dv"), col("b.dv")))
        .where(col("cosine") >= tau)
        .select(col("a._rid").as("_g1"), col("b._rid").as("_g2"),
          col("a.cell").as("cell"), col("cosine"))
      val cross = repPairs
        .join(mem.select(col("_rep").as("_g1"), col("vec_id").as("_a")),
          "_g1")
        .join(mem.select(col("_rep").as("_g2"), col("vec_id").as("_b")),
          "_g2")
        .select(least(col("_a"), col("_b")).as("id1"),
          greatest(col("_a"), col("_b")).as("id2"), col("cell"),
          col("cosine"))
      // within-group pairs: cosine = dot(dv, dv) of the shared vector
      // (≈1 on the quantized grid, not exactly 1) — emitted only when it
      // clears tau, exactly as the direct path would
      val qualifying = grp.where(col("_e") > 1 && col("_self") >= tau)
        .select(col("_rep").as("_grep"), col("cell").as("_wc"),
          col("_self").as("cosine"))
      val within = mem.as("l").join(mem.as("r"),
          col("l._rep") === col("r._rep") &&
            col("l.vec_id") < col("r.vec_id"))
        .join(qualifying, col("l._rep") === col("_grep"))
        .select(col("l.vec_id").as("id1"), col("r.vec_id").as("id2"),
          col("_wc").as("cell"), col("cosine"))
      cross.unionByName(within)
    }
  }

  /** [[semanticDeduped]] with `nCells` sized from the actual corpus
    * count — the production entry point, mirroring how [[autoBits]] sizes
    * LSH buckets: SemDeDup's cluster count must grow with the corpus
    * (the paper runs ~100k clusters over LAION; a fixed small k turns
    * every cell into a quadratic pair join at scale). nCells =
    * clamp(corpus / targetCellSize, 2, 2^14) — one count job, then the
    * guarded pipeline with the skew cap armed at 8× the target (the
    * trip-wire for cells k-means under-splits). Driver centroid state is
    * bounded: 2^14 cells × dim doubles. Pass `knownCount` when the
    * caller already holds the corpus size (a catalog row count, a
    * previous stage's metric) — it skips the sizing scan, a non-trivial
    * extra pass at the corpus scales this entry point targets. */
  /** The cell-count sizing behind [[semanticDedupedAuto]] —
    * clamp(corpusSize / targetCellSize, 2, 2^14). Pure integer arithmetic
    * (like [[autoBits]]) so an external oracle derives the identical
    * value from the same count (q70c). */
  def autoCells(corpusSize: Long, targetCellSize: Long = 4096L): Int = {
    require(targetCellSize >= 1, s"targetCellSize must be >= 1")
    math.max(2L, math.min(1L << 14, corpusSize / targetCellSize)).toInt
  }

  def semanticDedupedAuto(corpus: DataFrame, targetCellSize: Long = 4096L,
                          iters: Int = 3, tau: Double = 0.95,
                          knownCount: Option[Long] = None): DataFrame = {
    val n = knownCount.getOrElse(corpus.count())
    val cells = autoCells(n, targetCellSize)
    val cap = (targetCellSize * 8).min(Int.MaxValue.toLong).toInt
    semanticDeduped(corpus, cells, iters, tau,
      maxCellSize = Some(math.max(2, cap)))
  }

  /** Secondary k-means over EVERY oversized cell in ONE grouped pipeline
    * (not a per-cell job loop — at 100 TB a skewed corpus trips hundreds
    * of cells, and hundreds of sequential Spark jobs with a plan growing
    * linearly in cell count was the round-7 scale defect here): init is
    * each cell's k2(cell) lowest-id members (a window over (cell, _rid)),
    * then `iters` cell-keyed Lloyd rounds — each round ONE join+window
    * assignment job and ONE exact-long centroid aggregation — so the job
    * count is O(iters), independent of the oversized-cell count.
    *
    * The arithmetic replays [[Clustering.kmeansAssignVec]]'s exactly
    * (members' `dv` are the outer trainer's dequantized 1/1024 unit
    * vectors, so dv·1024 recovers the exact integer grid; double dots
    * via the compiled kernel; assignment ties to the lowest subcluster;
    * centroid = normalized mean, empty/zero-norm subclusters keep their
    * previous centroid; init = the cell's k2 lowest ids in id order), so
    * the grouped result is bit-identical to running the per-cell trainer
    * cell by cell — spec-gated by DedupSpec's equivalence test.
    *
    * Input: (_rid, cell, dv) for members of oversized cells only;
    * `k2ByCell` the subcluster count per cell. Output: (_rid, subcell)
    * with subcell ≥ 1 (0 stays the not-re-clustered marker). */
  private[graft] def groupedSubClusters(members: DataFrame,
                                        k2ByCell: Map[Int, Int],
                                        iters: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k2 = typedLit(k2ByCell)
    val m = members
      .withColumn("qv",
        transform(col("dv"), x => (x * lit(1024.0)).cast("long")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var cents = m
      .withColumn("_rn",
        row_number().over(Window.partitionBy("cell").orderBy("_rid")) - 1)
      .where(col("_rn") < element_at(k2, col("cell")))
      .select(col("cell"), col("_rn").as("sub"), col("dv").as("cv"))
      .transform(Ckpt.eager)
    // nearest-subcentroid assignment: dot DESC with sub ASC tie-break ==
    // the literal-argmax first-max rule every oracle replays
    def assigned(cv: DataFrame): DataFrame = m.join(cv, Seq("cell"))
      .withColumn("_d", dotNativeD(col("dv"), col("cv")))
      .withColumn("_rnk", row_number().over(
        Window.partitionBy("cell", "_rid")
          .orderBy(col("_d").desc, col("sub").asc)))
      .where(col("_rnk") === 1)
    for (_ <- 1 to iters) {
      val upd = assigned(cents)
        .select(col("cell"), col("sub"),
          posexplode(col("qv")).as(Seq("pos", "q")))
        .groupBy("cell", "sub", "pos")
        .agg(sum("q").as("sq"), count(lit(1)).as("cnt"))
        .groupBy("cell", "sub")
        .agg(array_sort(collect_list(
          struct(col("pos"), col("sq"), col("cnt")))).as("_ps"))
        .select(col("cell"), col("sub"),
          transform(col("_ps"), s =>
            s("sq").cast("double") / s("cnt").cast("double") / lit(1024.0))
            .as("mv"))
        .withColumn("_nn",
          sqrt(aggregate(col("mv"), lit(0.0), (a, x) => a + x * x)))
      cents = cents
        .join(upd, Seq("cell", "sub"), "left")
        .select(col("cell"), col("sub"),
          when(col("_nn").isNull || col("_nn") === 0, col("cv"))
            .otherwise(transform(col("mv"), x => x / col("_nn"))).as("cv"))
        .transform(Ckpt.eager)
    }
    val out = assigned(cents)
      .select(col("_rid"), (col("sub") + 1).as("subcell"))
      .transform(Ckpt.eager)
    m.unpersist(false)
    out
  }

  /** Identical-vector groups within cells: `grp` one row per (cell, dv)
    * group — representative = min vec_id, member count, self-dot on the
    * quantized grid — and `mem` every assignment row tagged with its
    * group's representative. Identical dv rows ALWAYS share a cell (same
    * dots against every centroid, same argmax tie-break), so grouping by
    * (cell, dv) is grouping by dv; the dv values are exact multiples of
    * 1/1024, so array equality is exact. */
  private[graft] def semanticGroups(asg: DataFrame)
      : (DataFrame, DataFrame) = {
    val grp = asg.groupBy(col("cell"), col("dv"))
      .agg(min(col("vec_id")).as("_rep"), count(lit(1)).as("_e"))
      .withColumn("_self", dotNativeD(col("dv"), col("dv")))
    val mem = asg.join(grp.select(col("cell"), col("dv"), col("_rep")),
        Seq("cell", "dv"))
      .select(col("vec_id"), col("_rep"), col("cell"), col("sim"))
    (grp, mem)
  }

  /** SemDeDup keep policy over [[semanticDupPairs]]: connect the pair
    * graph ([[Closure.components]] — components never span cells, since
    * pairs don't) and keep, per near-dup group, the member LEAST similar
    * to its cluster centroid (the paper's choice: the most typical
    * examples are the redundant ones; ties break to the lowest id).
    * Unpaired rows pass through. Returns the kept corpus rows. */
  def semanticDeduped(corpus: DataFrame, nCells: Int = 8, iters: Int = 3,
                      tau: Double = 0.95,
                      collapseIdentical: Option[Boolean] = None,
                      maxCellSize: Option[Int] = None): DataFrame = {
    val asg = Clustering.kmeansAssignVec(corpus, nCells, iters)
    val (grp, mem) = semanticGroups(asg)
    // probe only when its answer can change the branch: with a cell cap
    // set the guarded path runs regardless, so paying a corpus-scale
    // aggregation for an unused answer would tax every
    // semanticDedupedAuto call
    val doCollapse = maxCellSize.nonEmpty || collapseIdentical.getOrElse {
      grp.agg(coalesce(max(col("_e")), lit(0L))).head().getLong(0) >
        collapseGroupThreshold
    }
    if (!doCollapse && maxCellSize.isEmpty) {
      val pairs = asg.as("a").join(asg.as("b"),
          col("a.cell") === col("b.cell") &&
            col("a.vec_id") < col("b.vec_id"))
        .withColumn("cosine", dotNativeD(col("a.dv"), col("b.dv")))
        .where(col("cosine") >= tau)
        .select(col("a.vec_id").as("id1"), col("b.vec_id").as("id2"))
      val drop = Closure.components(pairs)
        .join(asg.select(col("vec_id"), col("sim")),
          col("id") === col("vec_id"))
        .withColumn("_rnk", row_number().over(org.apache.spark.sql
          .expressions.Window.partitionBy("component").orderBy(
            col("sim").asc, col("id").asc)))
        .where(col("_rnk") > 1)
        .select(col("id").as("_drop_id"))
      corpus.join(drop, corpus("vec_id").cast("long") === drop("_drop_id"),
        "left_anti")
    } else {
      // GUARDED path. Unlike the pairs API (whose output is the pair set
      // itself), the dedup output is linear in the corpus, so the
      // identical-vector collapse here avoids ever materializing a
      // clique's member pairs: components run over REPRESENTATIVES and
      // members inherit their group's component. Exact — identical dv
      // rows share sim (ranking unchanged) and component labels are min
      // reachable ids, which collapse preserves (reps ARE group minima).
      val reps = grp.select(col("_rep").as("_rid"), col("cell"), col("dv"))
      // optional cell-size cap for DISTINCT-vector mass: re-cluster an
      // oversized cell's representatives with a secondary k-means, and
      // key the pair join by (cell, subcell). This is SemDeDup's own
      // cluster-count knob applied adaptively — a cross-subcell pair is
      // invisible by design, priced exactly like the paper prices its
      // cluster count (dropping edges only splits components, so the
      // guarded output keeps a SUPERSET of the unguarded rows).
      val refined = maxCellSize match {
        case None => reps.withColumn("subcell", lit(0))
        case Some(cap) =>
          require(cap > 1, s"maxCellSize must be > 1, got $cap")
          // the collect is bounded (≤ nCells ≤ 2^14 rows of counts); the
          // sub-clustering itself is ONE grouped pipeline over every
          // oversized cell at once — O(iters) jobs regardless of how many
          // cells tripped the cap, never a per-cell job loop
          val over = reps.groupBy("cell").agg(count(lit(1)).as("_n"))
            .where(col("_n") > cap)
            .select(col("cell"), col("_n")).collect()
          if (over.isEmpty) reps.withColumn("subcell", lit(0))
          else {
            val k2ByCell = over.map { r =>
              r.getInt(0) ->
                math.min(64, ((r.getLong(1) + cap - 1) / cap).toInt max 2)
            }.toMap
            val members = reps
              .where(col("cell").isin(k2ByCell.keys.toSeq: _*))
              .select(col("_rid"), col("cell"), col("dv"))
            val subAsg = groupedSubClusters(members, k2ByCell, iters)
            reps.join(subAsg, Seq("_rid"), "left")
              .withColumn("subcell", coalesce(col("subcell"), lit(0)))
          }
      }
      val repPairs = refined.as("a").join(refined.as("b"),
          col("a.cell") === col("b.cell") &&
            col("a.subcell") === col("b.subcell") &&
            col("a._rid") < col("b._rid"))
        .withColumn("cosine", dotNativeD(col("a.dv"), col("b.dv")))
        .where(col("cosine") >= tau)
        .select(col("a._rid").as("id1"), col("b._rid").as("id2"))
      val repComp = Closure.components(repPairs)
      // isolated multi-member groups whose members still pair with each
      // other (self-dot clears tau): a clique with no external edge is
      // its own component, labeled by its minimum member id = the rep
      val cliqueOnly = grp
        .where(col("_e") > 1 && col("_self") >= tau)
        .select(col("_rep").cast("long").as("id"),
          col("_rep").cast("long").as("component"))
        .join(repComp.select(col("id")), Seq("id"), "left_anti")
      val allComp = repComp.unionByName(cliqueOnly)
      val drop = mem
        .join(allComp, mem("_rep").cast("long") === allComp("id"))
        .withColumn("_rnk", row_number().over(org.apache.spark.sql
          .expressions.Window.partitionBy("component").orderBy(
            col("sim").asc, col("vec_id").asc)))
        .where(col("_rnk") > 1)
        .select(col("vec_id").cast("long").as("_drop_id"))
      corpus.join(drop, corpus("vec_id").cast("long") === drop("_drop_id"),
        "left_anti")
    }
  }

  /** INCREMENTAL connected-components maintenance — the q111 economics
    * for the MinHash family: a persisted `(id, component)` assignment
    * (a previous [[Closure.components]] run) extends under an appended
    * batch's NEW edges (batch-internal [[nearDupPairs]] ∪ cross-corpus
    * [[crossNearDupPairs]]) without re-banding or re-joining the base
    * corpus. Each old component collapses to its STAR (component ←
    * member edges): stars preserve exactly the old connectivity AND
    * the old minima (the component label IS the min member id), so
    * closing (stars ∪ newPairs) equals from-scratch CC over
    * (old edges ∪ new edges) — q117 shares q42's closure oracle
    * VERBATIM, so hash equality is the incremental ≡ from-scratch
    * theorem itself. Cost: |assignment| + |new edges| rows through the
    * large/small-star loop (old components enter at diameter ≤ 2),
    * vs the full corpus's banding + Σ bucket² + closure.
    *
    * Economics, stated honestly: the closure-side win is |members| vs
    * |pairs| — decisive for DENSE duplicate clusters (a K-member group
    * holds K(K−1)/2 verified pairs; the crawl shape — measured 2M-pair
    * fixture in bench_r11_cc.json), a wash on sparse 2–3-member groups
    * where the star graph IS the pair graph. The larger win is what
    * does NOT run: no re-banding/re-verifying the base corpus — only
    * the batch's own and cross-corpus edges ([[crossNearDupPairs]])
    * are generated.
    *
    * Contract, enforced loudly: every assignment label must be ≤ its
    * member id (labels are minimum member ids — a raise_error fires on
    * the first violating row). Singleton assignments (id == component,
    * no new edge) are preserved in the output as their own components,
    * matching the from-scratch closure's self-pair contract.
    *
    * The result is materialized; every checkpoint the call made (the
    * pinned batch-pair frame, the closure's) is freed before it returns
    * ([[Ckpt.scope]]) — the r15 shape leaked one batch-pair checkpoint
    * per large append (§5). The returned checkpoint belongs to the
    * caller's scope (the store appends' epoch scope frees it once the
    * epoch write landed). */
  def extendComponents(assignments: DataFrame,
                       newPairs: DataFrame): DataFrame = Ckpt.scope {
    // contract guard: the star construction's correctness REQUIRES the
    // assignment label to be the minimum member id (what
    // Closure.components produces). A foreign
    // assignment violating it would silently relabel components; the
    // cheap necessary condition component ≤ id is checked loudly on
    // every row, map-side (a full min-membership audit would cost a
    // corpus aggregation per call — the label > id case is the one a
    // hand-edited or foreign assignment actually produces)
    val asg = assignments.select(col("id").cast("long").as("id"),
      when(col("component").cast("long") > col("id").cast("long"),
        raise_error(concat(lit("extendComponents: assignment label "),
          col("component").cast("long"), lit(" exceeds member id "),
          col("id").cast("long"),
          lit(" — labels must be minimum member ids (a " +
            "Closure.components output)"))))
        .otherwise(col("component").cast("long")).as("component"))
    def singletons(ids: DataFrame, closed: DataFrame): DataFrame =
      ids.join(closed.select(col("id")), Seq("id"), "left_anti")
        .select(col("id"), col("id").as("component"))
    // singleton assignments (id == component, no member edge) vanish from
    // the star graph; re-union any assignment id the closure did not
    // emit as its own singleton — an id absent from the closure can only
    // be a singleton (a non-singleton row contributes a star edge and a
    // new-pair id always enters the closure), so (id, id) is its label.
    // Preserves the from-scratch CC output contract verbatim (q42/q42b
    // emit self-pair-only ids as singletons).
    def fullStar(pairs: DataFrame): DataFrame = {
      val star = asg
        .where(col("id") =!= col("component"))
        .select(col("component").as("id1"), col("id").as("id2"))
      val closed = Closure.components(star.unionByName(pairs))
      closed.unionByName(singletons(asg.select(col("id")), closed))
    }
    // TOUCHED-COMPONENT restriction (r15), STATS-GATED: a stored
    // component's membership and label can only change when one of its
    // members is a new edge's endpoint — no new path reaches an
    // untouched component, and labels are component-local minima. So
    // above `spark.graft.extend.restrictMinBytes` (default 64 MB) of
    // estimated assignment size, only the touched components' stars
    // enter the closure and every untouched assignment row passes
    // through VERBATIM — removing the former full-assignment shuffle
    // per closure round (the star loop re-shuffled the whole base star
    // graph O(log²) times per append): closure cost then tracks the
    // batch's cluster impact, not the corpus. Below the threshold the
    // original full-star shape runs unchanged — its shuffles are
    // trivially cheap there and the restriction's extra passes
    // (endpoint checkpoint + two broadcast probes) are pure overhead.
    // Both gates read PLAN STATISTICS (driver-side, zero extra jobs).
    // The endpoint set is pair-OUTPUT-proportional; when an adversarial
    // flood pushes the pinned pair frame past
    // `spark.graft.extend.broadcastMaxBytes` (default 256 MB), fall
    // back to the full-star closure, which never broadcasts. All three
    // paths are output-identical (DedupSpec forces each via the knobs).
    val conf = assignments.sparkSession.conf
    val restrictMin = conf
      .getOption("spark.graft.extend.restrictMinBytes")
      .map(_.toLong).getOrElse(64L * 1024 * 1024)
    val asgBytes = asg.queryExecution.optimizedPlan.stats.sizeInBytes
    val result =
      if (asgBytes < restrictMin)
        fullStar(newPairs.select(col("id1").cast("long"),
          col("id2").cast("long")))
      else {
        val np = Ckpt.eager(newPairs.select(
          col("id1").cast("long").as("id1"),
          col("id2").cast("long").as("id2")))
        val bcastMax = conf
          .getOption("spark.graft.extend.broadcastMaxBytes")
          .map(_.toLong).getOrElse(256L * 1024 * 1024)
        if (np.queryExecution.optimizedPlan.stats.sizeInBytes > bcastMax)
          fullStar(np)
        else {
          val touchedIds = np.select(col("id1").as("id"))
            .unionByName(np.select(col("id2").as("id"))).distinct()
          val touchedComps = asg
            .join(broadcast(touchedIds), Seq("id"))
            .select(col("component")).distinct()
          val affected = asg
            .join(broadcast(touchedComps), Seq("component"), "left_semi")
          val untouched = asg
            .join(broadcast(touchedComps), Seq("component"), "left_anti")
          val star = affected
            .where(col("id") =!= col("component"))
            .select(col("component").as("id1"), col("id").as("id2"))
          val closed = Closure.components(star.unionByName(np))
          closed
            .unionByName(singletons(affected.select(col("id")), closed))
            .unionByName(untouched)
        }
      }
    Ckpt.eager(result)
  }

  /** Within-cell cosine pairs over a PRECOMPUTED assignment frame
    * (vec_id, cell, sim, dv) — [[semanticDupPairs]]' pair stage with the
    * trainer factored out, for deployments that persist the assignment
    * artifact ([[graft.operators.Clustering.kmeansAssignVec]] /
    * [[graft.operators.Clustering.assignVecWithCentroids]]) and pair on
    * demand. Uncollapsed (one row per vector); identical-vector-heavy
    * corpora should go through [[semanticDupPairs]]' guarded branch
    * instead. Output: (id1, id2, cell, cosine), id1 < id2. */
  def assignmentDupPairs(asg: DataFrame, tau: Double): DataFrame =
    asg.as("a").join(asg.as("b"),
        col("a.cell") === col("b.cell") &&
          col("a.vec_id") < col("b.vec_id"))
      .withColumn("cosine", dotNativeD(col("a.dv"), col("b.dv")))
      .where(col("cosine") >= tau)
      .select(col("a.vec_id").as("id1"), col("b.vec_id").as("id2"),
        col("a.cell").as("cell"), col("cosine"))

  /** INCREMENTAL SemDeDup under FROZEN centroids — the q111/q117/q118
    * economics for the semantic family: a deployment persists three
    * artifacts from its last full run (the trained centroids,
    * [[graft.operators.Clustering.kmeansCentroidsD]]; the base
    * assignment, `(vec_id, cell, sim, dv)`; and the base pair-graph
    * components) and processes an appended batch with ONLY
    * batch-proportional work — map-only batch assignment against the
    * frozen centroids, batch×batch and batch×base pairs within
    * batch-touched cells, and the [[extendComponents]] star closure.
    * The base corpus is never re-clustered and base×base never re-pairs.
    *
    * THEOREM (q119's oracle replays it from scratch): under frozen
    * centroids, base cell assignments — and therefore base×base pairs —
    * are invariant under append, so closing (base components ∪ new
    * edges) equals the from-scratch closure over the union's within-cell
    * pair graph, and the keep policy (per component, keep the member
    * LEAST similar to its centroid, ties to the lowest id — the
    * [[semanticDeduped]] policy) ranks over the SAME (sim, id) keys both
    * ways. Freezing is also where the approximation lives: the paper's
    * trainer would drift with the data, so — exactly like the facade's
    * PQ codebook staleness gate (`TemporalVectorDB.cacheBases`) — the
    * frozen-cell path is gated by `maxStaleFrac`: once the appended mass
    * exceeds that fraction of the base it fails LOUDLY, telling the
    * caller to retrain + re-run full [[semanticDeduped]] and re-freeze
    * (spec-gated; the check is two cheap counts on frames the caller
    * already pinned).
    *
    * Inputs: `corpus` = the UNION's rows to filter (any payload; must
    * contain `idCol` = the vec_id space); `baseAsg`/`baseComp` the
    * persisted artifacts; `batch` = (vec_id, embedding ARRAY<FLOAT>)
    * appended rows (ids disjoint from the base); `cents` the frozen
    * centroids. Returns the kept `corpus` rows. */
  def extendSemanticDeduped(corpus: DataFrame, idCol: String,
                            baseAsg: DataFrame, baseComp: DataFrame,
                            batch: DataFrame,
                            cents: Array[Array[Double]],
                            tau: Double = 0.95,
                            maxStaleFrac: Double = 0.5): DataFrame = {
    val nBase = baseAsg.count()
    val nBatch = batch.count()
    require(nBase == 0 || nBatch <= maxStaleFrac * nBase,
      s"extendSemanticDeduped: appended mass $nBatch exceeds " +
        s"maxStaleFrac=$maxStaleFrac of the base ($nBase) — the frozen " +
        "centroids are stale; retrain (kmeansCentroidsD), re-run " +
        "semanticDeduped from scratch, and re-freeze the artifacts")
    val batchAsg = Clustering.assignVecWithCentroids(batch, cents)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val comp = extendSemanticComponents(baseAsg, baseComp, batchAsg, tau)
    val sims = baseAsg.select(col("vec_id"), col("sim"))
      .unionByName(batchAsg.select(col("vec_id"), col("sim")))
    val drop = semanticDropIds(comp, sims).transform(Ckpt.eager)
    batchAsg.unpersist(false)
    corpus.join(drop, corpus(idCol).cast("long") === drop("_drop_id"),
      "left_anti")
  }

  /** The component-extension half of [[extendSemanticDeduped]] over a
    * PRECOMPUTED batch assignment
    * ([[graft.operators.Clustering.assignVecWithCentroids]] against the
    * frozen centroids) — factored so a store that persists the
    * assignment and component artifacts ([[graft.api.SemanticDedupStore]])
    * assigns ONCE and feeds both the epoch write and the closure.
    * Batch-proportional: batch×batch and batch×base pairs within
    * batch-touched cells, then the [[extendComponents]] star closure.
    * Callers pin `batchAsg` (consumed twice here, once more for sims). */
  def extendSemanticComponents(baseAsg: DataFrame, baseComp: DataFrame,
                               batchAsg: DataFrame,
                               tau: Double): DataFrame = {
    val within = assignmentDupPairs(batchAsg, tau)
      .select(col("id1"), col("id2"))
    // drop untouched-cell base rows MAP-SIDE (broadcast semi-join on the
    // batch's distinct cells — at most the trained cell count, tiny)
    // before the join shuffle: only batch-touched cells' base rows ever
    // leave their scan
    val touchedCells = batchAsg.select(col("cell")).distinct()
    val cross = batchAsg.as("n").join(
        baseAsg.join(broadcast(touchedCells), Seq("cell"), "left_semi")
          .as("b"),
        col("n.cell") === col("b.cell"))
      .withColumn("cosine", dotNativeD(col("n.dv"), col("b.dv")))
      .where(col("cosine") >= tau)
      .select(col("b.vec_id").as("id1"), col("n.vec_id").as("id2"))
    extendComponents(baseComp, within.unionByName(cross))
  }

  /** The SemDeDup keep policy as a drop set — per component keep the
    * member LEAST similar to its centroid (ties to the lowest id, the
    * [[semanticDeduped]] policy); everything else drops. `sims` =
    * (vec_id, sim) for every assigned vector. Output: (_drop_id). */
  def semanticDropIds(comp: DataFrame, sims: DataFrame): DataFrame =
    comp
      .join(sims, comp("id") === sims("vec_id"))
      .withColumn("_rnk", row_number().over(org.apache.spark.sql
        .expressions.Window.partitionBy("component").orderBy(
          col("sim").asc, col("id").asc)))
      .where(col("_rnk") > 1)
      .select(col("id").as("_drop_id"))

  /** EXACT edit-distance-≤1 near-pairs over short keys via symmetric
    * single-deletion signatures (the SymSpell blocking scheme,
    * Garbe 2012 — public algorithm): each distinct key emits itself
    * plus every single-character-deletion variant, and any two keys
    * within Levenshtein distance 1 provably share a variant —
    * substitution at position p ⇒ both sides' p-deletions coincide;
    * insertion/deletion ⇒ the longer side's deletion equals the
    * shorter side itself. So the variant equi-join is a COMPLETE
    * candidate generator (no recall loss, unlike LSH banding) and
    * `levenshtein` verification only discards false candidates.
    *
    * Scale shape: identical-key mass collapses FIRST (one row per
    * distinct key, rep = min id, cnt carried — the same
    * collapse-before-banding discipline as [[nearDupPairs]], so a
    * million byte-identical titles cost one variant set, not 10^12
    * candidate pairs); variant emission is one compiled-kernel call per
    * distinct key ([[graft.functions.DeleteVariantsExpr]]), map-only
    * and linear in Σ C(key-length, maxEdit); the equi-join keys are the
    * variant strings themselves (keys are short, so hashing every
    * variant cost more than the bytes it saved — measured 2× on
    * q113b); candidate cost is Σ variant-bucket², bounded by how many
    * DISTINCT keys sit within `maxEdit` of each other — the near-dup
    * structure itself, not corpus size.
    *
    * Keys are expected SHORT (titles, prefixes, normalized names —
    * ≤ ~64 chars); `maxKeyLen` fails loudly on longer keys rather than
    * silently emitting quadratic variant volume. `maxEdit` ∈ {1, 2}:
    * the deletion-signature family needs ≤d-deletion variant sets for
    * distance d — C(len, d) variants per key, so d=1 costs len+1 rows
    * per distinct key and d=2 ~len²/2 (still map-only and linear in
    * key count; beyond 2 the volume stops paying for itself on short
    * keys).
    *
    * Output: one row per unordered pair of DISTINCT keys within
    * `maxEdit` — (rep_a, rep_b, key_a, key_b, cnt_a, cnt_b, dist),
    * rep_a < rep_b. Feed into [[Closure.components]] for canonical
    * key clusters. The reference has no fuzzy-string machinery (its
    * dedup surface is vector-level; see reference storage_engine.py) —
    * training-data-pipeline tier. */
  def fuzzyKeyPairs(df: DataFrame, keyCol: String = "key",
                    idCol: String = "doc_id",
                    maxKeyLen: Int = 64,
                    maxEdit: Int = 1): DataFrame = {
    require(maxKeyLen >= 1 && maxKeyLen <= 1024,
      s"maxKeyLen out of range: $maxKeyLen")
    require(maxEdit == 1 || maxEdit == 2,
      s"maxEdit must be 1 or 2 (deletion-variant volume is " +
        s"C(len, maxEdit) per key): $maxEdit")
    val variants = fuzzyVariantIndex(df, keyCol, idCol, maxKeyLen, maxEdit)
    val a = variants.select(col("_vh"), col("rep").as("rep_a"),
      col("key").as("key_a"), col("cnt").as("cnt_a"))
    val b = variants.select(col("_vh"), col("rep").as("rep_b"),
      col("key").as("key_b"), col("cnt").as("cnt_b"))
    a.join(b, Seq("_vh"))
      .where(col("rep_a") < col("rep_b"))
      .select("rep_a", "rep_b", "key_a", "key_b", "cnt_a", "cnt_b")
      .distinct()
      .withColumn("dist",
        levenshtein(col("key_a"), col("key_b")).cast("long"))
      .where(col("dist") <= maxEdit.toLong)
  }

  /** The PERSISTABLE symmetric-delete variant index behind
    * [[fuzzyKeyPairs]] — one row per (distinct key, variant):
    * (rep, key, cnt, _vh), rep = min id carrying the key, cnt the
    * collapsed exact-dup mass, _vh the variant string (the key itself
    * plus every ≤maxEdit-deletion). Write it beside the corpus and feed
    * [[extendFuzzyKeyPairs]] per append: the index is what makes the
    * fuzzy family batch-proportional — a new key batch joins the STORED
    * variants instead of re-deriving the full corpus's (the q111/q117/
    * q118 economics applied to the SymSpell join). Derivation is
    * map-only (one compiled [[graft.functions.DeleteVariantsExpr]] call
    * per distinct key) after the one distinct-key aggregation; the loud
    * `maxKeyLen` guard rides the aggregation's key projection. */
  def fuzzyVariantIndex(df: DataFrame, keyCol: String = "key",
                        idCol: String = "doc_id",
                        maxKeyLen: Int = 64,
                        maxEdit: Int = 1): DataFrame = {
    require(maxKeyLen >= 1 && maxKeyLen <= 1024,
      s"maxKeyLen out of range: $maxKeyLen")
    require(maxEdit == 1 || maxEdit == 2,
      s"maxEdit must be 1 or 2: $maxEdit")
    // EVALUATE THE CALLER'S KEY EXPRESSION EXACTLY ONCE. The key column
    // is typically the expensive end of a pipeline (regex/normalization
    // over raw text), and without a barrier it gets re-evaluated per
    // consumer AND per operator: the empty-key filter, the group-by
    // key, and each side of [[fuzzyKeyPairs]]' a×b self-join are
    // separate operators whose codegen does NOT share subexpressions
    // across them. Measured at the 100× decade (500k docs, ~13 s per
    // key-derivation pass): the naive chain paid ~5 passes (96.5 s
    // wall), and even a single groupBy action paid 2.5 passes (44.6 s)
    // because filter + grouping each recompute the expression. The fix
    // is two cheap eager checkpoints: the raw (id, key) projection
    // (one key-expression pass, tiny rows), then the distinct-key
    // aggregate over the PINNED column (one row per distinct key) with
    // the length guard applied post-aggregation — per distinct key,
    // same loudness. Whole from-scratch chain after: ~15 s — one
    // unavoidable derivation pass + ~2 s of join work.
    val lenGuard = when(length(col("key")) > maxKeyLen,
      raise_error(concat(lit("fuzzyVariantIndex: key length "),
        length(col("key")),
        lit(s" exceeds maxKeyLen $maxKeyLen — long keys make the " +
          "single-deletion variant set quadratic; truncate or hash " +
          "upstream")))).otherwise(col("key"))
    // the projection's blocks are dead once the keys aggregate has its
    // own checkpoint — the scope frees them now rather than at driver GC
    val keys = Ckpt.scope {
      val projected = Ckpt.eager(df.select(
        col(idCol).cast("long").as("_fid"), col(keyCol).as("key")))
      Ckpt.eager(projected.where(length(col("key")) > 0)
        .groupBy(col("key"))
        .agg(min(col("_fid")).as("rep"),
          count(lit(1)).as("cnt"))
        .select(lenGuard.as("key"), col("rep"), col("cnt")))
    }
    // identity + each ≤maxEdit-deletion variant (Garbe's symmetric
    // deletes are a complete candidate cover for Levenshtein ≤ maxEdit),
    // deduplicated, via the compiled kernel — the equivalent
    // transform(sequence(...)) expression tree paid ~17 s of codegen
    // compilation per ACTION (data-size-independent; measured on q113b)
    // for work that is a microsecond per-row loop in bytecode.
    // Joins run on the variant STRING itself: keys are short
    // (≤ maxKeyLen), so a variant row is ~key-length bytes either way,
    // and hashing 1.6M variants twice cost more than the bytes it saved
    // — measured 2× on q113b
    val varList = org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.DeleteVariantsExpr(
        org.apache.spark.sql.graftbridge.Bridge.expression(col("key")),
        maxEdit))
    keys.select(col("rep"), col("key"), col("cnt"),
      explode(varList).as("_vh"))
  }

  /** INCREMENTAL fuzzy-pair maintenance: the pairs an appended key
    * batch ADDS to a corpus whose [[fuzzyVariantIndex]] is persisted —
    * batch-internal pairs among the batch's genuinely NEW distinct keys
    * plus cross pairs (new key × stored key), both through the variant
    * equi-join and levenshtein-verified. Feed — together with the
    * persisted base component assignment — into [[extendComponents]]:
    * q120 proves the extension hash-identical to from-scratch
    * [[fuzzyKeyPairs]] + closure over the union.
    *
    * Soundness of the delta shape: a batch key already present in the
    * base adds exact-dup MASS but no new edge (pairs connect distinct
    * KEYS; its rep stays the base rep under the id guard below), so only
    * new distinct keys generate edges, and every such edge has a new key
    * on ≥ 1 side — exactly what this computes. APPEND CONTRACT
    * (enforced loudly, the [[graft.operators.SubstringIndex]]
    * discipline): every batch id must STRICTLY EXCEED every stored rep,
    * so stored reps — the ids the persisted assignment is keyed by —
    * are invariant under append.
    *
    * Output: (rep_a, rep_b, key_a, key_b, dist), rep_a < rep_b (cnt
    * columns are omitted: counts grow under append, so a pair's cnt is
    * epoch-relative — derive from the maintained index when needed).
    * Cost shape: one batch-key aggregation, map-only batch variant
    * emission, one equi-join against the stored index, one batch-side
    * self-join — nothing proportional to the base corpus. */
  def extendFuzzyKeyPairs(baseIndex: DataFrame, batch: DataFrame,
                          keyCol: String = "key",
                          idCol: String = "doc_id",
                          maxKeyLen: Int = 64,
                          maxEdit: Int = 1): DataFrame = {
    val newVariants = fuzzyNewVariants(baseIndex, batch, keyCol, idCol,
        maxKeyLen, maxEdit)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = extendFuzzyKeyPairsOf(baseIndex, newVariants, maxEdit)
      .transform(Ckpt.eager)
    newVariants.unpersist(false)
    out
  }

  /** The NEW-KEY variant rows an appended batch adds to a persisted
    * [[fuzzyVariantIndex]] — the index DELTA a durable store commits per
    * epoch ([[graft.api.FuzzyKeyStore]]): the batch's distinct keys
    * (id-guarded: every batch id must strictly exceed every stored rep,
    * enforced with a map-side raise_error after one min/max-statistics
    * aggregation of the stored reps) minus keys the base already stores,
    * with their ≤maxEdit-deletion variants. Because each epoch stores
    * only genuinely-new keys and stored reps are invariant under the id
    * guard, the resolved index at any epoch is the PLAIN UNION of the
    * epoch deltas — no latest-wins resolution needed (unlike the
    * substring store, whose per-key merge rewrites rows). `cnt` is
    * deliberately ABSENT: counts grow under append, so they are
    * epoch-relative — derive from the stored key batches when needed. */
  def fuzzyNewVariants(baseIndex: DataFrame, batch: DataFrame,
                       keyCol: String = "key",
                       idCol: String = "doc_id",
                       maxKeyLen: Int = 64,
                       maxEdit: Int = 1): DataFrame = {
    // id-ordering guard: one min/max-statistics aggregation of the
    // stored reps, then a map-side raise_error on the batch ids
    val mx = baseIndex.agg(max(col("rep"))).collect()
    val baseMaxRep =
      if (mx.isEmpty || mx.head.isNullAt(0)) Long.MinValue
      else mx.head.getLong(0)
    val guardedId = {
      val id = col(idCol).cast("long")
      when(id <= baseMaxRep, raise_error(concat(
        lit("extendFuzzyKeyPairs: batch id "), id,
        lit(s" does not exceed the stored max rep $baseMaxRep — stored " +
          "reps must be invariant under append for the persisted " +
          "assignment to remain valid"))))
        .otherwise(id)
    }
    fuzzyVariantIndex(
        batch.select(guardedId.as(idCol), col(keyCol)),
        keyCol, idCol, maxKeyLen, maxEdit)
      // genuinely NEW keys only: a key the base already stores has its
      // base rep and contributes no new edge
      .join(baseIndex.select(col("key")).distinct(), Seq("key"),
        "left_anti")
      .select(col("rep"), col("key"), col("_vh"))
  }

  /** The pair-join half of [[extendFuzzyKeyPairs]] over PRECOMPUTED
    * new-key variants ([[fuzzyNewVariants]]) — factored so a store that
    * persists the variant delta computes variants ONCE and feeds both
    * the epoch write and the edge extension. Callers should pin
    * `newVariants` (persist/checkpoint): it is consumed three times. */
  private[graft] def extendFuzzyKeyPairsOf(baseIndex: DataFrame,
                                           newVariants: DataFrame,
                                           maxEdit: Int): DataFrame = {
    // cross pairs: base rep < batch rep always (the id guard), so the
    // base side is rep_a verbatim
    val cross = newVariants.as("n")
      .join(baseIndex.as("b"), col("n._vh") === col("b._vh"))
      .select(col("b.rep").as("rep_a"), col("n.rep").as("rep_b"),
        col("b.key").as("key_a"), col("n.key").as("key_b"))
    // batch-internal pairs among the new keys
    val within = newVariants.as("a")
      .join(newVariants.as("b"),
        col("a._vh") === col("b._vh") && col("a.rep") < col("b.rep"))
      .select(col("a.rep").as("rep_a"), col("b.rep").as("rep_b"),
        col("a.key").as("key_a"), col("b.key").as("key_b"))
    cross.unionByName(within)
      .distinct()
      .withColumn("dist",
        levenshtein(col("key_a"), col("key_b")).cast("long"))
      .where(col("dist") <= maxEdit.toLong)
  }
}
