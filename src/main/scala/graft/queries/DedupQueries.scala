package graft.queries

import graft.operators.{Ckpt, Closure, Dedup, QualityModels, TextAnalysis}
import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Dedup oracle queries (builder north star): exact groups, MinHash+LSH,
  * SimHash, n-gram Jaccard, embedding-cosine near-dup (brute + LSH).
  *
  * The raw `documents`/`embeddings` tables contain no duplicates, so each
  * query runs over a deterministically AUGMENTED corpus: near-dup copies
  * (first token dropped / tiny vector perturbation) for id % 25 == 0 and
  * exact copies for id % 50 == 0 — reproduced identically in the DuckDB
  * oracle CTEs.
  */
object DedupQueries {

  /** documents + near-dup copies (+10000) + exact copies (+20000). */
  def augDocs(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    docs
      .unionByName(docs.where(pmod(col("doc_id"), lit(25)) === 0)
        .select((col("doc_id") + 10000).as("doc_id"),
          regexp_replace(col("text"), "^\\S+\\s+", "").as("text")))
      .unionByName(docs.where(pmod(col("doc_id"), lit(50)) === 0)
        .select((col("doc_id") + 20000).as("doc_id"), col("text")))
      .transform(par)
  }

  /** [[augDocs]] plus THREE more exact-copy tiers (+30000/+40000/+50000
    * for doc_id % 50 == 0) — an exact-dup-HEAVY corpus (groups of 5
    * byte-identical members, linked to a near-dup copy through the group's
    * original): the crawl shape whose uncollapsed banding is e² per group.
    * q50 runs [[Dedup.nearDupPairs]] (collapsed) over it while the DuckDB
    * oracle replays the UNCOLLAPSED chain — hash equality is an
    * independent proof that the collapse is output-identical. */
  def heavyDocs(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    (3 to 5).foldLeft(augDocs(s, d)) { (acc, k) =>
      acc.unionByName(docs.where(pmod(col("doc_id"), lit(50)) === 0)
        .select((col("doc_id") + k * 10000).as("doc_id"), col("text")))
    }
  }

  /** Short normalized "title" keys with deterministic fuzz tiers for the
    * symmetric-delete join (q113/q114): key = trimmed first 24 chars of
    * the ASCII-normalized text (strip non-[A-Za-z0-9 ] BEFORE lowering —
    * DuckDB's `levenshtein` is byte-based, so oracle parity needs pure
    * ASCII keys); the +30000 tier substitutes one key char with 'z', the
    * +40000 tier deletes one key char — both at position
    * p = doc_id % 12 + 2, replayed verbatim in the oracle CTE. */
  def fuzzKeys(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d).select(col("doc_id"),
      trim(substring(lower(regexp_replace(col("text"),
        "[^A-Za-z0-9 ]", "")), 1, 24)).as("key"))
    val p = pmod(col("doc_id"), lit(12)) + 2
    base
      .unionByName(base.where(pmod(col("doc_id"), lit(10)) === 0)
        .select((col("doc_id") + 30000).as("doc_id"),
          concat(col("key").substr(lit(1), p - 1), lit("z"),
            col("key").substr(p + 1, length(col("key")))).as("key")))
      .unionByName(base.where(pmod(col("doc_id"), lit(15)) === 0)
        .select((col("doc_id") + 40000).as("doc_id"),
          concat(col("key").substr(lit(1), p - 1),
            col("key").substr(p + 1, length(col("key")))).as("key")))
      .transform(par)
  }

  /** Shared engine path of q118/q118b/q118c: split a modality's
    * fingerprint frame (_id, simhash) into a base three-quarters and an
    * appended quarter (doc_id % 4 == 3 — cuts across the % 25 near-dup
    * families, so merge/join/fresh component cases all occur), persist
    * the base artifacts a deployment holds (fingerprints + component
    * assignment), extend with ONLY batch-internal + cross edges, and
    * emit the kept corpus — the exact output of from-scratch
    * [[Dedup.hashDeduped]] over the union (the modality's q69b/q74b/q75b
    * oracle replays that closure). The fingerprint frame is pinned once:
    * a deployment reads base prints from parquet and decodes only the
    * batch's media. */
  private def incrementalHashDedup(s: SparkSession, d: String,
                                   hashes: DataFrame): DataFrame = {
    val h = Ckpt.eager(hashes)
    val baseH = h.where(pmod(col("_id"), lit(4)) =!= 3)
    val batchH = h.where(pmod(col("_id"), lit(4)) === 3)
    // the persisted artifacts from the prior round: the base prints and
    // their rep-level component closure
    val baseComp = Dedup.hashComponents(baseH, maxHamming = 3)
    Dedup.extendHashDeduped(
        Tables.documents(s, d).select(col("doc_id")), "doc_id",
        baseH, baseComp, batchH, maxHamming = 3)
      .select(col("doc_id").cast("long").as("doc_id"))
      .orderBy("doc_id")
  }

  /** Deterministic 32×32 grayscale PPM payloads for the image-dedup
    * queries (q69/q69b): pixel value a closed-form function of
    * (doc_id, x, y) — docs sharing doc_id % 25 are near-identical,
    * differing only in a per-tier shift on the two left pixel columns —
    * so the DuckDB oracle replays the pixel formula instead of decoding
    * bytes. */
  def mediaFrame(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d).select(col("doc_id")).as[Long]
      .map { i =>
        val w = 32; val h = 32
        val p = (i % 25).toInt
        val q = ((i / 25) % 7).toInt
        val header = s"P6\n$w $h\n255\n"
          .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
        val body = new Array[Byte](3 * w * h)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val v = (3 * x + 5 * y + 7 * p + x * y +
              (if (x < 2) q else 0)) % 256
            var c = 0
            while (c < 3) { body(3 * (y * w + x) + c) = v.toByte; c += 1 }
            x += 1
          }
          y += 1
        }
        (i, header ++ body)
      }.toDF("media_id", "payload").transform(par)
  }

  /** Synthetic WAV payloads per document (the audio analog of
    * [[mediaFrame]]): 8-bit PCM mono, 1824 samples; sample t of doc i is
    * 128 + (−1)^t · a with window k = t/32, family p = i%25, tier
    * q = (i/25)%7, amplitude a = (3k + 5p + k·p) % 17, +1 on window k=q
    * for tiers q>0. Docs sharing i%25 differ in ONE window's amplitude →
    * near-identical energy profiles (fingerprint Hamming ≤ 2 vs tier 0).
    * Decoded back through the REAL RIFF/WAVE parser; the oracle never
    * parses bytes — it replays the sample formula (the q69 pattern). */
  def audioFrame(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.operators.Audio
    Tables.documents(s, d).select(col("doc_id")).as[Long]
      .map { i =>
        val p = (i % 25).toInt
        val q = ((i / 25) % 7).toInt
        val samples = Array.tabulate(Audio.MinSamples) { t =>
          val k = t / Audio.WindowSize
          val a = (3 * k + 5 * p + k * p) % 17 +
            (if (q > 0 && k == q) 1 else 0)
          128 + (if (t % 2 == 0) a else -a)
        }
        (i, Audio.buildWavPcm8(samples))
      }.toDF("media_id", "payload").transform(par)
  }

  /** Synthetic AVI payloads per document (the video analog of
    * [[mediaFrame]]/[[audioFrame]]): 6 uncompressed 32×32 grayscale RGB24
    * frames; pixel (t, x, y) of doc i is ((3x + 5y + 7p + x·y + 2·t·x
    * + (x<2 ∧ t<4 ? q : 0)) mod 256) with family p = i%25 and tier
    * q = (i/25)%7 — tiers differ only on the two left pixel columns of
    * the first four frames, so the frame-sampled (step 2 → t ∈ {0,2,4})
    * temporal-majority fingerprints of a family land within small
    * Hamming distance. Decoded back through the REAL RIFF/AVI chunk
    * walker; the oracle never parses bytes — it replays the pixel
    * formula (the q69/q74 pattern on the video modality). */
  def videoFrame(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.operators.Video
    Tables.documents(s, d).select(col("doc_id")).as[Long]
      .map { i =>
        val w = 32; val h = 32; val nf = 6
        val p = (i % 25).toInt
        val q = ((i / 25) % 7).toInt
        val frames = Array.tabulate(nf) { t =>
          Array.tabulate(w * h) { idx =>
            val x = idx % w; val y = idx / w
            val v = (3 * x + 5 * y + 7 * p + x * y + 2 * t * x +
              (if (x < 2 && t < 4) q else 0)) % 256
            v * 0x010101 // grayscale: R = G = B = v
          }
        }
        (i, Video.buildAviRgb24(frames, w, h))
      }.toDF("media_id", "payload").transform(par)
  }

  /** embeddings + perturbed copies (+10000): +0.01 on dims i%16==0. */
  def augEmb(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
    emb.unionByName(emb.where(pmod(col("vec_id"), lit(25)) === 0)
      .select((col("vec_id") + 10000).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          (x.cast("double") + when(pmod(i, lit(16)) === 0, lit(0.01))
            .otherwise(lit(0.0))).cast("float")).as("embedding")))
      .transform(par)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // exact-dup groups over the augmented corpus (non-empty by design).
    "q23_dedup_exact_groups" -> ((s, d) => augDocs(s, d)
      .groupBy(md5(col("text").cast("binary")).as("text_hash"))
      .agg(count(lit(1)).as("dup_cnt"), min("doc_id").as("keep_doc"),
        max("doc_id").as("drop_doc"))
      .where(col("dup_cnt") > 1)
      .orderBy("text_hash")),

    // Q57: repeated-span statistics — the fixed-window approximation of
    // suffix-array substring dedup (Lee et al. 2022) over the augmented
    // corpus (the exact-copy tier makes every span of a copied doc
    // corpus-repeated; near-dup copies shift alignment and stay clean).
    "q57_repeated_spans" -> ((s, d) =>
      TextAnalysis.spanDedupStats(augDocs(s, d), window = 16, step = 8)
        .orderBy("doc_id")),

    // Q81: q57 at step = 1 — EVERY 16-token alignment, i.e. the EXACT
    // rolling-hash reduction of substring dedup (Lee et al. 2022): any
    // repeated substring of >= 16 tokens necessarily contains a repeated
    // aligned window, so step=1 detects ALL of them (q57's step=8 is the
    // 8x-cheaper approximation; this query retires the "approximation"
    // caveat as a declared, oracle-checked configuration). Cost is
    // tokens-per-doc windows per doc — linear, hash-keyed, text never
    // shuffles.
    "q81_repeated_spans_exact" -> ((s, d) =>
      TextAnalysis.spanDedupStats(augDocs(s, d), window = 16, step = 1)
        .orderBy("doc_id")),

    // MinHash + LSH banding + true-Jaccard verification. The corpus is
    // pinned dup-light (largest exact group 3 < the collapse threshold),
    // so the declared query skips the gate probe — `Some(false)` takes the
    // branch the probe would pick anyway, minus its extra driver-blocking
    // aggregation (~0.4s of the 1.2s probe-path wall at sf0.1, BenchAttr).
    // Unknown-corpus callers keep the `None` default; q50 pins the
    // collapse branch on the corpus shape that needs it.
    "q23b_dedup_minhash_lsh" -> ((s, d) =>
      Dedup.nearDupPairs(augDocs(s, d), "doc_id", "text", tau = 0.5,
          collapseExactDups = Some(false))
        .select(col("id1"), col("id2"), r4(col("jaccard")).as("jaccard"))
        .orderBy("id1", "id2")),

    // Q69: perceptual-hash IMAGE dedup — deterministic 32×32 grayscale
    // PPM payloads (pixel value a closed-form function of (doc_id, x, y);
    // docs sharing doc_id % 25 are near-identical, differing only in a
    // per-tier shift on the two left pixel columns), decoded by the REAL
    // PPM codec, dHashed, and paired through the banded Hamming join.
    // The oracle never decodes bytes: it replays the pixel formula, the
    // 4×4 cell sums, the 56 comparisons and a brute-force pair check
    // (pigeonhole banding is exact, so brute force IS the contract).
    "q69_image_dedup" -> ((s, d) =>
      Dedup.hashPairs(graft.operators.Multimodal.dHashes(mediaFrame(s, d)),
          maxHamming = 3)
        .orderBy("id1", "id2")),

    // Q74: acoustic-fingerprint AUDIO dedup — synthetic RIFF/WAVE PCM
    // payloads (sample value a closed-form function of (doc_id, t); docs
    // sharing doc_id % 25 are near-identical, differing in one window's
    // amplitude), decoded by the REAL WAV parser (spec-cross-checked
    // against the JDK's javax.sound.sampled decode), energy-delta
    // 56-bit fingerprints, paired through the same banded Hamming join
    // as image dHash. The oracle replays the sample formula, the exact
    // integer window energies, the 56 comparisons, and a brute-force
    // pair check (pigeonhole banding is exact, so brute force IS the
    // contract — the q69 pattern on the audio modality).
    "q74_audio_dedup" -> ((s, d) =>
      Dedup.hashPairs(graft.operators.Audio.fingerprints(audioFrame(s, d)),
          maxHamming = 3)
        .orderBy("id1", "id2")),

    // Q74b: the linear-OUTPUT audio corpus dedup (q74's scale twin, as
    // q69b is q69's): components over distinct fingerprints, one kept
    // doc per cluster — the shape a deployment consumes, output linear
    // in the corpus while q74's pair list grows with dup mass.
    "q74b_audio_corpus_dedup" -> ((s, d) => {
      val media = audioFrame(s, d)
      // id list from the pruned parquet scan, not the fixture .map —
      // see the q75b note
      Dedup.hashDeduped(
          Tables.documents(s, d).select(col("doc_id")), "doc_id",
          graft.operators.Audio.fingerprints(media), maxHamming = 3)
        .select(col("doc_id").cast("long").as("doc_id"))
        .orderBy("doc_id")
    }),

    // Q75: temporal-majority VIDEO dedup — synthetic RIFF/AVI payloads
    // (6 uncompressed DIB frames; pixel value a closed-form function of
    // (doc_id, t, x, y); docs sharing doc_id % 25 are near-identical,
    // differing on two pixel columns of the first four frames), decoded
    // by the REAL AVI chunk walker (spec-cross-checked against the JDK's
    // BMP decode of the same DIB payload), frame-sampled at REAL frame
    // boundaries (step 2), per-frame dHash, strict-majority pooling into
    // a 56-bit fingerprint, paired through the same banded Hamming join
    // as image dHash and audio prints. The oracle replays the pixel
    // formula, per-frame cell sums and dHash bits, the majority vote,
    // and a brute-force pair check (pigeonhole banding is exact, so
    // brute force IS the contract — the q69/q74 pattern on video).
    "q75_video_dedup" -> ((s, d) =>
      Dedup.hashPairs(
          graft.operators.Video.fingerprints(videoFrame(s, d),
            frameStep = 2),
          maxHamming = 3)
        .orderBy("id1", "id2")),

    // Q75b: the linear-OUTPUT video corpus dedup (q75's scale twin, as
    // q69b/q74b are for image/audio): components over distinct
    // fingerprints, one kept doc per cluster.
    // (the corpus arg comes from the PRUNED parquet scan, not the media
    // frame: the id list must not pay the AVI encode the typed fixture
    // .map would force — in production the media table is a parquet scan
    // and column pruning gives this for free; the oracle reads kept ids
    // FROM documents the same way)
    "q75b_video_corpus_dedup" -> ((s, d) => {
      val media = videoFrame(s, d)
      Dedup.hashDeduped(
          Tables.documents(s, d).select(col("doc_id")), "doc_id",
          graft.operators.Video.fingerprints(media, frameStep = 2),
          maxHamming = 3)
        .select(col("doc_id").cast("long").as("doc_id"))
        .orderBy("doc_id")
    }),

    // Q69b: the linear-OUTPUT image dedup shape — q69's pair graph closed
    // into components (label propagation) and collapsed to one kept image
    // per component, unpaired images passing through. The pair set is
    // quadratic in near-identical group size (BENCH_LOCAL_r07.md measures
    // 100x pairs at 10x replicas); THIS is the query a pipeline runs at
    // corpus scale, because its output is one row per KEPT image.
    "q69b_image_corpus_dedup" -> ((s, d) => {
      val media = mediaFrame(s, d)
      // fused collapse+closure: components over DISTINCT dHashes (the
      // pixel formula keys hashes by (doc_id%25, doc_id/25%7), so a
      // replica-scaled corpus closes over ~175 reps, not N rows)
      Dedup.hashDeduped(
          Tables.documents(s, d).select(col("doc_id")), "doc_id",
          graft.operators.Multimodal.dHashes(media), maxHamming = 3)
        .select(col("doc_id").cast("long").as("doc_id"))
        .orderBy("doc_id")
    }),

    // Q118 / Q118b / Q118c: INCREMENTAL media-corpus dedup — the q117
    // discipline for the fingerprint families: the base half's persisted
    // artifacts (8-byte fingerprints + (id, component) assignment) extend
    // with ONLY the appended half's edges (batch-internal hashPairs +
    // crossHashPairs against the persisted base fingerprints); the base
    // media is never re-DECODED and base×base is never re-banded — the
    // two costs that dominate a media modality at corpus scale. Each
    // shares its modality's from-scratch q69b/q74b/q75b closure oracle
    // VERBATIM, so hash equality IS the incremental ≡ from-scratch
    // theorem on the union.
    "q118_incremental_image_dedup" -> ((s, d) =>
      incrementalHashDedup(s, d,
        graft.operators.Multimodal.dHashes(mediaFrame(s, d)))),
    "q118b_incremental_audio_dedup" -> ((s, d) =>
      incrementalHashDedup(s, d,
        graft.operators.Audio.fingerprints(audioFrame(s, d)))),
    "q118c_incremental_video_dedup" -> ((s, d) =>
      incrementalHashDedup(s, d,
        graft.operators.Video.fingerprints(videoFrame(s, d),
          frameStep = 2))),

    // Q70: SemDeDup-shape semantic dedup — full-corpus k-means (8 cells,
    // 3 Lloyd rounds, the q62 trainer) over the AUGMENTED embeddings,
    // then within-cluster cosine pairs at tau = 0.95. The oracle replays
    // the whole chain: normalize, 1/1024 grid, 3 unrolled iterations,
    // final assignment, within-cell pair join over the SAME grid vectors.
    "q70_semantic_dedup" -> ((s, d) =>
      Dedup.semanticDupPairs(augEmb(s, d), nCells = 8, iters = 3,
          tau = 0.95)
        .select(col("id1"), col("id2"), col("cell"),
          r4(col("cosine")).as("cosine"))
        .orderBy("id1", "id2")),

    // Q70b: the ACTING half of q70 — semanticDeduped's kept corpus
    // (pairs → component closure → keep the member LEAST similar to its
    // centroid per group, ties to the lowest id; unpaired rows pass).
    // The oracle replays the whole policy: q70's trainer + pair chain,
    // the recursive component closure (q42's shape), and the
    // least-similar-keep window. Runs the default probe gate — both
    // branches are spec-proven output-identical, so the direct replay
    // matches either.
    "q70b_semantic_dedup_kept" -> ((s, d) =>
      Dedup.semanticDeduped(augEmb(s, d), nCells = 8, iters = 3,
          tau = 0.95)
        .select(col("vec_id").cast("long").as("vec_id"))
        .orderBy("vec_id")),

    // Q70c: q70b with PRODUCTION-SIZED cells — nCells from the corpus
    // count via Dedup.autoCells (the semanticDedupedAuto sizing, the knob
    // that kills the Σ cell² term the 100× probe measured at q70's pinned
    // 8 cells: 27.3s auto vs 207.9s pinned, BENCH_LOCAL_r08.md). Sizing
    // is a pure function of the count, so the oracle derives the same k
    // in SQL and seeds the same k lowest-id centroids via a dynamic
    // LIMIT. targetCellSize 64 keeps the sizing responsive at driver
    // fixture scales (the 4096 default would clamp to the 2-cell floor).
    // semanticDeduped directly (not the Auto wrapper): the wrapper also
    // arms the maxCellSize skew cap, whose sub-clustering branch is
    // deliberately outside the SQL surface — it only engages on
    // under-split cells and is spec-gated instead (DedupSpec).
    "q70c_semantic_dedup_auto" -> ((s, d) => {
      val corpus = augEmb(s, d)
      Dedup.semanticDeduped(corpus,
          nCells = Dedup.autoCells(corpus.count(), 64L), iters = 3,
          tau = 0.95)
        .select(col("vec_id").cast("long").as("vec_id"))
        .orderBy("vec_id")
    }),

    // Q119: INCREMENTAL semantic dedup under FROZEN centroids — the
    // q117/q118/q120 discipline for the SemDeDup family: the raw
    // embeddings play the base (persisted artifacts: double-precision
    // centroids, assignment, pair components), the jittered +10000 rows
    // the appended batch. Batch work only: map-only frozen-cell
    // assignment, batch×batch + batch×base pairs within cells, star
    // extension, the least-similar keep policy over the union. The
    // oracle replays the WHOLE frozen-centroid chain from scratch
    // (trainer on the base slice, assignment over the union) — hash
    // equality is incremental ≡ from-scratch under frozen centroids.
    "q119_incremental_semantic_dedup" -> ((s, d) => {
      val corpus = augEmb(s, d)
      val base = corpus.where(col("vec_id") < 10000)
      val batch = corpus.where(col("vec_id") >= 10000)
      // the persisted artifacts a deployment holds from the prior round
      val cents = graft.operators.Clustering.kmeansCentroidsD(base, 8, 3)
      val baseAsg = Ckpt.eager(
        graft.operators.Clustering.assignVecWithCentroids(base, cents))
      val baseComp = Closure.components(
        Dedup.assignmentDupPairs(baseAsg, 0.95).select("id1", "id2"))
      Dedup.extendSemanticDeduped(corpus, "vec_id", baseAsg, baseComp,
          batch, cents, tau = 0.95)
        .select(col("vec_id").cast("long").as("vec_id"))
        .orderBy("vec_id")
    }),

    // Q65: cross-corpus (incremental) dedup — the augmented rows
    // (ids >= 10000: synthetic near-dups + exact copies) play the
    // INCOMING batch, the raw corpus the kept side; the oracle replays
    // the uncollapsed self-join chain restricted to cross-side pairs.
    "q65_cross_dedup" -> ((s, d) => {
      val aug = augDocs(s, d)
      Dedup.crossNearDupPairs(
          aug.where(col("doc_id") >= 10000),
          aug.where(col("doc_id") < 10000),
          "doc_id", "text", tau = 0.5)
        .select(col("new_id"), col("existing_id"),
          r4(col("jaccard")).as("jaccard"))
        .orderBy("new_id", "existing_id")
    }),

    // Q117: INCREMENTAL component maintenance — the q111 discipline for
    // the MinHash family: the raw corpus's persisted (id, component)
    // assignment extends with ONLY the appended rows' new edges
    // (batch-internal pairs + q65's cross-corpus pairs); the base
    // corpus is never re-banded. Shares q42's from-scratch closure
    // oracle VERBATIM — hash equality IS incremental ≡ from-scratch.
    "q117_incremental_components" -> ((s, d) => {
      val aug = augDocs(s, d)
      val base = aug.where(col("doc_id") < 10000)
      val batch = aug.where(col("doc_id") >= 10000)
      // extendComponents materializes its result, so the scope frees the
      // base artifact and the pair pins once it returns
      Ckpt.scope {
        // the persisted artifact a deployment holds from the prior round
        val baseAsg = Closure.components(
          Dedup.nearDupPairs(base, "doc_id", "text", tau = 0.5))
        val newEdges = Dedup
          .nearDupPairs(batch, "doc_id", "text", tau = 0.5)
          .select(col("id1"), col("id2"))
          .unionByName(Dedup.crossNearDupPairs(batch, base,
              "doc_id", "text", tau = 0.5)
            .select(col("existing_id").as("id1"), col("new_id").as("id2")))
        Dedup.extendComponents(baseAsg, newEdges)
      }.select(col("id").as("doc_id"), col("component"))
        .orderBy("doc_id")
    }),

    // Q121: the DURABLE MinHashDedupStore driven end to end — q117's
    // compute path behind its deployment packaging: init the store on
    // the base slice (persisting the signature artifact + from-scratch
    // closure as epoch 0), append the batch (batch-only banding against
    // the STORED signature frame — base text never re-shingles), then
    // read the maintained assignment back from the epoch chain. Shares
    // q42's from-scratch closure oracle VERBATIM — hash equality proves
    // the PERSISTED artifact chain (epoch commits, delta resolution),
    // not just the in-memory compute, equals from-scratch over the
    // union.
    "q121_minhash_store" -> ((s, d) => {
      val aug = augDocs(s, d)
      val root = java.nio.file.Files
        .createTempDirectory("graft_q121").toString + "/store"
      val st = graft.api.MinHashDedupStore.init(s, root,
        aug.where(col("doc_id") < 10000), tau = 0.5)
      st.append(aug.where(col("doc_id") >= 10000))
      graft.api.MinHashDedupStore.open(s, root, 0.5).components
        .select(col("id").cast("long").as("doc_id"), col("component"))
        .orderBy("doc_id")
    }),

    // Q122: ADVERSARIAL store-family robustness — the five-store
    // CurationDB facade driven through an interleaved epoch history
    // (init → append → minhash.compact() + semantic.retrain() between
    // facade epochs → append → append), then read COLD at a HISTORICAL
    // facade epoch (2) whose recorded member epochs differ from the
    // facade count, through the recorded member-epoch vector. The
    // oracle replays the composed filter from scratch over exactly the
    // epoch-2 corpus: minhash closure + simhash-hamming closure +
    // fuzzy-key rep survival + the RETRAINED-generation semantic chain
    // (centroids trained on the pre-retrain slice, frozen-extended —
    // the q119 theorem) — converting the FaultSweep/time-travel
    // guarantees into one driver-checked row set.
    "q122_curation_store_epochs" -> ((s, d) => {
      import graft.api.CurationDB
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
      val corp = Ckpt.eager(
        docs.join(emb, docs("doc_id") === emb("vec_id"))
          .select(col("doc_id"), col("text"),
            trim(substring(lower(regexp_replace(col("text"),
              "[^A-Za-z0-9 ]", "")), 1, 24)).as("key"),
            col("embedding")))
      val mx = corp.agg(max(col("doc_id"))).head.getLong(0)
      val c1 = mx * 5 / 10
      val c2 = mx * 7 / 10
      val c3 = mx * 9 / 10
      val root = java.nio.file.Files
        .createTempDirectory("graft_q122").toString + "/db"
      val cfg = CurationDB.Config(nCells = 8, maxStaleFrac = 10.0)
      val db = CurationDB.init(s, root,
        corp.where(col("doc_id") <= c1), cfg)
      db.append(corp.where(col("doc_id") > c1 && col("doc_id") <= c2))
      // interleaved member maintenance across two stores: the minhash
      // member folds its epoch chain, the semantic member re-freezes
      db.minhash.compact()
      db.semantic.retrain(nCells = 8)
      db.append(corp.where(col("doc_id") > c2 && col("doc_id") <= c3))
      db.append(corp.where(col("doc_id") > c3))
      // cold reopen, then the historical read: facade epoch 2 resolves
      // each member at its RECORDED epoch (≠ 2 for the maintained ones)
      val db2 = CurationDB.open(s, root, cfg)
      db2.keptAt(2L, corp.select("doc_id"))
        .select(col("doc_id").cast("long").as("doc_id"))
        .orderBy("doc_id")
    }),

    // SimHash per doc (bulk explode+agg form — codegen'd).
    "q24_simhash" -> ((s, d) =>
      Dedup.simhashes(augDocs(s, d), "doc_id", "text")
        .withColumnRenamed("_id", "doc_id")
        .orderBy("doc_id")),

    // SimHash near-dup pairs by Hamming distance — banded LSH join,
    // pigeonhole-exact vs the oracle's brute-force formulation.
    "q24b_simhash_pairs" -> ((s, d) =>
      Dedup.simhashPairs(augDocs(s, d), "doc_id", "text", maxHamming = 3)
        .orderBy("id1", "id2")),

    // Embedding-cosine near-dup, exact brute-force baseline.
    "q25_neardup_embedding" -> ((s, d) =>
      Dedup.embeddingNearDup(augEmb(s, d), "vec_id", "embedding", 0.95)
        .select(col("id1"), col("id2"), r4(col("cosine")).as("cosine"))
        .orderBy("id1", "id2")),

    // Q91: SEMANTIC decontamination — corpus vectors whose cosine vs ANY
    // eval-suite vector >= 0.95 (the paraphrase/re-encode leakage class
    // q53's gram probe cannot see). Eval suite = the vec_id % 25 == 0
    // originals; corpus = the augmented frame, so the jittered +10000
    // copies are GUARANTEED contaminated (cos ~0.9997 with their eval
    // original) beside the self-matches at cos 1.0.
    "q91_semantic_decontam" -> ((s, d) =>
      Dedup.semanticContaminated(augEmb(s, d),
          Tables.embeddings(s, d)
            .where(pmod(col("vec_id"), lit(25)) === 0)
            .select("vec_id", "embedding"),
          tau = 0.95)
        .select(col("vec_id"), col("n_eval_hits"),
          r4(col("max_cos")).as("max_cos"))
        .orderBy("vec_id")),

    // Embedding near-dup via hyperplane-LSH buckets (the scale path).
    "q26_neardup_lsh" -> ((s, d) =>
      Dedup.nearDupPairsLsh(augEmb(s, d), "vec_id", "embedding", 0.95)
        .select(col("id1"), col("id2"), r4(col("cosine")).as("cosine"))
        .orderBy("id1", "id2")),

    // Multi-table variant: candidates unioned over 2 independent 6-bit
    // tables — the recall configuration for large corpora (a near pair is
    // missed only if BOTH tables split it).
    "q26b_neardup_lsh_multi" -> ((s, d) =>
      Dedup.nearDupPairsLshMulti(augEmb(s, d), "vec_id", "embedding", 0.95,
          nBits = 6, nTables = 2)
        .select(col("id1"), col("id2"), r4(col("cosine")).as("cosine"))
        .orderBy("id1", "id2")),

    // Q26c: the PRODUCTION-SIZED variant of q26b — nBits derived from the
    // actual corpus count (Dedup.autoBits, exact-integer ceil-log2), the
    // sizing that kills the Σ bucket² creep the 100× probe measured at
    // q26b's pinned 6 bits. Auto-sizing is still oracle-DETERMINISTIC:
    // it is a pure function of the corpus count, so the oracle derives
    // the identical bit count in SQL (length(bin(buckets-1))) and replays
    // the same hyperplanes g = table·nBits + j. targetBucketSize 64 keeps
    // the sizing responsive at driver fixture scales (1024 would clamp to
    // the 4-bit floor everywhere below 16k rows).
    "q26c_neardup_lsh_auto" -> ((s, d) =>
      Dedup.nearDupPairsLshAuto(augEmb(s, d), "vec_id", "embedding", 0.95,
          nTables = 2, targetBucketSize = 64L)
        .select(col("id1"), col("id2"), r4(col("cosine")).as("cosine"))
        .orderBy("id1", "id2")),

    // Pairs -> CLUSTERS: connected components over the q23b near-dup pair
    // graph (transitive closure; component = min reachable id). At
    // oracle scale the pairs fit under the closure's local cap, so this
    // is the driver-side union-find route. The oracle replays the
    // closure with a recursive label-propagation CTE.
    "q42_dedup_components" -> ((s, d) => {
      val pairs = Dedup.nearDupPairs(augDocs(s, d), "doc_id", "text",
        tau = 0.5)
      Closure.components(pairs)
        .select(col("id").as("doc_id"), col("component"))
        .orderBy("doc_id")
    }),

    // The same closure forced onto its distributed route (local cap 0:
    // the large-star/small-star loop) — identical output, so it shares
    // q42's oracle verbatim and hash-checks the star loop at any scale.
    "q42b_dedup_components_star" -> ((s, d) => {
      val pairs = Dedup.nearDupPairs(augDocs(s, d), "doc_id", "text",
        tau = 0.5)
      Closure.components(pairs, localMaxEdges = 0)
        .select(col("id").as("doc_id"), col("component"))
        .orderBy("doc_id")
    }),

    // Q108: leakage-safe split assignment — every near-dup CLUSTER of
    // the q42 pair graph lands whole in one split (the dedup-before-
    // split rule); unpaired docs draw as the naive q82 assignment
    // would. Oracle = the q42 recursive closure + the q82 CASE draw on
    // the component representative.
    "q108_split_leakage_safe" -> ((s, d) => {
      val docs = augDocs(s, d)
      val pairs = Dedup.nearDupPairs(docs, "doc_id", "text", tau = 0.5)
      graft.operators.Pipeline.assignSplitLeakageSafe(docs, pairs)
        .select(col("doc_id"), col("rep"), col("split"))
        .orderBy("doc_id")
    }),

    // Near-dup pairs over the exact-dup-HEAVY corpus with the collapse
    // branch FORCED: the engine bands one representative per
    // byte-identical group and expands afterwards; the oracle bands every
    // member. Hash equality proves the collapse is output-identical on the
    // corpus shape it exists for. (`Some(true)` because the probe would
    // choose the direct path here — heavy groups are 5 members, below the
    // crawl-scale threshold — and this query exists to witness the
    // collapse branch against the uncollapsed oracle.)
    "q50_dedup_exact_heavy" -> ((s, d) =>
      Dedup.nearDupPairs(heavyDocs(s, d), "doc_id", "text", tau = 0.5,
          collapseExactDups = Some(true))
        .select(col("id1"), col("id2"), r4(col("jaccard")).as("jaccard"))
        .orderBy("id1", "id2")),

    // Q71: repeated-span REMOVAL (the acting half of q57's reporting —
    // Lee et al. 2022 drop all but one occurrence of every duplicated
    // span): 16-token tiles, canonical occurrence = least
    // (doc_id, tile); exact copies lose their full text tile-by-tile to
    // the original, near-dup copies realign after the dropped first
    // token and keep theirs. Output text is rebuilt in token space.
    "q71_span_dedup" -> ((s, d) =>
      TextAnalysis.spanDeduped(augDocs(s, d), window = 16)
        .orderBy("doc_id")),

    // The cluster-exact deduplicated corpus: drop every non-minimum
    // member of each q42 component, keep everything unpaired.
    "q45_dedup_corpus_cc" -> ((s, d) => {
      val docs = augDocs(s, d)
      val pairs = Dedup.nearDupPairs(docs, "doc_id", "text", tau = 0.5)
      Dedup.dedupedCorpusCC(docs, "doc_id", pairs)
        .select(col("doc_id").cast("long").as("doc_id"))
        .orderBy("doc_id")
    }),

    // Q83: quality-aware canonical selection — q45's closure with the
    // production KEEP policy: each near-dup component keeps its
    // highest-margin member (exact µ-unit long margins, the q60 weight
    // chain), ties to the lowest id; singletons keep themselves. The
    // oracle replays closure + margin formula + a per-component
    // best-rank window.
    "q83_canonical_dedup" -> ((s, d) => {
      val docs = augDocs(s, d)
        .withColumn("margin_q", QualityModels.marginExpr(col("text")))
      val pairs = Dedup.nearDupPairs(docs, "doc_id", "text", tau = 0.5)
      Dedup.canonicalByQuality(docs, "doc_id", "margin_q", pairs)
        .orderBy("doc_id")
    }),

    // Q113: EXACT edit-distance-≤1 title pairs via symmetric single-
    // deletion signatures (SymSpell blocking) — a COMPLETE candidate
    // generator, unlike LSH banding: a substitution at p shares both
    // sides' p-deletion variant, an insert/delete shares the longer
    // side's deletion. The oracle replays variant generation with a
    // lateral positions table; engine and oracle both join on the
    // variant string, and the same levenshtein verification closes the
    // chain.
    "q113_fuzzy_key_pairs" -> ((s, d) =>
      Dedup.fuzzyKeyPairs(fuzzKeys(s, d), "key", "doc_id")
        .orderBy("rep_a", "rep_b")),

    // Q113b: the distance-≤2 tier (deletes of up to TWO characters —
    // still a complete candidate cover, ~len²/2 variants per distinct
    // key): catches the substitute+delete compound fuzz the +30000/+40000
    // tiers create on shared-prefix keys, which d=1 provably cannot pair.
    "q113b_fuzzy_key_pairs_d2" -> ((s, d) =>
      Dedup.fuzzyKeyPairs(fuzzKeys(s, d), "key", "doc_id", maxEdit = 2)
        .orderBy("rep_a", "rep_b")),

    // Q114: canonical fuzzy-title clusters — connected components over
    // the q113 pair graph (edges rep_a—rep_b), min-id labels; the
    // dedup decision a curation pass acts on.
    "q114_fuzzy_clusters" -> ((s, d) => {
      val pairs = Dedup.fuzzyKeyPairs(fuzzKeys(s, d), "key", "doc_id")
        .select(col("rep_a").as("id1"), col("rep_b").as("id2"))
      Closure.components(pairs)
        .select(col("id").as("doc_id"), col("component"))
        .orderBy("doc_id")
    }),

    // Q114b: the ACTING half of q114 (the q45 pattern for the fuzzy
    // family): the fuzzy-deduped key corpus — drop every distinct key
    // whose rep is a non-minimum member of a q114 cluster, keep
    // unpaired keys; cnt carries the collapsed exact-dup mass each
    // surviving key represents.
    "q114b_fuzzy_dedup_keys" -> ((s, d) => {
      val fk = fuzzKeys(s, d)
      val keys = fk.where(length(col("key")) > 0)
        .groupBy("key")
        .agg(min(col("doc_id").cast("long")).as("rep"),
          count(lit(1)).as("cnt"))
      val pairs = Dedup.fuzzyKeyPairs(fk, "key", "doc_id")
        .select(col("rep_a").as("id1"), col("rep_b").as("id2"))
      Dedup.dedupedCorpusCC(keys, "rep", pairs)
        .select(col("rep"), col("key"), col("cnt"))
        .orderBy("rep")
    }),

    // Q120: INCREMENTAL fuzzy-cluster maintenance — the q117 discipline
    // for the SymSpell family: the un-fuzzed base tier's persisted
    // artifacts (variant index + component assignment) extend with ONLY
    // the fuzz tiers' new-key edges (extendFuzzyKeyPairs: batch variants
    // join the STORED index; base variants are never re-derived, base
    // keys never re-joined). Shares q114's from-scratch closure oracle
    // VERBATIM — hash equality is incremental ≡ from-scratch over the
    // union.
    "q120_incremental_fuzzy_clusters" -> ((s, d) => {
      val fk = fuzzKeys(s, d)
      val base = fk.where(col("doc_id") < 30000)
      val batch = fk.where(col("doc_id") >= 30000)
      // extendComponents materializes its result, so the scope frees the
      // base artifacts once it returns
      Ckpt.scope {
        // the persisted artifacts a deployment holds from the prior round
        val baseIdx = Ckpt.eager(
          Dedup.fuzzyVariantIndex(base, "key", "doc_id"))
        val baseAsg = Closure.components(
          Dedup.fuzzyKeyPairs(base, "key", "doc_id")
            .select(col("rep_a").as("id1"), col("rep_b").as("id2")))
        val newPairs = Dedup.extendFuzzyKeyPairs(baseIdx, batch,
            "key", "doc_id")
          .select(col("rep_a").as("id1"), col("rep_b").as("id2"))
        Dedup.extendComponents(baseAsg, newPairs)
      }.select(col("id").as("doc_id"), col("component"))
        .orderBy("doc_id")
    })
  )

  // ---- oracle SQL ----

  private[queries] val augDocsSql =
    """aug AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 10000, regexp_replace(text, '^\S+\s+', '')
      |  FROM documents WHERE doc_id % 25 = 0
      |  UNION ALL
      |  SELECT doc_id + 20000, text FROM documents WHERE doc_id % 50 = 0)""".stripMargin

  /** [[heavyDocs]] in SQL — still named `aug` so [[minhashChainSql]]
    * composes unchanged (the chain is the UNCOLLAPSED formulation: every
    * group member bands; e² candidates per group are fine at oracle
    * scale). */
  private val augHeavySql =
    augDocsSql.dropRight(1) + """
      |  UNION ALL
      |  SELECT doc_id + 30000, text FROM documents WHERE doc_id % 50 = 0
      |  UNION ALL
      |  SELECT doc_id + 40000, text FROM documents WHERE doc_id % 50 = 0
      |  UNION ALL
      |  SELECT doc_id + 50000, text FROM documents WHERE doc_id % 50 = 0)""".stripMargin

  private val augEmbSql =
    """aug AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 10000, list_transform(range(0, 64), i ->
      |    CAST(CAST(embedding[i+1] AS DOUBLE)
      |      + (CASE WHEN i % 16 = 0 THEN CAST(0.01 AS DOUBLE)
      |              ELSE CAST(0.0 AS DOUBLE) END) AS REAL)) AS embedding
      |  FROM embeddings WHERE vec_id % 25 = 0)""".stripMargin

  private val tokHash =
    "CAST(concat('0x', substr(md5(t), 1, 14)) AS BIGINT)"

  /** The q23b MinHash+LSH+Jaccard chain (tokenize → shingle-hash →
    * 16-way signature → 4-band buckets → candidate pairs → true Jaccard),
    * shared verbatim by q23b and the q42 component closure. Ends with
    * `jac(id1, id2, jaccard)` — unfiltered; consumers apply the tau. */
  private val minhashChainSql =
    """tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      |       FROM aug),
      |sh AS (SELECT doc_id, list_transform(range(1, len(toks) - 1), i ->
      |         CAST(concat('0x', substr(md5(
      |           concat(toks[i], ' ', toks[i+1], ' ', toks[i+2])), 1, 14))
      |           AS BIGINT) % 2147483647) AS h
      |       FROM tk WHERE len(toks) >= 3),
      |sg AS (SELECT doc_id, h, list_transform(range(0, 16), j ->
      |         list_min(list_transform(h, x ->
      |           (((637543 + 104729 * j) % 2147483647) * x
      |            + ((389287 + 982451 * j) % 2147483647)) % 2147483647)))
      |         AS sig
      |       FROM sh),
      |bd AS (SELECT doc_id, bb.band,
      |         md5(array_to_string(list_transform(
      |           list_slice(sig, bb.band * 4 + 1, bb.band * 4 + 4),
      |           v -> CAST(v AS VARCHAR)), ',')) AS bh
      |       FROM sg, (SELECT unnest(range(0, 4)) AS band) bb),
      |cand AS (SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2
      |         FROM bd l JOIN bd r ON l.band = r.band AND l.bh = r.bh
      |           AND l.doc_id < r.doc_id),
      |jac AS (SELECT c.id1, c.id2,
      |    CAST(len(list_filter(list_distinct(h1.h),
      |      x -> list_contains(list_distinct(h2.h), x))) AS DOUBLE)
      |    / CAST(len(list_distinct(h1.h)) + len(list_distinct(h2.h))
      |      - len(list_filter(list_distinct(h1.h),
      |          x -> list_contains(list_distinct(h2.h), x))) AS DOUBLE)
      |      AS jaccard
      |  FROM cand c JOIN sh h1 ON h1.doc_id = c.id1
      |  JOIN sh h2 ON h2.doc_id = c.id2)""".stripMargin

  /** Normalized (float-cast) vectors CTE over `aug`, as in q15. */
  private val normEmbSql =
    """nv AS (
      |  SELECT vec_id, list_transform(range(0, 64), i ->
      |    CAST(CAST(embedding[i+1] AS DOUBLE)
      |      / sqrt(list_sum(list_transform(range(0, 64), j ->
      |          CAST(embedding[j+1] AS DOUBLE) * CAST(embedding[j+1] AS DOUBLE))))
      |      AS REAL)) AS v
      |  FROM aug
      |  WHERE sqrt(list_sum(list_transform(range(0, 64), j ->
      |    CAST(embedding[j+1] AS DOUBLE) * CAST(embedding[j+1] AS DOUBLE)))) > 0)""".stripMargin

  private val cosSql =
    """list_sum(list_transform(range(0, 64), i ->
      |      CAST(a.v[i+1] AS DOUBLE) * CAST(b.v[i+1] AS DOUBLE)))""".stripMargin

  private def simhashBitsSql: String = (0 until Dedup.SimhashBits).map { j =>
    s"(CASE WHEN list_sum(list_transform(th, h -> CASE WHEN (h >> $j) % 2 = 1 THEN 1 ELSE -1 END)) > 0 THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
  }.mkString(" + ")

  private def bucketBitsSql(v: String, nBits: Int = 8,
                            table: Int = 0): String = (0 until nBits).map { j =>
    val g = table * nBits + j
    s"""(CASE WHEN list_sum(list_transform(range(0, 64), i ->
       |      CAST($v[i+1] AS DOUBLE)
       |      * (CAST((73 * i + ${179 * g + 11}) % 97 AS DOUBLE) / 97.0 - 0.5)))
       |    > 0 THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)""".stripMargin
  }.mkString(" + ")

  /** The q74/q74b audio-fingerprint CTEs: sample-deviation formula →
    * exact integer window energies → 56 energy-delta comparisons →
    * `ah(id, sh)`. MATERIALIZED for the same 2-consumer reason as the
    * image chain below. */
  private val audioHashSql: String =
    """px AS (
      |  SELECT d.doc_id AS id, t.range // 32 AS k,
      |    (CASE WHEN t.range % 2 = 0 THEN 1 ELSE -1 END) *
      |    ((3 * (t.range // 32) + 5 * (d.doc_id % 25)
      |      + (t.range // 32) * (d.doc_id % 25)) % 17
      |     + (CASE WHEN (d.doc_id // 25) % 7 > 0
      |             AND t.range // 32 = (d.doc_id // 25) % 7
      |        THEN 1 ELSE 0 END)) AS dv
      |  FROM documents d, range(0, 1824) t),
      |en AS (SELECT id, k,
      |    SUM(CAST(dv AS BIGINT) * CAST(dv AS BIGINT)) AS e
      |  FROM px GROUP BY id, k),
      |el AS (SELECT id, list(e ORDER BY k) AS es FROM en GROUP BY id),
      |ah AS MATERIALIZED (
      |  SELECT id, list_sum(list_transform(range(0, 56), j ->
      |    CASE WHEN es[j+2] > es[j+1]
      |      THEN (CAST(1 AS BIGINT) << CAST(j AS INTEGER))
      |      ELSE CAST(0 AS BIGINT) END)) AS sh
      |  FROM el)""".stripMargin

  /** The q75/q75b video-fingerprint CTEs: pixel formula over the SAMPLED
    * frames (t % 2 = 0 → t ∈ {0,2,4} of 6 — the oracle replays the
    * frame-sampling knob, not just the hash) → per-frame 4×4 cell sums →
    * per-frame 56 dHash comparisons → strict-majority vote across the 3
    * sampled frames → `vh(id, sh)`. Grayscale cancels the ×1000 luma
    * scale, and all cells hold 16 pixels, so raw-value sums compare
    * exactly like the engine's cross-multiplied luma means.
    * MATERIALIZED for the same 2-consumer reason as the image chain. */
  private val videoHashSql: String =
    """vpx AS (
      |  SELECT doc_id AS id, t.range AS t, x.range AS x, y.range AS y,
      |    (3 * x.range + 5 * y.range + 7 * (doc_id % 25)
      |      + x.range * y.range + 2 * t.range * x.range
      |      + CASE WHEN x.range < 2 AND t.range < 4
      |             THEN (doc_id // 25) % 7 ELSE 0 END) % 256 AS v
      |  FROM documents, range(0, 6) t, range(0, 32) x, range(0, 32) y
      |  WHERE t.range % 2 = 0),
      |vcells AS (SELECT id, t, x // 4 AS kx, y // 4 AS ky,
      |    CAST(sum(v) AS BIGINT) AS s
      |  FROM vpx GROUP BY id, t, kx, ky),
      |vbits AS (SELECT a.id, a.t, a.ky * 7 + a.kx AS b,
      |    CASE WHEN n.s > a.s THEN 1 ELSE 0 END AS bit
      |  FROM vcells a JOIN vcells n
      |    ON n.id = a.id AND n.t = a.t AND n.ky = a.ky
      |    AND n.kx = a.kx + 1
      |  WHERE a.kx < 7),
      |vmaj AS (SELECT id, b,
      |    CASE WHEN 2 * sum(bit) > 3 THEN 1 ELSE 0 END AS bit
      |  FROM vbits GROUP BY id, b),
      |vh AS MATERIALIZED (SELECT id,
      |    CAST(sum(bit * (CAST(1 AS BIGINT) << CAST(b AS INTEGER)))
      |      AS BIGINT) AS sh
      |  FROM vmaj GROUP BY id)""".stripMargin

  /** The q69/q69b image-hash CTEs: pixel formula → 4×4 cell sums → 56
    * dHash comparisons → `h(id, sh)`. MATERIALIZED: `h` feeds the pair
    * self-join (2 refs) and the closure chain in q69b. */
  private val imageHashSql: String =
    """px AS (
      |  SELECT doc_id AS id, x.range AS x, y.range AS y,
      |    (3 * x.range + 5 * y.range + 7 * (doc_id % 25)
      |      + x.range * y.range
      |      + CASE WHEN x.range < 2 THEN (doc_id // 25) % 7 ELSE 0 END)
      |      % 256 AS v
      |  FROM documents, range(0, 32) x, range(0, 32) y),
      |cells AS (SELECT id, x // 4 AS kx, y // 4 AS ky,
      |    CAST(sum(v) AS BIGINT) AS s
      |  FROM px GROUP BY id, kx, ky),
      |bits AS (SELECT a.id, a.ky * 7 + a.kx AS b,
      |    CASE WHEN n.s > a.s THEN 1 ELSE 0 END AS bit
      |  FROM cells a JOIN cells n
      |    ON n.id = a.id AND n.ky = a.ky AND n.kx = a.kx + 1
      |  WHERE a.kx < 7),
      |h AS MATERIALIZED (SELECT id,
      |    CAST(sum(bit * (CAST(1 AS BIGINT) << b)) AS BIGINT) AS sh
      |  FROM bits GROUP BY id)""".stripMargin

  /** The shared modality-closure oracle: brute-force Hamming pairs over
    * a fingerprint CTE (pigeonhole banding is exact, so brute force
    * replays it), the recursive label-prop closure, one kept doc per
    * component. Shared verbatim by each modality's from-scratch query
    * (q69b/q74b/q75b) AND its incremental twin (q118 family) — the
    * q42/q117 discipline. */
  private def hashClosureSql(hashCte: String, alias: String): String =
    s"""WITH RECURSIVE $hashCte,
      |pr AS (SELECT a.id AS id1, b.id AS id2
      |  FROM $alias a JOIN $alias b ON a.id < b.id
      |  WHERE bit_count(xor(a.sh, b.sh)) <= 3),
      |e AS (SELECT id1 AS s, id2 AS t FROM pr
      |      UNION SELECT id2, id1 FROM pr),
      |reach AS (
      |  SELECT s AS id, s AS lab FROM e
      |  UNION
      |  SELECT e.t AS id, r.lab FROM reach r JOIN e ON e.s = r.id),
      |drp AS (SELECT id FROM reach GROUP BY id
      |        HAVING id <> min(lab))
      |SELECT CAST(d.doc_id AS BIGINT) AS doc_id
      |FROM documents d LEFT JOIN drp ON drp.id = d.doc_id
      |WHERE drp.id IS NULL
      |ORDER BY doc_id""".stripMargin

  private lazy val imageClosureSql = hashClosureSql(imageHashSql, "h")
  private lazy val audioClosureSql = hashClosureSql(audioHashSql, "ah")
  private lazy val videoClosureSql = hashClosureSql(videoHashSql, "vh")

  /** The q42-style recursive closure over the q113 pair graph — shared
    * verbatim by q114 (from-scratch) and q120 (incremental extension). */
  private lazy val fuzzyClusterSql: String =
    s"""WITH RECURSIVE ${fuzzPairsSql(1)},
      |e AS (SELECT rep_a AS s, rep_b AS t FROM fp
      |      UNION SELECT rep_b, rep_a FROM fp),
      |reach AS (
      |  SELECT s AS id, s AS lab FROM e
      |  UNION
      |  SELECT e.t AS id, r.lab FROM reach r JOIN e ON e.s = r.id)
      |SELECT CAST(id AS BIGINT) AS doc_id,
      |  CAST(min(lab) AS BIGINT) AS component
      |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin

  /** q113/q114 shared chain: [[fuzzKeys]] + distinct-key collapse +
    * symmetric ≤d-deletion variants + levenshtein-verified pairs, d
    * parameterized (1 for q113/q114, 2 for q113b).
    * `regexp_replace(..., 'g')`: DuckDB defaults to first-occurrence
    * replacement, Spark to global. */
  private def fuzzPairsSql(maxEdit: Int): String = {
    // NOTE: no line below may START with '||' — the outer template's
    // stripMargin would eat it as a margin char (concatenation operators
    // stay at end-of-line)
    val del2 =
      if (maxEdit < 2) ""
      else """
        |  UNION ALL
        |  SELECT rep, key, cnt,
        |    substr(key, 1, i - 1) || substr(key, i + 1, j - i - 1) ||
        |      substr(key, j + 1) AS var
        |  FROM ks
        |  CROSS JOIN LATERAL
        |    (SELECT unnest(range(1, length(key))) AS i) p1
        |  CROSS JOIN LATERAL
        |    (SELECT unnest(range(i + 1, length(key) + 1)) AS j) p2"""
          .stripMargin
    s"""base AS (
      |  SELECT doc_id, trim(substr(lower(regexp_replace(text,
      |    '[^A-Za-z0-9 ]', '', 'g')), 1, 24)) AS key FROM documents),
      |fz AS (
      |  SELECT doc_id, key FROM base
      |  UNION ALL
      |  SELECT doc_id + 30000,
      |    substr(key, 1, p - 1) || 'z' || substr(key, p + 1)
      |  FROM (SELECT doc_id, key, doc_id % 12 + 2 AS p FROM base
      |        WHERE doc_id % 10 = 0)
      |  UNION ALL
      |  SELECT doc_id + 40000, substr(key, 1, p - 1) || substr(key, p + 1)
      |  FROM (SELECT doc_id, key, doc_id % 12 + 2 AS p FROM base
      |        WHERE doc_id % 15 = 0)),
      |ks AS (
      |  SELECT key, min(doc_id) AS rep, count(*) AS cnt FROM fz
      |  WHERE length(key) > 0 GROUP BY key),
      |v AS (
      |  SELECT rep, key, cnt, key AS var FROM ks
      |  UNION ALL
      |  SELECT rep, key, cnt,
      |    substr(key, 1, i - 1) || substr(key, i + 1) AS var
      |  FROM ks CROSS JOIN LATERAL
      |    (SELECT unnest(range(1, length(key) + 1)) AS i) pos$del2),
      |fp AS (
      |  SELECT DISTINCT a.rep AS rep_a, b.rep AS rep_b, a.key AS key_a,
      |    b.key AS key_b, a.cnt AS cnt_a, b.cnt AS cnt_b
      |  FROM v a JOIN v b ON a.var = b.var AND a.rep < b.rep
      |  WHERE levenshtein(a.key, b.key) <= $maxEdit)""".stripMargin
  }

  /** DuckDB closure of the q23b pair graph — the shared q42/q42b oracle. */
  private lazy val ccClosureSql: String =
    s"""WITH RECURSIVE $augDocsSql,
      |$minhashChainSql,
      |pr AS (SELECT id1, id2 FROM jac WHERE jaccard >= 0.5),
      |e AS (SELECT id1 AS s, id2 AS t FROM pr
      |      UNION SELECT id2, id1 FROM pr),
      |reach AS (
      |  SELECT s AS id, s AS lab FROM e
      |  UNION
      |  SELECT e.t AS id, r.lab FROM reach r JOIN e ON e.s = r.id)
      |SELECT CAST(id AS BIGINT) AS doc_id,
      |  CAST(min(lab) AS BIGINT) AS component
      |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin

  val oracle: Map[String, String] = Map(
    "q23_dedup_exact_groups" ->
      s"""WITH $augDocsSql
        |SELECT md5(text) AS text_hash, count(*) AS dup_cnt,
        |  min(doc_id) AS keep_doc, max(doc_id) AS drop_doc
        |FROM aug GROUP BY md5(text) HAVING count(*) > 1
        |ORDER BY text_hash""".stripMargin,

    // q69: pixel formula -> 4x4 cell sums -> 56 dHash comparisons ->
    // brute-force Hamming pairs (banding is pigeonhole-exact, so brute
    // force replays it). Grayscale cancels the x1000 luma scale.
    "q69_image_dedup" ->
      s"""WITH $imageHashSql
        |SELECT a.id AS id1, b.id AS id2,
        |  CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
        |FROM h a JOIN h b ON a.id < b.id
        |WHERE bit_count(xor(a.sh, b.sh)) <= 3
        |ORDER BY id1, id2""".stripMargin,

    // q74: the audio chain replayed from the sample formula — signed
    // deviation dv(t) = (−1)^t · a(k, p, q), exact integer window
    // energies Σ dv², 56 energy-delta comparisons into the fingerprint,
    // brute-force Hamming pair check (= the pigeonhole-banded engine
    // output, as with q69's image hashes)
    "q74_audio_dedup" ->
      s"""WITH $audioHashSql
        |SELECT a.id AS id1, b.id AS id2,
        |  CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
        |FROM ah a JOIN ah b ON a.id < b.id
        |WHERE bit_count(xor(a.sh, b.sh)) <= 3
        |ORDER BY id1, id2""".stripMargin,

    // q75: the video chain replayed from the pixel formula — sampled
    // frames, per-frame cell sums + dHash bits, strict-majority pooling,
    // brute-force Hamming pair check (= the pigeonhole-banded engine
    // output, as with q69/q74)
    "q75_video_dedup" ->
      s"""WITH $videoHashSql
        |SELECT a.id AS id1, b.id AS id2,
        |  CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
        |FROM vh a JOIN vh b ON a.id < b.id
        |WHERE bit_count(xor(a.sh, b.sh)) <= 3
        |ORDER BY id1, id2""".stripMargin,

    // q75b: the q75 pair graph closed with the recursive label-prop CTE
    // (q69b's shape on the video modality) — one kept doc per component
    "q75b_video_corpus_dedup" -> videoClosureSql,

    // q74b: the q74 pair graph closed with the recursive label-prop CTE
    // (q69b's shape on the audio modality) — one kept doc per component
    "q74b_audio_corpus_dedup" -> audioClosureSql,

    // q69b: the q69 pair graph closed with the recursive label-prop CTE
    // (q42's closure shape), one kept image per component (= the min id,
    // since labels are min reachable ids), unpaired images kept
    "q69b_image_corpus_dedup" -> imageClosureSql,

    // q118 family shares each modality's from-scratch closure oracle
    // VERBATIM (the q117 discipline): the engine extends the base half's
    // persisted assignment with only batch + cross fingerprint edges; the
    // oracle closes the full union pair graph from scratch — hash
    // equality is the incremental ≡ from-scratch theorem per modality
    "q118_incremental_image_dedup" -> imageClosureSql,
    "q118b_incremental_audio_dedup" -> audioClosureSql,
    "q118c_incremental_video_dedup" -> videoClosureSql,

    // q70: the q62 k-means replay (normalize -> 1/1024 grid -> c0 = 8
    // lowest ids -> 3 unrolled Lloyd rounds -> final argmax assignment)
    // over the AUGMENTED embeddings, then within-cell pairs with the dot
    // over the same dequantized grid vectors.
    // Unlike q23b, q70 KEEPS the collapse probe (default None): augEmb is
    // dup-light at driver fixtures (copies are perturbed) but turns
    // dup-HEAVY under replica-flood scale fixtures (byte-identical
    // embeddings, groups ~= replication factor) — the probe flipping the
    // branch at scale is exactly the production behavior the scale probe
    // exercises (BENCH_LOCAL_r07.md).
    "q70_semantic_dedup" -> {
      val pcos =
        "list_sum(list_transform(range(0, 64), i -> da.dv[i+1] * db.dv[i+1]))"
      s"""WITH $augEmbSql,
        |$normEmbSql,
        |dz AS MATERIALIZED (
        |  SELECT vec_id,
        |    list_transform(v, x ->
        |      CAST(floor(CAST(x AS DOUBLE) * 1024.0 + 0.5) AS BIGINT)) AS qv,
        |    list_transform(list_transform(v, x ->
        |      CAST(floor(CAST(x AS DOUBLE) * 1024.0 + 0.5) AS BIGINT)),
        |      q -> CAST(q AS DOUBLE) / 1024.0) AS dv
        |  FROM nv),
        |c0 AS MATERIALIZED (
        |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, dv AS cv
        |  FROM (SELECT vec_id, dv FROM dz ORDER BY vec_id LIMIT 8)),
        |${(1 to 3).map(PipelineQueries.kmeansIter).mkString(",\n")},
        |af AS MATERIALIZED (
        |  SELECT vec_id, cell FROM (
        |    SELECT d.vec_id, c.cell,
        |      row_number() OVER (PARTITION BY d.vec_id
        |        ORDER BY list_sum(list_transform(range(0, 64), i ->
        |          d.dv[i+1] * c.cv[i+1])) DESC, c.cell) AS rnk
        |    FROM dz d CROSS JOIN c3 c) x
        |  WHERE rnk = 1)
        |SELECT fa.vec_id AS id1, fb.vec_id AS id2,
        |  CAST(fa.cell AS INTEGER) AS cell, ${r4sql(pcos)} AS cosine
        |FROM af fa JOIN af fb ON fa.cell = fb.cell AND fa.vec_id < fb.vec_id
        |JOIN dz da ON da.vec_id = fa.vec_id
        |JOIN dz db ON db.vec_id = fb.vec_id
        |WHERE $pcos >= 0.95
        |ORDER BY id1, id2""".stripMargin
    },

    // q70b: q70's trainer + pair chain, then the recursive label-prop
    // closure (q42's shape) and the keep policy — per component, rank by
    // (assignment sim ASC, id ASC) and drop every rank > 1; the final
    // anti-join keeps unpaired AND zero-norm rows (they never enter the
    // assignment, so they can never be dropped — same as the engine).
    "q70b_semantic_dedup_kept" -> {
      val pcos =
        "list_sum(list_transform(range(0, 64), i -> da.dv[i+1] * db.dv[i+1]))"
      s"""WITH RECURSIVE $augEmbSql,
        |$normEmbSql,
        |dz AS MATERIALIZED (
        |  SELECT vec_id,
        |    list_transform(v, x ->
        |      CAST(floor(CAST(x AS DOUBLE) * 1024.0 + 0.5) AS BIGINT)) AS qv,
        |    list_transform(list_transform(v, x ->
        |      CAST(floor(CAST(x AS DOUBLE) * 1024.0 + 0.5) AS BIGINT)),
        |      q -> CAST(q AS DOUBLE) / 1024.0) AS dv
        |  FROM nv),
        |c0 AS MATERIALIZED (
        |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, dv AS cv
        |  FROM (SELECT vec_id, dv FROM dz ORDER BY vec_id LIMIT 8)),
        |${(1 to 3).map(PipelineQueries.kmeansIter).mkString(",\n")},
        |af AS MATERIALIZED (
        |  SELECT vec_id, cell, d AS sim FROM (
        |    SELECT d.vec_id, c.cell,
        |      list_sum(list_transform(range(0, 64), i ->
        |        d.dv[i+1] * c.cv[i+1])) AS d,
        |      row_number() OVER (PARTITION BY d.vec_id
        |        ORDER BY list_sum(list_transform(range(0, 64), i ->
        |          d.dv[i+1] * c.cv[i+1])) DESC, c.cell) AS rnk
        |    FROM dz d CROSS JOIN c3 c) x
        |  WHERE rnk = 1),
        |pr AS MATERIALIZED (
        |  SELECT fa.vec_id AS id1, fb.vec_id AS id2
        |  FROM af fa JOIN af fb ON fa.cell = fb.cell
        |    AND fa.vec_id < fb.vec_id
        |  JOIN dz da ON da.vec_id = fa.vec_id
        |  JOIN dz db ON db.vec_id = fb.vec_id
        |  WHERE $pcos >= 0.95),
        |e AS (SELECT id1 AS s, id2 AS t FROM pr
        |      UNION SELECT id2, id1 FROM pr),
        |reach AS (
        |  SELECT s AS id, s AS lab FROM e
        |  UNION
        |  SELECT e.t AS id, r.lab FROM reach r JOIN e ON e.s = r.id),
        |comp AS (SELECT id, min(lab) AS component FROM reach GROUP BY id),
        |rk AS (SELECT c.id,
        |    row_number() OVER (PARTITION BY c.component
        |      ORDER BY a.sim ASC, c.id ASC) AS rnk
        |  FROM comp c JOIN af a ON a.vec_id = c.id),
        |drp AS (SELECT id FROM rk WHERE rnk > 1)
        |SELECT CAST(v.vec_id AS BIGINT) AS vec_id
        |FROM aug v LEFT JOIN drp ON drp.id = v.vec_id
        |WHERE drp.id IS NULL
        |ORDER BY vec_id""".stripMargin
    },

    // q119: q70b's chain with the trainer restricted to the BASE slice
    // (dzb — the frozen-centroid contract: c0 seeds from the base's 8
    // lowest ids, the 3 Lloyd rounds see only base vectors) while the
    // final assignment, pairs, closure, and keep policy run over the
    // FULL union — the from-scratch replay of what the engine computes
    // incrementally from its persisted artifacts
    "q119_incremental_semantic_dedup" -> {
      val pcos =
        "list_sum(list_transform(range(0, 64), i -> da.dv[i+1] * db.dv[i+1]))"
      s"""WITH RECURSIVE $augEmbSql,
        |$normEmbSql,
        |dz AS MATERIALIZED (
        |  SELECT vec_id,
        |    list_transform(v, x ->
        |      CAST(floor(CAST(x AS DOUBLE) * 1024.0 + 0.5) AS BIGINT)) AS qv,
        |    list_transform(list_transform(v, x ->
        |      CAST(floor(CAST(x AS DOUBLE) * 1024.0 + 0.5) AS BIGINT)),
        |      q -> CAST(q AS DOUBLE) / 1024.0) AS dv
        |  FROM nv),
        |dzb AS MATERIALIZED (SELECT * FROM dz WHERE vec_id < 10000),
        |c0 AS MATERIALIZED (
        |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, dv AS cv
        |  FROM (SELECT vec_id, dv FROM dzb ORDER BY vec_id LIMIT 8)),
        |${(1 to 3).map(t => PipelineQueries.kmeansIter(t, "dzb"))
          .mkString(",\n")},
        |af AS MATERIALIZED (
        |  SELECT vec_id, cell, d AS sim FROM (
        |    SELECT d.vec_id, c.cell,
        |      list_sum(list_transform(range(0, 64), i ->
        |        d.dv[i+1] * c.cv[i+1])) AS d,
        |      row_number() OVER (PARTITION BY d.vec_id
        |        ORDER BY list_sum(list_transform(range(0, 64), i ->
        |          d.dv[i+1] * c.cv[i+1])) DESC, c.cell) AS rnk
        |    FROM dz d CROSS JOIN c3 c) x
        |  WHERE rnk = 1),
        |pr AS MATERIALIZED (
        |  SELECT fa.vec_id AS id1, fb.vec_id AS id2
        |  FROM af fa JOIN af fb ON fa.cell = fb.cell
        |    AND fa.vec_id < fb.vec_id
        |  JOIN dz da ON da.vec_id = fa.vec_id
        |  JOIN dz db ON db.vec_id = fb.vec_id
        |  WHERE $pcos >= 0.95),
        |e AS (SELECT id1 AS s, id2 AS t FROM pr
        |      UNION SELECT id2, id1 FROM pr),
        |reach AS (
        |  SELECT s AS id, s AS lab FROM e
        |  UNION
        |  SELECT e.t AS id, r.lab FROM reach r JOIN e ON e.s = r.id),
        |comp AS (SELECT id, min(lab) AS component FROM reach GROUP BY id),
        |rk AS (SELECT c.id,
        |    row_number() OVER (PARTITION BY c.component
        |      ORDER BY a.sim ASC, c.id ASC) AS rnk
        |  FROM comp c JOIN af a ON a.vec_id = c.id),
        |drp AS (SELECT id FROM rk WHERE rnk > 1)
        |SELECT CAST(v.vec_id AS BIGINT) AS vec_id
        |FROM aug v LEFT JOIN drp ON drp.id = v.vec_id
        |WHERE drp.id IS NULL
        |ORDER BY vec_id""".stripMargin
    },

    // q70c: q70b's replay with k derived from the corpus count —
    // GREATEST(2, LEAST(16384, cnt // 64)) replays Dedup.autoCells'
    // integer clamp, and the dynamic LIMIT seeds the same k lowest-id
    // init centroids; the Lloyd rounds themselves are k-independent.
    "q70c_semantic_dedup_auto" -> {
      val pcos =
        "list_sum(list_transform(range(0, 64), i -> da.dv[i+1] * db.dv[i+1]))"
      s"""WITH RECURSIVE $augEmbSql,
        |sz AS MATERIALIZED (
        |  SELECT GREATEST(2, LEAST(16384, cnt // 64)) AS k
        |  FROM (SELECT count(*) AS cnt FROM aug)),
        |$normEmbSql,
        |dz AS MATERIALIZED (
        |  SELECT vec_id,
        |    list_transform(v, x ->
        |      CAST(floor(CAST(x AS DOUBLE) * 1024.0 + 0.5) AS BIGINT)) AS qv,
        |    list_transform(list_transform(v, x ->
        |      CAST(floor(CAST(x AS DOUBLE) * 1024.0 + 0.5) AS BIGINT)),
        |      q -> CAST(q AS DOUBLE) / 1024.0) AS dv
        |  FROM nv),
        |c0 AS MATERIALIZED (
        |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, dv AS cv
        |  FROM (SELECT vec_id, dv FROM dz ORDER BY vec_id
        |        LIMIT (SELECT k FROM sz))),
        |${(1 to 3).map(PipelineQueries.kmeansIter).mkString(",\n")},
        |af AS MATERIALIZED (
        |  SELECT vec_id, cell, d AS sim FROM (
        |    SELECT d.vec_id, c.cell,
        |      list_sum(list_transform(range(0, 64), i ->
        |        d.dv[i+1] * c.cv[i+1])) AS d,
        |      row_number() OVER (PARTITION BY d.vec_id
        |        ORDER BY list_sum(list_transform(range(0, 64), i ->
        |          d.dv[i+1] * c.cv[i+1])) DESC, c.cell) AS rnk
        |    FROM dz d CROSS JOIN c3 c) x
        |  WHERE rnk = 1),
        |pr AS MATERIALIZED (
        |  SELECT fa.vec_id AS id1, fb.vec_id AS id2
        |  FROM af fa JOIN af fb ON fa.cell = fb.cell
        |    AND fa.vec_id < fb.vec_id
        |  JOIN dz da ON da.vec_id = fa.vec_id
        |  JOIN dz db ON db.vec_id = fb.vec_id
        |  WHERE $pcos >= 0.95),
        |e AS (SELECT id1 AS s, id2 AS t FROM pr
        |      UNION SELECT id2, id1 FROM pr),
        |reach AS (
        |  SELECT s AS id, s AS lab FROM e
        |  UNION
        |  SELECT e.t AS id, r.lab FROM reach r JOIN e ON e.s = r.id),
        |comp AS (SELECT id, min(lab) AS component FROM reach GROUP BY id),
        |rk AS (SELECT c.id,
        |    row_number() OVER (PARTITION BY c.component
        |      ORDER BY a.sim ASC, c.id ASC) AS rnk
        |  FROM comp c JOIN af a ON a.vec_id = c.id),
        |drp AS (SELECT id FROM rk WHERE rnk > 1)
        |SELECT CAST(v.vec_id AS BIGINT) AS vec_id
        |FROM aug v LEFT JOIN drp ON drp.id = v.vec_id
        |WHERE drp.id IS NULL
        |ORDER BY vec_id""".stripMargin
    },

    // replay of spanDedupStats: the q47 chunk-hash recipe at window 16 /
    // stride 8, full windows only, occurrence >= 2 marks a repeated span
    "q57_repeated_spans" ->
      s"""WITH $augDocsSql,
        |tk AS (SELECT doc_id,
        |    regexp_split_to_array(trim(text), '\\s+') AS toks FROM aug),
        |st AS (SELECT doc_id, toks,
        |    unnest(range(1, len(toks) + 1, 8)) AS start
        |  FROM tk WHERE len(toks) > 0),
        |sp AS (SELECT doc_id,
        |    md5(array_to_string(list_slice(toks, start, start + 15), ' '))
        |      AS h
        |  FROM st WHERE len(toks) - start + 1 >= 16),
        |rep AS (SELECT h FROM sp GROUP BY h HAVING count(*) >= 2)
        |SELECT sp.doc_id, count(*) AS n_spans,
        |  CAST(sum(CASE WHEN rep.h IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_repeated_spans,
        |  floor(CAST(sum(CASE WHEN rep.h IS NOT NULL THEN 1 ELSE 0 END)
        |      AS DOUBLE) / count(*) * 10000.0 + 0.5) / 10000.0
        |    AS repeated_frac
        |FROM sp LEFT JOIN rep USING (h)
        |GROUP BY sp.doc_id ORDER BY doc_id""".stripMargin,

    // q81: the q57 replay at step 1 (every alignment)
    "q81_repeated_spans_exact" ->
      s"""WITH $augDocsSql,
        |tk AS (SELECT doc_id,
        |    regexp_split_to_array(trim(text), '\\s+') AS toks FROM aug),
        |st AS (SELECT doc_id, toks,
        |    unnest(range(1, len(toks) + 1, 1)) AS start
        |  FROM tk WHERE len(toks) > 0),
        |sp AS (SELECT doc_id,
        |    md5(array_to_string(list_slice(toks, start, start + 15), ' '))
        |      AS h
        |  FROM st WHERE len(toks) - start + 1 >= 16),
        |rep AS (SELECT h FROM sp GROUP BY h HAVING count(*) >= 2)
        |SELECT sp.doc_id, count(*) AS n_spans,
        |  CAST(sum(CASE WHEN rep.h IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_repeated_spans,
        |  floor(CAST(sum(CASE WHEN rep.h IS NOT NULL THEN 1 ELSE 0 END)
        |      AS DOUBLE) / count(*) * 10000.0 + 0.5) / 10000.0
        |    AS repeated_frac
        |FROM sp LEFT JOIN rep USING (h)
        |GROUP BY sp.doc_id ORDER BY doc_id""".stripMargin,

    // replay of spanDeduped: 16-token tiling, canonical occurrence =
    // least (doc_id, tile) via a per-hash row_number, removal list per
    // doc, text rebuilt from the kept tiles (token space, single-space
    // joined — the engine's concat_ws contract)
    "q71_span_dedup" ->
      s"""WITH $augDocsSql,
        |tk AS (SELECT doc_id, text,
        |    regexp_split_to_array(trim(text), '\\s+') AS toks FROM aug),
        |st AS (SELECT doc_id, toks,
        |    unnest(range(1, len(toks) + 1, 16)) AS start
        |  FROM tk WHERE len(toks) > 0),
        |sp AS (SELECT doc_id, CAST((start - 1) // 16 AS INTEGER) AS chunk_id,
        |    md5(array_to_string(list_slice(toks, start, start + 15), ' '))
        |      AS h
        |  FROM st WHERE len(toks) - start + 1 >= 16),
        |mk AS (SELECT doc_id, chunk_id,
        |    row_number() OVER (PARTITION BY h ORDER BY doc_id, chunk_id)
        |      AS rn,
        |    count(*) OVER (PARTITION BY h) AS occ
        |  FROM sp),
        |rem AS (SELECT doc_id, list(chunk_id ORDER BY chunk_id) AS removed
        |  FROM mk WHERE occ >= 2 AND rn > 1 GROUP BY doc_id)
        |SELECT t.doc_id,
        |  coalesce(array_to_string(flatten(list_transform(
        |    range(1, len(t.toks) + 1, 16), s ->
        |    CASE WHEN list_contains(
        |        coalesce(rem.removed, CAST([] AS INTEGER[])),
        |        CAST((s - 1) // 16 AS INTEGER))
        |      THEN CAST([] AS VARCHAR[])
        |      ELSE list_slice(t.toks, s, s + 15) END)), ' '), '') AS text,
        |  CAST(coalesce(len(rem.removed), 0) AS BIGINT) AS n_tiles_removed,
        |  CAST(len(t.toks) AS BIGINT) AS n_tokens_before,
        |  CAST(len(t.toks) - 16 * coalesce(len(rem.removed), 0) AS BIGINT)
        |    AS n_tokens_after
        |FROM tk t LEFT JOIN rem ON rem.doc_id = t.doc_id
        |ORDER BY t.doc_id""".stripMargin,

    "q23b_dedup_minhash_lsh" ->
      s"""WITH $augDocsSql,
        |$minhashChainSql
        |SELECT id1, id2, ${r4sql("jaccard")} AS jaccard FROM jac
        |WHERE jaccard >= 0.5 ORDER BY id1, id2""".stripMargin,

    // the same UNCOLLAPSED chain; aug ids are >= 10000 exactly for the
    // synthetic rows, so the cross-side pairs are the (id1 < 10000 <= id2)
    // slice of the self-join's pair set (id1 < id2 puts the existing side
    // first)
    "q65_cross_dedup" ->
      s"""WITH $augDocsSql,
        |$minhashChainSql
        |SELECT id2 AS new_id, id1 AS existing_id,
        |  ${r4sql("jaccard")} AS jaccard FROM jac
        |WHERE jaccard >= 0.5 AND id1 < 10000 AND id2 >= 10000
        |ORDER BY new_id, existing_id""".stripMargin,

    // q23b's chain over the exact-dup-heavy corpus — uncollapsed banding
    // (every member) vs the engine's rep-collapse + expansion
    "q50_dedup_exact_heavy" ->
      s"""WITH $augHeavySql,
        |$minhashChainSql
        |SELECT id1, id2, ${r4sql("jaccard")} AS jaccard FROM jac
        |WHERE jaccard >= 0.5 ORDER BY id1, id2""".stripMargin,

    // the q23b pair graph closed into components: recursive min-label
    // propagation (reach(id, lab) = "lab reaches id"; symmetric edges make
    // reachability = component membership, min(lab) = the component id)
    "q42_dedup_components" -> ccClosureSql,

    // q117 shares the q42 from-scratch closure verbatim: the engine
    // runs the star-extension of the persisted base assignment, the
    // oracle closes the full pair graph from scratch — hash equality
    // is the incremental ≡ from-scratch theorem (the q111 discipline)
    "q117_incremental_components" -> ccClosureSql,

    // q121 shares the same closure oracle: the durable store's persisted
    // assignment (init base + append batch) must hash-equal the
    // from-scratch closure over the union's pair graph
    "q121_minhash_store" -> ccClosureSql,

    // q122: the composed five-family filter replayed FROM SCRATCH over
    // exactly the epoch-2 corpus (ids ≤ 9/10·max — the later b3 batch
    // is invisible to the historical read): minhash-closure drops +
    // simhash-hamming-closure drops + semantic drops under the
    // RETRAINED generation (centroids trained on the ≤ 7/10·max slice
    // the retrain saw, frozen-extended — the q119 theorem) + the
    // fuzzy-key rep-survival policy. The substring member rewrites text
    // but never drops a stored doc, so its contribution to the kept-ID
    // set is exactly the epoch-2 corpus membership the WHERE replays.
    "q122_curation_store_epochs" -> {
      val pcos =
        "list_sum(list_transform(range(0, 64), i -> da.dv[i+1] * db.dv[i+1]))"
      s"""WITH RECURSIVE
        |cuts AS (SELECT max(d.doc_id) * 5 // 10 AS c1,
        |    max(d.doc_id) * 7 // 10 AS c2,
        |    max(d.doc_id) * 9 // 10 AS c3
        |  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id),
        |corp AS MATERIALIZED (
        |  SELECT d.doc_id, d.text,
        |    trim(substr(lower(regexp_replace(d.text, '[^A-Za-z0-9 ]',
        |      '', 'g')), 1, 24)) AS key,
        |    e.embedding
        |  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
        |  WHERE d.doc_id <= (SELECT c3 FROM cuts)),
        |aug AS (SELECT doc_id, text FROM corp),
        |$minhashChainSql,
        |prm AS (SELECT id1, id2 FROM jac WHERE jaccard >= 0.5),
        |em AS (SELECT id1 AS s, id2 AS t FROM prm
        |       UNION SELECT id2, id1 FROM prm),
        |reachm AS (
        |  SELECT s AS id, s AS lab FROM em
        |  UNION
        |  SELECT em.t AS id, r.lab FROM reachm r JOIN em ON em.s = r.id),
        |drpm AS (SELECT id FROM reachm GROUP BY id
        |         HAVING id <> min(lab)),
        |tkh AS (SELECT doc_id,
        |  list_transform(regexp_split_to_array(trim(text), '\\s+'),
        |    t -> $tokHash) AS th FROM aug),
        |shh AS MATERIALIZED (SELECT doc_id AS id,
        |    CAST($simhashBitsSql AS BIGINT) AS sh FROM tkh),
        |prh AS (SELECT a.id AS id1, b.id AS id2
        |  FROM shh a JOIN shh b ON a.id < b.id
        |  WHERE bit_count(xor(a.sh, b.sh)) <= 3),
        |eh AS (SELECT id1 AS s, id2 AS t FROM prh
        |       UNION SELECT id2, id1 FROM prh),
        |reachh AS (
        |  SELECT s AS id, s AS lab FROM eh
        |  UNION
        |  SELECT eh.t AS id, r.lab FROM reachh r JOIN eh ON eh.s = r.id),
        |drph AS (SELECT id FROM reachh GROUP BY id
        |         HAVING id <> min(lab)),
        |ksf AS (SELECT key, min(doc_id) AS rep FROM corp
        |        WHERE length(key) > 0 GROUP BY key),
        |vf AS (
        |  SELECT rep, key, key AS var FROM ksf
        |  UNION ALL
        |  SELECT rep, key,
        |    substr(key, 1, i - 1) || substr(key, i + 1) AS var
        |  FROM ksf CROSS JOIN LATERAL
        |    (SELECT unnest(range(1, length(key) + 1)) AS i) pos),
        |fpz AS (SELECT DISTINCT a.rep AS rep_a, b.rep AS rep_b
        |  FROM vf a JOIN vf b ON a.var = b.var AND a.rep < b.rep
        |  WHERE levenshtein(a.key, b.key) <= 1),
        |ez AS (SELECT rep_a AS s, rep_b AS t FROM fpz
        |       UNION SELECT rep_b, rep_a FROM fpz),
        |reachz AS (
        |  SELECT s AS id, s AS lab FROM ez
        |  UNION
        |  SELECT ez.t AS id, r.lab FROM reachz r JOIN ez ON ez.s = r.id),
        |drpz AS (SELECT id FROM reachz GROUP BY id
        |         HAVING id <> min(lab)),
        |keprep AS (SELECT k.rep FROM ksf k
        |  LEFT JOIN drpz ON drpz.id = k.rep WHERE drpz.id IS NULL),
        |nvs AS (
        |  SELECT doc_id AS vec_id, list_transform(range(0, 64), i ->
        |    CAST(CAST(embedding[i+1] AS DOUBLE)
        |      / sqrt(list_sum(list_transform(range(0, 64), j ->
        |          CAST(embedding[j+1] AS DOUBLE)
        |          * CAST(embedding[j+1] AS DOUBLE))))
        |      AS REAL)) AS v
        |  FROM corp
        |  WHERE sqrt(list_sum(list_transform(range(0, 64), j ->
        |    CAST(embedding[j+1] AS DOUBLE)
        |    * CAST(embedding[j+1] AS DOUBLE)))) > 0),
        |dz AS MATERIALIZED (
        |  SELECT vec_id,
        |    list_transform(v, x ->
        |      CAST(floor(CAST(x AS DOUBLE) * 1024.0 + 0.5) AS BIGINT)) AS qv,
        |    list_transform(list_transform(v, x ->
        |      CAST(floor(CAST(x AS DOUBLE) * 1024.0 + 0.5) AS BIGINT)),
        |      q -> CAST(q AS DOUBLE) / 1024.0) AS dv
        |  FROM nvs),
        |dzt AS MATERIALIZED (SELECT * FROM dz
        |  WHERE vec_id <= (SELECT c2 FROM cuts)),
        |c0 AS MATERIALIZED (
        |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, dv AS cv
        |  FROM (SELECT vec_id, dv FROM dzt ORDER BY vec_id LIMIT 8)),
        |${(1 to 3).map(t => PipelineQueries.kmeansIter(t, "dzt"))
          .mkString(",\n")},
        |afs AS MATERIALIZED (
        |  SELECT vec_id, cell, d AS sim FROM (
        |    SELECT d.vec_id, c.cell,
        |      list_sum(list_transform(range(0, 64), i ->
        |        d.dv[i+1] * c.cv[i+1])) AS d,
        |      row_number() OVER (PARTITION BY d.vec_id
        |        ORDER BY list_sum(list_transform(range(0, 64), i ->
        |          d.dv[i+1] * c.cv[i+1])) DESC, c.cell) AS rnk
        |    FROM dz d CROSS JOIN c3 c) x
        |  WHERE rnk = 1),
        |prs AS MATERIALIZED (
        |  SELECT fa.vec_id AS id1, fb.vec_id AS id2
        |  FROM afs fa JOIN afs fb ON fa.cell = fb.cell
        |    AND fa.vec_id < fb.vec_id
        |  JOIN dz da ON da.vec_id = fa.vec_id
        |  JOIN dz db ON db.vec_id = fb.vec_id
        |  WHERE $pcos >= 0.95),
        |es AS (SELECT id1 AS s, id2 AS t FROM prs
        |       UNION SELECT id2, id1 FROM prs),
        |reachs AS (
        |  SELECT s AS id, s AS lab FROM es
        |  UNION
        |  SELECT es.t AS id, r.lab FROM reachs r JOIN es ON es.s = r.id),
        |comps AS (SELECT id, min(lab) AS component FROM reachs
        |          GROUP BY id),
        |rks AS (SELECT c.id,
        |    row_number() OVER (PARTITION BY c.component
        |      ORDER BY a.sim ASC, c.id ASC) AS rnk
        |  FROM comps c JOIN afs a ON a.vec_id = c.id),
        |drps AS (SELECT id FROM rks WHERE rnk > 1)
        |SELECT CAST(c.doc_id AS BIGINT) AS doc_id
        |FROM corp c
        |LEFT JOIN drpm ON drpm.id = c.doc_id
        |LEFT JOIN drph ON drph.id = c.doc_id
        |LEFT JOIN drps ON drps.id = c.doc_id
        |LEFT JOIN keprep kr ON kr.rep = c.doc_id
        |WHERE drpm.id IS NULL AND drph.id IS NULL AND drps.id IS NULL
        |  AND kr.rep IS NOT NULL
        |ORDER BY doc_id""".stripMargin
    },

    // q113: the symmetric-delete chain verbatim
    "q113_fuzzy_key_pairs" ->
      s"""WITH ${fuzzPairsSql(1)}
        |SELECT rep_a, rep_b, key_a, key_b, cnt_a, cnt_b,
        |  CAST(levenshtein(key_a, key_b) AS BIGINT) AS dist
        |FROM fp ORDER BY rep_a, rep_b""".stripMargin,

    // q113b: the same chain with ≤2-deletion variants and threshold 2
    "q113b_fuzzy_key_pairs_d2" ->
      s"""WITH ${fuzzPairsSql(2)}
        |SELECT rep_a, rep_b, key_a, key_b, cnt_a, cnt_b,
        |  CAST(levenshtein(key_a, key_b) AS BIGINT) AS dist
        |FROM fp ORDER BY rep_a, rep_b""".stripMargin,

    // q114b: ks minus every rep that is a non-minimum member of the
    // q114 closure (the q45 anti-join pattern)
    "q114b_fuzzy_dedup_keys" ->
      s"""WITH RECURSIVE ${fuzzPairsSql(1)},
        |e AS (SELECT rep_a AS s, rep_b AS t FROM fp
        |      UNION SELECT rep_b, rep_a FROM fp),
        |reach AS (
        |  SELECT s AS id, s AS lab FROM e
        |  UNION
        |  SELECT e.t AS id, r.lab FROM reach r JOIN e ON e.s = r.id),
        |drop_ids AS (
        |  SELECT id FROM (SELECT id, min(lab) AS component FROM reach
        |                  GROUP BY id) x
        |  WHERE id <> component)
        |SELECT ks.rep, ks.key, ks.cnt FROM ks
        |WHERE ks.rep NOT IN (SELECT id FROM drop_ids)
        |ORDER BY ks.rep""".stripMargin,

    // q120 shares q114's from-scratch closure verbatim: the engine
    // star-extends the base tier's persisted assignment with only the
    // fuzz tiers' new-key edges; the oracle closes the full union pair
    // graph from scratch (the q117 discipline for the SymSpell family)
    "q120_incremental_fuzzy_clusters" -> fuzzyClusterSql,

    // q114: the q42-style recursive closure over the q113 pair graph
    "q114_fuzzy_clusters" -> fuzzyClusterSql,

    // q108: the q42 closure, representative = COALESCE(component, own
    // id), then the q82 ppm draw on the representative
    "q108_split_leakage_safe" ->
      s"""WITH RECURSIVE $augDocsSql,
        |$minhashChainSql,
        |pr AS (SELECT id1, id2 FROM jac WHERE jaccard >= 0.5),
        |e AS (SELECT id1 AS s, id2 AS t FROM pr
        |      UNION SELECT id2, id1 FROM pr),
        |reach AS (
        |  SELECT s AS id, s AS lab FROM e
        |  UNION
        |  SELECT e.t AS id, r.lab FROM reach r JOIN e ON e.s = r.id),
        |comp AS (SELECT id, min(lab) AS component FROM reach GROUP BY id),
        |j AS (SELECT d.doc_id,
        |    CAST(COALESCE(c.component, d.doc_id) AS BIGINT) AS rep
        |  FROM aug d LEFT JOIN comp c ON c.id = d.doc_id)
        |SELECT doc_id, rep,
        |  CASE WHEN CAST(concat('0x', substr(md5(
        |           CAST(rep AS VARCHAR) || ':split'), 1, 14)) AS BIGINT)
        |         % 1000000 < 800000 THEN 'train'
        |       WHEN CAST(concat('0x', substr(md5(
        |           CAST(rep AS VARCHAR) || ':split'), 1, 14)) AS BIGINT)
        |         % 1000000 < 900000 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM j ORDER BY doc_id""".stripMargin,
    // the star-algorithm variant computes the SAME relation
    "q42b_dedup_components_star" -> ccClosureSql,

    // q42's closure applied as a dedup policy: any doc that is a
    // NON-minimum member of its component drops; unpaired docs survive
    "q45_dedup_corpus_cc" ->
      s"""WITH RECURSIVE $augDocsSql,
        |$minhashChainSql,
        |pr AS (SELECT id1, id2 FROM jac WHERE jaccard >= 0.5),
        |e AS (SELECT id1 AS s, id2 AS t FROM pr
        |      UNION SELECT id2, id1 FROM pr),
        |reach AS (
        |  SELECT s AS id, s AS lab FROM e
        |  UNION
        |  SELECT e.t AS id, r.lab FROM reach r JOIN e ON e.s = r.id),
        |comp AS (SELECT id, min(lab) AS component FROM reach GROUP BY id)
        |SELECT CAST(a.doc_id AS BIGINT) AS doc_id FROM aug a
        |WHERE NOT EXISTS (SELECT 1 FROM comp c
        |  WHERE c.id = a.doc_id AND c.id <> c.component)
        |ORDER BY doc_id""".stripMargin,

    // q83: the q45 closure with the quality-argmax keep policy — margin
    // formula (q60 weight chain as a pure per-doc list fold), component
    // assignment (singletons = own id), then rank-1 per component by
    // (margin DESC, doc_id ASC).
    "q83_canonical_dedup" ->
      s"""WITH RECURSIVE $augDocsSql,
        |$minhashChainSql,
        |pr AS (SELECT id1, id2 FROM jac WHERE jaccard >= 0.5),
        |e AS (SELECT id1 AS s, id2 AS t FROM pr
        |      UNION SELECT id2, id1 FROM pr),
        |reach AS (
        |  SELECT s AS id, s AS lab FROM e
        |  UNION
        |  SELECT e.t AS id, r.lab FROM reach r JOIN e ON e.s = r.id),
        |comp AS (SELECT id, min(lab) AS component FROM reach GROUP BY id),
        |mg AS (SELECT doc_id, CAST(coalesce(list_sum(list_transform(
        |    regexp_split_to_array(trim(text), '\\s+'), t ->
        |    (CAST(concat('0x', substr(md5('w' || CAST((CAST(concat('0x',
        |      substr(md5(t), 1, 14)) AS BIGINT) % 256) AS VARCHAR)), 1, 14))
        |      AS BIGINT) % 2000001) - 1000000)), 0) AS BIGINT) AS margin_q
        |  FROM aug),
        |asg AS (SELECT a.doc_id,
        |    coalesce(c.component, a.doc_id) AS component, m.margin_q
        |  FROM aug a JOIN mg m USING (doc_id)
        |  LEFT JOIN comp c ON c.id = a.doc_id),
        |rk AS (SELECT doc_id, component, margin_q,
        |    row_number() OVER (PARTITION BY component
        |      ORDER BY margin_q DESC, doc_id) AS rn,
        |    count(*) OVER (PARTITION BY component) AS n_members
        |  FROM asg)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(component AS BIGINT) AS component, margin_q,
        |  CAST(n_members AS BIGINT) AS n_members
        |FROM rk WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    "q24_simhash" ->
      s"""WITH $augDocsSql,
        |tk AS (SELECT doc_id,
        |  list_transform(regexp_split_to_array(trim(text), '\\s+'),
        |    t -> $tokHash) AS th FROM aug)
        |SELECT doc_id, CAST($simhashBitsSql AS BIGINT) AS simhash
        |FROM tk ORDER BY doc_id""".stripMargin,

    "q24b_simhash_pairs" ->
      s"""WITH $augDocsSql,
        |tk AS (SELECT doc_id,
        |  list_transform(regexp_split_to_array(trim(text), '\\s+'),
        |    t -> $tokHash) AS th FROM aug),
        |sh AS (SELECT doc_id, CAST($simhashBitsSql AS BIGINT) AS simhash
        |       FROM tk)
        |SELECT a.doc_id AS id1, b.doc_id AS id2,
        |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        |ORDER BY id1, id2""".stripMargin,

    "q25_neardup_embedding" ->
      s"""WITH $augEmbSql,
        |$normEmbSql
        |SELECT a.vec_id AS id1, b.vec_id AS id2,
        |  ${r4sql(cosSql)} AS cosine
        |FROM nv a JOIN nv b ON a.vec_id < b.vec_id
        |WHERE $cosSql >= 0.95
        |ORDER BY id1, id2""".stripMargin,

    // q91: the semantic-decontamination probe replayed — normalized aug
    // corpus vs the normalized %25==0 eval originals (a restriction of
    // the same nv CTE), count + r4'd max cosine per contaminated row
    "q91_semantic_decontam" ->
      s"""WITH $augEmbSql,
        |$normEmbSql,
        |ev AS (SELECT vec_id, v FROM nv
        |  WHERE vec_id < 10000 AND vec_id % 25 = 0)
        |SELECT a.vec_id AS vec_id, count(*) AS n_eval_hits,
        |  ${r4sql(s"max($cosSql)")} AS max_cos
        |FROM nv a JOIN ev b ON $cosSql >= 0.95
        |GROUP BY a.vec_id ORDER BY a.vec_id""".stripMargin,

    "q26_neardup_lsh" ->
      s"""WITH $augEmbSql,
        |$normEmbSql,
        |bk AS (
        |  SELECT vec_id, ${bucketBitsSql("embedding")} AS bucket
        |  FROM aug),
        |nb AS (SELECT nv.vec_id, nv.v, bk.bucket FROM nv
        |       JOIN bk ON bk.vec_id = nv.vec_id)
        |SELECT a.vec_id AS id1, b.vec_id AS id2,
        |  ${r4sql(cosSql)} AS cosine
        |FROM nb a JOIN nb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        |WHERE $cosSql >= 0.95
        |ORDER BY id1, id2""".stripMargin,

    // two independent 6-bit tables; OR-join = union of per-table
    // bucket-mates, each qualifying pair appearing exactly once
    "q26b_neardup_lsh_multi" ->
      s"""WITH $augEmbSql,
        |$normEmbSql,
        |bk AS (
        |  SELECT vec_id, ${bucketBitsSql("embedding", 6, 0)} AS b0,
        |    ${bucketBitsSql("embedding", 6, 1)} AS b1
        |  FROM aug),
        |nb AS (SELECT nv.vec_id, nv.v, bk.b0, bk.b1 FROM nv
        |       JOIN bk ON bk.vec_id = nv.vec_id)
        |SELECT a.vec_id AS id1, b.vec_id AS id2,
        |  ${r4sql(cosSql)} AS cosine
        |FROM nb a JOIN nb b
        |  ON (a.b0 = b.b0 OR a.b1 = b.b1) AND a.vec_id < b.vec_id
        |WHERE $cosSql >= 0.95
        |ORDER BY id1, id2""".stripMargin,

    // q26c: nBits from the corpus count — GREATEST(4, LEAST(24,
    // bit_length(buckets-1))) replays Dedup.autoBits' exact-integer
    // ceil-log2 (length(bin(b-1)) IS the bit length), and the plane
    // index g = table·nBits + j makes the hyperplanes themselves a
    // function of the derived bit count. Two tables; cross-table
    // duplicate pairs collapse under DISTINCT exactly like the Scala
    // side's distinct on (id1, id2, cosine).
    "q26c_neardup_lsh_auto" ->
      s"""WITH $augEmbSql,
        |nbits AS MATERIALIZED (
        |  SELECT GREATEST(4, LEAST(24,
        |    CASE WHEN GREATEST(1, cnt // 64) <= 1 THEN 0
        |         ELSE length(bin(GREATEST(1, cnt // 64) - 1)) END)) AS nb
        |  FROM (SELECT count(*) AS cnt FROM aug)),
        |$normEmbSql,
        |bk AS MATERIALIZED (
        |  SELECT a.vec_id, t.range AS tbl,
        |    list_sum(list_transform(range(0, nbits.nb), j ->
        |      CASE WHEN list_sum(list_transform(range(0, 64), i ->
        |          CAST(a.embedding[i+1] AS DOUBLE)
        |          * (CAST((73 * i + 179 * (t.range * nbits.nb + j) + 11)
        |               % 97 AS DOUBLE) / 97.0 - 0.5)))
        |        > 0 THEN (CAST(1 AS BIGINT) << CAST(j AS INTEGER))
        |        ELSE CAST(0 AS BIGINT) END)) AS bucket
        |  FROM aug a, range(0, 2) t, nbits),
        |nb2 AS (SELECT nv.vec_id, nv.v, bk.tbl, bk.bucket FROM nv
        |        JOIN bk ON bk.vec_id = nv.vec_id)
        |SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2,
        |  ${r4sql(cosSql)} AS cosine
        |FROM nb2 a JOIN nb2 b
        |  ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
        |WHERE $cosSql >= 0.95
        |ORDER BY id1, id2""".stripMargin
  )
}
