package graft.streaming

import graft.api.TemporalVectorDB
import graft.model.VersionRecord
import graft.operators.VersionStore
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

/** Per-content ingest state for [[StreamingIngest.statefulIngest]]: the
  * last assigned seq and last seen embedding — everything the promotion
  * policy and sparse-delta computation need, so no store read happens on
  * the hot path. */
case class IngestState(lastSeq: Int, lastEmbedding: Array[Float])

/** Structured Streaming ingest for the versioned store (SURVEY §2.10
  * "streaming" extension — the reference has no streaming surface; its
  * ingest is synchronous one-row-at-a-time, temporal_database.py:86-178).
  *
  * The stream reuses the BATCH ingest job via `foreachBatch`: every
  * micro-batch runs the same windowed seq-assignment + promotion + delta
  * pipeline against the current store state, so streaming and batch ingest
  * have identical semantics by construction.
  *
  * Delivery semantics: foreachBatch is at-least-once; [[start]] is
  * EXACTLY-ONCE because each micro-batch is a token append
  * ([[TemporalVectorDB.addVersions]] with the batch's
  * [[StoreSink.batchToken]]) on the store's epoch protocol
  * ([[graft.api.EpochStore]]): a crash before the commit marker leaves
  * nothing visible and the replay recomputes against the committed
  * versions; a replay after the marker is a no-op. Single-writer
  * assumption: one streaming query owns the store path.
  */
object StreamingIngest {

  /** Start ingesting a stream of (content_id, ts, embedding) rows into
    * a path-backed store. Micro-batches are applied through
    * [[TemporalVectorDB.addVersions]] (seq offsets continue from the
    * committed max per content), exactly once per batch (see class
    * doc). */
  def start(stream: DataFrame, db: TemporalVectorDB,
            checkpoint: String): StreamingQuery =
    eachBatch(stream, checkpoint)((batch, batchId) =>
      db.addVersions(batch, StoreSink.batchToken(batch, batchId)))

  /** Fully streaming-native versioned ingest via `flatMapGroupsWithState`:
    * per-content state carries (lastSeq, lastEmbedding), so every
    * micro-batch emits base/delta rows WITHOUT re-reading the store — the
    * low-latency alternative to the [[start]] foreachBatch path (which
    * reruns the batch window job per micro-batch). Promotion semantics are
    * identical to [[VersionStore.ingestWithSeq]] (cross-checked row-for-row
    * in StreamingSpec); rows within a batch apply in ts order.
    *
    * State is one embedding per content — bounded by the content universe,
    * not the stream length. For UNBOUNDED content universes pass
    * `evictAfter`: contents idle past that event-time horizon have their
    * state SHRUNK on timeout — the embedding (the memory hog, d floats)
    * is dropped, the lastSeq counter (a few bytes) is kept. A re-appearing
    * evicted content therefore CONTINUES its seq timeline, and its next
    * version is promoted to a base (no previous embedding to diff against
    * — the same re-base a cold start performs; reconstruction semantics
    * are unaffected since a base is always a valid chain head). Eviction
    * requires an event-time watermark, applied here on the ts field; rows
    * arriving later than `lateness` behind the max seen ts may be dropped
    * by the watermark, so size it to the source's disorder.
    *
    * SEEDED-STATE CAVEAT: Spark invokes the group function only for keys
    * with batch data or a FIRED timeout, and a timeout can only be
    * registered inside an invocation — so a key seeded via `initial`
    * that never appears in the stream never registers one, and its
    * embedding stays resident regardless of `evictAfter`. Eviction
    * bounds the ACTIVE universe; it cannot shrink a never-touched seed.
    * When the store's content universe vastly exceeds the live stream's,
    * seed the active subset (filter the seed frame), not the full store.
    * The emitted Dataset appends to the versions table via any sink. */
  def statefulIngest(
      stream: Dataset[(String, java.sql.Timestamp, Array[Float])],
      cfg: VersionStore.Config = VersionStore.Config(),
      initial: Option[Dataset[(String, IngestState)]] = None,
      evictAfter: Option[java.time.Duration] = None,
      lateness: String = "1 hour")
      : Dataset[VersionRecord] = {
    import stream.sparkSession.implicits._
    val watermarked = evictAfter match {
      case None => stream
      case Some(_) => stream.withWatermark("_2", lateness)
    }
    val grouped = watermarked.groupByKey(_._1)
    val evictMs = evictAfter.map(_.toMillis)
    val func =
        (contentId: String,
         rows: Iterator[(String, java.sql.Timestamp, Array[Float])],
         state: GroupState[IngestState]) => {
          if (state.hasTimedOut) {
            // shrink, don't remove: the seq counter must survive so a
            // re-appearing content continues its timeline instead of
            // colliding with stored (content_id, seq) keys
            state.getOption.foreach(s =>
              state.update(IngestState(s.lastSeq, null)))
            Iterator.empty
          } else {
          var seq = state.getOption.map(_.lastSeq).getOrElse(0)
          var prev = state.getOption.map(_.lastEmbedding).orNull
          // full-precision ts order: getTime alone is millisecond-truncated
          // and would apply same-millisecond rows arbitrarily, diverging
          // from the batch path's full-ts window ordering
          val out = rows.toSeq
            .sortBy(r => (r._2.getTime, r._2.getNanos))
            .map { case (_, ts, emb) =>
            seq += 1
            val rec =
              if (prev == null) {
                VersionRecord(contentId, seq, ts, "base", Some(emb),
                  None, None, None, None, Map.empty)
              } else {
                // identical arithmetic to the batch expressions: dense diff
                // in double, sparse indices at |diff| >= threshold, raw-L2
                // magnitude over the WHOLE diff (delta_computer.py:74)
                val diff = Array.tabulate(emb.length)(i =>
                  emb(i).toDouble - prev(i).toDouble)
                val idx = diff.indices
                  .filter(i => math.abs(diff(i)) >= cfg.sparsityThreshold)
                val ratio = idx.length.toDouble / emb.length.toDouble
                val mag = math.sqrt(diff.map(d => d * d).sum)
                val isBase = seq == 1 ||
                  (seq - 1) % cfg.baseInterval == 0 ||
                  ratio > cfg.promotionRatio
                if (isBase)
                  VersionRecord(contentId, seq, ts, "base", Some(emb),
                    None, None, None, Some(mag), Map.empty)
                else
                  VersionRecord(contentId, seq, ts, "delta", None,
                    Some(idx.toArray),
                    Some(idx.map(i => diff(i).toFloat).toArray),
                    Some(seq - 1), Some(mag), Map.empty)
              }
            prev = emb
            rec
          }
          state.update(IngestState(seq, prev))
          evictMs.foreach { ms =>
            // fire once the watermark passes this batch's newest row + ms;
            // must stay strictly ahead of the current watermark
            if (out.nonEmpty)
              state.setTimeoutTimestamp(math.max(
                state.getCurrentWatermarkMs() + 1,
                out.map(_.ts.getTime).max + ms))
          }
          out.iterator
          }
        }

    val timeout =
      if (evictAfter.isDefined) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    initial match {
      case None => grouped.flatMapGroupsWithState[IngestState, VersionRecord](
        OutputMode.Append, timeout)(func)
      case Some(init) =>
        grouped.flatMapGroupsWithState[IngestState, VersionRecord](
          OutputMode.Append, timeout,
          init.groupByKey(_._1).mapValues(_._2))(func)
    }
  }

  /** [[statefulIngest]] seeded from an existing versions store: initial
    * per-content state is (max seq, reconstructed latest embedding), so
    * streamed versions CONTINUE existing timelines — seqs don't restart and
    * the first streamed delta diffs against the stored latest state (the
    * reference's add-to-existing-timeline semantics,
    * temporal_database.py:107-135, in streaming form). One reconstruction
    * job at stream start; no store reads afterwards.
    *
    * `onlyContents` restricts the seed to the given content ids — the
    * large-store escape hatch: a full-store seed pins every content's
    * embedding in the state store, and eviction cannot touch seeded keys
    * the stream never mentions (see [[statefulIngest]]'s seeded-state
    * caveat). CONTRACT: the stream must then carry ONLY those contents —
    * a store-existing content that arrives unseeded restarts its seq
    * counter at 1 and collides with its stored rows (filter or route
    * the stream accordingly; the foreachBatch [[start]] path has no such
    * restriction since it reads offsets from the store each batch).
    * `evictAfter`/`lateness` pass through. */
  def statefulIngestFrom(
      stream: Dataset[(String, java.sql.Timestamp, Array[Float])],
      db: TemporalVectorDB,
      onlyContents: Option[DataFrame] = None,
      evictAfter: Option[java.time.Duration] = None,
      lateness: String = "1 hour"): Dataset[VersionRecord] = {
    val spark = stream.sparkSession
    import spark.implicits._
    val scoped = onlyContents match {
      case None => db.versions
      case Some(ids) => db.versions.join(
        ids.select(col("content_id")), Seq("content_id"), "left_semi")
    }
    val latest = scoped.groupBy("content_id")
      .agg(max("seq").as("seq"))
    val seed = graft.operators.Reconstruction
      .reconstruct(scoped, latest)
      .select(col("content_id"), col("seq"), col("embedding"))
      .as[(String, Int, Array[Float])]
      .map { case (c, s, e) => (c, IngestState(s, e)) }
    statefulIngest(stream, db.cfg, Some(seed), evictAfter, lateness)
  }

  /** Streaming exact deduplication: drop rows whose dedup key was already
    * seen within the watermark horizon — the streaming counterpart of the
    * batch exact-dedup operator, with bounded state (keys expire with the
    * watermark). `df` must carry a TimestampType `ts` column. */
  def streamingDedup(df: DataFrame, keyCols: Seq[String],
                     watermarkDelay: String = "1 hour"): DataFrame =
    df.withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Streaming quality guard: keep stream documents whose hashed-linear
    * classifier margin ([[graft.operators.QualityModels.marginExpr]])
    * meets `minMargin` — the fastText-style quality filter at ingest
    * time. Unlike the decontamination guard this needs NO JVM probe:
    * the margin is a pure column fold (exact long arithmetic), so the
    * filter is stateless, watermark-free, and agrees bit-for-bit with
    * the batch scorer on every row (gated in StreamingSpec).
    * `invert = true` emits the REJECT stream instead.
    *
    * NULL-text rows REJECT (there is nothing to score — garbage in a
    * quality gate): without the explicit coalesce a null margin would
    * fail BOTH the pass and the invert predicate and the row would
    * vanish from both streams, silently un-partitioning the input. */
  def streamingQualityFilter(stream: DataFrame, minMargin: Long = 0L,
                             nBuckets: Int = 256, textCol: String = "text",
                             invert: Boolean = false): DataFrame = {
    val pass = coalesce(
      graft.operators.QualityModels
        .marginExpr(col(textCol), nBuckets) >= minMargin,
      lit(false))
    stream.filter(if (invert) !pass else pass)
  }

  /** Streaming near-dup guard: quarantine stream documents whose MinHash
    * band hashes collide with the STATIC kept corpus — the ingest-time
    * PRE-FILTER of [[graft.operators.Dedup.crossNearDupPairs]]. A band
    * collision is LSH candidacy, not verified similarity: every true
    * near-dup of the corpus that the banding would catch in batch is
    * quarantined (same bands, same hashes — agreement with the batch
    * candidate set is spec-gated), along with banding's false positives;
    * route the quarantine stream to the batch jaccard verify instead of
    * dropping it. Clean means "shares no band bucket with the corpus" —
    * safe to ingest without any batch-side re-check.
    *
    * MEMORY CONTRACT: the corpus's distinct (band, hash) keys are packed
    * to 64-bit longs (band in the top byte, 56-bit md5 prefix below) and
    * either collected into a sorted array (8 B/key, up to
    * `exactKeyLimit` keys) or — past the limit — folded DISTRIBUTEDLY
    * into a Bloom filter whose broadcast payload is
    * O(nKeys · ln(1/fpp)) BITS, independent of text sizes and ~10 bits
    * per distinct corpus text ×bands at the 1% default. The driver never
    * materializes the key universe on the Bloom path. Both probe paths
    * admit false POSITIVES only (packing truncation / Bloom fpp), which
    * quarantine a clean doc — the benign direction; no true collision is
    * ever missed.
    *
    * Stateless like the other guards: each stream row pays one in-JVM
    * signature (the same compiled [[graft.functions.MinHashExpr]] kernel
    * the column side runs, so stream and batch hashes are bit-identical
    * by construction) + `bands` index probes. Docs with fewer than `n`
    * tokens (or null text) have no shingles, hence no bands — always
    * clean. */
  def streamingNearDupGuard(stream: DataFrame, existing: DataFrame,
                            idCol: String = "doc_id",
                            textCol: String = "text",
                            n: Int = 3, numHashes: Int = 16,
                            bands: Int = 4,
                            invert: Boolean = false,
                            exactKeyLimit: Long = 4L * 1000 * 1000,
                            bloomFpp: Double = 0.01): DataFrame = {
    val index = corpusBandIndex(existing, idCol, textCol, n, numHashes,
      bands, exactKeyLimit, bloomFpp)
    val bIdx = stream.sparkSession.sparkContext.broadcast(index)
    val idx = stream.schema.fieldIndex(textCol)
    stream.filter { row =>
      val collides = !row.isNullAt(idx) &&
        bandKeysJvm(row.getString(idx), n, numHashes, bands)
          .exists(bIdx.value.mightContain)
      collides == invert
    }
  }

  /** Ingest-time FUZZY-KEY duplicate guard — the q113 symmetric-delete
    * cover ([[graft.operators.Dedup.fuzzyKeyPairs]]) as a stateless
    * stream probe: drop (default) or keep (`invert`) stream rows whose
    * short key (title / normalized name) sits within Levenshtein
    * `maxEdit` of an already-ingested key. Same conservative contract
    * as the band guards: two keys within `maxEdit` PROVABLY share a
    * ≤maxEdit-deletion variant, so quarantining on variant collision is
    * a SUPERSET of true fuzzy dups (a 56-bit hash collision or a
    * shared-variant-but-distant pair quarantines a clean row — benign
    * direction, the batch verify clears it); no true fuzzy dup ever
    * slips through. The corpus side indexes the md5-56 of every variant
    * of every distinct existing key (column kernel); each stream row
    * pays one in-JVM variant expansion + that many probes against the
    * broadcast exact-or-bloom index ([[keyIndex]]) — JVM md5-56 packing
    * is the SAME first-7-digest-bytes form as the column `md5Long`
    * (spec-gated bit-identical). Null/empty keys have no variants —
    * always clean, mirroring the batch operator's filter. */
  def streamingFuzzyKeyGuard(stream: DataFrame, existingKeys: DataFrame,
                             keyCol: String = "key",
                             maxEdit: Int = 1,
                             invert: Boolean = false,
                             exactKeyLimit: Long = 4L * 1000 * 1000,
                             bloomFpp: Double = 0.01): DataFrame = {
    val varCol = org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.DeleteVariantsExpr(
        org.apache.spark.sql.graftbridge.Bridge.expression(col(keyCol)),
        maxEdit))
    val index = keyIndex(existingKeys
      .where(length(col(keyCol)) > 0)
      .select(explode(varCol).as("_v"))
      .select(graft.operators.Dedup.md5Long(col("_v")).as("_k")),
      exactKeyLimit, bloomFpp)
    val bIdx = stream.sparkSession.sparkContext.broadcast(index)
    val idx = stream.schema.fieldIndex(keyCol)
    stream.filter { row =>
      val collides = !row.isNullAt(idx) && {
        val k = row.getString(idx)
        k.nonEmpty && fuzzyKeysJvm(k, maxEdit)
          .exists(bIdx.value.mightContain)
      }
      collides == invert
    }
  }

  /** JVM md5-56 over each ≤maxEdit-deletion variant — bit-identical to
    * the column side's `md5Long(explode(DeleteVariantsExpr(...)))`
    * (first 7 digest bytes, big-endian; spec-gated). */
  private[graft] def fuzzyKeysJvm(key: String, maxEdit: Int): Seq[Long] = {
    val arr = graft.functions.DeleteVariantsExpr.variants(
      org.apache.spark.unsafe.types.UTF8String.fromString(key), maxEdit)
    (0 until arr.numElements())
      .map(i => md5_56(arr.getUTF8String(i).getBytes))
  }

  /** Probe index over the corpus's packed band keys — the broadcast
    * payload of [[streamingNearDupGuard]]. `payloadBytes` is the
    * serialized probe size the memory-contract spec gates on. */
  private[graft] sealed trait BandKeyIndex extends Serializable {
    def mightContain(k: Long): Boolean
    def payloadBytes: Long
  }
  private[graft] final class ExactBandKeys(keys: Array[Long])
      extends BandKeyIndex {
    def mightContain(k: Long): Boolean =
      java.util.Arrays.binarySearch(keys, k) >= 0
    def payloadBytes: Long = 8L * keys.length
  }
  private[graft] final class BloomBandKeys(
      bf: org.apache.spark.util.sketch.BloomFilter) extends BandKeyIndex {
    def mightContain(k: Long): Boolean = bf.mightContainLong(k)
    def payloadBytes: Long = (bf.bitSize() + 7) / 8
  }

  /** Column-side packed band key over a [[graft.operators.Dedup
    * .bandedProjection]] frame: band in the top byte, the md5 band
    * hash's leading 56 bits below — the same packing [[bandKeysJvm]]
    * computes from digest bytes, so column and JVM keys are
    * bit-identical (spec-gated). */
  private[graft] def packedBandKey: org.apache.spark.sql.Column =
    shiftleft(col("_band").cast("long"), 56).bitwiseOR(
      conv(substring(col("_bhash"), 1, 14), 16, 10).cast("long"))

  /** Build the guard's probe index: one distributed distinct over the
    * corpus's packed band keys, then EITHER a bounded collect (sorted
    * long array, exact probes) or a `DataFrameStatFunctions.bloomFilter`
    * fold (per-partition filters merged on the driver — the driver holds
    * bloom BITS, never the key universe). */
  private[graft] def corpusBandIndex(existing: DataFrame, idCol: String,
                                     textCol: String, n: Int,
                                     numHashes: Int, bands: Int,
                                     exactKeyLimit: Long,
                                     bloomFpp: Double): BandKeyIndex = {
    require(bands <= 255, s"bands must fit the key's top byte (got $bands)")
    import graft.operators.Dedup
    keyIndex(Dedup.bandedProjection(
        Dedup.minhashSignatures(existing, idCol, textCol, n, numHashes),
        numHashes, bands)
      .select(packedBandKey.as("_k")),
      exactKeyLimit, bloomFpp)
  }

  /** Exact-or-bloom probe index over a single long key column `_k`: one
    * distributed distinct, then a bounded collect (sorted array, exact
    * probes) or a `stat.bloomFilter` fold past `exactKeyLimit`. Shared
    * by the text band index and the fingerprint guard. */
  private[graft] def keyIndex(keyFrame: DataFrame, exactKeyLimit: Long,
                              bloomFpp: Double): BandKeyIndex = {
    val keys = keyFrame.distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val nKeys = keys.count()
      if (nKeys <= exactKeyLimit) exactKeys(keys)
      else new BloomBandKeys(keys.stat.bloomFilter("_k", nKeys, bloomFpp))
    } finally keys.unpersist()
  }

  /** Collect a single long key column as a sorted array (exact probes,
    * 8 B/key). */
  private def exactKeys(keys: DataFrame): ExactBandKeys = {
    val arr = keys.collect().map(_.getLong(0))
    java.util.Arrays.sort(arr)
    new ExactBandKeys(arr)
  }

  /** Run `apply` on every micro-batch of `stream` — the one
    * `foreachBatch` sink the streaming writers here share. */
  private def eachBatch(stream: DataFrame, checkpoint: String)(
      apply: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        apply(batch, batchId)
      }
      .start()

  /** Maintain `artifact` over `stream`: each micro-batch commits its
    * delta exactly once ([[LiveArtifact]]), token =
    * [[StoreSink.batchToken]]. */
  private def maintain(stream: DataFrame, checkpoint: String,
                       artifact: LiveArtifact): StreamingQuery =
    eachBatch(stream, checkpoint)((batch, batchId) =>
      artifact.append(batch, StoreSink.batchToken(batch, batchId)))

  // ---- maintained live artifacts ----------------------------------
  //
  // Each streaming* / read* pair below drives one LiveArtifact; its
  // protocol, merge identity and compact() live on that class.

  /** Maintain a [[graft.operators.Sketches.countMin]] frequency sketch
    * over a stream — the profile a 100 TB ingest keeps instead of a
    * full token frequency table. Each micro-batch commits a bounded
    * (≤ depth·width rows) delta; the live sketch is the cellwise sum
    * ([[CountMinArtifact]]). */
  def streamingCountMin(stream: DataFrame, valueCol: String,
                        sketchPath: String, checkpoint: String,
                        depth: Int = 4, width: Int = 1024)
      : StreamingQuery =
    maintain(stream, checkpoint, new CountMinArtifact(stream.sparkSession,
      sketchPath, valueCol, depth, width))

  /** The live maintained sketch — same (row, bucket, cnt) shape as a
    * batch [[graft.operators.Sketches.countMin]], so
    * [[graft.operators.Sketches.countMinEstimate]] probes it unchanged;
    * empty before the first commit. */
  def readCountMin(spark: org.apache.spark.sql.SparkSession,
                   sketchPath: String): DataFrame =
    new CountMinArtifact(spark, sketchPath).read

  /** Maintain a [[graft.operators.Sketches.hllRegisters]] distinct-count
    * sketch over a stream — the live cardinality profile beside the
    * frequency profile. Each micro-batch commits a bounded
    * (≤ groups·2^p rows) register delta; the live sketch is the
    * per-(group, bucket) max ([[HllArtifact]]). */
  def streamingHll(stream: DataFrame, groupCol: String, valueCol: String,
                   sketchPath: String, checkpoint: String, p: Int = 8)
      : StreamingQuery =
    maintain(stream, checkpoint, new HllArtifact(stream.sparkSession,
      sketchPath, groupCol, valueCol, p))

  /** The live maintained HLL — same (group, bucket, register) shape as
    * a batch build, so [[graft.operators.Sketches.hllEstimate]] reads
    * it unchanged. */
  def readHll(spark: org.apache.spark.sql.SparkSession, sketchPath: String,
              groupCol: String): DataFrame =
    new HllArtifact(spark, sketchPath, groupCol).read

  /** Maintain a dataset publish manifest
    * ([[graft.operators.Pipeline.datasetManifest]]) over a document
    * stream — the live "what exactly have we published" audit. Every
    * field is a mergeable aggregate (counts and token sums add, id
    * bounds min/max, the two checksums are sums of 56-bit keys mod 2^56),
    * so each micro-batch commits a ≤ |groups|-row delta
    * ([[ManifestArtifact]]). */
  def streamingManifest(stream: DataFrame, groupCol: String,
                        manifestPath: String, checkpoint: String)
      : StreamingQuery =
    maintain(stream, checkpoint,
      new ManifestArtifact(stream.sparkSession, manifestPath, groupCol))

  /** The live maintained manifest — identical shape and values to a
    * batch [[graft.operators.Pipeline.datasetManifest]] over the full
    * ingested corpus. */
  def readManifest(spark: org.apache.spark.sql.SparkSession,
                   manifestPath: String, groupCol: String): DataFrame =
    new ManifestArtifact(spark, manifestPath, groupCol).read

  /** Maintained streaming priority sample — the DLT weighted sample
    * ([[graft.operators.TextAnalysis.prioritySample]]) kept fresh across
    * micro-batches: each batch commits its own ≤ k-row top-k, and the
    * live sample is the top-k of the deltas — exactly the batch build,
    * because per-row priorities are stateless hashes and top-k merges
    * ([[PrioritySampleArtifact]]). */
  def streamingPrioritySample(stream: DataFrame, weightCol: String,
                              samplePath: String, checkpoint: String,
                              k: Int, idCol: String = "doc_id",
                              seed: Int = 0): StreamingQuery =
    maintain(stream, checkpoint, new PrioritySampleArtifact(
      stream.sparkSession, samplePath, k, weightCol, idCol, seed))

  /** The live sample: top-k of the committed deltas. */
  def readPrioritySample(spark: org.apache.spark.sql.SparkSession,
                         samplePath: String, k: Int,
                         idCol: String = "doc_id"): DataFrame =
    new PrioritySampleArtifact(spark, samplePath, k, idCol = idCol).read

  /** Maintain the TRAINING-SEQUENCE PACKING inputs (q102's manifest)
    * over a document stream. [[graft.operators.Packing.packSequences]]'
    * global running sum is order-dependent and not per-batch mergeable
    * (a late smaller doc_id shifts every later span), so the streamed
    * state is the per-doc token-count frame — stateless per row, the
    * expensive text pass — committed per batch
    * ([[PackingCountsArtifact]]); [[readPackingManifest]] re-runs the
    * running sum over the counts (~16 bytes/doc), never a text
    * re-scan. */
  def streamingPackingCounts(stream: DataFrame, countsPath: String,
                             checkpoint: String,
                             counter: org.apache.spark.sql.Column =>
                               org.apache.spark.sql.Column =
                               graft.operators.TextAnalysis.subtokenCount)
      : StreamingQuery =
    maintain(stream, checkpoint, new PackingCountsArtifact(
      stream.sparkSession, countsPath, counter))

  /** The live packing manifest over everything ingested so far: the
    * q102 (doc_id, seq_id, tok_from, tok_to, pos_in_seq) rows derived
    * from the committed counts with
    * [[graft.operators.Packing.packSequencesFromCounts]] — identical to
    * a batch [[graft.operators.Packing.packSequences]] over the full
    * ingested prefix. */
  def readPackingManifest(spark: org.apache.spark.sql.SparkSession,
                          countsPath: String, seqLen: Long): DataFrame =
    graft.operators.Packing.packSequencesFromCounts(
      new PackingCountsArtifact(spark, countsPath).read, seqLen)

  /** Maintained streaming BM25 postings index — the live lexical search
    * index over a document stream. Each micro-batch commits its
    * documents' (doc_id, dl, term_key, tf) rows
    * ([[graft.operators.Retrieval.postings]]) and the live index is their
    * union ([[PostingsArtifact]]) — exact because postings rows are per
    * (doc, term) and an append-only stream delivers each document once
    * (re-ingesting a doc_id would double-index it).
    * [[graft.operators.Retrieval.bm25OverPostings]] probes the live
    * index unchanged: df, N and avgdl derive from the rows themselves,
    * so there is no stats refresh step to forget. */
  def streamingPostings(stream: DataFrame, postingsPath: String,
                        checkpoint: String): StreamingQuery =
    maintain(stream, checkpoint,
      new PostingsArtifact(stream.sparkSession, postingsPath))

  /** The live maintained postings index — same shape as a batch
    * [[graft.operators.Retrieval.postings]] build. */
  def readPostings(spark: org.apache.spark.sql.SparkSession,
                   postingsPath: String): DataFrame =
    new PostingsArtifact(spark, postingsPath).read

  /** Maintained streaming SUBSTRING-DEDUP index — the live counterpart
    * of [[graft.operators.SubstringIndex.buildIndex]]. Each micro-batch
    * commits its batch-local (k1, k2, keep, occ) partial, which holds
    * the expensive window hashing; the index aggregation is
    * commutative-associative (keep = min of minima, occ = sum), so the
    * live index is one re-aggregation over the partials
    * ([[SubstringIndexArtifact]]), order-insensitive, and
    * [[graft.operators.SubstringIndex.dedupeWithIndex]] dedups the
    * ingested corpus straight off it. Same single-ingest contract as
    * postings (re-ingesting a doc_id double-counts its windows). */
  def streamingSubstringIndex(stream: DataFrame, indexPath: String,
                              checkpoint: String,
                              window: Int): StreamingQuery =
    maintain(stream, checkpoint, new SubstringIndexArtifact(
      stream.sparkSession, indexPath, window))

  /** The live substring index — equal to
    * [[graft.operators.SubstringIndex.buildIndex]] over the full
    * ingested prefix. */
  def readSubstringIndex(spark: org.apache.spark.sql.SparkSession,
                         indexPath: String, window: Int): DataFrame =
    new SubstringIndexArtifact(spark, indexPath, window).read

  /** Ingest-time duplicate guard for MEDIA payloads — the modality
    * counterpart of [[streamingNearDupGuard]]: drop (default) or keep
    * (`invert`) stream rows whose 56-bit perceptual fingerprint lands
    * within the batch banding's reach of an already-ingested corpus.
    * `existingHashes` is any `(_id, simhash)` frame ([[graft.operators
    * .Multimodal.dHashes]], [[graft.operators.Audio.fingerprints]],
    * [[graft.operators.Video.fingerprints]]); `hashFn` is the matching
    * per-payload fingerprint (the SAME function the column side maps, so
    * stream and batch hashes are bit-identical by construction).
    *
    * Pigeonhole contract, same as the batch join: Hamming ≤ maxHamming
    * forces ≥ 1 of the maxHamming+1 bands equal, so a band collision is
    * a conservative SUPERSET of true near-dups — a popular band may
    * quarantine a clean payload (benign direction); no true near-dup is
    * ever missed. Undecodable payloads have no fingerprint — always
    * clean, mirroring the batch paths' drop semantics.
    *
    * Stateless: each stream row pays one in-JVM decode+fingerprint and
    * maxHamming+1 index probes against a broadcast exact-or-bloom key
    * set ([[keyIndex]] — bounded driver memory past `exactKeyLimit`). */
  def streamingFingerprintGuard(stream: DataFrame,
                                existingHashes: DataFrame,
                                payloadCol: String = "payload",
                                hashFn: Array[Byte] => java.lang.Long,
                                maxHamming: Int = 3,
                                invert: Boolean = false,
                                exactKeyLimit: Long = 4L * 1000 * 1000,
                                bloomFpp: Double = 0.01): DataFrame = {
    import graft.operators.Dedup
    val spec = Dedup.hammingBandSpec(maxHamming)
    require(spec.size <= 255,
      s"maxHamming + 1 bands must fit the key's top byte (got ${spec.size})")
    val keyCols = spec.zipWithIndex.map { case ((offset, width), b) =>
      shiftleft(lit(b.toLong), 56).bitwiseOR(
        shiftright(col("simhash"), offset)
          .bitwiseAND(lit((1L << width) - 1)))
    }
    val index = keyIndex(
      existingHashes.select(explode(array(keyCols: _*)).as("_k")),
      exactKeyLimit, bloomFpp)
    val bIdx = stream.sparkSession.sparkContext.broadcast(index)
    val idx = stream.schema.fieldIndex(payloadCol)
    val bandSpec = spec.toArray
    stream.filter { row =>
      val h =
        if (row.isNullAt(idx)) null
        else hashFn(row.getAs[Array[Byte]](idx))
      val collides = h != null && bandSpec.indices.exists { b =>
        val (offset, width) = bandSpec(b)
        bIdx.value.mightContain(
          (b.toLong << 56) | ((h >> offset) & ((1L << width) - 1)))
      }
      collides == invert
    }
  }

  // per-thread digest: the guard runs per ROW on the ingest hot path —
  // a JCA provider lookup + allocation per row would dominate the probe
  // (the MinHashExpr.digest pattern)
  private val bandDigest =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }

  /** The leading 56 bits of `bytes`' md5 (first 7 digest bytes,
    * big-endian) — the JVM form of the column side's md5-prefix keys
    * ([[graft.operators.Dedup.md5Long]], the 14-hex-char prefix). */
  private def md5_56(bytes: Array[Byte]): Long = {
    val md = bandDigest.get()
    md.reset()
    val d = md.digest(bytes)
    var v = 0L
    var j = 0
    while (j < 7) { v = (v << 8) | (d(j) & 0xffL); j += 1 }
    v
  }

  /** JVM twin of the column-side band hashing ([[graft.operators
    * .Dedup.bandedProjection]] over [[graft.functions.MinHashExpr]]
    * signatures): the SAME compiled kernel computes the signature, and
    * the packed key replays md5(comma-joined minima) exactly
    * ([[packedBandKey]]) — empty for docs with no shingles. */
  private[graft] def bandKeysJvm(text: String, n: Int, numHashes: Int,
                                 bands: Int): Seq[Long] = {
    val sig = graft.functions.MinHashExpr.compute(
      org.apache.spark.unsafe.types.UTF8String.fromString(text),
      n, numHashes).getArray(0)
    if (sig.numElements() == 0) Seq.empty
    else {
      val r = numHashes / bands
      (0 until bands).map { b =>
        val joined = (b * r until (b + 1) * r)
          .map(j => sig.getLong(j).toString).mkString(",")
        (b.toLong << 56) |
          md5_56(joined.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
    }
  }

  /** Streaming decontamination guard: drop stream documents sharing any
    * token n-gram with a STATIC held-out set (the batch
    * [[graft.operators.TextAnalysis.decontaminate]] as an ingest-time
    * filter). The held-out grams collapse ONCE to the same md5-derived
    * 56-bit keys the batch operator ships and ride a broadcast variable;
    * each stream row pays one tokenize + (tokens−n+1) sorted-array probes
    * inside a typed filter.
    *
    * This is the engine's one deliberate non-codegen hot path: Structured
    * Streaming offers no stream-native way to express "doc passes iff NO
    * exploded gram matches" without either a state store (explode →
    * re-aggregate, which adds watermark latency) or an unsupported
    * stream-stream anti-join — a stateless broadcast-set probe is the
    * shape that keeps the guard output-mode-agnostic and latency-free.
    * Row-for-row agreement with the batch operator is gated in
    * StreamingSpec. `invert = true` emits the QUARANTINE stream
    * (contaminated docs only) instead.
    *
    * The distinct gram-key set collects to the DRIVER (unlike the batch
    * twin, which has a shuffled anti-join, a stream has no fallback
    * shape — see the paragraph above), so the eval-suite-≪-corpus
    * assumption is enforced, not assumed: more than `maxKeys` distinct
    * grams fails FAST with a sizing message instead of quietly OOMing
    * the driver mid-stream. The default (2^26 ≈ 67M keys ≈ 512 MiB as
    * the broadcast sorted long array, 8 B/key — the [[ExactBandKeys]]
    * probe the other guards share) covers any realistic eval suite;
    * raise it deliberately, with driver memory to match, when a bigger
    * held-out set is genuinely intended. */
  def streamingDecontaminate(stream: DataFrame, test: DataFrame, n: Int = 4,
                             textCol: String = "text",
                             invert: Boolean = false,
                             maxKeys: Long = 1L << 26): DataFrame = {
    import graft.operators.TextAnalysis
    val distinctKeys = test
      .select(explode(TextAnalysis.ngrams(col(textCol), n)).as("_g"))
      .select(TextAnalysis.gramHash(col("_g")).as("_gk"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nKeys = distinctKeys.count()
    require(nKeys <= maxKeys,
      s"streamingDecontaminate: held-out set has $nKeys distinct $n-gram " +
        s"keys > maxKeys=$maxKeys — this guard broadcasts the whole key " +
        "set from the driver; shrink the held-out set, raise n, or raise " +
        "maxKeys (with driver memory to match)")
    // persisted across the sizing count and this collect — the guard must
    // not pay the explode+hash+distinct shuffle twice at stream start
    val keys = exactKeys(distinctKeys)
    distinctKeys.unpersist(false)
    val bKeys = stream.sparkSession.sparkContext.broadcast(keys)
    val idx = stream.schema.fieldIndex(textCol)
    stream.filter { row =>
      val contaminated = !row.isNullAt(idx) &&
        gramKeysJvm(row.getString(idx), n).exists(bKeys.value.mightContain)
      contaminated == invert
    }
  }

  /** The ingest-time form of [[graft.operators.Pipeline.curate]]'s
    * gates — one call chains the full stateless hygiene funnel over a
    * document stream, in the batch funnel's exact order: language gate
    * ([[graft.operators.TextAnalysis.predLangExpr]], a pure column
    * predicate), quality gate ([[streamingQualityFilter]]), exact-dup
    * novelty against the INDEXED kept corpus (56-bit text keys through
    * the shared exact-or-bloom [[keyIndex]] — conservative in the bloom
    * regime: a false positive drops a clean doc, never keeps a dup),
    * and eval-suite decontamination ([[streamingDecontaminate]]).
    * Returns the CLEAN stream; every check is stateless per row.
    *
    * Contract differences vs the batch funnel, by construction:
    * INTRA-stream duplicates pass (a stateless guard cannot see an
    * identical doc earlier in the same stream — the batch dedup at the
    * store boundary owns that, same as the near-dup guard's contract),
    * and novelty keys are the 56-bit md5 prefix rather than the batch
    * funnel's full 128-bit hex (a prefix collision quarantines a clean
    * doc — the benign direction; odds ≈ n²/2⁵⁷). The spec pins
    * agreement with the batch stage decisions on indexed-corpus
    * duplicates and everything downstream. */
  def streamingCurateGuard(stream: DataFrame, existing: DataFrame,
                           test: DataFrame, lang: String = "en",
                           gramN: Int = 4, textCol: String = "text",
                           exactKeyLimit: Long = 4L * 1000 * 1000,
                           bloomFpp: Double = 0.01,
                           maxKeys: Long = 1L << 26): DataFrame = {
    import graft.operators.TextAnalysis
    val langOk = stream.filter(coalesce(
      TextAnalysis.predLangExpr(col(textCol)) === lang, lit(false)))
    val qualOk = streamingQualityFilter(langOk, 0L, 256, textCol)
    val index = keyIndex(
      existing.select(
        graft.operators.Dedup.md5Long(col(textCol)).as("_k")),
      exactKeyLimit, bloomFpp)
    val bIdx = qualOk.sparkSession.sparkContext.broadcast(index)
    val idx = qualOk.schema.fieldIndex(textCol)
    val novel = qualOk.filter { row =>
      // null text cannot reach here (the language gate drops it), but
      // stay defensive: a null is not novel evidence either way -> drop
      !row.isNullAt(idx) &&
        !bIdx.value.mightContain(textKeyJvm(row.getString(idx)))
    }
    streamingDecontaminate(novel, test, gramN, textCol, invert = false,
      maxKeys = maxKeys)
  }

  /** JVM twin of [[graft.operators.Dedup.md5Long]] over a raw text
    * value (NO trim/tokenize — the whole string's md5 top-7 bytes),
    * bit-identical to the column side so stream and batch novelty keys
    * cannot drift. */
  private[graft] def textKeyJvm(text: String): Long =
    md5_56(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** JVM twin of the column-side gram hashing
    * ([[graft.operators.TextAnalysis.ngrams]] + md5-prefix key), kept
    * BIT-IDENTICAL so streaming and batch decontamination agree on every
    * row: Spark's `trim` strips the space char only (not Java's
    * whitespace-≤U+0020 rule) and its `split` keeps leading empties
    * (Pattern.split with limit −1). */
  private[graft] def gramKeysJvm(text: String, n: Int): Iterator[Long] = {
    var s = text
    var a = 0; var b = s.length
    while (a < b && s.charAt(a) == ' ') a += 1
    while (b > a && s.charAt(b - 1) == ' ') b -= 1
    s = s.substring(a, b)
    val toks = s.split("\\s+", -1)
    if (toks.length < n) Iterator.empty
    else (0 to toks.length - n).iterator.map(i =>
      md5_56(toks.slice(i, i + n).mkString(" ")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)))
  }

  /** Watermarked per-hour event statistics — the canonical streaming agg
    * shape (readStream → watermark → windowed groupBy → writeStream).
    * `events` must carry a TimestampType `ts` column. */
  def eventStats(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        avg(col("value")).as("avg_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n_events"), col("avg_value"))
}
