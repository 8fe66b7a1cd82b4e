package graft.streaming

import graft.api.{CurationDB, FingerprintStore, FuzzyKeyStore,
  MinHashDedupStore, SemanticDedupStore, SubstringDedupStore}
import org.apache.spark.sql.DataFrame

/** Structured Streaming → durable-store bridge: `foreachBatch` sinks
  * that map the stream's batchId onto a store epoch EXACTLY ONCE.
  *
  * The problem this closes: `foreachBatch` gives at-least-once
  * delivery — after a restart the engine re-invokes the function with
  * the LAST batch (same batchId) whenever it cannot prove the batch
  * completed. A plain `store.append` under replay would either fail
  * loudly (the id-disjointness guard) or, worse for stores without one,
  * double-apply. Each sink here calls the store's token-carrying
  * `append(batch, token = batchToken(batch, batchId))`, which rides the
  * [[graft.api.EpochStoreKit]] token protocol: the token file is
  * written between the epoch's artifacts and its commit marker, so
  *  - a replayed batchId that already committed is a NO-OP;
  *  - a crash before the token leaves invisible litter the replay
  *    overwrites;
  *  - a crash between token and commit marker converges on replay
  *    (same inputs — the epoch never committed, so the store state the
  *    recomputation reads is unchanged);
  * making batchId → epoch a total, idempotent mapping and the durable
  * stores a legal exactly-once streaming sink (StreamingSpec gates the
  * replay, the torn window, and stream-built ≡ batch-built).
  *
  * Usage:
  * {{{
  *   docs.writeStream
  *     .option("checkpointLocation", ckpt)
  *     .foreachBatch(StoreSink.minhash(store))
  *     .start()
  * }}}
  *
  * The batch schema is the store's append schema (e.g. (_id, simhash)
  * for [[FingerprintStore]]). Ordering/disjointness contracts are the
  * stores' own (e.g. [[FuzzyKeyStore]]'s strictly-increasing ids) —
  * violations fail the query loudly, they are not swallowed.
  *
  * The reference's ingest loop is a single-process add_version call
  * chain (reference temporal_database.py) — this is its
  * streaming-deployment counterpart for the curation stores.
  */
object StoreSink {

  /** The idempotence token of a micro-batch — the one token function of
    * every streaming writer (these sinks, [[StreamingIngest.start]] and
    * the live artifacts). Batch ids restart at 0 for every new
    * checkpoint, so the token is scoped by the query's id, which Spark
    * persists in the checkpoint and sets as the `sql.streaming.queryId`
    * local property on the micro-batch thread: a restart from the same
    * checkpoint replays under the same tokens, a query on a fresh
    * checkpoint never matches an earlier query's. Outside a query (a
    * direct call) the token is `stream-<batchId>`. */
  private[graft] def batchToken(batch: DataFrame, batchId: Long): String =
    Option(batch.sparkSession.sparkContext
        .getLocalProperty("sql.streaming.queryId"))
      .fold(s"stream-$batchId")(q => s"stream-$q-$batchId")

  /** Sink a stream of (doc_id, text) into a [[SubstringDedupStore]]. */
  def substring(store: SubstringDedupStore)
      : (DataFrame, Long) => Unit =
    (batch, batchId) => { store.append(batch, batchToken(batch, batchId)); () }

  /** Sink a stream of (_id, simhash) into a [[FingerprintStore]]. */
  def fingerprint(store: FingerprintStore): (DataFrame, Long) => Unit =
    (batch, batchId) => { store.append(batch, batchToken(batch, batchId)); () }

  /** Sink a stream of (doc_id, key) into a [[FuzzyKeyStore]]. */
  def fuzzyKey(store: FuzzyKeyStore): (DataFrame, Long) => Unit =
    (batch, batchId) => { store.append(batch, batchToken(batch, batchId)); () }

  /** Sink a stream of (vec_id, embedding) into a
    * [[SemanticDedupStore]]. The staleness gate applies per batch — a
    * stream that drifts past `maxStaleFrac` fails the query loudly,
    * telling the operator to retrain() and restart (the checkpoint
    * resumes from the failed batch, whose token then commits it
    * exactly once). */
  def semantic(store: SemanticDedupStore): (DataFrame, Long) => Unit =
    (batch, batchId) => { store.append(batch, batchToken(batch, batchId)); () }

  /** Sink a stream of (idCol, textCol) into a [[MinHashDedupStore]]. */
  def minhash(store: MinHashDedupStore, idCol: String = "doc_id",
              textCol: String = "text"): (DataFrame, Long) => Unit =
    (batch, batchId) =>
      { store.append(batch, idCol, textCol, batchToken(batch, batchId)); () }

  /** Sink a stream of full curation rows (doc_id, text, key, embedding)
    * into a [[CurationDB]] — all five member stores advance exactly
    * once per batchId through the facade's shared-token protocol, so a
    * replay (or a crash after any subset of members committed) is
    * repaired by the engine re-delivering the batch. */
  def curation(db: CurationDB): (DataFrame, Long) => Unit =
    (batch, batchId) => { db.append(batch, batchToken(batch, batchId)); () }
}
