package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, LongType, StructField, StructType}
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}

/** Training-sequence packing — the step between a curated corpus and a
  * pretraining dataloader. Two standard modes, both set-wise:
  *
  *  - [[packSequences]]: concat-and-chunk (the GPT-2 recipe) —
  *    conceptually concatenate every document's tokens in doc_id order
  *    and slice into fixed-length sequences; zero padding, documents
  *    cross boundaries. The output is the MANIFEST (which within-doc
  *    token span lands at which position of which sequence), the thing
  *    a distributed tokenizer job actually needs — it tells each task
  *    what to emit without materializing the concatenation anywhere.
  *  - [[packGreedy]]: boundary-respecting next-fit — documents are never
  *    split; each lands whole in the current sequence of its shard or
  *    opens a new one. Costs padding, preserves document integrity (the
  *    recipe for SFT/eval sets where crossing a boundary poisons the
  *    sample).
  *
  * Scale shape: packSequences rides [[TextAnalysis.packShards]]' global
  * running sum (two bounded window stages, no single-task window) plus
  * a map-only explode — nothing beyond q46's proven plan. packGreedy is
  * inherently sequential WITHIN a packing unit, so the corpus is first
  * hash-split into `shards` independent units and each packs in one
  * O(1)-memory streaming pass per shard (shards >> tasks recommended at
  * lake scale; a 1B-doc corpus at 100k shards is 10k docs per
  * sequential pass). Determinism: shard = doc_id mod shards and
  * doc_id-ordered next-fit, so output is a pure function of the corpus
  * — the DuckDB oracle replays it with a recursive CTE. */
object Packing {

  /** One row per (document, training sequence) overlap under
    * concat-and-chunk at `seqLen` tokens: `tok_from`/`tok_to` the
    * 0-based within-doc token span (end exclusive), `pos_in_seq` where
    * that span starts inside sequence `seq_id`. Empty documents pack
    * nowhere. */
  def packSequences(docs: DataFrame, seqLen: Long,
                    counter: Column => Column = TextAnalysis.subtokenCount,
                    bucketSize: Int = 4096): DataFrame =
    packSequencesFromCounts(docs.select(col("doc_id"),
      counter(col("text")).as("n_subtokens")), seqLen, bucketSize)

  /** [[packSequences]] from a PRECOMPUTED (doc_id, n_subtokens) counts
    * frame — same manifest, no text scan. The streaming read path:
    * counting (the expensive text pass) streams per batch, the
    * order-dependent running sum recomputes here over compact longs
    * (~16 bytes/doc — a billion-doc corpus is one cheap job). */
  def packSequencesFromCounts(counts: DataFrame, seqLen: Long,
                              bucketSize: Int = 4096): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive, got $seqLen")
    val pre = TextAnalysis.packShardsFromCounts(counts,
      tokenBudget = seqLen, bucketSize = bucketSize)
    val st = pre.where(col("n_subtokens") > 0)
      .withColumn("_start", col("cum_subtokens") - col("n_subtokens"))
    st.withColumn("seq_id", explode(sequence(
        expr(s"_start div ${seqLen}L"),
        expr(s"(cum_subtokens - 1) div ${seqLen}L"))))
      .select(col("doc_id"), col("seq_id"),
        greatest(lit(0L), col("seq_id") * seqLen - col("_start"))
          .as("tok_from"),
        least(col("n_subtokens"), (col("seq_id") + 1) * seqLen - col("_start"))
          .as("tok_to"),
        greatest(lit(0L), col("_start") - col("seq_id") * seqLen)
          .as("pos_in_seq"))
  }

  /** Next-fit packing that never splits a document: within shard
    * `doc_id mod shards`, documents in doc_id order land whole in the
    * running sequence or open the next one. Documents longer than
    * `seqLen` occupy a sequence alone, truncated to fit (`truncated`
    * marks them — upstream should have chunked these; the packer's
    * contract is one sample per doc). doc_id must be UNIQUE (duplicate
    * ids would make the packing order, and thus seq/offset assignment,
    * nondeterministic — the pass fails loudly on one). Output per doc:
    * shard, seq_in_shard (1-based), offset_in_seq, len_eff, truncated. */
  def packGreedy(docs: DataFrame, seqLen: Long, shards: Int,
                 counter: Column => Column = TextAnalysis.subtokenCount)
      : DataFrame = {
    require(seqLen > 0 && shards > 0,
      s"need positive seqLen/shards, got $seqLen/$shards")
    // the packing pass reads the long id directly
    Closure.requireIntegral(docs, "doc_id", "packGreedy")
    val d = docs.select(col("doc_id").cast("long").as("doc_id"),
        counter(col("text")).as("_n"))
      .where(col("_n") > 0)
      .withColumn("shard", pmod(col("doc_id"), lit(shards.toLong)))
      .withColumn("len_eff", least(col("_n"), lit(seqLen)))
      .withColumn("truncated", col("_n") > seqLen)
      .drop("_n")
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("shard", LongType, nullable = false),
      StructField("seq_in_shard", LongType, nullable = false),
      StructField("offset_in_seq", LongType, nullable = false),
      StructField("len_eff", LongType, nullable = false),
      StructField("truncated", BooleanType, nullable = false)))
    // all rows of a shard land in one partition; the pass resets its
    // running state at every shard change, so partitions holding many
    // shards stay correct
    d.repartition(col("shard"))
      .sortWithinPartitions("shard", "doc_id")
      .mapPartitions { it =>
        var curShard = Long.MinValue
        var seq = 0L
        var running = 0L
        var prevDoc = Long.MinValue
        it.map { r =>
          val doc = r.getLong(r.fieldIndex("doc_id"))
          val sh = r.getLong(r.fieldIndex("shard"))
          val len = r.getLong(r.fieldIndex("len_eff"))
          val tr = r.getBoolean(r.fieldIndex("truncated"))
          if (sh != curShard) {
            curShard = sh; seq = 0L; running = 0L; prevDoc = Long.MinValue
          }
          // duplicate ids are tie-rows in the (shard, doc_id) sort with
          // unspecified relative order — seq/offset assignment would be
          // nondeterministic across runs, breaking the oracle-replayable
          // contract. Equal ids land in the same shard and sort adjacent,
          // so the check is free in this pass.
          if (doc == prevDoc) throw new IllegalArgumentException(
            s"packGreedy: duplicate doc_id $doc — packing order (and " +
              "thus seq/offset assignment) would be nondeterministic; " +
              "dedup ids upstream")
          prevDoc = doc
          val (s2, off, run2) =
            if (seq == 0L || running + len > seqLen) (seq + 1, 0L, len)
            else (seq, running, running + len)
          seq = s2; running = run2
          Row(doc, sh, s2, off, len, tr)
        }
      }(Encoders.row(schema))
  }
}
