package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** INCREMENTAL exact duplicated-span dedup — the maintained-index
  * counterpart of [[SuffixArray.substringDeduped]], for the deployment
  * shape that actually runs at 100 TB: a GROWING corpus deduped after
  * every append. The suffix-rank path rebuilds its doubling pyramid from
  * scratch on every run because rank values are corpus-relative; here
  * every `window`-token span is keyed by CONTENT instead — a 112-bit
  * md5-derived pair, a pure function of the span's tokens — so a
  * persisted per-key index extends under append without touching the
  * base corpus (the same economics that justified
  * [[Retrieval.PostingsIndex]]'s maintained postings and the facade's
  * incremental `cacheBases`).
  *
  * Semantics are IDENTICAL to [[SuffixArray.substringDeduped]] (Lee et
  * al. 2022 keep-one removal with the canonical veto; q101's oracle
  * replays the rank formulation and q111 hash-matches this one against
  * it): window equality by exact token content, canonical occurrence =
  * least (doc_id, pos), removal + token-space rebuild via the shared
  * [[SuffixArray.rebuildWithVeto]] tail.
  *
  * APPEND CONTRACT: every appended doc_id must STRICTLY EXCEED every
  * base doc_id (checked, fails loudly). That ordering is what makes the
  * index extension sound: group minima never move (a new occurrence can
  * never undercut a stored keep), so a base window's canonical /
  * non-canonical status is INVARIANT under append, and the only base
  * docs whose rebuilt text can change are those owning a window that was
  * UNIQUE in the base and is duplicated by the batch (unique → newly
  * canonical, which can re-activate the canonical veto over a position a
  * non-canonical window covers). [[appendDeduped]] recomputes exactly
  * those docs (id-keyed semi-join — partition-prunable at lake scale)
  * plus the new batch, and carries every other base row from the
  * persisted previous result untouched.
  *
  * Cost shape per append: map-only window hashing of the BATCH, one
  * batch-sized key aggregation, key-equi joins against the index, and
  * the rebuild tail over (batch + touched) docs only. The base corpus is
  * read only for the touched docs' texts and one min/max-statistics scan
  * of its id column (the append-ordering guard). Compare the from-scratch
  * suffix path: log(W) full-corpus shuffle rounds per run — the bench
  * artifact records the gap.
  *
  * Trade vs the rank path, stated honestly: content keys hash W tokens
  * per position (O(N·W) map work vs the pyramid's O(N log W) shuffled
  * work) and window equality is 112-bit-hash-exact rather than
  * rank-exact — the pairwise collision odds are 2^-113+ and the birthday
  * bound over 10^13 windows (a 100 TB corpus) is ~10^-8, far below the
  * 56-bit r0 odds the suffix path itself already accepts at that scale.
  *
  * The reference engine has no substring machinery at all (its dedup
  * surface is vector-level; see reference storage_engine.py) — this is
  * part of the training-data-pipeline tier.
  */
object SubstringIndex {

  private val KeyCols = Seq("k1", "k2")

  private def checkWindow(window: Int): Unit =
    require(window >= 1 && window <= (1 << 24),
      s"window out of range: $window")

  /** Per-window content keys, MAP-ONLY: one row per `window`-token span
    * of every doc at every alignment — (doc_id, pos, k1, k2), where
    * (k1, k2) are the two 56-bit halves of md5 over the space-joined
    * span tokens (one hash per window; 112 bits total). Docs shorter
    * than `window` tokens emit nothing. No shuffle: tokenize, slide,
    * hash inside one projection. */
  def windowKeys(docs: DataFrame, window: Int,
                 idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame = {
    checkWindow(window)
    val tk = docs
      .where(length(trim(col(textCol))) > 0)
      .select(col(idCol).cast("long").as("doc_id"),
        TextAnalysis.tokens(col(textCol)).as("_tk"))
      .where(size(col("_tk")) >= window)
    tk.select(col("doc_id"), explode(transform(
        sequence(lit(0), size(col("_tk")) - window),
        i => struct(i.cast("long").as("pos"),
          md5(concat_ws(" ", slice(col("_tk"), i + 1, lit(window)))
            .cast("binary")).as("h")))).as("_x"))
      .select(col("doc_id"), col("_x.pos").as("pos"),
        conv(substring(col("_x.h"), 1, 14), 16, 10).cast("long").as("k1"),
        conv(substring(col("_x.h"), 15, 14), 16, 10).cast("long").as("k2"))
  }

  /** The persistable index artifact: per window key, the canonical
    * occurrence (`keep` = least (doc_id, pos) struct) and the occurrence
    * count — (k1, k2, keep, occ). ONE keyed aggregation (map-side
    * partial combine); text never shuffles. Write it beside the store
    * and [[extendIndex]] it per append. */
  def buildIndex(docs: DataFrame, window: Int,
                 idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame =
    windowKeys(docs, window, idCol, textCol)
      .groupBy(KeyCols.map(col): _*)
      .agg(min(struct(col("doc_id"), col("pos"))).as("keep"),
        count(lit(1)).as("occ"))

  /** Dedup a corpus straight from a prebuilt [[buildIndex]] /
    * [[extendIndex]] / merged-streaming-partial index over EXACTLY that
    * corpus — output-identical to [[SuffixArray.substringDeduped]]
    * (spec-gated; the declared query shares q101's rank-formulation
    * oracle) without re-paying the per-key aggregation: the corpus'
    * windows re-derive map-only and equi-join the index's
    * duplicated keys (occ ≥ 2) for their canonical flags, then the
    * shared veto-rebuild tail runs. This is what a deployment holding
    * the maintained index (e.g. the streaming-committed partials,
    * [[graft.streaming.StreamingIngest.readSubstringIndex]]) runs at
    * dedup time — the expensive key aggregation already happened at
    * ingest. */
  def dedupeWithIndex(docs: DataFrame, index: DataFrame, window: Int,
                      idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame = {
    checkWindow(window)
    val d = docs.select(col(idCol).cast("long").as("doc_id"),
      col(textCol).cast("string").as("text"))
    val flags = windowKeys(d, window, "doc_id", "text")
      .join(index.where(col("occ") >= 2L), KeyCols)
      .select(col("doc_id"), col("pos"),
        (col("doc_id") === col("keep.doc_id") &&
          col("pos") === col("keep.pos")).as("_canon"))
    SuffixArray.rebuildWithVeto(d, flags, window)
  }

  /** Extend a persisted index with an appended batch — the artifact for
    * the NEXT append round: full-outer key merge, keep = least of the
    * two sides' minima, occ = sum. Equals [[buildIndex]] over the union
    * by construction (spec-gated). */
  def extendIndex(index: DataFrame, newDocs: DataFrame, window: Int,
                  idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    val add = buildIndex(newDocs, window, idCol, textCol)
      .withColumnRenamed("keep", "_nk").withColumnRenamed("occ", "_no")
    index.join(add, KeyCols, "full_outer")
      .select(col("k1"), col("k2"),
        when(col("keep").isNull, col("_nk"))
          .when(col("_nk").isNull, col("keep"))
          .otherwise(least(col("keep"), col("_nk"))).as("keep"),
        (coalesce(col("occ"), lit(0L)) + coalesce(col("_no"), lit(0L)))
          .as("occ"))
  }

  /** The per-epoch index DELTA under append: merged (keep, occ) for
    * EXACTLY the batch-present keys — what a delta-epoch store persists
    * instead of [[extendIndex]]'s full merge. Latest-epoch-wins
    * resolution over a snapshot plus these deltas reconstructs
    * [[extendIndex]]'s output exactly (the merge is per-key, so a key
    * no batch touched is byte-identical to the last epoch that wrote
    * it; a touched key's merged value here IS the union value) —
    * spec-gated, and [[graft.api.SubstringDedupStore]]'s epoch-read ≡
    * from-scratch gate covers the composed chain. Cost: one batch-sized
    * aggregation + one key-equi join against the index; output rows =
    * batch-present keys, not corpus keys. */
  def extendIndexDelta(index: DataFrame, newDocs: DataFrame, window: Int,
                       idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame =
    buildIndex(newDocs, window, idCol, textCol)
      .withColumnRenamed("keep", "_nk").withColumnRenamed("occ", "_no")
      .join(index, KeyCols, "left")
      .select(col("k1"), col("k2"),
        when(col("keep").isNull, col("_nk"))
          .otherwise(least(col("keep"), col("_nk"))).as("keep"),
        (coalesce(col("occ"), lit(0L)) + col("_no")).as("occ"))

  /** Base docs whose rebuilt text the batch can change: owners of a
    * window UNIQUE in the base (occ == 1 ⇒ `keep` IS the owning
    * occurrence) that the batch duplicates. Package-private so the spec
    * gates the carry/recompute split directly. */
  private[graft] def touchedBaseIds(index: DataFrame,
                                    newAgg: DataFrame): DataFrame =
    index.where(col("occ") === 1L)
      .join(newAgg.select(KeyCols.map(col): _*), KeyCols, "left_semi")
      .select(col("keep.doc_id").as("doc_id")).distinct()

  /** Dedup an APPENDED batch against (base ∪ batch) and emit the full
    * union's results — hash-identical to from-scratch
    * [[SuffixArray.substringDeduped]] over the union (q111's oracle
    * replays exactly that) at batch-proportional cost:
    *
    *  - `baseDocs`: the base corpus (id, text) — read ONLY for the
    *    touched docs' texts (id-keyed semi-join) and the id-ordering
    *    guard's min/max scan;
    *  - `baseDeduped`: the PERSISTED previous result (the
    *    (doc_id, text, n_tokens_before, n_tokens_after) frame a prior
    *    [[SuffixArray.substringDeduped]] or appendDeduped run wrote) —
    *    carried through for every untouched base doc;
    *  - `index`: the persisted [[buildIndex]]/[[extendIndex]] artifact
    *    over exactly `baseDocs`;
    *  - `newDocs`: the appended batch; ids must strictly exceed every
    *    base id (fails loudly otherwise).
    *
    * Batch windows join the index to inherit base canonical minima;
    * touched base docs re-derive their (doc-local) window keys and
    * re-flag against the merged per-key stats; everything rebuilds via
    * the shared veto tail. Call [[extendIndex]] (and persist its output
    * + this result) to prepare the next round. */
  def appendDeduped(baseDocs: DataFrame, baseDeduped: DataFrame,
                    index: DataFrame, newDocs: DataFrame, window: Int,
                    idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    val (touched, changed, _) =
      appendCore(baseDocs, restrictOf(index), newDocs, window, idCol,
        textCol, pinIdxDelta = false)
    baseDeduped
      .select(col("doc_id").cast("long").as("doc_id"), col("text"),
        col("n_tokens_before"), col("n_tokens_after"))
      .join(touched, Seq("doc_id"), "left_anti")
      .unionByName(changed)
      .transform(Ckpt.eager)
  }

  /** [[appendDeduped]] WITHOUT the untouched-base carry — exactly the
    * rows the append CHANGED (the recomputed touched base docs + the
    * deduped batch), for the delta-epoch store shape: persist only
    * these per epoch and resolve on read by latest-epoch-wins per
    * doc_id (an untouched doc's latest row is its last epoch's, which
    * the carry would have copied verbatim). Same compute as
    * [[appendDeduped]] minus the carry anti-join; write volume is
    * |touched ∪ batch|, never |corpus|. */
  def appendDedupedDelta(baseDocs: DataFrame, index: DataFrame,
                         newDocs: DataFrame, window: Int,
                         idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame =
    appendCore(baseDocs, restrictOf(index), newDocs, window, idCol,
      textCol, pinIdxDelta = false)._2

  /** Both per-epoch deltas of a [[graft.api.SubstringDedupStore]]
    * append — (deduped delta, index delta) — over a KEY-RESTRICTED
    * index resolver instead of a materialized index frame: `indexFor`
    * receives a small distinct (k1, k2) key frame (the batch's keys,
    * then the touched docs' keys) and returns the resolved index rows
    * for exactly those keys. This removes the append's base-linear
    * latest-wins window (the store resolved its FULL index per append;
    * filtering on the window's own partition keys first is
    * resolution-transparent) — the stored index is scanned, never
    * shuffled. The index delta is the same merged batch-key stats the
    * dedup flags ride ([[extendIndexDelta]]'s output, value-identical
    * under the increasing-id guard: the base keep IS the union least). */
  def appendDeltas(baseDocs: DataFrame,
                   indexFor: DataFrame => DataFrame,
                   newDocs: DataFrame, window: Int,
                   idCol: String = "doc_id",
                   textCol: String = "text"): (DataFrame, DataFrame) = {
    // both results are already pinned, so the touched-id pin has no
    // consumer left: the caller's scope frees it with the results
    val (_, changed, idxDelta) =
      appendCore(baseDocs, indexFor, newDocs, window, idCol, textCol)
    (changed, idxDelta)
  }

  /** The resolver a MATERIALIZED index frame induces: restriction is a
    * semi-join on the requested keys (resolution-transparent — the
    * frame is already resolved), broadcast only while the key frame's
    * plan-statistics estimate stays under 256 MB
    * ([[graft.api.EpochStoreKit.guardedBroadcast]]; driver-side check,
    * zero extra jobs): the TOUCHED-doc key frame scales with
    * touched-doc text rather than batch size, so a batch overlapping
    * many base docs could push an unconditional broadcast past driver
    * memory — past the budget the join falls back to a shuffle
    * semi-join (identical result). */
  private def restrictOf(index: DataFrame): DataFrame => DataFrame =
    keys =>
      index.join(graft.api.EpochStoreKit.guardedBroadcast(
        index.sparkSession, keys), KeyCols, "left_semi")

  /** Shared core: (touched base ids, EAGER changed rows =
    * recomputed-touched ∪ deduped-batch, merged batch-key index delta).
    * The index is consumed ONLY through `indexFor`. `pinIdxDelta`
    * materializes the index delta eagerly — the STORE path, which
    * persists it per epoch; the query paths (appendDeduped /
    * appendDedupedDelta) DISCARD the delta, so pinning it there was a
    * pure extra materialization pass (the r14 q111 1.15-1.25× term —
    * attributed and removed, r15). Unpinned, the delta feeds its single
    * consumer (the batch flag join) lazily. */
  private def appendCore(baseDocs: DataFrame,
                         indexFor: DataFrame => DataFrame,
                         newDocs: DataFrame, window: Int,
                         idCol: String, textCol: String,
                         pinIdxDelta: Boolean = true)
      : (DataFrame, DataFrame, DataFrame) = {
    checkWindow(window)
    // id-ordering guard: a parquet min/max-statistics scan of the id
    // column on the base side, then a map-side raise_error on the batch
    // (no extra job for the batch)
    val mx = baseDocs.agg(max(col(idCol).cast("long"))).collect()
    val baseMax =
      if (mx.isEmpty || mx.head.isNullAt(0)) Long.MinValue
      else mx.head.getLong(0)
    val guardedId = {
      val id = col(idCol).cast("long")
      when(id <= baseMax, raise_error(concat(
        lit("appendDeduped: appended doc_id "), id,
        lit(s" does not exceed the base max id $baseMax — the index " +
          "extension is only sound for strictly increasing ids"))))
        .otherwise(id)
    }
    val nd = newDocs.select(guardedId.as("doc_id"),
      col(textCol).cast("string").as("text"))

    // batch window keys feed the per-key agg AND the flag join; per-key
    // agg feeds the merge AND the touched probe — persist the small
    // batch-sized frames across their consumers, free them once the
    // result is pinned (the curate/spanDedupStats lifetime contract:
    // the call is EAGER)
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val newKeys = windowKeys(nd, window, "doc_id", "text").persist(lvl)
    val newAgg = newKeys.groupBy(KeyCols.map(col): _*)
      .agg(min(struct(col("doc_id"), col("pos"))).as("_nk"),
        count(lit(1)).as("_no"))
      .persist(lvl)
    // the index rows for EXACTLY the batch-present keys — batch-sized,
    // pinned across its three consumers (merge, touched probe)
    val idxB = indexFor(newAgg.select(KeyCols.map(col): _*))
      .persist(lvl)

    // merged stats for keys PRESENT IN THE BATCH: base keep wins when
    // both sides hold the key (appended ids strictly exceed base ids,
    // so the base minimum is the union minimum) — this frame IS the
    // epoch's index delta (pinned only on the store path; see the doc)
    val idxDelta0 = newAgg.join(idxB, KeyCols, "left")
      .select(col("k1"), col("k2"),
        when(col("keep").isNull, col("_nk")).otherwise(col("keep"))
          .as("keep"),
        (coalesce(col("occ"), lit(0L)) + col("_no")).as("occ"))
    val idxDelta = if (pinIdxDelta) Ckpt.eager(idxDelta0) else idxDelta0
    val newFlags = newKeys
      .join(idxDelta.where(col("occ") >= 2L), KeyCols)
      .select(col("doc_id"), col("pos"),
        (col("doc_id") === col("keep.doc_id") &&
          col("pos") === col("keep.pos")).as("_canon"))
    val newOut = SuffixArray.rebuildWithVeto(nd, newFlags, window)

    // touched base docs re-derive their doc-local window keys and
    // re-flag against (index stats + batch deltas); every window of a
    // base doc is in the index, so the inner-joined base side is always
    // present and `keep` never needs the batch minimum
    // pinned: consumed by tb's semi-join during materialization below
    // AND by appendDeduped's carry anti-join after this returns
    val touched = Ckpt.eager(touchedBaseIds(idxB, newAgg))
    val tb = baseDocs.select(col(idCol).cast("long").as("doc_id"),
        col(textCol).cast("string").as("text"))
      .join(touched, Seq("doc_id"), "left_semi")
    val tKeys = windowKeys(tb, window, "doc_id", "text").persist(lvl)
    val idxT = indexFor(tKeys.select(KeyCols.map(col): _*).distinct())
    val tFlags = tKeys
      .join(idxT, KeyCols)
      .join(newAgg.select(col("k1"), col("k2"), col("_no")),
        KeyCols, "left")
      .withColumn("_occ", col("occ") + coalesce(col("_no"), lit(0L)))
      .where(col("_occ") >= 2L)
      .select(col("doc_id"), col("pos"),
        (col("doc_id") === col("keep.doc_id") &&
          col("pos") === col("keep.pos")).as("_canon"))
    val tOut = SuffixArray.rebuildWithVeto(tb, tFlags, window)

    val changed = tOut.unionByName(newOut).transform(Ckpt.eager)
    newKeys.unpersist(false)
    newAgg.unpersist(false)
    idxB.unpersist(false)
    tKeys.unpersist(false)
    (touched, changed, idxDelta)
  }
}
