package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The end-to-end training-data curation pipeline — the composition a
  * 100 TB corpus actually runs, assembled from the stage operators this
  * library proves one by one: language filter → quality-classifier gate →
  * exact dedup → eval-suite decontamination → deterministic split
  * assignment. Every stage decision is integer/hash-exact, so the FULL
  * composition replays bit-for-bit in an external engine (q90's oracle
  * runs the whole funnel in SQL), and the kept set is append-stable and
  * partition-invariant end to end.
  *
  * Scale shape, stage by stage:
  *   1. language + quality gates are PURE column predicates
  *      ([[TextAnalysis.predLangExpr]], [[QualityModels.marginExpr]] — a
  *      per-row long fold): map-only, applied at the scan, no shuffle.
  *   2. exact dedup is ONE text-hash-keyed aggregation; the canonical
  *      pick joins back on the SAME hash key so the exchange is reused
  *      across both consumers (the q18/q83 discipline).
  *   3. decontamination explodes survivor n-grams to 8-byte md5 keys and
  *      probes the BROADCAST distinct gram-key set of the (corpus-≪)
  *      eval suite ([[TextAnalysis.decontaminate]]); the dirty-id
  *      anti-join back is key-only.
  *   4. split assignment is a map-only md5 ppm draw
  *      ([[TextAnalysis.assignSplit]]).
  * The only corpus-sized shuffles are the dedup hash agg and its
  * join-back; text itself crosses the wire once (into the dedup agg's
  * canonical pick it never travels — only 16-byte (hash, id) rows).
  */
object Pipeline {

  /** Run the curation funnel over `docs` against a held-out `evalSuite`.
    * Returns one row per SURVIVING document: (doc_id, split, n_tokens) —
    * the training manifest a tokenizer shards from. Stage semantics:
    * keep docs predicted `lang`, with non-negative classifier margin,
    * that are the minimum-id copy of their exact text, and that share NO
    * `gramN`-gram with the eval suite; then assign train/val/test by the
    * md5 ppm draw. `docs` needs (doc_id, text); `evalSuite` needs text.
    *
    * The decontamination stage DROPS contaminated documents whole (the
    * q53/q90 rule — one shared gram disqualifies). When the corpus is
    * precious, excise instead: run
    * [[SuffixArray.evalDecontaminatedText]] (q109) upstream to cut
    * exactly the eval-shared spans and keep each document's clean
    * text, then feed the rebuilt corpus through this funnel. And when
    * split leakage matters more than the naive draw,
    * [[assignSplitLeakageSafe]] (q108) replaces the final stage.
    */
  def curate(docs: DataFrame, evalSuite: DataFrame,
             lang: String = "en", gramN: Int = 4,
             splits: Seq[(String, Long)] = Seq(
               ("train", 800000L), ("val", 100000L), ("test", 100000L)))
      : DataFrame = {
    // the dedup survivors feed TWO consumers (the gram explode and the
    // final anti-join), so the gated-scan + dedup prefix is persisted
    // across them — without the pin each consumer would re-run the full
    // text scan and canonical pick (the spanDedupStats lifetime
    // contract: result checkpoint-backed, temp freed eagerly, so the
    // call is EAGER — it runs jobs)
    val deduped = dedupStage(docs, lang)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = finishStages(deduped, evalSuite, gramN, splits)
      .transform(Ckpt.eager)
    deduped.unpersist(false)
    out
  }

  /** Per-stage funnel accounting for [[curate]] — the observability a
    * production pipeline reports beside its manifest: one row per stage
    * with the documents (and their tokens) the funnel REMOVED there,
    * plus the `kept` row. Attribution follows the funnel order exactly —
    * a document failing several gates counts at the FIRST (language
    * before quality before duplicate before contaminated), so the rows
    * partition the input and the counts sum to it.
    *
    * Scale shape: the gate predicates and token counts ride ONE map-only
    * projection of the corpus (narrow 4-column rows after it — text
    * never joins); the dedup/decontam attributions join back as id-only
    * flag frames on doc_id; the output aggregation is 5 rows. The dedup
    * survivors persist across their two consumers as in [[curate]] (the
    * call is eager). */
  def funnelStats(docs: DataFrame, evalSuite: DataFrame,
                  lang: String = "en", gramN: Int = 4): DataFrame = {
    val deduped = dedupStage(docs, lang)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = funnelStatsBody(docs, deduped, evalSuite, lang, gramN)
      .transform(Ckpt.eager)
    deduped.unpersist(false)
    out
  }

  /** [[funnelStats]] without the persist/checkpoint pins — plan-shape
    * inspection only (the pins hide the joins behind a checkpoint
    * scan; the un-pinned dedup prefix re-derives per consumer). */
  private[graft] def funnelStatsPlan(docs: DataFrame, evalSuite: DataFrame,
                                     lang: String = "en",
                                     gramN: Int = 4): DataFrame =
    funnelStatsBody(docs, dedupStage(docs, lang), evalSuite, lang, gramN)

  private def funnelStatsBody(docs: DataFrame, deduped: DataFrame,
                              evalSuite: DataFrame, lang: String,
                              gramN: Int): DataFrame = {
    val base = docs.select(col("doc_id"),
      TextAnalysis.tokenCount(col("text")).as("_nt"),
      (TextAnalysis.predLangExpr(col("text")) === lang).as("_lok"),
      (QualityModels.marginExpr(col("text")) >= 0L).as("_qok"))
    val keptIds = deduped.select(col("doc_id"), lit(true).as("_kept"))
    val dirtyIds = TextAnalysis.decontaminate(deduped, evalSuite, gramN)
      .select(col("doc_id"), lit(true).as("_dirty"))
    base
      .join(keptIds, Seq("doc_id"), "left")
      .join(dirtyIds, Seq("doc_id"), "left")
      .withColumn("stage",
        // coalesce: a NULL-text doc yields NULL gate flags; without it
        // the first two branches are skipped and the row misattributes
        // to 'duplicate'. Null text fails the language gate.
        when(!coalesce(col("_lok"), lit(false)), "language")
          .when(!coalesce(col("_qok"), lit(false)), "quality")
          .when(col("_kept").isNull, "duplicate")
          .when(col("_dirty").isNotNull, "contaminated")
          .otherwise("kept"))
      .groupBy("stage")
      .agg(count(lit(1)).as("n_docs"), sum("_nt").as("n_tokens"))
  }

  /** The [[curate]] pipeline without the persist/checkpoint pins —
    * plan-shape inspection only (the pins hide the joins behind a
    * checkpoint scan). */
  private[graft] def curatePlan(docs: DataFrame, evalSuite: DataFrame,
                                lang: String = "en", gramN: Int = 4,
                                splits: Seq[(String, Long)] = Seq(
                                  ("train", 800000L), ("val", 100000L),
                                  ("test", 100000L))): DataFrame =
    finishStages(dedupStage(docs, lang), evalSuite, gramN, splits)

  /** Stages 1–3: map-only language + margin gates (pushed to the scan),
    * then the exact-dedup hash agg + same-key join-back (exchange
    * reuse); keeps the minimum-id copy of each distinct text. */
  private def dedupStage(docs: DataFrame, lang: String): DataFrame = {
    val gated = docs.where(
      TextAnalysis.predLangExpr(col("text")) === lang &&
        QualityModels.marginExpr(col("text")) >= 0L)
      .select(col("doc_id"), col("text"))
    val hashed = gated.withColumn("_h", md5(col("text").cast("binary")))
    val canon = hashed.groupBy("_h").agg(min("doc_id").as("_keep"))
    hashed.join(canon, "_h")
      .where(col("doc_id") === col("_keep"))
      .select(col("doc_id"), col("text"))
  }

  /** Stages 4–5: eval-suite decontamination (any shared gram
    * disqualifies — the q53 rule; the graded q84 form slots into the
    * same anti-join if a deployment prefers a ratio threshold), then the
    * map-only split draw and the manifest projection. */
  private def finishStages(deduped: DataFrame, evalSuite: DataFrame,
                           gramN: Int,
                           splits: Seq[(String, Long)]): DataFrame = {
    val dirty = TextAnalysis.decontaminate(deduped, evalSuite, gramN)
      .select("doc_id")
    val clean = deduped.join(dirty, Seq("doc_id"), "left_anti")
    TextAnalysis.assignSplit(clean, "doc_id", splits)
      .select(col("doc_id"), col("split"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"))
  }

  /** Leakage-safe split assignment: near-duplicate CLUSTERS land whole
    * in one split. The naive per-doc draw ([[TextAnalysis.assignSplit]])
    * leaks — a near-duplicate pair split across train/test inflates
    * eval by construction (the reason dedup-before-split is a standing
    * rule in the dedup literature). Here every document draws on its
    * duplicate-cluster REPRESENTATIVE (the component minimum from
    * [[Closure.components]] over `pairs`; unpaired docs are
    * their own representative, so they draw exactly as the naive
    * assignment would), which makes the split a pure function of the
    * cluster: all members land together, and the assignment stays
    * append-stable for untouched clusters. Output: all `docs` columns +
    * `rep` + `split`. Cost: the CC closure over the pair graph (pairs
    * are near-dup-sized, not corpus-sized) + one id-keyed left join +
    * the map-only draw. */
  def assignSplitLeakageSafe(docs: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id",
      splits: Seq[(String, Long)] = Seq(
        ("train", 800000L), ("val", 100000L), ("test", 100000L)))
      : DataFrame = {
    val comp = Closure.components(pairs)
      .withColumnRenamed("id", idCol)
    val withRep = docs.join(comp, Seq(idCol), "left")
      .withColumn("rep",
        coalesce(col("component"), col(idCol).cast("long")))
      .drop("component")
    TextAnalysis.assignSplit(withRep, "rep", splits)
  }

  /** Record-level corpus diff — the companion to [[datasetManifest]]:
    * the manifest says WHETHER two publishes differ, this says WHICH
    * rows. Full outer join on the id comparing 56-bit content keys
    * (md5 of the text — text itself never shuffles; each side reduces
    * to (id, key) at its scan): one row per drifted id with status
    * `added` (only in `after`), `removed` (only in `before`), or
    * `changed` (both, different bytes); unchanged rows are dropped.
    * The join is id-keyed equi — co-partitioned at lake scale when both
    * snapshots share a layout, AQE otherwise. */
  def corpusDiff(before: DataFrame, after: DataFrame,
                 idCol: String = "doc_id", textCol: String = "text")
      : DataFrame = {
    // presence flags, not key-nullness: a NULL text must read as
    // "present with null content", never as a missing row
    def keyed(df: DataFrame, side: String): DataFrame =
      df.select(col(idCol),
        Dedup.md5Long(concat(col(idCol).cast("string"), lit(":"),
          col(textCol))).as(s"_k_$side"),
        lit(true).as(s"_p_$side"))
    keyed(before, "b").join(keyed(after, "a"), Seq(idCol), "full_outer")
      .withColumn("status",
        when(col("_p_b").isNull, "added")
          .when(col("_p_a").isNull, "removed")
          .when(!(col("_k_a") <=> col("_k_b")), "changed"))
      .where(col("status").isNotNull)
      .select(col(idCol), col("status"))
  }

  /** Per-group dataset publish manifest — the reproducibility artifact a
    * 100 TB publish step emits beside the data: row/token counts, id
    * bounds, and two ORDER-INVARIANT checksums (sums of 56-bit md5 keys
    * mod 2^56 — partition layout, task order and engine cannot change
    * them; exact integer arithmetic throughout, decimal(38,0)
    * accumulation so no row count can overflow the sum).
    *
    *  - `id_checksum` over the ids alone: detects membership drift
    *    (a dropped/added/duplicated row) even when counts collide.
    *  - `content_checksum` over md5(id ‖ ":" ‖ text): binds each id to
    *    its exact bytes — any single-character edit, id remap or
    *    text swap between rows changes it.
    *
    * One hash aggregation; text never shuffles (the md5 reduces each
    * row to a long at the scan). Two manifests are comparable iff their
    * groups match row-for-row — the "did the rebuild produce the same
    * dataset" audit without re-reading either side. */
  def datasetManifest(docs: DataFrame, groupCol: String,
                      idCol: String = "doc_id", textCol: String = "text",
                      counter: Column => Column =
                        TextAnalysis.subtokenCount): DataFrame = {
    val mod = lit(72057594037927936L) // 2^56
    def ck(c: Column): Column =
      pmod(sum(c.cast("decimal(38,0)")) % mod.cast("decimal(38,0)"),
        mod.cast("decimal(38,0)")).cast("long")
    docs.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(counter(col(textCol))).as("n_tokens"),
        min(col(idCol)).as("min_id"), max(col(idCol)).as("max_id"),
        ck(Dedup.md5Long(col(idCol).cast("string"))).as("id_checksum"),
        ck(Dedup.md5Long(concat(col(idCol).cast("string"), lit(":"),
          col(textCol)))).as("content_checksum"))
  }
}
