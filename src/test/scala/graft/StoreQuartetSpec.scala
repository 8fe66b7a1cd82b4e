package graft

import graft.api.{FingerprintStore, FuzzyKeyStore, MinHashDedupStore, SemanticDedupStore, SubstringDedupStore}
import graft.operators.{Closure, Clustering, Dedup, SuffixArray}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** CROSS-STORE INTEGRATION: one corpus, all five durable stores
  * (substring, fingerprint, fuzzy-key, semantic, MinHash near-dup),
  * one base→append cycle each — every store's kept-read must equal its
  * family's from-scratch chain over the union, AND the COMPOSED
  * curation filter (a doc survives iff it survives every family) must
  * be identical whether derived from the five maintained stores or
  * from five from-scratch runs. This is the deployment shape: a
  * curation pipeline applies all the dedup families to the same corpus
  * and appends batches over time; per-family equivalence does not by
  * itself guarantee the stores agree on ONE corpus with shared ids —
  * this gate does. (Historically the quartet gate; round 13 made it a
  * quintet.) */
class StoreQuartetSpec extends SparkSpec {
  import spark.implicits._

  private val W = 4

  // one corpus: doc_id, text (substring + fingerprint families), key
  // (fuzzy family), embedding (semantic family). Batch ids strictly
  // above base ids — satisfies every store's append contract at once.
  private def docRows(ids: Seq[Long], texts: Seq[String],
                      keys: Seq[String],
                      vecs: Seq[Seq[Float]]): DataFrame = {
    ids.indices.map(i => (ids(i), texts(i), keys(i), vecs(i)))
      .toDF("doc_id", "text", "key", "embedding")
  }

  private def base: DataFrame = docRows(
    Seq(1L, 2L, 3L, 4L, 5L, 6L),
    Seq(
      "a b c d e f g h",        // 1: substring-overlaps 2
      "x1 a b c d x2 x3 x4",    // 2
      "p q r s t u v w",        // 3
      "p q r s t u v w",        // 4: exact text dup of 3 (fingerprint)
      "m n o p q r s t",        // 5
      "j k l m n o p q"         // 6
    ),
    Seq("alpha", "alphb", "gamma", "delta", "epsln", "zetaa"),
    Seq(
      Seq(1f, 0.01f, 0f, 0f), Seq(1f, 0.02f, 0f, 0f), // semantic pair
      Seq(0f, 1f, 0f, 0f), Seq(0f, 0f, 1f, 0f),
      Seq(0.7f, 0.7f, 0f, 0f), Seq(0f, 0.6f, 0.8f, 0f)))

  private def batch: DataFrame = docRows(
    Seq(10L, 11L),
    Seq(
      "z1 p q r s z2 z3 z4",    // 10: duplicates 3's base-unique window
      "a b c d e f g h"         // 11: exact text dup of 1
    ),
    Seq("alphc", "gammb"),      // both edit-1 of stored keys
    Seq(Seq(1f, 0.015f, 0f, 0f), Seq(0f, 0f, 0.99f, 0.05f)))

  private def ids(df: DataFrame, c: String = "doc_id"): Set[Long] =
    df.select(col(c).cast("long")).as[Long].collect().toSet

  test("five stores on one corpus: per-family kept-reads and the " +
    "COMPOSED curation filter both equal their from-scratch twins " +
    "after a shared base→append cycle") {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-quartet").toString
    val b = base.cache(); val a = batch.cache()
    val union = b.unionByName(a).cache()
    val allIds = union.select("doc_id")

    // --- init the quartet on the base, append the shared batch ---
    val sub = SubstringDedupStore.init(spark, s"$tmp/sub",
      b.select("doc_id", "text"), W)
    sub.append(a.select("doc_id", "text"))

    def hashesOf(df: DataFrame): DataFrame = df.select(
      col("doc_id").as("_id"),
      Dedup.simhashNative(col("text")).as("simhash"))
    val fp = FingerprintStore.init(spark, s"$tmp/fp", hashesOf(b),
      maxHamming = 3)
    fp.append(hashesOf(a))

    val fz = FuzzyKeyStore.init(spark, s"$tmp/fz",
      b.select("doc_id", "key"))
    fz.append(a.select("doc_id", "key"))

    val mh = MinHashDedupStore.init(spark, s"$tmp/mh",
      b.select("doc_id", "text"), tau = 0.5)
    mh.append(a.select("doc_id", "text"))

    val sm = SemanticDedupStore.init(spark, s"$tmp/sm",
      b.select(col("doc_id").as("vec_id"), col("embedding")),
      nCells = 2, iters = 2, tau = 0.95, maxStaleFrac = 1.0)
    sm.append(a.select(col("doc_id").as("vec_id"), col("embedding")))

    // --- per-family store reads vs from-scratch over the union ---
    val subKept = ids(sub.deduped)
    val subScratch = ids(
      SuffixArray.substringDeduped(union.select("doc_id", "text"), W))
    assert(subKept == subScratch)

    val fpKept = ids(fp.kept(allIds))
    val fpScratch = ids(Dedup.hashDeduped(allIds, "doc_id",
      hashesOf(union), maxHamming = 3))
    assert(fpKept == fpScratch)
    assert(!fpKept.contains(11L)) // the exact-text batch dup dropped

    // fuzzy keeps KEYS; map to the doc filter a pipeline applies: a doc
    // survives iff its key's rep survives and it IS the rep's carrier
    // (the q114b canonical policy lifted to docs)
    def fuzzyDocKept(kept: DataFrame): Set[Long] =
      ids(kept.select(col("rep").as("doc_id")))
    val fzKept = fuzzyDocKept(fz.keptKeys)
    val fzScratch = {
      val u = union.select("doc_id", "key")
      val keys = u.where(length(col("key")) > 0).groupBy("key")
        .agg(min(col("doc_id").cast("long")).as("rep"),
          count(lit(1)).as("cnt"))
      fuzzyDocKept(Dedup.dedupedCorpusCC(keys, "rep",
        Dedup.fuzzyKeyPairs(u, "key", "doc_id")
          .select(col("rep_a").as("id1"), col("rep_b").as("id2"))))
    }
    assert(fzKept == fzScratch)

    val smKept = ids(sm.kept(
      union.select(col("doc_id").as("vec_id")), "vec_id"), "vec_id")
    val smScratch = {
      val cents = sm.centroids
      val asg = Clustering.assignVecWithCentroids(
        union.select(col("doc_id").as("vec_id"), col("embedding")),
        cents)
      val comp = Closure.components(
        Dedup.assignmentDupPairs(asg, 0.95).select("id1", "id2"))
      val drop = Dedup.semanticDropIds(comp,
        asg.select(col("vec_id"), col("sim"))).as[Long].collect().toSet
      ids(allIds) -- drop
    }
    assert(smKept == smScratch)

    val mhKept = ids(mh.kept(allIds))
    val mhScratch = ids(Dedup.dedupedCorpusCC(allIds, "doc_id",
      Dedup.nearDupPairs(union.select("doc_id", "text"),
        "doc_id", "text", 0.5).select("id1", "id2")))
    assert(mhKept == mhScratch)
    assert(!mhKept.contains(4L) && !mhKept.contains(11L)) // exact dups

    // --- the COMPOSED curation filter: survive ALL five families ---
    val composedStores = subKept & fpKept & fzKept & smKept & mhKept
    val composedScratch =
      subScratch & fpScratch & fzScratch & smScratch & mhScratch
    assert(composedStores == composedScratch)
    // the composition is strictly tighter than any single family here:
    // each family drops at least one doc the others keep
    assert(composedStores.size < subKept.size)
    assert(composedStores.size < fzKept.size)
    assert(composedStores.size < smKept.size)
    assert(composedStores.nonEmpty)
  }
}
