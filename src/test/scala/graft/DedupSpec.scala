package graft

import graft.operators.{Ckpt, Closure, Dedup}
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again"),
    (2L, "quick brown fox jumps over the lazy dog again and again"), // near-dup of 1
    (3L, "completely different words about spark engines and columnar io"),
    (4L, "the quick brown fox jumps over the lazy dog again and again"), // exact dup of 1
    (5L, "tiny")
  ).toDF("doc_id", "text")

  test("shingles produces n-grams; short docs produce none") {
    val sh = docs.select(col("doc_id"),
      size(Dedup.shingles(col("text"), 3)).as("n"))
      .as[(Long, Int)].collect().toMap
    assert(sh(1L) == 10) // 12 tokens -> 10 trigrams
    assert(sh(5L) == 0)
  }

  test("minhash LSH finds the near-dup and exact-dup pairs, not the unrelated") {
    val pairs = Dedup.nearDupPairs(docs, "doc_id", "text", tau = 0.5)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L))) // exact
    assert(pairs.contains((1L, 2L))) // near
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("exact-dup collapse: band candidates stay linear in group size " +
    "and the pair output equals the uncollapsed contract") {
    // a crawl-shaped corpus: 80 byte-identical copies of one page plus a
    // handful of distinct docs — the shape where uncollapsed banding
    // floods every bucket with e² candidate pairs
    val e = 80
    val copies = (1 to e).map(i =>
      (i.toLong, "the quick brown fox jumps over the lazy dog again and again"))
    val others = Seq(
      (900L, "completely different words about spark engines and columnar io"),
      (901L, "another unrelated document concerning parquet row group sizes"))
    val heavy = (copies ++ others).toDF("doc_id", "text")

    // the collapse stage feeds the band join ONE row per distinct text...
    val (sig0, mem, repSig) =
      Dedup.exactCollapsed(heavy, "doc_id", "text", 3, 16)
    assert(repSig.count() == 3) // 3 distinct texts, not 82 rows
    assert(mem.count() == 82)
    // ...so the banded self-join over reps yields ~|distinct texts|²
    // worst-case candidates, NOT C(80,2)·bands — here the 3 distinct
    // texts share no band bucket at all
    assert(Dedup.bandCandidates(repSig, 16, 4).count() == 0)
    // the UNCOLLAPSED band join on the same corpus is the e² shape the
    // collapse avoids: every copy pair is a candidate
    assert(Dedup.minhashCandidates(heavy, "doc_id", "text").count() ==
      e.toLong * (e - 1) / 2)
    sig0.unpersist(false); repSig.unpersist(false)

    // output contract unchanged by the collapse: all C(80,2) exact pairs
    // at jaccard 1.0, nothing touching the unrelated docs
    val pairs = Dedup.nearDupPairs(heavy, "doc_id", "text", tau = 0.5)
    val rows = pairs.select("id1", "id2", "jaccard")
      .as[(Long, Long, Double)].collect()
    assert(rows.length == e * (e - 1) / 2)
    assert(rows.forall { case (a, b, j) => a < b && b <= e && j == 1.0 })
  }

  test("collapse gate: forced collapse, forced direct and the auto " +
    "probe return identical pairs on dup-heavy AND dup-free corpora") {
    val noDups = docs.where(col("doc_id") =!= 4L) // drop the exact dup
    for (corpus <- Seq(docs, noDups)) {
      def run(flag: Option[Boolean]) =
        Dedup.nearDupPairs(corpus, "doc_id", "text", tau = 0.5,
            collapseExactDups = flag)
          .select("id1", "id2", "jaccard")
          .as[(Long, Long, Double)].collect().toSet
      val auto = run(None)
      assert(run(Some(true)) == auto)   // collapse branch
      assert(run(Some(false)) == auto)  // direct branch
      assert(auto.nonEmpty)             // (1,2) at least
    }
  }

  test("jaccard of exact dup is 1.0") {
    val h = docs.where(col("doc_id").isin(1, 4))
      .select(array_distinct(Dedup.shingleHashes(col("text"), 3)).as("h"))
      .collect().map(_.getAs[collection.Seq[Long]]("h").toSeq)
    val j = Seq((h(0), h(1))).toDF("a", "b")
      .select(Dedup.jaccard(col("a"), col("b")).as("j"))
      .as[Double].collect()(0)
    assert(j == 1.0)
  }

  test("simhash: exact dups identical, near-dups close, unrelated far") {
    val sh = docs.select(col("doc_id"),
      Dedup.simhashNative(col("text")).as("s"))
      .as[(Long, Long)].collect().toMap
    assert(sh(1L) == sh(4L))
    val nearDist = java.lang.Long.bitCount(sh(1L) ^ sh(2L))
    val farDist = java.lang.Long.bitCount(sh(1L) ^ sh(3L))
    assert(nearDist < farDist)
    // every fingerprint stays within the declared 56-bit range
    assert(sh.values.forall(s => s >= 0 && s < (1L << Dedup.SimhashBits)))
  }

  test("compiled SimHashExpr is bit-identical to the HOF and explode+agg " +
    "twins, including empty/whitespace/unicode edge docs") {
    // 106-108: leading/trailing NON-SPACE whitespace — SQL trim strips
    // spaces only, so "abc\n" must tokenize to ["abc", ""] on both paths
    // (a Java String.trim in the kernel would silently drop the "" token)
    val edge = Seq((100L, ""), (101L, "   "), (102L, "one"),
      (103L, "héllo wörld ünïcode"), (104L, "a  b\t c\nd"),
      (105L, "the quick brown fox jumps over the lazy dog"),
      (106L, "abc\n"), (107L, "\tabc def"), (108L, " abc \n "))
      .toDF("doc_id", "text")
    val all = docs.unionByName(edge)
    val mismatchHof = all.select(
        Dedup.simhashNative(col("text")).as("fast"),
        Dedup.simhash56Hof(col("text")).as("ref"))
      .where(col("fast") =!= col("ref")).count()
    assert(mismatchHof == 0)
    val viaAgg = Dedup.simhashesAgg(all, "doc_id", "text")
    val viaNative = Dedup.simhashes(all, "doc_id", "text")
    assert(viaNative.exceptAll(viaAgg).isEmpty
      && viaAgg.exceptAll(viaNative).isEmpty)
    // bulk fingerprinting is map-only: no exchange in the scan
    val plan = viaNative.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("compiled MinHashExpr matches the explode+agg twin: signatures " +
    "value-identical, hash sets set-identical, short docs dropped alike") {
    // incl. trailing-newline doc: SQL trim keeps the "\n" so the empty
    // trailing token participates in shingles on both paths
    val edge = Seq((100L, ""), (101L, "one two"), (102L, "a b c a b c a b c"),
      (103L, "alpha beta gamma delta\n"), (104L, "\t x y z w"))
      .toDF("doc_id", "text")
    val all = docs.unionByName(edge)
    val fast = Dedup.minhashSignatures(all, "doc_id", "text", 3, 16)
    val ref = Dedup.minhashSignaturesAgg(all, "doc_id", "text", 3, 16)
    assert(fast.exceptAll(ref).isEmpty && ref.exceptAll(fast).isEmpty)
    // kernel's distinct-ascending hash set == collect_set's as a SET
    val kernelSets = all
      .select(col("doc_id"), Dedup.minhashNative(col("text"), 3, 16).as("m"))
      .select(col("doc_id"), col("m.hashes").as("h"))
      .as[(Long, Seq[Long])].collect().map(r => r._1 -> r._2.toSet).toMap
    val aggSets = all
      .select(col("doc_id"),
        explode(Dedup.shingleHashes(col("text"), 3)).as("x"))
      .groupBy("doc_id").agg(collect_set(col("x")).as("h"))
      .as[(Long, Seq[Long])].collect().map(r => r._1 -> r._2.toSet).toMap
    assert(kernelSets.filter(_._2.nonEmpty) == aggSets)
    // the signature stage is map-only: no exchange before the band join
    val plan = fast.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("banded simhashPairs equals brute-force within maxHamming (pigeonhole)") {
    val sh = docs.select(col("doc_id"),
      Dedup.simhashNative(col("text")).as("s"))
      .as[(Long, Long)].collect()
    for (maxH <- Seq(3, 6)) {
      val brute = (for {
        (i1, s1) <- sh; (i2, s2) <- sh if i1 < i2
        h = java.lang.Long.bitCount(s1 ^ s2) if h <= maxH
      } yield (i1, i2, h)).toSet
      val banded = Dedup.simhashPairs(docs, "doc_id", maxHamming = maxH)
        .as[(Long, Long, Int)].collect().toSet
      assert(banded == brute, s"maxHamming=$maxH")
    }
  }

  test("hashPairs identical-hash collapse: probe/forced/direct outputs " +
    "equal, and hashDeduped equals the pair-expanded corpus dedup") {
    // replica-heavy fingerprints: 3 hash classes carried by 12/10/8 rows
    // (groups > threshold 8 -> probe collapses) + near classes at
    // hamming 1-2 + isolated hashes
    val rows = (
      (0 until 12).map(i => (i.toLong, 0x0F0F0F0FL)) ++
      (100 until 110).map(i => (i.toLong, 0x0F0F0F0EL)) ++ // hamming 1
      (200 until 208).map(i => (i.toLong, 0x70F0F0F0L)) ++
      Seq((300L, 0x123456789AL), (301L, 0x123456789BL),     // hamming 1
        (400L, 0x7FFFFFFFFFFFFFL))                          // isolated
    )
    val hashes = rows.toDF("_id", "simhash")
    def pairSet(gate: Option[Boolean]) =
      Dedup.hashPairs(hashes, maxHamming = 3, collapseIdentical = gate)
        .as[(Long, Long, Int)].collect().toSet
    val direct = pairSet(Some(false))
    assert(pairSet(None) == direct)
    assert(pairSet(Some(true)) == direct)
    // the 12-clique + 10-clique merge through the hamming-1 rep pair
    assert(direct.exists(p => p._1 < 12 && p._2 >= 100 && p._3 == 1))

    val corpus = rows.map(_._1).toDF("doc_id")
    val viaPairs = Dedup.dedupedCorpusCC(corpus, "doc_id",
        Dedup.hashPairs(hashes, 3).select("id1", "id2"))
      .as[Long].collect().toSet
    val fused = Dedup.hashDeduped(corpus, "doc_id", hashes, 3)
      .as[Long].collect().toSet
    assert(fused == viaPairs)
    // one survivor for the merged 0/100 mass, one for the 200 clique,
    // one for the 300/301 pair, the isolated row untouched
    assert(fused == Set(0L, 200L, 300L, 400L))
  }

  test("simhash band value-space >= 2^14 at the default maxHamming (scale gate)") {
    // the banded self-join stays near-linear only if each band has enough
    // distinct values to keep bucket population ~N/2^width; the default
    // configuration (maxHamming=3 -> 4 bands over 56 bits) must never
    // regress below 14-bit bands
    val defaultMaxHamming = 3
    val minBandWidth = Dedup.SimhashBits / (defaultMaxHamming + 1)
    assert(minBandWidth >= 14,
      s"narrowest band is $minBandWidth bits; need >= 14 (2^14 values)")
    assert(Dedup.SimhashBits <= 62) // BIGINT-safe bit masks on both engines
  }

  test("dedupedCorpus keeps the lowest id of each duplicate group") {
    val pairs = Dedup.nearDupPairs(docs, "doc_id", "text", tau = 0.5)
    val survivors = Dedup.dedupedCorpus(docs, "doc_id", pairs)
      .select("doc_id").as[Long].collect().sorted.toSeq
    // 2 and 4 are near/exact dups of 1 -> dropped; 1, 3, 5 survive
    assert(survivors == Seq(1L, 3L, 5L))
  }

  test("embedding near-dup: LSH pairs are a subset of brute-force pairs") {
    val emb = (0 until 40).map { i =>
      val base = Array.tabulate(16)(j => math.sin(i * 17 + j).toFloat)
      (i.toLong, base)
    } ++ Seq((100L, Array.tabulate(16)(j => math.sin(0 * 17 + j).toFloat + 0.001f)))
    val df = emb.toDF("vec_id", "embedding")
    val brute = Dedup.embeddingNearDup(df, "vec_id", "embedding", 0.99)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    val lsh = Dedup.nearDupPairsLsh(df, "vec_id", "embedding", 0.99)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(brute.contains((0L, 100L)))
    assert(lsh.subsetOf(brute))
  }

  test("semanticContaminated: counts eval hits per corpus vector, " +
    "excludes below-threshold and zero-norm rows") {
    // orthogonal unit basis vectors: cosine is exactly 1 or 0
    def unit(k: Int) = Array.tabulate(8)(j => if (j == k) 1f else 0f)
    val corpus = Seq(
      (1L, unit(0)), // matches eval 10 exactly
      (2L, unit(1)), // matches eval 11 AND 12 (both along dim 1)
      (3L, unit(2)), // matches nothing
      (4L, Array.fill(8)(0f)) // zero norm: never matches, never crashes
    ).toDF("vec_id", "embedding")
    val eval = Seq(
      (10L, unit(0)),
      (11L, unit(1)),
      (12L, unit(1).map(_ * 2f)), // scaled copy: same direction, cos 1
      (13L, Array.fill(8)(0f)) // zero-norm EVAL row also excluded
    ).toDF("vec_id", "embedding")
    val got = Dedup.semanticContaminated(corpus, eval, tau = 0.5)
      .select("vec_id", "n_eval_hits")
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, 1L), (2L, 2L)))
    // raising tau above 1.0 empties the result (no false survivors)
    assert(Dedup.semanticContaminated(corpus, eval, tau = 1.5).count() == 0)
  }

  test("auto-sized LSH entry points run and verify-filter correctly") {
    val emb = (0 until 30).map { i =>
      val c = i / 3
      (i.toLong, Array.tabulate(16)(j =>
        (math.sin(c * 17 + j) + 0.002 * math.sin(i * 7 + j)).toFloat))
    }.toDF("vec_id", "embedding")
    // tiny corpus -> autoBits clamps to 4 bits; pairs still a subset of brute
    val brute = Dedup.embeddingNearDup(emb, "vec_id", "embedding", 0.999)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    val auto = Dedup.nearDupPairsLshAuto(emb, "vec_id", "embedding", 0.999)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(auto.nonEmpty && auto.subsetOf(brute))
    val q = emb.where(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val cor = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val hits = graft.operators.SimilaritySearch.topKLshAuto(q, cor, 3)
      .select("query_id", "id", "rank").as[(Long, Long, Int)].collect()
    assert(hits.nonEmpty)
    // self-match always survives (a query probes its own bucket per table)
    assert((0 until 3).forall(i => hits.exists(h => h._1 == i && h._2 == i)))
  }

  test("codegen HyperplaneBucketExpr is bit-identical to the HOF form") {
    val emb = (0 until 200).map { i =>
      (i.toLong, Array.tabulate(64)(j => math.sin(i * 13 + j).toFloat))
    }.toDF("vec_id", "embedding")
    for (t <- 0 to 2; bits <- Seq(6, 8)) {
      val mismatch = emb.select(
        Dedup.hyperplaneBucket(col("embedding"), bits, t).as("fast"),
        Dedup.hyperplaneBucketHof(col("embedding"), bits, t).as("ref"))
        .where(col("fast") =!= col("ref")).count()
      assert(mismatch == 0, s"table=$t bits=$bits: $mismatch mismatches")
    }
  }

  test("multi-table embedding LSH: recall >= 0.9 vs brute on clustered dups") {
    // 20 clusters × 3 jittered members: every intra-cluster pair is a true
    // near-dup; multi-table candidates must recover >= 90% of them
    val emb = (0 until 60).map { i =>
      val c = i / 3
      val v = Array.tabulate(16)(j =>
        (math.sin(c * 17 + j) + 0.002 * math.sin(i * 7 + j)).toFloat)
      (i.toLong, v)
    }
    val df = emb.toDF("vec_id", "embedding")
    val brute = Dedup.embeddingNearDup(df, "vec_id", "embedding", 0.999)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(brute.nonEmpty)
    val multi = Dedup.nearDupPairsLshMulti(df, "vec_id", "embedding", 0.999,
        nBits = 6, nTables = 4)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(multi.subsetOf(brute)) // exact cosine verify: no false positives
    val recall = multi.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.9, s"multi-table near-dup recall $recall")
    // union over tables: never below the single-table candidate set
    val single = Dedup.nearDupPairsLsh(df, "vec_id", "embedding", 0.999,
        nBits = 6)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(single.subsetOf(multi))
  }

  test("semanticDupPairs: within-cluster cosine pairs via full-corpus " +
    "k-means; semanticDeduped drops the centroid-closest member per group") {
    // three orthogonal cluster directions; per group g the ids are
    // g + 10k (so k-means' lowest-3-ids init lands one seed per group):
    // k=0/1 near-identical (the semantic-dup pair), k=2/3 perturbed
    // enough to stay below tau
    val emb = (for (g <- 0 until 3; k <- 0 until 4) yield {
      val v = Array.tabulate(16) { j =>
        val base = if (j >= 5 * g && j < 5 * g + 5) 1.0 else 0.0
        val jit = k match {
          case 0 => 0.0
          case 1 => 0.001 * math.sin(j + g)
          case 2 => 0.3 * math.sin(j + g)
          case _ => 0.3 * math.cos(j * 2 + g)
        }
        (base + jit).toFloat
      }
      ((g + 10 * k).toLong, v)
    }).toDF("vec_id", "embedding")
    val pairs = Dedup.semanticDupPairs(emb, nCells = 3, iters = 3,
        tau = 0.999)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 10L), (1L, 11L), (2L, 12L)),
      s"got $pairs")
    // keep policy: per pair the member LEAST similar to its centroid
    // survives (ties to lowest id); unpaired rows all pass through
    val asg = graft.operators.Clustering
      .kmeansAssignVec(emb, nCells = 3, iters = 3)
      .select("vec_id", "sim").as[(Long, Double)].collect().toMap
    val expectDrop = pairs.map { case (a, b) =>
      if (asg(a) < asg(b) || (asg(a) == asg(b) && a < b)) b else a
    }
    val kept = Dedup.semanticDeduped(emb, nCells = 3, iters = 3,
        tau = 0.999)
      .select("vec_id").as[Long].collect().toSet
    assert(kept == (0 until 3).flatMap(g =>
      (0 until 4).map(k => (g + 10 * k).toLong)).toSet -- expectDrop,
      s"kept $kept, expected drop $expectDrop")
  }

  test("semantic dedup skew guard: identical-vector collapse is " +
    "output-identical and keeps the rep join linear on a clique corpus") {
    // pathological SemDeDup corpus: one document embedded 40 times
    // (identical vectors — one cell, one clique, 40² pair work unguarded)
    // + two distinct directions with a near-dup pair each
    val emb = ((0 until 40).map { i =>
      (i.toLong, Array.tabulate(16)(j => if (j < 5) 1.0f else 0.0f))
    } ++ Seq(
      (100L, Array.tabulate(16)(j => if (j >= 5 && j < 10) 1.0f else 0.0f)),
      (101L, Array.tabulate(16)(j =>
        (if (j >= 5 && j < 10) 1.0 + 0.001 * j else 0.0).toFloat)),
      (200L, Array.tabulate(16)(j => if (j >= 10) 1.0f else 0.0f)),
      (201L, Array.tabulate(16)(j =>
        (if (j >= 10) 1.0 - 0.001 * j else 0.0).toFloat))
    )).toDF("vec_id", "embedding")
    def pairSet(gate: Option[Boolean]) =
      Dedup.semanticDupPairs(emb, nCells = 3, iters = 3, tau = 0.99,
          collapseIdentical = gate)
        .select(col("id1"), col("id2"),
          round(col("cosine"), 6).as("c"))
        .as[(Long, Long, Double)].collect().toSet
    val direct = pairSet(Some(false))
    // probe (40 > threshold 8) and forced collapse both equal direct
    assert(pairSet(None) == direct)
    assert(pairSet(Some(true)) == direct)
    // the clique's member pairs are all present with the grid self-dot
    assert(direct.count(p => p._1 < 40 && p._2 < 40) == 40 * 39 / 2)

    // the guard's point: the pair JOIN runs over representatives — the
    // 40-clique collapses to ONE rep row, so rep-side join input is 5
    val (grp, _) = Dedup.semanticGroups(
      graft.operators.Clustering.kmeansAssignVec(emb, 3, 3))
    assert(grp.count() == 5)

    // dedup output: guarded == unguarded, exactly one clique survivor
    val keptU = Dedup.semanticDeduped(emb, nCells = 3, iters = 3,
        tau = 0.99, collapseIdentical = Some(false))
      .select("vec_id").as[Long].collect().toSet
    val keptG = Dedup.semanticDeduped(emb, nCells = 3, iters = 3,
        tau = 0.99, collapseIdentical = Some(true))
      .select("vec_id").as[Long].collect().toSet
    assert(keptG == keptU)
    assert(keptG.count(_ < 40) == 1)
  }

  test("semantic dedup cell-size cap: oversized cells split by secondary " +
    "k-means; guarded output keeps a superset of the unguarded rows") {
    // one dominant direction with 60 DISTINCT members (jitter keeps them
    // non-identical, so the collapse can't shrink the cell) + a far pair
    val emb = ((0 until 60).map { i =>
      (i.toLong, Array.tabulate(16)(j =>
        (if (j < 5) 1.0 + 0.01 * math.sin(i * 7 + j) else 0.0).toFloat))
    } ++ Seq(
      (200L, Array.tabulate(16)(j => if (j >= 10) 1.0f else 0.0f)),
      (201L, Array.tabulate(16)(j =>
        (if (j >= 10) 1.0 - 0.001 * j else 0.0).toFloat))
    )).toDF("vec_id", "embedding")
    val keptU = Dedup.semanticDeduped(emb, nCells = 2, iters = 2,
        tau = 0.999)
      .select("vec_id").as[Long].collect().toSet
    val keptC = Dedup.semanticDeduped(emb, nCells = 2, iters = 2,
        tau = 0.999, maxCellSize = Some(20))
      .select("vec_id").as[Long].collect().toSet
    // dropping cross-subcell edges can only split components → every
    // unguarded survivor still survives; the far pair is unaffected
    assert(keptU.subsetOf(keptC))
    assert(keptC.count(_ >= 200) == keptU.count(_ >= 200))
    // the cap engaged: at least one extra survivor OR identical output
    // (k-means may split cleanly); either way the job completed with the
    // capped join — assert the guarded path really took the rep route
    assert(keptC.size >= keptU.size)
  }

  test("semanticDedupedAuto: corpus-sized cells, equal to the explicit " +
    "call at the derived knobs") {
    val emb = (for (g <- 0 until 3; k <- 0 until 4) yield {
      ((g + 10 * k).toLong, Array.tabulate(16) { j =>
        val base = if (j >= 5 * g && j < 5 * g + 5) 1.0 else 0.0
        (base + (if (k == 0) 0.0 else 0.001 * k * math.sin(j + g))).toFloat
      })
    }).toDF("vec_id", "embedding")
    // 12 rows / target 4 -> 3 cells, cap 32; must equal the explicit call
    val auto = Dedup.semanticDedupedAuto(emb, targetCellSize = 4L,
        iters = 3, tau = 0.999)
      .select("vec_id").as[Long].collect().toSet
    val explicit = Dedup.semanticDeduped(emb, nCells = 3, iters = 3,
        tau = 0.999, maxCellSize = Some(32))
      .select("vec_id").as[Long].collect().toSet
    assert(auto == explicit && auto.nonEmpty)
  }

  test("connected components: transitive chains close, islands stay apart") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 21L))
      .toDF("id1", "id2")
    val got = Closure.components(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L))
    val summary = Dedup.componentSummary(
        Closure.components(pairs))
      .as[(Long, Long, Long)].collect().toSet
    assert(summary == Set((1L, 4L, 4L), (10L, 2L, 11L), (20L, 2L, 21L)))
  }

  test("connected components match driver-side union-find on a random graph") {
    val rnd = new scala.util.Random(42)
    val edges = (0 until 60).map(_ =>
      (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2)))
    // driver-side union-find ground truth
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val expected = nodes.map(n => n -> find(n)).toMap
    val got = Closure.components(edges.toDF("id1", "id2"))
      .as[(Long, Long)].collect().toMap
    assert(got == expected)
  }

  test("connected components: empty pair list yields empty output") {
    val empty = Seq.empty[(Long, Long)].toDF("id1", "id2")
    assert(Closure.components(empty).count() == 0)
    assert(Closure.components(empty, localMaxEdges = 0).count() == 0)
  }

  test("star components equal label-propagation components on random graphs") {
    // driver-side min-label propagation to a fixpoint is the reference
    def labelProp(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      var label = edges.flatMap(e => Seq(e._1, e._2)).map(n => n -> n).toMap
      var changed = true
      while (changed) {
        val next = edges.foldLeft(label) { case (m, (a, b)) =>
          val l = math.min(m(a), m(b))
          m.updated(a, l).updated(b, l)
        }
        changed = next != label
        label = next
      }
      label
    }
    val rnd = new scala.util.Random(4242)
    for (trial <- 1 to 3) {
      val edges = (0 until 50).map(_ =>
        (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
        .filter(e => e._1 != e._2)
      val df = edges.toDF("id1", "id2")
      val expected = labelProp(edges)
      val local = Closure.components(df).as[(Long, Long)].collect().toMap
      val star = Closure.components(df, localMaxEdges = 0)
        .as[(Long, Long)].collect().toMap
      assert(local == expected, s"trial $trial: local != label-prop")
      assert(star == expected, s"trial $trial: star != label-prop")
    }
  }

  test("connected components close a 400-hop chain on both routes") {
    // a path graph of diameter 400: under the DEFAULT cap this tiny
    // graph closes locally (one collect + union-find), correctly
    val chain = (0L until 400L).map(i => (i, i + 1)).toDF("id1", "id2")
    val local = Closure.components(chain)
      .as[(Long, Long)].collect()
    assert(local.length == 401 && local.forall(_._2 == 0L))
    // forced onto the star route, whose reach doubles per round, it
    // closes in O(log² n) rounds — a label loop would need 400
    val star = Closure.components(chain, localMaxEdges = 0)
      .as[(Long, Long)].collect()
    assert(star.length == 401 && star.forall(_._2 == 0L))
  }

  test("local and distributed closures agree on random graphs, self-pair " +
    "singletons and min-labels included (the size gate is routing-only)") {
    def routes(df: org.apache.spark.sql.DataFrame) =
      (Closure.components(df).as[(Long, Long)].collect().toMap,
        Closure.components(df, localMaxEdges = 0)
          .as[(Long, Long)].collect().toMap)
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val edges = Seq.fill(120)(
        (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong)) ++
        Seq((77L, 77L)) // self-pair singleton must survive both paths
      val (local, star) = routes(edges.toDF("id1", "id2"))
      assert(local == star, s"trial $trial: local != star")
      assert(local(77L) == 77L)
    }
  }

  test("an overflowing pair frame is evaluated exactly once: the probe " +
    "and the star loop both read one pin") {
    val evals = spark.sparkContext.longAccumulator("pair-row-evals")
    val tick = udf { (x: Long) => evals.add(1); x }.asNondeterministic()
    val pairs = spark.range(0, 6)
      .select(tick(col("id")).as("id1"), (col("id") + 1).as("id2"))
    // cap 3 < 6 edges: the probe overflows and the star loop runs
    val star = Closure.components(pairs, localMaxEdges = 3)
      .as[(Long, Long)].collect()
    assert(star.length == 7 && star.forall(_._2 == 0L))
    assert(evals.value == 6L, s"${evals.value} row evaluations, want 6")
    evals.reset()
    assert(Closure.components(pairs).count() == 7)
    assert(evals.value == 6L, s"${evals.value} row evaluations, want 6")
    // frames that only look like a checkpoint are pinned too: an
    // RDD-backed frame, and a UDF projection over a real checkpoint
    evals.reset()
    val rddPairs = spark.createDataFrame(
      spark.sparkContext.parallelize(0L until 6L, 2).map { i =>
        evals.add(1); org.apache.spark.sql.Row(i, i + 1)
      }, pairs.schema)
    val base = Ckpt.eager(spark.range(0, 6).select(col("id").as("x"),
      (col("id") + 1).as("y")))
    val renamed = base.select(col("x").cast("int").as("id1"), col("y"))
    assert(Ckpt.pin(base) eq base)
    assert(Ckpt.pin(renamed) eq renamed)
    val overCkpt = base.select(tick(col("x")).as("id1"), col("y").as("id2"))
    for (in <- Seq(rddPairs, overCkpt); cap <- Seq(3, Closure.LocalMaxEdges)) {
      assert(Closure.components(in, cap).count() == 7)
      assert(evals.value == 6L,
        s"cap $cap: ${evals.value} row evaluations, want 6")
      evals.reset()
    }
    Ckpt.rdds(base).foreach(_.unpersist(false))
  }

  test("string ids (and a float quality) fail loudly at every " +
    "integral-id entry") {
    val lPairs = Seq((1L, 2L)).toDF("id1", "id2")
    val sDocs = Seq(("a", "x y z", 1L)).toDF("doc_id", "text", "q")
    val prints = Seq((1L, 7L)).toDF("_id", "simhash")
    val comp = Seq((1L, 1L)).toDF("id", "component")
    def fails(who: String, c: String)(op: => Any): Unit = {
      val e = intercept[IllegalArgumentException](op)
      assert(e.getMessage.contains(s"$who needs an integral $c"),
        e.getMessage)
    }
    fails("Closure.components", "id1")(
      Closure.components(Seq(("a", "b")).toDF("id1", "id2")))
    fails("dedupedCorpusCC", "doc_id")(
      Dedup.dedupedCorpusCC(sDocs, "doc_id", lPairs))
    fails("canonicalByQuality", "doc_id")(
      Dedup.canonicalByQuality(sDocs, "doc_id", "q", lPairs))
    fails("canonicalByQuality", "q")(
      Dedup.canonicalByQuality(Seq((1L, 0.5)).toDF("doc_id", "q"),
        "doc_id", "q", lPairs))
    fails("hashDeduped", "doc_id")(
      Dedup.hashDeduped(sDocs, "doc_id", prints))
    fails("extendHashDeduped", "doc_id")(
      Dedup.extendHashDeduped(sDocs, "doc_id", prints, comp, prints))
    fails("packGreedy", "doc_id")(
      graft.operators.Packing.packGreedy(sDocs, 8L, 2))
  }

  test("dedupedCorpusCC keeps exactly one doc per duplicate cluster") {
    // docs 1, 2, 4 form one near-dup cluster (exact + near copies of the
    // same text): only the component minimum survives
    val pairs = Dedup.nearDupPairs(docs, "doc_id", "text", tau = 0.5)
    val kept = Dedup.dedupedCorpusCC(docs, "doc_id", pairs)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L, 5L))
  }

  test("canonicalByQuality keeps the highest-quality member per cluster, " +
    "ties to the lowest id, singletons keep themselves") {
    val pairs = Dedup.nearDupPairs(docs, "doc_id", "text", tau = 0.5)
    // cluster {1,2,4}: hand-picked qualities force a NON-minimum keep
    val q = Seq((1L, 10L), (2L, 99L), (3L, 7L), (4L, 10L), (5L, 1L))
      .toDF("doc_id", "q")
    val keptRows = Dedup.canonicalByQuality(docs.join(q, "doc_id"),
        "doc_id", "q", pairs)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(keptRows == Seq((2L, 1L, 99L, 3L), (3L, 3L, 7L, 1L),
      (5L, 5L, 1L, 1L)))
    // all-equal qualities tie to the lowest id — exactly the
    // dedupedCorpusCC keep set
    val keptFlat = Dedup.canonicalByQuality(
        docs.withColumn("q", lit(5L)), "doc_id", "q", pairs)
      .select("doc_id").as[Long].collect().toSet
    assert(keptFlat == Set(1L, 3L, 5L))
    // float quality is rejected: near-tie argmax would be engine-dependent
    intercept[IllegalArgumentException] {
      Dedup.canonicalByQuality(docs.withColumn("q", lit(0.5)),
        "doc_id", "q", pairs)
    }
  }

  test("bandingRecall: deterministic harness — precision-1 found set, " +
    "true pairs counted by brute force, fixture recall pinned") {
    val corpus = (0 until 60).map { i =>
      // 20 base texts; every third doc is a near-dup (one token dropped)
      val base = s"alpha$i beta$i gamma delta epsilon zeta eta theta " +
        s"iota kappa lambda mu nu xi omicron pi rho sigma"
      (i.toLong, if (i % 3 == 2) base.split(" ").drop(1).mkString(" ")
        else base)
    }
    // make pairs: doc 3k+2 is a near-dup of... actually give each
    // near-dup a twin: append the SAME base under a shifted id
    val docs = (corpus ++ corpus.filter(_._1 % 3 == 2)
        .map { case (id, t) => (id + 1000, t + " tail") })
      .toDF("doc_id", "text")
    val r = Dedup.bandingRecall(docs, "doc_id", "text", tau = 0.5,
        sampleN = 100)
      .as[(Long, Long, Long, Double)].collect().head
    assert(r._1 == docs.count())
    assert(r._2 >= 1L)        // brute force finds the planted pairs
    assert(r._3 <= r._2)      // precision 1: found ⊆ truth
    // this fixture is a mid-jaccard SOUP (16 of ~18 tokens shared by
    // every doc ⇒ pairwise j ≈ 0.78): (1−j^4)^4 predicts ~16% band
    // misses, and the harness MEASURES exactly that — the honest
    // number the formula alone would hide behind an average. The value
    // is md5-deterministic for this fixture.
    assert(r._4 > 0.80 && r._4 < 0.90, s"recall ${r._4}")
    // deterministic: identical on a rerun
    val again = Dedup.bandingRecall(docs, "doc_id", "text", 0.5, 100)
      .as[(Long, Long, Long, Double)].collect().head
    assert(again == r)
  }

  test("crossNearDupPairs / dedupedAgainstCorpus: incoming batch checks " +
    "against the kept corpus; exact groups expand on both sides") {
    val existing = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again"),
      (11L, "totally unrelated existing text about storage engines"),
      (11L + 1, "the quick brown fox jumps over the lazy dog again and again")
    ).toDF("doc_id", "text") // 10 and 12 are byte-identical (one group)
    val incoming = Seq(
      // byte-identical to existing 10/12
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      // near-dup (first token dropped) of the same
      (2L, "quick brown fox jumps over the lazy dog again and again"),
      // genuinely new
      (3L, "fresh content with nothing in common whatsoever here"),
      // numeric id collision with an existing id — sides must stay apart
      (10L, "another genuinely new document body entirely its own")
    ).toDF("doc_id", "text")
    val pairs = Dedup.crossNearDupPairs(incoming, existing,
        "doc_id", "text", tau = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    // doc 1 matches BOTH members of the existing exact group, jaccard 1;
    // doc 2 matches both as a near-dup; docs 3 and 10 match nothing
    assert(pairs.map(p => (p._1, p._2)) ==
      Set((1L, 10L), (1L, 12L), (2L, 10L), (2L, 12L)))
    assert(pairs.filter(_._1 == 1L).forall(_._3 == 1.0))
    assert(pairs.filter(_._1 == 2L).forall(p => p._3 >= 0.5 && p._3 < 1.0))
    val kept = Dedup.dedupedAgainstCorpus(incoming, existing,
        "doc_id", "text", tau = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(3L, 10L))
  }

  /** 24 well-separated directions × `perCell` distinct members each, with
    * vec_ids arranged so the outer trainer's init (24 lowest ids) is one
    * member of each direction — every direction converges to its own
    * cell, so ALL 24 cells are oversized under a small cap. */
  private def manyOversizedCells(perCell: Int) =
    (for (g <- 0 until 24; m <- 0 until perCell) yield {
      ((m * 24 + g).toLong, Array.tabulate(48)(j =>
        (if (j / 2 == g) 1.0 + 0.01 * math.sin(m * 7 + j) else 0.0).toFloat))
    }).toDF("vec_id", "embedding")

  test("grouped sub-clustering is bit-identical to the per-cell trainer") {
    import graft.operators.Clustering
    val emb = manyOversizedCells(perCell = 9)
    val iters = 2
    val asg = Clustering.kmeansAssignVec(emb, nCells = 24, iters = iters)
    val (grp, _) = Dedup.semanticGroups(asg)
    val reps = grp.select(col("_rep").as("_rid"), col("cell"), col("dv"))
    val counts = reps.groupBy("cell").agg(count(lit(1)).as("_n"))
      .as[(Int, Long)].collect().toMap
    val cap = 4
    val k2ByCell = counts.filter(_._2 > cap).map { case (c, n) =>
      c -> math.min(64, ((n + cap - 1) / cap).toInt max 2)
    }
    assert(k2ByCell.size >= 20, s"fixture gave ${k2ByCell.size} oversized")
    val members = reps.where(col("cell").isin(k2ByCell.keys.toSeq: _*))
      .select(col("_rid"), col("cell"), col("dv"))
    val grouped = Dedup.groupedSubClusters(members, k2ByCell, iters)
      .as[(Long, Int)].collect().toMap
    // per-cell re-derivation with the standalone trainer must agree on
    // EVERY member (same init, same grid arithmetic, same tie-breaks)
    for ((cellId, k2) <- k2ByCell.take(5)) {
      val ids = reps.where(col("cell") === cellId)
        .select(col("_rid").as("vec_id"))
      val expected = Clustering.kmeansAssignVec(
          emb.join(ids, "vec_id"), k2, iters)
        .select(col("vec_id"), (col("cell") + 1))
        .as[(Long, Int)].collect().toMap
      assert(expected.forall { case (id, sub) => grouped(id) == sub },
        s"cell $cellId mismatch")
    }
  }

  test("cell-size cap with 24 oversized cells runs O(iters) jobs, " +
    "not O(cells) sequential trainer jobs") {
    val emb = manyOversizedCells(perCell = 9)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val kept =
      try {
        val k = Dedup.semanticDeduped(emb, nCells = 24, iters = 2,
            tau = 0.999, maxCellSize = Some(4))
          .select("vec_id").as[Long].collect().toSet
        org.apache.spark.sql.graftbridge.Bridge
          .waitListenerBus(spark.sparkContext)
        k
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(kept.nonEmpty)
    // the round-7 per-cell loop ran ~6 jobs PER oversized cell (init
    // collect + iters aggregation collects + checkpoint), so 24 cells
    // would ADD ~145 jobs to the pipeline's own ~60 (outer trainer,
    // grouped rounds, components closure, final collect). The grouped
    // pipeline's count is independent of cell count — gate well below
    // the per-cell regime while leaving headroom over the measured 60.
    assert(jobs.get() < 90, s"ran ${jobs.get()} jobs for 24 oversized cells")
  }

  test("collapse probes are null-safe on empty inputs") {
    // empty hash frame through the probe-gated banded pair path (the
    // probe's max() aggregate is NULL on zero rows — it must read as 0,
    // not NPE) and the same latent pattern in the semantic family
    val noHashes = Seq.empty[(Long, Long)].toDF("_id", "simhash")
    assert(Dedup.hashPairs(noHashes).count() == 0)
    val noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.nearDupPairs(noDocs, "doc_id", "text", tau = 0.5)
      .count() == 0)
  }

  test("autoMinhashKnobs: recall bound holds, r grows with N, " +
    "recall wins over the bucket bound at low tau") {
    // production threshold, web-scale corpus: r is bucket-bound,
    // b satisfies the (1 - tau^r)^b <= missProb miss bound
    val (h, b) = Dedup.autoMinhashKnobs(1_000_000_000L, tau = 0.8)
    val r = h / b
    assert(h == b * r)
    assert(math.pow(1.0 - math.pow(0.8, r), b) <= 0.05)
    // one thousand times more docs -> strictly more rows per band
    // (finer buckets), never fewer
    val (h2, b2) = Dedup.autoMinhashKnobs(1_000_000L, tau = 0.8)
    assert(h / b >= h2 / b2)
    // low threshold: the recall cap binds r regardless of corpus size
    // (no knob setting gives both linear candidates and recall at
    // tau 0.5 -- the (1-j^r)^b curve itself prices it)
    val (h3, b3) = Dedup.autoMinhashKnobs(1_000_000_000L, tau = 0.5)
    val (h4, b4) = Dedup.autoMinhashKnobs(1_000_000_000_000L, tau = 0.5)
    assert(h3 / b3 == h4 / b4) // r pinned by recall, not N
    assert(math.pow(1.0 - math.pow(0.5, h3 / b3), b3) <= 0.05)
    // hash budget: never more than maxBands * 32 hashes
    assert(h <= 64 * 32 && h3 <= 64 * 32)
  }

  test("nearDupPairsAuto finds dup pairs with corpus-sized knobs") {
    // identical texts share every band at ANY (numHashes, bands), so the
    // auto-sized path must recover them; the unrelated doc stays out
    val pairs = Dedup.nearDupPairsAuto(docs, "doc_id", "text", tau = 0.5)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("extendComponents: star-extension of a persisted assignment " +
    "equals from-scratch CC over the full edge set — merges, joins, " +
    "fresh components, untouched components") {
    val oldEdges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L))
      .toDF("id1", "id2")
    val asg = Closure.components(oldEdges)
    // new edges: 5-3 joins component {1,2,3}; 11-20 MERGES {10,11} with
    // {20,21}; 30-31 is a fresh component; {1,2,3} minus the join stays
    // internally untouched
    val newEdges = Seq((3L, 5L), (11L, 20L), (30L, 31L))
      .toDF("id1", "id2")
    def cc(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "component").as[(Long, Long)].collect().toSet
    val incr = cc(Dedup.extendComponents(asg, newEdges))
    val scratch = cc(Closure.components(
      oldEdges.unionByName(newEdges)))
    assert(incr == scratch)
    assert(incr.contains((5L, 1L)) && incr.contains((21L, 10L)) &&
      incr.contains((31L, 30L)))
    // no new edges at all: the assignment is a fixpoint
    assert(cc(Dedup.extendComponents(asg,
      Seq.empty[(Long, Long)].toDF("id1", "id2"))) == cc(asg))
  }

  test("extendComponents: singleton assignments survive; a non-min " +
    "label fails loudly (the star contract's precondition)") {
    def cc(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "component").as[(Long, Long)].collect().toSet
    // singleton 3 with NO new edge must come back as its own component
    // (the from-scratch CC contract for self-pair-only ids), not vanish
    val asg = Seq((1L, 1L), (2L, 1L), (3L, 3L)).toDF("id", "component")
    assert(cc(Dedup.extendComponents(asg,
      Seq.empty[(Long, Long)].toDF("id1", "id2"))) ==
      Set((1L, 1L), (2L, 1L), (3L, 3L)))
    // a singleton that GAINS an edge joins the closure normally
    assert(cc(Dedup.extendComponents(asg, Seq((3L, 4L)).toDF("id1", "id2")))
      == Set((1L, 1L), (2L, 1L), (3L, 3L), (4L, 3L)))
    // a label exceeding its member id is not a min-member labeling —
    // the loud guard must fire, not silently relabel
    val bad = Seq((5L, 7L), (7L, 7L)).toDF("id", "component")
    val ex = intercept[Exception] {
      Dedup.extendComponents(bad, Seq((7L, 8L)).toDF("id1", "id2"))
        .collect()
    }
    assert(ex.getMessage != null &&
      exMessageChain(ex).contains("extendComponents"))
  }

  test("extendComponents touched-component restriction (r15): the " +
    "broadcast path and the full-star fallback agree with from-scratch " +
    "CC; untouched components pass through verbatim") {
    // three base components: {1,2,3} (touched by a join), {10,11}+{20,21}
    // (touched by a merge), {40,41,42} (UNTOUCHED — must pass verbatim),
    // singleton 50 (untouched), plus a fresh batch component 30-31
    val oldEdges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L),
      (40L, 41L), (41L, 42L), (50L, 50L)).toDF("id1", "id2")
    val asg = Closure.components(oldEdges)
    val newEdges = Seq((3L, 5L), (11L, 20L), (30L, 31L))
      .toDF("id1", "id2")
    def cc(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "component").as[(Long, Long)].collect().toSet
    val scratch = cc(Closure.components(
      oldEdges.unionByName(newEdges)))
    // default: the stats gate keeps a KB-sized assignment on the
    // original full-star path
    assert(cc(Dedup.extendComponents(asg, newEdges)) == scratch)
    // force the touched-component restricted path via the size knob:
    // output must be identical, untouched rows pass through verbatim
    spark.conf.set("spark.graft.extend.restrictMinBytes", "0")
    try {
      val restricted = cc(Dedup.extendComponents(asg, newEdges))
      assert(restricted == scratch)
      assert(restricted.contains((42L, 40L)) &&
        restricted.contains((50L, 50L))) // untouched rows intact
      // and the adversarial-flood fallback (pair frame over the
      // broadcast budget → full-star, never broadcasts): identical
      spark.conf.set("spark.graft.extend.broadcastMaxBytes", "0")
      assert(cc(Dedup.extendComponents(asg, newEdges)) == scratch)
    } finally {
      spark.conf.unset("spark.graft.extend.restrictMinBytes")
      spark.conf.unset("spark.graft.extend.broadcastMaxBytes")
    }
  }

  /** Full message chain (Spark wraps raise_error in job-failure layers). */
  private def exMessageChain(e: Throwable): String = {
    var cur: Throwable = e; val sb = new StringBuilder
    while (cur != null) { sb.append(cur.getMessage).append('\n')
      cur = cur.getCause }
    sb.toString
  }

  test("fuzzyKeyPairs: COMPLETE distance-≤1 pairs (brute-force parity), " +
    "identical-key collapse carries counts, long keys fail loudly") {
    val keys = Seq(
      (1L, "apple pie"), (2L, "apple pi"), (3L, "apply pie"),
      (4L, "apple pies"), (5L, "banana"), (6L, "bananna"), (7L, "banan"),
      (8L, "orange"), (9L, "apple pie"), (10L, "apple pie"),
      (11L, "grape"), (12L, "grappe"), (13L, "xapple pie"), (14L, "")
    ).toDF("doc_id", "key")
    val got = Dedup.fuzzyKeyPairs(keys, "key", "doc_id")
    // completeness: the SymSpell variant join must recover EXACTLY the
    // brute-force cross-join's verified pairs — no recall loss is the
    // whole claim (vs LSH banding)
    val t = keys.where(length(col("key")) > 0)
      .groupBy("key").agg(min(col("doc_id")).as("rep"))
    val brute = t.as("a").crossJoin(t.as("b"))
      .where(col("a.rep") < col("b.rep") &&
        levenshtein(col("a.key"), col("b.key")) <= 1)
      .select(col("a.rep"), col("b.rep"),
        levenshtein(col("a.key"), col("b.key")).cast("long"))
      .as[(Long, Long, Long)].collect().toSet
    assert(got.select("rep_a", "rep_b", "dist")
      .as[(Long, Long, Long)].collect().toSet == brute)
    assert(brute.nonEmpty) // fixture sanity: sub/ins/del all represented
    // identical-key collapse: "apple pie" ×3 (ids 1, 9, 10) is ONE
    // distinct key, rep 1, cnt 3 on every pair it participates in
    val cnts = got.where(col("rep_a") === 1L)
      .select("cnt_a").distinct().as[Long].collect().toSeq
    assert(cnts == Seq(3L))
    // dist-0 pairs cannot exist: identical keys collapsed upstream
    assert(got.where(col("dist") === 0L).count() == 0)
    // maxEdit = 2: ≤2-deletion variants recover EXACTLY the brute-force
    // distance-≤2 pairs (substitution+deletion compounds included)
    val brute2 = t.as("a").crossJoin(t.as("b"))
      .where(col("a.rep") < col("b.rep") &&
        levenshtein(col("a.key"), col("b.key")) <= 2)
      .select(col("a.rep"), col("b.rep"),
        levenshtein(col("a.key"), col("b.key")).cast("long"))
      .as[(Long, Long, Long)].collect().toSet
    val got2 = Dedup.fuzzyKeyPairs(keys, "key", "doc_id", maxEdit = 2)
      .select("rep_a", "rep_b", "dist")
      .as[(Long, Long, Long)].collect().toSet
    assert(got2 == brute2)
    assert(brute2.size > brute.size) // the d=2 tier genuinely adds pairs
    // oversized keys fail loudly instead of emitting quadratic variants
    val boom = intercept[Exception] {
      Dedup.fuzzyKeyPairs(
        Seq((1L, "this key is far too long")).toDF("doc_id", "key"),
        "key", "doc_id", maxKeyLen = 8).count()
    }
    assert(boom.getMessage != null)
  }

  test("extendFuzzyKeyPairs + extendComponents: batch append over the " +
    "persisted variant index equals from-scratch pairs + closure over " +
    "the union; shared batch keys add no edges; id guard fails loudly") {
    val base = Seq(
      (1L, "apple pie"), (2L, "apple pi"), (5L, "banana"),
      (8L, "orange"), (9L, "apple pie"), (11L, "grape")
    ).toDF("doc_id", "key")
    val batch = Seq(
      (21L, "apply pie"),  // new key pairing into the apple cluster
      (22L, "banan"),      // new key pairing with base "banana"
      (23L, "orange"),     // SHARED key — mass only, no new edge
      (24L, "melon"), (25L, "melonn"), // new keys pairing with each other
      (26L, "kiwi")        // new key pairing with nothing (absent from pairs)
    ).toDF("doc_id", "key")
    val union = base.unionByName(batch)
    val idx = Dedup.fuzzyVariantIndex(base, "key", "doc_id")
    val newPairs = Dedup.extendFuzzyKeyPairs(idx, batch, "key", "doc_id")
    // pair-level: base pairs ∪ new pairs == from-scratch pairs over union
    def prs(df: org.apache.spark.sql.DataFrame) =
      df.select("rep_a", "rep_b", "dist")
        .as[(Long, Long, Long)].collect().toSet
    val fromScratch = prs(Dedup.fuzzyKeyPairs(union, "key", "doc_id"))
    val basePairs = prs(Dedup.fuzzyKeyPairs(base, "key", "doc_id"))
    assert(basePairs.union(prs(newPairs)) == fromScratch)
    // the shared key contributed no edge: every new pair has a batch rep
    assert(prs(newPairs).forall { case (a, b, _) => a > 20 || b > 20 })
    // component-level: extension ≡ from-scratch closure
    def cc(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "component").as[(Long, Long)].collect().toSet
    val baseAsg = Closure.components(
      Dedup.fuzzyKeyPairs(base, "key", "doc_id")
        .select(col("rep_a").as("id1"), col("rep_b").as("id2")))
    val ext = cc(Dedup.extendComponents(baseAsg,
      newPairs.select(col("rep_a").as("id1"), col("rep_b").as("id2"))))
    val scratch = cc(Closure.components(
      Dedup.fuzzyKeyPairs(union, "key", "doc_id")
        .select(col("rep_a").as("id1"), col("rep_b").as("id2"))))
    assert(ext == scratch)
    // a batch id at or below the stored max rep breaks rep invariance —
    // must fail loudly, not silently relabel
    val bad = intercept[Exception] {
      Dedup.extendFuzzyKeyPairs(idx,
        Seq((3L, "pear")).toDF("doc_id", "key"), "key", "doc_id").count()
    }
    assert(exMessageChain(bad).contains("extendFuzzyKeyPairs"))
  }

  test("extendSemanticDeduped: frozen-centroid extension equals the " +
    "from-scratch frozen chain over the union; assignVecWithCentroids " +
    "is bit-identical to the trainer's own assignment; staleness gate " +
    "fails loudly") {
    import graft.operators.Clustering
    // deterministic 8-dim corpus with planted near-dups: ids 100+ are
    // jittered copies of id%4-family vectors (the augEmb shape)
    val baseRows = (0L until 40L).map { i =>
      (i, Array.tabulate(8)(j =>
        (math.sin(i % 4 + j * 0.7) + 2.0).toFloat))
    }
    val batchRows = (0L until 12L).map { k =>
      val i = k * 3 % 4
      (100L + k, Array.tabulate(8)(j =>
        (math.sin(i + j * 0.7) + 2.0 +
          (if (j == 0) 0.003 else 0.0)).toFloat))
    }
    val base = baseRows.toDF("vec_id", "embedding")
    val batch = batchRows.toDF("vec_id", "embedding")
    val union = base.unionByName(batch)
    val cents = Clustering.kmeansCentroidsD(base, 3, 2)
    // (a) frozen assignment over the training corpus == the trainer's
    // own final assignment, bit for bit
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), col("cell"), col("sim"),
          col("dv").cast("string"))
        .as[(Long, Int, Double, String)].collect().toSet
    assert(rows(Clustering.assignVecWithCentroids(base, cents)) ==
      rows(Clustering.kmeansAssignVec(base, 3, 2)))
    // (b) incremental == from-scratch under the SAME frozen centroids
    val baseAsg = Clustering.assignVecWithCentroids(base, cents)
      .persist()
    val baseComp = Closure.components(
      Dedup.assignmentDupPairs(baseAsg, 0.98).select("id1", "id2"))
    val kept = Dedup.extendSemanticDeduped(union, "vec_id",
        baseAsg, baseComp, batch, cents, tau = 0.98)
      .select(col("vec_id").cast("long")).as[Long].collect().toSet
    val unionAsg = Clustering.assignVecWithCentroids(union, cents)
      .persist()
    val scratchDrop = Closure.components(
        Dedup.assignmentDupPairs(unionAsg, 0.98).select("id1", "id2"))
      .join(unionAsg.select(col("vec_id"), col("sim")),
        col("id") === col("vec_id"))
      .withColumn("_rnk", row_number().over(org.apache.spark.sql
        .expressions.Window.partitionBy("component")
        .orderBy(col("sim").asc, col("id").asc)))
      .where(col("_rnk") > 1)
      .select(col("id")).as[Long].collect().toSet
    val scratchKept = (baseRows.map(_._1) ++ batchRows.map(_._1)).toSet
      .diff(scratchDrop)
    assert(kept == scratchKept)
    assert(kept.size < 52) // something was actually dropped
    // (c) the staleness gate: appended mass beyond maxStaleFrac of the
    // base must fail loudly (the PQ-codebook retrain discipline)
    val boom = intercept[IllegalArgumentException] {
      Dedup.extendSemanticDeduped(union, "vec_id", baseAsg, baseComp,
        batch, cents, tau = 0.98, maxStaleFrac = 0.1)
    }
    assert(boom.getMessage.contains("stale"))
    // (d) the frozen artifact round-trips through parquet bit-exactly:
    // assignment over reloaded centroids is identical
    val dir = java.nio.file.Files
      .createTempDirectory("graft-cents").toString + "/cents"
    Clustering.saveCentroids(spark, cents, dir)
    val back = Clustering.loadCentroids(spark, dir)
    assert(back.length == cents.length &&
      back.zip(cents).forall { case (a, b) => a.sameElements(b) })
    assert(rows(Clustering.assignVecWithCentroids(union, back)) ==
      rows(unionAsg))
    baseAsg.unpersist(); unionAsg.unpersist()
  }

  test("extendHashDeduped: rep-level extension equals from-scratch " +
    "hashDeduped over the union — shared-hash takeover by a smaller " +
    "batch id, new-hash bridge merging two base components, isolated " +
    "batch cliques, singletons") {
    val H0 = 0x00FF00FF00L; val H1 = H0 ^ 1L // hamming 1 apart
    val H2 = 0x7700AA0011L; val H3 = H2 ^ 6L // hamming 2 apart
    val HB = (H0 ^ 0x0F0000000FL) & ((1L << 56) - 1) // far from H0 family
    val HC = 0x0123456789L
    // base: {10,12}@H0, {14}@H1 (paired via banding), {20}@H2, {22}@H3
    // (a second component), {30,31}@HC (isolated clique), {40}@HB
    // (singleton group, unpaired)
    val base = Seq((10L, H0), (12L, H0), (14L, H1), (20L, H2), (22L, H3),
      (30L, HC), (31L, HC), (40L, HB)).toDF("_id", "simhash")
    // batch: 3@H0 (SHARED hash, smaller than every base member — takes
    // over as keep), 50@(H1^2) bridging... plus a new-hash pair
    // {60,61}@HD (isolated batch clique), 70@HB (shared with the base
    // singleton), and 80@(H2^1) joining the second component
    val HD = 0x5544332211L
    val batch = Seq((3L, H0), (60L, HD), (61L, HD), (70L, HB),
      (80L, H2 ^ 1L)).toDF("_id", "simhash")
    val union = base.unionByName(batch)
    val allIds = union.select(col("_id").as("doc_id"))
    val baseComp = Dedup.hashComponents(base, maxHamming = 3)
    def kept(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id").cast("long")).as[Long].collect().toSet
    val incr = kept(Dedup.extendHashDeduped(allIds, "doc_id",
      base, baseComp, batch, maxHamming = 3))
    val scratch = kept(Dedup.hashDeduped(allIds, "doc_id", union,
      maxHamming = 3))
    assert(incr == scratch)
    // the takeover happened: 3 is kept, base keep 10 dropped
    assert(incr.contains(3L) && !incr.contains(10L))
    // isolated batch clique deduped to its min
    assert(incr.contains(60L) && !incr.contains(61L))
    // the base singleton group gained a member and deduped
    assert(incr.contains(40L) && !incr.contains(70L))
    // second component keeps its min
    assert(incr.contains(20L) && !incr.contains(80L) &&
      !incr.contains(22L))
  }

  test("crossHashPairs: banded cross-side Hamming pairs equal the " +
    "brute-force cross join (hamming-0 included); identical-hash mass " +
    "expands through reps") {
    // hand-built 56-bit hashes: h(1)=h(2)=h(21) (cross hamming 0 through
    // an identical-hash group on BOTH sides), h(22) 1 bit off h(1),
    // h(23) 4 bits off everything (outside radius), h(3) isolated base
    val H0 = 0x00FF00FF00L
    val base = Seq((1L, H0), (2L, H0), (3L, 0x123456789AL))
      .toDF("_id", "simhash")
    val batch = Seq((21L, H0), (22L, H0 ^ 1L), (23L, H0 ^ 0xF000000000L),
      (24L, 0x123456789AL ^ 6L)).toDF("_id", "simhash")
    val got = Dedup.crossHashPairs(batch, base, maxHamming = 3)
      .select("new_id", "existing_id", "hamming")
      .as[(Long, Long, Int)].collect().toSet
    val brute = batch.as("n").crossJoin(base.as("b"))
      .withColumn("hamming", bit_count(col("n.simhash")
        .bitwiseXOR(col("b.simhash"))).cast("int"))
      .where(col("hamming") <= 3)
      .select(col("n._id"), col("b._id"), col("hamming"))
      .as[(Long, Long, Int)].collect().toSet
    assert(got == brute)
    assert(got.contains((21L, 1L, 0)) && got.contains((21L, 2L, 0)) &&
      got.contains((22L, 1L, 1)) && got.contains((24L, 3L, 2)))
    assert(!got.exists(_._1 == 23L))
  }
}
