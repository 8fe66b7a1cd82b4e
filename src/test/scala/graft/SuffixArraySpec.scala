package graft

import graft.operators.SuffixArray
import org.apache.spark.sql.functions._

/** Suffix-array prefix doubling: global dense rank scalability shape,
  * exact longest-repeated-span semantics vs a brute-force windows oracle,
  * and the degenerate corpora (empty, single token, all-identical,
  * overlapping self-repeats). */
class SuffixArraySpec extends SparkSpec {
  import spark.implicits._

  /** Brute force: every (doc, pos, len) window string with its global
    * occurrence count; per-doc LRS = longest window occurring >= 2 times
    * anywhere (overlaps included), least start wins ties. */
  private def bruteLrs(docs: Seq[(Long, String)]): Map[Long, (Long, Long)] = {
    val toks = docs.filter(_._2.trim.nonEmpty)
      .map { case (id, t) => id -> t.trim.split("\\s+").toSeq }
    val counts = scala.collection.mutable.Map.empty[Seq[String], Int]
    for ((_, ts) <- toks; p <- ts.indices; m <- 1 to (ts.length - p))
      counts.updateWith(ts.slice(p, p + m))(c => Some(c.getOrElse(0) + 1))
    docs.map { case (id, _) =>
      val ts = toks.toMap.getOrElse(id, Seq.empty)
      var best = 0L; var bestPos = 0L
      for (p <- ts.indices; m <- 1 to (ts.length - p)) {
        if (counts(ts.slice(p, p + m)) >= 2 &&
          (m > best || (m == best && p < bestPos))) {
          if (m > best) { best = m; bestPos = p }
        }
      }
      id -> (best, bestPos)
    }.toMap
  }

  private def runLrs(docs: Seq[(Long, String)]): Map[Long, (Long, Long)] =
    SuffixArray.longestRepeatedSpans(docs.toDF("doc_id", "text"))
      .as[(Long, Long, Long)].collect()
      .map { case (id, l, p) => id -> (l, p) }.toMap

  /** Brute coverage at minLen: position t covered iff some start s <= t
    * has a repeated span reaching past t with length >= minLen. */
  private def bruteCoverage(docs: Seq[(Long, String)],
                            minLen: Int): Map[Long, (Long, Long)] = {
    val toks = docs.filter(_._2.trim.nonEmpty)
      .map { case (id, t) => id -> t.trim.split("\\s+").toSeq }
    val counts = scala.collection.mutable.Map.empty[Seq[String], Int]
    for ((_, ts) <- toks; p <- ts.indices; m <- 1 to (ts.length - p))
      counts.updateWith(ts.slice(p, p + m))(c => Some(c.getOrElse(0) + 1))
    docs.map { case (id, _) =>
      val ts = toks.toMap.getOrElse(id, Seq.empty)
      val covered = ts.indices.count { t =>
        (0 to t).exists { s =>
          val need = math.max(minLen, t - s + 1)
          (need to (ts.length - s)).exists(m =>
            counts(ts.slice(s, s + m)) >= 2)
        }
      }
      id -> (ts.length.toLong, covered.toLong)
    }.toMap
  }

  test("globalDenseRank matches a single-partition dense_rank window " +
    "and never plans one (ties split across range boundaries included)") {
    val df = (1 to 500).map(i => (i.toLong % 7, s"v${i % 13}"))
      .toDF("a", "b").repartition(8)
    val got = SuffixArray.globalDenseRank(df, Seq("a", "b"), "rk")
    val w = org.apache.spark.sql.expressions.Window.orderBy("a", "b")
    val want = df.withColumn("rk", dense_rank().over(w).cast("long"))
    assert(got.select("a", "b", "rk").as[(Long, String, Long)]
      .collect().sorted.toSeq ==
      want.select("a", "b", "rk").as[(Long, String, Long)]
        .collect().sorted.toSeq)
    // ranks are dense: 1..#distinct with no gaps
    val ranks = got.select("rk").distinct().as[Long].collect().sorted
    assert(ranks.toSeq == (1L to ranks.length).toSeq)
    // the plan claim in the title: no Window operator, no SinglePartition
    // exchange anywhere — the rank is range-shuffle + per-partition pass
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("SinglePartition"), plan)
  }

  test("longestRepeatedSpans matches brute force on deterministic corpora") {
    val corpora = Seq(
      // exact copy pair + an unrelated doc
      Seq(1L -> "the quick brown fox jumps", 2L -> "the quick brown fox jumps",
        3L -> "entirely different words here"),
      // shared tail (near-dup with first token stripped)
      Seq(1L -> "alpha beta gamma delta", 2L -> "beta gamma delta"),
      // overlapping self-repeat inside one doc
      Seq(1L -> "a a a", 2L -> "b c"),
      // repeat spanning doc interiors only
      Seq(1L -> "x common span y", 2L -> "z common span w"),
      // single doc, no repeats
      Seq(1L -> "one two three"),
      // single token docs
      Seq(1L -> "t", 2L -> "t", 3L -> "u")
    )
    for (c <- corpora)
      assert(runLrs(c) == bruteLrs(c), s"corpus: $c")
  }

  test("longestRepeatedSpans matches brute force on seeded random corpora") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 4) {
      val docs = (1L to 12L).map { id =>
        val n = 1 + rnd.nextInt(20)
        id -> Seq.fill(n)(('a' + rnd.nextInt(3)).toChar.toString)
          .mkString(" ")
      }
      assert(runLrs(docs) == bruteLrs(docs), s"trial $trial: $docs")
    }
  }

  test("substringDedupStats coverage matches brute force (minLen 2 and " +
    "3, overlap + cross-doc spans)") {
    val corpora = Seq(
      Seq(1L -> "a b c a b c d", 2L -> "x y z"),
      Seq(1L -> "a a a b b", 2L -> "c a a a"),
      Seq(1L -> "p q r s", 2L -> "q r s t", 3L -> "r s t u"))
    for (c <- corpora; ml <- Seq(2, 3)) {
      val got = SuffixArray
        .substringDedupStats(c.toDF("doc_id", "text"), minLen = ml)
        .select("doc_id", "n_tokens", "n_covered")
        .as[(Long, Long, Long)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
      assert(got == bruteCoverage(c, ml), s"minLen=$ml corpus: $c")
    }
    // seeded random cross-check
    val rnd = new scala.util.Random(7)
    val docs = (1L to 10L).map { id =>
      id -> Seq.fill(1 + rnd.nextInt(16))(
        ('a' + rnd.nextInt(2)).toChar.toString).mkString(" ")
    }
    val got = SuffixArray
      .substringDedupStats(docs.toDF("doc_id", "text"), minLen = 3)
      .select("doc_id", "n_tokens", "n_covered")
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got == bruteCoverage(docs, 3), s"random corpus: $docs")
  }

  /** Brute eval overlap: per train doc, longest substring also present
    * anywhere in the eval corpus + minLen coverage. */
  private def bruteEval(train: Seq[(Long, String)], ev: Seq[(Long, String)],
                        minLen: Int): Map[Long, (Long, Long, Long)] = {
    def toks(s: String) = if (s.trim.isEmpty) Seq.empty[String]
    else s.trim.split("\\s+").toSeq
    val evalSubs = (for {
      (_, t) <- ev
      ts = toks(t)
      p <- ts.indices
      m <- 1 to (ts.length - p)
    } yield ts.slice(p, p + m)).toSet
    train.map { case (id, t) =>
      val ts = toks(t)
      def sharedAt(s: Int): Int =
        (1 to (ts.length - s)).reverse
          .find(m => evalSubs.contains(ts.slice(s, s + m))).getOrElse(0)
      val sh = ts.indices.map(sharedAt)
      val covered = ts.indices.count { t0 =>
        (0 to t0).exists(s => sh(s) >= math.max(minLen, t0 - s + 1))
      }
      id -> (ts.length.toLong,
        (if (sh.isEmpty) 0L else sh.max.toLong), covered.toLong)
    }.toMap
  }

  test("evalOverlapStats matches brute force: leaked copies, shared " +
    "phrases, disjoint docs, empty eval") {
    val ev = Seq(100L -> "the secret eval answer phrase",
      101L -> "b b b")
    val train = Seq(
      1L -> "prefix the secret eval answer phrase suffix", // full leak
      2L -> "contains the secret eval only",               // partial
      3L -> "totally unrelated words here",                // disjoint
      4L -> "b b",                                         // overlap-heavy
      5L -> "")                                            // empty text
    for (ml <- Seq(2, 3)) {
      val got = SuffixArray.evalOverlapStats(
          train.toDF("doc_id", "text"), ev.toDF("doc_id", "text"),
          minLen = ml)
        .select("doc_id", "n_tokens", "max_shared", "n_covered")
        .as[(Long, Long, Long, Long)].collect()
        .map(r => r._1 -> (r._2, r._3, r._4)).toMap
      assert(got == bruteEval(train, ev, ml), s"minLen=$ml")
    }
    // empty eval corpus: all zeros but token counts intact
    val none = SuffixArray.evalOverlapStats(
        train.toDF("doc_id", "text"),
        Seq.empty[(Long, String)].toDF("doc_id", "text"), minLen = 2)
      .select("doc_id", "max_shared", "n_covered")
      .as[(Long, Long, Long)].collect()
    assert(none.forall(r => r._2 == 0L && r._3 == 0L))
    // seeded random cross-check
    val rnd = new scala.util.Random(23)
    def randDocs(n: Int, off: Long) = (1L to n.toLong).map { i =>
      (i + off) -> Seq.fill(1 + rnd.nextInt(14))(
        ('a' + rnd.nextInt(2)).toChar.toString).mkString(" ")
    }
    val rt = randDocs(10, 0L)
    val re = randDocs(4, 1000L)
    val got = SuffixArray.evalOverlapStats(rt.toDF("doc_id", "text"),
        re.toDF("doc_id", "text"), minLen = 3)
      .select("doc_id", "n_tokens", "max_shared", "n_covered")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(got == bruteEval(rt, re, 3), s"random: $rt vs $re")
  }

  test("the assembled stats pipeline plans no single-partition exchange") {
    val plan = SuffixArray.substringDedupStats(
        Seq((1L, "a b a b"), (2L, "c d")).toDF("doc_id", "text"),
        minLen = 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"), plan)
  }

  test("prefixCarryMax equals a sequential scan (sparse carriers, " +
    "empty-prefix nulls, all-null)") {
    val rnd = new scala.util.Random(5)
    val rows: Seq[(Long, Option[Long])] = (1L to 500L).map(i =>
      (i, if (rnd.nextInt(10) == 0) Some(i * 7L) else None))
    val got = SuffixArray.prefixCarryMax(
        rows.toDF("ord", "v"), "ord", "v", 500L, "c")
      .select("ord", "c").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None
        else Some(r.getLong(1)))).toMap
    var run: Option[Long] = None
    rows.foreach { case (o, v) =>
      run = (run.toSeq ++ v.toSeq)
        .reduceOption((a: Long, b: Long) => math.max(a, b))
      assert(got(o) == run, s"ord=$o")
    }
    // all-null carriers: everything stays null
    val gotNull = SuffixArray.prefixCarryMax(
        (1L to 20L).map(i => (i, None: Option[Long])).toDF("ord", "v"),
        "ord", "v", 20L, "c")
      .select("c").collect()
    assert(gotNull.forall(_.isNullAt(0)))
  }

  test("degenerate inputs: empty text rows report (0,0); empty corpus " +
    "yields an empty frame; explicit undersized levels are rejected") {
    val withEmpty = Seq(1L -> "a b a b", 2L -> "   ", 3L -> "")
    val got = runLrs(withEmpty)
    assert(got(2L) == (0L, 0L) && got(3L) == (0L, 0L))
    assert(got(1L) == (2L, 0L)) // "a b" repeats at 0 and 2
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(SuffixArray.longestRepeatedSpans(empty).count() == 0L)
    intercept[IllegalArgumentException] {
      SuffixArray.longestRepeatedSpans(
        Seq(1L -> ("w " * 40).trim).toDF("doc_id", "text"), levels = 2)
        .collect()
    }
  }

  /** Brute-force reference for [[SuffixArray.substringDeduped]]: dup
    * window groups by exact slice content, canonical = least (doc, pos),
    * keep rule = not (covered by a non-canonical dup window and by no
    * canonical one), rebuild in token space. */
  private def bruteDedup(docs: Seq[(Long, String)], w: Int)
      : Map[Long, (String, Long, Long)] = {
    val toks = docs.map { case (id, t) =>
      id -> (if (t.trim.isEmpty) Seq.empty[String]
             else t.trim.split("\\s+").toSeq)
    }
    val occ = scala.collection.mutable.Map
      .empty[Seq[String], List[(Long, Int)]]
    for ((id, ts) <- toks; s <- 0 to ts.length - w)
      occ.updateWith(ts.slice(s, s + w))(o =>
        Some((id, s) :: o.getOrElse(Nil)))
    val canonOf = occ.filter(_._2.size >= 2)
      .map { case (k, os) => k -> os.min }.toMap
    toks.map { case (id, ts) =>
      val keep = ts.indices.map { t =>
        val starts = (math.max(0, t - w + 1) to t)
          .filter(s => s + w <= ts.length)
        def canon(s: Int) = canonOf.get(ts.slice(s, s + w))
        val remCover = starts.exists(s => canon(s).exists(_ != (id, s)))
        val canCover = starts.exists(s => canon(s).contains((id, s)))
        !(remCover && !canCover)
      }
      val kept = ts.zip(keep).collect { case (tk, true) => tk }
      id -> (kept.mkString(" "), ts.length.toLong, kept.length.toLong)
    }.toMap
  }

  private def runDedup(docs: Seq[(Long, String)], w: Int)
      : Map[Long, (String, Long, Long)] =
    SuffixArray.substringDeduped(docs.toDF("doc_id", "text"), w)
      .as[(Long, String, Long, Long)].collect()
      .map { case (id, t, b, a) => id -> (t, b, a) }.toMap

  test("substringDeduped matches brute force: copies, shared tails, " +
    "periodic runs, sub-window docs, whitespace docs — power-of-two " +
    "AND composite-key windows") {
    val passage = (1 to 20).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      1L -> passage,                               // canonical holder
      2L -> passage,                               // exact copy
      3L -> ((11 to 20).map(i => s"w$i").mkString(" ") + " z9 z8"),
      4L -> Seq.fill(12)("x").mkString(" "),       // periodic self-repeat
      5L -> "only two",                            // shorter than any window
      6L -> "   ",                                 // whitespace-only
      7L -> (1 to 15).map(i => s"u$i").mkString(" "), // unique, untouched
      8L -> "a b a b a b a b",                     // overlapping windows
      9L -> "a b a b a b a b",                     // ...repeated
      10L -> "  c  d   a b a  b e  ",              // space runs
      11L -> "c d a b a b e f",                    // doc 10's tokens
      12L -> "x\ty\nz x y z",                      // tab/newline separators
      13L -> "")
    for (w <- Seq(1, 2, 3, 4, 5, 8)) { // 8 = pow2, 3/5 composite keys
      assert(runDedup(docs, w) == bruteDedup(docs, w), s"window=$w")
    }
  }

  test("substringDeduped matches brute force on seeded random corpora " +
    "with injected boilerplate, and every duplicated window content " +
    "survives somewhere in the rebuilt corpus") {
    val rnd = new scala.util.Random(41)
    val boiler = (1 to 9).map(i => s"B$i")
    val docs = (1L to 30L).map { id =>
      val body = Seq.fill(6 + rnd.nextInt(20))("t" + rnd.nextInt(12))
      val withB =
        if (rnd.nextBoolean())
          body.patch(rnd.nextInt(body.length), boiler, 0)
        else body
      id -> withB.mkString(" ")
    }
    for (w <- Seq(4, 6)) {
      val got = runDedup(docs, w)
      assert(got == bruteDedup(docs, w), s"window=$w")
      // keep-one invariant: the canonical window is kept intact and
      // contiguous, so every duplicated content stays present
      def windows(texts: Iterable[String]) = texts.flatMap { t =>
        val ts = t.trim.split("\\s+").toSeq.filter(_.nonEmpty)
        (0 to ts.length - w).map(s => ts.slice(s, s + w))
      }.toSet
      val inToks = docs.map(_._2).flatMap(_.trim.split("\\s+")).toSeq
      val inWin = windows(docs.map(_._2))
      val dupContents = windows(docs.map(_._2)).filter { k =>
        docs.map(_._2).flatMap { t =>
          val ts = t.trim.split("\\s+").toSeq
          (0 to ts.length - w).filter(s => ts.slice(s, s + w) == k)
        }.size >= 2
      }
      val outWin = windows(got.values.map(_._1).filter(_.nonEmpty))
      assert(dupContents.subsetOf(outWin), s"window=$w lost dup content")
    }
  }

  test("substringDeduped is idempotent on copy/boilerplate/periodic " +
    "structure (second pass removes nothing)") {
    val passage = (1 to 24).map(i => s"p$i").mkString(" ")
    val docs = Seq(
      1L -> passage, 2L -> passage,
      3L -> (passage + " tail1 tail2"),
      4L -> Seq.fill(15)("r").mkString(" "))
    val once = SuffixArray.substringDeduped(docs.toDF("doc_id", "text"), 8)
    val again = SuffixArray.substringDeduped(
        once.select("doc_id", "text"), 8)
      .as[(Long, String, Long, Long)].collect()
    assert(again.forall(r => r._3 == r._4),
      s"second pass removed tokens: ${again.mkString(", ")}")
  }

  /** Brute-force reference for [[SuffixArray.evalDecontaminatedText]]:
    * a train position is dropped iff covered by a window whose content
    * occurs anywhere in the eval corpus — no canonical veto. */
  private def bruteEvalDecon(train: Seq[(Long, String)],
                             ev: Seq[(Long, String)], w: Int)
      : Map[Long, (String, Long, Long)] = {
    def toks(t: String) =
      if (t.trim.isEmpty) Seq.empty[String] else t.trim.split("\\s+").toSeq
    val evalWins = ev.map(_._2).flatMap { t =>
      val ts = toks(t)
      (0 to ts.length - w).map(s => ts.slice(s, s + w))
    }.toSet
    train.map { case (id, t) =>
      val ts = toks(t)
      val keep = ts.indices.map { p =>
        !(math.max(0, p - w + 1) to p).exists(s =>
          s + w <= ts.length && evalWins.contains(ts.slice(s, s + w)))
      }
      val kept = ts.zip(keep).collect { case (tk, true) => tk }
      id -> (kept.mkString(" "), ts.length.toLong, kept.length.toLong)
    }.toMap
  }

  private def runEvalDecon(train: Seq[(Long, String)],
                           ev: Seq[(Long, String)], w: Int)
      : Map[Long, (String, Long, Long)] =
    SuffixArray.evalDecontaminatedText(train.toDF("doc_id", "text"),
        ev.toDF("doc_id", "text"), w)
      .as[(Long, String, Long, Long)].collect()
      .map { case (id, t, b, a) => id -> (t, b, a) }.toMap

  test("evalDecontaminatedText matches brute force: planted leaks lose " +
    "their shared spans, clean docs pass through, disjoint/empty eval " +
    "are identities — power-of-two AND composite-key windows") {
    val passage = (1 to 20).map(i => s"e$i").mkString(" ")
    val ev = Seq(100L -> passage, 101L -> "q1 q2 q3 q4 q5 q6 q7 q8")
    val train = Seq(
      1L -> passage,                                  // full leak
      2L -> ("intro1 intro2 " + passage + " outro"),  // embedded leak
      3L -> (5 to 14).map(i => s"e$i").mkString(" "), // partial overlap
      4L -> (1 to 18).map(i => s"c$i").mkString(" "), // clean
      5L -> "tiny doc",                               // sub-window
      6L -> "   ")                                    // whitespace-only
    for (w <- Seq(4, 5, 8)) {
      val got = runEvalDecon(train, ev, w)
      assert(got == bruteEvalDecon(train, ev, w), s"window=$w")
      // the full leak is erased entirely; the clean doc is untouched
      assert(got(1L)._1.isEmpty && got(4L)._3 == got(4L)._2)
    }
    // disjoint eval: identity in token space
    val disjoint = runEvalDecon(train, Seq(200L -> "z1 z2 z3 z4 z5"), 4)
    train.foreach { case (id, t) =>
      assert(disjoint(id)._1 ==
        t.trim.split("\\s+").filter(_.nonEmpty).mkString(" "), s"doc $id")
    }
    // empty eval: identity too
    val none = runEvalDecon(train, Seq.empty[(Long, String)], 4)
    assert(none(2L)._2 == none(2L)._3)
  }

  test("evalDecontaminatedText matches brute force on seeded random " +
    "corpora with injected eval snippets; output shares NO window with " +
    "the eval corpus") {
    val rnd = new scala.util.Random(77)
    val evalDocs = (1L to 4L).map(i =>
      i -> (1 to 12).map(j => s"E${i}_$j").mkString(" "))
    val w = 4
    val train = (10L to 40L).map { id =>
      val body = Seq.fill(8 + rnd.nextInt(18))("t" + rnd.nextInt(10))
      val planted =
        if (id % 3 == 0) {
          val src = evalDocs(rnd.nextInt(evalDocs.size))._2
            .split(" ").toSeq.take(4 + rnd.nextInt(6))
          body.patch(rnd.nextInt(body.length), src, 0)
        } else body
      id -> planted.mkString(" ")
    }
    val got = runEvalDecon(train, evalDocs, w)
    assert(got == bruteEvalDecon(train, evalDocs, w))
    // decontamination postcondition: no rebuilt doc shares any w-window
    // with the eval corpus (modulo NEW adjacencies, absent here by
    // construction: eval tokens are globally unique markers)
    val evalWins = evalDocs.map(_._2).flatMap { t =>
      val ts = t.split(" ").toSeq
      (0 to ts.length - w).map(s => ts.slice(s, s + w))
    }.toSet
    got.values.map(_._1).filter(_.nonEmpty).foreach { t =>
      val ts = t.split(" ").toSeq
      (0 to ts.length - w).foreach(s =>
        assert(!evalWins.contains(ts.slice(s, s + w))))
    }
  }

  test("evalOverlapStats rejects negative doc ids loudly (the -id-1 " +
    "namespacing would silently misfile suffixes)") {
    val good = Seq(1L -> "a b c d").toDF("doc_id", "text")
    val badTrain = Seq(-2L -> "a b c d").toDF("doc_id", "text")
    val e1 = intercept[Exception] {
      SuffixArray.evalOverlapStats(badTrain, good, minLen = 2).collect()
    }
    assert(e1.getMessage.contains("train doc_id must be >= 0") ||
      Option(e1.getCause).exists(
        _.getMessage.contains("train doc_id must be >= 0")))
    val e2 = intercept[Exception] {
      SuffixArray.evalOverlapStats(good, badTrain, minLen = 2).collect()
    }
    assert(e2.getMessage.contains("eval doc_id must be >= 0") ||
      Option(e2.getCause).exists(
        _.getMessage.contains("eval doc_id must be >= 0")))
  }

  test("verifyTermHashes passes on a collision-free corpus and keeps " +
    "the ranks identical to the unverified build") {
    val docs = Seq(1L -> "a b c a b", 2L -> "c a b x")
      .toDF("doc_id", "text")
    val a = SuffixArray.suffixRanks(docs, 3)
      .select("doc_id", "pos", "r3").collect().toSet
    val b = SuffixArray.suffixRanks(docs, 3, verifyTermHashes = true)
      .select("doc_id", "pos", "r3").collect().toSet
    assert(a == b && a.nonEmpty)
  }
}
