package graft

import graft.api.{EpochStoreKit, FingerprintStore, FuzzyKeyStore,
  MinHashDedupStore, SemanticDedupStore, SubstringDedupStore,
  TemporalVectorDB}
import graft.streaming.{CountMinArtifact, LiveArtifact,
  PrioritySampleArtifact}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** SYSTEMATIC fault-injection sweep over the durable stores' commit
  * sequences — the generalization of the hand-picked crash-window
  * specs: instead of simulating the windows we thought of (torn
  * compact, torn retrain, interrupted prune, replayed commit), this
  * enumerates EVERY mutating filesystem boundary each operation
  * performs (artifact parquet writes, marker creates, sentinel/token
  * writes, every individual prune delete — announced through
  * [[EpochStoreKit.boundary]]), kills the operation at each boundary in
  * turn on a fresh copy of the store, and asserts the two invariants
  * the store contract promises at EVERY window:
  *
  *  1. NO TORN STATE IS EVER VISIBLE: after the kill, a fresh reader
  *     sees either the exact pre-operation content or the exact
  *     post-operation content — never a mixture;
  *  2. THE RETRY CONVERGES: re-running the operation verbatim lands on
  *     content identical to the never-faulted run.
  *
  * Content, not epoch numbers, is compared — a retried retrain/compact
  * legitimately lands on a higher epoch with identical resolved state.
  * Each sweep logs its boundary count, so a future code change that
  * adds an unswept write shows up as a count change in this spec's
  * output (and any new window it opens fails invariant 1 or 2). */
class FaultSweepSpec extends SparkSpec {
  import spark.implicits._

  private class FaultInjected(at: String)
    extends RuntimeException(s"fault injected at $at")

  private def copyDir(src: String, dst: String): Unit = {
    val s = Paths.get(src)
    val d = Paths.get(dst)
    Files.walk(s).forEach { p =>
      val t = d.resolve(s.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else {
        Files.createDirectories(t.getParent)
        Files.copy(p, t)
      }
    }
  }

  /** One (store, operation) sweep: `build` initializes the pristine
    * store at a root, `op` opens it and performs the faulted operation,
    * `read` opens it and returns its canonical CONTENT. */
  private case class Scenario(name: String, build: String => Unit,
                              op: String => Unit, read: String => Any)

  private def sweep(sc: Scenario): Unit = {
    val baseDir = Files
      .createTempDirectory(s"graft-fault-${sc.name}").toString
    val pristine = s"$baseDir/pristine"
    sc.build(pristine)
    val preState = sc.read(pristine)

    val finalRoot = s"$baseDir/final"
    copyDir(pristine, finalRoot)
    sc.op(finalRoot)
    val finalState = sc.read(finalRoot)

    // enumerate the operation's write boundaries with a counting hook
    val cntRoot = s"$baseDir/count"
    copyDir(pristine, cntRoot)
    var count = 0
    EpochStoreKit.installFaultHook(cntRoot, _ => count += 1)
    try sc.op(cntRoot)
    finally EpochStoreKit.clearFaultHook(cntRoot)
    assert(count >= 2,
      s"${sc.name}: expected a multi-boundary commit sequence, saw $count")
    info(s"${sc.name}: ${count} write boundaries swept")

    for (k <- 1 to count) {
      val d = s"$baseDir/k$k"
      copyDir(pristine, d)
      var fired = 0
      var at = ""
      EpochStoreKit.installFaultHook(d, p => {
        fired += 1
        if (fired == k) { at = p; throw new FaultInjected(p) }
      })
      val died =
        try { sc.op(d); false }
        catch { case _: FaultInjected => true }
        finally EpochStoreKit.clearFaultHook(d)
      assert(died, s"${sc.name} k=$k: boundary never fired on the kill run")
      val torn = sc.read(d)
      assert(torn == preState || torn == finalState,
        s"${sc.name} k=$k (killed at $at): TORN state visible to readers")
      sc.op(d) // the retry
      assert(sc.read(d) == finalState,
        s"${sc.name} k=$k (killed at $at): retry did not converge")
    }
  }

  /** Cross-op sweep: kill `torn` at each of its write boundaries on a
    * fresh copy of the store, run `recover` (a DIFFERENT operation
    * sequence than the same-op retry), and require the content of the
    * never-faulted `torn` + `recover` run. */
  private def crossOp(name: String, build: String => Unit,
                      torn: String => Unit, recover: String => Unit,
                      read: String => Any): Unit = {
    val baseDir = Files.createTempDirectory(s"graft-fault-$name").toString
    val pristine = s"$baseDir/pristine"
    build(pristine)
    val expectRoot = s"$baseDir/expect"
    copyDir(pristine, expectRoot)
    torn(expectRoot)
    recover(expectRoot)
    val expect = read(expectRoot)
    val cntRoot = s"$baseDir/count"
    copyDir(pristine, cntRoot)
    var count = 0
    EpochStoreKit.installFaultHook(cntRoot, _ => count += 1)
    try torn(cntRoot)
    finally EpochStoreKit.clearFaultHook(cntRoot)
    info(s"$name: ${count} write boundaries swept")
    for (k <- 1 to count) {
      val d = s"$baseDir/k$k"
      copyDir(pristine, d)
      var fired = 0
      var at = ""
      EpochStoreKit.installFaultHook(d, p => {
        fired += 1
        if (fired == k) { at = p; throw new FaultInjected(p) }
      })
      val died =
        try { torn(d); false }
        catch { case _: FaultInjected => true }
        finally EpochStoreKit.clearFaultHook(d)
      assert(died, s"$name k=$k: boundary never fired")
      recover(d)
      assert(read(d) == expect,
        s"$name k=$k (killed at $at): recovery misread")
    }
  }

  // ---- fixtures (minimal corpora exercising every artifact kind) ----

  private def subBase = Seq(
    1L -> "a b c d e f g h", 2L -> "x1 a b c d x2 x3 x4",
    3L -> "p q r s t u v w").toDF("doc_id", "text")
  private def subBatch = Seq(
    10L -> "z1 p q r s z2 z3 z4", 11L -> "a b c d e f g h")
    .toDF("doc_id", "text")

  private val H = 0x00FF00FF00L
  private def fpBase = Seq((1L, H), (2L, H), (3L, 0x7700AA0011L))
    .toDF("_id", "simhash")
  private def fpBatch = Seq((10L, H ^ 1L), (11L, 0x13572468ACL))
    .toDF("_id", "simhash")

  private def fzBase = Seq(1L -> "alpha", 2L -> "alphb", 3L -> "gamma")
    .toDF("doc_id", "key")
  private def fzBatch = Seq(10L -> "alphc", 11L -> "delta")
    .toDF("doc_id", "key")

  private def mhBase = Seq(
    1L -> "a b c d e f g h", 2L -> "a b c d e f g h h2",
    3L -> "p q r s t u v w").toDF("doc_id", "text")
  private def mhBatch = Seq(
    10L -> "a b c d e f g h", 11L -> "fresh words entirely new here")
    .toDF("doc_id", "text")

  private def smBase = Seq(
    (1L, Seq(1f, 0.01f, 0f, 0f)), (2L, Seq(1f, 0.02f, 0f, 0f)),
    (3L, Seq(0f, 1f, 0f, 0f)), (4L, Seq(0f, 0f, 1f, 0f)))
    .toDF("vec_id", "embedding")
  private def smBatch = Seq(
    (10L, Seq(1f, 0.015f, 0f, 0f)), (11L, Seq(0f, 0f, 0.99f, 0.05f)))
    .toDF("vec_id", "embedding")

  private def rowSet(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  // ---- scenarios: every store × {append, compact} (+ retrain) ------

  private def subRead(root: String): Any =
    rowSet(SubstringDedupStore.open(spark, root, 4).deduped
      .select("doc_id", "text", "n_tokens_before", "n_tokens_after"))

  private def fpRead(root: String): Any = {
    val s = FingerprintStore.open(spark, root)
    (rowSet(s.components), rowSet(s.prints))
  }

  private def fzRead(root: String): Any =
    rowSet(FuzzyKeyStore.open(spark, root).keptKeys)

  private def mhRead(root: String): Any = {
    val s = MinHashDedupStore.open(spark, root, 0.5)
    (rowSet(s.components), s.signatures.count())
  }

  private def smRead(root: String): Any = {
    val s = SemanticDedupStore.open(spark, root, tau = 0.95,
      maxStaleFrac = 10.0)
    val corpus = (smBase unionByName smBatch).select("vec_id")
    (rowSet(s.kept(corpus, "vec_id")), s.staleFrac)
  }

  test("substring store: kill at every append/compact write boundary — " +
    "no torn reads, retry converges") {
    val build = (r: String) => {
      SubstringDedupStore.init(spark, r, subBase, 4); ()
    }
    sweep(Scenario("sub-append", build,
      r => { SubstringDedupStore.open(spark, r, 4).append(subBatch); () },
      subRead))
    val build2 = (r: String) => {
      val s = SubstringDedupStore.init(spark, r, subBase, 4)
      s.append(subBatch); ()
    }
    sweep(Scenario("sub-compact", build2,
      r => { SubstringDedupStore.open(spark, r, 4).compact(); () },
      subRead))
  }

  test("fingerprint store: kill at every append/compact write boundary") {
    val build = (r: String) => {
      FingerprintStore.init(spark, r, fpBase); ()
    }
    sweep(Scenario("fp-append", build,
      r => { FingerprintStore.open(spark, r).append(fpBatch); () },
      fpRead))
    val build2 = (r: String) => {
      val s = FingerprintStore.init(spark, r, fpBase)
      s.append(fpBatch); ()
    }
    sweep(Scenario("fp-compact", build2,
      r => { FingerprintStore.open(spark, r).compact(); () },
      fpRead))
  }

  test("fuzzy-key store: kill at every append/compact write boundary") {
    val build = (r: String) => {
      FuzzyKeyStore.init(spark, r, fzBase); ()
    }
    sweep(Scenario("fz-append", build,
      r => { FuzzyKeyStore.open(spark, r).append(fzBatch); () },
      fzRead))
    val build2 = (r: String) => {
      val s = FuzzyKeyStore.init(spark, r, fzBase)
      s.append(fzBatch); ()
    }
    sweep(Scenario("fz-compact", build2,
      r => { FuzzyKeyStore.open(spark, r).compact(); () },
      fzRead))
  }

  test("minhash store: kill at every append/compact write boundary") {
    val build = (r: String) => {
      MinHashDedupStore.init(spark, r, mhBase, 0.5); ()
    }
    sweep(Scenario("mh-append", build,
      r => { MinHashDedupStore.open(spark, r, 0.5).append(mhBatch); () },
      mhRead))
    val build2 = (r: String) => {
      val s = MinHashDedupStore.init(spark, r, mhBase, 0.5)
      s.append(mhBatch); ()
    }
    sweep(Scenario("mh-compact", build2,
      r => { MinHashDedupStore.open(spark, r, 0.5).compact(); () },
      mhRead))
  }

  private def laBatch(k: Int) = (0 until 40)
    .map(i => (100L * k + i, s"w${(i * k) % 9}", 1L + i % 5))
    .toDF("doc_id", "text", "w")

  test("live artifacts (count-min: sum merge; priority sample: top-k " +
    "merge): kill at every append/compact write boundary, and a compact " +
    "torn at every boundary followed by the NEXT append reads as if the " +
    "compact never tore") {
    val families: Seq[(String, String => LiveArtifact)] = Seq(
      "la-cms" -> (r => new CountMinArtifact(spark, r, "text", 3, 16)),
      "la-ps" -> (r => new PrioritySampleArtifact(spark, r, 5, "w")))
    for ((name, artifact) <- families) {
      def read(r: String): Any = rowSet(artifact(r).read)
      val build = (r: String) => {
        artifact(r).append(laBatch(1), "1"); ()
      }
      sweep(Scenario(s"$name-append", build,
        r => { artifact(r).append(laBatch(2), "2"); () }, read))
      val build2 = (r: String) => {
        val a = artifact(r)
        a.append(laBatch(1), "1"); a.append(laBatch(2), "2"); ()
      }
      val compact = (r: String) => { artifact(r).compact(); () }
      sweep(Scenario(s"$name-compact", build2, compact, read))

      // cross-op: the sweep's retry re-runs compact(), which never
      // reaches an append landing on a torn compaction's pre-commit
      // snapshot mark — a sum merge would then read the append's delta
      // as the whole state
      crossOp(s"$name-xop", build2, compact,
        r => { artifact(r).append(laBatch(3), "3"); () }, read)
    }
  }

  test("a token append torn at every boundary, then compact(), then the " +
    "replay of the same token: the batch lands exactly once (live " +
    "artifacts and a dedup store share the token protocol)") {
    // the compaction takes the epoch number the torn append was about
    // to commit — a token that merely named that epoch would read the
    // compaction's commit as its own and drop the batch on replay
    val families: Seq[(String, String => LiveArtifact)] = Seq(
      "la-cms" -> (r => new CountMinArtifact(spark, r, "text", 3, 16)),
      "la-ps" -> (r => new PrioritySampleArtifact(spark, r, 5, "w")))
    for ((name, artifact) <- families) {
      val append3 = (r: String) => {
        artifact(r).append(laBatch(3), "3"); ()
      }
      crossOp(s"$name-xop-append",
        r => {
          val a = artifact(r)
          a.append(laBatch(1), "1"); a.append(laBatch(2), "2"); ()
        },
        append3,
        r => { artifact(r).compact(); append3(r) },
        r => rowSet(artifact(r).read))
    }
    val fpBatch2 = Seq((20L, H ^ 2L), (21L, 0x2468ACE013L))
      .toDF("_id", "simhash")
    val append2 = (r: String) => {
      FingerprintStore.open(spark, r).append(fpBatch2, "b2"); ()
    }
    crossOp("fp-xop-append",
      r => {
        FingerprintStore.init(spark, r, fpBase).append(fpBatch, "b1"); ()
      },
      append2,
      r => { FingerprintStore.open(spark, r).compact(); append2(r) },
      fpRead)
  }

  // three contents, four versions each per batch: a base, then sparse
  // deltas, so chains grow and base promotion has targets
  private def tvBatch(k: Int) = (for (c <- 0 until 3; v <- 0 until 4)
    yield (s"v$c", new java.sql.Timestamp(1700000000000L + k * 100L + v),
      Array.tabulate(8)(j => if (j == (c + v) % 8) 0.1f * (k + v) else 0.5f)))
    .toDF("content_id", "ts", "embedding")

  private def tvRead(root: String): Any =
    rowSet(new TemporalVectorDB(spark, root).versions)

  test("versions table: kill at every write boundary of a token append " +
    "(the retry is its replay), compactStore and applyBaseOptimization, " +
    "and a token append torn at every boundary, then compactStore, then " +
    "its replay — the batch lands exactly once") {
    def db(r: String) = new TemporalVectorDB(spark, r)
    val build = (r: String) => { db(r).addVersions(tvBatch(1), "b1"); () }
    val append2 = (r: String) => { db(r).addVersions(tvBatch(2), "b2"); () }
    sweep(Scenario("tv-append", build, append2, tvRead))
    val build2 = (r: String) => { build(r); append2(r) }
    sweep(Scenario("tv-compact", build2,
      r => { db(r).compactStore(targetPartitions = 2); () }, tvRead))
    sweep(Scenario("tv-promote", build2, r => {
      assert(db(r).applyBaseOptimization(maxCost = 1) >= 0); ()
    }, tvRead))
    crossOp("tv-xop-append", build2,
      r => { db(r).addVersions(tvBatch(3), "b3"); () },
      r => {
        db(r).compactStore(targetPartitions = 2)
        db(r).addVersions(tvBatch(3), "b3")
        db(r).addVersions(tvBatch(3), "b3") // a second replay: a no-op
        ()
      }, tvRead)
    // promotion had targets, so the sweep above rewrote the store
    val probe = Files.createTempDirectory("graft-fault-tv-probe").toString
    build2(probe)
    assert(db(probe).applyBaseOptimization(maxCost = 1) > 0)
  }

  test("CurationDB composed append: kill at EVERY write boundary " +
    "across all five member commits + the facade token/marker — " +
    "committed-facade-epoch reads (keptAt) are never torn, and the " +
    "replayed append converges") {
    import graft.api.CurationDB
    val cfg = CurationDB.Config(window = 4, minhashTau = 0.5,
      nCells = 2, kmeansIters = 2, maxStaleFrac = 10.0)
    def rows(ids: Seq[Long], texts: Seq[String], keys: Seq[String],
             vecs: Seq[Seq[Float]]): DataFrame =
      ids.indices.map(i => (ids(i), texts(i), keys(i), vecs(i)))
        .toDF("doc_id", "text", "key", "embedding")
    val base = rows(Seq(1L, 2L, 3L),
      Seq("a b c d e f g h", "p q r s t u v w", "p q r s t u v w"),
      Seq("alpha", "gamma", "delta"),
      Seq(Seq(1f, 0.01f, 0f, 0f), Seq(0f, 1f, 0f, 0f),
        Seq(0f, 0f, 1f, 0f)))
    val batch = rows(Seq(10L, 11L),
      Seq("a b c d e f g h", "fresh words only here"),
      Seq("alphb", "omega"),
      Seq(Seq(1f, 0.015f, 0f, 0f), Seq(0f, 0f, 0.99f, 0.05f)))
    val allIds = (base unionByName batch).select("doc_id")
    // the crash-consistent read path is keptAt(committed facade epoch):
    // mid-recovery the LATEST member states are legitimately mixed
    // (some members committed, some not — the documented transient),
    // but reads pinned to a committed facade epoch replay every member
    // at its recorded epoch and can never mix
    def read(root: String): Any = {
      val db = CurationDB.open(spark, root, cfg)
      db.keptAt(db.epoch, allIds).select(col("doc_id").cast("long"))
        .as[Long].collect().toSet
    }
    sweep(Scenario("cdb-append",
      r => { CurationDB.init(spark, r, base, cfg); () },
      r => { CurationDB.open(spark, r, cfg).append(batch); () },
      read))
  }

  test("semantic store: kill at every append/compact/retrain write " +
    "boundary (incl. the centroids artifact, the _compacts sentinel, " +
    "the _trainmass record, and each prune delete)") {
    def open(r: String) =
      SemanticDedupStore.open(spark, r, tau = 0.95, maxStaleFrac = 10.0)
    val build = (r: String) => {
      SemanticDedupStore.init(spark, r, smBase, nCells = 2, iters = 2,
        tau = 0.95, maxStaleFrac = 10.0)
      ()
    }
    sweep(Scenario("sm-append", build,
      r => { open(r).append(smBatch); () }, smRead))
    val build2 = (r: String) => {
      val s = SemanticDedupStore.init(spark, r, smBase, nCells = 2,
        iters = 2, tau = 0.95, maxStaleFrac = 10.0)
      s.append(smBatch); ()
    }
    sweep(Scenario("sm-compact", build2,
      r => { open(r).compact(); () }, smRead))
    sweep(Scenario("sm-retrain", build2,
      r => { open(r).retrain(nCells = 2, iters = 2); () }, smRead))
  }

  test("semantic store: a RETRAIN torn at every boundary followed by " +
    "compact() never promotes the never-committed centroids — the " +
    "cross-op recovery path the same-op sweep cannot reach") {
    def open(r: String) =
      SemanticDedupStore.open(spark, r, tau = 0.95, maxStaleFrac = 10.0)
    // the buggy state is a MIXTURE: retrained centroids promoted to
    // latestTrain while asg/comp still carry the old generation's sims —
    // so the read must capture the assignment AND the centroids, not
    // just kept ids
    def read(r: String): Any = {
      val s = open(r)
      (rowSet(s.assignment), rowSet(s.components), s.latestTrain,
        s.staleFrac, s.centroids.map(_.toSeq).toSeq)
    }
    val baseDir = Files.createTempDirectory("graft-fault-sm-xop").toString
    val pristine = s"$baseDir/pristine"
    val s0 = SemanticDedupStore.init(spark, pristine, smBase, nCells = 2,
      iters = 2, tau = 0.95, maxStaleFrac = 10.0)
    s0.append(smBatch)

    // the two legitimate outcomes: compact over the un-retrained store,
    // or compact after a retrain that reached its commit marker
    val aRoot = s"$baseDir/expectA"
    copyDir(pristine, aRoot)
    open(aRoot).compact()
    val expectA = read(aRoot)
    val bRoot = s"$baseDir/expectB"
    copyDir(pristine, bRoot)
    open(bRoot).retrain(nCells = 2, iters = 2)
    open(bRoot).compact()
    val expectB = read(bRoot)
    // the bug this guards: promoted torn centroids reset staleness, so
    // the two expected states must themselves differ in latestTrain
    assert(expectA != expectB)

    val cntRoot = s"$baseDir/count"
    copyDir(pristine, cntRoot)
    var count = 0
    EpochStoreKit.installFaultHook(cntRoot, _ => count += 1)
    try open(cntRoot).retrain(nCells = 2, iters = 2)
    finally EpochStoreKit.clearFaultHook(cntRoot)

    for (k <- 1 to count) {
      val d = s"$baseDir/k$k"
      copyDir(pristine, d)
      var fired = 0
      EpochStoreKit.installFaultHook(d, p => {
        fired += 1
        if (fired == k) throw new FaultInjected(p)
      })
      val died =
        try { open(d).retrain(nCells = 2, iters = 2); false }
        catch { case _: FaultInjected => true }
        finally EpochStoreKit.clearFaultHook(d)
      assert(died, s"sm-xop k=$k: boundary never fired")
      open(d).compact()
      val got = read(d)
      assert(got == expectA || got == expectB,
        s"sm-xop k=$k: compact() after the torn retrain produced a " +
          s"state matching neither legitimate outcome (got $got)")
    }
  }
}
