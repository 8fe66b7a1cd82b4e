package perfbench

import graft.api.CurationDB
import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable.ArrayBuffer

/** `curation_epochs`: the five-store CurationDB epoch protocol (q122's
  * shape with more, smaller appends): init on half the corpus, disjoint
  * appends, member maintenance (minhash compaction plus semantic retrain)
  * between appends, then a cold open and a historical `keptAt` read at an
  * epoch committed after the maintenance. Rounds on fresh roots repeat
  * until the run's time is up. */
object CurationWorkload {
  val Docs = 1200
  val Appends = 4
  val MaintainAfter = 2
  val Cfg = CurationDB.Config(nCells = 8, maxStaleFrac = 10.0)
  val Members = Seq("substring", "fingerprint", "fuzzy", "minhash", "semantic")
  /** The member stores' directories under a CurationDB root, in `Members` order. */
  val Roots = Seq("sub", "fp", "fz", "mh", "sm")

  def run(spark: SparkSession, t: Tracer, rec: Record, work: String,
          seed: Long, seconds: Double): Unit = {
    import spark.implicits._
    val pinned0 = Space.pinned(spark)
    rec.layer("ckpt.before.persistent_rdds", pinned0._1, "count")
    rec.layer("ckpt.before.pinned_bytes", pinned0._2, "B")
    val docs = Inputs.corpus(Docs, seed)
    val corpus = docs.map(d => (d.id, d.text, d.key, d.embedding))
      .toDF("doc_id", "text", "key", "embedding")
      .persist(StorageLevel.MEMORY_AND_DISK)
    corpus.count()
    val cut = Docs / 2
    val step = (Docs - cut) / Appends
    val slices = (0 until Appends).map(i =>
      corpus.where(col("doc_id") >= cut + i * step &&
        col("doc_id") < (if (i == Appends - 1) Docs else cut + (i + 1) * step)))
    val allIds = corpus.select("doc_id")
    val historical = MaintainAfter + 1L

    // the from-scratch twin on the whole corpus: the final kept set must
    // match it on the four trainer-free families
    val (twinText, setupS) = t.span("setup") {
      textFamilies(CurationDB.init(spark, s"$work/twin", corpus, Cfg), allIds)
    }

    val inits, appends, maints, opens = ArrayBuffer[Double]()
    var rounds = 0
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    do {
      rounds += 1
      val root = s"$work/cdb_$rounds"
      rec.attempt("curation_round") {
        val (db, si) = t.span("curation_init")(
          CurationDB.init(spark, root, corpus.where(col("doc_id") < cut), Cfg))
        inits += si
        rec.check("init_epoch", db.epoch == 0L, s"epoch ${db.epoch} after init")
        var keptHistorical = Set.empty[Long]
        for ((slice, i) <- slices.zipWithIndex) {
          if (t.enabled && rounds == 1 && i == 0) replayMembers(t, db, slice)
          else appends += t.span("curation_append")(db.append(slice))._2
          rec.check(s"append[$i]", db.epoch == i + 1L, s"epoch ${db.epoch} after append $i")
          if (i + 1 == MaintainAfter) maints += t.span("curation_maintain") {
            db.minhash.compact(); db.semantic.retrain(nCells = Cfg.nCells)
          }._2
          if (i + 1 == historical)
            keptHistorical = ids(db.kept(idsUpTo(corpus, cut + (i + 1) * step)))
        }
        for (m <- Roots) {
          val (files, bytes) = Space.of(spark, s"$root/$m")
          rec.layer(s"io.curation_$m.store_files", files, "count")
          rec.layer(s"io.curation_$m.store_bytes", bytes, "B")
        }
        val (past, so) = t.span("curation_open_read") {
          ids(CurationDB.open(spark, root, Cfg)
            .keptAt(historical, idsUpTo(corpus, cut + historical.toInt * step)))
        }
        opens += so
        rec.check("kept_at_historical", past == keptHistorical,
          s"keptAt($historical) after a cold open differs from the set read at that epoch")
        val composed = ids(db.kept(allIds))
        val text = textFamilies(db, allIds)
        val members = text & ids(db.semantic.kept(
          allIds.select(col("doc_id").as("vec_id")), "vec_id"), "vec_id")
        rec.check("kept_vs_members", composed == members,
          "composed kept set differs from the member stores' intersection")
        rec.check("kept_vs_twin", text == twinText,
          "trainer-free families differ from the from-scratch twin")
        rec.check("kept_nontrivial", composed.nonEmpty && composed.size < Docs,
          s"kept ${composed.size} of $Docs documents")
        rec.layer("ckpt.round.persistent_rdds", Space.pinned(spark)._1, "count")
        db.close()
      }
    } while (System.nanoTime() < deadline)
    corpus.unpersist(true)
    val (n, b) = Space.pinned(spark)
    rec.layer("ckpt.after.persistent_rdds", n, "count")
    rec.layer("ckpt.after.pinned_bytes", b, "B")
    rec.layer("ckpt.net_growth_rdds", n - pinned0._1, "count")
    rec.layer("ckpt.net_growth_bytes", b - pinned0._2, "B")

    rec.note("rounds", rounds)
    rec.note("appends", appends.size)
    rec.metric("setup_s", setupS, "s")
    rec.metric("store_init_s", Stats.median(inits.toSeq), "s")
    rec.metric("store_append_p50_s", Stats.median(appends.toSeq), "s")
    rec.metric("store_maintain_s", Stats.median(maints.toSeq), "s")
    rec.metric("store_open_read_s", Stats.median(opens.toSeq), "s")
  }

  private def idsUpTo(corpus: DataFrame, end: Long): DataFrame =
    corpus.where(col("doc_id") < end).select("doc_id")

  private def ids(df: DataFrame, c: String = "doc_id"): Set[Long] = {
    import df.sparkSession.implicits._
    df.select(col(c).cast("long")).as[Long].collect().toSet
  }

  /** Ids surviving the four trainer-free families (CurationDBSpec's twin
    * invariant: the semantic family's trainer sees different data). */
  private def textFamilies(db: CurationDB, allIds: DataFrame): Set[Long] =
    ids(db.substring.deduped) & ids(db.fingerprint.kept(allIds)) &
      ids(db.fuzzy.keptKeys.select(col("rep").as("doc_id"))) &
      ids(db.minhash.kept(allIds))

  /** Traced runs only: the first append of the first round runs each
    * member's public append serially under the facade's token, each timed
    * on its own; the facade append that follows finds every member
    * committed for that token and only writes its own marker. */
  private def replayMembers(t: Tracer, db: CurationDB, slice: DataFrame): Unit = {
    val token = s"cdb-${db.epoch + 1}"
    val b = slice.select(col("doc_id").cast("long").as("doc_id"), col("text"),
      col("key"), col("embedding")).persist(StorageLevel.MEMORY_AND_DISK)
    b.count()
    val calls: Seq[() => Any] = Seq(
      () => db.substring.append(b.select("doc_id", "text"), token),
      () => db.fingerprint.append(b.select(col("doc_id").as("_id"),
        Dedup.simhashNative(col("text")).as("simhash")), token),
      () => db.fuzzy.append(b.select("doc_id", "key"), token),
      () => db.minhash.append(b.select("doc_id", "text"), "doc_id", "text", token),
      () => db.semantic.append(b.select(col("doc_id").as("vec_id"), col("embedding")), token))
    Members.zip(calls).foreach { case (m, call) =>
      t.span(s"api.curation_member.$m")(call()) }
    b.unpersist(false)
    t.span("curation_member_commit")(db.append(slice, token))
  }
}
