package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, ShortType}

/** Connected components over an undirected pair list — the step that
  * turns near-dup PAIRS into duplicate CLUSTERS (transitive closure:
  * A~B, B~C puts all three in one group even when A~C was never a
  * candidate). One closure, two routes, one output contract.
  */
object Closure {

  /** Edges at or under which the closure runs on the driver: ~tens of
    * MB of collected longs on an 8g driver. */
  val LocalMaxEdges = 1000000

  /** Fails loudly unless `df`'s `c` is Long, Int or Short: a silent cast
    * would turn string ids (or float scores) into nulls and emit garbage
    * downstream. */
  private[graft] def requireIntegral(df: DataFrame, c: String,
                                     who: String): Unit = {
    val dt = df.schema(c).dataType
    require(dt == LongType || dt == IntegerType || dt == ShortType,
      s"$who needs an integral $c; got $dt — map ids to longs (and " +
        "quantize float scores to µ-unit longs) before calling")
  }

  /** Input: (id1, id2) integral pairs; output: (id, component) for every
    * id in any pair, component = the minimum id reachable from it
    * (self-pair-only ids are their own singleton component).
    *
    * The pair frame is evaluated ONCE: pinned (unless it already is a
    * checkpoint) and both routes read the pin.
    *  - Up to `localMaxEdges` edges (a bounded probe of the pin decides —
    *    plan statistics cannot: join-built pair frames estimate at 1e19
    *    regardless of true size), an in-memory union-find closes the
    *    graph on the driver: one collect instead of O(log²) distributed
    *    rounds of driver-latency-bound jobs. The store appends extend
    *    corpus-scale assignments by batch-sized edge graphs, which is
    *    exactly this regime at any corpus scale. Union points the larger
    *    root at the smaller, so each root IS its component's minimum.
    *  - Above it, alternating large-star/small-star rounds (Kiveris et
    *    al., "Connected Components in MapReduce and Beyond", SoCC 2014)
    *    reach the fixpoint in O(log² n) rounds regardless of diameter.
    *
    * Star-route results are materialized and every internal checkpoint
    * is freed before returning ([[Ckpt.scope]]); the returned frame is a
    * checkpoint the caller's scope (or the caller) owns. `localMaxEdges`
    * 0 forces the star route (q42b, specs). */
  def components(pairs: DataFrame): DataFrame =
    components(pairs, LocalMaxEdges)

  private[graft] def components(pairs: DataFrame,
                                localMaxEdges: Int): DataFrame = {
    Seq("id1", "id2").foreach(requireIntegral(pairs, _, "Closure.components"))
    Ckpt.scope {
      val edges = Ckpt.pin(pairs.select(col("id1").cast("long").as("id1"),
        col("id2").cast("long").as("id2")))
      val probe = edges.limit(localMaxEdges + 1).collect()
      if (probe.length <= localMaxEdges)
        unionFind(probe.map(r => (r.getLong(0), r.getLong(1))), edges)
      else star(edges)
    }
  }

  private def unionFind(rows: Array[(Long, Long)],
                        edges: DataFrame): DataFrame = {
    val parent = new java.util.HashMap[Long, Long](rows.length * 2)
    def add(x: Long): Unit =
      if (!parent.containsKey(x)) parent.put(x, x)
    def find(x: Long): Long = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x
      while (c != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    rows.foreach { case (a, b) =>
      add(a); add(b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
    }
    import scala.jdk.CollectionConverters._
    val spark = edges.sparkSession
    import spark.implicits._
    parent.keySet().asScala.toSeq.map(id => (id, find(id)))
      .toDF("id", "component")
  }

  /** The large-star/small-star loop over the pinned edges:
    *  - large-star: every node's LARGER neighbors re-attach to the
    *    minimum of its neighborhood (incl. itself) — doubles the reach
    *    of small labels down long chains;
    *  - small-star: every node and its smaller non-minimum neighbors
    *    attach to the neighborhood minimum, canonicalizing toward star
    *    graphs (edges always (bigger, smaller) afterwards).
    * Fixpoint = the edge set is unchanged (an exact anti-join both ways,
    * not a hash heuristic); there the edges form stars whose centers are
    * the component minima. Every round is checkpointed (lineage would
    * otherwise grow one round deeper each action) and the round it
    * replaces is freed at once. */
  private def star(edges: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftbridge.Bridge
    // canonical directed form: (big, small); `cur` stays canonical and
    // deduplicated across rounds
    var cur = Ckpt.eager(edges.where(col("id1") =!= col("id2"))
      .select(greatest(col("id1"), col("id2")).as("a"),
        least(col("id1"), col("id2")).as("b"))
      .distinct())
    var converged = cur.isEmpty
    while (!converged) {
      // large-star over the SYMMETRIC neighborhood: per node u,
      // m = min(u ∪ N(u)); larger neighbors v > u re-attach as (v, m)
      val sym = cur.select(col("a").as("s"), col("b").as("t"))
        .unionByName(cur.select(col("b").as("s"), col("a").as("t")))
      val mins = sym.groupBy("s").agg(min(least(col("s"), col("t"))).as("m"))
      val ls = sym.join(mins, "s").where(col("t") > col("s"))
        .select(col("t").as("a"), col("m").as("b"))
        .distinct()
      // small-star over the directed (big, small) edges: per node a,
      // m = min of its smaller neighbors; a and every non-minimum
      // smaller neighbor attach to m
      val m2 = ls.groupBy("a").agg(min("b").as("m"))
      val next = Ckpt.eager(ls.join(m2, "a")
        .where(col("b") =!= col("m"))
        .select(col("b").as("a"), col("m").as("b"))
        .unionByName(m2.select(col("a"), col("m").as("b")))
        .distinct())
      // exact fixpoint test: both anti-joins union into ONE action (one
      // job per round; O(log²) rounds make the per-round count matter)
      converged =
        next.join(cur, Seq("a", "b"), "left_anti")
          .unionByName(cur.join(next, Seq("a", "b"), "left_anti"))
          .isEmpty
      Bridge.unpersistCheckpoint(cur)
      cur = next
    }
    // at fixpoint the edges are stars (member, root): roots label
    // themselves, members label their root
    val fromEdges = cur.select(col("b").as("id"), col("b").as("comp"))
      .unionByName(cur.select(col("a").as("id"), col("b").as("comp")))
      .groupBy("id").agg(min("comp").as("component"))
    // ids that appear ONLY in self-pairs were dropped above; they are
    // their own singleton component, as on the union-find route
    val allIds = edges.select(col("id1").as("id"))
      .unionByName(edges.select(col("id2").as("id")))
      .distinct()
    fromEdges.unionByName(
      allIds.join(fromEdges.select("id"), Seq("id"), "left_anti")
        .select(col("id"), col("id").as("component")))
  }
}
