package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Cast}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project,
  SubqueryAlias}
import org.apache.spark.sql.execution.LogicalRDD

/** Eager lineage truncation for iterative pyramids (suffix doubling,
  * PageRank rounds, the connected-components star loop) with a
  * cluster-fault-tolerance switch, and the scopes that own the
  * checkpoints an operator makes.
  *
  * Default mode is `localCheckpoint(eager = true)` — executor-local
  * blocks, zero extra I/O, the measured-right choice on a healthy
  * cluster (and the eager form is load-bearing: a lazy persist lets one
  * cache miss cascade a recompute through every prior level — measured
  * exponential, round-9 notes §7). But local checkpoint blocks are
  * NON-REPLICATED: on a real cluster, losing one executor at round N-1
  * of a 10-round PageRank or a 14-level suffix build kills the whole
  * job. Setting `spark.graft.checkpoint.reliable=true` (plus
  * `SparkContext.setCheckpointDir` to a fault-tolerant filesystem)
  * switches every pyramid to reliable `checkpoint(eager = true)` —
  * identical truncation semantics, identical results (spec-gated
  * bit-identical on the q96/q100 fixtures), at the price of one
  * write+read of the frame per round against the checkpoint dir. Flip
  * it when (expected executor-loss rate × pyramid depth × round cost)
  * exceeds that I/O tax — long jobs on preemptible/spot executors;
  * leave it off for short pyramids or on-demand nodes (SCALE.md §
  * fault tolerance). Set
  * `spark.cleaner.referenceTracking.cleanCheckpoints=true` to let the
  * ContextCleaner reap checkpoint files as frames are dropped.
  *
  * OWNERSHIP: [[scope]] owns every checkpoint [[eager]] makes on the
  * current thread inside its block and frees, on exit, every one its
  * result does not reference — so an operator that pins intermediate
  * frames cannot leak them, whatever path or exception it exits by.
  * Scopes are per thread (a plain `ThreadLocal`): work a pool thread
  * runs (a [[graft.api.CurationDB]] member) is owned by that thread's
  * own scopes. A checkpoint made outside any scope belongs to its
  * caller; the pins meant to outlive the call (the maintained indexes
  * of [[graft.api.TemporalVectorDB]]) are made with [[lasting]], which
  * no scope owns, and freed by their owner when replaced.
  */
object Ckpt {
  /** Session conf key selecting reliable (checkpoint-dir-backed)
    * truncation for all iterative operators. */
  val ReliableKey = "spark.graft.checkpoint.reliable"

  /** True when the session asks for reliable checkpoints. */
  def reliable(df: DataFrame): Boolean =
    df.sparkSession.conf.getOption(ReliableKey).contains("true")

  /** The checkpoints each open scope on this thread recorded, innermost
    * first. */
  private val open = new ThreadLocal[List[collection.mutable.Set[RDD[_]]]] {
    override def initialValue(): List[collection.mutable.Set[RDD[_]]] = Nil
  }

  /** Truncate `df`'s lineage NOW, in the session-selected mode; the
    * innermost open scope on this thread owns the checkpoint. */
  def eager(df: DataFrame): DataFrame = {
    val out = lasting(df)
    open.get.headOption.foreach(_ ++= rdds(out))
    out
  }

  /** [[eager]] for a pin meant to outlive every open scope (a maintained
    * index): no scope owns it; its owner frees it when it replaces it. */
  def lasting(df: DataFrame): DataFrame =
    if (reliable(df)) {
      require(
        df.sparkSession.sparkContext.getCheckpointDir.isDefined,
        s"$ReliableKey=true needs SparkContext.setCheckpointDir to a " +
          "fault-tolerant path (HDFS/S3) before running iterative " +
          "operators")
      df.checkpoint(eager = true)
    } else df.localCheckpoint(eager = true)

  /** `df` itself when it already reads only a checkpoint (through
    * column renames and casts), else [[eager]] of it — one evaluation
    * either way. An RDD-backed frame that is no checkpoint
    * (`createDataFrame(rdd, …)`) is pinned like any other plan. */
  def pin(df: DataFrame): DataFrame = {
    def bare(p: LogicalPlan): Boolean = p match {
      case r: LogicalRDD => r.rdd.isCheckpointed
      case Project(list, c) => bare(c) && !list.exists(_.exists {
        case _: Attribute | _: Alias | _: Cast => false
        case _ => true
      })
      case SubqueryAlias(_, c) => bare(c)
      case _ => false
    }
    if (bare(df.queryExecution.analyzed)) df else eager(df)
  }

  /** Run `body` owning every checkpoint [[eager]] makes on this thread
    * inside it. A `DataFrame` result that still reads one of them is
    * [[pin]]ned (materialized unless it is a checkpoint itself); on exit
    * — normal or exceptional — every owned checkpoint the result does
    * not read is freed, and the ones it reads pass to the enclosing
    * scope (or, outside any, to the caller). */
  def scope[T](body: => T): T = {
    val outer = open.get
    val mine = collection.mutable.Set.empty[RDD[_]]
    open.set(mine :: outer)
    var kept = Set.empty[RDD[_]]
    try {
      val out = body
      open.set(outer)
      (out: Any) match {
        case df: DataFrame @unchecked if rdds(df).exists(mine) =>
          val held = pin(df)
          kept = rdds(held).filter(mine)
          held.asInstanceOf[T]
        case _ => out
      }
    } finally {
      open.set(outer)
      mine.filterNot(kept).foreach(_.unpersist(blocking = false))
      outer.headOption.foreach(_ ++= kept)
    }
  }

  /** The checkpoint RDDs `df`'s plan reads. */
  private[graft] def rdds(df: DataFrame): Set[RDD[_]] =
    df.queryExecution.analyzed.collectWithSubqueries {
      case r: LogicalRDD => r.rdd: RDD[_]
    }.toSet
}
