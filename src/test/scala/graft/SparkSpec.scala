package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.Bridge
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession fixture for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = () // session shared across suites

  /** Jobs started while `op` ran (the listener bus drained around it). */
  def jobsOf[A](op: => A): (A, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    Bridge.waitListenerBus(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = op
      Bridge.waitListenerBus(spark.sparkContext)
      (out, jobs.get())
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}

object SparkSpec {
  // the production config factory, so plan shapes asserted in specs match
  // what Verify/Bench (and a real deployment) run with
  lazy val session: SparkSession =
    graft.api.GraftSession.builder("local[4]", 4).getOrCreate()
}
