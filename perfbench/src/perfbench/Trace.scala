package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Spans the benchmark records around its own calls into the engine, kept
  * in memory and written out when the run ends. With tracing off a span is
  * just a wall-clock measurement; with tracing on it also tags every Spark
  * job started inside it (through a SparkContext local property, which the
  * thread pools the engine starts inherit) so a listener can charge jobs,
  * tasks, shuffle, spill and GC to the span. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  import Tracer._

  val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Span]
  private var nextId = 0L
  private var opId = 0L
  private val listener = new Counters
  if (enabled) sc.addSparkListener(listener)

  /** Time `body` as span `name`. A span opened with no span open starts a
    * new operation; nested spans share their root's operation id. */
  def span[T](name: String)(body: => T): (T, Double) = {
    nextId += 1
    val parent = stack.headOption
    if (parent.isEmpty) opId += 1
    val s = Span(nextId, name, parent.map(_.id).getOrElse(0L), opId)
    stack = s :: stack
    val prev = sc.getLocalProperty(SpanKey)
    if (enabled) sc.setLocalProperty(SpanKey, s.id.toString)
    s.startNs = System.nanoTime()
    try {
      val r = body
      (r, (System.nanoTime() - s.startNs) / 1e9)
    } finally {
      s.endNs = System.nanoTime()
      if (enabled) sc.setLocalProperty(SpanKey, prev)
      stack = stack.tail
      spans += s
    }
  }

  /** Counters per span id, each span's including those of the spans
    * nested in it, after every event so far has been delivered. */
  def counters(): Map[Long, Acc] = {
    if (!enabled) return Map.empty
    org.apache.spark.sql.graftbridge.Bridge.waitListenerBus(sc)
    val parent = spans.map(s => s.id -> s.parent).toMap
    val out = mutable.Map[Long, Acc]()
    listener.bySpan.synchronized {
      listener.bySpan.foreach { case (id, a) =>
        var cur = id
        while (cur != 0L) {
          out.getOrElseUpdate(cur, new Acc).add(a)
          cur = parent.getOrElse(cur, 0L)
        }
      }
    }
    out.toMap
  }

  /** Wall seconds of every closed span named `name`. */
  def walls(name: String): Seq[Double] =
    spans.filter(_.name == name).map(_.seconds).toSeq
}

object Tracer {
  val SpanKey = "perfbench.span"

  final case class Span(id: Long, name: String, parent: Long, op: Long) {
    var startNs = 0L
    var endNs = 0L
    def seconds: Double = (endNs - startNs) / 1e9
  }

  final class Acc {
    var jobs, tasks, taskMs, shuffleBytes, inputBytes, spillBytes, gcMs = 0L
    def add(o: Acc): Unit = {
      jobs += o.jobs; tasks += o.tasks; taskMs += o.taskMs
      shuffleBytes += o.shuffleBytes; inputBytes += o.inputBytes
      spillBytes += o.spillBytes; gcMs += o.gcMs
    }
  }

  /** Charges each job and each finished task to the span that was open
    * on the thread that submitted the job. */
  private final class Counters extends SparkListener {
    val bySpan = mutable.Map[Long, Acc]()
    private val stageSpan = mutable.Map[Int, Long]()

    private def acc(span: Long) = bySpan.getOrElseUpdate(span, new Acc)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p =>
        Option(p.getProperty(SpanKey))).map(_.toLong)
      span.foreach { s =>
        bySpan.synchronized {
          acc(s).jobs += 1
          e.stageIds.foreach(stageSpan(_) = s)
        }
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      bySpan.synchronized {
        for (s <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
          val a = acc(s)
          a.tasks += 1
          a.taskMs += m.executorRunTime
          a.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten
          a.inputBytes += m.inputMetrics.bytesRead
          a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          a.gcMs += m.jvmGCTime
        }
      }
  }
}
