package perfbench

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** What one run measured: end-to-end metrics, per-layer metrics, named
  * output checks and operation counts. */
final class Record {
  val endToEnd = mutable.LinkedHashMap[String, (Double, String)]()
  val layers = mutable.LinkedHashMap[String, (Double, String)]()
  val notes = mutable.LinkedHashMap[String, String]()
  val failures = mutable.ArrayBuffer[String]()
  var attempted = 0L
  var failed = 0L

  def metric(name: String, v: Double, unit: String): Unit =
    endToEnd(name) = (v, unit)

  def layer(name: String, v: Double, unit: String): Unit = layers(name) = (v, unit)

  def layer(name: String, v: Long, unit: String): Unit = layer(name, v.toDouble, unit)

  /** Record a per-layer value only the first time it is measured, so a
    * per-call count does not depend on how many calls fit in the run. */
  def first(name: String, v: Double, unit: String): Unit =
    if (!layers.contains(name)) layers(name) = (v, unit)

  def note(k: String, v: Any): Unit = notes(k) = v.toString

  /** One checked operation: counted as attempted, and as failed (with its
    * name and reason kept) when `ok` is false. */
  def check(name: String, ok: Boolean, why: => String): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      if (failures.size < 50) failures += s"$name: $why"
    }
  }

  /** Run one operation; an exception counts it as failed. */
  def attempt[T](name: String)(body: => T): Option[T] =
    try Some(body)
    catch {
      case e: Exception =>
        check(name, ok = false, s"${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
}

/** Space and pinned-memory accounting taken from outside the program. */
object Space {
  /** (visible data files, their bytes) under `root`, recursively; names
    * starting with `_` or `.` (commit markers, checksums) are skipped. */
  def of(spark: SparkSession, root: String): (Long, Long) = {
    val p = new Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return (0L, 0L)
    val it = fs.listFiles(p, true)
    var files, bytes = 0L
    while (it.hasNext) {
      val f = it.next()
      val visible = !f.getPath.toUri.getPath.stripPrefix(p.toUri.getPath).split("/")
        .exists(n => n.startsWith("_") || n.startsWith("."))
      if (visible) { files += 1; bytes += f.getLen }
    }
    (files, bytes)
  }

  /** (persistent RDDs, bytes they hold in memory and on disk). */
  def pinned(spark: SparkSession): (Long, Long) = {
    val sc = spark.sparkContext
    val bytes = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    (sc.getPersistentRDDs.size.toLong, bytes)
  }
}
