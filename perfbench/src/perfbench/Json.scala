package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/** Writes a run's full record as one JSON document. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  private def metrics(m: Iterable[(String, (Double, String))]): String =
    m.map { case (k, (v, u)) => s"${str(k)}:{\"value\":${num(v)},\"unit\":${str(u)}}" }
      .mkString("{", ",", "}")

  def write(path: String, workload: String, seed: Long, traced: Boolean,
            cores: Int, rec: Record, t: Tracer): Unit = {
    val t0 = t.spans.map(_.startNs).minOption.getOrElse(0L)
    val spans = if (!traced) "[]" else t.spans.sortBy(_.id).map { s =>
      s"{\"id\":${s.id},\"name\":${str(s.name)},\"parent\":${s.parent},\"op\":${s.op}," +
        s"\"start_s\":${num((s.startNs - t0) / 1e9)},\"end_s\":${num((s.endNs - t0) / 1e9)}}"
    }.mkString("[", ",\n", "]")
    val doc =
      s"""{"workload":${str(workload)},"seed":$seed,"trace":${if (traced) 1 else 0},""" +
        s""""cores":$cores,"correct":${rec.failed == 0},"attempted":${rec.attempted},""" +
        s""""failed":${rec.failed},"failures":${rec.failures.map(str).mkString("[", ",", "]")},""" +
        s""""notes":${rec.notes.map { case (k, v) => s"${str(k)}:${str(v)}" }.mkString("{", ",", "}")},""" +
        s""""end_to_end":${metrics(rec.endToEnd)},""" +
        s""""per_layer":${metrics(rec.layers)},""" +
        s""""spans":$spans}"""
    Files.write(Paths.get(path), doc.getBytes(UTF_8))
  }
}
