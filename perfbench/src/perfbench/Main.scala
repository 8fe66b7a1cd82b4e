package perfbench

/** Benchmark entry point: runs one workload against the engine's public
  * API in one closed loop (one caller thread, each call issued after the
  * previous one returns) and writes the full record as JSON to `--out`.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --work <scratch dir> --out <record file>
  *
  * `--gen-digest 1` prints a digest of the generated inputs for `--seed`,
  * and `--list-metrics 1` the metric names of every workload (with the
  * per-layer units); neither
  * starts Spark. */
object Main {
  val Workloads = Seq("lifecycle_ingest", "lifecycle_read", "curation_epochs")

  def main(argv: Array[String]): Unit = {
    val args = argv.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v }.toMap
    if (args.contains("list-metrics")) {
      println(Workloads.map { w =>
        def list(xs: Seq[String]) = xs.map(Json.str).mkString("[", ",", "]")
        val units = Layers.names(w).map(n => s"${Json.str(n)}:${Json.str(Layers.unit(n))}")
        s"${Json.str(w)}:{\"end_to_end\":${list(Layers.endToEnd(w))}," +
          s"\"per_layer\":${list(Layers.names(w))},\"per_layer_units\":${units.mkString("{", ",", "}")}}"
      }.mkString("{", ",", "}"))
      return
    }
    val seed = args("seed").toLong
    if (args.contains("gen-digest")) {
      println(Inputs.digest(seed))
      return
    }
    val workload = args("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = graft.api.GraftSession.builder(s"local[$cores]", cores)
      .config("spark.local.dir", s"${args("work")}/spark-local")
      .config("spark.sql.warehouse.dir", s"${args("work")}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val rec = new Record
    val t = new Tracer(spark.sparkContext, traced)
    val work = s"${args("work")}/data"
    val t0 = System.nanoTime()
    try {
      workload match {
        case "lifecycle_ingest" => LifecycleWorkload.run(spark, t, rec, work, seed, seconds, compact = true)
        case "lifecycle_read" => LifecycleWorkload.run(spark, t, rec, work, seed, seconds, compact = false)
        case "curation_epochs" => CurationWorkload.run(spark, t, rec, work, seed, seconds)
      }
      rec.metric("ops_ok_frac", 1.0 - rec.failed.toDouble / rec.attempted, "fraction")
      if (traced) Layers.fill(workload, rec, t, cores)
      rec.note("wall_s", (System.nanoTime() - t0) / 1e9)
      Json.write(args("out"), workload, seed, traced, cores, rec, t)
    } finally spark.stop()
  }
}
