package perfbench

/** The metric names each workload reports. Per-layer names are
  * `<layer>.<span>.<counter>`; every one is reported by a traced run, a
  * span the run never opened reading 0. Span counters are per call (the
  * median over the span's calls), so with one caller they repeat from run
  * to run. */
object Layers {
  val Lifecycle = Seq("lifecycle_ingest", "lifecycle_read")

  val LifecycleEndToEnd = Seq("setup_s", "ingest_versions_per_s", "append_p50_s",
    "batch_read_versions_per_s", "point_read_p50_s",
    "bytes_per_user_byte", "recon_max_l2_err", "ops_ok_frac")
  val CurationEndToEnd = Seq("setup_s", "store_init_s", "store_append_p50_s",
    "store_maintain_s", "store_open_read_s", "ops_ok_frac")

  val LifecycleSpans = Seq("add_versions", "compact_store", "batch_reconstruct",
    "asof_reconstruct", "search_latest_batch", "get_version", "search_similar")
  val CurationSpans = Seq("curation_init", "curation_append", "curation_maintain",
    "curation_open_read")
  val SparkCounters = Seq("jobs", "tasks", "task_ms", "shuffle_bytes",
    "input_bytes", "spill_bytes", "gc_ms", "driver_share")
  val Ckpt = Seq("ckpt.before.persistent_rdds", "ckpt.before.pinned_bytes",
    "ckpt.after.persistent_rdds", "ckpt.after.pinned_bytes",
    "ckpt.round.persistent_rdds", "ckpt.net_growth_rdds", "ckpt.net_growth_bytes")
  val LifecycleExtra = Seq("operators.version_ingest.wall_s", "operators.asof_join.wall_s",
    "functions.sparse_diff.dims", "functions.sparse_diff.bytes",
    "functions.delta_fold.deltas", "functions.delta_fold.bytes",
    "functions.dot_product.flops", "functions.dot_product.bytes",
    "io.versions.store_files", "io.versions.store_bytes",
    "io.versions.files_before_compact", "io.versions.files_after_compact",
    "io.versions.bytes_before_compact", "io.versions.bytes_after_compact")
  val CurationExtra =
    CurationWorkload.Members.flatMap(m =>
      Seq(s"api.curation_member.$m.wall_s", s"api.curation_member.$m.jobs")) ++
      CurationWorkload.Roots.flatMap(r =>
        Seq(s"io.curation_$r.store_files", s"io.curation_$r.store_bytes"))

  def endToEnd(workload: String): Seq[String] =
    if (Lifecycle.contains(workload)) LifecycleEndToEnd else CurationEndToEnd

  private def spans(workload: String): Seq[String] =
    if (Lifecycle.contains(workload)) LifecycleSpans else CurationSpans

  /** Every per-layer metric name of `workload`, in report order. */
  def names(workload: String): Seq[String] = {
    val ss = spans(workload)
    ss.flatMap(s => SparkCounters.map(c => s"spark.$s.$c")) ++ ss.map(s => s"api.$s.wall_s") ++
      (if (Lifecycle.contains(workload)) LifecycleExtra else CurationExtra) ++ Ckpt
  }

  def unit(name: String): String =
    if (name.endsWith("_s")) "s"
    else if (name.endsWith("_ms")) "ms"
    else if (name.split('.').last.contains("bytes")) "B"
    else if (name.endsWith("driver_share")) "fraction"
    else "count"

  /** Add the span-derived per-layer metrics of `workload` to `rec` and
    * zero-fill every name it still lacks; names outside the workload's
    * list are dropped, and every unit is the one `unit` gives. */
  def fill(workload: String, rec: Record, t: Tracer, cores: Int): Unit = {
    val acc = t.counters()
    def median0(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    for (s <- spans(workload)) {
      val calls = t.spans.filter(_.name == s).toSeq
      val per = calls.map { c =>
        val a = acc.getOrElse(c.id, new Tracer.Acc)
        Map("jobs" -> a.jobs.toDouble, "tasks" -> a.tasks.toDouble,
          "task_ms" -> a.taskMs.toDouble, "shuffle_bytes" -> a.shuffleBytes.toDouble,
          "input_bytes" -> a.inputBytes.toDouble, "spill_bytes" -> a.spillBytes.toDouble,
          "gc_ms" -> a.gcMs.toDouble,
          "driver_share" -> (1.0 - a.taskMs / (c.seconds * 1000.0 * cores)))
      }
      for (k <- SparkCounters) rec.layer(s"spark.$s.$k", median0(per.map(_(k))), unit(k))
      rec.layer(s"api.$s.wall_s", median0(calls.map(_.seconds)), "s")
    }
    for (n <- names(workload) if n.endsWith(".wall_s") && !rec.layers.contains(n)) {
      val span = n.stripSuffix(".wall_s")
      rec.layer(n, median0(t.walls(span)), "s")
    }
    for (m <- CurationWorkload.Members if workload == "curation_epochs") {
      val calls = t.spans.filter(_.name == s"api.curation_member.$m").toSeq
      rec.layer(s"api.curation_member.$m.jobs",
        median0(calls.map(c => acc.get(c.id).map(_.jobs.toDouble).getOrElse(0.0))), "count")
    }
    val keep = names(workload)
    val have = rec.layers.toMap
    rec.layers.clear()
    for (n <- keep) rec.layers(n) = (have.get(n).fold(0.0)(_._1), unit(n))
  }
}
