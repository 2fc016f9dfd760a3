package perfbench

/**
 * Per-layer metrics of the traced segments of a run. Every count, byte
 * and millisecond total is divided by the number of traced operations
 * ("per operation"); ratios and peaks are reported as they are. A layer
 * metric is listed only on workloads that call into the layer, except
 * the plan, exec, jvm and trace rows, which every workload has.
 */
final class Layers(ops: Seq[OpRec], loopNs: Map[Boolean, Long], tr: Tracer,
    probe: Probe, gcMs: Long, heapPeak: Long) {

  private val traced = ops.filter(_.traced)
  private val untraced = ops.filter(!_.traced)
  private val n = traced.size.toDouble max 1.0
  private val tracedIds = traced.map(_.id).toSet
  private val spans = tr.spans.filter(s => tracedIds.contains(s.op))
  private val selfNs = Spans.selfTimes(spans)
  private val jobs = probe.jobs.toSeq
  private val tasks = probe.tasks.toSeq
  private val opKind = traced.map(o => o.id -> o.kind).toMap

  private def named(names: String*) = spans.filter(s => names.contains(s.name))
  private def calls(names: String*) = named(names: _*).size.toDouble
  private def spanMs(names: String*) = named(names: _*).map(_.dur).sum / 1e6
  private def ctr(k: String) = tr.counters(k)

  /** Operation wall time during which none of its tasks ran. */
  private def driverGapMs: Double = {
    val byJob = tasks.groupBy(_.job)
    traced.map { o =>
      val ts = jobs.filter(_.op == o.id).flatMap(j => byJob.getOrElse(j.id, Nil))
      val wall = o.latNs / 1e6
      wall - Spans.covered(ts.map(t => (t.launch, t.finish)), o.startMs, o.endMs)
    }.map(_ max 0.0).sum
  }

  private val rowsDecoded = probe.scans.map(_.rows).sum.toDouble

  private def universal: Seq[(String, String, Double)] = Seq(
    ("plan.analysis_ms", "ms", probe.phases("analysis") / n),
    ("plan.optimizer_ms", "ms", probe.phases("optimization") / n),
    ("plan.planning_ms", "ms", probe.phases("planning") / n),
    ("exec.jobs", "count", jobs.size / n),
    ("exec.tasks", "count", tasks.size / n),
    ("exec.task_run_ms", "ms", tasks.map(_.runMs).sum / n),
    ("exec.task_cpu_ms", "ms", tasks.map(_.cpuNs).sum / 1e6 / n),
    ("exec.scheduler_delay_ms", "ms", tasks.map(_.schedMs).sum / n),
    ("exec.driver_gap_ms", "ms", driverGapMs / n),
    ("exec.shuffle_write_bytes", "bytes", tasks.map(_.shuffleWrite).sum / n),
    ("exec.shuffle_read_bytes", "bytes", tasks.map(_.shuffleRead).sum / n),
    ("exec.spill_bytes", "bytes", tasks.map(_.spill).sum / n),
    ("exec.gc_ms", "ms", tasks.map(_.gcMs).sum / n),
    ("jvm.gc_ms", "ms", gcMs / n),
    ("jvm.heap_peak_mb", "MB", heapPeak / 1048576.0),
    ("trace.overhead_ratio", "ratio", Metrics.opsPerS(traced, loopNs(true)) /
      Metrics.opsPerS(untraced, loopNs(false))))

  private def layered: Seq[(String, String, Double)] = {
    val m = Seq.newBuilder[(String, String, Double)]
    val reads = Seq("orcio.read", "evolution.read_evolved")
    if (calls(reads: _*) > 0) {
      val ret = ctr("orcio.read.rows_returned")
      m ++= Seq(
        ("orcio.read.calls", "count", calls(reads: _*) / n),
        ("orcio.read.ms", "ms", spanMs(reads: _*) / n),
        ("orcio.read.files", "count", probe.scans.map(_.files).sum / n),
        ("orcio.read.bytes", "bytes", probe.scans.map(_.bytes).sum / n),
        ("orcio.read.rows_decoded", "rows", rowsDecoded / n),
        ("orcio.read.rows_returned", "rows", ret / n),
        ("orcio.read.decoded_per_returned", "ratio", rowsDecoded / (ret max 1)),
        ("orcio.read.scan_ms", "ms", probe.scans.map(_.scanMs).sum / n),
        ("orcio.read.metadata_ms", "ms", probe.scans.map(_.metadataMs).sum / n))
    }
    if (calls("orcio.write") > 0) m ++= Seq(
      ("orcio.write.calls", "count", calls("orcio.write") / n),
      ("orcio.write.ms", "ms", spanMs("orcio.write") / n),
      ("orcio.write.rows", "rows", ctr("orcio.write.rows") / n),
      ("orcio.write.files", "count", ctr("orcio.write.files") / n),
      ("orcio.write.bytes", "bytes", ctr("orcio.write.bytes") / n),
      ("orcio.write.stripes", "count", ctr("orcio.write.stripes") / n),
      ("orcio.write.bytes_per_raw_byte", "ratio",
        ctr("orcio.write.bytes") / ctr("orcio.write.raw")))
    if (calls("orcio.concat", "orcio.merge") > 0) m ++= Seq(
      ("orcio.maint.ms", "ms", spanMs("orcio.concat", "orcio.merge") / n),
      ("orcio.maint.bytes_rewritten", "bytes", ctr("orcio.maint.bytes_rewritten") / n))
    val metas = Seq("orcmeta.file_meta", "orcmeta.column_stats")
    if (calls(metas: _*) > 0) m ++= Seq(
      ("orcmeta.calls", "count", calls(metas: _*) / n),
      ("orcmeta.ms", "ms", spanMs(metas: _*) / n),
      ("orcmeta.footers_read", "count", ctr("orcmeta.footers_read") / n))
    if (calls("evolution.read_evolved") > 0)
      m += (("evolution.ms", "ms", spanMs("evolution.read_evolved") / n))
    if (calls("json.convert_to_orc") > 0) {
      // schema inference runs as jobs outside any SQL execution
      val infer = jobs.filter(j => !j.sql && j.end > 0 &&
        opKind.get(j.op).contains("json")).map(j => j.end - j.start).sum.toDouble
      m ++= Seq(
        ("json.infer_ms", "ms", infer / n),
        ("json.convert_ms", "ms", (spanMs("json.convert_to_orc") - infer) / n),
        ("json.rows", "rows", ctr("json.rows") / n))
    }
    if (calls("stream.orc_sink") > 0) {
      val ps = probe.progress.toSeq
      def d(k: String*) = ps.map(p => k.map(p.getOrElse(_, 0L)).sum).sum.toDouble
      m ++= Seq(
        ("stream.batches", "count", ps.count(_("numInputRows") > 0) / n),
        ("stream.rows", "rows", d("numInputRows") / n),
        ("stream.trigger_ms", "ms", d("triggerExecution") / n),
        ("stream.add_batch_ms", "ms", d("addBatch") / n),
        ("stream.wal_commit_ms", "ms", d("walCommit", "commitOffsets") / n),
        ("stream.landing_to_commit_ms", "ms", spanMs("stream.orc_sink") / n))
    }
    if (calls("acid.write_delta") > 0) m ++= Seq(
      ("acid.write_delta.ms", "ms", spanMs("acid.write_delta") / n),
      ("acid.read_table.ms", "ms",
        spanMs("acid.read_table", "acid.read_table_as_of") / n),
      ("acid.live_deltas", "count", ctr("acid.live_deltas") / n),
      ("acid.events_per_live_row", "ratio", ctr("acid.events_per_live_row") / n),
      ("acid.trigger.ms", "ms", spanMs("acid.trigger") / n),
      ("acid.compact.ms", "ms",
        spanMs("acid.minor_compact", "acid.major_compact") / n),
      ("acid.compact.bytes_rewritten", "bytes",
        ctr("acid.compact.bytes_rewritten") / n))
    if (calls("pipeline.curate") > 0) m ++= Seq(
      ("curate.ms", "ms", spanMs("pipeline.curate") / n),
      ("curate.docs_in", "count", ctr("curate.docs_in") / n),
      ("curate.docs_kept", "count", ctr("curate.docs_kept") / n),
      ("dedup.ms", "ms", spanMs("dedup.minhash_lsh") / n),
      ("dedup.candidate_pairs", "count", ctr("dedup.candidate_pairs") / n),
      ("dedup.pairs_kept", "count", ctr("dedup.pairs_kept") / n),
      ("dedup.candidates_per_dup", "ratio",
        ctr("dedup.candidate_pairs") / ctr("dedup.injected_pairs")))
    m.result()
  }

  val metrics: Seq[(String, String, Double)] = universal ++ layered

  /** Self time per span name (a root span's self time is the
    * benchmark's own work inside the operation). */
  val selfByName: Seq[(String, Int, Double, Double)] =
    spans.groupBy(_.name).toSeq.sortBy(_._1).map { case (k, ss) =>
      (k, ss.size, ss.map(_.dur).sum / 1e6, ss.map(s => selfNs(s.id)).sum / 1e6)
    }

  def lines: Seq[String] =
    metrics.map { case (k, u, v) =>
      s"layer $k=${Metrics.jsonNumber(v)} unit=$u n=${traced.size}" } ++
      selfByName.map { case (k, c, t, s) =>
        f"span name=$k calls=$c total_ms=$t%.2f self_ms=$s%.2f" }

  /** All spans and metrics of the traced segments as one JSON file. */
  def write(file: String, cfg: Main.Config): Unit = {
    import Metrics.{jsonNumber => num, jsonString => str}
    val sb = new StringBuilder
    sb ++= s"{\"workload\": ${str(cfg.workload)}, \"seed\": ${cfg.seed},\n"
    sb ++= "\"metrics\": {" + metrics.map { case (k, u, v) =>
      s"${str(k)}: {\"value\": ${num(v)}, \"unit\": ${str(u)}}" }
      .mkString(", ") + "},\n"
    sb ++= "\"ops\": [" + traced.map(o =>
      s"{\"id\": ${o.id}, \"kind\": ${str(o.kind)}, \"class\": ${str(o.cls)}, " +
        s"\"ms\": ${num(o.latNs / 1e6)}, \"failed\": ${o.failed}}")
      .mkString(",\n") + "],\n"
    sb ++= "\"spans\": [" + spans.map(s =>
      s"{\"id\": ${s.id}, \"parent\": ${s.parent}, \"op\": ${s.op}, " +
        s"\"name\": ${str(s.name)}, \"start_ns\": ${s.start}, " +
        s"\"end_ns\": ${s.end}, \"self_ns\": ${selfNs(s.id)}}")
      .mkString(",\n") + "]}\n"
    val f = new java.io.File(file)
    Option(f.getParentFile).foreach(_.mkdirs())
    java.nio.file.Files.writeString(f.toPath, sb.toString)
  }
}
