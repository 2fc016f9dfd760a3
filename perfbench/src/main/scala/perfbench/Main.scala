package perfbench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One executed operation. Times are nanoTime for latency and epoch
  * millis for matching Spark's task timestamps. `failed` covers errors
  * and wrong results. */
final case class OpRec(id: Int, kind: String, cls: String, latNs: Long,
    startMs: Long, endMs: Long, traced: Boolean, rows: Long, docs: Long,
    failed: Boolean)

/**
 * Benchmark entry point: one JVM, one Spark `local[4]` session, one client
 * running a workload's seeded mix as a closed loop.
 *
 *   perfbench.Main --workload <name> --seed <n> --seconds <s>
 *     --trace <0|1> --work <dir> [--trace-out <file>]
 *
 * The last stdout line is the JSON result; the lines before it name
 * every metric with its unit and sample count.
 */
object Main {

  final case class Config(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String, traceOut: Option[String])

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_ms" -> "ms", "ops_per_s" -> "1/s",
    "bytes_stored_per_input_byte" -> "ratio", "heap_peak_mb" -> "MB")

  val PerLayer: Seq[(String, String)] = Seq(
    "plan.analysis_ms" -> "ms", "plan.optimizer_ms" -> "ms",
    "plan.planning_ms" -> "ms", "exec.jobs" -> "count",
    "exec.tasks" -> "count", "exec.task_run_ms" -> "ms",
    "exec.task_cpu_ms" -> "ms", "exec.scheduler_delay_ms" -> "ms",
    "exec.driver_gap_ms" -> "ms", "exec.shuffle_write_bytes" -> "bytes",
    "exec.shuffle_read_bytes" -> "bytes", "jvm.gc_ms" -> "ms",
    "jvm.heap_peak_mb" -> "MB", "trace.overhead_ratio" -> "ratio")

  def parse(args: Array[String]): Config = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
    }
    Config(need("workload"), need("seed").toLong, need("seconds").toDouble,
      trace, need("work"), m.get("trace-out"))
  }

  def main(args: Array[String]): Unit = {
    val cfg = try parse(args) catch {
      case e: IllegalArgumentException =>
        System.err.println(e.getMessage); sys.exit(2)
    }
    val spark = session(cfg.work)
    try new Run(cfg, spark).execute()
    finally spark.stop()
  }

  private val sessionStart = System.nanoTime

  def session(work: String): SparkSession = {
    val s = graft.GraftSession.builder("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Seconds since this object was initialised, before the session
    * starts. */
  def sinceStart(): Double = (System.nanoTime - sessionStart) / 1e9
}

/** Peak heap still in use after a garbage collection, over the
  * collections that end while armed: the retained working set, which
  * unlike the raw in-use peak does not just track the young generation
  * filling up. */
final class HeapPeak {
  @volatile var armed = false
  @volatile private var peak = 0L
  private val listener = new javax.management.NotificationListener {
    def handleNotification(n: javax.management.Notification, h: Any): Unit =
      if (armed && n.getType == com.sun.management.GarbageCollectionNotificationInfo
          .GARBAGE_COLLECTION_NOTIFICATION) {
        val info = com.sun.management.GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val after = info.getGcInfo.getMemoryUsageAfterGc.values.asScala
          .map(_.getUsed).sum
        synchronized { peak = peak max after }
      }
  }
  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: javax.management.NotificationEmitter => e }
  beans.foreach(_.addNotificationListener(listener, null, null))

  /** The peak since the last call; the heap in use now if no
    * collection ended in between. */
  def take(): Long = synchronized {
    val p = if (peak > 0) peak
      else ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    peak = 0L
    p
  }
  def close(): Unit = beans.foreach(_.removeNotificationListener(listener))
}

final class Run(cfg: Main.Config, spark: SparkSession) {
  private val sc = spark.sparkContext
  private val tr = new Tracer
  private val probe = new Probe
  private val heap = new HeapPeak
  private val ops = mutable.ArrayBuffer[OpRec]()
  private var attempted = 0
  private val failures = mutable.ArrayBuffer[String]()
  // wall time of the timed loop, untraced and traced segments apart
  private val loopNs = mutable.Map(false -> 0L, true -> 0L)
  private var nextOp = 1

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime max 0L).sum

  private def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  /** Runs one operation; only `traced` runs feed the probe. */
  private def runOp(op: Op, traced: Boolean, record: Boolean): Unit = {
    val id = nextOp
    nextOp += 1
    attempted += 1
    tr.op = id
    probe.op = id
    if (traced) {
      sc.setJobGroup(Probe.GroupPrefix + id, op.kind)
      probe.active = true
    }
    val startMs = System.currentTimeMillis
    val t0 = System.nanoTime
    val res = try Right(tr.span(s"op.${op.kind}")(op.run()))
      catch { case e: Throwable => Left(e) }
    val lat = System.nanoTime - t0
    val endMs = System.currentTimeMillis
    if (traced) {
      drain()
      probe.active = false
      sc.setJobGroup("perfbench-check", "check")
    }
    val err = res match {
      case Left(e) => Some(s"failed: $e")
      case Right(v) =>
        try op.check(v)
        catch { case e: Throwable => Some(s"check failed: $e") }
    }
    if (traced) { drain(); sc.clearJobGroup() }
    err.foreach(e => failures += s"op=$id kind=${op.kind} $e")
    if (record)
      ops += OpRec(id, op.kind, op.cls, lat, startMs, endMs, traced, op.rows,
        op.docs, err.nonEmpty)
  }

  def execute(): Unit = {
    val sessionS = Main.sinceStart()
    // setup: generate the seeded inputs, write the fixtures, then run each
    // operation kind once, unrecorded, to warm up
    val t0 = System.nanoTime
    val wl = Workload.make(cfg.workload, spark, cfg.seed, s"${cfg.work}/data", tr)
    wl.setup()
    val fixtureS = (System.nanoTime - t0) / 1e9
    val w0 = System.nanoTime
    wl.cycle.distinct.foreach(k =>
      runOp(wl.op(k), traced = false, record = false))
    val warmS = (System.nanoTime - w0) / 1e9
    val setupS = sessionS + fixtureS + warmS

    // the timed closed loop; a traced run alternates untraced and traced
    // halves so the tracing overhead is measured within one JVM
    val segments = if (cfg.trace) Seq(false, true, false, true) else Seq(false)
    val segNs = (cfg.seconds * 1e9 / (if (cfg.trace) 2 else 1)).toLong
    var gcTraced = 0L
    var heapPeak = 0L
    var heapPeakTraced = 0L
    segments.foreach { traced =>
      if (traced) {
        sc.addSparkListener(probe)
        spark.listenerManager.register(probe)
        spark.streams.addListener(probe.streams)
        tr.enabled = true
      }
      val gc0 = gcMs()
      heap.armed = true
      // whole cycles, until the segment length is reached
      val start = System.nanoTime
      while (System.nanoTime - start < segNs)
        wl.cycle.foreach(k => runOp(wl.op(k), traced, record = true))
      loopNs(traced) += System.nanoTime - start
      heap.armed = false
      val peak = heap.take()
      if (traced) {
        tr.enabled = false
        drain()
        sc.removeSparkListener(probe)
        spark.listenerManager.unregister(probe)
        spark.streams.removeListener(probe.streams)
        gcTraced += gcMs() - gc0
        heapPeakTraced = heapPeakTraced max peak
      } else heapPeak = heapPeak max peak
    }
    heap.close()

    val loopEnd = Main.sinceStart()
    val stored = wl.stored()
    val endErr = try wl.endState()
      catch { case e: Throwable => Some(s"end state check failed: $e") }
    attempted += 1
    endErr.foreach(e => failures += s"end-state $e")
    val inputs = wl.inputs
    wl.close()

    val out = new Report(cfg, ops.toSeq, loopNs(false), attempted,
      failures.toSeq, inputs, setupS, sessionS, fixtureS, warmS, stored,
      heapPeak)
    if (cfg.trace) {
      val layers = new Layers(ops.toSeq, loopNs.toMap, tr, probe, gcTraced,
        heapPeakTraced)
      out.print(Some(layers), loopEnd)
      cfg.traceOut.foreach(f => layers.write(f, cfg))
    } else out.print(None, loopEnd)
  }
}

/** End-to-end metrics of a run, and the printed result. */
final class Report(cfg: Main.Config, ops: Seq[OpRec], loopNs: Long,
    attempted: Int, failures: Seq[String],
    inputs: Seq[(String, Long)], setupS: Double, sessionS: Double,
    fixtureS: Double, warmS: Double, stored: OrcFiles.Summary,
    heapPeak: Long) {

  private val untraced = ops.filter(!_.traced)

  /** Latencies; a failed operation misses every latency limit. */
  private def ms(rs: Seq[OpRec]) =
    rs.map(o => if (o.failed) Double.PositiveInfinity else o.latNs / 1e6)

  private val byClass = untraced.groupBy(_.cls)

  /** Every end-to-end metric, with unit and sample count. Metrics of an
    * operation class the workload does not run are absent. */
  val endToEnd: Seq[(String, String, Double, Int)] = {
    val m = mutable.ArrayBuffer[(String, String, Double, Int)]()
    val n = untraced.size
    m += (("setup_s", "s", setupS, 1))
    def cls(c: String, p95: Boolean) = byClass.get(c).foreach { rs =>
      val s = Metrics.summarize(ms(rs))
      m += ((s"${c}_p50_ms", "ms", s.p50, s.n))
      if (p95) s.p95.foreach(v => m += ((s"${c}_p95_ms", "ms", v, s.n)))
    }
    cls("read", p95 = true)
    cls("scan", p95 = false)
    cls("write", p95 = true)
    cls("meta", p95 = false)
    cls("maint", p95 = false)
    m += (("op_p50_ms", "ms", Metrics.summarize(ms(untraced)).p50, n))
    m += (("ops_per_s", "1/s", Metrics.opsPerS(untraced, loopNs), n))
    val writes = untraced.filter(_.rows > 0)
    if (writes.nonEmpty)
      m += (("rows_written_per_s", "rows/s",
        writes.map(_.rows).sum / (writes.map(_.latNs).sum / 1e9), writes.size))
    val curated = untraced.filter(_.docs > 0)
    if (curated.nonEmpty)
      m += (("docs_per_s", "docs/s",
        curated.map(_.docs).sum / (curated.map(_.latNs).sum / 1e9),
        curated.size))
    m += (("bytes_stored_per_input_byte", "ratio",
      stored.bytes.toDouble / stored.raw, stored.files))
    m += (("heap_peak_mb", "MB", heapPeak / 1048576.0, n))
    m += (("error_rate", "ratio", failures.size.toDouble / attempted, attempted))
    m.toSeq
  }

  def print(layers: Option[Layers], loopEnd: Double): Unit = {
    val o = System.out
    o.println(s"perfbench workload=${cfg.workload} seed=${cfg.seed} " +
      s"seconds=${cfg.seconds} trace=${if (cfg.trace) 1 else 0} " +
      "client=1 closed-loop spark=local[4]")
    inputs.foreach { case (k, v) => o.println(s"input $k=$v") }
    o.println(f"setup session_s=$sessionS%.3f fixtures_s=$fixtureS%.3f " +
      f"warm_up_s=$warmS%.3f")
    untraced.groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (k, rs) =>
      val s = Metrics.summarize(ms(rs))
      o.println(f"op kind=$k class=${rs.head.cls} n=${s.n} " +
        f"failed=${rs.count(_.failed)} p50_ms=${s.p50}%.2f" +
        s.p95.map(v => f" p95_ms=$v%.2f").getOrElse(""))
    }
    endToEnd.foreach { case (k, u, v, n) =>
      o.println(s"metric $k=${Metrics.jsonNumber(v)} unit=$u n=$n") }
    o.println(f"timing loop_end_s=$loopEnd%.3f report_s=${Main.sinceStart()}%.3f")
    failures.foreach(f => o.println(s"failure $f"))
    layers.foreach(_.lines.foreach(o.println))
    val chosen = layers match {
      case None =>
        val by = endToEnd.map(m => m._1 -> m).toMap
        Main.EndToEnd.map { case (k, u) => (k, u, by(k)._3) }
      case Some(l) =>
        val by = l.metrics.map(m => m._1 -> m).toMap
        Main.PerLayer.map { case (k, u) => (k, u, by(k)._3) }
    }
    val metrics = chosen.map { case (k, u, v) =>
      s"${Metrics.jsonString(k)}: {\"value\": ${Metrics.jsonNumber(v)}, " +
        s"\"unit\": ${Metrics.jsonString(u)}}" }.mkString(", ")
    o.println(s"{\"correct\": ${failures.isEmpty}, \"attempted\": $attempted, " +
      s"\"failed\": ${failures.size}, \"metrics\": {$metrics}}")
    o.flush()
  }
}
