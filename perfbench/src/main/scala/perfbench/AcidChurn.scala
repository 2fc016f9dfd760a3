package perfbench

import graft.operators.Acid
import graft.sources.OrcIo
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable

/**
 * ACID merge-on-read churn over an `orders`-shaped table that starts as
 * `base_1`. Each transaction writes one delta that updates, deletes and
 * inserts about [[ChurnFrac]] of the keys, skewed toward recent keys
 * (write). The mix adds point reads, snapshot point reads (read) and
 * full resolve aggregates (scan); the compaction policy runs
 * `compactionTrigger` + `minorCompact` after two deltas and
 * `majorCompact` after three (maint). Every answer is checked against
 * the benchmark's own model of the transactions it applied. `fastCount`
 * is not in the mix: once `minorCompact` folds a delta-inserted row's
 * insert into a later update or delete, the engine's count drifts from
 * the live row count.
 */
final class AcidChurn(spark: SparkSession, seed: Long, dir: String,
    tr: Tracer) extends Workload(spark, seed, dir, tr) {
  import AcidChurn._

  private val table = s"$dir/table"

  // the model: live rows, the newest base, the undo log since that base
  // (for snapshot reads), and the latest event per key in each live
  // delta directory
  private val live = mutable.LongMap[Gen.Order]()
  private var sumPrice = 0L
  private var sumCust = 0L
  private var nextKey = BaseRows.toLong
  private var txn = 1L
  private var baseTxn = 1L
  private var baseRows = BaseRows.toLong
  private val undo = mutable.ArrayBuffer[(Long, Long, Option[Gen.Order])]()
  private val deltas = mutable.LinkedHashMap[String, mutable.LongMap[Int]]()

  def setup(): Unit = {
    val s = seed
    val base = spark.range(0, BaseRows, 1, 4).map { k =>
      val o = Gen.order(s, k, 0)
      (k.longValue, o.cust, o.priceCents, o.status)
    }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
      Encoders.scalaLong, Encoders.STRING))
      .toDF("id", "cust", "price_cents", "status")
    OrcIo.write(base, s"$table/base_1")
    (0L until BaseRows).foreach(k => put(k, Some(Gen.order(seed, k, 0))))
  }

  private def put(k: Long, v: Option[Gen.Order]): Unit = {
    live.get(k).foreach { o => sumPrice -= o.priceCents; sumCust -= o.cust }
    v match {
      case Some(o) => live(k) = o; sumPrice += o.priceCents; sumCust += o.cust
      case None => live.remove(k)
    }
  }

  def inputs: Seq[(String, Long)] = Seq("base.rows" -> BaseRows.toLong,
    "txn.events" -> eventsPerTxn * 3L, "live.rows" -> live.size.toLong,
    "txns" -> (txn - 1))

  private def eventsPerTxn: Int = math.max(1, (BaseRows * ChurnFrac / 3).toInt)

  /** On-disk bytes of base and deltas over the footer raw size of the
    * live rows (the base's raw bytes per row times the live count). */
  def stored(): OrcFiles.Summary = {
    val all = OrcFiles.summarize(fs, table)
    val base = OrcFiles.summarize(fs, s"$table/base_$baseTxn")
    all.copy(raw = (base.raw.toDouble / base.rows * live.size).toLong)
  }

  override def endState(): Option[String] = scanCheck(
    Acid.readTable(spark, table, "id")
      .agg(count(lit(1)), sum("price_cents"), sum("cust")).head())

  /** Eleven operations with a minor compaction after the second delta
    * and a major compaction closing the cycle. The resolve scan runs
    * between the two, on a minor-compacted delta. */
  val cycle: Seq[String] = Seq("write", "point", "snapshot", "write", "minor",
    "point", "resolve_agg", "snapshot", "write", "point", "major")

  /** A live key, skewed toward recently inserted ones. */
  private def recentLive(avoid: mutable.Set[Long]): Long = {
    var k = -1L
    while (k < 0 || !live.contains(k) || avoid.contains(k)) {
      val u = rng.unit()
      k = nextKey - 1 - (nextKey * u * u * u).toLong
    }
    k
  }

  private def row(k: Long, o: Gen.Order) = Row(k, o.cust, o.priceCents, o.status)

  private def valueAsOf(k: Long, t: Long): Option[Gen.Order] =
    undo.reverseIterator.takeWhile(_._1 > t).foldLeft(live.get(k)) {
      case (v, (_, key, before)) => if (key == k) before else v
    }

  private def scanCheck(r: Row): Option[String] =
    Op.expect("resolved table (rows, sum price, sum cust)",
      (r.getLong(0), r.getLong(1), r.getLong(2)),
      (live.size.toLong, sumPrice, sumCust))

  private def dirTxns(d: String): Array[Long] =
    d.stripPrefix("delta_").split("_").map(_.toLong)

  private def dirBytes(d: String): Long =
    fs.getContentSummary(new Path(s"$table/$d")).getLength

  private def pointCheck(what: String, k: Long, rs: Array[Row],
      want: Option[Gen.Order]): Option[String] =
    Op.expect(what, rs.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getString(3))).toSeq, want.toSeq.map(o => (k, o.cust, o.priceCents,
      o.status)))

  def op(kind: String): Op = {
    // read amplification the operation starts from
    tr.count("acid.live_deltas", deltas.size)
    tr.count("acid.events_per_live_row",
      (baseRows + deltas.values.map(_.size).sum).toDouble / live.size)
    opOf(kind)
  }

  private def opOf(kind: String): Op = kind match {
    case "write" =>
      txn += 1
      val t = txn
      val chosen = mutable.Set[Long]()
      def pick() = { val k = recentLive(chosen); chosen += k; k }
      val upd = Seq.fill(eventsPerTxn)(pick())
      val del = Seq.fill(eventsPerTxn)(pick())
      val ins = Seq.tabulate(eventsPerTxn)(i => nextKey + i)
      nextKey += eventsPerTxn
      val changes: Seq[(Int, Long, Option[Gen.Order])] =
        upd.map(k => (Acid.OpUpdate, k, Some(Gen.order(seed, k, t)))) ++
          del.map(k => (Acid.OpDelete, k, None)) ++
          ins.map(k => (Acid.OpInsert, k, Some(Gen.order(seed, k, t))))
      val events = spark.createDataFrame(java.util.Arrays.asList(
        changes.map { case (op, k, v) =>
          Row(op, baseTxn, (k % 4).toInt, k, t,
            row(k, v.orElse(live.get(k)).get))
        }: _*), EventSchema)
      val out = s"$table/delta_$t"
      Op(kind, "write", rows = changes.size) {
        tr.span("acid.write_delta")(Acid.writeDelta(events, out))
      } { _ =>
        changes.foreach { case (_, k, v) =>
          undo += ((t, k, live.get(k)))
          put(k, v)
        }
        deltas(s"delta_$t") = mutable.LongMap(changes.map { case (op, k, _) =>
          k -> op }: _*)
        Op.expect(s"delta_$t acid stats", Acid.readAcidStats(spark, out),
          Some(Acid.AcidStats(ins.size, upd.size, del.size)))
      }
    case "point" =>
      val k = if (rng.below(5) == 0) rng.below(nextKey)
        else recentLive(mutable.Set.empty)
      Op(kind, "read") {
        tr.span("acid.read_table") {
          Acid.readTable(spark, table, "id").filter(col("id") === k).collect()
        }
      } { rs => pointCheck(s"point id=$k", k, rs, live.get(k)) }
    case "snapshot" =>
      val t = baseTxn + rng.below(txn - baseTxn + 1)
      // half the probes pick a key changed after the snapshot
      val later = undo.filter(_._1 > t)
      val k = if (later.nonEmpty && rng.below(2) == 0)
        later(rng.below(later.size).toInt)._2
        else recentLive(mutable.Set.empty)
      Op(kind, "read") {
        tr.span("acid.read_table_as_of") {
          Acid.readTableAsOf(spark, table, t, "id")
            .filter(col("id") === k).collect()
        }
      } { rs => pointCheck(s"snapshot txn=$t id=$k", k, rs,
        valueAsOf(k, t)) }
    case "resolve_agg" =>
      Op(kind, "scan") {
        tr.span("acid.read_table") {
          Acid.readTable(spark, table, "id")
            .agg(count(lit(1)), sum("price_cents"), sum("cust")).head()
        }
      } { r => scanCheck(r) }
    case "minor" =>
      val quota = 2L * 3 * eventsPerTxn
      val sizes = deltas.keys.map(d => d -> dirBytes(d)).toMap
      Op(kind, "maint") {
        val plan = tr.span("acid.trigger") {
          Acid.compactionTrigger(spark, table, quota)
            .select("grp", "low_txn", "high_txn", "do_merge").collect()
        }
        val groups = plan.filter(_.getBoolean(3)).groupBy(_.getLong(0))
          .toSeq.sortBy(_._1).map { case (_, rs) =>
            rs.map { r =>
              val (lo, hi) = (r.getLong(1), r.getLong(2))
              if (lo == hi) s"delta_$lo" else s"delta_${lo}_$hi"
            }.toSeq
          }
        groups.map(g => g -> tr.span("acid.minor_compact") {
          Acid.minorCompact(spark, table, Some(g))
        })
      } { merged =>
        merged.foreach { case (g, out) =>
          val m = mutable.LongMap[Int]()
          g.sortBy(d => dirTxns(d).head).foreach(d => m ++= deltas.remove(d).get)
          val txns = g.flatMap(dirTxns)
          deltas(s"delta_${txns.min}_${txns.max}") = m
          tr.count("acid.compact.bytes_rewritten", g.map(sizes).sum)
        }
        Op.all(
          Op.expect("minor compaction outputs",
            merged.map(_._2.split("/").last),
            merged.map { case (g, _) =>
              val txns = g.flatMap(dirTxns); s"delta_${txns.min}_${txns.max}" }),
          scanCheck(Acid.readTable(spark, table, "id")
            .agg(count(lit(1)), sum("price_cents"), sum("cust")).head()))
      }
    case "major" =>
      val bytes = OrcFiles.summarize(fs, table).bytes
      Op(kind, "maint") {
        tr.span("acid.major_compact")(Acid.majorCompact(spark, table, "id"))
      } { out =>
        tr.count("acid.compact.bytes_rewritten", bytes)
        baseTxn = txn
        baseRows = live.size
        deltas.clear()
        undo.clear()
        Op.all(
          Op.expect("major compaction output", out.split("/").last,
            s"base_$txn"),
          scanCheck(Acid.readTable(spark, table, "id")
            .agg(count(lit(1)), sum("price_cents"), sum("cust")).head()))
      }
  }
}

object AcidChurn {
  val BaseRows = 65536
  /** Share of the keys one transaction touches (a third each updated,
    * deleted and inserted). */
  val ChurnFrac = 0.005

  val EventSchema: StructType = StructType(Seq(
    StructField("operation", IntegerType, nullable = false),
    StructField("originalTransaction", LongType, nullable = false),
    StructField("bucket", IntegerType, nullable = false),
    StructField("rowId", LongType, nullable = false),
    StructField("currentTransaction", LongType, nullable = false),
    StructField("row", StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("cust", LongType, nullable = false),
      StructField("price_cents", LongType, nullable = false),
      StructField("status", StringType))))))
}
