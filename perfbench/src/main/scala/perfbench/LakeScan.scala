package perfbench

import graft.sources.OrcIo
import org.apache.spark.sql.{Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Read-only `lineitem`-shaped lake, written once in setup: zlib, a 10k
 * row-index stride, a bloom filter on the unsorted `l_partkey`, one
 * file per contiguous id range so each file is sorted on `l_orderkey`.
 * The mix is point and bloom lookups, 1 % ranges and schema-evolved
 * reads (read) and a full group-by (scan). Footer statistics through
 * `Stats.statsOnlyColumnStats` are not in the mix: the engine merges
 * per-file maxima as text and answers MAX(l_orderkey) wrongly.
 */
final class LakeScan(spark: SparkSession, seed: Long, dir: String,
    tr: Tracer) extends Workload(spark, seed, dir, tr) {
  import LakeScan._

  private val lake = new Gen.Lake(seed, LogRows)
  private val path = s"$dir/lake"
  private val orderkeys = lake.maxOrderkey + 1

  def setup(): Unit = {
    val l = lake
    val rows = spark.range(0, l.rows, 1, Files)
      .map(id => l.row(id))(Encoders.product[Gen.LakeRow])
      .withColumn("l_extendedprice",
        expr("CAST(CAST(l_price_cents AS DECIMAL(12,0)) / 100 AS DECIMAL(12,2))"))
      .select(Columns.map(col): _*)
    OrcIo.write(rows, path, compression = "zlib", indexStride = 10000,
      bloomColumns = Seq("l_partkey"))
    lake.groupAgg
  }

  def inputs: Seq[(String, Long)] = {
    val s = OrcFiles.summarize(fs, path)
    Seq("lake.rows" -> lake.rows, "lake.files" -> s.files.toLong,
      "lake.bytes" -> s.bytes, "lake.raw_bytes" -> s.raw)
  }

  def stored(): OrcFiles.Summary = OrcFiles.summarize(fs, path)

  val cycle: Seq[String] = Workload.spread("point" -> 7, "bloom" -> 6,
    "range" -> 2, "evolved" -> 2, "groupby" -> 1)

  private def unscaled(d: java.math.BigDecimal): Long =
    d.movePointRight(2).longValueExact

  private def aggCheck(what: String, r: Row, want: (Long, Long, Long))
      : Option[String] =
    Op.expect(what, (r.getLong(0), r.getLong(1), unscaled(r.getDecimal(2))),
      want)

  def op(kind: String): Op = kind match {
    case "point" =>
      val k = rng.below(orderkeys)
      Op(kind, "read") {
        tr.span("orcio.read") {
          OrcIo.read(spark, path).filter(col("l_orderkey") === k)
            .select("l_linenumber", "l_partkey", "l_quantity",
              "l_extendedprice").collect()
        }
      } { rs =>
        tr.count("orcio.read.rows_returned", rs.length)
        val got = rs.map(r => (r.getInt(0), r.getLong(1), r.getInt(2),
          unscaled(r.getDecimal(3)))).sortBy(_._1).toSeq
        val want = (4 * k until 4 * k + 4).map(id => ((id % 4).toInt + 1,
          lake.partkey(id), lake.quantity(id), lake.priceCents(id)))
        Op.expect(s"point l_orderkey=$k", got, want)
      }
    case "bloom" =>
      // two in five probe an absent (odd) key inside the key range
      val pk = if (rng.below(5) < 2) 2 * rng.below(lake.rows) + 1
        else lake.partkey(rng.below(lake.rows))
      Op(kind, "read") {
        tr.span("orcio.read") {
          OrcIo.read(spark, path).filter(col("l_partkey") === pk)
            .select("l_orderkey", "l_linenumber", "l_quantity").collect()
        }
      } { rs =>
        tr.count("orcio.read.rows_returned", rs.length)
        val got = rs.map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSeq
        val want = lake.idOfPartkey(pk).toSeq.map(id =>
          (lake.orderkey(id), (id % 4).toInt + 1, lake.quantity(id)))
        Op.expect(s"bloom l_partkey=$pk", got, want)
      }
    case "range" =>
      val width = orderkeys / 100
      val lo = rng.below(orderkeys - width)
      Op(kind, "read") {
        tr.span("orcio.read") {
          OrcIo.read(spark, path)
            .filter(col("l_orderkey") >= lo && col("l_orderkey") < lo + width)
            .agg(count(lit(1)), sum("l_quantity"), sum("l_extendedprice"))
            .head()
        }
      } { r =>
        tr.count("orcio.read.rows_returned", r.getLong(0))
        aggCheck(s"range [$lo, ${lo + width})", r,
          lake.rangeAgg(4 * lo, 4 * (lo + width)))
      }
    case "evolved" =>
      val width = orderkeys / 1000
      val lo = rng.below(orderkeys - width)
      Op(kind, "read") {
        tr.span("evolution.read_evolved") {
          OrcIo.readEvolved(spark, path, EvolvedSchema)
            .filter(col("l_orderkey") >= lo && col("l_orderkey") < lo + width)
            .agg(count(lit(1)), sum("l_quantity"), sum("l_extendedprice"),
              count("l_shipmode"), max("l_linenumber"))
            .head()
        }
      } { r =>
        tr.count("orcio.read.rows_returned", r.getLong(0))
        Op.all(
          aggCheck(s"evolved [$lo, ${lo + width})", r,
            lake.rangeAgg(4 * lo, 4 * (lo + width))),
          Op.expect("evolved missing column l_shipmode non-null count",
            r.getLong(3), 0L),
          Op.expect("evolved widened l_linenumber max", r.getLong(4), 4L))
      }
    case "groupby" =>
      Op(kind, "scan") {
        tr.span("orcio.read") {
          OrcIo.read(spark, path)
            .select("l_returnflag", "l_linestatus", "l_quantity",
              "l_extendedprice")
            .groupBy("l_returnflag", "l_linestatus")
            .agg(count(lit(1)), sum("l_quantity"), sum("l_extendedprice"))
            .collect()
        }
      } { rs =>
        tr.count("orcio.read.rows_returned", rs.map(_.getLong(2)).sum)
        val got = rs.map(r => (r.getString(0), r.getString(1)) ->
          ((r.getLong(2), r.getLong(3), unscaled(r.getDecimal(4))))).toMap
        Op.expect("group-by", got, lake.groupAgg)
      }
  }
}

object LakeScan {
  /** 2^19 rows in 32 files. */
  val LogRows = 19
  val Files = 32

  val Columns: Seq[String] = Seq("l_orderkey", "l_linenumber", "l_partkey",
    "l_suppkey", "l_quantity", "l_extendedprice", "l_discount",
    "l_returnflag", "l_linestatus", "l_shipdate", "l_comment")

  /** Reader schema: int columns widened to bigint, the decimal widened
    * to (18,2), and a column the files do not have. */
  val EvolvedSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType),
    StructField("l_linenumber", LongType),
    StructField("l_quantity", LongType),
    StructField("l_extendedprice", DecimalType(18, 2)),
    StructField("l_shipmode", StringType)))
}
