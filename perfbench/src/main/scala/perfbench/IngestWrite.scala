package perfbench

import graft.sources.{JsonTools, OrcIo, OrcMeta}
import graft.streaming.StreamingIngest
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Write-heavy ingest. Each write lands one seeded batch: an
 * `OrcIo.write` append (most), a `JsonTools.convertToOrc` of NDJSON
 * lines, or a `StreamingIngest.orcSink` micro-batch over a landed file.
 * A cycle is ten writes; then the small files are compacted
 * (alternately `OrcIo.concat` of the append files and `OrcIo.merge` of
 * the JSON outputs, maint) and the result's footers are read back
 * (meta). The cycle ends with one curation of a landed document corpus
 * that persists the survivors ([[Curation]], scan).
 * Otherwise reads happen only in the untimed checks.
 */
final class IngestWrite(spark: SparkSession, seed: Long, dir: String,
    tr: Tracer) extends Workload(spark, seed, dir, tr) {
  import IngestWrite._

  private val appendDir = s"$dir/append"
  private val jsonDir = s"$dir/json"
  private val landing = s"$dir/landing"
  private val staged = s"$dir/staged"
  private val sinkDir = s"$dir/sink"
  private val ckpt = s"$dir/checkpoint"

  private var batches: IndexedSeq[DataFrame] = IndexedSeq.empty
  private var batchSums: IndexedSeq[Gen.Checksum] = IndexedSeq.empty
  private var jsons: IndexedSeq[Dataset[String]] = IndexedSeq.empty
  private var jsonBatchSums: IndexedSeq[Gen.Checksum] = IndexedSeq.empty
  private var streamSchema: StructType = _
  private val corpus = new Curation(spark, seed, s"$dir/corpus", tr)

  // the benchmark's model of what has been persisted
  private var appendFiles = Seq.empty[String]
  private var appendSum = Gen.Checksum.Zero
  private var jsonOuts = Seq.empty[String]
  private var jsonSum = Gen.Checksum.Zero
  private var streamed = Gen.Checksum.Zero
  private var landed = 0
  private var cycles = 0

  def setup(): Unit = {
    val s = seed
    batches = (0 until Pool).map { b =>
      val df = spark.range(0, BatchRows, 1, 4)
        .map(i => Gen.ingestRow(s, b, i))(Encoders.product[Gen.IngestRow])
        .withColumn("amount", expr(
          "CAST(CAST(amount_cents AS DECIMAL(12,0)) / 100 AS DECIMAL(12,2))"))
        .drop("amount_cents")
        .cache()
      df.count()
      df
    }
    batchSums = (0 until Pool).map(b => Gen.ingestChecksum(seed, b, BatchRows))
    jsons = (0 until Pool).map { b =>
      val ds = spark.range(0, JsonRows, 1, 4)
        .map(i => Gen.jsonLine(s, Pool + b, i))(Encoders.STRING).cache()
      ds.count()
      ds
    }
    jsonBatchSums = (0 until Pool).map(b => Gen.jsonChecksum(seed, Pool + b, JsonRows))
    // stream inputs: one ORC file per pool batch, landed by rename
    (0 until Pool).foreach { b =>
      spark.range(0, StreamRows, 1, 1)
        .map(i => Gen.ingestRow(s, 2 * Pool + b, i))(Encoders.product[Gen.IngestRow])
        .write.orc(s"$staged/$b")
    }
    streamSchema = spark.read.orc(s"$staged/0").schema
    fs.mkdirs(new Path(landing))
    corpus.setup()
  }

  private lazy val streamSums =
    (0 until Pool).map(b => Gen.ingestChecksum(seed, 2 * Pool + b, StreamRows))

  def inputs: Seq[(String, Long)] = Seq(
    "append.batch_rows" -> BatchRows.toLong, "json.batch_rows" -> JsonRows.toLong,
    "stream.batch_rows" -> StreamRows.toLong, "pool.batches" -> Pool.toLong,
    "ops.rows_written" -> (appendSum.rows + jsonSum.rows + streamed.rows)) ++
    corpus.inputs

  def stored(): OrcFiles.Summary =
    Seq(appendDir, jsonDir, sinkDir).map(OrcFiles.summarize(fs, _))
      .reduce(_ + _) + corpus.stored()

  val cycle: Seq[String] = Workload.spread("append" -> 8, "json" -> 1,
    "stream" -> 1) ++ Seq("compact", "footer_meta", "curate")

  private def sums(df: DataFrame, a: String, b: String,
      c: org.apache.spark.sql.Column): Gen.Checksum = {
    val r = df.agg(count(lit(1)), sum(a), sum(b), sum(c)).head()
    Gen.Checksum(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
  }

  private def ingestSums(df: DataFrame) =
    sums(df, "id", "user_id", (col("amount") * 100).cast("long"))

  private def jsonSums(df: DataFrame) =
    sums(df, "id", "qty", round(col("price") * 100).cast("long"))

  private def writeStats(files: Seq[Path]): Unit = {
    val s = OrcFiles.summarize(fs, files)
    tr.count("orcio.write.files", s.files)
    tr.count("orcio.write.bytes", s.bytes)
    tr.count("orcio.write.raw", s.raw)
    tr.count("orcio.write.stripes", s.stripes)
  }

  private var lastMaint: Option[(String, Gen.Checksum)] = None

  def op(kind: String): Op = kind match {
    case "curate" => corpus.op()
    case "append" =>
      val b = rng.below(Pool).toInt
      val before = OrcFiles.list(fs, appendDir).map(_.toString).toSet
      Op(kind, "write", rows = BatchRows) {
        tr.span("orcio.write") {
          OrcIo.write(batches(b), appendDir, mode = "append")
        }
      } { _ =>
        val added = OrcFiles.list(fs, appendDir).filterNot(p =>
          before.contains(p.toString))
        tr.count("orcio.write.rows", BatchRows)
        writeStats(added)
        val got = ingestSums(spark.read.orc(added.map(_.toString): _*))
        appendFiles ++= added.map(_.toString)
        appendSum = appendSum + batchSums(b)
        Op.expect(s"append batch $b", got, batchSums(b))
      }
    case "json" =>
      val b = rng.below(Pool).toInt
      val out = s"$jsonDir/out-${jsonOuts.size}-$cycles"
      Op(kind, "write", rows = JsonRows) {
        tr.span("json.convert_to_orc") {
          JsonTools.convertToOrc(spark, jsons(b), out)
        }
      } { df =>
        tr.count("json.rows", JsonRows)
        val t = df.schema
        val got = jsonSums(df)
        jsonOuts :+= out
        jsonSum = jsonSum + jsonBatchSums(b)
        Op.all(
          Op.expect("json inferred types",
            Seq("id", "qty", "price", "ts").map(c => t(c).dataType),
            Seq(LongType, LongType, DoubleType, TimestampType)),
          Op.expect("json nested types",
            (t("user").dataType.asInstanceOf[StructType].fieldNames.toSeq,
              t("tags").dataType),
            (Seq("tier", "uid"), ArrayType(StringType, true))),
          Op.expect(s"json batch $b", got, jsonBatchSums(b)))
      }
    case "stream" =>
      val b = landed % Pool
      val name = s"part-$landed.orc"
      landed += 1
      // land the file: copy under a hidden name, then rename into place
      val src = OrcFiles.list(fs, s"$staged/$b").head
      val tmp = new Path(s"$landing/.$name")
      org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, tmp, false, fs.getConf)
      fs.rename(tmp, new Path(s"$landing/$name"))
      Op(kind, "write", rows = StreamRows) {
        tr.span("stream.orc_sink") {
          val q = StreamingIngest.orcSink(
            spark.readStream.schema(streamSchema).orc(landing),
            sinkDir, ckpt)
          q.awaitTermination()
          q.lastProgress
        }
      } { p =>
        streamed = streamed + streamSums(b)
        val got = sums(spark.read.orc(sinkDir), "id", "user_id",
          col("amount_cents"))
        Op.all(
          Op.expect("stream micro-batch rows", p.numInputRows, StreamRows.toLong),
          Op.expect("stream sink contents", got, streamed))
      }
    case "compact" if cycles % 2 == 0 =>
      // stripe-append concat of the append files into one file
      val inputs = appendFiles
      val want = appendSum
      val out = s"$appendDir/compact-$cycles.orc"
      cycles += 1
      Op("concat", "maint") {
        tr.span("orcio.concat")(OrcIo.concat(spark, inputs, out))
      } { rows =>
        tr.count("orcio.maint.bytes_rewritten",
          inputs.map(f => fs.getFileStatus(new Path(f)).getLen).sum)
        inputs.foreach(f => fs.delete(new Path(f), false))
        appendFiles = Seq(new Path(out).toString)
        lastMaint = Some(out -> want)
        val got = ingestSums(spark.read.orc(out))
        Op.all(Op.expect("concat rows", rows, want.rows),
          Op.expect("concat contents", got, want))
      }
    case "compact" =>
      // distributed rewrite of the JSON outputs into one dataset
      val inputs = jsonOuts
      val want = jsonSum
      val out = s"$jsonDir/merged-$cycles"
      cycles += 1
      Op("merge", "maint") {
        tr.span("orcio.merge")(OrcIo.merge(spark, inputs, out))
      } { _ =>
        tr.count("orcio.maint.bytes_rewritten",
          inputs.map(d => fs.getContentSummary(new Path(d)).getLength).sum)
        inputs.foreach(d => fs.delete(new Path(d), true))
        jsonOuts = Seq(out)
        lastMaint = Some(out -> want)
        Op.expect("merge contents", jsonSums(spark.read.orc(out)), want)
      }
    case "footer_meta" =>
      val (path, want) = lastMaint.get
      Op(kind, "meta") {
        val fm = tr.span("orcmeta.file_meta") {
          OrcMeta.fileMeta(spark, path).collect()
        }
        val cs = tr.span("orcmeta.column_stats") {
          OrcMeta.columnStats(spark, path).collect()
        }
        (fm, cs)
      } { case (fm, cs) =>
        tr.count("orcmeta.footers_read", 2 * fm.length)
        val idCount = cs.filter(_.getAs[String]("column") == "id")
          .map(_.getAs[Long]("count")).sum
        Op.all(
          Op.expect("footer rows", fm.map(_.getAs[Long]("rows")).sum, want.rows),
          Op.expect("footer id value count", idCount, want.rows))
      }
  }

  override def close(): Unit =
    (batches ++ jsons.map(_.toDF())).foreach(_.unpersist())
}

object IngestWrite {
  val BatchRows = 50000
  val JsonRows = 10000
  val StreamRows = 25000
  val Pool = 2
}
