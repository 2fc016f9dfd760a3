package perfbench

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** One benchmark operation: a timed body and an untimed check of what
  * it returned. `cls` is the operation class (read, scan, write, meta
  * or maint); `rows` counts input rows it persists, `docs` documents
  * it curates. */
final class Op(val kind: String, val cls: String, val rows: Long,
    val docs: Long, body: () => Any, verify: Any => Option[String]) {
  def run(): Any = body()
  def check(v: Any): Option[String] = verify(v)
}

object Op {
  def apply[T](kind: String, cls: String, rows: Long = 0, docs: Long = 0)(
      body: => T)(verify: T => Option[String]): Op =
    new Op(kind, cls, rows, docs, () => body,
      v => verify(v.asInstanceOf[T]))

  /** `None` when `got == want`, else a message naming both. */
  def expect(what: String, got: Any, want: Any): Option[String] =
    if (got == want) None else Some(s"$what: got $got, want $want")

  /** The first wrong result, else None. */
  def all(checks: Option[String]*): Option[String] = checks.flatten.headOption
}

/**
 * A seeded workload. [[setup]] generates the inputs and writes the
 * fixtures under `dir`. The timed loop runs whole [[cycle]]s, so every
 * run measures the same mix of operation kinds however many cycles fit;
 * the seed varies each operation's keys and batches.
 */
abstract class Workload(val spark: SparkSession, val seed: Long,
    val dir: String, val tr: Tracer) {
  protected val rng = new Gen.Rng(seed, 1000)
  protected def fs: FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def setup(): Unit
  /** Operation kinds of one cycle of the closed loop, in order. */
  def cycle: Seq[String]
  /** The next operation of `kind`, with its seeded inputs. */
  def op(kind: String): Op
  /** Input sizes and row counts, reported with the run. */
  def inputs: Seq[(String, Long)]
  /** Footer summary of the live dataset at the end of the run. */
  def stored(): OrcFiles.Summary
  /** Checks the end state against the benchmark's model. */
  def endState(): Option[String] = None
  def close(): Unit = ()
}

object Workload {
  /** Kinds in proportion to their weights, spread evenly (smooth
    * weighted round-robin). */
  def spread(weights: (String, Int)*): Seq[String] = {
    val total = weights.map(_._2).sum
    val credit = Array.fill(weights.size)(0)
    Seq.fill(total) {
      weights.indices.foreach(i => credit(i) += weights(i)._2)
      val i = credit.indices.maxBy(credit)
      credit(i) -= total
      weights(i)._1
    }
  }

  val Names: Seq[String] =
    Seq("lake_scan", "ingest_write", "acid_churn")

  def make(name: String, spark: SparkSession, seed: Long, dir: String,
      tr: Tracer): Workload = name match {
    case "lake_scan" => new LakeScan(spark, seed, dir, tr)
    case "ingest_write" => new IngestWrite(spark, seed, dir, tr)
    case "acid_churn" => new AcidChurn(spark, seed, dir, tr)
    case other => throw new IllegalArgumentException(
      s"unknown workload $other; expected one of ${Names.mkString(", ")}")
  }
}

/** Footer-level facts about ORC files, read directly with the ORC
  * reader (no Spark job). */
object OrcFiles {
  final case class Summary(files: Int, bytes: Long, rows: Long, raw: Long,
      stripes: Long) {
    def +(o: Summary): Summary = Summary(files + o.files, bytes + o.bytes,
      rows + o.rows, raw + o.raw, stripes + o.stripes)
  }
  val Empty: Summary = Summary(0, 0, 0, 0, 0)

  /** Data files under `path` (recursively), skipping hidden, checksum
    * and underscore-prefixed side files. */
  def list(fs: FileSystem, path: String): Seq[Path] = {
    val p = new Path(path)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.flatMap { st =>
      val n = st.getPath.getName
      if (n.startsWith("_") || n.startsWith(".")) Nil
      else if (st.isDirectory) list(fs, st.getPath.toString)
      else Seq(st.getPath)
    }
  }

  def summarize(fs: FileSystem, files: Seq[Path]): Summary =
    files.map { f =>
      val r = org.apache.orc.OrcFile.createReader(f,
        org.apache.orc.OrcFile.readerOptions(fs.getConf).filesystem(fs))
      try Summary(1, fs.getFileStatus(f).getLen, r.getNumberOfRows,
        r.getRawDataSize, r.getStripes.size.toLong)
      finally r.close()
    }.foldLeft(Empty)(_ + _)

  def summarize(fs: FileSystem, path: String): Summary =
    summarize(fs, list(fs, path))
}
