package perfbench

import graft.operators.{Dedup, Pipeline}
import graft.sources.OrcIo
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Encoders, SparkSession}

import scala.collection.mutable

/**
 * Curation of a seeded document corpus in the `graft.Tables` layout
 * (`documents.parquet`: doc_id, lang, text) with injected exact copies,
 * near-duplicates and low-quality documents. One operation runs
 * `Dedup.minhashLshQuery` and `Pipeline.curateCorpusQuery`, writing the
 * survivors with `OrcIo.write` (scan). The survivors are checked against
 * the pipeline's definition recomputed by the benchmark, and the near-dup
 * pairs against the injected ground truth.
 */
final class Curation(spark: SparkSession, seed: Long, dir: String,
    tr: Tracer) {
  import Curation._

  private def fs = new Path(dir).getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  private val corpusDir = s"$dir/corpus"
  private val docs = Gen.corpus(seed, Docs)
  private var runs = 0
  private var lastOut: Option[String] = None

  def setup(): Unit = {
    import spark.implicits._
    docs.map(d => (d.id, Langs((d.id % Langs.size).toInt), d.text))
      .toDF("doc_id", "lang", "text").repartition(4)
      .write.parquet(graft.Tables.path(corpusDir, "documents"))
    expected
  }

  /** Survivors under the pipeline's own rules: quality score ≥ 0.5,
    * duplicate and top bigram fractions ≤ 0.1, no 4-gram shared with
    * the evaluation slice (doc_id % 50 == 0, itself excluded), then one
    * document per distinct text, the lowest doc_id. */
  private lazy val expected: IndexedSeq[Long] = {
    def grams(toks: Array[String], n: Int) =
      toks.sliding(n).map(_.mkString(" ")).toSeq
    val evalGrams = docs.filter(_.id % 50 == 0)
      .flatMap(d => grams(d.text.split(" ", -1), 4)).toSet
    docs.filter { d =>
      val toks = d.text.split(" ", -1)
      val n = toks.length.toDouble
      val q = (toks.count(Stop.contains) / n) * 0.25 +
        (toks.distinct.length / n) * 0.5 +
        (1.0 - toks.count(t => t.codePointCount(0, t.length) <= 2) / n) * 0.25
      val bi = grams(toks, 2)
      val dup = if (bi.isEmpty) 0.0 else 1.0 - bi.distinct.size.toDouble / bi.size
      val top = if (bi.isEmpty) 0.0
        else bi.groupBy(identity).values.map(_.size).max.toDouble / bi.size
      d.id % 50 != 0 && q >= 0.5 && dup <= 0.1 && top <= 0.1 &&
        !grams(toks, 4).exists(evalGrams.contains)
    }.groupBy(_.text).values.map(_.map(_.id).min).toIndexedSeq.sorted
  }

  /** Injected near-duplicate pairs: identical texts, and each near-edit
    * with its source. */
  private lazy val truth: Set[(Long, Long)] = {
    val same = docs.groupBy(_.text).values.flatMap { g =>
      val ids = g.map(_.id).sorted
      for (i <- ids.indices; j <- i + 1 until ids.size) yield (ids(i), ids(j))
    }
    (same ++ docs.flatMap(d => d.nearOf.map(s => (s min d.id, s max d.id))))
      .toSet
  }

  /** Related documents share a family: the union of copy and edit
    * links. */
  private lazy val family: Map[Long, Long] = {
    val parent = mutable.LongMap[Long]()
    def root(x: Long): Long = parent.get(x) match {
      case Some(p) if p != x => root(p)
      case _ => x
    }
    docs.foreach { d =>
      parent(d.id) = d.id
      d.dupOf.orElse(d.nearOf).foreach(s => parent(root(d.id)) = root(s))
    }
    docs.map(d => d.id -> root(d.id)).toMap
  }

  def inputs: Seq[(String, Long)] = Seq(
    "docs" -> Docs.toLong,
    "docs.exact_copies" -> docs.count(_.dupOf.nonEmpty).toLong,
    "docs.near_duplicates" -> docs.count(_.nearOf.nonEmpty).toLong,
    "docs.low_quality" -> docs.count(_.lowQuality).toLong,
    "docs.expected_kept" -> expected.size.toLong,
    "corpus.bytes" -> fs.getContentSummary(new Path(corpusDir)).getLength)

  /** Footer summary of the latest survivors. */
  def stored(): OrcFiles.Summary =
    lastOut.map(OrcFiles.summarize(fs, _)).getOrElse(OrcFiles.Empty)

  def op(): Op = {
    val out = s"$dir/kept-$runs"
    runs += 1
    Op("curate", "scan", docs = Docs) {
      val pairs = tr.span("dedup.minhash_lsh") {
        val q = Dedup.minhashLshQuery(spark, corpusDir)
        val rs = q.collect().map(r => (r.getLong(0), r.getLong(1)))
        tr.count("dedup.candidate_pairs",
          Probe.joinOutputRows(q.queryExecution.executedPlan))
        rs
      }
      tr.span("pipeline.curate") {
        OrcIo.write(Pipeline.curateCorpusQuery(spark, corpusDir), out)
      }
      pairs
    } { pairs =>
      lastOut.foreach(p => fs.delete(new Path(p), true))
      lastOut = Some(out)
      val kept = spark.read.orc(out).select("doc_id").as(Encoders.scalaLong)
        .collect().sorted.toIndexedSeq
      val found = pairs.toSet
      val recall = (found & truth).size.toDouble / truth.size
      val unrelated = found.count { case (a, b) => family(a) != family(b) }
      tr.count("curate.docs_in", Docs)
      tr.count("curate.docs_kept", kept.size)
      tr.count("dedup.pairs_kept", found.size)
      tr.count("dedup.injected_pairs", truth.size)
      Op.all(
        if (kept == expected) None
        else Some(s"curated survivors: got ${kept.size} docs, want " +
          s"${expected.size}; first difference at doc " +
          kept.zipAll(expected, -1L, -1L).find { case (a, b) => a != b }),
        if (recall >= MinRecall) None
        else Some(f"near-dup recall $recall%.4f below $MinRecall"),
        Op.expect("near-dup pairs between unrelated docs", unrelated, 0))
    }
  }
}

object Curation {
  val Docs = 2000
  /** Share of injected near-duplicate pairs LSH must find. */
  val MinRecall = 0.95
  val Langs: IndexedSeq[String] = IndexedSeq("en", "de", "fr", "es")
  private val Stop = Set("the", "a", "of", "and", "to", "in", "is")
}
