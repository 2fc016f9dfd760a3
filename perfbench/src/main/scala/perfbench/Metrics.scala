package perfbench

/** Latency summaries under the sample-count rule: a percentile is
  * reported only when at least ten samples lie beyond it. */
object Metrics {

  val MinBeyond = 10

  /** Nearest-rank index (1-based) of percentile `p` (0 < p < 100). */
  def rank(n: Int, p: Int): Int = ((p.toLong * n + 99) / 100).toInt.max(1)

  /** Whether percentile `p` of `n` samples has ten samples beyond it. */
  def reportable(n: Int, p: Int): Boolean = n - rank(n, p) >= MinBeyond

  /** Nearest-rank percentile of an ascending sample. */
  def percentile(sorted: IndexedSeq[Double], p: Int): Double =
    sorted(rank(sorted.size, p) - 1)

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Latency summary of one operation class. */
  final case class Summary(n: Int, p50: Double, p95: Option[Double])

  def summarize(latMs: Seq[Double]): Summary = {
    val s = latMs.sorted.toIndexedSeq
    Summary(s.size, if (s.isEmpty) Double.NaN else percentile(s, 50),
      if (reportable(s.size, 95)) Some(percentile(s, 95)) else None)
  }

  /** Operations completed correctly per second of loop wall time. */
  def opsPerS(ops: Seq[OpRec], loopNs: Long): Double =
    ops.count(!_.failed) / (loopNs / 1e9)

  // ---------------------------------------------------------------- JSON

  def jsonString(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def jsonNumber(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
}
