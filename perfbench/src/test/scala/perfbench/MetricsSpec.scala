package perfbench

import org.scalatest.funsuite.AnyFunSuite

class MetricsSpec extends AnyFunSuite {

  test("a percentile needs ten samples beyond it") {
    assert(Metrics.reportable(200, 95))
    assert(!Metrics.reportable(199, 95))
    assert(Metrics.reportable(100, 90))
    assert(!Metrics.reportable(99, 90))
    assert(Metrics.reportable(1000, 99))
    assert(!Metrics.reportable(999, 99))
    assert(Metrics.reportable(40, 75))
    assert(!Metrics.reportable(39, 75))
  }

  test("nearest-rank percentiles and the summary") {
    val xs = (1 to 200).map(_.toDouble)
    assert(Metrics.percentile(xs, 50) == 100.0)
    assert(Metrics.percentile(xs, 95) == 190.0)
    val s = Metrics.summarize(xs.reverse)
    assert(s.n == 200 && s.p50 == 100.0 && s.p95.contains(190.0))
    assert(Metrics.summarize(xs.take(50)).p95.isEmpty)
  }

  test("median of odd and even samples") {
    assert(Metrics.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Metrics.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }
}
