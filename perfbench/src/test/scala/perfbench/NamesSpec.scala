package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

class NamesSpec extends AnyFunSuite {

  private lazy val bench = new ObjectMapper().readTree(
    new java.io.File("../BENCHMARK.json"))

  private def names(key: String): Seq[String] =
    bench.get(key).elements.asScala.map(_.get("name").asText).toSeq

  test("metric and workload names match [A-Za-z0-9_.-]+") {
    val name = "[A-Za-z0-9][A-Za-z0-9_.-]{0,63}".r
    val all = Main.EndToEnd.map(_._1) ++ Main.PerLayer.map(_._1) ++
      Workload.Names
    all.foreach(n => assert(name.matches(n), n))
  }

  test("BENCHMARK.json lists exactly the metrics and workloads the benchmark reports") {
    assert(names("end_to_end") == Main.EndToEnd.map(_._1))
    assert(names("per_layer") == Main.PerLayer.map(_._1))
    assert(names("workloads") == Workload.Names)
    val units = bench.get("end_to_end").elements.asScala
      .map(m => m.get("name").asText -> m.get("unit").asText).toMap
    Main.EndToEnd.foreach { case (n, u) => assert(units(n) == u, n) }
  }

  test("weighted cycles keep each kind's share") {
    val c = Workload.spread("a" -> 3, "b" -> 2, "c" -> 1)
    assert(c.size == 6)
    assert(c.groupBy(identity).map { case (k, v) => k -> v.size } ==
      Map("a" -> 3, "b" -> 2, "c" -> 1))
    assert(c.sliding(2).forall { case Seq(x, y) => x != y || x == "a" })
  }
}
