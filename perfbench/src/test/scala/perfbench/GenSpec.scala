package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private def lakeDigest(seed: Long): Int =
    (0L until 4096L).map(new Gen.Lake(seed, 12).row).hashCode

  test("the same seed gives the same inputs and expected answers") {
    assert(lakeDigest(1) == lakeDigest(1))
    assert(new Gen.Lake(1, 12).groupAgg == new Gen.Lake(1, 12).groupAgg)
    assert(Gen.ingestChecksum(1, 0, 1000) == Gen.ingestChecksum(1, 0, 1000))
    assert(Gen.jsonChecksum(1, 3, 1000) == Gen.jsonChecksum(1, 3, 1000))
    assert(Gen.corpus(1, 500) == Gen.corpus(1, 500))
    assert(Gen.order(1, 42, 3) == Gen.order(1, 42, 3))
  }

  test("a different seed gives different inputs and expected answers") {
    assert(lakeDigest(1) != lakeDigest(2))
    assert(new Gen.Lake(1, 12).groupAgg != new Gen.Lake(2, 12).groupAgg)
    assert(Gen.ingestChecksum(1, 0, 1000) != Gen.ingestChecksum(2, 0, 1000))
    assert(Gen.jsonChecksum(1, 3, 1000) != Gen.jsonChecksum(2, 3, 1000))
    assert(Gen.corpus(1, 500).map(_.text) != Gen.corpus(2, 500).map(_.text))
  }

  test("partkey is a permutation the benchmark can invert; odd keys are absent") {
    val lake = new Gen.Lake(7, 12)
    val keys = (0L until lake.rows).map(lake.partkey)
    assert(keys.distinct.size == lake.rows)
    (0L until lake.rows).foreach(id =>
      assert(lake.idOfPartkey(lake.partkey(id)).contains(id)))
    assert(lake.idOfPartkey(3).isEmpty)
    assert(lake.idOfPartkey(2 * lake.rows).isEmpty)
  }

  test("range and group aggregates agree with the row formula") {
    val lake = new Gen.Lake(3, 10)
    val rows = (0L until lake.rows).map(lake.row)
    assert(lake.rangeAgg(0, lake.rows) == ((lake.rows,
      rows.map(_.l_quantity.toLong).sum, rows.map(_.l_price_cents).sum)))
    assert(lake.groupAgg.values.map(_._1).sum == lake.rows)
  }

  test("the corpus injects copies, near-duplicates and low-quality docs") {
    val docs = Gen.corpus(5, 2000)
    val byId = docs.map(d => d.id -> d).toMap
    assert(docs.count(_.dupOf.nonEmpty) > 50)
    assert(docs.count(_.nearOf.nonEmpty) > 100)
    assert(docs.count(_.lowQuality) > 50)
    docs.foreach { d =>
      d.dupOf.foreach(s => assert(byId(s).text == d.text && s < d.id))
      d.nearOf.foreach(s => assert(byId(s).text != d.text && s < d.id))
      if (d.id % 50 == 0)
        assert(d.dupOf.isEmpty && d.nearOf.isEmpty && !d.lowQuality)
    }
  }
}
