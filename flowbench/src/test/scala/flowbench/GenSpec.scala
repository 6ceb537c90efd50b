package flowbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private val sizes = Gen.FraudSizes(fraudRows = 3000, rangeRows = 50, cardRows = 300)

  test("the same seed gives byte-identical fraud CSVs; another seed does not") {
    val a = Gen.fraudCsvs(7L, sizes)
    val b = Gen.fraudCsvs(7L, sizes)
    assert(a === b)
    assert(Gen.fraudCsvs(8L, sizes).fraud !== a.fraud)
    assert(a.fraud.split("\n").length === sizes.fraudRows + 1)
    assert(a.card.split("\n").length === sizes.cardRows + 1)
  }

  test("fraud CSVs carry the planted traffic: both classes, nulls and bad values") {
    import Gen.FraudTraffic._
    val c = Gen.fraudCsvs(7L, sizes)
    val rows = c.fraud.split("\n").tail.map(_.split(",", -1))
    assert(rows.forall(_.length == 11))
    assert(rows.count(_(10) == "1") ===
      math.round(FraudShare * sizes.fraudRows).toInt)
    assert(rows.count(_(9).isEmpty) === PlantedRows)
    assert(rows.count(_(9) == "not.an.ip") === PlantedRows)
    assert(rows.count(_(2) == "not-a-time") === PlantedRows)
    assert(rows.count(_(9).count(_ == '.') == 3) === PlantedRows)
    assert(rows.length - rows.map(_.mkString(",")).distinct.length === PlantedRows)
    val card = c.card.split("\n").tail.map(_.split(","))
    assert(card.count(_.last == "1") >= MinPositives)
  }

  test("device and IP keys are skewed but as distinct as the reference's") {
    import Gen.FraudTraffic._
    val r = Gen.rng(4L, 1L)
    var next = 0L
    val keys = Gen.skewedKeys(r, 20000, DeviceDistinctShare) { () =>
      next += 1; next }
    val counts = keys.groupBy(identity).values.map(_.size)
    assert(math.abs(counts.size / 20000.0 - DeviceDistinctShare) < 0.01)
    assert(counts.max >= 3) // a heavier key than a pair
  }

  test("IP ranges are sorted, disjoint and leave the reference's unmapped share") {
    val rs = Gen.ipRanges(Gen.rng(3L, 1L), 200)
    assert(rs.forall { case (lo, hi, _) => lo <= hi })
    assert(rs.zip(rs.tail).forall { case (a, b) => a._2 < b._1 })
    val mapped = rs.map { case (lo, hi, _) => (hi - lo + 1).toDouble }.sum
    assert(math.abs(1 - mapped / 4294967296.0 -
      Gen.FraudTraffic.UnmappedIpShare) < 0.001)
  }

  test("the transaction stream repeats for a seed") {
    val a = new Gen.TxStream(3L, 6L)
    val b = new Gen.TxStream(3L, 6L)
    val xs = Vector.fill(500)(a.next())
    assert(xs === Vector.fill(500)(b.next()))
    assert(xs.map(_.event_id) === (1L to 500L))
  }

  test("crawl batches repeat byte for byte and plant what they report") {
    def run(seed: Long) = {
      val c = new Gen.Crawl(seed)
      val corpus = c.corpus(100)
      (corpus, (0 until 3).map(b => c.batch(b, 200, 1000L)))
    }
    val (ca, ba) = run(5L)
    val (cb, bb) = run(5L)
    assert(ca === cb)
    ba.zip(bb).foreach { case (x, y) =>
      assert(x.kinds === y.kinds)
      assert(x.media.map(_.media).zip(y.media.map(_.media))
        .forall { case (p, q) => java.util.Arrays.equals(p, q) })
    }
    val kinds = ba.flatMap(_.kinds)
    assert(kinds.map(_._1) === (1000L until 1600L))
    // clone and near-dup sources are earlier fresh docs
    val fresh = ca.map(_._1).toSet ++ kinds.collect { case (id, Gen.Fresh) => id }
    assert(kinds.collect { case (_, Gen.Clone(s)) => s }.forall(fresh))
    assert(kinds.exists(_._2.isInstanceOf[Gen.Clone]))
    assert(kinds.exists(_._2.isInstanceOf[Gen.NearDup]))
  }

  test("a Zipf sampler stays in range and favours low ranks") {
    val z = new Gen.Zipf(50, 1.1)
    val r = Gen.rng(1L, 1L)
    val xs = Vector.fill(5000)(z.sample(r))
    assert(xs.forall(x => x >= 0 && x < 50))
    assert(xs.count(_ == 0) > xs.count(_ == 49) * 10)
  }
}
