package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  import Stats._

  test("the tail is the highest percentile with at least ten samples beyond it") {
    assert(tailPercentile(19) === None)
    assert(tailPercentile(20) === Some(50.0))
    assert(tailPercentile(99) === Some(50.0))
    assert(tailPercentile(100) === Some(90.0))
    assert(tailPercentile(199) === Some(90.0))
    assert(tailPercentile(200) === Some(95.0))
    assert(tailPercentile(999) === Some(95.0))
    assert(tailPercentile(1000) === Some(99.0))
    assert(tailPercentile(10000) === Some(99.9))
    assert(tailPercentile(100000) === Some(99.99))
  }

  test("summary reports median, count and the supported tail") {
    val xs = (1 to 100).map(_.toDouble)
    val s = summary(xs)
    assert(s.median === 50.5)
    assert(s.n === 100)
    assert(s.tailPct === Some(90.0))
    assert(s.tail === Some(90.0)) // nearest rank: 10 samples lie beyond it
    assert(xs.count(_ > s.tail.get) === 10)
    assert(summary(Seq(3.0, 1.0, 2.0)).tail === None)
  }

  test("geomean and nearest-rank percentiles") {
    assert(math.abs(geomean(Seq(1.0, 100.0)) - 10.0) < 1e-9)
    assert(percentile(Seq(5.0, 1.0, 3.0), 50) === 3.0)
    assert(percentile(Seq(5.0, 1.0, 3.0), 99) === 5.0)
    assert(percentile(Seq(5.0, 1.0, 3.0), 0) === 1.0)
  }

  test("open-loop latency runs from the scheduled time to the applying batch's end") {
    // the generator sent offset 0 late (at 40 ms) but it was due at 0 ms
    val sends = Seq(Send(0, Seq(0.0, 0.0)), Send(1, Seq(10.0)))
    val batches = Seq(BatchEnd(0, 100.0), BatchEnd(1, 150.0))
    val (lat, missing) = openLoopLatencies(sends, batches)
    assert(lat === Seq(100.0, 100.0, 140.0))
    assert(missing === 0)
  }

  test("a stalled batch raises the latency of every event scheduled behind it") {
    // one event every 10 ms; batches cover two offsets each and end 50 ms
    // after their last event was due
    val sends = (0 until 8).map(i => Send(i.toLong, Seq(i * 10.0)))
    val steady = (0 until 4).map(b => BatchEnd(2L * b + 1, (2 * b + 1) * 10.0 + 50.0))
    // batch 1 stalls for 500 ms; later batches queue behind it
    val stalled = steady.map(b => if (b.endOffset >= 3) b.copy(endMs = b.endMs + 500.0) else b)
    val (base, _) = openLoopLatencies(sends, steady)
    val (hit, _) = openLoopLatencies(sends, stalled)
    assert(hit.take(2) === base.take(2))
    assert(hit.drop(2).zip(base.drop(2)).forall { case (h, b) => h == b + 500.0 })
  }

  test("events no batch covered are counted as missing, not timed") {
    val (lat, missing) = openLoopLatencies(
      Seq(Send(0, Seq(0.0)), Send(5, Seq(1.0, 2.0))), Seq(BatchEnd(3, 20.0)))
    assert(lat === Seq(20.0))
    assert(missing === 2)
  }
}
