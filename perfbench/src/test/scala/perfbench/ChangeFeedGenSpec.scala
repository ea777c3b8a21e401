package perfbench

import org.scalatest.funsuite.AnyFunSuite

class ChangeFeedGenSpec extends AnyFunSuite {

  private def ops(seed: Long, events: Int) = new ChangeFeedGen.Gen(seed).take(events).flatten

  test("the same seed gives the same ops") {
    assert(ops(7L, 5000) === ops(7L, 5000))
  }

  test("a different seed gives different ops") {
    val a = ops(7L, 5000).map(o => (o.tbl, o.pk, o.opCode, o.valV, o.kV))
    val b = ops(8L, 5000).map(o => (o.tbl, o.pk, o.opCode, o.valV, o.kV))
    assert(a !== b)
  }

  test("transactions hold 1-4 events, lsn rises, the op mix is 45/35/20") {
    val txns = new ChangeFeedGen.Gen(3L).take(40000)
    assert(txns.forall(t => t.size >= 1 && t.size <= 4))
    assert(txns.forall(t => t.map(_.txIndex) == t.indices && t.forall(_.txTotal == t.size)))
    val all = txns.flatten
    assert(all.map(_.lsn) === (1L to all.size.toLong))
    def share(code: String) = all.count(_.opCode == code).toDouble / all.size
    assert(math.abs(share("c") - 0.45) < 0.02)
    assert(math.abs(share("u") - 0.35) < 0.02)
    assert(math.abs(share("d") - 0.20) < 0.02)
    // payload contract: a set flag always carries a value, deletes carry none
    assert(all.forall(o => o.setsVal == o.valV.isDefined && o.setsK == o.kV.isDefined))
    assert(all.filter(_.opCode == "d").forall(o => !o.setsVal && !o.setsK))
  }

  test("stamping sets commitTs and marks the last event of each transaction") {
    val t = new ChangeFeedGen.Gen(1L).take(100).find(_.size > 1).get
    val evs = t.map(_.at(1234L))
    assert(evs.forall(_.commitTs == 1234L))
    assert(evs.map(_.last) === t.indices.map(_ == t.size - 1))
  }
}
