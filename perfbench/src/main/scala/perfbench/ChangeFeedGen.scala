package perfbench

import graft.streaming.Streams.Event

/** Seeded source-op generator for the change-feed workload.
  *
  * Replays multi-table transactions the way the library's workload model
  * does: 1–4 events per transaction and a 45/35/20 insert/update/delete
  * mix. Keys are drawn with skew (index = ⌊K·u²⌋, so low key indices are
  * hot) from `tables × keysPerTable` keys. Inserts carry a full payload,
  * updates a partial one, deletes none. Every event gets a monotone `lsn`.
  *
  * The sequence of ops depends only on the seed; [[Op.at]] stamps an op
  * with its scheduled send time (`commitTs`) when it is sent. */
object ChangeFeedGen {

  /** One source op before it is stamped with a send time. */
  case class Op(
      txId: String, txIndex: Int, txTotal: Int,
      tbl: String, pk: String, opCode: String,
      setsVal: Boolean, valV: Option[Double], setsK: Boolean, kV: Option[Long],
      lsn: Long) {
    def at(commitTs: Long): Event = Event(
      txId, txIndex, txTotal, txIndex == txTotal - 1,
      tbl, pk, opCode, setsVal, valV, setsK, kV, commitTs, lsn)
  }

  /** Generator state: call [[next]] for each transaction, in order. */
  final class Gen(seed: Long, val tables: Int = 3, val keysPerTable: Int = 25000) {
    private val rnd = new java.util.SplittableRandom(seed)
    private var tx = 0L
    private var lsn = 0L

    private def key(): (String, String) = {
      val u = rnd.nextDouble()
      val idx = math.min(keysPerTable - 1, (keysPerTable * u * u).toInt)
      (s"t${rnd.nextInt(tables)}", idx.toString)
    }

    private def money(): Double = math.round(rnd.nextDouble() * 100000.0) / 100.0

    /** The next transaction's ops, in `txIndex` order. */
    def next(): IndexedSeq[Op] = {
      val id = s"tx$seed-$tx"
      tx += 1
      val n = 1 + rnd.nextInt(4)
      (0 until n).map { i =>
        lsn += 1
        val (tbl, pk) = key()
        val r = rnd.nextDouble()
        if (r < 0.45) Op(id, i, n, tbl, pk, "c",
          setsVal = true, Some(money()), setsK = true, Some(rnd.nextLong(100L)), lsn)
        else if (r < 0.80) {
          val which = rnd.nextInt(3) // 0: val only, 1: k only, 2: both
          val sv = which != 1
          val sk = which != 0
          Op(id, i, n, tbl, pk, "u",
            sv, if (sv) Some(money()) else None,
            sk, if (sk) Some(rnd.nextLong(100L)) else None, lsn)
        } else Op(id, i, n, tbl, pk, "d", setsVal = false, None, setsK = false, None, lsn)
      }
    }

    /** Transactions until at least `events` events are produced. */
    def take(events: Int): IndexedSeq[IndexedSeq[Op]] = {
      val b = IndexedSeq.newBuilder[IndexedSeq[Op]]
      var n = 0
      while (n < events) { val t = next(); n += t.size; b += t }
      b.result()
    }
  }
}
