package graft.testutil

/** In-memory replay of a keyed fold over a feed cut into micro-batches —
  * the reference a `transformWithState` processor must reproduce. Within
  * each batch, rows group by key and the step runs once per key with the
  * state that key carried out of its previous batch (`None` = no state,
  * and a step returning `None` clears it). Output order across keys is
  * unspecified; compare sorted.
  */
object FoldReplay {

  /** The micro-batches `EventStreamSpec.runChunked` feeds a stream. */
  def chunks[I](feed: Seq[I], n: Int): Seq[Seq[I]] =
    feed.grouped(math.max(feed.size / n, 1)).toSeq

  def apply[I, K, S, O](batches: Seq[Seq[I]])(key: I => K)(
      step: (K, Option[S], Seq[I]) => (Option[S], Seq[O])): Seq[O] = {
    val state = scala.collection.mutable.Map.empty[K, S]
    batches.flatMap { batch =>
      batch.groupBy(key).toSeq.flatMap { case (k, rows) =>
        val (next, out) = step(k, state.get(k), rows)
        next match {
          case Some(s) => state(k) = s
          case None => state.remove(k)
        }
        out
      }
    }
  }
}
