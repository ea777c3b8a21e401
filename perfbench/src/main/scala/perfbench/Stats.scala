package perfbench

/** Summary statistics shared by every workload.
  *
  * A timing is reported as its median, its sample count and the highest
  * percentile that still has at least [[TailSupport]] samples beyond it, so a
  * tail figure is never read off one or two outliers. */
object Stats {

  /** Samples required beyond a percentile before it is reported. */
  val TailSupport = 10

  /** Percentiles considered for the tail, lowest first. */
  val TailCandidates: Seq[Double] = Seq(50.0, 90.0, 95.0, 99.0, 99.9, 99.99)

  /** The highest candidate percentile with at least [[TailSupport]] of
    * `n` samples strictly beyond it, if any. */
  def tailPercentile(n: Int): Option[Double] =
    TailCandidates.filter(p => n * (100.0 - p) / 100.0 >= TailSupport - 1e-9).lastOption

  /** Nearest-rank percentile of `xs` (`p` in 0..100). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.size).toInt
    s(math.min(s.size - 1, math.max(0, rank - 1)))
  }

  /** Median: mean of the two middle samples for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2.0
  }

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geomean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** A timing's summary: median, count and the supported tail. */
  case class Summary(median: Double, n: Int, tailPct: Option[Double], tail: Option[Double]) {
    def json: String = Json.obj(
      "median" -> median, "n" -> n,
      "tail_pct" -> tailPct, "tail" -> tail)
  }

  def summary(xs: Seq[Double]): Summary = {
    val tp = tailPercentile(xs.size)
    Summary(median(xs), xs.size, tp, tp.map(percentile(xs, _)))
  }

  /** One micro-batch as seen from outside: the last source offset it
    * consumed and the wall time (epoch ms) at which it finished. */
  case class BatchEnd(endOffset: Long, endMs: Double)

  /** One `addData` call of an open-loop generator: the source offset it
    * produced and the scheduled send time (epoch ms) of each event in it. */
  case class Send(offset: Long, scheduledMs: Seq[Double])

  /** Commit-to-apply latency of every sent event, open-loop style: each
    * event is timed from when it was DUE to be sent, not from when the
    * generator managed to send it, to the end of the first batch whose end
    * offset covers the event's offset. A stalled batch therefore raises
    * the latency of every event scheduled behind it. Events no batch
    * covered are returned separately as missing. */
  def openLoopLatencies(sends: Seq[Send], batches: Seq[BatchEnd]): (Seq[Double], Int) = {
    val ends = batches.sortBy(_.endOffset).toIndexedSeq
    var missing = 0
    val lat = sends.flatMap { s =>
      // first batch (by offset) whose end offset reaches s.offset
      var lo = 0
      var hi = ends.size
      while (lo < hi) {
        val mid = (lo + hi) / 2
        if (ends(mid).endOffset >= s.offset) hi = mid else lo = mid + 1
      }
      if (lo == ends.size) { missing += s.scheduledMs.size; Nil }
      else s.scheduledMs.map(t => ends(lo).endMs - t)
    }
    (lat, missing)
  }
}
