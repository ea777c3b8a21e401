package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.cdc.{ApplyEngine, Diff}
import graft.streaming.Streams.{Event, RowState}
import graft.streaming.StreamsV2

/** The change-feed workload: one Structured Streaming query per rep,
  * `MemoryStream` → `StreamsV2.assembleTxns` → `StreamsV2.applyStream`
  * (RocksDB state) → a sink that keeps every emitted post-image.
  *
  * Phases, after untimed warm-up reps:
  *   - closed drain: each rep starts a fresh query, loads a base of
  *     events (untimed), then adds a fixed backlog at once and times how
  *     long the query takes to apply it. Every rep replays the same ops
  *     into the same fresh state, so every rep does the same work; the
  *     median rep gives `pass_s` and `drain_eps`;
  *   - open paced: on the last rep's query, one generator thread sends
  *     transactions at a fixed offered rate; each event's commit-to-apply
  *     latency runs from its SCHEDULED send time to the end of the batch
  *     that applied it.
  *
  * Correctness, outside the timed phases: the last query's final rows must
  * match `ApplyEngine.applyState` over the same ops (`Diff.diffStates`),
  * every event must be consumed exactly once, no key may see its `lsn` go
  * backwards across emitted rows, and every other rep must have emitted
  * exactly the rows the last one emitted for the same ops. */
object ChangeFeed {
  import Main._
  import Workloads.Feed

  /** One running query with its input, sink buffer and sent ops. */
  final class FeedQuery(spark: SparkSession, work: String, seed: Long) {
    import spark.implicits._
    implicit private val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val input: MemoryStream[Event] = MemoryStream[Event]
    val gen = new ChangeFeedGen.Gen(seed, Feed.Tables, Feed.KeysPerTable)
    val sent = mutable.ArrayBuffer[Event]()
    private val emitted = new ConcurrentLinkedQueue[(Long, RowState)]()
    /** Wall ms of each batch's sink call (which runs the batch's plan). */
    val sinkMs = new java.util.concurrent.ConcurrentHashMap[Long, Double]()

    private val sink: (Dataset[RowState], Long) => Unit = (ds, id) => {
      val t0 = nowMs()
      ds.collect().foreach(r => emitted.add((id, r)))
      sinkMs.put(id, nowMs() - t0)
    }

    val query: StreamingQuery = StreamsV2.applyStream(
        StreamsV2.assembleTxns(input.toDS()).flatMap(_.events))
      .writeStream
      .queryName(s"changefeed_${seed}_${System.nanoTime()}")
      .option("checkpointLocation", s"$work/checkpoint_${System.nanoTime()}")
      .foreachBatch(sink)
      .start()

    /** Send transactions, each stamped with its scheduled time, as one
      * `addData` call; returns the call's source offset. */
    def send(txns: Seq[(Seq[ChangeFeedGen.Op], Double)]): Long = {
      val evs = txns.flatMap { case (t, at) => t.map(_.at(at.toLong)) }
      sent ++= evs
      input.addData(evs).asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.LongOffset]
        .offset
    }

    /** Blocks until a committed batch has consumed source offset `off`. */
    def awaitOffset(off: Long): Unit = {
      def done = Option(query.lastProgress).exists(p =>
        p.sources.headOption.exists(s => scala.util.Try(s.endOffset.trim.toLong).toOption.exists(_ >= off)))
      while (!done) {
        query.exception.foreach(e => throw e)
        Thread.sleep(1)
      }
    }

    /** Wall ms to drain `events` added at once. */
    def drain(events: Int): Double = {
      val txns = gen.take(events)
      val t0 = nowMs()
      val now = System.currentTimeMillis().toDouble
      awaitOffset(send(txns.map(t => (t, now))))
      nowMs() - t0
    }

    def rows: Seq[(Long, RowState)] = emitted.asScala.toSeq

    /** Emitted rows of ops up to `lsn`, in a canonical order: the part of
      * the output that every rep replaying the same ops must agree on. */
    def rowsUpTo(lsn: Long): Seq[RowState] =
      rows.map(_._2).filter(_.lastLsn <= lsn).sortBy(r => (r.tbl, r.pk, r.lastLsn))

    def progress: Seq[StreamingQueryProgress] = query.recentProgress.toSeq

    def stop(): Unit = query.stop()
  }

  /** One drain rep on a fresh query: an untimed base load, then the timed
    * drain of the backlog. Returns the query (still running) and the
    * drain's wall ms. */
  def rep(spark: SparkSession, a: Args): (FeedQuery, Double) = {
    val f = new FeedQuery(spark, a.work, a.seed)
    f.drain(Feed.BaseEvents)
    (f, f.drain(Feed.BacklogEvents))
  }

  /** Generator tick: every tick, all transactions due by then go out in
    * one `addData` call (MemoryStream makes one input partition per call). */
  val TickMs = 20L

  /** Paced phase: transactions are scheduled at `eps` events/s for
    * `seconds`. Returns the sends with each event's scheduled time, and the
    * generator's lateness (send time minus scheduled time, ms). */
  def paced(f: FeedQuery, eps: Double, seconds: Double): (Seq[Stats.Send], Seq[Double]) = {
    val sends = mutable.ArrayBuffer[Stats.Send]()
    val late = mutable.ArrayBuffer[Double]()
    val t0 = System.currentTimeMillis().toDouble
    val end = t0 + seconds * 1000.0
    var due = t0 // scheduled time of the next transaction
    var next = f.gen.next()
    val thread = new Thread(() => {
      while (due < end) {
        val now = System.currentTimeMillis().toDouble
        if (now < due) Thread.sleep(math.min(TickMs, math.max(1L, (due - now).toLong)))
        else {
          val txns = mutable.ArrayBuffer[(Seq[ChangeFeedGen.Op], Double)]()
          while (due <= now && due < end) {
            txns += ((next, due))
            due += next.size * 1000.0 / eps
            next = f.gen.next()
          }
          val off = f.send(txns.toSeq)
          val sentAt = System.currentTimeMillis()
          sends += Stats.Send(off, txns.toSeq.flatMap { case (t, at) => Seq.fill(t.size)(at) })
          txns.foreach { case (_, at) => late += sentAt - at }
          Thread.sleep(TickMs)
        }
      }
    }, "perfbench-feed-generator")
    thread.start()
    thread.join()
    sends.lastOption.foreach(s => f.awaitOffset(s.offset))
    (sends.toSeq, late.toSeq)
  }

  def batchEnds(ps: Seq[StreamingQueryProgress]): Seq[Stats.BatchEnd] = ps.flatMap { p =>
    val end = Option(p.sources.headOption.map(_.endOffset).orNull)
      .flatMap(s => scala.util.Try(s.trim.toLong).toOption)
    end.map(e => Stats.BatchEnd(e,
      java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble +
        p.durationMs.getOrDefault("triggerExecution", 0L).toDouble))
  }

  /** Checks the stream against the batch apply of the same ops. Returns
    * (failed events, detail). */
  def verify(spark: SparkSession, f: FeedQuery, progress: Seq[StreamingQueryProgress]): (Long, Map[String, Long]) = {
    import spark.implicits._
    val consumed = progress.map(_.numInputRows).sum
    val added = f.sent.size.toLong
    // per key, emitted lsns must rise across batches
    val byKey = f.rows.groupBy(r => (r._2.tbl, r._2.pk))
    val reordered = byKey.values.map { rs =>
      rs.sortBy(_._1).map(_._2.lastLsn).sliding(2).count {
        case Seq(x, y) => y <= x
        case _ => false
      }
    }.sum.toLong
    val finals = byKey.values.map(rs => rs.maxBy(r => (r._1, r._2.lastLsn))._2)
      .filter(!_.deleted).toSeq
      .toDF().select(col("tbl"), col("pk"), col("valV").as("val"), col("kV").as("k"), col("version"))
    val ops = f.sent.toSeq.toDF().select(
      col("tbl"), col("pk"), col("lsn"), col("commitTs").as("t"),
      org.apache.spark.sql.functions.when(col("opCode") === "d", "delete")
        .when(col("opCode") === "c", "insert").otherwise("update").as("op"),
      col("setsVal").as("sets_val"), col("valV").as("val"),
      col("setsK").as("sets_k"), col("kV").as("k"))
    val status = Diff.diffStates(ApplyEngine.applyState(ops), finals, Seq("val", "k", "version"))
      .groupBy("status").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val detail = Map(
      "events_added" -> added, "events_consumed" -> consumed,
      "missing" -> math.max(0L, added - consumed) ,
      "extra" -> math.max(0L, consumed - added),
      "reordered" -> reordered,
      "rows_match" -> status.getOrElse("match", 0L),
      "rows_missing" -> status.getOrElse("missing_row", 0L),
      "rows_extra" -> status.getOrElse("unexpected_row", 0L),
      "rows_mismatch" -> status.getOrElse("field_mismatch", 0L))
    val failed = detail("missing") + detail("extra") + reordered +
      detail("rows_missing") + detail("rows_extra") + detail("rows_mismatch")
    (failed, detail)
  }

  /** Micro-batch ms of the batches after a rep's base load: the batch
    * time of the drain. */
  private def drainBatchMs(f: FeedQuery): Double =
    f.progress.filter(_.numInputRows > 0).drop(1)
      .map(_.durationMs.getOrDefault("triggerExecution", 0L).toDouble).sum.max(1.0)

  def run(a: Args): Seq[(String, Any)] = {
    val setup0 = nowMs()
    val spark = session(a.cores, a.work, stream = true)
    val sessionMs = nowMs() - setup0
    // warm-up reps: compile the plan's code paths and open the state stores
    val repRows = mutable.ArrayBuffer[Seq[RowState]]()
    var repLsn = 0L // ops up to here are replayed by every rep
    val warmDrainMs = (1 to Feed.WarmReps).map { _ =>
      val (w, ms) = rep(spark, a)
      repLsn = w.sent.last.lsn
      repRows += w.rowsUpTo(repLsn)
      w.stop()
      ms
    }
    val setupMs = nowMs() - setup0
    val conf = record(spark, a, Nil) // before the local[1] baseline replaces the session

    // Drain reps, at least minReps and more while the next is expected
    // to end within the drain phase. In a traced run, traced and untraced
    // reps interleave (Main.tracedTurn).
    val rec = if (a.trace) Some(new Recorder(spark)) else None
    final case class Rep(ms: Double, batchMs: Double, traced: Boolean)
    val reps = mutable.ArrayBuffer[Rep]()
    val repWall = mutable.ArrayBuffer[Double]()
    var last: FeedQuery = null
    val drain0 = nowMs()
    val drainBudget = a.seconds * 1000.0 * Feed.DrainShare
    val minReps = if (a.trace) Feed.MinReps / 2 else Feed.MinReps
    def enough(traced: Boolean) = reps.count(_.traced == traced) >= minReps
    while (!enough(false) || (rec.isDefined && !enough(true)) ||
        nowMs() - drain0 + Stats.median(repWall.toSeq) <= drainBudget) {
      val traced = rec.isDefined && tracedTurn(reps.size)
      rec.foreach(r => if (traced) r.attach() else r.detach())
      if (last != null) { repRows += last.rowsUpTo(repLsn); last.stop() }
      val r0 = nowMs()
      val (f, ms) = rep(spark, a)
      repWall += nowMs() - r0
      reps += Rep(ms, drainBatchMs(f), traced)
      last = f
    }
    val untraced = reps.filterNot(_.traced).toSeq

    // paced phase on the last rep's query, with the recorder attached
    rec.foreach(_.attach())
    val pacedFrom = last.progress.length
    val (sends, late) = paced(last, Feed.OfferedEps, a.seconds * (1.0 - Feed.DrainShare))
    val all = last.progress
    val pacedProgress = all.drop(pacedFrom)
    last.stop()
    val peakRss = peakRssMb() // before the correctness check and traced work

    val (lat, missingLat) = Stats.openLoopLatencies(sends, batchEnds(pacedProgress))
    val nonEmpty = pacedProgress.filter(_.numInputRows > 0)
    val drainMs = untraced.map(_.ms)
    val e2e = Map(
      "pass_s" -> Stats.median(drainMs) / 1000.0,
      "pass_s_summary" -> Json.Raw(Stats.summary(drainMs.map(_ / 1000.0)).json),
      "query_geomean_ms" -> Stats.geomean(untraced.map(_.batchMs)),
      "drain_eps" -> Feed.BacklogEvents / (Stats.median(drainMs) / 1000.0),
      "latency_summary" -> Json.Raw(Stats.summary(lat).json))

    val (streamFailed, detail) = verify(spark, last, all)
    // every other rep replayed the same ops: it must have emitted the same rows
    val ref = last.rowsUpTo(repLsn)
    val divergent = repRows.count(_ != ref)
    val failed = streamFailed + divergent * repLsn
    val attempted = last.sent.size + repRows.size * repLsn

    val traced: Seq[(String, Any)] = rec match {
      case None => Nil
      case Some(r) =>
        val reports = r.progressReports()
        val pacedIds = pacedProgress.map(_.batchId).toSet
        val paced = reports.filter(p => p.runId == last.query.runId && pacedIds(p.batchId))
        val busy = paced.filter(_.numInputRows > 0)
        def dur(k: String): Double =
          if (busy.isEmpty) 0.0 else Stats.median(busy.map(_.durationMs.getOrDefault(k, 0L).toDouble))
        def stateSum(p: StreamingQueryProgress, f: org.apache.spark.sql.streaming.StateOperatorProgress => Double): Double =
          p.stateOperators.map(f).sum
        val lastReport = reports.filter(_.runId == last.query.runId).lastOption
        // events sent but not yet consumed when the paced phase ended, per second
        val backlogGrowth = (sends.map(_.scheduledMs.size).sum - paced.map(_.numInputRows).sum).toDouble /
          (a.seconds * (1.0 - Feed.DrainShare))
        val layerFields = Seq(
          "streaming.latency_p50_ms" -> Stats.percentile(lat, 50),
          "streaming.latency_p99_ms" -> Stats.percentile(lat, 99),
          "streaming.batches" -> paced.size.toDouble,
          "streaming.rows_per_batch" -> (if (busy.isEmpty) 0.0 else busy.map(_.numInputRows).sum.toDouble / busy.size),
          "streaming.trigger_ms" -> dur("triggerExecution"),
          "streaming.add_batch_ms" -> dur("addBatch"),
          "streaming.query_planning_ms" -> dur("queryPlanning"),
          "streaming.latest_offset_ms" -> dur("latestOffset"),
          "streaming.wal_commit_ms" -> dur("walCommit"),
          "streaming.commit_offsets_ms" -> dur("commitOffsets"),
          "streaming.state_rows" -> lastReport.map(stateSum(_, _.numRowsTotal.toDouble)).getOrElse(0.0),
          "streaming.state_mb" -> lastReport.map(stateSum(_, _.memoryUsedBytes.toDouble)).getOrElse(0.0) / 1e6,
          "streaming.state_commit_ms" ->
            (if (busy.isEmpty) 0.0 else Stats.median(busy.map(stateSum(_, _.commitTimeMs.toDouble)))),
          "streaming.sink_ms" -> (if (busy.isEmpty) 0.0 else Stats.median(busy.map { p =>
            Option(last.sinkMs.get(p.batchId)).map(_.doubleValue).getOrElse(0.0)
          })),
          "streaming.backlog_growth_eps" -> backlogGrowth,
          "streaming.gen_late_ms" -> (if (late.isEmpty) 0.0 else Stats.percentile(late, 99)))
        r.detach()
        // recorder overhead: interleaved traced against untraced reps
        val overhead = Stats.median(reps.filter(_.traced).map(_.ms).toSeq) / Stats.median(drainMs) - 1.0
        // single-thread baseline: the same reps at local[1]
        spark.stop()
        val s1 = session(1, a.work, stream = true)
        val d1 = (0 to 2).map { _ =>
          val (f1, ms) = rep(s1, a)
          f1.stop()
          ms
        }.drop(1)
        Seq("layers" -> (layerFields ++ Seq(
          "local1_pass_s" -> Stats.median(d1) / 1000.0,
          "parallel_speedup" -> Stats.median(d1) / Stats.median(drainMs),
          "trace_overhead_frac" -> overhead)).toMap)
    }

    Seq(
      "kind" -> "stream",
      "peak_rss_mb" -> peakRss,
      "attempted" -> attempted,
      "failed_events" -> failed,
      "verify" -> (detail + ("divergent_reps" -> divergent.toLong)),
      "setup_in_jvm_s" -> setupMs / 1000.0,
      "setup_phases" -> Map("session_s" -> sessionMs / 1000.0, "warm_drain_ms" -> warmDrainMs),
      "e2e" -> e2e,
      "record" -> Json.Raw(Json.obj(conf ++ Seq(
        "offered_eps" -> Feed.OfferedEps,
        "base_events" -> Feed.BaseEvents,
        "backlog_events" -> Feed.BacklogEvents,
        "drain_ms" -> drainMs,
        "traced_drain_ms" -> reps.filter(_.traced).map(_.ms).toSeq,
        "drain_batch_ms" -> untraced.map(_.batchMs),
        "rep_wall_ms" -> repWall.toSeq,
        "paced_events" -> sends.map(_.scheduledMs.size).sum,
        "latency_uncovered_events" -> missingLat,
        "generator_late_ms" -> Json.Raw(Stats.summary(if (late.isEmpty) Seq(0.0) else late).json),
        "batches" -> all.size,
        "last_busy_progress" -> nonEmpty.lastOption.map(p => Json.Raw(p.json))): _*))
    ) ++ traced
  }
}
