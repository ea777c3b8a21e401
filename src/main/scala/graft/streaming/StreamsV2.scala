package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{ListState, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig}

/** The keyed-state streaming operators: one `transformWithState` (Spark
  * 4.x `StatefulProcessor`) processor per operator, the only keyed-state
  * API the library uses.
  *
  *   - State is NAMED and TYPED: the txn buffer is a `ListState`, so the
  *     RocksDB state store appends an arriving event as its own entry
  *     instead of rewriting the whole buffer every micro-batch (large
  *     in-flight transactions under drift); the rolling-lag ring and the
  *     commit-floor buffer are `ListState`s too, the rest hold one small
  *     `ValueState` per key.
  *   - Expiry that is a silent drop is a declarative `TTLConfig`. Expiry
  *     that must EMIT or leave a tombstone (activity, growth, scd2, drift
  *     broker, heartbeat) is a processing-time timer, one pending per key.
  *     `ttlMs <= 0` disables expiry (bounded replays and tests).
  *   - Each processor's semantics is a pure fold in [[Streams]]:
  *     FoldPropertiesSpec tests the folds for
  *     chop-invariance, StreamingSpec / EventStreamSpec run the processors
  *     against a per-batch replay of the fold and against the batch
  *     operators, and FailureDrillSpec kills and resumes them.
  *
  * Precondition: the RocksDB state store provider
  * (`spark.sql.streaming.stateStore.providerClass`), which
  * [[graft.GraftSession]] sets; Spark's default HDFS-backed provider does
  * not support `transformWithState`.
  */
object StreamsV2 {

  import Streams.{AssembledTxn, Event, LagSample, LagSnapshot}

  /** TTL config and time mode for an operator whose expiry is a silent
    * drop: `ttlMs <= 0` means no expiry and no clock. */
  private def ttlMode(ttlMs: Long): (TTLConfig, TimeMode) =
    if (ttlMs > 0)
      (TTLConfig(java.time.Duration.ofMillis(ttlMs)), TimeMode.ProcessingTime())
    else (TTLConfig.NONE, TimeMode.None())

  /** Time mode for an operator whose expiry is a timer. */
  private def timerMode(ttlMs: Long): TimeMode =
    if (ttlMs > 0) TimeMode.ProcessingTime() else TimeMode.None()

  /** Txn-assembly processor: buffer per txId until complete
    * (`src/changefeed/model.ts:176-205` — same completion rule as
    * `Streams.txnComplete`: declared total reached; the `last` flag alone
    * never completes a known-total txn, a drift-first last event must
    * wait for its siblings). */
  class TxnAssemblyProcessor(ttl: TTLConfig)
      extends StatefulProcessor[String, Event, AssembledTxn] {
    @transient private var buf: ListState[Event] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      buf = getHandle.getListState("txnBuf", Encoders.product[Event], ttl)

    override def handleInputRows(
        txId: String, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[AssembledTxn] = {
      val incoming = rows.toList
      val all = buf.get().toList ++ incoming
      if (Streams.txnComplete(all)) {
        buf.clear()
        val sorted = all.sortBy(e => (e.txIndex, e.lsn))
        Iterator.single(AssembledTxn(
          txId, sorted.size,
          sorted.map(_.commitTs).max,
          sorted.map(_.lsn).min,
          sorted))
      } else {
        // append-only state write: only the NEW events hit the store
        buf.appendList(incoming.toArray)
        Iterator.empty
      }
    }
  }

  /** Txn assembly (`src/changefeed/model.ts:176-205`,
    * `web/App.tsx:2115-2156`): buffer events per txId until
    * `count >= total` (or a `last` marker), then emit the whole
    * transaction, events sorted by `txIndex` (`model.ts:196`). Incomplete
    * txns expire after `ttlMs` processing time — the safety valve the
    * reference lacks. */
  def assembleTxns(
      events: Dataset[Event],
      ttlMs: Long = 60000L): Dataset[AssembledTxn] = {
    val spark = events.sparkSession
    import spark.implicits._
    val (ttl, mode) = ttlMode(ttlMs)
    events
      .groupByKey(_.txId)
      .transformWithState(new TxnAssemblyProcessor(ttl), mode, OutputMode.Append())
  }

  /** Rolling-lag ring processor: the last ≤ `lastN` lag samples per lane
    * (`src/engine/metrics.ts:42-44,97-139`), snapshot after every batch. */
  class LagRingProcessor(lastN: Int)
      extends StatefulProcessor[String, LagSample, LagSnapshot] {
    @transient private var ring: ListState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      ring = getHandle.getListState("lagRing", Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(
        method: String, rows: Iterator[LagSample],
        timerValues: TimerValues): Iterator[LagSnapshot] = {
      val arrived = rows.toSeq.sortBy(s => (s.ord1, s.ord2)).map(_.lagMs)
      val kept = (ring.get().toSeq ++ arrived).takeRight(lastN).toIndexedSeq
      if (kept.isEmpty) Iterator.empty
      else {
        ring.put(kept.toArray)
        val sorted = kept.sorted
        def r3(x: Double): Double =
          BigDecimal(x).setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble
        Iterator.single(LagSnapshot(
          method,
          r3(Streams.percentile(sorted, 0.5)),
          r3(Streams.percentile(sorted, 0.95)),
          sorted.last,
          kept.length))
      }
    }
  }

  /** Rolling lag percentiles — the live form of the reference's
    * MetricsStore (`src/engine/metrics.ts:42-44,97-139`): a per-lane ring
    * buffer of the LAST `lastN` lag samples, with a p50/p95/max snapshot
    * emitted after every micro-batch — the number the dashboard shows on a
    * long-running feed. Batch counterpart (same slice, same interpolation):
    * `MetricsAgg.lagPercentilesRolling`. Within a batch, samples append in
    * delivery order (ord1, ord2); state is O(lastN) per lane. */
  def lagRollingStream(
      samples: Dataset[LagSample],
      lastN: Int = 2000): Dataset[LagSnapshot] = {
    val spark = samples.sparkSession
    import spark.implicits._
    samples
      .groupByKey(_.method)
      .transformWithState(new LagRingProcessor(lastN), TimeMode.None(), OutputMode.Append())
  }

  /** Funnel-progress processor: per-user first-completion times as ONE
    * small `ValueState` (≤ |steps| longs); [[Streams.funnelFold]] is the
    * semantics. */
  class FunnelProcessor(steps: Seq[String], ttl: TTLConfig)
      extends StatefulProcessor[Long, Streams.EventIn, Streams.FunnelAdvance] {
    @transient private var progress:
      org.apache.spark.sql.streaming.ValueState[Streams.FunnelProgress] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      progress = getHandle.getValueState("funnelProgress",
        Encoders.product[Streams.FunnelProgress], ttl)

    override def handleInputRows(
        uid: Long, rows: Iterator[Streams.EventIn],
        timerValues: TimerValues): Iterator[Streams.FunnelAdvance] = {
      val (next, out) =
        Streams.funnelFold(steps, Option(progress.get()), rows.toSeq)
      progress.update(next)
      out.iterator
    }
  }

  /** Streaming ordered-conversion funnel — the incremental form of
    * [[graft.operators.EventAnalytics.funnel]]: one [[Streams.FunnelAdvance]]
    * per (user, stage) ever, so the downstream per-stage count is an
    * append-only aggregate instead of a re-scan of history. Parity:
    * EventStreamSpec; restart: FailureDrillSpec. */
  def funnelStream(
      events: Dataset[Streams.EventIn],
      steps: Seq[String] = Seq("signup", "click", "purchase"),
      ttlMs: Long = 0L): Dataset[Streams.FunnelAdvance] = {
    val spark = events.sparkSession
    import spark.implicits._
    val (ttl, mode) = ttlMode(ttlMs)
    events
      .groupByKey(_.userId)
      .transformWithState(new FunnelProcessor(steps, ttl), mode, OutputMode.Append())
  }

  /** Transition-matrix processor: ONE previous-event tuple of
    * `ValueState` per user; the fold is [[Streams.transitionsFold]]. TTL
    * expiry clears the carried tuple — a re-appearing user simply starts
    * a new chain. */
  class TransitionsProcessor(ttl: TTLConfig)
      extends StatefulProcessor[Long, (Long, Long, String, Long), Streams.TransitionOut] {
    @transient private var last: org.apache.spark.sql.streaming.ValueState[Streams.LastEvent] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      last = getHandle.getValueState(
        "lastEvent", Encoders.product[Streams.LastEvent], ttl)

    override def handleInputRows(
        userId: Long, rows: Iterator[(Long, Long, String, Long)],
        timerValues: TimerValues): Iterator[Streams.TransitionOut] = {
      val start = if (last.exists()) Some(last.get()) else None
      val (next, out) = Streams.transitionsFold(userId, start,
        rows.map(e => (e._2, e._3, e._4)).toSeq)
      next.foreach(last.update)
      out.iterator
    }
  }

  /** Streaming transition matrix — the smallest keyed state there is: one
    * previous-event tuple per user. Each arriving event emits its
    * (previous → current) pair, so the matrix downstream is an append-only
    * count per (from, to) instead of a `lead` window over all history.
    * `events` rows are (userId, eventId, eventType, tMs). */
  def transitionsStream(
      events: Dataset[(Long, Long, String, Long)],
      ttlMs: Long = 0L): Dataset[Streams.TransitionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    val (ttl, mode) = ttlMode(ttlMs)
    events
      .groupByKey(_._1)
      .transformWithState(new TransitionsProcessor(ttl), mode, OutputMode.Append())
  }

  /** Retention processor: (cohortDay, emitted-day set, pending) per user;
    * the fold is [[Streams.retentionFold]] (including the pre-signup
    * same-day `pending` buffer). */
  class RetentionProcessor(ttl: TTLConfig)
      extends StatefulProcessor[Long, Streams.EventIn, Streams.RetentionMark] {
    @transient private var st: org.apache.spark.sql.streaming.ValueState[Streams.RetentionState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState(
        "retention", Encoders.product[Streams.RetentionState], ttl)

    override def handleInputRows(
        userId: Long, rows: Iterator[Streams.EventIn],
        timerValues: TimerValues): Iterator[Streams.RetentionMark] = {
      val start = if (st.exists()) Some(st.get()) else None
      val (next, out) = Streams.retentionFold(userId, start, rows.toSeq)
      st.update(next)
      out.iterator
    }
  }

  /** Streaming cohort retention — the incremental form of
    * [[graft.operators.EventAnalytics.retention]]: one
    * [[Streams.RetentionMark]] per (user, active day) ever, so the triangle
    * is an append-only count per (cohortDay, dayOffset). Pre-signup
    * same-day activity is buffered, so stream == batch even when the
    * activity row arrives before its user's signup row. */
  def retentionStream(
      events: Dataset[Streams.EventIn],
      ttlMs: Long = 0L): Dataset[Streams.RetentionMark] = {
    val spark = events.sparkSession
    import spark.implicits._
    val (ttl, mode) = ttlMode(ttlMs)
    events
      .groupByKey(_.userId)
      .transformWithState(new RetentionProcessor(ttl), mode, OutputMode.Append())
  }

  /** Last-touch attribution processor: ONE carried touch tuple per user;
    * the fold is [[Streams.attributionFold]]. */
  class AttributionProcessor(touchTypes: Set[String], ttl: TTLConfig)
      extends StatefulProcessor[Long, Streams.AttrIn, Streams.AttributionOut] {
    @transient private var touch: org.apache.spark.sql.streaming.ValueState[Streams.LastEvent] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      touch = getHandle.getValueState(
        "lastTouch", Encoders.product[Streams.LastEvent], ttl)

    override def handleInputRows(
        userId: Long, rows: Iterator[Streams.AttrIn],
        timerValues: TimerValues): Iterator[Streams.AttributionOut] = {
      val start = if (touch.exists()) Some(touch.get()) else None
      val (next, out) =
        Streams.attributionFold(userId, touchTypes, start, rows.toSeq)
      next.foreach(touch.update)
      out.iterator
    }
  }

  /** Streaming last-touch attribution — the incremental form of
    * [[graft.operators.EventAnalytics.attribution]]: every purchase emits
    * exactly once, already credited, so the channel ledger is an
    * append-only (count, ticks) aggregate. Money stays integer ticks end
    * to end. */
  def attributionStream(
      events: Dataset[Streams.AttrIn],
      touchTypes: Set[String] = Set("click", "view"),
      ttlMs: Long = 0L): Dataset[Streams.AttributionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    val (ttl, mode) = ttlMode(ttlMs)
    events
      .groupByKey(_.userId)
      .transformWithState(new AttributionProcessor(touchTypes, ttl), mode, OutputMode.Append())
  }

  /** [[Streams.ActivityState]] plus the last-touch processing time the
    * timer-based eviction needs: a timer registered before a later touch
    * is stale, and the guard compares against `lastTouchMs`. */
  case class ActivityStateV2(days: Seq[Long], everActive: Boolean,
      lastTouchMs: Long)

  /** DAU / new-vs-returning processor over [[Streams.activityFold]].
    * Expiry drops the day SET but keeps the one-boolean `everActive`
    * tombstone, so a re-appearing user is never a second `new`; DAU may
    * overcount an evicted user's REVISITED day (its dedup evidence is
    * gone), `new_users` never inflates. */
  class ActivityProcessor(ttlMs: Long)
      extends StatefulProcessor[Long, Streams.EventIn, Streams.DayActive] {
    @transient private var st: org.apache.spark.sql.streaming.ValueState[ActivityStateV2] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState(
        "activity", Encoders.product[ActivityStateV2], TTLConfig.NONE)

    override def handleInputRows(
        userId: Long, rows: Iterator[Streams.EventIn],
        timerValues: TimerValues): Iterator[Streams.DayActive] = {
      val start = if (st.exists()) {
        val s = st.get(); Some(Streams.ActivityState(s.days, s.everActive))
      } else None
      val (next, out) = Streams.activityFold(userId, start, rows.toSeq)
      val now = timerValues.getCurrentProcessingTimeInMs()
      st.update(ActivityStateV2(next.days, next.everActive, now))
      if (ttlMs > 0) {
        // one pending timer per key, not one per batch: a key active
        // every micro-batch would otherwise accumulate a timer per batch
        // within each TTL window (the stale guard keeps that CORRECT but
        // timer-state size and expired-timer invocations grow with batch
        // rate) — same discipline as DriftBrokerProcessor
        getHandle.listTimers().foreach(getHandle.deleteTimer)
        getHandle.registerTimer(now + ttlMs)
      }
      out.iterator
    }

    override def handleExpiredTimer(
        userId: Long, timerValues: TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[Streams.DayActive] = {
      // a timer registered before a later touch is STALE — only evict
      // when the key has been silent for a full TTL
      if (st.exists() &&
          timerValues.getCurrentProcessingTimeInMs() - st.get().lastTouchMs >= ttlMs)
        st.update(st.get().copy(days = Seq.empty, everActive = true))
      Iterator.empty
    }
  }

  /** Streaming DAU / new-vs-returning — the incremental form of
    * [[graft.operators.EventAnalytics.newVsReturning]]: one
    * [[Streams.DayActive]] per (user, day) ever; aggregating the emitted
    * stream by day reproduces the batch ledger at any point in time. */
  def activityStream(
      events: Dataset[Streams.EventIn],
      ttlMs: Long = 0L): Dataset[Streams.DayActive] = {
    val spark = events.sparkSession
    import spark.implicits._
    val mode = timerMode(ttlMs)
    events
      .groupByKey(_.userId)
      .transformWithState(new ActivityProcessor(ttlMs), mode, OutputMode.Append())
  }

  /** [[Streams.GrowthState]] plus the last-touch processing time (the
    * stale-timer guard of [[ActivityStateV2]]). */
  case class GrowthStateV2(lastWeek: Long, churned: Boolean, lastTouchMs: Long)

  /** Growth-accounting processor over [[Streams.growthFold]]: expiry
    * emits the silent `churned` row and keeps the (lastWeek,
    * churned=true) tombstone so a return classifies `resurrected`, never
    * a second `new`. */
  class GrowthProcessor(ttlMs: Long)
      extends StatefulProcessor[Long, Streams.EventIn, Streams.GrowthMark] {
    @transient private var st: org.apache.spark.sql.streaming.ValueState[GrowthStateV2] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState(
        "growth", Encoders.product[GrowthStateV2], TTLConfig.NONE)

    override def handleInputRows(
        userId: Long, rows: Iterator[Streams.EventIn],
        timerValues: TimerValues): Iterator[Streams.GrowthMark] = {
      val start = if (st.exists()) {
        val s = st.get(); Some(Streams.GrowthState(s.lastWeek, s.churned))
      } else None
      val (next, out) = Streams.growthFold(userId, start, rows.toSeq)
      val now = timerValues.getCurrentProcessingTimeInMs()
      st.update(GrowthStateV2(next.lastWeek, next.churned, now))
      if (ttlMs > 0) {
        // one pending timer per key (see ActivityProcessor)
        getHandle.listTimers().foreach(getHandle.deleteTimer)
        getHandle.registerTimer(now + ttlMs)
      }
      out.iterator
    }

    override def handleExpiredTimer(
        userId: Long, timerValues: TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[Streams.GrowthMark] = {
      if (st.exists() &&
          timerValues.getCurrentProcessingTimeInMs() - st.get().lastTouchMs >= ttlMs) {
        val s = st.get()
        if (s.lastWeek >= 0 && !s.churned) {
          st.update(s.copy(churned = true))
          return Iterator.single(
            Streams.GrowthMark(userId, s.lastWeek + 1, "churned"))
        }
      }
      Iterator.empty
    }
  }

  /** Streaming weekly growth accounting — the incremental form of
    * [[graft.operators.EventAnalytics.growthAccounting]]: one long of
    * state per user (the last active week), each classification emitted
    * the moment its evidence arrives. With `ttlMs = 0` the event-driven
    * kinds (new / retained / resurrected + gap churn) stream exactly.
    * Silent churn — a user who never returns — has no closing event, so
    * it emits on expiry as `churned` at lastWeek+1. TTL trade-off (pinned
    * in EventStreamSpec): if the TTL fires before the gap is real (the
    * user returns in week lastWeek+1), the stream has emitted
    * churned + resurrected where the batch ledger says `retained` — an
    * append-only stream cannot retract an eviction-time mark; choose
    * `ttlMs` ≫ the week cadence. */
  def growthStream(
      events: Dataset[Streams.EventIn],
      ttlMs: Long = 0L): Dataset[Streams.GrowthMark] = {
    val spark = events.sparkSession
    import spark.implicits._
    val mode = timerMode(ttlMs)
    events
      .groupByKey(_.userId)
      .transformWithState(new GrowthProcessor(ttlMs), mode, OutputMode.Append())
  }

  /** RFM processor: one 3-long `ValueState` per purchasing user — the
    * running (lastDay, frequency, ticks); the fold is [[Streams.rfmFold]].
    * The totals ARE the product, so expiry only suits users whose final
    * mark the sink has seen: a re-appearing purchaser restarts their
    * totals, which the latest-mark-wins consumer surfaces as a visible
    * reset rather than silently wrong arithmetic. */
  class RfmProcessor(ttl: TTLConfig)
      extends StatefulProcessor[Long, Streams.AttrIn, Streams.RfmMark] {
    @transient private var totals: org.apache.spark.sql.streaming.ValueState[Streams.RfmState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      totals = getHandle.getValueState(
        "rfmTotals", Encoders.product[Streams.RfmState], ttl)

    override def handleInputRows(
        userId: Long, rows: Iterator[Streams.AttrIn],
        timerValues: TimerValues): Iterator[Streams.RfmMark] = {
      val start = if (totals.exists()) Some(totals.get()) else None
      val (next, out) = Streams.rfmFold(userId, start, rows.toSeq)
      next.foreach(totals.update)
      out.iterator
    }
  }

  /** Streaming RFM — the incremental form of
    * [[graft.operators.EventAnalytics.rfm]]: every purchase batch emits a
    * superseding running snapshot, so the segmentation table is a
    * latest-mark-per-user upsert plus the fixed scoring projection. Money
    * stays integer ticks (ticks / 100 = the batch DECIMAL(18,2)
    * monetary). */
  def rfmStream(
      events: Dataset[Streams.AttrIn],
      ttlMs: Long = 0L): Dataset[Streams.RfmMark] = {
    val spark = events.sparkSession
    import spark.implicits._
    val (ttl, mode) = ttlMode(ttlMs)
    events
      .groupByKey(_.userId)
      .transformWithState(new RfmProcessor(ttl), mode, OutputMode.Append())
  }

  /** Cohort-LTV processor: one long of `ValueState` per user (the signup
    * cohort day); the fold is [[Streams.ltvFold]]. TTL expiry forgets a
    * cohort, so a user's LATER purchases drop from the triangle (the
    * conservative direction — the entry mark emitted exactly once before
    * expiry, so cohort sizes never double-count). */
  class LtvProcessor(ttl: TTLConfig)
      extends StatefulProcessor[Long, Streams.AttrIn, Streams.LtvMark] {
    @transient private var cohort: org.apache.spark.sql.streaming.ValueState[Streams.LtvState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      cohort = getHandle.getValueState(
        "ltvCohort", Encoders.product[Streams.LtvState], ttl)

    override def handleInputRows(
        userId: Long, rows: Iterator[Streams.AttrIn],
        timerValues: TimerValues): Iterator[Streams.LtvMark] = {
      val start = if (cohort.exists()) Some(cohort.get()) else None
      val (next, out) = Streams.ltvFold(userId, start, rows.toSeq)
      if (next.cohortDay >= 0) cohort.update(next)
      out.iterator
    }
  }

  /** Streaming cohort LTV — the incremental form of
    * [[graft.operators.EventAnalytics.cohortLtv]]: every purchase emits
    * already cohort-attributed, so the LTV triangle is an append-only
    * (cohortDay, weekOffset) aggregate instead of a re-join of all
    * purchases against all signups. */
  def ltvStream(
      events: Dataset[Streams.AttrIn],
      ttlMs: Long = 0L): Dataset[Streams.LtvMark] = {
    val spark = events.sparkSession
    import spark.implicits._
    val (ttl, mode) = ttlMode(ttlMs)
    events
      .groupByKey(_.userId)
      .transformWithState(new LtvProcessor(ttl), mode, OutputMode.Append())
  }

  /** Token-bucket throttle processor: one small `ValueState` per lane (the
    * bucket is (tick, allowance, used); RocksDB rewrites one tiny value
    * per lane per batch). The drain math is [[Streams.throttleFold]]. */
  class ThrottleProcessor(rate: Double, stepMs: Long, batchCap: Int, ttl: TTLConfig)
      extends StatefulProcessor[String, graft.cdc.Consumer.DeliveryIn, graft.cdc.Consumer.DeliveryOut] {
    @transient private var bucket: org.apache.spark.sql.streaming.ValueState[Streams.ThrottleState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      bucket = getHandle.getValueState(
        "bucket", Encoders.product[Streams.ThrottleState], ttl)

    override def handleInputRows(
        method: String, rows: Iterator[graft.cdc.Consumer.DeliveryIn],
        timerValues: TimerValues): Iterator[graft.cdc.Consumer.DeliveryOut] = {
      val st =
        if (bucket.exists()) bucket.get()
        else Streams.ThrottleState(0L, 0.0, 0)
      val (next, out) = Streams.throttleFold(st, rows.toSeq, rate, stepMs, batchCap)
      bucket.update(next)
      out.iterator
    }
  }

  /** Streaming consumer throttle — the unbounded form of
    * `Consumer.throttleDrain` (`web/App.tsx:2106-2113,2185-2201`): the
    * per-lane token bucket carries across micro-batches, so a lane's drain
    * schedule is identical no matter how the stream is chopped. Within a
    * batch, events drain in (availableAt, seq) order — the order the batch
    * fold consumes. */
  def throttleStream(
      events: Dataset[graft.cdc.Consumer.DeliveryIn],
      rate: Double,
      stepMs: Long = 50L,
      batchCap: Int = 50,
      ttlMs: Long = 0L): Dataset[graft.cdc.Consumer.DeliveryOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    val (ttl, mode) = ttlMode(ttlMs)
    events
      .groupByKey(_.method)
      .transformWithState(
        new ThrottleProcessor(rate, stepMs, batchCap, ttl), mode, OutputMode.Append())
  }

  /** As-of enrichment processor: the latest build row per key in one
    * `ValueState` (one (ts, id) pair per key, rewritten only when a newer
    * build arrives); the in-batch fold is [[Streams.asOfFold]]. */
  class AsOfProcessor(ttl: TTLConfig)
      extends StatefulProcessor[Long, Streams.AsOfIn, Streams.AsOfOut] {
    @transient private var latest: org.apache.spark.sql.streaming.ValueState[Streams.AsOfState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      latest = getHandle.getValueState(
        "latestBuild", Encoders.product[Streams.AsOfState], ttl)

    override def handleInputRows(
        key: Long, rows: Iterator[Streams.AsOfIn],
        timerValues: TimerValues): Iterator[Streams.AsOfOut] = {
      val st = if (latest.exists()) Some(latest.get()) else None
      val (next, out) = Streams.asOfFold(key, st, rows.toSeq)
      next.foreach(latest.update)
      out.iterator
    }
  }

  /** Streaming form of [[graft.operators.AsOfJoin]]: enrich a probe stream
    * with the latest at-or-before build row per key, both sides arriving on
    * ONE tagged stream (union the two feeds upstream — the same trick as the
    * batch form, which makes batch↔streaming parity exact). Within a
    * micro-batch, rows fold in (ts, tag) order with builds first on ties;
    * across batches the latest build per key rides in state. The one
    * difference from batch, inherent to streaming: a build row arriving in
    * a LATER batch than a probe with a larger ts cannot retro-enrich it
    * (the probe already emitted) — bound skew with a watermark upstream if
    * the feeds can interleave across batches. */
  def asOfStream(
      rows: Dataset[Streams.AsOfIn],
      ttlMs: Long = 3600000L): Dataset[Streams.AsOfOut] = {
    val spark = rows.sparkSession
    import spark.implicits._
    val (ttl, mode) = ttlMode(ttlMs)
    rows
      .groupByKey(_.key)
      .transformWithState(new AsOfProcessor(ttl), mode, OutputMode.Append())
  }

  /** FIFO broker-delivery processor: one (tick, used) `ValueState` per
    * partition; the drain math is [[Streams.brokerFold]]. */
  class BrokerDeliveryProcessor(tickMs: Long, maxApplyPerTick: Int)
      extends StatefulProcessor[Int, graft.cdc.Consumer.BrokerIn, graft.cdc.Consumer.BrokerOut] {
    @transient private var queue: org.apache.spark.sql.streaming.ValueState[Streams.BrokerQueueState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      queue = getHandle.getValueState(
        "queue", Encoders.product[Streams.BrokerQueueState], TTLConfig.NONE)

    override def handleInputRows(
        part: Int, rows: Iterator[graft.cdc.Consumer.BrokerIn],
        timerValues: TimerValues): Iterator[graft.cdc.Consumer.BrokerOut] = {
      val st = if (queue.exists()) queue.get() else Streams.BrokerQueueState(0L, 0)
      val (next, out) = Streams.brokerFold(part, st, rows.toSeq, tickMs, maxApplyPerTick)
      queue.update(next)
      out.iterator
    }
  }

  /** Streaming exact broker delivery — the unbounded form of
    * `Consumer.brokerDeliverExact` (`model.ts:246-263` `pollBroker`): per
    * partition, per-tick caps and head-of-line FIFO order carry across
    * micro-batches. Within a batch, events process in enqueue (lsn) order;
    * exactly-once FIFO requires lsn-ordered arrival per partition (the
    * broker's own guarantee). */
  def brokerDeliverStream(
      events: Dataset[graft.cdc.Consumer.BrokerIn],
      tickMs: Long = 50L,
      maxApplyPerTick: Int = 4): Dataset[graft.cdc.Consumer.BrokerOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.part)
      .transformWithState(
        new BrokerDeliveryProcessor(tickMs, maxApplyPerTick), TimeMode.None(), OutputMode.Append())
  }

  /** Drift-broker (LIFO) processor: the per-partition (clock, pending
    * stack) in one `ValueState`. A ValueState, not a ListState, on
    * purpose: the stack mutates at its HEAD (every arrival prepends, every
    * drain pops), so the append-only ListState write pattern buys nothing
    * here — the value rewrite is the honest cost of LIFO state. The fold
    * is [[Streams.driftFold]].
    *
    * `ttlMs > 0` arms a processing-time timer re-registered on every
    * batch; if it fires with no new arrivals the stack drains to empty.
    * Bounded replays use a flush sentinel instead, so no wall clock enters
    * tests. */
  class DriftBrokerProcessor(tickMs: Long, maxApplyPerTick: Int, ttlMs: Long)
      extends StatefulProcessor[Int, graft.cdc.Consumer.DriftIn, graft.cdc.Consumer.BrokerOut] {
    @transient private var queue: org.apache.spark.sql.streaming.ValueState[Streams.DriftQueueState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      queue = getHandle.getValueState(
        "driftQueue", Encoders.product[Streams.DriftQueueState], TTLConfig.NONE)

    override def handleInputRows(
        part: Int, rows: Iterator[graft.cdc.Consumer.DriftIn],
        timerValues: TimerValues): Iterator[graft.cdc.Consumer.BrokerOut] = {
      val st = if (queue.exists()) queue.get() else Streams.DriftQueueState(0L, Seq.empty)
      val (next, out) = Streams.driftFold(part, st, rows.toSeq, tickMs, maxApplyPerTick)
      queue.update(next)
      if (ttlMs > 0) {
        // slide the idle deadline: drop the old timer, arm a fresh one
        getHandle.listTimers().foreach(getHandle.deleteTimer)
        getHandle.registerTimer(timerValues.getCurrentProcessingTimeInMs() + ttlMs)
      }
      out.iterator
    }

    override def handleExpiredTimer(
        part: Int, timerValues: TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[graft.cdc.Consumer.BrokerOut] = {
      val st = if (queue.exists()) queue.get() else Streams.DriftQueueState(0L, Seq.empty)
      val (_, out) = Streams.driftFold(part, st, Seq.empty, tickMs, maxApplyPerTick, flush = true)
      queue.clear()
      out.iterator
    }
  }

  /** Streaming exact drift-on (LIFO) broker delivery — the unbounded form
    * of `Consumer.brokerDeliverDriftExact`; [[Streams.driftFold]] states
    * why it is exact under arbitrary micro-batch boundaries. */
  def brokerDeliverDriftStream(
      events: Dataset[graft.cdc.Consumer.DriftIn],
      tickMs: Long = 50L,
      maxApplyPerTick: Int = 4,
      ttlMs: Long = 0L): Dataset[graft.cdc.Consumer.BrokerOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    val mode = timerMode(ttlMs)
    events
      .groupByKey(_.part)
      .transformWithState(
        new DriftBrokerProcessor(tickMs, maxApplyPerTick, ttlMs), mode, OutputMode.Append())
  }

  /** Schema-capture processor: the per-table monotone version counter in
    * one tiny `ValueState`; the versioning is [[Streams.schemaFold]]. */
  class SchemaCaptureProcessor
      extends StatefulProcessor[String, graft.cdc.SchemaEvolution.SchemaChange, Streams.VersionedSchemaChange] {
    @transient private var version: org.apache.spark.sql.streaming.ValueState[Streams.SchemaVersionState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      version = getHandle.getValueState(
        "schemaVersion", Encoders.product[Streams.SchemaVersionState], TTLConfig.NONE)

    override def handleInputRows(
        tbl: String, rows: Iterator[graft.cdc.SchemaEvolution.SchemaChange],
        timerValues: TimerValues): Iterator[Streams.VersionedSchemaChange] = {
      val v0 = if (version.exists()) version.get().version else 1
      val (v, out) = Streams.schemaFold(v0, rows.toSeq)
      version.update(Streams.SchemaVersionState(v))
      out.iterator
    }
  }

  /** Streaming schema-change capture: the unbounded form of
    * `SchemaEvolution.capture` — a per-table monotone version counter
    * (`bumpSchemaVersion`, `src/modes/logBased.ts:210-217`; destination max
    * rule `storage.ts:144-146`) carried across micro-batches. Per-lane
    * emission timing is a stateless projection on top
    * (`SchemaEvolution.captureLanes`' lane explode works unchanged on a
    * streaming frame). */
  def schemaCaptureStream(
      changes: Dataset[graft.cdc.SchemaEvolution.SchemaChange]): Dataset[Streams.VersionedSchemaChange] = {
    val spark = changes.sparkSession
    import spark.implicits._
    changes
      .groupByKey(_.tbl)
      .transformWithState(new SchemaCaptureProcessor, TimeMode.None(), OutputMode.Append())
  }

  /** SCD2 processor — the heaviest per-key state of the keyed family: the
    * OPEN dimension version plus the version counter. The step is
    * [[Streams.scd2Fold]].
    *
    * Expiry emits the OPEN version with [[Streams.ScdEvictedOpen]] as its
    * `validTo` (a silently dropped open row would be a dimension history
    * that never ends) and then REMOVES the state entirely — a re-appearing
    * key restarts its version counter at 1. One pending timer per key
    * (delete-before-register, the DriftBrokerProcessor discipline), slid on
    * every batch, so the timer fires only after a full TTL of silence. */
  class Scd2Processor(ttlMs: Long)
      extends StatefulProcessor[(String, String), Streams.ScdIn, Streams.ScdOut] {
    @transient private var st: org.apache.spark.sql.streaming.ValueState[Streams.ScdState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState(
        "scd2Open", Encoders.product[Streams.ScdState], TTLConfig.NONE)

    override def handleInputRows(
        key: (String, String), rows: Iterator[Streams.ScdIn],
        timerValues: TimerValues): Iterator[Streams.ScdOut] = {
      val start = if (st.exists()) Some(st.get()) else None
      val (next, out) = Streams.scd2Fold(start, rows.toSeq)
      next.foreach(st.update)
      if (ttlMs > 0) {
        getHandle.listTimers().foreach(getHandle.deleteTimer)
        getHandle.registerTimer(timerValues.getCurrentProcessingTimeInMs() + ttlMs)
      }
      out.iterator
    }

    override def handleExpiredTimer(
        key: (String, String), timerValues: TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[Streams.ScdOut] = {
      val evicted =
        if (st.exists()) {
          val p = st.get()
          if (p.open)
            Some(Streams.ScdOut(key._1, key._2, p.openVer, p.validFrom,
              Streams.ScdEvictedOpen, p.v, p.kk))
          else None
        } else None
      st.clear()
      evicted.iterator
    }
  }

  /** Streaming SCD Type-2 dimension builder — the incremental form of
    * [[graft.cdc.ApplyEngine.scd2]]: each arriving op emits the version it
    * closes (exactly once, in Append mode) and a non-delete opens the next.
    * The emitted feed equals the batch history's `is_current = false` rows
    * at any point — the open (current) versions live only in state. A
    * warehouse consuming this feed appends closed versions and maintains
    * current rows from [[applyStream]], so the dimension needs no rebuild
    * scan. */
  def scd2Stream(
      ops: Dataset[Streams.ScdIn],
      ttlMs: Long = 0L): Dataset[Streams.ScdOut] = {
    val spark = ops.sparkSession
    import spark.implicits._
    val mode = timerMode(ttlMs)
    ops
      .groupByKey(o => (o.tbl, o.pk))
      .transformWithState(new Scd2Processor(ttlMs), mode, OutputMode.Append())
  }

  /** Heartbeat processor: one (lsn, t) tuple per table; the step is
    * [[Streams.heartbeatFold]]. Expiry removes the tuple silently. */
  class HeartbeatProcessor(stallMs: Long, ttlMs: Long)
      extends StatefulProcessor[String, Streams.OpTick, Streams.StallOut] {
    @transient private var last: org.apache.spark.sql.streaming.ValueState[Streams.TickState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      last = getHandle.getValueState(
        "lastTick", Encoders.product[Streams.TickState], TTLConfig.NONE)

    override def handleInputRows(
        tbl: String, rows: Iterator[Streams.OpTick],
        timerValues: TimerValues): Iterator[Streams.StallOut] = {
      val start = if (last.exists()) Some(last.get()) else None
      val (next, out) = Streams.heartbeatFold(stallMs, start, rows.toSeq)
      next.foreach(last.update)
      if (ttlMs > 0) {
        getHandle.listTimers().foreach(getHandle.deleteTimer)
        getHandle.registerTimer(timerValues.getCurrentProcessingTimeInMs() + ttlMs)
      }
      out.iterator
    }

    override def handleExpiredTimer(
        tbl: String, timerValues: TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[Streams.StallOut] = {
      last.clear()
      Iterator.empty
    }
  }

  /** Streaming liveness monitor — the incremental form of
    * [[graft.cdc.Capture.heartbeatGaps]]' stall count: a
    * [[Streams.StallOut]] emitted exactly once per above-threshold gap, the
    * moment its closing tick arrives, so `count by tbl` over the emitted
    * stream equals the batch ledger's `n_stalls` at any point. */
  def heartbeatStream(
      ticks: Dataset[Streams.OpTick],
      stallMs: Long = 60000L,
      ttlMs: Long = 0L): Dataset[Streams.StallOut] = {
    val spark = ticks.sparkSession
    import spark.implicits._
    val mode = timerMode(ttlMs)
    ticks
      .groupByKey(_.tbl)
      .transformWithState(new HeartbeatProcessor(stallMs, ttlMs), mode, OutputMode.Append())
  }

  /** Budget-admission processor: one long (tokens consumed) per source,
    * declarative TTL; the step is [[Streams.budgetFold]]. */
  class BudgetProcessor(budgetPerSource: Long, ttl: TTLConfig)
      extends StatefulProcessor[String, Streams.BudgetIn, Streams.BudgetOut] {
    @transient private var used: org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      used = getHandle.getValueState("usedTokens", Encoders.scalaLong, ttl)

    override def handleInputRows(
        source: String, rows: Iterator[Streams.BudgetIn],
        timerValues: TimerValues): Iterator[Streams.BudgetOut] = {
      val start = if (used.exists()) Some(used.get()) else None
      val (next, out) = Streams.budgetFold(source, start, rows.toSeq, budgetPerSource)
      used.update(next)
      out.iterator
    }
  }

  /** Streaming per-source token-budget admission — the ingest-time quota
    * gate: one counter per source carried across micro-batches, so a
    * runaway feed is cut off at write time without global coordination.
    * Keyed by source, so it shards; a strict GLOBAL budget would serialize
    * the world through one key, so the curation-time global cut stays a
    * batch job ([[graft.llm.Corpus.tokenBudget]]). */
  def budgetAdmissionStream(
      rows: Dataset[Streams.BudgetIn],
      budgetPerSource: Long = 2000L,
      ttlMs: Long = 3600000L): Dataset[Streams.BudgetOut] = {
    val spark = rows.sparkSession
    import spark.implicits._
    val (ttl, mode) = ttlMode(ttlMs)
    rows
      .groupByKey(_.source)
      .transformWithState(new BudgetProcessor(budgetPerSource, ttl), mode, OutputMode.Append())
  }

  /** Row-apply processor (merge-upsert keyed by (tbl, pk)): one
    * `ValueState[RowState]` per live key; the step is
    * [[Streams.applyFold]]. Delete emits the tombstone and CLEARS the
    * state; TTL is declarative — expiry of an idle key's state is a silent
    * drop. */
  class ApplyProcessor(ttl: TTLConfig)
      extends StatefulProcessor[(String, String), Event, Streams.RowState] {
    @transient private var row: org.apache.spark.sql.streaming.ValueState[Streams.RowState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      row = getHandle.getValueState(
        "rowImage", Encoders.product[Streams.RowState], ttl)

    override def handleInputRows(
        key: (String, String), rows: Iterator[Event],
        timerValues: TimerValues): Iterator[Streams.RowState] = {
      val start = if (row.exists()) Some(row.get()) else None
      val next = Streams.applyFold(key, start, rows.toSeq)
      if (next.deleted) row.clear() else row.update(next)
      Iterator.single(next)
    }
  }

  /** Streaming merge-upsert apply keyed by (tbl, pk) — the unbounded form
    * of `ApplyEngine.applyState`: delete clears, partial payloads merge
    * (`src/domain/storage.ts:137-164`). Emits the post-image after each
    * micro-batch's events for the key (in lsn order within the batch);
    * deleted keys emit a `deleted = true` tombstone and drop their
    * state. */
  def applyStream(
      events: Dataset[Event],
      ttlMs: Long = 3600000L): Dataset[Streams.RowState] = {
    val spark = events.sparkSession
    import spark.implicits._
    val (ttl, mode) = ttlMode(ttlMs)
    events
      .groupByKey(e => (e.tbl, e.pk))
      .transformWithState(new ApplyProcessor(ttl), mode, OutputMode.Append())
  }

  /** Commit-floor processor: per txId a `ListState` buffer plus one
    * event-time timer at the transaction's release point. */
  class CommitFloorProcessor
      extends StatefulProcessor[String, Event, AssembledTxn] {
    @transient private var buf: ListState[Event] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      buf = getHandle.getListState("floorBuf", Encoders.product[Event], TTLConfig.NONE)

    private def assembled(txId: String, all: List[Event]): AssembledTxn = {
      val sorted = all.sortBy(e => (e.txIndex, e.lsn))
      AssembledTxn(txId, sorted.size, sorted.map(_.commitTs).max,
        sorted.map(_.lsn).min, sorted)
    }

    override def handleInputRows(
        txId: String, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[AssembledTxn] = {
      val incoming = rows.toList
      val all = buf.get().toList ++ incoming
      val commitTs = all.map(_.commitTs).max
      val wm = timerValues.getCurrentWatermarkInMs()
      getHandle.listTimers().foreach(getHandle.deleteTimer)
      if (Streams.txnComplete(all) && wm >= commitTs) {
        buf.clear()
        Iterator.single(assembled(txId, all))
      } else {
        buf.appendList(incoming.toArray)
        // hold until the floor (watermark) passes the commit; a timer
        // fires once the watermark REACHES it, hence the +1
        getHandle.registerTimer(math.max(commitTs, wm + 1) + 1)
        Iterator.empty
      }
    }

    override def handleExpiredTimer(
        txId: String, timerValues: TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[AssembledTxn] = {
      val all = buf.get().toList
      buf.clear()
      if (Streams.txnComplete(all)) Iterator.single(assembled(txId, all))
      else Iterator.empty
    }
  }

  /** Apply-on-commit with the commit floor as an event-time watermark
    * (`src/changefeed/model.ts:169-244`, SURVEY §2.9: the floor — min
    * commitTs over in-flight events — IS the watermark). Transactions
    * assemble per txId; a *complete* transaction is held in state until the
    * watermark passes its commitTs (drifted stragglers keep the watermark —
    * and therefore every commit-later txn — back), then emits. Incomplete
    * txns are dropped as soon as the watermark passes their max buffered
    * commitTs — no extra lateness beyond `watermarkDelay` is granted (the
    * txn's timer fires once the watermark passes
    * `max(commitTs, watermark + 1)`).
    *
    * Note: `txnComplete` counts duplicate deliveries toward `total`
    * (reference-faithful, `model.ts:178-186`), so at-least-once sources must
    * run [[Streams.dedupOffsets]] upstream of assembly.
    */
  def applyOnCommitStream(
      events: Dataset[Event],
      watermarkDelay: String = "10 seconds"): Dataset[AssembledTxn] = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, timestamp_millis}
    events
      .withColumn("event_time", timestamp_millis(col("commitTs")))
      .withWatermark("event_time", watermarkDelay)
      .as[Event]
      .groupByKey(_.txId)
      .transformWithState(new CommitFloorProcessor, TimeMode.EventTime(), OutputMode.Append())
  }
}
