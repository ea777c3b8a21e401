package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}

/** The record types and per-key folds of the streaming operators, plus the
  * streams that need no keyed state of their own.
  *
  * The batch-replay forms in `graft.cdc` are the deterministic oracles; the
  * keyed-state operators that are their unbounded-stream equivalents live in
  * [[StreamsV2]], one `transformWithState` processor each. Every processor's
  * semantics is a pure fold here — `(key, state, one micro-batch's rows) =>
  * (state, output)` — so FoldPropertiesSpec tests chop-invariance on the
  * functions alone and StreamingSpec / EventStreamSpec compare the running
  * processors against a per-batch replay of the same fold. The record and
  * state types are public case classes because Spark's encoders need their
  * accessors.
  *
  * [[pollStream]] and [[sessionStream]] are native windowed aggregates and
  * [[dedupOffsets]] is `dropDuplicatesWithinWatermark`: Spark's own state
  * machinery runs them.
  */
object Streams {

  /** A change event on the wire (subset of the Debezium-style envelope,
    * `sim/core/types.ts:42-54`). */
  case class Event(
      txId: String, txIndex: Int, txTotal: Int, last: Boolean,
      tbl: String, pk: String, opCode: String,
      setsVal: Boolean, valV: Option[Double], setsK: Boolean, kV: Option[Long],
      commitTs: Long, lsn: Long)

  /** Txn completion (`src/changefeed/model.ts:176-205`): complete when the
    * declared event count has arrived. The `last` flag alone is NOT
    * completion — under broker drift the last-indexed event can arrive
    * first, and trusting it would emit a truncated transaction and orphan
    * its late siblings. `last` only decides when the total is unknown
    * (unknowable-total streams mark completion explicitly). */
  private[streaming] def txnComplete(buf: Seq[Event]): Boolean = {
    val total = buf.headOption.map(_.txTotal).getOrElse(Int.MaxValue)
    if (total > 0 && total != Int.MaxValue) buf.size >= total
    else buf.exists(_.last)
  }

  /** An assembled transaction ready to apply atomically. */
  case class AssembledTxn(
      txId: String, nEvents: Int, commitTs: Long, firstLsn: Long,
      events: Seq[Event])

  /** Materialized destination row emitted by the streaming apply. */
  case class RowState(
      tbl: String, pk: String, valV: Option[Double], kV: Option[Long],
      version: Long, deleted: Boolean, lastLsn: Long = 0L)

  /** One apply step for a batch of same-key events — the fold of
    * [[StreamsV2.applyStream]]: events process in lsn order, delete
    * resets to a tombstone, partial payloads merge over the current
    * image. */
  def applyFold(key: (String, String), start: Option[RowState],
      incoming: Seq[Event]): RowState = {
    val init = start.getOrElse(
      RowState(key._1, key._2, None, None, 0L, deleted = true))
    incoming.sortBy(_.lsn).foldLeft(init) { (cur, e) =>
      if (e.opCode == "d")
        RowState(key._1, key._2, None, None, 0L, deleted = true, lastLsn = e.lsn)
      else {
        val base = if (cur.deleted) RowState(key._1, key._2, None, None, 0L, deleted = false) else cur
        base.copy(
          valV = if (e.setsVal) e.valV else base.valV,
          kV = if (e.setsK) e.kV else base.kV,
          version = base.version + 1,
          deleted = false,
          lastLsn = e.lsn)
      }
    }
  }

  /** Streaming polling capture (`sim/engines/PollingEngine.ts:59-84` as an
    * unbounded stream): tumbling event-time windows of `pollIntervalMs` per
    * key, emitting only the latest state per (key, window) once the
    * watermark closes the window — the poll's lossy-by-design semantics
    * (intermediate versions never leave the aggregation). Uses windowed
    * `max_by` on event time, so state per key-window is O(1).
    */
  def pollStream(
      events: Dataset[Event],
      pollIntervalMs: Long = 1000L,
      watermarkDelay: String = "10 seconds"): DataFrame = {
    import org.apache.spark.sql.functions._
    val interval = s"$pollIntervalMs milliseconds"
    events
      .withColumn("event_time", timestamp_millis(col("commitTs")))
      .withWatermark("event_time", watermarkDelay)
      .groupBy(window(col("event_time"), interval), col("tbl"), col("pk"))
      .agg(
        max_by(struct(col("opCode"), col("valV"), col("kV"), col("lsn")), col("lsn")).as("latest"),
        count(lit(1)).as("ops_in_window"))
      .select(
        col("tbl"), col("pk"),
        col("window.end").as("poll_ts"),
        col("latest.opCode").as("op_code"),
        col("latest.valV").as("after_val"),
        col("latest.kV").as("after_k"),
        col("ops_in_window"))
  }

  /** Exactly-once ingestion dedup (`consumer.mjs:122-143` offset-dedup):
    * drop replayed events by (topic, partition, offset) within the watermark
    * — `dropDuplicatesWithinWatermark` keyed on the offset triple. `df` must
    * carry an event-time column already watermarked by the caller.
    */
  def dedupOffsets[T](ds: Dataset[T], cols: Seq[String]): Dataset[T] =
    ds.dropDuplicatesWithinWatermark(cols)

  /** Token-bucket carry-over state for the streaming throttle. */
  case class ThrottleState(tick: Long, allowance: Double, usedThisTick: Int)

  /** One micro-batch step of the token-bucket drain: fold `incoming`
    * (any order; sorted internally) through the bucket, returning the
    * carried state and the drained events ([[StreamsV2.throttleStream]]). */
  def throttleFold(
      st: ThrottleState,
      incoming: Seq[graft.cdc.Consumer.DeliveryIn],
      rate: Double, stepMs: Long, batchCap: Int)
      : (ThrottleState, Seq[graft.cdc.Consumer.DeliveryOut]) = {
    val cap = 5 * rate
    val perTick = rate * stepMs / 1000.0
    var tick = st.tick
    var allowance = st.allowance
    var used = st.usedThisTick
    val out = incoming.sortBy(e => (e.availableAt, e.seq)).map { e =>
      val needTick = Math.floorDiv(e.availableAt - 1, stepMs) + 1
      if (needTick > tick) {
        allowance = math.min(allowance + perTick * (needTick - tick), cap)
        tick = needTick
        used = 0
      }
      while (allowance < 1.0 || used >= batchCap) {
        tick += 1
        allowance = math.min(allowance + perTick, cap)
        used = 0
      }
      allowance -= 1
      used += 1
      graft.cdc.Consumer.DeliveryOut(e.method, e.seq, e.availableAt, tick, tick * stepMs)
    }
    (ThrottleState(tick, allowance, used), out)
  }

  /** Per-partition queue state for the streaming broker delivery. */
  case class BrokerQueueState(tick: Long, usedThisTick: Int)

  /** One micro-batch step of the FIFO broker delivery: fold `incoming` (any
    * order; sorted by lsn internally — the enqueue order) through the
    * per-partition (tick, used) queue state
    * ([[StreamsV2.brokerDeliverStream]]). */
  def brokerFold(
      part: Int,
      st: BrokerQueueState,
      incoming: Seq[graft.cdc.Consumer.BrokerIn],
      tickMs: Long, maxApplyPerTick: Int)
      : (BrokerQueueState, Seq[graft.cdc.Consumer.BrokerOut]) = {
    var tick = st.tick
    var used = st.usedThisTick
    val out = incoming.sortBy(_.lsn).map { e =>
      val availTick = Math.floorDiv(e.availableAt - 1, tickMs) + 1
      if (availTick > tick) { tick = availTick; used = 0 }
      if (used >= maxApplyPerTick) { tick += 1; used = 0 }
      used += 1
      graft.cdc.Consumer.BrokerOut(
        e.part, e.lsn, e.availableAt, e.dropped, tick, tick * tickMs)
    }
    (BrokerQueueState(tick, used), out)
  }

  /** A pending drift-broker stack entry (public for the state encoder). */
  case class DriftEntry(lsn: Long, t: Long, availableAt: Long, dropped: Boolean)

  /** Drift-broker queue state: the simulation clock plus the pending LIFO
    * stack (head first). Stack size is bounded by the partition backlog —
    * the same bound the reference's in-memory queue carries. */
  case class DriftQueueState(tick: Long, stack: Seq[DriftEntry])

  /** One micro-batch step of the drift-broker LIFO drain — the fold of
    * [[StreamsV2.brokerDeliverDriftStream]], the unbounded form of
    * `Consumer.brokerDeliverDriftExact` (`model.ts:141-149,246-263`): with
    * commit drift every event is spliced into the queue FRONT, so pending
    * events form a LIFO stack and a drifted head blocks older events. The
    * per-partition (clock, stack) carries in keyed state across
    * micro-batches.
    *
    * A batch can only simulate ticks strictly BEFORE its own latest arrival
    * tick — a later micro-batch may still deliver arrivals for that tick,
    * and they would stack on top and change what pops — so the final tick's
    * arrivals are pushed pending and its drain defers to the next batch.
    * That makes the fold exact under ARBITRARY micro-batch boundaries (the
    * only requirement is per-partition lsn-ordered arrival, the broker's
    * own guarantee — same as [[brokerFold]]). The tail of the stream stays
    * pending until either (a) the operator's idle TTL fires with no new
    * arrivals and drains the stack to empty, or (b) a bounded replay
    * appends a flush sentinel (an event with `t` past every real arrival);
    * tests use (b) so no timer wall-clock enters the assertion.
    * Returns the carried (clock, stack) state; `flush = true` means no more
    * arrivals are coming: drain to empty. */
  def driftFold(
      part: Int,
      st: DriftQueueState,
      incomingAnyOrder: Seq[graft.cdc.Consumer.DriftIn],
      tickMs: Long, maxApplyPerTick: Int,
      flush: Boolean = false)
      : (DriftQueueState, Seq[graft.cdc.Consumer.BrokerOut]) = {
    def tickOf(x: Long) = Math.floorDiv(x - 1, tickMs) + 1
    val stack = scala.collection.mutable.ArrayDeque.from(st.stack)
    var tick = st.tick
    val out = scala.collection.mutable.ArrayBuffer.empty[graft.cdc.Consumer.BrokerOut]
    // simulate ticks ≤ maxTick; returns how many arrivals were consumed
    def drainUpTo(maxTick: Long, arrivals: IndexedSeq[graft.cdc.Consumer.DriftIn]): Int = {
      var i = 0
      var continue = true
      while (continue) {
        val nextArr = if (i < arrivals.length) tickOf(arrivals(i).t) else Long.MaxValue
        val nextDrain =
          if (stack.nonEmpty) math.max(tick + 1, tickOf(stack.head.availableAt))
          else Long.MaxValue
        val T = math.min(nextArr, nextDrain)
        if (T > maxTick) continue = false
        else {
          while (i < arrivals.length && tickOf(arrivals(i).t) <= T) {
            val e = arrivals(i)
            stack.prepend(DriftEntry(e.lsn, e.t, e.availableAt, e.dropped))
            i += 1
          }
          var used = 0
          while (stack.nonEmpty && used < maxApplyPerTick &&
              tickOf(stack.head.availableAt) <= T) {
            val e = stack.removeHead()
            out += graft.cdc.Consumer.BrokerOut(
              part, e.lsn, e.availableAt, e.dropped, T, T * tickMs)
            used += 1
          }
          tick = T
        }
      }
      i
    }
    if (flush) {
      drainUpTo(Long.MaxValue - 1, IndexedSeq.empty)
      (DriftQueueState(tick, Seq.empty), out.toSeq)
    } else {
      val arrivals = incomingAnyOrder.toIndexedSeq.sortBy(_.lsn)
      if (arrivals.nonEmpty) {
        val consumed = drainUpTo(arrivals.map(e => tickOf(e.t)).max - 1, arrivals)
        // the final tick's arrivals were not consumed by the loop: push
        // them pending in lsn order (each lands on top, newest at the
        // head); their drain belongs to the next batch, which may still
        // add same-tick arrivals above them
        arrivals.drop(consumed).foreach { e =>
          stack.prepend(DriftEntry(e.lsn, e.t, e.availableAt, e.dropped))
        }
      }
      (DriftQueueState(tick, stack.toSeq), out.toSeq)
    }
  }

  /** A consumed-lag sample in lane delivery order. */
  case class LagSample(method: String, ord1: Long, ord2: Long, lagMs: Long)

  /** Rolling-percentile snapshot emitted after each micro-batch per lane. */
  case class LagSnapshot(method: String, p50: Double, p95: Double, maxLag: Long, windowN: Int)

  /** Ring-buffer state: the last ≤ N lag samples in delivery order. */
  case class LagRingState(samples: Seq[Long])

  /** Exact interpolating percentile over a sorted sample array — the
    * reference's `percentile` (`src/engine/metrics.ts:131-139`:
    * `index = (n-1)·p`, linear interpolation between floor and ceil; same
    * definition as Spark's `percentile` and DuckDB's `quantile_cont`). */
  private[streaming] def percentile(sorted: IndexedSeq[Long], p: Double): Double = {
    val idx = (sorted.length - 1) * p
    val lo = math.floor(idx).toInt
    val hi = math.ceil(idx).toInt
    if (lo == hi) sorted(lo).toDouble
    else sorted(lo) + (idx - lo) * (sorted(hi) - sorted(lo))
  }

  /** A schema change with its version transition assigned. */
  case class VersionedSchemaChange(
      tbl: String, action: String, column: String, commitTs: Long,
      prevVersion: Int, nextVersion: Int, kind: String)

  /** Per-table version counter state (public for the state encoder). */
  case class SchemaVersionState(version: Int)

  /** One micro-batch step of the per-table version counter
    * ([[StreamsV2.schemaCaptureStream]]): changes apply in the batch form's
    * deterministic (commitTs, column) order. */
  def schemaFold(
      version: Int,
      incoming: Seq[graft.cdc.SchemaEvolution.SchemaChange])
      : (Int, Seq[VersionedSchemaChange]) = {
    var v = version
    val out = incoming.sortBy(c => (c.commitTs, c.column)).map { c =>
      val prev = v
      v += 1
      VersionedSchemaChange(
        c.tbl, c.action, c.column, c.commitTs, prev, v,
        if (c.action == "ADD_COLUMN") "SCHEMA_ADD_COL" else "SCHEMA_DROP_COL")
    }
    (v, out)
  }

  /** One tagged row of an as-of stream: build rows (`isBuild`) carry the
    * lookup value, probe rows get enriched. */
  case class AsOfIn(key: Long, ts: Long, isBuild: Boolean, id: Long)

  /** Enriched probe row: the latest build id/ts at-or-before the probe. */
  case class AsOfOut(key: Long, ts: Long, id: Long,
      matchId: Option[Long], matchTs: Option[Long])

  /** Latest build row seen per key. */
  case class AsOfState(ts: Long, id: Long)

  /** The in-batch as-of fold of [[StreamsV2.asOfStream]]: rows sort
    * in (ts, tag) order with builds first on ties — inclusive as-of,
    * matching the batch form's window order — and the latest build carries
    * forward. Returns (next state, enriched probes). */
  def asOfFold(
      key: Long,
      start: Option[AsOfState],
      incoming: Seq[AsOfIn]): (Option[AsOfState], Seq[AsOfOut]) = {
    val ordered = incoming.sortBy(r => (r.ts, r.isBuild, r.id))(
      Ordering.Tuple3(Ordering.Long, Ordering.Boolean.reverse, Ordering.Long))
    var latest = start
    val out = Seq.newBuilder[AsOfOut]
    ordered.foreach { r =>
      if (r.isBuild) {
        // equal-ts builds: larger id wins, same as the batch dedup
        if (latest.forall(s => r.ts > s.ts || (r.ts == s.ts && r.id >= s.id)))
          latest = Some(AsOfState(r.ts, r.id))
      } else {
        out += AsOfOut(key, r.ts, r.id, latest.map(_.id), latest.map(_.ts))
      }
    }
    (latest, out.result())
  }

  /** A document arriving at the ingest gate: (source, doc id, token count). */
  case class BudgetIn(source: String, docId: Long, nTokens: Long)

  /** Budget-gate verdict: the running per-source token total INCLUDING this
    * doc, and whether it still fits the source's budget. */
  case class BudgetOut(
      source: String, docId: Long, nTokens: Long,
      cumSourceTokens: Long, admitted: Boolean)

  /** One budget step: fold a batch of same-source arrivals (docId order —
    * the arrival order contract every fold here shares) onto the running
    * token total. `used` counts ALL arrived tokens, admitted or not, so the
    * verdict matches the batch window form (`Corpus.sourceBudget`) exactly:
    * admitted ⇔ cum ≤ budget. Deterministic: chopped == one-shot on
    * docId-ordered feeds (FoldPropertiesSpec). */
  def budgetFold(
      key: String,
      start: Option[Long],
      incoming: Seq[BudgetIn],
      budget: Long): (Long, Seq[BudgetOut]) = {
    var used = start.getOrElse(0L)
    val out = incoming.sortBy(_.docId).map { r =>
      used += r.nTokens
      BudgetOut(key, r.docId, r.nTokens, used, used <= budget)
    }
    (used, out)
  }

  // ─────────────────── event analytics (funnel / retention / …) ──────────

  /** A product event on the stream: user, type, event time in millis
    * (the batch forms read `ts div 1000000` off the nanos column —
    * [[graft.operators.EventAnalytics]]). */
  case class EventIn(userId: Long, eventType: String, tMs: Long)

  /** A funnel advance: `userId` first completed `stage` (1-based) at
    * `tMs`. Each (user, stage) emits AT MOST ONCE, so
    * `count(*) group by stage` over the emitted stream equals the batch
    * funnel's per-step `n_users` at any point in time. */
  case class FunnelAdvance(userId: Long, stage: Int, stageName: String,
      tMs: Long)

  /** Per-user funnel state: first-completion time of each reached stage
    * (a ≤ |steps|-element prefix — bounded by construction). */
  case class FunnelProgress(times: Seq[Long])

  /** One funnel step for a batch of same-user events — the fold of
    * [[StreamsV2.funnelStream]]. First-touch
    * semantics on ORDERED ARRIVALS (events non-decreasing in `tMs` across
    * the feed — the same arrival-order contract [[budgetFold]] states):
    * stage k+1 completes at the first step-(k+1) event STRICTLY after
    * stage k's completion, which on a time-ordered replay is exactly the
    * batch form's `min t > c_k` — so chopped == one-shot and
    * stream == batch hold on ordered feeds (EventStreamSpec). A feed with
    * genuine cross-batch time travel needs the batch funnel re-run; the
    * watermark drills ([[graft.cdc.Capture.watermarkCurve]]) quantify how
    * much of such a feed a lateness allowance would rescue. */
  def funnelFold(
      steps: Seq[String],
      start: Option[FunnelProgress],
      incoming: Seq[EventIn]): (FunnelProgress, Seq[FunnelAdvance]) = {
    var times = start.map(_.times.toVector).getOrElse(Vector.empty)
    val out = scala.collection.mutable.ArrayBuffer.empty[FunnelAdvance]
    incoming.sortBy(e => (e.tMs, e.eventType)).foreach { e =>
      val reached = times.length
      if (reached < steps.length && e.eventType == steps(reached) &&
          (reached == 0 || e.tMs > times.last)) {
        times = times :+ e.tMs
        out += FunnelAdvance(e.userId, reached + 1, steps(reached), e.tMs)
      }
    }
    (FunnelProgress(times), out.toSeq)
  }

  /** An observed transition: `userId` went `fromType` → `toType` at
    * `tMs` (the destination event's time). `count(*) group by fromType,
    * toType` over the emitted stream equals the batch
    * [[graft.operators.EventAnalytics.transitions]] pair counts at any
    * point in time. */
  case class TransitionOut(
      userId: Long, fromType: String, toType: String, tMs: Long)

  /** Per-user transition state: the PREVIOUS event — all the state a
    * first-order Markov ledger ever needs (one tuple per user). */
  case class LastEvent(eventType: String, tMs: Long, eventId: Long)

  /** One transition step for a batch of same-user events — fold
    * of [[StreamsV2.transitionsStream]]. Events process in
    * (tMs, eventId) order (the batch form's total order); each event
    * after the first emits the (previous → current) pair. Chopped ==
    * one-shot on ordered arrivals, the [[funnelFold]] contract. */
  def transitionsFold(
      userId: Long,
      start: Option[LastEvent],
      incoming: Seq[(Long, String, Long)]): (Option[LastEvent], Seq[TransitionOut]) = {
    var last = start
    val out = scala.collection.mutable.ArrayBuffer.empty[TransitionOut]
    incoming.sortBy { case (id, _, t) => (t, id) }.foreach { case (id, ty, t) =>
      last.foreach(p => out += TransitionOut(userId, p.eventType, ty, t))
      last = Some(LastEvent(ty, t, id))
    }
    (last, out.toSeq)
  }

  /** A retention mark: `userId` (cohort of `cohortDay`) was active on
    * `cohortDay + dayOffset`. Each (user, day) emits AT MOST ONCE, so
    * `count(*) group by cohortDay, dayOffset` over the emitted stream
    * equals the batch matrix's `n_active`, and the `dayOffset = 0` row
    * is the cohort size (the signup event itself marks its user active
    * that day). */
  case class RetentionMark(userId: Long, cohortDay: Long, dayOffset: Long)

  /** Per-user retention state. `cohortDay < 0` = no signup seen yet;
    * `emitted` = days already marked (the minimal state ANY exact
    * streaming retention needs — one entry per distinct active day,
    * TTL-bounded); `pending` = active days seen BEFORE the signup
    * arrived (an activity earlier the same day must still count toward
    * offset 0 once the signup lands — the ordering edge the batch form
    * never sees). */
  case class RetentionState(
      cohortDay: Long, emitted: Seq[Long], pending: Seq[Long])

  /** One retention step for a batch of same-user events — fold of
    * [[StreamsV2.retentionStream]]. Cohort day = the user's FIRST
    * signup day (on time-ordered arrivals that is the batch `min`); any
    * active day ≥ cohort day emits once. Within a batch, arrival order
    * does not matter (sets, not sequences); across batches the ordered-
    * arrival contract of [[funnelFold]] applies to the signup only. */
  def retentionFold(
      userId: Long,
      start: Option[RetentionState],
      incoming: Seq[EventIn]): (RetentionState, Seq[RetentionMark]) = {
    val dayMs = 86400000L
    val st = start.getOrElse(RetentionState(-1L, Seq.empty, Seq.empty))
    var cohort = st.cohortDay
    val emitted = scala.collection.mutable.Set[Long](st.emitted: _*)
    val pending = scala.collection.mutable.Set[Long](st.pending: _*)
    incoming.foreach { e =>
      val day = Math.floorDiv(e.tMs, dayMs)
      if (e.eventType == "signup" && (cohort < 0 || day < cohort)) cohort = day
      pending += day
    }
    val out =
      if (cohort < 0) Seq.empty
      else {
        val fresh = pending.toSeq.sorted
          .filter(d => d >= cohort && !emitted.contains(d))
        fresh.foreach(emitted += _)
        pending.clear()
        fresh.map(d => RetentionMark(userId, cohort, d - cohort))
      }
    (RetentionState(cohort, emitted.toSeq.sorted,
      if (cohort < 0) pending.toSeq.sorted else Seq.empty), out)
  }

  /** A daily-activity mark: `userId` was active on `day` (epoch days),
    * `isNew` iff that day is the user's first-ever active day. Each
    * (user, day) emits AT MOST ONCE, so over the emitted stream
    * `count(*) group by day` is the DAU series and `count(isNew)` the
    * new-user count — the batch
    * [[graft.operators.EventAnalytics.newVsReturning]] ledger becomes an
    * append-only per-day aggregate instead of a re-scan of all history. */
  case class DayActive(userId: Long, day: Long, isNew: Boolean)

  /** Per-user activity state: the distinct active-day set (bounded by the
    * calendar — the same argument that bounds the batch window frames),
    * sorted ascending so `days.head` is the first-ever day.
    * `everActive` survives TTL eviction as a tombstone (the day set is
    * dropped, the one boolean stays) so a re-appearing user is never
    * re-counted as `new` — without it, eviction would reset the fold to
    * first-contact and inflate `new_users` by one per evicted returnee.
    *
    * State-schema evolution: with the Avro state encoding (StateSchemaV3)
    * a processor can add a NULLABLE state field and resume the same
    * checkpoint, old rows decoding with the field defaulted; under the
    * default UnsafeRow encoding the resume fails loudly and needs a fresh
    * checkpoint (both pinned by the FailureDrillSpec schema-evolution
    * drills). */
  case class ActivityState(days: Seq[Long], everActive: Boolean = true)

  /** One DAU step for a batch of same-user events — fold of
    * [[StreamsV2.activityStream]]. Within a batch arrival order does
    * not matter (day sets); across batches the ordered-arrival contract
    * of [[funnelFold]] applies: a day earlier than the recorded first
    * would re-write history the batch `min` already settled, so feeds
    * are time-ordered (the same contract every fold in this file rides). */
  def activityFold(
      userId: Long,
      start: Option[ActivityState],
      incoming: Seq[EventIn]): (ActivityState, Seq[DayActive]) = {
    val dayMs = 86400000L
    val seen = scala.collection.mutable.Set[Long](
      start.map(_.days).getOrElse(Seq.empty): _*)
    // a post-eviction tombstone has an empty day set but everActive=true:
    // the user is known history, so no day of theirs is ever `new` again
    val hadAny = start.exists(s => s.everActive || s.days.nonEmpty)
    val fresh = incoming.map(e => Math.floorDiv(e.tMs, dayMs)).distinct
      .filterNot(seen.contains).sorted
    fresh.foreach(seen += _)
    val out = fresh.zipWithIndex.map { case (d, i) =>
      DayActive(userId, d, isNew = !hadAny && i == 0)
    }
    (ActivityState(seen.toSeq.sorted), out)
  }

  /** A growth-accounting mark: in `week`, `userId` classified as `kind`
    * (`new` / `retained` / `resurrected` / `churned` — churned rows carry
    * the week the user went MISSING, the batch attribution). Conditional
    * counts per week over the emitted stream equal the event-driven rows
    * of [[graft.operators.EventAnalytics.growthAccounting]]; the
    * trailing silent-churn rows (users who never return) additionally
    * need a clock — they emit on TTL eviction ([[StreamsV2.growthStream]]'s
    * timer path), the same evidence a batch re-run would only gain
    * from a later max-week. */
  case class GrowthMark(userId: Long, week: Long, kind: String)

  /** Per-user growth state: the last active week, plus whether a
    * `churned` mark for this user is already on the stream (set by the
    * TTL-eviction path). The tombstone keeps (lastWeek, churned=true)
    * past eviction so a returning user classifies as `resurrected` —
    * consistent with the churn already emitted — never as a second
    * `new`, which is what a bare state removal would produce (state-schema
    * evolution: see [[ActivityState]]). */
  case class GrowthState(lastWeek: Long, churned: Boolean = false)

  /** One growth step for a batch of same-user events — fold of
    * [[StreamsV2.growthStream]]. Weeks process ascending (ordered-
    * arrival contract): first-ever week emits `new`, consecutive weeks
    * `retained`, a gap emits `churned` AT lastWeek+1 (the week the user
    * went missing) plus `resurrected` at the return week — exactly the
    * batch lag/lead classification, incrementally. */
  def growthFold(
      userId: Long,
      start: Option[GrowthState],
      incoming: Seq[EventIn]): (GrowthState, Seq[GrowthMark]) = {
    val weekMs = 7L * 86400000L
    var last = start.map(_.lastWeek).getOrElse(-1L)
    // churned=true: the TTL path already put this user's churn mark on
    // the stream — the next activity is a resurrection (at ANY later
    // week, even lastWeek+1: the append-only stream cannot retract the
    // eviction-time churn, so the consistent classification is
    // churn → resurrected, exactly the pair a real gap emits)
    var churnOut = start.exists(_.churned)
    val out = scala.collection.mutable.ArrayBuffer.empty[GrowthMark]
    incoming.map(e => Math.floorDiv(e.tMs, weekMs)).distinct.sorted.foreach { w =>
      if (last < 0) out += GrowthMark(userId, w, "new")
      else if (w == last) ()
      else if (churnOut && w > last) {
        out += GrowthMark(userId, w, "resurrected")
        churnOut = false
      }
      else if (w == last + 1) out += GrowthMark(userId, w, "retained")
      else if (w > last + 1) {
        out += GrowthMark(userId, last + 1, "churned")
        out += GrowthMark(userId, w, "resurrected")
      }
      if (w > last) last = w
    }
    (GrowthState(last, churnOut), out.toSeq)
  }

  /** An attributed purchase on the stream: `userId` bought for
    * `valueTicks` (value × 100, exact money) at `tMs`, credited to
    * `channel` — the latest prior touch type, or "direct". Summing
    * (count, ticks) per channel over the emitted stream equals the batch
    * [[graft.operators.EventAnalytics.attribution]] ledger (ticks / 100
    * = the DECIMAL(18,2) revenue) at any point in time. */
  case class AttributionOut(
      userId: Long, channel: String, valueTicks: Long, tMs: Long)

  /** An attribution event: id for the (tMs, eventId) total order, type,
    * time, and value in integer ticks (×100). */
  case class AttrIn(eventId: Long, userId: Long, eventType: String,
      tMs: Long, valueTicks: Long)

  /** One attribution step for a batch of same-user events — fold
    * of [[StreamsV2.attributionStream]]. Events process in
    * (tMs, eventId) order (the batch window's total order): a touch
    * updates the carried channel, a purchase emits credited to the
    * carried channel BEFORE this event — exactly the batch form's
    * rows-(-∞,-1) frame, so a purchase tying a touch's timestamp is
    * credited iff the touch's eventId is lower. Chopped == one-shot on
    * ordered arrivals ([[funnelFold]] contract). */
  def attributionFold(
      userId: Long,
      touchTypes: Set[String],
      start: Option[LastEvent],
      incoming: Seq[AttrIn]): (Option[LastEvent], Seq[AttributionOut]) = {
    var lastTouch = start
    val out = scala.collection.mutable.ArrayBuffer.empty[AttributionOut]
    incoming.sortBy(e => (e.tMs, e.eventId)).foreach { e =>
      if (e.eventType == "purchase")
        out += AttributionOut(userId,
          lastTouch.map(_.eventType).getOrElse("direct"), e.valueTicks, e.tMs)
      if (touchTypes.contains(e.eventType))
        lastTouch = Some(LastEvent(e.eventType, e.tMs, e.eventId))
    }
    (lastTouch, out.toSeq)
  }

  /** A running RFM snapshot for one user: last purchase day, purchase
    * count, and exact money in integer ticks (×100). The LATEST mark per
    * user, joined with a reference "now" day of the consumer's choosing,
    * reproduces the batch [[graft.operators.EventAnalytics.rfm]] row
    * (recency = refDay − lastDay; the 1..3 scores are a deterministic
    * projection of these three numbers) — recency is deliberately NOT
    * baked into the mark because it is a property of the reference
    * clock, not of the user's history. */
  case class RfmMark(
      userId: Long, lastDay: Long, frequency: Long, monetaryTicks: Long)

  /** Per-user RFM state: the three running totals behind [[RfmMark]]. */
  case class RfmState(lastDay: Long, frequency: Long, ticks: Long)

  /** One RFM step for a batch of same-user events — fold of
    * [[StreamsV2.rfmStream]]. Only purchases move the totals; a
    * batch with ≥1 purchase emits ONE superseding mark (marks are
    * snapshots, not deltas — the consumer keeps the latest per user,
    * which makes replay after an exactly-once sink upsert idempotent).
    * max/count/sum are in-batch order free; across batches the
    * ordered-arrival contract of [[funnelFold]] applies. */
  def rfmFold(
      userId: Long,
      start: Option[RfmState],
      incoming: Seq[AttrIn]): (Option[RfmState], Seq[RfmMark]) = {
    val dayMs = 86400000L
    val buys = incoming.filter(_.eventType == "purchase")
    if (buys.isEmpty) (start, Seq.empty)
    else {
      val s = start.getOrElse(RfmState(Long.MinValue, 0L, 0L))
      val next = RfmState(
        math.max(s.lastDay, buys.map(e => Math.floorDiv(e.tMs, dayMs)).max),
        s.frequency + buys.size,
        s.ticks + buys.map(_.valueTicks).sum)
      (Some(next),
        Seq(RfmMark(userId, next.lastDay, next.frequency, next.ticks)))
    }
  }

  /** One cohort-LTV mark: `entry=true` announces the user joining the
    * `cohortDay` cohort (counting these per cohort gives the batch
    * `cohort_size`); `entry=false` is one attributed purchase at
    * `weekOffset` weeks since signup worth `valueTicks`. Aggregating
    * purchase marks per (cohortDay, weekOffset) — count, Σticks/100,
    * running Σ over the week axis, divided by the entry count —
    * reproduces the batch
    * [[graft.operators.EventAnalytics.cohortLtv]] triangle at any point
    * in time. */
  case class LtvMark(userId: Long, cohortDay: Long, weekOffset: Long,
      valueTicks: Long, entry: Boolean)

  /** Per-user LTV state: the signup cohort day (−1 = no signup seen). */
  case class LtvState(cohortDay: Long)

  /** One cohort-LTV step for a batch of same-user events — fold
    * of [[StreamsV2.ltvStream]]. The cohort day settles FIRST from
    * the batch's earliest signup (in-batch order free, like
    * [[activityFold]]), then purchases with day ≥ cohortDay emit one
    * mark each — the batch form's `_pd >= cohort_day` filter applied at
    * day granularity. A purchase arriving before ANY signup of its user
    * drops, exactly like the batch inner join drops purchasers who
    * never signed up; ordered arrival ([[funnelFold]] contract) makes
    * the two forms agree for users who did. */
  def ltvFold(
      userId: Long,
      start: Option[LtvState],
      incoming: Seq[AttrIn]): (LtvState, Seq[LtvMark]) = {
    val dayMs = 86400000L
    var cohort = start.map(_.cohortDay).getOrElse(-1L)
    val out = scala.collection.mutable.ArrayBuffer.empty[LtvMark]
    val sigDays = incoming.filter(_.eventType == "signup")
      .map(e => Math.floorDiv(e.tMs, dayMs))
    if (cohort < 0 && sigDays.nonEmpty) {
      cohort = sigDays.min
      out += LtvMark(userId, cohort, 0L, 0L, entry = true)
    }
    if (cohort >= 0)
      incoming.filter(_.eventType == "purchase").foreach { e =>
        val d = Math.floorDiv(e.tMs, dayMs)
        if (d >= cohort)
          out += LtvMark(userId, cohort, (d - cohort) / 7, e.valueTicks,
            entry = false)
      }
    (LtvState(cohort), out.toSeq)
  }

  /** One heartbeat tick of a capture lane: table, lsn, event time. */
  case class OpTick(tbl: String, lsn: Long, t: Long)

  /** An observed stall: the gap between consecutive ticks of `tbl` in
    * lsn order exceeded the threshold; emitted the moment the closing
    * tick arrives. */
  case class StallOut(tbl: String, fromLsn: Long, toLsn: Long, gapMs: Long)

  /** Last tick seen per table — all the state the stall monitor needs. */
  case class TickState(lsn: Long, t: Long)

  /** One monitor step for a batch of same-table ticks — the fold
    * of [[StreamsV2.heartbeatStream]]. Ticks process in lsn order
    * (the batch form's total order); chopped == one-shot on
    * lsn-ordered feeds (the [[transitionsFold]] contract). */
  def heartbeatFold(
      stallMs: Long,
      start: Option[TickState],
      incoming: Seq[OpTick]): (Option[TickState], Seq[StallOut]) = {
    var last = start
    val out = scala.collection.mutable.ArrayBuffer.empty[StallOut]
    incoming.sortBy(_.lsn).foreach { tick =>
      last.foreach { l =>
        if (tick.t - l.t > stallMs)
          out += StallOut(tick.tbl, l.lsn, tick.lsn, tick.t - l.t)
      }
      last = Some(TickState(tick.lsn, tick.t))
    }
    (last, out.toSeq)
  }

  /** One CDC op for the SCD2 builder: the partial payload (`setsVal`/
    * `setsK` mirror the ops feed's `sets_val`/`sets_k`). */
  case class ScdIn(tbl: String, pk: String, lsn: Long, t: Long, op: String,
      setsVal: Boolean, v: Double, setsK: Boolean, kk: Long)

  /** A CLOSED dimension version: `[validFrom, validTo)` with the merged
    * row image — emitted exactly once, when the closing op arrives (or,
    * under a TTL, when eviction forces the OPEN version out with
    * [[ScdEvictedOpen]] as `validTo`). */
  case class ScdOut(tbl: String, pk: String, ver: Long, validFrom: Long,
      validTo: Long, v: Option[Double], kk: Option[Long])

  /** Sentinel `validTo` marking a TTL-evicted OPEN version — still the
    * key's current row at eviction time, not a business-time closure. */
  val ScdEvictedOpen: Long = -1L

  /** Per-key SCD2 state: the op counter plus the OPEN version (absent
    * after a delete — deleted keys have no current version, and the
    * image resets so a later partial insert starts from nulls, exactly
    * `CdcOps.withState`'s RESET semantics). */
  case class ScdState(lastVer: Long, open: Boolean, openVer: Long,
      validFrom: Long, v: Option[Double], kk: Option[Long])

  /** One SCD2 step for a batch of same-key ops — the fold of
    * [[StreamsV2.scd2Stream]]. Ops process in lsn order; chopped ==
    * one-shot on lsn-ordered feeds (the [[transitionsFold]] contract):
    * every op closes the previous version (emitting it), a non-delete
    * opens the next one with the image merged over the previous. */
  def scd2Fold(
      start: Option[ScdState],
      incoming: Seq[ScdIn]): (Option[ScdState], Seq[ScdOut]) = {
    var st = start
    val out = scala.collection.mutable.ArrayBuffer.empty[ScdOut]
    incoming.sortBy(_.lsn).foreach { o =>
      val ver = st.map(_.lastVer).getOrElse(0L) + 1
      val open = st.filter(_.open)
      open.foreach { p =>
        out += ScdOut(o.tbl, o.pk, p.openVer, p.validFrom, o.t, p.v, p.kk)
      }
      st =
        if (o.op == "delete") Some(ScdState(ver, open = false, 0L, 0L, None, None))
        else Some(ScdState(ver, open = true, ver, o.t,
          if (o.setsVal) Some(o.v) else open.flatMap(_.v),
          if (o.setsK) Some(o.kk) else open.flatMap(_.kk)))
    }
    (st, out.toSeq)
  }

  /** Streaming gap sessionization — the incremental twin of
    * [[graft.operators.Sessions.sessionize]], and the reason that batch
    * operator was built on the native `session_window` aggregate in the
    * first place: the SAME declarative plan runs here under a watermark,
    * with Spark's UpdatingSessionsExec machinery owning the hard parts
    * (per-key session merge in the state store, watermark-driven close,
    * exactly-once emission from the checkpoint) instead of a hand-rolled
    * keyed-state fold.
    *
    * Semantics: a session extends while same-user events arrive within
    * `gapMs`; in Append mode a (user, session) row emits ONCE, when the
    * event-time watermark (max seen time − `watermarkDelayMs`) passes the
    * session's end — so the output is the closed-session feed, equal to
    * the batch [[graft.operators.Sessions.sessionize]] rows for every
    * session the watermark has closed (parity: EventStreamSpec; a
    * session SPANNING a crash must merge across restart: the
    * FailureDrillSpec drill). Late events beyond the allowance are
    * dropped by the watermark, exactly the loss
    * [[graft.cdc.Capture.watermarkCurve]] prices.
    *
    * Scale shape: one shuffle keyed by user, per-key state bounded by
    * OPEN sessions only (closed ones are evicted at emission), in the
    * RocksDB state store [[graft.GraftSession]] sets.
    *
    * Why not a `transformWithState` processor like the keyed operators in
    * [[StreamsV2]]: that runtime drops input rows with event time <= the
    * watermark, which starts at 0, so an event at epoch-ms 0 would never
    * reach it; this aggregate filters on the session END and keeps it
    * (the EventStreamSpec parity feed starts at t = 0). */
  def sessionStream(
      events: Dataset[EventIn],
      gapMs: Long = 28800000L,
      watermarkDelayMs: Long = 0L): DataFrame = {
    import org.apache.spark.sql.functions._
    events.toDF()
      .select(
        col("userId").as("user_id"),
        timestamp_millis(col("tMs")).as("_t"))
      .withWatermark("_t", s"$watermarkDelayMs milliseconds")
      .groupBy(
        col("user_id"),
        session_window(col("_t"), s"$gapMs milliseconds").as("_w"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("user_id"),
        unix_millis(col("_w.start")).as("session_start"),
        unix_millis(col("_w.end")).as("session_end"),
        col("n_events"))
  }
}
