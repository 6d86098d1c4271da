package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp

/** Stateful per-user bot alarm — the streaming twin of the q241
  * event-type-concentration battery: on the live event stream, maintain
  * each user's per-type counts and raise ONE alert the moment the
  * account crosses the bot profile (enough events AND event-type
  * concentration above the cut). This is the ingest-time gate that
  * keeps scripted traffic out of a behavioral training table while the
  * batch audit (q241) is still hours away.
  *
  * Semantics (all exact integers — the q241 HHI in ppm):
  *  - per user: counts c_t per event type, n = Σc_t;
  *  - hhi_ppm = (Σ c_t²) · 10⁶ / n², integer division;
  *  - alert ⇔ n ≥ [[BotMonitor.MinEvents]] and hhi_ppm ≥
  *    [[BotMonitor.HhiAlertPpm]], evaluated after every event;
  *  - exactly ONE alert per user, ever: the state carries a tombstone
  *    once fired (the Funnel discipline), so replayed batches and
  *    post-alert traffic can't re-fire it. A user who diversifies
  *    later was still correctly flagged at the time — alerts are
  *    observations, not retractable labels.
  *
  * State per user is O(|event types|) — bounded by the type vocabulary,
  * not the event count (the Sessionize/burst discipline). The KEY
  * space is bounded by the event-time TTL: pass `idleTtlSeconds`
  * (sized from the q192 lateness profile, like the StreamingSpec
  * watermark) and a user idle past it is dropped from the state store
  * — on an unbounded user population the store then holds only users
  * active within the TTL horizon, not every user ever seen. The TTL
  * also expires alert TOMBSTONES: a user returning after the horizon
  * is scored fresh and can alert again (an idle-then-return bot is a
  * new observation window — the once-only law holds within a horizon,
  * spec-pinned both ways). `None` keeps the unbounded semantics for
  * batch twins and bounded-key fixtures (it reads any
  * Dataset[UserEvt], batch or stream); the TTL path adds a
  * `withWatermark(ts, ttl)`, so events later than the TTL are dropped
  * upstream — the same lateness contract every watermarked op here
  * has.
  *
  * CHECKPOINT COMPATIBILITY: the round-14 `maxTsMs` field changed the
  * flatMapGroupsWithState STATE ENCODER SCHEMA of [[BotState]],
  * [[CadenceState]] and [[graft.streaming.Funnel.FunnelState]].
  * Structured Streaming does not evolve state schemas — a query
  * restarted from a checkpoint written BEFORE that change will fail
  * (or misread its state rows). Restarting these monitors across the
  * upgrade requires a FRESH checkpoint directory; the state they
  * rebuild is bounded by the TTL horizon, so the cost is one horizon
  * of re-observation, not history.
  */
object BotMonitor {

  final case class UserEvt(user_id: Long, ts: Timestamp, event_type: String)
  final case class BotState(counts: Map[String, Long], n: Long,
      alerted: Boolean, maxTsMs: Long)
  final case class BotAlert(user_id: Long, n_events: Long, n_types: Long,
      hhi_ppm: Long)

  /** Don't score an account before it has a sample. */
  val MinEvents = 20L

  /** HHI ≥ 0.6 (one type ≥ ~77% of traffic at 2 types) reads as bot. */
  val HhiAlertPpm = 600000L

  final case class CadenceState(lastUs: Long, nGaps: Long, minGap: Long,
      maxGap: Long, alerted: Boolean, maxTsMs: Long)
  final case class CadenceAlert(user_id: Long, n_gaps: Long,
      min_gap_us: Long, max_gap_us: Long)

  /** Score a cadence only after this many inter-arrival gaps. */
  val MinGaps = 10L

  /** Metronome tolerance: a human's gaps spread over seconds-to-hours;
    * a timer's land within a millisecond of each other. */
  val JitterUs = 1000L

  /** The TIMING half of the bot battery (q242's streaming twin —
    * [[botAlerts]] watches WHAT an account does, this watches WHEN):
    * per user, track the inter-arrival min/max in exact integer
    * microseconds; once [[MinGaps]] gaps have accumulated with
    * max − min ≤ [[JitterUs]], the cadence is a timer, not a human —
    * alert ONCE (the same tombstone discipline). State per user is
    * five longs — O(1) regardless of rate or lifetime. Events inside
    * a micro-batch fold in (event-time, type) order, so replays of
    * the same wire produce the same gaps. */
  // TTL plumbing note: both alarms arm the event-time timeout at
  // (key's max event time ACROSS ITS HISTORY + TTL), clamped above the
  // current watermark (a key whose events are already older than
  // watermark − TTL would otherwise arm an un-armable past timestamp).
  // The history max is carried in state (`maxTsMs`) — arming from the
  // current BATCH's max alone would let a later batch of within-
  // watermark out-of-order events re-arm the timeout EARLIER than the
  // previous arm, evicting state (and the alert tombstone) before the
  // TTL has truly elapsed since the key's last event — a bot could
  // then re-alert inside the horizon, violating the once-only law.
  // Inlined in each state function — the locals-only closure rule of
  // this file.

  private def timeoutConf(ttl: Option[Long]): GroupStateTimeout =
    if (ttl.isDefined) GroupStateTimeout.EventTimeTimeout
    else GroupStateTimeout.NoTimeout

  def cadenceAlerts(evts: Dataset[UserEvt],
      idleTtlSeconds: Option[Long] = None): Dataset[CadenceAlert] = {
    implicit val outEnc = Encoders.product[CadenceAlert]
    implicit val stateEnc = Encoders.product[CadenceState]
    implicit val longEnc = Encoders.scalaLong
    val minGaps = MinGaps
    val jitter = JitterUs
    val ttlMs = idleTtlSeconds.map(_ * 1000L)
    val src = idleTtlSeconds.fold(evts)(s =>
      evts.withWatermark("ts", s"$s seconds"))

    src
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        timeoutConf(idleTtlSeconds)) {
        (uid: Long, batch: Iterator[UserEvt],
            state: GroupState[CadenceState]) =>
          if (state.hasTimedOut) {
            // idle past the TTL: drop counters AND the alert tombstone
            state.remove()
            Iterator.empty
          } else {
            var st = state.getOption.getOrElse(
              CadenceState(Long.MinValue, 0L, Long.MaxValue, Long.MinValue,
                alerted = false, maxTsMs = Long.MinValue))
            val out = scala.collection.mutable.ListBuffer.empty[CadenceAlert]
            val sorted = batch.toSeq.sortBy(e => (e.ts.getTime, e.event_type))
            sorted.foreach { e =>
              val tus = e.ts.getTime * 1000L
              if (st.lastUs != Long.MinValue) {
                val gap = tus - st.lastUs
                st = CadenceState(tus, st.nGaps + 1L,
                  math.min(st.minGap, gap), math.max(st.maxGap, gap),
                  st.alerted, st.maxTsMs)
                if (!st.alerted && st.nGaps >= minGaps &&
                    st.maxGap - st.minGap <= jitter) {
                  st = st.copy(alerted = true)
                  out += CadenceAlert(uid, st.nGaps, st.minGap, st.maxGap)
                }
              } else st = st.copy(lastUs = tus)
            }
            st = st.copy(maxTsMs =
              math.max(st.maxTsMs, sorted.last.ts.getTime))
            state.update(st)
            ttlMs.foreach { t =>
              state.setTimeoutTimestamp(math.max(
                st.maxTsMs + t,
                state.getCurrentWatermarkMs() + 1))
            }
            out.iterator
          }
      }
  }

  def botAlerts(evts: Dataset[UserEvt],
      idleTtlSeconds: Option[Long] = None): Dataset[BotAlert] = {
    implicit val outEnc = Encoders.product[BotAlert]
    implicit val stateEnc = Encoders.product[BotState]
    implicit val longEnc = Encoders.scalaLong
    // locals only: referencing object members from the state function
    // would capture the (non-serializable) enclosing object
    val minN = MinEvents
    val cut = HhiAlertPpm
    val ttlMs = idleTtlSeconds.map(_ * 1000L)
    val src = idleTtlSeconds.fold(evts)(s =>
      evts.withWatermark("ts", s"$s seconds"))

    src
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        timeoutConf(idleTtlSeconds)) {
        (uid: Long, batch: Iterator[UserEvt], state: GroupState[BotState]) =>
          if (state.hasTimedOut) {
            // idle past the TTL: drop counters AND the alert tombstone
            state.remove()
            Iterator.empty
          } else {
            var st = state.getOption.getOrElse(
              BotState(Map.empty, 0L, false, Long.MinValue))
            val out = scala.collection.mutable.ListBuffer.empty[BotAlert]
            // deterministic fold order under replay: event time, then type
            val sorted = batch.toSeq.sortBy(e => (e.ts.getTime, e.event_type))
            sorted.foreach { e =>
              val c = st.counts.getOrElse(e.event_type, 0L) + 1L
              st = BotState(st.counts.updated(e.event_type, c), st.n + 1L,
                st.alerted, st.maxTsMs)
              if (!st.alerted && st.n >= minN) {
                val ssq = st.counts.valuesIterator.map(x => x * x).sum
                val hhiPpm = ssq * 1000000L / (st.n * st.n)
                if (hhiPpm >= cut) {
                  st = st.copy(alerted = true)
                  out += BotAlert(uid, st.n, st.counts.size.toLong, hhiPpm)
                }
              }
            }
            st = st.copy(maxTsMs =
              math.max(st.maxTsMs, sorted.last.ts.getTime))
            state.update(st)
            ttlMs.foreach { t =>
              state.setTimeoutTimestamp(math.max(
                st.maxTsMs + t,
                state.getCurrentWatermarkMs() + 1))
            }
            out.iterator
          }
      }
  }
}
