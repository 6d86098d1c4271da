package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp

/** Stateful streaming funnel — q226's strict ordered conversion
  * (signup → first click AFTER it → first purchase AFTER that click)
  * decided AT INGEST TIME, one conversion event emitted per user at
  * the moment the purchase lands. The batch q226 computes the same
  * re-anchored minima over the accumulated table; for event-time-
  * ordered delivery the greedy first-match here IS those minima
  * (first signup seen = min signup; first qualifying click seen = min
  * click after t1; …), which the spec pins as a cross-law over
  * sf0.001. Late events inside the watermark that arrive BEHIND an
  * already-anchored stage are ignored — emitted conversions are final
  * (the append-mode contract every stateful op in this repo follows).
  *
  * State per user is O(1) — three stage timestamps. With
  * `idleTtlSeconds` set (the conversion-window TTL every funnel
  * product defines, sized like the q192 watermark) a user idle past
  * the TTL is dropped from the state store: an abandoned mid-funnel
  * journey expires, and a CONVERTED user's tombstone expires with it —
  * a user returning after the horizon starts a NEW journey and can
  * convert again (the re-armable-funnel semantics; within the horizon
  * the once-only law holds, spec-pinned both ways). `None` keeps the
  * unbounded semantics for batch twins and bounded fixtures (and the
  * TTL path adds a `withWatermark(ts, ttl)`, so events later than the
  * TTL are dropped upstream). Events within a batch are applied in
  * (ts, event_type) order so executor interleaving cannot reorder
  * stage anchoring.
  *
  * CHECKPOINT COMPATIBILITY: the round-14 `maxTsMs` field changed
  * [[FunnelState]]'s state encoder schema; a query restarted from a
  * pre-change checkpoint fails — use a fresh checkpoint directory
  * across that upgrade (see the [[BotMonitor]] note; state rebuilds
  * within one TTL horizon).
  */
object Funnel {

  final case class Evt(user_id: Long, ts: Timestamp, event_type: String)
  final case class FunnelState(t1: Long, t2: Long, t3: Long, maxTsMs: Long)
  final case class Conversion(user_id: Long, signup_us: Long,
      click_us: Long, purchase_us: Long)

  def conversions(events: Dataset[Evt],
      idleTtlSeconds: Option[Long] = None): Dataset[Conversion] = {
    implicit val outEnc = Encoders.product[Conversion]
    implicit val stateEnc = Encoders.product[FunnelState]
    implicit val longEnc = Encoders.scalaLong
    val ttlMs = idleTtlSeconds.map(_ * 1000L)
    val src = idleTtlSeconds.fold(events)(s =>
      events.withWatermark("ts", s"$s seconds"))
    src
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        if (idleTtlSeconds.isDefined) GroupStateTimeout.EventTimeTimeout
        else GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[Evt], state: GroupState[FunnelState]) =>
          if (state.hasTimedOut) {
            // idle past the conversion window: the abandoned journey —
            // or the converted tombstone — expires (re-armable funnel)
            state.remove()
            Iterator.empty
          } else {
            // a converted user must not restart the funnel within the
            // horizon, so a tombstone (all stages set) is kept instead
            // of bare removal
            var st = state.getOption.getOrElse(
              FunnelState(0L, 0L, 0L, Long.MinValue))
            var out = List.empty[Conversion]
            val sorted = batch.toSeq.sortBy(e => (e.ts.getTime, e.event_type))
            sorted.foreach { e =>
              val us = e.ts.getTime * 1000L
              if (st.t3 == 0L) {
                if (st.t1 == 0L && e.event_type == "signup")
                  st = st.copy(t1 = us)
                else if (st.t1 != 0L && st.t2 == 0L
                    && e.event_type == "click" && us > st.t1)
                  st = st.copy(t2 = us)
                else if (st.t2 != 0L && e.event_type == "purchase"
                    && us > st.t2) {
                  st = st.copy(t3 = us)
                  out ::= Conversion(uid, st.t1, st.t2, st.t3)
                }
              }
            }
            // the TTL arms from the key's max event time ACROSS history
            // (carried in state), not the batch max: a later batch of
            // within-watermark out-of-order events must never re-arm
            // the timeout EARLIER than the previous arm (which would
            // evict the journey — or a conversion tombstone — before
            // idleTtlSeconds truly elapsed; the BotMonitor law)
            st = st.copy(maxTsMs =
              math.max(st.maxTsMs, sorted.last.ts.getTime))
            state.update(st)
            ttlMs.foreach { t =>
              state.setTimeoutTimestamp(math.max(
                st.maxTsMs + t,
                state.getCurrentWatermarkMs() + 1))
            }
            out.reverse.iterator
          }
      }
  }
}
