package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp

/** Stateful streaming sessionization via flatMapGroupsWithState — the
  * custom-state operator the brief calls for (KeyValueGroupedDataset
  * surface). Gap-based sessions per user: a session closes when no event
  * arrives within `gapSeconds` of its last event (decided by the
  * event-time watermark via EventTimeTimeout, so late data inside the
  * watermark still extends the right session).
  *
  * Batch twin: q27_sessionization (lag + running-sum windows) — the
  * streaming and batch paths produce the same session boundaries for the
  * same input, which StreamingSessionSpec asserts.
  */
object Sessionize {

  final case class Evt(user_id: Long, ts: Timestamp, event_type: String)
  final case class SessionState(start: Long, last: Long, n: Int)
  final case class Session(user_id: Long, session_start: Timestamp,
      session_end: Timestamp, n_events: Int)

  def sessionize(events: Dataset[Evt], gapSeconds: Long): Dataset[Session] = {
    implicit val outEnc = Encoders.product[Session]
    implicit val stateEnc = Encoders.product[SessionState]
    implicit val longEnc = Encoders.scalaLong

    def flush(userId: Long, st: SessionState): Session =
      Session(userId, new Timestamp(st.start * 1000),
        new Timestamp(st.last * 1000), st.n)

    events
      .withWatermark("ts", s"$gapSeconds seconds")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, batch: Iterator[Evt], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            // watermark passed last+gap: the open session is final
            val out = state.getOption.map(flush(userId, _)).toList
            state.remove()
            out.iterator
          } else {
            val sorted = batch.toSeq.sortBy(e => (e.ts.getTime, e.event_type))
            var closed = List.empty[Session]
            var cur = state.getOption
            sorted.foreach { e =>
              val sec = e.ts.getTime / 1000
              cur match {
                case Some(st) if sec - st.last <= gapSeconds =>
                  cur = Some(st.copy(last = math.max(st.last, sec), n = st.n + 1))
                case Some(st) =>
                  closed ::= flush(userId, st)
                  cur = Some(SessionState(sec, sec, 1))
                case None =>
                  cur = Some(SessionState(sec, sec, 1))
              }
            }
            cur.foreach { st =>
              state.update(st)
              state.setTimeoutTimestamp((st.last + gapSeconds) * 1000 + 1)
            }
            closed.reverse.iterator
          }
      }
  }

  final case class Burst(user_id: Long, tus: Long, burst: Long)
  final case class BurstState(within: List[Long])

  /** Streaming twin of q200's sliding-window burst audit: per user,
    * every event is emitted with the count of same-user events in the
    * closed 60 s window ending at it. State per user is ONLY the
    * timestamps still inside the horizon of the newest event seen —
    * bounded by 60 s × per-user rate, never lifetime (the same bound
    * q200's bucket decomposition buys the batch side), and evicted via
    * the event-time timeout once the watermark passes the horizon.
    *
    * In-order delivery (within a micro-batch the iterator is sorted
    * here; across batches the caller's source order) reproduces the
    * batch audit exactly — StreamingSessionSpec replays a wire through
    * both paths and asserts per-event equality. An out-of-order event
    * inside the watermark still gets a correct count of its OWN
    * predecessors (the state keeps everything in the newest horizon),
    * but cannot retroactively raise counts already emitted — the
    * documented streaming-vs-batch gap, the same one windowed
    * aggregation has before the watermark closes a window. Tied
    * timestamps likewise count only their predecessors in arrival
    * order, where the batch RANGE frame counts the whole tie group
    * for every member — equality holds when per-user timestamps are
    * unique (true of the driver wire; the spec's fixture keeps it). */
  def burstCounts(events: Dataset[Evt],
      horizonSeconds: Long = 60): Dataset[Burst] = {
    implicit val outEnc = Encoders.product[Burst]
    implicit val stateEnc = Encoders.product[BurstState]
    implicit val longEnc = Encoders.scalaLong
    val horizonUs = horizonSeconds * 1000000L

    events
      .withWatermark("ts", s"${2 * horizonSeconds} seconds")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, batch: Iterator[Evt], state: GroupState[BurstState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            // full-microsecond extraction: getTime truncates to ms and
            // would diverge from the batch side's unix_micros
            val sorted = batch.toSeq
              .map(e => (e.ts.getTime / 1000) * 1000000L +
                e.ts.getNanos / 1000)
              .sorted
            var within = state.getOption.map(_.within).getOrElse(Nil)
            val out = sorted.map { tus =>
              val lo = tus - horizonUs
              val n = within.count(x => x >= lo && x <= tus) + 1L
              within ::= tus
              Burst(userId, tus, n)
            }
            val maxT = within.max
            within = within.filter(_ >= maxT - horizonUs)
            state.update(BurstState(within))
            state.setTimeoutTimestamp(maxT / 1000 + 2 * horizonSeconds * 1000 + 1)
            out.iterator
          }
      }
  }
}
