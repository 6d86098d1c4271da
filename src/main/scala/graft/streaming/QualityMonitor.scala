package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp

/** Stateful per-source quality-drift monitor — the streaming twin of
  * the q208 tier accounting: on a document ingest stream, watch each
  * source's poor-document rate per tumbling window against that
  * source's OWN history, and raise an alert the moment a window's rate
  * exceeds the historical baseline by a pinned margin. This is how a
  * scraper regression, a template leak, or an upstream format change
  * surfaces within minutes at 100 TB ingest — long before a batch
  * audit over the accumulated corpus would see it.
  *
  * Semantics (all exact integers — rates in ppm by integer division):
  *  - poor = n_tokens < 20, the q31/q208 tier rule;
  *  - per (source, tumbling window): n_docs, n_poor, poor_ppm;
  *  - baseline = the source's closed windows so far (cumulative
  *    counts, NOT a mean of rates — mass-weighted, so one thin window
  *    cannot distort it); the first window has no baseline and never
  *    alerts (base_ppm reported as its own rate);
  *  - alert ⇔ poor_ppm > base_ppm + [[QualityMonitor.AlertMarginPpm]].
  *
  * State per source is O(1): the open window's two counters plus two
  * baseline counters — bounded regardless of rate or lifetime (the
  * Sessionize/burst discipline). Windows close when a newer-window
  * event arrives for the source or via the event-time timeout once
  * the watermark passes the window end. A late event inside the
  * watermark that belongs to an ALREADY-CLOSED window folds into the
  * baseline (the row it missed is final — alerts are never retracted;
  * the baseline self-corrects for future windows), the same
  * emitted-is-final gap every append-mode streaming aggregate has.
  *
  * A timeout-closed window is FOLDED into the baseline and the state
  * is KEPT (not removed): an intermittent source that goes idle for a
  * gap and returns still drifts against its own history — "against
  * that source's OWN history" holds across gaps, spec-pinned. The
  * kept, event-free state re-arms a LONGER timeout
  * ([[QualityMonitor.BaselineKeepWindows]] window lengths); only a
  * source idle past THAT horizon is dropped entirely, which bounds
  * the key space for vanished sources (a returning one then restarts
  * baseline-less, like a first window).
  */
object QualityMonitor {

  final case class DocEvt(source: String, ts: Timestamp, n_tokens: Long)
  final case class WinState(winStart: Long, n: Long, nPoor: Long,
      baseN: Long, basePoor: Long)
  final case class WinQuality(source: String, window_start: Timestamp,
      n_docs: Long, n_poor: Long, poor_ppm: Long, base_ppm: Long,
      alert: Boolean)

  /** Alert when a window's poor rate exceeds baseline + 10 points. */
  val AlertMarginPpm = 100000L

  /** How many window lengths an idle source's baseline survives after
    * its last window was timeout-closed; past it the source's state is
    * dropped entirely. */
  val BaselineKeepWindows = 16L

  /** The q31/q208 "poor" tier rule on the streaming side. */
  def isPoor(nTokens: Long): Boolean = nTokens < 20

  def qualityDrift(docs: Dataset[DocEvt], windowSeconds: Long)
      : Dataset[WinQuality] = {
    implicit val outEnc = Encoders.product[WinQuality]
    implicit val stateEnc = Encoders.product[WinState]
    implicit val strEnc = Encoders.STRING
    // locals only: referencing object members from the state function
    // would capture the (non-serializable) enclosing object
    val margin = AlertMarginPpm
    val poorCut = 20L
    val keepWindows = BaselineKeepWindows

    def flush(src: String, st: WinState): WinQuality = {
      val ppm = if (st.n > 0) st.nPoor * 1000000L / st.n else 0L
      val hasBase = st.baseN > 0
      val base = if (hasBase) st.basePoor * 1000000L / st.baseN else ppm
      WinQuality(src, new Timestamp(st.winStart * 1000), st.n, st.nPoor,
        ppm, base, hasBase && ppm > base + margin)
    }

    docs
      .withWatermark("ts", s"$windowSeconds seconds")
      .groupByKey(_.source)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (src: String, batch: Iterator[DocEvt],
            state: GroupState[WinState]) =>
          if (state.hasTimedOut) {
            state.getOption match {
              case Some(st) if st.n > 0 =>
                // flush the open window, fold it into the baseline and
                // KEEP the state — the source's history must survive an
                // idle gap (the "own history" contract); re-arm a longer
                // final-expiry timeout for the keep horizon
                val out = flush(src, st)
                state.update(WinState(Long.MinValue, 0L, 0L,
                  st.baseN + st.n, st.basePoor + st.nPoor))
                state.setTimeoutTimestamp(math.max(
                  (st.winStart + windowSeconds * (1 + keepWindows))
                    * 1000 + 1,
                  state.getCurrentWatermarkMs() + 1))
                Iterator(out)
              case _ =>
                // baseline-only state idle past the keep horizon, or an
                // empty shell: the source is gone — drop it
                state.remove()
                Iterator.empty
            }
          } else {
            val sorted = batch.toSeq.sortBy(e => (e.ts.getTime, e.n_tokens))
            var closed = List.empty[WinQuality]
            var cur = state.getOption
            sorted.foreach { e =>
              val sec = e.ts.getTime / 1000
              val ws = sec - sec % windowSeconds
              val p = if (e.n_tokens < poorCut) 1L else 0L
              cur match {
                case Some(st) if st.n == 0L =>
                  // returning source within the keep horizon: open a new
                  // window over the preserved baseline
                  cur = Some(WinState(ws, 1L, p, st.baseN, st.basePoor))
                case Some(st) if ws == st.winStart =>
                  cur = Some(st.copy(n = st.n + 1, nPoor = st.nPoor + p))
                case Some(st) if ws > st.winStart =>
                  closed ::= flush(src, st)
                  cur = Some(WinState(ws, 1L, p,
                    st.baseN + st.n, st.basePoor + st.nPoor))
                case Some(st) =>
                  // late event for an already-closed window: its row is
                  // final, fold the doc into the baseline instead
                  cur = Some(st.copy(baseN = st.baseN + 1,
                    basePoor = st.basePoor + p))
                case None =>
                  cur = Some(WinState(ws, 1L, p, 0L, 0L))
              }
            }
            cur.foreach { st =>
              state.update(st)
              state.setTimeoutTimestamp(
                (st.winStart + windowSeconds) * 1000 + 1)
            }
            closed.reverse.iterator
          }
      }
  }
}
