package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode,
  StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Streaming per-key debounce — min-gap admission at ingest: the first
  * event of a key is admitted, and every later event is admitted only
  * if at least `gapUs` microseconds of EVENT time passed since the
  * last ADMITTED event of that key. The sensor-chatter / double-click
  * / retry-storm suppressor: a key that fires 50 times in a second
  * contributes one row per gap window downstream, and the gap anchors
  * on admissions (not arrivals), so a steady sub-gap drizzle stays
  * suppressed instead of sliding the window forward forever — the
  * difference between debounce and "dedup within a session".
  *
  * Rejected rows are emitted REJECTED rather than dropped (the
  * rateGate route-don't-drop convention) carrying `since_admit_us`,
  * the event-time distance to the anchoring admission — the
  * dead-letter sink can re-window them or count suppression per key.
  *
  * Determinism: the verdict sequence is a pure function of the
  * ordered per-key event-time sequence — exact long arithmetic, no
  * wall clock anywhere (TimeMode.None), so replays are bit-identical.
  * Rows sort (ts_us, event_id) within each micro-batch; a key whose
  * batch regresses behind its stored clock refuses loudly (the
  * disorder convention — a late row would have seen a different
  * anchor, so silently gating it would corrupt the verdict history).
  *
  * State per key: two longs (last seen µs, last admitted µs) — the
  * EWMA bounded-state shape, constant regardless of event volume;
  * unbounded key domains bound with TTL at wiring (the HotKeys note).
  */
object StreamingDebounce {

  case class Ev(key: String, ts_us: Long, event_id: Long)
  case class Verdict(key: String, ts_us: Long, event_id: Long,
      admitted: Boolean, since_admit_us: Long)

  /** Per-key state (public: the state encoder's codegen cannot see
    * private classes). */
  case class Clock(lastSeenUs: Long, lastAdmitUs: Long)

  def debounce(events: Dataset[Ev], gapUs: Long): Dataset[Verdict] = {
    require(gapUs >= 1L, s"gapUs must be >= 1, got $gapUs")
    implicit val outEnc = Encoders.product[Verdict]
    implicit val keyEnc = Encoders.STRING
    events.groupByKey(_.key)
      .transformWithState(new DebounceProcessor(gapUs),
        TimeMode.None(), OutputMode.Append())
  }

  private class DebounceProcessor(gapUs: Long)
      extends StatefulProcessor[String, Ev, Verdict] {
    @transient private var clock: ValueState[Clock] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      clock = getHandle.getValueState[Clock]("clock",
        Encoders.product[Clock], TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[Ev],
        tv: TimerValues): Iterator[Verdict] = {
      val ordered = rows.toSeq.sortBy(e => (e.ts_us, e.event_id))
      var st = if (clock.exists()) clock.get()
        else Clock(Long.MinValue, Long.MinValue)
      val out = ordered.map { e =>
        require(st.lastSeenUs == Long.MinValue || e.ts_us >= st.lastSeenUs,
          s"$key: event ${e.event_id} (ts ${e.ts_us}) arrived after the " +
            s"key clock ${st.lastSeenUs} — a late row would have seen a " +
            "different anchor; deliver each key in ts order across batches")
        val since =
          if (st.lastAdmitUs == Long.MinValue) Long.MaxValue
          else e.ts_us - st.lastAdmitUs
        val admitted = since >= gapUs
        st = Clock(e.ts_us, if (admitted) e.ts_us else st.lastAdmitUs)
        Verdict(key, e.ts_us, e.event_id, admitted,
          if (since == Long.MaxValue) -1L else since)
      }
      clock.update(st)
      out.iterator
    }

    override def handleExpiredTimer(key: String, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[Verdict] = Iterator.empty
  }
}
