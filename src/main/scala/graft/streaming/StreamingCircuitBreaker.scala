package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode,
  StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Streaming circuit breaker — the classic resilience state machine
  * (closed → open → half-open), per key, driven by EVENT time so a
  * replay reproduces every decision bit-for-bit (a processing-time
  * timer would make the trip point a race; the cooldown check rides
  * the next arrival's timestamp instead, the [[StreamingRateGate]]
  * clock discipline).
  *
  * Semantics, per ordered key sequence of call ATTEMPTS
  * (ts, call_id, ok = the outcome the call would have):
  *  - CLOSED: attempts are admitted; `failThreshold` CONSECUTIVE
  *    failures trip the breaker OPEN at the tripping call's ts.
  *  - OPEN: attempts before trip_ts + cooldown are rejected (their
  *    outcome never happened, so it does not touch the failure
  *    count); the first attempt at or past the cooldown becomes the
  *    HALF-OPEN probe and is admitted.
  *  - HALF-OPEN (probe): ok → CLOSED with the failure count reset;
  *    not ok → OPEN again from the probe's ts.
  *
  * State per key: three longs — machine state, consecutive-failure
  * count, trip timestamp. Disorder refuses loudly (a late attempt
  * would have seen a different machine). */
object StreamingCircuitBreaker {

  case class Call(key: String, ts_us: Long, call_id: Long, ok: Boolean)
  case class Decision(key: String, ts_us: Long, call_id: Long,
      state: String, admitted: Boolean)

  /** Per-key state (public: the state encoder's codegen cannot see
    * private classes). */
  case class Machine(state: Int, consecFails: Long, tripTsUs: Long)
  private val Closed = 0; private val Open = 1

  def breaker(calls: Dataset[Call], failThreshold: Int, cooldownUs: Long)
      : Dataset[Decision] = {
    require(failThreshold >= 1, s"failThreshold must be >= 1, got $failThreshold")
    require(cooldownUs >= 0L, s"cooldownUs must be >= 0, got $cooldownUs")
    implicit val outEnc = Encoders.product[Decision]
    implicit val keyEnc = Encoders.STRING
    calls.groupByKey(_.key)
      .transformWithState(new BreakerProcessor(failThreshold, cooldownUs),
        TimeMode.None(), OutputMode.Append())
  }

  private class BreakerProcessor(failThreshold: Int, cooldownUs: Long)
      extends StatefulProcessor[String, Call, Decision] {
    @transient private var machine: ValueState[Machine] = _
    @transient private var clock: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      machine = getHandle.getValueState[Machine]("machine",
        Encoders.product[Machine], TTLConfig.NONE)
      clock = getHandle.getValueState[Long]("clock",
        Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: String, rows: Iterator[Call],
        tv: TimerValues): Iterator[Decision] = {
      val ordered = rows.toSeq.sortBy(c => (c.ts_us, c.call_id))
      var st = if (machine.exists()) machine.get() else Machine(Closed, 0L, 0L)
      var last = if (clock.exists()) clock.get() else Long.MinValue
      val out = ordered.map { c =>
        require(last == Long.MinValue || c.ts_us >= last,
          s"$key: call ${c.call_id} (ts ${c.ts_us}) arrived after the " +
            s"breaker clock $last — a late attempt would have seen a " +
            "different machine; deliver each key in ts order")
        last = c.ts_us
        val d = st.state match {
          case Closed =>
            val fails = if (c.ok) 0L else st.consecFails + 1L
            st =
              if (fails >= failThreshold) Machine(Open, 0L, c.ts_us)
              else Machine(Closed, fails, st.tripTsUs)
            Decision(key, c.ts_us, c.call_id, "closed", admitted = true)
          case Open if c.ts_us < st.tripTsUs + cooldownUs =>
            // rejected: the call never ran, its outcome is void
            Decision(key, c.ts_us, c.call_id, "open", admitted = false)
          case Open => // half-open probe
            st =
              if (c.ok) Machine(Closed, 0L, st.tripTsUs)
              else Machine(Open, 0L, c.ts_us)
            Decision(key, c.ts_us, c.call_id, "half_open", admitted = true)
        }
        d
      }
      machine.update(st)
      clock.update(last)
      out.iterator
    }

    override def handleExpiredTimer(key: String, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[Decision] = Iterator.empty
  }
}
