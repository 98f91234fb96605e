package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode,
  StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Streaming token-bucket rate gate — per-key admission throttling at
  * ingest, the classic form: a bucket of `capacity` tokens refills at
  * `ratePerSec`, each row spends one token, and a row that finds an
  * empty bucket is emitted REJECTED rather than dropped (the fkGate
  * route-don't-drop convention: the caller diverts rejects to a
  * dead-letter sink or retries them).
  *
  * Exactness: tokens are MICRO-tokens (×10⁶), refill is
  * `Δt_µs · ratePerSec` — exact long arithmetic, no doubles anywhere
  * — capped at `capacity·10⁶`; admission spends exactly 10⁶. The
  * verdict sequence is therefore a pure function of the ordered
  * per-key event-time sequence: deterministic on replay, and
  * engine-independent the way the batch e6 family is.
  *
  * Ordering: rows sort (ts_us, req_id) within each micro-batch; a
  * key whose batch regresses behind its stored clock refuses loudly
  * (the disorder convention — a late row would have seen a different
  * bucket, so silently gating it would corrupt the verdict history).
  *
  * State per key: two longs (micro-tokens, last event-time µs) — the
  * EWMA bounded-state shape; unbounded key domains bound with TTL at
  * wiring (the HotKeys note). */
object StreamingRateGate {

  case class Req(key: String, ts_us: Long, req_id: Long)
  case class Verdict(key: String, ts_us: Long, req_id: Long,
      admitted: Boolean, tokens_e6_after: Long)

  /** Per-key state (public: the state encoder's codegen cannot see
    * private classes). */
  case class Bucket(tokensE6: Long, lastTsUs: Long)

  def gate(reqs: Dataset[Req], capacity: Long, ratePerSec: Long)
      : Dataset[Verdict] = {
    require(capacity >= 1L, s"capacity must be >= 1, got $capacity")
    require(ratePerSec >= 0L, s"ratePerSec must be >= 0, got $ratePerSec")
    implicit val outEnc = Encoders.product[Verdict]
    implicit val keyEnc = Encoders.STRING
    reqs.groupByKey(_.key)
      .transformWithState(new GateProcessor(capacity, ratePerSec),
        TimeMode.None(), OutputMode.Append())
  }

  private class GateProcessor(capacity: Long, ratePerSec: Long)
      extends StatefulProcessor[String, Req, Verdict] {
    @transient private var bucket: ValueState[Bucket] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      bucket = getHandle.getValueState[Bucket]("bucket",
        Encoders.product[Bucket], TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[Req],
        tv: TimerValues): Iterator[Verdict] = {
      val ordered = rows.toSeq.sortBy(r => (r.ts_us, r.req_id))
      var st = if (bucket.exists()) bucket.get()
        else Bucket(capacity * 1000000L, Long.MinValue)
      val out = ordered.map { r =>
        require(st.lastTsUs == Long.MinValue || r.ts_us >= st.lastTsUs,
          s"$key: request ${r.req_id} (ts ${r.ts_us}) arrived after the " +
            s"bucket clock ${st.lastTsUs} — a late row would have seen a " +
            "different bucket; deliver each key in ts order across batches")
        // clamp the gap to the full-refill horizon BEFORE multiplying:
        // an idle key returning after months must not overflow dt·rate
        val fullRefillUs =
          if (ratePerSec == 0L) 0L else capacity * 1000000L / ratePerSec + 1L
        val dtUs =
          if (st.lastTsUs == Long.MinValue) 0L
          else math.min(r.ts_us - st.lastTsUs, fullRefillUs)
        val refilled = math.min(capacity * 1000000L,
          st.tokensE6 + dtUs * ratePerSec)
        val admitted = refilled >= 1000000L
        val after = if (admitted) refilled - 1000000L else refilled
        st = Bucket(after, r.ts_us)
        Verdict(key, r.ts_us, r.req_id, admitted, after)
      }
      bucket.update(st)
      out.iterator
    }

    override def handleExpiredTimer(key: String, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[Verdict] = Iterator.empty
  }
}
