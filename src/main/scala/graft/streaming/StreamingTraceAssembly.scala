package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming trace assembly (SURVEY.md §7.5): spans of one trace arrive
  * over time; a trace is "complete" when no new span has been seen for
  * `gapMs` of EVENT time — then exactly one assembled-trace row is
  * emitted and the per-trace state is dropped.
  *
  * This is the streaming twin of
  * [[graft.ops.TraceAnalytics.assembleTraces]] and replaces what the
  * reference delegates to Zipkin's UI ("select a particular trace",
  * reference README.adoc:133-135), but with bounded state: watermark +
  * event-time timeout ⇒ state size is O(open traces), independent of
  * stream length — the property that makes this safe on an unbounded
  * 100 TB/day stream.
  */
object StreamingTraceAssembly {

  case class SpanEvent(trace_id: String, span_id: String, name: String, ts: Timestamp)

  case class TraceBuf(names: List[String], firstMs: Long, lastMs: Long)

  case class AssembledTrace(
      trace_id: String, n_spans: Long, span_names: String,
      start_ms: Long, end_ms: Long)

  /** @param watermarkDelay how late spans may arrive (event time)
    * @param gapMs          inactivity gap that closes a trace */
  def assemble(spans: Dataset[SpanEvent], watermarkDelay: String, gapMs: Long)
      : Dataset[AssembledTrace] = {
    implicit val bufEnc = Encoders.product[TraceBuf]
    implicit val outEnc = Encoders.product[AssembledTrace]
    implicit val strEnc = Encoders.STRING
    spans
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.trace_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (traceId: String, events: Iterator[SpanEvent], state: GroupState[TraceBuf]) =>
          step(traceId, events, state, gapMs))
  }

  private[streaming] def step(
      traceId: String, events: Iterator[SpanEvent],
      state: GroupState[TraceBuf], gapMs: Long): Iterator[AssembledTrace] = {
    if (state.hasTimedOut) {
      val buf = state.get
      state.remove()
      Iterator.single(AssembledTrace(
        traceId, buf.names.size.toLong, buf.names.sorted.mkString(","),
        buf.firstMs, buf.lastMs))
    } else {
      val incoming = events.toList
      val old = state.getOption.getOrElse(TraceBuf(Nil, Long.MaxValue, Long.MinValue))
      val merged = incoming.foldLeft(old) { (b, e) =>
        val t = e.ts.getTime
        TraceBuf(e.name :: b.names, math.min(b.firstMs, t), math.max(b.lastMs, t))
      }
      state.update(merged)
      // close the trace once the watermark passes last-span + gap
      state.setTimeoutTimestamp(merged.lastMs + gapMs)
      Iterator.empty
    }
  }
}
