package graft.ops

import scala.collection.immutable.ListMap
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.codec.Codecs._
import graft.codec.BigEndianInt32.{beInt, beIntEncode}

/** The operator inventory of SURVEY.md §2 as `DataFrame => DataFrame`
  * combinators. All narrow transformations (filter/project) — no
  * shuffle anywhere in the parity pipeline, which is what lets it scale
  * linearly with input partitions on a real cluster.
  */
object ContextOps {

  val App = "graft-app"

  // ---------------------------------------------------------------- decode

  /** S1: Kafka-shaped raw records → decoded, context-carrying records.
    * String key, big-endian-int value (custom expression), B3 header
    * parsed into explicit context columns, with a fresh root context
    * minted from (topic, partition, offset) when no b3 header is
    * present. Narrow; fully codegen'd. */
  def decode(raw: DataFrame): DataFrame = {
    // one projection per dependency level (raw → b3 → trace id), not one
    // eagerly analysed `withColumn` per column
    val withB3 = raw.withColumns(ListMap(
      "key" -> col("key").cast("string"),
      "value_int" -> beInt(col("value")),
      "b3_in" -> headerLast(col("headers"), "b3").cast("string")))
    val withCtx = withB3.withColumns(ListMap(
      "trace_id" -> coalesce(b3TraceId(col("b3_in")),
        traceIdFrom(concat_ws("/", col("topic"), col("partition"), col("offset")))),
      "parent_id" -> b3SpanId(col("b3_in")),
      "sampled" -> coalesce(b3Sampled(col("b3_in")), lit(true))))
    val dropped = Set("b3_in", "value", "timestampType")
    withCtx.select(withCtx.columns.toSeq.collect {
      case "timestamp" => withCtx("timestamp").as("ts")
      case c if !dropped(c) => withCtx(c)
    } :+
      // per-record span seed: many records can share one trace, but each
      // processing hop of each record mints its OWN span (reference
      // README.adoc:124); (partition, offset) disambiguates the record
      concat_ws("/", col("trace_id"), col("partition"), col("offset")).as("hop_seed"): _*)
  }

  /** Span-mint seed: per-record when the frame carries one (streaming
    * decode), else the trace id (batch events — one record per trace,
    * keeps the DuckDB oracle formula exact). */
  private def hopSeed(df: DataFrame): org.apache.spark.sql.Column =
    if (df.columns.contains("hop_seed")) col("hop_seed") else col("trace_id")

  /** Batch analog of decode() over the `events` fixture table
    * (FIXTURES.md: key→user_id, value→value, ts→ts): derives the same
    * context columns so every downstream operator is shared between the
    * streaming and batch paths. */
  def enrichEvents(events: DataFrame): DataFrame =
    events
      .withColumn("value_int", floor(col("value")))
      .withColumn("trace_id", traceIdFrom(col("event_id")))
      .withColumn("parent_id", mintSpanId(col("trace_id"), lit("producer")))
      .withColumn("sampled", lit(true))

  // --------------------------------------------------------------- context

  /** P4 ("set" traced peek, reference StreamsConfig.java:34-37): derive
    * the messageid baggage and open a child span for this hop — a pure
    * projection; the span itself is emitted by [[standardSpans]]. */
  def setBaggage(df: DataFrame, prodIds: Boolean = false): DataFrame =
    df.withColumns(ListMap(
      "messageid" -> concat(lit("messageid_"), col("value_int").cast("string")),
      "span_id" ->
        // prodIds: RANDOM span ids (the reference's actual behavior);
        // the deterministic form is what the Verify registry needs
        (if (prodIds) mintSpanIdRandom() else mintSpanId(hopSeed(df), lit("set")))))

  // ---------------------------------------------------------------- branch

  /** P1/P2/P3: disjoint predicate routing. First-match-wins like the
    * reference's KafkaStreamBrancher (StreamsConfig.java:39-51): branch
    * i also requires NOT(pred_1..i-1); the default branch is the
    * complement of all. Returns (name → branch frame). Each branch is a
    * filter over the same plan — under foreachBatch the source scan is
    * shared per micro-batch. */
  def branch(df: DataFrame, preds: Seq[(String, Column)], defaultName: String)
      : Seq[(String, DataFrame)] = {
    // Null predicate results (e.g. a malformed record whose value_int
    // decoded to null) must fall through to the DEFAULT branch, not
    // vanish: coalesce each predicate to false so its negation is true.
    val safe = preds.map { case (name, p) => (name, coalesce(p, lit(false))) }
    val guarded = safe.zipWithIndex.map { case ((name, p), i) =>
      val notEarlier = safe.take(i).map(_._2).foldLeft(lit(true))((a, q) => a && !q)
      (name, df.filter(notEarlier && p))
    }
    val none = safe.map(_._2).foldLeft(lit(true))((a, q) => a && !q)
    guarded :+ (defaultName -> df.filter(none))
  }

  /** The parity route's predicate; null for a null value_int. */
  private def isEven: Column = pmod(col("value_int"), lit(2)) === 0

  def evenOdd(df: DataFrame): (DataFrame, DataFrame) = {
    val bs = branch(df, Seq("even" -> isEven), "odd")
    (bs.head._2, bs.last._2)
  }

  // ------------------------------------------------------------- log rows

  /** P5/P5b: a traced or untraced peek's observable effect — a log row
    * correlated (or not) with the record's context. The reference gets
    * this from MDC thread-locals; here it is an explicit projection:
    * untraced peeks carry null context columns (README.adoc:95-96,112-113).
    * `op` and `traced` are columns, so one projection serves rows of
    * several hops. */
  def logRows(df: DataFrame, op: Column, line: Column, traced: Column): DataFrame = {
    val spanId = mintSpanId(hopSeed(df), op)
    df.select(
      col("ts"),
      lit("INFO").as("level"),
      concat(lit("graft.ops."), op).as("logger"),
      line.as("line"),
      when(traced, col("trace_id")).as("trace_id"),
      when(traced, spanId).as("span_id"),
      when(traced, col("messageid")).as("messageid"),
      // F10: the MDC snapshot the reference dumps per traced record
      // (MDC.getCopyOfContextMap, reference StreamsConfig.java:44;
      // rendered README.adoc:103-108) — a JSON map column, not a
      // thread-local
      when(traced, to_json(struct(col("trace_id"), spanId.as("span_id"),
        col("parent_id"), col("messageid")))).as("mdc"))
  }

  // ----------------------------------------------------------------- spans

  /** Each record's two hops — "set", then the send hop of its parity
    * branch — as ONE explode of the hop name into column `hop`, so a
    * fan-out over both hops scans `df` once. Callers derive every
    * output column from the name, which keeps each an independent
    * expression Catalyst can prune (an exploded array of whole structs
    * would not be). Routing is [[branch]]'s: a null parity goes odd. */
  private def hops(df: DataFrame, even: String, odd: String): DataFrame =
    df.withColumn("hop", explode(array(lit("set"),
      when(coalesce(isEven, lit(false)), even).otherwise(odd))))

  /** The reference topology's standard log fan-out: a traced "set" line
    * per record, a traced line per even record, an UNTRACED line per
    * odd record (reference README.adoc:93-114). Single source of truth
    * for both the batch queries and the streaming pipeline. */
  def standardLogs(df: DataFrame): DataFrame = {
    val hop = col("hop")
    logRows(hops(df, "even", "odd"), hop,
      concat(when(hop === "set", "Got").when(hop === "even", "Even").otherwise("Odd"),
        lit(" number: "), col("value_int").cast("string")),
      traced = hop =!= "odd")
  }

  /** The reference topology's standard span fan-out: a "set" span per
    * record plus a send span per branch, child of the record's parent
    * span. `kafka_topic`/`remote_service_name` are set on send spans
    * (cause=FINISHED) and null on "set". */
  def standardSpans(df: DataFrame): DataFrame = {
    val hop = col("hop")
    val topic = when(hop === "send-even", "even-numbers").when(hop === "send-odd", "odd-numbers")
    hops(df, "send-even", "send-odd").select(
      col("trace_id"),
      mintSpanId(hopSeed(df), hop).as("span_id"),
      col("parent_id"),
      col("sampled"),
      hop.as("name"),
      lit(App).as("local_service"),
      when(topic.isNotNull, lit("kafka")).as("remote_service_name"),
      topic.as("kafka_topic"),
      lit("FINISHED").as("cause"),
      col("ts"))
  }

  /** P6 span enrichment (reference
    * KafkaStreamsLogCorrelationApplication.java:22-31): rewrite
    * remoteServiceName to "kafka/<topic>" on finished spans that carry
    * the kafka.topic tag. */
  def spanEnrich(spans: DataFrame): DataFrame =
    spans.withColumn("remote_service_name",
      when(col("kafka_topic").isNotNull && col("cause") === "FINISHED",
        concat_ws("/", col("remote_service_name"), col("kafka_topic")))
        .otherwise(col("remote_service_name")))

  // ------------------------------------------------------------ correlate

  /** §2.3: the correlation the reference does by grepping the logfile,
    * as a first-class equi-join on trace_id. Narrow-side broadcast is
    * left to Catalyst/AQE — at 100 TB both sides are large and this
    * becomes a shuffle join on trace_id, which is uniformly distributed
    * by construction (it is a hash). */
  def correlate(records: DataFrame, logs: DataFrame): DataFrame =
    records.join(logs.withColumnRenamed("ts", "log_ts"), Seq("trace_id"))

  // ---------------------------------------------------------- first match

  /** W1 first-match-per-key (reference TestListener.java:63 `.next()`):
    * the earliest record per key in (ts, tiebreak) order. */
  def firstMatchPerKey(df: DataFrame, key: Column, order: Seq[Column]): DataFrame =
    df.withColumn("rn", row_number().over(Window.partitionBy(key).orderBy(order: _*)))
      .filter(col("rn") === 1).drop("rn")

  // --------------------------------------------------------------- encode

  /** Re-encode context as output headers (replace b3, append messageid),
    * preserving any other headers — the reference's output contract
    * (StreamsConfigTest.java:64,111). */
  def encodeHeaders(df: DataFrame): DataFrame =
    df.withColumns(ListMap(
      "headers" -> headerSet(col("headers"),
        "b3" -> b3Render(col("trace_id"), col("span_id"), col("sampled")).cast("binary"),
        "messageid" -> col("messageid").cast("binary")),
      "value" -> beIntEncode(col("value_int"))))
}
