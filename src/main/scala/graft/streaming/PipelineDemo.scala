package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.codec.Codecs
import graft.model.{Header, RawRecord}

/** Runnable end-to-end demo of the streaming pipeline: feeds the
  * reference's three test workloads (values 1..8 with a b3 header)
  * through MemoryStream → Pipeline → four parquet sinks, then prints
  * each sink. Usage: `sbt "runMain graft.streaming.PipelineDemo"`. */
object PipelineDemo {
  def main(args: Array[String]): Unit = {
    // fail loudly if any generated code does not compile — silent
    // interpreted fallback masks doGenCode bugs
    val spark = graft.GraftSession.build(_.config("spark.sql.codegen.fallback", "false"))
    import spark.implicits._

    def be(i: Int) = Array(((i >> 24) & 0xff).toByte, ((i >> 16) & 0xff).toByte,
      ((i >> 8) & 0xff).toByte, (i & 0xff).toByte)
    val traceId = "1234567890123456"; val parentSpan = "6543210987654321"

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[RawRecord]
    input.addData((1 to 8).map(i => RawRecord(
      s"demo-$i".getBytes("UTF-8"), be(i), "numbers", 0, i.toLong,
      new Timestamp(1700000000000L + i), 0,
      Seq(Header("b3", s"$traceId-$parentSpan-1".getBytes("UTF-8"))))))

    val base = Files.createTempDirectory("graft-demo-").toString
    val dirs = Seq("even", "odd", "spans", "logs").map(n => s"$base/$n")
    val q = Pipeline.start(input.toDF(),
      Pipeline.parquetSink(dirs(0)), Pipeline.parquetSink(dirs(1)),
      Pipeline.parquetSink(dirs(2)), Pipeline.parquetSink(dirs(3)), s"$base/ckpt")
    q.processAllAvailable(); q.stop()

    println("=== even-numbers sink ===")
    spark.read.parquet(dirs(0))
      .select(col("key").cast("string"), col("value_int"),
        Codecs.headerLast(col("headers"), "b3").cast("string").as("b3"),
        Codecs.headerLast(col("headers"), "messageid").cast("string").as("messageid"))
      .orderBy("value_int").show(false)
    // Production id minting: same pipeline step, RANDOM span ids per
    // hop (the reference's live behavior); the deterministic form above
    // is what the oracle-checked registry uses
    val prodSpans = graft.ops.ContextOps.setBaggage(
      spark.read.parquet(dirs(0)).drop("messageid", "span_id"), prodIds = true)
    println(s"=== production id minting: ${
      prodSpans.select(countDistinct(col("span_id"))).head().getLong(0)
    } distinct random span ids over ${prodSpans.count()} records ===")

    println("=== odd-numbers sink ===")
    spark.read.parquet(dirs(1)).select(col("key").cast("string"), col("value_int"))
      .orderBy("value_int").show(false)
    println("=== spans (enriched) ===")
    graft.ops.ContextOps.spanEnrich(spark.read.parquet(dirs(2)))
      .groupBy("name", "remote_service_name").count().orderBy("name").show(false)
    println("=== logs (trace-correlated) ===")
    spark.read.parquet(dirs(3)).orderBy("line").show(8, false)

    // S4: the reference's logfile surface — render to text, parse back,
    // correlate by trace_id instead of grepping
    val logFile = s"$base/logfile"
    graft.sources.LogText.render(spark.read.parquet(dirs(3))).write.text(logFile)
    val structured = graft.sources.LogText.read(spark, logFile)
    println("=== logfile re-parsed & joined on trace_id ===")
    graft.ops.ContextOps.correlate(
        spark.read.parquet(dirs(0)).select(col("trace_id"), col("value_int")),
        structured.filter(col("trace_id").isNotNull).select(col("trace_id"), col("line")))
      .orderBy("value_int", "line").show(6, false)

    // Streaming windowed stats over a fresh stream of the same records
    val input2 = MemoryStream[RawRecord]
    input2.addData((1 to 8).map(i => RawRecord(
      s"w-$i".getBytes("UTF-8"), be(i), "numbers", 0, i.toLong,
      new Timestamp(1700000000000L + i * 1000), 0,
      Seq(Header("b3", s"$traceId-$parentSpan-1".getBytes("UTF-8"))))))
    val wq = Pipeline.windowedBranchStats(input2.toDF(), "10 seconds", "1 minute")
      .writeStream.format("memory").queryName("demo_winstats")
      .outputMode("append").start()
    wq.processAllAvailable()
    input2.addData(Seq(RawRecord("late".getBytes, be(10), "numbers", 0, 99L,
      new Timestamp(1700003600000L), 0, Seq.empty)))
    wq.processAllAvailable()
    input2.addData(Seq(RawRecord("late2".getBytes, be(12), "numbers", 0, 100L,
      new Timestamp(1700007200000L), 0, Seq.empty)))
    wq.processAllAvailable(); wq.stop()
    println("=== watermarked windowed branch stats ===")
    spark.table("demo_winstats").orderBy("window_start", "branch").show(false)

    // Streaming trace assembly: traces close after an event-time gap
    import StreamingTraceAssembly.SpanEvent
    val spansIn = MemoryStream[SpanEvent]
    val aq = StreamingTraceAssembly.assemble(spansIn.toDS(), "10 seconds", gapMs = 5000)
      .writeStream.format("memory").queryName("demo_traces")
      .outputMode("append").start()
    spansIn.addData(
      SpanEvent("trace-A", "s1", "set", new Timestamp(1700000000000L)),
      SpanEvent("trace-A", "s2", "send-even", new Timestamp(1700000000400L)))
    aq.processAllAvailable()
    spansIn.addData(SpanEvent("trace-B", "s3", "set", new Timestamp(1700003600000L)))
    aq.processAllAvailable()
    spansIn.addData(SpanEvent("trace-C", "s4", "set", new Timestamp(1700007200000L)))
    aq.processAllAvailable(); aq.stop()
    println("=== streaming trace assembly (closed traces) ===")
    spark.table("demo_traces").orderBy("trace_id").show(false)

    // Streaming dedup: a re-delivered record is suppressed downstream
    val dupIn = MemoryStream[RawRecord]
    val dup = RawRecord("dup".getBytes, be(7), "numbers", 0, 1L,
      new Timestamp(1700000000000L), 0, Seq.empty)
    dupIn.addData(Seq(dup, dup.copy(offset = 2), dup.copy(offset = 3)))
    val dq = Pipeline.dedupStream(dupIn.toDF(), "1 hour")
      .writeStream.format("memory").queryName("demo_dedup")
      .outputMode("append").start()
    dq.processAllAvailable(); dq.stop()
    println("=== streaming dedup (3 deliveries in, rows out) ===")
    spark.table("demo_dedup").select(col("key"), col("value_int")).show(false)

    // Stream-stream correlation: records and log rows as two live
    // streams joined on trace_id with watermark-bounded state
    val ssRec = MemoryStream[RawRecord]
    val ssLog = MemoryStream[RawRecord]
    val ssRecs = graft.ops.ContextOps.setBaggage(graft.ops.ContextOps.decode(ssRec.toDF()))
      .select(col("trace_id"), col("value_int"), col("ts"))
    val ssLogs = graft.ops.ContextOps.logRows(
        graft.ops.ContextOps.setBaggage(graft.ops.ContextOps.decode(ssLog.toDF())),
        lit("set"), concat(lit("Got number: "), col("value_int").cast("string")), traced = lit(true))
      .select(col("trace_id"), col("ts").as("log_ts"), col("line"))
    val ssq = Pipeline.correlateStreams(ssRecs, ssLogs, "10 minutes")
      .writeStream.format("memory").queryName("demo_sscorr")
      .outputMode("append").start()
    ssRec.addData(Seq(RawRecord("ss".getBytes, be(6), "numbers", 0, 1L,
      new Timestamp(1700000000000L), 0,
      Seq(Header("b3", s"$traceId-$parentSpan-1".getBytes)))))
    ssLog.addData(Seq(RawRecord("ss".getBytes, be(6), "numbers", 0, 1L,
      new Timestamp(1700000000200L), 0,
      Seq(Header("b3", s"$traceId-$parentSpan-1".getBytes)))))
    ssq.processAllAvailable(); ssq.stop()
    println("=== stream-stream correlation (records x live logs) ===")
    spark.table("demo_sscorr").select(col("trace_id"), col("value_int"), col("line")).show(false)

    // Ingest dedup: stream records already present in a static corpus
    // index are dropped on arrival
    val ingestIn = MemoryStream[RawRecord]
    val corpusIdx = Seq(("known", 3)).toDF("k", "v")
      .select(Codecs.portableHash(concat_ws("|", col("k"), col("v"))).as("content_hash"))
    val iq = Pipeline.ingestDedup(ingestIn.toDF(), corpusIdx, "1 hour")
      .writeStream.format("memory").queryName("demo_ingest")
      .outputMode("append").start()
    ingestIn.addData(Seq(
      RawRecord("known".getBytes, be(3), "numbers", 0, 1L, new Timestamp(1700000000000L), 0, Seq.empty),
      RawRecord("new".getBytes, be(5), "numbers", 0, 2L, new Timestamp(1700000000100L), 0, Seq.empty)))
    iq.processAllAvailable(); iq.stop()
    println("=== ingest dedup (1 corpus duplicate dropped, 1 fresh kept) ===")
    spark.table("demo_ingest").select(col("key"), col("value_int")).show(false)

    // Skewed join: events (heavily skewed per-user) joined to a tiny
    // per-user dimension through deterministic salting
    // events.ts is TIMESTAMP(NANOS): schema validation rejects it even
    // though we only read two columns — read nanos as long
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .selectExpr("event_id", "user_id")
    val dim = spark.range(0, 16).selectExpr("id AS user_id", "concat('tier-', id % 3) AS tier")
    val joined = graft.ops.SkewJoin.salted(ev, dim, "user_id", 8, col("event_id"))
    println(s"=== salted skew join: ${joined.count()} rows (plain: ${ev.join(dim, "user_id").count()}) ===")

    // Bucketed staging tables: co-bucketed join plans with no shuffle
    graft.sources.StagingTables.writeBucketed(ev, "demo_events_bucketed", "user_id", 8)
    graft.sources.StagingTables.writeBucketed(dim, "demo_dim_bucketed", "user_id", 8)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val bucketJoin = spark.table("demo_events_bucketed")
        .join(spark.table("demo_dim_bucketed"), "user_id")
      val bplan = bucketJoin.queryExecution.executedPlan.toString
      println(s"=== bucketed join: rows=${bucketJoin.count()} shuffle-free=${!bplan.contains("Exchange hashpartitioning")} ===")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)

    // Multimodal: payload → feature vector → cosine neighbors
    val assets = graft.ext.Multimodal.toAssets(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select(col("doc_id").as("asset_id"), col("text").cast("binary").as("payload")),
      "image")
    val audioAssets = graft.ext.Multimodal.toAssets(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select(col("doc_id").as("asset_id"), col("text").cast("binary").as("payload")),
      "audio")
    val decodedAudio = graft.ext.Multimodal.decodeAudio(
      audioAssets.as[graft.model.MediaAsset])
    println(s"=== audio decode: avg duration_ms = ${
      decodedAudio.agg(avg(col("duration_ms"))).head().getDouble(0).round} ===")
    val feats = graft.ext.Multimodal.extractFeatures(assets)
    println("=== media features → ANN top-3 for asset 0..2 ===")
    graft.ext.Similarity.bruteForceTopK(feats, col("vec_id") < 3, 3)
      .orderBy("q_id", "rnk").show(9, false)
    spark.stop()
  }
}
