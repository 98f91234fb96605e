package graft

import java.nio.file.Files
import java.sql.Timestamp
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.model.{Header, RawRecord}
import graft.streaming.Pipeline

/** The reference's three integration scenarios
  * (reference: src/test/java/com/github/timtebeek/StreamsConfigTest.java:52-116)
  * re-expressed over MemoryStream + Trigger.AvailableNow — no Kafka or
  * Zipkin needed; the span/log tables replace the Zipkin UI and the
  * actuator logfile. */
case class SessionEv(user_id: Long, ts: java.sql.Timestamp)
case class VecObs(ts: java.sql.Timestamp, v: Seq[Double])
case class QVecObs(ts: java.sql.Timestamp, q_id: Long, embedding: Array[Float])

class StreamingPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def be(i: Int): Array[Byte] =
    Array(((i >> 24) & 0xff).toByte, ((i >> 16) & 0xff).toByte,
      ((i >> 8) & 0xff).toByte, (i & 0xff).toByte)

  private def record(key: String, v: Int, traceId: String, spanId: String, off: Long) =
    RawRecord(key.getBytes("UTF-8"), be(v), "numbers", 0, off,
      new Timestamp(1700000000000L + off), 0,
      Seq(Header("b3", s"$traceId-$spanId-1".getBytes("UTF-8"))))

  /** Run the pipeline over the given records into four parquet sinks;
    * returns their dirs (even, odd, spans, logs). */
  private def runDirs(records: Seq[RawRecord]): Seq[String] = {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[RawRecord]
    input.addData(records)
    val base = Files.createTempDirectory("graft-stream-").toString
    val dirs = Seq("even", "odd", "spans", "logs").map(n => s"$base/$n")
    val q = Pipeline.start(input.toDF(),
      Pipeline.parquetSink(dirs(0)), Pipeline.parquetSink(dirs(1)),
      Pipeline.parquetSink(dirs(2)), Pipeline.parquetSink(dirs(3)),
      s"$base/ckpt")
    q.processAllAvailable(); q.stop()
    dirs
  }

  /** [[runDirs]], read back: the four sink frames. */
  private def run(records: Seq[RawRecord]): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val Seq(even, odd, spans, logs) = runDirs(records).map(spark.read.parquet(_))
    (even, odd, spans, logs)
  }

  private val traceId = "1234567890123456"
  private val parentSpan = "6543210987654321"

  test("scenario 1: trace propagates to the even branch with a fresh span id") {
    // reference: produce 1,2,3 → first even output has value 2, its b3
    // starts with the input traceId but carries a NEW spanId
    val (even, odd, _, _) = run((1 to 3).map(i =>
      record("trace-propagation", i, traceId, parentSpan, i)))
    val evens = even.select(col("key").cast("string"), col("value_int"),
      graft.codec.Codecs.headerLast(col("headers"), "b3").cast("string"))
      .as[(String, Int, String)].collect().sortBy(_._2)
    assert(evens.map(_._2).toSeq === Seq(2))
    val b3 = evens.head._3
    assert(b3.startsWith(traceId + "-"))
    assert(!b3.contains(parentSpan), "a new span must be minted per hop")
    assert(odd.select(col("value_int")).as[Int].collect().sorted.toSeq === Seq(1, 3))
  }

  test("scenario 2: log rows are correlated with the record's trace id") {
    // reference: produce 4,5,6 → odd output 5 exists and the log
    // contains its traceId (MDC correlation as an equi-join)
    val (_, odd, _, logs) = run((4 to 6).map(i =>
      record("log-correlation", i, traceId, parentSpan, i)))
    val first = odd.orderBy(col("offset"))
      .select(col("value_int")).as[Int].head()
    assert(first === 5)
    val correlated = graft.ops.ContextOps.correlate(
      odd.select(col("trace_id"), col("value_int")),
      logs.filter(col("trace_id").isNotNull).select(col("trace_id"), col("line")))
    assert(correlated.count() > 0)
    // the odd-branch peek is UNTRACED: its log rows carry null context
    assert(logs.filter(col("line").startsWith("Odd number:"))
      .filter(col("trace_id").isNotNull).count() === 0)
  }

  test("scenario 3: baggage propagates to output headers and traced logs") {
    // reference: produce 8 → output header messageid=messageid_8 and
    // the log contains messageid_8
    val (even, _, _, logs) = run(Seq(record("extra-field", 8, traceId, parentSpan, 1)))
    val mid = even.select(
      graft.codec.Codecs.headerLast(col("headers"), "messageid").cast("string"))
      .as[String].head()
    assert(mid === "messageid_8")
    assert(logs.filter(col("messageid") === "messageid_8").count() > 0)
  }

  test("parquet sinks write no dictionary page; the rows read back equal processBatch's") {
    // low-cardinality keys and topic: a dictionary-encoding writer would keep their dictionaries
    val records = (1 to 40).map(i => record(s"k${i % 3}", i, traceId, parentSpan, i)) :+
      record("unheadered", 41, traceId, parentSpan, 41).copy(headers = Seq.empty)
    val dirs = runDirs(records)
    val conf = spark.sparkContext.hadoopConfiguration
    val chunks = dirs.flatMap { d =>
      new java.io.File(d).listFiles().toSeq.filter(_.getName.endsWith(".parquet")).flatMap { f =>
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f.toURI), conf))
        try r.getFooter.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala)
          .map(c => (s"${f.getName}:${c.getPath.toDotString}", c.hasDictionaryPage))
        finally r.close()
      }
    }
    assert(chunks.nonEmpty)
    val dictionary = chunks.filter(_._2).map(_._1)
    assert(dictionary.isEmpty, s"column chunks with a dictionary page: $dictionary")
    val want = Pipeline.processBatch(spark.createDataFrame(records))
    val wants = Seq(want._1, want._2, want._3, want._4)
    dirs.zip(wants).foreach { case (d, w) =>
      val got = spark.read.parquet(d)
      assert(got.columns.toSeq === w.columns.toSeq, d)
      assert(got.exceptAll(w).isEmpty && w.exceptAll(got).isEmpty, d)
    }
  }

  test("windowed branch stats finalize once the watermark passes") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[RawRecord]
    val stats = Pipeline.windowedBranchStats(input.toDF(), "10 seconds", "1 minute")
    val q = stats.writeStream.format("memory").queryName("winstats")
      .outputMode("append").start()
    try {
      input.addData((1 to 4).map(i => record("win", i, traceId, parentSpan, i)))
      q.processAllAvailable()
      // append mode: the open window emits nothing until the watermark moves
      assert(spark.table("winstats").count() === 0)
      input.addData(Seq(record("win", 9, traceId, parentSpan, 1000000))) // +1000s
      q.processAllAvailable()
      input.addData(Seq(record("win", 11, traceId, parentSpan, 2000000)))
      q.processAllAvailable()
      val rows = spark.table("winstats")
        .select(col("branch"), col("n"), col("sum_value"))
        .as[(String, Long, Long)].collect().sortBy(_._1)
      assert(rows.contains(("even", 2L, 6L)))  // values 2+4
      assert(rows.contains(("odd", 2L, 4L)))   // values 1+3
    } finally q.stop()
  }

  test("brancher is first-match-wins with overlapping predicates") {
    // reference KafkaStreamBrancher semantics: a record matching several
    // predicates goes to the FIRST matching branch only
    import org.apache.spark.sql.functions.{col, pmod, lit}
    val df = spark.range(1, 11).toDF("value_int")
    val branches = graft.ops.ContextOps.branch(df,
      Seq("big" -> (col("value_int") > 5),
        "even" -> (pmod(col("value_int"), lit(2)) === 0)),
      "rest")
    val got = branches.map { case (n, b) =>
      n -> b.select("value_int").as[Long].collect().sorted.toSeq
    }.toMap
    assert(got("big") === Seq(6L, 7L, 8L, 9L, 10L))  // 6,8,10 NOT in "even"
    assert(got("even") === Seq(2L, 4L))
    assert(got("rest") === Seq(1L, 3L, 5L))
    assert(got.values.map(_.size).sum === 10)
  }

  test("streaming dedup suppresses re-delivered records, state bounded by watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[RawRecord]
    val out = Pipeline.dedupStream(input.toDF(), "1 hour")
    val q = out.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      val r = record("dup-key", 7, traceId, parentSpan, 1)
      input.addData(Seq(r, r.copy(offset = 2))) // same key/value/ts re-delivery
      q.processAllAvailable()
      input.addData(Seq(r.copy(offset = 3)))    // re-delivery in a later batch
      q.processAllAvailable()
      assert(spark.table("dedup_out").filter(col("key") === "dup-key").count() === 1)
    } finally q.stop()
  }

  test("streaming dedup output equals the batch dedup of the same records") {
    // the last place batch/streaming semantics could drift: the exact-
    // dedup family run through dropDuplicates on a stream must keep the
    // same key set as the batch form over the identical records
    implicit val sqlCtx = spark.sqlContext
    val recs = Seq(
      record("a", 1, traceId, parentSpan, 1),
      record("a", 1, traceId, parentSpan, 1).copy(offset = 2), // dup (same ts)
      record("a", 2, traceId, parentSpan, 3),
      record("b", 1, traceId, parentSpan, 4),
      record("b", 1, traceId, parentSpan, 4).copy(offset = 5), // dup (same ts)
      record("b", 1, traceId, parentSpan, 6))                  // later ts: kept
    val input = MemoryStream[RawRecord]
    val q = Pipeline.dedupStream(input.toDF(), "1 hour")
      .writeStream.format("memory").queryName("dedup_twin")
      .outputMode("append").start()
    try {
      input.addData(recs.take(3)); q.processAllAvailable()
      input.addData(recs.drop(3)); q.processAllAvailable()
      val streaming = spark.table("dedup_twin")
        .select(col("key"), col("value_int"), col("ts"))
        .as[(String, Int, Timestamp)].collect().toSet
      val batch = graft.ops.ContextOps.setBaggage(
          graft.ops.ContextOps.decode(recs.toDF()))
        .dropDuplicates(Seq("key", "value_int", "ts"))
        .select(col("key"), col("value_int"), col("ts"))
        .as[(String, Int, Timestamp)].collect().toSet
      assert(streaming === batch)
      assert(streaming.size === 4, "two planted duplicates must be suppressed")
    } finally q.stop()
  }

  test("ingest dedup drops corpus matches and in-stream duplicates, passes fresh records") {
    implicit val sqlCtx = spark.sqlContext
    // static corpus already contains the content ("seen", 1)
    val corpus = Seq(("seen", 1)).toDF("k", "v")
      .select(graft.codec.Codecs.portableHash(
        concat_ws("|", col("k"), col("v"))).as("content_hash"))
    val input = MemoryStream[RawRecord]
    val out = Pipeline.ingestDedup(input.toDF(), corpus, "1 hour")
    val q = out.writeStream.format("memory").queryName("ingest_dedup")
      .outputMode("append").start()
    try {
      val dup = record("fresh", 7, traceId, parentSpan, 1)
      input.addData(Seq(
        record("seen", 1, traceId, parentSpan, 2),  // in corpus: dropped
        dup,
        // in-stream dup at a LATER event time (same content): dropped
        dup.copy(offset = 3, timestamp = new Timestamp(1700000000500L)),
        record("fresh", 9, traceId, parentSpan, 4))) // fresh: survives
      q.processAllAvailable()
      val got = spark.table("ingest_dedup")
        .select(col("key"), col("value_int")).as[(String, Int)].collect().toSet
      assert(got === Set(("fresh", 7), ("fresh", 9)))
    } finally q.stop()
  }

  test("streaming decontam gate flags only true eval-gram hits, statelessly") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val evalDocs = Seq((100L, "the quick brown fox jumps")).toDF("doc_id", "text")
    val input = MemoryStream[(Long, String)]
    val out = Pipeline.decontamGate(
      input.toDF().toDF("doc_id", "text"), evalDocs, 3)
    val q = out.writeStream.format("memory").queryName("decontam_gate")
      .outputMode("append").start()
    try {
      input.addData(Seq(
        (1L, "the quick brown fox jumps high today"), // 3 shared 3-grams
        (2L, "completely different text entirely here"))) // clean
      q.processAllAvailable()
      val got = spark.table("decontam_gate")
        .groupBy(col("doc_id")).count()
        .as[(Long, Long)].collect().toMap
      assert(got === Map(1L -> 3L),
        "contaminated doc surfaces its three shared grams; the clean doc is silent")
      // the gate holds NO streaming state: re-sending the clean doc
      // must still emit nothing (pure per-row decision, no dedup state)
      input.addData(Seq((3L, "completely different text entirely here")))
      q.processAllAvailable()
      assert(spark.table("decontam_gate").filter(col("doc_id") === 3L).count() === 0L)
    } finally q.stop()
  }

  test("streaming winnow gate flags fingerprint-sharing pairs once, matching the batch sets") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val corpus = Seq(
      (100L, "alpha beta gamma delta eps zeta eta theta iota kappa"),
      (200L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    val input = MemoryStream[(Long, String)]
    val out = Pipeline.winnowGate(
      input.toDF().toDF("doc_id", "text"), corpus, n = 3, w = 4, minShared = 2)
    val q = out.writeStream.format("memory").queryName("winnow_gate")
      .outputMode("append").start()
    try {
      // doc 1 copies corpus doc 100 with a new tail (shares its
      // fingerprints); doc 2 is unrelated vocabulary
      input.addData(Seq(
        (1L, "alpha beta gamma delta eps zeta eta theta iota kappa lambda mu"),
        (2L, "red orange yellow green blue indigo violet pink")))
      q.processAllAvailable()
      val got = spark.table("winnow_gate")
        .as[(Long, Long, Long)].collect().toSet
      // exactly one row per flagged pair (first-match-wins, no dedup
      // state), and n_shared equals the BATCH winnow set overlap
      val batchFps = graft.ext.TextOps
        .winnow(Seq(
          (1L, "alpha beta gamma delta eps zeta eta theta iota kappa lambda mu"),
          (100L, "alpha beta gamma delta eps zeta eta theta iota kappa"))
          .toDF("doc_id", "text"), 3, 4)
        .select(col("doc_id"), col("fp")).as[(Long, Long)].collect()
        .groupBy(_._1).map { case (d, r) => d -> r.map(_._2).toSet }
      val expectShared = (batchFps(1L) intersect batchFps(100L)).size.toLong
      assert(expectShared >= 2L, s"fixture must actually share fingerprints, got $expectShared")
      assert(got === Set((1L, 100L, expectShared)),
        s"one flagged pair with the batch-set overlap; got $got")
      // stateless: replaying the clean doc still emits nothing
      input.addData(Seq((3L, "red orange yellow green blue indigo violet pink")))
      q.processAllAvailable()
      assert(spark.table("winnow_gate").filter(col("doc_id") === 3L).count() === 0L)
    } finally q.stop()
  }

  test("streaming substring gate reproduces the batch cross-doc dup fraction on replay") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val corpusRows = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "x y a b c d e f g z"),
      (3L, "completely different tokens only here now"))
    val corpus = corpusRows.toDF("doc_id", "text")
    val batch = graft.ext.Dedup.crossDocDupFraction(corpus, 5, 30)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    val input = MemoryStream[(Long, String)]
    val out = Pipeline.substringGate(
      input.toDF().toDF("doc_id", "text"), corpus, n = 5, maxFrac = 0.5)
    val q = out.writeStream.format("memory").queryName("substr_gate")
      .outputMode("append").start()
    try {
      // replay the corpus itself: every emitted verdict must carry the
      // batch operator's (n_tok, dup_tokens, dup_frac) exactly — the
      // self-match rule (nd >= 2 or other owner) is what makes this hold
      input.addData(corpusRows)
      q.processAllAvailable()
      val got = spark.table("substr_gate")
        .as[(Long, Long, Long, Double, Boolean)].collect()
        .map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap
      assert(got.keySet === Set(1L, 2L), s"docs with matches only; got $got")
      for ((d, (nt, dt, fr, admit)) <- got) {
        assert((nt, dt, fr) === batch(d), s"doc $d diverges from batch")
        assert(!admit, s"doc $d at frac $fr must be rejected above 0.5")
      }
      // absence = batch zero
      assert(batch(3L)._2 === 0L)
      // a NOVEL doc sharing the corpus run is scored against it; its
      // unique tail keeps it under threshold when diluted enough
      input.addData(Seq((9L, "a b c d e f g brand new stuff plus extra filler")))
      q.processAllAvailable()
      val novel = spark.table("substr_gate").filter(col("doc_id") === 9L)
        .as[(Long, Long, Long, Double, Boolean)].collect()
      assert(novel.length === 1)
      // matched gram starts 0..2 cover tokens [0,6] of 13
      assert(novel.head._2 === 13L && novel.head._3 === 7L)
      assert(novel.head._4 === 0.5385 && !novel.head._5)
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None    => spark.conf.unset(providerKey)
      }
    }
  }

  test("streaming span decontam emits maximal contaminated spans, statelessly") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val evalDocs = Seq((100L, "the quick brown fox jumps")).toDF("doc_id", "text")
    val input = MemoryStream[(Long, String)]
    val out = Pipeline.decontamSpans(
      input.toDF().toDF("doc_id", "text"), evalDocs, 3)
    val q = out.writeStream.format("memory").queryName("decontam_spans")
      .outputMode("append").start()
    try {
      // tokens: xx the quick brown fox jumps yy the quick brown fox
      // eval-hit 3-gram positions: 1,2,3 (run) and 7,8 (run); the gap
      // 7-3=4 > n=3 keeps them separate spans — the duplicatedSpans rule
      input.addData(Seq(
        (1L, "xx the quick brown fox jumps yy the quick brown fox"),
        (2L, "completely different text entirely here")))
      q.processAllAvailable()
      def spans(): Set[(Long, Long, Long, Long)] = spark.table("decontam_spans")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(spans() === Set((1L, 1L, 5L, 3L), (1L, 7L, 10L, 2L)),
        "two maximal spans for the contaminated doc, silence for the clean one")
      // statelessness: re-sending the same document re-emits the SAME
      // spans (pure per-row computation — no dedup state, no watermark)
      input.addData(Seq((1L, "xx the quick brown fox jumps yy the quick brown fox")))
      q.processAllAvailable()
      val again = spark.table("decontam_spans")
        .groupBy(col("doc_id"), col("span_start")).count()
        .as[(Long, Long, Long)].collect().toSet
      assert(again === Set((1L, 1L, 2L), (1L, 7L, 2L)),
        "re-send must re-emit identical spans, doubled counts, nothing else")
    } finally q.stop()
  }

  test("stream-stream correlation joins records to their log rows across two live streams") {
    implicit val sqlCtx = spark.sqlContext
    val recIn = MemoryStream[RawRecord]
    val logIn = MemoryStream[RawRecord]
    val recs = graft.ops.ContextOps.setBaggage(graft.ops.ContextOps.decode(recIn.toDF()))
      .select(col("trace_id"), col("value_int"), col("ts"))
    val logSide = graft.ops.ContextOps.setBaggage(graft.ops.ContextOps.decode(logIn.toDF()))
    val logs = graft.ops.ContextOps.logRows(logSide, lit("set"),
        concat(lit("Got number: "), col("value_int").cast("string")), traced = lit(true))
      .select(col("trace_id"), col("ts").as("log_ts"), col("line"))
    val q = Pipeline.correlateStreams(recs, logs, "10 minutes")
      .writeStream.format("memory").queryName("sscorr")
      .outputMode("append").start()
    try {
      val otherTrace = "ffffffffffffffff"
      recIn.addData(Seq(record("rec", 2, traceId, parentSpan, 1)))
      logIn.addData(Seq(
        record("log", 2, traceId, parentSpan, 1),       // same trace: joins
        record("log", 4, otherTrace, parentSpan, 2)))   // other trace: no match
      q.processAllAvailable()
      val got = spark.table("sscorr")
        .select(col("trace_id"), col("line")).as[(String, String)].collect().toSeq
      assert(got === Seq((traceId, "Got number: 2")))
    } finally q.stop()
  }

  test("streaming incremental gate equals the batch incremental dedup, statelessly") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val all = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    // same split as d_incremental_dedup: batch = doc_id%10==0 arrives
    // as a stream, the rest is the static corpus
    val batchDocs = all.filter(col("doc_id") % 10 === 0)
      .as[(Long, String)].collect().toSeq
    val corpus = all.filter(col("doc_id") % 10 =!= 0)
    val expected = graft.ext.Dedup.incrementalNearDups(all,
        col("doc_id") % 10 === 0, 3, 16, 4, 4, 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(expected.nonEmpty, "fixture must contain crossing near-dups")
    val input = MemoryStream[(Long, String)]
    val out = Pipeline.incrementalGate(
      input.toDF().toDF("doc_id", "text"), corpus, 3, 16, 4, 4, 0.5)
    val q = out.writeStream.format("memory").queryName("incr_gate")
      .outputMode("append").start()
    try {
      val (half1, half2) = batchDocs.splitAt(batchDocs.size / 2)
      input.addData(half1); q.processAllAvailable()
      input.addData(half2); q.processAllAvailable()
      val got = spark.table("incr_gate")
        .as[(Long, Long, Double)].collect().toSet
      assert(got === expected,
        "per-row fold signature + band probe must reproduce the batch pairs exactly")
      // statelessness: re-sending a matched doc re-emits identical
      // rows (no dedup state — first-match-wins is row-local)
      val matchedDoc = expected.head._1
      input.addData(batchDocs.filter(_._1 == matchedDoc))
      q.processAllAvailable()
      val counts = spark.table("incr_gate")
        .filter(col("doc_id") === matchedDoc)
        .groupBy(col("doc_id"), col("corpus_doc")).count()
        .select(col("count")).as[Long].collect().toSeq
      assert(counts.nonEmpty && counts.forall(_ === 2L),
        "re-send must exactly double each of the doc's pair rows")
    } finally q.stop()
  }

  test("streaming DSIR gate reproduces the batch weights and prices unseen buckets") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"), col("source"))
    val expected = graft.ext.TextOps
      .dsirWeights(corpus, col("source") === "src0", 1024)
      .select(col("doc_id"), col("n_grams"), col("log_w"))
      .as[(Long, Long, Double)].collect().toSet
    assert(expected.nonEmpty)
    val docs = corpus.select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toSeq
    val input = MemoryStream[(Long, String)]
    val out = Pipeline.dsirGate(input.toDF().toDF("doc_id", "text"),
      corpus, col("source") === "src0", 1024, 0.0)
    val q = out.writeStream.format("memory").queryName("dsir_gate")
      .outputMode("append").start()
    try {
      // corpus docs replayed through the gate must score exactly the
      // batch weights (same buckets, same frozen model)
      input.addData(docs); q.processAllAvailable()
      val got = spark.table("dsir_gate")
        .select(col("doc_id"), col("n_grams"), col("log_w"))
        .as[(Long, Long, Double)].collect().toSet
      assert(got === expected,
        "row-local literal-map fold must reproduce the batch bucket-join scores")
      // a novel doc's bigrams hash into buckets the corpus may or may
      // not occupy (the hashing trick's collisions are part of the
      // model): the gate must price each by the model entry when the
      // bucket exists and by the smoothing prior when it doesn't —
      // recompute the exact expected score from the collected model
      val (model, unseen) = graft.ext.TextOps.dsirModelRows(
        corpus, col("source") === "src0", 1024)
      val m = model.toMap
      def ph(s: String): Long = { // JVM mirror of Codecs.portableHash
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(s.getBytes("UTF-8"))
        java.lang.Long.parseLong(d.take(7).map("%02x".format(_)).mkString, 16)
      }
      val novel = Seq("qqxx", "wwyy", "zzkk", "rrtt", "uuvv")
      val expectedOod = novel.sliding(2)
        .map(p => m.getOrElse(ph(p.mkString(" ")) % 1024, unseen)).sum
      input.addData(Seq((999999L, novel.mkString(" ")))); q.processAllAvailable()
      val ood = spark.table("dsir_gate").filter(col("doc_id") === 999999L)
        .select(col("log_w"), col("admit")).as[(Double, Boolean)].head()
      assert(math.abs(ood._1 - expectedOod) < 1e-3,
        s"novel bigrams must be priced by model entry or prior ($expectedOod): $ood")
      assert(ood._2 === (ood._1 >= 0.0))
    } finally q.stop()
  }

  test("streaming ANN probe equals the batch store search, statelessly") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val store = emb.filter(col("vec_id") >= 8)
    val queries = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().toSeq
    val expected = graft.ext.Similarity.ivfSearchStore(
        emb.filter(col("vec_id") < 8).select(col("vec_id").as("q_id"), col("embedding")),
        store, 3, 8)
      .select(col("q_id"), col("neighbor_id"), col("rnk"), col("cos"))
      .as[(Long, Long, Int, Double)].collect().toSet
    assert(expected.nonEmpty, "store search must return neighbors")
    val input = MemoryStream[(Long, Array[Float])]
    val out = Pipeline.annStream(input.toDF().toDF("q_id", "embedding"), store, 8)
    val q = out.writeStream.format("memory").queryName("ann_stream")
      .outputMode("append").start()
    try {
      val (half1, half2) = queries.splitAt(queries.size / 2)
      input.addData(half1); q.processAllAvailable()
      input.addData(half2); q.processAllAvailable()
      // the stream emits scored cell-mates; the top-k cut is the
      // consumer's batch-land rollup — apply it and compare exactly
      val got = spark.table("ann_stream")
        .withColumn("rnk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("q_id")).orderBy(col("cos").desc, col("neighbor_id"))))
        .filter(col("rnk") <= 3)
        .as[(Long, Long, Double, Int)].collect()
        .map(r => (r._1, r._2, r._4, r._3)).toSet
      assert(got === expected,
        "literal-codebook cell assignment + cell join must reproduce the batch search")
      // statelessness: a re-sent query re-emits identical candidate rows
      val someQ = queries.head._1
      val before = spark.table("ann_stream").filter(col("q_id") === someQ).count()
      input.addData(queries.filter(_._1 == someQ)); q.processAllAvailable()
      val after = spark.table("ann_stream").filter(col("q_id") === someQ).count()
      assert(after === 2 * before, "re-send must exactly double the query's rows")
    } finally q.stop()
  }

  test("malformed values route to the default branch instead of vanishing") {
    // a 2-byte payload decodes to null value_int; the null parity
    // predicate must fall through to the default (odd) branch
    val bad = RawRecord("bad".getBytes("UTF-8"), Array[Byte](1, 2), "numbers", 0, 99L,
      new Timestamp(1700000000099L), 0,
      Seq(Header("b3", s"$traceId-$parentSpan-1".getBytes("UTF-8"))))
    val (even, odd, _, _) = run(Seq(record("ok", 2, traceId, parentSpan, 1), bad))
    assert(even.count() + odd.count() === 2)
    assert(odd.filter(col("key") === "bad").count() === 1)
  }

  test("branches are disjoint and span names cover every hop") {
    val (even, odd, spans, _) = run((1 to 10).map(i =>
      record("disjoint", i, traceId, parentSpan, i)))
    assert(even.count() + odd.count() === 10)
    assert(even.join(odd, Seq("offset")).count() === 0)
    val names = spans.select(col("name")).distinct().as[String].collect().toSet
    assert(names === Set("set", "send-even", "send-odd"))
    // span enrichment rewrites remoteServiceName on send spans only
    val enriched = graft.ops.ContextOps.spanEnrich(spans)
    val rsn = enriched.filter(col("name") === "send-even")
      .select(col("remote_service_name")).distinct().as[String].collect().toSeq
    assert(rsn === Seq("kafka/even-numbers"))
  }

  test("streaming session windows equal the batch session aggregation on a replay") {
    implicit val sqlCtx = spark.sqlContext
    val t0 = 1700000000000L
    // user 1: two sessions split by a >30min gap (events at 0/10/25min,
    // then 70/75min); user 2: one single-event session; plus an
    // out-of-order late event inside the watermark (15min, arrives
    // after 25min) that must merge into user 1's first session
    def ev(u: Long, offMin: Long) = SessionEv(u, new Timestamp(t0 + offMin * 60000L))
    val fixture = Seq(ev(1, 0), ev(1, 10), ev(1, 25), ev(1, 15),
      ev(1, 70), ev(1, 75), ev(2, 40))
    // batch mode: the same function over a static frame (the
    // watermark is a no-op there); its lag/sum-break equivalence is
    // already pinned by the a_session_window oracle row
    val expected = Pipeline.sessionStats(fixture.toDF(), "2 hours", "30 minutes")
      .as[(Long, Long, Long, Long)].collect().toSet

    val input = MemoryStream[SessionEv]
    val out = Pipeline.sessionStats(input.toDF(), "10 minutes", "30 minutes")
    val q = out.writeStream.format("memory").queryName("session_stream")
      .outputMode("append").start()
    try {
      input.addData(fixture: _*)
      q.processAllAvailable()
      input.addData(ev(99, 600)) // advance the watermark past all sessions
      q.processAllAvailable()
      val streamed = spark.table("session_stream")
        .as[(Long, Long, Long, Long)].collect()
        .filterNot(_._1 == 99L).toSet
      assert(streamed === expected)
      // hand-checked: user 1 sessions [0, 25+30min] (4 events, the
      // late 15min row merged) and [70, 75+30min] (2 events)
      val u1 = streamed.filter(_._1 == 1L)
      assert(u1.map(r => (r._4, (r._3 - r._2) / 60000000L)) ===
        Set((4L, 55L), (2L, 35L)))
    } finally q.stop()
  }

  test("streaming embedding drift equals the batch centroid means on a replay") {
    implicit val sqlCtx = spark.sqlContext
    val t0 = 1700000040000L // minute-aligned
    def ob(offS: Long, v: Seq[Double]) = VecObs(new Timestamp(t0 + offS * 1000L), v)
    // two 1-minute windows; exact fixed-point sums make the centroid
    // bit-stable across arrival orders and partitionings
    val fixture = Seq(
      ob(0, Seq(1.0, 2.0)), ob(10, Seq(3.0, 4.0)), ob(50, Seq(-1.0, 0.5)),
      ob(70, Seq(10.0, 10.0)), ob(80, Seq(0.0, -10.0)))
    val expected = Pipeline.embeddingDrift(fixture.toDF(), 2, "2 hours", "1 minute")
      .as[(Long, Long, Seq[Double])].collect().toSet

    val input = MemoryStream[VecObs]
    val out = Pipeline.embeddingDrift(input.toDF(), 2, "10 seconds", "1 minute")
    val q = out.writeStream.format("memory").queryName("drift_stream")
      .outputMode("append").start()
    try {
      input.addData(fixture: _*)
      q.processAllAvailable()
      input.addData(ob(3600, Seq(0.0, 0.0))) // advance the watermark
      q.processAllAvailable()
      val streamed = spark.table("drift_stream")
        .as[(Long, Long, Seq[Double])].collect()
        .filter(r => r._1 < (t0 + 3000000L) * 1000L).toSet
      assert(streamed === expected)
      // hand-checked: window 0 mean = ((1+3-1)/3, (2+4+0.5)/3)
      val w0 = streamed.find(_._1 == t0 * 1000L).get
      assert(w0._2 === 3L && w0._3 === Seq(1.0, 6.5 / 3.0))
    } finally q.stop()
  }

  test("drift alarm flags the flipped centroid and is replay-split invariant") {
    implicit val sqlCtx = spark.sqlContext
    // four closed windows: steady +x, then a flip to +y (the injected
    // drift event), then steady again
    val cents = Seq(
      Pipeline.CentroidObs(1000L, 3L, Seq(1.0, 0.0)),
      Pipeline.CentroidObs(2000L, 4L, Seq(0.9, 0.1)),
      Pipeline.CentroidObs(3000L, 5L, Seq(0.0, 1.0)),
      Pipeline.CentroidObs(4000L, 2L, Seq(0.1, 0.9)))
    def run(name: String, batches: Seq[Seq[Pipeline.CentroidObs]]): Seq[Pipeline.DriftAlert] = {
      val input = MemoryStream[Pipeline.CentroidObs]
      val q = Pipeline.driftAlarm(input.toDS(), 0.8)
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
        spark.table(name).as[Pipeline.DriftAlert].collect()
          .sortBy(_.window_start_us).toSeq
      } finally q.stop()
    }
    val oneBatch = run("drift_a", Seq(cents))
    // hand-checked: cos(w1,w2)=0.9/√0.82≈0.99388, cos(w2,w3)=0.1/√0.82
    // ≈0.11043 (<0.8 ⇒ alert), cos(w3,w4)=0.9/√0.82
    assert(oneBatch.map(_.window_start_us) === Seq(1000L, 2000L, 3000L, 4000L))
    assert(oneBatch.head.cos_prev.isEmpty && !oneBatch.head.alert)
    assert(oneBatch.map(_.alert) === Seq(false, false, true, false))
    val eps = 1e-9
    assert(math.abs(oneBatch(1).cos_prev.get - 0.9 / math.sqrt(0.82)) < eps)
    assert(math.abs(oneBatch(2).cos_prev.get - 0.1 / math.sqrt(0.82)) < eps)
    assert(math.abs(oneBatch(3).cos_prev.get - 0.9 / math.sqrt(0.82)) < eps)
    // batch-replay agreement: the same centroids through per-row
    // triggers (state crossing every boundary) emit identical rows
    val perRow = run("drift_b", cents.map(Seq(_)))
    assert(perRow === oneBatch)
  }

  test("ANN serve gate emits exactly the batch store-search answers at window close") {
    implicit val sqlCtx = spark.sqlContext
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val store = emb.filter(col("vec_id") >= 8)
    val expected = graft.ext.Similarity.ivfSearchStore(
        emb.filter(col("vec_id") < 8).select(col("vec_id").as("q_id"), col("embedding")),
        store, 3, 8)
      .select(col("q_id"), col("neighbor_id"), col("rnk"), col("cos"))
      .as[(Long, Long, Int, Double)].collect().toSet
    assert(expected.nonEmpty, "store search must return neighbors")
    val t0 = 1700000040000L // minute-aligned
    val queries = emb.filter(col("vec_id") < 8)
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])].collect()
      .map { case (id, v) => QVecObs(new Timestamp(t0 + id * 1000L), id, v) }.toSeq
    val input = MemoryStream[QVecObs]
    val out = Pipeline.annGate(input.toDF(), store, 8, 3, "10 seconds", "1 minute")
    val q = out.writeStream.format("memory").queryName("ann_gate")
      .outputMode("append").start()
    try {
      val (half1, half2) = queries.splitAt(queries.size / 2)
      input.addData(half1: _*); q.processAllAvailable()
      input.addData(half2: _*); q.processAllAvailable()
      // advance the watermark far past the query window so it closes
      input.addData(QVecObs(new Timestamp(t0 + 3600 * 1000L), 999L, queries.head.embedding))
      q.processAllAvailable()
      val got = spark.table("ann_gate").filter(col("q_id") < 8)
        .as[(Long, Long, Int, Double)].collect().toSet
      assert(got === expected,
        "the gated stream must emit the batch top-k rows once the window closes")
    } finally q.stop()
  }

  test("chunk gate replays the corpus to the batch apply; novel docs keep unseen chunks") {
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val corpusRows = Seq(
      (1L, "d1 d2 d3 d4 a1 a2 a3 a4"), // chunk0 = keeper of the dup, chunk1 unique
      (2L, "d1 d2 d3 d4"),             // whole doc duplicated -> emptied
      (3L, "u1 u2 u3"))                // short tail chunk, unique
    val corpus = corpusRows.toDF("doc_id", "text")
    val batch = graft.ext.Dedup.chunkDedupApply(corpus, 4)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val out = Pipeline.chunkGate(input.toDF().toDF("doc_id", "text"), corpus, n = 4)
    val q = out.writeStream.format("memory").queryName("chunk_gate")
      .outputMode("append").start()
    try {
      input.addData(corpusRows)
      q.processAllAvailable()
      val got = spark.table("chunk_gate")
        .as[(Long, Long, Long, String)].collect()
        .map(r => r._1 -> (r._2, r._3, r._4)).toMap
      assert(got === batch,
        "a corpus replay must reproduce the batch chunk apply row-for-row")
      assert(got(2L) === ((0L, 1L, "")), "the fully-duplicated doc survives empty")
      // novel doc: the corpus chunk is dropped (it is not the keeper),
      // the unseen chunk is kept
      input.addData(Seq((9L, "d1 d2 d3 d4 n1 n2 n3 n4")))
      q.processAllAvailable()
      val novel = spark.table("chunk_gate").filter(col("doc_id") === 9L)
        .as[(Long, Long, Long, String)].head()
      assert(novel === ((9L, 1L, 1L, "n1 n2 n3 n4")))
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None    => spark.conf.unset(providerKey)
      }
    }
  }

  test("streaming daily distinct emits the batch KMV rows at window close") {
    val rows: Seq[(java.sql.Timestamp, Long)] =
      (0 until 120).map { i =>
        (new java.sql.Timestamp(1700000000000L + (i / 40) * 86400000L + i * 60000L),
          (i * 13 % 37).toLong)
      }
    val static = rows.toDF("ts", "user_id")
    val batch = graft.streaming.Pipeline.dailyDistinct(static, 8, "1 minute")
      .as[(Long, Long)].collect().toMap

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Long)]
    val out = graft.streaming.Pipeline.dailyDistinct(
      input.toDF().toDF("ts", "user_id"), 8, "1 minute")
    val q = out.writeStream.format("memory").queryName("daily_distinct")
      .outputMode("append").start()
    try {
      rows.grouped(50).foreach { slice =>
        input.addData(slice); q.processAllAvailable()
      }
      // sentinel far in the future closes every real window
      input.addData(Seq((new java.sql.Timestamp(1700000000000L + 30L * 86400000L), 999L)))
      q.processAllAvailable()
      // the sentinel's own window never closes, so the closed-window
      // emissions are exactly the batch rows over the real days
      val got = spark.table("daily_distinct")
        .as[(Long, Long)].collect().toMap
      assert(got === batch,
        "closed daily windows must equal the batch KMV computation")
    } finally q.stop()
  }

  test("bm25 gate scores a corpus replay to the batch operator's answers") {
    // 60 filler docs pin the df head; three probe docs carry the
    // derived query terms (the RetrievalSpec corpus)
    val corpusRows: Seq[(Long, String)] =
      (0 until 60).map { i =>
        (i.toLong, (0 to 10).filter(k => i % (k + 1) == 0).map(k => s"f$k").mkString(" "))
      } ++ Seq(
        (100L, "alpha pad pad beta gamma"),
        (101L, "alpha alpha alpha beta gamma"),
        (102L, "alpha beta gamma"))
    val corpus = corpusRows.toDF("doc_id", "text")
    val batch = graft.ext.TextOps.bm25TopK(corpus, 11, 3, 10)
      .as[(Long, Double, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val out = Pipeline.bm25Gate(input.toDF().toDF("doc_id", "text"), corpus, 11, 3)
    val q = out.writeStream.format("memory").queryName("bm25_gate")
      .outputMode("append").start()
    try {
      // split the replay across two micro-batches: the gate is
      // stateless, so the seam must not matter
      val (h1, h2) = corpusRows.splitAt(corpusRows.size / 2)
      input.addData(h1: _*); q.processAllAvailable()
      input.addData(h2: _*); q.processAllAvailable()
      val got = spark.table("bm25_gate")
        .as[(Long, Double, Long)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
      // every batch-scored doc is emitted with the identical term-hit
      // count and a score equal up to the <= 3-summand addition-order
      // noise under the shared round-4 emission
      batch.foreach { case (id, (score, hits)) =>
        val (gs, gh) = got(id)
        assert(gh === hits, s"doc $id term hits")
        assert(math.abs(gs - score) <= 1.01e-4, s"doc $id: gate $gs vs batch $score")
      }
      // only term-matching docs pass the gate: fillers never appear
      assert(got.keySet.forall(_ >= 100L), s"non-matching docs leaked: ${got.keySet}")
    } finally q.stop()
  }
}
