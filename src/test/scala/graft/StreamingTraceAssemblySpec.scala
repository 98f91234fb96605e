package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.StreamingTraceAssembly
import graft.streaming.StreamingTraceAssembly.{AssembledTrace, SpanEvent}

class StreamingTraceAssemblySpec extends SparkSpec {
  import spark.implicits._

  private val t0 = 1700000000000L
  private def ev(trace: String, name: String, offMs: Long) =
    SpanEvent(trace, s"$trace-$name", name, new Timestamp(t0 + offMs))

  test("a trace is emitted once its event-time gap elapses, with bounded state") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[SpanEvent]
    val out = StreamingTraceAssembly.assemble(input.toDS(), "10 seconds", gapMs = 5000L)
    val q = out.writeStream.format("memory").queryName("assembled")
      .outputMode("append").start()
    try {
      // batch 1: trace A accumulates spans — nothing emitted yet
      input.addData(ev("A", "set", 0), ev("A", "send-even", 100))
      q.processAllAvailable()
      assert(spark.table("assembled").count() === 0)

      // batch 2: far-future span advances the watermark past A's gap
      input.addData(ev("B", "set", 3600000))
      q.processAllAvailable()
      // batch 3: timeout processing runs against the advanced watermark
      input.addData(ev("C", "set", 7200000))
      q.processAllAvailable()

      val rows = spark.table("assembled").as[AssembledTrace].collect()
      assert(rows.map(_.trace_id).toSet === Set("A", "B"))
      val a = rows.find(_.trace_id == "A").get
      assert(a.n_spans === 2L)
      assert(a.span_names === "send-even,set")
      assert(a.start_ms === t0 && a.end_ms === t0 + 100)
      // C is still open: state holds ONLY open traces
      assert(!rows.exists(_.trace_id == "C"))
    } finally q.stop()
  }

  test("late spans within the watermark still join their open trace") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[SpanEvent]
    val out = StreamingTraceAssembly.assemble(input.toDS(), "1 hour", gapMs = 10000L)
    val q = out.writeStream.format("memory").queryName("assembled_late")
      .outputMode("append").start()
    try {
      input.addData(ev("T", "set", 5000))
      q.processAllAvailable()
      input.addData(ev("T", "send-odd", 0)) // late by 5s, inside watermark
      q.processAllAvailable()
      input.addData(ev("Z", "set", 86400000L * 2)) // advance watermark far
      q.processAllAvailable()
      input.addData(ev("Z2", "set", 86400000L * 3))
      q.processAllAvailable()
      val t = spark.table("assembled_late").as[AssembledTrace].collect()
        .find(_.trace_id == "T").get
      assert(t.n_spans === 2L)
      assert(t.span_names === "send-odd,set")
    } finally q.stop()
  }

  test("streaming bucket-fill packer reproduces the batch packer's bucket-local offsets") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingPacker
    import graft.streaming.StreamingPacker.{DocSize, PackedDoc}
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // ten docs of 1..5 tokens, bucketWidth 4, 10-token chunks
    val docs = (0L until 10L).map(i =>
      (i, Seq.fill((i % 5 + 1).toInt)("tok").mkString(" ")))
    val batch = graft.ext.TextOps
      .packSequences(docs.toDF("doc_id", "text"), 10L, 4L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // bucket-local expectation derived FROM the batch result: the
    // bucket base is its first doc's global tok_start
    val expected = batch.groupBy(_._1 / 4).toSeq.flatMap { case (b, rows) =>
      val base = rows.map(_._3).min
      rows.toSeq.map(r =>
        PackedDoc(r._1, b, r._2, r._3 - base, (r._3 - base) / 10L))
    }.toSet
    val input = MemoryStream[DocSize]
    val out = StreamingPacker.packSequences(input.toDS(), 10L)
    val q = out.writeStream.format("memory").queryName("packed")
      .outputMode("append").start()
    try {
      // replay in doc_id order per bucket, sliced mid-bucket across
      // two micro-batches — state must carry the partial fill
      val sizes = docs.map { case (id, t) =>
        DocSize(id, id / 4, t.split(" ").length.toLong) }
      input.addData(sizes.take(6): _*); q.processAllAvailable()
      input.addData(sizes.drop(6): _*); q.processAllAvailable()
      val got = spark.table("packed").as[PackedDoc].collect().toSet
      assert(got === expected)
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None    => spark.conf.unset(providerKey)
      }
    }
  }

  test("streaming packer fails loudly on out-of-order cross-batch replay") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingPacker
    import graft.streaming.StreamingPacker.DocSize
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[DocSize]
    val out = StreamingPacker.packSequences(input.toDS(), 10L)
    val q = out.writeStream.format("memory").queryName("packed_ooo")
      .outputMode("append").start()
    try {
      // batch 1 packs docs 5,6 of bucket 0; batch 2 replays doc 3 —
      // its offset would silently diverge from the batch packer, so
      // the contract is to fail the query, not to pack it
      input.addData(DocSize(5L, 0L, 2L), DocSize(6L, 0L, 3L))
      q.processAllAvailable()
      input.addData(DocSize(3L, 0L, 1L))
      val e = intercept[Exception](q.processAllAvailable())
      def causes(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: causes(t.getCause)
      assert(causes(e).exists(c => c.getMessage != null &&
        c.getMessage.contains("doc_id order")), s"unexpected failure: $e")
    } finally {
      try q.stop() catch { case _: Throwable => () }
      prev match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None    => spark.conf.unset(providerKey)
      }
    }
  }

  test("hot-key tracker emits once at the threshold crossing, counts across batches") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingHotKeys
    import graft.streaming.StreamingHotKeys.{HotKey, KeyedItem}
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[KeyedItem]
    val out = StreamingHotKeys.hotKeys(input.toDS(), threshold = 3L)
    val q = out.writeStream.format("memory").queryName("hot_keys")
      .outputMode("append").start()
    try {
      // batch 1: key 7 twice (below), key 9 three times (crosses NOW)
      input.addData(KeyedItem(7L), KeyedItem(7L),
        KeyedItem(9L), KeyedItem(9L), KeyedItem(9L))
      q.processAllAvailable()
      val b1 = spark.table("hot_keys").as[HotKey].collect().toSet
      assert(b1 === Set(HotKey(9L, 3L)), "only the crossing key emits")

      // batch 2: key 7 crosses via state carried across batches;
      // key 9 keeps counting but must NOT re-emit
      input.addData(KeyedItem(7L), KeyedItem(9L))
      q.processAllAvailable()
      val b2 = spark.table("hot_keys").as[HotKey].collect().toSet
      assert(b2 === Set(HotKey(9L, 3L), HotKey(7L, 3L)),
        "7 crosses on its carried count; 9 stays emitted-once")
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None    => spark.conf.unset(providerKey)
      }
    }
  }
}
