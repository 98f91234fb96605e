package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.{Pipeline, StreamingTransitions}

/** Replay-agreement pins for the governance/behavior twins: the FK
  * gate must emit exactly the batch rule's violating rows (and
  * nothing else), and the transition twin's emitted rows must
  * aggregate to the batch transition matrix. */
class StreamingGovernanceSpec extends SparkSpec {
  import spark.implicits._

  private val providerKey = "spark.sql.streaming.stateStore.providerClass"

  private def withRocksDB(body: => Unit): Unit = {
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(providerKey, v)
      case None    => spark.conf.unset(providerKey)
    }
  }

  test("fk gate routes exactly the orphaned rows, valid rows never leave") {
    val dim = (0L until 50L).map(k => (k, s"name$k")).toDF("c_custkey", "c_name")
    val facts = (0 until 40).map(i =>
      (i.toLong, if (i % 5 == 0) 100L + i else (i % 50).toLong))
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long)]
    val out = Pipeline.fkGate(input.toDF().toDF("o_orderkey", "o_custkey"),
      dim, "o_custkey", "c_custkey", "orders.o_custkey -> customer.c_custkey")
    val q = out.writeStream.format("memory").queryName("fk_gate")
      .outputMode("append").start()
    try {
      val (h1, h2) = facts.splitAt(20)
      input.addData(h1); q.processAllAvailable()
      input.addData(h2); q.processAllAvailable()
      val got = spark.table("fk_gate")
        .as[(Long, Long, String)].collect().toSet
      val expect = facts.filter(_._2 >= 100L)
        .map(f => (f._1, f._2, "orders.o_custkey -> customer.c_custkey")).toSet
      assert(got === expect, "gate output must be exactly the orphans")
    } finally q.stop()
  }

  test("ahash gate equals the exhaustive probe-vs-corpus join on a replay") {
    val corpus = SparkEntry.T(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"))
    // probes: the same texts under shifted ids, so every probe has at
    // least its exact twin in the corpus
    val probeRows = corpus.as[(Long, String)].collect()
      .map { case (id, t) => (id + 1000000L, t) }
    val pf = graft.ext.Multimodal.ahashFingerprints(
      probeRows.toSeq.toDF("doc_id", "text"))
      .as[(Long, Long)].collect()
    val cf = graft.ext.Multimodal.ahashFingerprints(corpus)
      .as[(Long, Long)].collect()
    val expect = (for {
      (p, ph) <- pf; (c, ch) <- cf
      h = java.lang.Long.bitCount(ph ^ ch) if h <= 6
    } yield (p, c, h)).toSet
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val out = Pipeline.ahashGate(input.toDF().toDF("doc_id", "text"), corpus)
    val q = out.writeStream.format("memory").queryName("ahash_gate")
      .outputMode("append").start()
    try {
      val (h1, h2) = probeRows.splitAt(probeRows.length / 2)
      input.addData(h1.toSeq); q.processAllAvailable()
      input.addData(h2.toSeq); q.processAllAvailable()
      val got = spark.table("ahash_gate")
        .as[(Long, Long, Int)].collect()
      // first-match-wins emits each qualifying pair exactly once
      assert(got.length === got.distinct.length)
      assert(got.toSet === expect)
      assert(expect.size >= probeRows.length, "every probe finds its twin")
    } finally q.stop()
  }

  test("forget gate and its audit partition the stream exactly") {
    val tomb = Seq(3L, 7L, 11L).toDF("user_id")
    val rows = (0 until 30).map(i => (i.toLong, (i % 13).toLong))
    implicit val sqlCtx = spark.sqlContext
    val inG = MemoryStream[(Long, Long)]
    val inA = MemoryStream[(Long, Long)]
    val qG = Pipeline.forgetGate(inG.toDF().toDF("event_id", "user_id"),
        tomb, "user_id", "user_id")
      .writeStream.format("memory").queryName("forget_gate")
      .outputMode("append").start()
    val qA = Pipeline.forgetAudit(inA.toDF().toDF("event_id", "user_id"),
        tomb, "user_id", "user_id", "gdpr.forget user_id")
      .writeStream.format("memory").queryName("forget_audit")
      .outputMode("append").start()
    try {
      val (h1, h2) = rows.splitAt(15)
      inG.addData(h1); inA.addData(h1); qG.processAllAvailable(); qA.processAllAvailable()
      inG.addData(h2); inA.addData(h2); qG.processAllAvailable(); qA.processAllAvailable()
      val kept = spark.table("forget_gate").as[(Long, Long)].collect().toSet
      val dropped = spark.table("forget_audit")
        .as[(Long, Long, String)].collect().toSet
      val tombSet = Set(3L, 7L, 11L)
      assert(kept === rows.filterNot(r => tombSet(r._2)).toSet)
      assert(dropped === rows.filter(r => tombSet(r._2))
        .map(r => (r._1, r._2, "gdpr.forget user_id")).toSet)
      assert(kept.map(_._1).intersect(dropped.map(_._1)).isEmpty)
      assert(kept.size + dropped.size === rows.size)
    } finally { qG.stop(); qA.stop() }
  }

  test("day gauge replays to the batch projection; n_last_day bracketed, exact on aligned cuts") {
    withRocksDB {
      val dayUs = 86400000000L
      // day-ALIGNED timestamps: every ts sits on an exact day boundary,
      // so the trailing-24h cut (g_us - 24h) is also a bucket boundary
      // and the day-resolution count must equal the exact one. view's
      // last arrival is the global max at day 12.
      val aligned: Seq[(Long, java.sql.Timestamp, String)] =
        Seq(("view", 9L), ("view", 11L), ("view", 12L),
          ("click", 10L), ("click", 11L), ("click", 12L),
          ("purchase", 9L)).zipWithIndex.map { case ((tpe, day), i) =>
          ((200 + i).toLong, new java.sql.Timestamp(day * dayUs / 1000L), tpe)
        }
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[(Long, java.sql.Timestamp, String)]
      val gauge = Pipeline.freshnessDayGauge(input.toDF()
        .toDF("event_id", "ts", "event_type"))
      val state = scala.collection.mutable.Map.empty[(String, Long), (Long, Long)]
      val q = gauge.writeStream.outputMode("update")
        .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          df.collect().foreach { r =>
            state.synchronized {
              state((r.getString(0), r.getLong(1))) = (r.getLong(2), r.getLong(3))
            }
          }
          ()
        }.start()
      try {
        aligned.grouped(3).foreach { s => input.addData(s); q.processAllAvailable() }
      } finally q.stop()

      val live = state.synchronized { state.toSeq }
        .map { case ((tpe, day), (n, last)) => (tpe, day, n, last) }
        .toDF("event_type", "day", "n_day", "last_us")
      val got = Pipeline.freshnessDayReport(live)
        .as[(String, Long, Long, Long, Long, Boolean)].collect()
        .map(r => r._1 -> r).toMap

      // replay equality: the live gauge equals the same aggregation
      // run in one batch over the full fixture
      val batchGauge = Pipeline.freshnessDayGauge(
        aligned.toDF("event_id", "ts", "event_type"))
        .as[(String, Long, Long, Long)].collect().toSet
      assert(live.as[(String, Long, Long, Long)].collect().toSet === batchGauge)

      // aligned cut: trailing-24h window is [day 11, day 12] exactly —
      // day-resolution counts match the microsecond-exact ones
      assert(got("view")._5 === 2L)     // days 11, 12
      assert(got("click")._5 === 2L)    // days 11, 12
      assert(got("purchase")._5 === 0L) // day 9 only
      assert(got("purchase")._4 === 3L * dayUs && !got("purchase")._6)
      assert(got("view")._4 === 0L && got("view")._6)

      // UNALIGNED cut: shift the global max half a day forward; the
      // cut now lands mid-bucket and the day-resolution count may only
      // OVERCOUNT, bounded by the partial first bucket's n_day
      val shifted = Pipeline.freshnessDayReport(
        Pipeline.freshnessDayGauge(
          (aligned :+ ((299L, new java.sql.Timestamp((12L * dayUs + dayUs / 2) / 1000L), "view")))
            .toDF("event_id", "ts", "event_type")))
        .as[(String, Long, Long, Long, Long, Boolean)].collect()
        .map(r => r._1 -> r).toMap
      // exact trailing-24h for view from g = day 12.5: events at 12.5
      // and 12 -> 2; the day gauge includes all of bucket 11 -> 3
      assert(shifted("view")._5 === 3L)
      // bracket: approx >= exact, excess <= bucket-11 count (1)
      assert(shifted("view")._5 >= 2L && shifted("view")._5 - 2L <= 1L)
    }
  }

  test("watermarked day gauge equals the unbounded form; late days evict") {
    withRocksDB {
      val dayUs = 86400000000L
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[(Long, java.sql.Timestamp, String)]
      val gauge = Pipeline.freshnessDayGaugeWatermarked(input.toDF()
        .toDF("event_id", "ts", "event_type"), lateness = "2 days")
      val state = scala.collection.mutable.Map.empty[(String, Long), (Long, Long)]
      val q = gauge.writeStream.outputMode("update")
        .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          df.collect().foreach { r =>
            state.synchronized {
              state((r.getString(0), r.getLong(1))) = (r.getLong(2), r.getLong(3))
            }
          }
          ()
        }.start()
      def ev(id: Long, day: Long, frac: Long, tpe: String) =
        (id, new java.sql.Timestamp((day * dayUs + frac) / 1000L), tpe)
      try {
        // batch 1: days 10..12 -> watermark advances to day 12 - 2d
        input.addData(Seq(ev(1, 10, 0, "view"), ev(2, 11, 0, "view"),
          ev(3, 12, dayUs / 2, "click")))
        q.processAllAvailable()
        // batch 2: a day-5 straggler is OLDER than the watermark and
        // must be DROPPED; a fresh day-12 view still lands
        input.addData(Seq(ev(4, 5, 0, "view"), ev(5, 12, 0, "view")))
        q.processAllAvailable()
      } finally q.stop()
      val got = state.synchronized { state.toMap }
      assert(!got.contains(("view", 5L)),
        "an event older than the watermark must be dropped, not create state")
      assert(got(("view", 10L)) === ((1L, 10L * dayUs)))
      assert(got(("view", 12L)) === ((1L, 12L * dayUs)))
      assert(got(("click", 12L)) === ((1L, 12L * dayUs + dayUs / 2)))
      // schema-equality with the unbounded gauge on the SAME rows
      // (minus the dropped straggler): batch replay agrees cell-wise
      val batch = Pipeline.freshnessDayGauge(
        Seq(ev(1, 10, 0, "view"), ev(2, 11, 0, "view"),
          ev(3, 12, dayUs / 2, "click"), ev(5, 12, 0, "view"))
          .toDF("event_id", "ts", "event_type"))
        .as[(String, Long, Long, Long)].collect()
        .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
      assert(got === batch)
    }
  }

  test("closed days compact into the batch table once; report equals p_freshness on the aligned cut") {
    withRocksDB {
      val dayUs = 86400000000L
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[(Long, java.sql.Timestamp, String)]
      def ev(id: Long, day: Long, tpe: String) =
        (id, new java.sql.Timestamp(day * dayUs / 1000L), tpe)
      // day-ALIGNED fixture (exact bucket boundaries, so the
      // trailing-24h cut of the day report is exact): days 9..11 plus
      // a day-14 sentinel whose only job is to advance the watermark
      // to 12 and CLOSE days 9..11
      val closing = Seq(
        ev(1, 9, "view"), ev(2, 10, "view"), ev(3, 11, "view"),
        ev(4, 10, "click"), ev(5, 11, "click"), ev(6, 9, "purchase"))
      val q = graft.streaming.Pipeline.freshnessDayCompactor(
        input.toDF().toDF("event_id", "ts", "event_type"),
        "freshness_days", lateness = "1 day")
      try {
        // all of days 9..11 in ONE batch (a day-9 row arriving after
        // the watermark passed it would be a late DROP, which the
        // eviction test pins — this test pins compaction)
        input.addData(closing); q.processAllAvailable()
        // day-14 sentinel advances the watermark to 13 and closes 9..11
        input.addData(Seq(ev(7, 14, "view"))); q.processAllAvailable()
        // idempotence probe: an open-day event and an empty-progress
        // batch must not re-emit any closed day
        input.addData(Seq(ev(8, 14, "click"))); q.processAllAvailable()
      } finally q.stop()
      val table = Pipeline.freshnessDayHistory(spark, "freshness_days")
        .as[(String, Long, Long, Long)].collect().toSeq
      // exactly the batch day gauge over the CLOSED days (< watermark
      // 13 - 1d lateness => window end <= 12 => days 9..11), once each
      val closedBatch = graft.streaming.Pipeline.freshnessDayGauge(
        closing.toDF("event_id", "ts", "event_type"))
        .as[(String, Long, Long, Long)].collect().toSeq
      assert(table.sorted === closedBatch.sorted,
        s"compacted table must equal the batch gauge over closed days: $table")
      assert(table.size === table.distinct.size, "closed days must land once")
      // aligned-cut replay equality with the microsecond-exact
      // p_freshness projection over the same closed-day events
      // at-least-once replay probe: foreachBatch re-executes a batch
      // whose table write landed but whose checkpoint commit did not;
      // the batch_id-partitioned dynamic overwrite must make that
      // re-execution a byte-identical rewrite, never a duplicate append
      val raw = spark.table("freshness_days")
      val before = raw.collect().map(_.toString).sorted.toSeq
      val lastBatch = raw.agg(max(col("batch_id"))).as[Long].head()
      val replayRows = raw.filter(col("batch_id") === lastBatch)
        .select("event_type", "day", "n_day", "last_us")
        .as[(String, Long, Long, Long)].collect().toSeq
      assert(replayRows.nonEmpty, "probe needs a non-empty committed batch")
      Pipeline.compactBatch(
        replayRows.toDF("event_type", "day", "n_day", "last_us"),
        "freshness_days", lastBatch)
      val after = spark.table("freshness_days").collect().map(_.toString).sorted.toSeq
      assert(after === before,
        "a replayed batch must overwrite its own partition, not duplicate rows")
      val report = graft.streaming.Pipeline
        .freshnessDayReport(Pipeline.freshnessDayHistory(spark, "freshness_days"))
        .as[(String, Long, Long, Long, Long, Boolean)].collect().toSet
      val dir = java.nio.file.Files.createTempDirectory("fresh-fixture").toString
      closing.map { case (id, ts, tpe) => (id, ts, 0L, tpe, 1.0, "{}") }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      val exact = SparkEntry.queries("p_freshness")(spark, dir)
        .as[(String, Long, Long, Long, Long, Boolean)].collect().toSet
      assert(report === exact,
        "day report over compacted history must equal p_freshness on the aligned cut")
    }
  }

  test("streaming interval overlap equals the batch bucketed join on replay") {
    withRocksDB {
      implicit val sqlCtx = spark.sqlContext
      val base = 1700000000000000L // epoch micros
      def iv(id: Long, s: Long, e: Long) =
        (id, new java.sql.Timestamp((base + s) / 1000L), base + s, base + e)
      // durations well under the 1-hour bound; overlaps include
      // touching endpoints, nested, disjoint, and a cross-batch match
      val lRows = Seq(iv(1, 0, 600000000L), iv(2, 1200000000L, 1800000000L),
        iv(3, 3000000000L, 3300000000L))
      val rRows = Seq(iv(101, 600000000L, 900000000L), // touches l1
        iv(102, 1300000000L, 1400000000L),             // nested in l2
        iv(103, 9000000000L, 9100000000L))             // disjoint
      val lIn = MemoryStream[(Long, java.sql.Timestamp, Long, Long)]
      val rIn = MemoryStream[(Long, java.sql.Timestamp, Long, Long)]
      val out = graft.streaming.Pipeline.intervalOverlapStream(
        lIn.toDF().toDF("lid", "l_start_ts", "l_start_us", "l_end_us"),
        rIn.toDF().toDF("rid", "r_start_ts", "r_start_us", "r_end_us"),
        maxDurUs = 3600000000L, watermarkDelay = "6 hours")
      val q = out.writeStream.format("memory").queryName("ivj_stream")
        .outputMode("append").start()
      try {
        lIn.addData(lRows.take(2)); rIn.addData(rRows.take(1))
        q.processAllAvailable()
        // the cross-batch leg: l3 and r102/r103 arrive later
        lIn.addData(lRows.drop(2)); rIn.addData(rRows.drop(1))
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.table("ivj_stream").select("lid", "rid")
        .as[(Long, Long)].collect().sorted.toSeq
      val want = graft.ops.IntervalJoin.overlap(
          lRows.toDF("lid", "l_start_ts", "l_start_us", "l_end_us"),
          "l_start_us", "l_end_us",
          rRows.toDF("rid", "r_start_ts", "r_start_us", "r_end_us"),
          "r_start_us", "r_end_us", 600000000L)
        .select("lid", "rid").as[(Long, Long)].collect().sorted.toSeq
      assert(got.nonEmpty && got === want,
        s"stream-stream overlap diverged from the batch operator: $got vs $want")
    }
  }

  test("transition rows aggregate to the batch matrix on an ordered replay") {
    val rows: Seq[(Long, java.sql.Timestamp, Long, String)] =
      (0 until 60).map { i =>
        ((1000 + i).toLong,
          new java.sql.Timestamp(1700000000000L + i * 60000L),
          (i % 4).toLong,
          Seq("view", "view", "click", "purchase", "error")(i % 5))
      }
    val dir = java.nio.file.Files.createTempDirectory("trans-fixture").toString
    rows.toDF("event_id", "ts", "user_id", "event_type")
      .withColumn("value", lit(1.0)).withColumn("props", lit("{}"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val batch = SparkEntry.queries("a_transitions")(spark, dir)
      .select("from_type", "to_type", "n")
      .as[(String, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap

    withRocksDB {
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[(Long, java.sql.Timestamp, Long, String)]
      val out = StreamingTransitions.transitions(input.toDF()
        .toDF("event_id", "ts", "user_id", "event_type"))
      val q = out.writeStream.format("memory").queryName("trans_stream")
        .outputMode("append").start()
      try {
        rows.grouped(17).foreach { slice =>
          input.addData(slice); q.processAllAvailable()
        }
        val got = spark.table("trans_stream")
          .groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
          .as[(String, String, Long)].collect()
          .map(r => (r._1, r._2) -> r._3).toMap
        assert(got === batch,
          "aggregated transition rows must equal the batch lead-window matrix")
      } finally q.stop()
    }
  }

  test("a late event fails the transition stream loudly") {
    withRocksDB {
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[(Long, java.sql.Timestamp, Long, String)]
      val out = StreamingTransitions.transitions(input.toDF()
        .toDF("event_id", "ts", "user_id", "event_type"))
      val q = out.writeStream.format("memory").queryName("trans_disorder")
        .outputMode("append").start()
      try {
        input.addData(Seq((1L, new java.sql.Timestamp(1700000100000L), 1L, "view")))
        q.processAllAvailable()
        input.addData(Seq((2L, new java.sql.Timestamp(1700000000000L), 1L, "click")))
        val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
          q.processAllAvailable()
        }
        assert(ex.getMessage.contains("order") ||
          Option(ex.getCause).exists(_.getMessage.contains("order")))
      } finally q.stop()
    }
  }
}
