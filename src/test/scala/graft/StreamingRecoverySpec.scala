package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.StreamingEwma

/** Checkpoint-recovery pin for the stateful streaming operators: a
  * query stopped mid-stream and restarted against the SAME checkpoint
  * directory must resume from its committed offsets with its keyed
  * state intact — the at-least-once delivery contract the reference
  * pipeline assumes of its streams runtime (commit offsets, restart
  * from last commit, state survives).
  *
  * The operator under test is [[StreamingEwma]] because its per-user
  * state is the most seam-sensitive in the library: the bounded
  * 16-value frame AND the (ts, event_id) ordering cursor. If state
  * restore broke, every post-restart EWMA would fold from an empty
  * frame and diverge from the batch window; if offset restore broke,
  * rows would duplicate or vanish. Either failure trips the exact
  * batch-equality assert below.
  *
  * The sink is `foreachBatch` — the one sink shape that supports
  * checkpoint recovery (the memory sink refuses restart in append
  * mode), and the same shape `streaming.Pipeline` uses for its
  * branch/sink legs. */
class StreamingRecoverySpec extends SparkSpec {
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

  /** 60 events over 3 users (20 each — past the 16-row frame bound so
    * post-restart folds exercise a restored, truncated frame),
    * strictly increasing ts. */
  private def eventRows: Seq[(Long, java.sql.Timestamp, Long, Double)] =
    (0 until 60).map { i =>
      ((i % 3 + 1).toLong,
        new java.sql.Timestamp(1700000000000L + i * 60000L),
        (1000 + i).toLong,
        math.sin(i.toDouble) * 37.0 + i * 0.13)
    }

  test("stop/restart from checkpoint resumes offsets and keyed state exactly") {
    withRocksDB {
      val rows = eventRows
      val dir = java.nio.file.Files.createTempDirectory("rec-fixture").toString
      rows.toDF("user_id", "ts", "event_id", "value")
        .withColumn("event_type", lit("e")).withColumn("props", lit("{}"))
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      val batch = SparkEntry.queries("a_ewma")(spark, dir)
        .as[(Long, Long, Double)].collect()
        .map(r => r._2 -> (r._1, r._3)).toMap

      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[(Long, java.sql.Timestamp, Long, Double)]
      val out = StreamingEwma.ewma(
        input.toDF().toDF("user_id", "ts", "event_id", "value"))
      val cp = java.nio.file.Files.createTempDirectory("rec-cp").toString
      val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
      def start() = out.writeStream
        .outputMode("append")
        .option("checkpointLocation", cp)
        .foreachBatch { (df: DataFrame, _: Long) =>
          val got = df.select("user_id", "event_id", "ewma")
            .as[(Long, Long, Double)].collect()
          buf.synchronized { buf ++= got }
          ()
        }
        .start()

      // run 1: first 20 events (each user's frame is ~7 deep), clean stop
      val q1 = start()
      try { input.addData(rows.take(20)); q1.processAllAvailable() }
      finally q1.stop()
      val run1 = buf.synchronized { buf.toVector }
      assert(run1.length === 20, "run 1 must emit exactly its slice")

      // data arriving while the query is DOWN, then restart from the
      // same checkpoint: committed offsets mean no batch re-runs, and
      // the restored per-user frames + ordering cursors mean the
      // post-restart folds continue mid-frame, not from scratch
      input.addData(rows.drop(20))
      val q2 = start()
      try q2.processAllAvailable()
      finally q2.stop()

      val all = buf.synchronized { buf.toVector }
      assert(all.length === 60,
        s"restart must neither re-deliver nor drop (got ${all.length})")
      val got = all.map(r => r._2 -> (r._1, r._3)).toMap
      assert(got === batch,
        "post-restart EWMA must continue the RESTORED frames: any state " +
          "loss folds from empty history and diverges from the batch window")
    }
  }

  test("windowed KmvSketch aggregation state survives a checkpoint restart") {
    // a DIFFERENT restore path than transformWithState's ValueState:
    // the custom TypedImperativeAggregate's serialized buffer inside
    // the streaming-aggregation state store. The query stops with a
    // day window OPEN mid-fill; on restart the partial sketch must
    // come back, or the emitted estimate diverges from batch.
    withRocksDB {
      val rows: Seq[(java.sql.Timestamp, Long)] =
        (0 until 120).map { i =>
          (new java.sql.Timestamp(1700000000000L + (i / 40) * 86400000L + i * 60000L),
            (i * 13 % 37).toLong)
        }
      val batch = graft.streaming.Pipeline.dailyDistinct(
          rows.toDF("ts", "user_id"), 8, "1 minute")
        .as[(Long, Long)].collect().toMap

      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[(java.sql.Timestamp, Long)]
      val out = graft.streaming.Pipeline.dailyDistinct(
        input.toDF().toDF("ts", "user_id"), 8, "1 minute")
      val cp = java.nio.file.Files.createTempDirectory("kmv-cp").toString
      val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      def start() = out.writeStream
        .outputMode("append")
        .option("checkpointLocation", cp)
        .foreachBatch { (df: DataFrame, _: Long) =>
          val got = df.as[(Long, Long)].collect()
          buf.synchronized { buf ++= got }
          ()
        }
        .start()

      // run 1 stops with day 2's window half-filled (50 of 80 rows in)
      val q1 = start()
      try { input.addData(rows.take(50)); q1.processAllAvailable() }
      finally q1.stop()

      // the rest of the data plus a far-future sentinel that closes
      // every real window arrives while the query is down
      input.addData(rows.drop(50))
      input.addData(Seq((new java.sql.Timestamp(
        1700000000000L + 30L * 86400000L), 999L)))
      val q2 = start()
      try q2.processAllAvailable()
      finally q2.stop()

      val got = buf.synchronized { buf.toVector }.toMap
      assert(got === batch,
        "estimates after restart must ride the RESTORED partial sketches — " +
          "a lost buffer re-counts only post-restart users and under-estimates")
    }
  }

  test("interval-overlap join state survives a checkpoint restart") {
    // the stream-stream join restore path: a left interval buffered in
    // run 1 must still match a right interval that only ARRIVES after
    // the restart — lost join state silently drops the cross-restart
    // pair, which is exactly what the batch-equality assert catches.
    withRocksDB {
      implicit val sqlCtx = spark.sqlContext
      val base = 1700000000000000L // epoch micros
      def iv(id: Long, s: Long, e: Long) =
        (id, new java.sql.Timestamp((base + s) / 1000L), base + s, base + e)
      val lRows = Seq(iv(1, 0, 600000000L), iv(2, 1200000000L, 1800000000L),
        iv(3, 3000000000L, 3300000000L))
      val rRows = Seq(iv(101, 600000000L, 900000000L), // touches l1
        iv(102, 1300000000L, 1400000000L),             // nested in l2 — ARRIVES POST-RESTART
        iv(103, 9000000000L, 9100000000L))             // disjoint
      val lIn = MemoryStream[(Long, java.sql.Timestamp, Long, Long)]
      val rIn = MemoryStream[(Long, java.sql.Timestamp, Long, Long)]
      val out = graft.streaming.Pipeline.intervalOverlapStream(
        lIn.toDF().toDF("lid", "l_start_ts", "l_start_us", "l_end_us"),
        rIn.toDF().toDF("rid", "r_start_ts", "r_start_us", "r_end_us"),
        maxDurUs = 3600000000L, watermarkDelay = "6 hours")
      val cp = java.nio.file.Files.createTempDirectory("ivj-cp").toString
      val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      def start() = out.writeStream
        .outputMode("append")
        .option("checkpointLocation", cp)
        .foreachBatch { (df: DataFrame, _: Long) =>
          val got = df.select("lid", "rid").as[(Long, Long)].collect()
          buf.synchronized { buf ++= got }
          ()
        }
        .start()

      // run 1: both early left intervals + the touching right; stop
      // with l2 sitting unmatched in the left join state
      val q1 = start()
      try {
        lIn.addData(lRows.take(2)); rIn.addData(rRows.take(1))
        q1.processAllAvailable()
      } finally q1.stop()

      // while DOWN: r102 (whose only match is the run-1-buffered l2),
      // the disjoint r103, and the late left l3
      lIn.addData(lRows.drop(2)); rIn.addData(rRows.drop(1))
      val q2 = start()
      try q2.processAllAvailable()
      finally q2.stop()

      val got = buf.synchronized { buf.toVector }.sorted.toSeq
      val want = graft.ops.IntervalJoin.overlap(
          lRows.toDF("lid", "l_start_ts", "l_start_us", "l_end_us"),
          "l_start_us", "l_end_us",
          rRows.toDF("rid", "r_start_ts", "r_start_us", "r_end_us"),
          "r_start_us", "r_end_us", 600000000L)
        .select("lid", "rid").as[(Long, Long)].collect().sorted.toSeq
      assert(got.nonEmpty && got === want,
        "post-restart pair set must equal the uninterrupted batch join: " +
          s"$got vs $want — a lost left buffer drops the cross-restart pair (2,102)")
      assert(got.contains((2L, 102L)),
        "the pair spanning the restart is the one that pins restored join state")
    }
  }
}
