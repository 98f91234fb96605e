package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.StreamingTopK
import graft.streaming.StreamingTopK.{Board, Inc}

/** Replay pins for the exact streaming leaderboard: hand-frame
  * maintenance across batches, merged shard boards equal the batch
  * TakeOrdered top-k on a replayed corpus, and decrements refuse
  * loudly. */
class StreamingTopKSpec extends SparkSpec {
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

  /** Replays slices and returns the latest board per shard. */
  private def replay(slices: Seq[Seq[Inc]], k: Int, shards: Int,
      name: String): Seq[Board] = {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Inc]
    val q = StreamingTopK.leaderboards(input.toDS(), k, shards)
      .writeStream.format("memory").queryName(name)
      .outputMode("update").start()
    try {
      slices.foreach { s => input.addData(s); q.processAllAvailable() }
      spark.table(name).as[Board].collect().toSeq
        .groupBy(_.shard).values.map(_.maxBy(_.ver)).toSeq
    } finally q.stop()
  }

  test("hand replay: the board tracks monotone totals exactly") {
    withRocksDB {
      val boards = replay(Seq(
        Seq(Inc("a", 5L), Inc("b", 3L), Inc("c", 1L)),
        Seq(Inc("c", 9L), Inc("d", 2L)),
        Seq(Inc("b", 8L))), k = 2, shards = 1, "topk_hand")
      assert(boards.length === 1)
      // totals: a=5 b=11 c=10 d=2 -> top2 = b(11), c(10)
      assert(boards.head.keys === Seq("b", "c"))
      assert(boards.head.totals === Seq(11L, 10L))
      assert(boards.head.ver === 3L)
    }
  }

  test("ties break by key ascending, deterministically") {
    withRocksDB {
      val boards = replay(Seq(
        Seq(Inc("z", 7L), Inc("m", 7L), Inc("a", 7L))),
        k = 2, shards = 1, "topk_ties")
      assert(StreamingTopK.merged(boards, 2) ===
        Seq(("a", 7L), ("m", 7L)))
    }
  }

  test("merged shard boards equal the batch TakeOrdered top-k on a replay") {
    withRocksDB {
      val dir = "/root/testdata/sf0.001"
      val incs = SparkEntry.T(spark, dir, "lineitem")
        .select(col("l_partkey").cast("string").as("key"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("delta"))
        .as[Inc].collect().toSeq
      val batch = incs.groupBy(_.key).view.mapValues(_.map(_.delta).sum).toSeq
        .sortBy { case (key, t) => (-t, key) }.take(10)
      val boards = replay(incs.grouped(500).toSeq, k = 10, shards = 4,
        "topk_sf")
      assert(boards.map(_.shard).distinct.length === boards.length)
      assert(StreamingTopK.merged(boards, 10) === batch)
      assert(batch.nonEmpty)
    }
  }

  private def replayDelta(slices: Seq[Seq[Inc]], k: Int, shards: Int,
      name: String): Seq[Board] = {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Inc]
    val q = StreamingTopK.leaderboardsDelta(input.toDS(), k, shards)
      .writeStream.format("memory").queryName(name)
      .outputMode("update").start()
    try {
      slices.foreach { s => input.addData(s); q.processAllAvailable() }
      spark.table(name).as[Board].collect().toSeq
        .groupBy(_.shard).values.map(_.maxBy(_.ver)).toSeq
    } finally q.stop()
  }

  test("delta variant: a decrement resurfaces an off-board key via rescan") {
    withRocksDB {
      val boards = replayDelta(Seq(
        Seq(Inc("a", 10L), Inc("b", 8L), Inc("c", 5L)), // board: a, b
        Seq(Inc("a", -7L))),                            // a -> 3
        k = 2, shards = 1, "topk_delta_rescan")
      // the O(k) containment path would answer (b, a) and lose c;
      // the decrement batch's ledger rescan restores the truth
      assert(boards.head.keys === Seq("b", "c"))
      assert(boards.head.totals === Seq(8L, 5L))
    }
  }

  test("delta variant: merged boards equal batch totals under mixed deltas") {
    withRocksDB {
      val dir = "/root/testdata/sf0.001"
      val base = SparkEntry.T(spark, dir, "lineitem")
        .select(col("l_partkey").cast("string").as("key"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("delta"))
        .as[Inc].collect().toSeq
      // retract 40% of every third key's first increment in a later slice
      val retractions = base.zipWithIndex.collect {
        case (Inc(k0, d), i) if i % 3 == 0 => Inc(k0, -(d * 2 / 5))
      }
      val incs = base ++ retractions
      val batch = incs.groupBy(_.key).view.mapValues(_.map(_.delta).sum).toSeq
        .sortBy { case (key, t) => (-t, key) }.take(10)
      val boards = replayDelta(
        base.grouped(400).toSeq ++ retractions.grouped(150).toSeq,
        k = 10, shards = 4, "topk_delta_sf")
      assert(StreamingTopK.merged(boards, 10) === batch)
    }
  }

  test("delta variant: a retraction below zero refuses loudly") {
    withRocksDB {
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[Inc]
      val q = StreamingTopK.leaderboardsDelta(input.toDS(), 2, 1)
        .writeStream.format("memory").queryName("topk_delta_neg")
        .outputMode("update").start()
      try {
        input.addData(Seq(Inc("a", 3L)))
        q.processAllAvailable()
        input.addData(Seq(Inc("a", -5L)))
        val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
          q.processAllAvailable()
        }
        def msgs(t: Throwable): Seq[String] =
          if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
        assert(msgs(e).exists(_.contains("went negative")))
      } finally q.stop()
    }
  }

  test("a negative increment refuses loudly") {
    withRocksDB {
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[Inc]
      val q = StreamingTopK.leaderboards(input.toDS(), 2, 1)
        .writeStream.format("memory").queryName("topk_neg")
        .outputMode("update").start()
      try {
        input.addData(Seq(Inc("a", -1L)))
        val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
          q.processAllAvailable()
        }
        assert(e.getMessage.contains("increment-only") ||
          Option(e.getCause).exists(_.getMessage.contains("increment-only")))
      } finally q.stop()
    }
  }
}
