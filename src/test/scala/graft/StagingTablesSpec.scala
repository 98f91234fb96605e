package graft

import org.apache.spark.sql.functions._
import graft.sources.StagingTables

/** The bucketing contract at the plan level: two tables bucketed on
  * the same key join WITHOUT any exchange — the property that turns a
  * repeated 100 TB shuffle into a one-time staging write. */
class StagingTablesSpec extends SparkSpec {
  import spark.implicits._

  test("a sort-merge join of co-bucketed tables plans with zero shuffles") {
    val events = (1L to 1000L).map(i => (i, i % 50, s"e$i")).toDF("event_id", "user_id", "payload")
    val profile = (0L until 50L).map(i => (i, s"tier-${i % 3}")).toDF("user_id", "tier")
    StagingTables.writeBucketed(events, "stg_events", "user_id", 8)
    StagingTables.writeBucketed(profile, "stg_profile", "user_id", 8)
    // disable auto-broadcast so the plan must rely on bucketing (a
    // broadcast would hide whether bucketing removed the shuffle)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("stg_events")
        .join(spark.table("stg_profile"), "user_id")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected a sort-merge join:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle:\n$plan")
      assert(joined.count() === 1000L)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("initPartitionedIfAbsent over an existing partitioned table keeps its rows and is a no-op") {
    val layout = Seq.empty[(String, Long, Long, Long)]
      .toDF("event_type", "day", "n_day", "last_us")
      .withColumn("batch_id", lit(0L))
    StagingTables.initPartitionedIfAbsent(layout, "stg_restart", "batch_id")
    assert(spark.table("stg_restart").count() === 0L)
    graft.streaming.Pipeline.compactBatch(
      Seq(("view", 9L, 3L, 900L), ("click", 10L, 1L, 1000L))
        .toDF("event_type", "day", "n_day", "last_us"), "stg_restart", 4L)
    val before = spark.table("stg_restart").collect().map(_.toString).sorted.toSeq
    assert(before.size === 2)
    // the restarted writer initializes the same table: its rows must
    // survive, and its partitioned layout still takes the next batch
    StagingTables.initPartitionedIfAbsent(layout, "stg_restart", "batch_id")
    assert(spark.table("stg_restart").collect().map(_.toString).sorted.toSeq === before)
    graft.streaming.Pipeline.compactBatch(
      Seq(("purchase", 11L, 2L, 1100L)).toDF("event_type", "day", "n_day", "last_us"),
      "stg_restart", 5L)
    val after = graft.streaming.Pipeline.freshnessDayHistory(spark, "stg_restart")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(after === Set(("view", 9L, 3L, 900L), ("click", 10L, 1L, 1000L),
      ("purchase", 11L, 2L, 1100L)))
  }

  test("writeBucketed and initPartitionedIfAbsent refuse unsafe identifiers before any drop or delete") {
    val wh = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
    // the directories a recursive delete of each identifier would hit
    // inside the warehouse; "../<warehouse>" would take all of it
    val unsafe = Seq("a;b", "../x", "a.b.c", s"../${wh.getName}")
    val sentinels = Seq("a;b", "a.b.c").map { d =>
      val f = new java.io.File(new java.io.File(wh, d), "sentinel")
      f.getParentFile.mkdirs()
      java.nio.file.Files.writeString(f.toPath, "keep")
      f
    }
    val df = Seq((1L, 2L)).toDF("k", "batch_id")
    try {
      unsafe.foreach { id =>
        intercept[IllegalArgumentException](StagingTables.writeBucketed(df, id, "k", 2))
        intercept[IllegalArgumentException](
          StagingTables.initPartitionedIfAbsent(df, id, "batch_id"))
      }
      sentinels.foreach(f => assert(f.isFile, s"$f was deleted"))
    } finally sentinels.foreach(f => StagingTables.deleteRecursively(f.getParentFile))
  }

  test("aggregation on the bucket key also avoids the shuffle") {
    // self-contained: writes its own table so the test runs alone
    val events = (1L to 500L).map(i => (i, i % 50)).toDF("event_id", "user_id")
    StagingTables.writeBucketed(events, "stg_agg", "user_id", 8)
    val counts = spark.table("stg_agg")
      .groupBy("user_id").agg(count(lit(1)).as("n"))
    val plan = counts.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed agg must not shuffle:\n$plan")
    assert(counts.count() === 50L)
  }
}
