package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Bucketed staging tables: the cluster-scale form of
  * [[graft.ops.PlanCache]]. At 100 TB a shared intermediate (the
  * shingle-hash index, the enriched-record table) is written ONCE,
  * hash-bucketed and sorted by its join/aggregation key; every
  * downstream join or groupBy on that key then runs with NO shuffle
  * and NO sort — Catalyst recognizes the bucketing as a satisfied
  * `HashPartitioning` requirement. PlanShapeSpec asserts the
  * exchange-free plan so the property cannot silently regress.
  */
object StagingTables {

  /** Write `df` as a bucketed+sorted managed table. Drops any existing
    * table AND its orphaned warehouse directory first — a previous
    * JVM's in-memory catalog forgets the table but leaves the files,
    * and saveAsTable refuses to reuse the location. */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit = {
    validId(table)
    dropWithLocation(df.sparkSession, table)
    df.write
      .mode(SaveMode.Overwrite)
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)
  }

  /** Create `table` EMPTY, PARTITIONED by `partCol`, only when it does
    * not already exist — the cold-start initializer for append-style
    * compaction targets whose writer keys each micro-batch to its own
    * partition (so an at-least-once replay dynamically OVERWRITES its
    * partition instead of duplicating rows; see
    * [[graft.streaming.Pipeline.freshnessDayCompactor]]). An existing
    * table is left as it is: its rows must survive a driver restart. */
  def initPartitionedIfAbsent(df: DataFrame, table: String, partCol: String): Unit = {
    validId(table)
    val spark = df.sparkSession
    if (!spark.catalog.tableExists(table)) {
      dropWithLocation(spark, table)
      df.write.mode(SaveMode.Overwrite).partitionBy(partCol)
        .format("parquet").saveAsTable(table)
    }
  }

  /** The identifier feeds SQL statements and a recursive warehouse
    * delete — restrict it to plain [db.]name so neither can escape. */
  private def validId(table: String): Unit =
    require(table.matches("[A-Za-z0-9_]+(\\.[A-Za-z0-9_]+)?"),
      s"table identifier must be [A-Za-z0-9_]+ with at most one dot: '$table'")

  /** Recursive local-file delete, null-safe (listFiles may return
    * null; dirs may hold _temporary subtrees from a killed run), loud
    * on failure. The ONE copy — Verify's stale-dump sweep, Bench's
    * substrate-tier reset and [[dropWithLocation]] all share it, so
    * any future hardening (symlink guard, path restriction) lands
    * once. */
  private[graft] def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
        .foreach(deleteRecursively)
    if (!f.delete() && f.exists())
      System.err.println(s"[staging] WARNING: could not delete $f")
  }

  /** Drop `table` AND its orphaned warehouse directory — a previous
    * JVM's in-memory catalog forgets the table but leaves the files,
    * and saveAsTable refuses to reuse the location. */
  private def dropWithLocation(spark: SparkSession, table: String): Unit = {
    validId(table)
    spark.sql(s"DROP TABLE IF EXISTS $table")
    // Managed locations lowercase the identifier and nest qualified
    // names under <db>.db/; only a local-file warehouse can be swept.
    val whConf = spark.conf.get("spark.sql.warehouse.dir")
    if (whConf.startsWith("file:") || !whConf.contains(":")) {
      val wh = whConf.stripPrefix("file:")
      val rel = table.toLowerCase(java.util.Locale.ROOT).split('.') match {
        case Array(db, t) => s"$db.db/$t"
        case _            => table.toLowerCase(java.util.Locale.ROOT)
      }
      deleteRecursively(new java.io.File(wh, rel))
    }
  }
}
