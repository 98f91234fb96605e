package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** EXACT distributed percentiles without per-group buffers — the
  * 100 TB order-statistic form: value histogram (shuffle ∝ DISTINCT
  * values per group, with map-side combine), cumulative rank intervals
  * per group, then each requested quantile finds its two bracketing
  * order statistics by rank-interval join and linearly interpolates
  * (Spark `percentile` / ANSI PERCENTILE_CONT lerp, bit-compatible
  * with DuckDB `quantile_cont`). Contrast `a_percentiles`'
  * ObjectHashAggregate form, which buffers every value per group.
  *
  * Extracted from the a_percentiles_dist registry query so the trace
  * latency family shares one implementation. */
object ExactPercentiles {

  /** `df` must expose group column `k` and value column `x` (numeric).
    * Returns one row per (k, quantile): (k, qname, v) with `v` the
    * exact interpolated percentile as double. `cacheTag` names the
    * cumulative-histogram PlanCache entry, keyed by `df` and
    * `fewGroups` — it feeds both the
    * order-statistic join and the group sizes, and uncached the
    * histogram shuffle would run twice.
    *
    * `fewGroups` picks the cumulative-count strategy — a property of
    * the KEY DOMAIN the caller knows and the optimizer cannot:
    *  - false (default, for data-sized domains: edges, windows): one
    *    window per k — each group's histogram is modest, groups
    *    themselves carry the parallelism, and the bucketed form's
    *    extra passes are pure overhead.
    *  - true (for fixed tiny domains: return flags, services): the
    *    k-partitioned window would sort each key's ENTIRE histogram
    *    in one task — the keyed-but-few-groups bottleneck at 100 TB.
    *    The running count instead uses a TWO-PHASE distributed
    *    cumsum (the t_pack_sequences pattern): each value lands in
    *    an order-preserving range bucket (equal values share a
    *    bucket, bucket b wholly precedes b+1), the local cumsum is
    *    windowed per (k, bucket) — parallelism = keys × buckets —
    *    and each bucket adds the preceding buckets' totals via a
    *    key-local prefix over the tiny bucket-sums frame, broadcast
    *    back. Values identical by construction; bucket bounds affect
    *    partitioning only. */
  def of(df: DataFrame, qs: Seq[(String, Double)], cacheTag: String,
      fewGroups: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val hist = df.groupBy("k", "x").agg(count(lit(1)).as("cnt"))
    val withCum =
      if (!fewGroups) {
        val w = Window.partitionBy("k").orderBy("x")
        hist.withColumn("cum_end", sum("cnt").over(w))
      } else {
        val nBuckets = 64
        // stats and the bucket offsets re-derive the histogram rather
        // than read it from a cache: materializing the full histogram
        // (rows ∝ distinct values) costs more than the re-aggregation
        // it saves — measured +1.8 s at sf0.1 with a PlanCache here
        val stats = hist.groupBy("k")
          .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
        val bucketed = hist.join(broadcast(stats), "k")
          .withColumn("b", when(col("mx") > col("mn"),
            least(floor((col("x") - col("mn")) / ((col("mx") - col("mn")) / nBuckets)),
              lit(nBuckets - 1L))).otherwise(lit(0L)))
          .drop("mn", "mx")
        val wLocal = Window.partitionBy("k", "b").orderBy("x")
        val wB = Window.partitionBy("k").orderBy("b")
        val offsets = bucketed.groupBy("k", "b").agg(sum("cnt").as("bsum"))
          .withColumn("base",
            coalesce(sum("bsum").over(wB) - col("bsum"), lit(0L)))
          .select(col("k"), col("b"), col("base"))
        bucketed.withColumn("local_end", sum("cnt").over(wLocal))
          .join(broadcast(offsets), Seq("k", "b"))
          .withColumn("cum_end", col("local_end") + col("base"))
          .drop("b", "local_end", "base")
      }
    // cum_start/cum_end delimit each value's 0-indexed rank interval
    val cum = PlanCache.cached(s"$cacheTag-fewGroups=$fewGroups", df)(
      withCum.withColumn("cum_start", col("cum_end") - col("cnt")))
    val qdf = qs.toDF("qname", "q")
    // group sizes fold over the cum frame (max cum_end), not a second
    // corpus aggregation
    val pos = cum.groupBy("k").agg(max("cum_end").as("n"))
      .crossJoin(broadcast(qdf))
      .withColumn("pos", col("q") * (col("n") - 1).cast("double"))
      .withColumn("lo", floor(col("pos")).cast("long"))
      .withColumn("hi", ceil(col("pos")).cast("long"))
    val hitLo = col("lo") >= col("cum_start") && col("lo") < col("cum_end")
    val hitHi = col("hi") >= col("cum_start") && col("hi") < col("cum_end")
    cum.join(broadcast(pos), Seq("k"))
      .filter(hitLo || hitHi)
      .groupBy(col("k"), col("qname"), col("pos"), col("lo"))
      .agg(min(when(hitLo, col("x"))).as("v_lo"), min(when(hitHi, col("x"))).as("v_hi"))
      // Spark percentile's lerp: lower + (pos - lowerIndex) * (higher - lower)
      .withColumn("v",
        col("v_lo") + (col("pos") - col("lo").cast("double")) * (col("v_hi") - col("v_lo")))
      .select(col("k"), col("qname"), col("v"))
  }
}
