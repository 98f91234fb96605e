package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Banding candidate-count histogram for the simhash pair families
  * (the r14 verdict's task 4 evidence): per pigeonhole segment, the
  * number of candidate pairs the band self-join emits is
  * Σ_buckets c·(c−1)/2 over that segment's (segval → c) histogram.
  * Prints the per-segment candidate counts for m_media_neardup's
  * 64-bit fingerprint banded (a) over all 64 bits — the r14 shape —
  * and (b) over only the 56 live bits (r15), so the degenerate
  * all-zero segment is a recorded number, not an argument.
  * Usage: `sbt "runMain graft.tools.BandHist <sfDir>"`. Measurement
  * harness only — no registry row or bench methodology touches this.
  */
object BandHist {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.graft.spreadSmallInputs", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val fps = graft.ext.Dedup.simhashOfHashes(
      graft.SparkEntry.T(spark, sfDir, "documents")
        .select(col("doc_id"),
          explode(graft.functions.ByteWindowHash.byteWindowHash(
            col("text").cast("binary"), 4)).as("h")), 64)

    def hist(bandBits: Int): Unit = {
      val nSeg = 9 // maxHamming 8
      val bounds = (0 to nSeg).map(i => i * bandBits / nSeg)
      val segs = (0 until nSeg).map { s =>
        val lo = bounds(s); val w = bounds(s + 1) - lo
        val mask = if (w >= 64) -1L else (1L << w) - 1
        struct(lit(s).as("seg"),
          shiftright(col("simhash"), lo).bitwiseAND(lit(mask)).as("segval"))
      }
      val rows = fps
        .select(explode(array(segs: _*)).as("b"))
        .groupBy(col("b.seg").as("seg"), col("b.segval"))
        .agg(count(lit(1)).as("c"))
        .groupBy("seg")
        .agg(sum(expr("c * (c - 1) div 2")).as("cand_pairs"),
          max("c").as("max_bucket"), count(lit(1)).as("n_buckets"))
        .orderBy("seg")
        .collect()
      println(s"== bandBits=$bandBits ==")
      rows.foreach(r => println(
        f"seg=${r.getInt(0)}%d cand_pairs=${r.getLong(1)}%,d " +
          f"max_bucket=${r.getLong(2)}%,d n_buckets=${r.getLong(3)}%,d"))
      val total = rows.map(_.getLong(1)).sum
      println(f"total candidate pairs: $total%,d")
    }
    hist(64)
    hist(56)

    // ---- generic candidate audit over every other pair-candidate
    // generator in the registry (r15): per join-key candidate pairs
    // c·(c−1)/2, the §2.5 hot-key detector. A degenerate key reads as
    // max_bucket ≈ corpus size (the m_media_neardup pathology above);
    // a healthy band reads as max_bucket ≪ N.
    import org.apache.spark.sql.DataFrame
    def audit(name: String, keyed: DataFrame): Unit = {
      val r = keyed.groupBy("k").agg(count(lit(1)).as("c"))
        .agg(sum(expr("c * (c - 1) div 2")).as("cand"),
          max("c").as("maxb"), count(lit(1)).as("nb"))
        .head()
      println(f"[audit] $name%-22s cand_pairs=${r.getLong(0)}%,15d " +
        f"max_bucket=${r.getLong(1)}%,8d n_buckets=${r.getLong(2)}%,10d")
    }
    def bandKeys(fps: DataFrame, maxHamming: Int, bits: Int): DataFrame = {
      val nSeg = maxHamming + 1
      val bounds = (0 to nSeg).map(i => i * bits / nSeg)
      val segs = (0 until nSeg).map { s =>
        val lo = bounds(s); val w = bounds(s + 1) - lo
        val mask = if (w >= 64) -1L else (1L << w) - 1
        struct(lit(s).as("seg"),
          shiftright(col("simhash"), lo).bitwiseAND(lit(mask)).as("segval"))
      }
      fps.select(explode(array(segs: _*)).as("b"))
        .select(concat(col("b.seg"), lit(":"), col("b.segval")).as("k"))
    }
    val docs = graft.SparkEntry.T(spark, sfDir, "documents")
    audit("d_simhash_pairs(32,r3)",
      bandKeys(graft.ext.Dedup.simhash(docs, 32), 3, 32))
    audit("m_ahash_dedup(60,r6)",
      bandKeys(graft.ext.Multimodal.ahashFingerprints(docs), 6, 60))
    audit("m_dct_neardup(63,r6)",
      bandKeys(graft.ext.Multimodal.dctFingerprints(docs), 6, 63))
    audit("d_winnow_pairs(fp)",
      graft.ext.TextOps.winnow(docs, 3, 4)
        .select(col("doc_id"), col("fp")).distinct()
        .select(col("fp").as("k")))
    spark.stop()
  }
}
