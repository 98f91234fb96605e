package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ext.{Dedup, Multimodal}
import graft.functions.ByteWindowHash

/** Hot-key pins for every pair-candidate generator in the registry: a
  * band or fingerprint self-join emits Σ c·(c−1)/2 candidate pairs over
  * its join keys' bucket sizes c, so a key holding the whole corpus is
  * an N²/2 all-pairs join hiding in one unsplittable task. Each
  * generator's largest bucket must stay below N.
  *
  * Measured on sf0.01 (N = 500 documents; max bucket / candidate
  * pairs):
  *  - m_media_neardup fingerprints banded over 64 bits: 500 / 210,947,
  *    of which the one all-zero bucket is 124,750; over HashBits = 56
  *    bits: 205 / 126,998;
  *  - d_simhash_pairs 92 / 25,290, m_ahash_dedup 81 / 24,537,
  *    m_dct_neardup 7 / 1,848, d_winnow_pairs 7 / 3,916. */
class BandHistSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.01"
  private lazy val docs = SparkEntry.T(spark, dir, "documents")
  private lazy val n = docs.count()

  /** (largest bucket, candidate pairs) over the key column `k`, the
    * pair count in exact integer arithmetic. */
  private def buckets(keys: DataFrame): (Long, Long) = {
    val r = keys.groupBy("k").agg(count(lit(1)).as("c"))
      .agg(max("c"), sum(expr("c * (c - 1) div 2"))).head()
    (r.getLong(0), r.getLong(1))
  }

  private def bandKeys(fps: DataFrame, bandBits: Int, maxHamming: Int): DataFrame =
    fps.select(explode(array(Dedup.bandSegments(bandBits, maxHamming): _*)).as("k"))

  test("m_media_neardup banded over 64 bits puts every asset in one bucket; over HashBits it does not") {
    val fps = SparkEntry.mediaFps(spark, dir)
    assert(fps.count() === n)
    val (max64, cand64) = buckets(bandKeys(fps, 64, 8))
    assert(max64 === n, "bits 56-63 are zero on every asset: one segment is one key")
    assert(cand64 >= n * (n - 1) / 2)
    val (max56, cand56) = buckets(bandKeys(fps, ByteWindowHash.HashBits, 8))
    info(s"N $n; 64 bits: max bucket $max64, candidate pairs $cand64; " +
      s"${ByteWindowHash.HashBits} bits: max bucket $max56, candidate pairs $cand56")
    assert(max56 < n)
  }

  test("every other pair-candidate generator keeps its largest bucket below N") {
    val generators = Seq(
      "d_simhash_pairs" -> bandKeys(Dedup.simhash(docs, 32), 32, 3),
      "m_ahash_dedup" -> bandKeys(Multimodal.ahashFingerprints(docs), 60, 6),
      "m_dct_neardup" -> bandKeys(Multimodal.dctFingerprints(docs), 63, 6),
      "d_winnow_pairs" -> SparkEntry.winnowIdx(spark, dir)
        .select(col("doc_id"), col("fp")).distinct().select(col("fp").as("k")))
    generators.foreach { case (name, keys) =>
      val (maxBucket, cand) = buckets(keys)
      info(s"$name: max bucket $maxBucket, candidate pairs $cand")
      assert(maxBucket < n, s"$name: a join key holds the whole corpus")
    }
  }
}
