package graft

import org.apache.spark.sql.functions._
import graft.ext.{Dedup, Multimodal}

/** Behavioral pins for the round's widening rows beyond the DuckDB
  * oracle: banded-equals-exhaustive for the perceptual hash,
  * per-seed-BFS consistency with the multi-source shells, pair-count
  * and bound identities for Theil–Sen, advisor power-of-two
  * tightness, and the entropy-rate/conservation identities. */
class WideningPinsSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("ahash banded pairs equal the exhaustive join at the declared radius") {
    val fps = Multimodal.ahashFingerprints(
      SparkEntry.T(spark, dir, "documents"))
    val banded = Dedup.simhashPairs(fps, 6, 60)
      .select("doc_a", "doc_b", "hamming").as[(Long, Long, Int)]
      .collect().toSet
    val exhaustive = Dedup.simhashPairsExhaustive(fps, 6)
      .select("doc_a", "doc_b", "hamming").as[(Long, Long, Int)]
      .collect().toSet
    assert(banded === exhaustive)
    // 60-bit fingerprints stay sign-safe
    assert(fps.agg(min("simhash")).head().getLong(0) >= 0L)
  }

  test("wide ahash banded pairs equal the exhaustive join on planted near-dups") {
    val rnd = new scala.util.Random(42)
    val base = (0 until 60).map { i =>
      (i.toLong, (0 until 400).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString)
    }
    // exact copies (hamming 0) plus lightly mutated twins (a few
    // sampled pixels shift, borderline threshold bits may flip)
    val copies = base.take(5).map { case (id, t) => (id + 1000L, t) }
    val mutated = base.slice(5, 25).map { case (id, t) =>
      val arr = t.toCharArray
      Seq(13, 157, 311).foreach { p =>
        arr(p) = if (arr(p) == 'z') 'a' else (arr(p) + 1).toChar
      }
      (id + 2000L, new String(arr))
    }
    val docs = (base ++ copies ++ mutated).toDF("doc_id", "text")
    val fps = ext.Multimodal.ahashFingerprintsWide(docs)
    val banded = ext.Dedup.simhashPairsWide(fps, 6)
      .as[(Long, Long, Int)].collect().toSet
    val exhaustive = ext.Dedup.simhashPairsWideExhaustive(fps, 6)
      .as[(Long, Long, Int)].collect().toSet
    assert(banded === exhaustive)
    assert(exhaustive.nonEmpty, "planted twins must land within the radius")
    // both words sign-safe
    val m = fps.agg(min("h0"), min("h1")).head()
    assert(m.getLong(0) >= 0L && m.getLong(1) >= 0L)
  }

  test("DCT banded pairs equal the exhaustive join on planted near-dups") {
    // the m_dct_neardup registry row is 0 rows on the clean synthetic
    // corpus (no true near-dups at radius 6), so the banding's recall
    // is pinned here on planted twins — the m_ahash_wide convention
    val rnd = new scala.util.Random(7)
    val base = (0 until 40).map { i =>
      (i.toLong, (0 until 400).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString)
    }
    val copies = base.take(5).map { case (id, t) => (id + 1000L, t) }
    val mutated = base.slice(5, 20).map { case (id, t) =>
      val arr = t.toCharArray
      Seq(13, 157, 311).foreach { p =>
        arr(p) = if (arr(p) == 'z') 'a' else (arr(p) + 1).toChar
      }
      (id + 2000L, new String(arr))
    }
    val docs = (base ++ copies ++ mutated).toDF("doc_id", "text")
    val fps = Multimodal.dctFingerprints(docs)
    val banded = Dedup.simhashPairs(fps, 6, 63)
      .as[(Long, Long, Int)].collect().toSet
    val exhaustive = Dedup.simhashPairsExhaustive(fps, 6)
      .as[(Long, Long, Int)].collect().toSet
    assert(banded === exhaustive)
    assert(exhaustive.nonEmpty, "planted twins must land within the radius")
    assert(fps.agg(min("simhash")).head().getLong(0) >= 0L, "63 bits stay sign-safe")
  }

  test("media banded-56 pairs equal the exhaustive join, high bits structurally zero") {
    // m_media_neardup bands only the low 56 bits (r15): its voters are
    // 56-bit window hashes, so simhash bits 56-63 are zero for EVERY
    // row — pinned here, because the banded form's recall guarantee
    // depends on it. Then banded-56 must equal exhaustive at radius 8.
    val fps = SparkEntry.T(spark, dir, "documents")
      .select(col("doc_id"),
        explode(graft.functions.ByteWindowHash.byteWindowHash(
          col("text").cast("binary"), 4)).as("h"))
    val sim = Dedup.simhashOfHashes(fps, 64)
    assert(sim.agg(max("simhash")).head().getLong(0) <
      (1L << graft.functions.ByteWindowHash.HashBits),
      "bits 56-63 must be structurally zero for the 56-bit banding")
    assert(sim.agg(min("simhash")).head().getLong(0) >= 0L)
    val banded = Dedup.simhashPairs(sim, 8, bits = 64,
      bandBits = graft.functions.ByteWindowHash.HashBits)
      .select("doc_a", "doc_b", "hamming").as[(Long, Long, Int)]
      .collect().toSet
    val exhaustive = Dedup.simhashPairsExhaustive(sim, 8)
      .select("doc_a", "doc_b", "hamming").as[(Long, Long, Int)]
      .collect().toSet
    assert(banded === exhaustive)
    assert(exhaustive.nonEmpty, "sf0.001 carries genuine near-dup media pairs")
  }

  test("repetition apply removes planted repeated spans, first occurrence wins") {
    // the registry row removes 0 tokens on the clean corpus (no
    // intra-doc 5-gram repeats), so the routing is pinned here
    val docs = Seq(
      // "a b c d e" repeats verbatim: the SECOND occurrence's five
      // positions go; the unique middle and tail survive
      (1L, "a b c d e x y a b c d e z"),
      // run of one token: grams all equal, first occurrence keeps
      // tokens 0..4... minus every later gram start's cover [1..]
      (2L, "t t t t t t t t"),
      // under 5 tokens: no grams, unchanged
      (3L, "short doc here")).toDF("doc_id", "text")
    val got = SparkEntry.repetitionApply(docs)
      .as[(Long, Long, Long, Long, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L) === ((1L, 13L, 8L, 5L, "a b c d e x y z")),
      s"second span must go, first and unique text survive: ${got(1L)}")
    // doc 2: gram starts 1..3 are repeats -> positions 1..7 covered
    assert(got(2L) === ((2L, 8L, 1L, 7L, "t")), got(2L).toString)
    assert(got(3L) === ((3L, 3L, 3L, 0L, "short doc here")), got(3L).toString)
  }

  test("capped banding drops hot-bucket-only pairs and keeps the rest") {
    // bits=8, radius 1 → two 4-bit segments. Docs 1-5 pile onto
    // segment-0 value 0 (the hot bucket); the (1,2) near-dup pair
    // agrees ONLY there, while (6,7) agrees on an uncapped segment.
    val fps = Seq(1L -> 0L, 2L -> 16L, 3L -> 96L, 4L -> 160L, 5L -> 192L,
      6L -> 255L, 7L -> 254L).toDF("doc_id", "simhash")
    val uncapped = Dedup.simhashPairs(fps, 1, 8)
      .as[(Long, Long, Int)].collect().toSet
    assert(uncapped === Set((1L, 2L, 1), (6L, 7L, 1)))
    // cap 4 drops the 5-doc bucket: the hot-bucket-only pair is the
    // documented recall trade; the uncapped-segment pair survives
    val capped = Dedup.simhashPairsCapped(fps, 1, 8, 4L)
      .as[(Long, Long, Int)].collect().toSet
    assert(capped === Set((6L, 7L, 1)))
    // a cap nothing exceeds IS the uncapped join
    val loose = Dedup.simhashPairsCapped(fps, 1, 8, 100L)
      .as[(Long, Long, Int)].collect().toSet
    assert(loose === uncapped)
  }

  test("code detector routes planted code and leaves prose alone") {
    // the synthetic corpus holds no code symbols at all (the oracle
    // row pins the arithmetic on exact zeros), so the classification
    // behavior itself is pinned on a planted fixture — the
    // m_ahash_wide convention
    val dir = java.nio.file.Files.createTempDirectory("codedet").toString
    Seq(
      (1L, "def route(x): return x { } [ ] ; if x == 0 { return } " +
        "import os ; void main ( ) { int y = 0 ; }"),
      (2L, "the quiet harbor town woke slowly as fishermen hauled " +
        "their morning nets across the weathered docks and gulls cried"),
      (3L, "x = y ; { a = b } ; ( c < d ) ; [ e > f ] ;"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("t_code_detect")(spark, dir)
      .select("doc_id", "is_code").as[(Long, Boolean)].collect().toMap
    assert(got === Map(1L -> true, 2L -> false, 3L -> true),
      "keyword-dense and symbol-dense docs route to code; prose does not")
  }

  test("per-seed BFS labels fold to the multi-source shells") {
    // suppkey-based seeds, NOT nation-0: the smoke fixture has no
    // nation-0 supplier, which would make this pin vacuous
    val seeds = SparkEntry.T(spark, dir, "supplier")
      .filter(col("s_suppkey") <= 3)
      .select(concat(lit("s"), col("s_suppkey").cast("string")).as("node"))
    val li = SparkEntry.T(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"))
    val ord = SparkEntry.T(spark, dir, "orders")
      .select(col("o_orderkey").as("l_orderkey"), col("o_custkey"))
    val und = li.join(ord, "l_orderkey")
      .groupBy(col("o_custkey"), col("l_suppkey")).agg(count(lit(1)).as("w"))
      .select(concat(lit("c"), col("o_custkey").cast("string")).as("cn"),
        concat(lit("s"), col("l_suppkey").cast("string")).as("sn"), col("w"))
    val sym = und.select(col("cn").as("src"), col("sn").as("dst"), col("w"))
      .union(und.select(col("sn").as("src"), col("cn").as("dst"), col("w")))
    val perSeed = graft.ops.Graph.bfsHopsPerSeed(sym, seeds, 3)
    val folded = perSeed.groupBy("node").agg(min("dist").as("dist"))
      .as[(String, Long)].collect().toMap
    val multi = graft.ops.Graph.bfsHops(sym, seeds, 3)
      .filter(col("dist").isNotNull)
      .as[(String, Long)].collect().toMap
    // min over per-seed labels IS the multi-source distance, and the
    // reached sets coincide — and the fixture genuinely reaches
    assert(folded.nonEmpty)
    assert(folded === multi)
  }

  test("per-seed BFS refuses a seed set past the landmark gate") {
    val e = Seq(("a", "b", 1L), ("b", "a", 1L)).toDF("src", "dst", "w")
    val seeds = Seq("a", "b").toDF("node")
    val ex = intercept[IllegalArgumentException] {
      graft.ops.Graph.bfsHopsPerSeed(e, seeds, 1, maxSeeds = 1L)
    }
    assert(ex.getMessage.contains("maxSeeds"))
  }

  test("theil-sen pair counts and median bounds hold") {
    val daily = SparkEntry.T(spark, dir, "events")
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .groupBy("event_type", "day").count()
      .groupBy("event_type").agg(count(lit(1)).as("n_days"))
      .as[(String, Long)].collect().toMap
    val rows = SparkEntry.queries("a_theil_sen")(spark, dir)
      .as[(String, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (t, nPairs, _, _) =>
      val n = daily(t)
      assert(nPairs === n * (n - 1) / 2,
        s"$t: pairs $nPairs vs n=$n")
    }
  }

  test("textrank emits at most 20 ranked keywords with positive mass") {
    val rows = SparkEntry.queries("t_textrank")(spark, dir)
      .as[(String, Long)].collect()
    assert(rows.nonEmpty && rows.length <= 20)
    assert(rows.forall(_._2 > 0L))
    // the cut is (rank desc, token): re-sorting changes nothing
    assert(rows.sortBy { case (tok, p) => (-p, tok) }.toSeq === rows.toSeq)
  }

  test("bucket advisor recommends the TIGHT power of two") {
    val rows = SparkEntry.queries("p_bucket_advisor")(spark, dir)
      .select("n_rows", "buckets").as[(Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (n, b) =>
      assert((b & (b - 1)) === 0L, s"buckets $b not a power of two")
      assert(b * 65536 >= n, s"buckets $b too small for $n rows")
      if (b > 1) assert((b / 2) * 65536 < n, s"buckets $b not tight for $n")
    }
  }

  test("entropy rate rides the conserved vector and stays in bounds") {
    val v = SparkEntry.queries("a_markov_conserve")(spark, dir)
      .as[(String, Long)].collect().toMap
    val rows = SparkEntry.queries("a_markov_entropy")(spark, dir)
      .as[(String, Long, Double, Double)].collect()
    assert(rows.map(r => r._1 -> r._2).toMap === v)
    rows.foreach { case (_, _, h, c) =>
      assert(h >= 0.0 && c >= 0.0 && c <= h + 1e-9)
    }
    // the rate (sum of contributions) never exceeds the largest
    // conditional entropy
    assert(rows.map(_._4).sum <= rows.map(_._3).max + 1e-9)
  }

  test("license audit routes planted markers; clean corpus pins zeros") {
    // planted: srcA carries two Apache docs (one mentioning the
    // license twice) and a dual-licensed MIT/GPL doc; srcB is clean
    val docs = Seq(
      (1L, "Licensed under the Apache License, Version 2.0.", "srcA"),
      (2L, "apache license header; see the APACHE LICENSE file", "srcA"),
      (3L, "MIT License or the GNU General Public License v3", "srcA"),
      (4L, "just prose, nothing reserved here", "srcB"))
      .toDF("doc_id", "text", "source")
    val got = SparkEntry.licenseAudit(docs)
      .as[(String, String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    assert(got(("srcA", "apache")) === ((2L, 3L)))
    assert(got(("srcA", "mit")) === ((1L, 1L)))
    assert(got(("srcA", "gpl")) === ((1L, 1L)))
    assert(got(("srcA", "cc")) === ((0L, 0L)))
    assert(got(("srcB", "apache")) === ((0L, 0L)))
    assert(got(("srcB", "arr")) === ((0L, 0L)))
    assert(got.size === 10) // 2 sources x 5 classes, dense
    // the fixture corpus is license-free: the oracle row's zeros are
    // the real routing result, not a vacuous truth about the patterns
    val real = SparkEntry.queries("e_license_audit")(spark, dir)
      .agg(sum("n_hits")).head().getLong(0)
    assert(real === 0L)
  }
}
