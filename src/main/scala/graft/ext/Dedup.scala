package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.codec.Codecs._

/** Deduplication operators (north-star LLM-pipeline surface): exact,
  * n-gram Jaccard, MinHash+LSH, SimHash. Hashing defaults to the
  * oracle-portable 56-bit md5 prefix ([[graft.codec.Codecs.portableHash]]);
  * every entry point also accepts `hashName = "xx"` to swap in
  * xxhash64 ([[graft.codec.Codecs.scaleHash]]) for production — same
  * plan shapes, no md5 string round-trip, NOT oracle-reproducible.
  *
  * Scale design (100 TB): every operator below is
  * explode → hash-partition → partial-agg shaped. Candidate generation
  * is always band/bucket-join (never all-pairs) at scale; the pairwise
  * variants keep an explicit candidate-limiting predicate so the
  * quadratic term is bounded per bucket, not per corpus.
  */
object Dedup {

  val P: Long = 2305843009213693951L // 2^61 - 1, Mersenne prime

  /** Resolve a hash-variant name to its column function. The name (not
    * a function value) is threaded through the API so PlanCache tags
    * stay distinct per variant. */
  private def hashFn(hashName: String): Column => Column = hashName match {
    case "md5" => portableHash
    case "xx"  => scaleHash
    case other => throw new IllegalArgumentException(s"unknown hash variant: $other")
  }

  /** Small-fixture spread, gated by `spark.graft.spreadSmallInputs`
    * (default OFF). The local harness reads each table from ONE parquet
    * file whose single row group cannot be split by
    * `files.maxPartitionBytes`, so a CPU-bound build (shingle md5) would
    * run on one core; the harness sessions opt in and take one explicit
    * round-robin shuffle. At cluster scale the flag stays off and the
    * operators are shuffle-neutral — no physical-plan probe, no hidden
    * repartition. */
  private def spread(df: DataFrame): DataFrame =
    if (df.sparkSession.conf.get("spark.graft.spreadSmallInputs", "false").toBoolean)
      df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    else df

  /** Exact dedup: group by (content hash, length); keeper = min doc_id.
    * Map-side partial aggregation makes the shuffle proportional to the
    * number of DISTINCT documents. The length component is a free
    * collision guard on the 56-bit hash; a corpus at the 100 TB scale
    * (billions of docs ⇒ birthday collisions at ~2^28) additionally
    * runs a within-group byte-compare confirm pass before any
    * destructive dedup — grouping by the full text would be exact but
    * shuffles the corpus. */
  def exactGroups(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), portableHash(col("text")).as("text_hash"),
        length(col("text")).cast("long").as("text_len"))
      .groupBy("text_hash", "text_len")
      .agg(count(lit(1)).as("n_copies"), min("doc_id").as("keeper"))

  /** (doc_id, shingle-hash) exploded pairs — the shared substrate for
    * Jaccard and MinHash. Distinct within doc. Materialized once via
    * PlanCache: the Jaccard self-join alone references it 4×, and the
    * MinHash/LSH queries reuse the same index. */
  def shingleHashes(docs: DataFrame, n: Int, hashName: String = "md5"): DataFrame =
    // Tokenize in a projection BELOW the explode so the split/filter
    // runs once per document, not once per reference inside the
    // shingle generator. Plan construction runs only on a cache miss.
    graft.ops.PlanCache.cached(s"shingles-$n-$hashName", docs) {
      spread(docs).select(col("doc_id"), tokens(col("text")).as("tk"))
        .select(col("doc_id"), explode(array_distinct(shingles(col("tk"), n))).as("sh"))
        .select(col("doc_id"), hashFn(hashName)(col("sh")).as("h"))
    }

  /** Caller-DECLARED document-frequency policy for the shared gram
    * self-join substrate (the ExactPercentiles `fewGroups` pattern:
    * the scale-critical strategy choice is part of the call, never an
    * implicit default). [[DfCap.Capped]] drops shingles in more than
    * `maxDf` docs before the join — the production form, join fan-out
    * ≤ maxDf² per key. [[DfCap.ExhaustiveOracle]] keeps every shingle:
    * one stop-shingle shared by d docs contributes d²/2 join rows, so
    * this form exists ONLY as the correctness twin the capped path is
    * verified against — the name is the warning. */
  sealed trait DfCap
  object DfCap {
    final case class Capped(maxDf: Long) extends DfCap
    case object ExhaustiveOracle extends DfCap
  }

  /** Shared Jaccard tail over a (doc_id, h) shingle frame: equi-join on
    * the shingle hash (this IS the candidate generator — only docs
    * sharing ≥1 shingle ever meet), count intersections, then
    * J = |∩| / (|A|+|B|-|∩|). Sizes are computed over the SAME frame,
    * so a df-capped caller gets Jaccard over the capped universe —
    * consistent numerator and denominator. Every caller declares its
    * [[DfCap]]: the capped index is PlanCached (the tail references
    * its input 3× — self-join twice + sizes — so the df pass would
    * otherwise run three times per query), and the df aggregation
    * shuffles on the same key `h` as the join, one co-partitioned
    * pass, not a new shuffle shape. */
  private def jaccardPairs(shRaw: DataFrame, minJaccard: Double, cap: DfCap,
      cacheTag: String): DataFrame = {
    val sh = cap match {
      case DfCap.ExhaustiveOracle => shRaw
      case DfCap.Capped(maxDf) =>
        graft.ops.PlanCache.cached(s"$cacheTag-capped-$maxDf", shRaw) {
          val rare = shRaw.groupBy("h").agg(count(lit(1)).as("df"))
            .filter(col("df") <= maxDf).select("h")
          shRaw.join(rare, Seq("h"), "left_semi")
        }
    }
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val inter = sh.as("a").join(sh.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "n_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "n_b"), "doc_b")
      .withColumn("jaccard",
        round(col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter")).cast("double"), 4))
      .filter(col("jaccard") >= minJaccard)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Candidate-driven intersection census — the shared tail of every
    * LSH-verified metric (Jaccard verify, containment, incremental
    * ingest): for each (aCol, bCol) candidate pair, count shared
    * shingle hashes and attach both side sizes. Cost is
    * O(candidates × shingles/doc), driven entirely by the candidate
    * list, never corpus-quadratic. Callers derive their metric
    * (Jaccard, directional containment) from (n_inter, n_a, n_b). */
  private def intersectWithSizes(cands: DataFrame, sh: DataFrame,
      aCol: String, bCol: String): DataFrame = {
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    cands
      .join(sh.select(col("doc_id").as(aCol), col("h").as("ha")), aCol)
      .join(sh.select(col("doc_id").as("__b_id"), col("h").as("hb")),
        col(bCol) === col("__b_id") && col("ha") === col("hb"))
      .groupBy(aCol, bCol).agg(count(lit(1)).as("n_inter"))
      .join(sizes.select(col("doc_id").as(aCol), col("n_sh").as("n_a")), aCol)
      .join(sizes.select(col("doc_id").as(bCol), col("n_sh").as("n_b")), bCol)
  }

  /** J = |∩| / (|A|+|B|−|∩|) over an [[intersectWithSizes]] frame. */
  private def jaccardCol: Column =
    round(col("n_inter").cast("double") /
      (col("n_a") + col("n_b") - col("n_inter")).cast("double"), 4)

  /** n-gram Jaccard near-dup pairs under a declared [[DfCap]].
    * [[DfCap.Capped]] is the production form (classic stop-shingle
    * removal: join fan-out per key ≤ maxDf², and near-dup scores
    * sharpen because ubiquitous shingles carry no signal).
    * [[DfCap.ExhaustiveOracle]] is the semantics twin the capped path
    * and LSH are verified against — a stop-shingle shared by d docs
    * costs d²/2 join rows, so it must never be a production entry
    * point (the registry keeps it only as an oracle row). */
  def ngramJaccardPairs(docs: DataFrame, n: Int, minJaccard: Double,
      cap: DfCap): DataFrame =
    jaccardPairs(shingleHashes(docs, n), minJaccard, cap, s"shingles-$n")

  /** MinHash signatures via the [[graft.functions.MinHashSketch]]
    * custom aggregate: ONE imperative agg with an Array[Long] buffer
    * instead of k wide codegen'd min() aggregates (identical values;
    * the shuffle still carries exactly k longs per doc). */
  def minhashSignatures(docs: DataFrame, n: Int, k: Int,
      hashName: String = "md5"): DataFrame =
    graft.ops.PlanCache.cached(s"minhash-$n-$k-$hashName", docs) {
      val sig = shingleHashes(docs, n, hashName).groupBy("doc_id")
        .agg(graft.functions.MinHashSketch.minhashSketch(col("h"), k).as("mh"))
      sig.select(col("doc_id") +:
        (0 until k).map(i => element_at(col("mh"), i + 1).as(s"mh$i")): _*)
    }

  /** Signature → (doc_id, band, bkey) rows — the LSH band index
    * itself. One row per (doc, band); docs sharing a (band, bkey) cell
    * are candidate near-dups. At production scale this frame is the
    * persisted corpus-side staging table keyed (band, bkey) that an
    * incoming batch probes ([[incrementalNearDups]]). */
  def lshBandRows(sigs: DataFrame, bands: Int, rowsPerBand: Int,
      hashName: String = "md5"): DataFrame = {
    val bandStructs = (0 until bands).map { j =>
      val cols = (j * rowsPerBand until (j + 1) * rowsPerBand).map(i => col(s"mh$i"))
      struct(lit(j).as("band"), hashFn(hashName)(concat_ws(",", cols: _*)).as("bkey"))
    }
    sigs.select(col("doc_id"), explode(array(bandStructs: _*)).as("b"))
      .select(col("doc_id"), col("b.band").as("band"), col("b.bkey").as("bkey"))
  }

  /** LSH banding: signature → (band, band-key) rows; docs sharing a
    * band key are candidate pairs. bands·rowsPerBand must equal the
    * signature width. Returns (doc_a, doc_b, n_shared_bands). */
  def lshCandidatePairs(sigs: DataFrame, bands: Int, rowsPerBand: Int,
      hashName: String = "md5"): DataFrame = {
    val banded = lshBandRows(sigs, bands, rowsPerBand, hashName)
    banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared_bands"))
  }

  /** The two-stage near-dup pipeline that actually scales: MinHash-LSH
    * generates candidate pairs (sub-quadratic), then exact n-gram
    * Jaccard is computed ONLY for candidates — the intersection join
    * is driven by the candidate list, so its cost is
    * O(candidates × shingles-per-doc), independent of corpus-pair
    * count. [[ngramJaccardPairs]] is the exact/exhaustive twin; this
    * is the 100 TB path (recall bounded by the LSH band parameters). */
  def lshVerifiedJaccard(docs: DataFrame, n: Int, k: Int,
      bands: Int, rowsPerBand: Int, minJaccard: Double,
      hashName: String = "md5"): DataFrame =
    // three registry queries (pairs themselves, connected components,
    // contamination) consume this frame — materialize once
    graft.ops.PlanCache.cached(
        s"lsh-pairs-$n-$k-$bands-$rowsPerBand-$minJaccard-$hashName", docs) {
      lshVerifiedJaccardPlan(docs, n, k, bands, rowsPerBand, minJaccard, hashName)
    }

  /** Directional n-gram containment over the SAME LSH candidate pairs
    * as [[lshVerifiedJaccard]]: C(A⊆B) = |grams(A)∩grams(B)| /
    * |grams(A)|, both directions. Containment is the decontamination
    * metric proper — a short eval doc quoted whole inside a long train
    * doc has LOW Jaccard (the union is big) but containment ≈ 1, which
    * is exactly the case document-level Jaccard dedup misses. Pairs
    * kept when either direction ≥ minC. Candidate-driven like the
    * Jaccard verify, so the shuffle bounds are identical; the shingle
    * and signature frames are the shared cached substrates. */
  def lshContainment(docs: DataFrame, n: Int, k: Int, bands: Int,
      rowsPerBand: Int, minC: Double, hashName: String = "md5"): DataFrame = {
    val sh = shingleHashes(docs, n, hashName)
    val cands = lshCandidatePairs(minhashSignatures(docs, n, k, hashName),
        bands, rowsPerBand, hashName)
      .select("doc_a", "doc_b")
    intersectWithSizes(cands, sh, "doc_a", "doc_b")
      .withColumn("c_a_in_b", round(col("n_inter").cast("double") / col("n_a"), 4))
      .withColumn("c_b_in_a", round(col("n_inter").cast("double") / col("n_b"), 4))
      .filter(col("c_a_in_b") >= minC || col("c_b_in_a") >= minC)
      .select("doc_a", "doc_b", "c_a_in_b", "c_b_in_a")
  }

  /** Character-level (edit-distance) verification over the SAME LSH
    * candidate pairs as [[lshVerifiedJaccard]]: normalized edit
    * similarity 1 − lev(a,b) / max(|a|,|b|). Edit distance is the
    * order-sensitive complement of token-set Jaccard — two documents
    * that are word-permutations of each other score high Jaccard but
    * low edit similarity, which is exactly the templated-boilerplate
    * case set-based dedup over-merges. Running the O(|a|·|b|) DP only
    * on LSH candidates keeps it candidate-bounded, never
    * corpus-quadratic; the text join is two equi-joins driven by the
    * (small) candidate list. At production scale swap in Spark's
    * thresholded `levenshtein(l, r, maxDist)` (bails out past the
    * bound) — the unbounded form is kept here so the oracle's
    * levenshtein() computes the identical value. */
  def editVerifiedPairs(docs: DataFrame, n: Int, k: Int, bands: Int,
      rowsPerBand: Int, minSim: Double, hashName: String = "md5",
      maxDist: Int = 0): DataFrame = {
    val cands = lshCandidatePairs(minhashSignatures(docs, n, k, hashName),
        bands, rowsPerBand, hashName)
      .select("doc_a", "doc_b")
    val txt = docs.select(col("doc_id"), col("text"))
    // maxDist > 0 = the production cap: the thresholded DP bails out
    // (returns −1) once the distance exceeds the bound, so a
    // hopeless pair costs O(maxDist·min(|a|,|b|)) instead of
    // O(|a|·|b|). A bail is DECISIVE only when maxDist already covers
    // the pair's own similarity bound (1−minSim)·max(|a|,|b|) — for a
    // longer pair, lev could land in (maxDist, bound] and still clear
    // minSim, so dropping it on the bail alone would false-negative
    // exactly the long near-dups. Those pairs (and only those) fall
    // back to the exact DP; the +1e-4 margin covers the 4-dp rounding
    // of edit_sim so a knife-edge row can't be dropped either.
    // 0 = exact everywhere, oracle-reproducible.
    val scored = cands
      .join(txt.select(col("doc_id").as("doc_a"), col("text").as("text_a")), "doc_a")
      .join(txt.select(col("doc_id").as("doc_b"), col("text").as("text_b")), "doc_b")
    val resolved =
      if (maxDist > 0) {
        val pairBound = ceil((lit(1.0 - minSim + 1e-4)) *
          greatest(length(col("text_a")), length(col("text_b"))).cast("double")).cast("long")
        scored
          .withColumn("lev_capped",
            levenshtein(col("text_a"), col("text_b"), maxDist).cast("long"))
          .withColumn("lev",
            when(col("lev_capped") >= 0 || lit(maxDist.toLong) >= pairBound,
              col("lev_capped"))
              .otherwise(levenshtein(col("text_a"), col("text_b")).cast("long")))
          .filter(col("lev") >= 0)
      } else scored.withColumn("lev",
        levenshtein(col("text_a"), col("text_b")).cast("long"))
    resolved
      .withColumn("edit_sim", round(lit(1.0) - col("lev").cast("double") /
        greatest(length(col("text_a")), length(col("text_b"))).cast("double"), 4))
      .filter(col("edit_sim") >= minSim)
      .select(col("doc_a"), col("doc_b"), col("lev"), col("edit_sim"))
  }

  /** Incremental (batch-vs-corpus) near-dup check — the ingestion-time
    * shape: a newly-arrived batch is probed against the EXISTING corpus
    * band index instead of re-pairing the corpus against itself.
    * `isBatch` splits `docs`; both sides derive from the SAME cached
    * signature/shingle substrates the corpus-wide queries use (at
    * production scale the corpus side is a persisted staging table —
    * [[lshBandRows]] plus [[shingleHashes]] — and only the batch side
    * is computed fresh, so per-ingest cost is independent of corpus
    * re-indexing). Candidate generation is the asymmetric band-cell
    * join batch×corpus (shuffle ∝ batch band rows + matched cells,
    * never corpus²); the exact Jaccard verify then runs only on
    * surviving candidates, with the same bounds as
    * [[lshVerifiedJaccard]]. Returns (batch_doc, corpus_doc, jaccard)
    * at jaccard ≥ minJaccard. */
  def incrementalNearDups(docs: DataFrame, isBatch: Column, n: Int, k: Int,
      bands: Int, rowsPerBand: Int, minJaccard: Double,
      hashName: String = "md5"): DataFrame = {
    val marks = docs.select(col("doc_id"), isBatch.as("is_batch"))
    val banded = lshBandRows(minhashSignatures(docs, n, k, hashName),
        bands, rowsPerBand, hashName)
      .join(marks, "doc_id")
    val cands = banded.filter(col("is_batch"))
      .select(col("doc_id").as("batch_doc"), col("band"), col("bkey"))
      .join(banded.filter(!col("is_batch"))
          .select(col("doc_id").as("corpus_doc"), col("band"), col("bkey")),
        Seq("band", "bkey"))
      .select("batch_doc", "corpus_doc").distinct()
    val sh = shingleHashes(docs, n, hashName)
    intersectWithSizes(cands, sh, "batch_doc", "corpus_doc")
      .withColumn("jaccard", jaccardCol)
      .filter(col("jaccard") >= minJaccard)
      .select("batch_doc", "corpus_doc", "jaccard")
  }

  private def lshVerifiedJaccardPlan(docs: DataFrame, n: Int, k: Int,
      bands: Int, rowsPerBand: Int, minJaccard: Double,
      hashName: String): DataFrame = {
    val sh = shingleHashes(docs, n, hashName)
    val cands = lshCandidatePairs(minhashSignatures(docs, n, k, hashName),
        bands, rowsPerBand, hashName)
      .select("doc_a", "doc_b")
    intersectWithSizes(cands, sh, "doc_a", "doc_b")
      .withColumn("jaccard", jaccardCol)
      .filter(col("jaccard") >= minJaccard)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** SimHash (`bits`-wide): per token-occurrence hash, each bit votes
    * ±1; the sign of each bit-column sum becomes the fingerprint bit.
    *
    * Shuffle-width engineering: a naive implementation carries one
    * sum() per bit (32 longs/doc through the partial-agg shuffle).
    * Instead the per-bit ONES-counts are packed three to a long in
    * 20-bit lanes — `ceil(bits/3)+1` aggregates instead of `bits` —
    * and bit j is set iff 2·ones_j > n_tokens (identical fingerprints,
    * since the vote sum is 2·ones−n). Lane arithmetic is exact for up
    * to 2^20 tokens per document. Mirrored verbatim by the oracle SQL. */
  val LaneBits = 20
  val LanesPerLong = 3

  def simhash(docs: DataFrame, bits: Int): DataFrame =
    graft.ops.PlanCache.cached(s"simhash-$bits", docs) {
    simhashOfHashes(
      spread(docs).select(col("doc_id"), explode(tokens(col("text"))).as("t"))
        .select(col("doc_id"), portableHash(col("t")).as("h")), bits)
  }

  /** SimHash over a pre-hashed feature frame `(doc_id, h: long)` — the
    * substrate-independent core of [[simhash]]: word-token hashes,
    * payload byte-window hashes (m_media_neardup), or any other
    * shingle hash votes the same way. Lane packing as documented
    * above; exact for up to 2^20 features per document. At
    * `bits = 64` the top bit's literal is Long.MinValue — safe in the
    * ascending fold (every partial sum of disjoint bit literals is a
    * valid long, so no ANSI overflow under any association). */
  def simhashOfHashes(toks: DataFrame, bits: Int): DataFrame = {
    val nPacked = (bits + LanesPerLong - 1) / LanesPerLong
    val packed = (0 until nPacked).map { k =>
      val lanes = (0 until LanesPerLong)
        .map(l => (k * LanesPerLong + l, l))
        .filter(_._1 < bits)
        .map { case (j, l) =>
          shiftleft(shiftright(col("h"), j).bitwiseAND(lit(1L)), l * LaneBits)
        }
      sum(lanes.reduce(_ + _)).as(s"p$k")
    }
    val aggs = packed :+ count(lit(1)).as("n_tok")
    val agg = toks.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
    val fp = (0 until bits).map { j =>
      val ones = shiftright(col(s"p${j / LanesPerLong}"), (j % LanesPerLong) * LaneBits)
        .bitwiseAND(lit((1L << LaneBits) - 1))
      when(ones * 2 > col("n_tok"), lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    agg.select(col("doc_id"), fp.as("simhash"))
  }

  /** SimHash near-dup pairs by Hamming distance ≤ maxHamming, with
    * GUARANTEED recall via pigeonhole banding: the `bits`-wide
    * fingerprint is split into maxHamming+1 contiguous segments; a
    * pair within the distance budget differs in at most maxHamming
    * bits, so at least one segment must match EXACTLY — an equi-join
    * per segment therefore finds every qualifying pair, and the exact
    * bit_count filter removes the false candidates. Join fan-out is
    * per (segment, value) bucket, never corpus-quadratic. */
  def simhashPairs(fps: DataFrame, maxHamming: Int, bits: Int = 32): DataFrame =
    simhashPairs(fps, maxHamming, bits, bits)

  /** [[simhashPairs]] with the pigeonhole segments drawn from only the
    * LOWEST `bandBits` bits of the fingerprint. Sound ONLY when the
    * caller guarantees bits bandBits..bits-1 are STRUCTURALLY EQUAL
    * across all rows (e.g. always zero because the underlying gram
    * hash is narrower than the simhash word): every differing bit of
    * any pair then lies inside the banded range, so the ≤ maxHamming
    * differing bits still leave one of the maxHamming+1 segments
    * exactly equal — full recall, unchanged results (the exact
    * bit_count filter runs over the FULL fingerprint either way).
    *
    * Why it exists (r15): m_media_neardup's 64-bit simhash is built
    * over 56-bit window hashes, so bits 56-63 are zero for EVERY
    * asset — banding all 64 bits made segment 9 a single degenerate
    * (seg, segval=0) bucket holding the whole corpus: an N²/2
    * all-pairs join hiding inside the "banded" plan (measured at
    * sf0.1: 12.5 M of the 21 M candidate pairs, every one in ONE join
    * key = one straggler task — the guide §2.5 un-splittable hot key).
    * Banding the 56 real bits drops that segment's candidates to the
    * same per-bucket bound as the others. */
  def simhashPairs(fps: DataFrame, maxHamming: Int, bits: Int,
      bandBits: Int): DataFrame = {
    require(bandBits <= bits, s"bandBits $bandBits must be <= bits $bits")
    val banded = fps.select(col("doc_id"), col("simhash"),
        explode(array(bandSegments(bandBits, maxHamming): _*)).as("b"))
      .select(col("doc_id"), col("simhash"), col("b.seg").as("seg"), col("b.segval").as("segval"))
    banded.as("a").join(banded.as("b"),
        col("a.seg") === col("b.seg") && col("a.segval") === col("b.segval") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        expr("bit_count(a.simhash ^ b.simhash)").cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct() // a close pair may agree on several segments
  }

  /** The pigeonhole segments of [[simhashPairs]]: the lowest
    * `bandBits` bits of `simhash` cut into maxHamming+1 contiguous
    * ranges, each a `struct(seg, segval)` — the band self-join key.
    * Shared by both band joins and by BandHistSpec, which pins the
    * per-key bucket sizes these keys produce. */
  private[graft] def bandSegments(bandBits: Int, maxHamming: Int): Seq[Column] = {
    val nSeg = maxHamming + 1
    require(nSeg <= bandBits,
      s"need at least one bit per segment ($nSeg segments, $bandBits banded bits)")
    val bounds = (0 to nSeg).map(i => i * bandBits / nSeg)
    (0 until nSeg).map { s =>
      val lo = bounds(s); val w = bounds(s + 1) - lo
      val mask = if (w >= 64) -1L else (1L << w) - 1
      struct(lit(s).as("seg"),
        shiftright(col("simhash"), lo).bitwiseAND(lit(mask)).as("segval"))
    }
  }

  /** [[simhashPairs]] with a BUCKET CAP — the gram-join df-cap dial
    * applied to the pigeonhole bands: (segment, value) buckets holding
    * more than `maxBucket` fingerprints are DROPPED before the
    * self-join, so the candidate fan-out per bucket is bounded at
    * maxBucket² regardless of how the corpus piles onto a popular
    * segment value (boilerplate media assets all sharing a byte
    * pattern). The trade is explicit and the contract changes: recall
    * is guaranteed only for pairs that agree on at least one UNCAPPED
    * segment — a near-dup pair living entirely inside hot buckets is
    * missed, which is exactly the skew-vs-recall dial a 100 TB dedup
    * run turns (the [[nGramJaccardCapped]] convention). The oracle
    * mirrors the cap, so the gate pins the capped semantics, not an
    * approximation of the uncapped ones. One extra bucket-sized
    * aggregate + semi-join shaped filter; never all-pairs. */
  def simhashPairsCapped(fps: DataFrame, maxHamming: Int, bits: Int,
      maxBucket: Long): DataFrame = {
    require(maxBucket >= 2, s"maxBucket must be >= 2, got $maxBucket")
    val banded = fps.select(col("doc_id"), col("simhash"),
        explode(array(bandSegments(bits, maxHamming): _*)).as("b"))
      .select(col("doc_id"), col("simhash"), col("b.seg").as("seg"), col("b.segval").as("segval"))
    val kept = banded.join(
      banded.groupBy(col("seg"), col("segval"))
        .agg(count(lit(1)).as("df"))
        .filter(col("df") <= maxBucket)
        .select(col("seg"), col("segval")),
      Seq("seg", "segval"))
    kept.as("a").join(kept.as("b"),
        col("a.seg") === col("b.seg") && col("a.segval") === col("b.segval") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        expr("bit_count(a.simhash ^ b.simhash)").cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct() // a close pair may agree on several uncapped segments
  }

  /** All-pairs twin of [[simhashPairs]] — O(N²), for verifying the
    * banded form's guaranteed-recall claim on fixtures only. */
  def simhashPairsExhaustive(fps: DataFrame, maxHamming: Int): DataFrame =
    fps.as("a").join(fps.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        expr("bit_count(a.simhash ^ b.simhash)").cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)

  /** Two-word (120-bit) twin of [[simhashPairs]] for
    * (doc_id, h0, h1) fingerprints — the band-width scale path: 8
    * fixed segments of 15 bits (4 per word), so the band space is
    * 32 768 values and bucket sizes stay sub-linear where the narrow
    * hash's 8–9-bit segments collide. Pigeonhole over 8 segments
    * guarantees recall for maxHamming ≤ 7: a within-radius pair
    * differs in ≤ 7 bits, so some segment matches exactly. Same
    * equi-join-then-exact-verify shape; never all-pairs. */
  def simhashPairsWide(fps: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming <= 7,
      s"simhashPairsWide: 8 segments guarantee recall only to radius 7, " +
        s"got $maxHamming")
    val segs = (0 until 8).map { s =>
      val w = if (s < 4) col("h0") else col("h1")
      struct(lit(s).as("seg"),
        shiftright(w, (s % 4) * 15).bitwiseAND(lit((1L << 15) - 1))
          .as("segval"))
    }
    val banded = fps
      .select(col("doc_id"), col("h0"), col("h1"),
        explode(array(segs: _*)).as("b"))
      .select(col("doc_id"), col("h0"), col("h1"),
        col("b.seg").as("seg"), col("b.segval").as("segval"))
    banded.as("a").join(banded.as("b"),
        col("a.seg") === col("b.seg") && col("a.segval") === col("b.segval") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        expr("bit_count(a.h0 ^ b.h0) + bit_count(a.h1 ^ b.h1)")
          .cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** All-pairs twin of [[simhashPairsWide]] — fixtures only. */
  def simhashPairsWideExhaustive(fps: DataFrame, maxHamming: Int): DataFrame =
    fps.as("a").join(fps.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        expr("bit_count(a.h0 ^ b.h0) + bit_count(a.h1 ^ b.h1)")
          .cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)

  /** Maximal duplicated token spans — exact-substring deduplication in
    * the sense of Lee et al. 2022 ("Deduplicating Training Data Makes
    * Language Models Better"), re-expressed Spark-shaped. The paper
    * builds a corpus suffix array (inherently sequential); the
    * distributed equivalent: a token position is "duplicated" iff the
    * n-gram starting there occurs ≥2 times corpus-wide (any document,
    * including its own), and runs of duplicated positions ≤n apart
    * merge into maximal spans — exactly the regions a span-level dedup
    * pass would cut before training.
    *
    * Scale shape: positional grams = one row per corpus token
    * (explode, no shuffle) → occurrence count by gram hash (partial
    * agg, shuffle ∝ distinct grams) → left-semi back on the same key
    * (co-partitioned) → gaps-and-islands window partitioned by doc_id
    * (shuffle on doc_id, bounded by tokens-per-doc — never a global
    * window). The positional gram frame feeds both the count and the
    * semi-join probe, so it is PlanCache-materialized once.
    *
    * Returns (doc_id, span_start, span_end, n_grams): 0-based token
    * indices, span covers [span_start, span_end] inclusive. */
  /** The positional gram frame (doc_id, pos, gram hash) that both the
    * occurrence count and the semi-join probe of [[duplicatedSpans]]
    * read — PlanCache-materialized once per (n, hash, corpus). Public
    * so the bench's prepare phase can charge this corpus-wide build to
    * a named staging step instead of to whichever span query runs
    * first (it is the single most expensive cold build in the d_span
    * family). */
  def positionalGrams(docs: DataFrame, n: Int,
      hashName: String = "md5"): DataFrame =
    graft.ops.PlanCache.cached(s"gram-pos-$n-$hashName", docs) {
      spread(docs).select(col("doc_id"), tokens(col("text")).as("tk"))
        .select(col("doc_id"), posexplode(shingles(col("tk"), n)).as(Seq("pos", "sh")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          hashFn(hashName)(col("sh")).as("h"))
    }

  def duplicatedSpans(docs: DataFrame, n: Int,
      hashName: String = "md5"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grams = positionalGrams(docs, n, hashName)
    val dup = grams.groupBy("h").agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= 2).select("h")
    val dupPos = grams.join(dup, Seq("h"), "left_semi").select("doc_id", "pos")
    val w = Window.partitionBy("doc_id").orderBy("pos")
    dupPos
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(w) <= n, 0L).otherwise(1L))
      .withColumn("island", sum(col("brk")).over(w))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(n.toLong - 1)).as("span_end"),
        count(lit(1)).as("n_grams"))
      .select(col("doc_id"), col("span_start"), col("span_end"), col("n_grams"))
  }

  /** Per-document duplicated-token fraction — the headline metric of
    * exact-substring dedup (what fraction of each document's tokens
    * sit inside a corpus-duplicated span). Maximal spans never overlap
    * within a doc (they merge by construction), so the per-doc sum of
    * span widths is exact; docs with no duplicated span report 0.
    * One extra doc_id-keyed aggregate + left join over
    * [[duplicatedSpans]] — no new shuffle shape. */
  def duplicatedTokenFraction(docs: DataFrame, n: Int,
      hashName: String = "md5"): DataFrame = {
    val spans = duplicatedSpans(docs, n, hashName)
      .groupBy("doc_id")
      .agg(sum(col("span_end") - col("span_start") + 1).as("dup_tokens"))
    docs.select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_tok"))
      .join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tok"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        round(when(col("n_tok") > 0,
            coalesce(col("dup_tokens"), lit(0L)).cast("double") / col("n_tok"))
          .otherwise(0.0), 4).as("dup_frac"))
  }

  /** The APPLY step of exact-substring span dedup (Lee et al. 2022
    * actually CUTS the duplicated spans before training; [[duplicatedSpans]]
    * only reports them): rebuild each document's token stream with
    * every token inside a corpus-duplicated span removed. Output text
    * is token-normalized (lowercased, single-spaced) — the same
    * normalization the span positions are defined over.
    *
    * Scale shape: one extra doc_id-keyed aggregate over the span frame
    * (spans per doc are few and non-overlapping by construction) and
    * one doc_id equi-join back to the corpus; the token filtering is
    * row-local array work. No new shuffle key anywhere. */
  def removeDuplicatedSpans(docs: DataFrame, n: Int,
      hashName: String = "md5"): DataFrame = {
    val spans = duplicatedSpans(docs, n, hashName)
      .groupBy("doc_id")
      .agg(collect_list(struct(col("span_start").as("s"), col("span_end").as("e"))).as("spans"))
    docs.select(col("doc_id"), tokens(col("text")).as("tk"))
      .join(spans, Seq("doc_id"), "left")
      .withColumn("kept",
        when(col("spans").isNull, col("tk"))
          .otherwise(filter(col("tk"), (_, i) =>
            !exists(col("spans"), sp =>
              i.cast("long") >= sp.getField("s") && i.cast("long") <= sp.getField("e")))))
      .select(col("doc_id"),
        array_join(col("kept"), " ").as("clean_text"),
        (size(col("tk")) - size(col("kept"))).cast("long").as("n_removed"))
  }

  /** Longest-common-prefix in TOKENS between two capped suffix arrays:
    * index of the first mismatch (null-padded tails from `zip_with`
    * count as mismatches, so the result never exceeds the shorter
    * array); arrays equal through the shorter length ⇒ that length.
    * Null when either side is null (no neighbor). Pure column
    * expressions — stays inside whole-stage codegen. */
  private def lcpTokens(a: Column, b: Column): Column = {
    val z = zip_with(a, b, (x, y) =>
      when(x.isNull || y.isNull, lit(false)).otherwise(x === y))
    val p = array_position(z, lit(false))
    when(p === 0L, least(size(a), size(b)).cast("long")).otherwise(p - 1L)
  }

  /** The matched-positions frame the whole substring family reads:
    * one row per cross-doc duplicated start position —
    * (doc_id, pos, match_len, sub) — PlanCache-materialized per
    * (corpus, n, maxLcp, hash) because three registry consumers
    * (report, fraction, apply) derive from it, exactly like the
    * positional gram frame under the span family. */
  /** The duplicated-position gram keys of a positional gram frame:
    * grams occurring in ≥ 2 distinct docs (others cannot match
    * cross-doc), optionally capped at `maxOcc` total occurrences.
    * maxOcc > 0 = the skew knob: a degenerate stop-gram (an n-gram
    * occurring everywhere) makes one bucket's sort quadratic-ish in
    * its occurrence count; capping drops those buckets the same way
    * the df-capped jaccard drops stop-shingles — matches through a
    * rarer gram elsewhere in the span still surface. 0 = exact. */
  private def crossDocGramKeys(grams: DataFrame, maxOcc: Int): DataFrame =
    grams.groupBy("h")
      .agg(countDistinct(col("doc_id")).as("nd"), count(lit(1)).as("occ"))
      .filter(col("nd") >= 2 &&
        (if (maxOcc > 0) col("occ") <= maxOcc else lit(true)))
      .select("h")

  /** Shared suffix-ordering tail of the substring family (token AND
    * char units): over a (doc_id, pos, h, sfx, sfx_str) bucketed
    * suffix frame, each position's longest cross-doc match is its LCP
    * against the nearest OTHER-document suffix above or below in its
    * h bucket's suffix order, found via same-doc runs and their
    * boundaries. `sep` re-joins the matched unit slice into the
    * reported substring (" " for tokens, "" for characters). */
  /** The two window passes shared by both substring levels: bucketed
    * (by leading-gram hash `h`) suffix ordering, then per-row LCP to
    * the nearest OTHER-document suffix above and below via
    * adjacent-pair LCP MIN-CHAINS — the suffix-array identity
    * `lcp(SA[a], SA[b]) = min lcp(SA[i−1], SA[i]) for i in (a, b]`.
    * Pass 1 (window per h): one LCP against the lagged neighbor per
    * row (`lcpOf`), plus maximal same-doc run ids. Pass 2 (window per
    * (h, run)): the nearest other-doc row above r is the previous
    * run's last row, so its LCP is the running min of `lcp_prev` from
    * the run's first row (whose lcp_prev crosses the boundary);
    * symmetrically below with `lcp_next` = lead(lcp_prev). The second
    * pass therefore sorts LONGS on top of the row — the earlier
    * formulation broadcast the boundary SUFFIXES across the run,
    * dragging two maxLcp-sized payloads through the second sort and
    * evaluating two direct LCPs per row. Bucket edges coalesce to 0
    * (no neighbor ⇒ no match; the ≥ n filter drops them). Both
    * passes refine the same hash(h) distribution — extra sort, no
    * extra shuffle. */
  private def runBoundaries(sfxFrame: DataFrame, sfxCol: Column,
      lcpOf: (Column, Column) => Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ord = Seq(col("sfx_str"), col("doc_id"), col("pos"))
    val wb = Window.partitionBy("h").orderBy(ord: _*)
    val runs = sfxFrame
      .withColumn("lcp_prev",
        coalesce(lcpOf(sfxCol, lag(sfxCol, 1).over(wb)), lit(0L)))
      .withColumn("run", sum(
        when(lag(col("doc_id"), 1).over(wb).isNull ||
          lag(col("doc_id"), 1).over(wb) =!= col("doc_id"), 1L).otherwise(0L)).over(wb))
      .withColumn("lcp_next", coalesce(lead(col("lcp_prev"), 1).over(wb), lit(0L)))
    val wr = Window.partitionBy("h", "run").orderBy(ord: _*)
    val wrBefore = wr.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wrAfter = wr.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    runs
      .withColumn("match_len", greatest(
        min(col("lcp_prev")).over(wrBefore),
        min(col("lcp_next")).over(wrAfter)))
  }

  private def nearestOtherLcp(sfxFrame: DataFrame, n: Int, sep: String): DataFrame =
    runBoundaries(sfxFrame, col("sfx"), lcpTokens)
      .filter(col("match_len") >= n.toLong)
      .select(col("doc_id"), col("pos"), col("match_len"),
        array_join(slice(col("sfx"), lit(1), col("match_len").cast("int")), sep).as("sub"))

  /** Char-level tail: the suffix IS its sort-key string, so the LCP is
    * the native code-point [[graft.functions.CommonPrefixLen]] and the
    * matched substring a plain `substr` — value-identical to running
    * [[nearestOtherLcp]] over per-code-point split arrays with sep=""
    * (spec-pinned), at ~1/10th the bytes through the bucket sort. */
  private def nearestOtherLcpStr(sfxFrame: DataFrame, n: Int): DataFrame =
    runBoundaries(sfxFrame, col("sfx_str"),
      graft.functions.CommonPrefixLen.commonPrefixLen)
      .filter(col("match_len") >= n.toLong)
      .select(col("doc_id"), col("pos"), col("match_len"),
        col("sfx_str").substr(lit(1), col("match_len").cast("int")).as("sub"))

  def substringMatches(docs: DataFrame, n: Int, maxLcp: Int,
      hashName: String = "md5", maxOcc: Int = 0): DataFrame =
    graft.ops.PlanCache.cached(s"substr-matches-$n-$maxLcp-$hashName-$maxOcc", docs) {
      val grams = positionalGrams(docs, n, hashName)
      val dupPos = grams.join(crossDocGramKeys(grams, maxOcc), Seq("h"), "left_semi")
      // suffixes only at duplicated positions, built from ONE doc-keyed
      // join (the token array moves once per doc, not once per position)
      val perDoc = dupPos.groupBy("doc_id")
        .agg(collect_list(struct(col("pos"), col("h"))).as("ps"))
      val sfxFrame = spread(docs).select(col("doc_id"), tokens(col("text")).as("tk"))
        .join(perDoc, "doc_id")
        .select(col("doc_id"), explode(col("ps")).as("p"), col("tk"))
        .select(col("doc_id"), col("p.pos").as("pos"), col("p.h").as("h"),
          slice(col("tk"), (col("p.pos") + 1L).cast("int"), lit(maxLcp)).as("sfx"))
        .withColumn("sfx_str", array_join(col("sfx"), " "))
      nearestOtherLcp(sfxFrame, n, " ")
    }

  /** Cross-document MAXIMAL duplicated substrings via bucketed suffix
    * ordering — the exact-substring side of Lee et al. 2022 that
    * [[duplicatedSpans]]'s within-corpus n-gram islands approximate.
    * Instead of a corpus-global suffix array (one unpartitionable
    * sort), suffixes are bucketed by their leading n-gram hash: any
    * cross-doc match of length ≥ n shares its leading n-gram, so the
    * global suffix ordering restricted to one bucket contains every
    * match, and each bucket sorts independently (shuffle key = gram
    * hash, bucket size = that gram's corpus occurrence count — the
    * same distribution [[duplicatedSpans]] already shuffles on).
    *
    * Within a bucket sorted by suffix, the longest cross-doc match at
    * a position is its LCP against the NEAREST other-document suffix
    * above or below (LCP to anything farther is ≤ the nearest one —
    * the suffix-array adjacency property), found by two window passes:
    * runs of same-doc suffixes, then the previous run's last / next
    * run's first suffix at the run boundary. Suffixes are capped at
    * `maxLcp` tokens, so reported lengths are min(true length, maxLcp)
    * and per-row state is bounded; only positions whose leading gram
    * occurs in ≥ 2 DISTINCT docs enter the sort at all (the others
    * cannot match cross-doc), so the bucketed frame is the duplicated
    * fraction of the corpus, not the corpus.
    *
    * Returns one row per document that has any cross-doc match of
    * ≥ n tokens: (doc_id, n_dup_starts, max_len, longest_sub) — the
    * count of matching start positions, the longest match length, and
    * that longest substring (ties broken toward the
    * lexicographically-largest string, engine-reproducible). */
  def crossDocSubstrings(docs: DataFrame, n: Int, maxLcp: Int,
      hashName: String = "md5", maxOcc: Int = 0): DataFrame =
    substringMatches(docs, n, maxLcp, hashName, maxOcc).groupBy("doc_id")
      .agg(count(lit(1)).as("n_dup_starts"),
        max(col("match_len")).as("max_len"),
        max(struct(col("match_len"), col("sub"))).getField("sub").as("longest_sub"))

  /** Single-character view of the normalized text — the unit stream of
    * the char-level substring family. Normalization matches the token
    * family's (lowercase, trimmed) so the two levels measure the same
    * corpus; interior whitespace survives as characters (char-level
    * matches cross token boundaries — the point of the variant).
    * split-on-empty yields one element per char plus a trailing empty
    * in Java regex semantics; the filter drops it. */
  private def chars(text: Column): Column =
    filter(split(lower(trim(text)), ""), ch => length(ch) > 0)

  /** Char-level positional grams: one row per character position,
    * h = hash of the n-CHAR window starting there. The md5 path runs
    * through the fused native [[graft.functions.CharWindowHash]]
    * (one UTF-8 walk per document, bit-equal to
    * `portableHash(substr(txt, pos+1, n))` — spec-pinned; the
    * composed per-position substr was the dominant cost of the
    * substring_char_matches staging build). The xx path keeps the
    * composed form (xxhash64 is already one codegen'd call). Cached
    * per (n, hash, corpus) like the token-level [[positionalGrams]]. */
  def positionalCharGrams(docs: DataFrame, n: Int,
      hashName: String = "md5"): DataFrame =
    graft.ops.PlanCache.cached(s"chargram-pos-$n-$hashName", docs) {
      val base = spread(docs).select(col("doc_id"), lower(trim(col("text"))).as("txt"))
      if (hashName == "md5")
        base.select(col("doc_id"),
            posexplode(graft.functions.CharWindowHash.charWindowHash(col("txt"), n))
              .as(Seq("pos", "h")))
          .select(col("doc_id"), col("pos").cast("long").as("pos"), col("h"))
      else
        base.filter(length(col("txt")) >= n)
          .select(col("doc_id"), col("txt"),
            explode(sequence(lit(0L), length(col("txt")).cast("long") - n)).as("pos"))
          .select(col("doc_id"), col("pos"),
            hashFn(hashName)(col("txt").substr((col("pos") + 1L).cast("int"), lit(n))).as("h"))
    }

  /** Char-level twin of [[substringMatches]] — Lee et al.'s
    * exact-substring dedup as published operates on the raw
    * character/byte stream, not tokens: a 50-char boilerplate string
    * that starts mid-word is invisible to the token family and exact
    * here. Same bucketed suffix ordering (leading n-CHAR gram hash =
    * bucket key, suffixes capped at `maxLcp` CHARS, nearest-other-doc
    * LCP at run boundaries), same maxOcc stop-gram knob, NO
    * rangepartitioning (the plan pin covers both levels). Returns
    * (doc_id, pos, match_len, sub) in character units. */
  def substringMatchesChar(docs: DataFrame, n: Int, maxLcp: Int,
      hashName: String = "md5", maxOcc: Int = 0): DataFrame =
    graft.ops.PlanCache.cached(s"substr-char-matches-$n-$maxLcp-$hashName-$maxOcc", docs) {
      val grams = positionalCharGrams(docs, n, hashName)
      val dupPos = grams.join(crossDocGramKeys(grams, maxOcc), Seq("h"), "left_semi")
      val perDoc = dupPos.groupBy("doc_id")
        .agg(collect_list(struct(col("pos"), col("h"))).as("ps"))
      // suffixes are code-point substrings of the normalized text —
      // never materialized as char arrays (the sort moves one string
      // per row, not ~maxLcp UTF8String elements)
      val sfxFrame = spread(docs)
        .select(col("doc_id"), lower(trim(col("text"))).as("txt"))
        .join(perDoc, "doc_id")
        .select(col("doc_id"), explode(col("ps")).as("p"), col("txt"))
        .select(col("doc_id"), col("p.pos").as("pos"), col("p.h").as("h"),
          col("txt").substr((col("p.pos") + 1L).cast("int"), lit(maxLcp)).as("sfx_str"))
      nearestOtherLcpStr(sfxFrame, n)
    }

  /** Char-level [[crossDocSubstrings]]: per document, the count of
    * cross-doc duplicated character positions, the longest match
    * length in chars, and that longest substring. */
  def crossDocSubstringsChar(docs: DataFrame, n: Int, maxLcp: Int,
      hashName: String = "md5", maxOcc: Int = 0): DataFrame =
    substringMatchesChar(docs, n, maxLcp, hashName, maxOcc).groupBy("doc_id")
      .agg(count(lit(1)).as("n_dup_starts"),
        max(col("match_len")).as("max_len"),
        max(struct(col("match_len"), col("sub"))).getField("sub").as("longest_sub"))

  /** Interval-union of the matched positions — maximal cross-doc
    * duplicated REGIONS per doc: matches overlap and nest freely
    * (every start inside a long match also matches), so coverage is
    * the classic running-max island sweep, windowed per doc_id only —
    * never corpus-wide. Returns (doc_id, s0, e0) inclusive token
    * spans. */
  /** The running-max island sweep shared by both substring levels:
    * (doc_id, pos, e) intervals → maximal merged (doc_id, s0, e0)
    * spans, windowed per doc_id only — never corpus-wide. */
  private def islandSweep(iv: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy("pos")
    iv
      .withColumn("prev_end",
        max(col("e")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("brk",
        when(col("prev_end").isNull || col("pos") > col("prev_end"), 1L).otherwise(0L))
      .withColumn("island", sum(col("brk")).over(w))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("s0"), max(col("e")).as("e0"))
      .select(col("doc_id"), col("s0"), col("e0"))
  }

  private def crossDocIslands(docs: DataFrame, n: Int, maxLcp: Int,
      hashName: String): DataFrame =
    islandSweep(substringMatches(docs, n, maxLcp, hashName)
      .select(col("doc_id"), col("pos"), (col("pos") + col("match_len") - 1L).as("e")))

  private def crossDocIslandsChar(docs: DataFrame, n: Int, maxLcp: Int,
      hashName: String): DataFrame =
    islandSweep(substringMatchesChar(docs, n, maxLcp, hashName)
      .select(col("doc_id"), col("pos"), (col("pos") + col("match_len") - 1L).as("e")))

  /** Per-document cross-doc duplicated-token fraction — the
    * inter-document contamination metric (d_span_fraction counts
    * within-doc repeats too; this form counts ONLY tokens inside a
    * region shared with ANOTHER document, the quantity Lee et al.'s
    * exact-substring dedup thresholds on). Match lengths are capped at
    * `maxLcp`, so coverage is a lower bound at pathological overlap
    * lengths — the cap is the per-row state bound. */
  def crossDocDupFraction(docs: DataFrame, n: Int, maxLcp: Int,
      hashName: String = "md5"): DataFrame = {
    val spans = crossDocIslands(docs, n, maxLcp, hashName)
      .groupBy("doc_id")
      .agg(sum(col("e0") - col("s0") + 1).as("dup_tokens"))
    docs.select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_tok"))
      .join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tok"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        round(when(col("n_tok") > 0,
            coalesce(col("dup_tokens"), lit(0L)).cast("double") / col("n_tok"))
          .otherwise(0.0), 4).as("dup_frac"))
  }

  /** The APPLY step of cross-doc substring dedup: cut every token
    * inside a cross-doc duplicated region — same cut mechanics as
    * [[removeDuplicatedSpans]], driven by the suffix-ordering islands
    * instead of the within-corpus gram islands. */
  def removeCrossDocSubstrings(docs: DataFrame, n: Int, maxLcp: Int,
      hashName: String = "md5"): DataFrame = {
    val spans = crossDocIslands(docs, n, maxLcp, hashName)
      .groupBy("doc_id")
      .agg(collect_list(struct(col("s0").as("s"), col("e0").as("e"))).as("spans"))
    docs.select(col("doc_id"), tokens(col("text")).as("tk"))
      .join(spans, Seq("doc_id"), "left")
      .withColumn("kept",
        when(col("spans").isNull, col("tk"))
          .otherwise(filter(col("tk"), (_, i) =>
            !exists(col("spans"), sp =>
              i.cast("long") >= sp.getField("s") && i.cast("long") <= sp.getField("e")))))
      .select(col("doc_id"),
        array_join(col("kept"), " ").as("clean_text"),
        (size(col("tk")) - size(col("kept"))).cast("long").as("n_removed"))
  }

  /** Char-level [[crossDocDupFraction]]: fraction of the normalized
    * character stream inside a region shared with another document —
    * Lee et al.'s contamination metric in its published (character)
    * units. Same island sweep, denominator = chars. */
  def crossDocDupFractionChar(docs: DataFrame, n: Int, maxLcp: Int,
      hashName: String = "md5"): DataFrame = {
    val spans = crossDocIslandsChar(docs, n, maxLcp, hashName)
      .groupBy("doc_id")
      .agg(sum(col("e0") - col("s0") + 1).as("dup_chars"))
    docs.select(col("doc_id"),
        length(lower(trim(col("text")))).cast("long").as("n_chars"))
      .join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chars"),
        coalesce(col("dup_chars"), lit(0L)).as("dup_chars"),
        round(when(col("n_chars") > 0,
            coalesce(col("dup_chars"), lit(0L)).cast("double") / col("n_chars"))
          .otherwise(0.0), 4).as("dup_frac"))
  }

  /** Char-level [[removeCrossDocSubstrings]]: cut every CHARACTER
    * inside a cross-doc duplicated region (the apply step in the
    * paper's own units — cuts need not respect token boundaries). */
  def removeCrossDocSubstringsChar(docs: DataFrame, n: Int, maxLcp: Int,
      hashName: String = "md5"): DataFrame = {
    val spans = crossDocIslandsChar(docs, n, maxLcp, hashName)
      .groupBy("doc_id")
      .agg(collect_list(struct(col("s0").as("s"), col("e0").as("e"))).as("spans"))
    docs.select(col("doc_id"), chars(col("text")).as("ch"))
      .join(spans, Seq("doc_id"), "left")
      .withColumn("kept",
        when(col("spans").isNull, col("ch"))
          .otherwise(filter(col("ch"), (_, i) =>
            !exists(col("spans"), sp =>
              i.cast("long") >= sp.getField("s") && i.cast("long") <= sp.getField("e")))))
      .select(col("doc_id"),
        array_join(col("kept"), "").as("clean_text"),
        (size(col("ch")) - size(col("kept"))).cast("long").as("n_removed"))
  }

  /** Bloom-prefiltered exact n-gram decontamination. The exact
    * train×eval gram join ([[graft.SparkEntry]] d_contamination_ngram)
    * shuffles EVERY train gram on the gram hash even though almost none
    * of them hit an eval gram. Here the eval side (the small side: held
    * -out benchmarks) is folded into a Bloom filter by a distributed
    * aggregate — Spark's own `BloomFilterAggregate`, the expression
    * behind AQE runtime filters — whose final bytes (a few MB for 10^8
    * grams at 1% fpp, vs TBs of train grams) come back to the driver
    * and redistribute as a broadcast-style binary literal. Train grams
    * then pass `BloomFilterMightContain` BEFORE the shuffle, so the
    * exact confirm join moves only the ~fpp false-positive fraction
    * plus true hits. False positives are killed by the confirm join —
    * results are EXACT, which is what lets a plain SQL oracle with no
    * bloom at all check this query.
    *
    * Returns per-train-doc contamination: (train_doc, n_eval_docs,
    * n_shared) over grams of width n. */
  /** Fold a long-hash column into Bloom-filter bytes via Spark's own
    * `BloomFilterAggregate` (the expression behind AQE runtime
    * filters) — distributed build, one binary blob to the driver (the
    * sketch moves, not the data — the same movement pattern as a
    * broadcast dimension). Returns null when the frame is empty. */
  def buildBloom(grams: DataFrame, h: Column, expectedItems: Long): Array[Byte] = {
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftbridge.Bridge
    grams.agg(Bridge.column(
        new BloomFilterAggregate(Bridge.expression(h), expectedItems)
          .toAggregateExpression()).as("bf"))
      .head().getAs[Array[Byte]](0)
  }

  /** Bloom sizing pre-pass: approx-distinct count of the keys about to
    * be inserted, padded 20 % (the HLL estimate's error band) with a
    * small floor. One partial aggregate over the (already cached)
    * gram frame — a single row moves — so deriving the size costs
    * almost nothing, while a fixed constant silently saturates the
    * filter (fpp → 1) the day the eval set outgrows it. */
  def bloomExpectedItems(grams: DataFrame, h: Column): Long = {
    val n = grams.agg(approx_count_distinct(h).as("n")).head().getLong(0)
    math.max((n * 1.2).toLong, 1024L)
  }

  /** `might_contain` predicate over [[buildBloom]] bytes. The bloom
    * side must be a CONSTANT (Spark's check), which is exactly the
    * design: the filter rides into every task as a literal, so the
    * probe is a narrow map with no join in the plan. */
  def mightContain(bloomBytes: Array[Byte], h: Column): Column = {
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(new BloomFilterMightContain(
      Bridge.expression(lit(bloomBytes)), Bridge.expression(h)))
  }

  /** `expectedEvalGrams` ≤ 0 (the default) derives the bloom size from
    * the data via [[bloomExpectedItems]]; pass an explicit positive
    * count only when the eval cardinality is already known. */
  def bloomContamination(docs: DataFrame, isEval: Column, n: Int,
      expectedEvalGrams: Long = -1L): DataFrame = {
    val marks = docs.select(col("doc_id"), isEval.as("is_eval"))
    val sh = shingleHashes(docs, n).join(marks, "doc_id")
    val evalGrams = sh.filter(col("is_eval"))
      .select(col("doc_id").as("eval_doc"), col("h"))
    val expected =
      if (expectedEvalGrams > 0) expectedEvalGrams
      else bloomExpectedItems(evalGrams, col("h"))
    val bloomBytes = buildBloom(evalGrams, col("h"), expected)
    val trainGrams = sh.filter(!col("is_eval"))
      .select(col("doc_id").as("train_doc"), col("h"))
    val prefiltered =
      if (bloomBytes == null) trainGrams.filter(lit(false)) // no eval grams at all
      else trainGrams.filter(mightContain(bloomBytes, col("h")))
    prefiltered.join(evalGrams, "h")
      .groupBy("train_doc")
      .agg(countDistinct(col("eval_doc")).as("n_eval_docs"),
        count(lit(1)).as("n_shared"))
  }

  /** The dedup APPLY step for NEAR duplicates: near-duplication is
    * transitive in practice (A≈B≈C must collapse to one keeper even if
    * A,C were never paired), so the canonical group id is the minimum
    * doc_id of each CONNECTED COMPONENT of the pair graph.
    *
    * Implementation is iterative min-label propagation on plain
    * DataFrames (the Pregel pattern): each sweep joins labels across
    * edges and takes the per-vertex min — one co-partitioned join plus
    * a partial-agg min per sweep, both shuffling on doc_id only. Sweep
    * count is bounded by the component diameter, which for dedup
    * graphs is tiny (duplicate clusters, not social networks); the
    * fixpoint (min reachable id) is unique, so the result is
    * deterministic regardless of sweep count, partitioning, or
    * scheduling — which is what lets a recursive-CTE oracle check it.
    * Intermediate labels are persisted and the previous iteration
    * dropped, so lineage stays one sweep deep. */
  def nearDupComponents(docs: DataFrame, pairs: DataFrame,
      maxSweeps: Int = 20, driverEdgeLimit: Long = 1000000L): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val p = pairs.select(col("doc_a"), col("doc_b")).localCheckpoint()
    val nPairs = p.count()
    // Fast path: a pair list under the limit (1M pairs ≈ 16 MB — less
    // than a routine broadcast) is union-found on the driver in one
    // collect + one broadcast join. The iterative path below is a
    // serial chain of small jobs, which is exactly the shape that
    // amplifies scheduler contention — so it is reserved for pair
    // graphs that genuinely cannot sit on the driver. Same fixpoint
    // either way: component id = min doc_id of the component.
    if (nPairs <= driverEdgeLimit) {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      p.collect().foreach { row =>
        val (a, b) = (row.getLong(0), row.getLong(1))
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) // min-id root
      }
      val verts = parent.keySet ++ parent.values
      // sorted so the literal label frame is ROW-ORDER deterministic:
      // find(v) is the component min whatever the collect order, but a
      // hash-set iteration order would leak into the LocalRelation and
      // change downstream plan hashes per call — which would turn every
      // PlanCache entry keyed on a consumer's plan (the kept-corpus
      // DSIR weight tables) into a guaranteed miss
      val labels = verts.toSeq.sorted.map(v => (v, find(v))).toDF("doc_id", "cc")
      return docs.select(col("doc_id"))
        .join(broadcast(labels), Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("cc"), col("doc_id")).as("group_id"))
    }
    // Lineage discipline: every loop frame is localCheckpoint()ed
    // (eager, executor-local), NOT persist()ed. Two reasons, both
    // measured: (a) a mid-loop unpersist() makes the CacheManager
    // recompile every DEPENDENT cached frame, so each sweep silently
    // re-derives its whole lineage — work grew ~10× per sweep; (b)
    // checkpointing truncates the plan, so sweep N's DAG is flat
    // instead of N levels deep. On a multi-node cluster substitute a
    // reliable checkpoint dir for executor-local storage.
    //
    // Edges are built in ONE pass via explode (a union of two selects
    // would execute the upstream pair pipeline twice), from the
    // already-checkpointed pair list.
    val edges = p.select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .localCheckpoint()
    // Iterate ONLY over vertices that appear in some pair: near-dup
    // graphs are overwhelmingly singletons, which must not pay any
    // sweep cost — at corpus scale the loop runs on the (tiny) pair
    // graph and the corpus is touched exactly once, by the final join.
    var labels = edges.select(col("src").as("doc_id")).distinct()
      .withColumn("group_id", col("doc_id"))
      .localCheckpoint()
    var sweep = 0
    var changed = 1L
    while (changed > 0 && sweep < maxSweeps) {
      val viaNeighbor = edges
        .join(labels.select(col("doc_id").as("dst"), col("group_id")), "dst")
        .select(col("src").as("doc_id"), col("group_id"))
      // path doubling: also adopt the label of one's current label —
      // long chains then collapse in O(log diameter) sweeps instead of
      // O(diameter), which is what bounds sweep count (each sweep is a
      // fixed number of jobs, so job-launch overhead × sweeps is the
      // real cost on small graphs)
      val viaParent = labels.select(col("doc_id"), col("group_id").as("mid"))
        .join(labels.select(col("doc_id").as("mid"), col("group_id").as("gg")), "mid")
        .select(col("doc_id"), col("gg").as("group_id"))
      val next = labels.union(viaNeighbor).union(viaParent)
        .groupBy("doc_id").agg(min("group_id").as("group_id"))
        .localCheckpoint()
      changed = next
        .join(labels.withColumnRenamed("group_id", "prev"), "doc_id")
        .filter(col("group_id") < col("prev")).count()
      labels = next // old sweeps' blocks are reclaimed by the ContextCleaner
      sweep += 1
    }
    // singletons map to themselves; paired docs take their component min
    docs.select(col("doc_id"))
      .join(labels.withColumnRenamed("group_id", "cc"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cc"), col("doc_id")).as("group_id"))
  }

  /** Non-overlapping fixed-boundary n-token chunk rows — the
    * "paragraph" unit of CCNet-style corpus-level chunk dedup (Wenzek
    * et al. 2020 dedup by paragraph hash; the fixture text has no
    * newlines, so the paragraph boundary is a fixed token count). The
    * occurrence key `okey = doc_id·100000 + chunk_id` linearizes
    * (doc_id, chunk_id) into one long so "first occurrence" is a
    * plain min on both engines — chunk_id is bounded by doc length /
    * n (100000 chunks = a 1.6M-token document at n=16; the same
    * encoding bound as the media bin rows).
    *
    * All row-local (tokenize → slice → hash); no shuffle. */
  def docChunks(docs: DataFrame, n: Int): DataFrame = {
    val toks = spread(docs)
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .withColumn("n_tok", size(col("tk")).cast("long"))
      .filter(col("n_tok") > 0)
    toks
      .withColumn("chunk_id",
        explode(sequence(lit(0L), floor((col("n_tok") + lit(n - 1)) / lit(n)).cast("long") - 1)))
      .select(col("doc_id"), col("chunk_id"),
        (col("doc_id") * 100000L + col("chunk_id")).as("okey"),
        concat_ws(" ", slice(col("tk"), (col("chunk_id") * n + 1).cast("int"), lit(n)))
          .as("chunk_text"))
      .withColumn("h", portableHash(col("chunk_text")))
  }

  /** Per-chunk-hash group stats: copies, distinct docs, the keeper
    * occurrence (global first by (doc_id, chunk_id)). ONE
    * hash-partitioned partial aggregation over the chunk rows —
    * shuffle cardinality is the number of DISTINCT chunks, and a
    * boilerplate chunk duplicated a billion times still crosses the
    * shuffle as one partial row per map partition. */
  private def chunkGroups(docs: DataFrame, n: Int): DataFrame =
    docChunks(docs, n)
      .groupBy(col("h"))
      .agg(count(lit(1)).as("n_copies"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("okey")).as("keep_key"))

  /** Chunk-dedup REPORT: the duplicated chunks (n_copies > 1) with
    * their keeper occurrence. This is the fixed-boundary production
    * complement of the suffix-based substring family: alignment-blind
    * (a shared passage straddling chunk boundaries is missed — the
    * substring family's job) but one aggregation over row-local chunk
    * rows instead of a corpus-wide suffix sort, which is why it is
    * the form CCNet/Gopher-scale pipelines run corpus-wide. */
  def chunkDedupReport(docs: DataFrame, n: Int): DataFrame =
    chunkGroups(docs, n)
      .filter(col("n_copies") > 1)
      .select(col("h").as("chunk_hash"), col("n_copies"), col("n_docs"),
        expr("keep_key div 100000").as("keeper_doc"),
        expr("keep_key % 100000").as("keeper_chunk"))

  /** Chunk-dedup APPLY: the rewritten corpus — every duplicated chunk
    * keeps only its global first occurrence, and each document is
    * reassembled from its surviving chunks in order. Shape: the
    * chunkGroups aggregation, one equi-join of chunk rows against the
    * per-hash group row (fan-out = occurrences; AQE broadcasts the
    * group side when the duplicate table is small), one doc_id-keyed
    * partial agg to reassemble — all uniform hash keys. Docs whose
    * every chunk was dropped survive with empty text (the curation
    * gate downstream drops them); token-less docs have no chunks and
    * are absent, the [[graft.ext.TextOps]] chunking convention. */
  def chunkDedupApply(docs: DataFrame, n: Int): DataFrame =
    docChunks(docs, n)
      .join(chunkGroups(docs, n).select(col("h"), col("keep_key")), "h")
      .withColumn("kept", col("okey") === col("keep_key"))
      .groupBy(col("doc_id"))
      .agg(sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("kept"), 0L).otherwise(1L)).as("n_dropped"),
        array_join(transform(
          sort_array(collect_list(when(col("kept"),
            struct(col("chunk_id"), col("chunk_text"))))),
          c => c.getField("chunk_text")), " ").as("text"))
}
