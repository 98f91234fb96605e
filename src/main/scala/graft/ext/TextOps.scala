package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.codec.Codecs._

/** Text-analysis operators over the `documents` table (north-star
  * LLM-pipeline surface): language ID, quality scoring, token counting,
  * document fingerprinting. All pure column expressions — codegen'd,
  * shuffle-free, linear in input size. */
object TextOps {

  /** Language-ID stopword lists. Tiny on purpose: the heuristic is
    * "count stopword hits per language, argmax with a fixed tie order".
    * Mirrored verbatim in the oracle SQL. */
  val stop: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is", "in", "a"),
    "es" -> Seq("el", "la", "de", "que", "y", "los", "es"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht"),
    "fr" -> Seq("le", "les", "et", "des", "un", "une", "est"))

  /** n-gram/stopword language ID + CJK codepoint detection. Fixed
    * precedence (zh > en > es > de > fr) makes ties deterministic.
    *
    * Routed through the native [[graft.functions.LangPick]] since r15:
    * the composed when-chain referenced `tokens(text)` TWELVE times per
    * row (each hits() comparison copies the whole trim/lower/split/
    * filter subtree, and the interpreted HOF chain sits outside
    * common-subexpression elimination — the r15 t_lang_id before-plan
    * carries 12 `split(lower(trim(...)))` occurrences), then scanned
    * the token array once per list with ~7 string comparisons per
    * token. The native pick tokenizes ONCE and counts all four lists
    * in one hash-lookup pass; LangPickSpec pins row equality against
    * the composed chain, and the DuckDB oracle still replays the
    * composed SQL form. */
  def langId(text: Column): Column =
    graft.functions.LangPick.langPick(
      tokens(text),
      regexp_count(text, lit("[\\u4e00-\\u9fff]")),
      Seq("en", "es", "de", "fr").map(l => l -> stop(l)))

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword proxy: count of maximal alpha runs, digit runs and
    * single non-alnum symbols — the standard pre-tokenizer regex shape. */
  def bpeTokenCount(text: Column): Column =
    regexp_count(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"))

  /** Heuristic quality score in [0,1]: length saturation + stopword
    * density + punctuation sparsity. Deterministic double math,
    * rounded at the call site for the oracle.
    *
    * Routed through the native [[graft.functions.QualityScore]] since
    * r15: the composed form evaluated `tokens(text)` twice per row
    * (size + the stopword filter — subtree-per-reference, no CSE
    * through the HOF chain) plus an interpreted filter+isin pass. The
    * native kernel replicates the IEEE double chain operation-for-
    * operation including the null funnels (QualityScoreSpec pins
    * BIT-equality — one consumer rounds score×10000 to an integer);
    * the oracle still replays the composed SQL form. */
  def qualityScore(text: Column): Column =
    graft.functions.QualityScore.qualityScore(
      tokens(text),
      regexp_count(text, lit("[.,!?;:]")),
      length(text),
      stop("en"))

  /** PII scrubbing patterns — RE2-compatible so the same pattern text
    * runs in Spark (Java regex) and the DuckDB oracle unchanged. */
  val EmailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val UrlPat = "https?://[^\\s]+"
  // governance-report classes beyond the redactor's two: all three
  // parse identically under Java regex and RE2 (\b, \d, char classes)
  val PhonePat = "\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b"
  val SsnPat = "\\b\\d{3}-\\d{2}-\\d{4}\\b"
  val Ipv4Pat = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** PII redaction: replace emails and URLs with typed placeholders —
    * the standard text-cleaning step before training-data use. Pure
    * column expression (two codegen'd regex passes, no shuffle). On
    * clean text this is the identity, which is exactly the
    * no-false-positive property the corpus-level oracle checks; the
    * positive cases are pinned by unit spec with planted PII. */
  def redact(text: Column): Column =
    regexp_replace(regexp_replace(text, EmailPat, "<EMAIL>"), UrlPat, "<URL>")

  /** Count of redaction hits, for curation reporting. */
  def redactionCount(text: Column): Column =
    regexp_count(text, lit(EmailPat)) + regexp_count(text, lit(UrlPat))

  /** Deterministic hash-split sampling decision: keep a row iff the
    * portable hash of (stratum, id) lands under `pct` of the modulus —
    * the reproducible form of stratified/Bernoulli sampling (same rows
    * on every run, every engine, any partitioning; rate converges to
    * pct% per stratum). The standard train/eval-split primitive.
    * Built on concat (NOT concat_ws): a NULL stratum propagates to a
    * NULL predicate and the row is excluded — the same semantics as
    * the oracle's SQL `||`, which concat_ws would silently diverge
    * from by skipping the null. */
  def hashSample(stratum: Column, id: Column, pct: Int): Column =
    hashSample(stratum, id, lit(pct))

  /** [[hashSample]] with a per-row rate column — the form a mixture
    * rebalance needs, where each stratum carries its own planned
    * sampling percentage. */
  def hashSample(stratum: Column, id: Column, pct: Column): Column =
    pmod(portableHash(concat(stratum, lit("|"), id.cast("string"))), lit(100)) < pct

  /** Efraimidis–Spirakis weighted-sampling key: `u^(1/w)` where `u` is
    * a deterministic per-row uniform minted from the portable hash of
    * `id`. Taking the global (or per-stratum) top-k rows by this key
    * IS a weighted sample without replacement with inclusion odds ∝ w
    * — the standard way to up/down-weight sources in a training mix
    * while keeping the draw reproducible across runs AND engines.
    * Scale shape: the key is a pure column expression; top-k by it
    * plans as TakeOrderedAndProject (per-partition heap + single
    * driver merge), never a full sort. Key gaps at corpus scale
    * (~range/N) sit many orders of magnitude above cross-engine
    * `pow` ulp error, so the selected set is engine-stable. */
  def weightedSampleKey(id: Column, weight: Column): Column = {
    val u = (pmod(portableHash(id.cast("string")), lit(1000000)).cast("double") + lit(0.5)) /
      lit(1000000.0)
    pow(u, lit(1.0) / weight.cast("double"))
  }

  /** Concat-and-chunk sequence packing (the standard LLM training
    * layout): documents are laid end-to-end in doc_id order and cut
    * into fixed-size token windows; each document reports its global
    * token offset and the chunk its first token lands in.
    *
    * The global running sum is computed in TWO PHASES so no window
    * ever sees more than a bounded partition: (1) a per-bucket
    * cumulative sum, partitioned by `doc_id div bucketWidth`;
    * (2) bucket base offsets from a window over the (tiny, one row
    * per bucket) bucket-sum table, broadcast back. A single global
    * `Window.orderBy` would funnel the whole corpus through one task —
    * the canonical cumsum scale trap. The oracle computes the same
    * offsets with the naive global window, making the two sides
    * independent algorithms. */
  def packSequences(docs: DataFrame, chunkTokens: Long, bucketWidth: Long): DataFrame =
    packSized(
      docs.select(col("doc_id"), tokenCount(col("text")).cast("long").as("n_tok")),
      chunkTokens, bucketWidth, "packseq", docs)

  /** [[packSequences]] over a caller-supplied `(doc_id, n_tok)` frame —
    * the length column is pluggable (whitespace tokens, BPE subword
    * counts, byte lengths) while the two-phase distributed cumsum is
    * shared. `sizedIn` is derived from `inputs` by the derivation
    * `tag` names; the sized frame is cached under both. */
  def packSized(sizedIn: DataFrame, chunkTokens: Long, bucketWidth: Long,
      tag: String, inputs: DataFrame*): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{broadcast, coalesce, sum}
    // sized feeds BOTH the per-bucket cumsum and the bucket-offset agg;
    // Catalyst does no cross-subtree common-plan elimination, so
    // without this cache the corpus would be sized twice
    val sized = graft.ops.PlanCache.cached(s"$tag-$chunkTokens-$bucketWidth", inputs: _*)(
      sizedIn.withColumn("bucket", (col("doc_id") / bucketWidth).cast("long")))
    val local = sized.withColumn("local_end",
      sum(col("n_tok")).over(Window.partitionBy(col("bucket")).orderBy(col("doc_id"))))
    val offsets = sized.groupBy("bucket").agg(sum(col("n_tok")).as("bsum"))
      .withColumn("base",
        coalesce(sum(col("bsum")).over(Window.orderBy(col("bucket"))) - col("bsum"), lit(0L)))
      .select(col("bucket"), col("base"))
    local.join(broadcast(offsets), "bucket")
      .withColumn("tok_start", col("base") + col("local_end") - col("n_tok"))
      .withColumn("chunk_id", (col("tok_start") / chunkTokens).cast("long"))
      .select(col("doc_id"), col("n_tok"), col("tok_start"), col("chunk_id"))
  }

  // --- BPE: train one merge round, then ENCODE with the learned table

  /** BPE merge candidates — corpus-wide frequency of every adjacent
    * character pair inside tokens, ordered (count desc, pair). One
    * training round of byte-pair encoding; `limit(k)` of this frame is
    * the rank-ordered merge table. Explode → partial-agg, shuffle
    * bounded by distinct pairs (≤ |alphabet|²) — trivially distributed
    * at any corpus size. PlanCached so the training aggregation runs
    * once per corpus, not once per consumer. */
  def bpeMergeCandidates(docs: DataFrame): DataFrame = {
    val tok = col("tok")
    val pairs = when(length(tok) >= 2,
      transform(sequence(lit(1), length(tok) - 1), i => tok.substr(i, lit(2))))
      .otherwise(array().cast("array<string>"))
    graft.ops.PlanCache.cached("bpe-merge-cands", docs)(
      docs.select(explode(tokens(col("text"))).as("tok"))
        .select(explode(pairs).as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("n")))
      .orderBy(col("n").desc, col("pair"))
  }

  /** The learned merge table: top-`k` pairs in rank order. Bounded
    * k-row collect (the codebookLiteral pattern — the merge list IS
    * the model and every consumer carries it as a literal). Eager:
    * runs the (PlanCached) training aggregation at query-construction
    * time, like `heavyHitters`' phase-1 sketch — stage via the bench
    * `bpe_vocab` prepare step when attribution matters. */
  def bpeMerges(docs: DataFrame, k: Int): Seq[String] =
    bpeMergeCandidates(docs).limit(k).collect().map(_.getString(0)).toSeq

  /** Greedy BPE segmentation of one token under a rank-ordered merge
    * list, as a pure nested-fold expression: the outer fold applies
    * merges in rank order; the inner fold is one left-to-right greedy
    * non-overlapping merge pass (append the next char, or fuse it with
    * the previous symbol when (prev, next) is exactly the pair — the
    * fold form of the classic scan, so "aaa" under "aa" yields
    * ["aa","a"], leftmost-first). With char-pair merges every fused
    * symbol is 2 chars and can never equal a 1-char pair side, so
    * symbol atomicity is structural and 20 rounds reach the fixed
    * point. The when-chain is ordered so `element_at(acc, -1)` is
    * reachable only when acc is non-empty (ANSI element_at throws on
    * empty arrays). */
  def bpeSegment(tok: Column, merges: Seq[String]): Column = {
    val chars = transform(sequence(lit(1), length(tok)), i => tok.substr(i, lit(1)))
    if (merges.isEmpty) chars
    else aggregate(array(merges.map(lit): _*), chars, (syms, m) => {
      val c1 = m.substr(lit(1), lit(1))
      val c2 = m.substr(lit(2), lit(1))
      aggregate(syms, array().cast("array<string>"), (acc, x) =>
        when(size(acc) === 0, array(x))
          .when(element_at(acc, -1) === c1 && x === c2,
            concat(slice(acc, lit(1), size(acc) - 1), array(m)))
          .otherwise(concat(acc, array(x))))
    })
  }

  /** Vocabulary-level BPE encode: distinct tokens → subword array and
    * count under `merges`. The 100 TB shape: segmentation cost is
    * ∝ |vocab| (heavy-tailed corpora have vocab ≪ corpus), and the
    * result broadcast-joins back onto token occurrences — the corpus
    * itself is never folded char-by-char. PlanCache key embeds a
    * digest of the merge list: two different merge tables must never
    * share an encode (the DSIR digest-key lesson). */
  def bpeVocabEncoded(docs: DataFrame, merges: Seq[String]): DataFrame =
    graft.ops.PlanCache.cached(
      "bpe-vocab-" + graft.ops.PlanCache.digest(merges.mkString(" ")), docs)(
      docs.select(explode(tokens(col("text"))).as("tok")).distinct()
        .withColumn("subs", bpeSegment(col("tok"), merges))
        .withColumn("n_sub", size(col("subs")).cast("long")))

  /** Bigram OCCURRENCES (one row per in-doc bigram position) — the
    * shared substrate of [[bigramDf]] and [[bigramCommonness]]. Kept
    * as strings, not hashes: both consumers re-aggregate with partial
    * aggregation, so the shuffle is bounded by distinct bigrams either
    * way and the md5 pass would cost more than the wider key saves at
    * this fan-in (swap in [[graft.codec.Codecs.portableHash]] keys if
    * a production corpus makes the string shuffle the bottleneck). */
  def bigramOccurrences(docs: DataFrame): DataFrame =
    graft.ops.PlanCache.cached("bigram-occ", docs) {
      docs.select(col("doc_id"), tokens(col("text")).as("tk"))
        .select(col("doc_id"), explode(shingles(col("tk"), 2)).as("s"))
    }

  /** Per-bigram document frequency over [[bigramOccurrences]] — shared
    * by the top-k vocabulary view and the commonness score. */
  def bigramDf(docs: DataFrame): DataFrame =
    graft.ops.PlanCache.cached("bigram-df", docs) {
      bigramOccurrences(docs).groupBy("s")
        .agg(countDistinct(col("doc_id")).as("df"))
    }

  /** Corpus-LM commonness score — the shape of CCNet's KenLM quality
    * filter with the corpus itself as the language model. Each document
    * scores avg document-frequency of its bigram OCCURRENCES: text made
    * of bigrams many other documents also contain scores high
    * (common, in-distribution), text of corpus-rare bigrams scores low
    * (outlier/noise — or novel). Kept in exact integer counts until one
    * final division, so the doubles are bit-identical cross-engine (the
    * log-space perplexity form would not be).
    *
    * Scale shape: occurrences explode (one row per token) → df by
    * bigram (partial agg, bounded by distinct grams) → join back on
    * the same key → per-doc sum. No window, no all-pairs. */
  def bigramCommonness(docs: DataFrame): DataFrame =
    // two registry queries (the per-doc scores and the bucket report,
    // which also references the frame twice for its stats row) consume
    // this — materialize once like the other shared derived frames
    graft.ops.PlanCache.cached("bigram-lm", docs) {
      bigramOccurrences(docs).join(bigramDf(docs), "s")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          round(sum(col("df")).cast("double") / count(lit(1)), 4).as("avg_df"))
    }

  /** CCNet-style head/middle/tail bucketing over the corpus-LM
    * commonness score: CCNet splits a corpus into thirds by perplexity
    * against a reference LM and keeps the head/middle for training.
    * Here the corpus itself is the LM ([[bigramCommonness]]) and the
    * cutoffs are mean ± σ/2 of the per-doc score — distribution-
    * relative like CCNet's terciles (so the buckets stay meaningful at
    * any corpus size, where absolute df thresholds would not), but
    * computable as ONE scalar aggregate instead of a corpus-wide sort
    * or percentile buffer. Returns one row per bucket with doc counts
    * and score ranges — the go/no-go report a curation run reads.
    *
    * Scale shape: per-doc scores (partial-agg bounded by distinct
    * bigrams) → 1-row global agg → broadcast back → per-bucket agg.
    * The only shuffles are the score derivation's; the stats join is a
    * broadcast of literally one row. */
  def commonnessBuckets(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val lm = bigramCommonness(docs)
    val stats = lm.agg(avg(col("avg_df")).as("mu"),
      stddev_samp(col("avg_df")).as("sigma"))
    lm.crossJoin(broadcast(stats))
      .withColumn("bucket",
        when(col("avg_df") >= col("mu") + col("sigma") / 2, "head")
          .when(col("avg_df") < col("mu") - col("sigma") / 2, "tail")
          .otherwise("middle"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("avg_df")), 4).as("mean_score"),
        min(col("avg_df")).as("min_score"),
        max(col("avg_df")).as("max_score"))
  }

  /** Per-source n-gram diversity: distinct-gram / total-gram ratio
    * (the n-gram type-token ratio). A low ratio means a source is
    * internally repetitive or templated — the corpus-level complement
    * of the per-document duplicate-gram fraction in
    * [[graft.SparkEntry]]'s t_repetition, and the usual first look at
    * whether a source earns its token budget in a training mix.
    *
    * Scale shape: one explode → one multi-distinct aggregation
    * (Catalyst's Expand-based plan); the shuffle is bounded by
    * distinct (source, gram), never by corpus token count. No window,
    * no join. */
  def ngramDiversity(docs: DataFrame, n: Int): DataFrame =
    // tokens materialize in a projection BELOW the shingle generator
    // (cf. shingleHashes): a lambda referencing the raw tokens()
    // expression re-tokenizes once per shingle POSITION
    docs.select(col("source"), tokens(col("text")).as("tk"))
      .select(col("source"), explode(shingles(col("tk"), n)).as("g"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_grams"),
        countDistinct(col("g")).as("n_distinct"))
      .select(col("source"), col("n_grams"), col("n_distinct"),
        round(col("n_distinct").cast("double") / col("n_grams"), 4).as("diversity"))

  /** (source, t, c_st): per-source token counts, the cached substrate
    * of [[sourceUnigramKl]], [[sourceJsDivergence]] and the Simpson
    * diversity row. */
  def sourceTokenCounts(docs: DataFrame): DataFrame =
    graft.ops.PlanCache.cached("src-tok-counts", docs) {
      docs.select(col("source"), explode(tokens(col("text"))).as("t"))
        .groupBy("source", "t").agg(count(lit(1)).as("c_st"))
    }

  /** Per-source unigram KL divergence against the corpus distribution:
    * KL(p_s ‖ p_c) = Σ_t p_s(t)·ln(p_s(t)/p_c(t)) — the standard
    * mixture-drift diagnostic (which sources are token-distribution
    * outliers, how far a rebalance moved each slice). The sum is total
    * because the corpus marginal contains every source's tokens
    * (p_c(t) > 0 wherever p_s(t) > 0), so no smoothing term is needed.
    *
    * Scale shape: occurrences explode → ONE partial-agg shuffle to
    * (source, token) counts (the cached substrate); the token marginal
    * re-aggregates that frame (bounded by distinct tokens) and joins
    * back on token, the per-source totals and the corpus total ride as
    * broadcasts. Counts stay exact integers; doubles appear only in
    * the final log terms, rounded at the call site. */
  def sourceUnigramKl(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val st = sourceTokenCounts(docs)
    val nS = st.groupBy("source").agg(sum(col("c_st")).as("n_s"))
    val cT = st.groupBy("t").agg(sum(col("c_st")).as("c_t"))
    val nTot = nS.agg(sum(col("n_s")).as("n_tot"))
    val term = (col("c_st").cast("double") / col("n_s")) *
      log((col("c_st").cast("double") / col("n_s")) /
        (col("c_t").cast("double") / col("n_tot")))
    st.join(cT, "t")
      .join(broadcast(nS), "source")
      .crossJoin(broadcast(nTot))
      .groupBy("source")
      .agg(first(col("n_s")).as("n_tok"), round(sum(term), 4).as("kl"))
  }

  /** Pairwise Jensen–Shannon divergence between source unigram
    * distributions — the SYMMETRIC, bounded ([0, ln 2]) companion of
    * [[sourceUnigramKl]], the standard "how interchangeable are these
    * two corpus slices" distance a mixture planner reads before
    * merging sources. Computed in the entropy form JSD(P,Q) =
    * H((P+Q)/2) − (H(P)+H(Q))/2, which needs NO smoothing and no
    * full-outer vocabulary join: each (source, token) probability row
    * contributes to every pair the source belongs to, and H(M) falls
    * out of one (pair, token) aggregate.
    *
    * Scale shape: reuses the cached (source, token) count substrate;
    * the pair frame is k(k−1)/2 rows (k = #sources) and broadcasts,
    * so the fan-out is map-side ×(k−1) — linear in the vocabulary,
    * never quadratic. Counts stay exact integers; doubles appear only
    * in the log terms, rounded at 4 (the sourceUnigramKl convention,
    * ~1e-12 summation noise against a 1e-4 grid).
    *
    * The ×(k−1) fan-out is the one term that grows quadratically in
    * the SOURCE count, so the pair frame is gated by `maxPairs`
    * (loud failure, the require convention): past the gate the right
    * tool is a sketch (per-source KMV profiles) or a pre-clustering
    * pass, not a bigger join. */
  def sourceJsDivergence(docs: DataFrame, maxPairs: Long = 4096L): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val st = sourceTokenCounts(docs)
    val nS = st.groupBy("source").agg(sum(col("c_st")).as("n_s"))
    val k = nS.count()
    require(k * (k - 1) / 2 <= maxPairs,
      s"sourceJsDivergence: $k sources -> ${k * (k - 1) / 2} pairs " +
        s"exceeds maxPairs=$maxPairs; sketch or pre-cluster instead")
    val sp = st.join(broadcast(nS), "source")
      .select(col("source"), col("t"),
        (col("c_st").cast("double") / col("n_s")).as("p"))
    val pairs = broadcast(nS.select(col("source").as("s1"))
      .crossJoin(nS.select(col("source").as("s2")))
      .filter(col("s1") < col("s2")))
    val perTok = sp
      .join(pairs, col("source") === col("s1") || col("source") === col("s2"))
      .groupBy("s1", "s2", "t")
      .agg((sum(col("p")) / 2.0).as("m"),
        sum(when(col("source") === col("s1"), -col("p") * log(col("p")))
          .otherwise(0.0)).as("h1t"),
        sum(when(col("source") === col("s2"), -col("p") * log(col("p")))
          .otherwise(0.0)).as("h2t"))
    perTok.groupBy("s1", "s2")
      .agg(round(
        sum(-col("m") * log(col("m"))) -
          (sum(col("h1t")) + sum(col("h2t"))) / 2.0, 4).as("jsd"))
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * via Importance Resampling"): per-document log importance ratio
    * log p_target(doc)/p_corpus(doc) under hashed-bigram bag models —
    * the standard way to skew a pretraining mix toward a target domain
    * without training a classifier. Bigrams hash into `vBuckets`
    * buckets (the hashing trick, so the model size is FIXED regardless
    * of corpus vocabulary) and both distributions are add-one
    * smoothed over the bucket space, so unseen buckets contribute a
    * finite prior term instead of −∞.
    *
    * Scale shape: occurrences explode once (cached substrate shared
    * with a same-session resample step) → per-doc bucket counts (ONE
    * doc-keyed partial-agg shuffle, bounded by distinct (doc, bucket)
    * ≤ doc tokens) → the two bucket models are ≤ vBuckets rows each,
    * joined and BROADCAST back — per-doc scoring is then one narrow
    * agg. Counts stay exact integers; doubles appear only in the
    * per-bucket log-ratio. The target slice is any boolean column
    * predicate (here: a source), so "target" costs one filter, not a
    * second corpus. */
  /** The (doc, bucket) count substrate of the DSIR family — cached;
    * the key carries the target predicate because the frame embeds
    * is_t (two targets over one corpus are two frames). */
  private def dsirDocBuckets(docs: DataFrame, isTarget: Column,
      vBuckets: Int): DataFrame = {
    val occ = docs
      .select(col("doc_id"), isTarget.as("is_t"), tokens(col("text")).as("tk"))
      .select(col("doc_id"), col("is_t"), explode(shingles(col("tk"), 2)).as("g"))
      .withColumn("b", pmod(portableHash(col("g")), lit(vBuckets.toLong)))
    graft.ops.PlanCache.cached(
        s"dsir-docbuckets-$vBuckets-${graft.ops.PlanCache.digest(isTarget.toString)}", docs) {
      occ.groupBy(col("doc_id"), col("b"))
        .agg(count(lit(1)).as("c_db"), first(col("is_t")).as("is_t"))
    }
  }

  /** The frozen DSIR bucket model as DRIVER values, for gate wiring:
    * (bucket → log-ratio) pairs plus the unseen-bucket constant (the
    * smoothing prior term for buckets the corpus never produced — the
    * out-of-distribution case a live gate must price, not crash on).
    * One bounded collect: ≤ vBuckets rows by construction. */
  def dsirModelRows(docs: DataFrame, isTarget: Column,
      vBuckets: Int): (Array[(Long, Double)], Double) = {
    val spark = docs.sparkSession
    import spark.implicits._
    val pd = dsirDocBuckets(docs, isTarget, vBuckets)
    val tot = pd.agg(
      sum(when(col("is_t"), col("c_db")).otherwise(0L)).as("n_t"),
      sum(col("c_db")).as("n_c")).head()
    val nT = tot.getLong(0); val nC = tot.getLong(1)
    val model = pd.groupBy("b")
      .agg(sum(col("c_db")).as("c_c"),
        sum(when(col("is_t"), col("c_db")).otherwise(0L)).as("c_t"))
      .select(col("b"),
        log(((col("c_t") + 1).cast("double") / lit(nT + vBuckets)) /
          ((col("c_c") + 1).cast("double") / lit(nC + vBuckets))).as("log_ratio"))
      .as[(Long, Double)].collect()
    val unseen = math.log((1.0 / (nT + vBuckets)) / (1.0 / (nC + vBuckets)))
    (model, unseen)
  }

  def dsirWeights(docs: DataFrame, isTarget: Column, vBuckets: Int): DataFrame =
    // cached like the bucket substrate: three registry consumers
    // (weights, resample apply, calibration) read this frame, and at
    // production scale the per-doc weight table is exactly the staging
    // table a DSIR pipeline persists once per (corpus, target, model)
    graft.ops.PlanCache.cached(
        s"dsir-weights-$vBuckets-${graft.ops.PlanCache.digest(isTarget.toString)}", docs) {
      dsirWeightsUncached(docs, isTarget, vBuckets)
    }

  private def dsirWeightsUncached(docs: DataFrame, isTarget: Column,
      vBuckets: Int): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val perDoc = dsirDocBuckets(docs, isTarget, vBuckets)
    val tgt = perDoc.filter(col("is_t")).groupBy("b").agg(sum(col("c_db")).as("c_t"))
    val cor = perDoc.groupBy("b").agg(sum(col("c_db")).as("c_c"))
    val nT = tgt.agg(sum(col("c_t")).as("n_t"))
    val nC = cor.agg(sum(col("c_c")).as("n_c"))
    // bucket model: add-one smoothing over the fixed bucket space;
    // corpus buckets left-join target buckets (absent target bucket
    // counts are 0 — the prior term)
    val model = cor.join(tgt, Seq("b"), "left")
      .na.fill(0L, Seq("c_t"))
      .crossJoin(broadcast(nT)).crossJoin(broadcast(nC))
      .select(col("b"),
        log(((col("c_t") + 1).cast("double") / (col("n_t") + vBuckets)) /
          ((col("c_c") + 1).cast("double") / (col("n_c") + vBuckets))).as("log_ratio"))
    perDoc.join(broadcast(model), "b")
      .groupBy("doc_id")
      .agg(sum(col("c_db")).as("n_grams"),
        round(sum(col("c_db") * col("log_ratio")), 4).as("log_w"))
  }

  /** Multi-target DSIR: importance weights toward K target slices in
    * ONE corpus pass — the multi-tenant form (a curation run scores
    * the same corpus toward several target domains; k single-target
    * runs would tokenize and bucket the corpus k times). One
    * target-free (doc, bucket) substrate carries a membership flag
    * per target; per-target bucket models derive from ONE bucket
    * aggregate (k sums side by side, unpivoted to (target, b) rows),
    * and the scoring join fans each (doc, bucket) row out by the
    * k-model broadcast — shuffle ∝ substrate, model ≤ vBuckets·k
    * rows. Smoothing and rounding are IDENTICAL to [[dsirWeights]]
    * (spec pins single-target equivalence).
    *
    * Returns (doc_id, target, n_grams, log_w), one row per doc per
    * target. */
  def dsirWeightsMulti(docs: DataFrame, targets: Seq[(String, Column)],
      vBuckets: Int): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    require(targets.nonEmpty, "at least one target slice")
    val tkey = graft.ops.PlanCache.digest(
      targets.map { case (n, p) => s"$n:${p.toString}" }.mkString("|"))
    val pd = graft.ops.PlanCache.cached(s"dsir-multi-pd-$vBuckets-$tkey", docs) {
      val marked = docs.select(
        Seq(col("doc_id"), tokens(col("text")).as("tk")) ++
          targets.zipWithIndex.map { case ((_, p), i) => p.as(s"t$i") }: _*)
      val occ = marked.select(
        Seq(col("doc_id"), explode(shingles(col("tk"), 2)).as("g")) ++
          targets.indices.map(i => col(s"t$i")): _*)
        .withColumn("b", pmod(portableHash(col("g")), lit(vBuckets.toLong)))
      val aggs = count(lit(1)).as("c_db") +:
        targets.indices.map(i => first(col(s"t$i")).as(s"t$i"))
      occ.groupBy(col("doc_id"), col("b")).agg(aggs.head, aggs.tail: _*)
    }
    val bAggs = sum(col("c_db")).as("c_c") +:
      targets.indices.map(i =>
        sum(when(col(s"t$i"), col("c_db")).otherwise(0L)).as(s"ct$i"))
    val bucketStats = pd.groupBy("b").agg(bAggs.head, bAggs.tail: _*)
    val tAggs = sum(col("c_c")).as("n_c") +:
      targets.indices.map(i => sum(col(s"ct$i")).as(s"nt$i"))
    val totals = bucketStats.agg(tAggs.head, tAggs.tail: _*)
    val model = bucketStats.crossJoin(broadcast(totals))
      .select(col("b"), col("c_c"), col("n_c"),
        explode(array(targets.zipWithIndex.map { case ((name, _), i) =>
          struct(lit(name).as("target"), col(s"ct$i").as("c_t"),
            col(s"nt$i").as("n_t")) }: _*)).as("t"))
      .select(col("b"), col("t.target").as("target"),
        log(((col("t.c_t") + 1).cast("double") / (col("t.n_t") + vBuckets)) /
          ((col("c_c") + 1).cast("double") / (col("n_c") + vBuckets))).as("log_ratio"))
    // the per-doc-per-target weight table is cached like the
    // single-target one: the weights query and the per-target
    // calibration both read it
    graft.ops.PlanCache.cached(s"dsir-multi-w-$vBuckets-$tkey", docs) {
      pd.join(broadcast(model), "b")
        .groupBy(col("doc_id"), col("target"))
        .agg(sum(col("c_db")).as("n_grams"),
          round(sum(col("c_db") * col("log_ratio")), 4).as("log_w"))
    }
  }

  /** Whole-document fingerprint over whitespace-normalized text. */
  def fingerprint(text: Column): Column =
    portableHash(regexp_replace(lower(trim(text)), "\\s+", " "))

  /** Rolling/winnowing-style fingerprint: the minimum shingle hash —
    * stable under local edits elsewhere in the document. */
  def minShingleFingerprint(text: Column, n: Int = 3): Column =
    array_min(transform(shingles(tokens(text), n), s => portableHash(s)))

  /** Winnowing fingerprints (Schleimer, Wilkerson, Aiken 2003): slide
    * a `w`-window over the document's positional n-gram hash sequence
    * and keep the RIGHTMOST minimal hash of each window. The classic
    * guarantee: any verbatim match of at least w+n-1 tokens shares a
    * fingerprint, while only ~2/(w+1) of the grams are stored — the
    * local-fingerprinting middle ground between the single min-hash
    * (cheap, no position) and the full positional index (exact, big).
    * Returns one row per selected (doc_id, pos, fp).
    *
    * Scale shape: all row-local array work over the layered hash
    * array (O(grams·w) per document, no shuffle) + one distinct
    * bounded by selected fingerprints (~2/(w+1) of corpus grams). */
  def winnow(docs: DataFrame, n: Int, w: Int): DataFrame = {
    // Formulated as posexplode + aggregation, NOT per-row array
    // lambdas: the gram hash then runs as a codegen'd column (an
    // interpreted md5-per-lambda-element build measured ~4x slower),
    // and "rightmost minimal hash per window" is min(struct(h, -p)) —
    // smallest hash, ties to the largest position — per (doc, window)
    // group: a partial-agg'd shuffle co-keyed on doc_id, bounded by
    // grams·w rows. Each gram joins its ≤ w window ids row-locally.
    val hashed = docs
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .select(col("doc_id"), posexplode(shingles(col("tk"), n)).as(Seq("p0", "g")))
      .select(col("doc_id"), (col("p0") + 1).as("p"), portableHash(col("g")).as("h"))
    val sizes = hashed.groupBy("doc_id").agg(max(col("p")).as("m"))
      .filter(col("m") >= w) // shorter docs have no full window
    hashed.join(sizes, "doc_id")
      .select(col("doc_id"), col("p"), col("h"),
        explode(sequence(greatest(col("p") - (w - 1), lit(1)),
          least(col("p"), col("m") - (w - 1)))).as("i"))
      .groupBy(col("doc_id"), col("i"))
      .agg(min(struct(col("h"), (-col("p")).as("np"))).as("sel"))
      .select(col("doc_id"), (-col("sel.np")).cast("long").as("pos"),
        col("sel.h").as("fp"))
      .distinct() // adjacent windows often elect the same position
  }

  /** EXACT heavy hitters over the corpus bigram stream, two-phase:
    * items with true frequency strictly greater than N/(m+1).
    *
    * Phase 1 summarizes the stream with the mergeable Misra–Gries
    * sketch ([[graft.functions.MisraGries]], capacity m): each map
    * partition contributes ≤ m counters to the shuffle — NOT its
    * distinct-item set — and the merged candidates are a guaranteed
    * superset of every item above the threshold. Phase 2 counts ONLY
    * the candidates exactly (the candidate frame is sketch-sized, so
    * the probe is a broadcast join and the counting shuffle carries
    * ≤ m distinct keys), then keeps `cnt·(m+1) > N` in integer
    * arithmetic. The full-vocabulary groupBy this replaces shuffles
    * |vocab| keys — the difference between m rows and billions at
    * 100 TB. The oracle is the plain GROUP BY + HAVING with no
    * sketch anywhere: phase 2 must erase whatever extra candidates
    * phase 1 retained for the row to match.
    *
    * At the test fixtures' vocabulary the sketch never evicts (m
    * exceeds distinct bigrams) — the eviction/merge bound is pinned
    * by unit specs on adversarial tiny streams instead.
    *
    * EAGER at construction: phase 1 runs one Spark job (`.head()` on
    * the sketch aggregate) when the frame is BUILT, not when it is
    * consumed — like [[bpeMerges]] and the codebook literals. Bench
    * attribution stays honest because the t_heavy_hitters timing
    * wraps construction + execution together (Bench times the
    * queries-map closure, not just the action); plan-level tooling
    * that only inspects the returned frame will not see the phase-1
    * cost. */
  def heavyHitters(docs: DataFrame, m: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val occ = bigramOccurrences(docs).select(col("s"))
    // one eager job: candidates AND the exact stream length N
    val sketch = occ.as[String]
      .select(new graft.functions.MisraGries.MGAgg(m).toColumn).head()
    val cands = sketch.candidates.toSeq.toDF("s")
    occ.join(broadcast(cands), "s")
      .groupBy("s").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * (m + 1) > lit(sketch.n))
      .select(col("s").as("gram"), col("cnt"))
  }

  /** Per-document cross-entropy under the corpus's own add-one-
    * smoothed conditional bigram LM — the log-space CCNet/KenLM
    * quality-filter form that [[bigramCommonness]] deliberately
    * approximates in integer counts. p(w2|w1) =
    * (c(w1 w2) + 1) / (c(w1 ·) + V), V = corpus unigram vocabulary;
    * xent = mean −ln p over the document's bigram occurrences,
    * rounded to 4 (the DSIR chain's convention for per-doc sums of
    * logs). Documents with < 2 tokens have no bigram occurrences and
    * no row.
    *
    * Scale shape: bigram counts and context counts are partial-agg'd
    * (bounded by distinct bigrams / unigrams), V is a 1-row literal,
    * and scoring is one join of occurrences to the model on the
    * bigram key — no window, no all-pairs, every shuffle keyed on
    * grams or doc_id. */
  def bigramCrossEntropy(docs: DataFrame): DataFrame =
    // cached like the LM substrates it composes: t_bigram_ppl and
    // e_ppl_filter both read the per-doc score frame, and the
    // vocabulary count is a COLLECT at construction — PlanCache runs
    // both once per (session, corpus plan)
    graft.ops.PlanCache.cached("bigram-xent", docs) {
      val occ = bigramOccurrences(docs) // (doc_id, s) one row per position
      val c2 = occ.groupBy("s").agg(count(lit(1)).as("c2"))
      val c1 = c2.select(split(col("s"), " ").getItem(0).as("w1"), col("c2"))
        .groupBy("w1").agg(sum(col("c2")).as("c1"))
      val v = docs.select(explode(tokens(col("text"))).as("t"))
        .agg(countDistinct(col("t"))).head().getLong(0)
      val model = c2.withColumn("w1", split(col("s"), " ").getItem(0))
        .join(c1, "w1")
        .select(col("s"),
          log((col("c2") + 1L).cast("double") / (col("c1") + v).cast("double"))
            .as("logp"))
      occ.join(model, "s")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          round(-sum(col("logp")) / count(lit(1)), 4).as("xent_nats"))
    }

  /** Per-document trigram occurrences (doc_id, s) — the order-3 twin
    * of [[bigramOccurrences]], PlanCache'd so the perplexity scorer
    * and any future trigram consumer share one tokenize+shingle
    * substrate. */
  def trigramOccurrences(docs: DataFrame): DataFrame =
    graft.ops.PlanCache.cached("trigram-occ", docs) {
      docs.select(col("doc_id"), tokens(col("text")).as("tk"))
        .select(col("doc_id"), explode(shingles(col("tk"), 3)).as("s"))
    }

  /** Per-document cross-entropy under the corpus's add-one-smoothed
    * conditional TRIGRAM LM — the order-3 step of the
    * [[bigramCrossEntropy]] ladder a quality-filter sweep compares
    * against the bigram score (a doc whose trigram xent drops well
    * below its bigram xent is locally predictable — boilerplate or
    * template text). p(w3|w1 w2) = (c(w1w2w3) + 1) / (c(w1w2 ·) + V)
    * with V the corpus unigram vocabulary; xent = mean −ln p over the
    * document's trigram occurrences, rounded to 4 (the per-doc
    * log-sum convention). Documents with < 3 tokens emit no row.
    *
    * Scale shape identical to the bigram form: trigram and context
    * counts are partial-agg'd (bounded by distinct trigrams /
    * bigram-contexts, not corpus size), V is a 1-row literal, and
    * scoring is one occurrences→model join keyed on the trigram —
    * no window, no all-pairs. The context key is sliced from the
    * shingle string itself, so no re-tokenization happens after the
    * shared substrate. */
  def trigramCrossEntropy(docs: DataFrame): DataFrame =
    // lazy-cached like the bigram twin: the vocabulary count is a
    // collect at CONSTRUCTION, which must run once per corpus plan
    graft.ops.PlanCache.cached("trigram-xent", docs) {
      val ctx = concat_ws(" ", slice(split(col("s"), " "), 1, 2))
      val occ = trigramOccurrences(docs) // (doc_id, s) one row per position
      val c3 = occ.groupBy("s").agg(count(lit(1)).as("c3"))
      val c12 = c3.select(ctx.as("w12"), col("c3"))
        .groupBy("w12").agg(sum(col("c3")).as("c12"))
      val v = docs.select(explode(tokens(col("text"))).as("t"))
        .agg(countDistinct(col("t"))).head().getLong(0)
      val model = c3.withColumn("w12", ctx)
        .join(c12, "w12")
        .select(col("s"),
          log((col("c3") + 1L).cast("double") / (col("c12") + v).cast("double"))
            .as("logp"))
      occ.join(model, "s")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_trigrams"),
          round(-sum(col("logp")) / count(lit(1)), 4).as("xent_nats"))
    }

  // --- Ranked retrieval and collocations

  /** BM25 ranked retrieval against a deterministic self-derived query:
    * the `nTerms` tokens ranked `skipTop+1 … skipTop+nTerms` by
    * (document frequency DESC, token) act as the query — skipping the
    * head approximates stopword removal without a fixed list, and the
    * rank window makes the query reproducible from the corpus alone
    * (so the oracle derives the identical query).
    *
    * Scale shape: the inverted-index build (token → postings with tf)
    * is explode → partial-agg, shuffle bounded by distinct (doc, term)
    * pairs of QUERY terms only — the full index never materializes;
    * the query-term frame and the two corpus scalars broadcast. The
    * top-N is TakeOrderedAndProject (per-partition heads, never a
    * global sort). ln-based idf emits at round-4, the t_bigram_ppl
    * precedent; ranking compares the ROUNDED score with doc_id
    * tiebreak so the cut is deterministic cross-engine. */
  def bm25TopK(docs: DataFrame, skipTop: Int, nTerms: Int, topN: Int): DataFrame = {
    val occ = docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
    val dl = occ.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val st = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val dfT = occ.distinct().groupBy("tok").agg(count(lit(1)).as("df"))
    // rows skipTop+1 .. skipTop+nTerms of the (df DESC, tok) ranking:
    // two TakeOrdered passes, no window
    val qt = dfT.orderBy(col("df").desc, col("tok")).limit(skipTop + nTerms)
      .orderBy(col("df").asc, col("tok").desc).limit(nTerms)
    val tf = occ.join(broadcast(qt), "tok")
      .groupBy(col("doc_id"), col("tok"), col("df"))
      .agg(count(lit(1)).as("tf"))
    val avgdl = col("sum_dl").cast("double") / col("n_docs")
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val tfn = (col("tf") * lit(2.2)) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / avgdl))
    tf.join(dl, "doc_id").crossJoin(broadcast(st))
      .select(col("doc_id"), (idf * tfn).as("contrib"))
      .groupBy("doc_id")
      .agg(round(sum(col("contrib")), 4).as("score"),
        count(lit(1)).as("n_terms_hit"))
      .orderBy(col("score").desc, col("doc_id")).limit(topN)
  }

  /** Top collocations by pointwise mutual information over bigram
    * OCCURRENCES (reusing the PlanCached [[bigramOccurrences]]
    * substrate), with a minimum-support gate against rare-pair noise.
    * PMI = ln(c_xy·N_u² / (N_b·c_x·c_y)) with every product taken in
    * double in a FIXED order (mirrored in the oracle) and a round-4
    * emission; ranking compares the rounded value with the bigram
    * string as tiebreak.
    *
    * Scale shape: unigram and bigram counts are partial-agg'd
    * (bounded by vocab), the support filter shrinks the candidate
    * frame before any join, and both count joins broadcast the
    * candidate side — the vocabulary frame streams, nothing shuffles
    * on an unbounded key. */
  def pmiTopK(docs: DataFrame, minCount: Long, topN: Int): DataFrame = {
    val uni = docs.select(explode(tokens(col("text"))).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c1"))
    val tot = uni.agg(sum(col("c1")).as("n_uni"))
    val occ = bigramOccurrences(docs)
    val nBi = occ.agg(count(lit(1)).as("n_bi"))
    val bi = occ.groupBy("s").agg(count(lit(1)).as("c2"))
      .filter(col("c2") >= minCount)
      .withColumn("w1", split(col("s"), " ").getItem(0))
      .withColumn("w2", split(col("s"), " ").getItem(1))
    val j1 = uni.withColumnRenamed("t", "w1").withColumnRenamed("c1", "cx")
      .join(broadcast(bi), "w1")
    val j2 = uni.withColumnRenamed("t", "w2").withColumnRenamed("c1", "cy")
      .join(broadcast(j1), "w2")
      .crossJoin(broadcast(tot)).crossJoin(broadcast(nBi))
    val pmi = log((col("c2").cast("double") * col("n_uni") * col("n_uni")) /
      (col("n_bi").cast("double") * col("cx") * col("cy")))
    j2.select(col("s").as("bigram"), col("c2").as("n_occ"),
        round(pmi, 4).as("pmi"))
      .orderBy(col("pmi").desc, col("bigram")).limit(topN)
  }
}
