package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.codec.Codecs
import graft.ops.{ContextOps => C, PlanCache, TraceAnalytics}
import graft.ext.{Dedup, Multimodal, Similarity, TextOps}

/** Driver contract (SURVEY.md §7): one entry per implemented operator,
  * each paired with ANSI SQL the DuckDB oracle runs over the same
  * parquet tables. Column names are aliased identically on both sides.
  *
  * Layout of the inventory:
  *  - parity queries (`q_*`)      — SURVEY.md §2 operator surface
  *  - analytic queries (`a_*`)    — joins/aggs/windows/rollup at scale
  *  - text queries (`t_*`)        — language ID, quality, tokens, fingerprints
  *  - dedup queries (`d_*`)       — exact, Jaccard, MinHash+LSH, SimHash
  *  - similarity queries (`s_*`)  — cosine top-k, LSH ANN, near-dup pairs
  *  - multimodal queries (`m_*`)  — binary payload metadata/frame plumbing
  */
object SparkEntry {

  /** Fixture loader. events.ts has shipped as TIMESTAMP(NANOS) in some
    * fixture generations (which Spark rejects natively — read as raw
    * nanos and convert; values are micro-aligned so the division is
    * lossless) and as plain TIMESTAMP(MICROS) in others. Sniff the
    * decoded type and normalize, so the same build runs either.
    *
    * Each table is read once per session and file stamp through
    * [[PlanCache.relation]]: parquet schema inference is a
    * Spark job, and without the memo every registry build ran one. The
    * same frame comes back on every call, so frames keyed by its
    * semantic hash hit. The nanos flag is still set on every events
    * call: the reader consults it at execution too. */
  private[graft] def T(s: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    if (name == "events") {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      PlanCache.relation(path, s) {
        val raw = s.read.parquet(path)
        raw.schema("ts").dataType match {
          case org.apache.spark.sql.types.LongType =>
            raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
          case _ => raw.withColumn("ts", col("ts").cast("timestamp"))
        }
      }
    } else PlanCache.relation(path, s)(s.read.parquet(path))
  }

  /** events → decoded + context-enriched records (batch analog of the
    * reference's `numbers` topic — FIXTURES.md §B). Materialized once
    * per sf dir: eleven parity queries and the self-join inside
    * q_log_correlation share it. */
  private def rec(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events")
    PlanCache.cached("rec", ev)(C.setBaggage(C.enrichEvents(ev)))
  }

  /** Flagship: trace-correlated even-branch records joined to their log
    * rows, at sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_log_correlation")(spark, "/root/testdata/sf0.001")

  /** The shared staging builds (shingle index, minhash signatures,
    * simhash fingerprints, IVF codebook+assignment, enriched events),
    * named so the bench can time each one — a regression in one index
    * build is then attributable to that index, and per-query timing
    * charges each query for ITS work, not for whichever query
    * alphabetically first touches a shared index. On a cluster this is
    * the staging-table build step. (Round 1's official bench charged a
    * 91 s shared cold build to d_lsh_jaccard — this is the fix.) */
  def prepareSteps: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    "shingle_index" ->
      ((s, dir) => { Dedup.shingleHashes(T(s, dir, "documents"), 3).count(); () }),
    // n=5 gram index: shared by d_contamination_ngram,
    // d_contamination_bloom and e_decontam_report
    "shingle_index_5" ->
      ((s, dir) => { Dedup.shingleHashes(T(s, dir, "documents"), 5).count(); () }),
    // bigram occurrence + df frames: shared by t_bigram_lm and
    // t_bigram_topk
    "bigram_index" ->
      ((s, dir) => { TextOps.bigramDf(T(s, dir, "documents")).count(); () }),
    "minhash_sigs" ->
      ((s, dir) => { Dedup.minhashSignatures(T(s, dir, "documents"), 3, 16).count(); () }),
    "simhash_fps" ->
      ((s, dir) => { Dedup.simhash(T(s, dir, "documents"), 32).count(); () }),
    // byte-window media fingerprints: the ingest-time staging table
    // m_media_neardup bands over (was the one multi-second query whose
    // substrate was rebuilt inside its own timing)
    "media_fps" ->
      ((s, dir) => { mediaFps(s, dir).count(); () }),
    // media near-dup component labels: the union-find over the banded
    // SimHash pairs behind m_media_apply — without this step the label
    // build ran inside the query timing and inflated 6.2x under
    // ambient load in the r12 official run (the decontam precedent)
    "media_components" ->
      ((s, dir) => { mediaComps(s, dir).count(); () }),
    // positional n=5 gram index: the corpus-wide posexplode+hash build
    // shared by d_span_dedup and d_span_fraction (without this entry
    // the whole build lands on d_span_dedup, alphabetically first —
    // ~14 s of BENCH_r05 under load was exactly that)
    "gram_pos_5" ->
      ((s, dir) => { Dedup.positionalGrams(T(s, dir, "documents"), 5).count(); () }),
    // cross-doc matched-positions frame: shared by d_substring_dedup,
    // d_substring_fraction and d_substring_apply (alphabetically the
    // APPLY query would otherwise be charged the suffix-sort build)
    "substring_matches" ->
      ((s, dir) => { Dedup.substringMatches(T(s, dir, "documents"), 5, 30).count(); () }),
    // char-level matched-positions frame (one consumer today, but the
    // suffix sort is the build and the query is the aggregate —
    // same attribution rule as substring_matches)
    "substring_char_matches" ->
      ((s, dir) => { Dedup.substringMatchesChar(T(s, dir, "documents"), 20, 80).count(); () }),
    // symmetrized purchase-graph edge list: the lineitem⋈orders build
    // behind g_pagerank (the iterate is the query; the edge build is
    // the staging table — same attribution rule as the gram indexes)
    "purchase_edges" ->
      ((s, dir) => { purchaseEdges(s, dir).count(); () }),
    // the DERIVED graph staging frames (vertex list, unit-augmented
    // and degree-annotated edge lists) the round-12 registry share
    // introduced — shared by g_bfs/g_harmonic/g_kcore and
    // g_pagerank/g_ppr_suppliers; without this step whichever graph
    // query runs first is charged the whole family's staging
    "graph_statics" ->
      ((s, dir) => graft.ops.Graph.stageStatics(purchaseEdges(s, dir))),
    // the 4-round label-propagation build shared by g_communities and
    // g_modularity (the crit_hops attribution rule: the iterate the
    // queries READ is the staging build, the rollups are the queries)
    "purchase_communities" ->
      ((s, dir) => { purchaseCommunities(s, dir).count(); () }),
    "ivf_assign" ->
      ((s, dir) => { Similarity.ivfAssign(T(s, dir, "embeddings"), IvfK).count(); () }),
    // PQ code/reconstruction frame: the corpus encode shared by
    // s_ann_pq and s_ann_pq_rerank (k=4 codewords, m=8 subspaces,
    // dims=64 — the registry queries' parameters)
    "pq_codes" ->
      ((s, dir) => { Similarity.pqReconstruct(T(s, dir, "embeddings"), 4, 8, 64).count(); () }),
    // the production-dial PQ store (64 codewords) behind
    // s_ann_pq_rerank64 — separate frame, separate attribution
    "pq_codes_64" ->
      ((s, dir) => { Similarity.pqReconstruct(T(s, dir, "embeddings"), 64, 8, 64).count(); () }),
    "lsh_pairs" ->
      ((s, dir) => { Dedup.lshVerifiedJaccard(T(s, dir, "documents"), 3, 16, 4, 4, 0.5).count(); () }),
    // winnowing fingerprint index: shared by t_winnow and
    // d_winnow_pairs
    "winnow_index" ->
      ((s, dir) => { winnowIdx(s, dir).count(); () }),
    // DSIR substrate: materializes BOTH cached frames — the (doc,
    // bucket) counts and the per-doc weight table built on them —
    // shared by t_dsir_weights, e_dsir_apply and e_dsir_calibrate
    // (alphabetically the APPLY query would otherwise be charged the
    // whole build)
    "dsir_buckets" ->
      ((s, dir) => { tDsirWeights(s, dir).count(); () }),
    // multi-target substrate + weight table: shared by t_dsir_multi
    // and e_dsir_multi_calibrate (alphabetically the calibrate query
    // would otherwise be charged the one-pass build)
    "dsir_multi" ->
      ((s, dir) => { tDsirMulti(s, dir).count(); () }),
    // the K=3 weight table behind e_dsir_multi3 (distinct cache key —
    // the substrate embeds per-target membership flags)
    "dsir_multi3" ->
      ((s, dir) => { tDsirMulti3(s, dir).count(); () }),
    // incremental batch-vs-corpus pair frame: shared by
    // d_incremental_dedup and d_incremental_apply (alphabetically the
    // APPLY query would otherwise be charged the whole build)
    "incr_pairs" ->
      ((s, dir) => { dIncrementalDedup(s, dir).count(); () }),
    "enriched_events" ->
      ((s, dir) => { rec(s, dir).count(); () }),
    // modeled span tree with durations: shared by q_critical_path and
    // q_service_latency (alphabetically the critical path would be
    // charged the build)
    "span_tree" ->
      ((s, dir) => { spanTree(s, dir).count(); () }),
    // the critical-path DP + backtracked hop frame, plus the headline
    // frame derived from it: ONE build serving q_critical_blame/_hops/
    // _path and q_trace_anomaly (alphabetically the BLAME query would
    // otherwise be charged the whole cold DP — 10.7 s of the round-8
    // bench was exactly that). Both frames are keyed by the span tree
    // they read, so every later call hits the one persisted copy.
    "crit_hops" ->
      ((s, dir) => { qCriticalHops(s, dir).count(); qCriticalPath(s, dir).count(); () }),
    // BPE substrate: merge-table training collect + vocabulary-level
    // segmentation + per-doc occurrence counts — shared by
    // t_bpe_encode, t_bpe_subwords and t_pack_bpe (the merges collect
    // is eager at query CONSTRUCTION, so without this step it would
    // run inside whichever consumer times first)
    "bpe_vocab" ->
      ((s, dir) => { val (occ, enc) = bpeEncoded(s, dir); occ.count(); enc.count(); () }),
    // kept-corpus DSIR weight tables: the curation DAGs train K=3
    // weights over their OWN kept corpora, whose cache entries are
    // DISTINCT from dsir_multi3's full-corpus one — without
    // these steps the whole per-DAG shingle+bucket build lands inside
    // the query timing, and under ambient load that family inflated
    // 4-8x in the round-11 official run (the decontam/DSIR
    // prepare-materialization task). The final ES top-k re-runs at
    // query time over the cached weights — the query still measures
    // its own closing step, the staging build is attributed here.
    "decontam_curation" ->
      ((s, dir) => { eDecontamCuration(s, dir).count(); () }),
    "multi_curation" ->
      ((s, dir) => { eMultiCuration(s, dir).count(); () }),
    // per-doc bigram cross-entropy score frame: shared by
    // t_bigram_ppl, e_ppl_filter and e_curation_full (alphabetically
    // the FULL row would otherwise be charged the LM scoring join)
    "bigram_xent" ->
      ((s, dir) => { tBigramPpl(s, dir).count(); () }),
    // intra-doc-repetition-cleaned corpus: the posexplode + cover +
    // ordered-rebuild build e_curation_full's gates all read (the
    // media_components attribution rule)
    "curation_rebuilt" ->
      ((s, dir) => { rebuiltDocs(s, dir).count(); () }))

  // =====================================================================
  // Spark-side query implementations
  // =====================================================================

  private def qBranchEven(s: SparkSession, dir: String): DataFrame = {
    val (even, _) = C.evenOdd(rec(s, dir))
    even.select(col("event_id"), col("user_id"), col("value_int"))
  }

  private def qBranchOdd(s: SparkSession, dir: String): DataFrame = {
    val (_, odd) = C.evenOdd(rec(s, dir))
    odd.select(col("event_id"), col("user_id"), col("value_int"))
  }

  private def qDeriveContext(s: SparkSession, dir: String): DataFrame =
    rec(s, dir).select(col("event_id"), col("trace_id"), col("span_id"),
      col("parent_id"), col("messageid"))

  private def qB3Roundtrip(s: SparkSession, dir: String): DataFrame = {
    val r = rec(s, dir)
      .withColumn("b3", Codecs.b3Render(col("trace_id"), col("span_id"), col("sampled")))
    r.select(col("event_id"), col("b3"),
      Codecs.b3TraceId(col("b3")).as("p_trace_id"),
      Codecs.b3SpanId(col("b3")).as("p_span_id"),
      Codecs.b3Sampled(col("b3")).as("p_sampled"))
  }

  private def qHeaderLookup(s: SparkSession, dir: String): DataFrame = {
    val r = rec(s, dir)
    // duplicate 'b3' key on purpose: lookup must be last-wins (P8)
    val hdrs = array(
      struct(lit("b3").as("key"), Codecs.b3Render(col("trace_id"), col("parent_id"), col("sampled")).as("value")),
      struct(lit("messageid").as("key"), col("messageid").as("value")),
      struct(lit("b3").as("key"), Codecs.b3Render(col("trace_id"), col("span_id"), col("sampled")).as("value")))
    r.withColumn("headers", hdrs).select(
      col("event_id"),
      Codecs.headerLast(col("headers"), "b3").as("b3_hdr"),
      Codecs.headerLast(col("headers"), "messageid").as("messageid_hdr"),
      Codecs.headerLast(col("headers"), "nope").as("missing_hdr"))
  }

  private def qFirstMatch(s: SparkSession, dir: String): DataFrame = {
    val (even, _) = C.evenOdd(rec(s, dir))
    C.firstMatchPerKey(even, col("user_id"), Seq(col("ts"), col("event_id")))
      .select(col("user_id"), col("event_id"), col("value_int"),
        unix_micros(col("ts")).as("ts_us"))
  }

  private def qLogCorrelation(s: SparkSession, dir: String): DataFrame = {
    val r = rec(s, dir)
    val (even, _) = C.evenOdd(r)
    val logs = C.standardLogs(r).select(col("trace_id"), col("line"))
    C.correlate(even.select(col("trace_id"), col("event_id"), col("messageid")), logs)
      .select(col("event_id"), col("trace_id"), col("messageid"), col("line"))
  }

  private def qSpanEnrich(s: SparkSession, dir: String): DataFrame =
    C.spanEnrich(C.standardSpans(rec(s, dir)))
      .select(col("trace_id"), col("span_id"), col("name"), col("remote_service_name"))

  private def qDependencyGraph(s: SparkSession, dir: String): DataFrame =
    TraceAnalytics.dependencyGraph(C.standardSpans(rec(s, dir)))

  private def qTraceAssembly(s: SparkSession, dir: String): DataFrame = {
    val r = rec(s, dir)
    val byUser = r
      .withColumn("trace_id", Codecs.traceIdFrom(col("user_id")))
      .withColumn("name",
        when(pmod(col("value_int"), lit(2)) === 0, "send-even").otherwise("send-odd"))
      .select(col("trace_id"), col("name"), col("ts"))
    TraceAnalytics.assembleTraces(byUser)
      .select(col("trace_id"), col("n_spans"), col("span_names"),
        unix_micros(col("trace_start")).as("trace_start_us"),
        unix_micros(col("trace_end")).as("trace_end_us"))
  }

  /** Deterministic three-level span tree per user-trace — the latency
    * substrate of the trace-depth analytics (q_critical_path,
    * q_service_latency). Zipkin's per-trace view needs spans with
    * parent edges AND durations; the events fixture has neither, so
    * the tree is MODELED from the reference topology (gateway root →
    * per-record app hop → kafka send leaf) with durations derived
    * from record values — deterministic, so the DuckDB oracle rebuilds
    * the identical tree. Shared by both queries via PlanCache. */
  private def spanTree(s: SparkSession, dir: String): DataFrame = {
    val events = T(s, dir, "events")
    PlanCache.cached("span-tree", events) {
      val ev = events
        .withColumn("trace_id", Codecs.traceIdFrom(col("user_id")))
        .withColumn("value_int", floor(col("value")))
        .withColumn("eid", col("event_id").cast("string"))
      val root = ev.groupBy(col("trace_id")).agg(count(lit(1)).as("n"))
        .select(col("trace_id"),
          Codecs.mintSpanId(col("trace_id"), lit("root")).as("span_id"),
          lit(null).cast("string").as("parent_id"),
          lit("gateway").as("service"),
          lit(1000L).as("duration_us"))
      val hop = ev.select(col("trace_id"),
        Codecs.mintSpanId(col("trace_id"), col("eid")).as("span_id"),
        Codecs.mintSpanId(col("trace_id"), lit("root")).as("parent_id"),
        lit(C.App).as("service"),
        (col("value_int") * 10L + 100L).as("duration_us"))
      val send = ev.select(col("trace_id"),
        Codecs.mintSpanId(col("trace_id"), concat(col("eid"), lit("/send"))).as("span_id"),
        Codecs.mintSpanId(col("trace_id"), col("eid")).as("parent_id"),
        concat(lit("kafka/"), when(pmod(col("value_int"), lit(2)) === 0,
          "even-numbers").otherwise("odd-numbers")).as("service"),
        (pmod(col("value_int"), lit(7)) * 25L + 50L).as("duration_us"))
      root.unionByName(hop).unionByName(send)
    }
  }

  /** Per-trace critical path over parent_id edges — DERIVED from the
    * cached hop frame: [[graft.ops.TraceAnalytics.criticalPathDecomposition]]
    * backtracks exactly the spans whose durations the DP headline
    * counted, so the per-trace sum of hop durations IS
    * [[graft.ops.TraceAnalytics.criticalPath]]'s `critical_path_us`
    * (the sum-equality is TraceAnalyticsSpec-pinned, and the DuckDB
    * oracle still computes the closed-form DP). Deriving here means
    * the trace-latency family runs ONE depth-bounded DP total, not
    * two. PlanCached — q_trace_anomaly scores over the same frame. */
  private def qCriticalPath(s: SparkSession, dir: String): DataFrame = {
    val tree = spanTree(s, dir)
    PlanCache.cached("crit-path", tree) {
      val sizes = tree.groupBy("trace_id")
        .agg(count(lit(1)).as("n_spans"))
      qCriticalHops(s, dir).groupBy("trace_id")
        .agg(sum(col("duration_us")).as("critical_path_us"))
        .join(sizes, "trace_id")
        .select(col("trace_id"), col("n_spans"), col("critical_path_us"))
    }
  }

  /** Critical-path DECOMPOSITION — the per-trace latency waterfall
    * (hop 0 = root): which spans make up the headline number. Runs as
    * [[graft.ops.TraceAnalytics.criticalPathFold]] — ONE
    * groupByKey(trace_id) shuffle with the DP + backtrack folded in
    * memory per application-bounded trace, row-for-row equal
    * (spec-pinned) to the declarative
    * [[graft.ops.TraceAnalytics.criticalPathDecomposition]] twin whose
    * closed form the DuckDB oracle reproduces. Keyed by the span
    * tree, not by its own plan: the fold's lambda is a new closure per
    * build, so the fold's plan never hashes equal twice. */
  private def qCriticalHops(s: SparkSession, dir: String): DataFrame = {
    val tree = spanTree(s, dir)
    PlanCache.cached("crit-hops", tree)(TraceAnalytics.criticalPathFold(tree, 3))
  }

  /** Root-cause attribution: for each anomalously slow trace, the
    * critical-path hop with the largest duration excess over its
    * topology-class mean ([[graft.ops.TraceAnalytics.criticalBlame]];
    * integer-scaled argmax, so the oracle reproduces the pick). Shares
    * the PlanCached critical-path and hop frames with
    * q_critical_path / q_trace_anomaly / q_critical_hops. */
  private def qCriticalBlame(s: SparkSession, dir: String): DataFrame =
    TraceAnalytics.criticalBlame(
      qCriticalPath(s, dir), qCriticalHops(s, dir), 2.0)

  /** Anomalously slow traces: critical path above mean + 2σ of the
    * trace's topology class (see
    * [[graft.ops.TraceAnalytics.traceAnomalies]] — the baseline side
    * is topology-sized and broadcast). */
  private def qTraceAnomaly(s: SparkSession, dir: String): DataFrame =
    TraceAnalytics.traceAnomalies(qCriticalPath(s, dir), 2.0)

  /** Per-dependency-edge latency percentiles: the child-span duration
    * distribution of each parent→child service link
    * ([[graft.ops.TraceAnalytics.edgeDurations]] → the shared
    * [[graft.ops.ExactPercentiles]]). */
  private def qEdgeLatency(s: SparkSession, dir: String): DataFrame =
    graft.ops.ExactPercentiles.of(
        TraceAnalytics.edgeDurations(spanTree(s, dir)),
        Seq(("p50", 0.5), ("p95", 0.95)), "edge-lat-cum")
      .groupBy(col("k").as("edge"))
      .agg(round(min(when(col("qname") === "p50", col("v"))), 4).as("p50_us"),
        round(min(when(col("qname") === "p95", col("v"))), 4).as("p95_us"))

  /** Per-service span-duration percentiles over the same span tree —
    * exact distributed order statistics
    * (see [[graft.ops.ExactPercentiles]], shared with
    * a_percentiles_dist). */
  private def qServiceLatency(s: SparkSession, dir: String): DataFrame =
    graft.ops.ExactPercentiles.of(
        spanTree(s, dir).select(col("service").as("k"),
          col("duration_us").cast("double").as("x")),
        Seq(("p50", 0.5), ("p95", 0.95), ("p99", 0.99)), "svc-lat-cum",
        fewGroups = true)
      .groupBy(col("k").as("service"))
      .agg(round(min(when(col("qname") === "p50", col("v"))), 4).as("p50_us"),
        round(min(when(col("qname") === "p95", col("v"))), 4).as("p95_us"),
        round(min(when(col("qname") === "p99", col("v"))), 4).as("p99_us"))

  private def qUnionBack(s: SparkSession, dir: String): DataFrame = {
    val r = rec(s, dir)
    val (even, odd) = C.evenOdd(r)
    even.unionByName(odd)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value_int")).as("sum_value"))
  }

  // ------------------------------------------------------------ analytics

  private def aPricingSummary(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .filter(col("l_shipdate") <= expr("TIMESTAMP '2001-09-02 00:00:00'"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_extendedprice")), 4).as("avg_price"),
        count(lit(1)).as("n"))

  private def aSegmentRevenue(s: SparkSession, dir: String): DataFrame = {
    val cust = T(s, dir, "customer"); val ord = T(s, dir, "orders"); val li = T(s, dir, "lineitem")
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
        countDistinct(col("o_orderkey")).as("n_orders"))
  }

  /** TPC-H Q10 shape: revenue lost to returned items per customer —
    * fact-side filter pushed to the lineitem scan, two broadcast
    * dimensions, top-20 as TakeOrderedAndProject over the ROUNDED
    * revenue with a key tiebreak. */
  private def aReturnedRevenue(s: SparkSession, dir: String): DataFrame = {
    val li = T(s, dir, "lineitem").filter(col("l_returnflag") === "R")
    li.join(T(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(T(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
      .join(broadcast(T(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  /** TPC-H Q5 shape: revenue where customer and supplier share a
    * nation, rolled up per region/nation. The nation-match predicate
    * rides the supplier broadcast join; all dimensions broadcast, the
    * only shuffles are the fact-side order join and the final small
    * agg. */
  private def aRegionVolume(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .join(T(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(T(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
      .join(broadcast(T(s, dir, "supplier")),
        col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(T(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(T(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("n_items"))

  private def aTopOrders(s: SparkSession, dir: String): DataFrame = {
    val ord = T(s, dir, "orders"); val li = T(s, dir, "lineitem")
    li.groupBy(col("l_orderkey"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderkey"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("o_orderdate_us"),
        col("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }

  private def aTopPartsPerBrand(s: SparkSession, dir: String): DataFrame = {
    val part = T(s, dir, "part"); val li = T(s, dir, "lineitem")
    val rev = li.join(broadcast(part), li("l_partkey") === part("p_partkey"))
      .groupBy(col("p_brand"), col("p_partkey"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
    rev.withColumn("rnk", row_number().over(
        Window.partitionBy(col("p_brand")).orderBy(col("revenue").desc, col("p_partkey"))))
      .filter(col("rnk") <= 3)
      .select(col("p_brand"), col("p_partkey"), col("revenue"), col("rnk"))
  }

  private def aSemiJoin(s: SparkSession, dir: String): DataFrame = {
    val ord = T(s, dir, "orders")
    val big = T(s, dir, "lineitem").filter(col("l_quantity") >= 48)
    ord.join(big, ord("o_orderkey") === big("l_orderkey"), "left_semi")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
  }

  private def aAntiJoin(s: SparkSession, dir: String): DataFrame = {
    val cust = T(s, dir, "customer"); val ord = T(s, dir, "orders")
    cust.join(ord, cust("c_custkey") === ord("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
  }

  private def aRollup(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("sum_qty"))

  private def aPercentiles(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        round(expr("percentile(l_extendedprice, 0.5)"), 4).as("p50"),
        round(expr("percentile(l_extendedprice, 0.95)"), 4).as("p95"))

  /** 7-day moving average of daily revenue over the DAILY aggregate —
    * now with NO unpartitioned window anywhere: the running frame is
    * partitioned by year(d) with a 6-row cross-boundary carry. Each
    * year's partition is prepended with the last 6 daily rows of the
    * PREVIOUS year (flagged, excluded from the output), so the first
    * rows of a year see exactly the trailing rows a global ROWS -6..0
    * frame would — value-identical to the unpartitioned form whenever
    * every year has ≥ 6 daily rows (trivially true for daily revenue;
    * the oracle pins it by computing the GLOBAL window). The carry
    * derivation's own window is per-year too, so the whole plan
    * single-tasks nothing and the WindowExec "no partition" warning is
    * gone from the registry path. Daily sums are exact integer cents,
    * so frame sums are order-independent across both forms. */
  private def aMovingAvg(s: SparkSession, dir: String): DataFrame = {
    val daily = T(s, dir, "lineitem")
      .groupBy(date_trunc("day", col("l_shipdate")).as("d"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("cents"))
      .withColumn("y", year(col("d")))
    // the last 6 daily rows of each year, re-keyed into the next year
    val wTail = Window.partitionBy(col("y")).orderBy(col("d").desc)
    val carry = daily
      .withColumn("rn", row_number().over(wTail))
      .filter(col("rn") <= 6)
      .select(col("d"), col("cents"), (col("y") + 1).as("y"), lit(true).as("carry"))
    val union = daily.withColumn("carry", lit(false))
      .select(col("d"), col("cents"), col("y"), col("carry"))
      .unionByName(carry)
    // carried rows sort first in their target year (their dates are
    // strictly earlier), restoring the global trailing-7 frame
    val w = Window.partitionBy(col("y")).orderBy(col("d")).rowsBetween(-6, 0)
    union.select(
      col("carry"),
      unix_micros(col("d").cast("timestamp")).as("day_us"),
      col("cents"),
      round(sum(col("cents")).over(w).cast("double") /
        (lit(100.0) * count(lit(1)).over(w)), 4).as("ma7"))
      .filter(!col("carry"))
      .drop("carry")
  }

  /** Exact percentiles WITHOUT per-group value buffers — the 100 TB
    * form of a_percentiles. `percentile()` collects every group value
    * into one ObjectHashAggregate buffer (a group's values must fit one
    * reducer); here the corpus is first collapsed to a per-(group,
    * value) histogram (shuffle ∝ DISTINCT values, partial-aggregated
    * map-side), a cumulative window over that tiny histogram locates
    * the two order statistics around pos = q·(n−1), and the same
    * lerp as Spark's percentile interpolates. Identical results —
    * the oracle is the same quantile_cont statement. The machinery
    * lives in [[graft.ops.ExactPercentiles]] (shared with
    * q_service_latency). */
  private def aPercentilesDist(s: SparkSession, dir: String): DataFrame = {
    val li = T(s, dir, "lineitem")
      .select(col("l_returnflag").as("k"), col("l_extendedprice").as("x"))
    graft.ops.ExactPercentiles.of(li, Seq(("p50", 0.5), ("p95", 0.95)), "pctl-cum",
      fewGroups = true)
      .groupBy(col("k").as("l_returnflag"))
      .agg(round(min(when(col("qname") === "p50", col("v"))), 4).as("p50"),
        round(min(when(col("qname") === "p95", col("v"))), 4).as("p95"))
  }

  /** Exact per-(tumbling hour, event_type) value percentiles — the
    * WINDOWED form of a_percentiles_dist on the same shared
    * [[graft.ops.ExactPercentiles]] machinery: the group key is the
    * (window, type) pair, so the cumulative histogram stays keyed
    * (never corpus-global) and shuffle stays ∝ distinct (window,
    * type, value). Live twin:
    * [[graft.streaming.StreamingWindowedPercentiles]] — exact
    * histogram-per-closing-window, agreement spec-pinned. */
  private def aWindowedPercentiles(s: SparkSession, dir: String): DataFrame =
    graft.ops.ExactPercentiles.of(
        T(s, dir, "events").select(
          struct(unix_micros(window(col("ts"), "1 hour").getField("start")).as("w_us"),
            col("event_type").as("et")).as("k"),
          col("value").as("x")),
        Seq(("p50", 0.5), ("p95", 0.95)), "win-pctl-cum")
      .groupBy(col("k.w_us").as("hour_start_us"), col("k.et").as("event_type"))
      .agg(round(min(when(col("qname") === "p50", col("v"))), 4).as("p50"),
        round(min(when(col("qname") === "p95", col("v"))), 4).as("p95"))

  private def aCube(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), round(sum(col("l_extendedprice")), 2).as("sum_base"))

  /** Explicit GROUPING SETS — the general form cube/rollup specialize;
    * mixed granularities in one pass (one Expand, one shuffle), the
    * way a 100 TB reporting rollup avoids N scans. */
  private def aGroupingSets(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")), Seq(col("l_returnflag")), Seq.empty),
        col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("sum_qty"))

  private def aTumblingWindow(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "events")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .select(unix_micros(col("w.start")).as("hour_start_us"),
        col("event_type"), col("n"), col("sum_value"))

  /** Hopping (sliding) window: 30-minute windows every 15 minutes —
    * each event lands in exactly size/slide = 2 windows. Spark's
    * `window()` generator emits the per-event window structs inline
    * (no self-join), so the plan is explode → partial agg, identical
    * shuffle shape to the tumbling form at 2× the rows. The oracle
    * derives the same epoch-aligned window starts by integer
    * arithmetic over an unnested slide index — an independent
    * construction of the window-assignment rule. */
  private def aHoppingWindow(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "events")
      .groupBy(window(col("ts"), "30 minutes", "15 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .select(unix_micros(col("w.start")).as("hop_start_us"),
        col("event_type"), col("n"), col("sum_value"))

  private def aSessionWindow(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "events")
      .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), unix_micros(col("sw.start")).as("session_start_us"),
        unix_micros(col("sw.end")).as("session_end_us"), col("n_events"))

  /** As-of join over the event stream: each purchase paired with the
    * user's most recent click at or before it (oracle: DuckDB's NATIVE
    * ASOF JOIN — an independent algorithm cross-checking the
    * union+running-window composition). */
  private def aAsofJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events")
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    graft.ops.AsOfJoin.asofJoin(p, c, "user_id", "ts", Seq("event_id", "ts"), "event_id")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("asof_event_id").as("click_event_id"),
        unix_micros(col("asof_ts")).as("click_ts_us"))
  }

  /** Two-phase salted aggregation — the skew-mitigation shape: partial
    * sums over (key, salt) spread a hot key across `Salt` reducers,
    * then a tiny final pass over `keys × Salt` rows merges them.
    * Sums are exact integer cents, so the result is independent of how
    * the salt split the partials — which is what lets a plain GROUP BY
    * oracle check the salted plan. (AQE's skew handling covers joins;
    * this is the aggregation-side lever you apply by hand.) */
  private def aSkewSalted(s: SparkSession, dir: String): DataFrame = {
    val Salt = 16
    T(s, dir, "lineitem")
      .withColumn("cents", round(col("l_extendedprice") * 100).cast("long"))
      .withColumn("salt", pmod(col("l_orderkey"), lit(Salt)))
      .groupBy(col("l_returnflag"), col("salt"))
      .agg(sum(col("cents")).as("pc"), count(lit(1)).as("pn"))
      .groupBy(col("l_returnflag"))
      .agg(sum(col("pc")).as("sum_cents"), sum(col("pn")).as("n"))
  }

  /** Pivoted aggregation — revenue cents by order priority × return
    * flag. Pivot values are EXPLICIT: the implicit form runs a
    * distinct-values collect over the corpus before it can even build
    * the plan, which is the pivot scale trap; with declared values
    * this is one partial-agg shuffle, exactly a groupBy in disguise.
    * Exact integer cents, so the pivoted sums are order-independent. */
  private def aPivot(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .join(T(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .withColumn("cents", round(col("l_extendedprice") * 100).cast("long"))
      .groupBy(col("o_orderpriority"))
      .pivot("l_returnflag", Seq("A", "N", "R"))
      .agg(sum(col("cents")))

  /** Several exact distinct counts in one aggregation (Catalyst plans
    * the Expand-based multi-distinct). At 100 TB the drop-in sketch is
    * approx_count_distinct (HLL) — benched as the a_distinct_hll extra,
    * not oracle-matchable because it is approximate. */
  private def aDistinctCounts(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        countDistinct(col("l_orderkey")).as("n_orders"),
        count(lit(1)).as("n_rows"))

  private def aRangeJoin(s: SparkSession, dir: String): DataFrame = {
    val ord = T(s, dir, "orders"); val li = T(s, dir, "lineitem")
    ord.join(li,
        ord("o_orderkey") === li("l_orderkey") &&
          li("l_shipdate") >= ord("o_orderdate") &&
          li("l_shipdate") < ord("o_orderdate") + expr("INTERVAL 30 DAY"))
      .groupBy(col("o_orderkey"))
      .agg(count(lit(1)).as("n_shipped_30d"))
  }

  /** Interval-OVERLAP join ([[graft.ops.IntervalJoin.overlap]]) — the
    * no-equi-key member of the join family: which user sessions
    * overlapped an incident window ("was this session affected").
    * Left = gap-sessionized user sessions; right = per-day error
    * windows ([first error, last error] of each day with errors).
    * The naive form is a cartesian; the operator rewrites it as a
    * 1-hour-bucket equi-join with anchor-bucket uniqueness (each
    * overlapping pair kept exactly once, no dedup shuffle) — the
    * DuckDB oracle replays the naive inequality join and must agree
    * row-for-row, which is what pins the rewrite's exactly-once
    * algebra. */
  private def aIntervalJoin(s: SparkSession, dir: String): DataFrame = {
    val sess = graft.ops.Sessionize.sessions(T(s, dir, "events"), 1800L * 1000000L)
      .select(col("user_id"), col("sess_idx"), col("start_us"), col("end_us"))
    val err = T(s, dir, "events").filter(col("event_type") === "error")
      .select(unix_micros(col("ts")).as("us"))
      .groupBy(expr("us div 86400000000").as("err_day"))
      .agg(min(col("us")).as("err_start_us"), max(col("us")).as("err_end_us"))
    graft.ops.IntervalJoin.overlap(sess, "start_us", "end_us",
        err, "err_start_us", "err_end_us", 3600L * 1000000L)
      .select(col("user_id"), col("sess_idx"), col("err_day"),
        graft.ops.IntervalJoin.overlapLen(col("start_us"), col("end_us"),
          col("err_start_us"), col("err_end_us")).as("overlap_us"))
  }

  // ----------------------------------------------------------------- text

  private def tTextStats(s: SparkSession, dir: String): DataFrame = {
    val d = T(s, dir, "documents")
    // token array projected ONCE and referenced by column (r15): the
    // inlined form copied the tokens() subtree per reference — size ×2,
    // the length-sum transform, and tokenCount = FOUR tokenize passes
    // per row (the Codecs.shingles caller contract; CollapseProject
    // keeps a multi-referenced projected column shared)
    val tk = col("tk")
    d.select(col("doc_id"), col("text"), Codecs.tokens(col("text")).as("tk"))
      .select(col("doc_id"),
        size(tk).cast("long").as("n_tok"),
        TextOps.bpeTokenCount(col("text")).cast("long").as("n_bpe"),
        length(col("text")).cast("long").as("n_chars_calc"),
        round(
          when(size(tk) > 0,
            aggregate(transform(tk, t => length(t).cast("long")), lit(0L), (a, x) => a + x)
              .cast("double") / size(tk))
            .otherwise(0.0), 4).as("avg_tok_len"))
  }

  private def tLangId(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "documents").select(col("doc_id"), col("lang"),
      TextOps.langId(col("text")).as("pred_lang"))

  private def tQuality(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "documents").select(col("doc_id"),
      round(TextOps.qualityScore(col("text")), 4).as("quality"))

  private def tFingerprint(s: SparkSession, dir: String): DataFrame = {
    // min-shingle fingerprint = min over the (cached) shingle-hash
    // index — same value as recomputing shingles per doc, one scan
    // instead of a second tokenize+md5 pass; docs too short to shingle
    // left-join to null (oracle: list_min(empty) is null)
    val docs = T(s, dir, "documents")
    val minSh = Dedup.shingleHashes(docs, 3)
      .groupBy("doc_id").agg(min(col("h")).as("min_shingle_fp"))
    docs.select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
      .join(minSh, Seq("doc_id"), "left")
  }

  /** The curation filter itself: documents passing quality and length
    * gates — the "apply" step that pairs with t_quality/t_text_stats
    * the way d_dedup_apply pairs with d_exact. */
  private def tQualityFilter(s: SparkSession, dir: String): DataFrame = {
    val d = T(s, dir, "documents")
    d.withColumn("quality", round(TextOps.qualityScore(col("text")), 4))
      .withColumn("n_tok", TextOps.tokenCount(col("text")).cast("long"))
      .filter(col("quality") >= 0.5 && col("n_tok").between(10, 200))
      .select(col("doc_id"), col("lang"), col("quality"), col("n_tok"))
  }

  /** Per-language corpus statistics: document counts, token mass, and
    * mean quality — the summary a curation pipeline reports after
    * filtering. */
  private def tLangStats(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "documents")
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(TextOps.tokenCount(col("text")).cast("long")).as("total_tokens"),
        round(avg(TextOps.qualityScore(col("text"))), 4).as("avg_quality"))

  /** Corpus vocabulary statistics: top-50 tokens by document frequency
    * (classic training-data diagnostic). Deterministic tiebreak on the
    * token string keeps the LIMIT oracle-stable. */
  private def tVocabTopK(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "documents")
      .select(explode(array_distinct(Codecs.tokens(col("text")))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("doc_freq"))
      .orderBy(col("doc_freq").desc, col("token"))
      .limit(50)

  /** Bigram statistics: top-30 word bigrams by document frequency —
    * the n-gram companion to t_vocab_topk. */
  private def tBigramTopK(s: SparkSession, dir: String): DataFrame =
    // doc_freq ≡ count(DISTINCT doc_id) per bigram: reads the shared
    // cached df frame (same substrate as t_bigram_lm) instead of its
    // own array_distinct explode
    TextOps.bigramDf(T(s, dir, "documents"))
      .select(col("s").as("bigram"), col("df").as("doc_freq"))
      .orderBy(col("doc_freq").desc, col("bigram"))
      .limit(30)

  /** PII scrubbing: emails and URLs replaced with typed placeholders.
    * The corpus oracle checks the no-false-positive property (clean
    * text passes through unchanged); planted-PII behavior is pinned by
    * unit spec. */
  private def tRedact(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "documents").select(col("doc_id"),
      TextOps.redact(col("text")).as("clean_text"),
      TextOps.redactionCount(col("text")).cast("long").as("n_redacted"))

  /** Per-document top-3 terms by tf-idf. idf is the plain ratio
    * N/df rather than ln(N/df): long→double and one IEEE division are
    * bit-identical across engines, while ln() implementations may
    * differ in the last ulp and flip rank ties — the price of a
    * hash-compared oracle. */
  private def tTfidfTopK(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    // the exploded token frame feeds BOTH the tf and the df legs —
    // materialize once or the corpus is tokenized twice per run
    val toks = PlanCache.cached("tfidf-toks", docs)(
      docs.select(col("doc_id"), explode(Codecs.tokens(col("text"))).as("token")))
    val tf = toks.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val dfreq = toks.distinct().groupBy("token").agg(count(lit(1)).as("df"))
    val n = broadcast(docs.agg(count(lit(1)).as("n_docs")))
    tf.join(dfreq, "token").crossJoin(n)
      .withColumn("score", col("tf") * (col("n_docs").cast("double") / col("df")))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("token"))))
      .filter(col("rnk") <= 3)
      .select(col("doc_id"), col("token"), col("tf"), col("df"),
        round(col("score"), 4).as("score"), col("rnk"))
  }

  /** RAG-style chunking: overlapping token windows (size 64, stride
    * 48) per document — the retrieval/embedding-pipeline layout step.
    * Pure per-row array ops below one explode; chunk count and slices
    * derive from the token array, so no shuffle anywhere. The short
    * final chunk is kept (slice clamps), matching the oracle's
    * inclusive list slicing. */
  private def tChunk(s: SparkSession, dir: String): DataFrame = {
    val C = 64; val S = 48
    val docs = T(s, dir, "documents")
      .select(col("doc_id"), Codecs.tokens(col("text")).as("tk"))
      .withColumn("n_tok", size(col("tk")).cast("long"))
      .filter(col("n_tok") > 0)
    val nChunks = floor((col("n_tok") + lit(S - 1)) / lit(S)).cast("long")
    docs
      .withColumn("chunk_id", explode(sequence(lit(0L), nChunks - 1)))
      .withColumn("off", col("chunk_id") * S)
      .select(col("doc_id"), col("chunk_id"),
        col("off").as("tok_off"),
        size(slice(col("tk"), (col("off") + 1).cast("int"), lit(C))).cast("long").as("n_chunk_tok"),
        concat_ws(" ", slice(col("tk"), (col("off") + 1).cast("int"), lit(C))).as("chunk_text"))
  }

  /** Gopher-style repetition signals: duplicate-3-gram fraction (array
    * ops, no shuffle) and top-token frequency share (explode + two
    * narrow aggs on doc_id — partial-agg'd, shuffle ∝ distinct
    * (doc, token)). The classic "document is boilerplate/spam" quality
    * rules that complement t_quality's length/stopword score. */
  private def tRepetition(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    // layered projections, both load-bearing (measured 12 s -> 0.3 s
    // at sf0.1): tokens BELOW the shingle generator, or the slice
    // lambda re-tokenizes once per shingle POSITION; the shingle array
    // below the counts, or the HOF (a CodegenFallback node, exempt
    // from subexpression elimination) evaluates once per reference.
    // CollapseProject keeps non-cheap expressions un-inlined.
    val dup = docs
      .select(col("doc_id"), Codecs.tokens(col("text")).as("tk"))
      .select(col("doc_id"), Codecs.shingles(col("tk"), 3).as("sh3"))
      .select(col("doc_id"), size(col("sh3")).as("n3"),
        size(array_distinct(col("sh3"))).as("nd3"))
      .select(col("doc_id"),
        round(when(col("n3") > 0,
            lit(1.0) - col("nd3").cast("double") / col("n3"))
          .otherwise(0.0), 4).as("dup_3gram_frac"))
    val top = docs.select(col("doc_id"), explode(Codecs.tokens(col("text"))).as("t"))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(round(max(col("c")).cast("double") / sum(col("c")), 4).as("top_tok_frac"))
    dup.join(top, Seq("doc_id"), "left")
      .select(col("doc_id"), col("dup_3gram_frac"),
        coalesce(col("top_tok_frac"), lit(0.0)).as("top_tok_frac"))
  }

  /** Split-assignment census — the table that DOCUMENTS the
    * deterministic hash split every other governance row assumes:
    * eval is EXACTLY the [[graft.ext.TextOps.hashSample]] 20% slice
    * the decontamination family holds out (same stratum|id keying, so
    * this census and e_decontam_* / e_split_leakage agree row-set for
    * row-set), val the next 10 points, train the rest. Per
    * (lang, split): docs and token mass — the first table a training
    * run pins in its config. One scan, one keyed partial agg. */
  private def eSplitAssign(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val h = pmod(Codecs.portableHash(
      concat(col("lang"), lit("|"), col("doc_id").cast("string"))), lit(100))
    docs.select(col("lang"),
        TextOps.tokenCount(col("text")).cast("long").as("nt"), h.as("h"))
      .withColumn("split",
        when(col("h") < 20, "eval").when(col("h") < 30, "val")
          .otherwise("train"))
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
  }

  /** Intra-document repeated-span REMOVAL — the APPLY step behind
    * [[tRepetition]]'s scores (the within-doc half of the Lee et al.
    * 2022 dedup discipline; the d_span_* family owns the CROSS-doc
    * half): every later occurrence of a 5-gram already seen earlier
    * in the SAME document marks its five token positions covered, and
    * the document rebuilds from the uncovered tokens in order.
    * First-occurrence-wins is exact and deterministic (min start per
    * (doc, gram)); overlapping repeats union their cover. Rebuild is
    * an ordered re-aggregation (sort_array over (pos, tok) structs —
    * pos is unique, so the order is total); shuffles stay keyed on
    * (doc, gram) and doc_id, and per-doc state is the document itself
    * — the per-key batch contract. Docs under 5 tokens have no grams
    * and pass through unchanged. */
  private def tRepetitionApply(s: SparkSession, dir: String): DataFrame =
    repetitionApply(T(s, dir, "documents"))

  private[graft] def repetitionApply(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), Codecs.tokens(col("text")).as("tk"))
    val toks = base.select(col("doc_id"),
      posexplode(col("tk")).as(Seq("pos", "tok")))
    val grams = base.select(col("doc_id"),
      posexplode(Codecs.shingles(col("tk"), 5)).as(Seq("p", "g")))
    val firsts = grams.groupBy(col("doc_id"), col("g"))
      .agg(min(col("p")).as("p0"))
    val covered = grams.join(firsts, Seq("doc_id", "g"))
      .filter(col("p") > col("p0"))
      .select(col("doc_id"), explode(expr("sequence(p, p + 4)")).as("pos"))
      .distinct()
    val rebuilt = toks.join(covered, Seq("doc_id", "pos"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          e => e.getField("tok")), " ").as("dedup_text"))
    base.select(col("doc_id"), size(col("tk")).cast("long").as("n_tok"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tok"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_tok") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("dedup_text"), lit("")).as("dedup_text"))
  }

  /** Training-mixture weights: per (source, lang) document and token
    * mass plus each stratum's share of corpus tokens — the sampling-
    * weight table a mixture-balanced training run consumes. The corpus
    * total arrives as ONE broadcast row, not a global window. */
  private def tMixWeights(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    // corpus total folds over the (tiny) strata aggregate, so the
    // corpus is scanned and tokenized exactly once
    val strata = PlanCache.cached("mix-strata", docs)(
      docs.select(col("source"), col("lang"),
          TextOps.tokenCount(col("text")).cast("long").as("nt"))
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("total_tokens")))
    val corpus = strata.agg(sum(col("total_tokens")).as("corpus_tokens"))
    strata.crossJoin(broadcast(corpus))
      .select(col("source"), col("lang"), col("n_docs"), col("total_tokens"),
        round(col("total_tokens").cast("double") / col("corpus_tokens"), 6).as("tok_share"))
  }

  /** (doc_id, source, nt): each document's whitespace-token count. */
  private def mixDocs(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "documents").select(col("doc_id"), col("source"),
      TextOps.tokenCount(col("text")).cast("long").as("nt"))

  /** Per-source token mass (source, src_tokens), shared by the
    * mixture rebalance and the epoch schedule. */
  private def mixBySource(s: SparkSession, dir: String): DataFrame =
    PlanCache.cached("mix-bysource", T(s, dir, "documents"))(
      mixDocs(s, dir).groupBy("source").agg(sum(col("nt")).as("src_tokens")))

  /** Mixture-rebalance plan + apply: a per-source sampling rate that
    * downsamples every source toward HALF the equal token share (the
    * "flatten the mix" demo target), applied with the deterministic
    * hash-split, reported as planned vs achieved mass per source.
    * Rates are floor-percent integer arithmetic over exact token
    * counts (all values < 2^53, so the floor(double) form here equals
    * the oracle's BIGINT `//`), making the whole plan
    * engine-reproducible. Scale shape: one partial-agg shuffle per
    * stage, the rate table rides as ONE broadcast, and the apply is
    * the same pushdown-friendly hash predicate the split queries use. */
  private def eMixApply(s: SparkSession, dir: String): DataFrame = {
    val docs = mixDocs(s, dir)
    val bySource = mixBySource(s, dir)
    val corpus = bySource.agg(sum(col("src_tokens")).as("corpus_tokens"),
      count(lit(1)).as("n_sources"))
    // a source whose documents all tokenize to zero tokens would make
    // the division Infinity and the ANSI floor→long cast raise; it has
    // no mass to rebalance, so keep all of it (rate 100)
    val rates = bySource.crossJoin(broadcast(corpus))
      .withColumn("rate_pct", when(col("src_tokens") > 0L,
        least(lit(100L),
          floor((col("corpus_tokens") * 50L).cast("double") /
            (col("n_sources") * col("src_tokens"))).cast("long")))
        .otherwise(lit(100L)))
      .select(col("source"), col("src_tokens"), col("rate_pct"))
    val sampled = docs.join(broadcast(rates), "source")
      .filter(TextOps.hashSample(col("source"), col("doc_id"), col("rate_pct")))
      .groupBy("source")
      .agg(count(lit(1)).as("n_sampled"), sum(col("nt")).as("sampled_tokens"))
    rates.join(sampled, Seq("source"), "left")
      .select(col("source"), col("src_tokens"), col("rate_pct"),
        coalesce(col("n_sampled"), lit(0L)).as("n_sampled"),
        coalesce(col("sampled_tokens"), lit(0L)).as("sampled_tokens"))
  }

  /** Temperature-mixed epoch schedule — the table a pretraining run
    * derives BEFORE touching data: per source, the temperature-T=2
    * sampling weight (∝ √tokens — the multilingual mixing rule that
    * upsamples small sources without letting a giant one dominate),
    * its share of a declared token budget, and the EPOCH factor that
    * draw implies (how many passes over the source), flagged where it
    * exceeds the 4-epoch repetition cap (the data-constrained scaling
    * discipline: past ~4 epochs repeated data stops helping). Exact
    * integer arithmetic except the √ (IEEE-correctly-rounded double
    * sqrt is bit-identical in both engines; floor() makes it a safe
    * integer weight). Scale shape: one partial-agg token census (the
    * shared mix-bysource frame), a 1-row broadcast fold — the output
    * is source-vocabulary-sized metadata. */
  private def eEpochSchedule(s: SparkSession, dir: String): DataFrame = {
    val budget = 100000L // declared token budget for the schedule
    val w = mixBySource(s, dir)
      .withColumn("w", floor(sqrt(col("src_tokens").cast("double"))).cast("long"))
    val tot = w.agg(sum(col("w")).as("w_tot"))
    w.crossJoin(broadcast(tot))
      .select(col("source"), col("src_tokens"), col("w"),
        expr("w * 1000000L div w_tot").as("share_e6"),
        expr(s"($budget * w) div w_tot").as("draw_tokens"))
      .withColumn("epochs_e4",
        when(col("src_tokens") > 0L,
          expr("draw_tokens * 10000L div src_tokens")).otherwise(lit(0L)))
      .withColumn("over_cap", col("epochs_e4") > 40000L)
  }

  /** BPE merge candidates — ONE round of byte-pair-encoding training:
    * the corpus-wide frequency of every adjacent character pair inside
    * tokens, top-20 by count (the pair a BPE trainer would merge
    * next, then re-count). The full trainer is this query iterated
    * with a growing merge table; each round is explode → partial-agg
    * bounded by distinct pairs — the same shuffle shape as the vocab
    * queries, trivially distributed at any corpus size. Ties break on
    * the pair string so the LIMIT is engine-stable. */
  private def tBpeMerges(s: SparkSession, dir: String): DataFrame =
    TextOps.bpeMergeCandidates(T(s, dir, "documents")).limit(20)

  /** Shared BPE-encode substrate: per-doc token occurrence counts plus
    * the vocabulary-level segmentation under the top-20 learned merges
    * (both PlanCached). The encode itself never touches the corpus —
    * segmentation is ∝ |vocab| and broadcast-joins back onto the
    * (doc_id, tok, cnt) frame. */
  private def bpeEncoded(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val docs = T(s, dir, "documents")
    val merges = TextOps.bpeMerges(docs, 20)
    val enc = TextOps.bpeVocabEncoded(docs, merges)
    val occ = PlanCache.cached("bpe-occ", docs)(
      docs.select(col("doc_id"), explode(Codecs.tokens(col("text"))).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("cnt")))
    (occ, enc)
  }

  /** BPE ENCODE applied per document: real subword counts under the
    * learned merge table (vs [[TextOps.bpeTokenCount]]'s pre-tokenizer
    * regex proxy). n_chars/n_tok ride along so the compression ratio
    * chars → subwords → tokens is read off one row. */
  private def tBpeEncode(s: SparkSession, dir: String): DataFrame = {
    val (occ, enc) = bpeEncoded(s, dir)
    occ.join(broadcast(enc.select(col("tok"), col("n_sub"))), "tok")
      .groupBy("doc_id")
      .agg(sum(col("cnt")).as("n_tok"),
        sum(length(col("tok")).cast("long") * col("cnt")).as("n_chars"),
        sum(col("n_sub") * col("cnt")).as("n_sub"))
  }

  /** Corpus subword vocabulary after BPE encode: top-30 subwords by
    * occurrence. Pins the actual SEGMENTATION strings (not just
    * counts) against the oracle's independent replay. */
  private def tBpeSubwords(s: SparkSession, dir: String): DataFrame = {
    val (occ, enc) = bpeEncoded(s, dir)
    occ.groupBy("tok").agg(sum(col("cnt")).as("cnt"))
      .join(broadcast(enc.select(col("tok"), col("subs"))), "tok")
      .select(explode(col("subs")).as("sub"), col("cnt"))
      .groupBy("sub").agg(sum(col("cnt")).as("n"))
      .orderBy(col("n").desc, col("sub"))
      .limit(30)
  }

  /** Sequence packing on BPE-encoded lengths — the tokenizer-aware
    * form of t_pack_sequences (same two-phase distributed cumsum via
    * [[TextOps.packSized]], document length = encoded subword count
    * instead of the whitespace proxy). */
  private def tPackBpe(s: SparkSession, dir: String): DataFrame = {
    val (occ, enc) = bpeEncoded(s, dir)
    val sized = occ.join(broadcast(enc.select(col("tok"), col("n_sub"))), "tok")
      .groupBy("doc_id").agg(sum(col("n_sub") * col("cnt")).as("n_tok"))
    TextOps.packSized(sized, 2048L, 100L, "packbpe", occ, enc)
  }

  /** Content-defined chunking (the rolling-hash boundary rule of
    * CDC/rsync-style dedup, at token granularity): a token ENDS a
    * chunk when its hash ≡ 0 (mod 16), so chunk boundaries move with
    * content, not position — an insertion reshapes only its local
    * chunk while fixed-size chunking ([[tChunk]]'s shape) shifts every
    * downstream window. Per-doc chunk census (count, max width) as
    * pure array expressions — no explode, no shuffle beyond the scan. */
  private def tCdcChunks(s: SparkSession, dir: String): DataFrame = {
    // layered projections (cf. tRepetition / shingleHashes): tokens
    // and their hashes materialize BELOW the boundary filter — a
    // lambda referencing the raw tokens() expression re-tokenizes and
    // re-hashes the document once per POSITION, O(n²) interpreted
    // (measured 52 s at sf0.1; layered: sub-second)
    val base = T(s, dir, "documents")
      .select(col("doc_id"), Codecs.tokens(col("text")).as("tk"))
      .select(col("doc_id"), size(col("tk")).as("n"),
        transform(col("tk"), t => Codecs.portableHash(t)).as("hs"))
    val n = col("n")
    // 1-based positions whose token closes a chunk
    val bpos = when(n > 0,
      filter(sequence(lit(1), n), i => element_at(col("hs"), i) % 16 === 0))
      .otherwise(array().cast("array<int>"))
    // every chunk end: the boundary list, plus the tail chunk when the
    // last token is not itself a boundary
    // last-boundary lookup guarded: ANSI element_at throws on an empty
    // array instead of returning null
    val lastB = when(size(bpos) > 0, element_at(bpos, -1)).otherwise(lit(0))
    val ends = when(n === 0, array().cast("array<int>"))
      .otherwise(when(lastB === n, bpos).otherwise(concat(bpos, array(n))))
    val starts = concat(array(lit(0)), slice(ends, lit(1), greatest(size(ends) - 1, lit(0))))
    val lens = zip_with(ends, starts, (e, st) => e - st)
    base.select(
      col("doc_id"),
      size(ends).cast("long").as("n_chunks"),
      coalesce(array_max(lens), lit(0)).cast("long").as("max_chunk_tokens"))
  }

  /** Declared-vs-detected language agreement per declared tag — the
    * metadata-trust diagnostic of a curation run: how often the
    * n-gram detector concurs with the upstream `lang` column. Pure
    * column work + one partial-agg shuffle on the 5-value key. */
  private def tLangAgreement(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "documents")
      .withColumn("pred", TextOps.langId(col("text")))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("pred") === col("lang"), 1L).otherwise(0L)).as("n_agree"))
      .withColumn("agree_rate",
        round(col("n_agree").cast("double") / col("n_docs"), 4))

  /** Deterministic stratified sample (~20% per language): hash-split
    * on (lang, doc_id) — same rows on every run and every engine,
    * independent of partitioning. The train/eval-split primitive. */
  private def dStratifiedSample(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "documents")
      .filter(TextOps.hashSample(col("lang"), col("doc_id"), 20))
      .select(col("doc_id"), col("lang"), col("source"))

  /** Near-dup dedup APPLY: connected components over the LSH-verified
    * Jaccard pairs, group id = min doc_id per component (oracle: a
    * recursive-CTE transitive closure — an independent algorithm). */
  /** The components frame shared by groups / apply / size-histogram —
    * PlanCache-materialized so the union-find (an eager pair collect)
    * runs once per corpus, not once per consumer. nearDupComponents
    * collects the pair graph eagerly at construction, which
    * [[PlanCache.cached]] runs only on a miss. */
  private def nearDupComps(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    PlanCache.cached("neardup-comps", docs) {
      val pairs = Dedup.lshVerifiedJaccard(docs, 3, 16, 4, 4, 0.5)
        .select("doc_a", "doc_b")
      Dedup.nearDupComponents(docs.select("doc_id"), pairs)
    }
  }

  private def dNearDupGroups(s: SparkSession, dir: String): DataFrame =
    nearDupComps(s, dir)

  /** Component-size histogram over the near-dup groups — the dedup
    * REPORT a curation run reads before applying: how many clusters
    * of each size, how many documents they hold. Two partial-agg'd
    * shuffles over the (tiny) components frame, nothing corpus-wide. */
  private def dGroupSizes(s: SparkSession, dir: String): DataFrame =
    nearDupComps(s, dir)
      .groupBy("group_id").agg(count(lit(1)).as("group_size"))
      .groupBy("group_size")
      .agg(count(lit(1)).as("n_groups"), sum(col("group_size")).as("n_docs"))

  /** The near-dup APPLY step: the surviving corpus — each component's
    * min-doc_id representative plus every singleton (group_id == own
    * id). Completes the family symmetry with [[dDedupApply]] (exact):
    * groups answer "what clusters exist", apply answers "what do I
    * train on". One extra equi-join over the components output. */
  private def dNearDupApply(s: SparkSession, dir: String): DataFrame = {
    val comps = nearDupComps(s, dir)
      .filter(col("doc_id") === col("group_id"))
      .select("doc_id")
    T(s, dir, "documents").join(comps, "doc_id")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
  }

  /** Weighted sample without replacement (Efraimidis–Spirakis): top
    * 200 docs by `u^(1/n_chars)` — longer docs proportionally more
    * likely, selection deterministic across engines. Plans as
    * TakeOrderedAndProject: per-partition top-k heaps, one driver
    * merge, no global sort shuffle at any scale. */
  private def dWeightedSample(s: SparkSession, dir: String): DataFrame = {
    val key = TextOps.weightedSampleKey(col("doc_id"), col("n_chars"))
    T(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"),
        round(key, 4).as("samp_key"), key.as("k0"))
      .orderBy(col("k0").desc, col("doc_id"))
      .limit(200)
      .drop("k0")
  }

  /** Concat-and-chunk packing into 2048-token training sequences;
    * engine = two-phase distributed cumsum, oracle = naive global
    * window (independent algorithms, identical offsets). */
  private def tPackSequences(s: SparkSession, dir: String): DataFrame =
    TextOps.packSequences(T(s, dir, "documents"), 2048L, 100L)

  /** Train/eval contamination: near-dup pairs that CROSS the
    * deterministic 20% eval split — the decontamination check a
    * training pipeline runs before holding out an eval set. */
  private def dContamination(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val marks = docs.select(col("doc_id"),
      TextOps.hashSample(col("lang"), col("doc_id"), 20).as("is_eval"))
    Dedup.lshVerifiedJaccard(docs, 3, 16, 4, 4, 0.5)
      .join(marks.select(col("doc_id").as("doc_a"), col("is_eval").as("eval_a")), "doc_a")
      .join(marks.select(col("doc_id").as("doc_b"), col("is_eval").as("eval_b")), "doc_b")
      .filter(col("eval_a") =!= col("eval_b"))
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        when(col("eval_a"), col("doc_a")).otherwise(col("doc_b")).as("eval_doc"))
  }

  /** Exact n-gram decontamination (the "13-gram overlap" check, sized
    * to the fixture at n=5): train docs sharing at least one 5-gram
    * with any eval doc, with the shared-gram count — a DIFFERENT
    * algorithm from d_contamination's near-dup pairs (exact phrase
    * overlap vs Jaccard similarity; both belong in a decontamination
    * suite). Reuses the cached shingle index at n=5; the equi-join on
    * the gram hash is the candidate generator. At 100 TB the same df
    * cap as ngramJaccardPairsCapped bounds hot-gram fan-out. */
  private def dContaminationNgram(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val marks = docs.select(col("doc_id"),
      TextOps.hashSample(col("lang"), col("doc_id"), 20).as("is_eval"))
    val sh = Dedup.shingleHashes(docs, 5).join(marks, "doc_id")
    sh.filter(!col("is_eval")).select(col("doc_id").as("train_doc"), col("h"))
      .join(sh.filter(col("is_eval")).select(col("doc_id").as("eval_doc"), col("h")), "h")
      .groupBy("train_doc", "eval_doc")
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Maximal duplicated ≥5-gram spans across the corpus — the
    * exact-substring dedup result (suffix-array method of Lee et al.
    * 2022, re-expressed as gram-hash counting + gaps-and-islands;
    * see [[graft.ext.Dedup.duplicatedSpans]]). */
  private def dSpanDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.duplicatedSpans(T(s, dir, "documents"), 5)

  /** Per-doc duplicated-token fraction over the same spans — the
    * metric a span-dedup pass reports (and thresholds on). */
  private def dSpanFraction(s: SparkSession, dir: String): DataFrame =
    Dedup.duplicatedTokenFraction(T(s, dir, "documents"), 5)

  /** The span-dedup APPLY step: cut every corpus-duplicated span from
    * the token stream (Lee et al. 2022's actual training-data edit;
    * see [[graft.ext.Dedup.removeDuplicatedSpans]]). */
  private def dSpanApply(s: SparkSession, dir: String): DataFrame =
    Dedup.removeDuplicatedSpans(T(s, dir, "documents"), 5)

  /** Cross-document maximal duplicated substrings via bucketed suffix
    * ordering (suffixes sorted within leading-5-gram buckets, LCP at
    * run boundaries, capped at 30 tokens) — the suffix-ranked
    * deepening of d_span_dedup's n-gram islands; see
    * [[graft.ext.Dedup.crossDocSubstrings]]. Shares the gram_pos_5
    * prepare build. */
  private def dSubstringDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.crossDocSubstrings(T(s, dir, "documents"), 5, 30)

  /** Per-doc fraction of tokens inside a region shared with ANOTHER
    * document — the inter-document contamination metric over the same
    * matched-positions frame (d_span_fraction counts within-doc
    * repeats too; see [[graft.ext.Dedup.crossDocDupFraction]]). */
  private def dSubstringFraction(s: SparkSession, dir: String): DataFrame =
    Dedup.crossDocDupFraction(T(s, dir, "documents"), 5, 30)

  /** The cross-doc substring APPLY: cut every token inside a region
    * shared with another document
    * (see [[graft.ext.Dedup.removeCrossDocSubstrings]]). */
  private def dSubstringApply(s: SparkSession, dir: String): DataFrame =
    Dedup.removeCrossDocSubstrings(T(s, dir, "documents"), 5, 30)

  /** CHARACTER-level cross-doc maximal substrings — Lee et al.'s
    * published formulation operates on the raw character/byte stream,
    * so a ≥20-char shared run that starts mid-word (invisible to the
    * token family) is exact here; suffixes capped at 80 chars
    * (see [[graft.ext.Dedup.crossDocSubstringsChar]]). */
  private def dSubstringChar(s: SparkSession, dir: String): DataFrame =
    Dedup.crossDocSubstringsChar(T(s, dir, "documents"), 20, 80)

  /** Char-level dup fraction — the contamination metric in the
    * paper's own character units
    * (see [[graft.ext.Dedup.crossDocDupFractionChar]]). */
  private def dSubstringCharFraction(s: SparkSession, dir: String): DataFrame =
    Dedup.crossDocDupFractionChar(T(s, dir, "documents"), 20, 80)

  /** Char-level APPLY: cut duplicated characters, token boundaries
    * not required (see [[graft.ext.Dedup.removeCrossDocSubstringsChar]]). */
  private def dSubstringCharApply(s: SparkSession, dir: String): DataFrame =
    Dedup.removeCrossDocSubstringsChar(T(s, dir, "documents"), 20, 80)

  /** Bloom-prefiltered exact decontamination: same exact semantics as
    * a train×eval gram join, but train grams cross the shuffle only if
    * they pass a broadcast Bloom filter of the eval grams — the 100 TB
    * form (eval sets are small; train is the 100 TB side). The oracle
    * is plain exact SQL with no bloom: false positives must die in the
    * confirm join for this to pass. */
  private def dContaminationBloom(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    Dedup.bloomContamination(docs,
      TextOps.hashSample(col("lang"), col("doc_id"), 20), 5)
  }

  /** Corpus-bigram LM commonness score per document (the CCNet KenLM
    * quality-filter shape in exact integer counts — see
    * [[graft.ext.TextOps.bigramCommonness]]). */
  private def tBigramLm(s: SparkSession, dir: String): DataFrame =
    TextOps.bigramCommonness(T(s, dir, "documents"))

  /** CCNet-style head/middle/tail corpus split by LM commonness, as a
    * per-bucket report (see [[graft.ext.TextOps.commonnessBuckets]]). */
  private def tQualityBuckets(s: SparkSession, dir: String): DataFrame =
    TextOps.commonnessBuckets(T(s, dir, "documents"))

  /** Per-doc cross-entropy under the corpus's add-one-smoothed
    * conditional bigram LM — the log-space KenLM-filter form
    * (see [[graft.ext.TextOps.bigramCrossEntropy]]). */
  private def tBigramPpl(s: SparkSession, dir: String): DataFrame =
    TextOps.bigramCrossEntropy(T(s, dir, "documents"))

  /** Order-3 step of the LM-filter ladder: per-doc cross-entropy
    * under the add-one-smoothed conditional trigram LM
    * (see [[graft.ext.TextOps.trigramCrossEntropy]]). */
  private def tTrigramPpl(s: SparkSession, dir: String): DataFrame =
    TextOps.trigramCrossEntropy(T(s, dir, "documents"))

  /** Tokenizer fertility per language — BPE-ish subword tokens per
    * whitespace word, the "how expensive is this language under the
    * tokenizer" dial a multilingual budget planner reads next to
    * [[eEpochSchedule]] (a lang at fertility 2.5 consumes 2.5× the
    * context of one at 1.1 for the same text). Exact integer counts
    * per doc (the t_text_stats columns), one lang-keyed partial agg,
    * fertility in e4 truncating fixed point. */
  private def tFertility(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "documents")
      .select(col("lang"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tok"),
        TextOps.bpeTokenCount(col("text")).cast("long").as("n_bpe"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("tok_total"), sum(col("n_bpe")).as("bpe_total"))
      .withColumn("fertility_e4",
        when(col("tok_total") > 0L,
          expr("bpe_total * 10000L div tok_total")).otherwise(lit(0L)))

  /** Perplexity-filter gate (the CCNet discipline: score every
    * document under a corpus LM, keep the well-modeled head per
    * language): per-doc bigram cross-entropy ([[tBigramPpl]]'s shared
    * chain), a per-lang EXACT median cutoff via the shared
    * [[graft.ops.ExactPercentiles]] histogram machinery (never a
    * per-lang value buffer or a lang-partitioned data window — a
    * vocabulary-sized key over corpus rows is the hot-task shape this
    * repo refuses), and the keep decision `xent <= cutoff`. Cutoffs
    * are lerps of 4dp-rounded doubles, bit-identical in both engines
    * (the oracle is the same quantile_cont). Docs with < 2 tokens
    * have no bigram score and sit outside the scored universe — a
    * length gate upstream owns them. Output: per lang, scored/kept
    * counts, the cutoff, kept fraction in e4. */
  private def ePplFilter(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val x = TextOps.bigramCrossEntropy(docs)
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .select(col("lang"), col("xent_nats"))
    val cut = graft.ops.ExactPercentiles.of(
        x.select(col("lang").as("k"), col("xent_nats").as("x")),
        Seq(("p50", 0.5)), "ppl-cut", fewGroups = true)
      .select(col("k").as("lang"), col("v").as("cutoff"))
    x.join(broadcast(cut), "lang")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_scored"),
        sum((col("xent_nats") <= col("cutoff")).cast("long")).as("n_kept"),
        round(max(col("cutoff")), 4).as("cutoff_nats"))
      .withColumn("kept_frac_e4", expr("n_kept * 10000L div n_scored"))
  }

  /** Two-phase EXACT heavy hitters over the corpus bigram stream:
    * mergeable Misra–Gries candidates (m=1024), then an exact count
    * of candidates only — `cnt·(m+1) > N` in integer arithmetic
    * (see [[graft.ext.TextOps.heavyHitters]]; the oracle is the plain
    * GROUP BY + HAVING with no sketch anywhere). */
  private def tHeavyHitters(s: SparkSession, dir: String): DataFrame =
    TextOps.heavyHitters(T(s, dir, "documents"), 1024)

  /** BM25 ranked retrieval, query = df-ranked tokens 11-13 (the rank
    * window IS the query spec, so the oracle derives the same query
    * from the corpus alone — [[graft.ext.TextOps.bm25TopK]]). */
  private def tBm25TopK(s: SparkSession, dir: String): DataFrame =
    TextOps.bm25TopK(T(s, dir, "documents"), 10, 3, 20)

  /** Top-50 collocations by PMI with min support 5
    * ([[graft.ext.TextOps.pmiTopK]], bigram substrate shared with the
    * LM family via PlanCache). */
  private def tPmiTopK(s: SparkSession, dir: String): DataFrame =
    TextOps.pmiTopK(T(s, dir, "documents"), 5L, 50)

  /** TPC-H Q8-shaped market share: the focal nation's suppliers'
    * revenue share of the ASIA-region market per order year. A
    * five-table snowflake join — lineitem fans to orders→customer→
    * nation→region on one side and supplier→nation on the other, the
    * four dimension legs all broadcast — then one year-keyed agg;
    * the share ratio divides two same-noise double sums, so round-4
    * is far beyond the summation-order noise. */
  private def aMarketShare(s: SparkSession, dir: String): DataFrame = {
    val li = T(s, dir, "lineitem"); val ord = T(s, dir, "orders")
    val cust = T(s, dir, "customer"); val sup = T(s, dir, "supplier")
    val nat = T(s, dir, "nation"); val reg = T(s, dir, "region")
    val custAsia = cust
      .join(broadcast(nat), cust("c_nationkey") === nat("n_nationkey"))
      .join(broadcast(reg.filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"))
    val supNat = sup
      .join(broadcast(nat.select(col("n_nationkey").as("sn_key"),
        col("n_name").as("s_nation"))), sup("s_nationkey") === col("sn_key"))
      .select(col("s_suppkey"), col("s_nation"))
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(broadcast(custAsia), ord("o_custkey") === custAsia("c_custkey"))
      .join(broadcast(supNat), li("l_suppkey") === supNat("s_suppkey"))
      .select(year(col("o_orderdate")).as("o_year"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"),
        col("s_nation"))
      .groupBy("o_year")
      .agg(round(sum(when(col("s_nation") === "NATION_3", col("rev"))
          .otherwise(0.0)) / sum(col("rev")), 4).as("mkt_share"))
  }

  /** TPC-H Q11-shaped "important stock": parts whose revenue exceeds
    * a fraction of the GLOBAL total — the global-threshold HAVING
    * pattern. Revenue is EXACT fixed point (cents × discount
    * percent), so the threshold comparison `value·1000 > total` is
    * integer arithmetic and no boundary part can flip between
    * engines; the 1-row total broadcasts. */
  private def aImportantParts(s: SparkSession, dir: String): DataFrame = {
    val li = T(s, dir, "lineitem")
    val rev = li.select(col("l_partkey"),
      (expr("CAST(round(l_extendedprice * 100) AS BIGINT)") *
        (lit(100L) - expr("CAST(round(l_discount * 100) AS BIGINT)"))).as("rev_fx"))
    val byPart = rev.groupBy("l_partkey").agg(sum(col("rev_fx")).as("value_fx"))
    val tot = byPart.agg(sum(col("value_fx")).as("total_fx"))
    byPart.crossJoin(broadcast(tot))
      .filter(col("value_fx") * 1500L > col("total_fx"))
      .select(col("l_partkey"),
        round(col("value_fx") / 10000.0, 2).as("value"))
  }

  /** Window-rank coverage over the part catalog: quartile (ntile),
    * percent_rank and cume_dist of retail price within each brand —
    * one brand-keyed window spec, unique (price, partkey) order so
    * every rank is deterministic. */
  private def aPriceRanks(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("p_brand")
      .orderBy(col("p_retailprice"), col("p_partkey"))
    T(s, dir, "part").select(col("p_partkey"), col("p_brand"),
      ntile(4).over(w).as("price_quartile"),
      round(percent_rank().over(w), 4).as("pct_rank"),
      round(cume_dist().over(w), 4).as("cume"))
  }

  /** Set-operation coverage: customer cohorts by order era (before /
    * since 1998) — INTERSECT for retained, EXCEPT each way for
    * churned and acquired. Three distinct-key frames, three counts. */
  private def aExceptIntersect(s: SparkSession, dir: String): DataFrame = {
    val ord = T(s, dir, "orders")
    val early = ord.filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .select(col("o_custkey")).distinct()
    val late = ord.filter(col("o_orderdate") >= lit("1998-01-01").cast("timestamp"))
      .select(col("o_custkey")).distinct()
    def cnt(df: DataFrame, tag: String) =
      df.agg(count(lit(1)).as("n_customers")).select(lit(tag).as("cohort"),
        col("n_customers"))
    cnt(early.intersect(late), "retained")
      .unionAll(cnt(early.except(late), "churned"))
      .unionAll(cnt(late.except(early), "acquired"))
  }

  /** Unpivot coverage: the Q1 pricing summary melted to long form —
    * (flag, status, metric, value) — the shape a metrics store
    * ingests. Uses the Dataset.unpivot operator on the aggregated
    * frame (6 rows × 3 metrics), nothing re-shuffles. */
  private def aUnpivot(s: SparkSession, dir: String): DataFrame = {
    val base = T(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_price"),
        count(lit(1)).cast("double").as("count_order"))
    base.unpivot(Array(col("l_returnflag"), col("l_linestatus")),
      Array(col("sum_qty"), col("sum_price"), col("count_order")),
      "metric", "value")
  }

  /** Per-day distinct users, exact AND as a KMV (k-minimum-values)
    * estimate — the mergeable-sketch form a 100 TB daily dashboard
    * carries: per day only the k smallest user-hashes cross the
    * shuffle, and merging days is a k-way min-merge. The estimator is
    * bit-checked like t_kmv_distinct ((k−1)·2^56/h_k on identical
    * hashes → identical division → identical rounded long); days with
    * fewer than k users fall back to the exact count, which a real
    * sketch also stores (it keeps ALL hashes until k arrive). */
  private def aDailyDistinct(s: SparkSession, dir: String): DataFrame = {
    val k = 16
    val ev = T(s, dir, "events").select(
        (unix_micros(col("ts")) / 86400000000L).cast("long").as("day"),
        Codecs.portableHash(col("user_id")).as("h"))
      .distinct()
    val w = Window.partitionBy("day").orderBy("h")
    val kth = ev.withColumn("rn", row_number().over(w))
      .filter(col("rn") === k).select(col("day"), col("h").as("h_k"))
    ev.groupBy("day").agg(count(lit(1)).as("exact_distinct"))
      .join(kth, Seq("day"), "left")
      .select(col("day"), col("exact_distinct"),
        when(col("h_k").isNotNull,
          round(lit((k - 1).toDouble) * lit(7.2057594037927936e16) / col("h_k"))
            .cast("long"))
          .otherwise(col("exact_distinct")).as("est_distinct"))
  }

  /** One-pass production form of [[aDailyDistinct]]: the KMV sketch
    * rides a single partial-agg shuffle as the mergeable
    * [[graft.functions.KmvSketch]] aggregate (k longs per day — no
    * distinct shuffle, no rank window), and the shared estimator
    * column emits the same value the two-pass comparison row pins. */
  private def aDailyDistinctKmv(s: SparkSession, dir: String): DataFrame = {
    val k = 16
    T(s, dir, "events").select(
        (unix_micros(col("ts")) / 86400000000L).cast("long").as("day"),
        Codecs.portableHash(col("user_id")).as("h"))
      .groupBy("day")
      .agg(graft.functions.KmvSketch.kmv(col("h"), k).as("sk"))
      .select(col("day"),
        graft.functions.KmvSketch.estimate(col("sk"), k).as("est_distinct"))
  }

  /** Quartile feature binning + weight-of-evidence encoding of
    * l_extendedprice against the return flag — the classic credit-
    * scoring feature transform, composed from the shared
    * [[graft.ops.ExactPercentiles]] machinery: boundaries are the
    * exact interpolated quartiles (bit-compatible with DuckDB
    * quantile_cont), binning is a literal CASE against them, counts
    * stay exact integers, and the one ln per bin emits at round-4.
    * WOE_i = ln((returned_i/R) / (kept_i/K)). */
  private def aWoeBins(s: SparkSession, dir: String): DataFrame = {
    val li = T(s, dir, "lineitem")
    // fewGroups = true: the key domain is ONE constant — the
    // k-partitioned window would sort the entire price histogram in
    // a single task (the exact bottleneck the bucketed two-phase
    // cumsum strategy exists for)
    val qs = graft.ops.ExactPercentiles.of(
      li.select(lit("all").as("k"), col("l_extendedprice").as("x")),
      Seq(("q25", 0.25), ("q50", 0.5), ("q75", 0.75)), "woe-quartiles",
      fewGroups = true)
      .groupBy("k")
      .agg(max(when(col("qname") === "q25", col("v"))).as("q25"),
        max(when(col("qname") === "q50", col("v"))).as("q50"),
        max(when(col("qname") === "q75", col("v"))).as("q75"))
      .drop("k")
    val binned = li.crossJoin(broadcast(qs))
      .select(
        when(col("l_extendedprice") <= col("q25"), 0)
          .when(col("l_extendedprice") <= col("q50"), 1)
          .when(col("l_extendedprice") <= col("q75"), 2)
          .otherwise(3).as("bin"),
        (col("l_returnflag") === "R").as("ret"))
      .groupBy("bin")
      .agg(sum(when(col("ret"), 1L).otherwise(0L)).as("n_returned"),
        sum(when(col("ret"), 0L).otherwise(1L)).as("n_kept"))
    // binned is referenced twice (WoE projection + tot), but a
    // localCheckpoint here measured a WASH (r14 interleaved reps:
    // 1.06-1.43 both ways at sf0.1) — the duplicated subtree plans as
    // the SAME exchange twice and ReuseExchange already dedupes it,
    // unlike aBasketRules' four differently-shaped references. Left
    // uncheckpointed: no win, and the extra barrier costs a job.
    val tot = binned.agg(sum("n_returned").as("tr"), sum("n_kept").as("tk"))
    binned.crossJoin(broadcast(tot))
      .select(col("bin"), col("n_returned"), col("n_kept"),
        round(log((col("n_returned").cast("double") / col("tr")) /
          (col("n_kept").cast("double") / col("tk"))), 4).as("woe"))
  }

  /** Join-key skew diagnosis: the heaviest l_partkey keys with their
    * row share — the report read BEFORE choosing the a_skew_salted
    * mitigation ([[graft.ops.SkewJoin]]). One partial-agg shuffle on
    * the key + a TakeOrderedAndProject head; the 1-row total
    * broadcasts. */
  private def pSkewReport(s: SparkSession, dir: String): DataFrame = {
    val li = T(s, dir, "lineitem")
    val tot = li.agg(count(lit(1)).as("n_total"))
    li.groupBy("l_partkey").agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(tot))
      .select(col("l_partkey"), col("n"),
        round(col("n").cast("double") / col("n_total"), 4).as("share"))
      .orderBy(col("n").desc, col("l_partkey")).limit(10)
  }

  /** Marketing attribution: each purchase credited to the first and
    * last preceding view of the same user inside a 6-hour lookback —
    * the first/last-touch report. Keyed equi-join on user_id with a
    * range predicate, then a per-purchase min/max/count agg; left
    * join keeps unattributed purchases (nulls, count 0). Per-user
    * fan-out is bounded by views-per-6h; at extreme per-user rates
    * the same join runs time-bucketed (the as-of join's bucketing
    * note at [[graft.ops.AsOfJoin]]). */
  private def aAttribution(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events")
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"),
        unix_micros(col("ts")).as("p_us"))
    val v = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), unix_micros(col("ts")).as("v_us"))
    p.join(v, p("user_id") === col("v_user") &&
        col("v_us") < col("p_us") &&
        col("v_us") >= col("p_us") - lit(21600000000L), "left")
      .groupBy(col("p_id"), col("user_id"), col("p_us"))
      .agg(min(col("v_us")).as("first_touch_us"),
        max(col("v_us")).as("last_touch_us"),
        count(col("v_us")).as("n_touch_views"))
  }

  /** Bounded-lookback form of [[aAttribution]]: per purchase, only
    * the 8 MOST RECENT preceding views inside the 6h window count —
    * the declared-state dial that unblocks a streaming twin (the
    * EWMA bounded-frame convention): [[graft.streaming
    * .StreamingAttribution]] keeps exactly 8 view timestamps per user
    * as state, where the unbounded form would hoard every view for
    * 6h. Equivalence note: "8 newest overall, filtered to the window"
    * equals "8 newest within the window" because in-window views are
    * by definition newer than out-of-window ones. The per-purchase
    * rank rides Spark's map-side WindowGroupLimit prune (plan-pinned)
    * so no shuffle buffer ever holds more than 9 rows per purchase. */
  private def aAttributionBounded(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events")
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"),
        unix_micros(col("ts")).as("p_us"))
    val v = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), unix_micros(col("ts")).as("v_us"))
    val wk = Window.partitionBy(col("p_id")).orderBy(col("v_us").desc)
    p.join(v, p("user_id") === col("v_user") &&
        col("v_us") < col("p_us") &&
        col("v_us") >= col("p_us") - lit(21600000000L), "left")
      .withColumn("rk", row_number().over(wk))
      .filter(col("rk") <= 8)
      .groupBy(col("p_id"), col("user_id"), col("p_us"))
      .agg(min(col("v_us")).as("first_touch_us"),
        max(col("v_us")).as("last_touch_us"),
        count(col("v_us")).as("n_touch_views"))
  }

  /** Conversion-lag distribution: exact percentiles of the time from
    * LAST preceding view to purchase (the attributed purchases of
    * [[aAttribution]]'s join) — "how long before buying do users
    * look". Composes the 6h user-keyed range join with the shared
    * [[graft.ops.ExactPercentiles]] machinery (fewGroups = true: one
    * constant key). Lags are exact integer micros; the interpolated
    * percentile is bit-compatible with quantile_cont. */
  private def aConversionLag(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events")
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"),
        unix_micros(col("ts")).as("p_us"))
    val v = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), unix_micros(col("ts")).as("v_us"))
    val lags = p.join(v, p("user_id") === col("v_user") &&
        col("v_us") < col("p_us") &&
        col("v_us") >= col("p_us") - lit(21600000000L))
      .groupBy(col("p_id"), col("p_us"))
      .agg(max(col("v_us")).as("lt"))
      .select(lit("all").as("k"), (col("p_us") - col("lt")).cast("double").as("x"))
    graft.ops.ExactPercentiles.of(lags,
        Seq(("q25", 0.25), ("q50", 0.5), ("q75", 0.75), ("q90", 0.9)),
        "conv-lag", fewGroups = true)
      .select(col("qname"), round(col("v"), 4).as("lag_us"))
  }

  /** Event-type transition matrix over per-user event sequences —
    * the behavioral Markov-chain summary (what follows a view?).
    * One user-keyed window for the successor, then a partial-agg on
    * the 25-cell (from, to) key; transition probabilities divide on
    * the aggregated frame (a second tiny window over ≤ |types|²
    * rows, not over events). */
  private def aTransitions(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val agg = T(s, dir, "events")
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    agg.withColumn("p",
      round(col("n").cast("double") / sum(col("n")).over(
        Window.partitionBy(col("from_type"))), 4))
  }

  /** Incremental-view-maintenance form of [[aTrend]]: the first 15
    * days play the PRECOMPUTED moment table (what yesterday's batch
    * left behind), the rest plays the arriving delta; each side
    * derives its six-long moments independently and the two partial
    * frames merge by plain summation — then the identical
    * slope/intercept projection. The oracle is the FULL-data a_trend
    * SQL, so the row is green only if merging partials exactly equals
    * recomputing from scratch (the mergeable-moments claim, proved on
    * the oracle gate rather than asserted). The shared x-origin is
    * the FULL frame's per-group first day (history ∪ delta — the
    * [[graft.streaming.StreamingTrend]] first-day-is-min-day
    * convention), so an event_type first seen after the cut keeps its
    * delta rows instead of silently dropping out of the inner join;
    * in production the origin is a persisted per-group scalar the
    * history batch wrote, unchanged by deltas. */
  private def aTrendIncremental(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events").select(col("event_type"),
      (unix_micros(col("ts")) / 86400000000L).cast("long").as("day"),
      expr("CAST(round(value * 10000) AS BIGINT)").as("yfx"))
    val cut = ev.agg((min(col("day")) + 15L).as("cut_day"))
    val tagged = ev.crossJoin(broadcast(cut))
    val history = tagged.filter(col("day") < col("cut_day"))
    val delta = tagged.filter(col("day") >= col("cut_day"))
    val day0 = ev.groupBy("event_type").agg(min(col("day")).as("day0"))
    def partialMoments(df: DataFrame): DataFrame =
      df.join(broadcast(day0), "event_type")
        .select(col("event_type"), (col("day") - col("day0")).as("x"), col("yfx"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("yfx").as("sy"),
          sum(col("x") * col("yfx")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
    val merged = partialMoments(history).unionAll(partialMoments(delta))
      .groupBy("event_type")
      .agg(sum("n").as("n"), sum("sx").as("sx"), sum("sy").as("sy"),
        sum("sxy").as("sxy"), sum("sxx").as("sxx"))
    val num = col("n").cast("double") * col("sxy") -
      col("sx").cast("double") * col("sy")
    val den = col("n").cast("double") * col("sxx") -
      col("sx").cast("double") * col("sx")
    merged.select(col("event_type"), col("n"),
      round(num / den / 10000.0, 4).as("slope_per_day"),
      round((col("sy").cast("double") - num / den * col("sx")) / col("n") / 10000.0, 4)
        .as("intercept"))
  }

  /** Per-group OLS trend of event value over time — the drift report
    * ("is error cost rising?") read before alerting. Exact integer
    * moments (Σx, Σy, Σxy, Σx² on fixed-point values and per-group
    * day offsets — one partial-agg pass, order-independent), then the
    * closed-form slope/intercept in double with a FIXED operation
    * order the oracle mirrors. Day offsets are group-relative (x =
    * day − min day), which both bounds the moments (offset ≤ span,
    * not epoch-days) and conditions the normal equations. Long
    * moments carry ~5e3T rows at these magnitudes; beyond that the
    * same pass runs on DECIMAL(38) sums. */
  private def aTrend(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events").select(col("event_type"),
      (unix_micros(col("ts")) / 86400000000L).cast("long").as("day"),
      expr("CAST(round(value * 10000) AS BIGINT)").as("yfx"))
    val mins = ev.groupBy("event_type").agg(min("day").as("day0"))
    val m = ev.join(broadcast(mins), "event_type")
      .select(col("event_type"), (col("day") - col("day0")).as("x"), col("yfx"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("yfx").as("sy"),
        sum(col("x") * col("yfx")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
    val num = col("n").cast("double") * col("sxy") -
      col("sx").cast("double") * col("sy")
    val den = col("n").cast("double") * col("sxx") -
      col("sx").cast("double") * col("sx")
    m.select(col("event_type"), col("n"),
      round(num / den / 10000.0, 4).as("slope_per_day"),
      round((col("sy").cast("double") - num / den * col("sx")) / col("n") / 10000.0, 4)
        .as("intercept"))
  }

  /** One-pass column profiler over events — null counts, distinct
    * counts, numeric min/max per column (the first thing a pipeline
    * run reads about an unfamiliar table). One scan, exploded to
    * (column, value) pairs, one partial-agg shuffle keyed on the
    * 5-value column name; numeric and string payloads ride disjoint
    * struct fields so the distinct count is countDistinct(dval) +
    * countDistinct(sval) with no cross-type casting (a string render
    * of doubles would differ between engines). */
  private def pProfile(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events")
    val specs = Seq(
      ("event_id", col("event_id").cast("double"), lit(null).cast("string")),
      ("user_id", col("user_id").cast("double"), lit(null).cast("string")),
      ("value", col("value"), lit(null).cast("string")),
      ("event_type", lit(null).cast("double"), col("event_type")),
      ("props", lit(null).cast("double"), col("props")))
    ev.select(explode(array(specs.map { case (n, d, st) =>
        struct(lit(n).as("col_name"), d.as("dval"), st.as("sval")) }: _*)).as("c"))
      .groupBy(col("c.col_name").as("col_name"))
      .agg(count(lit(1)).as("n_rows"),
        (count(lit(1)) - count(col("c.dval")) - count(col("c.sval"))).as("n_nulls"),
        (countDistinct(col("c.dval")) + countDistinct(col("c.sval"))).as("n_distinct"),
        round(min(col("c.dval")), 4).as("min_val"),
        round(max(col("c.dval")), 4).as("max_val"))
  }

  /** Referential-integrity and domain-constraint audit — violation
    * counts per declared rule (the load gate of a warehouse ingest).
    * FK rules are distributed left-anti joins on the key (broadcast
    * where the dimension is small); the domain rule is a scan-side
    * filter count. Always emits one row per rule, zero included. */
  private def pFkViolations(s: SparkSession, dir: String): DataFrame = {
    val li = T(s, dir, "lineitem"); val ord = T(s, dir, "orders")
    val cust = T(s, dir, "customer"); val nat = T(s, dir, "nation")
    def cnt(df: DataFrame, rule: String) =
      df.agg(count(lit(1)).as("n_violations"))
        .select(lit(rule).as("rule"), col("n_violations"))
    cnt(li.join(ord, li("l_orderkey") === ord("o_orderkey"), "left_anti"),
        "lineitem.l_orderkey -> orders.o_orderkey")
      .unionAll(cnt(ord.join(cust, ord("o_custkey") === cust("c_custkey"), "left_anti"),
        "orders.o_custkey -> customer.c_custkey"))
      .unionAll(cnt(cust.join(broadcast(nat),
          cust("c_nationkey") === nat("n_nationkey"), "left_anti"),
        "customer.c_nationkey -> nation.n_nationkey"))
      .unionAll(cnt(li.filter(col("l_quantity") <= 0), "lineitem.l_quantity > 0"))
  }

  /** LSH band-planner table: the candidate-probability S-curve
    * p(candidate | jaccard j) = 1 − (1 − j^r)^b for every (bands,
    * rows-per-band) split of the 16-hash MinHash signature — the
    * table a user reads to pick the d_minhash_lsh dials for a target
    * threshold (steepness moves toward high j as r grows). Pure
    * bounded math from the signature width, replayed by the oracle
    * with SQL pow; emitted at round-4 (pow's cross-engine ulp is far
    * inside). */
  private def dLshPlanner(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def r4(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
    Seq(1, 2, 4, 8, 16).map { r =>
      val b = 16 / r
      def p(j: Double) = 1.0 - math.pow(1.0 - math.pow(j, r.toDouble), b.toDouble)
      (b, r, r4(p(0.3)), r4(p(0.5)), r4(p(0.7)), r4(p(0.9)))
    }.toDF("bands", "rows_per_band", "p_j03", "p_j05", "p_j07", "p_j09")
  }

  /** WEIGHTED percentiles (type-1 lower: the smallest value whose
    * cumulative weight reaches q·W) of extended price, weighted by
    * quantity, per return flag — the "price point where half the
    * UNITS sit" question the unweighted family cannot answer. Exact
    * end to end: integral quantities sum as longs, the selection
    * compares `cum·d ≥ n·W` in integers, and the price itself is a
    * group key, never arithmetic. Shape: value histogram (shuffle ∝
    * distinct prices per flag) → flag-keyed running weight → rational
    * thresholds ride a 9-row broadcast. The 3-key domain makes the
    * keyed window single-task-per-flag at extreme scale — the same
    * declared trade as ExactPercentiles, whose bucketed two-phase
    * cumsum slots in identically if a corpus ever needs it. */
  private def aWeightedPercentiles(s: SparkSession, dir: String): DataFrame = {
    val li = T(s, dir, "lineitem")
    val hist = li.select(col("l_returnflag").as("k"), col("l_extendedprice").as("x"),
        expr("CAST(round(l_quantity) AS BIGINT)").as("w"))
      .groupBy("k", "x").agg(sum(col("w")).as("wc"))
    val wWin = Window.partitionBy("k").orderBy("x")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist.withColumn("cum", sum(col("wc")).over(wWin))
    val tot = hist.groupBy("k").agg(sum(col("wc")).as("tw"))
    val qs = Seq(("q25", 1L, 4L), ("q50", 1L, 2L), ("q75", 3L, 4L))
    val qf = { import s.implicits._; qs.toDF("qname", "qn", "qd") }
    cum.join(broadcast(tot), "k").crossJoin(broadcast(qf))
      .filter(col("cum") * col("qd") >= col("qn") * col("tw"))
      .groupBy(col("k").as("l_returnflag"), col("qname"))
      .agg(min(col("x")).as("wq_price"))
  }

  /** Peak concurrent sessions per day — the occupancy/capacity
    * question every serving team asks of session data. Classic ±1
    * boundary sweep: each session emits a +1 at its start and a −1
    * just past its end; a DAY-KEYED running sum (unique total order,
    * +1 before −1 on timestamp ties) gives the within-day profile,
    * and the cross-day carry-in is a prefix sum over the aggregated
    * per-day frame — the two-phase cumsum idiom (t_pack_sequences /
    * ExactPercentiles): the only unpartitioned window runs over ~one
    * row per day, never over events. Exact integers end to end.
    * The day peak floors the local max at 0 (peak-at-day-start =
    * carry + 0): a day whose earliest boundary is an overnight
    * session's close has max(run) < 0 within the day, but the true
    * midnight concurrency is the carry itself. Days with no boundary
    * rows at all (fully inside an open session) emit no row — the
    * report covers days with session activity. */
  private def aConcurrency(s: SparkSession, dir: String): DataFrame = {
    val sess = graft.ops.Sessionize.sessions(T(s, dir, "events"), 1800L * 1000000L)
      .select(col("user_id"), col("start_us"), col("end_us"))
    val bounds = sess.select(explode(array(
        struct(col("start_us").as("us"), lit(1L).as("delta"),
          col("user_id").as("u"), col("start_us").as("s0")),
        struct((col("end_us") + 1L).as("us"), lit(-1L).as("delta"),
          col("user_id").as("u"), col("start_us").as("s0")))).as("b"))
      .select(col("b.us").as("us"), col("b.delta").as("delta"),
        col("b.u").as("u"), col("b.s0").as("s0"),
        (col("b.us") / 86400000000L).cast("long").as("day"))
    val wDay = Window.partitionBy("day")
      .orderBy(col("us"), col("delta").desc, col("u"), col("s0"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val perDay = bounds
      .withColumn("run", sum(col("delta")).over(wDay))
      .groupBy("day")
      .agg(max(col("run")).as("peak_local"), sum(col("delta")).as("day_delta"))
    // prefix over the tiny day frame (one row per active day)
    val wPrefix = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, -1)
    perDay
      .withColumn("carry", coalesce(sum(col("day_delta")).over(wPrefix), lit(0L)))
      .select(col("day"),
        (col("carry") + greatest(col("peak_local"), lit(0L))).as("peak_concurrent"))
  }

  /** Densified form of [[aConcurrency]]: every calendar day in the
    * data's span gets a row, including days with NO session boundary
    * at all — a day fully inside long-running sessions reports the
    * carried-in concurrency (peak = carry + 0) instead of silently
    * missing from the report, which is what a capacity dashboard
    * actually plots. The day spine is one `sequence(min, max)` off a
    * broadcast two-value frame — span-sized, never event-sized; the
    * sparse per-day frame left-joins onto it and the same two-phase
    * prefix carry runs over the (still tiny) dense day frame. */
  private def aConcurrencyDense(s: SparkSession, dir: String): DataFrame = {
    val sess = graft.ops.Sessionize.sessions(T(s, dir, "events"), 1800L * 1000000L)
      .select(col("user_id"), col("start_us"), col("end_us"))
    val bounds = sess.select(explode(array(
        struct(col("start_us").as("us"), lit(1L).as("delta"),
          col("user_id").as("u"), col("start_us").as("s0")),
        struct((col("end_us") + 1L).as("us"), lit(-1L).as("delta"),
          col("user_id").as("u"), col("start_us").as("s0")))).as("b"))
      .select(col("b.us").as("us"), col("b.delta").as("delta"),
        col("b.u").as("u"), col("b.s0").as("s0"),
        (col("b.us") / 86400000000L).cast("long").as("day"))
    val wDay = Window.partitionBy("day")
      .orderBy(col("us"), col("delta").desc, col("u"), col("s0"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val perDay = bounds
      .withColumn("run", sum(col("delta")).over(wDay))
      .groupBy("day")
      .agg(max(col("run")).as("peak_local"), sum(col("delta")).as("day_delta"))
    val days = perDay.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(explode(sequence(col("d0"), col("d1"))).as("day"))
    val wPrefix = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, -1)
    days.join(perDay, Seq("day"), "left")
      .withColumn("carry",
        coalesce(sum(coalesce(col("day_delta"), lit(0L))).over(wPrefix), lit(0L)))
      .select(col("day"),
        (col("carry") +
          greatest(coalesce(col("peak_local"), lit(0L)), lit(0L)))
          .as("peak_concurrent"))
  }

  /** Top user journeys — the most frequent session-opening event-type
    * paths (first 5 events per session, '>' -joined) with their
    * session counts: the "what do users actually do" product-
    * analytics staple. Rides the shared per-event session assignment
    * ([[graft.ops.Sessionize.assigned]]); the path is built from a
    * sort_array of (us, event_id, type) structs so the order is the
    * deterministic event order, and the top-20 cut is
    * TakeOrderedAndProject on (count DESC, path). */
  private def aTopJourneys(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sessionize.assigned(T(s, dir, "events"), 1800L * 1000000L)
      .groupBy(col("user_id"), col("sess_idx"))
      .agg(array_join(
        slice(transform(
          sort_array(collect_list(struct(col("us"), col("event_id"),
            col("event_type").as("et")))), x => x.getField("et")), 1, 5), ">")
        .as("path"))
      .groupBy("path").agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path")).limit(20)

  /** One-row corpus overview — docs, languages, exact-dup count,
    * token volume, vocabulary, mean quality — the first dashboard a
    * curation run renders. Two aggregate passes (doc-level and
    * token-level) cross-joined by 1-row broadcast; the quality mean
    * sums per-doc FIXED-POINT scores (exact longs) with one division
    * at emission, so the averaged double never depends on summation
    * order. */
  private def eCorpusReport(s: SparkSession, dir: String): DataFrame = {
    val d = T(s, dir, "documents")
    val tokStats = d.select(explode(Codecs.tokens(col("text"))).as("t"))
      .agg(count(lit(1)).as("n_tokens"), countDistinct(col("t")).as("vocab"))
    val docStats = d.agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("lang")).as("n_langs"),
      (count(lit(1)) - countDistinct(Codecs.portableHash(col("text"))))
        .as("n_dup_docs"),
      sum(round(TextOps.qualityScore(col("text")) * 10000).cast("long"))
        .as("q_fx"))
    docStats.crossJoin(broadcast(tokStats))
      .select(col("n_docs"), col("n_langs"), col("n_dup_docs"),
        col("n_tokens"), col("vocab"),
        round(col("q_fx").cast("double") / col("n_docs") / 10000.0, 4)
          .as("avg_quality"))
  }

  /** Train/eval split-leakage report: near-dup pairs that STRADDLE
    * the deterministic 20% holdout — the "my eval set leaked into
    * training" check run before any benchmark number is believed.
    * Pure composition: the shared LSH-verified pair frame (PlanCached,
    * sub-quadratic) joined to the hash-split flags; the pair side is
    * tiny relative to the corpus, so both flag joins broadcast it
    * under AQE. One row per straddling pair, oriented train → eval. */
  private def eSplitLeakage(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val split = docs.select(col("doc_id"),
      TextOps.hashSample(col("lang"), col("doc_id"), 20).as("is_eval"))
    Dedup.lshVerifiedJaccard(docs, 3, 16, 4, 4, 0.5)
      .join(split.select(col("doc_id").as("doc_a"), col("is_eval").as("eval_a")),
        "doc_a")
      .join(split.select(col("doc_id").as("doc_b"), col("is_eval").as("eval_b")),
        "doc_b")
      .filter(col("eval_a") =!= col("eval_b"))
      .select(
        when(col("eval_a"), col("doc_b")).otherwise(col("doc_a")).as("train_doc"),
        when(col("eval_a"), col("doc_a")).otherwise(col("doc_b")).as("eval_doc"),
        col("jaccard"))
  }

  /** k-anonymity audit over quasi-identifiers (nation, market
    * segment, account-balance band): group sizes and the k<5 at-risk
    * flag — the re-identification risk report a dataset release gate
    * reads. One partial-agg shuffle on the QI key. */
  private def aKAnonymity(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "customer")
      .select(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / 1000).cast("long").as("bal_bucket"))
      .groupBy("c_nationkey", "c_mktsegment", "bal_bucket")
      .agg(count(lit(1)).as("group_size"))
      .withColumn("at_risk", col("group_size") < 5)

  /** Incremental ingestion dedup: the doc_id%10==0 docs play the
    * newly-arrived batch, probed against the rest of the corpus's band
    * index ([[graft.ext.Dedup.incrementalNearDups]]). PlanCached —
    * the apply form consumes the same pair frame. */
  private def dIncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    PlanCache.cached("incr-neardups", docs)(
      Dedup.incrementalNearDups(docs, col("doc_id") % 10 === 0, 3, 16, 4, 4, 0.5))
  }

  /** Admission decision for the incoming batch — the apply form of the
    * incremental check: batch docs with NO corpus near-dup are
    * admitted. Anti-join against the (tiny) matched-pair frame. */
  private def dIncrementalApply(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "documents")
      .filter(col("doc_id") % 10 === 0)
      .join(dIncrementalDedup(s, dir).select(col("batch_doc").as("doc_id")),
        Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))

  /** Sketch-estimated Jaccard for LSH candidate pairs: the fraction of
    * agreeing MinHash components is an unbiased estimate of the true
    * Jaccard — the cheap score a 100 TB pass uses to rank candidates
    * before (or instead of) the exact intersection join. Reuses the
    * cached signatures; cost is one join per side of the (tiny)
    * candidate list, never a shingle-level join. */
  private def dMinhashJaccardEst(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val sigs = Dedup.minhashSignatures(docs, 3, 16)
    val cands = Dedup.lshCandidatePairs(sigs, 4, 4).select("doc_a", "doc_b")
    val a = sigs.select(col("doc_id").as("doc_a") +:
      (0 until 16).map(i => col(s"mh$i").as(s"a$i")): _*)
    val b = sigs.select(col("doc_id").as("doc_b") +:
      (0 until 16).map(i => col(s"mh$i").as(s"b$i")): _*)
    val matches = (0 until 16)
      .map(i => when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    cands.join(a, "doc_a").join(b, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(matches / lit(16.0), 4).as("est_jaccard"))
  }

  /** The composed decontamination report: for every eval-split
    * document, how many TRAIN documents (a) are exact duplicates after
    * normalization, (b) share at least one 5-gram, (c) are LSH-verified
    * near-duplicates. One DAG touching three operator families — the
    * report a training run reviews before trusting its eval numbers.
    * All three legs reuse cached indices (shingle n=5, LSH pairs). */
  private def eDecontamReport(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val marks = docs.select(col("doc_id"),
      TextOps.hashSample(col("lang"), col("doc_id"), 20).as("is_eval"))
    // (a) exact after normalization: eval/train docs sharing a content key
    val keyed = docs
      .withColumn("k", Codecs.portableHash(
        regexp_replace(lower(trim(col("text"))), "\\s+", " ")))
      .select(col("doc_id"), col("k")).join(marks, "doc_id")
    val exact = keyed.filter(col("is_eval")).select(col("doc_id").as("eval_doc"), col("k"))
      .join(keyed.filter(!col("is_eval")).select(col("k")), "k")
      .groupBy("eval_doc").agg(count(lit(1)).as("n_exact"))
    // (b) 5-gram overlap counts per eval doc
    val ngram = dContaminationNgram(s, dir)
      .groupBy("eval_doc").agg(countDistinct(col("train_doc")).as("n_ngram"))
    // (c) near-dup pairs crossing the split, per eval doc
    val near = dContamination(s, dir)
      .groupBy("eval_doc").agg(count(lit(1)).as("n_neardup"))
    marks.filter(col("is_eval")).select(col("doc_id").as("eval_doc"))
      .join(exact, Seq("eval_doc"), "left")
      .join(ngram, Seq("eval_doc"), "left")
      .join(near, Seq("eval_doc"), "left")
      .select(col("eval_doc"),
        coalesce(col("n_exact"), lit(0L)).as("n_exact"),
        coalesce(col("n_ngram"), lit(0L)).as("n_ngram"),
        coalesce(col("n_neardup"), lit(0L)).as("n_neardup"))
  }

  /** The end-to-end curation pipeline as ONE composed DAG — what a
    * training-data run actually executes: whitespace/case normalize →
    * exact-dedup keepers → quality+length gate → hold out the 20%
    * eval split → pack the surviving train docs into 2048-token
    * sequences. Every stage is the same operator the individual
    * registry queries check; this query pins their composition. */
  private def eCurationPipeline(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
      .withColumn("norm_text", regexp_replace(lower(trim(col("text"))), "\\s+", " "))
    val keepers = Dedup.exactGroups(docs.select(col("doc_id"), col("norm_text").as("text")))
      .select(col("keeper").as("doc_id"))
    // gated feeds three consumers (attrs, packing's cumsum, packing's
    // offsets) — materialize once via PlanCache, same as every other
    // shared derived frame
    val gated = PlanCache.cached("curation-gated", T(s, dir, "documents"))(
      docs.join(keepers, "doc_id")
        .withColumn("quality", round(TextOps.qualityScore(col("text")), 4))
        .withColumn("n_tok", TextOps.tokenCount(col("text")).cast("long"))
        .filter(col("quality") >= 0.5 && col("n_tok").between(10, 200))
        .filter(!TextOps.hashSample(col("lang"), col("doc_id"), 20))) // train side only
    gated.select(col("doc_id"), col("lang"), col("quality"))
      .join(TextOps.packSequences(gated.select(col("doc_id"), col("text")), 2048L, 100L),
        "doc_id")
      .select(col("doc_id"), col("lang"), col("quality"), col("n_tok"),
        col("tok_start"), col("chunk_id"))
  }

  /** The intra-doc-repetition-cleaned corpus (doc_id, n_kept,
    * dedup_text), PlanCache-materialized: [[eCurationFull]]'s stages
    * all read the rebuilt text, and the prepare phase attributes the
    * posexplode+cover build to the curation_rebuilt line instead of
    * whichever consumer times first. */
  private def rebuiltDocs(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    PlanCache.cached("curation-rebuilt", docs)(
      repetitionApply(docs).select(col("doc_id"), col("n_kept"), col("dedup_text")))
  }

  /** The kept-corpus-with-ALL-gates row — [[eCurationPipeline]] plus
    * the two round-12 gates composed in the order a real run chains
    * them: intra-document repeated-span REMOVAL first (so every later
    * judgment sees the cleaned text), exact-dedup keepers on the
    * normalized REBUILT text (repeat removal can make near-copies
    * exactly equal — deduping before it would miss them), the
    * quality+length gate scored ON the rebuilt text, the CCNet
    * perplexity gate under the CORPUS bigram LM (the shared
    * bigram_xent substrate — CCNet scores with a pre-existing LM, not
    * one re-trained per filter stage; per-lang EXACT median cutoff,
    * the e_ppl_filter machinery verbatim), and the eval-split holdout.
    * Docs under 2 tokens have no bigram score and sit outside the
    * scored universe (the e_ppl_filter contract — the length gate
    * already removed them anyway). Substrates are prepare-attributed:
    * bigram_xent (LM scores) and curation_rebuilt (span removal); the
    * query itself measures gates and joins, all keyed shuffles. */
  /** The staged gate frames of the all-gates chain, shared by
    * [[eCurationFull]] and [[eCurationFunnel]] — ONE definition of the
    * normalization expression, thresholds, cutoff machinery and
    * holdout predicate, so the published funnel counts can never
    * drift from the kept corpus they claim to describe. Returns
    * (corpus, afterDedup, afterQuality, afterPpl, afterHoldout). */
  private def curationGates(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    val docs = T(s, dir, "documents")
    val rebuilt = rebuiltDocs(s, dir)
    val keepers = Dedup.exactGroups(rebuilt.select(col("doc_id"),
        regexp_replace(lower(trim(col("dedup_text"))), "\\s+", " ").as("text")))
      .select(col("keeper").as("doc_id"))
    val afterDedup = rebuilt.join(keepers, "doc_id")
    val afterQuality = afterDedup
      .withColumn("quality", round(TextOps.qualityScore(col("dedup_text")), 4))
      .filter(col("quality") >= 0.5 && col("n_kept").between(10L, 200L))
    val xent = TextOps.bigramCrossEntropy(docs)
      .select(col("doc_id"), col("xent_nats"))
    val cut = graft.ops.ExactPercentiles.of(
        xent.join(docs.select(col("doc_id"), col("lang")), "doc_id")
          .select(col("lang").as("k"), col("xent_nats").as("x")),
        Seq(("p50", 0.5)), "ppl-cut", fewGroups = true)
      .select(col("k").as("lang"), col("v").as("cutoff"))
    val afterPpl = afterQuality
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .join(xent, "doc_id")
      .join(broadcast(cut), "lang")
      .filter(col("xent_nats") <= col("cutoff"))
    val afterHoldout = afterPpl
      .filter(!TextOps.hashSample(col("lang"), col("doc_id"), 20))
    (docs, afterDedup, afterQuality, afterPpl, afterHoldout)
  }

  private def eCurationFull(s: SparkSession, dir: String): DataFrame = {
    val (_, _, _, _, afterHoldout) = curationGates(s, dir)
    afterHoldout.select(col("doc_id"), col("lang"), col("quality"),
      col("n_kept"), col("xent_nats"))
  }

  /** Per-stage yield FUNNEL of [[eCurationFull]] — the dataset-card
    * number a curation run publishes next to its kept corpus: how
    * many documents survive each gate, in gate order (corpus →
    * exact-dedup keepers on the rebuilt text → quality/length gate →
    * ppl gate → train holdout). Every stage is the SAME frame
    * e_curation_full composes (substrates shared through PlanCache:
    * curation_rebuilt, bigram_xent), so the funnel is the observable
    * twin of the kept corpus, not a re-derivation; each count is one
    * partial-agg fold and the five 1-row frames union. */
  private def eCurationFunnel(s: SparkSession, dir: String): DataFrame = {
    val (docs, afterDedup, afterQuality, afterPpl, afterHoldout) =
      curationGates(s, dir)
    def stage(df: DataFrame, idx: Long, name: String): DataFrame =
      df.agg(count(lit(1)).as("n_docs"))
        .select(lit(idx).as("stage_idx"), lit(name).as("stage"), col("n_docs"))
    stage(docs, 0L, "corpus")
      .unionAll(stage(afterDedup, 1L, "exact_dedup"))
      .unionAll(stage(afterQuality, 2L, "quality_gate"))
      .unionAll(stage(afterPpl, 3L, "ppl_gate"))
      .unionAll(stage(afterHoldout, 4L, "train_holdout"))
  }

  /** Per-source curation report — the dataset-card table a training
    * run publishes per provenance source: volume, token mass, mean
    * quality, PII density, and how much of the source survives the
    * standard quality gate (same gate as t_quality_filter /
    * e_curation_pipeline, so the report predicts those queries'
    * yields). ONE partial-agg shuffle on `source`; every metric is a
    * column expression, so the scan stays in whole-stage codegen. */
  private def eSourceReport(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "documents")
      .withColumn("n_tok", TextOps.tokenCount(col("text")).cast("long"))
      .withColumn("quality", round(TextOps.qualityScore(col("text")), 4))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(col("n_tok")).as("total_tokens"),
        round(avg(col("quality")), 4).as("avg_quality"),
        sum(TextOps.redactionCount(col("text")).cast("long")).as("n_redactions"),
        sum(when(col("quality") >= 0.5 && col("n_tok").between(10, 200), 1L)
          .otherwise(0L)).as("n_kept"),
        countDistinct(col("lang")).as("n_langs"))

  // ---------------------------------------------------------------- dedup

  private def dExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exactGroups(T(s, dir, "documents"))

  /** Exact dedup after whitespace/case normalization — catches copies
    * that differ only in formatting. */
  private def dExactNormalized(s: SparkSession, dir: String): DataFrame =
    Dedup.exactGroups(T(s, dir, "documents")
      .withColumn("text", regexp_replace(lower(trim(col("text"))), "\\s+", " ")))

  private def dJaccard(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(T(s, dir, "documents"), 3, 0.5,
      Dedup.DfCap.ExhaustiveOracle)

  /** df-capped Jaccard: shingles in more than 5 documents are dropped
    * before the self-join — the scale-safe form of d_ngram_jaccard
    * (bounded fan-out per shingle key). */
  private def dJaccardCapped(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(T(s, dir, "documents"), 3, 0.5, Dedup.DfCap.Capped(5L))

  private def dMinhashSig(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashSignatures(T(s, dir, "documents"), 3, 16)

  private def dMinhashLsh(s: SparkSession, dir: String): DataFrame =
    Dedup.lshCandidatePairs(Dedup.minhashSignatures(T(s, dir, "documents"), 3, 16), 4, 4)

  private def dLshJaccard(s: SparkSession, dir: String): DataFrame =
    Dedup.lshVerifiedJaccard(T(s, dir, "documents"), 3, 16, 4, 4, 0.5)

  /** Directional containment over the same LSH candidates — the
    * decontamination metric proper (see [[graft.ext.Dedup.lshContainment]]). */
  private def dLshContainment(s: SparkSession, dir: String): DataFrame =
    Dedup.lshContainment(T(s, dir, "documents"), 3, 16, 4, 4, 0.5)

  /** The "apply" step of dedup: the surviving corpus — one keeper row
    * per distinct (normalized) content group. */
  private def dDedupApply(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
      .withColumn("norm_text", regexp_replace(lower(trim(col("text"))), "\\s+", " "))
    val keepers = Dedup.exactGroups(docs.select(col("doc_id"), col("norm_text").as("text")))
      .select(col("keeper").as("doc_id"))
    docs.join(keepers, "doc_id")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
  }

  private def dSimhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simhash(T(s, dir, "documents"), 32)

  /** Pigeonhole-banded simhash pairs: guaranteed full recall at
    * hamming ≤ 3 (oracle = the independent exhaustive all-pairs form,
    * which the banding provably equals). */
  private def dSimhashPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(Dedup.simhash(T(s, dir, "documents"), 32), 3, 32)

  // ----------------------------------------------------------- similarity

  /** Session-shared ANN result frames (r15; VERDICT r14 task 3): the
    * brute-force and Hamming top-5 rankings are each consumed by THREE
    * timed queries (their own registry row, s_ann_recall_audit,
    * s_recall_curve) plus the bench's recall harness — and the audit
    * alone references the brute frame SIX times (five semi-joins + the
    * query-id spine). Un-materialized, every reference re-derives the
    * whole ranking chain (Catalyst has no cross-subtree common-plan
    * elimination — the PlanCache rationale); the frames are ≤ 40 rows,
    * so the materialization is one window job and a trivial persist.
    * The audit's other four variants are cached for the same 2-3
    * consumer reason. Results are row-identical (the cache changes
    * evaluation count, never rows — the a_basket_rules precedent). */
  private def annCached(tag: String, s: SparkSession, dir: String)(
      build: => DataFrame): DataFrame =
    PlanCache.cached(s"ann-$tag", T(s, dir, "embeddings"))(build)

  private def sAnnBrute(s: SparkSession, dir: String): DataFrame =
    annCached("brute-5", s, dir)(
      Similarity.bruteForceTopK(T(s, dir, "embeddings"), col("vec_id") < 8, 5))

  private def sAnnLsh(s: SparkSession, dir: String): DataFrame =
    Similarity.lshTopK(T(s, dir, "embeddings"), col("vec_id") < 8, 3, 8)

  /** Multi-probe LSH: probes the query's bucket plus all hamming-1
    * buckets — the recall lever over s_ann_lsh at identical rank
    * rules. */
  private def sAnnLshMp(s: SparkSession, dir: String): DataFrame =
    Similarity.lshTopKMulti(T(s, dir, "embeddings"), col("vec_id") < 8, 3, 8)

  /** The multiprobe-LSH SEARCH-QUALITY dial graduated into the
    * registry (the s_ann_ivf_mp4 convention): 4-bit buckets — 16
    * cells over 10k vectors, 5 probes per query — where the 8-bit
    * dial's 256 cells are so sparse at this corpus size that recall
    * collapses. Recall@3 at this dial is measured per-round in the
    * bench's `recall_at_3` harness; the oracle replays the identical
    * bucket/probe/rank arithmetic. */
  private def sAnnLshMp4(s: SparkSession, dir: String): DataFrame =
    annCached("lsh-mp4", s, dir)(
      Similarity.lshTopKMulti(T(s, dir, "embeddings"), col("vec_id") < 8, 3, 4))

  private def sAnnIvf(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfTopK(T(s, dir, "embeddings"), col("vec_id") < 8, 3, IvfK)

  /** Multi-probe IVF (nprobe=2): each query searches its two nearest
    * cells — recall rises toward brute-force as nprobe → k. */
  private def sAnnIvfMp(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfTopKMulti(T(s, dir, "embeddings"), col("vec_id") < 8, 3, IvfK, 2)

  /** Multi-probe IVF at the PRODUCTION dial (nprobe=4; measured
    * recall@3 0.792 in bench_details) — the registry's one
    * search-quality ANN row, oracle-checked at the same dial the
    * docs/SCALE.md knob table recommends, so the recall claim rides a
    * verified result rather than only a bench extra. */
  private def sAnnIvfMp4(s: SparkSession, dir: String): DataFrame =
    annCached("ivf-mp4", s, dir)(
      Similarity.ivfTopKMulti(T(s, dir, "embeddings"), col("vec_id") < 8, 3, IvfK, 4))

  /** IVF over the spherical-k-means-refined codebook (2 Lloyd rounds,
    * deterministic fixed-point means — oracle-checkable because the
    * per-dimension sums are exact longs, not order-dependent double
    * partial sums). */
  private def sAnnIvfKm(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfTopKKmeans(T(s, dir, "embeddings"), col("vec_id") < 8, 3, IvfK, 64, 2)

  /** PQ ANN: candidates compressed to 8 subspace codes (4 codewords
    * each) and scored against their reconstruction — the 100 TB
    * memory-footprint answer for embedding stores, oracle-checked end
    * to end (encode, reconstruct, rank). */
  private def sAnnPq(s: SparkSession, dir: String): DataFrame =
    Similarity.pqTopK(T(s, dir, "embeddings"), col("vec_id") < 8, 3, 4, 8, 64)

  /** Single-stage PQ at the search-quality dial: 64 codewords per
    * subspace (the s_ann_pq_rerank64 codebook, no re-rank stage) —
    * the honest "compressed-domain only" recall number next to the
    * oracle-scale k=4 row. */
  private def sAnnPq64(s: SparkSession, dir: String): DataFrame =
    Similarity.pqTopK(T(s, dir, "embeddings"), col("vec_id") < 8, 3, 64, 8, 64)

  /** Two-stage PQ: 10-candidate compressed-domain shortlist, exact
    * re-rank to top-3 (see Similarity.pqRerankTopK). */
  private def sAnnPqRerank(s: SparkSession, dir: String): DataFrame =
    Similarity.pqRerankTopK(T(s, dir, "embeddings"), col("vec_id") < 8, 3, 10, 4, 8, 64)

  /** The PQ production dial graduated into the registry: 64 codewords
    * per subspace, 50-wide shortlist (recall@3 0.75 at this dial,
    * measured per-round in bench_details `recall_at_3`) — the
    * quality-sized twin of s_ann_pq_rerank's oracle-scale k=4. Same
    * operator, same oracle chain at LIMIT 64. */
  private def sAnnPqRerank64(s: SparkSession, dir: String): DataFrame =
    annCached("pq-rerank64", s, dir)(
      Similarity.pqRerankTopK(T(s, dir, "embeddings"), col("vec_id") < 8, 3, 50, 64, 8, 64))

  /** IVFPQ: cell-restricted candidates scored in the compressed domain
    * — the composed production index (see Similarity.ivfPqTopK),
    * reusing the cached IVF assignment and PQ code frames. */
  private def sAnnIvfPq(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfPqTopK(T(s, dir, "embeddings"), col("vec_id") < 8, 3, IvfK, 4, 8, 64)

  /** IVFPQ at the search-quality dial: the same composed index with
    * the 64-codeword PQ stage — cell restriction unchanged, the
    * compressed-domain scores fine enough to rank real neighbors. */
  private def sAnnIvfPq64(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfPqTopK(T(s, dir, "embeddings"), col("vec_id") < 8, 3, IvfK, 64, 8, 64)

  /** SQ8: candidates scored against their int8 scalar-quantized form
    * (see Similarity.sq8TopK) — the codebook-free compression dial. */
  private def sAnnSq8(s: SparkSession, dir: String): DataFrame =
    annCached("sq8-3", s, dir)(
      Similarity.sq8TopK(T(s, dir, "embeddings"), col("vec_id") < 8, 3))

  /** Fixed IVF codebook size — independent of corpus size by design
    * (assignment is O(N·k); see Similarity.ivfAssign). */
  private val IvfK = 8

  private def sNearDup(s: SparkSession, dir: String): DataFrame =
    // bucketed near-dup: only LSH-bucket-mates are compared (scale path)
    Similarity.nearDupPairs(T(s, dir, "embeddings"), 0.35, 8)

  /** Radius search: all neighbors with cosine ≥ 0.35 of each query —
    * the thresholded-retrieval twin of top-k (no rank window at all;
    * see [[graft.ext.Similarity.rangeSearch]]). */
  private def sAnnRange(s: SparkSession, dir: String): DataFrame =
    Similarity.rangeSearch(T(s, dir, "embeddings"), col("vec_id") < 8, 0.35)

  /** Per-label centroid over the embedding corpus (exact fixed-point
    * means — see [[graft.ext.Similarity.labelCentroids]]), exploded to
    * one `(label, dim, value)` row per centroid element. The driver's
    * pandas canonicalizer sort_values-crashes on top-level ARRAY
    * columns (round 6's one red row), so the registry shape is scalar
    * rows; the fixed-point comparison stays element-for-element
    * because every (label, dim) pair appears exactly once. */
  private def sLabelCentroids(s: SparkSession, dir: String): DataFrame =
    Similarity.labelCentroids(T(s, dir, "embeddings"), 64)
      .select(col("label"), posexplode(col("centroid")).as(Seq("dim", "value")), col("n_vecs"))

  /** Metadata-filtered ANN: the candidate corpus is restricted to
    * English documents (embeddings ⋈ documents on vec_id = doc_id)
    * before scoring — the filtered-vector-search shape every retrieval
    * stack needs (filter first, then rank). */
  private def sAnnFiltered(s: SparkSession, dir: String): DataFrame = {
    val keep = T(s, dir, "documents").filter(col("lang") === "en")
      .select(col("doc_id").as("vec_id"))
    Similarity.filteredTopK(T(s, dir, "embeddings"), col("vec_id") < 8, keep, 5)
  }

  /** Semantic dedup (the SemDeDup shape): cluster by the fixed-k IVF
    * assignment, compare only cluster-mates, collapse cos ≥ 0.35
    * pairs into connected components — group_id = min vec_id per
    * component (oracle: recursive-CTE closure over SQL-recomputed
    * cluster pairs; the engine reuses the cached IVF assignment and
    * the min-label-propagation components operator). */
  private def dSemanticDedup(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    val pairs = Similarity.semanticPairs(emb, IvfK, 0.35)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
    Dedup.nearDupComponents(emb.select(col("vec_id").as("doc_id")), pairs)
      .select(col("doc_id").as("vec_id"), col("group_id"))
  }

  // ----------------------------------------------------------- multimodal

  private def mAssetMeta(s: SparkSession, dir: String): DataFrame = {
    val assets = Multimodal.toAssets(
      T(s, dir, "documents").select(col("doc_id").as("asset_id"),
        col("text").cast("binary").as("payload")), "image")
    assets.select(col("asset_id"), col("byte_len"),
      substring(col("payload").cast("string"), 1, 8).as("head8"),
      expr("substring(cast(payload as string), cast(byte_len div 2 as int) + 1, 8)").as("mid8"),
      Codecs.portableHash(col("payload").cast("string")).as("content_hash"))
  }

  /** Audio decode through the typed Dataset[MediaAsset] per-partition
    * batch contract ([[graft.ext.Multimodal.decodeAudio]]) — the stub
    * duration is integer math (bytes·1000/rate), so DuckDB reproduces
    * the decode exactly and the mapPartitions plumbing (encoder round
    * trip, partition batching) sits under an oracle. */
  private def mAudioMeta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val assets = Multimodal.toAssets(
      T(s, dir, "documents").select(col("doc_id").as("asset_id"),
        col("text").cast("binary").as("payload")), "audio")
      .as[graft.model.MediaAsset]
    Multimodal.decodeAudio(assets).toDF()
      .select(col("asset_id"), col("byte_len"), col("sample_rate"), col("duration_ms"))
  }

  /** The end-to-end multimodal path: payload bytes → per-partition
    * stub featurizer (normalized 64-bin byte histogram,
    * [[graft.ext.Multimodal.extractFeatures]]) → exact cosine top-k
    * ([[graft.ext.Similarity.bruteForceTopK]]). One oracle-checked
    * query covers the media→embedding→ANN seam: the DuckDB side
    * recomputes the histogram from hex bytes in FLOAT precision and
    * ranks by the same cosine rule, so a featurizer or plumbing drift
    * on either column fails the compare. */
  private def eMediaAnn(s: SparkSession, dir: String): DataFrame = {
    val assets = T(s, dir, "documents").select(col("doc_id").as("asset_id"),
      col("text").cast("binary").as("payload"))
    val feats = Multimodal.extractFeatures(assets, 64)
    Similarity.bruteForceTopK(feats, col("vec_id") < 8, 3)
  }

  /** Media near-dup: payload bytes → 64-bit content-shingle SimHash
    * (each sliding 4-byte window of the payload's hex rendering is one
    * hashed voter, [[graft.ext.Dedup.simhashOfHashes]]) → pigeonhole-
    * banded hamming pairs ([[graft.ext.Dedup.simhashPairs]], GUARANTEED
    * recall at ≤ 8 differing bits) — the perceptual-hash shape
    * (pHash/PDQ-style: fingerprint the content, band the fingerprint)
    * over an opaque binary column; a real perceptual encoder swaps in
    * behind the same (doc_id, simhash) frame and every banding dial
    * applies unchanged. The first cut of this query fingerprinted the
    * stub FEATURE histogram (bit j ≔ bin j above the 1/64 uniform
    * share) and measured non-discriminative: byte histograms of same-
    * generator text are nearly identical, so 96% of ALL pairs landed
    * within hamming 8 — a quadratic output no plan survives. Byte
    * 4-gram votes carry document CONTENT, so unrelated docs sit near
    * hamming 32 and only genuine near-dups (corpus Jaccard 0.95-0.99)
    * fall inside the budget. The oracle recomputes the fingerprint
    * from hex bytes and checks pairs EXHAUSTIVELY — the banded form
    * must lose nothing. */
  /** The (doc_id, simhash) media fingerprint frame, materialized once
    * (the media_fps prepare step): exactly the staging table a
    * production media-dedup pipeline persists — fingerprints are
    * computed at ingest, band/probe queries read them. Windows are
    * hashed by the fused [[graft.functions.ByteWindowHash]] expression
    * (one payload pass, no hex-string round trip); bit-for-bit the
    * hex().substr().portableHash composition the oracle recomputes. */
  private[graft] def mediaFps(s: SparkSession, dir: String): DataFrame =
    PlanCache.cached("media-fps-4-64", T(s, dir, "documents")) {
      val grams = T(s, dir, "documents")
        .select(col("doc_id"),
          explode(graft.functions.ByteWindowHash.byteWindowHash(
            col("text").cast("binary"), 4)).as("h"))
      Dedup.simhashOfHashes(grams, 64)
    }

  private def mMediaNearDup(s: SparkSession, dir: String): DataFrame =
    // bandBits = HashBits (56): the fingerprint's voters are 56-bit
    // window hashes and the simhashOfHashes vote rule (ones*2 > n)
    // leaves bits 56-63 zero for EVERY row, so banding them made one
    // segment a single degenerate (seg, 0) bucket = an N²/2 all-pairs
    // join key (guide §2.5 hot key; BandHistSpec pins it). Banding only
    // the live bits keeps guaranteed recall (all differing bits lie
    // inside the band) and the exact bit_count filter is unchanged —
    // identical pairs out.
    Dedup.simhashPairs(mediaFps(s, dir), 8, bits = 64,
      bandBits = graft.functions.ByteWindowHash.HashBits)

  /** Media near-dup component labels, PlanCache-materialized so the
    * union-find (an eager pair collect inside
    * [[graft.ext.Dedup.nearDupComponents]]) runs once per corpus in
    * the media_components prepare step, never inside a timed query —
    * the decontam-keepers / purchaseCommunities discipline. The r12
    * official bench caught the old inline form inflating 6.2× under
    * ambient load (9.07 s vs the 1.47 s quiet band) because the label
    * build re-ran per call. */
  private def mediaComps(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    PlanCache.cached("media-comps", docs) {
      Dedup.nearDupComponents(docs.select("doc_id"),
        mMediaNearDup(s, dir).select("doc_a", "doc_b"))
    }
  }

  /** Media near-dup APPLY — the asset-store survivor set: byte-window
    * SimHash pairs collapse transitively (same argument as
    * d_neardup_apply), keeper = min-id per component; assets too short
    * to fingerprint are singletons and survive. Completes the media
    * family's pairs → apply symmetry on the shared
    * [[graft.ext.Dedup.nearDupComponents]] union-find (read from the
    * prepare-staged [[mediaComps]] frame). */
  private def mMediaApply(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val comps = mediaComps(s, dir)
      .filter(col("doc_id") === col("group_id"))
      .select("doc_id")
    docs.join(comps, "doc_id")
      .select(col("doc_id").as("asset_id"), col("source"), col("n_chars"))
  }

  /** Edit-distance verification of the LSH candidates — char-level
    * near-dup confirmation bounded by the candidate list (the
    * order-sensitive complement of d_lsh_jaccard's token-set verify). */
  private def dEditVerify(s: SparkSession, dir: String): DataFrame =
    Dedup.editVerifiedPairs(T(s, dir, "documents"), 3, 16, 4, 4, 0.2)

  private def tNgramDiversity(s: SparkSession, dir: String): DataFrame =
    TextOps.ngramDiversity(T(s, dir, "documents"), 3)

  /** The winnowing fingerprint index, materialized once — shared by
    * t_winnow and d_winnow_pairs (and charged to the winnow_index
    * prepare step in the bench). */
  private[graft] def winnowIdx(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    PlanCache.cached("winnow-3-4", docs)(TextOps.winnow(docs, 3, 4))
  }

  private def tWinnow(s: SparkSession, dir: String): DataFrame =
    winnowIdx(s, dir)

  /** Winnow-fingerprint pair candidates: docs sharing ≥ 3 selected
    * fingerprints — the pair consumer the winnowing index exists for
    * (MOSS-style match detection). Join fan-out is per fingerprint
    * VALUE over the ~2/(w+1)-dense index, never all-pairs; the same
    * equi-join-as-candidate-generator shape as the shingle and band
    * indices. */
  private def dWinnowPairs(s: SparkSession, dir: String): DataFrame = {
    val fps = winnowIdx(s, dir).select(col("doc_id"), col("fp")).distinct()
    fps.as("a").join(fps.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared_fps"))
      .filter(col("n_shared_fps") >= 3)
  }

  private def tSourceKl(s: SparkSession, dir: String): DataFrame =
    TextOps.sourceUnigramKl(T(s, dir, "documents"))

  private def tJsDivergence(s: SparkSession, dir: String): DataFrame =
    TextOps.sourceJsDivergence(T(s, dir, "documents"))

  private def sEmbedOutliers(s: SparkSession, dir: String): DataFrame =
    Similarity.labelOutliers(T(s, dir, "embeddings"), 64, 2.0)

  /** Exact Gram matrix (X^T X) of the embedding corpus — the PCA/
    * whitening second-moment input — via the ONE-buffer imperative
    * aggregate [[graft.functions.GramMatrixFixed]]: d(d+1)/2 long
    * cells per partition, #partitions × ~16 KB on the shuffle, no
    * per-pair rows ever (the exploded i×j form shuffles d²·N). Fixed
    * point (scale 1e3) keeps the sums exact integers, so the result
    * is order-independent and the oracle's cross-join formulation is
    * bit-identical. */
  private def sEmbedGram(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "embeddings")
      .select(Similarity.asDouble(col("embedding")).as("v"))
      .agg(graft.functions.GramMatrixFixed.gramFixed(col("v"), 64, 1000.0).as("g"))
      .select(explode(col("g")).as("c"))
      .select(col("c.i").as("i"), col("c.j").as("j"), col("c.gram_fx").as("gram_fx"))

  /** First principal direction of the embedding corpus: 20 fixed
    * power-iteration steps over the EXACT Gram matrix, normalized
    * each step, from the constant start vector (0.125)^64. The
    * distributed part is the one-pass exact moment accumulation
    * ([[sEmbedGram]]'s aggregate); the 64×64 iteration is
    * constant-size and runs on the driver — the scale-correct PCA
    * tail (a corpus of any size reduces to the same d² frame). The
    * oracle replays the SAME 20 steps in a recursive CTE, so the
    * row is exact-checked, not rows-only: both sides iterate
    * identically from the exact integer gram, and per-step float
    * noise (~1e-15) is far inside the round-4 report. */
  private def sEmbedPc1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tri = T(s, dir, "embeddings")
      .select(Similarity.asDouble(col("embedding")).as("v"))
      .agg(graft.functions.GramMatrixFixed.gramFixed(col("v"), 64, 1000.0).as("g"))
      .select(explode(col("g")).as("c"))
      .select(col("c.i"), col("c.j"), col("c.gram_fx"))
      .as[(Int, Int, Long)].collect()
    val G = Array.ofDim[Double](64, 64)
    tri.foreach { case (i, j, fx) =>
      val d = fx / 1e6; G(i)(j) = d; G(j)(i) = d
    }
    var v = Array.fill(64)(0.125)
    for (_ <- 1 to 20) {
      val mv = Array.tabulate(64)(i => {
        var acc = 0.0; var j = 0
        while (j < 64) { acc += G(i)(j) * v(j); j += 1 }
        acc
      })
      val nrm = math.sqrt(mv.map(x => x * x).sum)
      v = mv.map(_ / nrm)
    }
    v.zipWithIndex.map { case (x, i) =>
      (i, java.math.BigDecimal.valueOf(x)
        .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue())
    }.toSeq.toDF("i", "loading")
  }

  /** Z-order layout audit of lineitem on (l_partkey, l_suppkey):
    * per-bucket row counts and dimension min/max under Morton-code
    * equal-width bucketing ([[graft.ops.Layout]]) — what per-file
    * stats would look like after a Z-order rewrite. */
  private def pZorderHist(s: SparkSession, dir: String): DataFrame =
    graft.ops.Layout.zorderHist(T(s, dir, "lineitem"), 64)

  /** Data-skipping effectiveness of three candidate physical layouts
    * (zorder / partkey / natural orderkey) against a 2-D range
    * predicate: files pruned and rows scanned per layout, exact
    * integers end to end. One scan + one (layout, bucket) shuffle. */
  private def pSkippingReport(s: SparkSession, dir: String): DataFrame =
    graft.ops.Layout.skippingReport(T(s, dir, "lineitem"), 64)

  /** Ridge-regression linear probe TRAINED on the corpus's own exact
    * moments ([[graft.ext.Ridge]]): one Gram+Xᵀy aggregate pass (the
    * distributed part — any corpus reduces to a d²-long frame), then
    * 60 damped-Jacobi sweeps on (G + λI)w = b on the driver. λ = 50,
    * fixed-point scale 1e3. The oracle replays the identical sweeps
    * in a recursive CTE from the identical exact integer moments. */
  private def sRidgeFit(s: SparkSession, dir: String): DataFrame =
    graft.ext.Ridge.fitFrame(T(s, dir, "embeddings"), 64, 1000.0, 50.0, 60)

  /** The trained probe applied back over the corpus: weights ride as
    * a literal vector — one codegen'd dot per row, one scan, no
    * shuffle (the s_model_score shape with LEARNED weights). */
  private def sRidgeScore(s: SparkSession, dir: String): DataFrame =
    graft.ext.Ridge.scoreFrame(T(s, dir, "embeddings"), 64, 1000.0, 50.0, 60)

  /** Classifier inference over the corpus — the distilled-quality-
    * model pattern (fastText-style filters, reward-model scores): a
    * trained linear head's weights ride as a LITERAL vector and the
    * whole "model" is one codegen'd dot product + sigmoid per row.
    * One scan, no shuffle, no UDF — at 100 TB this IS how a cheap
    * classifier sweeps a corpus; a deeper model slots into the same
    * column via a batch-inference mapPartitions. Weights are a fixed
    * deterministic ramp so the oracle regenerates them exactly. */
  private def sModelScore(s: SparkSession, dir: String): DataFrame = {
    val w = array(ModelWeights.map(lit): _*)
    T(s, dir, "embeddings")
      .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("v"))
      .select(col("vec_id"),
        round(lit(1.0) / (lit(1.0) +
          exp(-(Similarity.dot(col("v"), w) + lit(0.1)))), 4).as("p"))
  }

  /** The fixed linear-head weights of [[sModelScore]] — shared with
    * the oracle generator so both engines hold the identical model. */
  val ModelWeights: Seq[Double] = (1 to 64).map(i => ((i * 37 % 19) - 9) / 10.0)

  /** ANN serving shape: the first 8 vectors act as EXTERNAL queries
    * (not store members) against the store built from the rest —
    * codebook and cells derive from the store alone. */
  private def sAnnStore(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    Similarity.ivfSearchStore(
      emb.filter(col("vec_id") < 8).select(col("vec_id").as("q_id"), col("embedding")),
      emb.filter(col("vec_id") >= 8), 3, 8)
  }

  /** MMR-diversified re-rank of vec 0's top-20 cosine candidates
    * (λ = 0.7, pick 5) — the RAG-serving diversification step
    * ([[graft.ext.Similarity.mmrRerank]]; the oracle replays the
    * greedy selection in a recursive CTE). */
  private def sMmrRerank(s: SparkSession, dir: String): DataFrame =
    Similarity.mmrRerank(T(s, dir, "embeddings"), 0L, 20, 5, 0.7, 0.3)

  private def sCentroidClassify(s: SparkSession, dir: String): DataFrame =
    Similarity.centroidClassify(T(s, dir, "embeddings"), 64)

  private def sLabelAffinity(s: SparkSession, dir: String): DataFrame =
    Similarity.labelAffinity(T(s, dir, "embeddings"), 64)

  /** Per-modality asset census: deterministic synthetic typing
    * (doc_id mod 3 → image/audio/video, the fixture's analog of a real
    * media_type column) and exact byte totals — the capacity-planning
    * rollup an ingest run reads first. One partial-agg shuffle on a
    * 3-value key. */
  private def mModalityReport(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "documents")
      .select(
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("media_type"),
        length(col("text").cast("binary")).cast("long").as("nb"))
      .groupBy("media_type")
      .agg(count(lit(1)).as("n_assets"),
        sum(col("nb")).as("total_bytes"),
        round(avg(col("nb")), 4).as("avg_bytes"),
        max(col("nb")).as("max_bytes"))

  /** DSIR importance weights toward the src0 slice — the "make the mix
    * look more like the target domain" scorer; pair with
    * d_weighted_sample (Efraimidis–Spirakis over exp(log_w)) for the
    * resample step. */
  private def tDsirWeights(s: SparkSession, dir: String): DataFrame =
    TextOps.dsirWeights(T(s, dir, "documents"), col("source") === "src0", 1024)

  /** Multi-target DSIR: the corpus scored toward src0 AND src1 in one
    * pass (one substrate, one bucket aggregate, k-model broadcast —
    * see [[graft.ext.TextOps.dsirWeightsMulti]]); smoothing identical
    * to t_dsir_weights, pinned by the single-target equivalence
    * spec. */
  private def tDsirMulti(s: SparkSession, dir: String): DataFrame =
    TextOps.dsirWeightsMulti(T(s, dir, "documents"),
      Seq("src0" -> (col("source") === "src0"),
        "src1" -> (col("source") === "src1")), 1024)

  /** DSIR resample APPLY — the step that closes the importance-
    * resampling loop: Efraimidis–Spirakis without replacement over
    * weight exp(log_w), ranked in LOG space (ln u)/w, the monotone
    * transform of u^(1/w) that survives the ratios' 1e-20..1e2
    * dynamic range without pow-underflow ties. Plans as
    * TakeOrderedAndProject (per-partition heap + driver merge of k),
    * like d_weighted_sample. The key column is NOT emitted: its ~1e19
    * magnitude would surface harmless libm ulp noise that the top-k
    * selection itself is immune to (adjacent key gaps dwarf it). */
  private def eDsirApply(s: SparkSession, dir: String): DataFrame = {
    val w = tDsirWeights(s, dir)
    val u = (pmod(Codecs.portableHash(col("doc_id").cast("string")), lit(1000000L))
      .cast("double") + lit(0.5)) / lit(1000000.0)
    w.select(col("doc_id"), col("log_w"), (log(u) / exp(col("log_w"))).as("es_key"))
      .orderBy(col("es_key").desc, col("doc_id"))
      .limit(100)
      .select(col("doc_id"), col("log_w"))
  }

  /** Equalized-sample DSIR calibration: equal-count draws from every
    * importance stratum, the calibration-set construction that
    * validates an importance model ACROSS its weight range (a global
    * top-k like e_dsir_apply only ever sees the head). Strata are 8
    * fixed-width bins over [min, max] of the (4-dp rounded) log_w —
    * bin edges derive from ONE broadcast stats row, never a global
    * quantile sort — and the 20 draws per stratum rank on the integer
    * portable hash (a uniform draw within the stratum) so the rank
    * boundary is bit-exact cross-engine with no libm term at all.
    * Plans with the map-side WindowGroupLimit prune: the shuffle
    * carries ≤ 20 rows per stratum per partition. */
  private def eDsirCalibrate(s: SparkSession, dir: String): DataFrame = {
    val w = tDsirWeights(s, dir)
    val stats = w.agg(min(col("log_w")).as("mn"), max(col("log_w")).as("mx"))
    val strat = w.crossJoin(broadcast(stats))
      .withColumn("stratum",
        when(col("mx") > col("mn"),
          least(lit(7L),
            floor(((col("log_w") - col("mn")) * 8.0) / (col("mx") - col("mn")))))
          .otherwise(lit(0L)))
    val wnd = Window.partitionBy(col("stratum"))
      .orderBy(Codecs.portableHash(col("doc_id").cast("string")), col("doc_id"))
    strat.withColumn("rk", row_number().over(wnd))
      .filter(col("rk") <= 20)
      .select(col("stratum"), col("rk").cast("int").as("rk"),
        col("doc_id"), col("log_w"))
  }

  /** Per-target equalized calibration — e_dsir_calibrate composed
    * with t_dsir_multi: each target slice gets its OWN 8 fixed-width
    * strata over its own weight range (per-target min/max from one
    * tiny groupBy, broadcast back on target) and 10 integer-hash
    * draws per (target, stratum). The multi-tenant calibration set:
    * 2 targets × 8 strata × ≤10 rows. Rank shuffle is bounded by the
    * same WindowGroupLimit prune, now keyed (target, stratum). */
  private def dsirMultiCalibrateOf(w: DataFrame): DataFrame = {
    val stats = w.groupBy("target")
      .agg(min(col("log_w")).as("mn"), max(col("log_w")).as("mx"))
    val strat = w.join(broadcast(stats), "target")
      .withColumn("stratum",
        when(col("mx") > col("mn"),
          least(lit(7L),
            floor(((col("log_w") - col("mn")) * 8.0) / (col("mx") - col("mn")))))
          .otherwise(lit(0L)))
    val wnd = Window.partitionBy(col("target"), col("stratum"))
      .orderBy(Codecs.portableHash(col("doc_id").cast("string")), col("doc_id"))
    strat.withColumn("rk", row_number().over(wnd))
      .filter(col("rk") <= 10)
      .select(col("target"), col("stratum"), col("rk").cast("int").as("rk"),
        col("doc_id"), col("log_w"))
  }

  private def eDsirMultiCalibrate(s: SparkSession, dir: String): DataFrame =
    dsirMultiCalibrateOf(tDsirMulti(s, dir))

  /** K=3 multi-target DSIR weight table — src0/src1/src2 scored in ONE
    * corpus pass. [[graft.ext.TextOps.dsirWeightsMulti]] is K-generic;
    * this row exercises K beyond the pairwise case (k sums side by
    * side in one bucket aggregate, 3·vBuckets-row model broadcast),
    * pinned per-slice-equal to single-target runs by the ExtSpec
    * equivalence test. */
  private def tDsirMulti3(s: SparkSession, dir: String): DataFrame =
    TextOps.dsirWeightsMulti(T(s, dir, "documents"),
      Seq("src0" -> (col("source") === "src0"),
        "src1" -> (col("source") === "src1"),
        "src2" -> (col("source") === "src2")), 1024)

  /** Composite-predicate DSIR targets — one (source ∧ lang) slice and
    * one bare lang slice in the same pass: pins that
    * [[graft.ext.TextOps.dsirWeightsMulti]] is predicate-generic
    * (targets are arbitrary boolean Columns), not a source-column
    * special case. */
  private def eDsirCross(s: SparkSession, dir: String): DataFrame =
    TextOps.dsirWeightsMulti(T(s, dir, "documents"),
      Seq("src0_en" -> (col("source") === "src0" && col("lang") === "en"),
        "zh" -> (col("lang") === "zh")), 1024)

  /** The K=3 calibration composition: per-target equalized strata over
    * the 3-slice weight table — 3 targets × 8 strata × ≤10 rows. */
  private def eDsirMulti3(s: SparkSession, dir: String): DataFrame =
    dsirMultiCalibrateOf(tDsirMulti3(s, dir))

  /** Multi-target DSIR resample APPLY: Efraimidis–Spirakis without
    * replacement PER TARGET SLICE over the K=3 weight table — the
    * multi-tenant closing step (each target domain draws its own
    * resample from one shared scoring pass). Same log-space rank key
    * as e_dsir_apply ((ln u)/exp(log_w), u from the integer portable
    * hash), ranked within target by a WindowGroupLimit-pruned window
    * instead of a global sort; the es_key is NOT emitted (its ~1e19
    * magnitude carries libm ulp noise the top-k SET is immune to —
    * the per-target rank-50/51 gap property is spec-pinned like
    * e_dsir_apply's). */
  /** Per-target Efraimidis–Spirakis top-`k` over a (target, doc_id,
    * log_w) weight frame — the shared closing step of
    * e_dsir_multi_apply and e_multi_curation. */
  private[graft] def esTopKPerTarget(w: DataFrame, k: Int): DataFrame = {
    val u = (pmod(Codecs.portableHash(col("doc_id").cast("string")), lit(1000000L))
      .cast("double") + lit(0.5)) / lit(1000000.0)
    val wnd = Window.partitionBy(col("target"))
      .orderBy((log(u) / exp(col("log_w"))).desc, col("doc_id"))
    w.select(col("target"), col("doc_id"), col("log_w"))
      .withColumn("rk", row_number().over(wnd))
      .filter(col("rk") <= k)
      .select(col("target"), col("doc_id"), col("log_w"))
  }

  private def eDsirMultiApply(s: SparkSession, dir: String): DataFrame =
    esTopKPerTarget(tDsirMulti3(s, dir), 50)

  /** Multi-tenant curation DAG — the dedup-FIRST production ordering:
    * NEAR-dup component keepers (min-id representative per LSH-verified
    * Jaccard cluster — the fixture's actual duplicate mass; exact
    * dedup is the identity on it), K=3 DSIR weights trained over the
    * KEPT corpus (the contrast LM never sees duplicate mass — run
    * pre-dedup, a 1000-copy boilerplate dominates every bucket), then
    * each target draws its ES top-50 from one shared scoring pass.
    * Composes three verified operators; every shuffle stays keyed on
    * shingle hashes, grams, or target. */
  private def eMultiCuration(s: SparkSession, dir: String): DataFrame = {
    val keepers = nearDupComps(s, dir)
      .filter(col("doc_id") === col("group_id"))
      .select("doc_id")
    val kept = T(s, dir, "documents").join(keepers, "doc_id")
    esTopKPerTarget(TextOps.dsirWeightsMulti(kept,
      Seq("src0" -> (col("source") === "src0"),
        "src1" -> (col("source") === "src1"),
        "src2" -> (col("source") === "src2")), 1024), 50)
  }

  /** The FULL pretraining curation DAG — decontam first, then dedup,
    * then DSIR, then the per-target draw (the production ordering a
    * real run uses before holding out an eval set):
    * (1) mark the deterministic 20% eval split; (2) drop every train
    * doc that near-dups ACROSS the split (d_contamination's gate);
    * (3) near-dup keepers over the surviving train corpus — the pair
    * graph is the SAME shared LSH-verified frame restricted to
    * train×train (Jaccard is pairwise, so subset pairs ≡ corpus pairs
    * ∩ subset², no rebuild); (4) K=3 DSIR weights trained on the kept
    * corpus; (5) each target's ES top-50. Every shuffle stays keyed on
    * shingle hashes, doc ids, grams, or target. */
  private def eDecontamCuration(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val marks = docs.select(col("doc_id"),
      TextOps.hashSample(col("lang"), col("doc_id"), 20).as("is_eval"))
    val pairs = Dedup.lshVerifiedJaccard(docs, 3, 16, 4, 4, 0.5)
      .select("doc_a", "doc_b")
    val marked = pairs
      .join(marks.select(col("doc_id").as("doc_a"), col("is_eval").as("eval_a")), "doc_a")
      .join(marks.select(col("doc_id").as("doc_b"), col("is_eval").as("eval_b")), "doc_b")
    val bad = marked.filter(col("eval_a") =!= col("eval_b"))
      .select(when(col("eval_a"), col("doc_b")).otherwise(col("doc_a")).as("doc_id"))
      .distinct()
    val train = docs
      .join(marks.filter(!col("is_eval")).select("doc_id"), "doc_id")
      .join(bad, Seq("doc_id"), "left_anti")
    val trainIds = PlanCache.cached("decontam-train-ids", docs)(train.select("doc_id"))
    val tPairs = pairs
      .join(trainIds.select(col("doc_id").as("doc_a")), "doc_a")
      .join(trainIds.select(col("doc_id").as("doc_b")), "doc_b")
    // nearDupComponents runs its pair checkpoint + union-find collect
    // at CONSTRUCTION, so it must run only on a miss: the prepare step
    // builds once and the query call only reads
    val keepers = PlanCache.cached("decontam-keepers", trainIds, tPairs) {
      Dedup.nearDupComponents(trainIds, tPairs)
        .filter(col("doc_id") === col("group_id")).select("doc_id")
    }
    val kept = train.join(keepers, "doc_id")
    esTopKPerTarget(TextOps.dsirWeightsMulti(kept,
      Seq("src0" -> (col("source") === "src0"),
        "src1" -> (col("source") === "src1"),
        "src2" -> (col("source") === "src2")), 1024), 50)
  }

  /** Asset-store exact dedup: payload-hash ledger (n_copies, keeper)
    * over the binary column — the cheap pass that runs BEFORE any
    * decode so duplicate media is fetched and featurized once. Shuffle
    * ∝ distinct payload hashes, like d_exact. */
  private def mPayloadDedup(s: SparkSession, dir: String): DataFrame =
    Multimodal.payloadDedup(
      T(s, dir, "documents").select(col("doc_id").as("asset_id"),
        col("text").cast("binary").as("payload")))

  /** Composed chunk → featurize → ANN path (the RAG indexing shape):
    * fixed-window chunks are embedded with a deterministic 64-bin
    * token-hash histogram (the hashing trick; a real encoder slots in
    * at the same column) and the first 8 documents' chunks probe the
    * rest of the corpus brute-force. Closes the chunking↔similarity
    * seam the way e_media_ann closes media↔similarity. Chunk vec_ids
    * are doc_id·1000 + chunk_id (tChunk windows never exceed 1000
    * chunks below ~48k tokens/doc). */
  private def eChunkAnn(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // layered: bins materialize below the histogram (a lambda over the
    // raw tokens() expression would re-tokenize per bin); the
    // histogram itself is ONE imperative pass per chunk (O(n+64), the
    // extractFeatures batch shape) instead of 64 interpreted filter
    // scans (measured 29.5 s → ~1 s at sf0.1). Cached because the
    // brute-force query and candidate branches both read it.
    // chunk_id < 1000 keeps vec_id = doc_id·1000 + chunk_id collision-
    // free BY CONSTRUCTION (a ≥48k-token document would otherwise
    // collide into the next doc's id space and flip query/candidate
    // roles); the bound is mirrored in the oracle, so both engines
    // truncate identically — far beyond any fixture document
    val binRows = tChunk(s, dir)
      .filter(col("chunk_id") < 1000)
      .select((col("doc_id") * 1000 + col("chunk_id")).as("vec_id"),
        Codecs.tokens(col("chunk_text")).as("tk"))
      .select(col("vec_id"),
        transform(col("tk"), t => pmod(Codecs.portableHash(t), lit(64L))).as("bins"))
    val fv = PlanCache.cached("chunk-fv-64", T(s, dir, "documents")) {
      binRows.as[(Long, Array[Long])].mapPartitions { it =>
        it.map { case (id, bs) =>
          val hist = new Array[Double](64)
          var i = 0
          while (i < bs.length) { hist(bs(i).toInt) += 1.0; i += 1 }
          val nn = math.max(bs.length, 1)
          var j = 0
          while (j < 64) { hist(j) /= nn; j += 1 }
          (id, hist)
        }
      }.toDF("vec_id", "embedding").withColumn("label", lit(0))
    }
    Similarity.bruteForceTopK(fv, col("vec_id") < 8000L, 3)
  }

  private def mFrameSample(s: SparkSession, dir: String): DataFrame = {
    val assets = Multimodal.toAssets(
      T(s, dir, "documents").select(col("doc_id").as("asset_id"),
        col("text").cast("binary").as("payload")), "video")
    // character mode: offsets and windows in the SAME unit as the
    // character-based oracle substr — well-defined beyond ASCII
    Multimodal.sampleFrames(assets, 4, 8, sliceChars = true)
      .select(col("asset_id"), col("frame_idx").cast("long").as("frame_idx"),
        col("frame_off"), col("frame").cast("string").as("frame_str"))
  }

  // =====================================================================
  // Graph analytics / chunk dedup / per-key EWMA / hashed scorer (r9)
  // =====================================================================

  /** The customer↔supplier purchase graph: one weighted edge per
    * (customer, supplier) pair that traded, symmetrized so the random
    * walk is well-defined in both directions. Edge build is one
    * orderkey-equi-join + one partial-agg'd groupBy; the explode emits
    * both directions in a single pass over the aggregated pairs.
    * PlanCached — the rank query's 5 iterations all read it. */
  private def purchaseEdges(s: SparkSession, dir: String): DataFrame =
    PlanCache.cached("purchase-edges", T(s, dir, "lineitem"), T(s, dir, "orders")) {
      val li = T(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      val ord = T(s, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_custkey"))
      li.join(ord, "l_orderkey")
        .groupBy(col("o_custkey"), col("l_suppkey"))
        .agg(count(lit(1)).as("w"))
        .select(explode(array(
          struct(concat(lit("c"), col("o_custkey").cast("string")).as("src"),
            concat(lit("s"), col("l_suppkey").cast("string")).as("dst"), col("w")),
          struct(concat(lit("s"), col("l_suppkey").cast("string")).as("src"),
            concat(lit("c"), col("o_custkey").cast("string")).as("dst"), col("w")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"), col("e.w").as("w"))
    }

  /** Weighted PageRank over the purchase graph — "which entities does
    * the trade network concentrate on" ([[graft.ops.Graph.pageRankFixed]]:
    * exact fixed-point longs, 5 bounded power steps, so the DuckDB
    * oracle replays the identical iteration in a recursive CTE). */
  private def gPageRank(s: SparkSession, dir: String): DataFrame =
    graft.ops.Graph.pageRankFixed(purchaseEdges(s, dir), 5)

  /** Label-propagation communities over the purchase graph — 4
    * bounded synchronous rounds, ties to the smallest label so the
    * oracle replays the identical rounds in a recursive CTE
    * ([[graft.ops.Graph.labelPropagation]]). */
  private def gCommunities(s: SparkSession, dir: String): DataFrame =
    purchaseCommunities(s, dir)

  /** The ITERATIVE connected-components path of
    * [[graft.ext.Dedup.nearDupComponents]], forced by
    * `driverEdgeLimit = 0` — the shape that runs when the pair graph
    * cannot sit on the driver, i.e. the 100 TB path. Same fixpoint
    * (min reachable doc_id) and same oracle as d_neardup_groups, so
    * the correctness gate pins the distributed sweep loop itself, not
    * only the driver fast-path that small fixtures would otherwise
    * always take. */
  private def dCcIterative(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val pairs = Dedup.lshVerifiedJaccard(docs, 3, 16, 4, 4, 0.5)
      .select("doc_a", "doc_b")
    Dedup.nearDupComponents(docs.select("doc_id"), pairs, driverEdgeLimit = 0L)
  }

  /** Cross-doc chunk-hash dedup REPORT (16-token fixed chunks): the
    * duplicated-paragraph table a CCNet-style pass reads —
    * [[graft.ext.Dedup.chunkDedupReport]]. */
  private def dChunkDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.chunkDedupReport(T(s, dir, "documents"), 16)

  /** Chunk-dedup APPLY: the corpus with every duplicated 16-token
    * chunk reduced to its global first occurrence, documents
    * reassembled in chunk order ([[graft.ext.Dedup.chunkDedupApply]]). */
  private def dChunkApply(s: SparkSession, dir: String): DataFrame =
    Dedup.chunkDedupApply(T(s, dir, "documents"), 16)

  /** Per-user exponentially-weighted moving average of event values —
    * the trend/monitoring analytic, in EXACT integer arithmetic.
    * α = 1/2 over a bounded 16-row frame: the frame's values (fixed-
    * point ×1000 longs) are collected in ts order and weighted
    * 2^(16-L+i) (newest = 2^15), so numerator and denominator are
    * exact long sums — both engines then perform ONE double division
    * and round to 4 digits, inside hash-match tolerance by ulp
    * arguments (the d_weighted_sample convention). Truncating at 16
    * terms loses only weight < 2^-16 of an unbounded EWMA.
    *
    * Scale shape: one user_id-keyed window (uniform, data-sized key
    * domain — never a global or 3-key spec), frame bounded at 16 rows
    * regardless of history length. */
  private def aEwma(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id")).rowsBetween(-15, 0)
    T(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        round(col("value") * 1000).cast("long").as("v_fx"))
      .withColumn("vals", collect_list(col("v_fx")).over(w))
      .withColumn("len", size(col("vals")))
      .select(col("user_id"), col("event_id"),
        round(
          aggregate(
            // pow(2,k) is exact in doubles for k ≤ 16, so the cast
            // back to long is the integer 2^k (shiftleft's Scala API
            // only takes a literal shift)
            transform(col("vals"), (v, i) =>
              v * pow(lit(2.0), lit(16) - col("len") + i).cast("long")),
            lit(0L), (acc, x) => acc + x).cast("double")
          / (lit(65536L) - pow(lit(2.0), lit(16) - col("len")).cast("long"))
          / 1000.0, 4).as("ewma"))
  }

  /** fastText-shaped hashed-bigram linear scorer: token bigrams →
    * feature-hash into 4096 buckets → dot with a deterministic
    * fixed-point weight vector (weights minted from the bucket id's
    * portable hash, so the oracle derives the identical model without
    * any side-channel file — the s_model_score convention, on hashed
    * TEXT features instead of embeddings). Score is an exact long sum
    * normalized once per doc. All row-local until one doc_id-keyed
    * partial agg; the weight "table" is an expression, not a join. */
  private def tHashScore(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "documents")
      .select(col("doc_id"), Codecs.tokens(col("text")).as("tk"))
      .select(col("doc_id"), explode(Codecs.shingles(col("tk"), 2)).as("bg"))
      .select(col("doc_id"),
        pmod(Codecs.portableHash(col("bg")), lit(4096L)).as("b"))
      .select(col("doc_id"),
        (pmod(Codecs.portableHash(concat(lit("w"), col("b").cast("string"))),
          lit(2001L)) - 1000L).as("w_fx"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_feat"),
        sum(col("w_fx")).as("score_fx"),
        // mean score in e4 fixed point: sum·10/n is either a non-tie
        // double (both engines round it identically) or an EXACT x.5
        // (x.5 is always representable, and Spark HALF_UP = DuckDB
        // round = away from zero) — a plain decimal mean can land on
        // an unrepresentable .xxxx5 and round differently per engine
        round(sum(col("w_fx")).cast("double") * 10.0 / count(lit(1)))
          .cast("long").as("score_e4"))

  /** Personalized PageRank from the SUPPLIER side of the purchase
    * graph (topic-sensitive teleport — [[graft.ops.Graph.pageRankFixed]]
    * with a seed set): rank measures weighted proximity to the supply
    * network, the "which customers sit closest to which supply
    * concentration" dial. Same exact fixed-point iterate, same
    * recursive-CTE oracle shape as g_pagerank. */
  private def gPprSuppliers(s: SparkSession, dir: String): DataFrame = {
    val edges = purchaseEdges(s, dir)
    val seeds = edges.select(col("src").as("node"))
      .filter(col("node").startsWith("s")).distinct()
    graft.ops.Graph.pageRankFixed(edges, 5, seeds = Some(seeds))
  }

  /** Exact triangle count of the near-dup similarity graph
    * ([[graft.ops.Graph.triangleCount]] over the shared LSH-verified
    * pair frame): the clustering-structure scalar a dedup report
    * reads — triangles mean duplicate CLUSTERS, disjoint edges mean
    * pairwise-only duplication. */
  private def gTriangles(s: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.lshVerifiedJaccard(T(s, dir, "documents"), 3, 16, 4, 4, 0.5)
      .select("doc_a", "doc_b")
    graft.ops.Graph.triangleCount(pairs)
  }

  /** Degree distribution of the purchase graph — the structural
    * report read before ranking it (skew check: a hub customer
    * dominating the walk). One vertex-keyed partial agg + one
    * histogram-keyed agg; on the symmetric edge list out-degree IS
    * undirected degree. */
  private def gDegreeHist(s: SparkSession, dir: String): DataFrame =
    purchaseEdges(s, dir)
      .groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("degree"), sum(col("w")).as("wdeg"))
      .groupBy(col("degree"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("wdeg")).as("sum_wdegree"))

  /** Ordered funnel analysis view → click → purchase: how deep each
    * user gets, requiring STRICT event-time ordering between steps
    * (a click before the first view does not count) AND a 6-hour
    * conversion window per step — the windowless form saturates on
    * month-long histories (every user eventually does everything).
    * The classic event-analytics query, as three sequential
    * min-aggregations — each step is one user-keyed join +
    * partial-agg'd min over the step's filtered events, so the corpus
    * is scanned once per step with the filter pushed to the scan and
    * every shuffle keyed on user_id. Output: funnel depth (0-3)
    * histogram. */
  private def aFunnel(s: SparkSession, dir: String): DataFrame = {
    val (s1, s2, s3) = funnelStages(s, dir)
    T(s, dir, "events").select("user_id").distinct()
      .join(s1.select(col("user_id"), lit(1).as("d1")), Seq("user_id"), "left")
      .join(s2.select(col("user_id"), lit(1).as("d2")), Seq("user_id"), "left")
      .join(s3.select(col("user_id"), lit(1).as("d3")), Seq("user_id"), "left")
      .select((coalesce(col("d1"), lit(0)) + coalesce(col("d2"), lit(0))
        + coalesce(col("d3"), lit(0))).cast("long").as("depth"))
      .groupBy("depth").agg(count(lit(1)).as("n_users"))
  }

  /** The funnel's three sequential stage frames (first view; first
    * qualifying click ≤ 6 h after it; first qualifying purchase ≤ 6 h
    * after that) — PlanCached per stage: a_funnel reads all three for
    * the depth histogram and a_funnel_hourly re-reads them as
    * transition timestamps, so the user-keyed min-agg chain runs
    * once. */
  private def funnelStages(s: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame) = {
    val win = expr("INTERVAL 6 HOURS")
    val ev = T(s, dir, "events").select(col("user_id"), col("event_type"), col("ts"))
    val s1 = PlanCache.cached("funnel-s1", T(s, dir, "events"))(
      ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts").as("t1")))
    val s2 = PlanCache.cached("funnel-s2", T(s, dir, "events"))(
      ev.filter(col("event_type") === "click").join(s1, "user_id")
        .filter(col("ts") > col("t1") && col("ts") <= col("t1") + win)
        .groupBy("user_id").agg(min("ts").as("t2")))
    val s3 = PlanCache.cached("funnel-s3", T(s, dir, "events"))(
      ev.filter(col("event_type") === "purchase").join(s2, "user_id")
        .filter(col("ts") > col("t2") && col("ts") <= col("t2") + win)
        .groupBy("user_id").agg(min("ts").as("t3")))
    (s1, s2, s3)
  }

  /** Funnel transitions per hour: when each user crossed each step —
    * the time-resolved view of a_funnel (same PlanCached stage
    * frames), and the batch twin of the streaming windowed conversion
    * report ([[graft.streaming.Pipeline.funnelHourly]]). One tiny
    * (hour × depth)-keyed aggregation over the stage unions. */
  private def aFunnelHourly(s: SparkSession, dir: String): DataFrame = {
    val (s1, s2, s3) = funnelStages(s, dir)
    s1.select(col("t1").as("ts"), lit(1L).as("depth"))
      .unionByName(s2.select(col("t2").as("ts"), lit(2L).as("depth")))
      .unionByName(s3.select(col("t3").as("ts"), lit(3L).as("depth")))
      .groupBy(unix_micros(date_trunc("hour", col("ts"))).as("hour_us"), col("depth"))
      .agg(count(lit(1)).as("n_steps"))
  }

  /** Weekly cohort retention: users bucketed by first-activity week,
    * activity matrix (cohort week × week offset → distinct active
    * users). Two partial-agg'd shuffles keyed on user_id plus the
    * final matrix aggregation — the key domains are data-sized
    * (users) then matrix-sized (weeks²). */
  private def aCohort(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events")
      .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
    val cohorts = ev.groupBy("user_id").agg(min(col("wk")).as("cw"))
    ev.distinct()
      .join(cohorts, "user_id")
      .groupBy(unix_micros(col("cw")).as("cohort_week_us"),
        (datediff(to_date(col("wk")), to_date(col("cw"))) / 7).cast("long").as("week_offset"))
      .agg(count(lit(1)).as("n_active"))
  }

  /** Deterministic bottom-k-by-hash sample: the 64 documents with the
    * smallest content hashes. The mergeable form of uniform sampling —
    * every partition's local bottom-64 merges to the global bottom-64
    * (TakeOrderedAndProject: per-partition top-k, one k-row merge on
    * the driver — never a full sort), the sample is stable under
    * corpus growth ordering, and the same sketch doubles as the KMV
    * distinct estimator (t_kmv_distinct). */
  private def dSampleBottomk(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "documents")
      .select(col("doc_id"), col("lang"), Codecs.portableHash(col("text")).as("h"))
      .orderBy(col("h"), col("doc_id")).limit(64)

  /** KMV (k-minimum-values) distinct-count estimate of the token
    * vocabulary (Bar-Yossef et al. 2002): with the 64 smallest
    * distinct hash values, est = (k-1)/U where U is the k-th minimum
    * as a fraction of the 2^56 hash space. The estimate is emitted as
    * a rounded integer next to the exact count, so the oracle checks
    * the ESTIMATOR bit-for-bit (same h_k → same double division →
    * same rounded long), not an error band. Shape: one distinct
    * (partial-agg'd, vocab-sized shuffle) + a 64-row TakeOrdered; the
    * exact count shares the distinct frame. */
  private def tKmvDistinct(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val vh = PlanCache.cached("kmv-vocab-hashes", docs)(
      docs
        .select(explode(Codecs.tokens(col("text"))).as("t"))
        .select(Codecs.portableHash(col("t")).as("h")).distinct())
    val bottom = vh.orderBy(col("h")).limit(64).agg(max(col("h")).as("h_k"))
    val exact = vh.agg(count(lit(1)).as("exact_distinct"))
    bottom.crossJoin(broadcast(exact))
      .select(lit(64L).as("k"), col("h_k"),
        // 63·2^56 is exactly representable (6 significant bits), so
        // both engines divide identical doubles; rounding to a LONG
        // only ever ties on an exactly-representable x.5
        round(lit(63.0) * lit(7.2057594037927936e16) / col("h_k"))
          .cast("long").as("est_distinct"),
        col("exact_distinct"))
  }

  /** Gap-based sessionization (30-minute inactivity gap): the
    * session-ID assignment form of session windowing — a_session_window
    * aggregates Spark's session_window; this derives explicit
    * per-session rows the way an event-analytics store would, via the
    * classic lag + running-sum-of-breaks window. Exact microsecond
    * arithmetic end to end (epoch micros, fixed-point value sum), so
    * the oracle replays it bit-for-bit. Scale shape: ONE user-keyed
    * window spec (data-sized key domain, both lag and the running sum
    * share it — one sort, one WindowExec) followed by a
    * (user, session)-keyed partial agg. */
  private def aSessionize(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sessionize.sessions(T(s, dir, "events"), 1800L * 1000000L)

  /** RFM (recency / frequency / monetary) customer scoring — the
    * classic segmentation analytic. Per-user metrics are exact longs
    * (days-since-last-event vs the global max timestamp, event count,
    * fixed-point value sum); each metric's quintile boundaries come
    * from the shared [[graft.ops.ExactPercentiles]] frame with the
    * metrics STACKED as a 3-key domain (`fewGroups = true` — exactly
    * the tiny-key-domain case the two-phase cumsum strategy exists
    * for), and scores are strict-> comparisons against the four
    * boundaries. Determinism: boundaries are the ExactPercentiles
    * lerp, bit-compatible with DuckDB quantile_cont (the
    * a_percentiles_dist claim); a comparison could only disagree if a
    * boundary landed within one ulp of an integer metric, which
    * happens exactly when the lerp is exact in both engines. The
    * boundary frame is 12 rows, broadcast — never collected. */
  private def aRfm(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        round(col("value") * 1000).cast("long").as("v_fx"))
    val gmax = ev.agg(max(col("us")).as("g"))
    val users = PlanCache.cached("rfm-users", T(s, dir, "events"))(
      ev.groupBy("user_id")
        .agg(max(col("us")).as("last_us"), count(lit(1)).as("frequency"),
          sum(col("v_fx")).as("monetary_fx"))
        .crossJoin(broadcast(gmax))
        .select(col("user_id"),
          expr("(g - last_us) div 86400000000").as("recency_days"),
          col("frequency"), col("monetary_fx")))
    val stacked = users.select(explode(array(
        struct(lit("r").as("k"), col("recency_days").cast("double").as("x")),
        struct(lit("f").as("k"), col("frequency").cast("double").as("x")),
        struct(lit("m").as("k"), col("monetary_fx").cast("double").as("x")))).as("e"))
      .select(col("e.k").as("k"), col("e.x").as("x"))
    val qs = Seq(("p20", 0.2), ("p40", 0.4), ("p60", 0.6), ("p80", 0.8))
    val bcols = for { m <- Seq("r", "f", "m"); q <- Seq("p20", "p40", "p60", "p80") }
      yield max(when(col("k") === m && col("qname") === q, col("v"))).as(s"$m$q")
    val bounds = graft.ops.ExactPercentiles.of(stacked, qs, "rfm-bounds",
        fewGroups = true)
      .agg(bcols.head, bcols.tail: _*)
    def score(metric: String, pfx: String) =
      lit(1L) +
        (col(metric) > col(s"${pfx}p20")).cast("long") +
        (col(metric) > col(s"${pfx}p40")).cast("long") +
        (col(metric) > col(s"${pfx}p60")).cast("long") +
        (col(metric) > col(s"${pfx}p80")).cast("long")
    users.crossJoin(broadcast(bounds))
      .withColumn("r_score", score("recency_days", "r"))
      .withColumn("f_score", score("frequency", "f"))
      .withColumn("m_score", score("monetary_fx", "m"))
      .select(col("user_id"), col("recency_days"), col("frequency"),
        col("monetary_fx"), col("r_score"), col("f_score"), col("m_score"),
        (col("r_score") * 100 + col("f_score") * 10 + col("m_score")).as("rfm"))
  }

  /** Hour-of-day seasonality profile per event type — the periodic
    * baseline an event-monitoring alarm compares against. Mean value
    * per (event_type, hour) and its deviation from the type's overall
    * mean, all in e4 fixed point: the per-cell and overall means are
    * exact-long sums divided once and rounded (the t_hash_score
    * convention — a non-tie double or an exactly-representable .5 in
    * both engines), and the deviation is a LONG subtraction of the
    * two already-rounded means, so it cannot introduce new rounding.
    * Shape: one (type, hour)-keyed partial agg (≤ 24·|types| cells),
    * overall means folded from the cell frame and broadcast back. */
  private def aSeasonality(s: SparkSession, dir: String): DataFrame = {
    val hourly = T(s, dir, "events")
      .select(col("event_type"), hour(col("ts")).cast("long").as("hr"),
        round(col("value") * 1000).cast("long").as("v_fx"))
      .groupBy("event_type", "hr")
      .agg(count(lit(1)).as("n"), sum("v_fx").as("s_fx"))
    val overall = hourly.groupBy("event_type")
      .agg(round(sum(col("s_fx")).cast("double") * 10.0 / sum(col("n")))
        .cast("long").as("omean_e4"))
    hourly.join(broadcast(overall), "event_type")
      .withColumn("mean_e4",
        round(col("s_fx").cast("double") * 10.0 / col("n")).cast("long"))
      .select(col("event_type"), col("hr"), col("n"), col("mean_e4"),
        (col("mean_e4") - col("omean_e4")).as("dev_e4"))
  }

  /** Per-source duplication report — the curation read that decides
    * which sources need dedup attention before mixing: document
    * count, exact-duplicate docs (full-text hash multiplicity > 1,
    * the d_exact frame), near-duplicate docs (≥ 1 LSH-verified
    * Jaccard ≥ 0.5 partner — the shared pair frame every d_* LSH row
    * reads), and both as e4 fractions in exact long division. Two
    * doc-keyed semi/left joins + one source-keyed agg on top of
    * already-PlanCached substrates. */
  private def eDupBySource(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val multi = Dedup.exactGroups(docs).filter(col("n_copies") > 1)
      .select(col("text_hash"), col("text_len"))
    val exactDup = docs
      .select(col("doc_id"), Codecs.portableHash(col("text")).as("text_hash"),
        length(col("text")).cast("long").as("text_len"))
      .join(multi, Seq("text_hash", "text_len"), "left_semi")
      .select(col("doc_id")).withColumn("is_exact", lit(1L))
    val pairs = Dedup.lshVerifiedJaccard(docs, 3, 16, 4, 4, 0.5)
    val near = pairs.select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id")))
      .distinct().withColumn("is_near", lit(1L))
    docs.select(col("doc_id"), col("source"))
      .join(exactDup, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("is_exact"), lit(0L))).as("n_exact_dup"),
        sum(coalesce(col("is_near"), lit(0L))).as("n_neardup"))
      .select(col("source"), col("n_docs"), col("n_exact_dup"), col("n_neardup"),
        expr("(n_exact_dup * 10000) div n_docs").as("exact_frac_e4"),
        expr("(n_neardup * 10000) div n_docs").as("near_frac_e4"))
  }

  /** Bounded k-core peel of the purchase graph
    * ([[graft.ops.Graph.kCorePeel]], k=48, 3 rounds): the
    * trade-network "core vs periphery" report — round-1 peels are
    * thin customers, later rounds are the cascade as their removal
    * drains supplier degrees. k=48 is tuned to the sf0.01 graph so
    * all three rounds fire AND a core survives; the bounded unroll is
    * the contract, so the oracle replays it whatever the shape. */
  private def gKcore(s: SparkSession, dir: String): DataFrame =
    graft.ops.Graph.kCorePeel(purchaseEdges(s, dir), 48, 3)

  /** Multi-source BFS shells from the nation-0 supplier seed set
    * ([[graft.ops.Graph.bfsHops]], depth 3): hop distance through the
    * trade network — 0 = the seeds, 1 = their customers, 2 = suppliers
    * sharing those customers, 3 = the rest; NULL = outside the
    * 3-hop ball. */
  private def gBfs(s: SparkSession, dir: String): DataFrame = {
    val seeds = T(s, dir, "supplier").filter(col("s_nationkey") === 0)
      .select(concat(lit("s"), col("s_suppkey").cast("string")).as("node"))
    graft.ops.Graph.bfsHops(purchaseEdges(s, dir), seeds, 3)
  }

  /** Landmark harmonic centrality of the nation-0 supplier seeds
    * ([[graft.ops.Graph.bfsHopsPerSeed]], depth 3): per landmark,
    * Σ 1/d(seed, v) over its 3-hop ball in e6 truncating fixed point,
    * plus the reached count and the ball eccentricity — the standard
    * "how central is this entity in the trade network" probe
    * (harmonic, not closeness, so disconnection costs nothing instead
    * of ∞). The per-seed frame is |seeds| × ball, gated by the
    * landmark require; the centrality rollup is one seed-keyed agg. */
  private def gHarmonic(s: SparkSession, dir: String): DataFrame = {
    val seeds = T(s, dir, "supplier").filter(col("s_nationkey") === 0)
      .select(concat(lit("s"), col("s_suppkey").cast("string")).as("node"))
    graft.ops.Graph.bfsHopsPerSeed(purchaseEdges(s, dir), seeds, 3)
      .filter(col("dist") >= 1L)
      .groupBy(col("seed"))
      .agg(count(lit(1)).as("n_reached"),
        sum(expr("1000000 div dist")).as("harmonic_e6"),
        max("dist").as("ecc_ball"))
  }

  /** Cheapest trade-cost path from the nation-0 supplier seeds
    * ([[graft.ops.Graph.minPlus]], 4 relaxation rounds): edge cost
    * `1000000 div w` — inverse trade volume, so the label measures
    * how cheaply (via how strong a chain of relationships) each
    * entity is reached from the seed population. The weighted
    * generalization of g_bfs; NULL = outside the 4-edge ball. */
  private def gCheapestPath(s: SparkSession, dir: String): DataFrame = {
    val edges = purchaseEdges(s, dir)
      .select(col("src"), col("dst"), expr("1000000 div w").as("cost"))
    val seeds = T(s, dir, "supplier").filter(col("s_nationkey") === 0)
      .select(concat(lit("s"), col("s_suppkey").cast("string")).as("node"))
    graft.ops.Graph.minPlus(edges, seeds, 4)
  }

  /** Co-purchase link prediction
    * ([[graft.ops.Graph.commonNeighborPairs]]): customer pairs
    * sharing ≥ 3 distinct parts, with neighborhood Jaccard in e4
    * fixed point — the "customers also bought" similarity graph. The
    * declared maxDf=64 cap (DfCap convention) bounds the per-part
    * pair fan-out; at sf0.01 every part is under it, at 100 TB it is
    * what keeps a commodity part from generating d²/2 rows. */
  private def gCommonNeighbors(s: SparkSession, dir: String): DataFrame = {
    val li = T(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"))
    val ord = T(s, dir, "orders")
      .select(col("o_orderkey").as("l_orderkey"), col("o_custkey"))
    val inc = li.join(ord, "l_orderkey")
      .select(col("o_custkey").as("u"), col("l_partkey").as("v"))
    graft.ops.Graph.commonNeighborPairs(inc, 64, 3)
      .select(col("u_a").as("cust_a"), col("u_b").as("cust_b"),
        col("n_common"), col("jaccard_e4"))
  }

  // =====================================================================
  // Round-10 widening: binary-code ANN, basket rules, governance
  // (RTBF cascade, l-diversity), incremental view maintenance,
  // time-series gap fill, model evaluation (AUC, calibration)
  // =====================================================================

  /** Binary sign-code ANN with exact rerank
    * ([[graft.ext.Similarity.hammingTopK]], 32 Hamming candidates →
    * cosine top-5): the 16-bytes-per-row candidate pass every
    * large-scale vector store runs before touching float arrays. Same
    * query/store split and rank rules as s_ann_brute, so recall@3 is
    * measured per-round in the bench harness. */
  private def sAnnHamming(s: SparkSession, dir: String): DataFrame =
    annCached("hamming-5-32", s, dir)(
      Similarity.hammingTopK(T(s, dir, "embeddings"), col("vec_id") < 8, 5, 32))

  /** The graduated Hamming dial ([[graft.ext.Similarity.hammingTopKWide]]):
    * 128-bit code (sign bits + offset-7 difference-sign bits) and a
    * 64-candidate rerank — recall@3 0.750 vs the 64-bit/32-candidate
    * row's 0.417 at sf0.1 (the lsh_mp4/pq64 graduation line; measured
    * per-round in bench_details recall_at_3). Candidate pass streams
    * 32 bytes/row; rank rules unchanged. */
  private def sAnnHamming128(s: SparkSession, dir: String): DataFrame =
    Similarity.hammingTopKWide(T(s, dir, "embeddings"), col("vec_id") < 8, 5, 64)

  /** Association rules over order baskets (support / confidence /
    * lift): pair co-occurrence via a basket-keyed self-join — fan-out
    * bounded by basket size squared (TPC-H baskets ≤ ~13 items), never
    * corpus-quadratic — a min-support gate BEFORE the rule arithmetic,
    * then both rule directions in exact e4 fixed point (integer
    * division on non-negative longs, identical in both engines). The
    * item-support frame joins onto the post-gate pair frame, which AQE
    * broadcasts; the 1-row basket count rides a broadcast cross join.
    * At 100 TB the shape holds: the only quadratic term is per-basket,
    * and the support gate prunes before any wide join.
    *
    * The distinct item frame is referenced FOUR times (basket count,
    * item support, both self-join sides) — Catalyst does no
    * cross-subtree common-plan elimination, so uncheckpointed it
    * scans+dedups lineitem four times per run; the localCheckpoint
    * runs that once (the commonNeighborPairs precedent, r14 —
    * settled reps 2.52-2.71 → 1.81-1.88 s at sf0.1/local[32],
    * plans/r14/a_basket_rules_*). */
  private def aBasketRules(s: SparkSession, dir: String): DataFrame = {
    val items = T(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .localCheckpoint()
    val nOrders = items.agg(countDistinct(col("l_orderkey")).as("n_orders"))
    val supp = items.groupBy(col("l_partkey")).agg(count(lit(1)).as("supp"))
    val pairs = items.select(col("l_orderkey"), col("l_partkey").as("pa"))
      .join(items.select(col("l_orderkey"), col("l_partkey").as("pb")), "l_orderkey")
      .filter(col("pa") < col("pb"))
      .groupBy(col("pa"), col("pb")).agg(count(lit(1)).as("supp_ab"))
      .filter(col("supp_ab") >= 3)
    val rules = pairs.select(col("pa").as("ante"), col("pb").as("cons"), col("supp_ab"))
      .unionAll(pairs.select(col("pb").as("ante"), col("pa").as("cons"), col("supp_ab")))
    rules
      .join(supp.select(col("l_partkey").as("ante"), col("supp").as("supp_ante")), "ante")
      .join(supp.select(col("l_partkey").as("cons"), col("supp").as("supp_cons")), "cons")
      .crossJoin(broadcast(nOrders))
      .select(col("ante"), col("cons"), col("supp_ab"), col("supp_ante"),
        col("supp_cons"),
        expr("supp_ab * 10000 div supp_ante").as("conf_e4"),
        expr("supp_ab * n_orders * 10000 div (supp_ante * supp_cons)").as("lift_e4"))
  }

  /** l-diversity audit — the sensitive-attribute complement of
    * [[aKAnonymity]]: within each quasi-identifier group (nation ×
    * account-balance band), how many DISTINCT market segments exist;
    * a group with l < 3 lets an attacker who pins the QI infer the
    * sensitive value with high confidence even when k is large. One
    * partial-agg'd distinct on the QI key. */
  private def aLDiversity(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "customer")
      .select(col("c_nationkey"),
        floor(col("c_acctbal") / 1000).cast("long").as("bal_bucket"),
        col("c_mktsegment"))
      .groupBy("c_nationkey", "bal_bucket")
      .agg(count(lit(1)).as("group_size"),
        countDistinct(col("c_mktsegment")).as("l_distinct"))
      .withColumn("at_risk", col("l_distinct") < 3)

  /** Right-to-be-forgotten cascade audit: a deterministic tombstone
    * set (every 97th customer) cascades through the FK graph —
    * orders via custkey, line items via the removed orders — and the
    * report is one row per table with total/removed/kept counts, the
    * evidence a deletion request handler files. Each cascade level is
    * a broadcast left-semi join (the tombstone frontier is always the
    * small side); nothing is rewritten here — the apply step is the
    * same anti-join with the audit's complement. */
  private def eForget(s: SparkSession, dir: String): DataFrame = {
    val cust = T(s, dir, "customer")
    val tomb = cust.filter(col("c_custkey") % 97 === 0).select(col("c_custkey"))
    val ord = T(s, dir, "orders")
    val ordRm = ord.join(broadcast(tomb),
      col("o_custkey") === col("c_custkey"), "left_semi")
    val li = T(s, dir, "lineitem")
    val liRm = li.join(
      broadcast(ordRm.select(col("o_orderkey").as("l_orderkey"))),
      Seq("l_orderkey"), "left_semi")
    def audit(name: String, total: DataFrame, removed: DataFrame): DataFrame =
      total.agg(count(lit(1)).as("n_rows"))
        .crossJoin(removed.agg(count(lit(1)).as("n_removed")))
        .select(lit(name).as("table_name"), col("n_rows"), col("n_removed"),
          (col("n_rows") - col("n_removed")).as("n_kept"))
    audit("customer", cust, tomb)
      .unionAll(audit("orders", ord, ordRm))
      .unionAll(audit("lineitem", li, liRm))
  }

  /** Incremental maintenance of an aggregated JOIN view — the full
    * four-term delta rule, not the single-table special case of
    * [[aTrendIncremental]]: with orders = Aₕ∪Aᵈ and lineitem =
    * Bₕ∪Bᵈ (both sides receiving deltas, split on independent keys),
    * the view V = Σ(A⋈B) decomposes as Aₕ⋈Bₕ + Aₕ⋈Bᵈ + Aᵈ⋈Bₕ +
    * Aᵈ⋈Bᵈ — each term partial-aggregated to the view key and merged
    * by plain summation. The oracle is the from-scratch full-join
    * aggregate, so the delta rule is PROVED on the gate (green only
    * if maintaining equals recomputing). Revenue in the exact e4
    * cents fixed point of a_important_parts. At 100 TB only the two
    * delta-sided terms touch fresh data; the hⱼoin-h term is
    * yesterday's materialization. */
  private def aMvJoinDelta(s: SparkSession, dir: String): DataFrame = {
    val ord = T(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority"),
      (col("o_orderkey") % 10 === 7).as("is_delta"))
    val li = T(s, dir, "lineitem").select(col("l_orderkey"), col("l_returnflag"),
      (expr("CAST(round(l_extendedprice * 100) AS BIGINT)") *
        (lit(100L) - expr("CAST(round(l_discount * 100) AS BIGINT)"))).as("rev_fx"),
      ((col("l_orderkey") + col("l_linenumber")) % 5 === 2).as("is_delta_l"))
    def term(o: DataFrame, l: DataFrame): DataFrame =
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"), col("l_returnflag"))
        .agg(count(lit(1)).as("n_items"), sum(col("rev_fx")).as("rev"))
    Seq(
      term(ord.filter(!col("is_delta")), li.filter(!col("is_delta_l"))),
      term(ord.filter(!col("is_delta")), li.filter(col("is_delta_l"))),
      term(ord.filter(col("is_delta")), li.filter(!col("is_delta_l"))),
      term(ord.filter(col("is_delta")), li.filter(col("is_delta_l"))))
      .reduce(_ unionAll _)
      .groupBy(col("o_orderpriority"), col("l_returnflag"))
      .agg(sum(col("n_items")).as("n_items"), sum(col("rev")).as("rev_fx"))
  }

  /** Time-series gap fill over the sparse high-value event series
    * (value > 300 fires on ~0.2% of events, so most (type, day) cells
    * are EMPTY): a generated day spine per observed type — bounds from
    * the full frame so both engines agree — left-joined to the
    * observations, then LOCF and linear interpolation from
    * ignore-nulls window anchors. Fill values stay in e4 fixed point;
    * interpolation is the a_ewma convention (exact integer anchors,
    * ONE double multiply-divide, round at emission — both engines
    * HALF_UP on positives). Leading gaps: LOCF stays null (nothing to
    * carry), interp falls back to the nearest anchor. The per-type
    * window partitions on the series key — no global window; spine
    * size is |types| × |days|, trivially partition-parallel. */
  private def aGapFill(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events")
    val days = ev.agg(
      expr("min(unix_micros(ts) div 86400000000)").as("min_day"),
      expr("max(unix_micros(ts) div 86400000000)").as("max_day"))
    val obs = ev.filter(col("value") > 300.0)
      .select(col("event_type"), expr("unix_micros(ts) div 86400000000").as("day"),
        expr("CAST(round(value * 10000) AS BIGINT)").as("v_fx"))
      .groupBy("event_type", "day").agg(max(col("v_fx")).as("v_fx"))
    val spine = obs.select("event_type").distinct()
      .crossJoin(broadcast(days))
      .select(col("event_type"),
        explode(sequence(col("min_day"), col("max_day"))).as("day"))
    val w = Window.partitionBy("event_type").orderBy("day")
    val wp = w.rowsBetween(Window.unboundedPreceding, -1)
    val wn = w.rowsBetween(1, Window.unboundedFollowing)
    spine.join(obs, Seq("event_type", "day"), "left")
      .withColumn("pv", last(col("v_fx"), ignoreNulls = true).over(wp))
      .withColumn("pd", last(when(col("v_fx").isNotNull, col("day")),
        ignoreNulls = true).over(wp))
      .withColumn("nv", first(col("v_fx"), ignoreNulls = true).over(wn))
      .withColumn("nd", first(when(col("v_fx").isNotNull, col("day")),
        ignoreNulls = true).over(wn))
      .select(col("event_type"), col("day"), col("v_fx"),
        coalesce(col("v_fx"), col("pv")).as("locf_fx"),
        when(col("v_fx").isNotNull, col("v_fx"))
          .when(col("pv").isNotNull && col("nv").isNotNull,
            expr("CAST(round(pv + (nv - pv) * (CAST(day - pd AS DOUBLE) / " +
              "CAST(nd - pd AS DOUBLE))) AS BIGINT)"))
          .otherwise(coalesce(col("pv"), col("nv"))).as("interp_fx"),
        col("v_fx").isNull.as("is_gap"))
  }

  /** The linear head's sigmoid score in e4 fixed point, with the
    * label — the shared input of [[sAuc]] and [[sCalibration]]
    * (identical model to [[sModelScore]]). */
  private def modelScoreE4(s: SparkSession, dir: String): DataFrame = {
    val w = array(ModelWeights.map(lit): _*)
    T(s, dir, "embeddings")
      .select(col("label"),
        (lit(1.0) / (lit(1.0) + exp(-(Similarity.dot(
          Similarity.asDouble(col("embedding")), w) + lit(0.1))))).as("p"))
      .select(col("label"), expr("CAST(round(p * 10000) AS BIGINT)").as("s_e4"))
  }

  /** One-vs-rest ROC-AUC of the linear head per label
    * ([[graft.ops.Eval.aucByLabel]] — exact integer rank-sum with
    * average-rank ties from a bounded score histogram; no row-level
    * window anywhere). */
  private def sAuc(s: SparkSession, dir: String): DataFrame =
    graft.ops.Eval.aucByLabel(modelScoreE4(s, dir))

  /** Reliability (calibration) table of the linear head against the
    * deterministic binary target label < 5
    * ([[graft.ops.Eval.calibration]], ten bins, all exact integer
    * arithmetic). */
  private def sCalibration(s: SparkSession, dir: String): DataFrame =
    graft.ops.Eval.calibration(modelScoreE4(s, dir), col("label") < 5)

  /** Two-proportion A/B test: users hash-split into variants by
    * parity, success = a heavy-purchaser flag (≥ 14 purchase events —
    * straddles the fixture median so neither arm degenerates), and
    * the report is one row with counts, exact e4 conversion rates and
    * the pooled two-proportion z statistic. Counts are one partial-agg
    * pass over per-user rollups; the z chain is the a_ewma convention
    * — exact integers until a SINGLE double expression (both engines
    * replay the identical IEEE sequence; correctly-rounded sqrt),
    * rounded at emission, with a mirrored guard for the degenerate
    * all/none-converted edge. */
  private def aAbtest(s: SparkSession, dir: String): DataFrame = {
    val users = T(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("np"))
      .select((col("user_id") % 2 === 0).as("in_a"),
        when(col("np") >= 14, 1L).otherwise(0L).as("conv"))
    val agg = users.groupBy("in_a").agg(count(lit(1)).as("n"), sum("conv").as("k"))
    agg.filter(col("in_a")).select(col("n").as("n_a"), col("k").as("k_a"))
      .crossJoin(agg.filter(!col("in_a")).select(col("n").as("n_b"), col("k").as("k_b")))
      .select(col("n_a"), col("k_a"), col("n_b"), col("k_b"),
        expr("k_a * 10000 div n_a").as("conv_a_e4"),
        expr("k_b * 10000 div n_b").as("conv_b_e4"),
        expr("""CASE WHEN k_a + k_b = 0 OR k_a + k_b = n_a + n_b THEN NULL
          ELSE round((CAST(k_a AS DOUBLE) / n_a - CAST(k_b AS DOUBLE) / n_b) /
            sqrt((CAST(k_a + k_b AS DOUBLE) / (n_a + n_b)) *
                 (1.0 - CAST(k_a + k_b AS DOUBLE) / (n_a + n_b)) *
                 (1.0 / n_a + 1.0 / n_b)), 4) END""").as("z"))
  }

  /** Revenue-concentration Gini over per-customer revenue, computed on
    * a 4096-bucket quantized distribution — the SCALE-SAFE form by
    * construction: bucketing (x·4096 ÷ (max+1), exact integers, max
    * broadcast) bounds the rank histogram at 4096 rows, so the
    * cumulative-rank window runs over a FIXED-size frame, never the
    * data (the p_zorder lesson applied at design time rather than
    * patched later). Within-bucket ties share a value, so the rank-sum
    * identity G = (2·Σ rank·x − (n+1)·Σx) / (n·Σx) is exact ON THE
    * QUANTIZED distribution — a well-defined statistic both engines
    * replay bit-for-bit; quantization error vs the unbucketed Gini is
    * O(1/4096) of the revenue range. The rank-sum S₂ and the
    * numerator stay exact longs (valid while 2n̄·total_revenue_fx <
    * 2⁶³ — comfortably past sf100; beyond that drop the fixed-point
    * scale); the FINAL ratio is one mirrored double chain
    * (numerator / n / t — correctly-rounded IEEE, identical order in
    * both engines) because numerator·10⁶ would overflow longs where
    * the numerator itself does not. */
  private def aGini(s: SparkSession, dir: String): DataFrame = {
    val rev = T(s, dir, "lineitem")
      .select(col("l_orderkey"),
        (expr("CAST(round(l_extendedprice * 100) AS BIGINT)") *
          (lit(100L) - expr("CAST(round(l_discount * 100) AS BIGINT)"))).as("rev_fx"))
      .join(T(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_custkey").agg(sum("rev_fx").as("x"))
    val mx = rev.agg(max(col("x")).as("mx"))
    val bucketed = rev.crossJoin(broadcast(mx))
      .select(expr("x * 4096 div (mx + 1)").as("b"), col("x"))
      .groupBy("b").agg(count(lit(1)).as("c"), sum("x").as("bx"))
    val starts = bucketed.withColumn("start",
      coalesce(sum(col("c")).over(
        Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)) + lit(1L))
    // all members of a bucket carry the bucket's MEAN value in the
    // quantized distribution; Σ rank·x over a tie group of equal
    // values is (mean value)·Σ ranks = (bx/c)·(c·start + c(c-1)/2)
    // = bx·start + bx·(c-1)/2 — kept integer by doubling: S2 = 2·Σ rank·x
    starts.agg(
      sum(col("c")).as("n"), sum(col("bx")).as("t"),
      sum(col("bx") * (lit(2L) * col("start") + col("c") - lit(1L))).as("s2"))
      .select(col("n"), col("t"),
        expr("round(CAST(s2 - (n + 1) * t AS DOUBLE) / n / t, 6)").as("gini"))
  }

  /** kNN classifier over the shared ANN query/store split: each query
    * vector takes the majority label of its 5 exact nearest
    * neighbors, ties broken by best (lowest) neighbor rank then label
    * — fully deterministic. Composes [[graft.ext.Similarity
    * .bruteForceTopK]] with a label join (broadcast — the label frame
    * is the store projected to two columns) and a per-query vote; the
    * per-query window runs over ≤ k rows. */
  private def sKnnClassify(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    val nn = Similarity.bruteForceTopK(emb, col("vec_id") < 8, 5)
    nn.join(emb.select(col("vec_id").as("neighbor_id"), col("label")), "neighbor_id")
      .groupBy(col("q_id"), col("label"))
      .agg(count(lit(1)).as("votes"), min("rnk").as("best_rnk"))
      .withColumn("rk", row_number().over(Window.partitionBy("q_id")
        .orderBy(col("votes").desc, col("best_rnk"), col("label"))))
      .filter(col("rk") === 1)
      .select(col("q_id"), col("label").as("pred_label"), col("votes"),
        col("best_rnk"))
  }

  /** Graded-ranking discounts 1/log₂(r+1) for ranks 1..10, fixed at
    * e6 so NDCG stays integer arithmetic — shared with the oracle
    * generator (the [[ModelWeights]] convention). */
  val NdcgDiscE6: Seq[Long] =
    (1 to 10).map(r => Math.round(1e6 * Math.log(2) / Math.log(r + 1.0)))

  /** Prefix sums of [[NdcgDiscE6]]: the ideal DCG when the first
    * min(n_rel, 10) positions are all relevant. */
  val NdcgIdcgE6: Seq[Long] = NdcgDiscE6.scanLeft(0L)(_ + _).tail

  /** Retrieval-quality report card — NDCG@10 and AP@10 per query over
    * the EXACT cosine top-10 (same ranked frame and tie-break every
    * ANN dial is audited against), with "relevant" = the neighbor
    * shares the query's label. Both metrics are pure integer
    * arithmetic: the log₂ discounts are e6-fixed literals
    * ([[NdcgDiscE6]]) and the ideal DCG is their prefix-sum literal
    * indexed at min(n_rel, 10), so no transcendental function runs in
    * either engine. The per-query window ranks ≤ 10 rows; n_rel comes
    * from a broadcast label-histogram join, so the whole plan is one
    * corpus scan + bounded per-query work — the shape that holds when
    * the query set is a panel of thousands against a 100 TB corpus. */
  private def sRankEval(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    val nn = Similarity.bruteForceTopK(emb, col("vec_id") < 8, 10)
    val qlab = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"))
    val corpusHist = emb.filter(col("vec_id") >= 8)
      .groupBy(col("label").as("q_label")).agg(count(lit(1)).as("n_rel"))
    val nrel = qlab.join(broadcast(corpusHist), Seq("q_label"), "left")
      .select(col("q_id"), col("q_label"),
        coalesce(col("n_rel"), lit(0L)).as("n_rel"))
    val disc = array(NdcgDiscE6.map(lit): _*)
    val idcgArr = array(NdcgIdcgE6.map(lit): _*)
    val lab = emb.select(col("vec_id").as("neighbor_id"),
      col("label").as("n_label"))
    val w = Window.partitionBy("q_id").orderBy("rnk")
      .rowsBetween(Window.unboundedPreceding, 0)
    nn.join(broadcast(lab), "neighbor_id")
      .join(broadcast(nrel), "q_id")
      .withColumn("rel", (col("n_label") === col("q_label")).cast("long"))
      .withColumn("hits", sum("rel").over(w))
      .withColumn("contrib", col("rel") * element_at(disc, col("rnk")))
      .withColumn("ap_term", col("rel") * expr("hits * 10000 div rnk"))
      .groupBy("q_id", "q_label", "n_rel")
      .agg(sum("rel").as("hits10"), sum("contrib").as("dcg_e6"),
        sum("ap_term").as("ap_sum_e4"))
      .withColumn("idcg_e6", when(col("n_rel") > 0,
        element_at(idcgArr, least(col("n_rel"), lit(10L)).cast("int"))))
      .select(col("q_id"), col("q_label"), col("n_rel"), col("hits10"),
        col("dcg_e6"), col("idcg_e6"),
        expr("CASE WHEN idcg_e6 IS NULL THEN NULL" +
          " ELSE dcg_e6 * 10000 div idcg_e6 END").as("ndcg_e4"),
        expr("CASE WHEN n_rel = 0 THEN NULL" +
          " ELSE ap_sum_e4 div least(n_rel, 10) END").as("ap_e4"))
  }

  /** χ² independence audit — is event volume independent of
    * day-of-week across event types? The contingency table densifies
    * to ALL row×column cells (a cross join of the two bounded margin
    * aggregates — absent combinations must contribute their expected
    * count), expected counts are exact truncating e4 fixed-point
    * (e = r·c·10⁴ div N), and each cell's (o−e)²/e lands in e4 via
    * ((o·10⁴−e_e4)² div (e_e4·10⁴)) — pure longs, safe to o ≈ 3·10⁵
    * per cell; beyond that the same chain widens to DECIMAL(38,0).
    * Plan: one scan → tiny margins → broadcast joins; the only
    * cross join is margins × margins (n_types·7 rows). The classic
    * pre-launch drift check a pipeline runs against its own history. */
  private def aChi2(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events").select(col("event_type"),
      expr("unix_micros(ts) div 86400000000 % 7").as("dow"))
    val obs = ev.groupBy("event_type", "dow").agg(count(lit(1)).as("o"))
    val rowT = obs.groupBy("event_type").agg(sum("o").as("r"))
    val colT = obs.groupBy("dow").agg(sum("o").as("c"))
    val tot = obs.agg(sum("o").as("n"),
      countDistinct("event_type").as("n_types"),
      countDistinct("dow").as("n_dows"))
    rowT.crossJoin(broadcast(colT))
      .join(obs, Seq("event_type", "dow"), "left")
      .withColumn("o", coalesce(col("o"), lit(0L)))
      .crossJoin(broadcast(tot))
      .withColumn("e_e4", expr("r * c * 10000 div n"))
      .withColumn("contrib_e4", expr(
        "CASE WHEN e_e4 = 0 THEN NULL ELSE" +
          " (o * 10000 - e_e4) * (o * 10000 - e_e4) div (e_e4 * 10000) END"))
      .groupBy("n", "n_types", "n_dows")
      .agg(sum("contrib_e4").as("chi2_e4"), max("contrib_e4").as("max_contrib_e4"))
      .select(col("n"), col("n_types"), col("n_dows"),
        ((col("n_types") - 1) * (col("n_dows") - 1)).as("dof"),
        col("chi2_e4"), col("max_contrib_e4"))
  }

  /** Longest consecutive-day activity streak per user — the classic
    * gaps-and-islands engagement metric. Distinct active days shrink
    * the frame first; islands come from the day − dense_rank trick
    * under a PER-USER window (no global sort anywhere), and the best
    * streak picks deterministically via a lexicographic struct max
    * (longest, then earliest start — encoded as max(len, −start)), so
    * the whole query is two partial-agg shuffles on user_id. At
    * 100 TB the distinct-day projection is the big win: the window
    * only ever sees one row per user-day. */
  private def aStreaks(s: SparkSession, dir: String): DataFrame = {
    val days = T(s, dir, "events").select(col("user_id"),
      expr("unix_micros(ts) div 86400000000").as("day")).distinct()
    val w = Window.partitionBy("user_id").orderBy("day")
    val st = days.withColumn("grp", col("day") - dense_rank().over(w))
      .groupBy("user_id", "grp")
      .agg(count(lit(1)).as("len"), min("day").as("start_day"))
    st.groupBy("user_id")
      .agg(sum("len").as("n_active_days"), count(lit(1)).as("n_streaks"),
        max(struct(col("len"), (-col("start_day")).as("ns"))).as("b"))
      .select(col("user_id"), col("n_active_days"), col("n_streaks"),
        col("b.len").as("best_len"), (-col("b.ns")).as("best_start_day"))
  }

  /** RAKE keyword extraction (Rose et al. 2010) over the document
    * corpus: candidate phrases are maximal runs of non-stopword
    * tokens (the tiny shared en stopword list — the corpus's own
    * lang-id convention), word degree/frequency accumulate over
    * phrase members, word score = deg·10⁴ div freq (exact), and a
    * phrase scores as the sum of its members' scores. Islands come
    * from pos − row_number under a PER-DOC window; phrase text
    * re-assembles order-deterministically via array_sort over
    * (pos, token) structs. The global top-30 is orderBy+limit —
    * Spark plans TakeOrderedAndProject (per-partition heads, one
    * merge), never a full sort. Word-score join is a broadcast (the
    * vocabulary aggregate). */
  private def tRake(s: SparkSession, dir: String): DataFrame = {
    val stop = Seq("the", "and", "of", "to", "is", "in", "a")
    val toks = T(s, dir, "documents").select(col("doc_id"),
      filter(split(lower(trim(col("text"))), "\\s+"),
        t => length(t) > 0).as("tk"))
    val pt = toks.select(col("doc_id"),
      posexplode(col("tk")).as(Seq("pos0", "t")))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("t"))
    val ns = pt.filter(!col("t").isin(stop: _*))
      .withColumn("grp", col("pos") -
        row_number().over(Window.partitionBy("doc_id").orderBy("pos")))
    val ph = ns.groupBy("doc_id", "grp").agg(count(lit(1)).as("plen"),
      concat_ws(" ", transform(
        array_sort(collect_list(struct(col("pos"), col("t")))),
        x => x.getField("t"))).as("phrase"))
    val ws = ns.join(ph.select("doc_id", "grp", "plen"), Seq("doc_id", "grp"))
      .groupBy("t").agg(count(lit(1)).as("freq"), sum("plen").as("deg"))
      .withColumn("wscore_e4", expr("deg * 10000 div freq"))
    val pscore = ns.join(broadcast(ws.select("t", "wscore_e4")), "t")
      .groupBy("doc_id", "grp").agg(sum("wscore_e4").as("score_e4"))
    ph.join(pscore, Seq("doc_id", "grp"))
      .groupBy("phrase").agg(max("plen").as("n_words"),
        count(lit(1)).as("n_occ"), max("score_e4").as("score_e4"))
      .orderBy(col("score_e4").desc, col("phrase")).limit(30)
  }

  /** Data-contract audit — the declarative "assert before you train"
    * gate: every ingest contract rule (range, enum membership,
    * non-null, key uniqueness, referential integrity) evaluates to a
    * violation count. The plan is the point: all rules of one table
    * fold into ONE conditional-aggregate scan of that table
    * (sum(CASE) per rule), the per-table vectors unpivot with stack(),
    * and the single cross-table rule (lineitem→orders FK) is a
    * broadcast-able anti-join count — so the audit costs exactly one
    * pass per audited table at 100 TB, not one pass per rule. */
  private def pContractAudit(s: SparkSession, dir: String): DataFrame = {
    def viol(c: Column) = sum(c.cast("long"))
    val li = T(s, dir, "lineitem").agg(
      count(lit(1)).as("n"),
      viol(col("l_quantity") < 1 || col("l_quantity") > 50).as("v1"),
      viol(col("l_discount") < 0 || col("l_discount") > 0.1).as("v2"),
      viol(col("l_shipdate").isNull).as("v3"))
      .select(lit("lineitem").as("table_name"), col("n"), expr(
        "stack(3, 'qty_in_1_50', v1, 'discount_in_0_01', v2," +
          " 'shipdate_not_null', v3) AS (rule, n_violations)"))
    val ord = T(s, dir, "orders").agg(
      count(lit(1)).as("n"),
      viol(col("o_totalprice") <= 0).as("v1"),
      viol(!col("o_orderstatus").isin("O", "F", "P")).as("v2"),
      (count(lit(1)) - countDistinct(col("o_orderkey"))).as("v3"))
      .select(lit("orders").as("table_name"), col("n"), expr(
        "stack(3, 'totalprice_positive', v1, 'status_enum', v2," +
          " 'orderkey_unique', v3) AS (rule, n_violations)"))
    val ev = T(s, dir, "events").agg(
      count(lit(1)).as("n"),
      viol(col("value").isNull).as("v1"),
      viol(col("user_id") < 0).as("v2"),
      viol(length(col("event_type")) === 0 || col("event_type").isNull).as("v3"))
      .select(lit("events").as("table_name"), col("n"), expr(
        "stack(3, 'value_not_null', v1, 'user_id_nonneg', v2," +
          " 'event_type_nonempty', v3) AS (rule, n_violations)"))
    val fk = T(s, dir, "lineitem").select(col("l_orderkey"))
      .join(T(s, dir, "orders").select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("n_violations"))
      .select(lit("lineitem").as("table_name"), lit(null).cast("long").as("n"),
        lit("orderkey_fk").as("rule"), col("n_violations"))
    li.unionByName(ord).unionByName(ev)
      .select(col("table_name"), col("n"), col("rule"), col("n_violations"))
      .unionByName(fk)
      .withColumn("pass", col("n_violations") === 0)
  }

  /** CUSUM changepoint statistics over the per-type daily value
    * series — the classical drift detector (Page 1954) in its
    * CLOSED-FORM prefix expression: S⁺ₜ = max(0, S⁺ₜ₋₁ + xₜ − μ − κ)
    * expands to Pₜ − min(0, min_{j≤t} Pⱼ) over the prefix sums of
    * d = x − μ − κ, so the sequential recurrence becomes two plain
    * running windows per series key (sum + min) — no fold, no
    * collect, partition-parallel across types. μ is the per-type
    * daily mean (exact truncating division — in production the
    * persisted target the calibration batch wrote, the
    * a_trend_incremental scalar convention); allowance κ = μ/50,
    * alarm threshold h = μ/10. Everything exact longs; alarms on
    * both shift directions. [[graft.streaming.StreamingCusum]] keeps
    * exactly (P, min P, Q, min Q) as state and agrees row-for-row on
    * ordered replay (spec-pinned). */
  private def aCusum(s: SparkSession, dir: String): DataFrame = {
    val daily = T(s, dir, "events")
      .select(col("event_type"), expr("unix_micros(ts) div 86400000000").as("day"),
        expr("CAST(round(value * 10000) AS BIGINT)").as("v_fx"))
      .groupBy("event_type", "day").agg(sum("v_fx").as("x"))
    val mu = daily.groupBy("event_type").agg(expr("sum(x) div count(1)").as("mu"))
    val w = Window.partitionBy("event_type").orderBy("day")
    val wc = w.rowsBetween(Window.unboundedPreceding, 0)
    daily.join(broadcast(mu), "event_type")
      .withColumn("d", col("x") - col("mu") - expr("mu div 50"))
      .withColumn("e", col("mu") - expr("mu div 50") - col("x"))
      .withColumn("p", sum(col("d")).over(wc))
      .withColumn("q", sum(col("e")).over(wc))
      .withColumn("sp", col("p") - least(min(col("p")).over(wc), lit(0L)))
      .withColumn("sn", col("q") - least(min(col("q")).over(wc), lit(0L)))
      .select(col("event_type"), col("day"), col("x"),
        col("sp").as("sp_fx"), col("sn").as("sn_fx"),
        (col("sp") > expr("mu div 10")).as("alarm_up"),
        (col("sn") > expr("mu div 10")).as("alarm_down"))
  }


  /** Zipf-law fit of the term-frequency distribution — the corpus
    * health check ("does this scrape look like natural language?")
    * read before mixing a source in. OLS of ln(freq) on ln(midrank)
    * over the FREQUENCY HISTOGRAM: ranks come from the count-of-counts
    * frame (cumulative window over distinct frequencies — a frame
    * bounded far below vocabulary size, Zipf itself guarantees few
    * distinct counts), each tie group contributing its weight c at its
    * midrank, so no token-level rank window ever runs. Logs are fixed
    * to e4 ONCE per group (ln agrees across engines at this rounding —
    * the t_bigram_lm convention), then the moments are exact weighted
    * longs and the slope/intercept projection is the a_trend double
    * order. Natural text → slope ≈ −1. Long bound: n·x̄·ȳ < 2⁶³
    * holds to ~10⁸ vocabulary at e4 scale. */
  /** Vocabulary-coverage curve — the tokenizer-budget table: what
    * fraction of all token OCCURRENCES the top-N vocabulary covers,
    * probed at six literal budgets. Rides the count-of-counts
    * histogram (the t_zipf frame): a frequency tie-group occupies
    * ranks [start, start+c) with mass cnt·c, so coverage at N is
    * cum-mass-before + cnt·(N−start+1) for the one group containing
    * rank N — well-defined regardless of which tied tokens are kept,
    * hence engine-exact with no token-level ranking anywhere. Budgets
    * past the vocabulary coalesce to full mass. The probe is a 6-row
    * broadcast range-join against the bounded histogram (the a_lorenz
    * shape). Long budget: total occurrences ·10⁶ < 2⁶³ (~9·10¹²
    * tokens); past that drop the coverage scale to e4. */
  private def tNgramCoverage(s: SparkSession, dir: String): DataFrame = {
    val tf = T(s, dir, "documents")
      .select(explode(Codecs.tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
    val hist = tf.groupBy("cnt").agg(count(lit(1)).as("c"))
    val wPrev = Window.orderBy(col("cnt").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val starts = hist
      .withColumn("start", coalesce(sum(col("c")).over(wPrev), lit(0L)) + lit(1L))
      .withColumn("mass_before", coalesce(sum(col("cnt") * col("c")).over(wPrev), lit(0L)))
    val tot = hist.agg(sum(col("cnt") * col("c")).as("m_tot"),
      sum(col("c")).as("v_tot"))
    val ns = s.range(0, 6)
      .select(expr("CAST(1000 * (1 << CAST(id AS INT)) AS BIGINT)").as("n_vocab"))
    broadcast(ns)
      .join(starts, expr("n_vocab >= start AND n_vocab < start + c"), "left_outer")
      .crossJoin(broadcast(tot))
      .select(col("n_vocab"),
        least(col("n_vocab"), col("v_tot")).as("n_kept"),
        coalesce(col("mass_before") + col("cnt") * (col("n_vocab") - col("start") + 1),
          col("m_tot")).as("mass"),
        col("m_tot"))
      .select(col("n_vocab"), col("n_kept"), col("mass"),
        expr("mass * 1000000 div m_tot").as("coverage_e6"))
  }

  private def tZipf(s: SparkSession, dir: String): DataFrame = {
    val tf = T(s, dir, "documents")
      .select(explode(Codecs.tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
    val hist = tf.groupBy("cnt").agg(count(lit(1)).as("c"))
    val starts = hist.withColumn("start",
      coalesce(sum(col("c")).over(Window.orderBy(col("cnt").desc)
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)) + lit(1L))
    val pts = starts.select(col("c"),
      expr("CAST(round(ln((2 * start + c - 1) / 2.0) * 10000) AS BIGINT)").as("x"),
      expr("CAST(round(ln(CAST(cnt AS DOUBLE)) * 10000) AS BIGINT)").as("y"))
    pts.agg(sum(col("c")).as("n"),
        sum(col("c") * col("x")).as("sx"), sum(col("c") * col("y")).as("sy"),
        sum(col("c") * col("x") * col("y")).as("sxy"),
        sum(col("c") * col("x") * col("x")).as("sxx"))
      .select(col("n").as("n_vocab"),
        expr("""round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
          (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx), 4)""").as("slope"),
        expr("""round((CAST(sy AS DOUBLE) -
          (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
          (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) * sx) / n / 10000.0,
          4)""").as("intercept"))
  }

  /** Robust (median/MAD) outlier days per event-type series — the
    * point-anomaly complement of [[aCusum]]'s sustained-shift
    * detector. Medians stay EXACT integers by doubling: med2 = the
    * two middle order statistics summed (equal when n is odd), dev2 =
    * |2x − med2| = 2·|x − med|, and mad4 = the doubled median of dev2
    * = 4·MAD — so the flag |x − med| > 3·MAD is the pure integer
    * comparison 2·dev2 > 3·mad4, no half-steps ever materialize. Rank
    * windows partition on the series key over day-bounded frames (the
    * a_cusum shape); the two per-type medians broadcast back. */
  private def aAnomalyMad(s: SparkSession, dir: String): DataFrame = {
    val daily = T(s, dir, "events")
      .select(col("event_type"), expr("unix_micros(ts) div 86400000000").as("day"),
        expr("CAST(round(value * 10000) AS BIGINT)").as("v_fx"))
      .groupBy("event_type", "day").agg(sum("v_fx").as("x"))
    val wn = Window.partitionBy("event_type")
    def med2Of(df: DataFrame, v: String): DataFrame =
      df.withColumn("r", row_number().over(
          Window.partitionBy("event_type").orderBy(col(v), col("day"))))
        .withColumn("n", count(lit(1)).over(wn))
        .groupBy("event_type")
        .agg(sum(
          when(col("r") === expr("(n + 1) div 2"), col(v)).otherwise(0L) +
          when(col("r") === expr("(n + 2) div 2"), col(v)).otherwise(0L)).as("m2"))
    val med = med2Of(daily, "x").withColumnRenamed("m2", "med2")
    val dev = daily.join(broadcast(med), "event_type")
      .withColumn("dev2", abs(col("x") * 2 - col("med2")))
    val mad = med2Of(dev, "dev2").withColumnRenamed("m2", "mad4")
    dev.join(broadcast(mad), "event_type")
      .select(col("event_type"), col("day"), col("x"), col("med2"), col("mad4"),
        (col("dev2") * 2 > col("mad4") * 3).as("is_outlier"))
  }

  /** Snapshot diff — the versioned-table audit (what changed between
    * yesterday's and today's extract): two deterministic views of
    * orders play the snapshots (old drops every 13th key; new drops
    * every 17th and bumps every 7th key's total by 1.00), and the
    * report is one row per status — added / removed / changed /
    * unchanged — with counts and the changed rows' total absolute
    * delta in exact cents. ONE key-partitioned full outer join (the
    * sort-merge shape that scales to any snapshot pair co-partitioned
    * on the key), then a 4-group partial agg. */
  private def eSnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val ord = T(s, dir, "orders").select(col("o_orderkey"),
      expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("p_fx"))
    val old = ord.filter(col("o_orderkey") % 13 =!= 0)
      .select(col("o_orderkey").as("k_old"), col("p_fx").as("p_old"))
    val neu = ord.filter(col("o_orderkey") % 17 =!= 0)
      .select(col("o_orderkey").as("k_new"),
        (col("p_fx") + when(col("o_orderkey") % 7 === 0, 100L).otherwise(0L))
          .as("p_new"))
    old.join(neu, col("k_old") === col("k_new"), "full_outer")
      .select(
        when(col("k_old").isNull, "added")
          .when(col("k_new").isNull, "removed")
          .when(col("p_old") =!= col("p_new"), "changed")
          .otherwise("unchanged").as("status"),
        coalesce(abs(col("p_new") - col("p_old")), lit(0L)).as("adelta"))
      .groupBy("status")
      .agg(count(lit(1)).as("n"), sum(col("adelta")).as("sum_abs_delta_fx"))
  }

  /** Recall audit of every graduated search-quality ANN dial (plus
    * the binary-code variant) against the exact top-3 — the bench
    * harness's recall@3 graduated INTO the oracle gate: each
    * variant's ranking re-derives in-query, joins the brute-force
    * top-3 on (query, neighbor), and the per-query hit counts and e4
    * recalls are exact integers. The DuckDB oracle replays EVERY
    * chain end-to-end, so the measured search quality of each shipped
    * dial is cross-engine verified, not just reported. */
  private def sAnnRecallAudit(s: SparkSession, dir: String): DataFrame = {
    val brute = sAnnBrute(s, dir).filter(col("rnk") <= 3)
      .select(col("q_id"), col("neighbor_id"))
    val allQ = brute.select(col("q_id")).distinct()
    def audit(name: String, df: DataFrame): DataFrame = {
      val hits = brute.join(
          df.filter(col("rnk") <= 3).select(col("q_id"), col("neighbor_id")),
          Seq("q_id", "neighbor_id"), "left_semi")
        .groupBy("q_id").agg(count(lit(1)).as("hits"))
      allQ.join(hits, Seq("q_id"), "left_outer")
        .select(lit(name).as("variant"), col("q_id"),
          coalesce(col("hits"), lit(0L)).as("hits"))
        .withColumn("recall_e4", expr("hits * 10000 div 3"))
    }
    Seq(
      audit("s_ann_hamming", sAnnHamming(s, dir)),
      audit("s_ann_lsh_mp4", sAnnLshMp4(s, dir)),
      audit("s_ann_ivf_mp4", sAnnIvfMp4(s, dir)),
      audit("s_ann_pq_rerank64", sAnnPqRerank64(s, dir)),
      audit("s_ann_sq8", sAnnSq8(s, dir)))
      .reduce(_ unionAll _)
  }

  /** Recall@k curve (k = 1..5) of the binary sign-code ANN against
    * the exact cosine top-5 — the dial-calibration TABLE behind the
    * scalar recall@3 audit: an operator picks k by reading this, not
    * by re-running the index. A matched (brute, hamming) neighbor
    * first counts at k = max(rnk_b, rnk_h), so the whole curve is one
    * cumulative probe over the ≤ 5-row histogram of that max — the
    * two top-5 frames join ONCE, never re-ranked per k. Hits and the
    * e4 recalls are exact integers (denominator k·n_q). */
  private def sRecallCurve(s: SparkSession, dir: String): DataFrame = {
    val brute = sAnnBrute(s, dir).filter(col("rnk") <= 5)
      .select(col("q_id"), col("neighbor_id"), col("rnk").cast("long").as("rnk_b"))
    val ham = sAnnHamming(s, dir).filter(col("rnk") <= 5)
      .select(col("q_id"), col("neighbor_id"), col("rnk").cast("long").as("rnk_h"))
    val hist = brute.join(ham, Seq("q_id", "neighbor_id"))
      .select(greatest(col("rnk_b"), col("rnk_h")).as("m"))
      .groupBy("m").agg(count(lit(1)).as("c"))
    val nq = brute.agg(countDistinct(col("q_id")).as("n_q"))
    val ks = s.range(1, 6).select(col("id").as("k"))
    ks.join(hist, col("m") <= col("k"), "left_outer")
      .groupBy("k").agg(sum(col("c")).as("h0"))
      .crossJoin(broadcast(nq))
      .select(col("k"), expr("coalesce(h0, 0L)").as("hits"),
        expr("coalesce(h0, 0L) * 10000 div (k * n_q)").as("recall_e4"))
  }

  /** Expected Benford first-digit frequencies in e6 fixed point —
    * shared with the oracle generator so both engines compare against
    * the identical constants (the ModelWeights convention). */
  val BenfordE6: Seq[Long] =
    (1 to 9).map(d => math.round(math.log10(1.0 + 1.0 / d) * 1e6))

  /** Benford's-law first-digit audit over order totals — the
    * fabricated-data / extraction-bug smoke test a finance-shaped
    * table gets on ingest: observed leading-digit frequencies vs the
    * log₁₀(1+1/d) expectation, both in e6 fixed point, one partial-agg
    * pass. The leading digit comes from the exact cents integer via
    * string head (no float log in the data path); expected values are
    * inlined literals from [[BenfordE6]]. */
  private def aBenford(s: SparkSession, dir: String): DataFrame = {
    val exp = BenfordE6.zipWithIndex
      .map { case (e, i) => struct(lit(i + 1L).as("digit"), lit(e).as("expected_e6")) }
    val expDf = T(s, dir, "orders").sparkSession.range(1)
      .select(explode(array(exp: _*)).as("x"))
      .select(col("x.digit").as("digit"), col("x.expected_e6").as("expected_e6"))
    val tot = T(s, dir, "orders").agg(count(lit(1)).as("n_tot"))
    val counts = T(s, dir, "orders")
      .select(expr(
        "CAST(substring(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS STRING), 1, 1) AS BIGINT)")
        .as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
    expDf.join(counts, Seq("digit"), "left_outer")
      .select(col("digit"), coalesce(col("n"), lit(0L)).as("n"),
        col("expected_e6"))
      .crossJoin(broadcast(tot))
      .select(col("digit"), col("n"),
        expr("n * 1000000 div n_tot").as("freq_e6"),
        col("expected_e6"),
        (expr("n * 1000000 div n_tot") - col("expected_e6")).as("delta_e6"))
  }

  /** Degree assortativity of the purchase graph — one Pearson
    * correlation over the directed edge list of endpoint degrees
    * (negative = hubs attach to leaves, the dominant bipartite
    * trade-network shape). Exact integer moments (two broadcast
    * degree joins onto the shared cached edge frame), then the single
    * mirrored double chain with correctly-rounded sqrt. */
  private def gAssortativity(s: SparkSession, dir: String): DataFrame = {
    val e = purchaseEdges(s, dir)
    val deg = e.groupBy("src").agg(count(lit(1)).as("degree"))
    val pairs = e
      .join(deg.select(col("src"), col("degree").as("dx")), "src")
      .join(deg.select(col("src").as("dst"), col("degree").as("dy")), "dst")
      .select(col("dx"), col("dy"))
    pairs.agg(count(lit(1)).as("n"), sum("dx").as("sx"), sum("dy").as("sy"),
        sum(col("dx") * col("dy")).as("sxy"),
        sum(col("dx") * col("dx")).as("sxx"),
        sum(col("dy") * col("dy")).as("syy"))
      .select(col("n").as("n_edges"),
        expr("""round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
          sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) *
               (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 6)""")
          .as("assortativity"))
  }

  /** Kneser–Ney smoothed bigram probabilities (D = 3/4) for the top-50
    * corpus bigrams — the LM-quality depth behind the add-one model of
    * t_bigram_lm: p(w₂|w₁) = max(c₁₂−D,0)/c₁ + D·N₁₊(w₁·)/c₁ ·
    * N₁₊(·w₂)/N_types. With D = 3/4 everything is quarters, so the
    * e6 emission is TWO truncating divisions of exact longs (term
    * split keeps 4·c₁₂·N_types·10⁶ out of the product — exact while
    * 3·N₁₊(w₁·)·N₁₊(·w₂)·10⁶ < 2⁶³, i.e. continuation fan-ins to
    * ~10⁵·10⁵; the single-denominator form would overflow first).
    * Three partial aggs over the shared cached bigram substrate +
    * one TakeOrdered — no window. Hand-replica spec pins the exact
    * quarters arithmetic against independently computed KN values. */
  private def tBigramKn(s: SparkSession, dir: String): DataFrame =
    kneserNeyTop(TextOps.bigramOccurrences(T(s, dir, "documents")), 50)

  /** The KN arithmetic over a (doc_id, s) bigram-occurrence frame —
    * the FULL probability frame (w1, w2, c12, p_kn_e6), factored so
    * the spec can feed a hand corpus and so the trigram model can
    * interpolate against it. */
  private[graft] def kneserNeyProbs(occ: DataFrame): DataFrame =
    // two registry rows consume this frame (the bigram top-k and the
    // trigram interpolation's lower-order model) — materialize once,
    // the bigram-lm convention
    PlanCache.cached("kn-bigram-probs", occ)(kneserNeyProbsUncached(occ))

  private def kneserNeyProbsUncached(occ: DataFrame): DataFrame = {
    // aggregate on the raw shingle STRING first (map-side combine over
    // the occurrence stream), split once per DISTINCT bigram after
    val c = occ.groupBy("s").agg(count(lit(1)).as("c12"))
      .select(element_at(split(col("s"), " "), 1).as("w1"),
        element_at(split(col("s"), " "), 2).as("w2"), col("c12"))
    val byW1 = c.groupBy("w1").agg(sum("c12").as("c1"), count(lit(1)).as("n1f"))
    val byW2 = c.groupBy("w2").agg(count(lit(1)).as("n1p"))
    val nb = c.agg(count(lit(1)).as("nbt"))
    c.join(byW1, "w1").join(byW2, "w2").crossJoin(broadcast(nb))
      .select(col("w1"), col("w2"), col("c12"),
        expr("""greatest(4 * c12 - 3, 0) * 1000000 div (4 * c1) +
          3 * n1f * n1p * 1000000 div (4 * c1 * nbt)""").as("p_kn_e6"))
  }

  private[graft] def kneserNeyTop(occ: DataFrame, k: Int): DataFrame =
    kneserNeyProbs(occ)
      .orderBy(col("c12").desc, col("w1"), col("w2"))
      .limit(k)

  /** Interpolated TRIGRAM Kneser–Ney (D = 3/4) for the top-50 corpus
    * trigrams: p(w₃|w₁w₂) = max(c₁₂₃−D,0)/c₁₂ + D·N₁₊(w₁w₂·)/c₁₂ ·
    * p_KN(w₃|w₂), with the SHIPPED bigram KN model
    * ([[kneserNeyProbs]]) as the lower order — the interpolation
    * composes already-truncated e6 probabilities through one more
    * truncating division (a well-defined statistic both engines
    * replay identically; each step exact longs). A trigram always
    * contains its (w₂,w₃) bigram, so the lower-order join never
    * drops rows. Four partial aggs + one TakeOrdered, no window. */
  private def tTrigramKn(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    // project the token array FIRST: shingles references its input
    // n+2 times, and an inlined tokens(text) would re-tokenize per
    // reference (measured 20× on the corpus scan — BASELINE.md)
    val occ3 = docs.select(Codecs.tokens(col("text")).as("tk"))
      .select(explode(graft.codec.Codecs.shingles(col("tk"), 3)).as("s"))
    val tri = occ3.groupBy("s").agg(count(lit(1)).as("c123"))
      .select(element_at(split(col("s"), " "), 1).as("w1"),
        element_at(split(col("s"), " "), 2).as("w2"),
        element_at(split(col("s"), " "), 3).as("w3"), col("c123"))
    val byCtx = tri.groupBy("w1", "w2")
      .agg(sum("c123").as("c12ctx"), count(lit(1)).as("n1f12"))
    val lower = kneserNeyProbs(TextOps.bigramOccurrences(docs))
      .select(col("w1").as("w2"), col("w2").as("w3"),
        col("p_kn_e6").as("p_lo_e6"))
    tri.join(byCtx, Seq("w1", "w2")).join(lower, Seq("w2", "w3"))
      .select(col("w1"), col("w2"), col("w3"), col("c123"),
        expr("""greatest(4 * c123 - 3, 0) * 1000000 div (4 * c12ctx) +
          3 * n1f12 * p_lo_e6 div (4 * c12ctx)""").as("p_kn3_e6"))
      .orderBy(col("c123").desc, col("w1"), col("w2"), col("w3"))
      .limit(50)
  }

  /** Entity-resolution blocking join over the part-name dictionary —
    * the classic record-linkage shape: candidate pairs come ONLY from
    * shared blocks (first token — the LSH-band principle applied to
    * strings), then the expensive edit-distance verify runs on the
    * blocked pairs alone, never all-pairs. Levenshtein is a built-in
    * with identical unit-cost semantics in both engines; dist ≤ 3
    * keeps the near-name pairs. A skewed mega-block would cap via the
    * DfCap convention (the gram-join dial). The dictionary is
    * distinct-name-sized — at 100 TB the same plan runs on the
    * deduplicated name dimension, not the fact table. */
  private def dBlockingJoin(s: SparkSession, dir: String): DataFrame = {
    val names = T(s, dir, "part").select(col("p_name")).distinct()
      .select(col("p_name"), element_at(split(col("p_name"), " "), 1).as("blk"))
    names.select(col("blk"), col("p_name").as("name_a"))
      .join(names.select(col("blk"), col("p_name").as("name_b")), "blk")
      .filter(col("name_a") < col("name_b"))
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist") <= 3)
      .select(col("name_a"), col("name_b"), col("dist").cast("long").as("dist"))
  }

  /** Trailing 15-day rolling median of the per-type daily value
    * series — the robust level estimate behind [[aAnomalyMad]]'s
    * full-series audit, in the STREAMABLE bounded form (the EWMA
    * bounded-frame convention): the window holds ≤ 15 rows, so the
    * doubled median (two middle order statistics summed — exact
    * longs, no half-steps) comes from sorting the collected frame
    * array per row, and [[graft.streaming.StreamingRollingMedian]]
    * keeps exactly those 15 (day, value) pairs as state and agrees
    * row-for-row on ordered replay (spec-pinned). Windows partition
    * on the series key; the frame bound is the state bound. */
  private def aRollingMedian(s: SparkSession, dir: String): DataFrame = {
    val daily = T(s, dir, "events")
      .select(col("event_type"), expr("unix_micros(ts) div 86400000000").as("day"),
        expr("CAST(round(value * 10000) AS BIGINT)").as("v_fx"))
      .groupBy("event_type", "day").agg(sum("v_fx").as("x"))
    val w = Window.partitionBy("event_type").orderBy("day").rowsBetween(-14, 0)
    daily
      .withColumn("frame", sort_array(collect_list(col("x")).over(w)))
      .select(col("event_type"), col("day"), col("x"),
        size(col("frame")).cast("long").as("n_window"),
        (element_at(col("frame"), expr("CAST((size(frame) + 1) div 2 AS INT)")) +
          element_at(col("frame"), expr("CAST((size(frame) + 2) div 2 AS INT)")))
          .as("med2_roll"))
  }

  /** Semi-structured property extraction — the JSON-payload leg every
    * event pipeline has: `props` parses with a JSON-path expression
    * (codegen'd `get_json_object`, no UDF), unparseable payloads are
    * COUNTED rather than dropped (the audit column a schema-drift
    * alarm watches), and the typed value aggregates per event type in
    * exact longs. One partial-agg pass; at 100 TB the parse runs
    * inside the scan's whole-stage codegen. */
  private def aPropsExtract(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "events")
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("k").isNull.cast("long")).as("n_unparsed"),
        sum(coalesce(col("k"), lit(0L))).as("sum_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"),
        countDistinct(col("k")).as("n_distinct_k"))

  /** Precision–recall curve of the linear head against the label < 5
    * target at 21 fixed thresholds (step 0.05) — the operating-point
    * table read before picking a filter cutoff; completes the
    * [[graft.ops.Eval]] family (AUC ranks, calibration reliability,
    * PR operating points). Everything derives from the BOUNDED score
    * histogram (threshold × distinct-score fan-out ≤ 21·10001 rows,
    * data touched once); TP/FP/FN and the e4 ratios are exact
    * integers, with a mirrored NULL guard where a high threshold
    * predicts nothing. */
  private def sPrCurve(s: SparkSession, dir: String): DataFrame = {
    val scored = modelScoreE4(s, dir)
      .select(col("s_e4"), (col("label") < 5).cast("long").as("pos"))
    val hist = scored.groupBy("s_e4").agg(count(lit(1)).as("c"), sum("pos").as("cp"))
    val thr = s.range(0, 21).select((col("id") * 500L).as("t"))
    val tot = scored.agg(count(lit(1)).as("n_tot"), sum("pos").as("n_pos"))
    hist.crossJoin(broadcast(thr))
      .filter(col("s_e4") >= col("t"))
      .groupBy("t").agg(sum("c").as("n_pred"), sum("cp").as("tp"))
      .join(thr, Seq("t"), "right_outer")
      .select(col("t"), coalesce(col("n_pred"), lit(0L)).as("n_pred"),
        coalesce(col("tp"), lit(0L)).as("tp"))
      .crossJoin(broadcast(tot))
      .select(col("t"), col("n_pred"), col("tp"),
        (col("n_pred") - col("tp")).as("fp"),
        (col("n_pos") - col("tp")).as("fn"),
        expr("CASE WHEN n_pred = 0 THEN NULL ELSE tp * 10000 div n_pred END")
          .as("precision_e4"),
        expr("tp * 10000 div n_pos").as("recall_e4"),
        expr("2 * tp * 10000 div (n_pred + n_pos)").as("f1_e4"))
  }

  /** Area under the precision–recall curve — EXACT average precision
    * over ALL distinct operating points, not the 21-threshold table
    * of [[sPrCurve]]: AP = Σ ΔTP·(TP/n_pred) over the score
    * histogram's cumulative sweep, every term an integer (e6 per-term
    * truncation mirrored in the oracle). The only window orders the
    * BOUNDED histogram (≤ 10001 rows by the e4 score domain — the
    * s_auc convention: windows above aggregates, never above the
    * data), so the plan is scan → partial agg → tiny sweep at any
    * scale. Also reports the best-F1 operating point via a
    * lexicographic struct max (highest F1, then highest threshold). */
  private def sPrAuc(s: SparkSession, dir: String): DataFrame = {
    val scored = modelScoreE4(s, dir)
      .select(col("s_e4"), (col("label") < 5).cast("long").as("pos"))
    val hist = scored.groupBy("s_e4")
      .agg(count(lit(1)).as("c"), sum("pos").as("cp"))
    val tot = scored.agg(count(lit(1)).as("n"), sum("pos").as("n_pos"))
    val w = Window.orderBy(col("s_e4").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    hist.withColumn("tp", sum("cp").over(w))
      .withColumn("n_pred", sum("c").over(w))
      .crossJoin(broadcast(tot))
      .withColumn("term_e6", col("cp") * expr("tp * 1000000 div n_pred"))
      .withColumn("f1_e4", expr("2 * tp * 10000 div (n_pred + n_pos)"))
      .groupBy("n", "n_pos")
      .agg(count(lit(1)).as("n_thresholds"),
        expr("sum(term_e6) div max(n_pos)").as("ap_e6"),
        max(struct(col("f1_e4"), col("s_e4"))).as("b"))
      .select(col("n"), col("n_pos"), col("n_thresholds"), col("ap_e6"),
        col("b.f1_e4").as("best_f1_e4"), col("b.s_e4").as("best_f1_thr_e4"))
  }

  /** Cluster-quality report over the label clustering in EXACT
    * integer geometry: embeddings quantize to e4 longs (translation-
    * free squared distances stay exact), per-label centroids are
    * truncating-mean vectors, cohesion is the mean member→centroid
    * squared distance and separation the nearest other-centroid
    * squared distance — a Davies–Bouldin-style ratio with no sqrt and
    * no floating accumulation anywhere, so the row hash-matches the
    * oracle bit-for-bit. Plan: one scan → (label, dim) partial aggs →
    * k-row centroid frame broadcast back for the distance pass; the
    * k² separation table is a broadcast cross join of k rows. */
  private def sClusterQuality(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings").select(col("vec_id"), col("label"),
      transform(col("embedding"),
        x => round(x.cast("double") * 10000).cast("long")).as("ve4"))
    val counts = emb.groupBy("label").agg(count(lit(1)).as("n"))
    val cents = emb.select(col("label"), posexplode(col("ve4")).as(Seq("dim", "v")))
      .groupBy("label", "dim").agg(sum("v").as("sv"))
      .join(broadcast(counts), "label")
      .groupBy("label").agg(max("n").as("n"),
        transform(array_sort(collect_list(struct(col("dim"),
          expr("sv div n").as("cv")))), x => x.getField("cv")).as("ce4"))
    val d2 = (a: Column, b: Column) => aggregate(
      zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0L), _ + _)
    val coh = emb.join(broadcast(cents.select("label", "ce4")), "label")
      .withColumn("d2own", d2(col("ve4"), col("ce4")))
      .groupBy("label").agg(expr("sum(d2own) div count(1)").as("cohesion_d2_mean"))
    val sep = cents.select(col("label"), col("ce4"))
      .crossJoin(broadcast(cents.select(col("label").as("other_label"),
        col("ce4").as("oe4"))))
      .filter(col("label") =!= col("other_label"))
      .withColumn("sd2", d2(col("ce4"), col("oe4")))
      .groupBy("label")
      .agg(min(struct(col("sd2"), col("other_label"))).as("b"))
      .select(col("label"), col("b.sd2").as("sep_d2"),
        col("b.other_label").as("nearest_label"))
    cents.select("label", "n").join(coh, "label").join(sep, "label")
      .select(col("label"), col("n"), col("cohesion_d2_mean"),
        col("nearest_label"), col("sep_d2"),
        expr("CASE WHEN sep_d2 = 0 THEN NULL" +
          " ELSE cohesion_d2_mean * 10000 div sep_d2 END").as("ratio_e4"))
  }

  /** Bollinger-band breach detection with NO square root and NO
    * floating point: over each type's daily-mean series (e4 longs), a
    * trailing 7-row window carries Σx and Σx², and the k=2σ breach
    * test (x−μ)² > k²σ² multiplies through by n² to the all-integer
    * form (n·x − Σx)² > k²·(n·Σx² − (Σx)²) — exact band detection
    * with zero rounding anywhere. Windows partition on the series
    * key; only breach rows emit. The trailing window spans the last
    * 7 OBSERVED days (calendar densification is a_gap_fill's job). */
  private def aBollingerBreach(s: SparkSession, dir: String): DataFrame = {
    val daily = T(s, dir, "events")
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        expr("CAST(round(value * 10000) AS BIGINT)").as("v_fx"))
      .groupBy("event_type", "day")
      .agg(expr("sum(v_fx) div count(1)").as("x"))
    val w = Window.partitionBy("event_type").orderBy("day").rowsBetween(-6, 0)
    daily.withColumn("nw", count(lit(1)).over(w))
      .withColumn("sx", sum("x").over(w))
      .withColumn("sxx", sum(expr("x * x")).over(w))
      .filter(col("nw") === 7)
      .withColumn("dev", expr("7 * x - sx"))
      .withColumn("var7", expr("7 * sxx - sx * sx"))
      .filter(expr("dev * dev > 4 * var7"))
      .select(col("event_type"), col("day"), col("x").as("x_fx"),
        expr("dev * dev").as("dev2"), col("var7"), (col("dev") > 0).as("hi"))
  }

  /** Two-sample Kolmogorov–Smirnov distance between the click and
    * view value distributions, exact: values quantize to cents (a
    * BOUNDED support of ≤ ~49k buckets — the histogram-rank
    * convention), one conditional-aggregate pass builds both
    * histograms at once, and D = max|F₁−F₂| clears its denominators
    * (max|c₁·n₂ − c₂·n₁| over the cumulative sweep) so the statistic
    * is an integer ratio, reported in e6 with the earliest argmax
    * threshold via a lexicographic struct max. The only window orders
    * the bounded merged histogram. */
  private def aKsTest(s: SparkSession, dir: String): DataFrame = {
    val vals = T(s, dir, "events")
      .filter(col("event_type").isin("click", "view"))
      .select(col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("v_e2"))
    val hist = vals.groupBy("v_e2").agg(
      sum((col("event_type") === "click").cast("long")).as("c1"),
      sum((col("event_type") === "view").cast("long")).as("c2"))
    val tot = hist.agg(sum("c1").as("n1"), sum("c2").as("n2"))
    val w = Window.orderBy("v_e2").rowsBetween(Window.unboundedPreceding, 0)
    hist.withColumn("f1", sum("c1").over(w))
      .withColumn("f2", sum("c2").over(w))
      .crossJoin(broadcast(tot))
      .withColumn("d_num", abs(col("f1") * col("n2") - col("f2") * col("n1")))
      .groupBy("n1", "n2")
      .agg(count(lit(1)).as("n_support"),
        max(struct(col("d_num"), (-col("v_e2")).as("nv"))).as("b"))
      .select(col("n1"), col("n2"), col("n_support"),
        expr("b.d_num * 1000000 div (n1 * n2)").as("d_e6"),
        (-col("b.nv")).as("at_v_e2"))
  }

  /** Embedding-distribution drift monitor between the two corpus
    * halves (vec_id parity stands in for the before/after snapshots a
    * production pipeline compares): per-dimension truncating means of
    * the e4-quantized vectors, their absolute shift, and the halves'
    * sizes — 64 exact rows from ONE conditional-aggregate pass over
    * (dim, value) pairs. The canary a retraining pipeline watches for
    * upstream featurizer changes; all integer, no tolerance needed. */
  private def sEmbedDrift(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "embeddings")
      .select((col("vec_id") % 2 === 0).as("is_a"),
        posexplode(transform(col("embedding"),
          x => round(x.cast("double") * 10000).cast("long")))
          .as(Seq("dim", "v")))
      .groupBy("dim")
      .agg(sum(col("is_a").cast("long")).as("n_a"),
        sum((!col("is_a")).cast("long")).as("n_b"),
        sum(when(col("is_a"), col("v")).otherwise(0L)).as("sa"),
        sum(when(!col("is_a"), col("v")).otherwise(0L)).as("sb"))
      .select(col("dim"), col("n_a"), col("n_b"),
        expr("sa div n_a").as("mean_a_e4"),
        expr("sb div n_b").as("mean_b_e4"),
        expr("abs(sa div n_a - sb div n_b)").as("drift_e4"))

  /** Lag-1 autocorrelation of each type's daily-mean series: exact
    * integer moments over (xₜ, xₜ₊₁) pairs from a series-partitioned
    * lead, then ONE mirrored double chain for the Pearson ratio (the
    * g_assortativity convention — both engines evaluate the identical
    * expression text, round 6). The smell test a forecasting pipeline
    * runs before trusting a seasonal-naive baseline. */
  private def aAutocorr(s: SparkSession, dir: String): DataFrame = {
    val daily = T(s, dir, "events")
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        expr("CAST(round(value * 10000) AS BIGINT)").as("v_fx"))
      .groupBy("event_type", "day")
      .agg(expr("sum(v_fx) div count(1)").as("x"))
    val w = Window.partitionBy("event_type").orderBy("day")
    daily.withColumn("y", lead(col("x"), 1).over(w))
      .filter(col("y").isNotNull)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("event_type"), col("n").as("n_pairs"),
        expr("""round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
          sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) *
               (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 6)""")
          .as("r1"))
  }

  /** Feature ranking by point-biserial association, sqrt-free: for
    * y = (label < 5) the scaled covariance n·Σxy − Σx·Σy over the
    * e4-quantized embedding dims is EXACT, and ranking by |cov|
    * (which shares y's variance term across dims, so the order
    * matches point-biserial r) needs no division at all. One
    * (dim)-keyed partial-agg pass, TakeOrdered top-10 — the cheap
    * first cut of feature selection over a 100 TB feature store. */
  private def sFeatureCov(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "embeddings")
      .select((col("label") < 5).cast("long").as("y"),
        posexplode(transform(col("embedding"),
          x => round(x.cast("double") * 10000).cast("long")))
          .as(Seq("dim", "v")))
      .groupBy("dim")
      .agg(count(lit(1)).as("n"), sum("v").as("sx"), sum("y").as("sy"),
        sum(col("v") * col("y")).as("sxy"))
      .select(col("dim"), col("n"), col("sx"), col("sy"),
        expr("n * sxy - sx * sy").as("cov_scaled"),
        expr("abs(n * sxy - sx * sy)").as("abs_cov"))
      .orderBy(col("abs_cov").desc, col("dim")).limit(10)

  /** Vocabulary novelty per ingestion batch (doc_id div 100 stands in
    * for the arrival manifest): each batch reports its distinct token
    * types, how many are FIRST seen in that batch, and the novelty
    * ratio — the curve a curation pipeline watches to decide when
    * more of the same source stops adding vocabulary. Token-keyed
    * partial aggs only; the first-batch frame joins back on the token
    * key (shuffle-colocated, never collected). */
  private def tVocabNovelty(s: SparkSession, dir: String): DataFrame = {
    val occ = T(s, dir, "documents")
      .select(expr("doc_id div 100").as("batch"),
        explode(filter(split(lower(trim(col("text"))), "\\s+"),
          t => length(t) > 0)).as("t"))
    val pbt = occ.groupBy("batch", "t").agg(count(lit(1)).as("c"))
    val firstB = pbt.groupBy("t").agg(min("batch").as("fb"))
    pbt.join(firstB, "t")
      .groupBy("batch")
      .agg(sum("c").as("n_tokens"), count(lit(1)).as("n_types"),
        sum((col("fb") === col("batch")).cast("long")).as("n_new_types"))
      .withColumn("novelty_e4", expr("n_new_types * 10000 div n_types"))
  }

  /** Discrete churn-hazard table over activity streaks — the
    * survival-analysis view of [[aStreaks]]: for each streak age k,
    * n_risk counts streaks that REACHED length k and n_events the
    * uncensored streaks that ended exactly there, so hazard(k) =
    * events·10⁶ div risk is the day-over-day churn probability, all
    * exact integers (no cumulative product — the Kaplan–Meier curve's
    * nonexact part stays out; the hazard table is what a retention
    * model consumes anyway). A streak touching the dataset's last day
    * is censored (it may continue). The cumulative-risk window runs
    * over the BOUNDED length histogram (≤ calendar-span rows). */
  private def aStreakHazard(s: SparkSession, dir: String): DataFrame = {
    val days = T(s, dir, "events").select(col("user_id"),
      expr("unix_micros(ts) div 86400000000").as("day")).distinct()
    val maxDay = days.agg(max("day").as("max_day"))
    val w = Window.partitionBy("user_id").orderBy("day")
    val st = days.withColumn("grp", col("day") - dense_rank().over(w))
      .groupBy("user_id", "grp")
      .agg(count(lit(1)).as("len"), max("day").as("end_day"))
    val hist = st.crossJoin(broadcast(maxDay))
      .groupBy("len").agg(count(lit(1)).as("n_total"),
        sum((col("end_day") < col("max_day")).cast("long")).as("n_events"))
    val cw = Window.orderBy(col("len").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    hist.withColumn("n_risk", sum("n_total").over(cw))
      .select(col("len").as("k"), col("n_risk"), col("n_events"),
        expr("n_events * 1000000 div n_risk").as("hazard_e6"))
  }

  /** Entropy rate of the per-user journey chain: each state's
    * conditional next-step entropy −Σⱼ p̂ᵢⱼ ln p̂ᵢⱼ over the QUANTIZED
    * e6 matrix (support p_e6 > 0 — the quantization is the shared
    * contract, so both engines measure the same distribution),
    * weighted by the CONSERVED stationary vector ([[aMarkovConserve]]
    * — a true distribution, which the leaky sibling is not). The
    * contribution column sums to the chain's entropy rate in
    * nats/step — the "how predictable are user journeys" number a
    * personalization team tracks. Sink states carry h = 0 by
    * convention (no next step to be uncertain about). All frames are
    * vocabulary-bounded; doubles appear only in the log terms,
    * rounded at 4. */
  private def aMarkovEntropy(s: SparkSession, dir: String): DataFrame = {
    val h = markovMatrix(s, dir).filter(col("p_e6") > 0)
      .groupBy(col("from_type").as("event_type"))
      .agg((-sum(expr("(p_e6 / 1e6) * ln(p_e6 / 1e6)"))).as("h_raw"))
    aMarkovConserve(s, dir)
      .withColumn("v_tot", sum("v_e6").over(Window.partitionBy()))
      .join(h, Seq("event_type"), "left")
      .select(col("event_type"), col("v_e6").as("pi_e6"),
        round(coalesce(col("h_raw"), lit(0.0)), 4).as("h_cond_nats"),
        round(coalesce(col("h_raw"), lit(0.0)) * col("v_e6") / col("v_tot"), 4)
          .as("contrib_nats"))
  }

  /** PII exposure report per source — the governance rollup a privacy
    * review reads BEFORE deciding redaction policy ([[tRedact]] is
    * the apply step for two of these classes): per (source, class),
    * how many documents hit and how many total matches, for five
    * classes (email, url, phone, ssn-like, ipv4; patterns parse
    * identically under Java regex and RE2 so both engines count the
    * same matches). ONE corpus scan computes all ten aggregates
    * (per-class doc-hit + match counts), then a 5-way literal-struct
    * explode stacks the report — no second pass, no join. */
  private def ePiiReport(s: SparkSession, dir: String): DataFrame = {
    val classes = Seq(
      "email" -> TextOps.EmailPat, "url" -> TextOps.UrlPat,
      "phone" -> TextOps.PhonePat, "ssn" -> TextOps.SsnPat,
      "ipv4" -> TextOps.Ipv4Pat)
    val aggs = classes.flatMap { case (n, p) =>
      val cnt = regexp_count(col("text"), lit(p))
      Seq(sum((cnt > 0).cast("long")).as(s"${n}_docs"),
        sum(cnt.cast("long")).as(s"${n}_hits"))
    }
    T(s, dir, "documents")
      .groupBy("source").agg(aggs.head, aggs.tail: _*)
      .select(col("source"), explode(array(classes.map { case (n, _) =>
        struct(lit(n).as("pii_class"), col(s"${n}_docs").as("n_docs_hit"),
          col(s"${n}_hits").as("n_hits"))
      }: _*)).as("r"))
      .select(col("source"), col("r.pii_class").as("pii_class"),
        col("r.n_docs_hit").as("n_docs_hit"), col("r.n_hits").as("n_hits"))
  }

  /** License-marker classes — shared literal patterns (plain
    * lowercase words, identical under Java regex and RE2) applied to
    * lowercased text, the ModelWeights convention. */
  val LicensePats: Seq[(String, String)] = Seq(
    "apache" -> "apache license",
    "mit" -> "mit license",
    "gpl" -> "general public license",
    "cc" -> "creative commons",
    "arr" -> "all rights reserved")

  /** License-marker audit per source — the provenance screen a
    * pretraining corpus gets before a source is mixed in: five marker
    * classes counted in ONE corpus scan (docs hit + total hits per
    * class — ten aggregates then a literal-struct explode, the
    * e_pii_report shape; row-local until the source-keyed partial
    * agg). The synthetic corpus carries no license boilerplate, so
    * the oracle row pins exact zeros end-to-end and the planted
    * WideningPinsSpec fixture pins the actual routing (the
    * t_code_detect convention). */
  private def eLicenseAudit(s: SparkSession, dir: String): DataFrame =
    licenseAudit(T(s, dir, "documents"))

  private[graft] def licenseAudit(docs: DataFrame): DataFrame = {
    val aggs = LicensePats.flatMap { case (n, p) =>
      val cnt = regexp_count(lower(col("text")), lit(p))
      Seq(sum((cnt > 0).cast("long")).as(s"${n}_docs"),
        sum(cnt.cast("long")).as(s"${n}_hits"))
    }
    docs.groupBy("source").agg(aggs.head, aggs.tail: _*)
      .select(col("source"), explode(array(LicensePats.map { case (n, _) =>
        struct(lit(n).as("license_class"), col(s"${n}_docs").as("n_docs_hit"),
          col(s"${n}_hits").as("n_hits"))
      }: _*)).as("r"))
      .select(col("source"), col("r.license_class").as("license_class"),
        col("r.n_docs_hit").as("n_docs_hit"), col("r.n_hits").as("n_hits"))
  }

  /** Cross-source duplicate FLOW — the governance rollup of the LSH
    * near-dup pairs ([[dLshJaccard]]'s shared cached frame): how many
    * verified near-dup pairs connect each (source, source) slice,
    * ordered pairs folded by least/greatest. The matrix a curation
    * team reads to decide source precedence (a slice that is largely
    * a mirror of another shows up as a heavy off-diagonal cell;
    * boilerplate-heavy slices light the diagonal). Pair generation is
    * the banded join, never all-pairs; the rollup adds one
    * source-keyed agg over the pair frame. */
  private def eDupFlow(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val src = docs.select(col("doc_id"), col("source"))
    Dedup.lshVerifiedJaccard(docs, 3, 16, 4, 4, 0.5)
      .select(col("doc_a"), col("doc_b"))
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), "doc_b")
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .groupBy("source_a", "source_b").agg(count(lit(1)).as("n_pairs"))
  }

  /** Functional-dependency audit over declared column pairs — the
    * data-profiling step that discovers real constraints a contract
    * should pin (and catches denormalization drift when a supposed
    * FD starts failing): A → B holds iff ndv(A) = ndv(A,B), and the
    * per-pair violation budget ndv_pair − ndv_lhs counts how many
    * extra B values break it. One partial-agg pass per declared pair
    * (groupBy A, countDistinct B: ndv_lhs = group count, ndv_pair =
    * Σ per-group distinct), no joins; the pair list is the declared
    * profiling scope, not discovery over all column pairs. The
    * fixture plants two holding FDs (n_name and o_orderkey are keys
    * the audit DISCOVERS rather than assumes) among five failing
    * controls — including p_name → p_brand, which a human would
    * guess holds and the data refutes (part names are reused across
    * brands). */
  private def pFdAudit(s: SparkSession, dir: String): DataFrame = {
    def fd(tbl: String, a: String, b: String): DataFrame =
      T(s, dir, tbl).groupBy(col(a)).agg(countDistinct(col(b)).as("k"))
        .agg(count(lit(1)).as("ndv_lhs"), sum("k").as("ndv_pair"))
        .select(lit(tbl).as("tbl"), lit(a).as("lhs"), lit(b).as("rhs"),
          col("ndv_lhs"), col("ndv_pair"),
          (col("ndv_pair") === col("ndv_lhs")).as("fd_holds"))
    Seq(
      fd("nation", "n_name", "n_regionkey"),
      fd("orders", "o_orderkey", "o_custkey"),
      fd("part", "p_brand", "p_type"),
      fd("part", "p_name", "p_brand"),
      fd("documents", "source", "lang"),
      fd("customer", "c_mktsegment", "c_nationkey"),
      fd("lineitem", "l_returnflag", "l_linestatus"))
      .reduce(_ unionAll _)
  }

  /** Bucket-layout advisor for the co-location join keys — the
    * pre-ETL sizing read before writing bucketed staging tables (the
    * PlanCache scale note's "bucketed intermediate"): per candidate
    * key, exact rows / NDV / hottest-key frequency from ONE
    * partial-agg pass per table, then the recommended bucket count =
    * the smallest power of two holding ≥ 64 Ki rows per bucket
    * (powers ladder is a 31-row broadcast literal — no log2 doubles),
    * and a hot-key flag (top key > 5% of rows, integer
    * cross-multiplication) marking keys that need the salting path
    * ([[graft.ops.SkewJoin]]) instead of plain bucketing. At 100 TB
    * each key's stats are the same two aggregates; nothing here is
    * data-order dependent. */
  private def pBucketAdvisor(s: SparkSession, dir: String): DataFrame = {
    def keyStats(df: DataFrame, tbl: String, key: String): DataFrame =
      df.groupBy(col(key).as("k")).agg(count(lit(1)).as("n"))
        .agg(sum("n").as("n_rows"), count(lit(1)).as("ndv"),
          max("n").as("max_freq"))
        .select(lit(tbl).as("tbl"), lit(key).as("join_key"),
          col("n_rows"), col("ndv"), col("max_freq"))
    val stats = keyStats(T(s, dir, "lineitem"), "lineitem", "l_partkey")
      .unionAll(keyStats(T(s, dir, "lineitem"), "lineitem", "l_suppkey"))
      .unionAll(keyStats(T(s, dir, "orders"), "orders", "o_custkey"))
      .unionAll(keyStats(T(s, dir, "events"), "events", "user_id"))
    val ladder = s.createDataFrame((0 to 30).map(i => Tuple1(1L << i)))
      .toDF("p")
    stats
      .withColumn("raw", expr("(n_rows + 65535) div 65536"))
      .join(broadcast(ladder), col("p") >= col("raw"))
      .groupBy("tbl", "join_key", "n_rows", "ndv", "max_freq")
      .agg(min("p").as("buckets"))
      .withColumn("hot_key", expr("max_freq * 20 > n_rows"))
      .select(col("tbl"), col("join_key"), col("n_rows"), col("ndv"),
        col("max_freq"), col("buckets"), col("hot_key"))
  }

  /** TextRank keyword extraction (Mihalcea & Tarau 2004): PageRank
    * over the corpus token co-occurrence graph — the graph-centrality
    * complement of [[tRake]]'s degree heuristic and [[tTfidfTopK]]'s
    * frequency weighting. Adjacent-token pairs (the shared
    * bigram-occurrence substrate) symmetrize into an undirected
    * weighted graph, noise edges prune at combined weight < 3, and
    * [[graft.ops.Graph.pageRankFixed]] runs its exact e6 bounded
    * unroll (4 steps, 0.85 damping) — symmetric edges mean no sink
    * refusal fires. Top 20 tokens by (rank desc, token) is the
    * keyword list. Scale: the graph is vocabulary²-bounded with the
    * weight floor, not corpus-sized; the one data-sized pass is the
    * shared shingle explode. */
  private def tTextrank(s: SparkSession, dir: String): DataFrame = {
    val bi = TextOps.bigramOccurrences(T(s, dir, "documents"))
    val und = bi
      .select(split(col("s"), " ").getItem(0).as("u1"),
        split(col("s"), " ").getItem(1).as("u2"))
      .filter(col("u1") =!= col("u2")) // self-loops add no ranking signal
      .select(least(col("u1"), col("u2")).as("a"),
        greatest(col("u1"), col("u2")).as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("w"))
      .filter(col("w") >= 3)
    val edges = und.select(col("a").as("src"), col("b").as("dst"), col("w"))
      .unionAll(und.select(col("b").as("src"), col("a").as("dst"), col("w")))
    graft.ops.Graph.pageRankFixed(edges, 4)
      .orderBy(col("pr_fx").desc, col("node"))
      .limit(20)
      .select(col("node").as("token"), col("pr_fx"))
  }

  /** Deterministic Poisson-bootstrap confidence interval for the mean
    * order value — resampling at corpus scale without a second pass
    * per replicate (Chamandy et al.'s Poisson bootstrap, the form
    * that streams): each row's multiplicity in replicate b is an
    * integer drawn from the Poisson(1) pmf via thresholds on the
    * portable hash of (order, b), so all 32 replicates are one ×32
    * map-side fan-out + one partial-agg shuffle of 32 groups — no
    * row-level shuffle per replicate, no RNG state, bit-reproducible
    * in both engines. Replicate means in exact cents×100; the CI is
    * the 2nd-smallest..2nd-largest replicate mean (a ~94% interval
    * at B=32, the order-statistic form — no interpolation, no
    * doubles). */
  private def aBootstrapCi(s: SparkSession, dir: String): DataFrame = {
    val ord = T(s, dir, "orders")
      .select(col("o_orderkey"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
    val draws = ord
      .select(col("o_orderkey"), col("cents"),
        explode(sequence(lit(1), lit(32))).as("b"))
      .withColumn("h", pmod(Codecs.portableHash(
        concat(col("o_orderkey").cast("string"), lit("#"),
          col("b").cast("string"))), lit(10000L)))
      .withColumn("mult",
        when(col("h") < 3679, 0L).when(col("h") < 7358, 1L)
          .when(col("h") < 9197, 2L).when(col("h") < 9810, 3L)
          .when(col("h") < 9963, 4L).otherwise(5L))
    val means = draws.groupBy("b")
      .agg(sum("mult").as("n_b"), sum(expr("mult * cents")).as("sum_b"))
      .filter(col("n_b") > 0)
      .select(expr("sum_b * 100 div n_b").as("mean_c100"))
    val full = ord.agg(count(lit(1)).as("n_orders"), sum("cents").as("sc"))
      .select(col("n_orders"), expr("sc * 100 div n_orders").as("mean_full_c100"))
    means.agg(count(lit(1)).as("n_resamples"),
        sort_array(collect_list(col("mean_c100"))).as("ms"))
      .crossJoin(broadcast(full))
      .select(col("n_orders"), col("mean_full_c100"), col("n_resamples"),
        element_at(col("ms"), 2).as("ci_lo_c100"),
        element_at(col("ms"), expr("CAST(size(ms) - 1 AS INT)"))
          .as("ci_hi_c100"))
  }

  /** Mann–Kendall trend test per event-type daily series — the
    * significance companion of [[aTheilSen]]'s slope (the standard
    * pairing in environmental/ops time-series practice: MK says
    * WHETHER a monotone trend exists, Theil–Sen says how steep):
    * S = Σ_{i<j} sign(x_j − x_i) over the same gated pair frame,
    * tie-corrected variance 18·Var(S) = n(n−1)(2n+5) − Σ t(t−1)(2t+5)
    * kept ×18 in exact longs, and the continuity-corrected
    * z = (S ∓ 1)/√(var18/18) as the one rounded double. The verdict
    * compares the ROUNDED z against ±1.96 so both engines cut
    * identically. Pair fan-out rides the aTheilSen 256-day gate
    * argument; ties come from one (type, value) aggregate. */
  private def aMannKendall(s: SparkSession, dir: String): DataFrame = {
    val daily = T(s, dir, "events")
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        expr("CAST(round(value * 10000) AS BIGINT)").as("v_fx"))
      .groupBy("event_type", "day").agg(sum("v_fx").as("x"))
    val sStat = daily.as("a").join(daily.as("b"),
        col("a.event_type") === col("b.event_type") &&
          col("a.day") < col("b.day"))
      .select(col("a.event_type").as("event_type"),
        signum(col("b.x") - col("a.x")).cast("long").as("sg"))
      .groupBy("event_type").agg(sum("sg").as("s_stat"))
    val nDays = daily.groupBy("event_type").agg(count(lit(1)).as("n"))
    val ties = daily.groupBy(col("event_type"), col("x"))
      .agg(count(lit(1)).as("t")).filter(col("t") > 1)
      .groupBy("event_type")
      .agg(sum(expr("t * (t - 1) * (2 * t + 5)")).as("tie_term"))
    nDays.join(sStat, "event_type").join(ties, Seq("event_type"), "left")
      .na.fill(0L, Seq("tie_term"))
      .withColumn("var18",
        expr("n * (n - 1) * (2 * n + 5) - tie_term"))
      .withColumn("z", round(
        when(col("s_stat") > 0, (col("s_stat") - 1) /
          sqrt(col("var18") / 18.0))
          .when(col("s_stat") < 0, (col("s_stat") + 1) /
            sqrt(col("var18") / 18.0))
          .otherwise(lit(0.0)), 4))
      .select(col("event_type"), col("n").as("n_days"), col("s_stat"),
        col("var18"), col("z"),
        when(col("z") > 1.96, "up").when(col("z") < -1.96, "down")
          .otherwise("none").as("trend"))
  }

  /** PER-DOCUMENT TextRank — the form a keyword-extraction pipeline
    * actually ships (keywords for each document, [[tTextrank]]'s
    * corpus ranking is the vocabulary-level diagnostic): the same
    * exact e6 PageRank update as the corpus form, but fused per
    * document ([[graft.functions.TextRankFixed]]): each document's
    * symmetric co-occurrence edge list groups ONCE (a single
    * doc_id-keyed shuffle) and the four power rounds run in place
    * over the collected array — the iterate is embarrassingly
    * parallel per key, so unrolling it as corpus-wide joins moved
    * every document's tiny graph through four data-sized shuffles for
    * nothing (measured 5.4 s warm → ~2 s at sf0.1). Per-doc arrays
    * are document-length-bounded — the same per-key batch contract as
    * the media decode path (cap outliers with the declared doc-length
    * quality filters upstream). Top-3 per doc cuts via the rank
    * window — WindowGroupLimit prunes map-side (pinned convention).
    * Docs with no two distinct adjacent tokens have no graph and no
    * row. */
  private def tTextrankDoc(s: SparkSession, dir: String): DataFrame = {
    val bi = TextOps.bigramOccurrences(T(s, dir, "documents"))
    val und = bi
      .select(col("doc_id"), split(col("s"), " ").getItem(0).as("u1"),
        split(col("s"), " ").getItem(1).as("u2"))
      .filter(col("u1") =!= col("u2"))
      .select(col("doc_id"), least(col("u1"), col("u2")).as("a"),
        greatest(col("u1"), col("u2")).as("b"))
      .groupBy("doc_id", "a", "b").agg(count(lit(1)).as("w"))
    // degree-annotate both directions, then ONE group per document;
    // wout joins on (doc_id, src) before the collect so the array
    // carries everything the fold needs
    val e2 = PlanCache.cached("textrank-doc-edges", T(s, dir, "documents")) {
      val e = und
        .select(col("doc_id"), col("a").as("src"), col("b").as("dst"), col("w"))
        .unionAll(und.select(col("doc_id"), col("b").as("src"),
          col("a").as("dst"), col("w")))
      e.join(e.groupBy("doc_id", "src").agg(sum("w").as("wout")),
        Seq("doc_id", "src"))
    }
    val ranked = e2
      .groupBy("doc_id")
      .agg(collect_list(struct(col("src"), col("dst"), col("w"), col("wout")))
        .as("edges"))
      .select(col("doc_id"),
        explode(graft.functions.TextRankFixed.textrankFixed(col("edges"), 4)).as("r"))
      .select(col("doc_id"), col("r.token").as("t"), col("r.p").as("p"))
    val wd = Window.partitionBy("doc_id").orderBy(col("p").desc, col("t"))
    ranked.withColumn("rnk", row_number().over(wd)).filter(col("rnk") <= 3)
      .select(col("doc_id"), col("rnk").cast("long").as("rnk"),
        col("t").as("token"), col("p").as("pr_fx"))
  }

  /** Theil–Sen robust trend slope per event-type daily series: the
    * doubled median (med2 convention — two middle order statistics
    * summed, no half-steps materialize) of all pairwise slopes
    * (x_j − x_i)·10⁶ div (d_j − d_i), i < j — the slope estimator
    * that shrugs off the outlier days a_trend's least-squares line
    * chases (29% breakdown point). Slopes are e6 truncating fixed
    * point; Spark `div` and DuckDB `//` both truncate toward zero, so
    * negative slopes replay exactly. The pair fan-out is O(n²) in
    * SERIES LENGTH, not data size — n = days per type, gated by a
    * loud require (256 days → ≤ 32 640 pairs per type); the median
    * reads from a sorted collect bounded by the same gate (the
    * a_rolling_median frame convention). At 100 TB the daily rollup
    * is the one data-sized shuffle; the pair join runs on the
    * type-day aggregate. The Siegel-style intercept (doubled median
    * of 2·10⁶·x − s2·d over the rebased days) anchors the robust
    * line at the series origin, completing the slope into a usable
    * forecast. Overflow budget: 2·10⁶·x needs |x| ≲ 4.6·10¹² (x is
    * the e4 daily sum — drop the value quantum at larger SF, the
    * a_gini long-budget convention). */
  private def aTheilSen(s: SparkSession, dir: String): DataFrame = {
    val wt = Window.partitionBy("event_type")
    // days REBASE to the series origin (d = day − min day): slopes
    // are shift-invariant, the intercept becomes the level AT the
    // series' first observed day (the useful forecast anchor), and
    // s2·d stays inside the long budget because d ≤ the 256-day gate
    val daily = T(s, dir, "events")
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        expr("CAST(round(value * 10000) AS BIGINT)").as("v_fx"))
      .groupBy("event_type", "day").agg(sum("v_fx").as("x"))
      .withColumn("d", col("day") - min("day").over(wt))
    val nMax = daily.groupBy("event_type").count()
      .agg(coalesce(max("count"), lit(0L))).head().getLong(0)
    require(nMax <= 256L,
      s"aTheilSen: longest series has $nMax days; the O(n²) pair frame " +
        "is gated at 256 — window the series or sample days instead")
    val slope = daily.as("a").join(daily.as("b"),
        col("a.event_type") === col("b.event_type") &&
          col("a.d") < col("b.d"))
      .select(col("a.event_type").as("event_type"),
        expr("(b.x - a.x) * 1000000 div (b.d - a.d)").as("slope_e6"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_pairs"),
        sort_array(collect_list(col("slope_e6"))).as("sl"))
      .select(col("event_type"), col("n_pairs"),
        (element_at(col("sl"), expr("CAST((size(sl) + 1) div 2 AS INT)")) +
          element_at(col("sl"), expr("CAST((size(sl) + 2) div 2 AS INT)")))
          .as("s2"))
    // Siegel-style intercept: doubled median of the per-day levels
    // 2e6·x − s2·d (s2 is the DOUBLED e6 slope, so each term is the
    // doubled e6 intercept estimate; med2 of those is 4× e6)
    daily.join(slope, "event_type")
      .select(col("event_type"), col("n_pairs"), col("s2"),
        expr("2 * 1000000 * x - s2 * d").as("wv"))
      .groupBy("event_type", "n_pairs", "s2")
      .agg(sort_array(collect_list(col("wv"))).as("wl"))
      .select(col("event_type"), col("n_pairs"),
        col("s2").as("slope_med2_e6"),
        (element_at(col("wl"), expr("CAST((size(wl) + 1) div 2 AS INT)")) +
          element_at(col("wl"), expr("CAST((size(wl) + 2) div 2 AS INT)")))
          .as("icept_med4_e6"))
  }

  /** Patch-grid planning for vision preprocessing: the stub decode
    * derives deterministic image dimensions from the payload length
    * (the [[graft.ext.Multimodal]] convention — real codecs are
    * environment-blocked, the Spark-side batch shape is the product),
    * then fans each asset out to its 128×128 tile grid with edge
    * tiles clipped — the rows→patches explosion a ViT pipeline feeds
    * to the encoder, sized BEFORE any pixel is decoded so the
    * scheduler can pack batches by tile count. Pure sequence/explode
    * fan-out; no shuffle at all until a downstream grouping. */
  private def mTileGrid(s: SparkSession, dir: String): DataFrame = {
    val assets = Multimodal.toAssets(
      T(s, dir, "documents").select(col("doc_id").as("asset_id"),
        col("text").cast("binary").as("payload")), "image")
    val dims = assets.select(col("asset_id"),
      col("byte_len").cast("long").as("byte_len"))
      .withColumn("width", expr("64 + byte_len % 512"))
      .withColumn("height", expr("64 + (byte_len div 7) % 512"))
    dims
      .select(col("asset_id"), col("width"), col("height"),
        explode(sequence(lit(0L), expr("(width - 1) div 128"))).as("tx"))
      .select(col("asset_id"), col("width"), col("height"), col("tx"),
        explode(sequence(lit(0L), expr("(height - 1) div 128"))).as("ty"))
      .select(col("asset_id"), col("tx"), col("ty"),
        (col("tx") * 128).as("x0"), (col("ty") * 128).as("y0"),
        least(lit(128L), col("width") - col("tx") * 128).as("w"),
        least(lit(128L), col("height") - col("ty") * 128).as("h"))
  }

  /** Tile-level PARTIAL-duplicate pairs — the crop/composite case the
    * whole-asset hashes (m_ahash_dedup, m_dct_neardup) cannot see: an
    * asset pasted into a larger canvas keeps most of its TILES even
    * though every global fingerprint changes. Each asset samples 16
    * fixed tiles ([[graft.ext.Multimodal.sampleFrames]], the
    * m_frame_sample stub-decode convention — a real codec swaps in
    * pixel tiles and nothing downstream changes), partial edge tiles
    * are dropped (geometry, not content), each full tile is EXACTLY
    * hashed, and pairs sharing ≥ 4 tile hashes emit with their count.
    * Scale shape: the candidate generator is the tile-hash equi-join
    * over the distinct (asset, tile-hash) index with a declared df ≤ 8
    * cap — a boilerplate tile (letterbox bars, solid fills) shared by
    * d assets would contribute d²/2 join rows, so it is EXCLUDED up
    * front (the DfCap / winnow-pairs convention), never discovered as
    * a hot key at 100 TB. Oracle replays tiles, hashes, cap and pair
    * join exactly — tile hashing is exact md5-prefix, nothing banded
    * to argue about. */
  private def mTileNearDup(s: SparkSession, dir: String): DataFrame = {
    val assets = Multimodal.toAssets(
      T(s, dir, "documents").select(col("doc_id").as("asset_id"),
        col("text").cast("binary").as("payload")), "image")
    val tiles = Multimodal.sampleFrames(assets, 16, 64, sliceChars = true)
      .filter(length(col("frame")) >= 64)
      .select(col("asset_id"), Codecs.portableHash(col("frame")).as("th"))
      .distinct()
    val kept = tiles.join(
      tiles.groupBy("th").agg(count(lit(1)).as("df"))
        .filter(col("df") <= 8).select("th"), "th")
    kept.as("a").join(kept.as("b"),
        col("a.th") === col("b.th") && col("a.asset_id") < col("b.asset_id"))
      .groupBy(col("a.asset_id").as("asset_a"), col("b.asset_id").as("asset_b"))
      .agg(count(lit(1)).as("n_shared_tiles"))
      .filter(col("n_shared_tiles") >= 4)
  }

  /** Perceptual-hash near-dup pairs over the asset corpus: 60-bit
    * average-hash fingerprints
    * ([[graft.ext.Multimodal.ahashFingerprints]], stub decode) fed to
    * the pigeonhole-banded hamming join
    * ([[graft.ext.Dedup.simhashPairs]], ≤ 6 of 60 bits) — the
    * standard image-dedup pipeline shape with the codec stubbed.
    * Banding guarantees recall at the declared radius, so the oracle
    * verifies with the all-pairs join the banded form provably
    * equals. */
  private def mAhashDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(
      Multimodal.ahashFingerprints(T(s, dir, "documents")), 6, 60)

  /** The 63-bit DCT perceptual hash table
    * ([[graft.ext.Multimodal.dctFingerprints]] — the frequency-domain
    * pHash upgrade of m_ahash's mean threshold). */
  private def mDctHash(s: SparkSession, dir: String): DataFrame =
    Multimodal.dctFingerprints(T(s, dir, "documents"))
      .select(col("doc_id"), col("simhash").as("dct_hash"))

  /** DCT-hash near-dup pairs via the same pigeonhole banding as
    * m_ahash_dedup (radius 6 over 63 bits = 7 segments of ~9 bits —
    * guaranteed recall, never all-pairs; the oracle replays the naive
    * all-pairs Hamming filter and must agree). */
  private def mDctNeardup(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(
      Multimodal.dctFingerprints(T(s, dir, "documents")), 6, 63)

  /** Stationary distribution of the per-user event-type Markov chain:
    * the long-run fraction of time a user journey spends in each
    * event type. Composes [[aTransitions]]' matrix (row-stochastic in
    * e6 fixed-point via truncating division) with eight exact power
    * steps — the [[graft.ops.Graph]] bounded-unroll convention at
    * matrix scale. Each step is v'[j] = Σᵢ (v[i]·p_e6[i→j]) div 1e6,
    * all-long arithmetic, so the DuckDB recursive CTE replays it
    * bit-for-bit. Scale shape: the matrix is |event_type|² rows
    * (bounded by the type vocabulary, not the data), so every join
    * AQE-broadcasts; the only data-sized pass is the one lead window,
    * partitioned by user. States that never receive mass drop out of
    * the vector — the substochastic-sink semantics are shared with
    * the oracle, and the mass-conservation caveat is the documented
    * [[graft.ops.Graph.pageRankFixed]] dangling discussion. */
  private def aMarkovStationary(s: SparkSession, dir: String): DataFrame = {
    val p = markovMatrix(s, dir)
    val states = p.select(col("from_type").as("t"))
      .union(p.select(col("to_type"))).distinct()
    val v0 = states.select(col("t"), lit(1000000L).as("v"))
    val vK = (1 to 8).foldLeft(v0) { (v, _) =>
      v.join(p, v("t") === p("from_type"))
        .groupBy(col("to_type"))
        .agg(sum(expr("v * p_e6 div 1000000")).as("v2"))
        .select(col("to_type").as("t"), col("v2").as("v"))
    }
    vK.select(col("t").as("event_type"), col("v").as("v_e6"))
  }

  /** The row-stochastic (e6 fixed-point, truncating) per-user
    * event-type transition matrix — one lead window partitioned by
    * user, then a vocabulary-bounded aggregate; PlanCache'd because
    * both stationary-distribution queries power-iterate over it. */
  private def markovMatrix(s: SparkSession, dir: String): DataFrame =
    PlanCache.cached("markov-matrix-e6", T(s, dir, "events")) {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val trans = T(s, dir, "events")
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
      val tot = trans.groupBy("from_type").agg(sum("n").as("tot"))
      trans.join(tot, "from_type")
        .select(col("from_type"), col("to_type"),
          expr("n * 1000000 div tot").as("p_e6"))
    }

  /** MASS-CONSERVING stationary distribution — closes the documented
    * [[aMarkovStationary]] caveat (sink states and e6 truncation both
    * leak mass there, so its vector is substochastic). Each of the
    * eight power steps here measures the step's total leak — sinks'
    * outflow plus every truncated division — as one 1-row aggregate
    * and redistributes it uniformly (remainder to the
    * lexicographically first state, the PageRank-dangling
    * redistribution shape in exact integers), so Σv = |states|·10⁶
    * holds bit-exactly after every step and the result is a true
    * distribution. States with no outgoing edges stay in the vector
    * (every state gets its leak share even with zero inflow) instead
    * of dropping out. Scale: the matrix is vocabulary²-bounded
    * metadata, so the rounds fold on the driver (gated collect); the
    * only data-sized pass is [[markovMatrix]]'s shared lead window.
    * The oracle replays the identical eight rounds unrolled, deriving
    * the leak from the conserved-total invariant so no CTE is
    * referenced twice. */
  private def aMarkovConserve(s: SparkSession, dir: String): DataFrame = {
    // The transition matrix is VOCABULARY²-bounded metadata (event
    // types, not events) — the data-sized pass is markovMatrix's
    // shared lead window, which stays distributed and cached. So the
    // eight conserving rounds fold on the driver in exact longs (the
    // s_embed_pc1 Gram power-iteration / codebookLiteral convention:
    // a loud gate bounds the collect, constant-size state iterates
    // locally) instead of unrolling 8 × (join + agg + global window)
    // over a 5-row frame — which was pure serial-stage latency,
    // measured 4.9 s warm at sf0.1 vs ~0.3 s folded. Arithmetic is
    // IDENTICAL to the previous in-plan unroll (v·p div 10⁶ and the
    // leak redistribution all truncate on non-negative longs), so the
    // oracle's recursive CTE still replays it bit-for-bit.
    val rows = markovMatrix(s, dir)
      .select(col("from_type"), col("to_type"), col("p_e6")).collect()
    require(rows.length <= 65536,
      s"aMarkovConserve: ${rows.length} transition rows exceed the " +
        "vocabulary² gate (65536 = 256 states) — this matrix is not " +
        "event-type metadata; keep the distributed unroll instead")
    val states = rows.iterator
      .flatMap(r => Iterator(r.getString(0), r.getString(1)))
      .toSeq.distinct.sorted
    val ns = states.length.toLong
    val t0 = states.head // sorted, so head == min
    var v: Map[String, Long] = states.map(_ -> 1000000L).toMap
    for (_ <- 1 to 8) {
      val raw = scala.collection.mutable.Map.empty[String, Long]
      rows.foreach { r =>
        val c = v(r.getString(0)) * r.getLong(2) / 1000000L
        raw.updateWith(r.getString(1))(o => Some(o.getOrElse(0L) + c))
      }
      val tot1 = states.iterator.map(t => raw.getOrElse(t, 0L)).sum
      val leak = ns * 1000000L - tot1 // ≥ 0: rows are substochastic
      v = states.map(t => t -> (raw.getOrElse(t, 0L) + leak / ns +
        (if (t == t0) leak % ns else 0L))).toMap
    }
    import s.implicits._
    states.map(t => (t, v(t))).toDF("event_type", "v_e6")
  }

  /** Aspect-ratio bucketing for image-training batches (the SDXL
    * bucketed-training shape): every asset lands in the ladder bucket
    * whose aspect ratio is nearest, so a batch sampler can draw
    * fixed-shape batches without destructive square crops. Dims come
    * from the [[mTileGrid]] stub-decode convention; the ladder is the
    * standard nine-step 512²-pixel-budget ladder. Nearness is the
    * integer statistic |w·bh − h·bw|·2²⁰ div bh (the |w/h − bw/bh|
    * rational scaled by the per-asset constant h, fixed-pointed so a
    * single sort key exists), ties to the lower bucket id — fully
    * deterministic, replayed by DuckDB bit-for-bit. Scale shape: the
    * ladder is a 9-row broadcast literal, the fan-out is 9× map-side,
    * and the per-asset argmin window runs over exactly 9 rows; the
    * output is the 9-row bucket plan a batch scheduler consumes. */
  private def mAspectBucket(s: SparkSession, dir: String): DataFrame = {
    val assets = Multimodal.toAssets(
      T(s, dir, "documents").select(col("doc_id").as("asset_id"),
        col("text").cast("binary").as("payload")), "image")
    val dims = assets.select(col("asset_id"),
      col("byte_len").cast("long").as("byte_len"))
      .withColumn("width", expr("64 + byte_len % 512"))
      .withColumn("height", expr("64 + (byte_len div 7) % 512"))
      .select("asset_id", "width", "height")
    val buckets = s.createDataFrame(Seq(
      (1L, 256L, 1024L), (2L, 320L, 832L), (3L, 384L, 704L),
      (4L, 448L, 576L), (5L, 512L, 512L), (6L, 576L, 448L),
      (7L, 704L, 384L), (8L, 832L, 320L), (9L, 1024L, 256L)))
      .toDF("bucket_id", "bw", "bh")
    val scored = dims.crossJoin(broadcast(buckets))
      .withColumn("score",
        expr("abs(width * bh - height * bw) * 1048576 div bh"))
    val w = Window.partitionBy("asset_id")
      .orderBy(col("score"), col("bucket_id"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .groupBy("bucket_id", "bw", "bh")
      .agg(count(lit(1)).as("n_assets"), sum("score").as("score_sum"))
  }

  /** Pareto / ABC inventory classification of parts by revenue: class
    * A is every revenue bucket that starts before the cumulative-80%
    * line, B before 95%, C the tail — the classic purchasing-analytics
    * cut, computed on the [[aGini]] 4096-bucket quantized distribution
    * so the cumulative window runs over a FIXED 4096-row frame, never
    * the parts table. Class boundaries are exact integer
    * cross-multiplications (cum_prev·100 < t·80); the only double is
    * the final per-class revenue share (sum·10⁶ would overflow longs
    * where the sums themselves do not — the a_gini precedent). At
    * 100 TB the per-part aggregate is the one shuffle; everything
    * after is 4096 rows. */
  private def aPareto(s: SparkSession, dir: String): DataFrame = {
    val rev = T(s, dir, "lineitem")
      .select(col("l_partkey"),
        (expr("CAST(round(l_extendedprice * 100) AS BIGINT)") *
          (lit(100L) - expr("CAST(round(l_discount * 100) AS BIGINT)"))).as("rev_fx"))
      .groupBy("l_partkey").agg(sum("rev_fx").as("x"))
    val mx = rev.agg(max(col("x")).as("mx"))
    val bucketed = rev.crossJoin(broadcast(mx))
      .select(expr("x * 4096 div (mx + 1)").as("b"), col("x"))
      .groupBy("b").agg(count(lit(1)).as("c"), sum("x").as("bx"))
    val cum = bucketed
      .withColumn("cum_prev", coalesce(sum(col("bx")).over(
        Window.orderBy(col("b").desc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("t", sum(col("bx")).over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    cum.withColumn("abc",
        when(col("cum_prev") * 100 < col("t") * 80, "A")
          .when(col("cum_prev") * 100 < col("t") * 95, "B")
          .otherwise("C"))
      .groupBy("abc")
      .agg(sum(col("c")).as("n_parts"), sum(col("bx")).as("rev_fx"),
        max(col("t")).as("t"))
      .select(col("abc"), col("n_parts"), col("rev_fx"),
        round(col("rev_fx").cast("double") / col("t"), 6).as("share"))
  }

  /** Inter-purchase-interval distribution: the day gaps between each
    * customer's consecutive orders, rolled into a gap-days histogram
    * with an exact e6 CDF — the repeat-purchase-cadence curve a
    * retention model calibrates against. One per-customer lag window
    * (partitioned — never global), then a histogram bounded by the
    * calendar span (a few thousand rows at any data scale), so the
    * CDF window runs over the bounded histogram, not the data. All
    * integer arithmetic; days from the shared unix_micros div
    * convention. */
  private def aInterpurchase(s: SparkSession, dir: String): DataFrame = {
    val d = T(s, dir, "orders").select(col("o_custkey"), col("o_orderkey"),
      expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000").as("day"))
    val w = Window.partitionBy("o_custkey").orderBy(col("day"), col("o_orderkey"))
    val hist = d.withColumn("prev", lag(col("day"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select((col("day") - col("prev")).as("gap_days"))
      .groupBy("gap_days").agg(count(lit(1)).as("n"))
    hist
      .withColumn("cum_n", sum(col("n")).over(
        Window.orderBy("gap_days").rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("t", sum(col("n")).over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(col("gap_days"), col("n"),
        expr("cum_n * 1000000 div t").as("cdf_e6"))
  }

  /** Leaderboard churn: the top-20 parts by revenue in the first vs
    * second half of the calendar, full-outer-joined into entered /
    * exited / stayed rows with rank deltas — the "what moved on the
    * leaderboard" digest every BI rollout ships. Each period's top-20
    * rides TakeOrderedAndProject (per-partition heads + one 20-row
    * driver merge — never a full sort; the [[dSampleBottomk]]
    * convention), ranks are assigned by a window over the two 20-row
    * frames, and absent ranks coalesce to 21 so deltas stay integers.
    * Ties break by part key — fully deterministic. */
  private def aRankChurn(s: SparkSession, dir: String): DataFrame = {
    val rev = T(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"),
        (expr("CAST(round(l_extendedprice * 100) AS BIGINT)") *
          (lit(100L) - expr("CAST(round(l_discount * 100) AS BIGINT)"))).as("rev_fx"))
      .join(T(s, dir, "orders").select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .withColumn("period",
        (col("o_orderdate") >= lit("1995-06-01").cast("timestamp")).cast("int"))
      .groupBy("period", "l_partkey").agg(sum("rev_fx").as("rev"))
    def top(p: Int) = rev.filter(col("period") === p)
      .orderBy(col("rev").desc, col("l_partkey")).limit(20)
    val ranked = top(0).union(top(1))
      .withColumn("r", row_number().over(
        Window.partitionBy("period").orderBy(col("rev").desc, col("l_partkey"))))
    val p0 = ranked.filter(col("period") === 0)
      .select(col("l_partkey"), col("r").as("r0"))
    val p1 = ranked.filter(col("period") === 1)
      .select(col("l_partkey").as("pk1"), col("r").as("r1"))
    p0.join(p1, col("l_partkey") === col("pk1"), "full_outer")
      .select(coalesce(col("l_partkey"), col("pk1")).as("l_partkey"),
        col("r0"), col("r1"),
        when(col("r0").isNotNull && col("r1").isNotNull, "stayed")
          .when(col("r0").isNotNull, "exited").otherwise("entered").as("status"),
        (coalesce(col("r0"), lit(21)) - coalesce(col("r1"), lit(21))).as("rank_delta"))
  }

  /** Shot-boundary (scene-cut) detection for video preprocessing: 8
    * frames sampled per asset (the [[mFrameSample]] stub-decode
    * convention — character slices standing in for decoded frames),
    * each fingerprinted with the portable 56-bit hash, and a cut
    * declared wherever consecutive fingerprints differ in ≥ 24 bits —
    * the XOR+popcount frame-difference detector a clip-mining pipeline
    * runs before captioning. Per-asset summary: transitions, cuts,
    * max inter-frame distance, first cut index. Shape: fixed 8× frame
    * fan-out (map-side), one asset-partitioned lag window, one
    * partial-agg'd groupBy — no joins, nothing global. */
  private def mSceneCut(s: SparkSession, dir: String): DataFrame = {
    val assets = Multimodal.toAssets(
      T(s, dir, "documents").select(col("doc_id").as("asset_id"),
        col("text").cast("binary").as("payload")), "video")
    val frames = Multimodal.sampleFrames(assets, 8, 8, sliceChars = true)
      .select(col("asset_id"), col("frame_idx").cast("long").as("frame_idx"),
        Codecs.portableHash(col("frame")).as("h"))
    val w = Window.partitionBy("asset_id").orderBy("frame_idx")
    frames.withColumn("prev", lag(col("h"), 1).over(w))
      .filter(col("prev").isNotNull)
      .withColumn("dist", expr("bit_count(h ^ prev)"))
      .groupBy("asset_id").agg(
        count(lit(1)).as("n_trans"),
        sum((col("dist") >= 24).cast("long")).as("n_cuts"),
        max("dist").as("max_dist"),
        min(when(col("dist") >= 24, col("frame_idx"))).as("first_cut_idx"))
  }

  /** New-vs-returning revenue split per month: an order is "new" when
    * it lands in its customer's first-ever month — the acquisition-vs-
    * retention revenue mix every growth dashboard leads with. One
    * per-customer min aggregate (partial-agg'd), one equi-join back,
    * one monthly rollup; revenue stays exact cents and the repeat
    * share is the one mirrored double (sum·10⁶ would overflow longs at
    * large SF — the a_pareto precedent). */
  private def aRepeatRevenue(s: SparkSession, dir: String): DataFrame = {
    val ord = T(s, dir, "orders").select(col("o_custkey"),
      date_trunc("month", col("o_orderdate")).as("mon"),
      expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("rev_fx"))
    val firstMon = ord.groupBy("o_custkey").agg(min("mon").as("first_mon"))
    ord.join(firstMon, "o_custkey")
      .withColumn("is_new", (col("mon") === col("first_mon")).cast("long"))
      .groupBy(unix_micros(col("mon").cast("timestamp")).as("mon_us"))
      .agg(
        sum(when(col("is_new") === 1, col("rev_fx")).otherwise(0L)).as("new_rev_fx"),
        sum(when(col("is_new") === 0, col("rev_fx")).otherwise(0L)).as("repeat_rev_fx"),
        sum(col("is_new")).as("n_new"),
        sum(lit(1L) - col("is_new")).as("n_repeat"))
      .withColumn("repeat_share", round(
        col("repeat_rev_fx").cast("double") /
          (col("new_rev_fx") + col("repeat_rev_fx")), 6))
  }

  /** Cohort lifetime-value curve: cumulative revenue per acquisition
    * cohort divided by cohort size at each week of age — the LTV
    * payback curve. Cohorts from the [[aCohort]] first-week
    * convention on ORDERS; the cumulative window partitions by cohort
    * and runs over week offsets (bounded by the calendar, a few
    * hundred rows per cohort at any data scale). All exact longs —
    * per-customer LTV is a truncating cent division. */
  private def aCohortLtv(s: SparkSession, dir: String): DataFrame = {
    val ord = T(s, dir, "orders").select(col("o_custkey"),
      date_trunc("week", col("o_orderdate")).as("wk"),
      expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("rev_fx"))
    val cohorts = ord.groupBy("o_custkey").agg(min("wk").as("cw"))
    val sizes = cohorts.groupBy("cw").agg(count(lit(1)).as("n_c"))
    val rev = ord.join(cohorts, "o_custkey")
      .groupBy(col("cw"),
        (datediff(to_date(col("wk")), to_date(col("cw"))) / 7).cast("long").as("week_offset"))
      .agg(sum("rev_fx").as("rev_fx"))
    val w = Window.partitionBy("cw").orderBy("week_offset")
      .rowsBetween(Window.unboundedPreceding, 0)
    rev.join(sizes, "cw")
      .withColumn("cum_rev_fx", sum(col("rev_fx")).over(w))
      .select(unix_micros(col("cw").cast("timestamp")).as("cohort_week_us"),
        col("week_offset"), col("n_c"), col("rev_fx"), col("cum_rev_fx"),
        expr("cum_rev_fx div n_c").as("ltv_pc_fx"))
  }

  /** Seasonal-naive forecast backtest: predict each day's per-type
    * value with the value seven CALENDAR days earlier (a self-join on
    * day−7, not lag(7) — gap days must not slide the season) and
    * report per-type MAE / max error / bias in exact fixed point —
    * the baseline every forecasting deployment must beat before it
    * ships, over the [[aRollingMedian]] daily substrate. Shape: one
    * partial-agg'd daily rollup, one equi-join of the series against
    * its own 7-day shift (both sides day-partitioned, co-located on
    * the same keys), one final rollup. All longs. */
  private def aSeasonalNaive(s: SparkSession, dir: String): DataFrame = {
    val daily = T(s, dir, "events")
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        expr("CAST(round(value * 10000) AS BIGINT)").as("v_fx"))
      .groupBy("event_type", "day").agg(sum("v_fx").as("x"))
    val f = daily.select(col("event_type"), (col("day") + 7).as("day"),
      col("x").as("fx"))
    daily.join(f, Seq("event_type", "day"))
      .withColumn("err", col("x") - col("fx"))
      .groupBy("event_type").agg(
        count(lit(1)).as("n_backtest"),
        sum(abs(col("err"))).as("sum_abs_err"),
        max(abs(col("err"))).as("max_abs_err"),
        sum(col("err")).as("bias"),
        expr("sum(abs(err)) div count(1)").as("mae_fx"))
  }

  /** Population stability index over the [[sModelScore]] linear-head
    * scores — THE model-monitoring drift metric: expected population =
    * even vec_ids, actual = odd (the a_abtest parity-split
    * convention), scores bucketed into 10 fixed deciles FROM THE e4
    * INTEGER score (no float boundary ambiguity), per-bucket add-one
    * smoothing, term = (p_a − p_e)·ln(p_a/p_e) rounded at 6 — the
    * consumer sums terms to the headline PSI. Shape: one scan with a
    * codegen'd dot per row, one 10-row aggregate; the totals window
    * runs over the 10-row frame. */
  private def sPsi(s: SparkSession, dir: String): DataFrame = {
    val w = array(ModelWeights.map(lit): _*)
    val scored = T(s, dir, "embeddings")
      .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("v"))
      .select(col("vec_id"),
        round(lit(10000.0) / (lit(1.0) +
          exp(-(Similarity.dot(col("v"), w) + lit(0.1))))).cast("long").as("p4"))
    val agg = scored
      .select((col("vec_id") % 2 === 0).as("is_exp"),
        expr("least(p4 div 1000, 9)").as("bucket"))
      .groupBy("bucket").agg(
        sum(when(col("is_exp"), 1L).otherwise(0L)).as("c_exp"),
        sum(when(col("is_exp"), 0L).otherwise(1L)).as("c_act"))
    val tot = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val pe = (col("c_exp") + 1).cast("double") / (col("n_exp") + 10)
    val pa = (col("c_act") + 1).cast("double") / (col("n_act") + 10)
    agg
      .withColumn("n_exp", sum(col("c_exp")).over(tot))
      .withColumn("n_act", sum(col("c_act")).over(tot))
      .select(col("bucket"), col("c_exp"), col("c_act"),
        round((pa - pe) * log(pa / pe), 6).as("term"))
  }

  /** Output-layout advisor: per table, row count, estimated bytes
    * under a DECLARED per-table row-size formula (fixed numeric
    * widths + string lengths — the formula is the contract, shared
    * with the oracle), and the 128 MiB-target file count with rows
    * per file — what a writer passes to repartition(n) so the lake
    * gets neither small-files soup nor 2 GB monoliths. One
    * partial-agg scan per table, three-row output. */
  private def pFilePlan(s: SparkSession, dir: String): DataFrame = {
    def plan(df: DataFrame, table: String, rowBytes: Column) =
      df.agg(count(lit(1)).as("n_rows"), sum(rowBytes).as("est_bytes"))
        .select(lit(table).as("table_name"), col("n_rows"), col("est_bytes"),
          greatest(lit(1L),
            expr("(est_bytes + 134217727) div 134217728")).as("n_files"))
        .withColumn("rows_per_file", expr("n_rows div n_files"))
    plan(T(s, dir, "events"), "events",
        lit(32L) + length(col("event_type")).cast("long") +
          length(col("props")).cast("long"))
      .unionAll(plan(T(s, dir, "documents"), "documents",
        lit(16L) + length(col("text")).cast("long") +
          length(col("lang")).cast("long") + length(col("source")).cast("long")))
      .unionAll(plan(T(s, dir, "lineitem"), "lineitem",
        lit(72L) + length(col("l_returnflag")).cast("long") +
          length(col("l_linestatus")).cast("long")))
  }

  /** Confusion matrix of the centroid classifier with exact e4
    * diagonal recall/precision ([[graft.ext.Similarity
    * .centroidConfusion]]) — completes the Eval family's class-level
    * view next to AUC / PR / calibration's score-level views. */
  private def sConfusion(s: SparkSession, dir: String): DataFrame =
    Similarity.centroidConfusion(T(s, dir, "embeddings"), 64)

  /** N-gram diversity CURVE: the [[tNgramDiversity]] type/token ratio
    * swept over n = 1..5 — how fast distinctness rises with gram
    * length is the repetition-structure fingerprint of a corpus slice
    * (near-1.0 at n=5 with low n=1 diversity ⇒ natural text;
    * flat-low ⇒ templated spam). Five shingle passes over the shared
    * token projection, each a partial-agg'd distinct count per
    * source. */
  private def tDiversityCurve(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    (1 to 5).map(n =>
      TextOps.ngramDiversity(docs, n).withColumn("n", lit(n.toLong)))
      .reduce(_ unionAll _)
  }

  /** Token-weighted dedup impact per source: how many TRAINING TOKENS
    * exact-normalized dedup reclaims, not just how many documents —
    * the number that actually moves a pretraining budget. Every
    * non-keeper copy (keeper = min doc_id per normalized
    * (hash, length) group, the d_exact rule) charges its token count
    * to ITS OWN source, so a source that plagiarizes another pays,
    * not the victim. One hash-group aggregate + one join back + one
    * source rollup, exact longs throughout. */
  private def dDupWeight(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
      .withColumn("norm", regexp_replace(lower(trim(col("text"))), "\\s+", " "))
      .select(col("doc_id"), col("source"),
        Codecs.portableHash(col("norm")).as("h"),
        length(col("norm")).cast("long").as("ln"),
        size(Codecs.tokens(col("text"))).cast("long").as("n_tok"))
      // referenced twice (keeper agg + join probe): uncheckpointed,
      // the regexp normalize + md5 + tokenize pass runs twice per
      // query (r14, the aBasketRules discipline — interleaved settled
      // reps 0.73-0.88 → 0.55-0.65 s at sf0.1; the two references
      // plan DIFFERENT exchanges, so ReuseExchange cannot help here)
      .localCheckpoint()
    val keeper = docs.groupBy("h", "ln").agg(min("doc_id").as("keeper"))
    docs.join(keeper, Seq("h", "ln"))
      .withColumn("is_dup", (col("doc_id") =!= col("keeper")).cast("long"))
      .groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(col("is_dup")).as("n_dup_docs"),
        sum(col("n_tok")).as("tokens_total"),
        sum(col("is_dup") * col("n_tok")).as("tokens_wasted"))
      .withColumn("waste_e6", expr("tokens_wasted * 1000000 div tokens_total"))
  }

  /** Gini–Simpson token diversity per source: 1 − Σc(c−1)/N(N−1), the
    * probability two tokens drawn without replacement differ — the
    * unbiased companion of [[tDiversityCurve]]'s type/token ratio,
    * exact in e6 integers (numerator and denominator stay inside
    * longs through ~10⁹ tokens per source; past that the statistic
    * moves to the mirrored-double convention). One (source, token)
    * partial agg — the cached KL substrate — then a source rollup. */
  private def tSimpson(s: SparkSession, dir: String): DataFrame = {
    TextOps.sourceTokenCounts(T(s, dir, "documents")).groupBy("source").agg(
        sum(col("c_st")).as("n_tok"),
        sum(col("c_st") * (col("c_st") - 1)).as("coll"))
      .select(col("source"), col("n_tok"),
        (lit(1000000L) - expr("coll * 1000000 div (n_tok * (n_tok - 1))"))
          .as("simpson_e6"))
  }

  /** Wald–Wolfowitz runs test on each event type's daily-delta sign
    * sequence: too FEW runs ⇒ trending/sticky, too MANY ⇒
    * oscillating; the z-score against the n₊n₋ null is the randomness
    * audit a forecasting pipeline runs before trusting residuals.
    * Counts are exact via one series-partitioned lag window over the
    * daily frame; zero deltas drop (the standard two-sign form); the
    * z emission is one mirrored double chain. */
  private def aRunsTest(s: SparkSession, dir: String): DataFrame = {
    val daily = T(s, dir, "events")
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        expr("CAST(round(value * 10000) AS BIGINT)").as("v_fx"))
      .groupBy("event_type", "day").agg(sum("v_fx").as("x"))
    val w = Window.partitionBy("event_type").orderBy("day")
    val signs = daily
      .withColumn("d", col("x") - lag(col("x"), 1).over(w))
      .filter(col("d").isNotNull && col("d") =!= 0)
      .withColumn("sgn", when(col("d") > 0, 1L).otherwise(-1L))
    val runs = signs
      .withColumn("prev_sgn", lag(col("sgn"), 1).over(w))
      .groupBy("event_type").agg(
        count(lit(1)).as("n_signs"),
        sum(when(col("sgn") === 1, 1L).otherwise(0L)).as("n_plus"),
        sum(when(col("sgn") === -1, 1L).otherwise(0L)).as("n_minus"),
        (sum(when(col("prev_sgn").isNull || col("prev_sgn") =!= col("sgn"), 1L)
          .otherwise(0L))).as("n_runs"))
    // null mean/variance of the runs count given n+ / n-
    val mu = lit(1.0) + lit(2.0) * col("n_plus") * col("n_minus") /
      (col("n_plus") + col("n_minus"))
    val va = (lit(2.0) * col("n_plus") * col("n_minus") *
      (lit(2.0) * col("n_plus") * col("n_minus") - col("n_plus") - col("n_minus"))) /
      ((col("n_plus") + col("n_minus")) * (col("n_plus") + col("n_minus")) *
        (col("n_plus") + col("n_minus") - 1))
    runs.select(col("event_type"), col("n_signs"), col("n_plus"),
      col("n_minus"), col("n_runs"),
      round((col("n_runs") - mu) / sqrt(va), 4).as("z"))
  }

  /** Changepoint LOCALIZATION for each event type's daily series —
    * the companion of [[aCusum]]'s detection: τ̂ = the day maximizing
    * the scaled CUSUM deviation |n·S_t − t·S_n| (the classic
    * at-most-one-change estimator), kept exact by scaling with n
    * instead of dividing by it (n·S stays far inside longs at any
    * calendar length), ties to the earliest day via the lexicographic
    * struct-max. Windows are series-partitioned over the
    * calendar-bounded daily frame; the argmax is one partial-agg'd
    * struct-max, no rank window. Emits the shift direction read off
    * the deviation's sign at τ̂. */
  private def aChangepoint(s: SparkSession, dir: String): DataFrame = {
    val daily = T(s, dir, "events")
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        expr("CAST(round(value * 10000) AS BIGINT)").as("v_fx"))
      .groupBy("event_type", "day").agg(sum("v_fx").as("x"))
    val wc = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, 0)
    val tot = Window.partitionBy("event_type")
    daily
      .withColumn("st", sum(col("x")).over(wc))
      .withColumn("t", count(lit(1)).over(wc))
      .withColumn("sn", sum(col("x")).over(tot))
      .withColumn("n", count(lit(1)).over(tot))
      .withColumn("dev", col("n") * col("st") - col("t") * col("sn"))
      .groupBy("event_type").agg(
        max(struct(abs(col("dev")).as("a"), (-col("day")).as("negd"),
          col("dev").as("dev"), col("n").as("n"))).as("b"))
      .select(col("event_type"), (-col("b.negd")).as("tau_day"),
        col("b.a").as("dev_abs"),
        when(col("b.dev") > 0, "down").otherwise("up").as("shift_dir"),
        col("b.n").as("n_days"))
  }

  /** HITS hubs & authorities over the DIRECTED customer→supplier
    * purchase graph (Kleinberg 1999): four exact e6 mutual-
    * reinforcement rounds — a = Eᵀh then h = E·a, each rescaled by
    * its max via truncating division (the integer stand-in for the
    * norm, deterministic in both engines) — so big buyers surface as
    * hubs and widely-bought-from suppliers as authorities, a
    * DIFFERENT ranking than [[gPagerank]]'s symmetrized random walk.
    * Bounded unroll over the cached directed edge frame (the
    * purchaseEdges convention, un-symmetrized); per-round maxes are
    * 1-row broadcasts; all longs (Σw·10⁶ ≤ ~10¹², ×10⁶ still inside
    * 2⁶³). The oracle replays the identical four rounds unrolled. */
  private def gHits(s: SparkSession, dir: String): DataFrame = {
    val e = PlanCache.cached("purchase-edges-directed",
        T(s, dir, "lineitem"), T(s, dir, "orders")) {
      val li = T(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      val ord = T(s, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_custkey"))
      li.join(ord, "l_orderkey")
        .groupBy(col("o_custkey").as("c"), col("l_suppkey").as("p"))
        .agg(count(lit(1)).as("w"))
    }
    var h = e.select(col("c")).distinct()
      .select(col("c"), lit(1000000L).as("h"))
    var a: DataFrame = null
    // each phase MATERIALIZES its raw scores (eager localCheckpoint)
    // before taking the max: the rescale needs the same frame twice
    // (once for the 1-row max broadcast, once as the data path), and
    // referencing the live iterate twice doubles the logical plan per
    // phase — 2^8 subtree copies by round 4, measured 333 s vs ~4 s
    // at sf0.1. A global-window max would also be single-reference
    // but funnels the entity-sized frame through one task; the
    // checkpoint + distributed agg is the 100 TB shape (8 small
    // staging jobs over the cached edge frame). r12 re-measured the
    // once-per-round alternative (checkpoint only hraw, let
    // ReuseExchange dedupe the double-referenced araw): 6.4 s vs
    // 5.1 s warm at sf0.1 — AQE does NOT reuse the agg exchange
    // across the broadcast boundary, so araw computed twice per
    // round and the per-phase form stays the fastest shape. r13
    // closed the cadence question (docs/SCALE.md round 13,
    // hash-equal variants, interleaved 2-rep MINs): once-per-round
    // fold 5.47 s vs per-phase 3.75 s (the k=2 negative, now measured
    // directly), per-phase NON-EAGER checkpoints 3.68 s — a wash, so
    // eager stays (it also fires in-build validations
    // deterministically).
    for (_ <- 1 to 4) {
      val araw = e.join(h, "c").groupBy("p").agg(sum(expr("w * h")).as("ar"))
        .localCheckpoint()
      a = araw.crossJoin(broadcast(araw.agg(max("ar").as("m"))))
        .select(col("p"), expr("ar * 1000000 div m").as("a"))
      val hraw = e.join(a, "p").groupBy("c").agg(sum(expr("w * a")).as("hr"))
        .localCheckpoint()
      h = hraw.crossJoin(broadcast(hraw.agg(max("hr").as("m"))))
        .select(col("c"), expr("hr * 1000000 div m").as("h"))
    }
    a.select(concat(lit("s"), col("p").cast("string")).as("node"),
        col("a").as("score_e6"), lit("authority").as("kind"))
      .unionAll(h.select(concat(lit("c"), col("c").cast("string")),
        col("h"), lit("hub")))
  }

  // =====================================================================
  // Round-10 late widening: graph structure, freshness, readability,
  // capped perceptual banding
  // =====================================================================

  /** Label-propagation communities over the purchase graph, PlanCached:
    * [[gCommunities]] returns the frame and [[gModularity]] scores it,
    * so the 4-round iterate runs once per session. labelPropagation
    * localCheckpoints its edge input EAGERLY at construction; keyed on
    * the edge frame, that job runs only on a miss (measured:
    * g_modularity 6.99 s rebuilding vs reading the shared frame). */
  private def purchaseCommunities(s: SparkSession, dir: String): DataFrame =
    PlanCache.cached("purchase-communities", purchaseEdges(s, dir)) {
      graft.ops.Graph.labelPropagation(purchaseEdges(s, dir), 4)
    }

  /** Per-node local clustering coefficient of the LSH near-dup graph
    * ([[graft.ops.Graph.localClustering]] over the shared verified
    * pair frame): g_triangles' scalar unrolled to the per-document
    * "is this duplicate a clique member or a chain link" dial a dedup
    * report ranks by. Same degeneracy-bounded wedge plan; cc in e4
    * fixed point via the shared truncating division. */
  /** Degree distribution of the bipartite purchase graph (customer
    * side) — the first structural health check a graph gets: distinct
    * parts per customer folded to a degree histogram with cumulative
    * node share in exact e4. The data-sized work is one distinct +
    * one keyed agg; both windows then run over the degree-BOUNDED
    * histogram (the s_auc convention — windows above aggregates,
    * never above data). */
  private def gDegreeDist(s: SparkSession, dir: String): DataFrame = {
    val deg = T(s, dir, "lineitem")
      .join(T(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey"), col("l_partkey")).distinct()
      .groupBy("o_custkey").agg(count(lit(1)).as("degree"))
    val hist = deg.groupBy("degree").agg(count(lit(1)).as("n_nodes"))
    val wc = Window.orderBy("degree").rowsBetween(Window.unboundedPreceding, 0)
    val wa = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    hist.withColumn("cum_nodes", sum(col("n_nodes")).over(wc))
      .withColumn("n_total", sum(col("n_nodes")).over(wa))
      .select(col("degree"), col("n_nodes"), col("cum_nodes"),
        expr("cum_nodes * 10000 div n_total").as("cum_share_e4"))
  }

  private def gClusteringCoeff(s: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.lshVerifiedJaccard(T(s, dir, "documents"), 3, 16, 4, 4, 0.5)
      .select("doc_a", "doc_b")
    graft.ops.Graph.localClustering(pairs)
  }

  /** Newman modularity of the label-propagation communities on the
    * weighted purchase graph — the "was that partition any good"
    * score read right after g_communities. Per community c over the
    * symmetrized directed edge list (total weight M): q_e6 =
    * (intra_c·10⁶) div M − ((k_c·10⁶ div M)²) div 10⁶, all truncating
    * long arithmetic mirrored by the oracle (k_c·10⁶ needs
    * k_c < 9.2·10¹², ~10 TB of edge weight at this scale; shrink the
    * fixed point for more). Shape: two broadcast-ready joins of the
    * edge frame against the vertex-sized community frame, one
    * community-keyed partial agg, one 1-row total broadcast — no
    * window, nothing collected. Σ q_e6 over the output is the
    * partition's modularity Q. */
  private def gModularity(s: SparkSession, dir: String): DataFrame =
    graft.ops.Graph.modularity(
      purchaseEdges(s, dir), purchaseCommunities(s, dir))

  /** Per-type freshness report over the event stream — the first
    * question an ingest operator asks of a 100 TB feed: when did each
    * type last arrive, how far behind the freshest type is it, and
    * how much of it landed in the trailing 24 h. One corpus scan:
    * the global max is a 1-row broadcast folded into the per-type
    * aggregate (carried through groupBy as max of a constant), all
    * exact microseconds. */
  private def pFreshness(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events")
      .select(col("event_type"), expr("unix_micros(ts)").as("us"))
    val gmax = ev.agg(max(col("us")).as("g_us"))
    ev.crossJoin(broadcast(gmax))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_total"),
        max(col("us")).as("last_us"),
        max(col("g_us")).as("g_us"),
        sum(when(col("us") >= col("g_us") - 86400000000L, 1L).otherwise(0L))
          .as("n_last_day"))
      .select(col("event_type"), col("n_total"), col("last_us"),
        (col("g_us") - col("last_us")).as("lag_us"),
        col("n_last_day"),
        (col("g_us") - col("last_us") <= 21600000000L).as("fresh_6h"))
  }

  /** The (event_type, day) physical-file model of the events feed —
    * one row per file a daily-partitioned writer would have produced,
    * with the p_file_plan declared row-size formula. Shared input of
    * the layout-advisor family below. */
  private def eventFiles(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "events")
      .select(col("event_type").as("grp"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        (lit(32L) + length(col("event_type")).cast("long") +
          length(col("props")).cast("long")).as("row_bytes"))
      .groupBy("grp", "day")
      .agg(count(lit(1)).as("n_rows"), sum(col("row_bytes")).as("est_bytes"))

  /** Partition-skew advisor ([[graft.ops.Layout.partitionSkew]]) over
    * the daily event partitions: per type, the fattest day versus the
    * mean in exact e4 plus the salt factor a writer would shard a hot
    * key by. The advisor an operator reads before keying a 100 TB
    * shuffle; the hot/salting arm is exercised on a planted frame in
    * WideningPinsSpec (the fixture feed is deliberately uniform). */
  private def pPartitionSkew(s: SparkSession, dir: String): DataFrame =
    graft.ops.Layout.partitionSkew(
      eventFiles(s, dir).select(col("grp"), col("n_rows").as("n_part_rows")))
      .withColumnRenamed("grp", "event_type")

  /** Compaction planner ([[graft.ops.Layout.compactionPlan]]) over the
    * same daily files: small-file census under a 1 MiB threshold and
    * the 128 MiB-target rewrite (file count + merge factor) per type —
    * the anti-small-files pass a 100 TB lake schedules nightly. */
  private def pCompactionPlan(s: SparkSession, dir: String): DataFrame =
    graft.ops.Layout.compactionPlan(eventFiles(s, dir),
      targetBytes = 134217728L, smallBytes = 1048576L)
      .withColumnRenamed("grp", "event_type")

  /** ANALYZE-style column-statistics catalog over the events table in
    * ONE scan: exact row count, null count, exact NDV and min/max per
    * declared column, emitted as a (col_name, stats) table — the
    * stats a cost-based optimizer or a data-contract checker reads.
    * Long columns carry min/max as longs, string columns as strings
    * (binary collation in both engines), with the other pair null.
    * Shape: one aggregate pass (Spark plans the multi-distinct via
    * expand — the exact, oracle-checkable form; at 100 TB the KMV
    * sketch rows are the cheap twin) + a literal-struct explode (the
    * e_pii_report shape). */
  private def pStatsProfile(s: SparkSession, dir: String): DataFrame = {
    val a = T(s, dir, "events").agg(
      count(lit(1)).as("n"),
      sum(col("event_id").isNull.cast("long")).as("nn_id"),
      countDistinct(col("event_id")).as("ndv_id"),
      min(col("event_id")).as("mn_id"), max(col("event_id")).as("mx_id"),
      sum(col("user_id").isNull.cast("long")).as("nn_uid"),
      countDistinct(col("user_id")).as("ndv_uid"),
      min(col("user_id")).as("mn_uid"), max(col("user_id")).as("mx_uid"),
      sum(col("event_type").isNull.cast("long")).as("nn_ty"),
      countDistinct(col("event_type")).as("ndv_ty"),
      min(col("event_type")).as("mn_ty"), max(col("event_type")).as("mx_ty"),
      sum(col("props").isNull.cast("long")).as("nn_pr"),
      countDistinct(col("props")).as("ndv_pr"),
      min(col("props")).as("mn_pr"), max(col("props")).as("mx_pr"))
    val nullL = lit(null).cast("long")
    val nullS = lit(null).cast("string")
    a.select(explode(array(
      struct(lit("event_id").as("col_name"), col("n"),
        col("nn_id").as("n_null"), col("ndv_id").as("ndv"),
        col("mn_id").as("min_long"), col("mx_id").as("max_long"),
        nullS.as("min_str"), nullS.as("max_str")),
      struct(lit("user_id").as("col_name"), col("n"),
        col("nn_uid").as("n_null"), col("ndv_uid").as("ndv"),
        col("mn_uid").as("min_long"), col("mx_uid").as("max_long"),
        nullS.as("min_str"), nullS.as("max_str")),
      struct(lit("event_type").as("col_name"), col("n"),
        col("nn_ty").as("n_null"), col("ndv_ty").as("ndv"),
        nullL.as("min_long"), nullL.as("max_long"),
        col("mn_ty").as("min_str"), col("mx_ty").as("max_str")),
      struct(lit("props").as("col_name"), col("n"),
        col("nn_pr").as("n_null"), col("ndv_pr").as("ndv"),
        nullL.as("min_long"), nullL.as("max_long"),
        col("mn_pr").as("min_str"), col("mx_pr").as("max_str")))).as("r"))
      .select(col("r.*"))
  }

  /** The approximate twin of [[pStatsProfile]] (bench extra, not a
    * registry row — ndv is estimated): identical report shape with
    * `approx_count_distinct` HLL sketches instead of exact
    * countDistinct. The exact form compiles to one Expand (the scan
    * multiplied per distinct aggregate — 4× here); the sketches merge
    * in a single un-expanded pass, which is what a stats profiler
    * actually runs at 100 TB. Measured delta rides
    * bench_details.json's extras (the a_distinct_hll convention). */
  private[graft] def pStatsProfileHll(s: SparkSession, dir: String): DataFrame = {
    val a = T(s, dir, "events").agg(
      count(lit(1)).as("n"),
      sum(col("event_id").isNull.cast("long")).as("nn_id"),
      approx_count_distinct(col("event_id")).as("ndv_id"),
      min(col("event_id")).as("mn_id"), max(col("event_id")).as("mx_id"),
      sum(col("user_id").isNull.cast("long")).as("nn_uid"),
      approx_count_distinct(col("user_id")).as("ndv_uid"),
      min(col("user_id")).as("mn_uid"), max(col("user_id")).as("mx_uid"),
      sum(col("event_type").isNull.cast("long")).as("nn_ty"),
      approx_count_distinct(col("event_type")).as("ndv_ty"),
      min(col("event_type")).as("mn_ty"), max(col("event_type")).as("mx_ty"),
      sum(col("props").isNull.cast("long")).as("nn_pr"),
      approx_count_distinct(col("props")).as("ndv_pr"),
      min(col("props")).as("mn_pr"), max(col("props")).as("mx_pr"))
    val nullL = lit(null).cast("long")
    val nullS = lit(null).cast("string")
    a.select(explode(array(
      struct(lit("event_id").as("col_name"), col("n"),
        col("nn_id").as("n_null"), col("ndv_id").as("ndv"),
        col("mn_id").as("min_long"), col("mx_id").as("max_long"),
        nullS.as("min_str"), nullS.as("max_str")),
      struct(lit("user_id").as("col_name"), col("n"),
        col("nn_uid").as("n_null"), col("ndv_uid").as("ndv"),
        col("mn_uid").as("min_long"), col("mx_uid").as("max_long"),
        nullS.as("min_str"), nullS.as("max_str")),
      struct(lit("event_type").as("col_name"), col("n"),
        col("nn_ty").as("n_null"), col("ndv_ty").as("ndv"),
        nullL.as("min_long"), nullL.as("max_long"),
        col("mn_ty").as("min_str"), col("mx_ty").as("max_str")),
      struct(lit("props").as("col_name"), col("n"),
        col("nn_pr").as("n_null"), col("ndv_pr").as("ndv"),
        nullL.as("min_long"), nullL.as("max_long"),
        col("mn_pr").as("min_str"), col("mx_pr").as("max_str")))).as("r"))
      .select(col("r.*"))
  }

  /** Retention planner: against a declared 14-day policy measured
    * from the feed's freshest day (1-row broadcast fold, the
    * p_freshness convention), how many rows and bytes each type
    * would reclaim — the table a lifecycle job reads before issuing
    * partition drops. Exact longs; one partial-agg scan. */
  private def pRetentionPlan(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events")
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        (lit(32L) + length(col("event_type")).cast("long") +
          length(col("props")).cast("long")).as("row_bytes"))
    val gmax = ev.agg(max(col("day")).as("g_day"))
    ev.crossJoin(broadcast(gmax))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("day") <= col("g_day") - 14L, 1L).otherwise(0L))
          .as("n_expired"),
        sum(when(col("day") <= col("g_day") - 14L, col("row_bytes"))
          .otherwise(0L)).as("bytes_reclaimed"))
      .withColumn("n_kept", col("n_rows") - col("n_expired"))
  }

  /** Flesch readability per document in e2 fixed point — the
    * classic quality-filter feature computed without a single UDF:
    * words from the shared token split, sentences as `[.!?]+` runs
    * (min 1), syllables as per-token vowel-group counts with the
    * standard min-1-per-word floor (a higher-order aggregate over the
    * token array — per-word floors are impossible on a global regex
    * count without lookbehind, which RE2 lacks). Both scores are sums
    * of truncating long divisions, so the oracle replays them
    * bit-for-bit: FK grade = 0.39·W/S + 11.8·Y/W − 15.59 and reading
    * ease = 206.84 − 1.015·W/S − 84.6·Y/W, each ×100. Entirely
    * row-local (one scan, no shuffle at all). */
  private def tReadability(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "documents")
      .select(col("doc_id"), col("text"), Codecs.tokens(col("text")).as("tk"))
      .filter(size(col("tk")) >= 1)
      .select(col("doc_id"),
        size(col("tk")).cast("long").as("n_words"),
        greatest(regexp_count(col("text"), lit("[.!?]+")), lit(1))
          .cast("long").as("n_sentences"),
        expr("""aggregate(tk, CAST(0 AS BIGINT),
          (acc, t) -> acc + greatest(regexp_count(t, '[aeiouy]+'), 1))""")
          .as("n_syllables"))
      .select(col("doc_id"), col("n_words"), col("n_sentences"), col("n_syllables"),
        expr("(100L * n_words) div n_sentences").as("wps_e2"),
        expr("(100L * n_syllables) div n_words").as("spw_e2"),
        expr("""(39L * n_words) div n_sentences
          + (1180L * n_syllables) div n_words - 1559L""").as("fk_e2"),
        expr("""20684L - (1015L * n_words) div (10L * n_sentences)
          - (8460L * n_syllables) div n_words""").as("fre_e2"))

  /** [[mAhashDedup]] under the bucket cap
    * ([[graft.ext.Dedup.simhashPairsCapped]], cap 32): the skew dial
    * for perceptual banding at corpus scale — hot (segment, value)
    * buckets (boilerplate assets sharing a byte pattern; the sf0.01
    * corpus already has buckets of 81/64/55 on a 500-doc corpus) are
    * dropped before the self-join, bounding per-bucket fan-out at
    * cap² where the uncapped join grows with the square of the pile.
    * The oracle replays the banding WITH the cap, so the gate pins
    * the capped contract itself (recall only through uncapped
    * segments), not a lossy stand-in. */
  private def mAhashCapped(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairsCapped(
      Multimodal.ahashFingerprints(T(s, dir, "documents")), 6, 60, 32L)

  /** Reciprocity of the DIRECTED event-type transition graph — how
    * symmetric user journeys are (view⇄click loops vs one-way
    * funnels). Self-transitions are excluded (they are trivially
    * reciprocal and would inflate the score). Two dials in e4 via the
    * shared truncating division: edge reciprocity (fraction of
    * ordered type pairs whose reverse edge exists) and the weighted
    * form Σ min(n_ab, n_ba) / Σ n_ab (Garlaschelli & Loffredo 2004).
    * Shape: the one data-sized pass is the markovMatrix-shaped lead
    * window (user-partitioned); the edge frame is type²-bounded, so
    * the reverse self-join AQE-broadcasts and the final fold is one
    * 1-row aggregate. */
  private def gReciprocity(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val tr = T(s, dir, "events")
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull && col("next_type") =!= col("event_type"))
      .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val rev = tr.select(col("to_type").as("from_type"),
      col("from_type").as("to_type"), col("n").as("n_rev"))
    tr.join(rev, Seq("from_type", "to_type"), "left")
      .agg(count(lit(1)).as("n_edges"),
        sum(when(col("n_rev").isNotNull, 1L).otherwise(0L)).as("n_recip_edges"),
        sum(col("n")).as("w_total"),
        sum(coalesce(least(col("n"), col("n_rev")), lit(0L))).as("w_recip"))
      .select(col("n_edges"), col("n_recip_edges"), col("w_total"), col("w_recip"),
        expr("(n_recip_edges * 10000L) div n_edges").as("edge_recip_e4"),
        expr("(w_recip * 10000L) div w_total").as("w_recip_e4"))
  }

  /** Byte-entropy screen per media asset — the standard
    * corrupt/compressed/encrypted payload detector an ingest pipeline
    * runs before wasting decode time (near-8-bits/byte means already
    * compressed or ciphertext; very low means padding or a stuck
    * sensor). Character codes stand in for payload bytes (the
    * [[graft.ext.Multimodal]] stub-decode convention — real codecs
    * are environment-blocked; the Spark-side shape is the product).
    * Entropy = ln(n) − Σ c·ln(c) / n over the per-asset symbol
    * histogram: counts are exact longs, and the one double chain sums
    * ≤ |alphabet| terms before a single round-4 (the xent_nats
    * convention — far inside hash tolerance). Shape: one explode
    * fan-out (row-local), two keyed partial aggs; the histogram is
    * ≤ alphabet-sized per asset, so the second agg is tiny. */
  private def mPayloadEntropy(s: SparkSession, dir: String): DataFrame =
    // One native row-local pass since r15 (guide §4; VERDICT r14 task
    // 5): the composed form exploded one row per CHARACTER and paid an
    // O(len) substring byte-scan per row — O(len²) per document — then
    // shuffled the corpus×len frame through two hash aggregations. The
    // native kernel emits the identical (n_chars, n_distinct, clnc)
    // statistics with ZERO shuffle (CharEntropyStatsSpec pins equality;
    // the oracle still replays the composed SQL). The `st` struct is
    // projected ONCE and multi-referenced, so CollapseProject keeps the
    // single evaluation.
    T(s, dir, "documents")
      .filter(length(col("text")) >= 1)
      .select(col("doc_id").as("asset_id"),
        graft.functions.CharEntropyStats.charEntropyStats(col("text")).as("st"))
      .select(col("asset_id"), col("st.n_chars").as("n_chars"),
        col("st.n_distinct").as("n_distinct"),
        round(expr("ln(st.n_chars) - st.clnc / st.n_chars"), 4).as("entropy_nats"))

  /** Kaplan–Meier survival curve for time-to-first-purchase (Kaplan &
    * Meier 1958): per user, duration = days from first event to first
    * purchase; users who never purchase are right-censored at the
    * corpus horizon. At each distinct duration t: n_risk (reverse
    * cumulative count), d_events, c_censored, and
    * S(t) = Π (1 − dᵢ/nᵢ) computed as exp(Σ ln(1 − dᵢ/nᵢ)) — counts
    * stay exact longs; the one double chain (ln, ordered cumsum, exp)
    * rounds once at 4 (the xent_nats convention; a step where every
    * at-risk user converts sends ln → −∞ and S → 0 exactly, in both
    * engines). Shape: one user-keyed partial agg over the corpus, a
    * 1-row horizon broadcast, then everything rides the
    * duration-histogram frame — bounded by the calendar span, so the
    * two global windows run over days, never data (the CDF-above-
    * bounded-histogram convention). */
  private def aSurvival(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events").select(col("user_id"), col("event_type"),
      expr("unix_micros(ts) div 86400000000").as("day"))
    val per = ev.groupBy("user_id").agg(
      min("day").as("d0"),
      min(when(col("event_type") === "purchase", col("day"))).as("dp"))
    val gmax = ev.agg(max("day").as("dmax"))
    val byT = per.crossJoin(broadcast(gmax))
      .select(
        when(col("dp").isNotNull, col("dp") - col("d0"))
          .otherwise(col("dmax") - col("d0")).as("t"),
        col("dp").isNotNull.cast("long").as("ev"))
      .groupBy("t").agg(count(lit(1)).as("n_at_t"), sum("ev").as("d_events"))
    val wRisk = Window.orderBy(col("t"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val wCum = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // a step where EVERY at-risk user converts has factor 0: ln is
    // undefined there (Spark ln(0) is NULL — silently dropped from
    // the window sum — and DuckDB errors), so the zero is carried
    // explicitly: S = 0 from the first such step onward
    byT.withColumn("n_risk", sum("n_at_t").over(wRisk))
      .withColumn("dead",
        (col("d_events") === col("n_risk")).cast("long"))
      .withColumn("anydead", sum("dead").over(wCum))
      .withColumn("lnterm", when(col("d_events") < col("n_risk"),
        expr("ln(CAST(n_risk - d_events AS DOUBLE) / n_risk)"))
        .otherwise(lit(0.0)))
      .withColumn("s_km", when(col("anydead") > 0, lit(0.0))
        .otherwise(round(exp(sum("lnterm").over(wCum)), 4)))
      .select(col("t"), col("n_risk"), col("d_events"),
        (col("n_at_t") - col("d_events")).as("c_censored"), col("s_km"))
  }

  /** Lorenz curve of customer revenue at the deciles — the
    * distribution curve behind [[aGini]]'s scalar, on the same
    * 4096-bucket quantized histogram (members of a bucket carry the
    * bucket mean, so the poorest-m prefix inside a bucket takes a
    * proportional slice of its mass). For k = 1..10:
    * m_k = (k·n) div 10 poorest customers, their revenue share =
    * (cum_before·c + bx·(m_k − start + 1)) / c / t — exact longs into
    * two mirrored double divisions rounded once at 6 (the gini
    * convention). Shape: the histogram is value-bounded (≤ 4096
    * rows), the decile probe is a 10-row broadcast range-join against
    * it, and the only windows are histogram-sized. */
  private def aLorenz(s: SparkSession, dir: String): DataFrame =
    lorenzDeciles(s, custRevenue(s, dir), dense = false)

  /** Densified twin of [[aLorenz]]: emits ALL ten decile rows even on
    * n < 10 corpora where a decile's member count (k·n) div 10 floors
    * to zero and the range probe finds no bucket — those rows carry
    * n_members = 0 and cum_share = 0.0 explicitly instead of being
    * dropped (the round-10 documented edge, now closed on the gate).
    * Identical histogram algebra; the probe join turns left_outer with
    * a mirrored coalesce, so on any n ≥ 10 corpus the two twins are
    * row-identical (LorenzDenseSpec pins both regimes by hand). */
  private def aLorenzDense(s: SparkSession, dir: String): DataFrame =
    lorenzDeciles(s, custRevenue(s, dir), dense = true)

  /** Per-customer revenue in exact fixed point — the shared input of
    * [[aGini]]'s curve family. */
  private def custRevenue(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .select(col("l_orderkey"),
        (expr("CAST(round(l_extendedprice * 100) AS BIGINT)") *
          (lit(100L) - expr("CAST(round(l_discount * 100) AS BIGINT)"))).as("rev_fx"))
      .join(T(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_custkey").agg(sum("rev_fx").as("x"))

  /** Lorenz decile engine over a (key, x) revenue frame — see
    * [[aLorenz]] for the algebra. `dense = true` keeps deciles whose
    * member count floors to zero. */
  private[graft] def lorenzDeciles(s: SparkSession, rev: DataFrame,
      dense: Boolean): DataFrame = {
    val mx = rev.agg(max(col("x")).as("mx"))
    val bucketed = rev.crossJoin(broadcast(mx))
      .select(expr("x * 4096 div (mx + 1)").as("b"), col("x"))
      .groupBy("b").agg(count(lit(1)).as("c"), sum("x").as("bx"))
    val cum = bucketed
      .withColumn("start", coalesce(sum(col("c")).over(
        Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)) + lit(1L))
      .withColumn("cum_before", coalesce(sum(col("bx")).over(
        Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .withColumn("n", sum(col("c")).over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("t", sum(col("bx")).over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    val deciles = s.range(1, 11).select(col("id").as("k"))
    val probe = expr("(k * n) div 10 >= start AND (k * n) div 10 < start + c")
    val share = round(expr("""(CAST(cum_before AS DOUBLE) * c + CAST(bx AS DOUBLE)
          * ((k * n) div 10 - start + 1)) / c / t"""), 6)
    if (dense)
      deciles.join(cum, probe, "left_outer")
        .select(col("k"),
          coalesce(expr("(k * n) div 10"), lit(0L)).as("n_members"),
          coalesce(share, lit(0.0)).as("cum_share"))
    else
      broadcast(deciles).join(cum, probe)
        .select(col("k"), expr("(k * n) div 10").as("n_members"),
          share.as("cum_share"))
  }

  /** Code-vs-prose detector — the pretraining-mix router that decides
    * whether a document flows to the code or the text pipeline. Two
    * exact integer features per doc: code-symbol density (braces,
    * brackets, semicolons, comparison/assignment glyphs per char) and
    * code-keyword hit rate over the shared token split (a literal
    * keyword set — portable across engines unlike any tokenizer
    * model); verdict by integer-threshold OR. Entirely row-local:
    * one regexp count + one higher-order token fold, no shuffle. */
  private def tCodeDetect(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "documents")
      .select(col("doc_id"), col("text"), Codecs.tokens(col("text")).as("tk"))
      .filter(size(col("tk")) >= 1)
      .select(col("doc_id"),
        regexp_count(col("text"), lit("[{}()\\[\\];=<>]"))
          .cast("long").as("n_sym"),
        expr("""CAST(size(filter(tk, t -> t IN ('def','class','return',
          'import','function','var','const','int','void','public','if',
          'else','for','while'))) AS BIGINT)""").as("n_kw"),
        size(col("tk")).cast("long").as("n_words"),
        length(col("text")).cast("long").as("n_chars"))
      .select(col("doc_id"), col("n_sym"), col("n_kw"),
        expr("(n_sym * 10000L) div n_chars").as("sym_e4"),
        expr("(n_kw * 10000L) div n_words").as("kw_e4"),
        expr("""(n_sym * 10000L) div n_chars >= 300L
          OR (n_kw * 10000L) div n_words >= 500L""").as("is_code"))

  /** Dedup-threshold calibration sweep — the table an operator reads
    * before committing a Jaccard cutoff to a 100 TB dedup run: for
    * each candidate threshold, how many pairs fire and how many
    * documents get touched. Derived entirely from the shared
    * LSH-verified pair frame (one literal-array explode, two keyed
    * aggs — no new candidate generation), so the sweep costs a scan
    * of the pair list, not a re-run of the index. Thresholds compare
    * in e4 integers (the round-4 jaccard re-quantized once) so the
    * cut is engine-exact at every dial. Floor: the pair frame is
    * generated at 0.5, so the sweep calibrates the tightening
    * direction — sweeping below the generation threshold would need a
    * looser index, which is a different (and priced) index build. */
  private def dThresholdSweep(s: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.lshVerifiedJaccard(T(s, dir, "documents"), 3, 16, 4, 4, 0.5)
      .select(col("doc_a"), col("doc_b"),
        expr("CAST(round(jaccard * 10000) AS BIGINT)").as("j_e4"))
    val swept = pairs.select(col("doc_a"), col("doc_b"), col("j_e4"),
        explode(array(Seq(5000L, 6000L, 7000L, 8000L, 9000L).map(lit): _*))
          .as("threshold_e4"))
      .filter(col("j_e4") >= col("threshold_e4"))
    swept.groupBy("threshold_e4")
      .agg(count(lit(1)).as("n_pairs"))
      .join(
        swept.select(col("threshold_e4"),
            explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
          .groupBy("threshold_e4")
          .agg(countDistinct(col("doc_id")).as("n_docs")),
        Seq("threshold_e4"))
  }

  /** Embedding-norm hygiene audit — the first check run on a vector
    * corpus before ANY similarity work: per label, how many vectors,
    * how many are (quantized-)zero, and the squared-norm range/mean.
    * Degenerate norms mean an upstream encoder bug (zero rows,
    * un-normalized mixtures) that silently poisons every cosine
    * downstream. Norms are exact longs via the GramMatrixFixed
    * convention (components quantized at e3 BEFORE squaring, so the
    * per-vector fold and the aggregate are order-independent and the
    * oracle replays them bit-for-bit); the mean is one truncating
    * division. One row-local fold + one label-keyed partial agg. */
  private def sNormAudit(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "embeddings")
      .select(col("label"),
        expr("""aggregate(transform(embedding,
          x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)
             * CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)),
          CAST(0 AS BIGINT), (a, b) -> a + b)""").as("n2"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("n2") === 0L, 1L).otherwise(0L)).as("n_zero"),
        min(col("n2")).as("min_n2_fx"),
        max(col("n2")).as("max_n2_fx"),
        sum(col("n2")).as("sum_n2_fx"))
      .select(col("label"), col("n_vecs"), col("n_zero"),
        col("min_n2_fx"), col("max_n2_fx"),
        expr("sum_n2_fx div n_vecs").as("mean_n2_fx"))

  /** Difference-in-differences estimator — the a_abtest companion for
    * designs where treatment lands mid-stream: parity-split treatment
    * (the shared convention), the calendar midpoint as the
    * deterministic pre/post cut (1-row broadcast), per-cell exact
    * sums/counts in e4 fixed point, and the DiD effect
    * (Δtreat − Δcontrol of cell means) as ONE mirrored double chain
    * rounded at 6 (the a_abtest convention — every input to the chain
    * is an exact long, so both engines walk identical doubles). One
    * corpus scan, one 4-cell aggregate; nothing data-sized after the
    * scan. */
  private def aDid(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events").select(
      (col("user_id") % 2 === 0).as("treated"),
      expr("unix_micros(ts) div 86400000000").as("day"),
      expr("CAST(round(value * 10000) AS BIGINT)").as("v_fx"))
    val cut = ev.agg(expr("(min(day) + max(day) + 1) div 2").as("cut"))
    val cells = ev.crossJoin(broadcast(cut))
      .select(col("treated"), (col("day") >= col("cut")).as("post"), col("v_fx"))
      .groupBy("treated", "post")
      .agg(count(lit(1)).as("n"), sum("v_fx").as("s_fx"))
    cells.agg(
        sum(when(col("treated") && col("post"), col("n"))).as("n_tp"),
        sum(when(col("treated") && col("post"), col("s_fx"))).as("s_tp"),
        sum(when(col("treated") && !col("post"), col("n"))).as("n_t0"),
        sum(when(col("treated") && !col("post"), col("s_fx"))).as("s_t0"),
        sum(when(!col("treated") && col("post"), col("n"))).as("n_cp"),
        sum(when(!col("treated") && col("post"), col("s_fx"))).as("s_cp"),
        sum(when(!col("treated") && !col("post"), col("n"))).as("n_c0"),
        sum(when(!col("treated") && !col("post"), col("s_fx"))).as("s_c0"))
      .select(col("n_tp"), col("s_tp"), col("n_t0"), col("s_t0"),
        col("n_cp"), col("s_cp"), col("n_c0"), col("s_c0"),
        round(expr("""(CAST(s_tp AS DOUBLE) / n_tp - CAST(s_t0 AS DOUBLE) / n_t0
           - (CAST(s_cp AS DOUBLE) / n_cp - CAST(s_c0 AS DOUBLE) / n_c0))
           / 10000.0"""), 6).as("did_effect"))
  }

  /** Winsorized mean of customer revenue — the robust headline number
    * a report shows when whale customers would otherwise own the
    * plain mean. Same 4096-bucket quantized histogram as
    * [[aGini]]/[[aLorenz]] (members carry their bucket mean): members
    * below the p5 bucket clamp UP to its mean, above the p95 bucket
    * clamp DOWN to its mean, everything between keeps its mass. All
    * counts and masses are exact longs; the mean is one mirrored
    * double chain rounded at 4 (the cross-multiplied exact form
    * overflows at bx·c_lo·c_hi ≈ 10²⁰ — the documented long-budget
    * trade). Shape: everything after the customer rollup rides the
    * ≤ 4096-row histogram; the clamp buckets are 1-row broadcasts. */
  private def aWinsorized(s: SparkSession, dir: String): DataFrame = {
    val rev = T(s, dir, "lineitem")
      .select(col("l_orderkey"),
        (expr("CAST(round(l_extendedprice * 100) AS BIGINT)") *
          (lit(100L) - expr("CAST(round(l_discount * 100) AS BIGINT)"))).as("rev_fx"))
      .join(T(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_custkey").agg(sum("rev_fx").as("x"))
    val mx = rev.agg(max(col("x")).as("mx"))
    val cum = rev.crossJoin(broadcast(mx))
      .select(expr("x * 4096 div (mx + 1)").as("b"), col("x"))
      .groupBy("b").agg(count(lit(1)).as("c"), sum("x").as("bx"))
      .withColumn("start", coalesce(sum(col("c")).over(
        Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)) + lit(1L))
      .withColumn("n", sum(col("c")).over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    val loB = cum.filter(expr(
        "start <= greatest((5 * n) div 100, 1L) AND greatest((5 * n) div 100, 1L) < start + c"))
      .select(col("b").as("b_lo"), col("c").as("c_lo"), col("bx").as("bx_lo"))
    val hiB = cum.filter(expr(
        "start <= greatest((95 * n) div 100, 1L) AND greatest((95 * n) div 100, 1L) < start + c"))
      .select(col("b").as("b_hi"), col("c").as("c_hi"), col("bx").as("bx_hi"))
    cum.crossJoin(broadcast(loB)).crossJoin(broadcast(hiB))
      .agg(max(col("n")).as("n"),
        max(col("b_lo")).as("b_lo"), max(col("b_hi")).as("b_hi"),
        max(col("c_lo")).as("c_lo"), max(col("bx_lo")).as("bx_lo"),
        max(col("c_hi")).as("c_hi"), max(col("bx_hi")).as("bx_hi"),
        sum(when(col("b") < col("b_lo"), col("c")).otherwise(0L)).as("n_below"),
        sum(when(col("b") > col("b_hi"), col("c")).otherwise(0L)).as("n_above"),
        sum(when(col("b") >= col("b_lo") && col("b") <= col("b_hi"), col("bx"))
          .otherwise(0L)).as("mid_bx"),
        sum(col("bx")).as("t"))
      .select(col("n"), col("b_lo"), col("b_hi"),
        col("n_below"), col("n_above"),
        round(expr("CAST(t AS DOUBLE) / n"), 4).as("mean_fx"),
        round(expr("""(n_below * (CAST(bx_lo AS DOUBLE) / c_lo) + mid_bx
          + n_above * (CAST(bx_hi AS DOUBLE) / c_hi)) / n"""), 4)
          .as("winsor_mean_fx"))
  }

  /** The injected SQL surface end-to-end: [[GraftExtensions]] registers
    * the native expressions (be_int / vec_dot / vec_l2sq) and the whole
    * query then runs through `spark.sql` — parser, analyzer and
    * FunctionRegistry included — instead of the Scala column DSL, so
    * the oracle gate covers the path a SQL-only user takes. The three
    * computed columns are each exact: a 4-byte big-endian round trip
    * (vec_id → binary → be_int), the linear head's logit on the e3
    * floor-quantized embedding dotted with the ×10 integer weights
    * (integer-valued doubles, |Σ| ≪ 2⁵³ — bit-exact in both engines,
    * no transcendental anywhere), and the quantized squared norm via
    * vec_l2sq against the zero vector. Row-local, one scan, codegen'd
    * like every DSL twin. */
  private def qSqlSurface(s: SparkSession, dir: String): DataFrame = {
    GraftExtensions.registerAll(s)
    T(s, dir, "embeddings")
      .withColumn("vbin", graft.codec.BigEndianInt32.beIntEncode(col("vec_id").cast("int")))
      .createOrReplaceTempView("graft_sql_surface")
    val w = ModelWeightsX10.map(v => s"${v}D").mkString(", ")
    val q = "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0D + 0.5D) AS DOUBLE))"
    s.sql(s"""SELECT vec_id,
      CAST(be_int(vbin) AS BIGINT) AS rt_id,
      CAST(vec_dot($q, array($w)) AS BIGINT) + 1000 AS logit_fx,
      CAST(vec_l2sq($q, transform(embedding, x -> 0.0D)) AS BIGINT) AS norm2_fx
    FROM graft_sql_surface""")
  }

  /** [[ModelWeights]] ×10 — the exact integer weights (as doubles) the
    * fixed-point logit convention dots against e3-quantized embeddings:
    * e3·e1 = e4 scale with every product and sum an integer-valued
    * double, so no rounding exists for engines to disagree on. */
  val ModelWeightsX10: Seq[Double] = (1 to 64).map(i => ((i * 37 % 19) - 9).toDouble)

  /** The FULL parity chain as `spark.sql` over a temp view — decode
    * (be_int over the big-endian value bytes, the registered native
    * expression) → context derivation (trace id, messageid baggage,
    * minted set-span) → first-match-wins branching (null predicates to
    * the default branch, the [[graft.ops.ContextOps.branch]] contract)
    * → the three-way log fan-out → the trace-id correlation join.
    * Hash-equal to [[qLogCorrelation]]'s DataFrame rows by
    * construction: every formula is the same md5-prefix / concat /
    * pmod built-in the column DSL compiles to, so the parser +
    * analyzer + FunctionRegistry path is a first-class entry point to
    * the SAME plan (the reference's declarative topology,
    * StreamsConfig.java:30-52, driven from SQL instead of the DSL).
    * The view prep encodes value_int as 4-byte big-endian binary so
    * the SQL side performs a REAL decode; the DuckDB oracle replays
    * the round-trip as the identity (int-range values — the
    * q_sql_surface convention). */
  private def qSqlPipeline(s: SparkSession, dir: String): DataFrame = {
    GraftExtensions.registerAll(s)
    T(s, dir, "events")
      .select(col("event_id"),
        graft.codec.BigEndianInt32.beIntEncode(
          floor(col("value")).cast("int")).as("vbin"))
      .createOrReplaceTempView("graft_sql_pipeline")
    s.sql("""
      WITH rec AS (
        SELECT event_id,
               CAST(be_int(vbin) AS BIGINT) AS value_int,
               substr(md5(CAST(event_id AS STRING)), 1, 16) AS trace_id
        FROM graft_sql_pipeline
      ), ctx AS (
        SELECT *,
               concat('messageid_', CAST(value_int AS STRING)) AS messageid
        FROM rec
      ), evens AS (
        SELECT * FROM ctx WHERE coalesce(pmod(value_int, 2) = 0, false)
      ), odds AS (
        SELECT * FROM ctx WHERE NOT coalesce(pmod(value_int, 2) = 0, false)
      ), logs AS (
        SELECT trace_id,
               concat('Got number: ', CAST(value_int AS STRING)) AS line
        FROM ctx
        UNION ALL
        SELECT trace_id, concat('Even number: ', CAST(value_int AS STRING))
        FROM evens
        UNION ALL
        SELECT CAST(NULL AS STRING), concat('Odd number: ', CAST(value_int AS STRING))
        FROM odds
      )
      SELECT e.event_id, e.trace_id, e.messageid, l.line
      FROM evens e JOIN logs l ON e.trace_id = l.trace_id""")
  }

  /** The interval-overlap join driven from `spark.sql` — the newest
    * join family member reachable through the parser + analyzer the
    * way be_int is (the q_sql_pipeline precedent). The bucketed
    * rewrite is pure built-in SQL, so the WHOLE operator — fan-out
    * cap, bucket explode, bucket equi-join, overlap verify,
    * anchor-bucket uniqueness — expresses as one statement a SQL-only
    * user can copy: `sequence(start div W, end div W)` + `explode` is
    * [[graft.ops.IntervalJoin.overlap]]'s bucket generator,
    * `assert_true(size(..) <= cap)` is its loud runaway-interval
    * guard, and the final `bk = greatest(starts) div W` keeps each
    * overlapping pair exactly once (the anchor instant lies in both
    * intervals, so both sides generated its bucket). View prep (gap
    * sessionization, per-day error windows) mirrors [[aIntervalJoin]]
    * verbatim; plan-pinned to the same Generate + equi-join physical
    * shape and row-pinned equal to the DSL twin (GraftExtensionsSpec).
    * Oracle: the same naive inequality join a_interval_join replays. */
  private def qSqlInterval(s: SparkSession, dir: String): DataFrame = {
    GraftExtensions.registerAll(s)
    graft.ops.Sessionize.sessions(T(s, dir, "events"), 1800L * 1000000L)
      .select(col("user_id"), col("sess_idx"), col("start_us"), col("end_us"))
      .createOrReplaceTempView("graft_sql_sessions")
    T(s, dir, "events").filter(col("event_type") === "error")
      .select(unix_micros(col("ts")).as("us"))
      .groupBy(expr("us div 86400000000").as("err_day"))
      .agg(min(col("us")).as("err_start_us"), max(col("us")).as("err_end_us"))
      .createOrReplaceTempView("graft_sql_errwin")
    s.sql("""
      WITH lb AS (
        SELECT user_id, sess_idx, start_us, end_us, explode(bks) AS bk
        FROM (SELECT *,
                sequence(start_us div 3600000000L, end_us div 3600000000L) AS bks
              FROM graft_sql_sessions)
        WHERE assert_true(size(bks) <= 4096,
          'q_sql_interval: an interval spans more than 4096 buckets') IS NULL
      ), rb AS (
        SELECT err_day, err_start_us, err_end_us, explode(bks) AS bk
        FROM (SELECT *,
                sequence(err_start_us div 3600000000L, err_end_us div 3600000000L) AS bks
              FROM graft_sql_errwin)
        WHERE assert_true(size(bks) <= 4096,
          'q_sql_interval: an interval spans more than 4096 buckets') IS NULL
      )
      SELECT l.user_id, l.sess_idx, r.err_day,
             least(l.end_us, r.err_end_us) - greatest(l.start_us, r.err_start_us)
               AS overlap_us
      FROM lb l JOIN rb r ON l.bk = r.bk
      WHERE l.start_us <= r.err_end_us AND r.err_start_us <= l.end_us
        AND l.bk = greatest(l.start_us, r.err_start_us) div 3600000000L""")
  }

  /** The as-of join driven from `spark.sql` — the third join-family
    * member through the parser (after q_sql_pipeline's correlation
    * equi-join and q_sql_interval's bucketed overlap): the
    * union-and-running-window rewrite ([[graft.ops.AsOfJoin]]) is pure
    * built-in SQL, so the whole operator — side tagging, the single
    * struct carry (last(…, true) must skip missing ROWS, never a null
    * FIELD of the matching row), the (time, side, tiebreak) order that
    * lets an equal-time right row win — expresses as one statement.
    * Same single key-sort-exchange plan as the DSL form (never the
    * O(L×R) range join); row-pinned equal to a_asof_join and sharing
    * its DuckDB ASOF JOIN oracle. */
  private def qSqlAsof(s: SparkSession, dir: String): DataFrame = {
    GraftExtensions.registerAll(s)
    val ev = T(s, dir, "events")
    ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
      .createOrReplaceTempView("graft_sql_purch")
    ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
      .createOrReplaceTempView("graft_sql_click")
    s.sql("""
      WITH u AS (
        SELECT event_id, user_id, ts, 1 AS side,
               CAST(NULL AS STRUCT<event_id: BIGINT, ts: TIMESTAMP>) AS asof_row
        FROM graft_sql_purch
        UNION ALL
        SELECT event_id, user_id, ts, 0 AS side,
               named_struct('event_id', event_id, 'ts', ts) AS asof_row
        FROM graft_sql_click
      ), carried AS (
        SELECT *, last(asof_row, true) OVER (
          PARTITION BY user_id ORDER BY ts, side, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_carried
        FROM u
      )
      SELECT event_id, user_id, unix_micros(ts) AS ts_us,
             asof_carried.event_id AS click_event_id,
             unix_micros(asof_carried.ts) AS click_ts_us
      FROM carried WHERE side = 1""")
  }

  /** The MinHash-LSH near-dup pipeline driven from `spark.sql` — the
    * first AGGREGATE through the FunctionRegistry surface
    * (`minhash_sketch`, the [[graft.functions.MinHashSketch]]
    * TypedImperativeAggregate with its plan-time INT-literal width,
    * the pq_encode convention): tokenize → distinct 3-gram shingles →
    * portable 56-bit hash → the k=16 sketch per doc → 4×4 band keys →
    * the band-cell equi-join candidate generator (doc_a < doc_b,
    * counted once per pair) → exact Jaccard verified ONLY on
    * candidates — every stage a built-in except the one registered
    * aggregate, all in one SQL statement a SQL-only user can copy.
    * The arithmetic mirrors [[graft.ext.Dedup.lshVerifiedJaccard]]'s
    * dials (n=3, k=16, 4 bands × 4 rows, J ≥ 0.5) term for term, so
    * the row is pinned equal to d_lsh_jaccard and shares its LSH_PAIRS
    * oracle. Candidate generation stays the banded equi-join — never
    * all-pairs — from the parser path too (plan-pinned). */
  private def qSqlLsh(s: SparkSession, dir: String): DataFrame = {
    GraftExtensions.registerAll(s)
    T(s, dir, "documents").select(col("doc_id"), col("text"))
      .createOrReplaceTempView("graft_sql_docs")
    def ph(e: String): String =
      s"CAST(conv(substring(md5(CAST($e AS BINARY)), 1, 14), 16, 10) AS BIGINT)"
    val bandExprs = (0 until 4).map { j =>
      val cols = (j * 4 until (j + 1) * 4)
        .map(i => s"element_at(mh, ${i + 1})").mkString(", ")
      s"named_struct('band', $j, 'bkey', ${ph(s"concat_ws(',', $cols)")})"
    }.mkString(",\n          ")
    s.sql(s"""
      WITH tk AS (
        SELECT doc_id, filter(split(lower(trim(text)), '\\\\s+'), t -> length(t) > 0) AS tk
        FROM graft_sql_docs
      ), sh AS (
        SELECT doc_id, ${ph("s")} AS h
        FROM (
          SELECT doc_id, explode(array_distinct(
            CASE WHEN size(tk) >= 3
                 THEN transform(sequence(1, size(tk) - 2), i ->
                   concat_ws(' ', tk[i - 1], tk[i], tk[i + 1]))
                 ELSE CAST(array() AS ARRAY<STRING>) END)) AS s
          FROM tk)
      ), sig AS (
        SELECT doc_id, minhash_sketch(h, 16) AS mh FROM sh GROUP BY doc_id
      ), banded AS (
        SELECT doc_id, b.band AS band, b.bkey AS bkey
        FROM (SELECT doc_id, explode(array(
          $bandExprs)) AS b FROM sig)
      ), cand AS (
        SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
        FROM banded x JOIN banded y
          ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id
        GROUP BY 1, 2
      ), sz AS (
        SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
      ), inter AS (
        SELECT c.doc_a, c.doc_b, count(*) AS n_inter
        FROM cand c
        JOIN sh a ON a.doc_id = c.doc_a
        JOIN sh b ON b.doc_id = c.doc_b AND b.h = a.h
        GROUP BY 1, 2
      )
      SELECT i.doc_a, i.doc_b,
             round(CAST(n_inter AS DOUBLE)
               / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE), 4) AS jaccard
      FROM inter i
      JOIN sz sa ON sa.doc_id = i.doc_a
      JOIN sz sb ON sb.doc_id = i.doc_b
      WHERE round(CAST(n_inter AS DOUBLE)
        / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE), 4) >= 0.5""")
  }

  /** The KMV distinct-count sketch driven from `spark.sql` — the
    * second registered aggregate (`kmv_sketch`, the
    * [[graft.functions.KmvSketch]] k-minimum-values buffer; width is
    * a plan-time INT literal): per-day distinct users as sketch →
    * estimate, where the (k−1)·2⁵⁶/h_k estimator with its exact-count
    * fallback is pure built-ins (size / element_at / round) — the
    * whole a_daily_distinct_kmv row in one statement. Row-pinned
    * equal to the DSL twin and sharing its exact row_number-replay
    * oracle (the estimator is deterministic in the VALUE SET, so
    * DuckDB replays it from the k smallest hashes). */
  private def qSqlKmv(s: SparkSession, dir: String): DataFrame = {
    GraftExtensions.registerAll(s)
    T(s, dir, "events").select(col("ts"), col("user_id"))
      .createOrReplaceTempView("graft_sql_events")
    s.sql("""
      WITH ev AS (
        SELECT CAST(unix_micros(ts) / 86400000000 AS BIGINT) AS day,
               CAST(conv(substring(md5(CAST(CAST(user_id AS STRING) AS BINARY)),
                 1, 14), 16, 10) AS BIGINT) AS h
        FROM graft_sql_events
      ), sk AS (
        SELECT day, kmv_sketch(h, 16) AS sk FROM ev GROUP BY day
      )
      SELECT day,
             CASE WHEN size(sk) < 16 THEN CAST(size(sk) AS BIGINT)
                  ELSE CAST(round(15.0D * 7.2057594037927936E16
                    / element_at(sk, 16)) AS BIGINT) END AS est_distinct
      FROM sk""")
  }

  /** The two-phase exact heavy hitters driven from `spark.sql` — the
    * third registered sketch (`misra_gries_1024`, the
    * [[graft.functions.MisraGries.MGAgg]] Aggregator through the udaf
    * path) and, unlike the DSL form, ONE statement with NO driver
    * collect: phase 1's candidate summary flows to phase 2 as an
    * exploded subquery the exact recount joins (AQE broadcasts the
    * ≤ m-row candidate side), and the integer HAVING
    * `cnt·(m+1) > N` makes the output independent of WHICH valid
    * superset the sketch retained — the mergeable-summaries guarantee
    * is precisely that any run keeps every true heavy hitter, so both
    * engines and both entry points agree exactly. Row-pinned to
    * t_heavy_hitters; shares its sketch-free GROUP BY + HAVING
    * oracle. The gram view is the shared [[graft.ext.TextOps
    * .bigramOccurrences]] substrate (bigram_index prepare line). */
  private def qSqlHeavy(s: SparkSession, dir: String): DataFrame = {
    GraftExtensions.registerAll(s)
    TextOps.bigramOccurrences(T(s, dir, "documents")).select(col("s"))
      .createOrReplaceTempView("graft_sql_grams")
    s.sql("""
      WITH mg AS (
        SELECT misra_gries_1024(s) AS r FROM graft_sql_grams
      ), cand AS (
        SELECT explode(r.candidates) AS s, r.n AS n FROM mg
      )
      SELECT o.s AS gram, count(*) AS cnt
      FROM graft_sql_grams o JOIN cand c ON o.s = c.s
      GROUP BY o.s, c.n
      HAVING count(*) * 1025 > c.n""")
  }

  // =====================================================================
  // Registry
  // =====================================================================

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_sql_surface" -> (qSqlSurface _),
    "q_sql_pipeline" -> (qSqlPipeline _),
    "q_sql_interval" -> (qSqlInterval _),
    "q_sql_asof" -> (qSqlAsof _),
    "q_sql_lsh" -> (qSqlLsh _),
    "q_sql_kmv" -> (qSqlKmv _),
    "q_sql_heavy" -> (qSqlHeavy _),
    "q_branch_even" -> (qBranchEven _),
    "q_branch_odd" -> (qBranchOdd _),
    "q_derive_context" -> (qDeriveContext _),
    "q_b3_roundtrip" -> (qB3Roundtrip _),
    "q_header_lookup" -> (qHeaderLookup _),
    "q_first_match" -> (qFirstMatch _),
    "q_log_correlation" -> (qLogCorrelation _),
    "q_span_enrich" -> (qSpanEnrich _),
    "q_dependency_graph" -> (qDependencyGraph _),
    "q_trace_assembly" -> (qTraceAssembly _),
    "q_critical_path" -> (qCriticalPath _),
    "q_critical_hops" -> (qCriticalHops _),
    "q_critical_blame" -> (qCriticalBlame _),
    "q_trace_anomaly" -> (qTraceAnomaly _),
    "q_edge_latency" -> (qEdgeLatency _),
    "q_service_latency" -> (qServiceLatency _),
    "q_union_back" -> (qUnionBack _),
    "a_pricing_summary" -> (aPricingSummary _),
    "a_segment_revenue" -> (aSegmentRevenue _),
    "a_returned_revenue" -> (aReturnedRevenue _),
    "a_region_volume" -> (aRegionVolume _),
    "a_top_orders" -> (aTopOrders _),
    "a_top_parts_per_brand" -> (aTopPartsPerBrand _),
    "a_semi_join" -> (aSemiJoin _),
    "a_anti_join" -> (aAntiJoin _),
    "a_rollup" -> (aRollup _),
    "a_cube" -> (aCube _),
    "a_grouping_sets" -> (aGroupingSets _),
    "a_percentiles" -> (aPercentiles _),
    "a_percentiles_dist" -> (aPercentilesDist _),
    "a_tumbling_window" -> (aTumblingWindow _),
    "a_hopping_window" -> (aHoppingWindow _),
    "a_session_window" -> (aSessionWindow _),
    "a_range_join" -> (aRangeJoin _),
    "a_interval_join" -> (aIntervalJoin _),
    "a_asof_join" -> (aAsofJoin _),
    "a_skew_salted" -> (aSkewSalted _),
    "a_distinct_counts" -> (aDistinctCounts _),
    "a_pivot" -> (aPivot _),
    "a_moving_avg" -> (aMovingAvg _),
    "t_repetition" -> (tRepetition _),
    "t_repetition_apply" -> (tRepetitionApply _),
    "e_split_assign" -> (eSplitAssign _),
    "t_mix_weights" -> (tMixWeights _),
    "t_chunk" -> (tChunk _),
    "t_text_stats" -> (tTextStats _),
    "t_lang_id" -> (tLangId _),
    "t_quality" -> (tQuality _),
    "t_fingerprint" -> (tFingerprint _),
    "t_vocab_topk" -> (tVocabTopK _),
    "t_bigram_topk" -> (tBigramTopK _),
    "t_lang_stats" -> (tLangStats _),
    "t_quality_filter" -> (tQualityFilter _),
    "t_redact" -> (tRedact _),
    "t_tfidf_topk" -> (tTfidfTopK _),
    "d_stratified_sample" -> (dStratifiedSample _),
    "d_neardup_groups" -> (dNearDupGroups _),
    "d_neardup_apply" -> (dNearDupApply _),
    "d_group_sizes" -> (dGroupSizes _),
    "d_cc_iterative" -> (dCcIterative _),
    "d_chunk_dedup" -> (dChunkDedup _),
    "d_chunk_apply" -> (dChunkApply _),
    "g_pagerank" -> (gPageRank _),
    "g_communities" -> (gCommunities _),
    "a_ewma" -> (aEwma _),
    "t_hash_score" -> (tHashScore _),
    "d_sample_bottomk" -> (dSampleBottomk _),
    "t_kmv_distinct" -> (tKmvDistinct _),
    "g_ppr_suppliers" -> (gPprSuppliers _),
    "g_triangles" -> (gTriangles _),
    "g_degree_hist" -> (gDegreeHist _),
    "g_kcore" -> (gKcore _),
    "g_bfs" -> (gBfs _),
    "g_common_neighbors" -> (gCommonNeighbors _),
    "a_sessionize" -> (aSessionize _),
    "a_rfm" -> (aRfm _),
    "g_cheapest_path" -> (gCheapestPath _),
    "a_seasonality" -> (aSeasonality _),
    "e_dup_by_source" -> (eDupBySource _),
    "a_funnel" -> (aFunnel _),
    "a_funnel_hourly" -> (aFunnelHourly _),
    "a_cohort" -> (aCohort _),
    "d_weighted_sample" -> (dWeightedSample _),
    "t_pack_sequences" -> (tPackSequences _),
    "d_contamination" -> (dContamination _),
    "d_contamination_ngram" -> (dContaminationNgram _),
    "d_contamination_bloom" -> (dContaminationBloom _),
    "d_span_apply" -> (dSpanApply _),
    "d_span_dedup" -> (dSpanDedup _),
    "d_span_fraction" -> (dSpanFraction _),
    "d_substring_dedup" -> (dSubstringDedup _),
    "d_substring_fraction" -> (dSubstringFraction _),
    "d_substring_apply" -> (dSubstringApply _),
    "d_substring_char" -> (dSubstringChar _),
    "d_substring_char_fraction" -> (dSubstringCharFraction _),
    "d_substring_char_apply" -> (dSubstringCharApply _),
    "d_minhash_jaccard_est" -> (dMinhashJaccardEst _),
    "d_incremental_dedup" -> (dIncrementalDedup _),
    "d_incremental_apply" -> (dIncrementalApply _),
    "t_bigram_lm" -> (tBigramLm _),
    "t_bigram_ppl" -> (tBigramPpl _),
    "e_ppl_filter" -> (ePplFilter _),
    "t_fertility" -> (tFertility _),
    "t_heavy_hitters" -> (tHeavyHitters _),
    "t_bm25_topk" -> (tBm25TopK _),
    "t_pmi_topk" -> (tPmiTopK _),
    "a_k_anonymity" -> (aKAnonymity _),
    "e_split_leakage" -> (eSplitLeakage _),
    "e_corpus_report" -> (eCorpusReport _),
    "a_concurrency" -> (aConcurrency _),
    "a_concurrency_dense" -> (aConcurrencyDense _),
    "a_top_journeys" -> (aTopJourneys _),
    "a_weighted_percentiles" -> (aWeightedPercentiles _),
    "d_lsh_planner" -> (dLshPlanner _),
    "a_trend" -> (aTrend _),
    "a_trend_incremental" -> (aTrendIncremental _),
    "a_attribution" -> (aAttribution _),
    "a_attribution_bounded" -> (aAttributionBounded _),
    "a_conversion_lag" -> (aConversionLag _),
    "a_transitions" -> (aTransitions _),
    "a_daily_distinct" -> (aDailyDistinct _),
    "a_daily_distinct_kmv" -> (aDailyDistinctKmv _),
    "a_woe_bins" -> (aWoeBins _),
    "p_skew_report" -> (pSkewReport _),
    "a_market_share" -> (aMarketShare _),
    "a_important_parts" -> (aImportantParts _),
    "a_price_ranks" -> (aPriceRanks _),
    "a_except_intersect" -> (aExceptIntersect _),
    "a_unpivot" -> (aUnpivot _),
    "p_profile" -> (pProfile _),
    "p_fk_violations" -> (pFkViolations _),
    "a_windowed_percentiles" -> (aWindowedPercentiles _),
    "t_quality_buckets" -> (tQualityBuckets _),
    "e_curation_pipeline" -> (eCurationPipeline _),
    "e_curation_full" -> (eCurationFull _),
    "e_curation_funnel" -> (eCurationFunnel _),
    "e_source_report" -> (eSourceReport _),
    "e_mix_apply" -> (eMixApply _),
    "e_epoch_schedule" -> (eEpochSchedule _),
    "t_lang_agreement" -> (tLangAgreement _),
    "t_cdc_chunks" -> (tCdcChunks _),
    "t_bpe_merges" -> (tBpeMerges _),
    "t_bpe_encode" -> (tBpeEncode _),
    "t_bpe_subwords" -> (tBpeSubwords _),
    "t_pack_bpe" -> (tPackBpe _),
    "e_decontam_report" -> (eDecontamReport _),
    "e_media_ann" -> (eMediaAnn _),
    "m_media_neardup" -> (mMediaNearDup _),
    "m_media_apply" -> (mMediaApply _),
    "e_chunk_ann" -> (eChunkAnn _),
    "d_edit_verify" -> (dEditVerify _),
    "t_ngram_diversity" -> (tNgramDiversity _),
    "t_winnow" -> (tWinnow _),
    "d_winnow_pairs" -> (dWinnowPairs _),
    "t_source_kl" -> (tSourceKl _),
    "s_embed_outliers" -> (sEmbedOutliers _),
    "s_embed_gram" -> (sEmbedGram _),
    "s_embed_pc1" -> (sEmbedPc1 _),
    "s_ridge_fit" -> (sRidgeFit _),
    "s_ridge_score" -> (sRidgeScore _),
    "p_zorder_hist" -> (pZorderHist _),
    "p_skipping_report" -> (pSkippingReport _),
    "t_dsir_weights" -> (tDsirWeights _),
    "m_payload_dedup" -> (mPayloadDedup _),
    "s_ann_store" -> (sAnnStore _),
    "s_model_score" -> (sModelScore _),
    "s_centroid_classify" -> (sCentroidClassify _),
    "s_mmr_rerank" -> (sMmrRerank _),
    "s_label_affinity" -> (sLabelAffinity _),
    "m_modality_report" -> (mModalityReport _),
    "e_dsir_apply" -> (eDsirApply _),
    "e_dsir_calibrate" -> (eDsirCalibrate _),
    "t_dsir_multi" -> (tDsirMulti _),
    "e_dsir_multi_calibrate" -> (eDsirMultiCalibrate _),
    "e_dsir_multi3" -> (eDsirMulti3 _),
    "e_dsir_cross" -> (eDsirCross _),
    "e_dsir_multi_apply" -> (eDsirMultiApply _),
    "e_multi_curation" -> (eMultiCuration _),
    "e_decontam_curation" -> (eDecontamCuration _),
    "d_dedup_apply" -> (dDedupApply _),
    "d_exact" -> (dExact _),
    "d_exact_normalized" -> (dExactNormalized _),
    "d_ngram_jaccard" -> (dJaccard _),
    "d_ngram_jaccard_capped" -> (dJaccardCapped _),
    "d_minhash_sig" -> (dMinhashSig _),
    "d_minhash_lsh" -> (dMinhashLsh _),
    "d_lsh_containment" -> (dLshContainment _),
    "d_lsh_jaccard" -> (dLshJaccard _),
    "d_simhash" -> (dSimhash _),
    "d_simhash_pairs" -> (dSimhashPairs _),
    "s_ann_brute" -> (sAnnBrute _),
    "s_ann_lsh" -> (sAnnLsh _),
    "s_ann_lsh_mp" -> (sAnnLshMp _),
    "s_ann_lsh_mp4" -> (sAnnLshMp4 _),
    "s_ann_ivf" -> (sAnnIvf _),
    "s_ann_ivf_mp" -> (sAnnIvfMp _),
    "s_ann_ivf_mp4" -> (sAnnIvfMp4 _),
    "s_ann_ivf_km" -> (sAnnIvfKm _),
    "s_ann_ivfpq" -> (sAnnIvfPq _),
    "s_ann_ivfpq64" -> (sAnnIvfPq64 _),
    "s_ann_sq8" -> (sAnnSq8 _),
    "s_ann_pq" -> (sAnnPq _),
    "s_ann_pq64" -> (sAnnPq64 _),
    "s_ann_pq_rerank" -> (sAnnPqRerank _),
    "s_ann_pq_rerank64" -> (sAnnPqRerank64 _),
    "s_ann_range" -> (sAnnRange _),
    "s_label_centroids" -> (sLabelCentroids _),
    "s_near_dup" -> (sNearDup _),
    "s_ann_filtered" -> (sAnnFiltered _),
    "d_semantic_dedup" -> (dSemanticDedup _),
    "s_ann_hamming" -> (sAnnHamming _),
    "s_ann_hamming128" -> (sAnnHamming128 _),
    "a_abtest" -> (aAbtest _),
    "a_cusum" -> (aCusum _),
    "a_anomaly_mad" -> (aAnomalyMad _),
    "a_rolling_median" -> (aRollingMedian _),
    "a_props_extract" -> (aPropsExtract _),
    "e_snapshot_diff" -> (eSnapshotDiff _),
    "a_benford" -> (aBenford _),
    "g_assortativity" -> (gAssortativity _),
    "s_ann_recall_audit" -> (sAnnRecallAudit _),
    "s_recall_curve" -> (sRecallCurve _),
    "t_zipf" -> (tZipf _),
    "t_ngram_coverage" -> (tNgramCoverage _),
    "t_bigram_kn" -> (tBigramKn _),
    "t_trigram_kn" -> (tTrigramKn _),
    "d_blocking_join" -> (dBlockingJoin _),
    "a_gini" -> (aGini _),
    "s_knn_classify" -> (sKnnClassify _),
    "a_basket_rules" -> (aBasketRules _),
    "a_l_diversity" -> (aLDiversity _),
    "e_forget" -> (eForget _),
    "a_mv_join_delta" -> (aMvJoinDelta _),
    "a_gap_fill" -> (aGapFill _),
    "s_auc" -> (sAuc _),
    "s_calibration" -> (sCalibration _),
    "s_pr_curve" -> (sPrCurve _),
    "s_rank_eval" -> (sRankEval _),
    "a_chi2" -> (aChi2 _),
    "a_streaks" -> (aStreaks _),
    "t_rake" -> (tRake _),
    "p_contract_audit" -> (pContractAudit _),
    "s_pr_auc" -> (sPrAuc _),
    "s_cluster_quality" -> (sClusterQuality _),
    "a_bollinger_breach" -> (aBollingerBreach _),
    "a_ks_test" -> (aKsTest _),
    "s_embed_drift" -> (sEmbedDrift _),
    "a_autocorr" -> (aAutocorr _),
    "s_feature_cov" -> (sFeatureCov _),
    "t_vocab_novelty" -> (tVocabNovelty _),
    "a_streak_hazard" -> (aStreakHazard _),
    "m_tile_grid" -> (mTileGrid _),
    "m_tile_neardup" -> (mTileNearDup _),
    "a_markov_stationary" -> (aMarkovStationary _),
    "a_markov_conserve" -> (aMarkovConserve _),
    "t_trigram_ppl" -> (tTrigramPpl _),
    "m_aspect_bucket" -> (mAspectBucket _),
    "a_pareto" -> (aPareto _),
    "a_interpurchase" -> (aInterpurchase _),
    "t_js_divergence" -> (tJsDivergence _),
    "a_rank_churn" -> (aRankChurn _),
    "m_scene_cut" -> (mSceneCut _),
    "a_repeat_revenue" -> (aRepeatRevenue _),
    "a_cohort_ltv" -> (aCohortLtv _),
    "a_seasonal_naive" -> (aSeasonalNaive _),
    "s_psi" -> (sPsi _),
    "p_file_plan" -> (pFilePlan _),
    "s_confusion" -> (sConfusion _),
    "t_diversity_curve" -> (tDiversityCurve _),
    "d_dup_weight" -> (dDupWeight _),
    "t_simpson" -> (tSimpson _),
    "a_runs_test" -> (aRunsTest _),
    "a_changepoint" -> (aChangepoint _),
    "g_hits" -> (gHits _),
    "g_harmonic" -> (gHarmonic _),
    "m_ahash_dedup" -> (mAhashDedup _),
    "m_dct_hash" -> (mDctHash _),
    "m_dct_neardup" -> (mDctNeardup _),
    "a_theil_sen" -> (aTheilSen _),
    "t_textrank" -> (tTextrank _),
    "p_bucket_advisor" -> (pBucketAdvisor _),
    "a_markov_entropy" -> (aMarkovEntropy _),
    "e_dup_flow" -> (eDupFlow _),
    "t_textrank_doc" -> (tTextrankDoc _),
    "e_pii_report" -> (ePiiReport _),
    "e_license_audit" -> (eLicenseAudit _),
    "p_fd_audit" -> (pFdAudit _),
    "a_mann_kendall" -> (aMannKendall _),
    "a_bootstrap_ci" -> (aBootstrapCi _),
    "m_asset_meta" -> (mAssetMeta _),
    "m_audio_meta" -> (mAudioMeta _),
    "m_frame_sample" -> (mFrameSample _),
    "g_clustering_coeff" -> (gClusteringCoeff _),
    "g_modularity" -> (gModularity _),
    "p_freshness" -> (pFreshness _),
    "p_partition_skew" -> (pPartitionSkew _),
    "p_compaction_plan" -> (pCompactionPlan _),
    "p_stats_profile" -> (pStatsProfile _),
    "p_retention_plan" -> (pRetentionPlan _),
    "t_readability" -> (tReadability _),
    "m_ahash_capped" -> (mAhashCapped _),
    "g_reciprocity" -> (gReciprocity _),
    "g_degree_dist" -> (gDegreeDist _),
    "m_payload_entropy" -> (mPayloadEntropy _),
    "a_survival" -> (aSurvival _),
    "a_lorenz" -> (aLorenz _),
    "a_lorenz_dense" -> (aLorenzDense _),
    "t_code_detect" -> (tCodeDetect _),
    "d_threshold_sweep" -> (dThresholdSweep _),
    "s_norm_audit" -> (sNormAudit _),
    "a_did" -> (aDid _),
    "a_winsorized" -> (aWinsorized _),
  )

  def oracleSql: Map[String, String] = OracleSql.all
}
