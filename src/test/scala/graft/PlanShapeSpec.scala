package graft

/** Plan-shape regression tests: the physical plans the engine is
  * DESIGNED to produce, asserted so optimizer-hostile refactors fail
  * loudly. These are the properties that matter at 100 TB: no shuffle
  * in the narrow parity pipeline, broadcasts where a dimension is
  * small, filter/column pushdown reaching the parquet scan, and the
  * custom imperative aggregate actually being planned. */
class PlanShapeSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  /** Unpartitioned window specs in a plan: a spec whose FIRST argument
    * carries a sort direction has an empty partition clause (partition
    * keys always stringify before the ORDER BY columns). */
  private def unpartitionedWindows(p: String): List[String] =
    "windowspecdefinition\\(([^,()]*?)(ASC|DESC)".r.findAllIn(p).toList

  test("parity branching is narrow: no exchange anywhere in the plan") {
    val p = plan("q_branch_even")
    assert(!p.contains("Exchange"), s"unexpected shuffle:\n$p")
  }

  test("segment revenue broadcasts the customer dimension") {
    assert(plan("a_segment_revenue").contains("BroadcastHashJoin"))
  }

  test("top parts per brand broadcasts the part dimension") {
    assert(plan("a_top_parts_per_brand").contains("BroadcastHashJoin"))
  }

  test("pricing summary pushes the shipdate filter into the parquet scan") {
    val p = plan("a_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"filter not pushed:\n${p.linesIterator.filter(_.contains("PushedFilters")).mkString("\n")}")
  }

  test("pricing summary prunes the scan to the referenced columns only") {
    val p = plan("a_pricing_summary")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_returnflag") && readSchema.contains("l_quantity"))
    assert(!readSchema.contains("l_partkey") && !readSchema.contains("l_comment"),
      s"scan reads unused columns: $readSchema")
  }

  test("minhash signatures plan the imperative sketch aggregate, not 16 min()s") {
    val p = plan("d_minhash_sig")
    assert(p.contains("minhashsketch") || p.contains("MinHashSketch") ||
      p.contains("ObjectHashAggregate"), s"sketch aggregate not planned:\n$p")
  }

  test("semi and anti joins plan as join types, not subquery re-scans") {
    assert(plan("a_semi_join").contains("LeftSemi"))
    assert(plan("a_anti_join").contains("LeftAnti"))
  }

  test("log correlation reads the cached enrichment, not parquet twice") {
    val p = plan("q_log_correlation")
    assert(p.contains("InMemoryTableScan"), s"rec cache not used:\n$p")
  }

  // ------------------------------------------------ one-scan hop fan-out

  /** The per-hop form the one-scan span/log fan-out replaced — one scan
    * of the records per hop, unioned — kept as the reference the
    * one-scan form must equal row for row. */
  private object ThreeScan {
    import org.apache.spark.sql.{Column, DataFrame}
    import org.apache.spark.sql.functions._
    import graft.codec.Codecs.mintSpanId
    import graft.ops.ContextOps

    private def seed(df: DataFrame): Column =
      if (df.columns.contains("hop_seed")) col("hop_seed") else col("trace_id")
    private def nul: Column = lit(null).cast("string")

    private def logRows(df: DataFrame, op: String, line: Column, traced: Boolean): DataFrame =
      df.select(col("ts"), lit("INFO").as("level"), lit("graft.ops." + op).as("logger"),
        line.as("line"),
        (if (traced) col("trace_id") else nul).as("trace_id"),
        (if (traced) mintSpanId(seed(df), lit(op)) else nul).as("span_id"),
        (if (traced) col("messageid") else nul).as("messageid"),
        (if (traced) to_json(struct(col("trace_id"), mintSpanId(seed(df), lit(op)).as("span_id"),
          col("parent_id"), col("messageid"))) else nul).as("mdc"))

    private def spanRows(df: DataFrame, op: String, topic: Option[String]): DataFrame =
      df.select(col("trace_id"), mintSpanId(seed(df), lit(op)).as("span_id"),
        col("parent_id"), col("sampled"), lit(op).as("name"),
        lit(ContextOps.App).as("local_service"),
        topic.map(_ => lit("kafka")).getOrElse(nul).as("remote_service_name"),
        topic.map(lit(_)).getOrElse(nul).as("kafka_topic"),
        lit("FINISHED").as("cause"), col("ts"))

    private def line(word: String): Column =
      concat(lit(s"$word number: "), col("value_int").cast("string"))

    def logs(all: DataFrame): DataFrame = {
      val (even, odd) = ContextOps.evenOdd(all)
      logRows(all, "set", line("Got"), traced = true)
        .unionByName(logRows(even, "even", line("Even"), traced = true))
        .unionByName(logRows(odd, "odd", line("Odd"), traced = false))
    }

    def spans(all: DataFrame): DataFrame = {
      val (even, odd) = ContextOps.evenOdd(all)
      spanRows(all, "set", None)
        .unionByName(spanRows(even, "send-even", Some("even-numbers")))
        .unionByName(spanRows(odd, "send-odd", Some("odd-numbers")))
    }
  }

  private def assertSameRows(what: String, got: org.apache.spark.sql.DataFrame,
      want: org.apache.spark.sql.DataFrame): Unit = {
    assert(got.columns.toSeq === want.columns.toSeq, what)
    val extra = got.exceptAll(want).collect().toSeq
    val missing = want.exceptAll(got).collect().toSeq
    assert(extra.isEmpty && missing.isEmpty,
      s"$what: rows only in the one-scan form $extra, only in the reference $missing")
  }

  /** A decoded-stream micro-batch with the routing edge cases: a value
    * that decodes to null (routed odd), an unheadered record (minted
    * root context), a negative even value and a record carrying two b3
    * headers (the last wins). */
  private def microBatch: Seq[graft.model.RawRecord] = {
    import graft.model.{Header, RawRecord}
    def be(i: Int) = java.nio.ByteBuffer.allocate(4).putInt(i).array()
    def b3(t: String, s: String) = Header("b3", s"$t-$s-1".getBytes("UTF-8"))
    def rec(v: Array[Byte], off: Long, hs: Header*) =
      RawRecord(s"k$off".getBytes("UTF-8"), v, "numbers", 0, off,
        new java.sql.Timestamp(1700000000000L + off), 0, hs)
    val (t1, s1) = ("1111111111111111", "aaaaaaaaaaaaaaaa")
    val (t2, s2) = ("2222222222222222", "bbbbbbbbbbbbbbbb")
    Seq(rec(be(2), 1, b3(t1, s1)), rec(be(3), 2),
      rec(Array[Byte](1, 2), 3, b3("3333333333333333", s1)),
      rec(be(-4), 4, b3(t1, s2)), rec(be(5), 5, b3(t1, s1), b3(t2, s2)))
  }

  test("one-scan span and log fan-out equals the three-scan union over the fixture events") {
    val r = graft.ops.ContextOps.setBaggage(graft.ops.ContextOps.enrichEvents(
      SparkEntry.T(spark, sf, "events")))
    assertSameRows("spans", graft.ops.ContextOps.standardSpans(r), ThreeScan.spans(r))
    assertSameRows("logs", graft.ops.ContextOps.standardLogs(r), ThreeScan.logs(r))
  }

  test("one-scan fan-out equals the three-scan union on a null value and a duplicate b3") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val d = graft.ops.ContextOps.setBaggage(graft.ops.ContextOps.decode(
      spark.createDataFrame(microBatch)))
    val spans = graft.ops.ContextOps.standardSpans(d)
    val logs = graft.ops.ContextOps.standardLogs(d)
    assertSameRows("spans", spans, ThreeScan.spans(d))
    assertSameRows("logs", logs, ThreeScan.logs(d))
    // the null value goes odd: a send-odd span and an untraced log row
    val nullTrace = d.filter(col("value_int").isNull).select("trace_id").as[String].collect()
    assert(nullTrace.length === 1)
    assert(spans.filter(col("trace_id") === nullTrace.head).select("name").as[String]
      .collect().sorted.toSeq === Seq("send-odd", "set"))
    assert(logs.filter(col("logger") === "graft.ops.odd" && col("line").isNull &&
      col("trace_id").isNull).count() === 1)
    // the last of the duplicate b3 headers sets the record's context
    assert(spans.filter(col("trace_id") === "2222222222222222" &&
      col("parent_id") === "bbbbbbbbbbbbbbbb").count() === 2)
  }

  test("processBatch's span and log outputs each scan the batch once, with no union") {
    val batch = spark.createDataFrame(microBatch).persist()
    try {
      val (_, _, spans, logs) = graft.streaming.Pipeline.processBatch(batch)
      for ((name, df) <- Seq("spans" -> spans, "logs" -> logs)) {
        val p = df.queryExecution.executedPlan.toString
        assert("InMemoryTableScan".r.findAllIn(p).length === 1,
          s"$name must scan the persisted batch once:\n$p")
        assert(!p.contains("Union"), s"$name must not union per-hop scans:\n$p")
      }
    } finally batch.unpersist()
  }

  test("encodeHeaders replaces b3 and messageid with one filter over the headers") {
    import org.apache.spark.sql.catalyst.expressions.ArrayFilter
    import org.apache.spark.sql.functions._
    val id = col("id").cast("string")
    val d = spark.range(4).select(
      array(struct(lit("b3").as("key"), id.cast("binary").as("value"))).as("headers"),
      id.as("trace_id"), id.as("span_id"), lit(true).as("sampled"), id.as("messageid"),
      col("id").cast("int").as("value_int"))
    val plan = graft.ops.ContextOps.encodeHeaders(d).queryExecution.optimizedPlan
    val filters = plan.flatMap(_.expressions.flatMap(_.collect { case f: ArrayFilter => f }))
    assert(filters.size === 1, s"one filter over the headers:\n$plan")
  }

  test("log correlation prunes the unused mdc JSON out of the log fan-out") {
    // the optimizer rewrites to_json into an invoke of StructsToJsonEvaluator
    def json(p: String) = p.toLowerCase.contains("to_json") || p.toLowerCase.contains("tojson")
    val logs = graft.ops.ContextOps.standardLogs(graft.ops.ContextOps.setBaggage(
      graft.ops.ContextOps.enrichEvents(SparkEntry.T(spark, sf, "events"))))
    assert(json(logs.queryExecution.optimizedPlan.toString), "the log fan-out renders mdc")
    val p = SparkEntry.queries("q_log_correlation")(spark, sf)
      .queryExecution.optimizedPlan.toString
    assert(!json(p), s"mdc must be pruned:\n$p")
  }

  test("IVF assignment is a narrow broadcast map: no window, constant-width codebook") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val p = graft.ext.Similarity.ivfAssign(emb, 8)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Window"),
      s"assignment must be an argmax fold per row, not an N×k window:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("InMemoryTableScan"),
      s"codebook must arrive as a broadcast single row:\n$p")
  }

  test("stratified sampling and redaction are shuffle-free scans") {
    assert(!plan("d_stratified_sample").contains("Exchange"),
      "the hash-split predicate must stay a pure filter over the scan")
    assert(!plan("t_redact").contains("Exchange"),
      "redaction must stay a codegen projection over the scan")
  }

  test("sequence packing has no corpus-wide unpartitioned window") {
    val p = plan("t_pack_sequences")
    assert(p.contains("windowspecdefinition(bucket"),
      s"the corpus-side cumsum must be partitioned by bucket:\n$p")
    // the naive global form would order the whole corpus by doc_id in
    // ONE unpartitioned window — its spec must not appear
    assert(!p.contains("windowspecdefinition(doc_id"),
      s"found an unpartitioned corpus-wide window:\n$p")
  }

  test("salted aggregation shuffles on (key, salt) first, then merges per key") {
    val p = plan("a_skew_salted")
    assert(p.linesIterator.exists(l => l.contains("hashpartitioning") && l.contains("salt")),
      s"the partial aggregate must shuffle on the salted key:\n$p")
    assert(p.linesIterator.exists(l =>
        l.contains("hashpartitioning") && l.contains("l_returnflag") && !l.contains("salt")),
      s"the final merge must shuffle on the bare key:\n$p")
  }

  test("filtered ANN applies the keep-list as a broadcast semi-join") {
    val p = plan("s_ann_filtered")
    assert(p.contains("LeftSemi"), s"keep-list must prune candidates via semi-join:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"the keep-list side must broadcast:\n$p")
  }

  test("moving average windows over the daily aggregate, never the corpus") {
    val p = plan("a_moving_avg")
    val winIdx = p.indexOf("Window")
    assert(winIdx >= 0, s"expected a window operator:\n$p")
    assert(p.indexOf("HashAggregate") >= 0 &&
      p.substring(winIdx).contains("HashAggregate"),
      s"the window input must be the daily aggregate, not raw lineitem:\n$p")
  }

  test("token chunking is a shuffle-free explode over the scan") {
    assert(!plan("t_chunk").contains("Exchange"),
      "chunk windows derive from per-row arrays; no shuffle is justified")
  }

  test("the as-of join is a single keyed window, not a range join") {
    val p = plan("a_asof_join")
    assert(p.contains("Window"), "expected the running-window carry")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"as-of must not degrade to a product join:\n$p")
  }

  test("bloom decontamination filters train grams BEFORE the confirm join") {
    val p = plan("d_contamination_bloom")
    val bloomIdx = p.indexOf("might_contain")
    val joinIdx = p.indexOf("SortMergeJoin") max p.indexOf("ShuffledHashJoin") max
      p.indexOf("BroadcastHashJoin")
    assert(bloomIdx >= 0, s"bloom prefilter not planned:\n$p")
    assert(joinIdx >= 0, "expected the exact confirm join")
    // executed plans print top-down: the filter must sit BELOW the
    // join, i.e. appear AFTER it in the string
    assert(bloomIdx > joinIdx,
      s"might_contain must be on the join's input side, not above it:\n$p")
  }

  test("span dedup windows per document, never corpus-wide") {
    val p = plan("d_span_dedup")
    val winLines = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(winLines.nonEmpty, s"expected the gaps-and-islands window:\n$p")
    assert(winLines.forall(_.contains("doc_id#")),
      s"every window must partition by doc_id:\n${winLines.mkString("\n")}")
  }

  test("span dedup's duplicated-gram semi-join degrades to a shuffled join without broadcast") {
    // At 100 TB the duplicated-gram set can exceed any broadcast
    // budget; the plan must then fall back to a shuffled semi-join on
    // the gram hash — same key both sides, so co-partitioned — with
    // byte-identical output. Pin both halves of that claim.
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val orig = spark.conf.get(key)
    val expect = graft.ext.Dedup.duplicatedSpans(docs, 5)
      .collect().map(_.toSeq).sortBy(_.toString)
    try {
      spark.conf.set(key, "-1")
      val nb = graft.ext.Dedup.duplicatedSpans(docs, 5)
      val p = nb.queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastHashJoin"),
        s"threshold=-1 must disable the broadcast semi-join:\n$p")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"expected a shuffled fallback join:\n$p")
      assert(p.contains("LeftSemi"), s"fallback must stay a semi-join:\n$p")
      val got = nb.collect().map(_.toSeq).sortBy(_.toString)
      assert(got === expect, "fallback plan must produce identical spans")
    } finally spark.conf.set(key, orig)
  }

  test("sketch-estimated jaccard reads cached signatures, not a shingle join") {
    val p = plan("d_minhash_jaccard_est")
    // the estimate consumes the PlanCache'd signature frame (banding's
    // 4-structs-per-row explode is signature-granular and fine); a
    // shingle-granular intersection join would hash-join on the gram
    // hash column `h` — which must not appear above the cache boundary
    assert(p.contains("InMemoryTableScan"),
      s"estimator must read the cached signature frame:\n$p")
    val aboveCache = p.substring(0, p.indexOf("InMemoryTableScan"))
    assert(!aboveCache.contains("hashjoin(h#") && !aboveCache.contains("[h#"),
      s"no shingle-hash join may sit above the cached signatures:\n$aboveCache")
  }

  test("source report is one partial-agg shuffle, no join, no window") {
    val p = plan("e_source_report")
    assert(!p.contains("Join") && !p.contains("Window"),
      s"report must be pure aggregation:\n$p")
    // countDistinct expands to a second (source, lang) agg — two
    // exchanges total, both partial-agg'd, nothing more
    assert(p.split("Exchange").length - 1 <= 2, s"too many shuffles:\n$p")
  }

  test("commonness buckets broadcast the one-row stats frame") {
    val p = plan("t_quality_buckets")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"mean/sigma cutoffs must ride as a broadcast, not a shuffle:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"a 1-row stats frame must never sort-merge:\n$p")
  }

  test("hopping window is explode + partial agg, no self-join") {
    val p = plan("a_hopping_window")
    assert(!p.contains("Join"), s"window assignment must be generated inline:\n$p")
    assert(p.contains("Expand") || p.contains("Generate"),
      s"expected the window-struct generator:\n$p")
  }

  test("incremental dedup joins band rows asymmetrically, never corpus pairs") {
    // the candidate join must key on (band, bkey) — doc-granular band
    // rows — and the only doc_id<doc_id-style predicate of the
    // corpus-wide pair queries must be absent
    val p = plan("d_incremental_dedup")
    assert(p.contains("bkey"), s"band-cell join missing:\n$p")
    assert(!"doc_id#\\d+L? < doc_id#".r.findFirstIn(p).isDefined,
      s"corpus-pair self-join predicate leaked into the incremental path:\n$p")
  }

  test("substring dedup sorts inside gram buckets, never a corpus-global suffix sort") {
    val p = plan("d_substring_dedup")
    // a global suffix array would plan Exchange rangepartitioning (the
    // global-sort shuffle); the bucketed form only hash-partitions on
    // the gram key and sorts within partitions
    assert(!p.contains("rangepartitioning"),
      s"corpus-global sort leaked into the suffix ordering:\n$p")
    assert(!p.contains("CartesianProduct"), s"no pair join belongs here:\n$p")
    // both window passes must be keyed (bucket h, then (h, run))
    assert(unpartitionedWindows(p).isEmpty,
      s"unpartitioned window in the suffix pass: ${unpartitionedWindows(p)}\n$p")
  }

  test("char-level substring dedup keeps the bucketed suffix shape") {
    // same pins as the token-level family: no corpus-global sort
    // (rangepartitioning), no pair join, every window keyed
    val p = plan("d_substring_char")
    assert(!p.contains("rangepartitioning"),
      s"corpus-global sort leaked into the char suffix ordering:\n$p")
    assert(!p.contains("CartesianProduct"), s"no pair join belongs here:\n$p")
    assert(unpartitionedWindows(p).isEmpty,
      s"unpartitioned window in the char suffix pass: ${unpartitionedWindows(p)}\n$p")
  }

  test("moving average runs year-partitioned: no unpartitioned window survives") {
    // the last corpus-adjacent single-task window was a_moving_avg's
    // daily ROWS frame; the carry construction must keep every window
    // (tail derivation AND running frame) keyed by year
    val p = plan("a_moving_avg")
    assert(unpartitionedWindows(p).isEmpty,
      s"unpartitioned window in the moving average: ${unpartitionedWindows(p)}\n$p")
  }

  test("edit verify joins candidates to text by key: no cartesian, no corpus window") {
    val p = plan("d_edit_verify")
    assert(!p.contains("CartesianProduct"),
      s"the DP must run on LSH candidates only:\n$p")
    assert(!p.contains("Window"), s"no window belongs in this plan:\n$p")
  }

  test("source KL broadcasts every marginal: no cartesian, no window") {
    val p = plan("t_source_kl")
    // the (source, token) counts shuffle once; n_s and n_tot ride as
    // broadcasts (the 1-row total as a broadcast nested-loop)
    assert(p.contains("BroadcastExchange"),
      s"marginals must broadcast, not shuffle:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("Window"),
      s"KL is partial-agg + broadcast joins only:\n$p")
  }

  test("embed outliers broadcast centroids and stats; no window, no pair join") {
    val p = plan("s_embed_outliers")
    assert(p.contains("BroadcastExchange"),
      s"per-label frames must broadcast:\n$p")
    assert(!p.contains("Window") && !p.contains("SortMergeJoin"),
      s"outlier scoring is two corpus scans with broadcast joins:\n$p")
  }

  test("centroid classify is argmax-by-aggregation: no rank window") {
    val p = plan("s_centroid_classify")
    assert(!p.contains("Window"),
      s"per-vector argmax must be the struct-max aggregate, not a window:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the k-row centroid frame must broadcast:\n$p")
  }

  test("rank-limit queries get Spark's native map-side WindowGroupLimit prune") {
    // Spark 3.5+ plans `row_number() ... filter rnk <= k` with a
    // PARTIAL WindowGroupLimit BEFORE the exchange — the shuffle
    // carries at most k rows per key per partition instead of every
    // row. This is the built-in form of a custom per-key top-k
    // operator (a prototype of which measurably double-pruned and was
    // dropped — built-ins win); every rank-window consumer in the
    // registry (top-k per brand, every ANN rankTopK) relies on it, so
    // pin it against optimizer-hostile refactors and config drift.
    // e_dsir_calibrate's per-stratum top-20 is the same pattern: the
    // shuffle moves at most 20 rows per stratum per map partition
    for (q <- Seq("a_top_parts_per_brand", "s_ann_brute", "e_dsir_calibrate",
        "e_dsir_multi_apply")) {
      val p = plan(q)
      assert(p.contains("WindowGroupLimit"),
        s"$q must keep the rank-limit pushdown:\n$p")
      assert(p.contains("Partial"),
        s"$q must include the PARTIAL (map-side) group limit:\n$p")
    }
  }

  test("DSIR resample plans as TakeOrderedAndProject, never a full sort") {
    val p = plan("e_dsir_apply")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k by sampling key must be the per-partition heap:\n$p")
  }

  test("chunk ANN broadcasts the query chunks over one candidate scan") {
    val p = plan("e_chunk_ann")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"query side must broadcast (queries × corpus-scan shape):\n$p")
    assert(!p.contains("CartesianProduct"), s"no unbroadcast product:\n$p")
  }

  test("trace anomaly broadcasts the topology-sized baseline") {
    val p = plan("q_trace_anomaly")
    assert(p.contains("BroadcastHashJoin"),
      s"baseline side (one row per topology class) must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"no product:\n$p")
  }

  test("critical blame broadcasts the topology-sized class norms") {
    val p = plan("q_critical_blame")
    assert(p.contains("BroadcastHashJoin"),
      s"class-norm side (#classes x depth rows) must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"no product:\n$p")
  }

  test("critical hops fold the DP in one trace-keyed shuffle, not per-level joins") {
    // the per-trace fold: exactly one Exchange (groupByKey on
    // trace_id) between the cached span tree and the in-memory DP —
    // the iterate-and-join twin would show 2 shuffles per depth level
    val p = plan("q_critical_hops")
    val lines = p.linesIterator.toVector
    val mg = lines.indexWhere(_.contains("MapGroups"))
    assert(mg >= 0, s"per-trace fold not planned:\n$p")
    // from the fold down to the cached span-tree scan: exactly the
    // groupByKey Exchange (the span tree's own build, nested inside
    // its InMemoryRelation stringification, is out of scope)
    val scan = lines.indexWhere(_.contains("InMemoryTableScan"), mg)
    val segment = if (scan >= 0) lines.slice(mg, scan) else lines.drop(mg)
    val exchanges = segment.count(_.contains("Exchange"))
    assert(exchanges === 1, s"fold shape must shuffle once, saw $exchanges:\n$p")
    assert(!lines.take(mg).exists(_.contains("Exchange")),
      s"nothing may shuffle above the fold:\n$p")
  }

  test("edge latency keeps the keyed windows of the shared percentile machinery") {
    val p = plan("q_edge_latency")
    assert(unpartitionedWindows(p).isEmpty,
      s"cumulative histogram must window per edge, never globally:\n$p")
    assert(!p.contains("CartesianProduct"), s"no product:\n$p")
  }

  test("windowed percentiles keep the cumulative histogram keyed per (window, type)") {
    val p = plan("a_windowed_percentiles")
    assert(unpartitionedWindows(p).isEmpty,
      s"cumulative histogram must window per (window, type), never globally:\n$p")
    assert(!p.contains("CartesianProduct"), s"no product:\n$p")
  }

  test("heavy hitters phase 2 broadcasts the candidate set, no sort-merge join") {
    val p = plan("t_heavy_hitters")
    assert(p.contains("BroadcastHashJoin"),
      s"candidate probe must broadcast the sketch-sized frame:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the sketch-sized candidate set must never sort-merge:\n$p")
  }

  test("the gram matrix plans the one-buffer imperative aggregate, not d² rows") {
    val p = plan("s_embed_gram")
    assert(p.contains("grammatrixfixed"),
      s"imperative Gram aggregate not planned:\n$p")
    // the ONLY exchange is the partial-buffer merge (one d²/2-long
    // buffer per partition to a single reducer); the d² explode
    // happens after the final aggregate, on one row
    val lines = p.linesIterator.toList
    val exchanges = lines.filter(_.contains("Exchange"))
    assert(exchanges.length === 1 && exchanges.head.contains("SinglePartition"),
      s"only the buffer-merge exchange may plan:\n$p")
    val gen = lines.indexWhere(_.contains("Generate"))
    val agg = lines.indexWhere(_.contains("ObjectHashAggregate"))
    assert(gen >= 0 && agg > gen,
      s"the triangle explode must sit above the final aggregate:\n$p")
  }

  test("multi-tenant curation keeps the WindowGroupLimit prune and no product") {
    val p = plan("e_multi_curation")
    assert(p.contains("WindowGroupLimit"),
      s"the per-target top-50 must prune map-side:\n$p")
    assert(!p.contains("CartesianProduct"), s"no product:\n$p")
  }

  test("capped gram join plans the df gate; only the declared oracle row skips it") {
    // the DfCap.Capped path must stage the stop-shingle removal as a
    // semi join BEFORE the self-join; the exhaustive twin (declared
    // DfCap.ExhaustiveOracle at its single registry call site) is the
    // only plan allowed to go straight to the self-join
    graft.ops.PlanCache.clear()
    val capped = plan("d_ngram_jaccard_capped")
    assert(capped.contains("LeftSemi"),
      s"df cap did not plan as a semi-join gate:\n$capped")
    assert(!plan("d_ngram_jaccard").contains("LeftSemi"))
  }

  test("full curation DAG keeps the per-target prune and no product") {
    val p = plan("e_decontam_curation")
    assert(p.contains("WindowGroupLimit"),
      s"the per-target top-50 must prune map-side:\n$p")
    assert(!p.contains("CartesianProduct"), s"no product:\n$p")
  }

  test("chunk dedup is generate → partial-agg shaped: no window, no corpus sort") {
    val p = plan("d_chunk_apply")
    assert(p.contains("Generate"), s"chunk explode must be row-local:\n$p")
    assert(!p.contains("Window"),
      s"keeper selection must be a min-aggregate, not a rank window:\n$p")
    assert(!p.contains("CartesianProduct"), s"no product:\n$p")
  }

  test("hash score is join-free: the weight table is an expression, not a table") {
    val p = plan("t_hash_score")
    assert(!p.contains("Join"), s"weights must be minted inline:\n$p")
    assert(!p.contains("Window"), s"no window needed:\n$p")
  }

  test("ewma window is user-partitioned with the bounded 16-row frame") {
    val p = plan("a_ewma")
    assert(unpartitionedWindows(p).isEmpty,
      s"unpartitioned window in ewma: ${unpartitionedWindows(p)}\n$p")
    assert(p.contains("-15"),
      s"the ROWS BETWEEN 15 PRECEDING frame bound must survive planning:\n$p")
  }

  test("bottom-k sample plans the per-partition TakeOrdered merge, not a full sort") {
    val p = plan("d_sample_bottomk")
    assert(p.contains("TakeOrderedAndProject"),
      s"bottom-k must merge per-partition top-k, never globally sort:\n$p")
  }

  test("kmv estimator joins its two one-row aggregates by broadcast") {
    val p = plan("t_kmv_distinct")
    assert(p.contains("BroadcastNestedLoopJoin"), s"1-row sides must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"nothing to sort-merge:\n$p")
  }

  // --- round-9 continuation pins

  test("bm25 ranks with TakeOrdered passes, never a window") {
    val p = plan("t_bm25_topk")
    assert(!p.contains("Window"),
      s"both the query derivation and the final top-N must be TakeOrdered:\n$p")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("the one-pass KMV daily-distinct plans the sketch aggregate, no window, no distinct pre-shuffle") {
    val p = plan("a_daily_distinct_kmv")
    assert(!p.contains("Window"),
      s"the sketch replaces the rank window entirely:\n$p")
    assert(p.contains("kmvsketch") || p.contains("KmvSketch") ||
      p.contains("ObjectHashAggregate"), s"sketch aggregate not planned:\n$p")
  }

  test("profiler is a join-free partial-agg chain") {
    val p = plan("p_profile")
    assert(!p.contains("Join"), s"the profiler must be one exploded scan:\n$p")
    assert(p.contains("Generate") && p.contains("Expand"))
  }

  test("market share broadcasts every dimension leg") {
    val p = plan("a_market_share")
    assert(!p.contains("CartesianProduct"), s"no cartesian anywhere:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"dimension legs must broadcast:\n$p")
  }

  test("important parts keeps its global threshold as a broadcast, not a window") {
    val p = plan("a_important_parts")
    assert(!p.contains("Window"), s"the 1-row total must broadcast:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
  }

  test("trend moments ride one partial-agg pass with a broadcast min-day frame") {
    val p = plan("a_trend")
    assert(p.contains("BroadcastHashJoin"), s"min-day frame must broadcast:\n$p")
    assert(!p.contains("Window") && !p.contains("SortMergeJoin"), s"\n$p")
  }

  test("ridge scoring is a literal-weights projection: no join, no shuffle, no window") {
    val p = plan("s_ridge_score")
    assert(!p.contains("Join") && !p.contains("Window"),
      s"the trained head must ride as a literal:\n$p")
  }

  // --- round-10 pins

  test("bounded attribution's per-purchase rank rides the map-side WindowGroupLimit prune") {
    val p = plan("a_attribution_bounded")
    assert(p.contains("WindowGroupLimit"),
      s"the rank<=8 filter must prune shuffle buffers to 9 rows per purchase:\n$p")
  }

  test("range layout twins cut files with a range exchange, never a global window") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    for (df <- Seq(graft.ops.Layout.zorderHistRange(li, 16),
                   graft.ops.Layout.skippingReportRange(li, 16))) {
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("Window"),
        s"the 100 TB form must never funnel the table through one window task:\n$p")
      assert(p.contains("rangepartitioning"),
        s"file cuts must come from repartitionByRange:\n$p")
    }
  }

  test("hamming ANN prunes candidates map-side before the wide-vector rerank joins") {
    val p = plan("s_ann_hamming")
    assert(p.contains("WindowGroupLimit"),
      s"the hrnk<=nCand filter must prune shuffle buffers per query:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the query side must broadcast against the streaming store scan:\n$p")
  }

  test("AUC runs on partial-agg passes: its only window is over the bounded score histogram") {
    val p = plan("s_auc")
    // the cumulative-rank window exists, but it must consume an
    // aggregated (HashAggregate) child, never a raw data scan
    val lines = p.linesIterator.toList
    val wIdx = lines.indexWhere(_.contains("Window"))
    assert(wIdx >= 0)
    assert(lines.drop(wIdx).exists(_.contains("HashAggregate")),
      s"the rank window must sit above the score histogram aggregate:\n$p")
  }

  test("gap fill windows are series-partitioned, never global") {
    assert(unpartitionedWindows(plan("a_gap_fill")).isEmpty,
      "every LOCF/interp anchor window must partition on event_type")
  }

  test("cusum windows are series-partitioned, never global") {
    assert(unpartitionedWindows(plan("a_cusum")).isEmpty,
      "prefix-sum and running-min windows must partition on event_type")
  }

  test("basket rules never plan a cartesian product over items") {
    val p = plan("a_basket_rules")
    assert(!p.contains("CartesianProduct"),
      s"pair generation must ride the basket-keyed equi-join:\n$p")
  }

  test("the four-term IVM merge stays partial-agg shaped: one final agg exchange per term") {
    val p = plan("a_mv_join_delta")
    assert(!p.contains("Window") && !p.contains("CartesianProduct"))
  }

  test("PR-AUC and KS sweep windows sit above bounded histogram aggregates") {
    Seq("s_pr_auc", "a_ks_test").foreach { name =>
      val lines = plan(name).linesIterator.toList
      val wIdx = lines.indexWhere(_.contains("Window"))
      assert(wIdx >= 0, s"$name: expected the cumulative sweep window")
      assert(lines.drop(wIdx).exists(_.contains("HashAggregate")),
        s"$name: the sweep window must consume the histogram aggregate, not raw rows")
    }
  }

  test("streak, Bollinger and rank-eval windows are key-partitioned, never global") {
    Seq("a_streaks", "a_bollinger_breach", "s_rank_eval").foreach { name =>
      assert(unpartitionedWindows(plan(name)).isEmpty,
        s"$name: every window must partition on its series/query key")
    }
  }

  test("RAKE never plans a cartesian product and ranks with TakeOrdered") {
    val p = plan("t_rake")
    assert(!p.contains("CartesianProduct"),
      s"phrase/word joins must stay equi- or broadcast joins:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"global top-30 must ride per-partition heads, not a full sort:\n$p")
  }

  test("cluster quality stays broadcast-shaped: no cartesian product, no window") {
    val p = plan("s_cluster_quality")
    assert(!p.contains("CartesianProduct") && !p.contains("Window"), p)
  }

  test("the contract audit's only cross-table rule is an anti-join") {
    assert(plan("p_contract_audit").contains("LeftAnti"))
  }

  test("embedding drift is a join-free partial-agg chain") {
    val p = plan("s_embed_drift")
    assert(!p.contains("Join") && !p.contains("Window"), p)
  }

  test("markov power steps: the only data-sized window is user-partitioned") {
    val p = plan("a_markov_stationary")
    assert(unpartitionedWindows(p).isEmpty,
      s"the transition lead window must partition on user_id:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("aspect bucketing broadcasts the 9-row ladder and windows per asset") {
    val p = plan("m_aspect_bucket")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"the ladder fan-out must be a broadcast, never a shuffle:\n$p")
    assert(unpartitionedWindows(p).isEmpty,
      s"the argmin window must partition on asset_id:\n$p")
  }

  test("pareto and inter-purchase CDF windows sit above bounded histograms") {
    Seq("a_pareto", "a_interpurchase").foreach { name =>
      val lines = plan(name).linesIterator.toList
      val wIdx = lines.indexWhere(_.contains("Window"))
      assert(wIdx >= 0, s"$name: expected the cumulative window")
      assert(lines.drop(wIdx).exists(_.contains("HashAggregate")),
        s"$name: the CDF window must consume the histogram aggregate, not raw rows")
    }
  }

  test("ahash dedup pairs ride an equi-join on the band, never a cartesian") {
    val p = plan("m_ahash_dedup")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"banded candidates must be an equi-join:\n$p")
    // the fingerprint frame is materialized (PlanCached): the HOF
    // chain must not re-evaluate through the self-join
    assert(p.contains("InMemoryTableScan") || p.contains("Scan ExistingRDD"),
      s"fingerprints must come from the cache, not be recomputed:\n$p")
  }

  test("hits phases read the materialized score frames, not a doubled iterate") {
    val p = plan("g_hits")
    // each of the 8 rescales references its phase frame twice; the
    // eager localCheckpoint turns those into ExistingRDD scans
    assert(p.contains("Scan ExistingRDD"),
      s"phase frames must be checkpointed:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("conserving markov folds on the driver: the plan is one local scan") {
    val p = plan("a_markov_conserve")
    // the transition matrix is vocabulary²-bounded metadata behind a
    // loud collect gate, so the eight conserving rounds fold in driver
    // longs (the s_embed_pc1 Gram power-iteration convention) and the
    // result frame is a LITERAL — no exchange, no join, no window; the
    // data-sized pass lives in the shared (cached) markovMatrix build
    assert(p.contains("LocalTableScan") || p.contains("LocalRelation"),
      s"expected a literal result frame:\n$p")
    assert(!p.contains("Exchange") && !p.contains("Join") &&
      !p.contains("Window"), s"the fold must leave no distributed steps:\n$p")
  }

  test("per-doc textrank groups each document once and iterates in place") {
    val p = plan("t_textrank_doc")
    // the per-document iterate is fused into TextRankFixed over ONE
    // collect_list group per doc — the plan must carry the fold
    // (ObjectHashAggregate for collect_list + the explode Generate),
    // and must NOT re-join the edge frame per round (the pre-r12
    // unroll had 4 per-round joins; only the wout degree-annotate
    // join inside the cached substrate remains, and the cache hides
    // even that behind an InMemoryTableScan)
    assert(p.contains("ObjectHashAggregate") && p.contains("Generate"),
      s"expected the collect_list + explode fold:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"no per-round edge joins may remain:\n$p")
  }

  test("DCT near-dup pairs ride the banded equi-join over the cached fingerprints") {
    val p = plan("m_dct_neardup")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"banded candidates must be an equi-join:\n$p")
    assert(p.contains("InMemoryTableScan") || p.contains("Scan ExistingRDD"),
      s"fingerprints must come from the cache, not be recomputed:\n$p")
  }

  test("perplexity filter: cutoffs fold over the bounded histogram, no data window") {
    val p = plan("e_ppl_filter")
    assert(!p.contains("CartesianProduct"), p)
    // the only windows allowed are ExactPercentiles' cumulative pass
    // over the per-(lang, value) HISTOGRAM aggregate — a window
    // directly over corpus rows would funnel a language through one task
    val lines = p.linesIterator.toList
    val wIdx = lines.indexWhere(_.contains("Window"))
    assert(wIdx < 0 || lines.drop(wIdx).exists(_.contains("HashAggregate")),
      s"windows must sit above the value histogram, never raw rows:\n$p")
  }

  test("all-gates curation row: keyed equi-joins, cutoff folds over the histogram") {
    val p = plan("e_curation_full")
    assert(!p.contains("CartesianProduct"), p)
    // the one nested-loop allowed is ExactPercentiles' bounded
    // quantile-position attach (per-lang count frame × the 1-row
    // quantile literal — an aggregate-sized cross, the documented
    // attach-a-global shape); every DATA-sized join must be keyed
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 1,
      s"only the histogram's quantile-position attach may nested-loop:\n$p")
    // windows only above the ExactPercentiles histogram aggregate,
    // never over corpus rows (the e_ppl_filter rule)
    val lines = p.linesIterator.toList
    val wIdx = lines.indexWhere(_.contains("Window"))
    assert(wIdx < 0 || lines.drop(wIdx).exists(_.contains("HashAggregate")),
      s"windows must sit above the value histogram, never raw rows:\n$p")
  }

  test("epoch schedule and fertility are partial-agg folds, no data-sized joins") {
    val es = plan("e_epoch_schedule")
    assert(!es.contains("CartesianProduct") && !es.contains("Window"), es)
    assert("BroadcastNestedLoopJoin".r.findAllIn(es).length <= 1,
      s"only the 1-row weight-total frame may nested-loop:\n$es")
    val tf = plan("t_fertility")
    assert(!tf.contains("Join") && !tf.contains("Window") &&
      tf.contains("HashAggregate"), s"one keyed aggregate, nothing else:\n$tf")
  }

  test("interval-overlap join rides the bucket equi-join, never a cartesian") {
    // both entry points — the DSL operator and its spark.sql twin —
    // must plan the SAME bucketed shape: the parser path expressing
    // the rewrite is the point of q_sql_interval
    for (name <- Seq("a_interval_join", "q_sql_interval")) {
      val p = plan(name)
      assert(p.contains("Generate"),
        s"$name: bucket fan-out must be the explode, not a range condition:\n$p")
      assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin") ||
        p.contains("ShuffledHashJoin"),
        s"$name: candidates must come from a bucket EQUI-join:\n$p")
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"$name: the naive inequality join must never plan:\n$p")
    }
    // same join strategy from both entry points at this scale
    def joinKind(s: String): String =
      Seq("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
        .find(s.contains).getOrElse("none")
    assert(joinKind(plan("q_sql_interval")) === joinKind(plan("a_interval_join")),
      "SQL form must pick the DSL twin's join strategy")
  }

  test("as-of join is one key-sorted window from both entry points, never a range join") {
    for (name <- Seq("a_asof_join", "q_sql_asof")) {
      val p = plan(name)
      assert(p.contains("Window"),
        s"$name: the carry must be the running window:\n$p")
      assert(!p.contains("CartesianProduct") && !p.contains("Join"),
        s"$name: never the O(LxR) range join — the union+window rewrite is the operator:\n$p")
    }
  }

  test("the SQL LSH pipeline generates candidates from the band equi-join, never all-pairs") {
    val p = plan("q_sql_lsh")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"candidate generation must stay the banded equi-join from the parser path too:\n$p")
    assert(p.toLowerCase.contains("minhashsketch") ||
      p.toLowerCase.contains("minhash_sketch"),
      s"the registered aggregate must plan natively:\n$p")
  }

  test("tile near-dup candidates ride the tile-hash equi-join, never a cartesian") {
    val p = plan("m_tile_neardup")
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin") ||
      p.contains("ShuffledHashJoin"),
      s"pair candidates must come from the tile-hash EQUI-join:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"no all-pairs anywhere (the df cap exists so this never plans):\n$p")
  }

  test("theil-sen pairs join inside the event-type key, never all-days") {
    val p = plan("a_theil_sen")
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin") ||
      p.contains("ShuffledHashJoin"),
      s"the pair frame must be an equi-join on event_type:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("readability is one row-local scan: no exchange, no join, no window") {
    val p = plan("t_readability")
    assert(!p.contains("Exchange") && !p.contains("Join") &&
      !p.contains("Window"),
      s"readability must stay entirely row-local:\n$p")
  }

  test("clustering coefficient rides keyed equi-joins, never a cartesian") {
    val p = plan("g_clustering_coeff")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"wedge generation and closing must be equi-joins:\n$p")
    assert(!p.contains("Window"), s"no global ranks anywhere:\n$p")
  }

  test("modularity and freshness broadcast only their 1-row totals") {
    // the single BroadcastNestedLoopJoin in each plan is the 1-row
    // total frame (M / global max); everything else stays keyed
    for (name <- Seq("g_modularity", "p_freshness")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name:\n$p")
      assert(!p.contains("Window"), s"$name must not window:\n$p")
      val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).length
      assert(bnlj <= 1, s"$name: only the 1-row total may nested-loop:\n$p")
    }
  }

  test("survival and lorenz windows sit above bounded histograms") {
    Seq("a_survival", "a_lorenz").foreach { name =>
      val lines = plan(name).linesIterator.toList
      val wIdx = lines.indexWhere(_.contains("Window"))
      assert(wIdx >= 0, s"$name: expected the cumulative window")
      assert(lines.drop(wIdx).exists(_.contains("HashAggregate")),
        s"$name: the window must consume the histogram aggregate, not raw rows")
      assert(!plan(name).contains("CartesianProduct"), name)
    }
  }

  test("reciprocity: the only data-sized window is user-partitioned") {
    val p = plan("g_reciprocity")
    assert(unpartitionedWindows(p).isEmpty,
      s"transition window must be user-partitioned:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("payload entropy is a join-free row-local pass (native stats, no explode)") {
    val p = plan("m_payload_entropy")
    assert(!p.contains("Join") && !p.contains("Window"),
      s"entropy must stay join/window-free:\n$p")
    // r15: the per-character explode + two aggregations fused into the
    // native charentropystats kernel — the plan must carry NO shuffle
    // and evaluate the kernel ONCE (multi-referenced via a projected
    // struct column, which CollapseProject must not inline back)
    assert(!p.contains("Exchange"), s"entropy must be shuffle-free:\n$p")
    assert("charentropystats".r.findAllIn(p.toLowerCase).size == 1,
      s"the native kernel must be evaluated exactly once:\n$p")
  }

  test("language id tokenizes once through the native pick") {
    // r15: the composed when-chain carried TWELVE copies of the
    // trim/lower/split/filter subtree per row (subtree-per-reference,
    // no CSE through HOF lambdas); the native langpick takes the one
    // projected token array
    val p = plan("t_lang_id")
    assert(p.toLowerCase.contains("langpick"), s"native pick not planned:\n$p")
    assert("split\\(lower".r.findAllIn(p).size == 1,
      s"text must be tokenized exactly once:\n$p")
  }

  test("quality score tokenizes once through the native kernel") {
    val p = plan("t_quality")
    assert(p.toLowerCase.contains("qualityscore"), s"native kernel not planned:\n$p")
    assert("split\\(lower".r.findAllIn(p).size == 1,
      s"text must be tokenized exactly once:\n$p")
  }

  test("norm audit is a join-free fold + partial-agg chain") {
    val p = plan("s_norm_audit")
    assert(!p.contains("Join") && !p.contains("Window"),
      s"norm audit must be projection → agg, nothing else:\n$p")
  }

  test("threshold sweep rides the cached pair frame, never regenerates") {
    val p = plan("d_threshold_sweep")
    assert(p.contains("InMemoryTableScan") || p.contains("Scan ExistingRDD"),
      s"the sweep must read the cached pairs, not re-run LSH:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("capped ahash banding keeps the equi-join and the cached fingerprints") {
    val p = plan("m_ahash_capped")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"capped candidates must be an equi-join:\n$p")
    assert(p.contains("InMemoryTableScan") || p.contains("Scan ExistingRDD"),
      s"fingerprints must come from the cache, not be recomputed:\n$p")
  }

  test("the injected-SQL row plans the native expressions, row-local") {
    val p = plan("q_sql_surface")
    // the FunctionRegistry path must resolve to the SAME native
    // Expressions the DSL uses — codegen'd scalar ops, not UDFs
    assert(p.toLowerCase.contains("bigendianint32") ||
      p.toLowerCase.contains("be_int"), s"be_int must plan natively:\n$p")
    assert(p.toLowerCase.contains("vectordot") ||
      p.toLowerCase.contains("vec_dot"), s"vec_dot must plan natively:\n$p")
    assert(!p.contains("Exchange") && !p.contains("Join") &&
      !p.contains("Window"), s"one scan, zero shuffles:\n$p")
  }

  test("the SQL parity pipeline plans like the DSL form: native decode, one equi-join") {
    val p = plan("q_sql_pipeline")
    assert(p.toLowerCase.contains("bigendianint32") ||
      p.toLowerCase.contains("be_int"), s"be_int must plan natively:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"),
      s"the correlation must be an equi-join on trace_id:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("Window"),
      s"no cartesian, no window — the q_log_correlation shape:\n$p")
    // same join strategy as the DSL twin at this scale
    val dsl = plan("q_log_correlation")
    def joinKind(s: String): String =
      Seq("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
        .find(s.contains).getOrElse("none")
    assert(joinKind(p) === joinKind(dsl),
      s"SQL form must pick the DSL twin's join strategy: ${joinKind(p)} vs ${joinKind(dsl)}")
  }

  test("stats profile: the exact form expands, the HLL twin is one pass") {
    val exact = plan("p_stats_profile")
    assert(exact.contains("Expand"),
      s"exact multi-countDistinct must plan as Expand (the oracle-exact form):\n$exact")
    val hll = SparkEntry.pStatsProfileHll(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!hll.contains("Expand"),
      s"the HLL twin must merge sketches in one un-expanded pass:\n$hll")
    assert(!hll.contains("Join") && !hll.contains("Window"), hll)
  }

  test("layout advisors are partial-agg chains; retention folds one broadcast row") {
    for (name <- Seq("p_partition_skew", "p_compaction_plan")) {
      val p = plan(name)
      assert(!p.contains("Join") && !p.contains("Window"),
        s"$name must be two keyed aggregates, nothing else:\n$p")
      assert(p.contains("HashAggregate"), name)
    }
    val r = plan("p_retention_plan")
    assert(!r.contains("CartesianProduct") && !r.contains("Window"), r)
    assert("BroadcastNestedLoopJoin".r.findAllIn(r).length <= 1,
      s"only the 1-row max-day frame may nested-loop:\n$r")
  }

  test("stats profile is one scan: expand-distinct, no join, no window") {
    val p = plan("p_stats_profile")
    assert(p.contains("Expand"),
      s"the multi-distinct must plan via expand, not repeated scans:\n$p")
    assert(!p.contains("Join") && !p.contains("Window"), p)
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"expected one events scan, got $scans:\n$p")
  }

  test("dense lorenz keeps the bounded-histogram window shape") {
    val lines = plan("a_lorenz_dense").linesIterator.toList
    val wIdx = lines.indexWhere(_.contains("Window"))
    assert(wIdx >= 0, "expected the cumulative window")
    assert(lines.drop(wIdx).exists(_.contains("HashAggregate")),
      "the window must consume the histogram aggregate, not raw rows")
    assert(!plan("a_lorenz_dense").contains("CartesianProduct"))
  }
}
