package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.ops.ContextOps
import graft.sources.LocalFs

/** Structured Streaming wiring of the reference topology
  * (reference: src/main/java/com/github/timtebeek/StreamsConfig.java:30-52):
  * one keyed input stream is decoded, context-enriched, branched on
  * parity, and written to two record sinks plus span and log side
  * outputs — all from ONE persisted micro-batch via foreachBatch, so
  * the source is read once no matter how many sinks hang off it
  * (SURVEY.md §7.4: two writeStream queries would re-read the source).
  * Each output is one scan of that batch (the span and log outputs
  * explode each record's two hops). The first sink's write fills the
  * batch cache; the other three then write concurrently.
  *
  * Delivery: at-least-once per sink. A batch whose fan-out fails is
  * not committed, so a restart re-delivers it to every sink
  * (idempotent for deterministic sinks keyed on (topic, offset)).
  *
  * Local files: a trigger's fixed cost is its offset-log and
  * commit-log writes plus the sink writes, and Hadoop's local file
  * system forks a `chmod` or `readlink` process for each file, dir and
  * rename there (~70 per trigger of this topology; without them the
  * median record latency of `stream_pipeline` is about a third lower).
  * [[parquetSink]] and [[start]] therefore route `file:` paths through
  * [[graft.sources.LocalFs]], which makes the same calls with system
  * calls; bytes, names, mode bits and `.crc` files are unchanged.
  */
object Pipeline {

  /** Sink abstraction: batchId + the rows of one output. Parquet dirs
    * in tests; a Kafka producer writer in production. [[start]] calls
    * the sinks after the first concurrently, each on its own thread, so
    * those must be thread-safe ([[parquetSink]] and
    * [[graft.sources.KafkaIO.sink]] are: each call is an independent
    * write). */
  type Sink = (Long, DataFrame) => Unit

  /** Appends each batch to a parquet dir. The write carries
    * [[graft.sources.LocalFs.writeOptions]] (`fs.file.impl` and
    * `fs.file.impl.disable.cache`): they reach the committer and the
    * tasks through the write's Hadoop conf, where a session setting
    * could not replace the `file:` instance Hadoop has already cached.
    *
    * It writes without dictionary encoding (`parquet.enable.dictionary`
    * false, by the same route). The columns of this topology's outputs
    * are unique per record (trace, span and hop ids, messageid, the MDC
    * JSON, header values), so parquet hashed every value into a
    * dictionary and dropped it for PLAIN at the first page flush. In a
    * JFR profile of the `stream_pipeline` backlog drain (4 cores) that
    * was 177 of 401 executor samples. Without it, executor time per
    * thousand records went from 48.5 to 25.5 ms, the drain's records/s
    * from a median 27.2 k to 37.8 k over 11 seeds, and the files grew
    * 2.3 %. Batch and staging writers keep the default. */
  def parquetSink(path: String): Sink = (_, df) => {
    df.write.mode("append").options(LocalFs.writeOptions)
      .option("parquet.enable.dictionary", "false").parquet(path)
  }

  /** Decode + enrich + branch one micro-batch; returns the four
    * outputs (even records, odd records, spans, logs). Shared between
    * the streaming wiring and batch tests so semantics are identical. */
  def processBatch(raw: DataFrame): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val decoded = ContextOps.setBaggage(ContextOps.decode(raw))
    val (even, odd) = ContextOps.evenOdd(decoded)
    // output records carry re-encoded headers: b3 replaced with the
    // child span context, messageid appended
    // (reference contract: StreamsConfigTest.java:64,111)
    (ContextOps.encodeHeaders(even), ContextOps.encodeHeaders(odd),
      ContextOps.standardSpans(decoded), ContextOps.standardLogs(decoded))
  }

  /** Watermarked tumbling-window branch statistics over the decoded
    * stream: per (window, branch) record counts and value sums, with
    * late data bounded by the watermark (SURVEY.md §2.8 — windows and
    * watermarks are absent in the reference's stateless topology but
    * part of this engine's streaming surface). Append-mode compatible:
    * a window's row is final once the watermark passes its end. */
  def windowedBranchStats(raw: DataFrame, watermarkDelay: String, windowLen: String): DataFrame = {
    val decoded = ContextOps.setBaggage(ContextOps.decode(raw))
    decoded
      .withWatermark("ts", watermarkDelay)
      .groupBy(
        window(col("ts"), windowLen).as("w"),
        when(pmod(col("value_int"), lit(2)) === 0, "even").otherwise("odd").as("branch"))
      .agg(count(lit(1)).as("n"), sum(col("value_int")).as("sum_value"))
      .select(col("w.start").as("window_start"), col("branch"), col("n"), col("sum_value"))
  }

  /** Watermarked SESSION-window statistics — the streaming twin of the
    * batch a_session_window registry row: per (user, session) the
    * session bounds and event count, sessions closing after `gap` of
    * event-time inactivity. Spark's native `session_window` merges
    * windows as events land (state per OPEN session, emitted and
    * dropped once the watermark passes session end + gap — append
    * mode), and its end bound is max(ts) + gap, exactly the batch
    * formulation's (the batch row derives sessions via lag/sum break
    * flags — the spec pins all three forms equal on a replay). */
  def sessionStats(events: DataFrame, watermarkDelay: String, gap: String): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_micros(col("w.start")).as("session_start_us"),
        unix_micros(col("w.end")).as("session_end_us"),
        col("n_events"))

  /** Windowed embedding-centroid drift monitor: per tumbling window
    * the EXACT fixed-point mean embedding of everything ingested in
    * that window — the live face of the batch codebook/centroid
    * means ([[graft.functions.VectorSumFixed]], the same aggregate
    * k-means and label centroids build on). The imperative aggregate
    * merges per-partition long buffers like any partial agg, so it
    * composes with streaming window state exactly as
    * percentile_approx does (spec pins batch equality on a replay);
    * downstream compares successive windows' centroids to alarm on
    * ingest drift. Append-mode: a window's centroid is final once
    * the watermark passes. */
  def embeddingDrift(vecs: DataFrame, dims: Int, watermarkDelay: String,
      windowLen: String): DataFrame =
    vecs
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLen).as("w"))
      .agg(graft.functions.VectorSumFixed.vecSumFixed(col("v"), dims, 1000000.0).as("s"),
        count(lit(1)).as("n"))
      .select(unix_micros(col("w.start")).as("window_start_us"), col("n"),
        transform(col("s"), x => (x.cast("double") / 1000000.0) / col("n").cast("double"))
          .as("centroid"))

  /** One closed window's centroid, as [[embeddingDrift]] emits it. */
  case class CentroidObs(window_start_us: Long, n: Long, centroid: Seq[Double])

  /** Drift verdict for one window: cosine against the PREVIOUS
    * window's centroid (None for the first window ever) and the alarm
    * bit. */
  case class DriftAlert(window_start_us: Long, n: Long,
      cos_prev: Option[Double], alert: Boolean)

  /** Alarm state: last closed window + its centroid (public, not
    * private — the state encoder's codegen cannot see private
    * classes, the [[StreamingCriticalPath.SpanRec]] lesson). */
  case class DriftState(lastStartUs: Long, centroid: Seq[Double])

  /** Cosine of two equal-length vectors; 0.0 when either norm is 0 —
    * a collapsed (all-zero) centroid after a live one IS drift, so the
    * zero convention keeps the alarm armed rather than silencing it
    * with a NaN. */
  private[streaming] def cosineOf(a: Seq[Double], b: Seq[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** The drift ALARM over the centroid stream: cosine between window
    * N−1 and N centroids, alert when it falls under `minCos` — the
    * comparison [[embeddingDrift]]'s scaladoc promises downstream.
    *
    * Runs as its own query stage consuming the (one row per closed
    * window) centroid stream — in production the aggregation job
    * writes centroids to a topic and this alarm tails it, which is
    * also why a single-key stateful fold is the CORRECT scale shape
    * here: the input is window-cardinality, never data-sized, and the
    * state is exactly one window id + d doubles. Windows close in
    * watermark order, so arrival order is monotone by construction;
    * a regression is a wiring bug and fails loudly (the
    * StreamingPacker enforcement rule). Batch agreement: replaying
    * the same centroid rows reproduces the batch lag-window cosines
    * bit for bit (spec-pinned). */
  def driftAlarm(cents: org.apache.spark.sql.Dataset[CentroidObs],
      minCos: Double): org.apache.spark.sql.Dataset[DriftAlert] = {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    implicit val outEnc = Encoders.product[DriftAlert]
    implicit val stEnc = Encoders.product[DriftState]
    implicit val keyEnc = Encoders.scalaInt
    cents.groupByKey(_ => 0)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: Int, rows: Iterator[CentroidObs], state: GroupState[DriftState]) => {
          val sorted = rows.toIndexedSeq.sortBy(_.window_start_us)
          var prev = state.getOption
          val out = sorted.map { c =>
            prev.foreach(p => require(p.lastStartUs < c.window_start_us,
              s"centroid window regression: ${p.lastStartUs} then ${c.window_start_us}"))
            val cos = prev.map(p => cosineOf(p.centroid, c.centroid))
            prev = Some(DriftState(c.window_start_us, c.centroid))
            DriftAlert(c.window_start_us, c.n, cos, cos.exists(_ < minCos))
          }
          prev.foreach(state.update)
          out.iterator
        })
  }

  /** Windowed PSI drift monitor over a model-score stream — the live
    * face of the batch s_psi audit ([[graft.SparkEntry]]): per
    * tumbling window, the decile histogram of e4-integer scores
    * against a STATIC reference distribution, rolled into the PSI
    * Σ(p_w − p_ref)·ln(p_w/p_ref) with per-bucket add-one smoothing
    * on the window side. The reference rides as TEN LITERALS (a
    * trained model's validation-set distribution — a constant, not a
    * stream), so the whole monitor is one windowed aggregate with 10
    * conditional sums: codegen end-to-end, no join, no UDF, state =
    * 11 longs per open window. Append mode — a window's PSI is final
    * once the watermark passes; alert when it exceeds `maxPsi`
    * (industry rule of thumb: 0.1 investigate, 0.25 act). */
  def psiMonitor(scores: DataFrame, refProbs: Seq[Double],
      watermarkDelay: String, windowLen: String, maxPsi: Double): DataFrame = {
    require(refProbs.length == 10, s"need 10 decile probs, got ${refProbs.length}")
    require(refProbs.forall(_ > 0.0),
      "reference deciles must be positive (smooth the reference first — " +
        "a zero cell makes ln(p_w/p_ref) unbounded)")
    require(math.abs(refProbs.sum - 1.0) < 1e-9,
      s"reference must sum to 1, got ${refProbs.sum}")
    val cs = (0 to 9).map(b =>
      sum(when(expr("least(p4 div 1000, 9)") === b, 1L).otherwise(0L)).as(s"c$b"))
    val agged = scores.withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLen).as("w"))
      .agg(cs.head, (cs.tail :+ count(lit(1)).as("n")): _*)
    val psi = (0 to 9).map { b =>
      val pa = (col(s"c$b") + 1).cast("double") / (col("n") + 10)
      (pa - lit(refProbs(b))) * log(pa / lit(refProbs(b)))
    }.reduce(_ + _)
    agged.select(unix_micros(col("w.start")).as("window_start_us"), col("n"),
      round(psi, 6).as("psi"), (psi > maxPsi).as("alert"))
  }

  /** Streaming exact deduplication: drop records whose dedup key was
    * already seen, with state bounded by the watermark (keys older
    * than the delay are forgotten — the standard unbounded-stream
    * dedup shape; without the watermark the key set grows forever).
    * Key = (key, value_int) by default: a re-delivered record (the
    * at-least-once duplicate window) is suppressed downstream. */
  def dedupStream(raw: DataFrame, watermarkDelay: String,
      keys: Seq[String] = Seq("key", "value_int")): DataFrame =
    ContextOps.setBaggage(ContextOps.decode(raw))
      .withWatermark("ts", watermarkDelay)
      .dropDuplicates(keys :+ "ts")

  /** Ingest-time dedup against an existing corpus: decoded records are
    * dropped when (a) their content hash already exists in the STATIC
    * corpus index — a stream-static left_anti join, so the corpus is
    * never shuffled per micro-batch and at scale arrives as a
    * broadcast or bucketed hash set — or (b) the same content already
    * appeared earlier in the stream (watermark-bounded state, as in
    * [[dedupStream]]). This is the streaming half of the exact-dedup
    * apply step: the batch side dedups the corpus, this keeps it
    * clean as new data lands. */
  def ingestDedup(raw: DataFrame, corpusHashes: DataFrame,
      watermarkDelay: String): DataFrame =
    ContextOps.setBaggage(ContextOps.decode(raw))
      .withColumn("content_hash",
        graft.codec.Codecs.portableHash(
          concat_ws("|", col("key"), col("value_int"))))
      .withWatermark("ts", watermarkDelay)
      // keyed on CONTENT alone: the same document re-ingested later
      // with a fresh event time is still a duplicate (state bounded by
      // the watermark window, hence WithinWatermark)
      .dropDuplicatesWithinWatermark(Seq("content_hash"))
      .join(corpusHashes.select(col("content_hash")), Seq("content_hash"), "left_anti")

  /** Streaming ingest decontamination: grams of each arriving document
    * pass a broadcast Bloom filter of the STATIC eval-gram index (built
    * once at wiring time via [[graft.ext.Dedup.buildBloom]]) and only
    * the survivors — true hits plus the ~fpp false-positive sliver —
    * reach the exact stream-static confirm semi-join. The streaming
    * side therefore never shuffles the full gram stream: the bloom
    * probe is a narrow per-row map riding in every task as a literal.
    *
    * Emits append-safe (doc_id, h) contaminated-gram hits with NO
    * streaming state (no watermark, no aggregation): per-doc policy
    * (drop, flag, quarantine) is a stateless per-micro-batch rollup in
    * the sink's foreachBatch, where exactly-one-row-per-doc semantics
    * are free. Results are exact — the confirm join kills every bloom
    * false positive, same contract as the batch twin. */
  def decontamGate(docs: DataFrame, evalDocs: DataFrame, n: Int,
      expectedEvalGrams: Long = -1L): DataFrame = {
    import graft.codec.Codecs
    val evalGrams = graft.ext.Dedup.shingleHashes(evalDocs, n)
      .select(col("doc_id").as("eval_doc"), col("h"))
    // eval side is STATIC, so sizing the bloom from its actual gram
    // count happens once at wiring time, not per micro-batch
    val expected =
      if (expectedEvalGrams > 0) expectedEvalGrams
      else graft.ext.Dedup.bloomExpectedItems(evalGrams, col("h"))
    val bloom = graft.ext.Dedup.buildBloom(evalGrams, col("h"), expected)
    val streamGrams = docs
      .select(col("doc_id"),
        explode(array_distinct(Codecs.shingles(Codecs.tokens(col("text")), n))).as("sh"))
      .select(col("doc_id"), Codecs.portableHash(col("sh")).as("h"))
    val pre =
      if (bloom == null) streamGrams.filter(lit(false)) // empty eval index
      else streamGrams.filter(graft.ext.Dedup.mightContain(bloom, col("h")))
    pre.join(evalGrams.select(col("h")), Seq("h"), "left_semi")
  }

  /** Streaming span-level decontamination — [[decontamGate]]'s answer
    * to "WHERE is the document contaminated", the streaming twin of
    * [[graft.ext.Dedup.duplicatedSpans]] pointed at a STATIC eval set:
    * for each arriving document, the maximal token spans built from
    * eval-hit n-gram positions, runs ≤ n apart merged, span covering
    * [span_start, span_end] = [first pos, last pos + n - 1] — the
    * exact islands rule of the batch operator, so a span a batch
    * d_span_dedup-style pass would cut is the span this gate reports
    * on arrival.
    *
    * State story: NONE. The eval gram-hash set is collected once at
    * wiring time and rides to executors as a broadcast sorted long
    * array (8 bytes/gram — executor-resident exactly like a broadcast
    * semi-join's small side; benchmark-sized eval sets are MBs). Each
    * document's spans are then a pure row-local computation —
    * tokenize/shingle via the SAME column kernels as the batch path,
    * then binary-search + merge per partition — so output is
    * append-safe, needs no watermark, and re-sending a document
    * re-emits identical spans (no dedup state). An eval set too big
    * for executor memory belongs on the batch twin's exact shuffle
    * join instead. */
  def decontamSpans(docs: DataFrame, evalDocs: DataFrame, n: Int): DataFrame = {
    import graft.codec.Codecs
    val spark = docs.sparkSession
    import spark.implicits._
    val evalHashes: Array[Long] = graft.ext.Dedup.shingleHashes(evalDocs, n)
      .select(col("h")).distinct().as[Long].collect().sorted
    val bc = spark.sparkContext.broadcast(evalHashes)
    val grams = docs.select(col("doc_id"),
      transform(Codecs.shingles(Codecs.tokens(col("text")), n),
        sh => Codecs.portableHash(sh)).as("hs"))
    grams.as[(Long, Seq[Long])].mapPartitions { it =>
      val set = bc.value
      it.flatMap { case (docId, hsOrNull) =>
        val hs = if (hsOrNull == null) Seq.empty[Long] else hsOrNull
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
        var start = -1L
        var last = -1L
        var cnt = 0L
        var i = 0
        while (i < hs.length) {
          if (java.util.Arrays.binarySearch(set, hs(i)) >= 0) {
            if (start < 0) { start = i; last = i; cnt = 1 }
            else if (i - last <= n) { last = i; cnt += 1 }
            else {
              out += ((docId, start, last + n - 1, cnt))
              start = i; last = i; cnt = 1
            }
          }
          i += 1
        }
        if (start >= 0) out += ((docId, start, last + n - 1, cnt))
        out
      }
    }.toDF("doc_id", "span_start", "span_end", "n_grams")
  }

  /** Streaming incremental near-dup ingest gate — the streaming twin
    * of [[graft.ext.Dedup.incrementalNearDups]]: each arriving
    * document is probed against the STATIC corpus LSH band index and
    * emits one row per (doc_id, corpus_doc) near-dup hit with its
    * exact verified Jaccard. The values match the batch operator
    * bit-for-bit (same shingle hashing, same MinHash permutations,
    * same band keys), pinned by spec.
    *
    * State story: NONE — everything is per-row column work plus
    * stream-static equi-joins, so output is append-safe with no
    * watermark and a re-sent document re-emits identical rows.
    *  - The MinHash signature is computed per row as k array folds
    *    over the row's own shingle hashes (a streaming groupBy like
    *    the batch [[graft.functions.MinHashSketch]] would need
    *    aggregation state; the fold needs none).
    *  - Candidates come from ONE stream-static equi-join on
    *    (band, bkey) — ≤ `bands` probe rows per document against the
    *    corpus band index, which at production scale is the persisted
    *    staging table of [[graft.ext.Dedup.lshBandRows]], bucketed on
    *    the join key so micro-batches never reshuffle the corpus.
    *  - A pair matching in several bands would emit duplicates under
    *    a plain join, and deduping would need state: instead each
    *    candidate keeps only its FIRST matching band — both sides
    *    carry their full band-key arrays, so "no earlier band also
    *    matched" is a row-local predicate (first-match-wins, the same
    *    trick as the P3 brancher).
    *  - The exact verify is array_intersect against the corpus doc's
    *    shingle-hash array (static side of the second join) — no
    *    gram-level shuffle ever touches the stream.
    * Admission policy (drop/flag/quarantine on any hit) is a stateless
    * per-micro-batch rollup in the sink's foreachBatch, as with
    * [[decontamGate]]. */
  def incrementalGate(docs: DataFrame, corpusDocs: DataFrame, n: Int,
      k: Int, bands: Int, rowsPerBand: Int, minJaccard: Double): DataFrame = {
    import graft.codec.Codecs
    val P = graft.ext.Dedup.P
    require(bands * rowsPerBand == k, "bands * rowsPerBand must equal k")
    def hashesOf(text: Column): Column =
      transform(array_distinct(Codecs.shingles(Codecs.tokens(text), n)),
        sh => Codecs.portableHash(sh))
    // k-component MinHash signature as row-local folds; permutation
    // formula identical to MinHashSketch.update (h is 56-bit so
    // h*(2i+1)+c stays below 2^62 — no overflow, % == pmod)
    def sigOf(hs: Column): Column = array((0 until k).map { i =>
      array_min(transform(hs, h => (h * (2L * i + 1) + (10007L * i + 1)) % P))
    }: _*)
    // band keys exactly as lshBandRows: hash of the comma-joined rows
    def bkeysOf(sig: Column): Column = array((0 until bands).map { j =>
      Codecs.portableHash(concat_ws(",",
        (j * rowsPerBand until (j + 1) * rowsPerBand)
          .map(i => element_at(sig, i + 1)): _*))
    }: _*)

    // static corpus side: band cells carrying the doc's full band-key
    // array (for first-match-wins) and its shingle hashes (for verify).
    // PlanCached at wiring time — a stream-static join re-executes the
    // static plan EVERY micro-batch, and re-hashing the corpus per
    // batch is exactly the cost the incremental design exists to avoid
    // (in production this frame is the persisted band staging table)
    val corpusCells = graft.ops.PlanCache.cached(
        s"incr-gate-cells-$n-$k-$bands-$rowsPerBand", corpusDocs) {
      corpusDocs
        .select(col("doc_id").as("corpus_doc"), hashesOf(col("text")).as("c_hashes"))
        .filter(size(col("c_hashes")) > 0)
        .withColumn("c_bkeys", bkeysOf(sigOf(col("c_hashes"))))
        .select(col("corpus_doc"), col("c_hashes"), col("c_bkeys"),
          posexplode(col("c_bkeys")).as(Seq("band", "bkey")))
    }

    val probes = docs
      .select(col("doc_id"), hashesOf(col("text")).as("hashes"))
      .filter(size(col("hashes")) > 0) // shingle-less docs have no signature
      .withColumn("bkeys", bkeysOf(sigOf(col("hashes"))))
      .select(col("doc_id"), col("hashes"), col("bkeys"),
        posexplode(col("bkeys")).as(Seq("band", "bkey")))

    // "no band before this one also matched": compare the first `band`
    // keys of both sides pairwise (slice of length 0 at band=0 — no
    // sequence() whose empty case would step backwards)
    val firstMatch = size(filter(
      zip_with(slice(col("bkeys"), lit(1), col("band")),
        slice(col("c_bkeys"), lit(1), col("band")), (a, b) => a === b),
      x => x)) === 0
    val inter = size(array_intersect(col("hashes"), col("c_hashes"))).cast("double")
    val uni = (size(col("hashes")) + size(col("c_hashes"))).cast("double") - inter
    probes.join(corpusCells, Seq("band", "bkey"))
      .filter(firstMatch)
      .withColumn("jaccard", round(inter / uni, 4))
      .filter(col("jaccard") >= minJaccard)
      .select(col("doc_id"), col("corpus_doc"), col("jaccard"))
  }

  /** Streaming winnowing gate (the MOSS-style admission check): each
    * arriving document's winnowing fingerprint SET is computed
    * row-locally and probed against the cached corpus fingerprint
    * index; pairs sharing ≥ `minShared` fingerprints are flagged —
    * the online form of d_winnow_pairs, the same way incrementalGate
    * is the online form of the LSH verify.
    *
    * Row-local fingerprints: only the fingerprint VALUES matter for
    * set overlap, and the value of a window's fingerprint is its
    * minimum gram hash regardless of which (rightmost) position the
    * batch operator records — so the per-doc set is
    * distinct(min per w-window), one ordered HOF fold per row, no
    * window function (streams cannot window) and no state. The corpus
    * side reuses the BATCH winnow operator's index, PlanCached at
    * wiring time per the stream-static rule (re-winnowing the corpus
    * every micro-batch is the cost the gate exists to avoid; in
    * production this is the persisted fingerprint staging table).
    *
    * Duplicate suppression without dedup state: candidate rows join on
    * single exploded fingerprints, and a pair emits only on the FIRST
    * shared fingerprint in the probe's window order — the same
    * first-match-wins trick as incrementalGate's band arrays; the
    * shared count itself is a row-local array_intersect. Append-safe,
    * zero streaming state. */
  def winnowGate(docs: DataFrame, corpusDocs: DataFrame, n: Int, w: Int,
      minShared: Int): DataFrame = {
    import graft.codec.Codecs
    val hs = transform(Codecs.shingles(Codecs.tokens(col("text")), n),
      g => Codecs.portableHash(g))
    // docs shorter than one full window have no fingerprints (the
    // batch operator's sizes filter); sequence() must not step
    // backwards on them
    val fpsExpr = when(size(hs) >= w,
      array_distinct(transform(sequence(lit(1), size(hs) - (w - 1)),
        i0 => array_min(slice(hs, i0, lit(w))))))
      .otherwise(array().cast("array<long>"))
    val corpusIdx = graft.ops.PlanCache.cached(s"winnow-gate-idx-$n-$w", corpusDocs) {
      graft.ext.TextOps.winnow(corpusDocs, n, w)
        .groupBy(col("doc_id").as("corpus_doc"))
        .agg(collect_set(col("fp")).as("c_fps"))
        .select(col("corpus_doc"), col("c_fps"),
          explode(col("c_fps")).as("fp"))
    }
    val probes = docs
      .select(col("doc_id"), fpsExpr.as("fps"))
      .filter(size(col("fps")) > 0)
      .select(col("doc_id"), col("fps"), explode(col("fps")).as("fp"))
    val firstShared =
      element_at(filter(col("fps"), x => array_contains(col("c_fps"), x)), 1)
    probes.join(corpusIdx, Seq("fp"))
      .filter(col("fp") === firstShared)
      .withColumn("n_shared",
        size(array_intersect(col("fps"), col("c_fps"))).cast("long"))
      .filter(col("n_shared") >= minShared.toLong)
      .select(col("doc_id"), col("corpus_doc"), col("n_shared"))
  }

  /** Streaming perceptual-hash admission gate — the online form of
    * the m_ahash_dedup registry row, the [[winnowGate]] pattern at
    * the pixel level: each arriving asset's 60-bit average-hash
    * fingerprint is computed row-locally
    * ([[graft.ext.Multimodal.ahashFingerprints]] is a pure narrow
    * select, so it runs unchanged on a stream), split into its
    * maxHamming+1 pigeonhole segments, and probed against the cached
    * corpus segment index; the exact bit_count verify then keeps
    * pairs within the radius. Pigeonhole recall as in
    * [[graft.ext.Dedup.simhashPairs]]: a within-radius pair agrees on
    * at least one segment, so the gate cannot miss a stored near-dup.
    * Duplicate suppression without state: a candidate pair emits only
    * on the FIRST segment index where the two hashes agree — both
    * hashes ride the joined row, so "first" is row-local arithmetic
    * (the winnowGate first-match trick). Matches are against the
    * CORPUS only — intra-batch duplicates are the batch operator's
    * job at compaction time. Append-safe, zero streaming state; in
    * production the index is the persisted fingerprint staging
    * table. */
  def ahashGate(docs: DataFrame, corpusDocs: DataFrame,
      maxHamming: Int = 6): DataFrame = {
    val nSeg = maxHamming + 1
    val bits = 60
    def segOf(h: String, s: String): String =
      s"""(shiftright($h, CAST(($s * $bits) DIV $nSeg AS INT)) &
         (shiftleft(CAST(1 AS BIGINT),
           CAST((($s + 1) * $bits) DIV $nSeg - ($s * $bits) DIV $nSeg AS INT))
          - 1))"""
    def segsOf(h: String): Column = expr(
      s"""transform(sequence(0, ${nSeg - 1}), s ->
          named_struct('seg', s, 'segval', ${segOf(h, "s")}))""")
    val corpusIdx = graft.ops.PlanCache.cached(s"ahash-gate-idx-$maxHamming", corpusDocs) {
      graft.ext.Multimodal.ahashFingerprints(corpusDocs)
        .select(col("doc_id").as("corpus_doc"), col("simhash").as("c_hash"),
          explode(segsOf("simhash")).as("b"))
        .select(col("corpus_doc"), col("c_hash"),
          col("b.seg").as("seg"), col("b.segval").as("segval"))
    }
    val probes = graft.ext.Multimodal.ahashFingerprints(docs)
      .select(col("doc_id"), col("simhash").as("p_hash"),
        explode(segsOf("simhash")).as("b"))
      .select(col("doc_id"), col("p_hash"),
        col("b.seg").as("seg"), col("b.segval").as("segval"))
    val firstMatch = expr(
      s"""element_at(filter(sequence(0, ${nSeg - 1}), s ->
          ${segOf("p_hash", "s")} = ${segOf("c_hash", "s")}), 1)""")
    probes.join(corpusIdx, Seq("seg", "segval"))
      .filter(col("seg") === firstMatch)
      .withColumn("hamming", expr("bit_count(p_hash ^ c_hash)").cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_id"), col("corpus_doc"), col("hamming"))
  }

  /** One matched gram position of an arriving document (gate-internal). */
  case class SubstrPos(doc_id: Long, n_tok: Long, pos: Long)
  /** Substring-gate verdict row. */
  case class SubstrAdmit(doc_id: Long, n_tok: Long, dup_tokens: Long,
      dup_frac: Double, admit: Boolean)

  /** Streaming cross-doc substring admission gate — the online form of
    * [[graft.ext.Dedup.crossDocDupFraction]]: each arriving document's
    * PROJECTED duplicated-token fraction against the static corpus,
    * rejected above `maxFrac` (Lee et al.-style contamination
    * thresholding at ingest).
    *
    * Equivalence to the batch fraction, exactly: a position's
    * match_len is ≥ n iff its leading n-gram occurs in another
    * document, and the interval union of [q, q+match_len(q)−1] over
    * matched positions equals the union of the fixed-width
    * [q, q+n−1] windows (every start inside a longer shared run is
    * itself matched, so the wider intervals add nothing — also why
    * the batch maxLcp cap never changes coverage). The gate therefore
    * needs only GRAM MEMBERSHIP, not suffix ordering: the corpus side
    * is the per-gram (distinct-doc count, sole owner) index derived
    * from the same PlanCached positional-gram frame the batch family
    * reads (in production: the persisted gram staging table), and the
    * self-match rule (`nd ≥ 2 ∨ owner ≠ doc`) makes a REPLAYED corpus
    * document score identically to the batch operator — the spec pins
    * this.
    *
    * Plan shape: row-local tokenize/shingle/hash → ONE stream-static
    * equi-join on the gram hash → per-doc interval-union fold in a
    * transformWithState handler that keeps NO state (a document
    * arrives whole within one micro-batch — re-sent docs re-emit the
    * identical verdict, append-safe like the other gates). Documents
    * with no corpus-shared gram emit nothing: absence = dup_frac 0 =
    * admit. */
  def substringGate(docs: DataFrame, corpusDocs: DataFrame, n: Int,
      maxFrac: Double): DataFrame = {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val idx = graft.ops.PlanCache.cached(s"substr-gate-idx-$n", corpusDocs) {
      graft.ext.Dedup.positionalGrams(corpusDocs, n)
        .groupBy("h")
        .agg(countDistinct(col("doc_id")).as("nd"), min(col("doc_id")).as("d0"))
    }
    val probes = docs
      .select(col("doc_id"), graft.codec.Codecs.tokens(col("text")).as("tk"))
      .select(col("doc_id"), size(col("tk")).cast("long").as("n_tok"),
        posexplode(graft.codec.Codecs.shingles(col("tk"), n)).as(Seq("pos", "sh")))
      .select(col("doc_id"), col("n_tok"), col("pos").cast("long").as("pos"),
        graft.codec.Codecs.portableHash(col("sh")).as("h"))
    implicit val posEnc = Encoders.product[SubstrPos]
    implicit val keyEnc = Encoders.scalaLong
    implicit val outEnc = Encoders.product[SubstrAdmit]
    probes.join(idx, Seq("h"))
      .filter(col("nd") >= 2 || col("d0") =!= col("doc_id"))
      .select(col("doc_id"), col("n_tok"), col("pos"))
      .as[SubstrPos]
      .groupByKey(_.doc_id)
      .transformWithState(new SubstringGateProcessor(n, maxFrac),
        TimeMode.None(), OutputMode.Append())
      .toDF()
  }

  /** Stateless per-doc verdict fold for [[substringGate]]: sorts the
    * micro-batch's matched positions and sweeps the fixed-width
    * interval union (same running-max rule as the batch island sweep;
    * rounding matches Spark `round`'s HALF_UP). */
  private class SubstringGateProcessor(n: Int, maxFrac: Double)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, SubstrPos, SubstrAdmit] {
    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = ()

    override def handleInputRows(key: Long, rows: Iterator[SubstrPos],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[SubstrAdmit] = {
      val rs = rows.toArray
      if (rs.isEmpty) Iterator.empty
      else {
        val nTok = rs.head.n_tok
        var covered = 0L
        var lastEnd = -1L
        rs.map(_.pos).sorted.foreach { p =>
          val e = p + n - 1
          if (p > lastEnd) covered += n
          else if (e > lastEnd) covered += e - lastEnd
          lastEnd = math.max(lastEnd, e)
        }
        val frac =
          if (nTok > 0)
            BigDecimal(covered.toDouble / nTok)
              .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
          else 0.0
        Iterator.single(SubstrAdmit(key, nTok, covered, frac, frac <= maxFrac))
      }
    }

    override def handleExpiredTimer(key: Long,
        tv: org.apache.spark.sql.streaming.TimerValues,
        info: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[SubstrAdmit] =
      Iterator.empty
  }

  /** Streaming twin of [[ContextOps.correlate]]: records and log rows
    * arrive as TWO live streams and are joined on trace_id as a
    * stream-stream inner join. Both sides are watermarked and the join
    * carries a time-range bound, so per-key join state is dropped once
    * the watermark passes the range — the condition Structured
    * Streaming requires to avoid unbounded state. Expects
    * records(trace_id, ts, …) and logs(trace_id, log_ts, line). */
  def correlateStreams(records: DataFrame, logs: DataFrame,
      watermarkDelay: String): DataFrame = {
    val r = records.withWatermark("ts", watermarkDelay)
    val l = logs.select(col("trace_id").as("l_trace_id"), col("log_ts"), col("line"))
      .withWatermark("log_ts", watermarkDelay)
    r.join(l,
        col("trace_id") === col("l_trace_id") &&
          col("log_ts") >= col("ts") - expr("INTERVAL 1 HOUR") &&
          col("log_ts") <= col("ts") + expr("INTERVAL 1 HOUR"))
      .drop("l_trace_id")
  }

  /** Streaming twin of [[graft.ops.IntervalJoin.overlap]] for
    * BOUNDED-duration intervals, as a stream-stream inner join.
    * Structured Streaming refuses a join with no equality predicate,
    * so the operator's own bucket trick carries over: with every
    * interval's duration declared ≤ `maxDurUs`, overlap IMPLIES
    * |l.start − r.start| ≤ maxDurUs, so at bucket width = maxDurUs
    * the right start's bucket is within ±1 of the left start's — the
    * left side probes its three neighbor buckets (multiplicity-3
    * map-side explode, the multiprobe convention) and the join is an
    * EQUI-join on the bucket with the exact overlap as residual. A
    * pair matches exactly once (one right bucket, three DISTINCT left
    * probes). The start-to-start range bound on the two WATERMARKED
    * event-time columns rides along, which is what lets the engine
    * evict per-side join state as the watermark advances (the
    * correlateStreams discipline, generalized from a trace key to an
    * interval). The duration bound is enforced LOUDLY per row (the
    * IntervalJoin cap convention): a longer-than-declared interval
    * fails the query instead of silently missing the matches its
    * start-range excluded.
    *
    * Column contract: left (l_start_ts: timestamp, l_start_us,
    * l_end_us: long, …), right (r_start_ts, r_start_us, r_end_us, …);
    * the `_ts`/`_us` pairs carry the same instant (the ts drives
    * watermarks, the us drives exact long arithmetic). */
  def intervalOverlapStream(left: DataFrame, right: DataFrame,
      maxDurUs: Long, watermarkDelay: String): DataFrame = {
    require(maxDurUs > 0, s"maxDurUs must be > 0, got $maxDurUs")
    def guarded(df: DataFrame, s: String, e: String): DataFrame =
      df.filter(assert_true(col(e) - col(s) <= maxDurUs,
        lit(s"intervalOverlapStream: interval longer than the declared " +
          s"$maxDurUs us duration bound — matches beyond the start-range " +
          "would be silently missed; raise maxDurUs")).isNull)
    val l = guarded(left, "l_start_us", "l_end_us")
      .withWatermark("l_start_ts", watermarkDelay)
      .withColumn("_probe",
        explode(expr(s"array(l_start_us div ${maxDurUs}L - 1L, " +
          s"l_start_us div ${maxDurUs}L, l_start_us div ${maxDurUs}L + 1L)")))
    val r = guarded(right, "r_start_us", "r_end_us")
      .withWatermark("r_start_ts", watermarkDelay)
      .withColumn("_rbucket", expr(s"r_start_us div ${maxDurUs}L"))
    l.join(r,
        col("_probe") === col("_rbucket") &&
          col("r_start_ts") >= col("l_start_ts") - expr(s"INTERVAL $maxDurUs MICROSECOND") &&
          col("r_start_ts") <= col("l_start_ts") + expr(s"INTERVAL $maxDurUs MICROSECOND") &&
          col("l_start_us") <= col("r_end_us") &&
          col("r_start_us") <= col("l_end_us"))
      .drop("_probe", "_rbucket")
  }

  /** Streaming DSIR admission gate — the curation twin of
    * [[graft.ext.TextOps.dsirWeights]]: each arriving document is
    * scored against the FROZEN bucket model (built from the static
    * corpus once at wiring) entirely row-locally — its bigrams hash
    * into buckets and fold through the model as a LITERAL map, so the
    * micro-batch plan has no join, no shuffle and no state. Buckets
    * the corpus never produced are priced by the smoothing prior (the
    * `unseen` constant), which is exactly the add-one model's value
    * for a zero-count bucket — out-of-distribution text is scored, not
    * crashed on or dropped. Calibration caveat: with add-one smoothing
    * and a target slice much smaller than the corpus, the prior is
    * POSITIVE (the smaller sample has less evidence against novel
    * grams), so a gate meant to reject gibberish needs minLogW above
    * n_grams·unseen, or equalized sample sizes — the classic DSIR
    * footnote. Emits (doc_id, n_grams, log_w,
    * admit); a re-sent document re-emits the identical row. Documents
    * too short to form a bigram are dropped, as in the batch scorer. */
  def dsirGate(docs: DataFrame, corpusDocs: DataFrame, isTarget: Column,
      vBuckets: Int, minLogW: Double): DataFrame = {
    import graft.codec.Codecs
    val (model, unseen) = graft.ext.TextOps.dsirModelRows(corpusDocs, isTarget, vBuckets)
    val mapLit = typedLit(model.toMap)
    docs
      .select(col("doc_id"), Codecs.tokens(col("text")).as("tk"))
      .select(col("doc_id"),
        transform(Codecs.shingles(col("tk"), 2),
          g => pmod(Codecs.portableHash(g), lit(vBuckets.toLong))).as("bins"))
      .filter(size(col("bins")) > 0)
      .select(col("doc_id"),
        size(col("bins")).cast("long").as("n_grams"),
        round(aggregate(col("bins"), lit(0.0d),
          (acc, b) => acc + coalesce(element_at(mapLit, b), lit(unseen))), 4).as("log_w"))
      .withColumn("admit", col("log_w") >= minLogW)
  }

  /** Streaming ANN probe — the serving twin of
    * [[graft.ext.Similarity.ivfSearchStore]]: a live stream of query
    * vectors (q_id, embedding) probes the PERSISTED store index. The
    * store assignment frame is the same PlanCached frame the batch
    * searches read; the query's cell is computed by a pure row-local
    * argmax fold over the codebook as a LITERAL (k rows collected once
    * at wiring), so the micro-batch plan carries no broadcast join and
    * no state. Emits SCORED cell-mate candidates (q_id, neighbor_id,
    * cos): append-safe and stateless — a re-sent query re-emits
    * identical rows — with the per-query top-k cut being the
    * consumer's foreachBatch rollup, as with the admission gates. */
  def annStream(queries: DataFrame, store: DataFrame, kCells: Int): DataFrame =
    annCandidates(queries, store, kCells)
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        round(col("cos_raw"), 4).as("cos"))

  /** The cell-mate candidates both ANN operators score: `carry`
    * columns and q_id of each query, the store's vec_id, and the
    * UNROUNDED cosine as `cos_raw` (NaN for a zero-norm side). */
  private def annCandidates(queries: DataFrame, store: DataFrame, kCells: Int,
      carry: String*): DataFrame = {
    import graft.ext.Similarity
    val assigned = Similarity.ivfAssign(store, kCells)
      .select(col("cell"), col("vec_id"), col("v"), col("nrm"))
    // the codebook rides as a LITERAL (k rows collected once at
    // wiring): the micro-batch plan then assigns each query's cell as
    // a pure row-local fold — no broadcast join, no state
    val centsLit = Similarity.codebookLiteral(store, kCells)
    queries
      .select((carry :+ "q_id").map(col) :+
        Similarity.asDouble(col("embedding")).as("qv"): _*)
      .withColumn("qn", Similarity.norm(col("qv")))
      .withColumn("cell", Similarity.cellOf(centsLit, col("qv"), col("qn")))
      .join(assigned, Seq("cell")) // stream-static equi-join on the cell
      .withColumn("cos_raw",
        when(col("qn") * col("nrm") =!= 0.0d,
          Similarity.dot(col("qv"), col("v")) / (col("qn") * col("nrm")))
          .otherwise(lit(Double.NaN)))
  }

  /** Streaming ANN SERVE gate — [[annStream]] plus the per-query
    * top-k cut, so the streaming side emits the SAME final answer rows
    * as [[graft.ext.Similarity.ivfSearchStore]] instead of raw scored
    * candidates. Per arriving query: row-local cell assignment via the
    * codebook LITERAL, stream-static equi-join against the persisted
    * cell-bucketed store, then a watermarked (window, q_id) rollup
    * that keeps the k best by the shared tie rule (cos desc on the
    * UNROUNDED score, then neighbor id — rankTopK's ordering, so
    * outputs are directly comparable). A query's answer emits exactly
    * once, when its window closes under the watermark.
    *
    * Scale: no state beyond the rollup, whose per-query buffer is
    * bounded by the query's CELL occupancy (≈ N/kCells by
    * construction of the codebook) — the same bound the batch probe
    * pays; the store is never shuffled per micro-batch. */
  def annGate(queries: DataFrame, store: DataFrame, kCells: Int, k: Int,
      watermarkDelay: String, windowLen: String): DataFrame =
    annCandidates(queries.withWatermark("ts", watermarkDelay), store, kCells, "ts")
      .groupBy(window(col("ts"), windowLen), col("q_id"))
      .agg(slice(array_sort(collect_list(struct(
        (col("cos_raw") * -1.0d).as("nc"), col("vec_id"),
        round(col("cos_raw"), 4).as("cos")))), 1, k).as("top"))
      .select(col("q_id"), posexplode(col("top")))
      .select(col("q_id"), col("col.vec_id").as("neighbor_id"),
        (col("pos") + 1).cast("int").as("rnk"), col("col.cos"))

  /** Start the streaming query: raw Kafka-shaped stream in, four sinks
    * out, one source read per micro-batch. The batch is unpersisted
    * only once every sink call has returned.
    *
    * Sets [[graft.sources.LocalFs.AfsKey]] to [[graft.sources.LocalFs.Afs]]
    * on `raw`'s session before the query is built, unless the session
    * already has a value for it: the offset and commit logs read the
    * session's Hadoop conf then, and Spark has no per-query hook for it.
    * It stays set, so later queries of the session use it too. */
  def start(
      raw: DataFrame,
      evenSink: Sink, oddSink: Sink, spanSink: Sink, logSink: Sink,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val conf = raw.sparkSession.conf
    if (conf.getOption(LocalFs.AfsKey).isEmpty) conf.set(LocalFs.AfsKey, classOf[LocalFs.Afs].getName)
    raw.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.persist()
        try {
          val (even, odd, spans, logs) = processBatch(batch)
          fanOut(batchId, Seq(evenSink -> even, oddSink -> odd, spanSink -> spans, logSink -> logs))
        } finally batch.unpersist()
        ()
      }
      .start()
  }

  /** One micro-batch's sink calls. The first runs alone: its write
    * fills the persisted batch, which the others would otherwise wait
    * on block by block. The rest then run concurrently, each on a
    * thread started here; Spark's local properties are inheritable, so
    * their jobs carry the stream's job group and `query.stop()` cancels
    * them. Returns once every call has returned, then rethrows the
    * first failure in sink order; a stop (interrupt) while waiting is
    * passed on to the calls and rethrown after them. */
  private def fanOut(batchId: Long, calls: Seq[(Sink, DataFrame)]): Unit = {
    val (firstSink, firstDf) = calls.head
    firstSink(batchId, firstDf)
    val failures = new Array[Throwable](calls.size - 1)
    val threads = calls.tail.zipWithIndex.map { case ((sink, df), i) =>
      val t = new Thread(() =>
        try sink(batchId, df) catch { case e: Throwable => failures(i) = e },
        s"pipeline-batch-$batchId-sink-${i + 1}")
      t.setDaemon(true)
      t.start()
      t
    }
    var interrupted = false
    threads.foreach { t =>
      while (t.isAlive) {
        try t.join()
        catch {
          case _: InterruptedException =>
            if (!interrupted) threads.foreach(_.interrupt())
            interrupted = true
        }
      }
    }
    if (interrupted) throw new InterruptedException(s"fan-out of batch $batchId interrupted")
    failures.find(_ != null).foreach(e => throw e)
  }

  /** Streaming windowed funnel conversion report — the live twin of
    * the batch `a_funnel_hourly` row: [[StreamingFunnel]]'s depth
    * transitions, bucketed per event-time hour under a watermark.
    * Two stateful stages compose: the per-user funnel fold (bounded:
    * three timestamps per user) feeding a windowed count whose state
    * is (window × depth) cells dropped at watermark close — the
    * monitoring dashboard's "conversions this hour by step" feed.
    * Windows emit on close (append mode), so a replay's final
    * windows need the watermark pushed past them (spec feeds a
    * sentinel event; production streams just keep flowing). */
  def funnelHourly(events: DataFrame, windowUs: Long,
      watermarkDelay: String): DataFrame =
    StreamingFunnel.funnel(events, windowUs)
      .select(col("depth").cast("long").as("depth"),
        timestamp_micros(col("at_us")).as("at"))
      .withWatermark("at", watermarkDelay)
      .groupBy(window(col("at"), "1 hour").as("w"), col("depth"))
      .agg(count(lit(1)).as("n_steps"))
      .select(unix_micros(col("w.start")).as("hour_us"), col("depth"),
        col("n_steps"))

  /** One chunk of an arriving document with its keep verdict
    * (gate-internal). */
  case class ChunkRow(doc_id: Long, chunk_id: Long, chunk_text: String,
      kept: Boolean)
  /** Chunk-gate output row — the [[graft.ext.Dedup.chunkDedupApply]]
    * shape. */
  case class ChunkAdmit(doc_id: Long, n_kept: Long, n_dropped: Long,
      text: String)

  /** Streaming chunk-dedup ("boilerplate paragraph") gate — the online
    * form of [[graft.ext.Dedup.chunkDedupApply]]: each arriving
    * document is re-chunked row-locally, every chunk whose hash the
    * static corpus already holds is dropped unless THIS occurrence is
    * the corpus keeper, and the document is re-emitted reassembled
    * from its surviving chunks.
    *
    * Equivalence: on a replay of the corpus itself the keeper rule
    * makes the output row-for-row equal to the batch apply (the
    * substringGate self-match convention); a novel document keeps
    * exactly its corpus-unseen chunks. Shape: the per-gram staging
    * index is one (h → keep_key) frame built once per corpus
    * (PlanCached); the micro-batch side is a stream-static left join
    * on the chunk hash plus a stateless per-doc reassembly fold — no
    * cross-batch state at all. */
  def chunkGate(docs: DataFrame, corpusDocs: DataFrame, n: Int): DataFrame = {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val idx = graft.ops.PlanCache.cached(s"chunk-gate-idx-$n", corpusDocs) {
      graft.ext.Dedup.docChunks(corpusDocs, n)
        .groupBy("h").agg(min(col("okey")).as("keep_key"))
    }
    implicit val rowEnc = Encoders.product[ChunkRow]
    implicit val keyEnc = Encoders.scalaLong
    implicit val outEnc = Encoders.product[ChunkAdmit]
    graft.ext.Dedup.docChunks(docs, n)
      .join(idx, Seq("h"), "left")
      .select(col("doc_id"), col("chunk_id"), col("chunk_text"),
        (col("keep_key").isNull || col("okey") === col("keep_key")).as("kept"))
      .as[ChunkRow]
      .groupByKey(_.doc_id)
      .transformWithState(new ChunkGateProcessor,
        TimeMode.None(), OutputMode.Append())
      .toDF()
  }

  /** Stateless per-doc reassembly fold for [[chunkGate]]: orders the
    * micro-batch's chunk rows and splices the kept ones — the
    * batch apply's sort_array + array_join, in memory per doc (a
    * document's chunk count is bounded by its length / n, never
    * corpus-sized). */
  private class ChunkGateProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, ChunkRow, ChunkAdmit] {
    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = ()

    override def handleInputRows(key: Long, rows: Iterator[ChunkRow],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[ChunkAdmit] = {
      val rs = rows.toArray.sortBy(_.chunk_id)
      if (rs.isEmpty) Iterator.empty
      else {
        val kept = rs.filter(_.kept)
        Iterator.single(ChunkAdmit(key, kept.length.toLong,
          (rs.length - kept.length).toLong,
          kept.map(_.chunk_text).mkString(" ")))
      }
    }

    override def handleExpiredTimer(key: Long,
        tv: org.apache.spark.sql.streaming.TimerValues,
        info: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[ChunkAdmit] =
      Iterator.empty
  }

  /** Streaming referential-integrity gate — the online form of one
    * `p_fk_violations` rule: arriving fact rows whose key has no
    * match in the static dimension are routed out as violations
    * (with the rule name attached), valid rows never leave the
    * pipeline. A stream-static LEFT ANTI join is stateless — the
    * dimension is the build side per micro-batch, broadcast when
    * small — so re-delivery is idempotent and nothing accumulates.
    * Spec pins: a replay emits exactly the batch rule's violating
    * rows, and valid rows are absent. */
  def fkGate(rows: DataFrame, dim: DataFrame, rowKey: String,
      dimKey: String, rule: String): DataFrame =
    keyJoin(rows, rowKey, dim, dimKey, "left_anti").withColumn("rule", lit(rule))

  /** Streaming right-to-be-forgotten gate — the online form of the
    * batch `e_forget` cascade's apply step: arriving rows whose key
    * appears in the tombstone table are DROPPED before they reach any
    * downstream sink, so a granted deletion request holds for data
    * that arrives after it. Stateless stream-static left-anti join
    * (the fkGate shape — the tombstone side broadcasts); survivors
    * pass through unchanged. */
  def forgetGate(rows: DataFrame, tombstones: DataFrame, rowKey: String,
      tombKey: String): DataFrame =
    keyJoin(rows, rowKey, tombstones, tombKey, "left_anti")

  /** The audit complement of [[forgetGate]]: exactly the rows the
    * gate suppressed, tagged with the deletion rule — what the
    * compliance log records. forgetGate(r) ∪ forgetAudit(r) = r,
    * disjointly (spec-pinned). */
  def forgetAudit(rows: DataFrame, tombstones: DataFrame, rowKey: String,
      tombKey: String, rule: String): DataFrame =
    keyJoin(rows, rowKey, tombstones, tombKey, "left_semi")
      .withColumn("rule", lit(rule))

  /** The governance gates' one join: `rows` against the distinct keys
    * of `keys` (`left_anti` or `left_semi`). The key is aliased before
    * joining: with rowKey == keyCol (the common user_id -> user_id
    * shape) an unqualified col(keyCol) would be ambiguous and fail
    * analysis. */
  private def keyJoin(rows: DataFrame, rowKey: String, keys: DataFrame,
      keyCol: String, how: String): DataFrame =
    rows.join(keys.select(col(keyCol).as("__key")).distinct(),
      rows(rowKey) === col("__key"), how)

  /** Day-bucketed freshness gauge — the streaming half of the batch
    * `p_freshness` row: per (event_type, day) arrival counts and last
    * arrival, so the live report ([[freshnessDayReport]]) can answer
    * "how much landed recently" at day granularity. A plain
    * UPDATE-mode aggregation (built-ins win: state = one (n, last_us)
    * pair per type×day); [[freshnessDayGaugeWatermarked]] is its
    * bounded production form, and closed days compact into the batch
    * table ([[freshnessDayCompactor]]). */
  def freshnessDayGauge(events: DataFrame): DataFrame =
    events.select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        expr("unix_micros(ts)").as("us"))
      .groupBy("event_type", "day")
      .agg(count(lit(1)).as("n_day"), max(col("us")).as("last_us"))

  /** The production form of [[freshnessDayGauge]]: the same per-day
    * counts keyed on a 1-day event-time WINDOW with a watermark, so
    * Spark EVICTS closed-day state instead of holding one row per
    * type×day forever (eviction requires the event-time window in the
    * grouping key — a derived day column never ages out). Emits the
    * identical (event_type, day, n_day, last_us) schema, day from the
    * window start; events older than the watermark are dropped as
    * late (spec-pinned). Closed days land once in the sink and
    * compact into the batch table. */
  def freshnessDayGaugeWatermarked(events: DataFrame,
      lateness: String = "2 days"): DataFrame =
    events.select(col("event_type"), col("ts"),
        expr("unix_micros(ts)").as("us"))
      .withWatermark("ts", lateness)
      .groupBy(col("event_type"), window(col("ts"), "1 day").as("w"))
      .agg(count(lit(1)).as("n_day"), max(col("us")).as("last_us"))
      .select(col("event_type"),
        expr("unix_micros(w.start) div 86400000000").as("day"),
        col("n_day"), col("last_us"))

  /** Closed-day COMPACTION leg of [[freshnessDayGaugeWatermarked]] —
    * the wiring its docstring promised: the same watermarked window
    * aggregation run in APPEND mode, where Spark emits a (type, day)
    * row exactly ONCE, when the watermark passes the day window plus
    * lateness, i.e. exactly when the day CLOSES. Each emission appends
    * into a managed batch table, created only when absent so that it
    * survives a restart: compacted history accumulates where the batch
    * freshness queries read while the live UPDATE-mode gauge carries
    * only open days. Replay contract (spec-pinned,
    * StreamingGovernanceSpec): after any prefix of the stream the
    * table equals the BATCH [[freshnessDayGauge]] restricted to the
    * closed days, each row present once — and on bucket-aligned cuts
    * [[freshnessDayReport]] over the table reproduces the
    * microsecond-exact p_freshness projection of those days.
    *
    * Delivery: foreachBatch is AT-LEAST-ONCE — a crash between the
    * table write and the checkpoint commit re-executes the batch — so
    * the write is keyed to a `batch_id` partition and dynamically
    * OVERWRITES it ([[compactBatch]]): a replay is a byte-identical
    * partition rewrite, never a duplicate append (the replayed batch
    * reads the same source offsets from the checkpoint, so its content
    * is identical). Readers take the 4-column day-gauge view via
    * [[freshnessDayHistory]]; the partition column is write-side
    * lineage, exactly the role a transactional lake format's commit id
    * plays. */
  def freshnessDayCompactor(events: DataFrame, table: String,
      lateness: String = "2 days"): StreamingQuery = {
    graft.sources.StagingTables.initPartitionedIfAbsent(
      events.sparkSession.createDataFrame(Seq.empty[(String, Long, Long, Long)])
        .toDF("event_type", "day", "n_day", "last_us")
        .withColumn("batch_id", lit(0L)), table, "batch_id")
    freshnessDayGaugeWatermarked(events, lateness)
      .writeStream.outputMode("append")
      .foreachBatch { (b: DataFrame, batchId: Long) =>
        compactBatch(b, table, batchId)
      }.start()
  }

  /** The idempotent per-batch append behind [[freshnessDayCompactor]]:
    * rows land in their OWN `batch_id=<id>` partition under dynamic
    * partition-overwrite, so re-executing a batch (the at-least-once
    * replay window) overwrites that partition with the same bytes
    * instead of appending a second copy. insertInto is positional —
    * the partition column must come last, matching the
    * [[graft.sources.StagingTables.initPartitionedIfAbsent]] layout.
    * Spec-pinned (StreamingGovernanceSpec): re-running a committed
    * batch leaves the table row-identical. */
  private[graft] def compactBatch(b: DataFrame, table: String, batchId: Long): Unit = {
    import org.apache.spark.sql.SaveMode
    // The session CONF, not the per-write option: insertInto ignores
    // the writer option, and in the default STATIC mode an overwrite
    // with an EMPTY batch (any batch with no newly-closed day) would
    // wipe every partition — measured, not hypothetical. Set on the
    // frame's own session (inside foreachBatch that is the micro-batch
    // clone, so nothing leaks to the main session) and restored after.
    val conf = b.sparkSession.conf
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = conf.getOption(key)
    conf.set(key, "dynamic")
    try b.withColumn("batch_id", lit(batchId))
      .write.mode(SaveMode.Overwrite)
      .insertInto(table)
    finally prev match {
      case Some(v) => conf.set(key, v)
      case None    => conf.unset(key)
    }
  }

  /** Reader view of the compacted day-gauge table: the 4 gauge columns
    * without the writer's `batch_id` lineage partition. */
  def freshnessDayHistory(spark: SparkSession, table: String): DataFrame =
    spark.table(table).select("event_type", "day", "n_day", "last_us")

  /** Report over the day gauge, column for column the batch
    * p_freshness row: per type the total count, last arrival, lag
    * behind the freshest type, `n_last_day_approx` and the 6-hour
    * staleness flag. `n_last_day_approx` is the trailing-24 h arrival
    * count at DAY resolution (all buckets whose day index reaches the
    * window).
    * Exactly the batch p_freshness `n_last_day` whenever the window
    * cut lands on a bucket boundary; otherwise an overcount bounded by
    * the partial first bucket (the microsecond-exact count needs
    * per-event history no bounded gauge can carry — spec-pinned
    * bracket in StreamingGovernanceSpec). */
  def freshnessDayReport(dayGauge: DataFrame): DataFrame = {
    val g = dayGauge.agg(max(col("last_us")).as("g_us"))
    dayGauge.crossJoin(broadcast(g))
      .groupBy(col("event_type"))
      .agg(sum(col("n_day")).as("n_total"),
        max(col("last_us")).as("last_us"),
        max(col("g_us")).as("g_us"),
        sum(when(expr("day >= (g_us - 86400000000) div 86400000000"),
          col("n_day")).otherwise(0L)).as("n_last_day_approx"))
      .select(col("event_type"), col("n_total"), col("last_us"),
        (col("g_us") - col("last_us")).as("lag_us"),
        col("n_last_day_approx"),
        (col("g_us") - col("last_us") <= 21600000000L).as("fresh_6h"))
  }

  /** Streaming per-day distinct users — the online form of the batch
    * `a_daily_distinct_kmv` row, and the reason [[graft.functions
    * .KmvSketch]] is a MERGEABLE aggregate: the same k-long buffer
    * that partial-aggregates in batch is the per-window streaming
    * state, merged per micro-batch and emitted when the watermark
    * closes the day. State per open window = k longs + the window
    * struct; closed windows are dropped by the watermark. A replay
    * with the watermark pushed past every day reproduces the batch
    * row exactly (spec-pinned) — the estimator is deterministic in
    * the VALUE SET, so micro-batch seams cannot change it. */
  def dailyDistinct(events: DataFrame, k: Int,
      watermarkDelay: String): DataFrame =
    events.select(col("ts"),
        graft.codec.Codecs.portableHash(col("user_id")).as("h"))
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), "1 day").as("w"))
      .agg(graft.functions.KmvSketch.kmv(col("h"), k).as("sk"))
      .select((unix_micros(col("w.start")) / 86400000000L).cast("long").as("day"),
        graft.functions.KmvSketch.estimate(col("sk"), k).as("est_distinct"))

  /** Streaming BM25 relevance gate — the online form of
    * [[graft.ext.TextOps.bm25TopK]]'s scoring pass: arriving documents
    * are scored against the static corpus's derived query (df-rank
    * window) and corpus statistics, and routed on whether they match
    * any query term.
    *
    * STATELESS by construction: the model (query terms with idf, the
    * corpus n_docs/avgdl) is a driver-collected literal — nTerms + 2
    * scalars, the codebookLiteral pattern — and each document's tf
    * comes from filtering its OWN token array, so no explode, no
    * shuffle, no cross-batch state: one codegen'd projection per
    * micro-batch row, the shape a serving tier wants.
    *
    * Equivalence: idf/tf-normalization arithmetic mirrors the batch
    * operator term-for-term; only the ≤ nTerms-summand addition order
    * differs (batch sums via partial aggregation), so replayed scores
    * agree to float-noise (spec pins ≤ 1e-9 and exact n_terms_hit). */
  def bm25Gate(docs: DataFrame, corpusDocs: DataFrame,
      skipTop: Int, nTerms: Int): DataFrame = {
    val occ = corpusDocs.select(col("doc_id"),
      explode(graft.codec.Codecs.tokens(col("text"))).as("tok"))
    val dl = occ.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val Array(nDocs, sumDl) = dl
      .agg(count(lit(1)).cast("long"), sum(col("dl")).cast("long"))
      .head().toSeq.map(_.asInstanceOf[Long]).toArray
    val avgdl = sumDl.toDouble / nDocs
    val terms: Seq[(String, Long)] = occ.distinct()
      .groupBy("tok").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("tok")).limit(skipTop + nTerms)
      .orderBy(col("df").asc, col("tok").desc).limit(nTerms)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val toks = graft.codec.Codecs.tokens(col("text"))
    val dlCol = size(toks).cast("long")
    val contribs = terms.map { case (t, df) =>
      val tf = size(filter(toks, x => x === lit(t))).cast("long")
      // StrictMath, not Math: Catalyst's Log expression evaluates via
      // StrictMath.log, and the spec pins float-noise-level agreement
      val idf = StrictMath.log(1.0 + (nDocs - df + 0.5) / (df + 0.5))
      (tf, when(tf > 0,
        (tf * lit(2.2)) /
          (tf + lit(1.2) * (lit(0.25) + lit(0.75) * dlCol / lit(avgdl))) * lit(idf))
        .otherwise(lit(0.0)))
    }
    docs.select(col("doc_id"),
      contribs.map(_._2).reduce(_ + _).as("score"),
      contribs.map(c => when(c._1 > 0, 1L).otherwise(0L)).reduce(_ + _)
        .as("n_terms_hit"))
      .filter(col("n_terms_hit") > 0)
      .select(col("doc_id"), round(col("score"), 4).as("score"), col("n_terms_hit"))
  }
}
