package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main. Protocol:
  *  1. warmup      — JVM/JIT + parquet footers (untimed).
  *  2. prepare     — materialize the shared PlanCache intermediates
  *                   (shingle index, minhash sigs, simhash, IVF,
  *                   enriched events); timed, reported as "prepare".
  *                   Without this phase the whole family cold build
  *                   lands on whichever query runs first — round 1's
  *                   91 s d_lsh_jaccard was exactly that.
  *  3. per-query   — every registry query, noop-materialized,
  *                   alphabetical; "queries" map + summed into total.
  *  4. extras      — bench-only variants outside the oracle registry
  *                   (e.g. the xxhash64 dedup twin); reported under
  *                   "extras", NOT summed into total so the total
  *                   stays comparable against BASELINE.md.
  * total = prepare + sum(queries): everything the engine does is
  * attributed somewhere and nothing is hidden from the headline.
  */
object Bench {

  /** 1-minute loadavg at call time (first `/proc/loadavg` token), or
    * -1 when unreadable (non-Linux). Two of these bracket the run in
    * the contract line so a loaded driver box is visible IN the
    * official record: round 7's 320.8 s total was pure sibling-load
    * inflation (judge quiet re-run on identical code: 103.85 s) and
    * nothing in the record could show it without a re-run. */
  private[graft] def load1(): Double =
    try new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")), "UTF-8")
      .trim.split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** (total, steal, iowait) jiffies from `/proc/stat`'s aggregate cpu
    * line, or (-1, 0, 0) when unreadable. Bracketing the run with two
    * of these yields the HOST-steal fraction — CPU time the hypervisor
    * gave to co-tenants while this guest was runnable. The quiesce gate
    * can only see GUEST load; a host contended by neighbors inflates
    * every row uniformly with load1_start < 1 (measured r13: four
    * same-code runs 301 → 324 → 377 → 426 s as idle-box steal climbed
    * to ~13%), so the contract line carries `steal_pct` to make that
    * run self-documenting instead of judge-adjudicated. The iowait
    * share of the same window is the disk-stall companion: a blip
    * whose window carries high iowait is storage latency
    * (shuffle/persist spill), not compute. */
  private[graft] def cpuStat(): (Long, Long, Long) =
    try {
      val f = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("/proc/stat")), "UTF-8")
        .linesIterator.next().trim.split("\\s+").drop(1).map(_.toLong)
      // sum only through steal (first 8 fields): guest/guest_nice are
      // already accounted inside user/nice, and double-counting them
      // understates steal_pct on hosts running nested guests (ADVICE r13)
      (f.take(8).sum, if (f.length > 7) f(7) else 0L, if (f.length > 4) f(4) else 0L)
    } catch { case _: Throwable => (-1L, 0L, 0L) }

  /** Host-steal percentage between two [[cpuStat]] samples; -1 when
    * unreadable or no time elapsed. */
  private[graft] def stealPct(start: (Long, Long, Long), end: (Long, Long, Long)): Double =
    pct(start._1, start._2, end._1, end._2)

  /** iowait percentage between two [[cpuStat]] samples, with the same
    * -1 rule as [[stealPct]]. */
  private[graft] def iowaitPct(start: (Long, Long, Long), end: (Long, Long, Long)): Double =
    pct(start._1, start._3, end._1, end._3)

  private def pct(total0: Long, part0: Long, total1: Long, part1: Long): Double =
    if (total0 < 0 || total1 < 0 || total1 <= total0) -1.0
    else math.rint((part1 - part0) * 10000.0 / (total1 - total0)) / 100.0

  /** Cumulative run-queue wait of the WHOLE process (ns): the sum of
    * /proc/self/task/<tid>/schedstat field 2 over every live thread —
    * time threads sat RUNNABLE but not running. (/proc/self/schedstat
    * alone is only the MAIN thread, which sleeps through every query —
    * measured all-zero in run 5.) Threads that die between samples
    * make the delta slightly under-report; for attribution that bias
    * is safe (a reported runq burst is real). Bracketing a query with
    * two of these attributes a blip to CPU contention (host steal
    * bursts, sibling load) rather than the query's own work:
    * wall ≈ cpu + runq + io/idle. -1 when unreadable (non-Linux). */
  private[graft] def runqNs(): Long =
    try {
      val dir = new java.io.File("/proc/self/task")
      val tids = dir.listFiles()
      if (tids == null) -1L
      else {
        var sum = 0L
        var i = 0
        while (i < tids.length) {
          try {
            val s = new String(java.nio.file.Files.readAllBytes(
              new java.io.File(tids(i), "schedstat").toPath), "UTF-8")
            sum += s.trim.split("\\s+")(1).toLong
          } catch { case _: Throwable => () } // raced a dying thread
          i += 1
        }
        sum
      }
    } catch { case _: Throwable => -1L }

  /** Fixed single-thread CPU probe: 2²⁶ xorshift steps, returning
    * milliseconds. The r13 closing runs measured the SAME code at
    * 301 → 426 s with load1_start < 1 throughout and host steal
    * 0.33-13% — the box's effective per-core speed itself swings
    * between runs in ways neither loadavg nor steal fully captures
    * (host frequency/elasticity). This probe is a Spark-independent
    * normalizer: identical work every run, so `spin_ms` ratios
    * between two runs bound how much of a total delta is box speed
    * rather than code. */
  private[graft] def spinProbeMs(): Double = {
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    val t0 = System.nanoTime()
    while (i < (1 << 26)) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1
    }
    val dt = (System.nanoTime() - t0) / 1e6
    if (x == 42L) System.err.println("") // defeat dead-code elimination
    math.rint(dt * 100) / 100
  }

  /** Spin-wait for the box to quiesce before the timed run: three
    * consecutive official rounds (r10-r12) launched into ambient load
    * (load1_start 3.70 / 4.36 / 4.86 — the previous round's residue)
    * and each needed judge adjudication against a quiet re-run pair.
    * Polls the 1-minute loadavg every 5 s until it drops below 1.0 or
    * `SPARK_GRAFT_QUIESCE_MAX_SEC` (default 300) elapses; returns the
    * seconds waited, which rides on the contract line as
    * `quiesce_wait` — so a recorded run either carries
    * load1_start < 1 or an explicit waited-and-gave-up marker
    * (quiesce_wait ≈ max AND load1_start ≥ 1), and the headline number
    * stops needing reinterpretation. The wait happens BEFORE the
    * SparkSession exists, so it is never confounded with our own
    * executor threads; an unreadable loadavg (-1, non-Linux) skips the
    * gate entirely. */
  private[graft] def quiesce(): Double = {
    val maxSec = sys.env.get("SPARK_GRAFT_QUIESCE_MAX_SEC")
      .flatMap(v => scala.util.Try(v.toDouble).toOption).getOrElse(300.0)
    val t0 = System.nanoTime()
    var l = load1()
    while (l >= 1.0 && (System.nanoTime() - t0) / 1e9 < maxSec) {
      System.err.println(f"[bench] quiesce gate: load1=$l%.2f, waiting for < 1.0")
      Thread.sleep(5000)
      l = load1()
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** 2-dp JSON number, trailing zeros stripped. */
  private[graft] def r2s(v: Double): String = {
    val s = f"${math.rint(v * 100) / 100}%.2f"
    if (s.endsWith(".00")) s.dropRight(3)
    else if (s.endsWith("0")) s.dropRight(1)
    else s
  }
  private[graft] def r3s(v: Double): String = (math.rint(v * 1000) / 1000).toString
  private[graft] def jmap(m: Iterable[(String, Double)], r: Double => String): String =
    m.map { case (k, v) => "\"" + k + "\":" + r(v) }.mkString("{", ",", "}")

  /** `sf` token for the contract line: a matched scale factor emits as
    * a bare JSON number; anything else must be quoted or the whole
    * line becomes invalid JSON. The capture is re-validated as a
    * strict JSON number — "sf.5"/"sf0.5."-style paths match the loose
    * regex but are not valid bare tokens. */
  private[graft] def sfToken(sfDir: String): String =
    "sf([0-9.]+)".r.findFirstMatchIn(sfDir).map(_.group(1))
      .filter(_.matches("[0-9]+(\\.[0-9]+)?"))
      .getOrElse("\"" + sfDir.replace("\\", "\\\\").replace("\"", "\\\"") + "\"")

  /** The ONE stdout line the driver parses. The driver captures only
    * the LAST ~2000 chars of stdout (and sbt's own "[success] ..."
    * line lands after ours), so this line must stay far under that or
    * its HEAD — the "metric"/"value" fields — gets truncated and the
    * official record is parsed:null (happened in rounds 2, 3 AND 6:
    * at 114 registry queries even a 1-dp per-query map measured 2,458
    * chars). The per-query map therefore does NOT ride on stdout at
    * all — it is duplicated at full precision in bench_details.json —
    * and the line is registry-size-INDEPENDENT: nine fixed fields,
    * ~150 chars, immune to registry growth. RegistrySpec pins it
    * under 1500 chars at worst-case field widths. The two load1
    * fields (1-min loadavg at launch/end) make a loaded driver box
    * distinguishable from a real regression without a judge re-run. */
  private[graft] def contractLine(total: Double, prepareSec: Double, nFailed: Int,
      nExtrasFailed: Int, sfDir: String, load1Start: Double, load1End: Double,
      quiesceWait: Double = 0.0, stealPct: Double = -1.0,
      spinMs: Double = -1.0, preparePar: Int = -1,
      jitSettleWait: Double = -1.0): String =
    // prepare_par and jit_settle_wait ride the contract line (ADVICE
    // r14): "prepare" is phase WALL CLOCK whenever prepare_par > 1 —
    // without the marker a consumer of bench.json alone could compare
    // it against the pre-r14 serial step-sum; jit_settle_wait is the
    // only untimed window between prepare and the timed rows, and it
    // must be visible without bench_details.json (quiesce_wait
    // precedent). Two short fixed fields, still registry-size-free.
    s"""{"metric":"total","value":${r2s(total)},"unit":"sec","prepare":${r2s(prepareSec)},"prepare_par":$preparePar,"jit_settle_wait":${r2s(jitSettleWait)},"failed":$nFailed,"extras_failed":$nExtrasFailed,"quiesce_wait":${r2s(quiesceWait)},"steal_pct":${r2s(stealPct)},"spin_ms":${r2s(spinMs)},"load1_start":${r2s(load1Start)},"load1_end":${r2s(load1End)},"sf":${sfToken(sfDir)}}"""

  def main(args: Array[String]): Unit = {
    val quiesceWait = quiesce()
    val load1Start = load1()
    val cpuStart = cpuStat()
    // warm once (JIT the loop itself), then measure
    spinProbeMs()
    val spinMs = spinProbeMs()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.build()

    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    // noop sink: materializes EVERY output column (count() would let
    // Catalyst prune the projections and time little but the scan)
    def runNoop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // Warm the JVM/JIT and parquet footers once so the first timed query
    // isn't charged for session startup. The synthetic plans exercise
    // the machinery every registry family goes through — hash/sort
    // aggregate, sort-merge + broadcast join, window, explode, noop
    // write — over spark.range data, so Catalyst/codegen/shuffle
    // framework classes reach the compiler BEFORE the timed phase.
    // Nothing here touches sfDir rows or any PlanCache substrate: the
    // warmup can never pre-compute timed work (r14; the run3 record
    // shows what it repairs — with prepare overlapped the session hits
    // the timed queries ~150 s earlier, and the first rows absorbed
    // the still-cold framework at up to 9x band).
    {
      import org.apache.spark.sql.functions.{col => c}
      val a = spark.range(2000000L).select(c("id"),
        (c("id") % 1000).as("k"), (c("id") % 7).as("v"))
      a.groupBy("k").agg(org.apache.spark.sql.functions.sum("v").as("sv"),
          org.apache.spark.sql.functions.countDistinct("v").as("dv"))
        .join(a.select(c("k"), c("id").as("id2")), "k")
        .write.format("noop").mode("overwrite").save()
      a.select(c("k"), c("v"), org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("k").orderBy("id"))
            .as("rn"))
        .filter(c("rn") <= 3)
        .write.format("noop").mode("overwrite").save()
      a.select(org.apache.spark.sql.functions.explode(
          org.apache.spark.sql.functions.sequence(
            org.apache.spark.sql.functions.lit(1), (c("v") + 1).cast("int"))).as("e"))
        .agg(org.apache.spark.sql.functions.sum("e")).collect()
      a.orderBy(c("v"), c("id")).limit(5).collect()
    }
    Seq("lineitem", "orders", "documents", "embeddings").foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").count()
      catch { case _: Throwable => () }
    }

    // Overlap the independent substrate builds (guide §2.6): run
    // serially, each build leaves all but ~1 core idle during its
    // driver-side planning/codegen stretches and its small serial
    // stages — thread dumps of the r14 degraded runs showed exactly
    // that shape (one RUNNABLE thread in Catalyst frames, 32 executor
    // threads parked on the idle task queue). A small FIFO pool lets
    // one step's executor tasks back-fill another step's planning
    // gaps. Builds stay exactly-once: PlanCache entries are
    // lazy-holder synchronized, so a step that needs a sibling's
    // substrate blocks on the ONE build instead of duplicating it.
    // Pool size is scale-adaptive (cores/4, capped at 8 — the guide's
    // "2-3 in flight is plenty" scaled for a 32-core local master),
    // overridable via SPARK_GRAFT_PREPARE_PAR (=1 restores the serial
    // phase for A/B).
    //
    // Timing semantics (recorded in OPTIMIZATION_r14.md): "prepare" on
    // the contract line is now the PHASE WALL CLOCK — the number a
    // driver session actually waits — while prepare_steps in
    // bench_details.json carries each step's own thread duration
    // (under overlap these include lock waits on shared substrates and
    // sum to MORE than the wall clock; the serial per-step band lives
    // in BASELINE.md).
    //
    // A failing staging build must surface as its own -1, not crash
    // the run before the JSON line is emitted.
    val prepPar = sys.env.get("SPARK_GRAFT_PREPARE_PAR")
      .flatMap(v => scala.util.Try(v.toInt).toOption)
      .getOrElse {
        math.max(1, math.min(8, GraftSession.cpus / 4))
      }
    // Per-STEP environment attribution (VERDICT r14 task 2): the r14
    // official record measured prepare at 325.8 s (par=8) against the
    // builder's 47-177 s, and nothing in prepare_steps could say
    // whether that was steal bursts or a real concurrency pathology —
    // queries carry steal/runq/iowait brackets, prepare steps did not.
    // Under overlap the windows of concurrent steps OVERLAP (steal is
    // host-wide, runq is process-wide), so a burst shows up in every
    // step it straddles — that is the attribution wanted: which steps
    // ran through contamination. Sub-0.3 s windows are suppressed
    // (ADVICE r14: 10 ms jiffy grain over sub-second windows quantizes
    // to noise that reads as contention).
    val prepRunq = new java.util.concurrent.ConcurrentHashMap[String, Double]()
    val prepSteal = new java.util.concurrent.ConcurrentHashMap[String, Double]()
    val prepIo = new java.util.concurrent.ConcurrentHashMap[String, Double]()
    val prepT0 = System.nanoTime()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(prepPar)
    val prepareSteps = try {
      SparkEntry.prepareSteps.map { case (name, step) =>
        name -> pool.submit(new java.util.concurrent.Callable[Double] {
          override def call(): Double = {
            // thread-local label so the overlapped jobs stay readable
            // in event logs / the UI (guide §1.5)
            spark.sparkContext.setJobDescription(s"prepare: $name")
            var ok = true
            val rq0 = runqNs(); val cs0 = cpuStat()
            val sec = timed {
              try step(spark, sfDir)
              catch { case e: Throwable =>
                System.err.println(s"[bench] prepare $name FAILED: ${e.getMessage}")
                ok = false
              }
            }
            if (sec >= 0.3) {
              val rq1 = runqNs(); val cs1 = cpuStat()
              if (rq0 >= 0 && rq1 >= rq0) prepRunq.put(name, (rq1 - rq0) / 1e9)
              val st = stealPct(cs0, cs1)
              if (st >= 0) prepSteal.put(name, st)
              val io = iowaitPct(cs0, cs1)
              if (io >= 0) prepIo.put(name, io)
            }
            if (ok) sec else -1.0
          }
        })
      }.map { case (name, fut) => name -> fut.get() }
    } finally pool.shutdown()
    val prepareSec = (System.nanoTime() - prepT0) / 1e9

    // JIT-settle gate (untimed, bounded — the quiesce gate's JVM-side
    // twin): the overlapped prepare hands the compiler a deep backlog
    // of hot framework methods, and a timed query that starts while C2
    // is still churning runs cold framework code AND competes with the
    // compiler threads — the r14 run3 record measured the first three
    // rows at 6-9x band from exactly this. Poll the JVM's cumulative
    // compilation time and proceed once it grows < 100 ms over a 1 s
    // window (or after 60 s); the wait does no query work and computes
    // nothing any timed row reuses. Recorded in bench_details.json as
    // jit_settle_wait.
    val jitSettleWait: Double = {
      val cb = java.lang.management.ManagementFactory.getCompilationMXBean
      if (cb == null || !cb.isCompilationTimeMonitoringSupported) 0.0
      else {
        val t0 = System.nanoTime()
        var last = cb.getTotalCompilationTime
        var settled = false
        while (!settled && (System.nanoTime() - t0) / 1e9 < 60.0) {
          Thread.sleep(1000)
          val now = cb.getTotalCompilationTime
          settled = now - last < 100
          last = now
        }
        (System.nanoTime() - t0) / 1e9
      }
    }

    // Per-query environment attribution (bench_details only): the r14
    // record shows episodic 10-60x single-row blips that ROAM between
    // same-code runs (run3: a_bootstrap_ci 41 s; run4: g_bfs 27.6 s —
    // each on-band in the other run) while GC logs show <1 s maxima.
    // Bracketing every row with /proc/stat steal and /proc/self/
    // schedstat run-queue wait turns "probably the box" into data: a
    // blip whose window carries high steal/runq is host contention,
    // not a regression.
    val queryRunq = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val querySteal = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val queryIo = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      var ok = true
      val rq0 = runqNs(); val cs0 = cpuStat()
      val sec = timed {
        try runNoop(fn(spark, sfDir))
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}"); ok = false
        }
      }
      // sub-0.3 s windows suppressed: the 10 ms jiffy grain × 32 cores
      // over a sub-second window quantizes steal/iowait to mostly-noise
      // values that read as real contention (ADVICE r14)
      if (sec >= 0.3) {
        val rq1 = runqNs(); val cs1 = cpuStat()
        if (rq0 >= 0 && rq1 >= rq0) queryRunq(name) = (rq1 - rq0) / 1e9
        val st = stealPct(cs0, cs1)
        if (st >= 0) querySteal(name) = st
        val io = iowaitPct(cs0, cs1)
        if (io >= 0) queryIo(name) = io
      }
      name -> (if (ok) sec else -1.0)
    }.toMap

    // Bench-only twins, outside the oracle registry. The xxhash64
    // dedup twin runs TWICE: the first (cold) timing includes building
    // its own xx shingle/minhash indices — compare against the md5
    // path's shingle_index+minhash_sigs prepare steps; the second
    // (warm) timing is query-only — compare against d_lsh_jaccard,
    // whose indices were likewise prebuilt. Without the warm twin the
    // extras number would repeat round 1's cold-build misattribution.
    def lshXx(s: SparkSession, dir: String): DataFrame =
      graft.ext.Dedup.lshVerifiedJaccard(
        s.read.parquet(s"$dir/documents.parquet"), 3, 16, 4, 4, 0.5, hashName = "xx")
    val extras: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "d_lsh_jaccard_xx_cold" -> (lshXx _),
      "d_lsh_jaccard_xx_warm" -> (lshXx _),
      // (the un-rounded a_percentiles_approx duplicate that used to sit
      // here was removed in r15 — it ran, then extraResults.toMap
      // silently kept only the rounded twin below; VERDICT r14 item 4)
      // 120-bit perceptual-hash dedup — the band-width scale path for
      // m_ahash_dedup (15-bit segments; sf0.01/0.1 corpora have no
      // true near-dups at the wide radius, so the oracle gate would
      // be trivially empty — recall is pinned by WideningPinsSpec on
      // a planted fixture instead, hence bench-only)
      "m_ahash_wide" -> ((s, dir) =>
        graft.ext.Dedup.simhashPairsWide(
          graft.ext.Multimodal.ahashFingerprintsWide(
            s.read.parquet(s"$dir/documents.parquet")), 6)),
      // span dedup on the production hash: includes its own positional
      // gram index build (compare against d_span_dedup, whose md5
      // index is likewise built inside its timing)
      "d_span_dedup_xx" -> ((s, dir) =>
        graft.ext.Dedup.duplicatedSpans(
          s.read.parquet(s"$dir/documents.parquet"), 5, hashName = "xx")),
      // substring dedup on the production hash (own gram+suffix build
      // inside the timing — compare against gram_pos_5 +
      // substring_matches prepare + d_substring_dedup)
      "d_substring_dedup_xx" -> ((s, dir) =>
        graft.ext.Dedup.crossDocSubstrings(
          s.read.parquet(s"$dir/documents.parquet"), 5, 30, hashName = "xx")),
      // char-level twin on the production hash: the md5-of-20-chars per
      // position is the dominant cost of the substring_char_matches
      // prepare build, so this measures the 100 TB swap-in (compare
      // against substring_char_matches + d_substring_char)
      "d_substring_char_xx" -> ((s, dir) =>
        graft.ext.Dedup.crossDocSubstringsChar(
          s.read.parquet(s"$dir/documents.parquet"), 20, 80, hashName = "xx")),
      // the skew knob measured: stop-gram buckets over 64 occurrences
      // dropped before the suffix sort (the 100 TB dial for corpora
      // with degenerate boilerplate grams; approximate, hence
      // bench-only)
      "d_substring_dedup_capped" -> ((s, dir) =>
        graft.ext.Dedup.crossDocSubstrings(
          s.read.parquet(s"$dir/documents.parquet"), 5, 30, maxOcc = 64)),
      // the 100 TB swap-in for a_percentiles: t-digest sketch instead
      // of exact per-group buffers (not oracle-matchable — approximate)
      "a_percentiles_approx" -> ((s, dir) => {
        import org.apache.spark.sql.functions.{col, expr, round}
        s.read.parquet(s"$dir/lineitem.parquet")
          .groupBy(col("l_returnflag"))
          .agg(
            round(expr("approx_percentile(l_extendedprice, 0.5, 1000)"), 4).as("p50"),
            round(expr("approx_percentile(l_extendedprice, 0.95, 1000)"), 4).as("p95"))
      }),
      // the 100 TB swap-in for d_edit_verify at a strict-dup dial
      // (sim >= 0.8, DP bails past 100 edits: O(cap·len) instead of
      // O(len²) per hopeless pair; the cap equals the threshold's
      // worst-case bound at <=500 chars — scale both with the corpus)
      "d_edit_verify_capped" -> ((s, dir) =>
        graft.ext.Dedup.editVerifiedPairs(
          s.read.parquet(s"$dir/documents.parquet"), 3, 16, 4, 4, 0.8,
          maxDist = 100)),
      // the 100 TB swap-ins for p_zorder_hist / p_skipping_report:
      // repartitionByRange file cuts + per-partition stats instead of
      // the exact forms' global row_number windows (sampled boundaries
      // — report-pinned in LayoutSpec, not oracle-hashable)
      "p_zorder_hist_range" -> ((s, dir) =>
        graft.ops.Layout.zorderHistRange(
          s.read.parquet(s"$dir/lineitem.parquet"), 64)),
      "p_skipping_report_range" -> ((s, dir) =>
        graft.ops.Layout.skippingReportRange(
          s.read.parquet(s"$dir/lineitem.parquet"), 64)),
      // the 100 TB swap-in for a_distinct_counts: HLL sketches merge in
      // one pass with no Expand — approximate, hence bench-only
      "a_distinct_hll" -> ((s, dir) => {
        import org.apache.spark.sql.functions.{approx_count_distinct, col, count, lit}
        s.read.parquet(s"$dir/lineitem.parquet")
          .groupBy(col("l_returnflag"))
          .agg(
            approx_count_distinct(col("l_partkey")).as("n_parts"),
            approx_count_distinct(col("l_suppkey")).as("n_supps"),
            approx_count_distinct(col("l_orderkey")).as("n_orders"),
            count(lit(1)).as("n_rows"))
      }),
      // the 100 TB swap-in for p_stats_profile: the exact
      // multi-countDistinct plans as ONE Expand (scan multiplied per
      // distinct aggregate — oracle-exact, the registry row), while a
      // production profiler runs HLL sketches in one un-expanded pass;
      // approximate ndv, hence bench-only (same convention as above)
      "p_stats_profile_hll" -> (SparkEntry.pStatsProfileHll _))
    val extraResults = extras.map { case (name, fn) =>
      var ok = true
      val sec = timed {
        try runNoop(fn(spark, sfDir))
        catch { case e: Throwable =>
          System.err.println(s"[bench] extra $name FAILED: ${e.getMessage}"); ok = false
        }
      }
      name -> (if (ok) sec else -1.0)
    }.toMap

    // Recall@3 of every approximate ANN variant against the exact
    // brute-force top-3 — a pure Spark semi-join over results that
    // already ran above (PlanCache warm, so this costs two small scans
    // per variant). Reported in bench_details.json only: it is a
    // quality number, not a timing, and it turns the recall-dial claims
    // in docs/SCALE.md into measured values. -1 = variant failed.
    val annRecall: Seq[(String, Double)] = {
      import org.apache.spark.sql.functions.col
      try {
        val truth = SparkEntry.queries("s_ann_brute")(spark, sfDir)
          .filter(col("rnk") <= 3).select(col("q_id"), col("neighbor_id")).cache()
        // an empty truth set (degenerate fixture) must report -1, not
        // 0/0 = NaN — an unquoted NaN would invalidate the JSON line
        val denom = truth.count().toDouble
        def recallOf(name: String, df: => org.apache.spark.sql.DataFrame): (String, Double) = {
          val r = try {
            if (denom == 0.0) -1.0
            else {
              val got = df.filter(col("rnk") <= 3).select(col("q_id"), col("neighbor_id"))
              math.rint(got.join(truth, Seq("q_id", "neighbor_id"), "left_semi")
                .count() / denom * 1000) / 1000
            }
          } catch { case e: Throwable =>
            System.err.println(s"[bench] recall $name FAILED: ${e.getMessage}"); -1.0
          }
          name -> r
        }
        // every ANN family reports BOTH its oracle-scale dial (tiny
        // codebooks/buckets so DuckDB can recheck the arithmetic) and
        // its graduated search-quality dial — as of round 10 all the
        // former bench-only dials (lsh_mp@nbits4, pq@k64, ivfpq@k64)
        // are registry rows (s_ann_lsh_mp4 / s_ann_pq64 /
        // s_ann_ivfpq64), so the whole list is oracle-checked
        Seq("s_ann_lsh", "s_ann_lsh_mp", "s_ann_lsh_mp4", "s_ann_ivf",
          "s_ann_ivf_mp", "s_ann_ivf_mp4", "s_ann_ivf_km", "s_ann_ivfpq",
          "s_ann_ivfpq64", "s_ann_sq8", "s_ann_pq", "s_ann_pq64",
          "s_ann_pq_rerank", "s_ann_pq_rerank64", "s_ann_hamming",
          "s_ann_hamming128")
          .map(n => recallOf(n, SparkEntry.queries(n)(spark, sfDir)))
      } catch { case e: Throwable =>
        System.err.println(s"[bench] recall baseline FAILED: ${e.getMessage}"); Nil
      }
    }

    val total = prepareSec + results.values.filter(_ >= 0).sum
    // "failed" gates the oracle registry (queries + their prepare);
    // extras are advisory twins and fail separately
    val nFailed = results.values.count(_ < 0) + prepareSteps.count(_._2 < 0)
    val nExtrasFailed = extraResults.values.count(_ < 0)
    val load1End = load1()
    val steal = stealPct(cpuStart, cpuStat())
    val spinEndMs = spinProbeMs()
    import scala.jdk.CollectionConverters._
    def cmap(m: java.util.concurrent.ConcurrentHashMap[String, Double]): Iterable[(String, Double)] =
      m.asScala.toSeq.sortBy(_._1)
    val detail = s"""{"metric":"total","value":${r3s(total)},"unit":"sec","prepare":${r3s(prepareSec)},"prepare_par":$prepPar,"jit_settle_wait":${r3s(jitSettleWait)},"prepare_steps":${jmap(prepareSteps, r3s)},"prepare_runq_sec":${jmap(cmap(prepRunq), r3s)},"prepare_steal_pct":${jmap(cmap(prepSteal), r3s)},"prepare_iowait_pct":${jmap(cmap(prepIo), r3s)},"queries":${jmap(results.toSeq.sortBy(_._1), r3s)},"query_runq_sec":${jmap(queryRunq, r3s)},"query_steal_pct":${jmap(querySteal, r3s)},"query_iowait_pct":${jmap(queryIo, r3s)},"extras":${jmap(extraResults, r3s)},"recall_at_3":${jmap(annRecall, r3s)},"failed":$nFailed,"extras_failed":$nExtrasFailed,"quiesce_wait":${r3s(quiesceWait)},"steal_pct":${r3s(steal)},"spin_ms":${r3s(spinMs)},"spin_ms_end":${r3s(spinEndMs)},"load1_start":${r3s(load1Start)},"load1_end":${r3s(load1End)},"sf":"$sfDir"}"""
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("bench_details.json"),
      (detail + "\n").getBytes("UTF-8"))
    catch { case e: Throwable => System.err.println(s"[bench] detail write failed: ${e.getMessage}") }
    val line = contractLine(total, prepareSec, nFailed, nExtrasFailed, sfDir,
      load1Start, load1End, quiesceWait, steal, spinMs, prepPar, jitSettleWait)
    // stop Spark BEFORE printing the contract line so no shutdown
    // message (executor/log4j/jansi) can land on stdout after it —
    // the driver parses the process's LAST line as JSON. A stop()
    // failure (executor-shutdown race) must not eat the line: every
    // query already ran, so report the error and print anyway.
    try spark.stop()
    catch { case e: Throwable => System.err.println(s"[bench] spark.stop failed: ${e.getMessage}") }
    println(line)
    System.out.flush()
  }
}
