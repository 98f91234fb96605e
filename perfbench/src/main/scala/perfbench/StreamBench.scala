package perfbench

import java.io.File
import java.nio.file.Files
import scala.collection.concurrent.TrieMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.codec.Codecs
import graft.model.RawRecord
import graft.streaming.Pipeline

/** `stream_pipeline`: the paper's topology, `Pipeline.start` with four
  * parquet sinks on a `ProcessingTime(0)` trigger, fed through a
  * `MemoryStream` by one generator thread.
  *
  * Phase A is an open loop at a fixed rate well below the drain rate:
  * triggers are small, so per-trigger overhead (four sink jobs, WAL,
  * commit) sets record latency. Phase B drains a pre-built backlog in
  * a few large triggers, so per-record work (codec, projections,
  * parquet encode) sets throughput. */
object StreamBench {
  private val SinkNames = Seq("even", "odd", "spans", "logs")

  /** Start and end (System.nanoTime) of every sink call, per micro-batch. */
  final class SinkLog {
    private val calls = mutable.Map.empty[Long, mutable.Map[String, (Long, Long)]]
    def add(batch: Long, sink: String, startNs: Long, endNs: Long): Unit =
      synchronized { calls.getOrElseUpdate(batch, mutable.Map.empty)(sink) = (startNs, endNs) }
    def batches: Seq[Long] = synchronized(calls.keys.toSeq.sorted)
    /** When the last of the batch's sink calls returned. */
    def doneNs(batch: Long): Long = synchronized(calls(batch).values.map(_._2).max)
    def sinkMs(batch: Long): Map[String, Double] =
      synchronized(calls(batch).map { case (k, (s, e)) => k -> (e - s) / 1e6 }.toMap)
  }

  /** What the sink wrappers of one query share with the measuring thread. */
  final class Hooks(val spark: SparkSession) {
    val log = new SinkLog
    @volatile var tracer: Option[Tracer] = None
    @volatile var sampleCache = false
    val cacheBytes = mutable.ArrayBuffer.empty[Long]
    /** Span id of each traced trigger, allocated by its first sink call. */
    val triggerSpan = TrieMap.empty[Long, Long]
    /** Analysis time of the frames each traced trigger handed its sinks. */
    val analysisMs = TrieMap.empty[Long, Double]
    val phases = new PhaseTimes
    /** The stream runs on a clone of the session, made when the query
      * started; its planning phases reach only listeners registered on
      * the clone, which the first traced sink call does. */
    @volatile var streamSession: Option[SparkSession] = None
  }

  /** Benchmark-owned wrapper around one of the pipeline's sinks. */
  private def timed(name: String, inner: Pipeline.Sink, h: Hooks): Pipeline.Sink = (batch, df) => {
    // the micro-batch is persisted and filled by the first sink's job,
    // so just before the last sink the cache holds the whole batch
    if (name == SinkNames.last && h.sampleCache)
      h.cacheBytes.synchronized { h.cacheBytes += Session.cachedBytes(h.spark) }
    val t0 = System.nanoTime()
    h.tracer match {
      case Some(t) =>
        if (h.streamSession.isEmpty) {
          df.sparkSession.listenerManager.register(h.phases)
          h.streamSession = Some(df.sparkSession)
        }
        h.analysisMs.synchronized {
          h.analysisMs(batch) = h.analysisMs.getOrElse(batch, 0.0) + Layers.analysisMs(df)
        }
        val parent = h.triggerSpan.getOrElseUpdate(batch, t.nextId())
        t.span(h.spark, parent, s"sink.$name", "streaming")(_ => inner(batch, df))
      case None => inner(batch, df)
    }
    h.log.add(batch, name, t0, System.nanoTime())
  }

  /** The source offset a checkpointed micro-batch ended at. */
  private def endOffset(ckpt: File, batch: Long): Long =
    Files.readAllLines(new File(ckpt, s"offsets/$batch").toPath).asScala
      .map(_.trim).filter(_.nonEmpty).last.toLong

  def run(cfg: Cfg): Outcome = {
    val p = cfg.params
    val slots = math.max(1, Session.cores - 1)
    val work = new File(cfg.work, s"stream-${ProcessHandle.current.pid}")
    val rate = p.num("rate_rps")
    val nA = (rate * cfg.seconds * p.num("phase_a_share")).toInt
    val nB = p.int("backlog_records") / p.int("backlog_triggers") * p.int("backlog_triggers")
    val tracer = new Tracer(s"${cfg.workload}-${cfg.seed}-${System.currentTimeMillis}")
    val m = new Metrics

    // set-up, once and cold: a fresh session, the query started on a
    // fresh checkpoint, and the warm triggers
    val t0 = System.nanoTime()
    val spark = Session.create(slots, work)
    val t1 = System.nanoTime()
    val h = new Hooks(spark)
    val src = MemoryStream[RawRecord](spark, slots)(Encoders.product[RawRecord])
    val dir = new File(work, "out")
    val ckpt = new File(dir, "ckpt")
    val sinks = SinkNames.map(n => timed(n, Pipeline.parquetSink(new File(dir, n).getPath), h))
    val query = Pipeline.start(src.toDF(), sinks(0), sinks(1), sinks(2), sinks(3),
      ckpt.getPath, Trigger.ProcessingTime(0L))
    var seq = 0L
    for (_ <- 1 to p.int("warm_triggers")) {
      src.addData(Records.range(cfg.seed, seq, p.int("warm_records")))
      seq += p.int("warm_records")
      query.processAllAvailable()
    }
    val sessionS = (t1 - t0) / 1e9
    val warmS = (System.nanoTime() - t1) / 1e9
    Mark("set-up done")

    /** Open loop at `rate`. Returns per-record latencies (ms) from due
      * time to the return of the trigger's last sink call, the feeder,
      * the batches it fed, and the rows each of them took. */
    def phaseA(n: Int = nA): (Seq[Double], OpenLoop, Seq[Long], Seq[Long]) = {
      val before = h.log.batches.toSet
      val gen = new OpenLoop(cfg.seed, seq, rate, n, recs => src.addData(recs).json().toLong)
      gen.start(); gen.join()
      gen.failure.foreach(e => throw e)
      query.processAllAvailable()
      seq += n
      val batches = h.log.batches.filterNot(before)
      val ends = batches.map(b => (endOffset(ckpt, b), b)).sortBy(_._1).toIndexedSeq
      val nsPer = 1e9 / rate
      val placed = gen.chunks.toSeq.map { c =>
        c -> ends.find(_._1 >= c.offset).getOrElse(sys.error(s"offset ${c.offset} never committed"))._2
      }
      val lat = placed.flatMap { case (c, b) =>
        val done = h.log.doneNs(b)
        (0 until c.n).map(k => (done - (c.firstDueNs + k * nsPer)) / 1e6)
      }
      val rows = placed.groupBy(_._2).values.map(_.map(_._1.n.toLong).sum).toSeq
      (lat, gen, batches, rows)
    }

    /** Drain a pre-built backlog in a few large triggers; returns seconds. */
    def phaseB(): Double = {
      val per = nB / p.int("backlog_triggers")
      val parts = (0 until p.int("backlog_triggers")).map(i => Records.range(cfg.seed, seq + i.toLong * per, per))
      h.sampleCache = true
      val t0 = System.nanoTime()
      parts.foreach { part => src.addData(part); query.processAllAvailable() }
      val s = (System.nanoTime() - t0) / 1e9
      h.sampleCache = false
      seq += nB
      s
    }

    def report(a: (Seq[Double], OpenLoop, Seq[Long], Seq[Long]), prefix: String): Unit = {
      val (lat, gen, batches, rows) = a
      val p50 = Stats.pct(lat, 50); val p90 = Stats.pct(lat, 90)
      m.put(s"${prefix}latency_p50_ms", p50.value, "ms")
      m.put(s"${prefix}latency_p90_ms", p90.value, "ms")
      m.put(s"${prefix}latency_samples", p50.n, "count")
      m.put(s"${prefix}latency_triggers", batches.size, "count")
      m.put(s"${prefix}gen.lag_p99_ms", Stats.pct(gen.lagsMs.toSeq, 99).value, "ms")
      m.put(s"${prefix}backlog.max_rows", if (rows.isEmpty) 0 else rows.max, "rows")
    }

    val stats = new SparkStats
    val progress = new Progress
    def tracing(on: Boolean): Unit =
      if (on) {
        spark.sparkContext.addSparkListener(stats)
        spark.streams.addListener(progress)
        h.tracer = Some(tracer)
      } else {
        h.tracer = None
        org.apache.spark.perfbenchbridge.Bus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(stats)
        spark.streams.removeListener(progress)
        h.streamSession.foreach(_.listenerManager.unregister(h.phases))
        h.streamSession = None
      }
    // the first seconds of the open loop still warm the JIT for this
    // regime of small triggers under a concurrent feeder: run, not timed
    phaseA((rate * p.num("warm_open_loop_s")).toInt)
    Mark("open-loop warm-up done")
    val a = phaseA()
    report(a, "")
    var tracedA: Seq[Long] = Nil
    var compilesA = 0L
    if (cfg.trace) {
      // untraced, traced, untraced: the overhead ratio compares the
      // traced phase with the mean of the two around it
      tracing(true)
      val c0 = Codegen.compiles
      val t = phaseA()
      compilesA = Codegen.compiles - c0
      tracing(false)
      report(t, "traced.")
      tracedA = t._3
      report(phaseA(), "after.")
      m.put("trace.overhead_ratio", m.get("traced.latency_p50_ms") /
        ((m.get("latency_p50_ms") + m.get("after.latency_p50_ms")) / 2), "ratio")
      tracing(true)
    }
    Mark("phase A done")
    val before = h.log.batches.toSet
    val bSeconds = phaseB()
    Mark("phase B done")
    val backlogBatches = h.log.batches.filterNot(before)
    query.stop()
    m.put("ops_per_s", nB / bSeconds, "1/s")
    m.put("cache_mb", (if (h.cacheBytes.isEmpty) 0L else h.cacheBytes.max) / 1048576.0, "MB")
    m.put("setup_s", sessionS + warmS, "s")
    m.put("setup.session_s", sessionS, "s")
    m.put("setup.warm_s", warmS, "s")
    m.put("backlog_records", nB, "rows")
    m.put("slots", slots, "count")

    if (cfg.trace) {
      tracing(false)
      traceMetrics(cfg, tracer, h, stats, progress, tracedA, backlogBatches,
        compilesA, slots, nB, m)
    }
    val (attempted, failed) = check(spark, dir, seq, cfg.seed, m)
    Mark("outputs checked")
    spark.stop()
    deleteTree(work)
    Outcome(m, attempted, failed)
  }

  private def traceMetrics(cfg: Cfg, tracer: Tracer, h: Hooks, stats: SparkStats,
      progress: Progress, phaseA: Seq[Long], phaseB: Seq[Long],
      compiles: Long, slots: Int, nB: Long, m: Metrics): Unit = {
    val root = tracer.nextId()
    val byBatch = progress.triggers.map(t => t.batchId -> t).toMap
    val spans = tracer.spans
    def sinkSpans(b: Long): Seq[Span] =
      h.triggerSpan.get(b).toSeq.flatMap(id => spans.filter(_.parent == id))
    // one span per traced trigger, parent of its four sink spans
    def triggerOps(bs: Seq[Long], phase: String): Seq[Op] = {
      val phaseId = tracer.nextId()
      val ops = bs.flatMap(b => byBatch.get(b).map { t =>
        val id = h.triggerSpan.getOrElseUpdate(b, tracer.nextId())
        val end = t.start + t.durations.getOrElse("triggerExecution", 0.0)
        tracer.add(Span(id, phaseId, s"trigger.$b", "streaming", t.start, end,
          t.durations.map { case (k, v) => s"$k.ms" -> v } + ("rows" -> t.rows.toDouble)))
        val sinkMs = h.log.sinkMs(b).values.sum
        Op(t.start, end, t.durations.getOrElse("addBatch", 0.0) - sinkMs, sinkMs,
          h.analysisMs.getOrElse(b, 0.0), sinkSpans(b).map(_.id))
      })
      if (ops.nonEmpty)
        tracer.add(Span(phaseId, root, phase, "benchmark", ops.map(_.start).min, ops.map(_.end).max))
      ops
    }
    val opsA = triggerOps(phaseA, "phase_a")
    val opsB = triggerOps(phaseB, "phase_b")
    if (opsA.nonEmpty)
      tracer.add(Span(root, 0, s"run.${cfg.workload}", "benchmark", opsA.map(_.start).min,
        (opsA ++ opsB).map(_.end).max))
    m.put("op.count", opsA.size, "count")
    Layers.put("op", opsA, opsA.size, stats, h.phases, compiles, slots, m)

    // phase A broken down per trigger and per sink
    val trig = phaseA.flatMap(byBatch.get)
    Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets",
      "triggerExecution").foreach { k =>
      m.put(s"trigger.${k}_ms", Stats.median(trig.map(_.durations.getOrElse(k, 0.0))), "ms")
    }
    m.put("trigger.count", trig.size, "count")
    m.put("trigger.rows_p50", Stats.median(trig.map(_.rows.toDouble)), "rows")
    val n = math.max(1, phaseA.size).toDouble
    SinkNames.foreach { s =>
      m.put(s"sink.${s}_ms", Stats.median(phaseA.map(b => h.log.sinkMs(b).getOrElse(s, 0.0))), "ms")
      val w = stats.of(phaseA.flatMap(sinkSpans).filter(_.name == s"sink.$s").map(_.id))
      m.put(s"sink.$s.rows", w.outputRecords / n, "rows")
    }
    m.put("fanout.self_ms", Stats.median(opsA.map(_.buildMs)), "ms")
    m.put("spark.jobs_per_trigger", m.get("op.jobs"), "count")
    m.put("spark.tasks_per_trigger", m.get("op.tasks"), "count")
    val recsA = trig.map(_.rows).sum
    m.put("sink.bytes_per_record", stats.of(opsA.flatMap(_.spans)).outputBytes.toDouble /
      math.max(1L, recsA), "B")
    val wB = stats.of(opsB.flatMap(_.spans))
    m.put("spark.executor_ms_per_krec", wB.runMs / (nB / 1000.0), "ms")
    m.put("spark.gc_ms", wB.gcMs, "ms")
    val path = new File(cfg.out, s"${tracer.runId}.spans.jsonl")
    tracer.addJobs(stats)
    tracer.write(path.getPath)
    println(s"spans ${tracer.spans.size} written to ${path.getPath}")
  }

  /** Untimed output checks over everything the measured query wrote. */
  private def check(spark: SparkSession, dir: File, n: Long, seed: Long, m: Metrics): (Long, Long) = {
    def read(s: String) = spark.read.parquet(new File(dir, s).getPath)
    val ok = udf((off: Long, v: Int, b3: String, mid: String) => {
      val s = Records.spec(seed, off)
      val parts = Option(b3).map(_.split('-')).getOrElse(Array.empty[String])
      val ctx = s.traceId match {
        // a headered record keeps its trace id and gets a new span id
        case Some(t) => parts.length >= 2 && parts(0) == t && !s.parentSpan.contains(parts(1))
        case None => parts.length >= 2
      }
      v == s.value && ctx && mid == s"messageid_$v"
    })
    def rows(s: String, even: Boolean) = read(s).select(col("offset"), col("value_int"),
      Codecs.headerLast(col("headers"), "b3").cast("string").as("b3"),
      Codecs.headerLast(col("headers"), "messageid").cast("string").as("mid"),
      lit(even).as("is_even"))
    val recs = rows("even", true).unionByName(rows("odd", false)).cache()
    val r = recs.agg(
      count(lit(1)),
      countDistinct(col("offset")),
      sum(when(col("offset") < 0 || col("offset") >= n, 1).otherwise(0)),
      sum(when(ok(col("offset"), col("value_int"), col("b3"), col("mid")), 0).otherwise(1)),
      sum(when(col("is_even") =!= (pmod(col("value_int"), lit(2)) === 0), 1).otherwise(0))).head()
    val (total, distinct, outside, wrong, misrouted) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    Mark("records checked")
    val lost = n - (distinct - outside)
    val dup = total - distinct

    // 2 span rows and 2 log rows per record: a "set" span and a send
    // span on the record's trace; a traced "set" log line, and a traced
    // line if even or an untraced "Odd number: <value>" line if odd.
    // Each trace id and each untraced line whose count is off is one
    // failed operation.
    val traces = recs.select(split(col("b3"), "-").getItem(0).as("trace_id"), col("is_even"), col("value_int"))
    val logs = read("logs")
    val counts = Seq(
      traces.select(lit("spans").as("kind"), col("trace_id").as("key"), lit(2L).as("want"), lit(0L).as("got")),
      traces.select(lit("logs"), col("trace_id"), when(col("is_even"), 2L).otherwise(1L), lit(0L)),
      traces.filter(!col("is_even"))
        .select(lit("lines"), concat(lit("Odd number: "), col("value_int").cast("string")), lit(1L), lit(0L)),
      read("spans").select(lit("spans"), col("trace_id"), lit(0L), lit(1L)),
      logs.select(when(col("trace_id").isNull, "lines").otherwise("logs"),
        coalesce(col("trace_id"), col("line")), lit(0L), lit(1L))).reduce(_ union _)
    val off = counts.groupBy("kind", "key").agg(sum("want").as("want"), sum("got").as("got"))
      .filter(col("want") =!= col("got")).groupBy("kind").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap.withDefaultValue(0L)
    val (spansOff, logsOff) = (off("spans"), off("logs") + off("lines"))

    m.put("check.lost", lost, "rows"); m.put("check.duplicated", dup, "rows")
    m.put("check.wrong", wrong + misrouted + outside, "rows")
    m.put("check.spans_off", spansOff, "keys")
    m.put("check.logs_off", logsOff, "keys")
    val failed = lost + dup + wrong + misrouted + outside + spansOff + logsOff
    (n, math.min(n, failed))
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}
