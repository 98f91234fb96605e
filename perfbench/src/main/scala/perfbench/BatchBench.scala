package perfbench

import java.io.File
import java.nio.file.Files
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods
import graft.SparkEntry

/** Expected (rows, digest) of each query of a workload. */
object References {
  private def read(f: File): JValue =
    if (f.exists) JsonMethods.parse(new String(Files.readAllBytes(f.toPath), "UTF-8")) else JObject()

  def load(f: File, workload: String): Map[String, Digest] =
    read(f) \ workload match {
      case JObject(fs) => fs.map {
        case (name, v) =>
          val rows = (v \ "rows") match { case JInt(i) => i.toLong; case o => sys.error(s"$name.rows: $o") }
          val hash = (v \ "digest") match { case JString(s) => s; case o => sys.error(s"$name.digest: $o") }
          name -> Digest(rows, hash)
      }.toMap
      case _ => Map.empty
    }

  def store(f: File, workload: String, ds: Seq[(String, Digest)]): Unit = {
    val entry = JObject(ds.sortBy(_._1).map { case (n, d) =>
      n -> JObject("rows" -> JInt(d.rows), "digest" -> JString(d.hash)) }.toList)
    val all = read(f) match { case JObject(fs) => fs.toMap; case _ => Map.empty[String, JValue] }
    val next = all + (workload -> entry)
    Files.write(f.toPath, (JsonMethods.pretty(JsonMethods.render(JObject(next.toList.sortBy(_._1)))) + "\n")
      .getBytes("UTF-8"))
  }

  /** Names of the queries whose digest differs from its reference, or
    * that have none: each is a failed operation, never a pass. */
  def mismatches(expected: Map[String, Digest], got: Map[String, Either[String, Digest]]): Seq[String] =
    got.toSeq.sortBy(_._1).collect {
      case (n, Left(err)) => s"$n: $err"
      case (n, Right(d)) if !expected.get(n).contains(d) =>
        s"$n: expected ${expected.get(n).map(e => s"${e.rows} rows ${e.hash}").getOrElse("no reference")}, " +
          s"got ${d.rows} rows ${d.hash}"
    }
}

/** `trace_queries` (and any registry prefix run the same way): a closed
  * loop, one query at a time in alphabetical order, each built with
  * `SparkEntry.queries(name)(spark, dir)` and run into a `noop` write,
  * over the fixture tables stored with the benchmark. The untimed
  * warm-up pass checks every query's digest against the references
  * stored with the benchmark, then runs the query's `noop` write once,
  * so every `PlanCache` substrate and every plan the timed passes run
  * is built and compiled before the first timed pass. */
object BatchBench {
  private final case class Run(name: String, pass: Int, traced: Boolean, start: Double,
      end: Double, buildMs: Double, execMs: Double, analysisMs: Double, spans: Seq[Long],
      ok: Boolean) {
    def ms: Double = end - start
    def op: Op = Op(start, end, buildMs, execMs, analysisMs, spans)
  }

  def run(cfg: Cfg): Outcome = {
    val p = cfg.params
    val slots = Session.cores
    val data = p.str("data")
    if (!new File(data, "events.parquet").exists) sys.error(s"fixture tables not found in $data")
    val work = new File(cfg.work, s"batch-${ProcessHandle.current.pid}")
    val refs = References.load(cfg.refs, cfg.workload)
    val names =
      if (cfg.recordRefs) SparkEntry.queries.keys.filter(_.startsWith(p.str("prefix"))).toSeq.sorted
      else refs.keys.toSeq.sorted
    if (names.isEmpty) sys.error(s"no reference digests for ${cfg.workload}")
    val m = new Metrics
    val tracer = new Tracer(s"${cfg.workload}-${cfg.seed}-${System.currentTimeMillis}")

    val t0 = System.nanoTime()
    val spark = Session.create(slots, work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    Mark("session started")

    // warm-up pass, untimed: each query's digest, checked, then the
    // query's noop write, the plan the timed passes run
    val w0 = System.nanoTime()
    val got = names.map { n =>
      n -> (try {
        val d = Digest.of(SparkEntry.queries(n)(spark, data))
        SparkEntry.queries(n)(spark, data).write.format("noop").mode("overwrite").save()
        Right(d)
      } catch { case e: Exception => Left(e.toString.take(300)) })
    }.toMap
    val warmS = (System.nanoTime() - w0) / 1e9
    Mark("warm-up pass done")
    val bad = References.mismatches(refs, got)
    if (cfg.recordRefs)
      References.store(cfg.refs, cfg.workload, got.toSeq.collect { case (n, Right(d)) => n -> d })
    else bad.foreach(b => println(s"check failed: $b"))
    val warmFailed = if (cfg.recordRefs) got.count(_._2.isLeft) else bad.size
    m.put("cache_mb", Session.cachedBytes(spark) / 1048576.0, "MB")
    m.put("setup.cache_blocks", Session.cachedBlocks(spark), "count")

    val stats = new SparkStats
    val phases = new PhaseTimes
    if (cfg.trace) {
      spark.sparkContext.addSparkListener(stats)
      spark.listenerManager.register(phases)
    }
    val passes = math.max(2, cfg.seconds / p.int("seconds_per_pass"))
    // traced runs interleave untraced and traced passes symmetrically
    // (U T T U ...), so JIT warming does not favour either side of the
    // overhead ratio
    val plan = if (cfg.trace) (0 until 2 * passes).map(i => i % 4 == 1 || i % 4 == 2)
      else Seq.fill(passes)(false)
    val root = tracer.nextId()
    var compiles = 0L
    val runs = plan.zipWithIndex.flatMap { case (traced, pass) =>
      val passId = tracer.nextId()
      val c0 = Codegen.compiles
      val rs = names.map(n => if (traced) tracedQuery(spark, tracer, passId, n, pass, data)
        else plainQuery(spark, n, pass, data))
      if (traced) {
        compiles += Codegen.compiles - c0
        tracer.add(Span(passId, root, s"pass.$pass", "benchmark", rs.head.start, rs.last.end))
      }
      rs
    }
    Mark("timed passes done")
    if (cfg.trace) org.apache.spark.perfbenchbridge.Bus.drain(spark.sparkContext)
    spark.stop()
    StreamBench.deleteTree(work)

    val plain = runs.filterNot(_.traced)
    val ms = plain.map(_.ms)
    val p50 = Stats.pct(ms, 50); val p90 = Stats.pct(ms, 90)
    def passS(rs: Seq[Run]) = Stats.median(rs.groupBy(_.pass).values.map(_.map(_.ms).sum / 1000).toSeq)
    m.put("latency_p50_ms", p50.value, "ms")
    m.put("latency_p90_ms", p90.value, "ms")
    m.put("latency_samples", p50.n, "count")
    m.put("ops_per_s", plain.size / (ms.sum / 1000), "1/s")
    m.put("pass_s", passS(plain), "s")
    m.put("passes", plain.map(_.pass).distinct.size, "count")
    m.put("queries", names.size, "count")
    m.put("setup_s", sessionS + warmS, "s")
    m.put("setup.session_s", sessionS, "s")
    m.put("setup.warm_s", warmS, "s")

    if (cfg.trace) {
      val traced = runs.filter(_.traced)
      tracer.add(Span(root, 0, s"run.${cfg.workload}", "benchmark", runs.head.start, runs.last.end))
      val ops = traced.map(_.op)
      m.put("op.count", ops.size, "count")
      Layers.put("op", ops, ops.size, stats, phases, compiles, slots, m)
      // the registry and Spark layers summed per traced pass
      val tracedPasses = traced.map(_.pass).distinct.size
      Layers.put("query", ops, tracedPasses, stats, phases, compiles, slots, m)
      m.put("query.codegen_ms", m.get("query.codegen_compiles") * Codegen.meanMs, "ms")
      m.put("trace.overhead_ratio", traced.map(_.ms).sum / plain.map(_.ms).sum, "ratio")
      val path = new File(cfg.out, s"${tracer.runId}.spans.jsonl")
      tracer.addJobs(stats)
      tracer.write(path.getPath)
      println(s"spans ${tracer.spans.size} written to ${path.getPath}")
    }
    val failedRuns = runs.count(!_.ok)
    Outcome(m, names.size + runs.size, warmFailed + failedRuns)
  }

  private def plainQuery(spark: SparkSession, n: String, pass: Int, data: String): Run = {
    val t0 = System.nanoTime()
    try {
      val df = SparkEntry.queries(n)(spark, data)
      val t1 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val t2 = System.nanoTime()
      Run(n, pass, false, Clock.ms(t0), Clock.ms(t2), (t1 - t0) / 1e6, (t2 - t1) / 1e6, 0, Nil,
        ok = true)
    } catch {
      case e: Exception =>
        println(s"query failed: $n: ${e.toString.take(300)}")
        val t = System.nanoTime()
        Run(n, pass, false, Clock.ms(t0), Clock.ms(t), 0, 0, 0, Nil, ok = false)
    }
  }

  private def tracedQuery(spark: SparkSession, tracer: Tracer, parent: Long, n: String,
      pass: Int, data: String): Run = {
    var buildMs, execMs, analysisMs = 0.0
    val ids = mutable.ArrayBuffer.empty[Long]
    val start = Clock.now
    val ok = try {
      tracer.span(spark, parent, s"query.$n", "registry") { qid =>
        ids += qid
        val b0 = Clock.now
        val df = tracer.span(spark, qid, "build", "registry") { id =>
          ids += id; SparkEntry.queries(n)(spark, data)
        }
        val b1 = Clock.now
        tracer.span(spark, qid, "execute", "spark") { id =>
          ids += id; df.write.format("noop").mode("overwrite").save()
        }
        buildMs = b1 - b0; execMs = Clock.now - b1
        analysisMs = Layers.analysisMs(df)
      }
      true
    } catch {
      case e: Exception => println(s"query failed: $n: ${e.toString.take(300)}"); false
    }
    Run(n, pass, true, start, Clock.now, buildMs, execMs, analysisMs, ids.toSeq, ok)
  }
}
