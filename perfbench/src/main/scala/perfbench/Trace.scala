package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with nanosecond resolution, on the
  * same base as Spark's listener timestamps. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def ms(ns: Long): Double = baseMs + (ns - baseNs) / 1e6
  def now: Double = ms(System.nanoTime())
}

/** One span recorded at the benchmark's boundary around a call into a
  * layer. `parent` is 0 for the run's root. */
final case class Span(id: Long, parent: Long, name: String, layer: String,
    start: Double, end: Double, attrs: Map[String, Double] = Map.empty) {
  def ms: Double = end - start
}

/** In-memory span store for one run; written out once at the end. */
final class Tracer(val runId: String) {
  private val ids = new AtomicLong(0)
  private val buf = mutable.ArrayBuffer.empty[Span]
  def nextId(): Long = ids.incrementAndGet()
  def add(s: Span): Span = synchronized { buf += s; s }
  def spans: Seq[Span] = synchronized(buf.toList)

  /** Run `f` as a span; jobs it submits are tagged with the span id. */
  def span[T](spark: SparkSession, parent: Long, name: String, layer: String)(
      f: Long => T): T = {
    val id = nextId()
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Tracer.Prop)
    sc.setLocalProperty(Tracer.Prop, id.toString)
    val t0 = Clock.now
    try f(id)
    finally {
      add(Span(id, parent, name, layer, t0, Clock.now))
      sc.setLocalProperty(Tracer.Prop, prev)
    }
  }

  /** Self time: the span's duration minus the part its children cover. */
  def selfMs(s: Span, all: Seq[Span]): Double =
    s.ms - Stats.covered(all.filter(_.parent == s.id).map(c =>
      (math.max(c.start, s.start), math.min(c.end, s.end))))

  /** One child span per Spark job, under the span that submitted it. */
  def addJobs(stats: SparkStats): Unit =
    stats.jobs.filter(_._1 != 0).foreach { case (parent, start, end) =>
      add(Span(nextId(), parent, "job", "spark", start, end))
    }

  def write(path: String): Unit = {
    val f = new java.io.File(path); f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try spans.sortBy(_.start).foreach { s =>
      w.println(Json.obj(Seq("run_id" -> Json.str(runId), "span_id" -> s.id.toString,
        "parent_id" -> s.parent.toString, "name" -> Json.str(s.name),
        "layer" -> Json.str(s.layer), "start_ms" -> Json.num(s.start),
        "end_ms" -> Json.num(s.end), "self_ms" -> Json.num(selfMs(s, spans))) ++
        s.attrs.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }))
    } finally w.close()
  }
}

object Tracer {
  /** Spark local property carrying the enclosing span id into jobs. */
  val Prop = "perfbench.span"
}

/** Per-span Spark work, summed over the jobs the span submitted. */
final class Work {
  var jobs, stages, tasks = 0L
  var runMs, cpuMs, delayMs, gcMs = 0.0
  var shuffleRead, shuffleWrite, spill, inputBytes, outputBytes, outputRecords = 0L
  var taskMs = 0.0
  val jobIntervals = mutable.ArrayBuffer.empty[(Double, Double)]
  def add(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuMs += o.cpuMs; delayMs += o.delayMs; gcMs += o.gcMs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite; spill += o.spill
    inputBytes += o.inputBytes; outputBytes += o.outputBytes; outputRecords += o.outputRecords
    taskMs += o.taskMs; jobIntervals ++= o.jobIntervals
  }
}

/** Job, stage and task metrics keyed by the span that submitted them. */
final class SparkStats extends SparkListener {
  private val jobSpan = mutable.Map.empty[Int, Long]
  private val jobStart = mutable.Map.empty[Int, Double]
  private val stageSpan = mutable.Map.empty[Int, Long]
  private val bySpan = mutable.Map.empty[Long, Work]

  private def work(span: Long) = bySpan.getOrElseUpdate(span, new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Prop)))
      .map(_.toLong).getOrElse(0L)
    jobSpan(e.jobId) = span; jobStart(e.jobId) = e.time.toDouble
    e.stageIds.foreach(stageSpan(_) = span)
    work(span).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val span = jobSpan.getOrElse(e.jobId, 0L)
    work(span).jobIntervals += ((jobStart.getOrElse(e.jobId, e.time.toDouble), e.time.toDouble))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    work(stageSpan.getOrElse(e.stageInfo.stageId, 0L)).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val w = work(stageSpan.getOrElse(e.stageId, 0L))
    w.tasks += 1
    val m = e.taskMetrics
    val info = e.taskInfo
    w.taskMs += info.duration
    if (m != null) {
      w.runMs += m.executorRunTime
      w.cpuMs += m.executorCpuTime / 1e6
      w.gcMs += m.jvmGCTime
      // the Spark UI's scheduler-delay rule
      w.delayMs += math.max(0L, info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L))
      w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      w.inputBytes += m.inputMetrics.bytesRead
      w.outputBytes += m.outputMetrics.bytesWritten
      w.outputRecords += m.outputMetrics.recordsWritten
    }
  }

  /** (span, start, end) of every finished job. */
  def jobs: Seq[(Long, Double, Double)] = synchronized {
    bySpan.toSeq.flatMap { case (s, w) => w.jobIntervals.map { case (a, b) => (s, a, b) } }
  }

  def of(spans: Iterable[Long]): Work = synchronized {
    val out = new Work
    spans.foreach(s => bySpan.get(s).foreach(out.add))
    out
  }
}

/** Planning-phase times of every query execution Spark reports
  * (batch actions, including each sink write inside `foreachBatch`). */
final class PhaseTimes extends QueryExecutionListener {
  final case class Exec(start: Double, analysis: Double, optimization: Double, planning: Double)
  private val buf = mutable.ArrayBuffer.empty[Exec]

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def d(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
    val start = ph.values.map(_.startTimeMs.toDouble).reduceOption(_ min _).getOrElse(Clock.now)
    synchronized { buf += Exec(start, d("analysis"), d("optimization"), d("planning")) }
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Executions whose planning started inside [from, to). */
  def within(from: Double, to: Double): Seq[Exec] =
    synchronized(buf.filter(e => e.start >= from && e.start < to).toList)
}

/** Per-trigger progress of streaming queries. */
final class Progress extends StreamingQueryListener {
  final case class Trigger(batchId: Long, start: Double, rows: Long, durations: Map[String, Double])
  private val buf = mutable.ArrayBuffer.empty[Trigger]
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    import scala.jdk.CollectionConverters._
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    synchronized {
      buf += Trigger(p.batchId, start, p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }.toMap)
    }
  }
  def triggers: Seq[Trigger] = synchronized(buf.toList)
}

/** Compiled-class count from Spark's codegen metrics source. */
object Codegen {
  import org.apache.spark.metrics.source.CodegenMetrics
  def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  /** Mean compile time over the source's recent sample reservoir. */
  def meanMs: Double = CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean
}
