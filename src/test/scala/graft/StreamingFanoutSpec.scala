package graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException, Trigger}
import graft.model.{Header, RawRecord}
import graft.streaming.Pipeline

/** The sink fan-out of [[Pipeline.start]]: the first sink runs alone,
  * the other three concurrently under the stream's job group, and a
  * failure anywhere fails the batch only after every call of it has
  * returned — before the batch is unpersisted and without committing
  * its offsets, so a restart re-delivers it. */
class StreamingFanoutSpec extends SparkSpec {
  import spark.implicits._

  private val Names = Seq("even", "odd", "spans", "logs")

  private def records(from: Int, n: Int): Seq[RawRecord] = (from until from + n).map { i =>
    RawRecord(s"k$i".getBytes("UTF-8"), java.nio.ByteBuffer.allocate(4).putInt(i).array(),
      "numbers", 0, i.toLong, new java.sql.Timestamp(1700000000000L + i), 0,
      Seq(Header("b3", "1234567890123456-6543210987654321-1".getBytes("UTF-8"))))
  }

  /** What one sink call saw: its batch, thread, job group, interval,
    * the values it wrote (the row count for spans and logs) and whether
    * the batch was still persisted when it returned. */
  case class Call(sink: String, batch: Long, thread: String, jobGroup: String,
      startNs: Long, endNs: Long, values: Seq[Int], batchStillCached: Boolean)

  /** Sinks that record their calls and collect their rows instead of
    * writing files; `before(sink, batch)` runs first in each call. */
  final class Harness(before: (String, Long) => Unit = (_, _) => ()) {
    val calls = mutable.ArrayBuffer.empty[Call]
    /** RDDs persisted before the query started; anything persisted
      * since, once the first sink has filled it, is the batch. */
    private val base = spark.sparkContext.getPersistentRDDs.keySet.toSet
    @volatile var batchRdds = Set.empty[Int]
    private def persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
    def cachedNow: Boolean = batchRdds.nonEmpty && batchRdds.subsetOf(persisted)

    def sink(name: String): Pipeline.Sink = (batch, df) => {
      val t0 = System.nanoTime()
      before(name, batch)
      val values = if (name == "spans" || name == "logs") Seq(df.count().toInt)
        else df.select("value_int").as[Int].collect().toSeq
      if (name == Names.head) batchRdds = persisted -- base
      val call = Call(name, batch, Thread.currentThread().getName,
        df.sparkSession.sparkContext.getLocalProperty("spark.jobGroup.id"),
        t0, System.nanoTime(), values, cachedNow)
      calls.synchronized { calls += call }
    }

    def start(input: MemoryStream[RawRecord], ckpt: String): StreamingQuery =
      Pipeline.start(input.toDF(), sink("even"), sink("odd"), sink("spans"), sink("logs"),
        ckpt, Trigger.ProcessingTime(0L))

    def of(batch: Long): Seq[Call] = calls.synchronized(calls.filter(_.batch == batch).toList)
  }

  private def causes(e: Throwable): Seq[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq

  test("concurrent sink calls run under the stream's job group and overlap") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[RawRecord]
    // each concurrent sink waits for the other two: serial calls time out
    val met = new CountDownLatch(3)
    val allMet = mutable.Map.empty[String, Boolean]
    val h = new Harness((name, _) => if (name != Names.head) {
      met.countDown()
      val ok = met.await(20, TimeUnit.SECONDS)
      allMet.synchronized { allMet(name) = ok }
    })
    val q = h.start(input, Files.createTempDirectory("fanout-ckpt").toString)
    try {
      input.addData(records(1, 10))
      q.processAllAvailable()
      val calls = h.of(0)
      assert(calls.map(_.sink).toSet === Names.toSet)
      assert(calls.forall(_.jobGroup == q.runId.toString),
        s"every sink call must carry the stream's job group ${q.runId}: $calls")
      val first = calls.find(_.sink == Names.head).get
      val rest = calls.filter(_.sink != Names.head)
      assert(allMet.synchronized(allMet.toMap) === rest.map(_.sink -> true).toMap)
      assert(rest.map(_.startNs).max < rest.map(_.endNs).min,
        "the concurrent sink calls' intervals must overlap")
      assert(rest.forall(_.startNs >= first.endNs), "the first sink must run alone")
      assert(rest.map(_.thread).distinct.size === 3 && !rest.exists(_.thread == first.thread))
      assert(rest.forall(_.batchStillCached), "the first sink must have filled the batch cache")
    } finally q.stop()
  }

  test("stop during the fan-out cancels the concurrent calls and commits nothing") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[RawRecord]
    val ckpt = Files.createTempDirectory("fanout-stop").toString
    val blocked = new CountDownLatch(2)
    // one concurrent call blocks in a Spark job, one outside Spark
    val h = new Harness((name, _) => name match {
      case "odd" => blocked.countDown(); Thread.sleep(120000)
      case "spans" =>
        blocked.countDown()
        spark.sparkContext.parallelize(Seq(1), 1).foreach(_ => Thread.sleep(120000))
      case _ =>
    })
    val q = h.start(input, ckpt)
    try {
      input.addData(records(0, 4))
      assert(blocked.await(60, TimeUnit.SECONDS), "both calls must be blocked")
      def within(s: Int)(cond: => Boolean): Boolean = {
        val deadline = System.nanoTime() + s * 1000000000L
        while (!cond && System.nanoTime() < deadline) Thread.sleep(20)
        cond
      }
      val sc = spark.sparkContext
      assert(within(60)(sc.statusTracker.getActiveJobIds().nonEmpty &&
        h.of(0).exists(_.sink == "logs")), "the blocking job and the logs call must be running/done")
      val t0 = System.nanoTime()
      q.stop()
      val stopS = (System.nanoTime() - t0) / 1e9
      assert(stopS < 30, s"stop must not wait out the blocked calls (took $stopS s)")
      assert(q.exception.isEmpty, s"a stop is not a failure: ${q.exception}")
      assert(!new File(ckpt, "commits/0").exists, "the interrupted batch must not be committed")
      assert(h.of(0).map(_.sink).toSet === Set("even", "logs"))
      assert(within(30)(sc.statusTracker.getActiveJobIds().isEmpty),
        "the blocked call's job must be cancelled with the stream's job group")
    } finally q.stop()
  }

  /** A sink that throws on batch 1 while the others succeed (the
    * concurrent ones slowly, so an early unpersist would show), then a
    * restart from the checkpoint with sinks that all succeed. */
  private def failAndRestart(failing: String): Unit = {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[RawRecord]
    val ckpt = Files.createTempDirectory("fanout-fail").toString
    val boom = new IllegalStateException(s"$failing sink failed")
    val h = new Harness((name, batch) => if (batch == 1) {
      if (name == failing) throw boom
      if (name != Names.head) Thread.sleep(800)
    })
    val q = h.start(input, ckpt)
    try {
      input.addData(records(0, 6))
      q.processAllAvailable()
      input.addData(records(6, 6))
      val e = intercept[StreamingQueryException](q.processAllAvailable())
      assert(causes(e).exists(_ eq boom), s"the query must fail with the sink's exception: $e")
    } finally q.stop()

    val others = h.of(1)
    if (failing == Names.head)
      assert(others.isEmpty, s"no other sink may run once the first has failed: $others")
    else {
      assert(others.map(_.sink).toSet === Names.toSet - failing,
        "every other sink call of the batch must have returned")
      assert(others.forall(_.batchStillCached),
        s"the batch must stay persisted until every call has returned: $others")
    }
    assert(!h.cachedNow, "the failed batch must be unpersisted")
    assert(new File(ckpt, "offsets/1").exists && !new File(ckpt, "commits/1").exists,
      "the failed batch's offsets must not be committed")

    val again = new Harness()
    val q2 = again.start(input, ckpt)
    try q2.processAllAvailable()
    finally q2.stop()
    val redelivered = again.of(1)
    assert(redelivered.map(_.sink).toSet === Names.toSet, "restart must re-deliver batch 1")
    assert(redelivered.filter(c => c.sink == "even" || c.sink == "odd")
      .flatMap(_.values).sorted === (6 until 12))
    assert(again.calls.synchronized(again.calls.forall(_.batch == 1)),
      "batch 0 was committed and must not re-run")
  }

  test("a failing first sink fails the batch, runs no other sink and is re-delivered") {
    failAndRestart("even")
  }

  test("a failing concurrent sink fails the batch after its siblings return; it is re-delivered") {
    failAndRestart("spans")
  }

  test("parquet sinks and the checkpoint logs start no process; files stay 0644, dirs 0755") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[RawRecord]
    val root = Files.createTempDirectory("fanout-fork")
    val sinkDirs = Names.map(n => root.resolve(n))
    // a process that names this dir shows the recording sees process starts
    val probe = Files.createTempDirectory("fanout-fork-probe").toString
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try {
      val sinks = sinkDirs.map(d => Pipeline.parquetSink(d.toString))
      val q = Pipeline.start(input.toDF(), sinks(0), sinks(1), sinks(2), sinks(3),
        root.resolve("ckpt").toString, Trigger.ProcessingTime(0L))
      try (0 until 3).foreach { t =>
        input.addData(records(10 * t, 10))
        q.processAllAvailable()
      } finally q.stop()
      assert(q.lastProgress.batchId === 2L)
      new ProcessBuilder("ls", probe).start().waitFor()
    } finally rec.stop()
    val dump = Files.createTempFile("fanout-fork", ".jfr")
    rec.dump(dump)
    rec.close()
    val commands = RecordingFile.readAllEvents(dump).asScala
      .filter(_.getEventType.getName == "jdk.ProcessStart").map(_.getString("command")).toSeq
    assert(commands.exists(_.contains(probe)), s"the recording must see process starts: $commands")
    val forked = commands.filter(_.contains(root.toString))
    assert(forked.isEmpty, s"${forked.size} processes named the sink or checkpoint dirs: ${forked.take(5)}")

    def mode(p: java.nio.file.Path): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff
    val entries = sinkDirs.flatMap(d => Files.walk(d).iterator().asScala.toSeq)
    assert(entries.exists(_.getFileName.toString.startsWith("part-")))
    entries.foreach { p =>
      val expected = if (Files.isDirectory(p)) "755" else "644"
      assert(Integer.toOctalString(mode(p)) === expected, p)
    }
  }
}
