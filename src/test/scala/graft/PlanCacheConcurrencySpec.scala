package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graftbridge.JobCount
import org.apache.spark.sql.functions._
import graft.ops.PlanCache

/** The overlapped prepare phase (Bench, round 14) races many threads
  * at the SAME registry-shared substrates. PlanCache entries must
  * build exactly once under that contention: a duplicated
  * localCheckpoint build re-runs the whole job and persists a second
  * copy nothing reads, and a duplicated persist() double-registers the
  * plan with the CacheManager. These pins hold the lazy-holder
  * contract the parallel prepare relies on. */
class PlanCacheConcurrencySpec extends SparkSpec {

  test("concurrent cached calls on one key run the build exactly once") {
    val builds = new AtomicInteger(0)
    val nThreads = 8
    val ready = new CountDownLatch(nThreads)
    val go = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(nThreads)
    val spk = spark
    val input = spk.range(1).toDF()
    val futs = (1 to nThreads).map { _ =>
      pool.submit(new java.util.concurrent.Callable[Long] {
        override def call(): Long = {
          ready.countDown(); go.await()
          val df = PlanCache.cached("spec-conc-once", input) {
            builds.incrementAndGet()
            spk.range(1000L).select(col("id"), (col("id") * 2).as("v"))
          }
          df.count()
        }
      })
    }
    ready.await(30, TimeUnit.SECONDS)
    go.countDown()
    val counts = futs.map(_.get(120, TimeUnit.SECONDS))
    pool.shutdown()
    assert(counts.forall(_ == 1000L))
    assert(builds.get() == 1,
      s"build thunk ran ${builds.get()} times under an 8-thread race; must be exactly once")
  }

  test("concurrent checkpointed calls share one materialized frame") {
    val builds = new AtomicInteger(0)
    val nThreads = 6
    val go = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(nThreads)
    val spk = spark
    val input = spk.range(1).toDF()
    val futs = (1 to nThreads).map { _ =>
      pool.submit(new java.util.concurrent.Callable[Long] {
        override def call(): Long = {
          go.await()
          PlanCache.checkpointed("spec-conc-ck", input) {
            builds.incrementAndGet()
            spk.range(500L).select(col("id"))
          }.count()
        }
      })
    }
    go.countDown()
    val counts = futs.map(_.get(120, TimeUnit.SECONDS))
    pool.shutdown()
    assert(counts.forall(_ == 500L))
    assert(builds.get() == 1)
  }

  test("a failed build is retried by the next caller, not cached") {
    val attempts = new AtomicInteger(0)
    val spk = spark
    val input = spk.range(1).toDF()
    intercept[RuntimeException] {
      PlanCache.cached("spec-conc-fail", input) {
        attempts.incrementAndGet()
        throw new RuntimeException("boom")
      }
    }
    // second call re-runs the thunk (lazy val failure does not settle)
    val df = PlanCache.cached("spec-conc-fail", input) {
      attempts.incrementAndGet()
      spk.range(10L).toDF("id")
    }
    assert(df.count() == 10L)
    assert(attempts.get() == 2)
  }

  // ---- the relation tier behind SparkEntry.T

  /** A fresh directory holding `documents.parquet`: one parquet file
    * (not a Spark output directory) with `ids`, so a spec can rewrite
    * it in place. */
  private def docsDir(ids: Seq[Long]): Path = {
    val dir = Files.createTempDirectory("plancache-rel")
    writeDocs(dir, ids)
    dir
  }

  /** Rewrites `dir/documents.parquet` in place (same path, same inode:
    * the bytes are truncated and rewritten) with the rows `ids`. */
  private def writeDocs(dir: Path, ids: Seq[Long]): Unit = {
    val out = Files.createTempDirectory("plancache-rel-out")
    import spark.implicits._
    ids.toDF("doc_id").coalesce(1).write.mode("overwrite").parquet(out.resolve("t").toString)
    val part = Files.list(out.resolve("t")).filter(_.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.write(dir.resolve("documents.parquet"), Files.readAllBytes(part))
  }

  private def ids(dir: Path): Seq[Long] =
    SparkEntry.T(spark, dir.toString, "documents").collect().map(_.getLong(0)).toSeq.sorted

  test("T returns the same frame while the file is unchanged, and new rows after a rewrite in place") {
    val dir = docsDir(Seq(1L, 2L, 3L))
    val first = SparkEntry.T(spark, dir.toString, "documents")
    assert(SparkEntry.T(spark, dir.toString, "documents") eq first)
    assert(ids(dir) == Seq(1L, 2L, 3L))
    writeDocs(dir, 10L to 49L)
    assert(ids(dir) == (10L to 49L))
    assert(!(SparkEntry.T(spark, dir.toString, "documents") eq first))
  }

  test("two sessions get distinct relation frames") {
    val dir = docsDir(Seq(7L, 8L))
    val other = spark.newSession()
    val a = SparkEntry.T(spark, dir.toString, "documents")
    val b = SparkEntry.T(other, dir.toString, "documents")
    assert(!(a eq b))
    assert(b.sparkSession eq other)
    assert(SparkEntry.T(other, dir.toString, "documents") eq b)
    assert(b.count() == 2L)
  }

  test("8 threads racing one T call get one frame and run one schema job") {
    val dir = docsDir(Seq(4L, 5L, 6L))
    val nThreads = 8
    val go = new CountDownLatch(1)
    val spk = spark
    val (frames, jobs) = JobCount.of(spk.sparkContext) {
      // made inside the counted block: the threads inherit its job group
      val pool = Executors.newFixedThreadPool(nThreads)
      try {
        val futs = (1 to nThreads).map { _ =>
          pool.submit(new java.util.concurrent.Callable[org.apache.spark.sql.DataFrame] {
            override def call(): org.apache.spark.sql.DataFrame = {
              go.await(); SparkEntry.T(spk, dir.toString, "documents")
            }
          })
        }
        go.countDown()
        futs.map(_.get(120, TimeUnit.SECONDS))
      } finally pool.shutdown()
    }
    assert(frames.forall(_ eq frames.head), "racing T calls returned different frames")
    assert(jobs == 1, s"racing T calls ran $jobs Spark jobs; the schema read must run once")
  }

  test("clear() drops relation entries") {
    val dir = docsDir(Seq(9L))
    val first = SparkEntry.T(spark, dir.toString, "documents")
    assert(SparkEntry.T(spark, dir.toString, "documents") eq first)
    PlanCache.clear()
    assert(!(SparkEntry.T(spark, dir.toString, "documents") eq first))
  }
}
