package graft

import org.apache.spark.graftbridge.JobCount

/** A warm registry build is plan construction only. After one pass has
  * read every base relation and materialized every shared frame, a
  * second `SparkEntry.queries(n)(spark, dir)` must submit no Spark job
  * (no parquet schema inference, no eager substrate job) and a second
  * build-and-count must persist no new copy of a cached frame (a frame
  * cached by a plan that holds a closure misses on every build). */
class WarmBuildSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"
  private val rows = SparkEntry.queries.keys.filter(_.startsWith("q_")).toSeq.sorted

  test("a warm q_ build submits no Spark job and persists nothing new") {
    val sc = spark.sparkContext
    rows.foreach(n => SparkEntry.queries(n)(spark, dir).count())

    val jobs = rows.map(n => n -> JobCount.of(sc)(SparkEntry.queries(n)(spark, dir))._2)
      .filter(_._2 > 0)
    assert(jobs.isEmpty, s"warm builds that submitted Spark jobs (row -> jobs): $jobs")

    val before = sc.getPersistentRDDs.size
    rows.foreach(n => SparkEntry.queries(n)(spark, dir).count())
    val after = sc.getPersistentRDDs.size
    assert(after == before,
      s"a second build-and-count of the q_ rows persisted ${after - before} more RDDs")
  }
}
