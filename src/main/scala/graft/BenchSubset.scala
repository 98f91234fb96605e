package graft

import org.apache.spark.sql.DataFrame

/** Dev harness: time a comma-separated subset of registry queries
  * under the Bench session ([[GraftSession]], noop sink), without
  * paying the full registry run while iterating on one family.
  * Timings are printed per query plus the subset total; NOT part of
  * the driver protocol.
  *
  * Usage: runMain graft.BenchSubset <sfDir> <q1,q2,...> [reps]
  */
object BenchSubset {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: BenchSubset <sfDir> <q1,q2,...> [reps]")
    val sfDir = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val reps = if (args.length >= 3) args(2).toInt else 1
    val spark = GraftSession.build()
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def runNoop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    spark.range(1000000L).selectExpr("sum(id)").collect()
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    (1 to reps).foreach { r =>
      var tot = 0.0
      names.foreach { n =>
        val sec = timed(runNoop(SparkEntry.queries(n)(spark, sfDir)))
        tot += sec
        val art = org.apache.spark.sql.graftbridge.Bridge.sessionArtifactAdded(spark)
        println(f"[subset rep$r] $n%-24s ${sec}%8.3f s artifactAdded=$art")
      }
      println(f"[subset rep$r] TOTAL${""}%-20s ${tot}%8.3f s")
    }
    spark.stop()
  }
}
