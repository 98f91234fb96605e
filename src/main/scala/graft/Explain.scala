package graft

/** Plan inspector: prints the formatted physical plan and cold+warm
  * wall times for one or more queries.
  * Usage: `sbt "runMain graft.Explain <sfDir> <query> [query ...]"`
  * (or `all` to time every query, no plans). */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.tail.toSeq else Seq("all")
    val spark = GraftSession.build()

    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def run(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    val targets =
      if (names == Seq("all")) SparkEntry.queries.keys.toSeq.sorted else names
    targets.foreach { name =>
      val q = SparkEntry.queries(name)
      if (names != Seq("all")) {
        println(s"========== $name ==========")
        q(spark, sfDir).explain("formatted")
      }
      // time BEFORE any other action: count() first would materialize
      // caches/codegen and make "cold" a lie
      val cold = time(run(q(spark, sfDir)))
      val warm = time(run(q(spark, sfDir)))
      val rows = q(spark, sfDir).count()
      println(f"[$name] rows=$rows%d cold=$cold%.2fs warm=$warm%.2fs")
    }
    spark.stop()
  }
}
