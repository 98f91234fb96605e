package graft

/** Reproduces the driver's smoke check: SparkEntry.entry must return
  * rows on the sf0.001 fixture. */
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.build()
    val df = SparkEntry.entry(spark)
    val n = df.count()
    println(s"[entry-smoke] rows=$n schema=${df.schema.map(_.name).mkString(",")}")
    assert(n > 0, "entry() must return rows on sf0.001")
    spark.stop()
  }
}
