package graft

import org.apache.spark.sql.SparkSession

/** The one place a local SparkSession is built. Bench, BenchSubset,
  * Verify, Explain, EntrySmoke, PipelineDemo and the test suites all
  * run under this conf, so the registry is checked under the same
  * file splits and partition counts it is timed under. A caller adds
  * only chained `.config`/`.master`/`.appName` calls through `tune`. */
object GraftSession {

  /** Local cores: `SPARK_GRAFT_CPUS`, else every available processor. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS")
    .flatMap(v => scala.util.Try(v.trim.toInt).toOption)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def build(tune: SparkSession.Builder => SparkSession.Builder = identity): SparkSession = {
    val spark = tune(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // fixtures are one small file per table — split them so scans use
      // every core, as a many-file cluster layout would
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.files.openCostInBytes", "1m")
      // single-row-group fixture files can't be split by the file confs;
      // let the CPU-bound dedup builds take one explicit spread shuffle
      .config("spark.graft.spreadSmallInputs", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // Spark 4's per-session artifact isolation attaches a spark://
      // class-fetch URI to every SQLExecution-threadpool job (broadcast
      // builds, subqueries) even when NO artifact was ever added; the
      // executor then resolves every codegen class-lookup MISS — janino
      // probes dozens per generated class — through a netty file-server
      // round trip. One driver, one session, no artifacts: disable it.
      // Measured (OPTIMIZATION_r14.md): thread dumps of a degraded run
      // showed 31/32 task threads parked on the codegen KeyLock behind
      // one thread inside ExecutorClassLoader→NettyRpcEnv reads.
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    quietKnownWarns()
    spark
  }

  /** Drop two known-benign WARN emitters to ERROR so the driver's
    * ~2000-char stdout/stderr tail carries query output, not spam:
    * WindowExecBase's "No Partition Defined" fires for the two
    * deliberately-bounded unpartitioned windows (inputs are tiny
    * aggregates, documented at their call sites), and
    * ResolveWriteToStream warns per test streaming query about
    * temporary checkpoints. Package-level for the window one — the
    * Logging trait names loggers by runtime class, so subclasses
    * would slip a class-level filter. */
  private def quietKnownWarns(): Unit = {
    import org.apache.logging.log4j.Level
    import org.apache.logging.log4j.core.config.Configurator
    Seq(
      "org.apache.spark.sql.execution.window",
      "org.apache.spark.sql.execution.streaming.runtime.ResolveWriteToStream",
      "org.apache.spark.sql.execution.streaming.ResolveWriteToStream"
    ).foreach(Configurator.setLevel(_, Level.ERROR))
  }
}
