package perfbench

import java.io.File
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

/** One workload's settings from `workloads.json`. */
final class Params(name: String, j: JValue) {
  private def field(k: String): JValue = j \ k match {
    case JNothing => sys.error(s"workloads.json: $name.$k is missing")
    case v => v
  }
  def num(k: String): Double = field(k) match {
    case JInt(v) => v.toDouble
    case JDouble(v) => v
    case JLong(v) => v.toDouble
    case v => sys.error(s"workloads.json: $name.$k is not a number: $v")
  }
  def int(k: String): Int = num(k).toInt
  def str(k: String): String = field(k) match {
    case JString(s) => s
    case v => sys.error(s"workloads.json: $name.$k is not a string: $v")
  }
}

final case class Cfg(workload: String, seed: Long, seconds: Int, trace: Boolean,
    params: Params, refs: File, work: File, out: File, metrics: Seq[String], recordRefs: Boolean)

/** What a workload run reports: every metric it measured and the
  * operations it attempted and failed. */
final case class Outcome(metrics: Metrics, attempted: Long, failed: Long)

object Session {
  /** One local SparkSession, configured as the repo's bench configures
    * its own; every file Spark writes stays under `work`. */
  def create(slots: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$slots]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", slots.toString)
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .config("spark.graft.spreadSmallInputs", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Bytes held by persisted and cached frames. */
  def cachedBytes(s: SparkSession): Long =
    s.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  def cachedBlocks(s: SparkSession): Long =
    s.sparkContext.getRDDStorageInfo.map(_.numCachedPartitions.toLong).sum

  def cores: Int = Runtime.getRuntime.availableProcessors()
}

object Main {
  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg")
    System.err.println("usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1 " +
      "--config workloads.json --refs references.json --work DIR --out DIR --metrics a,b,.. " +
      "[--record-refs]")
    sys.exit(2)
  }

  def parse(args: Array[String]): Cfg = {
    val flags = Set("--record-refs")
    def go(rest: List[String], acc: Map[String, String]): Map[String, String] = rest match {
      case Nil => acc
      case f :: tail if flags(f) => go(tail, acc + (f -> "1"))
      case k :: v :: tail if k.startsWith("--") => go(tail, acc + (k -> v))
      case other => usage(s"bad arguments: ${other.mkString(" ")}")
    }
    val a = go(args.toList, Map.empty)
    def need(k: String) = a.getOrElse(k, usage(s"missing $k"))
    val workload = need("--workload")
    val config = JsonMethods.parse(new String(
      java.nio.file.Files.readAllBytes(new File(need("--config")).toPath), "UTF-8"))
    val w = config \ "workloads" \ workload
    if (w == JNothing) usage(s"unknown workload $workload")
    val trace = need("--trace") match {
      case "0" => false
      case "1" => true
      case t => usage(s"--trace must be 0 or 1, not $t")
    }
    val seconds = need("--seconds").toInt
    if (seconds < 1) usage("--seconds must be at least 1")
    Cfg(workload, need("--seed").toLong, seconds, trace, new Params(workload, w),
      new File(need("--refs")), new File(need("--work")), new File(need("--out")),
      need("--metrics").split(',').toSeq.filter(_.nonEmpty), a.contains("--record-refs"))
  }

  def main(args: Array[String]): Unit = {
    val cfg = parse(args)
    val kind = cfg.params.str("kind")
    val o = kind match {
      case "stream" => StreamBench.run(cfg)
      case "batch" => BatchBench.run(cfg)
      case k => usage(s"unknown workload kind $k")
    }
    o.metrics.items.foreach { case (k, v, u) => println(f"metric $k%-36s ${Json.num(v)} $u") }
    val ratio = if (o.attempted > 0) o.failed.toDouble / o.attempted else 1.0
    println(s"metric failed_ratio ${Json.num(ratio)} ratio (${o.failed} of ${o.attempted})")
    val keys = cfg.metrics
    val missing = keys.filterNot(o.metrics.contains)
    if (missing.nonEmpty) {
      System.err.println(s"perfbench: metrics not measured: ${missing.mkString(", ")}")
      sys.exit(1)
    }
    println(Json.result(o.failed == 0, o.attempted, o.failed, o.metrics.select(keys)))
    System.out.flush()
    sys.exit(0)
  }
}
