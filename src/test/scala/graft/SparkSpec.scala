package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session: one local SparkSession per suite (lazy, reused),
  * under the Bench conf ([[GraftSession]]). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.build(_
    .master("local[4]")
    .appName("graft-test")
    // surface doGenCode bugs instead of silently interpreting
    .config("spark.sql.codegen.fallback", "false"))
}
