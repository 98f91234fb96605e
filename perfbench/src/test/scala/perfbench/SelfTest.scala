package perfbench

import java.security.MessageDigest
import org.apache.spark.sql.SparkSession

/** Tests of the benchmark's own pieces: the generator, the statistics
  * and the output checks. Run with `python3 perfbench/run.py --selftest`. */
object SelfTest {
  private var failures = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"ok   $name") }
    catch { case e: Throwable => failures += 1; println(s"FAIL $name: $e") }

  private def sha(recs: Seq[graft.model.RawRecord]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    recs.foreach(r => md.update(Records.bytes(r)))
    md.digest().map("%02x".format(_)).mkString
  }

  def main(args: Array[String]): Unit = {
    test("the same seed gives byte-identical records") {
      assert(sha(Records.range(7, 0, 5000)) == sha(Records.range(7, 0, 5000)))
      assert(sha(Records.range(7, 0, 5000)) != sha(Records.range(8, 0, 5000)))
    }
    test("record i does not depend on where generation started") {
      assert(sha(Records.range(7, 1000, 500).drop(234).take(1)) == sha(Seq(Records.record(7, 1234))))
    }
    test("records have the documented shape") {
      val specs = (0L until 20000L).map(Records.spec(3, _))
      def share(f: RecordSpec => Boolean) = specs.count(f).toDouble / specs.size
      assert(math.abs(share(_.traceId.isDefined) - 0.90) < 0.01, share(_.traceId.isDefined))
      assert(math.abs(share(_.staleB3.isDefined) - 0.03) < 0.005, share(_.staleB3.isDefined))
      assert(math.abs(share(_.value % 2 == 0) - 0.5) < 0.02)
      assert(specs.map(_.key).distinct.size > 8000)
      val dup = Records.record(3, specs.indexWhere(_.staleB3.isDefined).toLong)
      assert(dup.headers.map(_.key) == Seq("b3", "b3"))
    }
    test("a percentile is reported with its sample count") {
      val p = Stats.pct((1 to 100).map(_.toDouble), 90)
      assert(p.n == 100 && math.abs(p.value - 90.1) < 1e-9, p)
      val empty = Stats.pct(Nil, 50)
      assert(empty.n == 0 && empty.value.isNaN)
    }
    test("covered time counts overlapping intervals once") {
      assert(Stats.covered(Seq((0.0, 10.0), (5.0, 12.0), (20.0, 21.0), (3.0, 3.0))) == 13.0)
    }
    test("a planted row-count or digest mismatch is a failed operation") {
      val ref = Map("q_a" -> Digest(10, "123"), "q_b" -> Digest(5, "77"), "q_c" -> Digest(1, "1"))
      val got: Map[String, Either[String, Digest]] = Map(
        "q_a" -> Right(Digest(10, "123")), "q_b" -> Right(Digest(6, "77")),
        "q_c" -> Right(Digest(1, "2")), "q_d" -> Right(Digest(1, "1")),
        "q_e" -> Left("boom"))
      val bad = References.mismatches(ref, got)
      assert(bad.map(_.takeWhile(_ != ':')) == Seq("q_b", "q_c", "q_d", "q_e"), bad)
      assert(References.mismatches(ref, ref.map { case (k, v) => k -> Right(v) }).isEmpty)
      assert(Json.result(bad.isEmpty, 5, bad.size, new Metrics).startsWith(
        """{"correct": false, "attempted": 5, "failed": 4"""))
    }
    val spark = SparkSession.builder().master("local[2]").appName("perfbench-selftest")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    test("the digest ignores row order and sees a changed row") {
      import spark.implicits._
      val a = Seq((1L, 0.1 + 0.2, Seq(1.0f, 2.0f)), (2L, 3.0, Seq(0.5f))).toDF("id", "x", "v")
      val b = Seq((2L, 3.0, Seq(0.5f)), (1L, 0.3, Seq(1.0f, 2.0f))).toDF("id", "x", "v")
      val c = Seq((2L, 3.0, Seq(0.5f)), (1L, 0.3, Seq(1.0f, 2.5f))).toDF("id", "x", "v")
      assert(Digest.of(a) == Digest.of(b.repartition(2)))
      assert(Digest.of(a) != Digest.of(c))
      assert(Digest.of(a.union(a)).rows == 4)
    }
    spark.stop()
    if (failures > 0) { println(s"$failures test(s) failed"); sys.exit(1) }
    println("all tests passed")
    sys.exit(0)
  }
}
