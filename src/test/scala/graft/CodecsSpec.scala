package graft

import org.apache.spark.sql.functions._
import graft.codec.Codecs
import graft.codec.BigEndianInt32.{beInt, beIntEncode}

class CodecsSpec extends SparkSpec {
  import spark.implicits._

  test("portableHash matches the documented md5-prefix construction") {
    // md5('hello') = 5d41402abc4b2a76b9719d911017c592; first 14 hex = 5d41402abc4b2a
    val got = Seq("hello").toDF("s")
      .select(Codecs.portableHash(col("s"))).as[Long].head()
    assert(got === java.lang.Long.parseLong("5d41402abc4b2a", 16))
  }

  test("b3 render/parse round-trips and sampled flag is decoded") {
    val df = Seq(("aaaaaaaaaaaaaaaa", "bbbbbbbbbbbbbbbb")).toDF("t", "s")
      .withColumn("b3", Codecs.b3Render(col("t"), col("s"), lit(true)))
    val row = df.select(
      Codecs.b3TraceId(col("b3")), Codecs.b3SpanId(col("b3")), Codecs.b3Sampled(col("b3")))
      .as[(String, String, Boolean)].head()
    assert(row === (("aaaaaaaaaaaaaaaa", "bbbbbbbbbbbbbbbb", true)))
  }

  test("mintSpanId is deterministic and differs per operator hop") {
    val df = Seq("t0").toDF("trace")
    val Seq(a, b, a2) = df.select(
      Codecs.mintSpanId(col("trace"), lit("set")),
      Codecs.mintSpanId(col("trace"), lit("send")),
      Codecs.mintSpanId(col("trace"), lit("set"))).as[(String, String, String)]
      .head() match { case (x, y, z) => Seq(x, y, z) }
    assert(a === a2); assert(a !== b); assert(a.length === 16)
  }

  test("headerLast is last-wins over duplicate keys; null when missing") {
    val df = spark.sql(
      """SELECT array(named_struct('key','b3','value',cast('old' as binary)),
        |             named_struct('key','x','value',cast('y' as binary)),
        |             named_struct('key','b3','value',cast('new' as binary))) AS headers""".stripMargin)
    val got = df.select(
      Codecs.headerLast(col("headers"), "b3").cast("string"),
      Codecs.headerLast(col("headers"), "nope").cast("string"))
      .as[(String, Option[String])].head()
    assert(got === (("new", None)))
  }

  test("headerSet replaces in place and preserves other headers") {
    val df = spark.sql(
      """SELECT array(named_struct('key','b3','value',cast('old' as binary)),
        |             named_struct('key','keep','value',cast('k' as binary))) AS headers""".stripMargin)
    val out = df.select(
      Codecs.headerLast(Codecs.headerSet(col("headers"), "b3" -> lit("new").cast("binary")), "b3")
        .cast("string"),
      Codecs.headerLast(Codecs.headerSet(col("headers"), "b3" -> lit("new").cast("binary")), "keep")
        .cast("string")).as[(String, String)].head()
    assert(out === (("new", "k")))
  }

  test("multi-pair headerSet equals the nested single-pair form, other keys in order") {
    val cases: Seq[(Option[Seq[(String, String)]], String)] = Seq(
      (Some(Seq("x" -> "1", "b3" -> "old1", "y" -> "2", "b3" -> "old2", "z" -> "3")), "m1"),
      (Some(Seq("messageid" -> "stale", "x" -> "1")), "m2"),
      (Some(Seq((null, "n"), "x" -> "1")), "m3"),
      (None, "m4"))
    val df = cases.toDF("h0", "m").select(
      transform(col("h0"), h =>
        struct(h.getField("_1").as("key"), h.getField("_2").cast("binary").as("value"))).as("headers"),
      col("m").cast("binary").as("mid"))
    val b3 = lit("new").cast("binary")
    val multi = Codecs.headerSet(col("headers"), "b3" -> b3, "messageid" -> col("mid"))
    val nested = Codecs.headerSet(Codecs.headerSet(col("headers"), "b3" -> b3), "messageid" -> col("mid"))
    assert(df.filter(!(multi <=> nested)).count() === 0L)
    val got = df.select(transform(multi, h => concat(h.getField("key"), lit("="),
      h.getField("value").cast("string")))).as[Option[Seq[String]]].collect().toSeq
    assert(got === Seq(
      Some(Seq("x=1", "y=2", "z=3", "b3=new", "messageid=m1")),
      Some(Seq("x=1", "b3=new", "messageid=m2")),
      Some(Seq("x=1", "b3=new", "messageid=m3")),
      None))
  }

  test("BigEndianInt32 decodes the Kafka wire format, including negatives") {
    val rows = Seq(
      Array[Byte](0, 0, 0, 42) -> 42,
      Array[Byte](-1, -1, -1, -1) -> -1,
      Array[Byte](0x7f, -1, -1, -1) -> Int.MaxValue,
      Array[Byte](-128, 0, 0, 0) -> Int.MinValue)
    val got = rows.map(_._1).toDF("b").select(beInt(col("b"))).as[Int].collect().toSeq
    assert(got === rows.map(_._2))
  }

  test("BigEndianInt32 yields null on malformed payloads") {
    val got = Seq(Array[Byte](1, 2), Array[Byte]()).toDF("b")
      .select(beInt(col("b"))).as[Option[Int]].collect().toSeq
    assert(got === Seq(None, None))
  }

  test("beIntEncode round-trips through beInt") {
    val got = Seq(0, 1, -1, 256, Int.MaxValue, Int.MinValue).toDF("i")
      .select(beInt(beIntEncode(col("i")))).as[Int].collect().toSeq
    assert(got === Seq(0, 1, -1, 256, Int.MaxValue, Int.MinValue))
  }

  test("shingles are 1-based n-grams; short docs yield empty") {
    val got = Seq("a b c d", "a b").toDF("t")
      .select(Codecs.shingles(Codecs.tokens(col("t")), 3)).as[Seq[String]].collect().toSeq
    assert(got === Seq(Seq("a b c", "b c d"), Seq()))
  }
}
