package graft

import scala.reflect.runtime.universe.TypeTag
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import graft.functions.MisraGries
import graft.streaming._

/** State encoders compile: `codegen.fallback=false` does not cover
  * encoder projections, which fall back to the interpreter (logging a
  * Janino error) when the generated Java cannot reach the state class.
  * Under `factoryMode=CODEGEN_ONLY` that fallback is off, so a class
  * the generated code cannot see fails here. Every state class a
  * stateful streaming operator stores is listed. */
class StateEncoderSpec extends SparkSpec {

  /** Serializer then deserializer projection of `value`, codegen only. */
  private def roundTrip[T: TypeTag](value: T): T = {
    val key = "spark.sql.codegen.factoryMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "CODEGEN_ONLY")
    try {
      val enc = ExpressionEncoder[T]()
      val row = enc.createSerializer()(value).copy()
      enc.resolveAndBind().createDeserializer()(row)
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Field values with arrays compared by content, not reference. */
  private def fields(p: Product): Seq[Any] =
    p.productIterator.map {
      case a: Array[_] => a.toSeq
      case x           => x
    }.toSeq

  private def assertRoundTrips[T <: Product: TypeTag](value: T): Unit =
    assert(fields(roundTrip(value)) === fields(value), value.getClass.getName)

  test("ValueState classes encode under CODEGEN_ONLY") {
    SparkSession.setActiveSession(spark)
    assertRoundTrips(StreamingAttribution.Views(Array(1L, 2L)))
    assertRoundTrips(StreamingAttribution.Cursor(3L, 4L))
    assertRoundTrips(StreamingBackfill.AnchorState(5L, 6L))
    assertRoundTrips(StreamingCusum.CusumState(1L, -2L, 3L, -4L, 5L))
    assertRoundTrips(StreamingEwma.Hist(Array(7L, 8L, 9L)))
    assertRoundTrips(StreamingEwma.Last(10L, 11L))
    assertRoundTrips(StreamingFunnel.FState(1L, 2L, 3L, 4L, 5L))
    assertRoundTrips(MisraGries.MGSummary(Map("a" -> 2L, "b" -> 1L), 3L))
    assertRoundTrips(StreamingLocf.LocfState(12L, 13L))
    assertRoundTrips(StreamingProfiler.ProfState(4L, 1L, -0.5, 2.5, hasNum = true,
      Array(14L, 15L)))
    assertRoundTrips(StreamingRollingMedian.FrameState(List(1L, 2L), List(30L, 40L)))
    assertRoundTrips(StreamingSessionize.OpenSess(1L, 2L, 3L, 4L, Array("view", "buy"), 5L))
    assertRoundTrips(StreamingSessionize.LastSeen(16L, 17L))
    assertRoundTrips(StreamingStreaks.StreakState(18L, 19L))
    assertRoundTrips(StreamingTopK.Board(2, 3L, Seq("x", "y"), Seq(9L, 8L)))
    assertRoundTrips(StreamingTransitions.LastEvent("view", 20L, 21L))
    assertRoundTrips(StreamingTrend.TrendState(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L))
    // the packer, hot-key and top-k ledger states are bare longs
    assert(roundTrip(22L) === 22L)
  }

  test("GroupState buffers encode under CODEGEN_ONLY") {
    SparkSession.setActiveSession(spark)
    assertRoundTrips(StreamingTraceAssembly.TraceBuf(List("set", "send-odd"), 1L, 2L))
    assertRoundTrips(StreamingCriticalPath.Buf(
      List(StreamingCriticalPath.SpanRec("s1", null, "svc", 5L)), 3L))
    assertRoundTrips(StreamingWindowedPercentiles.Hist(Map(0.5 -> 2L, 1.5 -> 1L)))
    assertRoundTrips(Pipeline.DriftState(4L, Seq(0.25, 0.75)))
  }
}
