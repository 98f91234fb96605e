package graft

import scala.reflect.runtime.universe.TypeTag
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import graft.streaming.{StreamingCircuitBreaker, StreamingDebounce, StreamingRateGate}

/** State encoders compile: `codegen.fallback=false` does not cover
  * encoder projections, which fall back to the interpreter (logging a
  * Janino error) when the generated Java cannot reach the state class.
  * Under `factoryMode=CODEGEN_ONLY` that fallback is off, so a class
  * the generated code cannot see fails here. */
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

  test("state classes of debounce, rate gate and circuit breaker encode under CODEGEN_ONLY") {
    SparkSession.setActiveSession(spark)
    assert(roundTrip(StreamingDebounce.Clock(1L, 2L)) == StreamingDebounce.Clock(1L, 2L))
    assert(roundTrip(StreamingRateGate.Bucket(3L, 4L)) == StreamingRateGate.Bucket(3L, 4L))
    assert(roundTrip(StreamingCircuitBreaker.Machine(1, 5L, 6L)) ==
      StreamingCircuitBreaker.Machine(1, 5L, 6L))
  }
}
