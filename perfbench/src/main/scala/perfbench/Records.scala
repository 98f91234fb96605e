package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp
import scala.collection.mutable.ArrayBuffer
import graft.model.{Header, RawRecord}

/** SplitMix64 draws. Every generated value is a pure function of
  * (seed, index), so the open-loop feeder, the pre-built backlog and
  * the output checks agree on what record `i` was without storing it. */
object Mix {
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  final class Draw(start: Long) {
    private var s = start
    def next(): Long = { s = mix(s); s }
    def below(n: Long): Long = java.lang.Long.remainderUnsigned(next(), n)
    def unit(): Double = (next() >>> 11) * (1.0 / (1L << 53))
  }

  def draw(seed: Long, stream: Long, i: Long): Draw =
    new Draw(mix(mix(seed) ^ mix(stream)) ^ (i * 0xD6E8FEB86659FD93L))
}

/** What record `i` of a seed carries, before it is put on the wire. */
final case class RecordSpec(key: String, value: Int, traceId: Option[String],
    parentSpan: Option[String], staleB3: Option[String])

/** The Kafka-shaped `numbers` topic: about [[Records.Keys]] distinct
  * keys, uniform int values (about half even), a b3 header on 90 % of
  * records (the rest mint a root trace), and on 3 % a stale b3 header
  * ahead of the real one, so header lookup must be last-wins. */
object Records {
  val Topic = "numbers"
  val Keys = 10000
  val HeaderedPct = 90
  val DupHeaderPct = 3
  /** Kafka CreateTime of record 0; record i is stamped BaseMs + i. */
  val BaseMs = 1700000000000L

  private def digits16(d: Mix.Draw): String = f"${d.below(10000000000000000L)}%016d"

  def spec(seed: Long, i: Long): RecordSpec = {
    val d = Mix.draw(seed, 1, i)
    val key = f"trace-propagation-${d.below(Keys)}%010d"
    val value = d.next().toInt
    val roll = d.below(100)
    val trace = digits16(d); val span = digits16(d)
    val stale = s"${digits16(d)}-${digits16(d)}-1"
    if (roll < HeaderedPct)
      RecordSpec(key, value, Some(trace), Some(span), if (roll < DupHeaderPct) Some(stale) else None)
    else RecordSpec(key, value, None, None, None)
  }

  def beBytes(v: Int): Array[Byte] =
    Array((v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)

  def record(seed: Long, i: Long): RawRecord = {
    val s = spec(seed, i)
    val b3 = for (t <- s.traceId; p <- s.parentSpan) yield Header("b3", s"$t-$p-1".getBytes(UTF_8))
    val headers = s.staleB3.map(h => Header("b3", h.getBytes(UTF_8))).toSeq ++ b3.toSeq
    RawRecord(s.key.getBytes(UTF_8), beBytes(s.value), Topic, 0, i,
      new Timestamp(BaseMs + i), 0, headers)
  }

  def range(seed: Long, from: Long, n: Int): IndexedSeq[RawRecord] =
    (0 until n).map(k => record(seed, from + k))

  /** Byte image of a record, for the determinism check. */
  def bytes(r: RawRecord): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val o = new java.io.DataOutputStream(out)
    def blob(b: Array[Byte]): Unit = { o.writeInt(b.length); o.write(b) }
    blob(r.key); blob(r.value); o.writeUTF(r.topic); o.writeInt(r.partition)
    o.writeLong(r.offset); o.writeLong(r.timestamp.getTime); o.writeInt(r.timestampType)
    o.writeInt(r.headers.size); r.headers.foreach { h => o.writeUTF(h.key); blob(h.value) }
    o.flush(); out.toByteArray
  }
}

/** One `addData` call of the open loop: records [firstSeq, firstSeq+n)
  * entered the source at source offset `offset`; record firstSeq+k was
  * due at firstDueNs + k / rate. */
final case class Chunk(offset: Long, firstSeq: Long, n: Int, firstDueNs: Long)

/** Open-loop, single-thread feeder: record k of the phase is due at
  * t0 + k / rate whatever the pipeline is doing, so a stall delays every
  * later record and shows in their latency. `push` hands records to the
  * source and returns the source offset they landed at. */
final class OpenLoop(seed: Long, firstSeq: Long, rate: Double, total: Int,
    push: Seq[graft.model.RawRecord] => Long) extends Thread("perfbench-generator") {
  setDaemon(true)
  val chunks = ArrayBuffer.empty[Chunk]
  /** How late each push ran: push time minus the due time of its
    * earliest record. */
  val lagsMs = ArrayBuffer.empty[Double]
  @volatile var t0Ns = 0L
  @volatile var failure: Option[Throwable] = None
  private val nsPerRecord = 1e9 / rate

  def dueNs(k: Long): Long = t0Ns + (k * nsPerRecord).toLong

  override def run(): Unit = try {
    t0Ns = System.nanoTime()
    var emitted = 0
    while (emitted < total) {
      val now = System.nanoTime()
      val due = math.min(total.toLong, ((now - t0Ns) / nsPerRecord).toLong + 1).toInt
      if (due > emitted) {
        val recs = Records.range(seed, firstSeq + emitted, due - emitted)
        val pushedAt = System.nanoTime()
        val off = push(recs)
        chunks += Chunk(off, firstSeq + emitted, due - emitted, dueNs(emitted))
        lagsMs += (pushedAt - dueNs(emitted)) / 1e6
        emitted = due
      }
      if (emitted < total) {
        val waitNs = dueNs(emitted) - System.nanoTime()
        if (waitNs > 0) Thread.sleep(math.max(1L, waitNs / 1000000L))
      }
    }
  } catch { case t: Throwable => failure = Some(t) }
}
