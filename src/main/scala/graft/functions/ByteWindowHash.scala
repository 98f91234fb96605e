package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, LongType}

/** Sliding byte-window content hashes for binary payloads — the
  * fingerprint substrate of m_media_neardup, fused into ONE native
  * expression. The composed form it replaces
  * (`hex(payload)` → `explode(sequence(0, n-4))` → `substr(h, 2i+1, 8)`
  * → `portableHash`) materializes the full hex rendering per row and
  * then re-allocates an 8-char string plus an md5-hex→decimal `conv`
  * round trip per POSITION — for a b-byte payload that is O(b) string
  * allocations of the scan's dominant cost. This expression walks the
  * payload once, renders each `width`-byte window's uppercase hex into
  * one reused 2·width ASCII buffer, and reads the leading 56 bits of
  * its md5 digest directly — bit-for-bit equal to
  * [[graft.codec.Codecs.portableHash]] over `hex(payload).substr(2i+1,
  * 2·width)` (ByteWindowHashSpec pins the equality), so the DuckDB
  * oracle's hex-based recomputation is unchanged.
  *
  * Returns ARRAY<BIGINT> with one hash per window start
  * (`length - width + 1` entries; empty when the payload is shorter
  * than `width`); null payload → null. Callers explode the array —
  * the per-position rows carry longs, never strings. */
case class ByteWindowHash(child: Expression, width: Int) extends UnaryExpression {
  require(width > 0, s"byte_window_hash needs a positive width, got $width")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"byte_window_hash needs BINARY, got $t")
  }

  override protected def nullSafeEval(input: Any): Any =
    ByteWindowHash.hashWindows(input.asInstanceOf[Array[Byte]], width)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.ByteWindowHash.hashWindows($c, $width)")

  override protected def withNewChildInternal(newChild: Expression): ByteWindowHash =
    copy(child = newChild)
}

object ByteWindowHash {
  /** Width of every window hash: the leading 56 bits of the md5
    * digest. A SimHash voted from these hashes has bits 56-63 zero on
    * every row, so its band joins band only the low `HashBits` bits
    * (m_media_neardup). */
  final val HashBits = 56

  private val HEX = "0123456789ABCDEF".getBytes("US-ASCII")
  // one digest instance per task thread — getInstance per row would
  // dominate the loop it exists to remove
  private val md5 = ThreadLocal.withInitial[java.security.MessageDigest](() =>
    java.security.MessageDigest.getInstance("MD5"))

  /** One pass over `payload`: md5 of each window's uppercase-hex ASCII
    * rendering, truncated to the leading 14 hex chars (56 bits) as a
    * non-negative long — the [[graft.codec.Codecs.portableHash]]
    * contract, computed without the corpus-wide hex string. */
  def hashWindows(payload: Array[Byte], width: Int): ArrayData = {
    val n = payload.length - width + 1
    if (n <= 0) return new GenericArrayData(Array.emptyLongArray)
    val md = md5.get()
    val buf = new Array[Byte](width * 2)
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      var j = 0
      while (j < width) {
        val b = payload(i + j) & 0xff
        buf(2 * j) = HEX(b >>> 4)
        buf(2 * j + 1) = HEX(b & 0xf)
        j += 1
      }
      md.reset()
      val d = md.digest(buf)
      var v = 0L
      var k = 0
      while (k < HashBits / 8) { v = (v << 8) | (d(k) & 0xffL); k += 1 }
      out(i) = v
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Column-level API. */
  def byteWindowHash(payload: Column, width: Int): Column =
    Bridge.column(ByteWindowHash(Bridge.expression(payload), width))
}
