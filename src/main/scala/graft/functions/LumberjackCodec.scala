package graft.functions

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Lumberjack v2 (Elastic Beats) batch codec, the kernels of the
  * `lumberjack_decode` / `lumberjack_encode` functions — the
  * batch-decode analogue of the reference's wire decoder
  * (/root/reference/log-ship/src/lumberjack_decoder.rs:33-36,121-148):
  *
  *   frame   = '2' 'W' u32_BE(window) '2' 'C' u32_BE(len) zlib-block[len]
  *   inflate = repeated '2' 'J' u32_BE(seq) u32_BE(len) payload[len]
  *
  * The reference consumes this from a TCP socket (network input, out of
  * scope for a batch engine); here the same codec runs over a BINARY column
  * — frames landed in object storage decode inside WholeStageCodegen, and
  * downstream the payloads get the same JSON-object treatment the reference
  * applies (plugins/lumberjack.rs:92-101). A malformed frame decodes to
  * null (the warn+drop error policy, never an exception).
  *
  * `encode` is the frame builder (the test-harness half — the reference
  * ships only the decoder; encoding lives in the Beats client). Sequence
  * numbers are 1-based in payload order.
  */
object LumberjackCodec {

  private final val Version: Int = '2'
  private final val CodeWindow: Int = 'W'
  private final val CodeCompressed: Int = 'C'
  private final val CodeJson: Int = 'J'

  private def writeU32(out: java.io.ByteArrayOutputStream, v: Int): Unit = {
    out.write((v >>> 24) & 0xff); out.write((v >>> 16) & 0xff)
    out.write((v >>> 8) & 0xff); out.write(v & 0xff)
  }

  private def readU32(b: Array[Byte], off: Int): Long =
    ((b(off) & 0xffL) << 24) | ((b(off + 1) & 0xffL) << 16) |
      ((b(off + 2) & 0xffL) << 8) | (b(off + 3) & 0xffL)

  def encode(payloads: ArrayData): Array[Byte] = {
    val inner = new java.io.ByteArrayOutputStream()
    val n = payloads.numElements()
    var emitted = 0
    var i = 0
    while (i < n) {
      // skip null slots (array<string> may carry containsNull=true):
      // sequence numbers stay contiguous 1..emitted, matching a Beats
      // client that simply has nothing to send for that slot
      if (!payloads.isNullAt(i)) {
        val p = payloads.getUTF8String(i).getBytes
        emitted += 1
        inner.write(Version); inner.write(CodeJson)
        writeU32(inner, emitted); writeU32(inner, p.length)
        inner.write(p, 0, p.length)
      }
      i += 1
    }
    val raw = inner.toByteArray
    // BEST_SPEED: encode exists to synthesize frames for the decode path
    // (the reference only DECODES lumberjack); zlib decoding is
    // level-agnostic, so this only changes encode CPU, not any golden
    val deflater = encoders.get()
    deflater.reset()
    val zipped = new java.io.ByteArrayOutputStream()
    deflater.setInput(raw); deflater.finish()
    val buf = new Array[Byte](4096)
    while (!deflater.finished()) {
      val k = deflater.deflate(buf)
      zipped.write(buf, 0, k)
    }
    val z = zipped.toByteArray
    val out = new java.io.ByteArrayOutputStream(z.length + 12)
    out.write(Version); out.write(CodeWindow); writeU32(out, emitted)
    out.write(Version); out.write(CodeCompressed); writeU32(out, z.length)
    out.write(z, 0, z.length)
    out.toByteArray
  }

  /** Inflated-size ceiling: a frame claiming to decompress beyond this is
    * treated as malformed (zip-bomb guard) rather than OOMing the task.
    */
  private final val MaxInflatedBytes: Int = 256 << 20

  // A zlib context is ~256 KB of native state and deflateInit/inflateInit
  // dominated the per-frame codec cost when allocated per call (the codec
  // runs per ROW). One context per executor thread, reset() per frame;
  // never end()'d — a handful of contexts per JVM is bounded, and a stuck
  // inflater abandoned mid-frame is recovered by the reset on next use.
  private val encoders = ThreadLocal.withInitial[java.util.zip.Deflater](() =>
    new java.util.zip.Deflater(java.util.zip.Deflater.BEST_SPEED))
  private val decoders = ThreadLocal.withInitial[java.util.zip.Inflater](() =>
    new java.util.zip.Inflater())

  /** null on any malformed input (truncated header, bad zlib, truncated
    * event block) — the batch form of warn+drop.
    */
  def decode(frame: Array[Byte]): ArrayData = {
    try {
      if (frame.length < 12 || frame(0) != Version || frame(1) != CodeWindow ||
          frame(6) != Version || frame(7) != CodeCompressed) return null
      val zLen = readU32(frame, 8).toInt
      if (zLen < 0 || 12 + zLen > frame.length) return null
      val inflater = decoders.get()
      inflater.reset()
      val out = new java.io.ByteArrayOutputStream(math.min(zLen * 4, 1 << 20))
      inflater.setInput(frame, 12, zLen)
      val buf = new Array[Byte](4096)
      while (!inflater.finished()) {
        val k = inflater.inflate(buf)
        // bail on ANY stuck non-finished state (truncated stream,
        // FDICT/needsDictionary, or an otherwise wedged inflater) —
        // never spin inside the task on crafted bytes
        if (k == 0 && !inflater.finished()) return null
        out.write(buf, 0, k)
        if (out.size() > MaxInflatedBytes) return null // zip-bomb guard
      }
      val raw = out.toByteArray
      val events = scala.collection.mutable.ArrayBuffer.empty[Any]
      var off = 0
      while (off < raw.length) {
        if (off + 10 > raw.length || raw(off) != Version || raw(off + 1) != CodeJson)
          return null
        val seq = readU32(raw, off + 2).toInt
        val len = readU32(raw, off + 6).toInt
        if (len < 0 || off + 10 + len > raw.length) return null
        events += new GenericInternalRow(Array[Any](
          seq, UTF8String.fromBytes(raw, off + 10, len)))
        off += 10 + len
      }
      new GenericArrayData(events.toArray)
    } catch {
      case _: java.util.zip.DataFormatException => null
    }
  }
}
