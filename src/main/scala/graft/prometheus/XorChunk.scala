package graft.prometheus

import scala.collection.mutable.ArrayBuffer

/** Gorilla/XOR chunk codec in the Prometheus TSDB `chunkenc` wire format
  * (public format; see Prometheus tsdb/chunkenc/xor.go and the Gorilla
  * paper, Pelkonen et al., VLDB 2015). Used for Prometheus remote-read
  * STREAMED_XOR_CHUNKS responses (S13; reference:
  * src/parsing/prometheus/chunk_encoder.rs:19-74 — the raw XOR payload
  * starts with a 2-byte BE sample count and omits the outer
  * length/type/CRC framing).
  *
  * Layout:
  *  - u16 BE sample count
  *  - sample 0: signed varint timestamp (ms) + raw 64-bit float
  *  - sample 1: unsigned varint time delta + XOR-compressed value
  *  - sample n: delta-of-delta with 0/10/110/1110/1111 bit prefixes
  *    (14/17/20/64-bit buckets) + XOR-compressed value with
  *    leading/trailing-bit window reuse
  */
object XorChunk {

  final case class Sample(timestampMs: Long, value: Double)

  // ---- bit stream ----
  private final class BitWriter {
    private val bytes = ArrayBuffer.empty[Byte]
    private var bitPos = 0 // bits used in the last byte (0..7)

    def writeBit(b: Boolean): Unit = {
      if (bitPos == 0) bytes += 0
      if (b) {
        val i = bytes.length - 1
        bytes(i) = (bytes(i) | (1 << (7 - bitPos))).toByte
      }
      bitPos = (bitPos + 1) % 8
    }

    def writeBits(v: Long, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) { writeBit(((v >>> i) & 1L) == 1L); i -= 1 }
    }

    def writeByte(b: Int): Unit = writeBits(b & 0xffL, 8)

    /** unsigned LEB128 */
    def writeUvarint(v: Long): Unit = {
      var x = v
      while (java.lang.Long.compareUnsigned(x, 0x80L) >= 0) {
        writeByte(((x & 0x7f) | 0x80).toInt)
        x = x >>> 7
      }
      writeByte(x.toInt)
    }

    /** signed (zigzag) varint, Go binary.PutVarint */
    def writeVarint(v: Long): Unit =
      writeUvarint((v << 1) ^ (v >> 63))

    def result(): Array[Byte] = bytes.toArray
  }

  private final class BitReader(bytes: Array[Byte], private var pos: Int) {
    private var bitPos = 0

    def readBit(): Boolean = {
      if (pos >= bytes.length)
        throw new IllegalArgumentException(
          "XOR chunk: truncated stream (bit read past end)")
      val b = ((bytes(pos) >> (7 - bitPos)) & 1) == 1
      bitPos += 1
      if (bitPos == 8) { bitPos = 0; pos += 1 }
      b
    }

    def readBits(n: Int): Long = {
      var v = 0L
      var i = 0
      while (i < n) { v = (v << 1) | (if (readBit()) 1L else 0L); i += 1 }
      v
    }

    def readUvarint(): Long = {
      var x = 0L
      var shift = 0
      var b = 0L
      while ({ b = readBits(8); (b & 0x80) != 0 }) {
        if (shift > 63)
          throw new IllegalArgumentException(
            "XOR chunk: malformed varint longer than 10 bytes")
        x |= (b & 0x7f) << shift
        shift += 7
      }
      x | (b << shift)
    }

    def readVarint(): Long = {
      val u = readUvarint()
      (u >>> 1) ^ -(u & 1)
    }
  }

  private def bitRange(x: Long, nbits: Int): Boolean =
    -((1L << (nbits - 1)) - 1) <= x && x <= (1L << (nbits - 1))

  /** Encode samples (must be sorted by timestamp). */
  def encode(samples: Seq[Sample]): Array[Byte] = {
    require(samples.length <= 0xffff, "chunk overflow: max 65535 samples")
    val w = new BitWriter
    w.writeByte((samples.length >> 8) & 0xff)
    w.writeByte(samples.length & 0xff)
    var prevT = 0L
    var prevTDelta = 0L
    var prevV = 0L
    var prevLeading = 0xff
    var prevTrailing = 0
    samples.zipWithIndex.foreach { case (s, i) =>
      val t = s.timestampMs
      val v = java.lang.Double.doubleToLongBits(s.value)
      if (i == 0) {
        w.writeVarint(t)
        w.writeBits(v, 64)
      } else if (i == 1) {
        val tDelta = t - prevT
        require(tDelta >= 0, "samples must be sorted by timestamp")
        w.writeUvarint(tDelta)
        val res = writeXor(w, prevV, v, prevLeading, prevTrailing)
        prevLeading = res._1; prevTrailing = res._2
        prevTDelta = tDelta
      } else {
        val tDelta = t - prevT
        val dod = tDelta - prevTDelta
        if (dod == 0) w.writeBit(false)
        else if (bitRange(dod, 14)) { w.writeBits(0x2, 2); w.writeBits(dod, 14) }
        else if (bitRange(dod, 17)) { w.writeBits(0x6, 3); w.writeBits(dod, 17) }
        else if (bitRange(dod, 20)) { w.writeBits(0xe, 4); w.writeBits(dod, 20) }
        else { w.writeBits(0xf, 4); w.writeBits(dod, 64) }
        val res = writeXor(w, prevV, v, prevLeading, prevTrailing)
        prevLeading = res._1; prevTrailing = res._2
        prevTDelta = tDelta
      }
      prevT = t
      prevV = v
    }
    w.result()
  }

  /** returns (newLeading, newTrailing) */
  private def writeXor(
      w: BitWriter, prevV: Long, v: Long,
      prevLeading: Int, prevTrailing: Int): (Int, Int) = {
    val xor = prevV ^ v
    if (xor == 0) { w.writeBit(false); (prevLeading, prevTrailing) }
    else {
      w.writeBit(true)
      var leading = java.lang.Long.numberOfLeadingZeros(xor)
      val trailing = java.lang.Long.numberOfTrailingZeros(xor)
      if (leading >= 32) leading = 31
      if (prevLeading != 0xff && leading >= prevLeading && trailing >= prevTrailing) {
        w.writeBit(false)
        w.writeBits(xor >>> prevTrailing, 64 - prevLeading - prevTrailing)
        (prevLeading, prevTrailing)
      } else {
        w.writeBit(true)
        w.writeBits(leading.toLong, 5)
        val sigbits = 64 - leading - trailing
        // sigbits == 64 encodes as 0 (decoder maps 0 back to 64)
        w.writeBits(sigbits.toLong & 0x3f, 6)
        w.writeBits(xor >>> trailing, sigbits)
        (leading, trailing)
      }
    }
  }

  def decode(bytes: Array[Byte]): Seq[Sample] = {
    require(bytes.length >= 2,
      s"XOR chunk: ${bytes.length}-byte payload has no sample-count header")
    val count = ((bytes(0) & 0xff) << 8) | (bytes(1) & 0xff)
    val r = new BitReader(bytes, 2)
    val out = new ArrayBuffer[Sample](count)
    var t = 0L
    var tDelta = 0L
    var v = 0L
    var leading = 0
    var trailing = 0
    var i = 0
    while (i < count) {
      if (i == 0) {
        t = r.readVarint()
        v = r.readBits(64)
      } else if (i == 1) {
        tDelta = r.readUvarint()
        t += tDelta
        val res = readXor(r, v, leading, trailing)
        v = res._1; leading = res._2; trailing = res._3
      } else {
        var dod = 0L
        if (!r.readBit()) dod = 0
        else if (!r.readBit()) dod = bucketValue(r.readBits(14), 14)
        else if (!r.readBit()) dod = bucketValue(r.readBits(17), 17)
        else if (!r.readBit()) dod = bucketValue(r.readBits(20), 20)
        else dod = r.readBits(64)
        tDelta += dod
        t += tDelta
        val res = readXor(r, v, leading, trailing)
        v = res._1; leading = res._2; trailing = res._3
      }
      out += Sample(t, java.lang.Double.longBitsToDouble(v))
      i += 1
    }
    out.toSeq
  }

  /** The delta-of-delta an `nbits` bucket holds. The buckets are
    * asymmetric — [[bitRange]] admits -(2^(n-1) - 1) .. +2^(n-1) — so the
    * raw pattern of +2^(n-1) decodes as itself, not as its two's
    * complement -2^(n-1) (prometheus tsdb chunkenc/xor.go:
    * `if bits > 1<<(sz-1) { bits -= 1<<sz }`).
    */
  private def bucketValue(bits: Long, nbits: Int): Long =
    if (bits > (1L << (nbits - 1))) bits - (1L << nbits) else bits

  /** returns (value, leading, trailing) */
  private def readXor(
      r: BitReader, prevV: Long, leading: Int, trailing: Int): (Long, Int, Int) = {
    if (!r.readBit()) (prevV, leading, trailing)
    else if (!r.readBit()) {
      val sigbits = 64 - leading - trailing
      val bits = r.readBits(sigbits)
      (prevV ^ (bits << trailing), leading, trailing)
    } else {
      val newLeading = r.readBits(5).toInt
      var mbits = r.readBits(6).toInt
      if (mbits == 0) mbits = 64
      val newTrailing = 64 - newLeading - mbits
      // encode always satisfies leading + sigbits + trailing == 64; a
      // stream where they exceed 64 is corrupt, not just imprecise
      require(newTrailing >= 0,
        s"XOR chunk: leading $newLeading + significant $mbits bits exceed 64")
      val bits = r.readBits(mbits)
      (prevV ^ (bits << newTrailing), newLeading, newTrailing)
    }
  }
}
