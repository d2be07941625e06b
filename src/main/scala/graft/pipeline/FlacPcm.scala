package graft.pipeline

import java.security.MessageDigest

/** FLAC codec — the last compressed-audio format implementable
  * deterministically in pure JVM (lossless and fully specified by
  * RFC 9639 / the xiph FLAC format document): fixed + LPC linear
  * prediction over PCM with Rice-coded residuals in CRC-guarded
  * frames. Real crawl/speech corpora (LibriSpeech et al.) arrive as
  * FLAC, so with this the audio lane decodes PCM WAV/AIFF/AU, IMA
  * ADPCM ([[ImaAdpcm]]) and FLAC natively; only perceptual formats
  * (MP3/AAC/Vorbis) remain behind the codec SPI seam.
  *
  * Same discipline as [[ImaAdpcm]]: everything here is from the
  * PUBLISHED specification —
  *
  *  - stream layout: `fLaC` marker, STREAMINFO metadata block
  *    (min/max block+frame size, rate/channels/bps/total, MD5 of the
  *    unencoded little-endian PCM), other metadata blocks skipped;
  *  - frame header: 14-bit sync, blocking strategy, coded block-size /
  *    sample-rate / channel-assignment / sample-size fields, the
  *    extended-UTF-8 coded frame number, CRC-8;
  *  - subframes: CONSTANT, VERBATIM, FIXED orders 0–4 (the published
  *    binomial predictors), LPC up to order 32 (quantized coefficients
  *    + arithmetic right shift), wasted-bits unary prefix;
  *  - residuals: partitioned Rice, both 4-bit (method 0, escape 15)
  *    and 5-bit (method 1, escape 31) parameter variants, zigzag
  *    sample mapping, raw-bits escape partitions;
  *  - stereo decorrelation: left/side, right/side, mid/side (side
  *    subframe carries one extra bit per sample);
  *  - frame CRC-16, and stream MD5 verification on decode.
  *
  * The ENCODER emits a clean subset every conforming decoder reads
  * (16-bit streams, fixed block size, mono or independent channels,
  * constant/fixed/LPC subframes chosen by estimated cost, single Rice
  * partition) — bit-deterministic, so encoded payloads are stable
  * dedup keys. The DECODER reads the general format above. Decode is
  * O(bytes); every length/CRC is checked loudly (corrupt payloads must
  * fail, not spin or mis-decode — the [[MjpegAvi]] walker lesson).
  *
  * Reference behavior anchor: the reference engine stores opaque blobs
  * and never decodes audio (storage.rs blob lane); this lane is part
  * of the beyond-reference multimodal surface SURVEY §2.11 tracks.
  */
object FlacPcm {

  // ------------------------------------------------------------- CRCs

  private val Crc8Table: Array[Int] = Array.tabulate(256) { i =>
    var c = i
    var k = 0
    while (k < 8) {
      c = if ((c & 0x80) != 0) ((c << 1) ^ 0x07) & 0xff else (c << 1) & 0xff
      k += 1
    }
    c
  }

  private val Crc16Table: Array[Int] = Array.tabulate(256) { i =>
    var c = i << 8
    var k = 0
    while (k < 8) {
      c = if ((c & 0x8000) != 0) ((c << 1) ^ 0x8005) & 0xffff
          else (c << 1) & 0xffff
      k += 1
    }
    c
  }

  private[pipeline] def crc8(b: Array[Byte], from: Int, until: Int): Int = {
    var c = 0
    var i = from
    while (i < until) { c = Crc8Table((c ^ b(i)) & 0xff); i += 1 }
    c
  }

  private[pipeline] def crc16(b: Array[Byte], from: Int, until: Int): Int = {
    var c = 0
    var i = from
    while (i < until) {
      c = ((c << 8) & 0xffff) ^ Crc16Table(((c >> 8) ^ b(i)) & 0xff)
      i += 1
    }
    c
  }

  // ------------------------------------------------------ bit plumbing

  /** MSB-first bit packer (FLAC is big-endian at the bit level). */
  private[pipeline] final class BitWriter {
    private val buf = new java.io.ByteArrayOutputStream()
    private var acc = 0L
    private var nacc = 0
    def writeBits(v: Long, n: Int): Unit = {
      require(n >= 0 && n <= 56, s"writeBits width $n")
      if (n == 0) return
      acc = (acc << n) | (v & ((1L << n) - 1))
      nacc += n
      while (nacc >= 8) {
        buf.write(((acc >>> (nacc - 8)) & 0xff).toInt)
        nacc -= 8
      }
    }
    /** q zero bits then a terminating one bit (FLAC unary). */
    def writeUnary(q: Long): Unit = {
      var r = q
      while (r >= 32) { writeBits(0L, 32); r -= 32 }
      writeBits(1L, r.toInt + 1)
    }
    def alignToByte(): Unit = if (nacc > 0) writeBits(0L, 8 - nacc)
    def toByteArray: Array[Byte] = { require(nacc == 0); buf.toByteArray }
  }

  /** MSB-first bit reader; throws on overrun (truncated stream). */
  private[pipeline] final class BitReader(bytes: Array[Byte], startByte: Int) {
    var pos: Int = startByte // byte position
    private var bit = 0 // bits consumed of bytes(pos)
    def readBits(n: Int): Long = {
      var v = 0L
      var r = n
      while (r > 0) {
        if (pos >= bytes.length)
          throw new IllegalArgumentException("FLAC: truncated stream")
        val avail = 8 - bit
        val take = math.min(avail, r)
        val cur = bytes(pos) & 0xff
        v = (v << take) | ((cur >> (avail - take)) & ((1 << take) - 1))
        bit += take
        if (bit == 8) { bit = 0; pos += 1 }
        r -= take
      }
      v
    }
    def readSigned(n: Int): Long =
      if (n == 0) 0L else (readBits(n) << (64 - n)) >> (64 - n)
    def readUnary(): Long = {
      var q = 0L
      while (readBits(1) == 0L) q += 1
      q
    }
    def alignToByte(): Unit = if (bit != 0) { bit = 0; pos += 1 }
    def atByteBoundary: Boolean = bit == 0
  }

  // ----------------------------------------------- extended UTF-8 number

  private[pipeline] def writeUtf8Number(bw: BitWriter, v: Long): Unit = {
    require(v >= 0 && v < (1L << 36), s"coded number out of range: $v")
    if (v < 0x80) bw.writeBits(v, 8)
    else {
      // count payload bytes needed: each continuation carries 6 bits,
      // the lead byte carries (6 - k) bits for k continuation bytes
      var k = 1
      while (k < 6 && (v >> (6 * k)) >= (1L << (6 - k))) k += 1
      val lead = ((0xff << (7 - k)) & 0xff) | (v >> (6 * k)).toInt
      bw.writeBits(lead.toLong, 8)
      var j = k - 1
      while (j >= 0) {
        bw.writeBits(0x80L | ((v >> (6 * j)) & 0x3f), 8)
        j -= 1
      }
    }
  }

  private[pipeline] def readUtf8Number(br: BitReader): Long = {
    val b0 = br.readBits(8).toInt
    if ((b0 & 0x80) == 0) return b0.toLong
    var k = 0
    var mask = 0x40
    while (mask != 0 && (b0 & mask) != 0) { k += 1; mask >>= 1 }
    if (k < 1 || k > 6)
      throw new IllegalArgumentException(
        f"FLAC: invalid coded-number lead byte 0x$b0%02x")
    var v = (b0 & (0x3f >> k)).toLong
    var j = 0
    while (j < k) {
      val c = br.readBits(8).toInt
      if ((c & 0xc0) != 0x80)
        throw new IllegalArgumentException(
          "FLAC: malformed coded-number continuation byte")
      v = (v << 6) | (c & 0x3f)
      j += 1
    }
    v
  }

  // ------------------------------------------------------ fixed predictors

  /** Published binomial fixed-predictor residual, orders 0–4. */
  private def fixedResidual(
      x: Array[Int], off: Int, n: Int, order: Int): Array[Long] = {
    val r = new Array[Long](n - order)
    var i = order
    while (i < n) {
      val v = order match {
        case 0 => x(off + i).toLong
        case 1 => x(off + i).toLong - x(off + i - 1)
        case 2 => x(off + i).toLong - 2L * x(off + i - 1) + x(off + i - 2)
        case 3 => x(off + i).toLong - 3L * x(off + i - 1) +
          3L * x(off + i - 2) - x(off + i - 3)
        case _ => x(off + i).toLong - 4L * x(off + i - 1) +
          6L * x(off + i - 2) - 4L * x(off + i - 3) + x(off + i - 4)
      }
      r(i - order) = v
      i += 1
    }
    r
  }

  // --------------------------------------------------------- rice helpers

  private def zigzag(v: Long): Long = (v << 1) ^ (v >> 63)
  private def unzigzag(u: Long): Long = (u >>> 1) ^ -(u & 1L)

  /** Best single-partition 4-bit Rice parameter and its total bit cost
    * (unary quotient + terminator + param low bits per sample).
    */
  private def bestRice(res: Array[Long]): (Int, Long) = {
    var bestP = 0
    var bestBits = Long.MaxValue
    var p = 0
    while (p <= 14) {
      var bits = 0L
      var i = 0
      while (i < res.length) {
        bits += (zigzag(res(i)) >>> p) + 1 + p
        i += 1
      }
      if (bits < bestBits) { bestBits = bits; bestP = p }
      p += 1
    }
    (bestP, bestBits)
  }

  private def writeRiceResidual(
      bw: BitWriter, res: Array[Long], param: Int): Unit = {
    // method 00 (4-bit params), partition order 0, one partition
    bw.writeBits(0L, 2)
    bw.writeBits(0L, 4)
    bw.writeBits(param.toLong, 4)
    var i = 0
    while (i < res.length) {
      val u = zigzag(res(i))
      bw.writeUnary(u >>> param)
      bw.writeBits(u, param)
      i += 1
    }
  }

  // ------------------------------------------------------------ LPC model

  /** Levinson–Durbin + error-feedback quantization (both published
    * algorithms). Lossless-ness never depends on coefficient QUALITY —
    * the residual is exact for any coefficients — so this models for
    * compression and exercises the LPC subframe path.
    * Returns (quantized coefs, shift, precision) or None when the
    * signal has no usable autocorrelation.
    */
  private def quantizedLpc(
      x: Array[Int], off: Int, n: Int, order: Int,
      precision: Int = 12): Option[(Array[Int], Int, Int)] = {
    val autoc = new Array[Double](order + 1)
    var k = 0
    while (k <= order) {
      var s = 0.0
      var i = k
      while (i < n) { s += x(off + i).toDouble * x(off + i - k); i += 1 }
      autoc(k) = s
      k += 1
    }
    if (autoc(0) <= 0) return None
    val a = new Array[Double](order)
    var err = autoc(0)
    var m = 0
    while (m < order) {
      var acc = autoc(m + 1)
      var j = 0
      while (j < m) { acc -= a(j) * autoc(m - j); j += 1 }
      val kk = acc / err
      val prev = a.clone()
      j = 0
      while (j < m) { a(j) = prev(j) - kk * prev(m - 1 - j); j += 1 }
      a(m) = kk
      err *= (1 - kk * kk)
      if (!(err > 0)) return None // numerically singular — skip LPC
      m += 1
    }
    val cmax = a.map(math.abs).max
    if (!(cmax > 0) || cmax.isInfinite || cmax.isNaN) return None
    val log2c = math.getExponent(cmax)
    var shift = precision - 1 - (log2c + 1)
    if (shift > 15) shift = 15
    if (shift < 0) return None
    val qmax = (1 << (precision - 1)) - 1
    val qmin = -(1 << (precision - 1))
    val q = new Array[Int](order)
    var e = 0.0
    var j = 0
    while (j < order) {
      val v = a(j) * (1L << shift) + e
      var qi = math.round(v)
      if (qi > qmax) qi = qmax
      if (qi < qmin) qi = qmin
      e = v - qi
      q(j) = qi.toInt
      j += 1
    }
    Some((q, shift, precision))
  }

  private def lpcResidual(
      x: Array[Int], off: Int, n: Int,
      q: Array[Int], shift: Int): Array[Long] = {
    val order = q.length
    val r = new Array[Long](n - order)
    var i = order
    while (i < n) {
      var acc = 0L
      var j = 0
      while (j < order) { acc += q(j).toLong * x(off + i - 1 - j); j += 1 }
      r(i - order) = x(off + i).toLong - (acc >> shift)
      i += 1
    }
    r
  }

  // ------------------------------------------------------------- encoder

  private val EncodeBps = 16

  /** Encode 16-bit mono PCM as a conforming FLAC stream: STREAMINFO
    * with real min/max frame sizes and the PCM MD5, fixed block size,
    * per-frame best-of constant/fixed(0–4)/LPC(8)/verbatim subframe.
    * Bit-deterministic for fixed input.
    */
  def encode(
      samples: Array[Int], rate: Int, blockSize: Int = 4096): Array[Byte] = {
    require(rate > 0 && rate < (1 << 20), s"sample rate out of range: $rate")
    require(blockSize >= 16 && blockSize <= 32768,
      s"block size out of range: $blockSize")
    var i = 0
    while (i < samples.length) {
      require(samples(i) >= Short.MinValue && samples(i) <= Short.MaxValue,
        s"sample ${samples(i)} outside 16-bit PCM range")
      i += 1
    }

    val md5 = MessageDigest.getInstance("MD5")
    val le = new Array[Byte](samples.length * 2)
    i = 0
    while (i < samples.length) {
      le(2 * i) = (samples(i) & 0xff).toByte
      le(2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
      i += 1
    }
    val digest = md5.digest(le)

    val frames = Vector.newBuilder[Array[Byte]]
    var minFrame = Int.MaxValue
    var maxFrame = 0
    var off = 0
    var frameIdx = 0L
    while (off < samples.length) {
      val n = math.min(blockSize, samples.length - off)
      val f = encodeFrame(samples, off, n, frameIdx)
      if (f.length < minFrame) minFrame = f.length
      if (f.length > maxFrame) maxFrame = f.length
      frames += f
      off += n
      frameIdx += 1
    }
    if (maxFrame == 0) { minFrame = 0 } // empty stream: sizes unknown

    val si = new BitWriter
    si.writeBits(1L, 1) // last metadata block
    si.writeBits(0L, 7) // STREAMINFO
    si.writeBits(34L, 24)
    si.writeBits(blockSize.toLong, 16)
    si.writeBits(blockSize.toLong, 16)
    si.writeBits(minFrame.toLong, 24)
    si.writeBits(maxFrame.toLong, 24)
    si.writeBits(rate.toLong, 20)
    si.writeBits(0L, 3) // channels - 1
    si.writeBits((EncodeBps - 1).toLong, 5)
    si.writeBits(samples.length.toLong >>> 32, 4)
    si.writeBits(samples.length.toLong & 0xffffffffL, 32)
    val out = new java.io.ByteArrayOutputStream()
    out.write("fLaC".getBytes("US-ASCII"))
    out.write(si.toByteArray)
    out.write(digest)
    frames.result().foreach(out.write)
    out.toByteArray
  }

  /** (code, trailing value, trailing bits) per the block-size table. */
  private def blockSizeCode(n: Int): (Int, Int, Int) =
    if (n == 192) (1, 0, 0)
    else if (Set(576, 1152, 2304, 4608)(n))
      (2 + Integer.numberOfTrailingZeros(n / 576), 0, 0)
    else if (Set(256, 512, 1024, 2048, 4096, 8192, 16384, 32768)(n))
      (8 + Integer.numberOfTrailingZeros(n / 256), 0, 0)
    else if (n <= 256) (6, n - 1, 8)
    else (7, n - 1, 16)

  private def encodeFrame(
      x: Array[Int], off: Int, n: Int, frameIdx: Long): Array[Byte] = {
    val bw = new BitWriter
    val (bsc, bsv, bsb) = blockSizeCode(n)
    bw.writeBits(0x3ffeL, 14)
    bw.writeBits(0L, 1) // reserved
    bw.writeBits(0L, 1) // fixed block size: coded number = frame index
    bw.writeBits(bsc.toLong, 4)
    bw.writeBits(0L, 4) // sample rate: from STREAMINFO
    bw.writeBits(0L, 4) // channel assignment: 1 channel
    bw.writeBits(4L, 3) // sample size: 16-bit
    bw.writeBits(0L, 1) // reserved
    writeUtf8Number(bw, frameIdx)
    if (bsb > 0) bw.writeBits(bsv.toLong, bsb)
    // header CRC-8 (the writer is byte-aligned here by construction)
    bw.alignToByte()
    val headBytes = bw.toByteArray
    val bw2 = new BitWriter
    headBytes.foreach(b => bw2.writeBits((b & 0xff).toLong, 8))
    bw2.writeBits(crc8(headBytes, 0, headBytes.length).toLong, 8)

    writeSubframe(bw2, x, off, n)

    bw2.alignToByte()
    val body = bw2.toByteArray
    val fin = new java.io.ByteArrayOutputStream()
    fin.write(body)
    val c16 = crc16(body, 0, body.length)
    fin.write((c16 >> 8) & 0xff)
    fin.write(c16 & 0xff)
    fin.toByteArray
  }

  private def writeSubframe(
      bw: BitWriter, x: Array[Int], off: Int, n: Int): Unit = {
    val bps = EncodeBps
    // CONSTANT when the block is flat
    var allEq = true
    var i = 1
    while (allEq && i < n) { allEq = x(off + i) == x(off); i += 1 }
    if (allEq) {
      bw.writeBits(0L, 1); bw.writeBits(0L, 6); bw.writeBits(0L, 1)
      bw.writeBits(x(off).toLong, bps)
      return
    }
    // candidates: fixed 0..4, LPC(8); costs include warmup + model bits
    var bestKind = -1 // 0..4 fixed order, 8 = lpc, -2 = verbatim
    var bestBits = n.toLong * bps // verbatim ceiling
    var bestRes: Array[Long] = null
    var bestParam = 0
    var lpcModel: (Array[Int], Int, Int) = null
    var o = 0
    while (o <= 4 && o < n) {
      val res = fixedResidual(x, off, n, o)
      val (p, bits) = bestRice(res)
      val total = o.toLong * bps + 2 + 4 + 4 + bits
      if (total < bestBits) {
        bestBits = total; bestKind = o; bestRes = res; bestParam = p
      }
      o += 1
    }
    val lpcOrder = 8
    if (n >= 2 * lpcOrder) {
      quantizedLpc(x, off, n, lpcOrder).foreach { case m @ (q, shift, prec) =>
        val res = lpcResidual(x, off, n, q, shift)
        val (p, bits) = bestRice(res)
        val total = lpcOrder.toLong * bps + 4 + 5 + lpcOrder.toLong * prec +
          2 + 4 + 4 + bits
        if (total < bestBits) {
          bestBits = total; bestKind = lpcOrder; bestRes = res
          bestParam = p; lpcModel = m
        }
      }
    }
    if (bestKind == -1) { // verbatim wins (noisy block)
      bw.writeBits(0L, 1); bw.writeBits(1L, 6); bw.writeBits(0L, 1)
      var j = 0
      while (j < n) { bw.writeBits(x(off + j).toLong, bps); j += 1 }
      return
    }
    if (bestKind <= 4) { // FIXED
      bw.writeBits(0L, 1)
      bw.writeBits((8 + bestKind).toLong, 6)
      bw.writeBits(0L, 1)
      var j = 0
      while (j < bestKind) { bw.writeBits(x(off + j).toLong, bps); j += 1 }
      writeRiceResidual(bw, bestRes, bestParam)
    } else { // LPC
      val (q, shift, prec) = lpcModel
      bw.writeBits(0L, 1)
      bw.writeBits((32 + (bestKind - 1)).toLong, 6)
      bw.writeBits(0L, 1)
      var j = 0
      while (j < bestKind) { bw.writeBits(x(off + j).toLong, bps); j += 1 }
      bw.writeBits((prec - 1).toLong, 4)
      bw.writeBits(shift.toLong, 5)
      j = 0
      while (j < bestKind) { bw.writeBits(q(j).toLong, prec); j += 1 }
      writeRiceResidual(bw, bestRes, bestParam)
    }
  }

  // ------------------------------------------------------------- decoder

  /** Decoded stream: per-channel sample planes. `subframeTypes` lists
    * the raw 6-bit subframe type of every decoded subframe in stream
    * order (0 constant, 1 verbatim, 8+o fixed order o, 31+o LPC order
    * o) — a decode diagnostic the spec pins to prove which predictor
    * paths a stream actually exercised.
    */
  final case class Stream(
      rate: Int, channels: Int, bps: Int, samples: Array[Array[Int]],
      subframeTypes: Seq[Int])

  /** Decode a FLAC stream (the general format: fixed/LPC subframes,
    * both Rice methods, partitioned residuals, stereo decorrelation,
    * wasted bits). Verifies every CRC-8/CRC-16 and, when STREAMINFO
    * carries one, the stream MD5 — corrupt payloads fail loudly.
    */
  def decode(bytes: Array[Byte]): Stream = {
    require(bytes.length >= 42 &&
      new String(bytes, 0, 4, "US-ASCII") == "fLaC",
      "payload is not a FLAC stream")
    val br = new BitReader(bytes, 4)
    // metadata blocks
    var last = false
    var rate = -1
    var channels = -1
    var bps = -1
    var total = -1L
    var md5: Array[Byte] = null
    var sawStreamInfo = false
    while (!last) {
      last = br.readBits(1) == 1L
      val btype = br.readBits(7).toInt
      val blen = br.readBits(24).toInt
      if (btype == 0) {
        require(blen == 34, s"FLAC: STREAMINFO length $blen != 34")
        br.readBits(16); br.readBits(16) // min/max block size
        br.readBits(24); br.readBits(24) // min/max frame size
        rate = br.readBits(20).toInt
        channels = br.readBits(3).toInt + 1
        bps = br.readBits(5).toInt + 1
        total = (br.readBits(4) << 32) | br.readBits(32)
        md5 = new Array[Byte](16)
        var i = 0
        while (i < 16) { md5(i) = br.readBits(8).toByte; i += 1 }
        sawStreamInfo = true
      } else {
        require(btype != 127, "FLAC: invalid metadata block type 127")
        var i = 0
        while (i < blen) { br.readBits(8); i += 1 }
      }
    }
    require(sawStreamInfo, "FLAC: stream carries no STREAMINFO block")
    require(rate > 0, s"FLAC: invalid sample rate $rate")
    require(bps >= 4 && bps <= 32, s"FLAC: unsupported bits/sample $bps")
    // Stated contract (RFC 9639 §9.2.2): the side subframe of a
    // decorrelated stereo frame is bps+1 bits wide, so a 32-bit
    // multi-channel stream may carry 33-bit subframes that this
    // decoder's 32-bit Int sample planes cannot represent. Reject the
    // whole stream HERE rather than fail mid-frame on the first
    // left/side frame; 31-bit stereo and 32-bit mono both fit.
    require(!(bps == 32 && channels >= 2),
      "FLAC: 32-bit multi-channel streams may carry 33-bit side " +
        "subframes beyond this decoder's 32-bit sample planes; " +
        "re-encode at <= 31 bits/sample or as mono")

    val chans: Array[scala.collection.mutable.Builder[Int, Array[Int]]] =
      Array.fill(channels)(Array.newBuilder[Int])
    var decoded = 0L
    val stypes = Vector.newBuilder[Int]
    while (br.pos < bytes.length) {
      decoded += decodeFrame(bytes, br, channels, bps, chans, stypes)
    }
    if (total > 0)
      require(decoded == total,
        s"FLAC: decoded $decoded samples, STREAMINFO declares $total")
    val planes = chans.map(_.result())
    if (md5 != null && md5.exists(_ != 0)) verifyMd5(planes, bps, md5)
    Stream(rate, channels, bps, planes, stypes.result())
  }

  private def verifyMd5(
      planes: Array[Array[Int]], bps: Int, expect: Array[Byte]): Unit = {
    val bytesPer = (bps + 7) / 8
    require(bytesPer <= 4, "FLAC: unsupported MD5 sample width")
    val md = MessageDigest.getInstance("MD5")
    val n = planes.head.length
    val row = new Array[Byte](planes.length * bytesPer)
    var i = 0
    while (i < n) {
      var c = 0
      while (c < planes.length) {
        var b = 0
        while (b < bytesPer) {
          row(c * bytesPer + b) = ((planes(c)(i) >> (8 * b)) & 0xff).toByte
          b += 1
        }
        c += 1
      }
      md.update(row)
      i += 1
    }
    require(java.util.Arrays.equals(md.digest(), expect),
      "FLAC: stream MD5 mismatch — decoded PCM differs from encoded")
  }

  /** @return samples decoded in this frame (per channel). */
  private def decodeFrame(
      bytes: Array[Byte], br: BitReader, siChannels: Int,
      siBps: Int, out: Array[scala.collection.mutable.Builder[Int,
        Array[Int]]],
      stypes: scala.collection.mutable.Builder[Int, Vector[Int]]): Int = {
    require(br.atByteBoundary)
    val headStart = br.pos
    val sync = br.readBits(14)
    require(sync == 0x3ffeL,
      f"FLAC: lost frame sync (got 0x$sync%x at byte $headStart)")
    require(br.readBits(1) == 0L, "FLAC: reserved frame-header bit set")
    br.readBits(1) // blocking strategy (coded number interpretation only)
    val bsCode = br.readBits(4).toInt
    val srCode = br.readBits(4).toInt
    val chCode = br.readBits(4).toInt
    val ssCode = br.readBits(3).toInt
    require(br.readBits(1) == 0L, "FLAC: reserved frame-header bit set")
    readUtf8Number(br) // frame/sample number (position bookkeeping only)
    val blockSize = bsCode match {
      case 0 => throw new IllegalArgumentException(
        "FLAC: reserved block-size code 0")
      case 1 => 192
      case c if c <= 5 => 576 << (c - 2)
      case 6 => br.readBits(8).toInt + 1
      case 7 => br.readBits(16).toInt + 1
      case c => 256 << (c - 8)
    }
    srCode match {
      case 0 => () // STREAMINFO
      case c if c <= 11 => () // table rates — STREAMINFO governs anyway
      case 12 => br.readBits(8) // kHz at end of header
      case 13 | 14 => br.readBits(16) // (tens of) Hz at end of header
      case _ => throw new IllegalArgumentException(
        "FLAC: invalid sample-rate code 15")
    }
    val bps = ssCode match {
      case 0 => siBps
      case 1 => 8
      case 2 => 12
      case 4 => 16
      case 5 => 20
      case 6 => 24
      case 7 => 32
      case _ => throw new IllegalArgumentException(
        s"FLAC: reserved sample-size code $ssCode")
    }
    val nCh = if (chCode <= 7) chCode + 1 else 2
    require(chCode <= 10, s"FLAC: reserved channel assignment $chCode")
    require(nCh == siChannels,
      s"FLAC: frame channel count $nCh != STREAMINFO $siChannels")
    // header CRC-8 covers everything up to (not incl.) the CRC byte
    require(br.atByteBoundary)
    val gotCrc8 = br.readBits(8).toInt
    require(gotCrc8 == crc8(bytes, headStart, br.pos - 1),
      "FLAC: frame-header CRC-8 mismatch")

    val planes = new Array[Array[Int]](nCh)
    var c = 0
    while (c < nCh) {
      // side channels carry one extra bit per sample
      val extra = chCode match {
        case 8 => if (c == 1) 1 else 0 // left/side
        case 9 => if (c == 0) 1 else 0 // side/right
        case 10 => if (c == 1) 1 else 0 // mid/side
        case _ => 0
      }
      planes(c) = decodeSubframe(br, blockSize, bps + extra, stypes)
      c += 1
    }
    // undo stereo decorrelation
    chCode match {
      case 8 => // left/side: right = left - side
        val l = planes(0); val s = planes(1)
        var i = 0
        while (i < blockSize) { s(i) = l(i) - s(i); i += 1 }
      case 9 => // side/right: left = right + side
        val s = planes(0); val r = planes(1)
        var i = 0
        while (i < blockSize) { s(i) = r(i) + s(i); i += 1 }
      case 10 => // mid/side
        val m = planes(0); val s = planes(1)
        var i = 0
        while (i < blockSize) {
          val mid = (m(i) << 1) | (s(i) & 1)
          m(i) = (mid + s(i)) >> 1
          s(i) = (mid - s(i)) >> 1
          i += 1
        }
      case _ => ()
    }
    br.alignToByte()
    val gotCrc16 = br.readBits(16).toInt
    require(gotCrc16 == crc16(bytes, headStart, br.pos - 2),
      "FLAC: frame CRC-16 mismatch")
    c = 0
    while (c < nCh) { out(c) ++= planes(c); c += 1 }
    blockSize
  }

  private def decodeSubframe(
      br: BitReader, n: Int, bps: Int,
      stypes: scala.collection.mutable.Builder[Int, Vector[Int]])
      : Array[Int] = {
    require(bps <= 32, s"FLAC: unsupported subframe width $bps")
    require(br.readBits(1) == 0L, "FLAC: reserved subframe-header bit set")
    val stype = br.readBits(6).toInt
    stypes += stype
    val wasted =
      if (br.readBits(1) == 1L) br.readUnary().toInt + 1 else 0
    require(wasted < bps, s"FLAC: wasted bits $wasted >= width $bps")
    val eff = bps - wasted
    val x = new Array[Int](n)
    stype match {
      case 0 => // CONSTANT
        val v = br.readSigned(eff).toInt
        java.util.Arrays.fill(x, v)
      case 1 => // VERBATIM
        var i = 0
        while (i < n) { x(i) = br.readSigned(eff).toInt; i += 1 }
      case t if t >= 8 && t <= 12 => // FIXED order 0..4
        val order = t - 8
        require(order <= n, s"FLAC: fixed order $order > block size $n")
        var i = 0
        while (i < order) { x(i) = br.readSigned(eff).toInt; i += 1 }
        val res = readResidual(br, n, order)
        i = order
        while (i < n) {
          val pred = order match {
            case 0 => 0L
            case 1 => x(i - 1).toLong
            case 2 => 2L * x(i - 1) - x(i - 2)
            case 3 => 3L * x(i - 1) - 3L * x(i - 2) + x(i - 3)
            case _ => 4L * x(i - 1) - 6L * x(i - 2) + 4L * x(i - 3) -
              x(i - 4)
          }
          x(i) = (res(i - order) + pred).toInt
          i += 1
        }
      case t if t >= 32 => // LPC order 1..32
        val order = t - 31
        require(order <= n, s"FLAC: LPC order $order > block size $n")
        var i = 0
        while (i < order) { x(i) = br.readSigned(eff).toInt; i += 1 }
        val precM1 = br.readBits(4).toInt
        require(precM1 != 15, "FLAC: invalid LPC precision code 15")
        val prec = precM1 + 1
        val shift = br.readSigned(5).toInt
        require(shift >= 0, s"FLAC: negative LPC shift $shift")
        val q = new Array[Int](order)
        i = 0
        while (i < order) { q(i) = br.readSigned(prec).toInt; i += 1 }
        val res = readResidual(br, n, order)
        i = order
        while (i < n) {
          var acc = 0L
          var j = 0
          while (j < order) { acc += q(j).toLong * x(i - 1 - j); j += 1 }
          x(i) = (res(i - order) + (acc >> shift)).toInt
          i += 1
        }
      case t => throw new IllegalArgumentException(
        s"FLAC: reserved subframe type $t")
    }
    if (wasted > 0) {
      var i = 0
      while (i < n) { x(i) = x(i) << wasted; i += 1 }
    }
    x
  }

  private def readResidual(
      br: BitReader, blockSize: Int, order: Int): Array[Long] = {
    val method = br.readBits(2).toInt
    require(method <= 1, s"FLAC: reserved residual method $method")
    val paramBits = if (method == 0) 4 else 5
    val escape = if (method == 0) 15 else 31
    val po = br.readBits(4).toInt
    val partitions = 1 << po
    require(blockSize % partitions == 0 && (blockSize >> po) > order ||
      po == 0,
      s"FLAC: invalid partition order $po for block $blockSize/$order")
    val res = new Array[Long](blockSize - order)
    var w = 0
    var p = 0
    while (p < partitions) {
      val count = (blockSize >> po) - (if (p == 0) order else 0)
      require(count >= 0, "FLAC: negative partition sample count")
      val param = br.readBits(paramBits).toInt
      if (param == escape) {
        val raw = br.readBits(5).toInt
        var i = 0
        while (i < count) { res(w) = br.readSigned(raw); w += 1; i += 1 }
      } else {
        var i = 0
        while (i < count) {
          val u = (br.readUnary() << param) | br.readBits(param)
          res(w) = unzigzag(u)
          w += 1
          i += 1
        }
      }
      p += 1
    }
    res
  }

  /** Channel-averaged mono fold, the [[Multimodal.WavPcm]] convention:
    * (rate, mono samples).
    */
  def decodeMono(bytes: Array[Byte]): (Int, Array[Int]) = {
    val s = decode(bytes)
    if (s.channels == 1) (s.rate, s.samples(0))
    else {
      val n = s.samples(0).length
      val out = new Array[Int](n)
      var i = 0
      while (i < n) {
        var sum = 0L
        var c = 0
        while (c < s.channels) { sum += s.samples(c)(i); c += 1 }
        out(i) = (sum / s.channels).toInt
        i += 1
      }
      (s.rate, out)
    }
  }
}
