package graft

import graft.prometheus.{PrometheusRemote, XorChunk}
import graft.prometheus.XorChunk.Sample
import org.scalatest.funsuite.AnyFunSuite

class XorChunkSpec extends AnyFunSuite {

  test("golden header: count + first sample layout") {
    val bytes = XorChunk.encode(Seq(Sample(1000, 1.0)))
    // 2-byte BE count = 1
    assert(bytes(0) == 0 && bytes(1) == 1)
    // varint(zigzag(1000)) = zigzag -> 2000 -> [0xD0, 0x0F]
    assert((bytes(2) & 0xff) == 0xd0 && (bytes(3) & 0xff) == 0x0f)
    // 8 raw value bytes MSB-first: 1.0 = 0x3FF0000000000000
    assert((bytes(4) & 0xff) == 0x3f && (bytes(5) & 0xff) == 0xf0)
  }

  test("golden bytes: full 3-sample chunk vs hand-derived Gorilla stream") {
    // Derived BY HAND from the published Prometheus chunkenc XOR layout
    // (prometheus/tsdb chunkenc/xor.go; the format the reference emits
    // through rusty_chunkenc, reference:
    // src/parsing/prometheus/chunk_encoder.rs:1-60) — NOT by running
    // this encoder, so it pins interop, not self-consistency:
    //   0003              uint16 BE sample count = 3
    //   D00F              varint(zigzag(t0=1000)) = uvarint(2000)
    //   3FF0000000000000  v0 = 1.0 raw 64 bits, MSB-first
    //   E807              uvarint(tDelta=1000)
    //   then bit-level: v1=2.0, xor=0x7FF0...: '1','1'(new window),
    //     leading=1 (5b 00001), sigbits=11 (6b 001011), bits 0x7FF
    //     -> C2 5F FF
    //   sample 3: dod=0 ('0'), v2=3.0 xor 2.0 = 0x0008...: '1','1',
    //     leading=12 (01100), sigbits=1 (000001), bit 1, zero-padded
    //     -> 6C 06
    val expected = Array(
      0x00, 0x03, 0xD0, 0x0F, 0x3F, 0xF0, 0x00, 0x00, 0x00, 0x00,
      0x00, 0x00, 0xE8, 0x07, 0xC2, 0x5F, 0xFF, 0x6C, 0x06).map(_.toByte)
    val got = XorChunk.encode(
      Seq(Sample(1000, 1.0), Sample(2000, 2.0), Sample(3000, 3.0)))
    assert(got.toSeq == expected.toSeq)
    assert(XorChunk.decode(expected) ==
      Seq(Sample(1000, 1.0), Sample(2000, 2.0), Sample(3000, 3.0)))
  }

  test("golden CRC32C: published Castagnoli check value") {
    // RFC 3720 §B.4 / Castagnoli check vector: crc32c("123456789") =
    // 0xE3069283 — pins that our frame checksum is CRC32C, not CRC32
    val crc = new java.util.zip.CRC32C
    crc.update("123456789".getBytes("US-ASCII"))
    assert(crc.getValue == 0xE3069283L)
  }

  test("roundtrip: constant series (xor==0 path)") {
    val in = (0 until 100).map(i => Sample(1700000000000L + i * 15000L, 42.0))
    assert(XorChunk.decode(XorChunk.encode(in)) == in)
  }

  test("roundtrip: varying values and irregular deltas") {
    val rnd = new scala.util.Random(7)
    var t = 1700000000000L
    val in = (0 until 500).map { _ =>
      t += 1 + rnd.nextInt(100000)
      Sample(t, rnd.nextDouble() * math.pow(10, rnd.nextInt(10)))
    }
    assert(XorChunk.decode(XorChunk.encode(in)) == in)
  }

  test("roundtrip: delta-of-delta at every bucket bound") {
    // each n-bit bucket holds -(2^(n-1) - 1) .. +2^(n-1); the upper bound
    // must decode as itself, not as its two's complement -2^(n-1). The
    // values one past each bound land in the next bucket.
    val dods = Seq(14, 17, 20).flatMap { n =>
      val half = 1L << (n - 1)
      Seq(half, -(half - 1), half + 1, -half)
    }
    val deltas = dods.scanLeft(1000000L)(_ + _)
    val in = deltas.scanLeft(1700000000000L)(_ + _).zipWithIndex
      .map { case (t, i) => Sample(t, i.toDouble) }
    assert(in.map(_.timestampMs).sliding(3).map {
      case Seq(a, b, c) => (c - b) - (b - a)
    }.toSeq == dods)
    assert(XorChunk.decode(XorChunk.encode(in)) == in)
  }

  test("roundtrip: negative values, NaN bits, extreme dod buckets") {
    val in = Seq(
      Sample(0, -1.5), Sample(1, Double.MaxValue),
      Sample(1000000, Double.MinPositiveValue),
      Sample(1000001, 0.0), Sample(5000000000L, -0.0),
      Sample(5000000001L, Double.NaN))
    val out = XorChunk.decode(XorChunk.encode(in))
    assert(out.map(_.timestampMs) == in.map(_.timestampMs))
    assert(out.zip(in).forall { case (a, b) =>
      java.lang.Double.doubleToLongBits(a.value) ==
        java.lang.Double.doubleToLongBits(b.value)
    })
  }

  test("empty and single-sample chunks") {
    assert(XorChunk.decode(XorChunk.encode(Nil)).isEmpty)
    val one = Seq(Sample(123456789L, 3.14))
    assert(XorChunk.decode(XorChunk.encode(one)) == one)
  }

  test("snappy literal compress/decompress roundtrip") {
    val data = Array.tabulate[Byte](100000)(i => (i % 251).toByte)
    val c = PrometheusRemote.snappyCompressLiteral(data)
    assert(PrometheusRemote.snappyDecompress(c).toSeq == data.toSeq)
  }

  test("snappy copy-op decompression (RLE pattern)") {
    // hand-built: uncompressed len 8, literal [a b], copy offset 2 len 6
    // 1-byte-offset copy: tag = (len-4)<<2 | 1, offset high 3 bits in tag
    val input = Array[Byte](
      8, // uvarint length
      (1 << 2).toByte, 'a'.toByte, 'b'.toByte, // literal len 2
      (((6 - 4) << 2) | 1).toByte, 2 // copy len 6 offset 2
    )
    assert(new String(PrometheusRemote.snappyDecompress(input)) == "abababab")
  }

  test("snappy declared-length cap rejects a bomb header BEFORE allocating") {
    // 5-byte varint declaring ~2 GB with no element data: without the
    // cap this allocates the full array up front from attacker bytes
    val bomb = Array[Byte](0xff.toByte, 0xff.toByte, 0xff.toByte,
      0xff.toByte, 0x07, 0x00)
    intercept[graft.sources.DecodedBodyTooLarge] {
      PrometheusRemote.snappyDecompress(bomb, maxLen = 1024 * 1024)
    }
    // declared length over Int range is malformed, not a 500-class fault
    val huge = Array[Byte](0xff.toByte, 0xff.toByte, 0xff.toByte,
      0xff.toByte, 0xff.toByte, 0xff.toByte, 0xff.toByte, 0xff.toByte,
      0xff.toByte, 0x01, 0x00)
    intercept[IllegalArgumentException] {
      PrometheusRemote.snappyDecompress(huge)
    }
  }

  test("malformed snappy surfaces IllegalArgumentException, never a raw " +
      "ArrayIndexOutOfBounds") {
    // truncated: declares 8 bytes, literal element runs past the input
    val truncated = Array[Byte](8, (7 << 2).toByte, 'a'.toByte)
    intercept[IllegalArgumentException] {
      PrometheusRemote.snappyDecompress(truncated)
    }
    // copy element whose offset reaches before the output start
    val badOffset = Array[Byte](4, (1 << 2).toByte, 'a'.toByte, 'b'.toByte,
      (((4 - 4) << 2) | 1).toByte, 9)
    intercept[IllegalArgumentException] {
      PrometheusRemote.snappyDecompress(badOffset)
    }
    // empty input: varint read has no bytes
    intercept[IllegalArgumentException] {
      PrometheusRemote.snappyDecompress(Array.emptyByteArray)
    }
  }

  test("WriteRequest protobuf roundtrip through our writer/reader") {
    import PrometheusRemote._
    // build a WriteRequest using the ProtoWriter (mirrors prompb schema)
    val w = new ProtoWriter
    val ts = new ProtoWriter
    val l1 = new ProtoWriter
    l1.string(1, "__name__"); l1.string(2, "cpu")
    ts.message(1, l1)
    val l2 = new ProtoWriter
    l2.string(1, "host"); l2.string(2, "a")
    ts.message(1, l2)
    val s1 = new ProtoWriter
    s1.double(1, 0.5); s1.int64(2, 1700000000000L)
    ts.message(2, s1)
    w.message(1, ts)
    val parsed = parseWriteRequest(w.result())
    assert(parsed.timeseries.length == 1)
    assert(parsed.timeseries.head.labels ==
      Seq(Label("__name__", "cpu"), Label("host", "a")))
    assert(parsed.timeseries.head.samples ==
      Seq(PrometheusRemote.Sample(0.5, 1700000000000L)))
  }

  test("chunked response frame: varint length + CRC32C + payload") {
    val frame = PrometheusRemote.encodeChunkedResponse(0,
      Seq((Seq(PrometheusRemote.Label("__name__", "cpu")),
        Seq(XorChunk.Sample(1000, 1.0), XorChunk.Sample(2000, 2.0)))))
    // varint length first
    var i = 0
    var len = 0L
    var shift = 0
    var b = 0
    while ({ b = frame(i) & 0xff; i += 1; (b & 0x80) != 0 }) {
      len |= (b & 0x7fL) << shift; shift += 7
    }
    len |= b.toLong << shift
    assert(len == frame.length - i - 4)
    val crc = new java.util.zip.CRC32C
    crc.update(frame, i + 4, frame.length - i - 4)
    val expected = crc.getValue
    val got = ((frame(i) & 0xffL) << 24) | ((frame(i + 1) & 0xffL) << 16) |
      ((frame(i + 2) & 0xffL) << 8) | (frame(i + 3) & 0xffL)
    assert(got == expected)
  }
}
