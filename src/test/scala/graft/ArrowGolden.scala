package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.model.SensorType
import graft.sources.ArrowIO
import graft.sources.ArrowIO.{LongRow, TypedSeries}

/** The golden Arrow IPC digests (`src/test/resources/arrow_golden.tsv`)
  * and their generator.
  *
  * Each line is `<case>\t<sha256 hex>`: the digest of the IPC file bytes
  * one ArrowIO writer gives for a deterministic input named by the case.
  * The file pins the byte layout of every Arrow export, so a refactor of
  * the writers shows it kept them. Regenerate only at a commit whose
  * writers are known good, never to make a change pass:
  * {{{
  * sbt "Test/runMain graft.ArrowGolden src/test/resources/arrow_golden.tsv"
  * }}}
  */
object ArrowGolden {

  val Types: Seq[SensorType] = Seq(SensorType.Integer, SensorType.Numeric,
    SensorType.Float, SensorType.Str, SensorType.Json, SensorType.Boolean,
    SensorType.Location, SensorType.Blob)

  def timestamp(i: Int): Long = 1700000000000000L + i * 1000000L

  def floatRows(n: Int): Seq[(Long, Double)] =
    (0 until n).map(i => (timestamp(i), i * 0.5 - 1.25))

  def longRows(n: Int): Seq[LongRow] = (0 until n).map(i => LongRow(
    timestamp(i), s"u${i % 3}", s"name-$i", s"$i.5", "float", s"""{"k":"é$i"}"""))

  /** Sample `i` of a series of type `t`, in the JVM representation
    * [[ArrowIO.TypedSeries]] documents (Numeric at the contract scale 18,
    * so a decode gives it back equal).
    */
  def value(t: SensorType, i: Int): Any = t match {
    case SensorType.Integer => i * 1000003L - 5L
    case SensorType.Numeric =>
      new java.math.BigDecimal(s"${i - 2}.125").setScale(18)
    case SensorType.Float => i * 0.25 - 3.0
    case SensorType.Str => s"s$i-é"
    case SensorType.Json => s"""{"i":$i}"""
    case SensorType.Boolean => i % 2 == 0
    case SensorType.Location => (59.9127 + i * 0.001, 10.7461 - i * 0.002)
    case SensorType.Blob => Array.tabulate[Byte](i % 4)(j => (i * 31 + j).toByte)
  }

  def typed(t: SensorType, n: Int, id: Boolean, name: Boolean): TypedSeries =
    TypedSeries(t, Option.when(id)(s"id-${t.displayName}"),
      Option.when(name)(s"name-${t.displayName}"),
      (0 until n).map(i => (timestamp(i), value(t, i))))

  /** `f` with the system property `key` set to `v`, restored after. */
  def withProp[T](key: String, v: String)(f: => T): T = {
    val prev = sys.props.get(key)
    sys.props(key) = v
    try f finally prev match {
      case Some(p) => sys.props(key) = p
      case None => sys.props -= key
    }
  }

  private def stream(write: java.io.OutputStream => Unit): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    write(out)
    out.toByteArray
  }

  /** Every case name with the IPC bytes it stands for. */
  def cases: Seq[(String, Array[Byte])] = {
    val counts = Seq(0, 1, 2, 3, 7)
    val inMemory = withProp("SENSAPP_BATCH_SIZE", "2") {
      counts.map(n => s"encodeFloatSeries/batch2/$n" ->
        ArrowIO.encodeFloatSeries(floatRows(n))) ++
        counts.map(n => s"encodeLongFormat/batch2/$n" ->
          ArrowIO.encodeLongFormat(longRows(n)))
    }
    val streamed = counts.map(n => s"writeFloatSeriesStream/batch3/$n" ->
      stream(ArrowIO.writeFloatSeriesStream(floatRows(n).iterator, _, 3))) ++
      counts.map(n => s"writeLongFormatStream/batch3/$n" ->
        stream(ArrowIO.writeLongFormatStream(longRows(n).iterator, _, 3)))
    val typedCases = for {
      t <- Types; n <- Seq(1, 2); id <- Seq(true, false); name <- Seq(true, false)
    } yield s"encodeTypedSeries/${t.displayName}/$n/id=$id/name=$name" ->
      ArrowIO.encodeTypedSeries(typed(t, n, id, name))
    inMemory ++ streamed ++ typedCases
  }

  def sha256(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(bytes)
      .map(b => f"${b & 0xff}%02x").mkString

  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: ArrowGolden <out.tsv>")
    val lines = cases.map { case (name, bytes) => s"$name\t${sha256(bytes)}" }
    Files.write(Paths.get(args(0)),
      lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    println(s"wrote ${lines.length} digests to ${args(0)}")
  }
}
