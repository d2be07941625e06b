package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, Decimal, DoubleType, LongType}
import graft.model.{IngestBatch, SensorType}

/** InfluxDB line-protocol ingest (S4):
  * `measurement[,tag=v...] field=value[,field=value...] [timestamp]`.
  *
  * Semantics mirrored from the reference handler
  * (reference: src/ingestors/http/influxdb.rs:53-305):
  *  - sensor name = `urlencode(measurement) + " " + urlencode(fieldKey)`;
  *  - labels = influxdb_bucket + influxdb_org + tags, only when the line
  *    has tags;
  *  - field types: i64 (`42i`), u64 (`42u`, must fit i64), f64, bool
  *    (`t/f/true/false/T/F/...`), quoted string;
  *  - timestamps decoded at ns/us/ms/s precision to µs.
  *
  * One grammar, the strict recursive-descent [[parseLine]], serves both
  * entry points: [[parse]] runs it distributed over a `Dataset[String]`
  * of lines (queries, imports); the gateway's write route holds the whole
  * body in driver memory and runs it there ([[parseLocal]]).
  */
object InfluxLineProtocol {

  sealed trait FieldValue
  final case class I64(v: Long) extends FieldValue
  final case class F64(v: Double) extends FieldValue
  final case class Str(v: String) extends FieldValue
  final case class Bool(v: Boolean) extends FieldValue

  final case class ParsedField(
      measurement: String,
      tags: Seq[(String, String)],
      fieldKey: String,
      valueType: String, // Integer | Float | String | Boolean
      longValue: Option[Long],
      doubleValue: Option[Double],
      stringValue: Option[String],
      boolValue: Option[Boolean],
      timestamp: Option[Long])

  /** RFC 3986 percent-encoding (unreserved chars kept), matching the
    * reference's `urlencoding::encode`.
    */
  def urlencode(s: String): String = {
    val sb = new StringBuilder
    s.getBytes("UTF-8").foreach { b =>
      val c = b.toChar
      if (c.isLetterOrDigit && c < 128 || c == '-' || c == '_' || c == '.' || c == '~')
        sb.append(c)
      else sb.append(f"%%${b & 0xff}%02X")
    }
    sb.toString
  }

  /** Parse one line; throws IllegalArgumentException on malformed input
    * (the reference fails the whole request on any bad line).
    */
  def parseLine(line: String): Seq[ParsedField] = {
    val s = line.trim
    if (s.isEmpty || s.startsWith("#")) return Nil
    var i = 0

    def parseEscaped(stopChars: Set[Char]): String = {
      val sb = new StringBuilder
      while (i < s.length && !stopChars.contains(s.charAt(i))) {
        if (s.charAt(i) == '\\' && i + 1 < s.length) {
          sb.append(s.charAt(i + 1)); i += 2
        } else { sb.append(s.charAt(i)); i += 1 }
      }
      sb.toString
    }

    val measurement = parseEscaped(Set(',', ' '))
    require(measurement.nonEmpty, s"empty measurement in: $line")
    val tags = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    while (i < s.length && s.charAt(i) == ',') {
      i += 1
      val k = parseEscaped(Set('=', ',', ' '))
      require(i < s.length && s.charAt(i) == '=', s"bad tag in: $line")
      i += 1
      val v = parseEscaped(Set(',', ' '))
      tags += (k -> v)
    }
    require(i < s.length && s.charAt(i) == ' ', s"missing fields in: $line")
    while (i < s.length && s.charAt(i) == ' ') i += 1

    val fields = scala.collection.mutable.ArrayBuffer.empty[(String, FieldValue)]
    var more = true
    while (more) {
      val k = parseEscaped(Set('=', ',', ' '))
      require(i < s.length && s.charAt(i) == '=', s"bad field in: $line")
      i += 1
      val v: FieldValue =
        if (i < s.length && s.charAt(i) == '"') {
          i += 1
          val sb = new StringBuilder
          while (i < s.length && s.charAt(i) != '"') {
            if (s.charAt(i) == '\\' && i + 1 < s.length) {
              sb.append(s.charAt(i + 1)); i += 2
            } else { sb.append(s.charAt(i)); i += 1 }
          }
          require(i < s.length, s"unterminated string in: $line")
          i += 1
          Str(sb.toString)
        } else {
          val tok = parseEscaped(Set(',', ' '))
          require(tok.nonEmpty, s"empty field value in: $line")
          tok.last match {
            case 'i' => I64(tok.dropRight(1).toLong)
            case 'u' =>
              val bi = BigInt(tok.dropRight(1))
              require(bi.isValidLong, "U64 value is too big to be converted to i64")
              I64(bi.toLong)
            case _ =>
              tok.toLowerCase match {
                case "t" | "true" => Bool(true)
                case "f" | "false" => Bool(false)
                case _ => F64(tok.toDouble)
              }
          }
        }
      fields += (k -> v)
      more = i < s.length && s.charAt(i) == ','
      if (more) i += 1
    }
    while (i < s.length && s.charAt(i) == ' ') i += 1
    val ts = if (i < s.length) Some(s.substring(i).trim.toLong) else None

    fields.toSeq.map { case (k, fv) =>
      val (t, l, dd, st, b) = fv match {
        case I64(v) => ("Integer", Some(v), None, None, None)
        case F64(v) => ("Float", None, Some(v), None, None)
        case Str(v) => ("String", None, None, Some(v), None)
        case Bool(v) => ("Boolean", None, None, None, Some(v))
      }
      ParsedField(measurement, tags.toSeq, k, t, l, dd, st, b, ts)
    }
  }

  def precisionToMicros(precision: String): Long => Long = precision match {
    case "ns" => _ / 1000
    case "us" => identity
    case "ms" => _ * 1000
    case "s" => _ * 1000000
    case p => throw new IllegalArgumentException(s"Invalid precision: $p")
  }

  private type Parsed = (String, Map[String, String], Option[Long], String,
    Option[Long], Option[Double], Option[String], Option[Boolean])

  /** One line's rows in [[parse]]'s layout, by the strict grammar. */
  private def parsedRows(
      line: String, bucket: String, org: String,
      toUs: Long => Long): Seq[Parsed] =
    parseLine(line).map { f =>
      val name = urlencode(f.measurement) + " " + urlencode(f.fieldKey)
      val labels: Map[String, String] =
        if (f.tags.isEmpty) Map.empty
        else (Seq("influxdb_bucket" -> bucket, "influxdb_org" -> org)
          ++ f.tags).toMap
      (name, labels, f.timestamp.map(toUs), f.valueType,
        f.longValue, f.doubleValue, f.stringValue, f.boolValue)
    }

  /** [[parse]] on the driver, for lines already in driver memory (a
    * request body): every line goes through the strict grammar into the
    * samples [[parse]]'s rows hold — no Spark job, and a malformed line
    * throws its IllegalArgumentException on the consuming thread. Lazy:
    * each line is parsed as the result is consumed. Numeric values are
    * cast by Spark's own cast, as in [[toNumeric]].
    */
  def parseLocal(
      lines: Iterator[String],
      bucket: String,
      org: String,
      precision: String = "ns",
      withNumeric: Boolean = false): Iterator[IngestBatch.LocalSample] = {
    val toUs = precisionToMicros(precision)
    def numeric(v: Any, from: DataType): (SensorType, Any) =
      SensorType.Numeric -> (Cast(Literal(v, from), SensorType.Numeric.sparkType)
        .eval() match {
          case d: Decimal => d.toJavaBigDecimal
          case _ => null
        })
    lines.flatMap(parsedRows(_, bucket, org, toUs)).map {
      case (name, labels, ts, t, l, d, str, b) =>
        val (st, v) = t match {
          case "Integer" if withNumeric => numeric(l.get, LongType)
          case "Float" if withNumeric => numeric(d.get, DoubleType)
          case "Integer" => SensorType.Integer -> l.get
          case "Float" => SensorType.Float -> d.get
          case "String" => SensorType.Str -> str.get
          case _ => SensorType.Boolean -> b.get
        }
        IngestBatch.LocalSample(name, st, null, labels,
          ts.map(Long.box).orNull, v)
    }
  }

  /** Numeric-mode projection (reference: src/ingestors/http/influxdb.rs:
    * 63-125, the handler's `with_numeric` option): i64/u64 and f64
    * fields map to the exact Numeric type — `DecimalType(38,18)`, SURVEY
    * §1.2 — instead of Integer/Float; strings and booleans pass through.
    * Doubles convert via their shortest decimal representation (Spark's
    * double→decimal cast path), so a wire literal like `1.05` lands as
    * exactly 1.05 — where the reference round-trips the f64 through
    * `Decimal::from_f64_retain` (keeping the binary value's long
    * expansion), the engine recovers the human-written literal. Values
    * needing more than 20 integer digits overflow to null (the decimal's
    * capacity); line-protocol i64/u64 always fit.
    */
  private def toNumeric(parsed: DataFrame): DataFrame = {
    val isNum = col("type") === "Integer" || col("type") === "Float"
    parsed.select(
      col("sensor_name"), col("labels"), col("timestamp_us"),
      when(isNum, lit("Numeric")).otherwise(col("type")).as("type"),
      lit(null).cast("long").as("long_value"),
      lit(null).cast("double").as("double_value"),
      col("string_value"), col("bool_value"),
      when(col("type") === "Integer",
        col("long_value").cast("decimal(38,18)"))
        .when(col("type") === "Float",
          col("double_value").cast("decimal(38,18)"))
        .as("numeric_value"))
  }

  /** Distributed parse of a dataset of lines into the normalized long
    * layout: sensor_name, labels entries, timestamp_us, typed values.
    * Every line goes through the strict grammar ([[parseLine]], as in
    * [[parseLocal]]) in one `flatMap`: escapes, quoted strings and u64
    * range checks are handled, empty and comment lines yield no rows, and
    * a malformed line raises. `withNumeric = true` is the reference
    * handler's Numeric mode: the output gains a `numeric_value`
    * DecimalType(38,18) column and integer/float fields report type
    * `Numeric` (see [[toNumeric]]).
    */
  def parse(
      lines: Dataset[String],
      bucket: String,
      org: String,
      precision: String = "ns",
      withNumeric: Boolean = false): DataFrame = {
    import lines.sparkSession.implicits._
    val toUs = precisionToMicros(precision)
    val base = lines.flatMap(parsedRows(_, bucket, org, toUs)).toDF(
      "sensor_name", "labels", "timestamp_us", "type", "long_value",
      "double_value", "string_value", "bool_value")
    if (withNumeric) toNumeric(base) else base
  }
}
