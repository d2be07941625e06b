package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.model.SensorType

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
  * The parser itself runs distributed via `flatMap` over a `Dataset[String]`
  * of lines — per-partition imperative logic is genuine here (a recursive
  * descent grammar is not expressible as Column ops).
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

  /** Fast-path line shape: unreserved-char measurement/field keys (so
    * urlencode is the identity), no escapes, no quoted strings, numeric or
    * boolean field values only, optional integer timestamp. Anything else
    * — escapes, strings, u64 near overflow, weird floats, reserved label
    * keys — falls back to the strict recursive parser.
    */
  private val FastVal =
    """(?:-?\d+i|\d{1,18}u|(?i:t|true|f|false)|[-+]?(?:\d+\.?\d*|\.\d+)(?:[eE][+-]?\d+)?)"""
  private val FastLine =
    """^[A-Za-z0-9._~-]+(?:,[^,= \\"]+=[^,= \\"]+)* +""" +
      s"""[A-Za-z0-9._~-]+=$FastVal(?:,[A-Za-z0-9._~-]+=$FastVal)*(?: +-?\\d+)?$$"""

  private def usExpr(raw: Column, precision: String): Column = precision match {
    // DIV is integral long division (truncates toward zero, same as the
    // strict path's `_ / 1000`); a double divide would lose precision on
    // ns epochs > 2^53
    case "ns" => call_function("div", raw.cast("long"), lit(1000L))
    case "us" => raw.cast("long")
    case "ms" => raw.cast("long") * 1000
    case "s" => raw.cast("long") * 1000000L
    case p => throw new IllegalArgumentException(s"Invalid precision: $p")
  }

  /** Codegen'd columnar parse of fast-path lines: split/str_to_map/rlike
    * Column ops end to end, no per-row Scala objects.
    */
  private def parseColumnar(
      df: DataFrame, bucket: String, org: String, precision: String): DataFrame = {
    val t = trim(col("line"))
    val parts = split(t, " +")
    val head = parts.getItem(0)
    val comma = locate(",", head)
    val labels = when(comma > 0,
      map_concat(
        map(lit("influxdb_bucket"), lit(bucket), lit("influxdb_org"), lit(org)),
        str_to_map(head.substr(comma + 1, length(head)), lit(","), lit("="))))
      .otherwise(map().cast("map<string,string>"))
    val ts = when(size(parts) >= 3, usExpr(parts.getItem(2), precision))
    val withKv = df.select(
      head.as("head0"), labels.as("labels"), ts.as("timestamp_us"),
      explode(split(parts.getItem(1), ",")).as("kv"))
    val k = substring_index(col("kv"), "=", 1)
    val v = expr("substring(kv, instr(kv, '=') + 1)")
    val vtype = when(v.rlike("^(-?\\d+i|\\d{1,18}u)$"), "Integer")
      .when(v.rlike("^(?i:t|true|f|false)$"), "Boolean")
      .otherwise("Float")
    withKv.select(
      concat(substring_index(col("head0"), ",", 1), lit(" "), k).as("sensor_name"),
      col("labels"), col("timestamp_us"),
      vtype.as("type"),
      when(vtype === "Integer",
        regexp_replace(v, "[iu]$", "").cast("long")).as("long_value"),
      when(vtype === "Float", v.cast("double")).as("double_value"),
      lit(null).cast("string").as("string_value"),
      when(vtype === "Boolean", lower(v).startsWith("t")).as("bool_value"))
  }

  /** Strict recursive-descent parse via `flatMap` — handles escapes,
    * quoted strings, u64 range checks, and raises on malformed lines
    * exactly like the reference handler.
    */
  private def parseFlatMap(
      lines: Dataset[String],
      bucket: String,
      org: String,
      precision: String): DataFrame = {
    import lines.sparkSession.implicits._
    val toUs = precisionToMicros(precision)
    lines.flatMap { line =>
      parseLine(line).map { f =>
        val name = urlencode(f.measurement) + " " + urlencode(f.fieldKey)
        val labels: Map[String, String] =
          if (f.tags.isEmpty) Map.empty
          else (Seq("influxdb_bucket" -> bucket, "influxdb_org" -> org)
            ++ f.tags).toMap
        (name, labels, f.timestamp.map(toUs), f.valueType,
          f.longValue, f.doubleValue, f.stringValue, f.boolValue)
      }
    }.toDF("sensor_name", "labels", "timestamp_us", "type",
      "long_value", "double_value", "string_value", "bool_value")
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
    * Well-formed simple lines take the codegen'd columnar path; the rest
    * go through the strict parser (which also raises on malformed input).
    * `withNumeric = true` is the reference handler's Numeric mode: the
    * output gains a `numeric_value` DecimalType(38,18) column and
    * integer/float fields report type `Numeric` (see [[toNumeric]]).
    */
  def parse(
      lines: Dataset[String],
      bucket: String,
      org: String,
      precision: String = "ns",
      withNumeric: Boolean = false): DataFrame = {
    val base = parseTyped(lines, bucket, org, precision)
    if (withNumeric) toNumeric(base) else base
  }

  /** The value types [[parse]] can report. */
  val Types: Seq[SensorType] = Seq(SensorType.Integer, SensorType.Float,
    SensorType.Str, SensorType.Boolean, SensorType.Numeric)

  /** The value column of a type-`t` row of [[parse]]'s output. */
  def value(t: SensorType): Column = t match {
    case SensorType.Integer => col("long_value")
    case SensorType.Str => col("string_value")
    case SensorType.Boolean => col("bool_value")
    case SensorType.Numeric => col("numeric_value")
    case _ => col("double_value")
  }

  private def parseTyped(
      lines: Dataset[String],
      bucket: String,
      org: String,
      precision: String): DataFrame = {
    precisionToMicros(precision) // validate precision eagerly
    val df = lines.toDF("line")
    val t = trim(col("line"))
    val nonEmpty = length(t) > 0 && !t.startsWith("#")
    import lines.sparkSession.implicits._
    // Reserved bucket/org keys and duplicate tag keys are only safe on the
    // columnar path under LAST_WIN map-key semantics, which give
    // str_to_map/map_concat the same insert-overwrites behavior as the
    // strict parser's `.toMap` (one regex per line instead of three).
    // GraftSession sets that policy; on a session without it (default
    // EXCEPTION) the fast path would *throw* on such lines instead of
    // falling back, so route everything through the strict parser there.
    val lastWin = lines.sparkSession.conf
      .get("spark.sql.mapKeyDedupPolicy", "EXCEPTION")
      .equalsIgnoreCase("LAST_WIN")
    if (!lastWin)
      return parseFlatMap(
        df.filter(nonEmpty).select(col("line")).as[String],
        bucket, org, precision)
    val fast = t.rlike(FastLine)
    parseColumnar(df.filter(nonEmpty && fast), bucket, org, precision)
      .unionByName(parseFlatMap(
        df.filter(nonEmpty && !fast).select(col("line")).as[String],
        bucket, org, precision))
  }
}
