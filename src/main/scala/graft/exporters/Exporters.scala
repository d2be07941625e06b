package graft.exporters

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Format exporters (S7/S8/S10). All are lazy DataFrame transforms producing
  * one output line per row; callers `.collect` only at the HTTP edge.
  */
object Exporters {

  /** RFC3339 timestamp with µs precision from a `timestamp_us` column
    * (reference formats via hifitime to_rfc3339:
    * src/exporters/csv.rs:7-9).
    */
  def rfc3339(c: Column): Column =
    date_format(timestamp_micros(c), "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")

  /** CSV quoting: wrap in quotes (doubling inner quotes) when the value
    * contains a comma, quote, or newline
    * (reference: src/exporters/csv.rs:50-66).
    */
  def csvQuote(c: Column): Column = {
    val needs = c.contains(",") || c.contains("\"") || c.contains("\n")
    when(needs, concat(lit("\""), regexp_replace(c, "\"", "\"\""), lit("\"")))
      .otherwise(c)
  }

  /** Single-series CSV (S7): `timestamp,value` lines (no header row in the
    * returned dataset; prepend `header` at the edge). Binary values must be
    * pre-encoded (base64) and locations split by the caller.
    */
  def toCsv(samples: DataFrame): Dataset[String] = {
    import samples.sparkSession.implicits._
    samples
      .orderBy("timestamp_us")
      .select(concat_ws(",",
        rfc3339(col("timestamp_us")),
        csvQuote(col("value").cast(StringType)))).as[String]
  }

  /** Multi-series long CSV (S8): header
    * `timestamp,sensor_id,sensor_name,value,type[,labelKey...]` with the
    * sorted union of label keys as extra columns, empty cell when a sensor
    * lacks the label (reference: src/exporters/csv.rs:125-172).
    *
    * @param long rows: timestamp_us, sensor_id, sensor_name, value(string),
    *             type, labels(map)
    * @return (header, lines)
    */
  def toCsvMulti(long: DataFrame): (String, Dataset[String]) = {
    import long.sparkSession.implicits._
    val keys = long
      .select(explode_outer(map_keys(coalesce(col("labels"),
        map().cast(MapType(StringType, StringType))))).as("k"))
      .filter(col("k").isNotNull)
      .distinct().as[String].collect().toSeq
    toCsvMulti(long, keys)
  }

  /** [[toCsvMulti]] with the label keys known up front (e.g. those of the
    * series a matcher selected, already on the driver): no job runs to
    * find them. They are deduplicated and sorted here in the order
    * Spark sorts strings (UTF-8 bytes).
    */
  def toCsvMulti(long: DataFrame, labelKeys: Seq[String]): (String, Dataset[String]) = {
    import long.sparkSession.implicits._
    val keys = labelKeys.distinct.sortWith((a, b) =>
      UTF8String.fromString(a).binaryCompare(UTF8String.fromString(b)) < 0)
    val header = (Seq("timestamp", "sensor_id", "sensor_name", "value", "type")
      ++ keys).mkString(",")
    val labelCols = keys.map(k =>
      csvQuote(coalesce(col("labels").getItem(k), lit(""))))
    val lines = long
      .orderBy("sensor_id", "timestamp_us")
      .select(concat_ws(",",
        (Seq(rfc3339(col("timestamp_us")), col("sensor_id"),
          csvQuote(col("sensor_name")), csvQuote(col("value")),
          col("type")) ++ labelCols): _*)).as[String]
    (header, lines)
  }

  /** JSON Lines (S10): one object per sample with sensor metadata inline
    * (reference: src/exporters/jsonl.rs:25-43). `typeName` is the
    * lowercase type tag the reference emits.
    */
  def toJsonl(
      samples: DataFrame,
      uuid: String,
      name: String,
      typeName: String,
      labels: Map[String, String]): Dataset[String] = {
    import samples.sparkSession.implicits._
    val labelsCol =
      if (labels.isEmpty) map().cast(MapType(StringType, StringType))
      else map(labels.toSeq.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
    samples
      .orderBy("timestamp_us")
      .select(to_json(struct(
        lit(uuid).as("sensor_uuid"),
        lit(name).as("sensor_name"),
        rfc3339(col("timestamp_us")).as("timestamp"),
        col("value"),
        lit(typeName).as("type"),
        labelsCol.as("labels")))).as[String]
  }
}
