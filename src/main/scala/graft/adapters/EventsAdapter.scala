package graft.adapters

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.model.{Sensor, SensorType}
import graft.operators.{LabelMatcher, Matchers}

/** Maps the driver's `events` table into the engine's sensor model:
  * one Float sensor per (event_type, user_id), labels = {"user": <id>},
  * samples = (sensor_id, timestamp_us, value).
  *
  * The series key is `event_type + " " + user_id`: [[samples]] keys its
  * rows by it and [[promSeries]] keys the PromQL selection by it, so the
  * two join. Queries over the events take both from here rather than
  * rebuilding the key.
  *
  * The catalog is tiny relative to the samples (reference situation too:
  * sensors ≪ samples), so sample↔catalog joins broadcast the catalog.
  */
object EventsAdapter {

  private val uuidUdf = udf { (name: String, labels: Map[String, String]) =>
    Sensor.deriveUuid(name, SensorType.Float, None, labels.toSeq)
  }

  /** Sensor catalog derived from events: uuid, name, type, unit, labels. */
  def sensors(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type").as("name"),
        col("user_id").cast("string").as("user"))
      .distinct()
      .select(
        uuidUdf(col("name"), map(lit("user"), col("user"))).as("uuid"),
        col("name"),
        lit(SensorType.Float.displayName).as("type"),
        lit(null).cast("struct<name:string,description:string>").as("unit"),
        map(lit("user"), col("user")).as("labels"))

  /** Float samples in canonical layout, with the original (name, user) kept
    * alongside for oracle-friendly output (the content-addressed uuid is not
    * reproducible in SQL).
    */
  def samples(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(
        concat(col("event_type"), lit(" "), col("user_id")).as("sensor_id"),
        col("event_type").as("sensor_name"),
        col("user_id").cast("string").as("user"),
        unix_micros(col("ts")).as("timestamp_us"),
        col("value"))

  /** The PromQL series selection over the events: matchers → the
    * (sensor_id, labels) of the matched series, `sensor_id` keyed the way
    * [[samples]] keys its rows. This is the `selectFor` argument of the
    * `ExtendedPromQL` entry points.
    */
  def promSeries(spark: SparkSession, dir: String)
      : Seq[LabelMatcher] => DataFrame = ms =>
    Matchers.sensorsByLabels(sensors(spark, dir), ms)
      .select(concat(col("name"), lit(" "),
        col("labels").getItem("user")).as("sensor_id"), col("labels"))
}
