package graft.model

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{MapType, StringType}

/** The one ingestion unit (reference: src/datamodel/batch.rs:6-15): the
  * catalog rows of the series a request touches plus one sample frame per
  * value type in the canonical `(sensor_id, timestamp_us, value)` layout.
  * Every import edge normalizes into one and commits it with
  * [[graft.store.SensorStore.publish]], which releases `cached` (the
  * frame both sides read, for a batch built with `cache = true`).
  */
final case class IngestBatch(
    sensors: DataFrame,
    samples: Map[SensorType, DataFrame],
    cached: Option[DataFrame] = None) {
  def release(): Unit = cached.foreach(_.unpersist())
}

object IngestBatch {

  /** Normalize sample rows, each carrying its series identity `(name,
    * type, unit_name, labels)` — type as its display name, unit and
    * labels nullable — plus `timestamp_us` and the columns `value(t)`
    * reads for a type-`t` row; `types` are the types the rows may carry.
    * Each row gets its series' uuid and the catalog one row per uuid.
    *
    * `cache = true` is for rows costly or nondeterministic to re-read (a
    * parse, a stream micro-batch): they are cached once for the catalog
    * and every sample frame, and one probe job keeps only the types that
    * occur — none for empty rows — so an absent type never starts a
    * write. Without it every type in `types` is kept and nothing runs.
    */
  def fromRows(
      rows: DataFrame,
      types: Seq[SensorType],
      cache: Boolean = false)(value: SensorType => Column): IngestBatch = {
    val identified = identify(rows)
    val ids = if (cache) identified.cache() else identified
    val present =
      if (!cache) types
      else try {
        if (types.size == 1) { if (ids.isEmpty) Nil else types }
        else ids.select("type").distinct().collect().toSeq.map { r =>
          SensorType.fromString(r.getString(0)).filter(types.contains)
            .getOrElse(throw new IllegalArgumentException(
              s"bad type: ${r.getString(0)}"))
        }
      } catch { case e: Throwable => ids.unpersist(); throw e }
    IngestBatch(
      catalog(ids),
      present.map { t =>
        t -> ids.filter(col("type") === t.displayName)
          .select(col("uuid").as("sensor_id"), col("timestamp_us"),
            value(t).cast(t.sparkType).as("value"))
      }.toMap,
      if (cache) Some(ids) else None)
  }

  /** Normalize samples whose series are known apart: `series` has one
    * `(name, type, unit_name, labels)` row per name, few enough to collect
    * (a CSV's columns or sensor names, a SenML document's series). They
    * are collected once, so a uuid is derived per series, not per sample,
    * and the catalog is a local frame; `samples` builds the per-type
    * sample frames from each name's uuid, e.g. with [[withIds]]. A type
    * no series has gets no sample frame.
    */
  def fromSeries(series: DataFrame)(
      samples: Map[String, String] => Map[SensorType, DataFrame]): IngestBatch = {
    val ids = identify(series.sparkSession.createDataFrame(
      series.collect().toList.asJava, series.schema))
    val local = ids.select("name", "type", "uuid").collect()
    val present = local.map(_.getString(1)).toSet
    IngestBatch(catalog(ids),
      samples(local.map(r => r.getString(0) -> r.getString(2)).toMap)
        .filter { case (t, _) => present.contains(t.displayName) })
  }

  /** Samples whose `sensor_id` holds the series name, keyed instead by
    * the name's uuid in `uuids` (a broadcast join on a local frame).
    */
  def withIds(rows: DataFrame, uuids: Map[String, String]): DataFrame =
    rows.withColumnRenamed("sensor_id", "name")
      .join(broadcast(rows.sparkSession.createDataFrame(uuids.toSeq)
        .toDF("name", "sensor_id")), "name")
      .select(col("sensor_id"), col("timestamp_us"), col("value"))

  /** `rows` plus `uuid`, the content-addressed id of each row's series —
    * the only place ingest derives it. A row without a name or type fails
    * the job: it names no series, and its null uuid no catalog row.
    */
  private def identify(rows: DataFrame): DataFrame = rows
    .withColumn("unit_name", col("unit_name").cast(StringType))
    .withColumn("labels", col("labels").cast(MapType(StringType, StringType)))
    .withColumn("uuid", when(col("name").isNull || col("type").isNull,
        raise_error(lit("ingest row without a sensor name or type")))
      .otherwise(call_function("sensor_uuid",
        col("name"), col("type"), col("unit_name"), col("labels"))))

  /** The catalog row ([[Schemas.sensors]]) of each series in `series`
    * (uuid, name, type, unit_name, labels), one row per uuid. A named
    * unit carries no description; ingest never learns one.
    */
  def catalog(series: DataFrame): DataFrame =
    series.select(col("uuid"), col("name"), col("type"),
      when(col("unit_name").isNotNull,
        struct(col("unit_name").as("name"),
          lit(null).cast(StringType).as("description"))).as("unit"),
      col("labels"))
      .dropDuplicates("uuid")

  /** Aggregated per series, the unit of its first record (by `order`)
    * that names one: the reference's importers read it once per series.
    */
  def firstUnit(order: Column): Column =
    min_by(col("unit_name"), when(col("unit_name").isNotNull, order))
}
