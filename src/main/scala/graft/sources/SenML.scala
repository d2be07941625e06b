package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.model.SensorType

/** SenML (RFC 8428) import + export (S2/S9). One exporter,
  * [[exportMulti]], renders one series or many.
  *
  * Import resolves base fields (`bn`/`bt`/`bu`) Spark-side: posexplode the
  * record array, then `last(_, ignoreNulls)` over the record-position
  * window carries each base forward — the streaming-friendly equivalent of
  * the reference's sequential resolver
  * (reference: src/importers/senml.rs:16-95). Type is inferred from the
  * first record of each series: `v`→Float, `vs`→String, `vb`→Boolean,
  * `vd`→Blob, absent→Float (reference: src/importers/senml.rs:105-116).
  */
object SenML {

  val recordSchema: StructType = StructType(Seq(
    StructField("bn", StringType), StructField("bt", DoubleType),
    StructField("bu", StringType), StructField("bver", IntegerType),
    StructField("n", StringType), StructField("u", StringType),
    StructField("t", DoubleType), StructField("v", DoubleType),
    StructField("vs", StringType), StructField("vb", BooleanType),
    StructField("vd", StringType)))

  /** Parse a dataset of SenML JSON documents (each a full record array)
    * into resolved rows: name, unit, timestamp_us, typed value columns.
    */
  def parse(docs: Dataset[String]): DataFrame = {
    val exploded = docs.toDF("json")
      .withColumn("doc_id", monotonically_increasing_id())
      .select(col("doc_id"),
        posexplode(from_json(col("json"), ArrayType(recordSchema)))
          .as(Seq("pos", "r")))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    exploded.select(
      col("doc_id"), col("pos"),
      last(col("r.bn"), ignoreNulls = true).over(w).as("base_name"),
      last(col("r.bt"), ignoreNulls = true).over(w).as("base_time"),
      last(col("r.bu"), ignoreNulls = true).over(w).as("base_unit"),
      col("r.n").as("n"), col("r.u").as("u"), col("r.t").as("t"),
      col("r.v").as("v"), col("r.vs").as("vs"), col("r.vb").as("vb"),
      col("r.vd").as("vd"))
      .select(
        concat(coalesce(col("base_name"), lit("")),
          coalesce(col("n"), lit(""))).as("name"),
        coalesce(col("u"), col("base_unit")).as("unit"),
        // round, don't truncate: (ms/1000)*1e6 can land 0.25µs under the
        // integer in double arithmetic
        round((coalesce(col("base_time"), lit(0.0)) + coalesce(col("t"), lit(0.0)))
          * 1e6).cast(LongType).as("timestamp_us"),
        col("v"), col("vs"), col("vb"), col("vd"), col("doc_id"), col("pos"))
  }

  /** Series-level type resolution: [[parse]]'s rows plus `type`, the
    * display name of the series' type — that of its first record. Rows
    * keep `(doc_id, pos)` so callers can make document-order picks (e.g.
    * "unit of the first record") deterministically.
    */
  def typed(docs: Dataset[String]): DataFrame =
    parse(docs).withColumn("type",
      first(
        when(col("v").isNotNull, SensorType.Float.displayName)
          .when(col("vs").isNotNull, SensorType.Str.displayName)
          .when(col("vb").isNotNull, SensorType.Boolean.displayName)
          .when(col("vd").isNotNull, SensorType.Blob.displayName)
          .otherwise(SensorType.Float.displayName))
        .over(Window.partitionBy(col("name")).orderBy(col("doc_id"), col("pos"))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))

  /** Per-type sample frames `(sensor_id = series name, timestamp_us,
    * value, unit, doc_id, pos)` of [[typed]]'s rows, one per SenML value
    * type; an absent field reads as the type's zero. No cache: the
    * branches a caller materializes re-run the parse, which is bounded by
    * the request body.
    */
  def importJson(docs: Dataset[String]): Map[SensorType, DataFrame] = {
    val rows = typed(docs)
    Map(
      SensorType.Float -> coalesce(col("v"), lit(0.0)),
      SensorType.Str -> coalesce(col("vs"), lit("")),
      SensorType.Boolean -> coalesce(col("vb"), lit(false)),
      SensorType.Blob -> unbase64(coalesce(col("vd"), lit("")))
    ).map { case (t, value) =>
      t -> rows.filter(col("type") === t.displayName)
        .select(col("name").as("sensor_id"), col("timestamp_us"),
          value.as("value"), col("unit"), col("doc_id"), col("pos"))
    }
  }

  /** The SenML value fields `v`, `vs`, `vb`, `vd` of a `value` column
    * holding samples of type `t`: the value lands in the field for its
    * type — `v` for numeric, `vs` for strings/JSON text and locations
    * (`{"lat":..,"lon":..}` JSON text), `vb` for booleans, `vd` (base64)
    * for blobs — and the other three are null (reference:
    * src/exporters/senml.rs:46-157).
    */
  def valueFields(t: SensorType): Seq[Column] = {
    val (nullD, nullS, nullB) = (lit(null).cast(DoubleType),
      lit(null).cast(StringType), lit(null).cast(BooleanType))
    val (v, vs, vb, vd) = t match {
      case SensorType.Integer | SensorType.Numeric | SensorType.Float =>
        (col("value").cast(DoubleType), nullS, nullB, nullS)
      case SensorType.Boolean => (nullD, nullS, col("value"), nullS)
      case SensorType.Blob => (nullD, nullS, nullB, base64(col("value")))
      case SensorType.Location => (nullD, to_json(col("value")), nullB, nullS)
      case _ => (nullD, col("value").cast(StringType), nullB, nullS)
    }
    Seq(v.as("v"), vs.as("vs"), vb.as("vb"), vd.as("vd"))
  }

  /** One series' `(timestamp_us, value)` samples as [[exportMulti]]'s
    * long frame: the series' uuid, name, unit and labels on every row,
    * the value routed by [[valueFields]].
    */
  def seriesFrame(
      samples: DataFrame,
      uuid: String,
      name: String,
      unit: Option[String],
      labels: Map[String, String],
      t: SensorType): DataFrame =
    samples.select(Seq(lit(uuid).as("sensor_id"), lit(name).as("sensor_name"),
      lit(unit.orNull).cast(StringType).as("unit_name"),
      typedLit(labels).as("labels"), col("timestamp_us")) ++ valueFields(t): _*)

  /** Multi-series SenML export as ONE plan (reference
    * to_senml_json_multi: src/exporters/senml.rs:24-44): the input long
    * frame carries every selected series' samples with the typed SenML
    * value already routed to its field. Per-series windows assign the
    * base fields to each series' first record (`bn`=uuid, `_name`,
    * `bt`=first-sample seconds at ms precision, optional `bu` and
    * `_labels`); the rest carry `t` relative to it. `bver`=10 lands only
    * on the document's first record overall. Spark's `to_json` drops
    * null fields, which gives the reference's field-presence behavior.
    * Replaces a per-series query loop — N series cost one job, not N.
    *
    * @param long (sensor_id, sensor_name, unit_name, labels: map,
    *             timestamp_us, v, vs, vb, vd) — exactly one value column
    *             non-null per row, chosen by the series' type
    *             ([[valueFields]]; [[seriesFrame]] builds it for one
    *             series)
    */
  def exportMulti(long: DataFrame): Dataset[String] = {
    import long.sparkSession.implicits._
    val wSeries = Window.partitionBy(col("sensor_id"))
      .orderBy(col("timestamp_us"))
    val wSeriesAll = wSeries
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    // global order = response order; the output is the already-bounded
    // HTTP payload, so the single-partition window is fine
    val wAll = Window.orderBy(col("sensor_id"), col("timestamp_us"))
    val withBase = long
      .withColumn("__bt_ms", (first(col("timestamp_us")).over(wSeriesAll)
        .cast(LongType) / 1000).cast(LongType))
      .withColumn("__rn_s", row_number().over(wSeries))
      .withColumn("__rn_all", row_number().over(wAll))
    val labelsJson = when(
      size(coalesce(col("labels"), map().cast("map<string,string>"))) > 0,
      to_json(map_from_entries(array_sort(map_entries(col("labels"))))))
    withBase.select(
      when(col("__rn_s") === 1, col("sensor_id")).as("bn"),
      when(col("__rn_s") === 1, col("sensor_name")).as("_name"),
      when(col("__rn_s") === 1,
        col("__bt_ms").cast(DoubleType) / 1000.0).as("bt"),
      when(col("__rn_all") === 1, lit(10)).as("bver"),
      when(col("__rn_s") === 1, col("unit_name")).as("bu"),
      when(col("__rn_s") === 1, labelsJson).as("_labels"),
      when(col("__rn_s") === 1, lit(0.0)).otherwise(
        ((col("timestamp_us") / 1000).cast(LongType) - col("__bt_ms"))
          .cast(DoubleType) / 1000.0).as("t"),
      col("v"), col("vs"), col("vb"), col("vd"),
      col("__rn_all"))
      .orderBy(col("__rn_all"))
      .select(to_json(struct(
        col("bn"), col("_name"), col("bt"), col("bver"), col("bu"),
        col("_labels"), col("t"), col("v"), col("vs"), col("vb"),
        col("vd"))).as("value")).as[String]
  }
}
