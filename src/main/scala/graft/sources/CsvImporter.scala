package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.infer.TypeInference
import graft.infer.TypeInference.ColumnType
import graft.model.{IngestBatch, SensorType}

/** CSV importer (S1): header read, column type inference on a bounded
  * sample (128 rows, reference cap), datetime-column detection, long/wide
  * dispatch, normalization into typed sample tables
  * (reference: src/importers/csv.rs:22-189).
  *
  * Scale design: only the ≤128-row sample ever reaches the driver; the
  * actual data transform is a fully distributed select/cast (long format)
  * or column explosion (wide format) over the string DataFrame.
  */
object CsvImporter {

  private val SensorNameCandidates = Seq("sensor_name", "metric", "name", "sensor")
  private val ValueCandidates = Seq("value", "reading", "measurement")
  private val UnitCandidates = Seq("unit", "units")

  private val parseDtUdf = udf { (s: String) =>
    TypeInference.parseDateTimeUs(if (s == null) "" else s.trim)
  }

  def importCsv(spark: SparkSession, path: String): IngestBatch = {
    // header row is the CSV contract (reference reads csv_reader.headers())
    val raw = spark.read
      .option("header", "true")
      .option("inferSchema", "false")
      .csv(path)
    importFrames(spark, raw)
  }

  /** Import from an already-parsed all-string DataFrame (header = column
    * names). Exposed for streaming reuse.
    */
  def importFrames(spark: SparkSession, raw: DataFrame): IngestBatch = {
    val names = raw.columns.toSeq
    val sampleRows: Array[Row] = raw.head(TypeInference.MaxInferenceRows)
    require(sampleRows.nonEmpty, "CSV contains no data rows")
    require(names.length >= 2,
      "CSV must have at least 2 columns (datetime and values)")

    val columns: Seq[Seq[String]] = names.indices.map { i =>
      sampleRows.toSeq.map(r => Option(r.getString(i)).getOrElse(""))
    }
    val colTypes = columns.map(c => TypeInference.inferColumnType(c))
    val dtCol = TypeInference.likelyDatetimeColumn(names, columns)
    val dtIdx = dtCol.map(names.indexOf)

    def findIdx(cands: Seq[String]): Option[Int] = {
      val lower = names.map(_.toLowerCase)
      cands.collectFirst {
        case c if lower.contains(c.toLowerCase) => lower.indexOf(c.toLowerCase)
      }
    }
    val nameIdx = findIdx(SensorNameCandidates)
    val valueIdx = findIdx(ValueCandidates)
    val unitIdx = findIdx(UnitCandidates)

    val tsCol: org.apache.spark.sql.Column = dtIdx match {
      case Some(i) => timestampExpr(col(names(i)), colTypes(i))
      case None => col("__row_idx") * 1000000L // row index as seconds
    }
    val base = dtIdx match {
      case Some(_) => raw
      case None => withRowIndex(spark, raw)
    }

    (nameIdx, valueIdx) match {
      case (Some(ni), Some(vi)) =>
        longFormat(base, names, colTypes, tsCol, ni, vi, unitIdx)
      case _ if dtIdx.isDefined =>
        wideFormat(base, names, colTypes, tsCol, dtIdx.get)
      case _ =>
        throw new IllegalArgumentException(
          "Unable to parse CSV: no clear datetime column and no " +
            "sensor_name/value columns found")
    }
  }

  private def withRowIndex(spark: SparkSession, raw: DataFrame): DataFrame = {
    val schema = raw.schema.add(StructField("__row_idx", LongType))
    val rdd = raw.rdd.zipWithIndex().map { case (r, i) =>
      Row.fromSeq(r.toSeq :+ i)
    }
    spark.createDataFrame(rdd, schema)
  }

  private def timestampExpr(
      c: org.apache.spark.sql.Column,
      t: ColumnType): org.apache.spark.sql.Column = t match {
    case ColumnType.DateTimeC => parseDtUdf(c)
    // numeric columns are unix seconds (reference: from_unix_seconds)
    case ColumnType.IntegerC | ColumnType.FloatC | ColumnType.NumericC =>
      (c.cast(DoubleType) * 1e6).cast(LongType)
    case _ => (c.cast(DoubleType) * 1e6).cast(LongType)
  }

  /** The Spark type + sensor type a value column normalizes to.
    * DateTime values store as String (reference: src/importers/csv.rs:293).
    */
  private def valueSensorType(t: ColumnType): SensorType = t match {
    case ColumnType.IntegerC => SensorType.Integer
    case ColumnType.FloatC => SensorType.Float
    case ColumnType.NumericC => SensorType.Numeric
    case ColumnType.BooleanC => SensorType.Boolean
    case ColumnType.JsonC => SensorType.Json
    case ColumnType.DateTimeC | ColumnType.StringC => SensorType.Str
  }

  private def castValue(
      c: org.apache.spark.sql.Column,
      t: ColumnType): org.apache.spark.sql.Column = t match {
    case ColumnType.IntegerC => c.cast(LongType)
    case ColumnType.FloatC => c.cast(DoubleType)
    case ColumnType.NumericC => c.cast(DecimalType(38, 18))
    case ColumnType.BooleanC => lower(trim(c)) === "true"
    case _ => c
  }

  private def longFormat(
      base: DataFrame,
      names: Seq[String],
      colTypes: Seq[ColumnType],
      tsCol: org.apache.spark.sql.Column,
      nameIdx: Int,
      valueIdx: Int,
      unitIdx: Option[Int]): IngestBatch = {
    val vType = colTypes(valueIdx)
    val sType = valueSensorType(vType)
    val unitCol = unitIdx.map(i => col(names(i))).getOrElse(lit(null).cast(StringType))
    val rows = base.select(
      col(names(nameIdx)).as("sensor_id"),
      tsCol.as("timestamp_us"),
      castValue(col(names(valueIdx)), vType).as("value"),
      unitCol.as("unit_name"))
    // first unit per name over a scan-order id: monotonically_increasing_id
    // orders by (partition, row) = file order, while first() in a groupBy
    // is whichever partition merges first; an empty unit names none
    val series = rows
      .withColumn("__ord", monotonically_increasing_id())
      .groupBy(col("sensor_id").as("name"))
      .agg(nullif(IngestBatch.firstUnit(col("__ord")), lit(""))
        .as("unit_name"))
      .withColumn("type", lit(sType.displayName))
      .withColumn("labels", lit(null))
    IngestBatch.fromSeries(series)(uuids =>
      Map(sType -> IngestBatch.withIds(rows, uuids)))
  }

  private def wideFormat(
      base: DataFrame,
      names: Seq[String],
      colTypes: Seq[ColumnType],
      tsCol: org.apache.spark.sql.Column,
      dtIdx: Int): IngestBatch = {
    val sensorCols = names.indices.filter(_ != dtIdx)
    require(sensorCols.nonEmpty, "No sensor columns found - CSV format unclear")
    // one stack() generator per sensor TYPE, not one union branch per
    // sensor COLUMN: CSV scans parse whole lines, so k union branches
    // would parse the file k times — the generator unpivots every column
    // of the type group in a single scan
    val byType = sensorCols.groupBy(i => valueSensorType(colTypes(i)))
    val series = base.sparkSession.createDataFrame(byType.toSeq.flatMap {
      case (st, idxs) => idxs.map(i => (names(i), st.displayName))
    }).toDF("name", "type")
      .withColumn("unit_name", lit(null))
      .withColumn("labels", lit(null))
    IngestBatch.fromSeries(series)(uuids => byType.map { case (st, idxs) =>
      val pairs = idxs.flatMap { i =>
        Seq(lit(uuids(names(i))), castValue(col(names(i)), colTypes(i)))
      }
      st -> base.select(
        stack((lit(idxs.size) +: pairs): _*).as(Seq("sensor_id", "value")),
        tsCol.as("timestamp_us"))
    })
  }
}
