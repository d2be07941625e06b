package graft.sources

import java.io.ByteArrayOutputStream
import java.nio.channels.Channels
import scala.jdk.CollectionConverters._

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector.{BigIntVector, BitVector, DecimalVector, FieldVector, Float8Vector, TimeStampMicroVector, VarBinaryVector, VarCharVector, VectorSchemaRoot}
import org.apache.arrow.vector.complex.StructVector
import org.apache.arrow.vector.ipc.{ArrowFileReader, ArrowFileWriter}
import org.apache.arrow.vector.types.{FloatingPointPrecision, TimeUnit}
import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema}
import org.apache.arrow.vector.util.ByteArrayReadableSeekableByteChannel
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.model.SensorType

/** Arrow IPC file import/export (S3/S11) using the Apache Arrow Java
  * library Spark already ships.
  *
  * Schema contracts mirrored from the reference:
  *  - single typed series: `timestamp: Timestamp(µs, naive)`, a `value`
  *    of the type's Arrow type, and constant `sensor_id`/`sensor_name`
  *    columns when given (reference: src/exporters/arrow/mod.rs:224-388);
  *    the Float series is that layout without the two metadata columns;
  *  - multi-series "long" format: `timestamp(µs), sensor_id, sensor_name,
  *    value(utf8), type, labels(json utf8)` all non-null
  *    (reference: src/exporters/arrow/mod.rs:34-92);
  *  - import requires `timestamp` + `value` columns
  *    (reference: src/importers/arrow.rs:26-52).
  *
  * Each layout is a schema plus a row setter (and getter) bound once per
  * file; every file goes through the one batched writer
  * ([[writeBatches]]) and the one reader ([[withReader]], [[readRows]]).
  */
object ArrowIO {

  private lazy val allocator = new RootAllocator()

  /** Decode faults from attacker-controlled IPC bytes — bad magic
    * (InvalidArrowFileException), truncation (IOException), a timestamp
    * in the wrong unit (ClassCastException on the vector cast), or
    * nulls in a required column (NPE/IllegalState from `get`) — are
    * malformed input, not engine faults: reclassify to
    * IllegalArgumentException so the HTTP edge answers 400, never a
    * raw 500. Our own IllegalArgumentExceptions pass through.
    */
  private def decodeGuard[T](f: => T): T =
    try f
    catch {
      case e: IllegalArgumentException => throw e
      case e @ (_: java.io.IOException | _: NullPointerException |
          _: IllegalStateException | _: ClassCastException |
          _: IndexOutOfBoundsException |
          _: org.apache.arrow.vector.ipc.InvalidArrowFileException) =>
        throw new IllegalArgumentException(
          s"malformed Arrow IPC body: ${e.getClass.getSimpleName}: ${e.getMessage}")
    }

  final case class LongRow(
      timestampUs: Long, sensorId: String, sensorName: String,
      value: String, valueType: String, labelsJson: String)

  /** A layout's row writer: puts row `r` at index `i` of the vectors it
    * was bound to. (A trait rather than a function type, so the index
    * stays an unboxed Int.)
    */
  private trait RowSetter[-R] { def apply(i: Int, r: R): Unit }

  /** A layout's row reader: the row at index `i` of its bound vectors. */
  private trait RowGetter[+R] { def apply(i: Int): R }

  /** The one IPC write: `rows` onto `out` as an Arrow IPC file, in record
    * batches of at most `batchRows`, through the setter `bind` returns
    * for the file's root. Residency is one batch regardless of the row
    * count, and the IPC *file* format writes sequentially (the footer
    * goes last), so a non-seekable response stream works. No rows give
    * a valid zero-batch file.
    */
  private def writeBatches[R](
      schema: Schema, rows: Iterator[R], out: java.io.OutputStream,
      batchRows: Int)(bind: VectorSchemaRoot => RowSetter[R]): Unit = {
    require(batchRows >= 1, "batchRows must be positive")
    val root = VectorSchemaRoot.create(schema, allocator)
    try {
      val writer = new ArrowFileWriter(root, null, Channels.newChannel(out))
      // the footer is written ONLY on success: ArrowWriter.close()
      // end()s the file, and a valid footer over partial batches would
      // make a mid-stream failure decode as a complete shorter series —
      // silent truncation. Abandoning the writer on error leaves the
      // file footer-less, which ArrowFileReader rejects loudly. (The
      // writer holds no resources of its own: buffers belong to `root`,
      // closed below; the channel wraps the caller's stream.)
      writer.start()
      val set = bind(root)
      while (rows.hasNext) {
        root.allocateNew()
        var i = 0
        while (i < batchRows && rows.hasNext) {
          set(i, rows.next())
          i += 1
        }
        root.setRowCount(i)
        writer.writeBatch()
      }
      writer.end()
      writer.close()
    } finally root.close()
  }

  /** The one IPC open: `read` over a reader of `bytes`, under
    * [[decodeGuard]], the reader closed after.
    */
  private def withReader[T](bytes: Array[Byte])(read: ArrowFileReader => T): T =
    decodeGuard {
      val reader = new ArrowFileReader(
        new ByteArrayReadableSeekableByteChannel(bytes), allocator)
      try read(reader) finally reader.close()
    }

  /** Every row of the file `reader` reads, batch by batch, through `get`.
    * The root's vectors stay the same objects while batches load, so a
    * getter bound to them once serves the whole file.
    */
  private def readRows[R](reader: ArrowFileReader)(get: RowGetter[R]): Seq[R] = {
    val root = reader.getVectorSchemaRoot
    val out = Seq.newBuilder[R]
    while (reader.loadNextBatch()) {
      var i = 0
      while (i < root.getRowCount) {
        out += get(i)
        i += 1
      }
    }
    out.result()
  }

  private def timestamps(root: VectorSchemaRoot): TimeStampMicroVector =
    root.getVector("timestamp").asInstanceOf[TimeStampMicroVector]

  private def utf8(root: VectorSchemaRoot, name: String): VarCharVector =
    root.getVector(name).asInstanceOf[VarCharVector]

  /** Encode one Float series to Arrow IPC file bytes:
    * [[writeFloatSeriesStream]] into a byte buffer, in record batches of
    * [[ipcBatchRows]].
    */
  def encodeFloatSeries(samples: Seq[(Long, Double)]): Array[Byte] =
    ipcBytes(writeFloatSeriesStream(samples.iterator, _, ipcBatchRows))

  /** Stream a Float series as Arrow IPC file bytes onto `out` in
    * bounded batches: the typed Float layout without its
    * `sensor_id`/`sensor_name` columns, its rows kept as unboxed
    * `(Long, Double)`. Residency is one `batchRows` batch regardless of
    * the series length — what edge exports at the 10M-row default query
    * limit need.
    */
  def writeFloatSeriesStream(
      rows: Iterator[(Long, Double)], out: java.io.OutputStream,
      batchRows: Int = 1 << 16): Unit =
    writeTyped(SensorType.Float, None, None, rows, out, batchRows) { root =>
      val (ts, v) = (timestamps(root), root.getVector("value").asInstanceOf[Float8Vector])
      (i, r) => { ts.setSafe(i, r._1); v.setSafe(i, r._2) }
    }

  /** Decode a Float-series IPC file; requires timestamp+value columns. */
  def decodeFloatSeries(bytes: Array[Byte]): Seq[(Long, Double)] =
    withReader(bytes) { reader =>
      val root = reader.getVectorSchemaRoot
      val fields = root.getSchema.getFields.asScala
        .map(f => f.getName -> f.getType).toMap
      require(fields.contains("timestamp") && fields.contains("value"),
        "Arrow file must contain 'timestamp' and 'value' columns")
      require(fields("timestamp").isInstanceOf[ArrowType.Timestamp],
        "'timestamp' column must be a Timestamp")
      require(fields("value").isInstanceOf[ArrowType.FloatingPoint],
        "'value' column must be Float64 for a Float series")
      val (ts, v) = (timestamps(root), root.getVector("value").asInstanceOf[Float8Vector])
      readRows(reader)(i => (ts.get(i), v.get(i)))
    }

  /** Distributed Arrow bulk export: one IPC file payload per series,
    * encoded on the EXECUTORS (one shuffle on sensor_id, each series'
    * group sorted by timestamp then value) — the Flight-style bulk path
    * the reference stops short of (its Arrow exporter buffers one
    * request's series on the server: src/exporters/arrow/mod.rs:17-105).
    * The driver only ever sees `(sensor_id, n_samples, ipc bytes)` —
    * response assembly is bounded by the encoded payload, not the
    * scanned samples. Each series keeps its first
    * [[graft.operators.SensorOps.DefaultQueryLimit]] samples, streamed
    * from its sorted group into the encoder.
    */
  def encodeSeriesDistributed(samples: DataFrame): DataFrame = {
    import samples.sparkSession.implicits._
    val cap = graft.operators.SensorOps.DefaultQueryLimit
    samples
      .select(col("sensor_id").cast("string"),
        col("timestamp_us").cast("long"), col("value").cast("double"))
      .as[(String, Long, Double)]
      .groupByKey(_._1)
      .flatMapSortedGroups(col("timestamp_us"), col("value")) { (id, group) =>
        var n = 0L
        val rows = group.take(cap).map { r => n += 1; (r._2, r._3) }
        val ipc = ipcBytes(writeFloatSeriesStream(rows, _, ipcBatchRows))
        Iterator.single((id, n, ipc))
      }
      .toDF("sensor_id", "n_samples", "ipc")
  }

  /** Inverse of [[encodeSeriesDistributed]]: explode per-series IPC
    * payloads back to samples, decoded on the executors.
    */
  def decodeSeriesDistributed(encoded: DataFrame): DataFrame = {
    import encoded.sparkSession.implicits._
    encoded
      .select(col("sensor_id").cast("string"), col("ipc"))
      .as[(String, Array[Byte])]
      .flatMap { case (id, bytes) =>
        decodeFloatSeries(bytes).map { case (t, v) => (id, t, v) }
      }
      .toDF("sensor_id", "timestamp_us", "value")
  }

  // ------------------------------------------------- typed single series

  /** A decoded typed series. `samples` carries (timestamp µs, value) with
    * the value's JVM representation per type: Integer→Long, Numeric→
    * java.math.BigDecimal(38,18), Float→Double, String/JSON→String,
    * Boolean→Boolean, Location→(latitude: Double, longitude: Double),
    * Blob→Array[Byte].
    */
  final case class TypedSeries(
      sensorType: SensorType,
      sensorId: Option[String],
      sensorName: Option[String],
      samples: Seq[(Long, Any)])

  /** The per-type Arrow value field (reference: src/exporters/arrow/
    * mod.rs:224-388): Int64, Decimal128(38,18), Float64, Utf8, Boolean,
    * Struct{latitude,longitude}, Binary. JSON exports as Utf8, so a
    * JSON series IMPORTS as String — the reference's own lossy corner
    * (src/importers/arrow.rs:204-218 has no JSON arm).
    */
  private def typedValueField(t: SensorType): Field = {
    def leaf(a: ArrowType) = Field.notNullable("value", a)
    t match {
      case SensorType.Integer => leaf(new ArrowType.Int(64, true))
      case SensorType.Numeric => leaf(ArrowType.Decimal.createDecimal(38, 18, null))
      case SensorType.Float =>
        leaf(new ArrowType.FloatingPoint(FloatingPointPrecision.DOUBLE))
      case SensorType.Str | SensorType.Json => leaf(ArrowType.Utf8.INSTANCE)
      case SensorType.Boolean => leaf(ArrowType.Bool.INSTANCE)
      case SensorType.Location => new Field("value",
        FieldType.notNullable(ArrowType.Struct.INSTANCE), List(
          Field.notNullable("latitude",
            new ArrowType.FloatingPoint(FloatingPointPrecision.DOUBLE)),
          Field.notNullable("longitude",
            new ArrowType.FloatingPoint(FloatingPointPrecision.DOUBLE))).asJava)
      case SensorType.Blob => leaf(ArrowType.Binary.INSTANCE)
    }
  }

  /** Typed single-series schema: `timestamp(µs, naive)`, typed `value`,
    * plus constant `sensor_id`/`sensor_name` Utf8 columns when present
    * (the reference exports both: src/exporters/arrow/mod.rs:365-385;
    * its importer requires sensor_id and falls back to it for the name,
    * src/importers/arrow.rs:119-124).
    */
  def typedSeriesSchema(
      t: SensorType,
      withSensorId: Boolean = true,
      withSensorName: Boolean = true): Schema = {
    val fields = List.newBuilder[Field]
    fields += Field.notNullable("timestamp",
      new ArrowType.Timestamp(TimeUnit.MICROSECOND, null))
    fields += typedValueField(t)
    if (withSensorId)
      fields += Field.notNullable("sensor_id", ArrowType.Utf8.INSTANCE)
    if (withSensorName)
      fields += Field.notNullable("sensor_name", ArrowType.Utf8.INSTANCE)
    new Schema(fields.result().asJava)
  }

  /** Encode one typed series to Arrow IPC file bytes (S11 for all 8
    * value types): [[writeTypedSeriesStream]] into a byte buffer, in
    * record batches of [[ipcBatchRows]].
    */
  def encodeTypedSeries(series: TypedSeries): Array[Byte] =
    ipcBytes(writeTypedSeriesStream(series.sensorType, series.sensorId,
      series.sensorName, series.samples.iterator, _, ipcBatchRows))

  /** Stream one typed series as Arrow IPC file bytes onto `out` in
    * bounded batches: [[typedSeriesSchema]] with the metadata columns
    * that are given, each a constant. Samples carry the value
    * representation [[TypedSeries]] documents; a sample of another JVM
    * type is an IllegalArgumentException.
    */
  def writeTypedSeriesStream(
      t: SensorType, sensorId: Option[String], sensorName: Option[String],
      rows: Iterator[(Long, Any)], out: java.io.OutputStream,
      batchRows: Int = 1 << 16): Unit =
    writeTyped(t, sensorId, sensorName, rows, out, batchRows) { root =>
      val (ts, value) = (timestamps(root), valueSetter(t, root.getVector("value")))
      (i, r) => { ts.setSafe(i, r._1); value(i, r._2) }
    }

  /** The typed layout's write: its schema, and `set` for the timestamp
    * and value, plus the constant `sensor_id`/`sensor_name` columns.
    */
  private def writeTyped[R](
      t: SensorType, sensorId: Option[String], sensorName: Option[String],
      rows: Iterator[R], out: java.io.OutputStream, batchRows: Int)(
      set: VectorSchemaRoot => RowSetter[R]): Unit =
    writeBatches(typedSeriesSchema(t, sensorId.isDefined, sensorName.isDefined),
      rows, out, batchRows) { root =>
      val row = set(root)
      val consts = Seq("sensor_id" -> sensorId, "sensor_name" -> sensorName)
        .collect { case (name, Some(s)) => (utf8(root, name), s.getBytes("UTF-8")) }
      if (consts.isEmpty) row
      else (i, r) => {
        row(i, r)
        consts.foreach { case (vec, bytes) => vec.setSafe(i, bytes) }
      }
    }

  /** The setter of a typed `value` vector, picked once per file. */
  private def valueSetter(t: SensorType, value: FieldVector): RowSetter[Any] = {
    def mismatch(other: Any): Nothing = throw new IllegalArgumentException(
      s"sample value ${other.getClass.getSimpleName} does not match " +
        s"series type ${t.displayName}")
    t match {
      case SensorType.Integer =>
        val v = value.asInstanceOf[BigIntVector]
        (i, x) => x match { case l: Long => v.setSafe(i, l); case o => mismatch(o) }
      case SensorType.Numeric =>
        val v = value.asInstanceOf[DecimalVector]
        (i, x) => x match {
          case d: java.math.BigDecimal => v.setSafe(i, d.setScale(18))
          case o => mismatch(o)
        }
      case SensorType.Float =>
        val v = value.asInstanceOf[Float8Vector]
        (i, x) => x match { case d: Double => v.setSafe(i, d); case o => mismatch(o) }
      case SensorType.Str | SensorType.Json =>
        val v = value.asInstanceOf[VarCharVector]
        (i, x) => x match {
          case s: String => v.setSafe(i, s.getBytes("UTF-8"))
          case o => mismatch(o)
        }
      case SensorType.Boolean =>
        val v = value.asInstanceOf[BitVector]
        (i, x) => x match {
          case b: Boolean => v.setSafe(i, if (b) 1 else 0)
          case o => mismatch(o)
        }
      case SensorType.Location =>
        val v = value.asInstanceOf[StructVector]
        val (lat, lon) = (v.getChild("latitude", classOf[Float8Vector]),
          v.getChild("longitude", classOf[Float8Vector]))
        (i, x) => x match {
          case (a: Double, b: Double) =>
            lat.setSafe(i, a); lon.setSafe(i, b); v.setIndexDefined(i)
          case o => mismatch(o)
        }
      case SensorType.Blob =>
        val v = value.asInstanceOf[VarBinaryVector]
        (i, x) => x match {
          case b: Array[Byte] => v.setSafe(i, b)
          case o => mismatch(o)
        }
    }
  }

  /** The getter of a typed `value` vector, picked once per file. */
  private def valueGetter(t: SensorType, value: FieldVector): RowGetter[Any] =
    t match {
      case SensorType.Integer =>
        val v = value.asInstanceOf[BigIntVector]; i => v.get(i)
      case SensorType.Float =>
        val v = value.asInstanceOf[Float8Vector]; i => v.get(i)
      case SensorType.Numeric =>
        val v = value.asInstanceOf[DecimalVector]; i => v.getObject(i)
      case SensorType.Str =>
        val v = value.asInstanceOf[VarCharVector]; i => new String(v.get(i), "UTF-8")
      case SensorType.Boolean =>
        val v = value.asInstanceOf[BitVector]; i => v.get(i) != 0
      case SensorType.Location =>
        val v = value.asInstanceOf[StructVector]
        val (lat, lon) = (v.getChild("latitude", classOf[Float8Vector]),
          v.getChild("longitude", classOf[Float8Vector]))
        i => (lat.get(i), lon.get(i))
      case SensorType.Blob =>
        val v = value.asInstanceOf[VarBinaryVector]; i => v.get(i)
      case other => throw new IllegalStateException(other.displayName)
    }

  /** Decode a typed-series IPC file, inferring the sensor type from the
    * value field's Arrow type exactly as the reference importer does
    * (src/importers/arrow.rs:143-294): Int64→Integer, Float64→Float,
    * Decimal128→Numeric, Utf8→String, Boolean→Boolean,
    * Struct{latitude,longitude}→Location, Binary→Blob. Anything else is
    * rejected. `sensor_id`/`sensor_name` come from the first row.
    */
  def decodeTypedSeries(bytes: Array[Byte]): TypedSeries = withReader(bytes) { reader =>
    val root = reader.getVectorSchemaRoot
    val byName = root.getSchema.getFields.asScala
      .map(f => f.getName -> f).toMap
    require(byName.contains("timestamp") && byName.contains("value"),
      "Arrow file must contain 'timestamp' and 'value' columns")
    require(byName("timestamp").getType.isInstanceOf[ArrowType.Timestamp],
      "'timestamp' column must be a Timestamp")
    val t = byName("value").getType match {
      case i: ArrowType.Int if i.getBitWidth == 64 => SensorType.Integer
      case f: ArrowType.FloatingPoint
          if f.getPrecision == FloatingPointPrecision.DOUBLE =>
        SensorType.Float
      case _: ArrowType.Decimal => SensorType.Numeric
      case _: ArrowType.Utf8 => SensorType.Str
      case _: ArrowType.Bool => SensorType.Boolean
      case _: ArrowType.Struct
          if byName("value").getChildren.asScala.map(_.getName) ==
            Seq("latitude", "longitude") =>
        SensorType.Location
      case _: ArrowType.Binary => SensorType.Blob
      case other => throw new IllegalArgumentException(
        s"Unsupported Arrow value type: $other")
    }
    val (ts, value) = (timestamps(root), valueGetter(t, root.getVector("value")))
    val consts = Seq("sensor_id", "sensor_name")
      .map(name => byName.get(name).map(_ => utf8(root, name)))
    var meta = Seq.empty[Option[String]]
    val samples = readRows(reader) { i =>
      if (meta.isEmpty)
        meta = consts.map(_.map(vec => new String(vec.get(i), "UTF-8")))
      (ts.get(i), value(i))
    }
    val Seq(sensorId, sensorName) = if (meta.isEmpty) Seq(None, None) else meta
    TypedSeries(t, sensorId, sensorName, samples)
  }

  /** Top-level field names of an IPC file — the cheap peek HTTP edges use
    * to route between the typed single-series layout and the long
    * multi-series layout before committing to a decode.
    */
  def ipcFieldNames(bytes: Array[Byte]): Set[String] =
    withReader(bytes)(_.getVectorSchemaRoot.getSchema.getFields.asScala
      .map(_.getName).toSet)

  /** A decoded typed series as a canonical-layout frame (sensor_id,
    * timestamp_us, value) with the value in the type's native Spark
    * column type — the shape [[graft.store.SensorStore.publishSamples]]
    * ingests. Requires `sensorId` to be populated by the caller: for a
    * file without a sensor_id column the gateway mints a fresh random
    * UUID first, exactly like the reference importer
    * (src/importers/arrow.rs:304-321).
    */
  def typedSeriesToFrame(
      spark: org.apache.spark.sql.SparkSession,
      series: TypedSeries): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions.struct
    val id = series.sensorId.getOrElse(throw new IllegalArgumentException(
      "Arrow typed import requires a sensor_id column"))
    def rows[T](f: Any => T) =
      series.samples.map { case (t, v) => (id, t, f(v)) }
    series.sensorType match {
      case SensorType.Integer =>
        rows(_.asInstanceOf[Long]).toDF("sensor_id", "timestamp_us", "value")
      case SensorType.Numeric =>
        rows(_.asInstanceOf[java.math.BigDecimal])
          .toDF("sensor_id", "timestamp_us", "value")
          .withColumn("value", col("value").cast("decimal(38,18)"))
      case SensorType.Float =>
        rows(_.asInstanceOf[Double]).toDF("sensor_id", "timestamp_us", "value")
      case SensorType.Str | SensorType.Json =>
        rows(_.asInstanceOf[String]).toDF("sensor_id", "timestamp_us", "value")
      case SensorType.Boolean =>
        rows(_.asInstanceOf[Boolean]).toDF("sensor_id", "timestamp_us", "value")
      case SensorType.Location =>
        series.samples.map { case (t, v) =>
          val (lat, lon) = v.asInstanceOf[(Double, Double)]
          (id, t, lat, lon)
        }.toDF("sensor_id", "timestamp_us", "lat", "lon")
          .select(col("sensor_id"), col("timestamp_us"),
            struct(col("lat").as("latitude"), col("lon").as("longitude"))
              .as("value"))
      case SensorType.Blob =>
        rows(_.asInstanceOf[Array[Byte]])
          .toDF("sensor_id", "timestamp_us", "value")
    }
  }

  def longFormatSchema: Schema = new Schema(List(
    Field.notNullable("timestamp", new ArrowType.Timestamp(TimeUnit.MICROSECOND, null)),
    Field.notNullable("sensor_id", ArrowType.Utf8.INSTANCE),
    Field.notNullable("sensor_name", ArrowType.Utf8.INSTANCE),
    Field.notNullable("value", ArrowType.Utf8.INSTANCE),
    Field.notNullable("type", ArrowType.Utf8.INSTANCE),
    Field.notNullable("labels", ArrowType.Utf8.INSTANCE)).asJava)

  /** Encode multi-series long-format rows to Arrow IPC file bytes:
    * [[writeLongFormatStream]] into a byte buffer.
    */
  def encodeLongFormat(rows: Seq[LongRow]): Array[Byte] =
    ipcBytes(writeLongFormatStream(rows.iterator, _, ipcBatchRows))

  /** Stream long-format rows as Arrow IPC file bytes onto `out` in
    * bounded batches — the multi-series counterpart to
    * [[writeFloatSeriesStream]], with the same memory contract.
    */
  def writeLongFormatStream(
      rows: Iterator[LongRow], out: java.io.OutputStream,
      batchRows: Int = 1 << 16): Unit =
    writeBatches(longFormatSchema, rows, out, batchRows) { root =>
      val ts = timestamps(root)
      val Seq(id, nm, vl, tp, lb) =
        Seq("sensor_id", "sensor_name", "value", "type", "labels").map(utf8(root, _))
      (i, r) => {
        ts.setSafe(i, r.timestampUs)
        id.setSafe(i, r.sensorId.getBytes("UTF-8"))
        nm.setSafe(i, r.sensorName.getBytes("UTF-8"))
        vl.setSafe(i, r.value.getBytes("UTF-8"))
        tp.setSafe(i, r.valueType.getBytes("UTF-8"))
        lb.setSafe(i, r.labelsJson.getBytes("UTF-8"))
      }
    }

  def decodeLongFormat(bytes: Array[Byte]): Seq[LongRow] = withReader(bytes) { reader =>
    val root = reader.getVectorSchemaRoot
    val ts = timestamps(root)
    val Seq(id, nm, vl, tp, lb) =
      Seq("sensor_id", "sensor_name", "value", "type", "labels").map(utf8(root, _))
    def str(v: VarCharVector, i: Int) = new String(v.get(i), "UTF-8")
    readRows(reader)(i => LongRow(ts.get(i), str(id, i), str(nm, i),
      str(vl, i), str(tp, i), str(lb, i)))
  }

  /** Rows per record batch of the in-memory encoders: SENSAPP_BATCH_SIZE
    * — the reference's ingest chunking contract carried to the Arrow edge
    * (reference: src/datamodel/batch_builder.rs:61-80 into_chunks).
    * Readers stream batch-by-batch instead of one monolithic batch.
    */
  private def ipcBatchRows: Int = math.max(1, graft.Config.batchSize)

  private def ipcBytes(write: java.io.OutputStream => Unit): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    write(out)
    out.toByteArray
  }
}
