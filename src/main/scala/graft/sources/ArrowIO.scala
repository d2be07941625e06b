package graft.sources

import java.io.ByteArrayOutputStream
import java.nio.channels.Channels
import scala.jdk.CollectionConverters._

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector.{BigIntVector, BitVector, DecimalVector, Float8Vector, TimeStampMicroVector, VarBinaryVector, VarCharVector, VectorSchemaRoot}
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
  *  - single Float series: `timestamp: Timestamp(µs, naive)`, `value:
  *    Float64` (reference: src/exporters/arrow/mod.rs:224-388);
  *  - multi-series "long" format: `timestamp(µs), sensor_id, sensor_name,
  *    value(utf8), type, labels(json utf8)` all non-null
  *    (reference: src/exporters/arrow/mod.rs:34-92);
  *  - import requires `timestamp` + `value` columns
  *    (reference: src/importers/arrow.rs:26-52).
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

  def floatSeriesSchema: Schema = new Schema(List(
    Field.notNullable("timestamp", new ArrowType.Timestamp(TimeUnit.MICROSECOND, null)),
    Field.notNullable("value",
      new ArrowType.FloatingPoint(FloatingPointPrecision.DOUBLE))).asJava)

  /** Encode one Float series to Arrow IPC file bytes:
    * [[writeFloatSeriesStream]] into a byte buffer, in record batches of
    * [[ipcBatchRows]].
    */
  def encodeFloatSeries(samples: Seq[(Long, Double)]): Array[Byte] =
    ipcBytes(writeFloatSeriesStream(samples.iterator, _, ipcBatchRows))

  /** Stream a Float series as Arrow IPC file bytes onto `out` in
    * bounded batches — what edge exports at the 10M-row default query
    * limit need: residency is one `batchRows` batch regardless of the
    * series length. The IPC *file* format writes sequentially (the
    * footer goes last), so a non-seekable response stream works.
    * [[decodeFloatSeries]] already iterates batches, so multi-batch
    * files round-trip unchanged.
    */
  def writeFloatSeriesStream(
      rows: Iterator[(Long, Double)], out: java.io.OutputStream,
      batchRows: Int = 1 << 16): Unit = {
    require(batchRows >= 1, "batchRows must be positive")
    val root = VectorSchemaRoot.create(floatSeriesSchema, allocator)
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
      val ts = root.getVector("timestamp").asInstanceOf[TimeStampMicroVector]
      val v = root.getVector("value").asInstanceOf[Float8Vector]
      // an empty series still yields a valid zero-batch file
      while (rows.hasNext) {
        root.allocateNew()
        var i = 0
        while (i < batchRows && rows.hasNext) {
          val (t, x) = rows.next()
          ts.setSafe(i, t); v.setSafe(i, x)
          i += 1
        }
        root.setRowCount(i)
        writer.writeBatch()
      }
      writer.end()
      writer.close()
    } finally root.close()
  }

  /** Decode a Float-series IPC file; requires timestamp+value columns. */
  def decodeFloatSeries(bytes: Array[Byte]): Seq[(Long, Double)] = decodeGuard {
    val reader = new ArrowFileReader(
      new ByteArrayReadableSeekableByteChannel(bytes), allocator)
    try {
      val root = reader.getVectorSchemaRoot
      val fields = root.getSchema.getFields.asScala
        .map(f => f.getName -> f.getType).toMap
      require(fields.contains("timestamp") && fields.contains("value"),
        "Arrow file must contain 'timestamp' and 'value' columns")
      require(fields("timestamp").isInstanceOf[ArrowType.Timestamp],
        "'timestamp' column must be a Timestamp")
      require(fields("value").isInstanceOf[ArrowType.FloatingPoint],
        "'value' column must be Float64 for a Float series")
      val out = Seq.newBuilder[(Long, Double)]
      while (reader.loadNextBatch()) {
        val ts = root.getVector("timestamp").asInstanceOf[TimeStampMicroVector]
        val v = root.getVector("value").asInstanceOf[Float8Vector]
        var i = 0
        while (i < root.getRowCount) {
          out += ((ts.get(i), v.get(i)))
          i += 1
        }
      }
      out.result()
    } finally reader.close()
  }

  /** Distributed Arrow bulk export: one IPC file payload per series,
    * encoded on the EXECUTORS (one shuffle on sensor_id, sorted sweep) —
    * the Flight-style bulk path the reference stops short of (its Arrow
    * exporter buffers one request's series on the server:
    * src/exporters/arrow/mod.rs:17-105). The driver only ever sees
    * `(sensor_id, n_samples, ipc bytes)` — response assembly is bounded
    * by the encoded payload, not the scanned samples; rows per series
    * are bounded by the caller's per-sensor limit upstream.
    */
  def encodeSeriesDistributed(samples: DataFrame): DataFrame = {
    import samples.sparkSession.implicits._
    samples
      .select(col("sensor_id").cast("string"),
        col("timestamp_us").cast("long"), col("value").cast("double"))
      .as[(String, Long, Double)]
      .groupByKey(_._1)
      .mapGroups { (id, it) =>
        val sorted = it.map(r => (r._2, r._3)).toArray
          .sortBy(identity)(Ordering.Tuple2(
            Ordering.Long, Ordering.Double.TotalOrdering))
        (id, sorted.length.toLong, encodeFloatSeries(sorted.toSeq))
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
    * value types; [[encodeFloatSeries]] emits the Float layout minus the
    * metadata columns).
    */
  def encodeTypedSeries(series: TypedSeries): Array[Byte] = {
    val t = series.sensorType
    val schema = typedSeriesSchema(t,
      withSensorId = series.sensorId.isDefined,
      withSensorName = series.sensorName.isDefined)
    val root = VectorSchemaRoot.create(schema, allocator)
    try {
      root.allocateNew()
      val ts = root.getVector("timestamp").asInstanceOf[TimeStampMicroVector]
      val value = root.getVector("value")
      series.samples.zipWithIndex.foreach { case ((at, v), i) =>
        ts.setSafe(i, at)
        (t, v) match {
          case (SensorType.Integer, x: Long) =>
            value.asInstanceOf[BigIntVector].setSafe(i, x)
          case (SensorType.Numeric, x: java.math.BigDecimal) =>
            value.asInstanceOf[DecimalVector].setSafe(i, x.setScale(18))
          case (SensorType.Float, x: Double) =>
            value.asInstanceOf[Float8Vector].setSafe(i, x)
          case (SensorType.Str | SensorType.Json, x: String) =>
            value.asInstanceOf[VarCharVector]
              .setSafe(i, x.getBytes("UTF-8"))
          case (SensorType.Boolean, x: Boolean) =>
            value.asInstanceOf[BitVector].setSafe(i, if (x) 1 else 0)
          case (SensorType.Location, (lat: Double, lon: Double)) =>
            val sv = value.asInstanceOf[StructVector]
            sv.getChild("latitude", classOf[Float8Vector]).setSafe(i, lat)
            sv.getChild("longitude", classOf[Float8Vector]).setSafe(i, lon)
            sv.setIndexDefined(i)
          case (SensorType.Blob, x: Array[Byte]) =>
            value.asInstanceOf[VarBinaryVector].setSafe(i, x)
          case (typ, other) => throw new IllegalArgumentException(
            s"sample value ${other.getClass.getSimpleName} does not match " +
              s"series type ${typ.displayName}")
        }
      }
      def fill(name: String, v: Option[String]): Unit = v.foreach { s =>
        val vec = root.getVector(name).asInstanceOf[VarCharVector]
        val bytes = s.getBytes("UTF-8")
        (0 until series.samples.length).foreach(vec.setSafe(_, bytes))
      }
      fill("sensor_id", series.sensorId)
      fill("sensor_name", series.sensorName)
      root.setRowCount(series.samples.length)
      writeIpc(root)
    } finally root.close()
  }

  /** Decode a typed-series IPC file, inferring the sensor type from the
    * value field's Arrow type exactly as the reference importer does
    * (src/importers/arrow.rs:143-294): Int64→Integer, Float64→Float,
    * Decimal128→Numeric, Utf8→String, Boolean→Boolean,
    * Struct{latitude,longitude}→Location, Binary→Blob. Anything else is
    * rejected.
    */
  def decodeTypedSeries(bytes: Array[Byte]): TypedSeries = decodeGuard {
    val reader = new ArrowFileReader(
      new ByteArrayReadableSeekableByteChannel(bytes), allocator)
    try {
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
      val out = Seq.newBuilder[(Long, Any)]
      var sensorId: Option[String] = None
      var sensorName: Option[String] = None
      while (reader.loadNextBatch()) {
        val ts = root.getVector("timestamp").asInstanceOf[TimeStampMicroVector]
        val value = root.getVector("value")
        var i = 0
        while (i < root.getRowCount) {
          val v: Any = t match {
            case SensorType.Integer =>
              value.asInstanceOf[BigIntVector].get(i)
            case SensorType.Float =>
              value.asInstanceOf[Float8Vector].get(i)
            case SensorType.Numeric =>
              value.asInstanceOf[DecimalVector].getObject(i)
            case SensorType.Str =>
              new String(value.asInstanceOf[VarCharVector].get(i), "UTF-8")
            case SensorType.Boolean =>
              value.asInstanceOf[BitVector].get(i) != 0
            case SensorType.Location =>
              val sv = value.asInstanceOf[StructVector]
              (sv.getChild("latitude", classOf[Float8Vector]).get(i),
                sv.getChild("longitude", classOf[Float8Vector]).get(i))
            case SensorType.Blob =>
              value.asInstanceOf[VarBinaryVector].get(i)
            case other => throw new IllegalStateException(other.displayName)
          }
          out += ((ts.get(i), v))
          i += 1
        }
        def const(name: String): Option[String] =
          byName.get(name).filter(_ => root.getRowCount > 0).map { _ =>
            new String(
              root.getVector(name).asInstanceOf[VarCharVector].get(0), "UTF-8")
          }
        if (sensorId.isEmpty) sensorId = const("sensor_id")
        if (sensorName.isEmpty) sensorName = const("sensor_name")
      }
      TypedSeries(t, sensorId, sensorName, out.result())
    } finally reader.close()
  }

  /** Top-level field names of an IPC file — the cheap peek HTTP edges use
    * to route between the typed single-series layout and the long
    * multi-series layout before committing to a decode.
    */
  def ipcFieldNames(bytes: Array[Byte]): Set[String] = decodeGuard {
    val reader = new ArrowFileReader(
      new ByteArrayReadableSeekableByteChannel(bytes), allocator)
    try reader.getVectorSchemaRoot.getSchema.getFields.asScala
      .map(_.getName).toSet
    finally reader.close()
  }

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
    * [[writeFloatSeriesStream]] (same memory contract: residency is
    * one batch regardless of export size; [[decodeLongFormat]]
    * iterates batches, so multi-batch files round-trip).
    */
  def writeLongFormatStream(
      rows: Iterator[LongRow], out: java.io.OutputStream,
      batchRows: Int = 1 << 16): Unit = {
    require(batchRows >= 1, "batchRows must be positive")
    val root = VectorSchemaRoot.create(longFormatSchema, allocator)
    try {
      val writer = new ArrowFileWriter(root, null, Channels.newChannel(out))
      // footer only on success — see writeFloatSeriesStream: a footer
      // over partial batches would decode as a complete shorter export
      writer.start()
      val ts = root.getVector("timestamp").asInstanceOf[TimeStampMicroVector]
      def sv(name: String) = root.getVector(name).asInstanceOf[VarCharVector]
      val (id, nm, vl, tp, lb) = (sv("sensor_id"), sv("sensor_name"),
        sv("value"), sv("type"), sv("labels"))
      while (rows.hasNext) {
        root.allocateNew()
        var i = 0
        while (i < batchRows && rows.hasNext) {
          val r = rows.next()
          ts.setSafe(i, r.timestampUs)
          id.setSafe(i, r.sensorId.getBytes("UTF-8"))
          nm.setSafe(i, r.sensorName.getBytes("UTF-8"))
          vl.setSafe(i, r.value.getBytes("UTF-8"))
          tp.setSafe(i, r.valueType.getBytes("UTF-8"))
          lb.setSafe(i, r.labelsJson.getBytes("UTF-8"))
          i += 1
        }
        root.setRowCount(i)
        writer.writeBatch()
      }
      writer.end()
      writer.close()
    } finally root.close()
  }

  def decodeLongFormat(bytes: Array[Byte]): Seq[LongRow] = decodeGuard {
    val reader = new ArrowFileReader(
      new ByteArrayReadableSeekableByteChannel(bytes), allocator)
    try {
      val root = reader.getVectorSchemaRoot
      val out = Seq.newBuilder[LongRow]
      while (reader.loadNextBatch()) {
        val ts = root.getVector("timestamp").asInstanceOf[TimeStampMicroVector]
        def sv(name: String) = root.getVector(name).asInstanceOf[VarCharVector]
        val (id, nm, vl, tp, lb) = (sv("sensor_id"), sv("sensor_name"),
          sv("value"), sv("type"), sv("labels"))
        var i = 0
        while (i < root.getRowCount) {
          out += LongRow(ts.get(i),
            new String(id.get(i), "UTF-8"), new String(nm.get(i), "UTF-8"),
            new String(vl.get(i), "UTF-8"), new String(tp.get(i), "UTF-8"),
            new String(lb.get(i), "UTF-8"))
          i += 1
        }
      }
      out.result()
    } finally reader.close()
  }

  /** Rows per record batch of the in-memory encoders: SENSAPP_BATCH_SIZE
    * — the reference's ingest chunking contract carried to the Arrow edge
    * (reference: src/datamodel/batch_builder.rs:61-80 into_chunks).
    * Readers stream batch-by-batch instead of one monolithic batch;
    * every decode path here already loops loadNextBatch().
    */
  private def ipcBatchRows: Int = math.max(1, graft.Config.batchSize)

  private def ipcBytes(write: java.io.OutputStream => Unit): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    write(out)
    out.toByteArray
  }

  /** IPC write of a filled root, chunked at [[ipcBatchRows]] rows per
    * record batch.
    */
  private def writeIpc(root: VectorSchemaRoot): Array[Byte] = ipcBytes { out =>
    val chunkRows = ipcBatchRows
    val total = root.getRowCount
    if (total <= chunkRows) {
      val writer = new ArrowFileWriter(root, null, Channels.newChannel(out))
      try {
        writer.start(); writer.writeBatch(); writer.end()
      } finally writer.close()
    } else {
      // one writer bound to the first slice; later slices are loaded
      // into the bound root batch-by-batch (zero-copy splitAndTransfer)
      val bound = root.slice(0, chunkRows)
      try {
        val writer = new ArrowFileWriter(bound, null, Channels.newChannel(out))
        try {
          val loader = new org.apache.arrow.vector.VectorLoader(bound)
          writer.start(); writer.writeBatch()
          var start = chunkRows
          while (start < total) {
            val len = math.min(chunkRows, total - start)
            val slice = root.slice(start, len)
            try {
              val rb = new org.apache.arrow.vector.VectorUnloader(slice)
                .getRecordBatch
              try loader.load(rb) finally rb.close()
              writer.writeBatch()
            } finally slice.close()
            start += len
          }
          writer.end()
        } finally writer.close()
      } finally bound.close()
    }
  }
}
