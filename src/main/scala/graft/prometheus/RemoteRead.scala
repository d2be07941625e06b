package graft.prometheus

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.operators.{LabelMatcher, Matchers, SensorOps}

/** Prometheus remote-read execution (§3.3): matchers → numeric-only sensor
  * selection → per-sensor-limited range scan → SAMPLES protobuf or
  * STREAMED_XOR_CHUNKS framing at the edge
  * (reference: src/ingestors/http/prometheus_read.rs:105-359).
  *
  * The matcher selects catalog rows on the driver; the Spark plan is the
  * sample scan keyed on their ids (time predicates pushed to parquet),
  * their name and labels carried in the plan, window-limited per sensor,
  * collecting only the final per-series samples for wire encoding. Each
  * entry point taking a catalog frame collects its matcher result and
  * calls its twin over the matched rows.
  * ReadHints (step/func) are accepted and ignored, like the reference
  * (prometheus_read.rs:153-156).
  */
object RemoteRead {

  final case class Query(
      startMs: Long,
      endMs: Long,
      matchers: Seq[LabelMatcher])

  /** Build the per-series sample plan for one query. `samples` is the
    * canonical Float table; non-numeric series are skipped by the
    * numeric-only catalog filter (reference drops them silently:
    * prometheus_read.rs:402-408).
    */
  def plan(
      sensors: DataFrame,
      samples: DataFrame,
      q: Query,
      perSensorLimit: Int = SensorOps.DefaultQueryLimit): DataFrame =
    plan(selected(sensors, q), samples, q, perSensorLimit)

  /** [[plan]] over the query's matched catalog rows
    * ([[Matchers.selectRows]] with `numericOnly`).
    */
  def plan(
      matched: Seq[Row],
      samples: DataFrame,
      q: Query,
      perSensorLimit: Int): DataFrame = {
    val scan = samples
      .filter(col("timestamp_us") >= q.startMs * 1000L &&
        col("timestamp_us") <= q.endMs * 1000L &&
        col("sensor_id").isin(matched.map(_.getString(0)): _*))
      .select(col("sensor_id"), col("timestamp_us"), col("value"),
        Matchers.seriesName(matched).as("name"),
        Matchers.seriesLabels(matched).as("labels"))
    SensorOps.perSensorLimit(scan, perSensorLimit)
  }

  /** The catalog rows `q` selects from a catalog frame, collected. */
  private def selected(sensors: DataFrame, q: Query): Seq[Row] =
    Matchers.sensorsByLabels(sensors, q.matchers, numericOnly = true)
      .collect().toSeq

  /** Collect a planned query into wire-ready series: labels sorted with
    * `__name__` first-class, values coerced to f64, timestamps ms.
    */
  def collectSeries(planned: DataFrame): Seq[
      (Seq[PrometheusRemote.Label], Seq[PrometheusRemote.Sample])] = {
    import scala.collection.mutable
    val rows = planned
      .select(col("sensor_id"), col("name"),
        map_entries(coalesce(col("labels"), map().cast("map<string,string>")))
          .as("label_entries"),
        (col("timestamp_us") / 1000).cast("long").as("ts_ms"),
        col("value").cast("double").as("value"))
      .orderBy("sensor_id", "ts_ms")
      .collect()
    val bySensor = mutable.LinkedHashMap.empty[String,
      (Seq[PrometheusRemote.Label], mutable.ArrayBuffer[PrometheusRemote.Sample])]
    rows.foreach { r =>
      val id = r.getString(0)
      val entry = bySensor.getOrElseUpdate(id, {
        val labels = PrometheusRemote.Label("__name__", r.getString(1)) +:
          r.getSeq[org.apache.spark.sql.Row](2).map(e =>
            PrometheusRemote.Label(e.getString(0), e.getString(1)))
        (labels.sortBy(_.name), mutable.ArrayBuffer.empty[PrometheusRemote.Sample])
      })
      entry._2 += PrometheusRemote.Sample(r.getDouble(4), r.getLong(3))
    }
    bySensor.values.map { case (l, s) => (l, s.toSeq) }.toSeq
  }

  /** SAMPLES response bytes for a set of queries (snappy at the HTTP edge
    * is the caller's concern, matching the reference layering).
    */
  def samplesResponse(
      sensors: DataFrame, samples: DataFrame, queries: Seq[Query]): Array[Byte] =
    samplesResponse(queries.map(selected(sensors, _)), samples, queries)

  /** [[samplesResponse]] over each query's matched catalog rows
    * (`matched(i)` for `queries(i)`).
    */
  def samplesResponse(
      matched: Seq[Seq[Row]], samples: DataFrame, queries: Seq[Query]): Array[Byte] = {
    require(matched.length == queries.length, "one matched row set per query")
    val results = queries.zip(matched).map { case (q, rows) =>
      collectSeries(plan(rows, samples, q, SensorOps.DefaultQueryLimit))
        .map { case (labels, ss) => PrometheusRemote.TimeSeries(labels, ss) }
    }
    PrometheusRemote.encodeReadResponse(results)
  }

  /** Distributed per-series Gorilla/XOR encode: repartition on series,
    * sort within partitions by (series, time), fold each consecutive run
    * into its chunk ON THE EXECUTORS — the driver collects only
    * `(series metadata, chunk bytes, min/max ts)`, so the response
    * payload crosses the wire already reduced by the chunk compression
    * ratio instead of as raw samples. Returned in sensor_id order.
    */
  def collectEncodedSeries(planned: DataFrame): Seq[
      (Seq[PrometheusRemote.Label], Array[Byte], Long, Long)] = {
    import planned.sparkSession.implicits._
    val rows = planned
      .select(col("sensor_id").cast("string"), col("name").cast("string"),
        coalesce(col("labels"), map().cast("map<string,string>")).as("labels"),
        (col("timestamp_us") / 1000).cast("long").as("ts_ms"),
        col("value").cast("double").as("value"))
      .as[(String, String, Map[String, String], Long, Double)]
      .repartition(col("sensor_id"))
      .sortWithinPartitions("sensor_id", "ts_ms")
    val encoded = rows.mapPartitions {
      (it: Iterator[(String, String, Map[String, String], Long, Double)]) =>
        val src = it.buffered
        new Iterator[(String, String, Map[String, String], Array[Byte], Long, Long)] {
          def hasNext: Boolean = src.hasNext
          def next(): (String, String, Map[String, String], Array[Byte], Long, Long) = {
            val head = src.head
            val id = head._1
            val samples = scala.collection.mutable.ArrayBuffer.empty[XorChunk.Sample]
            while (src.hasNext && src.head._1 == id) {
              val r = src.next()
              samples += XorChunk.Sample(r._4, r._5)
            }
            (id, head._2, head._3, XorChunk.encode(samples.toSeq),
              samples.head.timestampMs, samples.last.timestampMs)
          }
        }
    }.collect()
    encoded.sortBy(_._1).toSeq.map { case (_, name, labels, chunk, minTs, maxTs) =>
      val ls = (PrometheusRemote.Label("__name__", name) +:
        labels.toSeq.map { case (k, v) => PrometheusRemote.Label(k, v) })
        .sortBy(_.name)
      (ls, chunk, minTs, maxTs)
    }
  }

  /** STREAMED_XOR_CHUNKS framed stream: one framed ChunkedReadResponse per
    * query (empty queries skipped, like the reference stream writer).
    * Chunks are encoded distributed ([[collectEncodedSeries]]).
    */
  def chunkedResponse(
      sensors: DataFrame, samples: DataFrame, queries: Seq[Query]): Array[Byte] =
    chunkedResponse(queries.map(selected(sensors, _)), samples, queries)

  /** [[chunkedResponse]] over each query's matched catalog rows
    * (`matched(i)` for `queries(i)`).
    */
  def chunkedResponse(
      matched: Seq[Seq[Row]], samples: DataFrame, queries: Seq[Query]): Array[Byte] = {
    require(matched.length == queries.length, "one matched row set per query")
    val out = new java.io.ByteArrayOutputStream()
    queries.zip(matched).zipWithIndex.foreach { case ((q, rows), i) =>
      val series = collectEncodedSeries(
        plan(rows, samples, q, SensorOps.DefaultQueryLimit))
      if (series.nonEmpty)
        out.write(PrometheusRemote.encodeChunkedResponsePre(i.toLong, series))
    }
    out.toByteArray
  }
}
