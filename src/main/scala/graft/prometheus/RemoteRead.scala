package graft.prometheus

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, Row}
import org.apache.spark.sql.functions._
import graft.operators.{LabelMatcher, Matchers, SensorOps}

/** Prometheus remote-read execution (§3.3): matchers → numeric-only sensor
  * selection → per-sensor-limited range scan → SAMPLES protobuf or
  * STREAMED_XOR_CHUNKS framing at the edge
  * (reference: src/ingestors/http/prometheus_read.rs:105-359).
  *
  * The matcher selects catalog rows on the driver; the Spark plan is the
  * sample scan keyed on their ids (time predicates pushed to parquet);
  * their name and labels stay on the driver and join the collected
  * series there. Each series keeps its first `perSensorLimit` samples by
  * time: the chunked response folds each series' sorted group into its
  * chunk, capped, and the SAMPLES response caps each series in its
  * collect loop — neither runs a window or an explicit repartition. Each entry point taking a catalog
  * frame collects its matcher result and calls its twin over the
  * matched rows.
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
    * ([[Matchers.selectRows]] with `numericOnly`): each series' first
    * `perSensorLimit` samples ([[firstPerSeries]]) — sensor_id,
    * timestamp_us, value — with its name and labels.
    */
  def plan(
      matched: Seq[Row],
      samples: DataFrame,
      q: Query,
      perSensorLimit: Int): DataFrame = {
    val s = scan(matched, samples, q)
    firstPerSeries(s, perSensorLimit)((_, rows) => rows)(Encoders.row(s.schema))
      .toDF()
      .withColumn("name", Matchers.seriesName(matched))
      .withColumn("labels", Matchers.seriesLabels(matched))
  }

  /** The query's samples of the matched series, uncapped: sensor_id,
    * timestamp_us, value as f64. Name and labels stay on the driver.
    */
  private def scan(matched: Seq[Row], samples: DataFrame, q: Query): DataFrame =
    samples
      .filter(col("timestamp_us") >= q.startMs * 1000L &&
        col("timestamp_us") <= q.endMs * 1000L &&
        col("sensor_id").isin(matched.map(_.getString(0)): _*))
      .select(col("sensor_id"), col("timestamp_us"),
        col("value").cast("double").as("value"))

  /** `f` over each series' first `limit` rows of `rows` by
    * `timestamp_us`, one sorted group per `sensor_id`. The planner adds
    * a hash exchange on `sensor_id` only when `rows` has more than one
    * partition; its sort is within the partition.
    */
  private def firstPerSeries[U: Encoder](rows: DataFrame, limit: Int)(
      f: (String, Iterator[Row]) => IterableOnce[U]): Dataset[U] = {
    val id = rows.schema.fieldIndex("sensor_id")
    rows.groupByKey((r: Row) => r.getString(id))(Encoders.STRING)
      .flatMapSortedGroups(col("timestamp_us"))(
        (k: String, group: Iterator[Row]) => f(k, group.take(limit)))
  }

  /** The catalog rows `q` selects from a catalog frame, collected. */
  private def selected(sensors: DataFrame, q: Query): Seq[Row] =
    Matchers.sensorsByLabels(sensors, q.matchers, numericOnly = true)
      .collect().toSeq

  /** A series' wire labels: `__name__` first-class, sorted by name. */
  private def wireLabels(
      name: String, labels: Iterable[(String, String)]): Seq[PrometheusRemote.Label] =
    (PrometheusRemote.Label("__name__", name) +:
      labels.toSeq.map { case (k, v) => PrometheusRemote.Label(k, v) })
      .sortBy(_.name)

  /** [[wireLabels]] of each matched catalog row, by sensor_id. */
  private def wireLabels(matched: Seq[Row]): Map[String, Seq[PrometheusRemote.Label]] =
    matched.map(r => r.getString(0) -> wireLabels(r.getString(1),
      Option(r.getMap[String, String](4)).map(_.toMap).getOrElse(Map.empty))).toMap

  /** Collect a planned query into wire-ready series: labels sorted with
    * `__name__` first-class, values coerced to f64, timestamps ms.
    */
  def collectSeries(planned: DataFrame): Seq[
      (Seq[PrometheusRemote.Label], Seq[PrometheusRemote.Sample])] =
    collectCapped(planned.select(col("sensor_id"), col("timestamp_us"),
      col("value").cast("double"),
      map_entries(coalesce(col("labels"), map().cast("map<string,string>"))),
      col("name")), Int.MaxValue)(r => wireLabels(r.getString(4),
      r.getSeq[Row](3).map(e => e.getString(0) -> e.getString(1))))

  /** The query's series as [[collectSeries]] gives them, each its first
    * `perSensorLimit` samples, its labels from the matched rows.
    */
  def collectSeries(
      matched: Seq[Row], samples: DataFrame, q: Query, perSensorLimit: Int): Seq[
      (Seq[PrometheusRemote.Label], Seq[PrometheusRemote.Sample])] = {
    val labels = wireLabels(matched)
    collectCapped(scan(matched, samples, q), perSensorLimit)(
      r => labels(r.getString(0)))
  }

  /** `rows` (sensor_id, timestamp_us, f64 value, …) collected in
    * (series, time) order into series of their first `perSensorLimit`
    * samples: the cap is a count in the collect loop.
    */
  private def collectCapped(rows: DataFrame, perSensorLimit: Int)(
      labelsOf: Row => Seq[PrometheusRemote.Label]): Seq[
      (Seq[PrometheusRemote.Label], Seq[PrometheusRemote.Sample])] = {
    import scala.collection.mutable
    val bySensor = mutable.LinkedHashMap.empty[String,
      (Seq[PrometheusRemote.Label], mutable.ArrayBuffer[PrometheusRemote.Sample])]
    rows.orderBy("sensor_id", "timestamp_us").collect().foreach { r =>
      val id = r.getString(0)
      if (bySensor.get(id).fold(perSensorLimit > 0)(_._2.length < perSensorLimit))
        bySensor.getOrElseUpdate(id, (labelsOf(r), mutable.ArrayBuffer.empty))._2 +=
          PrometheusRemote.Sample(r.getDouble(2), r.getLong(1) / 1000L)
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
      collectSeries(rows, samples, q, SensorOps.DefaultQueryLimit)
        .map { case (labels, ss) => PrometheusRemote.TimeSeries(labels, ss) }
    }
    PrometheusRemote.encodeReadResponse(results)
  }

  /** Distributed per-series Gorilla/XOR encode of the query's series,
    * each its first `perSensorLimit` samples ([[firstPerSeries]]): each
    * series' sorted group folds into its chunk ON THE EXECUTORS — the
    * driver collects only `(sensor_id, chunk bytes, min/max ts)`, so the
    * response payload crosses the wire already reduced by the chunk
    * compression ratio instead of as raw samples — and the labels come
    * from the matched rows. Returned in sensor_id order.
    */
  def collectEncodedSeries(
      matched: Seq[Row], samples: DataFrame, q: Query, perSensorLimit: Int): Seq[
      (Seq[PrometheusRemote.Label], Array[Byte], Long, Long)] = {
    import samples.sparkSession.implicits._
    val labels = wireLabels(matched)
    firstPerSeries(scan(matched, samples, q), perSensorLimit) { (id, group) =>
      val ss = group.map(r => XorChunk.Sample(r.getLong(1) / 1000L, r.getDouble(2))).toSeq
      ss.headOption.map(first =>
        (id, XorChunk.encode(ss), first.timestampMs, ss.last.timestampMs))
    }.collect().sortBy(_._1).toSeq.map { case (id, chunk, minTs, maxTs) =>
      (labels(id), chunk, minTs, maxTs)
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
      val series = collectEncodedSeries(rows, samples, q, SensorOps.DefaultQueryLimit)
      if (series.nonEmpty)
        out.write(PrometheusRemote.encodeChunkedResponsePre(i.toLong, series))
    }
    out.toByteArray
  }
}
