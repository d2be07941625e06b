package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.prometheus.PrometheusRemote.ProtoWriter

/** Deterministic inputs. Everything the system receives is derived from the
  * seed and the request index, never from a shared random stream, so any
  * assignment of requests to client threads sends the same bodies.
  */
final class Inputs(val seed: Long) {

  // splitmix64: cheap, stateless per-(seed, key) entropy
  private def mix(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }
  def h(a: Long, b: Long, c: Long = 0L): Long = mix(mix(mix(seed) ^ a) ^ b) ^ c
  def pick(n: Int, a: Long, b: Long, c: Long = 0L): Int =
    java.lang.Math.floorMod(h(a, b, c) >>> 1, n.toLong).toInt
  /** A value with three decimals: exact through text and double round trips. */
  def value(a: Long, b: Long, c: Long): Double = pick(1000000, a, b, c) / 1000.0

  // ------------------------------------------------------------ ingest

  val SeriesPerBody = 100
  val SamplesPerSeries = 20
  val NovelPerBody = 5
  /** 2024-01-31T23:55:00Z: the ingest timeline crosses into February early,
    * so the store holds two `month=` partitions. */
  val IngestBaseMs = 1706745300000L

  /** Series of a format's pool that body `j` writes: 95 seen in earlier
    * bodies plus 5 new ones (body 0 introduces its whole set). */
  def bodySeries(fmt: Int, j: Int): Seq[Int] =
    if (j == 0) 0 until SeriesPerBody
    else {
      val seen = SeriesPerBody + NovelPerBody * (j - 1)
      val old = scala.collection.mutable.LinkedHashSet.empty[Int]
      var k = 0
      while (old.size < SeriesPerBody - NovelPerBody) {
        old += pick(seen, fmt, j, k); k += 1
      }
      old.toSeq ++ (seen until seen + NovelPerBody)
    }

  val Metrics: IndexedSeq[String] = IndexedSeq(
    "node_cpu_seconds", "node_memory_bytes", "http_requests",
    "http_latency_seconds", "disk_io_bytes", "net_rx_bytes", "net_tx_bytes",
    "temp_celsius", "humidity_percent", "power_watts")

  /** Influx series `s`: measurement + tag set; the gateway names it
    * "<measurement> value" and labels it with the tags plus bucket/org. */
  def influxSeries(s: Int): (String, Seq[(String, String)]) =
    (Metrics(s % Metrics.length),
      Seq("host" -> f"h${s / Metrics.length}%04d", "site" -> s"s${s % 7}"))

  /** Remote-write series `s` of the ingest pool. */
  def promIngestLabels(s: Int): Seq[(String, String)] =
    Seq("__name__" -> Metrics(s % Metrics.length),
      "instance" -> f"w${s / Metrics.length}%04d", "job" -> "ingest")

  private def bodyTimeMs(j: Int, t: Int): Long =
    IngestBaseMs + (j.toLong * SamplesPerSeries + t) * 1000L

  /** Influx line protocol body `j` (nanosecond precision), uncompressed. */
  def influxBody(j: Int): String = {
    val sb = new java.lang.StringBuilder
    bodySeries(0, j).foreach { s =>
      val (m, tags) = influxSeries(s)
      val head = m + tags.map { case (k, v) => s",$k=$v" }.mkString
      var t = 0
      while (t < SamplesPerSeries) {
        sb.append(head).append(" value=").append(value(1, s, j * 100L + t))
          .append(' ').append(bodyTimeMs(j, t) * 1000000L).append('\n')
        t += 1
      }
    }
    sb.toString
  }

  /** Prometheus WriteRequest protobuf, uncompressed. */
  def writeRequest(
      series: Seq[(Seq[(String, String)], Seq[(Long, Double)])]): Array[Byte] = {
    val w = new ProtoWriter
    series.foreach { case (labels, samples) =>
      val ts = new ProtoWriter
      labels.sortBy(_._1).foreach { case (k, v) =>
        val l = new ProtoWriter; l.string(1, k); l.string(2, v); ts.message(1, l)
      }
      samples.foreach { case (t, v) =>
        val s = new ProtoWriter; s.double(1, v); s.int64(2, t); ts.message(2, s)
      }
      w.message(1, ts)
    }
    w.result()
  }

  def remoteWriteBody(j: Int): Array[Byte] =
    writeRequest(bodySeries(1, j).map { s =>
      (promIngestLabels(s), (0 until SamplesPerSeries).map(t =>
        (bodyTimeMs(j, t), value(2, s, j * 100L + t))))
    })

  def gzip(s: String): Array[Byte] = graft.sources.BodyCodec.gzip(s)
  def snappy(b: Array[Byte]): Array[Byte] = org.xerial.snappy.Snappy.compress(b)

  // ------------------------------------------------------------- preload

  val PreloadSeries = 1000
  val PreloadSamples = 500
  /** Two hours between samples: 500 samples span 41 days, so the preload
    * always covers at least two `month=` partitions. */
  val PreloadStepMs = 2L * 3600 * 1000

  /** Preloaded series `s`: 10 metrics x 25 instances x 4 jobs. */
  def preloadLabels(s: Int): Seq[(String, String)] = {
    val k = s / Metrics.length
    Seq("__name__" -> Metrics(s % Metrics.length),
      "instance" -> f"host-${k % 25}%02d", "job" -> s"job-${k / 25}",
      "zone" -> s"z${k % 3}")
  }

  /** Bulk-load the preload through the store's publish API, with the sensor
    * identity the remote-write path derives; samples end at `endMs`. */
  def preload(spark: SparkSession, store: graft.store.SensorStore, endMs: Long): Unit = {
    import spark.implicits._
    val series = (0 until PreloadSeries).map { s =>
      val l = preloadLabels(s)
      (s, l.head._2, l.toMap)
    }.toDF("sid", "name", "labels")
      .withColumn("uuid", call_function("sensor_uuid", col("name"), lit("Float"),
        lit(null).cast(StringType), col("labels")))
      .localCheckpoint()
    store.publishSensors(series.select(col("uuid"), col("name"), lit("Float").as("type"),
      lit(null).cast(graft.model.Schemas.sensors("unit").dataType).as("unit"),
      col("labels")))
    store.publishSamples(graft.model.SensorType.Float,
      series.select(col("sid"), col("uuid")).crossJoin(spark.range(PreloadSamples).toDF("k"))
        .select(col("uuid").as("sensor_id"),
          ((lit(endMs) - (lit(PreloadSamples - 1) - col("k")) * PreloadStepMs)
            * 1000L).as("timestamp_us"),
          (pmod(xxhash64(lit(seed), col("sid"), col("k")), lit(1000000L))
            / 1000.0).as("value")))
  }

}
