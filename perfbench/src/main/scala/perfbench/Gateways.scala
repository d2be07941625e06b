package perfbench

import java.net.URLEncoder
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.SparkSession

import graft.http.Gateway
import graft.model.SensorType
import graft.store.SensorStore

/** One store with a gateway in front of it. `preloadEndMs` is the last
  * preloaded timestamp (0 without a preload); `uuids` maps each preloaded
  * series id to its sensor uuid. */
final class Env(
    val root: String, val store: SensorStore, val gateway: Gateway,
    val port: Int, val preloadEndMs: Long, val uuids: IndexedSeq[String]) {
  /** Server-side log lines of the gateway: (route, status, µs). */
  val serverLog = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int, Long)]()
}

/** Stores, requests and checks of the HTTP workloads. */
final class Gateways(spark: SparkSession, in: Inputs, work: String) {
  private var stores = 0
  private val logLine =
    """.*"path":"([^"]*)","status":(\d+),"us":(\d+).*""".r

  /** An empty store in a new directory under the run's work directory. */
  def newStore(): (String, SensorStore) = {
    stores += 1
    val root = s"$work/store-$stores"
    new java.io.File(root).mkdirs()
    (root, new SensorStore(spark, root))
  }

  /** A fresh store, with the serve preload when asked, behind a started
    * and ready gateway. */
  def setup(preload: Boolean): Env = {
    val (root, store) = newStore()
    // ten minutes before now, on a whole second
    val endMs = if (preload) (System.currentTimeMillis() / 1000L - 600L) * 1000L else 0L
    if (preload) in.preload(spark, store, endMs)
    val gateway = new Gateway(spark, store, "perfbench")
    val port = gateway.start(0)
    val uuids =
      if (!preload) IndexedSeq.empty
      else (0 until in.PreloadSeries).map(s => graft.model.Sensor.deriveUuid(
        in.preloadLabels(s).head._2, SensorType.Float, None, in.preloadLabels(s)))
    val env = new Env(root, store, gateway, port, endMs, uuids)
    gateway.logSink = {
      case logLine(route, status, us) =>
        env.serverLog.add((route, status.toInt, us.toLong))
      case _ => ()
    }
    val ready = Load.send(Load.client(), port, Req("health", "GET", "/health/ready"))
    require(ready.status == 200, s"gateway not ready: ${ready.error}")
    env
  }

  def drop(env: Env): Unit = {
    env.gateway.stop()
    graft.TempDirs.deleteRecursively(new java.io.File(env.root))
  }

  // ------------------------------------------------------------- writes

  def ingestReq(i: Int): Req = {
    val j = i / 2
    if (i % 2 == 0)
      Req("influx_write", "POST", "/api/v2/write?bucket=perf&org=bench&precision=ns",
        in.gzip(in.influxBody(j)),
        Seq("content-encoding" -> "gzip", "content-type" -> "text/plain"),
        rows = in.SeriesPerBody * in.SamplesPerSeries, tag = i)
    else
      Req("remote_write", "POST", "/api/v1/prometheus_remote_write",
        in.snappy(in.remoteWriteBody(j)), remoteWriteHeaders,
        rows = in.SeriesPerBody * in.SamplesPerSeries, tag = i)
  }

  private val remoteWriteHeaders = Seq("content-encoding" -> "snappy",
    "content-type" -> "application/x-protobuf",
    "x-prometheus-remote-write-version" -> "0.1.0")

  // -------------------------------------------------------------- reads

  val ReadKinds: IndexedSeq[String] = IndexedSeq("series_catalog", "metrics",
    "labels", "series_discovery", "series_export", "arrow_export",
    "promql_instant", "promql_range", "remote_read")

  /** Kind order of client `c`'s cycles: every kind once, rotated by two
    * kinds per client. The order does not depend on the seed, so every run
    * overlaps the same kinds across clients; the seed picks parameters. */
  def cycle(c: Int): IndexedSeq[String] = {
    val r = Math.floorMod(2 * c, ReadKinds.length)
    ReadKinds.drop(r) ++ ReadKinds.take(r)
  }

  private def enc(s: String) = URLEncoder.encode(s, StandardCharsets.UTF_8)
  private def iso(ms: Long) = java.time.Instant.ofEpochMilli(ms).toString
  private def count(p: Seq[(String, String)] => Boolean): Int =
    (0 until in.PreloadSeries).count(s => p(in.preloadLabels(s)))

  val ExportRows = 400
  val ReadSamples = 100
  val RangeSteps = 13

  /** Read `kind` with parameters drawn from (client `c`, cycle `n`); the
    * expected row count follows from the preload. */
  def readReq(env: Env, c: Int, n: Int, kind: String): Req = {
    def p(k: Int, m: Int) = in.pick(m, 6, c * 100000L + n, kind.hashCode * 16L + k)
    val metric = in.Metrics(p(0, in.Metrics.length))
    val job = s"job-${p(1, 4)}"
    val zone = s"z${p(2, 3)}"
    def ts(k: Int) = env.preloadEndMs - (in.PreloadSamples - 1 - k) * in.PreloadStepMs
    def has(l: Seq[(String, String)], kv: (String, String)*) = kv.forall(l.contains)
    kind match {
      case "series_catalog" =>
        val sel = s"""{job="$job",zone="$zone"}"""
        Req(kind, "GET", "/series?selector=" + enc(sel),
          expect = Some(count(has(_, "job" -> job, "zone" -> zone))),
          args = Map("selector" -> sel))
      case "metrics" => Req(kind, "GET", "/metrics", expect = Some(in.Metrics.length))
      case "labels" => Req(kind, "GET", "/api/v1/labels", expect = Some(4))
      case "series_discovery" =>
        val inst = f"host-${p(3, 25)}%02d"
        Req(kind, "GET", "/api/v1/series?match[]=" + enc(s"""$metric{instance="$inst"}"""),
          expect = Some(count(has(_, "__name__" -> metric, "instance" -> inst))))
      case "series_export" | "arrow_export" =>
        val k0 = p(4, in.PreloadSamples - ExportRows)
        val fmt = if (kind == "series_export") "csv" else "arrow"
        val uuid = env.uuids(p(5, in.PreloadSeries))
        Req(kind, "GET", s"/series/$uuid?format=$fmt" +
          s"&start=${enc(iso(ts(k0)))}&end=${enc(iso(ts(k0 + ExportRows - 1)))}",
          expect = Some(ExportRows), args = Map("uuid" -> uuid,
            "start_ms" -> ts(k0).toString, "end_ms" -> ts(k0 + ExportRows - 1).toString))
      case "promql_instant" =>
        // samples are 2 h apart and end 10 min before set-up: a 2 h window
        // holds exactly the last one of each series for the next 110 minutes
        val q = s"""$metric{job="$job"}[2h]"""
        Req(kind, "GET", s"/api/v1/query?format=csv&query=" + enc(q),
          expect = Some(count(has(_, "__name__" -> metric, "job" -> job))),
          args = Map("query" -> q))
      case "promql_range" =>
        val k0 = p(4, in.PreloadSamples - RangeSteps)
        // steps fall on sample timestamps; a 1 h window holds one sample
        val q = s"""avg_over_time($metric{job="$job",zone="$zone"}[1h])"""
        val end = ts(k0) + (RangeSteps - 1) * in.PreloadStepMs
        Req(kind, "GET", s"/api/v1/query_range?format=prometheus&query=${enc(q)}" +
          s"&start=${ts(k0) / 1000L}&end=${end / 1000L}&step=${in.PreloadStepMs / 1000L}",
          expect = Some(RangeSteps *
            count(has(_, "__name__" -> metric, "job" -> job, "zone" -> zone))),
          args = Map("query" -> q, "start_ms" -> ts(k0).toString,
            "end_ms" -> end.toString, "step_ms" -> in.PreloadStepMs.toString))
      case "remote_read" =>
        val k0 = p(4, in.PreloadSamples - ReadSamples)
        Req(kind, "POST", "/api/v1/prometheus_remote_read",
          in.snappy(readRequest(ts(k0), ts(k0 + ReadSamples - 1),
            Seq("__name__" -> metric, "job" -> job))),
          Seq("content-encoding" -> "snappy",
            "content-type" -> "application/x-protobuf",
            "x-prometheus-remote-read-version" -> "0.1.0"),
          expect = Some(ReadSamples * count(has(_, "__name__" -> metric, "job" -> job))),
          args = Map("metric" -> metric, "job" -> job, "start_ms" -> ts(k0).toString,
            "end_ms" -> ts(k0 + ReadSamples - 1).toString))
    }
  }

  /** ReadRequest with one query of equality matchers, accepting only
    * STREAMED_XOR_CHUNKS. */
  def readRequest(startMs: Long, endMs: Long, eq: Seq[(String, String)]): Array[Byte] = {
    import graft.prometheus.PrometheusRemote.ProtoWriter
    val q = new ProtoWriter
    q.int64(1, startMs); q.int64(2, endMs)
    eq.foreach { case (k, v) =>
      val m = new ProtoWriter; m.string(2, k); m.string(3, v); q.message(3, m)
    }
    val w = new ProtoWriter
    w.message(1, q)
    w.int64(2, 1)
    w.result()
  }

  // ------------------------------------------------------------- checks

  /** Rows and series the store holds. */
  def stored(env: Env): (Long, Set[(String, Map[String, String])]) = {
    val rows = env.store.samples(SensorType.Float).count()
    val series = env.store.sensors.select("name", "labels").collect()
      .map(r => r.getString(0) -> Option(r.getMap[String, String](1))
        .map(_.toMap).getOrElse(Map.empty[String, String])).toSet
    (rows, series)
  }

  def influxIdentity(s: Int): (String, Map[String, String]) = {
    val (m, tags) = in.influxSeries(s)
    (s"$m value", (tags ++ Seq("influxdb_bucket" -> "perf", "influxdb_org" -> "bench")).toMap)
  }
  def promIdentity(l: Seq[(String, String)]): (String, Map[String, String]) =
    (l.head._2, l.toMap)

  /** Series the acknowledged ingest requests introduced. */
  def ingestSeries(acked: Seq[Req]): Set[(String, Map[String, String])] =
    acked.flatMap { r =>
      val j = r.tag / 2
      if (r.tag % 2 == 0) in.bodySeries(0, j).map(influxIdentity)
      else in.bodySeries(1, j).map(s => promIdentity(in.promIngestLabels(s)))
    }.toSet

  def preloadSeries: Set[(String, Map[String, String])] =
    (0 until in.PreloadSeries).map(s => promIdentity(in.preloadLabels(s))).toSet

  /** Bytes and data files of the store's value tables. */
  def valueFiles(env: Env): (Long, Int) = {
    val files = Option(new java.io.File(env.root).listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("values_"))
      .flatMap(d => walk(d)).filter(f => f.getName.endsWith(".parquet"))
    (files.map(_.length).sum, files.length)
  }

  private def walk(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
}
