package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets

import graft.http.Gateway
import graft.model.{Sensor, SensorType, SensorUnit}
import graft.prometheus.PrometheusRemote
import graft.sources.BodyCodec
import graft.store.SensorStore

/** End-to-end HTTP tests over a real socket: the reference's integration
  * matrix shape (tests/ingestion.rs, tests/crud_dcat_api.rs,
  * tests/prometheus_remote_read_integration.rs) against our gateway.
  */
class GatewaySpec extends SparkSpec {

  private lazy val root =
    graft.TempDirs.createPath("graft_gateway")
  private lazy val store = new SensorStore(spark, root)
  private lazy val gateway = new Gateway(spark, store, "test-gateway")
  private lazy val port = gateway.start(0)
  private lazy val client = HttpClient.newHttpClient()

  private def url(path: String) = new URI(s"http://127.0.0.1:$port$path")

  private def get(path: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(url(path)).GET().build(),
      HttpResponse.BodyHandlers.ofString())

  private def post(
      path: String, body: Array[Byte],
      headers: Map[String, String]): HttpResponse[Array[Byte]] = {
    var b = HttpRequest.newBuilder(url(path))
      .POST(HttpRequest.BodyPublishers.ofByteArray(body))
    headers.foreach { case (k, v) => b = b.header(k, v) }
    client.send(b.build(), HttpResponse.BodyHandlers.ofByteArray())
  }

  test("health and frontpage") {
    val live = get("/health/live")
    assert(live.statusCode() == 200)
    // the reference's HealthResponse JSON shape (health.rs:30-38)
    assert(live.body() == """{"status":"ok"}""")
    val ready = get("/health/ready")
    assert(ready.statusCode() == 200)
    // ReadinessResponse shape: database probed OK (health.rs:53-63)
    assert(ready.body() == """{"status":"ready","database":"ok"}""")
    assert(get("/").body() == "\"test-gateway\"")
  }

  test("/health/ready probes the store and answers 503 when its root " +
      "is gone") {
    // own gateway + store: removing THIS root must not disturb the
    // spec-wide shared store
    val r2 = graft.TempDirs.createPath("graft_gateway_ready")
    val g2 = new Gateway(spark, new SensorStore(spark, r2), "ready-probe")
    val p2 = g2.start(0)
    try {
      def get2(path: String) = client.send(
        HttpRequest.newBuilder(
          new URI(s"http://127.0.0.1:$p2$path")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(get2("/health/ready").statusCode() == 200)
      // kill the store root: a load balancer must stop routing here
      graft.TempDirs.deleteRecursively(new java.io.File(r2))
      val down = get2("/health/ready")
      assert(down.statusCode() == 503)
      // reference not-ready shape (health.rs:64-72): status,
      // database:"error", and a populated error message
      assert(down.body().startsWith(
        """{"status":"not_ready","database":"error","error":"""))
      assert(down.body().contains("does not exist"))
      // liveness is unaffected by store health
      assert(get2("/health/live").statusCode() == 200)
      // recovery: restoring the root flips readiness back without a
      // restart
      new java.io.File(r2).mkdirs()
      assert(get2("/health/ready").statusCode() == 200)
    } finally g2.stop()
  }

  test("/docs serves the OpenAPI spec enumerating all 12 reference routes") {
    val r = get("/docs")
    assert(r.statusCode() == 200)
    assert(r.headers().firstValue("content-type").orElse("")
      .contains("application/json"))
    val spec = r.body()
    assert(spec.contains("\"openapi\":\"3.1.0\""))
    // the reference's 12 documented operations (server.rs:51), verbatim
    val twelve = Seq("/", "/metrics", "/series", "/series/{series_uuid}",
      "/publish", "/api/v2/write", "/api/v1/prometheus_remote_write",
      "/api/v1/prometheus_remote_read", "/api/v1/query",
      "/api/v1/admin/vacuum", "/health/live", "/health/ready")
    assert(graft.http.ApiDoc.referencePaths.toSet == twelve.toSet)
    twelve.foreach(p => assert(spec.contains("\"" + p + "\""), p))
    // extensions are documented too
    assert(spec.contains("/api/v1/query_extended"))
    // OpenAPI validity: the templated path declares its path parameter
    // (caught by the docs-UI try-it runner, which substitutes it)
    assert(spec.contains("\"name\":\"series_uuid\",\"in\":\"path\""), spec)
    // the document is valid JSON (driver-grade check: parseable)
    assert(spec.trim.startsWith("{") && spec.trim.endsWith("}"))
    // a browser gets the viewer page over the same URL
    val html = client.send(
      HttpRequest.newBuilder(url("/docs")).header("accept", "text/html")
        .GET().build(),
      HttpResponse.BodyHandlers.ofString())
    assert(html.body().contains("<!doctype html>"))
  }

  test("/docs/promql_delta serves the Prometheus-3 delta generated " +
    "from the engine's rejection map") {
    val r = get("/docs/promql_delta")
    assert(r.statusCode() == 200)
    assert(r.headers().firstValue("content-type").orElse("")
      .contains("text/markdown"))
    val page = r.body()
    assert(page.contains("# PromQL coverage vs Prometheus 3"))
    // every engine-rejected function appears on the page with its reason
    graft.promql.ExtendedPromQL.UnsupportedFns.foreach { case (fn, why) =>
      assert(page.contains(s"`$fn`"), fn)
      assert(page.contains(why.take(40)), fn)
    }
    assert(page.contains("histogram_quantile")) // the supported contrast
  }

  test("admin lineage endpoint: per-column source sets for views and " +
    "registry queries; bad targets answer 400/404") {
    // view lineage: register the store views, ask for the sensors view
    store.registerViews("glin")
    val r = get("/api/v1/admin/lineage?view=glin_sensors")
    assert(r.statusCode() == 200, r.body())
    assert(r.body().startsWith("""{"target":"glin_sensors","columns":{"""))
    // every column traces to at least itself in some source relation
    assert(r.body().contains("\"uuid\":["))
    // registry-query lineage: the q314 masked export's audit trail —
    // masked output columns must trace back to raw source columns
    val q = get("/api/v1/admin/lineage?query=q314_masked_export" +
      "&dir=/root/testdata/sf0.001")
    assert(q.statusCode() == 200, q.body().take(300))
    assert(q.body().contains("\"target\":\"q314_masked_export\""))
    // envelope is parseable JSON with a columns object
    assert(q.body().contains("\"columns\":{") && q.body().endsWith("}}"))
    // error paths: unknown view -> 404, unknown query -> 404,
    // neither/both -> 400, query without dir -> 400
    assert(get("/api/v1/admin/lineage?view=no_such_view_x")
      .statusCode() == 404)
    assert(get("/api/v1/admin/lineage?query=q999_nope&dir=/tmp")
      .statusCode() == 404)
    assert(get("/api/v1/admin/lineage").statusCode() == 400)
    assert(get("/api/v1/admin/lineage?query=q314_masked_export")
      .statusCode() == 400)
  }

  test("admin metrics endpoint: Prometheus exposition with request " +
    "counters, latency sums, and gauges") {
    assert(get("/health/live").statusCode() == 200)
    val r = get("/api/v1/admin/metrics")
    assert(r.statusCode() == 200)
    val body = r.body()
    assert(body.contains("# TYPE graft_http_requests_total counter"), body)
    assert(body.contains(
      """graft_http_requests_total{method="GET",path="/health/live",status="200"}"""),
      body)
    assert(body.contains("graft_http_request_duration_us_total"), body)
    assert(body.contains("graft_ingest_slots_available"), body)
    assert(body.contains("graft_spark_active_jobs"), body)
    // counters increase monotonically
    def count(b: String): Long = b.linesIterator
      .filter(_.startsWith("graft_http_requests_total{method=\"GET\",path=\"/health/live\""))
      .map(_.split(' ').last.toLong).sum
    val before = count(body)
    assert(get("/health/live").statusCode() == 200)
    val after = count(get("/api/v1/admin/metrics").body())
    assert(after == before + 1, s"$before -> $after")
  }

  test("per-request structured log line (method, path, status, us)") {
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val prev = gateway.logSink
    gateway.logSink = lines.add(_)
    try {
      import scala.jdk.CollectionConverters._
      assert(get("/health/live").statusCode() == 200)
      // the line is written once the response has left, so it can reach
      // the sink after the client has the response
      def healthLine() = lines.asScala.find(_.contains("/health/live"))
      val deadline = System.nanoTime() + 10000L * 1000 * 1000
      while (healthLine().isEmpty && System.nanoTime() < deadline)
        Thread.sleep(10)
      val line = healthLine().getOrElse(fail(s"no /health/live line in $lines"))
      assert(line.contains("\"method\":\"GET\""), line)
      assert(line.contains("\"path\":\"/health/live\""), line)
      assert(line.contains("\"status\":200"), line)
      assert(line.contains("\"us\":"), line)
      // env filter: error level suppresses 2xx lines
      lines.clear()
      sys.props("SENSAPP_LOG") = "error"
      try {
        assert(get("/health/live").statusCode() == 200)
        Thread.sleep(200) // time for a (wrongly) emitted line to land
        assert(lines.isEmpty)
      } finally sys.props.remove("SENSAPP_LOG")
    } finally gateway.logSink = prev
  }

  test("CSV publish → catalog → series data in all formats") {
    val csv =
      "datetime,sensor_name,value\n" +
        "2024-01-01T00:00:00Z,temp,1.5\n" +
        "2024-01-01T00:00:01Z,temp,2.5\n" +
        "2024-01-01T00:00:02Z,temp,3.5\n"
    val r = post("/publish", csv.getBytes(StandardCharsets.UTF_8),
      Map("content-type" -> "text/csv"))
    assert(r.statusCode() == 200)
    assert(new String(r.body(), "UTF-8") == "ok")

    val metrics = get("/metrics")
    assert(metrics.statusCode() == 200)
    assert(metrics.body().contains("\"dct:title\":\"temp\""))

    val series = get("/series")
    assert(series.statusCode() == 200)
    val uuid = Sensor.deriveUuid("temp", SensorType.Float, None, Nil)
    assert(series.body().contains(uuid))

    val senml = get(s"/series/$uuid")
    assert(senml.statusCode() == 200)
    assert(senml.body().startsWith("["))
    assert(senml.body().contains("\"bn\":\"" + uuid + "\""))
    assert(senml.body().contains("\"v\":1.5"))

    val csvOut = get(s"/series/$uuid?format=csv")
    assert(csvOut.body().startsWith("timestamp,value\n"))
    assert(csvOut.body().contains("2024-01-01T00:00:01.000000Z,2.5"))

    val jsonl = get(s"/series/$uuid?format=jsonl")
    assert(jsonl.body().linesIterator.size == 3)

    // time-range + limit narrowing
    val ranged = get(s"/series/$uuid?start=2024-01-01T00:00:01Z&limit=1&format=csv")
    val lines = ranged.body().trim.linesIterator.toSeq
    assert(lines == Seq("timestamp,value", "2024-01-01T00:00:01.000000Z,2.5"))

    // 404 on unknown uuid, 400 on bad uuid / bad format
    assert(get("/series/00000000-0000-8000-8000-000000000000").statusCode() == 404)
    assert(get("/series/nonsense").statusCode() == 400)
    assert(get(s"/series/$uuid?format=exotic").statusCode() == 400)
  }

  test("1M-row export streams: chunked transfer (no content-length), " +
    "complete body, multi-batch Arrow") {
    import spark.implicits._
    // sensor enters the catalog through the normal publish edge …
    val csv = "datetime,sensor_name,value\n" +
      "2024-05-01T00:00:00Z,bigexport,0.0\n"
    assert(post("/publish", csv.getBytes(StandardCharsets.UTF_8),
      Map("content-type" -> "text/csv")).statusCode() == 200)
    val uuid = Sensor.deriveUuid("bigexport", SensorType.Float, None, Nil)
    // … and the bulk lands directly in the store (1M rows via HTTP CSV
    // would dominate the test's runtime without adding coverage)
    val n = 1000000
    val base = 1714521600000000L // 2024-05-01T00:00:00Z
    store.publishSamples(SensorType.Float,
      spark.range(1, n.toLong)
        .select(org.apache.spark.sql.functions.lit(uuid).as("sensor_id"),
          (org.apache.spark.sql.functions.lit(base) +
            org.apache.spark.sql.functions.col("id") * 1000000L)
            .as("timestamp_us"),
          (org.apache.spark.sql.functions.col("id") % 1000)
            .cast("double").as("value")))
    // CSV: chunked transfer — the edge never materializes the payload
    val r = get(s"/series/$uuid?format=csv")
    assert(r.statusCode() == 200)
    assert(r.headers().firstValue("content-length").isEmpty,
      "export must stream (no content-length)")
    assert(r.headers().firstValue("transfer-encoding").orElse("")
      == "chunked", r.headers().map().toString)
    val lines = r.body().linesIterator.size
    assert(lines == n + 1, s"header + $n rows, got $lines")
    // Arrow: the IPC file must carry MULTIPLE record batches — proof
    // the encoder streamed bounded batches instead of buffering the
    // series into one giant batch
    val a = client.send(
      HttpRequest.newBuilder(url(s"/series/$uuid?format=arrow"))
        .GET().build(),
      HttpResponse.BodyHandlers.ofByteArray())
    assert(a.statusCode() == 200)
    assert(a.headers().firstValue("content-length").isEmpty)
    val decoded = graft.sources.ArrowIO.decodeFloatSeries(a.body())
    assert(decoded.length == n)
    assert(decoded.head == ((base, 0.0)))
    assert(decoded(999999) == ((base + 999999L * 1000000L, 999.0)))
    val reader = new org.apache.arrow.vector.ipc.ArrowFileReader(
      new org.apache.arrow.vector.util.ByteArrayReadableSeekableByteChannel(
        a.body()),
      new org.apache.arrow.memory.RootAllocator())
    try assert(reader.getRecordBlocks.size >= n / 65536,
      s"expected >= ${n / 65536} streamed batches, " +
        s"got ${reader.getRecordBlocks.size}")
    finally reader.close()
    // the iterator-enforced row cap honors ?limit on the streamed path
    // (first rows by timestamp — same semantics as the plan-level limit)
    val capped = client.send(
      HttpRequest.newBuilder(
        url(s"/series/$uuid?format=arrow&limit=1000")).GET().build(),
      HttpResponse.BodyHandlers.ofByteArray())
    val cappedRows = graft.sources.ArrowIO.decodeFloatSeries(capped.body())
    assert(cappedRows.length == 1000)
    assert(cappedRows.head == ((base, 0.0)))
  }

  test("concurrent requests are served in parallel, not serially") {
    // publish something queryable first
    val csv =
      "datetime,sensor_name,value\n" +
        "2024-03-01T00:00:00Z,conc,1.0\n" +
        "2024-03-01T00:00:01Z,conc,2.0\n"
    assert(post("/publish", csv.getBytes(StandardCharsets.UTF_8),
      Map("content-type" -> "text/csv")).statusCode() == 200)
    // N simultaneous Spark-job-running queries through the pool
    // executor: all must complete, and the x-served-by header must show
    // MORE THAN ONE worker thread — a serial executor (the pre-round-5
    // setExecutor(null)) stamps every response with the same dispatcher
    // thread
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val callers = Executors.newFixedThreadPool(6)
    try {
      val started = new CountDownLatch(6)
      val futures = (1 to 6).map { _ =>
        callers.submit(new java.util.concurrent.Callable[(Int, String)] {
          def call(): (Int, String) = {
            started.countDown()
            started.await(10, TimeUnit.SECONDS)
            val r = get("/series")
            (r.statusCode(),
              r.headers().firstValue("x-served-by").orElse("?"))
          }
        })
      }
      val results = futures.map(_.get(120, TimeUnit.SECONDS))
      assert(results.forall(_._1 == 200))
      val threads = results.map(_._2).toSet
      assert(threads.size > 1 && threads.forall(_.startsWith("gateway-")),
        s"expected multiple pool workers, saw $threads")
    } finally callers.shutdown()
  }

  test("Influx write with gzip body → samples queryable") {
    val lines =
      "weather,site=oslo temperature=11.5 1704067200000000000\n" +
        "weather,site=oslo temperature=12.5 1704067260000000000\n"
    val r = post("/api/v2/write?bucket=b1&org=o1&precision=ns",
      BodyCodec.gzip(lines),
      Map("content-encoding" -> "gzip"))
    assert(r.statusCode() == 204)

    val uuid = Sensor.deriveUuid("weather temperature", SensorType.Float, None,
      Seq("influxdb_bucket" -> "b1", "influxdb_org" -> "o1", "site" -> "oslo"))
    val got = get(s"/series/$uuid?format=csv")
    assert(got.statusCode() == 200)
    assert(got.body().contains("11.5") && got.body().contains("12.5"))
  }

  test("Influx write ?numeric=true lands exact Numeric samples") {
    val lines =
      "power,site=kyoto watts=1.05 1704067200000000000\n" +
        "power,site=kyoto pulses=9007199254740993i 1704067200000000000\n"
    val r = post("/api/v2/write?bucket=b2&org=o2&numeric=true",
      lines.getBytes(StandardCharsets.UTF_8), Map.empty)
    assert(r.statusCode() == 204)
    // both fields land as Numeric series (type participates in the uuid)
    val labels = Seq("influxdb_bucket" -> "b2", "influxdb_org" -> "o2",
      "site" -> "kyoto")
    import org.apache.spark.sql.functions.col
    val numeric = store.samples(graft.model.SensorType.Numeric)
    val watts = Sensor.deriveUuid("power watts",
      graft.model.SensorType.Numeric, None, labels)
    val pulses = Sensor.deriveUuid("power pulses",
      graft.model.SensorType.Numeric, None, labels)
    val w = numeric.filter(col("sensor_id") === watts)
      .select("value").collect()
    assert(w.length == 1)
    // exact decimal: the wire literal, not the f64 expansion
    assert(w.head.getDecimal(0).compareTo(
      new java.math.BigDecimal("1.05")) == 0)
    val pc = numeric.filter(col("sensor_id") === pulses)
      .select("value").collect()
    assert(pc.length == 1)
    // i64 exactness beyond double's 2^53 mantissa
    assert(pc.head.getDecimal(0).compareTo(
      new java.math.BigDecimal("9007199254740993")) == 0)
  }

  test("Prometheus remote write → remote read roundtrip (SAMPLES)") {
    import PrometheusRemote._
    val rw = post("/api/v1/prometheus_remote_write", RemoteWriteBodies(Seq(
      Seq("__name__" -> "http_requests", "job" -> "api") ->
        Seq(1.0 -> 1704067200000L, 2.0 -> 1704067260000L))), Map.empty)
    assert(rw.statusCode() == 204)

    // read it back: Query{start=1, end=2, matchers=[{EQ,__name__,...}]}
    val mq = new ProtoWriter
    mq.int64(1, 1704067100000L)
    mq.int64(2, 1704067300000L)
    val mw = new ProtoWriter
    mw.int64(1, 0); mw.string(2, "__name__"); mw.string(3, "http_requests")
    mq.message(3, mw)
    val rr = new ProtoWriter
    rr.message(1, mq)
    val headers = Map(
      "content-encoding" -> "snappy",
      "content-type" -> "application/x-protobuf",
      "x-prometheus-remote-read-version" -> "0.1.0")
    val resp = post("/api/v1/prometheus_remote_read",
      snappyCompressLiteral(rr.result()), headers)
    assert(resp.statusCode() == 200)
    val payload = snappyDecompress(resp.body())
    // sanity: response protobuf carries both sample values and the labels
    val s = payload.map(b => if (b >= 32 && b < 127) b.toChar else '.').mkString
    assert(s.contains("http_requests") && s.contains("job") && s.contains("api"))

    // header enforcement
    assert(post("/api/v1/prometheus_remote_read", Array.emptyByteArray,
      headers - "content-encoding").statusCode() == 400)
    assert(post("/api/v1/prometheus_remote_read", Array.emptyByteArray,
      headers + ("x-prometheus-remote-read-version" -> "9.9")).statusCode() == 400)
  }

  test("Prometheus discovery API: /labels, /label/{name}/values, " +
      "/series with match[] union, limit, and rejections (r15)") {
    def enc(s: String) =
      java.net.URLEncoder.encode(s, StandardCharsets.UTF_8)
    val m = "match%5B%5D" // match[]
    // three labeled series under a unique prefix (the store is shared
    // across this spec's tests)
    val lines =
      "disco_cpu,host=a,dc=eu usage=1 1704067200000000000\n" +
        "disco_cpu,host=b,dc=us usage=2 1704067200000000000\n" +
        "disco_mem,host=a free=3 1704067200000000000\n"
    assert(post("/api/v2/write?bucket=db&org=do",
      lines.getBytes(StandardCharsets.UTF_8), Map.empty).statusCode() == 204)
    val sel = enc("""{__name__=~"disco_.*"}""")

    // /api/v1/labels filtered to the fixture: exactly its label names,
    // sorted, __name__ first
    val ls = get(s"/api/v1/labels?$m=$sel")
    assert(ls.statusCode() == 200)
    assert(ls.body() == """{"status":"success","data":[""" +
      """"__name__","dc","host","influxdb_bucket","influxdb_org"]}""",
      ls.body())
    // unfiltered: a superset including the fixture's labels
    val all = get("/api/v1/labels")
    assert(all.statusCode() == 200 && all.body().contains("\"host\""))

    // /api/v1/label/{name}/values, match[]-filtered and limited
    val hosts = get(s"/api/v1/label/host/values?$m=$sel")
    assert(hosts.body() ==
      """{"status":"success","data":["a","b"]}""", hosts.body())
    val one = get(s"/api/v1/label/host/values?$m=$sel&limit=1")
    assert(one.body() == """{"status":"success","data":["a"]}""")
    val names = get(s"/api/v1/label/__name__/values?$m=$sel")
    assert(names.body() == """{"status":"success","data":[""" +
      """"disco_cpu usage","disco_mem free"]}""", names.body())
    // a label nothing carries: empty data, not an error
    assert(get(s"/api/v1/label/absent_label/values?$m=$sel").body() ==
      """{"status":"success","data":[]}""")

    // /api/v1/series: label sets with __name__ first, keys sorted;
    // two match[] params union
    val dcEu = enc("""{__name__=~"disco_.*",dc="eu"}""")
    val mem = enc("""{__name__="disco_mem free"}""")
    val series = get(s"/api/v1/series?$m=$dcEu&$m=$mem")
    assert(series.statusCode() == 200)
    val sBody = series.body()
    assert(sBody.startsWith("""{"status":"success","data":["""))
    assert(sBody.contains("""{"__name__":"disco_cpu usage","dc":"eu",""" +
      """"host":"a","influxdb_bucket":"db","influxdb_org":"do"}"""), sBody)
    assert(sBody.contains("""{"__name__":"disco_mem free","dc":null""")
      == false, sBody) // absent labels are OMITTED, not null
    assert(sBody.contains("""{"__name__":"disco_mem free","host":"a",""" +
      """"influxdb_bucket":"db","influxdb_org":"do"}"""), sBody)
    assert(!sBody.contains("\"dc\":\"us\""), sBody) // host b not matched

    // rejections: series without match[], a RANGE selector, bad limit
    assert(get("/api/v1/series").statusCode() == 400)
    assert(get(s"/api/v1/series?$m=${enc("""{dc="eu"}[5m]""")}")
      .statusCode() == 400)
    assert(get(s"/api/v1/labels?limit=-1").statusCode() == 400)
    assert(get("/api/v1/label/host/notvalues").statusCode() == 404)

    // /api/v1/metadata: per-metric entries, numeric types as gauge
    val meta = get("/api/v1/metadata?metric=" + enc("disco_cpu usage"))
    assert(meta.statusCode() == 200)
    assert(meta.body() == """{"status":"success","data":{""" +
      """"disco_cpu usage":[{"type":"gauge","help":"","unit":""}]}}""",
      meta.body())
    val metaAll = get("/api/v1/metadata?limit=1")
    assert(metaAll.statusCode() == 200 &&
      metaAll.body().startsWith("""{"status":"success","data":{"""))
  }

  test("simple PromQL endpoint with formats and rejection") {
    // data from the CSV test (sensor temp) has no labels; query by name.
    // instant query would use now-lookback; our data is in 2024, so use a
    // range long enough from now — instead query with matcher selector via
    // /series/{uuid} covered above; here exercise format dispatch + errors.
    val bad = get("/api/v1/query?query=sum(temp)")
    assert(bad.statusCode() == 400)
    val badFmt = get("/api/v1/query?query=temp&format=exotic")
    assert(badFmt.statusCode() == 400)
    val ok = get("/api/v1/query?query=temp")
    assert(ok.statusCode() == 200)
    assert(ok.body().startsWith("[")) // empty senml array (data outside lookback)
  }

  test("multi-series /api/v1/query exports stream (chunked) in all " +
    "four formats with correct content") {
    import spark.implicits._
    // a series INSIDE the instant-query lookback window (now-ish)
    val nowUs = System.currentTimeMillis() * 1000L
    val csv = "datetime,sensor_name,value\n" +
      s"${java.time.Instant.ofEpochMilli(nowUs / 1000 - 30000)},qstream,7.5\n" +
      s"${java.time.Instant.ofEpochMilli(nowUs / 1000 - 20000)},qstream,8.5\n"
    assert(post("/publish", csv.getBytes(StandardCharsets.UTF_8),
      Map("content-type" -> "text/csv")).statusCode() == 200)
    val senml = get("/api/v1/query?query=qstream")
    assert(senml.statusCode() == 200)
    assert(senml.headers().firstValue("content-length").isEmpty,
      "multi-series export must stream")
    assert(senml.body().contains("\"v\":7.5"), senml.body())
    val csvOut = get("/api/v1/query?query=qstream&format=csv")
    assert(csvOut.statusCode() == 200)
    assert(csvOut.headers().firstValue("content-length").isEmpty)
    assert(csvOut.body().contains("8.5"), csvOut.body())
    val jsonl = get("/api/v1/query?query=qstream&format=jsonl")
    assert(jsonl.statusCode() == 200)
    assert(jsonl.headers().firstValue("content-length").isEmpty)
    assert(jsonl.body().linesIterator
      .count(_.contains("\"sensor_name\":\"qstream\"")) == 2, jsonl.body())
    val arrow = client.send(
      HttpRequest.newBuilder(
        url("/api/v1/query?query=qstream&format=arrow")).GET().build(),
      HttpResponse.BodyHandlers.ofByteArray())
    assert(arrow.statusCode() == 200)
    assert(arrow.headers().firstValue("content-length").isEmpty)
    val rows = graft.sources.ArrowIO.decodeLongFormat(arrow.body())
    assert(rows.map(_.value).sorted == Seq("7.5", "8.5"), rows)
    assert(rows.forall(_.sensorName == "qstream"))
  }

  test("arrow export roundtrips through ArrowIO") {
    // float series written by the CSV publish test
    val uuid = Sensor.deriveUuid("temp", SensorType.Float, None, Nil)
    val resp = client.send(
      HttpRequest.newBuilder(url(s"/series/$uuid?format=arrow")).GET().build(),
      HttpResponse.BodyHandlers.ofByteArray())
    assert(resp.statusCode() == 200)
    val rows = graft.sources.ArrowIO.decodeFloatSeries(resp.body())
    assert(rows.map(_._2) == Seq(1.5, 2.5, 3.5))
    assert(rows.head._1 == 1704067200000000L)
  }

  test("typed arrow publish + export roundtrip (non-Float types)") {
    import graft.sources.ArrowIO
    import graft.model.SensorType
    // Integer series via the typed IPC layout: the value field's Arrow
    // type names the sensor type, sensor_id is the uuid
    val uuid = "11111111-2222-3333-4444-555555555555"
    val ser = ArrowIO.TypedSeries(SensorType.Integer, Some(uuid), Some("ticks"),
      Seq((1704067200000000L, 5L), (1704067201000000L, -7L)))
    val r = post("/publish", ArrowIO.encodeTypedSeries(ser),
      Map("content-type" -> "application/vnd.apache.arrow.file"))
    assert(r.statusCode() == 200, new String(r.body(), "UTF-8"))
    // the catalog learned the sensor under the file's uuid and type
    val listed = get("/series")
    assert(listed.body().contains(uuid), listed.body())
    assert(listed.body().contains("ticks"))
    // export back as arrow: typed Int64 schema, exact values + metadata
    val out = client.send(
      HttpRequest.newBuilder(url(s"/series/$uuid?format=arrow")).GET().build(),
      HttpResponse.BodyHandlers.ofByteArray())
    assert(out.statusCode() == 200)
    val back = ArrowIO.decodeTypedSeries(out.body())
    assert(back.sensorType == SensorType.Integer)
    assert(back.samples == ser.samples)
    assert(back.sensorId.contains(uuid))
    assert(back.sensorName.contains("ticks"))
    // Location roundtrips through the store's struct column too
    val luuid = "99999999-8888-7777-6666-555555555555"
    val lser = ArrowIO.TypedSeries(SensorType.Location, Some(luuid), None,
      Seq((1704067200000000L, (59.9127, 10.7461))))
    assert(post("/publish", ArrowIO.encodeTypedSeries(lser),
      Map("content-type" -> "application/vnd.apache.arrow.file"))
      .statusCode() == 200)
    val lout = client.send(
      HttpRequest.newBuilder(url(s"/series/$luuid?format=arrow")).GET().build(),
      HttpResponse.BodyHandlers.ofByteArray())
    val lback = ArrowIO.decodeTypedSeries(lout.body())
    assert(lback.sensorType == SensorType.Location)
    assert(lback.samples == lser.samples)
    assert(lback.sensorName.contains(luuid)) // name fell back to sensor_id
  }

  test("typed arrow export of a non-Float series streams: chunked, " +
    "capped at limit") {
    import graft.sources.ArrowIO
    val uuid = "22222222-3333-4444-5555-666666666666"
    val ser = ArrowIO.TypedSeries(SensorType.Integer, Some(uuid), Some("steps"),
      (0 until 5).map(i => (1704067200000000L + i * 1000000L, i * 10L - 20L)))
    assert(post("/publish", ArrowIO.encodeTypedSeries(ser),
      Map("content-type" -> "application/vnd.apache.arrow.file"))
      .statusCode() == 200)
    val out = client.send(
      HttpRequest.newBuilder(url(s"/series/$uuid?format=arrow&limit=3"))
        .GET().build(),
      HttpResponse.BodyHandlers.ofByteArray())
    assert(out.statusCode() == 200)
    assert(out.headers().firstValue("content-length").isEmpty,
      out.headers().map().toString)
    val back = ArrowIO.decodeTypedSeries(out.body())
    assert(back == ser.copy(samples = ser.samples.take(3)))
  }

  test("typed arrow publish without sensor_id mints a fresh uuid") {
    import graft.sources.ArrowIO
    // The gateway's own Float export emits only timestamp+value; the
    // reference importer accepts such a file and generates a new UUID
    // (src/importers/arrow.rs:304-321), so export→publish must roundtrip.
    val uuidRe = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r
    def listedUuids(): Set[String] =
      uuidRe.findAllIn(get("/series").body()).toSet
    val before = listedUuids()
    val bytes = ArrowIO.encodeFloatSeries(
      Seq((1704067200000000L, 42.5), (1704067201000000L, -1.25)))
    val r = post("/publish", bytes,
      Map("content-type" -> "application/vnd.apache.arrow.file"))
    assert(r.statusCode() == 200, new String(r.body(), "UTF-8"))
    val fresh = listedUuids() -- before
    assert(fresh.size == 1, s"expected exactly one new sensor, got $fresh")
    val out = client.send(
      HttpRequest.newBuilder(
        url(s"/series/${fresh.head}?format=arrow")).GET().build(),
      HttpResponse.BodyHandlers.ofByteArray())
    assert(out.statusCode() == 200)
    assert(ArrowIO.decodeFloatSeries(out.body()).map(_._2) ==
      Seq(42.5, -1.25))
  }

  test("extended PromQL endpoint aggregates; strict endpoint still rejects") {
    // uses the remote-write data (http_requests with job=api, 2024-01)
    val q = java.net.URLEncoder.encode(
      "sum_over_time(http_requests[31d])", "UTF-8")
    val ok = get(s"/api/v1/query_extended?query=$q")
    assert(ok.statusCode() == 200)
    // window is now-31d (2026) — empty result, but the endpoint accepts it
    assert(get("/api/v1/query?query=" + q).statusCode() == 400)
    assert(get("/api/v1/query_extended?query=" + java.net.URLEncoder.encode(
      "1 + 2", "UTF-8")).statusCode() == 400)
    // range functions flow through the same endpoint
    val rateQ = java.net.URLEncoder.encode("rate(http_requests[31d])", "UTF-8")
    assert(get(s"/api/v1/query_extended?query=$rateQ").statusCode() == 200)
    assert(get(s"/api/v1/query?query=$rateQ").statusCode() == 400)
    // holt_winters and sort ride the same dispatch
    val hwQ = java.net.URLEncoder.encode(
      "holt_winters(http_requests[31d], 0.5, 0.5)", "UTF-8")
    assert(get(s"/api/v1/query_extended?query=$hwQ").statusCode() == 200)
    val sortQ = java.net.URLEncoder.encode("sort_desc(http_requests)", "UTF-8")
    assert(get(s"/api/v1/query_extended?query=$sortQ").statusCode() == 200)
    // topk and binary expressions route through evalWith (two matcher
    // sets for the binary case); the strict endpoint still rejects both
    val topkQ = java.net.URLEncoder.encode("topk(2, http_requests)", "UTF-8")
    assert(get(s"/api/v1/query_extended?query=$topkQ").statusCode() == 200)
    assert(get(s"/api/v1/query?query=$topkQ").statusCode() == 400)
    val binQ = java.net.URLEncoder.encode(
      "rate(http_requests[31d]) / rate(http_requests[31d])", "UTF-8")
    assert(get(s"/api/v1/query_extended?query=$binQ").statusCode() == 200)
    assert(get(s"/api/v1/query?query=$binQ").statusCode() == 400)
    // aggregations compose as binary operands on the extension (the
    // canonical Prometheus ratio; empty result here — no a/b metrics —
    // but the endpoint parses and evaluates it)
    assert(get("/api/v1/query_extended?query=" + java.net.URLEncoder.encode(
      "sum(a) / sum(b)", "UTF-8")).statusCode() == 200)
    // a genuinely non-vector operand still rejects with a 400
    assert(get("/api/v1/query_extended?query=" + java.net.URLEncoder.encode(
      "a and scalar(b)", "UTF-8")).statusCode() == 400)
    // aggregation inside a subquery — the canonical alerting shape —
    // parses and evaluates end-to-end through the serving path
    assert(get("/api/v1/query_extended?query=" + java.net.URLEncoder.encode(
      "max_over_time(sum(rate(http_requests[1d]))[31d:1d])", "UTF-8"))
      .statusCode() == 200)
    // format=prometheus: the instant-query VECTOR envelope — evaluated
    // at time=1704067260, the series' latest sample is 2.0 and sum(...)
    // groups to the empty metric
    val vec = get("/api/v1/query_extended?query=" +
      java.net.URLEncoder.encode("sum(http_requests)", "UTF-8") +
      "&time=1704067260&format=prometheus")
    assert(vec.statusCode() == 200, vec.body())
    assert(vec.body().startsWith(
      """{"status":"success","data":{"resultType":"vector","result":["""),
      vec.body())
    assert(vec.body().contains(""""value":[1704067260,"2"]"""), vec.body())
    assert(vec.body().endsWith("]}}"), vec.body().takeRight(30))
  }

  test("Grafana dashboard shape: query_range burn-rate panel at 241 " +
      "steps — matrix envelope, stage count invariant in steps (r15)") {
    // the SLO burn-rate ratio (q377's panel shape) over fresh fixtures:
    // errors every minute, views twice a minute, so every step's 2m
    // window across the whole 4-minute range has both operands
    val csv = "datetime,sensor_name,value\n" + (0 to 4).map { m =>
      f"2024-01-01T00:0$m%d:00Z,panel_err,1\n" +
        f"2024-01-01T00:0$m%d:00Z,panel_view,1\n" +
        f"2024-01-01T00:0$m%d:01Z,panel_view,1\n"
    }.mkString
    assert(post("/publish", csv.getBytes(StandardCharsets.UTF_8),
      Map("content-type" -> "text/csv")).statusCode() == 200)
    val q = java.net.URLEncoder.encode(
      "sum(count_over_time(panel_err[2m])) / " +
        "sum(count_over_time(panel_view[2m]))", "UTF-8")
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageSubmitted(
          s: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        stages.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      def run(endOff: Int): (Int, String) = {
        Thread.sleep(400) // drain stragglers from prior work
        stages.set(0)
        val r = get(s"/api/v1/query_range?query=$q&start=1704067200" +
          s"&end=${1704067200L + endOff}&step=1&format=prometheus")
        assert(r.statusCode() == 200, r.body())
        Thread.sleep(500) // listener events are async
        (stages.get(), r.body())
      }
      val (s60, _) = run(60)
      val (s240, body) = run(240)
      // the Prometheus matrix envelope Grafana consumes
      assert(body.startsWith("""{"status":"success","data":""" +
        """{"resultType":"matrix","result":["""), body.take(120))
      assert(body.endsWith("]}}"), body.takeRight(30))
      // one series (sum groups to the empty metric), one [ts,"v"] pair
      // per step: 241 steps at 1s over [start, end]
      val pairs = """\[1704067\d{3},"""".r.findAllIn(body).size
      assert(pairs == 241, s"expected 241 step values, got $pairs")
      // at the range end the 2m window holds 3 errs (t0+120/180/240)
      // and 5 views (:00+:01 pairs at 120/180, :00 at 240) → 0.6
      assert(body.contains("""[1704067440,"0.6"]"""), body.takeRight(120))
      // THE SCALE PIN: 4x the steps must not grow the number of Spark
      // stages — each operand side is ONE scan pass with a broadcast
      // step grid, never a per-step loop (the q378 plan pin generalized
      // to the API path)
      assert(s240 <= s60 + 2,
        s"stage count grew with step count: $s60 -> $s240")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("query_range: per-step JSONL rows over the fixture month") {
    // http_requests samples live at 2024-01 (remote-write fixture);
    // sum the counter at day steps across January
    val q = java.net.URLEncoder.encode("sum(http_requests)", "UTF-8")
    val resp = get(s"/api/v1/query_range?query=$q" +
      "&start=1704067200&end=1706745600&step=1d")
    assert(resp.statusCode() == 200, resp.body())
    val lines = resp.body().linesIterator.filter(_.nonEmpty).toSeq
    assert(lines.nonEmpty)
    assert(lines.head.contains("\"t_us\"") &&
      lines.head.contains("\"value\""), lines.head)
    // float-second steps work too (the Prometheus API's other spelling)
    assert(get(s"/api/v1/query_range?query=$q" +
      "&start=1704067200&end=1704240000&step=86400").statusCode() == 200)
    // every Prometheus float spelling of step parses as seconds
    for (step <- Seq("86400.0", "86400.", "8.64e4", ".5e9"))
      assert(get(s"/api/v1/query_range?query=$q" +
        s"&start=1704067200&end=1704240000&step=$step").statusCode() == 200,
        step)
    // a whole-expression @ pin answers (constant series), a
    // sub-expression @ is a clean 400
    // samples live at the range start (1704067200/+60s): pin there
    val pinned = get(s"/api/v1/query_range?query=" +
      java.net.URLEncoder.encode("sum(http_requests) @ start()", "UTF-8") +
      "&start=1704067200&end=1704240000&step=1d")
    assert(pinned.statusCode() == 200, pinned.body())
    val pinnedVals = pinned.body().linesIterator.filter(_.nonEmpty).toSeq
    assert(pinnedVals.size == 3) // 3 steps, one constant series
    assert(get(s"/api/v1/query_range?query=" +
      java.net.URLEncoder.encode("abs(http_requests @ 1704240000)",
        "UTF-8") +
      "&start=1704067200&end=1704240000&step=1d").statusCode() == 400)
    // missing step is a 400, not a 500
    assert(get(s"/api/v1/query_range?query=$q" +
      "&start=1704067200&end=1706745600").statusCode() == 400)
    // vector-vector operands evaluate per step (r14: the dashboard
    // ratio panel) — one scan pass per side
    val ratio = java.net.URLEncoder.encode(
      "http_requests / sum(http_requests)", "UTF-8")
    val rresp = get(s"/api/v1/query_range?query=$ratio" +
      "&start=1704067200&end=1704240000&step=1d")
    assert(rresp.statusCode() == 200, rresp.body())
    // genuinely unsupported range shapes still 400 (ranked vectors)
    val bad = java.net.URLEncoder.encode("topk(2, http_requests)", "UTF-8")
    assert(get(s"/api/v1/query_range?query=$bad" +
      "&start=1704067200&end=1706745600&step=1d").statusCode() == 400)
    // format=prometheus: the HTTP-API matrix envelope Grafana consumes,
    // valid JSON end to end with string-rendered sample values
    val prom = get(s"/api/v1/query_range?query=$q" +
      "&start=1704067200&end=1704240000&step=1d&format=prometheus")
    assert(prom.statusCode() == 200, prom.body())
    assert(prom.headers().firstValue("content-type").orElse("")
      .contains("application/json"))
    val pb = prom.body()
    assert(pb.startsWith(
      """{"status":"success","data":{"resultType":"matrix","result":["""), pb)
    assert(pb.endsWith("]}}"), pb.takeRight(40))
    // the 5m default lookback catches only the sample AT the range
    // start (sum = 1); values render as strings (Prometheus wire shape)
    assert(pb.contains(""""values":[[1704067200,"1"]]"""), pb)
  }

  test("deep nesting and long operator chains answer 400, not a stack " +
      "overflow") {
    def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    val parens = "(" * 300 + "http_requests" + ")" * 300
    val chain = Seq.fill(400)("http_requests").mkString(" + ")
    for (q <- Seq(parens, chain)) {
      val instant = get(s"/api/v1/query_extended?query=${enc(q)}")
      assert(instant.statusCode() == 400, instant.body())
      assert(instant.body().contains("nests deeper"), instant.body())
      val range = get(s"/api/v1/query_range?query=${enc(q)}" +
        "&start=1704067200&end=1704240000&step=1d")
      assert(range.statusCode() == 400, range.body())
    }
    // the strict endpoint unwraps any number of parens around a selector
    val deep = get("/api/v1/query?query=" +
      enc("(" * 5000 + "http_requests" + ")" * 5000))
    val flat = get("/api/v1/query?query=" + enc("(http_requests)"))
    assert(flat.statusCode() == 200, flat.body())
    assert(deep.statusCode() == flat.statusCode())
    assert(deep.body() == flat.body())
  }

  test("a grouping label list that is not comma-separated names answers 400") {
    def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    val bad = get("/api/v1/query_extended?query=" + enc("sum by (a b) (x)"))
    assert(bad.statusCode() == 400, bad.body())
    assert(bad.body().contains("Bad label list 'a b'"), bad.body())
    for (q <- Seq("sum by (\"a\") (x)", "sum by (a,,b) (x)"))
      assert(get("/api/v1/query_extended?query=" + enc(q)).statusCode() == 400, q)
    assert(get("/api/v1/query_extended?query=" +
      enc("sum by (job,) (http_requests)")).statusCode() == 200)
  }

  test("deeply nested label regexes answer 400, not a stack overflow") {
    def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    // both inside the 4,000-char pattern cap; 1,999 groups overflowed
    // the compiler's stack on a gateway worker
    for (n <- Seq(900, 1999)) {
      val deep = "(" * n + "x" + ")" * n
      val series = get("/series?selector=" + enc(s"""{env=~"$deep"}"""))
      assert(series.statusCode() == 400, series.body())
      assert(series.body().contains("nest deeper"), series.body())
      val metrics = get("/metrics?name_regex=" + enc(deep))
      assert(metrics.statusCode() == 400, metrics.body())
      assert(metrics.body().contains("nest deeper"), metrics.body())
    }
  }

  test("bulk export: per-series IPC files + manifest, no data on driver path") {
    val dir = graft.TempDirs.createPath("gw_bulk")
    // http_requests samples live at 2024-01 (remote-write fixture) —
    // selector windows are now-relative, so use a wide matrix range
    val q = java.net.URLEncoder.encode("http_requests[1500w]", "UTF-8")
    val d = java.net.URLEncoder.encode(dir, "UTF-8")
    val resp = get(s"/api/v1/admin/export_bulk?query=$q&dir=$d")
    assert(resp.statusCode() == 200, resp.body())
    val body = resp.body()
    assert(body.startsWith("[") && body.contains("\"sensor_id\""), body)
    assert(body.contains("\"n_samples\"") && body.contains(".arrow"), body)
    // the manifest's files exist and decode as standalone IPC payloads
    val FileRe = """"file":"([^"]+)"""".r
    val files = FileRe.findAllMatchIn(body).map(_.group(1)).toSeq
    assert(files.nonEmpty)
    files.foreach { f =>
      val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f))
      assert(graft.sources.ArrowIO.decodeFloatSeries(bytes).nonEmpty)
    }
    assert(get(s"/api/v1/admin/export_bulk?query=$q").statusCode() == 400)
  }

  test("vacuum endpoint") {
    assert(get("/api/v1/admin/vacuum").statusCode() == 405 ||
      post("/api/v1/admin/vacuum", Array.emptyByteArray, Map.empty)
        .statusCode() == 200)
  }

  test("GET queries racing a vacuum never surface a vanished-file 500 " +
      "(router retry, store contract)") {
    // own store+gateway: the race needs multi-file months to compact
    import org.apache.spark.sql.functions.col
    val spark2 = spark
    import spark2.implicits._
    val r2 = graft.TempDirs.createPath("graft_gateway_race")
    val s2 = new SensorStore(spark, r2)
    val g2 = new Gateway(spark, s2, "race-gateway")
    val p2 = g2.start(0)
    try {
      val name = "race_metric"
      val uuid = "00000000-dead-beef-0000-000000000001"
      s2.publishSensors(Seq((uuid, name, "Float"))
        .toDF("uuid", "name", "type")
        .withColumn("unit", org.apache.spark.sql.functions.lit(null)
          .cast("struct<name:string,description:string>"))
        .withColumn("labels", org.apache.spark.sql.functions.lit(null)
          .cast("map<string,string>")))
      def batch(i: Int) = Seq(
        (uuid, 1704067200000000L + i, i.toDouble),
        (uuid, 1706745600000000L + i, i.toDouble))
        .toDF("sensor_id", "timestamp_us", "value")
      (1 to 4).foreach(i => s2.publishSamples(SensorType.Float, batch(i)))
      @volatile var stop = false
      val vacuumer = new Thread(() => {
        while (!stop) {
          s2.vacuum(SensorType.Float)
          // re-fragment so every loop iteration has something to swap
          s2.publishSamples(SensorType.Float, batch(100))
          s2.publishSamples(SensorType.Float, batch(101))
        }
      })
      vacuumer.start()
      try {
        val rounds = sys.env.getOrElse("GRAFT_RACE_REPEATS", "20").toInt
        (1 to rounds).foreach { i =>
          val r = client.send(HttpRequest.newBuilder(new URI(
            s"http://127.0.0.1:$p2/api/v1/query?query=$name")).GET()
            .build(), HttpResponse.BodyHandlers.ofString())
          // the contract: vanished-file faults are retried inside the
          // router (ReadFaults classification) — a reader NEVER sees a
          // 5xx from the listed-then-compacted race
          assert(r.statusCode() == 200,
            s"round $i: ${r.statusCode()} ${r.body().take(200)}")
        }
      } finally { stop = true; vacuumer.join() }
    } finally g2.stop()
  }

  test("resample stream jobs: start, list, stop lifecycle") {
    import org.apache.spark.sql.functions.col
    val spark2 = spark
    import spark2.implicits._
    // a source dir with one plain parquet file
    val srcDir = graft.TempDirs.create("gw_rs_src")
    val tmp = graft.TempDirs.create("gw_rs_part")
    Seq(("s1", 1704067200000000L, 1.0))
      .toDF("sensor_id", "timestamp_us", "value")
      .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = java.nio.file.Files.list(tmp).iterator()
    var p: java.nio.file.Path = null
    while (part.hasNext) {
      val f = part.next()
      if (f.getFileName.toString.endsWith(".parquet")) p = f
    }
    java.nio.file.Files.copy(p, srcDir.resolve("f1.parquet"))
    val enc = java.net.URLEncoder.encode(srcDir.toString, "UTF-8")
    val started = get(
      s"/api/v1/admin/resample_stream?action=start&source=$enc&window=1+hour")
    assert(started.statusCode() == 200)
    val id = started.body().trim
    assert(id.nonEmpty)
    assert(get("/api/v1/admin/resample_stream?action=list").body()
      .contains(id))
    assert(get(
      s"/api/v1/admin/resample_stream?action=stop&id=$id").statusCode() == 200)
    assert(get(
      s"/api/v1/admin/resample_stream?action=stop&id=$id").statusCode() == 404)
    assert(get(
      "/api/v1/admin/resample_stream?action=bogus").statusCode() == 400)
  }

  test("admin resample publishes derived series queryable over HTTP") {
    assert(get("/api/v1/admin/resample?window=1+hour").statusCode() == 200)
    val avgUuid = Sensor.deriveUuid("temp", SensorType.Float, None,
      Seq("__resample__" -> "1 hour", "__aggregate__" -> "avg"))
    val senml = get(s"/series/$avgUuid")
    assert(senml.statusCode() == 200)
    assert(senml.body().contains("\"bn\":\"" + avgUuid + "\""))
    assert(senml.body().contains("\"v\":2.5")) // avg of 1.5, 2.5, 3.5
    // derived series are excluded from re-resampling: a second run
    // converges on the same uuids instead of minting derived-of-derived
    val sensorsAfterFirst = store.sensors.count()
    val samplesAfterFirst = store.samples(SensorType.Float).count()
    assert(get("/api/v1/admin/resample?window=1+hour").statusCode() == 200)
    assert(store.sensors.count() == sensorsAfterFirst)
    // ... and idempotent at the sample level too: the second run anti-joins
    // its derived rows against the store instead of re-appending them
    assert(store.samples(SensorType.Float).count() == samplesAfterFirst)
    assert(get(s"/series/$avgUuid").body().contains("\"v\":2.5"))
  }

  private def withProp[A](k: String, v: String)(f: => A): A = {
    val prev = sys.props.get(k)
    sys.props(k) = v
    try f finally prev match {
      case Some(p) => sys.props(k) = p
      case None => sys.props -= k
    }
  }

  test("oversized request body is rejected with 413 (SENSAPP_HTTP_BODY_LIMIT)") {
    withProp("SENSAPP_HTTP_BODY_LIMIT", "1kb") {
      val big = ("datetime,sensor_name,value\n" +
        "2024-01-01T00:00:00Z,big,1.0\n" * 100).getBytes(StandardCharsets.UTF_8)
      assert(big.length > 1000)
      val r = post("/publish", big, Map("content-type" -> "text/csv"))
      assert(r.statusCode() == 413)
      assert(new String(r.body(), "UTF-8").contains("exceeds limit"))
    }
    // default limit (10mb) admits the same payload
    val small = ("datetime,sensor_name,value\n" +
      "2024-01-01T00:00:00Z,big,1.0\n").getBytes(StandardCharsets.UTF_8)
    assert(post("/publish", small,
      Map("content-type" -> "text/csv")).statusCode() == 200)
  }

  test("compression bombs are rejected with 413 at the decoded cap " +
      "(GRAFT_HTTP_DECODED_BODY_LIMIT)") {
    withProp("GRAFT_HTTP_DECODED_BODY_LIMIT", "64kb") {
      // gzip bomb on the influx path: ~1 KB wire, 1 MB decompressed
      val bomb = graft.sources.BodyCodec.gzip(
        "cpu usage=1.0 1590488773254420000\n" * 30000)
      assert(bomb.length < Config.httpBodyLimit) // passes the wire cap
      val r = post("/api/v2/write?bucket=b&org=o", bomb,
        Map("content-encoding" -> "gzip"))
      assert(r.statusCode() == 413)
      assert(new String(r.body(), "UTF-8").contains("exceeds limit"))
      // snappy bomb header on remote write: 6 bytes declaring ~2 GB
      val snappyBomb = Array[Byte](0xff.toByte, 0xff.toByte, 0xff.toByte,
        0xff.toByte, 0x07, 0x00)
      val r2 = post("/api/v1/prometheus_remote_write", snappyBomb, Map.empty)
      assert(r2.statusCode() == 413)
      assert(new String(r2.body(), "UTF-8").contains("exceeds limit"))
    }
  }

  test("handler over the server timeout answers 408 (TimeoutLayer parity)") {
    // timeout 0 s: the watchdog fires immediately; any Spark-backed
    // handler takes well over the scheduling latency, so the client
    // deterministically sees the reference's REQUEST_TIMEOUT status
    withProp("SENSAPP_HTTP_SERVER_TIMEOUT_SECONDS", "0") {
      val r = get("/metrics")
      assert(r.statusCode() == 408)
      assert(r.body().contains("timed out"))
    }
    assert(get("/metrics").statusCode() == 200) // back to normal
  }

  /** Spark jobs by the job tags they started under (a request's tag is
    * its `x-request-id`), and which of them have ended.
    */
  private final class TagJobs extends org.apache.spark.scheduler.SparkListener {
    private val tags = new java.util.concurrent.ConcurrentHashMap[Int, Set[String]]()
    private val ended = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    override def onJobStart(
        e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
      tags.put(e.jobId, org.apache.spark.graft.JobTags.of(e.properties))
    override def onJobEnd(
        e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
      ended.add(e.jobId)
    private def jobs(tag: String): Seq[Int] = {
      org.apache.spark.graft.ListenerBarrier.drain(spark.sparkContext)
      import scala.jdk.CollectionConverters._
      tags.asScala.collect { case (id, ts) if ts.contains(tag) => id }.toSeq
    }
    def started(tag: String): Int = jobs(tag).size
    def running(tag: String): Int = jobs(tag).count(id => !ended.contains(id))
  }

  private def withTagJobs[A](f: TagJobs => A): A = {
    val l = new TagJobs
    spark.sparkContext.addSparkListener(l)
    try f(l) finally spark.sparkContext.removeSparkListener(l)
  }

  private def requestId(r: HttpResponse[_]): String =
    r.headers().firstValue("x-request-id").orElseThrow()

  test("catalog routes run no Spark job between catalog changes") {
    def enc(s: String) =
      java.net.URLEncoder.encode(s, StandardCharsets.UTF_8)
    val m = "match%5B%5D" // match[]
    val lines =
      "snap_cpu,host=a,dc=eu usage=1 1704067200000000000\n" +
        "snap_cpu,host=b,dc=us usage=2 1704067200000000000\n"
    assert(post("/api/v2/write?bucket=db&org=do",
      lines.getBytes(StandardCharsets.UTF_8), Map.empty).statusCode() == 204)
    val snap = enc("""{__name__=~"snap_.*"}""")
    val routes = Seq(
      "/series",
      "/series?selector=" + enc("""{dc="eu"}"""),
      "/metrics",
      "/metrics?name_contains=SNAP&type=float",
      "/api/v1/labels",
      s"/api/v1/labels?$m=$snap",
      "/api/v1/label/host/values",
      s"/api/v1/label/__name__/values?$m=$snap",
      "/api/v1/metadata",
      s"/api/v1/series?$m=$snap")
    withTagJobs { jobs =>
      // the write made a new snapshot: its first reads build the views
      routes.foreach(route => assert(get(route).statusCode() == 200, route))
      routes.foreach { route =>
        val r = get(route)
        assert(r.statusCode() == 200, route)
        val n = jobs.started(requestId(r))
        assert(n == 0, s"$route started $n Spark jobs")
      }
    }
  }

  test("multi-series CSV query and remote read key their sample reads " +
      "on the matched rows") {
    import PrometheusRemote._
    def enc(s: String) =
      java.net.URLEncoder.encode(s, StandardCharsets.UTF_8)
    val nowMs = System.currentTimeMillis()
    val ms0 = nowMs - 60000L
    assert(post("/api/v1/prometheus_remote_write", RemoteWriteBodies(Seq(
        Seq("__name__" -> "pin_cpu", "job" -> "a", "host" -> "x") ->
          Seq(1.0 -> ms0, 2.0 -> (ms0 + 1000)),
        Seq("__name__" -> "pin_cpu", "job" -> "a", "zone" -> "q,1") ->
          Seq(3.0 -> ms0),
        Seq("__name__" -> "pin_cpu", "job" -> "b", "host" -> "y") ->
          Seq(4.0 -> ms0))),
      Map.empty).statusCode() == 204)
    val query = "/api/v1/query?format=csv&query=" + enc("""pin_cpu{job="a"}[1h]""")
    val readBody = {
      val mq = new ProtoWriter
      mq.int64(1, ms0 - 1000); mq.int64(2, nowMs)
      Seq("__name__" -> "pin_cpu", "job" -> "a").foreach { case (k, v) =>
        val mw = new ProtoWriter
        mw.int64(1, 0); mw.string(2, k); mw.string(3, v)
        mq.message(3, mw)
      }
      val rr = new ProtoWriter
      rr.message(1, mq)
      rr.int64(2, 1) // STREAMED_XOR_CHUNKS
      snappyCompressLiteral(rr.result())
    }
    def read() = post("/api/v1/prometheus_remote_read", readBody, Map(
      "content-encoding" -> "snappy",
      "content-type" -> "application/x-protobuf",
      "x-prometheus-remote-read-version" -> "0.1.0"))
    // warm: the write made a new snapshot
    assert(get(query).statusCode() == 200)
    assert(read().statusCode() == 200)
    withTagJobs { jobs =>
      val csv = get(query)
      assert(csv.statusCode() == 200, csv.body())
      // header keys from the matched series, in Spark's string order
      val lines = csv.body().linesIterator.toSeq
      assert(lines.head ==
        "timestamp,sensor_id,sensor_name,value,type,__name__,host,job,zone",
        csv.body())
      assert(lines.tail.map(_.split(",").drop(3).head).sorted ==
        Seq("1.0", "2.0", "3.0"), csv.body())
      assert(lines.exists(_.endsWith(""",pin_cpu,,a,"q,1"""")), csv.body())
      val n = jobs.started(requestId(csv))
      assert(n == 1, s"CSV query started $n Spark jobs")
      val rr = read()
      assert(rr.statusCode() == 200)
      val ascii = rr.body().map(b => if (b >= 32 && b < 127) b.toChar else '.')
        .mkString
      assert(ascii.contains("host") && ascii.contains("zone"), ascii)
      val nr = jobs.started(requestId(rr))
      assert(nr == 1, s"remote read started $nr Spark jobs")
    }
    // a matcher selecting nothing answers the header alone
    val none = get("/api/v1/query?format=csv&query=" +
      enc("""pin_cpu{job="none"}[1h]"""))
    assert(none.statusCode() == 200, none.body())
    assert(none.body() == "timestamp,sensor_id,sensor_name,value,type\n")
  }

  private val OpenCost = "spark.sql.files.openCostInBytes"

  private def withSqlConf[A](k: String, v: String)(f: => A): A = {
    val prev = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try f finally prev.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  /** A gateway over a fresh store far under [[OpenCost]]: three float
    * series `eq_cpu` (jobs a, b, c) written in three bodies (three sample
    * files, so a partitioned read has files to split) and one integer
    * series, all in the last hour, one sample a minute from `t0Ms`.
    */
  private final class SmallStore(
      val send: (String, Option[Array[Byte]], Map[String, String]) =>
        HttpResponse[Array[Byte]],
      val nowS: Long, val t0Ms: Long, val cpu: String, val int: String) {
    def get(path: String): HttpResponse[Array[Byte]] = send(path, None, Map.empty)

    /** A remote read of `eq_.*` over `[startMs, endMs]`. */
    def remoteRead(startMs: Long, endMs: Long,
        accepted: Option[Int]): HttpResponse[Array[Byte]] = {
      import PrometheusRemote._
      val mq = new ProtoWriter
      mq.int64(1, startMs); mq.int64(2, endMs)
      val mw = new ProtoWriter
      mw.int64(1, 2); mw.string(2, "__name__"); mw.string(3, "eq_.*")
      mq.message(3, mw)
      val rr = new ProtoWriter
      rr.message(1, mq)
      accepted.foreach(a => rr.int64(2, a))
      send("/api/v1/prometheus_remote_read",
        Some(snappyCompressLiteral(rr.result())), Map(
          "content-encoding" -> "snappy",
          "content-type" -> "application/x-protobuf",
          "x-prometheus-remote-read-version" -> "0.1.0"))
    }
  }

  private def withSmallStore[A](f: SmallStore => A): A = {
    val small = new SensorStore(spark, graft.TempDirs.createPath("graft_gateway_small"))
    val gw = new Gateway(spark, small, "small-reads")
    val smallPort = gw.start(0)
    def send(path: String, body: Option[Array[Byte]],
        headers: Map[String, String]): HttpResponse[Array[Byte]] = {
      var b = HttpRequest.newBuilder(new URI(s"http://127.0.0.1:$smallPort$path"))
      b = body.fold(b.GET())(x => b.POST(HttpRequest.BodyPublishers.ofByteArray(x)))
      headers.foreach { case (k, v) => b = b.header(k, v) }
      client.send(b.build(), HttpResponse.BodyHandlers.ofByteArray())
    }
    try {
      val nowS = System.currentTimeMillis() / 1000L
      val t0 = (nowS - 50 * 60) * 1000L // ms, 50 minutes ago
      Seq("a" -> 1.0, "b" -> 2.0, "c" -> 3.0).foreach { case (job, k) =>
        assert(send("/api/v1/prometheus_remote_write", Some(RemoteWriteBodies(Seq(
          Seq("__name__" -> "eq_cpu", "job" -> job) ->
            (0 until 45).map(i => (k * 100 + i * 0.5, t0 + i * 60000L))))),
          Map.empty).statusCode() == 204)
      }
      val ints = (0 until 45).map(i => s"eq_int,job=a used=${i * 3}i ${(t0 + i * 60000L) * 1000000L}")
      assert(send("/api/v2/write?bucket=eq&org=eq",
        Some(ints.mkString("\n").getBytes(StandardCharsets.UTF_8)), Map.empty)
        .statusCode() == 204)
      val uuidOf = small.catalogSnapshot.rows
        .map(r => (r.getString(1), r.getString(2)) -> r.getString(0)).toMap
      f(new SmallStore(send, nowS, t0, uuidOf(("eq_cpu", "Float")),
        uuidOf(("eq_int used", "Integer"))))
    } finally gw.stop()
  }

  /** The read routes of [[withSmallStore]]'s gateway, each by name, as a
    * request to send.
    */
  private def withSmallReads[A](
      f: Seq[(String, () => HttpResponse[Array[Byte]])] => A): A =
    withSmallStore { s =>
      import s.{cpu, int, nowS, t0Ms}
      def enc(s: String) = java.net.URLEncoder.encode(s, StandardCharsets.UTF_8)
      val sel = enc("""{__name__=~"eq_.*"}[1h]""")
      val range = s"&start=${nowS - 40 * 60}&end=${nowS - 5 * 60}&step=300"
      val avg = enc("""avg_over_time({__name__=~"eq_.*"}[5m])""")
      def read(accepted: Option[Int]) =
        () => s.remoteRead(t0Ms - 1000, nowS * 1000L, accepted)
      f(Seq("csv", "jsonl", "arrow", "senml").flatMap(fmt => Seq(
          s"series $fmt" -> (() => s.get(s"/series/$cpu?format=$fmt")),
          s"query $fmt" -> (() => s.get(s"/api/v1/query?format=$fmt&query=$sel")))) ++
        Seq(
          "series int arrow" -> (() => s.get(s"/series/$int?format=arrow")),
          "query_range prometheus" -> (() =>
            s.get(s"/api/v1/query_range?format=prometheus&query=$avg$range")),
          "query_range jsonl" -> (() =>
            s.get(s"/api/v1/query_range?format=jsonl&query=$avg$range")),
          "remote read samples" -> read(None),
          "remote read chunks" -> read(Some(1))))
    }

  test("read routes answer byte-identical bodies on the one-task and the " +
      "partitioned read plan") {
    withSmallReads { routes =>
      def answers() = routes.map { case (name, req) =>
        val r = req()
        assert(r.statusCode() == 200, s"$name: ${new String(r.body())}")
        assert(r.body().length > 64, name)
        name -> r.body()
      }
      val oneTask = answers()
      // a lowered open cost makes every read too big for one task; with
      // shuffle partitions left uncoalesced, an aggregate's rows really
      // come from several partitions
      val partitioned = withSqlConf(OpenCost, "1")(withSqlConf(
        "spark.sql.adaptive.coalescePartitions.enabled", "false")(answers()))
      oneTask.zip(partitioned).foreach { case ((name, a), (_, b)) =>
        assert(java.util.Arrays.equals(a, b),
          s"$name:\n${new String(a)}\n---\n${new String(b)}")
      }
    }
  }

  test("single-series SenML export equals the multi-series export of a " +
      "selector matching only that series, for every value type") {
    import graft.model.IngestBatch
    val own = new SensorStore(spark, graft.TempDirs.createPath("graft_gateway_senml"))
    val gw = new Gateway(spark, own, "senml-merge")
    val ownPort = gw.start(0)
    def fetch(path: String): String = {
      val r = client.send(HttpRequest.newBuilder(
        new URI(s"http://127.0.0.1:$ownPort$path")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 200, s"$path: ${r.body()}")
      r.body()
    }
    try {
      // every sample in the last hour: the instant query's `[1h]` window
      // and the unbounded series read cover the same rows
      val t0 = (System.currentTimeMillis() - 50 * 60 * 1000L) * 1000L
      val sixLabels = Map("zone" -> "z", "a" -> "1", "rack" -> "r7",
        "dc" -> "eu", "b" -> "2", "host" -> "h")
      val series: Seq[(SensorType, String, Map[String, String], Int => Any)] = Seq(
        (SensorType.Integer, "count", Map.empty, i => (i * 7 - 3).toLong),
        (SensorType.Numeric, null, Map("k" -> "v"),
          i => new java.math.BigDecimal(s"$i.125")),
        (SensorType.Float, "Cel", sixLabels, i => i * 0.5 - 1.0),
        (SensorType.Str, null, sixLabels, i => "say \"" + i + "\""),
        (SensorType.Boolean, "flag", Map("k" -> "v"), i => i % 2 == 0),
        (SensorType.Location, "deg", Map.empty,
          i => org.apache.spark.sql.Row(59.9 + i, 10.7 - i)),
        (SensorType.Json, null, Map.empty, i => s"""{"n":$i}"""),
        (SensorType.Blob, "raw", sixLabels, i => Array[Byte](i.toByte, -1, 0)))
      own.publish(IngestBatch.fromLocal(spark, series.flatMap {
        case (t, unit, labels, value) => (0 until 3).map(i =>
          IngestBatch.LocalSample(s"senml_${t.displayName.toLowerCase}", t,
            unit, labels, t0 + i * 60000000L, value(i)))
      }))
      val rows = own.catalogSnapshot.rows
      assert(rows.length == series.length)
      rows.foreach { r =>
        val (uuid, name) = (r.getString(0), r.getString(1))
        val sel = java.net.URLEncoder.encode(
          s"""{__name__="$name"}[1h]""", StandardCharsets.UTF_8)
        val single = fetch(s"/series/$uuid?format=senml")
        assert(single.count(_ == '{') >= 3, single)
        assert(single == fetch(s"/api/v1/query?format=senml&query=$sel"), name)
      }
    } finally gw.stop()
  }

  test("small series exports, PromQL queries and remote reads start one " +
      "Spark job each") {
    withSmallReads { routes =>
      val pinned = routes.toMap.view.filterKeys(Set("series csv", "series arrow",
        "query csv", "query_range prometheus", "remote read chunks")).toSeq
      assert(pinned.length == 5)
      withTagJobs { jobs =>
        pinned.foreach { case (name, req) =>
          assert(req().statusCode() == 200, name)
          val r = req()
          val n = jobs.started(requestId(r))
          assert(n == 1, s"$name started $n Spark jobs")
        }
        // the regime is the read's size: past the open cost, the CSV
        // export is range-partitioned again
        val forced = withSqlConf(OpenCost, "1")(routes.toMap.apply("series csv")())
        val n = jobs.started(requestId(forced))
        assert(n > 1, s"partitioned CSV export started $n Spark jobs")
      }
    }
  }

  /** The admin exposition's samples by name and labels; every line is a
    * `# TYPE` comment or a `name{labels} value` sample.
    */
  private def exposition(send: String => String): Map[String, Double] = {
    val Sample = """([a-zA-Z_:][a-zA-Z0-9_:]*(?:\{[^}]*\})?) (\S+)""".r
    send("/api/v1/admin/metrics").linesIterator.filterNot(_.startsWith("# TYPE "))
      .map {
        case Sample(key, v) => key -> v.toDouble
        case line => fail(s"not an exposition line: $line")
      }.toMap
  }

  test("a second read of each shape with new bounds compiles no class: " +
      "series csv and arrow, instant and range PromQL, remote read") {
    withSmallStore { s =>
      import s.{cpu, nowS, t0Ms}
      def enc(q: String) = java.net.URLEncoder.encode(q, StandardCharsets.UTF_8)
      def iso(ms: Long) = enc(java.time.Instant.ofEpochMilli(ms).toString)
      def series(fmt: String)(k: Int) = s.get(s"/series/$cpu?format=$fmt" +
        s"&start=${iso(t0Ms + k * 60000L)}&end=${iso(t0Ms + (k + 20) * 60000L)}")
      // the instant query reads the wall clock, so each request is new
      def instant(k: Int) = s.get("/api/v1/query?format=csv&query=" +
        enc(s"""{__name__="eq_cpu"}[${10 + k}m]"""))
      // a different matched-series count, 2 jobs then 3, over a shifted
      // grid; `shortS` moves `end` off the grid, so the last step falls
      // short of it
      def range(k: Int, shortS: Int = 0) = s.get(
        "/api/v1/query_range?format=prometheus&query=" +
        enc(s"""avg_over_time({__name__="eq_cpu",job=~"${
          if (k == 0) "a|b" else "a|b|c"}"}[5m])""") +
        s"&start=${nowS - (40 - k) * 60}&end=${nowS - (5 - k) * 60 - shortS}" +
        "&step=300")
      def read(k: Int) = s.remoteRead(t0Ms + k * 60000L,
        t0Ms + (30 + k) * 60000L, Some(1))
      val shapes = Seq[(String, Int => HttpResponse[Array[Byte]])](
        "series csv" -> series("csv"), "series arrow" -> series("arrow"),
        "query csv" -> instant, "query_range prometheus" -> (k => range(k)),
        "query_range unaligned" -> (k => range(k, if (k == 0) 0 else 120)),
        "remote read chunks" -> read)
      def metrics() = exposition(p => new String(s.get(p).body(), "UTF-8"))
      val first = metrics()
      Seq("graft_codegen_compiles_total", "graft_codegen_compile_ms{quantile=\"0.5\"}",
        "graft_codegen_compile_ms{quantile=\"0.99\"}")
        .foreach(k => assert(first.contains(k), s"$k missing: $first"))
      shapes.foreach { case (name, req) =>
        val a = req(0)
        assert(a.statusCode() == 200, s"$name: ${new String(a.body())}")
        val before = metrics()("graft_codegen_compiles_total")
        val b = req(1)
        assert(b.statusCode() == 200, s"$name: ${new String(b.body())}")
        assert(!java.util.Arrays.equals(a.body(), b.body()),
          s"$name answered the same body to new bounds")
        val after = metrics()("graft_codegen_compiles_total")
        assert(after == before, s"$name compiled ${after - before} classes")
      }
    }
  }

  test("a gzip Influx body decoding past the default decoded cap answers " +
      "413 before its parse and starts no Spark job; one decoding to just " +
      "under it commits within the server timeout") {
    val cap = Config.DecodedBodyLimitDefault
    assert(Config.decodedBodyLimit == cap)
    def line(k: Int) = s"cap_cpu,host=h${k % 1000} usage=${k % 97}.5 " +
      s"${1704067200000000000L + k * 1000000000L}\n"
    val text = new java.lang.StringBuilder
    var k = 0
    while (text.length + line(k).length < cap - 1024) { text.append(line(k)); k += 1 }
    val under = BodyCodec.gzip(text.toString)
    while (text.length <= cap) { text.append(line(k)); k += 1 }
    val over = BodyCodec.gzip(text.toString)
    val gzip = Map("content-encoding" -> "gzip")
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val prev = gateway.logSink
    gateway.logSink = lines.add(_)
    try withTagJobs { jobs =>
      val r = post("/api/v2/write?bucket=cap&org=cap", over, gzip)
      assert(r.statusCode() == 413, new String(r.body(), "UTF-8"))
      assert(new String(r.body(), "UTF-8").contains("exceeds limit"))
      assert(jobs.started(requestId(r)) == 0)
      import scala.jdk.CollectionConverters._
      val deadline = System.nanoTime() + 10000L * 1000 * 1000
      def refused = lines.asScala.find(_.contains("\"status\":413"))
      while (refused.isEmpty && System.nanoTime() < deadline) Thread.sleep(10)
      assert(refused.exists(l => l.contains("\"decode_us\"") &&
        !l.contains("\"parse_us\"")), lines)
      val t0 = System.nanoTime()
      val ok = post("/api/v2/write?bucket=cap&org=cap", under, gzip)
      val seconds = (System.nanoTime() - t0) / 1e9
      assert(ok.statusCode() == 204, new String(ok.body(), "UTF-8"))
      assert(seconds < Config.httpServerTimeoutSeconds, seconds)
      assert(store.catalogSnapshot.rows.count(_.getString(1) == "cap_cpu usage") == 1000)
    } finally gateway.logSink = prev
  }

  test("keep-alive responses leave without a Nagle stall") {
    val socket = new java.net.Socket("127.0.0.1", port)
    try {
      socket.setTcpNoDelay(true)
      val out = socket.getOutputStream
      val in = new java.io.BufferedInputStream(socket.getInputStream)
      val req = "GET /health/live HTTP/1.1\r\nHost: 127.0.0.1\r\n\r\n"
        .getBytes(StandardCharsets.US_ASCII)
      // one request and its whole response on the same connection
      def roundTripMs(): Double = {
        val t0 = System.nanoTime()
        out.write(req)
        out.flush()
        val head = new StringBuilder
        while (!head.endsWith("\r\n\r\n")) {
          val c = in.read()
          assert(c >= 0, s"connection closed after: $head")
          head += c.toChar
        }
        val len = "(?i)content-length: *(\\d+)".r
          .findFirstMatchIn(head).get.group(1).toInt
        assert(in.readNBytes(len).length == len)
        (System.nanoTime() - t0) / 1e6
      }
      (1 to 3).foreach(_ => roundTripMs())
      val ms = (1 to 20).map(_ => roundTripMs()).sorted
      val median = (ms(9) + ms(10)) / 2
      assert(median < 20.0, s"median $median ms over ${ms.mkString(", ")}")
    } finally socket.close()
  }

  test("catalog answers are fresh after a novel write, a foreign publish " +
      "and a compaction; each view is built once per snapshot") {
    import org.apache.spark.sql.functions._
    import graft.catalog.Catalog
    import graft.operators.{Matchers, SensorOps}
    def enc(s: String) =
      java.net.URLEncoder.encode(s, StandardCharsets.UTF_8)
    val root2 = graft.TempDirs.createPath("graft_gateway_fresh")
    val fstore = new SensorStore(spark, root2)
    val fgw = new Gateway(spark, fstore, "fresh-gateway")
    val fport = fgw.start(0)
    def fget(path: String) = client.send(HttpRequest.newBuilder(
        new URI(s"http://127.0.0.1:$fport$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    def q(s: String) = "\"" + s + "\""
    def success(items: Seq[String]) =
      items.mkString("""{"status":"success","data":[""", ",", "]}")
    val selector = """{dc="eu"}"""
    val series = """{__name__=~"fresh_.*"}"""
    // each route's answer by the Spark operators over fstore.sensors
    val expected: Seq[(String, () => String)] = Seq(
      "/metrics" -> (() => Catalog.catalogDocument(
        Catalog.metricsDatasets(SensorOps.metricsSummary(fstore.sensors))
          .select("dataset").collect().map(_.getString(0)).toSeq,
        "/metrics", "fresh-gateway Metrics Catalog",
        "Aggregated metrics across all time series")),
      "/api/v1/labels" -> (() => {
        val keys = fstore.sensors.select(explode(map_keys(coalesce(
            col("labels"), map().cast("map<string,string>")))))
          .distinct().collect().map(_.getString(0)).toSeq
        val any = keys.nonEmpty || !fstore.sensors.isEmpty
        success(if (any) ("__name__" +: keys).distinct.sorted.map(q) else Nil)
      }),
      "/api/v1/label/dc/values" -> (() => success(fstore.sensors
        .select(col("labels").getItem("dc").as("v")).filter(col("v").isNotNull)
        .distinct().collect().map(_.getString(0)).toSeq.sorted.map(q))),
      "/series?selector=" + enc(selector) -> (() => Catalog.catalogDocument(
        Catalog.seriesDatasets(Matchers.sensorsByLabels(fstore.sensors,
          Catalog.parseSelector(selector))).select("dataset").collect()
          .map(_.getString(0)).toSeq,
        "/series", "fresh-gateway Series Catalog", "All time series datasets")),
      "/api/v1/series?match%5B%5D=" + enc(series) -> (() => success(
        fstore.sensors.filter(Matchers.predicate(graft.promql.SimplePromQL
            .parse(series, 0L).matchers)).orderBy("uuid").collect().toSeq
          .map { r =>
            val labels = Option(r.getMap[String, String](4)).map(_.toSeq)
              .getOrElse(Nil).sortBy(_._1)
            (("__name__" -> r.getString(1)) +: labels)
              .map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString("{", ",", "}")
          })))
    def check(stage: String): Unit = withTagJobs { jobs =>
      expected.foreach { case (path, want) =>
        val first = fget(path)
        assert(first.statusCode() == 200, s"$stage $path")
        assert(first.body() == want(), s"$stage $path")
        val again = fget(path)
        assert(again.body() == first.body(), s"$stage $path")
        val n = jobs.started(requestId(again))
        assert(n == 0, s"$stage $path: the second read started $n jobs")
      }
    }
    try {
      check("empty store")
      val write = client.send(HttpRequest.newBuilder(
          new URI(s"http://127.0.0.1:$fport/api/v2/write?bucket=fb&org=fo"))
        .POST(HttpRequest.BodyPublishers.ofString(
          "fresh_cpu,host=a,dc=eu usage=1 1704067200000000000\n" +
            "fresh_mem,host=b,dc=us free=2 1704067200000000000\n")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(write.statusCode() == 204, write.body())
      check("novel write")
      // another store on the same root stands in for another process
      new SensorStore(spark, root2).publish(graft.model.IngestBatch.fromLocal(
        spark, Seq(graft.model.IngestBatch.LocalSample("fresh_disk",
          SensorType.Float, "GB", Map("dc" -> "eu", "rack" -> "r1"),
          1704067200000000L, 3.0))))
      check("foreign publish")
      fstore.compactCatalog()
      check("compaction")
      assert(fget("/api/v1/label/dc/values").body() ==
        """{"status":"success","data":["eu","us"]}""")
    } finally fgw.stop()
  }

  test("read routes log match and serialize phases within the request's us") {
    import PrometheusRemote._
    def enc(s: String) =
      java.net.URLEncoder.encode(s, StandardCharsets.UTF_8)
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val prev = gateway.logSink
    gateway.logSink = lines.add(_)
    try {
      val m = "match%5B%5D=" + enc("""{__name__=~"phase_.*"}""")
      val gets = Seq(
        "/metrics", "/series?selector=" + enc("""{dc="eu"}"""),
        "/api/v1/labels", "/api/v1/label/host/values?" + m,
        "/api/v1/series?" + m, "/api/v1/metadata",
        "/api/v1/query?format=csv&query=phase_read",
        "/api/v1/query_extended?query=" + enc("sum(phase_read)"),
        "/api/v1/query_range?query=phase_read&start=1704067200" +
          "&end=1704070800&step=600",
        s"/series/${store.catalogSnapshot.rows.head.getString(0)}?format=csv")
      gets.foreach(g => assert(get(g).statusCode() == 200, g))
      val mq = new ProtoWriter
      mq.int64(1, 1704067100000L); mq.int64(2, 1704067300000L)
      val mw = new ProtoWriter
      mw.int64(1, 0); mw.string(2, "__name__"); mw.string(3, "phase_read")
      mq.message(3, mw)
      val rr = new ProtoWriter
      rr.message(1, mq)
      assert(post("/api/v1/prometheus_remote_read",
        snappyCompressLiteral(rr.result()), Map(
          "content-encoding" -> "snappy",
          "content-type" -> "application/x-protobuf",
          "x-prometheus-remote-read-version" -> "0.1.0")).statusCode() == 200)
      val Phased = (""".*"path":"([^"]*)","status":200,"us":(\d+),""" +
        """"match_us":(\d+),"serialize_us":(\d+)\}""").r
      import scala.jdk.CollectionConverters._
      // each line is written once its response has left, so the last
      // ones can reach the sink after the client has its response
      def phased() = lines.asScala.count(Phased.matches(_))
      val deadline = System.nanoTime() + 10000L * 1000 * 1000
      while (phased() < gets.length + 1 && System.nanoTime() < deadline)
        Thread.sleep(10)
      val seen = lines.asScala.toSeq.collect {
        case Phased(path, us, mu, su) =>
          assert(mu.toLong + su.toLong <= us.toLong, path)
          path
      }
      assert(seen.toSet == Set("/metrics", "/series", "/api/v1/labels",
        "/api/v1/label", "/api/v1/series", "/api/v1/metadata",
        "/api/v1/query", "/api/v1/query_extended", "/api/v1/query_range",
        "/api/v1/prometheus_remote_read"), lines)
      assert(seen.length == gets.length + 1, lines)
    } finally gateway.logSink = prev
  }

  test("Influx and remote writes run a catalog job only for novel series, " +
    "plus one job per present type") {
    // a fresh store: no catalog compaction joins the counted jobs
    val jobsGateway = new Gateway(spark,
      new SensorStore(spark, graft.TempDirs.createPath("graft_gateway_jobs")),
      "jobs-gateway")
    val jobsPort = jobsGateway.start(0)
    try withTagJobs { jobs =>
      def jobsOf(path: String, body: Array[Byte]): Int = {
        val r = client.send(HttpRequest.newBuilder(
            new URI(s"http://127.0.0.1:$jobsPort$path"))
          .POST(HttpRequest.BodyPublishers.ofByteArray(body)).build(),
          HttpResponse.BodyHandlers.ofString())
        assert(r.statusCode() == 204, s"$path: ${r.body()}")
        jobs.started(requestId(r))
      }
      val influx = "/api/v2/write?bucket=jb&org=jo"
      val floats = ("jobs_cpu,host=a usage=1 1704067200000000000\n" +
        "jobs_cpu,host=b usage=2 1704067260000000000\n")
        .getBytes(StandardCharsets.UTF_8)
      assert(jobsOf(influx, floats) == 2, "novel series: catalog + samples")
      assert(jobsOf(influx, floats) == 1, "known series: samples only")
      val mixed = "jobs_mix f=1.5,i=2i,b=true,s=\"x\" 1704067200000000000\n"
        .getBytes(StandardCharsets.UTF_8)
      assert(jobsOf(influx, mixed) == 5, "catalog + one per type")
      val rw = "/api/v1/prometheus_remote_write"
      val body = RemoteWriteBodies(Seq(
        Seq("__name__" -> "jobs_rw", "job" -> "a") ->
          Seq(1.0 -> 1704067200000L, 2.0 -> 1704067260000L),
        Seq("__name__" -> "jobs_rw", "job" -> "b") -> Seq(3.0 -> 1704067200000L)))
      assert(jobsOf(rw, body) == 2, "novel series: catalog + samples")
      assert(jobsOf(rw, body) == 1, "known series: samples only")
    } finally jobsGateway.stop()
  }

  test("an Influx body with one malformed line answers 400 and stores nothing") {
    val before = store.samples(SensorType.Float).count()
    val r = post("/api/v2/write?bucket=db&org=do",
      ("bad_cpu usage=1 1704067200000000000\n" +
        "bad_cpu usage= 1704067260000000000\n").getBytes(StandardCharsets.UTF_8),
      Map.empty)
    assert(r.statusCode() == 400, new String(r.body(), StandardCharsets.UTF_8))
    assert(store.samples(SensorType.Float).count() == before)
    assert(!store.sensors.collect().exists(_.getString(1) == "bad_cpu usage"))
  }

  test("write routes log decode, parse and commit phases within the " +
    "request's us") {
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val prev = gateway.logSink
    gateway.logSink = lines.add(_)
    try {
      assert(post("/api/v2/write?bucket=db&org=do", BodyCodec.gzip(
          "phase_cpu usage=1 1704067200000000000\n"),
        Map("content-encoding" -> "gzip")).statusCode() == 204)
      assert(post("/api/v1/prometheus_remote_write", RemoteWriteBodies(Seq(
          Seq("__name__" -> "phase_rw") -> Seq(1.0 -> 1704067200000L))),
        Map.empty).statusCode() == 204)
      val Phased = (""".*"path":"([^"]*)","status":204,"us":(\d+),""" +
        """"decode_us":(\d+),"parse_us":(\d+),"commit_us":(\d+)\}""").r
      import scala.jdk.CollectionConverters._
      // each line is written once its response has left, so the last
      // one can reach the sink after the client has its response
      def phased() = lines.asScala.count(Phased.matches(_))
      val deadline = System.nanoTime() + 10000L * 1000 * 1000
      while (phased() < 2 && System.nanoTime() < deadline)
        Thread.sleep(10)
      val seen = lines.asScala.toSeq.collect {
        case Phased(path, us, d, p, c) =>
          assert(d.toLong + p.toLong + c.toLong <= us.toLong, path)
          path
      }
      assert(seen.toSet ==
        Set("/api/v2/write", "/api/v1/prometheus_remote_write"), lines)
    } finally gateway.logSink = prev
  }

  test("a timed-out publish stops its Spark work and stores nothing") {
    // every core busy: the publish's first job queues behind the
    // blocker, so the 1 s watchdog fires while that job is active
    val sc = spark.sparkContext
    val blocker = new Thread(() => {
      sc.setJobGroup("timeout-blocker", "cores held for a timeout test",
        interruptOnCancel = true)
      try sc.parallelize(1 to sc.defaultParallelism, sc.defaultParallelism)
        .foreach(_ => Thread.sleep(8000))
      catch { case _: Throwable => () }
    })
    val before = store.samples(SensorType.Float).count()
    withTagJobs { jobs =>
      blocker.start()
      Thread.sleep(500)
      val r = withProp("SENSAPP_HTTP_SERVER_TIMEOUT_SECONDS", "1") {
        post("/api/v2/write?bucket=db&org=do",
          "timeout_cpu usage=1 1704067200000000000\n"
            .getBytes(StandardCharsets.UTF_8), Map.empty)
      }
      assert(r.statusCode() == 408)
      val tag = requestId(r)
      // the handler unwinds once its cancelled job fails — well before
      // the blocker frees a core for it
      val deadline = System.nanoTime() + 6000L * 1000 * 1000
      while (gateway.liveExchangeLocks > 0 && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(gateway.liveExchangeLocks == 0, "handler still running")
      assert(blocker.isAlive, "the blocker ended first: nothing was cancelled")
      assert(jobs.started(tag) >= 1)
      assert(jobs.running(tag) == 0, s"jobs of $tag still running")
      sc.cancelJobGroup("timeout-blocker")
      blocker.join()
    }
    assert(store.samples(SensorType.Float).count() == before)
    assert(!store.sensors.collect().exists(_.getString(1) == "timeout_cpu usage"))
    // the gateway serves normally afterwards
    assert(post("/api/v2/write?bucket=db&org=do",
      "timeout_cpu usage=2 1704067200000000000\n"
        .getBytes(StandardCharsets.UTF_8), Map.empty).statusCode() == 204)
    assert(store.samples(SensorType.Float).count() == before + 1)
  }

  test("a timed-out Influx write stops parsing its body") {
    // ~770k lines: parsing them on the driver takes seconds, far past the
    // 1 s timeout, and no Spark job runs for the 408 to cancel; they decode
    // to ~52 MB, so the decoded cap is raised past its default for them
    val sb = new java.lang.StringBuilder
    for (i <- 0 until 770000)
      sb.append("abandon_cpu,host=h").append(i % 100).append(" usage=")
        .append(i).append(' ').append(1704067200000000000L + i * 1000000000L)
        .append('\n')
    val gz = BodyCodec.gzip(sb.toString)
    val before = store.samples(SensorType.Float).count()
    val r = withProp("SENSAPP_HTTP_SERVER_TIMEOUT_SECONDS", "1") {
      withProp("GRAFT_HTTP_DECODED_BODY_LIMIT", "64mb") {
        post("/api/v2/write?bucket=db&org=do", gz,
          Map("content-encoding" -> "gzip"))
      }
    }
    assert(r.statusCode() == 408)
    val t408 = System.nanoTime()
    while (gateway.liveExchangeLocks > 0 &&
        System.nanoTime() - t408 < 10000L * 1000 * 1000)
      Thread.sleep(20)
    val unwindMs = (System.nanoTime() - t408) / 1000000
    assert(unwindMs < 1000, s"handler ran $unwindMs ms past its 408")
    assert(store.samples(SensorType.Float).count() == before)
    assert(!store.sensors.collect().exists(_.getString(1) == "abandon_cpu usage"))
  }

  test("saturated ingest queue sheds publishes with 503 + retry-after (T4)") {
    withProp("GRAFT_INGEST_QUEUE_LIMIT", "0") {
      // a dedicated gateway picks up the zero-permit queue at start()
      val g2 = new Gateway(spark, store, "overloaded")
      val p2 = g2.start(0)
      try {
        val csv = ("datetime,sensor_name,value\n" +
          "2024-01-01T00:00:00Z,bp,1.0\n").getBytes(StandardCharsets.UTF_8)
        var b = HttpRequest.newBuilder(
          new URI(s"http://127.0.0.1:$p2/publish"))
          .POST(HttpRequest.BodyPublishers.ofByteArray(csv))
          .header("content-type", "text/csv")
        val r = client.send(b.build(), HttpResponse.BodyHandlers.ofString())
        assert(r.statusCode() == 503)
        assert(r.headers().firstValue("retry-after").orElse("") == "1")
        assert(r.body().contains("saturated"))
        // reads are NOT shed — only the write paths are queue-bounded
        assert(client.send(HttpRequest.newBuilder(
          new URI(s"http://127.0.0.1:$p2/metrics")).GET().build(),
          HttpResponse.BodyHandlers.ofString()).statusCode() == 200)
      } finally g2.stop()
    }
  }

  test("warehouse GC endpoint removes aged artifacts and reports the " +
      "count; negative age is a 400") {
    val wh = TempDirs.createPath("graft_gw_whgc")
    sys.props("graft.warehouse.dir") = wh
    try {
      graft.pipeline.DedupArtifacts.symEdgeTable(
        Tables.documents(spark, "/root/testdata/sf0.001"),
        "doc_id", "text", 3, 0.4, "gwgc")
      val hash = new java.io.File(s"$wh/dedup_sym").listFiles().head
      assert(new java.io.File(hash, "manifest.properties").setLastModified(
        System.currentTimeMillis() - 10 * 3600 * 1000))
      val r = post("/api/v1/admin/warehouse_gc?max_age_hours=1",
        Array.emptyByteArray, Map.empty)
      assert(r.statusCode() == 200)
      assert(new String(r.body(), "UTF-8") == """{"removed":1}""")
      assert(!hash.exists())
      assert(post("/api/v1/admin/warehouse_gc?max_age_hours=-1",
        Array.emptyByteArray, Map.empty).statusCode() == 400)
      // NaN slips past a bare `< 0` guard (NaN comparisons are false)
      // and (NaN*3600*1000).toLong is 0 — i.e. gc(0), deleting EVERY
      // artifact including live ones. Must 400, as must Infinity. (r15)
      for (bad <- Seq("NaN", "Infinity", "-Infinity"))
        assert(post(s"/api/v1/admin/warehouse_gc?max_age_hours=$bad",
          Array.emptyByteArray, Map.empty).statusCode() == 400, bad)
    } finally sys.props.remove("graft.warehouse.dir")
  }

  test("adversarial regex on the public query path answers fast, not " +
      "exponentially (ReDoS gate)") {
    // the attack the reference is immune to by construction (linear-time
    // Rust regex, src/storage/sqlite/storage.rs:46-48): publish a LONG
    // label value, then query a nested-quantifier pattern. On a
    // backtracking engine (`rlike` = java.util.regex) this pins a core
    // for time exponential in the value length; the LinearRegex engine
    // answers in O(pattern x value).
    val longVal = "a" * 5000
    val line = s"redos,env=$longVal v=1 1704067200000000000\n"
    val r = post("/api/v2/write?bucket=rb&org=ro",
      line.getBytes(StandardCharsets.UTF_8), Map.empty)
    assert(r.statusCode() == 204)

    def enc(s: String) =
      java.net.URLEncoder.encode(s, StandardCharsets.UTF_8)

    val hostiles = Seq("(a+)+b", "(a|a)+b", "(a*)*b", "([a-z]+)*b")
    for (p <- hostiles) {
      val t0 = System.nanoTime()
      val resp = get("/series?selector=" + enc(s"""{env=~"$p"}"""))
      val ms = (System.nanoTime() - t0) / 1e6
      assert(resp.statusCode() == 200, resp.body())
      // no match: the 5000-a value has no trailing b
      assert(!resp.body().contains("redos v"), p)
      assert(ms < 15000, s"`$p` took ${ms}ms — backtracking leak")
    }
    // a matching hostile-shaped pattern still matches correctly
    val hit = get("/series?selector=" + enc("""{env=~"(a+)+a"}"""))
    assert(hit.statusCode() == 200)
    assert(hit.body().contains("redos v"))

    // constructs neither engine supports (backrefs/lookarounds) reject
    // as a caller error, exactly like the reference's regex-crate parse.
    // PromQL string escaping eats one backslash level: `\\1` on the wire
    // reaches the regex compiler as the backreference `\1`
    assert(get("/series?selector=" +
      enc("""{env=~"(a)\\1"}""")).statusCode() == 400)
    assert(get("/series?selector=" +
      enc("""{env=~"(?=a)b"}""")).statusCode() == 400)
    // same gate on the catalog name_regex filter
    val t0 = System.nanoTime()
    assert(get("/metrics?name_regex=" +
      enc("(x+)+y")).statusCode() == 200)
    assert((System.nanoTime() - t0) / 1e6 < 15000)
    assert(get("/metrics?name_regex=" + enc("(?<=a)b")).statusCode() == 400)
  }
}
