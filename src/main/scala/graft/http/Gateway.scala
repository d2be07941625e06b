package graft.http

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{MapType, StringType, StructField, StructType}

import graft.catalog.Catalog
import graft.exporters.Exporters
import graft.infer.TypeInference
import graft.model.{IngestBatch, SensorType}
import graft.operators.{LabelMatcher, Matchers, SensorOps}
import graft.prometheus.{PrometheusRemote, RemoteRead}
import graft.promql.SimplePromQL
import graft.sources.{BodyCodec, CsvImporter, InfluxLineProtocol, SenML}
import graft.store.{CommitGate, SensorStore}

/** HTTP gateway over the query/store layer, reproducing the reference's
  * route surface (reference: src/ingestors/http/server.rs:82-114):
  * catalog (`/metrics`, `/series`), series data, publish (CSV/SenML),
  * InfluxDB write, Prometheus remote write/read, simple PromQL, vacuum,
  * health. Built on the JDK's com.sun.net.httpserver — the HTTP edge is
  * deliberately thin: a data handler composes a DataFrame plan and
  * collects only the response payload; catalog questions are answered
  * from the store's catalog snapshot on the driver.
  */
final class Gateway(
    spark: SparkSession,
    store: SensorStore,
    name: String = "SensApp Spark",
    workers: Int = 8) {

  private var server: HttpServer = _
  private var pool: java.util.concurrent.ExecutorService = _
  private var watchdog: java.util.concurrent.ScheduledExecutorService = _
  // 408 writes run here, NOT on the scheduler thread: a timeout answer
  // is a blocking socket write to a possibly-slow client, and the
  // scheduler is single-threaded — one stalled client would delay every
  // other pending 408. Cached pool: ~always empty, grows only under
  // timeout storms, threads expire after 60 s idle.
  private var watchdogIo: java.util.concurrent.ExecutorService = _

  /** Bounded ingest admission (reference: docs/ARCHITECTURE.md:114-118 —
    * the publisher queue saturates and sheds). Permits re-read per
    * start() so the env/property knob is honored per Gateway. */
  private var ingestSlots: java.util.concurrent.Semaphore = _

  private final class PayloadTooLarge(msg: String)
    extends RuntimeException(msg)

  /** Per-request log sink — one structured line per completed exchange
    * (method, path, status, µs, then any phase timings), the reference's
    * TraceLayer on_response at INFO (reference:
    * src/ingestors/http/server.rs:68-72, env filter src/main.rs:35-41).
    * Swappable so GatewaySpec can capture lines; default stderr. Query
    * strings are NOT logged (they can carry matcher values) and headers
    * never are — the reference marks
    * authorization/cookie sensitive (server.rs:63), we log none at all.
    */
  @volatile var logSink: String => Unit = System.err.println

  /** Per-(method, path, status) request counters + latency sums — the
    * OpenTelemetry-ish metrics surface the reference's tracing stack
    * implies (reference: src/main.rs:34-44), exported in Prometheus
    * exposition format at /api/v1/admin/metrics. Bounded cardinality:
    * the path label is the registered ROUTE prefix, never the raw URI
    * (an attacker-controlled URI as a label is a classic metrics
    * cardinality bomb).
    */
  private val reqCount = new java.util.concurrent.ConcurrentHashMap[
    (String, String, Int), java.util.concurrent.atomic.LongAdder]()
  private val reqMicros = new java.util.concurrent.ConcurrentHashMap[
    (String, String, Int), java.util.concurrent.atomic.LongAdder]()

  private def logRequest(method: String, route: String, status: Int,
      micros: Long, phases: Seq[(String, Long)]): Unit = {
    val key = (method, route, status)
    reqCount.computeIfAbsent(key,
      _ => new java.util.concurrent.atomic.LongAdder).increment()
    reqMicros.computeIfAbsent(key,
      _ => new java.util.concurrent.atomic.LongAdder).add(micros)
    val lvl = graft.Config.logLevel
    val emit = lvl match {
      case "off" => false
      case "error" => status >= 500
      case _ => true // info | debug
    }
    if (emit) logSink(
      s"""{"level":"info","target":"gateway","method":${jsonStr(method)},""" +
        s""""path":${jsonStr(route)},"status":$status,"us":$micros""" +
        phases.map { case (k, v) => s""","$k":$v""" }.mkString + "}")
  }

  /** The phases timed on this handler thread for its request's log line,
    * latest first, all within the request's `us`: the write routes time
    * `decode_us` (body read and decompression), `parse_us` (parse into an
    * ingest batch) and `commit_us` (the store commit); the catalog,
    * discovery, series data, PromQL and remote-read routes time
    * `match_us` (reading the catalog snapshot and selecting its rows, or
    * building the query plan over them) and `serialize_us` (running the
    * sample reads and writing the response).
    */
  private val phaseMicros = ThreadLocal.withInitial[List[(String, Long)]](() => Nil)

  private def phase[A](name: String)(f: => A): A = {
    val t0 = System.nanoTime()
    try f finally phaseMicros.set(
      (name -> (System.nanoTime() - t0) / 1000L) :: phaseMicros.get())
  }

  /** Prometheus exposition text for the gateway, the Spark scheduler and
    * Spark's code generator: the JVM's Janino compiles so far and their
    * time in ms (Spark's histogram keeps a decaying sample, so the
    * quantiles lean to recent compiles). A read of an already compiled
    * shape moves neither.
    */
  private def metricsExposition(): String = {
    val sb = new StringBuilder
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    sb ++= "# TYPE graft_http_requests_total counter\n"
    reqCount.forEach { (k, v) =>
      sb ++= s"""graft_http_requests_total{method="${esc(k._1)}",""" +
        s"""path="${esc(k._2)}",status="${k._3}"} ${v.sum()}\n"""
    }
    sb ++= "# TYPE graft_http_request_duration_us_total counter\n"
    reqMicros.forEach { (k, v) =>
      sb ++= s"""graft_http_request_duration_us_total{method="${esc(k._1)}",""" +
        s"""path="${esc(k._2)}",status="${k._3}"} ${v.sum()}\n"""
    }
    val tracker = spark.sparkContext.statusTracker
    sb ++= "# TYPE graft_spark_active_jobs gauge\n"
    sb ++= s"graft_spark_active_jobs ${tracker.getActiveJobIds().length}\n"
    sb ++= "# TYPE graft_spark_active_stages gauge\n"
    sb ++= s"graft_spark_active_stages ${tracker.getActiveStageIds().length}\n"
    sb ++= "# TYPE graft_ingest_slots_available gauge\n"
    sb ++= s"graft_ingest_slots_available ${ingestSlots.availablePermits()}\n"
    val compiles =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    sb ++= "# TYPE graft_codegen_compiles_total counter\n"
    sb ++= s"graft_codegen_compiles_total ${compiles.getCount}\n"
    val ms = compiles.getSnapshot
    sb ++= "# TYPE graft_codegen_compile_ms summary\n"
    sb ++= s"""graft_codegen_compile_ms{quantile="0.5"} ${ms.getMedian}\n"""
    sb ++= s"""graft_codegen_compile_ms{quantile="0.99"} ${ms.get99thPercentile}\n"""
    sb.result()
  }

  /** Bind and start; port 0 picks an ephemeral port. Returns bound port. */
  def start(port: Int = 0): Int = {
    server = Gateway.createServer(new InetSocketAddress("127.0.0.1", port))
    route("/", (x, _) => respond(x, 200, "application/json", "\"" + name + "\""))
    // OpenAPI document + viewer, the reference's Scalar mount
    // (server.rs:85): JSON spec by default; a browser (Accept:
    // text/html) gets the self-contained viewer page over the same URL.
    route("/docs", (x, _) =>
      if (header(x, "accept").exists(_.contains("text/html")))
        respond(x, 200, "text/html", ApiDoc.docsHtml(name))
      else
        respond(x, 200, "application/json", ApiDoc.openApiJson(name)))
    // PromQL-vs-Prometheus-3 delta page, generated from the engine's
    // own rejection map so it cannot drift from behavior
    route("/docs/promql_delta", (x, _) =>
      respond(x, 200, "text/markdown; charset=utf-8", ApiDoc.promqlDelta))
    // health (reference: src/ingestors/http/health.rs:30-72): liveness
    // is unconditional; readiness probes the STORE (a load balancer
    // must stop routing to an instance whose store root is gone) and
    // answers the reference's ReadinessResponse JSON shape — 503 +
    // {status:"not_ready",database:"error",error} on failure.
    route("/health/live", (x, _) =>
      respond(x, 200, "application/json", """{"status":"ok"}"""))
    route("/health/ready", (x, _) =>
      try {
        store.healthCheck()
        respond(x, 200, "application/json",
          """{"status":"ready","database":"ok"}""")
      } catch { case scala.util.control.NonFatal(e) =>
        respond(x, 503, "application/json",
          s"""{"status":"not_ready","database":"error",""" +
            s""""error":${jsonStr(String.valueOf(e.getMessage))}}""")
      })
    route("/metrics", handleMetrics)
    route("/series", handleSeries) // also /series/{uuid}
    route("/publish", handlePublish)
    route("/api/v2/write", handleInfluxWrite)
    route("/api/v1/prometheus_remote_write", handleRemoteWrite)
    route("/api/v1/prometheus_remote_read", handleRemoteRead)
    route("/api/v1/query", handlePromql)
    route("/api/v1/query_extended", handlePromqlExtended)
    route("/api/v1/query_range", handlePromqlRange)
    // Prometheus discovery/metadata API — what Grafana browses. Absent
    // from the reference (server.rs:83-112 has no such routes) but the
    // catalog holds all the data one aggregation away; with the
    // format=prometheus query envelopes this makes the gateway a
    // Grafana-usable datasource end to end.
    route("/api/v1/labels", handleLabelNames)
    route("/api/v1/label", handleLabelValues) // /api/v1/label/{name}/values
    route("/api/v1/series", handleSeriesDiscovery)
    route("/api/v1/metadata", handleMetricMetadata)
    route("/api/v1/admin/vacuum", handleVacuum)
    route("/api/v1/admin/metrics", (x, _) =>
      respond(x, 200, "text/plain; version=0.0.4", metricsExposition()))
    route("/api/v1/admin/warehouse_gc", (x, p) => {
      // age-based artifact-warehouse GC; default one week — far longer
      // than any session, per the ArtifactWarehouse.gc contract
      val hours = p.get("max_age_hours").map(_.toDouble).getOrElse(168.0)
      // `!(hours >= 0)` also rejects NaN, which `hours < 0` lets through —
      // and (NaN*3600*1000).toLong is 0, i.e. gc(0) deleting EVERY artifact.
      if (!(hours >= 0) || hours.isInfinite)
        throw new IllegalArgumentException(
          s"max_age_hours must be a finite non-negative number: $hours")
      val removed = graft.pipeline.ArtifactWarehouse.gc(
        (hours * 3600 * 1000).toLong)
      respond(x, 200, "application/json", s"""{"removed":$removed}""")
    })
    route("/api/v1/admin/lineage", handleLineage)
    route("/api/v1/admin/export_bulk", handleExportBulk)
    route("/api/v1/admin/resample", handleResample)
    route("/api/v1/admin/resample_stream", handleResampleStream)
    // Concurrent serving: Spark happily runs simultaneous jobs from
    // multiple threads (each handler thread submits independent jobs to
    // the shared scheduler), so the HTTP edge must not serialize them.
    // Bounded pool: `workers` concurrent requests, the rest queue in the
    // server's accept backlog — backpressure instead of unbounded Spark
    // job pileup.
    val seq = new java.util.concurrent.atomic.AtomicLong
    pool = java.util.concurrent.Executors.newFixedThreadPool(
      workers,
      (r: Runnable) => {
        val t = new Thread(r, s"gateway-${seq.getAndIncrement()}")
        t.setDaemon(true)
        t
      })
    server.setExecutor(pool)
    // watchdog: one scheduled 408 probe per in-flight request — the
    // reference's TimeoutLayer semantics (server.rs:74-77). A fired
    // watchdog abandons the request's work (see route): its Spark jobs
    // are cancelled and its store commits withdrawn; the handler's late
    // response attempt is suppressed by the responded-guard in
    // respondBytes.
    watchdog = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
      (r: Runnable) => { val t = new Thread(r, "gateway-watchdog"); t.setDaemon(true); t })
    watchdogIo = java.util.concurrent.Executors.newCachedThreadPool(
      (r: Runnable) => { val t = new Thread(r, "gateway-watchdog-io"); t.setDaemon(true); t })
    ingestSlots = new java.util.concurrent.Semaphore(graft.Config.ingestQueueLimit)
    spark.sparkContext.addSparkListener(lateJobCanceller)
    server.start()
    server.getAddress.getPort
  }

  def stop(): Unit = {
    if (server != null) server.stop(0)
    if (pool != null) pool.shutdown()
    if (watchdog != null) watchdog.shutdownNow()
    if (watchdogIo != null) watchdogIo.shutdownNow()
    spark.sparkContext.removeSparkListener(lateJobCanceller)
  }

  /** Cancels a job started under an abandoned request's tag: the
    * watchdog's tag cancel reaches only the jobs running when it fires,
    * and a handler may start more before it notices.
    */
  private val lateJobCanceller = new org.apache.spark.scheduler.SparkListener {
    override def onJobStart(
        e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
      if (org.apache.spark.graft.JobTags.of(e.properties)
          .exists(CommitGate.abandoned))
        spark.sparkContext.cancelJob(e.jobId, "request timed out")
  }

  // ------------------------------------------------------------- plumbing

  /** Per-exchange response lock, replacing the exchange-monitor
    * `synchronized`: the watchdog's 408 task uses `tryLock` instead of
    * parking — under the old scheme a fired watchdog BLOCKED a
    * watchdogIo thread on the exchange monitor for the full duration
    * of a streaming export (the monitor is held end-to-end as the
    * responded-guard), growing the cached pool by one parked thread
    * per timed-out slow export. A contended tryLock means a response
    * is already being written, so the 408 is moot either way.
    *
    * The lock lives in an identity-keyed side map, NOT in
    * `HttpExchange.setAttribute`: the JDK stores exchange attributes in
    * the shared HttpCONTEXT attribute map (verified on JDK 17 —
    * request N sees request N-1's attributes), so an attribute-held
    * lock would be one lock per ROUTE and a streaming export would
    * serialize every concurrent response on its route. Entries are
    * removed in the route's finally; a watchdog firing after that
    * reads null and skips (the responded-guard has already closed the
    * exchange).
    */
  private val exchangeLocks = new java.util.concurrent.ConcurrentHashMap[
    HttpExchange, java.util.concurrent.locks.ReentrantLock]()
  private[http] def lockOf(x: HttpExchange): java.util.concurrent.locks.ReentrantLock =
    exchangeLocks.computeIfAbsent(x,
      _ => new java.util.concurrent.locks.ReentrantLock())

  /** Soak-test observability: live per-exchange lock entries — MUST
    * return to zero when the gateway is idle (an entry that survives
    * its route's finally is the leak class the r13 review fixed by
    * hand; the soak asserts it stays fixed under sustained load).
    */
  private[graft] def liveExchangeLocks: Int = exchangeLocks.size()

  private def route(path: String, h: (HttpExchange, Map[String, String]) => Unit): Unit =
    server.createContext(path, new HttpHandler {
      override def handle(x: HttpExchange): Unit = {
        val t0 = System.nanoTime()
        phaseMicros.remove()
        // the request's Spark job tag, echoed to the client: every job
        // the handler starts carries it, so a timeout can cancel them
        val tag = s"graft-request-${java.util.UUID.randomUUID()}"
        x.getResponseHeaders.set("x-request-id", tag)
        CommitGate.open(tag)
        // create the exchange's lock EAGERLY: the watchdog task only
        // `get`s (a null there must mean finalized-and-removed, never
        // not-yet-created — a lazily created lock would let a 408 fire
        // into nothing and the timeout silently not happen)
        lockOf(x)
        // server timeout (reference: TimeoutLayer with REQUEST_TIMEOUT,
        // src/ingestors/http/server.rs:74-77): a watchdog answers 408 at
        // the deadline if the handler hasn't responded; the
        // responded-guard makes the race with a completing handler safe.
        // The scheduler thread only DISPATCHES — the blocking socket
        // write runs on the cached watchdogIo pool, so one slow client
        // draining its 408 can't delay other pending timeouts.
        val deadline = watchdog.schedule(new Runnable {
          override def run(): Unit = watchdogIo.execute(new Runnable {
            override def run(): Unit = {
              // tryLock, never park (see exchangeLocks scaladoc):
              // contended means a response is in flight — completing
              // handler or streaming export — and the timeout answer
              // is moot; a null lock means the exchange was already
              // finalized and removed. The 408 abandons the request's
              // work first: its running jobs are cancelled (a cancelled
              // write fails before any rename, so nothing lands) and
              // the commit gate refuses its later commits. A request
              // whose samples already started to commit is not
              // abandoned: it finishes and answers itself.
              val l = exchangeLocks.get(x)
              if (l != null && l.tryLock()) {
                try if (x.getResponseCode == -1 && CommitGate.abandon(tag)) {
                  spark.sparkContext.cancelJobsWithTag(tag, "request timed out")
                  respondError(x, 408, "request timed out")
                } finally l.unlock()
              }
            }
          })
        }, graft.Config.httpServerTimeoutSeconds,
          java.util.concurrent.TimeUnit.SECONDS)
        try {
          // one FAIR pool per worker thread: concurrent requests share
          // executors fairly instead of queueing behind a long scan
          // (GraftSession sets spark.scheduler.mode=FAIR; under FIFO
          // the property is harmlessly ignored). Local properties are
          // thread-local, so handler threads don't clobber each other.
          spark.sparkContext.setLocalProperty(
            "spark.scheduler.pool", Thread.currentThread().getName)
          spark.sparkContext.addJobTag(tag)
          // vanished-file retry (store contract, see ReadFaults): a GET
          // scan racing a vacuum can fault on a listed-then-deleted
          // file (or its .crc sidecar); the read is idempotent and
          // nothing is on the wire yet, so re-running the handler
          // re-lists and sees the compacted layout. POSTs (body already
          // consumed, publishes not idempotent) and responses already
          // started are never retried.
          var attempts = 0
          var done = false
          while (!done) {
            try { h(x, queryParams(x)); done = true }
            catch {
              case e: Throwable
                  if x.getRequestMethod == "GET" &&
                    x.getResponseCode == -1 && attempts < 3 &&
                    graft.store.ReadFaults.isVanishedFile(e) =>
                attempts += 1
                Thread.sleep(50L * attempts)
            }
          }
        } catch {
          case e: PayloadTooLarge => respondError(x, 413, e.getMessage)
          case e: graft.sources.DecodedBodyTooLarge =>
            respondError(x, 413, e.getMessage)
          case e: SimplePromQL.PromQLError => respondError(x, 400, e.getMessage)
          case e: IllegalArgumentException => respondError(x, 400, e.getMessage)
          case e: NoSuchElementException => respondError(x, 404, e.getMessage)
          case e: Exception => respondError(x, 500, String.valueOf(e.getMessage))
          // the one Error a request can provoke on its own: the stack
          // unwound, so the thread is fit to answer
          case _: StackOverflowError =>
            respondError(x, 500, "request nests too deeply to evaluate")
        } finally {
          // cancel returns false when the watchdog already fired — its
          // 408 write may still be queued on (or mid-flight in) the
          // watchdogIo pool. Taking the exchange monitor serializes
          // with that write (respondBytes holds it), and writing the
          // 408 HERE when the code is still -1 closes the remaining
          // window where close() could cut off the in-flight timeout
          // response and logRequest could record status -1.
          val cancelled = deadline.cancel(false)
          spark.sparkContext.setLocalProperty("spark.scheduler.pool", null)
          spark.sparkContext.removeJobTag(tag)
          CommitGate.close(tag)
          val l = lockOf(x)
          l.lock()
          try {
            if (!cancelled && x.getResponseCode == -1)
              respondError(x, 408, "request timed out")
            // the ROUTE prefix, not the raw URI: bounded metric/log
            // cardinality (/series/{uuid} records as /series); a still
            // -1 code (handler wrote nothing, watchdog never fired)
            // maps to the 499 sentinel rather than a "-1" label
            val status =
              if (x.getResponseCode == -1) 499 else x.getResponseCode
            logRequest(x.getRequestMethod, path,
              status, (System.nanoTime() - t0) / 1000L,
              phaseMicros.get().reverse)
            phaseMicros.remove()
            x.close()
          } finally {
            l.unlock()
            exchangeLocks.remove(x) // after close: no leak per exchange
          }
        }
      }
    })

  private def queryParams(x: HttpExchange): Map[String, String] = {
    val q = Option(x.getRequestURI.getRawQuery).getOrElse("")
    q.split("&").filter(_.nonEmpty).flatMap { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => Some(dec(k) -> dec(v))
        case Array(k) => Some(dec(k) -> "")
        case _ => None
      }
    }.toMap
  }
  private def dec(s: String) =
    java.net.URLDecoder.decode(s, StandardCharsets.UTF_8)

  private def respond(
      x: HttpExchange, code: Int, contentType: String, body: String): Unit =
    respondBytes(x, code, contentType, body.getBytes(StandardCharsets.UTF_8))

  private def respondBytes(
      x: HttpExchange, code: Int, contentType: String, body: Array[Byte]): Unit =
    // responded-guard: exactly ONE response per exchange. The watchdog's
    // 408 and a completing handler race on the same exchange; whichever
    // sends first wins and the loser is a silent no-op (getResponseCode
    // is -1 until headers are sent). Guarded by the per-exchange
    // ReentrantLock (see exchangeLocks) — reentrant, so the watchdog's
    // tryLock-then-respondError path nests safely.
    {
      val l = lockOf(x)
      l.lock()
      try {
        if (x.getResponseCode != -1) return
        x.getResponseHeaders.set("content-type", contentType)
        // observability for the concurrent-serving contract (and its
        // test): which pool worker handled this exchange
        x.getResponseHeaders.set("x-served-by", Thread.currentThread().getName)
        if (body.isEmpty) x.sendResponseHeaders(code, -1)
        else x.sendResponseHeaders(code, body.length)
        if (body.nonEmpty) x.getResponseBody.write(body)
        x.close() // flush now — the handler thread may still be busy
      } finally l.unlock()
    }

  /** Chunked-transfer response driven by a writer callback — the
    * memory-bound path for big exports: at the 10M-row default query
    * limit a materialized response would buffer the whole payload on
    * the edge, so export bodies are produced incrementally against the
    * response stream (with `toLocalIterator` upstream, residency is
    * one partition + one encode batch, independent of result size).
    * Same responded-guard as respondBytes; the per-exchange lock is
    * held for the duration of the stream, and a late watchdog 408
    * tryLocks — it skips immediately instead of parking behind the
    * export.
    *
    * Failure mid-stream: the 200 + headers are already on the wire,
    * and the JDK server writes the TERMINAL chunk when the exchange
    * closes — so without countermeasures a failed export would look
    * like a complete, well-formed shorter body. Truncation is
    * therefore made detectable IN BAND: `onError` writes a
    * format-appropriate marker (error row / error JSON line) before
    * the exception propagates, the Arrow writers withhold the IPC
    * footer on failure (readers reject footer-less files), SenML's
    * array simply never closes (invalid JSON), and a structured error
    * line is logged — the 200 status itself cannot be retracted,
    * which is inherent to streaming over HTTP.
    */
  private def respondStreaming(
      x: HttpExchange, code: Int, contentType: String,
      onError: java.io.OutputStream => Unit = _ => ())(
      write: java.io.OutputStream => Unit): Unit = {
    // the lock is held for the duration of the stream (it IS the
    // responded-guard), but a fired watchdog only tryLocks — it skips
    // instead of parking a thread behind the whole export
    val l = lockOf(x)
    l.lock()
    try {
      if (x.getResponseCode != -1) return
      x.getResponseHeaders.set("content-type", contentType)
      x.getResponseHeaders.set("x-served-by", Thread.currentThread().getName)
      x.sendResponseHeaders(code, 0) // length 0 = chunked transfer
      val out = x.getResponseBody
      try write(out)
      catch { case e: Throwable =>
        try {
          onError(out); out.flush()
          logSink(s"""{"level":"error","target":"gateway",""" +
            s""""event":"export_stream_failed",""" +
            s""""error":${jsonStr(String.valueOf(e.getMessage))}}""")
        } catch { case _: Throwable => () }
        throw e
      }
      out.flush()
      x.close()
    } finally l.unlock()
  }

  /** [[respondStreaming]] over an iterator of text parts, coalesced
    * into ~64 KiB writes (one syscall per line would dominate at 10M
    * rows). `errorMarker` (if non-empty) is appended in band when the
    * stream fails mid-body, so consumers can distinguish a truncated
    * export from a complete one.
    */
  private def respondTextStream(
      x: HttpExchange, code: Int, contentType: String,
      parts: Iterator[String], errorMarker: String = ""): Unit =
    respondStreaming(x, code, contentType,
      onError = out => if (errorMarker.nonEmpty)
        out.write(errorMarker.getBytes(StandardCharsets.UTF_8))) { out =>
      val buf = new java.lang.StringBuilder
      while (parts.hasNext) {
        buf.setLength(0)
        while (parts.hasNext && buf.length < 64 * 1024)
          buf.append(parts.next())
        out.write(buf.toString.getBytes(StandardCharsets.UTF_8))
      }
    }

  /** In-band truncation markers per text export format: a CSV row that
    * cannot parse as data, and a JSON object line NDJSON consumers can
    * check for. SenML needs none — its array never closes on failure,
    * which is already invalid JSON.
    */
  private val CsvErrorMarker = "\nGRAFT-EXPORT-ERROR,truncated-response\n"
  private val JsonlErrorMarker =
    "\n{\"graft_export_error\":\"truncated-response\"}\n"

  /** head + sep-joined lines + tail as a lazy part iterator. */
  private def joined(
      lines: Iterator[String], head: String, sep: String,
      tail: String): Iterator[String] = {
    val body = new Iterator[String] {
      private var first = true
      def hasNext: Boolean = lines.hasNext
      def next(): String = {
        val s = lines.next()
        if (first) { first = false; s } else sep + s
      }
    }
    Iterator(head) ++ body ++ Iterator(tail)
  }

  private def respondError(x: HttpExchange, code: Int, msg: String): Unit =
    respond(x, code, "application/json",
      s"""{"error":${jsonStr(msg)}}""")

  private def jsonStr(s: String): String =
    "\"" + String.valueOf(s).flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** Request body, capped at SENSAPP_HTTP_BODY_LIMIT (default 10 MB,
    * reference: src/config/mod.rs:19-20): fast-reject on Content-Length,
    * then a bounded read for chunked/unsized bodies — oversize is 413
    * before the bytes are buffered, matching axum's DefaultBodyLimit.
    */
  private def body(x: HttpExchange): Array[Byte] = {
    val cap = graft.Config.httpBodyLimit
    header(x, "content-length").map(_.toLong).filter(_ > cap).foreach { n =>
      throw new PayloadTooLarge(s"request body $n bytes exceeds limit $cap")
    }
    val in = x.getRequestBody
    val buf = new java.io.ByteArrayOutputStream()
    val chunk = new Array[Byte](64 * 1024)
    var read = in.read(chunk)
    while (read >= 0) {
      buf.write(chunk, 0, read)
      if (buf.size() > cap)
        throw new PayloadTooLarge(
          s"request body exceeds limit $cap bytes")
      read = in.read(chunk)
    }
    buf.toByteArray
  }

  private def header(x: HttpExchange, k: String): Option[String] =
    Option(x.getRequestHeaders.getFirst(k))

  /** RFC3339/ISO8601 start/end params → epoch µs
    * (reference: src/ingestors/http/crud.rs:53-57).
    */
  private def parseTime(p: Map[String, String], key: String): Option[Long] =
    p.get(key).map { s =>
      TypeInference.parseDateTimeUs(s).getOrElse(
        throw new IllegalArgumentException(s"Invalid $key datetime: $s"))
    }

  // ------------------------------------------------------------- catalog

  // Catalog and discovery answers come from the store's catalog snapshot
  // on the driver: the whole-catalog views are built once per snapshot,
  // and matchers select the snapshot's rows per request — no Spark job
  // while the catalog is unchanged.

  private def handleMetrics(x: HttpExchange, p: Map[String, String]): Unit = {
    val datasets = phase("match_us") {
      val keep = Catalog.metricsFilter(
        p.get("name_contains"), p.get("name_regex"), p.get("type"))
      store.catalogSnapshot.metrics
        .collect { case m if keep(m.name, m.sensorType) => m.dataset }
    }
    phase("serialize_us")(respond(x, 200, "application/json",
      Catalog.catalogDocument(datasets, "/metrics", s"$name Metrics Catalog",
        "Aggregated metrics across all time series")))
  }

  private def handleSeries(x: HttpExchange, p: Map[String, String]): Unit = {
    val path = x.getRequestURI.getPath
    if (path == "/series" || path == "/series/") {
      val datasets = phase("match_us") {
        val snap = store.catalogSnapshot
        // ordered by uuid either way: the snapshot's rows are
        val rows = p.get("selector") match {
          case Some(sel) => Matchers.selectRows(snap.rows, Catalog.parseSelector(sel))
          case None => snap.rows
        }
        rows.map(r => snap.seriesDataset(r.getString(0)))
      }
      phase("serialize_us")(respond(x, 200, "application/json",
        Catalog.catalogDocument(datasets, "/series", s"$name Series Catalog",
          "All time series datasets")))
    } else handleSeriesData(x, p, path.stripPrefix("/series/"))
  }

  // --------------------------------------------------------- series data

  private def handleSeriesData(
      x: HttpExchange, p: Map[String, String], uuid: String): Unit = {
    if (!uuid.matches("[0-9a-fA-F-]{36}"))
      throw new IllegalArgumentException(s"Invalid UUID format: '$uuid'")
    val row = phase("match_us")(store.sensor(uuid)).getOrElse(
      throw new NoSuchElementException(s"Series with UUID '$uuid' not found"))
    val sType = SensorType.fromString(row.getString(2)).get
    val unit = Option(row.getStruct(3)).map(_.getString(0))
    val labels = Option(row.getMap[String, String](4))
      .map(_.toMap.asInstanceOf[Map[String, String]]).getOrElse(Map.empty)
    val limit = p.get("limit").map(_.toInt).getOrElse(SensorOps.DefaultQueryLimit)
    // a negative limit would reach DataFrame.limit() and fault as an
    // AnalysisException (500); it's a caller error (400)
    if (limit < 0)
      throw new IllegalArgumentException(s"limit must be non-negative: $limit")
    val (startUs, endUs) = (parseTime(p, "start"), parseTime(p, "end"))
    // Export bodies STREAM (chunked transfer + toLocalIterator): the
    // default query limit is 10M rows (reference:
    // src/storage/mod.rs:17), and a collect()-then-respond shape would
    // buffer the full payload at the edge. The bulk formats scan
    // WITHOUT the plan-level limit — orderBy+limit collapses to ONE
    // output partition, which toLocalIterator would materialize whole
    // on the driver (see rangeScanUnlimited) — and enforce the row cap
    // on the iterator instead, so edge residency is one RANGE partition
    // + one 64 KiB text buffer (or one Arrow batch). SenML keeps the
    // limited scan: its base-time window is global by format design
    // (record 1 carries the base fields every other record is relative
    // to), so that plan single-partitions regardless.
    import scala.jdk.CollectionConverters._
    lazy val read = sampleRead(store.samplesInRange(sType, startUs, endUs))
    lazy val scanUnlimited =
      SensorOps.rangeScanUnlimited(read, uuid, startUs, endUs)
    phase("serialize_us")(p.getOrElse("format", "senml") match {
      case "senml" =>
        val scan = SensorOps.rangeScan(read, uuid, startUs, endUs, limit)
        val lines = SenML.exportMulti(SenML.seriesFrame(
          scan, uuid, row.getString(1), unit, labels, sType))
          .toLocalIterator().asScala
        respondTextStream(x, 200, "application/senml+json",
          joined(lines, "[", ",", "]"))
      case "csv" =>
        val lines = Exporters.toCsv(renderedValues(scanUnlimited, sType))
          .toLocalIterator().asScala.take(limit)
        respondTextStream(x, 200, "text/csv",
          Iterator("timestamp,value\n") ++ lines.map(_ + "\n"),
          errorMarker = CsvErrorMarker)
      case "jsonl" =>
        val lines = Exporters.toJsonl(
          renderedValues(scanUnlimited, sType), uuid,
          row.getString(1), sType.displayName.toLowerCase, labels)
          .toLocalIterator().asScala.take(limit)
        respondTextStream(x, 200, "application/x-ndjson",
          lines.map(_ + "\n"), errorMarker = JsonlErrorMarker)
      case "arrow" =>
        // single series use the TYPED schema for every value type
        // (reference: src/exporters/arrow/mod.rs:224-388); Float keeps
        // the established slim timestamp+value layout, the rest carry
        // sensor_id/sensor_name like the reference. The long all-string
        // schema remains the multi-series contract (export_bulk).
        sType match {
          case SensorType.Float =>
            // the volume type streams IPC batches straight onto the
            // response — bounded by one 64Ki-row batch
            val rows = scanUnlimited
              .select(col("timestamp_us"), col("value"))
              .toLocalIterator().asScala.take(limit)
              .map(r => (r.getLong(0), r.getDouble(1)))
            respondStreaming(x, 200, "application/vnd.apache.arrow.file")(
              out => graft.sources.ArrowIO.writeFloatSeriesStream(rows, out))
          case _ =>
            // the non-Float typed encoders buffer one series; these
            // are the low-volume value types (location fixes, blobs,
            // json) — the Float stream above carries the bulk path
            val scan = SensorOps.rangeScan(read, uuid, startUs, endUs, limit)
            val rows = scan.select(col("timestamp_us"), col("value"))
              .collect().map { r =>
                val v: Any = sType match {
                  case SensorType.Location =>
                    (r.getStruct(1).getDouble(0), r.getStruct(1).getDouble(1))
                  case SensorType.Numeric => r.getDecimal(1)
                  case _ => r.get(1)
                }
                (r.getLong(0), v)
              }.toSeq
            respondBytes(x, 200, "application/vnd.apache.arrow.file",
              graft.sources.ArrowIO.encodeTypedSeries(
                graft.sources.ArrowIO.TypedSeries(
                  sType, Some(uuid), Some(row.getString(1)), rows)))
        }
      case other =>
        throw new IllegalArgumentException(
          s"Unsupported export format '$other'. Supported formats: senml, csv, jsonl, arrow")
    })
  }

  /** Text rendering of typed values for CSV/JSONL (blob → base64, location
    * → lat,lon json; reference: src/exporters/csv.rs:90-112).
    */
  private def renderedValues(scan: DataFrame, t: SensorType): DataFrame =
    scan.select(col("timestamp_us"), textValue(t).as("value"))

  private def textValue(t: SensorType): Column = t match {
    case SensorType.Blob => base64(col("value"))
    case SensorType.Location => to_json(col("value"))
    case _ => col("value").cast(StringType)
  }

  // -------------------------------------------------------------- publish

  /** `samples`, failing once the request's timeout abandoned it: the
    * 408 cancels Spark jobs, and a driver-side parse is none, so without
    * this it would run to its first commit holding the body and the slot.
    */
  private def untilAbandoned[A](x: HttpExchange, samples: Iterator[A]): Iterator[A] = {
    val tag = x.getResponseHeaders.getFirst("x-request-id")
    var n = 0
    samples.map { a =>
      n += 1
      if ((n & 0xfff) == 0 && CommitGate.abandoned(tag))
        throw new java.util.concurrent.CancellationException(
          s"request $tag timed out")
      a
    }
  }

  /** Bounded-queue backpressure on the write paths (T4; reference:
    * docs/ARCHITECTURE.md:114-118): at most GRAFT_INGEST_QUEUE_LIMIT
    * publishes admitted at once; beyond that the edge sheds with 503 +
    * Retry-After instead of piling unbounded Spark jobs — the
    * explicit overload signal the reference's publisher queue gives.
    *
    * Slot lifetime: a slot is held until the handler returns, including
    * after a 408 has already answered the client — admitting a new
    * publish while the old one still consumes executors would make the
    * admission bound a fiction. A 408 cancels the publish's Spark jobs
    * (see route) and stops a driver-side parse ([[untilAbandoned]]), so
    * the slot frees once the cancelled work unwinds;
    * a cancelled write fails before any rename, and the staged append
    * withdraws it. Under timeout storms this still pushes further
    * publishes into the 503 shed path: the cluster IS overloaded, and
    * shedding is the honest signal.
    */
  private def withIngestSlot(x: HttpExchange)(work: => Unit): Unit = {
    if (!ingestSlots.tryAcquire()) {
      x.getResponseHeaders.set("retry-after", "1")
      respondError(x, 503, "ingest queue saturated, retry later")
      return
    }
    try work finally ingestSlots.release()
  }

  private def handlePublish(x: HttpExchange, p: Map[String, String]): Unit =
    withIngestSlot(x) {
      val ct = header(x, "content-type").getOrElse("text/csv")
      val raw = phase("decode_us")(body(x))
      val batch = phase("parse_us") {
        if (ct.contains("application/json")) senmlBatch(raw)
        else if (ct.contains("application/vnd.apache.arrow.file"))
          arrowBatch(raw)
        else csvBatch(raw) // CSV is the default content type
      }
      phase("commit_us")(store.publish(batch))
      respond(x, 200, "text/plain", "ok")
    }

  private def csvBatch(bytes: Array[Byte]): IngestBatch = {
    import spark.implicits._
    val text = new String(bytes, StandardCharsets.UTF_8)
    val ds = spark.createDataset(text.linesIterator.toSeq.filter(_.nonEmpty))
    val raw = spark.read.option("header", "true").option("inferSchema", "false")
      .csv(ds)
    CsvImporter.importFrames(spark, raw)
  }

  private def senmlBatch(bytes: Array[Byte]): IngestBatch = {
    import spark.implicits._
    val docs = spark.createDataset(
      Seq(new String(bytes, StandardCharsets.UTF_8)))
    val rows = SenML.typed(docs).withColumnRenamed("unit", "unit_name")
    // a series keeps the unit of its first record in document order
    val series = rows.groupBy(col("name"), col("type"))
      .agg(IngestBatch.firstUnit(struct(col("doc_id"), col("pos")))
        .as("unit_name"))
      .withColumn("labels", lit(null))
    IngestBatch.fromSeries(series)(uuids =>
      SenML.importJson(docs).map { case (t, df) =>
        t -> IngestBatch.withIds(df, uuids) })
  }

  private def arrowBatch(bytes: Array[Byte]): IngestBatch = {
    import spark.implicits._
    val fields = graft.sources.ArrowIO.ipcFieldNames(bytes)
    if (Set("type", "labels").subsetOf(fields)) {
      // long-format IPC (the reference's multi-series schema); values all
      // strings, the type column names the sensor type
      val rows = graft.sources.ArrowIO.decodeLongFormat(bytes)
      val typeOf = rows.map(_.valueType).distinct.map(tn =>
        tn -> SensorType.fromString(tn).getOrElse(
          throw new IllegalArgumentException(s"bad type: $tn"))).toMap
      val df = rows.map(r => (r.timestampUs, r.sensorName, r.value,
          typeOf(r.valueType).displayName, r.labelsJson))
        .toDF("timestamp_us", "name", "value", "type", "labels_json")
        .withColumn("labels", from_json(col("labels_json"),
          MapType(StringType, StringType)))
        .withColumn("unit_name", lit(null))
      IngestBatch.fromRows(df, typeOf.values.toSeq.distinct)(_ => col("value"))
    } else {
      // typed single-series IPC: the value field's Arrow type names the
      // sensor type, sensor_id is the uuid, name falls back to it. A
      // file WITHOUT a sensor_id column gets a fresh random UUID, like
      // the reference importer (src/importers/arrow.rs:304-321) — the
      // gateway's own Float export emits only timestamp+value, so the
      // export→publish roundtrip must accept id-less files.
      val ser0 = graft.sources.ArrowIO.decodeTypedSeries(bytes)
      val uuid = ser0.sensorId.getOrElse(
        java.util.UUID.randomUUID().toString)
      val ser = ser0.copy(sensorId = Some(uuid))
      val sensors = Seq((uuid, ser.sensorName.getOrElse(uuid),
          ser.sensorType.displayName, null: String, null: Map[String, String]))
        .toDF("uuid", "name", "type", "unit_name", "labels")
      IngestBatch(IngestBatch.catalog(sensors),
        Map(ser.sensorType ->
          graft.sources.ArrowIO.typedSeriesToFrame(spark, ser)))
    }
  }

  // -------------------------------------------------------------- influx

  /** The body is whole in driver memory (capped by the body limits), so
    * it is parsed and normalized there: the commit starts only the
    * catalog append of novel series and one write per present type.
    * Remote write does the same. Measured on 4 cores (1,000 series): a
    * 10 MB body of 153k lines answers in 2.5-3.0 s (8-9 s with a
    * distributed parse), a gzip body decoding to 50 MB (768k lines) in
    * 12-15 s (30 s, at the timeout); one decoding to 250 MB (4M lines)
    * times out either way, so the default decoded cap
    * ([[graft.Config.DecodedBodyLimitDefault]], 16 MiB) answers it 413
    * before its parse.
    */
  private def handleInfluxWrite(x: HttpExchange, p: Map[String, String]): Unit = withIngestSlot(x) {
    val text = phase("decode_us")(BodyCodec.decodeBody(body(x),
      header(x, "content-encoding"), graft.Config.decodedBodyLimit))
    val bucket = p.getOrElse("bucket", "")
    val org = p.getOrElse("org", p.getOrElse("orgID", ""))
    val precision = p.getOrElse("precision", "ns")
    // Numeric mode (reference: src/ingestors/http/influxdb.rs:63-125):
    // ?numeric=true lands i64/f64 fields as exact Numeric samples
    val withNumeric = p.get("numeric").exists(v =>
      v.isEmpty || v.equalsIgnoreCase("true"))
    val batch = phase("parse_us")(IngestBatch.fromLocal(spark,
      untilAbandoned(x, InfluxLineProtocol.parseLocal(text.linesIterator,
        bucket, org, precision, withNumeric))))
    phase("commit_us")(store.publish(batch))
    respondBytes(x, 204, "text/plain", Array.emptyByteArray)
  }

  // ---------------------------------------------------------- prometheus

  private def handleRemoteWrite(x: HttpExchange, p: Map[String, String]): Unit = withIngestSlot(x) {
    val decompressed = phase("decode_us")(PrometheusRemote.snappyDecompress(
      body(x), graft.Config.decodedBodyLimit))
    val batch = phase("parse_us") {
      val wr = PrometheusRemote.parseWriteRequest(decompressed)
      // shared with the streaming ingest path — one definition of
      // remote-write sensor identity (PrometheusRemote.writeRequestRows)
      IngestBatch.fromLocal(spark, untilAbandoned(x,
        PrometheusRemote.writeRequestRows(wr).iterator.map {
          case (name, labels, unit, ts, v) => IngestBatch.LocalSample(
            name, SensorType.Float, unit, labels, ts, v)
        }))
    }
    phase("commit_us")(store.publish(batch))
    respondBytes(x, 204, "text/plain", Array.emptyByteArray)
  }

  private def handleRemoteRead(x: HttpExchange, p: Map[String, String]): Unit = {
    // strict header validation (reference: prometheus_read.rs:25-78)
    header(x, "content-encoding").map(_.toLowerCase) match {
      case Some("snappy") => ()
      case Some(_) => throw new IllegalArgumentException(
        "Unsupported content-encoding, must be snappy")
      case None => throw new IllegalArgumentException(
        "Missing content-encoding header")
    }
    header(x, "content-type").map(_.toLowerCase) match {
      case Some("application/x-protobuf") => ()
      case Some(_) => throw new IllegalArgumentException(
        "Unsupported content-type, must be application/x-protobuf")
      case None => throw new IllegalArgumentException(
        "Missing content-type header")
    }
    header(x, "x-prometheus-remote-read-version") match {
      case Some("0.1.0") => ()
      case Some(_) => throw new IllegalArgumentException(
        "Unsupported x-prometheus-remote-read-version, must be 0.1.0")
      case None => throw new IllegalArgumentException(
        "Missing x-prometheus-remote-read-version header")
    }
    val decompressed =
      PrometheusRemote.snappyDecompress(body(x), graft.Config.decodedBodyLimit)
    val (queries, accepted) = PrometheusRemote.parseReadRequest(decompressed)
    val rq = queries.map { q =>
      RemoteRead.Query(q.startMs, q.endMs, q.matchers.map(m => m.mtype match {
        case 0 => LabelMatcher.eq_(m.name, m.value)
        case 1 => LabelMatcher.neq(m.name, m.value)
        case 2 => LabelMatcher.regex(m.name, m.value)
        case 3 => LabelMatcher.notRegex(m.name, m.value)
        case other =>
          throw new IllegalArgumentException(s"bad matcher type: $other")
      }))
    }
    val matched = phase("match_us") {
      val rows = store.catalogSnapshot.rows
      rq.map(q => Matchers.selectRows(rows, q.matchers, numericOnly = true))
    }
    // the scan envelope across all queries; each query re-filters its own
    // exact range in RemoteRead.plan
    val samples = numericFloatView(
      rq.map(_.startMs * 1000L).minOption, rq.map(_.endMs * 1000L).maxOption)
    phase("serialize_us") {
      if (accepted.contains(1)) { // STREAMED_XOR_CHUNKS
        x.getResponseHeaders.set("content-type",
          "application/x-streamed-protobuf; proto=prometheus.ChunkedReadResponse")
        val bytes = RemoteRead.chunkedResponse(matched, samples, rq)
        x.sendResponseHeaders(200, if (bytes.isEmpty) -1 else bytes.length)
        if (bytes.nonEmpty) x.getResponseBody.write(bytes)
      } else {
        val payload = RemoteRead.samplesResponse(matched, samples, rq)
        x.getResponseHeaders.set("content-encoding", "snappy")
        respondBytes(x, 200, "application/x-protobuf",
          PrometheusRemote.snappyCompressLiteral(payload))
      }
    }
  }

  /** Flight-style bulk export: match series with a PromQL selector,
    * encode each to a standalone Arrow IPC file payload ON THE EXECUTORS
    * ([[graft.sources.ArrowIO.encodeSeriesDistributed]]), and have each
    * partition write its series' files directly into `dir` — the driver
    * collects only the manifest (id, rows, path, bytes), never sample
    * data. `GET /api/v1/admin/export_bulk?query=<selector>&dir=<path>`
    * → JSON manifest.
    *
    * Contract: `dir` must be on storage shared by driver and executors
    * (the same requirement as every Spark sink path — on a cluster that
    * means a distributed filesystem, not executor-local disk), and this
    * is an ADMIN route: the path is trusted operator input, so deploy it
    * behind the same access boundary as vacuum/resample.
    */
  private def handleExportBulk(
      x: HttpExchange, p: Map[String, String]): Unit = {
    val query = p.getOrElse("query",
      throw new IllegalArgumentException("missing query parameter"))
    val dir = p.getOrElse("dir",
      throw new IllegalArgumentException("missing dir parameter"))
    val parsed = SimplePromQL.parse(query,
      nowUs = System.currentTimeMillis() * 1000L)
    val ids = Matchers.selectRows(store.catalogSnapshot.rows,
      parsed.matchers, numericOnly = true).map(_.getString(0))
    val samples = numericFloatView(Some(parsed.startUs), Some(parsed.endUs))
      .filter(col("timestamp_us").between(parsed.startUs, parsed.endUs) &&
        col("sensor_id").isin(ids: _*))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    val enc = graft.sources.ArrowIO.encodeSeriesDistributed(samples)
    val spark2 = spark
    import spark2.implicits._
    val manifest = enc.as[(String, Long, Array[Byte])].mapPartitions { it =>
      it.map { case (id, n, bytes) =>
        val safe = java.net.URLEncoder.encode(id, "UTF-8")
        val path = java.nio.file.Paths.get(dir, s"$safe.arrow")
        java.nio.file.Files.write(path, bytes)
        (id, n, path.toString, bytes.length.toLong)
      }
    }.collect()
    val json = manifest.sortBy(_._1).map { case (id, n, path, sz) =>
      s"""{"sensor_id":${jsonStr(id)},"n_samples":$n,""" +
        s""""file":${jsonStr(path)},"bytes":$sz}"""
    }.mkString("[", ",", "]")
    respond(x, 200, "application/json", json)
  }

  /** All numeric samples as doubles (Prometheus sees Int/Numeric/Float
    * coerced to f64; reference: src/parsing/prometheus/converter.rs:87-110).
    * Time bounds, when known, prune month partitions at the scan.
    */
  private def numericFloatView(
      startUs: Option[Long], endUs: Option[Long]): DataFrame =
    sampleRead(Seq(SensorType.Float, SensorType.Integer, SensorType.Numeric)
      .map(t => store.samplesInRange(t, startUs, endUs)
        .select(col("sensor_id"), col("timestamp_us"),
          col("value").cast("double").as("value")))
      .reduce(_ unionByName _))

  /** Every sample read of the gateway, planned for its size: a read
    * whose files, after month pruning, fit in Spark's
    * `spark.sql.files.openCostInBytes` (4 MB by default — Spark's own
    * estimate of the bytes it could scan in the time it takes to open a
    * file) runs as one partition. It is then one job of one task, and
    * the sort, aggregate or per-series fold over it plans no exchange,
    * since one partition satisfies every distribution they require.
    * Larger reads keep their file partitions, and a sorted export its
    * range partitions, which bound what `toLocalIterator` holds on the
    * edge.
    *
    * Crossover, one client on 4 cores, warm, median of 15 runs per plan
    * (two alternating rounds), a store of 1,000 series in one month, by
    * the bytes the read covers (one task vs the partitioned plan):
    *  - a single-series 400-row CSV export: one task wins at every size
    *    measured, 0.6–49 MB (2.6 MB: 130 vs 205 ms; 49 MB: 89 vs 155
    *    ms), since the sorted files let it read only that series' pages;
    *  - a remote-read chunk fold of 250 series over the whole month:
    *    level up to 2.6 MB (1.3 MB: 295 vs 303 ms; 2.6 MB: 367 vs 360
    *    ms), then one task loses (5.2 MB: 721 vs 442 ms; 10.5 MB: 1278
    *    vs 598 ms).
    * A read that touches most of what it covers breaks even between 2.6
    * and 5.2 MB, about where the open cost puts the line.
    */
  private def sampleRead(read: DataFrame): DataFrame = {
    val openCost = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.files.openCostInBytes"))
    if (SensorStore.scanBytes(read).exists(_ <= openCost)) read.coalesce(1)
    else read
  }

  // -------------------------------------------------------------- promql

  // ---------------------------------------- Prometheus discovery API

  /** Every value of the repeatable `match[]` parameter — [[queryParams]]
    * collapses repeated keys into one map entry, and Prometheus
    * discovery semantics are the UNION over all given selectors.
    */
  private def matchParams(x: HttpExchange): Seq[String] = {
    val q = Option(x.getRequestURI.getRawQuery).getOrElse("")
    q.split("&").filter(_.nonEmpty).toSeq.flatMap { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if dec(k) == "match[]" => Some(dec(v))
        case _ => None
      }
    }
  }

  /** Catalog snapshot rows matching the union of the given series
    * selectors (each a bare selector — a range like `up[5m]` is a 400,
    * matching Prometheus), in uuid order. Empty selector list = the whole
    * catalog.
    */
  private def matchedCatalog(selectors: Seq[String]): IndexedSeq[Row] = {
    val nowUs = System.currentTimeMillis() * 1000L
    val preds = selectors.map { s =>
      val parsed = SimplePromQL.parse(s, nowUs)
      if (parsed.hadRange)
        throw new IllegalArgumentException(
          s"match[] must be a series selector without a range: $s")
      Matchers.compiled(parsed.matchers)
    }
    val rows = store.catalogSnapshot.rows
    if (preds.isEmpty) rows
    else rows.filter(r =>
      preds.exists(_(r.getString(1), r.getMap[String, String](4))))
  }

  /** A catalog row's labels, empty when it has none. */
  private def labelsOf(r: Row): Map[String, String] =
    Option(r.getMap[String, String](4)).map(_.toMap).getOrElse(Map.empty)

  /** `limit` parameter shared by the three discovery endpoints
    * (0 / absent = unlimited, Prometheus semantics).
    */
  private def discoveryLimit(p: Map[String, String]): Int = {
    val n = p.get("limit").map(_.toInt).getOrElse(0)
    if (n < 0) throw new IllegalArgumentException(
      s"limit must be non-negative: $n")
    n
  }

  private def successArray(items: Seq[String]): String =
    items.mkString("""{"status":"success","data":[""", ",", "]}")

  /** `GET /api/v1/labels` — distinct label names across the (optionally
    * match[]-filtered) catalog, sorted, `__name__` included whenever any
    * series matches ([[Catalog.labelNames]]; unfiltered, the snapshot's
    * view). `start`/`end` are accepted and ignored (the catalog is not
    * time-bucketed — same answer for every window, which Prometheus
    * permits).
    */
  private def handleLabelNames(
      x: HttpExchange, p: Map[String, String]): Unit = {
    val lim = discoveryLimit(p)
    val names = phase("match_us") {
      val selectors = matchParams(x)
      if (selectors.isEmpty) store.catalogSnapshot.labelNames
      else Catalog.labelNames(matchedCatalog(selectors))
    }
    val out = if (lim > 0) names.take(lim) else names
    phase("serialize_us")(
      respond(x, 200, "application/json", successArray(out.map(jsonStr))))
  }

  /** `GET /api/v1/label/{name}/values` — distinct values of one label
    * (with `__name__` mapping to sensor names), sorted; match[] filters
    * first.
    */
  private def handleLabelValues(
      x: HttpExchange, p: Map[String, String]): Unit = {
    val parts = x.getRequestURI.getPath.split("/").filter(_.nonEmpty)
    // expected: api / v1 / label / {name} / values
    if (parts.length != 5 || parts(4) != "values")
      throw new NoSuchElementException(
        "expected /api/v1/label/{name}/values")
    val label = parts(3)
    val lim = discoveryLimit(p)
    val values = phase("match_us") {
      val valueOf: Row => Option[String] =
        if (label == LabelMatcher.NameLabel) r => Option(r.getString(1))
        else r => labelsOf(r).get(label).flatMap(Option(_))
      matchedCatalog(matchParams(x)).flatMap(valueOf).distinct.sorted
    }
    val out = if (lim > 0) values.take(lim) else values
    phase("serialize_us")(
      respond(x, 200, "application/json", successArray(out.map(jsonStr))))
  }

  /** `GET /api/v1/series` — the label sets of every series matching at
    * least one match[] selector (required, as in Prometheus). Each
    * entry renders `__name__` first then the labels sorted by key; rows
    * ordered by uuid (the catalog convention) so the answer is
    * deterministic.
    */
  private def handleSeriesDiscovery(
      x: HttpExchange, p: Map[String, String]): Unit = {
    val selectors = matchParams(x)
    if (selectors.isEmpty)
      throw new IllegalArgumentException(
        "series discovery requires at least one match[] selector")
    val lim = discoveryLimit(p)
    val rows = phase("match_us") {
      val matched = matchedCatalog(selectors)
      if (lim > 0) matched.take(lim) else matched
    }
    phase("serialize_us") {
      val objs = rows.map { r =>
        (("__name__" -> r.getString(1)) +: labelsOf(r).toSeq.sortBy(_._1))
          .map { case (k, v) => s"${jsonStr(k)}:${jsonStr(v)}" }
          .mkString("{", ",", "}")
      }
      respond(x, 200, "application/json", successArray(objs))
    }
  }

  /** `GET /api/v1/metadata` — per-metric metadata from the catalog
    * (the last Prometheus browse call Grafana issues): numeric sensor
    * types surface as `gauge`, everything else `unknown`; the unit
    * name rides along; `help` is empty (the catalog stores none —
    * reference parity, its sensors table has no help text either).
    * `metric` filters to one name; `limit` caps the metric count.
    */
  private val numericTypeNames = SensorType.numericTypes.map(_.displayName).toSet

  private def handleMetricMetadata(
      x: HttpExchange, p: Map[String, String]): Unit = {
    val lim = discoveryLimit(p)
    val rows = phase("match_us") {
      val all = store.catalogSnapshot.rows
      p.get("metric").fold(all)(m => all.filter(_.getString(1) == m))
        .map(r => (r.getString(1), r.getString(2),
          Option(r.getStruct(3)).flatMap(u => Option(u.getString(0)))))
        .distinct.sortBy(r => (r._1, r._2, r._3))
    }
    val byName = rows.groupBy(_._1).toSeq.sortBy(_._1)
    val limited = if (lim > 0) byName.take(lim) else byName
    phase("serialize_us") {
      val body = limited.map { case (nm, entries) =>
        val objs = entries.map { case (_, t, unit) =>
          val promType = if (numericTypeNames.contains(t)) "gauge" else "unknown"
          s"""{"type":"$promType","help":"",""" +
            s""""unit":${jsonStr(unit.getOrElse(""))}}"""
        }
        s"${jsonStr(nm)}:${objs.mkString("[", ",", "]")}"
      }.mkString("""{"status":"success","data":{""", ",", "}}")
      respond(x, 200, "application/json", body)
    }
  }

  private def handlePromql(x: HttpExchange, p: Map[String, String]): Unit = {
    val query = p.getOrElse("query",
      throw new IllegalArgumentException("missing query parameter"))
    val parsed = SimplePromQL.parse(query,
      nowUs = System.currentTimeMillis() * 1000L)
    val matched = phase("match_us")(
      Matchers.selectRows(store.catalogSnapshot.rows, parsed.matchers))
    // multi-series exports stream exactly like /series/{uuid}: chunked
    // transfer + toLocalIterator — a matcher can select the whole
    // store, so edge residency must stay one partition + one buffer
    import scala.jdk.CollectionConverters._
    val fmt = p.getOrElse("format", "senml")
    phase("serialize_us")(fmt match {
      case "senml" =>
        // ONE plan for all matched series (per-type scans unioned), not a
        // query loop per series; exportMulti assigns base fields per
        // series and bver to the document's first record
        val lines =
          if (matched.isEmpty) Iterator.empty[String]
          else SenML.exportMulti(senmlLongView(
            matched, parsed.startUs, parsed.endUs))
            .toLocalIterator().asScala
        respondTextStream(x, 200, "application/senml+json",
          joined(lines, "[", ",", "]"))
      case "csv" | "jsonl" =>
        val long = longView(matched, parsed.startUs, parsed.endUs)
        if (fmt == "csv") {
          // header keys from the matched rows: no job over the samples
          val (hdr, lines) = Exporters.toCsvMulti(long,
            matched.flatMap(labelsOf(_).keys))
          respondTextStream(x, 200, "text/csv",
            Iterator(hdr + "\n") ++
              lines.toLocalIterator().asScala.map(_ + "\n"),
            errorMarker = CsvErrorMarker)
        } else {
          val lines = long.orderBy("sensor_id", "timestamp_us")
            .select(to_json(struct(
              col("sensor_id").as("sensor_uuid"), col("sensor_name"),
              Exporters.rfc3339(col("timestamp_us")).as("timestamp"),
              col("value"), lower(col("type")).as("type"),
              coalesce(col("labels"), map().cast(MapType(StringType, StringType)))
                .as("labels"))))
            .toLocalIterator().asScala.map(_.getString(0))
          respondTextStream(x, 200, "application/x-ndjson",
            lines.map(_ + "\n"), errorMarker = JsonlErrorMarker)
        }
      case "arrow" =>
        // multi-series export always uses the long all-string schema,
        // streamed in bounded IPC batches
        val rows = longView(matched, parsed.startUs, parsed.endUs)
          .orderBy("sensor_id", "timestamp_us")
          .select(col("timestamp_us"), col("sensor_id"), col("sensor_name"),
            col("value"), col("type"),
            to_json(coalesce(col("labels"),
              map().cast(MapType(StringType, StringType)))).as("labels_json"))
          .toLocalIterator().asScala
          .map(r => graft.sources.ArrowIO.LongRow(
            r.getLong(0), r.getString(1), r.getString(2), r.getString(3),
            r.getString(4), r.getString(5)))
        respondStreaming(x, 200, "application/vnd.apache.arrow.file")(
          out => graft.sources.ArrowIO.writeLongFormatStream(rows, out))
      case other => throw new IllegalArgumentException(
        s"Unsupported export format '$other'. Supported formats: senml, csv, jsonl, arrow")
    })
  }

  /** The selection the PromQL engine asks for per matcher set: the
    * snapshot's numeric series the matchers select, as a local
    * `(sensor_id, labels)` frame built from the driver-matched rows.
    */
  private def selectFor(
      snap: SensorStore.CatalogSnapshot): Seq[LabelMatcher] => DataFrame =
    ms => {
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(
        Matchers.selectRows(snap.rows, ms, numericOnly = true)
          .map(r => Row(r.getString(0), r.get(4))).asJava,
        SelectedSeries)
    }

  private val SelectedSeries = StructType(Seq(
    StructField("sensor_id", StringType),
    StructField("labels", MapType(StringType, StringType))))

  /** PromQL analytical extension endpoint: aggregations and *_over_time
    * functions the reference rejects, evaluated as DataFrame aggregations
    * (strict reference behavior stays on `/api/v1/query`). JSONL out.
    */
  private def handlePromqlExtended(
      x: HttpExchange, p: Map[String, String]): Unit = {
    import graft.promql.ExtendedPromQL
    val query = p.getOrElse("query",
      throw new IllegalArgumentException("missing query parameter"))
    // optional Prometheus API params: `time` pins the instant evaluation
    // time; `start`/`end` resolve the `@ start()` / `@ end()` anchors
    // (both default to the evaluation time — instant-query semantics)
    def tParam(name: String): Option[Long] =
      p.get(name).map(t => (t.toDouble * 1e6).toLong)
    val nowUs = tParam("time")
      .getOrElse(System.currentTimeMillis() * 1000L)
    val parsed = ExtendedPromQL.parse(query, nowUs,
      tParam("start"), tParam("end"))
    // evalWith: binary vector queries select each operand's series
    // independently (two matcher sets); other queries match once
    val result = phase("match_us")(ExtendedPromQL.evalWith(parsed,
      selectFor(store.catalogSnapshot),
      numericFloatView(Some(parsed.startUs), Some(parsed.endUs))))
    // a matcher can select arbitrarily many series — stream the JSONL
    // like every other export edge instead of collecting it
    import scala.jdk.CollectionConverters._
    phase("serialize_us")(p.getOrElse("format", "jsonl") match {
      case "prometheus" =>
        // the Prometheus HTTP-API instant-query VECTOR envelope:
        // {"status":"success","data":{"resultType":"vector","result":
        // [{"metric":{...},"value":[sec,"v"]},...]}} — one sample per
        // series at the evaluation time. Streamed row by row;
        // aggregation shapes surface their group labels as the metric.
        val labelsCol =
          if (result.columns.contains("labels")) col("labels")
          else if (result.columns.contains("group_labels"))
            col("group_labels")
          else map().cast("map<string,string>") // scalar shapes: {} metric
        val vec = result
          .select(to_json(coalesce(labelsCol,
              map().cast("map<string,string>"))).as("metric"),
            col("value").cast("double").as("value"))
          .orderBy("metric")
        val rows = vec.toLocalIterator().asScala
        val ts = promSecs(nowUs)
        val body = rows.zipWithIndex.map { case (r, i) =>
          (if (i == 0) "" else ",") +
            s"""{"metric":${r.getString(0)},"value":[$ts,${promNum(
              r.getDouble(1))}]}"""
        }
        respondTextStream(x, 200, "application/json",
          Iterator("""{"status":"success","data":{"resultType":"vector","result":[""") ++
            body ++ Iterator("]}}"))
      case _ =>
        val lines = result.toJSON.toLocalIterator().asScala
        respondTextStream(x, 200, "application/x-ndjson",
          lines.map(_ + "\n"), errorMarker = JsonlErrorMarker)
    })
  }

  /** Prometheus range-query API (`query_range` — the endpoint dashboards
    * poll): the expression evaluated at every step in [start, end]
    * anchored at start, one JSONL row per (series, step). Supported
    * expressions are the per-series shapes plus cross-series
    * aggregations over them (the subquery-valid set); `step` accepts
    * Prometheus's float seconds or a duration string ("30s", "1h").
    */
  private def handlePromqlRange(
      x: HttpExchange, p: Map[String, String]): Unit = {
    import graft.promql.{ExtendedPromQL, SimplePromQL}
    val query = p.getOrElse("query",
      throw new IllegalArgumentException("missing query parameter"))
    def tParam(name: String): Long =
      (p.getOrElse(name, throw new IllegalArgumentException(
        s"missing $name parameter")).toDouble * 1e6).toLong
    val startUs = tParam("start")
    val endUs = tParam("end")
    val stepStr = p.getOrElse("step",
      throw new IllegalArgumentException("missing step parameter"))
    // seconds only for PURE float strings (Prometheus spellings incl.
    // "0.5", ".5", "5.", "1e3"): Java's parseDouble would ALSO accept
    // the float-suffix spelling ("1d" = 1.0, "2f" = 2.0), silently
    // reading the duration "1d" as one second — those must fall through
    // to the duration parser
    val stepUs =
      if (stepStr.matches(
          """([0-9]+\.?[0-9]*|\.[0-9]+)([eE][+-]?[0-9]+)?""")) {
        val d = stepStr.toDouble
        (d * 1e6).toLong
      } else SimplePromQL.msToUs(SimplePromQL.parseDurationMs(stepStr))
    // evalRangeApi parses at the range end (selector windows / offset
    // resolve against it), resolves @ start()/end() anchors, pins
    // whole-expression `@` queries to a constant series, and computes
    // the sample-scan bounds itself
    val result = phase("match_us")(ExtendedPromQL.evalRangeApi(
      query, startUs, endUs, stepUs, selectFor(store.catalogSnapshot),
      (lo, hi) => numericFloatView(Some(lo), Some(hi))))
    import scala.jdk.CollectionConverters._
    phase("serialize_us")(p.getOrElse("format", "jsonl") match {
      case "prometheus" =>
        // the Prometheus HTTP-API matrix envelope — what Grafana
        // consumes: {"status":"success","data":{"resultType":"matrix",
        // "result":[{"metric":{...},"values":[[sec,"v"],...]},...]}}.
        // Streamed: rows arrive (series, step)-sorted and consecutive
        // runs fold into one series object — the driver never holds
        // more than one row.
        val sorted = result.orderBy(col("sensor_id"), col("t_us"))
          .select(col("sensor_id"),
            to_json(coalesce(col("labels"),
              map().cast("map<string,string>"))).as("metric"),
            col("t_us"), col("value"))
        val rows = sorted.toLocalIterator().asScala
        val body: Iterator[String] = new Iterator[String] {
          private var cur: Option[(String, String)] = None // (id, metric)
          private var opened = false
          def hasNext: Boolean = rows.hasNext || opened
          def next(): String = {
            (if (rows.hasNext) Some(rows.next()) else None) match {
              case Some(r) =>
                val id = r.getString(0)
                val sample = s"[${promSecs(r.getLong(2))},${promNum(r.getDouble(3))}]"
                cur match {
                  case Some((cid, _)) if cid == id => "," + sample
                  case Some(_) =>
                    cur = Some((id, r.getString(1)))
                    s"]},{\"metric\":${r.getString(1)},\"values\":[" +
                      sample
                  case None =>
                    cur = Some((id, r.getString(1)))
                    opened = true
                    s"{\"metric\":${r.getString(1)},\"values\":[" + sample
                }
              case None =>
                opened = false
                "]}"
            }
          }
        }
        respondTextStream(x, 200, "application/json",
          Iterator("""{"status":"success","data":{"resultType":"matrix","result":[""") ++
            body ++ Iterator("]}}"))
      case _ =>
        // (series, step) order, like the matrix: an aggregation's rows
        // otherwise come in hash order, which depends on the read's
        // partitioning
        val lines = result.orderBy(col("sensor_id"), col("t_us"))
          .toJSON.toLocalIterator().asScala
        respondTextStream(x, 200, "application/x-ndjson",
          lines.map(_ + "\n"), errorMarker = JsonlErrorMarker)
    })
  }

  /** Prometheus wire formatting: seconds with exact µs fraction, and
    * sample values as strings (the HTTP-API shape).
    */
  private def promSecs(tUs: Long): String =
    java.math.BigDecimal.valueOf(tUs).movePointLeft(6)
      .stripTrailingZeros.toPlainString
  private def promNum(v: Double): String =
    if (v.isNaN) "\"NaN\""
    else if (v.isInfinite) { if (v > 0) "\"+Inf\"" else "\"-Inf\"" }
    else if (v == math.rint(v) && math.abs(v) < 1e15)
      "\"" + v.toLong.toString + "\""
    else "\"" + v.toString + "\""

  /** SenML-typed long view: like [[longView]] but the value is routed to
    * its SenML field ([[SenML.valueFields]]) so [[SenML.exportMulti]]
    * renders every series in one plan.
    */
  private def senmlLongView(
      matched: Seq[Row], startUs: Long, endUs: Long): DataFrame =
    byType(matched, startUs, endUs) { (t, rows) =>
      Seq(col("sensor_id"), Matchers.seriesName(rows).as("sensor_name"),
        Matchers.seriesUnit(rows).as("unit_name"),
        Matchers.seriesLabels(rows).as("labels"), col("timestamp_us")) ++
        SenML.valueFields(t)
    }

  /** Batch-per-type long view over the matched sensors: one scan per value
    * type keyed on the matched ids, their name and labels carried in the
    * plan — the reference's per-type batch-query strategy
    * (src/storage/sqlite/batch_queries.rs).
    */
  private def longView(
      matched: Seq[Row], startUs: Long, endUs: Long): DataFrame =
    byType(matched, startUs, endUs) { (t, rows) =>
      Seq(col("timestamp_us"), col("sensor_id"),
        Matchers.seriesName(rows).as("sensor_name"),
        textValue(t).as("value"),
        lit(t.displayName).as("type"),
        Matchers.seriesLabels(rows).as("labels"))
    }

  /** The union over the matched rows' types of each type's samples in
    * `[startUs, endUs]` of those series, projected by `columns`; an empty
    * match reads an empty Float scan.
    */
  private def byType(matched: Seq[Row], startUs: Long, endUs: Long)(
      columns: (SensorType, Seq[Row]) => Seq[Column]): DataFrame = {
    val groups =
      if (matched.isEmpty) Seq(SensorType.Float -> Seq.empty[Row])
      else matched.groupBy(_.getString(2)).toSeq
        .map { case (tn, rows) => SensorType.fromString(tn).get -> rows }
    sampleRead(groups.map { case (t, rows) =>
      store.samplesInRange(t, Some(startUs), Some(endUs))
        .filter(col("sensor_id").isin(rows.map(_.getString(0)): _*))
        .select(columns(t, rows): _*)
    }.reduce(_ unionByName _))
  }

  // --------------------------------------------------------------- admin

  private def handleVacuum(x: HttpExchange, p: Map[String, String]): Unit = {
    SensorType.all.foreach(t => store.vacuum(t))
    respond(x, 200, "text/plain", "ok")
  }

  /** Column-level lineage as a governance surface (r15 verdict item 6):
    * `GET /api/v1/admin/lineage?view=<catalog view/table>` or
    * `?query=<registry id>&dir=<tables dir>` answers, per output
    * column, the SOURCE columns it transitively depends on
    * ([[graft.plans.Lineage]] over the analyzed plan) — the audit
    * trail behind the masking/k-anonymity entries (q314/q315): which
    * raw columns reach a masked export, which outputs move if a source
    * column changes. Plain views cost no Spark job (plan walk only);
    * registry entries that train or checkpoint AT CONSTRUCTION pay
    * that build once, and any blocks they pin are freed before the
    * response goes out.
    */
  private def handleLineage(x: HttpExchange, p: Map[String, String]): Unit = {
    val df = (p.get("view"), p.get("query")) match {
      case (Some(v), None) =>
        require(v.matches("[A-Za-z0-9_.]+"), s"invalid view name: $v")
        if (!spark.catalog.tableExists(v))
          throw new NoSuchElementException(s"unknown view/table: $v")
        spark.table(v)
      case (None, Some(q)) =>
        val dir = p.getOrElse("dir", throw new IllegalArgumentException(
          "query lineage needs dir=<tables dir>"))
        val fn = graft.Queries.all.getOrElse(q,
          throw new NoSuchElementException(s"unknown query id: $q"))
        fn(spark, dir)
      case _ => throw new IllegalArgumentException(
        "exactly one of view=<name> or query=<id> is required")
    }
    try {
      val lin = graft.plans.Lineage.columnLineage(df)
      val cols = df.schema.fieldNames.map { c =>
        val srcs = lin.getOrElse(c, Set.empty).toSeq.sorted
          .map(jsonStr).mkString(",")
        s"""${jsonStr(c)}:[$srcs]"""
      }.mkString(",")
      val target = p.get("view").orElse(p.get("query")).get
      respond(x, 200, "application/json",
        s"""{"target":${jsonStr(target)},"columns":{$cols}}""")
    } finally graft.pipeline.PipelineCache.free(df)
  }

  /** Batch resample over the store: window the numeric samples of the
    * selected series (`selector` like /series, default all numeric) and
    * publish each window as derived content-addressed Float series —
    * the batch twin of `StreamingIngest.resampleStreamToStore`, sharing
    * its publish half so gateway-triggered and streaming resamples
    * converge on the same derived uuids.
    */
  private def handleResample(x: HttpExchange, p: Map[String, String]): Unit = {
    val window = p.getOrElse("window", "1 hour")
    val rows = store.catalogSnapshot.rows
    val ids = p.get("selector")
      .fold(rows)(sel => Matchers.selectRows(rows, Catalog.parseSelector(sel)))
      .filter(r => numericTypeNames.contains(r.getString(2)) &&
        // never re-resample derived series into themselves
        labelsOf(r).get("__resample__").forall(v => v == null || v.isEmpty))
      .map(_.getString(0))
    val src = numericFloatView(parseTime(p, "start"), parseTime(p, "end"))
      .filter(col("sensor_id").isin(ids: _*))
      .select(col("sensor_id"),
        timestamp_micros(col("timestamp_us")).as("ts"), col("value"))
    // batch mode: the watermark is a no-op, every window is final
    val agg = graft.streaming.StreamingIngest
      .windowedResample(src, window, window)
    graft.streaming.StreamingIngest.publishResampledRows(store, agg, window)
    respond(x, 200, "text/plain", "ok")
  }

  /** Streaming resample job management over
    * [[graft.streaming.StreamingIngest.resampleStreamToStore]]:
    * `?action=start&source=<dir>&window=...&watermark=...&checkpoint=<dir>`
    * starts a job and returns its id; `?action=stop&id=...` stops it;
    * `?action=list` returns `id active` lines. Jobs run until stopped or
    * the source is exhausted; state restarts from the checkpoint.
    */
  private val resampleJobs =
    new java.util.concurrent.ConcurrentHashMap[
      String, org.apache.spark.sql.streaming.StreamingQuery]()

  private def handleResampleStream(
      x: HttpExchange, p: Map[String, String]): Unit = {
    p.getOrElse("action", "list") match {
      case "start" =>
        val source = p.getOrElse("source",
          throw new IllegalArgumentException("missing source parameter"))
        val window = p.getOrElse("window", "1 hour")
        val watermark = p.getOrElse("watermark", window)
        val checkpoint = p.getOrElse("checkpoint",
          graft.TempDirs.createPath("graft_rs_ckpt"))
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("sensor_id", StringType),
          org.apache.spark.sql.types.StructField("timestamp_us",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("value",
            org.apache.spark.sql.types.DoubleType)))
        val q = graft.streaming.StreamingIngest.resampleStreamToStore(
          spark, source, schema, store, window, watermark, checkpoint)
        val id = q.id.toString
        resampleJobs.put(id, q)
        respond(x, 200, "text/plain", id)
      case "stop" =>
        val id = p.getOrElse("id",
          throw new IllegalArgumentException("missing id parameter"))
        val q = Option(resampleJobs.remove(id)).getOrElse(
          throw new NoSuchElementException(s"no resample job '$id'"))
        q.stop()
        respond(x, 200, "text/plain", "stopped")
      case "list" =>
        import scala.jdk.CollectionConverters._
        val lines = resampleJobs.asScala.toSeq.sortBy(_._1)
          .map { case (id, q) => s"$id ${q.isActive}" }
        respond(x, 200, "text/plain", lines.mkString("", "\n", "\n"))
      case other => throw new IllegalArgumentException(
        s"Unknown action '$other'. Supported: start, stop, list")
    }
  }
}

object Gateway {

  /** A JDK HTTP server bound to `address`, its sockets without Nagle's
    * algorithm. The JDK server writes a response's headers and body as
    * two segments; under Nagle the body waits for the client's delayed
    * ACK of the headers, ~40 ms on Linux, whatever the handler took. The
    * server reads `sun.net.httpserver.nodelay` once, when its
    * configuration first loads, so it is set before any server in the
    * JVM is created: every server here is created through this.
    */
  def createServer(address: InetSocketAddress): HttpServer = {
    System.setProperty("sun.net.httpserver.nodelay", "true")
    HttpServer.create(address, 0)
  }
}
