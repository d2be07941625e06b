package perfbench

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.catalog.Catalog
import graft.exporters.Exporters
import graft.model.SensorType
import graft.operators.{LabelMatcher, Matchers, SensorOps}
import graft.prometheus.{PrometheusRemote, RemoteRead}
import graft.promql.{ExtendedPromQL, SimplePromQL}
import graft.sources.{ArrowIO, BodyCodec, InfluxLineProtocol}
import graft.store.SensorStore

/** A request of a single-client pass, with the gateway's own time for it
  * and the listener span its Spark jobs were charged to. */
final case class Sent(done: Done, serverMs: Double, span: String)

/** A recorded span: requests are roots (their id is the trace id); a
  * replayed layer call is a child of its replay root, in the trace of the
  * request it replays. */
final case class Span(trace: String, name: String, startNs: Long, endNs: Long, parent: String)

/** The traced run: one client, so every Spark job belongs to the request
  * in flight. Three passes send the same request sequence to identically
  * prepared stores: U untraced, T1 and T2 traced (a job listener span per
  * request, the gateway's log line per request). T1 against U gives the
  * tracing overhead; T1 against T2 must repeat the Spark job, stage and
  * task counts exactly. Sampled requests are then replayed through the
  * public layer calls their handler composes, timing each layer and
  * checking it returns the rows the HTTP response carried. */
final class Traced(
    spark: SparkSession, w: Workload, in: Inputs, cores: Int, traceOut: String) {
  import w.gw

  private val meter = new Meter(spark.sparkContext)
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val problems = mutable.ArrayBuffer.empty[String]

  private val spans = mutable.ArrayBuffer.empty[Span]
  /** (trace, root span name) of the replay in progress. */
  private var replaying = ("", "")

  private def record(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  /** Run `body` as a child span of the replay in progress; returns its ms. */
  private def ms[T](name: String)(body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    val t1 = System.nanoTime()
    spans += Span(replaying._1, name, t0, t1, replaying._2)
    (r, (t1 - t0) / 1e6)
  }
  /** [[ms]], recording the time as a sample of metric `name`. */
  private def timed[T](name: String)(body: => T): T = {
    val (r, t) = ms(name)(body)
    record(name, t)
    r
  }
  /** Replay request `s` as a root span named `replay.<kind>`. */
  private def replay(s: Sent)(body: => Unit): Unit = {
    val name = s"replay.${s.done.req.kind}"
    replaying = (s.span, name)
    val t0 = System.nanoTime()
    body
    spans += Span(s.span, name, t0, System.nanoTime(), "")
    replaying = ("", "")
  }
  private def expectRows(what: String, got: Long, want: Long): Unit =
    if (got != want) problems += s"$what: replay gave $got rows, HTTP gave $want"

  import Traced._

  /** Ingest's bodies after the set-up's two; serve: client 0's cycle. */
  def sequence(env: Env): Seq[Req] =
    if (w.preload) gw.cycle(0).map(k => gw.readReq(env, 0, 0, k))
    else (2 until 2 + IngestBodies).map(w.ingestReq)

  /** One single-client pass over `reqs`. Traced requests run in a listener
    * span and wait for the gateway's log line, which it writes after the
    * response. With `untraced`, each request is first sent untraced to that
    * env, interleaved so that both passes see the same JVM warm-up; the
    * untraced pass may be a prefix of the traced one. */
  def pass(env: Env, reqs: Seq[Req], tag: String,
      untraced: Option[(Env, Int)] = None): (Seq[Sent], Seq[Sent]) = {
    val http = Load.client()
    val u = mutable.ArrayBuffer.empty[Sent]
    def plain(i: Int): Unit = untraced.filter(_._2 > i).foreach { case (ue, _) =>
      u += Sent(Load.send(http, ue.port, reqs(i)), Double.NaN, "")
    }
    val t = reqs.indices.map { i =>
      // alternate which pass goes first, so neither gets the warmer turn
      if (i % 2 == 0) plain(i)
      env.serverLog.clear()
      val span = s"$tag:$i"
      val d = meter.span(span)(Load.send(http, env.port, reqs(i)))
      spans += Span(span, s"http.${d.req.kind}", d.startNs, d.endNs, "")
      val deadline = System.nanoTime() + 2000000000L
      while (env.serverLog.isEmpty && System.nanoTime() < deadline) Thread.sleep(1)
      val server = Option(env.serverLog.poll()).map(_._3 / 1000.0).getOrElse(Double.NaN)
      if (untraced.isDefined && !w.preload) storeAfterWrite(env)
      if (i % 2 == 1) plain(i)
      Sent(d, server, span)
    }
    (t, u.toSeq)
  }

  private var catalogSize = 0L
  private val compactions = mutable.Set.empty[String]

  /** After each traced write: how many of its series were new to the
    * catalog, and whether the catalog compacted. Runs outside the span. */
  private def storeAfterWrite(env: Env): Unit = {
    val now = env.store.sensors.count()
    record("store.novel_sensor_ratio", (now - catalogSize).toDouble / in.SeriesPerBody)
    catalogSize = now
    Option(new java.io.File(env.root, "sensors").list()).toSeq.flatten
      .filter(_.startsWith("compact-")).foreach(f => compactions += f.split("-")(1))
  }

  // ------------------------------------------------------------ replays

  private def numericFloatView(store: SensorStore, lo: Long, hi: Long): DataFrame =
    Seq(SensorType.Float, SensorType.Integer, SensorType.Numeric)
      .map(t => store.samplesInRange(t, Some(lo), Some(hi))
        .select(col("sensor_id"), col("timestamp_us"), col("value").cast("double").as("value")))
      .reduce(_ unionByName _)

  private val unitType = graft.model.Schemas.sensors("unit").dataType
  private def uuidOf(name: String, typ: org.apache.spark.sql.Column) =
    call_function("sensor_uuid", col(name), typ, lit(null).cast(StringType), col("labels"))

  /** Write replays: decode and parse every traced body; publish the Influx
    * ones into a scratch store as the handler composes it. */
  def replayWrites(sent: Seq[Sent]): Unit = {
    val (root, scratch) = gw.newStore()
    var published = 0L
    sent.filter(_.done.ok).foreach(s => replay(s) {
      val r = s.done.req
      if (r.kind == "influx_write") {
        val text = timed("sources.body_decode_ms")(
          BodyCodec.decodeBody(r.body, Some("gzip"), graft.Config.decodedBodyLimit))
        val (parsed, parseMs) = ms("sources.influx_parse_ms") {
          val p = InfluxLineProtocol.parse(
            spark.createDataset(text.linesIterator.toSeq)(Encoders.STRING), "perf", "bench", "ns")
            .cache()
          (p, p.count())
        }
        record("sources.influx_parse_ms", parseMs)
        record("sources.rows_per_req", parsed._2.toDouble)
        expectRows("influx parse", parsed._2, r.rows)
        val p = parsed._1
        timed("store.publish_sensors_ms")(scratch.publishSensors(p
          .select(uuidOf("sensor_name", col("type")).as("uuid"), col("sensor_name").as("name"),
            col("type"), lit(null).cast(unitType).as("unit"), col("labels"))
          .dropDuplicates("uuid")))
        timed("store.publish_samples_ms")(scratch.publishSamples(SensorType.Float, p
          .select(uuidOf("sensor_name", col("type")).as("sensor_id"), col("timestamp_us"),
            col("double_value").as("value"))))
        p.unpersist()
        published += parsed._2
      } else {
        val bytes = timed("prometheus.snappy_decode_ms")(
          PrometheusRemote.snappyDecompress(r.body, graft.Config.decodedBodyLimit))
        val rows = timed("prometheus.write_parse_ms")(
          PrometheusRemote.writeRequestRows(PrometheusRemote.parseWriteRequest(bytes)))
        expectRows("remote write parse", rows.length, r.rows)
      }
    })
    expectRows("scratch store", scratch.samples(SensorType.Float).count(), published)
    graft.TempDirs.deleteRecursively(new java.io.File(root))
  }

  /** Read replays on the traced store, per kind. */
  def replayReads(env: Env, sent: Seq[Sent]): Unit = {
    val store = env.store
    sent.filter(_.done.ok).foreach(sent => replay(sent) {
      val d = sent.done
      val a = d.req.args
      def us(k: String) = a(k).toLong * 1000L
      d.req.kind match {
        case "series_catalog" =>
          val ms0 = Catalog.parseSelector(a("selector"))
          val (_, matchMs) = ms("operators.matcher_ms")(Matchers.sensorsByLabels(store.sensors, ms0).collect())
          val (docs, docMs) = ms("catalog.series_doc")(Catalog.seriesDatasets(
            Matchers.sensorsByLabels(store.sensors, ms0).orderBy("uuid")).select("dataset").collect())
          record("operators.matcher_ms", matchMs)
          record("catalog.series_doc_ms", math.max(0.0, docMs - matchMs))
          expectRows("series catalog", docs.length, d.rows)
        case "metrics" =>
          val rows = timed("operators.metrics_summary_ms")(
            SensorOps.metricsSummary(store.sensors).collect())
          expectRows("metrics summary", rows.length, d.rows)
        case "series_export" | "arrow_export" =>
          val (s, e) = (us("start_ms"), us("end_ms"))
          def scan = SensorOps.rangeScanUnlimited(
            store.samplesInRange(SensorType.Float, Some(s), Some(e)), a("uuid"), Some(s), Some(e))
          val span = s"${sent.span}:scan"
          val (rows, scanMs) = meter.span(span)(ms("operators.range_scan_ms")(
            scan.select(col("timestamp_us"), col("value")).collect()
              .map(r => (r.getLong(0), r.getDouble(1)))))
          record("operators.range_scan_ms", scanMs)
          record("operators.rows_scanned_per_row_returned",
            meter.counts(span).inputRecords.toDouble / math.max(1, rows.length))
          record("exporters.bytes_per_row", d.bytes.toDouble / math.max(1, d.rows))
          if (d.req.kind == "series_export") {
            val (csv, csvMs) = ms("exporters.csv")(Exporters.toCsv(
              scan.select(col("timestamp_us"), col("value").cast(StringType).as("value"))).collect())
            record("exporters.csv_ms", math.max(0.0, csvMs - scanMs))
            expectRows("csv export", csv.length, d.rows)
          } else {
            timed("exporters.arrow_ms")(
              ArrowIO.writeFloatSeriesStream(rows.iterator, new java.io.ByteArrayOutputStream))
            expectRows("arrow export", rows.length, d.rows)
          }
        case "promql_instant" =>
          val n = 200
          val nowUs = System.currentTimeMillis() * 1000L
          val (_, t) = ms("promql.parse")((0 until n).foreach(_ => SimplePromQL.parse(a("query"), nowUs)))
          record("promql.parse_us", t * 1000.0 / n)
        case "promql_range" =>
          val points = timed("promql.eval_ms")(ExtendedPromQL.evalRangeApi(
            a("query"), us("start_ms"), us("end_ms"), us("step_ms"),
            m => Matchers.sensorsByLabels(store.sensors, m, numericOnly = true)
              .select(col("uuid").as("sensor_id"), col("labels")),
            (lo, hi) => numericFloatView(store, lo, hi)).collect())
          expectRows("promql range", points.length, d.rows)
        case "remote_read" =>
          val q = RemoteRead.Query(a("start_ms").toLong, a("end_ms").toLong,
            Seq(LabelMatcher.eq_("__name__", a("metric")), LabelMatcher.eq_("job", a("job"))))
          val bytes = timed("prometheus.remote_read_ms")(RemoteRead.chunkedResponse(
            store.sensors, numericFloatView(store, us("start_ms"), us("end_ms")), Seq(q)))
          val n = Load.remoteReadSamples(bytes)
          record("prometheus.chunk_bytes_per_sample", bytes.length.toDouble / math.max(1, n))
          expectRows("remote read", n, d.rows)
        case _ => () // labels and discovery: one catalog aggregation, no separate layer
      }
    })
  }

  // ------------------------------------------------------------- report

  val Kinds: Seq[String] = Seq("influx_write", "remote_write") ++ gw.ReadKinds

  def run(): Outcome = {
    val clock = new Clock
    // ingest: three identically set-up stores; serve: reads leave the
    // store unchanged, so the three passes share one
    val envs =
      if (w.preload) { val e = w.setup()._1; w.warm(e, cores); Seq(e, e, e) }
      else (0 until 3).map(_ => w.setup()._1)
    catalogSize = envs(1).store.sensors.count()
    clock.lap("setup")
    val reqs = sequence(envs(0))
    val (t1, u) = pass(envs(1), reqs, "t1", Some((envs(0), OverheadRequests)))
    val (t2, _) = pass(envs(2), reqs, "t2")
    val (storeBytes, storeFiles) = gw.valueFiles(envs(1))
    clock.lap("passes")
    if (w.preload) replayReads(envs(1), t1) else replayWrites(t1)
    clock.lap("replays")
    val all = (u ++ t1 ++ t2).map(_.done)
    all.filter(!_.ok).flatMap(_.error).distinct.take(5).foreach(e => problems += e)
    envs.distinct.zip(Seq(u, t1, t2)).foreach { case (env, p) =>
      problems ++= w.check(env, p.map(_.done) ++ (if (w.preload) Nil else
        Seq(w.ingestReq(0), w.ingestReq(1)).map(r => Done(r, 0, 0, 204, 0, r.rows, None))))._1
    }
    envs.distinct.foreach(gw.drop)
    clock.lap("check")

    val counts = t1.map(s => meter.counts(s.span))
    val mismatches = t1.zip(t2).count { case (a, b) =>
      meter.counts(a.span).shape != meter.counts(b.span).shape }
    def med(xs: Iterable[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs.toSeq)
    def mean(xs: Iterable[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def perReq(f: Meter#Counts => Double) = mean(counts.map(f))
    def byKind(f: Sent => Double): Seq[(String, Double)] = Kinds.map { k =>
      k -> med(t1.filter(s => s.done.req.kind == k && s.done.ok).map(f))
    }
    def rate(p: Seq[Sent], f: Done => Double) = {
      val ok = p.map(_.done).filter(_.ok)
      ok.map(f).sum / math.max(1e-9, ok.map(_.latencyMs).sum / 1000.0)
    }
    val t1ok = t1.map(_.done).filter(_.ok)
    val uok = u.map(_.done).filter(_.ok)
    val statuses = all.groupBy(_.status).map { case (k, v) => k -> v.length }
    val m = mutable.LinkedHashMap.empty[String, (Double, String)]
    m("http.server_ms.p50") = (med(t1.map(_.serverMs).filterNot(_.isNaN)), "ms")
    m("http.wait_ms.p50") = (med(t1.filterNot(_.serverMs.isNaN)
      .map(s => s.done.latencyMs - s.serverMs)), "ms")
    byKind(_.done.latencyMs).foreach { case (k, v) => m(s"http.route.$k.p50_ms") = (v, "ms") }
    m("http.status_503") = (statuses.getOrElse(503, 0).toDouble, "count")
    m("http.status_408") = (statuses.getOrElse(408, 0).toDouble, "count")
    m("http.resp_bytes") = (mean(t1ok.map(_.bytes.toDouble)), "B")
    def layer(name: String, unit: String) = m(name) = (med(samples.getOrElse(name, Nil)), unit)
    layer("sources.body_decode_ms", "ms")
    layer("sources.influx_parse_ms", "ms")
    layer("sources.rows_per_req", "rows")
    layer("prometheus.snappy_decode_ms", "ms")
    layer("prometheus.write_parse_ms", "ms")
    layer("prometheus.remote_read_ms", "ms")
    layer("prometheus.chunk_bytes_per_sample", "B")
    layer("promql.parse_us", "us")
    layer("promql.eval_ms", "ms")
    layer("catalog.series_doc_ms", "ms")
    layer("operators.matcher_ms", "ms")
    layer("operators.range_scan_ms", "ms")
    layer("operators.metrics_summary_ms", "ms")
    layer("operators.rows_scanned_per_row_returned", "ratio")
    layer("store.publish_sensors_ms", "ms")
    layer("store.publish_samples_ms", "ms")
    m("store.novel_sensor_ratio") = (mean(samples.getOrElse("store.novel_sensor_ratio", Nil)), "ratio")
    m("store.catalog_compactions") = (compactions.size.toDouble, "count")
    m("store.value_files") = (storeFiles.toDouble, "count")
    m("store.bytes_written") = (storeBytes.toDouble, "B")
    layer("exporters.csv_ms", "ms")
    layer("exporters.arrow_ms", "ms")
    layer("exporters.bytes_per_row", "B")
    m("spark.jobs_per_req") = (perReq(_.jobs.toDouble), "count")
    m("spark.stages_per_req") = (perReq(_.stages.toDouble), "count")
    m("spark.tasks_per_req") = (perReq(_.tasks.toDouble), "count")
    byKind(s => meter.counts(s.span).jobs.toDouble).foreach { case (k, v) =>
      m(s"spark.jobs.$k") = (v, "count") }
    m("spark.scheduler_delay_ms") = (med(counts.flatMap(_.schedulerDelaysMs.map(_.toDouble))), "ms")
    m("spark.task_run_ms") = (perReq(_.taskRunMs.toDouble), "ms")
    m("spark.task_cpu_ms") = (perReq(_.taskCpuNs / 1e6), "ms")
    m("spark.gc_ms") = (perReq(_.gcMs.toDouble), "ms")
    m("spark.shuffle_write_bytes") = (perReq(_.shuffleWriteBytes.toDouble), "B")
    m("spark.shuffle_read_bytes") = (perReq(_.shuffleReadBytes.toDouble), "B")
    m("spark.spill_bytes") = (perReq(_.spillBytes.toDouble), "B")
    m("spark.peak_exec_mem_bytes") =
      (counts.map(_.peakExecMemBytes.toDouble).maxOption.getOrElse(0.0), "B")
    m("spark.input_records") = (perReq(_.inputRecords.toDouble), "count")
    m("spark.task_failures") = (counts.map(_.taskFailures.toDouble).sum, "count")
    m("spark.count_mismatches") = (mismatches.toDouble, "count")
    val t1same = t1.take(u.length)
    val t1sameOk = t1same.map(_.done).filter(_.ok)
    m("trace.overhead.p50_ms") =
      (Stats.perKindGeomean(t1sameOk, 0.5) - Stats.perKindGeomean(uok, 0.5), "ms")
    m("trace.overhead.p95_ms") =
      (Stats.perKindGeomean(t1sameOk, 0.95) - Stats.perKindGeomean(uok, 0.95), "ms")
    m("trace.overhead.req_per_s") = (rate(u, _ => 1.0) - rate(t1same, _ => 1.0), "1/s")
    m("trace.overhead.rows_per_s") =
      (rate(u, _.rows.toDouble) - rate(t1same, _.rows.toDouble), "1/s")
    clock.lap("report")
    val out = new java.io.PrintWriter(traceOut, "UTF-8")
    try spans.foreach(sp => out.println(Json(ListMap("trace" -> sp.trace, "name" -> sp.name,
      "start_ns" -> sp.startNs, "end_ns" -> sp.endNs, "parent" -> sp.parent))))
    finally out.close()

    Outcome(problems.isEmpty, all.length, all.count(!_.ok),
      m.map { case (k, (v, unit)) => k -> Stats.metric(v, unit) },
      ListMap(
        "phase_s" -> clock.laps,
        "requests_per_pass" -> reqs.length,
        "spans" -> spans.length, "span_file" -> traceOut,
        "spark_counts_t1" -> t1.map { s =>
          val c = meter.counts(s.span)
          ListMap("kind" -> s.done.req.kind, "jobs" -> c.jobs, "stages" -> c.stages,
            "tasks" -> c.tasks)
        },
        "check_failures" -> problems.toSeq,
        "error_ratio" -> all.count(!_.ok).toDouble / math.max(1, all.length),
        "sizes" -> Report.sizes(in, gw)))
  }
}

object Traced {
  /** Ingest bodies per traced pass: enough for the catalog to pass its
    * compaction threshold once. */
  val IngestBodies = 16

  /** Requests of the untraced pass that the overhead compares against. */
  val OverheadRequests = 9
}
