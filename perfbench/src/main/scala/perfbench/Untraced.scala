package perfbench

import scala.collection.immutable.ListMap

object Untraced {
  /** Attempted, failed, and the requests whose latency counts: a failure
    * of any kind is never a latency sample. */
  def tally(done: Seq[Done]): (Int, Int, Seq[Done]) =
    (done.length, done.count(!_.ok), done.filter(_.ok))
}

/** The timed run of a workload with tracing off. */
final class Untraced(w: Workload, in: Inputs, cores: Int, seconds: Double) {
  import w.gw

  def run(): Outcome = {
    val clock = new Clock
    val setups = (0 until Main.Setups).map(_ => w.setup())
    setups.init.foreach(s => gw.drop(s._1))
    val (env, _, first) = setups.last
    w.warm(env, cores)
    clock.lap("setup")
    val t0 = System.nanoTime()
    val done = w.load(env, cores, seconds)
    val elapsedS = (done.map(_.endNs).maxOption.getOrElse(t0) - t0) / 1e9
    clock.lap("load")
    // per-client rates, summed: a client that finished its last cycle early
    // does not dilute the others
    def rate(f: Done => Long): Double = done.groupBy(_.client).values.map { ds =>
      Untraced.tally(ds)._3.map(f).sum / ((ds.map(_.endNs).max - t0) / 1e9)
    }.sum
    val (problems, storedRows) = w.check(env, first ++ done)
    val (bytes, files) = gw.valueFiles(env)
    gw.drop(env)
    clock.lap("check")
    val (attempted, failed, ok) = Untraced.tally(done)
    val wrongContent = done.count(d => d.status / 100 == 2 && !d.ok)
    val metrics = ListMap(
      "setup_s" -> Stats.metric(Stats.median(setups.map(_._2)), "s"),
      "req_per_s" -> Stats.metric(rate(_ => 1L), "1/s"),
      "rows_per_s" -> Stats.metric(rate(_.rows.toLong), "1/s"),
      "p50_ms" -> Stats.metric(Stats.perKindGeomean(ok, 0.5), "ms"),
      "p95_ms" -> Stats.metric(Stats.perKindGeomean(ok, 0.95), "ms"),
      "store_bytes_per_row" -> Stats.metric(bytes.toDouble / math.max(1L, storedRows), "B"))
    Outcome(problems.isEmpty && wrongContent == 0, attempted, failed,
      metrics, ListMap(
        "setup_samples_s" -> setups.map(_._2),
        "phase_s" -> clock.laps,
        "elapsed_s" -> elapsedS,
        "per_kind" -> Report.perKind(done),
        "error_ratio" -> failed.toDouble / math.max(1, attempted),
        "errors" -> done.flatMap(_.error).distinct.take(5),
        "check_failures" -> problems,
        "store_value_files" -> files, "store_rows" -> storedRows,
        "sizes" -> Report.sizes(in, gw)))
  }
}

/** Wall time of a run's phases, in seconds. */
final class Clock {
  private var t = System.nanoTime()
  val laps = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  def lap(name: String): Unit = {
    val now = System.nanoTime()
    laps(name) = (now - t) / 1e9
    t = now
  }
}

object Report {
  def perKind(done: Seq[Done]): Map[String, Any] =
    done.groupBy(_.req.kind).map { case (k, ds) =>
      val lat = ds.filter(_.ok).map(_.latencyMs)
      k -> ListMap("n" -> ds.length, "failed" -> ds.count(!_.ok),
        "p50_ms" -> Stats.median(lat), "p95_ms" -> Stats.quantile(lat, 0.95),
        "rows" -> ds.map(_.rows.toLong).sum)
    }

  def sizes(in: Inputs, gw: Gateways): Map[String, Any] = ListMap(
    "write_body_rows" -> in.SeriesPerBody * in.SamplesPerSeries,
    "write_novel_series_per_body" -> in.NovelPerBody,
    "preload_series" -> in.PreloadSeries, "preload_samples_per_series" -> in.PreloadSamples,
    "export_rows" -> gw.ExportRows, "remote_read_samples_per_series" -> gw.ReadSamples,
    "promql_range_steps" -> gw.RangeSteps, "trace_ingest_bodies" -> Traced.IngestBodies)
}
