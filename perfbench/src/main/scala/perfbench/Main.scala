package perfbench

import org.apache.spark.sql.SparkSession

/** Benchmark entry: `Main --workload <ingest|serve> --seed <n>
  * --seconds <s> --trace <0|1> --cores <n> --work <dir> --trace-out <file>`;
  * stores live under the work directory, traced runs write spans to
  * `--trace-out`.
  *
  * Prints `PERFBENCH_DETAILS <json>` and then `PERFBENCH_RESULT <json>` on
  * stdout; perfbench/run.py turns these into the benchmark's result line.
  */
object Main {
  val Setups = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt.getOrElse("trace", "0") == "1"
    val cores = opt("cores").toInt
    val work = opt("work")
    val t0 = System.nanoTime()
    val spark = graft.GraftSession.local(cores)
    spark.sparkContext.setLogLevel("ERROR")
    val sparkStartS = (System.nanoTime() - t0) / 1e9
    val loadStart = Stats.loadavg()
    // the JDK HTTP server keeps non-daemon threads: exit explicitly, and
    // with a failure code when anything threw
    val out =
      try {
        val in = new Inputs(seed)
        val w = new Workload(workload, in, new Gateways(spark, in, work))
        if (trace) new Traced(spark, w, in, cores, opt("trace-out")).run()
        else new Untraced(w, in, cores, seconds).run()
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          System.exit(1)
          throw e
      } finally spark.stop()
    val details = out.details ++ Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> trace, "cores" -> cores, "spark_start_s" -> sparkStartS,
      "spark_master" -> s"local[$cores]",
      "spark_version" -> org.apache.spark.SPARK_VERSION,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "loadavg_start" -> loadStart, "loadavg_end" -> Stats.loadavg())
    println("PERFBENCH_DETAILS " + Json(details))
    println("PERFBENCH_RESULT " + Json(scala.collection.immutable.ListMap(
      "correct" -> out.correct, "attempted" -> out.attempted,
      "failed" -> out.failed, "metrics" -> out.metrics)))
    System.out.flush()
    System.exit(0)
  }
}

/** A run's result: the contract's fields, each metric as value and unit,
  * and the provenance details. */
final case class Outcome(
    correct: Boolean, attempted: Int, failed: Int,
    metrics: scala.collection.Map[String, Map[String, Any]],
    details: Map[String, Any])

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Geometric mean over request kinds of each kind's latency quantile:
    * every kind weighs the same, whatever its share of the requests. */
  def perKindGeomean(ok: Seq[Done], q: Double): Double = {
    val perKind = ok.groupBy(_.req.kind).values.map(ds => quantile(ds.map(_.latencyMs), q))
    if (perKind.isEmpty) 0.0 else math.exp(perKind.map(math.log).sum / perKind.size)
  }

  def loadavg(): Seq[Double] =
    scala.io.Source.fromFile("/proc/loadavg").mkString.trim.split("\\s+")
      .take(3).map(_.toDouble).toSeq

  def metric(v: Double, unit: String): Map[String, Any] = Map("value" -> v, "unit" -> unit)
}
