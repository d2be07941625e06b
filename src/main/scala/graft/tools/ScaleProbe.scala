package graft.tools

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame

/** Per-query probe: runs each query once, metered, and reports its wall
  * seconds with the Spark-machinery counters that explain them — jobs,
  * stages, tasks, shuffle read/write bytes, memory/disk spill and the
  * peak single-task execution memory. The counters answer "is this query
  * slow because of data work or because of plan machinery" (a 2 MB-input
  * query spending 40 stages is machinery), and shuffle bytes are what
  * [[ScaleGate]] diffs across two [[ScaleGen]] scales: a family whose
  * shuffle volume grows super-linearly in rows is a scale bug.
  *
  * `--plans <dir>` adds an untimed cold run before the metered one (so
  * `sec` is a warm run) and writes the AQE-final
  * `.explain("formatted")` plan to `<dir>/<query>.txt` and the optimized
  * logical plan to `<dir>/<query>.logical.txt`: the before/after
  * evidence of plan changes. Both go through [[stablePlan]], so two
  * checkouts that plan a query alike write the same files and `diff -r`
  * of two plan directories shows only plan changes. Where both sides of
  * a join are small enough to broadcast, AQE builds whichever side's
  * stage finished first, so the final plan can differ between two runs
  * of one commit; the logical plan, which AQE plays no part in, cannot.
  *
  * Usage:
  *   sbt "runMain graft.tools.ScaleProbe <dataDir> [q1,q2,...|--all] \
  *        [--out <file.jsonl>] [--plans <dir>]"
  * Output: one JSON line per query ([[line]] / [[errorLine]]) + a
  * summary line.
  */
object ScaleProbe {

  /** Spark-machinery counters: cumulative in the meter, per query as the
    * difference of two snapshots. `peakTaskMem` is a maximum, reset per
    * query instead of subtracted.
    */
  final case class Counts(
      jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
      shuffleRead: Long = 0, shuffleWrite: Long = 0,
      memSpilled: Long = 0, diskSpilled: Long = 0, peakTaskMem: Long = 0) {
    def -(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages,
      tasks - o.tasks, shuffleRead - o.shuffleRead,
      shuffleWrite - o.shuffleWrite, memSpilled - o.memSpilled,
      diskSpilled - o.diskSpilled, peakTaskMem)
  }

  /** ONE meter for the JVM's lifetime, read as before/after snapshots
    * with a listener-bus DRAIN BARRIER around each query
    * ([[org.apache.spark.graft.ListenerBarrier]]). A per-query add/remove
    * scheme mis-attributes under event-flood: `AsyncEventQueue` delivers
    * backlogged events (posted before registration) to newly-added
    * listeners, so a heavy query's late stage completions landed in the
    * NEXT query's meter (measured: a 1-row audit query "inheriting"
    * 700 MB of shuffle reads).
    */
  private final class QueryMeter extends SparkListener {
    private val counts = new AtomicReference(Counts())
    def snap(): Counts = counts.get()
    def resetPeak(): Unit = { counts.updateAndGet(_.copy(peakTaskMem = 0)); () }
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      counts.updateAndGet(c => c.copy(jobs = c.jobs + 1)); ()
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      val m = s.stageInfo.taskMetrics
      counts.updateAndGet(c =>
        if (m == null) c.copy(stages = c.stages + 1)
        else c.copy(stages = c.stages + 1,
          shuffleRead = c.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
          shuffleWrite = c.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
          memSpilled = c.memSpilled + m.memoryBytesSpilled,
          diskSpilled = c.diskSpilled + m.diskBytesSpilled))
      ()
    }
    // memory-pressure evidence: spill totals say whether the working set
    // exceeded execution memory; the peak single-task memory must stay
    // bounded as data grows — a task whose peak grows with total data
    // size is the scale cliff
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      counts.updateAndGet(c => c.copy(tasks = c.tasks + 1,
        peakTaskMem =
          if (m == null) c.peakTaskMem
          else math.max(c.peakTaskMem, m.peakExecutionMemory)))
      ()
    }
  }

  /** Minimal JSON string escape: backslash, quote, and all control
    * characters (a raw tab/newline in an exception message would produce
    * an invalid JSONL line).
    */
  private[tools] def jsonEscape(s: String): String =
    s.flatMap {
      case '\\' => "\\\\"
      case '"' => "\\\""
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  /** One query's probe line. The keys up to `shuffle_write_b` keep the
    * order [[ScaleGate.parseProbe]] reads; raw byte counts beside the MB
    * ones because MB truncation hides the growth ratio of small-shuffle
    * queries. `plan` is a `--plans` run's (cold seconds, exchanges in
    * the final plan).
    */
  def line(query: String, sec: Double, rows: Long, c: Counts,
      plan: Option[(Double, Int)] = None): String = {
    val mb = 1048576
    f"""{"query":"$query","sec":$sec%.3f,"rows":$rows,""" +
      s""""shuffle_read_mb":${c.shuffleRead / mb},""" +
      s""""shuffle_write_mb":${c.shuffleWrite / mb},""" +
      s""""shuffle_read_b":${c.shuffleRead},""" +
      s""""shuffle_write_b":${c.shuffleWrite},""" +
      s""""mem_spilled_mb":${c.memSpilled / mb},""" +
      s""""disk_spilled_mb":${c.diskSpilled / mb},""" +
      s""""peak_task_mem_mb":${c.peakTaskMem / mb},""" +
      s""""jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks}""" +
      plan.fold("") { case (cold, exchanges) =>
        f""","cold_sec":$cold%.3f,"plan_exchanges":$exchanges""" } + "}"
  }

  /** The line of a query that threw: it is never recorded as a time. */
  def errorLine(query: String, message: String): String =
    s"""{"query":"$query","error":"${jsonEscape(String.valueOf(message))}"}"""

  val DefaultQueries: Seq[String] = Seq(
    "q24_ngram_jaccard", "q25_minhash_lsh", "q57_dedup_clusters",
    "q134_semdedup", "q154_pq_topk", "q116_stream_interval_join",
    "q197_spearman")

  /** The AQE-final formatted plan of `df`. Running the frame's own
    * QueryExecution first is what makes it final: a count() runs a
    * separate grouped one, so this frame's would still explain the
    * initial AdaptiveSparkPlan (isFinalPlan=false), missing AQE's
    * runtime join-strategy switches.
    */
  def finalPlan(df: DataFrame): String = {
    df.queryExecution.toRdd.foreach(_ => ())
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  /** `plan` with what differs between two builds of one plan replaced by
    * fixed text: expression ids (`#123`), exchange plan ids
    * (`plan_id=4567`), lambda-variable counters (`lambda x_12`), JVM
    * lambda class names with their identity hash, the identity hash
    * other objects print (`Dedup$KmvAgg@4e3cb222`), and the random
    * suffixes of scratch-directory paths
    * (`/graft_scratch<N>/graft_warehouse<N>/`, see [[graft.TempDirs]]).
    */
  def stablePlan(plan: String): String =
    plan.replaceAll("#\\d+", "#x")
      .replaceAll("plan_id=\\d+", "plan_id=x")
      .replaceAll("(lambda [a-z]+)_\\d+", "$1_x")
      .replaceAll("\\$Lambda(\\$\\d+)?/0x[0-9a-f]+@[0-9a-f]+", "\\$Lambda")
      .replaceAll("(?<=[\\w$])@[0-9a-f]+\\b", "@x")
      .replaceAll("(/graft_[a-z_]*[a-z])\\d+", "$1x")

  /** The optimized logical plan of `df`, as [[stablePlan]] writes it. */
  def logicalPlan(df: DataFrame): String =
    stablePlan(df.queryExecution.optimizedPlan.toString)

  /** Writes `<dir>/<query>.txt` (the AQE-final plan) and
    * `<dir>/<query>.logical.txt`; returns the final plan's exchange count.
    */
  def writePlans(dir: java.io.File, query: String, df: DataFrame): Int = {
    def write(suffix: String, plan: => String): String = {
      val text = try plan catch { case e: Throwable => s"explain failed: $e" }
      java.nio.file.Files.writeString(
        new java.io.File(dir, query + suffix).toPath, text)
      text
    }
    val plan = write(".txt", stablePlan(finalPlan(df)))
    write(".logical.txt", logicalPlan(df))
    "Exchange".r.findAllIn(plan).length
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ScaleProbe <dataDir> [q1,q2,...|--all] " +
      "[--out <file>] [--plans <dir>]")
    val dir = args(0)
    // index-based flag parsing: a flag consumes exactly its following
    // token by POSITION (string-equality filtering dropped any positional
    // arg that happened to equal a flag's value)
    val flags = Map.newBuilder[String, String]
    val rest = Seq.newBuilder[String]
    var i = 1
    while (i < args.length) {
      if ((args(i) == "--out" || args(i) == "--plans") && i + 1 < args.length) {
        flags += args(i) -> args(i + 1); i += 2
      } else { rest += args(i); i += 1 }
    }
    val (opts, pos) = (flags.result(), rest.result())
    val names =
      if (pos.contains("--all")) graft.SparkEntry.queries.keys.toSeq.sorted
      else pos.headOption.map(_.split(",").toSeq).getOrElse(DefaultQueries)
    val planDir = opts.get("--plans").map(new java.io.File(_))
    planDir.foreach(_.mkdirs())
    val sink = opts.get("--out").map(f => new java.io.PrintWriter(
      new java.io.FileWriter(f, /*append=*/ false)))
    def emit(line: String): Unit = { println(line); sink.foreach { s =>
      s.println(line); s.flush() } }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.local(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")

    val meter = new QueryMeter
    spark.sparkContext.addSparkListener(meter)
    def barrier(): Unit =
      org.apache.spark.graft.ListenerBarrier.drain(spark.sparkContext)

    val secs = names.flatMap { n =>
      // the last frame built is freed whatever happens, so its checkpoint
      // blocks (dedup/ANN entries materialize eagerly) never outlive the
      // query — an --all sweep would otherwise pin hundreds of them
      var built: DataFrame = null
      def run(): Long = {
        built = graft.SparkEntry.queries(n)(spark, dir)
        built.count()
      }
      def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9
      // per-query fault isolation: a query whose tables the probe draw
      // lacks reports and moves on instead of killing the whole probe
      try {
        // cold run (untimed beyond wall): plan + codegen warmup
        val cold = planDir.map { _ =>
          val t0 = System.nanoTime()
          run()
          graft.pipeline.PipelineCache.free(built)
          since(t0)
        }
        barrier()
        meter.resetPeak()
        val before = meter.snap()
        val t0 = System.nanoTime()
        val rows = run()
        val sec = since(t0)
        barrier()
        val counts = meter.snap() - before
        // one extra untimed, unmetered pass buys the final plan
        val exchanges = planDir.map(writePlans(_, n, built))
        emit(line(n, sec, rows, counts, cold.zip(exchanges)))
        Some(sec)
      } catch {
        case e: Throwable =>
          emit(errorLine(n, e.getMessage))
          None
      } finally if (built != null) graft.pipeline.PipelineCache.free(built)
    }
    emit(f"""{"probe_dir":"$dir","queries":${secs.length},""" +
      f""""total_sec":${secs.sum}%.1f}""")
    sink.foreach(_.close())
    spark.stop()
  }
}
