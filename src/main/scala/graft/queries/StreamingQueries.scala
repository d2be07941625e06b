package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.adapters.EventsAdapter
import graft.exporters.Exporters
import graft.operators.{AsOfJoin, LabelMatcher, Matchers, SensorOps}
import graft.pipeline.{Dedup, Multimodal, Similarity, TextAnalysis}
import graft.prometheus.{PrometheusRemote, XorChunk}
import graft.promql.SimplePromQL
import graft.sources.{CsvImporter, InfluxLineProtocol, SenML}
import QueryHelpers._

/** Structured Streaming queries: windows, sessions, interval joins, streaming dedup/CUSUM/HLL, output-mode pins.
  *
  * One of the family registries composed into [[graft.Queries]];
  * oracle/alias conventions are documented there.
  */
private[graft] object StreamingQueries {

  /** An events stream with `ts` a timestamp whatever its stored type
    * (a corpus may store epoch milliseconds).
    */
  private def withTimestamps(raw: DataFrame): DataFrame =
    if (raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
    else raw

  /** The events file stream of the scoped session `ss`. */
  private def eventsStream(s: SparkSession, ss: SparkSession, d: String)
      : DataFrame =
    withTimestamps(ss.readStream.schema(Tables.load(s, d, "events").schema)
      .parquet(streamSourceDir(s, d, "events")))

  /** The stream-stream interval join of q116 and q296: clicks joined
    * by `joinType` to the same user's views within ±5 minutes, both
    * sides watermarked 1 h. user_id < 10 bounds the state-store demo:
    * the machinery cost (two state stores, per-row puts) is the fixed
    * overhead being exercised, not the corpus size.
    */
  private def clickViewJoin(stream: DataFrame, joinType: String)
      : DataFrame = {
    val clicks = stream.filter(col("event_type") === "click" &&
        col("user_id") < 10)
      .select(col("user_id").as("cu"), col("ts").as("cts"))
      .withWatermark("cts", "1 hour")
    val views = stream.filter(col("event_type") === "view" &&
        col("user_id") < 10)
      .select(col("user_id").as("vu"), col("ts").as("vts"))
      .withWatermark("vts", "1 hour")
    clicks.join(views, expr(
      """cu = vu AND
        |vts BETWEEN cts - INTERVAL 5 MINUTES
        |        AND cts + INTERVAL 5 MINUTES""".stripMargin), joinType)
  }

  /** q291 and q313: 10-minute tumbling counts per event type under a
    * 30-minute watermark over the three-batch late-data source, drained
    * in `outputMode` and returned sorted by `sortCols`.
    */
  private def lateWindowCounts(s: SparkSession, d: String, query: String,
      outputMode: String, sortCols: Seq[String]): DataFrame = {
    val ss = streamSession(s)
    val late = ss.readStream.schema(Tables.load(s, d, "events").schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(lateSourceDir(s, d))
    val agg = withTimestamps(late)
      .withWatermark("ts", "30 minutes")
      .groupBy(col("event_type"), window(col("ts"), "10 minutes").as("w"))
      .agg(count(lit(1)).as("n"))
    val name = s"${query}_out_${System.nanoTime()}"
    val running = agg.writeStream.outputMode(outputMode)
      .format("memory").queryName(name).start()
    try drainWithEviction(ss, running, name, 1800000L)
    finally graft.streaming.StreamingIngest.stopAndCleanCheckpoint(running)
    val out = ss.table(name)
      .select(col("event_type"),
        unix_micros(col("w.start")).as("window_start_us"), col("n"))
    boundedResult(s, ss, name, out, sortCols)
  }

  /** The 30-minute sessions per user as gaps-and-islands — the oracle of
    * batch q105 and of streaming q284: break where the gap to the
    * previous event is >= 30 min, running-sum session ids, then
    * per-session extrema.
    */
  private val sessionOracleSql =
    """WITH m AS (
      |  SELECT user_id, ts,
      |    CASE WHEN LAG(ts) OVER w IS NULL
      |      OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) >= 1800000000
      |      THEN 1 ELSE 0 END AS brk
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |s AS (
      |  SELECT user_id, ts,
      |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
      |      ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM m)
      |SELECT user_id, epoch_us(MIN(ts)) AS start_us,
      |  epoch_us(MAX(ts)) + 1800000000 AS end_us,
      |  COUNT(*) AS n
      |FROM s GROUP BY user_id, sid
      |ORDER BY user_id, start_us"""

  val registry: Seq[Q] = Seq(

    // ---------------------------------------------------------------------
    // T-series: Structured Streaming windowed resample (the doc-only
    // composite-sensor operator), run as a real streaming query over the
    // events files with a memory sink, compared against the batch oracle.
    q(
      "q32_stream_window",
      """SELECT epoch_us(date_trunc('day', ts)) AS window_start_us,
        |  event_type || ' ' || CAST(user_id AS VARCHAR) AS sensor_id,
        |  COUNT(*) AS n, MIN(value) AS min_value, MAX(value) AS max_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2"""
    ) { (s, d) =>
      // the file stream source requires a directory; expose the single
      // events.parquet file through a cached temp-dir symlink, and run
      // the stateful agg on the 4-partition scoped session (fixed
      // state-store overhead, identical answer)
      val ss = streamSession(s)
      val streamSamples = eventsStream(s, ss, d)
        .select(concat(col("event_type"), lit(" "), col("user_id"))
          .as("sensor_id"), col("ts"), col("value"))
      val agg = graft.streaming.StreamingIngest
        .windowedResample(streamSamples, "1 day", "1 hour")
        .drop("avg_value")
      val name = s"q32_out_${System.nanoTime()}"
      val query = agg.writeStream.outputMode("complete")
        .format("memory").queryName(name).start()
      try query.processAllAvailable() finally graft.streaming.StreamingIngest.stopAndCleanCheckpoint(query)
      // bounded result re-materialized on the caller's session; the
      // memory-sink view is dropped so Bench's 4 runs don't accumulate
      boundedResult(s, ss, name, ss.table(name),
        Seq("window_start_us", "sensor_id"))
    },

    // Streaming ingest-time dedup: the q23 semantics as a REAL streaming
    // query (file source -> stateful dropDuplicates on the content
    // fingerprint, scoped per source -> complete-mode aggregation), the
    // shape a training pipeline runs before anything lands in storage.
    // The batch oracle counts distinct normalized texts per source.
    q(
      "q74_stream_dedup",
      """SELECT source,
        |  COUNT(DISTINCT lower(regexp_replace(trim(text), '\s+', ' ', 'g')))
        |    AS n_kept
        |FROM documents GROUP BY source ORDER BY source"""
    ) { (s, d) =>
      val ss = streamSession(s) // 4 state partitions; same answer
      val schema = Tables.load(s, d, "documents").schema
      val stream = ss.readStream.schema(schema)
        .parquet(streamSourceDir(s, d, "documents"))
      val kept = Dedup.dedupStream(stream, "text", scopeCols = Seq("source"))
        .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
      val name = s"q74_out_${System.nanoTime()}"
      val query = kept.writeStream.outputMode("complete")
        .format("memory").queryName(name).start()
      try query.processAllAvailable() finally graft.streaming.StreamingIngest.stopAndCleanCheckpoint(query)
      // materialize the (per-source, bounded) counts and drop the
      // memory sink: Bench re-runs each entry 4x per JVM, so leaked
      // result tables would accumulate in driver memory for the
      // process lifetime
      boundedResult(s, ss, name, ss.table(name), Seq("source"))
    },

    // Temporal sessionization: Spark's session_window (merging windows,
    // end = last event + gap, gap-boundary event starts a NEW session
    // because the window interval is half-open) per user over all
    // events. The oracle replays it as gaps-and-islands: break when the
    // gap to the previous event is >= 30min, running-sum session ids,
    // then per-session extrema — an all-integer hash surface.
    q("q105_session_windows", sessionOracleSql) { (s, d) =>
      Tables.events(s, d)
        .groupBy(col("user_id"),
          session_window(col("ts"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n"))
        .select(col("user_id"),
          unix_micros(col("sw.start")).as("start_us"),
          unix_micros(col("sw.end")).as("end_us"),
          col("n"))
        .orderBy("user_id", "start_us")
    },

    // Stream-stream interval join: clicks joined to views within ±5
    // minutes per user, as a watermarked Structured Streaming self-join
    // over the events file stream — and the oracle is the identical
    // PLAIN range-join SQL as the batch band join (q109), which is the
    // point: the streaming plan must converge to the batch answer.
    q(
      "q116_stream_interval_join",
      """WITH c AS (
        |  SELECT user_id, epoch_us(ts) AS cts FROM events
        |  WHERE event_type = 'click' AND user_id < 10),
        |v AS (
        |  SELECT user_id, epoch_us(ts) AS vts FROM events
        |  WHERE event_type = 'view' AND user_id < 10)
        |SELECT c.user_id, c.cts, COUNT(*) AS n_views
        |FROM c JOIN v ON c.user_id = v.user_id
        |  AND v.vts BETWEEN c.cts - 300000000 AND c.cts + 300000000
        |GROUP BY 1, 2 ORDER BY 1, 2"""
    ) { (s, d) =>
      // a stream-stream join opens FOUR state stores per shuffle
      // partition; at the session's 32 partitions that is 128 store
      // instances checkpointing per micro-batch — pure fixed overhead
      // for a bounded demo. Scope the state partitioning down via the
      // shared DEDICATED session (own SQLConf, shared context) —
      // mutating the shared conf and restoring it would silently
      // re-plan anything planned concurrently with 4 partitions.
      val ss = streamSession(s)
      locally {
        val joined = clickViewJoin(eventsStream(s, ss, d), "inner")
        val name = s"q116_out_${System.nanoTime()}"
        val query = joined.writeStream.outputMode("append")
          .format("memory").queryName(name).start()
        try query.processAllAvailable() finally graft.streaming.StreamingIngest.stopAndCleanCheckpoint(query)
        // the memory sink registers its view in the SCOPED session's
        // catalog; the bounded result re-materializes on the caller's
        // session so nothing downstream depends on the scoped one
        val out = ss.table(name)
          .groupBy(col("cu"), col("cts"))
          .agg(count(lit(1)).as("n_views"))
          .select(col("cu").as("user_id"),
            unix_micros(col("cts")).as("cts"), col("n_views"))
        boundedResult(s, ss, name, out, Seq("user_id", "cts"))
      }
    },

    // Stream-static enrichment join: the events STREAM broadcast-joined
    // to the static customer dimension mid-flight (the standard
    // dimension-lookup topology: per-micro-batch hash lookup, no stream
    // state), then a running per-segment aggregate. Oracle is the
    // identical batch join — stream-static inner joins add no
    // time semantics.
    q(
      "q184_stream_enrich",
      """SELECT c_mktsegment AS segment, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_value
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1 ORDER BY segment"""
    ) { (s, d) =>
      val ss = streamSession(s) // 4 state partitions; same answer
      val schema = Tables.load(s, d, "events").schema
      val stream = ss.readStream.schema(schema)
        .parquet(streamSourceDir(s, d, "events"))
      // dim loaded through the SAME scoped session — mixing Datasets
      // across sessions analyzes under one SQLConf and resolves under
      // another, which Spark only sometimes tolerates
      val dim = Tables.customer(ss, d)
        .select(col("c_custkey"), col("c_mktsegment"))
      val enriched = stream
        .join(broadcast(dim), stream("user_id") === dim("c_custkey"))
        .groupBy(col("c_mktsegment").as("segment"))
        .agg(count(lit(1)).as("n_events"),
          dsum(col("value")).as("total_value"))
      val name = s"q184_out_${System.nanoTime()}"
      val query = enriched.writeStream.outputMode("complete")
        .format("memory").queryName(name).start()
      try query.processAllAvailable() finally graft.streaming.StreamingIngest.stopAndCleanCheckpoint(query)
      boundedResult(s, ss, name, ss.table(name), Seq("segment"))
    },

    // One-sided CUSUM change-point chart per sensor: sequential
    // max(0, s + (x − target − slack)) fold — sharded recurrence (the
    // Ewma/deadband shape), replayed bit-exactly by a recursive CTE
    // advancing one row per sensor per step (q82/q143 precedent); no
    // rounding surface.
    q("q196_cusum", cusumOracleSql) { (s, d) =>
      graft.operators.Cusum.detect(
          EventsAdapter.samples(s, d),
          target = 50.0, slack = 5.0, threshold = 200.0)
        .orderBy("sensor_id", "timestamp_us", "value")
        .withColumnRenamed("timestamp_us", "t")
    },

    // Streaming CUSUM: the q196 fold as a live flatMapGroupsWithState
    // monitor (one double of state per series). Fold-identical to the
    // batch operator, so the same recursive-CTE oracle serves both;
    // cross-batch state carry is pinned in StoreSpec on a controlled
    // two-batch replay.
    q("q219_stream_cusum", cusumOracleSql) { (s, d) =>
      // the normalized sample dump is INPUT SETUP, not query work —
      // cache it per (session, sfDir) like Tables' relation cache, so
      // Bench's 4 runs per JVM pay the write once (the dir lives in
      // /tmp for the JVM lifetime; the OS owns cleanup)
      val samples = EventsAdapter.samples(s, d)
        .select(col("sensor_id"), col("timestamp_us"), col("value"))
      val streamDir = q219SourceDirs.computeIfAbsent((s, d), _ => {
        val p = graft.TempDirs.create("q219_src")
        samples.coalesce(1).write.mode("overwrite").parquet(p.toString)
        p
      })
      val ss = streamSession(s) // 4 state partitions; same answer
      val stream = ss.readStream.schema(samples.schema)
        .parquet(streamDir.toString)
      val out = graft.streaming.StreamingCusum.detectStreamDF(
        stream, target = 50.0, slack = 5.0, threshold = 200.0)
      val name = s"q219_out_${System.nanoTime()}"
      val query = out.writeStream.outputMode("append")
        .format("memory").queryName(name).start()
      try query.processAllAvailable() finally graft.streaming.StreamingIngest.stopAndCleanCheckpoint(query)
      boundedResult(s, ss, name,
        ss.table(name).withColumnRenamed("timestamp_us", "t"),
        Seq("sensor_id", "t", "value"))
    },

    // Streaming HLL: the q271 register table built as a STATEFUL
    // streaming aggregate (groupBy(flag, reg).max — state is 3×256
    // registers, O(1) per series, the sketch-native streaming shape),
    // then finalized in batch off the sink. Deterministic hashing ⇒
    // stream ≡ batch, pinned by sharing q271's oracle arithmetic.
    q(
      "q275_stream_hll",
      s"""WITH $hllRegisterCtes
         |SELECT flag, registers_observed,
         |  tobs + (256 - registers_observed) *
         |    (CAST(1 AS BIGINT) << 53) AS t_scaled,
         |  (0.7213::DOUBLE / (1.0::DOUBLE + 1.079::DOUBLE / 256.0::DOUBLE))
         |    * 256.0::DOUBLE * 256.0::DOUBLE * 9007199254740992.0::DOUBLE
         |    / CAST(tobs + (256 - registers_observed) *
         |        (CAST(1 AS BIGINT) << 53) AS DOUBLE) AS hll_estimate
         |FROM g ORDER BY flag"""
    ) { (s, d) =>
      val ss = streamSession(s)
      val schema = Tables.load(s, d, "lineitem").schema
      val stream = ss.readStream.schema(schema)
        .parquet(streamSourceDir(s, d, "lineitem"))
        .select(col("l_returnflag").as("flag"),
          col("l_orderkey").cast("string").as("k"))
      val regs = graft.pipeline.Sketches.hllRegisters(
        stream, "k", Seq("flag"), 8)
      val name = s"q275_out_${System.nanoTime()}"
      val query = regs.writeStream.outputMode("complete")
        .format("memory").queryName(name).start()
      try query.processAllAvailable() finally graft.streaming.StreamingIngest.stopAndCleanCheckpoint(query)
      boundedResult(s, ss, name,
        graft.pipeline.Sketches.hllFinalize(ss.table(name), Seq("flag"), 8),
        Seq("flag"))
    },

    // Streaming sessionization: the SAME 30-minute session_window
    // aggregation as batch q105, run through Structured Streaming
    // (session-merging state store) in complete mode — bounded-replay
    // parity against q105's gaps-and-islands oracle; production runs
    // append mode + watermark for state eviction, which changes WHEN
    // sessions emit, never their extent.
    q("q284_stream_sessions", sessionOracleSql) { (s, d) =>
      val ss = streamSession(s)
      locally {
        val stream = eventsStream(s, ss, d)
        val sess = stream
          .groupBy(col("user_id"),
            session_window(col("ts"), "30 minutes").as("sw"))
          .agg(count(lit(1)).as("n"))
        val name = s"q284_out_${System.nanoTime()}"
        val query = sess.writeStream.outputMode("complete")
          .format("memory").queryName(name).start()
        try query.processAllAvailable() finally graft.streaming.StreamingIngest.stopAndCleanCheckpoint(query)
        val out = ss.table(name)
          .select(col("user_id"),
            unix_micros(col("sw.start")).as("start_us"),
            unix_micros(col("sw.end")).as("end_us"), col("n"))
        boundedResult(s, ss, name, out, Seq("user_id", "start_us"))
      }
    },

    // Append-mode watermark semantics, pinned end to end: THREE micro
    // batches (event_id mod-3 split, oldest-first), 30-min watermark,
    // 10-min tumbling count per event_type. Late-event filtering lags
    // one batch (SPARK-40925: watermarkForLateEvents = the PREVIOUS
    // batch's watermark), so batch 2 is the first to drop — its rows
    // survive iff window.end > max(batch-0 ts) − 30 min (observed
    // empirically: 3231 of 3333 batch-2 rows dropped at sf0.01, zero
    // in batches 0/1); windows emit iff window.end ≤ final watermark
    // (the closing no-data batch handles a batch-2 advance). The
    // oracle replays BOTH rules in SQL.
    q("q291_stream_late_data", lateDataOracleSql) { (s, d) =>
      lateWindowCounts(s, d, "q291", "append",
        Seq("event_type", "window_start_us"))
    },

    // Streaming LEFT OUTER interval join — q116's outer twin, pinning
    // the null-emission rule: matched click-view pairs emit as found;
    // an unmatched click emits its null row only when the JOINT
    // watermark (min of both streams' max-event-time − 1 h) passes the
    // end of its match window (cts + 5 min) — clicks closer to the
    // stream tail never emit. The oracle replays the batch join plus
    // exactly that gate.
    q("q296_stream_outer_join", outerJoinOracleSql) { (s, d) =>
      val ss = streamSession(s)
      locally {
        val joined = clickViewJoin(eventsStream(s, ss, d), "leftOuter")
        val name = s"q296_out_${System.nanoTime()}"
        val query = joined.writeStream.outputMode("append")
          .format("memory").queryName(name).start()
        try drainWithEviction(ss, query, name, 3600000L) finally graft.streaming.StreamingIngest.stopAndCleanCheckpoint(query)
        val out = ss.table(name)
          .groupBy(col("cu"), col("cts"))
          .agg(count(col("vts")).as("n_views"))
          .select(col("cu").as("user_id"),
            unix_micros(col("cts")).as("cts_us"), col("n_views"))
        boundedResult(s, ss, name, out, Seq("user_id", "cts_us"))
      }
    },

    // UPDATE-mode emission semantics, pinned: same 3-micro-batch
    // source and windowed count as q291, but update mode — each batch
    // re-emits the CUMULATIVE count of every (type, window) it
    // touched, so the sink holds one row per touch: batch-0 windows
    // at their b0 counts, batch-1 windows at b0+b1, and batch-2
    // windows (those surviving the lagged late filter, q291's rule)
    // at the full count. The oracle reconstructs that multiset.
    q(
      "q313_stream_update_mode",
      """WITH w1 AS (SELECT MAX(epoch_us(ts)) - 1800000000 AS wm
        |  FROM events WHERE event_id % 3 = 0),
        |r AS (SELECT event_type, event_id % 3 AS p,
        |    (epoch_us(ts) // 600000000) * 600000000 AS ws
        |  FROM events),
        |b0 AS (SELECT event_type, ws, COUNT(*) AS n FROM r
        |  WHERE p = 0 GROUP BY 1, 2),
        |b01 AS (SELECT event_type, ws, COUNT(*) AS n FROM r
        |  WHERE p <= 1 GROUP BY 1, 2),
        |ball AS (SELECT r.event_type, r.ws, COUNT(*) AS n
        |  FROM r, w1
        |  WHERE p <= 1 OR r.ws + 600000000 > w1.wm
        |  GROUP BY 1, 2),
        |p1 AS (SELECT DISTINCT event_type, ws FROM r WHERE p = 1),
        |p2 AS (SELECT DISTINCT r.event_type, r.ws FROM r, w1
        |  WHERE p = 2 AND r.ws + 600000000 > w1.wm)
        |SELECT event_type, ws AS window_start_us, n FROM b0
        |UNION ALL
        |SELECT b01.event_type, b01.ws, b01.n FROM b01
        |  JOIN p1 ON b01.event_type = p1.event_type AND b01.ws = p1.ws
        |UNION ALL
        |SELECT ball.event_type, ball.ws, ball.n FROM ball
        |  JOIN p2 ON ball.event_type = p2.event_type
        |    AND ball.ws = p2.ws
        |ORDER BY event_type, window_start_us, n"""
    ) { (s, d) =>
      lateWindowCounts(s, d, "q313", "update",
        Seq("event_type", "window_start_us", "n"))
    }
  )
}
