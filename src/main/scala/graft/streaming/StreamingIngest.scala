package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.model.{IngestBatch, SensorType}
import graft.store.SensorStore

/** Structured Streaming ingest (T1–T4) and the windowed resampler the
  * reference only documents (docs/DATAMODEL.md:125-131).
  *
  * The reference's BatchBuilder/FFD bin-packing (T2) disappears: Spark
  * micro-batches bound batch size via trigger + maxFilesPerTrigger, and
  * `foreachBatch` gives the same ack-after-commit at-least-once contract
  * as the reference's flush protocol (T3; reference:
  * src/datamodel/batch_builder.rs:177-208) when paired with checkpointing.
  */
object StreamingIngest {

  /** Session scoped for stateful-streaming scale. Two knobs a real
    * deployment must size explicitly instead of inheriting from the
    * analytics default:
    *
    *  - `statePartitions`: the shuffle partition count a stateful query
    *    reads AT STREAM START and freezes into its checkpoint — it is
    *    the number of state stores, not a per-batch tunable. A
    *    stream-stream join opens FOUR stores per partition, so the
    *    session-wide analytics setting (32 here, hundreds on a
    *    cluster) multiplies into pure fixed overhead for small-state
    *    demos and must instead scale with peak watermark-bounded state
    *    for production joins.
    *  - `useRocksDb`: swaps the default in-heap HDFSBackedStateStore
    *    for RocksDB, moving state off-heap with incremental-snapshot
    *    checkpointing — the provider for state that outgrows executor
    *    heap (large watermark windows × high key cardinality).
    *
    * Returns a NEW session (shared SparkContext, own SQLConf): the
    * parent session's conf is never mutated, so queries planned
    * concurrently on it keep their own partitioning — scoping by
    * session replaces the set-then-restore dance on the shared conf,
    * which silently leaked the temporary setting to anything planned
    * inside the window.
    */
  def stateScopedSession(
      spark: SparkSession,
      statePartitions: Int,
      useRocksDb: Boolean = false): SparkSession = {
    require(statePartitions >= 1, "need at least one state partition")
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", statePartitions.toString)
    if (useRocksDb)
      s.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state." +
          "RocksDBStateStoreProvider")
    // Checkpoint placement: BOUNDED interactive streaming queries (the
    // memory-sink family this session serves) write offset logs + one
    // state delta per partition per micro-batch — dozens of tiny fsynced
    // files whose disk latency is pure fixed overhead. Put them on
    // tmpfs when the host has one: state durability for these queries
    // is irrelevant (the query is re-run, not resumed — each run uses a
    // fresh name). DURABLE ingest ([[ingestStream]]) takes an explicit
    // checkpointDir and is unaffected — a production deployment points
    // that at replicated storage, exactly as Spark's docs require.
    ephemeralCheckpointRoot.foreach(r =>
      s.conf.set("spark.sql.streaming.checkpointLocation", r))
    s
  }

  /** Stop a bounded interactive query and reclaim its checkpoint dir.
    * Spark deletes only TEMPORARY checkpoints on stop; a query started
    * under a CONFIGURED root (the scoped sessions' tmpfs root) leaves
    * its offset logs + state deltas behind — one dir per query, in RAM,
    * for the JVM's lifetime. Only paths under OUR ephemeral root are
    * reclaimed: durable user-specified checkpoints must survive stop
    * (they are the resume contract).
    */
  def stopAndCleanCheckpoint(q: StreamingQuery): Unit = {
    try q.stop()
    finally q match {
      case w: org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper =>
        val root = w.streamingQuery.resolvedCheckpointRoot
          .stripPrefix("file:")
        // boundary-aware prefix match: a durable checkpoint in a
        // SIBLING dir that merely string-prefix-matches the ephemeral
        // root (".../graft_stream_ckptX" vs ".../graft_stream_ckpt")
        // must never be swept
        if (ephemeralCheckpointRoot.exists(r =>
            root == r || root.startsWith(r + java.io.File.separator)))
          graft.TempDirs.deleteRecursively(new java.io.File(root))
      case _ => ()
    }
  }

  /** Per-JVM tmpfs checkpoint root for ephemeral scoped sessions; None
    * when /dev/shm is absent (falls back to Spark's temp-dir default).
    */
  private lazy val ephemeralCheckpointRoot: Option[String] = {
    val shm = new java.io.File("/dev/shm")
    if (shm.isDirectory && shm.canWrite) {
      val d = java.nio.file.Files.createTempDirectory(
        shm.toPath, "graft_stream_ckpt")
      // recursive delete at JVM exit — deleteOnExit only removes EMPTY
      // dirs, and tmpfs is RAM: a leaked checkpoint tree would hold
      // memory until container restart (this dir can't live under the
      // TempDirs root because it must sit on /dev/shm, but it shares
      // the same cleanup)
      Runtime.getRuntime.addShutdownHook(new Thread(
        () => graft.TempDirs.deleteRecursively(d.toFile),
        "graft-ckpt-cleanup"))
      Some(d.toString)
    } else None
  }

  /** Stream a directory of sample files (canonical long layout) into the
    * store. EXACTLY-once into the table: the source offsets are
    * checkpointed AND each micro-batch publishes under a
    * (checkpoint, batchId) idempotency key — `foreachBatch` is
    * at-least-once by contract (a crash between the publish and the
    * batch commit-log write replays the batch), and the keyed staged
    * append makes the replay a no-op instead of a duplication.
    */
  def ingestStream(
      spark: SparkSession,
      sourceDir: String,
      sourceSchema: org.apache.spark.sql.types.StructType,
      store: SensorStore,
      sensorType: SensorType,
      checkpointDir: String): StreamingQuery = {
    spark.readStream
      .schema(sourceSchema)
      .parquet(sourceDir)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        store.publishSamples(sensorType,
          batch.select("sensor_id", "timestamp_us", "value"),
          commitKey = Some(commitKey(checkpointDir, batchId)))
      }
      .start()
  }

  /** Idempotency key for a streaming micro-batch publish: stable across
    * driver restarts (the checkpoint path identifies the stream; the
    * batchId identifies the replayed batch). The stream identity is a
    * COLLISION-RESISTANT digest of the checkpoint path, not its 32-bit
    * hashCode: two distinct streams ingesting the same type into one
    * store always align on batchId (both start at 0), so a 32-bit
    * collision would make the later stream's publishes silently skip
    * as already-published — unrecoverable data loss with no error.
    */
  private[streaming] def commitKey(
      checkpointDir: String, batchId: Long): String = {
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(checkpointDir.getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
    val hex = digest.take(8).map(b => f"$b%02x").mkString
    s"ck$hex-b$batchId"
  }

  /** Stream a directory of Prometheus remote-write frames (one
    * snappy-compressed WriteRequest protobuf per file — the wire payload
    * the HTTP endpoint receives) into the store. The decode runs
    * distributed in `flatMap`; sensor identity (content-addressed uuid
    * from name+labels) is derived per row with the codegen'd sensor_uuid expression; each
    * micro-batch commits catalog + Float samples in `foreachBatch`
    * (reference ingest semantics: src/ingestors/http/
    * prometheus_write.rs:100-180).
    */
  def remoteWriteStream(
      spark: SparkSession,
      sourceDir: String,
      store: SensorStore,
      checkpointDir: String): StreamingQuery = {
    import spark.implicits._
    import graft.prometheus.PrometheusRemote
    val binarySchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("path",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("modificationTime",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("length",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("content",
        org.apache.spark.sql.types.BinaryType)))
    // resolved on the driver so the task closure ships a plain Long —
    // a frame declaring an absurd uncompressed length is poison, not
    // a licence to allocate gigabytes inside the task
    val decodedCap = graft.Config.decodedBodyLimit
    spark.readStream
      .format("binaryFile")
      .schema(binarySchema)
      .load(sourceDir)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (path: String, bytes: Array[Byte]) =>
        // poison-pill tolerance: one corrupt/invalid frame FILE must not
        // wedge the stream forever (the failed batch would replay the
        // same file on every restart) — decode errors skip the file
        // loudly, matching the HTTP twin where one bad request 400s
        // without stopping ingest. The decode itself is the shared
        // writeRequestRows, so both paths derive identical identity.
        try PrometheusRemote.writeRequestRows(
          PrometheusRemote.parseWriteRequest(
            PrometheusRemote.snappyDecompress(bytes, decodedCap)))
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(
            s"[remote-write-stream] skipping undecodable frame $path: $e")
          Seq.empty
        }
      }
      .toDF(RemoteWriteColumns: _*)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        store.publish(remoteWriteBatch(batch),
          commitKey = Some(commitKey(checkpointDir, batchId)))
      }
      .start()
  }

  /** Column names of [[graft.prometheus.PrometheusRemote.writeRequestRows]]'
    * tuples, shared by the HTTP endpoint and [[remoteWriteStream]].
    */
  val RemoteWriteColumns: Seq[String] =
    Seq("name", "labels", "unit_name", "timestamp_us", "value")

  /** Remote-write rows ([[RemoteWriteColumns]]) as a batch of Float
    * series.
    */
  def remoteWriteBatch(rows: DataFrame): IngestBatch =
    IngestBatch.fromRows(rows.withColumn("type", lit("Float")),
      Seq(SensorType.Float), cache = true)(_ => col("value"))

  /** Event-time windowed resampling with a watermark: per sensor, tumbling
    * windows of `windowDur`, emitting count/avg/min/max — the composite-
    * sensor resampler as a streaming aggregation. Late data beyond
    * `watermarkDur` is dropped (a policy the reference never defined).
    */
  def windowedResample(
      samples: DataFrame, // streaming or batch: sensor_id, ts (timestamp), value
      windowDur: String,
      watermarkDur: String): DataFrame =
    samples
      .withWatermark("ts", watermarkDur)
      .groupBy(window(col("ts"), windowDur), col("sensor_id"))
      .agg(
        count(lit(1)).as("n"),
        avg(col("value")).as("avg_value"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))
      .select(
        unix_micros(col("window.start")).as("window_start_us"),
        col("sensor_id"), col("n"), col("avg_value"), col("min_value"),
        col("max_value"))

  /** The resampler's sink half: stream canonical long-layout sample files
    * through [[windowedResample]] and persist each closed window as
    * samples of *derived* Float series in the store — one series per
    * source series × statistic, content-addressed from the source
    * metadata plus `__resample__`/`__aggregate__` labels. Re-running the
    * stream (or two streams over the same source) therefore converges on
    * the same derived uuids, and because append mode only ever emits
    * finalized windows, the at-least-once foreachBatch sink never writes
    * a window twice within one checkpointed run.
    *
    * Watermark tail (standard append-mode semantics, stated so nobody
    * is surprised): a window is emitted only once the watermark passes
    * its end, and the watermark trails the max event time by
    * `watermarkDur` — so on a FINITE source the last `watermarkDur`
    * worth of windows per series is still open when the
    * AvailableNow run terminates, and is NOT persisted. This job is the
    * continuous-ingest resampler; for a complete backfill of a closed
    * dataset, run the batch resampler ([[windowedResample]] on a batch
    * frame, or `SensorOps.resampleGrid`) which has no watermark.
    *
    * Concurrency: convergence ("first write wins") is per-SAMPLE via
    * [[publishResampledRows]]' existence anti-join, which is
    * check-then-act — two streams racing the SAME window can both pass
    * the probe and write bit-identical duplicate rows. Sequential
    * re-runs and restarts converge exactly; concurrent identical
    * streams are an operational misconfiguration the store tolerates
    * (duplicates are bit-identical and removable via
    * `SensorOps.dedup` / vacuum), not a supported deployment.
    */
  def resampleStreamToStore(
      spark: SparkSession,
      sourceDir: String,
      sourceSchema: org.apache.spark.sql.types.StructType, // sensor_id, timestamp_us, value
      store: SensorStore,
      windowDur: String,
      watermarkDur: String,
      checkpointDir: String,
      maxFilesPerTrigger: Int = 1): StreamingQuery = {
    val src = spark.readStream
      .schema(sourceSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(sourceDir)
      .select(col("sensor_id"),
        timestamp_micros(col("timestamp_us")).as("ts"),
        col("value").cast("double").as("value"))
    windowedResample(src, windowDur, watermarkDur)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        publishResampledRows(store, batch, windowDur)
      }
      .start()
  }

  /** Publish one micro-batch of closed resample windows as derived Float
    * series. Source metadata comes from a broadcast catalog join; series
    * missing from the catalog fall back to the raw sensor_id as the name.
    *
    * Idempotent at the sample level: derived rows whose
    * (sensor_id, timestamp_us) already exist in the store are skipped, so
    * re-running a batch resample (or restarting a stream with a fresh
    * checkpoint) converges instead of appending duplicates. First write
    * wins — if the source data changed since the earlier run, the earlier
    * derived value is kept, matching the append-only store's contract.
    * The existence probe reads only the month partitions covering the
    * batch's window range and joins broadcast-small key sets, so it never
    * shuffles the store.
    */
  def publishResampledRows(
      store: SensorStore, batch: DataFrame, windowDur: String): Unit = {
    val catalog = store.sensors.select(
      col("uuid"), col("name").as("src_name"),
      col("unit.name").as("unit_name"), col("labels").as("src_labels"))
    val emptyLabels = expr("cast(map() as map<string,string>)")
    val rows = batch
      .select(col("window_start_us").as("timestamp_us"), col("sensor_id"),
        expr("""stack(4,
          'count', cast(n as double),
          'avg', avg_value,
          'min', min_value,
          'max', max_value) as (stat, value)"""))
      .join(broadcast(catalog), col("sensor_id") === col("uuid"), "left")
      .drop("uuid")
      .withColumn("name", coalesce(col("src_name"), col("sensor_id")))
      .withColumn("labels", map_concat(
        map_filter(coalesce(col("src_labels"), emptyLabels),
          (k, _) => !k.isin("__resample__", "__aggregate__")),
        map(lit("__resample__"), lit(windowDur),
          lit("__aggregate__"), col("stat"))))
      .withColumn("type", lit("Float"))
    val derived = IngestBatch.fromRows(rows, Seq(SensorType.Float),
      cache = true)(_ => col("value"))
    try store.publish(derived.copy(samples = derived.samples.map {
      case (t, s) => t -> antiJoinExisting(store, s)
    }))
    finally derived.release()
  }

  /** Drop derived rows whose (sensor_id, timestamp_us) key already exists
    * in the Float table. The probe is bounded: month pruning restricts the
    * store scan to the batch's time range, the batch's key set is
    * broadcast into a semi-join against that scan (no store shuffle), and
    * the surviving conflict keys — at most the batch size — are broadcast
    * back into the anti-join. Batches larger than `maxBroadcastKeys` fall
    * back to a plain shuffle anti-join rather than an oversized broadcast.
    */
  private[graft] def antiJoinExisting(
      store: SensorStore,
      derived: DataFrame, // (sensor_id, timestamp_us, value)
      maxBroadcastKeys: Long = 1L << 20): DataFrame = {
    val keyCols = Seq("sensor_id", "timestamp_us")
    val bounds = derived.agg(
      min(col("timestamp_us")), max(col("timestamp_us")), count(lit(1)))
      .first()
    if (bounds.isNullAt(0)) return derived
    val existing = store
      .samplesInRange(SensorType.Float, Some(bounds.getLong(0)),
        Some(bounds.getLong(1)))
      .select(keyCols.map(col): _*)
    if (bounds.getLong(2) <= maxBroadcastKeys) {
      val keys = derived.select(keyCols.map(col): _*)
      val conflicts = existing
        .join(broadcast(keys), keyCols, "left_semi")
      derived.join(broadcast(conflicts), keyCols, "left_anti")
    } else derived.join(existing, keyCols, "left_anti")
  }
}
