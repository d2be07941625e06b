package graft.store

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructType}
import graft.model.{IngestBatch, Schemas, SensorType}

/** Columnar sensor store (S6/S14), parquet by default with ORC as a
  * drop-in alternative backend: the Spark-native analog of the
  * reference's per-type value tables + sensors catalog
  * (reference: src/storage/sqlite/migrations/20240110093153_init.sql).
  *
  * Physical design for scale (SURVEY §4):
  *  - one directory per value type, partitioned by `month` (yyyyMM of the
  *    sample timestamp) — the ClickHouse monthly-partition analog; time-
  *    range predicates prune partitions before any IO
  *    (reference: src/storage/clickhouse/migrations/
  *    20240223133248_init.sql:33-115);
  *  - rows sorted within files by (sensor_id, timestamp_us) via
  *    sortWithinPartitions — parquet min/max row-group stats then act as
  *    the (sensor_id, timestamp_us) index for pushed-down filters;
  *  - the sensors catalog is a small parquet table deduped on uuid at
  *    publish time (latest metadata wins), always broadcastable.
  *
  * Ingest has one commit, [[publish]]: every import edge normalizes its
  * payload into a [[graft.model.IngestBatch]] and publishes it, catalog
  * first and samples after, so no sample is ever readable before its
  * series' catalog row (reference: src/storage/mod.rs:22).
  *
  * Reads declare their schema ([[Schemas.sensors]], [[Schemas.samples]]
  * plus the `month` partition column) instead of inferring it from a file
  * footer: building a read starts no Spark job, and a racing compaction
  * cannot delete the file a read was inferring from.
  */
final class SensorStore(
    spark: SparkSession, root: String,
    catalogCompactThreshold: Int = 16,
    format: String = "parquet") {

  // The reference's pluggable storage trait (7 SQL backends) maps onto
  // Spark's datasource abstraction: every write/read below goes through
  // `format`, so the same store logic serves parquet (default) or ORC —
  // both columnar with min/max stats serving the sorted
  // (sensor_id, timestamp_us) layout, both month-partition pruned.
  require(format == "parquet" || format == "orc",
    s"unsupported store format: $format")
  // UTC is a correctness REQUIREMENT, not a convention: the write-side
  // partition value (date_format renders in the session time zone) and
  // the read-side prune bound (monthOf / MonthPruneRule.monthOf — fixed
  // UTC calendar math) must agree, or rows near month boundaries would
  // be silently pruned away. GraftSession.tune sets UTC; any foreign
  // session must too, and failing fast here beats losing rows.
  require({
    val tz = spark.conf.get("spark.sql.session.timeZone")
    java.time.ZoneId.of(tz).normalized() == java.time.ZoneOffset.UTC
  }, "SensorStore requires spark.sql.session.timeZone=UTC: the month " +
    "partition value is rendered in the session time zone but pruned " +
    "with UTC calendar math")
  private val suffix = s".$format"

  private def readDir(schema: StructType, paths: String*): DataFrame =
    spark.read.schema(schema).format(format).load(paths: _*)

  /** A value table read: the sample layout plus its `month` partition. */
  private def valueSchema(t: SensorType): StructType =
    Schemas.samples(t).add("month", IntegerType)

  /** Catalog reads tolerate vanished files: a compaction running in
    * another thread deletes replaced publish files AFTER adding the
    * compacted superset, so a reader that listed before the delete can
    * fault at scan time on a file whose rows it already has via the
    * compacted file. `ignoreMissingFiles` (per-read option) makes that
    * mid-state read silently correct — ONLY valid under the catalog's
    * dedup-on-read contract; value-table reads stay loud-and-retry
    * (see [[compactPartition]]).
    */
  private def readCatalog(paths: String*): DataFrame =
    spark.read.option("ignoreMissingFiles", "true")
      .schema(Schemas.sensors).format(format).load(paths: _*)

  private def valueDir(t: SensorType) = s"$root/values_${t.displayName.toLowerCase}"
  private val catalogDir = s"$root/sensors"

  /** The ingest commit: merge the batch's catalog rows, then append its
    * samples of every type ([[publishSamplesMulti]]). The order is the
    * contract — a reader never sees a sample whose series has no catalog
    * row. `commitKey` makes the sample append idempotent (see
    * [[publishSamples]]); the catalog needs none, its anti-join absorbs
    * replays. An empty batch commits nothing. Releases the batch's cache.
    */
  def publish(batch: IngestBatch, commitKey: Option[String] = None): Unit =
    try if (batch.samples.nonEmpty) {
      publishSensors(batch.sensors)
      publishSamplesMulti(batch.samples, commitKey)
    } finally batch.release()

  /** Append samples of one type. `samples`: (sensor_id, timestamp_us,
    * value), written in the canonical layout of [[Schemas.samples]].
    * Concurrent-appender safe: the write lands in a private staging dir
    * and the committed files rename in (see [[stagedAppend]]).
    */
  def publishSamples(t: SensorType, samples: DataFrame): Unit =
    publishSamples(t, samples, commitKey = None)

  /** [[publishSamples]] with an optional idempotency key, for
    * at-least-once sinks (Structured Streaming `foreachBatch` replays a
    * micro-batch whose commit-log write raced a crash): the staged
    * files take DETERMINISTIC names derived from `commitKey`, and a
    * replay's rename onto an existing target is treated as
    * already-published and skipped — so the same (checkpoint, batchId)
    * lands exactly once even across driver restarts. Requires the
    * caller's batch content to be replay-deterministic, which Spark's
    * file sources guarantee (same offsets → same rows) and this write
    * path preserves (hash repartition + sort are deterministic for a
    * fixed shuffle-partition count).
    */
  def publishSamples(
      t: SensorType, samples: DataFrame,
      commitKey: Option[String]): Unit =
    stagedAppend(valueDir(t), commitKey) { staging =>
      // non-finite f64 samples are silently skipped at the publish edge
      // (reference: src/storage/sqlite/sqlite_publishers.rs:60-67) —
      // inference already rejects them at the CSV edge, but remote-write
      // and Influx payloads can carry NaN/Inf straight to the store.
      // NULL float values are dropped by the same predicate (isnan(null)
      // is null, which filter rejects) — DELIBERATELY: a float sample
      // with no value is as meaningless as NaN, and the float serving
      // edges (Arrow export, remote read, PromQL math) extract primitive
      // doubles that have no null representation. Other types keep their
      // nulls untouched, as the reference does.
      val canonical = samples.select(col("sensor_id"),
        col("timestamp_us").cast(LongType), col("value").cast(t.sparkType))
      val finite =
        if (t == SensorType.Float)
          canonical.filter(!isnan(col("value")) &&
            abs(col("value")) =!= lit(Double.PositiveInfinity))
        else canonical
      finite
        .withColumn("month",
          date_format(timestamp_micros(col("timestamp_us")), "yyyyMM"))
        .repartition(col("month"), col("sensor_id"))
        .sortWithinPartitions("sensor_id", "timestamp_us")
        .write
        .mode(SaveMode.Overwrite)
        .partitionBy("month")
        .format(format)
        .save(staging)
    }

  /** Append a frame's committed data files into `dir` via a PRIVATE
    * staging directory + per-file renames. A plain `mode(Append)` write
    * is not concurrent-appender safe: Hadoop's FileOutputCommitter
    * stages every racing job under the SAME `_temporary/0` path, so one
    * writer's commit/cleanup deletes another's in-flight task files
    * (observed as FileNotFoundException under the gateway's concurrent
    * handlers). Here each publish writes to its own `.publish.<stamp>
    * .tmp` sibling, then renames data files in beside the existing ones
    * (partition subdirs preserved, collision-proof names) — readers see
    * only fully-written files, racing publishes never share staging
    * state, and a failed rename withdraws cleanly. A crashed publish
    * can leave a `.tmp` sibling behind; it is invisible to readers and
    * safe to delete.
    */
  private def stagedAppend(
      dir: String, dedupKey: Option[String] = None)(
      writeTo: String => Unit): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    // dedupKey (streaming replays) fixes the COMMITTED names; the
    // staging dir still gets a fresh stamp per attempt (concurrent
    // replays must never share staging), carried in a trailing
    // millis-uuid segment the janitor's regex reads for its horizon.
    val attempt = s"${System.currentTimeMillis()}-" +
      java.util.UUID.randomUUID().toString.take(8)
    val stamp = dedupKey
      .map(k => "c" + k.replaceAll("[^0-9a-zA-Z]", "_"))
      .getOrElse(attempt)
    val tmp = new org.apache.hadoop.fs.Path(
      if (dedupKey.isDefined) s"$dir.publish.$stamp.$attempt.tmp"
      else s"$dir.publish.$stamp.tmp")
    writeTo(tmp.toString)
    val base = new org.apache.hadoop.fs.Path(dir)
    // the table dir is created ONLY when a data file actually moves in
    // (walk's per-file mkdirs): an all-filtered batch (e.g. nothing but
    // NaN staleness markers) must not leave an empty dir behind —
    // format readers throw 'Unable to infer schema' on an existing-but-
    // empty dir, while a missing dir reads as the canonical empty frame
    val moved = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.hadoop.fs.Path]
    // file indices count WALK POSITION (sorted listing), not move count:
    // with a dedupKey, a replay after a partial crash must assign each
    // staged file the same target name its twin had on the first
    // attempt, even when earlier files skip as already-published
    var idx = 0
    def walk(p: org.apache.hadoop.fs.Path, rel: String): Boolean =
      fs.listStatus(p).sortBy(_.getPath.getName).forall { st =>
        val name = st.getPath.getName
        if (st.isDirectory) {
          if (name.startsWith("_") || name.startsWith(".")) true
          else walk(st.getPath, if (rel.isEmpty) name else s"$rel/$name")
        } else if (name.endsWith(suffix)) {
          val targetDir =
            if (rel.isEmpty) base
            else new org.apache.hadoop.fs.Path(base, rel)
          fs.mkdirs(targetDir)
          val target = new org.apache.hadoop.fs.Path(
            targetDir, s"publish-$stamp-$idx$suffix")
          idx += 1
          if (dedupKey.isDefined && fs.exists(target)) true
          else {
            val ok = fs.rename(st.getPath, target)
            if (ok) moved += target
            // keyed publishes race their own replay twin: a rename that
            // lost because the twin just created the SAME deterministic
            // target is already-published, not a failure — treating it
            // as one would route into the withdrawal path and delete
            // files the winning walker skipped as published
            ok || (dedupKey.isDefined && fs.exists(target))
          }
        } else true
      }
    try {
      // a THROWN rename (not just a false return) must also withdraw
      // the partial move-in — otherwise a publisher retry after a
      // transient FS exception would double the already-moved rows.
      // KEYED publishes never withdraw: their committed names are
      // deterministic, so a retry/replay fills exactly the missing
      // files (existing targets skip) — while a withdrawal could
      // delete files a concurrently-winning twin already counts as
      // published, vanishing rows until a retry that may never come.
      def withdraw(): Unit =
        if (dedupKey.isEmpty) moved.foreach(deleteDataFile(fs, _))
      val ok =
        try walk(tmp, "")
        catch { case e: Throwable =>
          withdraw()
          throw e
        }
      if (!ok) {
        withdraw()
        throw new java.io.IOException(
          s"staged append could not move committed files into $dir")
      }
      if (moved.nonEmpty) refreshViews()
    } finally fs.delete(tmp, true)
  }

  /** Publish several typed batches CONCURRENTLY — each type writes to
    * its own table directory, so the jobs are independent and Spark
    * schedules them onto the shared executors in parallel (wall time ≈
    * the largest batch, not the sum). This is the multi-type ingest
    * shape: a mixed batch (reference: one `publish` transaction across
    * per-type tables) lands in one call. `commitKey` keys every type's
    * append (see [[publishSamples]]); the tables are distinct, so one key
    * serves them all. A single batch runs on the calling thread; the
    * others carry the caller's scheduler pool.
    */
  def publishSamplesMulti(
      batches: Map[SensorType, DataFrame],
      commitKey: Option[String] = None): Unit =
    batches.toSeq match {
      case Seq((t, df)) => publishSamples(t, df, commitKey)
      case all =>
        import scala.concurrent.{Await, ExecutionContext, Future}
        import scala.concurrent.duration.Duration
        implicit val ec: ExecutionContext = ExecutionContext.global
        val sc = spark.sparkContext
        val pool = sc.getLocalProperty("spark.scheduler.pool")
        Await.result(
          Future.sequence(all.map { case (t, df) =>
            Future {
              sc.setLocalProperty("spark.scheduler.pool", pool)
              publishSamples(t, df, commitKey)
            }
          }), Duration.Inf)
        ()
    }

  /** Merge sensors into the catalog: dedup on uuid, existing row wins
    * (metadata is immutable given content-addressed uuids). Steady state
    * is the fast path: content-addressed uuids mean almost every publish
    * re-announces known sensors, so when the anti-join finds nothing new
    * the catalog is left untouched — no write per micro-batch.
    *
    * Novel rows APPEND as new parquet files — publish cost is O(new
    * sensors), never an O(catalog) rewrite, and since committed files
    * land by atomic rename and the existing files are never touched, a
    * reader racing a publish sees either the complete old catalog or
    * old + new — never an empty or partial one. The concurrent-writer
    * race (two publishes appending the same novel uuid) is absorbed by
    * [[sensors]]' dedup-on-read; duplicate rows are bit-identical
    * because the uuids are content-addressed.
    */
  def publishSensors(sensors: DataFrame): Unit = {
    val incoming = sensors.dropDuplicates("uuid")
    if (!exists(catalogDir)) {
      stagedAppend(catalogDir)(p =>
        incoming.write.mode(SaveMode.Overwrite).format(format).save(p))
      return
    }
    val existing = readCatalog(catalogDir)
    // one catalog-read job per publish: the anti-join materializes ONCE
    // as an eager local checkpoint; the emptiness probe and the write
    // both run off its blocks (previously each ran the catalog scan)
    val novel = incoming
      .join(existing.select("uuid"), Seq("uuid"), "left_anti")
      .localCheckpoint(true)
    try {
      if (novel.isEmpty) return
      stagedAppend(catalogDir)(p =>
        novel.write.mode(SaveMode.Overwrite).format(format).save(p))
      // bound the publish-file accumulation: each novel-sensor publish
      // appends a file forever unless compacted — fold them back into
      // one once the count crosses the threshold (read-safe at every
      // step under dedup-on-read, see compactCatalog)
      if (dataFiles(catalogDir).length > catalogCompactThreshold)
        compactCatalog()
    } finally graft.pipeline.PipelineCache.free(novel)
  }

  /** Delete a committed data file, removing its checksum sidecar FIRST
    * on checksummed filesystems (the local FS keeps a `.name.crc`
    * beside every file). Ordering matters for racing readers: a scan
    * that already opened the data file must never lose its `.crc`
    * mid-read — Hadoop tolerates a checksum file that was ALREADY
    * missing at open (verification is skipped) but a `.crc` vanishing
    * between the data-file open and the checksum open surfaces as the
    * `FAILED_READ_FILE.NO_HINT` fault class. Deleting the sidecar
    * before its data file shrinks that window to nothing: once the
    * data file is gone the reader gets the plain vanished-file fault
    * the retry contract ([[ReadFaults]]) classifies.
    */
  private def deleteDataFile(
      fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Unit = {
    fs match {
      case cfs: org.apache.hadoop.fs.ChecksumFileSystem =>
        try cfs.getRawFileSystem.delete(cfs.getChecksumFile(p), false)
        catch { case _: java.io.IOException => () } // best-effort
      case _ => ()
    }
    fs.delete(p, false)
    ()
  }

  private def dataFiles(
      dir: String): Array[org.apache.hadoop.fs.Path] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(dir)
    if (!fs.exists(p)) Array.empty
    else fs.listStatus(p)
      .filter(f => f.isFile && f.getPath.getName.endsWith(suffix))
      .map(_.getPath)
  }

  /** The catalog, deduped on uuid at read time — the invariant that makes
    * every publish/compaction intermediate state (old files, old + new,
    * new only) read correctly. Always broadcastable by design, so the
    * dedup aggregation is a footnote in any plan that joins it.
    */
  def sensors: DataFrame =
    if (exists(catalogDir))
      readCatalog(catalogDir).dropDuplicates("uuid")
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], Schemas.sensors)

  /** Compact the catalog's accumulated publish files into one. Ordered so
    * a concurrent reader is correct at every step under dedup-on-read:
    * the compacted file is ADDED first (readers see old, or old + new =
    * duplicates that dedup away), the replaced files are deleted after
    * (readers see new + a suffix of old — still complete). Never a
    * window with missing rows or an empty directory.
    *
    * Failure safety: every rename's result is CHECKED — if moving a
    * compacted file in fails, the already-moved ones are withdrawn
    * (duplicates under dedup, safe to remove) and the old files are left
    * untouched, so a failed compaction never loses catalog data. The tmp
    * dir and the compacted names carry a UUID, so racing compactions
    * never collide on paths; each deletes ONLY the files it listed at
    * start, and every row it read lives in its own compacted output —
    * so a row always survives in at least one live file (a compactor
    * that lists mid-race reads the other's output via
    * [[readCatalog]]'s vanished-file tolerance, and duplicates dedup
    * away on read).
    *
    * Remaining reader caveat (single-process stores won't see it): Spark
    * lists files eagerly but reads them lazily, so a reader that listed
    * before the old-file delete can still fault on a vanished file at
    * scan time; such readers should set
    * `spark.sql.files.ignoreMissingFiles` (safe here — the compacted
    * file is a superset under dedup-on-read).
    */
  def compactCatalog(): Unit = {
    if (!exists(catalogDir)) return
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val dir = new org.apache.hadoop.fs.Path(catalogDir)
    val old = dataFiles(catalogDir)
    if (old.length <= 1) return
    val stamp = s"${System.currentTimeMillis()}-" +
      java.util.UUID.randomUUID().toString.take(8)
    val tmp = new org.apache.hadoop.fs.Path(s"$catalogDir.compact.$stamp.tmp")
    val moved = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.hadoop.fs.Path]
    try {
      // EXPLICIT-path loads are not covered by ignoreMissingFiles (the
      // option tolerates files vanishing between listing and scan, not
      // missing paths at load time), so a racing compactor's delete
      // between our dataFiles() and this read throws — and any thrown
      // rename must withdraw the partial move-in. Both cases land in
      // the catch: compaction is OPPORTUNISTIC maintenance, the
      // triggering append already succeeded, old files are intact, and
      // withdrawn duplicates were safe under dedup-on-read — so skip
      // this round instead of failing the publish.
      val compacted = readCatalog(old.map(_.toString): _*)
        .dropDuplicates("uuid").coalesce(1)
      compacted.write.mode(SaveMode.Overwrite).format(format)
        .save(tmp.toString)
      val ok = fs.listStatus(tmp)
        .filter(f => f.isFile && f.getPath.getName.endsWith(suffix))
        .zipWithIndex.forall { case (f, i) =>
          val target = new org.apache.hadoop.fs.Path(
            dir, s"compact-$stamp-$i$suffix")
          val renamed = fs.rename(f.getPath, target)
          if (renamed) moved += target
          renamed
        }
      if (!ok) {
        // abort: withdraw the partial move-in, keep old files intact
        moved.foreach(deleteDataFile(fs, _))
        return
      }
      old.foreach(deleteDataFile(fs, _))
      refreshViews()
    } catch {
      case scala.util.control.NonFatal(e) =>
        moved.foreach(deleteDataFile(fs, _))
        System.err.println(
          s"[store] catalog compaction skipped (racing writer?): $e")
    } finally fs.delete(tmp, true)
  }

  /** Typed sample scan in the canonical 3-column layout. Timestamp
    * predicates applied by callers reach the parquet row-group stats but
    * CANNOT prune `month=` directories (the partition column is dropped
    * here); time-bounded reads should go through [[samplesInRange]].
    */
  def samples(t: SensorType): DataFrame =
    if (exists(valueDir(t)))
      readDir(valueSchema(t), valueDir(t)).drop("month")
    else {
      val schema = Schemas.samples(t)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }

  /** Canonical-layout scan restricted to `[startUs, endUs]`: derives the
    * `month` partition predicate from the time bounds so Catalyst prunes
    * `month=` directories before any IO — the ClickHouse monthly-partition
    * index analog this layout exists for — then applies the row-level
    * timestamp filters (which parquet min/max stats serve within the
    * surviving partitions).
    */
  def samplesInRange(
      t: SensorType,
      startUs: Option[Long],
      endUs: Option[Long]): DataFrame =
    if (!exists(valueDir(t))) samples(t)
    else {
      var df = readDir(valueSchema(t), valueDir(t))
      startUs.foreach(s => df = df
        .filter(col("month") >= monthOf(s) && col("timestamp_us") >= s))
      endUs.foreach(e => df = df
        .filter(col("month") <= monthOf(e) && col("timestamp_us") <= e))
      df.drop("month")
    }

  /** Register the store as Spark SQL temp views — `<prefix>_sensors` and
    * `<prefix>_values_<type>` per value type (empty types get their
    * canonical empty frame) — so the whole store is queryable with plain
    * `spark.sql`. Views are lazy plans over the parquet layout: filters
    * written in SQL get the same pushdown/pruning as the DataFrame API.
    *
    * Freshness: a temp view captures its file listing at registration
    * (Spark resolves the relation eagerly), so THIS store re-registers
    * every registered prefix after each of its own mutations (publish,
    * catalog compaction, vacuum) — views stay live across publishes and
    * never fault on vacuumed-away files. Mutations by a DIFFERENT
    * process are outside that guarantee: re-run registerViews to pick
    * them up.
    */
  def registerViews(prefix: String = "graft"): Unit = {
    registeredPrefixes.add(prefix)
    sensors.createOrReplaceTempView(s"${prefix}_sensors")
    SensorType.all.foreach { t =>
      samples(t).createOrReplaceTempView(
        s"${prefix}_values_${t.displayName.toLowerCase}")
    }
  }

  private val registeredPrefixes =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Re-resolve all registered view prefixes after a store mutation —
    * rebuilding each view's file index so it sees the new layout.
    */
  private def refreshViews(): Unit =
    registeredPrefixes.forEach(p => registerViews(p))

  /** yyyyMM (UTC) of a µs epoch as an int — partition directory values
    * are type-inferred integers on read. Shared with the Catalyst prune
    * rule: the two MUST stay bit-identical (the rule's correctness
    * argument is "same function as the writer"), so there is exactly
    * one definition.
    */
  private def monthOf(us: Long): Int =
    graft.plans.MonthPruneRule.monthOf(us)

  /** Vacuum (S14): compact month partitions of a value table to
    * size-targeted files, keeping the (sensor_id, timestamp_us) sort
    * (reference: src/storage/sqlite/storage.rs:79-86 — SQLite VACUUM /
    * ClickHouse OPTIMIZE TABLE analog).
    *
    * Incremental and partition-local: only month partitions holding more
    * than `maxFilesPerPartition` files are rewritten, one partition at a
    * time — at 100 TB a full-table rewrite is not an option, and appends
    * land in the current month so old months stay compacted forever.
    */
  def vacuum(
      t: SensorType,
      targetPartitions: Int = 1,
      maxFilesPerPartition: Int = 1,
      stagingHorizonMs: Long = SensorStore.DefaultStagingHorizonMs): Unit = {
    // Vacuums of one store MUST NOT overlap: value tables have no
    // dedup-on-read, so two compactors that both list the same month's
    // files and both rename their compacted outputs in would leave BOTH
    // supersets live — every row permanently doubled (the catalog
    // survives this exact race only because it dedups on read). The
    // lock serializes in-process vacuums — the Gateway's concurrent
    // /admin/vacuum handlers being the real exposure; a multi-process
    // deployment must serialize vacuums externally (they are scheduled
    // maintenance, not a hot path).
    vacuumLock.lock()
    try {
      if (!exists(valueDir(t))) return
      val dir = valueDir(t)
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      sweepStaleStaging(fs, new org.apache.hadoop.fs.Path(dir),
        stagingHorizonMs)
      val monthDirs = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("month="))
      monthDirs.foreach { m =>
        val files = fs.listStatus(m.getPath)
          .filter(f => f.isFile && f.getPath.getName.endsWith(suffix))
        if (files.length > maxFilesPerPartition)
          compactPartition(fs, t, m.getPath, targetPartitions)
      }
      refreshViews()
    } finally vacuumLock.unlock()
  }

  private val vacuumLock = new java.util.concurrent.locks.ReentrantLock()

  /** Janitor for crashed publish/compaction staging: a writer that dies
    * between staging and rename-in leaves a `*.publish.<stamp>.tmp`
    * sibling of the table dir (or a `.*.compact.<stamp>.tmp` sibling of
    * the month dirs) — invisible to readers, but accumulating forever.
    * Only staging whose NAME-EMBEDDED stamp is older than the horizon is
    * swept, so an in-flight writer is never raced: the horizon bounds
    * publish duration, not clock skew (stamps and the sweep clock come
    * from whichever node runs them, so keep the horizon generous).
    */
  private def sweepStaleStaging(
      fs: org.apache.hadoop.fs.FileSystem,
      tableDir: org.apache.hadoop.fs.Path,
      horizonMs: Long): Unit = {
    val now = System.currentTimeMillis()
    // matches both staging shapes: random publishes/compactions
    // (.publish.<millis>-<hex8>.tmp) and keyed streaming replays
    // (.publish.c<key>.<millis>-<hex8>.tmp) — the horizon always reads
    // the trailing millis
    val stampRe =
      """\.(?:publish|compact)\.(?:c[0-9a-zA-Z_]+\.)?([0-9]+)-[0-9a-f]{8}\.tmp$""".r
    def sweep(p: org.apache.hadoop.fs.Path): Unit =
      if (fs.exists(p)) fs.listStatus(p).foreach { st =>
        if (st.isDirectory)
          stampRe.findFirstMatchIn(st.getPath.getName).foreach { m =>
            if (now - m.group(1).toLong > horizonMs)
              fs.delete(st.getPath, true)
          }
      }
    sweep(tableDir.getParent) // <table>.publish.<stamp>.tmp siblings
    sweep(tableDir)           // .month=X.compact.<stamp>.tmp leftovers
  }

  /** Rewrite one `month=` partition directory to `targetPartitions`
    * sorted files — same move-in-beside-then-delete standard as
    * [[compactCatalog]], so the month directory NEVER disappears
    * mid-compaction (the previous delete-then-rename left a window where
    * a racing reader saw a missing month).
    *
    * Mid-state visibility contract: a reader listing during the swap
    * sees old files, old + compacted (every row doubled), or compacted +
    * a suffix of old — always a SUPERSET of the true rows, never a
    * missing or empty month. Readers needing exact counts while a
    * vacuum runs should read through the exact-dedup operator (S15,
    * `SensorOps.dedup`), which makes every mid-state exact — the
    * same dedup-on-read contract the catalog relies on. Rename results
    * are checked; on failure the partial move-in is withdrawn and the
    * old files stay, so a failed vacuum never loses samples.
    *
    * A reader that LISTED before the final delete but scans after will
    * fault on the vanished file — for value tables that fault must stay
    * LOUD (retry the read): unlike the catalog, these scans have no
    * dedup-on-read, so `spark.sql.files.ignoreMissingFiles` would
    * silently drop the listed-but-deleted files and show an EMPTY month
    * instead. A retried read re-lists and sees the compacted files.
    */
  private def compactPartition(
      fs: org.apache.hadoop.fs.FileSystem,
      t: SensorType,
      partDir: org.apache.hadoop.fs.Path,
      targetPartitions: Int): Unit = {
    val stamp = s"${System.currentTimeMillis()}-" +
      java.util.UUID.randomUUID().toString.take(8)
    val tmp = new org.apache.hadoop.fs.Path(
      partDir.getParent, s".${partDir.getName}.compact.$stamp.tmp")
    val old = fs.listStatus(partDir)
      .filter(f => f.isFile && f.getPath.getName.endsWith(suffix))
      .map(_.getPath)
    if (old.isEmpty) return
    // Scan EXACTLY the listed files (as compactCatalog does): scanning
    // the live directory lazily would fold a publish that lands between
    // this listing and the write action into the compacted output while
    // its own file — absent from `old` — survives the delete, leaving
    // every one of its rows permanently doubled in a table with no
    // dedup-on-read.
    readDir(Schemas.samples(t), old.map(_.toString): _*)
      .repartition(targetPartitions)
      .sortWithinPartitions("sensor_id", "timestamp_us")
      .write.mode(SaveMode.Overwrite).format(format).save(tmp.toString)
    try {
      val moved = scala.collection.mutable.ArrayBuffer
        .empty[org.apache.hadoop.fs.Path]
      // a THROWN rename must withdraw like a false one: leaving the
      // already-moved compacted files beside the old ones would double
      // their rows in a table with no dedup-on-read
      val ok =
        try fs.listStatus(tmp)
          .filter(f => f.isFile && f.getPath.getName.endsWith(suffix))
          .zipWithIndex.forall { case (f, i) =>
            val target = new org.apache.hadoop.fs.Path(
              partDir, s"compact-$stamp-$i$suffix")
            val renamed = fs.rename(f.getPath, target)
            if (renamed) moved += target
            renamed
          }
        catch { case e: Throwable =>
          moved.foreach(deleteDataFile(fs, _))
          throw e
        }
      if (!ok) {
        moved.foreach(deleteDataFile(fs, _))
        return
      }
      old.foreach(deleteDataFile(fs, _))
    } finally fs.delete(tmp, true)
  }

  /** Cheap store liveness probe for the gateway's readiness endpoint
    * (reference: src/ingestors/http/health.rs:53-72 runs
    * `storage.health_check()` and gates /health/ready on it). Checks
    * the SparkSession is live and the store root is a reachable
    * directory (and its catalog dir listable when present) — pure
    * metadata ops, no Spark job. Throws with a descriptive message on
    * failure; the gateway maps that to 503 + the reference's JSON
    * shape.
    */
  def healthCheck(): Unit = {
    if (spark.sparkContext.isStopped)
      throw new IllegalStateException("SparkContext is stopped")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(root)
    if (!fs.exists(p))
      throw new java.io.FileNotFoundException(
        s"store root does not exist: $root")
    if (!fs.getFileStatus(p).isDirectory)
      throw new java.io.IOException(s"store root is not a directory: $root")
    val cat = new org.apache.hadoop.fs.Path(catalogDir)
    if (fs.exists(cat)) { fs.listStatus(cat); () }
  }

  private def exists(path: String): Boolean = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs.exists(new org.apache.hadoop.fs.Path(path))
  }
}

object SensorStore {
  /** Staging older than this is assumed crashed, not in-flight — far
    * beyond any realistic publish/compaction duration.
    */
  val DefaultStagingHorizonMs: Long = 24L * 3600 * 1000
}
