package graft

import graft.model.SensorType
import graft.store.SensorStore
import graft.streaming.StreamingIngest
import org.apache.spark.sql.functions._

class StoreSpec extends SparkSpec {
  import spark.implicits._

  private def tempDir(): String =
    graft.TempDirs.createPath("graft_store_spec")

  private lazy val sampleData = Seq(
    ("s1", 1704067200000000L, 1.0), // 2024-01
    ("s1", 1706745600000000L, 2.0), // 2024-02
    ("s2", 1704067200000000L, 3.0))
    .toDF("sensor_id", "timestamp_us", "value")

  test("publish + read roundtrip with month partitioning") {
    val store = new SensorStore(spark, tempDir())
    store.publishSamples(SensorType.Float, sampleData)
    val back = store.samples(SensorType.Float)
    assert(back.count() == 3)
    assert(back.columns.toSet == Set("sensor_id", "timestamp_us", "value"))
    // month partition pruning: a January-only filter reads 1 partition
    val pruned = back
      .filter(col("timestamp_us") < 1705000000000000L)
    assert(pruned.count() == 2)
  }

  test("non-finite float samples are skipped at the publish edge") {
    // reference sqlite_publishers.rs:60-67: NaN/Inf silently dropped on
    // insert; other types are untouched
    val store = new SensorStore(spark, tempDir())
    val dirty = Seq(
      ("s1", 1704067200000000L, 1.5),
      ("s1", 1704067201000000L, Double.NaN),
      ("s1", 1704067202000000L, Double.PositiveInfinity),
      ("s1", 1704067203000000L, Double.NegativeInfinity),
      ("s1", 1704067204000000L, -2.5))
      .toDF("sensor_id", "timestamp_us", "value")
    store.publishSamples(SensorType.Float, dirty)
    val kept = store.samples(SensorType.Float)
      .collect().map(_.getAs[Double]("value")).sorted
    assert(kept.toSeq == Seq(-2.5, 1.5))
    // integers (and other non-float types) pass through untouched
    val ints = Seq(("s1", 1704067200000000L, Long.MaxValue))
      .toDF("sensor_id", "timestamp_us", "value")
    store.publishSamples(SensorType.Integer, ints)
    assert(store.samples(SensorType.Integer).count() == 1)
  }

  test("vacuum sweeps crashed-publish staging dirs past the horizon") {
    val root = tempDir()
    val store = new SensorStore(spark, root)
    store.publishSamples(SensorType.Float, sampleData)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def mk(name: String): org.apache.hadoop.fs.Path = {
      val p = new org.apache.hadoop.fs.Path(s"$root/$name")
      fs.mkdirs(p); p
    }
    val oldStamp = System.currentTimeMillis() - 2 * 3600 * 1000L
    val newStamp = System.currentTimeMillis()
    val crashedPublish = mk(s"values_float.publish.$oldStamp-deadbeef.tmp")
    val crashedCompact = mk(
      s"values_float/.month=202401.compact.$oldStamp-deadbeef.tmp")
    val inFlight = mk(s"values_float.publish.$newStamp-cafebabe.tmp")
    // unrelated dirs (no staging stamp shape) must never be touched
    val unrelated = mk("values_float.backup")
    store.vacuum(SensorType.Float, stagingHorizonMs = 3600 * 1000L)
    assert(!fs.exists(crashedPublish), "stale publish staging not swept")
    assert(!fs.exists(crashedCompact), "stale compact staging not swept")
    assert(fs.exists(inFlight), "in-flight staging must survive the sweep")
    assert(fs.exists(unrelated), "non-staging dirs must survive the sweep")
    assert(store.samples(SensorType.Float).count() == 3)
  }

  test("a publish whose batch filters to zero rows leaves NO empty " +
    "table dir — reads stay on the canonical empty frame") {
    import spark.implicits._
    val root = tempDir()
    val store = new SensorStore(spark, root)
    // nothing but staleness markers / infinities: everything filters out
    val allDropped = Seq(
      ("s1", 1704067200000000L, Double.NaN),
      ("s1", 1704067201000000L, Double.PositiveInfinity))
      .toDF("sensor_id", "timestamp_us", "value")
    store.publishSamples(SensorType.Float, allDropped)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/values_float")),
      "empty publish must not create the table dir (readers would " +
        "throw 'Unable to infer schema' on an existing-but-empty dir)")
    // every read path serves the canonical empty frame, not an exception
    assert(store.samples(SensorType.Float).count() == 0)
    assert(store.samplesInRange(SensorType.Float, Some(0L), None).count() == 0)
    // and a later real publish proceeds normally
    store.publishSamples(SensorType.Float, sampleData)
    assert(store.samples(SensorType.Float).count() == 3)
  }

  test("concurrent vacuums never duplicate rows (serialized per store)") {
    import spark.implicits._
    val store = new SensorStore(spark, tempDir())
    // many files in one month so both vacuums would have work to do
    (1 to 6).foreach { i =>
      store.publishSamples(SensorType.Float,
        Seq(("s1", 1704067200000000L + i, i.toDouble))
          .toDF("sensor_id", "timestamp_us", "value"))
    }
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    // two racing admin vacuums — without mutual exclusion both would
    // list the same 6 files, both rename their compacted supersets in,
    // and every row would double permanently (no dedup-on-read here)
    Await.result(Future.sequence(Seq(
      Future(store.vacuum(SensorType.Float)),
      Future(store.vacuum(SensorType.Float)))), Duration.Inf)
    assert(store.samples(SensorType.Float).count() == 6,
      "concurrent vacuums duplicated rows")
  }

  test("registered views stay live across publish and vacuum") {
    import spark.implicits._
    val store = new SensorStore(spark, tempDir())
    store.publishSamples(SensorType.Float, sampleData)
    store.registerViews("vtest")
    assert(spark.sql("SELECT count(*) FROM vtest_values_float")
      .head().getLong(0) == 3)
    // a later publish must be visible through the already-registered view
    store.publishSamples(SensorType.Float,
      Seq(("s3", 1704067200000000L, 9.0))
        .toDF("sensor_id", "timestamp_us", "value"))
    assert(spark.sql("SELECT count(*) FROM vtest_values_float")
      .head().getLong(0) == 4)
    // and a vacuum must not leave the view faulting on vanished files
    store.vacuum(SensorType.Float)
    assert(spark.sql("SELECT count(*) FROM vtest_values_float")
      .head().getLong(0) == 4)
    spark.catalog.dropTempView("vtest_values_float")
    spark.catalog.dropTempView("vtest_sensors")
    SensorType.all.foreach(t => spark.catalog.dropTempView(
      s"vtest_values_${t.displayName.toLowerCase}"))
  }

  test("SensorStore refuses a non-UTC session (month partition values " +
    "are rendered in session tz but pruned with UTC math)") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.session.timeZone", "America/New_York")
    intercept[IllegalArgumentException] {
      new SensorStore(s2, tempDir())
    }
    // fixed-offset aliases of UTC are accepted
    val s3 = spark.newSession()
    s3.conf.set("spark.sql.session.timeZone", "Etc/UTC")
    new SensorStore(s3, tempDir())
  }

  test("commitKey makes publishSamples idempotent: a foreachBatch " +
    "replay after a crash lands the batch exactly once") {
    import spark.implicits._
    val store = new SensorStore(spark, tempDir())
    val batch = Seq(
      ("s1", 1704067200000000L, 1.0), ("s1", 1706745600000000L, 2.0),
      ("s2", 1704067200000000L, 3.0))
      .toDF("sensor_id", "timestamp_us", "value")
    val key = Some("ckdeadbeef-b7")
    store.publishSamples(SensorType.Float, batch, key)
    // the at-least-once replay: same batch, same (checkpoint, batchId)
    store.publishSamples(SensorType.Float, batch, key)
    assert(store.samples(SensorType.Float).count() == 3,
      "replayed micro-batch duplicated rows")
    // a DIFFERENT batch id appends normally
    store.publishSamples(SensorType.Float, batch, Some("ckdeadbeef-b8"))
    assert(store.samples(SensorType.Float).count() == 6)
    // and keyless publishes are unaffected
    store.publishSamples(SensorType.Float, batch)
    assert(store.samples(SensorType.Float).count() == 9)
  }

  test("remote-write stream skips a poison frame instead of wedging, " +
    "and replays idempotently") {
    import graft.prometheus.PrometheusRemote
    import PrometheusRemote._
    val src = graft.TempDirs.create("rw_poison_src")
    val ckpt = graft.TempDirs.createPath("rw_poison_ckpt")
    // one valid frame (field 1 = timeseries; labels f1, samples f2) …
    val w = new ProtoWriter
    val tw = new ProtoWriter
    val lw = new ProtoWriter
    lw.string(1, "__name__"); lw.string(2, "poison_ok")
    tw.message(1, lw)
    val sw = new ProtoWriter
    sw.double(1, 42.0); sw.int64(2, 1704067200000L)
    tw.message(2, sw)
    w.message(1, tw)
    java.nio.file.Files.write(src.resolve("good.bin"),
      snappyCompressLiteral(w.result()))
    // … and one file that is not even snappy
    java.nio.file.Files.write(src.resolve("bad.bin"),
      "this is not a remote-write frame".getBytes("UTF-8"))
    val store = new SensorStore(spark, tempDir())
    val ss = graft.streaming.StreamingIngest.stateScopedSession(spark, 2)
    val q = graft.streaming.StreamingIngest.remoteWriteStream(
      ss, src.toString, store, ckpt)
    try q.processAllAvailable()
    finally graft.streaming.StreamingIngest.stopAndCleanCheckpoint(q)
    // the valid frame landed; the poison one was skipped, not fatal
    assert(store.samples(SensorType.Float).count() == 1)
    assert(store.samples(SensorType.Float)
      .select("value").head().getDouble(0) == 42.0)
    assert(store.sensors.filter(col("name") === "poison_ok").count() == 1)
  }

  test("multi-type publish lands every batch (concurrent jobs)") {
    import spark.implicits._
    val store = new SensorStore(spark, tempDir())
    val ints = Seq(("s1", 1704067200000000L, 1L), ("s1", 1704067201000000L, 2L))
      .toDF("sensor_id", "timestamp_us", "value")
    val bools = Seq(("s2", 1704067200000000L, true))
      .toDF("sensor_id", "timestamp_us", "value")
    store.publishSamplesMulti(Map(
      SensorType.Integer -> ints, SensorType.Boolean -> bools))
    assert(store.samples(SensorType.Integer).count() == 2)
    assert(store.samples(SensorType.Boolean).count() == 1)
  }

  test("catalog merge dedups on uuid, existing wins") {
    val root = tempDir()
    val store = new SensorStore(spark, root)
    val s1 = Seq(("u1", "temp", "Float")).toDF("uuid", "name", "type")
      .withColumn("unit", lit(null).cast("struct<name:string,description:string>"))
      .withColumn("labels", lit(null).cast("map<string,string>"))
    store.publishSensors(s1)
    // re-announcing known uuids is the steady state: no catalog rewrite
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def catalogFiles(): Set[(String, Long)] =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/sensors"))
        .filter(_.isFile).map(f =>
          (f.getPath.getName, f.getModificationTime)).toSet
    val before = catalogFiles()
    store.publishSensors(s1.withColumn("name", lit("other")))
    assert(catalogFiles() == before, "known-uuid publish must not rewrite")
    val cat = store.sensors.collect()
    assert(cat.length == 1)
    assert(cat.head.getString(1) == "temp") // first publish wins
    // genuinely new uuid still merges
    store.publishSensors(s1.withColumn("uuid", lit("u2")))
    assert(store.sensors.count() == 2)
  }

  test("catalog publish is append-only and never empties the directory") {
    val root = tempDir()
    val store = new SensorStore(spark, root)
    def sensorRow(u: String) =
      Seq((u, s"name_$u", "Float")).toDF("uuid", "name", "type")
        .withColumn("unit", lit(null).cast("struct<name:string,description:string>"))
        .withColumn("labels", lit(null).cast("map<string,string>"))
    store.publishSensors(sensorRow("u1"))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def files(): Set[String] =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/sensors"))
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        .map(_.getPath.getName).toSet
    val initial = files()
    // a novel-sensor publish ADDS files; the old ones are never touched,
    // so a reader mid-publish always has a complete catalog to read
    store.publishSensors(sensorRow("u2"))
    val after = files()
    assert(initial.subsetOf(after), "publish must not rewrite existing files")
    assert(after.size > initial.size, "novel rows append as new files")
    // O(new sensors): the appended files hold ONLY the novel row
    val appended = spark.read.parquet(
      (after -- initial).map(n => s"$root/sensors/$n").toSeq: _*)
    assert(appended.collect().map(_.getString(0)).toSeq == Seq("u2"))
    // dedup-on-read: a racing double-publish of the same novel uuid (or a
    // mid-compaction old+new overlap) reads as one row
    val dup = s"$root/sensors/dup-copy.parquet"
    val src = (after -- initial).head
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new org.apache.hadoop.fs.Path(s"$root/sensors/$src"), fs,
      new org.apache.hadoop.fs.Path(dup), false,
      spark.sparkContext.hadoopConfiguration)
    assert(store.sensors.count() == 2, "duplicate rows must dedup on read")
    // compaction adds before it deletes (any intermediate state is
    // complete under dedup-on-read) and converges to one file
    store.compactCatalog()
    assert(files().size == 1)
    assert(store.sensors.count() == 2)
    assert(store.sensors.collect().map(_.getString(0)).toSet == Set("u1", "u2"))
  }

  test("vacuum compacts while preserving data and sort") {
    val store = new SensorStore(spark, tempDir())
    store.publishSamples(SensorType.Float, sampleData)
    store.publishSamples(SensorType.Float, sampleData) // second append
    assert(store.samples(SensorType.Float).count() == 6)
    store.vacuum(SensorType.Float)
    val after = store.samples(SensorType.Float)
    assert(after.count() == 6)
  }

  test("vacuum is incremental: only multi-file partitions are rewritten") {
    val root = tempDir()
    val store = new SensorStore(spark, root)
    store.publishSamples(SensorType.Float, sampleData)
    store.publishSamples(SensorType.Float, sampleData)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def monthFiles(): Map[String, Seq[(String, Long)]] = {
      val base = new org.apache.hadoop.fs.Path(s"$root/values_float")
      fs.listStatus(base).filter(_.isDirectory).map { d =>
        d.getPath.getName -> fs.listStatus(d.getPath)
          .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
          .map(f => (f.getPath.getName, f.getModificationTime)).toSeq
      }.toMap
    }
    val before = monthFiles()
    assert(before.values.exists(_.size > 1), "setup should double-append")
    store.vacuum(SensorType.Float)
    val after = monthFiles()
    assert(after.values.forall(_.size == 1), s"not compacted: $after")
    assert(store.samples(SensorType.Float).count() == 6)
    // second vacuum is a no-op: single-file partitions keep their files
    store.vacuum(SensorType.Float)
    assert(monthFiles() == after)
  }

  test("a reader racing vacuum never sees a missing or empty month") {
    // REPEATED race (r12 verdict): a single pass of this race went ~11
    // rounds green before surfacing the FAILED_READ_FILE.NO_HINT fault
    // class (NoSuchFileException on a vanished `.crc` sidecar) that the
    // old message-substring retry filter missed. The classification is
    // now the shared cause-chain walk (ReadFaults.isVanishedFile) and
    // the race is run GRAFT_RACE_REPEATS times (default 20) so a
    // probabilistic hole fails the suite instead of hiding.
    val repeats = sys.env.getOrElse("GRAFT_RACE_REPEATS", "20").toInt
    var totalRetried = 0
    (1 to repeats).foreach { round =>
      val root = tempDir()
      val store = new SensorStore(spark, root)
      // several files per month so both months need compaction
      (1 to 4).foreach(_ =>
        store.publishSamples(SensorType.Float, sampleData))
      val trueCount = 12L
      // fixed schema: production readers carry the table schema (as
      // samples()/samplesInRange() effectively do); schema inference
      // would add an unrelated footer-read race to the loop
      val schemaOnRead = spark.read.parquet(s"$root/values_float").schema
      @volatile var vacuumDone = false
      val vacuumThread = new Thread(() => {
        try store.vacuum(SensorType.Float) finally { vacuumDone = true }
      })
      vacuumThread.start()
      // contract under the move-in-beside-then-delete swap: a read
      // either SUCCEEDS seeing both months as a superset of the true
      // rows (old, old+new, or new+suffix-of-old — never a missing or
      // partial month), or fails LOUDLY on a listed-then-deleted file
      // (or its .crc sidecar) and is retried — classification is the
      // PRODUCTION one: ReadFaults.isVanishedFile's cause-chain walk,
      // which covers both the FILE_NOT_EXIST and NO_HINT wrappers.
      // (ignoreMissingFiles would instead silently skip those files
      // and fabricate an empty month — kept OFF for value tables.)
      var successes = 0
      while (!vacuumDone || successes == 0) {
        try {
          val byMonth = spark.read.schema(schemaOnRead)
            .parquet(s"$root/values_float")
            .groupBy("month").count().collect()
            .map(r => r.get(0).toString -> r.getLong(1)).toMap
          assert(byMonth.keySet == Set("202401", "202402"),
            s"month vanished mid-vacuum (round $round): $byMonth")
          assert(byMonth("202401") >= 8 && byMonth("202402") >= 4,
            s"partial month mid-vacuum (round $round): $byMonth")
          successes += 1
        } catch {
          case e: Throwable if graft.store.ReadFaults.isVanishedFile(e) =>
            totalRetried += 1 // transient listed-before-delete fault
        }
      }
      vacuumThread.join()
      assert(successes > 0)
      // terminal state: exact rows, compacted
      assert(store.samples(SensorType.Float).count() == trueCount)
    }
    info(s"$repeats race rounds, $totalRetried retried vanished-file reads")
    // and under exact-dedup READ SEMANTICS (S15) every mid-state is
    // exact: a hand-built old+new overlap dedups to the same distinct
    // rows as the true table (sampleData has 3 distinct rows)
    val store = new SensorStore(spark, tempDir())
    store.publishSamples(SensorType.Float, sampleData)
    val overlap = store.samples(SensorType.Float)
      .union(store.samples(SensorType.Float))
    assert(graft.operators.SensorOps.dedup(overlap).count() ==
      graft.operators.SensorOps.dedup(store.samples(SensorType.Float)).count())
  }

  test("ReadFaults classifies every FAILED_READ_FILE wrapper by cause " +
      "chain, including the NO_HINT .crc-sidecar shape") {
    import graft.store.ReadFaults
    // the EXACT shape that escaped the substring filter in r12: a
    // SparkException whose error class is FAILED_READ_FILE.NO_HINT
    // (message mentions neither 'FileNotFound' nor 'does not exist')
    // with a java.nio NoSuchFileException on a `.crc` sidecar as cause
    val noHint = new org.apache.spark.SparkException(
      "[FAILED_READ_FILE.NO_HINT] Encountered error while reading file " +
        "file:///store/values_float/month=202401/" +
        ".publish-123-abc.parquet.crc. SQLSTATE: KD001",
      new java.nio.file.NoSuchFileException(
        "/store/values_float/month=202401/.publish-123-abc.parquet.crc"))
    assert(ReadFaults.isVanishedFile(noHint))
    // the FILE_NOT_EXIST wrapper: FileNotFoundException in the chain,
    // nested one level deeper (stage failure wrapping)
    val fileNotExist = new org.apache.spark.SparkException(
      "Job aborted due to stage failure",
      new org.apache.spark.SparkException(
        "[FAILED_READ_FILE.FILE_NOT_EXIST] File does not exist",
        new java.io.FileNotFoundException(
          "/store/values_float/month=202401/publish-1-0.parquet")))
    assert(ReadFaults.isVanishedFile(fileNotExist))
    // NOT retryable: plan-time analysis errors, arbitrary runtime
    // faults, nulls in the chain
    assert(!ReadFaults.isVanishedFile(
      new IllegalStateException("schema mismatch")))
    assert(!ReadFaults.isVanishedFile(new org.apache.spark.SparkException(
      "[FAILED_READ_FILE.NO_HINT] parquet footer corrupt",
      new java.io.IOException("corrupt footer"))))
    // cycle-safe: self-caused exceptions terminate
    val selfRef = new RuntimeException("a")
    val loop = new RuntimeException("b", selfRef)
    selfRef.initCause(loop)
    assert(!ReadFaults.isVanishedFile(loop))
    // retry helper: retries vanished-file faults, rethrows others
    var calls = 0
    val got = ReadFaults.retryOnVanishedFiles(maxAttempts = 3,
        backoffMs = 1) {
      calls += 1
      if (calls < 3) throw noHint
      42
    }
    assert(got == 42 && calls == 3)
    intercept[IllegalStateException] {
      ReadFaults.retryOnVanishedFiles(maxAttempts = 3, backoffMs = 1) {
        throw new IllegalStateException("not transient")
      }
    }
    var exhausted = 0
    intercept[org.apache.spark.SparkException] {
      ReadFaults.retryOnVanishedFiles(maxAttempts = 2, backoffMs = 1) {
        exhausted += 1; throw noHint
      }
    }
    assert(exhausted == 2)
  }

  test("a keyed replay fills gaps left by a partially-committed twin " +
      "without withdrawing its files") {
    // ADVICE r12 (SensorStore.scala:194): in a keyed publish a loser's
    // withdrawal deleted files the winning walker already skipped as
    // published. Keyed publishes now never withdraw; deterministic
    // names make a replay fill exactly the missing files. Simulate the
    // partial-commit state directly: publish with a key, delete ONE
    // committed file (as if the twin's withdrawal removed it), replay.
    val root = tempDir()
    val store = new SensorStore(spark, root)
    val key = Some("ckfeedface-b3")
    store.publishSamples(SensorType.Float, sampleData, key)
    assert(store.samples(SensorType.Float).count() == 3)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val base = new org.apache.hadoop.fs.Path(s"$root/values_float")
    val committed = fs.listStatus(base).filter(_.isDirectory).flatMap(d =>
      fs.listStatus(d.getPath).filter(f =>
        f.isFile && f.getPath.getName.endsWith(".parquet")))
    assert(committed.nonEmpty)
    fs.delete(committed.head.getPath, false)
    assert(store.samples(SensorType.Float).count() < 3)
    // replay with the SAME key: existing targets skip, the gap refills
    store.publishSamples(SensorType.Float, sampleData, key)
    assert(store.samples(SensorType.Float).count() == 3)
    // and a further replay is still a no-op (idempotency intact)
    store.publishSamples(SensorType.Float, sampleData, key)
    assert(store.samples(SensorType.Float).count() == 3)
  }

  test("a publish racing vacuum is never duplicated") {
    val root = tempDir()
    val store = new SensorStore(spark, root)
    // seed both months with several files so every vacuum pass rewrites
    (1 to 3).foreach(_ => store.publishSamples(SensorType.Float, sampleData))
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    @volatile var publishing = true
    val batches = 12
    val publisher = new Thread(() => {
      try {
        (0 until batches).foreach { i =>
          // unique (sensor, timestamp) rows landing in both months: a
          // compaction that folds a concurrent publish into its output
          // while deleting only its own listing would double these
          val batch = Seq(
            (s"r$i", 1704067200000000L + i, i.toDouble),
            (s"r$i", 1706745600000000L + i, i.toDouble))
            .toDF("sensor_id", "timestamp_us", "value")
          store.publishSamples(SensorType.Float, batch)
        }
      } catch { case t: Throwable => errs.add(t) }
      finally { publishing = false }
    })
    publisher.start()
    while (publishing) store.vacuum(SensorType.Float)
    publisher.join()
    store.vacuum(SensorType.Float) // converge to compacted terminal state
    assert(errs.isEmpty, s"publisher failed: ${errs.peek()}")
    val all = store.samples(SensorType.Float)
    assert(all.count() == 9 + 2L * batches)
    // every racing-publish row is distinct, so any duplication is
    // compaction folding a racing publish it did not own (the seed rows
    // are deliberately published 3x and excluded)
    val dups = all.filter(col("sensor_id").startsWith("r"))
      .groupBy("sensor_id", "timestamp_us", "value")
      .count().filter(col("count") > 1).collect()
    assert(dups.isEmpty, s"compaction duplicated racing publishes: ${dups.toSeq}")
  }

  test("publishSensors runs one catalog read and leaves no cached blocks") {
    val root = tempDir()
    val store = new SensorStore(spark, root)
    def sensorRow(u: String) =
      Seq((u, s"name_$u", "Float")).toDF("uuid", "name", "type")
        .withColumn("unit", lit(null).cast("struct<name:string,description:string>"))
        .withColumn("labels", lit(null).cast("map<string,string>"))
    store.publishSensors(sensorRow("u1"))
    // the anti-join materializes once as a local checkpoint shared by the
    // emptiness probe and the write; the finally must free its blocks
    // the ArtifactWarehouse serving tier cacheTable()s its (tiny)
    // artifact tables — Spark-managed session state other suites may
    // have populated, NOT publish leakage; the probe targets publish's
    // own checkpoint blocks
    def leaked() = spark.sparkContext.getPersistentRDDs.filterNot {
      case (_, rdd) =>
        String.valueOf(rdd.name).contains("In-memory table graft_wh_")
    }
    store.publishSensors(sensorRow("u2"))           // novel path
    assert(leaked().isEmpty,
      "publish leaked checkpoint blocks (novel path)")
    store.publishSensors(sensorRow("u2"))           // steady-state path
    assert(leaked().isEmpty,
      "publish leaked checkpoint blocks (steady state)")
    assert(store.sensors.count() == 2)
  }

  test("catalog auto-compacts when publish files cross the threshold") {
    val root = tempDir()
    val store = new SensorStore(spark, root, catalogCompactThreshold = 3)
    def sensorRow(u: String) =
      Seq((u, s"name_$u", "Float")).toDF("uuid", "name", "type")
        .withColumn("unit", lit(null).cast("struct<name:string,description:string>"))
        .withColumn("labels", lit(null).cast("map<string,string>"))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def fileCount(): Int =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/sensors"))
        .count(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    (1 to 8).foreach { i =>
      store.publishSensors(sensorRow(s"u$i"))
      assert(fileCount() <= 4,
        s"publish #$i left ${fileCount()} files — auto-compaction missing")
    }
    assert(store.sensors.count() == 8)
    assert(store.sensors.collect().map(_.getString(0)).toSet ==
      (1 to 8).map(i => s"u$i").toSet)
  }

  test("concurrent novel publishes never lose a sensor") {
    val root = tempDir()
    val store = new SensorStore(spark, root, catalogCompactThreshold = 4)
    def sensorRows(us: Seq[String]) =
      us.map(u => (u, s"name_$u", "Float")).toDF("uuid", "name", "type")
        .withColumn("unit", lit(null).cast("struct<name:string,description:string>"))
        .withColumn("labels", lit(null).cast("map<string,string>"))
    // two writers racing: disjoint novel sets PLUS a shared set (the
    // double-publish race the dedup-on-read contract absorbs), with
    // auto-compaction triggering mid-race
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 to 1).map { w =>
      new Thread(() => {
        try {
          (1 to 6).foreach { i =>
            store.publishSensors(sensorRows(Seq(s"w${w}_$i", s"shared_$i")))
          }
        } catch { case t: Throwable => errs.add(t) }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(errs.isEmpty, s"publish failed: ${errs.peek()}")
    val got = store.sensors.collect().map(_.getString(0)).toSet
    val want = (1 to 6).flatMap(i =>
      Seq(s"w0_$i", s"w1_$i", s"shared_$i")).toSet
    assert(got == want, s"missing: ${want -- got}; extra: ${got -- want}")
  }

  test("ORC backend: publish, catalog merge, vacuum, compaction parity") {
    val root = tempDir()
    val store = new SensorStore(spark, root,
      catalogCompactThreshold = 2, format = "orc")
    (1 to 3).foreach(_ => store.publishSamples(SensorType.Float, sampleData))
    assert(store.samples(SensorType.Float).count() == 9)
    // pruned range read works identically over the ORC layout
    assert(store.samplesInRange(SensorType.Float,
      Some(1704067200000000L), Some(1705000000000000L)).count() == 6)
    // catalog merge + auto-compaction
    def sensorRow(u: String) =
      Seq((u, s"name_$u", "Float")).toDF("uuid", "name", "type")
        .withColumn("unit", lit(null).cast("struct<name:string,description:string>"))
        .withColumn("labels", lit(null).cast("map<string,string>"))
    (1 to 5).foreach(i => store.publishSensors(sensorRow(s"u$i")))
    assert(store.sensors.count() == 5)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val catFiles = fs.listStatus(
      new org.apache.hadoop.fs.Path(s"$root/sensors"))
      .filter(f => f.isFile && f.getPath.getName.endsWith(".orc"))
    assert(catFiles.nonEmpty && catFiles.length <= 3,
      s"auto-compaction missing: ${catFiles.length} files")
    // vacuum keeps rows and converges to one file per month
    store.vacuum(SensorType.Float)
    assert(store.samples(SensorType.Float).count() == 9)
    val monthFiles = fs.listStatus(
      new org.apache.hadoop.fs.Path(s"$root/values_float"))
      .filter(_.isDirectory)
      .map(d => fs.listStatus(d.getPath)
        .count(f => f.isFile && f.getPath.getName.endsWith(".orc")))
    assert(monthFiles.nonEmpty && monthFiles.forall(_ == 1))
    // unknown formats are rejected eagerly
    intercept[IllegalArgumentException] {
      new SensorStore(spark, tempDir(), format = "avro")
    }
  }

  test("registerViews exposes the store to spark.sql") {
    val store = new SensorStore(spark, tempDir())
    store.publishSamples(SensorType.Float, sampleData)
    store.publishSensors(Seq(("u1", "temp", "Float")).toDF("uuid", "name", "type")
      .withColumn("unit", lit(null).cast("struct<name:string,description:string>"))
      .withColumn("labels", lit(null).cast("map<string,string>")))
    store.registerViews("t")
    assert(spark.sql("SELECT count(*) FROM t_sensors").head().getLong(0) == 1)
    assert(spark.sql(
      "SELECT count(*) FROM t_values_float WHERE sensor_id = 's1'")
      .head().getLong(0) == 2)
    // empty types still resolve with the canonical schema
    assert(spark.sql("SELECT sensor_id, timestamp_us, value FROM t_values_integer")
      .count() == 0)
  }

  test("empty store returns empty frames with canonical schemas") {
    val store = new SensorStore(spark, tempDir())
    assert(store.sensors.count() == 0)
    assert(store.samples(SensorType.Integer).count() == 0)
    assert(store.samples(SensorType.Integer).columns.toSeq ==
      Seq("sensor_id", "timestamp_us", "value"))
  }

  test("streaming ingest lands samples in the store (at-least-once)") {
    val srcDir = tempDir()
    val store = new SensorStore(spark, tempDir())
    sampleData.write.mode("overwrite").parquet(srcDir)
    val q = StreamingIngest.ingestStream(
      spark, srcDir, sampleData.schema, store, SensorType.Float,
      tempDir() + "/ckpt")
    q.awaitTermination() // AvailableNow terminates when caught up
    assert(store.samples(SensorType.Float).count() == 3)
  }

  test("remote-write frame stream ingests into the store") {
    import graft.prometheus.PrometheusRemote._
    val dir = graft.TempDirs.create("graft_rw_src")
    val ckpt = graft.TempDirs.create("graft_rw_ckpt")
    val root = graft.TempDirs.create("graft_rw_store")
    def frame(name: String, job: String, values: Seq[(Double, Long)]): Array[Byte] = {
      val w = new ProtoWriter
      val tw = new ProtoWriter
      Seq("__name__" -> name, "job" -> job).foreach { case (k, v) =>
        val lw = new ProtoWriter
        lw.string(1, k); lw.string(2, v)
        tw.message(1, lw)
      }
      values.foreach { case (v, ts) =>
        val sw = new ProtoWriter
        sw.double(1, v); sw.int64(2, ts)
        tw.message(2, sw)
      }
      w.message(1, tw)
      snappyCompressLiteral(w.result())
    }
    java.nio.file.Files.write(dir.resolve("f1.bin"),
      frame("cpu_load", "node", Seq((0.5, 1704067200000L), (0.7, 1704067260000L))))
    java.nio.file.Files.write(dir.resolve("f2.bin"),
      frame("mem_free", "node", Seq((123.0, 1704067200000L))))
    val store = new SensorStore(spark, root.toString)
    val q = StreamingIngest.remoteWriteStream(
      spark, dir.toString, store, ckpt.toString)
    q.awaitTermination(60000)
    val sensors = store.sensors.orderBy("name").collect()
    assert(sensors.map(_.getString(1)).toSeq == Seq("cpu_load", "mem_free"))
    val floats = store.samples(graft.model.SensorType.Float)
    assert(floats.count() == 3)
    val uuid = graft.model.Sensor.deriveUuid("cpu_load",
      graft.model.SensorType.Float, None,
      Seq("__name__" -> "cpu_load", "job" -> "node"))
    assert(floats.filter(col("sensor_id") === uuid).count() == 2)
  }

  test("resample stream persists derived series into the store") {
    import scala.jdk.CollectionConverters._
    val srcDir = graft.TempDirs.create("graft_rs_src")
    val store = new SensorStore(spark, tempDir())
    // source series metadata in the catalog
    val srcUuid = graft.model.Sensor.deriveUuid(
      "temp", SensorType.Float, None, Seq("room" -> "a"))
    store.publishSensors(Seq((srcUuid, "temp", "Float"))
      .toDF("uuid", "name", "type")
      .withColumn("unit", lit(null).cast("struct<name:string,description:string>"))
      .withColumn("labels", typedLit(Map("room" -> "a"))))
    // two files so the watermark advances between micro-batches and the
    // first window closes (append mode only emits finalized windows)
    val t0 = 1704067200000000L // 2024-01-01 00:00 UTC
    val fileSeq = new java.util.concurrent.atomic.AtomicLong(0)
    def writeFile(name: String, rows: Seq[(String, Long, Double)]): Unit = {
      val tmp = graft.TempDirs.create("graft_rs_part")
      rows.toDF("sensor_id", "timestamp_us", "value")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      java.nio.file.Files.copy(part, srcDir.resolve(name))
      // the file source orders batches by modification time; make the
      // ordering deterministic so f1's window closes under f2's watermark
      java.nio.file.Files.setLastModifiedTime(srcDir.resolve(name),
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() + fileSeq.getAndIncrement() * 60000L))
    }
    writeFile("f1.parquet",
      Seq((srcUuid, t0 + 600L * 1000000, 1.0),
        (srcUuid, t0 + 1200L * 1000000, 3.0)))
    writeFile("f2.parquet", Seq((srcUuid, t0 + 3L * 3600L * 1000000, 5.0)))
    val schema = spark.read.parquet(srcDir.toString).schema
    val q = StreamingIngest.resampleStreamToStore(
      spark, srcDir.toString, schema, store,
      "1 hour", "1 hour", tempDir() + "/ckpt")
    q.awaitTermination()
    // the 00:00-01:00 window closed: 4 derived series, one sample each
    val derived = store.sensors.filter(
      col("labels")("__resample__") === "1 hour")
    assert(derived.count() == 4)
    val avgUuid = graft.model.Sensor.deriveUuid(
      "temp", SensorType.Float, None,
      Seq("room" -> "a", "__resample__" -> "1 hour", "__aggregate__" -> "avg"))
    val avgRows = store.samples(SensorType.Float)
      .filter(col("sensor_id") === avgUuid)
      .select("timestamp_us", "value").as[(Long, Double)].collect()
    assert(avgRows.toSeq == Seq((t0, 2.0)))
    // re-publishing through a second run converges on the same uuids
    StreamingIngest.publishResampledRows(store,
      Seq((t0, srcUuid, 2L, 2.0, 1.0, 3.0)).toDF(
        "window_start_us", "sensor_id", "n", "avg_value",
        "min_value", "max_value"), "1 hour")
    assert(store.sensors.filter(
      col("labels")("__resample__") === "1 hour").count() == 4)
  }

  test("watermark drops late rows: eviction counted, state bounded") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    // the scoped session pins the state-partition count (frozen into
    // the checkpoint at stream start) and swaps in the RocksDB state
    // store — the off-heap provider a 100 TB deployment runs; the
    // stream must behave identically on it
    val ss = StreamingIngest.stateScopedSession(spark, 2, useRocksDb = true)
    assert(ss.conf.get("spark.sql.streaming.stateStore.providerClass")
      .contains("RocksDB"))
    assert(spark.conf.get("spark.sql.shuffle.partitions") != "2",
      "parent session conf must not be mutated")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = ss.sqlContext
    val in = MemoryStream[(String, Long, Double)]
    val us = (m: Int) => m * 60L * 1000000L // minutes → epoch µs
    val agg = StreamingIngest.windowedResample(
      in.toDF().toDF("sensor_id", "t_us", "value")
        .select(col("sensor_id"), timestamp_micros(col("t_us")).as("ts"),
          col("value")),
      windowDur = "1 minute", watermarkDur = "10 minutes")
    val name = s"late_out_${System.nanoTime()}"
    val q = agg.writeStream.outputMode("append").format("memory")
      .queryName(name).trigger(Trigger.ProcessingTime(0)).start()
    try {
      // batch 1: rows at 10:00 and 10:20 → watermark advances to 10:10
      in.addData(("s1", us(600), 1.0), ("s1", us(620), 1.0))
      q.processAllAvailable()
      // batch 2: 09:55 is BELOW the 10:10 watermark (late → dropped);
      // 10:40 advances the watermark again to 10:30
      in.addData(("s1", us(595), 99.0), ("s1", us(640), 1.0))
      q.processAllAvailable()
      // batch 3: push the watermark past every open window
      in.addData(("s1", us(700), 1.0))
      q.processAllAvailable()
      val out = ss.table(name)
        .select(col("window_start_us"), col("n"), col("avg_value"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      // the late row surfaced NOWHERE: its window was never emitted
      // and no emitted window absorbed the 99.0
      assert(!out.exists(_._1 == us(595)), out)
      assert(out.contains((us(600), 1L, 1.0)), out)
      assert(out.contains((us(620), 1L, 1.0)), out)
      assert(out.contains((us(640), 1L, 1.0)), out)
      // the eviction is observable in the state-operator metrics:
      // exactly ONE row died to the watermark across the run
      val dropped = q.recentProgress.toSeq
        .flatMap(_.stateOperators.toSeq)
        .map(_.numRowsDroppedByWatermark).sum
      assert(dropped == 1L, s"expected 1 late row dropped, got $dropped")
    } finally {
      q.stop()
      ss.catalog.dropTempView(name)
    }
  }

  test("store reads declare their schema: building a read starts no job") {
    val store = new SensorStore(spark, tempDir())
    store.publishSamples(SensorType.Float, sampleData)
    store.publishSensors(Seq(("s1", "temp", "Float")).toDF("uuid", "name", "type")
      .withColumn("unit", lit(null).cast("struct<name:string,description:string>"))
      .withColumn("labels", lit(null).cast("map<string,string>")))
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.graft.ListenerBarrier.drain(sc)
    sc.addSparkListener(listener)
    val (sensors, samples, ranged) =
      try {
        val built = (store.sensors, store.samples(SensorType.Float),
          store.samplesInRange(SensorType.Float,
            Some(1704067200000000L), Some(1705000000000000L)))
        org.apache.spark.graft.ListenerBarrier.drain(sc)
        built
      } finally sc.removeSparkListener(listener)
    assert(jobs.get() == 0L, s"${jobs.get()} jobs started building reads")
    def shape(st: org.apache.spark.sql.types.StructType) =
      st.fields.map(f => f.name -> f.dataType).toSeq
    assert(shape(sensors.schema) == shape(graft.model.Schemas.sensors))
    assert(shape(samples.schema) ==
      shape(graft.model.Schemas.samples(SensorType.Float)))
    assert(sensors.count() == 1 && samples.count() == 3 && ranged.count() == 2)
  }

  test("windowed resample (batch mode) aggregates per tumbling window") {
    val df = Seq(
      ("s1", java.sql.Timestamp.valueOf("2024-01-01 00:10:00"), 1.0),
      ("s1", java.sql.Timestamp.valueOf("2024-01-01 00:20:00"), 3.0),
      ("s1", java.sql.Timestamp.valueOf("2024-01-01 01:10:00"), 5.0))
      .toDF("sensor_id", "ts", "value")
    val got = StreamingIngest.windowedResample(df, "1 hour", "1 hour")
      .orderBy("window_start_us")
      .select("n", "avg_value", "min_value", "max_value")
      .as[(Long, Double, Double, Double)].collect()
    assert(got.toSeq == Seq((2L, 2.0, 1.0, 3.0), (1L, 5.0, 5.0, 5.0)))
  }
}
