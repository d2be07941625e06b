package graft

import graft.adapters.EventsAdapter
import graft.catalog.Catalog
import graft.model.SensorType
import graft.operators.{LabelMatcher, SensorOps}
import graft.prometheus.RemoteRead
import graft.sources.ArrowIO
import org.apache.spark.sql.functions._

class ArrowCatalogSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("Arrow IPC float series roundtrip (S3/S11)") {
    val in = Seq((1700000000000000L, 1.5), (1700000001000000L, -2.5),
      (1700000002000000L, Double.MaxValue))
    assert(ArrowIO.decodeFloatSeries(ArrowIO.encodeFloatSeries(in)) == in)
  }

  test("streaming Arrow writers: multi-batch roundtrip, and NO footer " +
    "on mid-stream failure (truncation must not decode as complete)") {
    // success path: bounded batches roundtrip through the batch-aware
    // decoders
    val in = (0 until 10).map(i => (1700000000000000L + i * 1000000L, i * 0.5))
    val okOut = new java.io.ByteArrayOutputStream()
    ArrowIO.writeFloatSeriesStream(in.iterator, okOut, batchRows = 3)
    assert(ArrowIO.decodeFloatSeries(okOut.toByteArray) == in)
    val longIn = Seq(
      ArrowIO.LongRow(1L, "u1", "a", "1", "float", "{}"),
      ArrowIO.LongRow(2L, "u2", "b", "2", "float", "{}"),
      ArrowIO.LongRow(3L, "u3", "c", "3", "float", "{}"))
    val lOut = new java.io.ByteArrayOutputStream()
    ArrowIO.writeLongFormatStream(longIn.iterator, lOut, batchRows = 2)
    assert(ArrowIO.decodeLongFormat(lOut.toByteArray) == longIn)
    // failure path: the source iterator throws AFTER a full batch has
    // been written — the bytes so far must NOT decode as a valid
    // (shorter) file, i.e. the writer never wrote the footer
    val failOut = new java.io.ByteArrayOutputStream()
    val poisoned = in.iterator.take(5) ++ Iterator.tabulate(1)(_ =>
      throw new RuntimeException("task failed mid-export"))
    intercept[RuntimeException] {
      ArrowIO.writeFloatSeriesStream(poisoned, failOut, batchRows = 2)
    }
    assert(failOut.size() > 0, "some batches were written before failure")
    intercept[Exception] {
      ArrowIO.decodeFloatSeries(failOut.toByteArray)
    }
    // the typed stream writer: multi-batch roundtrip, no footer on failure
    val typedIn = (0 until 7).map(i => (1700000000000000L + i, s"v$i": Any))
    val tOut = new java.io.ByteArrayOutputStream()
    ArrowIO.writeTypedSeriesStream(SensorType.Str, Some("u"), Some("n"),
      typedIn.iterator, tOut, batchRows = 3)
    assert(ArrowIO.decodeTypedSeries(tOut.toByteArray) ==
      ArrowIO.TypedSeries(SensorType.Str, Some("u"), Some("n"), typedIn))
    val tFail = new java.io.ByteArrayOutputStream()
    intercept[RuntimeException] {
      ArrowIO.writeTypedSeriesStream(SensorType.Str, Some("u"), Some("n"),
        typedIn.iterator.take(5) ++ Iterator.tabulate(1)(_ =>
          throw new RuntimeException("task failed mid-export")),
        tFail, batchRows = 2)
    }
    assert(tFail.size() > 0, "some batches were written before failure")
    intercept[Exception](ArrowIO.decodeTypedSeries(tFail.toByteArray))
  }

  /** Replays `arrow_golden.tsv`, written by [[ArrowGolden]] from the
    * writers of commit 3ba5bd5: every case's IPC bytes keep their digest.
    */
  test("golden Arrow digests: every writer keeps its bytes") {
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/arrow_golden.tsv"), "UTF-8")
    val want = try src.getLines().map(_.split("\t") match {
      case Array(name, digest) => name -> digest
    }).toMap finally src.close()
    val got = ArrowGolden.cases.map { case (n, b) => n -> ArrowGolden.sha256(b) }
    assert(got.map(_._1).toSet == want.keySet)
    val diffs = got.filter { case (n, d) => want(n) != d }.map(_._1)
    assert(diffs.isEmpty, s"${diffs.length} of ${got.length} differ: $diffs")
  }

  test("typed series of 0 rows and of several batches decode to their rows") {
    import ArrowGolden.{Types, typed, withProp}
    // Array[Byte] has no value equality: compare blobs as sequences
    def norm(s: ArrowIO.TypedSeries) = s.copy(samples = s.samples.map {
      case (t, b: Array[Byte]) => (t, b.toSeq)
      case other => other
    })
    withProp("SENSAPP_BATCH_SIZE", "2") {
      for (t <- Types; n <- Seq(0, 5); id <- Seq(true, false)) {
        val in = typed(t, n, id, name = id)
        val back = ArrowIO.decodeTypedSeries(ArrowIO.encodeTypedSeries(in))
        // JSON imports as String; no rows carry no metadata
        val want = in.copy(
          sensorType = if (t == SensorType.Json) SensorType.Str else t,
          sensorId = in.sensorId.filter(_ => n > 0),
          sensorName = in.sensorName.filter(_ => n > 0))
        assert(norm(back) == norm(want), s"$t n=$n id=$id")
      }
    }
  }

  test("Arrow IPC long-format multi-series roundtrip") {
    val in = Seq(
      ArrowIO.LongRow(1700000000000000L, "u1", "temp", "20.5", "float",
        """{"env":"prod"}"""),
      ArrowIO.LongRow(1700000001000000L, "u2", "hum", "65", "integer", "{}"))
    assert(ArrowIO.decodeLongFormat(ArrowIO.encodeLongFormat(in)) == in)
  }

  test("Arrow IPC chunks record batches at SENSAPP_BATCH_SIZE") {
    val prev = sys.props.get("SENSAPP_BATCH_SIZE")
    sys.props("SENSAPP_BATCH_SIZE") = "2"
    try {
      val in = (0 until 7).map(i => (1700000000000000L + i * 1000000L, i * 0.5))
      val bytes = ArrowIO.encodeFloatSeries(in)
      // roundtrip identity across the batch boundaries...
      assert(ArrowIO.decodeFloatSeries(bytes) == in)
      // ...and the file genuinely carries ceil(7/2)=4 record batches
      val alloc = new org.apache.arrow.memory.RootAllocator()
      val reader = new org.apache.arrow.vector.ipc.ArrowFileReader(
        new org.apache.arrow.vector.util.ByteArrayReadableSeekableByteChannel(bytes),
        alloc)
      try assert(reader.getRecordBlocks.size == 4)
      finally { reader.close(); alloc.close() }
    } finally prev match {
      case Some(v) => sys.props("SENSAPP_BATCH_SIZE") = v
      case None => sys.props -= "SENSAPP_BATCH_SIZE"
    }
  }

  test("Arrow typed series: export->import->export roundtrip per type") {
    import graft.model.SensorType
    import graft.sources.ArrowIO.TypedSeries
    def rt(s: TypedSeries): TypedSeries =
      ArrowIO.decodeTypedSeries(ArrowIO.encodeTypedSeries(s))
    val ts = Seq(1700000000000000L, 1700000001000000L)

    val ints = TypedSeries(SensorType.Integer, Some("u1"), Some("counter"),
      Seq((ts(0), Long.MinValue), (ts(1), Long.MaxValue)))
    assert(rt(ints) == ints)

    val dec = TypedSeries(SensorType.Numeric, Some("u2"), Some("exact"),
      Seq((ts(0), new java.math.BigDecimal("1.050000000000000000")),
        (ts(1), new java.math.BigDecimal("-99999999999999999999.999999999999999999"))))
    val decBack = rt(dec)
    assert(decBack.sensorType == SensorType.Numeric)
    // values survive exactly at scale 18 (encode rescales to the
    // contract scale, so pass-through compares at setScale(18))
    assert(decBack.samples == dec.samples.map {
      case (t, v: java.math.BigDecimal) => (t, v.setScale(18))
    })

    val strs = TypedSeries(SensorType.Str, Some("u3"), Some("labels"),
      Seq((ts(0), "héllo"), (ts(1), "")))
    assert(rt(strs) == strs)

    val bools = TypedSeries(SensorType.Boolean, Some("u4"), Some("flag"),
      Seq((ts(0), true), (ts(1), false)))
    assert(rt(bools) == bools)

    // fractional lat/lon survive bit-exactly through the struct
    val locs = TypedSeries(SensorType.Location, Some("u5"), Some("gps"),
      Seq((ts(0), (59.9127, 10.7461)), (ts(1), (-33.8688, 151.2093))))
    assert(rt(locs) == locs)

    val blobs = TypedSeries(SensorType.Blob, Some("u6"), Some("payload"),
      Seq((ts(0), Array[Byte](0, 1, -128, 127)), (ts(1), Array.empty[Byte])))
    val blobBack = rt(blobs)
    assert(blobBack.copy(samples = Nil) == blobs.copy(samples = Nil))
    assert(blobBack.samples.map(_._1) == blobs.samples.map(_._1))
    assert(blobBack.samples.zip(blobs.samples).forall { case ((_, a), (_, b)) =>
      java.util.Arrays.equals(a.asInstanceOf[Array[Byte]],
        b.asInstanceOf[Array[Byte]])
    })

    // JSON exports as Utf8 and IMPORTS as String (the reference's own
    // lossy corner: importers/arrow.rs has no JSON arm)
    val json = TypedSeries(SensorType.Json, Some("u7"), Some("doc"),
      Seq((ts(0), """{"a":1}""")))
    assert(rt(json) == json.copy(sensorType = SensorType.Str))

    // metadata columns are optional on the wire
    val bare = TypedSeries(SensorType.Integer, None, None, Seq((ts(0), 7L)))
    assert(rt(bare) == bare)

    // second roundtrip is the identity (export->import->export equality,
    // the reference's arrow_integration contract)
    val once = ArrowIO.encodeTypedSeries(ints)
    val twice = ArrowIO.encodeTypedSeries(rt(ints))
    assert(java.util.Arrays.equals(once, twice))

    // mismatched payloads fail loudly
    intercept[IllegalArgumentException] {
      ArrowIO.encodeTypedSeries(TypedSeries(
        SensorType.Integer, None, None, Seq((ts(0), "not a long"))))
    }
  }

  test("Arrow import requires timestamp and value columns") {
    val bad = ArrowIO.encodeLongFormat(Seq(
      ArrowIO.LongRow(0L, "a", "b", "c", "d", "e")))
    intercept[IllegalArgumentException](ArrowIO.decodeFloatSeries(bad))
  }

  test("malformed Arrow bytes surface IllegalArgumentException (400), " +
      "never a raw decoder fault (500)") {
    // garbage: no Arrow magic
    val garbage = Array.fill[Byte](64)(0x5a)
    intercept[IllegalArgumentException](ArrowIO.ipcFieldNames(garbage))
    intercept[IllegalArgumentException](ArrowIO.decodeTypedSeries(garbage))
    intercept[IllegalArgumentException](ArrowIO.decodeLongFormat(garbage))
    // truncated: a valid file cut mid-body (footer gone)
    val good = ArrowIO.encodeFloatSeries(Seq((1L, 1.0), (2L, 2.0)))
    val truncated = good.take(good.length / 2)
    intercept[IllegalArgumentException](ArrowIO.decodeFloatSeries(truncated))
    // empty body
    intercept[IllegalArgumentException](
      ArrowIO.decodeTypedSeries(Array.emptyByteArray))
  }

  test("metric filters: substring, regex, type (P3)") {
    val metrics = SensorOps.metricsSummary(EventsAdapter.sensors(spark, sf))
    assert(Catalog.filterMetrics(metrics, nameSubstring = Some("CLICK"))
      .select("name").as[String].collect().toSeq == Seq("click"))
    assert(Catalog.filterMetrics(metrics, nameRegex = Some("^(view|error)$"))
      .count() == 2)
    assert(Catalog.filterMetrics(metrics, sensorType = Some("float"))
      .count() == 5)
    assert(Catalog.filterMetrics(metrics, sensorType = Some("integer"))
      .count() == 0)
  }

  test("selector parsing: bare braces and metric-with-labels") {
    assert(Catalog.parseSelector("""{env="prod"}""") ==
      Seq(LabelMatcher.Eq("env", "prod")))
    // metric name is ignored for series filtering
    assert(Catalog.parseSelector("""cpu{env=~"pr.*"}""") ==
      Seq(LabelMatcher.Re("env", "pr.*")))
  }

  test("DCAT series dataset shape") {
    val ds = Catalog.seriesDatasets(EventsAdapter.sensors(spark, sf))
      .select("dataset").as[String].head()
    assert(ds.contains(""""@type":"dcat:Dataset""""))
    assert(ds.contains(""""dcat:downloadURL""""))
    assert(ds.contains("format=senml"))
    assert(ds.contains(""""dcat:keyword":["sensor","IoT","time-series","float","user"]"""))
    // prometheus-style @id with labels
    assert(ds.contains("""{user=\""""))
  }

  test("DCAT metrics dataset + catalog document") {
    val metrics = SensorOps.metricsSummary(EventsAdapter.sensors(spark, sf))
    val ds = Catalog.metricsDatasets(metrics)
      .select("dataset").as[String].collect()
    assert(ds.length == 5)
    assert(ds.forall(_.contains(""""sensor:seriesCount"""")))
    val doc = Catalog.catalogDocument(ds.toSeq, "sensapp_metrics_catalog",
      "SensApp Metrics Catalog", "Catalog of aggregated metrics")
    assert(doc.contains(""""@type":"dcat:Catalog""""))
    // whole document parses as JSON
    assert(graft.infer.JsonMini.isValid(doc))
  }

  test("remote read end-to-end: SAMPLES and chunked frames (§3.3)") {
    val sensors = EventsAdapter.sensors(spark, sf)
    val samples = EventsAdapter.samples(spark, sf)
      .select(
        concat(col("sensor_name"), lit(" "), col("user")).as("__ignore"),
        col("sensor_id"), col("timestamp_us"), col("value"))
      .drop("__ignore")
    // samples use "name user" ids; remote read joins on catalog uuid, so
    // re-key samples by uuid via the catalog
    val keyed = EventsAdapter.samples(spark, sf)
      .join(broadcast(sensors.select(col("uuid"),
        col("name").as("sensor_name"),
        col("labels").getItem("user").as("user"))),
        Seq("sensor_name", "user"))
      .select(col("uuid").as("sensor_id"), col("timestamp_us"), col("value"))
    val q = RemoteRead.Query(0L, 4102444800000L,
      Seq(LabelMatcher.Eq("__name__", "view"), LabelMatcher.Eq("user", "7")))
    val series = RemoteRead.collectSeries(
      RemoteRead.plan(sensors, keyed, q))
    assert(series.length == 1)
    val (labels, ss) = series.head
    assert(labels.map(_.name) == Seq("__name__", "user"))
    assert(ss.nonEmpty)
    val bytes = RemoteRead.samplesResponse(sensors, keyed, Seq(q))
    assert(bytes.nonEmpty)
    val chunked = RemoteRead.chunkedResponse(sensors, keyed, Seq(q))
    assert(chunked.nonEmpty)
    // chunked payload decodes back to the same sample count
    var i = 0; var len = 0L; var shift = 0; var b = 0
    while ({ b = chunked(i) & 0xff; i += 1; (b & 0x80) != 0 }) {
      len |= (b & 0x7fL) << shift; shift += 7
    }
    len |= b.toLong << shift
    assert(len == chunked.length - i - 4) // single frame
  }

  test("distributed Arrow bulk export: per-series IPC, roundtrip identity") {
    import spark.implicits._
    import graft.sources.ArrowIO
    val samples = Seq(
      ("s1", 3L, 30.0), ("s1", 1L, 10.0), ("s1", 2L, 20.0), // unsorted in
      ("s2", 5L, 0.5)).toDF("sensor_id", "timestamp_us", "value")
    val enc = ArrowIO.encodeSeriesDistributed(samples)
    val rows = enc.as[(String, Long, Array[Byte])].collect().sortBy(_._1)
    assert(rows.map(r => (r._1, r._2)).toSeq == Seq(("s1", 3L), ("s2", 1L)))
    // each payload is a standalone IPC file, sorted by timestamp
    assert(ArrowIO.decodeFloatSeries(rows.head._3) ==
      Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)))
    // executor-side decode inverts executor-side encode
    val back = ArrowIO.decodeSeriesDistributed(enc)
      .as[(String, Long, Double)].collect().toSet
    assert(back == Set(
      ("s1", 1L, 10.0), ("s1", 2L, 20.0), ("s1", 3L, 30.0), ("s2", 5L, 0.5)))
  }

  test("distributed Arrow bulk export caps each series at the default " +
    "query limit, keeping its first samples") {
    val samples = Seq(("s1", 5L, 5.0), ("s1", 2L, 2.0), ("s1", 4L, 4.0),
      ("s1", 1L, 1.0), ("s1", 3L, 3.0), ("s2", 9L, 0.5))
      .toDF("sensor_id", "timestamp_us", "value")
    val rows = ArrowGolden.withProp("GRAFT_DEFAULT_QUERY_LIMIT", "3") {
      ArrowIO.encodeSeriesDistributed(samples)
        .as[(String, Long, Array[Byte])].collect().sortBy(_._1)
    }
    assert(rows.map(r => (r._1, r._2)).toSeq == Seq(("s1", 3L), ("s2", 1L)))
    assert(ArrowIO.decodeFloatSeries(rows.head._3) ==
      Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)))
    // a series under the cap keeps the bytes of its plain encode
    assert(rows(1)._3.sameElements(ArrowIO.encodeFloatSeries(Seq((9L, 0.5)))))
  }
}
