package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8

import graft.http.Gateway
import graft.model.{Schemas, Sensor, SensorType, SensorUnit}
import graft.prometheus.PrometheusRemote
import graft.sources.ArrowIO
import graft.store.SensorStore
import graft.streaming.StreamingIngest

/** Every ingest edge commits series the same way: one request per edge
  * into a fresh store, then the catalog as written (no dedup-on-read)
  * must list each uuid once, each uuid must be the content-addressed id
  * of its own row's (name, type, unit, labels) — typed Arrow files keep
  * the id they name — and every sample must belong to a catalog row.
  */
class IngestIdentitySpec extends SparkSpec {

  private lazy val client = HttpClient.newHttpClient()
  private val t0Us = 1704067200000000L // 2024-01-01T00:00:00Z

  private final class Edge(val root: String, val store: SensorStore, port: Int) {
    def send(
        path: String, body: Array[Byte],
        headers: Map[String, String] = Map.empty): HttpResponse[String] = {
      var b = HttpRequest.newBuilder(new URI(s"http://127.0.0.1:$port$path"))
        .POST(HttpRequest.BodyPublishers.ofByteArray(body))
      headers.foreach { case (k, v) => b = b.header(k, v) }
      client.send(b.build(), HttpResponse.BodyHandlers.ofString())
    }

    def get(path: String): HttpResponse[String] =
      client.send(HttpRequest.newBuilder(
        new URI(s"http://127.0.0.1:$port$path")).GET().build(),
        HttpResponse.BodyHandlers.ofString())

    def ok(path: String, body: Array[Byte],
        headers: Map[String, String] = Map.empty): Unit = {
      val r = send(path, body, headers)
      assert(r.statusCode() / 100 == 2, s"$path -> ${r.statusCode()}: ${r.body()}")
    }
  }

  /** A gateway over a fresh store for one edge's requests. */
  private def withEdge(body: Edge => Unit): Unit = {
    val root = graft.TempDirs.createPath("graft_ingest_identity")
    val store = new SensorStore(spark, root)
    val gateway = new Gateway(spark, store, "ingest-identity")
    val port = gateway.start(0)
    try body(new Edge(root, store, port)) finally gateway.stop()
  }

  /** The three identity invariants; `given` names the uuids a file chose.
    * Returns the catalog rows.
    */
  private def assertIdentity(
      root: String, store: SensorStore,
      given: Set[String] = Set.empty): Seq[org.apache.spark.sql.Row] = {
    val rows = spark.read.schema(Schemas.sensors)
      .parquet(s"$root/sensors").collect().toSeq
    val uuids = rows.map(_.getString(0))
    assert(uuids.nonEmpty, "the edge registered no series")
    assert(uuids.distinct.length == uuids.length,
      s"uuid listed twice: ${uuids.diff(uuids.distinct)}")
    rows.filterNot(r => given.contains(r.getString(0))).foreach { r =>
      val t = SensorType.fromString(r.getString(2)).getOrElse(
        fail(s"catalog type ${r.getString(2)} is no sensor type"))
      val unit = Option(r.getStruct(3)).map(u => SensorUnit(u.getString(0)))
      val labels = Option(r.getMap[String, String](4))
        .map(_.toSeq).getOrElse(Nil)
      assert(r.getString(0) ==
        Sensor.deriveUuid(r.getString(1), t, unit, labels.toSeq), s"row $r")
    }
    val sampleIds = SensorType.all.flatMap(t =>
      store.samples(t).select("sensor_id").distinct().collect()
        .map(_.getString(0))).toSet
    assert(sampleIds.nonEmpty, "the edge stored no samples")
    assert(sampleIds.subsetOf(uuids.toSet),
      s"samples without a catalog row: ${sampleIds -- uuids}")
    rows
  }

  private def remoteWriteBody(
      series: Seq[(Seq[(String, String)], Seq[(Double, Long)])]): Array[Byte] = {
    import PrometheusRemote.ProtoWriter
    val w = new ProtoWriter
    series.foreach { case (labels, samples) =>
      val tw = new ProtoWriter
      labels.foreach { case (k, v) =>
        val lw = new ProtoWriter
        lw.string(1, k); lw.string(2, v)
        tw.message(1, lw)
      }
      samples.foreach { case (v, ms) =>
        val sw = new ProtoWriter
        sw.double(1, v); sw.int64(2, ms)
        tw.message(2, sw)
      }
      w.message(1, tw)
    }
    PrometheusRemote.snappyCompressLiteral(w.result())
  }

  private val csv = Map("content-type" -> "text/csv")

  test("CSV long: one series per name, keeping its first named unit") {
    withEdge { e =>
      e.ok("/publish", """datetime,sensor_name,value,unit
        |2024-01-01T00:00:00Z,temperature_1,20.5,
        |2024-01-01T00:01:00Z,temperature_1,21.0,C
        |2024-01-01T00:02:00Z,temperature_1,21.5,F
        |2024-01-01T00:00:00Z,humidity_1,65.0,pct
        |""".stripMargin.getBytes(UTF_8), csv)
      val rows = assertIdentity(e.root, e.store)
      assert(rows.map(r => r.getString(1) -> r.getStruct(3).getString(0))
        .toMap == Map("temperature_1" -> "C", "humidity_1" -> "pct"))
    }
  }

  test("CSV long: a row without a sensor name fails and stores nothing") {
    withEdge { e =>
      val r = e.send("/publish", """datetime,sensor_name,value
        |2024-01-01T00:00:00Z,temperature_1,20.5
        |2024-01-01T00:01:00Z,,21.0
        |""".stripMargin.getBytes(UTF_8), csv)
      assert(r.statusCode() / 100 != 2, r.body())
      assert(r.body().contains("without a sensor name"), r.body())
      assert(e.store.sensors.count() == 0)
      assert(SensorType.all.forall(t => e.store.samples(t).count() == 0))
    }
  }

  test("CSV wide: one series per column, one sample frame per type") {
    withEdge { e =>
      e.ok("/publish", """datetime,temperature,humidity,status
        |2024-01-01T00:00:00Z,20.5,65,ok
        |2024-01-01T00:01:00Z,21.0,64,bad
        |""".stripMargin.getBytes(UTF_8), csv)
      assert(assertIdentity(e.root, e.store).map(_.getString(2)).toSet ==
        Set("Float", "Integer", "String"))
      assert(e.store.samples(SensorType.Float).count() == 2)
    }
  }

  test("SenML with two types") {
    withEdge { e =>
      e.ok("/publish", """[
        {"bn":"urn:dev:a:","bt":1704067200,"bu":"Cel","n":"t","v":22.5},
        {"n":"t","t":10,"v":23.0},
        {"n":"status","vs":"ok"}]""".getBytes(UTF_8),
        Map("content-type" -> "application/json"))
      assert(assertIdentity(e.root, e.store).map(_.getString(2)).toSet ==
        Set("Float", "String"))
      assert(e.store.samples(SensorType.Float).count() == 2)
      assert(e.store.samples(SensorType.Str).count() == 1)
    }
  }

  private val arrow = Map("content-type" -> "application/vnd.apache.arrow.file")

  test("Arrow long: labels and the type column name the series") {
    withEdge { e =>
      e.ok("/publish", ArrowIO.encodeLongFormat(Seq(
        ArrowIO.LongRow(t0Us, "x", "cpu", "1.5", "Float", """{"host":"a"}"""),
        ArrowIO.LongRow(t0Us + 1, "x", "cpu", "2.5", "Float", """{"host":"a"}"""),
        ArrowIO.LongRow(t0Us, "y", "cpu", "3.5", "float", """{"host":"b"}"""),
        ArrowIO.LongRow(t0Us, "z", "ticks", "7", "Integer", "{}"))), arrow)
      val rows = assertIdentity(e.root, e.store)
      assert(rows.length == 3)
      assert(rows.map(_.getString(2)).toSet == Set("Float", "Integer"))
      assert(e.store.samples(SensorType.Float).count() == 3)
    }
  }

  test("Arrow typed keeps the file's sensor_id, or mints one without it") {
    withEdge { e =>
      val uuid = "11111111-2222-3333-4444-555555555555"
      e.ok("/publish", ArrowIO.encodeTypedSeries(ArrowIO.TypedSeries(
        SensorType.Integer, Some(uuid), Some("ticks"),
        Seq((t0Us, 5L), (t0Us + 1, -7L)))), arrow)
      assert(assertIdentity(e.root, e.store, Set(uuid))
        .map(_.getString(0)) == Seq(uuid))
    }
    withEdge { e =>
      e.ok("/publish", ArrowIO.encodeFloatSeries(
        Seq((t0Us, 42.5), (t0Us + 1, -1.25))), arrow)
      val minted = e.store.sensors.collect().map(_.getString(0)).toSet
      assert(minted.size == 1)
      assertIdentity(e.root, e.store, minted)
    }
  }

  test("Influx with mixed field types, plain and numeric=true") {
    val lines =
      """m,host=a f=1.5,i=2i,s="x",b=true 1704067200000000000
        |m,host=a f=2.5,i=3i,s="y",b=false 1704067260000000000
        |""".stripMargin.getBytes(UTF_8)
    withEdge { e =>
      e.ok("/api/v2/write?bucket=b&org=o", lines)
      assert(assertIdentity(e.root, e.store).map(_.getString(2)).toSet ==
        Set("Float", "Integer", "String", "Boolean"))
    }
    withEdge { e =>
      e.ok("/api/v2/write?bucket=b&org=o&numeric=true", lines)
      val rows = assertIdentity(e.root, e.store)
      assert(rows.map(_.getString(2)).sorted ==
        Seq("Boolean", "Numeric", "Numeric", "String"))
      assert(e.store.samples(SensorType.Numeric).count() == 4)
    }
  }

  private val latency = Seq("__name__" -> "latency", "job" -> "api",
    "unit" -> "seconds")

  test("remote write with a unit") {
    withEdge { e =>
      e.ok("/api/v1/prometheus_remote_write", remoteWriteBody(Seq(
        latency -> Seq((0.5, 1704067200000L), (0.7, 1704067260000L)),
        Seq("__name__" -> "up") -> Seq((1.0, 1704067200000L)))))
      val rows = assertIdentity(e.root, e.store)
      assert(rows.flatMap(r => Option(r.getStruct(3)).map(_.getString(0)))
        == Seq("seconds"))
    }
  }

  test("remote-write stream") {
    val src = graft.TempDirs.create("graft_ingest_identity_rw")
    java.nio.file.Files.write(src.resolve("frame.bin"), remoteWriteBody(Seq(
      latency -> Seq((0.5, 1704067200000L)),
      Seq("__name__" -> "up") -> Seq((1.0, 1704067200000L)))))
    val root = graft.TempDirs.createPath("graft_ingest_identity")
    val store = new SensorStore(spark, root)
    val q = StreamingIngest.remoteWriteStream(
      StreamingIngest.stateScopedSession(spark, 2), src.toString, store,
      graft.TempDirs.createPath("graft_ingest_identity_ckpt"))
    try q.processAllAvailable()
    finally StreamingIngest.stopAndCleanCheckpoint(q)
    assert(assertIdentity(root, store).length == 2)
  }

  test("resample derives series from the catalog row of their source") {
    withEdge { e =>
      e.ok("/api/v1/prometheus_remote_write", remoteWriteBody(Seq(
        latency -> Seq((0.5, 1704067800000L), (0.7, 1704068400000L)))))
      val r = e.get("/api/v1/admin/resample?window=1+hour")
      assert(r.statusCode() == 200, r.body())
      val rows = assertIdentity(e.root, e.store)
      val derived = rows.filter(r => Option(r.getMap[String, String](4))
        .exists(_.contains("__resample__")))
      assert(derived.length == 4)
      assert(derived.forall(d => Option(d.getStruct(3)).map(_.getString(0))
        .contains("seconds")))
    }
  }
}
