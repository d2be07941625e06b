package graft

import graft.model.SensorType
import graft.sources.{CsvImporter, InfluxLineProtocol, SenML}
import org.apache.spark.sql.functions._

class ImportersSpec extends SparkSpec {
  import spark.implicits._

  private def writeTemp(name: String, content: String): String = {
    val f = java.nio.file.Files.createTempFile(name, ".csv")
    java.nio.file.Files.writeString(f, content)
    f.toString
  }

  test("CSV long format import (FIXTURES.md §1)") {
    val path = writeTemp("long", """datetime,sensor_name,value,unit
      |2024-01-01T00:00:00Z,temperature_1,20.5,C
      |2024-01-01T00:01:00Z,temperature_1,21.0,C
      |2024-01-01T00:00:00Z,humidity_1,65.0,pct
      |""".stripMargin)
    val batch = CsvImporter.importCsv(spark, path)
    assert(batch.samples.keySet == Set(SensorType.Float))
    val samples = batch.samples(SensorType.Float)
    assert(samples.count() == 3)
    val sensors = batch.sensors.collect()
    assert(sensors.length == 2)
    val units = sensors.map(r => r.getString(1) -> r.getStruct(3).getString(0)).toMap
    assert(units == Map("temperature_1" -> "C", "humidity_1" -> "pct"))
    // timestamps microsecond-exact
    val ts = samples.select(min("timestamp_us")).as[Long].head()
    assert(ts == 1704067200000000L)
  }

  test("CSV wide format import (FIXTURES.md §2)") {
    val path = writeTemp("wide", """datetime,temperature,humidity,status
      |2024-01-01T00:00:00Z,20.5,65,ok
      |2024-01-01T00:01:00Z,21.0,64,bad
      |""".stripMargin)
    val batch = CsvImporter.importCsv(spark, path)
    // temperature Float, humidity Integer, status String
    assert(batch.samples.keySet ==
      Set(SensorType.Float, SensorType.Integer, SensorType.Str))
    assert(batch.sensors.count() == 3)
    assert(batch.samples(SensorType.Float).count() == 2)
    assert(batch.samples(SensorType.Integer)
      .select(sum("value")).as[Long].head() == 129)
  }

  test("CSV wide format: a multi-column type group unpivots every column " +
      "in one stack() scan") {
    val path = writeTemp("wide2", """datetime,temp_a,temp_b,count
      |2024-01-01T00:00:00Z,20.5,30.5,7
      |2024-01-01T00:01:00Z,21.0,31.0,8
      |""".stripMargin)
    val batch = CsvImporter.importCsv(spark, path)
    val floats = batch.samples(SensorType.Float)
    // 2 float columns × 2 rows = 4 samples, each row keeps its own value
    assert(floats.count() == 4)
    assert(floats.select(sum("value")).as[Double].head() == 103.0)
    assert(floats.select("sensor_id").distinct().count() == 2)
    // one CSV scan feeds the whole float group (the per-column union
    // would show one FileScan per column)
    val scans = floats.queryExecution.executedPlan.collect {
      case s if s.nodeName.contains("Scan") => s
    }
    assert(scans.size == 1, s"expected 1 scan, got ${scans.size}")
    assert(batch.samples(SensorType.Integer).count() == 2)
  }

  test("CSV wide/long randomized differential: the stack unpivot equals " +
      "the independent long-format import on melted rows") {
    // same sensor name + type + no unit ⇒ same derived uuid on both
    // paths, so the wide import of a float matrix must equal the long
    // import of its melt — pins the stack() unpivot against the
    // independent long-format code path on random data. (No empty
    // cells: an empty string infers as String — the reference lattice —
    // which would type wide columns INDIVIDUALLY but the long value
    // column GLOBALLY, making the two paths legitimately diverge.)
    val rnd = new scala.util.Random(13L)
    for (round <- 1 to 5) {
      val nCols = 2 + rnd.nextInt(4)
      val nRows = 5 + rnd.nextInt(20)
      val names = (1 to nCols).map(i => s"m$i")
      val cells = Array.tabulate(nRows, nCols) { (_, _) =>
        (rnd.nextInt(10000) / 100.0).toString
      }
      val ts = (0 until nRows).map(r => f"2024-01-01T00:${r / 60}%02d:${r % 60}%02dZ")
      val wide = (s"datetime,${names.mkString(",")}" +:
        (0 until nRows).map(r => s"${ts(r)},${cells(r).mkString(",")}"))
        .mkString("\n")
      val long = ("datetime,sensor_name,value" +:
        (for (r <- 0 until nRows; c <- 0 until nCols)
          yield s"${ts(r)},${names(c)},${cells(r)(c)}")).mkString("\n")
      def dump(batch: graft.model.IngestBatch) = batch
        .samples(SensorType.Float)
        .select(col("sensor_id"), col("timestamp_us"),
          col("value").cast("string"))
        .as[(String, Long, String)].collect().toSeq.sorted
      val w = dump(CsvImporter.importCsv(spark, writeTemp(s"w$round", wide + "\n")))
      val l = dump(CsvImporter.importCsv(spark, writeTemp(s"l$round", long + "\n")))
      assert(w == l, s"round $round: wide != melted long")
      assert(w.length == nRows * nCols)
    }
  }

  test("SenML import resolves bases and types (RFC 8428)") {
    val doc = """[
      {"bn":"urn:dev:temp1:","bt":1700000000.0,"bu":"Cel","n":"t","v":22.5},
      {"n":"t","t":10.0,"v":23.0},
      {"n":"status","vs":"ok"},
      {"bn":"urn:dev:sw:","n":"on","vb":true}
    ]"""
    val byType = SenML.importJson(Seq(doc).toDS())
    val floats = byType(SensorType.Float)
      .select("sensor_id", "timestamp_us", "value")
      .as[(String, Long, Double)].collect().sortBy(_._2)
    assert(floats.toSeq == Seq(
      ("urn:dev:temp1:t", 1700000000000000L, 22.5),
      ("urn:dev:temp1:t", 1700000010000000L, 23.0)))
    val strs = byType(SensorType.Str)
      .select("sensor_id", "value").as[(String, String)].collect()
    assert(strs.toSeq == Seq(("urn:dev:temp1:status", "ok")))
    val bools = byType(SensorType.Boolean)
      .select("sensor_id", "value").as[(String, Boolean)].collect()
    assert(bools.toSeq == Seq(("urn:dev:sw:on", true)))
    // unit resolution: bu carries forward
    val unit = byType(SensorType.Float).select("unit").distinct()
      .as[String].collect()
    assert(unit.toSeq == Seq("Cel"))
  }

  test("SenML randomized differential: window resolver == sequential " +
      "RFC 8428 fold on 40 random documents") {
    // the distributed resolver carries bn/bt/bu with last(_, ignoreNulls)
    // windows; this pins it against an INDEPENDENT sequential fold of
    // the carry-forward rules (the influx-differential discipline)
    val rnd = new scala.util.Random(20260815L)
    val bns = Seq("urn:a:", "urn:b:", "urn:c:")
    val bus = Seq("Cel", "%RH", "V")
    val ns = Seq("t", "h", "x", "")
    case class Exp(name: String, unit: String, us: Long, v: Double)
    val docs = Seq.newBuilder[String]
    val expected = Seq.newBuilder[Exp]
    for (_ <- 1 to 40) {
      var bn = ""; var bt = 0.0; var bu: Option[String] = None
      val recs = Seq.newBuilder[String]
      for (_ <- 1 to (1 + rnd.nextInt(8))) {
        val fields = Seq.newBuilder[String]
        if (rnd.nextInt(3) == 0) {
          bn = bns(rnd.nextInt(bns.length))
          fields += s""""bn":"$bn""""
        }
        if (rnd.nextInt(3) == 0) {
          bt = 1700000000.0 + rnd.nextInt(100000) + rnd.nextInt(1000) / 1000.0
          fields += s""""bt":$bt"""
        }
        if (rnd.nextInt(4) == 0) {
          bu = Some(bus(rnd.nextInt(bus.length)))
          fields += s""""bu":"${bu.get}""""
        }
        val n = ns(rnd.nextInt(ns.length))
        if (n.nonEmpty) fields += s""""n":"$n""""
        val u = if (rnd.nextInt(4) == 0) Some(bus(rnd.nextInt(bus.length)))
          else None
        u.foreach(x => fields += s""""u":"$x"""")
        val t = if (rnd.nextInt(2) == 0)
          Some(rnd.nextInt(3600) + rnd.nextInt(1000) / 1000.0) else None
        t.foreach(x => fields += s""""t":$x""")
        val v = rnd.nextInt(1000) / 10.0
        fields += s""""v":$v"""
        recs += fields.result().mkString("{", ",", "}")
        // sequential RFC 8428 resolution: bases apply to their own record
        expected += Exp(bn + n, u.orElse(bu).orNull,
          math.round((bt + t.getOrElse(0.0)) * 1e6), v)
      }
      docs += recs.result().mkString("[", ",", "]")
    }
    val got = SenML.parse(docs.result().toDS())
      .select("name", "unit", "timestamp_us", "v")
      .as[(String, String, Long, Double)].collect()
      .map(r => Exp(r._1, r._2, r._3, r._4))
    def key(e: Exp) = (e.name, Option(e.unit), e.us, e.v)
    assert(got.length == expected.result().length)
    assert(got.map(key).sorted.toSeq ==
      expected.result().map(key).sorted.toSeq)
  }

  test("SenML export: first record carries base fields, rest relative t") {
    val samples = Seq(
      (1700000000000000L, 1.5), (1700000001500000L, 2.5))
      .toDF("timestamp_us", "value")
    val lines = SenML.exportFloatSeries(
      samples, "uuid-1", "temp", Some("Cel"), Map("env" -> "prod"))
      .collect()
    assert(lines.length == 2)
    assert(lines(0).contains(""""bn":"uuid-1""""))
    assert(lines(0).contains(""""bt":1.7E9""") || lines(0).contains(""""bt":1700000000.0"""))
    assert(lines(0).contains(""""bver":10"""))
    assert(lines(0).contains(""""v":1.5"""))
    assert(!lines(1).contains("bn"))
    assert(lines(1).contains(""""t":1.5"""))
    assert(lines(1).contains(""""v":2.5"""))
    // multi-series documents carry bver only on the very first record of
    // the whole array (reference: src/exporters/senml.rs:31-36): the
    // non-first series is exported without it
    val second = SenML.exportSeries(samples, "uuid-2", "hum", None,
      Map.empty, graft.model.SensorType.Float, includeBver = false)
      .collect()
    assert(second(0).contains(""""bn":"uuid-2""""))
    assert(!second.exists(_.contains("bver")))
  }

  test("SenML multi export: one plan, bver once, per-series base fields") {
    val long = Seq(
      ("u1", "temp", "Cel", 1700000000000000L, 1.5),
      ("u1", "temp", "Cel", 1700000001500000L, 2.5),
      ("u2", "hum", null.asInstanceOf[String], 1700000002000000L, 0.5))
      .toDF("sensor_id", "sensor_name", "unit_name", "timestamp_us", "v")
      .withColumn("labels", typedLit(Map.empty[String, String]))
      .withColumn("vs", lit(null).cast("string"))
      .withColumn("vb", lit(null).cast("boolean"))
      .withColumn("vd", lit(null).cast("string"))
    val lines = SenML.exportMulti(long).collect()
    assert(lines.length == 3)
    assert(lines(0).contains(""""bn":"u1"""") &&
      lines(0).contains(""""bver":10""") && lines(0).contains(""""bu":"Cel""""))
    assert(lines(1).contains(""""t":1.5""") && !lines(1).contains("bn"))
    // second series: fresh base fields but NO bver (document-first only)
    assert(lines(2).contains(""""bn":"u2"""") && !lines(2).contains("bver"))
    assert(lines(2).contains(""""t":0.0"""))
  }

  test("Influx line protocol: types, escapes, precision, naming") {
    val lines = Seq(
      """cpu,host=A,region=west usage_system=64.2 1590488773254420000""",
      """mem free=42i,total=100u,ok=t,name="srv 1"""",
      """weird\ measure,tag\,key=va\=lue f=1.0""").toDS()
    val df = InfluxLineProtocol.parse(lines, "b1", "o1", "ns")
    val rows = df.collect()
    assert(rows.length == 6)
    val cpu = df.filter($"sensor_name" === "cpu usage_system").collect().head
    assert(cpu.getAs[Map[String, String]]("labels") ==
      Map("influxdb_bucket" -> "b1", "influxdb_org" -> "o1",
        "host" -> "A", "region" -> "west"))
    assert(cpu.getAs[Long]("timestamp_us") == 1590488773254420L)
    // no tags -> no labels at all (reference behavior)
    val mem = df.filter($"sensor_name" === "mem free").collect().head
    assert(mem.getAs[Map[String, String]]("labels").isEmpty)
    assert(mem.getAs[Long]("long_value") == 42L)
    val str = df.filter($"sensor_name" === "mem name").collect().head
    assert(str.getAs[String]("string_value") == "srv 1")
    // escapes + urlencoding
    assert(df.filter($"sensor_name" === "weird%20measure f").count() == 1)
    val weird = df.filter($"sensor_name" === "weird%20measure f").collect().head
    assert(weird.getAs[Map[String, String]]("labels")("tag,key") == "va=lue")
  }

  test("Influx Numeric mode: exact decimals on both parse paths") {
    // first line is fast-path; the escaped measurement forces the strict
    // flatMap path — numeric projection must behave identically on both
    val lines = Seq(
      """m,host=A v=1.05,c=42i,big=9007199254740993i,ok=t,s="x"""",
      """weird\ measure v=80.4,c=-7i""").toDS()
    val df = InfluxLineProtocol.parse(lines, "b", "o", "ns",
      withNumeric = true)
    def num(sensor: String): java.math.BigDecimal =
      df.filter($"sensor_name" === sensor)
        .select("numeric_value").collect().head.getDecimal(0)
    // shortest-decimal recovery: the wire literal, not the f64 expansion
    assert(num("m v").compareTo(new java.math.BigDecimal("1.05")) == 0)
    assert(num("weird%20measure v")
      .compareTo(new java.math.BigDecimal("80.4")) == 0)
    // i64 exactness beyond double's 2^53 mantissa — the reason Numeric
    // mode exists (a Float ingest would land on ...992)
    assert(num("m big")
      .compareTo(new java.math.BigDecimal("9007199254740993")) == 0)
    assert(num("m c").compareTo(new java.math.BigDecimal("42")) == 0)
    assert(num("weird%20measure c")
      .compareTo(new java.math.BigDecimal("-7")) == 0)
    // numerics report type Numeric with long/double nulled; strings and
    // booleans pass through untouched
    val types = df.select("sensor_name", "type").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(types("m v") == "Numeric" && types("m big") == "Numeric")
    assert(types("m ok") == "Boolean" && types("m s") == "String")
    assert(df.filter($"long_value".isNotNull || $"double_value".isNotNull)
      .count() == 0)
    assert(df.filter($"sensor_name" === "m s")
      .select("string_value").as[String].head() == "x")
  }

  test("Influx precision variants") {
    def ts(p: String, t: String): Long =
      InfluxLineProtocol.parse(Seq(s"m f=1 $t").toDS(), "b", "o", p)
        .select("timestamp_us").as[Long].head()
    assert(ts("s", "1700000000") == 1700000000000000L)
    assert(ts("ms", "1700000000123") == 1700000000123000L)
    assert(ts("us", "1700000000123456") == 1700000000123456L)
    assert(ts("ns", "1700000000123456789") == 1700000000123456L)
  }

  test("Influx u64 overflow rejected") {
    intercept[Exception] {
      InfluxLineProtocol.parse(
        Seq("m f=18446744073709551615u").toDS(), "b", "o", "ns").collect()
    }
  }

  test("Influx randomized differential: parse() == strict parseLine on 300 lines") {
    // seeded generator spanning the grammar: escapes, quoted strings,
    // duplicate/reserved tag keys, every field type, all timestamp signs.
    // The oracle is parseLine itself, so this pins the fast-path dispatch
    // (and the LAST_WIN map semantics) against the strict grammar.
    val rnd = new scala.util.Random(20260812L)
    val measurements = Seq("m", "m.sub_1", "tilde~ok", """weird\ measure""",
      """comma\,m""", "CPU")
    val tagKeys = Seq("a", "b", "host", "influxdb_bucket", """tag\,key""")
    val tagVals = Seq("1", "2", "west", """va\=lue""", "x")
    val fieldKeys = Seq("f", "f0", "usage", "ok", "name")
    def fieldVal(): String = rnd.nextInt(6) match {
      case 0 => s"${rnd.nextInt(100000) - 50000}i"
      case 1 => s"${rnd.nextInt(1000000)}u"
      case 2 => Seq("t", "f", "true", "false", "TRUE", "False")(rnd.nextInt(6))
      case 3 => Seq("1e-3", ".5", "-42.0", "9.0e2", "3.14")(rnd.nextInt(5))
      case 4 => s"${rnd.nextDouble() * 1000 - 500}"
      case 5 => "\"" + Seq("srv 1", """a\"b""", "plain")(rnd.nextInt(3)) + "\""
    }
    def line(): String = {
      val m = measurements(rnd.nextInt(measurements.length))
      val nTags = rnd.nextInt(4)
      val tags = Seq.fill(nTags)(
        s"${tagKeys(rnd.nextInt(tagKeys.length))}=${tagVals(rnd.nextInt(tagVals.length))}")
      val nFields = 1 + rnd.nextInt(3)
      // duplicate field keys are last-wins per the map; keep keys unique
      // so row-set comparison stays well-defined
      val fks = rnd.shuffle(fieldKeys).take(nFields)
      val fields = fks.map(k => s"$k=${fieldVal()}")
      val ts = rnd.nextInt(3) match {
        case 0 => ""
        case 1 => s" ${1700000000000000000L + rnd.nextInt(1000000)}"
        case 2 => s" -${rnd.nextInt(1000000)}"
      }
      (Seq(m + tags.map("," + _).mkString) ++ Seq(fields.mkString(",")))
        .mkString(" ") + ts
    }
    val lines = Seq.fill(300)(line())
    val got = InfluxLineProtocol.parse(lines.toDS(), "b", "o", "ns")
      .select("sensor_name", "labels", "timestamp_us", "type",
        "long_value", "double_value", "string_value", "bool_value")
      .collect()
      .map(r => (r.getString(0), r.getAs[Map[String, String]](1),
        Option(r.get(2)), r.getString(3), Option(r.get(4)),
        Option(r.get(5)), Option(r.get(6)), Option(r.get(7))))
      .groupBy(identity).view.mapValues(_.length).toMap
    val expected = lines.flatMap(InfluxLineProtocol.parseLine).map { f =>
      val name = InfluxLineProtocol.urlencode(f.measurement) + " " +
        InfluxLineProtocol.urlencode(f.fieldKey)
      val labels: Map[String, String] =
        if (f.tags.isEmpty) Map.empty
        else (Seq("influxdb_bucket" -> "b", "influxdb_org" -> "o")
          ++ f.tags).toMap
      (name, labels, f.timestamp.map(_ / 1000): Option[Any], f.valueType,
        f.longValue: Option[Any], f.doubleValue: Option[Any],
        f.stringValue: Option[Any], f.boolValue: Option[Any])
    }.groupBy(identity).view.mapValues(_.length).toMap
    assert(got == expected)
  }

  test("Influx columnar fast path agrees with the strict parser") {
    // all fast-path shaped; the differential oracle is parseLine itself
    val lines = Seq(
      "cpu,host=A usage=64.2 1590488773254420000",
      "m x=2i,y=3.5,z=TRUE,w=f 1700000000123456789",
      "m0 v=1e-3",
      "m.sub_1,a=1,b=2 f0=-42i,f1=.5,f2=9.0e2",
      "tilde~ok f=0.0 -1",
      "m f=9223372036854775807i",
      // duplicate tag key and reserved label key: last-wins on both paths
      "m1,a=1,a=2 f=1",
      "m2,influxdb_bucket=x,c=3 f=2")
    val got = InfluxLineProtocol.parse(lines.toDS(), "b", "o", "ns")
      .select("sensor_name", "labels", "timestamp_us", "type",
        "long_value", "double_value", "string_value", "bool_value")
      .collect()
      .map(r => (r.getString(0), r.getAs[Map[String, String]](1),
        Option(r.get(2)), r.getString(3), Option(r.get(4)),
        Option(r.get(5)), Option(r.get(6)), Option(r.get(7))))
      .toSet
    val expected = lines.flatMap(InfluxLineProtocol.parseLine).map { f =>
      val name = InfluxLineProtocol.urlencode(f.measurement) + " " +
        InfluxLineProtocol.urlencode(f.fieldKey)
      val labels: Map[String, String] =
        if (f.tags.isEmpty) Map.empty
        else (Seq("influxdb_bucket" -> "b", "influxdb_org" -> "o")
          ++ f.tags).toMap
      (name, labels, f.timestamp.map(_ / 1000): Option[Any], f.valueType,
        f.longValue: Option[Any], f.doubleValue: Option[Any],
        f.stringValue: Option[Any], f.boolValue: Option[Any])
    }.toSet
    assert(got == expected)
  }

  test("influx parse survives sessions without LAST_WIN map-key policy") {
    import spark.implicits._
    // duplicate tag key + reserved label key: under the default EXCEPTION
    // policy the columnar fast path's str_to_map/map_concat would throw,
    // so parse() must route everything through the strict parser instead
    val lines = Seq("m1,a=1,a=2 f=1", "m2,influxdb_bucket=x,c=3 f=2")
    val prev = spark.conf.get("spark.sql.mapKeyDedupPolicy", "EXCEPTION")
    spark.conf.set("spark.sql.mapKeyDedupPolicy", "EXCEPTION")
    try {
      val got = InfluxLineProtocol.parse(lines.toDS(), "b", "o", "ns")
        .select("sensor_name", "labels").collect()
        .map(r => (r.getString(0), r.getAs[Map[String, String]](1))).toSet
      assert(got == Set(
        ("m1 f", Map("influxdb_bucket" -> "b", "influxdb_org" -> "o",
          "a" -> "2")),
        ("m2 f", Map("influxdb_bucket" -> "x", "influxdb_org" -> "o",
          "c" -> "3"))))
    } finally spark.conf.set("spark.sql.mapKeyDedupPolicy", prev)
  }
}
