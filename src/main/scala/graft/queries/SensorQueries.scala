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

/** Reference-surface queries: sensor store scans, joins, imports/exports, catalog, as-of joins (SURVEY §2.1–§2.10).
  *
  * One of the family registries composed into [[graft.Queries]];
  * oracle/alias conventions are documented there.
  */
private[graft] object SensorQueries {

  val registry: Seq[Q] = Seq(

    // ---------------------------------------------------------------------
    // A1-flavor aggregation (SURVEY §2.5): group-by with exact-decimal sums.
    q(
      "q1_agg",
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus"""
    ) { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    // ---------------------------------------------------------------------
    // P1/W2: time-range + limit scan for one sensor
    // (reference: src/storage/sqlite/storage.rs:663-704).
    q(
      "q2_range_scan",
      """SELECT epoch_us(ts) AS timestamp_us, value
        |FROM events
        |WHERE event_type = 'view' AND user_id = 7
        |  AND epoch_us(ts) BETWEEN 1704412800000000 AND 1705708800000000
        |ORDER BY timestamp_us LIMIT 100"""
    ) { (s, d) =>
      SensorOps.rangeScan(
        EventsAdapter.samples(s, d), "view 7",
        Some(1704412800000000L), Some(1705708800000000L), 100)
        .select("timestamp_us", "value")
    },

    // W1: per-sensor ordered top-N via window row_number
    // (reference: src/storage/postgresql/batch_queries.rs:193-205).
    q(
      "q3_per_sensor_limit",
      """SELECT sensor_name, user_tag, timestamp_us, value FROM (
        |  SELECT event_type AS sensor_name, CAST(user_id AS VARCHAR) AS user_tag,
        |         epoch_us(ts) AS timestamp_us, value,
        |         ROW_NUMBER() OVER (PARTITION BY event_type, user_id ORDER BY ts) AS rn
        |  FROM events) WHERE rn <= 3
        |ORDER BY sensor_name, user_tag, timestamp_us"""
    ) { (s, d) =>
      SensorOps.perSensorLimit(EventsAdapter.samples(s, d), 3)
        .select(col("sensor_name"), col("user").as("user_tag"),
          col("timestamp_us"), col("value"))
        .orderBy("sensor_name", "user_tag", "timestamp_us")
    },

    // A1: metrics summary over the sensor catalog
    // (reference: metrics_summary view, 20250819144000 migrations).
    q(
      "q4_metrics_summary",
      """SELECT event_type AS name, 'Float' AS type, CAST(NULL AS VARCHAR) AS unit,
        |  COUNT(DISTINCT user_id) AS series_count, 'user' AS label_keys
        |FROM events GROUP BY event_type ORDER BY name"""
    ) { (s, d) =>
      SensorOps.metricsSummary(EventsAdapter.sensors(s, d))
        .select(col("name"), col("type"), col("unit"), col("series_count"),
          array_join(col("label_keys"), ",").as("label_keys"))
    },

    // Q1-Q5: Prometheus-style label matchers (regex on __name__, != on a
    // label) over the catalog (reference: src/storage/sqlite/matchers.rs).
    q(
      "q5_label_match",
      """SELECT DISTINCT event_type AS name, CAST(user_id AS VARCHAR) AS user_tag
        |FROM events
        |WHERE regexp_matches(event_type, '(click|view)')
        |  AND CAST(user_id AS VARCHAR) <> '7'
        |ORDER BY name, user_tag"""
    ) { (s, d) =>
      Matchers.sensorsByLabels(EventsAdapter.sensors(s, d), Seq(
        LabelMatcher.Re(LabelMatcher.NameLabel, "(click|view)"),
        LabelMatcher.NotEq("user", "7")))
        .select(col("name"), col("labels").getItem("user").as("user_tag"))
        .orderBy("name", "user_tag")
    },

    // Tumbling time-bucket aggregation (our composite-sensor resampling
    // primitive; reference only documents it: docs/DATAMODEL.md:125-131).
    q(
      "q6_time_bucket",
      """SELECT epoch_us(date_trunc('hour', ts)) AS bucket_us, event_type AS name,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2"""
    ) { (s, d) =>
      Tables.events(s, d)
        .groupBy(unix_micros(date_trunc("hour", col("ts"))).as("bucket_us"),
          col("event_type").as("name"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .orderBy("bucket_us", "name")
    },

    // W2: global ordered top-k (TakeOrderedAndProject — no full sort).
    q(
      "q7_global_topk",
      """SELECT event_id, event_type, value FROM events
        |ORDER BY value DESC, event_id LIMIT 50"""
    ) { (s, d) =>
      Tables.events(s, d)
        .select("event_id", "event_type", "value")
        .orderBy(col("value").desc, col("event_id").asc)
        .limit(50)
    },

    // J-series: broadcast equi-join + aggregation.
    q(
      "q9_join_broadcast",
      """SELECT c_mktsegment,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment"""
    ) { (s, d) =>
      Tables.orders(s, d)
        .join(broadcast(Tables.customer(s, d)),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(dsum(col("o_totalprice")).as("revenue"),
          count(lit(1)).as("n_orders"))
        .orderBy("c_mktsegment")
    },

    // J4-flavor: left-semi join (EXISTS).
    q(
      "q10_semi_join",
      """SELECT c_mktsegment, COUNT(*) AS n FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment"""
    ) { (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d).filter(col("o_totalprice") > 400000)
            .select(col("o_custkey").as("c_custkey")),
          Seq("c_custkey"), "left_semi")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"))
        .orderBy("c_mktsegment")
    },

    // J4-flavor: left-anti join (NOT EXISTS) — absent-label analog.
    q(
      "q11_anti_join",
      """SELECT c_mktsegment, COUNT(*) AS n FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment"""
    ) { (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d).filter(col("o_totalprice") > 400000)
            .select(col("o_custkey").as("c_custkey")),
          Seq("c_custkey"), "left_anti")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"))
        .orderBy("c_mktsegment")
    },

    // Grouping sets (free in Spark; reference has no rollup at all).
    q(
      "q12_rollup",
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""
    ) { (s, d) =>
      Tables.lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)
    },

    // Set op: UNION ALL of two filtered subsets (SURVEY §2.7).
    q(
      "q13_union",
      """SELECT * FROM (
        |  SELECT 'high' AS bucket, COUNT(*) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |  FROM events WHERE value > 10
        |  UNION ALL
        |  SELECT 'low' AS bucket, COUNT(*) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |  FROM events WHERE value <= 10
        |) ORDER BY bucket"""
    ) { (s, d) =>
      val ev = Tables.events(s, d)
      def side(name: String, pred: Column): DataFrame =
        ev.filter(pred).agg(count(lit(1)).as("n"),
          dsum(col("value")).as("sum_value"))
          .select(lit(name).as("bucket"), col("n"), col("sum_value"))
      side("high", col("value") > 10)
        .unionByName(side("low", col("value") <= 10))
        .orderBy("bucket")
    },

    // As-of join (doc-only in the reference: docs/DATAMODEL.md:125-131):
    // for each purchase, the user's most recent click at-or-before it.
    q(
      "q14_asof_join",
      """SELECT p.user_id, epoch_us(p.ts) AS ts_us, p.value AS purchase_value,
        |  epoch_us(c.ts) AS click_ts_us, c.value AS click_value
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY p.user_id, ts_us"""
    ) { (s, d) =>
      val ev = Tables.events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("value").as("purchase_value"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("value").as("click_value"))
      AsOfJoin.asOf(purchases, clicks, "user_id", "ts_us", Seq("click_value"))
        .select(col("user_id"), col("ts_us"), col("purchase_value"),
          col("right_ts").as("click_ts_us"), col("click_value"))
        .orderBy("user_id", "ts_us")
    },

    // ---------------------------------------------------------------------
    // S7→S1 roundtrip: export one series to CSV text, re-import through the
    // inference pipeline (datetime detection, wide-format dispatch), and
    // recover the samples. Oracle is the raw samples at ms precision (the
    // reference's ISO8601 path keeps milliseconds).
    q(
      "q15_csv_roundtrip",
      """SELECT epoch_ms(ts) * 1000 AS timestamp_us, value
        |FROM events WHERE event_type = 'click' AND user_id = 3
        |ORDER BY timestamp_us"""
    ) { (s, d) =>
      val samples = EventsAdapter.samples(s, d)
        .filter(col("sensor_id") === "click 3")
        .select("timestamp_us", "value")
      val lines = Exporters.toCsv(samples)
      val raw = lines.toDF("line").select(
        substring_index(col("line"), ",", 1).as("timestamp"),
        substring_index(col("line"), ",", -1).as("value"))
      val batch = CsvImporter.importFrames(s, raw)
      batch.samples(graft.model.SensorType.Float)
        .select(col("timestamp_us"), col("value"))
        .orderBy("timestamp_us")
    },

    // S9→S2 roundtrip: export one series to SenML records, reassemble the
    // JSON array, re-import with base-field resolution.
    q(
      "q16_senml_roundtrip",
      """SELECT epoch_ms(ts) * 1000 AS timestamp_us, value
        |FROM events WHERE event_type = 'purchase' AND user_id = 5
        |ORDER BY timestamp_us"""
    ) { (s, d) =>
      import s.implicits._
      val samples = EventsAdapter.samples(s, d)
        .filter(col("sensor_id") === "purchase 5")
        .select("timestamp_us", "value")
      val doc = SenML.exportMulti(SenML.seriesFrame(samples, "uuid-q16",
        "purchase", None, Map.empty, graft.model.SensorType.Float))
        .agg(concat(lit("["), concat_ws(",", collect_list(col("value"))),
          lit("]")).as("doc"))
        .as[String]
      SenML.importJson(doc)(graft.model.SensorType.Float)
        .select(col("timestamp_us"), col("value"))
        .orderBy("timestamp_us")
    },

    // S4: InfluxDB line-protocol — lines synthesized from events, parsed
    // distributed, aggregated per label.
    q(
      "q18_influx_parse",
      """SELECT CAST(user_id AS VARCHAR) AS user_tag, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events WHERE event_type = 'view'
        |GROUP BY user_tag ORDER BY user_tag"""
    ) { (s, d) =>
      import s.implicits._
      val lines = Tables.events(s, d)
        .filter(col("event_type") === "view")
        .select(concat(
          lit("views,user="), col("user_id"),
          lit(" value="), col("value").cast("string"),
          lit(" "), (unix_micros(col("ts")) * 1000).cast("string")).as("line"))
        .as[String]
      InfluxLineProtocol.parse(lines, "bkt", "org", "ns")
        .select(element_at(col("labels"), "user").as("user_tag"),
          col("double_value"))
        .groupBy("user_tag")
        .agg(count(lit(1)).as("n"), dsum(col("double_value")).as("sum_value"))
        .orderBy("user_tag")
    },

    // S13: Gorilla/XOR chunk encode→decode roundtrip, one chunk per sensor,
    // distributed via groupByKey (reference:
    // src/parsing/prometheus/chunk_encoder.rs:19-74). Oracle is the raw
    // samples at Prometheus ms precision.
    q(
      "q20_gorilla_roundtrip",
      """SELECT event_type AS sensor_name, CAST(user_id AS VARCHAR) AS user_tag,
        |  epoch_ms(ts) AS timestamp_ms, value
        |FROM events ORDER BY sensor_name, user_tag, timestamp_ms"""
    ) { (s, d) =>
      import s.implicits._
      EventsAdapter.samples(s, d)
        .select(col("sensor_name"), col("user"),
          (col("timestamp_us") / 1000).cast("long").as("timestamp_ms"),
          col("value"))
        .as[(String, String, Long, Double)]
        .groupByKey { case (name, user, _, _) => (name, user) }
        .flatMapGroups { (key: (String, String),
            rows: Iterator[(String, String, Long, Double)]) =>
          val samples = rows.toSeq.sortBy(_._3)
            .map(r => XorChunk.Sample(r._3, r._4))
          XorChunk.decode(XorChunk.encode(samples))
            .map(x => (key._1, key._2, x.timestampMs, x.value))
        }
        .toDF("sensor_name", "user_tag", "timestamp_ms", "value")
        .orderBy("sensor_name", "user_tag", "timestamp_ms")
    },

    // S5/S12: Prometheus remote-write bytes (protobuf + snappy) built per
    // series, then decompressed and parsed back — the full ingest codec
    // path, distributed (reference:
    // src/ingestors/http/prometheus_write.rs:100-180).
    q(
      "q21_remote_write_roundtrip",
      """SELECT sensor_name, user_tag, timestamp_ms, value FROM (
        |  SELECT event_type AS sensor_name, CAST(user_id AS VARCHAR) AS user_tag,
        |    epoch_ms(ts) AS timestamp_ms, value
        |  FROM events WHERE event_type IN ('signup', 'error'))
        |ORDER BY sensor_name, user_tag, timestamp_ms"""
    ) { (s, d) =>
      import s.implicits._
      EventsAdapter.samples(s, d)
        .filter(col("sensor_name").isin("signup", "error"))
        .select(col("sensor_name"), col("user"),
          (col("timestamp_us") / 1000).cast("long").as("timestamp_ms"),
          col("value"))
        .as[(String, String, Long, Double)]
        .groupByKey { case (name, user, _, _) => (name, user) }
        .flatMapGroups { (key: (String, String),
            rows: Iterator[(String, String, Long, Double)]) =>
          import PrometheusRemote._
          val (name, user) = key
          // encode one WriteRequest per series
          val w = new ProtoWriter
          val tsw = new ProtoWriter
          Seq(Label("__name__", name), Label("user", user))
            .foreach { l =>
              val lw = new ProtoWriter
              lw.string(1, l.name); lw.string(2, l.value)
              tsw.message(1, lw)
            }
          rows.toSeq.sortBy(_._3).foreach { r =>
            val sw = new ProtoWriter
            sw.double(1, r._4); sw.int64(2, r._3)
            tsw.message(2, sw)
          }
          w.message(1, tsw)
          val wire = snappyCompressLiteral(w.result())
          // decode path: snappy + protobuf parse
          val req = parseWriteRequest(snappyDecompress(wire))
          req.timeseries.flatMap { ts =>
            val n = ts.labels.find(_.name == "__name__").map(_.value).get
            val u = ts.labels.find(_.name == "user").map(_.value).get
            ts.samples.map(sm => (n, u, sm.timestampMs, sm.value))
          }
        }
        .toDF("sensor_name", "user_tag", "timestamp_ms", "value")
        .orderBy("sensor_name", "user_tag", "timestamp_ms")
    },

    // S6: SensorStore write/read roundtrip — month-partitioned sorted
    // parquet publish, then a pruned range scan over the store.
    q(
      "q33_store_roundtrip",
      """SELECT epoch_us(ts) AS timestamp_us, value
        |FROM events
        |WHERE event_type = 'view' AND user_id = 7
        |  AND epoch_us(ts) BETWEEN 1704412800000000 AND 1705708800000000
        |ORDER BY timestamp_us LIMIT 100"""
    ) { (s, d) =>
      val root = graft.TempDirs.createPath("graft_store")
      val store = new graft.store.SensorStore(s, root)
      store.publishSamples(graft.model.SensorType.Float,
        EventsAdapter.samples(s, d)
          .select("sensor_id", "timestamp_us", "value"))
      SensorOps.rangeScan(
        store.samplesInRange(graft.model.SensorType.Float,
          Some(1704412800000000L), Some(1705708800000000L)), "view 7",
        Some(1704412800000000L), Some(1705708800000000L), 100)
        .select("timestamp_us", "value")
    },

    // S3/S11: Arrow IPC export→import roundtrip, one IPC file per sensor,
    // distributed (reference: src/exporters/arrow/mod.rs:17-105,
    // src/importers/arrow.rs:26-52). Oracle is the raw samples (µs-exact —
    // Arrow timestamps are µs-native).
    q(
      "q34_arrow_roundtrip",
      """SELECT event_type AS sensor_name, CAST(user_id AS VARCHAR) AS user_tag,
        |  epoch_us(ts) AS timestamp_us, value
        |FROM events WHERE event_type IN ('click', 'purchase')
        |ORDER BY sensor_name, user_tag, timestamp_us"""
    ) { (s, d) =>
      import s.implicits._
      EventsAdapter.samples(s, d)
        .filter(col("sensor_name").isin("click", "purchase"))
        .select(col("sensor_name"), col("user"), col("timestamp_us"),
          col("value"))
        .as[(String, String, Long, Double)]
        .groupByKey { case (name, user, _, _) => (name, user) }
        .flatMapGroups { (key: (String, String),
            rows: Iterator[(String, String, Long, Double)]) =>
          val samples = rows.toSeq.sortBy(_._3).map(r => (r._3, r._4))
          val bytes = graft.sources.ArrowIO.encodeFloatSeries(samples)
          graft.sources.ArrowIO.decodeFloatSeries(bytes)
            .map(x => (key._1, key._2, x._1, x._2))
        }
        .toDF("sensor_name", "user_tag", "timestamp_us", "value")
        .orderBy("sensor_name", "user_tag", "timestamp_us")
    },

    // Location value type (§1.2): lat/lon struct samples exported to the
    // reference's `timestamp,latitude,longitude` CSV shape (S7) and parsed
    // back. Coordinates derived deterministically from the data.
    q(
      "q36_location_csv",
      """SELECT epoch_ms(ts) * 1000 AS timestamp_us,
        |  value % 90 AS latitude, (value * 2) % 180 AS longitude
        |FROM events WHERE event_type = 'signup' AND user_id = 11
        |ORDER BY timestamp_us"""
    ) { (s, d) =>
      val locs = EventsAdapter.samples(s, d)
        .filter(col("sensor_id") === "signup 11")
        .select(col("timestamp_us"),
          (col("value") % 90).as("latitude"),
          ((col("value") * 2) % 180).as("longitude"))
      // S7 Location CSV: timestamp,latitude,longitude
      val lines = locs.orderBy("timestamp_us")
        .select(concat_ws(",",
          Exporters.rfc3339(col("timestamp_us")),
          col("latitude").cast("string"),
          col("longitude").cast("string")).as("line"))
      val raw = lines.select(
        split(col("line"), ",").getItem(0).as("timestamp"),
        split(col("line"), ",").getItem(1).as("latitude"),
        split(col("line"), ",").getItem(2).as("longitude"))
      val batch = CsvImporter.importFrames(s, raw)
      // wide import: latitude and longitude become two Float sensors;
      // join them back into Location structs on the timestamp
      val f = batch.samples(graft.model.SensorType.Float)
      val lat = f.filter(col("sensor_id") ===
        graft.model.Sensor.deriveUuid("latitude", graft.model.SensorType.Float))
        .select(col("timestamp_us"), col("value").as("latitude"))
      val lon = f.filter(col("sensor_id") ===
        graft.model.Sensor.deriveUuid("longitude", graft.model.SensorType.Float))
        .select(col("timestamp_us"), col("value").as("longitude"))
      lat.join(lon, "timestamp_us").orderBy("timestamp_us")
    },

    // All-typed store roundtrip (§1.2): Integer/Boolean/Numeric tables
    // derived from events, published through SensorStore, aggregated per
    // type on read-back.
    q(
      "q37_typed_store",
      """SELECT * FROM (
        |  SELECT 'Integer' AS type, COUNT(*) AS n,
        |    CAST(SUM(user_id) AS DOUBLE) AS agg FROM events
        |  UNION ALL
        |  SELECT 'Boolean' AS type, COUNT(*) AS n,
        |    CAST(SUM(CASE WHEN value > 10 THEN 1 ELSE 0 END) AS DOUBLE) AS agg
        |  FROM events
        |  UNION ALL
        |  SELECT 'Numeric' AS type, COUNT(*) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS agg FROM events
        |) ORDER BY type"""
    ) { (s, d) =>
      import graft.model.SensorType
      val root = graft.TempDirs.createPath("graft_typed_store")
      val store = new graft.store.SensorStore(s, root)
      val base = EventsAdapter.samples(s, d)
      // one multi-type publish: the three typed writes land as
      // concurrent jobs on the shared executors (wall ≈ max, not sum)
      store.publishSamplesMulti(Map(
        SensorType.Integer ->
          base.select(col("sensor_id"), col("timestamp_us"),
            col("user").cast("long").as("value")),
        SensorType.Boolean ->
          base.select(col("sensor_id"), col("timestamp_us"),
            (col("value") > 10).as("value")),
        SensorType.Numeric ->
          base.select(col("sensor_id"), col("timestamp_us"),
            col("value").cast("decimal(38,18)").as("value"))))
      def aggOf(t: SensorType, agg: Column): DataFrame =
        store.samples(t).agg(count(lit(1)).as("n"), agg.as("agg"))
          .select(lit(t.displayName).as("type"), col("n"), col("agg"))
      aggOf(SensorType.Integer, sum(col("value")).cast("double"))
        .unionByName(aggOf(SensorType.Boolean,
          sum(when(col("value"), 1).otherwise(0)).cast("double")))
        .unionByName(aggOf(SensorType.Numeric,
          sum(col("value").cast("decimal(18,2)")).cast("double")))
        .orderBy("type")
    },

    // S8: multi-series long CSV with the sorted union of label keys as
    // columns (reference: src/exporters/csv.rs:125-172) — exported, parsed
    // back, aggregated.
    q(
      "q38_csv_multi",
      """SELECT event_type AS sensor_name, CAST(user_id AS VARCHAR) AS user_tag,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events WHERE event_type IN ('error', 'signup') AND user_id < 20
        |GROUP BY sensor_name, user_tag ORDER BY sensor_name, user_tag"""
    ) { (s, d) =>
      val long = EventsAdapter.samples(s, d)
        .filter(col("sensor_name").isin("error", "signup") &&
          col("user").cast("int") < 20)
        .select(col("timestamp_us"), col("sensor_id"), col("sensor_name"),
          col("value").cast("string").as("value"),
          lit("Float").as("type"),
          map(lit("user"), col("user")).as("labels"))
      val (header, lines) = Exporters.toCsvMulti(long)
      require(header == "timestamp,sensor_id,sensor_name,value,type,user")
      lines.toDF("line")
        .select(split(col("line"), ",").as("f"))
        .select(col("f").getItem(2).as("sensor_name"),
          col("f").getItem(5).as("user_tag"),
          col("f").getItem(3).cast("double").as("value"))
        .groupBy(col("sensor_name"), col("user_tag"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .orderBy("sensor_name", "user_tag")
    },

    // S7 Blob/base64 edge (reference: src/exporters/csv.rs:101-112): text
    // bytes as blobs, base64-encoded into CSV cells, decoded back.
    q(
      "q39_blob_base64",
      """SELECT doc_id, length(text) AS n_chars, substring(text, 1, 10) AS head
        |FROM documents WHERE doc_id < 50 ORDER BY doc_id"""
    ) { (s, d) =>
      val blobs = Tables.documents(s, d)
        .filter(col("doc_id") < 50)
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("blob"))
      // CSV cell: base64(blob); decode path recovers the payload
      val cells = blobs.select(col("doc_id"), base64(col("blob")).as("cell"))
      cells
        .select(col("doc_id"),
          decode(unbase64(col("cell")), "UTF-8").as("text"))
        .select(col("doc_id"), length(col("text")).as("n_chars"),
          substring(col("text"), 1, 10).as("head"))
        .orderBy("doc_id")
    },

    // Virtual composite sensor (doc-only in the reference,
    // docs/DATAMODEL.md:125-131): two series resampled onto a shared
    // 1-day tumbling window, one column each; windows where a series is
    // silent stay null. The library sums f64; ROUND(4) on both sides
    // absorbs summation-order ULP drift (true sums are 2-decimal values).
    q(
      "q45_composite_sensor",
      """SELECT epoch_us(date_trunc('day', ts)) AS window_start_us,
        |  ROUND(SUM(CASE WHEN event_type = 'view' THEN value END), 4)
        |    AS view_7,
        |  ROUND(SUM(CASE WHEN event_type = 'click' THEN value END), 4)
        |    AS click_7
        |FROM events
        |WHERE user_id = 7 AND event_type IN ('view', 'click')
        |GROUP BY 1 ORDER BY 1"""
    ) { (s, d) =>
      SensorOps.compositeSensor(
        EventsAdapter.samples(s, d)
          .select("sensor_id", "timestamp_us", "value"),
        Seq("view 7", "click 7"), "1 day", "sum")
        .select(col("window_start_us"),
          round(col("view 7"), 4).as("view_7"),
          round(col("click 7"), 4).as("click_7"))
    },

    // Deadband ingest compression: keep a sample iff it moved more than
    // eps from the last KEPT sample of its series — a sequential
    // recurrence on the last kept value. No window function expresses it,
    // but a recursive CTE does: each iteration advances every series'
    // frontier to its next kept sample (first later row whose |Δ| > eps),
    // exactly the batch sweep's recurrence. Streaming state semantics
    // stay pinned in DeadbandSpec.
    q(
      "q49_deadband",
      """WITH RECURSIVE src AS (
        |  SELECT event_type || ' ' || user_id AS sensor_id,
        |         epoch_us(ts) AS timestamp_us, value,
        |         ROW_NUMBER() OVER (PARTITION BY event_type || ' ' || user_id
        |                            ORDER BY epoch_us(ts), value) AS rn
        |  FROM events),
        |kept AS (
        |  SELECT sensor_id, timestamp_us, value, rn FROM src WHERE rn = 1
        |  UNION ALL
        |  SELECT n.sensor_id, n.timestamp_us, n.value, n.rn
        |  FROM kept k, LATERAL (
        |    SELECT s.sensor_id, s.timestamp_us, s.value, s.rn
        |    FROM src s
        |    WHERE s.sensor_id = k.sensor_id AND s.rn > k.rn
        |      AND abs(s.value - k.value) > 5.0
        |    ORDER BY s.rn LIMIT 1) n)
        |SELECT sensor_id, timestamp_us, value FROM kept
        |ORDER BY sensor_id, timestamp_us"""
    ) { (s, d) =>
      graft.streaming.Deadband.compress(
        EventsAdapter.samples(s, d)
          .select("sensor_id", "timestamp_us", "value"), eps = 5.0)
        .orderBy("sensor_id", "timestamp_us")
    },

    // Arrow bulk export roundtrip: every series encoded to its own IPC
    // payload ON THE EXECUTORS (shuffle on sensor_id; the driver never
    // holds raw samples — the Flight-style bulk path the reference's
    // single-request Arrow exporter stops short of), then decoded back
    // and aggregated. The oracle aggregates the source directly: the
    // roundtrip must be the identity.
    q(
      "q53_arrow_bulk",
      """SELECT event_type || ' ' || user_id AS sensor_id,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY sensor_id ORDER BY sensor_id"""
    ) { (s, d) =>
      import graft.sources.ArrowIO
      val samples = EventsAdapter.samples(s, d)
        .select("sensor_id", "timestamp_us", "value")
      val decoded = ArrowIO.decodeSeriesDistributed(
        ArrowIO.encodeSeriesDistributed(samples))
      decoded.groupBy(col("sensor_id"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .orderBy("sensor_id")
    },

    // S4 Numeric mode (reference: src/ingestors/http/influxdb.rs:63-125):
    // i64 and f64 fields land as EXACT decimals. The hash surface is the
    // sum rescaled to scale 6 (pre-Ryu JDK Double.toString vs DuckDB
    // double→VARCHAR disagree 1 ulp at digit ~17 of the scale-18 sum, so
    // scale 6 leaves 11 orders of slack) and then SHIFTED to BIGINT
    // micro-units: decimal outputs hash differently at the driver even
    // when value-identical, while integer outputs are proven portable in
    // the 20+ md5-trick queries. The ×1e6 shift of a scale-6 decimal is
    // exact integer arithmetic on both engines — no value change vs the
    // locally-verified DECIMAL(38,6) surface, only a BIGINT rendering.
    q(
      "q68_influx_numeric",
      """SELECT 'ev cnt' AS sensor_name,
        |  CAST(CAST(SUM(CAST(CAST(user_id AS BIGINT) AS DECIMAL(38,18)))
        |    AS DECIMAL(38,6)) * 1000000 AS BIGINT) AS total_micros
        |FROM events WHERE event_type = 'click'
        |UNION ALL
        |SELECT 'ev value' AS sensor_name,
        |  CAST(CAST(SUM(CAST(CAST(value AS VARCHAR) AS DECIMAL(38,18)))
        |    AS DECIMAL(38,6)) * 1000000 AS BIGINT) AS total_micros
        |FROM events WHERE event_type = 'click'
        |ORDER BY sensor_name"""
    ) { (s, d) =>
      import s.implicits._
      val lines = Tables.events(s, d)
        .filter(col("event_type") === "click")
        .select(concat(
          lit("ev,user="), col("user_id"),
          lit(" value="), col("value").cast("string"),
          lit(",cnt="), col("user_id").cast("string"), lit("i"),
          lit(" "), (unix_micros(col("ts")) * 1000).cast("string")).as("line"))
        .as[String]
      InfluxLineProtocol.parse(lines, "bkt", "org", "ns", withNumeric = true)
        .groupBy(col("sensor_name"))
        .agg((sum(col("numeric_value")).cast("decimal(38,6)") * lit(1000000L))
          .cast("long").as("total_micros"))
        .orderBy("sensor_name")
    },

    // S6 on the ORC backend: the reference's pluggable-storage-trait
    // analog is Spark's datasource layer — the SAME store logic (month
    // partitioning, sorted files, pruned range reads) over ORC instead
    // of parquet. Same oracle as the parquet roundtrip q33.
    q(
      "q79_store_orc",
      """SELECT epoch_us(ts) AS timestamp_us, value
        |FROM events
        |WHERE event_type = 'view' AND user_id = 7
        |  AND epoch_us(ts) BETWEEN 1704412800000000 AND 1705708800000000
        |ORDER BY timestamp_us LIMIT 100"""
    ) { (s, d) =>
      val root = graft.TempDirs.createPath("graft_store_orc")
      val store = new graft.store.SensorStore(s, root, format = "orc")
      store.publishSamples(graft.model.SensorType.Float,
        EventsAdapter.samples(s, d)
          .select("sensor_id", "timestamp_us", "value"))
      SensorOps.rangeScan(
        store.samplesInRange(graft.model.SensorType.Float,
          Some(1704412800000000L), Some(1705708800000000L)), "view 7",
        Some(1704412800000000L), Some(1705708800000000L), 100)
        .select("timestamp_us", "value")
    },

    // Typed Arrow roundtrip for the non-Float value types (S3/S11,
    // reference: src/exporters/arrow/mod.rs:224-388, src/importers/
    // arrow.rs:143-294): six per-event_type series — Integer, Numeric
    // Decimal128(38,18), Utf8, Boolean, Struct{latitude,longitude},
    // Binary — are ENCODED to Arrow IPC bytes and DECODED back on the
    // executors; the checksums are computed from the DECODED samples, so
    // any corruption in the typed vectors breaks the hash. Checksums are
    // exact (integer/decimal arithmetic or exact dyadic doubles), so
    // iterator order is irrelevant. The blob byte is replayed in DuckDB
    // via the portable md5-prefix trick; the Numeric column derives from
    // the double's string rendering on both sides (the q68 contract).
    q(
      "q81_arrow_typed",
      """WITH e AS (SELECT event_type, user_id, value FROM events)
        |SELECT * FROM (
        |  SELECT 'integer' AS value_type, event_type AS sensor_name,
        |    COUNT(*) AS n,
        |    CAST(CAST(SUM(user_id) AS DECIMAL(38,6)) * 1000000 AS BIGINT)
        |      AS checksum
        |  FROM e GROUP BY event_type
        |  UNION ALL
        |  SELECT 'numeric', event_type, COUNT(*),
        |    CAST(CAST(SUM(CAST(CAST(value AS VARCHAR) AS DECIMAL(38,18)))
        |      AS DECIMAL(38,6)) * 1000000 AS BIGINT)
        |  FROM e GROUP BY event_type
        |  UNION ALL
        |  SELECT 'string', event_type, COUNT(*),
        |    CAST(CAST(SUM(length(event_type || ':' ||
        |      CAST(user_id AS VARCHAR))) AS DECIMAL(38,6)) * 1000000
        |      AS BIGINT)
        |  FROM e GROUP BY event_type
        |  UNION ALL
        |  SELECT 'boolean', event_type, COUNT(*),
        |    CAST(CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
        |      AS DECIMAL(38,6)) * 1000000 AS BIGINT)
        |  FROM e GROUP BY event_type
        |  UNION ALL
        |  SELECT 'location', event_type, COUNT(*),
        |    CAST(CAST(-2 * SUM(user_id) AS DECIMAL(38,6)) * 1000000
        |      AS BIGINT)
        |  FROM e GROUP BY event_type
        |  UNION ALL
        |  SELECT 'blob', event_type, COUNT(*),
        |    CAST(CAST(SUM(('0x' || substr(md5(CAST(user_id AS VARCHAR)),
        |      1, 2))::BIGINT) AS DECIMAL(38,6)) * 1000000 AS BIGINT)
        |  FROM e GROUP BY event_type)
        |ORDER BY value_type, sensor_name"""
    ) { (s, d) =>
      import s.implicits._
      import graft.model.SensorType
      import graft.sources.ArrowIO
      import ArrowIO.TypedSeries
      val ev = Tables.events(s, d).select(
        col("event_type"),
        unix_micros(col("ts")).as("ts_us"),
        col("user_id"),
        col("value").cast("decimal(38,18)").as("numeric_v"),
        unhex(md5(col("user_id").cast("string"))).as("blob_v"))
        .as[(String, Long, Long, java.math.BigDecimal, Array[Byte])]
      ev.groupByKey(_._1).flatMapGroups { (et, it) =>
        val rows = it.toArray
        def bd(x: Long) = java.math.BigDecimal.valueOf(x)
        val series = Seq[(String, TypedSeries)](
          "integer" -> TypedSeries(SensorType.Integer, Some(et), Some(et),
            rows.map(r => (r._2, r._3: Any)).toSeq),
          "numeric" -> TypedSeries(SensorType.Numeric, Some(et), Some(et),
            rows.map(r => (r._2, r._4: Any)).toSeq),
          "string" -> TypedSeries(SensorType.Str, Some(et), Some(et),
            rows.map(r => (r._2, s"$et:${r._3}": Any)).toSeq),
          "boolean" -> TypedSeries(SensorType.Boolean, Some(et), Some(et),
            rows.map(r => (r._2, (r._3 % 2 == 0): Any)).toSeq),
          // exact dyadic doubles: integer-valued lat/lon sum exactly
          "location" -> TypedSeries(SensorType.Location, Some(et), Some(et),
            rows.map(r => (r._2, (r._3.toDouble, -(3L * r._3).toDouble): Any))
              .toSeq),
          "blob" -> TypedSeries(SensorType.Blob, Some(et), Some(et),
            rows.map(r => (r._2, r._5: Any)).toSeq))
        series.map { case (tn, ser) =>
          val dec = ArrowIO.decodeTypedSeries(ArrowIO.encodeTypedSeries(ser))
          require(dec.sensorId.contains(et) && dec.sensorName.contains(et),
            s"metadata lost in roundtrip for $tn")
          val checksum: java.math.BigDecimal = tn match {
            case "integer" =>
              bd(dec.samples.iterator.map(_._2.asInstanceOf[Long]).sum)
            case "numeric" =>
              dec.samples.iterator
                .map(_._2.asInstanceOf[java.math.BigDecimal])
                .foldLeft(java.math.BigDecimal.ZERO)(_.add(_))
            case "string" =>
              bd(dec.samples.iterator
                .map(_._2.asInstanceOf[String].length.toLong).sum)
            case "boolean" =>
              bd(dec.samples.count(_._2.asInstanceOf[Boolean]).toLong)
            case "location" =>
              dec.samples.iterator
                .map(_._2.asInstanceOf[(Double, Double)])
                .foldLeft(java.math.BigDecimal.ZERO) { case (acc, (la, lo)) =>
                  acc.add(new java.math.BigDecimal(la))
                    .add(new java.math.BigDecimal(lo))
                }
            case "blob" =>
              bd(dec.samples.iterator
                .map(p => (p._2.asInstanceOf[Array[Byte]](0) & 0xff).toLong)
                .sum)
          }
          // Rescale to scale 6 with HALF_UP (exactly what the former
          // Catalyst cast to DECIMAL(38,6) did), then shift to BIGINT
          // micro-units: integer hash surfaces are driver-portable,
          // decimal ones are not (the q68 lesson). The shift is exact.
          val micros = checksum
            .setScale(6, java.math.RoundingMode.HALF_UP)
            .movePointRight(6).longValueExact()
          (tn, et, dec.samples.length.toLong, micros)
        }
      }
        .toDF("value_type", "sensor_name", "n", "checksum")
        .orderBy("value_type", "sensor_name")
    },

    // Sensor gap / availability report: inter-sample gaps > 4 days per
    // sensor — the silent-sensor downtime audit. One LAG window per
    // sensor (keyed shuffle + in-partition sort), duplicate timestamps
    // tie-break on value; pure integer µs arithmetic.
    q(
      "q159_gap_report",
      """WITH s AS (SELECT event_type || ' ' || user_id AS sensor_id,
        |    epoch_us(ts) AS t, value FROM events),
        |g AS (SELECT sensor_id, t, LAG(t) OVER (
        |    PARTITION BY sensor_id ORDER BY t, value) AS p FROM s)
        |SELECT sensor_id, p AS gap_start_us, t AS gap_end_us,
        |  t - p AS gap_us
        |FROM g WHERE p IS NOT NULL AND t - p > 345600000000
        |ORDER BY sensor_id, gap_start_us"""
    ) { (s, d) =>
      graft.operators.SensorOps.gapReport(
          EventsAdapter.samples(s, d), thresholdUs = 345600000000L)
        .orderBy("sensor_id", "gap_start_us")
    },

    // Classic BI rollup: nation revenue share within region and of the
    // corpus, dims broadcast, DECIMAL-exact revenue sums.
    q(
      "q223_revenue_rollup",
      """WITH rev AS (SELECT c.c_nationkey AS nk,
        |    SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS r
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  GROUP BY 1),
        |nr AS (SELECT n.n_regionkey AS rk, n.n_name, rev.r
        |  FROM rev JOIN nation n ON rev.nk = n.n_nationkey),
        |rr AS (SELECT rk, CAST(SUM(r) AS DECIMAL(18,2)) AS rr
        |  FROM nr GROUP BY 1),
        |tt AS (SELECT CAST(SUM(r) AS DECIMAL(18,2)) AS t FROM nr)
        |SELECT rg.r_name AS region_name, nr.n_name AS nation_name,
        |  CAST(nr.r AS DOUBLE) AS revenue,
        |  ROUND(CAST(nr.r AS DOUBLE) / CAST(rr.rr AS DOUBLE), 6)
        |    AS share_region,
        |  ROUND(CAST(nr.r AS DOUBLE) / CAST(tt.t AS DOUBLE), 6)
        |    AS share_total
        |FROM nr JOIN rr USING (rk)
        |JOIN region rg ON nr.rk = rg.r_regionkey
        |CROSS JOIN tt
        |ORDER BY region_name, nation_name"""
    ) { (s, d) =>
      val rev = Tables.orders(s, d)
        .join(Tables.customer(s, d),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey").as("nk"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("r"))
      val nr = rev.join(broadcast(Tables.nation(s, d)),
          col("nk") === col("n_nationkey"))
        .select(col("n_regionkey").as("rk"), col("n_name"), col("r"))
      val rr = nr.groupBy(col("rk"))
        .agg(sum(col("r")).cast("decimal(18,2)").as("rr"))
      val tt = broadcast(nr.agg(
        sum(col("r")).cast("decimal(18,2)").as("t")))
      nr.join(broadcast(rr), "rk")
        .join(broadcast(Tables.region(s, d)),
          col("rk") === col("r_regionkey"))
        .crossJoin(tt)
        .select(col("r_name").as("region_name"),
          col("n_name").as("nation_name"),
          col("r").cast("double").as("revenue"),
          round(col("r").cast("double") / col("rr").cast("double"), 6)
            .as("share_region"),
          round(col("r").cast("double") / col("t").cast("double"), 6)
            .as("share_total"))
        .orderBy("region_name", "nation_name")
    },

    // Catalog structure chi-square: brand × type contingency
    // contributions (chiSquareContrib reuse over the literal type
    // domain).
    q("q268_catalog_chi", partChiSql) { (s, d) =>
      graft.pipeline.Profiler.chiSquareContrib(
          Tables.part(s, d).select(col("p_brand"), col("p_type")),
          "p_brand", "p_type", partTypeDomain.map(x => x: Any))
        .orderBy("p_brand")
    },

    // Incremental aggregate maintenance: partial (count, DECIMAL sum,
    // min, max) summaries computed on two disjoint slices, then MERGED
    // — summary-sized work standing in for a full rollup recompute.
    // The oracle aggregates the raw rows directly: merge ≡ recompute
    // IS the assertion.
    q(
      "q289_incremental_agg",
      """SELECT l_returnflag AS flag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_v,
        |  MIN(l_quantity) AS min_v, MAX(l_quantity) AS max_v
        |FROM lineitem GROUP BY 1 ORDER BY flag"""
    ) { (s, d) =>
      import graft.operators.PartialAggs
      val li = Tables.lineitem(s, d)
        .select(col("l_returnflag").as("flag"), col("l_quantity"),
          col("l_orderkey"))
      val sliceA = PartialAggs.partial(
        li.filter(col("l_orderkey") % 2 === 0), Seq("flag"), "l_quantity")
      val sliceB = PartialAggs.partial(
        li.filter(col("l_orderkey") % 2 === 1), Seq("flag"), "l_quantity")
      PartialAggs.merge(Seq(sliceA, sliceB), Seq("flag"))
        .select(col("flag"), col("n"),
          col("sum_v").cast("double").as("sum_v"),
          col("min_v"), col("max_v"))
        .orderBy("flag")
    },

    // Native as-of join — q14's semantics through the custom physical
    // operator (AsOfJoinPlan → GraftStrategies → AsOfJoinExec): one
    // streaming merge per co-partitioned co-sorted partition pair,
    // O(1) state, left partitioning preserved. Same DuckDB ASOF
    // oracle as q14; PropertySpec pins native ≡ composed.
    q(
      "q301_asof_native",
      """SELECT p.user_id, epoch_us(p.ts) AS ts_us, p.value AS purchase_value,
        |  epoch_us(c.ts) AS click_ts_us, c.value AS click_value
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY p.user_id, ts_us"""
    ) { (s, d) =>
      val ev = Tables.events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("value").as("purchase_value"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("value").as("click_value"))
      AsOfJoin.asOfNative(
          purchases, clicks, "user_id", "ts_us", Seq("click_value"))
        .select(col("user_id"), col("ts_us"), col("purchase_value"),
          col("right_ts").as("click_ts_us"), col("click_value"))
        .orderBy("user_id", "ts_us")
    },

    // As-of with tolerance (merge_asof tolerance=1h): the latest prior
    // click only counts within the window — a post-filter on the
    // native as-of (the latest match IS the only candidate within any
    // backward tolerance), so it rides AsOfJoinExec unchanged.
    q(
      "q302_asof_tolerance",
      """SELECT p.user_id, epoch_us(p.ts) AS ts_us,
        |  p.value AS purchase_value,
        |  epoch_us(c.ts) AS click_ts_us, c.value AS click_value
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts
        |WHERE epoch_us(p.ts) - epoch_us(c.ts) <= 3600000000
        |ORDER BY p.user_id, ts_us"""
    ) { (s, d) =>
      val ev = Tables.events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("value").as("purchase_value"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("value").as("click_value"))
      AsOfJoin.asOfNative(
          purchases, clicks, "user_id", "ts_us", Seq("click_value"))
        .filter(col("ts_us") - col("right_ts") <= 3600000000L)
        .select(col("user_id"), col("ts_us"), col("purchase_value"),
          col("right_ts").as("click_ts_us"), col("click_value"))
        .orderBy("user_id", "ts_us")
    },

    // Nearest-match as-of (merge_asof direction='nearest', 1h
    // tolerance, ties backward): backward + forward ignoreNulls
    // carries over ONE key partitioning; the chooser is an integer-µs
    // compare. Oracle replays the same construction.
    q(
      "q303_asof_nearest",
      """WITH p AS (SELECT user_id, epoch_us(ts) AS t, value AS pv
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, epoch_us(ts) AS t, value AS cv
        |  FROM events WHERE event_type = 'click'),
        |u AS (SELECT user_id, t, 1 AS side, pv, NULL::DOUBLE AS cv
        |  FROM p
        |  UNION ALL SELECT user_id, t, 0, NULL, cv FROM c),
        |w AS (SELECT user_id, t, side, pv,
        |    last_value(CASE WHEN side = 0 THEN t END IGNORE NULLS)
        |      OVER wb AS pts,
        |    last_value(CASE WHEN side = 0 THEN cv END IGNORE NULLS)
        |      OVER wb AS pvv,
        |    first_value(CASE WHEN side = 0 THEN t END IGNORE NULLS)
        |      OVER wf AS nts,
        |    first_value(CASE WHEN side = 0 THEN cv END IGNORE NULLS)
        |      OVER wf AS nvv
        |  FROM u WINDOW
        |    wb AS (PARTITION BY user_id ORDER BY t, side
        |      ROWS UNBOUNDED PRECEDING),
        |    wf AS (PARTITION BY user_id ORDER BY t, side
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
        |ch AS (SELECT user_id, t, pv,
        |    CASE WHEN pts IS NOT NULL
        |      AND (nts IS NULL OR t - pts <= nts - t)
        |      THEN pts ELSE nts END AS rts,
        |    CASE WHEN pts IS NOT NULL
        |      AND (nts IS NULL OR t - pts <= nts - t)
        |      THEN pvv ELSE nvv END AS cv
        |  FROM w WHERE side = 1)
        |SELECT user_id, t AS ts_us, pv AS purchase_value,
        |  rts AS click_ts_us, cv AS click_value
        |FROM ch WHERE rts IS NOT NULL AND ABS(t - rts) <= 3600000000
        |ORDER BY user_id, ts_us"""
    ) { (s, d) =>
      val ev = Tables.events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("value").as("purchase_value"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("value").as("click_value"))
      AsOfJoin.asOfNearest(purchases, clicks, "user_id", "ts_us",
          "click_value", toleranceUs = 3600000000L)
        .select(col("user_id"), col("ts_us"), col("purchase_value"),
          col("right_ts").as("click_ts_us"), col("click_value"))
        .orderBy("user_id", "ts_us")
    },

    // Deterministic array aggregation: per user, the SORTED distinct
    // event-type array (array_sort ∘ collect_set — the only
    // order-stable way to surface a collected array) + its size.
    q(
      "q305_array_agg",
      """SELECT user_id,
        |  array_to_string(list_sort(list(DISTINCT event_type)), ',')
        |    AS types,
        |  CAST(len(list(DISTINCT event_type)) AS INTEGER) AS n_types
        |FROM events GROUP BY 1 ORDER BY user_id"""
    ) { (s, d) =>
      Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(array_sort(collect_set(col("event_type"))).as("__types"))
        // surface the array as its joined form: the driver's
        // type-sensitive hash canonicalizes scalar kinds only —
        // parquet list child NAMES differ between engines
        .select(col("user_id"),
          array_join(col("__types"), ",").as("types"),
          size(col("__types")).as("n_types"))
        .orderBy("user_id")
    },

    // Masked export surface (pseudonymization): 60-bit salted md5
    // surrogate for the customer key (referential integrity
    // preserved), partial-masked name, acctbal generalized to
    // 1000-unit bands — all deterministic scan-stage expressions,
    // replayed verbatim by the oracle.
    q(
      "q314_masked_export",
      """SELECT ('0x' || substr(md5('mask1:' || CAST(c_custkey AS
        |    VARCHAR)), 1, 15))::BIGINT AS cust_surrogate,
        |  substr(c_name, 1, 9) || repeat('*',
        |    greatest(length(c_name) - 9, 0)) AS name_masked,
        |  CAST(FLOOR(c_acctbal) AS BIGINT) -
        |    ((CAST(FLOOR(c_acctbal) AS BIGINT) % 1000 + 1000) % 1000)
        |    AS acctbal_band,
        |  c_mktsegment
        |FROM customer ORDER BY cust_surrogate"""
    ) { (s, d) =>
      import graft.pipeline.Governance
      Tables.customer(s, d)
        .select(
          Governance.hashMask(col("c_custkey"), "mask1:")
            .as("cust_surrogate"),
          Governance.partialMask(col("c_name"), 9).as("name_masked"),
          Governance.bandFloor("FLOOR(c_acctbal)", 1000L)
            .as("acctbal_band"),
          col("c_mktsegment"))
        .orderBy("cust_surrogate")
    },

    // Burstiness memory coefficient (Goh & Barabási): lag-1
    // autocorrelation of each sensor's inter-arrival gaps — M > 0
    // means long gaps follow long gaps. Reuses the q199 correlation
    // kernel on the second-order (gap) series, row-number keyed so
    // both engines share the total order.
    q(
      "q333_gap_memory",
      """WITH s AS (SELECT event_type || ' ' || user_id AS sensor_id,
        |    epoch_us(ts) AS t, value FROM events),
        |g AS (SELECT sensor_id,
        |    (t - LAG(t) OVER w) // 1000000 AS v,
        |    ROW_NUMBER() OVER w AS rn
        |  FROM s WINDOW w AS (PARTITION BY sensor_id
        |    ORDER BY t, value)),
        |gg AS (SELECT sensor_id, rn, v FROM g WHERE v IS NOT NULL),
        |l AS (SELECT sensor_id, v, LAG(v, 1) OVER (
        |    PARTITION BY sensor_id ORDER BY rn) AS l1 FROM gg),
        |a AS (SELECT sensor_id,
        |    CAST(COUNT(l1) AS DOUBLE) AS n1,
        |    CAST(SUM(CASE WHEN l1 IS NOT NULL THEN v END) AS DOUBLE)
        |      AS sx1,
        |    CAST(SUM(CASE WHEN l1 IS NOT NULL THEN v * v END)
        |      AS DOUBLE) AS sxx1,
        |    CAST(SUM(l1) AS DOUBLE) AS sy1,
        |    CAST(SUM(l1 * l1) AS DOUBLE) AS syy1,
        |    CAST(SUM(v * l1) AS DOUBLE) AS sxy1
        |  FROM l GROUP BY 1)
        |SELECT sensor_id, 1 AS lag_k, CAST(n1 AS BIGINT) AS n_pairs,
        |  ROUND((n1 * sxy1 - sx1 * sy1)
        |    / (sqrt(n1 * sxx1 - sx1 * sx1)
        |       * sqrt(n1 * syy1 - sy1 * sy1)), 6) AS acf
        |FROM a ORDER BY sensor_id"""
    ) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("sensor_id"))
        .orderBy(col("timestamp_us"), col("value"))
      val gaps = EventsAdapter.samples(s, d)
        .select(col("sensor_id"), col("timestamp_us"), col("value"))
        .withColumn("v", expr(
          "(timestamp_us - lag(timestamp_us, 1) over (partition by" +
            " sensor_id order by timestamp_us, value))" +
            " div 1000000"))
        .withColumn("rn", row_number().over(w))
        .filter(col("v").isNotNull)
        .select(col("sensor_id"), col("rn"), col("v"))
      graft.pipeline.Profiler.autocorrelation(
          gaps, "sensor_id", "rn", "v", maxLag = 1,
          unitsPerValue = 1.0)
        .orderBy("sensor_id")
    },

    // Catalog coverage report: share of parts/customers/suppliers
    // that actually appear in sales — the cold-start surface a
    // recommender audit starts from. Exact distinct counts, one row.
    q(
      "q368_catalog_coverage",
      """WITH p AS (SELECT COUNT(*) AS n_parts FROM part),
        |ps AS (SELECT COUNT(DISTINCT l_partkey) AS parts_sold
        |  FROM lineitem),
        |c AS (SELECT COUNT(*) AS n_customers FROM customer),
        |co AS (SELECT COUNT(DISTINCT o_custkey) AS customers_active
        |  FROM orders),
        |su AS (SELECT COUNT(*) AS n_suppliers FROM supplier),
        |ss AS (SELECT COUNT(DISTINCT l_suppkey) AS suppliers_active
        |  FROM lineitem)
        |SELECT CAST(n_parts AS BIGINT) AS n_parts,
        |  CAST(parts_sold AS BIGINT) AS parts_sold,
        |  ROUND(CAST(parts_sold AS DOUBLE)
        |    / CAST(n_parts AS DOUBLE), 6) AS part_coverage,
        |  CAST(n_customers AS BIGINT) AS n_customers,
        |  CAST(customers_active AS BIGINT) AS customers_active,
        |  ROUND(CAST(customers_active AS DOUBLE)
        |    / CAST(n_customers AS DOUBLE), 6) AS customer_coverage,
        |  CAST(n_suppliers AS BIGINT) AS n_suppliers,
        |  CAST(suppliers_active AS BIGINT) AS suppliers_active,
        |  ROUND(CAST(suppliers_active AS DOUBLE)
        |    / CAST(n_suppliers AS DOUBLE), 6) AS supplier_coverage
        |FROM p, ps, c, co, su, ss"""
    ) { (s, d) =>
      val p = broadcast(Tables.part(s, d)
        .agg(count(lit(1)).as("n_parts")))
      val ps = broadcast(Tables.lineitem(s, d)
        .agg(countDistinct(col("l_partkey")).as("parts_sold")))
      val c = broadcast(Tables.customer(s, d)
        .agg(count(lit(1)).as("n_customers")))
      val co = broadcast(Tables.orders(s, d)
        .agg(countDistinct(col("o_custkey")).as("customers_active")))
      val su = broadcast(Tables.supplier(s, d)
        .agg(count(lit(1)).as("n_suppliers")))
      val ss = broadcast(Tables.lineitem(s, d)
        .agg(countDistinct(col("l_suppkey")).as("suppliers_active")))
      p.crossJoin(ps).crossJoin(c).crossJoin(co).crossJoin(su)
        .crossJoin(ss)
        .select(col("n_parts"), col("parts_sold"),
          round(col("parts_sold").cast("double") /
            col("n_parts").cast("double"), 6).as("part_coverage"),
          col("n_customers"), col("customers_active"),
          round(col("customers_active").cast("double") /
            col("n_customers").cast("double"), 6)
            .as("customer_coverage"),
          col("n_suppliers"), col("suppliers_active"),
          round(col("suppliers_active").cast("double") /
            col("n_suppliers").cast("double"), 6)
            .as("supplier_coverage"))
    }
  )
}
