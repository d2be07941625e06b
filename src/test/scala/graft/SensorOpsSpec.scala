package graft

import graft.operators.{AsOfJoin, SensorOps}
import org.apache.spark.sql.functions._

class SensorOpsSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  private lazy val samples = Seq(
    ("a", 100L, 1.0), ("a", 200L, 2.0), ("a", 300L, 3.0), ("a", 400L, 4.0),
    ("b", 150L, 5.0), ("b", 250L, 6.0),
    ("b", 250L, 6.0) // exact duplicate
  ).toDF("sensor_id", "timestamp_us", "value")

  test("rangeScan filters bounds inclusively, orders, limits") {
    val got = SensorOps.rangeScan(samples, "a", Some(200L), Some(400L), 2)
      .select("timestamp_us").as[Long].collect().toSeq
    assert(got == Seq(200L, 300L))
    // open bounds
    val all = SensorOps.rangeScan(samples, "a", None, None)
      .count()
    assert(all == 4)
  }

  test("perSensorLimit keeps each sensor's earliest n") {
    val got = SensorOps.perSensorLimit(samples.dropDuplicates(), 2)
      .select("sensor_id", "timestamp_us").as[(String, Long)]
      .collect().toSet
    assert(got == Set(("a", 100L), ("a", 200L), ("b", 150L), ("b", 250L)))
  }

  test("dedup removes exact (sensor, ts, value) duplicates") {
    assert(SensorOps.dedup(samples).count() == 6)
  }

  test("asOf picks latest right at-or-before left ts, inner semantics") {
    val left = Seq((1L, 100L, "p1"), (1L, 300L, "p2"), (2L, 50L, "p3"))
      .toDF("k", "t", "payload")
    val right = Seq((1L, 100L, 10.0), (1L, 250L, 20.0), (2L, 60L, 30.0))
      .toDF("k", "t", "v")
    val got = AsOfJoin.asOf(left, right, "k", "t", Seq("v"))
      .select("k", "t", "payload", "right_ts", "v")
      .as[(Long, Long, String, Long, Double)].collect().toSet
    assert(got == Set(
      (1L, 100L, "p1", 100L, 10.0), // exact-tie matches
      (1L, 300L, "p2", 250L, 20.0)
      // (2, 50, p3) dropped: no right row at or before 50
    ))
  }

  test("metricsSummary aggregates label keys and series counts") {
    val sensors = Seq(
      ("u1", "temp", "Float", Map("env" -> "prod", "site" -> "a")),
      ("u2", "temp", "Float", Map("env" -> "dev")),
      ("u3", "hum", "Integer", Map.empty[String, String]))
      .toDF("uuid", "name", "type", "labels")
      .withColumn("unit", lit(null).cast("struct<name:string,description:string>"))
    val got = SensorOps.metricsSummary(sensors)
      .select("name", "series_count", "label_keys")
      .as[(String, Long, Seq[String])].collect().toSet
    assert(got == Set(
      ("hum", 1L, Seq()),
      ("temp", 2L, Seq("env", "site"))))
  }

  test("compositeSensor pivots series onto a shared window with null gaps") {
    val hourUs = 3600L * 1000000L
    val s = Seq(
      ("a", 0L, 1.0), ("a", 10L, 2.0), // window 0
      ("b", 20L, 5.0), // window 0
      ("a", hourUs + 1L, 4.0)) // window 1: b silent
      .toDF("sensor_id", "timestamp_us", "value")
    val got = SensorOps.compositeSensor(s, Seq("a", "b"), "1 hour", "sum")
      .as[(Long, Option[Double], Option[Double])].collect().toSeq
    assert(got == Seq(
      (0L, Some(3.0), Some(5.0)),
      (hourUs, Some(4.0), None)))
    // unknown aggregate rejected
    intercept[IllegalArgumentException] {
      SensorOps.compositeSensor(s, Seq("a"), "1 hour", "median")
    }
  }

  test("compositeSensor sum keeps sub-cent precision (no quantization)") {
    val s = Seq(("a", 0L, 0.0001), ("a", 10L, 0.0002))
      .toDF("sensor_id", "timestamp_us", "value")
    val got = SensorOps.compositeSensor(s, Seq("a"), "1 hour", "sum")
      .as[(Long, Option[Double])].collect().toSeq
    assert(got.size == 1)
    assert(math.abs(got.head._2.get - 0.0003) < 1e-15)
  }

  test("cusum: accumulates drift, resets at zero, alarms on crossing") {
    import graft.operators.Cusum
    // target 10, slack 0, threshold 5:
    // a: 12, 13, 8, 14 → s = 2, 5, 3, 7(alarm)
    // b: 9 → s = 0 (clamped), state never leaks from a
    val s = Seq(
      ("a", 1L, 12.0), ("a", 2L, 13.0), ("a", 3L, 8.0), ("a", 4L, 14.0),
      ("b", 1L, 9.0)).toDF("sensor_id", "timestamp_us", "value")
    val got = Cusum.detect(s, target = 10.0, slack = 0.0, threshold = 5.0)
      .orderBy("sensor_id", "timestamp_us")
      .as[(String, Long, Double, Double, Int)].collect().toSeq
    assert(got == Seq(
      ("a", 1L, 12.0, 2.0, 0), ("a", 2L, 13.0, 5.0, 0),
      ("a", 3L, 8.0, 3.0, 0), ("a", 4L, 14.0, 7.0, 1),
      ("b", 1L, 9.0, 0.0, 0)))
  }

  test("resampleForwardFill: gap fill, latest-wins buckets, own span") {
    val s = Seq(
      // bucket 0: two samples — latest (t=9) wins; buckets 1-2 empty
      // and filled; bucket 3 fresh
      ("a", 1L, 5.0), ("a", 9L, 7.0), ("a", 31L, 9.0),
      // b: single bucket, no fill
      ("b", 12L, 1.0)).toDF("sensor_id", "timestamp_us", "value")
    val got = SensorOps.resampleForwardFill(s, bucketUs = 10L)
      .orderBy("sensor_id", "bucket_start_us")
      .as[(String, Long, Double, Int)].collect().toSeq
    assert(got == Seq(
      ("a", 0L, 7.0, 0), ("a", 10L, 7.0, 1), ("a", 20L, 7.0, 1),
      ("a", 30L, 9.0, 0),
      ("b", 10L, 1.0, 0)))
  }

  test("timeWeightedAvg: hand-computed, ties, single-sample NULL") {
    val s = Seq(
      // a: 10 for 4 µs, 20 for 6 µs → (40+120)/10 = 16.0
      ("a", 0L, 10.0), ("a", 4L, 20.0), ("a", 10L, 0.0),
      // b: tie at t=5 — (t, value) order makes 2.0 the zero-dt row,
      // 3.0 carries the 5 µs: (1·5 + 3·5)/10 = 2.0
      ("b", 0L, 1.0), ("b", 5L, 2.0), ("b", 5L, 3.0), ("b", 10L, 9.0),
      // c: single sample → zero span → twa NULL
      ("c", 7L, 42.0)).toDF("sensor_id", "timestamp_us", "value")
    val got = SensorOps.timeWeightedAvg(s)
      .select("sensor_id", "n_samples", "span_us", "twa", "twa_micro")
      .as[(String, Long, Long, Option[Double], Option[Long])]
      .collect().sortBy(_._1).toSeq
    assert(got == Seq(
      ("a", 3L, 10L, Some(16.0), Some(16000000L)),
      ("b", 4L, 10L, Some(2.0), Some(2000000L)),
      ("c", 1L, 0L, None, None)))
  }

  test("timeWeightedAvg: twa_micro schoolbook division is exact floor," +
    " incl. fractional values, negatives, and non-divisible sums") {
    // d: values with micro digits — vdt_sum = 1.5·3 + 2.25·4 = 13.5,
    //    span 7 → floor(13.5e6/7) = floor(1928571.428…) = 1928571
    // e: negative values — vdt_sum = -3.5·2 = -7, span 2 →
    //    floor(-7e6/2) = -3500000 (exact)
    // f: negative non-divisible — vdt_sum = -1·3 = -3, span 3... use
    //    -1.1: vdt_sum = -1.1·3 = -3.3, span 3 →
    //    floor(-3.3e6/3) = floor(-1100000) = -1100000; and a truly
    //    non-divisible case: -1·1 over span 3 → floor(-1e6/3) =
    //    floor(-333333.33…) = -333334 (floor, NOT trunc)
    val s = Seq(
      ("d", 0L, 1.5), ("d", 3L, 2.25), ("d", 7L, 9.0),
      ("e", 0L, -3.5), ("e", 2L, 0.0),
      ("f", 0L, -1.0), ("f", 1L, 0.0), ("f", 3L, 0.0))
      .toDF("sensor_id", "timestamp_us", "value")
    val got = SensorOps.timeWeightedAvg(s)
      .select("sensor_id", "twa_micro")
      .as[(String, Option[Long])].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      ("d", Some(1928571L)),
      ("e", Some(-3500000L)),
      ("f", Some(-333334L))))
  }

  test("timeWeightedAvg: vdt_s0/vdt_f6 split the decimal sum exactly" +
    " (s0 + f6·1e-6 == vdt_sum), incl. negatives") {
    // d: vdt_sum = 13.5  → s0 = 13,  f6 = 500000
    // e: vdt_sum = -7    → s0 = -7,  f6 = 0
    // f: vdt_sum = -3.3  → s0 = -4 (floor), f6 = 700000 (-4 + 0.7)
    val s = Seq(
      ("d", 0L, 1.5), ("d", 3L, 2.25), ("d", 7L, 9.0),
      ("e", 0L, -3.5), ("e", 2L, 0.0),
      ("f", 0L, -1.1), ("f", 3L, 0.0))
      .toDF("sensor_id", "timestamp_us", "value")
    val got = SensorOps.timeWeightedAvg(s)
      .select("sensor_id", "vdt_s0", "vdt_f6")
      .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      ("d", 13L, 500000L),
      ("e", -7L, 0L),
      ("f", -4L, 700000L)))
    // both published columns are BIGINT — the compare surface carries
    // no decimal (the q180 r11 lesson: decimal128 is hash-unstable at
    // the driver even when cell-identical to the oracle)
    val schema = SensorOps.timeWeightedAvg(s)
      .select("vdt_s0", "vdt_f6", "twa_micro", "n_samples", "span_us")
      .schema
    assert(schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.LongType))
  }

  test("rangeScanUnlimited (export-edge scan) keeps parallel RANGE " +
    "partitions — no GlobalLimit single-partition collapse") {
    // parquet-backed samples: a tiny LocalRelation would let Catalyst
    // fold the limit/sort away and pin nothing
    val samples = Tables.events(spark, sf)
      .select(col("event_type").as("sensor_id"),
        unix_micros(col("ts")).as("timestamp_us"), col("value"))
    val unlimited = graft.operators.SensorOps.rangeScanUnlimited(
      samples, "click", Some(0L), None)
    val plan = planOf(unlimited)
    // orderBy alone = RangePartitioning: globally ordered ACROSS
    // bounded partitions, which toLocalIterator pages one at a time —
    // the residency contract of the streaming export edge
    assert(plan.contains("rangepartitioning"), plan)
    assert(!plan.contains("GlobalLimit") && !plan.contains("TakeOrdered"),
      plan)
    // the query-surface rangeScan keeps its limit semantics (and its
    // single-partition collapse — fine for bounded query answers)
    val limited = graft.operators.SensorOps.rangeScan(
      samples, "click", Some(0L), None, limit = 10)
    val lplan = planOf(limited)
    assert(lplan.contains("TakeOrdered") || lplan.contains("GlobalLimit"),
      lplan)
  }
}
