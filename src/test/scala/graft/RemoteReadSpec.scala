package graft

import org.apache.spark.sql.Row

import graft.operators.SensorOps
import graft.prometheus.{RemoteRead, XorChunk}

/** Remote read's per-series cap: the sorted-group fold of the chunked
  * response, the collect loop of the SAMPLES response and [[RemoteRead.plan]]
  * each keep a series' first `perSensorLimit` samples by time — the rows
  * the `SensorOps.perSensorLimit` window keeps.
  */
class RemoteReadSpec extends SparkSpec {

  private val rnd = new scala.util.Random(20261019L)
  private val base = 1704067200000L // 2024-01-01T00:00:00Z, ms

  /** 12 series of 1–40 samples at distinct random whole-ms timestamps. */
  private val series: Seq[(String, Seq[(Long, Double)])] = (0 until 12).map { i =>
    val n = 1 + rnd.nextInt(40)
    val ts = rnd.shuffle((0 until 200).toList).take(n).map(k => base + k * 1000L)
    (f"00000000-0000-0000-0000-$i%012d", ts.map(t => (t * 1000L, rnd.nextDouble())))
  }
  private val matched: Seq[Row] = series.map { case (id, _) =>
    Row(id, s"rr_${id.takeRight(2)}", "Float", null, Map("k" -> id.takeRight(2)))
  }
  private val query = RemoteRead.Query(base - 1000L, base + 1000000L, Nil)

  private def samples(partitions: Int) = {
    import spark.implicits._
    val df = series.flatMap { case (id, ss) => ss.map { case (t, v) => (id, t, v) } }
      .toDF("sensor_id", "timestamp_us", "value")
    if (partitions == 1) df.coalesce(1) else df.repartition(partitions)
  }

  /** id → (ms, value) of the window's rows, in time order. */
  private def expected(partitions: Int, limit: Int): Map[String, Seq[(Long, Double)]] =
    SensorOps.perSensorLimit(samples(partitions), limit).collect()
      .groupBy(_.getString(0)).map { case (id, rs) =>
        id -> rs.map(r => (r.getLong(1) / 1000L, r.getDouble(2))).toSeq.sortBy(_._1)
      }

  private val longest = series.map(_._2.length).max
  for (limit <- Seq(1, longest / 2, longest + 5); partitions <- Seq(1, 3))
    test(s"per-series cap $limit over $partitions partition(s) equals " +
        "SensorOps.perSensorLimit") {
      val want = expected(partitions, limit)
      assert(want.values.exists(_.length == limit) ||
        want.values.forall(_.length < limit))
      val planned = RemoteRead.plan(matched, samples(partitions), query, limit)
        .collect().groupBy(_.getString(0)).map { case (id, rs) =>
          id -> rs.map(r => (r.getLong(1) / 1000L, r.getDouble(2))).toSeq.sortBy(_._1)
        }
      assert(planned == want)
      val encoded = RemoteRead.collectEncodedSeries(
        matched, samples(partitions), query, limit)
      val byName = matched.map(r => r.getString(1) -> r.getString(0)).toMap
      val chunks = encoded.map { case (labels, chunk, minTs, maxTs) =>
        val id = byName(labels.find(_.name == "__name__").get.value)
        assert(labels.map(_.name) == Seq("__name__", "k"), labels)
        val decoded = XorChunk.decode(chunk).map(s => (s.timestampMs, s.value))
        assert(minTs == decoded.head._1 && maxTs == decoded.last._1, id)
        id -> decoded
      }
      assert(chunks.map(_._1) == want.keys.toSeq.sorted, "sensor_id order")
      assert(chunks.toMap == want)
      val collected = RemoteRead.collectSeries(
          matched, samples(partitions), query, limit).map { case (labels, ss) =>
        byName(labels.find(_.name == "__name__").get.value) ->
          ss.map(s => (s.timestampMs, s.value))
      }
      assert(collected.toMap == want)
    }

  test("a zero cap returns no series") {
    assert(RemoteRead.collectEncodedSeries(matched, samples(1), query, 0).isEmpty)
    assert(RemoteRead.collectSeries(matched, samples(1), query, 0).isEmpty)
    assert(RemoteRead.plan(matched, samples(1), query, 0).isEmpty)
  }

  test("the per-series fold plans no exchange over one partition, " +
      "a hash exchange over several") {
    def plan(partitions: Int) = RemoteRead.plan(matched, samples(partitions),
      query, 3).queryExecution.executedPlan.toString
    assert(!plan(1).contains("Exchange"), plan(1))
    assert(plan(3).contains("Exchange hashpartitioning"), plan(3))
  }
}
