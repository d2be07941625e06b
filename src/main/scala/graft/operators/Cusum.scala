package graft.operators

import org.apache.spark.sql.DataFrame

/** One-sided (upper) CUSUM change-point detection per series — the
  * classic Page cumulative-sum chart: accumulate excursions above a
  * target, reset at zero, alarm when the accumulated drift crosses a
  * threshold. Catches slow mean shifts that per-point thresholds and
  * MAD rules miss entirely:
  *   s₀ = 0;  sₜ = max(0, sₜ₋₁ + (xₜ − target − slack));  alarm: sₜ > h
  *
  * Like [[Ewma]] each output depends on the previous OUTPUT, so no
  * window frame expresses it: one shuffle keyed by series, in-partition
  * sort, O(1)-state sweep; series parallelism is the scale axis.
  *
  * Engine replay: each step is one add, two subtracts and a max in a
  * fixed order — the recursion replays bit-exactly as a recursive CTE
  * (the q82/q143 sequential-recurrence precedent), no rounding surface.
  * Duplicate timestamps tie-break on value; identical (t, value)
  * duplicates commute through the fold.
  */
object Cusum {

  final case class Sample(
      sensor_id: String, timestamp_us: Long, value: Double)

  /** @return every input row with its running `s_cusum` and `alarm`
    *         flag (1 when s_cusum > threshold)
    */
  def detect(
      samples: DataFrame, target: Double, slack: Double,
      threshold: Double): DataFrame = {
    require(slack >= 0 && threshold > 0,
      "slack must be >= 0 and threshold positive")
    import samples.sparkSession.implicits._
    SeriesFold.sorted[Sample](samples)
      .mapPartitions { it =>
        var currentId: String = null
        var s = 0.0
        it.map { r =>
          if (r.sensor_id != currentId) s = 0.0
          s = math.max(0.0, s + ((r.value - target) - slack))
          currentId = r.sensor_id
          (r.sensor_id, r.timestamp_us, r.value, s,
            if (s > threshold) 1 else 0)
        }
      }
      .toDF("sensor_id", "timestamp_us", "value", "s_cusum", "alarm")
  }
}
