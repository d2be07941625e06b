package graft.operators

import org.apache.spark.sql.DataFrame

/** Page–Hinkley change detector per series — the sequential mean-shift
  * test (Page 1954, Hinkley 1971) that CUSUM users reach for when the
  * baseline mean is UNKNOWN: it tracks the deviation of each sample
  * from the RUNNING mean, cumulated with a drift allowance δ, and
  * alarms when the cumulative sum rises more than λ above its
  * historical minimum:
  *
  *   mean_t = mean_{t−1} + (x_t − mean_t₋₁)/t        (incremental mean)
  *   m_t    = m_{t−1} + (x_t − mean_t − δ)
  *   M_t    = min(M_{t−1}, m_t);  alarm iff max_t (m_t − M_t) > λ
  *
  * Contract: state seeds at the first sample (mean₁ = x₁, m₁ = −δ,
  * M₁ = m₁, excess₁ = 0); the mean updates BEFORE the m step — the
  * recurrence order the oracle's recursive CTE replays literally.
  *
  * Same execution shape as [[Ewma]]/[[Kalman]]: sharded sequential
  * fold, one shuffle keyed by series, O(1) state. Engine replay: δ
  * and λ dyadic; the only non-dyadic step is the /t division, which
  * is ONE correctly-rounded IEEE op in both engines — states replay
  * bit-exactly, raw output.
  */
object PageHinkley {

  final case class Sample(
      sensor_id: String, timestamp_us: Long, value: Double)

  /** @return per series: (sensor_id, n_samples, ph_m, ph_min,
    *         max_excess, alarm) — final cumulative deviation, its
    *         running minimum, the largest excursion above that
    *         minimum, and whether it crossed λ.
    */
  def detect(
      samples: DataFrame, delta: Double = 0.5,
      lambda: Double = 5.0): DataFrame = {
    require(lambda > 0, "lambda must be positive")
    import samples.sparkSession.implicits._
    SeriesFold.sorted[Sample](samples)
      .mapPartitions { it =>
        SeriesFold.perRun(it)(_.sensor_id) { (head, rest) =>
          var n = 1L
          var mean = head.value
          var m = -delta
          var mn = m
          var exc = 0.0
          rest.foreach { s =>
            n += 1
            mean = mean + (s.value - mean) / n.toDouble
            m = m + (s.value - mean - delta)
            if (m < mn) mn = m
            if (m - mn > exc) exc = m - mn
          }
          Some((head.sensor_id, n, m, mn, exc, exc > lambda))
        }
      }
      .toDF("sensor_id", "n_samples", "ph_m", "ph_min", "max_excess",
        "alarm")
  }
}
