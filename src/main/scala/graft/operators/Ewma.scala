package graft.operators

import org.apache.spark.sql.DataFrame

/** Per-series exponentially-weighted moving average — the time-decayed
  * mean every monitoring stack ships (Prometheus keeps the
  * double-smoothed variant, `holt_winters`; pandas calls this `ewm`):
  *   y₁ = x₁;  yₜ = α·xₜ + (1−α)·yₜ₋₁
  * A window function cannot express it (each output depends on the
  * previous OUTPUT, not a frame of inputs), so like
  * [[graft.streaming.Deadband]] it runs as the sharded sequential
  * recurrence: ONE shuffle keyed by series, an in-partition sort, and a
  * per-partition O(1)-state sweep — the per-series fold never leaves
  * the executor, and series parallelism is the scale axis (100 TB of
  * samples over millions of series shards evenly; a single pathological
  * series is inherently sequential in any engine).
  *
  * Emits every input row with its running `ewma` alongside — the
  * smoothing pass of a cleaning pipeline, not just the final level (a
  * `last-per-series` aggregate on top gives the forecast form).
  * Duplicate timestamps tie-break on value, making the fold
  * deterministic (the [[graft.streaming.Deadband]] ordering contract).
  *
  * Engine replay: with α chosen so that α and 1−α are both exact
  * binary fractions (0.25 / 0.75 in the oracled query), each step is
  * the same two IEEE multiplies and one add in the same order on every
  * engine — the recursion replays bit-exactly with no rounding surface
  * (the q82 holt_winters precedent).
  */
object Ewma {

  final case class Sample(
      sensor_id: String, timestamp_us: Long, value: Double)

  /** @param samples (sensor_id, timestamp_us, value)
    * @param alpha   smoothing factor in (0, 1]: weight of the newest
    *                sample; 1 returns the input unchanged
    * @return (sensor_id, timestamp_us, value, ewma), one row per input
    */
  def smooth(samples: DataFrame, alpha: Double): DataFrame = {
    require(alpha > 0 && alpha <= 1, "alpha must be in (0, 1]")
    import samples.sparkSession.implicits._
    SeriesFold.sorted[Sample](samples)
      .mapPartitions { it =>
        var currentId: String = null
        var level = 0.0
        it.map { s =>
          level =
            if (s.sensor_id != currentId) s.value
            else alpha * s.value + (1 - alpha) * level
          currentId = s.sensor_id
          (s.sensor_id, s.timestamp_us, s.value, level)
        }
      }
      .toDF("sensor_id", "timestamp_us", "value", "ewma")
  }

  /** Irregular-sampling variant: the decay per step follows the actual
    * time gap, w = 0.5^(Δt / halfLifeUs), so a series sampled unevenly
    * decays by wall-clock age instead of by row count:
    *   y₁ = x₁;  yₜ = (1−w)·xₜ + w·yₜ₋₁
    * Same shuffle/sort/sweep shape as [[smooth]]. `pow` is libm
    * (faithfully- not correctly-rounded), so cross-engine replays of
    * this variant need a rounded surface; the fixed-α form is the
    * bit-exact one.
    */
  def smoothHalfLife(samples: DataFrame, halfLifeUs: Long): DataFrame = {
    require(halfLifeUs > 0, "halfLifeUs must be positive")
    import samples.sparkSession.implicits._
    SeriesFold.sorted[Sample](samples)
      .mapPartitions { it =>
        var currentId: String = null
        var level = 0.0
        var lastTs = 0L
        it.map { s =>
          if (s.sensor_id != currentId) level = s.value
          else {
            val w = math.pow(0.5,
              (s.timestamp_us - lastTs).toDouble / halfLifeUs)
            level = (1 - w) * s.value + w * level
          }
          currentId = s.sensor_id
          lastTs = s.timestamp_us
          (s.sensor_id, s.timestamp_us, s.value, level)
        }
      }
      .toDF("sensor_id", "timestamp_us", "value", "ewma")
  }
}
