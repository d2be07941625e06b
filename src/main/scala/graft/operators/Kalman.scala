package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-series scalar Kalman filter for the random-walk + observation-
  * noise model (the "level" filter behind most sensor-smoothing
  * stacks — [[Ewma]] with a PRINCIPLED, data-adaptive gain):
  *
  *   predict:  P⁻ = P + q
  *   gain:     K  = P⁻ / (P⁻ + r)
  *   update:   x ← x + K·(z − x);   P ← (1 − K)·P⁻
  *
  * with process variance `q`, observation variance `r`, and
  * x₁ = z₁, P₁ = p0. Unlike a fixed-α EWMA the gain starts high
  * (uncertain prior) and settles to the steady-state Kalman gain —
  * the first samples are trusted more, exactly what cold-started
  * series need.
  *
  * Like [[Ewma]] a window function cannot express it (each output
  * depends on the previous OUTPUT), so it runs as the sharded
  * sequential recurrence: ONE shuffle keyed by series, an
  * in-partition sort, and a per-partition O(1)-state sweep. Series
  * parallelism is the scale axis at 100 TB.
  *
  * Engine replay: with q, r, p0 chosen as exact binary fractions the
  * whole recursion is a fixed sequence of IEEE ops — each step
  * computes P⁻, K, x, P in the SAME order as the oracle's recursive
  * CTE, so every state replays bit-exactly with no rounding surface
  * (the q82 holt_winters discipline). Duplicate timestamps tie-break
  * on value (the [[graft.streaming.Deadband]] ordering contract).
  */
object Kalman {

  final case class Sample(
      sensor_id: String, timestamp_us: Long, value: Double)

  /** Final filtered state per series: (sensor_id, n_samples, level,
    * p_var). `level` is the filtered estimate after the last sample;
    * `p_var` its posterior variance (the steady-state check).
    */
  def filterLast(
      samples: DataFrame, q: Double = 0.25, r: Double = 4.0,
      p0: Double = 1.0): DataFrame = {
    require(q > 0 && r > 0 && p0 > 0, "variances must be positive")
    import samples.sparkSession.implicits._
    samples
      .select(col("sensor_id").cast("string"),
        col("timestamp_us").cast("long"),
        col("value").cast("double"))
      .as[Sample]
      .repartition(col("sensor_id"))
      .sortWithinPartitions("sensor_id", "timestamp_us", "value")
      .mapPartitions { it =>
        // fold runs per contiguous series group; emit one row per
        // series at each group boundary
        val buf = it.buffered
        new Iterator[(String, Long, Double, Double)] {
          private var pending: Option[(String, Long, Double, Double)] =
            None
          private def advance(): Unit = {
            if (!buf.hasNext) { pending = None; return }
            val head = buf.next()
            val id = head.sensor_id
            var n = 1L
            var x = head.value
            var p = p0
            while (buf.hasNext && buf.head.sensor_id == id) {
              val s = buf.next()
              val pp = p + q
              val kk = pp / (pp + r)
              x = x + kk * (s.value - x)
              p = (1.0 - kk) * pp
              n += 1
            }
            pending = Some((id, n, x, p))
          }
          override def hasNext: Boolean = {
            if (pending.isEmpty) advance()
            pending.isDefined
          }
          override def next(): (String, Long, Double, Double) = {
            if (pending.isEmpty) advance()
            val v = pending.get
            pending = None
            v
          }
        }
      }
      .toDF("sensor_id", "n_samples", "level", "p_var")
  }
}
