package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Croston's method for intermittent demand (Croston 1972) — the
  * standard forecast for series that are mostly ZERO with occasional
  * spikes (spare parts, long-tail SKUs), where plain exponential
  * smoothing collapses toward zero between demands. Two coupled
  * EWMAs run only ON demand events:
  *
  *   size:     z ← z + α·(qₜ − z)
  *   interval: p ← p + α·(gapₜ − p)
  *   rate      = z / p        (expected demand per period)
  *
  * Seeding is the deterministic contract: z₁ = q₁ after the first
  * demand; p seeds to the FIRST observed gap at the second demand
  * (there is no gap before the first), then smooths from the third
  * on.
  *
  * Same execution shape as [[Ewma]]/[[Kalman]]: the per-series
  * recurrence cannot be a window function, so it shards by series
  * key, sorts within partitions, and folds with O(1) state — demand
  * EVENTS (not calendar days) are the stream, so the fold length is
  * the demand count, already sparse.
  *
  * Engine replay: α an exact binary fraction, gaps exact integers —
  * each step is the same IEEE multiply/add order as the oracle's
  * recursive CTE, so states replay bit-exactly; only the final z/p
  * division meets IEEE once (raw, no rounding needed).
  */
object Croston {

  final case class Demand(item: Long, period: Long, qty: Double)

  /** @param demands (item, period, qty) — one row per period WITH
    *                demand (qty > 0 rows only; zeros are implicit)
    * @return (item, n_demands, z_size, p_interval, rate) for items
    *         with ≥ `minDemands` demand events
    */
  def forecast(
      demands: DataFrame, alpha: Double = 0.25,
      minDemands: Int = 3): DataFrame = {
    require(alpha > 0 && alpha <= 1, "alpha in (0, 1]")
    require(minDemands >= 2, "need at least two demands for a gap")
    import demands.sparkSession.implicits._
    demands
      .select(col("item").cast("long"), col("period").cast("long"),
        col("qty").cast("double"))
      .as[Demand]
      .repartition(col("item"))
      .sortWithinPartitions("item", "period")
      .mapPartitions { it =>
        SeriesFold.perRun(it)(_.item) { (head, rest) =>
          var n = 1L
          var z = head.qty
          var p = 0.0
          var lastPeriod = head.period
          rest.foreach { s =>
            val gap = (s.period - lastPeriod).toDouble
            z = z + alpha * (s.qty - z)
            p = if (n == 1L) gap else p + alpha * (gap - p)
            lastPeriod = s.period
            n += 1
          }
          if (n >= minDemands) Some((head.item, n, z, p)) else None
        }
      }
      .toDF("item", "n_demands", "z_size", "p_interval")
      .withColumn("rate", col("z_size") / col("p_interval"))
  }
}
