package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Deadband compression — the classic TSDB ingest reducer: a sample is
  * kept iff it moved more than `eps` from the last KEPT sample of its
  * series (the first sample of a series is always kept). Flat stretches
  * of a signal collapse to their first point, which is the dominant
  * storage win for slow-moving sensors.
  *
  * The keep-decision depends on the last *kept* value, not the previous
  * row — a sequential recurrence no window function expresses — so both
  * forms carry explicit per-series state:
  *  - batch: one shuffle on sensor_id + per-partition sequential sweep
  *    over the (sensor_id, timestamp_us)-sorted rows;
  *  - streaming: `flatMapGroupsWithState` with the last kept value as
  *    the group state, surviving across micro-batches.
  */
object Deadband {

  final case class Sample(sensor_id: String, timestamp_us: Long, value: Double)

  /** Batch deadband: repartition by series, sort within partitions by
    * (series, time, value), sweep sequentially. Exactly one shuffle; state
    * never leaves the executor. The value tie-break makes the kept set
    * deterministic under duplicate timestamps and matches
    * [[compressStream]]'s ordering, so batch and streaming sweeps of the
    * same input keep the same samples.
    */
  def compress(samples: DataFrame, eps: Double): DataFrame = {
    import samples.sparkSession.implicits._
    graft.operators.SeriesFold.sorted[Sample](samples).mapPartitions { it =>
      // explicit started-flag, not a null id sentinel: a NULL sensor_id
      // series would collide with the "no series yet" state and have
      // its first sample deadbanded against the phantom lastKept = 0.0
      // (compressStream's groupByKey gives the null key fresh state, so
      // the sentinel also broke batch ≡ streaming equivalence)
      var started = false
      var currentId: String = null
      var lastKept = 0.0
      it.flatMap { s =>
        val newSeries = !started || !java.util.Objects.equals(
          s.sensor_id, currentId)
        if (newSeries || math.abs(s.value - lastKept) > eps) {
          started = true
          currentId = s.sensor_id
          lastKept = s.value
          Some(s)
        } else None
      }
    }.toDF("sensor_id", "timestamp_us", "value")
  }

  /** Streaming deadband: per-series last-kept value as group state, kept
    * across micro-batches (so a flat signal stays suppressed over any
    * number of batches). Batch-local rows are sorted by event time before
    * the sweep — cross-batch ordering is the source's responsibility (the
    * usual at-least-once ingest contract).
    *
    * State contract: one Double per series, NEVER expired (NoTimeout) —
    * deliberately, because expiring a series' baseline would un-suppress
    * its flat signal on the next sample (a semantic change, not a
    * cleanup). Sized for a FIXED fleet: state = 8 bytes x |sensors|. A
    * source with churning/ephemeral series ids needs a TTL variant
    * (ProcessingTimeTimeout + re-baseline on first sample after expiry)
    * and must accept the re-baseline semantics.
    */
  def compressStream(
      samples: Dataset[Sample], eps: Double): Dataset[Sample] = {
    import samples.sparkSession.implicits._
    samples
      .groupByKey(_.sensor_id)
      .flatMapGroupsWithState(
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: String, rows: Iterator[Sample], state: GroupState[Double]) =>
          val sorted = rows.toSeq.sortBy(s => (s.timestamp_us, s.value))
          val kept = scala.collection.mutable.ArrayBuffer.empty[Sample]
          var last = if (state.exists) Some(state.get) else None
          sorted.foreach { s =>
            if (last.forall(v => math.abs(s.value - v) > eps)) {
              kept += s
              last = Some(s.value)
            }
          }
          last.foreach(state.update)
          kept.iterator
      }
  }
}
