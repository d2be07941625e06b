package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.functions._

/** The sharded sequential-recurrence shape of the per-series fold
  * operators ([[Ewma]], [[Cusum]], [[Kalman]], [[PageHinkley]],
  * [[graft.streaming.Deadband]]): ONE shuffle keyed by series and an
  * in-partition sort, so each partition sweep sees every series
  * contiguously in time order and the fold state never leaves the
  * executor. Duplicate timestamps tie-break on value, which makes every
  * fold deterministic (the Deadband ordering contract).
  */
private[graft] object SeriesFold {

  /** (sensor_id, timestamp_us, value) rows as `T`, hash-partitioned by
    * sensor_id and sorted by (sensor_id, timestamp_us, value) within
    * each partition.
    */
  def sorted[T: Encoder](samples: DataFrame): Dataset[T] =
    samples
      .select(col("sensor_id").cast("string"),
        col("timestamp_us").cast("long"),
        col("value").cast("double"))
      .as[T]
      .repartition(col("sensor_id"))
      .sortWithinPartitions("sensor_id", "timestamp_us", "value")

  /** One result per run of consecutive `rows` with equal `key`: `step`
    * gets the run's first row and an iterator over the rest of the run
    * (whatever it leaves unread is skipped); a run whose step returns
    * None emits nothing.
    */
  def perRun[S, K, R](rows: Iterator[S])(key: S => K)(
      step: (S, Iterator[S]) => Option[R]): Iterator[R] = {
    val buf = rows.buffered
    new Iterator[Option[R]] {
      def hasNext: Boolean = buf.hasNext
      def next(): Option[R] = {
        val head = buf.next()
        val id = key(head)
        val run = new Iterator[S] {
          def hasNext: Boolean = buf.hasNext && key(buf.head) == id
          def next(): S = buf.next()
        }
        val out = step(head, run)
        run.foreach(_ => ())
        out
      }
    }.flatten
  }
}
