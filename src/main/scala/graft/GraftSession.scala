package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's required/recommended confs. */
object GraftSession {

  /** Confs any session running graft queries must carry. */
  def tune(b: SparkSession.Builder): SparkSession.Builder = b
    .withExtensions(new GraftExtensions)
    .config("spark.sql.session.timeZone", "UTC")
    // events.parquet carries TIMESTAMP(NANOS); read as Long ns
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // testdata timestamps are NAIVE parquet timestamp[us]
    // (isAdjustedToUTC=false), which Spark 4 would otherwise surface as
    // TIMESTAMP_NTZ — a type unix_micros()/window() reject and the
    // DuckDB oracle never sees (it reads the same file as a plain
    // TIMESTAMP). Reading them as session-TZ TimestampType under the
    // UTC session keeps the stored micros bit-identical on both sides.
    .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    .config("spark.sql.adaptive.enabled", "true")
    // last-wins map keys match the reference's insert-overwrites label
    // semantics: a map_concat that adds a label already present
    // (ExtendedPromQL.labelsWith, the streaming resample tags,
    // PromqlQueries' synthetic labels) overwrites it instead of throwing
    .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
    // FAIR across scheduler pools: the gateway assigns one pool per
    // worker thread so concurrent requests share executors instead of
    // queueing behind a long scan; single-tenant batch runs (bench,
    // verify) never set a pool and are unaffected
    .config("spark.scheduler.mode", "FAIR")
    .config("spark.ui.enabled", "false")

  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val s = tune(SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
