package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Core sample-table operators (SURVEY.md §2.2, §2.5, §2.6).
  *
  * All operators are declarative DataFrame compositions: Catalyst pushes the
  * `sensor_id`/time predicates into the Parquet scan and prunes columns; at
  * scale the sample tables are partitioned by time bucket so the range
  * filter prunes partitions (the reference's `(sensor_id, timestamp_us)`
  * index analog — reference: src/storage/clickhouse/migrations/
  * 20240223133248_init.sql:33-115).
  */
object SensorOps {

  /** The reference's default per-query sample cap
    * (reference: src/storage/mod.rs:17); env/property-tunable via
    * GRAFT_DEFAULT_QUERY_LIMIT (default unchanged).
    */
  def DefaultQueryLimit: Int = graft.Config.defaultQueryLimit

  /** Time-range + limit scan for one sensor (P1):
    * `WHERE sensor_id = ? AND ts BETWEEN ? AND ? ORDER BY ts LIMIT n`
    * (reference: src/storage/sqlite/storage.rs:663-704). Null bounds are
    * open (reference passes NULL start/end through `(? IS NULL OR …)`).
    */
  def rangeScan(
      samples: DataFrame,
      sensorId: String,
      startUs: Option[Long],
      endUs: Option[Long],
      limit: Int = DefaultQueryLimit): DataFrame =
    rangeScanUnlimited(samples, sensorId, startUs, endUs).limit(limit)

  /** [[rangeScan]] WITHOUT the plan-level limit — the export-edge scan.
    *
    * Why it exists: `orderBy(...).limit(n)` plans a GlobalLimit whose
    * output is ONE partition, and `toLocalIterator` materializes one
    * whole partition on the driver — so a streaming export built on the
    * limited plan would hold the entire (up to 10M-row) result at the
    * edge anyway. Without the limit, `orderBy` alone is a
    * RangePartitioning exchange: globally ordered ACROSS partitions,
    * each partition bounded, and the iterator holds one range partition
    * at a time. The caller enforces the row cap on the iterator
    * (`Iterator.take(limit)`) — same first-n-by-timestamp semantics.
    */
  def rangeScanUnlimited(
      samples: DataFrame,
      sensorId: String,
      startUs: Option[Long],
      endUs: Option[Long]): DataFrame = {
    var df = samples.filter(col("sensor_id") === sensorId)
    startUs.foreach(s => df = df.filter(col("timestamp_us") >= s))
    endUs.foreach(e => df = df.filter(col("timestamp_us") <= e))
    df.orderBy("timestamp_us")
  }

  /** Per-sensor ordered top-N (W1): each sensor's earliest `limit` samples.
    * The reference implements this with a LATERAL join on Postgres and an
    * app-side counting cutoff on SQLite
    * (reference: src/storage/postgresql/batch_queries.rs:193-205,
    * src/storage/sqlite/batch_queries.rs:150-196). Spark 3.5+ rewrites the
    * rank<=k filter into WindowGroupLimit, so no full sort materializes.
    * `tieBreak` columns make the ordering total when timestamps can collide.
    */
  def perSensorLimit(
      samples: DataFrame,
      limit: Int,
      tieBreak: Seq[String] = Nil): DataFrame = {
    val order = (Seq("timestamp_us") ++ tieBreak).map(col)
    val w = Window.partitionBy(col("sensor_id")).orderBy(order: _*)
    samples
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= limit)
      .drop("__rn")
  }

  /** Metrics summary (A1): per (name, type) — series count and the sorted
    * union of label keys (reference: src/storage/sqlite/migrations/
    * 20250819144000_add_metrics_summary_view.sql:1-17).
    */
  def metricsSummary(sensors: DataFrame): DataFrame =
    sensors
      .select(col("name"), col("type"), col("uuid"),
        col("unit").getField("name").as("unit_name"),
        explode_outer(map_keys(coalesce(col("labels"),
          map().cast("map<string,string>")))).as("label_key"))
      .groupBy(col("name"), col("type"))
      .agg(
        min(col("unit_name")).as("unit"),
        countDistinct(col("uuid")).as("series_count"),
        array_sort(collect_set(col("label_key"))).as("label_keys"))
      .orderBy("name")

  /** Exact duplicate removal (S15): keep one row per
    * `(sensor_id, timestamp_us, value)`
    * (reference: src/storage/sqlite/storage.rs:632-661).
    */
  def dedup(samples: DataFrame): DataFrame =
    samples.dropDuplicates(Seq("sensor_id", "timestamp_us", "value"))

  /** Virtual composite sensor (documented-but-unimplemented in the
    * reference: docs/DATAMODEL.md:125-131): join several series on a
    * tumbling time window into one wide frame — one column per source
    * series carrying the window aggregate ("sum", "min", "max", "count",
    * or "avg"). One shuffle on the window bucket; the pivot is an
    * explicit column list (never a discovery pass), so the plan is a
    * single hash aggregation regardless of corpus size. Windows where a
    * series has no samples yield null in that series' column (the
    * resampling gap the reference's design sketch calls out).
    *
    * All aggregates are plain f64 ("sum"/"avg" are order-sensitive at the
    * ULP level, like any distributed double aggregation); callers that
    * need an order-independent comparison should round or quantize at
    * their own layer rather than here.
    */
  /** Gap / availability report: per sensor, every inter-sample gap
    * exceeding `thresholdUs` — the downtime audit a monitoring stack
    * runs against its own ingest (which sensors went silent, when, and
    * for how long). One keyed shuffle + in-partition sort (a LAG
    * window per sensor); duplicate timestamps tie-break on value (the
    * [[graft.streaming.Deadband]] ordering contract) so the report is
    * deterministic. All arithmetic is integer µs — replays exactly.
    *
    * Returns (sensor_id, gap_start_us, gap_end_us, gap_us) ordered by
    * construction of the caller.
    */
  def gapReport(samples: DataFrame, thresholdUs: Long): DataFrame = {
    require(thresholdUs > 0, "threshold must be positive")
    val w = Window.partitionBy(col("sensor_id"))
      .orderBy(col("timestamp_us"), col("value"))
    samples
      .select(col("sensor_id"), col("timestamp_us"), col("value"))
      .withColumn("__prev", lag(col("timestamp_us"), 1).over(w))
      .filter(col("__prev").isNotNull &&
        col("timestamp_us") - col("__prev") > thresholdUs)
      .select(col("sensor_id"), col("__prev").as("gap_start_us"),
        col("timestamp_us").as("gap_end_us"),
        (col("timestamp_us") - col("__prev")).as("gap_us"))
  }

  /** Availability intervals — [[gapReport]]'s complement: per sensor,
    * merge consecutive samples whose inter-sample gap is ≤ `thresholdUs`
    * into coverage islands (the uptime report: when WAS this sensor
    * reporting). Classic gaps-and-islands: a running count of
    * gap-breaks over the per-sensor time order assigns each sample its
    * island id, then one aggregate per island yields
    * (sensor_id, start_us, end_us, n_samples, duration_us).
    *
    * Scale shape: one keyed shuffle + in-partition sort for the window
    * (LAG and the running SUM share it), one (sensor, island) aggregate
    * with map-side combine. Pure integer µs arithmetic; duplicate
    * timestamps tie-break on value — replays exactly on any engine.
    */
  def availabilityIntervals(
      samples: DataFrame, thresholdUs: Long): DataFrame = {
    require(thresholdUs > 0, "threshold must be positive")
    val w = Window.partitionBy(col("sensor_id"))
      .orderBy(col("timestamp_us"), col("value"))
    samples
      .select(col("sensor_id"), col("timestamp_us"), col("value"))
      .withColumn("__brk",
        when(lag(col("timestamp_us"), 1).over(w).isNull ||
          col("timestamp_us") - lag(col("timestamp_us"), 1).over(w) >
            thresholdUs, 1L).otherwise(0L))
      .withColumn("__island", sum(col("__brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("sensor_id"), col("__island"))
      .agg(min(col("timestamp_us")).as("start_us"),
        max(col("timestamp_us")).as("end_us"),
        count(lit(1)).as("n_samples"))
      .select(col("sensor_id"), col("start_us"), col("end_us"),
        col("n_samples"),
        (col("end_us") - col("start_us")).as("duration_us"))
  }

  /** M4 downsampling (Jugel et al., VLDB'14): per sensor and
    * fixed-width time bucket, keep the first, last, minimum and
    * maximum samples — the four points that make a line chart of the
    * bucket pixel-identical to the full series. Unlike LTTB's
    * sequential selection chain this is a PURE aggregate: one keyed
    * shuffle with map-side combine (four struct-extrema per group, no
    * window, no per-series state), so it downsamples 100 TB exactly
    * as it downsamples a fixture.
    *
    * Extrema are struct-lexicographic and therefore deterministic
    * under ties: first/last tie-break on value, min/max value
    * tie-break on timestamp. The four points collapse to their
    * distinct set (a bucket with ≤4 samples returns them all).
    *
    * Returns (sensor_id, bucket_start_us, timestamp_us, value).
    */
  def m4Downsample(samples: DataFrame, bucketUs: Long): DataFrame = {
    require(bucketUs > 0, "bucket width must be positive")
    // pure integer bucket arithmetic — a double division + floor can
    // round a .999… quotient UP across the bucket boundary
    val b = (col("timestamp_us") - pmod(col("timestamp_us"), lit(bucketUs)))
      .as("bucket_start_us")
    val t = col("timestamp_us")
    val v = col("value")
    samples
      .select(col("sensor_id"), b, t, v)
      .groupBy(col("sensor_id"), col("bucket_start_us"))
      .agg(
        min(struct(t.as("t"), v.as("v"))).as("__first"),
        max(struct(t.as("t"), v.as("v"))).as("__last"),
        min(struct(v.as("v"), t.as("t"))).as("__min"),
        max(struct(v.as("v"), t.as("t"))).as("__max"))
      .select(col("sensor_id"), col("bucket_start_us"),
        explode(array_distinct(array(
          struct(col("__first.t").as("t"), col("__first.v").as("v")),
          struct(col("__min.t").as("t"), col("__min.v").as("v")),
          struct(col("__max.t").as("t"), col("__max.v").as("v")),
          struct(col("__last.t").as("t"), col("__last.v").as("v")))))
          .as("__p"))
      .select(col("sensor_id"), col("bucket_start_us"),
        col("__p.t").as("timestamp_us"), col("__p.v").as("value"))
  }

  def compositeSensor(
      samples: DataFrame, // (sensor_id, timestamp_us, value)
      sensorIds: Seq[String],
      windowDur: String,
      agg: String = "sum"): DataFrame = {
    require(sensorIds.nonEmpty, "compositeSensor needs at least one series")
    val aggCol = agg match {
      case "sum" => sum(col("value"))
      case "avg" => avg(col("value"))
      case "min" => min(col("value"))
      case "max" => max(col("value"))
      case "count" => count(col("value"))
      case other =>
        throw new IllegalArgumentException(s"Unsupported aggregate: $other")
    }
    samples
      .filter(col("sensor_id").isin(sensorIds: _*))
      .groupBy(window(timestamp_micros(col("timestamp_us")), windowDur))
      .pivot("sensor_id", sensorIds)
      .agg(aggCol)
      .select(unix_micros(col("window.start")).as("window_start_us") +:
        sensorIds.map(col): _*)
      .orderBy("window_start_us")
  }

  /** Time-weighted average per sensor — the irregular-sampling mean
    * (left-continuous step function: each value holds until the next
    * sample; the last sample carries no weight): Σ vᵢ·(tᵢ₊₁−tᵢ) /
    * (t_max − t_min).
    *
    * Exactness across engines is the design driver: the v·dt products
    * and their sum run in DECIMAL — value as DECIMAL(18,6), dt µs as
    * DECIMAL(19,0), product DECIMAL(38,6) — so the accumulation is
    * INTEGER arithmetic (order-free, no float-summation drift), and the
    * only IEEE operation is the final division. DECIMAL(18,6)×
    * DECIMAL(19,0) also keeps DuckDB off its same-width int64 multiply
    * overflow (combined width 37 ≤ 38 forces the int128 path). The twa
    * output is built by splitting vdt_sum into FLOOR (an integral value
    * cast exactly to long, then long→double — correctly rounded
    * identically on JVM and DuckDB at ANY magnitude) plus the
    * fractional remainder (unscaled < 10⁶ ≪ 2⁵³, so its decimal→double
    * cast is the correctly-rounded quotient in both engines). One IEEE
    * add and one IEEE divide follow — same operation sequence on both
    * sides, so the raw double is bit-identical and needs NO rounding.
    * Contract: |Σ v·dt| < 2⁶³ µ-value·µs (value ~10³ × span ~10¹⁵ µs
    * headroom) — the same magnitude contract as Profiler.microUnits.
    * Duplicate timestamps tie-break on value; equal-t rows get dt = 0
    * so only the last of a tie carries weight — deterministic both
    * engines. Single-sample sensors have zero span → twa NULL
    * (try_divide ≡ SQL double division by zero).
    *
    * Scale shape: one keyed shuffle; the LEAD window and the final
    * aggregate share its partitioning; map-side-combinable sum.
    */
  def timeWeightedAvg(samples: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("sensor_id"))
      .orderBy(col("timestamp_us"), col("value"))
    samples
      .select(col("sensor_id"), col("timestamp_us"), col("value"))
      .withColumn("__next_t", lead(col("timestamp_us"), 1).over(w))
      .withColumn("__vdt",
        col("value").cast("decimal(18,6)") *
          (col("__next_t") - col("timestamp_us")).cast("decimal(19,0)"))
      .groupBy(col("sensor_id"))
      .agg(count(lit(1)).as("n_samples"),
        (max(col("timestamp_us")) - min(col("timestamp_us")))
          .as("span_us"),
        coalesce(sum(col("__vdt")), lit(0).cast("decimal(38,6)"))
          .cast("decimal(38,6)").as("vdt_sum"))
      .withColumn("twa", {
        val fl = floor(col("vdt_sum"))
        val hi = fl.cast("long").cast("double")
        val lo = (col("vdt_sum") - fl).cast("double")
        try_divide(hi + lo, col("span_us").cast("double"))
      })
      // twa_micro: floor(vdt_sum · 10⁶ / span_us) — the SAME mean on an
      // exact integer micro-unit surface, for consumers (and oracles)
      // that need a hash-stable representation with no IEEE operation
      // anywhere. Computed as base-1000 schoolbook long division wholly
      // in BIGINT: s0 = floor(vdt_sum) (exact, fits by the same 2⁶³
      // magnitude contract as twa), f6 = the six fractional digits
      // (exact: the scale-6 remainder is < 1, so DECIMAL(7,6)×10⁶ is an
      // integer < 10⁶), then three floor-division steps whose partial
      // remainders stay < span_us·1000 < 2⁶³ (span < 292 years). The
      // first step's dividend can be negative (negative values ⇒
      // negative sum), so its trunc DIV gets the explicit floor
      // correction; later dividends are remainder-built and ≥ 0. Every
      // op is BIGINT +,·,DIV,% — identical results on any engine, no
      // decimal division (engines disagree on its result scale) and no
      // doubles.
      .withColumn("__s0", floor(col("vdt_sum")).cast("long"))
      .withColumn("__f6", ((col("vdt_sum") - floor(col("vdt_sum")))
        .cast("decimal(7,6)") * lit(1000000)).cast("long"))
      .withColumn("__bs",
        when(col("span_us") > 0, col("span_us")).otherwise(lit(1L)))
      .withColumn("__q0", expr("__s0 div __bs") -
        when(col("__s0") < 0 && expr("__s0 % __bs") =!= 0, lit(1L))
          .otherwise(lit(0L)))
      .withColumn("__t1", (col("__s0") - col("__q0") * col("__bs")) *
        lit(1000L) + expr("__f6 div 1000"))
      .withColumn("__q1", expr("__t1 div __bs"))
      .withColumn("__t2", (col("__t1") - col("__q1") * col("__bs")) *
        lit(1000L) + expr("__f6 % 1000"))
      .withColumn("twa_micro",
        when(col("span_us") > 0,
          col("__q0") * lit(1000000L) + col("__q1") * lit(1000L) +
            expr("__t2 div __bs")))
      // vdt_s0 / vdt_f6: the v·dt sum published as TWO BIGINTs —
      // integer floor and exact six-digit micro-fraction — instead of
      // the DECIMAL(38,6) itself. Decimal columns are not hash-stable
      // across engines (parquet decimal128 and DuckDB DECIMAL
      // canonicalize value-equal cells differently at the driver —
      // q180 was red three rounds running as the registry's ONLY
      // decimal compare surface while 369 integer/string surfaces
      // stayed green). Note vdt_sum·10⁶ can exceed 2⁶³ at this data's
      // magnitudes, so a single scaled BIGINT is NOT safe — the split
      // representation is. vdt_sum stays on the frame as the library
      // convenience column; compare surfaces must use the split pair.
      .withColumn("vdt_s0", col("__s0"))
      .withColumn("vdt_f6", col("__f6"))
      .drop("__s0", "__f6", "__bs", "__q0", "__t1", "__q1", "__t2")
  }

  /** Regular-grid resampling with forward fill: per sensor, one row per
    * `bucketUs` bucket from its first to its last sample, carrying the
    * bucket's LATEST value forward across empty buckets — the
    * gap-filling resample every downstream ML feature join expects
    * (regular grids, no missing rows).
    *
    * Determinism: the per-bucket representative is max(struct(t,
    * value)) — the latest sample, value-tiebroken (the q157/q162
    * latest-wins total order) — and the carry is `last(_, ignoreNulls)`
    * over the bucket sequence. Leading buckets always have a value (the
    * grid starts at the sensor's first sample). Pure integer bucket
    * arithmetic (µs < 2⁵³ divide exactly in double space).
    *
    * Scale shape: one (sensor, bucket) aggregate, a scan-stage grid
    * explode (one row per bucket in the sensor's OWN span — never a
    * global calendar), and one keyed window for the carry; everything
    * shares the sensor partitioning. Grid size is span/bucketUs per
    * sensor — choose bucketUs accordingly.
    */
  def resampleForwardFill(
      samples: DataFrame, bucketUs: Long): DataFrame = {
    require(bucketUs > 0, "bucket width must be positive")
    val w = Window.partitionBy(col("sensor_id")).orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    resampleGrid(samples, bucketUs)
      .withColumn("value", last(col("__v"), ignoreNulls = true).over(w))
      .select(col("sensor_id"),
        (col("__b") * bucketUs).as("bucket_start_us"), col("value"),
        col("__v").isNull.cast("int").as("filled"))
  }

  /** Dense per-sensor bucket grid with each bucket's latest-wins value
    * (NULL where the bucket is empty) — the shared first stage of the
    * resample family ([[resampleForwardFill]], [[resampleLinear]]).
    */
  private def resampleGrid(
      samples: DataFrame, bucketUs: Long): DataFrame = {
    val bucketed = samples
      .withColumn("__b",
        floor(col("timestamp_us") / bucketUs).cast("long"))
      .groupBy(col("sensor_id"), col("__b"))
      .agg(max(struct(col("timestamp_us"), col("value"))).as("__m"))
      .select(col("sensor_id"), col("__b"),
        col("__m.value").as("__v"))
    val spans = bucketed.groupBy(col("sensor_id"))
      .agg(min(col("__b")).as("__lo"), max(col("__b")).as("__hi"))
      .select(col("sensor_id"),
        explode(sequence(col("__lo"), col("__hi"))).as("__b"))
    spans.join(bucketed, Seq("sensor_id", "__b"), "left")
  }

  /** Linear-interpolation resample — [[resampleForwardFill]]'s twin
    * for signals where a straight line between neighbors beats a step
    * (temperatures, rates): empty buckets take
    * prev + (next − prev) · (b − b_prev)/(b_next − b_prev). The grid
    * starts and ends at the sensor's own first/last sample, so every
    * filled bucket has BOTH neighbors by construction — no
    * extrapolation branch.
    *
    * Determinism: the per-bucket representative is the q191
    * latest-wins struct max; the interpolation is a FIXED expression
    * shape — one subtract, one integer-delta division, one multiply,
    * one add — so the surface replays bit-identically off-engine.
    * Neighbor lookups are ignoreNulls window carries (forward +
    * backward) over the SAME sensor partitioning as the grid — two
    * window passes, zero extra shuffles (same key, Catalyst reuses the
    * exchange).
    */
  def resampleLinear(
      samples: DataFrame, bucketUs: Long): DataFrame = {
    require(bucketUs > 0, "bucket width must be positive")
    val back = Window.partitionBy(col("sensor_id")).orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd = Window.partitionBy(col("sensor_id")).orderBy(col("__b"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val known = when(col("__v").isNotNull, col("__b"))
    resampleGrid(samples, bucketUs)
      .withColumn("__pv", last(col("__v"), ignoreNulls = true).over(back))
      .withColumn("__pb", last(known, ignoreNulls = true).over(back))
      .withColumn("__nv", first(col("__v"), ignoreNulls = true).over(fwd))
      .withColumn("__nb", first(known, ignoreNulls = true).over(fwd))
      .withColumn("value",
        when(col("__v").isNotNull, col("__v"))
          .otherwise(col("__pv") + (col("__nv") - col("__pv")) *
            ((col("__b") - col("__pb")).cast("double") /
              (col("__nb") - col("__pb")).cast("double"))))
      .select(col("sensor_id"),
        (col("__b") * bucketUs).as("bucket_start_us"), col("value"),
        col("__v").isNull.cast("int").as("filled"))
  }

  /** LTTB-style downsampling (Steinarsson 2013, the parallel
    * bucket-centroid variant): per time bucket keep the point forming
    * the LARGEST TRIANGLE with the neighbor buckets' centroids — the
    * visualization downsampler that preserves spikes and shape where
    * per-bucket mean/min/max (q160 M4) flattens them. Classic LTTB
    * anchors on the previously SELECTED point (a sequential chain);
    * anchoring on the previous bucket's centroid instead removes the
    * chain, which is what makes the operator distributable — the
    * standard trade in parallel implementations.
    *
    * Exactness: with per-sensor re-based µs times and µ-unit values,
    * the triangle-area comparison multiplies through by the buckets'
    * common denominator n_A²·n_C — both terms of the cross product
    * become exact INTEGER products (DECIMAL(38,0) — operands cast
    * before multiplying, the q218 overflow discipline), so the
    * argmax is an exact integer comparison with a (t, value) tie
    * order and replays on any engine. No float touches the compare
    * path; the output is raw selected points. Magnitude contract:
    * span_µs · n_bucket² · 10⁶·|v| < 10³⁸ — petabyte-safe.
    *
    * Edge buckets: a bucket missing its previous centroid emits its
    * FIRST point, missing its next emits its LAST point (so each
    * series keeps its global endpoints, as in classic LTTB).
    *
    * Scale shape: one (sensor, bucket) aggregate, two window passes
    * (per-sensor min, neighbor centroids) and one join back to the
    * bucket's own points — all partitioned by sensor; output is one
    * row per bucket.
    */
  def lttbDownsample(
      samples: DataFrame, bucketUs: Long): DataFrame = {
    require(bucketUs > 0, "bucket width must be positive")
    val bySensor = Window.partitionBy(col("sensor_id"))
    val pts = samples
      .withColumn("__t0", min(col("timestamp_us")).over(bySensor))
      .withColumn("__t", col("timestamp_us") - col("__t0"))
      .withColumn("__v", floor(col("value") * 1e6).cast("long"))
      .withColumn("__b", floor(col("timestamp_us") / bucketUs)
        .cast("long"))
    val cent = pts.groupBy(col("sensor_id"), col("__b"))
      .agg(count(lit(1)).as("__n"), sum(col("__t")).as("__st"),
        sum(col("__v")).as("__sv"))
    val seq = Window.partitionBy(col("sensor_id")).orderBy(col("__b"))
    val anchored = cent
      .withColumn("__na", lag(col("__n"), 1).over(seq))
      .withColumn("__sta", lag(col("__st"), 1).over(seq))
      .withColumn("__sva", lag(col("__sv"), 1).over(seq))
      .withColumn("__nc", lead(col("__n"), 1).over(seq))
      .withColumn("__stc", lead(col("__st"), 1).over(seq))
      .withColumn("__svc", lead(col("__sv"), 1).over(seq))
    val joined = pts.join(anchored.drop("__n", "__st", "__sv"),
      Seq("sensor_id", "__b"))
    val dec = "decimal(38,0)"
    // area·n_A²·n_C = |(St_A·n_C − St_C·n_A)(v·n_A − Sv_A)
    //                − (St_A − t·n_A)(Sv_C·n_A − Sv_A·n_C)|
    val t1 = (col("__sta").cast(dec) * col("__nc") -
      col("__stc").cast(dec) * col("__na")) *
      (col("__v").cast(dec) * col("__na") - col("__sva"))
    val t2 = (col("__sta").cast(dec) - col("__t").cast(dec) * col("__na")) *
      (col("__svc").cast(dec) * col("__na") - col("__sva").cast(dec) * col("__nc"))
    val interiorRank = Window.partitionBy(col("sensor_id"), col("__b"))
      .orderBy(col("__area").desc, col("__t").asc, col("__v").asc)
    val firstRank = Window.partitionBy(col("sensor_id"), col("__b"))
      .orderBy(col("__t").asc, col("__v").asc)
    val lastRank = Window.partitionBy(col("sensor_id"), col("__b"))
      .orderBy(col("__t").desc, col("__v").desc)
    joined
      .withColumn("__area",
        when(col("__na").isNotNull && col("__nc").isNotNull, abs(t1 - t2))
          .otherwise(lit(null).cast(dec)))
      .withColumn("__rk",
        when(col("__na").isNotNull && col("__nc").isNotNull,
          row_number().over(interiorRank))
          .when(col("__na").isNull, row_number().over(firstRank))
          .otherwise(row_number().over(lastRank)))
      .filter(col("__rk") === 1)
      .select(col("sensor_id"), col("__b").as("bucket"),
        col("timestamp_us"), col("value"))
      .orderBy("sensor_id", "bucket")
  }

  /** Maximum interval concurrency (sweep line): how many intervals
    * [start_us, end_us] overlap at the busiest instant, and the first
    * µs where the peak occurs — capacity planning over sensor coverage,
    * session, or job intervals.
    *
    * The textbook sweep (±1 deltas, ONE global running sum) is a
    * single-partition scan at 100 TB, so this runs the DISTRIBUTED
    * prefix-sum shape instead: deltas bucket by time, each bucket
    * computes its internal running sums in parallel, and the
    * cross-bucket carry-in is a prefix sum over the BUCKET TOTALS — a
    * table bounded by timespan/bucketUs, not by data size (its global
    * window is the documented single-partition step; pick bucketUs so
    * the timespan yields thousands of buckets, not billions). carry +
    * in-bucket sum ≡ the global prefix sum exactly (associativity),
    * pinned against the naive form in the spec.
    *
    * Tie policy at equal t: −1 before +1 (delta ascending), i.e. an
    * interval ending at t−1 releases before one starting at t counts —
    * the conservative peak. Deterministic: equal-(t, delta) reorderings
    * never change the running max (the max lands on the last +1 of a
    * tie group, which carries the group-final sum).
    */
  def maxConcurrency(intervals: DataFrame, bucketUs: Long): DataFrame = {
    require(bucketUs > 0, "bucket width must be positive")
    val d = intervals.select(col("start_us").as("t"), lit(1L).as("delta"))
      .unionAll(intervals.select((col("end_us") + 1L).as("t"),
        lit(-1L).as("delta")))
      // µs < 2^53 divide exactly in double space (BandJoin precedent)
      .withColumn("__bucket", floor(col("t") / bucketUs).cast("long"))
    val wIn = Window.partitionBy(col("__bucket"))
      .orderBy(col("t"), col("delta"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val run = d.withColumn("__c_in", sum(col("delta")).over(wIn))
    val buckets = run.groupBy(col("__bucket"))
      .agg(sum(col("delta")).as("__tot"), max(col("__c_in")).as("__in_max"))
    val wCarry = Window.orderBy(col("__bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carried = buckets.withColumn("__carry",
      coalesce(sum(col("__tot")).over(wCarry), lit(0L)))
    val peak = broadcast(carried.agg(
      max(col("__carry") + col("__in_max")).as("max_concurrent")))
    run
      // the carry table is ≤ bucket-count rows — broadcast, so the
      // delta stream is never re-shuffled for the join-back
      .join(broadcast(carried.select(col("__bucket"), col("__carry"))),
        "__bucket")
      .crossJoin(peak)
      .filter(col("__carry") + col("__c_in") === col("max_concurrent"))
      .groupBy(col("max_concurrent"))
      .agg(min(col("t")).as("at_us"))
  }

  /** Per-sensor peak detection over bucketed totals: a peak is a
    * bucket strictly above BOTH neighbors (plateaus and endpoints are
    * not peaks — the strict definition is the deterministic one), and
    * its `drop` is how far it stands above the higher neighbor — the
    * cheap prominence proxy alerting rules threshold on.
    *
    * Exactness: bucket totals are exact integer sums; the neighbor
    * comparisons and drops are pure integer lag/lead arithmetic — the
    * q337 all-integer replay class, nothing to quantize.
    *
    * Scale shape: one (sensor, bucket) aggregate, one sensor-keyed
    * window for lag/lead, one summary aggregate. Output per sensor:
    * (n_buckets, n_peaks, max_drop, peak_bucket — the argmax drop,
    * earliest on ties).
    */
  def peaks(
      samples: DataFrame, bucketUs: Long = 3600000000L,
      unitsPerValue: Double = 1e3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(bucketUs > 0, "bucketUs must be positive")
    val byB = samples.select(col("sensor_id"),
        expr(s"CAST(timestamp_us AS BIGINT) div ${bucketUs}L")
          .as("__b"),
        floor(col("value") * unitsPerValue).cast("long").as("__q"))
      .groupBy(col("sensor_id"), col("__b"))
      .agg(sum(col("__q")).as("__s"))
    val w = Window.partitionBy(col("sensor_id")).orderBy(col("__b"))
    val flagged = byB
      .withColumn("__prev", lag(col("__s"), 1).over(w))
      .withColumn("__next", lead(col("__s"), 1).over(w))
      .withColumn("__isPeak",
        col("__prev").isNotNull && col("__next").isNotNull &&
          col("__s") > col("__prev") && col("__s") > col("__next"))
      .withColumn("__drop",
        when(col("__isPeak"),
          col("__s") - greatest(col("__prev"), col("__next"))))
    val withMax = flagged.withColumn("__maxd",
      max(col("__drop")).over(Window.partitionBy(col("sensor_id"))))
    withMax.groupBy(col("sensor_id"))
      .agg(count(lit(1)).as("n_buckets"),
        count(when(col("__isPeak"), lit(1))).as("n_peaks"),
        max(col("__drop")).as("max_drop"),
        min(when(col("__drop") === col("__maxd"), col("__b")))
          .as("peak_bucket"))
  }

  /** Trailing-window z-score anomalies: each sample scored against
    * the mean/std of its own series' PREVIOUS `window` samples (the
    * self-calibrating threshold production alerting uses — a fixed
    * threshold can't serve sensors with different baselines). Emits
    * only samples with a FULL trailing window and |z| ≥ `zCut`.
    *
    * Exactness: the trailing sums are exact integer window frames
    * (milli-quantized values, cast-first decimal squares); the z
    * chain is one fixed IEEE shape per row — identical doubles both
    * engines, so even the |z| ≥ cut comparison replays (same values
    * compared, not re-derived). ROUND(6) surface.
    *
    * Scale shape: ONE series-keyed window sort shared by the three
    * frames; the anomaly filter keeps output row counts tiny.
    */
  def rollingZAnomalies(
      samples: DataFrame, window: Int = 24, zCut: Double = 4.0,
      unitsPerValue: Double = 1e3): DataFrame = {
    require(window >= 2 && zCut > 0, "need window >= 2, zCut > 0")
    import org.apache.spark.sql.expressions.Window
    val base = samples.select(col("sensor_id"),
      col("timestamp_us").cast("long").as("timestamp_us"),
      floor(col("value") * unitsPerValue).cast("long").as("__q"))
    // ties on t break on the QUANTIZED value — the column both
    // engines actually carry at this point
    val w = Window.partitionBy(col("sensor_id"))
      .orderBy(col("timestamp_us"), col("__q"))
      .rowsBetween(-window.toLong, -1L)
    val scored = base
      .withColumn("__cnt", count(col("__q")).over(w))
      .withColumn("__s", sum(col("__q")).over(w))
      .withColumn("__ss", sum(col("__q").cast("decimal(19,0)") *
        col("__q")).over(w).cast("double"))
      .filter(col("__cnt") === window)
    val nd = col("__cnt").cast("double")
    val sd = col("__s").cast("double")
    val mean = sd / nd
    val varW = (col("__ss") - sd * sd / nd) / (nd - lit(1.0))
    // constant trailing windows (variance 0) are dropped on BOTH
    // engines — ANSI double/0 would throw
    scored
      .withColumn("__var", varW)
      .filter(col("__var") > 0)
      .withColumn("__z",
        (col("__q").cast("double") - mean) / sqrt(col("__var")))
      .filter(abs(col("__z")) >= zCut)
      .select(col("sensor_id"), col("timestamp_us"),
        col("__q").as("vq"), round(col("__z"), 6).as("z"))
  }
}
