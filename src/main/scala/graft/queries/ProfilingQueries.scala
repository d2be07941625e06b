package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.adapters.EventsAdapter
import graft.exporters.Exporters
import graft.operators.{AsOfJoin, LabelMatcher, Matchers, SensorOps}
import graft.pipeline.{Dedup, Multimodal, Similarity, TextAnalysis}
import graft.prometheus.{PrometheusRemote, XorChunk}
import graft.promql.SimplePromQL
import graft.sources.{CsvImporter, InfluxLineProtocol, SenML}
import QueryHelpers._

/** Data profiling and drift: one-pass profiles, PSI/KS/Wasserstein, Benford, expectations, outlier screens.
  *
  * One of the family registries composed into [[graft.Queries]];
  * oracle/alias conventions are documented there.
  */
private[graft] object ProfilingQueries {

  val registry: Seq[Q] = Seq(

    // ---------------------------------------------------------------------
    // Json value type (§1.2): label/property extraction from JSON columns
    // with Spark's JSON functions (the reference stores Json samples as
    // canonical JSON text — SURVEY §1.2).
    q(
      "q35_json_props",
      """SELECT event_type AS name, COUNT(*) AS n,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k
        |FROM events GROUP BY name ORDER BY name"""
    ) { (s, d) =>
      Tables.events(s, d)
        .select(col("event_type").as("name"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("name"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"))
        .orderBy("name")
    },

    // One-pass numeric profiling (the drift-detection snapshot): every
    // column's stats come out of a SINGLE aggregate, unpivoted to a
    // (column, stats) surface. Mean/stddev round to 6 (summation-order
    // ulp, the q78 precedent); min/max/counts are exact.
    q(
      "q112_numeric_profile",
      """SELECT 'l_discount' AS col_name, COUNT(l_discount) AS n,
        |  COUNT(*) - COUNT(l_discount) AS n_nulls,
        |  ROUND(MIN(l_discount)::DOUBLE, 6) AS min,
        |  ROUND(MAX(l_discount)::DOUBLE, 6) AS max,
        |  ROUND(AVG(l_discount), 6) AS mean,
        |  ROUND(STDDEV_SAMP(l_discount), 6) AS stddev
        |FROM lineitem
        |UNION ALL
        |SELECT 'l_extendedprice', COUNT(l_extendedprice),
        |  COUNT(*) - COUNT(l_extendedprice),
        |  ROUND(MIN(l_extendedprice)::DOUBLE, 6),
        |  ROUND(MAX(l_extendedprice)::DOUBLE, 6),
        |  ROUND(AVG(l_extendedprice), 6),
        |  ROUND(STDDEV_SAMP(l_extendedprice), 6)
        |FROM lineitem
        |UNION ALL
        |SELECT 'l_quantity', COUNT(l_quantity),
        |  COUNT(*) - COUNT(l_quantity),
        |  ROUND(MIN(l_quantity)::DOUBLE, 6),
        |  ROUND(MAX(l_quantity)::DOUBLE, 6),
        |  ROUND(AVG(l_quantity), 6),
        |  ROUND(STDDEV_SAMP(l_quantity), 6)
        |FROM lineitem
        |ORDER BY col_name"""
    ) { (s, d) =>
      graft.pipeline.Profiler.numericProfile(
        Tables.lineitem(s, d),
        Seq("l_discount", "l_extendedprice", "l_quantity"))
        .select(col("column").as("col_name"), col("n"), col("n_nulls"),
          round(col("min"), 6).as("min"), round(col("max"), 6).as("max"),
          round(col("mean"), 6).as("mean"),
          round(col("stddev"), 6).as("stddev"))
        .orderBy("col_name")
    },

    // Quantile profile: p25/p50/p75/p95 per numeric column, still one
    // aggregate pass (12 exact percentiles collected together) —
    // Spark's percentile and DuckDB's quantile_cont share the
    // linear-interpolation definition; ROUND(6) absorbs the ulp.
    q(
      "q115_quantile_profile",
      """SELECT 'l_discount' AS col_name,
        |  ROUND(quantile_cont(l_discount, 0.25), 6) AS p25,
        |  ROUND(quantile_cont(l_discount, 0.5), 6) AS p50,
        |  ROUND(quantile_cont(l_discount, 0.75), 6) AS p75,
        |  ROUND(quantile_cont(l_discount, 0.95), 6) AS p95
        |FROM lineitem
        |UNION ALL
        |SELECT 'l_extendedprice',
        |  ROUND(quantile_cont(l_extendedprice, 0.25), 6),
        |  ROUND(quantile_cont(l_extendedprice, 0.5), 6),
        |  ROUND(quantile_cont(l_extendedprice, 0.75), 6),
        |  ROUND(quantile_cont(l_extendedprice, 0.95), 6)
        |FROM lineitem
        |UNION ALL
        |SELECT 'l_quantity',
        |  ROUND(quantile_cont(l_quantity, 0.25), 6),
        |  ROUND(quantile_cont(l_quantity, 0.5), 6),
        |  ROUND(quantile_cont(l_quantity, 0.75), 6),
        |  ROUND(quantile_cont(l_quantity, 0.95), 6)
        |FROM lineitem
        |ORDER BY col_name"""
    ) { (s, d) =>
      val li = Tables.lineitem(s, d)
      val cols = Seq("l_discount", "l_extendedprice", "l_quantity")
      // exact = true is the ORACLE surface only (DuckDB quantile_cont
      // hash-matches exact percentile); the production path is
      // Profiler.quantileProfile's default approx_percentile, whose
      // state is accuracy-bounded instead of O(rows) — an ε-bound
      // property in PipelineSpec ties the two paths together
      graft.pipeline.Profiler.quantileProfile(li, cols,
          probs = Seq(0.25, 0.5, 0.75, 0.95), exact = true)
        .select(col("column").as("col_name"),
          round(col("p25"), 6).as("p25"), round(col("p50"), 6).as("p50"),
          round(col("p75"), 6).as("p75"), round(col("p95"), 6).as("p95"))
        .orderBy("col_name")
    },

    // Profile drift between two corpus snapshots (even vs odd order
    // keys standing in for run N vs run N+1): per column, both means,
    // the baseline-stddev-normalized mean shift and the count ratio.
    // The oracle replays both one-pass profiles and the same division
    // order; everything rounds to 6 over the summation ulp.
    q(
      "q117_profile_drift",
      """WITH b AS (
        |  SELECT 'l_discount' AS col_name, COUNT(l_discount) AS n,
        |    AVG(l_discount) AS mean, STDDEV_SAMP(l_discount) AS sd
        |  FROM lineitem WHERE l_orderkey % 2 = 0
        |  UNION ALL
        |  SELECT 'l_quantity', COUNT(l_quantity), AVG(l_quantity),
        |    STDDEV_SAMP(l_quantity)
        |  FROM lineitem WHERE l_orderkey % 2 = 0),
        |c AS (
        |  SELECT 'l_discount' AS col_name, COUNT(l_discount) AS n,
        |    AVG(l_discount) AS mean
        |  FROM lineitem WHERE l_orderkey % 2 = 1
        |  UNION ALL
        |  SELECT 'l_quantity', COUNT(l_quantity), AVG(l_quantity)
        |  FROM lineitem WHERE l_orderkey % 2 = 1)
        |SELECT b.col_name, b.n AS n_base, c.n AS n_cur,
        |  ROUND(b.mean, 6) AS mean_base, ROUND(c.mean, 6) AS mean_cur,
        |  ROUND(abs(c.mean - b.mean) / b.sd, 6) AS mean_shift,
        |  ROUND(c.n / CAST(b.n AS DOUBLE), 6) AS count_ratio
        |FROM b JOIN c USING (col_name) ORDER BY col_name"""
    ) { (s, d) =>
      import graft.pipeline.Profiler
      val li = Tables.lineitem(s, d)
      val cols = Seq("l_discount", "l_quantity")
      val base = Profiler.numericProfile(
        li.filter(col("l_orderkey") % 2 === 0), cols)
      val cur = Profiler.numericProfile(
        li.filter(col("l_orderkey") % 2 === 1), cols)
      Profiler.drift(base, cur)
        .select(col("column").as("col_name"), col("n_base"), col("n_cur"),
          round(col("mean_base"), 6).as("mean_base"),
          round(col("mean_cur"), 6).as("mean_cur"),
          round(col("mean_shift"), 6).as("mean_shift"),
          round(col("count_ratio"), 6).as("count_ratio"))
        .orderBy("col_name")
    },

    // Document-length histogram per source: 500-char buckets capped at
    // bucket 9 — pure integer arithmetic on both sides (no
    // width_bucket, which the engines define differently), the
    // profiling companion to q112/q115.
    q(
      "q120_length_histogram",
      """SELECT source,
        |  CAST(LEAST(n_chars // 500, 9) AS BIGINT) AS bucket,
        |  COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents
        |GROUP BY 1, 2 ORDER BY 1, 2"""
    ) { (s, d) =>
      Tables.documents(s, d)
        .groupBy(col("source"),
          least(expr("n_chars div 500"), lit(9)).as("bucket"))
        .agg(count(lit(1)).as("n"),
          sum(col("n_chars")).cast("long").as("sum_chars"))
        .orderBy("source", "bucket")
    },

    // Categorical profile: distinct counts and top-3 values for two
    // lineitem string columns in ONE shuffle — every column melts into
    // a (column, value) frame first, so the profile never runs one job
    // per column. Ties break on the value string.
    q(
      "q128_categorical_profile",
      """WITH m AS (
        |  SELECT 'l_returnflag' AS col_name, l_returnflag AS value
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'l_linestatus', l_linestatus FROM lineitem),
        |c AS (
        |  SELECT col_name, value, COUNT(*) AS n
        |  FROM m GROUP BY 1, 2),
        |r AS (
        |  SELECT col_name, value, n,
        |    ROW_NUMBER() OVER (PARTITION BY col_name
        |      ORDER BY n DESC, value) AS rank,
        |    COUNT(*) OVER (PARTITION BY col_name) AS n_distinct
        |  FROM c)
        |SELECT col_name, CAST(n_distinct AS BIGINT) AS n_distinct,
        |  rank, value, n
        |FROM r WHERE rank <= 3 ORDER BY col_name, rank"""
    ) { (s, d) =>
      graft.pipeline.Profiler.categoricalProfile(
        Tables.lineitem(s, d), Seq("l_returnflag", "l_linestatus"), k = 3)
        .select(col("column").as("col_name"),
          col("n_distinct").cast("long").as("n_distinct"),
          col("rank"), col("value"), col("n"))
        .orderBy("col_name", "rank")
    },

    // Population Stability Index between two corpus snapshots (even vs
    // odd order keys, the q117 split): FIXED bucket edges (replayable —
    // quantile-derived edges would make the metric depend on the
    // snapshot), Laplace-smoothed shares so no bucket divides by zero,
    // per-bucket (p−q)·ln(p/q) contributions. The oracle replays the
    // identical bucket/smoothing/ln arithmetic; ROUND(6) absorbs the
    // libm ulp (the q119 Zipf precedent).
    q(
      "q130_psi_drift",
      """WITH base AS (
        |  SELECT o_totalprice AS v FROM orders WHERE o_orderkey % 2 = 0),
        |cur AS (
        |  SELECT o_totalprice AS v FROM orders WHERE o_orderkey % 2 = 1),
        |bb AS (
        |  SELECT LEAST(9, GREATEST(0,
        |    CAST(FLOOR((v - 0.0) / 50000.0) AS INT))) AS bucket,
        |    COUNT(*) AS n_base
        |  FROM base GROUP BY 1),
        |cb AS (
        |  SELECT LEAST(9, GREATEST(0,
        |    CAST(FLOOR((v - 0.0) / 50000.0) AS INT))) AS bucket,
        |    COUNT(*) AS n_cur
        |  FROM cur GROUP BY 1),
        |spine AS (SELECT CAST(unnest(range(10)) AS INT) AS bucket),
        |j AS (
        |  SELECT spine.bucket, COALESCE(n_base, 0) AS n_base,
        |    COALESCE(n_cur, 0) AS n_cur
        |  FROM spine LEFT JOIN bb USING (bucket) LEFT JOIN cb USING (bucket)),
        |t AS (SELECT SUM(n_base) AS tb, SUM(n_cur) AS tc FROM j)
        |SELECT bucket, n_base, n_cur,
        |  ROUND((p - q) * ln(p / q), 6) AS psi_part
        |FROM (
        |  SELECT j.bucket, j.n_base, j.n_cur,
        |    (j.n_base + 0.5) / (t.tb + 0.5 * 10) AS p,
        |    (j.n_cur + 0.5) / (t.tc + 0.5 * 10) AS q
        |  FROM j, t)
        |ORDER BY bucket"""
    ) { (s, d) =>
      val o = Tables.orders(s, d)
      graft.pipeline.Profiler.psi(
          o.filter(col("o_orderkey") % 2 === 0),
          o.filter(col("o_orderkey") % 2 === 1),
          "o_totalprice", lo = 0.0, hi = 500000.0, k = 10)
        .select(col("bucket"), col("n_base"), col("n_cur"),
          round(col("psi_part"), 6).as("psi_part"))
        .orderBy("bucket")
    },

    // Shuffle-skew diagnosis on a prospective join key: top-10 hottest
    // user_ids with count, corpus share, and hot/mean ratio (multiples
    // of the mean rows per distinct KEY) — the measurement that routes
    // a join to SaltedJoin (q111/q129). AQE
    // splits oversized partitions, never a single hot KEY; hot_ratio
    // >> 1 is the straggler signature. Integer counts rank exactly;
    // the two ratios are single IEEE divisions, ROUND(6).
    q(
      "q138_skew_profile",
      """WITH c AS (
        |  SELECT user_id AS key, COUNT(*) AS n FROM events GROUP BY 1),
        |t AS (SELECT CAST(SUM(n) AS DOUBLE) AS total,
        |  CAST(COUNT(*) AS DOUBLE) AS dist FROM c)
        |SELECT key, n,
        |  ROUND(CAST(n AS DOUBLE) / t.total, 6) AS share,
        |  ROUND(CAST(n AS DOUBLE) * t.dist / t.total, 6) AS hot_ratio
        |FROM (SELECT key, n FROM c ORDER BY n DESC, key LIMIT 10) c2, t
        |ORDER BY n DESC, key"""
    ) { (s, d) =>
      graft.pipeline.Profiler.skewProfile(
        Tables.events(s, d), "user_id", k = 10)
    },

    // Profiled skew routing end-to-end: autoJoinProfiled derives the
    // hot threshold from the measured key distribution (safetyFactor x
    // total/shuffle-partitions — the q138 measurement feeding the q129
    // router with no caller-picked constant) and must still produce
    // exactly the plain join. Same join as q129; only the threshold's
    // provenance differs.
    q("q142_auto_skew_profiled", viewsPerClickUserOracleSql) { (s, d) =>
      viewsPerClickUser(s, d) { (fact, dim) =>
        graft.operators.SaltedJoin
          .autoJoinProfiled(fact, dim, "user_id", salts = 8)
      }
    },

    // Robust per-user outlier detection: purchase rows with
    // |value − median| > 3·MAD. The oracle surface runs exact=true
    // (DuckDB median ≡ Spark exact percentile, the q115 split); the
    // cut is FIXED-POINT (both sides scaled 1e4 and rounded before the
    // strict >) because the 2-decimal money values put a literal
    // |dev| = 3·MAD tie in the sf0.1 corpus — in float space that row's
    // fate would hinge on interpolation-formula ulps.
    q(
      "q148_mad_outliers",
      """WITH e AS (
        |  SELECT user_id, value FROM events
        |  WHERE event_type = 'purchase'),
        |m AS (SELECT user_id, median(value) AS med FROM e GROUP BY 1),
        |d AS (SELECT e.user_id, e.value,
        |    abs(e.value - m.med) AS ad, m.med
        |  FROM e JOIN m USING (user_id)),
        |md AS (SELECT user_id, median(ad) AS mad FROM d GROUP BY 1)
        |SELECT d.user_id, d.value,
        |  ROUND(d.med, 6) AS med, ROUND(md.mad, 6) AS mad
        |FROM d JOIN md USING (user_id)
        |WHERE ROUND(d.ad * 10000.0::DOUBLE)
        |    > ROUND(3.0::DOUBLE * md.mad * 10000.0::DOUBLE)
        |ORDER BY user_id, value"""
    ) { (s, d) =>
      graft.pipeline.Profiler.madOutliers(
          Tables.events(s, d).filter(col("event_type") === "purchase"),
          "user_id", "value", c = 3.0, exact = true)
        .orderBy("user_id", "value")
    },

    // Two-sample Kolmogorov–Smirnov drift: purchase values in the
    // first vs second half of the month. Exact form (the oracle
    // surface): integer cumulative counts, one IEEE division per CDF
    // point, argmax tie-broken on the value — every double identical
    // on both engines. The binned production variant is spec-pinned
    // against this exact form.
    q(
      "q158_ks_drift",
      """WITH a AS (SELECT value AS v FROM events
        |  WHERE event_type = 'purchase'
        |    AND epoch_us(ts) < 1705363200000000),
        |b AS (SELECT value AS v FROM events
        |  WHERE event_type = 'purchase'
        |    AND epoch_us(ts) >= 1705363200000000),
        |av AS (SELECT v, COUNT(*) AS ca FROM a GROUP BY 1),
        |bv AS (SELECT v, COUNT(*) AS cb FROM b GROUP BY 1),
        |m AS (SELECT COALESCE(av.v, bv.v) AS v,
        |    COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
        |  FROM av FULL JOIN bv ON av.v = bv.v),
        |t AS (SELECT CAST(SUM(ca) AS DOUBLE) AS na,
        |    CAST(SUM(cb) AS DOUBLE) AS nb FROM m),
        |c AS (SELECT v,
        |    CAST(SUM(ca) OVER (ORDER BY v) AS DOUBLE) AS cua,
        |    CAST(SUM(cb) OVER (ORDER BY v) AS DOUBLE) AS cub FROM m),
        |d AS (SELECT v, abs(cua / t.na - cub / t.nb) AS dd
        |  FROM c, t)
        |SELECT CAST(t.na AS BIGINT) AS n_a, CAST(t.nb AS BIGINT) AS n_b,
        |  v AS at_value, dd AS d_stat
        |FROM d, t ORDER BY dd DESC, v LIMIT 1"""
    ) { (s, d) =>
      val p = Tables.events(s, d).filter(col("event_type") === "purchase")
      graft.pipeline.Profiler.ksTest(
        p.filter(unix_micros(col("ts")) < lit(1705363200000000L)),
        p.filter(unix_micros(col("ts")) >= lit(1705363200000000L)),
        "value")
    },

    // Availability islands — the q159 gap report's complement: per
    // sensor, consecutive samples within 2 days merge into coverage
    // intervals (gaps-and-islands via one running break-count window,
    // then one island aggregate). Pure integer µs.
    q(
      "q170_availability",
      s"""WITH $sensorIslandCtes
         |SELECT sensor_id, MIN(t) AS start_us, MAX(t) AS end_us,
         |  COUNT(*) AS n_samples, MAX(t) - MIN(t) AS duration_us
         |FROM i GROUP BY sensor_id, island
         |ORDER BY sensor_id, start_us"""
    ) { (s, d) =>
      graft.operators.SensorOps.availabilityIntervals(
          EventsAdapter.samples(s, d), thresholdUs = 172800000000L)
        .orderBy("sensor_id", "start_us")
    },

    // Temporal validity (point-in-time) join: click events enriched
    // with the SCD2 per-user state version (q161's history) current at
    // the click's timestamp — equi-join on the key, interval test as a
    // post-filter (each fact meets version-count rows, never fact²).
    q(
      "q183_validity_join",
      """WITH pt AS (SELECT user_id, epoch_us(ts) AS t, max(value) AS v
        |  FROM events GROUP BY 1, 2),
        |w AS (SELECT user_id, t, v,
        |    LAG(v) OVER (PARTITION BY user_id ORDER BY t) AS pv
        |  FROM pt),
        |cp AS (SELECT user_id, t, v FROM w
        |  WHERE pv IS NULL OR v <> pv),
        |h AS (SELECT user_id, t AS valid_from,
        |    LEAD(t) OVER (PARTITION BY user_id ORDER BY t) AS valid_to,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY t)
        |      AS version, v AS value
        |  FROM cp),
        |f AS (SELECT event_id, user_id, epoch_us(ts) AS ft FROM events
        |  WHERE event_type = 'click')
        |SELECT f.event_id, f.user_id, f.ft, h.version, h.value
        |FROM f JOIN h ON f.user_id = h.user_id
        |  AND h.valid_from <= f.ft
        |  AND (h.valid_to IS NULL OR f.ft < h.valid_to)
        |ORDER BY event_id"""
    ) { (s, d) =>
      val hist = graft.operators.Changelog.scd2History(
        Tables.events(s, d).select(col("user_id"),
          unix_micros(col("ts")).as("t"), col("value")),
        "user_id", "t", Seq("value"))
      val facts = Tables.events(s, d)
        .filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ft"))
      graft.operators.Changelog.validityJoin(facts, hist, "user_id", "ft")
        .select(col("event_id"), col("user_id"), col("ft"),
          col("version"), col("value"))
        .orderBy("event_id")
    },

    // Join-cardinality estimation without executing the join: per-key
    // |left|·|right| products over the distinct-key count tables (the
    // exact inner-join output size), top contributors — the
    // "will this join explode" pre-flight for a 100 TB shuffle.
    // Integer-exact everywhere but the final share division.
    q(
      "q185_join_cardinality",
      """WITH l AS (SELECT user_id AS uid, COUNT(*) AS n_left
        |  FROM events GROUP BY 1),
        |r AS (SELECT o_custkey AS uid, COUNT(*) AS n_right
        |  FROM orders GROUP BY 1),
        |p AS (SELECT uid AS key, n_left, n_right,
        |    n_left * n_right AS est_pairs FROM l JOIN r USING (uid)),
        |t AS (SELECT CAST(COALESCE(SUM(est_pairs), 0) AS BIGINT)
        |    AS total FROM p)
        |SELECT key, n_left, n_right, est_pairs,
        |  round(CAST(est_pairs AS DOUBLE) / CAST(total AS DOUBLE), 6)
        |    AS share
        |FROM p CROSS JOIN t
        |ORDER BY est_pairs DESC, key LIMIT 10"""
    ) { (s, d) =>
      graft.pipeline.Profiler.joinCardinalityEstimate(
        Tables.events(s, d).select(col("user_id").as("uid")),
        Tables.orders(s, d).select(col("o_custkey").as("uid")),
        "uid", k = 10)
    },

    // Seasonal hour-of-day decomposition: per (event_type, hour),
    // the seasonal mean (DECIMAL sum, one division) and the residual
    // envelope after removing it (MIN/MAX — selection, never a float
    // sum). Spark hour() ≡ DuckDB EXTRACT(hour) under the UTC session.
    q(
      "q186_seasonal_profile",
      """WITH s AS (SELECT event_type AS g, EXTRACT(hour FROM ts) AS hr,
        |    value AS v FROM events),
        |m AS (SELECT g, hr, COUNT(*) AS n,
        |    CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
        |      AS hour_mean
        |  FROM s GROUP BY 1, 2),
        |r AS (SELECT s.g, s.hr, MIN(v - hour_mean) AS min_resid,
        |    MAX(v - hour_mean) AS max_resid
        |  FROM s JOIN m ON s.g = m.g AND s.hr = m.hr GROUP BY 1, 2)
        |SELECT m.g AS event_type, CAST(m.hr AS INTEGER) AS hr, n,
        |  hour_mean, min_resid, max_resid
        |FROM m JOIN r ON m.g = r.g AND m.hr = r.hr
        |ORDER BY event_type, hr"""
    ) { (s, d) =>
      graft.pipeline.Profiler.seasonalHourlyProfile(
          Tables.events(s, d), "event_type", "ts", "value")
        .orderBy("event_type", "hr")
    },

    // Typed JSON property extraction — the semi-structured sidecar
    // column every event pipeline carries: from_json with an explicit
    // schema (the Spark-native path — no schema inference at scale),
    // then integer-exact stats per event type. Oracle extracts with
    // DuckDB's JSON path functions.
    q(
      "q187_json_props",
      """SELECT event_type,
        |  COUNT(*) AS n_with_k,
        |  MIN(k) AS min_k, MAX(k) AS max_k,
        |  CAST(SUM(k) AS BIGINT) AS sum_k,
        |  COUNT(DISTINCT k) AS n_distinct_k
        |FROM (SELECT event_type,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |  FROM events)
        |WHERE k IS NOT NULL
        |GROUP BY 1 ORDER BY event_type"""
    ) { (s, d) =>
      Tables.events(s, d)
        .select(col("event_type"),
          from_json(col("props"), lit("k BIGINT")).getField("k").as("k"))
        .filter(col("k").isNotNull)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_with_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"),
          sum(col("k")).as("sum_k"),
          countDistinct(col("k")).as("n_distinct_k"))
        .orderBy("event_type")
    },

    // Benford first-digit conformance over money-scale columns:
    // digit via exact integer-cents string form (never log10, never
    // double→string), counts as conditional sums, TVD as an explicit
    // 9-term chain against inlined Benford literals, ROUND(6).
    q("q188_benford", benfordSql) { (s, d) =>
      graft.pipeline.Profiler.benfordTest(
          Tables.lineitem(s, d),
          Seq("l_extendedprice", "l_quantity", "l_discount"))
        .orderBy("col_name")
    },

    // Functional-dependency profiler: measured determinant→dependent
    // facts over candidate pairs (holds / violated / worst variant
    // count), integer-exact; one distinct-pair-collapsed aggregate per
    // candidate.
    q(
      "q189_fd_profile",
      """SELECT 'o_custkey -> o_orderpriority' AS dependency,
        |  COUNT(*) AS n_keys,
        |  CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_violating_keys,
        |  MAX(nd) AS max_variants
        |FROM (SELECT o_custkey, COUNT(DISTINCT o_orderpriority) AS nd
        |  FROM orders GROUP BY 1)
        |UNION ALL
        |SELECT 'o_orderkey -> o_custkey', COUNT(*),
        |  CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT),
        |  MAX(nd)
        |FROM (SELECT o_orderkey, COUNT(DISTINCT o_custkey) AS nd
        |  FROM orders GROUP BY 1)
        |UNION ALL
        |SELECT 'o_orderstatus -> o_orderpriority', COUNT(*),
        |  CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT),
        |  MAX(nd)
        |FROM (SELECT o_orderstatus, COUNT(DISTINCT o_orderpriority) AS nd
        |  FROM orders GROUP BY 1)
        |ORDER BY dependency"""
    ) { (s, d) =>
      graft.pipeline.Profiler.functionalDependencies(
          Tables.orders(s, d),
          Seq("o_custkey" -> "o_orderpriority",
            "o_orderkey" -> "o_custkey",
            "o_orderstatus" -> "o_orderpriority"))
        .orderBy("dependency")
    },

    // Grouped quantile profile: per event type, exact percentile array
    // (oracle surface; the production default is the per-group
    // bounded-state approx_percentile — q115's split, grouped).
    q(
      "q193_grouped_quantiles",
      """SELECT event_type, COUNT(*) AS n,
        |  ROUND(quantile_cont(value, 0.25), 6) AS p25,
        |  ROUND(quantile_cont(value, 0.5), 6) AS p50,
        |  ROUND(quantile_cont(value, 0.75), 6) AS p75,
        |  ROUND(quantile_cont(value, 0.95), 6) AS p95
        |FROM events GROUP BY 1 ORDER BY event_type"""
    ) { (s, d) =>
      graft.pipeline.Profiler.quantileProfileGrouped(
          Tables.events(s, d), "event_type", "value", exact = true)
        .orderBy("event_type")
    },

    // Winsorized/trimmed robust statistics: tails beyond [p05, p95]
    // clipped or dropped, DECIMAL sums, single divisions, ROUND(6).
    // Percentile edges replay identically (q115's quantile_cont ≡
    // exact percentile); boundary comparisons are safe because a
    // fractional interpolation index lands strictly between samples
    // and an integer index IS a sample on both engines.
    q(
      "q194_winsorized_stats",
      """WITH e AS (SELECT quantile_cont(l_extendedprice, 0.05) AS lo,
        |    quantile_cont(l_extendedprice, 0.95) AS hi FROM lineitem)
        |SELECT COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN v < lo THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clipped_low,
        |  CAST(SUM(CASE WHEN v > hi THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clipped_high,
        |  round(CAST(SUM(CAST(greatest(lo, least(hi, v))
        |      AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6)
        |    AS winsorized_mean,
        |  round(CAST(SUM(CAST(CASE WHEN v BETWEEN lo AND hi THEN v END
        |      AS DECIMAL(18,2))) AS DOUBLE) /
        |    SUM(CASE WHEN v BETWEEN lo AND hi THEN 1 ELSE 0 END), 6)
        |    AS trimmed_mean
        |FROM (SELECT l_extendedprice AS v FROM lineitem) CROSS JOIN e"""
    ) { (s, d) =>
      graft.pipeline.Profiler.winsorizedStats(
        Tables.lineitem(s, d), "l_extendedprice", exact = true)
    },

    // Cross-sectional fleet outliers: each event z-scored against its
    // (event-type, day) peers; the |z| cut compares identical doubles
    // on both engines — no rounding in the predicate.
    q(
      "q231_fleet_outliers",
      """WITH b AS (SELECT event_type AS cohort,
        |    epoch_us(ts) // 86400000000 AS bucket, event_id, value,
        |    CAST(floor(value * 1000000.0) AS BIGINT) AS v FROM events),
        |st AS (SELECT cohort, bucket, CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(v) AS DOUBLE) AS s, CAST(SUM(v * v) AS DOUBLE)
        |      AS ss
        |  FROM b GROUP BY 1, 2),
        |w AS (SELECT cohort, bucket, s / n AS m,
        |    sqrt((n * ss - s * s) / (n * (n - 1.0))) AS sd FROM st),
        |j AS (SELECT b.cohort, b.bucket, b.event_id, b.value,
        |    (CAST(b.v AS DOUBLE) - w.m) / w.sd AS z
        |  FROM b JOIN w USING (cohort, bucket))
        |SELECT cohort, bucket, event_id, value, ROUND(z, 6) AS z
        |FROM j WHERE abs(z) > 3.0 ORDER BY cohort, bucket, event_id"""
    ) { (s, d) =>
      graft.pipeline.Profiler.fleetOutliers(
          Tables.events(s, d).withColumn("t", unix_micros(col("ts"))),
          "event_type", "t", "event_id", "value",
          bucketUs = 86400000000L)
        .orderBy("cohort", "bucket", "event_id")
    },

    // Monthly composition drift: per-month returnflag mix vs the
    // corpus mix as total variation distance — explicit 3-term chain
    // over the literal flag domain (the q188 Benford pivot
    // discipline), integer counts, fixed IEEE shape.
    q(
      "q247_mix_drift",
      """WITH m AS (SELECT CAST(date_part('year', l_shipdate) * 100
        |      + date_part('month', l_shipdate) AS INTEGER) AS yyyymm,
        |    CAST(SUM(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS ca,
        |    CAST(SUM(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS cn,
        |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS cr,
        |    COUNT(*) AS n
        |  FROM lineitem GROUP BY 1),
        |g AS (SELECT CAST(SUM(ca) AS BIGINT) AS ga,
        |    CAST(SUM(cn) AS BIGINT) AS gn,
        |    CAST(SUM(cr) AS BIGINT) AS gr,
        |    CAST(SUM(n) AS BIGINT) AS gt FROM m)
        |SELECT yyyymm, n,
        |  ROUND((abs(CAST(ca AS DOUBLE) / CAST(n AS DOUBLE)
        |      - CAST(ga AS DOUBLE) / CAST(gt AS DOUBLE))
        |    + abs(CAST(cn AS DOUBLE) / CAST(n AS DOUBLE)
        |      - CAST(gn AS DOUBLE) / CAST(gt AS DOUBLE))
        |    + abs(CAST(cr AS DOUBLE) / CAST(n AS DOUBLE)
        |      - CAST(gr AS DOUBLE) / CAST(gt AS DOUBLE))) / 2.0, 6)
        |    AS tvd
        |FROM m CROSS JOIN g ORDER BY yyyymm"""
    ) { (s, d) =>
      val m = Tables.lineitem(s, d)
        .groupBy((year(col("l_shipdate")) * 100 +
          month(col("l_shipdate"))).cast("int").as("yyyymm"))
        .agg(
          sum((col("l_returnflag") === "A").cast("long")).as("ca"),
          sum((col("l_returnflag") === "N").cast("long")).as("cn"),
          sum((col("l_returnflag") === "R").cast("long")).as("cr"),
          count(lit(1)).as("n"))
      val g = broadcast(m.agg(sum(col("ca")).as("ga"),
        sum(col("cn")).as("gn"), sum(col("cr")).as("gr"),
        sum(col("n")).as("gt")))
      m.crossJoin(g).selectExpr("yyyymm", "n",
        "round((abs(CAST(ca AS DOUBLE) / CAST(n AS DOUBLE)" +
          " - CAST(ga AS DOUBLE) / CAST(gt AS DOUBLE))" +
          " + abs(CAST(cn AS DOUBLE) / CAST(n AS DOUBLE)" +
          " - CAST(gn AS DOUBLE) / CAST(gt AS DOUBLE))" +
          " + abs(CAST(cr AS DOUBLE) / CAST(n AS DOUBLE)" +
          " - CAST(gr AS DOUBLE) / CAST(gt AS DOUBLE))) / 2.0, 6)" +
          " AS tvd")
        .orderBy("yyyymm")
    },

    // Supplier balance outliers vs nation peers — fleetOutliers on a
    // static frame (one bucket), 1e4 units (acctbal magnitudes square
    // past int64 at 1e6 units).
    q(
      "q248_balance_outliers",
      """WITH b AS (SELECT s_nationkey AS cohort, 0 AS bucket,
        |    s_suppkey, s_acctbal,
        |    CAST(floor(s_acctbal * 10000.0) AS BIGINT) AS v
        |  FROM supplier),
        |st AS (SELECT cohort, CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(v) AS DOUBLE) AS s,
        |    CAST(SUM(v * v) AS DOUBLE) AS ss
        |  FROM b GROUP BY 1),
        |w AS (SELECT cohort, s / n AS m,
        |    sqrt((n * ss - s * s) / (n * (n - 1.0))) AS sd FROM st),
        |j AS (SELECT b.cohort, CAST(b.bucket AS BIGINT) AS bucket,
        |    b.s_suppkey, b.s_acctbal,
        |    (CAST(b.v AS DOUBLE) - w.m) / w.sd AS z
        |  FROM b JOIN w USING (cohort))
        |SELECT cohort, bucket, s_suppkey, s_acctbal, ROUND(z, 6) AS z
        |FROM j WHERE abs(z) > 2.0 ORDER BY cohort, s_suppkey"""
    ) { (s, d) =>
      graft.pipeline.Profiler.fleetOutliers(
          Tables.supplier(s, d).withColumn("t", lit(0L)),
          "s_nationkey", "t", "s_suppkey", "s_acctbal",
          bucketUs = 3600000000L, zThreshold = 2.0,
          unitsPerValue = 1e4)
        .orderBy("cohort", "s_suppkey")
    },

    // Bivariate Mahalanobis outliers on (quantity, extendedprice):
    // plausible margins, impossible PAIR. Closed-form 2×2 inverse,
    // exact-sum broadcast, per-row fixed IEEE chain. Cut at d² > 5
    // (χ²₂ ~92%): bounded uniform margins cap d² near 5.9 at every
    // SF, so the textbook 99% cut (9.21) made the gate row-free; 5.0
    // fires 100/909/9218 rows with >= 3.7e-5 boundary clearance.
    q(
      "q249_mahalanobis",
      """WITH b AS (SELECT l_orderkey, l_linenumber, l_quantity,
        |    l_extendedprice,
        |    CAST(floor(l_quantity * 10000.0) AS BIGINT) AS xq,
        |    CAST(floor(l_extendedprice * 10000.0) AS BIGINT) AS yq
        |  FROM lineitem),
        |g AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(xq) AS DOUBLE) AS sx,
        |    CAST(SUM(yq) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(xq AS HUGEINT) * xq) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(yq AS HUGEINT) * yq) AS DOUBLE) AS syy,
        |    CAST(SUM(CAST(xq AS HUGEINT) * yq) AS DOUBLE) AS sxy
        |  FROM b),
        |j AS (SELECT b.l_orderkey, b.l_linenumber, b.l_quantity,
        |    b.l_extendedprice,
        |    (sxx - sx * sx / n) / (n - 1.0) AS cxx,
        |    (syy - sy * sy / n) / (n - 1.0) AS cyy,
        |    (sxy - sx * sy / n) / (n - 1.0) AS cxy,
        |    CAST(xq AS DOUBLE) - sx / n AS dx,
        |    CAST(yq AS DOUBLE) - sy / n AS dy
        |  FROM b CROSS JOIN g),
        |k AS (SELECT l_orderkey, l_linenumber, l_quantity,
        |    l_extendedprice,
        |    (cyy * dx * dx - 2.0 * cxy * dx * dy + cxx * dy * dy)
        |      / (cxx * cyy - cxy * cxy) AS d2
        |  FROM j)
        |SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
        |  ROUND(d2, 6) AS d2
        |FROM k WHERE d2 > 5.0
        |ORDER BY l_orderkey, l_linenumber"""
    ) { (s, d) =>
      graft.pipeline.Profiler.mahalanobis2d(
          Tables.lineitem(s, d), "l_quantity", "l_extendedprice",
          Seq("l_orderkey", "l_linenumber"), threshold = 5.0)
        .orderBy("l_orderkey", "l_linenumber")
    },

    // Per-sensor drift: Welch t between each sensor's first/second
    // half of the global span; |t| cut on identical doubles.
    q(
      "q253_series_drift",
      """WITH sp AS (SELECT MIN(epoch_us(ts)) AS lo,
        |    MAX(epoch_us(ts)) AS hi FROM events),
        |b AS (SELECT event_type || ' ' || user_id AS sensor_id,
        |    epoch_us(ts) AS t,
        |    CAST(floor(value * 1000000.0) AS BIGINT) AS v
        |  FROM events),
        |g AS (SELECT sensor_id,
        |    CAST(SUM(CASE WHEN t < lo + (hi - lo) // 2 THEN 1
        |      ELSE 0 END) AS DOUBLE) AS n1,
        |    CAST(SUM(CASE WHEN t < lo + (hi - lo) // 2 THEN v
        |      ELSE 0 END) AS DOUBLE) AS s1,
        |    CAST(SUM(CASE WHEN t < lo + (hi - lo) // 2 THEN v * v
        |      ELSE 0 END) AS DOUBLE) AS ss1,
        |    CAST(SUM(CASE WHEN t >= lo + (hi - lo) // 2 THEN 1
        |      ELSE 0 END) AS DOUBLE) AS n2,
        |    CAST(SUM(CASE WHEN t >= lo + (hi - lo) // 2 THEN v
        |      ELSE 0 END) AS DOUBLE) AS s2,
        |    CAST(SUM(CASE WHEN t >= lo + (hi - lo) // 2 THEN v * v
        |      ELSE 0 END) AS DOUBLE) AS ss2
        |  FROM b CROSS JOIN sp GROUP BY 1),
        |w AS (SELECT sensor_id, n1, n2, s1, s2,
        |    (n1 * ss1 - s1 * s1) / (n1 * (n1 - 1.0)) AS v1,
        |    (n2 * ss2 - s2 * s2) / (n2 * (n2 - 1.0)) AS v2
        |  FROM g),
        |k AS (SELECT sensor_id, n1, n2, s1, s2,
        |    (s1 / n1 - s2 / n2) / sqrt(v1 / n1 + v2 / n2) AS t
        |  FROM w)
        |SELECT sensor_id, CAST(n1 AS BIGINT) AS n_pre,
        |  CAST(n2 AS BIGINT) AS n_post,
        |  ROUND(s1 / n1 / 1000000.0, 6) AS mean_pre,
        |  ROUND(s2 / n2 / 1000000.0, 6) AS mean_post,
        |  ROUND(t, 6) AS t_stat
        |FROM k WHERE abs(t) > 3.0 ORDER BY sensor_id"""
    ) { (s, d) =>
      graft.pipeline.Profiler.seriesDrift(
          EventsAdapter.samples(s, d),
          "sensor_id", "timestamp_us", "value")
        .orderBy("sensor_id")
    },

    // Market-segment scorecard: customers, orders, exact cent
    // revenue, per-customer intensity — raw division chains.
    q(
      "q269_segment_scorecard",
      """WITH j AS (SELECT c.c_mktsegment AS segment, c.c_custkey,
        |    CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT) AS cents
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey)
        |SELECT segment, COUNT(DISTINCT c_custkey) AS n_customers,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(cents) AS BIGINT) AS revenue_cents,
        |  CAST(COUNT(*) AS DOUBLE)
        |    / CAST(COUNT(DISTINCT c_custkey) AS DOUBLE)
        |    AS orders_per_customer,
        |  CAST(SUM(cents) AS DOUBLE)
        |    / CAST(COUNT(DISTINCT c_custkey) AS DOUBLE) / 100.0
        |    AS revenue_per_customer
        |FROM j GROUP BY 1 ORDER BY segment"""
    ) { (s, d) =>
      // r16: pre-aggregate orders per customer BEFORE the join — the
      // join side shrinks from order-scale to customer-scale, and the
      // per-segment countDistinct (a two-exchange expand at order
      // scale) becomes a plain count over the per-customer rows.
      // Identical integers: every joined customer has ≥1 order, so
      // count(per-cust rows) ≡ countDistinct(custkey) and the integer
      // sums re-associate freely.
      Tables.orders(s, d)
        .select(col("o_custkey"),
          (col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long").as("cents"))
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("__n"), sum(col("cents")).as("__cents"))
        .join(Tables.customer(s, d),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("segment"))
        .agg(count(lit(1)).as("n_customers"),
          sum(col("__n")).as("n_orders"),
          sum(col("__cents")).as("revenue_cents"))
        .selectExpr("segment", "n_customers", "n_orders",
          "revenue_cents",
          "CAST(n_orders AS DOUBLE) / CAST(n_customers AS DOUBLE)" +
            " AS orders_per_customer",
          "CAST(revenue_cents AS DOUBLE)" +
            " / CAST(n_customers AS DOUBLE) / 100.0" +
            " AS revenue_per_customer")
        .orderBy("segment")
    },

    // Seasonal-residual anomaly detection (S-H-ESD lite): deseasonalize
    // by (event_type, dow, hour) cell means kept EXACT — residual =
    // (cents·n − S)/(n·100), one IEEE division of exact integers — then
    // q148's robust MAD flagging on the residuals (exact medians,
    // fixed-point cut). Composition: seasonal cells ∘ madOutliers.
    q(
      "q300_seasonal_outliers",
      """WITH e AS (SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
        |    date_part('dow', ts) AS dow, date_part('hour', ts) AS hh
        |  FROM events),
        |cell AS (SELECT event_type, dow, hh,
        |    CAST(SUM(cents) AS BIGINT) AS s, COUNT(*) AS n
        |  FROM e GROUP BY 1, 2, 3),
        |r AS (SELECT e.event_type,
        |    CAST(e.cents * cell.n - cell.s AS DOUBLE)
        |      / CAST(cell.n * 100 AS DOUBLE) AS resid
        |  FROM e JOIN cell ON e.event_type = cell.event_type
        |    AND e.dow = cell.dow AND e.hh = cell.hh),
        |m AS (SELECT event_type, median(resid) AS med FROM r GROUP BY 1),
        |d AS (SELECT r.event_type, r.resid,
        |    abs(r.resid - m.med) AS ad, m.med
        |  FROM r JOIN m USING (event_type)),
        |md AS (SELECT event_type, median(ad) AS mad FROM d GROUP BY 1)
        |SELECT d.event_type, d.resid, ROUND(d.med, 6) AS med,
        |  ROUND(md.mad, 6) AS mad
        |FROM d JOIN md USING (event_type)
        |WHERE ROUND(d.ad * 10000.0::DOUBLE)
        |    > ROUND(3.0::DOUBLE * md.mad * 10000.0::DOUBLE)
        |ORDER BY event_type, resid"""
    ) { (s, d) =>
      val e = Tables.events(s, d)
        .select(col("event_type"),
          (col("value").cast("decimal(18,2)") * 100)
            .cast("long").as("cents"),
          dayofweek(col("ts")).as("dow"), hour(col("ts")).as("hh"))
      val cell = e.groupBy(col("event_type"), col("dow"), col("hh"))
        .agg(sum(col("cents")).cast("long").as("s"),
          count(lit(1)).as("n"))
      val r = e.join(cell, Seq("event_type", "dow", "hh"))
        .withColumn("resid",
          (col("cents") * col("n") - col("s")).cast("double") /
            (col("n") * 100).cast("double"))
      graft.pipeline.Profiler.madOutliers(
          r, "event_type", "resid", c = 3.0, exact = true)
        .orderBy("event_type", "resid")
    },

    // Exact higher moments: skewness/kurtosis per flag from INTEGER
    // cent power sums (Σx, Σx², Σx³, Σx⁴ in DECIMAL — order-free),
    // combined in one fixed float chain (the m₂/m₃/m₄ expansions);
    // deliberately NOT the engines' built-in skewness(), whose
    // streaming update order is engine-specific. ROUND(6) absorbs the
    // final-chain ulps.
    q(
      "q306_moments",
      """WITH x AS (SELECT l_returnflag AS flag,
        |    CAST(l_quantity AS BIGINT) AS c
        |  FROM lineitem),
        |s AS (SELECT flag, COUNT(*) AS n,
        |    CAST(SUM(c) AS BIGINT) AS s1,
        |    CAST(SUM(c::HUGEINT * c) AS DOUBLE) AS s2,
        |    CAST(SUM(c::HUGEINT * c * c) AS DOUBLE) AS s3,
        |    CAST(SUM(c::HUGEINT * c * c * c) AS DOUBLE) AS s4
        |  FROM x GROUP BY 1),
        |m AS (SELECT flag, n,
        |    CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
        |    s2 / CAST(n AS DOUBLE)
        |      - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
        |        * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) AS m2,
        |    s3 / CAST(n AS DOUBLE)
        |      - 3.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
        |        * (s2 / CAST(n AS DOUBLE))
        |      + 2.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
        |        * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
        |        * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) AS m3,
        |    s4 / CAST(n AS DOUBLE)
        |      - 4.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
        |        * (s3 / CAST(n AS DOUBLE))
        |      + 6.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
        |        * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
        |        * (s2 / CAST(n AS DOUBLE))
        |      - 3.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
        |        * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
        |        * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
        |        * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) AS m4
        |  FROM s)
        |SELECT flag, n, ROUND(mu, 6) AS mean,
        |  ROUND(m3 / (m2 * sqrt(m2)), 6) AS skewness,
        |  ROUND(m4 / (m2 * m2) - 3.0, 6) AS excess_kurtosis
        |FROM m ORDER BY flag"""
    ) { (s, d) =>
      // integral quantities <= 50: every power sum stays < 2^53, so
      // the DECIMAL->double conversions are exact on both engines (the
      // q180 rule); at larger magnitudes, quantize coarser first
      val c = col("l_quantity").cast("long")
      val sums = Tables.lineitem(s, d)
        .select(col("l_returnflag").as("flag"), c.as("c"))
        .groupBy(col("flag"))
        .agg(count(lit(1)).as("n"),
          sum(col("c")).cast("long").as("s1"),
          sum(col("c").cast("decimal(19,0)") * col("c"))
            .cast("double").as("s2"),
          sum(col("c").cast("decimal(19,0)") * col("c") * col("c"))
            .cast("double").as("s3"),
          sum(col("c").cast("decimal(19,0)") * col("c") * col("c") *
            col("c")).cast("double").as("s4"))
      val nD = col("n").cast("double")
      val mu = col("s1").cast("double") / nD
      val m2 = col("s2") / nD - mu * mu
      val m3 = col("s3") / nD - lit(3.0) * mu * (col("s2") / nD) +
        lit(2.0) * mu * mu * mu
      val m4 = col("s4") / nD - lit(4.0) * mu * (col("s3") / nD) +
        lit(6.0) * mu * mu * (col("s2") / nD) -
        lit(3.0) * mu * mu * mu * mu
      sums.select(col("flag"), col("n"),
          round(mu, 6).as("mean"),
          round(m3 / (m2 * sqrt(m2)), 6).as("skewness"),
          round(m4 / (m2 * m2) - 3.0, 6).as("excess_kurtosis"))
        .orderBy("flag")
    },

    // Exact Wasserstein-1 between each source's doc-length
    // distribution and the corpus: cross-multiplied CDFs on the
    // distinct-value grid — exact integers, one final division. Sees
    // WHERE distributions differ (KS: max gap only; PSI: binned).
    q(
      "q309_wasserstein",
      """WITH base AS (SELECT source AS g, n_chars AS v FROM documents),
        |tot AS (SELECT COUNT(*) AS total FROM base),
        |pgv AS (SELECT g, v, COUNT(*) AS c FROM base GROUP BY 1, 2),
        |vals AS (SELECT v, COUNT(*) AS cg FROM base GROUP BY 1),
        |grp AS (SELECT g, COUNT(*) AS n_rows FROM base GROUP BY 1),
        |grid AS (SELECT grp.g, grp.n_rows, vals.v, vals.cg,
        |    COALESCE(pgv.c, 0) AS c
        |  FROM grp CROSS JOIN vals
        |  LEFT JOIN pgv ON pgv.g = grp.g AND pgv.v = vals.v),
        |cum AS (SELECT g, n_rows, v,
        |    SUM(c) OVER w AS cums, SUM(cg) OVER w AS cumg,
        |    LEAD(v) OVER (PARTITION BY g ORDER BY v) - v AS gap
        |  FROM grid WINDOW w AS (PARTITION BY g ORDER BY v
        |    ROWS UNBOUNDED PRECEDING))
        |SELECT g AS source, CAST(MAX(n_rows) AS BIGINT) AS n_rows,
        |  CAST(SUM(ABS(cums * tot.total - cumg * n_rows) * gap)
        |    AS BIGINT) AS w1_num,
        |  CAST(CAST(SUM(ABS(cums * tot.total - cumg * n_rows) * gap)
        |    AS BIGINT) AS DOUBLE)
        |    / (CAST(MAX(n_rows) AS DOUBLE) * CAST(tot.total AS DOUBLE))
        |    AS w1
        |FROM cum, tot WHERE gap IS NOT NULL
        |GROUP BY g, tot.total ORDER BY source"""
    ) { (s, d) =>
      graft.pipeline.Profiler.wassersteinToCorpus(
        Tables.documents(s, d), "source", "n_chars")
    },

    // DTW distance from each view-sensor's 24-hour profile to the
    // fleet profile: ALL-INTEGER dynamic programming (floor-division
    // bucket means, |a−b| costs, 2⁶² border sentinels) — exact on any
    // engine with no quantization discipline; the oracle unrolls the
    // same DP cell-by-cell in a recursive CTE carrying the previous
    // DP row as a list. user_id < 500 bounds the cohort at every SF.
    q(
      "q337_dtw_profile",
      """WITH RECURSIVE s AS (SELECT event_type || ' ' || user_id
        |    AS sensor_id,
        |    (epoch_us(ts) // 3600000000) % 24 AS h,
        |    CAST(floor(value * 1000.0) AS BIGINT) AS q FROM events
        |  WHERE event_type = 'view' AND user_id < 500),
        |hs AS (SELECT sensor_id, h, SUM(q) // COUNT(*) AS v
        |  FROM s GROUP BY 1, 2),
        |grid AS (SELECT p.sensor_id, g.h
        |  FROM (SELECT DISTINCT sensor_id FROM hs) p
        |  CROSS JOIN (SELECT UNNEST(range(0, 24)) AS h) g),
        |dense AS (SELECT grid.sensor_id, grid.h, COALESCE(hs.v, 0)
        |    AS v
        |  FROM grid LEFT JOIN hs USING (sensor_id, h)),
        |prof AS (SELECT sensor_id, list(v ORDER BY h) AS a
        |  FROM dense GROUP BY 1),
        |nh AS (SELECT sensor_id, COUNT(*) AS nh FROM hs GROUP BY 1),
        |f0 AS (SELECT h, SUM(q) // COUNT(*) AS v FROM s GROUP BY 1),
        |fd AS (SELECT g.h, COALESCE(f0.v, 0) AS v
        |  FROM (SELECT UNNEST(range(0, 24)) AS h) g
        |  LEFT JOIN f0 USING (h)),
        |fleet AS (SELECT list(v ORDER BY h) AS b FROM fd),
        |rec AS (
        |  SELECT sensor_id, a, b, 0 AS t,
        |    list_concat([0::BIGINT], list_transform(range(0, 24),
        |      x -> 4611686018427387904::BIGINT)) AS p,
        |    [4611686018427387904::BIGINT] AS c
        |  FROM prof CROSS JOIN fleet
        |  UNION ALL
        |  SELECT sensor_id, a, b, t + 1,
        |    CASE WHEN t % 24 = 23 THEN
        |      list_append(c, abs(a[t // 24 + 1] - b[t % 24 + 1])
        |        + LEAST(p[t % 24 + 2], p[t % 24 + 1],
        |            c[t % 24 + 1]))
        |    ELSE p END,
        |    CASE WHEN t % 24 = 23 THEN [4611686018427387904::BIGINT]
        |    ELSE list_append(c, abs(a[t // 24 + 1] - b[t % 24 + 1])
        |      + LEAST(p[t % 24 + 2], p[t % 24 + 1], c[t % 24 + 1]))
        |    END
        |  FROM rec WHERE t < 576)
        |SELECT r.sensor_id, CAST(nh.nh AS BIGINT)
        |    AS n_hours_present,
        |  p[25] AS dtw_cost
        |FROM rec r JOIN nh ON nh.sensor_id = r.sensor_id
        |WHERE t = 576 ORDER BY r.sensor_id"""
    ) { (s, d) =>
      graft.operators.Dtw.dtwToFleet(
          EventsAdapter.samples(s, d)
            .filter(col("sensor_id").startsWith("view ") &&
              element_at(split(col("sensor_id"), " "), 2)
                .cast("long") < 500)
            .select("sensor_id", "timestamp_us", "value"))
        .orderBy("sensor_id")
    },

    // One-vs-rest KS per event type with Benjamini–Hochberg FDR:
    // exact cross-multiplied integer D, 3-term Kolmogorov p, BH
    // step-up on the ROUNDED p surface (ranking over identical
    // values cross-engine).
    q(
      "q338_ks_bh_fdr",
      """WITH x AS (SELECT event_type AS g,
        |    CAST(floor(value * 1000.0) AS BIGINT) AS v FROM events),
        |gv AS (SELECT g, v, COUNT(*) AS c FROM x GROUP BY 1, 2),
        |va AS (SELECT v, COUNT(*) AS ct FROM x GROUP BY 1),
        |np AS (SELECT g, COUNT(*) AS na FROM x GROUP BY 1),
        |tt AS (SELECT COUNT(*) AS nt FROM x),
        |grid AS (SELECT np.g, np.na, va.v, va.ct,
        |    COALESCE(gv.c, 0) AS c
        |  FROM np CROSS JOIN va
        |  LEFT JOIN gv ON gv.g = np.g AND gv.v = va.v),
        |cums AS (SELECT g, na, v,
        |    SUM(c) OVER w AS cuma, SUM(ct) OVER w AS cumt
        |  FROM grid WINDOW w AS (PARTITION BY g ORDER BY v
        |    ROWS UNBOUNDED PRECEDING)),
        |d AS (SELECT g, MAX(na) AS n_a,
        |    MAX(tt.nt) - MAX(na) AS n_b,
        |    CAST(MAX(ABS(cuma * (tt.nt - na)
        |      - (cumt - cuma) * na)) AS BIGINT) AS d_num
        |  FROM cums CROSS JOIN tt GROUP BY g),
        |lamt AS (SELECT g, n_a, n_b, d_num,
        |    CAST(d_num AS DOUBLE)
        |      / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
        |      * sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
        |        / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)))
        |      AS lam
        |  FROM d),
        |pt AS (SELECT g, n_a, n_b, d_num,
        |    ROUND(LEAST(1.0::DOUBLE,
        |      2.0::DOUBLE * exp(-2.0::DOUBLE * lam * lam)
        |      - 2.0::DOUBLE * exp(-8.0::DOUBLE * lam * lam)
        |      + 2.0::DOUBLE * exp(-18.0::DOUBLE * lam * lam)), 6)
        |      AS p_raw
        |  FROM lamt),
        |rk AS (SELECT *, ROW_NUMBER() OVER (ORDER BY p_raw, g)
        |      AS rkn, COUNT(*) OVER () AS m
        |  FROM pt),
        |adj AS (SELECT *, MIN(p_raw * CAST(m AS DOUBLE)
        |      / CAST(rkn AS DOUBLE)) OVER (ORDER BY rkn DESC
        |      ROWS UNBOUNDED PRECEDING) AS padj
        |  FROM rk)
        |SELECT g AS event_type, CAST(n_a AS BIGINT) AS n_a,
        |  CAST(n_b AS BIGINT) AS n_b, d_num, p_raw,
        |  ROUND(LEAST(1.0::DOUBLE, padj), 6) AS p_adj
        |FROM adj ORDER BY event_type"""
    ) { (s, d) =>
      graft.pipeline.Profiler.ksBhFdr(
        Tables.events(s, d)
          .select(col("event_type"),
            floor(col("value") * 1000.0).cast("long").as("vq")),
        "event_type", "vq")
        .orderBy("event_type")
    },

    // Exponential (log₂) histogram per event type: the bucket is the
    // BIT LENGTH of the milli value — an exact integer bucket
    // function via base-2 string length (conv ↔ printf('%b')), no
    // float log to misbucket exact powers of two.
    q(
      "q348_log2_histogram",
      """WITH x AS (SELECT event_type AS g,
        |    CAST(floor(value * 1000.0) AS BIGINT) AS v FROM events),
        |b AS (SELECT g, CASE WHEN v >= 1
        |    THEN CAST(length(printf('%b', v)) AS INTEGER)
        |    ELSE 0 END AS bucket FROM x),
        |a AS (SELECT g, bucket, COUNT(*) AS cnt FROM b GROUP BY 1, 2)
        |SELECT g AS event_type, bucket, cnt,
        |  CASE WHEN bucket >= 1 THEN (1::BIGINT << (bucket - 1))
        |    ELSE 0::BIGINT END AS lo,
        |  CASE WHEN bucket >= 1 THEN (1::BIGINT << bucket) - 1
        |    ELSE 0::BIGINT END AS hi
        |FROM a ORDER BY event_type, bucket"""
    ) { (s, d) =>
      graft.pipeline.Profiler.log2Histogram(
          Tables.events(s, d)
            .select(col("event_type"),
              floor(col("value") * 1000.0).cast("long").as("vq")),
          "event_type", "vq")
        .orderBy("event_type", "bucket")
    },

    // Source→corpus decile alignment (the quantile-normalization
    // mapping table): exact lower-order-statistic quantiles via the
    // q316 cross-multiplied selection — pure integers, no
    // interpolation, no division.
    q(
      "q352_quantile_align",
      """WITH base AS (SELECT source AS g, n_chars AS v
        |  FROM documents),
        |gv AS (SELECT g, v, COUNT(*) AS c FROM base GROUP BY 1, 2),
        |np AS (SELECT g, COUNT(*) AS n FROM base GROUP BY 1),
        |tt AS (SELECT COUNT(*) AS nt FROM base),
        |cums AS (SELECT gv.g, gv.v, np.n,
        |    SUM(gv.c) OVER (PARTITION BY gv.g ORDER BY gv.v
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM gv JOIN np ON np.g = gv.g),
        |dec AS (SELECT CAST(UNNEST(range(1, 10)) AS INTEGER)
        |    AS decile),
        |pg AS (SELECT g, decile, MIN(v) AS v_group
        |  FROM cums CROSS JOIN dec
        |  WHERE cum * 10 >= decile * n GROUP BY 1, 2),
        |cv AS (SELECT v, COUNT(*) AS c FROM base GROUP BY 1),
        |cc AS (SELECT v, SUM(c) OVER (ORDER BY v
        |    ROWS UNBOUNDED PRECEDING) AS cum FROM cv),
        |pc AS (SELECT decile, MIN(v) AS v_corpus
        |  FROM cc CROSS JOIN tt CROSS JOIN dec
        |  WHERE cum * 10 >= decile * nt GROUP BY 1)
        |SELECT pg.g AS source, pg.decile, pg.v_group, pc.v_corpus,
        |  pc.v_corpus - pg.v_group AS shift
        |FROM pg JOIN pc USING (decile) ORDER BY source, decile"""
    ) { (s, d) =>
      graft.pipeline.Profiler.quantileAlign(
          Tables.documents(s, d).select(col("source"),
            col("n_chars")),
          "source", "n_chars")
        .orderBy("source", "decile")
    },

    // Data-contract audit over documents: five named rules evaluated
    // in ONE conditional-count pass; NULL rule results count as
    // violations.
    q(
      "q363_contract_audit",
      """WITH r AS (SELECT COUNT(*) AS n,
        |    COUNT(CASE WHEN NOT COALESCE(text IS NOT NULL, FALSE)
        |      THEN 1 END) AS v0,
        |    COUNT(CASE WHEN NOT COALESCE(length(text) = n_chars,
        |      FALSE) THEN 1 END) AS v1,
        |    COUNT(CASE WHEN NOT COALESCE(lang IN ('en', 'fr', 'de',
        |      'es', 'zh'), FALSE) THEN 1 END) AS v2,
        |    COUNT(CASE WHEN NOT COALESCE(regexp_matches(source,
        |      '^src[0-9]+$'), FALSE) THEN 1 END) AS v3,
        |    COUNT(CASE WHEN NOT COALESCE(n_chars >= 0, FALSE)
        |      THEN 1 END) AS v4
        |  FROM documents)
        |SELECT rule, n_checked, n_violations FROM (
        |  SELECT 'text_not_null' AS rule, CAST(n AS BIGINT)
        |      AS n_checked, CAST(v0 AS BIGINT) AS n_violations
        |    FROM r
        |  UNION ALL SELECT 'n_chars_matches_text',
        |    CAST(n AS BIGINT), CAST(v1 AS BIGINT) FROM r
        |  UNION ALL SELECT 'lang_known', CAST(n AS BIGINT),
        |    CAST(v2 AS BIGINT) FROM r
        |  UNION ALL SELECT 'source_format', CAST(n AS BIGINT),
        |    CAST(v3 AS BIGINT) FROM r
        |  UNION ALL SELECT 'n_chars_nonneg', CAST(n AS BIGINT),
        |    CAST(v4 AS BIGINT) FROM r)
        |ORDER BY rule"""
    ) { (s, d) =>
      graft.pipeline.Governance.contractAudit(
          Tables.documents(s, d),
          Seq(
            "text_not_null" -> col("text").isNotNull,
            "n_chars_matches_text" ->
              (length(col("text")) === col("n_chars")),
            "lang_known" ->
              col("lang").isin("en", "fr", "de", "es", "zh"),
            "source_format" ->
              col("source").rlike("^src[0-9]+$"),
            "n_chars_nonneg" -> (col("n_chars") >= 0)))
        .orderBy("rule")
    }
  )
}
