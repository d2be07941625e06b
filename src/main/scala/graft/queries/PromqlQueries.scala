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
import graft.promql.{ExtendedPromQL, SimplePromQL}
import graft.sources.{CsvImporter, InfluxLineProtocol, SenML}
import QueryHelpers._

/** PromQL engine queries: instant/range selectors, rate/delta, aggregations, binary ops, subqueries (SURVEY §2.11 PromQL family).
  *
  * The queries read the `events` table as one Float series per
  * (event_type, user). [[EventsAdapter.promSeries]] is the one
  * events→series convention: each query goes through `promql` (or hands
  * `promSeries` to an `ExtendedPromQL` entry itself) and adds only its
  * output projection. q60 and q64 label views by `name` before the key is
  * built (`promqlWithViewParity`), q62 synthesizes its bucket series and
  * q19 runs `SimplePromQL`, so those four keep their own selection.
  *
  * One of the family registries composed into [[graft.Queries]];
  * oracle/alias conventions are documented there.
  */
private[graft] object PromqlQueries {

  /** `q` evaluated over the events as PromQL series: the selection and
    * the samples both come from [[EventsAdapter]], keyed alike.
    */
  private def promql(s: SparkSession, d: String,
      q: ExtendedPromQL.Query): DataFrame =
    ExtendedPromQL.evalWith(q, EventsAdapter.promSeries(s, d),
      EventsAdapter.samples(s, d).select("sensor_id", "timestamp_us", "value"))

  /** `q` over the events as series whose view series carry a
    * synthetic `parity` label (user id mod 2) that the click series
    * lack: q60 and q64 match across that label-set difference.
    */
  private def promqlWithViewParity(s: SparkSession, d: String,
      q: ExtendedPromQL.Query): DataFrame =
    ExtendedPromQL.evalWith(q,
      ms => {
        val base = Matchers.sensorsByLabels(EventsAdapter.sensors(s, d), ms)
          .select(concat(col("name"), lit(" "),
            col("labels").getItem("user")).as("sensor_id"),
            col("name"), col("labels"))
        base.select(col("sensor_id"),
          when(col("name") === "view", map_concat(col("labels"),
            map(lit("parity"),
              (col("labels")("user").cast("long") % 2).cast("string"))))
            .otherwise(col("labels")).as("labels"))
      },
      EventsAdapter.samples(s, d)
        .select("sensor_id", "timestamp_us", "value"))

  /** The counter-rate oracles' lag CTE: `s` pairs each sample in
    * [2024-01-01, 2024-02-01] of the series keyed by `keys` with its
    * predecessor in (time, value) order, over the events `where`
    * selects.
    */
  private def rateLagCte(keys: String, where: String): String =
    s"""s AS (
       |  SELECT $keys, value,
       |    lag(value) OVER (PARTITION BY $keys
       |      ORDER BY epoch_us(ts), value) AS prev
       |  FROM events
       |  WHERE $where
       |    AND epoch_us(ts) BETWEEN 1704067200000000 AND 1706745600000000)"""

  /** `s` and `r`, the oracle of `rate(x[31d])`: per series, the sum of
    * reset-aware deltas over the range divided by its 2,678,400 s (no
    * extrapolation); a series without a sample pair has no rate.
    */
  private def rateCtes(keys: String, where: String, groupBy: String)
      : String =
    s"""${rateLagCte(keys, where)},
       |r AS (
       |  SELECT $keys,
       |    SUM(CASE WHEN prev IS NULL THEN NULL
       |      WHEN value >= prev THEN value - prev
       |      ELSE value END) / 2678400.0 AS rate
       |  FROM s GROUP BY $groupBy
       |  HAVING SUM(CASE WHEN prev IS NULL THEN NULL
       |    WHEN value >= prev THEN value - prev
       |    ELSE value END) IS NOT NULL)"""

  /** Per-user view samples and rates, `rate(view[31d])`. */
  private val viewLagCte = rateLagCte("user_id", "event_type = 'view'")
  private val viewRateCtes =
    rateCtes("user_id", "event_type = 'view'", "user_id")

  /** Per-(event type, user) view and click rates. */
  private val viewClickRateCtes =
    rateCtes("event_type, user_id", "event_type IN ('view', 'click')",
      "1, 2")

  /** [[latestPerUser]] over the `event` series' 1h lookback ending at
    * `atUs`: each series' sample in an instant vector evaluated then.
    */
  private def latestSql(projection: String, atUs: Long = 1706659200000000L,
      event: String = "view"): String =
    latestPerUser(projection, s"event_type = '$event' AND epoch_us(ts) " +
      s"BETWEEN ${atUs - 3600000000L} AND $atUs")

  /** `rate(view[31d]) / rate(click[31d])` per user, one-to-one: the
    * oracle of q52 and of q60, whose on(user) matching gives the same
    * pairs.
    */
  private val viewClickRatioSql =
    s"""WITH $viewClickRateCtes
       |SELECT CAST(v.user_id AS VARCHAR) AS user_tag,
       |  ROUND(v.rate / c.rate, 6) AS value
       |FROM r v JOIN r c ON v.user_id = c.user_id
       |  AND v.event_type = 'view' AND c.event_type = 'click'
       |ORDER BY user_tag"""

  val registry: Seq[Q] = Seq(

    // ---------------------------------------------------------------------
    // §3.1: restricted PromQL end-to-end — parse `view{user="7"}[31d]` at a
    // pinned evaluation time, compile matchers to a catalog predicate,
    // range-scan the samples (reference: src/ingestors/http/
    // simple_promql.rs:258-324). now = 2024-02-01T00:00:00Z.
    q(
      "q19_promql",
      """SELECT epoch_us(ts) AS timestamp_us, value
        |FROM events
        |WHERE event_type = 'view' AND user_id = 7
        |  AND epoch_us(ts) BETWEEN 1704067200000000 AND 1706745600000000
        |ORDER BY timestamp_us"""
    ) { (s, d) =>
      val parsed = SimplePromQL.parse("""view{user="7"}[31d]""",
        1706745600000000L)
      val selected = Matchers.sensorsByLabels(
        EventsAdapter.sensors(s, d), parsed.matchers)
        .select(col("name"), col("labels").getItem("user").as("user"))
      EventsAdapter.samples(s, d)
        .join(broadcast(selected),
          Seq("user")) // user + matching name
        .filter(col("sensor_name") === col("name"))
        .filter(col("timestamp_us").between(parsed.startUs, parsed.endUs))
        .select("timestamp_us", "value")
        .orderBy("timestamp_us")
    },

    // PromQL analytical extension (§2.5's flagged extension point — the
    // reference REJECTS aggregations; here they evaluate natively):
    // per-series range aggregation, count_over_time at a pinned eval time.
    q(
      "q41_promql_count_over_time",
      """SELECT CAST(user_id AS VARCHAR) AS user_tag, COUNT(*) AS n
        |FROM events
        |WHERE event_type = 'view'
        |  AND epoch_us(ts) BETWEEN 1704067200000000 AND 1706745600000000
        |GROUP BY user_tag ORDER BY user_tag"""
    ) { (s, d) =>
      promql(s, d, ExtendedPromQL.parse(
        "count_over_time(view[31d])", 1706745600000000L))
        .select(element_at(col("labels"), "user").as("user_tag"),
          col("value").cast("long").as("n"))
        .orderBy("user_tag")
    },

    // Instant-vector aggregation `sum by (user) (view)`: each series
    // contributes its latest sample in the 1h lookback; groups are single
    // series here so the double sum is exact.
    q(
      "q42_promql_instant_agg",
      s"""${latestSql("CAST(user_id AS VARCHAR) AS user_tag, value")}
         |ORDER BY user_tag"""
    ) { (s, d) =>
      promql(s, d, ExtendedPromQL.parse(
        "sum by (user) (view)", 1706659200000000L))
        .select(element_at(col("group_labels"), "user").as("user_tag"),
          col("value"))
        .orderBy("user_tag")
    },

    // Counter rate over the range: per-series sum of consecutive positive
    // deltas (reset-aware, no extrapolation) divided by the range seconds
    // (31d = 2678400 s). The evaluator sums plain f64; both sides ROUND(9)
    // so the exact compare is immune to summation-order ULP drift.
    q(
      "q43_promql_rate",
      s"""WITH $viewLagCte
         |SELECT CAST(user_id AS VARCHAR) AS user_tag,
         |  ROUND(SUM(CASE WHEN prev IS NULL THEN NULL
         |    WHEN value >= prev THEN value - prev
         |    ELSE value END) / 2678400.0, 9) AS value
         |FROM s GROUP BY user_id
         |HAVING SUM(CASE WHEN prev IS NULL THEN NULL
         |  WHEN value >= prev THEN value - prev
         |  ELSE value END) IS NOT NULL
         |ORDER BY user_tag"""
    ) { (s, d) =>
      // the evaluator sums f64 (Prometheus semantics); ROUND(9) on both
      // sides absorbs summation-order ULP drift for the exact compare
      promql(s, d, ExtendedPromQL.parse(
        "rate(view[31d])", 1706745600000000L))
        .select(element_at(col("labels"), "user").as("user_tag"),
          round(col("value"), 9).as("value"))
        .orderBy("user_tag")
    },

    // Gauge delta over the range: last − first per series, extrema taken
    // lexicographically on (ts, value) so timestamp ties stay deterministic.
    q(
      "q44_promql_delta",
      """WITH w AS (
        |  SELECT user_id, value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts) DESC, value DESC) AS rl,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts) ASC, value ASC) AS rf,
        |    COUNT(*) OVER (PARTITION BY user_id) AS n
        |  FROM events
        |  WHERE event_type = 'view'
        |    AND epoch_us(ts) BETWEEN 1704067200000000 AND 1706745600000000)
        |SELECT CAST(user_id AS VARCHAR) AS user_tag,
        |  MAX(CASE WHEN rl = 1 THEN value END)
        |    - MAX(CASE WHEN rf = 1 THEN value END) AS value
        |FROM w WHERE n >= 2 GROUP BY user_id ORDER BY user_tag"""
    ) { (s, d) =>
      promql(s, d, ExtendedPromQL.parse(
        "delta(view[31d])", 1706745600000000L))
        .select(element_at(col("labels"), "user").as("user_tag"),
          col("value"))
        .orderBy("user_tag")
    },

    // quantile_over_time: exact per-series 0.9-quantile with linear
    // interpolation — Spark's exact `percentile` and DuckDB's
    // quantile_cont share the definition; ROUND(6) absorbs ULP drift in
    // the interpolation arithmetic.
    q(
      "q50_promql_quantile",
      """SELECT CAST(user_id AS VARCHAR) AS user_tag,
        |  ROUND(quantile_cont(value, 0.9), 6) AS value
        |FROM events
        |WHERE event_type = 'view'
        |  AND epoch_us(ts) BETWEEN 1704067200000000 AND 1706745600000000
        |GROUP BY user_id ORDER BY user_tag"""
    ) { (s, d) =>
      promql(s, d, ExtendedPromQL.parse(
        "quantile_over_time(0.9, view[31d])", 1706745600000000L))
        .select(element_at(col("labels"), "user").as("user_tag"),
          round(col("value"), 6).as("value"))
        .orderBy("user_tag")
    },

    // topk: the k series with the largest latest sample in the lookback
    // window — ranked deterministically by (value desc, sensor_id), and
    // planned as TakeOrderedAndProject over one-row-per-series input
    // (never a full sort). Another operation the reference 400s.
    q(
      "q51_promql_topk",
      s"""SELECT rank, sensor_id, value FROM (
         |  SELECT sensor_id, value,
         |    ROW_NUMBER() OVER (ORDER BY value DESC, sensor_id ASC) AS rank
         |  FROM (${latestSql("'view ' || user_id AS sensor_id, value")}))
         |WHERE rank <= 5 ORDER BY rank"""
    ) { (s, d) =>
      promql(s, d, ExtendedPromQL.parse(
        "topk(5, view)", 1706659200000000L))
        .select("rank", "sensor_id", "value")
        .orderBy("rank")
    },

    // Binary operator between two instant vectors with one-to-one label
    // matching (the labels map joins on its canonical sorted-entries
    // form): per-user ratio of view rate to click rate. Both operands
    // evaluate as independent per-series rate() plans; ROUND(6) absorbs
    // f64 summation-order ULP drift inside each rate.
    q("q52_promql_binary", viewClickRatioSql) { (s, d) =>
      promql(s, d, ExtendedPromQL.parse(
        "rate(view[31d]) / rate(click[31d])", 1706745600000000L))
        .select(element_at(col("labels"), "user").as("user_tag"),
          round(col("value"), 6).as("value"))
        .orderBy("user_tag")
    },

    // on() matching modifier: the view series carry an extra synthetic
    // `parity` label, so FULL-set matching would find nothing — on(user)
    // restricts the one-to-one join key to the shared label and the
    // result equals the plain per-user ratio (q52's oracle verbatim).
    q("q60_promql_on_binary", viewClickRatioSql) { (s, d) =>
      promqlWithViewParity(s, d, ExtendedPromQL.parse(
        "rate(view[31d]) / on(user) rate(click[31d])", 1706745600000000L))
        .select(element_at(col("labels"), "user").as("user_tag"),
          round(col("value"), 6).as("value"))
        .orderBy("user_tag")
    },

    // count_values: frequency of each distinct latest sample across the
    // instant vector (Prometheus semantics; the value's string form
    // becomes a fresh label). The driver query feeds DECIMAL(18,2)
    // values (exact for this corpus) so the string keying is
    // engine-stable at any magnitude — raw double rendering diverges
    // between engines outside [1e-3, 1e7) (scientific vs plain form).
    q(
      "q61_promql_count_values",
      s"""${latestSql("CAST(CAST(value AS DECIMAL(18,2)) AS VARCHAR) " +
           "AS val_tag, COUNT(*) AS n")}
         |GROUP BY 1 ORDER BY val_tag"""
    ) { (s, d) =>
      ExtendedPromQL.evalWith(ExtendedPromQL.parse(
        """count_values("val", view)""", 1706659200000000L),
        EventsAdapter.promSeries(s, d),
        EventsAdapter.samples(s, d)
          .select(col("sensor_id"), col("timestamp_us"),
            col("value").cast("decimal(18,2)").as("value")))
        .select(element_at(col("group_labels"), "val").as("val_tag"),
          col("value").as("n"))
        .orderBy("val_tag")
    },

    // histogram_quantile over le-labeled cumulative buckets: per-user
    // view values bucketed at (10, 20, 50, +Inf] over 31 days, then the
    // Prometheus linear interpolation inside the covering bucket. The
    // oracle replays bucket counts and the interpolation arithmetic
    // (mul before div, the same FP order) branch by branch.
    q(
      "q62_promql_histogram_quantile",
      """WITH c AS (
        |  SELECT user_id,
        |    SUM(CASE WHEN value <= 10 THEN 1 ELSE 0 END)::DOUBLE AS c10,
        |    SUM(CASE WHEN value <= 20 THEN 1 ELSE 0 END)::DOUBLE AS c20,
        |    SUM(CASE WHEN value <= 50 THEN 1 ELSE 0 END)::DOUBLE AS c50,
        |    COUNT(*)::DOUBLE AS cinf
        |  FROM events
        |  WHERE event_type = 'view'
        |    AND epoch_us(ts) BETWEEN 1704067200000000 AND 1706745600000000
        |  GROUP BY user_id)
        |SELECT CAST(user_id AS VARCHAR) AS user_tag,
        |  ROUND(CASE
        |    WHEN 0.9*cinf <= c10 THEN 0 + (10 - 0) * (0.9*cinf - 0) / (c10 - 0)
        |    WHEN 0.9*cinf <= c20 THEN 10 + (20 - 10) * (0.9*cinf - c10) / (c20 - c10)
        |    WHEN 0.9*cinf <= c50 THEN 20 + (50 - 20) * (0.9*cinf - c20) / (c50 - c20)
        |    ELSE 50 END, 6) AS value
        |FROM c WHERE cinf > 0 ORDER BY user_tag"""
    ) { (s, d) =>
      val endUs = 1706745600000000L
      val startUs = 1704067200000000L
      // synthesize the cumulative bucket series a Prometheus client
      // would publish: ONE aggregation pass computes every boundary
      // count, then an explode unpivots to one (user, le) series per
      // boundary — the previous per-boundary union scanned events once
      // per bucket
      val ev = Tables.events(s, d)
        .filter(col("event_type") === "view" &&
          unix_micros(col("ts")).between(startUs, endUs))
        .select(col("user_id").cast("string").as("user"), col("value"))
      val agg = ev.groupBy(col("user"))
        .agg(
          sum(when(col("value") <= 10.0, 1).otherwise(0))
            .cast("double").as("c10"),
          sum(when(col("value") <= 20.0, 1).otherwise(0))
            .cast("double").as("c20"),
          sum(when(col("value") <= 50.0, 1).otherwise(0))
            .cast("double").as("c50"),
          count(lit(1)).cast("double").as("cinf"))
      val buckets = agg.select(col("user"),
        explode(map(
          lit("10"), col("c10"), lit("20"), col("c20"),
          lit("50"), col("c50"), lit("+Inf"), col("cinf")))
          .as(Seq("le", "value")))
      val samples = buckets.select(
        concat(lit("view_bucket "), col("user"), lit(" "), col("le"))
          .as("sensor_id"),
        lit(endUs).as("timestamp_us"), col("value"))
      val selected = buckets.select(
        concat(lit("view_bucket "), col("user"), lit(" "), col("le"))
          .as("sensor_id"),
        map(lit("user"), col("user"), lit("le"), col("le")).as("labels"))
      val parsed = ExtendedPromQL.parse(
        "histogram_quantile(0.9, view_bucket)", endUs)
      ExtendedPromQL.evalWith(parsed, _ => selected, samples)
        .select(element_at(col("group_labels"), "user").as("user_tag"),
          round(col("value"), 6).as("value"))
        .orderBy("user_tag")
    },

    // label_replace: derive a decade label from the user id (regex must
    // match the WHOLE value, $1 expansion), then aggregate over the new
    // label — an instant sum over rewritten series. The oracle computes
    // the same latest-per-user sum grouped by the id's leading digits.
    q(
      "q63_promql_label_replace",
      s"""SELECT decade,
         |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value FROM (
         |  ${latestSql("value, CASE WHEN length(CAST(user_id AS VARCHAR)) > 1 " +
           "THEN substr(CAST(user_id AS VARCHAR), 1, " +
           "length(CAST(user_id AS VARCHAR)) - 1) ELSE '' END AS decade")})
         |WHERE decade <> ''
         |GROUP BY decade ORDER BY decade"""
    ) { (s, d) =>
      // decade = user id minus its last digit ("42" -> "4"); ids with one
      // digit expand to "" which DROPS the label (Prometheus rule), so
      // those series fall out of the by-decade aggregation below
      promql(s, d, ExtendedPromQL.parse(
        """label_replace(view, "decade", "$1", "user", "([0-9]+)[0-9]")""",
        1706659200000000L))
        .filter(element_at(col("labels"), "decade").isNotNull)
        .groupBy(element_at(col("labels"), "decade").as("decade"))
        .agg(dsum(col("value")).as("value"))
        .orderBy("decade")
    },

    // group_left many-to-one matching: views carry an extra parity
    // label, clicks don't — on(user) group_left keeps the LEFT side's
    // full label set, so the per-user ratio comes back with its parity
    // label intact (the oracle recomputes parity as user_id % 2).
    q(
      "q64_promql_group_left",
      s"""WITH $viewClickRateCtes
         |SELECT CAST(v.user_id AS VARCHAR) AS user_tag,
         |  CAST(v.user_id % 2 AS VARCHAR) AS parity,
         |  ROUND(v.rate / c.rate, 6) AS value
         |FROM r v JOIN r c ON v.user_id = c.user_id
         |  AND v.event_type = 'view' AND c.event_type = 'click'
         |ORDER BY user_tag"""
    ) { (s, d) =>
      promqlWithViewParity(s, d, ExtendedPromQL.parse(
        "rate(view[31d]) / on(user) group_left rate(click[31d])",
        1706745600000000L))
        .select(element_at(col("labels"), "user").as("user_tag"),
          element_at(col("labels"), "parity").as("parity"),
          round(col("value"), 6).as("value"))
        .orderBy("user_tag")
    },

    // Set operator: view rates UNLESS users whose id contains an even
    // digit (the right operand selects those via a regex matcher —
    // UNANCHORED substring semantics, as the reference pins for its
    // matchers) — an anti join on the full label set. The oracle keeps
    // users with all-odd-digit ids.
    q(
      "q65_promql_unless",
      s"""WITH $viewLagCte
         |SELECT CAST(user_id AS VARCHAR) AS user_tag,
         |  ROUND(SUM(CASE WHEN prev IS NULL THEN NULL
         |    WHEN value >= prev THEN value - prev
         |    ELSE value END) / 2678400.0, 9) AS value
         |FROM s
         |WHERE NOT regexp_matches(CAST(user_id AS VARCHAR), '[02468]')
         |GROUP BY user_id
         |HAVING SUM(CASE WHEN prev IS NULL THEN NULL
         |  WHEN value >= prev THEN value - prev
         |  ELSE value END) IS NOT NULL
         |ORDER BY user_tag"""
    ) { (s, d) =>
      promql(s, d, ExtendedPromQL.parse(
        """rate(view[31d]) unless rate(click{user=~".*[02468]"}[31d])""",
        1706745600000000L))
        .select(element_at(col("labels"), "user").as("user_tag"),
          round(col("value"), 9).as("value"))
        .orderBy("user_tag")
    },

    // Comparison filter: per-user view rates above a threshold —
    // Prometheus drops failing series and survivors keep their value.
    // The predicate evaluates on the unrounded f64 rate on both sides
    // (identical arithmetic), ROUND(9) only formats the survivors.
    q(
      "q66_promql_threshold",
      s"""WITH $viewRateCtes
         |SELECT CAST(user_id AS VARCHAR) AS user_tag,
         |  ROUND(rate, 9) AS value
         |FROM r WHERE rate > 0.00003 ORDER BY user_tag"""
    ) { (s, d) =>
      promql(s, d, ExtendedPromQL.parse(
        "rate(view[31d]) > 0.00003", 1706745600000000L))
        .select(element_at(col("labels"), "user").as("user_tag"),
          round(col("value"), 9).as("value"))
        .orderBy("user_tag")
    },

    // PromQL subquery `max_over_time(rate(view[1d])[31d:1d])`: the inner
    // rate evaluates at every day-aligned step in [end-31d, end] (step
    // timestamps are the multiples of the step since the Unix epoch —
    // here Jan 1 .. Feb 1 2024, 32 steps), each over the 1-day window
    // ending at the step; the outer max folds the per-series step rates.
    // The oracle replays the step grid with generate_series and the same
    // reset-aware delta sum per (user, step) window. Both step windows
    // are closed on both ends (this engine's documented inclusive
    // between() convention). ROUND(9) absorbs summation-order ULP drift,
    // as q43 does for the plain rate.
    q(
      "q67_promql_subquery",
      """WITH steps AS (
        |  SELECT t AS step_us FROM generate_series(
        |    1704067200000000, 1706745600000000, 86400000000) s(t)),
        |w AS (
        |  SELECT st.step_us, e.user_id, e.value, epoch_us(e.ts) AS ts_us
        |  FROM events e JOIN steps st
        |    ON epoch_us(e.ts)
        |      BETWEEN st.step_us - 86400000000 AND st.step_us
        |  WHERE e.event_type = 'view'),
        |l AS (
        |  SELECT step_us, user_id, value,
        |    lag(value) OVER (PARTITION BY user_id, step_us
        |      ORDER BY ts_us, value) AS prev
        |  FROM w),
        |r AS (
        |  SELECT step_us, user_id,
        |    SUM(CASE WHEN prev IS NULL THEN NULL
        |      WHEN value >= prev THEN value - prev
        |      ELSE value END) / 86400.0 AS rate
        |  FROM l GROUP BY step_us, user_id
        |  HAVING SUM(CASE WHEN prev IS NULL THEN NULL
        |    WHEN value >= prev THEN value - prev
        |    ELSE value END) IS NOT NULL)
        |SELECT CAST(user_id AS VARCHAR) AS user_tag,
        |  ROUND(MAX(rate), 9) AS value
        |FROM r GROUP BY user_id ORDER BY user_tag"""
    ) { (s, d) =>
      promql(s, d, ExtendedPromQL.parse(
        "max_over_time(rate(view[1d])[31d:1d])", 1706745600000000L))
        .select(element_at(col("labels"), "user").as("user_tag"),
          round(col("value"), 9).as("value"))
        .orderBy("user_tag")
    },

    // PromQL math functions: round-to-step then clamp over a counter
    // rate. `round(v, to)` is floor(v/to + 0.5)*to (Prometheus ties-up
    // rounding) — after it, values are exact multiples of `to` computed
    // identically on both sides, so no output ROUND crutch is needed;
    // clamp clips into [2e-5, 3e-5] with LEAST/GREATEST in the oracle.
    q(
      "q72_promql_math",
      s"""WITH $viewRateCtes
         |SELECT CAST(user_id AS VARCHAR) AS user_tag,
         |  LEAST(GREATEST(
         |    floor(rate / 0.000001 + 0.5) * 0.000001, 0.00002), 0.00003)
         |    AS value
         |FROM r ORDER BY user_tag"""
    ) { (s, d) =>
      promql(s, d, ExtendedPromQL.parse(
        "clamp(round(rate(view[31d]), 0.000001), 0.00002, 0.00003)",
        1706745600000000L))
        .select(element_at(col("labels"), "user").as("user_tag"),
          col("value"))
        .orderBy("user_tag")
    },

    // The canonical PromQL reduction `sum(rate(...))` — a cross-series
    // aggregation over a function result, which the previous parser
    // rejected (only plain-selector aggregation existed). One global
    // group: the per-user view rates fold into a single total. ROUND(9)
    // on both sides absorbs the two-level summation-order ULP drift
    // (per-series delta sums, then the cross-series fold).
    q(
      "q73_promql_sum_rate",
      s"""WITH $viewRateCtes
         |SELECT ROUND(SUM(rate), 9) AS value FROM r"""
    ) { (s, d) =>
      promql(s, d, ExtendedPromQL.parse(
        "sum(rate(view[31d]))", 1706745600000000L))
        .select(round(col("value"), 9).as("value"))
    },

    // present_over_time: 1.0 per series with >=1 sample in the window —
    // the liveness probe companion to absent_over_time (which is
    // unit-tested; its result is nonempty only when nothing matches).
    q(
      "q77_promql_present",
      """SELECT CAST(user_id AS VARCHAR) AS user_tag,
        |  CAST(1.0 AS DOUBLE) AS value
        |FROM events
        |WHERE event_type = 'view'
        |  AND epoch_us(ts) BETWEEN 1704067200000000 AND 1706745600000000
        |GROUP BY user_tag ORDER BY user_tag"""
    ) { (s, d) =>
      promql(s, d, ExtendedPromQL.parse(
        "present_over_time(view[31d])", 1706745600000000L))
        .select(element_at(col("labels"), "user").as("user_tag"),
          col("value"))
        .orderBy("user_tag")
    },

    // predict_linear: per-series least-squares forecast one day past the
    // window end. Both engines compute regr_slope/regr_intercept =
    // covar_pop/var_pop over the same (seconds-from-end, value) pairs;
    // ROUND(4) absorbs their differing internal accumulation orders
    // (regression co-moments cancel more than plain sums).
    q(
      "q80_promql_predict",
      """SELECT CAST(user_id AS VARCHAR) AS user_tag,
        |  ROUND(regr_intercept(value, x) + regr_slope(value, x) * 86400.0,
        |    4) AS value
        |FROM (
        |  SELECT user_id, value,
        |    (epoch_us(ts) - 1706745600000000) / 1000000.0 AS x
        |  FROM events
        |  WHERE event_type = 'view'
        |    AND epoch_us(ts) BETWEEN 1704067200000000 AND 1706745600000000)
        |GROUP BY user_id HAVING COUNT(*) >= 2 ORDER BY user_tag"""
    ) { (s, d) =>
      promql(s, d, ExtendedPromQL.parse(
        "predict_linear(view[31d], 86400)", 1706745600000000L))
        .select(element_at(col("labels"), "user").as("user_tag"),
          round(col("value"), 4).as("value"))
        .orderBy("user_tag")
    },

    // PromQL holt_winters: the per-series double-exponential-smoothing
    // fold replayed in DuckDB as a recursive CTE advancing one sample
    // per iteration (the q49 deadband technique). The smoothing
    // arithmetic is pinned to the same operation ORDER on both sides
    // (sf*x + (1-sf)*(s1+trend); tf*(s1-s0) + (1-tf)*b), so the doubles
    // are bit-identical — no rounding crutch.
    q(
      "q82_promql_holt_winters",
      """WITH RECURSIVE w AS (
        |  SELECT CAST(user_id AS VARCHAR) AS user_tag,
        |    epoch_us(ts) AS ts_us, value
        |  FROM events
        |  WHERE event_type = 'view'
        |    AND epoch_us(ts) BETWEEN 1704067200000000 AND 1706745600000000),
        |base AS (
        |  SELECT user_tag, value,
        |    ROW_NUMBER() OVER (PARTITION BY user_tag
        |      ORDER BY ts_us, value) AS rn
        |  FROM w),
        |cnt AS (SELECT user_tag, MAX(rn) AS n FROM base GROUP BY user_tag),
        |rec AS (
        |  SELECT b1.user_tag, 1 AS i, 0.0::DOUBLE AS s0, b1.value AS s1,
        |    b2.value - b1.value AS b
        |  FROM base b1 JOIN base b2
        |    ON b2.user_tag = b1.user_tag AND b2.rn = 2
        |  WHERE b1.rn = 1
        |  UNION ALL
        |  SELECT r.user_tag, r.i + 1, r.s1,
        |    0.5::DOUBLE * x.value + (1 - 0.5::DOUBLE) * (r.s1 +
        |      CASE WHEN r.i = 1 THEN r.b
        |        ELSE 0.3::DOUBLE * (r.s1 - r.s0)
        |          + (1 - 0.3::DOUBLE) * r.b END),
        |    CASE WHEN r.i = 1 THEN r.b
        |      ELSE 0.3::DOUBLE * (r.s1 - r.s0)
        |        + (1 - 0.3::DOUBLE) * r.b END
        |  FROM rec r JOIN base x
        |    ON x.user_tag = r.user_tag AND x.rn = r.i + 1)
        |SELECT r.user_tag AS user_tag, r.s1 AS value
        |FROM rec r JOIN cnt ON cnt.user_tag = r.user_tag
        |WHERE r.i = cnt.n AND cnt.n >= 2
        |ORDER BY r.user_tag"""
    ) { (s, d) =>
      promql(s, d, ExtendedPromQL.parse(
        "holt_winters(view[31d], 0.5, 0.3)", 1706745600000000L))
        .select(element_at(col("labels"), "user").as("user_tag"),
          col("value"))
        .orderBy("user_tag")
    },

    // PromQL sort: the instant vector ranked ascending by value (ties by
    // sensor_id) — last-in-window values are exact, so the rank is
    // deterministic with no float-summation sensitivity (same reason
    // q51's topk ranks are). The rank window runs over one row per
    // SERIES (catalog-bounded), never over samples.
    q(
      "q83_promql_sort",
      s"""SELECT rank, sensor_id, value FROM (
         |  SELECT sensor_id, value,
         |    ROW_NUMBER() OVER (ORDER BY value ASC, sensor_id ASC) AS rank
         |  FROM (${latestSql("'view ' || user_id AS sensor_id, value")}))
         |ORDER BY rank"""
    ) { (s, d) =>
      promql(s, d, ExtendedPromQL.parse(
        "sort(view)", 1706659200000000L))
        .select("rank", "sensor_id", "value")
        .orderBy("rank")
    },

    // PromQL time-function family: timestamp(sel) surfaces each
    // series' latest-sample time in float seconds, and the time-of-day
    // functions (hour, day_of_week — Sunday=0) compose over it,
    // truncating toward zero like Prometheus's int64 cast. Fields are
    // UTC on both sides (session timezone vs DuckDB's naive
    // make_timestamp).
    q(
      "q91_promql_time",
      """WITH last AS (
        |  SELECT CAST(user_id AS VARCHAR) AS user_tag,
        |    MAX(epoch_us(ts)) AS ts_us
        |  FROM events WHERE event_type = 'view'
        |    AND epoch_us(ts) BETWEEN 1706655600000000 AND 1706659200000000
        |  GROUP BY user_id),
        |t AS (SELECT user_tag, ts_us / 1000000.0 AS ts_s,
        |  make_timestamp(CAST(FLOOR(ts_us / 1000000.0) AS BIGINT) * 1000000)
        |    AS tt
        |  FROM last)
        |SELECT user_tag, ts_s,
        |  CAST(EXTRACT(hour FROM tt) AS DOUBLE) AS hr,
        |  CAST(dayofweek(tt) AS DOUBLE) AS dow
        |FROM t ORDER BY user_tag"""
    ) { (s, d) =>
      val now = 1706659200000000L
      def ev(qs: String, as: String) =
        promql(s, d, ExtendedPromQL.parse(qs, now))
          .select(element_at(col("labels"), "user").as("user_tag"),
            col("value").as(as))
      ev("timestamp(view)", "ts_s")
        .join(ev("hour(timestamp(view))", "hr"), "user_tag")
        .join(ev("day_of_week(timestamp(view))", "dow"), "user_tag")
        .orderBy("user_tag")
    },

    // PromQL group(): 1 per group regardless of values — the presence
    // aggregation Prometheus added in 2.20 (the "which label
    // combinations exist" query).
    q(
      "q92_promql_group",
      """SELECT DISTINCT CAST(user_id AS VARCHAR) AS user_tag,
        |  1.0::DOUBLE AS value
        |FROM events
        |WHERE event_type = 'view'
        |  AND epoch_us(ts) BETWEEN 1706655600000000 AND 1706659200000000
        |ORDER BY user_tag"""
    ) { (s, d) =>
      promql(s, d, ExtendedPromQL.parse(
        "group by (user) (view)", 1706659200000000L))
        .select(element_at(col("group_labels"), "user").as("user_tag"),
          col("value"))
        .orderBy("user_tag")
    },

    // PromQL scalar()/vector() conversions (the reference's endpoint
    // rejects every function call: src/ingestors/http/simple_promql.rs
    // :153-155): `vec * scalar(agg)` is dynamic-scalar arithmetic via a
    // broadcast one-row cross join, and `missing or vector(42)` is the
    // canonical empty-result fallback. The scalar factor (a series
    // count) and the double multiply are bit-exact on both engines.
    q(
      "q93_promql_scalar",
      s"""WITH latest AS (${latestSql("user_id, value")})
         |SELECT * FROM (
         |  SELECT 'scaled' AS part, CAST(user_id AS VARCHAR) AS user_tag,
         |    value * (SELECT COUNT(*)::DOUBLE FROM latest) AS value
         |  FROM latest
         |  UNION ALL
         |  SELECT 'fallback', '', 42.0::DOUBLE)
         |ORDER BY part, user_tag"""
    ) { (s, d) =>
      val now = 1706659200000000L
      def ev(qs: String, tag: String) =
        promql(s, d, ExtendedPromQL.parse(qs, now))
          .select(lit(tag).as("part"),
            coalesce(element_at(col("labels"), "user"), lit(""))
              .as("user_tag"),
            col("value"))
      ev("view * scalar(count(view))", "scaled")
        .unionByName(ev("nosuchmetric or vector(42)", "fallback"))
        .orderBy("part", "user_tag")
    },

    // PromQL @ start()/end() anchors: the selector window pins to the
    // provided range bounds instead of the evaluation time (resolved
    // by a quote-aware rewrite to the numeric `@ <seconds>` modifier
    // the selector already supports). max is order-insensitive and the
    // count is exact, so no rounding is needed on either side.
    q(
      "q94_promql_at",
      """SELECT * FROM (
        |  SELECT 'max_end' AS fn, CAST(user_id AS VARCHAR) AS user_tag,
        |    MAX(value) AS value
        |  FROM events
        |  WHERE event_type = 'view'
        |    AND epoch_us(ts) BETWEEN 1706655600000000 AND 1706659200000000
        |  GROUP BY user_id
        |  UNION ALL
        |  SELECT 'cnt_start', CAST(user_id AS VARCHAR), COUNT(*)::DOUBLE
        |  FROM events
        |  WHERE event_type = 'view'
        |    AND epoch_us(ts) BETWEEN 1706565600000000 AND 1706572800000000
        |  GROUP BY user_id)
        |ORDER BY fn, user_tag"""
    ) { (s, d) =>
      // range params: start = 2024-01-30T00:00:00Z, end = 2024-01-31
      val now = 1706745600000000L
      val rangeStart = 1706572800000000L
      val rangeEnd = 1706659200000000L
      def ev(qs: String, tag: String) =
        promql(s, d, ExtendedPromQL.parse(
          qs, now, Some(rangeStart), Some(rangeEnd)))
          .select(lit(tag).as("fn"),
            element_at(col("labels"), "user").as("user_tag"),
            col("value"))
      ev("max_over_time(view[1h] @ end())", "max_end")
        .unionByName(ev("count_over_time(view[2h] @ start())", "cnt_start"))
        .orderBy("fn", "user_tag")
    },

    // Prometheus 2.31 trigonometry family over an instant vector:
    // rad→sin→atan→deg composed per value, pinned through PromQL's
    // own round(v, to) = floor(v/to + 0.5)·to at 1e-9 — the identical
    // tie rule on both engines; the step quantization absorbs the
    // occasional 1-ulp libm-vs-JVM disagreement inside sin/atan.
    q(
      "q96_promql_trig",
      s"""${latestSql("CAST(user_id AS VARCHAR) AS user_tag, " +
           "floor(degrees(atan(sin(radians(value)))) / 0.000000001 + 0.5) " +
           "* 0.000000001 AS value")}
         |ORDER BY user_tag"""
    ) { (s, d) =>
      promql(s, d, ExtendedPromQL.parse(
        "round(deg(atan(sin(rad(view)))), 0.000000001)",
        1706659200000000L))
        .select(element_at(col("labels"), "user").as("user_tag"),
          col("value"))
        .orderBy("user_tag")
    },

    // PromQL atan2 — the one arithmetic word operator (Prometheus
    // treats it exactly like * and /, with on()/ignoring() matching):
    // view atan2 click per user over the latest samples. Both engines
    // call the platform atan2, so the hash surface rounds to 6.
    q(
      "q101_promql_atan2",
      s"""WITH l AS (${latestSql("user_id, value")}),
         |r AS (${latestSql("user_id, value", event = "click")})
         |SELECT CAST(l.user_id AS VARCHAR) AS user_tag,
         |  ROUND(atan2(l.value, r.value), 6) AS value
         |FROM l JOIN r USING (user_id) ORDER BY user_tag"""
    ) { (s, d) =>
      promql(s, d, ExtendedPromQL.parse(
        "view atan2 on(user) click", 1706659200000000L))
        .select(element_at(col("labels"), "user").as("user_tag"),
          round(col("value"), 6).as("value"))
        .orderBy("user_tag")
    },

    // PromQL % (float mod, sign follows the dividend) and ^ (power),
    // nested: (view % 7) ^ 2 per user over the latest samples — the
    // last two arithmetic operators Prometheus defines that the
    // extended endpoint lacked. fmod is exact in both engines; pow can
    // drift a ulp between libms, so the hash surface rounds to 6.
    q(
      "q102_promql_mod_pow",
      s"""${latestSql("CAST(user_id AS VARCHAR) AS user_tag, " +
           "ROUND(pow(fmod(value, 7.0::DOUBLE), 2.0::DOUBLE), 6) AS value")}
         |ORDER BY user_tag"""
    ) { (s, d) =>
      promql(s, d, ExtendedPromQL.parse(
        "(view % 7) ^ 2", 1706659200000000L))
        .select(element_at(col("labels"), "user").as("user_tag"),
          round(col("value"), 6).as("value"))
        .orderBy("user_tag")
    },

    // PromQL mad_over_time: per-series median absolute deviation over
    // the range window — median(|x − median(x)|), both medians under
    // the linear-interpolation quantile rule quantile_cont shares.
    q(
      "q103_promql_mad",
      """WITH s AS (
        |  SELECT user_id, value FROM events
        |  WHERE event_type = 'view'
        |    AND epoch_us(ts) BETWEEN 1704067200000000 AND 1706745600000000),
        |m AS (
        |  SELECT user_id, quantile_cont(value, 0.5) AS med
        |  FROM s GROUP BY 1)
        |SELECT CAST(s.user_id AS VARCHAR) AS user_tag,
        |  ROUND(quantile_cont(abs(s.value - m.med), 0.5), 6) AS value
        |FROM s JOIN m USING (user_id)
        |GROUP BY s.user_id ORDER BY user_tag"""
    ) { (s, d) =>
      promql(s, d, ExtendedPromQL.parse(
        "mad_over_time(view[31d])", 1706745600000000L))
        .select(element_at(col("labels"), "user").as("user_tag"),
          round(col("value"), 6).as("value"))
        .orderBy("user_tag")
    },

    // Cross-series quantile aggregation — quantile(0.75, view): the
    // parameterized member of the instant-aggregation family the
    // endpoint lacked. Exact per-group quantile (linear interpolation,
    // the quantile_cont definition) over the latest sample per series.
    q(
      "q123_promql_quantile_agg",
      s"""${latestSql("ROUND(quantile_cont(value, 0.75), 6) AS value")}
         |HAVING COUNT(*) > 0"""
    ) { (s, d) =>
      promql(s, d, ExtendedPromQL.parse(
        "quantile(0.75, view)", 1706659200000000L))
        .select(round(col("value"), 6).as("value"))
    },

    // topk by (parity): per-group ranking over the instant vector —
    // the WindowGroupLimit shape (per-partition top-k, no global
    // sort). Parity labels derive from the user id as in q63.
    q(
      "q124_promql_topk_by",
      s"""SELECT user_id % 2 AS parity, rank, CAST(user_id AS VARCHAR)
         |    AS user_tag, value
         |FROM (
         |  SELECT user_id, value,
         |    ROW_NUMBER() OVER (PARTITION BY user_id % 2
         |      ORDER BY value DESC,
         |        'view ' || CAST(user_id AS VARCHAR)) AS rank
         |  FROM (${latestSql("user_id, value", atUs = 1705500000000000L)}))
         |WHERE rank <= 3 ORDER BY parity, rank"""
    ) { (s, d) =>
      ExtendedPromQL.evalWith(ExtendedPromQL.parse(
        "topk by (parity) (3, view)", 1705500000000000L),
        EventsAdapter.promSeries(s, d).andThen(_.select(col("sensor_id"),
          map_concat(col("labels"), map(lit("parity"),
            (col("labels")("user").cast("long") % 2).cast("string")))
            .as("labels"))),
        EventsAdapter.samples(s, d)
          .select("sensor_id", "timestamp_us", "value"))
        .select(element_at(col("labels"), "parity").cast("long")
            .as("parity"),
          col("rank"),
          element_at(col("labels"), "user").as("user_tag"),
          col("value"))
        .orderBy("parity", "rank")
    },

    // limit_ratio: Prometheus 3's deterministic series sampling — the
    // draw is md5 of the canonical label string, so the oracle
    // reconstructs 'user=<id>' and replays membership exactly. The
    // 31-day-latest values ride along as the payload.
    q(
      "q125_promql_limit_ratio",
      s"""${latestSql("CAST(user_id AS VARCHAR) AS user_tag, value",
           atUs = 1705500000000000L)}
         |  AND ('0x' || substr(md5('user=' || user_id), 1, 15))
         |    ::BIGINT::DOUBLE / 1152921504606846976.0::DOUBLE < 0.4::DOUBLE
         |ORDER BY user_tag"""
    ) { (s, d) =>
      promql(s, d, ExtendedPromQL.parse(
        "limit_ratio(0.4, view)", 1705500000000000L))
        .select(element_at(col("labels"), "user").as("user_tag"),
          col("value"))
        .orderBy("user_tag")
    },

    // limitk: the k smallest label-hash draws — same md5 canonical
    // replay, k-bounded with the (draw, series) tie-break.
    q(
      "q126_promql_limitk",
      s"""SELECT CAST(user_id AS VARCHAR) AS user_tag, value FROM (
         |  ${latestSql("user_id, value, ('0x' || substr(md5('user=' || " +
           "user_id), 1, 15))::BIGINT AS d", atUs = 1705500000000000L)}
         |  ORDER BY d, 'view ' || CAST(user_id AS VARCHAR) LIMIT 5)
         |ORDER BY user_tag"""
    ) { (s, d) =>
      promql(s, d, ExtendedPromQL.parse(
        "limitk(5, view)", 1705500000000000L))
        .select(element_at(col("labels"), "user").as("user_tag"),
          col("value"))
        .orderBy("user_tag")
    },

    // sort_by_label_desc: the instant vector ranked by label VALUES
    // (string order — user "9" sorts after "10", which is the point:
    // label ordering is lexicographic, not numeric). Oracle replays
    // the string sort and the series-id tie.
    q(
      "q127_promql_sort_by_label",
      s"""SELECT rank, user_tag, value FROM (
         |  SELECT CAST(user_id AS VARCHAR) AS user_tag, value,
         |    ROW_NUMBER() OVER (
         |      ORDER BY CAST(user_id AS VARCHAR) DESC,
         |        'view ' || CAST(user_id AS VARCHAR) DESC) AS rank
         |  FROM (${latestSql("user_id, value", atUs = 1705500000000000L)}))
         |ORDER BY rank"""
    ) { (s, d) =>
      promql(s, d, ExtendedPromQL.parse(
        """sort_by_label_desc(view, "user")""", 1705500000000000L))
        .select(col("rank"),
          element_at(col("labels"), "user").as("user_tag"), col("value"))
        .orderBy("rank")
    },

    // ------------------------------------------------------------------
    // Operand composability (round 13): aggregations, binary-vector
    // results, and set chains as first-class operands — the canonical
    // Prometheus patterns the evaluator previously rejected at parse.

    // sum(count_over_time(a)) / sum(count_over_time(b)): a cross-series
    // aggregation on EACH side of a vector division (empty group-label
    // maps match one-to-one). Per-series counts are exact integers, the
    // double sum of integers is order-free below 2^53, and the single
    // IEEE division replays in DuckDB; the compare surface is the
    // µ-quantized ratio (the one engine-portable double→int cut).
    q(
      "q372_promql_agg_ratio",
      """WITH v AS (SELECT count(*) AS n FROM events
        |  WHERE event_type = 'view'
        |    AND epoch_us(ts) BETWEEN 1704067200000000 AND 1706745600000000),
        |c AS (SELECT count(*) AS n FROM events
        |  WHERE event_type = 'click'
        |    AND epoch_us(ts) BETWEEN 1704067200000000 AND 1706745600000000)
        |SELECT CAST(FLOOR(CAST(v.n AS DOUBLE) / CAST(c.n AS DOUBLE) * 1e6)
        |  AS BIGINT) AS ratio_micro
        |FROM v, c"""
    ) { (s, d) =>
      promql(s, d, ExtendedPromQL.parse(
        "sum(count_over_time(view[31d])) / sum(count_over_time(click[31d]))",
        1706745600000000L))
        .select(floor(col("value") * lit(1e6)).cast("long").as("ratio_micro"))
    },

    // abs(count_over_time(a) - count_over_time(b)): a math function over
    // a binary-vector result, matched one-to-one on the full {user}
    // label set. Counts are integers, so |nv − nc| is an exact
    // integer-valued double on both engines.
    q(
      "q373_promql_abs_diff",
      """SELECT CAST(user_id AS VARCHAR) AS user_tag,
        |  CAST(abs(nv - nc) AS BIGINT) AS diff
        |FROM (
        |  SELECT user_id,
        |    SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS nv,
        |    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS nc
        |  FROM events
        |  WHERE event_type IN ('view', 'click')
        |    AND epoch_us(ts) BETWEEN 1704067200000000 AND 1706745600000000
        |  GROUP BY 1)
        |WHERE nv > 0 AND nc > 0
        |ORDER BY user_tag"""
    ) { (s, d) =>
      promql(s, d, ExtendedPromQL.parse(
        "abs(count_over_time(view[31d]) - count_over_time(click[31d]))",
        1706745600000000L))
        .select(element_at(col("labels"), "user").as("user_tag"),
          col("value").cast("long").as("diff"))
        .orderBy("user_tag")
    },

    // a unless b unless c — the LEFT-ASSOCIATIVE set chain: month-long
    // viewers with no click AND no purchase in the trailing 48h window
    // ((v − c) − p ≡ v − (c ∪ p)). The right-associative reading
    // (v − (c − p)) keeps 12/117/1176 users instead of 5/64/599 at the
    // three SFs, so this gate goes red if the parser's associativity
    // ever regresses. Values ride from the left operand (view counts).
    q(
      "q374_promql_unless_chain",
      """WITH v AS (
        |  SELECT user_id, count(*) AS n FROM events
        |  WHERE event_type = 'view'
        |    AND epoch_us(ts) BETWEEN 1704067200000000 AND 1706745600000000
        |  GROUP BY 1),
        |c AS (SELECT DISTINCT user_id FROM events
        |  WHERE event_type = 'click'
        |    AND epoch_us(ts) BETWEEN 1706572800000000 AND 1706745600000000),
        |p AS (SELECT DISTINCT user_id FROM events
        |  WHERE event_type = 'purchase'
        |    AND epoch_us(ts) BETWEEN 1706572800000000 AND 1706745600000000)
        |SELECT CAST(v.user_id AS VARCHAR) AS user_tag, v.n AS views
        |FROM v
        |WHERE v.user_id NOT IN (SELECT user_id FROM c)
        |  AND v.user_id NOT IN (SELECT user_id FROM p)
        |ORDER BY user_tag"""
    ) { (s, d) =>
      promql(s, d, ExtendedPromQL.parse(
        "count_over_time(view[31d]) unless count_over_time(click[48h]) " +
          "unless count_over_time(purchase[48h])",
        1706745600000000L))
        .select(element_at(col("labels"), "user").as("user_tag"),
          col("value").cast("long").as("views"))
        .orderBy("user_tag")
    },

    // Aggregation INSIDE a subquery — the canonical alerting shape
    // (peak of a cross-series aggregate over a step grid):
    // max_over_time(sum(count_over_time(view[1d]))[31d:1d]) = the
    // busiest day-aligned 1d window's total view count. Counts are
    // integers, the cross-series sum of integers is exact and
    // order-free, and the max fold is selection — no rounding crutch
    // anywhere on the surface. Steps are the day-aligned multiples in
    // [Jan 1, Feb 1] (q67's grid); both window ends inclusive.
    q(
      "q375_promql_subquery_agg",
      """WITH steps AS (
        |  SELECT t AS step_us FROM generate_series(
        |    1704067200000000, 1706745600000000, 86400000000) s(t)),
        |c AS (
        |  SELECT st.step_us, count(*) AS n
        |  FROM events e JOIN steps st
        |    ON epoch_us(e.ts)
        |      BETWEEN st.step_us - 86400000000 AND st.step_us
        |  WHERE e.event_type = 'view'
        |  GROUP BY st.step_us)
        |SELECT CAST(MAX(n) AS BIGINT) AS max_views FROM c"""
    ) { (s, d) =>
      promql(s, d, ExtendedPromQL.parse(
        "max_over_time(sum(count_over_time(view[1d]))[31d:1d])",
        1706745600000000L))
        .select(col("value").cast("long").as("max_views"))
    },

    // Prometheus range-query API (the endpoint dashboards poll):
    // count_over_time(view[1d]) evaluated at every day step across
    // January — one row per (user series, step), all-integer surface.
    // The oracle replays the start-anchored step grid with
    // generate_series and the same inclusive 1d windows.
    q(
      "q376_promql_query_range",
      """WITH steps AS (
        |  SELECT t AS step_us FROM generate_series(
        |    1704067200000000, 1706745600000000, 86400000000) s(t))
        |SELECT CAST(e.user_id AS VARCHAR) AS user_tag,
        |  st.step_us AS t_us, count(*) AS n
        |FROM events e JOIN steps st
        |  ON epoch_us(e.ts)
        |    BETWEEN st.step_us - 86400000000 AND st.step_us
        |WHERE e.event_type = 'view'
        |GROUP BY 1, 2 ORDER BY 1, 2"""
    ) { (s, d) =>
      ExtendedPromQL.evalRange(ExtendedPromQL.parse(
        "count_over_time(view[1d])", 1706745600000000L),
        1704067200000000L, 1706745600000000L, 86400000000L,
        EventsAdapter.promSeries(s, d),
        EventsAdapter.samples(s, d)
          .select("sensor_id", "timestamp_us", "value"))
        .select(element_at(col("labels"), "user").as("user_tag"),
          col("t_us"), col("value").cast("long").as("n"))
        .orderBy("user_tag", "t_us")
    },

    // The canonical SLO burn-rate alerting shape — a binary vector
    // expression INSIDE a subquery (r13 rejected this; r14 evaluates
    // it per step): daily error/view ratio, maxed over January. Each
    // aggregation side is one scan pass whose samples land on the day
    // grid through one generator (perStepVector); the sides join per
    // (empty-group-key, step) in perStepAny's one recursion; division and
    // max are exact-integer-derived doubles, bit-identical in DuckDB.
    q(
      "q377_promql_burn_rate",
      """WITH steps AS (
        |  SELECT t AS step_us FROM generate_series(
        |    1704067200000000, 1706745600000000, 86400000000) s(t)),
        |e AS (
        |  SELECT st.step_us, count(*) AS n FROM events ev JOIN steps st
        |    ON epoch_us(ev.ts)
        |      BETWEEN st.step_us - 86400000000 AND st.step_us
        |  WHERE ev.event_type = 'error' GROUP BY 1),
        |v AS (
        |  SELECT st.step_us, count(*) AS n FROM events ev JOIN steps st
        |    ON epoch_us(ev.ts)
        |      BETWEEN st.step_us - 86400000000 AND st.step_us
        |  WHERE ev.event_type = 'view' GROUP BY 1)
        |SELECT CAST(FLOOR(MAX(CAST(e.n AS DOUBLE) / CAST(v.n AS DOUBLE))
        |  * 1e9) AS BIGINT) AS burn_rate_nano
        |FROM e JOIN v USING (step_us)"""
    ) { (s, d) =>
      promql(s, d, ExtendedPromQL.parse(
        "max_over_time((sum(count_over_time(error[1d])) / " +
          "sum(count_over_time(view[1d])))[31d:1d])",
        1706745600000000L))
        // integer compare surface (floor-scaled nanos): the one value
        // class that has never failed the driver hash
        .select(floor(col("value") * 1e9).cast("long")
          .as("burn_rate_nano"))
    },

    // NESTED subqueries (r13 rejected; r14 evaluates on a SHARED
    // epoch-aligned inner grid — inner step timestamps repeat across
    // outer steps, so the inner pass runs ONCE and fans out through a
    // broadcast (outer, inner) pair join): 7-day moving average of the
    // daily view total, maxed over January.
    q(
      "q378_promql_nested_subquery",
      """WITH osteps AS (
        |  SELECT t AS ot FROM generate_series(
        |    1704067200000000, 1706745600000000, 86400000000) s(t)),
        |isteps AS (
        |  SELECT DISTINCT ot - d * 86400000000 AS it
        |  FROM osteps, generate_series(0, 7) g(d)),
        |c AS (
        |  SELECT i.it, count(*) AS n
        |  FROM isteps i JOIN events ev
        |    ON epoch_us(ev.ts) BETWEEN i.it - 86400000000 AND i.it
        |  WHERE ev.event_type = 'view' GROUP BY 1),
        |a AS (
        |  SELECT o.ot, avg(CAST(c.n AS DOUBLE)) AS ma
        |  FROM osteps o JOIN c
        |    ON c.it BETWEEN o.ot - 7 * 86400000000 AND o.ot
        |  GROUP BY 1)
        |SELECT CAST(FLOOR(MAX(ma) * 1e9) AS BIGINT) AS max_ma_nano
        |FROM a"""
    ) { (s, d) =>
      promql(s, d, ExtendedPromQL.parse(
        "max_over_time(avg_over_time(" +
          "sum(count_over_time(view[1d]))[7d:1d])[31d:1d])",
        1706745600000000L))
        .select(floor(col("value") * 1e9).cast("long").as("max_ma_nano"))
    }
  )
}
