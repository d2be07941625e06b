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

/** Behavioral/business analytics over events + TPC-H tables: funnels, retention, revenue, attribution, cohort mixes.
  *
  * One of the family registries composed into [[graft.Queries]];
  * oracle/alias conventions are documented there.
  */
private[graft] object BehaviorQueries {

  /** The funnel oracles' stages (q144, q221) over the first two days
    * of events: `s0` each user's first view, `s1` the first click after
    * it, `s2` the first purchase after that, each with its time `t`.
    */
  private val funnelStageCtes =
    """e AS (
      |  SELECT user_id, event_type, ts FROM events
      |  WHERE epoch_us(ts) < 1704240000000000),
      |s0 AS (SELECT user_id, min(ts) AS t FROM e
      |  WHERE event_type = 'view' GROUP BY 1),
      |s1 AS (SELECT e.user_id, min(e.ts) AS t FROM e
      |  JOIN s0 USING (user_id)
      |  WHERE e.event_type = 'click' AND e.ts > s0.t GROUP BY 1),
      |s2 AS (SELECT e.user_id, min(e.ts) AS t FROM e
      |  JOIN s1 USING (user_id)
      |  WHERE e.event_type = 'purchase' AND e.ts > s1.t GROUP BY 1)"""

  /** The order-cohort oracles' months (q240, q241): `b` each order's
    * customer, month index and exact cents, `ch` each customer's first
    * order month `c0`.
    */
  private val orderMonthCtes =
    """b AS (SELECT o_custkey AS cust,
      |    CAST(date_part('year', o_orderdate) * 12
      |      + date_part('month', o_orderdate) - 1 AS BIGINT) AS mi,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS cents
      |  FROM orders),
      |ch AS (SELECT cust, MIN(mi) AS c0 FROM b GROUP BY 1)"""

  val registry: Seq[Q] = Seq(

    // URL/domain analysis (C4 ancestry): documents augmented with
    // deterministic URLs, blocklist-filtered by a pure scan-stage
    // `exists` predicate (no shuffle, no join), then per-registered-
    // domain statistics. Hosts, registered domains, the blocklist
    // predicate and the aggregation all replay in DuckDB on identical
    // RE2-compatible regexes.
    q(
      "q90_url_domains",
      """WITH a AS (
        |  SELECT doc_id,
        |    text || ' see https://www.site' || CAST(doc_id % 20 AS VARCHAR)
        |      || '.example' || CAST(doc_id % 7 AS VARCHAR)
        |      || '.com/p/' || CAST(doc_id AS VARCHAR)
        |      || ' and http://blog.test' || CAST(doc_id % 5 AS VARCHAR)
        |      || '.org' AS t
        |  FROM documents),
        |h AS (
        |  SELECT doc_id,
        |    list_transform(
        |      regexp_extract_all(t, 'https?://[A-Za-z0-9.-]+(?::[0-9]+)?(?:/[^\s]*)?'),
        |      u -> regexp_extract(u, 'https?://([A-Za-z0-9.-]+)', 1)) AS hosts
        |  FROM a),
        |kept AS (
        |  SELECT doc_id, hosts FROM h
        |  WHERE len(list_filter(hosts,
        |    x -> regexp_extract(x, '([A-Za-z0-9-]+\.[A-Za-z0-9-]+)$', 1)
        |      IN ('example3.com', 'test4.org'))) = 0),
        |d AS (
        |  SELECT doc_id,
        |    regexp_extract(unnest(hosts),
        |      '([A-Za-z0-9-]+\.[A-Za-z0-9-]+)$', 1) AS domain
        |  FROM kept)
        |SELECT domain, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_urls
        |FROM d GROUP BY domain ORDER BY domain"""
    ) { (s, d) =>
      val aug = Tables.spread(s, Tables.documents(s, d))
        .select(col("doc_id"), concat(col("text"),
          lit(" see https://www.site"), (col("doc_id") % 20).cast("string"),
          lit(".example"), (col("doc_id") % 7).cast("string"),
          lit(".com/p/"), col("doc_id").cast("string"),
          lit(" and http://blog.test"), (col("doc_id") % 5).cast("string"),
          lit(".org")).as("t"))
      val kept = TextAnalysis.dropBlockedDomains(aug, "t",
        Seq("example3.com", "test4.org"))
      TextAnalysis.domainStats(kept, "doc_id", "t")
        .orderBy("domain")
    },

    // Public-suffix-aware registered domains: hosts synthesized from
    // doc ids cover plain ccTLD suffixes (co.uk, com.au), a 1-label
    // wildcard (*.ck), an exception (!city.kobe.jp) and a private-
    // section suffix (github.io). The oracle replays the PSL lookup
    // with IN-lists generated from the very same vendored snapshot
    // (PublicSuffix.sqlList), so both engines consult one rule table.
    q(
      "q95_psl_domains", {
        val psl = graft.pipeline.PublicSuffix
        def tail(k: Int) =
          s"array_to_string(list_slice(sp, -$k, -1), '.')"
        s"""WITH h AS (
          |  SELECT CASE
          |    WHEN doc_id % 6 = 0 THEN
          |      'www.alpha' || CAST(doc_id % 10 AS VARCHAR) || '.com'
          |    WHEN doc_id % 6 = 1 THEN
          |      'shop.alpha' || CAST(doc_id % 10 AS VARCHAR) || '.co.uk'
          |    WHEN doc_id % 6 = 2 THEN
          |      'cdn.alpha' || CAST(doc_id % 10 AS VARCHAR) || '.com.au'
          |    WHEN doc_id % 6 = 3 THEN
          |      'a.alpha' || CAST(doc_id % 10 AS VARCHAR) || '.w.ck'
          |    WHEN doc_id % 6 = 4 THEN 'deep.www.city.kobe.jp'
          |    ELSE
          |      'blog.alpha' || CAST(doc_id % 10 AS VARCHAR) || '.github.io'
          |  END AS host
          |  FROM documents),
          |p AS (SELECT host, string_split(host, '.') AS sp FROM h),
          |r AS (
          |  SELECT CASE
          |    WHEN len(sp) >= 3 AND ${tail(3)} IN (${psl.sqlList(psl.exc3)})
          |      THEN ${tail(3)}
          |    WHEN len(sp) >= 2 AND ${tail(2)} IN (${psl.sqlList(psl.exc2)})
          |      THEN ${tail(2)}
          |    WHEN len(sp) >= 4 AND (
          |        ${tail(3)} IN (${psl.sqlList(psl.plain3)})
          |        OR ${tail(2)} IN (${psl.sqlList(psl.wild2)}))
          |      THEN ${tail(4)}
          |    WHEN len(sp) >= 3 AND (
          |        ${tail(2)} IN (${psl.sqlList(psl.plain2)})
          |        OR sp[-1] IN (${psl.sqlList(psl.wild1)}))
          |      THEN ${tail(3)}
          |    ELSE regexp_extract(host, '([A-Za-z0-9-]+\\.[A-Za-z0-9-]+)$$', 1)
          |  END AS domain FROM p)
          |SELECT domain, COUNT(*) AS n_hosts
          |FROM r GROUP BY domain ORDER BY domain"""
      }
    ) { (s, d) =>
      val m = (col("doc_id") % 10).cast("string")
      def shape(k: Int) = col("doc_id") % 6 === k
      val host = when(shape(0), concat(lit("www.alpha"), m, lit(".com")))
        .when(shape(1), concat(lit("shop.alpha"), m, lit(".co.uk")))
        .when(shape(2), concat(lit("cdn.alpha"), m, lit(".com.au")))
        .when(shape(3), concat(lit("a.alpha"), m, lit(".w.ck")))
        .when(shape(4), lit("deep.www.city.kobe.jp"))
        .otherwise(concat(lit("blog.alpha"), m, lit(".github.io")))
      Tables.documents(s, d)
        .select(TextAnalysis.registeredDomain(host).as("domain"))
        .groupBy("domain").agg(count(lit(1)).as("n_hosts"))
        .orderBy("domain")
    },

    // Strict ordered funnel view→click→purchase over the first two
    // days of events (the full month is degenerate — every user
    // eventually does everything): stage i counts users whose earliest
    // stage-i event falls STRICTLY AFTER their stage i−1 conversion
    // instant. Counts are integers; conversion is one IEEE division
    // ROUND(6) against the stage-0 population. The oracle replays the
    // per-stage min-aggregate chain with the same strict > gates.
    q(
      "q144_funnel",
      s"""WITH $funnelStageCtes,
         |c AS (SELECT (SELECT COUNT(*) FROM s0) AS n0,
         |  (SELECT COUNT(*) FROM s1) AS n1,
         |  (SELECT COUNT(*) FROM s2) AS n2)
         |SELECT 0::BIGINT AS stage_idx, 'view' AS stage,
         |  n0 AS n_users, ROUND(n0::DOUBLE / n0::DOUBLE, 6) AS conversion
         |FROM c
         |UNION ALL SELECT 1::BIGINT, 'click', n1,
         |  ROUND(n1::DOUBLE / n0::DOUBLE, 6) FROM c
         |UNION ALL SELECT 2::BIGINT, 'purchase', n2,
         |  ROUND(n2::DOUBLE / n0::DOUBLE, 6) FROM c
         |ORDER BY stage_idx"""
    ) { (s, d) =>
      graft.pipeline.Behavior.funnel(
          Tables.events(s, d)
            .filter(unix_micros(col("ts")) < lit(1704240000000000L)),
          "user_id", "event_type", "ts",
          Seq("view", "click", "purchase"))
        .orderBy("stage_idx")
    },

    // Retention cohort matrix on purchase activity, daily periods
    // (weekly cohorts are degenerate on the 30-day corpus — every user
    // is first seen in week 1): cohort = first purchase day, cell =
    // distinct cohort users purchasing `period_offset` days later.
    // Integer-valued everywhere; day arithmetic on DATE-truncated
    // values replays exactly.
    q(
      "q145_retention",
      """WITH a AS (
        |  SELECT DISTINCT user_id, date_trunc('day', ts)::DATE AS w
        |  FROM events WHERE event_type = 'purchase'),
        |f AS (SELECT user_id, min(w) AS c FROM a GROUP BY 1)
        |SELECT f.c AS cohort,
        |  date_diff('day', f.c, a.w)::BIGINT AS period_offset,
        |  COUNT(DISTINCT a.user_id) AS n_users
        |FROM a JOIN f USING (user_id)
        |GROUP BY 1, 2 ORDER BY cohort, period_offset"""
    ) { (s, d) =>
      graft.pipeline.Behavior.retentionCohorts(
          Tables.events(s, d).filter(col("event_type") === "purchase"),
          "user_id", "ts", period = "day")
        .orderBy("cohort", "period_offset")
    },

    // Rolling active users: per day, DAU + trailing-7-day distinct
    // users. One aggregate to distinct (day, user) pairs (bounded by
    // calendar × users), then a bounded day-range join for the
    // windowed distinct — no COUNT DISTINCT window buffer.
    q(
      "q163_rolling_dau",
      """WITH p AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
        |  FROM events),
        |d AS (SELECT day, COUNT(*) AS dau FROM p GROUP BY 1),
        |t AS (SELECT d.day AS anchor, COUNT(DISTINCT p.user_id)
        |    AS trailing
        |  FROM d JOIN p ON p.day <= d.day AND p.day > d.day - 7
        |  GROUP BY 1)
        |SELECT d.day, d.dau, t.trailing
        |FROM d JOIN t ON d.day = t.anchor ORDER BY day"""
    ) { (s, d) =>
      graft.pipeline.Behavior.rollingActiveUsers(
          Tables.events(s, d), "user_id", "ts", windowDays = 7)
        .orderBy("day")
    },

    // Last-touch marketing attribution: each purchase attributed to the
    // user's most recent preceding touch (click/view/signup) within 7
    // days, on the AsOfJoin operator. Touches pre-collapse to one per
    // (user, µs) via max(struct) — lexicographic (event_type,
    // event_id), replayed in the oracle as ROW_NUMBER DESC — so the
    // as-of carry is unambiguous at timestamp ties. Revenue in the
    // exact-decimal sum form.
    q(
      "q179_attribution",
      """WITH e AS (SELECT event_id, epoch_us(ts) AS t, user_id,
        |    event_type, value FROM events),
        |p AS (SELECT * FROM e WHERE event_type = 'purchase'),
        |tch AS (SELECT user_id, t, event_type AS touch_type FROM (
        |    SELECT user_id, t, event_type, ROW_NUMBER() OVER (
        |      PARTITION BY user_id, t
        |      ORDER BY event_type DESC, event_id DESC) AS rn
        |    FROM e WHERE event_type IN ('click', 'view', 'signup'))
        |  WHERE rn = 1),
        |a AS (SELECT p.event_id, p.value, p.t, tch.t AS touch_ts,
        |    tch.touch_type, ROW_NUMBER() OVER (
        |      PARTITION BY p.event_id ORDER BY tch.t DESC) AS rn
        |  FROM p JOIN tch ON p.user_id = tch.user_id AND tch.t <= p.t)
        |SELECT touch_type, COUNT(*) AS n_conversions,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM a WHERE rn = 1 AND t - touch_ts <= 604800000000
        |GROUP BY 1 ORDER BY touch_type"""
    ) { (s, d) =>
      val e = Tables.events(s, d).select(col("event_id"),
        unix_micros(col("ts")).as("t"), col("user_id"),
        col("event_type"), col("value"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("t"), col("event_id"), col("value"))
      val touches = e
        .filter(col("event_type").isin("click", "view", "signup"))
        .groupBy(col("user_id"), col("t"))
        .agg(max(struct(col("event_type"), col("event_id"))).as("m"))
        .select(col("user_id"), col("t"),
          col("m.event_type").as("touch_type"))
      graft.operators.AsOfJoin.asOf(
          purchases, touches, "user_id", "t", Seq("touch_type"))
        .filter(col("t") - col("right_ts") <= 604800000000L)
        .groupBy(col("touch_type"))
        .agg(count(lit(1)).as("n_conversions"),
          dsum(col("value")).as("revenue"))
        .orderBy("touch_type")
    },

    // Peak interval concurrency over the q170 availability islands —
    // the sweep line as a DISTRIBUTED prefix sum (per-day buckets
    // compute internal running sums in parallel; the cross-bucket
    // carry is a prefix over bucket TOTALS, a table bounded by the
    // timespan, not the data). carry + in-bucket ≡ the oracle's one
    // global window exactly, by associativity.
    q(
      "q190_max_concurrency",
      s"""WITH $sensorIslandCtes,
         |iv AS (SELECT MIN(t) AS start_us, MAX(t) AS end_us
         |  FROM i GROUP BY sensor_id, island),
         |d AS (SELECT start_us AS t, 1 AS delta FROM iv
         |  UNION ALL SELECT end_us + 1, -1 FROM iv),
         |r AS (SELECT t, SUM(delta) OVER (
         |    ORDER BY t, delta ROWS UNBOUNDED PRECEDING) AS c FROM d),
         |m AS (SELECT MAX(c) AS mc FROM r)
         |SELECT CAST(m.mc AS BIGINT) AS max_concurrent,
         |  MIN(r.t) AS at_us
         |FROM r, m WHERE r.c = m.mc GROUP BY m.mc"""
    ) { (s, d) =>
      graft.operators.SensorOps.maxConcurrency(
        graft.operators.SensorOps.availabilityIntervals(
          EventsAdapter.samples(s, d), thresholdUs = 172800000000L),
        bucketUs = 86400000000L)
    },

    // Audience-overlap Jaccard between event-type user sets: distinct
    // (type, user) pairs self-join on the user — pair rows bounded by
    // Σ_u k_u², never |A|·|B|; broadcast marginals; integer counts.
    q(
      "q213_audience_overlap",
      """WITH tu AS (SELECT DISTINCT event_type AS ty, user_id AS u
        |  FROM events),
        |sz AS (SELECT ty, COUNT(*) AS n FROM tu GROUP BY 1),
        |p AS (SELECT a.ty AS type_a, b.ty AS type_b, COUNT(*) AS n_both
        |  FROM tu a JOIN tu b ON a.u = b.u AND a.ty < b.ty
        |  GROUP BY 1, 2)
        |SELECT type_a, type_b, sa.n AS n_a, sb.n AS n_b, n_both,
        |  ROUND(CAST(n_both AS DOUBLE)
        |    / CAST(sa.n + sb.n - n_both AS DOUBLE), 6) AS jaccard
        |FROM p JOIN sz sa ON p.type_a = sa.ty
        |JOIN sz sb ON p.type_b = sb.ty
        |ORDER BY type_a, type_b"""
    ) { (s, d) =>
      graft.pipeline.Behavior.audienceOverlap(
          Tables.events(s, d), "event_type", "user_id")
        .orderBy("type_a", "type_b")
    },

    // Per-user behavioural entropy: −p·ln p terms quantized
    // DECIMAL(28,12) before the alphabet-bounded per-user sum.
    q(
      "q214_user_entropy",
      """WITH c AS (SELECT user_id, event_type, COUNT(*) AS c
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT user_id, c,
        |    CAST(SUM(c) OVER (PARTITION BY user_id) AS BIGINT) AS n
        |  FROM c),
        |e AS (SELECT user_id, n,
        |    CAST(-(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
        |      * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
        |      AS DECIMAL(28,12)) AS term
        |  FROM t)
        |SELECT user_id, MAX(n) AS n_events, COUNT(*) AS n_types,
        |  ROUND(CAST(SUM(term) AS DOUBLE), 6) AS entropy
        |FROM e GROUP BY 1 ORDER BY user_id"""
    ) { (s, d) =>
      graft.pipeline.Behavior.userEntropy(
          Tables.events(s, d), "user_id", "event_type")
        .orderBy("user_id")
    },

    // Inter-arrival CV per sensor: exact µs gaps (tie-order-invariant
    // multiset), DECIMAL sums, one fixed IEEE chain.
    q(
      "q216_interarrival",
      """WITH s AS (SELECT event_type || ' ' || user_id AS sensor_id,
        |    epoch_us(ts) AS t FROM events),
        |g AS (SELECT sensor_id, t - LAG(t) OVER (
        |    PARTITION BY sensor_id ORDER BY t) AS g FROM s),
        |a AS (SELECT sensor_id, COUNT(*) AS n_gaps,
        |    CAST(SUM(g) AS DOUBLE) AS sg,
        |    CAST(SUM(CAST(g AS HUGEINT) * g) AS DOUBLE) AS sgg
        |  FROM g WHERE g IS NOT NULL GROUP BY 1)
        |SELECT sensor_id, n_gaps,
        |  sg / CAST(n_gaps AS DOUBLE) AS mean_gap_us,
        |  ROUND(sqrt((CAST(n_gaps AS DOUBLE) * sgg - sg * sg)
        |      / (CAST(n_gaps AS DOUBLE)
        |         * (CAST(n_gaps AS DOUBLE) - 1.0)))
        |    / (sg / CAST(n_gaps AS DOUBLE)), 6) AS cv
        |FROM a ORDER BY sensor_id"""
    ) { (s, d) =>
      graft.pipeline.Profiler.interArrival(
          EventsAdapter.samples(s, d), "sensor_id", "timestamp_us")
        .orderBy("sensor_id")
    },

    // CUPED variance-reduced cohort means: pre/post split at the time
    // midpoint, arm = user parity, θ = cov/var from one pooled
    // DECIMAL-exact aggregate; adjustment applied at the mean level
    // (linear), never a second per-user pass.
    q(
      "q217_cuped",
      """WITH sp AS (SELECT MIN(epoch_us(ts)) AS lo,
        |    MAX(epoch_us(ts)) AS hi FROM events),
        |pu AS (SELECT user_id AS u,
        |    CAST(SUM(CASE WHEN epoch_us(ts) < lo + (hi - lo) // 2
        |      THEN CAST(floor(value * 1000000.0) AS BIGINT)
        |      ELSE 0 END) AS BIGINT) AS x,
        |    CAST(SUM(CASE WHEN epoch_us(ts) >= lo + (hi - lo) // 2
        |      THEN CAST(floor(value * 1000000.0) AS BIGINT)
        |      ELSE 0 END) AS BIGINT) AS y
        |  FROM events CROSS JOIN sp GROUP BY 1),
        |g AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(x) AS DOUBLE) AS sx,
        |    CAST(SUM(y) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syy,
        |    CAST(SUM(CAST(x AS HUGEINT) * y) AS DOUBLE) AS sxy
        |  FROM pu),
        |a AS (SELECT u % 2 AS arm, COUNT(*) AS n_users,
        |    CAST(SUM(x) AS DOUBLE) AS sxa,
        |    CAST(SUM(y) AS DOUBLE) AS sya
        |  FROM pu GROUP BY 1),
        |t AS (SELECT a.arm, a.n_users, a.sxa, a.sya, g.n, g.sx,
        |    (n * sxy - sx * sy) / (n * sxx - sx * sx) AS theta,
        |    ((n * sxy - sx * sy) * (n * sxy - sx * sy))
        |      / ((n * sxx - sx * sx) * (n * syy - sy * sy)) AS r2
        |  FROM a CROSS JOIN g)
        |SELECT arm, n_users,
        |  ROUND(sya / CAST(n_users AS DOUBLE) / 1000000.0, 6)
        |    AS mean_y,
        |  ROUND((sya / CAST(n_users AS DOUBLE)
        |    - theta * (sxa / CAST(n_users AS DOUBLE) - sx / n))
        |    / 1000000.0, 6) AS mean_y_adj,
        |  ROUND(theta, 6) AS theta, ROUND(r2, 6) AS r2
        |FROM t ORDER BY arm"""
    ) { (s, d) =>
      graft.pipeline.Profiler.cuped(
          Tables.events(s, d).withColumn("t", unix_micros(col("ts"))),
          "user_id", "t", "value")
        .orderBy("arm")
    },

    // Decile lift table: click-count score ranks users, purchase is
    // the positive label. Distinct-score bucketed prefixes carry
    // counts AND positives; tie blocks apportion proportionally (the
    // order-free gains convention).
    q(
      "q220_lift_table",
      """WITH u AS (SELECT user_id,
        |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS score,
        |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS pos
        |  FROM events GROUP BY 1),
        |vc AS (SELECT -score AS v, COUNT(*) AS m,
        |    CAST(SUM(pos) AS BIGINT) AS p FROM u GROUP BY 1),
        |r AS (SELECT v, m, p,
        |    CAST(COALESCE(SUM(m) OVER wb, 0) AS BIGINT) AS cb,
        |    CAST(COALESCE(SUM(p) OVER wb, 0) AS BIGINT) AS pb
        |  FROM vc WINDOW wb AS (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |tot AS (SELECT CAST(SUM(m) AS BIGINT) AS n,
        |    CAST(SUM(p) AS BIGINT) AS np FROM vc),
        |dec AS (SELECT UNNEST(range(1, 11)) AS decile),
        |c AS (SELECT dec.decile, r.v, r.m, r.p, r.cb, r.pb, tot.n,
        |    tot.np, (dec.decile * tot.n) // 10 AS rr
        |  FROM r CROSS JOIN tot CROSS JOIN dec)
        |SELECT CAST(decile AS INTEGER) AS decile, rr AS cutoff_rank,
        |  ROUND(CAST(pb AS DOUBLE) + CAST(rr - cb AS DOUBLE)
        |    * (CAST(p AS DOUBLE) / CAST(m AS DOUBLE)), 6)
        |    AS captured_pos,
        |  ROUND((CAST(pb AS DOUBLE) + CAST(rr - cb AS DOUBLE)
        |    * (CAST(p AS DOUBLE) / CAST(m AS DOUBLE)))
        |    / CAST(np AS DOUBLE), 6) AS capture_rate,
        |  ROUND((CAST(pb AS DOUBLE) + CAST(rr - cb AS DOUBLE)
        |    * (CAST(p AS DOUBLE) / CAST(m AS DOUBLE)))
        |    * CAST(n AS DOUBLE)
        |    / (CAST(np AS DOUBLE) * CAST(rr AS DOUBLE)), 6) AS lift
        |FROM c WHERE rr >= 1 AND cb < rr AND rr <= cb + m
        |ORDER BY decile"""
    ) { (s, d) =>
      val users = Tables.events(s, d).groupBy(col("user_id"))
        .agg(sum((col("event_type") === "click").cast("long"))
          .as("score"),
          max((col("event_type") === "purchase").cast("int")).as("pos"))
      graft.pipeline.Profiler.liftTable(users, "score", "pos")
        .orderBy("decile")
    },

    // Funnel conversion-delay quantiles (q144's chain, delay edition):
    // exact percentile on the oracle surface, approx_percentile with
    // bounded state as the production default (q115/q193 split).
    // Delays in seconds — never ROUND µs-magnitude doubles.
    q(
      "q221_funnel_delays",
      s"""WITH $funnelStageCtes,
         |d1 AS (SELECT (epoch_us(s1.t) - epoch_us(s0.t)) / 1000000.0
         |    AS ds FROM s1 JOIN s0 USING (user_id)),
         |d2 AS (SELECT (epoch_us(s2.t) - epoch_us(s1.t)) / 1000000.0
         |    AS ds FROM s2 JOIN s1 USING (user_id))
         |SELECT 1::BIGINT AS stage_idx, 'view' AS from_stage,
         |  'click' AS to_stage, COUNT(*) AS n_users,
         |  ROUND(quantile_cont(ds, 0.5), 6) AS p50_s,
         |  ROUND(quantile_cont(ds, 0.9), 6) AS p90_s
         |FROM d1
         |UNION ALL SELECT 2::BIGINT, 'click', 'purchase', COUNT(*),
         |  ROUND(quantile_cont(ds, 0.5), 6),
         |  ROUND(quantile_cont(ds, 0.9), 6)
         |FROM d2
         |ORDER BY stage_idx"""
    ) { (s, d) =>
      graft.pipeline.Behavior.funnelDelays(
          Tables.events(s, d)
            .filter(unix_micros(col("ts")) < lit(1704240000000000L)),
          "user_id", "event_type", "ts",
          Seq("view", "click", "purchase"), exact = true)
        .orderBy("stage_idx")
    },

    // Top 3-step event paths: one keyed window shared by both lags,
    // path-count aggregate, TakeOrderedAndProject top-k.
    q(
      "q226_top_paths",
      """WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_id,
        |    event_type FROM events),
        |p AS (SELECT LAG(event_type, 2) OVER w AS a,
        |    LAG(event_type, 1) OVER w AS b, event_type AS c
        |  FROM e WINDOW w AS (PARTITION BY user_id
        |    ORDER BY t, event_id))
        |SELECT a || '>' || b || '>' || c AS path, COUNT(*) AS n
        |FROM p WHERE a IS NOT NULL
        |GROUP BY 1 ORDER BY n DESC, path LIMIT 10"""
    ) { (s, d) =>
      graft.pipeline.Behavior.topPaths(
          Tables.events(s, d).withColumn("t", unix_micros(col("ts"))),
          "user_id", "t", "event_id", "event_type")
    },

    // Source-concentration HHI of token mass: (Σc²)/T² — exact
    // integer arithmetic with two IEEE ops at the top; token totals
    // via size() sums, no explode.
    q(
      "q229_source_hhi",
      """WITH ps AS (SELECT source,
        |    CAST(SUM(len(string_split_regex(trim(lower(text)),
        |      '\s+'))) AS BIGINT) AS t
        |  FROM documents GROUP BY 1),
        |a AS (SELECT COUNT(*) AS n_sources,
        |    CAST(SUM(t) AS BIGINT) AS total,
        |    CAST(SUM(CAST(t AS HUGEINT) * t) AS DOUBLE) AS sq
        |  FROM ps)
        |SELECT n_sources, total AS total_tokens,
        |  ROUND(sq / (CAST(total AS DOUBLE) * CAST(total AS DOUBLE)),
        |    6) AS hhi,
        |  ROUND((CAST(total AS DOUBLE) * CAST(total AS DOUBLE)) / sq,
        |    6) AS effective_sources
        |FROM a"""
    ) { (s, d) =>
      TextAnalysis.sourceConcentration(
        Tables.documents(s, d), "text", "source")
    },

    // Longest consecutive-day streak per user: gaps-and-islands on the
    // distinct active-day set, all integer.
    q(
      "q232_streaks",
      """WITH dy AS (SELECT DISTINCT user_id,
        |    epoch_us(ts) // 86400000000 AS day FROM events),
        |i AS (SELECT user_id, day,
        |    day - ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY day) AS isl
        |  FROM dy),
        |g AS (SELECT user_id, isl, COUNT(*) AS len, MIN(day) AS st
        |  FROM i GROUP BY 1, 2),
        |b AS (SELECT user_id, len, st,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY len DESC, st) AS rk,
        |    CAST(SUM(len) OVER (PARTITION BY user_id) AS BIGINT)
        |      AS tot
        |  FROM g)
        |SELECT user_id, tot AS n_active_days,
        |  CAST(len AS BIGINT) AS longest_streak,
        |  st AS streak_start_day
        |FROM b WHERE rk = 1 ORDER BY user_id"""
    ) { (s, d) =>
      graft.pipeline.Behavior.activityStreaks(
          Tables.events(s, d).withColumn("t", unix_micros(col("ts"))),
          "user_id", "t")
        .orderBy("user_id")
    },

    // RFM quintile segmentation: one customer aggregate, one 1-row
    // cutoff broadcast, strictly-greater scoring on identical doubles.
    q(
      "q233_rfm",
      """WITH per AS (SELECT o_custkey,
        |    MAX(epoch_us(o_orderdate) // 86400000000) AS rec_day,
        |    COUNT(*) AS freq,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
        |      AS BIGINT) AS mon
        |  FROM orders GROUP BY 1),
        |c AS (SELECT
        |    quantile_cont(CAST(rec_day AS DOUBLE),
        |      [0.2, 0.4, 0.6, 0.8]) AS rc,
        |    quantile_cont(CAST(freq AS DOUBLE),
        |      [0.2, 0.4, 0.6, 0.8]) AS fc,
        |    quantile_cont(CAST(mon AS DOUBLE),
        |      [0.2, 0.4, 0.6, 0.8]) AS mc
        |  FROM per),
        |sc AS (SELECT mon,
        |    (1 + CAST(CAST(rec_day AS DOUBLE) > rc[1] AS INTEGER)
        |       + CAST(CAST(rec_day AS DOUBLE) > rc[2] AS INTEGER)
        |       + CAST(CAST(rec_day AS DOUBLE) > rc[3] AS INTEGER)
        |       + CAST(CAST(rec_day AS DOUBLE) > rc[4] AS INTEGER))
        |      * 100
        |    + (1 + CAST(CAST(freq AS DOUBLE) > fc[1] AS INTEGER)
        |         + CAST(CAST(freq AS DOUBLE) > fc[2] AS INTEGER)
        |         + CAST(CAST(freq AS DOUBLE) > fc[3] AS INTEGER)
        |         + CAST(CAST(freq AS DOUBLE) > fc[4] AS INTEGER)) * 10
        |    + (1 + CAST(CAST(mon AS DOUBLE) > mc[1] AS INTEGER)
        |         + CAST(CAST(mon AS DOUBLE) > mc[2] AS INTEGER)
        |         + CAST(CAST(mon AS DOUBLE) > mc[3] AS INTEGER)
        |         + CAST(CAST(mon AS DOUBLE) > mc[4] AS INTEGER))
        |      AS segment
        |  FROM per CROSS JOIN c)
        |SELECT segment, COUNT(*) AS n_customers,
        |  ROUND(CAST(SUM(mon) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        |    / 100.0, 6) AS avg_monetary
        |FROM sc GROUP BY 1 ORDER BY segment"""
    ) { (s, d) =>
      graft.pipeline.Behavior.rfmSegments(
          Tables.orders(s, d)
            .withColumn("t", unix_micros(col("o_orderdate"))),
          "o_custkey", "t", "o_totalprice")
        .orderBy("segment")
    },

    // Supplier-concentration HHI per part: exact integer cent weights,
    // top-k by the RAW double (identical both engines), key tie-break.
    q(
      "q234_supplier_hhi",
      """WITH w AS (SELECT l_partkey, l_suppkey,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * 100)
        |      AS BIGINT) AS w
        |  FROM lineitem GROUP BY 1, 2),
        |g AS (SELECT l_partkey, COUNT(*) AS n_subgroups,
        |    CAST(SUM(w) AS BIGINT) AS total_weight,
        |    CAST(SUM(CAST(w AS HUGEINT) * w) AS DOUBLE) AS sq
        |  FROM w GROUP BY 1 HAVING COUNT(*) >= 2),
        |h AS (SELECT l_partkey, n_subgroups, total_weight,
        |    sq / (CAST(total_weight AS DOUBLE)
        |      * CAST(total_weight AS DOUBLE)) AS hr
        |  FROM g)
        |SELECT l_partkey, n_subgroups, total_weight,
        |  ROUND(hr, 6) AS hhi
        |FROM h ORDER BY hr DESC, l_partkey LIMIT 20"""
    ) { (s, d) =>
      graft.pipeline.Profiler.groupedConcentration(
        Tables.lineitem(s, d)
          .withColumn("qc",
            (col("l_quantity").cast("decimal(18,2)") * 100)
              .cast("long")),
        "l_partkey", "l_suppkey", "qc", minSubgroups = 2, k = 20)
    },

    // Ship lead-time quantiles by order priority: integer day deltas
    // over the orderkey join; grouped exact/approx percentile split.
    q(
      "q235_leadtime",
      """WITH j AS (SELECT o.o_orderpriority AS prio,
        |    CAST((epoch_us(l.l_shipdate) - epoch_us(o.o_orderdate))
        |      // 86400000000 AS DOUBLE) AS lead_days
        |  FROM lineitem l JOIN orders o
        |    ON l.l_orderkey = o.o_orderkey)
        |SELECT prio, COUNT(*) AS n,
        |  ROUND(quantile_cont(lead_days, 0.5), 6) AS p50,
        |  ROUND(quantile_cont(lead_days, 0.9), 6) AS p90
        |FROM j GROUP BY 1 ORDER BY prio"""
    ) { (s, d) =>
      val j = Tables.lineitem(s, d)
        .join(Tables.orders(s, d),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderpriority").as("prio"),
          expr("(unix_micros(l_shipdate) - unix_micros(o_orderdate))" +
            " div 86400000000").as("lead_days"))
      graft.pipeline.Profiler.quantileProfileGrouped(
          j, "prio", "lead_days", probs = Seq(0.5, 0.9), exact = true)
        .orderBy("prio")
    },

    // Brand price index: per-(brand, month) unit price relative to the
    // brand's own first month — ratios of ratios of exact cent sums,
    // part dim broadcast.
    q(
      "q236_price_index",
      """WITH j AS (SELECT p.p_brand AS brand,
        |    CAST(date_part('year', l.l_shipdate) * 100
        |      + date_part('month', l.l_shipdate) AS INTEGER) AS yyyymm,
        |    CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100)
        |      AS BIGINT) AS ext,
        |    CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2)) * 100)
        |      AS BIGINT) AS qty
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |  GROUP BY 1, 2),
        |b AS (SELECT brand, MIN(yyyymm) AS m0 FROM j GROUP BY 1),
        |bs AS (SELECT j.brand, j.ext AS ext0, j.qty AS qty0
        |  FROM j JOIN b ON j.brand = b.brand AND j.yyyymm = b.m0)
        |SELECT j.brand AS brand, j.yyyymm,
        |  ROUND((CAST(j.ext AS DOUBLE) / CAST(j.qty AS DOUBLE))
        |    / (CAST(bs.ext0 AS DOUBLE) / CAST(bs.qty0 AS DOUBLE)), 6)
        |    AS price_index
        |FROM j JOIN bs ON j.brand = bs.brand
        |ORDER BY j.brand, yyyymm"""
    ) { (s, d) =>
      val j = Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d)),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand").as("brand"),
          (year(col("l_shipdate")) * 100 + month(col("l_shipdate")))
            .cast("int").as("yyyymm"))
        .agg((sum(col("l_extendedprice").cast("decimal(18,2)") * 100))
          .cast("long").as("ext"),
          (sum(col("l_quantity").cast("decimal(18,2)") * 100))
            .cast("long").as("qty"))
      val base = j.groupBy(col("brand"))
        .agg(min(col("yyyymm")).as("m0"))
        .withColumnRenamed("brand", "b0")
      val bs = j.as("x").join(base,
          col("x.brand") === col("b0") && col("x.yyyymm") === col("m0"))
        .select(col("x.brand").as("bbrand"), col("x.ext").as("ext0"),
          col("x.qty").as("qty0"))
      j.join(broadcast(bs), col("brand") === col("bbrand"))
        .select(col("brand"), col("yyyymm"),
          round((col("ext").cast("double") / col("qty").cast("double"))
            / (col("ext0").cast("double") / col("qty0").cast("double")),
            6).as("price_index"))
        .orderBy("brand", "yyyymm")
    },

    // Brand markdown: realized vs listed value (Σ ext / Σ qty·retail),
    // exact DECIMAL sums, part dim broadcast.
    q(
      "q237_brand_markdown",
      """WITH j AS (SELECT p.p_brand AS brand, COUNT(*) AS n_lines,
        |    CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)))
        |      AS DOUBLE) AS sold,
        |    CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))
        |      * CAST(p.p_retailprice AS DECIMAL(18,2))) AS DOUBLE)
        |      AS listed
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |  GROUP BY 1)
        |SELECT brand, n_lines, sold, listed,
        |  ROUND(sold / listed, 6) AS realized_ratio,
        |  ROUND(1.0::DOUBLE - sold / listed, 6) AS markdown
        |FROM j ORDER BY brand"""
    ) { (s, d) =>
      Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d)),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand").as("brand"))
        .agg(count(lit(1)).as("n_lines"),
          sum(col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double").as("sold"),
          sum(col("l_quantity").cast("decimal(18,2)") *
            col("p_retailprice").cast("decimal(18,2)"))
            .cast("double").as("listed"))
        .select(col("brand"), col("n_lines"), col("sold"),
          col("listed"),
          round(col("sold") / col("listed"), 6).as("realized_ratio"),
          round(lit(1.0) - col("sold") / col("listed"), 6)
            .as("markdown"))
        .orderBy("brand")
    },

    // ABC/Pareto classification of parts by revenue: whole computation
    // on the distinct-revenue table (tie blocks share the
    // strictly-above mass), cross-multiplied integer class cuts.
    q(
      "q238_abc_parts",
      """WITH pr AS (SELECT l_partkey,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * 100)
        |      AS BIGINT) AS r
        |  FROM lineitem GROUP BY 1),
        |vc AS (SELECT r AS v, COUNT(*) AS m FROM pr GROUP BY 1),
        |rk AS (SELECT v, m, v * m AS mass,
        |    CAST(COALESCE(SUM(v * m) OVER (ORDER BY v DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS abv
        |  FROM vc),
        |t AS (SELECT CAST(SUM(v * m) AS BIGINT) AS tt FROM vc),
        |c AS (SELECT CASE
        |      WHEN (abv + v) * 5 <= tt * 4 THEN 'A'
        |      WHEN (abv + v) * 20 <= tt * 19 THEN 'B'
        |      ELSE 'C' END AS abc_class,
        |    m, mass, tt
        |  FROM rk CROSS JOIN t)
        |SELECT abc_class, CAST(SUM(m) AS BIGINT) AS n_entities,
        |  CAST(SUM(mass) AS BIGINT) AS value_total,
        |  ROUND(CAST(SUM(mass) AS DOUBLE) / CAST(MAX(tt) AS DOUBLE),
        |    6) AS share
        |FROM c GROUP BY 1 ORDER BY abc_class"""
    ) { (s, d) =>
      val rev = Tables.lineitem(s, d)
        .groupBy(col("l_partkey"))
        .agg((sum(col("l_extendedprice").cast("decimal(18,2)") * 100))
          .cast("long").as("r"))
      graft.pipeline.Profiler.abcClassification(rev, "r")
        .orderBy("abc_class")
    },

    // Order-gap churn risk: days since last order vs the customer's
    // OWN median inter-order gap; predicate on identical doubles.
    q(
      "q239_churn_risk",
      """WITH dy AS (SELECT DISTINCT o_custkey,
        |    epoch_us(o_orderdate) // 86400000000 AS day FROM orders),
        |g AS (SELECT o_custkey, day,
        |    day - LAG(day) OVER (PARTITION BY o_custkey ORDER BY day)
        |      AS gp
        |  FROM dy),
        |a AS (SELECT o_custkey, COUNT(gp) AS n_gaps,
        |    quantile_cont(CAST(gp AS DOUBLE), 0.5) AS med,
        |    MAX(day) AS last FROM g GROUP BY 1),
        |h AS (SELECT MAX(day) AS horizon FROM dy)
        |SELECT o_custkey, n_gaps, ROUND(med, 6) AS median_gap_days,
        |  CAST(horizon - last AS BIGINT) AS days_since_last,
        |  ROUND(CAST(horizon - last AS DOUBLE) / med, 6) AS risk_ratio
        |FROM a CROSS JOIN h
        |WHERE med IS NOT NULL AND med > 0
        |  AND CAST(horizon - last AS DOUBLE) / med > 2.0
        |ORDER BY o_custkey"""
    ) { (s, d) =>
      graft.pipeline.Behavior.orderGapRisk(
          Tables.orders(s, d)
            .withColumn("t", unix_micros(col("o_orderdate"))),
          "o_custkey", "t")
        .orderBy("o_custkey")
    },

    // Cohort LTV curve: exact cent revenue per (first-order-month
    // cohort, month offset), running total over the months-bounded
    // grid, one division by cohort size.
    q(
      "q240_ltv_curve",
      s"""WITH $orderMonthCtes,
         |sz AS (SELECT c0 AS cohort_month, COUNT(*) AS n_customers
         |  FROM ch GROUP BY 1),
         |cl AS (SELECT ch.c0 AS cohort_month, b.mi - ch.c0
         |      AS month_offset,
         |    CAST(SUM(b.cents) AS BIGINT) AS revenue_cents
         |  FROM b JOIN ch ON b.cust = ch.cust GROUP BY 1, 2),
         |r AS (SELECT cl.cohort_month, cl.month_offset,
         |    sz.n_customers, cl.revenue_cents,
         |    CAST(SUM(cl.revenue_cents) OVER (
         |      PARTITION BY cl.cohort_month ORDER BY cl.month_offset
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS cum_cents
         |  FROM cl JOIN sz ON cl.cohort_month = sz.cohort_month)
         |SELECT cohort_month, month_offset, n_customers, revenue_cents,
         |  cum_cents,
         |  ROUND(CAST(cum_cents AS DOUBLE)
         |    / CAST(n_customers AS DOUBLE) / 100.0, 6) AS avg_ltv
         |FROM r ORDER BY cohort_month, month_offset"""
    ) { (s, d) =>
      graft.pipeline.Behavior.ltvCurve(
          Tables.orders(s, d), "o_custkey", "o_orderdate",
          "o_totalprice")
        .orderBy("cohort_month", "month_offset")
    },

    // New-vs-returning monthly revenue split: "new" = the customer's
    // first-order month; conditional exact cent sums.
    q(
      "q241_new_vs_returning",
      s"""WITH $orderMonthCtes
         |SELECT b.mi AS month_idx, COUNT(*) AS n_orders,
         |  CAST(SUM(CASE WHEN b.mi = ch.c0 THEN b.cents ELSE 0 END)
         |    AS BIGINT) AS rev_new_cents,
         |  CAST(SUM(CASE WHEN b.mi <> ch.c0 THEN b.cents ELSE 0 END)
         |    AS BIGINT) AS rev_returning_cents,
         |  ROUND(CAST(SUM(CASE WHEN b.mi = ch.c0 THEN b.cents ELSE 0
         |      END) AS DOUBLE)
         |    / CAST(SUM(CASE WHEN b.mi = ch.c0 THEN b.cents ELSE 0 END)
         |       + SUM(CASE WHEN b.mi <> ch.c0 THEN b.cents ELSE 0 END)
         |      AS DOUBLE), 6) AS new_share
         |FROM b JOIN ch ON b.cust = ch.cust
         |GROUP BY 1 ORDER BY month_idx"""
    ) { (s, d) =>
      graft.pipeline.Behavior.newVsReturning(
          Tables.orders(s, d), "o_custkey", "o_orderdate",
          "o_totalprice")
        .orderBy("month_idx")
    },

    // Week-over-week top movers: per-(type, day) counts, shifted
    // self-join at −7 days, top 10 by |relative change| on the raw
    // double with (type, day) tie-break.
    q(
      "q245_top_movers",
      """WITH c AS (SELECT event_type,
        |    epoch_us(ts) // 86400000000 AS day, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |j AS (SELECT a.event_type, a.day, a.n, b.n AS n_prev,
        |    CAST(a.n AS DOUBLE) / CAST(b.n AS DOUBLE) - 1.0::DOUBLE
        |      AS chg
        |  FROM c a JOIN c b
        |    ON a.event_type = b.event_type AND a.day = b.day + 7)
        |SELECT event_type, day, n, n_prev, ROUND(chg, 6) AS change
        |FROM j ORDER BY abs(chg) DESC, event_type, day LIMIT 10"""
    ) { (s, d) =>
      val c = Tables.events(s, d)
        .groupBy(col("event_type"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .agg(count(lit(1)).as("n"))
      val prev = c.select(col("event_type"),
        (col("day") + 7).as("day"), col("n").as("n_prev"))
      c.join(prev, Seq("event_type", "day"))
        .withColumn("__chg",
          col("n").cast("double") / col("n_prev").cast("double") -
            lit(1.0))
        .orderBy(abs(col("__chg")).desc, col("event_type"), col("day"))
        .limit(10)
        .select(col("event_type"), col("day"), col("n"), col("n_prev"),
          round(col("__chg"), 6).as("change"))
    },

    // Order-size histogram: lines-per-order distribution, exact
    // integers + one division.
    q(
      "q254_order_size_hist",
      """WITH lc AS (SELECT l_orderkey, COUNT(*) AS n_lines
        |  FROM lineitem GROUP BY 1),
        |h AS (SELECT n_lines, COUNT(*) AS n_orders FROM lc
        |  GROUP BY 1),
        |t AS (SELECT CAST(SUM(n_orders) AS BIGINT) AS tot FROM h)
        |SELECT n_lines, n_orders,
        |  ROUND(CAST(n_orders AS DOUBLE) / CAST(tot AS DOUBLE), 6)
        |    AS share
        |FROM h CROSS JOIN t ORDER BY n_lines"""
    ) { (s, d) =>
      val h = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey")).agg(count(lit(1)).as("n_lines"))
        .groupBy(col("n_lines")).agg(count(lit(1)).as("n_orders"))
      h.crossJoin(broadcast(h.agg(sum(col("n_orders")).as("tot"))))
        .select(col("n_lines"), col("n_orders"),
          round(col("n_orders").cast("double") /
            col("tot").cast("double"), 6).as("share"))
        .orderBy("n_lines")
    },

    // Daily event-type composition (100%-stacked data): explicit
    // 5-type pivot over the literal domain, integer counts + single
    // divisions.
    q(
      "q255_daily_mix",
      """WITH d AS (SELECT epoch_us(ts) // 86400000000 AS day,
        |    event_type FROM events),
        |m AS (SELECT day, COUNT(*) AS n,
        |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0
        |      END) AS BIGINT) AS c_click,
        |    CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0
        |      END) AS BIGINT) AS c_error,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
        |      END) AS BIGINT) AS c_purchase,
        |    CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0
        |      END) AS BIGINT) AS c_signup,
        |    CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0
        |      END) AS BIGINT) AS c_view
        |  FROM d GROUP BY 1)
        |SELECT day, n,
        |  ROUND(CAST(c_click AS DOUBLE) / CAST(n AS DOUBLE), 6)
        |    AS share_click,
        |  ROUND(CAST(c_error AS DOUBLE) / CAST(n AS DOUBLE), 6)
        |    AS share_error,
        |  ROUND(CAST(c_purchase AS DOUBLE) / CAST(n AS DOUBLE), 6)
        |    AS share_purchase,
        |  ROUND(CAST(c_signup AS DOUBLE) / CAST(n AS DOUBLE), 6)
        |    AS share_signup,
        |  ROUND(CAST(c_view AS DOUBLE) / CAST(n AS DOUBLE), 6)
        |    AS share_view
        |FROM m ORDER BY day"""
    ) { (s, d) =>
      val types = Seq("click", "error", "purchase", "signup", "view")
      val aggs = count(lit(1)).as("n") +: types.map(t =>
        sum((col("event_type") === t).cast("long")).as(s"c_$t"))
      Tables.events(s, d)
        .groupBy(expr("unix_micros(ts) div 86400000000").as("day"))
        .agg(aggs.head, aggs.tail: _*)
        .select(col("day") +: col("n") +: types.map(t =>
          round(col(s"c_$t").cast("double") / col("n").cast("double"),
            6).as(s"share_$t")): _*)
        .orderBy("day")
    },

    // Brand co-purchase affinity: coOccurrence reuse over
    // (order, brand) baskets — support and lift per brand pair.
    q(
      "q256_brand_affinity",
      s"""WITH b AS (
         |  SELECT DISTINCT l.l_orderkey AS u, p.p_brand AS item
         |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
         |$coOccurrenceSql"""
    ) { (s, d) =>
      graft.pipeline.Behavior.coOccurrence(
          Tables.lineitem(s, d)
            .join(broadcast(Tables.part(s, d)),
              col("l_partkey") === col("p_partkey"))
            .select(col("l_orderkey"), col("p_brand")),
          "l_orderkey", "p_brand", minCount = 2L)
        .orderBy("item_a", "item_b")
    },

    // Conversion by session depth: q105's session windows bucketed by
    // the power-of-two event-count chain; integer counts + division.
    q(
      "q257_session_conversion",
      """WITH m AS (
        |  SELECT user_id, ts, event_type,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |      OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) >= 1800000000
        |      THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (
        |  SELECT user_id, ts, event_type,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m),
        |g AS (SELECT user_id, sid, COUNT(*) AS n,
        |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS conv
        |  FROM s GROUP BY 1, 2),
        |h AS (SELECT CAST(CASE WHEN n >= 16 THEN 16
        |      WHEN n >= 8 THEN 8 WHEN n >= 4 THEN 4
        |      WHEN n >= 2 THEN 2 ELSE 1 END AS BIGINT)
        |      AS depth_bucket,
        |    conv FROM g)
        |SELECT depth_bucket, COUNT(*) AS n_sessions,
        |  CAST(SUM(conv) AS BIGINT) AS n_converted,
        |  ROUND(CAST(SUM(conv) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE),
        |    6) AS conversion
        |FROM h GROUP BY 1 ORDER BY depth_bucket"""
    ) { (s, d) =>
      val sessions = Tables.events(s, d)
        .groupBy(col("user_id"),
          session_window(col("ts"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n"),
          max((col("event_type") === "purchase").cast("int"))
            .as("conv"))
      sessions
        .withColumn("depth_bucket",
          expr(TextAnalysis.pow2BucketSql("n", maxExp = 4)))
        .groupBy(col("depth_bucket"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(col("conv")).as("n_converted"))
        .select(col("depth_bucket"), col("n_sessions"),
          col("n_converted"),
          round(col("n_converted").cast("double") /
            col("n_sessions").cast("double"), 6).as("conversion"))
        .orderBy("depth_bucket")
    },

    // Per-source character-class mix: four regexp class counts (never
    // a length-derived remainder — engine length semantics stay out of
    // it); exact integer sums, single-division shares.
    q(
      "q258_source_charmix",
      """WITH c AS (SELECT source,
        |    CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS BIGINT)
        |      AS a,
        |    CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT)
        |      AS dg,
        |    CAST(len(regexp_extract_all(text, '\s')) AS BIGINT) AS sp,
        |    CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]'))
        |      AS BIGINT) AS ot
        |  FROM documents),
        |g AS (SELECT source, CAST(SUM(a) AS BIGINT) AS a,
        |    CAST(SUM(dg) AS BIGINT) AS dg,
        |    CAST(SUM(sp) AS BIGINT) AS sp,
        |    CAST(SUM(ot) AS BIGINT) AS ot
        |  FROM c GROUP BY 1),
        |t AS (SELECT source, a, dg, sp, ot, a + dg + sp + ot AS n
        |  FROM g)
        |SELECT source, n AS n_chars,
        |  ROUND(CAST(a AS DOUBLE) / CAST(n AS DOUBLE), 6)
        |    AS alpha_share,
        |  ROUND(CAST(dg AS DOUBLE) / CAST(n AS DOUBLE), 6)
        |    AS digit_share,
        |  ROUND(CAST(sp AS DOUBLE) / CAST(n AS DOUBLE), 6)
        |    AS space_share,
        |  ROUND(CAST(ot AS DOUBLE) / CAST(n AS DOUBLE), 6)
        |    AS other_share
        |FROM t ORDER BY source"""
    ) { (s, d) =>
      val c = Tables.spread(s, Tables.documents(s, d))
        .select(col("source"),
          regexp_count(col("text"), lit("[A-Za-z]")).cast("long")
            .as("a"),
          regexp_count(col("text"), lit("[0-9]")).cast("long").as("dg"),
          regexp_count(col("text"), lit("\\s")).cast("long").as("sp"),
          regexp_count(col("text"), lit("[^A-Za-z0-9\\s]")).cast("long")
            .as("ot"))
      c.groupBy(col("source"))
        .agg(sum(col("a")).as("a"), sum(col("dg")).as("dg"),
          sum(col("sp")).as("sp"), sum(col("ot")).as("ot"))
        .withColumn("n_chars",
          col("a") + col("dg") + col("sp") + col("ot"))
        .select(col("source"), col("n_chars"),
          round(col("a").cast("double") / col("n_chars").cast("double"),
            6).as("alpha_share"),
          round(col("dg").cast("double") /
            col("n_chars").cast("double"), 6).as("digit_share"),
          round(col("sp").cast("double") /
            col("n_chars").cast("double"), 6).as("space_share"),
          round(col("ot").cast("double") /
            col("n_chars").cast("double"), 6).as("other_share"))
        .orderBy("source")
    },

    // Hourly error-rate breaches: hours whose error share exceeds 2×
    // the corpus baseline — the predicate is a pure integer
    // cross-multiplication (q84's ratio discipline), no float cut.
    q(
      "q259_error_breaches",
      """WITH h AS (SELECT epoch_us(ts) // 3600000000 AS hour,
        |    COUNT(*) AS n,
        |    CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS e
        |  FROM events GROUP BY 1),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS tn,
        |    CAST(SUM(e) AS BIGINT) AS te FROM h)
        |SELECT hour, n, e,
        |  ROUND(CAST(e AS DOUBLE) / CAST(n AS DOUBLE), 6)
        |    AS error_rate,
        |  ROUND(CAST(te AS DOUBLE) / CAST(tn AS DOUBLE), 6)
        |    AS baseline_rate
        |FROM h CROSS JOIN t
        |WHERE e * tn > 2 * te * n
        |ORDER BY hour"""
    ) { (s, d) =>
      val h = Tables.events(s, d)
        .groupBy(expr("unix_micros(ts) div 3600000000").as("hour"))
        .agg(count(lit(1)).as("n"),
          sum((col("event_type") === "error").cast("long")).as("e"))
      val t = broadcast(h.agg(sum(col("n")).as("tn"),
        sum(col("e")).as("te")))
      h.crossJoin(t)
        .filter(col("e") * col("tn") > lit(2) * col("te") * col("n"))
        .select(col("hour"), col("n"), col("e"),
          round(col("e").cast("double") / col("n").cast("double"), 6)
            .as("error_rate"),
          round(col("te").cast("double") / col("tn").cast("double"), 6)
            .as("baseline_rate"))
        .orderBy("hour")
    },

    // Re-engaged users: returned after a ≥3-day silence — per-user
    // day gaps, all integer. Gap threshold re-anchored r13 (the
    // q124–q127 precedent): the events table's max per-user day gap is
    // 4 at sf0.01 and 6 at sf0.1, so the original ≥14-day window
    // returned 0 rows at EVERY test SF and the driver's hash gate was
    // vacuously green — ≥3 exercises the same gap kernel with rows at
    // all three SFs (sf0.001/0.01/0.1 → 7/40/427 qualifying gaps).
    q(
      "q260_reengaged",
      """WITH dy AS (SELECT DISTINCT user_id,
        |    epoch_us(ts) // 86400000000 AS day FROM events),
        |g AS (SELECT user_id,
        |    day - LAG(day) OVER (PARTITION BY user_id ORDER BY day)
        |      AS gp
        |  FROM dy),
        |a AS (SELECT user_id,
        |    CAST(SUM(CASE WHEN gp >= 3 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_reengagements,
        |    CAST(MAX(gp) AS BIGINT) AS max_gap_days
        |  FROM g WHERE gp IS NOT NULL GROUP BY 1)
        |SELECT user_id, n_reengagements, max_gap_days
        |FROM a WHERE n_reengagements >= 1 ORDER BY user_id"""
    ) { (s, d) =>
      val dy = Tables.events(s, d)
        .select(col("user_id"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .distinct()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("day"))
      dy.withColumn("gp", col("day") - lag(col("day"), 1).over(w))
        .filter(col("gp").isNotNull)
        .groupBy(col("user_id"))
        .agg(sum((col("gp") >= 3).cast("long"))
          .as("n_reengagements"),
          max(col("gp")).as("max_gap_days"))
        .filter(col("n_reengagements") >= 1)
        .orderBy("user_id")
    },

    // Weighted (multiset) Jaccard between source vocabularies:
    // M/(T_a + T_b − M) with M = Σ shared min — only the inner join
    // on token is needed (the Σmax identity), all integer, one
    // division.
    q(
      "q264_source_similarity",
      """WITH tc AS (SELECT source, token, COUNT(*) AS c FROM (
        |    SELECT source, UNNEST(string_split_regex(
        |      trim(lower(text)), '\s+')) AS token FROM documents)
        |  GROUP BY 1, 2),
        |tt AS (SELECT source, CAST(SUM(c) AS BIGINT) AS t FROM tc
        |  GROUP BY 1),
        |mshared AS (SELECT a.source AS src_a, b.source AS src_b,
        |    CAST(SUM(LEAST(a.c, b.c)) AS BIGINT) AS m
        |  FROM tc a JOIN tc b
        |    ON a.token = b.token AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT src_a, src_b, m, ta.t AS t_a, tb.t AS t_b,
        |  ROUND(CAST(m AS DOUBLE)
        |    / CAST(ta.t + tb.t - m AS DOUBLE), 6) AS wjaccard
        |FROM mshared JOIN tt ta ON mshared.src_a = ta.source
        |JOIN tt tb ON mshared.src_b = tb.source
        |ORDER BY src_a, src_b"""
    ) { (s, d) =>
      val tc = Tables.spread(s, Tables.documents(s, d))
        .select(col("source"), explode(
          TextAnalysis.whitespaceTokens(lower(col("text"))))
          .as("token"))
        .groupBy(col("source"), col("token"))
        .agg(count(lit(1)).as("c"))
      val tt = tc.groupBy(col("source")).agg(sum(col("c")).as("t"))
      val m = tc.as("a").join(tc.as("b"),
          col("a.token") === col("b.token") &&
            col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("src_a"),
          col("b.source").as("src_b"))
        .agg(sum(least(col("a.c"), col("b.c"))).as("m"))
      m.join(broadcast(tt.select(col("source").as("src_a"),
          col("t").as("t_a"))), "src_a")
        .join(broadcast(tt.select(col("source").as("src_b"),
          col("t").as("t_b"))), "src_b")
        .select(col("src_a"), col("src_b"), col("m"), col("t_a"),
          col("t_b"),
          round(col("m").cast("double") /
            (col("t_a") + col("t_b") - col("m")).cast("double"), 6)
            .as("wjaccard"))
        .orderBy("src_a", "src_b")
    },

    // Price-band × discount interaction grid: power-of-two retail-cent
    // bands (shared CASE chain) × integer discount points; mean
    // quantity left as a raw division chain (repeating-decimal ties).
    q(
      "q265_price_discount_grid",
      """WITH j AS (SELECT
        |    CAST(CASE
        |      WHEN pc >= 131072 THEN 131072 WHEN pc >= 65536 THEN 65536
        |      WHEN pc >= 32768 THEN 32768 WHEN pc >= 16384 THEN 16384
        |      WHEN pc >= 8192 THEN 8192 ELSE 1 END AS BIGINT)
        |      AS price_band_lo,
        |    disc_pct, qc FROM (
        |    SELECT CAST(CAST(p.p_retailprice AS DECIMAL(18,2)) * 100
        |        AS BIGINT) AS pc,
        |      CAST(CAST(l.l_discount AS DECIMAL(18,2)) * 100
        |        AS BIGINT) AS disc_pct,
        |      CAST(CAST(l.l_quantity AS DECIMAL(18,2)) * 100
        |        AS BIGINT) AS qc
        |    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey))
        |SELECT price_band_lo, disc_pct, COUNT(*) AS n_lines,
        |  CAST(SUM(qc) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 100.0
        |    AS avg_qty
        |FROM j GROUP BY 1, 2 ORDER BY price_band_lo, disc_pct"""
    ) { (s, d) =>
      val bands = Seq(131072L, 65536L, 32768L, 16384L, 8192L)
      val bandExpr = bands.map(b => s"WHEN pc >= $b THEN ${b}L")
        .mkString("CAST(CASE ", " ", " ELSE 1L END AS BIGINT)")
      Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d)),
          col("l_partkey") === col("p_partkey"))
        .select(
          (col("p_retailprice").cast("decimal(18,2)") * 100)
            .cast("long").as("pc"),
          (col("l_discount").cast("decimal(18,2)") * 100)
            .cast("long").as("disc_pct"),
          (col("l_quantity").cast("decimal(18,2)") * 100)
            .cast("long").as("qc"))
        .withColumn("price_band_lo", expr(bandExpr))
        .groupBy(col("price_band_lo"), col("disc_pct"))
        .agg(count(lit(1)).as("n_lines"),
          (sum(col("qc")).cast("double") /
            count(lit(1)).cast("double") / 100.0).as("avg_qty"))
        .orderBy("price_band_lo", "disc_pct")
    },

    // Supplier lead-time consistency: mean and CV of ship lead days
    // per supplier; raw division chains (repeating-decimal ties).
    q(
      "q266_supplier_leadtime",
      """WITH j AS (SELECT l.l_suppkey,
        |    (epoch_us(l.l_shipdate) - epoch_us(o.o_orderdate))
        |      // 86400000000 AS ld
        |  FROM lineitem l JOIN orders o
        |    ON l.l_orderkey = o.o_orderkey),
        |g AS (SELECT l_suppkey, COUNT(*) AS n,
        |    CAST(SUM(ld) AS DOUBLE) AS s,
        |    CAST(SUM(CAST(ld AS HUGEINT) * ld) AS DOUBLE) AS ss
        |  FROM j GROUP BY 1)
        |SELECT l_suppkey, n, s / CAST(n AS DOUBLE) AS mean_lead_days,
        |  sqrt((CAST(n AS DOUBLE) * ss - s * s)
        |    / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))
        |    / (s / CAST(n AS DOUBLE)) AS cv
        |FROM g ORDER BY l_suppkey"""
    ) { (s, d) =>
      val j = Tables.lineitem(s, d)
        .join(Tables.orders(s, d),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey"),
          expr("(unix_micros(l_shipdate) - unix_micros(o_orderdate))" +
            " div 86400000000").as("ld"))
      j.groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n"),
          sum(col("ld").cast("decimal(38,0)")).cast("double").as("s"),
          sum(col("ld").cast("decimal(19,0)") * col("ld"))
            .cast("double").as("ss"))
        .selectExpr("l_suppkey", "n",
          "s / CAST(n AS DOUBLE) AS mean_lead_days",
          "sqrt((CAST(n AS DOUBLE) * ss - s * s)" +
            " / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))" +
            " / (s / CAST(n AS DOUBLE)) AS cv")
        .orderBy("l_suppkey")
    },

    // Effect size of priority on lead time: η² = SS_between/SS_total
    // from exact integer sums; the 5 between-group terms quantize to
    // DECIMAL(28,6) before summing (order-free).
    q(
      "q267_leadtime_eta",
      """WITH j AS (SELECT o.o_orderpriority AS g,
        |    (epoch_us(l.l_shipdate) - epoch_us(o.o_orderdate))
        |      // 86400000000 AS ld
        |  FROM lineitem l JOIN orders o
        |    ON l.l_orderkey = o.o_orderkey),
        |pg AS (SELECT g, COUNT(*) AS n, CAST(SUM(ld) AS BIGINT) AS s,
        |    CAST(SUM(CAST(ld AS HUGEINT) * ld) AS HUGEINT) AS ssi
        |  FROM j GROUP BY 1),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS nn,
        |    CAST(SUM(s) AS BIGINT) AS st,
        |    CAST(SUM(ssi) AS DOUBLE) AS sst,
        |    CAST(SUM(CAST(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
        |      / CAST(n AS DOUBLE) AS DECIMAL(28,6))) AS DOUBLE) AS bq
        |  FROM pg)
        |SELECT CAST(nn AS BIGINT) AS n, (SELECT COUNT(*) FROM pg)
        |    AS n_groups,
        |  ROUND((bq - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)
        |      / CAST(nn AS DOUBLE))
        |    / (sst - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)
        |      / CAST(nn AS DOUBLE)), 6) AS eta_sq
        |FROM t"""
    ) { (s, d) =>
      val j = Tables.lineitem(s, d)
        .join(Tables.orders(s, d),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderpriority").as("g"),
          expr("(unix_micros(l_shipdate) - unix_micros(o_orderdate))" +
            " div 86400000000").as("ld"))
      val pg = j.groupBy(col("g"))
        .agg(count(lit(1)).as("n"),
          sum(col("ld").cast("decimal(38,0)")).cast("long").as("s"),
          sum(col("ld").cast("decimal(19,0)") * col("ld")).as("ssi"))
      val ng = broadcast(pg.agg(count(lit(1)).as("n_groups")))
      pg.agg(sum(col("n")).as("nn"), sum(col("s")).as("st"),
          sum(col("ssi")).cast("double").as("sst"),
          sum(expr("CAST(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)" +
            " / CAST(n AS DOUBLE) AS DECIMAL(28,6))")).cast("double")
            .as("bq"))
        .crossJoin(ng)
        .selectExpr("CAST(nn AS BIGINT) AS n", "n_groups",
          "round((bq - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)" +
            " / CAST(nn AS DOUBLE))" +
            " / (sst - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)" +
            " / CAST(nn AS DOUBLE)), 6) AS eta_sq")
    },

    // Nation order seasonality: per-nation monthly counts, peak/trough
    // months by min-struct argmax, amplitude (max−min)/(max+min) —
    // all integer until one division.
    q(
      "q270_nation_seasonality",
      """WITH j AS (SELECT n.n_name AS nation,
        |    CAST(date_part('month', o.o_orderdate) AS INTEGER) AS mon
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey),
        |m AS (SELECT nation, mon, COUNT(*) AS n FROM j GROUP BY 1, 2),
        |agg AS (SELECT nation, CAST(SUM(n) AS BIGINT) AS n_orders,
        |    MAX(n) AS mx, MIN(n) AS mn
        |  FROM m GROUP BY 1),
        |pk AS (SELECT nation, mon AS peak_month FROM (
        |    SELECT nation, mon, ROW_NUMBER() OVER (PARTITION BY nation
        |      ORDER BY n DESC, mon) AS rk FROM m) WHERE rk = 1)
        |SELECT agg.nation, agg.n_orders, pk.peak_month,
        |  CAST(agg.mx AS BIGINT) AS peak_n,
        |  ROUND(CAST(agg.mx - agg.mn AS DOUBLE)
        |    / CAST(agg.mx + agg.mn AS DOUBLE), 6) AS amplitude
        |FROM agg JOIN pk ON agg.nation = pk.nation
        |ORDER BY agg.nation"""
    ) { (s, d) =>
      val j = ordersWithNation(s, d)
        .select(col("n_name").as("nation"),
          month(col("o_orderdate")).cast("int").as("mon"))
      val m = j.groupBy(col("nation"), col("mon"))
        .agg(count(lit(1)).as("n"))
      m.groupBy(col("nation"))
        .agg(sum(col("n")).as("n_orders"),
          max(col("n")).as("mx"), min(col("n")).as("mn"),
          min(struct((-col("n")).as("__nn"), col("mon"))).as("__pk"))
        .select(col("nation"), col("n_orders"),
          col("__pk.mon").as("peak_month"),
          col("mx").as("peak_n"),
          round((col("mx") - col("mn")).cast("double") /
            (col("mx") + col("mn")).cast("double"), 6)
            .as("amplitude"))
        .orderBy("nation")
    },

    // Pivot (wide crosstab): nation × order-priority revenue. The
    // value list is EXPLICIT, so Spark skips the extra distinct-values
    // job `pivot(col)` would otherwise run, and the whole crosstab is
    // ONE hash aggregate shuffled on the groupBy key (pivot columns
    // are map-side conditional sums — no per-priority pass). Revenue
    // kept in integer cents end to end.
    q(
      "q277_pivot_revenue",
      """SELECT n.n_name AS nation,
        |  CAST(COALESCE(SUM(CASE WHEN o.o_orderpriority = '1-URGENT'
        |    THEN CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |    END), 0) AS BIGINT) AS urgent_cents,
        |  CAST(COALESCE(SUM(CASE WHEN o.o_orderpriority = '2-HIGH'
        |    THEN CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |    END), 0) AS BIGINT) AS high_cents,
        |  CAST(COALESCE(SUM(CASE WHEN o.o_orderpriority = '3-MEDIUM'
        |    THEN CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |    END), 0) AS BIGINT) AS medium_cents,
        |  CAST(COALESCE(SUM(CASE WHEN o.o_orderpriority = '4-NOT SPECIFIED'
        |    THEN CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |    END), 0) AS BIGINT) AS notspec_cents,
        |  CAST(COALESCE(SUM(CASE WHEN o.o_orderpriority = '5-LOW'
        |    THEN CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |    END), 0) AS BIGINT) AS low_cents
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY 1 ORDER BY nation"""
    ) { (s, d) =>
      val j = ordersWithNation(s, d)
        .select(col("n_name").as("nation"),
          col("o_orderpriority").as("pri"),
          (col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long").as("cents"))
      j.groupBy(col("nation"))
        .pivot("pri", Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
          "4-NOT SPECIFIED", "5-LOW"))
        .agg(sum(col("cents")))
        .select(col("nation"),
          coalesce(col("`1-URGENT`"), lit(0L)).as("urgent_cents"),
          coalesce(col("`2-HIGH`"), lit(0L)).as("high_cents"),
          coalesce(col("`3-MEDIUM`"), lit(0L)).as("medium_cents"),
          coalesce(col("`4-NOT SPECIFIED`"), lit(0L)).as("notspec_cents"),
          coalesce(col("`5-LOW`"), lit(0L)).as("low_cents"))
        .orderBy("nation")
    },

    // TPC-H Q5-shape star join: 6 tables, local-supplier condition
    // (supplier and customer share a nation), one year of orders.
    // Region/nation broadcast (tiny dims); lineitem⋈orders⋈customer⋈
    // supplier shuffle on their keys with AQE free to re-plan — the
    // join-planning breadth headline. Exact integer cents.
    q(
      "q297_star_join",
      """SELECT n.n_name AS nation,
        |  CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2))
        |    * 100 AS BIGINT)) AS BIGINT) AS revenue_cents,
        |  COUNT(*) AS n_lineitems
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  AND c.c_nationkey = s.s_nationkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o.o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1 ORDER BY revenue_cents DESC, nation"""
    ) { (s, d) =>
      val j = Tables.lineitem(s, d)
        .join(Tables.orders(s, d)
            .filter(col("o_orderdate") >= lit("1996-01-01") &&
              col("o_orderdate") < lit("1997-01-01")),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d),
          col("o_custkey") === col("c_custkey"))
        .join(Tables.supplier(s, d),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)),
          col("n_regionkey") === col("r_regionkey"))
      j.select(col("n_name").as("nation"),
          (col("l_extendedprice").cast("decimal(18,2)") * 100)
            .cast("long").as("cents"))
        .groupBy(col("nation"))
        .agg(sum(col("cents")).cast("long").as("revenue_cents"),
          count(lit(1)).as("n_lineitems"))
        .orderBy(col("revenue_cents").desc, col("nation"))
    },

    // UNPIVOT/melt (Dataset.unpivot, the wide→long normalizer): three
    // per-flag cent measures melt to (flag, measure, cents) — a
    // zero-shuffle Expand over the one aggregate row set.
    q(
      "q304_unpivot",
      """WITH w AS (SELECT l_returnflag AS flag,
        |  CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100
        |    AS BIGINT)) AS BIGINT) AS qty_cents,
        |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |    AS BIGINT)) AS BIGINT) AS price_cents,
        |  CAST(SUM(CAST(CAST(l_discount AS DECIMAL(18,2)) * 100
        |    AS BIGINT)) AS BIGINT) AS disc_cents
        |  FROM lineitem GROUP BY 1)
        |SELECT flag, measure, cents FROM (
        |  SELECT flag, 'qty_cents' AS measure, qty_cents AS cents FROM w
        |  UNION ALL
        |  SELECT flag, 'price_cents', price_cents FROM w
        |  UNION ALL
        |  SELECT flag, 'disc_cents', disc_cents FROM w)
        |ORDER BY flag, measure"""
    ) { (s, d) =>
      def cents(c: String) =
        sum((col(c).cast("decimal(18,2)") * 100).cast("long"))
          .cast("long")
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag").as("flag"))
        .agg(cents("l_quantity").as("qty_cents"),
          cents("l_extendedprice").as("price_cents"),
          cents("l_discount").as("disc_cents"))
        .unpivot(Array(col("flag")),
          Array(col("qty_cents"), col("price_cents"), col("disc_cents")),
          "measure", "cents")
        .orderBy("flag", "measure")
    },

    // U-shaped multi-touch attribution: 40/20/40 position-based
    // credit per conversion path (1.0 / 0.5-0.5 on degenerate
    // paths); per-touch credits DECIMAL(18,12)-quantized before the
    // order-free channel sum.
    q(
      "q336_ushape_attribution",
      """WITH e AS (SELECT event_id, epoch_us(ts) AS t, user_id,
        |    event_type FROM events),
        |cv AS (SELECT user_id, MIN(t) AS ct FROM e
        |  WHERE event_type = 'purchase' GROUP BY 1),
        |tch AS (SELECT user_id, t, event_type AS channel FROM (
        |    SELECT user_id, t, event_type, ROW_NUMBER() OVER (
        |      PARTITION BY user_id, t
        |      ORDER BY event_type DESC, event_id DESC) AS rn
        |    FROM e WHERE event_type IN ('click', 'view', 'signup'))
        |  WHERE rn = 1),
        |pre AS (SELECT tch.user_id, tch.t, tch.channel
        |  FROM tch JOIN cv ON cv.user_id = tch.user_id
        |  WHERE tch.t <= cv.ct),
        |rk AS (SELECT user_id, channel,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY t, channel) AS rn,
        |    COUNT(*) OVER (PARTITION BY user_id) AS m
        |  FROM pre),
        |cr AS (SELECT channel,
        |    CAST(CASE WHEN m = 1 THEN 1.0::DOUBLE
        |      WHEN m = 2 THEN 0.5::DOUBLE
        |      WHEN rn = 1 OR rn = m THEN 0.4::DOUBLE
        |      ELSE 0.2::DOUBLE / CAST(m - 2 AS DOUBLE) END
        |      AS DECIMAL(18,12)) AS c
        |  FROM rk)
        |SELECT channel, COUNT(*) AS n_touches,
        |  ROUND(CAST(SUM(c) AS DOUBLE), 6) AS credit
        |FROM cr GROUP BY 1 ORDER BY channel"""
    ) { (s, d) =>
      val e = Tables.events(s, d).select(col("event_id"),
        unix_micros(col("ts")).as("t"), col("user_id"),
        col("event_type"))
      val conv = e.filter(col("event_type") === "purchase")
        .select(col("user_id").as("user"), col("t").as("conv_t_us"))
      val touches = e
        .filter(col("event_type").isin("click", "view", "signup"))
        .groupBy(col("user_id"), col("t"))
        .agg(max(struct(col("event_type"), col("event_id"))).as("m"))
        .select(col("user_id").as("user"), col("t").as("t_us"),
          col("m.event_type").as("channel"))
      graft.pipeline.Behavior.uShapedAttribution(touches, conv)
        .orderBy("channel")
    },

    // Difference-in-differences on user-parity treatment and a
    // midpoint time split: one conditional-sum 2×2 aggregate (pivot
    // discipline), exact milli sums, fixed IEEE shapes, ROUND(6).
    q(
      "q339_diff_in_diff",
      """WITH e AS (SELECT user_id % 2 AS tr, epoch_us(ts) AS t,
        |    CAST(floor(value * 1000.0) AS BIGINT) AS v FROM events),
        |mm AS (SELECT MIN(t) AS mn, MAX(t) AS mx FROM e),
        |x AS (SELECT tr, CASE WHEN t * 2 >= mn + mx THEN 1 ELSE 0
        |      END AS post, v
        |  FROM e CROSS JOIN mm),
        |a AS (SELECT
        |    COUNT(*) FILTER (tr = 1 AND post = 1) AS n11,
        |    CAST(SUM(v) FILTER (tr = 1 AND post = 1) AS BIGINT)
        |      AS s11,
        |    COUNT(*) FILTER (tr = 1 AND post = 0) AS n10,
        |    CAST(SUM(v) FILTER (tr = 1 AND post = 0) AS BIGINT)
        |      AS s10,
        |    COUNT(*) FILTER (tr = 0 AND post = 1) AS n01,
        |    CAST(SUM(v) FILTER (tr = 0 AND post = 1) AS BIGINT)
        |      AS s01,
        |    COUNT(*) FILTER (tr = 0 AND post = 0) AS n00,
        |    CAST(SUM(v) FILTER (tr = 0 AND post = 0) AS BIGINT)
        |      AS s00
        |  FROM x)
        |SELECT n11, n10, n01, n00,
        |  ROUND(CAST(s11 AS DOUBLE) / CAST(n11 AS DOUBLE), 6)
        |    AS mean_treat_post,
        |  ROUND(CAST(s10 AS DOUBLE) / CAST(n10 AS DOUBLE), 6)
        |    AS mean_treat_pre,
        |  ROUND(CAST(s01 AS DOUBLE) / CAST(n01 AS DOUBLE), 6)
        |    AS mean_ctrl_post,
        |  ROUND(CAST(s00 AS DOUBLE) / CAST(n00 AS DOUBLE), 6)
        |    AS mean_ctrl_pre,
        |  ROUND((CAST(s11 AS DOUBLE) / CAST(n11 AS DOUBLE)
        |      - CAST(s10 AS DOUBLE) / CAST(n10 AS DOUBLE))
        |    - (CAST(s01 AS DOUBLE) / CAST(n01 AS DOUBLE)
        |      - CAST(s00 AS DOUBLE) / CAST(n00 AS DOUBLE)), 6)
        |    AS did
        |FROM a"""
    ) { (s, d) =>
      val e = Tables.events(s, d).select(
        (col("user_id") % 2).as("tr"),
        unix_micros(col("ts")).as("t"),
        floor(col("value") * 1000.0).cast("long").as("vq"))
      val mm = broadcast(e.agg(min(col("t")).as("__mn"),
        max(col("t")).as("__mx")))
      val x = e.crossJoin(mm)
        .select(col("tr"),
          when(col("t") * 2 >= col("__mn") + col("__mx"), lit(1))
            .otherwise(lit(0)).as("post"),
          col("vq"))
      graft.pipeline.Profiler.diffInDiff(x, "tr", "post", "vq")
    },

    // Matched-cohort ATT: treated (odd custkey) matched to the
    // nearest even-custkey control on acctbal cents within nation,
    // matching with replacement via the asOfNearest merge; controls
    // pre-collapse per (nation, balance) to the smallest-id rep so
    // the merge never sees tied keys. Outcome = lifetime order value
    // in exact cents.
    q(
      "q343_matched_att",
      """WITH ot AS (SELECT o_custkey,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
        |      AS BIGINT) AS tot
        |  FROM orders GROUP BY 1),
        |base AS (SELECT c_nationkey AS k,
        |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS x,
        |    COALESCE(ot.tot, 0) AS o, c_custkey AS id
        |  FROM customer LEFT JOIN ot ON ot.o_custkey = c_custkey),
        |tr AS (SELECT k, x, o FROM base WHERE id % 2 = 1),
        |ct AS (SELECT k, x, o FROM (SELECT k, x, o,
        |    ROW_NUMBER() OVER (PARTITION BY k, x ORDER BY id) AS rn
        |  FROM base WHERE id % 2 = 0) WHERE rn = 1),
        |u AS (SELECT k, x, 1 AS side, o AS t_o, NULL::BIGINT AS c_o
        |  FROM tr
        |  UNION ALL SELECT k, x, 0, NULL, o FROM ct),
        |w AS (SELECT k, x, side, t_o,
        |    last_value(CASE WHEN side = 0 THEN x END IGNORE NULLS)
        |      OVER wb AS pts,
        |    last_value(CASE WHEN side = 0 THEN c_o END IGNORE NULLS)
        |      OVER wb AS pv,
        |    first_value(CASE WHEN side = 0 THEN x END IGNORE NULLS)
        |      OVER wf AS nts,
        |    first_value(CASE WHEN side = 0 THEN c_o END IGNORE NULLS)
        |      OVER wf AS nv
        |  FROM u WINDOW
        |    wb AS (PARTITION BY k ORDER BY x, side
        |      ROWS UNBOUNDED PRECEDING),
        |    wf AS (PARTITION BY k ORDER BY x, side
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
        |ch AS (SELECT k, x, t_o,
        |    CASE WHEN pts IS NOT NULL
        |      AND (nts IS NULL OR x - pts <= nts - x)
        |      THEN pts ELSE nts END AS rts,
        |    CASE WHEN pts IS NOT NULL
        |      AND (nts IS NULL OR x - pts <= nts - x)
        |      THEN pv ELSE nv END AS c_o
        |  FROM w WHERE side = 1),
        |mt AS (SELECT * FROM ch WHERE rts IS NOT NULL
        |  AND ABS(x - rts) <= 100000),
        |ntr AS (SELECT COUNT(*) AS n_treated FROM tr)
        |SELECT CAST(ntr.n_treated AS BIGINT) AS n_treated,
        |  COUNT(*) AS n_matched,
        |  ROUND(CAST(SUM(t_o - c_o) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE), 6) AS att,
        |  ROUND(CAST(SUM(ABS(x - rts)) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE), 6) AS mean_x_dist
        |FROM mt CROSS JOIN ntr GROUP BY ntr.n_treated"""
    ) { (s, d) =>
      val base = customerSpend(s, d)
        .select(col("c_nationkey").as("key"),
          (col("c_acctbal").cast("decimal(18,2)") * 100)
            .cast("long").as("x"),
          coalesce(col("tot"), lit(0L)).as("outcome"),
          col("c_custkey").as("id"))
      val treated = base.filter(col("id") % 2 === 1)
        .select(col("key"), col("x"), col("outcome"))
      val controls = base.filter(col("id") % 2 === 0)
      graft.pipeline.Behavior.matchedAtt(treated, controls,
        tolerance = 100000L)
    },

    // Top-5 brands by exact integer revenue micros + OTHER rollup —
    // the reporting collapse with a deterministic (revenue, brand)
    // cut.
    q(
      "q361_topn_other",
      """WITH x AS (SELECT p.p_brand AS k,
        |    CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT)
        |      * (100 - CAST(CAST(l.l_discount AS DECIMAL(4,2)) * 100
        |        AS BIGINT)) AS rev
        |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
        |per AS (SELECT k, CAST(SUM(rev) AS BIGINT) AS s,
        |    COUNT(*) AS n FROM x GROUP BY 1),
        |win AS (SELECT k FROM per ORDER BY s DESC, k LIMIT 5)
        |SELECT CASE WHEN win.k IS NOT NULL THEN per.k
        |    ELSE 'OTHER' END AS brand,
        |  CAST(SUM(per.s) AS BIGINT) AS total,
        |  CAST(SUM(per.n) AS BIGINT) AS n_rows,
        |  COUNT(*) AS n_keys
        |FROM per LEFT JOIN win ON win.k = per.k
        |GROUP BY 1 ORDER BY brand"""
    ) { (s, d) =>
      val x = Tables.lineitem(s, d)
        .join(Tables.part(s, d),
          col("p_partkey") === col("l_partkey"))
        .select(col("p_brand").as("k"),
          ((col("l_extendedprice").cast("decimal(18,2)") * 100)
            .cast("long") *
            (lit(100L) - (col("l_discount").cast("decimal(4,2)") *
              100).cast("long"))).as("rev"))
      graft.pipeline.Profiler.topNOtherRollup(x, "k", "rev")
        .withColumnRenamed("k", "brand")
        .orderBy("brand")
    },

    // Mix/rate decomposition of the parity-cohort value gap across
    // event-type segments (Oaxaca-style bridge): per-segment terms
    // quantized DECIMAL(28,12); mix + rate = delta bit-exactly.
    q(
      "q362_mix_rate_decomp",
      """WITH x AS (SELECT user_id % 2 AS coh, event_type AS seg,
        |    CAST(floor(value * 1000.0) AS BIGINT) AS v FROM events),
        |cell AS (SELECT seg,
        |    COUNT(CASE WHEN coh = 1 THEN 1 END) AS na,
        |    CAST(COALESCE(SUM(CASE WHEN coh = 1 THEN v END), 0)
        |      AS BIGINT) AS sa,
        |    COUNT(CASE WHEN coh <> 1 THEN 1 END) AS nb,
        |    CAST(COALESCE(SUM(CASE WHEN coh <> 1 THEN v END), 0)
        |      AS BIGINT) AS sb
        |  FROM x GROUP BY 1),
        |tot AS (SELECT CAST(SUM(na) AS BIGINT) AS ta,
        |    CAST(SUM(nb) AS BIGINT) AS tb FROM cell),
        |t AS (SELECT
        |    CAST((CAST(na AS DOUBLE) / CAST(ta AS DOUBLE)
        |        - CAST(nb AS DOUBLE) / CAST(tb AS DOUBLE))
        |      * (CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE))
        |      AS DECIMAL(28,12)) AS mx,
        |    CAST(CAST(na AS DOUBLE) / CAST(ta AS DOUBLE)
        |      * (CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)
        |        - CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE))
        |      AS DECIMAL(28,12)) AS rt,
        |    CAST(CAST(na AS DOUBLE) / CAST(ta AS DOUBLE)
        |      * (CAST(sa AS DOUBLE) / CAST(na AS DOUBLE))
        |      AS DECIMAL(28,12)) AS ma,
        |    CAST(CAST(nb AS DOUBLE) / CAST(tb AS DOUBLE)
        |      * (CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE))
        |      AS DECIMAL(28,12)) AS mb
        |  FROM cell CROSS JOIN tot WHERE na > 0 AND nb > 0)
        |SELECT COUNT(*) AS n_segments,
        |  ROUND(CAST(SUM(ma) - SUM(mb) AS DOUBLE), 6)
        |    AS delta_total,
        |  ROUND(CAST(SUM(mx) AS DOUBLE), 6) AS mix_effect,
        |  ROUND(CAST(SUM(rt) AS DOUBLE), 6) AS rate_effect
        |FROM t"""
    ) { (s, d) =>
      graft.pipeline.Profiler.mixRateDecomposition(
        Tables.events(s, d)
          .select((col("user_id") % 2).as("coh"), col("event_type"),
            floor(col("value") * 1000.0).cast("long").as("vq")),
        "coh", "event_type", "vq")
    },

    // Entry/exit/bounce report per page over 30-minute gap sessions:
    // (t, event_id)-ordered endpoints via min/max(struct), exact
    // counts, guarded bounce rate.
    q(
      "q367_entry_exit",
      """WITH e AS (SELECT user_id AS u, epoch_us(ts) AS t, event_id
        |    AS id, event_type AS p FROM events),
        |m AS (SELECT u, t, id, p,
        |    CASE WHEN LAG(t) OVER w IS NULL
        |      OR t - LAG(t) OVER w >= 1800000000 THEN 1 ELSE 0 END
        |      AS brk
        |  FROM e WINDOW w AS (PARTITION BY u ORDER BY t, id)),
        |s AS (SELECT u, t, id, p,
        |    SUM(brk) OVER (PARTITION BY u ORDER BY t, id
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m),
        |s2 AS (SELECT u, sid, p,
        |    ROW_NUMBER() OVER (PARTITION BY u, sid
        |      ORDER BY t, id) AS ra,
        |    ROW_NUMBER() OVER (PARTITION BY u, sid
        |      ORDER BY t DESC, id DESC) AS rd
        |  FROM s),
        |ses AS (SELECT u, sid, COUNT(*) AS n,
        |    MAX(CASE WHEN ra = 1 THEN p END) AS entry,
        |    MAX(CASE WHEN rd = 1 THEN p END) AS exitp
        |  FROM s2 GROUP BY 1, 2),
        |en AS (SELECT entry AS page, COUNT(*) AS entries,
        |    COUNT(CASE WHEN n = 1 THEN 1 END) AS bounces
        |  FROM ses GROUP BY 1),
        |ex AS (SELECT exitp AS page, COUNT(*) AS exits FROM ses
        |  GROUP BY 1)
        |SELECT COALESCE(en.page, ex.page) AS page,
        |  CAST(COALESCE(en.entries, 0) AS BIGINT) AS entries,
        |  CAST(COALESCE(ex.exits, 0) AS BIGINT) AS exits,
        |  CAST(COALESCE(en.bounces, 0) AS BIGINT) AS bounces,
        |  CASE WHEN COALESCE(en.entries, 0) > 0 THEN
        |    ROUND(CAST(en.bounces AS DOUBLE)
        |      / CAST(en.entries AS DOUBLE), 6) END AS bounce_rate
        |FROM en FULL JOIN ex ON ex.page = en.page
        |ORDER BY page"""
    ) { (s, d) =>
      graft.pipeline.Behavior.entryExitPages(
          Tables.events(s, d)
            .select(col("user_id"), unix_micros(col("ts")).as("t"),
              col("event_id"), col("event_type")),
          "user_id", "t", "event_id", "event_type")
        .orderBy("page")
    }
  )
}
