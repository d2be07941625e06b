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

/** Statistics/eval library: hypothesis tests, correlations, survival, calibration, ranking metrics, estimators.
  *
  * One of the family registries composed into [[graft.Queries]];
  * oracle/alias conventions are documented there.
  */
private[graft] object StatsQueries {

  /** The autocorrelation oracles' inputs (q199, q321, q370): `s`
    * quantizes each event's value to integer µ-units, `l` lags it 1–3
    * steps within its series in (time, value) order.
    */
  private val lagInputCtes =
    """s AS (SELECT event_type || ' ' || user_id AS sensor_id,
      |    epoch_us(ts) AS t,
      |    CAST(floor(value * 1000000.0) AS BIGINT) AS v
      |  FROM events),
      |l AS (SELECT sensor_id, v,
      |    LAG(v, 1) OVER w AS l1, LAG(v, 2) OVER w AS l2,
      |    LAG(v, 3) OVER w AS l3
      |  FROM s WINDOW w AS (PARTITION BY sensor_id ORDER BY t, v))"""

  /** `l` and its per-series moments `a` (q199, q321): for each lag k,
    * the number of pairs with a k-step predecessor and the exact sums
    * Σx, Σx², Σy, Σy², Σxy over them, generated so the lags cannot
    * drift apart.
    */
  private val lagMomentCtes = {
    def sums(k: Int) =
      s"""    CAST(COUNT(l$k) AS DOUBLE) AS n$k,
         |    CAST(SUM(CASE WHEN l$k IS NOT NULL THEN v END) AS DOUBLE)
         |      AS sx$k,
         |    CAST(SUM(CASE WHEN l$k IS NOT NULL THEN v * v END) AS DOUBLE)
         |      AS sxx$k,
         |    CAST(SUM(l$k) AS DOUBLE) AS sy$k,
         |    CAST(SUM(l$k * l$k) AS DOUBLE) AS syy$k,
         |    CAST(SUM(v * l$k) AS DOUBLE) AS sxy$k"""
    s"""$lagInputCtes,
       |a AS (SELECT sensor_id,
       |${(1 to 3).map(sums).mkString(",\n|")}
       |  FROM l GROUP BY 1)"""
  }

  /** The survival oracles' lifetimes (q206, q317, q335): `lif` each
    * user's first and last event, `durs` the lifetime in whole days
    * with a death flag unless the last event falls within 12 h of the
    * corpus end, `bd` deaths and users per duration — the construction
    * of [[graft.pipeline.Behavior.kaplanMeier]].
    */
  private val lifetimeCtes =
    """lif AS (SELECT user_id, MIN(epoch_us(ts)) AS f,
      |    MAX(epoch_us(ts)) AS l FROM events GROUP BY 1),
      |gm AS (SELECT MAX(l) AS gmax FROM lif),
      |durs AS (SELECT (l - f) // 86400000000 AS dur,
      |    CASE WHEN l < gmax - 43200000000 THEN 1 ELSE 0 END
      |      AS death
      |  FROM lif CROSS JOIN gm),
      |bd AS (SELECT dur, COUNT(*) AS c, CAST(SUM(death) AS BIGINT)
      |    AS d FROM durs GROUP BY 1)"""

  /** `lifetimeCtes`, then `tt` (all users) and `r`, each duration's
    * users lost before it `cb` — the risk sets of q206 and q317.
    */
  private val riskSetCtes =
    s"""$lifetimeCtes,
       |tt AS (SELECT COUNT(*) AS n FROM durs),
       |r AS (SELECT bd.dur, bd.d, tt.n,
       |    CAST(COALESCE(SUM(bd.c) OVER (ORDER BY bd.dur
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS cb
       |  FROM bd CROSS JOIN tt)"""

  /** The lag-1..3 sample correlations `r1`..`r3` over `lagMomentCtes`'
    * sums (q321, q370).
    */
  private val lagCorrCols =
    """    (n1 * sxy1 - sx1 * sy1) / (sqrt(n1 * sxx1 - sx1 * sx1)
      |      * sqrt(n1 * syy1 - sy1 * sy1)) AS r1,
      |    (n2 * sxy2 - sx2 * sy2) / (sqrt(n2 * sxx2 - sx2 * sx2)
      |      * sqrt(n2 * syy2 - sy2 * sy2)) AS r2,
      |    (n3 * sxy3 - sx3 * sy3) / (sqrt(n3 * sxx3 - sx3 * sx3)
      |      * sqrt(n3 * syy3 - sy3 * sy3)) AS r3"""

  /** The recursive per-series oracles' inputs (q324, q334): `base`
    * numbers each sensor's samples in (time, value) order, `cnt` holds
    * each sensor's sample count.
    */
  private val seriesRowCtes =
    """src AS (
      |  SELECT event_type || ' ' || user_id AS sensor_id,
      |    epoch_us(ts) AS t, value FROM events),
      |base AS (SELECT sensor_id, value,
      |    ROW_NUMBER() OVER (PARTITION BY sensor_id
      |      ORDER BY t, value) AS rn
      |  FROM src),
      |cnt AS (SELECT sensor_id, MAX(rn) AS n FROM base GROUP BY 1)"""

  /** The calibration oracles' scored customers (q344, q346): the
    * dyadic score numerator `num` from the account balance, label `y`
    * = at least 5 orders.
    */
  private val scoredCustomerCtes =
    """ot AS (SELECT o_custkey, COUNT(*) AS c FROM orders
      |  GROUP BY 1),
      |base AS (SELECT
      |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      + 100000 AS num,
      |    CASE WHEN COALESCE(ot.c, 0) >= 5 THEN 1 ELSE 0 END AS y
      |  FROM customer LEFT JOIN ot ON ot.o_custkey = c_custkey)"""

  /** Spark side of `scoredCustomerCtes`. */
  private def scoredCustomers(s: SparkSession, d: String): DataFrame = {
    val ot = Tables.orders(s, d)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("c"))
    Tables.customer(s, d)
      .join(ot, col("c_custkey") === col("o_custkey"), "left")
      .select(
        ((col("c_acctbal").cast("decimal(18,2)") * 100)
          .cast("long") + 100000L).as("num"),
        when(coalesce(col("c"), lit(0L)) >= 5, lit(1))
          .otherwise(lit(0)).as("y"))
  }

  /** The inequality oracles' spend ranks (q203, q210): per-customer
    * spend `v` in cents, its multiplicity `m` and the count `cb` of
    * customers below it.
    */
  private val spendRankCtes =
    """sp AS (SELECT o_custkey,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
      |      AS BIGINT) AS v
      |  FROM orders GROUP BY 1),
      |vc AS (SELECT v, COUNT(*) AS m FROM sp GROUP BY 1),
      |r AS (SELECT v, m,
      |    CAST(COALESCE(SUM(m) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) AS cb
      |  FROM vc)"""

  /** The pairwise correlation matrix over the moment sums of a
    * preceding `s` CTE, output column `stat` (q150 Pearson, q197
    * Spearman).
    */
  private def corrMatrixSql(stat: String): String =
    s"""SELECT col_a, col_b, $stat FROM (
       |  SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
       |    ROUND((n * sp_qp - s_q * s_p)
       |      / sqrt((n * ss_q - s_q * s_q) * (n * ss_p - s_p * s_p)), 6)
       |      AS $stat FROM s
       |  UNION ALL SELECT 'l_quantity', 'l_discount',
       |    ROUND((n * sp_qd - s_q * s_d)
       |      / sqrt((n * ss_q - s_q * s_q) * (n * ss_d - s_d * s_d)), 6)
       |    FROM s
       |  UNION ALL SELECT 'l_extendedprice', 'l_discount',
       |    ROUND((n * sp_pd - s_p * s_d)
       |      / sqrt((n * ss_p - s_p * s_p) * (n * ss_d - s_d * s_d)), 6)
       |    FROM s)
       |ORDER BY col_a, col_b"""

  val registry: Seq[Q] = Seq(

    // S10 roundtrip: JSONL export parsed back (µs-exact timestamps).
    q(
      "q17_jsonl_roundtrip",
      """SELECT 'error' AS sensor_name, epoch_us(ts) AS timestamp_us, value
        |FROM events WHERE event_type = 'error' AND user_id = 2
        |ORDER BY timestamp_us"""
    ) { (s, d) =>
      val samples = EventsAdapter.samples(s, d)
        .filter(col("sensor_id") === "error 2")
        .select("timestamp_us", "value")
      val lines = Exporters.toJsonl(samples, "uuid-q17", "error", "float",
        Map.empty)
      lines.toDF("line")
        .select(from_json(col("line"), org.apache.spark.sql.types.StructType
          .fromDDL("sensor_name STRING, timestamp STRING, value DOUBLE")).as("r"))
        .select(col("r.sensor_name").as("sensor_name"),
          unix_micros(to_timestamp(col("r.timestamp"),
            "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")).as("timestamp_us"),
          col("r.value").as("value"))
        .orderBy("timestamp_us")
    },

    // Quality-aware canonical selection: near-dup clusters (q57's graph)
    // reduced to the HIGHEST-quality member per cluster (score = alpha
    // char count, ties to the lowest doc_id) — the keep-best dedup
    // endgame. One aggregate over cluster_id; the argmax is
    // max(struct(score, -id)), no window, no per-group sort.
    q(
      "q86_cluster_best",
      s"""WITH RECURSIVE $nearDupClosureCtes,
         |assign AS (
         |  SELECT d.doc_id AS id,
         |    COALESCE(LEAST(c.id, c.mn), d.doc_id) AS cluster_id
         |  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id),
         |scored AS (
         |  SELECT doc_id,
         |    length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS score
         |  FROM documents)
         |SELECT cluster_id, doc_id AS best_id, score AS best_score,
         |  n_members
         |FROM (
         |  SELECT a.cluster_id, s.doc_id, s.score,
         |    COUNT(*) OVER (PARTITION BY a.cluster_id) AS n_members,
         |    ROW_NUMBER() OVER (PARTITION BY a.cluster_id
         |      ORDER BY s.score DESC, s.doc_id ASC) AS rk
         |  FROM assign a JOIN scored s ON s.doc_id = a.id)
         |WHERE rk = 1 ORDER BY cluster_id"""
    ) { (s, d) =>
      import graft.pipeline.Dedup
      val docs = Tables.spread(s, Tables.documents(s, d))
      val clusters = Dedup.nearDupClustersShared(docs, "doc_id",
        "text", n = 3, tau = 0.5, corpusKey = d)
      val scored = Tables.documents(s, d).select(col("doc_id"),
        length(regexp_replace(col("text"), "[^A-Za-z]", "")).as("score"))
      Dedup.keepBestPerCluster(clusters, scored, "doc_id", "score")
        .select(col("cluster_id"), col("best_id"),
          col("best_score").cast("long").as("best_score"),
          col("n_members"))
        .orderBy("cluster_id")
    },

    // Band join: views within ±5 minutes of each click, per user —
    // binned into band-width buckets and probed bin±1 so the range
    // predicate rides an equi-join (a raw theta join nested-loops).
    // The oracle states the range condition directly; only clicks with
    // at least one in-band view surface (inner join on both sides).
    q(
      "q109_band_join",
      """WITH c AS (
        |  SELECT user_id, epoch_us(ts) AS cts FROM events
        |  WHERE event_type = 'click'),
        |v AS (
        |  SELECT user_id, epoch_us(ts) AS vts FROM events
        |  WHERE event_type = 'view')
        |SELECT c.user_id, c.cts, COUNT(*) AS n_views
        |FROM c JOIN v ON c.user_id = v.user_id
        |  AND v.vts BETWEEN c.cts - 300000000 AND c.cts + 300000000
        |GROUP BY 1, 2 ORDER BY 1, 2"""
    ) { (s, d) =>
      val e = Tables.events(s, d)
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_type"))
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts_us").as("cts"))
      val views = e.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts_us").as("vts"))
      graft.operators.BandJoin
        .bandJoin(clicks, views, "user_id", "cts", "vts", 300000000L)
        .groupBy(col("user_id"), col("cts"))
        .agg(count(lit(1)).as("n_views"))
        .orderBy("user_id", "cts")
    },

    // Sliding windows: hourly windows sliding by 15 minutes over view
    // events — each event lands in 4 overlapping windows. The oracle
    // enumerates the 4 candidate starts per event with generate_series
    // over pure integer µs arithmetic.
    q(
      "q110_sliding_windows",
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS t FROM events
        |  WHERE event_type = 'view'),
        |w AS (
        |  SELECT user_id, t,
        |    ((t // 900000000) - g.j) * 900000000 AS ws
        |  FROM e, UNNEST(generate_series(0, 3)) AS g(j)
        |  WHERE ((t // 900000000) - g.j) * 900000000 + 3600000000 > t)
        |SELECT user_id, ws AS window_start_us, COUNT(*) AS n
        |FROM w GROUP BY 1, 2 ORDER BY 1, 2"""
    ) { (s, d) =>
      Tables.events(s, d)
        .filter(col("event_type") === "view")
        .groupBy(col("user_id"),
          window(col("ts"), "1 hour", "15 minutes").as("w"))
        .agg(count(lit(1)).as("n"))
        .select(col("user_id"),
          unix_micros(col("w.start")).as("window_start_us"), col("n"))
        .orderBy("user_id", "window_start_us")
    },

    // Salted skew join: view events (fact) enriched with per-user click
    // totals (dim) through SaltedJoin — hot users fan out across 8
    // salts, cold users pay nothing, and the salt never surfaces, so
    // the oracle is the PLAIN join it must be indistinguishable from.
    q("q111_salted_join", viewsPerClickUserOracleSql) { (s, d) =>
      viewsPerClickUser(s, d) { (fact, dim) =>
        graft.operators.SaltedJoin
          .join(fact, dim, "user_id", salts = 8, hotThreshold = 20L)
      }
    },

    // CUBE aggregation (all four grouping combinations of returnflag ×
    // linestatus in one pass) — the §2.7 set-op family's OLAP sibling;
    // grouping-null markers stringified so the surface is typed stably.
    q(
      "q113_cube",
      """SELECT COALESCE(l_returnflag, '<all>') AS rflag,
        |  COALESCE(l_linestatus, '<all>') AS lstatus,
        |  COUNT(*) AS n, CAST(SUM(l_quantity) AS BIGINT) AS sum_qty
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY rflag, lstatus"""
    ) { (s, d) =>
      Tables.lineitem(s, d)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity")).cast("long").as("sum_qty"))
        .select(coalesce(col("l_returnflag"), lit("<all>")).as("rflag"),
          coalesce(col("l_linestatus"), lit("<all>")).as("lstatus"),
          col("n"), col("sum_qty"))
        .orderBy("rflag", "lstatus")
    },

    // Rolling trailing-window aggregates: for every view event, the
    // count and mean of the user's views in the preceding hour — a
    // RANGE frame over epoch-µs (one shuffle on the user key, frame
    // peers included identically in both engines at duplicate
    // timestamps). The row-wise trailing mean is the event-driven
    // sibling of the PromQL eval-instant over_time family.
    q(
      "q114_rolling_window",
      """SELECT user_id, epoch_us(ts) AS t,
        |  COUNT(*) OVER w AS n_1h,
        |  ROUND(AVG(value) OVER w, 6) AS avg_1h
        |FROM events
        |WHERE event_type = 'view'
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, t"""
    ) { (s, d) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("t"))
        .rangeBetween(-3600000000L, 0L)
      Tables.events(s, d)
        .filter(col("event_type") === "view")
        .select(col("user_id"), unix_micros(col("ts")).as("t"),
          col("value"))
        .select(col("user_id"), col("t"),
          count(lit(1)).over(w).as("n_1h"),
          round(avg(col("value")).over(w), 6).as("avg_1h"))
        .orderBy("user_id", "t")
    },

    // Content-defined chunking dedup stats: FastCDC/gear-hash
    // boundaries (cut after every char where the 24-bit rolling gear
    // hash has all 6 spread mask bits zero — ONE table lookup per char,
    // not one digest per position), chunk fingerprints deduplicated
    // corpus-wide — the storage-dedup measurement (how many chars are
    // duplicate chunk instances). The oracle replays the IDENTICAL
    // derived gear table (GearTable.sqlList — same values, single
    // source of truth) through the identical recurrence: h_p =
    // Σ gear(c_{p−j})·2^j mod 2^24 for j<24, written as 24 LAG terms
    // (older terms vanish mod 2^24), then segmentation via LEAD and
    // the (doc, start)-ordered first-instance rule; every augmented
    // doc shares the q104 promo tail so duplicate chunks are
    // guaranteed. Indexing is code-point-based on BOTH sides.
    q(
      "q121_cdc_chunks",
      s"""WITH gear AS (SELECT ${graft.pipeline.GearTable.sqlList} AS gl),
        |norm AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(lower(text
        |      || ' visit our site today for more great deals'),
        |      '\\s+', ' ', 'g')) AS t
        |  FROM documents),
        |nz AS (SELECT doc_id, t, len(t) AS n FROM norm WHERE len(t) >= 1),
        |g AS (
        |  SELECT doc_id, n, p,
        |    gear.gl[(unicode(substr(t, p::INT, 1)) % 256) + 1]::BIGINT AS gv
        |  FROM (SELECT doc_id, t, n,
        |    unnest(range(1, n::INT + 1)) AS p FROM nz), gear),
        |h AS (
        |  SELECT doc_id, n, p,
        |    (${(0 until 24).map(j =>
               s"LAG(gv, $j, 0) OVER (PARTITION BY doc_id ORDER BY p)" +
                 (if (j == 0) "" else s" * ${1L << j}")).mkString("\n        |     + ")})
        |      % ${graft.pipeline.GearTable.Mod} AS hv
        |  FROM g),
        |cuts AS (SELECT doc_id, p AS cut FROM h
        |  WHERE (hv & ${graft.pipeline.GearTable.mask(6)}) = 0 AND p < n),
        |bounds AS (
        |  SELECT doc_id, cut FROM cuts
        |  UNION SELECT doc_id, 0 FROM nz
        |  UNION SELECT doc_id, n FROM nz),
        |seg AS (
        |  SELECT doc_id, cut AS a,
        |    LEAD(cut) OVER (PARTITION BY doc_id ORDER BY cut) AS b
        |  FROM bounds),
        |chunks AS (
        |  SELECT s.doc_id, s.a, s.b - s.a AS len,
        |    ('0x' || substr(md5(substr(nz.t, s.a::INT + 1,
        |      (s.b - s.a)::INT)), 1, 15))::BIGINT AS fp
        |  FROM seg s JOIN nz USING (doc_id) WHERE s.b IS NOT NULL),
        |r AS (
        |  SELECT fp, len,
        |    ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id, a) AS rn
        |  FROM chunks)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_chunks,
        |  CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_unique,
        |  CAST(SUM(len) AS BIGINT) AS total_chars,
        |  CAST(SUM(CASE WHEN rn > 1 THEN len ELSE 0 END) AS BIGINT)
        |    AS dup_chars
        |FROM r"""
    ) { (s, d) =>
      val chunks = Tables.spread(s, Tables.documents(s, d))
        .select(col("doc_id"),
          explode(TextAnalysis.cdcChunksGear(
            concat(col("text"),
              lit(" visit our site today for more great deals")),
            maskBits = 6)).as("c"))
        .select(col("doc_id"), col("c.fp").as("fp"),
          col("c.len").as("len"), col("c.start").as("a"))
      val rn = row_number().over(
        Window.partitionBy(col("fp")).orderBy(col("doc_id"), col("a")))
      chunks.withColumn("rn", rn)
        .agg(count(lit(1)).as("n_chunks"),
          countDistinct(col("fp")).as("n_unique"),
          sum(col("len")).cast("long").as("total_chars"),
          sum(when(col("rn") > 1, col("len")).otherwise(0L)).cast("long")
            .as("dup_chars"))
    },

    // Auto-routed skew join: the engine's join layer runs the hot-key
    // census once (eager local checkpoint, reused by the routing
    // decision and both join sides) and picks plain vs salted
    // automatically — q111 proves the salted mechanism, this proves
    // the ROUTING preserves semantics end-to-end. The oracle is the
    // plain join it must equal regardless of which shape fires.
    q("q129_auto_skew_join", viewsPerClickUserOracleSql) { (s, d) =>
      viewsPerClickUser(s, d) { (fact, dim) =>
        graft.operators.SaltedJoin
          .autoJoin(fact, dim, "user_id", salts = 8, hotThreshold = 20L)
      }
    },

    // Clustering-quality evaluation: purity and Adjusted Rand Index of
    // the q98 k-means assignment against the embeddings' ground-truth
    // label column — the external-validation gate a pipeline runs
    // before trusting cluster-scoped ops (balanced sampling, SemDeDup).
    // All pair counting is integer (x·(x−1)//2; a double product would
    // round past 2^53 at corpus scale) and the ARI expectation's a·b
    // product is double deliberately (as integers it overflows int64
    // near 55k pairs-of-pairs) — three IEEE divisions on identical
    // operands, ROUND(6) on the output surface.
    q(
      "q137_cluster_agreement",
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label
         |           FROM embeddings),
         |$kmeansLloydCtes,
         |${kmeansAssign("a3", "c2")},
         |cont AS (
         |  SELECT a3.cid AS c, e.label AS l, COUNT(*) AS nij
         |  FROM a3 JOIN e USING (vec_id) GROUP BY 1, 2),
         |sp AS (SELECT SUM(nij*(nij-1)//2) AS sp, SUM(nij) AS n FROM cont),
         |ac AS (SELECT SUM(ai*(ai-1)//2) AS a FROM (
         |  SELECT SUM(nij) AS ai FROM cont GROUP BY c)),
         |bc AS (SELECT SUM(bj*(bj-1)//2) AS b FROM (
         |  SELECT SUM(nij) AS bj FROM cont GROUP BY l)),
         |pur AS (SELECT SUM(mx) AS pure FROM (
         |  SELECT MAX(nij) AS mx FROM cont GROUP BY c))
         |SELECT CAST(n AS BIGINT) AS n,
         |  ROUND(CAST(pure AS DOUBLE) / CAST(n AS DOUBLE), 6) AS purity,
         |  ROUND(CASE WHEN CAST(a + b AS DOUBLE) * 0.5::DOUBLE = exp
         |    THEN 1.0::DOUBLE
         |    ELSE (CAST(sp AS DOUBLE) - exp) /
         |      (CAST(a + b AS DOUBLE) * 0.5::DOUBLE - exp) END, 6) AS ari
         |FROM (
         |  SELECT sp.n, sp.sp, ac.a, bc.b, pur.pure,
         |    CAST(ac.a AS DOUBLE) * CAST(bc.b AS DOUBLE) /
         |      CAST(n*(n-1)//2 AS DOUBLE) AS exp
         |  FROM sp, ac, bc, pur)"""
    ) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val e = emb.select(col("vec_id"),
        col("embedding").cast("array<double>").as("vec"))
      val assigned = graft.pipeline.SimilarityArtifacts
        .kmeansAssignments(e, k = 8, iters = 2, corpusKey = d)
        .join(emb.select(col("vec_id"), col("label")), "vec_id")
      Similarity.clusterAgreement(assigned, "cluster", "label")
    },

    // Per-series EWMA (α=0.25) over purchase events: the sequential
    // per-series recurrence (one keyed shuffle + in-partition fold — a
    // window frame cannot express it) replayed by the oracle as a
    // recursive CTE advancing one row per series per step (the q82
    // holt_winters machinery). α and 1−α are exact binary fractions, so
    // each step is the same two multiplies and one add on both engines
    // — the hash surface is bit-exact doubles, no rounding.
    q(
      "q143_ewma",
      """WITH RECURSIVE base AS (
        |  SELECT CAST(user_id AS VARCHAR) AS sensor_id,
        |    epoch_us(ts) AS timestamp_us, value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), value) AS rn
        |  FROM events WHERE event_type = 'purchase'),
        |rec AS (
        |  SELECT sensor_id, rn, timestamp_us, value, value AS ewma
        |  FROM base WHERE rn = 1
        |  UNION ALL
        |  SELECT b.sensor_id, b.rn, b.timestamp_us, b.value,
        |    0.25::DOUBLE * b.value + (1 - 0.25::DOUBLE) * r.ewma
        |  FROM rec r JOIN base b
        |    ON b.sensor_id = r.sensor_id AND b.rn = r.rn + 1)
        |SELECT sensor_id, timestamp_us, value, ewma FROM rec
        |ORDER BY sensor_id, timestamp_us, value"""
    ) { (s, d) =>
      graft.operators.Ewma.smooth(
          Tables.events(s, d)
            .filter(col("event_type") === "purchase")
            .select(col("user_id").cast("string").as("sensor_id"),
              unix_micros(col("ts")).as("timestamp_us"), col("value")),
          alpha = 0.25)
        .orderBy("sensor_id", "timestamp_us", "value")
    },

    // DSIR-style importance scoring (Xie et al. NeurIPS'23, unigram
    // features): per raw doc (src0-9), the average token log-likelihood
    // ratio under the target corpus' (src10-19) Laplace-smoothed
    // unigram LM vs the raw corpus' own — the scoring pass of
    // importance resampling. The oracle replays both count tables, the
    // union-vocab smoothing and the single-ln ratio with the identical
    // arithmetic shape; the per-doc AVG rounds to 6 (q100 precedent).
    q(
      "q147_dsir_scores",
      """WITH rawd AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE source IN ('src0','src1','src2','src3','src4',
        |                   'src5','src6','src7','src8','src9')),
        |tgt AS (
        |  SELECT text FROM documents
        |  WHERE source IN ('src10','src11','src12','src13','src14',
        |                   'src15','src16','src17','src18','src19')),
        |rt AS (SELECT doc_id AS id,
        |  unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
        |  FROM rawd),
        |tt AS (SELECT
        |  unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
        |  FROM tgt),
        |rc AS (SELECT tok, COUNT(*) AS cr FROM rt GROUP BY 1),
        |tc AS (SELECT tok, COUNT(*) AS ct FROM tt GROUP BY 1),
        |v AS (SELECT COALESCE(rc.tok, tc.tok) AS tok,
        |    COALESCE(cr, 0) AS cr, COALESCE(ct, 0) AS ct
        |  FROM rc FULL JOIN tc ON rc.tok = tc.tok),
        |tot AS (SELECT CAST(SUM(cr) AS DOUBLE) AS nr,
        |    CAST(SUM(ct) AS DOUBLE) AS nt,
        |    CAST(COUNT(*) AS DOUBLE) AS vs FROM v),
        |r AS (SELECT tok,
        |    ln(((ct::DOUBLE + 1.0::DOUBLE) / (nt + vs))
        |     / ((cr::DOUBLE + 1.0::DOUBLE) / (nr + vs))) AS lr
        |  FROM v CROSS JOIN tot)
        |SELECT rt.id AS id, COUNT(*) AS n_tokens,
        |  ROUND(AVG(r.lr), 6) AS avg_logratio
        |FROM rt JOIN r USING (tok) GROUP BY 1 ORDER BY id"""
    ) { (s, d) =>
      val docs = Tables.spread(s, Tables.documents(s, d))
      val trainSrc = (0 to 9).map(i => s"src$i")
      val tgtSrc = (10 to 19).map(i => s"src$i")
      graft.pipeline.Sampling.dsirScores(
          docs.filter(col("source").isin(trainSrc: _*)),
          docs.filter(col("source").isin(tgtSrc: _*)),
          "doc_id", "text")
        .orderBy("id")
    },

    // Pairwise Pearson correlation matrix in one aggregate pass. The
    // oracle surface runs exactDecimal=true: every Σx/Σx²/Σxy
    // accumulates in DECIMAL — exact for the 2-decimal source values,
    // so the sums are reduction-order-free and the correlation is IEEE
    // arithmetic on identical numbers in the identical shape, ROUND(6).
    q(
      "q150_correlation",
      s"""WITH s AS (SELECT
         |  CAST(COUNT(*) AS DOUBLE) AS n,
         |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,4))) AS DOUBLE) AS s_q,
         |  CAST(SUM(CAST(l_quantity AS DECIMAL(24,4))
         |    * CAST(l_quantity AS DECIMAL(12,4))) AS DOUBLE) AS ss_q,
         |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))) AS DOUBLE) AS s_p,
         |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(24,4))
         |    * CAST(l_extendedprice AS DECIMAL(12,4))) AS DOUBLE) AS ss_p,
         |  CAST(SUM(CAST(l_discount AS DECIMAL(12,4))) AS DOUBLE) AS s_d,
         |  CAST(SUM(CAST(l_discount AS DECIMAL(24,4))
         |    * CAST(l_discount AS DECIMAL(12,4))) AS DOUBLE) AS ss_d,
         |  CAST(SUM(CAST(l_quantity AS DECIMAL(24,4))
         |    * CAST(l_extendedprice AS DECIMAL(12,4))) AS DOUBLE) AS sp_qp,
         |  CAST(SUM(CAST(l_quantity AS DECIMAL(24,4))
         |    * CAST(l_discount AS DECIMAL(12,4))) AS DOUBLE) AS sp_qd,
         |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(24,4))
         |    * CAST(l_discount AS DECIMAL(12,4))) AS DOUBLE) AS sp_pd
         |FROM lineitem)
         |${corrMatrixSql("corr")}"""
    ) { (s, d) =>
      graft.pipeline.Profiler.correlationMatrix(
          Tables.lineitem(s, d),
          Seq("l_quantity", "l_extendedprice", "l_discount"),
          exactDecimal = true)
        .orderBy("col_a", "col_b")
    },

    // Z-order clustering key: Morton interleave of (user_id,
    // day-of-month) — the write-side layout key that makes parquet
    // min/max pruning work on BOTH dimensions. Exact bit arithmetic;
    // the oracle replays the identical 2·bits shift/and/or terms
    // (ZOrder.sqlExpr generates them from the same constant).
    q(
      "q151_zorder",
      s"""SELECT event_id,
         |  ${graft.functions.ZOrder.sqlExpr(
               "user_id", "date_part('day', ts)", 16)} AS zval
         |FROM events WHERE user_id < 50
         |ORDER BY event_id"""
    ) { (s, d) =>
      Tables.events(s, d)
        .filter(col("user_id") < 50)
        .select(col("event_id"),
          graft.functions.ZOrder.zValue(
            col("user_id"), dayofmonth(col("ts")), 16).as("zval"))
        .orderBy("event_id")
    },

    // CDC changelog apply (MERGE semantics): snapshot = each user's
    // earliest event value; changes = the last ~6 days of events
    // (errors are deletes, everything else upserts). Per key the
    // lexicographic-latest (ts, op, value) change wins from ONE
    // max(struct) aggregate — never a window over the history — and
    // the oracle replays the same total order with a rank.
    q(
      "q157_changelog_apply",
      """WITH snap AS (
        |  SELECT user_id, value FROM (
        |    SELECT user_id, value, ROW_NUMBER() OVER (
        |      PARTITION BY user_id ORDER BY epoch_us(ts), value) AS rn
        |    FROM events) WHERE rn = 1),
        |ch AS (SELECT user_id, epoch_us(ts) AS ts,
        |    CASE WHEN event_type = 'error' THEN 'delete'
        |         ELSE 'upsert' END AS op, value
        |  FROM events WHERE epoch_us(ts) >= 1706140800000000),
        |w AS (SELECT user_id, op, value FROM (
        |    SELECT user_id, op, value, ROW_NUMBER() OVER (
        |      PARTITION BY user_id
        |      ORDER BY ts DESC, op DESC, value DESC) AS rn
        |    FROM ch) WHERE rn = 1)
        |SELECT COALESCE(s.user_id, w.user_id) AS user_id,
        |  CASE WHEN w.user_id IS NOT NULL THEN w.value
        |       ELSE s.value END AS value
        |FROM snap s FULL JOIN w ON s.user_id = w.user_id
        |WHERE w.user_id IS NULL OR w.op = 'upsert'
        |ORDER BY user_id"""
    ) { (s, d) =>
      val e = Tables.events(s, d)
      val snapshot = e
        .groupBy(col("user_id"))
        .agg(min(struct(unix_micros(col("ts")).as("ts"),
          col("value").as("value"))).as("__first"))
        .select(col("user_id"), col("__first.value").as("value"))
      val changes = e
        .filter(unix_micros(col("ts")) >= lit(1706140800000000L))
        .select(col("user_id"), unix_micros(col("ts")).as("ts"),
          when(col("event_type") === "error", "delete")
            .otherwise("upsert").as("op"),
          col("value"))
      graft.operators.Changelog.apply(
          snapshot, changes, "user_id", "ts", "op", Seq("value"))
        .orderBy("user_id")
    },

    // SCD2 dimension history: per user, the versioned [valid_from,
    // valid_to) intervals of their event value — consecutive identical
    // values collapse, the open interval has NULL valid_to. Per-(key,
    // ts) winner is a max aggregate (map-side combined); the change
    // scan is one LAG/LEAD window pass per key over distinct
    // timestamps. Pure integer µs + exact double equality on both
    // engines.
    q(
      "q161_scd2_history",
      """WITH pt AS (SELECT user_id, epoch_us(ts) AS t, max(value) AS v
        |  FROM events GROUP BY 1, 2),
        |w AS (SELECT user_id, t, v,
        |    LAG(v) OVER (PARTITION BY user_id ORDER BY t) AS pv
        |  FROM pt),
        |cp AS (SELECT user_id, t, v FROM w
        |  WHERE pv IS NULL OR v <> pv)
        |SELECT user_id, version, valid_from, valid_to, value
        |FROM (SELECT user_id, t AS valid_from,
        |    LEAD(t) OVER (PARTITION BY user_id ORDER BY t) AS valid_to,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY t)
        |      AS version, v AS value
        |  FROM cp)
        |ORDER BY user_id, version"""
    ) { (s, d) =>
      graft.operators.Changelog.scd2History(
          Tables.events(s, d)
            .select(col("user_id"), unix_micros(col("ts")).as("t"),
              col("value")),
          "user_id", "t", Seq("value"))
        .orderBy("user_id", "version")
    },

    // Keyed snapshot diff: the per-user latest-value state of the first
    // 10 days vs the last ~20 days of the month — added / removed /
    // changed keys only (the 100 TB report is diff-sized, never
    // snapshot-sized). Latest-wins replays as the q157 total order:
    // lexicographic max of (ts, value).
    q(
      "q162_table_diff",
      """WITH b AS (SELECT user_id, value FROM (
        |    SELECT user_id, value, ROW_NUMBER() OVER (
        |      PARTITION BY user_id
        |      ORDER BY epoch_us(ts) DESC, value DESC) AS rn
        |    FROM events WHERE epoch_us(ts) < 1705363200000000)
        |  WHERE rn = 1),
        |a AS (SELECT user_id, value FROM (
        |    SELECT user_id, value, ROW_NUMBER() OVER (
        |      PARTITION BY user_id
        |      ORDER BY epoch_us(ts) DESC, value DESC) AS rn
        |    FROM events WHERE epoch_us(ts) >= 1705363200000000)
        |  WHERE rn = 1)
        |SELECT user_id, status, old_value, new_value FROM (
        |  SELECT COALESCE(b.user_id, a.user_id) AS user_id,
        |    CASE WHEN b.user_id IS NULL THEN 'added'
        |         WHEN a.user_id IS NULL THEN 'removed'
        |         WHEN b.value <> a.value THEN 'changed' END AS status,
        |    b.value AS old_value, a.value AS new_value
        |  FROM b FULL JOIN a ON b.user_id = a.user_id)
        |WHERE status IS NOT NULL ORDER BY user_id"""
    ) { (s, d) =>
      val e = Tables.events(s, d)
      def lastState(f: DataFrame): DataFrame = f
        .groupBy(col("user_id"))
        .agg(max(struct(unix_micros(col("ts")).as("ts"),
          col("value").as("value"))).as("__m"))
        .select(col("user_id"), col("__m.value").as("value"))
      val cut = lit(1705363200000000L)
      graft.pipeline.Profiler.tableDiff(
          lastState(e.filter(unix_micros(col("ts")) < cut)),
          lastState(e.filter(unix_micros(col("ts")) >= cut)),
          "user_id", Seq("value"))
        .orderBy("user_id")
    },

    // Reciprocal-rank fusion of two retrieval passes (exact cosine +
    // exact euclidean top-20 — genuinely different rankings on
    // unnormalized embeddings): score = 1/(60+r_cos) + 1/(60+r_euc) in
    // explicit ranker order, each term one IEEE division of exact
    // integers — no rounding needed anywhere.
    q(
      "q167_rrf_fusion",
      s"""WITH $annQueryCtes,
         |rc AS (SELECT query_id, vec_id, rank FROM (
         |  SELECT q.query_id, e.vec_id, ROW_NUMBER() OVER (
         |      PARTITION BY q.query_id
         |      ORDER BY list_cosine_similarity(q.qv, e.v) DESC, e.vec_id)
         |    AS rank
         |  FROM q, e WHERE e.vec_id <> q.query_id) WHERE rank <= 20),
         |re AS (SELECT query_id, vec_id, rank FROM (
         |  SELECT q.query_id, e.vec_id, ROW_NUMBER() OVER (
         |      PARTITION BY q.query_id
         |      ORDER BY (list_dot_product(q.qv, q.qv)
         |          + list_dot_product(e.v, e.v))
         |        - CAST(2 AS DOUBLE) * list_dot_product(q.qv, e.v) ASC,
         |        e.vec_id)
         |    AS rank
         |  FROM q, e WHERE e.vec_id <> q.query_id) WHERE rank <= 20),
         |f AS (SELECT COALESCE(rc.query_id, re.query_id) AS query_id,
         |    COALESCE(rc.vec_id, re.vec_id) AS vec_id,
         |    COALESCE(CAST(1 AS DOUBLE) / CAST(60 + rc.rank AS DOUBLE),
         |        CAST(0 AS DOUBLE))
         |      + COALESCE(CAST(1 AS DOUBLE) / CAST(60 + re.rank AS DOUBLE),
         |        CAST(0 AS DOUBLE)) AS rrf_score
         |  FROM rc FULL JOIN re
         |    ON rc.query_id = re.query_id AND rc.vec_id = re.vec_id)
         |SELECT query_id, fused_rank, vec_id, rrf_score FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY rrf_score DESC, vec_id) AS fused_rank FROM f)
         |WHERE fused_rank <= 10 ORDER BY query_id, fused_rank"""
    ) { (s, d) =>
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("vec"))
      val qs = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("vec").as("qvec"))
      val rc = Similarity.bruteForceTopK(qs, e, 20)
        .select("query_id", "vec_id", "rank")
      val re = Similarity.bruteForceTopKEuclid(qs, e, 20)
        .select("query_id", "vec_id", "rank")
      Similarity.rrfFuse(Seq(rc, re), c = 60, topK = 10)
        .orderBy("query_id", "fused_rank")
    },

    // Equal-frequency binning (QuantileDiscretizer): event values into
    // 4 rank buckets. The exact=true surface is PURE rank arithmetic
    // (ntile over the deterministic (value, id) order — no float
    // interpolation anywhere, unlike quantile-edge assignment); the
    // production default derives edges from approx_percentile with
    // bounded state and is ε-pinned against this form in the spec.
    q(
      "q169_freq_binning",
      """WITH r AS (SELECT value AS v, ntile(4) OVER (
        |    ORDER BY value, event_id) AS bin FROM events)
        |SELECT bin, COUNT(*) AS n_rows, MIN(v) AS lo, MAX(v) AS hi
        |FROM r GROUP BY 1 ORDER BY bin"""
    ) { (s, d) =>
      graft.pipeline.Profiler.equalFrequencyBins(
          Tables.events(s, d), "value", "event_id", k = 4, exact = true)
        .orderBy("bin")
    },

    // Per-group two-sample KS drift: purchase-vs-view value
    // distributions drift per event_type between the month's halves —
    // one job, one D statistic per type (never a driver loop of
    // per-group tests). Same exact integer-CDF construction as q158.
    q(
      "q171_grouped_ks",
      """WITH a AS (SELECT event_type AS k, value AS v FROM events
        |  WHERE epoch_us(ts) < 1705363200000000),
        |b AS (SELECT event_type AS k, value AS v FROM events
        |  WHERE epoch_us(ts) >= 1705363200000000),
        |av AS (SELECT k, v, COUNT(*) AS ca FROM a GROUP BY 1, 2),
        |bv AS (SELECT k, v, COUNT(*) AS cb FROM b GROUP BY 1, 2),
        |m AS (SELECT COALESCE(av.k, bv.k) AS k, COALESCE(av.v, bv.v) AS v,
        |    COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
        |  FROM av FULL JOIN bv ON av.k = bv.k AND av.v = bv.v),
        |t AS (SELECT k, CAST(SUM(ca) AS DOUBLE) AS na,
        |    CAST(SUM(cb) AS DOUBLE) AS nb FROM m GROUP BY 1),
        |c AS (SELECT k, v,
        |    CAST(SUM(ca) OVER (PARTITION BY k ORDER BY v) AS DOUBLE)
        |      AS cua,
        |    CAST(SUM(cb) OVER (PARTITION BY k ORDER BY v) AS DOUBLE)
        |      AS cub FROM m),
        |dd AS (SELECT c.k, v, abs(cua / t.na - cub / t.nb) AS d_,
        |    t.na, t.nb
        |  FROM c JOIN t ON c.k = t.k)
        |SELECT k AS event_type, CAST(na AS BIGINT) AS n_a,
        |  CAST(nb AS BIGINT) AS n_b, v AS at_value, d_ AS d_stat
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY k
        |    ORDER BY d_ DESC, v) AS rn FROM dd)
        |WHERE rn = 1 ORDER BY event_type"""
    ) { (s, d) =>
      val e = Tables.events(s, d)
        .select(col("event_type"), unix_micros(col("ts")).as("t"),
          col("value"))
      val cut = lit(1705363200000000L)
      graft.pipeline.Profiler.ksTestGrouped(
          e.filter(col("t") < cut), e.filter(col("t") >= cut),
          "event_type", "value")
        .orderBy("event_type")
    },

    // Time-weighted average per sensor — irregular-sampling mean with
    // DECIMAL v·dt accumulation (order-free integer arithmetic).
    // DECIMAL(18,6)×DECIMAL(19,0) keeps DuckDB's multiply on the int128
    // path (the q150 same-width int64 overflow gotcha). Compare surface
    // is INTEGER/STRING ONLY — no doubles AND no decimals. The hard-won
    // lesson (three red rounds): raw IEEE doubles hash-mismatch at the
    // driver even when locally bit-identical (r10), and DECIMAL columns
    // do too even when cell-identical to the oracle (r11 adjudication:
    // vdt_sum decimal128 was the registry's only decimal surface and
    // its only persistent red — parquet decimal128 vs DuckDB DECIMAL
    // canonicalize value-equal cells differently). So the v·dt sum is
    // published as TWO BIGINTs (vdt_s0 floor + vdt_f6 micro-fraction;
    // vdt_sum·10⁶ itself can exceed 2⁶³ so one scaled BIGINT is
    // unsafe), and the mean as twa_micro = floor(vdt_sum·10⁶/span_us),
    // a BIGINT produced by base-1000 schoolbook division wholly in
    // BIGINT +,·,DIV,% — no decimal division (engines disagree on its
    // result scale) and no doubles.
    q(
      "q180_time_weighted_avg",
      """WITH s AS (SELECT event_type || ' ' || user_id AS sensor_id,
        |    epoch_us(ts) AS t, value FROM events),
        |n AS (SELECT sensor_id, t, value, LEAD(t) OVER (
        |    PARTITION BY sensor_id ORDER BY t, value) AS nt FROM s),
        |v AS (SELECT sensor_id, t,
        |    CAST(value AS DECIMAL(18,6)) * CAST(nt - t AS DECIMAL(19,0))
        |      AS vdt FROM n),
        |g AS (SELECT sensor_id, COUNT(*) AS n_samples,
        |    MAX(t) - MIN(t) AS span_us,
        |    CAST(COALESCE(SUM(vdt), 0) AS DECIMAL(38,6)) AS vdt_sum
        |  FROM v GROUP BY 1),
        |g2 AS (SELECT *, CAST(FLOOR(vdt_sum) AS BIGINT) AS s0,
        |    CAST(CAST(vdt_sum - FLOOR(vdt_sum) AS DECIMAL(7,6)) * 1000000
        |      AS BIGINT) AS f6,
        |    CASE WHEN span_us > 0 THEN span_us ELSE 1 END AS bs
        |  FROM g),
        |g3 AS (SELECT *, (s0 // bs) - (CASE WHEN s0 < 0 AND s0 % bs <> 0
        |    THEN 1 ELSE 0 END) AS q0 FROM g2),
        |g4 AS (SELECT *, (s0 - q0*bs) * 1000 + f6 // 1000 AS t1 FROM g3),
        |g5 AS (SELECT *, t1 // bs AS q1 FROM g4),
        |g6 AS (SELECT *, (t1 - q1*bs) * 1000 + f6 % 1000 AS t2 FROM g5)
        |SELECT sensor_id, n_samples, span_us, s0 AS vdt_s0,
        |  f6 AS vdt_f6,
        |  CASE WHEN span_us > 0 THEN q0*1000000 + q1*1000 + t2 // bs END
        |    AS twa_micro
        |FROM g6 ORDER BY sensor_id"""
    ) { (s, d) =>
      graft.operators.SensorOps.timeWeightedAvg(
          EventsAdapter.samples(s, d))
        .select("sensor_id", "n_samples", "span_us", "vdt_s0",
          "vdt_f6", "twa_micro")
        .orderBy("sensor_id")
    },

    // Positional phrase search: exact token-sequence match via
    // positional-postings intersection (pos − term index = implied
    // phrase start; all 3 distinct indexes present ⇒ match). The
    // term filter is a scan-stage literal IN-set — the inverted-index
    // access path without materializing an index.
    // Chi-square independence contributions: event mix vs weekday. The
    // 7-value weekday domain is LITERAL, so per-day counts are
    // conditional sums (pivot discipline — no data-ordered float sum
    // anywhere) and the χ² row total is an explicit left-associated
    // 7-term chain, ROUND(6). Spark dayofweek()−1 ≡ DuckDB dow
    // (0 = Sunday both).
    q("q182_chi_square", chiSquareSql) { (s, d) =>
      graft.pipeline.Profiler.chiSquareContrib(
          Tables.events(s, d).select(col("event_type"),
            (dayofweek(col("ts")) - 1).as("dw")),
          "event_type", "dw", (0 to 6).map(Int.box))
        .orderBy("event_type")
    },

    // First-order Markov transitions between consecutive events per
    // user: integer counts + single-division conditional probabilities
    // (bit-identical cross-engine, no rounding surface).
    q(
      "q192_transition_matrix",
      """WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_id,
        |    event_type FROM events),
        |st AS (SELECT event_type AS to_state,
        |    LAG(event_type) OVER (PARTITION BY user_id
        |      ORDER BY t, event_id) AS from_state FROM e),
        |c AS (SELECT from_state, to_state, COUNT(*) AS n FROM st
        |  WHERE from_state IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT from_state, CAST(SUM(n) AS BIGINT) AS tot
        |  FROM c GROUP BY 1)
        |SELECT c.from_state AS from_state, c.to_state, c.n,
        |  CAST(c.n AS DOUBLE) / CAST(tot.tot AS DOUBLE) AS prob
        |FROM c JOIN tot ON c.from_state = tot.from_state
        |ORDER BY c.from_state, c.to_state"""
    ) { (s, d) =>
      graft.pipeline.Behavior.transitionMatrix(
          Tables.events(s, d).withColumn("t", unix_micros(col("ts"))),
          "user_id", "t", "event_id", "event_type")
        .orderBy("from_state", "to_state")
    },

    // 2-D Pareto skyline over (quantity, price): strict dominance,
    // duplicates survive together; comparisons only — no arithmetic.
    // The running max runs over the DISTINCT-X table (50 quantities),
    // never the row count.
    q(
      "q195_skyline",
      """WITH pts AS (SELECT l_quantity AS x, l_extendedprice AS y,
        |    COUNT(*) AS n_points FROM lineitem GROUP BY 1, 2),
        |px AS (SELECT x, MAX(y) AS gy FROM pts GROUP BY 1),
        |f AS (SELECT x, gy, MAX(gy) OVER (ORDER BY x DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS br
        |  FROM px)
        |SELECT pts.x AS l_quantity, pts.y AS l_extendedprice,
        |  pts.n_points
        |FROM pts JOIN f ON pts.x = f.x AND pts.y = f.gy
        |WHERE br IS NULL OR gy > br
        |ORDER BY l_quantity"""
    ) { (s, d) =>
      graft.operators.Skyline.skyline2D(
          Tables.lineitem(s, d), "l_quantity", "l_extendedprice")
        .orderBy("l_quantity")
    },

    // Spearman rank correlation: Pearson over midrank-transformed
    // columns. Spark ranks via the distributed bucketed prefix count
    // (never a global single-partition window); the oracle's one
    // RANK() window produces the IDENTICAL exact half-integer
    // midranks, then both sides run the q150 exact-DECIMAL Pearson —
    // reduction-order-free sums, IEEE formula on identical numbers.
    q(
      "q197_spearman",
      s"""WITH r AS (SELECT
         |  RANK() OVER (ORDER BY l_quantity)
         |    + (COUNT(*) OVER (PARTITION BY l_quantity) - 1) / 2.0 AS rq,
         |  RANK() OVER (ORDER BY l_extendedprice)
         |    + (COUNT(*) OVER (PARTITION BY l_extendedprice) - 1) / 2.0
         |      AS rp,
         |  RANK() OVER (ORDER BY l_discount)
         |    + (COUNT(*) OVER (PARTITION BY l_discount) - 1) / 2.0 AS rd
         |FROM lineitem),
         |s AS (SELECT
         |  CAST(COUNT(*) AS DOUBLE) AS n,
         |  CAST(SUM(CAST(rq AS DECIMAL(18,4))) AS DOUBLE) AS s_q,
         |  CAST(SUM(CAST(rq AS DECIMAL(24,4))
         |    * CAST(rq AS DECIMAL(18,4))) AS DOUBLE) AS ss_q,
         |  CAST(SUM(CAST(rp AS DECIMAL(18,4))) AS DOUBLE) AS s_p,
         |  CAST(SUM(CAST(rp AS DECIMAL(24,4))
         |    * CAST(rp AS DECIMAL(18,4))) AS DOUBLE) AS ss_p,
         |  CAST(SUM(CAST(rd AS DECIMAL(18,4))) AS DOUBLE) AS s_d,
         |  CAST(SUM(CAST(rd AS DECIMAL(24,4))
         |    * CAST(rd AS DECIMAL(18,4))) AS DOUBLE) AS ss_d,
         |  CAST(SUM(CAST(rq AS DECIMAL(24,4))
         |    * CAST(rp AS DECIMAL(18,4))) AS DOUBLE) AS sp_qp,
         |  CAST(SUM(CAST(rq AS DECIMAL(24,4))
         |    * CAST(rd AS DECIMAL(18,4))) AS DOUBLE) AS sp_qd,
         |  CAST(SUM(CAST(rp AS DECIMAL(24,4))
         |    * CAST(rd AS DECIMAL(18,4))) AS DOUBLE) AS sp_pd
         |FROM r)
         |${corrMatrixSql("rho")}"""
    ) { (s, d) =>
      graft.pipeline.Profiler.spearmanMatrix(
          Tables.lineitem(s, d),
          Seq("l_quantity", "l_extendedprice", "l_discount"))
        .orderBy("col_a", "col_b")
    },

    // Mutual information between two metadata facets (lang × source):
    // one contingency shuffle, broadcast marginals, per-cell PMI and
    // MI contribution. Everything feeding ln() is integer-exact cast
    // to double; the corpus total sums DECIMAL(28,9)-quantized
    // contributions so it is reduction-order-free.
    q(
      "q198_mutual_info",
      """WITH cells AS (SELECT lang AS val_a, source AS val_b,
        |    COUNT(*) AS n_ab
        |  FROM documents GROUP BY 1, 2),
        |ma AS (SELECT val_a, CAST(SUM(n_ab) AS BIGINT) AS n_a
        |  FROM cells GROUP BY 1),
        |mb AS (SELECT val_b, CAST(SUM(n_ab) AS BIGINT) AS n_b
        |  FROM cells GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n_ab) AS BIGINT) AS n FROM cells),
        |j AS (SELECT val_a, val_b, n_ab, n_a, n_b, n,
        |    (CAST(n_ab AS DOUBLE) * CAST(n AS DOUBLE))
        |      / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) AS arg
        |  FROM cells JOIN ma USING (val_a) JOIN mb USING (val_b)
        |  CROSS JOIN tot),
        |c AS (SELECT val_a, val_b, n_ab, n_a, n_b,
        |    ROUND(ln(arg), 6) AS pmi,
        |    ROUND(CAST(n_ab AS DOUBLE) / CAST(n AS DOUBLE) * ln(arg), 6)
        |      AS mi_contrib,
        |    CAST(CAST(n_ab AS DOUBLE) / CAST(n AS DOUBLE) * ln(arg)
        |      AS DECIMAL(28,9)) AS c9
        |  FROM j),
        |t AS (SELECT CAST(SUM(c9) AS DOUBLE) AS mi_total FROM c)
        |SELECT val_a, val_b, CAST(n_ab AS BIGINT) AS n_ab, n_a, n_b,
        |  pmi, mi_contrib, mi_total
        |FROM c CROSS JOIN t ORDER BY val_a, val_b"""
    ) { (s, d) =>
      graft.pipeline.Profiler.mutualInformation(
          Tables.documents(s, d), "lang", "source")
        .orderBy("val_a", "val_b")
    },

    // Per-series autocorrelation at lags 1..3: one keyed window sort
    // (high-cardinality sensor key) shared by all lags, one aggregate
    // of conditional sums. Values are integer µ-units (floor(v·1e6) —
    // exact on both engines, unlike double→DECIMAL round-half casts),
    // so every sum is order-free-exact and the acf is IEEE on
    // identical numbers, ROUND(6).
    q(
      "q199_acf",
      s"""WITH $lagMomentCtes
         |SELECT sensor_id, lag_k, n_pairs, acf FROM (
         |  SELECT sensor_id, 1 AS lag_k, CAST(n1 AS BIGINT) AS n_pairs,
         |    ROUND((n1 * sxy1 - sx1 * sy1)
         |      / (sqrt(n1 * sxx1 - sx1 * sx1)
         |         * sqrt(n1 * syy1 - sy1 * sy1)), 6) AS acf FROM a
         |  UNION ALL
         |  SELECT sensor_id, 2, CAST(n2 AS BIGINT),
         |    ROUND((n2 * sxy2 - sx2 * sy2)
         |      / (sqrt(n2 * sxx2 - sx2 * sx2)
         |         * sqrt(n2 * syy2 - sy2 * sy2)), 6) FROM a
         |  UNION ALL
         |  SELECT sensor_id, 3, CAST(n3 AS BIGINT),
         |    ROUND((n3 * sxy3 - sx3 * sy3)
         |      / (sqrt(n3 * sxx3 - sx3 * sx3)
         |         * sqrt(n3 * syy3 - sy3 * sy3)), 6) FROM a)
         |ORDER BY sensor_id, lag_k"""
    ) { (s, d) =>
      graft.pipeline.Profiler.autocorrelation(
          EventsAdapter.samples(s, d),
          "sensor_id", "timestamp_us", "value", maxLag = 3)
        .orderBy("sensor_id", "lag_k")
    },

    // Welch's unequal-variance t-test between every cohort pair: one
    // map-side-combined (n, Σv, Σv²) aggregate in integer µ-units,
    // pair join on the |groups|-bounded stats table. t and the
    // Welch–Satterthwaite df are fixed IEEE shapes on exact sums.
    q(
      "q200_welch_ttest",
      """WITH g AS (SELECT event_type AS grp,
        |    CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(CAST(floor(value * 1000000.0) AS BIGINT)) AS DOUBLE)
        |      AS s,
        |    CAST(SUM(CAST(floor(value * 1000000.0) AS BIGINT)
        |      * CAST(floor(value * 1000000.0) AS BIGINT)) AS DOUBLE)
        |      AS ss
        |  FROM events WHERE value IS NOT NULL GROUP BY 1),
        |p AS (SELECT a.grp AS group_a, b.grp AS group_b,
        |    a.n AS na, a.s AS sa, a.ss AS ssa,
        |    b.n AS nb, b.s AS sb, b.ss AS ssb
        |  FROM g a JOIN g b ON a.grp < b.grp),
        |v AS (SELECT *,
        |    (na * ssa - sa * sa) / (na * (na - 1.0)) AS va,
        |    (nb * ssb - sb * sb) / (nb * (nb - 1.0)) AS vb
        |  FROM p),
        |w AS (SELECT *, va / na AS sea, vb / nb AS seb FROM v)
        |SELECT group_a, group_b,
        |  CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        |  ROUND(sa / na / 1000000.0, 6) AS mean_a,
        |  ROUND(sb / nb / 1000000.0, 6) AS mean_b,
        |  ROUND((sa / na - sb / nb) / sqrt(sea + seb), 6) AS t_stat,
        |  ROUND((sea + seb) * (sea + seb)
        |    / (sea * sea / (na - 1.0) + seb * seb / (nb - 1.0)), 6)
        |    AS df
        |FROM w ORDER BY group_a, group_b"""
    ) { (s, d) =>
      graft.pipeline.Profiler.welchTTest(
          Tables.events(s, d), "event_type", "value")
        .orderBy("group_a", "group_b")
    },

    // SAX symbolization: per-series z-normalized PAA quantized through
    // the Gaussian quartile breakpoints into a letter word. Everything
    // before the final divisions is exact integer math (µ-units,
    // integer-division segment assignment), so the breakpoint
    // comparisons replay bit-for-bit; zero-variance series map to 'b'
    // (z is NULL via zero-divisor division on both engines).
    q(
      "q201_sax",
      """WITH s AS (SELECT event_type || ' ' || user_id AS sensor_id,
        |    epoch_us(ts) AS t,
        |    CAST(floor(value * 1000000.0) AS BIGINT) AS v
        |  FROM events),
        |b AS (SELECT sensor_id, v,
        |    ROW_NUMBER() OVER (PARTITION BY sensor_id ORDER BY t, v) - 1
        |      AS i,
        |    COUNT(*) OVER (PARTITION BY sensor_id) AS n
        |  FROM s),
        |sg AS (SELECT sensor_id, n, (i * 4) // n AS seg,
        |    COUNT(*) AS c, SUM(v) AS sv, SUM(v * v) AS svv
        |  FROM b GROUP BY 1, 2, 3),
        |st AS (SELECT sensor_id, n, seg, c, sv,
        |    CAST(SUM(sv) OVER (PARTITION BY sensor_id) AS DOUBLE) AS ss,
        |    CAST(SUM(svv) OVER (PARTITION BY sensor_id) AS DOUBLE)
        |      AS sss,
        |    CAST(n AS DOUBLE) AS nd
        |  FROM sg),
        |z AS (SELECT sensor_id, n, seg,
        |    (CAST(sv AS DOUBLE) / c - ss / nd)
        |      / sqrt((nd * sss - ss * ss) / (nd * (nd - 1.0))) AS zz
        |  FROM st),
        |sym AS (SELECT sensor_id, n, seg,
        |    CASE WHEN zz IS NULL THEN 'b'
        |         WHEN zz < -0.6745 THEN 'a'
        |         WHEN zz < 0.0 THEN 'b'
        |         WHEN zz < 0.6745 THEN 'c'
        |         ELSE 'd' END AS sym
        |  FROM z)
        |SELECT sensor_id, MAX(n) AS n,
        |  string_agg(sym, '' ORDER BY seg) AS sax
        |FROM sym GROUP BY 1 ORDER BY sensor_id"""
    ) { (s, d) =>
      graft.operators.Sax.symbolize(
          EventsAdapter.samples(s, d), segments = 4)
        .orderBy("sensor_id")
    },

    // Gini coefficient of per-customer spend: rank-weighted sum on the
    // DISTINCT-value table (tie blocks contribute v·(mC + m(m+1)/2),
    // order-free), integer cents end to end, one IEEE shape at the top.
    q(
      "q203_gini",
      s"""WITH $spendRankCtes,
         |agg AS (SELECT CAST(SUM(m) AS BIGINT) AS n,
         |    CAST(SUM(CAST(v AS HUGEINT) * m) AS DOUBLE) AS sx,
         |    CAST(SUM(CAST(v AS HUGEINT)
         |      * (CAST(m AS HUGEINT) * cb
         |         + (CAST(m AS HUGEINT) * (m + 1)) // 2)) AS DOUBLE)
         |      AS six
         |  FROM r)
         |SELECT n, sx AS units_total,
         |  ROUND((2.0 * six - (CAST(n AS DOUBLE) + 1.0) * sx)
         |    / (CAST(n AS DOUBLE) * sx), 6) AS gini
         |FROM agg"""
    ) { (s, d) =>
      val spend = Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg((sum(col("o_totalprice").cast("decimal(18,2)")) * 100)
          .cast("long").as("spend_cents"))
      graft.pipeline.Profiler.gini(spend, "spend_cents")
    },

    // Entropy rate of the empirical Markov chain (q192's counts): each
    // −p·ln p term quantizes to DECIMAL(28,12) before the alphabet-
    // bounded sums, so no float reduction order leaks anywhere.
    q(
      "q205_entropy_rate",
      """WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_id,
        |    event_type FROM events),
        |st AS (SELECT event_type AS t2,
        |    LAG(event_type) OVER (PARTITION BY user_id
        |      ORDER BY t, event_id) AS f FROM e),
        |c AS (SELECT f, t2, COUNT(*) AS n FROM st
        |  WHERE f IS NOT NULL GROUP BY 1, 2),
        |tt AS (SELECT f, CAST(SUM(n) AS BIGINT) AS tot FROM c
        |  GROUP BY 1),
        |terms AS (SELECT c.f, c.n,
        |    CAST(-(CAST(c.n AS DOUBLE) / CAST(tt.tot AS DOUBLE))
        |      * ln(CAST(c.n AS DOUBLE) / CAST(tt.tot AS DOUBLE))
        |      AS DECIMAL(28,12)) AS term
        |  FROM c JOIN tt USING (f)),
        |ps AS (SELECT f AS from_state, CAST(SUM(n) AS BIGINT)
        |    AS n_steps, CAST(SUM(term) AS DOUBLE) AS h_state
        |  FROM terms GROUP BY 1),
        |al AS (SELECT CAST(SUM(n_steps) AS BIGINT) AS alln FROM ps),
        |wp AS (SELECT ps.*, CAST(n_steps AS DOUBLE)
        |    / CAST(alln AS DOUBLE) AS pi FROM ps CROSS JOIN al),
        |rt AS (SELECT CAST(SUM(CAST(pi * h_state AS DECIMAL(28,12)))
        |    AS DOUBLE) AS h_rate FROM wp)
        |SELECT from_state, n_steps, ROUND(pi, 6) AS pi,
        |  ROUND(h_state, 6) AS h_state,
        |  ROUND(pi * h_state, 6) AS h_contrib,
        |  ROUND(h_rate, 6) AS h_rate
        |FROM wp CROSS JOIN rt ORDER BY from_state"""
    ) { (s, d) =>
      graft.pipeline.Behavior.entropyRate(
          Tables.events(s, d).withColumn("t", unix_micros(col("ts"))),
          "user_id", "t", "event_id", "event_type")
        .orderBy("from_state")
    },

    // Kaplan–Meier survival over user lifetimes (12-hour censor
    // horizon — the 7-day default censors EVERY user in these draws,
    // making the gate row-free; 12 h yields a real death/censored mix
    // at all three SFs): everything after the user-keyed (first, last)
    // aggregate runs on the span-bounded distinct-duration table; the
    // log-product prefix accumulates DECIMAL(28,12)-quantized terms.
    q(
      "q206_kaplan_meier",
      s"""WITH $riskSetCtes,
         |dth AS (SELECT dur, d, n - cb AS nar,
         |    CASE WHEN d < n - cb THEN
         |      CAST(ln(1.0::DOUBLE - CAST(d AS DOUBLE)
         |        / CAST(n - cb AS DOUBLE)) AS DECIMAL(28,12))
         |    ELSE CAST(0.0 AS DECIMAL(28,12)) END AS term
         |  FROM r WHERE d > 0),
         |fin AS (SELECT dur, nar, d,
         |    MAX(CASE WHEN d = nar THEN 1 ELSE 0 END) OVER (
         |      ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING
         |      AND CURRENT ROW) AS z,
         |    SUM(term) OVER (ORDER BY dur ROWS BETWEEN UNBOUNDED
         |      PRECEDING AND CURRENT ROW) AS cum
         |  FROM dth)
         |SELECT dur AS duration_days, nar AS n_at_risk, d AS n_deaths,
         |  CASE WHEN z = 1 THEN 0.0::DOUBLE
         |       ELSE ROUND(exp(CAST(cum AS DOUBLE)), 6) END AS survival
         |FROM fin ORDER BY duration_days"""
    ) { (s, d) =>
      graft.pipeline.Behavior.kaplanMeier(
          Tables.events(s, d)
            .select(col("user_id"), unix_micros(col("ts")).as("t_us")),
          "user_id", "t_us", censorHorizonUs = 43200000000L)
        .orderBy("duration_days")
    },

    // Per-label RMS dispersion via Σ|x−c|²/n = Σ|x|²/n − |Σx|²/n² —
    // no second pass over the vectors; same exact integer sum kernel.
    q(
      "q208_label_dispersion",
      """WITH e AS (SELECT label, embedding::DOUBLE[] AS v
        |  FROM embeddings),
        |dx AS (SELECT label, i.i AS dim,
        |    CAST(floor(v[i.i] * 1000000.0) AS BIGINT) AS q
        |  FROM e CROSS JOIN (SELECT UNNEST(range(1, 65)) AS i) i),
        |s AS (SELECT label, dim, COUNT(*) AS n, SUM(q) AS sq,
        |    SUM(q * q) AS sqq
        |  FROM dx GROUP BY 1, 2),
        |g AS (SELECT label, MAX(n) AS n,
        |    CAST(SUM(sqq) AS DOUBLE) AS ssq,
        |    CAST(SUM(CAST(sq AS HUGEINT) * sq) AS DOUBLE) AS s2
        |  FROM s GROUP BY 1)
        |SELECT label, CAST(n AS BIGINT) AS n,
        |  ROUND(sqrt(ssq / CAST(n AS DOUBLE)
        |    - s2 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
        |    / 1000000.0, 6) AS rms_dispersion
        |FROM g ORDER BY label"""
    ) { (s, d) =>
      graft.pipeline.Similarity.labelDispersion(
          Tables.embeddings(s, d)
            .select(col("label"), col("embedding").as("vec")))
        .orderBy("label")
    },

    // Cross-correlation click↔view at hourly-bucket lags −2..+2: each
    // side is one exact µ-unit total per hour, lag alignment is an
    // equi-join on the shifted bucket, Pearson from DECIMAL sums.
    q(
      "q209_cross_corr",
      """WITH base AS (SELECT event_type AS ty,
        |    epoch_us(ts) // 3600000000 AS b,
        |    SUM(CAST(floor(value * 1000000.0) AS BIGINT)) AS s
        |  FROM events WHERE event_type IN ('click', 'view')
        |  GROUP BY 1, 2),
        |a AS (SELECT b, s AS sa FROM base WHERE ty = 'click'),
        |bb AS (SELECT b, s AS sb FROM base WHERE ty = 'view'),
        |lg AS (SELECT UNNEST([-2, -1, 0, 1, 2]) AS lag_k),
        |p AS (SELECT lg.lag_k, a.sa, bb.sb FROM a CROSS JOIN lg
        |  JOIN bb ON a.b + lg.lag_k = bb.b),
        |ag AS (SELECT lag_k, CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(sa) AS DOUBLE) AS sx,
        |    CAST(SUM(sb) AS DOUBLE) AS sy,
        |    CAST(SUM(sa * sa) AS DOUBLE) AS sxx,
        |    CAST(SUM(sb * sb) AS DOUBLE) AS syy,
        |    CAST(SUM(sa * sb) AS DOUBLE) AS sxy
        |  FROM p GROUP BY 1)
        |SELECT lag_k, CAST(n AS BIGINT) AS n_buckets,
        |  ROUND((n * sxy - sx * sy) / (sqrt(n * sxx - sx * sx)
        |    * sqrt(n * syy - sy * sy)), 6) AS xcorr
        |FROM ag ORDER BY lag_k"""
    ) { (s, d) =>
      graft.pipeline.Profiler.crossCorrelation(
          Tables.events(s, d).withColumn("t", unix_micros(col("ts"))),
          "event_type", "t", "value", "click", "view")
        .orderBy("lag_k")
    },

    // Lorenz decile table over per-customer spend: value blocks
    // intersect decile rank windows arithmetically on the
    // distinct-value table (bounded ×10 fan-out, no per-row decile
    // assignment); exact DECIMAL masses, single-division shares.
    q(
      "q210_lorenz",
      s"""WITH $spendRankCtes,
         |tot AS (SELECT CAST(SUM(m) AS BIGINT) AS n,
         |    SUM(CAST(v AS HUGEINT) * m) AS mass FROM vc),
         |dec AS (SELECT UNNEST(range(10)) AS decile),
         |cells AS (SELECT dec.decile, r.v,
         |    GREATEST(0, LEAST(r.cb + r.m, ((dec.decile + 1) * tot.n)
         |        // 10) - GREATEST(r.cb, (dec.decile * tot.n) // 10))
         |      AS cnt,
         |    tot.mass AS tm
         |  FROM r CROSS JOIN tot CROSS JOIN dec),
         |byd AS (SELECT decile, CAST(SUM(cnt) AS BIGINT) AS n_rows,
         |    SUM(CAST(v AS HUGEINT) * cnt) AS dm, MAX(tm) AS tm
         |  FROM cells WHERE cnt > 0 GROUP BY 1),
         |fin AS (SELECT decile, n_rows, dm, tm,
         |    SUM(dm) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED
         |      PRECEDING AND CURRENT ROW) AS cm
         |  FROM byd)
         |SELECT CAST(decile AS INTEGER) AS decile, n_rows,
         |  CAST(dm AS DOUBLE) AS units_mass,
         |  ROUND(CAST(dm AS DOUBLE) / CAST(tm AS DOUBLE), 6) AS share,
         |  ROUND(CAST(cm AS DOUBLE) / CAST(tm AS DOUBLE), 6)
         |    AS cum_share
         |FROM fin ORDER BY decile"""
    ) { (s, d) =>
      val spend = Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg((sum(col("o_totalprice").cast("decimal(18,2)")) * 100)
          .cast("long").as("spend_cents"))
      graft.pipeline.Profiler.lorenzDeciles(spend, "spend_cents")
        .orderBy("decile")
    },

    // Fano factor per sensor over hourly buckets: var/mean of bucket
    // counts folded into one division of exact integer sums; empty
    // in-span buckets enter arithmetically (H = hi−lo+1), the span
    // grid is never materialized.
    q(
      "q211_fano",
      """WITH s AS (SELECT event_type || ' ' || user_id AS sensor_id,
        |    epoch_us(ts) // 3600000000 AS b FROM events),
        |c AS (SELECT sensor_id, b, COUNT(*) AS c FROM s GROUP BY 1, 2),
        |g AS (SELECT sensor_id, MIN(b) AS lo, MAX(b) AS hi,
        |    CAST(SUM(c) AS BIGINT) AS sc,
        |    CAST(SUM(c * c) AS DOUBLE) AS scc
        |  FROM c GROUP BY 1)
        |SELECT sensor_id, sc AS n_events, hi - lo + 1 AS n_buckets,
        |  ROUND(CAST(sc AS DOUBLE) / CAST(hi - lo + 1 AS DOUBLE), 6)
        |    AS mean_rate,
        |  ROUND((CAST(hi - lo + 1 AS DOUBLE) * scc
        |    - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE))
        |    / ((CAST(hi - lo + 1 AS DOUBLE) - 1.0)
        |       * CAST(sc AS DOUBLE)), 6) AS fano
        |FROM g ORDER BY sensor_id"""
    ) { (s, d) =>
      graft.pipeline.Profiler.fanoFactor(
          EventsAdapter.samples(s, d), "sensor_id", "timestamp_us")
        .orderBy("sensor_id")
    },

    // Binary-segmentation change point per sensor: candidate SSEs are
    // fixed IEEE shapes on exact µ-unit prefix sums; (sse, idx)
    // min-struct argmin replays bit-for-bit; outputs un-rounded.
    q(
      "q218_binseg",
      """WITH s AS (SELECT event_type || ' ' || user_id AS sensor_id,
        |    epoch_us(ts) AS t,
        |    CAST(floor(value * 1000000.0) AS BIGINT) AS v FROM events),
        |p AS (SELECT sensor_id, t, v,
        |    ROW_NUMBER() OVER (PARTITION BY sensor_id ORDER BY t, v)
        |      AS i,
        |    SUM(CAST(v AS HUGEINT)) OVER (PARTITION BY sensor_id
        |      ORDER BY t, v ROWS BETWEEN UNBOUNDED PRECEDING AND
        |      CURRENT ROW) AS s,
        |    SUM(CAST(v AS HUGEINT) * v) OVER (PARTITION BY sensor_id
        |      ORDER BY t, v ROWS BETWEEN UNBOUNDED PRECEDING AND
        |      CURRENT ROW) AS ss,
        |    COUNT(*) OVER (PARTITION BY sensor_id) AS n,
        |    SUM(CAST(v AS HUGEINT)) OVER (PARTITION BY sensor_id)
        |      AS sn,
        |    SUM(CAST(v AS HUGEINT) * v) OVER (PARTITION BY sensor_id)
        |      AS ssn
        |  FROM s),
        |cand AS (SELECT * FROM p WHERE n >= 2 AND i < n),
        |sc AS (SELECT sensor_id, t, i, n,
        |    CAST(ssn AS DOUBLE) - CAST(sn AS DOUBLE)
        |      * CAST(sn AS DOUBLE) / CAST(n AS DOUBLE) AS sse_total,
        |    (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
        |       / CAST(i AS DOUBLE))
        |    + ((CAST(ssn AS DOUBLE) - CAST(ss AS DOUBLE))
        |       - (CAST(sn AS DOUBLE) - CAST(s AS DOUBLE))
        |         * (CAST(sn AS DOUBLE) - CAST(s AS DOUBLE))
        |         / (CAST(n AS DOUBLE) - CAST(i AS DOUBLE))) AS sse
        |  FROM cand),
        |b AS (SELECT sensor_id, t, i, n, sse_total, sse,
        |    ROW_NUMBER() OVER (PARTITION BY sensor_id
        |      ORDER BY sse, i) AS rnk FROM sc)
        |SELECT sensor_id, CAST(n AS BIGINT) AS n,
        |  CAST(i AS BIGINT) AS split_idx, t AS t_split,
        |  sse_total, sse_total - sse AS gain
        |FROM b WHERE rnk = 1 ORDER BY sensor_id"""
    ) { (s, d) =>
      graft.operators.ChangePoint.binarySegment(
          EventsAdapter.samples(s, d))
        .orderBy("sensor_id")
    },

    // Two-level Haar energy per sensor: exact integer numerators in
    // DECIMAL sums, dyadic denominators divide once at the end.
    q(
      "q222_haar_energy",
      """WITH s AS (SELECT event_type || ' ' || user_id AS sensor_id,
        |    epoch_us(ts) AS t,
        |    CAST(floor(value * 1000000.0) AS BIGINT) AS v FROM events),
        |b AS (SELECT sensor_id, v,
        |    ROW_NUMBER() OVER (PARTITION BY sensor_id ORDER BY t, v) - 1
        |      AS i
        |  FROM s),
        |l1 AS (SELECT sensor_id, i // 2 AS j,
        |    MAX(CASE WHEN i % 2 = 0 THEN v END) AS xe,
        |    MAX(CASE WHEN i % 2 = 1 THEN v END) AS xo,
        |    COUNT(*) AS c
        |  FROM b GROUP BY 1, 2),
        |p1 AS (SELECT sensor_id, j, xe - xo AS d, xe + xo AS sm
        |  FROM l1 WHERE c = 2),
        |l2 AS (SELECT sensor_id, j // 2 AS k,
        |    MAX(CASE WHEN j % 2 = 0 THEN sm END) AS se,
        |    MAX(CASE WHEN j % 2 = 1 THEN sm END) AS so,
        |    COUNT(*) AS c
        |  FROM p1 GROUP BY 1, 2),
        |p2 AS (SELECT sensor_id, se - so AS d2 FROM l2 WHERE c = 2),
        |e1 AS (SELECT sensor_id, COUNT(*) AS np1,
        |    CAST(SUM(CAST(d AS HUGEINT) * d) AS DOUBLE) AS sd1
        |  FROM p1 GROUP BY 1),
        |e2 AS (SELECT sensor_id, COUNT(*) AS np2,
        |    CAST(SUM(CAST(d2 AS HUGEINT) * d2) AS DOUBLE) AS sd2
        |  FROM p2 GROUP BY 1),
        |nn AS (SELECT sensor_id, COUNT(*) AS n FROM s GROUP BY 1)
        |SELECT nn.sensor_id, nn.n,
        |  COALESCE(np1, 0) AS n_pairs1, COALESCE(np2, 0) AS n_pairs2,
        |  sd1 / 4.0 / 1000000000000.0 AS e1,
        |  sd2 / 16.0 / 1000000000000.0 AS e2
        |FROM nn LEFT JOIN e1 ON nn.sensor_id = e1.sensor_id
        |LEFT JOIN e2 ON nn.sensor_id = e2.sensor_id
        |ORDER BY nn.sensor_id"""
    ) { (s, d) =>
      graft.operators.Wavelet.haarEnergies(EventsAdapter.samples(s, d))
        .orderBy("sensor_id")
    },

    // Per-series OLS trend: timestamps re-based to each series' start
    // (epoch-µs squares would overflow AND catastrophically cancel);
    // five DECIMAL-exact sums, slope/intercept fixed IEEE shapes.
    q(
      "q224_trend",
      """WITH s AS (SELECT event_type || ' ' || user_id AS sensor_id,
        |    epoch_us(ts) AS t,
        |    CAST(floor(value * 1000000.0) AS BIGINT) AS v FROM events),
        |m AS (SELECT sensor_id, MIN(t) AS t0 FROM s GROUP BY 1),
        |r AS (SELECT s.sensor_id, s.t - m.t0 AS dt, s.v
        |  FROM s JOIN m USING (sensor_id)),
        |g AS (SELECT sensor_id, CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(dt) AS DOUBLE) AS st,
        |    CAST(SUM(v) AS DOUBLE) AS sv,
        |    CAST(SUM(CAST(dt AS HUGEINT) * dt) AS DOUBLE) AS stt,
        |    CAST(SUM(CAST(dt AS HUGEINT) * v) AS DOUBLE) AS stv
        |  FROM r GROUP BY 1)
        |SELECT sensor_id, CAST(n AS BIGINT) AS n,
        |  ROUND((n * stv - st * sv) / (n * stt - st * st)
        |    * 86400000000.0 / 1000000.0, 6) AS slope_per_day,
        |  ROUND((sv - (n * stv - st * sv) / (n * stt - st * st) * st)
        |    / n / 1000000.0, 6) AS intercept
        |FROM g ORDER BY sensor_id"""
    ) { (s, d) =>
      graft.pipeline.Profiler.trendOls(
          EventsAdapter.samples(s, d),
          "sensor_id", "timestamp_us", "value")
        .orderBy("sensor_id")
    },

    // QQ table click vs view: both cohorts' quantile arrays from ONE
    // conditional aggregate; exact percentile oracle surface.
    q(
      "q225_qq_table",
      """WITH q AS (SELECT
        |  quantile_cont(CASE WHEN event_type = 'click' THEN value END,
        |    [0.1, 0.25, 0.5, 0.75, 0.9]) AS qa,
        |  quantile_cont(CASE WHEN event_type = 'view' THEN value END,
        |    [0.1, 0.25, 0.5, 0.75, 0.9]) AS qb
        |FROM events)
        |SELECT 0.1::DOUBLE AS p, ROUND(qa[1], 6) AS q_a,
        |  ROUND(qb[1], 6) AS q_b, ROUND(qa[1] - qb[1], 6) AS diff
        |FROM q
        |UNION ALL SELECT 0.25::DOUBLE, ROUND(qa[2], 6),
        |  ROUND(qb[2], 6), ROUND(qa[2] - qb[2], 6) FROM q
        |UNION ALL SELECT 0.5::DOUBLE, ROUND(qa[3], 6),
        |  ROUND(qb[3], 6), ROUND(qa[3] - qb[3], 6) FROM q
        |UNION ALL SELECT 0.75::DOUBLE, ROUND(qa[4], 6),
        |  ROUND(qb[4], 6), ROUND(qa[4] - qb[4], 6) FROM q
        |UNION ALL SELECT 0.9::DOUBLE, ROUND(qa[5], 6),
        |  ROUND(qb[5], 6), ROUND(qa[5] - qb[5], 6) FROM q
        |ORDER BY p"""
    ) { (s, d) =>
      graft.pipeline.Profiler.qqTable(
          Tables.events(s, d), "event_type", "value",
          "click", "view", exact = true)
        .orderBy("p")
    },

    // Median-of-means robust mean: deterministic md5 bucketing, exact
    // bucket means, element-exact median over odd k.
    q(
      "q227_median_of_means",
      """WITH b AS (SELECT
        |    ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))
        |      ::BIGINT % 9 AS bk,
        |    CAST(floor(value * 1000000.0) AS BIGINT) AS v
        |  FROM events),
        |m AS (SELECT bk, COUNT(*) AS n, SUM(v) AS s,
        |    CAST(SUM(v) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mn
        |  FROM b GROUP BY 1)
        |SELECT 9 AS k, CAST(SUM(n) AS BIGINT) AS n,
        |  ROUND(quantile_cont(mn, 0.5) / 1000000.0, 6) AS mom_mean,
        |  ROUND(CAST(SUM(s) AS DOUBLE) / CAST(SUM(n) AS DOUBLE)
        |    / 1000000.0, 6) AS plain_mean
        |FROM m"""
    ) { (s, d) =>
      graft.pipeline.Profiler.medianOfMeans(
          Tables.events(s, d), "event_id", "value")
    },

    // Simpson's-paradox screen: per-stratum exact-decimal Pearson vs
    // the pooled correlation, sign-flip flag per stratum.
    q(
      "q228_simpson",
      """WITH s AS (SELECT l_returnflag AS stratum,
        |    CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(12,4))) AS DOUBLE)
        |      AS sa,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(24,4))
        |      * CAST(l_quantity AS DECIMAL(12,4))) AS DOUBLE) AS saa,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))) AS DOUBLE)
        |      AS sb,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(24,4))
        |      * CAST(l_extendedprice AS DECIMAL(12,4))) AS DOUBLE)
        |      AS sbb,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(24,4))
        |      * CAST(l_extendedprice AS DECIMAL(12,4))) AS DOUBLE)
        |      AS sab
        |  FROM lineitem GROUP BY 1
        |  UNION ALL
        |  SELECT 'ALL', CAST(COUNT(*) AS DOUBLE),
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(12,4))) AS DOUBLE),
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(24,4))
        |      * CAST(l_quantity AS DECIMAL(12,4))) AS DOUBLE),
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))) AS DOUBLE),
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(24,4))
        |      * CAST(l_extendedprice AS DECIMAL(12,4))) AS DOUBLE),
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(24,4))
        |      * CAST(l_extendedprice AS DECIMAL(12,4))) AS DOUBLE)
        |  FROM lineitem),
        |c AS (SELECT stratum, CAST(n AS BIGINT) AS n,
        |    ROUND((n * sab - sa * sb)
        |      / sqrt((n * saa - sa * sa) * (n * sbb - sb * sb)), 6)
        |      AS corr
        |  FROM s),
        |o AS (SELECT corr AS oc FROM c WHERE stratum = 'ALL')
        |SELECT c.stratum, c.n, c.corr,
        |  CASE WHEN c.stratum = 'ALL' THEN 0
        |       WHEN (c.corr >= 0) <> (o.oc >= 0) THEN 1 ELSE 0 END
        |    AS sign_flip
        |FROM c CROSS JOIN o ORDER BY stratum"""
    ) { (s, d) =>
      val li = Tables.lineitem(s, d)
      val strat = graft.pipeline.Profiler.correlationByGroup(
        li, "l_returnflag", "l_quantity", "l_extendedprice",
        exactDecimal = true)
        .withColumnRenamed("l_returnflag", "stratum")
      val overall = graft.pipeline.Profiler.correlationByGroup(
        li.withColumn("__g", lit("ALL")), "__g",
        "l_quantity", "l_extendedprice", exactDecimal = true)
        .withColumnRenamed("__g", "stratum")
      val both = strat.unionAll(overall)
      val oc = broadcast(overall.select(col("corr").as("__oc")))
      both.crossJoin(oc)
        .select(col("stratum"), col("n"), col("corr"),
          when(col("stratum") === "ALL", lit(0))
            .when((col("corr") >= 0) =!= (col("__oc") >= 0), lit(1))
            .otherwise(lit(0)).as("sign_flip"))
        .orderBy("stratum")
    },

    // MASE forecast baselines per sensor: one keyed window shared by
    // the naive and seasonal lags; exact µ-unit |Δ| sums in DECIMAL.
    q(
      "q230_mase_base",
      """WITH s AS (SELECT event_type || ' ' || user_id AS sensor_id,
        |    epoch_us(ts) AS t,
        |    CAST(floor(value * 1000000.0) AS BIGINT) AS v FROM events),
        |l AS (SELECT sensor_id,
        |    abs(v - LAG(v, 1) OVER w) AS d1,
        |    abs(v - LAG(v, 7) OVER w) AS dm
        |  FROM s WINDOW w AS (PARTITION BY sensor_id ORDER BY t, v)),
        |a AS (SELECT sensor_id, COUNT(*) AS n, COUNT(d1) AS n1,
        |    CAST(SUM(d1) AS DOUBLE) AS s1, COUNT(dm) AS nm,
        |    CAST(SUM(dm) AS DOUBLE) AS sm
        |  FROM l GROUP BY 1)
        |SELECT sensor_id, n,
        |  s1 / CAST(n1 AS DOUBLE) / 1000000.0 AS mae_naive,
        |  sm / CAST(nm AS DOUBLE) / 1000000.0 AS mae_seasonal,
        |  (sm / CAST(nm AS DOUBLE)) / (s1 / CAST(n1 AS DOUBLE))
        |    AS seasonal_ratio
        |FROM a ORDER BY sensor_id"""
    ) { (s, d) =>
      graft.pipeline.Profiler.maseBaselines(
          EventsAdapter.samples(s, d),
          "sensor_id", "timestamp_us", "value")
        .orderBy("sensor_id")
    },

    // Audience discovery curve per event type: first-seen users per
    // day + cumulative uniques over the span-bounded day grid.
    q(
      "q243_discovery_curve",
      """WITH fd AS (SELECT event_type, user_id,
        |    MIN(epoch_us(ts) // 86400000000) AS d0
        |  FROM events GROUP BY 1, 2),
        |nd AS (SELECT event_type, d0 AS day, COUNT(*) AS n_new
        |  FROM fd GROUP BY 1, 2)
        |SELECT event_type, day, n_new,
        |  CAST(SUM(n_new) OVER (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS cum_users
        |FROM nd ORDER BY event_type, day"""
    ) { (s, d) =>
      graft.pipeline.Behavior.discoveryCurve(
          Tables.events(s, d).withColumn("t", unix_micros(col("ts"))),
          "event_type", "user_id", "t")
        .orderBy("event_type", "day")
    },

    // Daily percentile bands — the monitoring chart's data: per-day
    // p10/p50/p90 of the metric, grouped exact/approx split.
    q(
      "q244_percentile_bands",
      """SELECT epoch_us(ts) // 86400000000 AS day, COUNT(*) AS n,
        |  ROUND(quantile_cont(value, 0.1), 6) AS p10,
        |  ROUND(quantile_cont(value, 0.5), 6) AS p50,
        |  ROUND(quantile_cont(value, 0.9), 6) AS p90
        |FROM events GROUP BY 1 ORDER BY day"""
    ) { (s, d) =>
      graft.pipeline.Profiler.quantileProfileGrouped(
          Tables.events(s, d)
            .withColumn("day", expr(
              "unix_micros(ts) div 86400000000")),
          "day", "value", probs = Seq(0.1, 0.5, 0.9), exact = true)
        .orderBy("day")
    },

    // Length-bucket mix: power-of-two token-length buckets from an
    // integer CASE chain (float log2 is not power-exact on every
    // engine); doc and token shares per bucket.
    q("q246_length_mix", lengthMixOracleSql) { (s, d) =>
      TextAnalysis.lengthBucketMix(
          Tables.documents(s, d), "text")
        .orderBy("len_bucket_lo")
    },

    // GROUPING SETS (the general form q12 rollup / q113 cube are
    // special cases of): detail + one subtotal + grand total in ONE
    // Expand-based aggregate — a single shuffle carrying each row once
    // per set, vs three scans for three separate aggregates. Absent
    // levels surface as 'ALL' (the grouping columns are never NULL in
    // the data, so COALESCE is an unambiguous marker).
    q(
      "q278_grouping_sets",
      """SELECT COALESCE(l_returnflag, 'ALL') AS flag,
        |  COALESCE(l_linestatus, 'ALL') AS status,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
        |  (l_returnflag), ())
        |ORDER BY flag, status"""
    ) { (s, d) =>
      Tables.lineitem(s, d)
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_returnflag")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)"))
            .cast("double").as("sum_qty"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("status"),
          col("n"), col("sum_qty"))
        .orderBy("flag", "status")
    },

    // Referential-integrity profile over the star schema's FK edges —
    // the Deequ-style DQ gate a pipeline runs before training-data
    // publication. Child collapsed to distinct keys first (join at key
    // cardinality, never rows×rows); one conditional aggregate per
    // edge. All edges are intact in this data — the zeros ARE the
    // assertion.
    q("q279_ri_orphans", riOracleSql) { (s, d) =>
      graft.pipeline.Profiler.refIntegrity(Seq(
        ("events.user_id->customer", Tables.events(s, d), "user_id",
          Tables.customer(s, d), "c_custkey"),
        ("lineitem.l_orderkey->orders", Tables.lineitem(s, d),
          "l_orderkey", Tables.orders(s, d), "o_orderkey"),
        ("lineitem.l_partkey->part", Tables.lineitem(s, d), "l_partkey",
          Tables.part(s, d), "p_partkey"),
        ("orders.o_custkey->customer", Tables.orders(s, d), "o_custkey",
          Tables.customer(s, d), "c_custkey"),
        ("supplier.s_nationkey->nation", Tables.supplier(s, d),
          "s_nationkey", Tables.nation(s, d), "n_nationkey")))
    },

    // Int8 affine-quantization calibration: per-dimension min/max and
    // scale — the PTQ pre-pass for the q75 int8 serving path. One
    // generate + a d-group map-side-combined aggregate; min/max exact,
    // scale one IEEE division.
    q(
      "q280_quant_calibration",
      """WITH e AS (SELECT embedding::DOUBLE[] AS v FROM embeddings),
        |x AS (SELECT i, v[i] AS vv
        |      FROM e, (SELECT unnest(range(1, 65)) AS i))
        |SELECT CAST(i AS INTEGER) AS dim, MIN(vv) AS vmin, MAX(vv) AS vmax,
        |  (MAX(vv) - MIN(vv)) / 255.0 AS scale
        |FROM x GROUP BY 1 ORDER BY dim"""
    ) { (s, d) =>
      Similarity.quantCalibration(Tables.embeddings(s, d), "embedding")
    },

    // Theil–Sen robust slope of per-nation monthly order counts — the
    // 29%-breakdown trend line OLS (q224) isn't. Pairs form on the
    // PRE-AGGREGATED monthly series (bounded n per group); median =
    // explicit two-middle-rank average, one division per slope.
    q(
      "q286_theil_sen",
      """WITH j AS (SELECT n.n_name AS nation,
        |    CAST(date_part('year', o.o_orderdate) * 12
        |      + date_part('month', o.o_orderdate) AS BIGINT) AS t
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey),
        |m AS (SELECT nation, t, COUNT(*) AS y FROM j GROUP BY 1, 2),
        |p AS (SELECT a.nation,
        |    CAST(b.y - a.y AS DOUBLE) / CAST(b.t - a.t AS DOUBLE)
        |      AS slope, a.t AS ta, b.t AS tb
        |  FROM m a JOIN m b ON a.nation = b.nation AND a.t < b.t),
        |r AS (SELECT nation, slope,
        |    ROW_NUMBER() OVER (PARTITION BY nation
        |      ORDER BY slope, ta, tb) AS rn,
        |    COUNT(*) OVER (PARTITION BY nation) AS np
        |  FROM p)
        |SELECT nation, MAX(np) AS n_pairs,
        |  SUM(slope) / CAST(COUNT(*) AS DOUBLE) AS theil_sen
        |FROM r WHERE rn = (np + 1) // 2 OR rn = (np + 2) // 2
        |GROUP BY nation ORDER BY nation"""
    ) { (s, d) =>
      val j = ordersWithNation(s, d)
        .select(col("n_name").as("nation"),
          (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
            .cast("long").as("t"))
      val m = j.groupBy(col("nation"), col("t"))
        .agg(count(lit(1)).as("y"))
      graft.operators.TheilSen.robustSlope(m, "nation", "t", "y")
    },

    // Duplicated-span coverage per document (the suffix-array substring
    // dedup signal, Lee et al. 2022): fraction of tokens inside an
    // 8-token span occurring ≥2 times in the corpus. Interval-union via
    // gaps-and-islands running max; integer until ONE division.
    q(
      "q292_dup_span_coverage",
      """WITH t AS (SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '\s+') AS toks
        |  FROM documents WHERE length(trim(text)) > 0),
        |n AS (SELECT doc_id, toks, len(toks) AS n_tokens FROM t
        |  WHERE len(toks) >= 8),
        |sh AS (SELECT doc_id, n_tokens, p,
        |    ('0x' || substr(md5(
        |      array_to_string(list_slice(toks, p + 1, p + 8), ' ')),
        |      1, 15))::BIGINT AS h
        |  FROM n, (SELECT unnest(range(0, 4096)) AS p)
        |  WHERE p <= n_tokens - 8),
        |dup AS (SELECT h FROM sh GROUP BY h HAVING COUNT(*) >= 2),
        |hits AS (SELECT sh.doc_id, sh.n_tokens, sh.p FROM sh
        |  JOIN dup ON sh.h = dup.h),
        |m AS (SELECT doc_id, n_tokens, p,
        |    MAX(p + 7) OVER (PARTITION BY doc_id ORDER BY p
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS max_end
        |  FROM hits),
        |b AS (SELECT doc_id, n_tokens, p,
        |    CASE WHEN max_end IS NULL OR p > max_end THEN 1 ELSE 0 END
        |      AS brk FROM m),
        |isl AS (SELECT doc_id, n_tokens, p,
        |    SUM(brk) OVER (PARTITION BY doc_id ORDER BY p
        |      ROWS UNBOUNDED PRECEDING) AS isl FROM b),
        |seg AS (SELECT doc_id, MAX(n_tokens) AS n_tokens,
        |    MAX(p) - MIN(p) + 8 AS len
        |  FROM isl GROUP BY doc_id, isl)
        |SELECT doc_id, CAST(MAX(n_tokens) AS BIGINT) AS n_tokens,
        |  CAST(SUM(len) AS BIGINT) AS covered_tokens,
        |  CAST(SUM(len) AS DOUBLE) / CAST(MAX(n_tokens) AS DOUBLE)
        |    AS coverage
        |FROM seg GROUP BY doc_id ORDER BY doc_id"""
    ) { (s, d) =>
      Dedup.dupSpanCoverage(
        Tables.spread(s, Tables.documents(s, d)), "doc_id", "text",
        k = 8, minCount = 2)
    },

    // Ranking-window suite — ntile/percent_rank/cume_dist over order
    // totals per priority: all three derive from integer ranks and
    // counts (percent_rank = (rank−1)/(n−1), cume_dist = peers≤/n),
    // single divisions each; ties carried on exact cents.
    q(
      "q298_window_ranks",
      """WITH o AS (SELECT o_orderpriority AS pri,
        |    o_orderkey AS okey,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS cents
        |  FROM orders),
        |r AS (SELECT pri, okey, cents,
        |    NTILE(4) OVER w AS quartile,
        |    PERCENT_RANK() OVER w AS pct_rank,
        |    CUME_DIST() OVER w AS cume
        |  FROM o WINDOW w AS (PARTITION BY pri ORDER BY cents, okey))
        |SELECT pri, quartile, COUNT(*) AS n,
        |  MIN(cents) AS min_cents, MAX(cents) AS max_cents,
        |  MIN(pct_rank) AS min_pct_rank, MAX(cume) AS max_cume
        |FROM r GROUP BY 1, 2 ORDER BY pri, quartile"""
    ) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("pri"))
        .orderBy(col("cents"), col("okey"))
      Tables.orders(s, d)
        .select(col("o_orderpriority").as("pri"),
          col("o_orderkey").as("okey"),
          (col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long").as("cents"))
        .withColumn("quartile", ntile(4).over(w))
        .withColumn("pct_rank", percent_rank().over(w))
        .withColumn("cume", cume_dist().over(w))
        .groupBy(col("pri"), col("quartile"))
        .agg(count(lit(1)).as("n"),
          min(col("cents")).as("min_cents"),
          max(col("cents")).as("max_cents"),
          min(col("pct_rank")).as("min_pct_rank"),
          max(col("cume")).as("max_cume"))
        .orderBy("pri", "quartile")
    },

    // Split-conformal intervals per event type (median predictor,
    // even/odd calibration split): q̂ = exact ⌈0.9(n+1)⌉-th residual
    // order statistic by INTEGER rank, empirical coverage on the test
    // half — the distribution-free serving gate.
    q(
      "q295_conformal_interval",
      """WITH base AS (SELECT event_type AS g, event_id AS id,
        |    value AS v FROM events),
        |calib AS (SELECT * FROM base WHERE id % 2 = 0),
        |tst AS (SELECT * FROM base WHERE id % 2 = 1),
        |rk AS (SELECT g, id, v,
        |    ROW_NUMBER() OVER (PARTITION BY g ORDER BY v, id) AS rn,
        |    COUNT(*) OVER (PARTITION BY g) AS n
        |  FROM calib),
        |med AS (SELECT g,
        |    SUM(v) / CAST(COUNT(*) AS DOUBLE) AS med,
        |    MAX(n) AS n_calib
        |  FROM rk WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2
        |  GROUP BY g HAVING MAX(n) >= 9),
        |res AS (SELECT c.g, c.id, c.v, m.med, m.n_calib,
        |    ABS(c.v - m.med) AS r
        |  FROM calib c JOIN med m ON c.g = m.g),
        |qh AS (SELECT g, med, n_calib, r AS qhat FROM (
        |    SELECT g, med, n_calib, r,
        |      ROW_NUMBER() OVER (PARTITION BY g ORDER BY r, v, id)
        |        AS rr
        |    FROM res)
        |  WHERE rr = (9 * (n_calib + 1) + 9) // 10)
        |SELECT t.g AS event_type, MAX(q.n_calib) AS n_calib,
        |  MAX(q.med) AS med, MAX(q.qhat) AS qhat,
        |  COUNT(*) AS n_test,
        |  COUNT(CASE WHEN ABS(t.v - q.med) <= q.qhat THEN 1 END)
        |    AS n_covered,
        |  CAST(COUNT(CASE WHEN ABS(t.v - q.med) <= q.qhat THEN 1 END)
        |    AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS coverage
        |FROM tst t JOIN qh q ON t.g = q.g
        |GROUP BY t.g ORDER BY event_type"""
    ) { (s, d) =>
      graft.pipeline.Profiler.conformalInterval(
        Tables.events(s, d), "event_type", "event_id", "value")
    },

    // Retrieval-quality NDCG@5 with label-match relevance: the log₂
    // discount weights and ideal-DCG prefix sums are COMPILE-TIME
    // constants embedded as full-precision literals in both engines —
    // zero runtime transcendentals, the whole surface is 0/1·const
    // chains and one division. The IR-eval gate for the ANN family.
    q("q307_ndcg", ndcgOracleSql) { (s, d) =>
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("vec"))
      val anchors = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
          col("vec").as("qvec"))
      val topk = Similarity.bruteForceTopK(
        anchors.select(col("query_id"), col("qvec")),
        e.select(col("vec_id"), col("vec")), 5)
      val rel = topk
        .join(e.select(col("vec_id"), col("label")), "vec_id")
        .join(anchors.select(col("query_id"), col("qlabel")), "query_id")
        .withColumn("rel",
          (col("label") === col("qlabel")).cast("int"))
      val rs = (1 to 5).map(i =>
        coalesce(sum(when(col("rank") === i, col("rel"))), lit(0))
          .as(s"__r$i"))
      val g = rel.groupBy(col("query_id"))
        .agg(rs.head, rs.tail :+ sum(col("rel")).as("n_relevant"): _*)
      val dcg = (1 to 5).map(i =>
        col(s"__r$i").cast("double") * lit(NdcgWeights(i - 1)))
        .reduce(_ + _)
      val idcg = (1 to 5).foldRight(lit(0.0): Column)((m, acc) =>
        when(col("n_relevant") === m, lit(NdcgIdeal(m - 1)))
          .otherwise(acc))
      g.select(col("query_id"), col("n_relevant").cast("long")
            .as("n_relevant"),
          when(col("n_relevant") === 0, lit(0.0))
            .otherwise(dcg / idcg).as("ndcg"))
        .orderBy("query_id")
    },

    // Poisson bootstrap CI of the mean (Chamandy et al., the
    // resample-at-scale pattern: each row's multiplicity in replicate
    // b is Poisson(1), drawn DETERMINISTICALLY from md5(b, row) against
    // µ-quantized inverse-CDF thresholds — no RNG, engine-replayable,
    // one pass over rows×B with map-side combine). Replicate means are
    // exact cent-sums / integer counts; the CI bounds are exact order
    // statistics (drop the 5 lowest / 5 highest of 200). Weights cap
    // at 5 (Poisson(1) tail mass 3.7e-3 folds into 5 — documented
    // truncation).
    q("q311_poisson_bootstrap", bootstrapOracleSql) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val e = Tables.events(s, d)
        .filter(col("event_type") === "purchase" ||
          col("event_type") === "view")
        .select(col("event_type"), col("event_id"),
          (col("value").cast("decimal(18,2)") * 100)
            .cast("long").as("cents"))
      val b = e.withColumn("b",
        explode(sequence(lit(0), lit(BootReps - 1))))
      val h = graft.pipeline.Sampling.hash60(
        concat(col("b").cast("string"), lit(":"),
          col("event_id").cast("string")), "boot:")
      val w = BootThresholds.zipWithIndex.foldRight(lit(5L): Column) {
        case ((t, k), acc) => when(h < t, lit(k.toLong)).otherwise(acc)
      }
      val reps = b.withColumn("w", w)
        .groupBy(col("event_type"), col("b"))
        .agg(sum(col("w") * col("cents")).cast("long").as("s"),
          sum(col("w")).cast("long").as("n"))
        .withColumn("mean_b",
          col("s").cast("double") / col("n").cast("double") / 100.0)
      val rk = Window.partitionBy(col("event_type"))
        .orderBy(col("mean_b"), col("b"))
      val ranked = reps.withColumn("rk", row_number().over(rk))
      val base = e.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("cents")).cast("long").as("__sc"))
      ranked.groupBy(col("event_type"))
        .agg(max(when(col("rk") === 6, col("mean_b"))).as("ci_lo"),
          max(when(col("rk") === BootReps - 5, col("mean_b")))
            .as("ci_hi"))
        .join(base, Seq("event_type"))
        .select(col("event_type"), col("n_rows"),
          (col("__sc").cast("double") / col("n_rows").cast("double")
            / 100.0).as("mean_value"),
          col("ci_lo"), col("ci_hi"))
        .orderBy("event_type")
    },

    // Exact weighted median: per flag, the price at which HALF the
    // shipped QUANTITY sits below — collapse to the distinct-price
    // table first (cum weights over value cardinality, not rows),
    // then the 2·cum ≥ W cross-multiplied selection: all integer, no
    // division, the selected value is a raw data point.
    q(
      "q316_weighted_median",
      """WITH x AS (SELECT l_returnflag AS flag,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT) AS price_cents,
        |    CAST(l_quantity AS BIGINT) AS qty
        |  FROM lineitem),
        |pv AS (SELECT flag, price_cents, CAST(SUM(qty) AS BIGINT) AS w
        |  FROM x GROUP BY 1, 2),
        |c AS (SELECT flag, price_cents, w,
        |    SUM(w) OVER (PARTITION BY flag ORDER BY price_cents
        |      ROWS UNBOUNDED PRECEDING) AS cum,
        |    SUM(w) OVER (PARTITION BY flag) AS tot
        |  FROM pv)
        |SELECT flag, CAST(MAX(tot) AS BIGINT) AS total_qty,
        |  MIN(CASE WHEN 2 * cum >= tot THEN price_cents END)
        |    AS wmedian_cents
        |FROM c GROUP BY flag ORDER BY flag"""
    ) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val x = Tables.lineitem(s, d)
        .select(col("l_returnflag").as("flag"),
          (col("l_extendedprice").cast("decimal(18,2)") * 100)
            .cast("long").as("price_cents"),
          col("l_quantity").cast("long").as("qty"))
      val pv = x.groupBy(col("flag"), col("price_cents"))
        .agg(sum(col("qty")).cast("long").as("w"))
      val cumW = Window.partitionBy(col("flag"))
        .orderBy(col("price_cents"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val totW = Window.partitionBy(col("flag"))
      pv.withColumn("cum", sum(col("w")).over(cumW))
        .withColumn("tot", sum(col("w")).over(totW))
        .groupBy(col("flag"))
        .agg(max(col("tot")).cast("long").as("total_qty"),
          min(when(lit(2) * col("cum") >= col("tot"),
            col("price_cents"))).as("wmedian_cents"))
        .orderBy("flag")
    },

    // k-anonymity / l-diversity audit before the masked export ships:
    // QI = (nation, acctbal band), sensitive = market segment;
    // equivalence-class size distribution + re-identifiable mass +
    // min l. Two stacked map-side-combined aggregates, one row.
    q(
      "q315_k_anonymity",
      """WITH q AS (SELECT c_nationkey,
        |    CAST(FLOOR(c_acctbal) AS BIGINT) -
        |      ((CAST(FLOOR(c_acctbal) AS BIGINT) % 1000 + 1000) % 1000)
        |      AS band,
        |    c_mktsegment
        |  FROM customer),
        |cls AS (SELECT c_nationkey, band, COUNT(*) AS k,
        |    COUNT(DISTINCT c_mktsegment) AS l
        |  FROM q GROUP BY 1, 2)
        |SELECT COUNT(*) AS n_classes,
        |  CAST(SUM(k) AS BIGINT) AS n_rows,
        |  MIN(k) AS min_k, MAX(k) AS max_k,
        |  CAST(COALESCE(SUM(CASE WHEN k < 5 THEN k END), 0) AS BIGINT)
        |    AS rows_below_k,
        |  COUNT(CASE WHEN k < 5 THEN 1 END) AS classes_below_k,
        |  CAST(COALESCE(SUM(CASE WHEN k < 5 THEN k END), 0) AS DOUBLE)
        |    / CAST(SUM(k) AS DOUBLE) AS reident_rate,
        |  MIN(l) AS min_l,
        |  COUNT(CASE WHEN l = 1 THEN 1 END) AS classes_l1
        |FROM cls"""
    ) { (s, d) =>
      import graft.pipeline.Governance
      graft.pipeline.Governance.kAnonymityAudit(
        Tables.customer(s, d)
          .select(col("c_nationkey"),
            Governance.bandFloor("FLOOR(c_acctbal)", 1000L).as("band"),
            col("c_mktsegment")),
        Seq("c_nationkey", "band"), "c_mktsegment", kFloor = 5)
    },

    // Log-rank test between user-parity cohorts on time-to-first-
    // purchase (censored at the corpus horizon) — the inference step
    // after q206's Kaplan–Meier curves. Integer risk sets, per-time
    // E/V terms DECIMAL(28,6)-quantized before the order-free sum
    // (q267 discipline).
    q(
      "q312_logrank",
      """WITH u AS (SELECT user_id,
        |    MIN(epoch_us(ts)) AS first_seen,
        |    MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts)
        |      END) AS fp
        |  FROM events GROUP BY 1),
        |h AS (SELECT MAX(epoch_us(ts)) AS horizon FROM events),
        |subj AS (SELECT user_id % 2 AS g,
        |    (COALESCE(fp, horizon) - first_seen) // 86400000000 AS d,
        |    CASE WHEN fp IS NULL THEN 0 ELSE 1 END AS e
        |  FROM u, h),
        |durs AS (SELECT d, COUNT(*) AS c,
        |    CAST(COALESCE(SUM(CASE WHEN g = 0 THEN 1 END), 0)
        |      AS BIGINT) AS ca,
        |    CAST(SUM(e) AS BIGINT) AS dd,
        |    CAST(COALESCE(SUM(CASE WHEN g = 0 THEN e END), 0)
        |      AS BIGINT) AS da
        |  FROM subj GROUP BY 1),
        |risk AS (SELECT d, dd, da,
        |    SUM(c) OVER wd AS rn, SUM(ca) OVER wd AS ra
        |  FROM durs WINDOW wd AS (ORDER BY d DESC
        |    ROWS UNBOUNDED PRECEDING)),
        |terms AS (SELECT d, da,
        |    CAST(ra * dd AS DOUBLE) / CAST(rn AS DOUBLE) AS et,
        |    CASE WHEN rn > 1 THEN
        |      CAST(dd * ra * (rn - ra) * (rn - dd) AS DOUBLE)
        |        / (CAST(rn * rn AS DOUBLE) * CAST(rn - 1 AS DOUBLE))
        |    ELSE 0.0::DOUBLE END AS vt
        |  FROM risk WHERE dd > 0),
        |coh AS (SELECT
        |    CAST(COALESCE(SUM(CASE WHEN g = 0 THEN 1 END), 0)
        |      AS BIGINT) AS n_a,
        |    CAST(COALESCE(SUM(CASE WHEN g <> 0 THEN 1 END), 0)
        |      AS BIGINT) AS n_b
        |  FROM subj)
        |SELECT coh.n_a, coh.n_b, COUNT(*) AS n_event_times,
        |  CAST(SUM(da) AS BIGINT) AS o_a,
        |  CAST(SUM(CAST(et AS DECIMAL(28,6))) AS DOUBLE) AS e_a,
        |  CAST(SUM(CAST(vt AS DECIMAL(28,6))) AS DOUBLE) AS v_a,
        |  (CAST(CAST(SUM(da) AS BIGINT) AS DOUBLE)
        |      - CAST(SUM(CAST(et AS DECIMAL(28,6))) AS DOUBLE))
        |    / sqrt(CAST(SUM(CAST(vt AS DECIMAL(28,6))) AS DOUBLE))
        |    AS z
        |FROM terms, coh GROUP BY coh.n_a, coh.n_b"""
    ) { (s, d) =>
      val ev = Tables.events(s, d)
      val u = ev.groupBy(col("user_id"))
        .agg(min(unix_micros(col("ts"))).as("first_seen"),
          min(when(col("event_type") === "purchase",
            unix_micros(col("ts")))).as("fp"))
      val h = broadcast(ev.agg(
        max(unix_micros(col("ts"))).as("horizon")))
      val subj = u.crossJoin(h)
        .select((col("user_id") % 2).as("g"),
          expr("(COALESCE(fp, horizon) - first_seen)" +
            " div 86400000000").as("d"),
          when(col("fp").isNull, lit(0)).otherwise(lit(1)).as("e"))
      graft.pipeline.Profiler.logRank(subj, "g", "d", "e")
    },

    // Nelson–Aalen cumulative hazard over the q206 lifetime
    // construction: H(t) = Σ d/n with the Aalen variance Σ d(n−d)/n³,
    // each term one fixed-shape division of exact integers,
    // DECIMAL(28,12)-quantized before the order-free prefix sum.
    q(
      "q317_nelson_aalen",
      s"""WITH $riskSetCtes,
         |h AS (SELECT dur, d, n - cb AS nar,
         |    CAST(CAST(d AS DOUBLE) / CAST(n - cb AS DOUBLE)
         |      AS DECIMAL(28,12)) AS ht,
         |    CAST(CAST(d * (n - cb - d) AS DOUBLE)
         |      / (CAST(n - cb AS DOUBLE) * CAST(n - cb AS DOUBLE)
         |         * CAST(n - cb AS DOUBLE)) AS DECIMAL(28,12)) AS vt
         |  FROM r WHERE d > 0)
         |SELECT dur AS duration_days, nar AS n_at_risk, d AS n_deaths,
         |  ROUND(CAST(SUM(ht) OVER wc AS DOUBLE), 6) AS cum_hazard,
         |  ROUND(CAST(SUM(vt) OVER wc AS DOUBLE), 6) AS hazard_var
         |FROM h WINDOW wc AS (ORDER BY dur ROWS UNBOUNDED PRECEDING)
         |ORDER BY duration_days"""
    ) { (s, d) =>
      graft.pipeline.Behavior.nelsonAalen(
          Tables.events(s, d)
            .select(col("user_id"), unix_micros(col("ts")).as("t_us")),
          "user_id", "t_us", censorHorizonUs = 43200000000L)
        .orderBy("duration_days")
    },

    // One-way ANOVA F across event-type cohorts. Milli-unit
    // quantization keeps EVERY integer (Σv ~5e12, Σv² ~5e14 at sf0.1)
    // below 2⁵³, so the wide-int→double casts are exact on both
    // engines — no HUGEINT double-rounding surface (the q180 lesson);
    // per-group terms DECIMAL(28,6)-quantized before the order-free
    // cross-group sum.
    q(
      "q318_anova_f",
      """WITH x AS (SELECT event_type AS g,
        |    CAST(floor(value * 1000.0) AS BIGINT) AS v FROM events),
        |gs AS (SELECT g, COUNT(*) AS n, SUM(v) AS s,
        |    SUM(CAST(v AS HUGEINT) * v) AS ss FROM x GROUP BY 1),
        |t AS (SELECT n, s,
        |    CAST(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
        |      / CAST(n AS DOUBLE) AS DECIMAL(28,6)) AS tb,
        |    CAST(CAST(ss AS DOUBLE) - CAST(s AS DOUBLE)
        |      * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
        |      AS DECIMAL(28,6)) AS tw
        |  FROM gs),
        |a0 AS (SELECT COUNT(*) AS k, CAST(SUM(n) AS BIGINT) AS n,
        |    CAST(SUM(s) AS DOUBLE) AS stot,
        |    SUM(tb) AS sbq, SUM(tw) AS swq FROM t),
        |a AS (SELECT k, n, stot,
        |    CAST(CAST(FLOOR(sbq) AS BIGINT) AS DOUBLE)
        |      + CAST(sbq - FLOOR(sbq) AS DOUBLE) AS sb,
        |    CAST(CAST(FLOOR(swq) AS BIGINT) AS DOUBLE)
        |      + CAST(swq - FLOOR(swq) AS DOUBLE) AS sw FROM a0)
        |SELECT k, n,
        |  sb - stot * stot / CAST(n AS DOUBLE) AS ss_between,
        |  sw AS ss_within,
        |  ROUND(((sb - stot * stot / CAST(n AS DOUBLE))
        |      / (CAST(k AS DOUBLE) - 1.0))
        |    / (sw / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))), 6)
        |    AS f_stat
        |FROM a"""
    ) { (s, d) =>
      graft.pipeline.Profiler.anovaF(
        Tables.events(s, d)
          .select(col("event_type"),
            floor(col("value") * 1000.0).cast("long").as("vq")),
        "event_type", "vq")
    },

    // Mann–Whitney U between user-parity cohorts: doubled rank sums
    // are pure integers on the distinct-value grid (avg tie rank has
    // denominator 2), the tie term Σ(c³−c) is exact long arithmetic,
    // and the z chain is one fixed IEEE shape.
    q(
      "q319_mann_whitney",
      """WITH x AS (SELECT user_id % 2 AS coh,
        |    CAST(floor(value * 1000.0) AS BIGINT) AS v FROM events),
        |bv AS (SELECT v, COUNT(*) AS c,
        |    CAST(COALESCE(SUM(CASE WHEN coh = 0 THEN 1 END), 0)
        |      AS BIGINT) AS ca
        |  FROM x GROUP BY 1),
        |rk AS (SELECT v, c, ca,
        |    CAST(COALESCE(SUM(c) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS cb
        |  FROM bv),
        |a AS (SELECT CAST(SUM(ca) AS BIGINT) AS n_a,
        |    CAST(SUM(c) - SUM(ca) AS BIGINT) AS n_b,
        |    CAST(SUM(ca * (2 * cb + c + 1)) AS BIGINT) AS r2a,
        |    CAST(SUM(c * c * c - c) AS BIGINT) AS ties
        |  FROM rk)
        |SELECT n_a, n_b,
        |  CAST(r2a - n_a * (n_a + 1) AS DOUBLE) / 2.0 AS u_a,
        |  ROUND((CAST(r2a - n_a * (n_a + 1) AS DOUBLE)
        |      - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) / 2.0
        |    / sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0
        |      * ((CAST(n_a + n_b AS DOUBLE) + 1.0)
        |        - CAST(ties AS DOUBLE)
        |          / (CAST(n_a + n_b AS DOUBLE)
        |            * (CAST(n_a + n_b AS DOUBLE) - 1.0)))), 6) AS z
        |FROM a"""
    ) { (s, d) =>
      graft.pipeline.Profiler.mannWhitneyU(
        Tables.events(s, d)
          .select((col("user_id") % 2).as("coh"),
            floor(col("value") * 1000.0).cast("long").as("vq")),
        "coh", "vq")
    },

    // Kruskal–Wallis H across event-type cohorts — rank-based one-way
    // ANOVA with the standard tie correction; same doubled-integer
    // rank machinery as q319, per-group R²/n terms quantized before
    // the order-free cross-group sum.
    q(
      "q320_kruskal_wallis",
      """WITH x AS (SELECT event_type AS g,
        |    CAST(floor(value * 1000.0) AS BIGINT) AS v FROM events),
        |gv AS (SELECT g, v, COUNT(*) AS cg FROM x GROUP BY 1, 2),
        |bv AS (SELECT v, CAST(SUM(cg) AS BIGINT) AS c FROM gv
        |  GROUP BY 1),
        |rk AS (SELECT v, c,
        |    CAST(COALESCE(SUM(c) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS cb
        |  FROM bv),
        |pg AS (SELECT g, CAST(SUM(cg) AS BIGINT) AS n,
        |    CAST(SUM(cg * (2 * cb + c + 1)) AS BIGINT) AS r2
        |  FROM gv JOIN rk USING (v) GROUP BY 1),
        |pt AS (SELECT g, n,
        |    CAST(CAST(r2 AS DOUBLE) * CAST(r2 AS DOUBLE)
        |      / (4.0 * CAST(n AS DOUBLE)) AS DECIMAL(28,6)) AS t
        |  FROM pg),
        |tie AS (SELECT CAST(SUM(c * c * c - c) AS BIGINT) AS ties
        |  FROM rk),
        |a AS (SELECT COUNT(*) AS k, CAST(SUM(n) AS BIGINT) AS n,
        |    CAST(CAST(FLOOR(SUM(t)) AS BIGINT) AS DOUBLE)
        |      + CAST(SUM(t) - FLOOR(SUM(t)) AS DOUBLE) AS sr FROM pt)
        |SELECT k, n,
        |  ROUND(12.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0))
        |    * sr - 3.0 * (CAST(n AS DOUBLE) + 1.0), 6)
        |    AS h_uncorrected,
        |  ROUND((12.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0))
        |    * sr - 3.0 * (CAST(n AS DOUBLE) + 1.0))
        |    / (1.0 - CAST(ties AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
        |        * CAST(n AS DOUBLE) - CAST(n AS DOUBLE))), 6) AS h
        |FROM a CROSS JOIN tie"""
    ) { (s, d) =>
      graft.pipeline.Profiler.kruskalWallis(
        Tables.events(s, d)
          .select(col("event_type"),
            floor(col("value") * 1000.0).cast("long").as("vq")),
        "event_type", "vq")
    },

    // Partial autocorrelation at lags 1–3: Durbin–Levinson on the
    // q199 sample correlations. Every intermediate (r1, r2, r3, φ22,
    // φ21) is named ONCE and reused, so both engines run the identical
    // fixed IEEE chain on exact integer µ-unit sums; ROUND(6) only at
    // the output surface.
    q(
      "q321_pacf",
      s"""WITH $lagMomentCtes,
         |r AS (SELECT sensor_id, n1,
         |$lagCorrCols
         |  FROM a),
         |f2 AS (SELECT sensor_id, n1, r1, r2, r3,
         |    (r2 - r1 * r1) / (1.0::DOUBLE - r1 * r1) AS f22 FROM r),
         |f3 AS (SELECT sensor_id, n1, r1, r2, r3, f22,
         |    r1 - f22 * r1 AS f21 FROM f2)
         |SELECT sensor_id, CAST(n1 AS BIGINT) AS n_pairs1,
         |  ROUND(r1, 6) AS phi1, ROUND(f22, 6) AS phi2,
         |  ROUND((r3 - f21 * r2 - f22 * r1)
         |    / (1.0::DOUBLE - f21 * r1 - f22 * r2), 6) AS phi3
         |FROM f3 ORDER BY sensor_id"""
    ) { (s, d) =>
      graft.pipeline.Profiler.pacf3(
          EventsAdapter.samples(s, d),
          "sensor_id", "timestamp_us", "value")
        .orderBy("sensor_id")
    },

    // Scalar Kalman filter (random-walk + observation noise) per
    // sensor: q=0.25, r=4.0, P₀=1.0 — all dyadic, so the predict/
    // gain/update chain replays bit-exactly against the oracle's
    // recursive CTE (q82 discipline). Final state per series, raw.
    q(
      "q324_kalman",
      s"""WITH RECURSIVE $seriesRowCtes,
         |rec AS (
         |  SELECT sensor_id, 1 AS i, value AS x, 1.0::DOUBLE AS p
         |  FROM base WHERE rn = 1
         |  UNION ALL
         |  SELECT r.sensor_id, r.i + 1,
         |    r.x + ((r.p + 0.25::DOUBLE)
         |        / (r.p + 0.25::DOUBLE + 4.0::DOUBLE))
         |      * (z.value - r.x),
         |    (1.0::DOUBLE - (r.p + 0.25::DOUBLE)
         |        / (r.p + 0.25::DOUBLE + 4.0::DOUBLE))
         |      * (r.p + 0.25::DOUBLE)
         |  FROM rec r JOIN base z
         |    ON z.sensor_id = r.sensor_id AND z.rn = r.i + 1)
         |SELECT r.sensor_id, CAST(cnt.n AS BIGINT) AS n_samples,
         |  r.x AS level, r.p AS p_var
         |FROM rec r JOIN cnt ON cnt.sensor_id = r.sensor_id
         |WHERE r.i = cnt.n ORDER BY r.sensor_id"""
    ) { (s, d) =>
      graft.operators.Kalman.filterLast(
          EventsAdapter.samples(s, d)
            .select("sensor_id", "timestamp_us", "value"))
        .orderBy("sensor_id")
    },

    // Croston intermittent-demand forecast on per-part daily demand:
    // coupled size/interval EWMAs advanced only on demand events,
    // α=0.25 dyadic, p seeded at the first observed gap — the
    // recursion replays bit-exactly; one raw z/p division at the end.
    q(
      "q325_croston",
      """WITH RECURSIVE dm AS (SELECT l_partkey AS item,
        |    epoch_us(l_shipdate) // 86400000000 AS day,
        |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) AS qty
        |  FROM lineitem GROUP BY 1, 2),
        |base AS (SELECT item, day, qty,
        |    ROW_NUMBER() OVER (PARTITION BY item ORDER BY day) AS rn
        |  FROM dm),
        |cnt AS (SELECT item, MAX(rn) AS n FROM base GROUP BY 1),
        |rec AS (
        |  SELECT item, 1 AS i, qty AS z, 0.0::DOUBLE AS p,
        |    day AS lastd
        |  FROM base WHERE rn = 1
        |  UNION ALL
        |  SELECT r.item, r.i + 1,
        |    r.z + 0.25::DOUBLE * (x.qty - r.z),
        |    CASE WHEN r.i = 1 THEN CAST(x.day - r.lastd AS DOUBLE)
        |      ELSE r.p + 0.25::DOUBLE
        |        * (CAST(x.day - r.lastd AS DOUBLE) - r.p) END,
        |    x.day
        |  FROM rec r JOIN base x
        |    ON x.item = r.item AND x.rn = r.i + 1)
        |SELECT r.item, CAST(cnt.n AS BIGINT) AS n_demands,
        |  r.z AS z_size, r.p AS p_interval, r.z / r.p AS rate
        |FROM rec r JOIN cnt ON cnt.item = r.item
        |WHERE r.i = cnt.n AND cnt.n >= 3 ORDER BY r.item"""
    ) { (s, d) =>
      val dm = Tables.lineitem(s, d)
        .select(col("l_partkey").as("item"),
          expr("unix_micros(l_shipdate) div 86400000000").as("period"),
          col("l_quantity").cast("long").as("__q"))
        .groupBy(col("item"), col("period"))
        .agg(sum(col("__q")).cast("double").as("qty"))
      graft.operators.Croston.forecast(dm).orderBy("item")
    },

    // Deterministic Laplace noisy-count release (PRF-noise via the
    // salted 60-bit hash inverse CDF, the q311 discipline): the
    // governance companion to q314/q315. ln is libm → ROUND(6).
    q(
      "q326_noisy_counts",
      """WITH g AS (SELECT c_mktsegment, COUNT(*) AS n_true
        |  FROM customer GROUP BY 1),
        |h AS (SELECT c_mktsegment, n_true,
        |    (CAST(('0x' || substr(md5('dp1:' || c_mktsegment), 1, 15))
        |        ::BIGINT AS DOUBLE) + 0.5)
        |      / 1152921504606846976.0 AS u
        |  FROM g),
        |x AS (SELECT c_mktsegment, n_true, u - 0.5 AS d FROM h)
        |SELECT c_mktsegment, CAST(n_true AS BIGINT) AS n_true,
        |  ROUND(CAST(n_true AS DOUBLE) + (-1.0::DOUBLE)
        |    * (CASE WHEN d < 0 THEN -1.0::DOUBLE
        |        ELSE 1.0::DOUBLE END)
        |    * ln(1.0::DOUBLE - 2.0::DOUBLE * abs(d)), 6) AS n_noisy,
        |  1.0::DOUBLE AS epsilon
        |FROM x ORDER BY c_mktsegment"""
    ) { (s, d) =>
      graft.pipeline.Governance.laplaceNoisyCounts(
          Tables.customer(s, d), "c_mktsegment", "dp1:")
        .orderBy("c_mktsegment")
    },

    // Histogram-overlap coefficient between source pairs on 100-char
    // doc-length buckets: Σ min(p_a, p_b) computed CROSS-MULTIPLIED
    // (min of exact integer products), one division, ROUND(6).
    q(
      "q328_dist_overlap",
      """WITH x AS (SELECT source AS g, n_chars // 100 AS b
        |  FROM documents),
        |h AS (SELECT g, b, COUNT(*) AS c FROM x GROUP BY 1, 2),
        |n AS (SELECT g, COUNT(*) AS n FROM x GROUP BY 1),
        |j AS (SELECT ha.g AS g_a, hb.g AS g_b, na.n AS na, nb.n AS nb,
        |    CAST(SUM(LEAST(ha.c * nb.n, hb.c * na.n)) AS BIGINT)
        |      AS num
        |  FROM h ha JOIN h hb ON ha.b = hb.b AND ha.g < hb.g
        |  JOIN n na ON na.g = ha.g JOIN n nb ON nb.g = hb.g
        |  GROUP BY 1, 2, 3, 4)
        |SELECT g_a, g_b, CAST(na AS BIGINT) AS n_a,
        |  CAST(nb AS BIGINT) AS n_b,
        |  ROUND(CAST(num AS DOUBLE)
        |    / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)), 6) AS overlap
        |FROM j ORDER BY g_a, g_b"""
    ) { (s, d) =>
      graft.pipeline.Profiler.distributionOverlap(
          Tables.documents(s, d)
            .select(col("source"), expr("n_chars div 100").as("bk")),
          "source", "bk")
        .orderBy("g_a", "g_b")
    },

    // Cohen's kappa between two deterministic quality raters
    // (length rule vs token-count rule): chance-corrected agreement
    // from one conditional-sum 2×2 aggregate, fixed IEEE shapes.
    q(
      "q330_cohen_kappa",
      """WITH r AS (SELECT n_chars >= 300 AS a,
        |    len(string_split_regex(trim(text), '\s+')) >= 50 AS b
        |  FROM documents),
        |t AS (SELECT COUNT(*) AS n,
        |    COUNT(*) FILTER (a AND b) AS n11,
        |    COUNT(*) FILTER (a AND NOT b) AS n10,
        |    COUNT(*) FILTER (NOT a AND b) AS n01,
        |    COUNT(*) FILTER (NOT a AND NOT b) AS n00
        |  FROM r)
        |SELECT CAST(n AS BIGINT) AS n, CAST(n11 AS BIGINT) AS n11,
        |  CAST(n10 AS BIGINT) AS n10, CAST(n01 AS BIGINT) AS n01,
        |  CAST(n00 AS BIGINT) AS n00,
        |  ROUND(CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE), 6)
        |    AS p_observed,
        |  ROUND((CAST(n11 + n10 AS DOUBLE) * CAST(n11 + n01 AS DOUBLE)
        |      + CAST(n01 + n00 AS DOUBLE) * CAST(n10 + n00 AS DOUBLE))
        |    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6)
        |    AS p_expected,
        |  ROUND((CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE)
        |      - (CAST(n11 + n10 AS DOUBLE) * CAST(n11 + n01 AS DOUBLE)
        |        + CAST(n01 + n00 AS DOUBLE) * CAST(n10 + n00 AS DOUBLE))
        |        / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
        |    / (1.0::DOUBLE
        |      - (CAST(n11 + n10 AS DOUBLE) * CAST(n11 + n01 AS DOUBLE)
        |        + CAST(n01 + n00 AS DOUBLE) * CAST(n10 + n00 AS DOUBLE))
        |        / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))), 6)
        |    AS kappa
        |FROM t"""
    ) { (s, d) =>
      import graft.pipeline.TextAnalysis
      graft.pipeline.Profiler.cohenKappa(
        Tables.documents(s, d),
        col("n_chars") >= 300,
        TextAnalysis.tokenCount(col("text")) >= 50)
    },

    // Grubbs max studentized deviation per event type: max|v−mean|/s
    // with the max computed CROSS-MULTIPLIED (max|v·n − S| in exact
    // integers — no float max ordering), milli-unit quantization
    // keeps every sum in the 2⁵³ exact-double window.
    q(
      "q331_grubbs",
      """WITH x AS (SELECT event_type AS g,
        |    CAST(floor(value * 1000.0) AS BIGINT) AS v FROM events),
        |s AS (SELECT g, COUNT(*) AS n, SUM(v) AS sv,
        |    SUM(CAST(v AS HUGEINT) * v) AS ss FROM x GROUP BY 1),
        |d AS (SELECT x.g, MAX(ABS(x.v * s.n - s.sv)) AS maxdev,
        |    MAX(s.n) AS n, MAX(s.sv) AS sv, MAX(s.ss) AS ss
        |  FROM x JOIN s ON x.g = s.g GROUP BY 1)
        |SELECT g AS event_type, CAST(n AS BIGINT) AS n,
        |  ROUND((CAST(maxdev AS DOUBLE) / CAST(n AS DOUBLE))
        |    / sqrt((CAST(ss AS DOUBLE) - CAST(sv AS DOUBLE)
        |        * CAST(sv AS DOUBLE) / CAST(n AS DOUBLE))
        |      / (CAST(n AS DOUBLE) - 1.0::DOUBLE)), 6) AS g_stat
        |FROM d WHERE n >= 3 ORDER BY event_type"""
    ) { (s, d) =>
      graft.pipeline.Profiler.grubbsMax(
        Tables.events(s, d)
          .select(col("event_type"),
            floor(col("value") * 1000.0).cast("long").as("vq")),
        "event_type", "vq")
        .orderBy("event_type")
    },

    // Jensen–Shannon divergence between source pairs' token
    // distributions: per-token contribution terms quantized to
    // DECIMAL(28,12) before the order-free per-pair sum (ln is
    // libm), one-sided tokens via explicit complements — never a
    // token-only cross join. ROUND(6).
    q(
      "q332_jsd_sources",
      """WITH tok AS (SELECT source AS g,
        |    unnest(string_split_regex(trim(lower(text)), '\s+'))
        |      AS token
        |  FROM documents),
        |tf AS (SELECT g, token, COUNT(*) AS c FROM tok
        |  WHERE length(token) > 0 GROUP BY 1, 2),
        |n AS (SELECT g, CAST(SUM(c) AS BIGINT) AS n FROM tf
        |  GROUP BY 1),
        |a AS (SELECT tf.g AS g_a, token, c AS ca, n.n AS na
        |  FROM tf JOIN n ON n.g = tf.g),
        |b AS (SELECT tf.g AS g_b, token, c AS cb, n.n AS nb
        |  FROM tf JOIN n ON n.g = tf.g),
        |wb AS (SELECT a.g_a, gb.g_b, a.token, a.ca, a.na,
        |    COALESCE(b.cb, 0) AS cb, nn.n AS nb
        |  FROM a CROSS JOIN (SELECT DISTINCT g AS g_b FROM n) gb
        |  LEFT JOIN b ON b.g_b = gb.g_b AND b.token = a.token
        |  JOIN n nn ON nn.g = gb.g_b
        |  WHERE a.g_a < gb.g_b),
        |ob AS (SELECT ga.g_a, b.g_b, b.token, 0 AS ca, nn.n AS na,
        |    b.cb, b.nb
        |  FROM b CROSS JOIN (SELECT DISTINCT g AS g_a FROM n) ga
        |  LEFT JOIN a ON a.g_a = ga.g_a AND a.token = b.token
        |  JOIN n nn ON nn.g = ga.g_a
        |  WHERE ga.g_a < b.g_b AND a.token IS NULL),
        |rws AS (SELECT * FROM wb UNION ALL SELECT * FROM ob),
        |t1 AS (SELECT g_a, g_b, ca, cb,
        |    CAST(ca AS DOUBLE) / CAST(na AS DOUBLE) AS pa,
        |    CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE) AS pb FROM rws),
        |t2 AS (SELECT g_a, g_b, ca, cb, pa, pb,
        |    (pa + pb) / 2.0::DOUBLE AS m FROM t1),
        |t3 AS (SELECT g_a, g_b,
        |    CAST(CASE WHEN ca > 0 THEN pa * ln(pa / m)
        |      ELSE 0.0::DOUBLE END AS DECIMAL(28,12)) AS ta,
        |    CAST(CASE WHEN cb > 0 THEN pb * ln(pb / m)
        |      ELSE 0.0::DOUBLE END AS DECIMAL(28,12)) AS tb
        |  FROM t2)
        |SELECT g_a, g_b, COUNT(*) AS n_tokens,
        |  ROUND((CAST(SUM(ta) AS DOUBLE) + CAST(SUM(tb) AS DOUBLE))
        |    / 2.0::DOUBLE, 6) AS jsd
        |FROM t3 GROUP BY 1, 2 ORDER BY g_a, g_b"""
    ) { (s, d) =>
      graft.pipeline.TextAnalysis.jsdBetweenGroups(
          Tables.documents(s, d), "source", "text")
        .orderBy("g_a", "g_b")
    },

    // Page–Hinkley mean-shift detector per sensor: running-mean
    // deviation cusum with drift δ=0.5, threshold λ=5 (dyadic); the
    // /t incremental-mean division is the only non-dyadic step — one
    // correctly-rounded IEEE op both engines, raw replay.
    q(
      "q334_page_hinkley",
      s"""WITH RECURSIVE $seriesRowCtes,
         |rec AS (
         |  SELECT sensor_id, 1 AS i, value AS mean,
         |    -0.5::DOUBLE AS m, -0.5::DOUBLE AS mn, 0.0::DOUBLE AS exc
         |  FROM base WHERE rn = 1
         |  UNION ALL
         |  SELECT r.sensor_id, r.i + 1,
         |    r.mean + (z.value - r.mean) / CAST(r.i + 1 AS DOUBLE),
         |    r.m + (z.value
         |      - (r.mean + (z.value - r.mean) / CAST(r.i + 1 AS DOUBLE))
         |      - 0.5::DOUBLE),
         |    LEAST(r.mn, r.m + (z.value
         |      - (r.mean + (z.value - r.mean) / CAST(r.i + 1 AS DOUBLE))
         |      - 0.5::DOUBLE)),
         |    GREATEST(r.exc, r.m + (z.value
         |      - (r.mean + (z.value - r.mean) / CAST(r.i + 1 AS DOUBLE))
         |      - 0.5::DOUBLE)
         |      - LEAST(r.mn, r.m + (z.value
         |        - (r.mean + (z.value - r.mean)
         |          / CAST(r.i + 1 AS DOUBLE))
         |        - 0.5::DOUBLE)))
         |  FROM rec r JOIN base z
         |    ON z.sensor_id = r.sensor_id AND z.rn = r.i + 1)
         |SELECT r.sensor_id, CAST(cnt.n AS BIGINT) AS n_samples,
         |  r.m AS ph_m, r.mn AS ph_min, r.exc AS max_excess,
         |  r.exc > 5.0::DOUBLE AS alarm
         |FROM rec r JOIN cnt ON cnt.sensor_id = r.sensor_id
         |WHERE r.i = cnt.n ORDER BY r.sensor_id"""
    ) { (s, d) =>
      graft.operators.PageHinkley.detect(
          EventsAdapter.samples(s, d)
            .select("sensor_id", "timestamp_us", "value"))
        .orderBy("sensor_id")
    },

    // Restricted mean survival time off the q206 KM curve: exact
    // piecewise integral Σ S(tₖ)·Δtₖ with per-piece DECIMAL(28,6)
    // quantization; "expected days retained within the window".
    q(
      "q335_rmst",
      s"""WITH $lifetimeCtes,
         |tt AS (SELECT COUNT(*) AS n, MAX(dur) AS tau FROM durs),
         |r AS (SELECT bd.dur, bd.d, tt.n, tt.tau,
         |    CAST(COALESCE(SUM(bd.c) OVER (ORDER BY bd.dur
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS cb
         |  FROM bd CROSS JOIN tt),
         |dth AS (SELECT dur, d, n - cb AS nar, tau,
         |    CASE WHEN d < n - cb THEN
         |      CAST(ln(1.0::DOUBLE - CAST(d AS DOUBLE)
         |        / CAST(n - cb AS DOUBLE)) AS DECIMAL(28,12))
         |    ELSE CAST(0.0 AS DECIMAL(28,12)) END AS term
         |  FROM r WHERE d > 0),
         |fin AS (SELECT dur, tau,
         |    MAX(CASE WHEN d = nar THEN 1 ELSE 0 END) OVER wc AS z,
         |    SUM(term) OVER wc AS cum,
         |    COALESCE(LEAD(dur) OVER (ORDER BY dur), tau) AS nxt
         |  FROM dth WINDOW wc AS (ORDER BY dur ROWS BETWEEN UNBOUNDED
         |    PRECEDING AND CURRENT ROW)),
         |pc AS (SELECT tau,
         |    CAST((CASE WHEN z = 1 THEN 0.0::DOUBLE
         |        ELSE exp(CAST(cum AS DOUBLE)) END)
         |      * CAST(nxt - dur AS DOUBLE) AS DECIMAL(28,6)) AS piece
         |  FROM fin),
         |hd AS (SELECT CAST(MIN(dur) AS DOUBLE) AS head FROM dth)
         |SELECT CAST(MAX(tau) AS BIGINT) AS tau_days,
         |  COUNT(*) AS n_death_times,
         |  ROUND(hd.head + CAST(SUM(piece) AS DOUBLE), 6) AS rmst_days
         |FROM pc CROSS JOIN hd GROUP BY hd.head"""
    ) { (s, d) =>
      graft.pipeline.Behavior.rmstDays(
        Tables.events(s, d)
          .select(col("user_id"), unix_micros(col("ts")).as("t_us")),
        "user_id", "t_us", censorHorizonUs = 43200000000L)
    },

    // Pooled two-proportion z on per-user purchase conversion by
    // parity cohort: exact conditional counts, one IEEE chain.
    q(
      "q340_two_prop_z",
      """WITH u AS (SELECT user_id % 2 AS g,
        |    CASE WHEN COUNT(CASE WHEN event_type = 'purchase'
        |      THEN 1 END) >= 10 THEN 1 ELSE 0 END AS s
        |  FROM events GROUP BY user_id),
        |a AS (SELECT
        |    COUNT(*) FILTER (g = 1) AS n1,
        |    COUNT(*) FILTER (g = 1 AND s = 1) AS x1,
        |    COUNT(*) FILTER (g <> 1) AS n0,
        |    COUNT(*) FILTER (g <> 1 AND s = 1) AS x0
        |  FROM u)
        |SELECT CAST(n1 AS BIGINT) AS n1, CAST(x1 AS BIGINT) AS x1,
        |  CAST(n0 AS BIGINT) AS n0, CAST(x0 AS BIGINT) AS x0,
        |  ROUND(CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE), 6)
        |    AS p_treat,
        |  ROUND(CAST(x0 AS DOUBLE) / CAST(n0 AS DOUBLE), 6)
        |    AS p_ctrl,
        |  ROUND((CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE)
        |      - CAST(x0 AS DOUBLE) / CAST(n0 AS DOUBLE))
        |    / sqrt(CAST(x1 + x0 AS DOUBLE) / CAST(n1 + n0 AS DOUBLE)
        |      * (1.0::DOUBLE - CAST(x1 + x0 AS DOUBLE)
        |        / CAST(n1 + n0 AS DOUBLE))
        |      * (1.0::DOUBLE / CAST(n1 AS DOUBLE)
        |        + 1.0::DOUBLE / CAST(n0 AS DOUBLE))), 6) AS z
        |FROM a"""
    ) { (s, d) =>
      // success = a HEAVY purchaser (≥10): all-user conversion is
      // saturated at every SF, which would zero the pooled variance
      val u = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(when(count(when(col("event_type") === "purchase",
          lit(1))) >= 10, lit(1)).otherwise(lit(0)).as("succ"))
        .select((col("user_id") % 2).as("grp"), col("succ"))
      graft.pipeline.Profiler.twoProportionZ(u, "grp", "succ")
    },

    // Stationary distribution of the q192 event-type Markov chain:
    // 25 fixed power-iteration rounds, per-state incoming mass
    // DECIMAL(28,15)-quantized and each iterate ROUND(9) — the
    // pageRank per-iteration-rounding discipline, unrolled in the
    // oracle.
    q("q341_markov_stationary", markovStationarySql) { (s, d) =>
      val tm = graft.pipeline.Behavior.transitionMatrix(
        Tables.events(s, d).withColumn("t", unix_micros(col("ts"))),
        "user_id", "t", "event_id", "event_type")
        .select(col("from_state"), col("to_state"), col("n"))
      graft.pipeline.Behavior.markovStationary(tm)
        .orderBy("state")
    },

    // Wald SPRT over the user-ordered heavy-purchaser stream
    // (H₁ p=0.7 vs H₀ p=0.5, α=β=0.05): the four ln constants are
    // driver-computed and inlined full-precision into the oracle
    // (benford discipline); the LLR walk replays bit-exactly in the
    // recursive CTE, frozen at the decision.
    q("q342_sprt", sprtSql) { (s, d) =>
      val obs = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(when(count(when(col("event_type") === "purchase",
          lit(1))) >= 10, lit(1)).otherwise(lit(0)).as("success"))
        .select(lit("all").as("trial"), col("user_id").as("seq"),
          col("success"))
      graft.operators.Sprt.test(obs)
    },

    // Calibration table + per-bin Brier for a DYADIC score
    // ((acctbal cents + 100000)/2²¹): exact integer numerators mean
    // NO float surface anywhere — bins, means, and the
    // cross-multiplied Brier numerator all replay as integers.
    q(
      "q344_calibration_bins",
      s"""WITH $scoredCustomerCtes,
         |b AS (SELECT num * 10 // 2097152 AS bin, num, y,
         |    num - y * 2097152 AS e FROM base),
         |a AS (SELECT bin, COUNT(*) AS n,
         |    CAST(SUM(num) AS BIGINT) AS sn,
         |    CAST(SUM(y) AS BIGINT) AS sy,
         |    CAST(SUM(CAST(e AS HUGEINT) * e) AS DOUBLE) AS sq
         |  FROM b GROUP BY 1)
         |SELECT bin, CAST(n AS BIGINT) AS n, sy AS n_pos,
         |  CAST(sn AS DOUBLE)
         |    / (CAST(n AS DOUBLE) * 2097152.0) AS mean_pred,
         |  CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS rate,
         |  ROUND(sq / (CAST(n AS DOUBLE) * 2097152.0 * 2097152.0), 6)
         |    AS brier
         |FROM a ORDER BY bin"""
    ) { (s, d) =>
      val base = scoredCustomers(s, d)
      graft.pipeline.Profiler.calibrationBins(base, "num", "y", 21)
        .orderBy("bin")
    },

    // Isotonic regression of the hourly profile per event type via
    // the CLOSED FORM ŷᵢ = max_{k≤i} min_{j≥i} mean(k..j) — an
    // O(B³)-per-group join over the 24-bucket table (never
    // row-sized), no PAVA stack, no recursion. Integer bucket means
    // (q337 floor-division discipline); interval means are one
    // exact-integer division each, identical doubles both engines.
    q(
      "q345_isotonic",
      """WITH s AS (SELECT event_type AS g,
        |    (epoch_us(ts) // 3600000000) % 24 AS i,
        |    CAST(floor(value * 1000.0) AS BIGINT) AS q FROM events),
        |hs AS (SELECT g, i, CAST(SUM(q) // COUNT(*) AS BIGINT) AS v
        |  FROM s GROUP BY 1, 2),
        |grid AS (SELECT gg.g, hh.i
        |  FROM (SELECT DISTINCT g FROM hs) gg
        |  CROSS JOIN (SELECT UNNEST(range(0, 24)) AS i) hh),
        |dense AS (SELECT grid.g, grid.i, COALESCE(hs.v, 0) AS v
        |  FROM grid LEFT JOIN hs USING (g, i)),
        |pre AS (SELECT g, i, v, SUM(v) OVER (PARTITION BY g
        |    ORDER BY i ROWS UNBOUNDED PRECEDING) AS p FROM dense),
        |kj AS (SELECT a.g, a.i AS k, b.i AS j,
        |    CAST(b.p - (a.p - a.v) AS DOUBLE)
        |      / CAST(b.i - a.i + 1 AS DOUBLE) AS m
        |  FROM pre a JOIN pre b ON a.g = b.g AND a.i <= b.i),
        |im AS (SELECT kj.g, x.i, kj.k, MIN(kj.m) AS mn
        |  FROM kj JOIN pre x ON x.g = kj.g AND kj.k <= x.i
        |    AND kj.j >= x.i
        |  GROUP BY 1, 2, 3),
        |fit AS (SELECT g, i, MAX(mn) AS f FROM im GROUP BY 1, 2)
        |SELECT dense.g AS event_type, dense.i AS hour, dense.v AS v,
        |  ROUND(fit.f, 6) AS iso_fit
        |FROM dense JOIN fit USING (g, i)
        |ORDER BY event_type, hour"""
    ) { (s, d) =>
      val base = Tables.events(s, d).select(
        col("event_type").as("g"),
        (expr("unix_micros(ts) div 3600000000") % 24).as("i"),
        floor(col("value") * 1000.0).cast("long").as("q"))
      val hs = base.groupBy(col("g"), col("i"))
        .agg(sum(col("q")).as("__s"), count(lit(1)).as("__c"))
        .select(col("g"), col("i"), expr("__s div __c").as("v"))
      val dense = hs.select(col("g")).distinct()
        .select(col("g"), explode(sequence(lit(0L), lit(23L)))
          .as("i"))
        .join(hs, Seq("g", "i"), "left")
        .na.fill(0L, Seq("v"))
      graft.operators.Isotonic.fit(dense)
        .select(col("g").as("event_type"), col("i").as("hour"),
          col("v"), col("iso_fit"))
        .orderBy("event_type", "hour")
    },

    // Exact ROC AUC via the tied-rank statistic on the dyadic score:
    // AUC = (2R⁺ − n⁺(n⁺+1))/(2n⁺n⁻), exact integers into one
    // division — no sorting of floats, no trapezoids.
    q(
      "q346_auc",
      s"""WITH $scoredCustomerCtes,
         |bv AS (SELECT num AS v, COUNT(*) AS c,
         |    CAST(COALESCE(SUM(CASE WHEN y = 1 THEN 1 END), 0)
         |      AS BIGINT) AS cp
         |  FROM base GROUP BY 1),
         |rk AS (SELECT v, c, cp,
         |    CAST(COALESCE(SUM(c) OVER (ORDER BY v
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS cb
         |  FROM bv),
         |a AS (SELECT CAST(SUM(cp) AS BIGINT) AS np,
         |    CAST(SUM(c) - SUM(cp) AS BIGINT) AS nn,
         |    CAST(SUM(cp * (2 * cb + c + 1)) AS BIGINT) AS r2p
         |  FROM rk)
         |SELECT np AS n_pos, nn AS n_neg,
         |  CAST(r2p - np * (np + 1) AS DOUBLE)
         |    / (2.0::DOUBLE * CAST(np AS DOUBLE) * CAST(nn AS DOUBLE))
         |    AS auc
         |FROM a"""
    ) { (s, d) =>
      val base = scoredCustomers(s, d)
      graft.pipeline.Profiler.aucExact(base, "num", "y")
    },

    // Exact average precision over the (score desc, id asc) total
    // order: per-positive precision terms quantized DECIMAL(28,12)
    // before the order-free sum. Eval-set-bounded global ranking.
    q(
      "q347_avg_precision",
      """WITH ot AS (SELECT o_custkey, COUNT(*) AS c FROM orders
        |  GROUP BY 1),
        |base AS (SELECT c_custkey AS id,
        |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      + 100000 AS num,
        |    CASE WHEN COALESCE(ot.c, 0) >= 5 THEN 1 ELSE 0 END AS y
        |  FROM customer LEFT JOIN ot ON ot.o_custkey = c_custkey),
        |rk AS (SELECT y,
        |    ROW_NUMBER() OVER (ORDER BY num DESC, id ASC) AS k,
        |    SUM(y) OVER (ORDER BY num DESC, id ASC
        |      ROWS UNBOUNDED PRECEDING) AS cp
        |  FROM base),
        |t AS (SELECT CAST(CAST(cp AS DOUBLE) / CAST(k AS DOUBLE)
        |    AS DECIMAL(28,12)) AS t
        |  FROM rk WHERE y = 1)
        |SELECT COUNT(*) AS n_pos,
        |  ROUND(CAST(SUM(t) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
        |    AS avg_precision
        |FROM t"""
    ) { (s, d) =>
      val ot = Tables.orders(s, d)
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("c"))
      val base = Tables.customer(s, d)
        .join(ot, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey").as("id"),
          ((col("c_acctbal").cast("decimal(18,2)") * 100)
            .cast("long") + 100000L).as("num"),
          when(coalesce(col("c"), lit(0L)) >= 5, lit(1))
            .otherwise(lit(0)).as("y"))
      graft.pipeline.Profiler.averagePrecision(base, "num", "y", "id")
    },

    // Theil T inequality of customer lifetime value per nation:
    // x·n/S exact integers into one division, per-row r·ln(r) terms
    // DECIMAL(28,12)-quantized before the order-free sum.
    q(
      "q351_theil_index",
      """WITH ot AS (SELECT o_custkey,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
        |      AS BIGINT) AS tot
        |  FROM orders GROUP BY 1),
        |base AS (SELECT c_nationkey AS g, COALESCE(ot.tot, 0) AS x
        |  FROM customer LEFT JOIN ot ON ot.o_custkey = c_custkey),
        |pos AS (SELECT g, x FROM base WHERE x > 0),
        |st AS (SELECT g, COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS s
        |  FROM pos GROUP BY 1),
        |tm AS (SELECT pos.g, st.n, st.s,
        |    CAST(pos.x * st.n AS DOUBLE) / CAST(st.s AS DOUBLE) AS r
        |  FROM pos JOIN st ON st.g = pos.g),
        |t2 AS (SELECT g, n, s,
        |    CAST(r * ln(r) AS DECIMAL(28,12)) AS t FROM tm)
        |SELECT g AS nation, CAST(MAX(n) AS BIGINT) AS n,
        |  CAST(MAX(s) AS DOUBLE) / CAST(MAX(n) AS DOUBLE) AS mean,
        |  ROUND(CAST(SUM(t) AS DOUBLE) / CAST(MAX(n) AS DOUBLE), 6)
        |    AS theil
        |FROM t2 GROUP BY g ORDER BY nation"""
    ) { (s, d) =>
      val base = customerSpend(s, d)
        .select(col("c_nationkey").as("nation"),
          coalesce(col("tot"), lit(0L)).as("x"))
      graft.pipeline.Profiler.theilIndex(base, "nation", "x")
        .orderBy("nation")
    },

    // Per-sensor peak detection on hourly totals: strict local maxima
    // with the drop above the higher neighbor — all-integer lag/lead
    // arithmetic (q337 replay class).
    q(
      "q353_peaks",
      """WITH s AS (SELECT event_type || ' ' || user_id AS sensor_id,
        |    epoch_us(ts) // 3600000000 AS b,
        |    CAST(floor(value * 1000.0) AS BIGINT) AS q FROM events),
        |bb AS (SELECT sensor_id, b, CAST(SUM(q) AS BIGINT) AS sv
        |  FROM s GROUP BY 1, 2),
        |f AS (SELECT sensor_id, b, sv,
        |    LAG(sv) OVER w AS pv, LEAD(sv) OVER w AS nx
        |  FROM bb WINDOW w AS (PARTITION BY sensor_id ORDER BY b)),
        |g AS (SELECT sensor_id, b, sv,
        |    (pv IS NOT NULL AND nx IS NOT NULL AND sv > pv
        |      AND sv > nx) AS pk,
        |    CASE WHEN pv IS NOT NULL AND nx IS NOT NULL AND sv > pv
        |      AND sv > nx THEN sv - GREATEST(pv, nx) END AS drp
        |  FROM f),
        |m AS (SELECT sensor_id, MAX(drp) AS md FROM g GROUP BY 1)
        |SELECT g.sensor_id, COUNT(*) AS n_buckets,
        |  CAST(COUNT(CASE WHEN pk THEN 1 END) AS BIGINT) AS n_peaks,
        |  MAX(drp) AS max_drop,
        |  MIN(CASE WHEN drp = m.md THEN b END) AS peak_bucket
        |FROM g JOIN m ON m.sensor_id = g.sensor_id
        |GROUP BY g.sensor_id ORDER BY g.sensor_id"""
    ) { (s, d) =>
      graft.operators.SensorOps.peaks(
          EventsAdapter.samples(s, d)
            .select("sensor_id", "timestamp_us", "value"))
        .orderBy("sensor_id")
    },

    // Leave-one-out source ablation on doc length: corpus mean
    // without each source and the delta — exact integer sums, fixed
    // IEEE shapes.
    q(
      "q359_loo_ablation",
      """WITH per AS (SELECT source, COUNT(*) AS n,
        |    CAST(SUM(n_chars) AS BIGINT) AS s
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nt,
        |    CAST(SUM(s) AS BIGINT) AS st FROM per)
        |SELECT source, CAST(n AS BIGINT) AS n,
        |  ROUND(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 6)
        |    AS group_mean,
        |  ROUND(CAST(st AS DOUBLE) / CAST(nt AS DOUBLE), 6)
        |    AS corpus_mean,
        |  ROUND(CAST(st - s AS DOUBLE) / CAST(nt - n AS DOUBLE), 6)
        |    AS loo_mean,
        |  ROUND(CAST(st - s AS DOUBLE) / CAST(nt - n AS DOUBLE)
        |    - CAST(st AS DOUBLE) / CAST(nt AS DOUBLE), 6)
        |    AS loo_delta
        |FROM per CROSS JOIN tot ORDER BY source"""
    ) { (s, d) =>
      graft.pipeline.Profiler.looAblation(
          Tables.documents(s, d).select(col("source"),
            col("n_chars")),
          "source", "n_chars")
        .orderBy("source")
    },

    // Trailing-window z anomalies: each sample scored against its own
    // series' previous 8 samples (exact integer window sums, one IEEE
    // z shape); zero-variance windows dropped on both engines. Window
    // and cut are sized to the draw: series cap at 24-29 rows, so a
    // 24-sample window never fills, and |z| >= 2.4 fires at every SF
    // (29/297/3045 rows) with >= 2.4e-4 boundary clearance.
    q(
      "q360_rolling_z",
      """WITH s AS (SELECT event_type || ' ' || user_id AS sensor_id,
        |    epoch_us(ts) AS t,
        |    CAST(floor(value * 1000.0) AS BIGINT) AS q FROM events),
        |w AS (SELECT sensor_id, t, q,
        |    COUNT(q) OVER wt AS cnt,
        |    CAST(SUM(q) OVER wt AS BIGINT) AS s,
        |    CAST(SUM(CAST(q AS HUGEINT) * q) OVER wt AS DOUBLE)
        |      AS ss
        |  FROM s WINDOW wt AS (PARTITION BY sensor_id ORDER BY t, q
        |    ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING)),
        |v AS (SELECT sensor_id, t, q, cnt, s, ss,
        |    (ss - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
        |      / CAST(cnt AS DOUBLE)) / (CAST(cnt AS DOUBLE) - 1.0)
        |      AS var
        |  FROM w WHERE cnt = 8),
        |f AS (SELECT sensor_id, t, q,
        |    (CAST(q AS DOUBLE) - CAST(s AS DOUBLE)
        |      / CAST(cnt AS DOUBLE)) / sqrt(var) AS z
        |  FROM v WHERE var > 0)
        |SELECT sensor_id, t AS timestamp_us, q AS vq,
        |  ROUND(z, 6) AS z
        |FROM f WHERE ABS(z) >= 2.4::DOUBLE
        |ORDER BY sensor_id, timestamp_us, vq"""
    ) { (s, d) =>
      graft.operators.SensorOps.rollingZAnomalies(
          EventsAdapter.samples(s, d)
            .select("sensor_id", "timestamp_us", "value"),
          window = 8, zCut = 2.4)
        .orderBy("sensor_id", "timestamp_us", "vq")
    },

    // Generalization-ladder anonymity audit: the q315 k-anonymity
    // summary at band widths 100/1000/10000 in one table — the
    // utility-privacy dial.
    q("q364_anon_ladder", anonLadderSql) { (s, d) =>
      graft.pipeline.Governance.anonymityLadder(
          Tables.customer(s, d)
            .select(col("c_nationkey"), col("c_acctbal"),
              col("c_mktsegment")),
          "c_nationkey", "FLOOR(c_acctbal)", "c_mktsegment",
          Seq(100L, 1000L, 10000L))
        .orderBy("band")
    },

    // Mann–Kendall monotone-trend test per sensor over DAILY totals
    // (the 30-day events span yields at most 5 weekly buckets — below
    // the n >= 8 normal-approximation floor, so a weekly grid made the
    // gate row-free; days give 8-21 buckets per series at every SF).
    // The O(B²) pair join runs on day cardinality, never rows:
    // integer S, exact tie correction, ±1 continuity in a shared
    // CASE.
    q(
      "q369_mann_kendall",
      """WITH s AS (SELECT event_type || ' ' || user_id AS sensor_id,
        |    epoch_us(ts) // 86400000000 AS wk,
        |    CAST(floor(value * 1000.0) AS BIGINT) AS q FROM events),
        |b AS (SELECT sensor_id, wk, CAST(SUM(q) AS BIGINT) AS v
        |  FROM s GROUP BY 1, 2),
        |sp AS (SELECT a.sensor_id,
        |    CAST(SUM(CASE WHEN b2.v > a.v THEN 1
        |      WHEN b2.v < a.v THEN -1 ELSE 0 END) AS BIGINT)
        |      AS s_stat
        |  FROM b a JOIN b b2 ON a.sensor_id = b2.sensor_id
        |    AND a.wk < b2.wk
        |  GROUP BY 1),
        |tt AS (SELECT sensor_id, v, COUNT(*) AS t FROM b
        |  GROUP BY 1, 2),
        |tz AS (SELECT sensor_id, CAST(SUM(t) AS BIGINT) AS nb,
        |    CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tp
        |  FROM tt GROUP BY 1),
        |j AS (SELECT sp.sensor_id, tz.nb, sp.s_stat,
        |    (CAST(nb AS DOUBLE) * (CAST(nb AS DOUBLE) - 1.0)
        |      * (2.0::DOUBLE * CAST(nb AS DOUBLE) + 5.0)
        |      - CAST(tp AS DOUBLE)) / 18.0::DOUBLE AS vs
        |  FROM sp JOIN tz ON tz.sensor_id = sp.sensor_id)
        |SELECT sensor_id, nb AS n_buckets, s_stat,
        |  ROUND(CASE WHEN s_stat > 0
        |      THEN (CAST(s_stat AS DOUBLE) - 1.0) / sqrt(vs)
        |    WHEN s_stat < 0
        |      THEN (CAST(s_stat AS DOUBLE) + 1.0) / sqrt(vs)
        |    ELSE 0.0::DOUBLE END, 6) AS z
        |FROM j WHERE nb >= 8 AND vs > 0 ORDER BY sensor_id"""
    ) { (s, d) =>
      graft.pipeline.Profiler.mannKendall(
          EventsAdapter.samples(s, d)
            .select(col("sensor_id"),
              expr("timestamp_us div 86400000000").as("wk"),
              floor(col("value") * 1000.0).cast("long").as("vq")),
          "sensor_id", "wk", "vq")
        .orderBy("sensor_id")
    },

    // Autocorrelation-adjusted effective sample size per sensor:
    // ESS = n/(1 + 2(ρ₁+ρ₂+ρ₃)) on the q199 correlation chains —
    // the honest-n behind any confidence band on telemetry.
    q(
      "q370_ess",
      s"""WITH $lagInputCtes,
         |a AS (SELECT sensor_id, CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(COUNT(l1) AS DOUBLE) AS n1,
         |    CAST(SUM(CASE WHEN l1 IS NOT NULL THEN v END) AS DOUBLE)
         |      AS sx1,
         |    CAST(SUM(CASE WHEN l1 IS NOT NULL THEN v * v END)
         |      AS DOUBLE) AS sxx1,
         |    CAST(SUM(l1) AS DOUBLE) AS sy1,
         |    CAST(SUM(l1 * l1) AS DOUBLE) AS syy1,
         |    CAST(SUM(v * l1) AS DOUBLE) AS sxy1,
         |    CAST(COUNT(l2) AS DOUBLE) AS n2,
         |    CAST(SUM(CASE WHEN l2 IS NOT NULL THEN v END) AS DOUBLE)
         |      AS sx2,
         |    CAST(SUM(CASE WHEN l2 IS NOT NULL THEN v * v END)
         |      AS DOUBLE) AS sxx2,
         |    CAST(SUM(l2) AS DOUBLE) AS sy2,
         |    CAST(SUM(l2 * l2) AS DOUBLE) AS syy2,
         |    CAST(SUM(v * l2) AS DOUBLE) AS sxy2,
         |    CAST(COUNT(l3) AS DOUBLE) AS n3,
         |    CAST(SUM(CASE WHEN l3 IS NOT NULL THEN v END) AS DOUBLE)
         |      AS sx3,
         |    CAST(SUM(CASE WHEN l3 IS NOT NULL THEN v * v END)
         |      AS DOUBLE) AS sxx3,
         |    CAST(SUM(l3) AS DOUBLE) AS sy3,
         |    CAST(SUM(l3 * l3) AS DOUBLE) AS syy3,
         |    CAST(SUM(v * l3) AS DOUBLE) AS sxy3
         |  FROM l GROUP BY 1),
         |r AS (SELECT sensor_id, n,
         |$lagCorrCols
         |  FROM a)
         |SELECT sensor_id, n, ROUND(r1, 6) AS rho1,
         |  ROUND(r2, 6) AS rho2, ROUND(r3, 6) AS rho3,
         |  ROUND(CAST(n AS DOUBLE)
         |    / (1.0::DOUBLE + 2.0::DOUBLE * (r1 + r2 + r3)), 6)
         |    AS ess
         |FROM r ORDER BY sensor_id"""
    ) { (s, d) =>
      graft.pipeline.Profiler.effectiveSampleSize(
          EventsAdapter.samples(s, d),
          "sensor_id", "timestamp_us", "value")
        .orderBy("sensor_id")
    }
  
  )
}
