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

/** Shared definitions for the family query registries: the Q
  * record, the q/qNoOracle constructors, the exact-decimal sum
  * helper, and every cross-query oracle-SQL builder / scoped
  * streaming-session holder the registries reference. Split out
  * of the former monolithic Queries.scala (r13); semantics are
  * unchanged — these were its private members.
  */
private[graft] object QueryHelpers {


  case class Q(
      name: String,
      fn: (SparkSession, String) => DataFrame,
      oracle: Option[String])

  def q(name: String, oracle: String)(
      fn: (SparkSession, String) => DataFrame): Q =
    Q(name, fn, Some(oracle.stripMargin))

  def qNoOracle(name: String)(
      fn: (SparkSession, String) => DataFrame): Q = Q(name, fn, None)

  /** Exact sum of a 2-decimal-valued DOUBLE column: cast each value to
    * DECIMAL(18,2) (exact for the generated data), sum in decimal, return
    * DOUBLE. Same construction is used verbatim in the oracle SQL.
    */
  def dsum(c: Column): Column =
    sum(c.cast("decimal(18,2)")).cast("double")

  /** Each order with its customer and the customer's nation. */
  def ordersWithNation(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .join(Tables.customer(s, d),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))

  /** Every customer with `tot`, the exact cents of its orders (null for
    * a customer without orders).
    */
  def customerSpend(s: SparkSession, d: String): DataFrame = {
    val ot = Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long").as("tot"))
    Tables.customer(s, d)
      .join(ot, col("c_custkey") === col("o_custkey"), "left")
  }

  /** Per user with clicks: views and click count, through the
    * fact/dimension `join` under test (q111, q129, q142 route it
    * through [[graft.operators.SaltedJoin]]); `viewsPerClickUserOracleSql`
    * is the plain join every routing must equal.
    */
  def viewsPerClickUser(s: SparkSession, d: String)(
      join: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val e = Tables.events(s, d)
    val dim = e.filter(col("event_type") === "click")
      .groupBy(col("user_id")).agg(count(lit(1)).as("clicks"))
    val fact = e.filter(col("event_type") === "view")
      .select(col("user_id"))
    join(fact, dim)
      .groupBy(col("user_id"), col("clicks"))
      .agg(count(lit(1)).as("n_views"))
      .select(col("user_id"), col("n_views"), col("clicks"))
      .orderBy("user_id")
  }

  lazy val viewsPerClickUserOracleSql: String =
    """WITH dim AS (
      |  SELECT user_id, COUNT(*) AS clicks FROM events
      |  WHERE event_type = 'click' GROUP BY 1),
      |f AS (SELECT user_id FROM events WHERE event_type = 'view')
      |SELECT f.user_id, COUNT(*) AS n_views, dim.clicks
      |FROM f JOIN dim USING (user_id)
      |GROUP BY 1, 3 ORDER BY 1"""

  /** Support and lift of every item pair bought together at least
    * twice, over a preceding `b (u, item)` basket CTE — the oracle of
    * [[graft.pipeline.Behavior.coOccurrence]] (q152, q256).
    */
  lazy val coOccurrenceSql: String =
    """n AS (SELECT COUNT(DISTINCT u)::DOUBLE AS nu FROM b),
      |ic AS (SELECT item, COUNT(*) AS cnt FROM b GROUP BY 1),
      |p AS (SELECT a.item AS ia, c.item AS ib, COUNT(*) AS co
      |  FROM b a JOIN b c ON a.u = c.u AND a.item < c.item
      |  GROUP BY 1, 2)
      |SELECT ia AS item_a, ib AS item_b, co AS n_both,
      |  x.cnt AS n_a, y.cnt AS n_b,
      |  co::DOUBLE / n.nu AS support,
      |  co::DOUBLE * n.nu / (x.cnt::DOUBLE * y.cnt::DOUBLE) AS lift
      |FROM p JOIN ic x ON p.ia = x.item JOIN ic y ON p.ib = y.item
      |CROSS JOIN n
      |WHERE co >= 2
      |ORDER BY item_a, item_b"""

  /** Per-sensor activity islands (q170, q190): `s` the events as
    * sensor samples, `g` a break where a sample follows the previous
    * one by more than 2 days, `i` each sample's running island id.
    */
  lazy val sensorIslandCtes: String =
    """s AS (SELECT event_type || ' ' || user_id AS sensor_id,
      |    epoch_us(ts) AS t, value FROM events),
      |g AS (SELECT sensor_id, t, value,
      |    CASE WHEN LAG(t) OVER w IS NULL
      |         OR t - LAG(t) OVER w > 172800000000
      |      THEN 1 ELSE 0 END AS brk
      |  FROM s WINDOW w AS (PARTITION BY sensor_id ORDER BY t, value)),
      |i AS (SELECT sensor_id, t, SUM(brk) OVER (
      |    PARTITION BY sensor_id ORDER BY t, value
      |    ROWS UNBOUNDED PRECEDING) AS island
      |  FROM g)"""

  /** The HyperLogLog register table of q271 (batch) and q275
    * (streaming), b = 8 over md5-60-bit orderkey hashes: `t` the keys
    * per returnflag, `m` each register's max rank `mj`, `g` per flag
    * the registers observed and the exact harmonic sum Σ 2^(53−mj).
    */
  lazy val hllRegisterCtes: String =
    """t AS (SELECT l_returnflag AS flag,
      |    CAST(l_orderkey AS VARCHAR) AS k FROM lineitem),
      |h AS (SELECT flag,
      |    ('0x'||substr(md5('0:'||k),1,15))::BIGINT AS hv FROM t),
      |r AS (SELECT flag, hv % 256 AS reg, hv // 256 AS w FROM h),
      |m AS (SELECT flag, reg,
      |    MAX(CASE WHEN w = 0 THEN 53
      |        ELSE 53 - length(bin(w)) END) AS mj
      |  FROM r GROUP BY 1, 2),
      |g AS (SELECT flag, COUNT(*) AS registers_observed,
      |    CAST(SUM(CAST(1 AS BIGINT) << CAST(53 - mj AS INT))
      |      AS BIGINT) AS tobs
      |  FROM m GROUP BY 1)"""

  /** Oracle SQL for q28: replays the seeded random-hyperplane LSH in
    * DuckDB. The 4×64 hyperplane components from
    * `Similarity.hyperplanes(64, 4, 42)` are inlined as full-precision
    * literals (`Double.toString` round-trips through DuckDB's parser), so
    * bucket assignment, Hamming-≤2 multiprobe, and the per-query top-5
    * are all exact replays of the Spark plan. Sign flips would need a
    * dot product within ~1 ULP of zero — not reachable on this data.
    */
  lazy val lshOracleSql: String = {
    val planes = graft.pipeline.Similarity.hyperplanes(dim = 64, bits = 4)
    def arr(p: Array[Double]): String =
      p.map(java.lang.Double.toString).mkString("[", ",", "]")
    def bucketExpr(v: String): String =
      planes.zipWithIndex.map { case (p, i) =>
        s"(CASE WHEN list_dot_product($v, ${arr(p)}) >= 0 THEN ${1L << i} ELSE 0 END)"
      }.mkString(" + ")
    // masks with popcount <= 2 over 4 bits, in the probe order the Spark
    // side generates (ascending mask value is irrelevant: the probe set is
    // a set — the join is on the XOR result)
    val masks = (0L until 16L).filter(java.lang.Long.bitCount(_) <= 2)
      .mkString("[", ",", "]")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |b AS (SELECT vec_id, v, ${bucketExpr("v")} AS bucket FROM e),
       |q AS (SELECT vec_id AS query_id, v AS qv, bucket AS qbucket
       |      FROM b WHERE vec_id < 10),
       |qp AS (SELECT query_id, qv, xor(qbucket, mask) AS bucket
       |       FROM q, (SELECT unnest($masks) AS mask)),
       |cand AS (
       |  SELECT qp.query_id, qp.qv, b.vec_id, b.v
       |  FROM qp JOIN b USING (bucket) WHERE b.vec_id <> qp.query_id)
       |SELECT query_id, rank, vec_id, ROUND(cosine, 6) AS cosine FROM (
       |  SELECT query_id, vec_id, list_cosine_similarity(qv, v) AS cosine,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY list_cosine_similarity(qv, v) DESC, vec_id) AS rank
       |  FROM cand)
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
  }


  /** Poisson(1) inverse-CDF thresholds on the 60-bit hash scale:
    * t_k = ⌊CDF(k)·2⁶⁰⌋ for k = 0..4 — weight = first k with
    * h < t_k, else 5. Exact integers, shared by engine and oracle.
    */
  // `final val` Int literal = compile-time constant, inlined at use
  // sites — immune to the object-init ordering the lazy-val comment
  // below documents (a plain val here reads as 0 from the registry)
  final val BootReps = 200
  lazy val BootThresholds: IndexedSeq[Long] = {
    val pmf = (0 to 4).map(k =>
      math.exp(-1.0) / (1 to k).product.max(1))
    val cdf = pmf.scanLeft(0.0)(_ + _).tail
    cdf.map(c => (c * (1L << 60).toDouble).toLong)
  }

  lazy val bootstrapOracleSql: String = {
    val wcase = BootThresholds.zipWithIndex
      .map { case (t, k) => s"WHEN h < $t THEN $k" }
      .mkString(" ")
    s"""WITH e AS (SELECT event_type, event_id,
       |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
       |  FROM events WHERE event_type IN ('purchase', 'view')),
       |b AS (SELECT e.*, bb.b FROM e,
       |  (SELECT unnest(range(0, $BootReps)) AS b) bb),
       |hw AS (SELECT event_type, b, cents,
       |    CASE $wcase ELSE 5 END AS w
       |  FROM (SELECT *, ('0x' || substr(md5('boot:'
       |      || CAST(b AS VARCHAR) || ':'
       |      || CAST(event_id AS VARCHAR)), 1, 15))::BIGINT AS h
       |    FROM b)),
       |reps AS (SELECT event_type, b,
       |    CAST(SUM(w * cents) AS BIGINT) AS s,
       |    CAST(SUM(w) AS BIGINT) AS n
       |  FROM hw GROUP BY 1, 2),
       |rk AS (SELECT event_type, b,
       |    CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 100.0 AS mean_b,
       |    ROW_NUMBER() OVER (PARTITION BY event_type
       |      ORDER BY CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 100.0,
       |        b) AS rk
       |  FROM reps),
       |ci AS (SELECT event_type,
       |    MAX(CASE WHEN rk = 6 THEN mean_b END) AS ci_lo,
       |    MAX(CASE WHEN rk = ${BootReps - 5} THEN mean_b END) AS ci_hi
       |  FROM rk GROUP BY 1),
       |base AS (SELECT event_type, COUNT(*) AS n_rows,
       |    CAST(SUM(cents) AS BIGINT) AS sc
       |  FROM e GROUP BY 1)
       |SELECT base.event_type, base.n_rows,
       |  CAST(base.sc AS DOUBLE) / CAST(base.n_rows AS DOUBLE) / 100.0
       |    AS mean_value,
       |  ci.ci_lo, ci.ci_hi
       |FROM base JOIN ci ON base.event_type = ci.event_type
       |ORDER BY base.event_type"""
    // NO .stripMargin here: the q() helper strips margins once, and a
    // second strip would eat the leading pipe of a continuation line
    // that begins with `||`
  }

  /** RBO tail weights: Tµ(r) = round(10¹² · Σ_{d=r..20} (1−p)p^{d−1}/d)
    * at p=0.9 — the per-token contribution by worst rank, µ-quantized
    * so both engines sum exact integers.
    */
  lazy val RboTailMu: IndexedSeq[Long] = {
    val p = 0.9
    val w = (1 to 20).map(dd => (1 - p) * math.pow(p, dd - 1) / dd)
    (1 to 20).map(r => math.round(w.drop(r - 1).sum * 1e12))
  }

  lazy val rboOracleSql: String = {
    val tcase = RboTailMu.zipWithIndex
      .map { case (mu, i) => s"WHEN ${i + 1} THEN ${mu}" }
      .mkString(" ")
    s"""WITH tok AS (SELECT source,
       |    unnest(string_split_regex(trim(lower(text)), '\\s+'))
       |      AS token
       |  FROM documents WHERE length(trim(text)) > 0),
       |t2 AS (SELECT source, token FROM tok WHERE length(token) > 0),
       |ps AS (SELECT source, token, rs FROM (
       |    SELECT source, token, ROW_NUMBER() OVER (PARTITION BY source
       |      ORDER BY COUNT(*) DESC, token ASC) AS rs
       |    FROM t2 GROUP BY source, token)
       |  WHERE rs <= 20),
       |co AS (SELECT token, rc FROM (
       |    SELECT token, ROW_NUMBER() OVER (
       |      ORDER BY COUNT(*) DESC, token ASC) AS rc
       |    FROM t2 GROUP BY token)
       |  WHERE rc <= 20)
       |SELECT ps.source, COUNT(*) AS n_common,
       |  CAST(SUM(CASE GREATEST(ps.rs, co.rc) $tcase ELSE 0 END)
       |    AS BIGINT) AS rbo_mu,
       |  CAST(CAST(SUM(CASE GREATEST(ps.rs, co.rc) $tcase ELSE 0 END)
       |    AS BIGINT) AS DOUBLE) / 1000000000000.0 AS rbo
       |FROM ps JOIN co ON ps.token = co.token
       |GROUP BY ps.source ORDER BY ps.source""".stripMargin
  }

  /** NDCG@5 discount weights 1/log₂(i+1), and their prefix sums (the
    * ideal DCG for m relevant results) — computed once here and
    * embedded as full-precision literals in BOTH engines' surfaces,
    * so no engine evaluates a logarithm at query time.
    */
  lazy val NdcgWeights: IndexedSeq[Double] =
    (1 to 5).map(i => 1.0 / (math.log(i + 1.0) / math.log(2.0)))
  lazy val NdcgIdeal: IndexedSeq[Double] =
    NdcgWeights.scanLeft(0.0)(_ + _).tail

  lazy val ndcgOracleSql: String = {
    // VARCHAR-cast literals: DuckDB types a bare decimal literal as
    // DECIMAL, and `<literal>::DOUBLE` converts decimal→double with a
    // double-rounding (the int128 lesson) — but CAST('…' AS DOUBLE)
    // goes through the correctly-rounded string parser and lands on
    // the exact shortest-repr double Scala emitted.
    def lit(d: Double) =
      s"CAST('${java.lang.Double.toString(d)}' AS DOUBLE)"
    val dcgTerms = (1 to 5)
      .map(i => s"r$i * ${lit(NdcgWeights(i - 1))}")
      .mkString(" + ")
    val idealCase = (1 to 5)
      .map(m => s"WHEN m = $m THEN ${lit(NdcgIdeal(m - 1))}")
      .mkString(" ")
    s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
       |  FROM embeddings),
       |q AS (SELECT vec_id AS query_id, label AS qlabel, v AS qv
       |  FROM e WHERE vec_id < 10),
       |tk AS (SELECT query_id, vec_id, qlabel, rank FROM (
       |    SELECT q.query_id, e.vec_id, q.qlabel,
       |      ROW_NUMBER() OVER (PARTITION BY q.query_id
       |        ORDER BY list_cosine_similarity(q.qv, e.v) DESC,
       |          e.vec_id) AS rank
       |    FROM q, e WHERE e.vec_id <> q.query_id)
       |  WHERE rank <= 5),
       |r AS (SELECT tk.query_id, tk.rank,
       |    CASE WHEN e.label = tk.qlabel THEN 1 ELSE 0 END AS rel
       |  FROM tk JOIN e ON tk.vec_id = e.vec_id),
       |g AS (SELECT query_id,
       |    ${(1 to 5).map(i =>
            s"COALESCE(SUM(CASE WHEN rank = $i THEN rel END), 0)" +
              s" AS r$i").mkString(", ")},
       |    CAST(SUM(rel) AS BIGINT) AS m
       |  FROM r GROUP BY 1)
       |SELECT query_id, m AS n_relevant,
       |  CASE WHEN m = 0 THEN 0.0
       |    ELSE ($dcgTerms) / (CASE $idealCase ELSE 0.0 END)
       |  END AS ndcg
       |FROM g ORDER BY query_id""".stripMargin
  }

  /** `e` the embeddings as DOUBLE[] and `q` the ten query vectors
    * (vec_id < 10) of the vector-search oracles.
    */
  lazy val annQueryCtes: String =
    """e AS (SELECT vec_id, embedding::DOUBLE[] AS v
      |  FROM embeddings),
      |q AS (SELECT vec_id AS query_id, v AS qv FROM e
      |  WHERE vec_id < 10)"""

  /** [[annQueryCtes]], then `brute`: each query's exact top-5 cosine
    * neighbors, ties to the lower vec_id — the reference side of the
    * recall oracles (q308, q327).
    */
  lazy val bruteTop5Ctes: String =
    s"""$annQueryCtes,
       |brute AS (SELECT query_id, vec_id FROM (
       |    SELECT q.query_id, e.vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY q.query_id
       |        ORDER BY list_cosine_similarity(q.qv, e.v) DESC,
       |          e.vec_id) AS rank
       |    FROM q, e WHERE e.vec_id <> q.query_id)
       |  WHERE rank <= 5)"""

  lazy val annRecallOracleSql: String =
    s"""WITH $bruteTop5Ctes,
       |lsh AS (SELECT query_id, vec_id FROM ($lshOracleSql))
       |SELECT b.query_id, COUNT(l.vec_id) AS n_hit,
       |  CAST(COUNT(l.vec_id) AS DOUBLE) / 5.0 AS recall
       |FROM brute b LEFT JOIN lsh l
       |  ON b.query_id = l.query_id AND b.vec_id = l.vec_id
       |GROUP BY 1 ORDER BY b.query_id""".stripMargin

  /** `g`, the distinct 3-gram shingles of each document of a preceding
    * `t (doc_id, toks)` CTE — the shingle definition of
    * [[graft.pipeline.Dedup]]'s exact-Jaccard join.
    */
  lazy val shingleCte: String =
    """g AS (SELECT DISTINCT doc_id,
      |        unnest(list_transform(generate_series(1, len(toks)-2),
      |          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
      |      FROM t)"""

  /** `g`, then `sizes` (shingles per document) and `p` (shingles
    * shared by each document pair `da < db`): the exact-Jaccard inputs
    * of the near-duplicate oracles.
    */
  lazy val shinglePairCtes: String =
    s"""$shingleCte,
       |sizes AS (SELECT doc_id, count(*) n FROM g GROUP BY 1),
       |p AS (SELECT a.doc_id da, b.doc_id db, count(*) c FROM g a
       |      JOIN g b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2)"""

  /** The near-duplicate clustering oracles' CTEs (q57, q86, q299),
    * behind a `WITH RECURSIVE`: Jaccard ≥ 0.5 document pairs as
    * symmetric edges, their reachability closure `reach`, and `comp`,
    * each reached document's smallest reachable id.
    */
  lazy val nearDupClosureCtes: String =
    s"""t AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
       |  FROM documents),
       |$shinglePairCtes,
       |pairs AS (
       |  SELECT da AS id_a, db AS id_b
       |  FROM p JOIN sizes sa ON p.da = sa.doc_id
       |         JOIN sizes sb ON p.db = sb.doc_id
       |  WHERE c::DOUBLE/(sa.n + sb.n - c) >= 0.5),
       |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
       |          UNION SELECT id_b, id_a FROM pairs),
       |reach AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
       |comp AS (SELECT a AS id, MIN(b) AS mn FROM reach GROUP BY a)"""

  /** q299's oracle: q57's reachability-closure clustering CTE extended
    * with the survivorship election — mode via ROW_NUMBER over
    * (count DESC, value ASC), max completeness, min-id representative.
    */
  lazy val goldenRecordOracleSql: String =
    s"""WITH RECURSIVE $nearDupClosureCtes,
       |cl AS (SELECT d.doc_id AS id,
       |    COALESCE(LEAST(c.id, c.mn), d.doc_id) AS cluster_id,
       |    d.lang, d.source, d.n_chars
       |  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id),
       |base AS (SELECT cluster_id, MIN(id) AS rep_id,
       |    COUNT(*) AS n_members, MAX(n_chars) AS n_chars_max
       |  FROM cl GROUP BY 1),
       |lm AS (SELECT cluster_id, lang AS lang_mode FROM (
       |    SELECT cluster_id, lang, ROW_NUMBER() OVER (
       |      PARTITION BY cluster_id
       |      ORDER BY COUNT(*) DESC, lang ASC) AS rk
       |    FROM cl GROUP BY cluster_id, lang) WHERE rk = 1),
       |sm AS (SELECT cluster_id, source AS source_mode FROM (
       |    SELECT cluster_id, source, ROW_NUMBER() OVER (
       |      PARTITION BY cluster_id
       |      ORDER BY COUNT(*) DESC, source ASC) AS rk
       |    FROM cl GROUP BY cluster_id, source) WHERE rk = 1)
       |SELECT b.cluster_id, b.rep_id, b.n_members, b.n_chars_max,
       |  lm.lang_mode, sm.source_mode
       |FROM base b JOIN lm USING (cluster_id) JOIN sm USING (cluster_id)
       |ORDER BY cluster_id"""

  /** q296's oracle: the batch interval join, plus unmatched clicks
    * gated by the joint watermark rule (boundary form pinned against
    * the engine empirically at sf0.01).
    */
  lazy val outerJoinOracleSql: String =
    """WITH c AS (SELECT user_id AS cu, epoch_us(ts) AS cts
      |  FROM events WHERE event_type = 'click' AND user_id < 10),
      |v AS (SELECT user_id AS vu, epoch_us(ts) AS vts
      |  FROM events WHERE event_type = 'view' AND user_id < 10),
      |wm AS (SELECT LEAST(
      |    (SELECT MAX(cts) FROM c), (SELECT MAX(vts) FROM v))
      |    - 3600000000 AS w),
      |m AS (SELECT c.cu, c.cts, COUNT(v.vts) AS n_views
      |  FROM c LEFT JOIN v ON c.cu = v.vu
      |    AND v.vts BETWEEN c.cts - 300000000 AND c.cts + 300000000
      |  GROUP BY c.cu, c.cts)
      |SELECT cu AS user_id, cts AS cts_us, n_views
      |FROM m, wm
      |WHERE n_views > 0 OR cts + 300000000 < wm.w
      |ORDER BY user_id, cts_us"""

  /** q291's oracle: batch 2's late filter uses the watermark current
    * DURING batch 1 — computed from batch-0 data only (max parity-0 ts
    * − 30 min; SPARK-40925's one-batch lag means batch 1 itself filters
    * with the initial zero watermark and drops nothing) — keeping rows
    * whose window END is strictly past it; emission keeps windows whose
    * end is ≤ the final watermark (max ts over ALL parities − 30 min —
    * if the global max arrives in batch 2, the closing no-data batch
    * applies it). Both rules verified against the engine output
    * empirically at sf0.01.
    */
  lazy val lateDataOracleSql: String =
    """WITH w1 AS (SELECT MAX(epoch_us(ts)) - 1800000000 AS wm
      |  FROM events WHERE event_id % 3 = 0),
      |wf AS (SELECT MAX(epoch_us(ts)) - 1800000000 AS wm FROM events),
      |acc AS (SELECT event_type,
      |    (epoch_us(ts) // 600000000) * 600000000 AS ws
      |  FROM events, w1
      |  WHERE event_id % 3 <> 2
      |    OR (epoch_us(ts) // 600000000) * 600000000 + 600000000
      |      > w1.wm)
      |SELECT event_type, ws AS window_start_us, COUNT(*) AS n
      |FROM acc, wf
      |WHERE ws + 600000000 <= wf.wm
      |GROUP BY event_type, ws
      |ORDER BY event_type, window_start_us"""

  /** q279's oracle: the same distinct-key left-join conditional
    * aggregate, one block per FK edge, generated from a shared edge
    * list so engine and oracle cannot drift.
    */
  lazy val riOracleSql: String = {
    val edges = Seq(
      ("events.user_id->customer", "events", "user_id",
        "customer", "c_custkey"),
      ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey",
        "orders", "o_orderkey"),
      ("lineitem.l_partkey->part", "lineitem", "l_partkey",
        "part", "p_partkey"),
      ("orders.o_custkey->customer", "orders", "o_custkey",
        "customer", "c_custkey"),
      ("supplier.s_nationkey->nation", "supplier", "s_nationkey",
        "nation", "n_nationkey"))
    val blocks = edges.map { case (label, child, ck, parent, pk) =>
      s"""SELECT '$label' AS relation,
         |  CAST(COALESCE(SUM(n), 0) AS BIGINT) AS n_child,
         |  COUNT(*) AS n_keys,
         |  CAST(COALESCE(SUM(CASE WHEN p IS NULL THEN n END), 0)
         |    AS BIGINT) AS n_orphan_rows,
         |  COUNT(CASE WHEN p IS NULL THEN 1 END) AS n_orphan_keys,
         |  CAST(COALESCE(SUM(CASE WHEN p IS NULL THEN n END), 0)
         |    AS DOUBLE) / CAST(SUM(n) AS DOUBLE) AS orphan_rate
         |FROM (
         |  SELECT ckt.n, pkt.p FROM
         |    (SELECT $ck AS k, COUNT(*) AS n FROM $child
         |     WHERE $ck IS NOT NULL GROUP BY 1) ckt
         |  LEFT JOIN (SELECT DISTINCT $pk AS k, 1 AS p FROM $parent) pkt
         |    ON ckt.k = pkt.k)""".stripMargin
    }
    blocks.mkString("", "\nUNION ALL\n", "\nORDER BY relation")
  }

  /** q276's oracle: the fake dHash replayed as 63 generated CASE terms
    * (one per grid comparison, bit weights as int64 literals) plus the
    * same band-bucket join and exact hamming verification.
    */
  lazy val dhashOracleSql: String = {
    val terms = (for {
      y <- 0 until 8
      x <- 0 until 8
      bit = y * 8 + x
      if bit < 63
    } yield
      s"CASE WHEN ascii(substr(s,${y * 9 + x + 1},1)) < " +
        s"ascii(substr(s,${y * 9 + x + 2},1)) THEN ${1L << bit} " +
        "ELSE 0 END").mkString(" + ")
    s"""WITH sx AS (SELECT doc_id,
       |    rpad(regexp_replace(lower(text), '[^ -~]', '', 'g'), 72, ' ')
       |      AS s FROM documents),
       |h AS (SELECT doc_id, ($terms)::BIGINT AS dhash FROM sx),
       |b AS (SELECT doc_id, dhash, UNNEST([0,1,2,3]) AS band FROM h),
       |bb AS (SELECT doc_id, dhash, band,
       |    (dhash >> (16*band)) & 65535 AS bv FROM b),
       |p AS (SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b,
       |    bit_count(xor(a.dhash, b2.dhash)) AS hamming
       |  FROM bb a JOIN bb b2 ON a.band = b2.band AND a.bv = b2.bv
       |    AND a.doc_id < b2.doc_id)
       |SELECT id_a, id_b, hamming FROM p WHERE hamming <= 6
       |ORDER BY id_a, id_b""".stripMargin
  }

  // lazy: referenced from the registry (via partChiSql) during object
  // init, which runs before later plain vals are assigned
  lazy val partTypeDomain: Seq[String] =
    Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")

  /** q268's oracle: the q182 chi-square shape over the literal part
    * type domain (string values).
    */
  lazy val partChiSql: String = {
    val ds = partTypeDomain.indices
    val oCells = ds.map(i =>
      s"SUM(CASE WHEN p_type = '${partTypeDomain(i)}' THEN 1 ELSE 0" +
        s" END) AS o$i").mkString(", ")
    val cCells = ds.map(i =>
      s"SUM(CASE WHEN p_type = '${partTypeDomain(i)}' THEN 1 ELSE 0" +
        s" END) AS c$i").mkString(", ")
    val rt = ds.map(i => s"o$i").mkString(" + ")
    val eCols = ds.map(i =>
      s"CAST(rt AS DOUBLE) * CAST(c$i AS DOUBLE)" +
        s" / CAST(grand AS DOUBLE) AS e$i").mkString(", ")
    val terms = ds.map(i =>
      s"(CAST(o$i AS DOUBLE) - e$i) * (CAST(o$i AS DOUBLE) - e$i)" +
        s" / e$i").mkString(" + ")
    s"""WITH src AS (SELECT p_brand, p_type FROM part),
       |rows_ AS (SELECT p_brand, $oCells FROM src GROUP BY 1),
       |tot AS (SELECT $cCells, COUNT(*) AS grand FROM src),
       |x AS (SELECT *, $rt AS rt FROM rows_ CROSS JOIN tot),
       |e AS (SELECT *, $eCols FROM x)
       |SELECT p_brand, CAST(rt AS BIGINT) AS n_row,
       |  round($terms, 6) AS chi2_contrib
       |FROM e ORDER BY p_brand"""
  }

  /** Oracle for q246: the same descending power-of-two CASE chain as
    * [[TextAnalysis.pow2BucketSql]], generated from the same exponent
    * range so the two surfaces cannot drift.
    */
  lazy val lengthMixOracleSql: String = {
    val cases = (30 to 1 by -1)
      .map(k => s"WHEN n >= ${1L << k} THEN ${1L << k}")
      .mkString("CASE ", " ", " ELSE 1 END")
    s"""WITH t AS (SELECT CAST(len(string_split_regex(
       |    trim(lower(text)), '\\s+')) AS BIGINT) AS n FROM documents),
       |f AS (SELECT n FROM t WHERE n > 0),
       |b AS (SELECT CAST($cases AS BIGINT) AS len_bucket_lo, n FROM f),
       |g AS (SELECT len_bucket_lo, COUNT(*) AS n_docs,
       |    CAST(SUM(n) AS BIGINT) AS total_tokens
       |  FROM b GROUP BY 1),
       |tot AS (SELECT COUNT(*) AS td, CAST(SUM(n) AS BIGINT) AS tt
       |  FROM f)
       |SELECT len_bucket_lo, n_docs, total_tokens,
       |  ROUND(CAST(n_docs AS DOUBLE) / CAST(td AS DOUBLE), 6)
       |    AS doc_share,
       |  ROUND(CAST(total_tokens AS DOUBLE) / CAST(tt AS DOUBLE), 6)
       |    AS token_share
       |FROM g CROSS JOIN tot ORDER BY len_bucket_lo""".stripMargin
  }

  /** Drain a bounded streaming query INCLUDING its trailing
    * watermark-eviction no-data batch. `processAllAvailable` waits only
    * for DATA batches; when the final data batch advances the
    * watermark, the append-mode window finalization / outer-join null
    * emission / state eviction runs in ONE more no-data batch. Whether
    * that batch is due is decidable from the last progress entry:
    * due iff maxEventTime − delay > current watermark. Three exits:
    *  - last progress has numInputRows == 0 → the no-data batch has
    *    committed; quiescent (zero extra cost);
    *  - not due (the q291/q313 late-file sources, whose final batch by
    *    DESIGN does not advance the watermark; or no watermark at all)
    *    → quiescent immediately (zero extra cost);
    *  - due but not yet visible → poll recentProgress (in-memory, no
    *    Spark jobs) until it lands; 1 s grace, then one count-stability
    *    settle as a correctness backstop (multi-watermark queries can
    *    make the due-estimate conservative), 5 s liveness bound.
    */
  def drainWithEviction(
      ss: SparkSession, query: org.apache.spark.sql.streaming.StreamingQuery,
      name: String, delayMs: Long): Unit = {
    query.processAllAvailable()
    def lastProgress = query.recentProgress.lastOption
    def quiescent: Boolean = lastProgress match {
      case None => true
      case Some(p) if p.numInputRows == 0 => true
      case Some(p) =>
        val et = p.eventTime
        val mx = Option(et.get("max")).map(java.time.Instant.parse)
        val wm = Option(et.get("watermark")).map(java.time.Instant.parse)
        (mx, wm) match {
          case (Some(m), Some(w)) =>
            // no-data batch due only if the watermark would advance
            !m.minusMillis(delayMs).isAfter(w)
          case _ => true // no watermark machinery -> nothing trailing
        }
    }
    val grace = System.nanoTime() + 1L * 1000 * 1000 * 1000
    var done = quiescent
    while (!done && System.nanoTime() < grace) {
      Thread.sleep(5)
      done = quiescent
    }
    if (!done) {
      // backstop: settle on three equal sink counts ~50 ms apart
      val deadline = System.nanoTime() + 4L * 1000 * 1000 * 1000
      var prev = -1L
      var stable = 0
      while (stable < 2 && System.nanoTime() < deadline) {
        val cur = ss.table(name).count()
        if (cur == prev) stable += 1 else { stable = 0; prev = cur }
        if (stable < 2) Thread.sleep(50)
      }
    }
  }

  /** Per-(session, sfDir) streaming-source dumps for q219 (bounded:
    * one small parquet per scale factor per JVM).
    */
  val q219SourceDirs = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), java.nio.file.Path]()

  /** Per-(session, sfDir, table) symlink dirs exposing one parquet file
    * as a file-stream source directory — INPUT plumbing cached like
    * Tables' relation cache (bounded: one tiny dir per table per SF per
    * JVM; the OS owns /tmp cleanup), so Bench's 4 runs per query pay the
    * mkdir+symlink once instead of per invocation.
    */
  val streamLinkDirs = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, String), java.nio.file.Path]()
  def streamSourceDir(
      s: SparkSession, d: String, table: String): String =
    streamLinkDirs.computeIfAbsent((s, d, table), _ => {
      val p = graft.TempDirs.create(s"graft_stream_$table")
      java.nio.file.Files.createSymbolicLink(
        p.resolve(s"$table.parquet"),
        java.nio.file.Paths.get(s"$d/$table.parquet"))
      p
    }).toString

  /** Two-micro-batch event source for the q291 watermark-semantics pin:
    * events split by event_id parity into TWO parquet files whose
    * modification times force FileStreamSource's oldest-first order
    * (even file first), so with maxFilesPerTrigger=1 batch 1 = even
    * rows, batch 2 = odd rows — and because both halves span the full
    * time range, batch 2 carries genuinely late data. Built once per
    * (session, sf) in /tmp; the OS owns cleanup.
    */
  val lateSplitDirs = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), String]()
  def lateSourceDir(s: SparkSession, d: String): String =
    lateSplitDirs.computeIfAbsent((s, d), _ => {
      val root = graft.TempDirs.create("graft_stream_late")
      val ev = Tables.load(s, d, "events")
      def dump(parity: Int, name: String, mtimeMs: Long): Unit = {
        val tmp = root.resolve(s"${name}_tmp")
        ev.filter(col("event_id") % 3 === parity)
          .coalesce(1).write.parquet(tmp.toString)
        val part = java.nio.file.Files.list(tmp)
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .findFirst().get()
        java.nio.file.Files.move(part, root.resolve(name))
        java.nio.file.Files.setLastModifiedTime(root.resolve(name),
          java.nio.file.attribute.FileTime.fromMillis(mtimeMs))
      }
      dump(0, "0.parquet", 1000000000000L)
      dump(1, "1.parquet", 1000000060000L)
      dump(2, "2.parquet", 1000000120000L)
      root.toString
    })

  /** One scoped streaming session (4 state partitions) per root session —
    * the q116 state-store scoping applied to EVERY bounded streaming
    * demo: a stateful op opens a state store per shuffle partition, so
    * at the session default of 32 the fixed micro-batch overhead is 8×
    * the data work for these bounded corpora. Partition count never
    * changes an answer (the streaming≡batch pins hold); it only sheds
    * fixed state machinery. Cached so repeated Bench runs share one
    * SQLConf + its plan caches.
    */
  val scopedStreamSessions = new java.util.concurrent.ConcurrentHashMap[
    SparkSession, SparkSession]()
  private val StreamStatePartitions = 4
  def streamSession(s: SparkSession): SparkSession =
    scopedStreamSessions.computeIfAbsent(s,
      _ => graft.streaming.StreamingIngest.stateScopedSession(s,
        StreamStatePartitions))

  /** Rows a bounded memory-sink result may hold (see [[boundedResult]]). */
  private val StreamResultCap = 2000000

  /** Materialize a bounded memory-sink result (`out`, a view over the
    * scoped session's sink table, transforms applied but UNSORTED) as a
    * driver-local single-partition DataFrame on the caller's session,
    * sorted on `sortCols`, and drop the sink view so Bench's 4
    * runs-per-query don't accumulate result tables in driver memory.
    *
    * Sort discipline: `coalesce(1).sortWithinPartitions` on BOTH sides
    * instead of `orderBy` — a global orderBy range-partitions, which
    * costs an extra range-SAMPLING Spark job plus an exchange on every
    * action; for a bounded (≤ ~100 k rows by construction: these are
    * aggregated streaming answers) result a one-task sort is the same
    * total order with neither. Profiling (r11) showed the two orderBys
    * here were ~0.5 s of each streaming query's ~2 s warm time. The
    * returned local relation re-sorts lazily per action, so callers see
    * the declared order no matter how the optimizer rewrites the scan.
    */
  def boundedResult(
      s: SparkSession, ss: SparkSession, name: String,
      out: DataFrame, sortCols: Seq[String]): DataFrame = {
    // ENFORCED bound (r15 verdict residual (b), proven live by the r16
    // sf10 probe): the memory-sink rows live on the driver, and the
    // collect job EMBEDS them in its serialized tasks — past a few
    // million rows that serialization alone exceeds the driver heap
    // (observed: scheduler-thread OOM at sf10). Probe the count with a
    // limit-pushdown take (never ships the full set) and fail LOUDLY
    // with remediation instead of dying in the scheduler.
    if (out.limit(StreamResultCap + 1).count() > StreamResultCap) {
      ss.catalog.dropTempView(name)
      throw new IllegalStateException(
        s"streaming result exceeds the $StreamResultCap-row driver-local " +
          "memory-sink contract — route this stream to a file sink " +
          "(StreamingIngest file/store sinks)")
    }
    val rows = java.util.Arrays.asList(
      out.coalesce(1).sortWithinPartitions(sortCols.map(col): _*)
        .collect(): _*)
    ss.catalog.dropTempView(name)
    s.createDataFrame(rows, out.schema)
      .sortWithinPartitions(sortCols.map(col): _*)
  }

  /** Shared CUSUM oracle (q196 batch, q219 streaming — the operators
    * are fold-identical by construction, so one recursive-CTE replay
    * serves both): advance one row per sensor per step, with the exact
    * `greatest(0, s + ((x − target) − slack))` arithmetic order.
    */
  lazy val cusumOracleSql: String =
    """WITH RECURSIVE base AS (SELECT event_type || ' ' || user_id
      |    AS sensor_id, epoch_us(ts) AS t, value,
      |    ROW_NUMBER() OVER (PARTITION BY event_type || ' ' || user_id
      |      ORDER BY epoch_us(ts), value) AS rn
      |  FROM events),
      |c AS (
      |  SELECT sensor_id, t, value, rn,
      |    greatest(0.0::DOUBLE, (value - 50.0) - 5.0) AS cs
      |  FROM base WHERE rn = 1
      |  UNION ALL
      |  SELECT b.sensor_id, b.t, b.value, b.rn,
      |    greatest(0.0::DOUBLE, c.cs + ((b.value - 50.0) - 5.0)) AS cs
      |  FROM c JOIN base b ON b.sensor_id = c.sensor_id
      |    AND b.rn = c.rn + 1)
      |SELECT sensor_id, t, value, cs AS s_cusum,
      |  CAST(cs > 200.0 AS INTEGER) AS alarm
      |FROM c ORDER BY sensor_id, t, value""".stripMargin

  /** One unrolled label-propagation round for the q204 oracle: deliver
    * labels over the symmetric edge list, count per (node, label),
    * argmax by (count desc, label asc), keep the previous label where
    * no neighbour exists — the same rule
    * [[graft.pipeline.Behavior.labelPropagation]] applies, generated so
    * the rounds cannot drift apart.
    */
  def lpaIter(prev: String, cur: String): String =
    s"""${cur}b AS (SELECT id, lbl FROM (
       |    SELECT e.t2 AS id, $prev.lbl, COUNT(*) AS c,
       |      ROW_NUMBER() OVER (PARTITION BY e.t2
       |        ORDER BY COUNT(*) DESC, $prev.lbl) AS rnk
       |    FROM esym e JOIN $prev ON $prev.id = e.s GROUP BY 1, 2)
       |  WHERE rnk = 1),
       |$cur AS (SELECT $prev.id,
       |    COALESCE(${cur}b.lbl, $prev.lbl) AS lbl
       |  FROM $prev LEFT JOIN ${cur}b ON ${cur}b.id = $prev.id)"""

  lazy val lpaOracleSql: String =
    s"""WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+')
       |    AS toks FROM documents),
       |g AS (SELECT DISTINCT doc_id,
       |        unnest(list_transform(generate_series(1, len(toks)-2),
       |          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
       |          AS sh
       |      FROM t),
       |sizes AS (SELECT doc_id, count(*) n FROM g GROUP BY 1),
       |p AS (SELECT a.doc_id da, b.doc_id db, count(*) c FROM g a
       |      JOIN g b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |      GROUP BY 1, 2),
       |e0 AS (SELECT da AS s, db AS t2 FROM p
       |      JOIN sizes sa ON p.da = sa.doc_id
       |      JOIN sizes sb ON p.db = sb.doc_id
       |      WHERE c::DOUBLE/(sa.n + sb.n - c) >= 0.5),
       |esym AS (SELECT s, t2 FROM e0 UNION ALL SELECT t2, s FROM e0),
       |l0 AS (SELECT doc_id AS id, source AS lbl FROM documents),
       |${lpaIter("l0", "l1").stripMargin},
       |${lpaIter("l1", "l2").stripMargin},
       |${lpaIter("l2", "l3").stripMargin}
       |SELECT id AS doc_id, lbl AS label FROM l3 ORDER BY doc_id"""

  /** Unrolled ascending-dimension left-assoc squared euclidean over
    * list slices — the exact fold shape of
    * [[graft.pipeline.Similarity.nearestCentroid]]'s kernel, for the
    * q154/q155 PQ oracles.
    */
  def sqDistN(a: String, b: String, n: Int): String =
    (1 to n).map(i => s"($a[$i] - $b[$i]) * ($a[$i] - $b[$i])")
      .mkString(" + ")

  /** Shared CTE chain of the PQ oracles (q154 ADC ranks, q155
    * overfetch + exact rerank): rebuild the first-16 codebooks per
    * 8-dim subspace with a window rank, encode the corpus by
    * per-subspace argmin (ties to the lower code), compute each
    * query's distance table, and assemble ADC distances by adding the
    * 8 table entries in subspace order.
    */
  lazy val pqOracleCtes: String = {
    val sq8 = sqDistN(_: String, _: String, 8)
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v
       |  FROM embeddings),
       |cbsrc AS (SELECT v, ROW_NUMBER() OVER (ORDER BY vec_id) - 1
       |    AS j FROM e ORDER BY vec_id LIMIT 16),
       |ss AS (SELECT UNNEST(range(8)) AS s),
       |cb AS (SELECT ss.s, cbsrc.j,
       |    list_slice(cbsrc.v, 8*ss.s + 1, 8*ss.s + 8) AS cv
       |  FROM cbsrc, ss),
       |sub AS (SELECT e.vec_id, ss.s,
       |    list_slice(e.v, 8*ss.s + 1, 8*ss.s + 8) AS sv
       |  FROM e, ss),
       |enc AS (SELECT vec_id, s, j AS code FROM (
       |  SELECT sub.vec_id, sub.s, cb.j, ROW_NUMBER() OVER (
       |      PARTITION BY sub.vec_id, sub.s
       |      ORDER BY ${sq8("sub.sv", "cb.cv")}, cb.j) AS rnk
       |  FROM sub JOIN cb ON sub.s = cb.s) WHERE rnk = 1),
       |qsub AS (SELECT vec_id AS qid, s, sv AS qv FROM sub
       |  WHERE vec_id < 5),
       |qtab AS (SELECT qsub.qid, cb.s, cb.j,
       |    ${sq8("qsub.qv", "cb.cv")} AS d
       |  FROM qsub JOIN cb ON qsub.s = cb.s),
       |terms AS (SELECT qtab.qid, enc.vec_id, qtab.s, qtab.d
       |  FROM qtab JOIN enc ON qtab.s = enc.s AND qtab.j = enc.code
       |  WHERE qtab.qid <> enc.vec_id),
       |lists AS (SELECT qid, vec_id, list(d ORDER BY s) AS l
       |  FROM terms GROUP BY 1, 2),
       |adc AS (SELECT qid, vec_id,
       |    l[1]+l[2]+l[3]+l[4]+l[5]+l[6]+l[7]+l[8] AS dist FROM lists)"""
  }

  /** One k-means assignment CTE for the Lloyd oracles: each vector of
    * `e` to its nearest centroid of `c`, ties to the lower cid — the
    * argmin [[graft.pipeline.SimilarityArtifacts.kmeansAssignments]]
    * takes.
    */
  def kmeansAssign(a: String, c: String): String =
    s"""$a AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT e.vec_id, $c.cid,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY list_distance(e.v, $c.cv), $c.cid) AS rnk
       |    FROM e, $c) WHERE rnk = 1)"""

  /** One unrolled Lloyd round `i`: assign to c(i-1), per-dimension
    * SUM/COUNT means, empty clusters keep their previous centroid.
    */
  private def lloydRound(i: Int): String = {
    val (p, a, m, c) = (s"c${i - 1}", s"a$i", s"m$i", s"c$i")
    s"""${kmeansAssign(a, p)},
       |$m AS (
       |  SELECT $a.cid, u.s['p'] AS p, SUM(u.s['x']) / COUNT(*) AS x
       |  FROM $a JOIN e USING (vec_id),
       |    UNNEST(list_transform(e.v, (x, i) -> {'p': i, 'x': x})) AS u(s)
       |  GROUP BY 1, 2),
       |$c AS (
       |  SELECT $p.cid, COALESCE(n.cv, $p.cv) AS cv
       |  FROM $p LEFT JOIN (
       |    SELECT cid, list(x ORDER BY p) AS cv FROM $m GROUP BY cid) n
       |    USING (cid))"""
  }

  /** The k=8, two-round Lloyd unroll of the k-means oracles (q98,
    * q118, q134, q137) over a preceding `e (vec_id, v)` CTE: first-8
    * seeds `c0`, then rounds `c1` and `c2`, generated so the rounds
    * cannot drift apart.
    */
  lazy val kmeansLloydCtes: String =
    s"""c0 AS (
       |  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
       |  FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 8)),
       |${lloydRound(1)},
       |${lloydRound(2)}"""

  /** One unrolled PageRank iteration for the q153 oracle: the incoming
    * mass join/sum and the damped update, ROUND(9) — the same
    * expression shape as [[graft.pipeline.Behavior.pageRank]]'s loop
    * body, generated so the three iterations cannot drift apart.
    */
  def pageRankIter(prev: String, cur: String): String =
    s"""$cur AS (SELECT d_.s AS id,
       |    ROUND((1.0::DOUBLE - 0.85::DOUBLE) / nn.nu
       |      + 0.85::DOUBLE * COALESCE(m_.inn, 0.0::DOUBLE), 9) AS rank
       |  FROM dg d_ CROSS JOIN nn LEFT JOIN (
       |    SELECT sym.t AS id, SUM($prev.rank / dg.dg) AS inn
       |    FROM sym JOIN dg ON sym.s = dg.s
       |    JOIN $prev ON $prev.id = sym.s GROUP BY 1) m_
       |  ON m_.id = d_.s)"""

  /** Deterministic multilingual fixture for q140/q141: append the
    * ground-truth label's phrase (the first 10 words of that label's
    * stopword profile) to each document's text. The synthetic corpus is
    * uniformly English-vocabulary regardless of its `lang` label, so
    * without this no non-English profile ever scores a hit; with it the
    * argmax is a genuine five-way competition (the original text keeps
    * its English hits). Phrases come from the SAME
    * [[TextAnalysis.stopwordProfiles]] constant the classifier uses, and
    * [[langidOracleCtes]] inlines them from it too — the three surfaces
    * cannot drift.
    */
  def langidFixture(docs: DataFrame): DataFrame = {
    val entries = TextAnalysis.stopwordProfiles.flatMap { case (l, ws) =>
      Seq(lit(l), lit(ws.take(10).mkString(" ")))
    }
    docs.withColumn("ftext",
      concat(col("text"), lit(" "), element_at(map(entries: _*), col("lang"))))
  }

  /** Oracle CTEs replaying [[TextAnalysis.languageId]]'s full
    * multi-profile argmax in DuckDB over the [[langidFixture]] text:
    * per profile, the whole-token stopword membership count on the
    * lowered token list (list_filter/list_contains ≡ the Spark side's
    * whole-token regex — both count repeats, both match entire tokens),
    * the hit/token ratio, then the argmax with profile-priority
    * tie-break (CASE arm order = profile list order = priority order).
    * Every score is an integer hit count through one correctly-rounded
    * IEEE division by the same integer token count, so score
    * comparisons replay bit-exactly; no rounding needed anywhere.
    * Generated from [[TextAnalysis.stopwordProfiles]] — word lists,
    * phrases, and priorities share one source of truth with the
    * classifier.
    */
  lazy val langidOracleCtes: String = {
    val profiles = TextAnalysis.stopwordProfiles
    val phraseCase = profiles.map { case (l, ws) =>
      s"WHEN lang = '$l' THEN '${ws.take(10).mkString(" ")}'"
    }.mkString("CASE ", " ", " END")
    val scores = profiles.map { case (l, ws) =>
      val lst = ws.map(w => s"'$w'").mkString("[", ", ", "]")
      s"len(list_filter(toks, x -> list_contains($lst, x)))::DOUBLE" +
        s" / ntoks AS s_$l"
    }.mkString(",\n    ")
    val best = profiles.map(p => s"s_${p._1}").mkString("greatest(", ", ", ")")
    val argmax = profiles.map { case (l, _) =>
      s"WHEN s_$l = best THEN '$l'"
    }.mkString(" ")
    s"""d AS (
       |  SELECT doc_id, lang, text || ' ' || $phraseCase AS ftext
       |  FROM documents),
       |tk AS (SELECT doc_id, lang,
       |    string_split_regex(lower(trim(ftext)), '\\s+') AS toks,
       |    greatest(len(string_split_regex(trim(ftext), '\\s+')), 1)
       |      AS ntoks
       |  FROM d),
       |sc AS (SELECT doc_id, lang,
       |    $scores
       |  FROM tk),
       |sb AS (SELECT *, $best AS best FROM sc),
       |pr AS (SELECT doc_id, lang AS actual,
       |    CASE WHEN best = 0 THEN 'und' $argmax END AS predicted
       |  FROM sb)"""
  }

  /** q173's oracle: the bpe_split recurrence as a recursive CTE. Per
    * vocabulary word, state = the symbol list; one step merges the
    * leftmost occurrence of the lowest-rank adjacent pair (rank =
    * 1-based list_position into the merges literal — relative order is
    * all the argmin uses, so 1-based vs the kernel's 0-based is
    * irrelevant); absent pairs map to 999999 = "no merge". ENGINE
    * GOTCHA: DuckDB 1.0 `list_position` returns 0 — not NULL — for an
    * absent element, so the sentinel needs `nullif(·, 0)` before the
    * coalesce (a bare coalesce would rank every unknown pair 0 = best
    * and merge the whole word). The final state per word is the deepest
    * iteration. ASCII-only words make DuckDB's character indexing ≡ the
    * kernel's char indexing.
    */
  lazy val bpeCtes: String = {
    val m = graft.pipeline.BpeMerges.sqlList
    s"""WITH RECURSIVE vocab AS (
       |  SELECT t AS word, COUNT(*) AS cnt FROM (
       |    SELECT UNNEST(string_split_regex(trim(lower(text)), '\\s+'))
       |      AS t FROM documents)
       |  WHERE regexp_matches(t, '^[ -~]+$$')
       |  GROUP BY 1 HAVING COUNT(*) >= 2),
       |bpe AS (
       |  SELECT word, cnt,
       |    list_transform(range(1, len(word) + 1), i -> word[i]) AS l,
       |    0 AS it
       |  FROM vocab
       |  UNION ALL
       |  SELECT word, cnt,
       |    l[1:j-1] || [l[j] || l[j+1]] || l[j+2:len(l)] AS l,
       |    it + 1
       |  FROM (SELECT word, cnt, l, it,
       |      list_position(rk, list_min(rk)) AS j, list_min(rk) AS m
       |    FROM (SELECT word, cnt, l, it,
       |        list_transform(range(1, len(l)), i ->
       |          coalesce(nullif(list_position($m,
       |            l[i] || '|' || l[i+1]), 0), 999999)) AS rk
       |      FROM bpe WHERE len(l) > 1))
       |  WHERE m < 999999),
       |seg AS (
       |  SELECT word, cnt, l AS fl
       |  FROM (SELECT word, cnt, l, ROW_NUMBER() OVER (
       |      PARTITION BY word ORDER BY it DESC) AS rn FROM bpe)
       |  WHERE rn = 1)"""
  }

  lazy val bpeOracleSql: String =
    bpeCtes + s"""
       |SELECT word, array_to_string(fl, ' ') AS segmentation,
       |  CAST(len(fl) AS BIGINT) AS n_subwords, cnt
       |FROM seg ORDER BY word"""

  /** q177's oracle: tokenizer fertility (subwords per word, corpus
    * weighted) per word-length bucket over the q173 segmentation —
    * integer sums only, then ONE IEEE division (exact ints well under
    * 2^53 ⇒ bit-identical cross-engine).
    */
  lazy val bpeFertilitySql: String =
    bpeCtes + s"""
       |SELECT CASE WHEN len(word) <= 3 THEN 'short'
       |    WHEN len(word) <= 6 THEN 'mid' ELSE 'long' END AS len_bucket,
       |  COUNT(*) AS n_vocab, CAST(SUM(cnt) AS BIGINT) AS total_words,
       |  CAST(SUM(cnt * len(fl)) AS BIGINT) AS total_subwords,
       |  CAST(SUM(cnt * len(fl)) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE)
       |    AS fertility
       |FROM seg GROUP BY 1 ORDER BY len_bucket"""

  /** q182's oracle: χ² contributions with the exact arithmetic shape of
    * [[graft.pipeline.Profiler.chiSquareContrib]] — conditional sums
    * per literal weekday (never a data-ordered float SUM), expected
    * counts named once per day, the 7 terms added left-associated,
    * ROUND(6). Generated so the term order is the single source of
    * truth with the Spark `reduce(_ + _)` fold.
    */
  lazy val chiSquareSql: String = {
    val ds = 0 to 6
    val oCells = ds.map(d =>
      s"SUM(CASE WHEN dw = $d THEN 1 ELSE 0 END) AS o$d").mkString(", ")
    val cCells = ds.map(d =>
      s"SUM(CASE WHEN dw = $d THEN 1 ELSE 0 END) AS c$d").mkString(", ")
    val rt = ds.map(d => s"o$d").mkString(" + ")
    val eCols = ds.map(d =>
      s"CAST(rt AS DOUBLE) * CAST(c$d AS DOUBLE) / CAST(grand AS DOUBLE)" +
        s" AS e$d").mkString(", ")
    val terms = ds.map(d =>
      s"(CAST(o$d AS DOUBLE) - e$d) * (CAST(o$d AS DOUBLE) - e$d) / e$d")
      .mkString(" + ")
    s"""WITH src AS (SELECT event_type, EXTRACT(dow FROM ts) AS dw
       |    FROM events),
       |rows_ AS (SELECT event_type, $oCells FROM src GROUP BY 1),
       |tot AS (SELECT $cCells, COUNT(*) AS grand FROM src),
       |x AS (SELECT *, $rt AS rt FROM rows_ CROSS JOIN tot),
       |e AS (SELECT *, $eCols FROM x)
       |SELECT event_type, CAST(rt AS BIGINT) AS n_row,
       |  round($terms, 6) AS chi2_contrib
       |FROM e ORDER BY event_type"""
  }

  /** q188's oracle: Benford TVD with the exact arithmetic shape of
    * [[graft.pipeline.Profiler.benfordTest]] — integer-cents digit
    * extraction off the integer's VARCHAR form, conditional-sum digit
    * counts, the 9 |share − benford_d| terms added left-associated with
    * the SAME `math.log10` constants inlined as full-precision literals
    * (`Double.toString` round-trips through DuckDB's parser), ROUND(6).
    */
  lazy val benfordSql: String = {
    def colSql(c: String): String = {
      val counts = (1 to 9).map(d =>
        s"SUM(CASE WHEN d = $d THEN 1 ELSE 0 END) AS c$d").mkString(", ")
      val n = (1 to 9).map(d => s"c$d").mkString(" + ")
      val terms = (1 to 9).map { d =>
        val e = java.lang.Double.toString(math.log10(1.0 + 1.0 / d))
        s"abs(CAST(c$d AS DOUBLE) / CAST(n AS DOUBLE) - $e)"
      }.mkString(" + ")
      s"""SELECT '$c' AS col_name, CAST(n AS BIGINT) AS n,
         |  round(($terms) / 2.0, 6) AS tvd
         |FROM (SELECT *, $n AS n FROM (
         |  SELECT $counts FROM (
         |    SELECT CAST(substr(CAST(CAST(CAST(abs($c) AS DECIMAL(18,2))
         |      * 100 AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS d
         |    FROM lineitem) WHERE d >= 1))"""
    }
    Seq("l_extendedprice", "l_quantity", "l_discount")
      .map(colSql).mkString("\n|UNION ALL\n|") + "\n|ORDER BY col_name"
  }

  /** q323 oracle: the engine's 14 fixed k-core peeling rounds
    * unrolled as chained (non-recursive) CTEs — the pageRankIter
    * discipline. A recursive CTE cannot express peeling (its working
    * table accumulates rows; the peel SHRINKS a set), so each round
    * is one degree-filter + two-sided edge semi-join, literally.
    */
  lazy val kCoreSql: String = {
    val k = 3
    val rounds = 14
    val iters = (1 to rounds).map { i =>
      // MATERIALIZED: DuckDB inlines plain CTEs, and each round
      // references the previous one three times — unchecked, the
      // 14-round chain expands to ~3^14 scans of lineitem.
      s"""n$i AS MATERIALIZED (SELECT a FROM l${i - 1} GROUP BY a
         |  HAVING COUNT(*) >= $k),
         |l$i AS MATERIALIZED (SELECT l.a, l.b FROM l${i - 1} l
         |  JOIN n$i x ON l.a = x.a JOIN n$i y ON l.b = y.a)"""
    }.mkString(",\n|")
    s"""WITH it AS MATERIALIZED (SELECT DISTINCT l_orderkey AS bk,
       |    l_partkey AS item FROM lineitem),
       |pr AS (SELECT a.item AS ia, b2.item AS ib
       |  FROM it a JOIN it b2 ON a.bk = b2.bk AND a.item < b2.item),
       |ed AS (SELECT ia, ib FROM pr GROUP BY 1, 2
       |  HAVING COUNT(*) >= 2),
       |l0 AS MATERIALIZED (SELECT ia AS a, ib AS b FROM ed
       |  UNION ALL SELECT ib, ia FROM ed),
       |$iters
       |SELECT a AS node, CAST(COUNT(*) AS BIGINT) AS degree
       |FROM l$rounds GROUP BY a HAVING COUNT(*) >= $k
       |ORDER BY node"""
  }

  /** q341 oracle: 25 power-iteration rounds unrolled as chained CTEs
    * (the pageRankIter discipline). Per-state incoming mass is
    * quantized DECIMAL(28,15) before the order-free sum; each iterate
    * rounds to 9 decimals so drift cannot compound.
    */
  lazy val markovStationarySql: String = {
    val iters = 25
    // MATERIALIZED throughout: DuckDB's plain-CTE inlining makes the
    // 25-step chain exponential to plan (the q323 lesson — hangs
    // without it)
    val steps = (1 to iters).map { i =>
      s"""p$i AS MATERIALIZED (SELECT t.to_state AS s,
         |    ROUND(CAST(SUM(CAST(p.pi * t.prob AS DECIMAL(28,15)))
         |      AS DOUBLE), 9) AS pi
         |  FROM p${i - 1} p JOIN tr t ON t.from_state = p.s
         |  GROUP BY 1)"""
    }.mkString(",\n|")
    s"""WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_id,
       |    event_type FROM events),
       |st AS (SELECT event_type AS to_state,
       |    LAG(event_type) OVER (PARTITION BY user_id
       |      ORDER BY t, event_id) AS from_state FROM e),
       |c AS (SELECT from_state, to_state, COUNT(*) AS n FROM st
       |  WHERE from_state IS NOT NULL GROUP BY 1, 2),
       |ss AS (SELECT DISTINCT from_state AS s FROM c),
       |kept AS (SELECT c.* FROM c JOIN ss ON c.to_state = ss.s),
       |tt AS (SELECT from_state, CAST(SUM(n) AS BIGINT) AS t
       |  FROM kept GROUP BY 1),
       |tr AS MATERIALIZED (SELECT k.from_state, k.to_state,
       |    CAST(k.n AS DOUBLE) / CAST(tt.t AS DOUBLE) AS prob
       |  FROM kept k JOIN tt USING (from_state)),
       |kk AS (SELECT COUNT(*) AS k FROM ss),
       |p0 AS MATERIALIZED (SELECT s,
       |    1.0::DOUBLE / CAST(kk.k AS DOUBLE) AS pi
       |  FROM ss CROSS JOIN kk),
       |$steps
       |SELECT s AS state, pi AS stationary_p FROM p$iters
       |ORDER BY s"""
  }

  /** q342 oracle: the SPRT LLR walk as a recursive CTE over the
    * user-ordered Bernoulli stream. The step/barrier constants are
    * the ENGINE's own (Sprt.logStep/barriers), inlined full-precision
    * — so both sides add literally identical doubles each step. The
    * frozen-after-decision state is CASE-guarded; the step expression
    * repeats inline (SQL has no step-local bindings) but repetition
    * of a deterministic expression is still one value.
    */
  lazy val sprtSql: String = {
    import graft.operators.Sprt
    val (ls, lf) = Sprt.logStep(0.5, 0.7)
    val (a, b) = Sprt.barriers(0.05, 0.05)
    def lit(d: Double) = java.lang.Double.toString(d)
    val step = s"r.llr + (CASE WHEN x.s = 1 THEN ${lit(ls)}" +
      s" ELSE ${lit(lf)} END)"
    s"""WITH RECURSIVE u AS (SELECT user_id,
       |    CASE WHEN COUNT(CASE WHEN event_type = 'purchase'
       |      THEN 1 END) >= 10 THEN 1 ELSE 0 END AS s
       |  FROM events GROUP BY user_id),
       |base AS (SELECT s, ROW_NUMBER() OVER (ORDER BY user_id)
       |    AS rn FROM u),
       |cnt AS (SELECT MAX(rn) AS n FROM base),
       |rec AS (
       |  SELECT 0 AS i, 0.0::DOUBLE AS llr, 0 AS dec,
       |    0::BIGINT AS nstop
       |  UNION ALL
       |  SELECT r.i + 1,
       |    CASE WHEN r.dec <> 0 THEN r.llr ELSE $step END,
       |    CASE WHEN r.dec <> 0 THEN r.dec
       |      WHEN ($step) >= ${lit(a)} THEN 1
       |      WHEN ($step) <= ${lit(b)} THEN -1 ELSE 0 END,
       |    CASE WHEN r.dec <> 0 THEN r.nstop
       |      WHEN ($step) >= ${lit(a)} OR ($step) <= ${lit(b)}
       |        THEN CAST(r.i + 1 AS BIGINT)
       |      ELSE 0::BIGINT END
       |  FROM rec r JOIN base x ON x.rn = r.i + 1)
       |SELECT 'all' AS trial, CAST(cnt.n AS BIGINT) AS n_obs,
       |  r.llr, r.dec AS decision, r.nstop AS n_at_decision
       |FROM rec r CROSS JOIN cnt WHERE r.i = cnt.n"""
  }

  /** q354 oracle: RAKE replayed in DuckDB — the stopword literal is
    * the engine's own list; positions come from the (x, i) indexed
    * list lambda; phrases reassemble with ordered string_agg.
    */
  lazy val rakeSql: String = {
    val stops = graft.pipeline.TextAnalysis.RakeStopwords
      .map(w => s"'$w'").mkString(", ")
    s"""WITH t AS (SELECT doc_id AS d,
       |    string_split_regex(lower(text), '[^a-z0-9]+') AS ws
       |  FROM documents),
       |tok AS (SELECT d, s.pos AS pos, s.w AS w
       |  FROM t, UNNEST(list_transform(ws,
       |    (x, i) -> {'pos': i, 'w': x})) AS u(s)
       |  WHERE length(s.w) > 0),
       |fl AS (SELECT d, pos, w,
       |    CASE WHEN w IN ($stops) THEN 1 ELSE 0 END AS stop
       |  FROM tok),
       |pid AS (SELECT d, pos, w, stop,
       |    SUM(stop) OVER (PARTITION BY d ORDER BY pos
       |      ROWS UNBOUNDED PRECEDING) AS pid
       |  FROM fl),
       |mem AS (SELECT d, pid, pos, w FROM pid WHERE stop = 0),
       |ph AS (SELECT d, pid, COUNT(*) AS len,
       |    string_agg(w, ' ' ORDER BY pos) AS phrase
       |  FROM mem GROUP BY 1, 2 HAVING COUNT(*) <= 4),
       |ws2 AS (SELECT mem.w, COUNT(*) AS freq,
       |    CAST(SUM(ph.len) AS BIGINT) AS deg
       |  FROM mem JOIN ph ON ph.d = mem.d AND ph.pid = mem.pid
       |  GROUP BY 1),
       |sc AS (SELECT w, CAST(CAST(deg AS DOUBLE)
       |      / CAST(freq AS DOUBLE) AS DECIMAL(28,12)) AS score
       |  FROM ws2),
       |pc AS (SELECT phrase, COUNT(*) AS n_occurrences FROM ph
       |  GROUP BY 1),
       |px AS (SELECT pc.phrase, pc.n_occurrences, u.w
       |  FROM pc, UNNEST(string_split(pc.phrase, ' ')) AS u(w))
       |SELECT px.phrase, px.n_occurrences,
       |  ROUND(CAST(SUM(sc.score) AS DOUBLE), 6) AS score
       |FROM px JOIN sc ON sc.w = px.w
       |GROUP BY 1, 2 ORDER BY score DESC, phrase LIMIT 20"""
  }

  /** q355 oracle: the engine's OWN µ-quantized JL planes
    * (Similarity.hyperplanes(64, 16, 7) floored at 1e6) inlined as
    * BIGINT list literals; projections/distances replay as exact
    * integers, so only the final ratio meets IEEE.
    */
  lazy val jlSql: String = {
    val planes = graft.pipeline.Similarity.hyperplanes(64, 16, 7L)
      .map(_.map(x => math.floor(x * 1e6).toLong))
    val yCols = planes.zipWithIndex.map { case (p, i) =>
      val lst = p.mkString("[", ", ", "]")
      s"CAST(list_sum(list_transform(vq, (x, j) -> x * ($lst)[j]))" +
        s" AS BIGINT) AS y$i"
    }.mkString(",\n|    ")
    val sqY = (0 until 16).map(i =>
      s"CAST(a.y$i - b.y$i AS HUGEINT) * (a.y$i - b.y$i)")
      .mkString("\n|      + ")
    s"""WITH e AS (SELECT vec_id,
       |    list_transform(embedding::DOUBLE[],
       |      x -> CAST(floor(x * 1000000.0) AS BIGINT)) AS vq
       |  FROM embeddings WHERE vec_id < 30),
       |p AS (SELECT vec_id, vq,
       |    $yCols
       |  FROM e),
       |pr AS (SELECT a.vec_id AS ia, b.vec_id AS ib,
       |    ($sqY) AS sqy,
       |    CAST(list_sum(list_transform(a.vq,
       |      (x, j) -> (x - b.vq[j]) * (x - b.vq[j]))) AS BIGINT)
       |      AS sqx
       |  FROM p a JOIN p b ON a.vec_id < b.vec_id),
       |r AS (SELECT CAST(CAST(sqy AS DOUBLE)
       |    / (1.6E13::DOUBLE * CAST(sqx AS DOUBLE))
       |    AS DECIMAL(28,12)) AS r FROM pr)
       |SELECT COUNT(*) AS n_pairs,
       |  ROUND(CAST(MIN(r) AS DOUBLE), 6) AS min_distortion,
       |  ROUND(CAST(MAX(r) AS DOUBLE), 6) AS max_distortion,
       |  ROUND(CAST(SUM(r) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
       |    AS mean_distortion
       |FROM r"""
  }

  /** q364 oracle: the q315 k-anonymity summary replayed at each band
    * width (posmod floor bands — the bandFloor contract) and stacked.
    */
  lazy val anonLadderSql: String = {
    // the inner GROUP BY builds the equivalence classes
    val blocks = Seq(100L, 1000L, 10000L).map { b =>
      s"""SELECT $b AS band, COUNT(*) AS n_classes,
         |  CAST(SUM(k) AS BIGINT) AS n_rows,
         |  MIN(k) AS min_k, MAX(k) AS max_k,
         |  CAST(COALESCE(SUM(CASE WHEN k < 5 THEN k END), 0)
         |    AS BIGINT) AS rows_below_k,
         |  COUNT(CASE WHEN k < 5 THEN 1 END) AS classes_below_k,
         |  CAST(COALESCE(SUM(CASE WHEN k < 5 THEN k END), 0)
         |    AS DOUBLE) / CAST(SUM(k) AS DOUBLE) AS reident_rate,
         |  MIN(l) AS min_l,
         |  COUNT(CASE WHEN l = 1 THEN 1 END) AS classes_l1
         |FROM (SELECT c_nationkey, bnd, COUNT(*) AS k,
         |    COUNT(DISTINCT c_mktsegment) AS l
         |  FROM (SELECT c_nationkey,
         |      CAST(FLOOR(c_acctbal) AS BIGINT) -
         |        ((CAST(FLOOR(c_acctbal) AS BIGINT) % $b + $b) % $b)
         |        AS bnd,
         |      c_mktsegment
         |    FROM customer)
         |  GROUP BY 1, 2)"""
    }
    blocks.mkString("\n|UNION ALL\n|") + "\n|ORDER BY band"
  }
}
