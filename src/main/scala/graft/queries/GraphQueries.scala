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

/** Graph analytics: triangles, k-core, PageRank, label propagation, link prediction, co-occurrence.
  *
  * One of the family registries composed into [[graft.Queries]];
  * oracle/alias conventions are documented there.
  */
private[graft] object GraphQueries {

  val registry: Seq[Q] = Seq(

    // Item co-occurrence mining on purchase baskets (item = the props
    // JSON key): pairs bought together by ≥2 users, with support and
    // lift. Counts are integers; support and lift are fixed shapes of
    // exact-integer operands in IEEE doubles — no rounding needed. The
    // pair stage self-joins on the USER (posting-list bounded), never
    // on items.
    q(
      "q152_cooccurrence",
      s"""WITH b AS (
         |  SELECT DISTINCT user_id AS u,
         |    json_extract(props, '$$.k')::BIGINT AS item
         |  FROM events WHERE event_type = 'purchase'),
         |$coOccurrenceSql"""
    ) { (s, d) =>
      graft.pipeline.Behavior.coOccurrence(
          Tables.events(s, d)
            .filter(col("event_type") === "purchase")
            .select(col("user_id"),
              get_json_object(col("props"), "$.k").cast("long").as("item")),
          "user_id", "item", minCount = 2L)
        .orderBy("item_a", "item_b")
    },

    // PageRank over the item co-occurrence graph (q152's ≥2-basket
    // pairs as undirected edges), 3 power iterations at d=0.85. Each
    // iteration's ranks ROUND(9) on BOTH sides, so reduction-order ulp
    // drift in the incoming-mass sums collapses to an identical
    // fixed-point surface before it can compound; the damping
    // complement is COMPUTED (1.0−0.85), never the literal 0.15.
    q(
      "q153_pagerank",
      s"""WITH b AS (
         |  SELECT DISTINCT user_id AS u,
         |    json_extract(props, '$$.k')::BIGINT AS item
         |  FROM events WHERE event_type = 'purchase'),
         |p AS (SELECT a.item AS ia, c.item AS ib, COUNT(*) AS co
         |  FROM b a JOIN b c ON a.u = c.u AND a.item < c.item
         |  GROUP BY 1, 2),
         |e0 AS (SELECT ia, ib FROM p WHERE co >= 2),
         |sym AS (SELECT ia AS s, ib AS t FROM e0
         |  UNION SELECT ib, ia FROM e0),
         |dg AS (SELECT s, COUNT(*)::DOUBLE AS dg FROM sym GROUP BY 1),
         |nn AS (SELECT COUNT(*)::DOUBLE AS nu FROM dg),
         |r0 AS (SELECT s AS id, 1.0::DOUBLE / nn.nu AS rank
         |  FROM dg CROSS JOIN nn),
         |${pageRankIter("r0", "r1")},
         |${pageRankIter("r1", "r2")},
         |${pageRankIter("r2", "r3")}
         |SELECT id AS item, rank FROM r3 ORDER BY item"""
    ) { (s, d) =>
      // served from the GraphArtifacts edge cache (distinct cols →
      // distinct cache entry from the lineitem co-purchase graph): the
      // basket build + pair self-join runs once per session, the three
      // power iterations and repeat invocations read the checkpoint
      val edges = graft.pipeline.GraphArtifacts.coOccurrenceEdges(
          Tables.events(s, d)
            .filter(col("event_type") === "purchase")
            .select(col("user_id"),
              get_json_object(col("props"), "$.k").cast("long").as("item")),
          "user_id", "item", minCount = 2L, corpusKey = d)
      graft.pipeline.Behavior.pageRank(edges, damping = 0.85, iters = 3)
        .select(col("id").as("item"), col("rank"))
        .orderBy("item")
    },

    // Per-node triangle count + local clustering coefficient over the
    // part co-purchase graph (parts sharing an order, in ≥2 baskets).
    // Triangle {a<b<c} found once via the wedge join at the lowest
    // corner; clustering = tri / C(deg,2) — exact integers through one
    // IEEE division. The degree cap (10k) and basket cap never bind on
    // TPC-H-ish orders (≤7 lines per order), so the oracle replays the
    // uncapped enumeration.
    q(
      "q164_triangles",
      """WITH pr AS (SELECT DISTINCT a.l_orderkey AS u,
        |    a.l_partkey AS x, b.l_partkey AS y
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |e AS (SELECT x AS lo, y AS hi FROM pr
        |  GROUP BY x, y HAVING COUNT(*) >= 2),
        |dg AS (SELECT id, COUNT(*) AS degree FROM (
        |    SELECT lo AS id FROM e UNION ALL SELECT hi FROM e)
        |  GROUP BY 1),
        |tr AS (SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
        |  FROM e e1 JOIN e e2 ON e2.lo = e1.lo AND e2.hi > e1.hi
        |  JOIN e e3 ON e3.lo = e1.hi AND e3.hi = e2.hi),
        |pn AS (SELECT id, COUNT(*) AS triangles FROM (
        |    SELECT a AS id FROM tr UNION ALL SELECT b FROM tr
        |    UNION ALL SELECT c FROM tr)
        |  GROUP BY 1)
        |SELECT dg.id, dg.degree,
        |  COALESCE(pn.triangles, 0) AS triangles,
        |  CASE WHEN dg.degree >= 2 THEN
        |    COALESCE(pn.triangles, 0)::DOUBLE /
        |      ((dg.degree * (dg.degree - 1)) // 2)::DOUBLE
        |  ELSE 0.0::DOUBLE END AS clustering
        |FROM dg LEFT JOIN pn ON dg.id = pn.id
        |ORDER BY dg.id"""
    ) { (s, d) =>
      graft.pipeline.Behavior.triangles(
          graft.pipeline.GraphArtifacts.coOccurrenceEdges(
            Tables.lineitem(s, d), "l_orderkey", "l_partkey",
            minCount = 2L, corpusKey = d))
        .orderBy("id")
    },

    // Entity-resolution candidates by sorted-neighborhood blocking:
    // customers ranked per nation by (acctbal, custkey), each paired
    // with its next 3 rank neighbors (BandJoin on the rank — linear
    // n·w candidates per block, never a per-block cross product), then
    // integer field-agreement scoring. Doubles only ever SUBTRACTED
    // and compared (identical IEEE ops both engines), never summed.
    q(
      "q178_record_linkage",
      """WITH r AS (SELECT c_custkey, c_nationkey, c_acctbal,
        |    c_mktsegment, ROW_NUMBER() OVER (PARTITION BY c_nationkey
        |      ORDER BY c_acctbal, c_custkey) AS rk FROM customer)
        |SELECT a_id, b_id, a_segment, b_segment, score FROM (
        |  SELECT a.c_custkey AS a_id, b.c_custkey AS b_id,
        |    a.c_mktsegment AS a_segment, b.c_mktsegment AS b_segment,
        |    CAST(CASE WHEN a.c_mktsegment = b.c_mktsegment
        |        THEN 2 ELSE 0 END +
        |      CASE WHEN abs(a.c_acctbal - b.c_acctbal) <= 10.0
        |        THEN 1 ELSE 0 END AS INTEGER) AS score
        |  FROM r a JOIN r b ON a.c_nationkey = b.c_nationkey
        |    AND b.rk > a.rk AND b.rk <= a.rk + 3)
        |WHERE score >= 2 ORDER BY a_id, b_id"""
    ) { (s, d) =>
      val pairs = graft.operators.RecordLinkage.sortedNeighborhoodPairs(
        Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"),
          col("c_acctbal"), col("c_mktsegment")),
        "c_nationkey", "c_acctbal", "c_custkey", w = 3)
      pairs
        .select(col("a_c_custkey").as("a_id"), col("b_c_custkey").as("b_id"),
          col("a_c_mktsegment").as("a_segment"),
          col("b_c_mktsegment").as("b_segment"),
          (when(col("a_c_mktsegment") === col("b_c_mktsegment"), 2)
              .otherwise(0) +
            when(abs(col("a_c_acctbal") - col("b_c_acctbal")) <= 10.0, 1)
              .otherwise(0)).as("score"))
        .filter(col("score") >= 2)
        .orderBy("a_id", "b_id")
    },

    // Deterministic label propagation over the q24 near-dup graph,
    // seeded with each document's source: 3 synchronous rounds of
    // most-frequent-neighbour-label (count desc, label asc tie-break),
    // isolated docs keep their seed. Pure integer counts and string
    // compares — the unrolled-round CTEs replay every step exactly.
    q("q204_label_prop", lpaOracleSql) { (s, d) =>
      val docs = Tables.spread(s, Tables.documents(s, d))
      val sym = graft.pipeline.DedupArtifacts.symEdgeTable(
        docs, "doc_id", "text", 3, 0.5, corpusKey = d)
      graft.pipeline.Behavior.labelPropagationSym(
          Tables.documents(s, d)
            .select(col("doc_id").as("id"), col("source").as("label")),
          sym, rounds = 3)
        .select(col("id").as("doc_id"), col("label"))
        .orderBy("doc_id")
    },

    // Adamic–Adar link prediction over part co-purchase baskets:
    // common orders weighted 1/ln(basket size), per-basket terms
    // DECIMAL(28,12)-quantized before the order-free per-pair sum;
    // top-20 cut on the ROUNDED score with pair-key tie-break.
    q(
      "q322_adamic_adar",
      """WITH it AS (SELECT DISTINCT l_orderkey AS bk, l_partkey
        |    AS item FROM lineitem),
        |b AS (SELECT bk, COUNT(*) AS sz FROM it GROUP BY 1
        |  HAVING COUNT(*) >= 2),
        |t AS (SELECT bk, CAST(1.0::DOUBLE / ln(CAST(sz AS DOUBLE))
        |    AS DECIMAL(28,12)) AS tq FROM b),
        |p AS (SELECT a.item AS item_a, b2.item AS item_b, t.tq
        |  FROM it a JOIN it b2 ON a.bk = b2.bk AND a.item < b2.item
        |  JOIN t ON t.bk = a.bk),
        |sc AS (SELECT item_a, item_b, COUNT(*) AS n_common,
        |    ROUND(CAST(SUM(tq) AS DOUBLE), 6) AS aa_score
        |  FROM p GROUP BY 1, 2)
        |SELECT item_a, item_b, CAST(n_common AS BIGINT) AS n_common,
        |  aa_score
        |FROM sc ORDER BY aa_score DESC, item_a, item_b LIMIT 20"""
    ) { (s, d) =>
      graft.pipeline.Behavior.adamicAdar(
        Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_partkey")),
        "l_orderkey", "l_partkey")
    },

    // 3-core of the ≥2-shared-orders co-purchase graph: 14 fixed
    // peeling rounds (convergence observed at ≤11 across SFs; extra
    // rounds are no-ops), replayed as the oracle's unrolled CTE
    // chain. Output = surviving nodes with their in-core degree.
    q("q323_k_core", kCoreSql) { (s, d) =>
      val edges = graft.pipeline.GraphArtifacts.coOccurrenceEdges(
          Tables.lineitem(s, d)
            .select(col("l_orderkey"), col("l_partkey")),
          "l_orderkey", "l_partkey", minCount = 2L, corpusKey = d)
        .select(col("id_a").as("a"), col("id_b").as("b"))
      graft.pipeline.Behavior.kCore(edges, k = 3, rounds = 14)
        .orderBy("node")
    }
  )
}
