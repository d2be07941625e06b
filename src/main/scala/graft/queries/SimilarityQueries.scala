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

/** Embedding similarity: ANN (brute/LSH/IVF/PQ), k-means, centroids, recall evals, projection diagnostics.
  *
  * One of the family registries composed into [[graft.Queries]];
  * oracle/alias conventions are documented there.
  */
private[graft] object SimilarityQueries {

  /** The ANN queries' corpus (vec_id, vec) and their queries, the
    * vectors with vec_id < 10 as (query_id, qvec).
    */
  private def vectorsAndQueries(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
    val queries = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("vec").as("qvec"))
    (e, queries)
  }

  /** The int8 ANN oracles' quantization (q75, q76): `qz` holds each
    * vector's scale max|x|/127 and its codes floor(x·127/max + 0.5),
    * `qs` those of the queries (vec_id < 10).
    */
  private val quantizedCtes =
    """e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |s AS (SELECT vec_id, v,
      |        list_max(list_transform(v, x -> abs(x))) AS amax FROM e),
      |qz AS (SELECT vec_id,
      |  CASE WHEN amax = 0 THEN 0.0 ELSE amax / 127.0 END AS scale,
      |  CASE WHEN amax = 0
      |    THEN list_transform(v, x -> CAST(0 AS BIGINT))
      |    ELSE list_transform(v,
      |      x -> CAST(floor(x * 127.0 / amax + 0.5) AS BIGINT)) END AS q
      |  FROM s),
      |qs AS (SELECT vec_id AS query_id, scale AS sq, q AS qq
      |       FROM qz WHERE vec_id < 10)"""

  val registry: Seq[Q] = Seq(

    // Brute-force cosine top-5 ANN baseline over the embeddings table.
    q(
      "q27_ann_topk",
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10)
        |SELECT query_id, rank, vec_id, ROUND(cosine, 6) AS cosine FROM (
        |  SELECT q.query_id, e.vec_id,
        |    list_cosine_similarity(q.qv, e.v) AS cosine,
        |    ROW_NUMBER() OVER (PARTITION BY q.query_id
        |      ORDER BY list_cosine_similarity(q.qv, e.v) DESC, e.vec_id) AS rank
        |  FROM q, e WHERE e.vec_id <> q.query_id)
        |WHERE rank <= 5 ORDER BY query_id, rank"""
    ) { (s, d) =>
      val (e, queries) = vectorsAndQueries(s, d)
      Similarity.bruteForceTopK(queries, e, 5)
        .withColumn("cosine", round(col("cosine"), 6))
        .orderBy("query_id", "rank")
    },

    // LSH-bucketed ANN (the 100 TB path: shuffle on hyperplane bucket, not
    // a cross join). Approximate by construction but DETERMINISTIC: the
    // seeded hyperplanes are embedded as full-precision literals in the
    // oracle SQL (Double.toString round-trips, so DuckDB parses the exact
    // same doubles), which replays bucketing + multiprobe + top-k exactly.
    q("q28_ann_lsh", lshOracleSql) { (s, d) =>
      val (e, queries) = vectorsAndQueries(s, d)
      Similarity.lshTopK(queries, e, k = 5, bits = 4, probeHamming = 2)
        .withColumn("cosine", round(col("cosine"), 6))
        .orderBy("query_id", "rank")
    },

    // IVF ANN (the alternative 100 TB scale path to hyperplane LSH:
    // coarse-quantizer lists + nprobe search; shuffle on centroid id).
    // The driver query passes deterministic centroids (the first 8
    // vectors by id) through ivfTopKWith, so DuckDB replays assignment,
    // probing and top-k exactly; the seeded k-means index build
    // (ivfCentroids) stays the scale path, recall pinned in PipelineSpec.
    q(
      "q40_ann_ivf",
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
        |assign AS (
        |  SELECT e.vec_id, c.cid,
        |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_distance(e.v, c.cv), c.cid) AS rnk
        |  FROM e, c),
        |corpus AS (
        |  SELECT a.vec_id, a.cid, e.v
        |  FROM assign a JOIN e USING (vec_id) WHERE a.rnk = 1),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
        |probes AS (
        |  SELECT q.query_id, q.qv, c.cid,
        |    ROW_NUMBER() OVER (PARTITION BY q.query_id
        |      ORDER BY list_distance(q.qv, c.cv), c.cid) AS rnk
        |  FROM q, c),
        |cand AS (
        |  SELECT p.query_id, p.qv, co.vec_id, co.v
        |  FROM probes p JOIN corpus co ON co.cid = p.cid
        |  WHERE p.rnk <= 4 AND co.vec_id <> p.query_id)
        |SELECT query_id, rank, vec_id, ROUND(cosine, 6) AS cosine FROM (
        |  SELECT query_id, vec_id, list_cosine_similarity(qv, v) AS cosine,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY list_cosine_similarity(qv, v) DESC, vec_id) AS rank
        |  FROM cand)
        |WHERE rank <= 5 ORDER BY query_id, rank"""
    ) { (s, d) =>
      val (e, queries) = vectorsAndQueries(s, d)
      val centroids = e.filter(col("vec_id") < 8).orderBy("vec_id")
        .select("vec").collect().map(_.getSeq[Double](0).toArray)
      Similarity.ivfTopKWith(queries, e, k = 5, centroids, nprobe = 4)
        .withColumn("cosine", round(col("cosine"), 6))
        .orderBy("query_id", "rank")
    },

    // Embedding-cosine near-dup pairs, exact variant (bits=0 → single
    // bucket) over a bounded vector subset — the exact path is quadratic
    // by definition, so the oracled query caps the corpus slice the same
    // way q27 caps its query set; the LSH-bucketed scale path's behavior
    // is pinned in PipelineSpec. Closest corpus cosine sits ~1e-4 from
    // the 0.4 threshold, so the cut is ULP-safe across engines.
    q(
      "q46_cosine_neardup",
      // τ comes from MarginProbe.CosineTau on BOTH sides — re-centered
      // 0.40 → 0.44 when the round-8 data draw left only 9.9e-6 of
      // margin at 0.40; the Verify margin probe now enforces the floor
      // every round.
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |           WHERE vec_id < 600)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  ROUND(list_cosine_similarity(a.v, b.v), 6) AS cosine
        |FROM e a, e b
        |WHERE a.vec_id < b.vec_id
        |  AND list_cosine_similarity(a.v, b.v) >= ${MarginProbe.CosineTau}
        |ORDER BY id_a, id_b"""
    ) { (s, d) =>
      val e = Tables.embeddings(s, d)
        .filter(col("vec_id") < 600)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
      graft.pipeline.Similarity.cosineNearDupPairs(
          e, tau = MarginProbe.CosineTau, bits = 0)
        .withColumn("cosine", round(col("cosine"), 6))
        .orderBy("id_a", "id_b")
    },

    // Int8-quantized ANN first pass (vec_q8 / vec_dot8 codegen'd
    // Expressions): 8x smaller vectors, integer ranking dot. The oracle
    // replays quantization (floor half-up — spelled out because round()
    // disagrees between engines on negative halves), the exact integer
    // dot, and the dequantized score with the same multiply order, so
    // ranks AND both score columns hash-match bit-for-bit.
    q(
      "q75_ann_quantized",
      s"""WITH $quantizedCtes,
         |p AS (
         |  SELECT qs.query_id, c.vec_id,
         |    list_dot_product(qs.qq, c.q) AS dotq,
         |    list_dot_product(qs.qq, c.q) * qs.sq * c.scale AS approx
         |  FROM qs JOIN qz c ON c.vec_id <> qs.query_id)
         |SELECT query_id, rank, vec_id, CAST(dotq AS BIGINT) AS dot_q8,
         |  approx AS approx_dot
         |FROM (SELECT query_id, vec_id, dotq, approx,
         |        ROW_NUMBER() OVER (PARTITION BY query_id
         |          ORDER BY approx DESC, vec_id ASC) AS rank
         |      FROM p)
         |WHERE rank <= 5 ORDER BY query_id, rank"""
    ) { (s, d) =>
      val (e, queries) = vectorsAndQueries(s, d)
      Similarity.quantizedTopK(queries, e, k = 5)
        .orderBy("query_id", "rank")
    },

    // The full quantize-then-rerank stack: int8 first pass keeps
    // k*overfetch=20 survivors, exact cosine re-ranks them to the final
    // top-5. The oracle replays both stages — quantized winnowing, then
    // list_cosine_similarity over the survivors (same ROUND(6) contract
    // as q27).
    q(
      "q76_ann_rerank",
      s"""WITH $quantizedCtes,
         |surv AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT qs.query_id, c.vec_id,
         |      ROW_NUMBER() OVER (PARTITION BY qs.query_id
         |        ORDER BY list_dot_product(qs.qq, c.q) * qs.sq * c.scale
         |          DESC, c.vec_id ASC) AS rnk
         |    FROM qs JOIN qz c ON c.vec_id <> qs.query_id)
         |  WHERE rnk <= 20),
         |qv AS (SELECT vec_id AS query_id, v AS qvec FROM e
         |       WHERE vec_id < 10)
         |SELECT query_id, rank, vec_id, ROUND(cosine, 6) AS cosine FROM (
         |  SELECT surv.query_id, surv.vec_id,
         |    list_cosine_similarity(qv.qvec, e.v) AS cosine,
         |    ROW_NUMBER() OVER (PARTITION BY surv.query_id
         |      ORDER BY list_cosine_similarity(qv.qvec, e.v) DESC,
         |        surv.vec_id ASC) AS rank
         |  FROM surv JOIN e USING (vec_id) JOIN qv USING (query_id))
         |WHERE rank <= 5 ORDER BY query_id, rank"""
    ) { (s, d) =>
      val (e, queries) = vectorsAndQueries(s, d)
      Similarity.quantizedRerankTopK(queries, e, k = 5, overfetch = 4)
        .withColumn("cosine", round(col("cosine"), 6))
        .orderBy("query_id", "rank")
    },

    // Full k-means corpus clustering (Lloyd's): deterministic init from
    // the 8 lowest vec_ids, two refinement iterations, final assignment.
    // The oracle unrolls both Lloyd steps relationally — argmin via
    // (distance, cid) row_number, centroid update as per-position
    // SUM/COUNT means, empty clusters keeping their previous centroid —
    // so the iterative refinement itself is verified, not just a fixed
    // assignment (q40 pins first-N centroids WITHOUT refinement). The
    // hash surface is the integer assignment table: distances are
    // macroscopically separated, so last-ulp float divergence between
    // the engines' summation orders never flips an argmin.
    q(
      "q98_kmeans_clusters",
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |$kmeansLloydCtes
         |SELECT vec_id, CAST(cid AS INT) AS cluster FROM (
         |  SELECT e.vec_id, c2.cid,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY list_distance(e.v, c2.cv), c2.cid) AS rnk
         |  FROM e, c2) WHERE rnk = 1 ORDER BY vec_id"""
    ) { (s, d) =>
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
      // served from the SimilarityArtifacts model cache — trained once
      // per (session, corpus, k, iters), shared with q118/q137
      graft.pipeline.SimilarityArtifacts
        .kmeansAssignments(e, k = 8, iters = 2, corpusKey = d)
        .orderBy("vec_id")
    },

    // Product-quantization ADC top-5: 64-dim vectors compress to 8
    // one-byte codes (8 subspaces × 16 first-N codewords, the q40
    // deterministic-codebook convention); search is per-query distance
    // TABLES + m lookups per vector, never the raw vectors. Every
    // float is the same ascending-dim left-assoc fold on both engines
    // (codeword argmin ties to the lower code; ADC adds the 8 table
    // entries in subspace order), so ordering and the ROUND(6) surface
    // replay bit-for-bit.
    q(
      "q154_pq_topk",
      s"""WITH $pqOracleCtes
         |SELECT qid AS query_id, rnk AS rank, vec_id,
         |  ROUND(dist, 6) AS adc
         |FROM (SELECT qid, vec_id, dist, ROW_NUMBER() OVER (
         |    PARTITION BY qid ORDER BY dist, vec_id) AS rnk FROM adc)
         |WHERE rnk <= 5 ORDER BY query_id, rank"""
    ) { (s, d) =>
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id").cast("long").as("vec_id"),
          col("embedding").cast("array<double>").as("vec"))
      val cb = graft.pipeline.Similarity.pqCodebooksFirstN(emb, m = 8,
        ksub = 16)
      graft.pipeline.Similarity.pqTopK(
          emb.filter(col("vec_id") < 5)
            .select(col("vec_id").as("query_id"), col("vec").as("qvec")),
          emb, cb, k = 5)
        .orderBy("query_id", "rank")
    },

    // The PQ production serving shape: ADC winnows to top-50
    // survivors per query, the exact 64-dim squared-euclidean kernel
    // re-ranks only those (the quantize-then-rerank pattern at 64×
    // compression). The oracle extends q154's CTE chain with the
    // survivor rank and the unrolled exact distance in the identical
    // ascending-dim fold.
    q(
      "q155_pq_rerank",
      s"""WITH $pqOracleCtes,
         |surv AS (SELECT qid, vec_id FROM (
         |  SELECT qid, vec_id, ROW_NUMBER() OVER (
         |      PARTITION BY qid ORDER BY dist, vec_id) AS rnk FROM adc)
         |  WHERE rnk <= 50),
         |ex AS (SELECT surv.qid, surv.vec_id,
         |    ${sqDistN("q_.v", "c_.v", 64)} AS dist
         |  FROM surv JOIN e q_ ON q_.vec_id = surv.qid
         |  JOIN e c_ ON c_.vec_id = surv.vec_id)
         |SELECT qid AS query_id, rnk AS rank, vec_id,
         |  ROUND(dist, 6) AS dist
         |FROM (SELECT qid, vec_id, dist, ROW_NUMBER() OVER (
         |    PARTITION BY qid ORDER BY dist, vec_id) AS rnk FROM ex)
         |WHERE rnk <= 5 ORDER BY query_id, rank"""
    ) { (s, d) =>
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id").cast("long").as("vec_id"),
          col("embedding").cast("array<double>").as("vec"))
      val cb = graft.pipeline.Similarity.pqCodebooksFirstN(emb, m = 8,
        ksub = 16)
      graft.pipeline.Similarity.pqRerankTopK(
          emb.filter(col("vec_id") < 5)
            .select(col("vec_id").as("query_id"), col("vec").as("qvec")),
          emb, cb, k = 5, overfetch = 10)
        .orderBy("query_id", "rank")
    },

    // Label-centroid cosine matrix: µ-unit quantized per-dimension
    // sums (exact integers in DECIMAL) stand in for the means —
    // cosine is scale-invariant — so the geometry replays bit-exactly;
    // the pair join runs on the |labels|·dim sum table.
    q(
      "q207_centroid_sim",
      """WITH e AS (SELECT label, embedding::DOUBLE[] AS v
        |  FROM embeddings),
        |dx AS (SELECT label, i.i AS dim,
        |    CAST(floor(v[i.i] * 1000000.0) AS BIGINT) AS q
        |  FROM e CROSS JOIN (SELECT UNNEST(range(1, 65)) AS i) i),
        |s AS (SELECT label, dim, COUNT(*) AS n, SUM(q) AS sq
        |  FROM dx GROUP BY 1, 2),
        |p AS (SELECT a.label AS label_a, b.label AS label_b,
        |    MAX(a.n) AS na, MAX(b.n) AS nb,
        |    CAST(SUM(CAST(a.sq AS HUGEINT) * b.sq) AS DOUBLE) AS ab,
        |    CAST(SUM(CAST(a.sq AS HUGEINT) * a.sq) AS DOUBLE) AS aa,
        |    CAST(SUM(CAST(b.sq AS HUGEINT) * b.sq) AS DOUBLE) AS bb
        |  FROM s a JOIN s b ON a.dim = b.dim AND a.label < b.label
        |  GROUP BY 1, 2)
        |SELECT label_a, label_b, CAST(na AS BIGINT) AS n_a,
        |  CAST(nb AS BIGINT) AS n_b,
        |  ROUND(ab / (sqrt(aa) * sqrt(bb)), 6) AS cosine
        |FROM p ORDER BY label_a, label_b"""
    ) { (s, d) =>
      graft.pipeline.Similarity.labelCentroidSimilarity(
          Tables.embeddings(s, d)
            .select(col("label"), col("embedding").as("vec")))
        .orderBy("label_a", "label_b")
    },

    // Per-vector label margin (mislabel screen): d² to own vs nearest
    // other centroid via the exact-sum expansion Σx² − 2Σx·S/n + ΣS²/n²
    // — order-free integer aggregates, fixed IEEE shapes.
    q(
      "q262_label_margin",
      """WITH dm AS (SELECT vec_id, label, i.i - 1 AS dim,
        |    CAST(floor(v[i.i] * 1000000.0) AS BIGINT) AS q
        |  FROM (SELECT vec_id, label, embedding::DOUBLE[] AS v
        |        FROM embeddings) e
        |  CROSS JOIN (SELECT UNNEST(range(1, 65)) AS i) i),
        |cent AS (SELECT label AS cl, dim, COUNT(*) AS n,
        |    CAST(SUM(q) AS HUGEINT) AS s
        |  FROM dm GROUP BY 1, 2),
        |cs AS (SELECT cl, MAX(n) AS nc, CAST(SUM(s * s) AS DOUBLE)
        |    AS s2 FROM cent GROUP BY 1),
        |x2 AS (SELECT vec_id, CAST(SUM(CAST(q AS HUGEINT) * q)
        |    AS DOUBLE) AS x2 FROM dm GROUP BY 1),
        |inn AS (SELECT dm.vec_id, dm.label, cent.cl,
        |    CAST(SUM(CAST(dm.q AS HUGEINT) * cent.s) AS DOUBLE) AS a
        |  FROM dm JOIN cent ON dm.dim = cent.dim GROUP BY 1, 2, 3),
        |d2 AS (SELECT inn.vec_id, inn.label, inn.cl,
        |    (x2.x2 - 2.0 * inn.a / CAST(cs.nc AS DOUBLE)
        |      + cs.s2 / (CAST(cs.nc AS DOUBLE) * CAST(cs.nc
        |        AS DOUBLE))) / 1e12 AS d2
        |  FROM inn JOIN cs ON inn.cl = cs.cl
        |  JOIN x2 ON inn.vec_id = x2.vec_id),
        |own AS (SELECT vec_id, label, d2 AS down FROM d2
        |  WHERE cl = label),
        |oth AS (SELECT vec_id, MIN(d2) AS doth FROM d2
        |  WHERE cl <> label GROUP BY 1)
        |SELECT o.vec_id, o.label, ROUND(o.down, 6) AS d2_own,
        |  ROUND(t.doth, 6) AS d2_other,
        |  ROUND(t.doth - o.down, 6) AS margin
        |FROM own o JOIN oth t ON o.vec_id = t.vec_id
        |ORDER BY o.vec_id"""
    ) { (s, d) =>
      graft.pipeline.Similarity.labelMargin(
          Tables.embeddings(s, d)
            .select(col("vec_id"), col("label"),
              col("embedding").as("vec")))
        .orderBy("vec_id")
    },

    // Gram matrix XᵀX in µ-unit integer arithmetic via a typed
    // Aggregator (ONE primitive d(d+1)/2 buffer per task, map-side
    // combined — the treeAggregate shape; the shuffle carries buffers,
    // not the N·d²/2 exploded products). Result exact in int64; the
    // double surface is one long→double conversion + one division.
    q(
      "q281_gram_matrix",
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |x AS (SELECT vec_id, i,
        |        CAST(FLOOR(v[i] * 1000000.0) AS BIGINT) AS q
        |      FROM e, (SELECT unnest(range(1, 65)) AS i)),
        |p AS (SELECT a.i - 1 AS i, b.i - 1 AS j, a.q * b.q AS prod
        |      FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i)
        |SELECT CAST(i AS INTEGER) AS i, CAST(j AS INTEGER) AS j,
        |  CAST(SUM(prod) AS BIGINT) AS gram_mu2,
        |  CAST(CAST(SUM(prod) AS BIGINT) AS DOUBLE) / 1000000000000.0
        |    AS gram
        |FROM p GROUP BY 1, 2 ORDER BY i, j"""
    ) { (s, d) =>
      Similarity.gramMatrix(Tables.embeddings(s, d), "embedding")
        .select(col("i").cast("int").as("i"), col("j").cast("int").as("j"),
          col("gram_mu2"), col("gram"))
        .orderBy("i", "j")
    },

    // Feature hashing (hashing trick): fixed-width signed bag-of-words
    // with NO vocabulary pass — the corpus-scale featurizer. Sparse
    // (doc, bucket, fval) surface; md5 bucket/sign replayed verbatim.
    q(
      "q283_feature_hash",
      """WITH tok AS (SELECT doc_id,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |  FROM documents),
        |h AS (SELECT doc_id,
        |    ('0x' || substr(md5('fh:' || token), 1, 15))::BIGINT AS h
        |  FROM tok WHERE length(token) > 0)
        |SELECT doc_id, (h >> 1) % 64 AS bucket,
        |  CAST(SUM(CASE WHEN h % 2 = 1 THEN 1 ELSE -1 END) AS BIGINT)
        |    AS fval
        |FROM h GROUP BY 1, 2 ORDER BY doc_id, bucket"""
    ) { (s, d) =>
      graft.pipeline.TextAnalysis.featureHash(
        Tables.spread(s, Tables.documents(s, d)), "doc_id", "text", 64)
    },

    // Embedding centroid drift per label (vec_id parity = snapshot
    // A/B): delta stays exact-integer until ONE division — L1 chosen
    // over L2 to keep the surface in the exactly-convertible range
    // (q180 lesson).
    q(
      "q290_centroid_drift",
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
        |  FROM embeddings),
        |x AS (SELECT vec_id % 2 = 0 AS even, label, i,
        |    CAST(FLOOR(v[i] * 1000000.0) AS BIGINT) AS q
        |  FROM e, (SELECT unnest(range(1, 65)) AS i)),
        |s AS (SELECT label, i,
        |    CAST(COALESCE(SUM(CASE WHEN even THEN q END), 0) AS BIGINT)
        |      AS sa,
        |    COUNT(CASE WHEN even THEN 1 END) AS na,
        |    CAST(COALESCE(SUM(CASE WHEN NOT even THEN q END), 0)
        |      AS BIGINT) AS sb,
        |    COUNT(CASE WHEN NOT even THEN 1 END) AS nb
        |  FROM x GROUP BY 1, 2)
        |SELECT label, MAX(na) AS n_a, MAX(nb) AS n_b,
        |  CAST(SUM(ABS(sa * nb - sb * na)) AS BIGINT) AS l1_mu,
        |  CAST(CAST(SUM(ABS(sa * nb - sb * na)) AS BIGINT) AS DOUBLE)
        |    / (CAST(MAX(na) AS DOUBLE) * CAST(MAX(nb) AS DOUBLE)
        |      * 1000000.0) AS l1_drift
        |FROM s WHERE na > 0 AND nb > 0
        |GROUP BY label ORDER BY label"""
    ) { (s, d) =>
      Similarity.centroidDrift(Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"),
          col("embedding").as("vec")))
    },

    // ANN recall@5: LSH-bucketed (q28 config) against the brute-force
    // truth (q27 config) — the eval every approximate index ships
    // with. Membership ordering replays exactly (the q27/q28
    // surfaces); recall is an integer count over 5.0.
    q("q308_ann_recall", annRecallOracleSql) { (s, d) =>
      val (e, queries) = vectorsAndQueries(s, d)
      val brute = Similarity.bruteForceTopK(queries, e, 5)
        .select(col("query_id"), col("vec_id"))
      val lsh = Similarity.lshTopK(queries, e, k = 5, bits = 4,
          probeHamming = 2)
        .select(col("query_id"), col("vec_id"))
        .withColumn("__m", lit(1))
      brute.join(lsh, Seq("query_id", "vec_id"), "left")
        .groupBy(col("query_id"))
        .agg(count(col("__m")).as("n_hit"))
        .select(col("query_id"), col("n_hit"),
          (col("n_hit").cast("double") / lit(5.0)).as("recall"))
        .orderBy("query_id")
    },

    // Matryoshka truncation fidelity: top-5 cosine neighbors at the
    // full 64 dims vs the first 16 dims, per query — the q308 recall
    // construction with the truncated ranking as the candidate.
    q(
      "q327_matryoshka_recall",
      s"""WITH $bruteTop5Ctes,
         |trunc AS (SELECT query_id, vec_id FROM (
         |    SELECT q.query_id, e.vec_id,
         |      ROW_NUMBER() OVER (PARTITION BY q.query_id
         |        ORDER BY list_cosine_similarity(q.qv[1:16],
         |          e.v[1:16]) DESC, e.vec_id) AS rank
         |    FROM q, e WHERE e.vec_id <> q.query_id)
         |  WHERE rank <= 5)
         |SELECT b.query_id, COUNT(t.vec_id) AS n_hit,
         |  CAST(COUNT(t.vec_id) AS DOUBLE) / 5.0 AS overlap
         |FROM brute b LEFT JOIN trunc t
         |  ON b.query_id = t.query_id AND b.vec_id = t.vec_id
         |GROUP BY 1 ORDER BY b.query_id"""
    ) { (s, d) =>
      import graft.pipeline.Similarity
      val (e, queries) = vectorsAndQueries(s, d)
      val full = Similarity.bruteForceTopK(queries, e, 5)
        .select(col("query_id"), col("vec_id"))
      val eT = e.select(col("vec_id"), slice(col("vec"), 1, 16)
        .as("vec"))
      val qT = queries.select(col("query_id"),
        slice(col("qvec"), 1, 16).as("qvec"))
      val trunc = Similarity.bruteForceTopK(qT, eT, 5)
        .select(col("query_id"), col("vec_id"))
        .withColumn("__m", lit(1))
      full.join(trunc, Seq("query_id", "vec_id"), "left")
        .groupBy(col("query_id"))
        .agg(count(col("__m")).as("n_hit"))
        .select(col("query_id"), col("n_hit"),
          (col("n_hit").cast("double") / lit(5.0)).as("overlap"))
        .orderBy("query_id")
    },

    // Johnson–Lindenstrauss distortion audit: 64→16 dims via seeded
    // µ-quantized Gaussian planes — exact-integer projections and
    // distances (cast-first decimal squares), one IEEE ratio per
    // pair, quantized before the min/max/mean.
    q("q355_jl_distortion", jlSql) { (s, d) =>
      graft.pipeline.Similarity.jlDistortion(
        Tables.embeddings(s, d)
          .select(col("vec_id"),
            col("embedding").cast("array<double>").as("vec")))
    },

    // Linear CKA between successive-id embedding pairs: exact-integer
    // cross-covariance entries, cast-first decimal Frobenius sums,
    // one IEEE ratio — "do the even and odd snapshots share
    // geometry".
    q(
      "q365_linear_cka",
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding::DOUBLE[],
        |      x -> CAST(floor(x * 1000000.0) AS BIGINT)) AS vq
        |  FROM embeddings WHERE vec_id < 200),
        |a AS (SELECT vec_id AS pid, vq AS va FROM e
        |  WHERE vec_id % 2 = 0),
        |b AS (SELECT vec_id - 1 AS pid, vq AS vb FROM e
        |  WHERE vec_id % 2 = 1),
        |pr AS (SELECT a.pid, a.va, b.vb FROM a JOIN b USING (pid)),
        |ent AS (SELECT i.i, j.j,
        |    CAST(SUM(pr.va[i.i] * pr.vb[j.j]) AS BIGINT) AS c
        |  FROM pr
        |  CROSS JOIN (SELECT UNNEST(range(1, 65)) AS i) i
        |  CROSS JOIN (SELECT UNNEST(range(1, 65)) AS j) j
        |  GROUP BY 1, 2),
        |c2 AS (SELECT CAST(SUM(CAST(c AS HUGEINT) * c) AS DOUBLE)
        |    AS c2 FROM ent),
        |ga AS (SELECT i.i, j.j,
        |    CAST(SUM(pr.va[i.i] * pr.va[j.j]) AS BIGINT) AS g
        |  FROM pr
        |  CROSS JOIN (SELECT UNNEST(range(1, 65)) AS i) i
        |  CROSS JOIN (SELECT UNNEST(range(1, 65)) AS j) j
        |  GROUP BY 1, 2),
        |a2 AS (SELECT CAST(SUM(CAST(g AS HUGEINT) * g) AS DOUBLE)
        |    AS a2 FROM ga),
        |gb AS (SELECT i.i, j.j,
        |    CAST(SUM(pr.vb[i.i] * pr.vb[j.j]) AS BIGINT) AS g
        |  FROM pr
        |  CROSS JOIN (SELECT UNNEST(range(1, 65)) AS i) i
        |  CROSS JOIN (SELECT UNNEST(range(1, 65)) AS j) j
        |  GROUP BY 1, 2),
        |b2 AS (SELECT CAST(SUM(CAST(g AS HUGEINT) * g) AS DOUBLE)
        |    AS b2 FROM gb),
        |np AS (SELECT COUNT(*) AS n_pairs FROM pr)
        |SELECT np.n_pairs,
        |  ROUND(c2.c2 / (sqrt(a2.a2) * sqrt(b2.b2)), 6) AS cka
        |FROM np CROSS JOIN c2 CROSS JOIN a2 CROSS JOIN b2"""
    ) { (s, d) =>
      graft.pipeline.Similarity.linearCka(
        Tables.embeddings(s, d)
          .select(col("vec_id"),
            col("embedding").cast("array<double>").as("vec")))
    }
  )
}
