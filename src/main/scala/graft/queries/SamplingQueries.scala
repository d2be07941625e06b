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

/** Sampling suite: deterministic/stratified/weighted/PPS/exact-k, splits, downsampling, resampling grids.
  *
  * One of the family registries composed into [[graft.Queries]];
  * oracle/alias conventions are documented there.
  */
private[graft] object SamplingQueries {

  /** The daily-resample oracles' grid (q191, q288): per sensor, `bv`
    * each day's latest value, `j` every day of the sensor's own span
    * with that value or NULL.
    */
  private val dailyGridCtes =
    """s AS (SELECT event_type || ' ' || user_id AS sensor_id,
      |    epoch_us(ts) AS t, value FROM events),
      |b AS (SELECT sensor_id, t // 86400000000 AS bk, t, value,
      |    ROW_NUMBER() OVER (PARTITION BY sensor_id, t // 86400000000
      |      ORDER BY t DESC, value DESC) AS rn FROM s),
      |bv AS (SELECT sensor_id, bk, value AS v FROM b WHERE rn = 1),
      |sp AS (SELECT sensor_id, UNNEST(range(MIN(bk), MAX(bk) + 1))
      |    AS bk FROM bv GROUP BY sensor_id),
      |j AS (SELECT sp.sensor_id, sp.bk, bv.v FROM sp
      |  LEFT JOIN bv ON sp.sensor_id = bv.sensor_id AND sp.bk = bv.bk)"""

  val registry: Seq[Q] = Seq(

    // Deterministic keyed sampling: a row is kept iff the top 60 bits of
    // md5(salt || id) fall below fraction·2⁶⁰ — the same subset on every
    // run and every engine (rand()/sample() are neither), as a pure
    // per-row codegen'd predicate with no shuffle. The oracle replays
    // the md5 threshold bit-for-bit.
    q(
      "q55_deterministic_sample",
      s"""SELECT source, COUNT(*) AS n,
         |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
         |FROM documents
         |WHERE ('0x' || substr(md5('s42:' || doc_id), 1, 15))::BIGINT
         |  < ${(0.2 * (1L << 60).toDouble).toLong}
         |GROUP BY source ORDER BY source"""
    ) { (s, d) =>
      graft.pipeline.Sampling.deterministicSample(
        Tables.documents(s, d), "doc_id", fraction = 0.2, salt = "s42:")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"),
          sum(col("n_chars")).cast("long").as("sum_chars"))
        .orderBy("source")
    },

    // Stratified deterministic sampling (training-mix shape): per-source
    // keep fractions via the same engine-portable md5 predicate as q55 —
    // the oracle replays the CASE thresholds bit-for-bit. Still a pure
    // scan-stage predicate: no shuffle, no join.
    q(
      "q70_stratified_sample",
      s"""SELECT source, COUNT(*) AS n
         |FROM documents
         |WHERE ('0x' || substr(md5('mix1:' || doc_id), 1, 15))::BIGINT
         |  < CASE source
         |      WHEN 'src3' THEN ${(1.0 * (1L << 60).toDouble).toLong}
         |      WHEN 'src7' THEN ${(0.5 * (1L << 60).toDouble).toLong}
         |      WHEN 'src12' THEN ${(0.1 * (1L << 60).toDouble).toLong}
         |      ELSE ${(0.25 * (1L << 60).toDouble).toLong} END
         |GROUP BY source ORDER BY source"""
    ) { (s, d) =>
      import graft.pipeline.Sampling
      Sampling.stratifiedSample(
        Tables.documents(s, d), "doc_id", "source",
        Map("src3" -> 1.0, "src7" -> 0.5, "src12" -> 0.1),
        defaultFraction = 0.25, salt = "mix1:")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"))
        .orderBy("source")
    },

    // Deterministic train/val/test split assignment: cumulative-weight
    // buckets over the q55 md5 draw — disjoint, exhaustive, and a row's
    // split never changes as the corpus grows (the property randomSplit
    // lacks). Pure scan-stage CASE; DuckDB replays the identical hash.
    q(
      "q87_split_assign",
      s"""SELECT source,
         |  CASE
         |    WHEN ('0x' || substr(md5('split:' || doc_id), 1, 15))::BIGINT
         |      < ${(0.8 * (1L << 60).toDouble).toLong} THEN 'train'
         |    WHEN ('0x' || substr(md5('split:' || doc_id), 1, 15))::BIGINT
         |      < ${(0.9 * (1L << 60).toDouble).toLong} THEN 'val'
         |    ELSE 'test' END AS split,
         |  COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
         |FROM documents GROUP BY source, split ORDER BY source, split"""
    ) { (s, d) =>
      import graft.pipeline.Sampling
      Sampling.splitAssign(Tables.documents(s, d), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
        .orderBy("source", "split")
    },

    // Greedy sequence packing: shard-parallel, sequential within each
    // shard's id-ordered stream (new pack when the next doc would
    // overflow the 256-token budget). The oracle replays the running
    // accumulate-or-reset recursion as a recursive CTE advancing one
    // document per iteration per shard — the q49/q82 technique. Hash
    // surface is the full per-document pack assignment.
    q(
      "q88_sequence_pack",
      """WITH RECURSIVE d AS (
        |  SELECT doc_id,
        |    len(string_split_regex(trim(text), '\s+')) AS n_tokens,
        |    doc_id % 8 AS shard
        |  FROM documents),
        |o AS (
        |  SELECT doc_id, n_tokens, shard,
        |    ROW_NUMBER() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
        |  FROM d),
        |rec AS (
        |  SELECT shard, rn, doc_id, n_tokens,
        |    0::BIGINT AS pack_seq, n_tokens AS used
        |  FROM o WHERE rn = 1
        |  UNION ALL
        |  SELECT x.shard, x.rn, x.doc_id, x.n_tokens,
        |    CASE WHEN r.used > 0 AND r.used + x.n_tokens > 256
        |      THEN r.pack_seq + 1 ELSE r.pack_seq END,
        |    CASE WHEN r.used > 0 AND r.used + x.n_tokens > 256
        |      THEN x.n_tokens ELSE r.used + x.n_tokens END
        |  FROM rec r JOIN o x ON x.shard = r.shard AND x.rn = r.rn + 1)
        |SELECT doc_id AS id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(shard AS INT) AS shard, pack_seq
        |FROM rec ORDER BY id"""
    ) { (s, d) =>
      import graft.pipeline.{Packing, TextAnalysis}
      val docs = Tables.documents(s, d).select(col("doc_id"),
        size(TextAnalysis.whitespaceTokens(col("text"))).as("n_tokens"))
      Packing.greedyPack(docs, "doc_id", "n_tokens",
        budget = 256L, shards = 8)
        .orderBy("id")
    },

    // Quality-weighted deterministic sampling: keep probability equals
    // the per-document weight (here length-proportional, capped at 1) —
    // the importance-resampling move of a training mix. The predicate
    // stays a pure scan-stage comparison in DOUBLE space on both sides:
    // same md5 draw, same IEEE conversion and multiply, no double→long
    // cast (which truncates in Spark but rounds in DuckDB).
    q(
      "q99_weighted_sample",
      s"""SELECT source, COUNT(*) AS n,
         |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
         |FROM documents
         |WHERE LEAST(1.0::DOUBLE, n_chars / 2000.0::DOUBLE) >= 1.0
         |  OR ('0x' || substr(md5('w7:' || doc_id), 1, 15))::BIGINT::DOUBLE
         |  < LEAST(1.0::DOUBLE, n_chars / 2000.0::DOUBLE)
         |    * ${(1L << 60).toDouble}
         |GROUP BY source ORDER BY source"""
    ) { (s, d) =>
      graft.pipeline.Sampling.weightedSample(
        Tables.documents(s, d), "doc_id",
        least(lit(1.0), col("n_chars") / lit(2000.0)), salt = "w7:")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"),
          sum(col("n_chars")).cast("long").as("sum_chars"))
        .orderBy("source")
    },

    // Exact-k per-stratum selection: the 5 smallest (salt, id) draws
    // per source — a fixed-size golden subset per stratum, hash-rank
    // replayed with the identical (hash, id) tie-break.
    q(
      "q106_exact_k_sample",
      """SELECT source, doc_id FROM (
        |  SELECT source, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY ('0x' || substr(md5('k1:' || doc_id), 1, 15))::BIGINT,
        |        doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 5 ORDER BY source, doc_id"""
    ) { (s, d) =>
      graft.pipeline.Sampling.exactKPerStratum(
        Tables.documents(s, d), "doc_id", "source", k = 5, salt = "k1:")
        .select(col("source"), col("doc_id"))
        .orderBy("source", "doc_id")
    },

    // Deterministic oversampling: src3 documents appear 3x, src7 2.5x
    // (each twice plus half a third time by draw), everything else 1x —
    // the upsampling half of a training mix, replayed with
    // generate_series over the identical copy-count arithmetic.
    q(
      "q107_oversample",
      s"""WITH w AS (
         |  SELECT doc_id, source,
         |    CASE source WHEN 'src3' THEN 3.0::DOUBLE
         |      WHEN 'src7' THEN 2.5::DOUBLE ELSE 1.0::DOUBLE END AS wt
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, source,
         |    CAST(FLOOR(wt) AS BIGINT)
         |      + CASE WHEN ('0x' || substr(md5('o1:' || doc_id), 1, 15))
         |          ::BIGINT::DOUBLE
         |        < (wt - FLOOR(wt)) * ${(1L << 60).toDouble}
         |        THEN 1 ELSE 0 END AS copies
         |  FROM w)
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_rows,
         |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |  CAST(MAX(copy) AS BIGINT) AS max_copy
         |FROM c, UNNEST(generate_series(1, c.copies)) AS g(copy)
         |GROUP BY source ORDER BY source"""
    ) { (s, d) =>
      import graft.pipeline.Sampling
      val wt = when(col("source") === "src3", lit(3.0))
        .when(col("source") === "src7", lit(2.5))
        .otherwise(lit(1.0))
      Sampling.oversample(Tables.documents(s, d), "doc_id", wt, salt = "o1:")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("doc_id")).as("n_docs"),
          max(col("copy")).as("max_copy"))
        .orderBy("source")
    },

    // Balanced per-cluster sampling: k-means assignments (q98's exact
    // pipeline) composed with exact-k selection per cluster — the
    // "diverse evaluation subset" move (cap every semantic region at
    // the same size). The oracle replays the full two-iteration Lloyd
    // unroll and then the (hash, id) rank inside each cluster.
    q(
      "q118_balanced_cluster_sample",
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |$kmeansLloydCtes,
         |${kmeansAssign("a3", "c2")}
         |SELECT vec_id, CAST(cid AS INT) AS cluster FROM (
         |  SELECT vec_id, cid,
         |    ROW_NUMBER() OVER (PARTITION BY cid
         |      ORDER BY ('0x' || substr(md5('bal:' || vec_id), 1, 15))::BIGINT,
         |        vec_id) AS rk
         |  FROM a3)
         |WHERE rk <= 10 ORDER BY vec_id"""
    ) { (s, d) =>
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
      val assigned = graft.pipeline.SimilarityArtifacts
        .kmeansAssignments(e, k = 8, iters = 2, corpusKey = d)
      graft.pipeline.Sampling.exactKPerStratum(
        assigned, "vec_id", "cluster", k = 10, salt = "bal:")
        .orderBy("vec_id")
    },

    // Token-budget mixture downsampling: "train on 40k chars at 40/30/
    // 20/10 src0..src3" becomes per-source keep rates computed FROM the
    // corpus (rate = min(1, budget·share / source_chars) — short
    // sources cap at keep-everything, absent sources rate 0), then the
    // engine-portable (salt, id) draw per row. The oracle recomputes
    // the same rate table and replays the same predicate, both arms.
    q(
      "q131_budget_mix",
      s"""WITH tok AS (
         |  SELECT source, CAST(SUM(n_chars) AS DOUBLE) AS tok
         |  FROM documents GROUP BY 1),
         |r AS (
         |  SELECT source, LEAST(1.0,
         |    (CASE source WHEN 'src0' THEN 0.4 WHEN 'src1' THEN 0.3
         |      WHEN 'src2' THEN 0.2 WHEN 'src3' THEN 0.1
         |      ELSE 0.0 END) * 40000.0 / tok) AS rate
         |  FROM tok)
         |SELECT d.source, COUNT(*) AS n_docs,
         |  CAST(SUM(d.n_chars) AS BIGINT) AS kept_chars
         |FROM documents d JOIN r USING (source)
         |WHERE r.rate >= 1.0
         |  OR ('0x' || substr(md5('mix0:' || d.doc_id), 1, 15))
         |    ::BIGINT::DOUBLE < r.rate * ${(1L << 60).toDouble}
         |GROUP BY 1 ORDER BY 1"""
    ) { (s, d) =>
      graft.pipeline.Sampling.mixToBudget(
          Tables.documents(s, d), "doc_id", "source", "n_chars",
          shares = Map("src0" -> 0.4, "src1" -> 0.3,
            "src2" -> 0.2, "src3" -> 0.1),
          budgetTokens = 40000L)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("kept_chars"))
        .orderBy("source")
    },

    // Temperature-flattened mixture (√-scaling, the multilingual-mix
    // move): per-source budget share ∝ √tokens instead of tokens, so
    // small sources are boosted. α is fixed at 0.5 because IEEE sqrt is
    // correctly rounded on every engine (libm pow is not); the
    // normalizer Σ√tok is folded in EXPLICIT source order on both
    // sides, never a data-ordered float SUM. Exercises capped (small
    // SFs) and fractional (sf0.1) rate arms plus rate-0 for the 16
    // sources outside the mix.
    q(
      "q132_temperature_mix",
      s"""WITH tok AS (
         |  SELECT source, CAST(SUM(n_chars) AS DOUBLE) AS tok
         |  FROM documents WHERE source IN ('src0','src1','src2','src3')
         |  GROUP BY 1),
         |n AS (SELECT
         |  ((sqrt(COALESCE((SELECT tok FROM tok WHERE source='src0'), 0))
         |   + sqrt(COALESCE((SELECT tok FROM tok WHERE source='src1'), 0)))
         |   + sqrt(COALESCE((SELECT tok FROM tok WHERE source='src2'), 0)))
         |   + sqrt(COALESCE((SELECT tok FROM tok WHERE source='src3'), 0))
         |  AS norm),
         |r AS (
         |  SELECT source, LEAST(1.0::DOUBLE,
         |    33000.0 * sqrt(tok) / (SELECT norm FROM n) / tok) AS rate
         |  FROM tok)
         |SELECT d.source, COUNT(*) AS n_docs,
         |  CAST(SUM(d.n_chars) AS BIGINT) AS kept_chars
         |FROM documents d JOIN r USING (source)
         |WHERE r.rate >= 1.0
         |  OR ('0x' || substr(md5('temp0:' || d.doc_id), 1, 15))
         |    ::BIGINT::DOUBLE < r.rate * ${(1L << 60).toDouble}
         |GROUP BY 1 ORDER BY 1"""
    ) { (s, d) =>
      graft.pipeline.Sampling.temperatureMix(
          Tables.documents(s, d), "doc_id", "source", "n_chars",
          sources = Seq("src0", "src1", "src2", "src3"),
          budgetTokens = 33000L)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("kept_chars"))
        .orderBy("source")
    },

    // Sequential Poisson sampling (Ohlsson): EXACTLY k rows, inclusion
    // probability ∝ weight — rank by draw/weight, keep the k smallest.
    // The key is one IEEE division of engine-identical operands (no
    // pow/ln whose libm drift could flip the kth boundary); Spark plans
    // TakeOrderedAndProject (per-partition heaps), pinned in PlanSpec.
    q(
      "q133_seq_poisson_sample",
      """SELECT doc_id, source, n_chars FROM (
        |  SELECT doc_id, source, n_chars FROM documents
        |  WHERE n_chars > 0
        |  ORDER BY ('0x' || substr(md5('sps0:' || doc_id), 1, 15))
        |    ::BIGINT::DOUBLE / n_chars::DOUBLE, doc_id
        |  LIMIT 60)
        |ORDER BY doc_id"""
    ) { (s, d) =>
      graft.pipeline.Sampling.sequentialPoissonSample(
          Tables.documents(s, d), "doc_id", col("n_chars"), k = 60)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy("doc_id")
    },

    // MMR diversity re-ranking (Carbonell & Goldstein SIGIR'98): top-5
    // of vec 0's 20 nearest neighbors, greedily trading relevance
    // against similarity to already-picked results (λ=0.5). Every
    // cosine quantizes to integer micro-units BEFORE any comparison,
    // so the greedy argmax chain replays exactly — the oracle advances
    // one pick per recursion carrying the selected set as a list.
    q(
      "q149_mmr_rerank",
      """WITH RECURSIVE
        |qv AS (SELECT embedding::DOUBLE[] AS v FROM embeddings
        |       WHERE vec_id = 0),
        |c0 AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v,
        |    ROUND(list_cosine_similarity(embedding::DOUBLE[], qv.v)
        |      * 1000000)::BIGINT AS relq
        |  FROM embeddings, qv WHERE vec_id <> 0),
        |cand AS (SELECT id, v, relq FROM c0
        |  ORDER BY relq DESC, id LIMIT 20),
        |sims AS (SELECT a.id AS ia, b.id AS ib,
        |    ROUND(list_cosine_similarity(a.v, b.v) * 1000000)::BIGINT
        |      AS simq
        |  FROM cand a JOIN cand b ON a.id <> b.id),
        |rec AS (
        |  SELECT 1 AS rnk, p.id AS id, p.relq AS relq,
        |      0.5::DOUBLE * p.relq AS mmr_u, [p.id] AS sel
        |  FROM (SELECT id, relq FROM cand
        |        ORDER BY relq DESC, id LIMIT 1) p
        |  UNION ALL
        |  SELECT r.rnk + 1, p.id, p.relq, p.sc, list_append(r.sel, p.id)
        |  FROM rec r, LATERAL (
        |    SELECT c.id, c.relq,
        |      0.5::DOUBLE * c.relq - (1.0::DOUBLE - 0.5::DOUBLE) * (
        |        SELECT MAX(s.simq) FROM sims s
        |        WHERE s.ia = c.id AND list_contains(r.sel, s.ib)) AS sc
        |    FROM cand c WHERE NOT list_contains(r.sel, c.id)
        |    ORDER BY sc DESC, c.id LIMIT 1) p
        |  WHERE r.rnk < 5)
        |SELECT rnk::BIGINT AS rank, id AS vec_id, relq AS rel_u, mmr_u
        |FROM rec ORDER BY rank"""
    ) { (s, d) =>
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id").cast("long").as("vec_id"),
          col("embedding").cast("array<double>").as("vec"))
      val qv = emb.filter(col("vec_id") === 0)
        .select("vec").head.getSeq[Double](0).toArray
      graft.pipeline.Similarity.mmrRerank(
          emb.filter(col("vec_id") =!= 0), qv,
          lambdaRel = 0.5, topN = 20, k = 5)
        .orderBy("rank")
    },

    // M4 downsampling (Jugel et al. VLDB'14): per sensor and 1-day
    // bucket, the first/last/min/max samples — the pixel-exact chart
    // reduction, as a PURE aggregate (struct extrema, map-side
    // combined; no window, no per-series state, unlike LTTB's
    // sequential chain). Integer bucket arithmetic (t − t % w; a
    // double floor can round a .999… quotient across the boundary);
    // struct-lexicographic tie-breaks make the 4-point set exact.
    q(
      "q160_m4_downsample",
      """WITH s AS (SELECT event_type || ' ' || user_id AS sensor_id,
        |    epoch_us(ts) AS t, value AS v FROM events),
        |sb AS (SELECT sensor_id, t - (t % 86400000000) AS b, t, v
        |  FROM s),
        |r AS (SELECT sensor_id, b, t, v,
        |  ROW_NUMBER() OVER (PARTITION BY sensor_id, b
        |    ORDER BY t, v) AS rf,
        |  ROW_NUMBER() OVER (PARTITION BY sensor_id, b
        |    ORDER BY t DESC, v DESC) AS rl,
        |  ROW_NUMBER() OVER (PARTITION BY sensor_id, b
        |    ORDER BY v, t) AS rmin,
        |  ROW_NUMBER() OVER (PARTITION BY sensor_id, b
        |    ORDER BY v DESC, t DESC) AS rmax
        | FROM sb)
        |SELECT DISTINCT sensor_id, b AS bucket_start_us,
        |  t AS timestamp_us, v AS value
        |FROM r WHERE rf = 1 OR rl = 1 OR rmin = 1 OR rmax = 1
        |ORDER BY sensor_id, bucket_start_us, timestamp_us, value"""
    ) { (s, d) =>
      graft.operators.SensorOps.m4Downsample(
          EventsAdapter.samples(s, d), bucketUs = 86400000000L)
        .orderBy("sensor_id", "bucket_start_us", "timestamp_us", "value")
    },

    // Regular-grid forward-fill resample (daily): per sensor, one row
    // per day of its own span; empty days carry the latest prior
    // value (max(struct) latest-wins + last ignoreNulls — q157's total
    // order). Sensors with 2-day gaps in q159/q170 guarantee filled
    // rows exist.
    q(
      "q191_ffill_resample",
      s"""WITH $dailyGridCtes
         |SELECT sensor_id, bk * 86400000000 AS bucket_start_us,
         |  last_value(v IGNORE NULLS) OVER (PARTITION BY sensor_id
         |    ORDER BY bk ROWS UNBOUNDED PRECEDING) AS value,
         |  CAST(v IS NULL AS INTEGER) AS filled
         |FROM j ORDER BY sensor_id, bucket_start_us"""
    ) { (s, d) =>
      graft.operators.SensorOps.resampleForwardFill(
          EventsAdapter.samples(s, d), bucketUs = 86400000000L)
        .orderBy("sensor_id", "bucket_start_us")
    },

    // Hard-negative mining: per anchor, top-3 most-similar vectors of
    // a DIFFERENT label — q27's broadcast-anchor kernel with the label
    // exclusion as a scan predicate. ROUND(6) on the cosine surface
    // (the q27 discipline for list_cosine_similarity parity).
    q(
      "q282_hard_negatives",
      """WITH e AS (SELECT vec_id, label,
        |    embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT vec_id AS query_id, label AS qlabel, v AS qv
        |      FROM e WHERE vec_id < 10)
        |SELECT query_id, rank, vec_id, label, ROUND(cosine, 6) AS cosine
        |FROM (
        |  SELECT q.query_id, e.vec_id, e.label,
        |    list_cosine_similarity(q.qv, e.v) AS cosine,
        |    ROW_NUMBER() OVER (PARTITION BY q.query_id
        |      ORDER BY list_cosine_similarity(q.qv, e.v) DESC,
        |        e.vec_id) AS rank
        |  FROM q, e WHERE e.label <> q.qlabel)
        |WHERE rank <= 3 ORDER BY query_id, rank"""
    ) { (s, d) =>
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("vec"))
      val anchors = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
          col("vec").as("qvec"))
      Similarity.hardNegatives(anchors, e, 3)
        .withColumn("cosine", round(col("cosine"), 6))
        .orderBy("query_id", "rank")
    },

    // Linear-interpolation resample — q191's twin with a straight line
    // between neighbors instead of a step. Grid spans the sensor's own
    // samples (both neighbors always exist); interpolation is a FIXED
    // four-op IEEE shape. Two ignoreNulls window carries over one
    // sensor partitioning.
    q(
      "q288_linear_resample",
      s"""WITH $dailyGridCtes,
         |g AS (SELECT sensor_id, bk, v,
         |    last_value(v IGNORE NULLS) OVER wb AS pv,
         |    last_value(CASE WHEN v IS NOT NULL THEN bk END IGNORE NULLS)
         |      OVER wb AS pb,
         |    first_value(v IGNORE NULLS) OVER wf AS nv,
         |    first_value(CASE WHEN v IS NOT NULL THEN bk END IGNORE NULLS)
         |      OVER wf AS nb
         |  FROM j
         |  WINDOW wb AS (PARTITION BY sensor_id ORDER BY bk
         |      ROWS UNBOUNDED PRECEDING),
         |    wf AS (PARTITION BY sensor_id ORDER BY bk
         |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
         |SELECT sensor_id, bk * 86400000000 AS bucket_start_us,
         |  CASE WHEN v IS NOT NULL THEN v
         |    ELSE pv + (nv - pv) * (CAST(bk - pb AS DOUBLE)
         |      / CAST(nb - pb AS DOUBLE)) END AS value,
         |  CAST(v IS NULL AS INTEGER) AS filled
         |FROM g ORDER BY sensor_id, bucket_start_us"""
    ) { (s, d) =>
      graft.operators.SensorOps.resampleLinear(
          EventsAdapter.samples(s, d), bucketUs = 86400000000L)
        .orderBy("sensor_id", "bucket_start_us")
    },

    // LTTB downsampling (parallel bucket-centroid variant): per day
    // bucket, the point forming the largest triangle with neighbor
    // centroids — spike-preserving where M4 (q160) flattens. The area
    // argmax multiplies through by the common denominator n_A²·n_C so
    // the whole compare path is exact DECIMAL/HUGEINT integers; edge
    // buckets keep the series' endpoints.
    q(
      "q294_lttb_downsample",
      """WITH s AS (SELECT event_type || ' ' || user_id AS sensor_id,
        |    epoch_us(ts) AS tus, value FROM events),
        |p AS (SELECT sensor_id, tus,
        |    tus - MIN(tus) OVER (PARTITION BY sensor_id) AS t,
        |    CAST(FLOOR(value * 1000000.0) AS BIGINT) AS v,
        |    value AS rawv, tus // 86400000000 AS b
        |  FROM s),
        |c AS (SELECT sensor_id, b, COUNT(*) AS n,
        |    CAST(SUM(t) AS BIGINT) AS st, CAST(SUM(v) AS BIGINT) AS sv
        |  FROM p GROUP BY 1, 2),
        |a AS (SELECT sensor_id, b,
        |    LAG(n) OVER w AS na, LAG(st) OVER w AS sta,
        |    LAG(sv) OVER w AS sva, LEAD(n) OVER w AS nc,
        |    LEAD(st) OVER w AS stc, LEAD(sv) OVER w AS svc
        |  FROM c WINDOW w AS (PARTITION BY sensor_id ORDER BY b)),
        |j AS (SELECT p.sensor_id, p.b, p.tus, p.rawv, p.t, p.v,
        |    a.na, a.sta, a.sva, a.nc, a.stc, a.svc
        |  FROM p JOIN a ON p.sensor_id = a.sensor_id AND p.b = a.b),
        |r AS (SELECT sensor_id, b, tus, rawv,
        |    CASE WHEN na IS NOT NULL AND nc IS NOT NULL THEN
        |      ROW_NUMBER() OVER (PARTITION BY sensor_id, b ORDER BY
        |        ABS((sta::HUGEINT * nc - stc::HUGEINT * na)
        |            * (v::HUGEINT * na - sva)
        |          - (sta::HUGEINT - t::HUGEINT * na)
        |            * (svc::HUGEINT * na - sva::HUGEINT * nc)) DESC,
        |        t ASC, v ASC)
        |    WHEN na IS NULL THEN ROW_NUMBER() OVER (
        |      PARTITION BY sensor_id, b ORDER BY t ASC, v ASC)
        |    ELSE ROW_NUMBER() OVER (
        |      PARTITION BY sensor_id, b ORDER BY t DESC, v DESC)
        |    END AS rk
        |  FROM j)
        |SELECT sensor_id, b AS bucket, tus AS timestamp_us,
        |  rawv AS value
        |FROM r WHERE rk = 1 ORDER BY sensor_id, bucket"""
    ) { (s, d) =>
      graft.operators.SensorOps.lttbDownsample(
        EventsAdapter.samples(s, d), bucketUs = 86400000000L)
    },

    // Deterministic negative sampling for (customer, part) training
    // pairs: salted-hash residues over the dense part domain,
    // overdraw ×4, anti-join the positives, first 3 per user by draw
    // index — replayable contrastive negatives, no RNG.
    q(
      "q349_negative_sample",
      """WITH pos AS (SELECT DISTINCT o.o_custkey AS u,
        |    l.l_partkey AS it
        |  FROM orders o JOIN lineitem l
        |    ON l.l_orderkey = o.o_orderkey),
        |pc AS (SELECT COUNT(*) AS p FROM part),
        |us AS (SELECT DISTINCT u FROM pos),
        |cand AS (SELECT us.u, i.i,
        |    ('0x' || substr(md5('neg:' || CAST(us.u AS VARCHAR)
        |      || ':' || CAST(i.i AS VARCHAR)), 1, 15))::BIGINT
        |      % pc.p AS it
        |  FROM us CROSS JOIN (SELECT UNNEST(range(0, 12)) AS i) i
        |  CROSS JOIN pc),
        |neg AS (SELECT c.u, c.it, c.i FROM cand c
        |  LEFT JOIN pos ON pos.u = c.u AND pos.it = c.it
        |  WHERE pos.u IS NULL),
        |dd AS (SELECT u, it, MIN(i) AS i FROM neg GROUP BY 1, 2),
        |rk AS (SELECT u, it, i, ROW_NUMBER() OVER (
        |    PARTITION BY u ORDER BY i) AS rn FROM dd)
        |SELECT u AS user_id, it AS item_id, CAST(i AS BIGINT)
        |    AS draw_idx
        |FROM rk WHERE rn <= 3 ORDER BY user_id, draw_idx"""
    ) { (s, d) =>
      val pos = Tables.orders(s, d)
        .join(Tables.lineitem(s, d),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("user"),
          col("l_partkey").as("item"))
        .distinct()
      val itemCount = Tables.part(s, d).count()
      graft.pipeline.Sampling.negativeSample(pos, itemCount)
        .select(col("user").as("user_id"), col("item").as("item_id"),
          col("draw_idx").cast("long"))
        .orderBy("user_id", "draw_idx")
    },

    // Covariate-shift importance weights: purchase-vs-view value
    // distribution ratio per unit bucket, cross-multiplied exact
    // integers into one division.
    q(
      "q350_importance_weights",
      """WITH x AS (SELECT CASE WHEN event_type = 'purchase' THEN 1
        |      ELSE 0 END AS t,
        |    CAST(floor(value * 1000.0) AS BIGINT) // 1000 AS bucket
        |  FROM events WHERE event_type IN ('purchase', 'view')),
        |h AS (SELECT bucket,
        |    COUNT(CASE WHEN t = 1 THEN 1 END) AS c_t,
        |    COUNT(CASE WHEN t = 0 THEN 1 END) AS c_s
        |  FROM x GROUP BY 1),
        |n AS (SELECT COUNT(CASE WHEN t = 1 THEN 1 END) AS nt,
        |    COUNT(CASE WHEN t = 0 THEN 1 END) AS ns FROM x)
        |SELECT bucket, CAST(c_t AS BIGINT) AS c_t,
        |  CAST(c_s AS BIGINT) AS c_s,
        |  ROUND(CAST(c_t * n.ns AS DOUBLE)
        |    / CAST(c_s * n.nt AS DOUBLE), 6) AS weight
        |FROM h CROSS JOIN n WHERE c_s > 0 ORDER BY bucket"""
    ) { (s, d) =>
      graft.pipeline.Profiler.importanceWeights(
          Tables.events(s, d)
            .filter(col("event_type").isin("purchase", "view"))
            .select(when(col("event_type") === "purchase", lit(1))
              .otherwise(lit(0)).as("is_t"),
              expr("CAST(floor(value * 1000.0) AS BIGINT)" +
                " div 1000").as("bk")),
          "is_t", "bk")
        .orderBy("bucket")
    }
  )
}
