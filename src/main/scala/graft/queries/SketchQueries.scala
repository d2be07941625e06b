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

/** Mergeable sketches: HLL, Bloom, Count-Min, KMV, bitmaps, heavy hitters, capture-recapture estimators.
  *
  * One of the family registries composed into [[graft.Queries]];
  * oracle/alias conventions are documented there.
  */
private[graft] object SketchQueries {

  val registry: Seq[Q] = Seq(

    // Heavy hitters over the token stream: Misra-Gries bounded-state
    // candidate pass + exact broadcast-filtered recount — items in
    // strictly more than 1/50 of the rows. The sketch only prunes
    // items provably below threshold, so the output is EXACT and the
    // oracle is the plain top-frequency SQL.
    q(
      "q165_heavy_hitters",
      """WITH tk AS (SELECT UNNEST(string_split_regex(
        |    trim(lower(text)), '\s+')) AS item FROM documents),
        |n AS (SELECT COUNT(*) AS n FROM tk),
        |c AS (SELECT item, COUNT(*) AS cnt FROM tk GROUP BY 1)
        |SELECT item, cnt, cnt::DOUBLE / n.n::DOUBLE AS share
        |FROM c, n WHERE cnt * 50 > n.n
        |ORDER BY cnt DESC, item"""
    ) { (s, d) =>
      graft.pipeline.Frequent.heavyHitters(
          Tables.spread(s, Tables.documents(s, d))
            .select(explode(split(trim(lower(col("text"))), "\\s+"))
              .as("item")),
          "item", k = 50)
        .orderBy(col("cnt").desc, col("item"))
    },

    // Bloom-pruned join: lineitem → nation-3 suppliers, with a
    // bounded-state Bloom filter of the build keys dropping probe rows
    // BEFORE the shuffle (the runtime-filter pattern). FPs only waste
    // shuffle bytes — the join removes them — so the result IS the
    // plain join, which is exactly what the oracle runs.
    q(
      "q168_bloom_join",
      """SELECT s.s_name, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS revenue
        |FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |WHERE s.s_nationkey = 3
        |GROUP BY 1 ORDER BY 1"""
    ) { (s, d) =>
      val build = Tables.supplier(s, d)
        .filter(col("s_nationkey") === 3)
        .select(col("s_suppkey").as("l_suppkey"), col("s_name"))
      graft.operators.BloomJoin.join(
          Tables.lineitem(s, d)
            .select(col("l_suppkey"), col("l_extendedprice")),
          build, "l_suppkey", numBits = 1 << 16, hashes = 7)
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("n_items"),
          dsum(col("l_extendedprice")).as("revenue"))
        .orderBy("s_name")
    },

    // HyperLogLog distinct-orderkey estimate per returnflag (Flajolet
    // et al. 2007): md5-60-bit hashing (engine-portable), b=8 register
    // index, rank via length(bin(w)) — identical in both engines — and
    // the harmonic sum kept EXACT as Σ 2^(53-mj) in int64 (empty
    // registers 2^53 each), so the only IEEE ops are the final fixed
    // multiply/divide chain. ~11k distinct per flag ≈ 43m — solidly in
    // the raw-estimator regime (>2.5m) with no correction branch.
    // Mergeable-union layout: the register table is 3×256 rows no
    // matter how many lineitems feed it.
    q(
      "q271_hll_distinct",
      s"""WITH $hllRegisterCtes,
         |e AS (SELECT flag, CAST(COUNT(DISTINCT k) AS BIGINT)
         |    AS n_exact FROM t GROUP BY 1)
         |SELECT g.flag, e.n_exact, g.registers_observed,
         |  g.tobs + (256 - g.registers_observed) *
         |    (CAST(1 AS BIGINT) << 53) AS t_scaled,
         |  (0.7213::DOUBLE / (1.0::DOUBLE + 1.079::DOUBLE / 256.0::DOUBLE))
         |    * 256.0::DOUBLE * 256.0::DOUBLE * 9007199254740992.0::DOUBLE
         |    / CAST(g.tobs + (256 - g.registers_observed) *
         |        (CAST(1 AS BIGINT) << 53) AS DOUBLE) AS hll_estimate
         |FROM g JOIN e ON g.flag = e.flag ORDER BY g.flag"""
    ) { (s, d) =>
      val t = Tables.lineitem(s, d)
        .select(col("l_returnflag").as("flag"),
          col("l_orderkey").cast("string").as("k"))
      graft.pipeline.Sketches.hllDistinct(t, "k", Seq("flag"), 8)
        .join(t.groupBy("flag")
          .agg(count_distinct(col("k")).as("n_exact")), Seq("flag"))
        .select(col("flag"), col("n_exact"), col("registers_observed"),
          col("t_scaled"), col("hll_estimate"))
        .orderBy("flag")
    },

    // Bloom-filter cross-snapshot dedup prefilter: the filter built
    // from the even-doc_id snapshot (k=3 salted md5 bit lanes over
    // 2^17 bits, packed to 2048 bit_or words — broadcast-sized BY
    // CONSTRUCTION) probes the odd-doc_id snapshot; only
    // bloom-positive rows would enter the exact dedup shuffle at
    // scale. The fingerprint is the first-8-token prefix (the
    // boilerplate-opening signal that DOES recur across snapshots).
    // Pure integer/bit arithmetic end to end — negatives are exact,
    // positives = true dups + counted false positives.
    q(
      "q272_bloom_prefilter",
      """WITH n AS (SELECT doc_id, source,
        |    array_to_string(list_slice(
        |      string_split_regex(trim(lower(text)), '\s+'), 1, 8), ' ')
        |      AS fp
        |  FROM documents),
        |old AS (SELECT fp FROM n WHERE doc_id % 2 = 0),
        |new_ AS (SELECT doc_id, source, fp FROM n WHERE doc_id % 2 = 1),
        |bits AS (SELECT DISTINCT lane.i AS i, fp,
        |    ('0x'||substr(md5(lane.i||':'||fp),1,15))::BIGINT % 131072
        |      AS pos
        |  FROM old, (SELECT UNNEST(['0','1','2']) AS i) lane),
        |bloom AS (SELECT pos // 64 AS word,
        |    bit_or(CAST(1 AS UBIGINT) << CAST(pos % 64 AS INT)) AS bits
        |  FROM (SELECT DISTINCT pos FROM bits) GROUP BY 1),
        |probe AS (SELECT w.doc_id, w.source, w.fp,
        |    (SELECT COUNT(*) FROM (SELECT UNNEST(['0','1','2']) AS i) l
        |      JOIN bloom b ON b.word =
        |        (('0x'||substr(md5(l.i||':'||w.fp),1,15))::BIGINT
        |          % 131072) // 64
        |      WHERE (b.bits & (CAST(1 AS UBIGINT) <<
        |        CAST((('0x'||substr(md5(l.i||':'||w.fp),1,15))::BIGINT
        |          % 131072) % 64 AS INT))) != 0) = 3 AS bloom_positive
        |  FROM new_ w),
        |truth AS (SELECT DISTINCT fp FROM old)
        |SELECT probe.source,
        |  COUNT(*) AS n_new,
        |  CAST(SUM(CASE WHEN bloom_positive THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_candidates,
        |  CAST(SUM(CASE WHEN truth.fp IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_true_dups,
        |  CAST(SUM(CASE WHEN bloom_positive AND truth.fp IS NULL
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_false_positives
        |FROM probe LEFT JOIN truth ON probe.fp = truth.fp
        |GROUP BY 1 ORDER BY 1"""
    ) { (s, d) =>
      val n = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          array_join(slice(split(trim(lower(col("text"))), "\\s+"), 1, 8),
            " ").as("fp"))
      val old = n.filter(col("doc_id") % 2 === 0).select("fp")
      val fresh = n.filter(col("doc_id") % 2 === 1)
      val bloom = graft.pipeline.Sketches.bloomBuild(old, "fp", 131072, 3)
      val probed = graft.pipeline.Sketches.bloomProbe(
        fresh, "fp", bloom, 131072, 3)
      // scale-honest shape: the exact fingerprint join runs over the
      // bloom CANDIDATES only — negatives never shuffle (that is the
      // entire point of the prefilter; true dups are always candidates
      // because bloom has no false negatives)
      val counts = fresh.groupBy(col("source"))
        .agg(count(lit(1)).as("n_new"))
      val cand = probed.filter(col("bloom_positive"))
      val truth = old.distinct().withColumn("__dup", lit(1))
      val candStats = cand
        .join(truth, cand("fp") === truth("fp"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_candidates"),
          sum(coalesce(col("__dup"), lit(0)).cast("long"))
            .as("n_true_dups"),
          sum(col("__dup").isNull.cast("long")).as("n_false_positives"))
      counts.join(candStats, Seq("source"), "left")
        .na.fill(0L,
          Seq("n_candidates", "n_true_dups", "n_false_positives"))
        .orderBy("source")
    },

    // Bitmap-index distinct users per day (Roaring/Druid pattern):
    // 63-bit OR-lanes, Σ popcount — a tiny MERGEABLE partial aggregate
    // where count(distinct) shuffles every id; the exact count rides
    // along as the self-check (the two columns matching IS the test).
    q(
      "q285_bitmap_distinct",
      """WITH lanes AS (SELECT CAST(ts AS DATE) AS day,
        |    user_id // 63 AS lane,
        |    bit_or(1::BIGINT << CAST(user_id % 63 AS INTEGER)) AS bm
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT day, COUNT(*) AS n_lanes,
        |    CAST(SUM(bit_count(bm)) AS BIGINT) AS n_distinct_bitmap
        |  FROM lanes GROUP BY 1),
        |x AS (SELECT CAST(ts AS DATE) AS day,
        |    COUNT(DISTINCT user_id) AS n_distinct_exact
        |  FROM events GROUP BY 1)
        |SELECT b.day, b.n_lanes, b.n_distinct_bitmap, x.n_distinct_exact
        |FROM b JOIN x USING (day) ORDER BY day"""
    ) { (s, d) =>
      graft.pipeline.Profiler.bitmapDistinct(
        Tables.events(s, d).select(to_date(col("ts")).as("day"),
          col("user_id")),
        "day", "user_id")
    },

    // Chao1 unseen-vocabulary richness per source: V + F1²/(2F2)
    // (bias-corrected when F2 = 0) off one token-frequency aggregate;
    // exact integer counts, one fixed IEEE shape, ROUND(6).
    q(
      "q329_chao1",
      """WITH tok AS (SELECT source,
        |    unnest(string_split_regex(trim(lower(text)), '\s+'))
        |      AS token
        |  FROM documents),
        |tf AS (SELECT source, token, COUNT(*) AS c FROM tok
        |  WHERE length(token) > 0 GROUP BY 1, 2),
        |f AS (SELECT source, COUNT(*) AS vocab,
        |    COUNT(*) FILTER (c = 1) AS f1,
        |    COUNT(*) FILTER (c = 2) AS f2
        |  FROM tf GROUP BY 1)
        |SELECT source, CAST(vocab AS BIGINT) AS vocab,
        |  CAST(f1 AS BIGINT) AS f1, CAST(f2 AS BIGINT) AS f2,
        |  ROUND(CASE WHEN f2 > 0 THEN CAST(vocab AS DOUBLE)
        |      + CAST(f1 AS DOUBLE) * CAST(f1 AS DOUBLE)
        |        / (2.0::DOUBLE * CAST(f2 AS DOUBLE))
        |    ELSE CAST(vocab AS DOUBLE) + CAST(f1 AS DOUBLE)
        |      * (CAST(f1 AS DOUBLE) - 1.0::DOUBLE) / 2.0::DOUBLE
        |    END, 6) AS chao1
        |FROM f ORDER BY source"""
    ) { (s, d) =>
      // INLINE on purpose (measured, not assumed): chao1 groups by a
      // corpus DIM (source), which the token-bucketed artifact cannot
      // serve without an id-keyed join back to the documents — at gate
      // SF that join costs more than the explode it saves (bench:
      // 0.21 s inline vs 0.48 s via chao1RichnessShared), because the
      // inline map-side combine collapses the token stream to
      // |sources|×|vocab| before any shuffle. The Shared variant stays
      // in the library for corpora where the raw scan dominates
      // (long documents ⇒ tf table ≪ token stream).
      graft.pipeline.TextAnalysis.chao1Richness(
          Tables.documents(s, d), "source", "text")
        .orderBy("source")
    },

    // Lincoln–Petersen (Chapman) capture–recapture corpus-size
    // estimate from the even/odd doc crawl halves — recapture =
    // identical normalized text (the q23 equivalence).
    q(
      "q358_lincoln_petersen",
      """WITH fa AS (SELECT DISTINCT lower(regexp_replace(trim(text),
        |    '\s+', ' ', 'g')) AS fp
        |  FROM documents WHERE doc_id % 2 = 0),
        |fb AS (SELECT DISTINCT lower(regexp_replace(trim(text),
        |    '\s+', ' ', 'g')) AS fp
        |  FROM documents WHERE doc_id % 2 = 1),
        |a AS (SELECT (SELECT COUNT(*) FROM fa) AS n_a,
        |    (SELECT COUNT(*) FROM fb) AS n_b,
        |    (SELECT COUNT(*) FROM fa JOIN fb USING (fp)) AS m)
        |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT)
        |    AS n_b, CAST(m AS BIGINT) AS m,
        |  ROUND(CAST(n_a + 1 AS DOUBLE) * CAST(n_b + 1 AS DOUBLE)
        |    / CAST(m + 1 AS DOUBLE) - 1.0::DOUBLE, 6) AS n_estimate
        |FROM a"""
    ) { (s, d) =>
      val docs = Tables.documents(s, d)
      graft.pipeline.Dedup.lincolnPetersen(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1), "text")
    }
  )
}
