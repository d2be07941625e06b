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

/** Deduplication pipeline: exact/MinHash/SimHash/Jaccard/winnowing, clusters, contamination, cross-source leakage.
  *
  * One of the family registries composed into [[graft.Queries]];
  * oracle/alias conventions are documented there.
  */
private[graft] object DedupQueries {

  /** The exact 3-gram Jaccard ≥ 0.5 pairs: the oracle of q24 and of
    * q25, whose MinHash candidates verify to the same pairs.
    */
  private val jaccardPairsOracleSql =
    s"""WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents),
       |$shinglePairCtes
       |SELECT da AS id_a, db AS id_b, c::DOUBLE/(sa.n + sb.n - c) AS jaccard
       |FROM p JOIN sizes sa ON p.da = sa.doc_id JOIN sizes sb ON p.db = sb.doc_id
       |WHERE c::DOUBLE/(sa.n + sb.n - c) >= 0.5
       |ORDER BY id_a, id_b"""

  val registry: Seq[Q] = Seq(

    // S15: exact dedup on (sensor_id, timestamp_us, value)
    // (reference: src/storage/sqlite/storage.rs:632-661).
    q(
      "q8_dedup",
      """SELECT name, COUNT(*) AS n FROM (
        |  SELECT DISTINCT event_type AS name, user_id, epoch_us(ts), value
        |  FROM events)
        |GROUP BY name ORDER BY name"""
    ) { (s, d) =>
      SensorOps.dedup(EventsAdapter.samples(s, d))
        .groupBy(col("sensor_name").as("name"))
        .agg(count(lit(1)).as("n"))
        .orderBy("name")
    },

    // Exact dedup via normalized 64-bit fingerprints (collision odds at
    // corpus scale ~1e-12; distinct-text oracle).
    q(
      "q23_dedup_exact",
      """SELECT source, COUNT(*) AS n_docs,
        |  COUNT(DISTINCT lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS n_distinct
        |FROM documents GROUP BY source ORDER BY source"""
    ) { (s, d) =>
      Tables.documents(s, d)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(TextAnalysis.fingerprint(col("text"))).as("n_distinct"))
        .orderBy("source")
    },

    // Exact 3-gram Jaccard near-dup pairs via inverted-index self-join —
    // the DuckDB oracle recomputes the same shingle/jaccard definition.
    q("q24_ngram_jaccard", jaccardPairsOracleSql) { (s, d) =>
      // the shared pair-graph artifact carries the exact Jaccard
      // scores, so the q24 report is a filtered read of the bucketed
      // layout — the inverted-index join (ngramJaccardPairs; prefix-
      // filtered variant for huge posting lists, PipelineSpec-pinned
      // identical) runs once per corpus at artifact build
      graft.pipeline.DedupArtifacts.scoredPairs(
        Tables.spread(s, Tables.documents(s, d)),
        "doc_id", "text", 3, 0.5, corpusKey = d)
        .orderBy("id_a", "id_b")
    },

    // MinHash+LSH near-dup: banded signatures generate candidates, exact
    // Jaccard verifies — same oracle as q24 (recall at j≈0.98 with 16
    // bands of 4 rows: P[miss] ≈ 1e-18).
    q("q25_minhash_lsh", jaccardPairsOracleSql) { (s, d) =>
      // 8 bands × 4 rows: P[miss] at j≈0.98 is (1-j⁴)^8 ≈ 1e-9, false-
      // candidate rate at j≈0.2 ≈ 1%, at half the signature cost of 64
      Dedup.minHashLshPairs(
        Tables.spread(s, Tables.documents(s, d)), "doc_id", "text",
        n = 3, tau = 0.5, numHashes = 32, bands = 8)
        .orderBy("id_a", "id_b")
    },

    // SimHash near-dup with the md5-derived token hash, which DuckDB can
    // replay bit-for-bit: per-token 64-bit hash from md5 hex, ±1 per bit
    // sign fold, 4×16-bit band candidates, popcount verify. The xxhash64
    // scale path keeps its semantics pinned in DedupSpec.
    q(
      "q26_simhash",
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
        |  FROM documents),
        |th AS (
        |  SELECT doc_id,
        |    (CASE WHEN h32 >= 2147483648 THEN h32 - 4294967296 ELSE h32 END)
        |      * 4294967296 + l32 AS h
        |  FROM (SELECT doc_id,
        |          ('0x' || substr(md5(tok),1,8))::BIGINT AS h32,
        |          ('0x' || substr(md5(tok),9,8))::BIGINT AS l32
        |        FROM toks)),
        |counts AS (
        |  SELECT doc_id, bt,
        |    SUM(CASE WHEN (h >> bt) & 1 = 1 THEN 1 ELSE -1 END) AS c
        |  FROM th, (SELECT unnest(range(64)) AS bt)
        |  GROUP BY doc_id, bt),
        |sh AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN s >= 9223372036854775808::HUGEINT
        |      THEN s - 18446744073709551616::HUGEINT ELSE s END AS BIGINT)
        |      AS simhash
        |  FROM (SELECT doc_id,
        |          SUM(CASE WHEN c > 0 THEN 1::HUGEINT << bt
        |              ELSE 0::HUGEINT END) AS s
        |        FROM counts GROUP BY doc_id)),
        |banded AS (
        |  SELECT doc_id, simhash, band, (simhash >> (band*16)) & 65535 AS bv
        |  FROM sh, (SELECT unnest(range(4)) AS band)),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
        |    a.simhash AS h_a, b.simhash AS h_b
        |  FROM banded a JOIN banded b
        |    ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id)
        |SELECT id_a, id_b, CAST(bit_count(xor(h_a, h_b)) AS INT) AS hamming
        |FROM cand WHERE bit_count(xor(h_a, h_b)) <= 16
        |ORDER BY id_a, id_b"""
    ) { (s, d) =>
      // repartition: the single-split documents scan would otherwise run
      // the tokenize+hash stage serially
      Dedup.simHashPairs(
        Tables.spread(s, Tables.documents(s, d)), "doc_id", "text",
        maxHamming = 16, tokenHash = Dedup.md5TokenHash)
        .orderBy("id_a", "id_b")
    },

    // Winnowing document fingerprint overlap: pairs sharing >= 5 selected
    // k-gram hashes, IGNORING fingerprints present in more than 50
    // documents (the standard MOSS common-substring suppression: a
    // boilerplate fingerprint carries no overlap signal, and its df²
    // pair explosion is what breaks the join at corpus scale — on this
    // corpus the hottest fingerprint sits in >500 docs). The md5-derived
    // k-gram hash (60 bits from the md5 hex prefix) makes the window-
    // minimum selection replayable in SQL: the fingerprint SET per doc
    // is the distinct min of each w-window, which DuckDB computes with a
    // forward-frame window MIN. The rolling-hash variant stays the scale
    // path, pinned in PipelineSpec.
    q(
      "q48_winnow_overlap",
      """WITH norm AS (
        |  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
        |  FROM documents),
        |kg AS (
        |  SELECT doc_id, t, len(t) - 10 + 1 AS m FROM norm WHERE len(t) >= 10),
        |h AS (
        |  SELECT doc_id, m, p,
        |    ('0x' || substr(md5(substr(t, p::INT + 1, 10)), 1, 15))::BIGINT AS hv
        |  FROM (SELECT doc_id, m, t, unnest(range(m)) AS p FROM kg)),
        |wmin AS (
        |  SELECT doc_id, p, m,
        |    MIN(hv) OVER (PARTITION BY doc_id ORDER BY p
        |      ROWS BETWEEN CURRENT ROW AND 49 FOLLOWING) AS fp
        |  FROM h),
        |fps AS (
        |  SELECT DISTINCT doc_id, fp FROM wmin WHERE p <= greatest(0, m - 50)),
        |rare AS (SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) <= 50),
        |fpr AS (SELECT fps.doc_id, fps.fp FROM fps JOIN rare USING (fp))
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
        |FROM fpr a JOIN fpr b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY id_a, id_b HAVING COUNT(*) >= 5
        |ORDER BY id_a, id_b"""
    ) { (s, d) =>
      // repartition before the per-doc digest UDF: the documents file is a
      // single input split, and the fingerprint work would run serially
      val fp = Tables.spread(s, Tables.documents(s, d))
        .select(col("doc_id").as("id"),
          explode(graft.pipeline.TextAnalysis.winnowingFingerprintsMd5(
            col("text"), k = 10, w = 50)).as("fp"))
      // The MOSS df suppression (drop fingerprints in >50 docs) as a
      // count-over-window on ONE fp-keyed exchange (r17, guide §2.4):
      // both pair-join sides reuse that exchange, so the digest UDF runs
      // once with no persist. Replaces a groupBy-df + left-semi join
      // (three posting-scale exchange reads) — sf0.1 warm ~1.4 → ~0.95 s,
      // 100× probe shuffle write 148 → 87 MB, wall 11.8 → 10.7 s. The
      // window buffers one fp group per step (hottest fp >500 docs here;
      // the 5M-row hot-key probe ran this pattern at 8 MB peak).
      val fpr = fp.withColumn("__df", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))))
        .filter(col("__df") <= 50).drop("__df")
      fpr.as("a").join(fpr.as("b"),
          col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
        .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .agg(count(lit(1)).as("shared"))
        .filter(col("shared") >= 5)
        .orderBy("id_a", "id_b")
    },

    // Canonical-document assignment: every doc maps to the lowest id of
    // its exact-duplicate group (identical normalized text) — the
    // keep/drop decision after exact dedup. The engine keys the window
    // on the 64-bit fingerprint; the oracle partitions by the normalized
    // text itself (identical given the collision-free pin in
    // PipelineSpec).
    q(
      "q54_dedup_assign",
      """SELECT doc_id,
        |  MIN(doc_id) OVER (PARTITION BY
        |    lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS canonical_id,
        |  doc_id = MIN(doc_id) OVER (PARTITION BY
        |    lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS is_canonical
        |FROM documents ORDER BY doc_id"""
    ) { (s, d) =>
      Dedup.assignCanonical(Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id")
    },

    // Near-duplicate clusters: exact Jaccard pairs as edges, connected
    // components (iterative min-label propagation) as the assignment —
    // transitively-connected near-dups form one cluster; a pipeline
    // keeps one doc per cluster. The oracle computes the same components
    // with a recursive-CTE reachability closure over the same edge set.
    q(
      "q57_dedup_clusters",
      s"""WITH RECURSIVE $nearDupClosureCtes
         |SELECT d.doc_id AS id,
         |  COALESCE(LEAST(c.id, c.mn), d.doc_id) AS cluster_id
         |FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
         |ORDER BY id"""
    ) { (s, d) =>
      Dedup.nearDupClustersShared(
        Tables.spread(s, Tables.documents(s, d)),
        "doc_id", "text", n = 3, tau = 0.5, corpusKey = d)
        .orderBy("id")
    },

    // Decontamination scan: the deterministic md5 sampler carves a 10%
    // eval split; each eval doc reports the fraction of its distinct
    // 3-gram shingles found anywhere in the train split. The train side
    // collapses to its DISTINCT shingle set before the join (a shingle
    // in a million train docs is one row), so the scan shuffles eval
    // shingles against train vocabulary — never doc pairs.
    q(
      "q58_contamination",
      s"""WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
         |           FROM documents),
         |$shingleCte,
         |ev AS (SELECT doc_id FROM documents
         |       WHERE ('0x' || substr(md5('eval:' || doc_id), 1, 15))::BIGINT
         |         < ${(0.1 * (1L << 60).toDouble).toLong}),
         |tr_sh AS (SELECT DISTINCT sh FROM g
         |          WHERE doc_id NOT IN (SELECT doc_id FROM ev)),
         |e_sh AS (SELECT g.doc_id, g.sh FROM g JOIN ev USING (doc_id))
         |SELECT e.doc_id, COUNT(*) AS n_sh,
         |  CAST(SUM(CASE WHEN t2.sh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_contained,
         |  SUM(CASE WHEN t2.sh IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE / COUNT(*)
         |    AS containment
         |FROM e_sh e LEFT JOIN tr_sh t2 USING (sh)
         |GROUP BY e.doc_id ORDER BY doc_id"""
    ) { (s, d) =>
      import graft.pipeline.Sampling
      val docs = Tables.spread(s, Tables.documents(s, d))
      val isEval = Sampling.hash60(col("doc_id"), "eval:") <
        lit((0.1 * (1L << 60).toDouble).toLong)
      Dedup.contamination(
        docs.filter(!isEval), docs.filter(isEval), "doc_id", "text", n = 3)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },

    // Corpus line-level dedup (the C4 boilerplate scrub): documents are
    // augmented with two boilerplate lines present on every page; lines
    // whose document frequency exceeds 10 are dropped and the doc
    // reassembled in original line order. The full reassembled text is
    // the hash surface, so line splitting, df counting, the threshold
    // AND the order-preserving reassembly all have to match.
    q(
      "q89_line_dedup",
      """WITH a AS (
        |  SELECT doc_id, text || chr(10) || 'Subscribe to our newsletter!'
        |    || chr(10) || '(c) example.com - all rights reserved' AS t
        |  FROM documents),
        |l AS (
        |  SELECT doc_id,
        |    unnest(list_transform(string_split(t, chr(10)),
        |      (x, i) -> {'pos': i, 'line': x})) AS s
        |  FROM a),
        |lines AS (SELECT doc_id, s.pos AS pos, s.line AS line FROM l),
        |df AS (SELECT line, COUNT(DISTINCT doc_id) AS df
        |       FROM lines GROUP BY line),
        |kept AS (
        |  SELECT lines.doc_id, COUNT(*) AS n_kept,
        |    string_agg(lines.line, chr(10) ORDER BY lines.pos) AS text
        |  FROM lines JOIN df USING (line) WHERE df.df <= 10
        |  GROUP BY lines.doc_id)
        |SELECT a.doc_id AS id,
        |  CAST(len(string_split(a.t, chr(10))) AS BIGINT) AS n_total,
        |  CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept,
        |  COALESCE(k.text, '') AS text
        |FROM a LEFT JOIN kept k ON k.doc_id = a.doc_id
        |ORDER BY id"""
    ) { (s, d) =>
      val aug = Tables.spread(s, Tables.documents(s, d))
        .select(col("doc_id"), concat(col("text"),
          lit("\nSubscribe to our newsletter!"),
          lit("\n(c) example.com - all rights reserved")).as("t"))
      TextAnalysis.dedupLines(aug, "doc_id", "t", maxDf = 10)
        .orderBy("id")
    },

    // SemDeDup-style semantic dedup: k-means-cluster the embedding
    // space (q98's exact config — lowest-id init, two Lloyd rounds),
    // then drop every vector with a LOWER-id ≥τ cosine neighbor in its
    // own cluster. Survivor guarantee: no two kept vectors in one
    // cluster are within τ. The oracle replays the full pipeline —
    // both Lloyd iterations, the final assignment, the within-cluster
    // pair scan, and the anti-join. τ=0.44 sits ≥2.7e-3 from the
    // nearest within-cluster cosine at all three SFs (probed), so the
    // cut can never flip on last-ulp engine drift. The vec_id cap
    // bounds the oracle's quadratic pair stage the same way q46's does;
    // the cluster-scoped Σ|c|² scale shape is the library story.
    q(
      "q134_semdedup",
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
         |           FROM embeddings WHERE vec_id < 600),
         |$kmeansLloydCtes,
         |${kmeansAssign("a3", "c2")},
         |dropped AS (
         |  SELECT DISTINCT b.vec_id
         |  FROM a3 a JOIN a3 b ON a.cid = b.cid AND a.vec_id < b.vec_id
         |  JOIN e ea ON ea.vec_id = a.vec_id
         |  JOIN e eb ON eb.vec_id = b.vec_id
         |  WHERE list_cosine_similarity(ea.v, eb.v) >= 0.44)
         |SELECT a3.vec_id, CAST(a3.cid AS INT) AS cluster
         |FROM a3 ANTI JOIN dropped ON a3.vec_id = dropped.vec_id
         |ORDER BY vec_id"""
    ) { (s, d) =>
      val e = Tables.embeddings(s, d)
        .filter(col("vec_id") < 600)
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("vec"))
      graft.pipeline.Dedup.semDedup(e, tau = 0.44, k = 8, iters = 2)
        .orderBy("vec_id")
    },

    // Cross-corpus contamination pair report: which TRAIN documents
    // contain >= half of an eval document's distinct 3-gram shingles
    // (asymmetric containment — the GPT-3-style decontamination
    // measure; q58 reports per-eval-doc totals, this names the
    // offending train docs). Sources src0-9 play train, src10-19 eval.
    // tau=0.5 sits >= 0.125 from the nearest containment at all SFs
    // (probed); the division is one exact IEEE op (q24 precedent).
    q(
      "q139_contamination_pairs",
      """WITH train AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE source IN ('src0','src1','src2','src3','src4',
        |                   'src5','src6','src7','src8','src9')),
        |ev AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE source IN ('src10','src11','src12','src13','src14',
        |                   'src15','src16','src17','src18','src19')),
        |tt AS (SELECT doc_id,
        |  string_split_regex(trim(text), '\s+') AS toks FROM train),
        |tg AS (SELECT DISTINCT doc_id,
        |        unnest(list_transform(generate_series(1, len(toks)-2),
        |          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
        |          AS sh FROM tt),
        |et AS (SELECT doc_id,
        |  string_split_regex(trim(text), '\s+') AS toks FROM ev),
        |eg AS (SELECT DISTINCT doc_id,
        |        unnest(list_transform(generate_series(1, len(toks)-2),
        |          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
        |          AS sh FROM et),
        |sizes AS (SELECT doc_id, count(*) n FROM eg GROUP BY 1),
        |p AS (SELECT eg.doc_id e, tg.doc_id t, count(*) c
        |      FROM eg JOIN tg ON eg.sh = tg.sh GROUP BY 1, 2)
        |SELECT e AS eval_id, t AS train_id, c AS n_common,
        |  c::DOUBLE / s.n AS containment
        |FROM p JOIN sizes s ON p.e = s.doc_id
        |WHERE c::DOUBLE / s.n >= 0.5
        |ORDER BY eval_id, train_id"""
    ) { (s, d) =>
      val docs = Tables.spread(s, Tables.documents(s, d))
      val trainSrc = (0 to 9).map(i => s"src$i")
      val evalSrc = (10 to 19).map(i => s"src$i")
      graft.pipeline.Dedup.crossContaminationPairs(
          docs.filter(col("source").isin(trainSrc: _*)),
          docs.filter(col("source").isin(evalSrc: _*)),
          "doc_id", "text", n = 3, tau = 0.5)
        .orderBy("eval_id", "train_id")
    },

    // Unicode-normalization dedup surface: half the corpus carries the
    // composed form (U+00E9), half the decomposed (e + U+0301) — raw
    // fingerprints split 2-ways per source, `unicode_normalize(_,
    // 'NFC')` (the codegen'd JDK-Normalizer Expression) collapses them
    // to one. Oracled against DuckDB's nfc_normalize (both are UAX
    // #15); the accented literals are built from chr() so the SQL
    // stays ASCII.
    q(
      "q166_nfc_dedup",
      """WITH f AS (SELECT source,
        |    CASE WHEN doc_id % 2 = 0 THEN 'caf' || chr(233)
        |         ELSE 'cafe' || chr(769) END AS s
        |  FROM documents),
        |nf AS (SELECT source, s, nfc_normalize(s) AS ns FROM f)
        |SELECT source, COUNT(*) AS n_docs,
        |  COUNT(DISTINCT s) AS n_raw_forms,
        |  COUNT(DISTINCT ns) AS n_norm_forms,
        |  CAST(SUM(CASE WHEN s <> ns THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_changed
        |FROM nf GROUP BY 1 ORDER BY source"""
    ) { (s, d) =>
      Tables.documents(s, d)
        .select(col("source"),
          when(pmod(col("doc_id"), lit(2)) === 0, lit("caf\u00e9"))
            .otherwise(lit("cafe\u0301")).as("__s"))
        .withColumn("__n",
          call_function("unicode_normalize", col("__s"), lit("NFC")))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("__s")).as("n_raw_forms"),
          countDistinct(col("__n")).as("n_norm_forms"),
          sum(when(col("__s") =!= col("__n"), 1L).otherwise(0L))
            .as("n_changed"))
        .orderBy("source")
    },

    // Cross-source text leakage: the same content fingerprint (first 8
    // lowercased tokens — a prefix fingerprint, the cheapest stable
    // leak key) appearing under ≥2 sources — the split-contamination
    // case exact dedup reports but does not localize to sources.
    // Key re-anchored r13: the original EXACT-text key returned 0 rows
    // at sf0.001/0.01 (the corpus has no full-text duplicates below
    // sf0.1), leaving the driver's hash gate vacuously green; the
    // 8-token prefix keys 20/22/227 leaks at the three SFs while
    // keeping the kernel (group on content key, count docs + distinct
    // sources, keep multi-source keys) intact.
    q(
      "q261_cross_source_leak",
      """WITH keyd AS (SELECT doc_id, source,
        |    array_to_string(list_slice(string_split_regex(
        |      trim(lower(text)), '\s+'), 1, 8), ' ') AS leak_key
        |  FROM documents),
        |g AS (SELECT leak_key, MIN(doc_id) AS leak_id,
        |    COUNT(*) AS n_docs, COUNT(DISTINCT source) AS n_sources
        |  FROM keyd GROUP BY 1)
        |SELECT leak_id, n_docs, n_sources
        |FROM g WHERE n_sources >= 2 ORDER BY leak_id"""
    ) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          array_join(slice(split(trim(lower(col("text"))), "\\s+"), 1, 8),
            " ").as("leak_key"))
        .groupBy(col("leak_key"))
        .agg(min(col("doc_id")).as("leak_id"),
          count(lit(1)).as("n_docs"),
          countDistinct(col("source")).as("n_sources"))
        .filter(col("n_sources") >= 2)
        .select(col("leak_id"), col("n_docs"), col("n_sources"))
        .orderBy("leak_id")
    },

    // Golden-record survivorship over q57's near-dup clusters (the MDM
    // merge that turns duplicate clusters into a publishable table):
    // per cluster, mode-elected lang/source (smallest-value tie-break),
    // max completeness (n_chars), min-id representative. All-integer
    // election — counts + rank windows sharing the cluster partitioning.
    q("q299_golden_record", goldenRecordOracleSql) { (s, d) =>
      val docs = Tables.documents(s, d)
      val clusters = Dedup.nearDupClustersShared(
        Tables.spread(s, docs), "doc_id", "text", n = 3, tau = 0.5,
        corpusKey = d)
      val members = clusters.join(docs, col("id") === col("doc_id"))
        .select(col("cluster_id"), col("id"), col("lang"),
          col("source"), col("n_chars"))
      Dedup.goldenRecord(members, "cluster_id", "id",
        modeCols = Seq("lang", "source"), maxCols = Seq("n_chars"))
    }
  )
}
