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

/** Text analysis: language-ID, quality scoring, token/BPE stats, TF-IDF/BM25, vocabulary, readability, PII.
  *
  * One of the family registries composed into [[graft.Queries]];
  * oracle/alias conventions are documented there.
  */
private[graft] object TextQueries {

  /** The repeat-scrub oracles' 5-gram keys (q97, q104): `g` holds
    * each gram position of a preceding `t (id, toks)` CTE with its
    * 60-bit md5 key.
    */
  private val scrubGramCte =
    """g AS (
      |  SELECT id, i AS gpos,
      |    ('0x' || substr(md5(
      |      array_to_string(list_slice(toks, i + 1, i + 5), ' ')),
      |      1, 15))::BIGINT AS gram
      |  FROM t, UNNEST(range(0, GREATEST(len(toks) - 4, 0))) AS u(i))"""

  /** The repeat-scrub oracles' reassembly: the tokens of `t` outside the
    * `cov` spans, rejoined in order, per document with its token and
    * kept counts.
    */
  private val scrubReassemblySql =
    """tok AS (
      |  SELECT id, s['pos'] - 1 AS pos, s['tok'] AS tok
      |  FROM (SELECT id,
      |    UNNEST(list_transform(toks, (x, i) -> {'pos': i, 'tok': x}))
      |      AS s FROM t)),
      |kept AS (
      |  SELECT tok.id, tok.pos, tok.tok FROM tok
      |  ANTI JOIN cov ON tok.id = cov.id AND tok.pos = cov.pos),
      |agg AS (
      |  SELECT id, COUNT(*) AS n_kept,
      |    string_agg(tok, ' ' ORDER BY pos) AS text
      |  FROM kept GROUP BY id)
      |SELECT t.id, len(t.toks) AS n_tokens,
      |  COALESCE(agg.n_kept, 0) AS n_kept,
      |  COALESCE(agg.text, '') AS text
      |FROM t LEFT JOIN agg USING (id) ORDER BY t.id"""

  /** The per-source token oracles' counts (q356, q357): `tf` each
    * (source `g`, token) count, `pc` each source's token total `n`.
    */
  private val sourceTokenCtes =
    """tok AS (SELECT source AS g,
      |    unnest(string_split_regex(trim(lower(text)), '\s+'))
      |      AS token
      |  FROM documents),
      |tf AS (SELECT g, token, COUNT(*) AS c FROM tok
      |  WHERE length(token) > 0 GROUP BY 1, 2),
      |pc AS (SELECT g, CAST(SUM(c) AS BIGINT) AS n FROM tf
      |  GROUP BY 1)"""

  val registry: Seq[Q] = Seq(

    // ---------------------------------------------------------------------
    // Pipeline extensions: text analysis over `documents`.
    q(
      "q22_text_stats",
      """SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(length(text)) AS BIGINT) AS sum_chars,
        |  CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS sum_tokens,
        |  CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT) AS sum_bpe_tokens
        |FROM documents GROUP BY source ORDER BY source"""
    ) { (s, d) =>
      Tables.documents(s, d)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text"))).as("sum_chars"),
          sum(TextAnalysis.tokenCount(col("text"))).as("sum_tokens"),
          sum(TextAnalysis.bpeTokenCount(col("text"))).as("sum_bpe_tokens"))
        .orderBy("source")
    },

    // Language ID heuristic over documents (content is uniformly
    // English-vocabulary in the synthetic corpus, so the expected
    // prediction is 'en' everywhere — this entry pins the en/und split
    // only; the FULL five-profile argmax is oracled end-to-end by
    // q140/q141 over the labelled multilingual fixture, and pinned on
    // real multilingual text in PipelineSpec).
    q(
      "q29_langid",
      """SELECT source,
        |  CASE WHEN len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |    t -> t IN ('the','a','of','and','to','in','is','that','it','for',
        |               'on','with','as','at','this','be','are','was'))) > 0
        |    THEN 'en' ELSE 'und' END AS pred_lang,
        |  COUNT(*) AS n
        |FROM documents GROUP BY source, pred_lang ORDER BY source, pred_lang"""
    ) { (s, d) =>
      // spread (GUARDED repartition): the per-profile regex scans are the
      // cost here (measured 3x faster 32-way than single-task), but the
      // widening exchange must disappear at corpus scale where the scan
      // already has enough splits — Tables.spread does exactly that
      Tables.spread(s, Tables.documents(s, d))
        .select(col("source"), TextAnalysis.languageId(col("text")).as("pred_lang"))
        .groupBy(col("source"), col("pred_lang"))
        .agg(count(lit(1)).as("n"))
        .orderBy("source", "pred_lang")
    },

    // Quality metrics aggregated per source (integer sums — exact).
    q(
      "q30_quality",
      """SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(length(text)) AS BIGINT) AS sum_chars,
        |  CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS sum_tokens,
        |  CAST(SUM(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))) AS BIGINT) AS sum_alpha
        |FROM documents GROUP BY source ORDER BY source"""
    ) { (s, d) =>
      Tables.documents(s, d)
        .select(col("source"), TextAnalysis.qualityMetrics(col("text")).as("m"),
          length(regexp_replace(col("text"), "[^A-Za-z]", "")).as("alpha"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("m.n_chars")).as("sum_chars"),
          sum(col("m.n_tokens")).as("sum_tokens"),
          sum(col("alpha")).as("sum_alpha"))
        .orderBy("source")
    },

    // Corpus vocabulary: top-20 tokens by frequency with deterministic
    // tie-break — map-side partial counts, TakeOrderedAndProject top-k
    // (never a full sort of the vocabulary).
    q(
      "q56_vocabulary",
      """SELECT token, n FROM (
        |  SELECT token, COUNT(*) AS n,
        |    ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, token ASC) AS rnk
        |  FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |        FROM documents)
        |  GROUP BY token)
        |WHERE rnk <= 20 ORDER BY n DESC, token"""
    ) { (s, d) =>
      graft.pipeline.TextAnalysis.topTokens(
        Tables.spread(s, Tables.documents(s, d)), "text", 20)
        .orderBy(col("n").desc, col("token"))
    },

    // PII scrub audit: emails redacted to [EMAIL] with an RE2-compatible
    // pattern (a pure codegen'd regexp_replace in the scan stage). The
    // synthetic corpus carries no emails, so each doc gets one appended
    // deterministically — both engines replay construction, count, and
    // redacted length.
    q(
      "q59_redaction",
      """SELECT source,
        |  CAST(SUM(len(regexp_extract_all(
        |    text || ' contact: user' || doc_id || '@example.com',
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))) AS BIGINT)
        |    AS n_emails,
        |  CAST(SUM(length(regexp_replace(
        |    text || ' contact: user' || doc_id || '@example.com',
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |    '[EMAIL]', 'g'))) AS BIGINT) AS sum_redacted_chars
        |FROM documents GROUP BY source ORDER BY source"""
    ) { (s, d) =>
      import graft.pipeline.TextAnalysis
      val withEmail = concat(col("text"), lit(" contact: user"),
        col("doc_id").cast("string"), lit("@example.com"))
      Tables.documents(s, d)
        .select(col("source"),
          TextAnalysis.emailCount(withEmail).as("n_emails"),
          length(TextAnalysis.redactEmails(withEmail)).as("n_chars"))
        .groupBy(col("source"))
        .agg(sum(col("n_emails")).cast("long").as("n_emails"),
          sum(col("n_chars")).cast("long").as("sum_redacted_chars"))
        .orderBy("source")
    },

    // Gopher-style repetition signal: most frequent bigram per document
    // + the fraction of bigram occurrences it covers. Exact replay: same
    // tokenization as q30, tie-break to the smallest gram on both sides,
    // identical double division + ROUND(6).
    q(
      "q71_repetition",
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, toks[i] || ' ' || toks[i+1] AS gram
        |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
        |        FROM t)),
        |c AS (SELECT doc_id, gram, COUNT(*) AS n FROM g
        |      GROUP BY doc_id, gram),
        |r AS (
        |  SELECT doc_id, gram, n,
        |    SUM(n) OVER (PARTITION BY doc_id) AS n_grams,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id
        |      ORDER BY n DESC, gram ASC) AS rnk
        |  FROM c)
        |SELECT doc_id AS id, gram AS top_gram, CAST(n AS BIGINT) AS top_n,
        |  CAST(n_grams AS BIGINT) AS n_grams,
        |  ROUND(n::DOUBLE / n_grams::DOUBLE, 6) AS top_frac
        |FROM r WHERE rnk = 1 ORDER BY id"""
    ) { (s, d) =>
      TextAnalysis.repetitionMetrics(
        Tables.spread(s, Tables.documents(s, d)), "doc_id", "text", n = 2)
        .orderBy("id")
    },

    // Corpus unigram LM score (importance/quality filtering): avg
    // negative log-likelihood per document under the corpus unigram
    // distribution. The oracle replays the same two keyed passes; ln of
    // identical doubles may differ by 1 ulp between libms, and the
    // per-doc mean is summation-order dependent — ROUND(6) absorbs both.
    q(
      "q78_unigram_nll",
      """WITH t AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |  FROM documents),
        |c AS (SELECT token, COUNT(*) AS tf FROM t GROUP BY token),
        |tot AS (SELECT CAST(SUM(tf) AS DOUBLE) AS total FROM c)
        |SELECT doc_id AS id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |  ROUND(AVG(-ln(CAST(tf AS DOUBLE) / total)), 6) AS avg_nll
        |FROM t JOIN c USING (token), tot
        |GROUP BY doc_id ORDER BY id"""
    ) { (s, d) =>
      TextAnalysis.unigramLogLoss(
        Tables.spread(s, Tables.documents(s, d)), "doc_id", "text")
        .orderBy("id")
    },

    // Gopher quality rules (Rae et al. 2021 §A1.1): the standard
    // pretraining document filter as ONE codegen'd scan stage. Every
    // rule is integer arithmetic over exact counts (ratio thresholds
    // spelled as count×10 ⋚ denom×k), so DuckDB replays the flags
    // bit-for-bit — no float rounding anywhere.
    q(
      "q84_gopher_rules",
      """WITH t AS (
        |  SELECT source, text,
        |    string_split_regex(trim(text), '\s+') AS toks,
        |    string_split(text, chr(10)) AS lines
        |  FROM documents),
        |m AS (
        |  SELECT source,
        |    len(toks) AS n_words,
        |    list_sum(list_transform(toks, t -> length(t))) AS sum_len,
        |    length(text) - length(replace(text, '#', '')) AS hashes,
        |    (length(text) - length(replace(text, '...', ''))) / 3
        |      AS ellipses,
        |    len(lines) AS n_lines,
        |    len(list_filter(lines, l -> starts_with(ltrim(l), '-')
        |      OR starts_with(ltrim(l), '*')
        |      OR starts_with(ltrim(l), '•'))) AS bullet_lines,
        |    len(list_filter(lines, l -> ends_with(rtrim(l), '...')))
        |      AS ellipsis_lines,
        |    len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]')))
        |      AS alpha_words,
        |    len(list_filter(toks, t -> lower(t) IN
        |      ('the','be','to','of','and','that','have','with')))
        |      AS stop_hits
        |  FROM t),
        |f AS (
        |  SELECT source,
        |    (n_words >= 50 AND n_words <= 100000) AS word_count_ok,
        |    (sum_len >= n_words * 3 AND sum_len <= n_words * 10)
        |      AS mean_len_ok,
        |    ((hashes + ellipses) * 10 <= n_words) AS symbol_ok,
        |    (bullet_lines * 10 <= n_lines * 9) AS bullet_ok,
        |    (ellipsis_lines * 10 <= n_lines * 3) AS ellipsis_ok,
        |    (alpha_words * 10 >= n_words * 8) AS alpha_ok,
        |    (stop_hits >= 2) AS stopword_ok
        |  FROM m)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN word_count_ok THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_word_count,
        |  CAST(SUM(CASE WHEN mean_len_ok THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_mean_len,
        |  CAST(SUM(CASE WHEN symbol_ok THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_symbol,
        |  CAST(SUM(CASE WHEN bullet_ok THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_bullet,
        |  CAST(SUM(CASE WHEN ellipsis_ok THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_ellipsis,
        |  CAST(SUM(CASE WHEN alpha_ok THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_alpha,
        |  CAST(SUM(CASE WHEN stopword_ok THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_stopword,
        |  CAST(SUM(CASE WHEN word_count_ok AND mean_len_ok AND symbol_ok
        |    AND bullet_ok AND ellipsis_ok AND alpha_ok AND stopword_ok
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_keep
        |FROM f GROUP BY source ORDER BY source"""
    ) { (s, d) =>
      val g = TextAnalysis.gopherQualityFlags(col("text")).as("g")
      def n(flag: String, as: String) =
        sum(when(col(s"g.$flag"), 1L).otherwise(0L)).as(as)
      Tables.spread(s, Tables.documents(s, d))
        .select(col("source"), g)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          n("word_count_ok", "n_word_count"),
          n("mean_len_ok", "n_mean_len"),
          n("symbol_ok", "n_symbol"),
          n("bullet_ok", "n_bullet"),
          n("ellipsis_ok", "n_ellipsis"),
          n("alpha_ok", "n_alpha"),
          n("stopword_ok", "n_stopword"),
          n("keep", "n_keep"))
        .orderBy("source")
    },

    // Full PII scrub (emails, IPv4, E.164 phones) over text augmented
    // with deterministic synthetic PII derived from doc_id, so every
    // pattern fires on every document and the scrub order (email → ip →
    // phone, counts taken on the same intermediate texts) is pinned.
    // Both engines run the identical RE2-compatible patterns.
    q(
      "q85_pii_scrub",
      """WITH a AS (
        |  SELECT source,
        |    text || ' Contact: user' || CAST(doc_id AS VARCHAR)
        |      || '@example.com ip 10.0.' || CAST(doc_id % 256 AS VARCHAR)
        |      || '.' || CAST(doc_id % 100 AS VARCHAR)
        |      || ' tel +1555' || lpad(CAST(doc_id % 10000 AS VARCHAR), 7, '0')
        |      AS t
        |  FROM documents),
        |b AS (SELECT source, t,
        |  regexp_replace(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |    '[EMAIL]', 'g') AS t1 FROM a),
        |c AS (SELECT source, t, t1,
        |  regexp_replace(t1, '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b',
        |    '[IP]', 'g') AS t2 FROM b)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(len(regexp_extract_all(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')))
        |    AS BIGINT) AS emails,
        |  CAST(SUM(len(regexp_extract_all(t1,
        |    '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b'))) AS BIGINT) AS ips,
        |  CAST(SUM(len(regexp_extract_all(t2, '\+[0-9]{7,15}\b')))
        |    AS BIGINT) AS phones,
        |  CAST(SUM(length(regexp_replace(t2, '\+[0-9]{7,15}\b',
        |    '[PHONE]', 'g'))) AS BIGINT) AS scrub_chars
        |FROM c GROUP BY source ORDER BY source"""
    ) { (s, d) =>
      val aug = concat(col("text"),
        lit(" Contact: user"), col("doc_id").cast("string"),
        lit("@example.com ip 10.0."), (col("doc_id") % 256).cast("string"),
        lit("."), (col("doc_id") % 100).cast("string"),
        lit(" tel +1555"),
        lpad((col("doc_id") % 10000).cast("string"), 7, "0"))
      Tables.spread(s, Tables.documents(s, d))
        .select(col("source"), aug.as("t"))
        .select(col("source"), TextAnalysis.piiCounts(col("t")).as("p"),
          length(TextAnalysis.redactPii(col("t"))).as("scrubbed_len"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("p.emails")).as("emails"),
          sum(col("p.ips")).as("ips"),
          sum(col("p.phones")).as("phones"),
          sum(col("scrubbed_len")).as("scrub_chars"))
        .orderBy("source")
    },

    // Within-document repeated-substring removal (Lee et al. 2022
    // repetition trim): a deterministic repeated tail is appended to
    // every document, and every non-first occurrence of a 5-token gram
    // marks its span for removal. The full reassembled text is the
    // hash surface (the q89 standard); the oracle replays the exact
    // relational rule — positional gram hashes, first-occurrence
    // filter, span coverage, ordered reassembly — with the same 60-bit
    // md5 gram keys.
    q(
      "q97_repeat_scrub",
      s"""WITH t AS (
         |  SELECT doc_id AS id,
         |    string_split_regex(trim(text
         |      || ' promo' || CAST(doc_id % 7 AS VARCHAR)
         |      || ' click here now again promo' || CAST(doc_id % 7 AS VARCHAR)
         |      || ' click here now again'), '\\s+') AS toks
         |  FROM documents),
         |$scrubGramCte,
         |f AS (SELECT id, gram, MIN(gpos) AS fp FROM g GROUP BY 1, 2),
         |cov AS (
         |  SELECT DISTINCT id, gpos + j AS pos FROM (
         |    SELECT g.id, g.gpos FROM g JOIN f USING (id, gram)
         |    WHERE g.gpos > f.fp),
         |    UNNEST(range(0, 5)) AS v(j)),
         |$scrubReassemblySql"""
    ) { (s, d) =>
      val aug = Tables.spread(s, Tables.documents(s, d))
        .select(col("doc_id"), concat(col("text"),
          lit(" promo"), (col("doc_id") % 7).cast("string"),
          lit(" click here now again promo"),
          (col("doc_id") % 7).cast("string"),
          lit(" click here now again")).as("t"))
      TextAnalysis.removeRepeatedSpans(aug, "doc_id", "t", 5)
        .orderBy("id")
    },

    // Interpolated bigram LM scoring: λ·c(prev,t)/c(prev) + (1−λ)·c(t)/N,
    // first token unigram-scored. The oracle replays both count tables,
    // the per-document LAG pairing and the interpolation with the SAME
    // arithmetic shape — (1.0 − 0.9) is computed, not written as 0.1,
    // so the complement literal is the identical IEEE double.
    q(
      "q100_bigram_nll",
      """WITH t AS (
        |  SELECT doc_id AS id,
        |    string_split_regex(trim(lower(text)), '\s+') AS toks
        |  FROM documents),
        |tok AS (
        |  SELECT id, s['pos'] AS pos, s['tok'] AS tok
        |  FROM (SELECT id,
        |    UNNEST(list_transform(toks, (x, i) -> {'pos': i, 'tok': x}))
        |      AS s FROM t)),
        |w AS (
        |  SELECT id, pos, tok,
        |    LAG(tok) OVER (PARTITION BY id ORDER BY pos) AS prev
        |  FROM tok),
        |uni AS (SELECT tok, COUNT(*) AS cu FROM tok GROUP BY tok),
        |tot AS (SELECT CAST(SUM(cu) AS DOUBLE) AS n FROM uni),
        |big AS (
        |  SELECT prev, tok, COUNT(*) AS cb FROM w
        |  WHERE prev IS NOT NULL GROUP BY 1, 2),
        |sc AS (
        |  SELECT w.id,
        |    -ln(CASE WHEN w.prev IS NULL
        |      THEN CAST(uni.cu AS DOUBLE) / tot.n
        |      ELSE 0.9::DOUBLE * (CAST(big.cb AS DOUBLE) / up.cu)
        |        + (1.0::DOUBLE - 0.9::DOUBLE)
        |          * (CAST(uni.cu AS DOUBLE) / tot.n) END) AS nll
        |  FROM w
        |  JOIN uni ON w.tok = uni.tok
        |  LEFT JOIN uni up ON w.prev = up.tok
        |  LEFT JOIN big ON w.prev = big.prev AND w.tok = big.tok
        |  CROSS JOIN tot)
        |SELECT id, COUNT(*) AS n_tokens, ROUND(AVG(nll), 6) AS avg_nll
        |FROM sc GROUP BY id ORDER BY id"""
    ) { (s, d) =>
      TextAnalysis.bigramLogLoss(
        Tables.spread(s, Tables.documents(s, d)), "doc_id", "text")
        .orderBy("id")
    },

    // Cross-document repeated-substring removal (the corpus-level Lee
    // et al. ExactSubstr analog): a shared promo sentence is appended
    // to EVERY document, so exactly one document (the global first
    // occurrence) keeps it and all others are scrubbed — plus whatever
    // naturally repeats across the corpus. The oracle replays the
    // global first-occurrence rule with a lexicographic struct MIN over
    // (id, gpos), the same 60-bit md5 gram keys, span coverage and
    // ordered reassembly.
    q(
      "q104_corpus_repeat_scrub",
      s"""WITH t AS (
         |  SELECT doc_id AS id,
         |    string_split_regex(trim(text
         |      || ' visit our site today for more great deals'), '\\s+')
         |      AS toks
         |  FROM documents),
         |$scrubGramCte,
         |f AS (
         |  SELECT gram, MIN({'id': id, 'gpos': gpos}) AS fo
         |  FROM g GROUP BY gram),
         |cov AS (
         |  SELECT DISTINCT id, gpos + j AS pos FROM (
         |    SELECT g.id, g.gpos FROM g JOIN f USING (gram)
         |    WHERE NOT (g.id = f.fo['id'] AND g.gpos = f.fo['gpos'])),
         |    UNNEST(range(0, 5)) AS v(j)),
         |$scrubReassemblySql"""
    ) { (s, d) =>
      val aug = Tables.spread(s, Tables.documents(s, d))
        .select(col("doc_id"), concat(col("text"),
          lit(" visit our site today for more great deals")).as("t"))
      TextAnalysis.removeRepeatedSpansCorpus(aug, "doc_id", "t", 5)
        .orderBy("id")
    },

    // TF-IDF top-3 characteristic terms per document: tf·ln(N/df) with
    // raw corpus counts, rank ties broken on the token (equal (tf, df)
    // pairs produce the bit-identical score, so the tie-break is the
    // only order decision an external engine must replay).
    q(
      "q108_tfidf_keywords",
      """WITH t AS (
        |  SELECT doc_id AS id,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |  FROM documents),
        |tf AS (SELECT id, token, COUNT(*) AS tf FROM t GROUP BY 1, 2),
        |df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT CAST(COUNT(DISTINCT id) AS DOUBLE) AS n FROM tf),
        |s AS (
        |  SELECT tf.id, tf.token, tf.tf * ln(n.n / df.df) AS score
        |  FROM tf JOIN df USING (token) CROSS JOIN n)
        |SELECT id, rank, token, ROUND(score, 6) AS score FROM (
        |  SELECT id, token, score,
        |    ROW_NUMBER() OVER (PARTITION BY id
        |      ORDER BY score DESC, token) AS rank
        |  FROM s)
        |WHERE rank <= 3 ORDER BY id, rank"""
    ) { (s, d) =>
      // served from the TextArtifacts warehouse layout (term-frequency
      // table built once per corpus): the query is the co-bucketed
      // tf⋈df SMJ + the rank window, nothing corpus-wide
      TextAnalysis.tfidfTopKShared(
        Tables.spread(s, Tables.documents(s, d)), "doc_id", "text",
        corpusKey = d, k = 3)
        .orderBy("id", "rank")
    },

    // Zipf fit over the corpus vocabulary: least-squares slope of
    // ln(freq) against ln(rank) — the one-number sanity check that a
    // text corpus is natural language (slope near -1) rather than
    // boilerplate soup. Rank ties break on the token; the regression
    // rides the codegen'd regr_* aggregates.
    q(
      "q119_zipf_fit",
      """WITH t AS (
        |  SELECT unnest(string_split_regex(trim(lower(text)), '\s+'))
        |    AS token
        |  FROM documents),
        |c AS (SELECT token, COUNT(*) AS freq FROM t GROUP BY token),
        |r AS (
        |  SELECT freq,
        |    ROW_NUMBER() OVER (ORDER BY freq DESC, token) AS rank
        |  FROM c)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_vocab,
        |  ROUND(regr_slope(ln(CAST(freq AS DOUBLE)),
        |    ln(CAST(rank AS DOUBLE))), 6) AS slope,
        |  ROUND(regr_intercept(ln(CAST(freq AS DOUBLE)),
        |    ln(CAST(rank AS DOUBLE))), 6) AS intercept
        |FROM r"""
    ) { (s, d) =>
      // vocabulary counts served from the TextArtifacts warehouse —
      // Σ tf per token rides the token bucketing with zero Exchange;
      // only the O(vocab) rank window and the regr_* aggregate remain
      val c = graft.pipeline.TextArtifacts
        .termFreq(Tables.spread(s, Tables.documents(s, d)),
          "doc_id", "text", corpusKey = d)
        .groupBy(col("token")).agg(sum(col("tf")).as("freq"))
      val r = c.select(col("freq"), row_number().over(
        Window.orderBy(col("freq").desc, col("token"))).as("rank"))
      r.agg(count(lit(1)).as("n_vocab"),
        round(regr_slope(log(col("freq").cast("double")),
          log(col("rank").cast("double"))), 6).as("slope"),
        round(regr_intercept(log(col("freq").cast("double")),
          log(col("rank").cast("double"))), 6).as("intercept"))
    },

    // Vocabulary coverage across the deterministic split: token-level
    // OOV rate of the val/test slices against the train vocabulary —
    // the tokenizer-coverage check run before committing a vocab. The
    // train vocab collapses to DISTINCT tokens (the q58 contamination
    // shape); the anti-join is token-keyed.
    q(
      "q122_vocab_coverage",
      s"""WITH s AS (
         |  SELECT doc_id, text,
         |    CASE
         |      WHEN ('0x' || substr(md5('split:' || doc_id), 1, 15))::BIGINT
         |        < ${(0.8 * (1L << 60).toDouble).toLong} THEN 'train'
         |      WHEN ('0x' || substr(md5('split:' || doc_id), 1, 15))::BIGINT
         |        < ${(0.9 * (1L << 60).toDouble).toLong} THEN 'val'
         |      ELSE 'test' END AS split
         |  FROM documents),
         |t AS (
         |  SELECT split,
         |    unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
         |  FROM s),
         |vocab AS (SELECT DISTINCT token FROM t WHERE split = 'train'),
         |ev AS (SELECT split, token FROM t WHERE split <> 'train')
         |SELECT ev.split, COUNT(*) AS n_tokens,
         |  CAST(SUM(CASE WHEN vocab.token IS NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_oov,
         |  ROUND(SUM(CASE WHEN vocab.token IS NULL THEN 1 ELSE 0 END)
         |    / CAST(COUNT(*) AS DOUBLE), 6) AS oov_rate
         |FROM ev LEFT JOIN vocab USING (token)
         |GROUP BY ev.split ORDER BY ev.split"""
    ) { (s, d) =>
      // served from the TextArtifacts warehouse: the split hash applies
      // directly to the tf table's doc id, the per-token rollup rides
      // the token bucketing, and the only movement left is one scalar
      // aggregate (see vocabOovShared's scaladoc)
      TextAnalysis.vocabOovShared(
          Tables.spread(s, Tables.documents(s, d)), "doc_id", "text",
          corpusKey = d,
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
          trainSplit = "train")
        .orderBy("split")
    },

    // BM25 retrieval scoring (Robertson/Lucene idf), top-10 docs for a
    // fixed 3-term query. Per-term contributions pivot into one
    // conditional aggregate per LITERAL term and add in explicit order
    // (each cell holds at most the single (doc, term) tf row — no
    // float-sum reduction-order freedom anywhere); doc lengths and
    // their total stay integer sums. ln agrees across engines to well
    // under the ROUND(6) output surface; ranking compares raw scores,
    // where identical docs tie bit-exactly and distinct docs differ
    // macroscopically.
    q(
      "q135_bm25",
      """WITH t AS (
        |  SELECT doc_id AS id,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |  FROM documents),
        |tf AS (SELECT id, token, COUNT(*) AS tf FROM t GROUP BY 1, 2),
        |lens AS (SELECT id, SUM(tf) AS len FROM tf GROUP BY 1),
        |stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(len) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg
        |  FROM lens),
        |dfs AS (SELECT token, CAST(COUNT(*) AS DOUBLE) AS df FROM tf
        |  WHERE token IN ('spark', 'hash', 'window') GROUP BY 1),
        |c AS (
        |  SELECT tf.id, tf.token,
        |    ln(1.0::DOUBLE + (s.n - dfs.df + 0.5::DOUBLE) /
        |        (dfs.df + 0.5::DOUBLE)) *
        |      (tf.tf * 2.2::DOUBLE / (tf.tf + 1.2::DOUBLE *
        |        (0.25::DOUBLE + 0.75::DOUBLE * lens.len / s.avg))) AS c
        |  FROM tf JOIN dfs USING (token) JOIN lens USING (id)
        |  CROSS JOIN stats s),
        |p AS (
        |  SELECT id,
        |    SUM(CASE WHEN token = 'spark' THEN c END) AS s0,
        |    SUM(CASE WHEN token = 'hash' THEN c END) AS s1,
        |    SUM(CASE WHEN token = 'window' THEN c END) AS s2
        |  FROM c GROUP BY 1)
        |SELECT id, ROUND(score, 6) AS score FROM (
        |  SELECT id, (COALESCE(s0, 0.0::DOUBLE) +
        |    COALESCE(s1, 0.0::DOUBLE)) + COALESCE(s2, 0.0::DOUBLE)
        |    AS score
        |  FROM p ORDER BY score DESC, id LIMIT 10)
        |ORDER BY id"""
    ) { (s, d) =>
      // TextArtifacts-served: the tf probe is a bucket-pruned literal
      // term filter; df and doc lengths come from the materialized
      // corpus tables
      TextAnalysis.bm25TopKShared(
          Tables.spread(s, Tables.documents(s, d)), "doc_id", "text",
          corpusKey = d,
          queryTerms = Seq("spark", "hash", "window"), k = 10)
        .orderBy("id")
    },

    // Edit-distance-verified near-dup pairs: Jaccard candidates (the
    // q24 inverted-index machinery at a looser tau) CONFIRMED by
    // Levenshtein <= 6 — separates true template edits from mere
    // vocabulary overlap; the jaccard-0.3 cut sits >= 0.16 from the
    // nearest candidate at all SFs (probed). DuckDB's levenshtein
    // counts BYTES where Spark counts code points, so the oracled
    // surface restricts to ASCII documents (where the two agree
    // exactly); Spark's threshold form early-exits the DP at max+1
    // for far-apart candidates.
    q(
      "q136_edit_verified_pairs",
      """WITH docs AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE regexp_matches(text, '^[ -~]*$')),
        |t AS (SELECT doc_id,
        |    string_split_regex(trim(text), '\s+') AS toks FROM docs),
        |g AS (SELECT DISTINCT doc_id,
        |        unnest(list_transform(generate_series(1, len(toks)-2),
        |          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
        |          AS sh
        |      FROM t),
        |sizes AS (SELECT doc_id, count(*) n FROM g GROUP BY 1),
        |p AS (SELECT a.doc_id da, b.doc_id db, count(*) c FROM g a
        |      JOIN g b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2),
        |j AS (
        |  SELECT da AS id_a, db AS id_b,
        |    c::DOUBLE/(sa.n + sb.n - c) AS jaccard
        |  FROM p JOIN sizes sa ON p.da = sa.doc_id
        |    JOIN sizes sb ON p.db = sb.doc_id
        |  WHERE c::DOUBLE/(sa.n + sb.n - c) >= 0.3)
        |SELECT j.id_a, j.id_b, j.jaccard,
        |  levenshtein(a.text, b.text) AS edit_distance
        |FROM j JOIN docs a ON a.doc_id = j.id_a
        |  JOIN docs b ON b.doc_id = j.id_b
        |WHERE levenshtein(a.text, b.text) <= 6
        |ORDER BY id_a, id_b"""
    ) { (s, d) =>
      val ascii = Tables.spread(s, Tables.documents(s, d))
        .filter(col("text").rlike("\\A[ -~]*\\z"))
      graft.pipeline.Dedup.editVerifiedPairs(
          ascii, "doc_id", "text", n = 3, tau = 0.3, maxEdit = 6)
        .orderBy("id_a", "id_b")
    },

    // Multilingual language-ID: per-document prediction over the
    // labelled fixture (see langidFixture — the synthetic corpus is
    // uniformly English-vocabulary, so the label's stopword phrase is
    // appended deterministically to give every profile a real
    // candidate). The oracle replays the FULL five-profile argmax —
    // per-profile whole-token hit counts, hit/token ratios, priority
    // tie-break — not an en-only shortcut, so every profile branch in
    // TextAnalysis.languageId is exercised end-to-end. Predictions are
    // NOT uniformly correct (long English-dominant texts out-score a
    // 10-word suffix — exactly the honest behavior of a ratio
    // heuristic), which is what makes q141's confusion matrix
    // non-trivial.
    q(
      "q140_langid_multi",
      s"""WITH $langidOracleCtes
         |SELECT doc_id, predicted, actual FROM pr ORDER BY doc_id"""
    ) { (s, d) =>
      langidFixture(Tables.spread(s, Tables.documents(s, d)))
        .select(col("doc_id"),
          TextAnalysis.languageId(col("ftext")).as("predicted"),
          col("lang").as("actual"))
        .orderBy("doc_id")
    },

    // Language-ID confusion matrix vs the corpus ground-truth labels:
    // the (predicted, actual) contingency aggregate (q137's external-
    // validation shape) over the same multilingual fixture. One scan +
    // one aggregate; at most (profiles+1)x(labels) rows.
    q(
      "q141_langid_confusion",
      s"""WITH $langidOracleCtes
         |SELECT predicted, actual, COUNT(*) AS n FROM pr
         |GROUP BY 1, 2 ORDER BY predicted, actual"""
    ) { (s, d) =>
      TextAnalysis.langidConfusion(
          langidFixture(Tables.spread(s, Tables.documents(s, d))),
          "ftext", "lang")
        .orderBy("predicted", "actual")
    },

    // Corpus-overlap matrix via KMV sketches: estimated 3-gram Jaccard
    // between every SOURCE pair from k=128-minimum-value signatures —
    // the sketch that decides which source pairs deserve a full
    // cross-dedup pass. The sketch is a deterministic function of the
    // shingle SET (insertion/merge order free) on the portable md5-60
    // hash, so the oracle rebuilds the identical signatures with a
    // window rank and replays the union/intersection math on lists;
    // n_common is an integer and the estimate one IEEE division.
    q(
      "q146_corpus_overlap",
      """WITH t AS (SELECT source AS g,
        |    string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |sh AS (SELECT DISTINCT g,
        |    unnest(list_transform(generate_series(1, len(toks)-2),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
        |      AS s FROM t),
        |hv AS (SELECT DISTINCT g,
        |    ('0x' || substr(md5(s), 1, 15))::BIGINT AS h FROM sh),
        |r AS (SELECT g, h,
        |    ROW_NUMBER() OVER (PARTITION BY g ORDER BY h) AS rn FROM hv),
        |sig AS (SELECT g, list(h ORDER BY h) AS sa
        |    FROM r WHERE rn <= 128 GROUP BY g),
        |p AS (SELECT a.g AS ga, b.g AS gb, a.sa AS sa, b.sa AS sb
        |    FROM sig a JOIN sig b ON a.g < b.g),
        |c AS (SELECT ga, gb, sa, sb,
        |    list_sort(list_distinct(list_concat(sa, sb))) AS u FROM p),
        |c2 AS (SELECT ga, gb,
        |    len(list_intersect(list_intersect(u[1:LEAST(128, len(u))], sa),
        |      sb))::BIGINT AS n_common,
        |    LEAST(128, len(u)) AS kk FROM c)
        |SELECT ga AS group_a, gb AS group_b, n_common,
        |  n_common::DOUBLE / kk::DOUBLE AS jaccard_est
        |FROM c2 ORDER BY group_a, group_b"""
    ) { (s, d) =>
      graft.pipeline.Dedup.corpusOverlapKmv(
          Tables.spread(s, Tables.documents(s, d)),
          "source", "text", n = 3, k = 128)
        .orderBy("group_a", "group_b")
    },

    // Declarative data-quality gate (Deequ/expectations pattern) over
    // documents: null/range/regex/row-count checks fold into ONE
    // conditional-sum aggregate, uniqueness adds a keyed count.
    // Metrics are single IEEE divisions of exact integer counts, the
    // regex is \A..\z-anchored (end-of-TEXT on both engines — the
    // rlike '$'-before-trailing-newline trap), and passed = metric ≤
    // threshold on identical doubles.
    q(
      "q156_quality_gate",
      """WITH t AS (SELECT
        |  COUNT(*)::DOUBLE AS rows_,
        |  SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END)::DOUBLE AS m0,
        |  SUM(CASE WHEN n_chars IS NULL OR n_chars < 100
        |    OR n_chars > 2000 THEN 1 ELSE 0 END)::DOUBLE AS m1,
        |  SUM(CASE WHEN source IS NULL
        |    OR NOT regexp_matches(source, '\Asrc[0-9]+\z')
        |    THEN 1 ELSE 0 END)::DOUBLE AS m2
        | FROM documents),
        |u AS (SELECT SUM(n)::DOUBLE AS rows_,
        |    SUM(CASE WHEN n > 1 THEN n ELSE 0 END)::DOUBLE AS d
        |  FROM (SELECT doc_id, COUNT(*) AS n FROM documents
        |        GROUP BY 1))
        |SELECT * FROM (
        |  SELECT 'not_null(text)' AS check_name, m0/rows_ AS metric,
        |    CAST(0.0 AS DOUBLE) AS threshold,
        |    m0/rows_ <= CAST(0.0 AS DOUBLE) AS passed FROM t
        |  UNION ALL SELECT 'in_range(n_chars)', m1/rows_,
        |    CAST(0.5 AS DOUBLE), m1/rows_ <= CAST(0.5 AS DOUBLE) FROM t
        |  UNION ALL SELECT 'matches(source)', m2/rows_,
        |    CAST(0.0 AS DOUBLE), m2/rows_ <= CAST(0.0 AS DOUBLE) FROM t
        |  UNION ALL SELECT 'min_rows', rows_, CAST(100.0 AS DOUBLE),
        |    rows_ >= CAST(100.0 AS DOUBLE) FROM t
        |  UNION ALL SELECT 'unique(doc_id)', d/rows_,
        |    CAST(0.0 AS DOUBLE), d = CAST(0.0 AS DOUBLE) FROM u)
        |ORDER BY check_name"""
    ) { (s, d) =>
      import graft.pipeline.Profiler.Check._
      graft.pipeline.Profiler.checkConstraints(
          Tables.documents(s, d),
          Seq(NotNull("text", 0.0),
            InRange("n_chars", 100, 2000, 0.5),
            Matches("source", "\\Asrc[0-9]+\\z", 0.0),
            MinRows(100L),
            Unique("doc_id")))
        .orderBy("check_name")
    },

    // Prefix-blocked typo-pair mining over the corpus vocabulary:
    // same-2-char-prefix token pairs at edit distance exactly ≤1,
    // ASCII-restricted so Spark's code-point levenshtein and DuckDB's
    // byte levenshtein agree (q136 lesson). The verify stage is the
    // banded 3-arg levenshtein.
    q(
      "q172_typo_pairs",
      """WITH tk AS (SELECT UNNEST(string_split_regex(
        |    trim(lower(text)), '\s+')) AS t FROM documents),
        |v AS (SELECT t, COUNT(*) AS cnt FROM tk
        |  WHERE regexp_matches(t, '^[ -~]*$') AND len(t) >= 4
        |  GROUP BY 1 HAVING COUNT(*) >= 2)
        |SELECT token_a, token_b, cnt_a, cnt_b, dist FROM (
        |  SELECT a.t AS token_a, b.t AS token_b, a.cnt AS cnt_a,
        |    b.cnt AS cnt_b,
        |    CAST(levenshtein(a.t, b.t) AS INTEGER) AS dist
        |  FROM v a JOIN v b
        |    ON substr(a.t, 1, 2) = substr(b.t, 1, 2) AND a.t < b.t
        |    AND abs(len(a.t) - len(b.t)) <= 1)
        |WHERE dist <= 1 ORDER BY token_a, token_b"""
    ) { (s, d) =>
      graft.pipeline.Dedup.typoPairs(
          Tables.spread(s, Tables.documents(s, d)), "text",
          minCount = 2L, minLen = 4, maxDist = 1, prefixLen = 2)
        .orderBy("token_a", "token_b")
    },

    // BPE subword segmentation of the corpus vocabulary: the codegen'd
    // bpe_split Expression (greedy lowest-rank LEFTMOST merge, one
    // merge per step — chosen over the batch sweep exactly so the
    // recursion replays 1:1 as a recursive CTE) against an oracle that
    // unrolls the same recurrence over the same vendored merge table
    // (BpeMerges.sqlList — one source of truth). Kernel runs once per
    // VOCAB entry, never per token occurrence.
    q("q173_bpe_vocab", bpeOracleSql) { (s, d) =>
      TextAnalysis.bpeSegmentVocab(
          Tables.spread(s, Tables.documents(s, d)), "text", minCount = 2L)
        .orderBy("word")
    },

    // Strided context-window chunking: documents into 64-token windows
    // every 48 tokens — the sequence-prep step between cleaning and
    // packing. Pure scan-stage sequence+explode (plan-pinned shuffle-
    // free); tail chunks run short; empty docs yield the one
    // empty-token chunk both engines' whitespace split produces.
    q(
      "q174_context_chunks",
      """WITH d AS (SELECT doc_id,
        |    string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |n AS (SELECT doc_id, toks, len(toks) AS n FROM d
        |  WHERE len(toks) >= 1),
        |s AS (SELECT doc_id, toks, n,
        |    UNNEST(range(0, n, 48)) AS chunk_start FROM n)
        |SELECT doc_id, chunk_start,
        |  CAST(least(64, n - chunk_start) AS BIGINT) AS n_tokens,
        |  array_to_string(toks[chunk_start+1 : chunk_start+64], ' ')
        |    AS chunk_text
        |FROM s ORDER BY doc_id, chunk_start"""
    ) { (s, d) =>
      TextAnalysis.contextChunks(
          Tables.spread(s, Tables.documents(s, d)), "text", "doc_id",
          window = 64, stride = 48)
        .orderBy("doc_id", "chunk_start")
    },

    // Character-diversity quality scoring on the one-pass char_stats
    // kernel (codegen'd Expression — no per-character explosion;
    // the oracle replays the naive exploded form). Simpson diversity
    // 1 − Σc²/n² spelled as (n² − Σc²)/n²: exact integer numerator and
    // denominator, ONE IEEE division — bit-identical cross-engine with
    // no ln and no ordered float sum.
    q(
      "q175_char_diversity",
      """WITH ch AS (SELECT doc_id, UNNEST(list_transform(
        |    range(1, len(text) + 1), i -> text[i])) AS c FROM documents
        |  WHERE len(text) >= 1),
        |cc AS (SELECT doc_id, c, COUNT(*) AS k FROM ch GROUP BY 1, 2),
        |st AS (SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n,
        |    CAST(SUM(k * k) AS BIGINT) AS ss,
        |    CAST(COUNT(*) AS INTEGER) AS nd FROM cc GROUP BY 1)
        |SELECT doc_id, n AS n_chars, nd AS distinct_chars,
        |  CAST(n * n - ss AS DOUBLE) / CAST(n * n AS DOUBLE)
        |    AS char_diversity
        |FROM st ORDER BY doc_id"""
    ) { (s, d) =>
      Tables.spread(s, Tables.documents(s, d))
        .filter(length(col("text")) >= 1)
        .select(col("doc_id"), TextAnalysis.charStats(col("text")).as("cs"))
        .select(col("doc_id"),
          col("cs.n_chars").as("n_chars"),
          col("cs.distinct_chars").as("distinct_chars"),
          ((col("cs.n_chars") * col("cs.n_chars") - col("cs.sum_sq"))
              .cast("double") /
            (col("cs.n_chars") * col("cs.n_chars")).cast("double"))
            .as("char_diversity"))
        .orderBy("doc_id")
    },

    // PMI collocation mining: bigram vs unigram corpus counts, one ln
    // per OUTPUT row on an exactly-computed double argument (integer
    // products, one division) under ROUND(6) — the q108 ln discipline;
    // ordering is on the ROUNDED score so both engines cut the same
    // top-50. Two count shuffles + two keyed token joins + TakeOrdered.
    q(
      "q176_pmi_collocations",
      """WITH tk AS (SELECT string_split_regex(trim(lower(text)), '\s+')
        |    AS t FROM documents),
        |uc AS (SELECT w, COUNT(*) AS c FROM (
        |    SELECT UNNEST(t) AS w FROM tk) GROUP BY 1),
        |bgi AS (SELECT t, UNNEST(range(1, len(t))) AS i FROM tk),
        |bc AS (SELECT a, b, COUNT(*) AS c_ab FROM (
        |    SELECT t[i] AS a, t[i+1] AS b FROM bgi)
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 5),
        |nb AS (SELECT CAST(SUM(greatest(len(t) - 1, 0)) AS BIGINT)
        |    AS n_bi FROM tk)
        |SELECT a AS token_a, b AS token_b, c_ab, ca.c AS c_a,
        |  cb.c AS c_b,
        |  round(ln((CAST(c_ab AS DOUBLE) * CAST(n_bi AS DOUBLE)) /
        |    (CAST(ca.c AS DOUBLE) * CAST(cb.c AS DOUBLE))), 6) AS pmi
        |FROM bc JOIN uc ca ON bc.a = ca.w JOIN uc cb ON bc.b = cb.w
        |CROSS JOIN nb
        |ORDER BY pmi DESC, token_a, token_b LIMIT 50"""
    ) { (s, d) =>
      TextAnalysis.pmiCollocations(
        Tables.spread(s, Tables.documents(s, d)), "text",
        minCount = 5L, k = 50)
    },

    // Tokenizer fertility by word-length bucket over the q173 BPE
    // segmentation — integer sums, one exact division; the merge-table
    // diagnostic a tokenizer team reads before training.
    q("q177_bpe_fertility", bpeFertilitySql) { (s, d) =>
      TextAnalysis.bpeFertility(
          Tables.spread(s, Tables.documents(s, d)), "text", minCount = 2L)
        .orderBy("len_bucket")
    },

    q(
      "q181_phrase_search",
      """WITH tk AS (SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '\s+') AS t
        |  FROM documents),
        |pos AS (SELECT doc_id, t, UNNEST(range(1, len(t) + 1)) AS i
        |  FROM tk),
        |pt AS (SELECT doc_id, i - 1 AS pos, t[i] AS tok FROM pos),
        |ph AS (SELECT * FROM (VALUES ('big', 0), ('order', 1),
        |    ('scan', 2)) AS v(tok, idx)),
        |m AS (SELECT doc_id, pos - idx AS base, idx
        |  FROM pt JOIN ph USING (tok) WHERE pos - idx >= 0),
        |h AS (SELECT doc_id, base, COUNT(DISTINCT idx) AS nid
        |  FROM m GROUP BY 1, 2)
        |SELECT doc_id, COUNT(*) AS n_matches,
        |  CAST(MIN(base) AS BIGINT) AS first_pos
        |FROM h WHERE nid = 3 GROUP BY 1 ORDER BY doc_id"""
    ) { (s, d) =>
      TextAnalysis.phraseSearch(
          Tables.spread(s, Tables.documents(s, d)), "text", "doc_id",
          Seq("big", "order", "scan"))
        .orderBy("doc_id")
    },

    // Vocabulary coverage curve without any per-token ordering: group
    // the vocab by count value (O(√tokens) rows), prefix over THAT,
    // resolve each threshold inside its crossing group arithmetically.
    // Pure integer math end to end.
    q(
      "q202_vocab_coverage",
      """WITH tk AS (SELECT UNNEST(string_split_regex(
        |    trim(lower(text)), '\s+')) AS token FROM documents),
        |tc AS (SELECT token, COUNT(*) AS c FROM tk GROUP BY 1),
        |g AS (SELECT c, COUNT(*) AS k FROM tc GROUP BY 1),
        |r AS (SELECT c, k,
        |    CAST(SUM(c * k) OVER (ORDER BY c DESC) AS BIGINT) AS cum_mass,
        |    CAST(SUM(k) OVER (ORDER BY c DESC) AS BIGINT) AS cum_vocab
        |  FROM g),
        |tot AS (SELECT CAST(SUM(c * k) AS BIGINT) AS total FROM g),
        |th AS (SELECT UNNEST([50, 90, 95, 99]) AS pct),
        |j AS (SELECT r.*, th.pct, tot.total,
        |    (tot.total * th.pct + 99) // 100 AS target
        |  FROM r CROSS JOIN tot CROSS JOIN th)
        |SELECT pct, total AS total_tokens,
        |  CAST(cum_vocab - k
        |    + (target - (cum_mass - c * k) + c - 1) // c AS BIGINT)
        |    AS vocab_size,
        |  CAST(cum_mass - c * k
        |    + ((target - (cum_mass - c * k) + c - 1) // c) * c AS BIGINT)
        |    AS covered_tokens
        |FROM j WHERE cum_mass >= target AND cum_mass - c * k < target
        |ORDER BY pct"""
    ) { (s, d) =>
      // vocabulary counts from the TextArtifacts warehouse (zero
      // Exchange up to the O(√tokens) count-of-counts rollup)
      TextAnalysis.vocabCoverageShared(
          Tables.spread(s, Tables.documents(s, d)), "doc_id", "text",
          corpusKey = d)
        .orderBy("pct")
    },

    // Corpus-hapax density per document: one vocab-count aggregate,
    // one token-keyed join back, one doc aggregate. Integer counts.
    q(
      "q212_hapax_density",
      """WITH tk AS (SELECT doc_id, UNNEST(string_split_regex(
        |    trim(lower(text)), '\s+')) AS token FROM documents),
        |tc AS (SELECT token, COUNT(*) AS cc FROM tk GROUP BY 1),
        |j AS (SELECT tk.doc_id, tc.cc FROM tk JOIN tc USING (token))
        |SELECT doc_id, COUNT(*) AS n_tokens,
        |  CAST(SUM(CASE WHEN cc = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_hapax,
        |  ROUND(CAST(SUM(CASE WHEN cc = 1 THEN 1 ELSE 0 END)
        |    AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS hapax_ratio
        |FROM j GROUP BY 1 ORDER BY doc_id"""
    ) { (s, d) =>
      // served from the TextArtifacts warehouse: corpus counts and the
      // count join-back both ride the token bucketing (zero Exchange);
      // the doc aggregate is the only shuffle left
      TextAnalysis.hapaxDensityShared(
          Tables.spread(s, Tables.documents(s, d)), "text", "doc_id",
          corpusKey = d)
        .orderBy("doc_id")
    },

    // Flesch reading ease: three codegen'd counts in one scan stage;
    // RE2∩Java-safe run patterns count identically on both engines.
    q(
      "q215_readability",
      """SELECT doc_id, n_words, n_sentences, n_syllables,
        |  ROUND(206.835::DOUBLE
        |    - 1.015::DOUBLE * (CAST(n_words AS DOUBLE)
        |        / CAST(n_sentences AS DOUBLE))
        |    - 84.6::DOUBLE * (CAST(n_syllables AS DOUBLE)
        |        / CAST(n_words AS DOUBLE)), 6) AS flesch
        |FROM (SELECT doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
        |      AS n_words,
        |    CAST(GREATEST(1, len(regexp_extract_all(text, '[.!?]+')))
        |      AS BIGINT) AS n_sentences,
        |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
        |      AS BIGINT) AS n_syllables
        |  FROM documents)
        |ORDER BY doc_id"""
    ) { (s, d) =>
      TextAnalysis.readability(
          Tables.spread(s, Tables.documents(s, d)), "text", "doc_id")
        .orderBy("doc_id")
    },

    // Number-masked template clusters: digit runs collapse to '#',
    // masked-hash groups with >1 doc and >1 raw variant.
    q(
      "q242_templates",
      """WITH m AS (SELECT doc_id, text,
        |    md5(regexp_replace(text, '[0-9]+', '#', 'g')) AS h
        |  FROM documents),
        |g AS (SELECT h, MIN(doc_id) AS template_id, COUNT(*) AS n_docs,
        |    COUNT(DISTINCT text) AS n_variants
        |  FROM m GROUP BY 1)
        |SELECT template_id, n_docs, n_variants
        |FROM g WHERE n_docs > 1 AND n_variants > 1
        |ORDER BY template_id"""
    ) { (s, d) =>
      TextAnalysis.templateClusters(
          Tables.documents(s, d), "text", "doc_id")
        .orderBy("template_id")
    },

    // One-row corpus scorecard: the numbers a pipeline owner reads
    // first — doc/token volume, exact-dup rate, vocabulary size and
    // hapax share, mean length. All integer counts, two divisions.
    q(
      "q250_corpus_scorecard",
      """WITH ds AS (SELECT COUNT(*) AS n_docs,
        |    COUNT(DISTINCT text) AS n_distinct_texts,
        |    CAST(SUM(len(string_split_regex(trim(lower(text)),
        |      '\s+'))) AS BIGINT) AS total_tokens
        |  FROM documents),
        |tc AS (SELECT token, COUNT(*) AS c FROM (
        |    SELECT UNNEST(string_split_regex(trim(lower(text)),
        |      '\s+')) AS token FROM documents) GROUP BY 1),
        |vs AS (SELECT COUNT(*) AS vocab_size,
        |    CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS hapax_count
        |  FROM tc)
        |SELECT n_docs, total_tokens, n_distinct_texts,
        |  ROUND(1.0::DOUBLE - CAST(n_distinct_texts AS DOUBLE)
        |    / CAST(n_docs AS DOUBLE), 6) AS exact_dup_rate,
        |  vocab_size, hapax_count,
        |  ROUND(CAST(total_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE),
        |    6) AS avg_tokens
        |FROM ds CROSS JOIN vs"""
    ) { (s, d) =>
      val docs = Tables.spread(s, Tables.documents(s, d))
      val toks = docs.select(explode(
        TextAnalysis.whitespaceTokens(lower(col("text")))).as("token"))
      val ds = docs.agg(count(lit(1)).as("n_docs"),
        countDistinct(col("text")).as("n_distinct_texts"),
        sum(size(TextAnalysis.whitespaceTokens(lower(col("text"))))
          .cast("long")).as("total_tokens"))
      val vs = toks.groupBy(col("token"))
        .agg(count(lit(1)).as("c"))
        .agg(count(lit(1)).as("vocab_size"),
          sum((col("c") === 1L).cast("long")).as("hapax_count"))
      ds.crossJoin(vs).select(
        col("n_docs"), col("total_tokens"), col("n_distinct_texts"),
        round(lit(1.0) - col("n_distinct_texts").cast("double") /
          col("n_docs").cast("double"), 6).as("exact_dup_rate"),
        col("vocab_size"), col("hapax_count"),
        round(col("total_tokens").cast("double") /
          col("n_docs").cast("double"), 6).as("avg_tokens"))
    },

    // Per-doc sentence-length stats: explode on [.!?]+ runs, blank
    // segments drop, integer counts + one division.
    q(
      "q251_sentence_stats",
      """WITH sseg AS (SELECT doc_id,
        |    UNNEST(string_split_regex(text, '[.!?]+')) AS s
        |  FROM documents),
        |f AS (SELECT doc_id,
        |    CAST(len(string_split_regex(trim(s), '\s+')) AS BIGINT)
        |      AS w
        |  FROM sseg WHERE len(trim(s)) > 0)
        |SELECT doc_id, COUNT(*) AS n_sentences,
        |  ROUND(CAST(SUM(w) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
        |    AS avg_words,
        |  CAST(MAX(w) AS BIGINT) AS max_words
        |FROM f GROUP BY 1 ORDER BY doc_id"""
    ) { (s, d) =>
      TextAnalysis.sentenceStats(
          Tables.spread(s, Tables.documents(s, d)), "text", "doc_id")
        .orderBy("doc_id")
    },

    // Source language-consistency: majority-language share per source
    // from one contingency aggregate, min-struct argmax.
    q(
      "q252_source_lang",
      """WITH c AS (SELECT source, lang, COUNT(*) AS c FROM documents
        |  GROUP BY 1, 2),
        |b AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_docs,
        |    COUNT(*) AS n_langs FROM c GROUP BY 1),
        |m AS (SELECT source, lang AS majority_lang, c FROM (
        |    SELECT source, lang, c, ROW_NUMBER() OVER (
        |      PARTITION BY source ORDER BY c DESC, lang) AS rk
        |    FROM c) WHERE rk = 1)
        |SELECT b.source, b.n_docs, b.n_langs, m.majority_lang,
        |  ROUND(CAST(m.c AS DOUBLE) / CAST(b.n_docs AS DOUBLE), 6)
        |    AS majority_share
        |FROM b JOIN m USING (source) ORDER BY source"""
    ) { (s, d) =>
      TextAnalysis.sourceLangConsistency(
          Tables.documents(s, d), "source", "lang")
        .orderBy("source")
    },

    // Per-source quality correlation: corr(n_tokens, n_hapax) per
    // source — composition of hapaxDensity and correlationByGroup
    // (exact-decimal Pearson on integer counts).
    q(
      "q263_quality_corr",
      """WITH tk AS (SELECT doc_id, UNNEST(string_split_regex(
        |    trim(lower(text)), '\s+')) AS token FROM documents),
        |tc AS (SELECT token, COUNT(*) AS cc FROM tk GROUP BY 1),
        |hx AS (SELECT tk.doc_id, COUNT(*) AS n_tokens,
        |    CAST(SUM(CASE WHEN tc.cc = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_hapax
        |  FROM tk JOIN tc USING (token) GROUP BY 1),
        |j AS (SELECT d.source, hx.n_tokens, hx.n_hapax
        |  FROM hx JOIN documents d ON hx.doc_id = d.doc_id),
        |g AS (SELECT source, CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(CAST(n_tokens AS DECIMAL(18,4))) AS DOUBLE) AS sa,
        |    CAST(SUM(CAST(n_tokens AS DECIMAL(24,4))
        |      * CAST(n_tokens AS DECIMAL(18,4))) AS DOUBLE) AS saa,
        |    CAST(SUM(CAST(n_hapax AS DECIMAL(18,4))) AS DOUBLE) AS sb,
        |    CAST(SUM(CAST(n_hapax AS DECIMAL(24,4))
        |      * CAST(n_hapax AS DECIMAL(18,4))) AS DOUBLE) AS sbb,
        |    CAST(SUM(CAST(n_tokens AS DECIMAL(24,4))
        |      * CAST(n_hapax AS DECIMAL(18,4))) AS DOUBLE) AS sab
        |  FROM j GROUP BY 1)
        |SELECT source, CAST(n AS BIGINT) AS n,
        |  ROUND((n * sab - sa * sb) / sqrt((n * saa - sa * sa)
        |    * (n * sbb - sb * sb)), 6) AS corr
        |FROM g ORDER BY source"""
    ) { (s, d) =>
      val docs = Tables.spread(s, Tables.documents(s, d))
      val hx = TextAnalysis.hapaxDensity(docs, "text", "doc_id")
      val j = hx.join(Tables.documents(s, d)
          .select(col("doc_id"), col("source")), "doc_id")
        .select(col("source"), col("n_tokens"), col("n_hapax"))
      graft.pipeline.Profiler.correlationByGroup(
          j, "source", "n_tokens", "n_hapax", exactDecimal = true)
        .orderBy("source")
    },

    // Count-Min frequency sketch (Cormode & Muthukrishnan 2005): 3×1024
    // salted-md5 counter grid over the token stream; per-key estimate =
    // MIN over the 3 row counters — an overestimate by construction,
    // verified here against the true counts of the top-20 tokens. All
    // integer; the grid is 3×1024 rows regardless of corpus size.
    q(
      "q273_cms_tokens",
      """WITH t AS (SELECT
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
        |  FROM documents),
        |grid AS (SELECT lane.i AS r,
        |    ('0x'||substr(md5(lane.i||':'||tok),1,15))::BIGINT % 1024
        |      AS bucket, COUNT(*) AS cnt
        |  FROM t, (SELECT UNNEST([0,1,2]) AS i) lane GROUP BY 1, 2),
        |topk AS (SELECT tok, COUNT(*) AS true_count FROM t GROUP BY 1
        |  ORDER BY true_count DESC, tok LIMIT 20),
        |est AS (SELECT k.tok, k.true_count,
        |    MIN(g.cnt) AS cms_estimate
        |  FROM topk k, (SELECT UNNEST([0,1,2]) AS i) lane
        |  JOIN grid g ON g.r = lane.i AND g.bucket =
        |    ('0x'||substr(md5(lane.i||':'||k.tok),1,15))::BIGINT % 1024
        |  GROUP BY 1, 2)
        |SELECT tok, true_count, cms_estimate,
        |  cms_estimate >= true_count AS never_underestimates
        |FROM est ORDER BY true_count DESC, tok"""
    ) { (s, d) =>
      val toks = Tables.documents(s, d)
        .select(explode(TextAnalysis.whitespaceTokens(lower(col("text"))))
          .as("tok"))
      val cms = graft.pipeline.Sketches.cmsBuild(toks, "tok", 1024, 3)
      val topk = toks.groupBy(col("tok"))
        .agg(count(lit(1)).as("true_count"))
        .orderBy(col("true_count").desc, col("tok"))
        .limit(20)
      graft.pipeline.Sketches.cmsEstimate(topk, "tok", cms, 1024, 3)
        .join(topk, Seq("tok"))
        .select(col("tok"), col("true_count"), col("cms_estimate"),
          (col("cms_estimate") >= col("true_count"))
            .as("never_underestimates"))
        .orderBy(col("true_count").desc, col("tok"))
    },

    // RAG-prep token-window chunking: 64-token windows, stride 48
    // (16-token overlap) — the retrieval-index unit cut before
    // embedding. Chunk count ceil((n−64)/48)+1 via exact integer div
    // (tail always covered, never duplicated); a pure scan-stage
    // explode, no shuffle. Oracle replays the identical slice
    // arithmetic with DuckDB's 1-based inclusive list_slice.
    q(
      "q274_token_chunks",
      """WITH t AS (SELECT doc_id,
        |    string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents WHERE trim(text) != ''),
        |p AS (SELECT doc_id, toks, len(toks) AS n FROM t
        |  WHERE len(toks) > 0),
        |k AS (SELECT doc_id, toks, UNNEST(range(0,
        |    CASE WHEN n <= 64 THEN 1 ELSE (n - 64 + 47) // 48 + 1 END))
        |    AS ki FROM p)
        |SELECT doc_id, CAST(ki AS BIGINT) AS chunk_idx,
        |  CAST(ki * 48 AS BIGINT) AS start_tok,
        |  CAST(len(list_slice(toks, ki*48 + 1, ki*48 + 64)) AS BIGINT)
        |    AS n_tok,
        |  array_to_string(list_slice(toks, ki*48 + 1, ki*48 + 64), ' ')
        |    AS chunk_text
        |FROM k ORDER BY doc_id, chunk_idx"""
    ) { (s, d) =>
      TextAnalysis.tokenWindowChunks(
          Tables.documents(s, d), "doc_id", "text", 64, 48)
        .orderBy("doc_id", "chunk_idx")
    },

    // Boilerplate-prefix detection per source (the CCNet/RefinedWeb
    // template-cleanup step): shared normalized 10-char prefixes =
    // template artifacts; two stacked map-side-combined aggregates.
    q(
      "q287_boilerplate",
      """WITH p AS (SELECT source,
        |    substr(trim(lower(text)), 1, 10) AS pfx
        |  FROM documents),
        |g AS (SELECT source, pfx, COUNT(*) AS n FROM p GROUP BY 1, 2)
        |SELECT source, CAST(SUM(n) AS BIGINT) AS n_docs,
        |  COUNT(CASE WHEN n >= 2 THEN 1 END) AS n_groups,
        |  CAST(COALESCE(SUM(CASE WHEN n >= 2 THEN n END), 0) AS BIGINT)
        |    AS n_boiler_docs,
        |  CAST(COALESCE(SUM(CASE WHEN n >= 2 THEN n END), 0) AS DOUBLE)
        |    / CAST(SUM(n) AS DOUBLE) AS boiler_rate
        |FROM g GROUP BY 1 ORDER BY source"""
    ) { (s, d) =>
      graft.pipeline.TextAnalysis.boilerplatePrefixes(
        Tables.documents(s, d), "text", "source", prefixLen = 10)
    },

    // Rank-biased overlap (Webber et al. 2010, truncated at depth 20,
    // p=0.9) between each source's top-20 token ranking and the
    // corpus ranking — the rank-aware "did the vocabulary shift"
    // monitor (set overlap ignores order; RBO top-weights it). Per
    // shared token the contribution Σ_{d≥max(r_a,r_b)} (1−p)p^{d−1}/d
    // is a CONSTANT looked up by rank and µ-quantized to int64, so
    // the per-source sum is order-free exact integers + ONE division.
    q("q310_rbo_tokens", rboOracleSql) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val tok = Tables.spread(s, Tables.documents(s, d))
        .filter(length(trim(col("text"))) > 0)
        .select(col("source"),
          explode(split(trim(lower(col("text"))), "\\s+")).as("token"))
        .filter(length(col("token")) > 0)
      val perSource = tok.groupBy(col("source"), col("token"))
        .agg(count(lit(1)).as("__n"))
        .withColumn("rs", row_number().over(Window
          .partitionBy(col("source"))
          .orderBy(col("__n").desc, col("token").asc)))
        .filter(col("rs") <= 20)
        .select(col("source"), col("token"), col("rs"))
      // top-20 via orderBy+limit (TakeOrderedAndProject — distributed
      // partial top-k, the q56 discipline), THEN rank the 20-row
      // result; a global row_number window over the full vocabulary
      // would single-partition the corpus-sized sort
      val corpus = tok.groupBy(col("token"))
        .agg(count(lit(1)).as("__n"))
        .orderBy(col("__n").desc, col("token").asc)
        .limit(20)
        .withColumn("rc", row_number().over(Window.partitionBy()
          .orderBy(col("__n").desc, col("token").asc)))
        .select(col("token"), col("rc"))
      val tmu = RboTailMu.zipWithIndex.foldRight(lit(0L): Column) {
        case ((mu, i), acc) =>
          when(greatest(col("rs"), col("rc")) === i + 1, lit(mu))
            .otherwise(acc)
      }
      perSource.join(corpus, Seq("token"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_common"),
          sum(tmu).cast("long").as("rbo_mu"))
        .select(col("source"), col("n_common"), col("rbo_mu"),
          (col("rbo_mu").cast("double") / lit(1e12)).as("rbo"))
        .orderBy("source")
    },

    // RAKE keyphrase extraction: degree/frequency word scores over
    // stopword-delimited candidate phrases, per-word scores
    // DECIMAL(28,12)-quantized, top-20 on the rounded score with a
    // phrase tie-break.
    q("q354_rake_keyphrases", rakeSql) { (s, d) =>
      graft.pipeline.TextAnalysis.rakeKeyphrases(
        Tables.documents(s, d), "doc_id", "text")
    },

    // Class-based TF-IDF (BERTopic c-TF-IDF): which tokens
    // characterize each SOURCE; exact integer counts into one fixed
    // IEEE score shape, per-class top-10 on (rounded score, token).
    q(
      "q356_class_tfidf",
      s"""WITH $sourceTokenCtes,
         |corpus AS (SELECT token, CAST(SUM(c) AS BIGINT) AS f FROM tf
         |  GROUP BY 1),
         |av AS (SELECT CAST(SUM(n) AS BIGINT) AS tot, COUNT(*) AS k
         |  FROM pc),
         |sc AS (SELECT g, token, c,
         |    ROUND(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)
         |      * ln(1.0::DOUBLE + (CAST(tot AS DOUBLE)
         |        / CAST(k AS DOUBLE)) / CAST(f AS DOUBLE)), 6)
         |      AS score
         |  FROM tf JOIN pc USING (g) JOIN corpus USING (token)
         |  CROSS JOIN av),
         |rk AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY g
         |    ORDER BY score DESC, token) AS INTEGER) AS rank
         |  FROM sc)
         |SELECT g AS source, token, CAST(c AS BIGINT) AS tf, score,
         |  rank
         |FROM rk WHERE rank <= 10 ORDER BY source, rank"""
    ) { (s, d) =>
      graft.pipeline.TextAnalysis.classTfIdf(
          Tables.documents(s, d), "source", "text")
        .select(col("source"), col("token"), col("tf"), col("score"),
          col("rank"))
        .orderBy("source", "rank")
    },

    // Burrows' Delta stylometric distance between source pairs:
    // z-scored relative frequencies of the corpus top-50 tokens,
    // quantized at every cross-class sum; zero-variance tokens
    // dropped on both engines.
    q(
      "q357_burrows_delta",
      s"""WITH $sourceTokenCtes,
         |top AS (SELECT token FROM (SELECT token,
         |    CAST(SUM(c) AS BIGINT) AS f FROM tf GROUP BY 1)
         |  ORDER BY f DESC, token LIMIT 50),
         |grid AS (SELECT pc.g, top.token,
         |    CAST(CAST(COALESCE(tf.c, 0) AS DOUBLE)
         |      / CAST(pc.n AS DOUBLE) AS DECIMAL(28,12)) AS r
         |  FROM pc CROSS JOIN top
         |  LEFT JOIN tf ON tf.g = pc.g AND tf.token = top.token),
         |st AS (SELECT token, COUNT(*) AS s, SUM(r) AS sr,
         |    SUM(CAST(CAST(r AS DOUBLE) * CAST(r AS DOUBLE)
         |      AS DECIMAL(28,12))) AS srr
         |  FROM grid GROUP BY 1),
         |z AS (SELECT grid.g, grid.token,
         |    (CAST(r AS DOUBLE) - CAST(sr AS DOUBLE)
         |        / CAST(s AS DOUBLE))
         |      / sqrt(CAST(srr AS DOUBLE) / CAST(s AS DOUBLE)
         |        - (CAST(sr AS DOUBLE) / CAST(s AS DOUBLE))
         |          * (CAST(sr AS DOUBLE) / CAST(s AS DOUBLE))) AS z
         |  FROM grid JOIN st USING (token)
         |  WHERE CAST(srr AS DOUBLE) / CAST(s AS DOUBLE)
         |    - (CAST(sr AS DOUBLE) / CAST(s AS DOUBLE))
         |      * (CAST(sr AS DOUBLE) / CAST(s AS DOUBLE)) > 0),
         |pr AS (SELECT a.g AS g_a, b.g AS g_b,
         |    CAST(ABS(a.z - b.z) AS DECIMAL(28,12)) AS dd
         |  FROM z a JOIN z b ON a.token = b.token AND a.g < b.g)
         |SELECT g_a, g_b, COUNT(*) AS n_tokens,
         |  ROUND(CAST(SUM(dd) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE),
         |    6) AS delta
         |FROM pr GROUP BY 1, 2 ORDER BY g_a, g_b"""
    ) { (s, d) =>
      graft.pipeline.TextAnalysis.burrowsDelta(
          Tables.documents(s, d), "source", "text")
        .orderBy("g_a", "g_b")
    },

    // Character-level Shannon entropy (bits/char) per source — the
    // compressibility proxy; per-char −p·log2 p terms quantized
    // before the order-free sum.
    q(
      "q366_char_entropy",
      """WITH ch AS (SELECT source AS g, UNNEST(list_transform(
        |    range(1, len(text) + 1), i -> text[i])) AS c
        |  FROM documents WHERE len(text) >= 1),
        |cc AS (SELECT g, c, COUNT(*) AS k FROM ch GROUP BY 1, 2),
        |tt AS (SELECT g, CAST(SUM(k) AS BIGINT) AS n,
        |    COUNT(*) AS nd FROM cc GROUP BY 1),
        |h AS (SELECT cc.g, tt.n, tt.nd,
        |    CAST(-(CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
        |      * log2(CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
        |      AS DECIMAL(28,12)) AS t
        |  FROM cc JOIN tt ON tt.g = cc.g)
        |SELECT g AS source, CAST(MAX(n) AS BIGINT) AS n_chars,
        |  CAST(MAX(nd) AS BIGINT) AS distinct_chars,
        |  ROUND(CAST(SUM(t) AS DOUBLE), 6) AS entropy_bits
        |FROM h GROUP BY g ORDER BY source"""
    ) { (s, d) =>
      graft.pipeline.TextAnalysis.charEntropy(
          Tables.documents(s, d), "source", "text")
        .orderBy("source")
    }
  )
}
