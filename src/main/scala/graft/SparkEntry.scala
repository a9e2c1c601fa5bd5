package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Sentiment, TextFns}
import graft.operators.{Analytics, AsOf, Dedup, Multimodal, RangeJoin, Risk, Similarity, TextAnalysis}

/** Driver contract (SURVEY.md §7): one named query per implemented operator
  * from SURVEY.md §2, each with an equivalent DuckDB oracle SQL where the
  * semantics are ANSI-SQL-expressible.
  *
  * Conventions shared by every (query, oracle) pair — the driver hash-compares
  * values column-by-column, so both sides must agree bit-for-bit:
  *  - column names identical on both sides;
  *  - counts cast to BIGINT in DuckDB (its SUM on integers widens to HUGEINT);
  *  - fractional literals cast to DOUBLE in DuckDB (it parses `0.05` as
  *    DECIMAL, Spark as DOUBLE);
  *  - order-dependent double aggregates (avg/sum/stddev over doubles) are
  *    rounded on both sides; purely row-level double arithmetic is left
  *    exact (IEEE ops on identical operands are bit-identical);
  *  - any oracle ROUND whose argument can be a tiny NEGATIVE (signed
  *    gaps, residuals, correlations, cancelling cumulative sums) appends
  *    `+ CAST(0.0 AS DOUBLE)`: Spark's ROUND goes through BigDecimal and
  *    normalizes −0.0 to +0.0, DuckDB's float ROUND keeps the sign
  *    (−0.0 + 0.0 = +0.0 is a no-op for every other value; first seen
  *    live on ev_cpd's exactly-zero full-series CUSUM);
  *  - every query pins a deterministic total ORDER BY on both sides.
  */
object SparkEntry {
  type QFn = (SparkSession, String) => DataFrame

  /** Catalog row. `oracle` is LAZY (by-name through the companion
    * apply): two oracle strings embed the trained attention weights, so
    * eager evaluation would run the training fit — and read its fixed
    * corpus path — at catalog construction, breaking EVERY entry on a
    * machine without the corpus and taxing every session that never
    * touches the trained entries. `queries` never forces oracles;
    * `oracleSql` (the Verify dump) forces them once each. */
  private final class Q(val name: String, val fn: QFn,
                        oracleThunk: () => Option[String]) {
    lazy val oracle: Option[String] = oracleThunk()
  }
  private object Q {
    def apply(name: String, fn: QFn, oracle: => Option[String]): Q =
      new Q(name, fn, () => oracle)
  }

  private def scoredDocs(s: SparkSession, d: String): DataFrame =
    Sentiment.score(Tables.documents(s, d))

  private def trendsOf(s: SparkSession, d: String): DataFrame =
    Analytics.dailyTrends(Tables.events(s, d))

  /** DuckDB CTE for the A4 trends frame (kept in sync with
    * [[Analytics.dailyTrends]]). No leading WITH — composed into query SQL. */
  private val trendsCteSql: String =
    """trends AS (
      |  SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS date,
      |    CAST(SUM(CASE WHEN event_type IN ('signup','purchase') THEN 1 ELSE 0 END) AS BIGINT) AS positive,
      |    CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS negative,
      |    CAST(SUM(CASE WHEN event_type IN ('click','view') THEN 1 ELSE 0 END) AS BIGINT) AS neutral,
      |    CAST(COUNT(*) AS BIGINT) AS total
      |  FROM events GROUP BY 1)""".stripMargin

  /** DuckDB CTEs for the A11 trend-risk single row (mirrors [[Risk.trendRisk]]).
    * Requires `trends` CTE in scope; exposes `trisk`. */
  private val trendRiskCteSql: String =
    """tr AS (SELECT *, row_number() OVER (ORDER BY date DESC) AS rn FROM trends),
      |tragg AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_dates,
      |    CAST(SUM(CASE WHEN rn <= 14 THEN negative ELSE 0 END) AS BIGINT) AS recent_negative,
      |    CAST(SUM(CASE WHEN rn <= 14 THEN total ELSE 0 END) AS BIGINT) AS recent_total,
      |    CAST(SUM(CASE WHEN rn BETWEEN 15 AND 28 THEN negative ELSE 0 END) AS BIGINT) AS prev_negative,
      |    CAST(SUM(CASE WHEN rn BETWEEN 15 AND 28 THEN total ELSE 0 END) AS BIGINT) AS prev_total,
      |    CAST(SUM(CASE WHEN rn <= 3 THEN negative ELSE 0 END) AS BIGINT) AS last3_negative,
      |    CAST(SUM(CASE WHEN rn <= 3 THEN total ELSE 0 END) AS BIGINT) AS last3_total
      |  FROM tr),
      |tratio AS (
      |  SELECT *,
      |    CASE WHEN recent_total > 0 THEN CAST(recent_negative AS DOUBLE)/CAST(recent_total AS DOUBLE) END AS recent_neg_ratio,
      |    CASE WHEN prev_total > 0 THEN CAST(prev_negative AS DOUBLE)/CAST(prev_total AS DOUBLE) END AS prev_neg_ratio,
      |    CASE WHEN last3_total > 0 THEN CAST(last3_negative AS DOUBLE)/CAST(last3_total AS DOUBLE) END AS last3_neg_ratio
      |  FROM tragg),
      |trisk AS (
      |  SELECT *,
      |    CASE WHEN n_dates < 7 THEN CAST(1.0 AS DOUBLE)
      |         WHEN recent_total = 0 THEN CAST(1.0 AS DOUBLE)
      |         WHEN n_dates >= 28 AND prev_total > 0 AND recent_neg_ratio > prev_neg_ratio * CAST(1.5 AS DOUBLE) THEN CAST(1.4 AS DOUBLE)
      |         WHEN n_dates >= 28 AND prev_total > 0 AND recent_neg_ratio > prev_neg_ratio * CAST(1.2 AS DOUBLE) THEN CAST(1.2 AS DOUBLE)
      |         WHEN n_dates >= 28 AND prev_total > 0 AND recent_neg_ratio < prev_neg_ratio * CAST(0.7 AS DOUBLE) THEN CAST(0.9 AS DOUBLE)
      |         WHEN last3_total > 0 AND last3_neg_ratio > CAST(0.3 AS DOUBLE) THEN CAST(1.3 AS DOUBLE)
      |         ELSE CAST(1.0 AS DOUBLE) END AS trend_multiplier
      |  FROM tratio),
      |trisk2 AS (
      |  SELECT *,
      |    CASE WHEN trend_multiplier >= CAST(1.3 AS DOUBLE) THEN 'Significantly deteriorating'
      |         WHEN trend_multiplier >= CAST(1.1 AS DOUBLE) THEN 'Moderately deteriorating'
      |         WHEN trend_multiplier <= CAST(0.95 AS DOUBLE) THEN 'Improving'
      |         ELSE 'Stable' END AS trend_status
      |  FROM trisk)""".stripMargin

  /** DuckDB CTEs shared by the two F11 insurance oracles (mirrors
    * [[Risk.insuranceRisk]] / [[Risk.insuranceRiskNested]]); composes the
    * sentiment, trends and trend-risk CTEs and exposes `fin` holding the
    * single fully-multiplied risk row. */
  private val riskOracleCtes: String =
    Sentiment.oracleCte + ",\n" + trendsCteSql + ",\n" + trendRiskCteSql +
      """,
        |dist AS (
        |  SELECT CAST(count(*) AS BIGINT) AS total_samples,
        |    CAST(SUM(CASE WHEN sentiment = 'POSITIVE' THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |    CAST(SUM(CASE WHEN sentiment = 'NEGATIVE' THEN 1 ELSE 0 END) AS BIGINT) AS n_neg,
        |    CAST(SUM(CASE WHEN sentiment = 'NEUTRAL' THEN 1 ELSE 0 END) AS BIGINT) AS n_neu,
        |    ROUND(avg(confidence), 9) AS avg_confidence,
        |    ROUND(stddev_samp(confidence), 9) AS std_confidence,
        |    min(confidence) AS min_confidence
        |  FROM sent),
        |base AS (
        |  SELECT dist.*, trisk2.trend_multiplier, trisk2.trend_status,
        |    CAST(n_pos AS DOUBLE) / CAST(total_samples AS DOUBLE) AS pos_r,
        |    CAST(n_neg AS DOUBLE) / CAST(total_samples AS DOUBLE) AS neg_r,
        |    CAST(n_neu AS DOUBLE) / CAST(total_samples AS DOUBLE) AS neu_r
        |  FROM dist CROSS JOIN trisk2),
        |mults AS (
        |  SELECT *,
        |    CASE WHEN pos_r > CAST(0.85 AS DOUBLE)
        |      THEN (CAST(1.0 AS DOUBLE) + neg_r * CAST(2.5 AS DOUBLE) + neu_r * CAST(0.5 AS DOUBLE)) * CAST(0.85 AS DOUBLE)
        |         WHEN pos_r > CAST(0.75 AS DOUBLE)
        |      THEN (CAST(1.0 AS DOUBLE) + neg_r * CAST(2.5 AS DOUBLE) + neu_r * CAST(0.5 AS DOUBLE)) * CAST(0.95 AS DOUBLE)
        |         ELSE (CAST(1.0 AS DOUBLE) + neg_r * CAST(2.5 AS DOUBLE) + neu_r * CAST(0.5 AS DOUBLE)) END AS sent_mult,
        |    CASE WHEN std_confidence > CAST(0.2 AS DOUBLE)
        |      THEN (CAST(1.5 AS DOUBLE) - avg_confidence * CAST(0.5 AS DOUBLE)) * CAST(1.1 AS DOUBLE)
        |      ELSE (CAST(1.5 AS DOUBLE) - avg_confidence * CAST(0.5 AS DOUBLE)) END AS conf_mult,
        |    CASE WHEN total_samples < 50 THEN CAST(1.3 AS DOUBLE)
        |         WHEN total_samples < 100 THEN CAST(1.15 AS DOUBLE)
        |         ELSE CAST(1.0 AS DOUBLE) END AS sample_mult
        |  FROM base),
        |sc AS (
        |  SELECT *,
        |    neg_r * CAST(200.0 AS DOUBLE)
        |    + CASE WHEN pos_r < CAST(0.6 AS DOUBLE) THEN (CAST(0.6 AS DOUBLE) - pos_r) * CAST(50.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
        |    + CASE WHEN avg_confidence < CAST(0.9 AS DOUBLE) THEN (CAST(0.9 AS DOUBLE) - avg_confidence) * CAST(100.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
        |    + CASE WHEN total_samples < 100 THEN (CAST(100.0 AS DOUBLE) - CAST(total_samples AS DOUBLE)) / CAST(10.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
        |    + CASE WHEN trend_multiplier > CAST(1.0 AS DOUBLE) THEN (trend_multiplier - CAST(1.0 AS DOUBLE)) * CAST(25.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
        |    AS score
        |  FROM mults),
        |fin AS (SELECT *, LEAST(CAST(FLOOR(score) AS BIGINT), 100) AS risk_score FROM sc)""".stripMargin

  /** DuckDB CTE producing the word stream of A8 (mirrors
    * [[Analytics.wordCounts]]); exposes `words(lang, source, word)`. */
  /** Shared 32-token (exactly 2 × 16-token chunks) preamble injected by the
    * `dd_passage_dedup` gate entry on both the Spark and DuckDB sides, so
    * the synthetic corpus contains chunk-aligned repeated passages. No
    * quotes/escapes — interpolated verbatim into the oracle SQL literal. */
  private val passagePreamble: String =
    ("this document is provided under the creative commons attribution " +
      "license version four point zero international see https " +
      "creativecommons org licenses by four zero for the full legal text " +
      "of this license deed")

  private def wordsCte(stopWords: Seq[String]): String = {
    val stop = stopWords.map(w => s"'$w'").mkString("(", ",", ")")
    s"""words AS (
       |  SELECT doc_id, lang, source, unnest(list_filter(
       |    string_split(trim(regexp_replace(
       |      regexp_replace(regexp_replace(regexp_replace(lower(text),
       |        'http\\S+|www\\.\\S+', ' ', 'g'),
       |        '@\\w+|#\\w+', ' ', 'g'),
       |        '[^a-z\\s]', ' ', 'g'),
       |      '\\s+', ' ', 'g')), ' '),
       |    w -> w <> '' AND length(w) > 2 AND w NOT IN $stop)) AS word
       |  FROM documents)""".stripMargin
  }

  /** CTE `words(lang, source, word)` with the catalog's corpus-local
    * stoplist (mirrors [[Analytics.wordCounts]]). */
  private val wordsCteSql: String = wordsCte(Analytics.StopWords)

  // ---- DuckDB vector/shingle SQL fragments (fold order mirrors the
  // Spark zip_with/aggregate left folds for bit parity) ----

  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(list_zip($a, $b), p -> p[1] * p[2])), (x, y) -> x + y)"

  private def normSql(a: String): String =
    s"sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform($a, x -> x * x)), (x, y) -> x + y))"

  private def cosineSql(a: String, b: String): String =
    s"(${dotSql(a, b)} / (${normSql(a)} * ${normSql(b)}))"

  private val evecCteSql =
    "evec AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)"

  /** DuckDB rendering of [[operators.MLEval.rankingQuality]]: expects
    * CTEs `sys(qid, vec_id, rnk)` and `truth(qid, vec_id, trnk)` (both
    * already truncated to `k`) in scope; emits the per-query metric
    * SELECT. Mirrors the engine's semantics exactly: IDCG over a
    * per-query row_number (robust to non-contiguous truth ranks) and a
    * LEFT join to `ideal` so truth-less queries survive with NULL
    * recall/nDCG. Composed by `ir_rank_quality` / `ir_mrl_funnel`. */
  private def rankingMetricsSql(k: Int): String =
    s"""tr AS (SELECT qid, vec_id,
       |    CAST(row_number() OVER (PARTITION BY qid ORDER BY trnk, vec_id)
       |      AS DOUBLE) AS irnk
       |  FROM truth),
       |trk AS (SELECT qid, vec_id, irnk FROM tr WHERE irnk <= CAST($k AS DOUBLE)),
       |ideal AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_truth,
       |    SUM(CAST(1.0 AS DOUBLE) / log2(irnk + CAST(1.0 AS DOUBLE))) AS idcg
       |  FROM trk GROUP BY qid),
       |j AS (SELECT s.qid, s.rnk, (t.vec_id IS NOT NULL) AS rel
       |  FROM sys s LEFT JOIN trk t ON s.qid = t.qid AND s.vec_id = t.vec_id),
       |m AS (SELECT qid,
       |    CAST(count(*) AS BIGINT) AS n_ranked,
       |    CAST(COALESCE(SUM(CASE WHEN rel THEN 1 ELSE 0 END), 0) AS BIGINT) AS hits,
       |    COALESCE(SUM(CASE WHEN rel THEN CAST(1.0 AS DOUBLE) / log2(CAST(rnk AS DOUBLE) + CAST(1.0 AS DOUBLE)) END), CAST(0.0 AS DOUBLE)) AS dcg,
       |    COALESCE(MAX(CASE WHEN rel THEN CAST(1.0 AS DOUBLE) / CAST(rnk AS DOUBLE) END), CAST(0.0 AS DOUBLE)) AS mrr
       |  FROM j GROUP BY qid)
       |SELECT m.qid AS query_id, n_ranked,
       |  CAST(COALESCE(n_truth, 0) AS BIGINT) AS n_truth, hits,
       |  ROUND(CAST(hits AS DOUBLE) / CAST($k.0 AS DOUBLE), 6) AS precision_at_k,
       |  CASE WHEN n_truth > 0
       |    THEN ROUND(CAST(hits AS DOUBLE) / CAST(n_truth AS DOUBLE), 6) END AS recall_at_k,
       |  ROUND(mrr, 6) AS mrr,
       |  CASE WHEN idcg IS NOT NULL THEN ROUND(dcg / idcg, 6) END AS ndcg
       |FROM m LEFT JOIN ideal ON m.qid = ideal.qid ORDER BY query_id""".stripMargin

  /** Mirrors one half of [[Similarity.binarySignature]]: sign bits of
    * dims `range` packed at offsets `i - base`. */
  private def binaryHalfSql(vcol: String, range: Range, base: Int): String =
    range.map(i =>
      s"(CASE WHEN $vcol[${i + 1}] > CAST(0.0 AS DOUBLE) THEN CAST(${1L << (i - base)} AS BIGINT) ELSE CAST(0 AS BIGINT) END)")
      .mkString("(", " + ", ")")

  /** Mirrors [[Similarity.lshBucket]]. */
  private def lshBucketSql(vcol: String, planes: Int, dim: Int): String =
    (0 until planes).map { j =>
      val w = Similarity.planeWeights(j, dim)
        .map(x => s"CAST($x AS DOUBLE)").mkString("[", ", ", "]")
      s"(CASE WHEN ${dotSql(vcol, w)} > CAST(0.0 AS DOUBLE) THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    }.mkString("(", " + ", ")")

  /** Mirrors [[Similarity.bandBucket]]: bucket of band `b` over its `r`
    * hyperplanes. */
  private def bandBucketSql(vcol: String, b: Int, r: Int, dim: Int): String =
    (0 until r).map { j =>
      val w = Similarity.planeWeights(b * r + j, dim)
        .map(x => s"CAST($x AS DOUBLE)").mkString("[", ", ", "]")
      s"(CASE WHEN ${dotSql(vcol, w)} > CAST(0.0 AS DOUBLE) THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    }.mkString("(", " + ", ")")

  /** Mirrors [[Similarity.bandWidth]] — smallest r >= 3 with
    * `occupancy * 2^r >= n`, capped at 100/bands — as a pure-integer CASE
    * chain (no float log2, whose last-ulp behavior differs per engine). */
  private def autoBandWidthSql(nSql: String, occupancy: Int, bands: Int): String = {
    val rMax = 100 / bands
    val arms = (3 until rMax).map(r =>
      s"WHEN $nSql <= ${occupancy.toLong << r} THEN $r").mkString(" ")
    s"(CASE $arms ELSE $rMax END)"
  }

  /** [[bandBucketSql]] with the band width taken from the `params` CTE's
    * `r` (mirrors [[Similarity.lshNearDupPairsAuto]]'s data-sized width).
    * Arms cover r = 3..10 — bucket space 63*2^10 ≈ 64k vectors, far above
    * any verify/bench dataset this oracle will see. */
  private def autoBandBucketSql(vcol: String, b: Int, dim: Int): String = {
    val arms = (3 to 10).map(r =>
      s"WHEN $r THEN ${bandBucketSql(vcol, b, r, dim)}").mkString("\n    ")
    s"(CASE (SELECT r FROM params) $arms ELSE NULL END)"
  }

  /** CTE chain ending in `dw(doc_id, n_feats, log_weight)` — the DSIR
    * hashed unigram+bigram importance weights of
    * [[operators.TextAnalysis.dsirImportance]] (target = lang 'en',
    * 4096 buckets) replayed in DuckDB (requires `toks`). Shared by
    * `mix_dsir_weights` and `mix_dsir_resample`. */
  private val dsirCtesSql: String =
    """dfeat AS (SELECT doc_id, lang = 'en' AS tgt,
      |    unnest(tokens || CASE WHEN len(tokens) >= 2
      |      THEN list_transform(range(1, len(tokens)), i -> array_to_string(list_slice(tokens, i, i + 1), ' '))
      |      ELSE CAST([] AS VARCHAR[]) END) AS f
      |  FROM toks),
      |db AS (SELECT doc_id, tgt,
      |    CAST('0x' || substr(md5(f), 1, 15) AS BIGINT) % 4096 AS b FROM dfeat),
      |dh AS (SELECT b, CAST(count(*) AS BIGINT) AS cr,
      |    CAST(SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS ct
      |  FROM db GROUP BY b),
      |dt AS (SELECT CAST(SUM(cr) AS BIGINT) AS nr, CAST(SUM(ct) AS BIGINT) AS nt FROM dh),
      |dl AS (SELECT b,
      |    ln(((CAST(ct AS DOUBLE) + CAST(1.0 AS DOUBLE)) / (CAST(nt AS DOUBLE) + CAST(4096.0 AS DOUBLE)))
      |     / ((CAST(cr AS DOUBLE) + CAST(1.0 AS DOUBLE)) / (CAST(nr AS DOUBLE) + CAST(4096.0 AS DOUBLE)))) AS lr
      |  FROM dh, dt),
      |dc AS (SELECT doc_id, b, CAST(count(*) AS BIGINT) AS c FROM db GROUP BY doc_id, b),
      |dw AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_feats,
      |    ROUND(SUM(CAST(c AS DOUBLE) * lr), 6) AS log_weight
      |  FROM dc JOIN dl USING (b) GROUP BY doc_id)""".stripMargin

  /** Mirrors [[Dedup.shingles]] over the `tokens` column of the `toks` CTE. */
  private def shinglesSql(n: Int): String =
    s"list_distinct(CASE WHEN len(tokens) >= $n THEN " +
      s"list_transform(range(1, len(tokens) - $n + 2), i -> array_to_string(list_slice(tokens, i, i + ${n - 1}), ' ')) " +
      s"ELSE CAST([] AS VARCHAR[]) END)"

  /** CTE `dsh(doc_id, sh)`: exploded distinct shingles of documents
    * (requires the `toks` CTE from [[Sentiment.oracleCte]]). */
  private def dshCteSql(n: Int): String =
    s"dsh AS (SELECT doc_id, unnest(${shinglesSql(n)}) AS sh FROM toks)"

  /** CTE chain ending in `wn_f(doc_id, fp)` — the winnowing fingerprints
    * of [[operators.TextAnalysis.winnowFingerprints]] replayed in DuckDB
    * list-land (requires `toks`). Shared by `ta_winnow_fingerprint` and
    * `dd_winnow_pairs`. */
  private def winnowCtesSql(n: Int, window: Int): String =
    s"""wn_g AS (SELECT doc_id,
       |    CASE WHEN len(tokens) >= $n THEN
       |      list_transform(range(1, len(tokens) - $n + 2), i -> array_to_string(list_slice(tokens, i, i + ${n - 1}), ' '))
       |    ELSE CAST([] AS VARCHAR[]) END AS gs
       |  FROM toks),
       |wn_h AS (SELECT doc_id,
       |    list_transform(gs, g -> CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT)) AS hs
       |  FROM wn_g WHERE len(gs) >= $window),
       |wn_f AS (SELECT doc_id,
       |    unnest(list_distinct(list_transform(range(1, len(hs) - ${window - 2}),
       |      i -> list_min(list_slice(hs, i, i + ${window - 1}))))) AS fp
       |  FROM wn_h)""".stripMargin

  /** CTE chain ending in `rp_m(doc_id, n_tokens, total_ngrams,
    * dup_ngram_frac, top_ngram_frac, dup_token_frac)` — the repetition
    * metrics of [[operators.TextAnalysis.repetitionProfile]] replayed in
    * DuckDB (requires `toks`). Shared by `ta_repetition` and the
    * Gopher-gate oracle. */
  private def repetitionCtesSql(n: Int): String =
    s"""rp_g AS (SELECT doc_id, CAST(len(tokens) AS BIGINT) AS n_tokens,
       |    CAST(len(list_distinct(tokens)) AS BIGINT) AS n_tok_d,
       |    unnest(CASE WHEN len(tokens) >= $n
       |      THEN list_transform(range(1, len(tokens) - $n + 2), i -> array_to_string(list_slice(tokens, i, i + ${n - 1}), ' '))
       |      ELSE [CAST(NULL AS VARCHAR)] END) AS g
       |  FROM toks),
       |rp_c AS (SELECT doc_id, n_tokens, n_tok_d, g, CAST(count(g) AS BIGINT) AS c
       |  FROM rp_g GROUP BY 1, 2, 3, 4),
       |rp_p AS (SELECT doc_id, n_tokens, n_tok_d,
       |    CAST(COALESCE(SUM(c), 0) AS BIGINT) AS total_ngrams,
       |    CAST(COALESCE(MAX(c), 0) AS BIGINT) AS top,
       |    CAST(COALESCE(SUM(CASE WHEN g IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS dist
       |  FROM rp_c GROUP BY doc_id, n_tokens, n_tok_d),
       |rp_m AS (SELECT doc_id, n_tokens, total_ngrams,
       |  CASE WHEN total_ngrams > 0 THEN CAST(1.0 AS DOUBLE) - CAST(dist AS DOUBLE) / CAST(total_ngrams AS DOUBLE)
       |       ELSE CAST(0.0 AS DOUBLE) END AS dup_ngram_frac,
       |  CASE WHEN total_ngrams > 0 THEN CAST(top AS DOUBLE) / CAST(total_ngrams AS DOUBLE)
       |       ELSE CAST(0.0 AS DOUBLE) END AS top_ngram_frac,
       |  CASE WHEN n_tokens > 0 THEN CAST(1.0 AS DOUBLE) - CAST(n_tok_d AS DOUBLE) / CAST(n_tokens AS DOUBLE)
       |       ELSE CAST(0.0 AS DOUBLE) END AS dup_token_frac
       |  FROM rp_p)""".stripMargin

  /** DuckDB CTE chain replaying the FULL minhash pipeline (mirrors
    * [[Dedup.minhashNearDupPairs]] with [[Dedup.portableBaseHashes]] +
    * portable band keys) over an arbitrary `(id, tokens)` source given as
    * the `mh_toks` CTE body: 4-gram shingles, the k md5-derived minima,
    * banded tuple keys, the candidate self-join, and the exact-Jaccard
    * verify join on (id, shingle). Exposes
    * `mh_j(id_a, id_b, inter, sz_a, sz_b)`. */
  private def minhashChainCtes(k: Int, bands: Int, mhToksSql: String,
                               pfx: String = "mh_"): String = {
    val r = k / bands
    // Carter-Wegman permutations over ONE md5 per shingle (mirrors
    // Dedup.PortableFamily): h_i = (h1 + i*h2) mod (2^61-1)
    val P = operators.Dedup.PortableMod
    val mins = (0 until k).map(i =>
      s"min((mh1 + $i * mh2) % $P) AS h$i")
      .mkString(",\n    ")
    val bandSelects = (0 until bands).map { b =>
      val key = (b * r until (b + 1) * r)
        .map(i => s"CAST(h$i AS VARCHAR)").mkString(" || ',' || ")
      s"SELECT id, $b AS band, $key AS key FROM ${pfx}sig"
    }.mkString("\n  UNION ALL ")
    s""", ${pfx}toks AS MATERIALIZED (
       |  $mhToksSql),
       |${pfx}sh AS MATERIALIZED (SELECT id, unnest(${shinglesSql(4)}) AS sh FROM ${pfx}toks),
       |${pfx}h AS (SELECT id, sh,
       |    CAST(('0x' || substr(md5(sh), 1, 15)) AS BIGINT) AS mh1,
       |    CAST(('0x' || substr(md5(sh), 16, 12)) AS BIGINT) AS mh2
       |  FROM ${pfx}sh),
       |${pfx}sig AS MATERIALIZED (SELECT id, CAST(count(*) AS BIGINT) AS sz,
       |    $mins
       |  FROM ${pfx}h GROUP BY id),
       |${pfx}band AS (
       |  $bandSelects),
       |${pfx}cand AS (
       |  SELECT DISTINCT x.id AS id_a, y.id AS id_b
       |  FROM ${pfx}band x JOIN ${pfx}band y
       |    ON x.band = y.band AND x.key = y.key AND x.id < y.id),
       |${pfx}inter AS (
       |  SELECT c.id_a, c.id_b, CAST(count(*) AS BIGINT) AS inter
       |  FROM ${pfx}cand c
       |  JOIN ${pfx}sh a ON a.id = c.id_a
       |  JOIN ${pfx}sh b ON b.id = c.id_b AND b.sh = a.sh
       |  GROUP BY 1, 2),
       |${pfx}j AS (
       |  SELECT i.id_a, i.id_b, i.inter, sa.sz AS sz_a, sb.sz AS sz_b
       |  FROM ${pfx}inter i
       |  JOIN ${pfx}sig sa ON i.id_a = sa.id
       |  JOIN ${pfx}sig sb ON i.id_b = sb.id)""".stripMargin
  }

  /** [[minhashChainCtes]] over the `dd_minhash_neardup` entry's
    * doc∪variant token stream (every 10th doc re-keyed +1000000 with its
    * last 8 tokens dropped). Requires the `toks` CTE. */
  private def minhashOracleCtes(k: Int, bands: Int): String =
    minhashChainCtes(k, bands,
      """SELECT doc_id AS id, tokens FROM toks
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS id,
        |    list_slice(tokens, 1, greatest(len(tokens) - 8, 4)) AS tokens
        |  FROM toks WHERE doc_id % 10 = 0""".stripMargin)

  /** CTE `mh_pairs(id_a, id_b, jaccard)` — verified near-dup pairs above
    * `minJaccard` with the ROUND(6) the Spark side applies, from `mh_j`.
    * Rounding happens BEFORE any downstream aggregation on both engines
    * (see `dd_cluster_stats`), so the per-pair inputs are bit-identical. */
  private def mhPairsCte(minJaccard: Double, pfx: String = "mh_"): String =
    s""",
       |${pfx}pairs AS (
       |  SELECT id_a, id_b,
       |    ROUND(CAST(inter AS DOUBLE) / CAST(sz_a + sz_b - inter AS DOUBLE), 6) AS jaccard
       |  FROM ${pfx}j
       |  WHERE CAST(inter AS DOUBLE) / CAST(sz_a + sz_b - inter AS DOUBLE) > CAST($minJaccard AS DOUBLE))""".stripMargin

  /** Recursive reachability over the `${pfx}pairs` graph: exposes
    * `reach(id, r)` (prefixed) — every (node, reachable-node) pair.
    * Compose after [[minhashChainCtes]] + [[mhPairsCte]]; the query must
    * start `WITH RECURSIVE`. */
  private def mhReachCtes(pfx: String = "mh_"): String =
    s""",
       |${pfx}edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM ${pfx}pairs
       |  UNION
       |  SELECT id_b AS src, id_a AS dst FROM ${pfx}pairs),
       |${pfx}reach AS (
       |  SELECT src AS id, dst AS r FROM ${pfx}edges
       |  UNION
       |  SELECT ${pfx}reach.id, e.dst FROM ${pfx}reach JOIN ${pfx}edges e ON ${pfx}reach.r = e.src)""".stripMargin

  /** Oracle prefix for the components family: sentiment CTEs (recursive
    * form) + the minhash chain over RAW documents (no variants) + verified
    * pairs at J > 0.5 + recursive reachability. */
  private lazy val mhComponentsOracleCtes: String =
    Sentiment.oracleCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
      minhashChainCtes(32, 8, "SELECT doc_id AS id, tokens FROM toks") +
      mhPairsCte(0.5) + mhReachCtes()

  /** Oracle for `gr_pagerank`: the same fixed-iteration power method as
    * [[operators.Graph.pageRank]], unrolled into chained MATERIALIZED CTEs
    * (pr0..prN — MATERIALIZED because each prᵢ is referenced by both the
    * contribution and dangling arms of prᵢ₊₁; an inlining engine would
    * otherwise double the plan per iteration). Row-level arithmetic is
    * written in the exact operand order the Spark expression uses; the
    * only cross-engine divergence is the order of the contribution SUM,
    * absorbed by the final ROUND(6) (repo convention). */
  private def pageRankOracle(iterations: Int, damping: Double): String = {
    val iterCtes = (1 to iterations).map { i =>
      s""",
         |dg$i AS (SELECT COALESCE(SUM(p.rank), CAST(0 AS DOUBLE)) AS dang
         |  FROM pr${i - 1} p LEFT JOIN outd o ON o.src = p.id WHERE o.src IS NULL),
         |ct$i AS (SELECT e.dst AS id, SUM(p.rank / o.deg) AS contrib
         |  FROM edges e JOIN outd o ON o.src = e.src
         |  JOIN pr${i - 1} p ON p.id = e.src
         |  GROUP BY e.dst),
         |pr$i AS MATERIALIZED (SELECT n.id,
         |    (CAST(1 AS DOUBLE) - CAST($damping AS DOUBLE)) / nn.n +
         |      CAST($damping AS DOUBLE) *
         |      (COALESCE(c.contrib, CAST(0 AS DOUBLE)) + d.dang / nn.n) AS rank
         |  FROM nodes n CROSS JOIN nn CROSS JOIN dg$i d
         |  LEFT JOIN ct$i c ON c.id = n.id)""".stripMargin
    }.mkString
    s"""WITH eraw AS MATERIALIZED (
       |  SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS a,
       |    's' || CAST(l.l_suppkey AS VARCHAR) AS b
       |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
       |edges AS MATERIALIZED (
       |  SELECT a AS src, b AS dst FROM eraw UNION ALL SELECT b, a FROM eraw),
       |nodes AS MATERIALIZED (SELECT DISTINCT src AS id FROM edges),
       |nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
       |outd AS MATERIALIZED (
       |  SELECT src, CAST(count(*) AS DOUBLE) AS deg FROM edges GROUP BY src),
       |pr0 AS MATERIALIZED (
       |  SELECT id, CAST(1 AS DOUBLE) / nn.n AS rank FROM nodes CROSS JOIN nn)""".stripMargin +
      iterCtes +
      s"""
         |SELECT id, ROUND(rank, 6) AS rank FROM pr$iterations
         |ORDER BY 2 DESC, 1""".stripMargin
  }

  /** Oracle for `gr_dup_triangles`: id-order triangle enumeration over the
    * verified near-dup pair graph (`mh_pairs` is distinct with
    * id_a < id_b, so each triangle appears exactly once). The Spark side
    * enumerates degree-oriented instead — triangle counts are
    * orientation-invariant, so the two agree exactly (integers
    * throughout; the clustering coefficient is row-level IEEE). */
  private lazy val mhTriangleOracleSql: String =
    Sentiment.oracleCte +
      minhashChainCtes(32, 8, "SELECT doc_id AS id, tokens FROM toks") +
      mhPairsCte(0.5) +
      """,
        |te AS MATERIALIZED (SELECT id_a AS u, id_b AS v FROM mh_pairs),
        |tr AS (
        |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |  FROM te e1 JOIN te e2 ON e2.u = e1.v
        |  JOIN te e3 ON e3.u = e1.u AND e3.v = e2.v),
        |tn AS (SELECT a AS id FROM tr UNION ALL SELECT b FROM tr
        |  UNION ALL SELECT c FROM tr),
        |tc AS (SELECT id, CAST(count(*) AS BIGINT) AS triangles FROM tn GROUP BY id),
        |tg AS (SELECT id, CAST(count(*) AS BIGINT) AS deg
        |  FROM (SELECT u AS id FROM te UNION ALL SELECT v AS id FROM te)
        |  GROUP BY id)
        |SELECT tg.id, tg.deg,
        |  COALESCE(tc.triangles, CAST(0 AS BIGINT)) AS triangles,
        |  CASE WHEN tg.deg >= 2 THEN
        |    ROUND(CAST(2 * COALESCE(tc.triangles, 0) AS DOUBLE) /
        |      CAST(tg.deg * (tg.deg - 1) AS DOUBLE), 6)
        |  ELSE CAST(0 AS DOUBLE) END AS clustering
        |FROM tg LEFT JOIN tc ON tc.id = tg.id
        |ORDER BY tg.id""".stripMargin

  /** Oracle for `tok_subword_counts`: the pinned BPE merge list replayed
    * as a bracketed replace chain. Encoding: every symbol is wrapped in
    * distinct open/close bytes (`chr(1)||sym||chr(2)`), so a merge (a,b)
    * is the literal replace of `⟨a⟩⟨b⟩` with `⟨ab⟩` — fully
    * boundary-anchored on BOTH sides (a pattern can match neither a
    * symbol suffix nor a symbol prefix — a one-sided separator fails on
    * e.g. (i,n) against symbol `n</w>` — and adjacent matches share no
    * bytes), which makes greedy left-to-right string replace exactly the
    * Catalyst aggregate() fold the engine runs. Single source of truth:
    * the CTE chain is generated from
    * [[operators.Tokenizer.PinnedMerges]]. */
  private lazy val bpeSubwordOracleSql: String = {
    val (o, c) = ("chr(1)", "chr(2)")
    val merges = operators.Tokenizer.PinnedMerges
    val mergeCtes = merges.zipWithIndex.map { case ((a, b), i) =>
      s""",
         |bs${i + 1} AS (SELECT cnt,
         |  replace(s, $o || '$a' || $c || $o || '$b' || $c, $o || '${a + b}' || $c) AS s
         |  FROM bs$i)""".stripMargin
    }.mkString
    Sentiment.oracleCte + s""",
       |bw AS (SELECT unnest(tokens) AS word FROM toks),
       |bwc AS (SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM bw GROUP BY word),
       |bwg AS (SELECT word, cnt FROM bwc
       |  WHERE NOT contains(word, chr(1)) AND NOT contains(word, chr(2))),
       |bs0 AS (SELECT cnt,
       |  array_to_string(list_transform(string_split(word, ''), ch -> $o || ch || $c), '')
       |    || $o || '</w>' || $c AS s
       |  FROM bwg)""".stripMargin +
      mergeCtes + s"""
         |SELECT token, CAST(SUM(cnt) AS BIGINT) AS token_cnt
         |FROM (SELECT cnt,
         |    unnest(list_filter(
         |      list_transform(string_split(s, $c), t -> replace(t, $o, '')),
         |      t -> t <> '')) AS token
         |  FROM bs${merges.length})
         |GROUP BY token ORDER BY token_cnt DESC, token""".stripMargin
  }

  /** Oracle for `tok_bpe_train`: `n` greedy BPE merge rounds unrolled
    * as materialized CTEs (the btIterCtes discipline — each round
    * references the previous state; inlining would grow the plan
    * exponentially). Round r: pair counts from the bracketed state
    * (`tp$r`), the repeating-pair argmax with (a, b) tie-break
    * (`tm$r`, one row), state rewrite via the boundary-anchored
    * replace (`tb$r` — see [[bpeSubwordOracleSql]] for why replace ==
    * the greedy fold). The final SELECT unions the per-round argmax
    * rows in rank order — exactly
    * [[operators.Tokenizer.bpeTrain]]'s output. */
  private def bpeTrainOracle(n: Int): String = {
    val (o, c) = ("chr(1)", "chr(2)")
    val rounds = (1 to n).map { r =>
      val rewrite =
        if (r == n) "" // the last rewrite is never read
        else s""",
           |tb$r AS MATERIALIZED (SELECT cnt,
           |  replace(s, $o || a || $c || $o || b || $c, $o || a || b || $c) AS s
           |  FROM tb${r - 1}, tm$r)""".stripMargin
      s""",
         |tp$r AS MATERIALIZED (
         |  SELECT list_extract(ss, i) AS a, list_extract(ss, i + 1) AS b,
         |    CAST(SUM(cnt) AS BIGINT) AS pc
         |  FROM (SELECT cnt, ss, unnest(range(1, len(ss))) AS i
         |    FROM (SELECT cnt,
         |        string_split(substr(s, 2, length(s) - 2), $c || $o) AS ss
         |      FROM tb${r - 1}))
         |  GROUP BY 1, 2),
         |tm$r AS MATERIALIZED (SELECT a, b FROM tp$r
         |  WHERE pc >= 2 ORDER BY pc DESC, a, b LIMIT 1)""".stripMargin + rewrite
    }.mkString
    val unions = (1 to n)
      .map(r => s"SELECT $r AS merge_rank, a, b FROM tm$r")
      .mkString("\n|", "\n|UNION ALL ", "").stripMargin
    Sentiment.oracleCte + s""",
       |tw AS (SELECT unnest(tokens) AS word FROM toks),
       |twc AS (SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM tw GROUP BY word),
       |tb0 AS MATERIALIZED (SELECT cnt,
       |  array_to_string(list_transform(string_split(word, ''), ch -> $o || ch || $c), '')
       |    || $o || '</w>' || $c AS s
       |  FROM twc WHERE NOT contains(word, chr(1)) AND NOT contains(word, chr(2)))""".stripMargin +
      rounds + unions + "\nORDER BY merge_rank"
  }

  /** Oracle for `sel_kcenter`: the greedy farthest-point rounds unrolled
    * as materialized CTEs (the [[bpeTrainOracle]] discipline). `kc$r` is
    * round r's one-row argmax over the previous state's min-distance
    * column; `kst$r` folds the new center into every point's `mind` with
    * LEAST — exactly [[operators.Similarity.kCenterCoreset]]'s loop, with
    * the same left-fold dot/norm so the argmax agrees bit-for-bit. */
  private def kCenterCtes(k: Int): String = {
    val rounds = (2 to k).map { r =>
      val prev = r - 1
      val upd =
        if (r == k) "" // the last fold is never read
        else s""",
           |kst$r AS MATERIALIZED (
           |  SELECT s.vec_id, s.v, s.nrm,
           |    LEAST(s.mind,
           |      CAST(1.0 AS DOUBLE) - ${dotSql("s.v", "c.cv")} / (s.nrm * c.cnrm)) AS mind
           |  FROM kst$prev s CROSS JOIN kc$r c)""".stripMargin
      s""",
         |kc$r AS MATERIALIZED (SELECT vec_id AS c_id, v AS cv, nrm AS cnrm, mind AS mrad
         |  FROM kst$prev ORDER BY mind DESC, vec_id LIMIT 1)""".stripMargin + upd
    }.mkString
    s"""WITH $evecCteSql,
       |ken AS (SELECT vec_id, v, ${normSql("v")} AS nrm FROM evec),
       |kc1 AS MATERIALIZED (SELECT vec_id AS c_id, v AS cv, nrm AS cnrm
       |  FROM ken ORDER BY vec_id LIMIT 1),
       |kst1 AS MATERIALIZED (
       |  SELECT ken.vec_id, ken.v, ken.nrm,
       |    CAST(1.0 AS DOUBLE) - ${dotSql("ken.v", "c.cv")} / (ken.nrm * c.cnrm) AS mind
       |  FROM ken CROSS JOIN kc1 c)""".stripMargin + rounds
  }

  private def kCenterOracle(k: Int): String = {
    val unions = (2 to k)
      .map(r => s"UNION ALL SELECT $r, c_id, ROUND(mrad, 6) + CAST(0.0 AS DOUBLE) FROM kc$r")
      .mkString("\n")
    kCenterCtes(k) + s"""
       |SELECT * FROM (
       |SELECT 1 AS sel_rank, c_id AS vec_id, CAST(NULL AS DOUBLE) AS radius FROM kc1
       |$unions
       |) ORDER BY sel_rank""".stripMargin
  }

  /** Oracle for `sel_coverage_audit`: the [[kCenterCtes]] selection
    * replayed, then every corpus point's distance to its NEAREST center
    * (aggregate MIN — order-independent, matching the engine's
    * array_min) rolled into the coverage statistics. quantile_cont
    * mirrors Spark's interpolating `percentile` (the ev_time_deltas
    * convention). */
  private def kCenterCoverageOracle(k: Int): String = {
    val centUnions = (2 to k)
      .map(r => s"UNION ALL SELECT c_id, cv, cnrm FROM kc$r")
      .mkString("\n|", "\n|", "").stripMargin
    kCenterCtes(k) + s""",
       |kcent AS (SELECT c_id, cv, cnrm FROM kc1$centUnions),
       |kd AS (SELECT k.vec_id,
       |    MIN(CAST(1.0 AS DOUBLE) - ${dotSql("k.v", "c.cv")} / (k.nrm * c.cnrm)) AS d
       |  FROM ken k CROSS JOIN kcent c GROUP BY k.vec_id)
       |SELECT CAST(count(*) AS BIGINT) AS n_points,
       |  (SELECT CAST(count(*) AS BIGINT) FROM kcent) AS n_centers,
       |  ROUND(MAX(d), 6) + CAST(0.0 AS DOUBLE) AS radius_max,
       |  ROUND(AVG(d), 6) + CAST(0.0 AS DOUBLE) AS dist_mean,
       |  ROUND(quantile_cont(d, CAST(0.9 AS DOUBLE)), 6) + CAST(0.0 AS DOUBLE) AS dist_p90
       |FROM kd""".stripMargin
  }

  /** Oracle for `gr_labelprop`: the synchronous LPA rounds unrolled as
    * materialized CTEs over the trade graph. Per round: closed-
    * neighborhood votes (`lv$r` — neighbor labels UNION ALL the node's
    * own), integer counts (`lc$r`), and the (count DESC, label ASC)
    * argmax (`ll$r`) — exactly [[operators.Graph.labelPropagation]]'s
    * arg-min-over-struct aggregation. */
  private def lpaCtes(rounds: Int): String = {
    val per = (1 to rounds).map { r =>
      s""",
         |lv$r AS (SELECT e.src AS id, l.lbl FROM ledges e JOIN ll${r - 1} l ON e.dst = l.id
         |  UNION ALL SELECT id, lbl FROM ll${r - 1}),
         |lc$r AS (SELECT id, lbl, CAST(count(*) AS BIGINT) AS c FROM lv$r GROUP BY 1, 2),
         |ll$r AS MATERIALIZED (SELECT id, lbl FROM (
         |    SELECT id, lbl, row_number() OVER (PARTITION BY id ORDER BY c DESC, lbl) AS rn
         |    FROM lc$r) WHERE rn = 1)""".stripMargin
    }.mkString
    s"""WITH eraw AS MATERIALIZED (
       |  SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS a,
       |    's' || CAST(l.l_suppkey AS VARCHAR) AS b
       |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
       |ledges AS MATERIALIZED (
       |  SELECT a AS src, b AS dst FROM eraw UNION ALL SELECT b, a FROM eraw),
       |ll0 AS MATERIALIZED (SELECT DISTINCT src AS id, src AS lbl FROM ledges)""".stripMargin +
      per
  }

  private def lpaOracle(rounds: Int): String =
    lpaCtes(rounds) + s"\nSELECT id, lbl AS community FROM ll$rounds ORDER BY id"

  /** Oracle for `gr_lpa_modularity`: the [[lpaCtes]] rounds feeding the
    * gr_modularity score formula — every trade edge is scored against
    * the learned labeling (eraw IS the undirected pair set: `c…` <
    * `s…` lexicographically, so it matches the engine's src<dst cut). */
  private def lpaModularityOracle(rounds: Int): String =
    lpaCtes(rounds) + s""",
       |gme AS (SELECT a AS u, b AS v FROM eraw),
       |gmm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM gme),
       |gmdeg AS (SELECT id, CAST(count(*) AS BIGINT) AS deg
       |  FROM (SELECT u AS id FROM gme UNION ALL SELECT v FROM gme) GROUP BY id),
       |gmdc AS (SELECT lbl AS c, CAST(SUM(deg) AS BIGINT) AS d_c
       |  FROM gmdeg JOIN ll$rounds USING (id) GROUP BY lbl),
       |gmmc AS (SELECT lu.lbl AS c, CAST(count(*) AS BIGINT) AS m_c
       |  FROM gme JOIN ll$rounds lu ON lu.id = gme.u JOIN ll$rounds lv ON lv.id = gme.v
       |  WHERE lu.lbl = lv.lbl GROUP BY lu.lbl),
       |gmt AS (SELECT gmdc.c, COALESCE(m_c, CAST(0 AS BIGINT)) AS m_c, d_c, m
       |  FROM gmdc LEFT JOIN gmmc ON gmmc.c = gmdc.c, gmm)
       |SELECT CAST(count(*) AS BIGINT) AS communities, m,
       |  ROUND(SUM(CAST(m_c AS DOUBLE) / CAST(m AS DOUBLE)
       |    - (CAST(d_c AS DOUBLE) / (CAST(2.0 AS DOUBLE) * CAST(m AS DOUBLE)))
       |    * (CAST(d_c AS DOUBLE) / (CAST(2.0 AS DOUBLE) * CAST(m AS DOUBLE)))), 6)
       |    + CAST(0.0 AS DOUBLE) AS modularity
       |FROM gmt GROUP BY m""".stripMargin

  /** Oracle for `sel_kmeanspar`: the k-means|| rounds unrolled. Per
    * round: the ROUND(6) potential (`pphi$r` — the repo-wide
    * order-dependent-sum boundary), the md5-uniform draw against
    * `ell·mind/φ` (`ppick$r`), and the fold of the drawn centers into
    * every point's `mind` via an aggregate-join MIN (`pmin$r`/`pst$r` —
    * MIN is order-independent, so it matches the engine's `array_min`
    * exactly). The tail replays the weighting step with a
    * (distance, id) row_number — the engine's struct-min tie-break.
    * Ends at the `pcand` (candidates) / `pw` (weights) CTEs so the
    * reduction oracles can compose on top. */
  private def kppCtes(rounds: Int, ell: Int): String = {
    def uSql(r: Int) =
      s"""(CAST(CAST(('0x' || substr(md5('kpp$r:' || CAST(s.vec_id AS VARCHAR)), 1, 15)) AS BIGINT) AS DOUBLE)
         |      + CAST(0.5 AS DOUBLE)) / CAST(1152921504606846976.0 AS DOUBLE)""".stripMargin
    val per = (1 to rounds).map { r =>
      val prev = r - 1
      val fold =
        if (r == rounds) "" // the last fold is never read
        else s""",
           |pmin$r AS (SELECT s.vec_id,
           |  MIN(CAST(1.0 AS DOUBLE) - ${dotSql("s.v", "c.cv")} / (s.nrm * c.cnrm)) AS nd
           |  FROM pst$prev s CROSS JOIN ppick$r c GROUP BY s.vec_id),
           |pst$r AS MATERIALIZED (SELECT s.vec_id, s.v, s.nrm,
           |  LEAST(s.mind, COALESCE(m.nd, s.mind)) AS mind
           |  FROM pst$prev s LEFT JOIN pmin$r m USING (vec_id))""".stripMargin
      s""",
         |pphi$r AS (SELECT ROUND(SUM(mind), 6) AS phi FROM pst$prev),
         |ppick$r AS MATERIALIZED (SELECT s.vec_id, s.v AS cv, s.nrm AS cnrm, s.mind
         |  FROM pst$prev s, pphi$r
         |  WHERE ${uSql(r)}
         |    < CAST($ell.0 AS DOUBLE) * s.mind / phi)""".stripMargin + fold
    }.mkString
    val candUnions = (1 to rounds)
      .map(r => s"UNION ALL SELECT $r, vec_id, ROUND(mind, 6) + CAST(0.0 AS DOUBLE) FROM ppick$r")
      .mkString("\n")
    s"""WITH $evecCteSql,
       |ken AS (SELECT vec_id, v, ${normSql("v")} AS nrm FROM evec),
       |pc0 AS MATERIALIZED (SELECT vec_id AS c_id, v AS cv, nrm AS cnrm
       |  FROM ken ORDER BY vec_id LIMIT 1),
       |pst0 AS MATERIALIZED (
       |  SELECT ken.vec_id, ken.v, ken.nrm,
       |    CAST(1.0 AS DOUBLE) - ${dotSql("ken.v", "c.cv")} / (ken.nrm * c.cnrm) AS mind
       |  FROM ken CROSS JOIN pc0 c)""".stripMargin + per + s""",
       |pcand AS MATERIALIZED (
       |  SELECT 0 AS sel_round, c_id AS vec_id, CAST(NULL AS DOUBLE) AS dist FROM pc0
       |$candUnions),
       |pcv AS (SELECT p.vec_id AS c_id, k.v AS cv, k.nrm AS cnrm
       |  FROM (SELECT DISTINCT vec_id FROM pcand) p JOIN ken k ON k.vec_id = p.vec_id),
       |pd AS (SELECT k.vec_id, c.c_id,
       |    CAST(1.0 AS DOUBLE) - ${dotSql("k.v", "c.cv")} / (k.nrm * c.cnrm) AS d
       |  FROM ken k CROSS JOIN pcv c),
       |passign AS (SELECT vec_id, c_id FROM (
       |    SELECT vec_id, c_id, row_number() OVER (PARTITION BY vec_id ORDER BY d, c_id) AS rn
       |    FROM pd) WHERE rn = 1),
       |pw AS (SELECT c_id, CAST(count(*) AS BIGINT) AS weight FROM passign GROUP BY c_id)""".stripMargin
  }

  /** Oracle for `sel_kmeanspar`: [[kppCtes]] + the weighted-candidate
    * projection (LEFT JOIN keeps zero-weight candidates). */
  private def kppOracle(rounds: Int, ell: Int): String =
    kppCtes(rounds, ell) + s"""
       |SELECT sel_round, p.vec_id, dist,
       |  COALESCE(w.weight, CAST(0 AS BIGINT)) AS weight
       |FROM pcand p LEFT JOIN pw w ON w.c_id = p.vec_id
       |ORDER BY sel_round, p.vec_id""".stripMargin

  /** Reduction-round CTEs shared by the `sel_kmeanspar_reduce` oracle
    * and its coverage audit: [[operators.Similarity.kMeansParReduce]]'s
    * weighted k-means++ unrolled. `kw` binds the candidate working set
    * (vector + COALESCEd weight); round 1 (`kp1`) draws the seed
    * ∝ weight via the scalar md5-uniform against the integer-exact
    * cumulative weight sum; rounds 2..k quantize the potential to
    * `CAST(FLOOR((w·mind)·10⁶) AS BIGINT)` (`kq$r` — floor of identical
    * doubles is exact, so the inverse-CDF is integer arithmetic on both
    * engines) and fold the pick into `mind` via LEAST over the one-row
    * cross join (`ks$r`). A picked center's mind≈0 floors its potential
    * to 0 — exclusion falls out of the arithmetic, exactly as in the
    * engine. */
  private def kppReduceCtes(k: Int): String = {
    def uSql(r: Int) =
      s"""(CAST(CAST(('0x' || substr(md5('kpr$r'), 1, 15)) AS BIGINT) AS DOUBLE)
         |      + CAST(0.5 AS DOUBLE)) / CAST(1152921504606846976.0 AS DOUBLE)""".stripMargin
    val per = (2 to k).map { r =>
      val prev = r - 1
      val fold =
        if (r == k) "" // the last fold is never read
        else s""",
           |ks$r AS MATERIALIZED (SELECT s.vec_id, s.v, s.nrm, s.w,
           |  LEAST(s.mind, CAST(1.0 AS DOUBLE) - ${dotSql("s.v", "c.cv")} / (s.nrm * c.cnrm)) AS mind
           |  FROM ks$prev s CROSS JOIN kp$r c)""".stripMargin
      s""",
         |kq$r AS (SELECT vec_id, v, nrm, w, mind,
         |  CAST(FLOOR((CAST(w AS DOUBLE) * mind) * CAST(1000000.0 AS DOUBLE)) AS BIGINT) AS qi
         |  FROM ks$prev),
         |kt$r AS (SELECT SUM(qi) AS tot FROM kq$r),
         |kp$r AS MATERIALIZED (SELECT vec_id, cv, cnrm, mind FROM (
         |    SELECT vec_id, v AS cv, nrm AS cnrm, mind,
         |      SUM(qi) OVER (ORDER BY vec_id) AS cum FROM kq$r), kt$r
         |  WHERE CAST(cum AS DOUBLE) > ${uSql(r)} * CAST(tot AS DOUBLE)
         |  ORDER BY vec_id LIMIT 1)""".stripMargin + fold
    }.mkString
    s""",
       |kw AS MATERIALIZED (
       |  SELECT p.vec_id, k.v, k.nrm, COALESCE(w.weight, CAST(0 AS BIGINT)) AS w
       |  FROM (SELECT DISTINCT vec_id FROM pcand) p
       |  JOIN ken k ON k.vec_id = p.vec_id
       |  LEFT JOIN pw w ON w.c_id = p.vec_id),
       |kt1 AS (SELECT SUM(w) AS tot FROM kw),
       |kp1 AS MATERIALIZED (SELECT vec_id, cv, cnrm FROM (
       |    SELECT vec_id, v AS cv, nrm AS cnrm,
       |      SUM(w) OVER (ORDER BY vec_id) AS cum FROM kw), kt1
       |  WHERE CAST(cum AS DOUBLE) > ${uSql(1)} * CAST(tot AS DOUBLE)
       |  ORDER BY vec_id LIMIT 1),
       |ks1 AS MATERIALIZED (SELECT kw.vec_id, kw.v, kw.nrm, kw.w,
       |  CAST(1.0 AS DOUBLE) - ${dotSql("kw.v", "c.cv")} / (kw.nrm * c.cnrm) AS mind
       |  FROM kw CROSS JOIN kp1 c)""".stripMargin + per
  }

  /** Oracle for `sel_kmeanspar_reduce`: [[kppCtes]] + [[kppReduceCtes]]
    * + the pick projection (dist NULL for the seed, ROUND(6) at the
    * output boundary; weight joined back from the candidate set). */
  private def kppReduceOracle(k: Int, rounds: Int, ell: Int): String = {
    val pickUnions = (2 to k)
      .map(r => s"UNION ALL SELECT $r, vec_id, ROUND(mind, 6) + CAST(0.0 AS DOUBLE) FROM kp$r")
      .mkString("\n")
    kppCtes(rounds, ell) + kppReduceCtes(k) + s"""
       |SELECT sel_rank, pk.vec_id, dist, kw.w AS weight FROM (
       |  SELECT 1 AS sel_rank, vec_id, CAST(NULL AS DOUBLE) AS dist FROM kp1
       |$pickUnions
       |) pk JOIN kw ON kw.vec_id = pk.vec_id
       |ORDER BY sel_rank""".stripMargin
  }

  /** Oracle for `sel_kmeanspar_audit`: the reduced k centers replayed,
    * then the [[kCenterCoverageOracle]] statistics over the FULL corpus
    * — the family's end-product quality, not the oversampled
    * intermediate's. */
  private def kppReduceCoverageOracle(k: Int, rounds: Int, ell: Int): String = {
    val centUnions = (2 to k)
      .map(r => s"UNION ALL SELECT vec_id, cv, cnrm FROM kp$r")
      .mkString("\n|", "\n|", "").stripMargin
    kppCtes(rounds, ell) + kppReduceCtes(k) + s""",
       |rcent AS (SELECT vec_id, cv, cnrm FROM kp1$centUnions),
       |rd AS (SELECT k.vec_id,
       |    MIN(CAST(1.0 AS DOUBLE) - ${dotSql("k.v", "c.cv")} / (k.nrm * c.cnrm)) AS d
       |  FROM ken k CROSS JOIN rcent c GROUP BY k.vec_id)
       |SELECT CAST(count(*) AS BIGINT) AS n_points,
       |  (SELECT CAST(count(*) AS BIGINT) FROM rcent) AS n_centers,
       |  ROUND(MAX(d), 6) + CAST(0.0 AS DOUBLE) AS radius_max,
       |  ROUND(AVG(d), 6) + CAST(0.0 AS DOUBLE) AS dist_mean,
       |  ROUND(quantile_cont(d, CAST(0.9 AS DOUBLE)), 6) + CAST(0.0 AS DOUBLE) AS dist_p90
       |FROM rd""".stripMargin
  }

  /** DuckDB replay of [[operators.MLEval.pairwiseWinMatrix]] over the
    * doc_id//2 duel pairing on the F7 reward: composes after
    * [[Sentiment.oracleCte]], ends with the
    * `mx (item_a, item_b, n_duels, wins_a, wins_b, win_rate_a)` CTE. */
  private val winMatrixCtes: String = """,
      |du AS (SELECT doc_id // 2 AS duel, source AS item,
      |    original_score AS sc, doc_id FROM scored),
      |dw1 AS (SELECT duel, item, sc, doc_id,
      |    row_number() OVER (PARTITION BY duel ORDER BY sc DESC, doc_id DESC) AS rw,
      |    CAST(count(*) OVER (PARTITION BY duel) AS BIGINT) AS nn FROM du),
      |dwin AS (SELECT duel, item AS wi FROM dw1 WHERE rw = 1 AND nn = 2),
      |dlos AS (SELECT duel, item AS li FROM dw1 WHERE rw = 2 AND nn = 2),
      |dm AS (SELECT w.duel, wi, li FROM dwin w JOIN dlos l ON w.duel = l.duel
      |  WHERE wi <> li),
      |pm AS (SELECT LEAST(wi, li) AS item_a, GREATEST(wi, li) AS item_b,
      |    CASE WHEN wi <= li THEN 1 ELSE 0 END AS wa FROM dm),
      |mx AS (SELECT item_a, item_b, CAST(count(*) AS BIGINT) AS n_duels,
      |    CAST(SUM(wa) AS BIGINT) AS wins_a,
      |    CAST(count(*) - SUM(wa) AS BIGINT) AS wins_b,
      |    ROUND(CAST(SUM(wa) AS DOUBLE) / count(*), 6) AS win_rate_a
      |  FROM pm GROUP BY 1, 2)""".stripMargin

  /** Unrolled Bradley-Terry MM iterations for the `ml_bt_strength`
    * oracle: composes after [[winMatrixCtes]]; defines `ed` (directed
    * edges), `wt` (per-item totals), `p0` (uniform start), and
    * `p1..p{iters}` (one MM round each, per-item sums ROUND(12) exactly
    * like the Spark operator). */
  private def btIterCtes(iters: Int): String = {
    // every CTE here is MATERIALIZED: DuckDB inlines plain CTEs, and
    // each round references the previous round TWICE (pa/pb) — inlined,
    // the plan tree grows exponentially in `iters` and the EXPLAIN alone
    // exhausts file handles re-opening the base scan
    val per = (1 to iters).map { t =>
      s""",
         |d$t AS MATERIALIZED (SELECT ed.i AS item,
         |    ROUND(SUM(CAST(ed.n AS DOUBLE) / (pa.p + pb.p)), 12) AS dd
         |  FROM ed JOIN p${t - 1} pa ON ed.i = pa.item
         |  JOIN p${t - 1} pb ON ed.j = pb.item GROUP BY 1),
         |q$t AS MATERIALIZED (SELECT w.item, CAST(w.n_wins AS DOUBLE) / d.dd AS q
         |  FROM wt w JOIN d$t d ON w.item = d.item),
         |s$t AS MATERIALIZED (SELECT ROUND(SUM(q), 12) AS s FROM q$t),
         |p$t AS MATERIALIZED (SELECT item, ROUND(q / s, 12) AS p FROM q$t, s$t)""".stripMargin
    }.mkString
    """,
      |ed AS MATERIALIZED (SELECT item_a AS i, item_b AS j, wins_a AS w, n_duels AS n FROM mx
      |  UNION ALL SELECT item_b, item_a, wins_b, n_duels FROM mx),
      |wt AS MATERIALIZED (SELECT i AS item, CAST(SUM(w) AS BIGINT) AS n_wins,
      |    CAST(SUM(n) AS BIGINT) AS n_duels FROM ed GROUP BY 1),
      |kk AS (SELECT CAST(count(*) AS DOUBLE) AS k FROM wt),
      |p0 AS MATERIALIZED (SELECT item, CAST(1.0 AS DOUBLE) / k AS p FROM wt, kk)""".stripMargin +
      per
  }

  /** DuckDB replay of [[operators.Tokenizer.fertilityByLang]]: the
    * bpeSubwordOracleSql bracketed replace chain keyed by (lang, word),
    * with subword COUNTS (list length) instead of exploded tokens. */
  private lazy val fertilityOracleSql: String = {
    val (o, c) = ("chr(1)", "chr(2)")
    val merges = operators.Tokenizer.PinnedMerges
    val mergeCtes = merges.zipWithIndex.map { case ((a, b), i) =>
      s""",
         |fs${i + 1} AS (SELECT lang, cnt, wlen,
         |  replace(s, $o || '$a' || $c || $o || '$b' || $c, $o || '${a + b}' || $c) AS s
         |  FROM fs$i)""".stripMargin
    }.mkString
    Sentiment.oracleCte + s""",
       |fw AS (SELECT lang, unnest(tokens) AS word FROM toks),
       |fwc AS (SELECT lang, word, CAST(count(*) AS BIGINT) AS cnt FROM fw GROUP BY 1, 2),
       |fwg AS (SELECT lang, word, cnt FROM fwc
       |  WHERE NOT contains(word, chr(1)) AND NOT contains(word, chr(2))),
       |fs0 AS (SELECT lang, cnt, CAST(length(word) AS BIGINT) AS wlen,
       |  array_to_string(list_transform(string_split(word, ''), ch -> $o || ch || $c), '')
       |    || $o || '</w>' || $c AS s
       |  FROM fwg)""".stripMargin +
      mergeCtes + s"""
         |, ffin AS (SELECT lang, cnt, wlen,
         |    CAST(len(list_filter(
         |      list_transform(string_split(s, $c), t -> replace(t, $o, '')),
         |      t -> t <> '')) AS BIGINT) AS ns
         |  FROM fs${merges.length})
         |SELECT lang, CAST(SUM(cnt) AS BIGINT) AS n_words,
         |  CAST(SUM(cnt * ns) AS BIGINT) AS n_tokens,
         |  CAST(SUM(cnt * wlen) AS BIGINT) AS n_chars,
         |  ROUND(CAST(SUM(cnt * ns) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE), 6) AS fertility,
         |  ROUND(CAST(SUM(cnt * wlen) AS DOUBLE) / CAST(SUM(cnt * ns) AS DOUBLE), 6) AS chars_per_token
         |FROM ffin GROUP BY lang ORDER BY lang""".stripMargin
  }

  /** DuckDB CTE chain replaying [[Dedup.minhashProbePairs]] for the
    * `dd_incr_minhash` entry: probe batch = every 17th doc with its last
    * 6 tokens dropped (new ids +2000000), corpus = all documents; tagged
    * single-pass signatures, probe-band × corpus-band candidates, exact
    * Jaccard verify. Requires `toks`; exposes
    * `mp_j(probe_id, corpus_id, inter, sz_p, sz_c)`. */
  private def minhashProbeOracleCtes(k: Int, bands: Int,
      corpusArm: String = "SELECT doc_id AS id, FALSE AS p, tokens FROM toks",
      probeArm: String =
        """SELECT doc_id + 2000000 AS id, TRUE AS p,
          |    list_slice(tokens, 1, greatest(len(tokens) - 6, 4)) AS tokens
          |  FROM toks WHERE doc_id % 17 = 0""".stripMargin): String = {
    val r = k / bands
    val P = operators.Dedup.PortableMod
    val mins = (0 until k).map(i =>
      s"min((mp1 + $i * mp2) % $P) AS h$i")
      .mkString(",\n    ")
    val bandSelects = (0 until bands).map { b =>
      val key = (b * r until (b + 1) * r)
        .map(i => s"CAST(h$i AS VARCHAR)").mkString(" || ',' || ")
      s"SELECT id, p, $b AS band, $key AS key FROM mp_sig"
    }.mkString("\n  UNION ALL ")
    s""", mp_toks AS MATERIALIZED (
       |  $corpusArm
       |  UNION ALL
       |  $probeArm),
       |mp_sh AS MATERIALIZED (SELECT id, p, unnest(${shinglesSql(4)}) AS sh FROM mp_toks),
       |mp_h AS (SELECT id, p, sh,
       |    CAST(('0x' || substr(md5(sh), 1, 15)) AS BIGINT) AS mp1,
       |    CAST(('0x' || substr(md5(sh), 16, 12)) AS BIGINT) AS mp2
       |  FROM mp_sh),
       |mp_sig AS MATERIALIZED (SELECT id, p, CAST(count(*) AS BIGINT) AS sz,
       |    $mins
       |  FROM mp_h GROUP BY id, p),
       |mp_band AS (
       |  $bandSelects),
       |mp_cand AS (
       |  SELECT DISTINCT x.id AS probe_id, y.id AS corpus_id
       |  FROM mp_band x JOIN mp_band y
       |    ON x.band = y.band AND x.key = y.key AND x.p AND NOT y.p),
       |mp_inter AS (
       |  SELECT c.probe_id, c.corpus_id, CAST(count(*) AS BIGINT) AS inter
       |  FROM mp_cand c
       |  JOIN mp_sh a ON a.id = c.probe_id AND a.p
       |  JOIN mp_sh b ON b.id = c.corpus_id AND NOT b.p AND b.sh = a.sh
       |  GROUP BY 1, 2),
       |mp_j AS (
       |  SELECT i.probe_id, i.corpus_id, i.inter, sa.sz AS sz_p, sb.sz AS sz_c
       |  FROM mp_inter i
       |  JOIN mp_sig sa ON i.probe_id = sa.id AND sa.p
       |  JOIN mp_sig sb ON i.corpus_id = sb.id AND NOT sb.p)""".stripMargin
  }

  /** DuckDB CTE chain replaying the FULL SimHash pipeline of the
    * `dd_simhash_neardup` entry (mirrors
    * [[Dedup.simhashNearDupPairsPortable]]): doc∪variant token stream,
    * one md5 per token occurrence split into two 32-bit halves, 64
    * signed-bit sums, split fingerprints, 16-bit-chunk banding, candidate
    * self-join, Hamming via two 32-bit bit_counts. Requires the `toks`
    * CTE; exposes `sh_ham(id_a, id_b, hamming)`. */
  private lazy val simhashOracleCtes: String = {
    val bitAggs = (0 until 64).map { b =>
      val (h, bit) = if (b < 32) ("hlo", b) else ("hhi", b - 32)
      s"CAST(SUM(CASE WHEN ($h & ${1L << bit}) <> 0 THEN 1 ELSE -1 END) AS BIGINT) AS b$b"
    }.mkString(",\n    ")
    def half(range: Range, base: Int): String = range
      .map(b => s"CASE WHEN b$b > 0 THEN CAST(${1L << (b - base)} AS BIGINT) ELSE CAST(0 AS BIGINT) END")
      .mkString("(", " + ", ")") // bits are disjoint, so sum == bitwise OR
    s""", sh_toks AS (
       |  SELECT doc_id AS id, tokens FROM toks
       |  UNION ALL
       |  SELECT doc_id + 1000000 AS id,
       |    list_slice(tokens, 1, greatest(len(tokens) - 4, 4)) AS tokens
       |  FROM toks WHERE doc_id % 10 = 0),
       |sh_tok AS (SELECT id, unnest(tokens) AS t FROM sh_toks),
       |sh_hash AS (SELECT id,
       |    CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) AS hhi,
       |    CAST(('0x' || substr(md5(t), 9, 8)) AS BIGINT) AS hlo
       |  FROM sh_tok),
       |sh_bits AS (SELECT id,
       |    $bitAggs
       |  FROM sh_hash GROUP BY id),
       |sh_fp AS (SELECT id, ${half(32 until 64, 32)} AS fp_hi,
       |    ${half(0 until 32, 0)} AS fp_lo FROM sh_bits),
       |sh_band AS (
       |  SELECT id, fp_hi, fp_lo, 0 AS band, (fp_lo & 65535) AS chunk FROM sh_fp
       |  UNION ALL SELECT id, fp_hi, fp_lo, 1, (fp_lo >> 16) FROM sh_fp
       |  UNION ALL SELECT id, fp_hi, fp_lo, 2, (fp_hi & 65535) FROM sh_fp
       |  UNION ALL SELECT id, fp_hi, fp_lo, 3, (fp_hi >> 16) FROM sh_fp),
       |sh_cand AS (
       |  SELECT DISTINCT x.id AS id_a, y.id AS id_b,
       |    x.fp_hi AS hi_a, x.fp_lo AS lo_a, y.fp_hi AS hi_b, y.fp_lo AS lo_b
       |  FROM sh_band x JOIN sh_band y
       |    ON x.band = y.band AND x.chunk = y.chunk AND x.id < y.id),
       |sh_ham AS (
       |  SELECT id_a, id_b,
       |    CAST(bit_count(xor(hi_a, hi_b)) + bit_count(xor(lo_a, lo_b)) AS INT) AS hamming
       |  FROM sh_cand)""".stripMargin
  }

  /** Shared DuckDB CTE chain for the two component queries (mirrors
    * [[Dedup.ngramJaccardPairs]] + transitive closure): exposes
    * `reach(id, r)` — every node with its reachable set over the
    * symmetrized Jaccard>0.1 edge graph. */
  /** Verified MinHash near-dup pairs over the raw documents table — the
    * shared pair source for the components family (`dd_components`,
    * `dd_cluster_stats`, `dd_prune_canonical`). Portable family so the
    * oracle replays the banding bit-for-bit; the engine-native xxhash64
    * family is the 100 TB default (DedupSpec recall units cover it). */
  private def docNearDupPairs(s: SparkSession, d: String): DataFrame =
    Dedup.minhashNearDupPairs(
      Tables.documents(s, d).select("doc_id", "text"),
      "text", "doc_id", n = 4, k = 32, bands = 8, minJaccard = 0.5,
      family = Dedup.PortableFamily)

  /** [[docNearDupPairs]] as a MAINTAINED TABLE (the bandedPairsShared
    * posture applied to the text family): eight catalog entries —
    * components, cluster stats, prune, both incremental arms, triangles,
    * k-core, modularity — consume the identical verified pair frame, and
    * each regenerated it from the shingle join before. Built once per
    * corpus identity (FileSystem-listing key) and persisted; every
    * consumer pays a parquet read-back of the O(dups) pair set instead of
    * the O(corpus) signature+band+verify pipeline. Per-pair jaccard is
    * published ROUND(6)-ed upstream, so the round trip is bit-exact and
    * every oracle hash is unchanged. The directory name carries a
    * version + parameter token (n4 k32 b8 j05 portable) alongside the
    * source-identity key, so changing the generation parameters or the
    * operator code (bump the token) invalidates the cache instead of
    * silently serving pairs built under the old recipe. */
  private def docPairsShared(s: SparkSession, d: String): DataFrame = {
    val p = new java.io.File(
      s"spark-warehouse/graft_state/dp_v1_n4k32b8j05p_${sourceStateKey(s, d, "documents.parquet")}").toString
    if (!new java.io.File(p, "_SUCCESS").exists) {
      docNearDupPairs(s, d).write.mode("overwrite").parquet(p)
    }
    s.read.parquet(p)
  }

  /** DuckDB replay of [[operators.TextAnalysis.packSequences]] (budget
    * 512, 64 id-mod buckets); requires `toks` in scope, ends with
    * `pk3 (doc_id, n_tokens, bucket, seq, seq_offset)`. Shared by
    * `pk_sequence_packing` / `pk_pack_manifest`. */
  private val packCtes: String =
    """pk AS (SELECT doc_id, CAST(len(tokens) AS BIGINT) AS n_tokens,
      |    CAST(doc_id % 64 AS BIGINT) AS bucket FROM toks),
      |pk2 AS (SELECT doc_id, n_tokens, bucket,
      |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok
      |  FROM pk),
      |pk3 AS (SELECT doc_id, n_tokens, bucket,
      |    CAST(start_tok // 512 AS BIGINT) AS seq,
      |    CAST(start_tok % 512 AS BIGINT) AS seq_offset
      |  FROM pk2)""".stripMargin

  /** DuckDB replay of [[operators.Dedup.spanScrub]] at width 8 over the
    * docs relation `docsSql` (must expose `doc_id, text`); `keep`
    * optionally restricts the report rows (e.g. to the incremental
    * batch). Shared by `dd_span_scrub` / `dd_incr_spans`. */
  private def spanScrubOracle(docsSql: String, keep: String = ""): String =
    s"""WITH sdocs AS ($docsSql),
       |stoks AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ts FROM sdocs),
       |sds AS (SELECT doc_id, ts FROM stoks WHERE len(ts) > 0),
       |sg0 AS (SELECT doc_id, ts, unnest(range(0, len(ts) - 7)) AS gpos FROM sds WHERE len(ts) >= 8),
       |sg1 AS (SELECT doc_id, gpos, array_to_string(list_slice(ts, gpos + 1, gpos + 8), ' ') AS gram FROM sg0),
       |sk AS (SELECT doc_id, gpos,
       |    row_number() OVER (PARTITION BY gram ORDER BY doc_id, gpos) AS rn,
       |    count(*) OVER (PARTITION BY gram) AS occ
       |  FROM sg1),
       |ss0 AS (SELECT doc_id, unnest(range(gpos, gpos + 8)) AS tpos FROM sk WHERE occ >= 2 AND rn > 1),
       |sstruck AS (SELECT DISTINCT doc_id, tpos FROM ss0),
       |stk0 AS (SELECT doc_id, ts, unnest(range(0, len(ts))) AS tpos FROM sds),
       |stk AS (SELECT doc_id, tpos, ts[tpos + 1] AS tok FROM stk0)
       |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |  CAST(coalesce(SUM(CASE WHEN s.tpos IS NOT NULL THEN 1 END), 0) AS BIGINT) AS n_removed,
       |  coalesce(string_agg(t.tok, ' ' ORDER BY t.tpos) FILTER (WHERE s.tpos IS NULL), '') AS clean_text
       |FROM stk t LEFT JOIN sstruck s ON t.doc_id = s.doc_id AND t.tpos = s.tpos
       |$keep
       |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin

  /** Conversation turns synthesized deterministically from the documents
    * table (4-turn user/assistant alternation by doc_id) — the shared
    * input of `pk_sft_examples` and `pipe_sft_shards`. */
  private def docTurns(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      expr("doc_id div 4").as("conv_id"),
      col("doc_id").as("seq"),
      when(col("doc_id") % 2 === 0, "user").otherwise("assistant").as("role"),
      col("text").as("content"))

  /** DuckDB replay of a turns frame + [[operators.Serving.sftExamples]]:
    * `hSql` supplies the `h (conv_id, seq, role, content)` derivation;
    * ends with the `sfte (conv_id, turn_seq, n_context_turns, prompt,
    * target, loss_start, n_chars)` CTE. The `14` is
    * `length('<|assistant|>' || chr(10))`. */
  private def sftExampleCtesFor(hSql: String): String =
    s"""h AS ($hSql),
      |b AS (SELECT conv_id, seq, role, content,
      |    '<|' || role || '|>' || chr(10) || content || chr(10) AS block FROM h),
      |p AS (SELECT conv_id, seq, role, content,
      |    CAST(row_number() OVER (PARTITION BY conv_id ORDER BY seq) AS INT) AS rn,
      |    COALESCE(string_agg(block, '') OVER (PARTITION BY conv_id ORDER BY seq
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), '') AS prefix
      |  FROM b),
      |sfte AS (SELECT conv_id, seq AS turn_seq,
      |    CAST(rn - 1 AS INT) AS n_context_turns,
      |    prefix || '<|assistant|>' || chr(10) AS prompt,
      |    content AS target,
      |    CAST(length(prefix) + 14 AS INT) AS loss_start,
      |    CAST(length(prefix) + 14 + length(content) AS INT) AS n_chars
      |  FROM p WHERE role = 'assistant')""".stripMargin

  /** The [[docTurns]] replay (global doc_id as the turn sequence). */
  private val sftExampleCtes: String = sftExampleCtesFor(
    """SELECT doc_id // 4 AS conv_id, doc_id AS seq,
      |    CASE WHEN doc_id % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
      |    text AS content FROM documents""".stripMargin)

  /** The [[graft.streaming.SftStream.runSftToCompletion]] replay: DENSE
    * 0-based turn index (`doc_id % 4`) as the sequence — the stateful
    * operator's frontier contract. */
  private val sftStreamCtes: String = sftExampleCtesFor(
    """SELECT doc_id // 4 AS conv_id, CAST(doc_id % 4 AS INT) AS seq,
      |    CASE WHEN doc_id % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
      |    text AS content FROM documents""".stripMargin)

  /** Shared scored-frame for the ML-evaluation family (`ml_auc`,
    * `ml_calibration`, `ml_prf`): the hashed linear classifier's
    * probability ([[TextAnalysis.hashedLinearScore]]) as the prediction,
    * and a length gate (`n_chars >= 200`) as the ground-truth label —
    * "does the cheap hashed scorer rank long-form documents above
    * fragments?", the distill-a-gate-into-a-classifier measurement. */
  private def mlScored(s: SparkSession, d: String): DataFrame =
    TextAnalysis.hashedLinearScore(
        Tables.documents(s, d), "text", "doc_id", buckets = 1024,
        keep = Seq("n_chars"))
      .select(col("doc_id"), col("score"),
        (col("n_chars") >= 200).cast("int").as("y"))

  /** DuckDB replay of [[mlScored]]: the ta_hashed_classifier weight
    * expression (md5-derived bucket weights) with `n_chars` carried for
    * the label. Ends with the `mls (doc_id, score, y)` CTE. */
  private val mlScoredCte: String = Sentiment.oracleCte +
    """,
      |hw AS (SELECT doc_id, n_chars, CAST(len(tokens) AS BIGINT) AS n_tokens,
      |    list_sum(list_transform(tokens, t ->
      |      (CAST(CAST('0x' || substr(md5('w:' || CAST(
      |          CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) % 1024
      |        AS VARCHAR)), 1, 15) AS BIGINT) % 2001 AS DOUBLE)
      |       - CAST(1000.0 AS DOUBLE)) / CAST(1000.0 AS DOUBLE))) AS sw
      |  FROM toks WHERE len(tokens) > 0),
      |mls AS (SELECT doc_id,
      |    ROUND(CAST(1.0 AS DOUBLE) / (CAST(1.0 AS DOUBLE)
      |      + exp(-(sw / CAST(n_tokens AS DOUBLE)))), 6) AS score,
      |    CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END AS y
      |  FROM hw)""".stripMargin

  /** DuckDB replay of the V4 seam carrying [[Sentiment.hashedBatchScorer]]
    * (requires the `toks` CTE from [[Sentiment.oracleCte]] in scope):
    * per-token md5 bucket weights, SEEDED left-fold sum (list_prepend 0.0
    * — the [[dotSql]] convention, bit-identical to the driver-side
    * reduceLeft because no weight is −0.0), standardized-margin
    * confidence, then the unchanged F8 + F7 downstream. Exposes
    * `hsent` (through 3-class sentiment) and `hscored`
    * (+original_score). */
  private val seamCteSql: String = {
    def likeSumSql(c: String, words: Seq[String]): String =
      words.map(w => s"(CASE WHEN $c LIKE '%$w%' THEN 1 ELSE 0 END)").mkString(" + ")
    s"""hw0 AS (
       |  SELECT doc_id, text, CAST(len(tokens) AS INT) AS wc,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(tokens, t ->
       |      (CAST(CAST('0x' || substr(md5('w:' || CAST(
       |          CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) % 1024
       |        AS VARCHAR)), 1, 15) AS BIGINT) % 2001 AS DOUBLE)
       |       - CAST(1000.0 AS DOUBLE)) / CAST(1000.0 AS DOUBLE))),
       |      (x, y) -> x + y) AS sw
       |  FROM toks),
       |hw1 AS (SELECT doc_id, text, wc,
       |    CASE WHEN wc = 0 THEN CAST(0.5 AS DOUBLE)
       |         ELSE LEAST(CAST(0.99 AS DOUBLE), CAST(0.5 AS DOUBLE)
       |           + CAST(0.3 AS DOUBLE) * abs(sw) / sqrt(CAST(wc AS DOUBLE))) END
       |      AS confidence,
       |    CASE WHEN wc = 0 OR sw >= CAST(0.0 AS DOUBLE)
       |         THEN 'POSITIVE' ELSE 'NEGATIVE' END AS raw_label
       |  FROM hw0),
       |hsent AS (SELECT *, CASE WHEN confidence > CAST(0.8 AS DOUBLE)
       |    THEN raw_label ELSE 'NEUTRAL' END AS sentiment FROM hw1),
       |hscored AS (SELECT *, CASE WHEN wc <= 4 THEN CAST(0.0 AS DOUBLE)
       |    ELSE CAST(0.05 AS DOUBLE) * CAST(wc - 4 AS DOUBLE) + CAST(0.1 AS DOUBLE) * CAST(
       |      CASE WHEN sentiment = 'POSITIVE' THEN ${likeSumSql("text", Sentiment.PositiveWords)}
       |           WHEN sentiment = 'NEGATIVE' THEN ${likeSumSql("text", Sentiment.NegativeWords)}
       |           ELSE ${likeSumSql("text", Sentiment.NeutralWords)} END AS DOUBLE)
       |    END AS original_score
       |  FROM hsent)""".stripMargin
  }

  /** Identity key of a source table for persisted derived state (trained
    * quantizers, dedup index, banded pairs): a digest of the Hadoop
    * FileSystem listing — every part file's name, length, and mtime — so
    * a regenerated corpus invalidates the state no matter where the
    * directory lives. `java.io.File` (the first cut) reports length 0 /
    * mtime 0 for any non-local path, silently reusing stale state for a
    * remote SPARK_GRAFT_SF_DIR; going through the table's own FileSystem
    * keys correctly on HDFS/S3A too, and a missing source fails fast
    * instead of degenerating to a constant key. */
  private def sourceStateKey(s: SparkSession, d: String, table: String): String = {
    val path = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(d), table)
    val fs = path.getFileSystem(s.sparkContext.hadoopConfiguration)
    require(fs.exists(path), s"persisted-state source missing: $path")
    val root = fs.getFileStatus(path)
    val statuses =
      if (root.isDirectory) fs.listStatus(path).sortBy(_.getPath.getName)
      else Array(root)
    val sig = statuses
      .map(st => s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
      .mkString("|")
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(sig.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    md.take(8).map(b => f"${b & 0xff}%02x").mkString
  }

  /** Trained quantizer state for the `sim_trained_*` entries — the
    * production posture the entries exist to demonstrate: fit ONCE
    * (deterministic: single-partition sorted sample, fixed seed), persist
    * centroids + codebook as parquet tables keyed by the embeddings
    * file's identity (a regenerated corpus auto-invalidates), broadcast
    * at query time. Re-running an entry pays the query path only, not a
    * retrain — exactly how a 100 TB deployment amortizes training. */
  /** Shared DuckDB replay of the deterministic-convention IVF-PQ query
    * (query 20, k 10, nprobe 4, shortlist 50): the oracle for BOTH
    * `sim_ivfpq_ann` (in-memory path) and `sim_index_export` (the same
    * query replayed from the exported parquet layout alone) — one SQL
    * string, two engine paths, so the entries also prove the two paths
    * equal each other. */
  private lazy val ivfpqAnnOracle: String =
    s"WITH $evecCteSql,\n" + ivfpqAnnOracleBody("evec")

  /** The same replay over corpus ∪ ingest batch (every 17th vector
    * cloned under vec_id+2e6 — `sim_incr_ivf`'s convention): the oracle
    * for `sim_index_compact`, which must equal a from-scratch rebuild
    * over the merged corpus. Centroid/codebook CTEs still select
    * `vec_id < 16`, i.e. base vectors only — the compacted layout keeps
    * v=1's quantizers unchanged by construction. */
  private lazy val ivfpqCompactOracle: String =
    s"""WITH $evecCteSql,
       |allv AS (SELECT vec_id, v FROM evec
       |  UNION ALL SELECT vec_id + 2000000, v FROM evec WHERE vec_id % 17 = 0),
       |""".stripMargin + ivfpqAnnOracleBody("allv")

  /** Body of the deterministic-convention IVF-PQ replay, parameterized
    * on the vector source CTE (`evec` for the base corpus, `allv` for
    * the compaction's merged corpus). */
  private def ivfpqAnnOracleBody(src: String): String =
    s"""en AS (SELECT vec_id, v, ${normSql("v")} AS nrm FROM $src),
       |cents AS (SELECT vec_id AS cell, v AS cv, nrm AS cnrm FROM en WHERE vec_id < 16),
       |asg0 AS (
       |  SELECT en.vec_id, en.v, en.nrm, cents.cell,
       |    ${dotSql("en.v", "cents.cv")} / (en.nrm * cents.cnrm) AS ccos
       |  FROM en CROSS JOIN cents),
       |asg AS (
       |  SELECT vec_id, v, nrm, cell FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cell) AS rn
       |    FROM asg0) WHERE rn = 1),
       |ss AS (SELECT unnest(range(0, 8)) AS s),
       |sl AS (SELECT vec_id, s, list_slice(v, s * 8 + 1, s * 8 + 8) AS vs
       |  FROM $src, ss),
       |cb AS (SELECT s, CAST(vec_id AS INT) AS code, vs AS cw FROM sl WHERE vec_id < 16),
       |enc0 AS (SELECT sl.vec_id, sl.s, cb.code,
       |    ${dotSql("vs", "vs")} + ${dotSql("cw", "cw")} - CAST(2.0 AS DOUBLE) * ${dotSql("vs", "cw")} AS d2
       |  FROM sl JOIN cb ON sl.s = cb.s),
       |enc AS (SELECT vec_id, s, code FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, code) AS rn
       |    FROM enc0) WHERE rn = 1),
       |q AS (SELECT v AS qv, nrm AS qnrm FROM en WHERE vec_id = 20),
       |pb0 AS (SELECT cents.cell,
       |    ${dotSql("cents.cv", "qv")} / (cents.cnrm * qnrm) AS qccos
       |  FROM cents, q),
       |probed AS (SELECT cell FROM (
       |    SELECT cell, row_number() OVER (ORDER BY qccos DESC, cell) AS pr
       |    FROM pb0) WHERE pr <= 4),
       |qsl AS (SELECT s, vs AS qvs FROM sl WHERE vec_id = 20),
       |qt AS (SELECT cb.s, cb.code,
       |    ${dotSql("qvs", "qvs")} + ${dotSql("cw", "cw")} - CAST(2.0 AS DOUBLE) * ${dotSql("qvs", "cw")} AS qd2
       |  FROM cb JOIN qsl ON cb.s = qsl.s),
       |shortl AS (
       |  SELECT a.vec_id, a.cell, ROUND(SUM(qd2), 6) AS adc_dist
       |  FROM asg a
       |  JOIN probed p ON a.cell = p.cell
       |  JOIN enc ON enc.vec_id = a.vec_id
       |  JOIN qt ON qt.s = enc.s AND qt.code = enc.code
       |  WHERE a.vec_id <> 20
       |  GROUP BY a.vec_id, a.cell
       |  ORDER BY adc_dist, a.vec_id LIMIT 50)
       |SELECT sh.vec_id, sh.cell, sh.adc_dist,
       |  ROUND(${dotSql("en.v", "qv")} / (en.nrm * qnrm), 6) AS cos
       |FROM shortl sh JOIN en ON sh.vec_id = en.vec_id, q
       |ORDER BY cos DESC, sh.vec_id LIMIT 10""".stripMargin

  /** Shared DuckDB replay of the RESIDUAL IVF-PQ query (query 20,
    * k 10, nprobe 4, shortlist 50, per-probed-cell ADC): the oracle
    * for BOTH `sim_ivfpq_res_ann` (in-memory path) and
    * `sim_index_export_res` (the same query replayed from the exported
    * residual layout alone) — one SQL string, two engine paths, so the
    * entries also prove the two paths equal each other. */
  private lazy val ivfpqResAnnOracle: String =
    s"""WITH $evecCteSql,
       |en AS (SELECT vec_id, v, ${normSql("v")} AS nrm FROM evec),
       |cents AS (SELECT vec_id AS cell, v AS cv, nrm AS cnrm FROM en WHERE vec_id < 16),
       |asg0 AS (
       |  SELECT en.vec_id, en.v, en.nrm, cents.cell,
       |    ${dotSql("en.v", "cents.cv")} / (en.nrm * cents.cnrm) AS ccos
       |  FROM en CROSS JOIN cents),
       |asg AS MATERIALIZED (
       |  SELECT vec_id, v, nrm, cell FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cell) AS rn
       |    FROM asg0) WHERE rn = 1),
       |rb AS MATERIALIZED (
       |  SELECT a.vec_id, a.cell,
       |    list_transform(list_zip(a.v, c.cv), p -> p[1] - p[2]) AS ev
       |  FROM asg a JOIN cents c ON a.cell = c.cell),
       |ss AS (SELECT unnest(range(0, 8)) AS s),
       |sl AS MATERIALIZED (SELECT vec_id, s, list_slice(ev, s * 8 + 1, s * 8 + 8) AS vs
       |  FROM rb, ss),
       |cb AS MATERIALIZED (SELECT s, CAST(vec_id AS INT) AS code, vs AS cw FROM sl WHERE vec_id < 16),
       |enc0 AS (SELECT sl.vec_id, sl.s, cb.code,
       |    ${dotSql("vs", "vs")} + ${dotSql("cw", "cw")} - CAST(2.0 AS DOUBLE) * ${dotSql("vs", "cw")} AS d2
       |  FROM sl JOIN cb ON sl.s = cb.s),
       |enc AS (SELECT vec_id, s, code FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, code) AS rn
       |    FROM enc0) WHERE rn = 1),
       |q AS (SELECT v AS qv, nrm AS qnrm FROM en WHERE vec_id = 20),
       |pb0 AS (SELECT cents.cell, cents.cv,
       |    ${dotSql("cents.cv", "qv")} / (cents.cnrm * qnrm) AS qccos
       |  FROM cents, q),
       |probed AS (SELECT cell, cv FROM (
       |    SELECT cell, cv, row_number() OVER (ORDER BY qccos DESC, cell) AS pr
       |    FROM pb0) WHERE pr <= 4),
       |qres AS (SELECT p.cell AS qcell,
       |    list_transform(list_zip(qv, p.cv), x -> x[1] - x[2]) AS qr
       |  FROM probed p, q),
       |qsl AS (SELECT qcell, s, list_slice(qr, s * 8 + 1, s * 8 + 8) AS qvs
       |  FROM qres, ss),
       |qt AS (SELECT qsl.qcell, cb.s, cb.code,
       |    ${dotSql("qvs", "qvs")} + ${dotSql("cw", "cw")} - CAST(2.0 AS DOUBLE) * ${dotSql("qvs", "cw")} AS qd2
       |  FROM cb JOIN qsl ON cb.s = qsl.s),
       |shortl AS (
       |  SELECT a.vec_id, a.cell, ROUND(SUM(qd2), 6) AS adc_dist
       |  FROM asg a
       |  JOIN enc ON enc.vec_id = a.vec_id
       |  JOIN qt ON qt.qcell = a.cell AND qt.s = enc.s AND qt.code = enc.code
       |  WHERE a.vec_id <> 20
       |  GROUP BY a.vec_id, a.cell
       |  ORDER BY adc_dist, a.vec_id LIMIT 50)
       |SELECT sh.vec_id, sh.cell, sh.adc_dist,
       |  ROUND(${dotSql("en.v", "qv")} / (en.nrm * qnrm), 6) AS cos
       |FROM shortl sh JOIN en ON sh.vec_id = en.vec_id, q
       |ORDER BY cos DESC, sh.vec_id LIMIT 10""".stripMargin

  private def trainedQuantizers(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val dir = new java.io.File(
      s"spark-warehouse/graft_state/tq_v1_c64m8n16_${sourceStateKey(s, d, "embeddings.parquet")}")
    val centsP = new java.io.File(dir, "cents").toString
    val cbP = new java.io.File(dir, "codebook").toString
    if (!new java.io.File(cbP, "_SUCCESS").exists) {
      val emb = Tables.embeddings(s, d)
      Similarity.trainCentroids(emb, nCells = 64)
        .write.mode("overwrite").parquet(centsP)
      Similarity.trainCodebook(emb, m = 8, nCodes = 16)
        .write.mode("overwrite").parquet(cbP)
    }
    (s.read.parquet(centsP), s.read.parquet(cbP))
  }

  /** Banded cosine near-dup pair frame SHARED by `dd_embedding_neardup`
    * and `sim_dbscan` (identical parameters: threshold 0.4, occupancy 63,
    * bands 4): built ONCE per corpus identity and persisted as parquet
    * (the e816ceb dedup-index pattern). The pair generation dominated
    * BOTH entries' wall before — sim_dbscan at sf1 (33.7 s) spent ~2/3
    * of it regenerating the exact pair frame dd_embedding_neardup had
    * already computed. At 100 TB this IS the production posture anyway:
    * the near-dup pair relation is a maintained table consumed by every
    * downstream triage (components, DBSCAN, prune), never recomputed per
    * query. */
  private def bandedPairsShared(s: SparkSession, d: String): DataFrame = {
    val p = new java.io.File(
      s"spark-warehouse/graft_state/bp_v1_t04o63b4d64_${sourceStateKey(s, d, "embeddings.parquet")}").toString
    if (!new java.io.File(p, "_SUCCESS").exists) {
      Similarity.lshNearDupPairsAuto(Tables.embeddings(s, d), 0.4,
        targetOccupancy = 63, bands = 4, dim = 64)
        .write.mode("overwrite").parquet(p)
    }
    s.read.parquet(p)
  }

  /** Persisted representatives frame shared by `v3_representatives` and
    * `v3b_rep_invariants` — both consume the SAME driver-side TF-IDF +
    * k-means fit ([[graft.ml.Representatives]]). Cluster summaries ARE
    * a maintained table in production (a model-derived artifact, refreshed when the
    * corpus changes — never refit per dashboard read), so the fit runs
    * once per corpus identity and persists. The key's `rp_vN_` prefix
    * names the fit as well as the corpus: bump it whenever the fit
    * changes, or a warehouse holding an older fit keeps serving it. */
  private def repsShared(s: SparkSession, d: String): DataFrame = {
    val p = new java.io.File(
      s"spark-warehouse/graft_state/rp_v2_${sourceStateKey(s, d, "documents.parquet")}").toString
    if (!new java.io.File(p, "_SUCCESS").exists) {
      graft.ml.Representatives.representatives(scoredDocs(s, d))
        .write.mode("overwrite").parquet(p)
    }
    s.read.parquet(p)
  }

  /** Persisted IVF index `(vec_id, cell)` for `sim_incr_ivf` — the base
    * corpus assigned ONCE under the deterministic first-16 centroid
    * convention and stored as a parquet table keyed on the embeddings
    * file's identity (the trainedQuantizers lifecycle). The entry's
    * update step appends a batch against the SAME pinned centroids and
    * probes the union — base assignments are read back, never
    * recomputed. */
  private def ivfIndexShared(s: SparkSession, d: String): DataFrame = {
    val p = new java.io.File(
      s"spark-warehouse/graft_state/iv_v1_c16_${sourceStateKey(s, d, "embeddings.parquet")}").toString
    if (!new java.io.File(p, "_SUCCESS").exists) {
      val emb = Tables.embeddings(s, d)
      Similarity.ivfAssignments(emb, Similarity.ivfCentroids(emb, 16))
        .write.mode("overwrite").parquet(p)
    }
    s.read.parquet(p)
  }

  /** Guarded v=1 build of the exported IVF-PQ layout (deterministic
    * first-16 centroids/codebook, raw encoding) SHARED by
    * `sim_index_export` (replays v=1) and `sim_index_compact` (appends
    * a delta to v=1 and compacts into v=2) — one layout living the full
    * build→serve→append→compact lifecycle. Returns the layout dir. */
  private def ivfPqIndexShared(s: SparkSession, d: String): String = {
    val dir = s"spark-warehouse/graft_state/ivfpq_index_${sourceStateKey(s, d, "embeddings.parquet")}"
    if (!new java.io.File(s"$dir/v=1/manifest/_SUCCESS").exists) {
      val emb = Tables.embeddings(s, d)
      Similarity.writeIvfPqIndex(emb,
        Similarity.deterministicCentroids(emb, nCells = 16),
        Similarity.deterministicCodebook(emb, nCodes = 16), dir, version = 1)
    }
    dir
  }

  /** Shared oracle for the two incremental-components entries
    * (`dd_incr_components`, `dd_incr_indexed`): the FULL recompute over
    * corpus ∪ probe pairs via the recursive-CTE closure — both engine
    * paths (recompute-everything and persisted-index) must hash to this. */
  private lazy val incrComponentsOracle: String =
    Sentiment.oracleCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
      minhashChainCtes(32, 8, "SELECT doc_id AS id, tokens FROM toks") +
      mhPairsCte(0.5) +
      minhashProbeOracleCtes(32, 8) +
      """,
        |mp_pairs AS (
        |  SELECT probe_id AS id_a, corpus_id AS id_b FROM mp_j
        |  WHERE CAST(inter AS DOUBLE) / CAST(sz_p + sz_c - inter AS DOUBLE) > CAST(0.5 AS DOUBLE)),
        |alledges AS (
        |  SELECT id_a AS src, id_b AS dst FROM mh_pairs
        |  UNION SELECT id_b, id_a FROM mh_pairs
        |  UNION SELECT id_a, id_b FROM mp_pairs
        |  UNION SELECT id_b, id_a FROM mp_pairs),
        |areach AS (
        |  SELECT src AS id, dst AS r FROM alledges
        |  UNION
        |  SELECT areach.id, e.dst FROM areach JOIN alledges e ON areach.r = e.src)
        |SELECT id, LEAST(id, MIN(r)) AS canonical FROM areach GROUP BY id
        |ORDER BY id""".stripMargin

  // ------------------------------------------------------------------
  // Query catalog
  // ------------------------------------------------------------------

  private lazy val catalog: Seq[Q] = Seq(

    Q("p1_quality_filter",
      // noPush fences the EXPENSIVE conjunct (its expression tree embeds
      // the whole scoring pipeline; pushed below the loader's floor
      // exchange it re-serialized onto the one-split scan — 5.3 s -> 1.0 s
      // at sf1); the cheap n_chars conjunct still pushes into the scan's
      // PushedFilters (PlanShapeSpec guards both placements)
      (s, d) => scoredDocs(s, d)
        .filter(plans.VectorExpressions.noPush(col("original_score") >= 0.3) &&
          col("n_chars") >= 30)
        .select("doc_id", "text", "sentiment", "original_score")
        .orderBy("doc_id"),
      Some(Sentiment.oracleCte +
        """ SELECT doc_id, text, sentiment, original_score FROM scored
          | WHERE original_score >= CAST(0.3 AS DOUBLE) AND n_chars >= 30
          | ORDER BY doc_id""".stripMargin)),

    Q("a1_sentiment_distribution",
      (s, d) => Analytics.sentimentDistribution(scoredDocs(s, d)),
      Some(Sentiment.oracleCte +
        """ SELECT sentiment, CAST(count(*) AS BIGINT) AS cnt
          | FROM sent GROUP BY sentiment ORDER BY sentiment""".stripMargin)),

    Q("a2_source_distribution",
      (s, d) => Analytics.distributionWithPct(Tables.documents(s, d), "source"),
      Some(
        """WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS cnt FROM documents GROUP BY source)
          |SELECT source, cnt,
          |  ROUND(cnt * CAST(100.0 AS DOUBLE) / CAST(SUM(cnt) OVER () AS DOUBLE), 6) AS pct
          |FROM c ORDER BY source""".stripMargin)),

    Q("a3_minmax_normalize",
      (s, d) => Analytics.normalizeScores(scoredDocs(s, d))
        .select("doc_id", "sentiment", "original_score", "normalized_score")
        .orderBy("doc_id"),
      Some(Sentiment.oracleCte +
        """ SELECT doc_id, sentiment, original_score,
          |   CASE WHEN mx = mn THEN CAST(0.5 AS DOUBLE)
          |        ELSE (original_score - mn) / (mx - mn) END AS normalized_score
          | FROM (SELECT *,
          |         min(original_score) OVER (PARTITION BY sentiment) AS mn,
          |         max(original_score) OVER (PARTITION BY sentiment) AS mx
          |       FROM scored)
          | ORDER BY doc_id""".stripMargin)),

    Q("a4_daily_trends",
      (s, d) => trendsOf(s, d),
      Some(s"WITH $trendsCteSql SELECT * FROM trends ORDER BY date")),

    Q("a5_trends_summary",
      (s, d) => Analytics.trendsSummary(trendsOf(s, d)),
      Some(s"""WITH $trendsCteSql
              |SELECT CAST(count(*) AS BIGINT) AS total_dates,
              |  min(date) AS start_date, max(date) AS end_date,
              |  CAST(SUM(total) AS BIGINT) AS total_reviews,
              |  CAST(SUM(positive) AS BIGINT) AS total_positive,
              |  CAST(SUM(negative) AS BIGINT) AS total_negative,
              |  CAST(SUM(neutral) AS BIGINT) AS total_neutral
              |FROM trends""".stripMargin)),

    Q("a6_confidence_stats",
      (s, d) => Analytics.confidenceStats(scoredDocs(s, d), col("n_chars") >= 200),
      Some(Sentiment.oracleCte +
        """ SELECT CAST(count(*) AS BIGINT) AS total_samples,
          |   ROUND(avg(confidence), 6) AS avg_confidence,
          |   ROUND(stddev_samp(confidence), 6) AS std_confidence,
          |   min(confidence) AS min_confidence,
          |   max(confidence) AS max_confidence,
          |   ROUND(avg(original_score), 6) AS avg_original_score,
          |   CAST(SUM(CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END) AS BIGINT) AS candidates_count
          | FROM scored""".stripMargin)),

    Q("a6b_performance_summary",
      // A6 document instance — the reference's performance_summary.json
      // (ref vizualization.py:308-324) minus the wall-clock fields. Gate
      // shape: sub-objects flattened to dotted scalar columns;
      // Analytics.performanceSummary keeps the nested library surface.
      (s, d) => Analytics.performanceSummaryFlat(scoredDocs(s, d), col("n_chars") >= 200),
      Some(Sentiment.oracleCte +
        """ SELECT CAST(count(*) AS BIGINT) AS total_samples,
          |   CAST(SUM(CASE WHEN sentiment = 'POSITIVE' THEN 1 ELSE 0 END) AS BIGINT) AS sentiment_distribution_positive,
          |   CAST(SUM(CASE WHEN sentiment = 'NEGATIVE' THEN 1 ELSE 0 END) AS BIGINT) AS sentiment_distribution_negative,
          |   CAST(SUM(CASE WHEN sentiment = 'NEUTRAL' THEN 1 ELSE 0 END) AS BIGINT) AS sentiment_distribution_neutral,
          |   ROUND(avg(original_score), 6) AS score_distribution_avg_original_score,
          |   ROUND(avg(confidence), 6) AS score_distribution_avg_sentiment_confidence,
          |   CAST(SUM(CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END) AS BIGINT) AS score_distribution_candidates_count,
          |   ROUND(avg(confidence), 6) AS confidence_stats_mean,
          |   ROUND(stddev_samp(confidence), 6) AS confidence_stats_std,
          |   min(confidence) AS confidence_stats_min,
          |   max(confidence) AS confidence_stats_max
          | FROM scored""".stripMargin)),

    Q("a7_confidence_histogram",
      (s, d) => Analytics.histogram(scoredDocs(s, d), "confidence", 30),
      Some(Sentiment.oracleCte +
        """, b AS (SELECT min(confidence) AS mn, max(confidence) AS mx FROM sent)
          | SELECT CAST(CASE WHEN b.mx = b.mn THEN 0
          |   ELSE LEAST(FLOOR((confidence - b.mn) / ((b.mx - b.mn) / CAST(30.0 AS DOUBLE))), 29)
          |   END AS BIGINT) AS bin,
          |   CAST(count(*) AS BIGINT) AS cnt
          | FROM sent, b GROUP BY 1 ORDER BY bin""".stripMargin)),

    Q("a7b_histogram_per_group",
      (s, d) => Analytics.histogramPerGroup(scoredDocs(s, d), "sentiment", "confidence", 20),
      Some(Sentiment.oracleCte +
        """, b AS (SELECT sentiment, confidence,
          |    min(confidence) OVER (PARTITION BY sentiment) AS mn,
          |    max(confidence) OVER (PARTITION BY sentiment) AS mx
          |  FROM sent)
          | SELECT sentiment,
          |   CAST(CASE WHEN mx = mn THEN 0
          |     ELSE LEAST(FLOOR((confidence - mn) / ((mx - mn) / CAST(20.0 AS DOUBLE))), 19)
          |     END AS BIGINT) AS bin,
          |   CAST(count(*) AS BIGINT) AS cnt
          | FROM b GROUP BY 1, 2 ORDER BY sentiment, bin""".stripMargin)),

    Q("ad_distinct_counts",
      // exact half is oracled; the HLL++ sketch half is engine-specific
      // (cross-engine sketch parity is not a meaningful contract) and is
      // bounds-checked in AnalyticsSpec instead.
      (s, d) => Analytics.distinctCounts(Tables.events(s, d), "event_type", "user_id")
        .select("event_type", "exact_distinct"),
      Some("""SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    Q("a8_word_frequency",
      (s, d) => Analytics.topWords(Tables.documents(s, d), "text", 15),
      Some(s"""WITH $wordsCteSql
              |SELECT word, CAST(count(*) AS BIGINT) AS cnt
              |FROM words GROUP BY word ORDER BY cnt DESC, word LIMIT 15""".stripMargin)),

    Q("a8b_wordcloud_words",
      // A8 wordcloud instance (ref vizualization.py:226-233): top-100
      // frequencies feeding WordCloud(max_words=100), with the reference's
      // verbatim stoplist rather than the corpus-local one
      (s, d) => Analytics.wordcloudWords(Tables.documents(s, d), "text", 100),
      Some(s"""WITH ${wordsCte(Analytics.RefStopWords)}
              |SELECT word, CAST(count(*) AS BIGINT) AS cnt
              |FROM words GROUP BY word ORDER BY cnt DESC, word LIMIT 100""".stripMargin)),

    Q("a9_top_words_per_lang",
      (s, d) => Analytics.topWordsPerGroup(Tables.documents(s, d), "text", "lang", 5),
      Some(s"""WITH $wordsCteSql,
              |wc AS (SELECT lang, word, CAST(count(*) AS BIGINT) AS cnt FROM words GROUP BY lang, word),
              |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, word) AS INT) AS rn FROM wc)
              |SELECT lang, word, cnt, rn FROM r WHERE rn <= 5 ORDER BY lang, rn""".stripMargin)),

    Q("a10_daily_ratio",
      (s, d) => Analytics.dailyRatio(trendsOf(s, d)),
      Some(s"""WITH $trendsCteSql
              |SELECT date, CAST(positive - negative AS DOUBLE) / CAST(total AS DOUBLE) AS sentiment_ratio
              |FROM trends ORDER BY date""".stripMargin)),

    Q("a11_trend_risk",
      (s, d) => Risk.trendRisk(trendsOf(s, d)),
      Some(s"""WITH $trendsCteSql,
              |$trendRiskCteSql
              |SELECT n_dates, recent_negative, recent_total, prev_negative, prev_total,
              |  last3_negative, last3_total, recent_neg_ratio, prev_neg_ratio,
              |  last3_neg_ratio, trend_multiplier, trend_status
              |FROM trisk2""".stripMargin)),

    Q("f5_date_extract",
      (s, d) => {
        val dt = to_date(col("o_orderdate"))
        val raw = when(col("o_orderkey") % 3 === 0,
          concat(lit("Date of visit: "), date_format(dt, "MMMM"), lit(" "),
            dayofmonth(dt).cast("string"), lit(", "), year(dt).cast("string")))
          .when(col("o_orderkey") % 3 === 1,
            concat(lit("seen on "), date_format(dt, "yyyy-MM-dd"), lit(" ok")))
          .otherwise(lit("no date available"))
        Tables.orders(s, d)
          .select(col("o_orderkey"), raw.as("raw_text"))
          .withColumn("visit_date", TextFns.extractDateStr(col("raw_text")))
          .orderBy("o_orderkey")
      },
      Some(s"""WITH raw AS (
              |  SELECT o_orderkey,
              |    CASE WHEN o_orderkey % 3 = 0 THEN
              |      'Date of visit: ' || monthname(CAST(o_orderdate AS DATE)) || ' ' ||
              |      CAST(day(CAST(o_orderdate AS DATE)) AS VARCHAR) || ', ' ||
              |      CAST(year(CAST(o_orderdate AS DATE)) AS VARCHAR)
              |    WHEN o_orderkey % 3 = 1 THEN
              |      'seen on ' || strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') || ' ok'
              |    ELSE 'no date available' END AS raw_text
              |  FROM orders)
              |SELECT o_orderkey, raw_text, ${TextFns.extractDateSql("raw_text")} AS visit_date
              |FROM raw ORDER BY o_orderkey""".stripMargin)),

    Q("o1_topk_by_score",
      (s, d) => Analytics.topKByScore(scoredDocs(s, d), 100),
      Some(Sentiment.oracleCte +
        """ SELECT doc_id, original_score, sentiment FROM scored
          | ORDER BY original_score DESC, doc_id LIMIT 100""".stripMargin)),

    Q("o2_orderby_nulls_first",
      (s, d) => {
        val dt = to_date(col("o_orderdate"))
        val raw = when(col("o_orderkey") % 3 === 1,
          concat(lit("seen on "), date_format(dt, "yyyy-MM-dd"), lit(" ok")))
          .otherwise(lit("no date available"))
        Tables.orders(s, d)
          .select(col("o_orderkey"), TextFns.extractDateStr(raw).as("visit_date"))
          .orderBy(col("visit_date").asc_nulls_first, col("o_orderkey"))
          .limit(500)
      },
      Some("""WITH raw AS (
             |  SELECT o_orderkey,
             |    CASE WHEN o_orderkey % 3 = 1
             |      THEN strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d')
             |      ELSE NULL END AS visit_date
             |  FROM orders)
             |SELECT o_orderkey, visit_date FROM raw
             |ORDER BY visit_date ASC NULLS FIRST, o_orderkey LIMIT 500""".stripMargin)),

    Q("o5_argmax_per_group",
      (s, d) => Analytics.argmaxPerGroup(scoredDocs(s, d)),
      Some(Sentiment.oracleCte +
        """, r AS (SELECT sentiment, doc_id, confidence,
          |    row_number() OVER (PARTITION BY sentiment ORDER BY confidence DESC, doc_id) AS rn
          |  FROM sent)
          | SELECT sentiment, doc_id, confidence FROM r WHERE rn = 1 ORDER BY sentiment""".stripMargin)),

    Q("u2_dedup_first_occurrence",
      (s, d) => Analytics.dedupFirstOccurrence(Tables.documents(s, d), "text", "doc_id"),
      Some("""SELECT text, CAST(min(doc_id) AS BIGINT) AS first_id, CAST(count(*) AS BIGINT) AS n_dups
             |FROM documents WHERE length(text) > 20
             |GROUP BY text ORDER BY first_id""".stripMargin)),

    Q("f11_insurance_risk",
      (s, d) => Risk.insuranceRisk(scoredDocs(s, d), trendsOf(s, d)),
      Some(riskOracleCtes +
        """
          |SELECT
          |  ROUND(CAST(5000.0 AS DOUBLE) * sent_mult * conf_mult * sample_mult * trend_multiplier, 2) AS insurance_cost,
          |  CASE WHEN risk_score >= 70 THEN 'Critical'
          |       WHEN risk_score >= 50 THEN 'High'
          |       WHEN risk_score >= 30 THEN 'Medium'
          |       ELSE 'Low' END AS risk_level,
          |  risk_score,
          |  ROUND(pos_r * CAST(100.0 AS DOUBLE), 1) AS positive_percentage,
          |  ROUND(neg_r * CAST(100.0 AS DOUBLE), 1) AS negative_percentage,
          |  ROUND(neu_r * CAST(100.0 AS DOUBLE), 1) AS neutral_percentage,
          |  ROUND(sent_mult, 2) AS sentiment_multiplier,
          |  ROUND(avg_confidence, 3) AS average_confidence,
          |  ROUND(std_confidence, 3) AS confidence_std,
          |  ROUND(min_confidence, 3) AS min_confidence,
          |  ROUND(conf_mult, 2) AS confidence_multiplier,
          |  total_samples,
          |  ROUND(sample_mult, 2) AS sample_multiplier,
          |  ROUND(trend_multiplier, 2) AS trend_multiplier,
          |  trend_status
          |FROM fin""".stripMargin)),

    Q("f11b_insurance_breakdown",
      // F11 with the reference's breakdown{...} document
      // (insurance_calculator.py:103-132) — same single broadcast row.
      // Gate shape: the breakdown sub-objects flattened to dotted scalar
      // columns (the gate's pandas hasher cannot hash struct cells);
      // Risk.insuranceRiskNested keeps the nested library surface.
      (s, d) => Risk.insuranceRiskBreakdownFlat(scoredDocs(s, d), trendsOf(s, d)),
      Some(riskOracleCtes +
        """
          |SELECT
          |  ROUND(CAST(5000.0 AS DOUBLE) * sent_mult * conf_mult * sample_mult * trend_multiplier, 2) AS insurance_cost,
          |  CASE WHEN risk_score >= 70 THEN 'Critical'
          |       WHEN risk_score >= 50 THEN 'High'
          |       WHEN risk_score >= 30 THEN 'Medium'
          |       ELSE 'Low' END AS risk_level,
          |  risk_score,
          |  CAST(5000.0 AS DOUBLE) AS breakdown_base_rate,
          |  ROUND(pos_r * CAST(100.0 AS DOUBLE), 1) AS breakdown_sentiment_factors_positive_percentage,
          |  ROUND(neg_r * CAST(100.0 AS DOUBLE), 1) AS breakdown_sentiment_factors_negative_percentage,
          |  ROUND(neu_r * CAST(100.0 AS DOUBLE), 1) AS breakdown_sentiment_factors_neutral_percentage,
          |  ROUND(sent_mult, 2) AS breakdown_sentiment_factors_sentiment_multiplier,
          |  ROUND(avg_confidence, 3) AS breakdown_confidence_factors_average_confidence,
          |  ROUND(std_confidence, 3) AS breakdown_confidence_factors_confidence_std,
          |  ROUND(min_confidence, 3) AS breakdown_confidence_factors_min_confidence,
          |  ROUND(conf_mult, 2) AS breakdown_confidence_factors_confidence_multiplier,
          |  total_samples AS breakdown_sample_factors_total_samples,
          |  ROUND(sample_mult, 2) AS breakdown_sample_factors_sample_multiplier,
          |  ROUND(trend_multiplier, 2) AS breakdown_trend_factors_trend_multiplier,
          |  trend_status AS breakdown_trend_factors_trend_status
          |FROM fin""".stripMargin)),

    Q("st_hourly_windows",
      (s, d) => Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 6).as("sum_value"))
        .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
          col("event_type"), col("cnt"), col("sum_value"))
        .orderBy("window_start", "event_type"),
      Some("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
             |  event_type, CAST(count(*) AS BIGINT) AS cnt, ROUND(SUM(value), 6) AS sum_value
             |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin)),

    Q("h1_pricing_summary",
      (s, d) => Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("sum_disc_price"),
          round(avg(col("l_quantity")), 6).as("avg_qty"),
          round(avg(col("l_extendedprice")), 6).as("avg_price"),
          round(avg(col("l_discount")), 6).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some("""SELECT l_returnflag, l_linestatus,
             |  ROUND(SUM(l_quantity), 2) AS sum_qty,
             |  ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
             |  ROUND(SUM(l_extendedprice * (CAST(1.0 AS DOUBLE) - l_discount)), 2) AS sum_disc_price,
             |  ROUND(AVG(l_quantity), 6) AS avg_qty,
             |  ROUND(AVG(l_extendedprice), 6) AS avg_price,
             |  ROUND(AVG(l_discount), 6) AS avg_disc,
             |  CAST(count(*) AS BIGINT) AS count_order
             |FROM lineitem GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    Q("h3_top_customers_by_revenue",
      (s, d) => {
        val li = Tables.lineitem(s, d)
        val o = Tables.orders(s, d)
        val c = Tables.customer(s, d)
        li.join(o, li("l_orderkey") === o("o_orderkey"))
          .join(broadcast(c), o("o_custkey") === c("c_custkey"))
          .groupBy(col("c_custkey"), col("c_name"))
          .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))
          .orderBy(col("revenue").desc, col("c_custkey"))
          .limit(10)
      },
      Some("""SELECT c_custkey, c_name,
             |  ROUND(SUM(l_extendedprice * (CAST(1.0 AS DOUBLE) - l_discount)), 2) AS revenue
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |GROUP BY c_custkey, c_name
             |ORDER BY revenue DESC, c_custkey LIMIT 10""".stripMargin)),

    Q("p8_confidence_filter",
      // noPush fence for the computed-column predicate (see p1)
      (s, d) => scoredDocs(s, d)
        .filter(plans.VectorExpressions.noPush(col("confidence") >= 0.7))
        .select("doc_id", "sentiment", "confidence")
        .orderBy("doc_id"),
      Some(Sentiment.oracleCte +
        """ SELECT doc_id, sentiment, confidence FROM sent
          | WHERE confidence >= CAST(0.7 AS DOUBLE) ORDER BY doc_id""".stripMargin)),

    Q("f9_truncate",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"),
          TextFns.truncateWithEllipsis(col("text"), 100).as("display_text"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  CASE WHEN length(text) > 100 THEN substr(text, 1, 100) || '...' ELSE text END AS display_text
             |FROM documents ORDER BY doc_id""".stripMargin)),

    Q("o3_deterministic_shuffle",
      // O3 (ref :606): deterministic permutation; row order is engine-defined,
      // so no cross-engine oracle — the driver records a rows-only check.
      (s, d) => Tables.documents(s, d)
        .orderBy(rand(42), col("doc_id"))
        .select("doc_id", "text")
        .limit(50),
      None),

    Q("o4_head_per_group",
      // head-k per group via the native bounded-heap aggregate — the
      // row_number window form would sort every fact row into one task
      // per sentiment (3 partitions); the heap caps the shuffle at k rows
      // per (task, group). Order doc_id ASC = (-doc_id) DESC under the
      // heap's (score DESC, tie ASC) contract.
      (s, d) => {
        val top = scoredDocs(s, d).groupBy("sentiment")
          .agg(graft.plans.TopK.topKByScore(
            (-col("doc_id")).cast("double"), col("doc_id"), col("doc_id"), 50).as("top"))
        top.select(col("sentiment"), posexplode(col("top")))
          .select(col("sentiment"), col("col").as("doc_id"),
            (col("pos") + 1).cast("int").as("rn"))
          .orderBy("sentiment", "rn")
      },
      Some(Sentiment.oracleCte +
        """, r AS (SELECT sentiment, doc_id,
          |    CAST(row_number() OVER (PARTITION BY sentiment ORDER BY doc_id) AS INT) AS rn
          |  FROM sent)
          | SELECT sentiment, doc_id, rn FROM r WHERE rn <= 50 ORDER BY sentiment, rn""".stripMargin)),

    Q("dl_distinct_limit",
      (s, d) => Tables.documents(s, d)
        .select("source").distinct().orderBy("source").limit(5),
      Some("SELECT DISTINCT source FROM documents ORDER BY source LIMIT 5")),

    Q("o9_topk_heap",
      // per-group top-k via the native bounded-heap aggregate
      // (graft.plans.TopKByScore): partial aggregation caps the shuffle at
      // k rows per (task, group) where the window formulation (o4-o6)
      // shuffles and sorts every row; same deterministic
      // (score DESC, doc_id ASC) order as the row_number oracle
      (s, d) => {
        val top = scoredDocs(s, d)
          .groupBy("sentiment")
          .agg(graft.plans.TopK.topKByScore(
            col("confidence"), col("doc_id"),
            struct(col("doc_id"), col("confidence")), 5).as("top"))
        top.select(col("sentiment"), posexplode(col("top")))
          .select(col("sentiment"), (col("pos") + 1).cast("int").as("rank"),
            col("col.doc_id").as("doc_id"), col("col.confidence").as("confidence"))
          .orderBy("sentiment", "rank")
      },
      Some(Sentiment.oracleCte +
        """, r AS (SELECT sentiment, doc_id, confidence,
          |    CAST(row_number() OVER (
          |      PARTITION BY sentiment ORDER BY confidence DESC, doc_id) AS INT) AS rank
          |  FROM sent)
          | SELECT sentiment, rank, doc_id, confidence FROM r WHERE rank <= 5
          | ORDER BY sentiment, rank""".stripMargin)),

    Q("j1_containment_dedup",
      (s, d) => {
        val docs = Tables.documents(s, d)
        Dedup.containmentAntiJoin(
          docs.filter(col("doc_id") % 2 === 1),
          docs.filter(col("doc_id") % 2 === 0),
          "text", "doc_id", n = 4)
      },
      Some(Sentiment.oracleCte +
        s""", ${dshCteSql(4)},
           |cand AS (SELECT doc_id FROM documents WHERE doc_id % 2 = 1),
           |candsh AS (SELECT doc_id, sh FROM dsh WHERE doc_id % 2 = 1),
           |exsh AS (SELECT DISTINCT sh FROM dsh WHERE doc_id % 2 = 0),
           |hit AS (SELECT DISTINCT c.doc_id FROM candsh c JOIN exsh e USING (sh))
           |SELECT doc_id FROM cand WHERE doc_id NOT IN (SELECT doc_id FROM hit)
           |ORDER BY doc_id""".stripMargin)),

    Q("dd_ngram_jaccard",
      (s, d) => Dedup.ngramJaccardPairs(Tables.documents(s, d),
        "text", "doc_id", n = 3, minJaccard = 0.1),
      Some(Sentiment.oracleCte +
        s""", ${dshCteSql(3)},
           |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM dsh GROUP BY doc_id),
           |inter AS (
           |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS inter
           |  FROM dsh a JOIN dsh b ON a.sh = b.sh AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2),
           |j AS (
           |  SELECT id_a, id_b, inter, sa.sz AS sz_a, sb.sz AS sz_b,
           |    CAST(inter AS DOUBLE) / CAST(sa.sz + sb.sz - inter AS DOUBLE) AS jaccard
           |  FROM inter
           |  JOIN sizes sa ON inter.id_a = sa.doc_id
           |  JOIN sizes sb ON inter.id_b = sb.doc_id)
           |SELECT * FROM j WHERE jaccard > CAST(0.1 AS DOUBLE)
           |ORDER BY id_a, id_b""".stripMargin)),

    Q("dd_components",
      // connected components + canonical member over the MinHash
      // candidate→exact-verify pair graph (NOT the full shingle
      // self-join: pair generation through LSH banding is the shape that
      // survives 100 TB — the all-pairs-sharing-a-shingle join was ~23 s
      // of this entry's 27 s at sf1). The Spark side is iterative
      // min-label propagation; the oracle replays the identical banded
      // pipeline (portable md5 permutation family) + a recursive CTE
      (s, d) => Dedup.canonicalComponents(docPairsShared(s, d)),
      Some(mhComponentsOracleCtes +
        """
          |SELECT id, LEAST(id, MIN(r)) AS canonical FROM mh_reach GROUP BY id
          |ORDER BY id""".stripMargin)),

    Q("pipe_corpus_report",
      // the END-TO-END training-data pipeline in one composed plan:
      // quality gate (pushed predicate) → near-dup prune (anti-join on
      // the O(dups) drop set) → deterministic train split (id arithmetic)
      // → per-language report; every stage is an already-oracled operator
      (s, d) => operators.TrainingPipeline.corpusReport(
        Tables.documents(s, d)),
      Some(Sentiment.oracleCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
        ",\ng AS (SELECT * FROM toks WHERE n_chars >= 30)" +
        minhashChainCtes(32, 8, "SELECT doc_id AS id, tokens FROM g") +
        mhPairsCte(0.5) + mhReachCtes() +
        s""",
           |gcanon AS (SELECT id, LEAST(id, MIN(r)) AS canonical FROM mh_reach GROUP BY id),
           |pruned AS (SELECT * FROM g
           |  WHERE doc_id NOT IN (SELECT id FROM gcanon WHERE id <> canonical)),
           |train AS (SELECT * FROM pruned
           |  WHERE ((doc_id % 1000000007) * 2654435761) % 100 < 80)
           |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(SUM(len(tokens)) AS BIGINT) AS total_tokens,
           |  ROUND(CAST(SUM(len(tokens)) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS avg_tokens
           |FROM train GROUP BY lang ORDER BY lang""".stripMargin)),

    Q("dd_cluster_stats",
      // per-component dedup triage: size, verified-pair count and mean
      // pair jaccard per cluster — the report read before a destructive
      // prune (high avg + size≈pairs = clique; low avg = chained merge).
      // Both sides average the ROUND(6)-ed per-pair jaccard (the pair
      // frame's published value), so the aggregation inputs are
      // bit-identical — no rounding-boundary flip on regenerated data
      (s, d) => Dedup.clusterStats(docPairsShared(s, d)),
      Some(mhComponentsOracleCtes +
        """,
          |canon AS (SELECT id, LEAST(id, MIN(r)) AS canonical FROM mh_reach GROUP BY id),
          |ccs AS (SELECT canonical, CAST(count(*) AS BIGINT) AS size FROM canon GROUP BY canonical),
          |cps AS (SELECT c.canonical, CAST(count(*) AS BIGINT) AS n_pairs,
          |    ROUND(AVG(jj.jaccard), 6) AS avg_jaccard
          |  FROM mh_pairs jj
          |  JOIN canon c ON jj.id_a = c.id
          |  GROUP BY 1)
          |SELECT ccs.canonical, ccs.size, cps.n_pairs, cps.avg_jaccard
          |FROM ccs JOIN cps USING (canonical)
          |ORDER BY canonical""".stripMargin)),

    Q("dd_prune_canonical",
      // the corpus-pruning step after pair generation: drop every
      // non-canonical member of each near-dup component (one anti-join
      // against the small drop set), keep canonicals + untouched docs;
      // pairs come from the banded MinHash path, generated ONCE
      (s, d) => Dedup.pruneToCanonical(
        Tables.documents(s, d), docPairsShared(s, d), "doc_id")
        .select("doc_id", "lang", "source")
        .orderBy("doc_id"),
      Some(mhComponentsOracleCtes +
        """,
          |canon AS (SELECT id, LEAST(id, MIN(r)) AS canonical FROM mh_reach GROUP BY id)
          |SELECT d.doc_id, d.lang, d.source FROM documents d
          |WHERE d.doc_id NOT IN (SELECT id FROM canon WHERE id <> canonical)
          |ORDER BY d.doc_id""".stripMargin)),

    Q("dd_split_leakage",
      // eval-integrity CENSUS (the Lee et al. dedup-paper argument): the
      // full near-dup pair matrix of an EXISTING train/val/test
      // assignment — each cross-split pair is a test answer the model
      // saw in training. Complements dc_split_leakage, which PROBES
      // candidate docs against the train index before admission; this
      // one audits a whole assignment after the fact, for all three
      // splits at once. Split hash is the pipe_corpus_report arithmetic
      // (products bounded under 2^63 — both engines agree exactly); the
      // pair universe is the maintained shared pair table, so the audit
      // is O(pairs) arithmetic + one tiny aggregation
      (s, d) => {
        def splitOf(c: Column): Column = {
          val b = ((c % 1000000007L) * 2654435761L) % 100L
          when(b < 80, "train").when(b < 90, "val").otherwise("test")
        }
        docPairsShared(s, d)
          .select(splitOf(col("id_a")).as("sa"), splitOf(col("id_b")).as("sb"))
          .select(least(col("sa"), col("sb")).as("split_a"),
            greatest(col("sa"), col("sb")).as("split_b"))
          .groupBy("split_a", "split_b")
          .agg(count(lit(1)).as("n_pairs"))
          .withColumn("leak", col("split_a") =!= col("split_b"))
          .orderBy("split_a", "split_b")
      },
      Some(Sentiment.oracleCte +
        minhashChainCtes(32, 8, "SELECT doc_id AS id, tokens FROM toks") +
        mhPairsCte(0.5) +
        """,
          |lab AS (SELECT
          |    CASE WHEN ((id_a % 1000000007) * 2654435761) % 100 < 80 THEN 'train'
          |         WHEN ((id_a % 1000000007) * 2654435761) % 100 < 90 THEN 'val'
          |         ELSE 'test' END AS sa,
          |    CASE WHEN ((id_b % 1000000007) * 2654435761) % 100 < 80 THEN 'train'
          |         WHEN ((id_b % 1000000007) * 2654435761) % 100 < 90 THEN 'val'
          |         ELSE 'test' END AS sb
          |  FROM mh_pairs)
          |SELECT LEAST(sa, sb) AS split_a, GREATEST(sa, sb) AS split_b,
          |  CAST(count(*) AS BIGINT) AS n_pairs,
          |  LEAST(sa, sb) <> GREATEST(sa, sb) AS leak
          |FROM lab GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    Q("dd_exact_normalized",
      // "fuzzy-exact" dedup on the normalized-text key (lowercase,
      // punctuation→space, whitespace collapse) — the Dolma-style stage
      // between byte-exact dedup (u2) and MinHash: catches case/punct/
      // spacing respellings at exact-dedup cost (one groupBy on a
      // projected key, no pair generation). Planted variants (upper-case
      // + injected punctuation, doc_id+2000000) must all collapse onto
      // their sources; first occurrence (min id) survives
      (s, d) => {
        val docs = Tables.documents(s, d).select("doc_id", "text")
        val variants = docs.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 2000000).as("doc_id"),
            concat(lit("  "), upper(col("text")), lit(" !!! ")).as("text"))
        docs.unionByName(variants)
          .withColumn("k", TextFns.normalizedKey(col("text")))
          .groupBy("k")
          .agg(min("doc_id").as("doc_id"),
            count(lit(1)).as("n_copies"))
          .select("doc_id", "n_copies")
          .orderBy("doc_id")
      },
      Some("""WITH base AS (
          |  SELECT doc_id, text FROM documents
          |  UNION ALL
          |  SELECT doc_id + 2000000 AS doc_id,
          |    '  ' || upper(text) || ' !!! ' AS text
          |  FROM documents WHERE doc_id % 10 = 0),
          |keyed AS (
          |  SELECT doc_id, trim(regexp_replace(regexp_replace(
          |    lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')) AS k
          |  FROM base)
          |SELECT min(doc_id) AS doc_id, CAST(count(*) AS BIGINT) AS n_copies
          |FROM keyed GROUP BY k ORDER BY doc_id""".stripMargin)),

    Q("dd_prune_keep_best",
      // quality-choice prune: within each near-dup component keep the
      // HIGHEST-QUALITY member (n_chars here; CCNet keeps lowest
      // perplexity) instead of the positional min-id canonical — the
      // longest copy is the superset you want when near-dups are
      // truncations of each other. Ties break to the smaller id. Same
      // cost shape as dd_prune_canonical: O(members) label frame, one
      // max_by keeper aggregation, corpus touched only by semi/anti-join
      (s, d) => Dedup.pruneKeepBest(
        Tables.documents(s, d), docPairsShared(s, d), "doc_id", "n_chars")
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id"),
      Some(mhComponentsOracleCtes +
        """,
          |canon AS (SELECT id, LEAST(id, MIN(r)) AS canonical FROM mh_reach GROUP BY id),
          |kmem AS (SELECT c.id, c.canonical, d.n_chars FROM canon c
          |  JOIN documents d ON d.doc_id = c.id),
          |keep AS (SELECT canonical, id,
          |    row_number() OVER (PARTITION BY canonical
          |      ORDER BY n_chars DESC, id) AS rn FROM kmem)
          |SELECT d.doc_id, d.lang, d.source, d.n_chars FROM documents d
          |WHERE d.doc_id NOT IN (SELECT id FROM canon)
          |   OR d.doc_id IN (SELECT id FROM keep WHERE rn = 1)
          |ORDER BY d.doc_id""".stripMargin)),

    Q("dd_minhash_neardup",
      // The FULL minhash pipeline (signature -> band -> candidate ->
      // exact-Jaccard verify) oracle-checked end-to-end: the gate entry
      // uses the portable md5-derived permutation family + tuple band
      // keys, which DuckDB replays exactly. The engine-native xxhash64
      // family (the 100 TB default) is behaviorally identical modulo the
      // hash family and stays covered by the DedupSpec recall units.
      (s, d) => {
        val docs = Tables.documents(s, d)
        val variants = docs.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 1000000).as("doc_id"),
            concat_ws(" ",
              slice(TextFns.tokens(col("text")), lit(1),
                greatest(size(TextFns.tokens(col("text"))) - 8, lit(4)))).as("text"))
        Dedup.minhashNearDupPairs(
          docs.select("doc_id", "text").unionByName(variants),
          "text", "doc_id", n = 4, k = 32, bands = 8, minJaccard = 0.5,
          family = Dedup.PortableFamily)
      },
      Some(Sentiment.oracleCte + minhashOracleCtes(k = 32, bands = 8) +
        """
          |SELECT id_a, id_b,
          |  ROUND(CAST(inter AS DOUBLE) / CAST(sz_a + sz_b - inter AS DOUBLE), 6) AS jaccard
          |FROM mh_j
          |WHERE CAST(inter AS DOUBLE) / CAST(sz_a + sz_b - inter AS DOUBLE) > CAST(0.5 AS DOUBLE)
          |ORDER BY id_a, id_b""".stripMargin)),

    Q("dd_minhash_pr",
      // banding eval harness: recall + candidate precision of the
      // (k=32, bands=8) pipeline per jaccard threshold, vs the exact
      // all-sharing-pairs ground truth — the measurement that picks the
      // band shape before a production run. Exact side is EVAL-only cost
      // (the brute-force arm of the ANN recall harness, for sketches).
      (s, d) => {
        val docs = Tables.documents(s, d)
        val variants = docs.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 1000000).as("doc_id"),
            concat_ws(" ",
              slice(TextFns.tokens(col("text")), lit(1),
                greatest(size(TextFns.tokens(col("text"))) - 8, lit(4)))).as("text"))
        Dedup.minhashPrCurve(
          docs.select("doc_id", "text").unionByName(variants),
          "text", "doc_id", n = 4, k = 32, bands = 8,
          family = Dedup.PortableFamily)
      },
      Some(Sentiment.oracleCte + minhashOracleCtes(k = 32, bands = 8) +
        """,
          |pr_ex_inter AS (
          |  SELECT a.id AS id_a, b.id AS id_b, CAST(count(*) AS BIGINT) AS inter
          |  FROM mh_sh a JOIN mh_sh b ON a.sh = b.sh AND a.id < b.id
          |  GROUP BY 1, 2),
          |pr_ex AS (
          |  SELECT i.id_a, i.id_b,
          |    ROUND(CAST(i.inter AS DOUBLE) / CAST(sa.sz + sb.sz - i.inter AS DOUBLE), 6) AS jaccard
          |  FROM pr_ex_inter i
          |  JOIN mh_sig sa ON i.id_a = sa.id
          |  JOIN mh_sig sb ON i.id_b = sb.id),
          |pr_cd AS (SELECT id_a, id_b FROM mh_j),
          |pr_th AS (SELECT unnest([CAST(0.2 AS DOUBLE), CAST(0.3 AS DOUBLE),
          |    CAST(0.4 AS DOUBLE), CAST(0.5 AS DOUBLE), CAST(0.6 AS DOUBLE),
          |    CAST(0.7 AS DOUBLE)]) AS threshold),
          |pr_n AS (SELECT CAST(count(*) AS BIGINT) AS n_cand FROM pr_cd),
          |pr_j AS (
          |  SELECT e.jaccard, (c.id_a IS NOT NULL) AS is_cand
          |  FROM pr_ex e LEFT JOIN pr_cd c ON e.id_a = c.id_a AND e.id_b = c.id_b)
          |SELECT threshold,
          |  CAST(count(*) FILTER (WHERE jaccard >= threshold) AS BIGINT) AS n_true,
          |  CAST(count(*) FILTER (WHERE jaccard >= threshold AND is_cand) AS BIGINT) AS n_found,
          |  CASE WHEN count(*) FILTER (WHERE jaccard >= threshold) > 0
          |    THEN ROUND(CAST(count(*) FILTER (WHERE jaccard >= threshold AND is_cand) AS DOUBLE)
          |      / CAST(count(*) FILTER (WHERE jaccard >= threshold) AS DOUBLE), 6) END AS recall,
          |  n_cand,
          |  ROUND(CAST(count(*) FILTER (WHERE jaccard >= threshold AND is_cand) AS DOUBLE)
          |    / CAST(n_cand AS DOUBLE), 6) AS precision_at_t
          |FROM pr_j, pr_th, pr_n
          |GROUP BY threshold, n_cand ORDER BY threshold""".stripMargin)),

    Q("dd_incr_minhash",
      // incremental dedup: NEW batch (every 17th doc, tail-truncated,
      // re-keyed) probed against the EXISTING corpus via band-key joins —
      // the continual-ingest shape where the corpus band table is the
      // persisted index and only colliding buckets are touched
      (s, d) => {
        val docs = Tables.documents(s, d)
        val batch = docs.filter(col("doc_id") % 17 === 0)
          .select((col("doc_id") + 2000000).as("doc_id"),
            concat_ws(" ",
              slice(TextFns.tokens(col("text")), lit(1),
                greatest(size(TextFns.tokens(col("text"))) - 6, lit(4)))).as("text"))
        Dedup.minhashProbePairs(batch, docs.select("doc_id", "text"),
          "text", "doc_id", n = 4, k = 32, bands = 8, minJaccard = 0.5,
          family = Dedup.PortableFamily)
      },
      Some(Sentiment.oracleCte + minhashProbeOracleCtes(k = 32, bands = 8) +
        """
          |SELECT probe_id, corpus_id,
          |  ROUND(CAST(inter AS DOUBLE) / CAST(sz_p + sz_c - inter AS DOUBLE), 6) AS jaccard
          |FROM mp_j
          |WHERE CAST(inter AS DOUBLE) / CAST(sz_p + sz_c - inter AS DOUBLE) > CAST(0.5 AS DOUBLE)
          |ORDER BY probe_id, corpus_id""".stripMargin)),

    Q("dd_incr_components",
      // incremental label maintenance: the corpus's component labels are
      // UPDATED with the probe batch's new pairs by reprocessing only the
      // affected components (star edges preserve old connectivity) —
      // O(batch) label work instead of O(corpus) recompute per ingest.
      // The oracle is the FULL recompute over corpus ∪ probe pairs, so
      // the hash gate proves the incremental algorithm exact
      (s, d) => {
        val docs = Tables.documents(s, d)
        val labels = Dedup.canonicalComponents(docPairsShared(s, d))
        val batch = docs.filter(col("doc_id") % 17 === 0)
          .select((col("doc_id") + 2000000).as("doc_id"),
            concat_ws(" ",
              slice(TextFns.tokens(col("text")), lit(1),
                greatest(size(TextFns.tokens(col("text"))) - 6, lit(4)))).as("text"))
        val newPairs = Dedup.minhashProbePairs(batch, docs.select("doc_id", "text"),
            "text", "doc_id", n = 4, k = 32, bands = 8, minJaccard = 0.5,
            family = Dedup.PortableFamily)
          .select(col("probe_id").as("id_a"), col("corpus_id").as("id_b"))
        Dedup.incrementalComponents(labels, newPairs)
      },
      Some(incrComponentsOracle)),

    Q("dd_incr_indexed",
      // the PRODUCTION-shaped incremental ingest (r7 task 5):
      // dd_incr_components is oracle-complete but rebuilds corpus labels
      // + band signatures from scratch every run. This entry PRE-SEEDS
      // the state — component labels, the banded signature table, and
      // the shingle stream, persisted as parquet tables the way st10's
      // snapshot already is (built once, keyed by the source file's
      // identity so a regenerated corpus auto-invalidates) — and the
      // measured step is ONLY the update: shingle/signature the batch,
      // probe the stored band table, verify against the stored shingle
      // stream, relabel the touched components. Same hash gate as the
      // recompute form: the oracle is the FULL recompute over
      // corpus ∪ probe pairs, so the amortized path is proven exact
      (s, d) => {
        val docs = Tables.documents(s, d).select("doc_id", "text")
        val stateDir = new java.io.File(
          s"spark-warehouse/graft_state/incr_v1_n4k32b8j05p_${sourceStateKey(s, d, "documents.parquet")}")
        val labelsP = new java.io.File(stateDir, "labels").toString
        val bandsP = new java.io.File(stateDir, "bands").toString
        val shP = new java.io.File(stateDir, "shingles").toString
        // gate on the LAST-written table: a crash mid-build leaves the
        // final _SUCCESS absent, so the next run rebuilds everything
        // instead of probing a half-written index
        if (!new java.io.File(shP, "_SUCCESS").exists) {
          Dedup.canonicalComponents(docPairsShared(s, d))
            .write.mode("overwrite").parquet(labelsP)
          val (bands, shingles) = Dedup.minhashIndexFrames(docs,
            "text", "doc_id", n = 4, k = 32, bands = 8,
            family = Dedup.PortableFamily)
          bands.write.mode("overwrite").parquet(bandsP)
          shingles.write.mode("overwrite").parquet(shP)
        }
        val batch = docs.filter(col("doc_id") % 17 === 0)
          .select((col("doc_id") + 2000000).as("doc_id"),
            concat_ws(" ",
              slice(TextFns.tokens(col("text")), lit(1),
                greatest(size(TextFns.tokens(col("text"))) - 6, lit(4)))).as("text"))
        val newPairs = Dedup.minhashProbePairsIndexed(batch,
            s.read.parquet(bandsP), s.read.parquet(shP),
            "text", "doc_id", n = 4, k = 32, bands = 8, minJaccard = 0.5,
            family = Dedup.PortableFamily)
          .select(col("probe_id").as("id_a"), col("corpus_id").as("id_b"))
        Dedup.incrementalComponents(s.read.parquet(labelsP), newPairs)
      },
      Some(incrComponentsOracle)),

    Q("dd_native_minhash",
      // the 100 TB default hash family as a first-class catalog entry:
      // xxhash64 seeded permutations — one engine-native codegen'd hash
      // per (shingle, perm), no md5 digest, no per-row string concat —
      // over the SAME shingling/banding/verification dataflow as
      // dd_minhash_neardup. xxhash64 is not DuckDB-expressible, so the
      // driver records a rows-only check; DedupSpec pins verified-pair
      // parity vs the portable family on planted near-dups (verification
      // is exact Jaccard either way — the family only shapes the
      // candidate set), and SCALE.md records the measured signature-pass
      // delta at sf1
      (s, d) => Dedup.minhashNearDupPairs(
        Tables.documents(s, d).select("doc_id", "text"),
        "text", "doc_id", n = 4, k = 32, bands = 8, minJaccard = 0.5,
        family = Dedup.NativeFamily),
      None),

    Q("dd_simhash_neardup",
      // The FULL SimHash pipeline oracle-checked: the gate entry uses the
      // portable md5 token hash with the fingerprint as two 32-bit halves
      // (one md5 per token, 64 signed-bit sums, 16-bit banding, Hamming
      // via two bit_counts) — every step DuckDB-expressible. The
      // engine-native xxhash64 single-long form stays the scale default,
      // covered by the DedupSpec pinned-recall contract.
      (s, d) => {
        val docs = Tables.documents(s, d)
        val variants = docs.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 1000000).as("doc_id"),
            concat_ws(" ",
              slice(TextFns.tokens(col("text")), lit(1),
                greatest(size(TextFns.tokens(col("text"))) - 4, lit(4)))).as("text"))
        Dedup.simhashNearDupPairsPortable(
          docs.select("doc_id", "text").unionByName(variants),
          "text", "doc_id", maxHamming = 12)
      },
      Some(Sentiment.oracleCte + simhashOracleCtes +
        """
          |SELECT id_a, id_b, hamming FROM sh_ham
          |WHERE hamming <= 12 ORDER BY id_a, id_b""".stripMargin)),

    Q("dd_embedding_neardup",
      // LSH-banded near-dup (the scale path) IS the catalog entry: the
      // only pair-forming join is the (band, bucket) equi-join. The exact
      // all-pairs baseline lives in SimilaritySpec as the recall oracle.
      // Auto band width r = Similarity.bandWidth(n) keeps bucket occupancy
      // (and the candidate join) bounded as data grows; the oracle derives
      // r from the SAME integer rule (params CTE + CASE arms), so engine
      // and oracle cannot diverge on dataset-size drift. The pair frame
      // is built once and persisted (bandedPairsShared) — sim_dbscan
      // consumes the SAME table instead of regenerating it; parquet
      // carries no order, so the output ORDER BY is re-applied here.
      (s, d) => bandedPairsShared(s, d).orderBy("id_a", "id_b"),
      Some(s"""WITH $evecCteSql,
              |params AS (SELECT ${autoBandWidthSql("(SELECT count(*) FROM evec)", 63, 4)} AS r),
              |bd AS (
              |  SELECT vec_id, 0 AS band, ${autoBandBucketSql("v", 0, 64)} AS bucket FROM evec
              |  UNION ALL SELECT vec_id, 1 AS band, ${autoBandBucketSql("v", 1, 64)} AS bucket FROM evec
              |  UNION ALL SELECT vec_id, 2 AS band, ${autoBandBucketSql("v", 2, 64)} AS bucket FROM evec
              |  UNION ALL SELECT vec_id, 3 AS band, ${autoBandBucketSql("v", 3, 64)} AS bucket FROM evec),
              |cand AS (
              |  SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
              |  FROM bd x JOIN bd y
              |    ON x.band = y.band AND x.bucket = y.bucket AND x.vec_id < y.vec_id),
              |p AS (
              |  SELECT id_a, id_b, ${cosineSql("a.v", "b.v")} AS cos
              |  FROM cand JOIN evec a ON a.vec_id = cand.id_a
              |            JOIN evec b ON b.vec_id = cand.id_b)
              |SELECT id_a, id_b, ROUND(cos, 6) AS cos FROM p
              |WHERE cos > CAST(0.4 AS DOUBLE) ORDER BY id_a, id_b""".stripMargin)),

    Q("dd_embedding_cells_neardup",
      // cell-bounded pair generation (r8 VERDICT task 2): the banded form
      // above is the catalog's only super-linear scaler (15.1x wall at
      // 10x data — auto-banding bounds occupancy only in expectation and
      // the hot buckets still blow up). One cosine-argmax cell per vector
      // (the sim_semdedup assignment), pairs only within a cell, cell
      // count sized n/occupancy — candidate volume O(n * occupancy) over
      // well-spread data. Cells are Voronoi regions, so that bound is an
      // expectation, not a guarantee: a corpus piled on one centroid
      // refills its cell (trained centroids + a per-cell occupancy audit
      // are the production guards — see cellNearDupPairs' scaladoc).
      // Recall tradeoff (straddling
      // pairs missed, SemDeDup posture) is measured in SimilaritySpec
      // against the exact baseline; the trained-centroid production arm
      // is cellNearDupPairs(trainCentroids(...)), same plan, one
      // broadcast table swapped. Oracle derives nCells from the SAME
      // integer rule and replays assignment + within-cell pairs.
      (s, d) => Similarity.cellNearDupPairsAuto(Tables.embeddings(s, d),
        threshold = 0.4, targetOccupancy = 64),
      Some(s"""WITH $evecCteSql,
              |params AS (SELECT GREATEST(16, (SELECT (count(*) + 63) // 64 FROM evec)) AS nc),
              |en AS (SELECT vec_id, v, ${normSql("v")} AS nrm FROM evec),
              |cents AS (SELECT vec_id AS cell, v AS cv, nrm AS cnrm FROM en
              |  WHERE vec_id < (SELECT nc FROM params)),
              |asg0 AS (
              |  SELECT en.vec_id, en.v, en.nrm, cents.cell,
              |    ${dotSql("en.v", "cents.cv")} / (en.nrm * cents.cnrm) AS ccos
              |  FROM en CROSS JOIN cents),
              |asg AS MATERIALIZED (
              |  SELECT vec_id, v, nrm, cell FROM (
              |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cell) AS rn
              |    FROM asg0) WHERE rn = 1),
              |p AS (
              |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
              |    ${dotSql("a.v", "b.v")} / (a.nrm * b.nrm) AS cos
              |  FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id)
              |SELECT id_a, id_b, ROUND(cos, 6) AS cos FROM p
              |WHERE cos > CAST(0.4 AS DOUBLE) ORDER BY id_a, id_b""".stripMargin)),

    Q("sim_dbscan",
      // DBSCAN over banded cosine neighbors: core = neighborhood >= 3
      // (self incl.), clusters = components over core-core edges, border
      // attaches to MIN core-cluster label (classic DBSCAN leaves this
      // scan-order-dependent — min-label pins it), rest is noise. The
      // oracle replays banding, degrees, recursive reachability, and the
      // border rule. The eps-neighbor relation is the PERSISTED shared
      // pair table (bandedPairsShared) — identical pair set to
      // dd_embedding_neardup, generated once per corpus, so this entry
      // pays only the clustering algebra (r8 measured the pair half at
      // ~2/3 of its 33.7 s sf1 wall)
      (s, d) => Similarity.densityClustersFromPairs(
        Tables.embeddings(s, d).select(col("vec_id")),
        bandedPairsShared(s, d).select("id_a", "id_b"), minPts = 3),
      // evec/bd/pr MATERIALIZED: the recursive tail + the per-band CASE
      // arms reference them many times — inlined, DuckDB re-opens the
      // parquet per reference and trips fd limits at parse time
      Some(s"""WITH RECURSIVE evec AS MATERIALIZED (
              |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
              |params AS (SELECT ${autoBandWidthSql("(SELECT count(*) FROM evec)", 63, 4)} AS r),
              |bd AS MATERIALIZED (
              |  SELECT vec_id, 0 AS band, ${autoBandBucketSql("v", 0, 64)} AS bucket FROM evec
              |  UNION ALL SELECT vec_id, 1 AS band, ${autoBandBucketSql("v", 1, 64)} AS bucket FROM evec
              |  UNION ALL SELECT vec_id, 2 AS band, ${autoBandBucketSql("v", 2, 64)} AS bucket FROM evec
              |  UNION ALL SELECT vec_id, 3 AS band, ${autoBandBucketSql("v", 3, 64)} AS bucket FROM evec),
              |cand AS (
              |  SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
              |  FROM bd x JOIN bd y
              |    ON x.band = y.band AND x.bucket = y.bucket AND x.vec_id < y.vec_id),
              |pr AS MATERIALIZED (
              |  SELECT id_a, id_b FROM (
              |    SELECT id_a, id_b, ${cosineSql("a.v", "b.v")} AS cos
              |    FROM cand JOIN evec a ON a.vec_id = cand.id_a
              |              JOIN evec b ON b.vec_id = cand.id_b) t
              |  WHERE cos > CAST(0.4 AS DOUBLE)),
              |dg AS (SELECT id, CAST(count(*) AS BIGINT) AS degree FROM (
              |    SELECT id_a AS id FROM pr UNION ALL SELECT id_b AS id FROM pr) u
              |  GROUP BY id),
              |core AS (SELECT id FROM dg WHERE degree + 1 >= 3),
              |lc_pairs AS (
              |  SELECT p.id_a, p.id_b FROM pr p
              |  JOIN core ca ON ca.id = p.id_a
              |  JOIN core cb ON cb.id = p.id_b)""".stripMargin +
        mhReachCtes("lc_") +
        """,
          |clbl AS (
          |  SELECT c.id, least(c.id, coalesce(min(r.r), c.id)) AS cluster
          |  FROM core c LEFT JOIN lc_reach r ON r.id = c.id GROUP BY c.id),
          |sym AS (SELECT id_a AS src, id_b AS dst FROM pr
          |  UNION ALL SELECT id_b AS src, id_a AS dst FROM pr),
          |blbl AS (
          |  SELECT s.src AS id, min(cl.cluster) AS cluster
          |  FROM sym s JOIN clbl cl ON cl.id = s.dst
          |  WHERE s.src NOT IN (SELECT id FROM core)
          |  GROUP BY s.src)
          |SELECT e.vec_id,
          |  coalesce(dg.degree, CAST(0 AS BIGINT)) AS degree,
          |  CASE WHEN cl.id IS NOT NULL THEN 'core'
          |       WHEN bl.id IS NOT NULL THEN 'border'
          |       ELSE 'noise' END AS role,
          |  coalesce(cl.cluster, bl.cluster) AS cluster
          |FROM evec e
          |LEFT JOIN dg ON dg.id = e.vec_id
          |LEFT JOIN clbl cl ON cl.id = e.vec_id
          |LEFT JOIN blbl bl ON bl.id = e.vec_id
          |ORDER BY e.vec_id""".stripMargin)),

    Q("emb_scalar_quantize",
      // int8 symmetric scalar quantization report (FAISS SQ semantics):
      // per-vector scale + reconstruction mse / max-abs-err; all folds are
      // the shared ascending left fold, so doubles match bit-for-bit
      (s, d) => Similarity.scalarQuantizeReport(Tables.embeddings(s, d),
        "embedding", "vec_id"),
      Some(s"""WITH $evecCteSql,
              |sq AS (SELECT vec_id, v,
              |    list_max(list_transform(v, x -> abs(x))) / CAST(127.0 AS DOUBLE) AS scale
              |  FROM evec),
              |se AS (SELECT vec_id, scale, CAST(len(v) AS BIGINT) AS n_dims,
              |    CASE WHEN scale > CAST(0.0 AS DOUBLE)
              |      THEN list_transform(v, x -> x - round(x / scale, 0) * scale)
              |      ELSE v END AS errs
              |  FROM sq)
              |SELECT vec_id, scale, n_dims,
              |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              |    list_transform(errs, e -> e * e)), (a, b) -> a + b)
              |    / CAST(n_dims AS DOUBLE) AS mse,
              |  list_max(list_transform(errs, e -> abs(e))) AS max_abs_err
              |FROM se ORDER BY vec_id""".stripMargin)),

    Q("sim_bruteforce_topk",
      (s, d) => Similarity.bruteForceTopK(Tables.embeddings(s, d), queryId = 0, k = 10),
      Some(s"""WITH $evecCteSql,
              |q AS (SELECT v AS qv FROM evec WHERE vec_id = 0)
              |SELECT vec_id, ROUND(${cosineSql("v", "qv")}, 6) AS cos
              |FROM evec, q WHERE vec_id <> 0
              |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin)),

    Q("emb_whiten_topk",
      // retrieval in diagonally WHITENED space — the standard post-
      // processing for anisotropic embedding corpora (mean-center +
      // per-dim unit variance). Stats are published ROUND(6)ed and the
      // transform uses ONLY the published values (the ml_ece rounded-bins
      // discipline), so both engines whiten with bit-identical constants;
      // dead dims (sd -> 0) pass through centered. The whitening itself
      // is one narrow codegen'd transform over the corpus — the per-dim
      // stats are an O(dims) scalar probe, never corpus-sized state
      (s, d) => Similarity.whitenedTopK(Tables.embeddings(s, d),
        queryId = 20, k = 10),
      Some(s"""WITH $evecCteSql,
              |ds AS (
              |  SELECT i, ROUND(avg(v[i]), 6) AS mu,
              |    CASE WHEN ROUND(stddev_pop(v[i]), 6) = CAST(0.0 AS DOUBLE)
              |         THEN CAST(1.0 AS DOUBLE)
              |         ELSE ROUND(stddev_pop(v[i]), 6) END AS sd
              |  FROM evec, (SELECT unnest(range(1, 65)) AS i)
              |  GROUP BY i),
              |st AS (SELECT list(mu ORDER BY i) AS mu, list(sd ORDER BY i) AS sd FROM ds),
              |wv AS (SELECT vec_id,
              |    list_transform(range(1, 65), i -> (v[i] - mu[i]) / sd[i]) AS w
              |  FROM evec, st),
              |wn AS (SELECT vec_id, w, ${normSql("w")} AS nrm FROM wv),
              |q AS (SELECT w AS qw, nrm AS qnrm FROM wn WHERE vec_id = 20)
              |SELECT vec_id, ROUND(${dotSql("w", "qw")} / (nrm * qnrm), 6) AS cos
              |FROM wn, q WHERE vec_id <> 20
              |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin)),

    Q("sim_batch_topk",
      // batched exact top-k: ONE corpus scan scores the whole query panel
      // (0..4); per-query top-10 reduces through the native bounded-heap
      // aggregate — partial heaps cap the shuffle at k rows per (task,
      // query), vs a window rank sorting all corpus x panel scored rows
      (s, d) => Similarity.batchTopK(Tables.embeddings(s, d),
        queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 10),
      Some(s"""WITH $evecCteSql,
              |q AS (SELECT vec_id AS query_id, v AS qv FROM evec
              |  WHERE vec_id IN (0, 1, 2, 3, 4)),
              |sc AS (SELECT q.query_id, e.vec_id,
              |    ROUND(${cosineSql("e.v", "q.qv")}, 6) AS cos
              |  FROM evec e, q WHERE e.vec_id <> q.query_id),
              |rk AS (SELECT *, row_number() OVER (
              |    PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
              |  FROM sc)
              |SELECT query_id, CAST(rank AS INT) AS rank, vec_id, cos
              |FROM rk WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)),

    Q("ir_rank_quality",
      // rank-AWARE retrieval eval closing the ir_/sim_ loop: nDCG@10
      // (Järvelin-Kekäläinen log2 discount), MRR, precision/recall@10 of
      // the MRL prefix-16 ranking against full-dim exact cosine truth —
      // recall says WHETHER the cheap pass finds the right set,
      // nDCG/MRR say WHERE it puts them. Both rankings are one-scan
      // bounded-heap panel passes; the metric join is O(panel x k)
      (s, d) => operators.MLEval.rankingQuality(
        Similarity.mrlBatchTopK(Tables.embeddings(s, d),
          queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 10, prefixDim = 16),
        Similarity.batchTopK(Tables.embeddings(s, d),
          queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 10),
        k = 10),
      Some(s"""WITH $evecCteSql,
              |ep AS (SELECT vec_id, CAST(list_slice(embedding, 1, 16) AS DOUBLE[]) AS v
              |  FROM embeddings),
              |qf AS (SELECT vec_id AS qid, v AS qv FROM evec WHERE vec_id IN (0, 1, 2, 3, 4)),
              |qp AS (SELECT vec_id AS qid, v AS qv FROM ep WHERE vec_id IN (0, 1, 2, 3, 4)),
              |tsc AS (SELECT q.qid, e.vec_id, ROUND(${cosineSql("e.v", "q.qv")}, 6) AS cos
              |  FROM evec e, qf q WHERE e.vec_id <> q.qid),
              |truth AS (SELECT * FROM (SELECT qid, vec_id, row_number() OVER (
              |    PARTITION BY qid ORDER BY cos DESC, vec_id) AS trnk FROM tsc)
              |  WHERE trnk <= 10),
              |ssc AS (SELECT q.qid, e.vec_id, ROUND(${cosineSql("e.v", "q.qv")}, 6) AS cos
              |  FROM ep e, qp q WHERE e.vec_id <> q.qid),
              |sys AS (SELECT * FROM (SELECT qid, vec_id, row_number() OVER (
              |    PARTITION BY qid ORDER BY cos DESC, vec_id) AS rnk FROM ssc)
              |  WHERE rnk <= 10),
              |${rankingMetricsSql(10)}""".stripMargin)),

    Q("ir_rank_quality_aniso",
      // the certifying counterpart to ir_rank_quality's honest refusal:
      // the same rank-aware metrics over embeddings made ANISOTROPIC by
      // a block-decay reweighting (dims 0-7 ×1, 8-15 ×1/2, 16-23 ×1/4 …
      // — ~94% of the energy in the prefix-16, the profile real
      // Matryoshka training produces). The prefix ranking must now TRACK
      // full-dim truth, proving the metric machinery certifies exactly
      // when the prefix carries the signal. Weights are powers of two,
      // so the reweighting is IEEE-exact on both engines — no new
      // rounding surface beyond the usual ROUND(6) cosine
      (s, d) => {
        val aniso = Tables.embeddings(s, d).select(col("vec_id"),
          transform(col("embedding"), (x, i) =>
            x.cast("double") *
              pow(lit(2.0), -floor(i.cast("double") / 8.0))).as("embedding"))
        operators.MLEval.rankingQuality(
          Similarity.mrlBatchTopK(aniso,
            queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 10, prefixDim = 16),
          Similarity.batchTopK(aniso,
            queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 10),
          k = 10)
      },
      Some(s"""WITH $evecCteSql,
              |ew AS (SELECT vec_id, list_transform(range(1, 65),
              |    i -> v[i] * power(CAST(2.0 AS DOUBLE),
              |      -CAST((i - 1) // 8 AS DOUBLE))) AS v
              |  FROM evec),
              |ep AS (SELECT vec_id, list_slice(v, 1, 16) AS v FROM ew),
              |qf AS (SELECT vec_id AS qid, v AS qv FROM ew WHERE vec_id IN (0, 1, 2, 3, 4)),
              |qp AS (SELECT vec_id AS qid, v AS qv FROM ep WHERE vec_id IN (0, 1, 2, 3, 4)),
              |tsc AS (SELECT q.qid, e.vec_id, ROUND(${cosineSql("e.v", "q.qv")}, 6) AS cos
              |  FROM ew e, qf q WHERE e.vec_id <> q.qid),
              |truth AS (SELECT * FROM (SELECT qid, vec_id, row_number() OVER (
              |    PARTITION BY qid ORDER BY cos DESC, vec_id) AS trnk FROM tsc)
              |  WHERE trnk <= 10),
              |ssc AS (SELECT q.qid, e.vec_id, ROUND(${cosineSql("e.v", "q.qv")}, 6) AS cos
              |  FROM ep e, qp q WHERE e.vec_id <> q.qid),
              |sys AS (SELECT * FROM (SELECT qid, vec_id, row_number() OVER (
              |    PARTITION BY qid ORDER BY cos DESC, vec_id) AS rnk FROM ssc)
              |  WHERE rnk <= 10),
              |${rankingMetricsSql(10)}""".stripMargin)),

    Q("ir_mrl_funnel",
      // the production answer to ir_rank_quality's verdict: prefix-16
      // shortlists 50 candidates per query (cheap pass, 25% of the
      // vector bytes), ONLY the shortlist is re-scored full-dim and cut
      // to top-10 — full-dim work drops from O(corpus) to O(panel x 50)
      // dots. Same rank-aware metrics against exact truth: the funnel's
      // quality ceiling is the shortlist's recall, and WHERE items land
      // is restored by the exact rerank
      (s, d) => operators.MLEval.rankingQuality(
        Similarity.mrlFunnelTopK(Tables.embeddings(s, d),
          queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 10, shortlist = 50,
          prefixDim = 16),
        Similarity.batchTopK(Tables.embeddings(s, d),
          queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 10),
        k = 10),
      Some(s"""WITH $evecCteSql,
              |ep AS (SELECT vec_id, CAST(list_slice(embedding, 1, 16) AS DOUBLE[]) AS v
              |  FROM embeddings),
              |qf AS (SELECT vec_id AS qid, v AS qv FROM evec WHERE vec_id IN (0, 1, 2, 3, 4)),
              |qp AS (SELECT vec_id AS qid, v AS qv FROM ep WHERE vec_id IN (0, 1, 2, 3, 4)),
              |tsc AS (SELECT q.qid, e.vec_id, ROUND(${cosineSql("e.v", "q.qv")}, 6) AS cos
              |  FROM evec e, qf q WHERE e.vec_id <> q.qid),
              |truth AS (SELECT * FROM (SELECT qid, vec_id, row_number() OVER (
              |    PARTITION BY qid ORDER BY cos DESC, vec_id) AS trnk FROM tsc)
              |  WHERE trnk <= 10),
              |psc AS (SELECT q.qid, e.vec_id, ROUND(${cosineSql("e.v", "q.qv")}, 6) AS cos
              |  FROM ep e, qp q WHERE e.vec_id <> q.qid),
              |shortlist AS (SELECT * FROM (SELECT qid, vec_id, row_number() OVER (
              |    PARTITION BY qid ORDER BY cos DESC, vec_id) AS srnk FROM psc)
              |  WHERE srnk <= 50),
              |fsc AS (SELECT sl.qid, sl.vec_id, ROUND(${cosineSql("e.v", "q.qv")}, 6) AS cos
              |  FROM shortlist sl
              |  JOIN evec e ON e.vec_id = sl.vec_id
              |  JOIN qf q ON q.qid = sl.qid),
              |sys AS (SELECT * FROM (SELECT qid, vec_id, row_number() OVER (
              |    PARTITION BY qid ORDER BY cos DESC, vec_id) AS rnk FROM fsc)
              |  WHERE rnk <= 10),
              |${rankingMetricsSql(10)}""".stripMargin)),

    Q("ir_hard_negatives",
      // hard-negative mining for contrastive training: per panel query
      // the top-10 candidates with cosine < 0.8 — similar enough to be
      // hard, below the near-dup band that would make them false
      // negatives. One corpus scan, broadcast panel, bounded heaps; the
      // exclusion filter runs on the ROUND(6)ed cosine so the band
      // boundary is engine-deterministic
      (s, d) => Similarity.hardNegatives(Tables.embeddings(s, d),
        queryIds = Seq(5L, 6L, 7L, 8L, 9L), k = 10, maxCos = 0.8),
      Some(s"""WITH $evecCteSql,
              |q AS (SELECT vec_id AS query_id, v AS qv FROM evec
              |  WHERE vec_id IN (5, 6, 7, 8, 9)),
              |sc AS (SELECT q.query_id, e.vec_id,
              |    ROUND(${cosineSql("e.v", "q.qv")}, 6) AS cos
              |  FROM evec e, q WHERE e.vec_id <> q.query_id),
              |rk AS (SELECT *, row_number() OVER (
              |    PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
              |  FROM sc WHERE cos < CAST(0.8 AS DOUBLE))
              |SELECT query_id, CAST(rank AS INT) AS rank, vec_id, cos
              |FROM rk WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)),

    Q("ir_mmr_diverse",
      // MMR diverse top-k (Carbonell-Goldstein): greedy
      // λ·rel − (1−λ)·max-sim-to-selected over a bounded-heap candidate
      // pool — the fix when plain top-k returns k near-copies. The
      // corpus-scale work is the relevance scan; the sequential greedy
      // runs driver-side over the collected O(pool) rows. Oracle: the
      // same greedy UNROLLED into one deterministic CTE per step (k=5),
      // selection on unrounded scores built from the ROUND(6)-published
      // cosines, id tiebreak
      (s, d) => Similarity.mmrTopK(Tables.embeddings(s, d),
        queryId = 0L, k = 5, poolSize = 20, lambda = 0.7),
      Some {
        val steps = (2 to 5).map { i =>
          s"""c$i AS (SELECT p.vec_id, p.cos,
             |    CAST(0.7 AS DOUBLE) * p.cos
             |      - (CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE)) * (
             |        SELECT max(pp.pcos) FROM pp
             |        WHERE (pp.id_a = p.vec_id AND pp.id_b IN (SELECT vec_id FROM sel${i - 1}))
             |           OR (pp.id_b = p.vec_id AND pp.id_a IN (SELECT vec_id FROM sel${i - 1}))) AS m
             |  FROM pool p WHERE p.vec_id NOT IN (SELECT vec_id FROM sel${i - 1})),
             |s$i AS (SELECT vec_id, cos, m FROM c$i ORDER BY m DESC, vec_id LIMIT 1),
             |sel$i AS (SELECT vec_id FROM sel${i - 1} UNION ALL SELECT vec_id FROM s$i)""".stripMargin
        }.mkString(",\n")
        val finals = (1 to 5).map(i =>
          s"SELECT CAST($i AS INT) AS rank, vec_id, cos AS relevance, " +
            s"ROUND(m, 6) + CAST(0.0 AS DOUBLE) AS mmr_score FROM s$i")
          .mkString("\nUNION ALL\n")
        s"""WITH $evecCteSql,
           |q AS (SELECT vec_id AS qid, v AS qv FROM evec WHERE vec_id = 0),
           |sc AS (SELECT e.vec_id, ROUND(${cosineSql("e.v", "q.qv")}, 6) AS cos
           |  FROM evec e, q WHERE e.vec_id <> 0),
           |pool AS (SELECT vec_id, cos FROM sc ORDER BY cos DESC, vec_id LIMIT 20),
           |pp AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           |    ROUND(${cosineSql("a.v", "b.v")}, 6) AS pcos
           |  FROM evec a, evec b
           |  WHERE a.vec_id < b.vec_id
           |    AND a.vec_id IN (SELECT vec_id FROM pool)
           |    AND b.vec_id IN (SELECT vec_id FROM pool)),
           |s1 AS (SELECT vec_id, cos,
           |    CAST(0.7 AS DOUBLE) * cos
           |      - (CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE)) * CAST(0.0 AS DOUBLE) AS m
           |  FROM pool ORDER BY m DESC, vec_id LIMIT 1),
           |sel1 AS (SELECT vec_id FROM s1),
           |$steps
           |$finals
           |ORDER BY rank""".stripMargin
      }),

    Q("sim_sq_ann",
      // scalar-quantized asymmetric ANN (FAISS SQ8): int8 code scan for
      // the approximate rank (scale cancels out of cosine), exact float
      // re-rank of the top-50 shortlist; both rank boundaries ROUND(6)
      // with vec_id tiebreaks — engine-deterministic
      (s, d) => Similarity.sqTopK(Tables.embeddings(s, d), queryId = 0,
        k = 10, shortlist = 50),
      Some(s"""WITH $evecCteSql,
              |sq AS (SELECT vec_id, v,
              |    list_max(list_transform(v, x -> abs(x))) / CAST(127.0 AS DOUBLE) AS scale
              |  FROM evec),
              |cd AS (SELECT vec_id, v, list_transform(v, x -> round(x / scale, 0)) AS c
              |  FROM sq WHERE scale > CAST(0.0 AS DOUBLE)),
              |q AS (SELECT v AS qv, ${normSql("v")} AS qnrm FROM evec WHERE vec_id = 0),
              |cand AS (
              |  SELECT vec_id, v, qv, qnrm,
              |    ROUND(${dotSql("c", "qv")} / (${normSql("c")} * qnrm), 6) AS adc_cos
              |  FROM cd, q WHERE vec_id <> 0
              |  ORDER BY adc_cos DESC, vec_id LIMIT 50)
              |SELECT vec_id,
              |  ROUND(${dotSql("v", "qv")} / (${normSql("v")} * qnrm), 6) AS cos,
              |  adc_cos
              |FROM cand ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin)),

    Q("sim_lsh_ann",
      (s, d) => Similarity.lshTopK(Tables.embeddings(s, d), queryId = 0, k = 10,
        planes = 12, dim = 64),
      Some(s"""WITH $evecCteSql,
              |b AS (SELECT vec_id, v, ${lshBucketSql("v", 12, 64)} AS bucket FROM evec),
              |q AS (SELECT v AS qv, bucket AS qbucket FROM b WHERE vec_id = 0)
              |SELECT vec_id, bucket, ROUND(${cosineSql("v", "qv")}, 6) AS cos
              |FROM b, q WHERE vec_id <> 0 AND bucket = qbucket
              |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin)),

    Q("sim_lsh_multiprobe",
      // multiprobe ANN: query bucket + every Hamming-1 neighbor bucket —
      // planes+1 of 2^planes partitions scanned, candidate set a strict
      // superset of single-probe
      (s, d) => Similarity.lshTopKMultiprobe(Tables.embeddings(s, d), queryId = 0,
        k = 10, planes = 12, dim = 64),
      Some(s"""WITH $evecCteSql,
              |b AS (SELECT vec_id, v, ${lshBucketSql("v", 12, 64)} AS bucket FROM evec),
              |q AS (SELECT v AS qv, bucket AS qbucket FROM b WHERE vec_id = 0),
              |probes AS (SELECT unnest([qbucket, ${(0 until 12).map(j => s"xor(qbucket, ${1L << j})").mkString(", ")}]) AS pb FROM q)
              |SELECT vec_id, bucket, ROUND(${cosineSql("v", "qv")}, 6) AS cos
              |FROM b, q, probes WHERE vec_id <> 0 AND bucket = pb
              |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin)),

    Q("sim_ivf_ann",
      (s, d) => Similarity.ivfTopK(Tables.embeddings(s, d), queryId = 20, k = 10),
      Some(s"""WITH $evecCteSql,
              |en AS (SELECT vec_id, v, ${normSql("v")} AS nrm FROM evec),
              |cents AS (SELECT vec_id AS cell, v AS cv, nrm AS cnrm FROM en WHERE vec_id < 16),
              |asg0 AS (
              |  SELECT en.vec_id, en.v, en.nrm, cents.cell,
              |    ${dotSql("en.v", "cents.cv")} / (en.nrm * cents.cnrm) AS ccos
              |  FROM en CROSS JOIN cents),
              |asg AS (
              |  SELECT vec_id, v, nrm, cell FROM (
              |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cell) AS rn
              |    FROM asg0) WHERE rn = 1),
              |q AS (SELECT v AS qv, nrm AS qnrm, cell AS qcell FROM asg WHERE vec_id = 20)
              |SELECT vec_id, cell, ROUND(${dotSql("v", "qv")} / (nrm * qnrm), 6) AS cos
              |FROM asg, q WHERE vec_id <> 20 AND cell = qcell
              |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin)),

    Q("sim_incr_ivf",
      // incremental IVF index maintenance — the streaming-vector-ingest
      // production shape: base assignments persisted once (ivfIndexShared,
      // the dd_incr_indexed lifecycle), an ingest batch (every 17th
      // vector re-appearing under vec_id+2e6 — planted exact dups)
      // assigned against the SAME pinned centroids in O(batch), and the
      // probe served from the UNION index. The oracle full-recomputes
      // assignment over corpus ∪ batch, hash-proving update ≡ rebuild;
      // batch clones of probed-cell vectors must surface with their
      // twin's exact cosine
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val batch = emb.filter(col("vec_id") % 17 === 0)
          .select((col("vec_id") + 2000000L).as("vec_id"), col("embedding"))
        val batchIdx = Similarity.ivfAssignments(
          batch, Similarity.ivfCentroids(emb, 16))
        val allVecs = emb.select(col("vec_id"), col("embedding")).union(batch)
        Similarity.ivfTopKIndexed(allVecs,
          ivfIndexShared(s, d).union(batchIdx), queryId = 20, k = 10)
      },
      Some(s"""WITH $evecCteSql,
              |allv AS (SELECT vec_id, v FROM evec
              |  UNION ALL SELECT vec_id + 2000000, v FROM evec WHERE vec_id % 17 = 0),
              |en AS (SELECT vec_id, v, ${normSql("v")} AS nrm FROM allv),
              |cents AS (SELECT vec_id AS cell, v AS cv, nrm AS cnrm FROM en WHERE vec_id < 16),
              |asg0 AS (
              |  SELECT en.vec_id, en.v, en.nrm, cents.cell,
              |    ${dotSql("en.v", "cents.cv")} / (en.nrm * cents.cnrm) AS ccos
              |  FROM en CROSS JOIN cents),
              |asg AS (
              |  SELECT vec_id, v, nrm, cell FROM (
              |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cell) AS rn
              |    FROM asg0) WHERE rn = 1),
              |q AS (SELECT v AS qv, nrm AS qnrm, cell AS qcell FROM asg WHERE vec_id = 20)
              |SELECT vec_id, cell, ROUND(${dotSql("v", "qv")} / (nrm * qnrm), 6) AS cos
              |FROM asg, q WHERE vec_id <> 20 AND cell = qcell
              |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin)),

    Q("sim_binary_ann",
      // two-stage binary-quantized ANN: sign-bit signatures packed as two
      // 32-bit halves (bit 63 of one word is a checked-overflow trap in
      // DuckDB — the portable-SimHash convention), Hamming shortlist-50
      // via xor + bit_count, exact cosine re-rank to top-10; both
      // boundaries vec_id-tiebroken so engine and oracle agree exactly
      (s, d) => Similarity.binaryTopK(Tables.embeddings(s, d), queryId = 0,
        k = 10, shortlist = 50, dim = 64),
      Some(s"""WITH $evecCteSql,
              |sig AS (SELECT vec_id, v, ${normSql("v")} AS nrm,
              |    ${binaryHalfSql("v", 0 until 32, 0)} AS bq_lo,
              |    ${binaryHalfSql("v", 32 until 64, 32)} AS bq_hi
              |  FROM evec),
              |q AS (SELECT v AS qv, nrm AS qnrm, bq_lo AS q_lo, bq_hi AS q_hi
              |  FROM sig WHERE vec_id = 0),
              |short AS (
              |  SELECT vec_id, v, nrm,
              |    bit_count(xor(bq_lo, q_lo)) + bit_count(xor(bq_hi, q_hi)) AS hamming,
              |    qv, qnrm
              |  FROM sig, q WHERE vec_id <> 0
              |  ORDER BY hamming, vec_id LIMIT 50)
              |SELECT vec_id, hamming, ROUND(${dotSql("v", "qv")} / (nrm * qnrm), 6) AS cos
              |FROM short
              |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin)),

    Q("sim_pq_adc",
      // product-quantization ANN: 8 subspaces x 16 deterministic
      // codewords (first-16 convention, the IVF precedent), asymmetric
      // distance = sum of 8 broadcast table lookups; squared L2 as
      // a·a + b·b − 2·a·b in the shared dot fold; ADC ROUND(6) before
      // the rank so the k-boundary is deterministic on both engines
      (s, d) => Similarity.pqTopK(Tables.embeddings(s, d), queryId = 0,
        k = 10, m = 8, nCodes = 16, dim = 64),
      Some(s"""WITH $evecCteSql,
              |ss AS (SELECT unnest(range(0, 8)) AS s),
              |sl AS (SELECT vec_id, s, list_slice(v, s * 8 + 1, s * 8 + 8) AS vs
              |  FROM evec, ss),
              |cb AS (SELECT s, CAST(vec_id AS INT) AS code, vs AS cw FROM sl WHERE vec_id < 16),
              |enc0 AS (SELECT sl.vec_id, sl.s, cb.code,
              |    ${dotSql("vs", "vs")} + ${dotSql("cw", "cw")} - CAST(2.0 AS DOUBLE) * ${dotSql("vs", "cw")} AS d2
              |  FROM sl JOIN cb ON sl.s = cb.s),
              |enc AS (SELECT vec_id, s, code FROM (
              |    SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, code) AS rn
              |    FROM enc0) WHERE rn = 1),
              |qs AS (SELECT s, vs AS qvs FROM sl WHERE vec_id = 0),
              |qt AS (SELECT cb.s, cb.code,
              |    ${dotSql("qvs", "qvs")} + ${dotSql("cw", "cw")} - CAST(2.0 AS DOUBLE) * ${dotSql("qvs", "cw")} AS qd2
              |  FROM cb JOIN qs ON cb.s = qs.s)
              |SELECT vec_id, ROUND(SUM(qd2), 6) AS adc_dist
              |FROM enc JOIN qt ON enc.s = qt.s AND enc.code = qt.code
              |WHERE vec_id <> 0
              |GROUP BY vec_id
              |ORDER BY adc_dist, vec_id LIMIT 10""".stripMargin)),

    Q("sim_ivfpq_ann",
      // IVF-PQ composed ANN — the billion-vector serving shape: IVF
      // coarse probe (4 nearest cells), PQ-ADC rank inside the probed
      // cells (8-byte codes, 32× smaller than the floats — 4 cells of
      // codes cost ~1/8 the bytes of plain IVF's 1 cell of floats),
      // exact cosine re-rank of the ADC shortlist-50. Every stage reuses
      // an already-oracled convention (sim_ivf_ann cells, sim_pq_adc
      // codebook/ADC), so DuckDB replays the whole composition
      (s, d) => Similarity.ivfPqTopK(Tables.embeddings(s, d), queryId = 20,
        k = 10, nCells = 16, nprobe = 4, m = 8, nCodes = 16, shortlist = 50),
      Some(ivfpqAnnOracle)),

    Q("sim_index_export",
      // the SERVING-LAYOUT boundary (r11 VERDICT task 6): the IVF-PQ
      // index exported as ONE versioned parquet layout — centroids,
      // codebook, postings partitionBy(cell) carrying PQ codes AND raw
      // vectors (FAISS IVFPQ+Refine posture), plus a manifest row — and
      // the query REPLAYED FROM THE LAYOUT ALONE: no embeddings table,
      // no in-memory state. Hash-gated against the SAME oracle as
      // sim_ivfpq_ann: export → read → probe → partition-pruned ADC →
      // exact re-rank is bit-identical to the in-memory path. At 100 TB
      // this is the batch/serving handoff: Spark refreshes v=N+1 while
      // readers replay from v=N
      (s, d) => {
        val idx = Similarity.readIvfPqIndex(s, ivfPqIndexShared(s, d), version = 1)
        Similarity.ivfPqTopKFromIndex(idx, queryId = 20, k = 10,
          nprobe = 4, shortlist = 50)
      },
      Some(ivfpqAnnOracle)),

    Q("sim_index_compact",
      // the nightly close of the index-export lifecycle (r13 VERDICT
      // task 3): the sim_index_export layout (v=1) accumulates an
      // encoded delta batch (sim_incr_ivf's ingest convention — every
      // 17th vector re-appearing under vec_id+2e6, planted exact dups),
      // appendIvfPqDelta encodes it against v=1's own quantizers in
      // O(batch), compactIvfPqIndex merges postings ⊎ delta into v=2
      // (quantizers copied unchanged, base corpus never re-encoded),
      // and the query replays from the COMPACTED layout alone. The
      // oracle full-recomputes IVF-PQ over corpus ∪ batch, hash-proving
      // compaction ≡ from-scratch rebuild; IndexCompactSpec additionally
      // pins layout equality vs writeIvfPqIndex over the merged corpus,
      // v=1 reader isolation mid-compaction, upsert (delta-wins)
      // semantics, and the compacted postings scan reading only the
      // probed cells' partitions
      (s, d) => {
        val dir = ivfPqIndexShared(s, d)
        if (!new java.io.File(s"$dir/v=2/manifest/_SUCCESS").exists) {
          val batch = Tables.embeddings(s, d)
            .filter(col("vec_id") % 17 === 0)
            .select((col("vec_id") + 2000000L).as("vec_id"), col("embedding"))
          Similarity.appendIvfPqDelta(batch, dir, version = 1)
          Similarity.compactIvfPqIndex(s, dir, fromVersion = 1)
        }
        val idx = Similarity.readIvfPqIndex(s, dir, version = 2)
        Similarity.ivfPqTopKFromIndex(idx, queryId = 20, k = 10,
          nprobe = 4, shortlist = 50)
      },
      Some(ivfpqCompactOracle)),

    Q("sim_index_query_delta",
      // the READ side of the append→compact lifecycle (r14 VERDICT
      // task 1): between nightly compactions a serving fleet replays
      // queries against base postings (v=1) ∪ the accumulated
      // UN-compacted delta, delta-wins-on-collision —
      // readIvfPqIndexWithDelta overlays exactly the upsert
      // compactIvfPqIndex later applies, so the SAME oracle as
      // sim_index_compact hash-proves compaction is transparent to
      // readers: query(base ∪ delta) ≡ query(compacted v=2) ≡
      // from-scratch rebuild. The delta's vec_id set is read once at
      // open and drops the replaced base rows as a literal set (the
      // delta is one ingest window, O(batch)); the probe's literal
      // `cell IN (…)` prunes both branches of the unioned scan when the
      // plan is built (IndexCompactSpec pins the partitions read)
      (s, d) => {
        val dir = ivfPqIndexShared(s, d)
        // same ingest batch as sim_index_compact; guarded + idempotent
        // (last-write-wins append), so entry order never matters
        if (!new java.io.File(s"$dir/v=1/delta/_SUCCESS").exists) {
          val batch = Tables.embeddings(s, d)
            .filter(col("vec_id") % 17 === 0)
            .select((col("vec_id") + 2000000L).as("vec_id"), col("embedding"))
          Similarity.appendIvfPqDelta(batch, dir, version = 1)
        }
        val idx = Similarity.readIvfPqIndexWithDelta(s, dir, version = 1)
        Similarity.ivfPqTopKFromIndex(idx, queryId = 20, k = 10,
          nprobe = 4, shortlist = 50)
      },
      Some(ivfpqCompactOracle)),

    Q("sim_ivfpq_res_ann",
      // residual IVF-PQ (the FAISS IVFx,PQy default): PQ runs over
      // v − centroid(cell(v)) — residuals cluster tighter than raw
      // vectors, so the codebook budget spends its resolution where the
      // data lives; the ADC table becomes per-probed-cell (the query's
      // residual differs per cell). Same deterministic conventions as
      // sim_ivfpq_ann, every step replayed in DuckDB
      (s, d) => Similarity.ivfPqTopK(Tables.embeddings(s, d), queryId = 20,
        k = 10, nCells = 16, nprobe = 4, m = 8, nCodes = 16, shortlist = 50,
        residual = true),
      Some(ivfpqResAnnOracle)),

    Q("sim_index_export_res",
      // the exported-layout boundary for the RESIDUAL encoding (r12
      // VERDICT task 8): writeIvfPqIndex(residual = true) persists the
      // FAISS-default IVFx,PQy variant — residual-trained codebook,
      // residual codes in the postings, `residual` flag in the manifest
      // — and the replay reads the flag back (the layout is
      // self-describing, the serving path is never told which variant
      // it opened) to build the per-probed-cell ADC table. Hash-gated
      // against the SAME oracle as sim_ivfpq_res_ann: export → read →
      // probe → partition-pruned per-cell ADC → exact re-rank is
      // bit-identical to the in-memory residual path. With
      // sim_index_export this closes both encodings of the
      // batch/serving handoff
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val dir = s"spark-warehouse/graft_state/ivfpq_res_index_${sourceStateKey(s, d, "embeddings.parquet")}"
        if (!new java.io.File(s"$dir/v=1/manifest/_SUCCESS").exists) {
          Similarity.writeIvfPqIndex(emb,
            Similarity.deterministicCentroids(emb, nCells = 16),
            Similarity.residualCodebook(emb, nCells = 16, nCodes = 16),
            dir, version = 1, residual = true)
        }
        val idx = Similarity.readIvfPqIndex(s, dir, version = 1)
        Similarity.ivfPqTopKFromIndex(idx, queryId = 20, k = 10,
          nprobe = 4, shortlist = 50)
      },
      Some(ivfpqResAnnOracle)),

    Q("sim_semdedup",
      // SemDeDup (Abbas et al. 2023): semantic pruning in embedding
      // space — coarse cells (IVF convention), duplicate groups by exact
      // cosine WITHIN a cell only (co-located equi-join at scale, never
      // all-pairs), one keeper per group = the member with the LOWEST
      // centroid cosine (retain the semantic region's edge, drop the
      // redundant core); untouched vectors survive
      (s, d) => Similarity.semDedup(Tables.embeddings(s, d),
        threshold = 0.4, nCells = 16),
      Some(s"""WITH RECURSIVE $evecCteSql,
              |en AS (SELECT vec_id, v, ${normSql("v")} AS nrm FROM evec),
              |cents AS (SELECT vec_id AS cell, v AS cv, nrm AS cnrm FROM en WHERE vec_id < 16),
              |asg0 AS (
              |  SELECT en.vec_id, en.v, en.nrm, cents.cell,
              |    ${dotSql("en.v", "cents.cv")} / (en.nrm * cents.cnrm) AS ccos
              |  FROM en CROSS JOIN cents),
              |asg AS MATERIALIZED (
              |  SELECT vec_id, v, nrm, cell, ROUND(ccos, 6) AS centroid_cos FROM (
              |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cell) AS rn
              |    FROM asg0) WHERE rn = 1),
              |sp AS (
              |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
              |  FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id
              |  WHERE ${dotSql("a.v", "b.v")} / (a.nrm * b.nrm) > CAST(0.4 AS DOUBLE)),
              |sedges AS (
              |  SELECT id_a AS src, id_b AS dst FROM sp
              |  UNION
              |  SELECT id_b AS src, id_a AS dst FROM sp),
              |sreach AS (
              |  SELECT src AS id, dst AS r FROM sedges
              |  UNION
              |  SELECT sreach.id, e.dst FROM sreach JOIN sedges e ON sreach.r = e.src),
              |scanon AS (SELECT id, LEAST(id, MIN(r)) AS canonical FROM sreach GROUP BY id),
              |skeep AS (SELECT vec_id FROM (
              |    SELECT a.vec_id,
              |      row_number() OVER (PARTITION BY c.canonical ORDER BY a.centroid_cos, a.vec_id) AS kr
              |    FROM asg a JOIN scanon c ON a.vec_id = c.id) WHERE kr = 1)
              |SELECT vec_id, cell, centroid_cos FROM asg
              |WHERE vec_id NOT IN (SELECT id FROM scanon)
              |   OR vec_id IN (SELECT vec_id FROM skeep)
              |ORDER BY vec_id""".stripMargin)),

    Q("sim_semdedup_auto",
      // the 100 TB form of sim_semdedup IS a catalog entry: cell count
      // sized from the corpus (nCells = max(16, ceil(n/occupancy)),
      // integer arithmetic only) so per-cell pair volume stays bounded as
      // data grows — at a FIXED nCells the within-cell pair join is
      // quadratic in occupancy (SCALE.md's fixed-r lesson). The oracle
      // derives nCells from the SAME integer rule (params CTE), so engine
      // and oracle cannot diverge on dataset-size drift: here occupancy
      // 24 -> 21 cells at the 500-vector oracle sf, 84 cells at sf0.1
      (s, d) => Similarity.semDedupAuto(Tables.embeddings(s, d),
        threshold = 0.4, targetOccupancy = 24),
      Some(s"""WITH RECURSIVE $evecCteSql,
              |params AS (SELECT GREATEST(16, (SELECT (count(*) + 23) // 24 FROM evec)) AS nc),
              |en AS (SELECT vec_id, v, ${normSql("v")} AS nrm FROM evec),
              |cents AS (SELECT vec_id AS cell, v AS cv, nrm AS cnrm FROM en
              |  WHERE vec_id < (SELECT nc FROM params)),
              |asg0 AS (
              |  SELECT en.vec_id, en.v, en.nrm, cents.cell,
              |    ${dotSql("en.v", "cents.cv")} / (en.nrm * cents.cnrm) AS ccos
              |  FROM en CROSS JOIN cents),
              |asg AS MATERIALIZED (
              |  SELECT vec_id, v, nrm, cell, ROUND(ccos, 6) AS centroid_cos FROM (
              |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cell) AS rn
              |    FROM asg0) WHERE rn = 1),
              |sp AS (
              |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
              |  FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id
              |  WHERE ${dotSql("a.v", "b.v")} / (a.nrm * b.nrm) > CAST(0.4 AS DOUBLE)),
              |sedges AS (
              |  SELECT id_a AS src, id_b AS dst FROM sp
              |  UNION
              |  SELECT id_b AS src, id_a AS dst FROM sp),
              |sreach AS (
              |  SELECT src AS id, dst AS r FROM sedges
              |  UNION
              |  SELECT sreach.id, e.dst FROM sreach JOIN sedges e ON sreach.r = e.src),
              |scanon AS (SELECT id, LEAST(id, MIN(r)) AS canonical FROM sreach GROUP BY id),
              |skeep AS (SELECT vec_id FROM (
              |    SELECT a.vec_id,
              |      row_number() OVER (PARTITION BY c.canonical ORDER BY a.centroid_cos, a.vec_id) AS kr
              |    FROM asg a JOIN scanon c ON a.vec_id = c.id) WHERE kr = 1)
              |SELECT vec_id, cell, centroid_cos FROM asg
              |WHERE vec_id NOT IN (SELECT id FROM scanon)
              |   OR vec_id IN (SELECT vec_id FROM skeep)
              |ORDER BY vec_id""".stripMargin)),

    Q("sim_cell_occupancy",
      // the PRE-JOIN occupancy audit the cell-bucketed family's docs
      // prescribe, as a first-class entry: per cell — member count,
      // corpus share, the n(n-1)/2 pair-join cost that cell will incur,
      // and the over-budget flag (4x expected occupancy). A flagged cell
      // means the Voronoi regions miss the data's modes and the
      // quadratic within-cell join is about to reappear (the hot-LSH-
      // bucket failure mode); run it before any cellNearDupPairs /
      // semDedup job on a new corpus. Same auto cell-count rule as
      // sim_semdedup_auto, so the oracle derives nCells identically
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val n = emb.count()
        val nCells = math.max(16L, (n + 23) / 24)
        val e0 = emb.select(col("vec_id"),
          Similarity.toDoubleArray(col("embedding")).as("v"))
        Similarity.cellOccupancy(emb,
          e0.filter(col("vec_id") < nCells)
            .select(col("vec_id").as("cell"), col("v").as("cv")),
          expectedOccupancy = 24)
      },
      Some(s"""WITH $evecCteSql,
              |params AS (SELECT GREATEST(16, (SELECT (count(*) + 23) // 24 FROM evec)) AS nc),
              |en AS (SELECT vec_id, v, ${normSql("v")} AS nrm FROM evec),
              |cents AS (SELECT vec_id AS cell, v AS cv, nrm AS cnrm FROM en
              |  WHERE vec_id < (SELECT nc FROM params)),
              |asg0 AS (
              |  SELECT en.vec_id, cents.cell,
              |    ${dotSql("en.v", "cents.cv")} / (en.nrm * cents.cnrm) AS ccos
              |  FROM en CROSS JOIN cents),
              |asg AS (
              |  SELECT vec_id, cell FROM (
              |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cell) AS rn
              |    FROM asg0) WHERE rn = 1),
              |g AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs FROM asg GROUP BY 1),
              |t AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS tt FROM g)
              |SELECT cell, n_vecs,
              |  ROUND(CAST(n_vecs AS DOUBLE) / CAST(tt AS DOUBLE), 6) AS share,
              |  CAST((n_vecs * (n_vecs - 1)) // 2 AS BIGINT) AS pair_cost,
              |  CAST(n_vecs AS DOUBLE) > CAST(4.0 AS DOUBLE) * CAST(24 AS DOUBLE) AS over_budget
              |FROM g, t ORDER BY n_vecs DESC, cell""".stripMargin)),

    Q("sim_mrl_ann",
      // Matryoshka prefix-dim ANN: exact cosine over the first 16 dims
      // re-normalized — the column-pruned cheap pass of an MRL funnel
      (s, d) => Similarity.mrlTopK(Tables.embeddings(s, d), queryId = 0,
        k = 10, prefixDim = 16),
      Some(s"""WITH ep AS (SELECT vec_id,
              |    CAST(list_slice(embedding, 1, 16) AS DOUBLE[]) AS v
              |  FROM embeddings),
              |en AS (SELECT vec_id, v, ${normSql("v")} AS nrm FROM ep),
              |q AS (SELECT v AS qv, nrm AS qnrm FROM en WHERE vec_id = 0)
              |SELECT vec_id, ROUND(${dotSql("v", "qv")} / (nrm * qnrm), 6) AS cos
              |FROM en, q WHERE vec_id <> 0
              |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin)),

    Q("emb_mean_pool",
      // chunk→doc mean pooling (10 consecutive vec_ids per synthetic
      // parent); gate shape flattens the pooled array to (group, pos,
      // val) rows — the pandas hasher cannot hash list cells (ep2
      // lesson); Similarity.meanPoolEmbeddings keeps the array surface
      (s, d) => Similarity.meanPoolEmbeddings(
          Tables.embeddings(s, d), expr("vec_id div 10"))
        .select(col("group_id"), col("n_vectors"), posexplode(col("pooled")))
        .select(col("group_id"), col("n_vectors"), col("pos"),
          round(col("col"), 6).as("val"))
        .orderBy("group_id", "pos"),
      Some(s"""WITH $evecCteSql,
              |px AS (SELECT vec_id // 10 AS group_id, unnest(range(1, 65)) AS p, v FROM evec),
              |ag AS (SELECT group_id, p, AVG(v[p]) AS av, CAST(count(*) AS BIGINT) AS n_vectors
              |  FROM px GROUP BY group_id, p)
              |SELECT group_id, n_vectors, CAST(p - 1 AS INT) AS pos, ROUND(av, 6) AS val
              |FROM ag ORDER BY group_id, pos""".stripMargin)),

    Q("emb_mean_pool_native",
      // the same pooling through the native fixed-buffer vector-sum
      // aggregate (graft.plans.VectorAgg) — o9-style twin entry: one
      // dim-length partial buffer per (task, group) instead of dim
      // exploded rows per vector; same oracle, ROUND(6) absorbs the
      // shuffle-order ulp
      (s, d) => Similarity.meanPoolEmbeddingsNative(
          Tables.embeddings(s, d), expr("vec_id div 10"))
        .select(col("group_id"), col("n_vectors"), posexplode(col("pooled")))
        .select(col("group_id"), col("n_vectors"), col("pos"),
          round(col("col"), 6).as("val"))
        .orderBy("group_id", "pos"),
      Some(s"""WITH $evecCteSql,
              |px AS (SELECT vec_id // 10 AS group_id, unnest(range(1, 65)) AS p, v FROM evec),
              |ag AS (SELECT group_id, p, AVG(v[p]) AS av, CAST(count(*) AS BIGINT) AS n_vectors
              |  FROM px GROUP BY group_id, p)
              |SELECT group_id, n_vectors, CAST(p - 1 AS INT) AS pos, ROUND(av, 6) AS val
              |FROM ag ORDER BY group_id, pos""".stripMargin)),

    Q("sim_ann_recall",
      // the ANN eval harness: recall@10 of IVF (nprobe=1) vs brute-force
      // ground truth over a 5-query panel; cosines ROUND(6)ed before
      // ranking on BOTH sides so the k-boundary is engine-deterministic
      (s, d) => Similarity.annRecallIvf(Tables.embeddings(s, d),
        queryIds = Seq(20L, 111L, 222L, 333L, 444L), k = 10),
      Some(s"""WITH $evecCteSql,
              |en AS (SELECT vec_id, v, ${normSql("v")} AS nrm FROM evec),
              |cents AS (SELECT vec_id AS cell, v AS cv, nrm AS cnrm FROM en WHERE vec_id < 16),
              |asg0 AS (
              |  SELECT en.vec_id, en.v, en.nrm, cents.cell,
              |    ${dotSql("en.v", "cents.cv")} / (en.nrm * cents.cnrm) AS ccos
              |  FROM en CROSS JOIN cents),
              |asg AS (
              |  SELECT vec_id, v, nrm, cell FROM (
              |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cell) AS rn
              |    FROM asg0) WHERE rn = 1),
              |qs AS (SELECT vec_id AS qid, v AS qv, nrm AS qnrm, cell AS qcell
              |  FROM asg WHERE vec_id IN (20, 111, 222, 333, 444)),
              |ex0 AS (SELECT qid, a.vec_id,
              |    ROUND(${dotSql("a.v", "qv")} / (a.nrm * qnrm), 6) AS cos
              |  FROM asg a CROSS JOIN qs WHERE a.vec_id <> qid),
              |exr AS (SELECT qid, vec_id FROM (
              |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rk
              |    FROM ex0) WHERE rk <= 10),
              |ap0 AS (SELECT qid, a.vec_id,
              |    ROUND(${dotSql("a.v", "qv")} / (a.nrm * qnrm), 6) AS cos
              |  FROM asg a JOIN qs ON a.cell = qcell AND a.vec_id <> qid),
              |apr AS (SELECT qid, vec_id FROM (
              |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rk
              |    FROM ap0) WHERE rk <= 10),
              |hx AS (SELECT e.qid, CAST(count(*) AS BIGINT) AS n_exact,
              |    CAST(coalesce(SUM(CASE WHEN a.vec_id IS NOT NULL THEN 1 END), 0) AS BIGINT) AS n_hit
              |  FROM exr e LEFT JOIN apr a ON e.qid = a.qid AND e.vec_id = a.vec_id
              |  GROUP BY e.qid),
              |ax AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_approx FROM apr GROUP BY qid)
              |SELECT qid AS query_id, n_exact,
              |  CAST(coalesce(n_approx, 0) AS BIGINT) AS n_approx, n_hit,
              |  ROUND(CAST(n_hit AS DOUBLE) / CAST(n_exact AS DOUBLE), 6) AS recall
              |FROM hx LEFT JOIN ax USING (qid) ORDER BY query_id""".stripMargin)),

    Q("sim_ivfpq_recall",
      // the composed-index justification row: recall@10 of plain IVF
      // (nprobe=1, floats) vs IVF-PQ (nprobe=4, 8-byte codes + exact
      // re-rank of the ADC shortlist) against brute-force ground truth,
      // per query — IVF-PQ probes 4× the cells at ~1/8 the scan bytes,
      // so its recall must dominate; SimilaritySpec asserts it does
      (s, d) => Similarity.annRecallIvfPq(Tables.embeddings(s, d),
        queryIds = Seq(20L, 111L, 222L, 333L, 444L), k = 10,
        nCells = 16, nprobe = 4, m = 8, nCodes = 16, shortlist = 50),
      Some(s"""WITH $evecCteSql,
              |en AS (SELECT vec_id, v, ${normSql("v")} AS nrm FROM evec),
              |cents AS (SELECT vec_id AS cell, v AS cv, nrm AS cnrm FROM en WHERE vec_id < 16),
              |asg0 AS (
              |  SELECT en.vec_id, en.v, en.nrm, cents.cell,
              |    ${dotSql("en.v", "cents.cv")} / (en.nrm * cents.cnrm) AS ccos
              |  FROM en CROSS JOIN cents),
              |asg AS (
              |  SELECT vec_id, v, nrm, cell FROM (
              |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cell) AS rn
              |    FROM asg0) WHERE rn = 1),
              |qs AS (SELECT vec_id AS qid, v AS qv, nrm AS qnrm, cell AS qcell
              |  FROM asg WHERE vec_id IN (20, 111, 222, 333, 444)),
              |ex0 AS (SELECT qid, a.vec_id,
              |    ROUND(${dotSql("a.v", "qv")} / (a.nrm * qnrm), 6) AS cos
              |  FROM asg a CROSS JOIN qs WHERE a.vec_id <> qid),
              |exr AS (SELECT qid, vec_id FROM (
              |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rk
              |    FROM ex0) WHERE rk <= 10),
              |iv0 AS (SELECT qid, a.vec_id,
              |    ROUND(${dotSql("a.v", "qv")} / (a.nrm * qnrm), 6) AS cos
              |  FROM asg a JOIN qs ON a.cell = qcell AND a.vec_id <> qid),
              |ivr AS (SELECT qid, vec_id FROM (
              |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rk
              |    FROM iv0) WHERE rk <= 10),
              |ss AS (SELECT unnest(range(0, 8)) AS s),
              |sl AS (SELECT vec_id, s, list_slice(v, s * 8 + 1, s * 8 + 8) AS vs
              |  FROM evec, ss),
              |cb AS (SELECT s, CAST(vec_id AS INT) AS code, vs AS cw FROM sl WHERE vec_id < 16),
              |enc0 AS (SELECT sl.vec_id, sl.s, cb.code,
              |    ${dotSql("vs", "vs")} + ${dotSql("cw", "cw")} - CAST(2.0 AS DOUBLE) * ${dotSql("vs", "cw")} AS d2
              |  FROM sl JOIN cb ON sl.s = cb.s),
              |enc AS (SELECT vec_id, s, code FROM (
              |    SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, code) AS rn
              |    FROM enc0) WHERE rn = 1),
              |pb0 AS (SELECT qs.qid, cents.cell,
              |    ${dotSql("cents.cv", "qv")} / (cents.cnrm * qnrm) AS qccos
              |  FROM cents CROSS JOIN qs),
              |probed AS (SELECT qid, cell FROM (
              |    SELECT qid, cell, row_number() OVER (PARTITION BY qid ORDER BY qccos DESC, cell) AS pr
              |    FROM pb0) WHERE pr <= 4),
              |qsl AS (SELECT qs.qid, sl.s, sl.vs AS qvs
              |  FROM sl JOIN qs ON sl.vec_id = qs.qid),
              |qt AS (SELECT qsl.qid, cb.s, cb.code,
              |    ${dotSql("qvs", "qvs")} + ${dotSql("cw", "cw")} - CAST(2.0 AS DOUBLE) * ${dotSql("qvs", "cw")} AS qd2
              |  FROM cb JOIN qsl ON cb.s = qsl.s),
              |sh0 AS (
              |  SELECT p.qid, a.vec_id, ROUND(SUM(qd2), 6) AS adc_dist
              |  FROM asg a
              |  JOIN probed p ON a.cell = p.cell AND a.vec_id <> p.qid
              |  JOIN enc ON enc.vec_id = a.vec_id
              |  JOIN qt ON qt.qid = p.qid AND qt.s = enc.s AND qt.code = enc.code
              |  GROUP BY p.qid, a.vec_id),
              |shr AS (SELECT qid, vec_id FROM (
              |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY adc_dist, vec_id) AS sk
              |    FROM sh0) WHERE sk <= 50),
              |pq0 AS (SELECT shr.qid, shr.vec_id,
              |    ROUND(${dotSql("a.v", "qv")} / (a.nrm * qnrm), 6) AS cos
              |  FROM shr
              |  JOIN asg a ON a.vec_id = shr.vec_id
              |  JOIN qs ON qs.qid = shr.qid),
              |pqr AS (SELECT qid, vec_id FROM (
              |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rk
              |    FROM pq0) WHERE rk <= 10),
              |hx AS (SELECT e.qid, CAST(count(*) AS BIGINT) AS n_exact,
              |    CAST(coalesce(SUM(CASE WHEN i.vec_id IS NOT NULL THEN 1 END), 0) AS BIGINT) AS n_hit_ivf,
              |    CAST(coalesce(SUM(CASE WHEN p.vec_id IS NOT NULL THEN 1 END), 0) AS BIGINT) AS n_hit_ivfpq
              |  FROM exr e
              |  LEFT JOIN ivr i ON e.qid = i.qid AND e.vec_id = i.vec_id
              |  LEFT JOIN pqr p ON e.qid = p.qid AND e.vec_id = p.vec_id
              |  GROUP BY e.qid)
              |SELECT qid AS query_id, n_exact, n_hit_ivf,
              |  ROUND(CAST(n_hit_ivf AS DOUBLE) / CAST(n_exact AS DOUBLE), 6) AS recall_ivf,
              |  n_hit_ivfpq,
              |  ROUND(CAST(n_hit_ivfpq AS DOUBLE) / CAST(n_exact AS DOUBLE), 6) AS recall_ivfpq
              |FROM hx ORDER BY query_id""".stripMargin)),

    Q("sim_trained_recall",
      // the TRAINED quantizer gate (r7 headliner): fitted cosine-KMeans
      // coarse cells (64) + fitted per-subspace PQ codebooks, probed at
      // the SAME code-scan budget as the deterministic entry (16/64
      // trained cells = 4/16 deterministic cells = 25% of corpus code
      // bytes). The hash gate pins the semantic claim: the trained index
      // STRICTLY beats the deterministic first-n convention on every
      // panel query (measured 0.6-0.9 vs 0.4-0.6 recall@10; 0.8
      // everywhere is data-infeasible at this budget on this
      // near-isotropic corpus — SCALE.md carries the sweep and the
      // evidence). Training is partition-layout-deterministic
      // (single-partition sorted sample, fixed seed), so the booleans
      // replay run-to-run and the VALUES oracle is exact.
      //
      // TRIAGE NOTE (this entry and sim_trained_recall08): the pinned
      // booleans depend on MLlib KMeans internals — a Spark/MLlib
      // version bump can legitimately shift fitted centroids and flip a
      // VALUES row even though engine behavior is still correct. The
      // PRIMARY guard is SimilaritySpec's measured recall-gap
      // assertions; if this gate goes red after a Spark upgrade with
      // SimilaritySpec still green, re-pin the VALUES rows as an
      // environmental refresh, not a regression.
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val panel = Seq(20L, 111L, 222L, 333L, 444L)
        val (cents, cb) = trainedQuantizers(s, d)
        val trained = Similarity.annRecallIvfPqWith(emb, cents, cb,
            panel, k = 10, nprobe = 16, shortlist = 100)
          .select(col("query_id"), col("n_exact"),
            col("recall_ivfpq").as("r_trained"))
        val det = Similarity.annRecallIvfPq(emb, panel, k = 10)
          .select(col("query_id"), col("recall_ivfpq").as("r_det"))
        trained.join(det, "query_id")
          .select(col("query_id"), col("n_exact"),
            (col("r_trained") > col("r_det")).as("trained_wins"))
          .orderBy("query_id")
      },
      Some("""SELECT * FROM (VALUES
             |  (CAST(20 AS BIGINT), CAST(10 AS BIGINT), true),
             |  (CAST(111 AS BIGINT), CAST(10 AS BIGINT), true),
             |  (CAST(222 AS BIGINT), CAST(10 AS BIGINT), true),
             |  (CAST(333 AS BIGINT), CAST(10 AS BIGINT), true),
             |  (CAST(444 AS BIGINT), CAST(10 AS BIGINT), true))
             |  AS t(query_id, n_exact, trained_wins)
             |ORDER BY query_id""".stripMargin)),

    Q("sim_trained_recall08",
      // the recall@10 >= 0.8 bar, met where the corpus permits: 24 of 64
      // trained cells = 37.5% of code bytes (1.5x the deterministic
      // budget — the knee of the measured recall-vs-scan curve, SCALE.md).
      // Every panel query clears 0.8; the boolean is hash-gated against
      // the VALUES oracle
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val (cents, cb) = trainedQuantizers(s, d)
        Similarity.annRecallIvfPqWith(emb, cents, cb,
            Seq(20L, 111L, 222L, 333L, 444L), k = 10,
            nprobe = 24, shortlist = 100)
          .select(col("query_id"), col("n_exact"),
            (col("recall_ivfpq") >= 0.8).as("recall_at_least_08"))
          .orderBy("query_id")
      },
      Some("""SELECT * FROM (VALUES
             |  (CAST(20 AS BIGINT), CAST(10 AS BIGINT), true),
             |  (CAST(111 AS BIGINT), CAST(10 AS BIGINT), true),
             |  (CAST(222 AS BIGINT), CAST(10 AS BIGINT), true),
             |  (CAST(333 AS BIGINT), CAST(10 AS BIGINT), true),
             |  (CAST(444 AS BIGINT), CAST(10 AS BIGINT), true))
             |  AS t(query_id, n_exact, recall_at_least_08)
             |ORDER BY query_id""".stripMargin)),

    Q("ta_text_profile",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          TextAnalysis.languageId(col("text")).as("pred_lang"),
          TextAnalysis.qualityScore(col("text")).as("quality"),
          TextAnalysis.whitespaceTokenCount(col("text")).as("ws_tokens"),
          TextAnalysis.bpeishTokenCount(col("text")).cast("long").as("bpeish_tokens"),
          TextAnalysis.fingerprint(col("text")).as("fingerprint"))
        .orderBy("doc_id"),
      Some {
        val langHits = TextAnalysis.LangLexicons.map { case (lang, words) =>
          val inList = words.map(w => s"'$w'").mkString("(", ",", ")")
          s"len(list_filter(list_transform(tokens, t -> lower(t)), t -> t IN $inList)) AS h_$lang"
        }.mkString(", ")
        val langs = TextAnalysis.LangLexicons.map(_._1)
        val best = langs.map(l => s"h_$l").mkString("GREATEST(", ", ", ")")
        val predCase = langs.map(l => s"WHEN h_$l = best AND best > 0 THEN '$l'")
          .mkString("CASE ", " ", " ELSE 'und' END")
        Sentiment.oracleCte +
          s""", lh AS (SELECT doc_id, lang, text, tokens, $langHits FROM toks),
             |lb AS (SELECT *, $best AS best FROM lh)
             |SELECT doc_id, lang,
             |  $predCase AS pred_lang,
             |  ROUND(
             |    LEAST(CAST(1.0 AS DOUBLE), CAST(len(tokens) AS DOUBLE) / CAST(50.0 AS DOUBLE)) * CAST(0.4 AS DOUBLE)
             |    + LEAST(CAST(1.0 AS DOUBLE),
             |        CAST(len(list_filter(tokens, t -> t IN ('the','a','and','of','to','in','is','it'))) AS DOUBLE)
             |        / CAST(GREATEST(len(tokens), 1) AS DOUBLE) * CAST(5.0 AS DOUBLE)) * CAST(0.3 AS DOUBLE)
             |    + CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
             |      / CAST(GREATEST(length(text), 1) AS DOUBLE) * CAST(0.3 AS DOUBLE), 9) AS quality,
             |  CAST(len(tokens) AS BIGINT) AS ws_tokens,
             |  CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS BIGINT) AS bpeish_tokens,
             |  list_reduce(list_prepend(CAST(0 AS BIGINT),
             |    list_transform(tokens, t -> CAST(length(t) * 17 + ascii(substr(t, 1, 1)) AS BIGINT))),
             |    (h, v) -> (h * 31 + v) % 1000000007) AS fingerprint
             |FROM lb ORDER BY doc_id""".stripMargin
      }),

    Q("ta_lang_confusion",
      // classifier eval at corpus scale: the language-ID confusion matrix
      // against the labeled lang column — (label, prediction) cells with
      // per-label share; the model-drift dashboard a 100 TB ingest keeps
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window.partitionBy("lang")
        Tables.documents(s, d)
          .select(col("lang"),
            operators.TextAnalysis.languageId(col("text")).as("pred_lang"))
          .groupBy("lang", "pred_lang").agg(count(lit(1)).as("cnt"))
          .withColumn("label_share",
            round(col("cnt").cast("double") /
              sum(col("cnt")).over(w).cast("double"), 6))
          .orderBy("lang", "pred_lang")
      },
      Some {
        val langHits = operators.TextAnalysis.LangLexicons.map { case (lang, words) =>
          val inList = words.map(w => s"'$w'").mkString("(", ",", ")")
          s"len(list_filter(list_transform(tokens, t -> lower(t)), t -> t IN $inList)) AS h_$lang"
        }.mkString(", ")
        val langs = operators.TextAnalysis.LangLexicons.map(_._1)
        val best = langs.map(l => s"h_$l").mkString("GREATEST(", ", ", ")")
        val predCase = langs.map(l => s"WHEN h_$l = best AND best > 0 THEN '$l'")
          .mkString("CASE ", " ", " ELSE 'und' END")
        Sentiment.oracleCte +
          s""", ch AS (SELECT doc_id, lang, tokens, $langHits FROM toks),
             |cb AS (SELECT *, $best AS best FROM ch),
             |cp AS (SELECT lang, $predCase AS pred_lang FROM cb),
             |cm AS (SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS cnt
             |  FROM cp GROUP BY 1, 2)
             |SELECT lang, pred_lang, cnt,
             |  ROUND(CAST(cnt AS DOUBLE) /
             |    CAST(SUM(cnt) OVER (PARTITION BY lang) AS DOUBLE), 6) AS label_share
             |FROM cm ORDER BY lang, pred_lang""".stripMargin
      }),

    Q("ta_chunking",
      // LLM-pipeline context-window packing: 24-token chunks, 8-token
      // overlap; chunk 0 always exists, so short docs survive whole
      (s, d) => TextAnalysis.chunkTokens(Tables.documents(s, d),
          "text", "doc_id", chunkSize = 24, overlap = 8)
        .orderBy("doc_id", "chunk_id"),
      Some(Sentiment.oracleCte +
        """, ch AS (
          |  SELECT doc_id, tokens,
          |    unnest(range(0, GREATEST(CAST(1 AS BIGINT),
          |      CAST(ceil(CAST(len(tokens) - 8 AS DOUBLE) / CAST(16.0 AS DOUBLE)) AS BIGINT)))) AS chunk_id
          |  FROM toks)
          |SELECT doc_id, chunk_id,
          |  array_to_string(list_slice(tokens, chunk_id * 16 + 1, chunk_id * 16 + 24), ' ') AS chunk
          |FROM ch ORDER BY doc_id, chunk_id""".stripMargin)),

    Q("ta_repetition",
      // Gopher/C4-style repetition quality metrics: duplicate/top n-gram
      // fractions + duplicate-token fraction per doc — the pretraining
      // corpus filters (Rae et al. 2021 §A1.1). Count ratios divide
      // exactly on both engines, so no rounding is needed.
      (s, d) => TextAnalysis.repetitionProfile(Tables.documents(s, d), "text", "doc_id", n = 3),
      Some(Sentiment.oracleCte + s", ${repetitionCtesSql(3)}" +
        """
          |SELECT doc_id, n_tokens, total_ngrams, dup_ngram_frac,
          |  top_ngram_frac, dup_token_frac
          |FROM rp_m ORDER BY doc_id""".stripMargin)),

    Q("pk_sequence_packing",
      // context-window packing: concatenate docs into fixed-size training
      // sequences within 64 independent id-mod buckets (per-worker
      // packing); each doc labeled with the sequence + offset where its
      // first token lands — deterministic integer arithmetic end to end
      (s, d) => TextAnalysis.packSequences(Tables.documents(s, d), "text", "doc_id",
        budget = 512, buckets = 64),
      Some(Sentiment.oracleCte + ",\n" + packCtes +
        """
          |SELECT doc_id, n_tokens, bucket, seq, seq_offset
          |FROM pk3 ORDER BY doc_id""".stripMargin)),

    Q("pk_pack_manifest",
      // the writer-side view of pk_sequence_packing: one row per packed
      // training sequence — docs started, token mass, SPILL count (the
      // boundary crossings a block-diagonal attention mask must cut),
      // and the id@offset layout string. One extra map-side aggregation
      // over budget-bounded (bucket, seq) groups
      (s, d) => TextAnalysis.packManifest(Tables.documents(s, d), "text", "doc_id",
        budget = 512, buckets = 64),
      Some(Sentiment.oracleCte + ",\n" + packCtes +
        """
          |SELECT bucket, seq, CAST(count(*) AS BIGINT) AS n_docs,
          |  CAST(SUM(n_tokens) AS BIGINT) AS started_tokens,
          |  CAST(COALESCE(SUM(CASE WHEN seq_offset + n_tokens > 512 THEN 1 END), 0) AS BIGINT) AS n_spill,
          |  string_agg(CAST(doc_id AS VARCHAR) || '@' || CAST(seq_offset AS VARCHAR), ','
          |    ORDER BY seq_offset, doc_id) AS layout
          |FROM pk3 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    Q("pk_sft_examples",
      // SFT example construction: conversations synthesized
      // deterministically from documents (4-turn user/assistant
      // alternation by doc_id), one training row per assistant turn —
      // chat-templated prompt, completion target, and the loss-mask char
      // boundary a tokenizing shard writer consumes downstream
      (s, d) => operators.Serving.sftExamples(docTurns(s, d)),
      Some(s"""WITH $sftExampleCtes
          |SELECT conv_id, turn_seq, n_context_turns, prompt, target,
          |  loss_start, n_chars
          |FROM sfte ORDER BY conv_id, turn_seq""".stripMargin)),

    Q("pipe_sft_shards",
      // the SFT shard-prep pipeline composed in ONE plan: turns →
      // chat-template examples → snake-draft shard assignment over the
      // rendered example size (n_chars, the byte cost a shard writer
      // pays) → per-shard balance report. Both stages already oracled
      // standalone; the composition proves they stay one lazy plan
      // (Catalyst prunes the prompt/target strings below the n_chars
      // projection) and still hash-match end to end
      (s, d) => operators.TrainingPipeline.sftShardReport(
        docTurns(s, d), nShards = 8),
      Some(s"""WITH $sftExampleCtes,
          |r AS (SELECT turn_seq, n_chars,
          |    row_number() OVER (ORDER BY n_chars,
          |      conv_id * 1048576 + turn_seq) AS rnk FROM sfte),
          |sh AS (SELECT turn_seq, n_chars,
          |    CASE WHEN ((rnk - 1) // 8) % 2 = 0 THEN (rnk - 1) % 8
          |      ELSE 7 - ((rnk - 1) % 8) END AS shard FROM r),
          |g AS (SELECT CAST(shard AS INT) AS shard,
          |    CAST(count(*) AS BIGINT) AS n_examples,
          |    CAST(SUM(n_chars) AS BIGINT) AS total_chars
          |  FROM sh GROUP BY 1)
          |SELECT shard, n_examples, total_chars,
          |  ROUND(CAST(total_chars AS DOUBLE) * CAST(8.0 AS DOUBLE)
          |    / CAST(SUM(total_chars) OVER () AS DOUBLE), 6) AS load_ratio
          |FROM g ORDER BY shard""".stripMargin)),

    Q("pk_dpo_pairs",
      // DPO preference-pair construction over scored response groups:
      // candidate sets = doc_id//8 prompt groups, reward = the F7
      // original score; each prompt pairs its argmax and argmin
      // candidates when the reward margin clears 0.3 (the standard
      // barely-separated filter). ONE max_by/min_by aggregation — a
      // single (id, reward) struct per partial, no window sort — so a
      // 100 TB response log reduces to O(prompts) with one shuffle
      (s, d) => operators.TrainingPipeline.dpoPairs(
        scoredDocs(s, d).select(expr("doc_id div 8").as("prompt_id"),
          col("doc_id"), col("original_score")),
        "prompt_id", "doc_id", "original_score", minMargin = 0.3),
      Some(Sentiment.oracleCte + """,
          |dg AS (SELECT doc_id // 8 AS prompt_id, doc_id, original_score AS r FROM scored),
          |dw AS (SELECT prompt_id, doc_id, r,
          |    row_number() OVER (PARTITION BY prompt_id ORDER BY r DESC, doc_id DESC) AS rc,
          |    row_number() OVER (PARTITION BY prompt_id ORDER BY r ASC, doc_id ASC) AS rr,
          |    CAST(count(*) OVER (PARTITION BY prompt_id) AS BIGINT) AS n_candidates
          |  FROM dg),
          |dc AS (SELECT prompt_id, doc_id AS chosen_id, r AS chosen_reward, n_candidates
          |  FROM dw WHERE rc = 1),
          |dj AS (SELECT prompt_id, doc_id AS rejected_id, r AS rejected_reward
          |  FROM dw WHERE rr = 1)
          |SELECT dc.prompt_id, chosen_id, rejected_id, chosen_reward, rejected_reward,
          |  ROUND(chosen_reward - rejected_reward, 6) AS margin, n_candidates
          |FROM dc JOIN dj ON dc.prompt_id = dj.prompt_id
          |WHERE chosen_reward - rejected_reward >= CAST(0.3 AS DOUBLE)
          |ORDER BY dc.prompt_id""".stripMargin)),

    Q("pk_shard_plan",
      // token-balanced shard assignment (snake draft over the global
      // token-count rank): the per-shard balance report a shard writer
      // checks before committing the layout — load_ratio 1.0 = perfectly
      // even. Rank via the range-bucketed two-phase global rank, snake
      // arithmetic row-local, report O(shards)
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window.partitionBy()
        TextAnalysis.shardPlan(Tables.documents(s, d), "text", "doc_id", 16)
          .groupBy("shard")
          .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("shard_tokens"))
          .select(col("shard"), col("n_docs"), col("shard_tokens"),
            round(col("shard_tokens").cast("double") * lit(16.0) /
              sum(col("shard_tokens")).over(w).cast("double"), 6).as("load_ratio"))
          .orderBy("shard")
      },
      Some(Sentiment.oracleCte +
        """,
          |tl AS (SELECT doc_id, CAST(len(tokens) AS BIGINT) AS n_tokens FROM toks),
          |r AS (SELECT doc_id, n_tokens,
          |    row_number() OVER (ORDER BY n_tokens, doc_id) AS rnk FROM tl),
          |sh AS (SELECT doc_id, n_tokens,
          |    CASE WHEN ((rnk - 1) // 16) % 2 = 0 THEN (rnk - 1) % 16
          |      ELSE 15 - ((rnk - 1) % 16) END AS shard FROM r),
          |g AS (SELECT CAST(shard AS INT) AS shard,
          |    CAST(count(*) AS BIGINT) AS n_docs,
          |    CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens
          |  FROM sh GROUP BY 1)
          |SELECT shard, n_docs, shard_tokens,
          |  ROUND(CAST(shard_tokens AS DOUBLE) * CAST(16.0 AS DOUBLE)
          |    / CAST(SUM(shard_tokens) OVER () AS DOUBLE), 6) AS load_ratio
          |FROM g ORDER BY shard""".stripMargin)),

    Q("dc_decontaminate",
      // GPT-3-style test-set decontamination: docs where doc_id % 17 = 0
      // play the benchmark/eval set; every remaining corpus doc is
      // reported with its distinct-4-gram overlap count and a
      // contaminated flag (broadcast bench shingles, no corpus shuffle)
      (s, d) => {
        val docs = Tables.documents(s, d)
        operators.Dedup.decontaminate(
          docs.filter(col("doc_id") % 17 =!= 0),
          docs.filter(col("doc_id") % 17 === 0),
          "text", "doc_id", n = 4)
      },
      Some(Sentiment.oracleCte +
        s""", ${dshCteSql(4)},
           |bench AS (SELECT DISTINCT sh FROM dsh WHERE doc_id % 17 = 0),
           |ov AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_overlap
           |  FROM dsh JOIN bench USING (sh) WHERE doc_id % 17 <> 0 GROUP BY 1)
           |SELECT d.doc_id, COALESCE(o.n_overlap, CAST(0 AS BIGINT)) AS n_overlap,
           |  COALESCE(o.n_overlap, CAST(0 AS BIGINT)) > 0 AS contaminated
           |FROM (SELECT doc_id FROM documents WHERE doc_id % 17 <> 0) d
           |LEFT JOIN ov o USING (doc_id) ORDER BY doc_id""".stripMargin)),

    Q("ta_winnow_fingerprint",
      // winnowing (MOSS) fingerprints: 3-gram portable md5 hashes,
      // window-4 minima, distinct per doc — positional local-overlap
      // sketch, replayed hash-for-hash by the oracle in list-land
      (s, d) => TextAnalysis.winnowFingerprints(Tables.documents(s, d),
        "text", "doc_id", n = 3, window = 4),
      Some(Sentiment.oracleCte + s", ${winnowCtesSql(3, 4)}" +
        "\nSELECT doc_id, fp FROM wn_f ORDER BY doc_id, fp")),

    Q("dd_winnow_pairs",
      // positional near-dup candidates: pairs sharing >= 2 winnow
      // fingerprints (shared contiguous spans, the overlap MinHash's
      // bag-level sketch dilutes away) — fp equi-join only, no all-pairs
      (s, d) => operators.Dedup.winnowNearDupPairs(Tables.documents(s, d),
        "text", "doc_id", n = 3, window = 4, minShared = 2),
      Some(Sentiment.oracleCte + s", ${winnowCtesSql(3, 4)}" +
        """
          |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          |  CAST(count(*) AS BIGINT) AS shared_fps
          |FROM wn_f a JOIN wn_f b ON a.fp = b.fp AND a.doc_id < b.doc_id
          |GROUP BY 1, 2 HAVING count(*) >= 2
          |ORDER BY id_a, id_b""".stripMargin)),

    Q("mix_epoch_plan",
      // data-constrained epoch allocation (Muennighoff 2023: repeats
      // stop helping past ~4 epochs): per-source want/alloc/epochs under
      // a 3x-corpus budget and a 4-epoch cap, with the capped verdict
      // and the shortfall a waterfilling rerun redistributes. The heavy
      // targets (0.1 on a ~0.05 natural share) cap by construction, so
      // the report exercises both branches
      (s, d) => TextAnalysis.epochPlan(
        Tables.documents(s, d), "text", "source",
        (0 until 20).map(i =>
          s"src$i" -> (if (i < 5) 0.1 else if (i < 10) 0.06 else 0.02)).toMap,
        budgetMultiple = 3.0, maxEpochs = 4.0),
      Some(Sentiment.oracleCte +
        """,
          |mx AS (SELECT source, CAST(SUM(len(tokens)) AS BIGINT) AS domain_tokens
          |  FROM toks GROUP BY source),
          |mt AS (SELECT CAST(SUM(domain_tokens) AS BIGINT) AS total_tokens FROM mx),
          |pl AS (SELECT source, domain_tokens,
          |    CASE WHEN CAST(substr(source, 4) AS INT) < 5 THEN CAST(0.1 AS DOUBLE)
          |         WHEN CAST(substr(source, 4) AS INT) < 10 THEN CAST(0.06 AS DOUBLE)
          |         ELSE CAST(0.02 AS DOUBLE) END AS target_weight,
          |    CAST(total_tokens AS DOUBLE) AS tt
          |  FROM mx, mt),
          |pw AS (SELECT source, domain_tokens, target_weight,
          |    target_weight * CAST(3.0 AS DOUBLE) * tt AS want,
          |    CAST(4.0 AS DOUBLE) * CAST(domain_tokens AS DOUBLE) AS avail
          |  FROM pl)
          |SELECT source, domain_tokens, target_weight,
          |  ROUND(want, 6) AS want_tokens,
          |  ROUND(LEAST(want, avail), 6) AS alloc_tokens,
          |  ROUND(LEAST(want, avail) / CAST(domain_tokens AS DOUBLE), 6) AS epochs,
          |  avail < want AS capped,
          |  ROUND(GREATEST(want - avail, CAST(0.0 AS DOUBLE)), 6) AS shortfall_tokens
          |FROM pw ORDER BY source""".stripMargin)),

    Q("mix_token_budget",
      // DoReMi/Pile-style corpus-mixing plan: per-source token share vs a
      // target weight (src0-4: 0.1, src5-9: 0.06, rest: 0.02, summing to
      // 1) and the repeat factor a sampler applies to hit the mixture
      (s, d) => TextAnalysis.tokenBudgetMixture(
        Tables.documents(s, d), "text", "source",
        (0 until 20).map(i =>
          s"src$i" -> (if (i < 5) 0.1 else if (i < 10) 0.06 else 0.02)).toMap),
      Some(Sentiment.oracleCte +
        """,
          |mx AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
          |    CAST(SUM(len(tokens)) AS BIGINT) AS domain_tokens
          |  FROM toks GROUP BY source),
          |mt AS (SELECT CAST(SUM(domain_tokens) AS BIGINT) AS total_tokens FROM mx)
          |SELECT source, n_docs, domain_tokens,
          |  CAST(domain_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE) AS token_share,
          |  CASE WHEN CAST(substr(source, 4) AS INT) < 5 THEN CAST(0.1 AS DOUBLE)
          |       WHEN CAST(substr(source, 4) AS INT) < 10 THEN CAST(0.06 AS DOUBLE)
          |       ELSE CAST(0.02 AS DOUBLE) END AS target_weight,
          |  CASE WHEN CAST(substr(source, 4) AS INT) < 5 THEN CAST(0.1 AS DOUBLE)
          |       WHEN CAST(substr(source, 4) AS INT) < 10 THEN CAST(0.06 AS DOUBLE)
          |       ELSE CAST(0.02 AS DOUBLE) END
          |    * CAST(total_tokens AS DOUBLE) / CAST(domain_tokens AS DOUBLE) AS repeat_factor
          |FROM mx, mt ORDER BY source""".stripMargin)),

    Q("mix_temperature",
      // XLM-R/mC4-style temperature sampling (q_i ∝ p_i^0.3): weights
      // DERIVED from the corpus, vs mix_token_budget's explicit targets.
      // ROUND(6) absorbs libm pow ulps + the 20-term Z summation order
      (s, d) => TextAnalysis.temperatureMixture(
        Tables.documents(s, d), "text", "source", alpha = 0.3),
      Some(Sentiment.oracleCte +
        """,
          |mx AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
          |    CAST(SUM(len(tokens)) AS BIGINT) AS domain_tokens
          |  FROM toks GROUP BY source),
          |mt AS (SELECT CAST(SUM(domain_tokens) AS BIGINT) AS total_tokens FROM mx),
          |mp AS (SELECT source, n_docs, domain_tokens,
          |    CAST(domain_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE) AS p,
          |    power(CAST(domain_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE),
          |          CAST(0.3 AS DOUBLE)) AS pa
          |  FROM mx, mt),
          |mz AS (SELECT SUM(pa) AS z FROM mp)
          |SELECT source, n_docs, domain_tokens,
          |  ROUND(p, 6) AS token_share,
          |  ROUND(pa / z, 6) AS sample_weight,
          |  ROUND(pa / z / p, 6) AS upsample_factor
          |FROM mp, mz ORDER BY source""".stripMargin)),

    Q("ir_bm25_topk",
      // Okapi BM25 (Lucene +1 idf, k1=1.2, b=0.75) top-10 against a
      // 3-term query; scores ROUND(6)ed before ranking, doc_id tiebreak
      (s, d) => TextAnalysis.bm25TopK(Tables.documents(s, d), "text",
        "doc_id", Seq("hash", "join", "vector"), k = 10),
      Some(Sentiment.oracleCte +
        """,
          |bs AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
          |    CAST(SUM(len(tokens)) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
          |  FROM toks),
          |bt AS (SELECT doc_id, CAST(len(tokens) AS BIGINT) AS dl,
          |    unnest(list_filter(tokens, t -> t IN ('hash', 'join', 'vector'))) AS t
          |  FROM toks),
          |btf AS (SELECT doc_id, dl, t, CAST(count(*) AS DOUBLE) AS tf
          |  FROM bt GROUP BY doc_id, dl, t),
          |bdf AS (SELECT t, CAST(count(*) AS BIGINT) AS nt FROM btf GROUP BY t),
          |bsc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
          |    ROUND(SUM(
          |      ln((CAST(n_docs AS DOUBLE) - CAST(nt AS DOUBLE) + CAST(0.5 AS DOUBLE))
          |          / (CAST(nt AS DOUBLE) + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE))
          |      * tf * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE))
          |      / (tf + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE)
          |          + CAST(0.75 AS DOUBLE) * CAST(dl AS DOUBLE) / avgdl))), 6) AS score
          |  FROM btf JOIN bdf USING (t), bs GROUP BY doc_id)
          |SELECT doc_id, n_terms, score FROM bsc
          |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin)),

    Q("pipe_fineweb_funnel",
      // the FULL pretraining-curation funnel in ONE plan — the FineWeb
      // stage sequence: eval holdout -> lang-ID -> Gopher rules -> exact
      // dedup -> MinHash near-dup prune -> decontamination, reported as
      // the per-stage survivor counts + token mass a curation run
      // publishes. Every stage is an already-oracled operator; the hash
      // gate proves they COMPOSE (the oracle re-derives all six stages
      // and the recursive near-dup closure end to end)
      (s, d) => operators.TrainingPipeline.finewebFunnel(
        Tables.documents(s, d)),
      Some {
        val stopList = operators.TextAnalysis.GopherStopwords.map(w => s"'$w'")
          .mkString("(", ",", ")")
        val langHits = operators.TextAnalysis.LangLexicons.map { case (lang, words) =>
          val inList = words.map(w => s"'$w'").mkString("(", ",", ")")
          s"len(list_filter(list_transform(tokens, t -> lower(t)), t -> t IN $inList)) AS h_$lang"
        }.mkString(", ")
        val langs = operators.TextAnalysis.LangLexicons.map(_._1)
        val best = langs.map(l => s"h_$l").mkString("GREATEST(", ", ", ")")
        val predCase = langs.map(l => s"WHEN h_$l = best AND best > 0 THEN '$l'")
          .mkString("CASE ", " ", " ELSE 'und' END")
        def stageCount(i: Int, nm: String, src: String): String =
          s"""SELECT $i AS stage_idx, '$nm' AS stage,
             |  CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(COALESCE(SUM(len(tokens)), 0) AS BIGINT) AS total_tokens
             |FROM $src""".stripMargin
        Sentiment.oracleCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
          s", ${repetitionCtesSql(3)}" +
          s""",
             |fwl0 AS (SELECT doc_id, tokens, $langHits FROM toks),
             |fwl1 AS (SELECT *, $best AS best FROM fwl0),
             |fwlang AS (SELECT doc_id, $predCase AS lang_guess FROM fwl1),
             |fwg_r AS (SELECT doc_id, trim(regexp_replace(text, '\\s+', ' ', 'g')) AS nt, tokens FROM toks),
             |fwg_m AS (SELECT doc_id,
             |    CAST(len(tokens) AS BIGINT) AS wc,
             |    CAST(length(nt) AS BIGINT) AS nlen,
             |    CAST((length(nt) - length(replace(nt, '#', ''))) +
             |         (length(nt) - length(replace(nt, '...', ''))) // 3 AS BIGINT) AS symbols,
             |    CAST(len(list_distinct(list_filter(tokens, t -> lower(t) IN $stopList))) AS BIGINT) AS stopword_hits
             |  FROM fwg_r),
             |fwgate AS (SELECT g.doc_id FROM fwg_m g JOIN rp_m r USING (doc_id)
             |  WHERE g.wc >= 20 AND g.wc <= 80
             |    AND (CASE WHEN g.wc > 0 THEN CAST(g.nlen - (g.wc - 1) AS DOUBLE) / CAST(g.wc AS DOUBLE)
             |          ELSE CAST(0.0 AS DOUBLE) END) >= CAST(3.0 AS DOUBLE)
             |    AND (CASE WHEN g.wc > 0 THEN CAST(g.nlen - (g.wc - 1) AS DOUBLE) / CAST(g.wc AS DOUBLE)
             |          ELSE CAST(0.0 AS DOUBLE) END) <= CAST(6.0 AS DOUBLE)
             |    AND (CASE WHEN g.wc > 0 THEN CAST(g.symbols AS DOUBLE) / CAST(g.wc AS DOUBLE)
             |          ELSE CAST(0.0 AS DOUBLE) END) <= CAST(0.1 AS DOUBLE)
             |    AND g.stopword_hits >= 1
             |    AND r.dup_token_frac <= CAST(0.6 AS DOUBLE)
             |    AND r.dup_ngram_frac <= CAST(0.2 AS DOUBLE)),
             |fwc1 AS (SELECT doc_id, text, tokens FROM toks WHERE doc_id % 17 <> 0),
             |fwc2 AS (SELECT fwc1.* FROM fwc1
             |  JOIN fwlang USING (doc_id) WHERE fwlang.lang_guess <> 'und'),
             |fwc3 AS (SELECT fwc2.* FROM fwc2 JOIN fwgate USING (doc_id)),
             |fwfirst AS (SELECT MIN(doc_id) AS doc_id FROM fwc3 GROUP BY text),
             |fwc4 AS (SELECT fwc3.* FROM fwc3 JOIN fwfirst USING (doc_id))""".stripMargin +
          minhashChainCtes(32, 8, "SELECT doc_id AS id, tokens FROM fwc4") +
          mhPairsCte(0.5) + mhReachCtes() +
          s""",
             |fwcanon AS (SELECT id, LEAST(id, MIN(r)) AS canonical FROM mh_reach GROUP BY id),
             |fwc5 AS (SELECT * FROM fwc4
             |  WHERE doc_id NOT IN (SELECT id FROM fwcanon WHERE id <> canonical)),
             |${dshCteSql(4)},
             |fwbench AS (SELECT DISTINCT sh FROM dsh WHERE doc_id % 17 = 0),
             |fwcont AS (SELECT DISTINCT d.doc_id FROM dsh d
             |  JOIN fwbench USING (sh) JOIN fwc5 c ON c.doc_id = d.doc_id),
             |fwc6 AS (SELECT * FROM fwc5
             |  WHERE doc_id NOT IN (SELECT doc_id FROM fwcont))
             |${stageCount(0, "0_raw", "toks")}
             |UNION ALL ${stageCount(1, "1_eval_holdout", "fwc1")}
             |UNION ALL ${stageCount(2, "2_lang_id", "fwc2")}
             |UNION ALL ${stageCount(3, "3_gopher_gate", "fwc3")}
             |UNION ALL ${stageCount(4, "4_exact_dedup", "fwc4")}
             |UNION ALL ${stageCount(5, "5_near_dup", "fwc5")}
             |UNION ALL ${stageCount(6, "6_decontaminated", "fwc6")}
             |ORDER BY stage_idx""".stripMargin
      }),

    Q("pipe_ccnet_buckets",
      // the CCNet curation pipeline composed end to end (Wenzek 2020):
      // lang-ID (lexicon classifier) -> per-language head/middle/tail
      // perplexity buckets (exact interpolated 1/3, 2/3 percentiles,
      // both sides ROUND(6) before the boundary compare) -> keep
      // head+middle; emitted as the per-(lang, bucket) mass report a
      // curation run publishes before materializing the filtered corpus.
      // Both stages already oracled standalone (ta_unigram_logppl,
      // ta_lang_confusion); this proves the composition
      (s, d) => operators.TrainingPipeline.ccnetBucketReport(
        Tables.documents(s, d)),
      Some {
        val langHits = operators.TextAnalysis.LangLexicons.map { case (lang, words) =>
          val inList = words.map(w => s"'$w'").mkString("(", ",", ")")
          s"len(list_filter(list_transform(tokens, t -> lower(t)), t -> t IN $inList)) AS h_$lang"
        }.mkString(", ")
        val langs = operators.TextAnalysis.LangLexicons.map(_._1)
        val best = langs.map(l => s"h_$l").mkString("GREATEST(", ", ", ")")
        val predCase = langs.map(l => s"WHEN h_$l = best AND best > 0 THEN '$l'")
          .mkString("CASE ", " ", " ELSE 'und' END")
        Sentiment.oracleCte + s""",
          |tk AS (SELECT doc_id, unnest(tokens) AS t FROM toks),
          |fr AS (SELECT t, CAST(count(*) AS BIGINT) AS c FROM tk GROUP BY t),
          |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_total FROM fr),
          |pplx AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
          |    ROUND(AVG(-log2(CAST(c AS DOUBLE) / CAST(n_total AS DOUBLE))), 6) AS bpt
          |  FROM tk JOIN fr USING (t), tot GROUP BY doc_id),
          |ch AS (SELECT doc_id, tokens, $langHits FROM toks),
          |cb AS (SELECT *, $best AS best FROM ch),
          |cp AS (SELECT doc_id, $predCase AS lang_guess FROM cb),
          |sc AS (SELECT cp.doc_id, lang_guess, n_tokens, bpt
          |  FROM cp JOIN pplx ON cp.doc_id = pplx.doc_id),
          |bn AS (SELECT lang_guess,
          |    ROUND(quantile_cont(bpt, CAST(1.0 AS DOUBLE) / CAST(3.0 AS DOUBLE)), 6) AS b1,
          |    ROUND(quantile_cont(bpt, CAST(2.0 AS DOUBLE) / CAST(3.0 AS DOUBLE)), 6) AS b2
          |  FROM sc GROUP BY 1),
          |bk AS (SELECT sc.lang_guess,
          |    CASE WHEN bpt <= b1 THEN 'head' WHEN bpt <= b2 THEN 'middle'
          |      ELSE 'tail' END AS bucket, n_tokens, bpt
          |  FROM sc JOIN bn ON sc.lang_guess = bn.lang_guess)
          |SELECT lang_guess, bucket, CAST(count(*) AS BIGINT) AS n_docs,
          |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
          |  ROUND(AVG(bpt), 6) AS avg_bits_per_token,
          |  bucket <> 'tail' AS kept
          |FROM bk GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
      }),

    Q("pipe_rag_index",
      // the serving-side mirror of pipe_corpus_report: a RAG INDEX BUILD
      // as one declarative plan — chunk (64/16 windows) → embed (8-dim
      // hashed embedding; a real model slots into the same text→vector
      // seam) → LSH partition key (4 planes) → index-layout report
      // (chunks and distinct docs per bucket). Every stage row-local
      // until the final O(buckets) aggregation; hash-green end to end
      (s, d) => {
        val chunks = TextAnalysis.chunkDocuments(Tables.documents(s, d),
          "text", "doc_id", chunkTokens = 64, overlapTokens = 16)
        chunks
          // bucket ids as their own projection: one md5 per token total;
          // the 8 per-dim weights are literal-table lookups over it
          .select(col("doc_id"), TextAnalysis.tokenBuckets(
            TextFns.tokens(col("chunk_text")), 256).as("b"))
          .select(col("doc_id"),
            TextAnalysis.hashedEmbeddingFromBuckets(col("b"), 8, 256).as("v"))
          .select(col("doc_id"), Similarity.lshBucket(col("v"), 4, 8).as("bucket"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n_chunks"),
            countDistinct(col("doc_id")).as("n_docs"))
          .orderBy("bucket")
      },
      Some {
        def embDimSql(ct: String, j: Int): String =
          s"""ROUND(list_sum(list_transform($ct, t ->
             |      (CAST(CAST('0x' || substr(md5('d$j:' || CAST(
             |          CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) % 256
             |        AS VARCHAR)), 1, 15) AS BIGINT) % 2001 AS DOUBLE)
             |       - CAST(1000.0 AS DOUBLE)) / CAST(1000.0 AS DOUBLE)))
             |    / CAST(len($ct) AS DOUBLE), 6)""".stripMargin
        Sentiment.oracleCte +
          s""",
             |cks AS (SELECT doc_id, tokens,
             |    unnest(range(0, greatest(len(tokens), 1), 48)) AS st FROM toks),
             |ck AS (SELECT doc_id, list_slice(tokens, st + 1, st + 64) AS ct
             |  FROM cks),
             |ckv AS (SELECT doc_id,
             |    [${(0 until 8).map(j => embDimSql("ct", j)).mkString(",\n")}] AS v
             |  FROM ck WHERE len(ct) > 0),
             |bk AS (SELECT doc_id, ${lshBucketSql("v", 4, 8)} AS bucket FROM ckv)
             |SELECT bucket, CAST(count(*) AS BIGINT) AS n_chunks,
             |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
             |FROM bk GROUP BY bucket ORDER BY bucket""".stripMargin
      }),

    Q("ta_rag_chunks",
      // RAG chunking: 64-token windows every 48 tokens (16-token
      // overlap) — the retrieval-unit prep before the embedding seam,
      // and the inverse of pk_sequence_packing. Pure sequence→explode→
      // slice column algebra in the scan projection; short tail chunks
      // kept (dropping them loses document endings)
      (s, d) => TextAnalysis.chunkDocuments(Tables.documents(s, d),
        "text", "doc_id", chunkTokens = 64, overlapTokens = 16),
      Some(Sentiment.oracleCte +
        """,
          |cks AS (SELECT doc_id, tokens,
          |    unnest(range(0, greatest(len(tokens), 1), 48)) AS st FROM toks),
          |ck AS (SELECT doc_id, CAST(st // 48 AS INT) AS chunk_id,
          |    list_slice(tokens, st + 1, st + 64) AS ct FROM cks)
          |SELECT doc_id, chunk_id, CAST(len(ct) AS BIGINT) AS n_tokens,
          |  array_to_string(ct, ' ') AS chunk_text
          |FROM ck WHERE len(ct) > 0 ORDER BY doc_id, chunk_id""".stripMargin)),

    Q("ir_rm3_expansion",
      // RM3-style pseudo-relevance feedback: BM25 top-10 feedback docs →
      // 5 relevance-weighted expansion terms (stoplist + query excluded,
      // ROUND(6) weights, term tiebreak) → rescore with the expanded
      // query. The oracle replays BOTH passes; its pass-2 term predicate
      // is an IN-subquery over the expansion CTE while Spark collects
      // the O(5) terms to the driver — same set by construction, proven
      // by the hash
      (s, d) => TextAnalysis.bm25ExpandedTopK(Tables.documents(s, d),
        "text", "doc_id", Seq("hash", "join", "vector"),
        fbDocs = 10, expand = 5, k = 10),
      Some {
        val stopList = operators.Analytics.StopWords
          .map(w => s"'$w'").mkString("(", ", ", ")")
        Sentiment.oracleCte +
          """,
            |bs AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
            |    CAST(SUM(len(tokens)) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
            |  FROM toks),
            |bt AS (SELECT doc_id, CAST(len(tokens) AS BIGINT) AS dl,
            |    unnest(list_filter(tokens, t -> t IN ('hash', 'join', 'vector'))) AS t
            |  FROM toks),
            |btf AS (SELECT doc_id, dl, t, CAST(count(*) AS DOUBLE) AS tf
            |  FROM bt GROUP BY doc_id, dl, t),
            |bdf AS (SELECT t, CAST(count(*) AS BIGINT) AS nt FROM btf GROUP BY t),
            |fb AS (SELECT doc_id,
            |    ROUND(SUM(
            |      ln((CAST(n_docs AS DOUBLE) - CAST(nt AS DOUBLE) + CAST(0.5 AS DOUBLE))
            |          / (CAST(nt AS DOUBLE) + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE))
            |      * tf * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE))
            |      / (tf + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE)
            |          + CAST(0.75 AS DOUBLE) * CAST(dl AS DOUBLE) / avgdl))), 6) AS score
            |  FROM btf JOIN bdf USING (t), bs GROUP BY doc_id
            |  ORDER BY score DESC, doc_id LIMIT 10),
            |fbt AS (SELECT f.score, unnest(tk.tokens) AS t
            |  FROM fb f JOIN toks tk USING (doc_id)),
            |exp AS (SELECT t, ROUND(SUM(score), 6) AS w FROM fbt
            |  WHERE t NOT IN ('hash', 'join', 'vector')
            |    AND t NOT IN """.stripMargin + stopList +
          """
            |  GROUP BY t ORDER BY w DESC, t LIMIT 5),
            |eta AS (SELECT doc_id, CAST(len(tokens) AS BIGINT) AS dl,
            |    unnest(tokens) AS t FROM toks),
            |et AS (SELECT doc_id, dl, t FROM eta
            |  WHERE t IN ('hash', 'join', 'vector')
            |     OR t IN (SELECT t FROM exp)),
            |etf AS (SELECT doc_id, dl, t, CAST(count(*) AS DOUBLE) AS tf
            |  FROM et GROUP BY doc_id, dl, t),
            |edf AS (SELECT t, CAST(count(*) AS BIGINT) AS nt FROM etf GROUP BY t),
            |esc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
            |    ROUND(SUM(
            |      ln((CAST(n_docs AS DOUBLE) - CAST(nt AS DOUBLE) + CAST(0.5 AS DOUBLE))
            |          / (CAST(nt AS DOUBLE) + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE))
            |      * tf * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE))
            |      / (tf + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE)
            |          + CAST(0.75 AS DOUBLE) * CAST(dl AS DOUBLE) / avgdl))), 6) AS score
            |  FROM etf JOIN edf USING (t), bs GROUP BY doc_id)
            |SELECT doc_id, n_terms, score FROM esc
            |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin
      }),

    Q("ir_rerank_seam",
      // two-stage retrieval with a pluggable re-ranker — the cross-
      // encoder serving shape: BM25 retrieves 20 candidates cheap, a
      // batched mapPartitions scorer re-ranks them (the scoreWithModel
      // seam applied to retrieval; a real cross-encoder slots in at the
      // batchScore without touching the dataflow). The deterministic
      // reference scorer is distinct-token overlap F1 in the exact-
      // integer form 2·|∩| / (|distinct toks| + |q|) — fully DuckDB-
      // replayed, so the seam's output is hash-gated end to end
      (s, d) => TextAnalysis.rerankWithModel(Tables.documents(s, d),
        "text", "doc_id", Seq("hash", "join", "vector"),
        candidateK = 20, k = 10,
        TextAnalysis.overlapF1Scorer(Seq("hash", "join", "vector"))),
      Some(Sentiment.oracleCte +
        """,
          |bs AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
          |    CAST(SUM(len(tokens)) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
          |  FROM toks),
          |bt AS (SELECT doc_id, CAST(len(tokens) AS BIGINT) AS dl,
          |    unnest(list_filter(tokens, t -> t IN ('hash', 'join', 'vector'))) AS t
          |  FROM toks),
          |btf AS (SELECT doc_id, dl, t, CAST(count(*) AS DOUBLE) AS tf
          |  FROM bt GROUP BY doc_id, dl, t),
          |bdf AS (SELECT t, CAST(count(*) AS BIGINT) AS nt FROM btf GROUP BY t),
          |bsc AS (SELECT doc_id, ROUND(SUM(
          |      ln((CAST(n_docs AS DOUBLE) - CAST(nt AS DOUBLE) + CAST(0.5 AS DOUBLE))
          |          / (CAST(nt AS DOUBLE) + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE))
          |      * tf * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE))
          |      / (tf + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE)
          |          + CAST(0.75 AS DOUBLE) * CAST(dl AS DOUBLE) / avgdl))), 6) AS score
          |  FROM btf JOIN bdf USING (t), bs GROUP BY doc_id),
          |cand AS (SELECT doc_id,
          |    row_number() OVER (ORDER BY score DESC, doc_id) AS bm25_rank
          |  FROM bsc QUALIFY bm25_rank <= 20),
          |rr AS (SELECT cand.doc_id, bm25_rank,
          |    ROUND(CAST(2 * len(list_filter(list_distinct(tokens),
          |        t -> t IN ('hash', 'join', 'vector'))) AS DOUBLE)
          |      / CAST(len(list_distinct(tokens)) + 3 AS DOUBLE), 6) AS rerank_score
          |  FROM cand JOIN toks USING (doc_id))
          |SELECT doc_id, bm25_rank, rerank_score FROM rr
          |ORDER BY rerank_score DESC, doc_id LIMIT 10""".stripMargin)),

    Q("ir_phrase_match",
      // exact phrase search via a positional posting self-join (posexplode
      // → hits-only filter → (doc, pos+i) equi-joins); the oracle counts
      // consecutive-pair matches with a token/successor zip — same
      // occurrences, closed form for a 2-token phrase
      (s, d) => TextAnalysis.phraseMatch(Tables.documents(s, d), "text",
        "doc_id", Seq("hash", "join")),
      Some(Sentiment.oracleCte +
        """
          |SELECT * FROM (
          |  SELECT doc_id, CAST(len(list_filter(list_zip(tokens, tokens[2:]),
          |      p -> p[1] = 'hash' AND p[2] = 'join')) AS BIGINT) AS n_hits
          |  FROM toks)
          |WHERE n_hits > 0
          |ORDER BY n_hits DESC, doc_id""".stripMargin)),

    Q("dd_url_canonical",
      // manifest-level URL dedup (the stage BEFORE any fetch or content
      // hash): every doc_id pair (2g, 2g+1) spells the same page two ways
      // — scheme/host case, default :80, tracking params, param order,
      // trailing slash, fragment — and canonicalization must collapse
      // exactly those pairs and nothing else. The Spark side is
      // Ingest.canonicalUrl (pure codegen column algebra, zero shuffle
      // before the final groupBy); the oracle re-derives the same rules
      // in independent DuckDB SQL, so an agreement is two implementations
      // of the spec matching, not one implementation hashed twice.
      (s, d) => {
        val g = expr("doc_id div 2")
        val even = col("doc_id") % 2 === 0
        val url = concat(
          when(even, lit("HTTP")).otherwise(lit("http")), lit("://"),
          when(even, concat(lit("WWW.EX"), (g % 50).cast("string"), lit(".COM")))
            .otherwise(concat(lit("www.ex"), (g % 50).cast("string"), lit(".com"))),
          when(even, lit(":80")).otherwise(lit("")),
          lit("/d/"), g.cast("string"),
          when(even, lit("")).otherwise(lit("/")),
          when(even, lit("?utm_source=x&b=2&a=1"))
            .otherwise(lit("?a=1&utm_medium=y&b=2")),
          when(even, lit("#top")).otherwise(lit("")))
        Tables.documents(s, d).select(col("doc_id"), url.as("url"))
          .select(col("doc_id"), col("url"),
            sources.Ingest.canonicalUrl(col("url")).as("canonical_url"))
          .groupBy("canonical_url")
          .agg(count(lit(1)).as("n_raw"),
            countDistinct(col("url")).as("n_spellings"),
            min("doc_id").as("first_doc"))
          .orderBy("canonical_url")
      },
      Some("""WITH raw AS (
          |  SELECT doc_id,
          |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'http' END)
          |    || '://'
          |    || (CASE WHEN doc_id % 2 = 0
          |        THEN 'WWW.EX' || CAST((doc_id // 2) % 50 AS VARCHAR) || '.COM'
          |        ELSE 'www.ex' || CAST((doc_id // 2) % 50 AS VARCHAR) || '.com' END)
          |    || (CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE '' END)
          |    || '/d/' || CAST(doc_id // 2 AS VARCHAR)
          |    || (CASE WHEN doc_id % 2 = 0 THEN '' ELSE '/' END)
          |    || (CASE WHEN doc_id % 2 = 0 THEN '?utm_source=x&b=2&a=1'
          |        ELSE '?a=1&utm_medium=y&b=2' END)
          |    || (CASE WHEN doc_id % 2 = 0 THEN '#top' ELSE '' END) AS url
          |  FROM documents),
          |c1 AS (SELECT doc_id, url, regexp_replace(url, '#.*$', '') AS nofrag FROM raw),
          |c2 AS (SELECT doc_id, url,
          |    lower(regexp_extract(nofrag, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
          |    regexp_replace(nofrag, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
          |  FROM c1),
          |c3 AS (SELECT doc_id, url, scheme,
          |    regexp_extract(rest, '^([^/?]*)', 1) AS hostport,
          |    regexp_replace(rest, '^[^/?]*', '') AS afterhost
          |  FROM c2),
          |c4 AS (SELECT doc_id, url, scheme,
          |    lower(regexp_extract(hostport, '^([^:]*)', 1)) AS host,
          |    regexp_extract(hostport, ':([0-9]+)$', 1) AS port,
          |    regexp_replace(regexp_extract(afterhost, '^([^?]*)', 1), '/+$', '') AS path0,
          |    regexp_extract(afterhost, '\?(.*)$', 1) AS query
          |  FROM c3),
          |c5 AS (SELECT doc_id, url, scheme, host,
          |    CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
          |           OR (scheme = 'https' AND port = '443')
          |      THEN '' ELSE ':' || port END AS portout,
          |    CASE WHEN path0 = '' THEN '/' ELSE path0 END AS path,
          |    list_sort(list_filter(string_split(query, '&'),
          |      p -> p <> '' AND NOT regexp_matches(p,
          |        '^(utm_[^=]*|fbclid|gclid|ref)='))) AS kept
          |  FROM c4),
          |c6 AS (SELECT doc_id, url,
          |    scheme || '://' || host || portout || path ||
          |    (CASE WHEN len(kept) = 0 THEN ''
          |      ELSE '?' || array_to_string(kept, '&') END) AS canonical_url
          |  FROM c5)
          |SELECT canonical_url, CAST(count(*) AS BIGINT) AS n_raw,
          |  CAST(count(DISTINCT url) AS BIGINT) AS n_spellings,
          |  min(doc_id) AS first_doc
          |FROM c6 GROUP BY 1 ORDER BY canonical_url""".stripMargin)),

    Q("dd_source_overlap",
      // cross-source contamination audit: exact 3-shingle overlap per
      // source pair — jaccard + max-containment over the distinct
      // (source, shingle) stream (vocabulary-sized after dedup)
      (s, d) => Dedup.sourceOverlapMatrix(Tables.documents(s, d), "text",
        "doc_id", "source", n = 3),
      Some(Sentiment.oracleCte +
        s""",
           |ssh AS (SELECT DISTINCT src, sh FROM
           |  (SELECT source AS src, unnest(${shinglesSql(3)}) AS sh FROM toks)),
           |ssz AS (SELECT src, CAST(count(*) AS BIGINT) AS sz FROM ssh GROUP BY src),
           |sint AS (SELECT a.src AS src_a, b.src AS src_b, CAST(count(*) AS BIGINT) AS inter
           |  FROM ssh a JOIN ssh b ON a.sh = b.sh AND a.src < b.src
           |  GROUP BY 1, 2)
           |SELECT src_a, src_b, inter, sa.sz AS sz_a, sb.sz AS sz_b,
           |  ROUND(CAST(inter AS DOUBLE) / CAST(sa.sz + sb.sz - inter AS DOUBLE), 6) AS jaccard,
           |  ROUND(CAST(inter AS DOUBLE) / CAST(LEAST(sa.sz, sb.sz) AS DOUBLE), 6) AS containment
           |FROM sint
           |JOIN ssz sa ON sint.src_a = sa.src
           |JOIN ssz sb ON sint.src_b = sb.src
           |ORDER BY src_a, src_b""".stripMargin)),

    Q("ta_keywords_tfidf",
      // per-doc top-3 keywords by smooth-idf tf-idf; ROUND(6) before the
      // row_number rank, term-string tiebreak -> deterministic boundary
      (s, d) => TextAnalysis.tfidfKeywords(
        Tables.documents(s, d), "text", "doc_id", k = 3),
      Some(Sentiment.oracleCte +
        """,
          |kb AS (SELECT doc_id, CAST(len(tokens) AS BIGINT) AS dl,
          |    unnest(tokens) AS t FROM toks),
          |ktf AS (SELECT doc_id, dl, t, CAST(count(*) AS BIGINT) AS tf
          |  FROM kb GROUP BY doc_id, dl, t),
          |kdf AS (SELECT t, CAST(count(*) AS BIGINT) AS dft FROM ktf GROUP BY t),
          |kn AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
          |ks AS (SELECT doc_id, t,
          |    ROUND((CAST(tf AS DOUBLE) / CAST(dl AS DOUBLE)) *
          |      (ln((CAST(1.0 AS DOUBLE) + CAST(n_docs AS DOUBLE))
          |          / (CAST(1.0 AS DOUBLE) + CAST(dft AS DOUBLE))) + CAST(1.0 AS DOUBLE)),
          |      6) AS tfidf
          |  FROM ktf JOIN kdf USING (t), kn),
          |kr AS (SELECT doc_id, t, tfidf,
          |    row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, t) AS rn
          |  FROM ks)
          |SELECT doc_id, CAST(rn AS INT) AS rn, t AS term, tfidf
          |FROM kr WHERE rn <= 3 ORDER BY doc_id, rn""".stripMargin)),

    Q("ta_domain_cap",
      // RefinedWeb-style per-domain cap: at most 25 docs per source,
      // chosen by a stable md5 key (reproducible sample) via the native
      // bounded-heap top-k — never a per-domain sort of the fact table
      (s, d) => TextAnalysis.domainCap(
        Tables.documents(s, d), "doc_id", "source", k = 25),
      Some("""WITH dh AS (
          |  SELECT source, doc_id,
          |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS hk
          |  FROM documents),
          |dr AS (SELECT source, doc_id,
          |    row_number() OVER (PARTITION BY source ORDER BY hk, doc_id) AS rn
          |  FROM dh)
          |SELECT source, doc_id, CAST(rn AS INT) AS rn
          |FROM dr WHERE rn <= 25 ORDER BY source, rn""".stripMargin)),

    Q("dd_boilerplate",
      // RefinedWeb-style corpus-level boilerplate strike: sentences shared
      // by >= 5 distinct docs are struck everywhere, originals reassembled.
      // The corpus has no repeated sentences, so the gate input injects two
      // deterministic boilerplate sentences (all docs / doc_id%3==0) on
      // BOTH sides — the ep3c synthesized-input precedent
      (s, d) => operators.Dedup.boilerplateRemoval(
        Tables.documents(s, d).select(col("doc_id"),
          concat(col("text"), lit(". all rights reserved contact support"),
            when(col("doc_id") % 3 === 0,
              lit(". subscribe to our newsletter now")).otherwise(lit("")))
            .as("text")),
        "text", "doc_id", minDocs = 5),
      Some("""WITH aug AS (
          |  SELECT doc_id, text || '. all rights reserved contact support' ||
          |    CASE WHEN doc_id % 3 = 0 THEN '. subscribe to our newsletter now' ELSE '' END AS text
          |  FROM documents),
          |sp AS (SELECT doc_id,
          |    list_filter(list_transform(string_split_regex(text, '[.!?]+'), x -> trim(x)),
          |                x -> len(x) > 15) AS ss
          |  FROM aug),
          |se AS (SELECT doc_id, unnest(range(1, len(ss) + 1)) AS pos, ss FROM sp),
          |s1 AS (SELECT doc_id, pos, ss[pos] AS sent, lower(ss[pos]) AS k FROM se),
          |boil AS (SELECT k FROM s1 GROUP BY k HAVING count(DISTINCT doc_id) >= 5)
          |SELECT doc_id,
          |  CAST(count(*) AS BIGINT) AS n_sentences,
          |  CAST(coalesce(SUM(CASE WHEN k IN (SELECT k FROM boil) THEN 1 END), 0) AS BIGINT) AS n_removed,
          |  coalesce(string_agg(sent, '. ' ORDER BY pos)
          |    FILTER (WHERE k NOT IN (SELECT k FROM boil)), '') AS clean_text
          |FROM s1 GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    Q("dd_passage_dedup",
      // Lee et al. 2022 ExactSubstr restated at 16-token passage
      // granularity: corpus-wide first occurrence of each chunk survives,
      // every other occurrence is struck, docs reassembled. The corpus has
      // no repeated 16-grams, so the gate input prepends a shared 32-token
      // (= 2 chunk) preamble to every doc_id%3==0 document on BOTH sides —
      // aligned at chunk offsets 0-1, so they are genuine corpus dups
      // (the dd_boilerplate synthesized-input precedent)
      (s, d) => operators.Dedup.passageDedup(
        Tables.documents(s, d).select(col("doc_id"),
          when(col("doc_id") % 3 === 0,
            concat(lit(passagePreamble + " "), col("text")))
            .otherwise(col("text")).as("text")),
        "text", "doc_id", width = 16),
      Some(s"""WITH aug AS (
          |  SELECT doc_id,
          |    CASE WHEN doc_id % 3 = 0 THEN '$passagePreamble ' || text ELSE text END AS text
          |  FROM documents),
          |toks AS (
          |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ts FROM aug),
          |ch AS (
          |  SELECT doc_id, ts, unnest(range(0, CAST(ceil(len(ts) / 16.0) AS INT))) AS cidx
          |  FROM toks WHERE len(ts) > 0),
          |c1 AS (
          |  SELECT doc_id, cidx, array_to_string(list_slice(ts, cidx*16+1, cidx*16+16), ' ') AS chunk
          |  FROM ch),
          |k AS (
          |  SELECT doc_id, cidx, chunk,
          |    row_number() OVER (PARTITION BY chunk ORDER BY doc_id, cidx) AS rn
          |  FROM c1)
          |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
          |  CAST(coalesce(SUM(CASE WHEN rn > 1 THEN 1 END), 0) AS BIGINT) AS n_removed,
          |  coalesce(string_agg(chunk, ' ' ORDER BY cidx) FILTER (WHERE rn = 1), '') AS dedup_text
          |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    Q("dd_span_scrub",
      // the sliding-window completion of dd_passage_dedup (full Lee et al.
      // 2022 ExactSubstr semantics): every 8-token window is a candidate,
      // so copied spans are caught at ANY offset, not just on the chunk
      // grid. Runs on the RAW corpus — the planted near-dup groups carry
      // ~1000 naturally duplicated 8-grams at sf0.01, so the scrub does
      // real work with no synthesized input
      (s, d) => operators.Dedup.spanScrub(
        Tables.documents(s, d).select("doc_id", "text"),
        "text", "doc_id", width = 8),
      Some(spanScrubOracle("SELECT doc_id, text FROM documents"))),

    Q("dd_incr_spans",
      // incremental ExactSubstr maintenance (the dd_incr_indexed posture
      // applied to spans): the corpus's DISTINCT 8-gram set persists once
      // per corpus identity; the measured step scrubs only the NEW batch
      // — batch grams probe the stored index with the batch side
      // broadcast, batch-only grams elect keepers internally. The batch
      // is a truncated copy of every doc_id%13 doc PREPENDED with a
      // 3-token intro, so the copied run sits at offset 3 — struck
      // anyway, the any-offset property the family exists for. Oracle =
      // the FULL spanScrub recompute over corpus ∪ batch restricted to
      // batch ids, so the amortized path is proven exact
      (s, d) => {
        val docs = Tables.documents(s, d).select("doc_id", "text")
        val p = new java.io.File(
          s"spark-warehouse/graft_state/sp_v1_w8_${sourceStateKey(s, d, "documents.parquet")}").toString
        if (!new java.io.File(p, "_SUCCESS").exists) {
          operators.Dedup.spanGramIndex(docs, "text", "doc_id", 8)
            .write.mode("overwrite").parquet(p)
        }
        val bts = TextFns.tokens(col("text"))
        val batch = docs.filter(col("doc_id") % 13 === 0)
          .select((col("doc_id") + 3000000L).as("doc_id"),
            concat(lit("incremental batch intro "),
              concat_ws(" ", slice(bts, lit(1),
                greatest(size(bts) - 6, lit(4))))).as("text"))
        operators.Dedup.spanScrubIncremental(
          batch, s.read.parquet(p), "text", "doc_id", width = 8)
      },
      Some(spanScrubOracle(
        """SELECT doc_id, text FROM documents
          |  UNION ALL
          |  SELECT doc_id + 3000000 AS doc_id,
          |    'incremental batch intro ' || array_to_string(
          |      list_slice(bts, 1, GREATEST(len(bts) - 6, 4)), ' ') AS text
          |  FROM (SELECT doc_id,
          |      list_filter(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' '),
          |        x -> x <> '') AS bts
          |    FROM documents WHERE doc_id % 13 = 0)""".stripMargin,
        keep = "WHERE t.doc_id >= 3000000"))),

    Q("mix_dsir_weights",
      // DSIR importance resampling (Xie et al. 2023): hashed unigram+bigram
      // log-likelihood ratio of target (lang='en') vs raw corpus; ROUND(6)
      // absorbs the per-doc sum order, each ln() term is bit-identical
      (s, d) => TextAnalysis.dsirImportance(
        Tables.documents(s, d), "text", "doc_id",
        isTarget = col("lang") === "en", buckets = 4096),
      Some(Sentiment.oracleCte + ",\n" + dsirCtesSql +
        "\nSELECT doc_id, n_feats, log_weight FROM dw ORDER BY doc_id")),

    Q("mix_dsir_resample",
      // the SELECTION half of DSIR: Gumbel-top-k over the importance
      // weights (log_weight + Gumbel noise from an md5-uniform — the
      // without-replacement sampling trick, Vieira 2014), top-50; noise
      // and sampling key ROUND(6)ed before ranking, doc_id tiebreak ->
      // the cut is engine-deterministic AND reproducible run to run
      (s, d) => TextAnalysis.dsirResample(
        Tables.documents(s, d), "text", "doc_id",
        isTarget = col("lang") === "en", buckets = 4096, n = 50),
      Some(Sentiment.oracleCte + ",\n" + dsirCtesSql +
        """,
          |gb AS (SELECT doc_id, log_weight,
          |    ROUND(-ln(-ln((CAST(CAST('0x' || substr(md5('g:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS DOUBLE)
          |      + CAST(0.5 AS DOUBLE)) / CAST(1152921504606846976.0 AS DOUBLE))), 6) AS gumbel
          |  FROM dw)
          |SELECT doc_id, log_weight, gumbel,
          |  ROUND(log_weight + gumbel, 6) AS sample_key
          |FROM gb ORDER BY sample_key DESC, doc_id LIMIT 50""".stripMargin)),

    Q("mix_curriculum",
      // block-shuffled length curriculum (Bengio et al. 2009): quartile
      // difficulty tiers from ONE exact-percentile aggregate (broadcast),
      // md5 shuffle slot, output ordered (slot, tier, id) — each slot is
      // a mini-epoch ramping easy -> hard; zero windows anywhere
      (s, d) => TextAnalysis.curriculumInterleave(
        Tables.documents(s, d), "text", "doc_id", tiers = 4, slots = 64),
      Some("""WITH t AS (
          |  SELECT doc_id,
          |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens
          |  FROM documents),
          |b AS (SELECT quantile_cont(n_tokens, [0.25, 0.5, 0.75]) AS bs FROM t)
          |SELECT doc_id, n_tokens,
          |  CAST(1 + (CASE WHEN CAST(n_tokens AS DOUBLE) > bs[1] THEN 1 ELSE 0 END)
          |         + (CASE WHEN CAST(n_tokens AS DOUBLE) > bs[2] THEN 1 ELSE 0 END)
          |         + (CASE WHEN CAST(n_tokens AS DOUBLE) > bs[3] THEN 1 ELSE 0 END) AS INT) AS tier,
          |  CAST(CAST('0x' || substr(md5('cur:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 64 AS INT) AS slot
          |FROM t, b ORDER BY slot, tier, doc_id""".stripMargin)),

    Q("ta_hashed_classifier",
      // fastText-shape hashed linear scorer: mean hashed-token weight ->
      // sigmoid; weights derived from md5(bucket) so both engines replay
      // the same "model". Pure per-row fold — no shuffle anywhere
      (s, d) => TextAnalysis.hashedLinearScore(
        Tables.documents(s, d), "text", "doc_id", buckets = 1024),
      Some(Sentiment.oracleCte +
        """,
          |hw AS (SELECT doc_id, CAST(len(tokens) AS BIGINT) AS n_tokens,
          |    list_sum(list_transform(tokens, t ->
          |      (CAST(CAST('0x' || substr(md5('w:' || CAST(
          |          CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) % 1024
          |        AS VARCHAR)), 1, 15) AS BIGINT) % 2001 AS DOUBLE)
          |       - CAST(1000.0 AS DOUBLE)) / CAST(1000.0 AS DOUBLE))) AS sw
          |  FROM toks WHERE len(tokens) > 0)
          |SELECT doc_id, n_tokens,
          |  ROUND(sw / CAST(n_tokens AS DOUBLE), 6) AS margin,
          |  ROUND(CAST(1.0 AS DOUBLE) / (CAST(1.0 AS DOUBLE)
          |    + exp(-(sw / CAST(n_tokens AS DOUBLE)))), 6) AS score,
          |  CASE WHEN ROUND(CAST(1.0 AS DOUBLE) / (CAST(1.0 AS DOUBLE)
          |    + exp(-(sw / CAST(n_tokens AS DOUBLE)))), 6) >= CAST(0.5 AS DOUBLE)
          |    THEN 'keep' ELSE 'drop' END AS label
          |FROM hw ORDER BY doc_id""".stripMargin)),

    Q("ta_zipf_fit",
      // one-row Zipf-law lexical-health audit: least-squares ln freq ~
      // ln rank over the ranked vocabulary (natural text s ~ -1;
      // templated corpora flatten). ln terms bit-identical (logppl
      // precedent); order-dependent sums absorbed by ROUND(6)
      (s, d) => TextAnalysis.zipfFit(Tables.documents(s, d), "text"),
      Some(Sentiment.oracleCte +
        """,
          |zw AS (SELECT unnest(tokens) AS t FROM toks),
          |zc AS (SELECT t, CAST(count(*) AS BIGINT) AS c FROM zw GROUP BY t),
          |zr AS (SELECT t, c, row_number() OVER (ORDER BY c DESC, t) AS rank FROM zc),
          |zxy AS (SELECT ln(CAST(rank AS DOUBLE)) AS x, ln(CAST(c AS DOUBLE)) AS y, c FROM zr),
          |zs AS (SELECT CAST(count(*) AS BIGINT) AS vocab_size,
          |    CAST(SUM(c) AS BIGINT) AS total_tokens,
          |    SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
          |    SUM(x * x) AS sx2, SUM(y * y) AS sy2 FROM zxy)
          |SELECT vocab_size, total_tokens,
          |  ROUND((vocab_size * sxy - sx * sy) / (vocab_size * sx2 - sx * sx), 6) AS slope,
          |  ROUND((sy - (vocab_size * sxy - sx * sy) / (vocab_size * sx2 - sx * sx) * sx)
          |    / CAST(vocab_size AS DOUBLE), 6) AS intercept,
          |  CASE WHEN vocab_size * sy2 - sy * sy > 0 THEN
          |    ROUND(((vocab_size * sxy - sx * sy) * (vocab_size * sxy - sx * sy))
          |      / ((vocab_size * sx2 - sx * sx) * (vocab_size * sy2 - sy * sy)), 6) END AS r2
          |FROM zs""".stripMargin)),

    Q("ta_length_outliers",
      // per-language Tukey fences over token counts (report, not filter);
      // fences ROUND(6)ed, compared against exact integer lengths
      (s, d) => TextAnalysis.lengthOutliers(
        Tables.documents(s, d), "text", "doc_id", "lang", k = 1.5),
      Some(Sentiment.oracleCte +
        """,
          |lx AS (SELECT doc_id, lang, CAST(len(tokens) AS BIGINT) AS n_tokens FROM toks),
          |fx AS (SELECT lang,
          |    ROUND(quantile_cont(n_tokens, CAST(0.25 AS DOUBLE))
          |      - CAST(1.5 AS DOUBLE) * (quantile_cont(n_tokens, CAST(0.75 AS DOUBLE))
          |        - quantile_cont(n_tokens, CAST(0.25 AS DOUBLE))), 6) AS lo_fence,
          |    ROUND(quantile_cont(n_tokens, CAST(0.75 AS DOUBLE))
          |      + CAST(1.5 AS DOUBLE) * (quantile_cont(n_tokens, CAST(0.75 AS DOUBLE))
          |        - quantile_cont(n_tokens, CAST(0.25 AS DOUBLE))), 6) AS hi_fence
          |  FROM lx GROUP BY lang)
          |SELECT doc_id, lang, n_tokens, lo_fence, hi_fence,
          |  (CAST(n_tokens AS DOUBLE) < lo_fence OR CAST(n_tokens AS DOUBLE) > hi_fence) AS is_outlier
          |FROM lx JOIN fx USING (lang) ORDER BY doc_id""".stripMargin)),

    Q("ta_bigram_logppl",
      // Jelinek-Mercer interpolated bigram LM (the KenLM-filter direction;
      // Stupid-Backoff counting): bits per bigram position, ROUND(6)
      (s, d) => TextAnalysis.bigramLogPerplexity(
        Tables.documents(s, d), "text", "doc_id", lambda = 0.7),
      Some(Sentiment.oracleCte +
        """,
          |bgx AS (SELECT doc_id, unnest(list_transform(range(1, len(tokens)),
          |      i -> array_to_string(list_slice(tokens, i, i + 1), ' '))) AS b
          |  FROM toks WHERE len(tokens) >= 2),
          |bcx AS (SELECT b, CAST(count(*) AS BIGINT) AS cb FROM bgx GROUP BY b),
          |ugx AS (SELECT unnest(tokens) AS w FROM toks),
          |ucx AS (SELECT w, CAST(count(*) AS BIGINT) AS cw FROM ugx GROUP BY w),
          |nx AS (SELECT CAST(SUM(cw) AS BIGINT) AS n_uni FROM ucx)
          |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
          |  ROUND(AVG(-log2(
          |      CAST(0.7 AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(up.cw AS DOUBLE)
          |    + CAST(0.3 AS DOUBLE) * CAST(uw.cw AS DOUBLE) / CAST(n_uni AS DOUBLE))), 6)
          |    AS bits_per_bigram
          |FROM bgx JOIN bcx USING (b)
          |  JOIN ucx up ON string_split(b, ' ')[1] = up.w
          |  JOIN ucx uw ON string_split(b, ' ')[2] = uw.w, nx
          |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    Q("p10_percentile_gate",
      // per-language median quality gate: dynamic threshold per group so
      // low-resource slices are not starved by a global cut; BOTH sides
      // ROUND(6)ed before the >= comparison -> the keep boundary is
      // engine-deterministic and the median member itself survives
      (s, d) => TextAnalysis.percentileQualityGate(
        Tables.documents(s, d), "text", "doc_id", "lang", p = 0.5),
      Some(Sentiment.oracleCte +
        """,
          |qx AS (SELECT doc_id, lang,
          |  ROUND(
          |    LEAST(CAST(1.0 AS DOUBLE), CAST(len(tokens) AS DOUBLE) / CAST(50.0 AS DOUBLE)) * CAST(0.4 AS DOUBLE)
          |    + LEAST(CAST(1.0 AS DOUBLE),
          |        CAST(len(list_filter(tokens, t -> t IN ('the','a','and','of','to','in','is','it'))) AS DOUBLE)
          |        / CAST(GREATEST(len(tokens), 1) AS DOUBLE) * CAST(5.0 AS DOUBLE)) * CAST(0.3 AS DOUBLE)
          |    + CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
          |      / CAST(GREATEST(length(text), 1) AS DOUBLE) * CAST(0.3 AS DOUBLE), 9) AS q
          |  FROM toks),
          |tx AS (SELECT lang, ROUND(quantile_cont(q, CAST(0.5 AS DOUBLE)), 6) AS q_threshold
          |  FROM qx GROUP BY lang)
          |SELECT doc_id, lang, q AS quality, q_threshold
          |FROM qx JOIN tx USING (lang)
          |WHERE ROUND(q, 6) >= q_threshold ORDER BY doc_id""".stripMargin)),

    Q("ta_unigram_logppl",
      // CCNet-style unigram cross-entropy per doc (bits/token vs the
      // corpus unigram LM); ROUND(6) absorbs summation order + libm ulps
      (s, d) => TextAnalysis.unigramLogPerplexity(
        Tables.documents(s, d), "text", "doc_id"),
      Some(Sentiment.oracleCte +
        """,
          |tk AS (SELECT doc_id, unnest(tokens) AS t FROM toks),
          |fr AS (SELECT t, CAST(count(*) AS BIGINT) AS c FROM tk GROUP BY t),
          |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_total FROM fr)
          |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
          |  ROUND(AVG(-log2(CAST(c AS DOUBLE) / CAST(n_total AS DOUBLE))), 6) AS bits_per_token
          |FROM tk JOIN fr USING (t), tot
          |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    Q("ta_collocations",
      // top-50 bigram collocations by PMI (Church & Hanks 1990) with a
      // min-count-5 support floor; PMI rounded before ranking and
      // tiebroken on the bigram string so the k-boundary is deterministic
      (s, d) => TextAnalysis.topCollocations(
        Tables.documents(s, d), "text", minCount = 5, k = 50),
      Some(Sentiment.oracleCte +
        """,
          |bg AS (SELECT unnest(CASE WHEN len(tokens) >= 2
          |    THEN list_transform(range(1, len(tokens)), i -> array_to_string(list_slice(tokens, i, i + 1), ' '))
          |    ELSE CAST([] AS VARCHAR[]) END) AS b FROM toks),
          |bc AS (SELECT b, CAST(count(*) AS BIGINT) AS cb FROM bg GROUP BY b),
          |nb AS (SELECT CAST(SUM(cb) AS BIGINT) AS n_bi FROM bc),
          |ug AS (SELECT unnest(tokens) AS w FROM toks),
          |uc AS (SELECT w, CAST(count(*) AS BIGINT) AS cw FROM ug GROUP BY w),
          |nu AS (SELECT CAST(SUM(cw) AS BIGINT) AS n_uni FROM uc)
          |SELECT b AS bigram, cb AS pair_count, u1.cw AS c1, u2.cw AS c2,
          |  ROUND(log2((CAST(cb AS DOUBLE) / CAST(n_bi AS DOUBLE)) /
          |    ((CAST(u1.cw AS DOUBLE) / CAST(n_uni AS DOUBLE))
          |      * (CAST(u2.cw AS DOUBLE) / CAST(n_uni AS DOUBLE)))), 6) AS pmi
          |FROM bc JOIN uc u1 ON string_split(b, ' ')[1] = u1.w
          |        JOIN uc u2 ON string_split(b, ' ')[2] = u2.w, nb, nu
          |WHERE cb >= 5
          |ORDER BY pmi DESC, bigram LIMIT 50""".stripMargin)),

    Q("ta_gopher_gate",
      // the composed Gopher-rules keep/drop gate (word count 20-80, mean
      // word length 3-6, symbol ratio <= 0.1, >= 1 distinct stopword,
      // repetition bounds) with every rule's verdict kept as a flag
      (s, d) => TextAnalysis.gopherGate(Tables.documents(s, d), "text", "doc_id"),
      Some {
        val stopList = TextAnalysis.GopherStopwords.map(w => s"'$w'")
          .mkString("(", ",", ")")
        Sentiment.oracleCte + s", ${repetitionCtesSql(3)}" +
          s""",
             |gg_r AS (SELECT doc_id, trim(regexp_replace(text, '\\s+', ' ', 'g')) AS nt, tokens FROM toks),
             |gg_m AS (SELECT doc_id,
             |    CAST(len(tokens) AS BIGINT) AS wc,
             |    CAST(length(nt) AS BIGINT) AS nlen,
             |    CAST((length(nt) - length(replace(nt, '#', ''))) +
             |         (length(nt) - length(replace(nt, '...', ''))) // 3 AS BIGINT) AS symbols,
             |    CAST(len(list_distinct(list_filter(tokens, t -> lower(t) IN $stopList))) AS BIGINT) AS stopword_hits
             |  FROM gg_r),
             |gg AS (SELECT doc_id, wc, symbols, stopword_hits,
             |    CASE WHEN wc > 0 THEN CAST(nlen - (wc - 1) AS DOUBLE) / CAST(wc AS DOUBLE)
             |         ELSE CAST(0.0 AS DOUBLE) END AS mean_word_len,
             |    CASE WHEN wc > 0 THEN CAST(symbols AS DOUBLE) / CAST(wc AS DOUBLE)
             |         ELSE CAST(0.0 AS DOUBLE) END AS symbol_ratio
             |  FROM gg_m)
             |SELECT g.doc_id, g.wc, g.mean_word_len, g.symbol_ratio, g.stopword_hits,
             |  r.dup_ngram_frac, r.dup_token_frac,
             |  g.wc >= 20 AND g.wc <= 80 AS ok_words,
             |  g.mean_word_len >= CAST(3.0 AS DOUBLE) AND g.mean_word_len <= CAST(6.0 AS DOUBLE) AS ok_mean_word_len,
             |  g.symbol_ratio <= CAST(0.1 AS DOUBLE) AS ok_symbols,
             |  g.stopword_hits >= 1 AS ok_stopwords,
             |  r.dup_token_frac <= CAST(0.6 AS DOUBLE) AND r.dup_ngram_frac <= CAST(0.2 AS DOUBLE) AS ok_repetition,
             |  (g.wc >= 20 AND g.wc <= 80)
             |    AND (g.mean_word_len >= CAST(3.0 AS DOUBLE) AND g.mean_word_len <= CAST(6.0 AS DOUBLE))
             |    AND g.symbol_ratio <= CAST(0.1 AS DOUBLE)
             |    AND g.stopword_hits >= 1
             |    AND (r.dup_token_frac <= CAST(0.6 AS DOUBLE) AND r.dup_ngram_frac <= CAST(0.2 AS DOUBLE)) AS keep
             |FROM gg g JOIN rp_m r USING (doc_id) ORDER BY g.doc_id""".stripMargin
      }),

    Q("ta_redact",
      // PII-style scrub: emails, URLs, long digit runs -> typed
      // placeholders (RE2-safe patterns shared with the oracle)
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"),
          TextAnalysis.redact(concat(col("text"),
            lit(" contact user"), col("doc_id"), lit("@example.com or "),
            lit("https://ex.com/"), col("doc_id"), lit(" id "),
            (col("doc_id") * 1000003 + 123456789).cast("string"))).as("redacted"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  regexp_replace(
             |    regexp_replace(
             |      regexp_replace(
             |        text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com or ' ||
             |          'https://ex.com/' || CAST(doc_id AS VARCHAR) || ' id ' ||
             |          CAST(doc_id * 1000003 + 123456789 AS VARCHAR),
             |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             |      'https?://[^\s]+|www\.[^\s]+', '<URL>', 'g'),
             |    '\d{6,}', '<NUM>', 'g') AS redacted
             |FROM documents ORDER BY doc_id""".stripMargin)),

    Q("p9_dataset_split",
      // deterministic, RNG-free train/val/test assignment from the stable
      // id (Knuth multiplicative hash into [0,100), 80/10/10)
      (s, d) => Tables.documents(s, d)
        .groupBy(TextAnalysis.datasetSplit(col("doc_id")).as("split"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy("split"),
      Some("""SELECT CASE WHEN ((doc_id % 1000000007) * 2654435761) % 100 < 80 THEN 'train'
             |            WHEN ((doc_id % 1000000007) * 2654435761) % 100 < 90 THEN 'val'
             |            ELSE 'test' END AS split,
             |  CAST(count(*) AS BIGINT) AS cnt
             |FROM documents GROUP BY 1 ORDER BY split""".stripMargin)),

    Q("mm_media_features",
      (s, d) => Multimodal.featureStats(s, Tables.documents(s, d)),
      // byte-exact vs Spark's UTF-8 `cast(text as binary)`: iterate the
      // encode() blob's bytes via its hex dump — an ascii(substr()) loop
      // would walk code points and diverge on any non-ASCII document
      Some("""WITH m AS (
             |  SELECT doc_id, text,
             |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_kind,
             |    lower(hex(encode(text))) AS hx,
             |    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
             |    list_reduce(list_prepend(CAST(0 AS BIGINT),
             |      list_transform(range(0, CAST(octet_length(encode(text)) AS INT)), i ->
             |        CAST(16*(strpos('0123456789abcdef', substr(hx, 2*i+1, 1))-1)
             |           + (strpos('0123456789abcdef', substr(hx, 2*i+2, 1))-1) AS BIGINT))),
             |      (h, b) -> (h * 31 + b) % 1000000007) AS checksum
             |  FROM documents)
             |SELECT media_kind, CAST(count(*) AS BIGINT) AS cnt,
             |  CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
             |  CAST(SUM(checksum) AS BIGINT) AS sum_checksum
             |FROM m GROUP BY media_kind ORDER BY media_kind""".stripMargin)),

    Q("mm_image_neardup",
      // perceptual image near-dup (aHash, the LAION-style corpus-dedup
      // primitive): REAL PNG encode -> REAL ImageIO decode -> 8x8
      // NN-sampled gray grid -> strict-mean threshold bits -> the
      // SimHash 16-bit-chunk banding + exact Hamming <= 3 verify.
      // Payloads come in planted groups of four brightness-shift
      // variants (small Hamming by construction); the oracle recomputes
      // every fingerprint in closed form from the pixel formula and
      // replays the banding, so a decode/sampling/threshold slip breaks
      // the hash
      (s, d) => Multimodal.imageNearDupPairs(s,
        Tables.documents(s, d).select("doc_id"), maxHamming = 3),
      Some("""WITH ids AS (SELECT doc_id, doc_id // 4 AS gid,
          |    CAST(doc_id % 4 AS BIGINT) AS sh FROM documents),
          |dims AS (SELECT doc_id, gid, sh,
          |    CAST(16 + gid % 16 AS BIGINT) AS w, CAST(16 + gid % 8 AS BIGINT) AS h,
          |    CAST(7 + gid % 11 AS BIGINT) AS xc, CAST(13 + gid % 7 AS BIGINT) AS yc
          |  FROM ids),
          |cells AS (SELECT doc_id, gid, sh, xc, yc,
          |    CAST(by * 8 + bx AS INT) AS idx,
          |    (bx * w) // 8 AS x, (by * h) // 8 AS y
          |  FROM dims, range(0, 8) r1(bx), range(0, 8) r2(by)),
          |gr AS (SELECT doc_id, idx,
          |    (b % 256) + ((b + 101) % 256) + ((b + 202) % 256) AS gray
          |  FROM (SELECT doc_id, idx, gid * 31 + x * xc + y * yc + sh AS b FROM cells)),
          |tt AS (SELECT doc_id, CAST(SUM(gray) AS BIGINT) AS total FROM gr GROUP BY 1),
          |bits AS (SELECT gr.doc_id, idx,
          |    CASE WHEN gray * 64 > total THEN 1 ELSE 0 END AS bit
          |  FROM gr JOIN tt ON gr.doc_id = tt.doc_id),
          |fp AS (SELECT doc_id AS id,
          |    CAST(SUM(CASE WHEN idx >= 32 AND bit = 1
          |      THEN (CAST(1 AS BIGINT) << (idx - 32)) ELSE 0 END) AS BIGINT) AS fp_hi,
          |    CAST(SUM(CASE WHEN idx < 32 AND bit = 1
          |      THEN (CAST(1 AS BIGINT) << idx) ELSE 0 END) AS BIGINT) AS fp_lo
          |  FROM bits GROUP BY 1),
          |bnd AS (
          |  SELECT id, fp_hi, fp_lo, 0 AS band, (fp_lo & 65535) AS chunk FROM fp
          |  UNION ALL SELECT id, fp_hi, fp_lo, 1, (fp_lo >> 16) FROM fp
          |  UNION ALL SELECT id, fp_hi, fp_lo, 2, (fp_hi & 65535) FROM fp
          |  UNION ALL SELECT id, fp_hi, fp_lo, 3, (fp_hi >> 16) FROM fp),
          |cand AS (SELECT DISTINCT x.id AS id_a, y.id AS id_b,
          |    x.fp_hi AS hi_a, x.fp_lo AS lo_a, y.fp_hi AS hi_b, y.fp_lo AS lo_b
          |  FROM bnd x JOIN bnd y
          |    ON x.band = y.band AND x.chunk = y.chunk AND x.id < y.id)
          |SELECT id_a, id_b,
          |  CAST(bit_count(xor(hi_a, hi_b)) + bit_count(xor(lo_a, lo_b)) AS INT) AS hamming
          |FROM cand
          |WHERE bit_count(xor(hi_a, hi_b)) + bit_count(xor(lo_a, lo_b)) <= 3
          |ORDER BY id_a, id_b""".stripMargin)),

    Q("dq_column_profile",
      // the table-stakes profiling report: per column, rows / non-null /
      // null / EXACT distinct / min / max (strings, one schema across
      // types). One pruned-scan aggregation per column, O(columns) rows
      (s, d) => operators.DataQuality.columnProfile(
        Tables.documents(s, d), Seq("doc_id", "lang", "source", "n_chars")),
      Some {
        def one(c: String) =
          s"""SELECT '$c' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(count($c) AS BIGINT) AS n_nonnull,
             |  CAST(count(*) - count($c) AS BIGINT) AS n_nulls,
             |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
             |  CAST(min($c) AS VARCHAR) AS min_str,
             |  CAST(max($c) AS VARCHAR) AS max_str
             |FROM documents""".stripMargin
        Seq("doc_id", "lang", "source", "n_chars").map(one)
          .mkString("", "\nUNION ALL ", "\nORDER BY \"column\"")
      }),

    Q("dq_benford",
      // Benford first-digit audit over extended prices — the forensic
      // screen for value columns: observed vs log10(1+1/d) per digit.
      // The digit comes from integer cents' string head (explicit
      // half-up), never floor(log10(x)) whose libm boundary ulps could
      // flip digits between engines. One aggregation to 9 rows
      (s, d) => operators.DataQuality.benfordAudit(
        Tables.lineitem(s, d), col("l_extendedprice")),
      Some("""WITH c AS (SELECT CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS cents
             |  FROM lineitem WHERE l_extendedprice IS NOT NULL AND l_extendedprice > 0),
             |d AS (SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INT) AS digit FROM c
             |  WHERE cents >= 1),
             |g AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1),
             |t AS (SELECT CAST(SUM(n) AS BIGINT) AS tt FROM g),
             |e AS (SELECT digit, n,
             |    ROUND(CAST(n AS DOUBLE) / CAST(tt AS DOUBLE), 6) AS observed,
             |    ROUND(log10(CAST(1.0 AS DOUBLE) + CAST(1.0 AS DOUBLE) / CAST(digit AS DOUBLE)), 6) AS expected
             |  FROM g, t)
             |SELECT digit, n, observed, expected,
             |  ROUND(ABS(observed - expected), 6) AS abs_dev
             |FROM e ORDER BY digit""".stripMargin)),

    Q("ml_ols_by_source",
      // per-segment regression lines (the rocAucBy convention): the OLS
      // chars-on-tokens fit PER SOURCE — one aggregation to O(sources)
      // sufficient-statistic rows, closed form row-local on each. The
      // per-domain slope drift is the mixture diagnostic a vocab/quality
      // owner actually reads
      (s, d) => operators.MLEval.olsFitBy(Tables.documents(s, d)
          .select(col("source"),
            size(TextFns.tokens(col("text"))).as("x"), col("n_chars").as("y")),
        "source", col("x"), col("y")),
      Some(Sentiment.oracleCte + """,
          |os AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
          |    CAST(SUM(CAST(len(tokens) AS BIGINT)) AS BIGINT) AS sx,
          |    CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS sy,
          |    CAST(SUM(CAST(len(tokens) AS BIGINT) * CAST(len(tokens) AS BIGINT)) AS BIGINT) AS sxx,
          |    CAST(SUM(CAST(n_chars AS BIGINT) * CAST(n_chars AS BIGINT)) AS BIGINT) AS syy,
          |    CAST(SUM(CAST(len(tokens) AS BIGINT) * CAST(n_chars AS BIGINT)) AS BIGINT) AS sxy
          |  FROM toks GROUP BY source),
          |od AS (SELECT source, n, CAST(n AS DOUBLE) AS dn, CAST(sx AS DOUBLE) AS dsx,
          |    CAST(sy AS DOUBLE) AS dsy, CAST(sxx AS DOUBLE) AS dsxx,
          |    CAST(syy AS DOUBLE) AS dsyy, CAST(sxy AS DOUBLE) AS dsxy
          |  FROM os),
          |ov AS (SELECT *, dn * dsxy - dsx * dsy AS covn,
          |    dn * dsxx - dsx * dsx AS varxn, dn * dsyy - dsy * dsy AS varyn
          |  FROM od),
          |ob AS (SELECT *, covn / varxn AS b FROM ov),
          |oa AS (SELECT *, (dsy - b * dsx) / dn AS a FROM ob),
          |oc AS (SELECT source, n, varxn, varyn, covn, a, b, dn,
          |    dsyy + dn * a * a + b * b * dsxx - CAST(2.0 AS DOUBLE) * a * dsy
          |      - CAST(2.0 AS DOUBLE) * b * dsxy
          |      + CAST(2.0 AS DOUBLE) * a * b * dsx AS sse
          |  FROM oa)
          |SELECT source, n,
          |  CASE WHEN varxn > 0 THEN ROUND(b, 6) END AS slope,
          |  CASE WHEN varxn > 0 THEN ROUND(a, 6) END AS intercept,
          |  CASE WHEN varxn > 0 AND varyn > 0
          |    THEN ROUND(covn * covn / (varxn * varyn), 6) END AS r2,
          |  CASE WHEN varxn > 0
          |    THEN ROUND(sqrt(GREATEST(sse, CAST(0.0 AS DOUBLE)) / dn), 6) END AS rmse
          |FROM oc ORDER BY source""".stripMargin)),

    Q("fe_target_encode",
      // leakage-safe leave-one-out target encoding with m=10 additive
      // smoothing: each doc's source encodes to the OTHER members' label
      // mean blended with the global prior — the tabular-ML categorical
      // prep. O(categories) stats + broadcast join back; the corpus
      // never shuffles, and exact integer sums keep engines bit-identical
      (s, d) => operators.MLEval.targetEncode(
        Tables.documents(s, d).select(col("doc_id"), col("source"),
          (col("n_chars") >= 200).cast("int").as("y")),
        "source", col("y"), "doc_id", m = 10.0),
      Some("""WITH r AS (SELECT doc_id, source,
             |    CAST(CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END AS BIGINT) AS y
             |  FROM documents),
             |st AS (SELECT source, CAST(count(*) AS BIGINT) AS cnt,
             |    CAST(SUM(y) AS BIGINT) AS s FROM r GROUP BY 1),
             |pr AS (SELECT CAST(SUM(y) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS prior FROM r)
             |SELECT doc_id, source, y AS label,
             |  ROUND((CAST(s - y AS DOUBLE) + CAST(10.0 AS DOUBLE) * prior)
             |    / (CAST(cnt - 1 AS DOUBLE) + CAST(10.0 AS DOUBLE)), 6) AS encoded
             |FROM r JOIN st USING (source), pr ORDER BY doc_id""".stripMargin)),

    Q("ml_ols_fit",
      // regression-as-aggregation: simple OLS of doc char length on
      // whitespace token count — slope/intercept/R²/RMSE in closed form
      // from six EXACT integer sufficient statistics (one map-side pass,
      // no gradient loop), MAE via one more pass with the coefficient
      // row broadcast back. The chars-per-token slope is itself a corpus
      // diagnostic (the tok_fertility ratio as a fitted line)
      (s, d) => operators.MLEval.olsFit(Tables.documents(s, d)
          .select(size(TextFns.tokens(col("text"))).as("x"),
            col("n_chars").as("y")),
        col("x"), col("y")),
      Some(Sentiment.oracleCte + """,
          |os AS (SELECT CAST(count(*) AS BIGINT) AS n,
          |    CAST(SUM(CAST(len(tokens) AS BIGINT)) AS BIGINT) AS sx,
          |    CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS sy,
          |    CAST(SUM(CAST(len(tokens) AS BIGINT) * CAST(len(tokens) AS BIGINT)) AS BIGINT) AS sxx,
          |    CAST(SUM(CAST(n_chars AS BIGINT) * CAST(n_chars AS BIGINT)) AS BIGINT) AS syy,
          |    CAST(SUM(CAST(len(tokens) AS BIGINT) * CAST(n_chars AS BIGINT)) AS BIGINT) AS sxy
          |  FROM toks),
          |od AS (SELECT n, CAST(n AS DOUBLE) AS dn, CAST(sx AS DOUBLE) AS dsx,
          |    CAST(sy AS DOUBLE) AS dsy, CAST(sxx AS DOUBLE) AS dsxx,
          |    CAST(syy AS DOUBLE) AS dsyy, CAST(sxy AS DOUBLE) AS dsxy
          |  FROM os),
          |ov AS (SELECT *, dn * dsxy - dsx * dsy AS covn,
          |    dn * dsxx - dsx * dsx AS varxn, dn * dsyy - dsy * dsy AS varyn
          |  FROM od),
          |ob AS (SELECT *, covn / varxn AS b FROM ov),
          |oa AS (SELECT *, (dsy - b * dsx) / dn AS a FROM ob),
          |oc AS (SELECT n, varxn, varyn, covn, a, b, dsy, dsxy, dsx, dn,
          |    dsyy + dn * a * a + b * b * dsxx - CAST(2.0 AS DOUBLE) * a * dsy
          |      - CAST(2.0 AS DOUBLE) * b * dsxy
          |      + CAST(2.0 AS DOUBLE) * a * b * dsx AS sse
          |  FROM oa),
          |om AS (SELECT ROUND(AVG(CASE WHEN c.varxn > 0 THEN
          |      ABS(CAST(t.n_chars AS DOUBLE)
          |        - (c.a + c.b * CAST(len(t.tokens) AS DOUBLE))) END), 6) AS mae
          |  FROM toks t, oc c)
          |SELECT c.n,
          |  CASE WHEN varxn > 0 THEN ROUND(b, 6) END AS slope,
          |  CASE WHEN varxn > 0 THEN ROUND(a, 6) END AS intercept,
          |  CASE WHEN varxn > 0 AND varyn > 0
          |    THEN ROUND(covn * covn / (varxn * varyn), 6) END AS r2,
          |  CASE WHEN varxn > 0
          |    THEN ROUND(sqrt(GREATEST(sse, CAST(0.0 AS DOUBLE)) / dn), 6) END AS rmse,
          |  om.mae
          |FROM oc c, om""".stripMargin)),

    Q("ml_mcnemar",
      // paired classifier comparison (McNemar/Dietterich): the F7-score
      // gate vs a word-count heuristic, both predicting the long-form
      // label on the SAME documents — discordant counts, the
      // continuity-corrected chi2, and the 95% verdict. ONE global
      // conditional aggregation over row-local correctness flags
      (s, d) => operators.MLEval.mcnemar(scoredDocs(s, d),
        col("original_score") >= 1.0, col("wc") >= 40,
        col("n_chars") >= 200),
      Some(Sentiment.oracleCte + """,
          |mcx AS (SELECT
          |    CASE WHEN original_score >= CAST(1.0 AS DOUBLE) THEN 1 ELSE 0 END AS a,
          |    CASE WHEN wc >= 40 THEN 1 ELSE 0 END AS b,
          |    CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END AS y
          |  FROM scored),
          |mg AS (SELECT CAST(count(*) AS BIGINT) AS n,
          |    CAST(SUM(CASE WHEN a = y AND b = y THEN 1 ELSE 0 END) AS BIGINT) AS both_right,
          |    CAST(SUM(CASE WHEN a = y AND b <> y THEN 1 ELSE 0 END) AS BIGINT) AS b_only_a,
          |    CAST(SUM(CASE WHEN a <> y AND b = y THEN 1 ELSE 0 END) AS BIGINT) AS c_only_b,
          |    CAST(SUM(CASE WHEN a <> y AND b <> y THEN 1 ELSE 0 END) AS BIGINT) AS both_wrong
          |  FROM mcx),
          |mz AS (SELECT *,
          |    CASE WHEN b_only_a + c_only_b > 0 THEN
          |      ROUND(pow(abs(CAST(b_only_a - c_only_b AS DOUBLE)) - CAST(1.0 AS DOUBLE), 2)
          |        / CAST(b_only_a + c_only_b AS DOUBLE), 6) END AS chi2
          |  FROM mg)
          |SELECT n, both_right, b_only_a, c_only_b, both_wrong, chi2,
          |  COALESCE(chi2 > CAST(3.841 AS DOUBLE), FALSE) AS significant
          |FROM mz""".stripMargin)),

    Q("ml_winrate_matrix",
      // pairwise duel outcomes -> canonical win matrix: consecutive doc
      // pairs (doc_id//2) duel on the F7 reward, items = their sources —
      // "which source wins head-to-heads" (the raw material of an
      // arena-style eval). One duel-keyed max_by/min_by aggregation +
      // one pair rollup: two map-side shuffles from log to matrix
      (s, d) => operators.MLEval.pairwiseWinMatrix(
        scoredDocs(s, d).select(expr("doc_id div 2").as("duel"),
          col("source"), col("original_score"), col("doc_id")),
        "duel", "source", "original_score", "doc_id"),
      Some(Sentiment.oracleCte + winMatrixCtes + """
          |SELECT item_a, item_b, n_duels, wins_a, wins_b, win_rate_a
          |FROM mx ORDER BY item_a, item_b""".stripMargin)),

    Q("ml_bt_strength",
      // Bradley-Terry strengths over the duel matrix (Hunter 2004 MM,
      // 15 fixed minorize-maximize rounds, renormalized each round) —
      // the Chatbot-Arena-style ranking a preference log earns. The
      // matrix is DIMENSION-sized (items = sources), so every iteration
      // is broadcast joins + one tiny aggregation; per-item sums
      // ROUND(12) before reuse (engine-defined addition order), the
      // oracle an unrolled 15-round CTE chain
      (s, d) => operators.MLEval.bradleyTerry(
        operators.MLEval.pairwiseWinMatrix(
          scoredDocs(s, d).select(expr("doc_id div 2").as("duel"),
            col("source"), col("original_score"), col("doc_id")),
          "duel", "source", "original_score", "doc_id"),
        iters = 15),
      Some(Sentiment.oracleCte + winMatrixCtes + btIterCtes(15) + """
          |SELECT wt.item, wt.n_wins, wt.n_duels, ROUND(p15.p, 6) AS strength
          |FROM wt JOIN p15 ON wt.item = p15.item ORDER BY wt.item""".stripMargin)),

    Q("mm_audio_neardup",
      // perceptual audio near-dup (energy-delta fingerprint, the
      // Haitsma-Kalker idea over 64 L1 frame energies): REAL WAV encode
      // -> REAL RiffWav chunk-walk decode -> ring of frame-energy comparisons
      // -> the SimHash banding + exact Hamming <= 3 verify. Payloads are
      // planted groups of four amplitude-scaled variants (delta-SIGN
      // bits are gain-invariant, so small Hamming by construction); the
      // oracle recomputes every fingerprint in closed form from the
      // integer sample formula and replays the banding — a decode,
      // framing, or threshold slip breaks the hash
      (s, d) => Multimodal.audioNearDupPairs(s,
        Tables.documents(s, d).select("doc_id"), maxHamming = 3),
      Some("""WITH ids AS (SELECT doc_id, doc_id // 4 AS gid,
          |    CAST(doc_id % 4 AS BIGINT) AS sh FROM documents),
          |dims AS (SELECT doc_id, gid, sh,
          |    CAST(200 + gid % 200 AS BIGINT) AS n FROM ids),
          |samp AS (SELECT doc_id, gid, sh, n, r.i AS i
          |  FROM dims, range(0, 400) r(i) WHERE r.i < n),
          |m1 AS (SELECT doc_id, sh, n, i,
          |    CAST((CAST((gid * 1000003 + i * 8191 + 12345) % 4294967296 AS HUGEINT)
          |      * 2654435761) % 4294967296 AS BIGINT) AS y FROM samp),
          |m2 AS (SELECT doc_id, sh, n, i,
          |    CAST((CAST(xor(y, y >> 15) AS HUGEINT) * 2246822519) % 4294967296 AS BIGINT) AS z
          |  FROM m1),
          |bs AS (SELECT doc_id, sh, n, i,
          |    (xor(z, z >> 13) % 65536) - 32768 AS b FROM m2),
          |sv AS (SELECT doc_id, n, i,
          |    (CASE WHEN b < 0 THEN -1 ELSE 1 END) * ((abs(b) * (48 + 4 * sh)) // 64)
          |      + (i * 7 + sh * 13) % 5 - 2 AS s FROM bs),
          |fr AS (SELECT doc_id, (i * 64) // n AS f,
          |    CAST(SUM(abs(s)) AS BIGINT) AS e FROM sv GROUP BY 1, 2),
          |nb AS (SELECT doc_id, f, e,
          |    lead(e, 1) OVER (PARTITION BY doc_id ORDER BY f) AS en,
          |    first_value(e) OVER (PARTITION BY doc_id ORDER BY f) AS e0 FROM fr),
          |bits AS (SELECT doc_id, f,
          |    CASE WHEN e > coalesce(en, e0) THEN 1 ELSE 0 END AS bit FROM nb),
          |fp AS (SELECT doc_id AS id,
          |    CAST(SUM(CASE WHEN f >= 32 AND bit = 1
          |      THEN (CAST(1 AS BIGINT) << CAST(f - 32 AS INT)) ELSE 0 END) AS BIGINT) AS fp_hi,
          |    CAST(SUM(CASE WHEN f < 32 AND bit = 1
          |      THEN (CAST(1 AS BIGINT) << CAST(f AS INT)) ELSE 0 END) AS BIGINT) AS fp_lo
          |  FROM bits GROUP BY 1),
          |bnd AS (
          |  SELECT id, fp_hi, fp_lo, 0 AS band, (fp_lo & 65535) AS chunk FROM fp
          |  UNION ALL SELECT id, fp_hi, fp_lo, 1, (fp_lo >> 16) FROM fp
          |  UNION ALL SELECT id, fp_hi, fp_lo, 2, (fp_hi & 65535) FROM fp
          |  UNION ALL SELECT id, fp_hi, fp_lo, 3, (fp_hi >> 16) FROM fp),
          |cand AS (SELECT DISTINCT x.id AS id_a, y.id AS id_b,
          |    x.fp_hi AS hi_a, x.fp_lo AS lo_a, y.fp_hi AS hi_b, y.fp_lo AS lo_b
          |  FROM bnd x JOIN bnd y
          |    ON x.band = y.band AND x.chunk = y.chunk AND x.id < y.id)
          |SELECT id_a, id_b,
          |  CAST(bit_count(xor(hi_a, hi_b)) + bit_count(xor(lo_a, lo_b)) AS INT) AS hamming
          |FROM cand
          |WHERE bit_count(xor(hi_a, hi_b)) + bit_count(xor(lo_a, lo_b)) <= 3
          |ORDER BY id_a, id_b""".stripMargin)),

    Q("mm_format_sniff",
      // the "extension lies" audit: claimed media kind (metadata) vs
      // magic-byte sniff (payload bytes) — every mismatch is a
      // mislabeled/corrupt asset that would crash a batch decoder.
      // Payloads carry real magic prefixes (JPEG/PNG/RIFF-WAVE/GIF/none
      // by doc_id%5) in front of the text bytes; the claimed kind cycles
      // doc_id%3, so mismatches exist by construction and the audit
      // matrix is deterministic
      (s, d) => {
        val magic = element_at(array(
          lit("ffd8ffe0"), lit("89504e470d0a1a0a"),
          lit("524946463031323357415645"), lit("47494638"), lit("")),
          (col("doc_id") % 5 + 1).cast("int"))
        Tables.documents(s, d)
          .select(col("doc_id"),
            element_at(array(lit("image"), lit("audio"), lit("video")),
              (col("doc_id") % 3 + 1).cast("int")).as("claimed_kind"),
            concat(unhex(magic), col("text").cast("binary")).as("payload"))
          .select(col("claimed_kind"),
            Multimodal.sniffFormat(col("payload")).as("sniffed_format"))
          .groupBy("claimed_kind", "sniffed_format")
          .agg(count(lit(1)).as("n"))
          .orderBy("claimed_kind", "sniffed_format")
      },
      Some("""WITH m AS (
          |  SELECT doc_id,
          |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
          |      WHEN 1 THEN 'audio' ELSE 'video' END AS claimed_kind,
          |    (CASE CAST(doc_id % 5 AS INT) WHEN 0 THEN 'ffd8ffe0'
          |      WHEN 1 THEN '89504e470d0a1a0a'
          |      WHEN 2 THEN '524946463031323357415645'
          |      WHEN 3 THEN '47494638' ELSE '' END)
          |      || lower(hex(encode(text))) AS hx
          |  FROM documents),
          |s AS (SELECT claimed_kind,
          |    CASE WHEN hx LIKE 'ffd8ff%' THEN 'jpeg'
          |         WHEN hx LIKE '89504e47%' THEN 'png'
          |         WHEN hx LIKE '52494646%' AND substr(hx, 17, 8) = '57415645'
          |           THEN 'wav'
          |         WHEN hx LIKE '47494638%' THEN 'gif'
          |         ELSE 'unknown' END AS sniffed_format
          |  FROM m)
          |SELECT claimed_kind, sniffed_format, CAST(count(*) AS BIGINT) AS n
          |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    Q("mm_image_decode",
      // a REAL codec behind the multimodal seam (r8 VERDICT task 6):
      // deterministic RGB images PNG-encoded via javax.imageio, decoded
      // back with ImageIO.read in batched mapPartitions, exact
      // per-channel pixel sums/means off the decoded raster. The hash
      // gate is genuine: the engine pushes every pixel through an
      // ACTUAL encode->decode round trip while the oracle computes the
      // sums in closed form from the pixel formula — a lossy decode,
      // band-order mixup, or stride bug goes red. Throughput measured
      // in SCALE.md (MultimodalSpec pins the per-pixel formula too).
      (s, d) => Multimodal.imageDecodeReport(s, Tables.documents(s, d)),
      Some("""WITH px AS (SELECT doc_id, 16 + doc_id % 16 AS w, 16 + doc_id % 8 AS h
             |  FROM documents),
             |gx AS (SELECT unnest(range(0, 32)) AS x),
             |gy AS (SELECT unnest(range(0, 24)) AS y),
             |grid AS (SELECT doc_id, w, h, x, y FROM px, gx, gy WHERE x < w AND y < h),
             |sums AS (SELECT doc_id, w, h,
             |    CAST(SUM((doc_id*31 + x*7 + y*13) % 256) AS BIGINT) AS sum_r,
             |    CAST(SUM((doc_id*31 + x*7 + y*13 + 101) % 256) AS BIGINT) AS sum_g,
             |    CAST(SUM((doc_id*31 + x*7 + y*13 + 202) % 256) AS BIGINT) AS sum_b
             |  FROM grid GROUP BY 1, 2, 3)
             |SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
             |  CAST(3 AS INT) AS n_bands, sum_r, sum_g, sum_b,
             |  CAST(sum_r AS DOUBLE) / CAST(w * h AS DOUBLE) AS mean_r,
             |  CAST(sum_g AS DOUBLE) / CAST(w * h AS DOUBLE) AS mean_g,
             |  CAST(sum_b AS DOUBLE) / CAST(w * h AS DOUBLE) AS mean_b
             |FROM sums ORDER BY doc_id""".stripMargin)),

    Q("mm_image_resize",
      // the resize stage of a vision-data pipeline: real PNG decode, then
      // an EXPLICIT nearest-neighbor resample to an 8x8 thumbnail — source
      // pixel for (dx, dy) is (dx*w DIV 8, dy*h DIV 8) over the decoded
      // raster — with exact per-channel integer sums. The kernel is
      // written out (not delegated to AWT's scaler, whose rounding varies
      // by rendering hint) so the oracle replays the sampled-pixel sums in
      // closed form: an off-by-one sampling index or transposed axis goes
      // red on the 500-row hash
      (s, d) => Multimodal.imageResizeReport(s, Tables.documents(s, d)),
      Some("""WITH px AS (SELECT doc_id, 16 + doc_id % 16 AS w, 16 + doc_id % 8 AS h
             |  FROM documents),
             |grid AS (SELECT doc_id, w, h,
             |    ((p % 8) * w) // 8 AS x, ((p // 8) * h) // 8 AS y
             |  FROM px, (SELECT unnest(range(0, 64)) AS p)),
             |sums AS (SELECT doc_id, w, h,
             |    CAST(SUM((doc_id*31 + x*7 + y*13) % 256) AS BIGINT) AS sum_r,
             |    CAST(SUM((doc_id*31 + x*7 + y*13 + 101) % 256) AS BIGINT) AS sum_g,
             |    CAST(SUM((doc_id*31 + x*7 + y*13 + 202) % 256) AS BIGINT) AS sum_b
             |  FROM grid GROUP BY 1, 2, 3)
             |SELECT doc_id, CAST(w AS INT) AS src_w, CAST(h AS INT) AS src_h,
             |  CAST(8 AS INT) AS thumb_w, CAST(8 AS INT) AS thumb_h,
             |  sum_r, sum_g, sum_b,
             |  CAST(sum_r AS DOUBLE) / CAST(64 AS DOUBLE) AS mean_r,
             |  CAST(sum_g AS DOUBLE) / CAST(64 AS DOUBLE) AS mean_g,
             |  CAST(sum_b AS DOUBLE) / CAST(64 AS DOUBLE) AS mean_b
             |FROM sums ORDER BY doc_id""".stripMargin)),

    Q("mm_audio_decode",
      // the audio twin of mm_image_decode: deterministic 16-bit mono PCM
      // WAV-encoded via the lock-free RiffWav codec, decoded back with
      // RiffWav.decodeInt16Mono in batched mapPartitions, exact
      // integer signal stats (amplitude sum, energy, min/max, zero
      // crossings) off the decoded samples. The oracle replays the
      // sample formula in closed form — a RIFF header mis-parse, an
      // endianness flip, or a lossy decode breaks every stat.
      (s, d) => Multimodal.audioDecodeReport(s, Tables.documents(s, d)),
      Some("""WITH au AS (
             |  SELECT doc_id, CAST(200 + doc_id % 200 AS BIGINT) AS n,
             |    list_transform(range(0, CAST(200 + doc_id % 200 AS INT)), i ->
             |      CAST((doc_id*31 + i*17) % 65536 - 32768 AS BIGINT)) AS s
             |  FROM documents),
             |ast AS (SELECT doc_id, n,
             |    CAST(list_sum(s) AS BIGINT) AS sum_amp,
             |    CAST(list_sum(list_transform(s, x -> x*x)) AS BIGINT) AS sum_sq,
             |    CAST(list_min(s) AS INT) AS min_amp,
             |    CAST(list_max(s) AS INT) AS max_amp,
             |    CAST(list_sum(list_transform(range(1, CAST(n AS INT)), i ->
             |      CASE WHEN (s[i] < 0) <> (s[i+1] < 0) THEN 1 ELSE 0 END)) AS BIGINT) AS n_zero_cross
             |  FROM au)
             |SELECT doc_id, CAST(8000 AS INT) AS sample_rate,
             |  CAST(1 AS INT) AS n_channels, n AS n_samples,
             |  sum_amp, sum_sq, min_amp, max_amp, n_zero_cross,
             |  sqrt(CAST(sum_sq AS DOUBLE) / CAST(n AS DOUBLE)) AS rms
             |FROM ast ORDER BY doc_id""".stripMargin)),

    Q("v3_representatives",
      // V1-V3 driver fit: the cluster structure depends on the k-means++
      // init (SURVEY §7.4), which DuckDB cannot replay — verified by
      // RepresentativesSpec (invariants, MLlib feature parity, planted
      // topics), not a SQL oracle.
      (s, d) => repsShared(s, d),
      None),

    Q("v3b_rep_invariants",
      // hash-checked PARTIAL oracle for the representatives fit: the
      // SQL-expressible invariants of the representatives output. Per
      // class: the cluster_size carried on the reps must sum back to the
      // class's document count (every doc assigned exactly one cluster),
      // exactly one representative per non-empty cluster, and the
      // cluster count bounded by k = min(10, n). The oracle derives
      // class_docs from the scored corpus and pins the booleans TRUE —
      // a misbehaving fit flips a boolean or the sum and goes red.
      (s, d) => repsShared(s, d)
        .groupBy("sentiment")
        .agg(sum("cluster_size").as("class_docs"),
          (count(lit(1)) === countDistinct(col("cluster_id")))
            .as("one_rep_per_cluster"),
          (count(lit(1)) <= least(lit(10L), sum("cluster_size")))
            .as("k_bounded"))
        .orderBy("sentiment"),
      Some(Sentiment.oracleCte +
        """
          |SELECT sentiment, CAST(count(*) AS BIGINT) AS class_docs,
          |  TRUE AS one_rep_per_cluster, TRUE AS k_bounded
          |FROM sent GROUP BY sentiment ORDER BY sentiment""".stripMargin)),

    Q("f6_categorize",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val text2 = when(col("doc_id") % 4 === 0, concat(lit("I visited this place and "), col("text")))
          .when(col("doc_id") % 4 === 1, concat(lit("rating 5 stars for "), col("text")))
          .when(col("doc_id") % 4 === 2, concat(lit("the menu here includes "), col("text")))
          .otherwise(col("text"))
        docs.select(col("doc_id"), graft.sources.Html.categorize(text2).as("category"))
          .orderBy("doc_id")
      },
      Some("""WITH m AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id % 4 = 0 THEN 'I visited this place and ' || text
             |         WHEN doc_id % 4 = 1 THEN 'rating 5 stars for ' || text
             |         WHEN doc_id % 4 = 2 THEN 'the menu here includes ' || text
             |         ELSE text END AS t2
             |  FROM documents)
             |SELECT doc_id,
             |  CASE WHEN regexp_matches(lower(t2), 'review|visited|stayed|came here|experience') THEN 'reviews'
             |       WHEN regexp_matches(lower(t2), 'rating|stars|score') AND regexp_matches(t2, '[0-9]') THEN 'ratings'
             |       WHEN regexp_matches(lower(t2), 'menu|cuisine|location|hours|about') THEN 'descriptions'
             |       ELSE 'other_text' END AS category
             |FROM m ORDER BY doc_id""".stripMargin)),

    Q("o6_top_confidence",
      (s, d) => scoredDocs(s, d)
        .orderBy(col("confidence").desc, col("doc_id"))
        .select("doc_id", "sentiment", "confidence")
        .limit(5),
      Some(Sentiment.oracleCte +
        """ SELECT doc_id, sentiment, confidence FROM sent
          | ORDER BY confidence DESC, doc_id LIMIT 5""".stripMargin)),

    Q("o10_diversified_topk",
      // diversified ranking (the search/reco primitive): global top-10 by
      // confidence but AT MOST 2 docs per source. The per-source cap runs
      // through the native bounded-heap aggregate (o9's graft_top_k):
      // map-side partial heaps cap the shuffle at 2 rows per (task,
      // source) — a row_number window partitioned on the low-cardinality
      // source column would instead sort ALL fact rows on |sources|
      // tasks, the exact shape the PlanShapeSpec sweep forbids (and
      // flagged in this query's first formulation)
      (s, d) => {
        val top = scoredDocs(s, d)
          .groupBy("source")
          .agg(graft.plans.TopK.topKByScore(
            col("confidence"), col("doc_id"),
            struct(col("doc_id"), col("confidence")), 2).as("top"))
        top.select(col("source"), posexplode(col("top")))
          .select(col("col.doc_id").as("doc_id"), col("source"),
            col("col.confidence").as("confidence"),
            (col("pos") + 1).cast("int").as("rn_src"))
          .orderBy(col("confidence").desc, col("doc_id"))
          .limit(10)
      },
      Some(Sentiment.oracleCte +
        """,
          |dv AS (SELECT doc_id, source, confidence,
          |    CAST(row_number() OVER (PARTITION BY source
          |      ORDER BY confidence DESC, doc_id) AS INT) AS rn_src
          |  FROM sent)
          |SELECT doc_id, source, confidence, rn_src FROM dv
          |WHERE rn_src <= 2
          |ORDER BY confidence DESC, doc_id LIMIT 10""".stripMargin)),

    Q("u1_union_passes",
      (s, d) => {
        val docs = Tables.documents(s, d)
        docs.filter(col("doc_id") % 3 === 0).select(lit(0).as("pass_id"), col("doc_id"))
          .unionByName(
            docs.filter(col("doc_id") % 3 === 1).select(lit(1).as("pass_id"), col("doc_id")))
          .orderBy("pass_id", "doc_id")
      },
      Some("""SELECT CAST(0 AS INT) AS pass_id, doc_id FROM documents WHERE doc_id % 3 = 0
             |UNION ALL
             |SELECT CAST(1 AS INT) AS pass_id, doc_id FROM documents WHERE doc_id % 3 = 1
             |ORDER BY pass_id, doc_id""".stripMargin)),

    Q("s10_block_reparse",
      // The reference concatenates `[Review N]\n<text>` blocks into one
      // corpus string and re-splits it on newlines
      // (ref `Context_analyzer_RoBERTa_fun.py:282-352`). Because the block
      // separator IS the split character, splitting the joined corpus
      // yields exactly the per-document line multiset — so the engine form
      // splits WITHIN each document (narrow generator, no corpus-sized
      // single-row blob: a whole-corpus collect_list OOMs one task long
      // before 100 TB). The oracle keeps the literal blob formulation,
      // proving the equivalence every run.
      (s, d) => Tables.documents(s, d)
        .select(explode(split(
          format_string("[Review %d]\n%s", col("doc_id"), col("text")),
          "\n")).as("line"))
        .filter(!col("line").rlike("^\\[Review \\d+\\]$") && length(col("line")) > 30)
        .orderBy("line"),
      Some("""WITH blob AS (
             |  SELECT string_agg('[Review ' || doc_id || ']' || chr(10) || text, chr(10) ORDER BY doc_id) AS b
             |  FROM documents),
             |lines AS (SELECT unnest(string_split(b, chr(10))) AS line FROM blob)
             |SELECT line FROM lines
             |WHERE NOT regexp_matches(line, '^\[Review \d+\]$') AND length(line) > 30
             |ORDER BY line""".stripMargin)),

    Q("s4_dom_extract",
      // S4 (ref extract_text_fun.py:136-245): the full DOM categorized
      // extraction — title/h1, <p> keyword categorization, review-class
      // containers, sentence-level dedup — over a deterministic synthetic
      // page per document. The DOM parse is not SQL-expressible → rows-only
      // check (o3 precedent); semantic fidelity is pinned by HtmlDomSpec's
      // golden fixture. Per-doc scalar parse: narrow, no shuffle.
      (s, d) => sources.Html.categorizedBlocks(
        Tables.documents(s, d).select(col("doc_id"), concat(
          lit("<html><head><title>Doc "), col("doc_id"),
          lit("</title></head><body><h1>Venue "), col("doc_id"),
          lit("</h1><p>"), col("text"),
          lit("</p><div class=\"review-item\">Review: our experience visited here. "),
          col("text"), lit("</div><script>var x = 1;</script></body></html>"))
          .as("page")),
        "page")
        .orderBy("doc_id", "pos"),
      None),

    Q("s4b_strip_tags",
      // S4 fast path: the regex strip-tags + title column functions ARE
      // SQL-expressible, so unlike the DOM pass they get a full
      // value-compare oracle (script/style removal, tag strip, whitespace
      // collapse)
      (s, d) => {
        val page = concat(
          lit("<html><head><title>Doc "), col("doc_id"),
          lit("</title><style>p { color: red; }</style></head><body><h1>Venue "),
          col("doc_id"), lit("</h1><p>"), col("text"),
          lit("</p><script>var x = 1;</script></body></html>"))
        Tables.documents(s, d).select(
          col("doc_id"),
          sources.Html.title(page).as("page_title"),
          sources.Html.stripTags(page).as("page_text"))
          .orderBy("doc_id")
      },
      Some("""WITH page AS (SELECT doc_id,
             |  '<html><head><title>Doc ' || doc_id || '</title><style>p { color: red; }</style></head><body><h1>Venue '
             |  || doc_id || '</h1><p>' || text || '</p><script>var x = 1;</script></body></html>' AS html
             |  FROM documents)
             |SELECT doc_id,
             |  trim(regexp_replace(regexp_extract(html, '(?is)<title[^>]*>(.*?)</title>', 1), '\s+', ' ', 'g')) AS page_title,
             |  trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(html,
             |    '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
             |    '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
             |    '<[^>]+>', ' ', 'g'), '\s+', ' ', 'g')) AS page_text
             |FROM page ORDER BY doc_id""".stripMargin)),

    Q("ep3_chat_context",
      (s, d) => operators.Serving.chatContext(
        scoredDocs(s, d),
        Analytics.topWords(Tables.documents(s, d), "text", 15)),
      Some(Sentiment.oracleCte + s",\n$wordsCteSql," +
        """
          |dcnt AS (SELECT sentiment, CAST(count(*) AS BIGINT) AS cnt FROM sent GROUP BY sentiment),
          |dl AS (SELECT sentiment, cnt,
          |   CAST(ROUND(cnt * CAST(1000.0 AS DOUBLE) / CAST(SUM(cnt) OVER () AS DOUBLE), 0) AS BIGINT) AS pm
          |   FROM dcnt),
          |dctx AS (SELECT string_agg(sentiment || ': ' || cnt || ' (' || (pm // 10) || '.' || (pm % 10) || '%)', ', ' ORDER BY sentiment) AS distribution_ctx FROM dl),
          |wtop AS (SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM words GROUP BY word ORDER BY cnt DESC, word LIMIT 15),
          |wctx AS (SELECT string_agg(word || ' (' || cnt || ')', ', ' ORDER BY cnt DESC, word) AS top_words_ctx FROM wtop),
          |ex AS (SELECT sentiment, text, doc_id,
          |   row_number() OVER (PARTITION BY sentiment ORDER BY confidence DESC, doc_id) AS rn FROM sent),
          |ectx AS (SELECT string_agg(sentiment || ': ' || substr(text, 1, 80), ', ' ORDER BY sentiment) AS examples_ctx FROM ex WHERE rn = 1)
          |SELECT distribution_ctx, top_words_ctx, examples_ctx FROM dctx, wctx, ectx""".stripMargin)),

    Q("ep2_results_document",
      // EP2/S12 — the /api/results/{job}/data artifact merge
      // (ref routes.py:182-231): one row. Gate shape: nested fields
      // flattened to scalar columns + the trends array as one compact-JSON
      // string column (the gate's pandas hasher cannot hash struct cells);
      // Serving.resultsDocument keeps the nested library surface.
      (s, d) => operators.Serving.resultsDocumentFlat(scoredDocs(s, d), trendsOf(s, d)),
      Some(Sentiment.oracleCte + ",\n" + trendsCteSql +
        """,
          |tarr AS (SELECT to_json(list(struct_pack(date := date, positive := positive,
          |    negative := negative, neutral := neutral, total := total) ORDER BY date)) AS trends_json
          |  FROM trends),
          |exr AS (SELECT sentiment, substr(text, 1, 80) AS ex,
          |    row_number() OVER (PARTITION BY sentiment ORDER BY confidence DESC, doc_id) AS rn
          |  FROM sent),
          |cls AS (SELECT c.sentiment, c.cnt, e.ex
          |  FROM (SELECT sentiment, CAST(count(*) AS BIGINT) AS cnt FROM sent GROUP BY sentiment) c
          |  JOIN exr e ON c.sentiment = e.sentiment AND e.rn = 1)
          |SELECT
          |  (SELECT trends_json FROM tarr) AS trends_json,
          |  (SELECT 'POSITIVE' FROM cls WHERE sentiment = 'POSITIVE') AS positive_summary_sentiment_type,
          |  (SELECT cnt FROM cls WHERE sentiment = 'POSITIVE') AS positive_summary_num_comments,
          |  (SELECT ex FROM cls WHERE sentiment = 'POSITIVE') AS positive_summary_summary,
          |  (SELECT 'NEGATIVE' FROM cls WHERE sentiment = 'NEGATIVE') AS negative_summary_sentiment_type,
          |  (SELECT cnt FROM cls WHERE sentiment = 'NEGATIVE') AS negative_summary_num_comments,
          |  (SELECT ex FROM cls WHERE sentiment = 'NEGATIVE') AS negative_summary_summary,
          |  (SELECT 'NEUTRAL' FROM cls WHERE sentiment = 'NEUTRAL') AS neutral_summary_sentiment_type,
          |  (SELECT cnt FROM cls WHERE sentiment = 'NEUTRAL') AS neutral_summary_num_comments,
          |  (SELECT ex FROM cls WHERE sentiment = 'NEUTRAL') AS neutral_summary_summary,
          |  (SELECT ex FROM cls WHERE sentiment = 'POSITIVE') AS recommendations_positive_basis,
          |  (SELECT ex FROM cls WHERE sentiment = 'NEGATIVE') AS recommendations_negative_basis,
          |  (SELECT CAST(COALESCE(SUM(cnt), 0) AS BIGINT) FROM cls) AS statistics_total_reviews,
          |  COALESCE((SELECT cnt FROM cls WHERE sentiment = 'POSITIVE'), CAST(0 AS BIGINT)) AS statistics_positive,
          |  COALESCE((SELECT cnt FROM cls WHERE sentiment = 'NEGATIVE'), CAST(0 AS BIGINT)) AS statistics_negative,
          |  COALESCE((SELECT cnt FROM cls WHERE sentiment = 'NEUTRAL'), CAST(0 AS BIGINT)) AS statistics_neutral""".stripMargin)),

    Q("ep4_report_document",
      // EP4 — the COMPLETE 10-section report document (r8 VERDICT task
      // 5): every data-bearing field of pdf_sections.py:20-561 in one
      // composed plan, one flattened row (renderer stays oos). Exec
      // summary counts + {:.1f}% permille shares, per-class
      // nearest-to-mean representative (the oracle-replayable
      // "vector-mean" selection; KMeans V3 stays the library surface),
      // per-class highest-confidence comment (300-trunc), summary/
      // recommendation evidence bases, and the full insurance breakdown
      // + avg confidence — all reusing already-oracled algebra
      (s, d) => operators.Serving.reportDocument(scoredDocs(s, d), trendsOf(s, d)),
      Some(riskOracleCtes +
        """,
          |cavg AS (SELECT sentiment, ROUND(avg(confidence), 9) AS cavg
          |  FROM sent GROUP BY sentiment),
          |rp AS (SELECT sentiment,
          |    CASE WHEN length(text) > 300 THEN substr(text, 1, 300) || '...' ELSE text END AS t300,
          |    confidence,
          |    row_number() OVER (PARTITION BY s.sentiment
          |      ORDER BY abs(s.confidence - c.cavg), s.doc_id) AS rn
          |  FROM sent s JOIN cavg c USING (sentiment)),
          |hc AS (SELECT sentiment,
          |    CASE WHEN length(text) > 300 THEN substr(text, 1, 300) || '...' ELSE text END AS t300,
          |    substr(text, 1, 80) AS ex80, confidence,
          |    row_number() OVER (PARTITION BY sentiment
          |      ORDER BY confidence DESC, doc_id) AS rn
          |  FROM sent),
          |pmv AS (SELECT
          |    CAST(ROUND(CAST(n_pos AS DOUBLE) * CAST(1000.0 AS DOUBLE) / CAST(total_samples AS DOUBLE), 0) AS BIGINT) AS pm_pos,
          |    CAST(ROUND(CAST(n_neg AS DOUBLE) * CAST(1000.0 AS DOUBLE) / CAST(total_samples AS DOUBLE), 0) AS BIGINT) AS pm_neg,
          |    CAST(ROUND(CAST(n_neu AS DOUBLE) * CAST(1000.0 AS DOUBLE) / CAST(total_samples AS DOUBLE), 0) AS BIGINT) AS pm_neu
          |  FROM fin)
          |SELECT
          |  'documents' AS source_info,
          |  fin.total_samples AS total_comments,
          |  fin.n_pos AS positive_cnt, fin.n_neg AS negative_cnt, fin.n_neu AS neutral_cnt,
          |  (SELECT t300 FROM rp WHERE sentiment = 'POSITIVE' AND rn = 1) AS rep_positive_text,
          |  (SELECT confidence FROM rp WHERE sentiment = 'POSITIVE' AND rn = 1) AS rep_positive_confidence,
          |  (SELECT t300 FROM rp WHERE sentiment = 'NEGATIVE' AND rn = 1) AS rep_negative_text,
          |  (SELECT confidence FROM rp WHERE sentiment = 'NEGATIVE' AND rn = 1) AS rep_negative_confidence,
          |  (SELECT t300 FROM rp WHERE sentiment = 'NEUTRAL' AND rn = 1) AS rep_neutral_text,
          |  (SELECT confidence FROM rp WHERE sentiment = 'NEUTRAL' AND rn = 1) AS rep_neutral_confidence,
          |  (SELECT t300 FROM hc WHERE sentiment = 'POSITIVE' AND rn = 1) AS hc_positive_text,
          |  (SELECT confidence FROM hc WHERE sentiment = 'POSITIVE' AND rn = 1) AS hc_positive_confidence,
          |  (SELECT t300 FROM hc WHERE sentiment = 'NEGATIVE' AND rn = 1) AS hc_negative_text,
          |  (SELECT confidence FROM hc WHERE sentiment = 'NEGATIVE' AND rn = 1) AS hc_negative_confidence,
          |  (SELECT t300 FROM hc WHERE sentiment = 'NEUTRAL' AND rn = 1) AS hc_neutral_text,
          |  (SELECT confidence FROM hc WHERE sentiment = 'NEUTRAL' AND rn = 1) AS hc_neutral_confidence,
          |  (SELECT ex80 FROM hc WHERE sentiment = 'POSITIVE' AND rn = 1) AS summary_positive_basis,
          |  (SELECT ex80 FROM hc WHERE sentiment = 'NEGATIVE' AND rn = 1) AS summary_negative_basis,
          |  (pm_pos // 10) || '.' || (pm_pos % 10) AS positive_pct,
          |  (pm_neg // 10) || '.' || (pm_neg % 10) AS negative_pct,
          |  (pm_neu // 10) || '.' || (pm_neu % 10) AS neutral_pct,
          |  ROUND(CAST(5000.0 AS DOUBLE) * sent_mult * conf_mult * sample_mult * trend_multiplier, 2) AS insurance_cost,
          |  CASE WHEN risk_score >= 70 THEN 'Critical'
          |       WHEN risk_score >= 50 THEN 'High'
          |       WHEN risk_score >= 30 THEN 'Medium'
          |       ELSE 'Low' END AS risk_level,
          |  risk_score,
          |  ROUND(sent_mult, 2) AS sentiment_multiplier,
          |  ROUND(conf_mult, 2) AS confidence_multiplier,
          |  ROUND(sample_mult, 2) AS sample_multiplier,
          |  ROUND(trend_multiplier, 2) AS trend_multiplier,
          |  trend_status,
          |  ROUND(avg_confidence, 3) AS avg_confidence
          |FROM fin, pmv""".stripMargin)),

    Q("ep1_ingest_pipeline",
      // EP1 END-TO-END through the REAL ingest stack (S2→S1→S4→V4/F7/F8):
      // deterministic HTML pages materialized per document (s4b wrapper),
      // routed through the S2 `urls` dispatch (search_methods_fun.py:49-117,
      // the documented one-row-per-URL target contract), fetched over
      // file:// by the S1 mapPartitions fetch workers (download_page_fun
      // .py:35-205), <p>-extracted (extract_text_fun.py:136-245 fast
      // path), and scored by the V4 seam. The oracle is the PLAIN scored
      // CTE over `documents`: every lexicon token and F7 keyword is
      // whitespace-free, so scoring the paragraph-recovered
      // cleanText(text) is bit-identical to scoring text — a hash match
      // therefore proves the whole write→dispatch→fetch→parse round-trip
      // lossless, not just the scoring algebra. The manifest is a
      // DataFrame end to end — the DataFrame searchDispatch overload, so
      // URLs never visit the driver (the corpus-scale contract; the only
      // driver-side piece left is the fixture write itself, which at
      // cluster scale is shared storage). Fetch fan-out = manifest
      // partitioning; politeness 0 for local files.
      (s, d) => {
        val pageDir = java.nio.file.Paths
          .get("target", "ep1_pages", new java.io.File(d).getName)
          .toAbsolutePath.toString
        val subset = Tables.documents(s, d).filter(col("doc_id") % 17 === 0)
        sources.Ingest.writeFilePerRow(
          subset.select(
            concat(lit("doc_"), col("doc_id"), lit(".html")).as("name"),
            concat(
              lit("<html><head><title>Doc "), col("doc_id"),
              lit("</title></head><body><h1>Venue "), col("doc_id"),
              lit("</h1><p>"), col("text"),
              lit("</p><script>var x = 1;</script></body></html>")).as("content")),
          pageDir)
        val manifest = sources.Ingest.searchDispatch(
          subset.select(concat(lit(s"file://$pageDir/doc_"),
            col("doc_id"), lit(".html")).as("url")), "url")
        val fetched = sources.Ingest.fetchUrls(s, manifest.select("url"))
        val html = col("content").cast("string")
        val reviewText = coalesce(
          get(sources.Html.paragraphs(html, minLen = 0), lit(0)), lit(""))
        Sentiment.score(
          fetched.select(
            regexp_extract(col("url"), "doc_(\\d+)\\.html", 1)
              .cast("long").as("doc_id"),
            col("status"), col("attempts"),
            sources.Html.title(html).as("page_title"),
            reviewText.as("text")))
          .select("doc_id", "status", "attempts", "page_title", "wc",
            "sentiment", "confidence", "original_score")
          .orderBy("doc_id")
      },
      Some(Sentiment.oracleCte +
        """ SELECT doc_id, 'ok' AS status, CAST(1 AS INTEGER) AS attempts,
          |   'Doc ' || doc_id AS page_title, wc, sentiment, confidence,
          |   original_score
          | FROM scored WHERE doc_id % 17 = 0 ORDER BY doc_id""".stripMargin)),

    Q("ep3b_suggestions",
      // EP3/L3 — the chatbot's suggested-questions assembly
      // (ref chatbot_analyzer.py:250-272): 10-item static pool, negative-
      // summary prepend + recommendations insert-at-1, trimmed to 8
      (s, d) => operators.Serving.suggestedQuestions(scoredDocs(s, d), trendsOf(s, d)),
      Some(Sentiment.oracleCte +
        s""",
           |flags AS (SELECT
           |    CAST(SUM(CASE WHEN sentiment = 'NEGATIVE' THEN 1 ELSE 0 END) AS BIGINT) > 0 AS has_neg,
           |    CAST(SUM(CASE WHEN sentiment = 'POSITIVE' THEN 1 ELSE 0 END) AS BIGINT) > 0
           |      AND CAST(SUM(CASE WHEN sentiment = 'NEGATIVE' THEN 1 ELSE 0 END) AS BIGINT) > 0 AS has_reco
           |  FROM sent),
           |l0 AS (SELECT ${operators.Serving.SuggestedQuestionPool
                     .map(q => s"'$q'").mkString("[", ", ", "]")} AS base),
           |l1 AS (SELECT CASE WHEN has_neg
           |    THEN list_prepend('Summarize the negative feedback', base) ELSE base END AS l
           |  FROM l0, flags),
           |l2 AS (SELECT CASE WHEN has_reco
           |    THEN l[1:1] || ['What are your top recommendations?'] || l[2:] ELSE l END AS l
           |  FROM l1, flags),
           |idx AS (SELECT unnest(range(1, 9)) AS rank)
           |SELECT CAST(rank AS INT) AS rank, l[rank] AS question
           |FROM l2, idx WHERE rank <= len(l) ORDER BY rank""".stripMargin)),

    Q("ep3c_chat_history",
      // L3 — chat-message assembly with the reference's last-4 history
      // window (ref chatbot_analyzer.py:228-236); history synthesized
      // deterministically from the documents table (conversation state is
      // driver-side in the reference)
      (s, d) => {
        val hist = Tables.documents(s, d).filter(col("doc_id") < 8)
          .select(col("doc_id").as("seq"),
            when(col("doc_id") % 2 === 0, "user").otherwise("assistant").as("role"),
            col("text").as("content"))
        operators.Serving.chatMessages(hist, "What should we fix first?")
      },
      Some("""WITH h AS (SELECT doc_id AS seq,
             |    CASE WHEN doc_id % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
             |    text AS content FROM documents WHERE doc_id < 8),
             |o AS (SELECT seq, role, content,
             |    row_number() OVER (ORDER BY seq DESC) AS rd FROM h),
             |sel AS (SELECT seq, role, content FROM o WHERE rd <= 4),
             |num AS (SELECT role, content,
             |    CAST(row_number() OVER (ORDER BY seq) AS INT) AS pos FROM sel)
             |SELECT pos, role, content FROM num
             |UNION ALL
             |SELECT CAST((SELECT count(*) FROM sel) + 1 AS INT), 'user', 'What should we fix first?'
             |ORDER BY pos""".stripMargin)),

    Q("l1_summary_prompts",
      // L1 — per-class numbered "[Confidence: x.xx] text" summary prompt
      // (ref summarize_sentiments_fun.py:39-56)
      (s, d) => operators.Serving.summaryPrompts(scoredDocs(s, d), 10),
      Some(Sentiment.oracleCte +
        """,
          |exr AS (SELECT sentiment, text, confidence,
          |    row_number() OVER (PARTITION BY sentiment ORDER BY confidence DESC, doc_id) AS rn
          |  FROM sent),
          |top AS (SELECT *, CAST(ROUND(confidence * CAST(100.0 AS DOUBLE), 0) AS BIGINT) AS cents
          |  FROM exr WHERE rn <= 10),
          |lines AS (SELECT sentiment, rn,
          |    rn || '. [Confidence: ' || (cents // 100) || '.' || lpad(CAST(cents % 100 AS VARCHAR), 2, '0') || '] ' || text AS line
          |  FROM top),
          |body AS (SELECT sentiment, string_agg(line, chr(10) || chr(10) ORDER BY rn) AS combined
          |  FROM lines GROUP BY sentiment)
          |SELECT sentiment,
          |  'Analyze the following ' || upper(sentiment) || ' comments from customer reviews and provide a concise summary in EXACTLY 2-3 sentences.' || chr(10) || chr(10)
          |  || upper(sentiment) || ' COMMENTS:' || chr(10) || combined || chr(10) || chr(10)
          |  || 'Write a brief summary (2-3 sentences ONLY) explaining what aspects the commenters found ' || lower(sentiment)
          |  || '. Focus on the main themes and common patterns.' || chr(10) || chr(10) || 'Summary:' AS prompt
          |FROM body ORDER BY sentiment""".stripMargin)),

    Q("l2_reco_prompt",
      // L2 — recommendation prompt composed from the results document's
      // evidence block (ref recommendation_fun.py:39-51; default base
      // prompt per reference config)
      (s, d) => operators.Serving.recommendationPrompt(scoredDocs(s, d), trendsOf(s, d),
        "Provide 3 actionable recommendations for improvement."),
      Some(Sentiment.oracleCte +
        """,
          |exr AS (SELECT sentiment, substr(text, 1, 80) AS ex,
          |    row_number() OVER (PARTITION BY sentiment ORDER BY confidence DESC, doc_id) AS rn
          |  FROM sent)
          |SELECT 'Provide 3 actionable recommendations for improvement.'
          |  || chr(10) || chr(10) || 'POSITIVE FEEDBACK SUMMARY:' || chr(10)
          |  || (SELECT ex FROM exr WHERE sentiment = 'POSITIVE' AND rn = 1)
          |  || chr(10) || chr(10) || 'NEGATIVE FEEDBACK SUMMARY:' || chr(10)
          |  || (SELECT ex FROM exr WHERE sentiment = 'NEGATIVE' AND rn = 1)
          |  || chr(10) || chr(10) || 'Please provide 3 actionable recommendations:' AS reco_prompt""".stripMargin)),

    Q("ev_sessionize",
      (s, d) => graft.streaming.Sessionize.sessionizeBatch(Tables.events(s, d)),
      Some("""WITH e AS (
             |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, value FROM events),
             |g AS (SELECT *, lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev_us FROM e),
             |s AS (SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END AS new_sess FROM g),
             |c AS (SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id FROM s)
             |SELECT user_id, session_id,
             |  CAST(min(us) AS BIGINT) AS session_start_us,
             |  CAST(max(us) AS BIGINT) AS session_end_us,
             |  CAST(count(*) AS BIGINT) AS n_events,
             |  ROUND(SUM(value), 6) AS sum_value
             |FROM c GROUP BY user_id, session_id
             |ORDER BY user_id, session_id""".stripMargin)),

    Q("ev_session_window_native",
      // Spark's native session_window aggregate next to the manual
      // gap-sessionize (ev_sessionize): merge rule is INCLUSIVE (an event
      // exactly `gap` after the previous one still merges; the split
      // needs diff > gap — measured, pinned in StreamsSpec), and
      // window.end = last event + gap; the oracle replays both
      (s, d) => Tables.events(s, d)
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 6).as("sum_value"))
        .select(col("user_id"),
          unix_micros(col("session_window.start")).as("session_start_us"),
          unix_micros(col("session_window.end")).as("session_end_us"),
          col("n_events"), col("sum_value"))
        .orderBy("user_id", "session_start_us"),
      Some("""WITH e AS (
             |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, value FROM events),
             |g AS (SELECT *, lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev_us FROM e),
             |s AS (SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END AS new_sess FROM g),
             |c AS (SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id FROM s)
             |SELECT user_id,
             |  CAST(min(us) AS BIGINT) AS session_start_us,
             |  CAST(max(us) + 1800000000 AS BIGINT) AS session_end_us,
             |  CAST(count(*) AS BIGINT) AS n_events,
             |  ROUND(SUM(value), 6) AS sum_value
             |FROM c GROUP BY user_id, session_id
             |ORDER BY user_id, session_start_us""".stripMargin)),

    Q("bf_bloom_prefilter_join",
      // bloom-prefiltered join: dim-key bloom broadcast ahead of the
      // join prunes the fact shuffle to the matching slice; result is
      // row-identical to the plain join (the oracle IS the plain join)
      (s, d) => {
        val dim = Tables.supplier(s, d).filter(col("s_nationkey") < 5)
          .select(col("s_suppkey"), col("s_name"))
        Analytics.bloomPrefilterJoin(
          Tables.lineitem(s, d).select("l_orderkey", "l_suppkey", "l_quantity"),
          dim, "l_suppkey", "s_suppkey")
          .groupBy(col("s_name"))
          .agg(count(lit(1)).as("cnt"), round(sum(col("l_quantity")), 6).as("sum_qty"))
          .orderBy("s_name")
      },
      Some("""SELECT s_name, CAST(count(*) AS BIGINT) AS cnt,
             |  ROUND(SUM(l_quantity), 6) AS sum_qty
             |FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
             |WHERE s.s_nationkey < 5
             |GROUP BY s_name ORDER BY s_name""".stripMargin)),

    Q("zo_zorder_key",
      // Z-order layout key (bit-interleave): the sort key that gives
      // min/max file pruning on BOTH dimensions at write time; pure
      // integer bit ops, fully oracled
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"),
          functions.ZOrder.zorderKey(
            col("doc_id").bitwiseAND(lit(0xffffL)),
            col("n_chars").bitwiseAND(lit(0xffffL))).as("zkey"))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id,
              |  ${functions.ZOrder.zorderKeySql("(doc_id & 65535)", "(n_chars & 65535)")} AS zkey
              |FROM documents ORDER BY doc_id""".stripMargin)),

    Q("ev_ab_ztest",
      // A/B experiment readout: user_id % 2 as the variant assignment,
      // "ever purchased" as conversion, pooled two-proportion z and the
      // |z| > 1.96 two-sided verdict. One user-keyed max-combined
      // aggregation collapses the stream to O(users), then one global
      // conditional agg to a single row — no window, no join
      (s, d) => Analytics.abZTest(Tables.events(s, d), "user_id",
        pmod(col("user_id"), lit(2)),
        col("event_type") === "purchase" && col("value") > 150.0),
      Some("""WITH u AS (SELECT user_id, user_id % 2 AS v,
             |    MAX(CASE WHEN event_type = 'purchase'
             |      AND value > CAST(150.0 AS DOUBLE) THEN 1 ELSE 0 END) AS c
             |  FROM events GROUP BY 1, 2),
             |g AS (SELECT
             |    CAST(SUM(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             |    CAST(SUM(CASE WHEN v = 0 THEN c ELSE 0 END) AS BIGINT) AS conv_a,
             |    CAST(SUM(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
             |    CAST(SUM(CASE WHEN v = 1 THEN c ELSE 0 END) AS BIGINT) AS conv_b
             |  FROM u),
             |z AS (SELECT n_a, conv_a, n_b, conv_b,
             |    CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS pa,
             |    CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS pb,
             |    CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE) AS pp
             |  FROM g),
             |zz AS (SELECT *, sqrt(pp * (CAST(1.0 AS DOUBLE) - pp)
             |    * (CAST(1.0 AS DOUBLE) / CAST(n_a AS DOUBLE)
             |      + CAST(1.0 AS DOUBLE) / CAST(n_b AS DOUBLE))) AS se FROM z)
             |SELECT n_a, conv_a, ROUND(pa, 6) AS rate_a,
             |  n_b, conv_b, ROUND(pb, 6) AS rate_b,
             |  ROUND(pp, 6) AS pooled_rate,
             |  CASE WHEN se > 0 THEN ROUND((pb - pa) / se, 6) END AS z,
             |  COALESCE(abs(CASE WHEN se > 0 THEN ROUND((pb - pa) / se, 6) END)
             |    > CAST(1.96 AS DOUBLE), FALSE) AS significant
             |FROM zz""".stripMargin)),

    Q("ev_funnel",
      // ordered view -> click -> purchase funnel: first hit of each stage
      // strictly after the previous stage's first hit; conversion share
      // of stage 1, ROUND(6)
      (s, d) => operators.Analytics.funnel(Tables.events(s, d),
        Seq("view", "click", "purchase")),
      Some("""WITH e AS (SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
             |f1 AS (SELECT user_id, MIN(us) AS t FROM e WHERE event_type = 'view' GROUP BY user_id),
             |f2 AS (SELECT e.user_id, MIN(us) AS t FROM e JOIN f1 USING (user_id)
             |  WHERE event_type = 'click' AND us > f1.t GROUP BY e.user_id),
             |f3 AS (SELECT e.user_id, MIN(us) AS t FROM e JOIN f2 USING (user_id)
             |  WHERE event_type = 'purchase' AND us > f2.t GROUP BY e.user_id),
             |c AS (
             |  SELECT 1 AS stage, 'view' AS stage_name, (SELECT CAST(count(*) AS BIGINT) FROM f1) AS n_users
             |  UNION ALL SELECT 2, 'click', (SELECT CAST(count(*) AS BIGINT) FROM f2)
             |  UNION ALL SELECT 3, 'purchase', (SELECT CAST(count(*) AS BIGINT) FROM f3))
             |SELECT CAST(stage AS INT) AS stage, stage_name, n_users,
             |  ROUND(CAST(n_users AS DOUBLE) / (SELECT CAST(count(*) AS DOUBLE) FROM f1), 6) AS conversion
             |FROM c ORDER BY stage""".stripMargin)),

    Q("ev_transition_matrix",
      // first-order Markov transitions over each user's time-ordered
      // stream: ONE lag window keyed by user, then a |types|^2 matrix
      (s, d) => operators.Analytics.transitionMatrix(Tables.events(s, d)),
      Some("""WITH e AS (SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id FROM events),
             |t AS (SELECT user_id, event_type AS to_type,
             |    lag(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id) AS from_type
             |  FROM e),
             |m AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
             |  FROM t WHERE from_type IS NOT NULL GROUP BY from_type, to_type)
             |SELECT from_type, to_type, n,
             |  ROUND(CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE), 6) AS p
             |FROM m ORDER BY from_type, to_type""".stripMargin)),

    Q("ev_retention",
      // cohort-by-first-day retention matrix; DISTINCT (user, day) first
      // so every downstream stage is O(users x active-days)
      (s, d) => operators.Analytics.retentionCohorts(Tables.events(s, d)),
      Some("""WITH d AS (SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day FROM events),
             |f AS (SELECT user_id, MIN(day) AS cohort_day FROM d GROUP BY user_id),
             |s AS (SELECT cohort_day, CAST(count(*) AS BIGINT) AS n_cohort FROM f GROUP BY 1),
             |c AS (SELECT f.cohort_day, date_diff('day', f.cohort_day, d.day) AS offset_days,
             |    CAST(count(*) AS BIGINT) AS n_active
             |  FROM d JOIN f USING (user_id) GROUP BY 1, 2)
             |SELECT strftime(c.cohort_day, '%Y-%m-%d') AS cohort_day,
             |  CAST(c.offset_days AS INT) AS offset_days, c.n_active, s.n_cohort,
             |  ROUND(CAST(c.n_active AS DOUBLE) / CAST(s.n_cohort AS DOUBLE), 6) AS retention
             |FROM c JOIN s USING (cohort_day) ORDER BY cohort_day, offset_days""".stripMargin)),

    Q("ev_rfm",
      // RFM quintile scoring over O(customers) aggregates; quintiles via
      // the distributed two-phase global rank + ntile arithmetic, never an
      // unpartitioned ntile window (single-task sort)
      (s, d) => operators.Analytics.rfmScores(Tables.orders(s, d)),
      Some("""WITH r AS (
             |  SELECT o_custkey,
             |    date_diff('day', MAX(CAST(o_orderdate AS DATE)),
             |      (SELECT MAX(CAST(o_orderdate AS DATE)) FROM orders)) AS recency_days,
             |    CAST(count(*) AS BIGINT) AS frequency,
             |    ROUND(SUM(o_totalprice), 6) AS monetary
             |  FROM orders GROUP BY o_custkey),
             |s AS (SELECT *, ntile(5) OVER (ORDER BY recency_days, o_custkey) AS nt_r,
             |    ntile(5) OVER (ORDER BY frequency, o_custkey) AS nt_f,
             |    ntile(5) OVER (ORDER BY monetary, o_custkey) AS nt_m FROM r)
             |SELECT o_custkey, CAST(recency_days AS INT) AS recency_days, frequency, monetary,
             |  CAST(6 - nt_r AS INT) AS r_score, CAST(nt_f AS INT) AS f_score,
             |  CAST(nt_m AS INT) AS m_score,
             |  CAST((6 - nt_r) * 100 + nt_f * 10 + nt_m AS INT) AS rfm_code
             |FROM s ORDER BY o_custkey""".stripMargin)),

    Q("u5_scd2_history",
      // type-2 SCD rebuild from the order-status change feed: both
      // gaps-and-islands windows keyed by the customer
      (s, d) => operators.Analytics.scd2History(Tables.orders(s, d),
        "o_custkey", "o_orderstatus", "o_orderdate", "o_orderkey"),
      Some("""WITH o AS (SELECT o_custkey, o_orderstatus, CAST(o_orderdate AS DATE) AS d, o_orderkey FROM orders),
             |l AS (SELECT *, lag(o_orderstatus) OVER (PARTITION BY o_custkey ORDER BY d, o_orderkey) AS prev FROM o),
             |i AS (SELECT *, SUM(CASE WHEN prev IS NULL OR prev <> o_orderstatus THEN 1 ELSE 0 END)
             |    OVER (PARTITION BY o_custkey ORDER BY d, o_orderkey ROWS UNBOUNDED PRECEDING) AS island FROM l),
             |v AS (SELECT o_custkey, island, MIN(o_orderstatus) AS status, MIN(d) AS valid_from
             |  FROM i GROUP BY o_custkey, island)
             |SELECT o_custkey, CAST(island AS INT) AS version, status,
             |  strftime(valid_from, '%Y-%m-%d') AS valid_from,
             |  strftime(lead(valid_from) OVER (PARTITION BY o_custkey ORDER BY island), '%Y-%m-%d') AS valid_to
             |FROM v ORDER BY o_custkey, version""".stripMargin)),

    Q("h4_priority_semijoin",
      // TPC-H Q4 shape: orders with >= 1 late-shipped lineitem, counted
      // per priority. LEFT SEMI on the order key — the probe side
      // short-circuits on first match and emits each order at most once,
      // so the join output never exceeds |orders| regardless of lineitem
      // fan-out
      (s, d) => {
        val o = Tables.orders(s, d)
        val li = Tables.lineitem(s, d).select("l_orderkey", "l_shipdate")
        o.join(li, o("o_orderkey") === li("l_orderkey") &&
            li("l_shipdate") > o("o_orderdate"), "left_semi")
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_orders"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
             |FROM orders o
             |WHERE EXISTS (SELECT 1 FROM lineitem l
             |  WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    Q("ev_zscore_anomaly",
      // trailing-7-day z-score per (event_type, day) cell; the window
      // runs over the O(types x days) aggregate, keyed by type
      (s, d) => operators.Analytics.zscoreAnomalies(Tables.events(s, d)),
      Some("""WITH daily AS (SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             |    CAST(count(*) AS BIGINT) AS cnt FROM events GROUP BY 1, 2),
             |w AS (SELECT event_type, day, cnt,
             |    avg(cnt) OVER (PARTITION BY event_type ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS m,
             |    stddev_samp(cnt) OVER (PARTITION BY event_type ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS sd
             |  FROM daily),
             |z AS (SELECT event_type, day, cnt, ROUND(m, 6) AS trail_mean,
             |    CASE WHEN sd IS NOT NULL AND sd > CAST(0 AS DOUBLE)
             |      THEN ROUND((CAST(cnt AS DOUBLE) - m) / sd, 6) END AS z
             |  FROM w)
             |SELECT event_type, strftime(day, '%Y-%m-%d') AS day, cnt, trail_mean, z,
             |  COALESCE(abs(z) > CAST(2.0 AS DOUBLE), FALSE) AS is_anomaly
             |FROM z ORDER BY event_type, day""".stripMargin)),

    Q("u6_incremental_agg",
      // materialized-view refresh: merge the snapshot's per-key (cnt, sum)
      // state with the new batch's partial state; the oracle recomputes
      // from scratch — the algebraic merge must equal it
      (s, d) => {
        val e = Tables.events(s, d)
        operators.Analytics.mergeAggState(
          e.filter(to_date(col("ts")) < lit("2024-01-24")),
          e.filter(to_date(col("ts")) >= lit("2024-01-24")),
          "event_type", "value")
      },
      Some("""SELECT event_type, CAST(count(*) AS BIGINT) AS cnt,
             |  ROUND(SUM("value"), 6) AS sum_value,
             |  ROUND(ROUND(SUM("value"), 6) / CAST(count(*) AS DOUBLE), 6) AS avg_value
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    Q("hh_heavy_hitters",
      // exact heavy hitters (freq > n/40) via per-partition Misra-Gries
      // candidates + one exact pruned count pass; the oracle is the naive
      // full GROUP BY the two-pass plan must reproduce exactly
      (s, d) => operators.HeavyHitters.heavyHitterWords(
        Tables.documents(s, d), "text", 40),
      Some(s"""WITH $wordsCteSql,
              |c AS (SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM words GROUP BY word),
              |t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM words)
              |SELECT c.word, c.cnt,
              |  ROUND(CAST(c.cnt AS DOUBLE) / CAST(t.total AS DOUBLE), 6) AS share
              |FROM c, t WHERE CAST(c.cnt AS DOUBLE) > CAST(t.total AS DOUBLE) / 40
              |ORDER BY cnt DESC, word""".stripMargin)),

    Q("ta_textrank_keywords",
      // TextRank: 3 damped weighted-PageRank iterations over the token
      // adjacency graph; every join is a same-key equi-join on the word
      (s, d) => operators.TextAnalysis.textrankKeywords(
        Tables.documents(s, d), "text", "doc_id", 10),
      Some(s"""WITH toks AS (
              |  SELECT doc_id, list_filter(
              |    string_split(trim(regexp_replace(
              |      regexp_replace(regexp_replace(regexp_replace(lower(text),
              |        'http\\S+|www\\.\\S+', ' ', 'g'),
              |        '@\\w+|#\\w+', ' ', 'g'),
              |        '[^a-z\\s]', ' ', 'g'),
              |      '\\s+', ' ', 'g')), ' '),
              |    w -> w <> '' AND length(w) > 2 AND w NOT IN ${Analytics.StopWords.map(w => s"'$w'").mkString("(", ",", ")")}) AS ws
              |  FROM documents),
              |pr AS (SELECT p[1] AS a, p[2] AS b
              |  FROM (SELECT unnest(list_zip(ws, ws[2:])) AS p FROM toks)),
              |e AS (SELECT least(a, b) AS x, greatest(a, b) AS y, CAST(count(*) AS BIGINT) AS w
              |  FROM pr WHERE b IS NOT NULL AND a <> b GROUP BY 1, 2),
              |ed AS (SELECT x AS u, y AS v, w FROM e UNION ALL SELECT y, x, w FROM e),
              |deg AS (SELECT u, CAST(SUM(w) AS DOUBLE) AS wd FROM ed GROUP BY u),
              |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM deg),
              |r0 AS (SELECT u, CAST(1 AS DOUBLE) / n AS r FROM deg, nn),
              |r1 AS (SELECT ed.v AS u, (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n + CAST(0.85 AS DOUBLE) * SUM(ed.w / deg.wd * r0.r) AS r
              |  FROM ed JOIN deg USING (u) JOIN r0 USING (u) CROSS JOIN nn GROUP BY ed.v, nn.n),
              |r2 AS (SELECT ed.v AS u, (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n + CAST(0.85 AS DOUBLE) * SUM(ed.w / deg.wd * r1.r) AS r
              |  FROM ed JOIN deg USING (u) JOIN r1 USING (u) CROSS JOIN nn GROUP BY ed.v, nn.n),
              |r3 AS (SELECT ed.v AS u, (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n + CAST(0.85 AS DOUBLE) * SUM(ed.w / deg.wd * r2.r) AS r
              |  FROM ed JOIN deg USING (u) JOIN r2 USING (u) CROSS JOIN nn GROUP BY ed.v, nn.n)
              |SELECT u AS word, ROUND(r, 6) AS rank FROM r3
              |ORDER BY rank DESC, word LIMIT 10""".stripMargin)),

    Q("ad_exact_distinct",
      // EXACT distinct users per type via two-phase aggregation: the
      // (type, user) pre-dedup shuffle carries one row per distinct pair
      // (map-side combined), so no single reducer ever holds a type's
      // full user set in a hash table — the scale-correct exact
      // alternative to COUNT(DISTINCT) when approx_count_distinct's
      // error bound is not acceptable
      (s, d) => Tables.events(s, d)
        .groupBy(col("event_type"), col("user_id")).agg(count(lit(1)).as("__c"))
        .groupBy(col("event_type")).agg(count(lit(1)).as("n_users"))
        .orderBy("event_type"),
      Some("""SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    Q("ta_drift_words",
      // word-distribution drift between the even/odd doc_id slices:
      // per-word Jensen-Shannon contributions, top 20
      (s, d) => {
        val docs = Tables.documents(s, d)
        operators.TextAnalysis.driftWords(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1), "text", 20)
      },
      Some(s"""WITH $wordsCteSql,
              |a AS (SELECT word, CAST(count(*) AS BIGINT) AS cnt_a FROM words WHERE doc_id % 2 = 0 GROUP BY word),
              |b AS (SELECT word, CAST(count(*) AS BIGINT) AS cnt_b FROM words WHERE doc_id % 2 = 1 GROUP BY word),
              |ta AS (SELECT CAST(SUM(cnt_a) AS DOUBLE) AS tot_a FROM a),
              |tb AS (SELECT CAST(SUM(cnt_b) AS DOUBLE) AS tot_b FROM b),
              |j AS (SELECT COALESCE(a.word, b.word) AS word,
              |    COALESCE(cnt_a, CAST(0 AS BIGINT)) AS cnt_a,
              |    COALESCE(cnt_b, CAST(0 AS BIGINT)) AS cnt_b
              |  FROM a FULL OUTER JOIN b ON a.word = b.word),
              |p AS (SELECT word, cnt_a, cnt_b,
              |    CAST(cnt_a AS DOUBLE) / tot_a AS pa, CAST(cnt_b AS DOUBLE) / tot_b AS pb
              |  FROM j, ta, tb)
              |SELECT word, cnt_a, cnt_b, ROUND(pa, 6) AS p_a, ROUND(pb, 6) AS p_b,
              |  ROUND(CASE WHEN pa > 0 THEN pa * ln(pa / ((pa + pb) / 2)) / ln(2) / 2 ELSE CAST(0 AS DOUBLE) END +
              |        CASE WHEN pb > 0 THEN pb * ln(pb / ((pa + pb) / 2)) / ln(2) / 2 ELSE CAST(0 AS DOUBLE) END, 6) AS jsd_contrib
              |FROM p ORDER BY jsd_contrib DESC, word LIMIT 20""".stripMargin)),

    Q("ev_salted_agg",
      // skew-safe two-phase aggregation; oracle is the direct GROUP BY —
      // the salted plan must be algebraically identical
      (s, d) => Analytics.saltedSum(Tables.events(s, d), "user_id", "value", salts = 8),
      Some("""SELECT user_id, CAST(count(*) AS BIGINT) AS cnt, ROUND(SUM(value), 6) AS sum_value
             |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),

    Q("st2_stream_hourly",
      // Structured-streaming execution of the hourly-window aggregation;
      // the oracle is the BATCH answer — stream/batch equivalence is the
      // correctness contract.
      (s, d) => graft.streaming.Streams.runToCompletion(s, d),
      Some("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
             |  event_type, CAST(count(*) AS BIGINT) AS cnt, ROUND(SUM(value), 6) AS sum_value
             |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin)),

    Q("st8_late_data",
      // watermark late-data drop + append-mode finalization, oracle-gated:
      // batch split at min(ts)+20d, early events replayed late; the oracle
      // recomputes both watermarks and applies the same drop/emit
      // predicates (window_end vs watermark) in SQL
      (s, d) => graft.streaming.Streams.runLateDataToCompletion(s, d)
        .orderBy("window_start", "event_type"),
      Some("""WITH ev AS (SELECT event_type, CAST(ts AS TIMESTAMP) AS t FROM events),
             |mn AS (SELECT MIN(t) AS m FROM ev),
             |b1 AS (SELECT ev.* FROM ev, mn WHERE t < m + INTERVAL 20 DAY),
             |wm1 AS (SELECT MAX(t) - INTERVAL 2 HOUR AS w FROM b1),
             |wmf AS (SELECT MAX(t) - INTERVAL 2 HOUR AS w FROM ev),
             |arrivals AS (
             |  SELECT event_type, t FROM ev
             |  UNION ALL
             |  SELECT event_type, t FROM b1, wm1
             |  WHERE date_trunc('hour', t) + INTERVAL 1 HOUR > w),
             |agg AS (SELECT date_trunc('hour', t) AS ws, event_type,
             |    CAST(count(*) AS BIGINT) AS cnt
             |  FROM arrivals GROUP BY 1, 2)
             |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start, event_type, cnt
             |FROM agg, wmf WHERE ws + INTERVAL 1 HOUR <= w
             |ORDER BY window_start, event_type""".stripMargin)),

    Q("st4_stream_join",
      // stream-stream interval join (watermarks on both sides bound the
      // join state); oracle = the equivalent batch interval join
      (s, d) => graft.streaming.Streams.runStreamJoinToCompletion(s, d)
        .orderBy("user_id"),
      Some("""WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events WHERE event_type = 'error'),
             |p AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events WHERE event_type = 'purchase')
             |SELECT e.user_id, CAST(count(*) AS BIGINT) AS n_pairs
             |FROM e JOIN p ON e.user_id = p.user_id
             |  AND p.us <= e.us AND p.us >= e.us - 3600000000
             |GROUP BY e.user_id ORDER BY e.user_id""".stripMargin)),

    Q("st9_stream_outer_join",
      // stream-stream LEFT OUTER interval join: unmatched errors emit
      // null-extended only after the global watermark proves no future
      // match can arrive. Finalization rule (measured, pinned by the
      // StreamsSpec batch-equivalence test): with the directory as one
      // batch, outer rows emit iff e_ts < min(max e_ts, max p_ts) - 2h;
      // the oracle replays exactly that rule
      (s, d) => graft.streaming.Streams.runStreamOuterJoinToCompletion(s, d)
        .orderBy("user_id"),
      Some("""WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events WHERE event_type = 'error'),
             |p AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events WHERE event_type = 'purchase'),
             |wm AS (SELECT LEAST((SELECT max(us) FROM e), (SELECT max(us) FROM p)) - 7200000000 AS cut),
             |lj AS (SELECT e.user_id, e.us AS e_us, p.us AS p_us
             |  FROM e LEFT JOIN p ON e.user_id = p.user_id
             |    AND p.us <= e.us AND p.us >= e.us - 3600000000)
             |SELECT user_id,
             |  CAST(count(p_us) AS BIGINT) AS n_pairs,
             |  CAST(SUM(CASE WHEN p_us IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unmatched
             |FROM lj, wm
             |WHERE p_us IS NOT NULL OR e_us < cut
             |GROUP BY user_id ORDER BY user_id""".stripMargin)),

    Q("st10_dedup_ingest",
      // streaming near-dup-deduplicated corpus ingest: documents arrive
      // in two file micro-batches (even doc_ids then odd), each batch is
      // MinHash-probed against the accepted snapshot (band-key joins
      // only), dropped on a verified match, self-deduped within the
      // batch, and appended via the crash-safe snapshot swap. The FINAL
      // SNAPSHOT is the oracle surface: batch-1 components + batch-2
      // probe-then-components replayed in SQL (two prefixed chain
      // instances + the probe chain, both recursive CTEs in one WITH)
      (s, d) => graft.streaming.Streams.runDedupIngestToCompletion(s, d),
      Some(Sentiment.oracleCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
        minhashChainCtes(32, 8,
          "SELECT doc_id AS id, tokens FROM toks WHERE doc_id % 2 = 0",
          pfx = "b1_") +
        mhPairsCte(0.5, "b1_") + mhReachCtes("b1_") +
        """,
          |b1canon AS (SELECT id, LEAST(id, MIN(r)) AS canonical FROM b1_reach GROUP BY id),
          |b1k AS (SELECT doc_id FROM toks WHERE doc_id % 2 = 0
          |  AND doc_id NOT IN (SELECT id FROM b1canon WHERE id <> canonical))""".stripMargin +
        minhashProbeOracleCtes(32, 8,
          corpusArm = "SELECT doc_id AS id, FALSE AS p, tokens FROM toks WHERE doc_id IN (SELECT doc_id FROM b1k)",
          probeArm = "SELECT doc_id AS id, TRUE AS p, tokens FROM toks WHERE doc_id % 2 = 1") +
        """,
          |b2fresh AS (SELECT doc_id FROM toks WHERE doc_id % 2 = 1
          |  AND doc_id NOT IN (SELECT probe_id FROM mp_j
          |    WHERE CAST(inter AS DOUBLE) / CAST(sz_p + sz_c - inter AS DOUBLE) > CAST(0.5 AS DOUBLE)))""".stripMargin +
        minhashChainCtes(32, 8,
          "SELECT doc_id AS id, tokens FROM toks WHERE doc_id IN (SELECT doc_id FROM b2fresh)",
          pfx = "b2_") +
        mhPairsCte(0.5, "b2_") + mhReachCtes("b2_") +
        """,
          |b2canon AS (SELECT id, LEAST(id, MIN(r)) AS canonical FROM b2_reach GROUP BY id),
          |b2k AS (SELECT doc_id FROM b2fresh
          |  WHERE doc_id NOT IN (SELECT id FROM b2canon WHERE id <> canonical))
          |SELECT d.doc_id, d.lang, d.source FROM documents d
          |WHERE d.doc_id IN (SELECT doc_id FROM b1k UNION ALL SELECT doc_id FROM b2k)
          |ORDER BY d.doc_id""".stripMargin)),

    Q("st7_stream_static_join",
      // stream-static enrichment join: streaming fact x broadcast batch
      // dimension — no join state, no stream-side shuffle for the join;
      // oracle = the equivalent batch join + aggregate
      (s, d) => graft.streaming.Streams.runStreamStaticToCompletion(s, d),
      Some("""SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS cnt,
             |  ROUND(SUM(value), 6) AS sum_value
             |FROM events e JOIN customer c ON e.user_id = c.c_custkey
             |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    Q("st3_stream_dedup",
      // streaming dropDuplicates over the events stream unioned with
      // itself (every id arrives twice); oracle = the plain batch counts,
      // so the dedup is what's being proven.
      (s, d) => graft.streaming.Streams.runDedupToCompletion(s, d)
        .orderBy("event_type"),
      Some("""SELECT event_type, CAST(count(*) AS BIGINT) AS cnt
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    Q("st11_dedup_within_wm",
      // bounded-state streaming dedup (dropDuplicatesWithinWatermark — the
      // 100 TB posture; st3's dropDuplicates state never shrinks): 3-file
      // replay harness re-sends every event_id with ts+60d; a key is
      // re-ADMITTED iff its state expired before the replay batch
      // (orig_ts + 2h < max(ts) - 2h) — the oracle replays that eviction
      // predicate in SQL, so the run is oracle-gated, not just
      // stream==batch
      (s, d) => graft.streaming.Streams
        .runDedupWithinWatermarkToCompletion(s, d),
      Some("""WITH m AS (SELECT max(ts) AS mx FROM events)
             |SELECT event_type,
             |  CAST(count(*) + count(*) FILTER (
             |    WHERE ts + INTERVAL 2 HOURS < mx - INTERVAL 2 HOURS) AS BIGINT) AS cnt
             |FROM events, m GROUP BY event_type ORDER BY event_type""".stripMargin)),

    Q("aj_asof_purchase",
      // as-of join (union-tag + window formulation, no theta join) cross-
      // checked against DuckDB's native ASOF JOIN: for every event, the
      // user's most recent purchase at-or-before it.
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"))
        val purchases = Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .select(col("user_id"), unix_micros(col("ts")).as("us"))
        AsOf.asOfJoin(ev, purchases, "user_id", "us", col("us"), "last_purchase_us")
          .orderBy("event_id")
      },
      Some("""WITH ev AS (SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
             |p AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events WHERE event_type = 'purchase')
             |SELECT ev.event_id, ev.user_id, ev.us, p.us AS last_purchase_us
             |FROM ev ASOF LEFT JOIN p ON ev.user_id = p.user_id AND ev.us >= p.us
             |ORDER BY event_id""".stripMargin)),

    Q("aj_interp_join",
      // interpolating as-of join: per click, the user's purchase value
      // linearly interpolated between the surrounding purchases — same
      // union-tag one-shuffle shape as aj_asof_purchase plus a mirrored
      // forward window; the oracle replays the identical two-window plan
      (s, d) => {
        val clicks = Tables.events(s, d)
          .filter(col("event_type") === "click")
          .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"))
        val purchases = Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .select(col("user_id"), unix_micros(col("ts")).as("us"), col("value"))
        AsOf.interpJoin(clicks, purchases, "user_id", "us", "value",
          "interp_value")
          .orderBy("event_id")
      },
      Some("""WITH ev AS (SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
             |  FROM events WHERE event_type = 'click'),
             |p AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
             |    CAST("value" AS DOUBLE) AS rv
             |  FROM events WHERE event_type = 'purchase'),
             |u AS (
             |  SELECT user_id, us, 1 AS tag, CAST(NULL AS DOUBLE) AS rv, event_id FROM ev
             |  UNION ALL
             |  SELECT user_id, us, 0 AS tag, rv, CAST(NULL AS BIGINT) AS event_id FROM p),
             |w AS (SELECT *,
             |    last_value(rv IGNORE NULLS) OVER back AS pv,
             |    last_value(CASE WHEN tag = 0 AND rv IS NOT NULL THEN us END IGNORE NULLS) OVER back AS pt,
             |    first_value(rv IGNORE NULLS) OVER fwd AS nv,
             |    first_value(CASE WHEN tag = 0 AND rv IS NOT NULL THEN us END IGNORE NULLS) OVER fwd AS nt
             |  FROM u
             |  WINDOW back AS (PARTITION BY user_id ORDER BY us, tag, rv
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             |    fwd AS (PARTITION BY user_id ORDER BY us, tag, rv
             |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
             |SELECT event_id, user_id, us,
             |  ROUND(CASE WHEN pv IS NULL THEN nv
             |             WHEN nv IS NULL OR pt = us THEN pv
             |             ELSE pv + (nv - pv) * CAST(us - pt AS DOUBLE) / CAST(nt - pt AS DOUBLE)
             |        END, 6) AS interp_value
             |FROM w WHERE tag = 1 ORDER BY event_id""".stripMargin)),

    Q("ev_time_deltas",
      // arrival-process profile: per-user inter-event gaps (lag window on
      // the high-cardinality (user, type) key), summarized per type with
      // exact interpolated p50/p90 — the data behind watermark-delay and
      // session-gap choices
      (s, d) => operators.Analytics.timeDeltas(Tables.events(s, d)),
      Some("""WITH ev AS (SELECT event_type, user_id,
             |    epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
             |lg AS (SELECT event_type, user_id, us,
             |    lag(us) OVER (PARTITION BY user_id, event_type ORDER BY us) AS prev
             |  FROM ev),
             |dl AS (SELECT event_type,
             |    CAST(us - prev AS DOUBLE) / CAST(1000000.0 AS DOUBLE) AS delta_s
             |  FROM lg WHERE prev IS NOT NULL)
             |SELECT event_type,
             |  CAST(count(*) AS BIGINT) AS n_gaps,
             |  ROUND(AVG(delta_s), 6) AS avg_gap_s,
             |  ROUND(quantile_cont(delta_s, CAST(0.5 AS DOUBLE)), 6) AS p50_gap_s,
             |  ROUND(quantile_cont(delta_s, CAST(0.9 AS DOUBLE)), 6) AS p90_gap_s
             |FROM dl GROUP BY event_type ORDER BY event_type""".stripMargin)),

    Q("u7_tombstone_delete",
      // compliance hard-delete audit: customers whose key appears in the
      // deletion list (users with error events, key < 500) are tombstoned;
      // ONE snapshot pass yields per-segment before/deleted/after
      (s, d) => operators.Analytics.tombstoneDelete(
        Tables.customer(s, d),
        Tables.events(s, d).filter(col("event_type") === "error" &&
          col("user_id") < 500).select(col("user_id").as("c_custkey")),
        "c_custkey", "c_mktsegment"),
      Some("""WITH del AS (SELECT DISTINCT user_id AS c_custkey FROM events
             |  WHERE event_type = 'error' AND user_id < 500)
             |SELECT c_mktsegment,
             |  CAST(count(*) AS BIGINT) AS n_before,
             |  CAST(count(del.c_custkey) AS BIGINT) AS n_deleted,
             |  CAST(count(*) - count(del.c_custkey) AS BIGINT) AS n_after
             |FROM customer LEFT JOIN del USING (c_custkey)
             |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    Q("dx_skew_report",
      // join-key pre-flight: cardinality, hottest key and max/mean skew
      // factor for events.user_id — the diagnostic read before choosing
      // plain shuffle vs salting vs an AQE skew hint
      (s, d) => operators.Analytics.skewReport(Tables.events(s, d), "user_id"),
      Some("""WITH c AS (SELECT user_id, CAST(count(*) AS BIGINT) AS cnt
             |  FROM events GROUP BY user_id),
             |hot AS (SELECT CAST(user_id AS VARCHAR) AS hottest_key, cnt AS max_key_rows
             |  FROM c ORDER BY cnt DESC, CAST(user_id AS VARCHAR) DESC LIMIT 1),
             |st AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_rows,
             |    CAST(count(*) AS BIGINT) AS n_keys FROM c)
             |SELECT n_rows, n_keys, max_key_rows, hottest_key,
             |  ROUND(CAST(n_rows AS DOUBLE) / CAST(n_keys AS DOUBLE), 6) AS avg_key_rows,
             |  ROUND(CAST(max_key_rows AS DOUBLE) / (CAST(n_rows AS DOUBLE) / CAST(n_keys AS DOUBLE)), 6) AS skew_factor
             |FROM st, hot""".stripMargin)),

    Q("ts_gap_fill",
      // calendar densification: events restricted to ~3/4 of days (real
      // gaps), then the group × calendar spine zero-fills counts and
      // carries the last observed daily value forward (LOCF)
      (s, d) => operators.Analytics.gapFill(
        Tables.events(s, d).filter(dayofmonth(col("ts")) % 4 =!= 2)),
      Some("""WITH ev AS (SELECT * FROM events
             |  WHERE day(CAST(ts AS TIMESTAMP)) % 4 <> 2),
             |daily AS (SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             |    CAST(count(*) AS BIGINT) AS cnt, ROUND(SUM("value"), 6) AS day_value
             |  FROM ev GROUP BY 1, 2),
             |b AS (SELECT min(CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS d0,
             |    max(CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS d1 FROM ev),
             |sp AS (SELECT event_type, CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
             |      CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
             |  FROM (SELECT DISTINCT event_type FROM daily), b),
             |j AS (SELECT sp.event_type, sp.day, daily.cnt, daily.day_value
             |  FROM sp LEFT JOIN daily USING (event_type, day)),
             |f AS (SELECT event_type, day,
             |    COALESCE(cnt, CAST(0 AS BIGINT)) AS cnt, day_value,
             |    last_value(day_value IGNORE NULLS) OVER (PARTITION BY event_type
             |      ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_locf,
             |    cnt IS NULL AS filled
             |  FROM j)
             |SELECT event_type, strftime(day, '%Y-%m-%d') AS day, cnt, day_value,
             |  value_locf, filled
             |FROM f ORDER BY event_type, day""".stripMargin)),

    Q("ta_oov_rate",
      // out-of-vocabulary rate per source vs the corpus top-1000 vocab
      // (count desc, token tiebreak) — the tokenizer-fertility early alarm
      (s, d) => operators.TextAnalysis.oovRate(
        Tables.documents(s, d), "text", "source", vocabSize = 1000),
      Some(Sentiment.oracleCte +
        """,
          |owc AS (SELECT source, t, CAST(count(*) AS BIGINT) AS cnt
          |  FROM (SELECT source, unnest(tokens) AS t FROM toks) GROUP BY 1, 2),
          |ov AS (SELECT t FROM (
          |    SELECT t, row_number() OVER (ORDER BY SUM(cnt) DESC, t) AS rk
          |    FROM owc GROUP BY t)
          |  WHERE rk <= 1000)
          |SELECT source, CAST(SUM(cnt) AS BIGINT) AS total_tokens,
          |  CAST(SUM(CASE WHEN t NOT IN (SELECT t FROM ov) THEN cnt ELSE 0 END) AS BIGINT) AS oov_tokens,
          |  ROUND(CAST(SUM(CASE WHEN t NOT IN (SELECT t FROM ov) THEN cnt ELSE 0 END) AS DOUBLE)
          |    / CAST(SUM(cnt) AS DOUBLE), 6) AS oov_rate
          |FROM owc GROUP BY source ORDER BY source""".stripMargin)),

    Q("pk_length_buckets",
      // sequence-length planning: power-of-two context buckets with the
      // padding waste a pad-to-bucket batcher would pay; fixed CASE
      // ladder, not float log2 — exact bucket edges on every engine
      (s, d) => operators.TextAnalysis.lengthBuckets(
        Tables.documents(s, d), "text"),
      Some(Sentiment.oracleCte +
        """,
          |lb AS (SELECT CAST(len(tokens) AS BIGINT) AS n,
          |    CASE WHEN len(tokens) <= 16 THEN 16 WHEN len(tokens) <= 32 THEN 32
          |         WHEN len(tokens) <= 64 THEN 64 WHEN len(tokens) <= 128 THEN 128
          |         WHEN len(tokens) <= 256 THEN 256 WHEN len(tokens) <= 512 THEN 512
          |         WHEN len(tokens) <= 1024 THEN 1024 WHEN len(tokens) <= 2048 THEN 2048
          |         ELSE 4096 END AS bucket
          |  FROM toks),
          |lbs AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
          |    CAST(SUM(n) AS BIGINT) AS total_tokens
          |  FROM lb GROUP BY bucket)
          |SELECT bucket, n_docs, total_tokens,
          |  n_docs * bucket AS padded_tokens,
          |  GREATEST(CAST(0.0 AS DOUBLE),
          |    ROUND(CAST(1.0 AS DOUBLE) - CAST(total_tokens AS DOUBLE)
          |      / CAST(n_docs * bucket AS DOUBLE), 6)) AS padding_waste
          |FROM lbs ORDER BY bucket""".stripMargin)),

    Q("ta_source_entropy",
      // per-source lexical diversity: Shannon entropy (nats) of the token
      // distribution + type-token ratio — the feed-health dashboard row
      (s, d) => operators.TextAnalysis.sourceEntropy(
        Tables.documents(s, d), "text", "source"),
      Some(Sentiment.oracleCte +
        """,
          |swc AS (SELECT source, t, CAST(count(*) AS BIGINT) AS cnt
          |  FROM (SELECT source, unnest(tokens) AS t FROM toks) GROUP BY 1, 2),
          |stot AS (SELECT source, CAST(SUM(cnt) AS BIGINT) AS total FROM swc GROUP BY source)
          |SELECT source,
          |  ROUND(SUM(-(CAST(cnt AS DOUBLE) / total) * ln(CAST(cnt AS DOUBLE) / total)), 6) AS entropy_nats,
          |  CAST(count(*) AS BIGINT) AS distinct_tokens,
          |  max(total) AS total_tokens,
          |  ROUND(CAST(count(*) AS DOUBLE) / max(total), 6) AS type_token_ratio
          |FROM swc JOIN stot USING (source)
          |GROUP BY source ORDER BY source""".stripMargin)),

    Q("dc_split_leakage",
      // train/val split-leakage audit: val docs (plus planted disguised
      // train copies — every 23rd train doc, 5-token tail cut, re-keyed)
      // probed against the train corpus with the incremental minhash
      // index; a hit = a val doc the model would silently memorize
      (s, d) => {
        val docs = Tables.documents(s, d).select("doc_id", "text")
        val train = docs.filter(col("doc_id") % 10 < 8)
        val valSet = docs.filter(col("doc_id") % 10 >= 8)
        val planted = train.filter(col("doc_id") % 23 === 0)
          .select((col("doc_id") + 3000000).as("doc_id"),
            concat_ws(" ",
              slice(TextFns.tokens(col("text")), lit(1),
                greatest(size(TextFns.tokens(col("text"))) - 5, lit(4)))).as("text"))
        Dedup.minhashProbePairs(valSet.unionByName(planted), train,
          "text", "doc_id", n = 4, k = 32, bands = 8, minJaccard = 0.5,
          family = Dedup.PortableFamily)
      },
      Some(Sentiment.oracleCte + minhashProbeOracleCtes(k = 32, bands = 8,
        corpusArm = "SELECT doc_id AS id, FALSE AS p, tokens FROM toks WHERE doc_id % 10 < 8",
        probeArm =
          """SELECT doc_id AS id, TRUE AS p, tokens FROM toks WHERE doc_id % 10 >= 8
            |  UNION ALL
            |  SELECT doc_id + 3000000 AS id, TRUE AS p,
            |    list_slice(tokens, 1, greatest(len(tokens) - 5, 4)) AS tokens
            |  FROM toks WHERE doc_id % 10 < 8 AND doc_id % 23 = 0""".stripMargin) +
        """
          |SELECT probe_id, corpus_id,
          |  ROUND(CAST(inter AS DOUBLE) / CAST(sz_p + sz_c - inter AS DOUBLE), 6) AS jaccard
          |FROM mp_j
          |WHERE CAST(inter AS DOUBLE) / CAST(sz_p + sz_c - inter AS DOUBLE) > CAST(0.5 AS DOUBLE)
          |ORDER BY probe_id, corpus_id""".stripMargin)),

    Q("ev_ewma_chart",
      // EWMA control chart per (event_type, day), decay pinned at 1/2 so
      // every weight is an exact dyadic rational (no libm pow drift);
      // closed-form weighted prefix sum in the shared ascending fold order
      (s, d) => operators.Analytics.ewmaChart(Tables.events(s, d)),
      Some("""WITH daily AS (SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             |    CAST(count(*) AS BIGINT) AS cnt FROM events GROUP BY 1, 2),
             |pf AS (SELECT event_type, day, cnt,
             |    list(CAST(cnt AS DOUBLE)) OVER (PARTITION BY event_type ORDER BY day
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS xs
             |  FROM daily),
             |ew AS (SELECT event_type, day, cnt,
             |    ROUND(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             |      list_transform(range(1, len(xs) + 1), j ->
             |        CASE WHEN j = 1 THEN pow(CAST(0.5 AS DOUBLE), CAST(len(xs) - 1 AS DOUBLE))
             |             ELSE pow(CAST(0.5 AS DOUBLE), CAST(len(xs) - j + 1 AS DOUBLE)) END
             |        * xs[CAST(j AS INT)])),
             |      (x, y) -> x + y), 6) AS ewma
             |  FROM pf),
             |fin AS (SELECT event_type, day, cnt, ewma,
             |    ROUND((CAST(cnt AS DOUBLE) - ewma) / ewma, 6) AS rel_dev
             |  FROM ew)
             |SELECT event_type, strftime(day, '%Y-%m-%d') AS day, cnt, ewma, rel_dev,
             |  abs(rel_dev) > CAST(0.2 AS DOUBLE) AS is_alert
             |FROM fin ORDER BY event_type, day""".stripMargin)),

    Q("ta_ctfidf_labels",
      // BERTopic-style c-TF-IDF labels: top-5 terms per source scored
      // tf_in_class * ln(1 + avg_class_tokens / corpus_freq); ROUND(6)
      // before the per-class rank, term tiebreak
      (s, d) => operators.TextAnalysis.ctfidfLabels(
        Tables.documents(s, d), "text", "source", k = 5),
      Some(Sentiment.oracleCte +
        """,
          |cwc AS (SELECT source, t, CAST(count(*) AS BIGINT) AS cnt
          |  FROM (SELECT source, unnest(tokens) AS t FROM toks) GROUP BY 1, 2),
          |cft AS (SELECT t, CAST(SUM(cnt) AS BIGINT) AS f FROM cwc GROUP BY t),
          |ca AS (SELECT CAST(SUM(cnt) AS DOUBLE) / CAST(count(DISTINCT source) AS DOUBLE) AS act FROM cwc),
          |csc AS (SELECT source, t, cnt,
          |    ROUND(CAST(cnt AS DOUBLE) * ln(CAST(1.0 AS DOUBLE) + act / CAST(f AS DOUBLE)), 6) AS score
          |  FROM cwc JOIN cft USING (t), ca),
          |crk AS (SELECT source, t, cnt, score,
          |    row_number() OVER (PARTITION BY source ORDER BY score DESC, t) AS rank
          |  FROM csc)
          |SELECT source, CAST(rank AS INT) AS rank, t AS term, cnt, score
          |FROM crk WHERE rank <= 5 ORDER BY source, rank""".stripMargin)),

    Q("qt_quantiles",
      // exact interpolated percentiles (oracled vs quantile_cont); the
      // approx_percentile sketch twins are engine-specific and
      // bounds-checked in AnalyticsSpec (same split as ad_distinct_counts)
      (s, d) => Analytics.quantiles(Tables.lineitem(s, d), "l_returnflag",
          "l_extendedprice", Seq(0.25, 0.5, 0.75, 0.9, 0.99))
        .select("l_returnflag", "p25", "p50", "p75", "p90", "p99"),
      Some("""SELECT l_returnflag,
             |  ROUND(quantile_cont(l_extendedprice, CAST(0.25 AS DOUBLE)), 6) AS p25,
             |  ROUND(quantile_cont(l_extendedprice, CAST(0.5 AS DOUBLE)), 6) AS p50,
             |  ROUND(quantile_cont(l_extendedprice, CAST(0.75 AS DOUBLE)), 6) AS p75,
             |  ROUND(quantile_cont(l_extendedprice, CAST(0.9 AS DOUBLE)), 6) AS p90,
             |  ROUND(quantile_cont(l_extendedprice, CAST(0.99 AS DOUBLE)), 6) AS p99
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    Q("h5_regional_revenue",
      // TPC-H Q5 shape: two big shuffled joins (orders⋈lineitem⋈customer)
      // plus broadcast dims (supplier at this SF, nation, region); the
      // local-supplier condition c_nationkey = s_nationkey rides the
      // supplier join.
      (s, d) => {
        val j = Tables.customer(s, d)
          .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"))
          .join(Tables.lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(Tables.supplier(s, d)),
            col("l_suppkey") === col("s_suppkey") &&
              col("c_nationkey") === col("s_nationkey"))
          .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
          .filter(col("r_name") === "ASIA" &&
            col("o_orderdate") >= lit("1996-01-01") &&
            col("o_orderdate") < lit("1998-01-01"))
        j.groupBy("n_name")
          .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
            count(lit(1)).as("n_items"))
          .orderBy("n_name")
      },
      Some("""SELECT n_name,
             |  ROUND(SUM(l_extendedprice * (CAST(1.0 AS DOUBLE) - l_discount)), 2) AS revenue,
             |  CAST(count(*) AS BIGINT) AS n_items
             |FROM customer
             |JOIN orders ON c_custkey = o_custkey
             |JOIN lineitem ON l_orderkey = o_orderkey
             |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
             |JOIN nation ON s_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |WHERE r_name = 'ASIA' AND o_orderdate >= '1996-01-01' AND o_orderdate < '1998-01-01'
             |GROUP BY n_name ORDER BY n_name""".stripMargin)),

    Q("a13_moving_avg",
      // 7-day trailing moving average over the daily trend frame — window
      // frame (rowsBetween) over an already-aggregated O(days) input
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .orderBy("date").rowsBetween(-6, 0)
        trendsOf(s, d)
          .withColumn("ma7_total", round(avg(col("total")).over(w), 6))
          .withColumn("ma7_neg_ratio",
            round(avg(col("negative").cast("double") / col("total")).over(w), 6))
          .select("date", "total", "ma7_total", "ma7_neg_ratio")
          .orderBy("date")
      },
      Some(s"""WITH $trendsCteSql
              |SELECT date, total,
              |  ROUND(AVG(CAST(total AS DOUBLE)) OVER w, 6) AS ma7_total,
              |  ROUND(AVG(CAST(negative AS DOUBLE) / CAST(total AS DOUBLE)) OVER w, 6) AS ma7_neg_ratio
              |FROM trends
              |WINDOW w AS (ORDER BY date ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
              |ORDER BY date""".stripMargin)),

    Q("a14_range_frame",
      // time-based RANGE window frame: the trailing-7-day average keyed on
      // the actual day distance, not row position. The input is gapped
      // deliberately (every 3rd day dropped) so RANGE and ROWS frames
      // genuinely diverge — a ROWS frame would silently average over more
      // than 7 calendar days across the gaps.
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .orderBy("day_num").rangeBetween(-6, 0)
        trendsOf(s, d)
          .withColumn("day_num", datediff(to_date(col("date")), lit("1970-01-01")))
          .filter(col("day_num") % 3 =!= 0)
          .withColumn("r7_total", round(avg(col("total")).over(w), 6))
          .select("date", "total", "r7_total")
          .orderBy("date")
      },
      Some(s"""WITH $trendsCteSql,
              |g AS (
              |  SELECT date, total, date_diff('day', DATE '1970-01-01', CAST(date AS DATE)) AS day_num
              |  FROM trends)
              |SELECT date, total,
              |  ROUND(AVG(CAST(total AS DOUBLE)) OVER
              |    (ORDER BY day_num RANGE BETWEEN 6 PRECEDING AND CURRENT ROW), 6) AS r7_total
              |FROM g WHERE day_num % 3 <> 0
              |ORDER BY date""".stripMargin)),

    Q("a4b_pivot_trends",
      // the same A4 semantics via the pivot() relational operator (fixed
      // pivot values -> no extra distinct-values job; one shuffle)
      (s, d) => Tables.events(s, d)
        .withColumn("date", date_format(col("ts"), "yyyy-MM-dd"))
        .groupBy("date")
        .pivot("event_type", Seq("click", "view", "signup", "purchase", "error"))
        .count().na.fill(0L)
        .orderBy("date"),
      Some("""SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS date,
             |  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
             |  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view,
             |  CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
             |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
             |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error
             |FROM events GROUP BY 1 ORDER BY date""".stripMargin)),

    Q("u3_set_ops",
      // native EXCEPT / INTERSECT surface (SURVEY §2.6: free in Spark):
      // sources present in short docs but absent from long docs, plus the
      // intersection size as a second column block
      (s, d) => {
        val docs = Tables.documents(s, d)
        val short = docs.filter(col("n_chars") < 250).select("source")
        val long = docs.filter(col("n_chars") >= 250).select("source")
        val exceptOnly = short.except(long).withColumn("op", lit("except"))
        val intersectBoth = short.intersect(long).withColumn("op", lit("intersect"))
        exceptOnly.unionByName(intersectBoth).orderBy("op", "source")
      },
      Some("""WITH s AS (SELECT source FROM documents WHERE n_chars < 250),
             |l AS (SELECT source FROM documents WHERE n_chars >= 250),
             |e AS (SELECT source, 'except' AS op FROM (SELECT source FROM s EXCEPT SELECT source FROM l)),
             |i AS (SELECT source, 'intersect' AS op FROM (SELECT source FROM s INTERSECT SELECT source FROM l))
             |SELECT source, op FROM e UNION ALL SELECT source, op FROM i
             |ORDER BY op, source""".stripMargin)),

    Q("o7_ntile_deciles",
      // ntile + percent_rank WITHOUT the unpartitioned window (which
      // plans a single-task WindowExec over the whole corpus): rank rows
      // with the distributed two-phase global rank, then both ranking
      // functions are pure arithmetic over (rank, n). Bucket sizing
      // matches SQL ntile exactly: first n%10 buckets get one extra row.
      (s, d) => {
        val ranked = Analytics.withGlobalRank(scoredDocs(s, d), "original_score",
          Seq(col("original_score"), col("doc_id")), "rank")
        ranked.select(col("doc_id"), col("original_score"),
          expr("CAST(CASE WHEN rank <= (__n % 10) * (__n DIV 10 + 1) " +
            "THEN (rank - 1) DIV (__n DIV 10 + 1) + 1 " +
            "ELSE (__n % 10) + (rank - 1 - (__n % 10) * (__n DIV 10 + 1)) DIV (__n DIV 10) + 1 " +
            "END AS INT)").as("decile"),
          round(when(col("__n") === 1, lit(0.0))
            .otherwise((col("rank") - 1).cast("double") /
              (col("__n") - 1).cast("double")), 6).as("pct_rank"))
          .orderBy("doc_id")
      },
      Some(Sentiment.oracleCte +
        """ SELECT doc_id, original_score,
          |   CAST(ntile(10) OVER w AS INT) AS decile,
          |   ROUND(percent_rank() OVER w, 6) AS pct_rank
          | FROM scored
          | WINDOW w AS (ORDER BY original_score, doc_id)
          | ORDER BY doc_id""".stripMargin)),

    Q("ag_rollup",
      // ROLLUP grouping sets: per (event_type, day), per event_type, and
      // grand total in one pass; NULL ordering pinned on both sides
      (s, d) => Tables.events(s, d)
        .withColumn("date", date_format(col("ts"), "yyyy-MM-dd"))
        .rollup("event_type", "date")
        .agg(count(lit(1)).as("cnt"))
        .orderBy(asc_nulls_first("event_type"), asc_nulls_first("date")),
      Some("""SELECT event_type, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS date,
             |  CAST(count(*) AS BIGINT) AS cnt
             |FROM events GROUP BY ROLLUP(event_type, date)
             |ORDER BY event_type NULLS FIRST, date NULLS FIRST""".stripMargin)),

    Q("ag_cube",
      // CUBE grouping sets: all four (returnflag x linestatus) slices in
      // one pass — same single-shuffle grouping-set expansion as ROLLUP
      (s, d) => Tables.lineitem(s, d)
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"),
          round(sum(col("l_extendedprice")), 6).as("sum_price"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus")),
      Some("""SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS cnt,
             |  ROUND(SUM(l_extendedprice), 6) AS sum_price
             |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
             |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)),

    Q("st5_sliding_windows",
      // sliding (hopping) event-time windows: 2-hour duration, 1-hour
      // slide — every event lands in exactly two windows; the oracle
      // expands the membership explicitly (unnest over the two offsets)
      (s, d) => Tables.events(s, d)
        .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 6).as("sum_value"))
        .select(
          date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
          col("event_type"), col("cnt"), col("sum_value"))
        .orderBy("window_start", "event_type"),
      Some("""WITH x AS (
             |  SELECT strftime(make_timestamp(
             |      epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP))) - k * 3600000000),
             |      '%Y-%m-%d %H:%M:%S') AS window_start,
             |    event_type, value
             |  FROM events, (SELECT unnest([0, 1]) AS k) ks)
             |SELECT window_start, event_type, CAST(count(*) AS BIGINT) AS cnt,
             |  ROUND(SUM(value), 6) AS sum_value
             |FROM x GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin)),

    Q("rj_interval_join",
      // bucketed range join (no equi key): purchases falling inside the 20
      // busiest error hours' [-30min, +90min] incident windows. The equi
      // key is manufactured by 15-minute bucketing (RangeJoin) — a naive
      // BETWEEN join would plan a broadcast nested loop.
      (s, d) => {
        val hourUs = 3600000000L
        val ev = Tables.events(s, d)
          .select(col("event_type"), unix_micros(col("ts")).as("us"), col("value"))
        val errHours = ev.filter(col("event_type") === "error")
          .groupBy(expr(s"us DIV ${hourUs}L").as("hr"))
          .agg(count(lit(1)).as("cnt"))
        val w = Window.orderBy(col("cnt").desc, col("hr"))
        val intervals = errHours
          .select(col("hr"), row_number().over(w).as("rn"))
          .filter(col("rn") <= 20)
          .select((col("hr") * hourUs - 1800000000L).as("w_start"),
            (col("hr") * hourUs + 5400000000L).as("w_end"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("us"), col("value"))
        RangeJoin.bucketedIntervalJoin(purchases, intervals,
            "us", "w_start", "w_end", bucketWidth = 900000000L)
          .groupBy("w_start")
          .agg(count(lit(1)).as("n_purchases"), round(sum(col("value")), 6).as("sum_value"))
          .orderBy("w_start")
      },
      Some("""WITH e AS (
             |  SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us, value FROM events),
             |eh AS (
             |  SELECT us // 3600000000 AS hr, CAST(count(*) AS BIGINT) AS cnt
             |  FROM e WHERE event_type = 'error' GROUP BY 1),
             |top AS (
             |  SELECT hr FROM (
             |    SELECT hr, row_number() OVER (ORDER BY cnt DESC, hr) AS rn FROM eh)
             |  WHERE rn <= 20),
             |iv AS (
             |  SELECT hr * 3600000000 - 1800000000 AS w_start,
             |         hr * 3600000000 + 5400000000 AS w_end FROM top),
             |p AS (SELECT us, value FROM e WHERE event_type = 'purchase')
             |SELECT w_start, CAST(count(*) AS BIGINT) AS n_purchases,
             |  ROUND(SUM(value), 6) AS sum_value
             |FROM iv JOIN p ON p.us BETWEEN iv.w_start AND iv.w_end
             |GROUP BY w_start ORDER BY w_start""".stripMargin)),

    Q("ev_salted_join",
      // skew-salted equi join: event_type has 5 values — the canonical
      // hot-key join. The dim side replicates across 8 salts; the result
      // must be row-identical to the plain join (the oracle).
      (s, d) => {
        val spark = s
        import spark.implicits._
        val weights = Seq(("click", 1.0), ("error", -2.0), ("purchase", 10.0),
          ("signup", 5.0), ("view", 0.5)).toDF("event_type", "weight")
        val fact = Tables.events(s, d).select("event_id", "event_type", "value")
        Analytics.saltedJoin(fact, weights, "event_type", col("event_id"), salts = 8)
          .groupBy("event_type")
          .agg(count(lit(1)).as("cnt"),
            round(sum(col("value") * col("weight")), 6).as("weighted_value"))
          .orderBy("event_type")
      },
      Some("""WITH w(event_type, weight) AS (VALUES
             |  ('click', CAST(1.0 AS DOUBLE)), ('error', CAST(-2.0 AS DOUBLE)),
             |  ('purchase', CAST(10.0 AS DOUBLE)), ('signup', CAST(5.0 AS DOUBLE)),
             |  ('view', CAST(0.5 AS DOUBLE)))
             |SELECT e.event_type, CAST(count(*) AS BIGINT) AS cnt,
             |  ROUND(SUM(e.value * w.weight), 6) AS weighted_value
             |FROM events e JOIN w USING (event_type)
             |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin)),

    Q("o8_stratified_sample",
      // deterministic hash-based stratified downsampling (the
      // reproducible sampleBy): en downsampled to 20%, zh to 50%, the
      // rest kept at 80% — a pure narrow filter, no RNG, so the exact
      // same sample falls out of any engine (hence a full DuckDB oracle
      // where seeded-RNG sampleBy could only ever be rows-only)
      (s, d) => TextAnalysis.hashStratifiedSample(
          Tables.documents(s, d), "doc_id", "lang",
          Map("en" -> 0.2, "zh" -> 0.5), defaultFraction = 0.8)
        .groupBy("lang")
        .agg(count(lit(1)).as("cnt"), sum(col("n_chars")).as("sum_chars"))
        .orderBy("lang"),
      Some("""WITH s AS (
             |  SELECT * FROM documents
             |  WHERE ((doc_id % 1000000007) * 2654435761) % 1000 <
             |    CASE WHEN lang = 'en' THEN 200
             |         WHEN lang = 'zh' THEN 500 ELSE 800 END)
             |SELECT lang, CAST(count(*) AS BIGINT) AS cnt,
             |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
             |FROM s GROUP BY lang ORDER BY lang""".stripMargin)),

    Q("f14_json_props",
      // semi-structured surface: parse the events.props JSON column with
      // a declared schema (from_json -> struct, codegen'd JacksonParser;
      // no UDF) and aggregate the extracted field per event type
      (s, d) => Tables.events(s, d)
        .select(col("event_type"),
          from_json(col("props"), lit("k INT")).getField("k").as("k"))
        .groupBy("event_type")
        .agg(count(col("k")).as("n_with_k"),
          sum(col("k")).cast("bigint").as("sum_k"),
          round(avg(col("k")), 6).as("avg_k"))
        .orderBy("event_type"),
      Some("""SELECT event_type,
             |  CAST(count(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT) AS n_with_k,
             |  CAST(SUM(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
             |  ROUND(AVG(CAST(json_extract(props, '$.k') AS INT)), 6) AS avg_k
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    Q("f15_json_corrupt",
      // malformed-input robustness: every 7th event's props JSON is
      // truncated (planted corruption); PERMISSIVE from_json yields null
      // for those, and the per-type report accounts valid vs corrupt
      // rows — the quarantine count a 100 TB ingest must surface, never
      // silently drop. No exceptions anywhere in the plan: parse failure
      // is data, not control flow.
      (s, d) => Tables.events(s, d)
        .withColumn("raw",
          when(col("event_id") % 7 === 0,
            expr("substring(props, 1, length(props) - 1)"))
            .otherwise(col("props")))
        .select(col("event_type"),
          from_json(col("raw"), lit("k INT")).getField("k").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_rows"),
          count(col("k")).as("n_valid"),
          (count(lit(1)) - count(col("k"))).as("n_corrupt"),
          sum(col("k")).cast("bigint").as("sum_k"))
        .orderBy("event_type"),
      Some("""WITH raw AS (SELECT event_type,
             |    CASE WHEN event_id % 7 = 0 THEN substr(props, 1, length(props) - 1)
             |         ELSE props END AS r
             |  FROM events),
             |parsed AS (SELECT event_type,
             |    CASE WHEN json_valid(r) THEN CAST(json_extract(r, '$.k') AS INT) END AS k
             |  FROM raw)
             |SELECT event_type,
             |  CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(count(k) AS BIGINT) AS n_valid,
             |  CAST(count(*) - count(k) AS BIGINT) AS n_corrupt,
             |  CAST(SUM(k) AS BIGINT) AS sum_k
             |FROM parsed GROUP BY event_type ORDER BY event_type""".stripMargin)),

    Q("sql_front_door",
      // the SQL API surface: tables registered as temp views, the query
      // itself pure `spark.sql` text — proving a reference user can bring
      // plain SQL instead of the DataFrame DSL and hit the same engine
      (s, d) => {
        Tables.lineitem(s, d).createOrReplaceTempView("v_lineitem")
        s.sql("""SELECT l_returnflag, l_linestatus,
                |  ROUND(SUM(l_quantity), 2) AS sum_qty,
                |  ROUND(SUM(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
                |  CAST(COUNT(*) AS BIGINT) AS count_order
                |FROM v_lineitem
                |WHERE l_quantity < 50
                |GROUP BY l_returnflag, l_linestatus
                |ORDER BY l_returnflag, l_linestatus""".stripMargin)
      },
      Some("""SELECT l_returnflag, l_linestatus,
             |  ROUND(SUM(l_quantity), 2) AS sum_qty,
             |  ROUND(SUM(l_extendedprice * (CAST(1.0 AS DOUBLE) - l_discount)), 2) AS sum_disc_price,
             |  CAST(COUNT(*) AS BIGINT) AS count_order
             |FROM lineitem
             |WHERE l_quantity < 50
             |GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    Q("st6_stream_sessionize",
      // flatMapGroupsWithState sessionization in the correctness gate:
      // NoTimeout emits exactly the gap-closed sessions, so the oracle is
      // the batch sessionization minus each user's final (still-open)
      // session
      (s, d) => graft.streaming.Streams.runSessionizeToCompletion(s, d)
        .orderBy("user_id", "session_start_us"),
      Some("""WITH e AS (
             |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, value FROM events),
             |g AS (SELECT *, lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev_us FROM e),
             |s AS (SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END AS new_sess FROM g),
             |c AS (SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id FROM s),
             |sess AS (
             |  SELECT user_id, session_id,
             |    CAST(min(us) AS BIGINT) AS session_start_us,
             |    CAST(max(us) AS BIGINT) AS session_end_us,
             |    CAST(count(*) AS BIGINT) AS n_events,
             |    ROUND(SUM(value), 6) AS sum_value
             |  FROM c GROUP BY user_id, session_id)
             |SELECT user_id, session_start_us, session_end_us, n_events, sum_value
             |FROM sess
             |QUALIFY session_id < max(session_id) OVER (PARTITION BY user_id)
             |ORDER BY user_id, session_start_us""".stripMargin)),

    Q("u4_upsert",
      // keyed snapshot upsert (MERGE without a table format): updates
      // replace same-key base rows, new keys append, the rest survive;
      // one anti-join shuffle
      (s, d) => {
        val base = Tables.documents(s, d).select("doc_id", "source", "n_chars")
        val updates = base.filter(col("doc_id") % 7 === 0)
          .select(col("doc_id"), lit("patched").as("source"),
            (col("n_chars") + 1000L).as("n_chars"))
          .unionByName(base.filter(col("doc_id") % 13 === 0)
            .select((col("doc_id") + 10000000L).as("doc_id"),
              lit("appended").as("source"), (col("doc_id") % 500L).as("n_chars")))
        Analytics.upsertByKey(base, updates, "doc_id")
          .groupBy("source")
          .agg(count(lit(1)).as("cnt"), sum(col("n_chars")).as("sum_chars"))
          .orderBy("source")
      },
      Some("""WITH base AS (SELECT doc_id, source, n_chars FROM documents),
             |upd AS (
             |  SELECT doc_id, 'patched' AS source, n_chars + 1000 AS n_chars
             |  FROM base WHERE doc_id % 7 = 0
             |  UNION ALL
             |  SELECT doc_id + 10000000, 'appended', doc_id % 500
             |  FROM base WHERE doc_id % 13 = 0),
             |merged AS (
             |  SELECT * FROM upd
             |  UNION ALL
             |  SELECT * FROM base WHERE doc_id NOT IN (SELECT doc_id FROM upd))
             |SELECT source, CAST(count(*) AS BIGINT) AS cnt,
             |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
             |FROM merged GROUP BY source ORDER BY source""".stripMargin)),

    Q("mm_frame_sample",
      // multimodal frame-sampling plumbing: metadata -> frame index list
      // (sequence + explode, all narrow) -> stub per-frame decode; the
      // index arithmetic and rollup are integer-exact, hence oracled
      (s, d) => Multimodal.frameSampleSummary(Tables.documents(s, d)),
      Some("""WITH v AS (
             |  SELECT doc_id, GREATEST(n_chars * 2 // 5, 1) AS n_frames
             |  FROM documents WHERE doc_id % 3 = 2),
             |f AS (
             |  SELECT doc_id, unnest(range(0, n_frames, 8)) AS frame_idx FROM v)
             |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sampled,
             |  CAST(max(frame_idx) AS BIGINT) AS last_frame,
             |  CAST(SUM((doc_id * 131 + frame_idx * 7919) % 1000000007) AS BIGINT) AS sum_checksum
             |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    Q("mb_pair_lift",
      // market-basket pair mining over (order, brand) baskets: Apriori
      // item prune, pair formation only via the basket-key self-equi-join,
      // broadcast single supports for confidence/lift. The k(k-1)/2
      // hot-basket guard is ENGAGED (maxBasket=20): a no-op on TPC-H
      // orders (≤7 lineitems) but the bound a real basket column needs —
      // the Apriori prune alone does not cap a single pathological basket
      (s, d) => {
        val li = Tables.lineitem(s, d).select("l_orderkey", "l_partkey")
        val p = Tables.part(s, d).select("p_partkey", "p_brand")
        val baskets = li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
        Analytics.pairLift(baskets, "l_orderkey", "p_brand",
          minSupport = 0.01, minPairCount = 5L, maxBasket = 20)
      },
      Some("""WITH ob0 AS (
             |  SELECT DISTINCT l_orderkey, p_brand
             |  FROM lineitem JOIN part ON l_partkey = p_partkey),
             |ob AS (SELECT * FROM ob0 WHERE l_orderkey IN (
             |  SELECT l_orderkey FROM ob0 GROUP BY 1 HAVING count(*) <= 20)),
             |n AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM ob),
             |isup AS (SELECT p_brand, CAST(count(*) AS BIGINT) AS cnt FROM ob GROUP BY 1),
             |freq AS (SELECT p_brand FROM isup, n
             |  WHERE CAST(cnt AS DOUBLE) / n_orders >= CAST(0.01 AS DOUBLE)),
             |obf AS (SELECT * FROM ob WHERE p_brand IN (SELECT p_brand FROM freq)),
             |pairs AS (
             |  SELECT a.p_brand AS item_a, b.p_brand AS item_b, CAST(count(*) AS BIGINT) AS pair_cnt
             |  FROM obf a JOIN obf b ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
             |  GROUP BY 1, 2)
             |SELECT item_a, item_b, pair_cnt,
             |  ROUND(CAST(pair_cnt AS DOUBLE) / n_orders, 6) AS support,
             |  ROUND(CAST(pair_cnt AS DOUBLE) / sa.cnt, 6) AS conf_a_b,
             |  ROUND(CAST(pair_cnt AS DOUBLE) / sb.cnt, 6) AS conf_b_a,
             |  ROUND(CAST(pair_cnt AS DOUBLE) * n_orders / (sa.cnt * sb.cnt), 6) AS lift
             |FROM pairs
             |JOIN isup sa ON item_a = sa.p_brand
             |JOIN isup sb ON item_b = sb.p_brand, n
             |WHERE pair_cnt >= 5
             |ORDER BY item_a, item_b""".stripMargin)),

    Q("mb_dropped_baskets",
      // the observability half of mb_pair_lift's hot-basket guard (the
      // "no silent caps" discipline): the SAME admission predicate,
      // reported instead of silently applied — one row per basket the
      // guard would exclude, largest first. maxBasket=5 here (vs the
      // lift entry's no-op 20) so the guard demonstrably FIRES on this
      // corpus and the alerting shape is exercised end-to-end
      (s, d) => {
        val li = Tables.lineitem(s, d).select("l_orderkey", "l_partkey")
        val p = Tables.part(s, d).select("p_partkey", "p_brand")
        Analytics.pairLiftDropped(
          li.join(broadcast(p), li("l_partkey") === p("p_partkey")),
          "l_orderkey", "p_brand", maxBasket = 5)
      },
      Some("""SELECT l_orderkey AS basket, CAST(count(DISTINCT p_brand) AS BIGINT) AS n_items
             |FROM lineitem JOIN part ON l_partkey = p_partkey
             |GROUP BY 1 HAVING count(DISTINCT p_brand) > 5
             |ORDER BY n_items DESC, basket""".stripMargin)),

    Q("ag_unpivot",
      // melt the daily-trends pivot back to long form — Spark's native
      // unpivot (Expand, one pass, no shuffle beyond the trends agg)
      (s, d) => trendsOf(s, d)
        .unpivot(Array(col("date")),
          Array(col("positive"), col("negative"), col("neutral"), col("total")),
          "metric", "cnt")
        .orderBy("date", "metric"),
      Some(Sentiment.oracleCte + s""", $trendsCteSql
             |SELECT date, metric, CAST(cnt AS BIGINT) AS cnt FROM (
             |  SELECT date, 'positive' AS metric, positive AS cnt FROM trends
             |  UNION ALL SELECT date, 'negative', negative FROM trends
             |  UNION ALL SELECT date, 'neutral', neutral FROM trends
             |  UNION ALL SELECT date, 'total', total FROM trends)
             |ORDER BY date, metric""".stripMargin)),

    Q("fj_fuzzy_names",
      // blocked fuzzy entity resolution on part names: distinct-name
      // aggregate -> blocking-key equi-join (last token) -> edit-distance
      // verify; integer distances, so the oracle is exact
      (s, d) => Dedup.fuzzyNameMatch(Tables.part(s, d), "p_name", maxDist = 3),
      Some("""WITH names AS (
             |  SELECT p_name AS name, CAST(count(*) AS BIGINT) AS cnt FROM part GROUP BY 1),
             |blocked AS (
             |  SELECT *, list_extract(string_split(name, ' '), -1) AS blk FROM names)
             |SELECT a.name AS name_a, b.name AS name_b,
             |  CAST(levenshtein(a.name, b.name) AS INT) AS dist,
             |  a.cnt AS cnt_a, b.cnt AS cnt_b
             |FROM blocked a JOIN blocked b ON a.blk = b.blk AND a.name < b.name
             |  AND abs(length(a.name) - length(b.name)) <= 3
             |  AND levenshtein(a.name, b.name) <= 3
             |ORDER BY name_a, name_b""".stripMargin)),

    Q("sky_pareto",
      // 2-D Pareto frontier (min price, max size) via aggregate-then-
      // running-max with a broadcast bucket carry — the oracle is the
      // quadratic NOT EXISTS dominance definition, fine at sf0.01
      (s, d) => Analytics.paretoFrontier2D(
          Tables.part(s, d), "p_retailprice", "p_size")
        .select("p_partkey", "p_name", "p_size", "p_retailprice")
        .orderBy("p_retailprice", "p_partkey"),
      Some("""SELECT p_partkey, p_name, p_size, p_retailprice FROM part p
             |WHERE NOT EXISTS (SELECT 1 FROM part q
             |  WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
             |    AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
             |ORDER BY p_retailprice, p_partkey""".stripMargin)),

    Q("dd_sorted_neighborhood",
      // sorted-neighborhood near-dup pairs: prefix sort key, global rank
      // via range buckets + broadcast offsets, rank-adjacent candidates
      // (one equi-join), exact shingle-Jaccard verify
      (s, d) => Dedup.sortedNeighborhoodPairs(Tables.documents(s, d),
        "text", "doc_id", n = 3, window = 3, minJaccard = 0.1),
      Some(Sentiment.oracleCte + s""",
             |sn AS (SELECT doc_id, ${shinglesSql(3)} AS shs,
             |  substr(trim(text), 1, 24) AS sk FROM toks),
             |snr AS (SELECT *, row_number() OVER (ORDER BY sk, doc_id) AS rk FROM sn),
             |snc AS (
             |  SELECT a.doc_id AS da, b.doc_id AS db, a.shs AS sa, b.shs AS sb
             |  FROM snr a JOIN snr b ON b.rk - a.rk BETWEEN 1 AND 3),
             |snj AS (
             |  SELECT LEAST(da, db) AS id_a, GREATEST(da, db) AS id_b,
             |    CAST(len(list_intersect(sa, sb)) AS DOUBLE) /
             |      CAST(len(sa) + len(sb) - len(list_intersect(sa, sb)) AS DOUBLE) AS jac
             |  FROM snc)
             |SELECT id_a, id_b, ROUND(jac, 6) AS jaccard FROM snj
             |WHERE jac > CAST(0.1 AS DOUBLE)
             |ORDER BY id_a, id_b""".stripMargin)),

    Q("ts_ohlc_bars",
      // OHLC candles per (event_type, hour): open/close via min_by/max_by
      // on a (ts, event_id) struct key — one map-side-combinable pass, no
      // per-bucket sort; the oracle's windowed first/last_value picks the
      // same rows because the key is a total order
      (s, d) => operators.Analytics.ohlcBars(Tables.events(s, d)),
      Some("""WITH e AS (SELECT event_type, CAST(ts AS TIMESTAMP) AS t, event_id, value FROM events),
             |b AS (SELECT event_type, date_trunc('hour', t) AS bk, t, event_id, value FROM e),
             |oc AS (SELECT event_type, bk, value,
             |    first_value(value) OVER w AS open,
             |    last_value(value) OVER w AS close
             |  FROM b
             |  WINDOW w AS (PARTITION BY event_type, bk ORDER BY t, event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
             |SELECT event_type, strftime(bk, '%Y-%m-%d %H:00') AS bucket,
             |  max(open) AS open, max(value) AS high, min(value) AS low,
             |  max(close) AS close, CAST(count(*) AS BIGINT) AS volume,
             |  ROUND(SUM(value), 6) AS total
             |FROM oc GROUP BY event_type, bk
             |ORDER BY event_type, bucket""".stripMargin)),

    Q("gov_k_anonymity",
      // k-anonymity audit on customer quasi-identifiers (nation, segment,
      // balance rounded to 1000s): equivalence-class sizes + the
      // re-identification flag — one map-side-combined aggregation over a
      // row-side QI projection, the release gate for a 100 TB corpus
      (s, d) => operators.Analytics.kAnonymity(Tables.customer(s, d), Seq(
          "nation" -> col("c_nationkey"),
          "segment" -> col("c_mktsegment"),
          "bal_bucket" -> floor(col("c_acctbal").cast("double") / lit(1000.0)).cast("long")),
        k = 5),
      Some("""WITH q AS (SELECT c_nationkey AS nation, c_mktsegment AS segment,
             |    CAST(floor(CAST(c_acctbal AS DOUBLE) / CAST(1000 AS DOUBLE)) AS BIGINT) AS bal_bucket
             |  FROM customer)
             |SELECT nation, segment, bal_bucket,
             |  CAST(count(*) AS BIGINT) AS class_size,
             |  count(*) < 5 AS at_risk
             |FROM q GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)),

    Q("gov_l_diversity",
      // l-diversity companion gate to gov_k_anonymity: a k-anonymous
      // class whose members all share one sensitive value still
      // discloses it, so each (nation, balance-bucket) class must carry
      // >= 3 distinct market segments. One aggregation, group-local
      // exact distinct (no global distinct shuffle)
      (s, d) => operators.DataQuality.lDiversity(Tables.customer(s, d), Seq(
          "nation" -> col("c_nationkey"),
          "bal_bucket" -> floor(col("c_acctbal").cast("double") / lit(1000.0)).cast("long")),
        col("c_mktsegment"), l = 3),
      Some("""WITH q AS (SELECT c_nationkey AS nation,
             |    CAST(floor(CAST(c_acctbal AS DOUBLE) / CAST(1000 AS DOUBLE)) AS BIGINT) AS bal_bucket,
             |    c_mktsegment AS s
             |  FROM customer)
             |SELECT nation, bal_bucket,
             |  CAST(count(*) AS BIGINT) AS class_size,
             |  CAST(count(DISTINCT s) AS BIGINT) AS distinct_sensitive,
             |  count(DISTINCT s) < 3 AS at_risk
             |FROM q GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    Q("gov_t_closeness",
      // t-closeness completes the governance quartet (k-anon,
      // l-diversity, DP simulation): per (nation, balance-bucket) class,
      // total variation distance between the class's market-segment
      // distribution and the corpus-wide one — a class can be
      // k-anonymous AND l-diverse yet still leak by segment skew. Two
      // map-side aggregations + a row-local fold against the broadcast
      // global distribution; absent values contribute via the
      // 1 - sum(present global mass) decomposition
      (s, d) => operators.DataQuality.tCloseness(Tables.customer(s, d), Seq(
          "nation" -> col("c_nationkey"),
          "bal_bucket" -> floor(col("c_acctbal").cast("double") / lit(1000.0)).cast("long")),
        col("c_mktsegment"), t = 0.2),
      Some("""WITH q AS (SELECT c_nationkey AS nation,
             |    CAST(floor(CAST(c_acctbal AS DOUBLE) / CAST(1000 AS DOUBLE)) AS BIGINT) AS bal_bucket,
             |    c_mktsegment AS v
             |  FROM customer),
             |cell AS (SELECT nation, bal_bucket, v, CAST(count(*) AS BIGINT) AS cnt
             |  FROM q GROUP BY 1, 2, 3),
             |g AS (SELECT v, CAST(SUM(cnt) AS BIGINT) AS gcnt FROM cell GROUP BY 1),
             |n AS (SELECT CAST(SUM(gcnt) AS DOUBLE) AS nn FROM g),
             |cls AS (SELECT nation, bal_bucket, CAST(SUM(cnt) AS BIGINT) AS class_size
             |  FROM cell GROUP BY 1, 2),
             |tv AS (SELECT cell.nation, cell.bal_bucket, cls.class_size,
             |    ROUND(CAST(0.5 AS DOUBLE) * (
             |      SUM(ABS(CAST(cnt AS DOUBLE) / CAST(class_size AS DOUBLE)
             |        - CAST(gcnt AS DOUBLE) / nn))
             |      + (CAST(1.0 AS DOUBLE) - SUM(CAST(gcnt AS DOUBLE) / nn))), 6) AS tvd
             |  FROM cell
             |  JOIN cls ON cell.nation = cls.nation AND cell.bal_bucket = cls.bal_bucket
             |  JOIN g ON cell.v = g.v, n
             |  GROUP BY 1, 2, 3)
             |SELECT nation, bal_bucket, class_size, tvd,
             |  tvd > CAST(0.2 AS DOUBLE) AS at_risk
             |FROM tv ORDER BY nation, bal_bucket""".stripMargin)),

    Q("gov_dp_release",
      // SIMULATED epsilon-DP count release (Laplace mechanism,
      // sensitivity 1, eps=0.5 -> b=2): per-source doc counts + seeded
      // inverse-CDF Laplace noise (the dsirResample md5-uniform device),
      // released integer floored at 0 with explicit half-up rounding
      // shared with the oracle. The KNOWN seed makes this a replayable
      // simulation of the mechanism's arithmetic (what the oracle
      // certifies), NOT a private release — see simulatedDpCounts's
      // privacy caveat; production swaps in a secret/non-replayable seed
      (s, d) => operators.DataQuality.simulatedDpCounts(
        Tables.documents(s, d), "source", epsilon = 0.5, seed = "dp:"),
      Some("""WITH g AS (SELECT source, CAST(count(*) AS BIGINT) AS true_count
          |  FROM documents GROUP BY 1),
          |u AS (SELECT source, true_count,
          |    (CAST(CAST('0x' || substr(md5('dp:' || source), 1, 15) AS BIGINT) AS DOUBLE)
          |      + CAST(0.5 AS DOUBLE)) / CAST(1152921504606846976.0 AS DOUBLE) AS uu
          |  FROM g),
          |n AS (SELECT source, true_count,
          |    ROUND(-CAST(2.0 AS DOUBLE) * CAST(sign(uu - CAST(0.5 AS DOUBLE)) AS DOUBLE)
          |      * ln(CAST(1.0 AS DOUBLE) - CAST(2.0 AS DOUBLE) * abs(uu - CAST(0.5 AS DOUBLE))), 6) AS noise
          |  FROM u)
          |SELECT source, true_count, noise,
          |  GREATEST(CAST(0 AS BIGINT),
          |    CAST(floor(CAST(true_count AS DOUBLE) + noise + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS released
          |FROM n ORDER BY source""".stripMargin)),

    Q("aug_token_dropout",
      // seeded token-dropout augmentation (EDA random deletion, Wei &
      // Zou 2019): token i of doc d dropped iff md5-uniform(seed, d, i)
      // < 0.1 — a pure function of (seed, id, position), so variants are
      // reproducible and oracle-replayable. Entirely row-local: the
      // index-aware filter compiles to Catalyst ArrayFilter inside the
      // scan projection, no shuffle, no UDF
      (s, d) => TextAnalysis.tokenDropout(
        Tables.documents(s, d), "text", "doc_id", p = 0.1),
      Some(Sentiment.oracleCte +
        """,
          |ad AS (SELECT doc_id, tokens,
          |    list_filter(tokens, (x, i) ->
          |      (CAST(CAST('0x' || substr(md5('aug:' || CAST(doc_id AS VARCHAR) || ':' || CAST(i - 1 AS VARCHAR)), 1, 15) AS BIGINT) AS DOUBLE)
          |        + CAST(0.5 AS DOUBLE)) / CAST(1152921504606846976.0 AS DOUBLE)
          |        >= CAST(0.1 AS DOUBLE)) AS kept
          |  FROM toks)
          |SELECT doc_id, CAST(len(tokens) AS BIGINT) AS n_tokens,
          |  CAST(len(tokens) - len(kept) AS BIGINT) AS n_dropped,
          |  array_to_string(kept, ' ') AS aug_text
          |FROM ad ORDER BY doc_id""".stripMargin)),

    Q("dq_expectations",
      // Declarative data-contract validation (the Deequ shape, Schelter
      // et al. VLDB 2018): the full 8-check suite over `documents` in
      // ONE map-side-combined aggregation pass, pivoted plan-side to the
      // (metric, value, op, threshold, passed) report — the gate a
      // training run reads before it reads the corpus. Thresholds chosen
      // so the report carries BOTH passing and failing rows (max(n_chars)
      // <= 500 fails on the synthetic corpus): the gate proves failures
      // surface as data, not exceptions
      (s, d) => operators.DataQuality.validate(Tables.documents(s, d), Seq(
        operators.DataQuality.completeness("text", 1.0),
        operators.DataQuality.completeness("lang", 1.0),
        operators.DataQuality.uniqueness("doc_id", 1.0),
        operators.DataQuality.matchRate("lang", "^[a-z]{2}$", 0.95),
        operators.DataQuality.minOf("n_chars", 1.0),
        operators.DataQuality.maxOf("n_chars", 500.0),
        operators.DataQuality.meanOf("n_chars", ">=", 50.0),
        operators.DataQuality.rowCountAtLeast(100L))),
      Some("""WITH m AS (SELECT
             |  ROUND(AVG(CASE WHEN text IS NOT NULL THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END), 6) AS c_text,
             |  ROUND(AVG(CASE WHEN lang IS NOT NULL THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END), 6) AS c_lang,
             |  ROUND(CAST(count(DISTINCT doc_id) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS u_id,
             |  ROUND(AVG(CASE WHEN lang IS NULL THEN NULL WHEN regexp_matches(lang, '^[a-z]{2}$') THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END), 6) AS mr_lang,
             |  ROUND(CAST(min(n_chars) AS DOUBLE), 6) AS mn,
             |  ROUND(CAST(max(n_chars) AS DOUBLE), 6) AS mx,
             |  ROUND(AVG(CAST(n_chars AS DOUBLE)), 6) AS mean_nc,
             |  ROUND(CAST(count(*) AS DOUBLE), 6) AS rc
             |FROM documents)
             |SELECT * FROM (
             |  SELECT 'completeness(lang)' AS metric, c_lang AS value, '>=' AS op, CAST(1.0 AS DOUBLE) AS threshold, c_lang >= CAST(1.0 AS DOUBLE) AS passed FROM m
             |  UNION ALL SELECT 'completeness(text)', c_text, '>=', CAST(1.0 AS DOUBLE), c_text >= CAST(1.0 AS DOUBLE) FROM m
             |  UNION ALL SELECT 'match_rate(lang)', mr_lang, '>=', CAST(0.95 AS DOUBLE), mr_lang >= CAST(0.95 AS DOUBLE) FROM m
             |  UNION ALL SELECT 'max(n_chars)', mx, '<=', CAST(500.0 AS DOUBLE), mx <= CAST(500.0 AS DOUBLE) FROM m
             |  UNION ALL SELECT 'mean(n_chars)', mean_nc, '>=', CAST(50.0 AS DOUBLE), mean_nc >= CAST(50.0 AS DOUBLE) FROM m
             |  UNION ALL SELECT 'min(n_chars)', mn, '>=', CAST(1.0 AS DOUBLE), mn >= CAST(1.0 AS DOUBLE) FROM m
             |  UNION ALL SELECT 'row_count', rc, '>=', CAST(100.0 AS DOUBLE), rc >= CAST(100.0 AS DOUBLE) FROM m
             |  UNION ALL SELECT 'uniqueness(doc_id)', u_id, '>=', CAST(1.0 AS DOUBLE), u_id >= CAST(1.0 AS DOUBLE) FROM m
             |) ORDER BY metric""".stripMargin)),

    Q("dq_snapshot_diff",
      // corpus-versioning report between two builds: per source, rows
      // added / removed / changed / unchanged. The simulated prior drops
      // every 17th doc (-> added), staling-suffixes every 13th (->
      // changed), and carries 29th-doc ghosts absent from the current
      // build (-> removed). Content compares by scan-side md5 digest —
      // the full-outer join shuffles (id, source, hash) only, text never
      // moves; the oracle compares text directly, so a hash match also
      // certifies digest-compare == content-compare on this corpus
      (s, d) => {
        val docs = Tables.documents(s, d).select("doc_id", "source", "text")
        val base = docs.filter(col("doc_id") % 17 =!= 0)
          .select(col("doc_id"), col("source"),
            when(col("doc_id") % 13 === 0, concat(col("text"), lit(" [stale]")))
              .otherwise(col("text")).as("text"))
          .unionByName(docs.filter(col("doc_id") % 29 === 0)
            .select((col("doc_id") + 3000000).as("doc_id"), col("source"),
              col("text")))
        operators.DataQuality.snapshotDiff(base, docs,
          "doc_id", "text", "source")
      },
      Some("""WITH base AS (
          |  SELECT doc_id, source,
          |    CASE WHEN doc_id % 13 = 0 THEN text || ' [stale]' ELSE text END AS text
          |  FROM documents WHERE doc_id % 17 <> 0
          |  UNION ALL
          |  SELECT doc_id + 3000000 AS doc_id, source, text
          |  FROM documents WHERE doc_id % 29 = 0),
          |j AS (
          |  SELECT COALESCE(b.source, c.source) AS source,
          |    CASE WHEN b.doc_id IS NULL THEN 'added'
          |         WHEN c.doc_id IS NULL THEN 'removed'
          |         WHEN b.text <> c.text THEN 'changed'
          |         ELSE 'unchanged' END AS status
          |  FROM base b FULL OUTER JOIN documents c ON b.doc_id = c.doc_id)
          |SELECT source,
          |  CAST(SUM(CASE WHEN status = 'added' THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
          |  CAST(SUM(CASE WHEN status = 'removed' THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
          |  CAST(SUM(CASE WHEN status = 'changed' THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
          |  CAST(SUM(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged
          |FROM j GROUP BY source ORDER BY source""".stripMargin)),

    Q("emb_drift",
      // representation-drift monitor: per-dim mean shift between two
      // snapshots + L1 drift and mean-vector cosine as whole-frame
      // verdicts. The "current" snapshot plants an exactly-representable
      // +0.25 bias on dim 0 (a broken-normalization simulation), so the
      // report must localize the drift to that dim while the cosine
      // stays below 1. Means ROUND(6)-published; the planted bias is a
      // power of two, so the corruption is IEEE-exact on both engines
      (s, d) => {
        val e = Tables.embeddings(s, d).select(col("vec_id"),
          Similarity.toDoubleArray(col("embedding")).as("v"))
        val base = e.filter(col("vec_id") % 2 === 0)
        val cur = e.filter(col("vec_id") % 2 === 1)
          .select(col("vec_id"), transform(col("v"), (x, i) =>
            when(i === 0, x + lit(0.25)).otherwise(x)).as("v"))
        operators.DataQuality.embeddingDrift(base, cur, "v")
      },
      Some(s"""WITH $evecCteSql,
          |dm AS (SELECT CAST(i - 1 AS INT) AS dim,
          |    ROUND(avg(CASE WHEN vec_id % 2 = 0 THEN v[i] END), 6)
          |      + CAST(0.0 AS DOUBLE) AS mean_a,
          |    ROUND(avg(CASE WHEN vec_id % 2 = 1 THEN
          |        v[i] + CASE WHEN i = 1 THEN CAST(0.25 AS DOUBLE)
          |          ELSE CAST(0.0 AS DOUBLE) END END), 6)
          |      + CAST(0.0 AS DOUBLE) AS mean_b
          |  FROM evec, range(1, 65) t(i) GROUP BY 1)
          |SELECT dim, mean_a, mean_b, mean_b - mean_a AS drift,
          |  ROUND(SUM(ABS(mean_b - mean_a)) OVER (), 6) AS l1_drift,
          |  ROUND(SUM(mean_a * mean_b) OVER () /
          |    (SQRT(SUM(mean_a * mean_a) OVER ())
          |      * SQRT(SUM(mean_b * mean_b) OVER ())), 6)
          |    + CAST(0.0 AS DOUBLE) AS cos_shift
          |FROM dm ORDER BY dim""".stripMargin)),

    Q("dq_psi_drift",
      // Population Stability Index between two deterministic corpus
      // halves (even/odd doc_id) over n_chars: baseline deciles as
      // ROUND(6)-published edges (the ml_ece discipline), per-bin rates,
      // floored-log PSI terms + total — the standard drift gate between
      // corpus snapshots. Edge probe = one O(bins)-scalar aggregation;
      // each window is one narrow bucket projection + counted
      (s, d) => {
        val docs = Tables.documents(s, d)
        operators.DataQuality.psiDrift(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1),
          "n_chars", bins = 10)
      },
      Some {
        val edges = (1 to 9)
          .map(i => s"ROUND(quantile_cont(v, CAST(0.$i AS DOUBLE)), 6) AS e$i")
          .mkString(", ")
        val bucket = (1 to 9)
          .map(i => s"(CASE WHEN v >= e$i THEN 1 ELSE 0 END)").mkString(" + ")
        val fl = "CAST(0.000001 AS DOUBLE)"
        s"""WITH b AS (SELECT CAST(n_chars AS DOUBLE) AS v FROM documents
           |  WHERE doc_id % 2 = 0 AND n_chars IS NOT NULL),
           |c AS (SELECT CAST(n_chars AS DOUBLE) AS v FROM documents
           |  WHERE doc_id % 2 = 1 AND n_chars IS NOT NULL),
           |e AS (SELECT $edges FROM b),
           |bb AS (SELECT ($bucket) AS bucket FROM b, e),
           |cb AS (SELECT ($bucket) AS bucket FROM c, e),
           |br AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_base FROM bb GROUP BY bucket),
           |cr AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_cur FROM cb GROUP BY bucket),
           |j AS (SELECT COALESCE(br.bucket, cr.bucket) AS bucket,
           |    CAST(COALESCE(n_base, 0) AS BIGINT) AS n_base,
           |    CAST(COALESCE(n_cur, 0) AS BIGINT) AS n_cur
           |  FROM br FULL OUTER JOIN cr ON br.bucket = cr.bucket),
           |r AS (SELECT bucket, n_base, n_cur,
           |    CAST(n_base AS DOUBLE) / CAST(SUM(n_base) OVER () AS DOUBLE) AS base_rate0,
           |    CAST(n_cur AS DOUBLE) / CAST(SUM(n_cur) OVER () AS DOUBLE) AS cur_rate0
           |  FROM j),
           |t AS (SELECT bucket, n_base, n_cur,
           |    ROUND(base_rate0, 6) AS base_rate, ROUND(cur_rate0, 6) AS cur_rate,
           |    ROUND((GREATEST(cur_rate0, $fl) - GREATEST(base_rate0, $fl))
           |      * ln(GREATEST(cur_rate0, $fl) / GREATEST(base_rate0, $fl)), 6) AS psi_term
           |  FROM r)
           |SELECT bucket, n_base, n_cur, base_rate, cur_rate, psi_term,
           |  ROUND(SUM(psi_term) OVER (), 6) AS psi_total
           |FROM t ORDER BY bucket""".stripMargin
      }),

    Q("ev_mad_anomaly",
      // robust median/MAD outlier summary per event_type — the
      // contamination-proof twin of ev_zscore_anomaly (an outlier inflates
      // a stddev threshold but not a median one); exact percentile at test
      // scale, percentile_approx the documented 100 TB swap
      (s, d) => operators.Analytics.madAnomalies(Tables.events(s, d)),
      Some("""WITH e AS (SELECT event_type, value FROM events),
             |m AS (SELECT event_type, quantile_cont(value, CAST(0.5 AS DOUBLE)) AS med
             |  FROM e GROUP BY 1),
             |d AS (SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS adev
             |  FROM e JOIN m USING (event_type)),
             |md AS (SELECT event_type, quantile_cont(adev, CAST(0.5 AS DOUBLE)) AS mad
             |  FROM d GROUP BY 1),
             |f AS (SELECT d.event_type, d.med, md.mad, d.value,
             |    CASE WHEN abs(d.value - d.med) >
             |        CAST(3 AS DOUBLE) * CAST(1.4826 AS DOUBLE) * md.mad
             |      THEN 1 ELSE 0 END AS an
             |  FROM d JOIN md USING (event_type))
             |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             |  ROUND(max(med), 6) AS median, ROUND(max(mad), 6) AS mad,
             |  CAST(SUM(an) AS BIGINT) AS n_anomalies,
             |  ROUND(CAST(SUM(an) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS anomaly_pct
             |FROM f GROUP BY event_type ORDER BY event_type""".stripMargin)),

    Q("st12_stream_leaderboard",
      // streaming top-5 users per event type: the counts accumulate in
      // streaming aggregation state (update-mode + RocksDB at the 100 TB
      // posture; complete-mode memory sink on the finite harness), the
      // final snapshot ranks through a type-keyed window over the
      // O(types × users) state table — the oracle is the batch answer the
      // stream must converge to
      (s, d) => {
        val snap = graft.streaming.Streams.runLeaderboardToCompletion(s, d)
        val w = Window.partitionBy(col("event_type"))
          .orderBy(col("cnt").desc, col("user_id"))
        snap.withColumn("rn", row_number().over(w))
          .where(col("rn") <= 5)
          .select(col("event_type"), col("user_id"), col("cnt"), col("rn"))
          .orderBy("event_type", "rn")
      },
      Some("""WITH c AS (SELECT event_type, user_id,
             |    CAST(count(*) AS BIGINT) AS cnt
             |  FROM events GROUP BY 1, 2),
             |r AS (SELECT *, row_number()
             |    OVER (PARTITION BY event_type ORDER BY cnt DESC, user_id) AS rn
             |  FROM c)
             |SELECT event_type, user_id, cnt, rn FROM r WHERE rn <= 5
             |ORDER BY event_type, rn""".stripMargin)),

    Q("st13_stream_vector_ingest",
      // streaming IVF index maintenance — the vector twin of st10:
      // embedding micro-batches cell-assigned against the PINNED offline
      // quantizer inside foreachBatch, assignments merged into the
      // parquet index via the crash-safe swap. Result = the FINAL INDEX,
      // every (vec_id, cell) row — the oracle replays the full static
      // assignment in SQL, hash-proving streaming build ≡ batch rebuild
      (s, d) => graft.streaming.Streams.runVectorIngestToCompletion(s, d),
      Some(s"""WITH $evecCteSql,
              |en AS (SELECT vec_id, v, ${normSql("v")} AS nrm FROM evec),
              |cents AS (SELECT vec_id AS cell, v AS cv, nrm AS cnrm FROM en WHERE vec_id < 16),
              |asg0 AS (
              |  SELECT en.vec_id, cents.cell,
              |    ${dotSql("en.v", "cents.cv")} / (en.nrm * cents.cnrm) AS ccos
              |  FROM en CROSS JOIN cents),
              |asg AS (
              |  SELECT vec_id, cell FROM (
              |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cell) AS rn
              |    FROM asg0) WHERE rn = 1)
              |SELECT vec_id, cell FROM asg ORDER BY vec_id""".stripMargin)),

    Q("st14_stream_sft",
      // streaming SFT example emission — turns arrive across three
      // micro-batches OUT of transcript order (doc_id % 3 staging);
      // per-conversation state advances a contiguous frontier and each
      // assistant turn emits its templated example exactly once, when its
      // full prefix first completes. The oracle is the BATCH template
      // chain (dense-index variant) — hash equality proves the stateful
      // incremental assembly ≡ the batch operator, the st13 discipline
      (s, d) => graft.streaming.SftStream.runSftToCompletion(s, d),
      Some(s"""WITH $sftStreamCtes
          |SELECT conv_id, turn_seq, n_context_turns, prompt, target,
          |  loss_start, n_chars
          |FROM sfte ORDER BY conv_id, turn_seq""".stripMargin)),

    Q("st15_stream_arena",
      // streaming arena: the two sides of each preference duel arrive in
      // DIFFERENT micro-batches (doc_id % 3 staging puts consecutive ids
      // in different files); per-duel GroupState holds the first side,
      // emits the outcome exactly once when the second lands, self-duels
      // stay silent — then the emitted outcomes aggregate to the
      // canonical win matrix, hash-gated against the SAME oracle the
      // batch ml_winrate_matrix uses (stream ≡ batch, the st13/st14
      // discipline)
      (s, d) => graft.streaming.ArenaStream.runArenaToCompletion(s, d),
      Some(Sentiment.oracleCte + winMatrixCtes + """
          |SELECT item_a, item_b, n_duels, wins_a, wins_b, win_rate_a
          |FROM mx ORDER BY item_a, item_b""".stripMargin)),

    Q("st16_stream_ols",
      // model fitting as a STREAMING AGGREGATION: the six OLS sufficient
      // statistics fold in per micro-batch (state = six numbers), and
      // the closed-form slope/intercept/R²/RMSE project off the final
      // snapshot through the SAME code path as the batch operator —
      // integer sums make stream ≡ batch exact, hash-gated against the
      // ml_ols_fit oracle (minus MAE, which needs a residual pass over
      // raw rows and is a batch join by nature)
      (s, d) => graft.streaming.OlsStream.runOlsToCompletion(s, d),
      Some(Sentiment.oracleCte + """,
          |os AS (SELECT CAST(count(*) AS BIGINT) AS n,
          |    CAST(SUM(CAST(len(tokens) AS BIGINT)) AS BIGINT) AS sx,
          |    CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS sy,
          |    CAST(SUM(CAST(len(tokens) AS BIGINT) * CAST(len(tokens) AS BIGINT)) AS BIGINT) AS sxx,
          |    CAST(SUM(CAST(n_chars AS BIGINT) * CAST(n_chars AS BIGINT)) AS BIGINT) AS syy,
          |    CAST(SUM(CAST(len(tokens) AS BIGINT) * CAST(n_chars AS BIGINT)) AS BIGINT) AS sxy
          |  FROM toks),
          |od AS (SELECT n, CAST(n AS DOUBLE) AS dn, CAST(sx AS DOUBLE) AS dsx,
          |    CAST(sy AS DOUBLE) AS dsy, CAST(sxx AS DOUBLE) AS dsxx,
          |    CAST(syy AS DOUBLE) AS dsyy, CAST(sxy AS DOUBLE) AS dsxy
          |  FROM os),
          |ov AS (SELECT *, dn * dsxy - dsx * dsy AS covn,
          |    dn * dsxx - dsx * dsx AS varxn, dn * dsyy - dsy * dsy AS varyn
          |  FROM od),
          |ob AS (SELECT *, covn / varxn AS b FROM ov),
          |oa AS (SELECT *, (dsy - b * dsx) / dn AS a FROM ob),
          |oc AS (SELECT n, varxn, varyn, covn, a, b, dn,
          |    dsyy + dn * a * a + b * b * dsxx - CAST(2.0 AS DOUBLE) * a * dsy
          |      - CAST(2.0 AS DOUBLE) * b * dsxy
          |      + CAST(2.0 AS DOUBLE) * a * b * dsx AS sse
          |  FROM oa)
          |SELECT n,
          |  CASE WHEN varxn > 0 THEN ROUND(b, 6) END AS slope,
          |  CASE WHEN varxn > 0 THEN ROUND(a, 6) END AS intercept,
          |  CASE WHEN varxn > 0 AND varyn > 0
          |    THEN ROUND(covn * covn / (varxn * varyn), 6) END AS r2,
          |  CASE WHEN varxn > 0
          |    THEN ROUND(sqrt(GREATEST(sse, CAST(0.0 AS DOUBLE)) / dn), 6) END AS rmse
          |FROM oc""".stripMargin)),

    Q("tok_bpe_pairs",
      // BPE learning's iteration-1 statistic: adjacent symbol-pair counts
      // (chars + </w>) weighted by word frequency, over the O(vocab)
      // word-count table — the corpus collapses once, then tokenizer
      // induction never rescans it (operators/Tokenizer.scala; learning
      // loop + merge application are unit-pinned in TokenizerSpec)
      (s, d) => operators.Tokenizer.bpePairCounts(
        operators.Tokenizer.wordCounts(Tables.documents(s, d))),
      Some(Sentiment.oracleCte + """,
             |w AS (SELECT unnest(tokens) AS word FROM toks),
             |wc AS (SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM w GROUP BY word),
             |p AS (SELECT cnt,
             |    unnest(list_transform(range(1, len(word) + 1), i ->
             |      {'a': word[i],
             |       'b': CASE WHEN i = len(word) THEN '</w>' ELSE word[i + 1] END})) AS pr
             |  FROM wc)
             |SELECT pr.a AS a, pr.b AS b, CAST(SUM(cnt) AS BIGINT) AS pair_cnt
             |FROM p GROUP BY 1, 2
             |ORDER BY pair_cnt DESC, a, b""".stripMargin)),

    Q("tok_subword_counts",
      // frequency-weighted subword token counts under the pinned BPE merge
      // list — the token-budget accounting a mixture planner runs. The
      // engine applies merges with the Catalyst aggregate() fold; the
      // oracle replays them as a bracketed replace chain (every symbol
      // wrapped chr(1)…chr(2): boundaries unforgeable on both sides, so
      // string replace == the greedy fold — proven equivalent in
      // TokenizerSpec and by this hash gate). Words containing either
      // bracket byte are excluded on both sides (none exist here).
      (s, d) => operators.Tokenizer.bpeTokenCounts(
        operators.Tokenizer.wordCounts(Tables.documents(s, d))
          .where(!col("word").contains("\u0001") &&
            !col("word").contains("\u0002")),
        operators.Tokenizer.PinnedMerges),
      Some(bpeSubwordOracleSql)),

    Q("tok_bpe_train",
      // the merge LIST itself learned in-engine (r13 VERDICT task 4):
      // 16 greedy max-pair rounds unrolled into one lineage — each
      // round's argmax is a broadcast one-row frame consumed twice
      // (extend the merge table, rewrite the bracketed state with one
      // codegen'd replace), per-round localCheckpoint bounds the tree
      // (the ml_bt_strength discipline), NO per-round driver collect of
      // row data. The oracle unrolls the identical 16 rounds as
      // materialized CTEs; TokenizerSpec pins the output equal to
      // bpeLearn's driver loop AND to PinnedMerges on the sf0.001
      // corpus — the pinned config tok_subword_counts / tok_fertility
      // consume is a learned, oracle-replayed artifact end-to-end
      (s, d) => operators.Tokenizer.bpeTrain(
        operators.Tokenizer.wordCounts(Tables.documents(s, d)), nMerges = 16),
      Some(bpeTrainOracle(16))),

    Q("tok_fertility",
      // tokenizer fertility/compression per language under the pinned
      // BPE merges — the diagnostic a vocab owner reads before
      // committing a multilingual mix (high fertility = the vocab
      // fragments that language, inflating its token cost). The corpus
      // collapses to the per-language vocabulary FIRST, so the replace
      // chain runs once per distinct (lang, word); one O(langs) rollup
      (s, d) => operators.Tokenizer.fertilityByLang(
        Tables.documents(s, d), operators.Tokenizer.PinnedMerges),
      Some(fertilityOracleSql)),

    Q("gr_pagerank",
      // fixed-iteration PageRank over the symmetrized customer↔supplier
      // trade graph: per iteration ONE edge⋈rank equi-join + one dst-keyed
      // aggregation (co-partitioned on the node key at scale), dangling
      // mass as a broadcast one-row aggregate, localCheckpoint lineage
      // truncation per round (the canonicalComponents discipline). The
      // oracle unrolls the identical 8 iterations as chained CTEs.
      // Round 15: the loop runs on tradeEdgesLong's 8-byte node ids
      // (guide §2.3 — every per-round exchange shuffles longs, not
      // strings), decoded to the public c…/s… form only at the output;
      // edgesDistinct+symmetrized skip the defensive re-distinct, the
      // dst-union node derivation and the dangling probe, all no-ops on
      // this graph by construction
      (s, d) => operators.Graph.pageRank(
        operators.Graph.tradeEdgesLong(Tables.orders(s, d), Tables.lineitem(s, d)),
        iterations = 8, damping = 0.85, edgesDistinct = true, symmetrized = true)
        .select(operators.Graph.tradeIdString(col("id")).as("id"), col("rank")),
      Some(pageRankOracle(8, 0.85))),

    Q("gr_hops",
      // multi-source BFS over the trade graph: min hop distance from the
      // 3 top-degree hubs, capped at 4 — per round ONE edge⋈distance join
      // + a min aggregation, checkpointed (distance table referenced
      // twice per round); the oracle is a recursive CTE with UNION
      // dedup so accumulated rows stay bounded by nodes × hops
      // Round 15: long node ids through the BFS loop (decoded at the
      // output); the seed tie-break orders by the DECODED string so the
      // top-degree cut is unchanged, and edgesDistinct skips the
      // defensive re-distinct of the already-distinct edge list
      (s, d) => operators.Graph.hopDistancesFromTopDegree(
        operators.Graph.tradeEdgesLong(Tables.orders(s, d), Tables.lineitem(s, d)),
        seedCount = 3, maxHops = 4, edgesDistinct = true,
        seedTie = operators.Graph.tradeIdString)
        .select(operators.Graph.tradeIdString(col("id")).as("id"), col("dist")),
      Some("""WITH RECURSIVE eraw AS MATERIALIZED (
             |  SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS a,
             |    's' || CAST(l.l_suppkey AS VARCHAR) AS b
             |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
             |edges AS MATERIALIZED (
             |  SELECT a AS src, b AS dst FROM eraw UNION ALL SELECT b, a FROM eraw),
             |outd AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS deg
             |  FROM edges GROUP BY src),
             |seeds AS (SELECT id FROM outd ORDER BY deg DESC, id LIMIT 3),
             |reach AS (
             |  SELECT id, 0 AS dist FROM seeds
             |  UNION
             |  SELECT e.dst AS id, r.dist + 1 AS dist
             |  FROM reach r JOIN edges e ON e.src = r.id WHERE r.dist < 4)
             |SELECT id, MIN(dist) AS dist FROM reach GROUP BY id
             |ORDER BY 2, 1""".stripMargin)),

    Q("gr_dup_triangles",
      // per-node triangle count + local clustering coefficient over the
      // verified near-dup pair graph — the transitivity audit that says
      // whether collapsing dup components to one canonical doc (clique-
      // shaped, clustering→1) is safe or whether marginal-pair chains are
      // gluing distinct docs (clustering→0). Degree-oriented wedge join
      // (Schank–Wagner) bounds fan-out by √m; counts are orientation-
      // invariant so the id-ordered oracle agrees exactly.
      (s, d) => operators.Graph.triangleStats(docPairsShared(s, d)),
      Some(mhTriangleOracleSql)),

    Q("gr_assortativity",
      // degree assortativity of the trade graph (Newman 2002): Pearson
      // corr of endpoint degrees over all arcs, assembled from exact
      // integer power sums in DECIMAL(38,0) so both engines agree
      // bit-for-bit through the one final double expression — strongly
      // negative = hubs fan to the periphery, the hot-key early warning
      // Round 15: long node ids (no ids in the output at all — the
      // correlation is assembled from exact integer power sums, so the
      // string decode is dropped outright) and edgesDistinct (the edge
      // list is distinct by construction)
      (s, d) => operators.Graph.degreeAssortativity(
        operators.Graph.tradeEdgesLong(Tables.orders(s, d), Tables.lineitem(s, d)),
        edgesDistinct = true),
      Some("""WITH eraw AS MATERIALIZED (
             |  SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS a,
             |    's' || CAST(l.l_suppkey AS VARCHAR) AS b
             |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
             |edges AS MATERIALIZED (
             |  SELECT a AS src, b AS dst FROM eraw UNION ALL SELECT b, a FROM eraw),
             |deg AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS deg
             |  FROM edges GROUP BY src),
             |wd AS (SELECT dx.deg AS dx, dy.deg AS dy FROM edges e
             |  JOIN deg dx ON dx.id = e.src JOIN deg dy ON dy.id = e.dst),
             |sums AS (SELECT CAST(count(*) AS BIGINT) AS m,
             |    SUM(dx) AS sx, SUM(dy) AS sy, SUM(dx * dy) AS sxy,
             |    SUM(dx * dx) AS sx2, SUM(dy * dy) AS sy2 FROM wd)
             |SELECT m,
             |  CASE WHEN (m * sx2 - sx * sx) > 0 AND (m * sy2 - sy * sy) > 0
             |    THEN ROUND(CAST(m * sxy - sx * sy AS DOUBLE)
             |      / sqrt(CAST(m * sx2 - sx * sx AS DOUBLE)
             |           * CAST(m * sy2 - sy * sy AS DOUBLE)), 6)
             |      + CAST(0.0 AS DOUBLE)
             |  END AS assortativity
             |FROM sums""".stripMargin)),

    Q("ml_auc",
      // exact rank-sum ROC-AUC of the hashed classifier score against the
      // length-gate label — Mann-Whitney pair counts over score GROUPS
      // with a range-bucketed prefix sum (never a single-partition window
      // over rows); pair counts in DECIMAL(38,0)
      (s, d) => operators.MLEval.rocAuc(mlScored(s, d), "score", "y"),
      Some(mlScoredCte +
        """,
          |g AS (SELECT score AS sc, CAST(SUM(y) AS BIGINT) AS p,
          |    CAST(SUM(1 - y) AS BIGINT) AS n FROM mls GROUP BY 1),
          |r AS (SELECT p, n, COALESCE(CAST(SUM(n) OVER (ORDER BY sc
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
          |    CAST(0 AS BIGINT)) AS neg_below FROM g),
          |a AS (SELECT CAST(SUM(p) AS BIGINT) AS n_pos,
          |    CAST(SUM(n) AS BIGINT) AS n_neg,
          |    SUM(p * neg_below) AS conc, SUM(p * n) AS tied FROM r),
          |a2 AS (SELECT n_pos, n_neg,
          |    CASE WHEN n_pos > 0 AND n_neg > 0 THEN
          |      ROUND((CAST(conc AS DOUBLE) + CAST(0.5 AS DOUBLE) * CAST(tied AS DOUBLE))
          |        / (CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)), 6)
          |    END AS auc FROM a)
          |SELECT n_pos, n_neg, auc,
          |  ROUND(CAST(2.0 AS DOUBLE) * auc - CAST(1.0 AS DOUBLE), 6) + CAST(0.0 AS DOUBLE) AS gini
          |FROM a2""".stripMargin)),

    Q("ml_calibration",
      // reliability diagram: 10 equal-width probability bins with count,
      // mean predicted probability, observed positive rate, signed gap —
      // one map-side-combinable aggregation, O(bins) output
      (s, d) => operators.MLEval.calibrationBins(mlScored(s, d), "score", "y"),
      Some(mlScoredCte +
        """,
          |c AS (SELECT LEAST(CAST(floor(score * 10) AS BIGINT),
          |    CAST(9 AS BIGINT)) AS bin, score, y FROM mls),
          |cb AS (SELECT bin, CAST(count(*) AS BIGINT) AS cnt,
          |    ROUND(AVG(score), 6) AS mean_score,
          |    ROUND(AVG(CAST(y AS DOUBLE)), 6) AS pos_rate
          |  FROM c GROUP BY bin)
          |SELECT bin, cnt, mean_score, pos_rate,
          |  ROUND(pos_rate - mean_score, 6) + CAST(0.0 AS DOUBLE) AS gap
          |FROM cb ORDER BY bin""".stripMargin)),

    Q("ml_ece",
      // expected + maximum calibration error from the PUBLISHED
      // (rounded) ml_calibration bins — the model-card summary that
      // always reconciles with the table it summarizes
      (s, d) => operators.MLEval.calibrationError(mlScored(s, d), "score", "y"),
      Some(mlScoredCte +
        """,
          |c AS (SELECT LEAST(CAST(floor(score * 10) AS BIGINT),
          |    CAST(9 AS BIGINT)) AS bin, score, y FROM mls),
          |cb AS (SELECT bin, CAST(count(*) AS BIGINT) AS cnt,
          |    ROUND(AVG(score), 6) AS mean_score,
          |    ROUND(AVG(CAST(y AS DOUBLE)), 6) AS pos_rate
          |  FROM c GROUP BY bin),
          |cg AS (SELECT cnt, ROUND(pos_rate - mean_score, 6) AS gap FROM cb)
          |SELECT CAST(SUM(cnt) AS BIGINT) AS n,
          |  ROUND(SUM(CAST(cnt AS DOUBLE) * abs(gap))
          |    / SUM(CAST(cnt AS DOUBLE)), 6) AS ece,
          |  MAX(abs(gap)) AS mce
          |FROM cg""".stripMargin)),

    Q("ml_prf",
      // confusion counts + operating-point metrics at score >= 0.5, one
      // row from ONE aggregation of boolean products; F1 in the integer
      // form 2tp/(2tp+fp+fn) so it is a single exact-operand division
      (s, d) => operators.MLEval.confusionStats(mlScored(s, d), "score", "y"),
      Some(mlScoredCte +
        """,
          |cm AS (SELECT CASE WHEN score >= CAST(0.5 AS DOUBLE) THEN 1 ELSE 0 END AS pred,
          |    y FROM mls),
          |t AS (SELECT CAST(SUM(pred * y) AS BIGINT) AS tp,
          |    CAST(SUM(pred * (1 - y)) AS BIGINT) AS fp,
          |    CAST(SUM((1 - pred) * y) AS BIGINT) AS fn,
          |    CAST(SUM((1 - pred) * (1 - y)) AS BIGINT) AS tn FROM cm)
          |SELECT tp, fp, fn, tn,
          |  CASE WHEN tp + fp + fn + tn > 0 THEN
          |    ROUND(CAST(tp + tn AS DOUBLE) / CAST(tp + fp + fn + tn AS DOUBLE), 6)
          |  END AS accuracy,
          |  CASE WHEN tp + fp > 0 THEN
          |    ROUND(CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE), 6)
          |  END AS "precision",
          |  CASE WHEN tp + fn > 0 THEN
          |    ROUND(CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE), 6)
          |  END AS recall,
          |  CASE WHEN 2 * tp + fp + fn > 0 THEN
          |    ROUND(CAST(2 * tp AS DOUBLE) / CAST(2 * tp + fp + fn AS DOUBLE), 6)
          |  END AS f1
          |FROM t""".stripMargin)),

    Q("ts_acf",
      // autocorrelation of the daily event-count series at lags 0..7 —
      // the weekly-seasonality detector; fact rows collapse to O(days)
      // FIRST, lead windows and sums run on the reduced frame only
      (s, d) => Analytics.acf(Tables.events(s, d)),
      Some("""WITH daily AS (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             |    CAST(count(*) AS DOUBLE) AS x FROM events GROUP BY 1),
             |m AS (SELECT SUM(x) / count(*) AS xbar FROM daily),
             |ld AS (SELECT x, xbar,
             |    lead(x, 1) OVER (ORDER BY day) AS l1,
             |    lead(x, 2) OVER (ORDER BY day) AS l2,
             |    lead(x, 3) OVER (ORDER BY day) AS l3,
             |    lead(x, 4) OVER (ORDER BY day) AS l4,
             |    lead(x, 5) OVER (ORDER BY day) AS l5,
             |    lead(x, 6) OVER (ORDER BY day) AS l6,
             |    lead(x, 7) OVER (ORDER BY day) AS l7
             |  FROM daily, m),
             |a AS (SELECT SUM((x - xbar) * (x - xbar)) AS den,
             |    SUM(CASE WHEN l1 IS NOT NULL THEN (x - xbar) * (l1 - xbar) ELSE CAST(0 AS DOUBLE) END) AS n1,
             |    SUM(CASE WHEN l2 IS NOT NULL THEN (x - xbar) * (l2 - xbar) ELSE CAST(0 AS DOUBLE) END) AS n2,
             |    SUM(CASE WHEN l3 IS NOT NULL THEN (x - xbar) * (l3 - xbar) ELSE CAST(0 AS DOUBLE) END) AS n3,
             |    SUM(CASE WHEN l4 IS NOT NULL THEN (x - xbar) * (l4 - xbar) ELSE CAST(0 AS DOUBLE) END) AS n4,
             |    SUM(CASE WHEN l5 IS NOT NULL THEN (x - xbar) * (l5 - xbar) ELSE CAST(0 AS DOUBLE) END) AS n5,
             |    SUM(CASE WHEN l6 IS NOT NULL THEN (x - xbar) * (l6 - xbar) ELSE CAST(0 AS DOUBLE) END) AS n6,
             |    SUM(CASE WHEN l7 IS NOT NULL THEN (x - xbar) * (l7 - xbar) ELSE CAST(0 AS DOUBLE) END) AS n7
             |  FROM ld)
             |SELECT lag, acf FROM (
             |  SELECT CAST(0 AS BIGINT) AS lag, CAST(1.0 AS DOUBLE) AS acf FROM a
             |  UNION ALL SELECT CAST(1 AS BIGINT), CASE WHEN den > 0 THEN ROUND(n1 / den, 6) + CAST(0.0 AS DOUBLE) END FROM a
             |  UNION ALL SELECT CAST(2 AS BIGINT), CASE WHEN den > 0 THEN ROUND(n2 / den, 6) + CAST(0.0 AS DOUBLE) END FROM a
             |  UNION ALL SELECT CAST(3 AS BIGINT), CASE WHEN den > 0 THEN ROUND(n3 / den, 6) + CAST(0.0 AS DOUBLE) END FROM a
             |  UNION ALL SELECT CAST(4 AS BIGINT), CASE WHEN den > 0 THEN ROUND(n4 / den, 6) + CAST(0.0 AS DOUBLE) END FROM a
             |  UNION ALL SELECT CAST(5 AS BIGINT), CASE WHEN den > 0 THEN ROUND(n5 / den, 6) + CAST(0.0 AS DOUBLE) END FROM a
             |  UNION ALL SELECT CAST(6 AS BIGINT), CASE WHEN den > 0 THEN ROUND(n6 / den, 6) + CAST(0.0 AS DOUBLE) END FROM a
             |  UNION ALL SELECT CAST(7 AS BIGINT), CASE WHEN den > 0 THEN ROUND(n7 / den, 6) + CAST(0.0 AS DOUBLE) END FROM a)
             |ORDER BY lag""".stripMargin)),

    Q("ml_auc_by_source",
      // per-source AUC of the hashed classifier — the grouped gate-quality
      // dashboard that catches one domain failing while the aggregate
      // number looks fine; every window additionally partitioned by the
      // source key, totals joined back on it
      (s, d) => operators.MLEval.rocAucBy(
        TextAnalysis.hashedLinearScore(Tables.documents(s, d), "text",
            "doc_id", buckets = 1024, keep = Seq("n_chars", "source"))
          .select(col("doc_id"), col("source"), col("score"),
            (col("n_chars") >= 200).cast("int").as("y")),
        "source", "score", "y"),
      Some(Sentiment.oracleCte +
        """,
          |hw2 AS (SELECT doc_id, source, n_chars,
          |    CAST(len(tokens) AS BIGINT) AS n_tokens,
          |    list_sum(list_transform(tokens, t ->
          |      (CAST(CAST('0x' || substr(md5('w:' || CAST(
          |          CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) % 1024
          |        AS VARCHAR)), 1, 15) AS BIGINT) % 2001 AS DOUBLE)
          |       - CAST(1000.0 AS DOUBLE)) / CAST(1000.0 AS DOUBLE))) AS sw
          |  FROM toks WHERE len(tokens) > 0),
          |msrc AS (SELECT source,
          |    ROUND(CAST(1.0 AS DOUBLE) / (CAST(1.0 AS DOUBLE)
          |      + exp(-(sw / CAST(n_tokens AS DOUBLE)))), 6) AS score,
          |    CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END AS y
          |  FROM hw2),
          |g AS (SELECT source, score AS sc, CAST(SUM(y) AS BIGINT) AS p,
          |    CAST(SUM(1 - y) AS BIGINT) AS n FROM msrc GROUP BY 1, 2),
          |r AS (SELECT source, p, n, COALESCE(CAST(SUM(n) OVER (
          |      PARTITION BY source ORDER BY sc
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
          |    CAST(0 AS BIGINT)) AS neg_below FROM g),
          |a AS (SELECT source, CAST(SUM(p) AS BIGINT) AS n_pos,
          |    CAST(SUM(n) AS BIGINT) AS n_neg,
          |    SUM(p * neg_below) AS conc, SUM(p * n) AS tied FROM r GROUP BY source),
          |a2 AS (SELECT source, n_pos, n_neg,
          |    CASE WHEN n_pos > 0 AND n_neg > 0 THEN
          |      ROUND((CAST(conc AS DOUBLE) + CAST(0.5 AS DOUBLE) * CAST(tied AS DOUBLE))
          |        / (CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)), 6)
          |    END AS auc FROM a)
          |SELECT source, n_pos, n_neg, auc,
          |  ROUND(CAST(2.0 AS DOUBLE) * auc - CAST(1.0 AS DOUBLE), 6)
          |    + CAST(0.0 AS DOUBLE) AS gini
          |FROM a2 ORDER BY source""".stripMargin)),

    Q("dd_hot_ngrams",
      // memorization-risk scan: the most document-frequent 8-gram
      // shingles (df >= 3, top-50) — the phrases a model would memorize
      // (Lee et al. 2022); per-doc-distinct, one shingle-key groupBy,
      // TakeOrderedAndProject
      (s, d) => Dedup.hotNgrams(Tables.documents(s, d), "text", "doc_id"),
      Some(Sentiment.oracleCte + s""",
          |${dshCteSql(8)}
          |SELECT sh, CAST(count(*) AS BIGINT) AS df FROM dsh
          |GROUP BY sh HAVING count(*) >= 3
          |ORDER BY df DESC, sh LIMIT 50""".stripMargin)),

    Q("gr_kcore",
      // 2-core of the near-dup pair graph after 3 fixed peels: strips the
      // tree-like fringe of one-off marginal pairs, leaving the densely
      // duplicated cores where clique-collapse is unambiguous; each peel
      // unrolls to one oracle CTE (the pageRank convention)
      (s, d) => operators.Graph.kCore(docPairsShared(s, d), k = 2, peels = 3),
      Some(Sentiment.oracleCte +
        minhashChainCtes(32, 8, "SELECT doc_id AS id, tokens FROM toks") +
        mhPairsCte(0.5) +
        """,
          |ka0 AS (SELECT id_a AS src, id_b AS dst FROM mh_pairs
          |  UNION ALL SELECT id_b, id_a FROM mh_pairs),
          |kk1 AS (SELECT src AS id FROM (SELECT src, count(*) AS deg FROM ka0 GROUP BY src) WHERE deg >= 2),
          |ka1 AS (SELECT ka0.src, ka0.dst FROM ka0
          |  JOIN kk1 x ON x.id = ka0.src JOIN kk1 y ON y.id = ka0.dst),
          |kk2 AS (SELECT src AS id FROM (SELECT src, count(*) AS deg FROM ka1 GROUP BY src) WHERE deg >= 2),
          |ka2 AS (SELECT ka1.src, ka1.dst FROM ka1
          |  JOIN kk2 x ON x.id = ka1.src JOIN kk2 y ON y.id = ka1.dst),
          |kk3 AS (SELECT src AS id FROM (SELECT src, count(*) AS deg FROM ka2 GROUP BY src) WHERE deg >= 2),
          |ka3 AS (SELECT ka2.src, ka2.dst FROM ka2
          |  JOIN kk3 x ON x.id = ka2.src JOIN kk3 y ON y.id = ka2.dst)
          |SELECT src AS id, CAST(count(*) AS BIGINT) AS deg
          |FROM ka3 GROUP BY src ORDER BY id""".stripMargin)),

    Q("gr_modularity",
      // Newman modularity of the near-dup component partition over its
      // own pair graph — every edge is intra-component, so Q = 1 −
      // Σ(d_c/2m)²: the fragmentation score (→1 balanced clusters, →0 a
      // giant component hoarding the edges). Pairs come from the shared
      // maintained table (a parquet read-back — no in-query persist
      // needed); 1-row result localCheckpoint'ed, the triangleStats
      // discipline
      (s, d) => {
        val p = docPairsShared(s, d)
        operators.Graph.modularity(p, Dedup.canonicalComponents(p))
          .localCheckpoint(eager = true)
      },
      Some(mhComponentsOracleCtes +
        """,
          |lab AS (SELECT id, LEAST(id, MIN(r)) AS c FROM mh_reach GROUP BY id),
          |me AS (SELECT id_a AS u, id_b AS v FROM mh_pairs),
          |mm2 AS (SELECT CAST(count(*) AS BIGINT) AS m FROM me),
          |mdeg AS (SELECT id, CAST(count(*) AS BIGINT) AS deg
          |  FROM (SELECT u AS id FROM me UNION ALL SELECT v FROM me) GROUP BY id),
          |mdc AS (SELECT c, CAST(SUM(deg) AS BIGINT) AS d_c
          |  FROM mdeg JOIN lab USING (id) GROUP BY c),
          |mmc AS (SELECT lu.c AS c, CAST(count(*) AS BIGINT) AS m_c
          |  FROM me JOIN lab lu ON lu.id = me.u JOIN lab lv ON lv.id = me.v
          |  WHERE lu.c = lv.c GROUP BY lu.c),
          |mt AS (SELECT mdc.c, COALESCE(m_c, CAST(0 AS BIGINT)) AS m_c, d_c, m
          |  FROM mdc LEFT JOIN mmc ON mmc.c = mdc.c, mm2)
          |SELECT CAST(count(*) AS BIGINT) AS communities, m,
          |  ROUND(SUM(CAST(m_c AS DOUBLE) / CAST(m AS DOUBLE)
          |    - (CAST(d_c AS DOUBLE) / (CAST(2.0 AS DOUBLE) * CAST(m AS DOUBLE)))
          |    * (CAST(d_c AS DOUBLE) / (CAST(2.0 AS DOUBLE) * CAST(m AS DOUBLE)))), 6)
          |    + CAST(0.0 AS DOUBLE) AS modularity
          |FROM mt GROUP BY m""".stripMargin)),

    Q("gr_labelprop",
      // synchronous label-propagation communities over the trade graph
      // (4 fixed rounds, closed-neighborhood majority vote, min-label
      // tie-break) — the labeling PRODUCER whose output gr_modularity's
      // operator scores; integer vote counts end-to-end, so the
      // unrolled-CTE oracle replays every round exactly
      // Round 15: the edge⋈label join and vote aggregation key on long
      // node ids; the LABEL VALUES stay the public strings (labelInit =
      // decode) so the lexicographic-min tie-break — the declared
      // semantics the oracle replays — is untouched
      (s, d) => operators.Graph.labelPropagation(
        operators.Graph.tradeEdgesLong(Tables.orders(s, d), Tables.lineitem(s, d)),
        rounds = 4, labelInit = operators.Graph.tradeIdString)
        .select(operators.Graph.tradeIdString(col("id")).as("id"),
          col("community")),
      Some(lpaOracle(4))),

    Q("sel_kcenter",
      // greedy k-center coreset (farthest-point sampling, the geometric
      // training-data selection pass): 8 rounds, each ONE one-row argmax
      // (TakeOrderedAndProject, no full sort) + ONE broadcast fold of the
      // new center into every point's nearest-center distance — O(n·k),
      // never O(n²). The oracle unrolls the identical rounds (the
      // tok_bpe_train discipline); the shared left-fold dot/norm makes
      // the per-round argmax and the reported covering radii bit-exact
      (s, d) => Similarity.kCenterCoreset(Tables.embeddings(s, d), k = 8),
      Some(kCenterOracle(8))),

    Q("sel_kmeanspar",
      // k-means|| oversampled selection (Bahmani 2012) — sel_kcenter's
      // SCALE path: an expected ell points drawn per round (deterministic
      // md5-uniform vs ell·mind/φ, the dsirResample convention) so a
      // handful of rounds replaces k sequential argmaxes; new centers
      // fold into mind via ONE broadcast array (no shuffle), and the
      // classic weighting step counts each candidate's assigned points.
      // φ is ROUND(6) (the order-dependent-sum boundary); everything
      // else is row-level bit-exact, so the unrolled oracle replays the
      // draw, the folds and the weights
      (s, d) => Similarity.kMeansParOversample(Tables.embeddings(s, d),
        rounds = 4, ell = 8),
      Some(kppOracle(4, 8))),

    Q("sel_kmeanspar_reduce",
      // the k-means|| algorithm's FINAL step (Bahmani 2012 §3.1,
      // r14 VERDICT task 2): weighted k-means++ reduction of the
      // oversampled candidate set down to k=8 centers — seed ∝ weight,
      // then ∝ weight·mind (the family's cosine potential) — so the
      // selection family ships its end product, not its intermediate.
      // Deterministic + engine-portable: one scalar md5-uniform per
      // round and FIXED-POINT potential quantization (floor(w·mind·1e6)
      // as BIGINT) so the inverse-CDF cumulative sum is integer-exact
      // on both engines, never an order-dependent double sum. Matches
      // V2's k = min(10, n) clustering semantics at scale
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Similarity.kMeansParReduce(emb,
          Similarity.kMeansParOversample(emb, rounds = 4, ell = 8), k = 8)
      },
      Some(kppReduceOracle(8, 4, 8))),

    Q("sel_kmeanspar_audit",
      // the coverage audit over the REDUCED centers — the number the
      // k-means|| pipeline is actually judged by before training on the
      // subset (covering radius / mean / p90 of every corpus point's
      // distance to its nearest of the k final centers). Same map-only
      // broadcast-array pass as sel_coverage_audit, over the end
      // product instead of the k-center greedy
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Similarity.selectionCoverage(emb,
          Similarity.kMeansParReduce(emb,
            Similarity.kMeansParOversample(emb, rounds = 4, ell = 8), k = 8)
            .select("vec_id"))
          .localCheckpoint(eager = true)
      },
      Some(kppReduceCoverageOracle(8, 4, 8))),

    Q("sel_coverage_audit",
      // the selection family's EVAL half: the k-center pick replayed,
      // then every corpus point's distance to its nearest center rolled
      // into the achieved covering radius / mean / p90 — the number a
      // data-selection pass is judged by before anyone trains on the
      // subset. Center set broadcast as one array, map-only distances,
      // one global aggregate; 1-row result localCheckpoint'ed (the
      // triangleStats discipline)
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Similarity.selectionCoverage(emb,
          Similarity.kCenterCoreset(emb, k = 8).select("vec_id"))
          .localCheckpoint(eager = true)
      },
      Some(kCenterCoverageOracle(8))),

    Q("gr_lpa_modularity",
      // detect → score in ONE plan: the LPA labeling fed straight into
      // the Newman modularity scorer — the loop a community pipeline
      // actually runs (produce a labeling, score it, compare against
      // the component-partition baseline gr_modularity). The edge list
      // is checkpointed ONCE — through the graph family's storage knob,
      // so checkpointStorage=disk governs the composition's big block
      // too — and shared by both halves
      // Round 15: the shared edge block, the LPA join keys and the
      // modularity node-key joins all ride tradeEdgesLong's 8-byte ids;
      // labels stay the public strings (labelInit = decode — the
      // lexicographic tie-break is semantics) and the output carries no
      // node ids, so no decode is needed at the boundary. The src<dst
      // one-direction filter picks a DIFFERENT representative direction
      // under numeric order, but modularity re-canonicalizes every pair
      // through least/greatest, so the (u,v) set — and every count
      // downstream — is unchanged.
      (s, d) => {
        val e = operators.Graph.iterCheckpoint(operators.Graph.tradeEdgesLong(
          Tables.orders(s, d), Tables.lineitem(s, d)))
        val lab = operators.Graph.labelPropagation(e, rounds = 4,
            assumeMaterialized = true,
            labelInit = operators.Graph.tradeIdString)
          .select(col("id"), col("community").as("canonical"))
        operators.Graph.modularity(
          e.filter(col("src") < col("dst"))
            .select(col("src").as("id_a"), col("dst").as("id_b")), lab)
          .localCheckpoint(eager = true)
      },
      Some(lpaModularityOracle(4))),

    Q("sim_filtered_ann",
      // filtered vector search: IVF probe with the metadata predicate
      // (label = 3) pushed inside the probed cell — the "vector search
      // WHERE ..." shape of every production ANN store; nprobe stays 1,
      // short cells surface short results rather than silently widening
      (s, d) => Similarity.ivfFilteredTopK(Tables.embeddings(s, d),
        queryId = 20, k = 10, pred = col("label") === 3,
        metaCols = Seq("label")),
      Some(s"""WITH ev2 AS (SELECT vec_id, label,
              |    CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
              |en AS (SELECT vec_id, label, v, ${normSql("v")} AS nrm FROM ev2),
              |cents AS (SELECT vec_id AS cell, v AS cv, nrm AS cnrm FROM en WHERE vec_id < 16),
              |asg0 AS (
              |  SELECT en.vec_id, en.label, en.v, en.nrm, cents.cell,
              |    ${dotSql("en.v", "cents.cv")} / (en.nrm * cents.cnrm) AS ccos
              |  FROM en CROSS JOIN cents),
              |asg AS (
              |  SELECT vec_id, label, v, nrm, cell FROM (
              |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cell) AS rn
              |    FROM asg0) WHERE rn = 1),
              |q AS (SELECT v AS qv, nrm AS qnrm, cell AS qcell FROM asg WHERE vec_id = 20)
              |SELECT vec_id, label, cell, ROUND(${dotSql("v", "qv")} / (nrm * qnrm), 6) AS cos
              |FROM asg, q WHERE vec_id <> 20 AND label = 3 AND cell = qcell
              |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin)),

    Q("emb_dim_stats",
      // per-dimension embedding health: mean/std/min/max per dim — dead
      // dims, runaway dims, drift; one posexplode → 64-group map-side-
      // combined aggregation, group count constant in corpus size
      (s, d) => Similarity.dimStats(Tables.embeddings(s, d)),
      Some("""WITH ed AS (SELECT CAST(i - 1 AS BIGINT) AS dim,
             |    CAST(embedding AS DOUBLE[])[i] AS x
             |  FROM embeddings, unnest(generate_series(1, len(embedding))) AS u(i))
             |SELECT dim, CAST(count(*) AS BIGINT) AS n,
             |  ROUND(AVG(x), 6) + CAST(0.0 AS DOUBLE) AS mean,
             |  ROUND(STDDEV_SAMP(x), 6) AS std,
             |  MIN(x) AS min_x, MAX(x) AS max_x
             |FROM ed GROUP BY dim ORDER BY dim""".stripMargin)),

    Q("ml_ks",
      // Kolmogorov-Smirnov class separation: max |CDF_pos − CDF_neg| over
      // score groups with the first score attaining it — CDFs are exact
      // integer divisions after the range-bucketed inclusive prefix sums,
      // so the argmax needs no rounding epsilon
      (s, d) => operators.MLEval.ksStatistic(mlScored(s, d), "score", "y"),
      Some(mlScoredCte +
        """,
          |g AS (SELECT score AS s, CAST(SUM(y) AS BIGINT) AS p,
          |    CAST(SUM(1 - y) AS BIGINT) AS n FROM mls GROUP BY 1),
          |tot AS (SELECT CAST(SUM(p) AS BIGINT) AS n_pos,
          |    CAST(SUM(n) AS BIGINT) AS n_neg FROM g),
          |r AS (SELECT s,
          |    CAST(SUM(p) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING
          |      AND CURRENT ROW) AS BIGINT) AS cp,
          |    CAST(SUM(n) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING
          |      AND CURRENT ROW) AS BIGINT) AS cn FROM g),
          |d AS (SELECT s, CASE WHEN n_pos > 0 AND n_neg > 0 THEN
          |    abs(CAST(cp AS DOUBLE) / CAST(n_pos AS DOUBLE)
          |      - CAST(cn AS DOUBLE) / CAST(n_neg AS DOUBLE)) END AS diff
          |  FROM r, tot),
          |mx AS (SELECT MAX(diff) AS ksv FROM d)
          |SELECT n_pos, n_neg, ROUND(ksv, 6) AS ks,
          |  (SELECT MIN(s) FROM d, mx WHERE diff = ksv) AS ks_score
          |FROM tot, mx""".stripMargin)),

    Q("ml_pr_curve",
      // precision-recall curve: one row per distinct threshold, cells by
      // suffix-count subtraction from the same bucketed prefix sums as
      // ml_ks — every metric a single exact-integer division, no epsilon
      (s, d) => operators.MLEval.prCurve(mlScored(s, d), "score", "y"),
      Some(mlScoredCte +
        """,
          |g AS (SELECT score AS threshold, CAST(SUM(y) AS BIGINT) AS p,
          |    CAST(SUM(1 - y) AS BIGINT) AS n FROM mls GROUP BY 1),
          |tot AS (SELECT CAST(SUM(p) AS BIGINT) AS tp_all,
          |    CAST(SUM(n) AS BIGINT) AS tn_all FROM g),
          |r AS (SELECT threshold, p, n,
          |    CAST(SUM(p) OVER w AS BIGINT) AS cp,
          |    CAST(SUM(n) OVER w AS BIGINT) AS cn
          |  FROM g WINDOW w AS (ORDER BY threshold
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
          |c AS (SELECT threshold, tp_all - (cp - p) AS tp,
          |    tn_all - (cn - n) AS fp, tp_all FROM r, tot)
          |SELECT threshold, tp, fp,
          |  CASE WHEN tp + fp > 0 THEN
          |    CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END AS "precision",
          |  CASE WHEN tp_all > 0 THEN
          |    CAST(tp AS DOUBLE) / CAST(tp_all AS DOUBLE) END AS recall,
          |  CASE WHEN tp + fp + tp_all > 0 THEN
          |    CAST(2 * tp AS DOUBLE) / CAST(tp + fp + tp_all AS DOUBLE) END AS f1
          |FROM c ORDER BY threshold""".stripMargin)),

    Q("ml_kappa",
      // Cohen's kappa at the deployed threshold — chance-corrected
      // agreement; marginal products in exact integers (HUGEINT/decimal),
      // a fixed IEEE op sequence before the final ROUND(6)
      (s, d) => operators.MLEval.cohensKappa(mlScored(s, d), "score", "y"),
      Some(mlScoredCte +
        """,
          |cm AS (SELECT CASE WHEN score >= CAST(0.5 AS DOUBLE) THEN 1 ELSE 0 END AS pred,
          |    y FROM mls),
          |t AS (SELECT CAST(SUM(pred * y) AS BIGINT) AS tp,
          |    CAST(SUM(pred * (1 - y)) AS BIGINT) AS fp,
          |    CAST(SUM((1 - pred) * y) AS BIGINT) AS fn,
          |    CAST(SUM((1 - pred) * (1 - y)) AS BIGINT) AS tn FROM cm),
          |k AS (SELECT tp, fp, fn, tn, tp + fp + fn + tn AS n FROM t),
          |k2 AS (SELECT n,
          |    CAST(tp + tn AS DOUBLE) / CAST(n AS DOUBLE) AS po,
          |    CAST((tp + fp) * (tp + fn) + (fn + tn) * (fp + tn) AS DOUBLE)
          |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS pe FROM k)
          |SELECT n, ROUND(po, 6) AS po, ROUND(pe, 6) AS pe,
          |  CASE WHEN pe < CAST(1.0 AS DOUBLE) THEN
          |    ROUND((po - pe) / (CAST(1.0 AS DOUBLE) - pe), 6)
          |      + CAST(0.0 AS DOUBLE) END AS kappa
          |FROM k2""".stripMargin)),

    Q("ml_brier",
      // Brier score + log-loss in ONE aggregation; probabilities clamped
      // to [1e-15, 1−1e-15] identically on both engines so a saturated
      // score stays finite; order-dependent averages ROUND(6)-absorbed
      (s, d) => operators.MLEval.brierLogLoss(mlScored(s, d), "score", "y"),
      Some(mlScoredCte +
        """,
          |cl AS (SELECT LEAST(GREATEST(score, CAST(1e-15 AS DOUBLE)),
          |    CAST(1.0 AS DOUBLE) - CAST(1e-15 AS DOUBLE)) AS pc,
          |    CAST(y AS DOUBLE) AS yd FROM mls)
          |SELECT CAST(count(*) AS BIGINT) AS n,
          |  ROUND(AVG((pc - yd) * (pc - yd)), 6) AS brier,
          |  ROUND(AVG(-(yd * ln(pc)
          |    + (CAST(1.0 AS DOUBLE) - yd) * ln(CAST(1.0 AS DOUBLE) - pc))), 6)
          |    AS logloss
          |FROM cl""".stripMargin)),

    Q("ml_brier_ci",
      // Poisson-bootstrap 95% CI for the Brier score (32 seeded
      // resamples, pinned inverse-CDF weights): the uncertainty bar a
      // gate metric needs before a 0.003 "improvement" is believed. One
      // 32-way row-local explode into one map-side groupBy(resample),
      // then an O(32) exact-percentile aggregate
      (s, d) => operators.MLEval.brierBootstrapCI(
        mlScored(s, d), "score", "y", "doc_id"),
      Some(mlScoredCte +
        """,
          |bsr AS (SELECT doc_id,
          |    LEAST(GREATEST(score, CAST(1e-15 AS DOUBLE)),
          |      CAST(1.0 AS DOUBLE) - CAST(1e-15 AS DOUBLE)) AS pc,
          |    CAST(y AS DOUBLE) AS yd, unnest(range(0, 32)) AS b FROM mls),
          |bsu AS (SELECT b, (pc - yd) * (pc - yd) AS sq,
          |    (CAST(CAST('0x' || substr(md5('bs:' || CAST(b AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS DOUBLE)
          |      + CAST(0.5 AS DOUBLE)) / CAST(1152921504606846976.0 AS DOUBLE) AS u
          |  FROM bsr),
          |bsw AS (SELECT b, sq,
          |    CAST(CASE WHEN u < CAST(0.367879441 AS DOUBLE) THEN 0
          |      WHEN u < CAST(0.735758882 AS DOUBLE) THEN 1
          |      WHEN u < CAST(0.919698602 AS DOUBLE) THEN 2
          |      WHEN u < CAST(0.981011843 AS DOUBLE) THEN 3
          |      WHEN u < CAST(0.996340153 AS DOUBLE) THEN 4
          |      WHEN u < CAST(0.999405815 AS DOUBLE) THEN 5
          |      ELSE 6 END AS DOUBLE) AS w
          |  FROM bsu),
          |bsb AS (SELECT b, SUM(w * sq) / SUM(w) AS brier FROM bsw GROUP BY b)
          |SELECT CAST(count(*) AS INT) AS n_resamples,
          |  ROUND(AVG(brier), 6) AS brier_mean,
          |  ROUND(quantile_cont(brier, CAST(0.025 AS DOUBLE)), 6) AS brier_lo95,
          |  ROUND(quantile_cont(brier, CAST(0.975 AS DOUBLE)), 6) AS brier_hi95
          |FROM bsb""".stripMargin)),

    Q("ir_rrf",
      // reciprocal-rank-fusion hybrid retrieval (Cormack 2009): BM25
      // lexical top-20 ⊕ embedding cosine top-20, RRF k=60, final top-10
      // — the standard hybrid-search combiner over the shared id space;
      // fusion is a full-outer join of two ≤20-row frames
      (s, d) => TextAnalysis.rrfHybridTopK(
        Tables.documents(s, d), Tables.embeddings(s, d), "text", "doc_id",
        Seq("hash", "join", "vector"), queryId = 0),
      Some(Sentiment.oracleCte +
        s""",
          |$evecCteSql,
          |bs AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
          |    CAST(SUM(len(tokens)) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
          |  FROM toks),
          |bt AS (SELECT doc_id, CAST(len(tokens) AS BIGINT) AS dl,
          |    unnest(list_filter(tokens, t -> t IN ('hash', 'join', 'vector'))) AS t
          |  FROM toks),
          |btf AS (SELECT doc_id, dl, t, CAST(count(*) AS DOUBLE) AS tf
          |  FROM bt GROUP BY doc_id, dl, t),
          |bdf AS (SELECT t, CAST(count(*) AS BIGINT) AS nt FROM btf GROUP BY t),
          |bsc AS (SELECT doc_id, ROUND(SUM(
          |      ln((CAST(n_docs AS DOUBLE) - CAST(nt AS DOUBLE) + CAST(0.5 AS DOUBLE))
          |          / (CAST(nt AS DOUBLE) + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE))
          |      * tf * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE))
          |      / (tf + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE)
          |          + CAST(0.75 AS DOUBLE) * CAST(dl AS DOUBLE) / avgdl))), 6) AS score
          |  FROM btf JOIN bdf USING (t), bs GROUP BY doc_id),
          |lr AS (SELECT doc_id AS id, row_number() OVER (ORDER BY score DESC, doc_id)
          |    AS lex_rank FROM bsc QUALIFY lex_rank <= 20),
          |q AS (SELECT v AS qv FROM evec WHERE vec_id = 0),
          |sc AS (SELECT vec_id, ROUND(${cosineSql("v", "qv")}, 6) AS cos
          |  FROM evec, q WHERE vec_id <> 0),
          |sr AS (SELECT vec_id AS id, row_number() OVER (ORDER BY cos DESC, vec_id)
          |    AS sem_rank FROM sc QUALIFY sem_rank <= 20),
          |f AS (SELECT COALESCE(lr.id, sr.id) AS id, lex_rank, sem_rank
          |  FROM lr FULL OUTER JOIN sr ON lr.id = sr.id)
          |SELECT id, lex_rank, sem_rank,
          |  ROUND(COALESCE(CAST(1.0 AS DOUBLE)
          |      / (CAST(60.0 AS DOUBLE) + CAST(lex_rank AS DOUBLE)), CAST(0.0 AS DOUBLE))
          |    + COALESCE(CAST(1.0 AS DOUBLE)
          |      / (CAST(60.0 AS DOUBLE) + CAST(sem_rank AS DOUBLE)), CAST(0.0 AS DOUBLE)), 6)
          |    AS rrf
          |FROM f ORDER BY rrf DESC, id LIMIT 10""".stripMargin)),

    Q("ev_funnel_windowed",
      // funnel with a 24 h conversion window from first touch — the form
      // product analytics reports; fixed per-user deadline keeps greedy
      // earliest-hit provably optimal (per-STEP deadlines would not)
      (s, d) => Analytics.funnelWindowed(Tables.events(s, d),
        Seq("view", "click", "purchase"), windowSec = 86400),
      Some("""WITH e AS (SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
             |f1 AS (SELECT user_id, MIN(us) AS t,
             |    MIN(us) + CAST(86400 AS BIGINT) * 1000000 AS dl
             |  FROM e WHERE event_type = 'view' GROUP BY user_id),
             |f2 AS (SELECT e.user_id, MIN(dl) AS dl, MIN(us) AS t
             |  FROM e JOIN f1 USING (user_id)
             |  WHERE event_type = 'click' AND us > f1.t AND us <= f1.dl
             |  GROUP BY e.user_id),
             |f3 AS (SELECT e.user_id, MIN(us) AS t FROM e JOIN f2 USING (user_id)
             |  WHERE event_type = 'purchase' AND us > f2.t AND us <= f2.dl
             |  GROUP BY e.user_id),
             |c AS (
             |  SELECT 1 AS stage, 'view' AS stage_name, (SELECT CAST(count(*) AS BIGINT) FROM f1) AS n_users
             |  UNION ALL SELECT 2, 'click', (SELECT CAST(count(*) AS BIGINT) FROM f2)
             |  UNION ALL SELECT 3, 'purchase', (SELECT CAST(count(*) AS BIGINT) FROM f3))
             |SELECT CAST(stage AS INT) AS stage, stage_name, n_users,
             |  ROUND(CAST(n_users AS DOUBLE) / (SELECT CAST(count(*) AS DOUBLE) FROM f1), 6) AS conversion
             |FROM c ORDER BY stage""".stripMargin)),

    Q("ev_cpd",
      // CUSUM change-point scan (Page 1954): S_t = Σ(x_i − x̄) over the
      // daily counts, |S| peak flagged — fact rows collapse to O(days)
      // first; both engines run the identical day-ordered IEEE sum so
      // the peak flag needs no epsilon
      (s, d) => Analytics.cusumChangePoint(Tables.events(s, d)),
      Some("""WITH daily AS (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             |    CAST(count(*) AS BIGINT) AS cnt FROM events GROUP BY 1),
             |m AS (SELECT SUM(CAST(cnt AS DOUBLE)) / count(*) AS xbar FROM daily),
             |s AS (SELECT day, cnt, SUM(CAST(cnt AS DOUBLE) - xbar)
             |    OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs
             |  FROM daily, m),
             |mx AS (SELECT MAX(abs(cs)) AS mxv FROM s)
             |SELECT strftime(day, '%Y-%m-%d') AS day, cnt,
             |  -- + 0.0 normalizes IEEE −0.0 (the full-series sum of
             |  -- deviations is exactly zero; Spark's ROUND drops the sign,
             |  -- DuckDB's keeps it)
             |  ROUND(cs, 6) + CAST(0.0 AS DOUBLE) AS cusum,
             |  abs(cs) = mxv AS is_peak
             |FROM s, mx ORDER BY day""".stripMargin)),

    Q("ts_holt_forecast",
      // Holt linear-trend smoothing per event type — the forecasting arm
      // of the ts_ family: level/trend recurrences folded ROW-LOCALLY
      // over each type's ordered day array (bounded by the date span),
      // 1- and 7-step linear forecasts out. Dyadic α=0.5, β=0.25 keep
      // the engine and the oracle's recursive CTE bit-identical with no
      // per-step rounding
      (s, d) => Analytics.holtForecast(Tables.events(s, d)),
      Some("""WITH RECURSIVE hd AS (
             |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             |    CAST(count(*) AS BIGINT) AS y FROM events GROUP BY 1, 2),
             |hr AS (SELECT event_type, y,
             |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY day) AS INT) AS t
             |  FROM hd),
             |hn AS (SELECT event_type, CAST(count(*) AS INT) AS n FROM hr GROUP BY 1),
             |hw(event_type, t, l, b) AS (
             |  SELECT event_type, 1, CAST(y AS DOUBLE), CAST(0.0 AS DOUBLE)
             |  FROM hr WHERE t = 1
             |  UNION ALL
             |  SELECT r.event_type, r.t,
             |    CAST(0.5 AS DOUBLE) * CAST(r.y AS DOUBLE)
             |      + CAST(0.5 AS DOUBLE) * (hw.l + hw.b),
             |    CAST(0.25 AS DOUBLE) * ((CAST(0.5 AS DOUBLE) * CAST(r.y AS DOUBLE)
             |        + CAST(0.5 AS DOUBLE) * (hw.l + hw.b)) - hw.l)
             |      + CAST(0.75 AS DOUBLE) * hw.b
             |  FROM hw JOIN hr r ON r.event_type = hw.event_type AND r.t = hw.t + 1)
             |SELECT hw.event_type, hn.n AS n_days,
             |  ROUND(l, 6) AS level, ROUND(b, 6) AS trend,
             |  ROUND(l + b, 6) AS forecast_1,
             |  ROUND(l + CAST(7.0 AS DOUBLE) * b, 6) AS forecast_7
             |FROM hw JOIN hn ON hw.event_type = hn.event_type AND hw.t = hn.n
             |ORDER BY hw.event_type""".stripMargin)),

    Q("ts_stl",
      // additive seasonal decomposition: centered 7-day MA trend (NULL
      // edges — no invented values), day-of-week seasonal means of the
      // detrended series (ROUND(6) before the residual), residual =
      // observed − trend − seasonal; dow emitted 0=Sunday on both engines
      (s, d) => Analytics.stlDecompose(Tables.events(s, d)),
      Some("""WITH daily AS (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             |    CAST(count(*) AS BIGINT) AS cnt FROM events GROUP BY 1),
             |t AS (SELECT day, cnt,
             |    CASE WHEN count(*) OVER w = 7
             |      THEN SUM(CAST(cnt AS DOUBLE)) OVER w / CAST(7.0 AS DOUBLE) END AS trend,
             |    dayofweek(day) AS dow
             |  FROM daily
             |  WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
             |d2 AS (SELECT day, cnt, trend, dow,
             |    CAST(cnt AS DOUBLE) - trend AS det FROM t),
             |se AS (SELECT dow, ROUND(AVG(det), 6) + CAST(0.0 AS DOUBLE) AS seasonal FROM d2 GROUP BY dow)
             |SELECT strftime(day, '%Y-%m-%d') AS day, dow, cnt, trend, seasonal,
             |  ROUND(det - seasonal, 6) + CAST(0.0 AS DOUBLE) AS residual
             |FROM d2 JOIN se USING (dow) ORDER BY day""".stripMargin)),

    Q("ts_sax_symbols",
      // SAX symbolization (Lin et al. 2003) of each event type's
      // daily-mean value series: z-normalize, 5-day PAA segment means,
      // standard-normal quartile breakpoints → one short a-d word per
      // series (the discretization motif/anomaly search runs string
      // algorithms on). Every arithmetic boundary feeding a comparison
      // or a downstream mean is ROUND(6)ed on both sides, so the symbol
      // binning compares identical doubles
      (s, d) => Analytics.saxSymbols(Tables.events(s, d)),
      Some("""WITH xdaily AS (
             |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             |    ROUND(AVG(value), 6) AS dv
             |  FROM events GROUP BY 1, 2),
             |xstats AS (
             |  SELECT event_type, ROUND(AVG(dv), 6) AS mu,
             |    ROUND(stddev_pop(dv), 6) AS sd, MIN(day) AS d0,
             |    CAST(count(*) AS BIGINT) AS n_days
             |  FROM xdaily GROUP BY 1),
             |xz AS (
             |  SELECT d.event_type,
             |    date_diff('day', s.d0, d.day) // 5 AS seg,
             |    CASE WHEN s.sd > 0 THEN ROUND((d.dv - s.mu) / s.sd, 6)
             |      ELSE CAST(0.0 AS DOUBLE) END AS z
             |  FROM xdaily d JOIN xstats s USING (event_type)),
             |xsym AS (
             |  SELECT event_type, seg,
             |    CASE WHEN pz < -0.6745 THEN 'a' WHEN pz < 0.0 THEN 'b'
             |      WHEN pz < 0.6745 THEN 'c' ELSE 'd' END AS sym
             |  FROM (SELECT event_type, seg, ROUND(AVG(z), 6) AS pz
             |    FROM xz GROUP BY 1, 2))
             |SELECT y.event_type, string_agg(sym, '' ORDER BY seg) AS sax,
             |  CAST(count(*) AS BIGINT) AS n_segments, MAX(st.n_days) AS n_days,
             |  MAX(st.mu) AS mean_daily, MAX(st.sd) AS sd_daily
             |FROM xsym y JOIN xstats st USING (event_type)
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("v4_seam_pipeline",
      // the V4 inference seam carrying a scorer that genuinely DISAGREES
      // with the lexicon (the hashed-logistic model, driver-side batch
      // inference through scoreWithModel's mapPartitions) — then the
      // UNCHANGED downstream family: F8 thresholding, F7 original_score,
      // A1 distribution + A6-style per-class stats. Hash-green here
      // proves the downstream is model-agnostic (SURVEY §7.1): swap the
      // model, nothing downstream changes
      (s, d) => Sentiment.scoreWithModel(
          Tables.documents(s, d).select("doc_id", "text"),
          Sentiment.hashedBatchScorer)
        .groupBy("sentiment")
        .agg(count(lit(1)).as("cnt"),
          round(avg(col("confidence")), 6).as("avg_confidence"),
          round(avg(col("original_score")), 6).as("avg_score"))
        .orderBy("sentiment"),
      Some(Sentiment.oracleCte + ",\n" + seamCteSql +
        """
          |SELECT sentiment, CAST(count(*) AS BIGINT) AS cnt,
          |  ROUND(AVG(confidence), 6) AS avg_confidence,
          |  ROUND(AVG(original_score), 6) AS avg_score
          |FROM hscored GROUP BY sentiment ORDER BY sentiment""".stripMargin)),

    Q("v4_seam_disagreement",
      // lexicon-vs-seam confusion matrix: the measured proof the hashed
      // scorer carried through the V4 seam holds DIFFERENT opinions (off-
      // diagonal mass > 0, pinned in SentimentSpec) — i.e. the seam is a
      // real model swap, not a re-labeled copy of the expression path
      (s, d) => {
        val docs = Tables.documents(s, d)
        val lex = Sentiment.score(docs)
          .select(col("doc_id"), col("sentiment").as("lex_sentiment"))
        val seam = Sentiment.scoreWithModel(
            docs.select("doc_id", "text"), Sentiment.hashedBatchScorer)
          .select(col("doc_id"), col("sentiment").as("seam_sentiment"))
        lex.join(seam, "doc_id")
          .groupBy("lex_sentiment", "seam_sentiment")
          .agg(count(lit(1)).as("cnt"))
          .orderBy("lex_sentiment", "seam_sentiment")
      },
      Some(Sentiment.oracleCte + ",\n" + seamCteSql +
        """
          |SELECT sent.sentiment AS lex_sentiment,
          |  hsent.sentiment AS seam_sentiment, CAST(count(*) AS BIGINT) AS cnt
          |FROM sent JOIN hsent USING (doc_id)
          |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    Q("v4_model_scores",
      // a REAL model runtime through the V4 seam (r8 VERDICT task 1):
      // an actual neural network (hashed-bag -> ReLU hidden -> 2-class
      // logits) executed as batched tensor math from a LOADED ARTIFACT
      // via a per-JVM session cache, wired through scoreWithModel's
      // mapPartitions batch loop (the reference's batch-100 semantics,
      // Context_analyzer_RoBERTa_fun.py:623-647). This entry is the
      // strongest gate: PER-DOCUMENT label + exact-double confidence,
      // hash-matched against the DuckDB replay of the full forward pass
      // (oracle SQL generated FROM the model object — weights cannot
      // drift). Artifact I/O, session caching, and batch matmul are
      // real; only the weights are deterministic stand-ins (no model
      // zoo in a zero-egress container) — see MlpSentiment scaladoc.
      (s, d) => Sentiment.scoreWithModel(
          Tables.documents(s, d).select("doc_id", "text"),
          ml.MlpSentiment.batchScorer(mlpArtifact()))
        .select(col("doc_id"), col("raw_label"), col("confidence"),
          col("sentiment"))
        .orderBy("doc_id"),
      Some(Sentiment.oracleCte + ",\n" +
        ml.MlpSentiment.oracleCtes(ml.MlpSentiment.defaultModel) +
        """
          |SELECT doc_id, raw_label, confidence, sentiment FROM msent
          |ORDER BY doc_id""".stripMargin)),

    Q("v4_length_batching",
      // the measured case for length-sorting a corpus before the V4
      // inference seam: fixed-size batches pad every sequence to their
      // longest member, so arrival-order batching pays max(len) next to
      // short rows while length-sorted batches are near-uniform. Both
      // global orderings run through the range-bucketed two-phase rank
      // (never a single-partition window); the report is an O(batches)
      // reduction. waste_ratio = 1 - total/padded per strategy
      (s, d) => operators.MLEval.lengthBatchingReport(
        Tables.documents(s, d), "text", "doc_id", batchSize = 32),
      Some(Sentiment.oracleCte +
        """,
          |lens AS (SELECT doc_id, CAST(len(tokens) AS BIGINT) AS len FROM toks),
          |nv AS (SELECT len, row_number() OVER (ORDER BY doc_id) AS rnk FROM lens),
          |sr AS (SELECT len, row_number() OVER (ORDER BY len, doc_id) AS rnk FROM lens),
          |nb AS (SELECT (rnk - 1) // 32 AS b, CAST(count(*) AS BIGINT) AS n,
          |    max(len) AS mx, CAST(sum(len) AS BIGINT) AS s FROM nv GROUP BY 1),
          |sb AS (SELECT (rnk - 1) // 32 AS b, CAST(count(*) AS BIGINT) AS n,
          |    max(len) AS mx, CAST(sum(len) AS BIGINT) AS s FROM sr GROUP BY 1),
          |rep AS (
          |  SELECT 'arrival_order' AS strategy,
          |    CAST(count(*) AS BIGINT) AS n_batches,
          |    CAST(sum(s) AS BIGINT) AS total_tokens,
          |    CAST(sum(n * mx) AS BIGINT) AS padded_tokens FROM nb
          |  UNION ALL
          |  SELECT 'length_sorted', CAST(count(*) AS BIGINT),
          |    CAST(sum(s) AS BIGINT), CAST(sum(n * mx) AS BIGINT) FROM sb)
          |SELECT strategy, n_batches, total_tokens, padded_tokens,
          |  ROUND(CAST(1.0 AS DOUBLE) - CAST(total_tokens AS DOUBLE)
          |    / CAST(padded_tokens AS DOUBLE), 6) AS waste_ratio
          |FROM rep ORDER BY strategy""".stripMargin)),

    Q("v4_model_pipeline",
      // the model runtime composed with the UNCHANGED downstream family
      // (F8 thresholding, F7 original_score, A1/A6 aggregations) — the
      // v4_seam_pipeline shape with the MLP in the model slot: swap the
      // artifact, nothing downstream changes, everything stays
      // hash-green
      (s, d) => Sentiment.scoreWithModel(
          Tables.documents(s, d).select("doc_id", "text"),
          ml.MlpSentiment.batchScorer(mlpArtifact()))
        .groupBy("sentiment")
        .agg(count(lit(1)).as("cnt"),
          round(avg(col("confidence")), 6).as("avg_confidence"),
          round(avg(col("original_score")), 6).as("avg_score"))
        .orderBy("sentiment"),
      Some(Sentiment.oracleCte + ",\n" +
        ml.MlpSentiment.oracleCtes(ml.MlpSentiment.defaultModel) +
        """
          |SELECT sentiment, CAST(count(*) AS BIGINT) AS cnt,
          |  ROUND(AVG(confidence), 6) AS avg_confidence,
          |  ROUND(AVG(original_score), 6) AS avg_score
          |FROM mscored GROUP BY sentiment ORDER BY sentiment""".stripMargin)),

    Q("v4_attn_scores",
      // a TRANSFORMER-SHAPED runtime through the V4 seam (r11 VERDICT
      // task 1): frozen int-quantized single-block self-attention —
      // token+positional embeddings, Q/K/V projections, token-to-token
      // scores, integer softmax surrogate, weighted-value aggregation
      // with residual, requantization, mean-pool, linear head — loaded
      // from a binary artifact via the per-JVM session cache and run in
      // scoreWithModel's mapPartitions batch loop (the reference's
      // DistilBERT stage shape, Context_analyzer_RoBERTa_fun.py:520-532,
      // 623-647). PER-DOCUMENT gate: every label and exact-double
      // confidence hash-matched against the DuckDB replay of the whole
      // attention block (pure BIGINT math — the oracle SQL is generated
      // FROM the model object, so weights cannot drift)
      (s, d) => Sentiment.scoreWithModel(
          Tables.documents(s, d).select("doc_id", "text"),
          ml.AttnSentiment.batchScorer(attnArtifact()))
        .select(col("doc_id"), col("raw_label"), col("confidence"),
          col("sentiment"))
        .orderBy("doc_id"),
      Some(Sentiment.oracleCte + ",\n" +
        ml.AttnSentiment.oracleCtes(ml.AttnSentiment.defaultModel) +
        """
          |SELECT doc_id, raw_label, confidence, sentiment FROM atsent
          |ORDER BY doc_id""".stripMargin)),

    Q("v4_attn_pipeline",
      // the attention runtime composed with the UNCHANGED downstream
      // family (F8 thresholding, F7 original_score, A1 aggregation) —
      // swap the artifact in the model slot, nothing downstream changes,
      // everything stays hash-green. The corpus is length-sorted WITHIN
      // partitions before the seam (narrow, zero shuffle): batches then
      // hold near-uniform sequence lengths, the measured
      // v4_length_batching win — for a padding runtime that is the
      // padding-waste elimination; here it keeps each batch's attention
      // cost (quadratic in seq len) uniform instead of max-bound
      (s, d) => Sentiment.scoreWithModel(
          Tables.documents(s, d).select("doc_id", "text")
            .sortWithinPartitions(size(TextFns.tokens(col("text")))),
          ml.AttnSentiment.batchScorer(attnArtifact()))
        .groupBy("sentiment")
        .agg(count(lit(1)).as("cnt"),
          round(avg(col("confidence")), 6).as("avg_confidence"),
          round(avg(col("original_score")), 6).as("avg_score"))
        .orderBy("sentiment"),
      Some(Sentiment.oracleCte + ",\n" +
        ml.AttnSentiment.oracleCtes(ml.AttnSentiment.defaultModel) +
        """
          |SELECT sentiment, CAST(count(*) AS BIGINT) AS cnt,
          |  ROUND(AVG(confidence), 6) AS avg_confidence,
          |  ROUND(AVG(original_score), 6) AS avg_score
          |FROM atscored GROUP BY sentiment ORDER BY sentiment""".stripMargin)),

    Q("v4_attn_order",
      // the ORDER-SENSITIVITY certificate at catalog level: each panel
      // document scored twice through the attention seam — original
      // token order and token-reversed — with both exact-double
      // confidences and the differs flag hash-gated. AttnSentimentSpec
      // pins the property unit-level; this pins it against the DuckDB
      // replay of BOTH forward passes, which no bag-of-words scorer in
      // the seam (lexicon, hashed-logistic, MLP) could pass with any
      // non-trivial differs column: positional encodings are the only
      // order-carrying term in the engine's model family
      (s, d) => {
        val base = Tables.documents(s, d).filter(col("doc_id") < 50)
          .select("doc_id", "text")
        val rev = base.select((col("doc_id") + 100000).as("doc_id"),
          array_join(reverse(TextFns.tokens(col("text"))), " ").as("text"))
        val scored = Sentiment.scoreWithModel(base.unionByName(rev),
            ml.AttnSentiment.batchScorer(attnArtifact()))
          .select("doc_id", "confidence")
        val fwd = scored.filter(col("doc_id") < 100000)
          .select(col("doc_id"), col("confidence").as("conf"))
        val bwd = scored.filter(col("doc_id") >= 100000)
          .select((col("doc_id") - 100000).as("doc_id"),
            col("confidence").as("conf_rev"))
        fwd.join(bwd, "doc_id")
          .select(col("doc_id"), col("conf"), col("conf_rev"),
            (col("conf") =!= col("conf_rev")).as("order_sensitive"))
          .orderBy("doc_id")
      },
      Some("""WITH t0 AS (
             |  SELECT doc_id, text,
             |    list_filter(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' '),
             |                t -> t <> '') AS tokens
             |  FROM documents WHERE doc_id < 50),
             |toks AS (
             |  SELECT doc_id, text, tokens FROM t0
             |  UNION ALL
             |  SELECT doc_id + 100000, array_to_string(list_reverse(tokens), ' '),
             |    list_reverse(tokens) FROM t0),
             |""".stripMargin +
        ml.AttnSentiment.oracleCtes(ml.AttnSentiment.defaultModel) +
        """
          |SELECT a.doc_id, a.confidence AS conf, b.confidence AS conf_rev,
          |  a.confidence <> b.confidence AS order_sensitive
          |FROM atsent a JOIN atsent b ON b.doc_id = a.doc_id + 100000
          |WHERE a.doc_id < 100000
          |ORDER BY a.doc_id""".stripMargin)),

    Q("v4_attn_trained",
      // the TRAINED attention scorer (r12 VERDICT task 3): same
      // architecture and runtime as v4_attn_scores, but the value path
      // + head are FIT IN-REPO to the lexicon teacher by deterministic
      // integer coordinate descent over the frozen attention pattern
      // (ml.AttnTrain — zero-init probe, accuracy-first objective,
      // even-doc_id train split; held-out accuracy beats the
      // hand-derived weights, pinned in AttnSentimentSpec). Inference
      // stays exact 64-bit integer math, so the per-document hash gate
      // is unchanged: every label and exact-double confidence matched
      // against the DuckDB replay generated FROM the trained model —
      // training cannot drift the oracle
      (s, d) => Sentiment.scoreWithModel(
          Tables.documents(s, d).select("doc_id", "text"),
          ml.AttnSentiment.batchScorer(attnTrainedArtifact,
            ml.AttnTrain.trainedConfDenom))
        .select(col("doc_id"), col("raw_label"), col("confidence"),
          col("sentiment"))
        .orderBy("doc_id"),
      Some(Sentiment.oracleCte + ",\n" +
        ml.AttnSentiment.oracleCtes(ml.AttnTrain.trainedModel,
          ml.AttnTrain.trainedConfDenom) +
        """
          |SELECT doc_id, raw_label, confidence, sentiment FROM atsent
          |ORDER BY doc_id""".stripMargin)),

    Q("v4_attn_trained_pipeline",
      // the trained scorer composed with the UNCHANGED downstream
      // family (F8 thresholding, F7 original_score, A1 aggregation) —
      // the third artifact swapped through the same model slot
      // (hashed-logistic, MLP, hand-derived attention, now trained
      // attention), nothing downstream changes, everything hash-green:
      // the model-agnostic seam contract of SURVEY §7.1
      (s, d) => Sentiment.scoreWithModel(
          Tables.documents(s, d).select("doc_id", "text")
            .sortWithinPartitions(size(TextFns.tokens(col("text")))),
          ml.AttnSentiment.batchScorer(attnTrainedArtifact,
            ml.AttnTrain.trainedConfDenom))
        .groupBy("sentiment")
        .agg(count(lit(1)).as("cnt"),
          round(avg(col("confidence")), 6).as("avg_confidence"),
          round(avg(col("original_score")), 6).as("avg_score"))
        .orderBy("sentiment"),
      Some(Sentiment.oracleCte + ",\n" +
        ml.AttnSentiment.oracleCtes(ml.AttnTrain.trainedModel,
          ml.AttnTrain.trainedConfDenom) +
        """
          |SELECT sentiment, CAST(count(*) AS BIGINT) AS cnt,
          |  ROUND(AVG(confidence), 6) AS avg_confidence,
          |  ROUND(AVG(original_score), 6) AS avg_score
          |FROM atscored GROUP BY sentiment ORDER BY sentiment""".stripMargin))
  )

  /** The MLP model artifact for the `v4_model_*` entries, written once
    * per session (weights are a pure function of the derivation tags —
    * no source-data dependency to key on). The entries only ever consume
    * the LOADED file, exercising the full artifact → session-cache →
    * batch-inference runtime path. */
  private def mlpArtifact(): String = {
    val f = new java.io.File("spark-warehouse/graft_state/mlp_v1.bin")
    if (!f.exists) ml.MlpSentiment.save(ml.MlpSentiment.defaultModel, f.getPath)
    f.getAbsolutePath
  }

  /** The attention model artifact for the `v4_attn_*` entries — same
    * write-once-per-session contract as [[mlpArtifact]]. */
  private def attnArtifact(): String = {
    val f = new java.io.File("spark-warehouse/graft_state/attn_v1.bin")
    if (!f.exists) ml.AttnSentiment.save(ml.AttnSentiment.defaultModel, f.getPath)
    f.getAbsolutePath
  }

  /** The TRAINED attention artifact for the `v4_attn_trained*` entries.
    * Unlike the derived-weight artifacts this one is REWRITTEN once per
    * session rather than written-if-absent: training is deterministic,
    * so the bytes can only ever be identical, and the unconditional
    * save guarantees a stale file from an older trainer version can
    * never serve weights the (freshly generated) oracle SQL doesn't
    * carry. The entries still consume the LOADED file through the
    * per-JVM session cache — the full artifact runtime path. */
  private lazy val attnTrainedArtifact: String = {
    val f = new java.io.File("spark-warehouse/graft_state/attn_trained_v1.bin")
    ml.AttnSentiment.save(ml.AttnTrain.trainedModel, f.getPath)
    f.getAbsolutePath
  }

  /** Flagship query on sf=0.001; driver smoke-checks rows > 0. */
  def entry(spark: SparkSession): DataFrame =
    Analytics.distributionWithPct(
      Sentiment.score(Tables.documents(spark, "/root/testdata/sf0.001")), "sentiment")

  def queries: Map[String, QFn] = catalog.map(q => q.name -> q.fn).toMap

  def oracleSql: Map[String, String] =
    catalog.flatMap(q => q.oracle.map(sql => q.name -> sql)).toMap
}
