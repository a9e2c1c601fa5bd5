package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFns

/** Text-analysis operators for a training-data pipeline: language ID,
  * quality scoring, token counting, document fingerprinting. All pure
  * column expressions — per-row, shuffle-free, SQL-oracle-expressible.
  *
  * Operators returning `localCheckpoint(eager = true)` follow the
  * eager-materialization contract documented on [[MLEval]]: executed at
  * call time, lineage truncated, not lazily composable.
  */
object TextAnalysis {

  /** Function-word lexicons per language (tiny n-gram-free heuristic; the
    * operator is the engine surface, the lexicons are config). Iteration
    * order is the deterministic tie-break priority. */
  val LangLexicons: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "en" -> Seq("the", "and", "is", "of", "a"),
    "es" -> Seq("el", "los", "es", "y", "una"),
    "fr" -> Seq("le", "les", "est", "et", "une"))

  /** Language-ID: argmax of per-language function-word hits over the
    * token stream; all-zero rows → "und". Ties resolve to the first
    * language in [[LangLexicons]] order. */
  def languageId(text: Column): Column = {
    val toks = TextFns.tokens(lower(text))
    val hits = LangLexicons.map { case (lang, words) =>
      lang -> size(filter(toks, t => t.isin(words: _*)))
    }
    val best = hits.map(_._2).reduce((a, b) => greatest(a, b))
    hits.foldRight(lit("und"): Column) { case ((lang, h), acc) =>
      when(h === best && best > 0, lit(lang)).otherwise(acc)
    }
  }

  /** Quality score in [0,1]: length saturation + stopword share + alpha
    * share (the reference's quality idea — ref
    * `Context_analyzer_RoBERTa_fun.py:200-247` scores on length+keywords —
    * widened to the standard pretraining-corpus heuristics). */
  def qualityScore(text: Column): Column = {
    val toks = TextFns.tokens(text)
    val wc = size(toks)
    val lengthTerm = least(lit(1.0), wc.cast("double") / lit(50.0))
    val stopHits = size(filter(toks, t => t.isin(Analytics.StopWords: _*)))
    val stopTerm = least(lit(1.0),
      stopHits.cast("double") / greatest(wc, lit(1)).cast("double") * lit(5.0))
    val alphaChars = length(regexp_replace(text, "[^a-zA-Z]", ""))
    val alphaTerm = alphaChars.cast("double") / greatest(length(text), lit(1)).cast("double")
    round(lengthTerm * lit(0.4) + stopTerm * lit(0.3) + alphaTerm * lit(0.3), 9)
  }

  /** Token-count pair: whitespace tokens + a BPE-ish regex segmentation
    * (letter runs, digit runs, single other non-space chars). */
  val BpeishPattern = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"
  def whitespaceTokenCount(text: Column): Column = size(TextFns.tokens(text)).cast("long")
  def bpeishTokenCount(text: Column): Column = regexp_count(text, lit(BpeishPattern))

  /** Polynomial rolling-hash fingerprint over the token stream, engine-
    * portable (no engine hash functions): fold
    * h = (h*31 + len(t)*17 + ascii(t[0])) mod 1e9+7. Keeps every
    * intermediate below 2^63 so BIGINT arithmetic agrees across engines. */
  def fingerprint(text: Column): Column = {
    val vs = transform(TextFns.tokens(text),
      t => (length(t) * lit(17) + ascii(substring(t, 1, 1))).cast("long"))
    aggregate(vs, lit(0L), (h, v) => pmod(h * lit(31L) + v, lit(1000000007L)))
  }

  /** Training-data chunking: overlapping token windows of `size` tokens
    * with stride `size - overlap` — the context-window packing step of an
    * LLM data pipeline. One generator per doc (narrow, shuffle-free);
    * chunk 0 always exists (short docs yield their whole text), later
    * chunks only where a full stride fits. Returns (…, chunk_id, chunk). */
  def chunkTokens(df: DataFrame, textCol: String, idCol: String,
                  chunkSize: Int, overlap: Int): DataFrame = {
    require(overlap >= 0 && overlap < chunkSize, "need 0 <= overlap < chunkSize")
    val stride = chunkSize - overlap
    val toksDf = df.select(col(idCol), TextFns.tokens(col(textCol)).as("toks"))
    val nChunks = greatest(lit(1L),
      ceil((size(col("toks")) - lit(overlap)).cast("double") / lit(stride)).cast("long"))
    toksDf
      .select(col(idCol), col("toks"),
        explode(sequence(lit(0L), nChunks - 1)).as("chunk_id"))
      .select(col(idCol), col("chunk_id"),
        concat_ws(" ",
          slice(col("toks"), (col("chunk_id") * stride + 1).cast("int"), lit(chunkSize)))
          .as("chunk"))
  }

  /** PII-style redaction for training corpora: emails, URLs, and long
    * digit runs replaced by typed placeholder tokens. Order matters (URLs
    * can contain digit runs); the regexes are RE2-safe so the same
    * patterns run in the DuckDB oracle. */
  def redact(text: Column): Column = {
    val email = regexp_replace(text, "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    val url = regexp_replace(email, "https?://[^\\s]+|www\\.[^\\s]+", "<URL>")
    regexp_replace(url, "\\d{6,}", "<NUM>")
  }

  /** Deterministic train/val/test assignment from the stable id — no RNG,
    * reproducible across engines and runs: Knuth multiplicative hash of
    * the id into [0,100), split 80/10/10. The id is reduced mod 1e9+7
    * BEFORE the multiply so the product stays under 2^63 for any BIGINT
    * id — a raw multiply would wrap in Spark but error in ANSI engines,
    * silently breaking cross-engine determinism at large ids. */
  def datasetSplit(id: Column): Column = {
    val bucket = pmod(pmod(id, lit(1000000007L)) * lit(2654435761L), lit(100L))
    when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
  }

  /** Deterministic stratified downsampling — the reproducible form of
    * `df.stat.sampleBy` a training pipeline wants (e.g. downsample
    * overrepresented languages): keep a row iff its id's hash bucket (the
    * same mod-reduced Knuth scheme as [[datasetSplit]], per-mille
    * resolution) falls under the stratum's fraction. No RNG, so the
    * sample is identical across engines, runs, retries, and cluster
    * sizes, and is a pure narrow filter — at 100 TB it pushes into the
    * scan stage and costs nothing beyond the read. Strata absent from
    * `fractions` use `defaultFraction`. */
  def hashStratifiedSample(df: org.apache.spark.sql.DataFrame, idCol: String,
                           strataCol: String, fractions: Map[String, Double],
                           defaultFraction: Double): org.apache.spark.sql.DataFrame = {
    require((fractions.values ++ Seq(defaultFraction)).forall(f => f >= 0 && f <= 1),
      "fractions must be in [0, 1]")
    val bucket = pmod(pmod(col(idCol), lit(1000000007L)) * lit(2654435761L), lit(1000L))
    val threshold = fractions.foldLeft(lit((defaultFraction * 1000).toLong)) {
      case (acc, (stratum, f)) =>
        when(col(strataCol) === stratum, lit((f * 1000).toLong)).otherwise(acc)
    }
    df.filter(bucket < threshold)
  }

  /** Repetition-based quality metrics — the Gopher/C4-family filters a
    * pretraining pipeline runs before training (Rae et al. 2021 §A1.1
    * "repetition" signals): per document,
    *  - `dup_ngram_frac`  = 1 - distinct/total n-gram occurrences
    *    (how much of the text is repeated phrasing),
    *  - `top_ngram_frac`  = occurrences of the most frequent n-gram /
    *    total (degenerate-loop detector),
    *  - `dup_token_frac`  = 1 - distinct/total tokens.
    * Shape: one non-distinct shingling pass (native codegen'd
    * [[graft.plans.ShingleArray]]), one (id, gram) count, one per-id
    * reduce — two key shuffles, no joins, linear at any scale. Docs with
    * fewer than n tokens have no n-grams: fractions 0 by definition.
    * Count ratios divide exactly (long→double) on every engine — no
    * rounding needed for the oracle. */
  def repetitionProfile(df: org.apache.spark.sql.DataFrame, textCol: String,
                        idCol: String, n: Int = 3): org.apache.spark.sql.DataFrame = {
    val grams = df
      .select(col(idCol), TextFns.tokens(col(textCol)).as("toks"))
      .select(col(idCol), col("toks"),
        graft.plans.ShingleArray.allShingles(col("toks"), n).as("gs"))
      .select(col(idCol),
        size(col("toks")).cast("long").as("n_tokens"),
        size(array_distinct(col("toks"))).cast("long").as("n_tokens_distinct"),
        explode_outer(col("gs")).as("g"))
    val perGram = grams
      .groupBy(col(idCol), col("n_tokens"), col("n_tokens_distinct"), col("g"))
      .agg(count(col("g")).as("c"))
    perGram
      .groupBy(col(idCol), col("n_tokens"), col("n_tokens_distinct"))
      .agg(
        coalesce(sum(col("c")), lit(0L)).as("total_ngrams"),
        coalesce(max(col("c")), lit(0L)).as("top"),
        coalesce(sum(when(col("g").isNotNull, 1L)), lit(0L)).as("dist"))
      .select(col(idCol), col("n_tokens"), col("total_ngrams"),
        when(col("total_ngrams") > 0,
          lit(1.0) - col("dist").cast("double") / col("total_ngrams").cast("double"))
          .otherwise(lit(0.0)).as("dup_ngram_frac"),
        when(col("total_ngrams") > 0,
          col("top").cast("double") / col("total_ngrams").cast("double"))
          .otherwise(lit(0.0)).as("top_ngram_frac"),
        when(col("n_tokens") > 0,
          lit(1.0) - col("n_tokens_distinct").cast("double") / col("n_tokens").cast("double"))
          .otherwise(lit(0.0)).as("dup_token_frac"))
      .orderBy(idCol)
  }

  /** Context-window sequence packing — the step that concatenates
    * documents into fixed-`budget` training sequences (GPT-style pack
    * then split). Documents route to `buckets` independent packing
    * streams by id mod (per-worker packing, the standard at scale:
    * buckets ~ cluster width, each stream packs its own token
    * concatenation), are concatenated in id order, and each doc is
    * labeled with the sequence index and offset where its FIRST token
    * lands — contiguous-stream semantics, oversized docs simply span
    * sequence boundaries. The only window runs per `__pid` bucket (the
    * [[Analytics]] distributed-rank precedent); everything is integer
    * arithmetic, so the assignment is deterministic and cross-engine
    * reproducible. */
  def packSequences(df: org.apache.spark.sql.DataFrame, textCol: String,
                    idCol: String, budget: Int,
                    buckets: Int = 64): org.apache.spark.sql.DataFrame = {
    require(budget > 0 && buckets > 0, "budget and buckets must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__pid")).orderBy(col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    df.select(col(idCol), TextFns.tokens(col(textCol)).as("toks"))
      .select(col(idCol), size(col("toks")).cast("long").as("n_tokens"))
      .withColumn("__pid", pmod(col(idCol), lit(buckets.toLong)))
      .withColumn("start_tok", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col(idCol), col("n_tokens"), col("__pid").as("bucket"),
        expr(s"start_tok DIV $budget").as("seq"),
        pmod(col("start_tok"), lit(budget.toLong)).as("seq_offset"))
      .orderBy(idCol)
  }

  /** The WRITER-side view of [[packSequences]]: one row per packed
    * training sequence with the layout a shard writer (and an
    * attention-mask builder) consumes — how many documents START in the
    * sequence, their summed token mass, how many SPILL over the budget
    * boundary into the next sequence (the cross-contamination points a
    * block-diagonal attention mask must cut), and the `id@offset` layout
    * string in offset order. One extra map-side-combined aggregation on
    * top of the packing frame — the (bucket, seq) groups are
    * budget-bounded, so the collect_list is O(docs-per-sequence), never
    * corpus-sized. */
  def packManifest(df: DataFrame, textCol: String, idCol: String,
                   budget: Int, buckets: Int = 64): DataFrame = {
    val packed = packSequences(df, textCol, idCol, budget, buckets)
    packed.groupBy(col("bucket"), col("seq"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("started_tokens"),
        coalesce(sum(when(col("seq_offset") + col("n_tokens") > budget, 1L)),
          lit(0L)).as("n_spill"),
        concat_ws(",", transform(
          array_sort(collect_list(struct(col("seq_offset"), col(idCol)))),
          x => concat(x.getField(idCol).cast("string"), lit("@"),
            x.getField("seq_offset").cast("string")))).as("layout"))
      .orderBy("bucket", "seq")
  }

  /** Token-balanced output-shard assignment — the plan a training-shard
    * writer executes so no shard (and no downstream data-loader worker)
    * gets a token count far from the mean: documents are globally ranked
    * by token count (ties by id), then dealt to `nShards` shards in a
    * SERPENTINE (snake-draft) order — ranks 1..n go 0,1,…,S−1 then
    * S−1,…,1,0 and repeat — so each shard receives one document from
    * every consecutive size band and per-shard token totals differ by at
    * most one band's spread (the classic LPT-style balance, deterministic
    * and rank-exact, where plain `rank % S` hands shard 0 the largest
    * document of every band). Returns `(id, n_tokens, shard)` per doc.
    *
    * Scale shape: token counts are a narrow scan-side projection; the
    * global rank goes through [[Analytics.withGlobalRank]] (range-bucketed
    * two-phase rank — never a single-partition window over the corpus);
    * the snake arithmetic is row-local. One shuffle total. */
  def shardPlan(df: DataFrame, textCol: String, idCol: String,
                nShards: Int): DataFrame =
    shardPlanBy(
      df.select(col(idCol).cast("long").as(idCol),
        size(TextFns.tokens(col(textCol))).cast("long").as("n_tokens")),
      "n_tokens", idCol, nShards)

  /** [[shardPlan]] over a caller-supplied length column — the snake-draft
    * deal for any pre-computed cost measure (chars of a rendered SFT
    * example, bytes of a media payload), same rank-exact balance
    * property and plan shape. */
  def shardPlanBy(lens: DataFrame, lenCol: String, idCol: String,
                  nShards: Int): DataFrame = {
    require(nShards >= 1, "nShards must be >= 1")
    val slim = lens.select(col(idCol).cast("long").as("__sid"),
      col(lenCol).cast("long").as("__len"))
    val ranked = Analytics.withGlobalRank(slim, "__len",
      Seq(col("__len"), col("__sid")), "rnk")
    ranked.select(col("__sid").as(idCol), col("__len").as(lenCol),
      when(expr(s"(rnk - 1) DIV $nShards") % 2 === 0,
        expr(s"(rnk - 1) % $nShards"))
        .otherwise(lit(nShards - 1) - expr(s"(rnk - 1) % $nShards"))
        .cast("int").as("shard"))
      .orderBy(idCol)
  }

  /** Seeded token-dropout augmentation (the random-deletion arm of EDA,
    * Wei & Zou 2019) — synthetic variants for classifier robustness /
    * contrastive pairs: token `i` of document `id` is dropped iff its
    * seeded uniform `u(seed, id, i)` falls below `p`, so the
    * augmentation is a pure function of (seed, id, position) —
    * reproducible run to run, replayable by the oracle, and a new `seed`
    * yields an independent variant. Returns
    * `(id, n_tokens, n_dropped, aug_text)`.
    *
    * Scale shape: entirely row-local — tokenize + index-aware filter +
    * rejoin run inside the scan's projection, no shuffle, no UDF. The
    * honest caveat: Catalyst evaluates higher-order-function lambdas
    * INTERPRETED per element, so the per-token hash is the unit cost.
    * Two hash families, the [[Dedup]] convention: `portable = true`
    * (default) derives u from md5 — bit-replayable by the DuckDB oracle;
    * `portable = false` uses codegen-free-but-cheap `xxhash64`
    * (no digest allocation, no hex decode) — the 100 TB default, same
    * distribution, measured several-fold faster in SCALE.md. */
  def tokenDropout(df: DataFrame, textCol: String, idCol: String,
                   p: Double, seed: String = "aug:",
                   portable: Boolean = true): DataFrame = {
    require(p >= 0.0 && p < 1.0, "p must be in [0, 1)")
    val toks = TextFns.tokens(col(textCol))
    def u(i: Column): Column = {
      val key = concat(lit(seed), col(idCol).cast("string"), lit(":"),
        i.cast("string"))
      val h = if (portable) hash60(key)
        else pmod(xxhash64(key), lit(1152921504606846976L))
      (h.cast("double") + lit(0.5)) / lit(1152921504606846976.0)
    }
    df.select(col(idCol), toks.as("__t"))
      .select(col(idCol), size(col("__t")).cast("long").as("n_tokens"),
        filter(col("__t"), (_, i) => u(i) >= lit(p)).as("__k"))
      .select(col(idCol), col("n_tokens"),
        (col("n_tokens") - size(col("__k"))).cast("long").as("n_dropped"),
        array_join(col("__k"), " ").as("aug_text"))
      .orderBy(idCol)
  }

  /** The Gopher quality-gate stopword list (Rae et al. 2021 §A1.1: a doc
    * must contain at least `minStopwordHits` distinct words from it). */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** The composed Gopher-rules quality gate (Rae et al. 2021 §A1.1) — the
    * keep/drop decision a pretraining pipeline applies per document, with
    * every rule's verdict kept as a flag so drops are auditable:
    *  - word count within [minWords, maxWords];
    *  - mean word length within [minMeanWordLen, maxMeanWordLen]
    *    (token chars = normalized length minus the wc-1 separators, so no
    *    per-token fold is needed — pure integer arithmetic);
    *  - symbol-to-word ratio ('#' and '...' occurrences, counted by the
    *    replace-shrink trick both engines share) at most maxSymbolRatio;
    *  - at least minStopwordHits distinct [[GopherStopwords]];
    *  - repetition ([[repetitionProfile]]) within maxDupTokenFrac /
    *    maxDupNgramFrac.
    * Shape: one narrow row-side projection joined with the repetition
    * profile on the id — the gram counting already shuffles on the id, so
    * the gate adds one co-keyed join and nothing global. */
  def gopherGate(df: DataFrame, textCol: String, idCol: String,
                 minWords: Long = 20, maxWords: Long = 80,
                 minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 6.0,
                 maxSymbolRatio: Double = 0.1, minStopwordHits: Long = 1,
                 maxDupTokenFrac: Double = 0.6, maxDupNgramFrac: Double = 0.2,
                 n: Int = 3): DataFrame = {
    val rep = repetitionProfile(df, textCol, idCol, n)
      .select(col(idCol), col("dup_ngram_frac"), col("dup_token_frac"))
    val nt = trim(regexp_replace(col(textCol), "\\s+", " "))
    val rows = df
      .select(col(idCol), nt.as("nt"), TextFns.tokens(col(textCol)).as("toks"))
      .select(col(idCol),
        size(col("toks")).cast("long").as("wc"),
        length(col("nt")).as("nlen"),
        ((length(col("nt")) - length(regexp_replace(col("nt"), "#", ""))) +
          (length(col("nt")) - length(regexp_replace(col("nt"), "\\.\\.\\.", ""))) / 3)
          .cast("long").as("symbols"),
        size(array_distinct(filter(col("toks"),
          t => lower(t).isin(GopherStopwords: _*)))).cast("long").as("stopword_hits"))
      .select(col(idCol), col("wc"), col("symbols"), col("stopword_hits"),
        when(col("wc") > 0,
          (col("nlen") - (col("wc") - 1)).cast("double") / col("wc").cast("double"))
          .otherwise(lit(0.0)).as("mean_word_len"),
        when(col("wc") > 0,
          col("symbols").cast("double") / col("wc").cast("double"))
          .otherwise(lit(0.0)).as("symbol_ratio"))
    rows.join(rep, Seq(idCol))
      .select(col(idCol), col("wc"), col("mean_word_len"), col("symbol_ratio"),
        col("stopword_hits"), col("dup_ngram_frac"), col("dup_token_frac"),
        (col("wc") >= minWords && col("wc") <= maxWords).as("ok_words"),
        (col("mean_word_len") >= minMeanWordLen &&
          col("mean_word_len") <= maxMeanWordLen).as("ok_mean_word_len"),
        (col("symbol_ratio") <= maxSymbolRatio).as("ok_symbols"),
        (col("stopword_hits") >= minStopwordHits).as("ok_stopwords"),
        (col("dup_token_frac") <= maxDupTokenFrac &&
          col("dup_ngram_frac") <= maxDupNgramFrac).as("ok_repetition"))
      .withColumn("keep",
        col("ok_words") && col("ok_mean_word_len") && col("ok_symbols") &&
          col("ok_stopwords") && col("ok_repetition"))
      .orderBy(idCol)
  }

  /** Unigram cross-entropy quality score — the CCNet-style perplexity
    * proxy (Wenzek et al. 2020 §4.3: language-model perplexity buckets
    * web documents into head/middle/tail quality tiers; the unigram LM is
    * its exactly-reproducible degenerate case): per document, the mean
    * `-log2 p(w)` of its tokens under the corpus unigram distribution —
    * low bits/token = common boilerplate-ish text, high = rare-token or
    * garbage text. Shape: one token explode feeding both the frequency
    * count and the scoring join ON THE SAME TOKEN KEY (co-partitioned, so
    * the join reuses the count's shuffle), a broadcast single-row grand
    * total, and one per-id aggregate. The average is ROUND(6)ed on both
    * engines: summation order over shuffled rows and last-ulp libm `log2`
    * differences are both absorbed (the F13/a6 convention for
    * order-dependent double aggregates). Empty documents have no tokens
    * and no defined entropy — they are absent from the output. */
  def unigramLogPerplexity(df: DataFrame, textCol: String,
                           idCol: String): DataFrame = {
    val toks = df
      .select(col(idCol), explode(TextFns.tokens(col(textCol))).as("t"))
      .persist()
    try {
      val freqs = toks.groupBy("t").agg(count(lit(1)).as("c"))
      val total = freqs.agg(sum("c").as("n_total"))
      val result = toks.join(freqs, Seq("t"))
        .crossJoin(broadcast(total))
        .groupBy(col(idCol))
        .agg(count(lit(1)).as("n_tokens"),
          round(avg(-log2(col("c").cast("double") / col("n_total").cast("double"))), 6)
            .as("bits_per_token"))
        .orderBy(idCol)
      // materialize while the token cache is live, then release it — the
      // ngramJaccardPairs discipline (library operators must not leak
      // executor memory, and an uncached lazy frame would re-tokenize
      // the corpus once per consumer)
      result.localCheckpoint(eager = true)
    } finally toks.unpersist()
  }

  /** Top-k collocations by pointwise mutual information (Church & Hanks
    * 1990) — the corpus-statistics pass a tokenizer/vocabulary pipeline
    * runs to find multi-word units worth merging:
    * `pmi = log2( p(xy) / (p(x) p(y)) )` over the corpus unigram and
    * bigram distributions, reported for bigrams with at least `minCount`
    * occurrences. Shape: one token pass feeding unigram and (non-distinct
    * 2-shingle) bigram counts — both VOCABULARY-sized after their
    * aggregates, so the c1/c2 lookup joins are dim-table joins, not
    * corpus joins — plus two broadcast single-row totals, then a global
    * top-k (TakeOrderedAndProject, never a single-partition sort). PMI is
    * ROUND(6)ed before ranking, with the bigram string as tiebreak, so
    * the k-boundary is deterministic on every engine. */
  def topCollocations(df: DataFrame, textCol: String,
                      minCount: Long = 5, k: Int = 50): DataFrame = {
    val toks = df.select(TextFns.tokens(col(textCol)).as("toks")).persist()
    try {
      val uni = toks.select(explode(col("toks")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("cw"))
      val biAll = toks
        .select(explode(graft.plans.ShingleArray.allShingles(col("toks"), 2)).as("b"))
        .groupBy("b").agg(count(lit(1)).as("cb"))
      val nUni = broadcast(uni.agg(sum("cw").as("n_uni")))
      val nBi = broadcast(biAll.agg(sum("cb").as("n_bi")))
      val result = biAll.filter(col("cb") >= minCount)
        .withColumn("w1", split(col("b"), " ").getItem(0))
        .withColumn("w2", split(col("b"), " ").getItem(1))
        .join(uni.select(col("w").as("w1"), col("cw").as("c1")), Seq("w1"))
        .join(uni.select(col("w").as("w2"), col("cw").as("c2")), Seq("w2"))
        .crossJoin(nUni).crossJoin(nBi)
        .select(col("b").as("bigram"), col("cb").as("pair_count"),
          col("c1"), col("c2"),
          round(log2(
            (col("cb").cast("double") / col("n_bi").cast("double")) /
              ((col("c1").cast("double") / col("n_uni").cast("double")) *
                (col("c2").cast("double") / col("n_uni").cast("double")))), 6)
            .as("pmi"))
        .orderBy(col("pmi").desc, col("bigram"))
        .limit(k)
      result.localCheckpoint(eager = true)
    } finally toks.unpersist()
  }

  /** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken 2003,
    * SIGMOD — the MOSS algorithm): hash every n-token gram, slide a
    * `window`-wide window over the hash sequence, keep the minimum of each
    * window; the distinct selected hashes are the fingerprint. Guarantee:
    * any match of length >= window+n-1 tokens between two documents
    * shares at least one fingerprint — positional, unlike MinHash (which
    * sketches the bag), so it finds *local* overlaps (plagiarized spans,
    * boilerplate) that set-sketches dilute away.
    *
    * Shape: posexplode of the in-order gram stream, the portable
    * 60-bit md5 hash ([[Dedup.portableBaseHashes]] convention — exactly
    * reproducible in DuckDB), and one per-document window min — the only
    * window partitions by the id, so groups are bounded by document
    * length and nothing global ever sorts. Documents with fewer than
    * `window` grams yield no fingerprints (no full window exists). */
  def winnowFingerprints(df: DataFrame, textCol: String, idCol: String,
                         n: Int = 3, window: Int = 4): DataFrame =
    winnowFpStream(df, textCol, idCol, n, window).orderBy(idCol, "fp")

  /** [[winnowFingerprints]] without the presentation sort — the form
    * join-based consumers ([[Dedup.winnowNearDupPairs]]) build on. */
  private[operators] def winnowFpStream(df: DataFrame, textCol: String,
                                        idCol: String, n: Int,
                                        window: Int): DataFrame = {
    require(n > 0 && window > 0, "n and window must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("pos"))
      .rowsBetween(0, window - 1)
    df.select(col(idCol), TextFns.tokens(col(textCol)).as("toks"))
      .select(col(idCol),
        graft.plans.ShingleArray.allShingles(col("toks"), n).as("gs"))
      .select(col(idCol), size(col("gs")).as("m"), posexplode(col("gs")).as(Seq("pos", "g")))
      .withColumn("h", conv(substring(md5(col("g")), 1, 15), 16, 10).cast("long"))
      .withColumn("fp", min(col("h")).over(w))
      .filter(col("pos") <= col("m") - lit(window))
      .select(col(idCol), col("fp")).distinct()
  }

  /** Token-budget mixture planning — the corpus-mixing step (DoReMi /
    * The Pile-style domain weights): given target sampling weights per
    * domain, report each domain's actual token share and the repeat
    * factor (`target_share / actual_share`) a sampler must apply to hit
    * the target mixture at the same total budget — > 1 means the domain
    * is upsampled (multiple epochs), < 1 downsampled. Distinct from
    * [[hashStratifiedSample]] (which executes a row-level sample): this
    * PLANS by tokens, the unit that actually matters for training.
    *
    * One narrow token-count projection + one groupBy(domain) + a
    * broadcast single-row grand total — the [[Analytics]] pct-of-total
    * shape. Domains missing from `targetWeights` get weight 0 (to be
    * dropped). All ratios are exact long→double divisions. */
  def tokenBudgetMixture(df: DataFrame, textCol: String, domainCol: String,
                         targetWeights: Map[String, Double]): DataFrame = {
    require(targetWeights.values.forall(_ >= 0), "weights must be non-negative")
    val counts = df
      .select(col(domainCol),
        size(TextFns.tokens(col(textCol))).cast("long").as("n_tokens"))
      .groupBy(domainCol)
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("domain_tokens"))
    val total = counts.agg(sum("domain_tokens").as("total_tokens"))
    val weight = coalesce(
      element_at(typedLit(targetWeights), col(domainCol)), lit(0.0))
    counts.crossJoin(broadcast(total))
      .select(col(domainCol), col("n_docs"), col("domain_tokens"),
        (col("domain_tokens").cast("double") / col("total_tokens").cast("double"))
          .as("token_share"),
        weight.as("target_weight"),
        (weight * col("total_tokens").cast("double") /
          col("domain_tokens").cast("double")).as("repeat_factor"))
      .orderBy(domainCol)
  }

  /** Data-constrained epoch plan (Muennighoff et al. 2023, "Scaling
    * Data-Constrained Language Models": repeating data helps up to ~4
    * epochs, so a mixture target cannot draw unboundedly from a small
    * domain) — the allocation arm completing [[tokenBudgetMixture]]
    * (which reports the UNCONSTRAINED repeat factors): per domain,
    * `want = target_w × budget`, `avail = maxEpochs × domain_tokens`,
    * `alloc = min(want, avail)`, `epochs = alloc / domain_tokens`, the
    * `capped` verdict, and the shortfall a planner redistributes (one
    * renormalize-over-uncapped rerun per waterfilling round — kept a
    * caller loop because each round is a new plan to audit, not hidden
    * iteration). The budget is `budgetMultiple × corpus tokens`, so the
    * plan is scale-free.
    *
    * Shape: one map-side groupBy(domain) + one broadcast single-row
    * total; every plan column is row-local arithmetic on exact integer
    * masses. ROUND(6) on the derived doubles (display only — `capped`
    * compares the raw values). */
  def epochPlan(df: DataFrame, textCol: String, domainCol: String,
                targetWeights: Map[String, Double],
                budgetMultiple: Double, maxEpochs: Double): DataFrame = {
    require(budgetMultiple > 0 && maxEpochs > 0, "budget and cap must be > 0")
    val counts = df
      .select(col(domainCol),
        size(TextFns.tokens(col(textCol))).cast("long").as("nt"))
      .groupBy(domainCol)
      .agg(sum("nt").as("domain_tokens"))
    val total = counts.agg(sum("domain_tokens").as("total_tokens"))
    val weight = coalesce(
      element_at(typedLit(targetWeights), col(domainCol)), lit(0.0))
    val want = weight * lit(budgetMultiple) * col("total_tokens").cast("double")
    val avail = lit(maxEpochs) * col("domain_tokens").cast("double")
    counts.crossJoin(broadcast(total))
      .select(col(domainCol), col("domain_tokens"),
        weight.as("target_weight"),
        round(want, 6).as("want_tokens"),
        round(least(want, avail), 6).as("alloc_tokens"),
        round(least(want, avail) / col("domain_tokens").cast("double"), 6)
          .as("epochs"),
        (avail < want).as("capped"),
        round(greatest(want - avail, lit(0.0)), 6).as("shortfall_tokens"))
      .orderBy(domainCol)
  }

  /** Temperature-scaled mixture weights — the multinomial sampling rule
    * multilingual/multi-domain corpora are balanced with (XLM-R, Conneau
    * et al. 2020 §3.1; mC4, Xue et al. 2021: `q_i ∝ p_i^alpha` with
    * alpha ≈ 0.3): raising token shares to `alpha < 1` flattens the
    * distribution, upsampling small domains without letting them dominate.
    * Reports each domain's raw share `p`, temperature weight `q`, and the
    * resulting upsample factor `q/p`. Complements [[tokenBudgetMixture]]
    * (explicit target weights): here the targets are DERIVED from the
    * corpus itself.
    *
    * Shape: one groupBy(domain) to a domain-count-sized frame, then two
    * broadcast single-row totals (grand token count, partition function
    * Z = sum of p^alpha) — the pct-of-total shape twice. `pow`/sum-of-few-
    * doubles are ROUND(6)ed on output (F13 convention: libm last-ulp and
    * summation order absorbed). */
  def temperatureMixture(df: DataFrame, textCol: String, domainCol: String,
                         alpha: Double = 0.3): DataFrame = {
    require(alpha > 0 && alpha <= 1, "alpha must be in (0, 1]")
    val counts = df
      .select(col(domainCol),
        size(TextFns.tokens(col(textCol))).cast("long").as("nt"))
      .groupBy(domainCol)
      .agg(count(lit(1)).as("n_docs"), sum("nt").as("domain_tokens"))
    val total = counts.agg(sum("domain_tokens").as("total_tokens"))
    val withP = counts.crossJoin(broadcast(total))
      .withColumn("p",
        col("domain_tokens").cast("double") / col("total_tokens").cast("double"))
      .withColumn("pa", pow(col("p"), lit(alpha)))
    val z = withP.agg(sum("pa").as("z"))
    withP.crossJoin(broadcast(z))
      .select(col(domainCol), col("n_docs"), col("domain_tokens"),
        round(col("p"), 6).as("token_share"),
        round(col("pa") / col("z"), 6).as("sample_weight"),
        round(col("pa") / col("z") / col("p"), 6).as("upsample_factor"))
      .orderBy(domainCol)
  }

  /** Okapi BM25 top-k retrieval (Robertson & Spärck Jones; the Lucene
    * `+1` idf variant, k1 = 1.2, b = 0.75) — the ranked-retrieval pass a
    * training pipeline runs for retrieval-based decontamination and
    * targeted corpus audits. Scores every document against a bag of
    * query terms and returns the global top-k.
    *
    * Shape: the token stream is filtered to QUERY TERMS BEFORE the
    * explode-shuffle (only hits shuffle — a tiny fraction of the corpus);
    * document frequencies reduce to ≤ |query| rows (broadcast); corpus
    * stats (N, avgdl) are ONE broadcast row; the final top-k is a
    * TakeOrderedAndProject, never a global sort. Per-doc scores sum ≤
    * |query| doubles → ROUND(6) before ranking, doc id as tiebreak, so
    * the k-boundary is deterministic on every engine. */
  def bm25TopK(df: DataFrame, textCol: String, idCol: String,
               queryTerms: Seq[String], k: Int = 10,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    val base = df.select(col(idCol), TextFns.tokens(col(textCol)).as("toks"))
    // avgdl as explicit exact-long sum / exact-long count: ONE double
    // division, bit-equal on every engine (avg() would be too, but the
    // explicit form keeps the oracle SQL textually identical)
    val stats = base.agg(count(lit(1)).as("n_docs"),
      (sum(size(col("toks")).cast("long")).cast("double") /
        count(lit(1)).cast("double")).as("avgdl"))
    val tf = base
      .select(col(idCol), size(col("toks")).cast("long").as("dl"),
        explode(filter(col("toks"), t => t.isin(queryTerms: _*))).as("t"))
      .groupBy(col(idCol), col("dl"), col("t"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val dfreq = tf.groupBy("t").agg(count(lit(1)).as("nt"))
    val idf = log((col("n_docs").cast("double") - col("nt").cast("double") +
      lit(0.5)) / (col("nt").cast("double") + lit(0.5)) + lit(1.0))
    tf.join(broadcast(dfreq), Seq("t"))
      .crossJoin(broadcast(stats))
      .withColumn("s", idf * col("tf") * lit(k1 + 1.0) /
        (col("tf") + lit(k1) * (lit(1.0 - b) +
          lit(b) * col("dl").cast("double") / col("avgdl"))))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_terms"), round(sum("s"), 6).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** Deterministic hashed text embedding — the feature-hashing trick
    * (Weinberger et al. 2009) as a pure column expression: dim j of a
    * token list is the ROUND(6)-published mean of per-token weights
    * drawn from the md5 bucket scheme [[hashedLinearScore]] uses, keyed
    * per dimension. Not a learned embedding — a deterministic,
    * oracle-replayable stand-in with the same dataflow (text → fixed-dim
    * vector, row-local, no shuffle), so indexing pipelines downstream of
    * a real embedding model can be hash-gated end to end. */
  def hashedEmbedding(toks: Column, dims: Int, buckets: Int): Column =
    hashedEmbeddingFromBuckets(tokenBuckets(toks, buckets), dims, buckets)

  /** Per-token md5 bucket ids for [[hashedEmbeddingFromBuckets]] —
    * materialize this ONCE as its own column when embedding (the
    * projection boundary stops Catalyst re-inlining it per dimension),
    * so the engine pays one md5 per token total; every per-dim weight is
    * then a literal-array lookup. */
  def tokenBuckets(toks: Column, buckets: Int): Column =
    transform(toks, t => pmod(hash60(t), lit(buckets.toLong)).cast("int"))

  def hashedEmbeddingFromBuckets(bArr: Column, dims: Int,
                                 buckets: Int): Column = {
    require(dims >= 1 && buckets >= 1, "need dims >= 1, buckets >= 1")
    // (dims × buckets) weight table precomputed on the driver with the
    // SAME md5 the engines use — the weight depends only on (dim,
    // bucket), so tabulating it turns 2·dims md5 calls per token into
    // one md5 + dims array lookups; values are bit-identical to the
    // formula the oracle replays
    def md5hex(sx: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(sx.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def h60(sx: String): Long =
      java.lang.Long.parseLong(md5hex(sx).substring(0, 15), 16)
    val table: IndexedSeq[IndexedSeq[Double]] = (0 until dims).map(j =>
      (0 until buckets).map(b =>
        ((h60(s"d$j:$b") % 2001L).toDouble - 1000.0) / 1000.0))
    array((0 until dims).map { j =>
      val w = typedLit(table(j))
      round(aggregate(bArr, lit(0.0), (acc, b) => acc + element_at(w, b + 1)) /
        size(bArr).cast("double"), 6)
    }: _*)
  }

  /** RAG chunking — documents → overlapping token windows, the
    * retrieval-unit prep every RAG index runs before embedding (and the
    * inverse of training-side sequence packing): windows of
    * `chunkTokens` tokens starting every `chunkTokens − overlapTokens`,
    * so consecutive chunks share `overlapTokens` of context and no
    * sentence is stranded at a hard boundary. Pure column algebra
    * (sequence → explode → slice), no UDF, no shuffle: chunking happens
    * in the scan's projection and the output is ready for the embedding
    * seam. Empty documents emit nothing; the tail chunk may be shorter
    * than `chunkTokens` (kept — dropping it would lose the document
    * ending). Returns `(idCol, chunk_id, n_tokens, chunk_text)`. */
  def chunkDocuments(df: DataFrame, textCol: String, idCol: String,
                     chunkTokens: Int, overlapTokens: Int): DataFrame = {
    require(overlapTokens >= 0 && chunkTokens > overlapTokens,
      "need chunkTokens > overlapTokens >= 0")
    val stride = chunkTokens - overlapTokens
    df.select(col(idCol), TextFns.tokens(col(textCol)).as("toks"))
      .withColumn("st", explode(sequence(lit(0),
        greatest(size(col("toks")) - 1, lit(0)), lit(stride))))
      .select(col(idCol), (col("st") / stride).cast("int").as("chunk_id"),
        slice(col("toks"), col("st") + 1, lit(chunkTokens)).as("ct"))
      .withColumn("n_tokens", size(col("ct")).cast("long"))
      .filter(col("n_tokens") > 0)
      .select(col(idCol), col("chunk_id"), col("n_tokens"),
        array_join(col("ct"), " ").as("chunk_text"))
      .orderBy(col(idCol), col("chunk_id"))
  }

  /** RM3-style pseudo-relevance feedback (Lavrenko-Croft relevance
    * models, the Anserini/Indri default): run [[bm25TopK]] once, treat
    * the top `fbDocs` as relevant, pick the `expand` highest
    * relevance-weighted terms from them (feedback-score-weighted term
    * mass, stoplist and original-query terms excluded), and rescore with
    * the expanded query — recall recovery for vocabulary-mismatch
    * queries without any model. Simplification vs full RM3 is the final
    * scoring (uniform expanded query, no interpolation weights) —
    * documented, deterministic, and the part every practical deployment
    * tunes away anyway.
    *
    * Scale shape: two [[bm25TopK]]-shaped passes (posting-style explode
    * filtered to the query terms — never a full term explosion — with
    * broadcast df/stats); the expansion stage touches ONLY the
    * O(fbDocs) feedback rows and collects O(expand) terms to the driver
    * (a scalar probe). Term
    * weights ROUND(6)-published before the (weight desc, term) selection
    * so the expansion set is engine-deterministic. */
  def bm25ExpandedTopK(df: DataFrame, textCol: String, idCol: String,
                       queryTerms: Seq[String], fbDocs: Int = 10,
                       expand: Int = 5, k: Int = 10,
                       stop: Seq[String] = Analytics.StopWords): DataFrame = {
    require(fbDocs >= 1 && expand >= 0, "need fbDocs >= 1, expand >= 0")
    val fb = bm25TopK(df, textCol, idCol, queryTerms, fbDocs)
    val expTerms = df
      .select(col(idCol), TextFns.tokens(col(textCol)).as("toks"))
      .join(broadcast(fb.select(col(idCol), col("score"))), Seq(idCol))
      .select(col("score"), explode(col("toks")).as("t"))
      .filter(!col("t").isin(queryTerms: _*) && !col("t").isin(stop: _*))
      .groupBy("t").agg(round(sum(col("score")), 6).as("w"))
      .orderBy(col("w").desc, col("t")).limit(expand)
      .select("t").collect().map(_.getString(0)).toSeq
    bm25TopK(df, textCol, idCol, queryTerms ++ expTerms, k)
  }

  /** Two-stage retrieval with a PLUGGABLE re-ranker — the cross-encoder
    * serving shape (retrieve cheap, re-rank expensive): [[bm25TopK]]
    * supplies `candidateK` candidates, then a batched `batchScore`
    * (texts → score per text) re-ranks them through the same
    * `mapPartitions` seam as [[graft.functions.Sentiment.scoreWithModel]]
    * — a real cross-encoder model slots in at `batchScore` without
    * touching the dataflow, and the retrieval stage is proven
    * model-agnostic the same way the V4 sentiment seam is.
    *
    * Scale shape: the candidate frame is O(candidateK) rows; only those
    * rows cross the inference boundary (batched — the whole point of
    * retrieve-then-rerank is that the expensive scorer sees `candidateK`
    * docs, not the corpus). Scores ROUND(6) before the final rank,
    * doc-id tiebreak — deterministic k-boundary on both engines.
    * Returns `(idCol, bm25_rank, rerank_score)` ordered by the re-rank. */
  def rerankWithModel(docs: DataFrame, textCol: String, idCol: String,
                      queryTerms: Seq[String], candidateK: Int, k: Int,
                      batchScore: Seq[String] => Seq[Double],
                      batchSize: Int = 100): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.DoubleType
    val cands = bm25TopK(docs, textCol, idCol, queryTerms, candidateK)
      .withColumn("bm25_rank", row_number().over(
        Window.orderBy(col("score").desc, col(idCol))))
      .select(col(idCol), col("bm25_rank"))
    val withText = cands
      .join(docs.select(col(idCol), col(textCol)), Seq(idCol))
    val outSchema = withText.schema.add("rerank_score", DoubleType)
    val ti = withText.schema.fieldIndex(textCol)
    val scored = withText.toDF().mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch => // amortized per-batch model call
        val ss = batchScore(batch.map(_.getString(ti)))
        batch.lazyZip(ss).map { case (r, sc) => Row.fromSeq(r.toSeq :+ sc) }
      }
    }(Encoders.row(outSchema))
    scored
      .select(col(idCol), col("bm25_rank"),
        round(col("rerank_score"), 6).as("rerank_score"))
      .orderBy(col("rerank_score").desc, col(idCol))
      .limit(k)
  }

  /** Deterministic reference re-ranker for [[rerankWithModel]]: distinct-
    * token overlap F1 between the document and the query, in the exact-
    * integer form `2·|overlap| / (|distinct doc tokens| + |query terms|)`
    * (algebraically the F1 harmonic mean, but a SINGLE division of exact
    * ints — bit-identical on both engines, the confusionStats
    * convention). Tokenization is the [[TextFns.tokens]] whitespace
    * convention, driver-side twin. */
  def overlapF1Scorer(queryTerms: Seq[String]): Seq[String] => Seq[Double] = {
    val q = queryTerms.distinct
    texts => texts.map { t =>
      val toks = t.trim.replaceAll("\\s+", " ").split(" ")
        .filter(_.nonEmpty).distinct
      val inter = toks.count(q.contains)
      2.0 * inter / (toks.length + q.length)
    }
  }

  /** Reciprocal-rank-fusion hybrid retrieval (Cormack et al. 2009):
    * fuse the lexical [[bm25TopK]] ranking with the semantic
    * [[Similarity.bruteForceTopK]] embedding ranking by
    * RRF(d) = Σ_r 1/(kRrf + rank_r(d)) — the standard hybrid-search
    * combiner (rank-based, so the incomparable score scales never meet).
    * Documents and embeddings share the id space (vec_id ≡ doc_id).
    *
    * Shape: both inputs are already-bounded top-`kEach` lists, so the
    * fusion is a full-outer join of two ≤kEach-row frames plus one
    * TakeOrderedAndProject — O(kEach), nothing fact-scale. The
    * row_number windows rank k-row frames, not fact rows. RRF terms are
    * exact reciprocals of small integers; the ≤2-term sum is one IEEE
    * add, ROUND(6)ed for the deterministic k-boundary. */
  def rrfHybridTopK(docs: DataFrame, emb: DataFrame, textCol: String,
                    idCol: String, queryTerms: Seq[String], queryId: Long,
                    kEach: Int = 20, k: Int = 10,
                    kRrf: Int = 60): DataFrame = {
    val lex = bm25TopK(docs, textCol, idCol, queryTerms, kEach)
      .withColumn("lex_rank", row_number().over(
        Window.orderBy(col("score").desc, col(idCol))))
      .select(col(idCol).as("id"), col("lex_rank"))
    val sem = Similarity.bruteForceTopK(emb, queryId, kEach)
      .withColumn("sem_rank", row_number().over(
        Window.orderBy(col("cos").desc, col("vec_id"))))
      .select(col("vec_id").as("id"), col("sem_rank"))
    def term(rank: Column): Column = coalesce(
      lit(1.0) / (lit(kRrf.toDouble) + rank.cast("double")), lit(0.0))
    lex.join(sem, Seq("id"), "full_outer")
      .select(col("id"), col("lex_rank"), col("sem_rank"),
        round(term(col("lex_rank")) + term(col("sem_rank")), 6).as("rrf"))
      .orderBy(col("rrf").desc, col("id"))
      .limit(k)
  }

  /** Per-document TF-IDF keyword extraction (sklearn smooth-idf variant:
    * `idf = ln((1+N)/(1+df)) + 1`, tf normalized by document length) —
    * the per-doc salient-term pass behind corpus tagging, topic routing
    * and near-dup triage. Returns the top-`k` terms per document ranked
    * by tf-idf, term string as tiebreak.
    *
    * Shape: one token explode → (doc, term) count (one shuffle); document
    * frequencies are VOCABULARY-sized after their aggregate, so the df
    * lookup is a dim-table equi-join (AQE broadcasts it at runtime — not
    * forced, because a 100 TB corpus vocabulary can exceed the broadcast
    * budget); N is ONE broadcast row. The per-doc rank is a row_number
    * window partitioned by doc id — high-cardinality key, bounded group
    * size (a document's distinct terms), so no single-task sort exists
    * anywhere. Tf-idf is ROUND(6)ed BEFORE ranking (deterministic
    * k-boundary, the [[topCollocations]] convention). */
  def tfidfKeywords(df: DataFrame, textCol: String, idCol: String,
                    k: Int = 3): DataFrame = {
    val nDocs = df.agg(count(lit(1)).as("n_docs"))
    // the (doc, term) count frame feeds BOTH the document-frequency
    // aggregate and the scoring join — persist so the corpus is exploded
    // and shuffled once (the [[Dedup]] shingle-stream convention; released
    // before returning)
    val tf = df
      .select(col(idCol), TextFns.tokens(col(textCol)).as("tk"))
      .select(col(idCol), size(col("tk")).cast("long").as("dl"),
        explode(col("tk")).as("t"))
      .groupBy(col(idCol), col("dl"), col("t"))
      .agg(count(lit(1)).as("tf"))
      .persist()
    try {
      val dfreq = tf.groupBy("t").agg(count(lit(1)).as("dft"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col(idCol)).orderBy(col("tfidf").desc, col("t"))
      tf.join(dfreq, Seq("t"))
        .crossJoin(broadcast(nDocs))
        .withColumn("tfidf", round(
          (col("tf").cast("double") / col("dl").cast("double")) *
            (log((lit(1.0) + col("n_docs").cast("double")) /
              (lit(1.0) + col("dft").cast("double"))) + lit(1.0)), 6))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= k)
        .select(col(idCol), col("rn"), col("t").as("term"), col("tfidf"))
        .orderBy(col(idCol), col("rn"))
        .localCheckpoint(eager = true)
    } finally tf.unpersist()
  }

  /** Per-domain document cap (the RefinedWeb / CCNet-style anti-monoculture
    * guard: no single domain may contribute more than `k` documents) with
    * a DETERMINISTIC choice of which documents survive — each doc is
    * ranked inside its domain by a stable md5-derived key of its id, so
    * the "random" sample is reproducible across runs, engines and
    * re-partitioning. Returns (domain, id, rank) for survivors.
    *
    * Shape: the native bounded-heap top-k aggregate (the [[graft.plans.TopK]]
    * o4 path) — every map task keeps at most `k` rows per domain, so the
    * shuffle is O(domains × k × tasks), never a per-domain sort of the
    * fact table (the row_number window form would sort entire skewed
    * domains into single tasks). Heap contract (score DESC, tie ASC) with
    * score = -hk: the exact long tiebreak disambiguates the 53-bit double
    * rounding of the 60-bit key. */
  def domainCap(df: DataFrame, idCol: String, domainCol: String,
                k: Int = 25): DataFrame = {
    val hk = conv(substring(md5(col(idCol).cast("string")), 1, 15), 16, 10)
      .cast("long")
    df.select(col(domainCol), col(idCol), hk.as("hk"))
      .groupBy(domainCol)
      .agg(graft.plans.TopK.topKByScore(
        (-col("hk")).cast("double"), col("hk"), col(idCol), k).as("top"))
      .select(col(domainCol), posexplode(col("top")))
      .select(col(domainCol), col("col").as(idCol),
        (col("pos") + 1).cast("int").as("rn"))
      .orderBy(col(domainCol), col("rn"))
  }

  /** 60-bit md5-derived hash of a string column — the engine-portable
    * feature hash shared with the DuckDB oracle (`CAST('0x'||substr(md5(x),
    * 1,15) AS BIGINT)`); 15 hex digits keep the value positive in a long. */
  private def hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Bigram LM cross-entropy per document with Jelinek-Mercer
    * interpolation — the two-order step from [[unigramLogPerplexity]]
    * toward the KenLM-style perplexity filters of CCNet/CCNet-descendant
    * corpora (Wenzek et al. 2020; interpolation per Jelinek & Mercer 1980,
    * the web-scale counting shape per Brants et al. 2007's Stupid
    * Backoff): `p(w|prev) = λ·c(prev w)/c(prev) + (1−λ)·c(w)/N`, reported
    * as bits per bigram position. The conditional denominator is the
    * UNIGRAM count of `prev` (the Stupid-Backoff counting convention —
    * no end-of-doc discount). Single-token documents have no bigram
    * positions and are absent.
    *
    * Scale shape: the corpus bigram stream is ONE explode (native
    * [[graft.plans.ShingleArray]] over materialized tokens), persisted and
    * reused as both the count source and the scoring stream — the
    * [[Dedup]] shingle-stream convention. Count tables are vocabulary-
    * sized equi-joins (AQE broadcasts when small; a 100 TB vocabulary
    * stays a shuffled join); the grand total is ONE broadcast row.
    * Per-doc AVG of doubles is ROUND(6)ed (F13: summation order and libm
    * log2 ulps absorbed). */
  def bigramLogPerplexity(df: DataFrame, textCol: String, idCol: String,
                          lambda: Double = 0.7): DataFrame = {
    require(lambda > 0 && lambda < 1, "lambda must be in (0, 1)")
    val toksDf = df.select(col(idCol), TextFns.tokens(col(textCol)).as("tk"))
    val bg = toksDf.filter(size(col("tk")) >= 2)
      .select(col(idCol),
        explode(graft.plans.ShingleArray.allShingles(col("tk"), 2)).as("b"))
      .persist()
    try {
      val bc = bg.groupBy("b").agg(count(lit(1)).as("cb"))
      val uc = toksDf.select(explode(col("tk")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("cw"))
      val n = uc.agg(sum("cw").as("n_uni"))
      val p = lit(lambda) * col("cb").cast("double") / col("c_prev").cast("double") +
        lit(1.0 - lambda) * col("cw").cast("double") / col("n_uni").cast("double")
      bg.join(bc, Seq("b"))
        .withColumn("prev", split(col("b"), " ").getItem(0))
        .withColumn("w", split(col("b"), " ").getItem(1))
        .join(uc.select(col("w").as("prev"), col("cw").as("c_prev")), Seq("prev"))
        .join(uc, Seq("w"))
        .crossJoin(broadcast(n))
        .groupBy(col(idCol))
        .agg(count(lit(1)).as("n_bigrams"),
          round(avg(-log2(p)), 6).as("bits_per_bigram"))
        .orderBy(idCol)
        .localCheckpoint(eager = true)
    } finally bg.unpersist()
  }

  /** Per-group percentile quality gate — "keep a document only if its
    * quality score clears its OWN language's p-th percentile" (the
    * dynamic-threshold form of corpus quality gating: a fixed global
    * cut systematically starves low-resource slices, so CCNet-style
    * pipelines cut per language). Returns the surviving docs with their
    * score and the group threshold applied.
    *
    * Scale shape: scores are pure per-row arithmetic; thresholds are one
    * groupBy to a GROUP-COUNT-sized frame (exact interpolated percentile —
    * the [[Analytics.quantiles]] split applies: at 100 TB swap in the
    * mergeable `percentile_approx` sketch, same dataflow), broadcast back
    * onto the fact stream — no second wide shuffle. The comparison is
    * ROUND(score, 6) >= ROUND(threshold, 6) — BOTH sides at the same
    * precision, so the keep/drop boundary is bit-deterministic on every
    * engine AND the group's median member itself always survives (a
    * rounded threshold compared against an unrounded score could land
    * above it). */
  def percentileQualityGate(df: DataFrame, textCol: String, idCol: String,
                            groupCol: String, p: Double = 0.5): DataFrame = {
    require(p > 0 && p < 1, "p must be in (0, 1)")
    val scored = df.select(col(idCol), col(groupCol),
      qualityScore(col(textCol)).as("q"))
    val thr = scored.groupBy(groupCol)
      .agg(round(percentile(col("q"), lit(p)), 6).as("q_threshold"))
    scored.join(broadcast(thr), Seq(groupCol))
      .filter(round(col("q"), 6) >= col("q_threshold"))
      .select(col(idCol), col(groupCol), col("q").as("quality"),
        col("q_threshold"))
      .orderBy(idCol)
  }

  /** Per-group Tukey-fence outlier report over document length — the
    * robust (quartile-based, outlier-insensitive) screen a corpus audit
    * runs before trusting its length distribution: a document is flagged
    * iff its token count falls outside `[q1 - k·IQR, q3 + k·IQR]` of its
    * OWN group (k = 1.5, Tukey 1977). Returns every document with its
    * group's fences and an `is_outlier` flag — a report, not a filter, so
    * the audit can inspect what it would drop.
    *
    * Scale shape: lengths are per-row arithmetic; the fences are one
    * groupBy to a group-count-sized frame (exact interpolated quartiles —
    * swap the mergeable `percentile_approx` sketch at 100 TB, the
    * [[Analytics.quantiles]] split), broadcast back onto the fact stream.
    * Fences ROUND(6)ed and compared against exact integer lengths: the
    * flag boundary is engine-deterministic. */
  def lengthOutliers(df: DataFrame, textCol: String, idCol: String,
                     groupCol: String, k: Double = 1.5): DataFrame = {
    require(k > 0, "k must be positive")
    val lens = df.select(col(idCol), col(groupCol),
      size(TextFns.tokens(col(textCol))).cast("long").as("n_tokens"))
    val fences = lens.groupBy(groupCol)
      .agg(percentile(col("n_tokens"), lit(0.25)).as("q1"),
        percentile(col("n_tokens"), lit(0.75)).as("q3"))
      .select(col(groupCol),
        round(col("q1") - lit(k) * (col("q3") - col("q1")), 6).as("lo_fence"),
        round(col("q3") + lit(k) * (col("q3") - col("q1")), 6).as("hi_fence"))
    lens.join(broadcast(fences), Seq(groupCol))
      .select(col(idCol), col(groupCol), col("n_tokens"),
        col("lo_fence"), col("hi_fence"),
        (col("n_tokens").cast("double") < col("lo_fence") ||
          col("n_tokens").cast("double") > col("hi_fence")).as("is_outlier"))
      .orderBy(idCol)
  }

  /** DSIR importance weights (Data Selection via Importance Resampling,
    * Xie et al. 2023): score every raw document by how much more likely
    * its hashed unigram+bigram features are under the TARGET distribution
    * (rows where `isTarget`) than under the RAW corpus distribution. The
    * per-doc log weight `sum_f c_f * ln(p_target(b_f) / p_raw(b_f))` (both
    * add-one smoothed over `buckets` hashed buckets) is the resampling
    * log-likelihood ratio; downstream selection keeps the top mass.
    * Returns `(id, n_feats, log_weight)`.
    *
    * Scale shape: ONE explode of the unigram+bigram stream feeds both
    * histograms (raw count + target count per bucket in a single
    * groupBy(bucket) pass — no second scan); the bucket→log-ratio table is
    * `buckets` rows, BROADCAST to the per-doc (id, bucket, count) stream;
    * the only wide exchanges hash on `bucket` then `id`. Hashing is the
    * md5-derived 60-bit family (engine-portable, oracle-replayable) —
    * at production scale swap [[hash60]] for `xxhash64` ([[Dedup]]'s
    * NativeFamily precedent: same dataflow, cheaper hash). */
  def dsirImportance(df: DataFrame, textCol: String, idCol: String,
                     isTarget: Column, buckets: Int = 4096): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    // per-doc bucket counts are the ONE hashed pass over the feature
    // stream; both histograms and the final per-doc weights derive from
    // this (far smaller) frame, so the md5 family and the explode shuffle
    // run once — persist + eager materialize, the [[Dedup]] shingle-stream
    // convention (released before returning, no executor-memory leak).
    // Tokens are MATERIALIZED to a column before the bigram expression: a
    // lambda that captures the tokenizer subtree would re-run the regex
    // split per element (quadratic per doc); `allShingles` over the bound
    // attribute is the linear native path (counted occurrences, NOT the
    // distinct shingle set of [[Dedup.shingles]] — importance estimation
    // needs multiplicity)
    val dc = df
      .select(col(idCol), isTarget.as("tgt"),
        TextFns.tokens(col(textCol)).as("tk"))
      .select(col(idCol), col("tgt"),
        explode(concat(col("tk"),
          graft.plans.ShingleArray.allShingles(col("tk"), 2))).as("f"))
      .select(col(idCol), col("tgt"),
        pmod(hash60(col("f")), lit(buckets.toLong)).as("b"))
      .groupBy(col(idCol), col("tgt"), col("b"))
      .agg(count(lit(1)).as("c"))
      .persist()
    try {
      val hist = dc.groupBy("b").agg(
        sum("c").as("cr"),
        sum(when(col("tgt"), col("c")).otherwise(0L)).as("ct"))
      val totals = hist.agg(sum("cr").as("nr"), sum("ct").as("nt"))
      val lr = hist.crossJoin(broadcast(totals))
        .select(col("b"), log(
          ((col("ct").cast("double") + lit(1.0)) /
            (col("nt").cast("double") + lit(buckets.toDouble))) /
          ((col("cr").cast("double") + lit(1.0)) /
            (col("nr").cast("double") + lit(buckets.toDouble)))).as("lr"))
      dc.join(broadcast(lr), Seq("b"))
        .groupBy(col(idCol))
        .agg(sum("c").as("n_feats"),
          round(sum(col("c").cast("double") * col("lr")), 6).as("log_weight"))
        .orderBy(idCol)
        .localCheckpoint(eager = true)
    } finally dc.unpersist()
  }

  /** The SELECTION half of DSIR: sample the top-`n` documents by
    * `log_weight + Gumbel noise` — the Gumbel-top-k trick (Vieira 2014)
    * turns weighted sampling WITHOUT replacement into one ranking pass,
    * and deriving the "noise" from an md5 hash of the doc id makes the
    * sample reproducible across runs, engines and re-partitioning (the
    * [[domainCap]] deterministic-sample convention). Returns the selected
    * `(id, log_weight, gumbel, sample_key)` rows.
    *
    * Scale shape: [[dsirImportance]]'s shape plus one pure per-row noise
    * expression and a global top-n — a TakeOrderedAndProject (bounded
    * heap), never a full sort. Noise and key are ROUND(6)ed BEFORE
    * ranking with id tiebreak: the selection boundary is deterministic
    * even where libm `ln` differs in the last ulp. */
  def dsirResample(df: DataFrame, textCol: String, idCol: String,
                   isTarget: Column, buckets: Int = 4096,
                   n: Int = 50): DataFrame = {
    require(n > 0, "n must be positive")
    val u = (hash60(concat(lit("g:"), col(idCol).cast("string"))).cast("double") +
      lit(0.5)) / lit(1152921504606846976.0) // 2^60: u in (0, 1)
    dsirImportance(df, textCol, idCol, isTarget, buckets)
      .withColumn("gumbel", round(-log(-log(u)), 6))
      .withColumn("sample_key", round(col("log_weight") + col("gumbel"), 6))
      .select(col(idCol), col("log_weight"), col("gumbel"), col("sample_key"))
      .orderBy(col("sample_key").desc, col(idCol))
      .limit(n)
  }

  /** Hashed linear text-classifier inference (the fastText architecture,
    * Joulin et al. 2017: mean of hashed-token weights → sigmoid — the
    * shape of the quality classifiers gating GPT-3/LLaMA-style corpora).
    * Weights here are DERIVED deterministically from the bucket index
    * (md5 → uniform in [-1, 1]) — the stand-in for a trained weight
    * table; production swaps the weight expression for a `buckets`-row
    * broadcast dim without touching the dataflow. Returns
    * `(id, [keep...,] n_tokens, margin, score, label)` — `keep` columns
    * ride along so downstream evaluation (e.g. [[MLEval.rocAuc]] against
    * a ground-truth label derived from them) needs no join back.
    *
    * Scale shape: pure per-row column arithmetic — the token fold runs
    * inside [[functions.aggregate]] over the already-split array, so
    * scoring is shuffle-free and pipelines into whatever scan precedes it
    * (the inference analogue of [[qualityScore]]). */
  def hashedLinearScore(df: DataFrame, textCol: String, idCol: String,
                        buckets: Int = 1024,
                        keep: Seq[String] = Nil): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    def weight(t: Column): Column = {
      val b = pmod(hash60(t), lit(buckets.toLong))
      (pmod(hash60(concat(lit("w:"), b.cast("string"))), lit(2001L))
        .cast("double") - lit(1000.0)) / lit(1000.0)
    }
    val toks = TextFns.tokens(col(textCol))
    val kept = keep.map(col)
    df.select(col(idCol) +: kept :+ size(toks).cast("long").as("n_tokens") :+
        aggregate(toks, lit(0.0), (acc, t) => acc + weight(t)).as("sw"): _*)
      .filter(col("n_tokens") > 0)
      .withColumn("margin", round(col("sw") / col("n_tokens").cast("double"), 6))
      .withColumn("score", round(lit(1.0) /
        (lit(1.0) + exp(-col("sw") / col("n_tokens").cast("double"))), 6))
      .select(col(idCol) +: kept :+ col("n_tokens") :+ col("margin") :+
        col("score") :+
        when(col("score") >= 0.5, "keep").otherwise("drop").as("label"): _*)
      .orderBy(idCol)
  }

  /** TextRank keyword extraction (Mihalcea & Tarau 2004): weighted
    * PageRank over the token-adjacency graph — vertices are corpus words,
    * an undirected edge (a, b) weights how often b directly follows a (or
    * vice versa) in the stoplist-filtered token stream, and `iters` fixed
    * damped iterations propagate rank r'(v) = (1−d)/N + d·Σ_u w(u,v)/W(u)·r(u)
    * with W(u) the weighted degree. Fixed iteration count keeps the op
    * SQL-oracle-expressible (each iteration is one CTE) and bounds the
    * job DAG — convergence-loop PageRank is the same plan in a driver
    * loop with a persist per iteration.
    *
    * Scale shape: adjacency pairs come from ONE lead-window keyed by the
    * document (no task sorts more than one doc's tokens); the graph
    * collapses to O(vocab²-bounded, Zipf-tiny in practice) edge rows; and
    * each iteration is a same-key equi-join + map-side-combined groupBy
    * over edge rows. N and the degree frame stay O(vocab). */
  def textrankKeywords(docs: DataFrame, textCol: String, idCol: String,
                       n: Int = 10, iters: Int = 3, damping: Double = 0.85,
                       stop: Seq[String] = Analytics.StopWords): DataFrame = {
    val toks = filter(TextFns.tokens(TextFns.wordcloudClean(col(textCol))),
      t => !t.isin(stop: _*) && length(t) > 2)
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val pairs = docs
      .select(col(idCol), posexplode(toks).as(Seq("pos", "word")))
      .withColumn("next", lead(col("word"), 1).over(w))
      .filter(col("next").isNotNull && col("next") =!= col("word"))
    val edges = pairs
      .groupBy(least(col("word"), col("next")).as("x"),
        greatest(col("word"), col("next")).as("y"))
      .agg(count(lit(1)).as("w"))
    val directed = edges.select(col("x").as("u"), col("y").as("v"), col("w"))
      .unionByName(edges.select(col("y").as("u"), col("x").as("v"), col("w")))
    // the graph frames are the loop invariants of every iterative graph
    // algorithm — persist them once (O(edges)/O(vocab), Zipf-tiny vs the
    // corpus) or each iteration (and every broadcast of the 1-row N
    // frame) re-tokenizes the whole corpus to rebuild its lineage
    val deg = directed.groupBy(col("u")).agg(sum(col("w")).cast("double").as("wd"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val contrib = directed.join(deg, Seq("u"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val nFrame = deg.agg(count(lit(1)).cast("double").as("__nn"))
      val r0 = deg.select(col("u")).crossJoin(broadcast(nFrame))
        .select(col("u"), (lit(1.0) / col("__nn")).as("r"))
      val rFinal = (1 to iters).foldLeft(r0) { (r, _) =>
        contrib.join(r, Seq("u"))
          .groupBy(col("v"))
          .agg(sum(col("w") / col("wd") * col("r")).as("__in"))
          .crossJoin(broadcast(nFrame))
          .select(col("v").as("u"),
            (lit(1.0 - damping) / col("__nn") + lit(damping) * col("__in")).as("r"))
      }
      rFinal.select(col("u").as("word"), round(col("r"), 6).as("rank"))
        .orderBy(col("rank").desc, col("word"))
        .limit(n)
        // n-row result materialized so the loop-invariant caches can be
        // RELEASED before returning (the triangleStats discipline)
        .localCheckpoint(eager = true)
    } finally { contrib.unpersist(); deg.unpersist() }
  }

  /** Distribution drift report between two corpus slices: per-word
    * Jensen–Shannon divergence contributions (log base 2) between the
    * word distributions of slice A and slice B, top `n` words by
    * contribution. A word missing from one slice contributes
    * 0.5·p·log2(2) from the side that has it — JSD needs no smoothing.
    * The summed contributions over ALL words would be the corpus JSD in
    * [0, 1]; the report keeps the per-word decomposition because that is
    * what a drift investigation actually reads ("which tokens moved").
    *
    * Scale shape: each slice collapses to word counts in one map-side-
    * combined shuffle; the two O(vocab) frames full-outer-join on the
    * word (same-key shuffle); slice totals are two broadcast single-row
    * aggregates; the top-n is TakeOrderedAndProject. Contributions are
    * row-level arithmetic on (cnt_a, cnt_b, totals) — bit-exact against
    * a SQL oracle, no order-dependent float sums. */
  def driftWords(docsA: DataFrame, docsB: DataFrame, textCol: String,
                 n: Int = 20, stop: Seq[String] = Analytics.StopWords): DataFrame = {
    def counts(docs: DataFrame, cntName: String): DataFrame = {
      val toks = TextFns.tokens(TextFns.wordcloudClean(col(textCol)))
      docs.select(explode(toks).as("word"))
        .filter(!col("word").isin(stop: _*) && length(col("word")) > 2)
        .groupBy("word").agg(count(lit(1)).as(cntName))
    }
    val a = counts(docsA, "cnt_a")
    val b = counts(docsB, "cnt_b")
    val totA = a.agg(sum(col("cnt_a")).as("__ta"))
    val totB = b.agg(sum(col("cnt_b")).as("__tb"))
    val ln2 = math.log(2.0)
    val joined = a.join(b, Seq("word"), "full_outer")
      .na.fill(0L, Seq("cnt_a", "cnt_b"))
      .crossJoin(broadcast(totA)).crossJoin(broadcast(totB))
      .withColumn("p_a", col("cnt_a").cast("double") / col("__ta").cast("double"))
      .withColumn("p_b", col("cnt_b").cast("double") / col("__tb").cast("double"))
    val m = (col("p_a") + col("p_b")) / lit(2.0)
    val term = (p: Column) =>
      when(p > 0.0, p * log(p / m) / lit(ln2) / lit(2.0)).otherwise(lit(0.0))
    joined
      .withColumn("jsd_contrib", round(term(col("p_a")) + term(col("p_b")), 6))
      .select(col("word"), col("cnt_a"), col("cnt_b"),
        round(col("p_a"), 6).as("p_a"), round(col("p_b"), 6).as("p_b"),
        col("jsd_contrib"))
      .orderBy(col("jsd_contrib").desc, col("word"))
      .limit(n)
  }

  /** Out-of-vocabulary rate per source against the corpus top-`vocabSize`
    * vocabulary — the tokenizer-prep metric that predicts fertility blowup
    * per feed before a tokenizer is trained. Vocabulary cut is
    * deterministic: count desc, token string tiebreak.
    *
    * Shape: the (source, token) counts collapse the corpus once
    * (map-side combined); the global vocabulary is a reaggregation of
    * those counts ranked by ONE vocabulary-sized window (explicitly a
    * single-partition sort — bounded by |vocab|, not the corpus; at
    * 100 TB the vocabulary frame is millions of rows, still one
    * executor's work); per-source rates are then a broadcast-vocab join
    * away. */
  def oovRate(df: DataFrame, textCol: String, groupCol: String,
              vocabSize: Int = 1000): DataFrame = {
    val wc = df
      .select(col(groupCol), explode(TextFns.tokens(col(textCol))).as("t"))
      .groupBy(col(groupCol), col("t")).agg(count(lit(1)).as("cnt"))
      .persist() // feeds the vocab cut and the per-source rate
    try {
      val vocab = wc.groupBy("t").agg(sum(col("cnt")).as("f"))
        .withColumn("rk", row_number().over(
          Window.orderBy(col("f").desc, col("t"))))
        .filter(col("rk") <= vocabSize)
        .select("t")
      val result = wc
        .join(broadcast(vocab.withColumn("in_vocab", lit(true))), Seq("t"), "left")
        .groupBy(col(groupCol))
        .agg(sum(col("cnt")).as("total_tokens"),
          sum(when(col("in_vocab").isNull, col("cnt")).otherwise(lit(0L)))
            .as("oov_tokens"))
        .withColumn("oov_rate",
          round(col("oov_tokens").cast("double") /
            col("total_tokens").cast("double"), 6))
        .orderBy(groupCol)
      result.localCheckpoint(eager = true)
    } finally wc.unpersist()
  }

  /** Sequence-length bucket report for batch packing: token counts binned
    * to fixed power-of-two context buckets (16..4096, top-capped), with
    * per-bucket document count, token mass, and the padding waste a
    * pad-to-bucket batcher would pay. The fixed CASE ladder (not float
    * log2) keeps the bucket edge exact on every engine. One projection +
    * one tiny aggregate — the report a packing planner
    * ([[contextChunks]] / sequence packing) reads before choosing bucket
    * boundaries. */
  def lengthBuckets(df: DataFrame, textCol: String): DataFrame = {
    val n = size(TextFns.tokens(col(textCol)))
    val ladder = Seq(16, 32, 64, 128, 256, 512, 1024, 2048, 4096)
    val bucket = ladder.init.foldRight(lit(ladder.last): Column) {
      (b, acc) => when(n <= b, lit(b)).otherwise(acc)
    }
    df.select(n.as("n_tokens"), bucket.as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast("long").as("total_tokens"))
      .withColumn("padded_tokens", col("n_docs") * col("bucket"))
      // docs longer than the top bucket pad to less than their own length
      // (padded < total) — waste is clamped at 0 rather than reported
      // negative; such docs belong to [[contextChunks]], not padding
      .withColumn("padding_waste",
        greatest(lit(0.0), round(lit(1.0) - col("total_tokens").cast("double") /
          col("padded_tokens").cast("double"), 6)))
      .orderBy("bucket")
  }

  /** Per-source lexical diversity audit: Shannon entropy of the token
    * distribution (nats), distinct-token count, total tokens, and
    * type-token ratio — the corpus-mix dashboard row that flags a feed
    * gone templated (entropy collapses) or spammy (TTR collapses) before
    * it pollutes a training mix.
    *
    * One (source, token) count aggregation (map-side combined) collapses
    * the corpus; the entropy fold then runs over vocabulary-sized groups.
    * Entropy term `-p·ln p` accumulates through a SUM aggregate over
    * per-token doubles, ROUND(6)ed at the end (ln precedent: BM25 /
    * logppl oracles hash-match across engines). */
  def sourceEntropy(df: DataFrame, textCol: String,
                    groupCol: String): DataFrame = {
    val wc = df
      .select(col(groupCol), explode(TextFns.tokens(col(textCol))).as("t"))
      .groupBy(col(groupCol), col("t")).agg(count(lit(1)).as("cnt"))
    val tot = wc.groupBy(col(groupCol)).agg(sum(col("cnt")).as("total"))
    wc.join(tot, Seq(groupCol))
      .withColumn("p", col("cnt").cast("double") / col("total").cast("double"))
      .groupBy(col(groupCol))
      .agg(
        round(sum(-col("p") * log(col("p"))), 6).as("entropy_nats"),
        count(lit(1)).as("distinct_tokens"),
        max(col("total")).as("total_tokens"))
      .withColumn("type_token_ratio",
        round(col("distinct_tokens").cast("double") /
          col("total_tokens").cast("double"), 6))
      .orderBy(groupCol)
  }

  /** Class-based TF-IDF topic labels (the BERTopic c-TF-IDF scheme,
    * Grootendorst 2022): treat each class (source, cluster, topic) as ONE
    * concatenated pseudo-document; score term t in class c as
    * `tf_{t,c} · ln(1 + A / f_t)` where `tf` is the raw in-class count,
    * `f_t` the corpus-wide count, and `A` the average token count per
    * class. Returns the top-`k` terms per class — the label row a topic
    * or source gets in a corpus dashboard. Scores ROUND(6)ed BEFORE the
    * rank ([[tfidfKeywords]] convention) with term-string tiebreak.
    *
    * Shape: one token explode → (class, term) counts (map-side combined —
    * the stream the aggregate sees is already class-collapsed); `f_t` is
    * a vocabulary-sized reaggregation of those counts, joined back on the
    * term key; `A` is ONE broadcast row; the rank is a per-class window
    * over vocabulary-sized groups. Nothing touches raw rows twice. */
  def ctfidfLabels(df: DataFrame, textCol: String, classCol: String,
                   k: Int = 5): DataFrame = {
    val wc = df
      .select(col(classCol), explode(TextFns.tokens(col(textCol))).as("t"))
      .groupBy(col(classCol), col("t")).agg(count(lit(1)).as("cnt"))
      .persist() // feeds f_t, A, and the scoring join
    try {
      val ft = wc.groupBy("t").agg(sum(col("cnt")).as("f"))
      val a = wc.agg((sum(col("cnt")).cast("double") /
        count_distinct(col(classCol)).cast("double")).as("avg_class_tokens"))
      val scored = wc
        .join(ft, Seq("t"))
        .crossJoin(broadcast(a))
        .withColumn("score", round(col("cnt").cast("double") *
          log(lit(1.0) + col("avg_class_tokens") / col("f").cast("double")), 6))
      val w = Window.partitionBy(col(classCol))
        .orderBy(col("score").desc, col("t"))
      val result = scored
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(col(classCol), col("rank"), col("t").as("term"),
          col("cnt"), col("score"))
        .orderBy(col(classCol), col("rank"))
      result.localCheckpoint(eager = true)
    } finally wc.unpersist()
  }

  /** Exact phrase search over a positional inverted index: per-document
    * occurrence counts of the consecutive-token `phrase`, built the way a
    * distributed index does it — posexplode tokens to a positional
    * posting stream, keep only the phrase's terms (the selective filter
    * runs BEFORE any shuffle, so the posting stream the joins see is
    * hits-only), then self-equi-join term i's postings on
    * `(doc, pos + i)`. Every join key carries the doc id, so all
    * matching is co-partitioned after one shuffle of the filtered
    * postings — no all-pairs work anywhere, and at 100 TB the persisted
    * posting table bucketed by term makes the term filter a partition
    * prune. Returns `(doc id, n_hits)` for docs with >= 1 occurrence,
    * ordered by hits desc then id. */
  def phraseMatch(df: DataFrame, textCol: String, idCol: String,
                  phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase must be non-empty")
    val postings = df
      .select(col(idCol), posexplode(TextFns.tokens(col(textCol))).as(Seq("pos", "t")))
      .filter(col("t").isin(phrase: _*))
      .persist() // one explode feeds |phrase| join branches
    try {
      val first = postings.filter(col("t") === phrase.head)
        .select(col(idCol), col("pos"))
      val matched = phrase.zipWithIndex.tail.foldLeft(first) {
        case (acc, (term, i)) =>
          acc.join(
            postings.filter(col("t") === term)
              .select(col(idCol), (col("pos") - i).as("pos")),
            Seq(idCol, "pos"))
      }
      val result = matched
        .groupBy(col(idCol))
        .agg(count(lit(1)).as("n_hits"))
        .orderBy(col("n_hits").desc, col(idCol))
      // materialize while the posting cache is live (the
      // [[Dedup.ngramJaccardPairs]] convention), then release
      result.localCheckpoint(eager = true)
    } finally postings.unpersist()
  }

  /** Zipf-law fit over the corpus token-frequency distribution — the
    * one-row lexical-health audit (natural text follows `freq ∝ rank^s`
    * with s ≈ −1; templated or machine-generated corpora flatten, spam
    * steepens): least-squares fit of `ln freq = intercept + slope·ln
    * rank` over the ranked vocabulary, with `r2` as the fit quality.
    *
    * Scale shape: ONE token-count aggregation collapses the corpus to
    * vocabulary-sized rows; the rank window runs over that aggregate
    * (the documented bounded-vocabulary window exception — never fact
    * rows), and the fit is a single 5-sum aggregate. `ln` terms are
    * bit-identical across engines (the BM25/logppl precedent); the
    * order-dependent double sums are absorbed by the final ROUND(6). */
  def zipfFit(df: DataFrame, textCol: String): DataFrame = {
    val wc = df
      .select(explode(TextFns.tokens(col(textCol))).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c"))
    val ranked = wc.withColumn("rank", row_number().over(
      org.apache.spark.sql.expressions.Window
        .orderBy(col("c").desc, col("t"))))
    val xy = ranked.select(
      log(col("rank").cast("double")).as("x"),
      log(col("c").cast("double")).as("y"),
      col("c"))
    xy.agg(
        count(lit(1)).as("vocab_size"),
        sum(col("c")).as("total_tokens"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sx2"),
        sum(col("y") * col("y")).as("sy2"))
      .select(col("vocab_size"), col("total_tokens"),
        round((col("vocab_size") * col("sxy") - col("sx") * col("sy")) /
          (col("vocab_size") * col("sx2") - col("sx") * col("sx")), 6)
          .as("slope"),
        round((col("sy") - (col("vocab_size") * col("sxy") - col("sx") * col("sy")) /
          (col("vocab_size") * col("sx2") - col("sx") * col("sx")) * col("sx")) /
          col("vocab_size").cast("double"), 6).as("intercept"),
        when(col("vocab_size") * col("sy2") - col("sy") * col("sy") > 0,
          round(((col("vocab_size") * col("sxy") - col("sx") * col("sy")) *
            (col("vocab_size") * col("sxy") - col("sx") * col("sy"))) /
            ((col("vocab_size") * col("sx2") - col("sx") * col("sx")) *
              (col("vocab_size") * col("sy2") - col("sy") * col("sy"))), 6))
          .as("r2"))
  }

  /** Block-shuffled length curriculum (the curriculum-learning data order,
    * Bengio et al. 2009, in the blockwise form training loaders actually
    * consume): documents are cut into `tiers` difficulty tiers by token
    * count (quantile boundaries — tier 1 = shortest = easiest), assigned a
    * deterministic md5 shuffle `slot` (one of `slots` blocks), and emitted
    * ordered `(slot, tier, id)` — every block is a mini-epoch that sees
    * all tiers easy → hard, so difficulty ramps locally while the global
    * mix stays stationary (no catastrophic all-hard tail).
    *
    * Scale shape: ZERO windows — tier boundaries are one exact-percentile
    * aggregate (swap in `approx_percentile` at 100 TB: sketch-mergeable,
    * single pass) broadcast via a one-row crossJoin; slot is row-local
    * hash arithmetic; the output order is one total sort, which Spark
    * range-partitions — writers consume it as `partitionBy(slot)` files,
    * never one task. */
  def curriculumInterleave(df: DataFrame, textCol: String, idCol: String,
                           tiers: Int = 4, slots: Int = 64): DataFrame = {
    val nTok = size(filter(split(col(textCol), " "), t => t =!= lit("")))
    val base = df.select(col(idCol), nTok.cast("long").as("n_tokens"))
    val bounds = base.agg(percentile(col("n_tokens"),
      array((1 until tiers).map(i => lit(i.toDouble / tiers)): _*)).as("bs"))
    base.crossJoin(broadcast(bounds))
      .withColumn("tier",
        (1 until tiers).foldLeft(lit(1)) { (acc, i) =>
          acc + when(col("n_tokens").cast("double") >
            element_at(col("bs"), i), 1).otherwise(0)
        })
      .withColumn("slot",
        pmod(conv(substring(md5(concat(lit("cur:"), col(idCol).cast("string"))), 1, 15), 16, 10)
          .cast("long"), lit(slots.toLong)).cast("int"))
      .select(col(idCol), col("n_tokens"), col("tier"), col("slot"))
      .orderBy(col("slot"), col("tier"), col(idCol))
  }
}
