package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Aggregation / window / top-k operators (SURVEY.md §2.4, §2.5, §2.6).
  *
  * Scale notes (100 TB north star):
  *  - every groupBy here aggregates with map-side partial aggregation
  *    (Spark's default HashAggregate pair), so the shuffle carries one row
  *    per key per task, not per input row;
  *  - global (un-partitioned) window functions are only ever applied to
  *    already-aggregated inputs that are O(|keys|), never to raw fact rows;
  *  - top-k uses `orderBy + limit`, which Catalyst plans as
  *    `TakeOrderedAndProject` — per-partition heaps + driver merge, no
  *    global sort.
  *
  * Operators returning `localCheckpoint(eager = true)` follow the
  * eager-materialization contract documented on [[MLEval]]: executed at
  * call time, lineage truncated, not lazily composable.
  */
object Analytics {

  /** The sentiment classes, in the order the reference's documents list them. */
  val SentimentClasses: Seq[String] = Seq("POSITIVE", "NEGATIVE", "NEUTRAL")

  /** Per-class summary of the scored reviews — the one aggregation every
    * per-class figure of the review job is read from: one row per
    * sentiment with `cnt`, `best` and `mean`.
    *  - `best` is the highest-confidence review `(doc_id, confidence,
    *    text)`, ties going to the lower doc_id (pandas idxmax-first;
    *    ref `pdf_generation/pdf_sections.py:354-355`);
    *  - `mean` is the class's unrounded mean confidence.
    *
    * `max_by` over a lexicographic struct key is a declarative aggregate
    * with map-side partial: one candidate row per (task, class) shuffles,
    * where a `row_number` window would sort every fact row into |classes|
    * tasks. Readers project what they need and the optimizer prunes the
    * other aggregates from their plans; [[classField]] and [[classCount]]
    * pivot one class out of it. */
  def classSummary(scored: DataFrame): DataFrame =
    scored.groupBy("sentiment").agg(
      count(lit(1)).as("cnt"),
      max_by(struct(col("doc_id"), col("confidence"), col("text")),
        struct(col("confidence"), (-col("doc_id")).as("neg_id"))).as("best"),
      avg(col("confidence")).as("mean"))

  /** Class `cls`'s `field`, as an aggregate over a [[classSummary]] frame:
    * NULL when the class is absent. */
  def classField(cls: String, field: Column): Column =
    max(when(col("sentiment") === cls, field))

  /** Class `cls`'s review count, as an aggregate over a [[classSummary]]
    * frame: 0 when the class is absent. */
  def classCount(cls: String): Column = coalesce(classField(cls, col("cnt")), lit(0L))

  /** All reviews, as an aggregate over a [[classSummary]] frame: 0 for an
    * empty input (the reference's empty-results document), not NULL. */
  val classTotal: Column = coalesce(sum(col("cnt")), lit(0L))

  /** Unrounded corpus-wide aggregates of the scored reviews: the single-row
    * outputs ([[confidenceStats]], [[performanceSummary]],
    * [[Risk.insuranceRisk]]) select and round these instead of restating
    * them. Class counts are conditional sums, so NULL on an empty input;
    * `stdConfidence` is the sample stddev, pandas `std` (ddof=1). */
  object Corpus {
    val total: Column = count(lit(1))
    def classCount(cls: String): Column =
      sum(when(col("sentiment") === cls, 1L).otherwise(0L))
    val avgConfidence: Column = avg(col("confidence"))
    val stdConfidence: Column = stddev_samp(col("confidence"))
    val minConfidence: Column = min(col("confidence"))
    val maxConfidence: Column = max(col("confidence"))
    val avgOriginalScore: Column = avg(col("original_score"))
  }

  /** A1 sentiment distribution (ref `Context_analyzer_RoBERTa_fun.py:724-728`). */
  def sentimentDistribution(scored: DataFrame): DataFrame =
    classSummary(scored).select("sentiment", "cnt").orderBy("sentiment")

  /** A2/A12 distribution + percent-of-total (ref `:590-595`;
    * `chatbot_analyzer.py:140-153`). The window sum runs over the
    * already-aggregated counts (|distinct keys| rows), not the input. */
  def distributionWithPct(df: DataFrame, key: String): DataFrame = {
    val counts = df.groupBy(key).agg(count(lit(1)).as("cnt"))
    val total = sum(col("cnt")).over(Window.partitionBy())
    counts
      .withColumn("pct", round(col("cnt") * lit(100.0) / total.cast("double"), 6))
      .orderBy(key)
  }

  /** A3 per-sentiment min-max normalization
    * (ref `Context_analyzer_RoBERTa_fun.py:250-279`): within each sentiment
    * group map `original_score` to [0,1]; degenerate groups (max == min)
    * collapse to the constant 0.5.
    *
    * Shape: per-group bounds via `groupBy.agg(min,max)` (map-side partial,
    * O(|groups|) rows) + a broadcast join back — NOT
    * `Window.partitionBy(group)`, which would sort every fact row and pin
    * each group (3 here) onto a single task. The join-back is null-safe
    * (`<=>`), so a NULL group is normalized within its own group exactly
    * as `Window.partitionBy` would treat it. Precondition: `groupCol` is
    * low-cardinality (the bounds frame is broadcast — at high cardinality
    * remove the hint and let AQE pick the join). */
  def normalizeScores(scored: DataFrame, valueCol: String = "original_score",
                      groupCol: String = "sentiment"): DataFrame = {
    val bounds = scored.groupBy(groupCol)
      .agg(min(col(valueCol)).as("__mn"), max(col(valueCol)).as("__mx"))
      .withColumnRenamed(groupCol, "__g")
    scored.join(broadcast(bounds), col(groupCol) <=> col("__g"))
      .withColumn("normalized_score",
        when(col("__mx") === col("__mn"), lit(0.5))
          .otherwise((col(valueCol) - col("__mn")) / (col("__mx") - col("__mn"))))
      .drop("__g", "__mn", "__mx")
  }

  /** Event-class → sentiment-class mapping for the trends analog (the
    * reference counts POSITIVE/NEGATIVE/NEUTRAL per visit day,
    * `Context_analyzer_RoBERTa_fun.py:687-705`; we count signup+purchase /
    * error / click+view per event day). */
  val PositiveEvents: Seq[String] = Seq("signup", "purchase")
  val NegativeEvents: Seq[String] = Seq("error")
  val NeutralEvents: Seq[String] = Seq("click", "view")

  /** A4 daily trend pivot (ref `:687-705`): one row per day, counts per
    * class + total, ordered by day. Single shuffle on the date key;
    * conditional sums instead of `pivot` (no second pass to collect pivot
    * values, and the three classes are fixed by semantics). */
  def dailyTrends(events: DataFrame): DataFrame =
    events
      .groupBy(to_date(col("ts")).as("date_d"))
      .agg(
        sum(when(col("event_type").isin(PositiveEvents: _*), 1L).otherwise(0L)).as("positive"),
        sum(when(col("event_type").isin(NegativeEvents: _*), 1L).otherwise(0L)).as("negative"),
        sum(when(col("event_type").isin(NeutralEvents: _*), 1L).otherwise(0L)).as("neutral"),
        count(lit(1)).as("total"))
      .select(date_format(col("date_d"), "yyyy-MM-dd").as("date"),
        col("positive"), col("negative"), col("neutral"), col("total"))
      .orderBy("date")

  /** The A4 trends frame as one date-ascending array of its day rows (the
    * `trends` field of the results document and of the trends artifact).
    * `sort_array` fixes the order: `collect_list` keeps whatever order the
    * rows arrive in after a shuffle. */
  def trendsArray(trends: DataFrame): DataFrame =
    trends.agg(sort_array(collect_list(struct(col("date"), col("positive"),
      col("negative"), col("neutral"), col("total")))).as("trends"))

  /** A5 trends grand summary (ref `:798-811`): single row. */
  def trendsSummary(trends: DataFrame): DataFrame =
    trends.agg(
      count(lit(1)).as("total_dates"),
      min(col("date")).as("start_date"),
      max(col("date")).as("end_date"),
      sum(col("total")).as("total_reviews"),
      sum(col("positive")).as("total_positive"),
      sum(col("negative")).as("total_negative"),
      sum(col("neutral")).as("total_neutral"))

  /** A10 daily sentiment ratio (ref `vizualization.py:183-184`):
    * `(positive - negative) / total` per day. */
  def dailyRatio(trends: DataFrame): DataFrame =
    trends.select(col("date"),
      ((col("positive") - col("negative")).cast("double") / col("total").cast("double"))
        .as("sentiment_ratio"))
      .orderBy("date")

  /** Reviews meeting `candidateCol`, as an aggregate. */
  private def candidates(candidateCol: Column): Column =
    sum(when(candidateCol, 1L).otherwise(0L))

  /** A6 confidence/score statistics (ref `vizualization.py:308-324`).
    * Averages and the stddev are rounded: their partial-sum order differs
    * per engine. */
  def confidenceStats(scored: DataFrame, candidateCol: Column): DataFrame =
    scored.agg(
      Corpus.total.as("total_samples"),
      round(Corpus.avgConfidence, 6).as("avg_confidence"),
      round(Corpus.stdConfidence, 6).as("std_confidence"),
      Corpus.minConfidence.as("min_confidence"),
      Corpus.maxConfidence.as("max_confidence"),
      round(Corpus.avgOriginalScore, 6).as("avg_original_score"),
      candidates(candidateCol).as("candidates_count"))

  /** A6 nested-output parity: the reference's `performance_summary.json`
    * document (ref `vizualization.py:308-324`) minus the wall-clock
    * fields (runtime telemetry, not data). Single-row aggregate with the
    * reference's sub-object shape. */
  def performanceSummary(scored: DataFrame, candidateCol: Column): DataFrame =
    scored.agg(
      Corpus.total.as("total_samples"),
      struct(SentimentClasses.map(c => Corpus.classCount(c).as(c)): _*)
        .as("sentiment_distribution"),
      struct(
        round(Corpus.avgOriginalScore, 6).as("avg_original_score"),
        round(Corpus.avgConfidence, 6).as("avg_sentiment_confidence"),
        candidates(candidateCol).as("candidates_count"))
        .as("score_distribution"),
      struct(
        round(Corpus.avgConfidence, 6).as("mean"),
        round(Corpus.stdConfidence, 6).as("std"),
        Corpus.minConfidence.as("min"),
        Corpus.maxConfidence.as("max")).as("confidence_stats"))

  /** [[performanceSummary]] with the sub-objects flattened to dotted
    * scalar columns — the correctness-gate shape (the gate hashes cells
    * with pandas, which cannot hash a struct). The nested form stays the
    * library surface. */
  def performanceSummaryFlat(scored: DataFrame, candidateCol: Column): DataFrame =
    performanceSummary(scored, candidateCol).select(
      col("total_samples"),
      col("sentiment_distribution.POSITIVE").as("sentiment_distribution_positive"),
      col("sentiment_distribution.NEGATIVE").as("sentiment_distribution_negative"),
      col("sentiment_distribution.NEUTRAL").as("sentiment_distribution_neutral"),
      col("score_distribution.avg_original_score").as("score_distribution_avg_original_score"),
      col("score_distribution.avg_sentiment_confidence").as("score_distribution_avg_sentiment_confidence"),
      col("score_distribution.candidates_count").as("score_distribution_candidates_count"),
      col("confidence_stats.mean").as("confidence_stats_mean"),
      col("confidence_stats.std").as("confidence_stats_std"),
      col("confidence_stats.min").as("confidence_stats_min"),
      col("confidence_stats.max").as("confidence_stats_max"))

  /** A7 fixed-width histogram (ref `vizualization.py:67`, `:288-297`):
    * `bins` equal buckets between the global min and max; the max value
    * lands in the last bucket. Global min/max come from a broadcast
    * single-row aggregate, so the binning pass stays shuffle-free. */
  def histogram(df: DataFrame, valueCol: String, bins: Int): DataFrame = {
    val bounds = df.agg(min(col(valueCol)).as("mn"), max(col(valueCol)).as("mx"))
    val width = (col("mx") - col("mn")) / lit(bins.toDouble)
    df.crossJoin(broadcast(bounds))
      .withColumn("bin",
        when(col("mx") === col("mn"), lit(0L))
          .otherwise(least(floor((col(valueCol) - col("mn")) / width), lit(bins - 1L))))
      .groupBy("bin").agg(count(lit(1)).as("cnt"))
      .orderBy("bin")
  }

  /** A7 variant (ref `vizualization.py:288-297`): fixed-width histogram
    * per group. Same shape as the global [[histogram]]: per-group bounds
    * from a tiny aggregate + broadcast join, so the binning pass stays a
    * narrow map — a `Window.partitionBy(group)` formulation would instead
    * sort all fact rows into |groups| tasks. Null-safe join-back (NULL is
    * a valid group) and the same low-cardinality-`groupCol` broadcast
    * precondition as [[normalizeScores]]. */
  def histogramPerGroup(df: DataFrame, groupCol: String, valueCol: String,
                        bins: Int): DataFrame = {
    val bounds = df.groupBy(groupCol)
      .agg(min(col(valueCol)).as("__mn"), max(col(valueCol)).as("__mx"))
      .withColumnRenamed(groupCol, "__g")
    val width = (col("__mx") - col("__mn")) / lit(bins.toDouble)
    df.join(broadcast(bounds), col(groupCol) <=> col("__g"))
      .withColumn("bin",
        when(col("__mx") === col("__mn"), lit(0L))
          .otherwise(least(floor((col(valueCol) - col("__mn")) / width), lit(bins - 1L))))
      .groupBy(col(groupCol), col("bin")).agg(count(lit(1)).as("cnt"))
      .orderBy(groupCol, "bin")
  }

  /** Sketch-based distinct counting for the 100 TB path (SURVEY §7.2 M7):
    * HyperLogLog++ `approx_count_distinct` next to the exact count —
    * the exact side is the oracle-checkable half, the sketch side is what
    * actually runs at scale (fixed memory per group). */
  def distinctCounts(df: DataFrame, groupCol: String, valueCol: String,
                     rsd: Double = 0.02): DataFrame =
    df.groupBy(col(groupCol)).agg(
      countDistinct(col(valueCol)).as("exact_distinct"),
      approx_count_distinct(col(valueCol), rsd).as("approx_distinct"))
      .orderBy(groupCol)

  /** Per-group quantiles: the exact interpolated percentiles (oracled
    * against DuckDB `quantile_cont`) plus `approx_percentile` sketch twins
    * (engine-specific KLL-style sketch — bounds-checked in tests, not
    * oracle-compared; at 100 TB the sketch is the path, single-pass and
    * mergeable, while exact percentile sorts each group). */
  def quantiles(df: DataFrame, groupCol: String, valueCol: String,
                qs: Seq[Double]): DataFrame = {
    val exact = qs.map(q =>
      round(percentile(col(valueCol), lit(q)), 6).as(s"p${(q * 100).round}"))
    val approx = qs.map(q =>
      percentile_approx(col(valueCol), lit(q), lit(10000))
        .as(s"approx_p${(q * 100).round}"))
    df.groupBy(col(groupCol)).agg(exact.head, (exact.tail ++ approx): _*)
      .orderBy(groupCol)
  }

  /** The reference's word-frequency stoplist concept
    * (`vizualization.py:259` pins a 61-word English list; here pinned to the
    * corpus' own function words so the operator has bite on the synthetic
    * vocabulary). */
  val StopWords: Seq[String] = Seq("the", "a", "and", "of", "to", "in", "is", "it")

  /** The reference's wordcloud stoplist, verbatim
    * (`vizualization.py:259`, 61 words). */
  val RefStopWords: Seq[String] = Seq(
    "the", "and", "or", "but", "in", "on", "at", "to", "for", "of",
    "with", "by", "is", "are", "was", "were", "be", "been", "have", "has",
    "had", "do", "does", "did", "will", "would", "could", "should", "may",
    "might", "must", "can", "a", "an", "this", "that", "these", "those",
    "i", "me", "my", "mine", "you", "your", "yours", "he", "him", "his",
    "she", "her", "hers", "it", "its", "we", "us", "our", "ours", "they",
    "them", "their", "theirs")

  /** A8 word frequency (ref `vizualization.py:208-261`): tokenize the
    * cleaned text, drop stopwords and words <= 2 chars, count. One shuffle
    * on the word key with map-side combine. */
  def wordCounts(df: DataFrame, textCol: String,
                 extraGroupCols: Seq[String] = Nil,
                 stop: Seq[String] = StopWords): DataFrame = {
    val toks = graft.functions.TextFns.tokens(graft.functions.TextFns.wordcloudClean(col(textCol)))
    val exploded = df
      .select(extraGroupCols.map(col) :+ explode(toks).as("word"): _*)
      .filter(!col("word").isin(stop: _*) && length(col("word")) > 2)
    exploded.groupBy((extraGroupCols :+ "word").map(col): _*).agg(count(lit(1)).as("cnt"))
  }

  /** A8 top-N words overall (`TakeOrderedAndProject`, deterministic via the
    * word tiebreak). */
  def topWords(df: DataFrame, textCol: String, n: Int): DataFrame =
    wordCounts(df, textCol).orderBy(col("cnt").desc, col("word")).limit(n)

  /** A8 wordcloud instance (ref `vizualization.py:226-233`): the top-100
    * word frequencies feeding `WordCloud(max_words=100)`, with the
    * reference's own stoplist ([[RefStopWords]]) rather than the
    * corpus-local one. Same single word-key shuffle as [[topWords]]. */
  def wordcloudWords(df: DataFrame, textCol: String, n: Int = 100): DataFrame =
    wordCounts(df, textCol, stop = RefStopWords)
      .orderBy(col("cnt").desc, col("word")).limit(n)

  /** A9 top-k per group (ref `vizualization.py:265-285`): rank inside each
    * group with a deterministic tiebreak, keep k. */
  def topKPerGroup(df: DataFrame, groupCols: Seq[String], orderBy: Seq[Column],
                   k: Int): DataFrame = {
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy(orderBy: _*)
    df.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
  }

  /** A9 instance: top-k words per group column. */
  def topWordsPerGroup(df: DataFrame, textCol: String, groupCol: String,
                       k: Int): DataFrame =
    topKPerGroup(wordCounts(df, textCol, Seq(groupCol)),
      Seq(groupCol), Seq(col("cnt").desc, col("word")), k)
      .orderBy(col(groupCol), col("rn"))

  /** O1 order-by + limit (ref `:441,477-478`): `TakeOrderedAndProject`;
    * tiebreak column pinned for cross-engine determinism. */
  def topKByScore(scored: DataFrame, k: Int): DataFrame =
    scored.orderBy(col("original_score").desc, col("doc_id"))
      .limit(k)
      .select("doc_id", "original_score", "sentiment")

  /** O5 argmax per group (ref `pdf_generation/pdf_sections.py:354-355`):
    * each class's `best` review from [[classSummary]]. */
  def argmaxPerGroup(scored: DataFrame): DataFrame =
    classSummary(scored)
      .select(col("sentiment"), col("best.doc_id").as("doc_id"),
        col("best.confidence").as("confidence"))
      .orderBy("sentiment")

  /** Distributed exact global rank — the scale-correct form of
    * `row_number() OVER (ORDER BY ...)`, which Spark plans as a
    * SINGLE-partition WindowExec (every row sorts in one task: the
    * classic 100 TB killer). Standard two-phase global sort instead:
    *
    *  1. one tiny sketch pass computes ~#shuffle-partitions quantile cut
    *     points of `rangeCol` (column-pruned scan, O(#cuts) doubles on the
    *     driver) — then every row's bucket `__pid` is a PURE FUNCTION of
    *     its `rangeCol` value against those literal cuts. This is what
    *     `repartitionByRange` cannot give us: its boundaries are sampled
    *     per *physical exchange*, so two plan branches consuming the same
    *     logical shuffle can disagree near boundaries unless ReuseExchange
    *     happens to fire (it does not here — probed round 3), silently
    *     corrupting ranks. Literal cuts make every consumer agree by
    *     construction, with no reliance on exchange reuse, persist, or
    *     checkpoint.
    *  2. local `row_number` per bucket (window partitioned by `__pid` —
    *     as many window partitions as the session has shuffle partitions,
    *     scaling with the cluster, never one);
    *  3. per-bucket counts (map-side partial → O(#buckets) rows) →
    *     cumulative offsets (global window over the tiny aggregate —
    *     allowed by SCALE.md's rule) broadcast back; global rank =
    *     local rank + offset.
    *
    * Correctness needs only MONOTONICITY of the bucket function, which
    * `sum(rangeCol > cut_i)` gives for any cut values: equal keys share a
    * bucket, larger keys never get a smaller bucket (Spark orders NULL
    * first — NULLs fail every `>` and land in bucket 0 — and NaN last —
    * NaN compares greater than everything in Spark SQL, landing in the
    * top bucket). Skewed or stale cuts only cost balance, never ranks.
    *
    * `rangeCol` must be a numeric column and the leading `order` key;
    * `order` must form a total order (add a unique tiebreak) for the rank
    * to be deterministic. Appends `rankName` (1-based bigint) and `__n`
    * (total row count) — callers derive ntile/percent_rank from them
    * arithmetically and drop `__n`. */
  def withGlobalRank(df: DataFrame, rangeCol: String, order: Seq[Column],
                     rankName: String): DataFrame = {
    val parts = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val cuts = df.stat
      .approxQuantile(rangeCol, (1 until parts).map(_.toDouble / parts).toArray, 0.001)
      .distinct.sorted
    withGlobalRankCuts(df, rangeCol, cuts, order, rankName)
  }

  /** [[withGlobalRank]] with caller-supplied range cuts — lets a caller
    * ranking several metrics fetch ALL cut sets in one multi-column
    * `approxQuantile` action instead of one pass per metric. */
  def withGlobalRankCuts(df: DataFrame, rangeCol: String, cuts: Array[Double],
                         order: Seq[Column], rankName: String): DataFrame = {
    // Degenerate sketch (empty frame, rangeCol entirely NULL/NaN, or a
    // single distinct value) yields no cuts: every row lands in bucket 0
    // and the local window runs single-task. Still CORRECT (monotonicity
    // is trivial), but unscaled — surface it instead of silently stalling
    // a 1000-executor job on one core.
    if (cuts.isEmpty)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"withGlobalRank: no quantile cuts for '$rangeCol' (all NULL/NaN, " +
          "constant, or empty input) — falling back to a single range " +
          "bucket; ranks are correct but computed on one task")
    val pid = cuts.foldLeft(lit(0)) { (acc, c) =>
      acc + when(col(rangeCol) > lit(c), 1).otherwise(0)
    }
    val withPid = df.withColumn("__pid", pid)
    val localW = Window.partitionBy("__pid").orderBy(order: _*)
    val counts = withPid.groupBy("__pid").agg(count(lit(1)).as("__cnt"))
    val cum = Window.orderBy("__pid")
    val offsets = counts
      .withColumn("__off", coalesce(
        sum(col("__cnt")).over(cum.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("__n", sum(col("__cnt")).over(
        cum.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select("__pid", "__off", "__n")
    withPid.withColumn("__lrn", row_number().over(localW))
      .join(broadcast(offsets), Seq("__pid"))
      .withColumn(rankName, col("__lrn") + col("__off"))
      .drop("__pid", "__lrn", "__off")
  }

  /** Skew-safe two-phase aggregation (count + sum): phase 1 aggregates on
    * (key, salt) so one hot key spreads over `salts` reducers, phase 2
    * combines the tiny partials. Result is algebraically identical to the
    * direct groupBy (the oracle checks it); the salt is derived from the
    * physical partition so no extra column is shuffled in. */
  def saltedSum(df: DataFrame, keyCol: String, valueCol: String,
                salts: Int): DataFrame =
    df.withColumn("__salt", pmod(spark_partition_id(), lit(salts)))
      .groupBy(col(keyCol), col("__salt"))
      .agg(count(lit(1)).as("__cnt"), sum(col(valueCol)).as("__sum"))
      .groupBy(col(keyCol))
      .agg(sum(col("__cnt")).as("cnt"), round(sum(col("__sum")), 6).as("sum_value"))
      .orderBy(keyCol)

  /** Skew-safe equi join: the fact side's join keys are skewed (a few hot
    * keys would pin whole shuffle partitions on single tasks), and the dim
    * side is small-per-key but too hot to leave unsalted. Each fact row
    * gets a deterministic salt in [0, salts); the dim side is replicated
    * once per salt value; the join runs on (key, salt) so one hot key
    * spreads across `salts` reducers. Result is row-identical to the plain
    * join (every fact row still meets every matching dim row exactly once
    * — its salt replica). This is the manual form of what AQE skew-join
    * splitting does adaptively; baked-in salting also covers the cases AQE
    * cannot see (first shuffle of a stage, pre-AQE-statistics).
    *
    * `saltSrc` must be deterministic per fact row (e.g. a row id) so
    * retried tasks re-derive the same salt. */
  def saltedJoin(fact: DataFrame, dim: DataFrame, keyCol: String,
                 saltSrc: Column, salts: Int): DataFrame = {
    val saltedFact = fact.withColumn("__salt",
      pmod(xxhash64(saltSrc), lit(salts.toLong)))
    val saltedDim = dim.withColumn("__salt",
      explode(sequence(lit(0L), lit(salts.toLong - 1))))
    saltedFact.join(saltedDim, Seq(keyCol, "__salt")).drop("__salt")
  }

  /** Bloom-prefiltered equi join: build a bloom filter of the (small,
    * selective) dim side's join keys in ONE aggregation, broadcast the
    * single binary row, and pre-filter the fact side with
    * `might_contain` BEFORE the join. The result is row-identical to the
    * plain join — bloom false positives survive the pre-filter but are
    * dropped by the real join — while the join's shuffle carries only
    * ~selectivity x |fact| rows. At 100 TB this is the difference
    * between shuffling the corpus and shuffling the matching slice: a
    * ~1 MB bloom prunes a TB-scale exchange. This is Spark's AQE runtime
    * row-level filtering (`spark.sql.optimizer.runtime.bloomFilter`)
    * made explicit and deterministic — injected even where AQE's
    * heuristics (stats thresholds, first-shuffle blindness) would skip
    * it. Uses Spark's own `BloomFilterAggregate`/`BloomFilterMightContain`
    * expressions over xxhash64 of the key. */
  def bloomPrefilterJoin(fact: DataFrame, dim: DataFrame, factKey: String,
                         dimKey: String, expectedItems: Long = 100000L): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, ScalarSubquery}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val bloomAgg = ColumnBridge.column(
      new BloomFilterAggregate(
        ColumnBridge.expression(xxhash64(col(dimKey))),
        Literal(expectedItems), Literal(expectedItems * 8))
        .toAggregateExpression())
    // might_contain requires a constant or scalar-subquery bloom side —
    // the same shape Spark's InjectRuntimeFilter produces
    val bloomSubquery = ScalarSubquery(
      dim.agg(bloomAgg.as("__bf")).queryExecution.analyzed)
    fact.filter(ColumnBridge.column(BloomFilterMightContain(
        bloomSubquery, ColumnBridge.expression(xxhash64(col(factKey))))))
      .join(dim, col(factKey) === col(dimKey))
  }

  /** Keyed snapshot upsert (the MERGE pattern without a table format):
    * rows in `updates` replace same-key rows in `base`; unmatched base
    * rows survive; new keys append. One anti-join shuffle on the key —
    * at 100 TB both sides arrive bucketed by the key, making the
    * anti-join co-located, and the output is the next snapshot written
    * back with the same bucketing. Assumes `updates` has at most one row
    * per key (upstream dedup — e.g. [[dedupFirstOccurrence]]). */
  def upsertByKey(base: DataFrame, updates: DataFrame, keyCol: String): DataFrame =
    updates.unionByName(
      base.join(updates.select(keyCol), Seq(keyCol), "left_anti"))

  /** U2 exact dedup keeping first occurrence (ref `extract_text_fun.py:234-243`):
    * group by text, keep min id — one shuffle, no window over raw rows. */
  def dedupFirstOccurrence(df: DataFrame, textCol: String, idCol: String,
                           minLen: Int = 20): DataFrame =
    df.filter(length(col(textCol)) > minLen)
      .groupBy(col(textCol))
      .agg(min(col(idCol)).as("first_id"), count(lit(1)).as("n_dups"))
      .orderBy("first_id")

  /** Ordered-sequence funnel: how many users reach stage i of `stages`
    * IN ORDER (each stage's first hit strictly after the previous
    * stage's first hit — the classic product-analytics conversion
    * funnel). Returns one row per stage with the user count and the
    * conversion share of stage 1, ROUND(6)ed.
    *
    * Scale shape: one filtered min-aggregate per stage, each keyed on
    * the user — every join is a same-key equi-join (co-located under
    * user bucketing; AQE otherwise), and each stage's frame shrinks
    * monotonically. No window over raw events, no per-user sort. */
  def funnel(events: DataFrame, stages: Seq[String],
             userCol: String = "user_id", typeCol: String = "event_type",
             tsCol: String = "ts"): DataFrame = {
    require(stages.size >= 2, "a funnel needs at least 2 stages")
    val first = events.filter(col(typeCol) === stages.head)
      .groupBy(col(userCol)).agg(min(col(tsCol)).as("t"))
    val reached = stages.tail.scanLeft(first) { (prev, stage) =>
      events.filter(col(typeCol) === stage)
        .join(prev.select(col(userCol), col("t").as("t_prev")), Seq(userCol))
        .filter(col(tsCol) > col("t_prev"))
        .groupBy(col(userCol)).agg(min(col(tsCol)).as("t"))
    }
    // lazy: one count-aggregate per stage unioned into the report frame
    // (stage i's plan re-derives stages 1..i-1 — fine for report-sized
    // funnels; persist the intermediate frames for very deep ones)
    val rows = reached.zip(stages).zipWithIndex.map { case ((df, stage), i) =>
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(i + 1).as("stage"), lit(stage).as("stage_name"),
          col("n_users"))
    }
    val base = rows.head.select(col("n_users").as("n_base"))
    rows.reduce(_ unionByName _)
      .crossJoin(broadcast(base))
      .withColumn("conversion",
        round(col("n_users").cast("double") / col("n_base").cast("double"), 6))
      .select(col("stage"), col("stage_name"), col("n_users"), col("conversion"))
      .orderBy("stage")
  }

  /** [[funnel]] with a conversion window: every later stage must land
    * within `windowSec` of the user's FIRST stage-1 event — "converted
    * within 24 h of first touch", the form product analytics actually
    * reports. The deadline is fixed per user (first touch + window), so
    * greedy earliest-hit per stage is provably optimal: a smaller
    * `t_prev` strictly enlarges the feasible set `(t_prev, deadline]` of
    * the next stage. (A per-STEP deadline would break that greedy —
    * taking the earliest stage-k hit can strand stage k+1 — and needs a
    * per-user sequence scan instead; this variant is chosen because it
    * is both the standard metric and relationally exact.)
    * Time is compared in epoch microseconds on both engines. */
  def funnelWindowed(events: DataFrame, stages: Seq[String], windowSec: Long,
                     userCol: String = "user_id", typeCol: String = "event_type",
                     tsCol: String = "ts"): DataFrame = {
    require(stages.size >= 2, "a funnel needs at least 2 stages")
    val ev = events.select(col(userCol), col(typeCol),
      unix_micros(col(tsCol)).as("us"))
    val first = ev.filter(col(typeCol) === stages.head)
      .groupBy(col(userCol)).agg(min(col("us")).as("t"))
      .withColumn("dl", col("t") + lit(windowSec * 1000000L))
    val reached = stages.tail.scanLeft(first) { (prev, stage) =>
      ev.filter(col(typeCol) === stage)
        .join(prev.select(col(userCol), col("t").as("t_prev"), col("dl")),
          Seq(userCol))
        .filter(col("us") > col("t_prev") && col("us") <= col("dl"))
        .groupBy(col(userCol), col("dl")).agg(min(col("us")).as("t"))
    }
    val rows = reached.zip(stages).zipWithIndex.map { case ((df, stage), i) =>
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(i + 1).as("stage"), lit(stage).as("stage_name"),
          col("n_users"))
    }
    val base = rows.head.select(col("n_users").as("n_base"))
    rows.reduce(_ unionByName _)
      .crossJoin(broadcast(base))
      .withColumn("conversion",
        round(col("n_users").cast("double") / col("n_base").cast("double"), 6))
      .select(col("stage"), col("stage_name"), col("n_users"), col("conversion"))
      .orderBy("stage")
  }

  /** Event-type transition counts — the first-order Markov view of user
    * behavior (which event follows which): for each user's time-ordered
    * event stream, count (previous type → type) transitions and report
    * each transition's share of its source type's outgoing edges.
    *
    * Scale shape: ONE window (lag over user, ordered by time) — the
    * partition key is the user, so no single task ever sorts more than
    * one user's events — then a transition-matrix-sized groupBy
    * (|types|² rows) and a pct-of-total window over that tiny frame. */
  def transitionMatrix(events: DataFrame, userCol: String = "user_id",
                       typeCol: String = "event_type",
                       tsCol: String = "ts",
                       idCol: String = "event_id"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(userCol)).orderBy(col(tsCol), col(idCol))
    val src = org.apache.spark.sql.expressions.Window
      .partitionBy(col("from_type"))
    events
      .select(col(userCol), col(typeCol), col(tsCol), col(idCol))
      .withColumn("from_type", lag(col(typeCol), 1).over(w))
      .filter(col("from_type").isNotNull)
      .groupBy(col("from_type"), col(typeCol).as("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p", round(col("n").cast("double") /
        sum(col("n")).over(src).cast("double"), 6))
      .orderBy("from_type", "to_type")
  }

  /** Cohort retention matrix: users are cohorted by their first active
    * day; for each (cohort day, day offset) report how many of that
    * cohort's users were active, and the retained share of the cohort.
    *
    * Scale shape: events collapse to DISTINCT (user, day) FIRST — one
    * shuffle on the user+day pair that shrinks every downstream stage to
    * O(users × active-days). The cohort join is a same-key equi-join on
    * the user (co-located under user bucketing), and the per-cell count
    * needs no distinct because (user, day) is already unique. Cohort
    * sizes (O(days) rows) broadcast back onto the matrix. */
  def retentionCohorts(events: DataFrame, userCol: String = "user_id",
                       tsCol: String = "ts"): DataFrame = {
    val days = events.select(col(userCol), to_date(col(tsCol)).as("day")).distinct()
    val first = days.groupBy(col(userCol)).agg(min(col("day")).as("cohort_day"))
    val sizes = first.groupBy("cohort_day").agg(count(lit(1)).as("n_cohort"))
    days.join(first, Seq(userCol))
      .groupBy(col("cohort_day"),
        datediff(col("day"), col("cohort_day")).as("offset_days"))
      .agg(count(lit(1)).as("n_active"))
      .join(broadcast(sizes), Seq("cohort_day"))
      .withColumn("retention",
        round(col("n_active").cast("double") / col("n_cohort").cast("double"), 6))
      .select(date_format(col("cohort_day"), "yyyy-MM-dd").as("cohort_day"),
        col("offset_days").cast("int").as("offset_days"),
        col("n_active"), col("n_cohort"), col("retention"))
      .orderBy("cohort_day", "offset_days")
  }

  /** SQL-ntile bucket from a precomputed 1-based global rank: the first
    * n % k buckets take one extra row, exactly like `NTILE(k) OVER`. Pure
    * arithmetic over (rank, n) — no window. */
  def ntileFromRank(rankCol: String, nCol: String, k: Int): Column =
    expr(s"CAST(CASE WHEN $rankCol <= ($nCol % $k) * ($nCol DIV $k + 1) " +
      s"THEN ($rankCol - 1) DIV ($nCol DIV $k + 1) + 1 " +
      s"ELSE ($nCol % $k) + ($rankCol - 1 - ($nCol % $k) * ($nCol DIV $k + 1)) DIV ($nCol DIV $k) + 1 " +
      s"END AS INT)")

  /** RFM customer scoring: per-customer recency (days since last order,
    * relative to the corpus max date), frequency (order count) and
    * monetary (total spend, ROUND(6)ed before ranking so engine and
    * oracle rank identical values), each quintiled 1–5; recency is
    * inverted (most recent = 5) and the three digits concatenate into
    * the classic RFM code.
    *
    * Scale shape: one groupBy collapses orders to O(customers) rows;
    * the corpus max date is a broadcast single-row aggregate. Each
    * quintile uses [[withGlobalRank]] — range-bucketed two-phase global
    * rank, never an unpartitioned `ntile` window (which would sort every
    * customer on ONE task) — then [[ntileFromRank]] arithmetic. */
  /** Two-proportion z-test for an A/B experiment over an event stream —
    * the experimentation readout an analytics engine owes its product
    * teams: per-user conversion (any qualifying event) under an
    * id-derived variant assignment, then the pooled two-proportion
    * z-statistic `z = (p_b − p_a) / sqrt(p̂(1−p̂)(1/n_a + 1/n_b))` and a
    * two-sided 95% verdict (`|z| > 1.96`; the constant, not an erf —
    * keeping the arithmetic closed-form on both engines). Emits ONE row:
    * per-arm exposure/conversion/rate, the pooled rate, z, significant.
    *
    * Scale shape: one user-keyed aggregation (conversion is max-combined,
    * map-side) collapses the stream to O(users), then one global
    * conditional aggregation to a single row — no window, no join. The
    * z arithmetic is row-local on exact integer masses; z and the rates
    * are ROUND(6)ed (display + a deterministic significance boundary). */
  def abZTest(events: DataFrame, userCol: String, variantOf: Column,
              converted: Column): DataFrame = {
    val users = events
      .groupBy(col(userCol).as("__u"), variantOf.as("__v"))
      .agg(max(converted.cast("int")).as("__c"))
    val agg = users.agg(
      sum(when(col("__v") === 0, 1L).otherwise(0L)).as("n_a"),
      sum(when(col("__v") === 0, col("__c").cast("long")).otherwise(0L)).as("conv_a"),
      sum(when(col("__v") === 1, 1L).otherwise(0L)).as("n_b"),
      sum(when(col("__v") === 1, col("__c").cast("long")).otherwise(0L)).as("conv_b"))
    val pa = col("conv_a").cast("double") / col("n_a").cast("double")
    val pb = col("conv_b").cast("double") / col("n_b").cast("double")
    val pooled = (col("conv_a") + col("conv_b")).cast("double") /
      (col("n_a") + col("n_b")).cast("double")
    val se = sqrt(pooled * (lit(1.0) - pooled) *
      (lit(1.0) / col("n_a").cast("double") + lit(1.0) / col("n_b").cast("double")))
    // degenerate experiment (everyone converts, or no one does, or an
    // arm has no exposure): the pooled variance is 0 and z is undefined
    // -> NULL z, not-significant, never a divide-by-zero task kill
    agg.select(col("n_a"), col("conv_a"), round(pa, 6).as("rate_a"),
        col("n_b"), col("conv_b"), round(pb, 6).as("rate_b"),
        round(pooled, 6).as("pooled_rate"),
        when(se > 0.0, round((pb - pa) / se, 6)).as("z"))
      .withColumn("significant",
        coalesce(abs(col("z")) > lit(1.96), lit(false)))
  }

  def rfmScores(orders: DataFrame, custCol: String = "o_custkey",
                dateCol: String = "o_orderdate",
                priceCol: String = "o_totalprice"): DataFrame = {
    val maxDate = orders.agg(max(to_date(col(dateCol))).as("__maxd"))
    // persisted: each of the three rank passes runs an approxQuantile
    // action plus the final plan — without this the O(|orders|) aggregate
    // recomputes up to 6x. The frame is O(customers), safely cacheable.
    val rfm = orders
      .groupBy(col(custCol))
      .agg(max(to_date(col(dateCol))).as("__lastd"),
        count(lit(1)).as("frequency"),
        round(sum(col(priceCol)), 6).as("monetary"))
      .crossJoin(broadcast(maxDate))
      .withColumn("recency_days", datediff(col("__maxd"), col("__lastd")).cast("int"))
      .drop("__maxd", "__lastd")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // ONE multi-column quantile sketch supplies all three metrics' range
      // cuts — one action instead of three, each a full pass at scale
      val parts = orders.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
      val probs = (1 until parts).map(_.toDouble / parts).toArray
      val allCuts = rfm.stat.approxQuantile(
        Array("recency_days", "frequency", "monetary"), probs, 0.001)
      // checkpoint between the three chained rank stages (round 16): each
      // stage's offset table is a broadcast whose build side re-executed
      // every PRECEDING stage's window + join (JobProbe showed the three
      // broadcast-build jobs growing 0.6 → 0.9 → 1.6 s — the quadratic
      // prefix-re-execution signature); a per-stage materialization keeps
      // each stage's work paid exactly once. O(customers) rows, the same
      // bound as the persisted metric frame.
      val ranked = Seq(
        ("recency_days", "__rk_r"), ("frequency", "__rk_f"), ("monetary", "__rk_m"))
        .zip(allCuts).foldLeft(rfm) { case (df, ((metric, rk), cuts)) =>
          Iter.checkpoint(
            withGlobalRankCuts(df, metric, cuts.distinct.sorted,
              Seq(col(metric), col(custCol)), rk)
              .withColumnRenamed("__n", s"__n$rk"))
        }
      ranked
        .withColumn("r_score", lit(6) - ntileFromRank("__rk_r", "__n__rk_r", 5))
        .withColumn("f_score", ntileFromRank("__rk_f", "__n__rk_f", 5))
        .withColumn("m_score", ntileFromRank("__rk_m", "__n__rk_m", 5))
        .withColumn("rfm_code",
          col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
        .select(col(custCol), col("recency_days"), col("frequency"),
          col("monetary"), col("r_score"), col("f_score"), col("m_score"),
          col("rfm_code"))
        .orderBy(custCol)
        // O(customers) result materialized so the cached metric frame is
        // released before returning (the triangleStats discipline)
        .localCheckpoint(eager = true)
    } finally rfm.unpersist()
  }

  /** Trailing-window z-score anomaly detection on the daily event-type
    * counts: each (event_type, day) cell is scored against the mean and
    * sample-stddev of the SAME type's `trail` PRECEDING days (current day
    * excluded, so a spike cannot mask itself), and flagged when |z|
    * exceeds `zCut`. Cells with fewer than 2 trailing days (or zero
    * variance) get a NULL z and are never flagged.
    *
    * Scale shape: the raw stream collapses to O(types × days) cells in
    * one map-side-combined shuffle; the trailing window is keyed by
    * event_type over that tiny frame — never over raw events. */
  def zscoreAnomalies(events: DataFrame, trail: Int = 7, zCut: Double = 2.0,
                      typeCol: String = "event_type",
                      tsCol: String = "ts"): DataFrame = {
    val daily = events
      .groupBy(col(typeCol), to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col(typeCol)).orderBy(col("day"))
      .rowsBetween(-trail, -1)
    daily
      .withColumn("trail_mean", avg(col("cnt")).over(w))
      .withColumn("trail_std", stddev_samp(col("cnt")).over(w))
      .withColumn("z",
        when(col("trail_std").isNotNull && col("trail_std") > 0.0,
          round((col("cnt").cast("double") - col("trail_mean")) / col("trail_std"), 6)))
      .withColumn("is_anomaly",
        coalesce(abs(col("z")) > zCut, lit(false)))
      .select(col(typeCol), date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("cnt"), round(col("trail_mean"), 6).as("trail_mean"), col("z"),
        col("is_anomaly"))
      .orderBy(typeCol, "day")
  }

  /** EWMA control chart per (group, day): exponentially-weighted moving
    * average of the daily counts with decay 0.5 — λ is pinned to 1/2 so
    * every weight `0.5^k` is an exact dyadic rational and the closed-form
    * weighted sum is bit-reproducible across engines (an arbitrary λ
    * routes through transcendental `pow`, whose last ulp is libm-
    * dependent). ewma_1 = x_1; ewma_n = 0.5·x_n + 0.5·ewma_{n-1}, i.e.
    * weight 0.5^(n-j+1) on x_j (j≥2) and 0.5^(n-1) on x_1 — evaluated as
    * one ascending fold over the prefix list (the [[graft.operators
    * .Similarity.dot]] fold convention). Rows whose count strays more
    * than `relCut` from the running EWMA are flagged.
    *
    * Scale shape: identical to [[zscoreAnomalies]] — the raw stream
    * collapses to O(groups × days) cells in one map-side-combined
    * shuffle; the prefix-list window runs over that tiny frame only.
    * Day-count prefixes are bounded (years, not rows), so the per-row
    * list stays small. */
  def ewmaChart(events: DataFrame, relCut: Double = 0.2,
                typeCol: String = "event_type",
                tsCol: String = "ts"): DataFrame = {
    val daily = events
      .groupBy(col(typeCol), to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col(typeCol)).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, 0)
    daily
      .withColumn("xs", collect_list(col("cnt").cast("double")).over(w))
      .withColumn("n", size(col("xs")))
      .withColumn("ewma", round(aggregate(
        sequence(lit(1), col("n")), lit(0.0),
        (acc, j) => acc +
          when(j === 1, pow(lit(0.5), (col("n") - 1).cast("double")))
            .otherwise(pow(lit(0.5), (col("n") - j + 1).cast("double"))) *
          element_at(col("xs"), j.cast("int"))), 6))
      .withColumn("rel_dev",
        round((col("cnt").cast("double") - col("ewma")) / col("ewma"), 6))
      .withColumn("is_alert", abs(col("rel_dev")) > relCut)
      .select(col(typeCol), date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("cnt"), col("ewma"), col("rel_dev"), col("is_alert"))
      .orderBy(typeCol, "day")
  }

  /** Per-user inter-event time deltas, summarized per event type: count,
    * mean gap and exact interpolated median gap (seconds) — the
    * arrival-process profile behind session-gap and watermark-delay
    * tuning (the 2-hour watermarks and 30-minute session gap elsewhere
    * in this catalog are exactly the numbers this report justifies).
    *
    * The lag window partitions on (user, type) — high-cardinality,
    * parallel, bounded groups — over a 3-column projection of the
    * stream; the summary is a map-side-combined aggregate over the
    * delta stream. Exact percentile over per-type groups is a bounded
    * per-group sort, the [[quantiles]] convention. */
  def timeDeltas(events: DataFrame, typeCol: String = "event_type",
                 userCol: String = "user_id",
                 tsCol: String = "ts"): DataFrame = {
    val w = Window.partitionBy(col(userCol), col(typeCol))
      .orderBy(col("__us"))
    events
      .select(col(typeCol), col(userCol), unix_micros(col(tsCol)).as("__us"))
      .withColumn("__prev", lag(col("__us"), 1).over(w))
      .filter(col("__prev").isNotNull)
      .withColumn("delta_s",
        (col("__us") - col("__prev")).cast("double") / lit(1000000.0))
      .groupBy(col(typeCol))
      .agg(count(lit(1)).as("n_gaps"),
        round(avg(col("delta_s")), 6).as("avg_gap_s"),
        round(percentile(col("delta_s"), lit(0.5)), 6).as("p50_gap_s"),
        round(percentile(col("delta_s"), lit(0.9)), 6).as("p90_gap_s"))
      .orderBy(typeCol)
  }

  /** Keyed hard-delete with tombstone accounting (the right-to-be-
    * forgotten sweep): one pass marks snapshot rows against the deletion
    * list and reports per-group before/deleted/after counts — the audit
    * artifact a compliance delete must produce. The deletion list is the
    * small side (broadcast); the snapshot is read ONCE (a separate
    * anti-join for the data plus a count pass would read it twice).
    * The physical delete is then [[graft.operators.Dedup]]-style
    * anti-join + partition overwrite; this operator is its audit twin. */
  def tombstoneDelete(snapshot: DataFrame, deletions: DataFrame,
                      keyCol: String, groupCol: String): DataFrame = {
    val marks = deletions.select(col(keyCol)).distinct()
      .withColumn("__del", lit(true))
    snapshot.join(broadcast(marks), Seq(keyCol), "left")
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_before"),
        count(col("__del")).as("n_deleted"),
        (count(lit(1)) - count(col("__del"))).as("n_after"))
      .orderBy(groupCol)
  }

  /** Join-key skew diagnostic: cardinality, hottest key, and the
    * max/mean skew factor for a prospective join/aggregation key — the
    * pre-flight a 100 TB join runs before choosing between a plain
    * shuffle, salting ([[graft.SparkEntry]] `ev_salted_join`), or an AQE
    * skew-join hint. One map-side-combined count pass; the stats reduce
    * over the O(keys) frame. */
  def skewReport(df: DataFrame, keyCol: String): DataFrame = {
    val counts = df.groupBy(col(keyCol)).agg(count(lit(1)).as("cnt"))
    // deterministic hottest key: count desc, key-string desc — a TopK
    // (TakeOrdered) over the O(keys) frame, ONE broadcast row after
    val hot = counts
      .orderBy(col("cnt").desc, col(keyCol).cast("string").desc)
      .limit(1)
      .select(col(keyCol).cast("string").as("hottest_key"),
        col("cnt").as("max_key_rows"))
    counts.agg(
        sum(col("cnt")).as("n_rows"),
        count(lit(1)).as("n_keys"))
      .crossJoin(broadcast(hot))
      .withColumn("avg_key_rows",
        round(col("n_rows").cast("double") / col("n_keys").cast("double"), 6))
      .withColumn("skew_factor",
        round(col("max_key_rows").cast("double") /
          (col("n_rows").cast("double") / col("n_keys").cast("double")), 6))
      .select(col("n_rows"), col("n_keys"), col("max_key_rows"),
        col("hottest_key"), col("avg_key_rows"), col("skew_factor"))
  }

  /** Calendar gap-fill (time-series densification): the daily per-group
    * aggregate joined against the full group × calendar spine, missing
    * days zero-filled for counts and last-observation-carried-forward for
    * the value column — the regularization every downstream
    * forecaster/chart needs before it can trust a day axis.
    *
    * Scale shape: the spine is generated from ONE aggregate row (global
    * min/max day) exploded against the distinct groups — O(groups × days)
    * rows, a dim table that AQE broadcasts against the (equally tiny)
    * daily aggregate; the raw stream is touched exactly once by the
    * map-side-combined daily rollup. The LOCF window runs per group over
    * days-sized partitions. */
  def gapFill(events: DataFrame, typeCol: String = "event_type",
              tsCol: String = "ts", valueCol: String = "value"): DataFrame = {
    val daily = events
      .groupBy(col(typeCol), to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("cnt"), round(sum(col(valueCol)), 6).as("day_value"))
    val bounds = events.agg(min(to_date(col(tsCol))).as("__d0"),
      max(to_date(col(tsCol))).as("__d1"))
    val spine = daily.select(typeCol).distinct()
      .crossJoin(broadcast(bounds))
      .select(col(typeCol),
        explode(sequence(col("__d0"), col("__d1"))).as("day"))
    val locf = Window.partitionBy(col(typeCol)).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, 0)
    spine.join(daily, Seq(typeCol, "day"), "left")
      .withColumn("filled", col("cnt").isNull)
      .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
      .withColumn("value_locf",
        last(col("day_value"), ignoreNulls = true).over(locf))
      .select(col(typeCol), date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("cnt"), col("day_value"), col("value_locf"), col("filled"))
      .orderBy(typeCol, "day")
  }

  /** Algebraic incremental-aggregate maintenance (the materialized-view
    * refresh pattern): a per-key (cnt, sum) snapshot state is merged with
    * the partial state of a new batch by RE-AGGREGATING the union of
    * state rows — cnt adds, sum adds, avg re-derives. The oracle is the
    * full recompute over snapshot ∪ batch rows, which the merge must
    * equal exactly because count/sum are commutative monoids.
    *
    * At 100 TB this is the difference between re-reading the corpus and
    * reading one day: the snapshot is O(keys), the batch is one
    * partition's worth of facts, and the merge shuffle carries only
    * state rows. */
  def mergeAggState(snapshot: DataFrame, batch: DataFrame,
                    keyCol: String, valueCol: String): DataFrame = {
    def state(df: DataFrame): DataFrame = df
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("cnt"), sum(col(valueCol)).as("sum_value"))
    state(snapshot).unionByName(state(batch))
      .groupBy(col(keyCol))
      .agg(sum(col("cnt")).as("cnt"), round(sum(col("sum_value")), 6).as("sum_value"))
      .withColumn("avg_value",
        round(col("sum_value") / col("cnt").cast("double"), 6))
      .orderBy(keyCol)
  }

  /** Type-2 slowly-changing-dimension history from an event log: collapse
    * each key's time-ordered status stream into versioned validity
    * intervals — consecutive equal statuses merge into one row with
    * `valid_from` = first date of the run and `valid_to` = start of the
    * next run (NULL while current). The gaps-and-islands build every
    * warehouse uses to reconstruct dimension history from a change feed.
    *
    * Scale shape: two windows, BOTH keyed by the dimension key (lag to
    * flag changes, running sum to number islands) — no task ever sorts
    * more than one key's rows — then a groupBy on (key, island) and a
    * per-key lead over the O(versions) collapsed frame. */
  def scd2History(log: DataFrame, keyCol: String, statusCol: String,
                  tsCol: String, tieCol: String): DataFrame = {
    // the change feed is ordered at DAY granularity (+ tie key) so engine
    // and oracle agree even when the raw timestamp carries a time-of-day
    val w = Window.partitionBy(col(keyCol)).orderBy(col("__d"), col(tieCol))
    val islands = log
      .select(col(keyCol), col(statusCol), to_date(col(tsCol)).as("__d"), col(tieCol))
      .withColumn("__chg",
        when(lag(col(statusCol), 1).over(w).isNull ||
          lag(col(statusCol), 1).over(w) =!= col(statusCol), 1).otherwise(0))
      .withColumn("__island", sum(col("__chg")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val versions = islands.groupBy(col(keyCol), col("__island"))
      // every row in an island shares the status, so min() IS the status
      // (and is deterministic, unlike first())
      .agg(min(col(statusCol)).as("status"), min(col("__d")).as("valid_from"))
    val vw = Window.partitionBy(col(keyCol)).orderBy(col("__island"))
    versions
      .withColumn("valid_to", lead(col("valid_from"), 1).over(vw))
      .select(col(keyCol), col("__island").cast("int").as("version"),
        col("status"),
        date_format(col("valid_from"), "yyyy-MM-dd").as("valid_from"),
        date_format(col("valid_to"), "yyyy-MM-dd").as("valid_to"))
      .orderBy(keyCol, "version")
  }

  /** Distributed global rank over an ARBITRARY (e.g. string) sort key —
    * the [[withGlobalRank]] pattern without numeric quantile cuts.
    * `repartitionByRange` lets Spark's RangePartitioner sample the cut
    * points (works for any orderable type); the physical partition id is
    * then the range bucket: monotone in the sort key by the partitioner's
    * contract, so local `row_number` + broadcast per-bucket offsets is the
    * exact global rank. One extra exchange vs the cuts form (the window
    * re-shuffles on `__pid`), the price of not precomputing literal cuts.
    * `order` must be a total order (append a unique tiebreak). */
  def withGlobalRankByKey(df: DataFrame, order: Seq[Column],
                          rankName: String): DataFrame = {
    val parts = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val withPid = df.repartitionByRange(parts, order: _*)
      .withColumn("__pid", spark_partition_id())
    val localW = Window.partitionBy("__pid").orderBy(order: _*)
    val counts = withPid.groupBy("__pid").agg(count(lit(1)).as("__cnt"))
    val cum = Window.orderBy("__pid")
    val offsets = counts
      .withColumn("__off", coalesce(
        sum(col("__cnt")).over(cum.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("__pid", "__off")
    withPid.withColumn("__lrn", row_number().over(localW))
      .join(broadcast(offsets), Seq("__pid"))
      .withColumn(rankName, col("__lrn") + col("__off"))
      .drop("__pid", "__lrn", "__off")
  }

  /** 2-D Pareto frontier (skyline): rows not dominated on
    * (minimize `minCol`, maximize `maxCol`). A row is dominated when some
    * other row is <= on `minCol` and >= on `maxCol` with one strict.
    *
    * Scale shape — never the O(n²) dominance join:
    *  1. aggregate to one row per `minCol` value (max of `maxCol`) —
    *     O(distinct values), map-side combined;
    *  2. running max of that aggregate over `minCol` ascending, computed
    *     two-phase: literal quantile-cut buckets, bucket-local running max
    *     window, then a broadcast prefix-max carry across buckets (the
    *     same carry trick as [[withGlobalRank]], for max instead of count);
    *  3. join the O(distinct) frontier-bound frame back and filter:
    *     frontier <=> maxCol equals its value-group max AND strictly
    *     exceeds the running max over all strictly-smaller `minCol`. */
  def paretoFrontier2D(df: DataFrame, minCol: String, maxCol: String): DataFrame = {
    val parts = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val perVal = df.groupBy(col(minCol)).agg(max(col(maxCol)).as("__gmax"))
    val cuts = perVal.stat
      .approxQuantile(minCol, (1 until parts).map(_.toDouble / parts).toArray, 0.001)
      .distinct.sorted
    val pid = cuts.foldLeft(lit(0)) { (acc, c) =>
      acc + when(col(minCol) > lit(c), 1).otherwise(0)
    }
    val withPid = perVal.withColumn("__pid", pid)
    // strictly-preceding running max inside the bucket (rows are unique
    // per minCol value, so "preceding row" = "strictly smaller value")
    val localW = Window.partitionBy("__pid").orderBy(col(minCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = withPid.groupBy("__pid").agg(max(col("__gmax")).as("__bm"))
      .withColumn("__carry", max(col("__bm")).over(
        Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)))
      .select("__pid", "__carry")
    val bounds = withPid
      .withColumn("__lmax", max(col("__gmax")).over(localW))
      .join(broadcast(carry), Seq("__pid"))
      // greatest() skips NULLs: NULL only when no strictly-smaller value
      // exists anywhere (the global minimum, always on the frontier)
      .select(col(minCol), col("__gmax"), greatest(col("__lmax"), col("__carry")).as("__mlt"))
    df.join(bounds, Seq(minCol))
      .where(col(maxCol) === col("__gmax") &&
        (col("__mlt").isNull || col(maxCol) > col("__mlt")))
      .drop("__gmax", "__mlt")
  }

  /** Market-basket frequent-pair mining: support / confidence / lift for
    * unordered item pairs co-occurring in a basket (order). The classic
    * Apriori prune: only items individually frequent (support >=
    * `minSupport`) enter pair formation, so the quadratic per-basket
    * blow-up runs on the pruned basket. `maxBasket` drops baskets with
    * more distinct items than the bound: one pathological basket of k
    * items emits k(k-1)/2 pairs, the hot-key guard of this operator.
    * Under the row-local plan below the guard is effectively REQUIRED
    * at scale — a basket's full pair expansion materializes inside ONE
    * row's projection (unlike the old self-join, which spread pairs
    * across rows and could spill), so an unbounded basket is an
    * executor-OOM risk, not just a slow key. The default (1000 ≈ 500k
    * pair structs, tens of MB in one row) is the conservative ceiling
    * for that shape; pass 0 ONLY to disable the guard deliberately on
    * inputs whose basket size is already bounded upstream. The guard is
    * a SILENT exclusion inside this operator (dropped baskets simply
    * don't contribute pairs) — pipelines that engage it should pair it
    * with [[pairLiftDropped]], which reports exactly which baskets the
    * same predicate excluded, and alert when that frame is non-empty.
    *
    * Plan shape (the round-10 rewrite — semantics unchanged, oracle
    * hashes identical): baskets collapse to sorted distinct-item arrays
    * in ONE groupBy (collect_set dedups, so no separate distinct pass);
    * item supports are one explode + groupBy over that frame; the
    * frequent-item list is PROVABLY small (every member has count >=
    * minSupport·n, so |freq| <= avgBasketSize / minSupport) and rides
    * along as a single broadcast array row; pair candidates then
    * generate ROW-LOCALLY from each basket's `array_intersect` with the
    * frequent list via a nested-transform combination expansion — the
    * former per-basket self-equi-join (two extra shuffles of the
    * item-stream plus join materialization) is gone. Three shuffles
    * total, all map-side combined. */
  def pairLift(baskets: DataFrame, basketCol: String, itemCol: String,
               minSupport: Double, minPairCount: Long,
               maxBasket: Int = 1000): DataFrame = {
    val items = baskets.select(col(basketCol).as("__bk"), col(itemCol).as("__it"))
    // the hot-basket guard must run BEFORE arrays materialize: filtering
    // on size(collect_set(...)) would already have built the pathological
    // basket's array inside one aggregation buffer. countDistinct is
    // array-free (expand + two keyed aggregations), so the admission pass
    // costs an extra shuffle only when the guard is enabled
    val admitted =
      if (maxBasket <= 0) items
      else items.join(
        items.groupBy("__bk").agg(countDistinct(col("__it")).as("__bsz"))
          .where(col("__bsz") <= maxBasket).select("__bk"),
        Seq("__bk"), "left_semi")
    val arraysUncached = admitted
      .groupBy("__bk")
      .agg(sort_array(collect_set(col("__it"))).as("__items"))
    // consumed 3x (basket total, item supports, pair generation) —
    // without the persist the upstream shuffle re-runs each time
    val arrays = arraysUncached
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // nFrame and isup are consumed by several broadcast builds below
      // (the support prune + both confidence joins + the final support
      // ratio); each consumer re-ran the count/explode+groupBy over the
      // persisted basket arrays. Both are dimension-sized (1 row /
      // O(items) rows) — checkpoint once, every broadcast reads blocks
      // (round 16, guide §2.4).
      val nFrame = arrays.agg(count(lit(1)).as("__n"))
        .localCheckpoint(true)
      val isup = arrays.select(explode(col("__items")).as("__it"))
        .groupBy(col("__it")).agg(count(lit(1)).as("__cnt"))
        .localCheckpoint(true)
      val freqArr = isup.crossJoin(broadcast(nFrame))
        .where(col("__cnt").cast("double") / col("__n") >= minSupport)
        .agg(sort_array(collect_list(col("__it"))).as("__fl"))
      val pruned = arrays.crossJoin(broadcast(freqArr))
        .select(array_intersect(col("__items"), col("__fl")).as("__f"))
        .where(size(col("__f")) >= 2)
      // all j > i combinations of the sorted pruned basket, row-local
      val combos = flatten(transform(sequence(lit(0), size(col("__f")) - 2),
        i => transform(slice(col("__f"), i + 2, size(col("__f")) - i - 1),
          b => struct(element_at(col("__f"), i + 1).as("item_a"),
            b.as("item_b")))))
      val pairs = pruned
        .select(explode(combos).as("__p"))
        .groupBy(col("__p.item_a").as("item_a"), col("__p.item_b").as("item_b"))
        .agg(count(lit(1)).as("pair_cnt"))
        .where(col("pair_cnt") >= minPairCount)
      pairs
        .join(broadcast(isup.select(col("__it").as("item_a"), col("__cnt").as("__ca"))), Seq("item_a"))
        .join(broadcast(isup.select(col("__it").as("item_b"), col("__cnt").as("__cb"))), Seq("item_b"))
        .crossJoin(broadcast(nFrame))
        .select(col("item_a"), col("item_b"), col("pair_cnt"),
          round(col("pair_cnt").cast("double") / col("__n"), 6).as("support"),
          round(col("pair_cnt").cast("double") / col("__ca"), 6).as("conf_a_b"),
          round(col("pair_cnt").cast("double") / col("__cb"), 6).as("conf_b_a"),
          round(col("pair_cnt").cast("double") * col("__n") / (col("__ca") * col("__cb")), 6).as("lift"))
        .orderBy("item_a", "item_b")
        // O(frequent-pairs) result materialized so the basket cache (read
        // 3x during the evaluation) is released before returning
        .localCheckpoint(eager = true)
    } finally arrays.unpersist()
  }

  /** The observability half of [[pairLift]]'s `maxBasket` guard — the
    * "no silent caps" discipline: the guard silently excludes baskets
    * from pair formation, so a pipeline that engages it should ALSO run
    * this diagnostic and alert/log when `n_dropped > 0` (the guard
    * firing means either a pathological hot basket or a bound set too
    * low for the corpus). Returns one row per dropped basket (id +
    * distinct-item size, largest first) — same admission predicate as
    * the operator, one countDistinct aggregation, O(dropped) rows. */
  def pairLiftDropped(baskets: DataFrame, basketCol: String, itemCol: String,
                      maxBasket: Int = 1000): DataFrame =
    baskets.select(col(basketCol).as("basket"), col(itemCol).as("__it"))
      .groupBy("basket").agg(countDistinct(col("__it")).as("n_items"))
      .where(col("n_items") > maxBasket)
      .orderBy(col("n_items").desc, col("basket"))

  /** OHLC candle bars per (event_type, hour): open/close = value at the
    * earliest/latest (ts, event_id) in the bucket, high/low = extremes,
    * volume = row count, total = summed value.
    *
    * Open/close use `min_by`/`max_by` on a (ts, event_id) struct key —
    * ONE map-side-combinable aggregation pass, no window: a windowed
    * first/last-value would sort every bucket's rows; min_by carries a
    * single (key, value) pair per partial and merges in O(1), the shape
    * that turns a 100 TB tick stream into O(types × hours) rows with one
    * shuffle. The (ts, event_id) struct is a total order (event_id
    * unique), so the picked rows are engine-deterministic and the oracle
    * (windowed first_value, necessarily — DuckDB's arg_min is typed
    * differently) agrees exactly. */
  def ohlcBars(events: DataFrame, typeCol: String = "event_type",
               tsCol: String = "ts", valCol: String = "value",
               idCol: String = "event_id"): DataFrame = {
    val key = struct(col(tsCol), col(idCol))
    events
      .groupBy(col(typeCol), date_trunc("hour", col(tsCol)).as("__b"))
      .agg(
        min_by(col(valCol), key).as("open"),
        max(col(valCol)).as("high"),
        min(col(valCol)).as("low"),
        max_by(col(valCol), key).as("close"),
        count(lit(1)).as("volume"),
        round(sum(col(valCol)), 6).as("total"))
      .select(col(typeCol),
        date_format(col("__b"), "yyyy-MM-dd HH:00").as("bucket"),
        col("open"), col("high"), col("low"), col("close"),
        col("volume"), col("total"))
      .orderBy(typeCol, "bucket")
  }

  /** k-anonymity audit over quasi-identifier columns: group rows into
    * equivalence classes on the QI tuple, report each class's size and
    * whether it re-identifies (size < k) — the governance gate a corpus
    * passes before release (a class of 1 on (nation, segment, balance
    * bucket) IS a person). One map-side-combined aggregation; the QI
    * bucketing is a row-side projection. Returns per-class rows plus the
    * at-risk flag; callers roll up risky_rows/classes from it. */
  def kAnonymity(df: DataFrame, qiCols: Seq[(String, Column)], k: Int): DataFrame = {
    val named = qiCols.map { case (n, c) => c.as(n) }
    val keys = qiCols.map { case (n, _) => col(n) }
    df.select(named: _*)
      .groupBy(keys: _*)
      .agg(count(lit(1)).as("class_size"))
      .withColumn("at_risk", col("class_size") < k)
      .orderBy(keys: _*)
  }

  /** Robust anomaly summary per group: median / MAD (median absolute
    * deviation) of `valCol`, flagging values beyond `cut` scaled MADs
    * (1.4826·MAD ≈ σ under normality — the estimator that shrugs off the
    * very outliers a mean/stddev z-score lets poison its own threshold).
    *
    * Three group-keyed aggregation passes (median → absolute deviations →
    * MAD + flags), each re-joining the O(groups)-row stats frame back by
    * broadcast — the raw stream is scanned, never sorted globally, and
    * exact percentile sorts only within groups (at 100 TB swap
    * `percentile` for `percentile_approx`: same plan shape, sketch
    * mergeable — the [[quantiles]] exact/approx split). */
  def madAnomalies(events: DataFrame, typeCol: String = "event_type",
                   valCol: String = "value", cut: Double = 3.0): DataFrame = {
    val med = events.groupBy(col(typeCol))
      .agg(percentile(col(valCol), lit(0.5)).as("__med"))
    val dev = events.select(col(typeCol), col(valCol))
      .join(broadcast(med), Seq(typeCol))
      .withColumn("__adev", abs(col(valCol) - col("__med")))
    val mad = dev.groupBy(col(typeCol))
      .agg(percentile(col("__adev"), lit(0.5)).as("__mad"))
    dev.join(broadcast(mad), Seq(typeCol))
      .withColumn("__an",
        when(abs(col(valCol) - col("__med")) >
          lit(cut) * lit(1.4826) * col("__mad"), 1L).otherwise(0L))
      .groupBy(col(typeCol))
      .agg(count(lit(1)).as("n"),
        round(max(col("__med")), 6).as("median"),
        round(max(col("__mad")), 6).as("mad"),
        sum(col("__an")).as("n_anomalies"),
        round(sum(col("__an")).cast("double") / count(lit(1)).cast("double"), 6)
          .as("anomaly_pct"))
      .orderBy(typeCol)
  }

  /** Autocorrelation function of the daily event-count series at lags
    * 0..`maxLag` — the seasonality detector (weekly traffic shows a
    * spike at lag 7) that decides whether a forecast/gap-fill downstream
    * needs a seasonal term. ACF_k = Σ(x_t−x̄)(x_{t+k}−x̄) / Σ(x_t−x̄)².
    *
    * Scale shape: the fact stream collapses to O(days) daily counts in
    * one map-side-combined aggregation FIRST; the lead windows and the
    * final sums run over that reduced frame (the [[Risk]] trends
    * precedent — an unpartitioned window over O(days), never over fact
    * rows). The mean is exact (integer counts summed in doubles below
    * 2⁵³), numerator/denominator sums are ROUND(6)-absorbed. */
  /** Holt linear-trend exponential smoothing per series (Holt 1957 —
    * the forecasting arm completing the ts_ family's decompose/
    * correlate/chart trio): over each event type's ordered daily
    * counts, the classic recurrences
    * `l_t = α·y_t + (1−α)(l_{t−1}+b_{t−1})`,
    * `b_t = β(l_t−l_{t−1}) + (1−β)b_{t−1}`, initialized `l_0 = y_0,
    * b_0 = 0`, reported as the final level/trend plus the 1- and 7-step
    * linear forecasts. α and β default to DYADIC constants (0.5, 0.25)
    * so `1−α`/`1−β` are exact in binary and the engine/oracle recurrence
    * chains are bit-identical without per-step rounding (the oracle is
    * a recursive CTE running the same sequential arithmetic).
    *
    * Scale shape: one map-side daily aggregation collapses the stream
    * to O(types × days); each series then folds ROW-LOCALLY inside one
    * `aggregate` lambda over its day array — bounded by the date span
    * (a dimension), never by event volume. Gaps are treated as missing
    * (the fold sees observed days in order); zero-fill upstream via
    * [[gapFill]] when calendar regularity matters. */
  def holtForecast(events: DataFrame, typeCol: String = "event_type",
                   tsCol: String = "ts", alpha: Double = 0.5,
                   beta: Double = 0.25): DataFrame = {
    val daily = events
      .groupBy(col(typeCol), to_date(col(tsCol)).as("__day"))
      .agg(count(lit(1)).as("__y"))
    val series = daily.groupBy(col(typeCol))
      .agg(transform(sort_array(collect_list(struct(col("__day"), col("__y")))),
        e => e.getField("__y").cast("double")).as("__ys"))
    val init = struct(element_at(col("__ys"), 1).as("l"), lit(0.0).as("b"))
    val folded = aggregate(
      slice(col("__ys"), lit(2), size(col("__ys")) - 1), init,
      (acc, y) => {
        val lNew = lit(alpha) * y + lit(1.0 - alpha) *
          (acc.getField("l") + acc.getField("b"))
        struct(lNew.as("l"),
          (lit(beta) * (lNew - acc.getField("l")) +
            lit(1.0 - beta) * acc.getField("b")).as("b"))
      })
    series
      .select(col(typeCol), size(col("__ys")).as("n_days"), folded.as("__f"))
      .select(col(typeCol), col("n_days"),
        round(col("__f.l"), 6).as("level"),
        round(col("__f.b"), 6).as("trend"),
        round(col("__f.l") + col("__f.b"), 6).as("forecast_1"),
        round(col("__f.l") + lit(7.0) * col("__f.b"), 6).as("forecast_7"))
      .orderBy(typeCol)
  }

  def acf(events: DataFrame, tsCol: String = "ts", maxLag: Int = 7): DataFrame = {
    require(maxLag >= 1, "maxLag must be >= 1")
    val daily = events.groupBy(to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).cast("double").as("x"))
    val mean = daily.agg((sum(col("x")) / count(lit(1))).as("xbar"))
    val w = Window.orderBy("day")
    val withLeads = (1 to maxLag).foldLeft(daily.crossJoin(broadcast(mean))) {
      (df, k) => df.withColumn(s"__lead_$k", lead(col("x"), k).over(w))
    }
    val denom = sum((col("x") - col("xbar")) * (col("x") - col("xbar")))
    val nums = (1 to maxLag).map { k =>
      sum(when(col(s"__lead_$k").isNotNull,
        (col("x") - col("xbar")) * (col(s"__lead_$k") - col("xbar")))
        .otherwise(lit(0.0))).as(s"__num_$k")
    }
    val aggd = withLeads.agg(denom.as("__den"), nums: _*)
    val pairs = struct(lit(0L).as("lag"), lit(1.0).as("acf")) +:
      (1 to maxLag).map { k =>
        struct(lit(k.toLong).as("lag"),
          when(col("__den") > 0, round(col(s"__num_$k") / col("__den"), 6))
            .as("acf"))
      }
    aggd.select(explode(array(pairs: _*)).as("__p"))
      .select(col("__p.lag").as("lag"), col("__p.acf").as("acf"))
      .orderBy("lag")
  }

  /** CUSUM change-point scan over the daily event-count series:
    * S_t = Σ_{i≤t}(x_i − x̄), with the day(s) where |S| peaks flagged —
    * the classic "did the ingest rate shift, and when" audit (Page 1954).
    * A level shift makes |S| a tent with its apex at the change point.
    *
    * Fact rows collapse to O(days) first (the [[acf]] frame); the
    * cumulative runs in day order on the reduced frame, so both engines
    * execute the identical IEEE addition sequence and the peak flag
    * needs no rounding epsilon. */
  def cusumChangePoint(events: DataFrame, tsCol: String = "ts"): DataFrame = {
    val daily = events.groupBy(to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("cnt"))
    val mean = daily.agg((sum(col("cnt").cast("double")) / count(lit(1))).as("xbar"))
    val w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    val withS = daily.crossJoin(broadcast(mean))
      .withColumn("__s", sum(col("cnt").cast("double") - col("xbar")).over(w))
    val mx = withS.agg(max(abs(col("__s"))).as("__mx"))
    withS.crossJoin(broadcast(mx))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"), col("cnt"),
        round(col("__s"), 6).as("cusum"),
        (abs(col("__s")) === col("__mx")).as("is_peak"))
      .orderBy("day")
  }

  /** Additive seasonal decomposition of the daily event-count series:
    * trend = centered 7-day moving average (NULL on the 3-day edges —
    * no invented values), seasonal = day-of-week mean of the detrended
    * series, residual = observed − trend − seasonal. The "is the weekly
    * rhythm stable and what is left over" audit feeding [[acf]]'s
    * seasonality verdict with the actual profile.
    *
    * O(days) after the first aggregation. The trend sum is 7 exact
    * integers → one exact division; the day-of-week means are
    * order-dependent doubles → ROUND(6) before the residual subtraction
    * on both engines. Day-of-week is emitted 0=Sunday (Spark's
    * `dayofweek` minus 1 == DuckDB's `dayofweek`). */
  def stlDecompose(events: DataFrame, tsCol: String = "ts"): DataFrame = {
    val daily = events.groupBy(to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("cnt"))
    val w7 = Window.orderBy("day").rowsBetween(-3, 3)
    val withTrend = daily
      .withColumn("__trend", when(count(lit(1)).over(w7) === 7,
        sum(col("cnt").cast("double")).over(w7) / lit(7.0)))
      .withColumn("__dow", dayofweek(col("day")) - lit(1))
      .withColumn("__det", col("cnt").cast("double") - col("__trend"))
    val seasonal = withTrend.groupBy("__dow")
      .agg(round(avg(col("__det")), 6).as("seasonal"))
    withTrend.join(broadcast(seasonal), Seq("__dow"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("__dow").as("dow"), col("cnt"), col("__trend").as("trend"),
        col("seasonal"),
        round(col("__det") - col("seasonal"), 6).as("residual"))
      .orderBy("day")
  }

  /** SAX symbolization (Lin et al. 2003, "A Symbolic Representation of
    * Time Series"): each event type's daily-mean value series is
    * z-normalized, compressed by Piecewise Aggregate Approximation
    * (`segDays`-day segment means), and each segment mapped to one of 4
    * symbols by the standard-normal quartile breakpoints (−0.6745, 0,
    * 0.6745) — the discretization that turns a numeric series into a
    * short string on which similarity/motif/anomaly search runs with
    * string algorithms (the time-series counterpart of the text family's
    * shingle fingerprints). Returns one row per series: the SAX word,
    * segment/day counts, and the normalization stats.
    *
    * Scale shape: the fact stream collapses to O(types × days) in ONE
    * map-side-combined aggregation; everything after runs on that
    * reduced frame (per-type stats broadcast back — the [[madAnomalies]]
    * join shape — then one O(types × segments) aggregation). Every
    * arithmetic boundary that feeds a comparison or a downstream mean is
    * ROUND(6)ed first (daily means, series stats, z-scores, PAA means),
    * so the symbol thresholds compare identical doubles in engine and
    * oracle — the repo-wide convention for order-dependent double
    * aggregates. */
  def saxSymbols(events: DataFrame, typeCol: String = "event_type",
                 tsCol: String = "ts", valCol: String = "value",
                 segDays: Int = 5): DataFrame = {
    require(segDays >= 1, "segDays must be >= 1")
    val daily = events
      .groupBy(col(typeCol), to_date(col(tsCol)).as("__day"))
      .agg(round(avg(col(valCol)), 6).as("__dv"))
    val stats = daily.groupBy(col(typeCol))
      .agg(round(avg(col("__dv")), 6).as("__mu"),
        round(stddev_pop(col("__dv")), 6).as("__sd"),
        min(col("__day")).as("__d0"),
        count(lit(1)).as("n_days"))
    // a flat series (sd = 0: constant daily means) z-maps to 0 — symbol
    // 'c' everywhere — rather than dividing by zero
    val z = daily.join(broadcast(stats), Seq(typeCol))
      .select(col(typeCol),
        floor(datediff(col("__day"), col("__d0")) / lit(segDays)).as("__seg"),
        when(col("__sd") > 0,
          round((col("__dv") - col("__mu")) / col("__sd"), 6))
          .otherwise(lit(0.0)).as("__z"))
    val sym = z.groupBy(col(typeCol), col("__seg"))
      .agg(round(avg(col("__z")), 6).as("__pz"))
      .withColumn("__sym",
        when(col("__pz") < -0.6745, lit("a"))
          .when(col("__pz") < 0.0, lit("b"))
          .when(col("__pz") < 0.6745, lit("c"))
          .otherwise(lit("d")))
    sym.groupBy(col(typeCol))
      .agg(
        array_join(transform(
          sort_array(collect_list(struct(col("__seg"), col("__sym")))),
          e => e.getField("__sym")), "").as("sax"),
        count(lit(1)).as("n_segments"))
      .join(broadcast(stats.select(col(typeCol), col("n_days"),
        col("__mu").as("mean_daily"), col("__sd").as("sd_daily"))), Seq(typeCol))
      .select(col(typeCol), col("sax"), col("n_segments"), col("n_days"),
        col("mean_daily"), col("sd_daily"))
      .orderBy(typeCol)
  }
}
