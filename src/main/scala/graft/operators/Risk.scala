package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** A11 sliding trend-risk windows + F11 insurance-risk formula
  * (ref `insurance_calculator.py:13-243`).
  *
  * Shape: all inputs are first reduced to single-row aggregates
  * (distribution, confidence stats, trend windows); the formula itself is
  * pure column arithmetic over a broadcast cross-join of those single rows
  * — O(1) data regardless of input scale.
  */
object Risk {

  /** A11 (ref `insurance_calculator.py:135-186`): negative-share of the
    * most recent 14 *days present* vs the previous 14, plus a 3-day spike
    * probe, folded into the reference's trend multiplier:
    *   - fewer than 7 days of data, or an empty recent window → 1.0
    *   - recent > prev*1.5 → 1.4; > prev*1.2 → 1.2; < prev*0.7 → 0.9
    *     (previous window only exists when >= 28 days are present)
    *   - else last-3-days negative share > 0.3 → 1.3, else 1.0.
    *
    * Input: the A4 trends frame (`date, positive, negative, neutral, total`,
    * one row per day — already tiny, so the un-partitioned window is safe).
    */
  def trendRisk(trends: DataFrame): DataFrame = {
    val byRecency = Window.orderBy(col("date").desc)
    val ranked = trends.withColumn("rn", row_number().over(byRecency))
    val agg = ranked.agg(
      count(lit(1)).as("n_dates"),
      sum(when(col("rn") <= 14, col("negative")).otherwise(0L)).as("recent_negative"),
      sum(when(col("rn") <= 14, col("total")).otherwise(0L)).as("recent_total"),
      sum(when(col("rn").between(15, 28), col("negative")).otherwise(0L)).as("prev_negative"),
      sum(when(col("rn").between(15, 28), col("total")).otherwise(0L)).as("prev_total"),
      sum(when(col("rn") <= 3, col("negative")).otherwise(0L)).as("last3_negative"),
      sum(when(col("rn") <= 3, col("total")).otherwise(0L)).as("last3_total"))

    def ratio(num: Column, den: Column): Column =
      when(den > 0, num.cast("double") / den.cast("double")).otherwise(lit(null))

    val withRatios = agg
      .withColumn("recent_neg_ratio", ratio(col("recent_negative"), col("recent_total")))
      .withColumn("prev_neg_ratio", ratio(col("prev_negative"), col("prev_total")))
      .withColumn("last3_neg_ratio", ratio(col("last3_negative"), col("last3_total")))

    val prevAvailable = col("n_dates") >= 28 && col("prev_total") > 0
    val mult = when(col("n_dates") < 7, lit(1.0))
      .when(col("recent_total") === 0, lit(1.0))
      .when(prevAvailable && col("recent_neg_ratio") > col("prev_neg_ratio") * lit(1.5), lit(1.4))
      .when(prevAvailable && col("recent_neg_ratio") > col("prev_neg_ratio") * lit(1.2), lit(1.2))
      .when(prevAvailable && col("recent_neg_ratio") < col("prev_neg_ratio") * lit(0.7), lit(0.9))
      .when(col("last3_total") > 0 && col("last3_neg_ratio") > lit(0.3), lit(1.3))
      .otherwise(lit(1.0))

    withRatios
      .withColumn("trend_multiplier", mult)
      .withColumn("trend_status", trendStatus(col("trend_multiplier")))
  }

  /** ref `insurance_calculator.py:234-243`. */
  def trendStatus(tm: Column): Column =
    when(tm >= 1.3, lit("Significantly deteriorating"))
      .when(tm >= 1.1, lit("Moderately deteriorating"))
      .when(tm <= 0.95, lit("Improving"))
      .otherwise(lit("Stable"))

  /** F11 (ref `insurance_calculator.py:13-132,189-231`): the full insurance
    * risk assessment as one single-row DataFrame. `scored` is the sentiment
    * pipeline output; `trends` is the A4 frame.
    *
    * The counts and confidence figures are [[Analytics.Corpus]]'s
    * aggregates. The order-dependent double aggregates (avg/std of
    * confidence) are canonicalized by rounding to 9 decimals before
    * entering the formula so both engines compute the multipliers from
    * identical inputs.
    */
  def insuranceRisk(scored: DataFrame, trends: DataFrame,
                    baseRate: Double = 5000.0): DataFrame = {
    import Analytics.Corpus
    val dist = scored.agg(
      Corpus.total.as("total_samples"),
      Corpus.classCount("POSITIVE").as("n_pos"),
      Corpus.classCount("NEGATIVE").as("n_neg"),
      Corpus.classCount("NEUTRAL").as("n_neu"),
      round(Corpus.avgConfidence, 9).as("avg_confidence"),
      round(Corpus.stdConfidence, 9).as("std_confidence"),
      Corpus.minConfidence.as("min_confidence"))

    val joined = broadcast(dist).crossJoin(broadcast(
      trendRisk(trends).select("trend_multiplier", "trend_status")))

    val n = col("total_samples")
    val posR = col("n_pos").cast("double") / n.cast("double")
    val negR = col("n_neg").cast("double") / n.cast("double")
    val neuR = col("n_neu").cast("double") / n.cast("double")

    val sentMult0 = lit(1.0) + negR * lit(2.5) + neuR * lit(0.5)
    val sentMult = when(posR > 0.85, sentMult0 * lit(0.85))
      .when(posR > 0.75, sentMult0 * lit(0.95))
      .otherwise(sentMult0)

    val confMult0 = lit(1.5) - col("avg_confidence") * lit(0.5)
    val confMult = when(col("std_confidence") > 0.2, confMult0 * lit(1.1)).otherwise(confMult0)

    val sampleMult = when(n < 50, lit(1.3)).when(n < 100, lit(1.15)).otherwise(lit(1.0))

    val tm = col("trend_multiplier")
    val cost = lit(baseRate) * sentMult * confMult * sampleMult * tm

    // ref :189-219 — capped additive risk score
    val score = negR * lit(200.0) +
      when(posR < 0.6, (lit(0.6) - posR) * lit(50.0)).otherwise(lit(0.0)) +
      when(col("avg_confidence") < 0.9,
        (lit(0.9) - col("avg_confidence")) * lit(100.0)).otherwise(lit(0.0)) +
      when(n < 100, (lit(100.0) - n.cast("double")) / lit(10.0)).otherwise(lit(0.0)) +
      when(tm > 1.0, (tm - lit(1.0)) * lit(25.0)).otherwise(lit(0.0))
    val riskScore = least(floor(score), lit(100L)).cast("long")

    val riskLevel = when(riskScore >= 70, lit("Critical"))
      .when(riskScore >= 50, lit("High"))
      .when(riskScore >= 30, lit("Medium"))
      .otherwise(lit("Low"))

    joined.select(
      round(cost, 2).as("insurance_cost"),
      riskLevel.as("risk_level"),
      riskScore.as("risk_score"),
      round(posR * 100, 1).as("positive_percentage"),
      round(negR * 100, 1).as("negative_percentage"),
      round(neuR * 100, 1).as("neutral_percentage"),
      round(sentMult, 2).as("sentiment_multiplier"),
      round(col("avg_confidence"), 3).as("average_confidence"),
      round(col("std_confidence"), 3).as("confidence_std"),
      round(col("min_confidence"), 3).as("min_confidence"),
      round(confMult, 2).as("confidence_multiplier"),
      n.as("total_samples"),
      round(sampleMult, 2).as("sample_multiplier"),
      round(tm, 2).as("trend_multiplier"),
      col("trend_status"))
  }

  /** F11 nested-output parity: the same assessment shaped as the
    * reference's `insurance_risk.json` document with its `breakdown{...}`
    * sub-objects (ref `insurance_calculator.py:103-132`). Pure projection
    * over [[insuranceRisk]] — still a single broadcast row. */
  def insuranceRiskNested(scored: DataFrame, trends: DataFrame,
                          baseRate: Double = 5000.0): DataFrame =
    insuranceRisk(scored, trends, baseRate).select(
      col("insurance_cost"), col("risk_level"), col("risk_score"),
      struct(
        lit(baseRate).as("base_rate"),
        struct(col("positive_percentage"), col("negative_percentage"),
          col("neutral_percentage"), col("sentiment_multiplier"))
          .as("sentiment_factors"),
        struct(col("average_confidence"), col("confidence_std"),
          col("min_confidence"), col("confidence_multiplier"))
          .as("confidence_factors"),
        struct(col("total_samples"), col("sample_multiplier"))
          .as("sample_factors"),
        struct(col("trend_multiplier"), col("trend_status"))
          .as("trend_factors")).as("breakdown"))

  /** [[insuranceRiskNested]] with the breakdown flattened to dotted scalar
    * columns — the correctness-gate shape (the gate hashes cells with
    * pandas, which cannot hash a struct). Field-for-field the same values;
    * the nested form stays the library surface. */
  def insuranceRiskBreakdownFlat(scored: DataFrame, trends: DataFrame,
                                 baseRate: Double = 5000.0): DataFrame =
    insuranceRisk(scored, trends, baseRate).select(
      col("insurance_cost"), col("risk_level"), col("risk_score"),
      lit(baseRate).as("breakdown_base_rate"),
      col("positive_percentage").as("breakdown_sentiment_factors_positive_percentage"),
      col("negative_percentage").as("breakdown_sentiment_factors_negative_percentage"),
      col("neutral_percentage").as("breakdown_sentiment_factors_neutral_percentage"),
      col("sentiment_multiplier").as("breakdown_sentiment_factors_sentiment_multiplier"),
      col("average_confidence").as("breakdown_confidence_factors_average_confidence"),
      col("confidence_std").as("breakdown_confidence_factors_confidence_std"),
      col("min_confidence").as("breakdown_confidence_factors_min_confidence"),
      col("confidence_multiplier").as("breakdown_confidence_factors_confidence_multiplier"),
      col("total_samples").as("breakdown_sample_factors_total_samples"),
      col("sample_multiplier").as("breakdown_sample_factors_sample_multiplier"),
      col("trend_multiplier").as("breakdown_trend_factors_trend_multiplier"),
      col("trend_status").as("breakdown_trend_factors_trend_status"))
}
