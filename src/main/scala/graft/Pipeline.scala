package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Sentiment
import graft.operators.{Analytics, Risk, Serving}
import graft.sources.Artifacts

/** EP1 end-to-end (SURVEY.md §3): the reference's flagship analyze job as
  * ONE lazily-planned Spark program. Where the reference materializes to
  * SQLite/JSON/CSV between every stage, here each stage is a DataFrame
  * handed to the next; only the final artifacts hit storage.
  *
  * Stage map (reference → here):
  *   S10/S5 load → [[Tables.documents]];
  *   V4 inference → [[Sentiment.score]] (deterministic lexicon seam);
  *   F5/F7/A3 scoring+normalize → inside [[Sentiment.score]] +
  *   [[Analytics.normalizeScores]];
  *   A4 trends → [[Analytics.dailyTrends]];
  *   V1-V3 representatives → [[ml.Representatives.representatives]]
  *   (eager: one Spark job collects the classes, the fit runs on the
  *   driver, the result is a local frame);
  *   A6 stats + F11 risk → [[Analytics.confidenceStats]] /
  *   [[Risk.insuranceRisk]];
  *   L1 summary prompts → [[Serving.summaryPrompts]];
  *   L3 context assembly → [[Serving.chatContext]];
  *   EP2 results document → [[Serving.resultsDocument]];
  *   S7/S8 sinks → [[Artifacts]].
  *
  * Where the figures are computed: the per-class counts, means and
  * highest-confidence reviews of the context, the results document and
  * the report come from one aggregation, [[Analytics.classSummary]]; the
  * corpus-wide counts and confidence figures of the stats and the risk
  * are [[Analytics.Corpus]]'s aggregate columns; the trends array of the
  * results document and of the trends artifact is
  * [[Analytics.trendsArray]]. Each output still plans its own
  * aggregation: nothing is materialized once per job.
  */
object Pipeline {

  case class Results(
      scored: DataFrame,
      distribution: DataFrame,
      trends: DataFrame,
      stats: DataFrame,
      risk: DataFrame,
      representatives: DataFrame,
      chatContext: DataFrame,
      resultsDocument: DataFrame,
      summaryPrompts: DataFrame)

  /** Runs the full analysis over a documents+events directory. `scored`
    * is cached: five downstream branches reuse it. Every field is lazy
    * except `representatives`, whose one collect also fills the cache. */
  def analyze(spark: SparkSession, dir: String, withRepresentatives: Boolean = true): Results = {
    val scored = Analytics.normalizeScores(
      Sentiment.score(Tables.documents(spark, dir))).persist()
    val trends = Analytics.dailyTrends(Tables.events(spark, dir))
    Results(
      scored = scored,
      distribution = Analytics.distributionWithPct(scored, "sentiment"),
      trends = trends,
      stats = Analytics.confidenceStats(scored, col("n_chars") >= 200),
      risk = Risk.insuranceRisk(scored, trends),
      representatives =
        if (withRepresentatives) ml.Representatives.representatives(scored)
        else spark.emptyDataFrame,
      chatContext = Serving.chatContext(scored,
        Analytics.topWords(scored, "text", 15)),
      resultsDocument = Serving.resultsDocument(scored, trends),
      summaryPrompts = Serving.summaryPrompts(scored))
  }

  /** Analyze + write the reference's artifact set (S7/S8/S9). */
  def analyzeAndWrite(spark: SparkSession, dir: String, outDir: String): Results = {
    val r = analyze(spark, dir)
    Artifacts.writeJsonArtifacts(r.scored, r.trends, outDir)
    Artifacts.writeCsv(r.scored, outDir)
    Artifacts.writeTxtBlocks(r.scored.select("doc_id", "text"), outDir)
    r.risk.coalesce(1).write.mode("overwrite").json(s"$outDir/insurance_risk")
    r
  }
}
