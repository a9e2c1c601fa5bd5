package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.operators.Serving

/** EP2 results-document + L1/L2 prompt assembly (ref routes.py:182-231,
  * summarize_sentiments_fun.py:39-56, recommendation_fun.py:39-51). */
class ServingSpec extends SparkSpec {

  private def scored(rows: Seq[(Long, String, String, Double)]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text", "sentiment", "confidence")
  }

  private def trends(rows: Seq[(String, Long, Long, Long, Long)]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("date", "positive", "negative", "neutral", "total")
  }

  private val sampleScored = scored(Seq(
    (1L, "great product works well", "POSITIVE", 0.95),
    (2L, "love it absolutely", "POSITIVE", 0.95), // tie → doc_id 1 wins
    (3L, "terrible broke on day one", "NEGATIVE", 0.88),
    (4L, "it exists and does things", "NEUTRAL", 0.61)))

  private val sampleTrends = trends(Seq(
    ("2024-01-02", 5L, 1L, 2L, 8L),
    ("2024-01-01", 3L, 2L, 1L, 6L)))

  test("resultsDocument: nested shape, per-class evidence, sorted trends") {
    val row = Serving.resultsDocument(sampleScored, sampleTrends).collect()(0)
    val tr = row.getSeq[Row](row.fieldIndex("trends"))
    assert(tr.map(_.getString(0)) == Seq("2024-01-01", "2024-01-02"))
    val pos = row.getStruct(row.fieldIndex("positive_summary"))
    assert(pos.getString(0) == "POSITIVE")
    assert(pos.getLong(1) == 2L)
    assert(pos.getString(2) == "great product works well") // tiebreak: min doc_id
    val stats = row.getStruct(row.fieldIndex("statistics"))
    assert(stats.getLong(stats.fieldIndex("total_reviews")) == 4L)
    assert(stats.getLong(stats.fieldIndex("positive")) == 2L)
    assert(stats.getLong(stats.fieldIndex("negative")) == 1L)
    assert(stats.getLong(stats.fieldIndex("neutral")) == 1L)
    val reco = row.getStruct(row.fieldIndex("recommendations"))
    assert(reco.getString(0) == "great product works well")
    assert(reco.getString(1) == "terrible broke on day one")
  }

  test("resultsDocument: empty input yields zero-count statistics, not NULL") {
    val row = Serving.resultsDocument(
      sampleScored.filter(lit(false)), sampleTrends.filter(lit(false))).collect()(0)
    val stats = row.getStruct(row.fieldIndex("statistics"))
    assert(stats.getLong(stats.fieldIndex("total_reviews")) == 0L)
    assert(stats.getLong(stats.fieldIndex("positive")) == 0L)
    assert(row.isNullAt(row.fieldIndex("positive_summary")))
  }

  test("chatContext: pinned distribution, top words and tie-broken examples") {
    val s = spark
    import s.implicits._
    val words = Seq(("great", 3L), ("product", 2L), ("absolutely", 2L)).toDF("word", "cnt")
    val df = Serving.chatContext(sampleScored, words)
    assert(df.schema.catalogString ==
      "struct<distribution_ctx:string,top_words_ctx:string,examples_ctx:string>")
    assert(df.collect().map(_.toString).toSeq == Seq(
      "[NEGATIVE: 1 (25.0%), NEUTRAL: 1 (25.0%), POSITIVE: 2 (50.0%)," +
        "great (3), absolutely (2), product (2)," +
        "NEGATIVE: terrible broke on day one, NEUTRAL: it exists and does things, " +
        "POSITIVE: great product works well]"))
  }

  test("reportDocument: pinned row over the tie sample, zeros for an absent class") {
    val df = Serving.reportDocument(sampleScored, sampleTrends)
    assert(df.schema.catalogString == "struct<source_info:string,total_comments:bigint," +
      "positive_cnt:bigint,negative_cnt:bigint,neutral_cnt:bigint," +
      "rep_positive_text:string,rep_positive_confidence:double," +
      "rep_negative_text:string,rep_negative_confidence:double," +
      "rep_neutral_text:string,rep_neutral_confidence:double," +
      "hc_positive_text:string,hc_positive_confidence:double," +
      "hc_negative_text:string,hc_negative_confidence:double," +
      "hc_neutral_text:string,hc_neutral_confidence:double," +
      "summary_positive_basis:string,summary_negative_basis:string," +
      "positive_pct:string,negative_pct:string,neutral_pct:string," +
      "insurance_cost:double,risk_level:string,risk_score:bigint," +
      "sentiment_multiplier:double,confidence_multiplier:double," +
      "sample_multiplier:double,trend_multiplier:double,trend_status:string," +
      "avg_confidence:double>")
    // POSITIVE ties at 0.95 (also the class mean): doc 1 is both the
    // representative and the highest-confidence comment
    assert(df.collect().map(_.toString).toSeq == Seq(
      "[documents,4,2,1,1," +
        "great product works well,0.95,terrible broke on day one,0.88," +
        "it exists and does things,0.61," +
        "great product works well,0.95,terrible broke on day one,0.88," +
        "it exists and does things,0.61," +
        "great product works well,terrible broke on day one,50.0,25.0,25.0," +
        "12242.34,High,69,1.75,1.08,1.3,1.0,Stable,0.848]"))
    val noNeutral = Serving.reportDocument(
      sampleScored.filter(col("sentiment") =!= "NEUTRAL"), sampleTrends)
    assert(noNeutral.collect().map(_.toString).toSeq == Seq(
      "[documents,3,2,1,0," +
        "great product works well,0.95,terrible broke on day one,0.88,null,null," +
        "great product works well,0.95,terrible broke on day one,0.88,null,null," +
        "great product works well,terrible broke on day one,66.7,33.3,0.0," +
        "12353.61,Critical,76,1.83,1.04,1.3,1.0,Stable,0.927]"))
  }

  test("summaryPrompts: reference template, numbered 2-decimal confidence lines") {
    val out = Serving.summaryPrompts(sampleScored, 10)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out.keySet == Set("POSITIVE", "NEGATIVE", "NEUTRAL"))
    val p = out("POSITIVE")
    assert(p.startsWith("Analyze the following POSITIVE comments from customer " +
      "reviews and provide a concise summary in EXACTLY 2-3 sentences.\n\n" +
      "POSITIVE COMMENTS:\n"))
    // order: confidence DESC then doc_id ASC; numbered from 1; blank-line join
    assert(p.contains("1. [Confidence: 0.95] great product works well\n\n" +
      "2. [Confidence: 0.95] love it absolutely"))
    assert(p.endsWith("explaining what aspects the commenters found positive. " +
      "Focus on the main themes and common patterns.\n\nSummary:"))
    assert(out("NEUTRAL").contains("1. [Confidence: 0.61] it exists and does things"))
  }

  test("summaryPrompts: k bounds the list") {
    val out = Serving.summaryPrompts(sampleScored, 1)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out("POSITIVE").contains("1. [Confidence: 0.95] great product works well"))
    assert(!out("POSITIVE").contains("love it absolutely"))
  }

  test("recommendationPrompt: composes base prompt with pos/neg evidence") {
    val p = Serving.recommendationPrompt(sampleScored, sampleTrends, "Base.")
      .collect()(0).getString(0)
    assert(p == "Base.\n\nPOSITIVE FEEDBACK SUMMARY:\ngreat product works well" +
      "\n\nNEGATIVE FEEDBACK SUMMARY:\nterrible broke on day one" +
      "\n\nPlease provide 3 actionable recommendations:")
  }

  test("resultsDocumentFlat: scalar columns mirror the nested document; trends JSON is compact") {
    val row = Serving.resultsDocumentFlat(sampleScored, sampleTrends).collect()(0)
    // key order = struct field order, compact separators (the DuckDB
    // to_json conventions the gate oracle relies on)
    assert(row.getString(row.fieldIndex("trends_json")) ==
      """[{"date":"2024-01-01","positive":3,"negative":2,"neutral":1,"total":6},""" +
      """{"date":"2024-01-02","positive":5,"negative":1,"neutral":2,"total":8}]""")
    assert(row.getString(row.fieldIndex("positive_summary_sentiment_type")) == "POSITIVE")
    assert(row.getLong(row.fieldIndex("positive_summary_num_comments")) == 2L)
    assert(row.getString(row.fieldIndex("negative_summary_summary")) == "terrible broke on day one")
    assert(row.getLong(row.fieldIndex("statistics_total_reviews")) == 4L)
    assert(row.getString(row.fieldIndex("recommendations_negative_basis")) == "terrible broke on day one")
  }

  test("suggestedQuestions: both data-dependent inserts, trimmed to 8") {
    val qs = Serving.suggestedQuestions(sampleScored, sampleTrends)
      .collect().map(r => r.getInt(0) -> r.getString(1))
    assert(qs.length == 8)
    assert(qs.map(_._1).toSeq == (1 to 8))
    assert(qs(0)._2 == "Summarize the negative feedback")
    assert(qs(1)._2 == "What are your top recommendations?")
    assert(qs.drop(2).map(_._2).toSeq == Serving.SuggestedQuestionPool.take(6))
  }

  test("suggestedQuestions: no negative class -> no inserts, plain top-8 pool") {
    val qs = Serving.suggestedQuestions(
      sampleScored.filter(col("sentiment") =!= "NEGATIVE"), sampleTrends)
      .collect().map(_.getString(1))
    assert(qs.toSeq == Serving.SuggestedQuestionPool.take(8))
  }

  test("suggestedQuestions: negative summary without positive -> prepend only") {
    // has_neg true, has_reco false (recommendations need BOTH bases)
    val qs = Serving.suggestedQuestions(
      sampleScored.filter(col("sentiment") =!= "POSITIVE"), sampleTrends)
      .collect().map(_.getString(1))
    assert(qs.head == "Summarize the negative feedback")
    assert(qs.tail.toSeq == Serving.SuggestedQuestionPool.take(7))
  }

  test("chatMessages: last-4 history window + appended user question") {
    val s = spark
    import s.implicits._
    val hist = Seq(
      (1L, "user", "m1"), (2L, "assistant", "m2"), (3L, "user", "m3"),
      (4L, "assistant", "m4"), (5L, "user", "m5"), (6L, "assistant", "m6"))
      .toDF("seq", "role", "content")
    val m = Serving.chatMessages(hist, "current?").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2)))
    assert(m.toSeq == Seq((1, "user", "m3"), (2, "assistant", "m4"),
      (3, "user", "m5"), (4, "assistant", "m6"), (5, "user", "current?")))
  }

  test("chatMessages: short history is kept whole") {
    val s = spark
    import s.implicits._
    val hist = Seq((1L, "user", "m1")).toDF("seq", "role", "content")
    val m = Serving.chatMessages(hist, "q").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2)))
    assert(m.toSeq == Seq((1, "user", "m1"), (2, "user", "q")))
  }

  test("sftExamples: one example per assistant turn with exact template offsets") {
    val s = spark
    import s.implicits._
    val turns = Seq(
      (1L, 1L, "user", "hi"), (1L, 2L, "assistant", "hello"),
      (1L, 3L, "user", "more"), (1L, 4L, "assistant", "sure"),
      (2L, 1L, "user", "solo")) // conversation with no assistant turn
      .toDF("conv_id", "seq", "role", "content")
    val out = Serving.sftExamples(turns).collect()
    assert(out.length == 2) // conv 2 emits nothing
    val e1 = out(0)
    assert(e1.getAs[Long]("turn_seq") == 2L)
    assert(e1.getAs[Int]("n_context_turns") == 1)
    assert(e1.getAs[String]("prompt") == "<|user|>\nhi\n<|assistant|>\n")
    assert(e1.getAs[String]("target") == "hello")
    // loss mask starts exactly where the prompt ends
    assert(e1.getAs[Int]("loss_start") == e1.getAs[String]("prompt").length)
    assert(e1.getAs[Int]("n_chars") ==
      e1.getAs[Int]("loss_start") + "hello".length)
    val e2 = out(1)
    assert(e2.getAs[Int]("n_context_turns") == 3)
    assert(e2.getAs[String]("prompt") ==
      "<|user|>\nhi\n<|assistant|>\nhello\n<|user|>\nmore\n<|assistant|>\n")
    assert(e2.getAs[String]("target") == "sure")
  }
}
