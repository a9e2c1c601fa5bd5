package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Artifact sinks/sources (SURVEY.md §2.1 S6-S10): the reference
  * materializes every stage to per-job JSON/CSV/TXT files; here each sink
  * is a DataFrame writer and each re-scan is a reader — the engine itself
  * stays one lazy plan and only materializes at these boundaries.
  */
object Artifacts {

  /** S7: per-sentiment comment JSON (`comments/sentiment=…`) + one trends
    * JSON document, days in date order, with the nested summary struct
    * (`sentiment_trends`)
    * (ref `Context_analyzer_RoBERTa_fun.py:732-738,796-812`). The
    * reference's performance summary (`vizualization.py:308-324`) is not
    * written. */
  def writeJsonArtifacts(scored: DataFrame, trends: DataFrame, outDir: String): Unit = {
    scored
      .select("doc_id", "text", "sentiment", "confidence", "original_score")
      .write.mode("overwrite").partitionBy("sentiment").json(s"$outDir/comments")

    // trends + grand summary as one nested document per partition-free file
    val summary = graft.operators.Analytics.trendsSummary(trends)
      .select(struct(
        col("total_dates"),
        struct(col("start_date").as("start"), col("end_date").as("end")).as("date_range"),
        col("total_reviews"), col("total_positive"), col("total_negative"),
        col("total_neutral")).as("summary"))
    val doc = graft.operators.Analytics.trendsArray(trends).crossJoin(summary)
    doc.coalesce(1).write.mode("overwrite").json(s"$outDir/sentiment_trends")
  }

  /** S8: CSV sink of the full results frame + re-read
    * (ref `vizualization.py:331`; `pdf_generation/pdf_data_loader.py:73-82`). */
  def writeCsv(scored: DataFrame, outDir: String): Unit =
    scored.select("doc_id", "text", "sentiment", "confidence", "original_score")
      .write.mode("overwrite").option("header", "true").csv(s"$outDir/complete_results")

  def readCsv(spark: SparkSession, outDir: String): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "true")
      .csv(s"$outDir/complete_results")

  /** S9: human-readable TXT blocks with `[Review N]` markers
    * (ref `extract_text_fun.py:247-334`). */
  def writeTxtBlocks(docs: DataFrame, outDir: String): Unit =
    docs.select(format_string("[Review %d]\n%s", col("doc_id"), col("text")).as("value"))
      .write.mode("overwrite").text(s"$outDir/blocks")

  /** S10: re-parse of the engine's own TXT block files (ref
    * `Context_analyzer_RoBERTa_fun.py:282-352`): split on `[Review N]`
    * markers, drop marker lines, keep blocks longer than minLen. */
  def reparseTxtBlocks(spark: SparkSession, outDir: String, minLen: Int = 30): DataFrame = {
    val raw = spark.read.text(s"$outDir/blocks")
    raw.select(col("value"))
      .filter(!col("value").rlike("^\\[Review \\d+\\]$"))
      .filter(length(col("value")) > minLen)
  }

  /** Artifact retention sweep (ref `cleanup_old_jobs.py:13-51`): remove
    * direct subdirectories of `baseDir` older than `maxAgeDays` (by
    * mtime), keeping the names in `keep` and hidden entries. Returns the
    * removed directory names, sorted. `nowMs` is injectable so tests and
    * replays are deterministic. */
  def cleanupOldArtifacts(baseDir: String, maxAgeDays: Int = 7,
                          keep: Set[String] = Set("visualizations"),
                          nowMs: Long = System.currentTimeMillis()): Seq[String] = {
    val base = new java.io.File(baseDir)
    if (!base.exists()) return Nil
    val maxAgeMs = maxAgeDays.toLong * 24 * 3600 * 1000
    Option(base.listFiles()).getOrElse(Array.empty).toSeq
      .filter(f => f.isDirectory && !keep(f.getName) && !f.getName.startsWith("."))
      .filter(f => nowMs - f.lastModified() > maxAgeMs)
      .map { f => deleteRecursively(f); f.getName }
      .sorted
  }

  /** Recursive delete that never recurses THROUGH a symlink: listFiles
    * on a link-to-directory returns the TARGET's children, so recursing
    * would delete files outside the tree (the reference's shutil.rmtree
    * also refuses to follow links) — the link itself is unlinked
    * instead. Shared by the retention sweep and the streaming replay
    * harnesses' staging-dir cleanup. */
  def deleteRecursively(x: java.io.File): Unit = {
    if (!java.nio.file.Files.isSymbolicLink(x.toPath))
      Option(x.listFiles()).foreach(_.foreach(deleteRecursively))
    x.delete()
  }
}
