package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._

import graft.functions.Sentiment
import graft.operators.Analytics
import graft.sources.{Artifacts, Html}

class ArtifactsSpec extends SparkSpec {

  private lazy val tmp = Files.createTempDirectory("graft-artifacts").toString

  test("S7 JSON sinks: per-sentiment comments + nested trends document") {
    val scored = Sentiment.score(Tables.documents(spark, sf0001))
    val trends = Analytics.dailyTrends(Tables.events(spark, sf0001))
    Artifacts.writeJsonArtifacts(scored, trends, tmp)
    val comments = spark.read.json(s"$tmp/comments")
    assert(comments.count() == 500)
    assert(comments.columns.contains("sentiment")) // partition column round-trips
    val doc = spark.read.json(s"$tmp/sentiment_trends")
    val row = doc.collect()(0)
    val days = row.getSeq[org.apache.spark.sql.Row](row.fieldIndex("trends"))
      .map(_.getAs[String]("date"))
    assert(days.length == 30)
    assert(days == days.sorted, "trends array is date-ascending")
    val summary = row.getAs[org.apache.spark.sql.Row]("summary")
    assert(summary.getAs[Long]("total_reviews") == 1000L)
  }

  test("S8 CSV sink + re-read round-trips row count and schema") {
    val scored = Sentiment.score(Tables.documents(spark, sf0001))
    Artifacts.writeCsv(scored, tmp)
    val back = Artifacts.readCsv(spark, tmp)
    assert(back.count() == 500)
    assert(back.columns.toSet == Set("doc_id", "text", "sentiment", "confidence", "original_score"))
  }

  test("S9/S10 TXT sink + re-parse recovers exactly the long blocks") {
    val docs = df1(Seq(
      (1L, "this is a sufficiently long review block to survive"),
      (2L, "short"),
      (3L, "another long enough block of extracted review text here")))
    Artifacts.writeTxtBlocks(docs, tmp)
    val parsed = Artifacts.reparseTxtBlocks(spark, tmp).collect().map(_.getString(0)).toSet
    assert(parsed == Set(
      "this is a sufficiently long review block to survive",
      "another long enough block of extracted review text here"))
  }

  test("S3/S4 HTML scan + extraction: newest first, tags stripped, paragraphs pulled") {
    val dir = Files.createTempDirectory("graft-html")
    val old = dir.resolve("old.html")
    val newer = dir.resolve("new.html")
    Files.writeString(old, "<html><title>Old Page</title><body><p>ancient content</p></body></html>")
    Files.writeString(newer,
      """<html><head><title>My Restaurant</title><script>var x = "junk";</script></head>
        |<body><p>The food was absolutely delicious and the staff was great.</p>
        |<p>tiny</p><p>Another paragraph long enough to be captured here.</p></body></html>""".stripMargin)
    Files.setLastModifiedTime(old, java.nio.file.attribute.FileTime.fromMillis(1000000))
    val df = Html.newestFirst(spark, dir.toString)
    val first = df.select(col("path"), Html.title(col("html")).as("t"),
      Html.paragraphs(col("html")).as("ps"),
      Html.stripTags(col("html")).as("flat")).collect()(0)
    assert(first.getAs[String]("path").endsWith("new.html"))
    assert(first.getAs[String]("t") == "My Restaurant")
    assert(first.getSeq[String](first.fieldIndex("ps")) == Seq(
      "The food was absolutely delicious and the staff was great.",
      "Another paragraph long enough to be captured here."))
    assert(!first.getAs[String]("flat").contains("junk")) // script content removed
  }

  test("artifact retention sweep: removes only old, unprotected, visible job dirs") {
    val base = java.nio.file.Files.createTempDirectory("graft_retention").toString
    def mkdir(name: String, ageDays: Int): java.io.File = {
      val f = new java.io.File(base, name)
      f.mkdirs()
      new java.io.File(f, "artifact.txt").createNewFile()
      f.setLastModified(System.currentTimeMillis() - ageDays.toLong * 86400000L)
      f
    }
    mkdir("job-old", 10)
    mkdir("job-new", 1)
    mkdir("visualizations", 30)   // protected name
    mkdir(".hidden", 30)          // hidden entry
    val removed = sources.Artifacts.cleanupOldArtifacts(base, maxAgeDays = 7)
    assert(removed == Seq("job-old"))
    val left = new java.io.File(base).listFiles().map(_.getName).toSet
    assert(left == Set("job-new", "visualizations", ".hidden"))
    // nonexistent base is a no-op
    assert(sources.Artifacts.cleanupOldArtifacts(base + "/nope") == Nil)
  }

  test("cleanupOldArtifacts: never follows a symlink out of the swept dir") {
    import java.nio.file.{Files, Paths}
    val base = Files.createTempDirectory("graft_rm").toString
    val outside = Files.createTempDirectory("graft_outside")
    val keepMe = outside.resolve("keep.txt")
    Files.writeString(keepMe, "do not delete")
    val job = Paths.get(base, "job-linked")
    Files.createDirectory(job)
    Files.writeString(job.resolve("own.txt"), "x")
    Files.createSymbolicLink(job.resolve("escape"), outside)
    val old = System.currentTimeMillis() - 30L * 24 * 3600 * 1000
    job.toFile.setLastModified(old)
    val removed = sources.Artifacts.cleanupOldArtifacts(base, maxAgeDays = 7)
    assert(removed == Seq("job-linked"))
    assert(!Files.exists(job), "aged job dir (and the link itself) removed")
    assert(Files.exists(keepMe), "file behind the symlink must survive")
  }

  test("EP3 context assembly is deterministic and well-formed") {
    val scored = Sentiment.score(Tables.documents(spark, sf0001))
    val ctx = operators.Serving.chatContext(scored,
      Analytics.topWords(Tables.documents(spark, sf0001), "text", 5)).collect()(0)
    val dist = ctx.getAs[String]("distribution_ctx")
    assert(dist.matches("NEGATIVE: \\d+ \\(\\d+\\.\\d%\\), NEUTRAL: \\d+ \\(\\d+\\.\\d%\\), POSITIVE: \\d+ \\(\\d+\\.\\d%\\)"))
    assert(ctx.getAs[String]("top_words_ctx").split(", ").length == 5)
    assert(ctx.getAs[String]("examples_ctx").contains("POSITIVE: "))
  }
}
