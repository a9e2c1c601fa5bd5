package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.{Pipeline, Tables}
import graft.operators.TrainingPipeline
import graft.sources.{Artifacts, Html, Ingest}

/** `review_jobs`: the analysts' job flow plus the corpus batch.
  *
  * First the corpus batch (`Pipeline.analyzeAndWrite` then
  * `TrainingPipeline.corpusReport` over a corpus with planted near-duplicate
  * clusters) runs once on the fresh session, as a batch job on a new JVM
  * does; it is mostly fixed and cold-start cost with some per-row cost,
  * and it warms the analyze path. Then a closed
  * loop of two clients submits review-analysis jobs: each job fetches its
  * own pages over `file://` (`Ingest.fetchUrls`), extracts paragraphs
  * (`Html.paragraphs`) into its `documents.parquet`, runs
  * `Pipeline.analyzeAndWrite`, reads the results document and unpersists
  * `scored`, as a job server would. That is per-job fixed cost. */
object ReviewJobs {

  val Clients = 2
  val CorpusDocs = 4000
  val DupShare = 0.2
  /** One job per `SecondsPerJob` of `--seconds`: on the reference 4-core
    * machine the cold corpus batch (~24 s) plus three jobs on two clients
    * (~18 s) measure about 42 s. A fixed job count for a given
    * `--seconds`, so the tail rests on the same sample count in every run. */
  val SecondsPerJob = 13.0

  def jobCount(seconds: Int): Int = math.max(3, math.round(seconds / SecondsPerJob).toInt)

  final case class Generated(corpus: Gen.Corpus, jobs: Seq[Gen.Job])

  def generate(root: Path, seed: Long, seconds: Int): Generated = {
    val corpus = Gen.corpus(root, seed, CorpusDocs, DupShare)
    val jobs = Gen.jobSizes(jobCount(seconds)).toSeq.zipWithIndex.map { case (n, i) =>
      Gen.reviewJob(root.resolve("jobs"), seed, i + 1, n)
    }
    Generated(corpus, jobs)
  }

  /** The job's artifact set, as `Pipeline.analyzeAndWrite` writes it. */
  val ArtifactDirs = Seq("comments", "sentiment_trends", "complete_results", "blocks", "insurance_risk")

  def missingArtifacts(out: Path): Seq[String] =
    ArtifactDirs.filterNot(d => Files.exists(out.resolve(d).resolve("_SUCCESS")))

  /** Analyze + write. Untraced this is `Pipeline.analyzeAndWrite`; traced,
    * the same work with each lazy field of `Results` forced on its own
    * under the span of the module that produces it, then the artifact
    * writes under `sources.Artifacts`. Returns the results and the
    * collected results document. */
  def analyze(ctx: Ctx, dir: Path, out: Path): (Pipeline.Results, Row) = {
    val spark = ctx.spark
    if (ctx.tracer.isEmpty) {
      val r = Pipeline.analyzeAndWrite(spark, dir.toString, out.toString)
      (r, r.resultsDocument.collect()(0))
    } else {
      val r = ctx.span("Pipeline.analyze")(Pipeline.analyze(spark, dir.toString))
      ctx.span("functions.Sentiment")(r.scored.count())
      ctx.span("operators.Analytics") {
        r.distribution.collect(); r.trends.collect(); r.stats.collect()
      }
      ctx.span("ml.Representatives")(r.representatives.collect())
      ctx.span("operators.Risk")(r.risk.collect())
      val doc = ctx.span("operators.Serving") {
        r.chatContext.collect(); r.summaryPrompts.collect()
        r.resultsDocument.collect()(0)
      }
      ctx.span("sources.Artifacts") {
        Artifacts.writeJsonArtifacts(r.scored, r.trends, out.toString)
        Artifacts.writeCsv(r.scored, out.toString)
        Artifacts.writeTxtBlocks(r.scored.select("doc_id", "text"), out.toString)
        r.risk.coalesce(1).write.mode("overwrite").json(s"$out/insurance_risk")
      }
      (r, doc)
    }
  }

  def totalReviews(doc: Row): Long =
    doc.getAs[Row]("statistics").getAs[Long]("total_reviews")

  final case class JobOut(fetched: Long, ok: Long, attempts: Long, docs: Long,
                          missing: Seq[String])

  /** One review job, end to end; its workspace is deleted afterwards. */
  def job(ctx: Ctx, j: Gen.Job): JobOut = {
    val spark = ctx.spark
    import spark.implicits._
    val manifest = (0 until j.pages)
      .map(p => (p.toLong, j.pagesDir.resolve(f"p$p%05d.html").toUri.toString))
      .toDF("page_id", "url")
    val fetched = ctx.span("sources.Ingest") {
      val f = Ingest.fetchUrls(spark, manifest).persist()
      (f, f.groupBy("status").agg(count(lit(1)), sum("attempts")).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap)
    }
    val (pages, status) = fetched
    val work = j.dir.resolve("work")
    try {
      ctx.span("sources.Html") {
        pages.where(col("status") === "ok")
          .select(col("page_id").as("doc_id"),
            explode(Html.paragraphs(col("content").cast("string"))).as("text"))
          .select(col("doc_id"), col("text"), lit("en").as("lang"),
            lit(s"job${j.id}").as("source"), length(col("text")).cast("long").as("n_chars"))
          .write.mode("overwrite").parquet(work.resolve("documents.parquet").toString)
      }
    } finally pages.unpersist()
    Files.move(j.dir.resolve("events.parquet"), work.resolve("events.parquet"))
    val out = work.resolve("out")
    val (r, doc) = analyze(ctx, work, out)
    r.scored.unpersist()
    val res = JobOut(status.values.map(_._1).sum, status.get("ok").map(_._1).getOrElse(0L),
      status.values.map(_._2).sum, totalReviews(doc), missingArtifacts(out))
    Bench.deleteTree(j.dir)
    res
  }

  def jobCheck(j: Gen.Job)(o: JobOut): Option[String] =
    if (o.fetched != j.pages || o.ok != j.pages) Some(s"fetched ${o.ok}/${o.fetched} ok of ${j.pages} pages")
    else if (o.docs != j.pages) Some(s"results document counts ${o.docs} reviews, job has ${j.pages}")
    else if (o.missing.nonEmpty) Some(s"missing artifacts ${o.missing.mkString(",")}")
    else None

  final case class CorpusOut(total: Long, missing: Seq[String], report: Map[String, (Long, Long)])

  def corpusBatch(ctx: Ctx, c: Gen.Corpus): CorpusOut = {
    val out = c.dir.resolve("out")
    val (r, doc) = analyze(ctx, c.dir, out)
    r.scored.unpersist()
    val report = ctx.span("operators.TrainingPipeline") {
      TrainingPipeline.corpusReport(Tables.documents(ctx.spark, c.dir.toString)).collect()
    }.map(r => r.getString(0) -> (r.getAs[Long]("n_docs"), r.getAs[Long]("total_tokens"))).toMap
    CorpusOut(totalReviews(doc), missingArtifacts(out), report)
  }

  /** Share of the planted near-duplicates the report pruned. The report
    * covers the train split, so recall is measured there: every planted
    * duplicate the prune missed adds one document to its language's count. */
  def dupRecall(c: Gen.Corpus, o: CorpusOut): Double = {
    val excess = c.expected.map { case (lang, (n, _)) =>
      math.max(0L, o.report.get(lang).map(_._1).getOrElse(0L) - n) }.sum
    1.0 - excess.toDouble / c.plantedTrain
  }

  /** The prune's recall floor. The report's MinHash prune (k=32, 8 bands)
    * misses a few percent of the planted near-duplicates; a drop below this
    * floor is a broken prune, not noise. */
  val MinDupRecall = 0.9

  def corpusCheck(c: Gen.Corpus)(o: CorpusOut): Option[String] = {
    val under = c.expected.filter { case (lang, (n, tok)) =>
      o.report.get(lang).forall { case (rn, rtok) => rn < n || rtok < tok } }
    if (o.total != c.nDocs) Some(s"results document counts ${o.total} docs, corpus has ${c.nDocs}")
    else if (o.missing.nonEmpty) Some(s"missing artifacts ${o.missing.mkString(",")}")
    else if (o.report.keySet != c.expected.keySet) Some(s"report languages ${o.report.keySet} != ${c.expected.keySet}")
    else if (under.nonEmpty) Some(s"report ${o.report} pruned more than the planted duplicates ${c.expected}")
    else if (dupRecall(c, o) < MinDupRecall) Some(s"dup recall ${dupRecall(c, o)} below $MinDupRecall")
    else None
  }

  def run(ctx: Ctx, seed: Long, seconds: Int): Outcome = {
    val spark = ctx.spark
    val t0 = System.nanoTime()
    val in = generate(ctx.root, seed, seconds)
    Inputs.events(spark, in.corpus.dir +: in.jobs.map(_.dir), ctx.root.resolve("events-staging"))
    Inputs.documents(spark, in.corpus.docs, in.corpus.dir)
    val genS = (System.nanoTime() - t0) / 1e9
    Bench.phase("inputs generated")

    val batch = ctx.op("corpus batch")(corpusBatch(ctx, in.corpus))(corpusCheck(in.corpus))

    Bench.phase("corpus batch done")
    val next = new AtomicInteger(0)
    val lat = mutable.ArrayBuffer.empty[Double]
    val fetch = mutable.ArrayBuffer.empty[JobOut]
    val tJobs = System.nanoTime()
    val clients = (0 until Clients).map { _ =>
      val th = new Thread(() => {
        var i = next.getAndIncrement()
        while (i < in.jobs.length) {
          val j = in.jobs(i)
          ctx.op(s"job ${j.id} (${j.pages} pages)")(job(ctx, j))(jobCheck(j))
            .foreach { case (dt, o) => lat.synchronized { lat += dt; fetch += o } }
          i = next.getAndIncrement()
        }
      })
      th.start(); th
    }
    clients.foreach(_.join())
    val jobsWall = (System.nanoTime() - tJobs) / 1e9

    val (tailV, tailP) = Bench.tail(lat.toSeq)
    val p50 = Bench.median(lat.toSeq)
    val perMin = lat.length * 60.0 / jobsWall
    val docsPerS = batch.map { case (dt, _) => in.corpus.nDocs / dt }.getOrElse(Double.NaN)
    val recall = batch.map { case (_, o) => dupRecall(in.corpus, o) }.getOrElse(Double.NaN)
    Outcome(
      e2e = Seq("op_p50_s" -> p50, "op_tail_s" -> tailV, "ops_per_min" -> perMin,
        "batch_items_per_s" -> docsPerS, "recall" -> recall),
      named = Seq(
        ("input_gen_s", genS, "s"),
        ("job_p50_s", p50, "s"),
        ("job_tail_s", tailV, "s"),
        ("job_tail_percentile", tailP, "pct"),
        ("job_samples", lat.length.toDouble, "count"),
        ("jobs_per_min", perMin, "1/min"),
        ("corpus_docs", in.corpus.nDocs.toDouble, "count"),
        ("corpus_batch_s", batch.map(_._1).getOrElse(Double.NaN), "s"),
        ("corpus_docs_per_s", docsPerS, "1/s"),
        ("dup_recall", recall, "ratio"),
        ("fetch_ok_ratio", fetch.map(_.ok).sum.toDouble / math.max(1L, fetch.map(_.attempts).sum), "ratio")))
  }
}
