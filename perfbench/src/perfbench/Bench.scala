package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.Locale

import org.apache.spark.sql.SparkSession

/** Shared state of one benchmark run: the session, the optional tracer,
  * the per-run root every input and output lives under, and the tally of
  * attempted and failed operations. */
final class Ctx(val spark: SparkSession, val tracer: Option[Tracer], val root: Path) {
  private var attempted = 0L
  private var failed = 0L

  def span[A](name: String)(body: => A): A = tracer match {
    case Some(t) => t.span(spark.sparkContext, name)(body)
    case None => body
  }

  /** Runs one operation: its wall time if it returned and passed its
    * correctness check, None (counted as failed, never timed) if it threw
    * or the check failed. */
  def op[A](what: String)(body: => A)(check: A => Option[String]): Option[(Double, A)] = {
    synchronized(attempted += 1)
    val t0 = System.nanoTime()
    val res = try Right(body) catch { case e: Throwable => Left(s"$what: $e") }
    val dt = (System.nanoTime() - t0) / 1e9
    res.flatMap(a => check(a).map(m => s"$what: $m").toLeft(a)) match {
      case Right(a) => Some((dt, a))
      case Left(msg) =>
        synchronized(failed += 1)
        System.err.println(s"FAILED $msg")
        None
    }
  }

  def attemptedOps: Long = synchronized(attempted)
  def failedOps: Long = synchronized(failed)
}

/** Result of one workload: its end-to-end metrics (BENCHMARK.json's
  * workload-independent names) and its own named metrics with units. */
final case class Outcome(e2e: Seq[(String, Double)], named: Seq[(String, Double, String)])

object Bench {

  val Spans: Seq[String] = Seq(
    "sources.Ingest", "sources.Html", "Pipeline.analyze", "functions.Sentiment",
    "operators.Analytics", "ml.Representatives", "operators.Risk",
    "operators.Serving", "sources.Artifacts", "operators.TrainingPipeline",
    "operators.Dedup", "operators.Similarity.build", "operators.Similarity.query",
    "operators.Similarity.append", "operators.Similarity.compact")

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.length
    if (n == 0) Double.NaN else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Tail latency: the highest percentile with at least ten samples beyond
    * it when the run has 20 or more samples, else nearest-rank p90.
    * Returns (value, percentile). */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted; val n = s.length
    if (n == 0) (Double.NaN, 0.0)
    else if (n >= 20) (s(n - 11), 100.0 * (n - 10) / n)
    else (s(math.ceil(0.9 * n).toInt - 1), 90.0)
  }

  def peakRssMb(): Double = {
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")))
    status.linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)
  }

  /** Set-up: `Sessions.local(cores)` plus a readiness probe (one shuffle
    * through the session's planner and scheduler). */
  def setUp(cores: Int): (SparkSession, Double) = {
    val t0 = System.nanoTime()
    val spark = graft.Sessions.local(cores.toString, "perfbench")
    spark.range(0L, 100000L, 1L, cores).selectExpr("id % 97 AS k")
      .groupBy("k").count().collect()
    (spark, (System.nanoTime() - t0) / 1e9)
  }

  private val t0 = System.nanoTime()

  /** Logs a phase boundary with the seconds since the JVM entered main. */
  def phase(what: String): Unit =
    println(f"phase   $what%-22s at ${(System.nanoTime() - t0) / 1e9}%8.2f s")

  def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else String.format(Locale.ROOT, "%.6f", Double.box(v))

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.deleteIfExists(x))
      finally s.close()
    }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val trace = opts.getOrElse("trace", "0") == "1"
    val root = Paths.get(opts("root")).toAbsolutePath
    val cores = opts("cores").toInt
    Files.createDirectories(root)

    if (opts.contains("gen-only")) { // raw inputs only, for the determinism test
      workload match {
        case "review_jobs" => ReviewJobs.generate(root, seed, seconds)
        case "vector_serving" => VectorServing.generate(root, seed)
      }
      return
    }

    // set-up: the JVM's first session, the cold start a user waits for
    val (spark, setupS) = setUp(cores)
    phase("set-up done")
    val tracer = if (trace) Some(new Tracer(cores)) else None
    tracer.foreach(spark.sparkContext.addSparkListener)
    val ctx = new Ctx(spark, tracer, root)
    val outcome =
      try workload match {
        case "review_jobs" => ReviewJobs.run(ctx, seed, seconds)
        case "vector_serving" => VectorServing.run(ctx, seed, seconds)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      } finally tracer.foreach(_.drain())

    phase("workload done")
    val e2e = Seq("setup_s" -> setupS, "peak_rss_mb" -> peakRssMb()) ++ outcome.e2e
    val named = Seq(("setup_s", setupS, "s"),
      ("peak_rss_mb", peakRssMb(), "MB"),
      ("error_rate", ctx.failedOps.toDouble / math.max(1L, ctx.attemptedOps), "ratio")) ++
      outcome.named
    named.foreach { case (n, v, u) => println(f"metric  $n%-22s ${fmt(v)}%14s $u") }

    val layers = tracer.map { t =>
      val agg = t.aggregate()
      Files.write(root.resolve("spans.jsonl"), t.spansJsonl().getBytes("UTF-8"))
      println(f"${"span"}%-30s ${"calls"}%6s ${"wall_s"}%9s ${"self_s"}%9s ${"driver_s"}%9s ${"jobs"}%6s ${"tasks"}%7s ${"busy_s"}%9s ${"gc_s"}%7s ${"shufW_MB"}%9s ${"fetchW_s"}%8s ${"slot_util"}%9s")
      val zero = new Tracer.Layer
      (Spans ++ agg.keys.filterNot(Spans.contains).toSeq.sorted).flatMap { name =>
        val l = agg.getOrElse(name, zero)
        println(f"$name%-30s ${l.calls}%6d ${l.wallS}%9.3f ${l.selfS}%9.3f ${l.driverS}%9.3f ${l.sparkJobs}%6d ${l.tasks}%7d ${l.taskBusyS}%9.3f ${l.gcS}%7.3f ${l.shuffleWriteBytes / 1e6}%9.3f ${l.fetchWaitS}%8.3f ${l.slotUtil}%9.3f")
        if (!Spans.contains(name)) Nil
        else Seq(s"$name.wall_s" -> l.wallS, s"$name.self_s" -> l.selfS,
          s"$name.driver_s" -> l.driverS, s"$name.spark_jobs" -> l.sparkJobs.toDouble,
          s"$name.tasks" -> l.tasks.toDouble, s"$name.task_busy_s" -> l.taskBusyS,
          s"$name.gc_s" -> l.gcS, s"$name.shuffle_write_bytes" -> l.shuffleWriteBytes.toDouble)
      }
    }.getOrElse(Nil)
    // ok rows / fetch attempts; 0 where the workload fetches nothing, like
    // every other layer a workload does not run
    val extraLayers = if (!trace) Nil else Seq("sources.Ingest.fetch_ok_ratio" ->
      outcome.named.collectFirst { case ("fetch_ok_ratio", v, _) => v }.getOrElse(0.0))

    def obj(kv: Seq[(String, Double)]): String =
      kv.map { case (k, v) => s""""$k":${fmt(v)}""" }.mkString("{", ",", "}")
    val correct = ctx.failedOps == 0
    println(s"""RESULT {"correct":$correct,"attempted":${ctx.attemptedOps},"failed":${ctx.failedOps},""" +
      s""""e2e":${obj(e2e)},"layers":${obj(layers ++ extraLayers)}}""")
    spark.stop()
    phase("session stopped")
  }
}
