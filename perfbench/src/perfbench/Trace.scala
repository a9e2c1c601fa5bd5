package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Span + Spark-job tracer for the traced run.
  *
  * Spans wrap the benchmark's own calls into the program and are named by
  * module. The submitting thread's open span rides on each Spark job as a
  * local property. A job whose call site (the stack recorded in its final
  * stage's details) passes through a module that runs Spark jobs eagerly
  * inside another module's call (`graft.ml.Representatives` inside
  * `Pipeline.analyze`, `graft.operators.Dedup` inside `TrainingPipeline`)
  * is attributed to that module instead, as a child of the open span.
  * Everything is kept in memory and aggregated once at the end. */
final class Tracer(cores: Int) extends SparkListener {
  import Tracer._

  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentHashMap[Long, SpanRec]()
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  @volatile private var lastEvent = System.nanoTime()

  def span[A](sc: SparkContext, name: String)(body: => A): A = {
    val rec = SpanRec(ids.incrementAndGet(), name, Thread.currentThread().getId, now())
    spans.put(rec.id, rec)
    val prior = sc.getLocalProperty(SpanProp)
    sc.setLocalProperty(SpanProp, rec.id.toString)
    try body
    finally {
      rec.end = now()
      sc.setLocalProperty(SpanProp, prior)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    lastEvent = System.nanoTime()
    val spanId = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
      .map(_.toLong).getOrElse(0L)
    val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse("")
    val rec = JobRec(e.jobId, e.time, spanId, eagerModule(site))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    jobs.put(e.jobId, rec)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    lastEvent = System.nanoTime()
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    lastEvent = System.nanoTime()
    val job = Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j)))
    val m = e.taskMetrics
    job.foreach { j =>
      j.synchronized {
        j.tasks += 1
        if (m != null) {
          j.busyMs += m.executorRunTime
          j.gcMs += m.jvmGCTime
          j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          j.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        }
      }
    }
  }

  /** Waits until the asynchronous listener bus has delivered every event
    * (no job still open and no event for 300 ms; 10 s at most). */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    while (System.nanoTime() < deadline &&
      (jobs.values.asScala.exists(_.end < 0) || System.nanoTime() - lastEvent < 300000000L))
      Thread.sleep(50)
  }

  /** Per-module aggregates over every span and job recorded so far. */
  def aggregate(): Map[String, Layer] = {
    val allSpans = spans.values.asScala.toSeq.filter(_.end >= 0)
    val allJobs = jobs.values.asScala.toSeq.filter(_.end >= 0)
    val byId = allSpans.map(s => s.id -> s).toMap
    // parent span of each job: its submitting span if that span was open
    // when the job started, else the latest-started span open then (the
    // eager modules' own worker threads can carry a stale property)
    def parentOf(j: JobRec): Option[SpanRec] =
      byId.get(j.spanId).filter(s => s.start <= j.start && j.start <= s.end)
        .orElse(allSpans.filter(s => s.start <= j.start && j.start <= s.end)
          .sortBy(-_.start).headOption)
    val jobParent = allJobs.map(j => j -> parentOf(j))
    def moduleOf(j: JobRec, p: Option[SpanRec]): String =
      j.eager.getOrElse(p.map(_.name).getOrElse("unattributed"))
    val out = scala.collection.mutable.Map.empty[String, Layer]
    def layer(n: String) = out.getOrElseUpdate(n, new Layer)
    for ((j, p) <- jobParent) {
      val l = layer(moduleOf(j, p))
      l.sparkJobs += 1; l.tasks += j.tasks; l.taskBusyS += j.busyMs / 1e3
      l.gcS += j.gcMs / 1e3; l.shuffleWriteBytes += j.shuffleWriteBytes
      l.fetchWaitS += j.fetchWaitMs / 1e3
    }
    for (s <- allSpans) {
      val l = layer(s.name)
      val own = jobParent.collect { case (j, Some(p)) if p.id == s.id => j }
      val eagerChildren = own.filter(j => j.eager.exists(_ != s.name))
      val dur = (s.end - s.start) / 1e3
      l.calls += 1; l.wallS += dur
      l.selfS += dur - unionS(eagerChildren.map(j => (j.start, j.end)))
      l.driverS += dur - unionS(own.map(j => (j.start, j.end)))
    }
    // eager modules: their wall (and self) time is the time their jobs ran
    for ((name, js) <- jobParent.groupBy { case (j, p) => moduleOf(j, p) }) {
      val eagerJobs = js.collect { case (j, p) if j.eager.nonEmpty && !p.exists(_.name == name) => j }
      if (eagerJobs.nonEmpty) {
        val w = unionS(eagerJobs.map(j => (j.start, j.end)))
        layer(name).wallS += w; layer(name).selfS += w
      }
      val active = unionS(js.map { case (j, _) => (j.start, j.end) })
      if (active > 0) layer(name).slotUtil = layer(name).taskBusyS / (active * cores)
    }
    out.toMap
  }

  /** Every span as one JSON line (written out when the run ends). */
  def spansJsonl(): String =
    spans.values.asScala.toSeq.sortBy(_.id).map { s =>
      s"""{"id":${s.id},"name":"${s.name}","thread":${s.thread},"start_ms":${s.start},"end_ms":${s.end}}"""
    }.mkString("\n")

  private def now(): Long = System.currentTimeMillis()
}

object Tracer {
  val SpanProp = "perfbench.span"

  final case class SpanRec(id: Long, name: String, thread: Long, start: Long) {
    @volatile var end: Long = -1
  }

  final case class JobRec(id: Int, start: Long, spanId: Long, eager: Option[String]) {
    @volatile var end: Long = -1
    var tasks = 0L; var busyMs = 0L; var gcMs = 0L
    var shuffleWriteBytes = 0L; var fetchWaitMs = 0L
  }

  final class Layer {
    var calls = 0L; var wallS = 0.0; var selfS = 0.0; var driverS = 0.0
    var sparkJobs = 0L; var tasks = 0L; var taskBusyS = 0.0; var gcS = 0.0
    var shuffleWriteBytes = 0L; var fetchWaitS = 0.0; var slotUtil = 0.0
  }

  /** Modules that run Spark jobs eagerly inside another module's call,
    * keyed by the class-name prefix that appears in the job's call site. */
  val EagerModules: Seq[(String, String)] = Seq(
    "graft.ml.Representatives" -> "ml.Representatives",
    "graft.operators.Dedup" -> "operators.Dedup")

  def eagerModule(callSite: String): Option[String] =
    callSite.linesIterator
      .flatMap(f => EagerModules.collectFirst { case (p, m) if f.contains(p) => m })
      .nextOption()

  /** Length in seconds of the union of [start, end] millisecond intervals. */
  def unionS(iv: Seq[(Long, Long)]): Double = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    for ((s, e) <- iv.sortBy(_._1)) {
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total / 1e3
  }
}
