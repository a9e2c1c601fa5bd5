package perfbench

import java.nio.file.Path
import java.util.SplittableRandom

import scala.collection.mutable

import graft.operators.Similarity

/** `vector_serving`: build an IVF-PQ index over a clustered corpus, then
  * one closed-loop client runs a fixed seeded mix of top-10 queries,
  * delta appends and compactions against it.
  *
  * The build (`trainCentroids`, `trainCodebook`, `writeIvfPqIndex`) runs
  * once on the fresh session. Each query opens the current version with
  * its delta overlaid (`readIvfPqIndexWithDelta`) and ranks with
  * `ivfPqTopKFromIndex`; after an append, a share of the queries target
  * the freshly appended ids. `compactIvfPqIndex` runs after every
  * `AppendsPerCompaction` appends. Recall@10 is measured against an exact
  * `Similarity.batchTopK` over the index's contents at query time,
  * computed after the loop, outside the timed path. */
object VectorServing {

  val BaseVectors = 10000
  val Clusters = 64
  val Cells = 32
  val SubVectors = 4
  val AppendBatch = 500
  val Appends = 1
  val AppendsPerCompaction = 1
  val K = 10
  /** ADC shortlist re-ranked exactly; cells probed per query. */
  val Shortlist = 1000
  val Probes = 8
  /** Training sample and k-means rounds of the quantizers: about 125
    * sample vectors per codeword and cell. */
  val TrainFraction = 0.1
  val TrainIters = 5
  /** The run measures the index build (~20 s cold on the reference
    * 4-core machine) plus one serving operation per `SecondsPerOp` of
    * `--seconds` (a query takes ~1.4 s there, an append or a compaction
    * ~2 s), so the sample count is fixed for a given `--seconds`. */
  val SecondsPerOp = 4.0

  def opCount(seconds: Int): Int = math.max(4, math.round(seconds / SecondsPerOp).toInt)

  sealed trait Op
  final case class Query(id: Long, state: Int) extends Op
  final case class Append(batch: Int) extends Op
  case object Compact extends Op

  def generate(root: Path, seed: Long): Gen.Vectors =
    Gen.vectors(root, seed, BaseVectors, Clusters, Seq.fill(Appends)(AppendBatch))

  /** The op sequence: appends at fixed positions, a compaction after every
    * `AppendsPerCompaction` appends, queries elsewhere. A query's `state`
    * is the number of batches appended before it; once a batch is in, a
    * third of the queries target appended ids. */
  def plan(seed: Long, n: Int, v: Gen.Vectors): Seq[Op] = {
    val rng = new SplittableRandom(seed * 65537L + 3)
    val appendAt = (1 to Appends).map(a => a * n / (Appends + 1)).toSet
    var appended = 0
    val ops = mutable.ArrayBuffer.empty[Op]
    for (i <- 0 until n) {
      if (appendAt.contains(i)) {
        ops += Append(appended); appended += 1
        if (appended % AppendsPerCompaction == 0) ops += Compact
      } else {
        val id =
          if (appended > 0 && rng.nextInt(3) == 0) {
            val (first, size) = v.batches(rng.nextInt(appended))
            first + rng.nextInt(size)
          } else rng.nextInt(v.nBase).toLong
        ops += Query(id, appended)
      }
    }
    ops.toSeq
  }

  def run(ctx: Ctx, seed: Long, seconds: Int): Outcome = {
    val spark = ctx.spark
    val t0 = System.nanoTime()
    val v = generate(ctx.root, seed)
    val baseDir = ctx.root.resolve("tables/base.parquet").toString
    Inputs.embeddings(spark, v.base, 0L).write.parquet(baseDir)
    val batches = v.batches.indices.map { b =>
      val d = ctx.root.resolve(s"tables/append$b.parquet").toString
      Inputs.embeddings(spark, v.batch(b), v.batches(b)._1).write.parquet(d)
      spark.read.parquet(d)
    }
    val base = spark.read.parquet(baseDir)
    val genS = (System.nanoTime() - t0) / 1e9
    Bench.phase("inputs generated")
    val dir = ctx.root.resolve("index").toString

    val build = ctx.op("index build") {
      ctx.span("operators.Similarity.build") {
        val cents = Similarity.trainCentroids(base, Cells, seed,
          sampleFraction = TrainFraction, maxIter = TrainIters)
        val codebook = Similarity.trainCodebook(base, m = SubVectors, nCodes = 16, dim = Gen.Dim,
          seed = seed, sampleFraction = TrainFraction, maxIter = TrainIters)
        Similarity.writeIvfPqIndex(base, cents, codebook, dir, 0, m = SubVectors)
      }
    } { _ =>
      val n = Similarity.readIvfPqIndex(spark, dir, 0).nVectors
      if (n != v.nBase) Some(s"index holds $n vectors, corpus has ${v.nBase}") else None
    }

    Bench.phase("index built")
    var version = 0
    def query(id: Long): Seq[Long] = ctx.span("operators.Similarity.query") {
      val idx = Similarity.readIvfPqIndexWithDelta(spark, dir, version)
      Similarity.ivfPqTopKFromIndex(idx, id, K, nprobe = Probes, shortlist = Shortlist).collect().map(_.getAs[Long]("vec_id")).toSeq
    }
    def topKCheck(ids: Seq[Long]): Option[String] =
      if (ids.length < K) Some(s"${ids.length} rows, wanted $K") else None

    // warm the read path once (not timed, not counted)
    if (build.nonEmpty) query(0L)

    val ops = if (build.isEmpty) Nil else plan(seed, opCount(seconds), v)
    val qLat = mutable.ArrayBuffer.empty[Double]
    val aLat = mutable.ArrayBuffer.empty[Double]
    val cLat = mutable.ArrayBuffer.empty[Double]
    val answers = mutable.ArrayBuffer.empty[(Query, Seq[Long])]
    val tLoop = System.nanoTime()
    ops.foreach {
      case q @ Query(id, _) =>
        ctx.op(s"query $id")(query(id))(topKCheck).foreach { case (dt, ids) =>
          qLat += dt; answers += ((q, ids))
        }
      case Append(b) =>
        ctx.op(s"append $b") {
          ctx.span("operators.Similarity.append")(Similarity.appendIvfPqDelta(batches(b), dir, version))
        }(_ => None).foreach { case (dt, _) => aLat += dt }
      case Compact =>
        ctx.op(s"compact v=$version") {
          ctx.span("operators.Similarity.compact")(Similarity.compactIvfPqIndex(spark, dir, version))
        } { to =>
          val want = v.nBase + v.batches.map(_._2).sum
          val n = Similarity.readIvfPqIndex(spark, dir, to).nVectors
          if (n != want) Some(s"compacted index holds $n vectors, expected $want") else None
        }.foreach { case (dt, to) => cLat += dt; version = to }
    }
    val loopS = (System.nanoTime() - tLoop) / 1e9
    Bench.phase("serving loop done")

    // exact top-10 over the contents each query saw, in one batchTopK over
    // the final contents: a query that ran before batch b was appended
    // drops b's ids, so the exact ranking is taken deep enough to cover them
    val recalls = if (answers.isEmpty) Nil else {
      val all = batches.foldLeft(base)(_ unionByName _)
      val deep = K + v.batches.map(_._2).sum
      val exact = Similarity.batchTopK(all, answers.map(_._1.id).distinct.toSeq, deep).collect()
        .groupBy(_.getAs[Long]("query_id"))
        .map { case (q, rs) => q -> rs.sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("vec_id")).toSeq }
      answers.toSeq.map { case (q, got) =>
        val visible = (id: Long) => id < Gen.AppendIdBase ||
          v.batches.take(q.state).exists { case (first, n) => id >= first && id < first + n }
        val truth = exact.getOrElse(q.id, Nil).filter(visible).take(K).toSet
        got.count(truth) / K.toDouble
      }
    }
    val recall = if (recalls.isEmpty) Double.NaN else recalls.sum / recalls.length

    val (tailV, tailP) = Bench.tail(qLat.toSeq)
    val p50 = Bench.median(qLat.toSeq)
    val perMin = (qLat.length + aLat.length + cLat.length) * 60.0 / loopS
    val buildS = build.map(_._1).getOrElse(Double.NaN)
    Outcome(
      e2e = Seq("op_p50_s" -> p50, "op_tail_s" -> tailV, "ops_per_min" -> perMin,
        "batch_items_per_s" -> v.nBase / buildS, "recall" -> recall),
      named = Seq(
        ("input_gen_s", genS, "s"),
        ("index_build_s", buildS, "s"),
        ("query_p50_s", p50, "s"),
        ("query_tail_s", tailV, "s"),
        ("query_tail_percentile", tailP, "pct"),
        ("query_samples", qLat.length.toDouble, "count"),
        ("append_p50_s", Bench.median(aLat.toSeq), "s"),
        ("compact_s", Bench.median(cLat.toSeq), "s"),
        ("serving_ops_per_min", perMin, "1/min"),
        ("recall_at_10", recall, "ratio")))
  }
}
