package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import graft.operators.Similarity

/** The index-export lifecycle's compaction half (r13 VERDICT task 3):
  * append a delta to an exported IVF-PQ layout, compact into the next
  * version, and prove (1) compacted layout ≡ from-scratch rebuild over
  * the merged corpus, (2) the query replay is identical on both, (3)
  * readers of v=N are untouched mid-compaction (version immutability),
  * (4) delta-wins upsert semantics on vec_id collision, (5) the serving
  * query's postings scan reads only the probed cells' partitions, (6) a
  * committed version is never compacted into again, and (7) quantizer or
  * batch geometry that does not match the index fails instead of
  * committing garbage codes. (1) and (2) run for both encodings. */
class IndexCompactSpec extends SparkSpec {

  private def emb: DataFrame = Tables.embeddings(spark, sf0001)

  /** First-16 deterministic quantizers — sim_index_export's convention,
    * or with `residual` sim_index_export_res's. */
  private def quantizers(e: DataFrame, residual: Boolean = false): (DataFrame, DataFrame) =
    (Similarity.deterministicCentroids(e, nCells = 16),
      if (residual) Similarity.residualCodebook(e, nCells = 16, nCodes = 16)
      else Similarity.deterministicCodebook(e, nCodes = 16))

  private def batchOf(e: DataFrame): DataFrame =
    e.filter(col("vec_id") % 17 === 0)
      .select((col("vec_id") + 2000000L).as("vec_id"), col("embedding"))

  private def postingsSet(df: DataFrame): Set[(Long, Long, Seq[Int], Seq[Double], Double)] =
    df.select(col("vec_id"), col("cell").cast("long"), col("codes"), col("v"), col("nrm"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Int](2).toList,
        r.getSeq[Double](3).toList, r.getDouble(4)))
      .toSet

  private def replayRows(dir: String, version: Int): Seq[(Long, Long, Double, Double)] =
    Similarity.ivfPqTopKFromIndex(
      Similarity.readIvfPqIndex(spark, dir, version),
      queryId = 20, k = 10, nprobe = 4, shortlist = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSeq

  /** Files of layout version `v` with their modification times (the
    * delta is append state, not layout). */
  private def fileListing(dir: String, v: Int): Map[String, Long] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(s"$dir/v=$v"))
      .filterNot(f => f.getPath.contains("/delta/"))
      .map(f => f.getPath -> f.lastModified()).toMap
  }

  for ((encoding, residual) <- Seq("" -> false, " (residual encoding)" -> true))
    test(s"compacted layout equals a from-scratch rebuild over the merged corpus$encoding") {
      val dir = java.nio.file.Files.createTempDirectory("graft_idx").toString
      val (cents, cb) = quantizers(emb, residual)
      Similarity.writeIvfPqIndex(emb, cents, cb, dir, version = 1, residual = residual)
      Similarity.appendIvfPqDelta(batchOf(emb), dir, version = 1)

      // reader isolation: snapshot the v=1 replay AND the v=1 file listing
      // before compaction; both must be untouched after
      val v1Before = replayRows(dir, 1)
      val v1Files = fileListing(dir, 1)

      val newV = Similarity.compactIvfPqIndex(spark, dir, fromVersion = 1)
      assert(newV == 2)

      assert(fileListing(dir, 1) == v1Files, "v=1 layout files must be untouched by compaction")
      assert(replayRows(dir, 1) == v1Before, "v=1 replay must be identical mid-lifecycle")

      // from-scratch rebuild over corpus ∪ batch with the SAME quantizers
      val rebuildDir = java.nio.file.Files.createTempDirectory("graft_idx_rb").toString
      Similarity.writeIvfPqIndex(emb.select("vec_id", "embedding").unionByName(batchOf(emb)),
        cents, cb, rebuildDir, version = 1, residual = residual)

      val compacted = Similarity.readIvfPqIndex(spark, dir, 2)
      val rebuilt = Similarity.readIvfPqIndex(spark, rebuildDir, 1)
      assert(postingsSet(compacted.postings) == postingsSet(rebuilt.postings),
        "compacted postings must equal the from-scratch rebuild's")
      assert(compacted.nVectors == rebuilt.nVectors)
      assert(compacted.dim == rebuilt.dim && compacted.m == rebuilt.m &&
        compacted.nCodes == rebuilt.nCodes && compacted.nCells == rebuilt.nCells &&
        compacted.residual == rebuilt.residual)
      assert(compacted.version == 2 && compacted.residual == residual)

      // and the replay agrees between the two layouts
      val fromCompact = replayRows(dir, 2)
      assert(fromCompact == replayRows(rebuildDir, 1),
        "query replay must be bit-identical on compacted vs rebuilt layout")

      sources.Artifacts.deleteRecursively(new java.io.File(dir))
      sources.Artifacts.deleteRecursively(new java.io.File(rebuildDir))
    }

  test("compaction refuses to overwrite a committed version") {
    val dir = java.nio.file.Files.createTempDirectory("graft_idx_twice").toString
    val (cents, cb) = quantizers(emb)
    Similarity.writeIvfPqIndex(emb, cents, cb, dir, version = 1)
    Similarity.appendIvfPqDelta(batchOf(emb), dir, version = 1)
    assert(Similarity.compactIvfPqIndex(spark, dir, fromVersion = 1) == 2)
    val v2Files = fileListing(dir, 2)
    val v2Replay = replayRows(dir, 2)
    // a re-run of the same compaction (e.g. a retried nightly job)
    val err = intercept[IllegalStateException](
      Similarity.compactIvfPqIndex(spark, dir, fromVersion = 1))
    assert(err.getMessage.contains("v=2"), err.getMessage)
    assert(fileListing(dir, 2) == v2Files, "v=2 must not be rewritten under its readers")
    assert(replayRows(dir, 2) == v2Replay)
    sources.Artifacts.deleteRecursively(new java.io.File(dir))
  }

  /** The messages of `t` and its causes, joined. */
  private def messages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")

  private def committed(path: String): Boolean =
    new java.io.File(s"$path/_SUCCESS").exists

  test("writeIvfPqIndex rejects a codebook that does not split dim into m subspaces") {
    // an m = 4 codebook written with the default m = 8: before the check
    // the native dot returned NULL for every 8-vs-16-long pair and every
    // sub-vector silently encoded as code 0
    val dir = java.nio.file.Files.createTempDirectory("graft_idx_geo").toString
    val cb4 = Similarity.deterministicCodebook(emb, nCodes = 16, m = 4)
    val err = intercept[IllegalArgumentException](Similarity.writeIvfPqIndex(emb,
      Similarity.deterministicCentroids(emb, nCells = 16), cb4, dir, version = 1))
    assert(err.getMessage.contains("m = 8"), err.getMessage)
    assert(!committed(s"$dir/v=1/manifest") && !committed(s"$dir/v=1/postings"))
    sources.Artifacts.deleteRecursively(new java.io.File(dir))
  }

  test("writeIvfPqIndex rejects centroids whose length is not dim") {
    val dir = java.nio.file.Files.createTempDirectory("graft_idx_cdim").toString
    val cents32 = Similarity.deterministicCentroids(emb, nCells = 16)
      .withColumn("cv", slice(col("cv"), 1, 32))
    val err = intercept[IllegalArgumentException](Similarity.writeIvfPqIndex(emb,
      cents32, Similarity.deterministicCodebook(emb, nCodes = 16), dir, version = 1))
    assert(err.getMessage.contains("dim = 64"), err.getMessage)
    assert(!committed(s"$dir/v=1/manifest"))
    sources.Artifacts.deleteRecursively(new java.io.File(dir))
  }

  test("appendIvfPqDelta rejects batch vectors whose length is not the manifest's dim") {
    val dir = java.nio.file.Files.createTempDirectory("graft_idx_bdim").toString
    val (cents, cb) = quantizers(emb)
    Similarity.writeIvfPqIndex(emb, cents, cb, dir, version = 1)
    Similarity.appendIvfPqDelta(batchOf(emb), dir, version = 1)
    val before = postingsSet(Similarity.readIvfPqIndexWithDelta(spark, dir, 1).postings)
    val short = batchOf(emb).limit(3)
      .select((col("vec_id") + 1000000L).as("vec_id"), slice(col("embedding"), 1, 32).as("embedding"))
    val err = intercept[Exception](Similarity.appendIvfPqDelta(short, dir, version = 1))
    assert(messages(err).contains("the index has dim = 64"), messages(err))
    // the accumulated delta survives the failed append
    assert(postingsSet(Similarity.readIvfPqIndexWithDelta(spark, dir, 1).postings) == before)
    sources.Artifacts.deleteRecursively(new java.io.File(dir))
  }

  test("upsert semantics: a delta row replaces its base vec_id; appends accumulate") {
    val dir = java.nio.file.Files.createTempDirectory("graft_idx_up").toString
    val (cents, cb) = quantizers(emb)
    Similarity.writeIvfPqIndex(emb, cents, cb, dir, version = 1)
    val base = Similarity.readIvfPqIndex(spark, dir, 1)
    val nBase = base.nVectors

    // delta 1: vec_id 33 re-ingested with vec_id 20's embedding (an
    // update), plus a genuinely new vector
    val v20 = emb.filter(col("vec_id") === 20).select(col("embedding")).collect()(0)
      .getSeq[Float](0).toArray
    val s = spark; import s.implicits._
    val upd = Seq((33L, v20), (3000001L, v20)).toDF("vec_id", "embedding")
    Similarity.appendIvfPqDelta(upd, dir, version = 1)
    // delta 2 (accumulation): re-send 3000001 with a DIFFERENT vector —
    // last write wins inside the delta too
    val v21 = emb.filter(col("vec_id") === 21).select(col("embedding")).collect()(0)
      .getSeq[Float](0).toArray
    Similarity.appendIvfPqDelta(Seq((3000001L, v21)).toDF("vec_id", "embedding"),
      dir, version = 1)

    Similarity.compactIvfPqIndex(spark, dir, fromVersion = 1)
    val v2 = Similarity.readIvfPqIndex(spark, dir, 2)
    assert(v2.nVectors == nBase + 1, "one update + one insert = +1 vector")
    def codesOf(r: org.apache.spark.sql.Row): List[Int] =
      r.getAs[scala.collection.Seq[Int]]("codes").toList
    val p33 = v2.postings.filter(col("vec_id") === 33).collect()
    assert(p33.length == 1, "updated vec_id must appear exactly once")
    val p20 = v2.postings.filter(col("vec_id") === 20).collect()(0)
    assert(codesOf(p33(0)) == codesOf(p20) &&
      p33(0).getAs[Long]("cell") == p20.getAs[Long]("cell"),
      "the update must carry the new embedding's encoding (v20's twin)")
    val pNew = v2.postings.filter(col("vec_id") === 3000001L).collect()
    val p21 = v2.postings.filter(col("vec_id") === 21).collect()(0)
    assert(pNew.length == 1 && codesOf(pNew(0)) == codesOf(p21),
      "re-sent delta row must carry the LAST write's encoding")
    sources.Artifacts.deleteRecursively(new java.io.File(dir))
  }

  test("compaction without a delta is a pure version roll (copy)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_idx_nd").toString
    val (cents, cb) = quantizers(emb)
    Similarity.writeIvfPqIndex(emb, cents, cb, dir, version = 1)
    Similarity.compactIvfPqIndex(spark, dir, fromVersion = 1)
    val v1 = Similarity.readIvfPqIndex(spark, dir, 1)
    val v2 = Similarity.readIvfPqIndex(spark, dir, 2)
    assert(postingsSet(v2.postings) == postingsSet(v1.postings))
    assert(v2.nVectors == v1.nVectors && v2.version == 2)
    sources.Artifacts.deleteRecursively(new java.io.File(dir))
  }

  test("base ∪ un-compacted delta overlay: postings and replay equal the compacted layout") {
    val dir = java.nio.file.Files.createTempDirectory("graft_idx_ov").toString
    val (cents, cb) = quantizers(emb)
    Similarity.writeIvfPqIndex(emb, cents, cb, dir, version = 1)
    // inserts (batchOf) AND an update (vec_id 33 re-ingested with 20's
    // embedding) so the overlay's delta-wins-on-collision path is live
    val v20 = emb.filter(col("vec_id") === 20).select(col("embedding")).collect()(0)
      .getSeq[Float](0).toArray
    val s = spark; import s.implicits._
    Similarity.appendIvfPqDelta(batchOf(emb), dir, version = 1)
    Similarity.appendIvfPqDelta(Seq((33L, v20)).toDF("vec_id", "embedding"),
      dir, version = 1)

    // the overlay read — BEFORE compaction exists
    val overlay = Similarity.readIvfPqIndexWithDelta(spark, dir, version = 1)
    val overlayReplay = Similarity.ivfPqTopKFromIndex(overlay,
      queryId = 20, k = 10, nprobe = 4, shortlist = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSeq
    val overlayPosts = postingsSet(overlay.postings)

    Similarity.compactIvfPqIndex(spark, dir, fromVersion = 1)
    val compacted = Similarity.readIvfPqIndex(spark, dir, 2)
    assert(overlayPosts == postingsSet(compacted.postings),
      "base ∪ delta overlay must present exactly the compacted postings")
    assert(overlayReplay == replayRows(dir, 2),
      "a query over base ∪ delta must equal the same query over compacted v=2 — " +
        "the invariant that makes compaction transparent to readers")
    sources.Artifacts.deleteRecursively(new java.io.File(dir))
  }

  test("delta-wins applies to the query row: an updated id queries with its new vector") {
    val dir = java.nio.file.Files.createTempDirectory("graft_idx_ov_q").toString
    val (cents, cb) = quantizers(emb)
    Similarity.writeIvfPqIndex(emb, cents, cb, dir, version = 1)
    val v20 = emb.filter(col("vec_id") === 20).select(col("embedding")).collect()(0)
      .getSeq[Float](0).toArray
    val s = spark; import s.implicits._
    Similarity.appendIvfPqDelta(batchOf(emb), dir, version = 1)
    Similarity.appendIvfPqDelta(Seq((33L, v20)).toDF("vec_id", "embedding"),
      dir, version = 1)
    def query33(idx: Similarity.IvfPqIndex) =
      Similarity.ivfPqTopKFromIndex(idx, queryId = 33, k = 10, nprobe = 4, shortlist = 50)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSeq
    val overlay = query33(Similarity.readIvfPqIndexWithDelta(spark, dir, version = 1))
    Similarity.compactIvfPqIndex(spark, dir, fromVersion = 1)
    assert(overlay == query33(Similarity.readIvfPqIndex(spark, dir, 2)),
      "the overlay query must rank 33's delta vector, as compacted v=2 does")
    // 33 now carries 20's vector, so 20 is its exact twin
    assert(overlay.head._1 == 20L && overlay.head._4 == 1.0, overlay.toString)
    sources.Artifacts.deleteRecursively(new java.io.File(dir))
  }

  test("a manifest written before the residual column existed opens as raw") {
    val dir = java.nio.file.Files.createTempDirectory("graft_idx_oldmf").toString
    val (cents, cb) = quantizers(emb)
    Similarity.writeIvfPqIndex(emb, cents, cb, dir, version = 1)
    val raw = replayRows(dir, 1)
    val idx = Similarity.readIvfPqIndex(spark, dir, 1)
    val s = spark; import s.implicits._
    Seq((1, idx.dim, idx.m, idx.nCodes, idx.nCells, idx.nVectors))
      .toDF("version", "dim", "m", "n_codes", "n_cells", "n_vectors")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/v=1/manifest")
    val old = Similarity.readIvfPqIndex(spark, dir, 1)
    assert(!old.residual && old.nVectors == idx.nVectors)
    assert(replayRows(dir, 1) == raw)
    sources.Artifacts.deleteRecursively(new java.io.File(dir))
  }

  test("overlay read without a committed delta is the plain versioned read") {
    val dir = java.nio.file.Files.createTempDirectory("graft_idx_ov_nd").toString
    val (cents, cb) = quantizers(emb)
    Similarity.writeIvfPqIndex(emb, cents, cb, dir, version = 1)
    val plain = Similarity.readIvfPqIndex(spark, dir, 1)
    val overlay = Similarity.readIvfPqIndexWithDelta(spark, dir, 1)
    assert(postingsSet(overlay.postings) == postingsSet(plain.postings))
    assert(overlay.nVectors == plain.nVectors && overlay.version == plain.version)
    sources.Artifacts.deleteRecursively(new java.io.File(dir))
  }

  /** `number of partitions read` by each postings scan of the serving
    * shortlist for query 20 at nprobe 4, after it ran, keyed by the
    * scanned directory's name (`postings` or `delta`). */
  private def partitionsRead(idx: Similarity.IvfPqIndex): Seq[(String, Long)] = {
    val short = Similarity.indexKernel(idx).shortlist(queryId = 20, nprobe = 4, n = 50)
    short.collect()
    val plan = short.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    plan.collect { case scan: FileSourceScanExec =>
      scan.relation.location.rootPaths.head.getName -> scan.metrics("numPartitions").value
    }
  }

  test("DPP: the unioned base ∪ delta postings scan is partition-pruned by the probe") {
    val dir = java.nio.file.Files.createTempDirectory("graft_idx_ov_dpp").toString
    val (cents, cb) = quantizers(emb)
    Similarity.writeIvfPqIndex(emb, cents, cb, dir, version = 1)
    Similarity.appendIvfPqDelta(batchOf(emb), dir, version = 1)
    // the probe's cells are a literal filter, so both branches of the
    // union are pruned when the plan is built
    val read = partitionsRead(Similarity.readIvfPqIndexWithDelta(spark, dir, 1))
    assert(read.collect { case ("postings", n) => n } == Seq(4L),
      s"the corpus-sized base branch must read exactly the nprobe cells: $read")
    val delta = read.collect { case ("delta", n) => n }
    assert(delta.length == 1 && delta.head <= 4,
      s"the delta branch must read at most the nprobe cells: $read")
    sources.Artifacts.deleteRecursively(new java.io.File(dir))
  }

  test("DPP: the compacted postings scan is partition-pruned by the probe") {
    val dir = java.nio.file.Files.createTempDirectory("graft_idx_dpp").toString
    val (cents, cb) = quantizers(emb)
    Similarity.writeIvfPqIndex(emb, cents, cb, dir, version = 1)
    Similarity.appendIvfPqDelta(batchOf(emb), dir, version = 1)
    Similarity.compactIvfPqIndex(spark, dir, fromVersion = 1)
    val read = partitionsRead(Similarity.readIvfPqIndex(spark, dir, 2))
    assert(read == Seq("postings" -> 4L),
      s"the compacted postings scan must read exactly the nprobe cells: $read")
    sources.Artifacts.deleteRecursively(new java.io.File(dir))
  }
}
