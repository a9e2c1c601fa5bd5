package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity

class SimilaritySpec extends SparkSpec {

  private def vecsDf(rows: Seq[(Long, Seq[Double])]) = {
    val s = spark
    import s.implicits._
    rows.toDF("vec_id", "embedding")
  }

  test("cosine: identical → 1, orthogonal → 0 (expression and UDF agree)") {
    val df = vecsDf(Seq((1L, Seq(1.0, 2.0, 3.0))))
      .withColumn("b", col("embedding"))
      .withColumn("o", typedLit(Seq(0.0, 0.0, 0.0) :+ 0.0))
    val r = df.select(
      Similarity.cosine(col("embedding"), col("b")).as("self"),
      Similarity.dot(col("embedding"), typedLit(Seq(-2.0, 1.0, 0.0))).as("orth"),
      (Similarity.dotFast(col("embedding"), col("b")) -
        Similarity.dot(col("embedding"), col("b"))).as("diff")).collect()(0)
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(r.getDouble(1) == 0.0)
    assert(r.getDouble(2) == 0.0) // UDF fold == expression fold, bit-exact
  }

  test("scalarQuantizeReport: mirrored JVM arithmetic, zero-vector guard") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, Seq(1.27f, -0.635f, 0.0f)),
      (2L, Seq(0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val out = Similarity.scalarQuantizeReport(df, "embedding", "vec_id")
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    // mirror the engine arithmetic exactly (same double ops, HALF_UP round)
    val v = Seq(1.27f, -0.635f, 0.0f).map(_.toDouble)
    val scale = v.map(math.abs).max / 127.0
    val errs = v.map(x => x - BigDecimal(x / scale)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble * scale)
    val mse = errs.foldLeft(0.0)((a, e) => a + e * e) / 3.0
    assert(out(1L) == ((scale, 3L, mse, errs.map(math.abs).max)))
    assert(out(2L) == ((0.0, 3L, 0.0, 0.0)))
  }

  test("brute-force top-k matches a driver-side reference computation") {
    val emb = Tables.embeddings(spark, sf0001)
    val got = Similarity.bruteForceTopK(emb, queryId = 0, k = 5)
      .collect().map(r => r.getAs[Long]("vec_id"))
    // reference: collect and compute in plain Scala
    val all = emb.collect().map(r =>
      (r.getAs[Long]("vec_id"), r.getAs[Seq[Float]]("embedding").map(_.toDouble).toArray))
    val q = all.find(_._1 == 0L).get._2
    def cos(a: Array[Double], b: Array[Double]) = {
      val d = a.zip(b).map(p => p._1 * p._2).sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val want = all.filter(_._1 != 0L)
      .map { case (id, v) => (id, BigDecimal(cos(v, q)).setScale(6, BigDecimal.RoundingMode.HALF_UP)) }
      .sortBy { case (id, c) => (-c, id) }.take(5).map(_._1)
    assert(got.toSeq == want.toSeq)
  }

  test("mmrTopK: diversity penalty overrides pure relevance, scores non-increasing") {
    // unit vectors at 0° (query), 10°, 12°, 50°: plain top-2 is (10°, 12°) —
    // near-copies — but at λ=0.3 the redundancy penalty makes step 2 take
    // the diverse 50° vector over the 0.999-similar 12° one
    def at(deg: Double) = Seq(math.cos(math.toRadians(deg)), math.sin(math.toRadians(deg)))
    val emb = vecsDf(Seq(0L -> at(0), 1L -> at(10), 2L -> at(12), 3L -> at(50)))
    val out = Similarity.mmrTopK(emb, queryId = 0L, k = 2, poolSize = 3,
      lambda = 0.3).orderBy("rank").collect()
    assert(out.map(_.getAs[Long]("vec_id")).toSeq == Seq(1L, 3L))
    assert(out.map(_.getAs[Int]("rank")).toSeq == Seq(1, 2))
    // step scores are monotone non-increasing (selected set only grows)
    val scores = out.map(_.getAs[Double]("mmr_score"))
    assert(scores.sliding(2).forall(p => p(0) >= p(1)), scores.mkString(","))
    // and the plain relevance ranking WOULD have picked the near-copy
    val plain = Similarity.bruteForceTopK(emb, 0L, 2)
      .collect().map(_.getAs[Long]("vec_id")).toSeq
    assert(plain == Seq(1L, 2L))
  }

  test("LSH ANN returns same-bucket vectors ranked by cosine") {
    val out = Similarity.lshTopK(Tables.embeddings(spark, sf0001), queryId = 0, k = 10)
      .collect()
    assert(out.nonEmpty)
    assert(out.forall(_.getAs[Long]("vec_id") != 0L))
    val buckets = out.map(_.getAs[Long]("bucket")).toSet
    assert(buckets.size == 1) // single probed bucket
    val cosines = out.map(_.getAs[Double]("cos"))
    assert(cosines.sameElements(cosines.sortBy(-_)))
  }

  test("multiprobe ANN: candidate buckets within Hamming 1, recall >= single-probe") {
    val emb = Tables.embeddings(spark, sf0001)
    val single = Similarity.lshTopK(emb, queryId = 0, k = 10).collect()
    val multi = Similarity.lshTopKMultiprobe(emb, queryId = 0, k = 10).collect()
    assert(multi.nonEmpty)
    // every probed bucket is the query bucket or one bit away
    val qb = single.head.getAs[Long]("bucket")
    assert(multi.forall { r =>
      java.lang.Long.bitCount(r.getAs[Long]("bucket") ^ qb) <= 1
    })
    // superset candidates → the k-th best multiprobe cosine dominates
    val kthSingle = single.map(_.getAs[Double]("cos")).min
    val kthMulti = multi.map(_.getAs[Double]("cos")).min
    assert(kthMulti >= kthSingle)
    // vs ground truth: multiprobe top-k overlap >= single-probe overlap
    val exact = Similarity.bruteForceTopK(emb, queryId = 0, k = 10)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    def hits(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(_.getAs[Long]("vec_id")).count(exact)
    assert(hits(multi) >= hits(single))
  }

  test("cosine near-dup pairs: ordered ids, threshold respected") {
    val out = Similarity.cosineNearDupPairs(Tables.embeddings(spark, sf0001), 0.4).collect()
    assert(out.forall(r => r.getAs[Long]("id_a") < r.getAs[Long]("id_b")))
    assert(out.forall(_.getAs[Double]("cos") > 0.4))
  }

  test("LSH-banded near-dup: subset of exact all-pairs, exact scores, useful recall") {
    val emb = Tables.embeddings(spark, sf0001)
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))
    val exact = Similarity.cosineNearDupPairs(emb, 0.4).collect()
    val banded = Similarity.lshNearDupPairs(emb, 0.4).collect()
    val exactMap = exact.map(r => key(r) -> r.getAs[Double]("cos")).toMap
    // every banded pair is a true above-threshold pair with the identical
    // (same fold order) cosine — banding only prunes, never invents
    banded.foreach { r =>
      assert(exactMap.get(key(r)).contains(r.getAs[Double]("cos")), key(r))
    }
    // recall on the synthetic corpus: near-dup pairs are planted at high
    // cosine, where sign-LSH collision probability is high
    assert(exact.nonEmpty)
    assert(banded.length.toDouble / exact.length >= 0.5,
      s"recall ${banded.length}/${exact.length}")
  }

  test("cell near-dup: subset of exact all-pairs, exact scores, useful recall") {
    val emb = Tables.embeddings(spark, sf0001)
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))
    val exact = Similarity.cosineNearDupPairs(emb, 0.4).collect()
    val cells = Similarity.cellNearDupPairsAuto(emb, 0.4, targetOccupancy = 64)
      .collect()
    val exactMap = exact.map(r => key(r) -> r.getAs[Double]("cos")).toMap
    // every within-cell pair is a true above-threshold pair with the
    // identical cosine — cell partitioning only prunes, never invents
    cells.foreach { r =>
      assert(exactMap.get(key(r)).contains(r.getAs[Double]("cos")), key(r))
    }
    assert(exact.nonEmpty)
    // sf0.001 has NO planted near-dups: every above-0.4 pair is
    // background similarity of near-isotropic vectors (max cos ~0.48),
    // where one-probe cell recall is genuinely low (measured ~0.29 —
    // the documented moderate-threshold tradeoff). Assert only a sanity
    // floor here; the true near-dup regime is the next test.
    assert(cells.length.toDouble / exact.length >= 0.2,
      s"recall ${cells.length}/${exact.length}")
  }

  test("cell near-dup: planted high-cos duplicates are recovered") {
    import org.apache.spark.sql.functions._
    // plant TRUE near-dups: every 5th vector gets a copy (id + 1000)
    // with one dimension nudged — cos vs the original stays > 0.99,
    // far inside the regime the operator documents
    val base = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), Similarity.toDoubleArray(col("embedding")).as("embedding"))
    val variants = base.filter(col("vec_id") % 5 === 0)
      .select((col("vec_id") + 1000).as("vec_id"),
        transform(col("embedding"),
          (x, i) => when(i === 0, x * lit(1.05)).otherwise(x)).as("embedding"))
    val emb = base.unionByName(variants)
    val planted = base.filter(col("vec_id") % 5 === 0)
      .collect().map(_.getLong(0)).map(id => (id, id + 1000)).toSet
    val found = Similarity.cellNearDupPairsAuto(emb, 0.9, targetOccupancy = 64)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val recovered = planted.count(found)
    // a nearly-parallel pair argmaxes to the same cell unless it sits
    // exactly on a Voronoi boundary — recall should be essentially 1
    assert(recovered.toDouble / planted.size >= 0.9,
      s"planted recall $recovered/${planted.size}")
  }

  test("cell near-dup: trained centroids slot into the same plan") {
    val emb = Tables.embeddings(spark, sf0001)
    val trained = Similarity.cellNearDupPairs(emb,
      Similarity.trainCentroids(emb, nCells = 8), 0.4).collect()
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))
    val exactMap = Similarity.cosineNearDupPairs(emb, 0.4).collect()
      .map(r => key(r) -> r.getAs[Double]("cos")).toMap
    // the trained-cell arm keeps the subset/exact-score contract — the
    // centroid table is the only thing that changed
    trained.foreach { r =>
      assert(exactMap.get(key(r)).contains(r.getAs[Double]("cos")), key(r))
    }
    assert(trained.nonEmpty)
  }

  test("meanPoolEmbeddings: element-wise mean per group, order preserved") {
    val df = vecsDf(Seq(
      (0L, Seq(1.0, 2.0, 30.0)), (1L, Seq(3.0, 6.0, 10.0)), // group 0
      (10L, Seq(5.0, 5.0, 5.0)))) // group 1
    val out = Similarity.meanPoolEmbeddings(df, expr("vec_id div 10"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getSeq[Double](2).toList))).toMap
    assert(out(0L) == ((2L, List(2.0, 4.0, 20.0))))
    assert(out(1L) == ((1L, List(5.0, 5.0, 5.0))))
  }

  test("meanPoolEmbeddingsNative: equals the relational pooling, partial-agg plan") {
    import org.apache.spark.sql.functions.expr
    val emb = Tables.embeddings(spark, sf0001)
    def collectPooled(df: org.apache.spark.sql.DataFrame) =
      df.collect().map { r =>
        r.getLong(0) -> ((r.getLong(1),
          r.getSeq[Double](2).map(x => BigDecimal(x)
            .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble).toList))
      }.toMap
    val relational = collectPooled(
      Similarity.meanPoolEmbeddings(emb, expr("vec_id div 10")))
    val nativeDf = Similarity.meanPoolEmbeddingsNative(emb, expr("vec_id div 10"))
    val native = collectPooled(nativeDf)
    // identical groups, counts, and per-dim means to 9 decimals (the
    // shuffle-order ulp is the only permitted difference)
    assert(native == relational)
    val p = nativeDf.queryExecution.executedPlan.toString
    assert(p.contains("ObjectHashAggregate"), p.take(2000))
    assert(p.contains("partial_graft_vector_sum"), p.take(2000))
  }

  test("SQL registration: graft_vector_sum usable from pure SQL") {
    val s = spark
    import s.implicits._
    Seq((1L, Seq(1.0, 2.0)), (1L, Seq(3.0, 4.0)), (2L, Seq(5.0, 6.0)))
      .toDF("g", "v").createOrReplaceTempView("vecsum_sql_in")
    val out = spark.sql(
      "SELECT g, graft_vector_sum(v) AS sv FROM vecsum_sql_in GROUP BY g")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toList).toMap
    assert(out(1L) == List(4.0, 6.0) && out(2L) == List(5.0, 6.0))
  }

  test("vectorSum: null vectors skipped, all-null group is null") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, Some(Seq(1.0, 2.0))), (1L, None), (2L, None))
      .toDF("g", "v")
    val out = df.groupBy("g").agg(graft.plans.VectorAgg.vectorSum(col("v")).as("sv"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(out(1L).map(_.asInstanceOf[scala.collection.Seq[Double]].toList) ==
      Some(List(1.0, 2.0)))
    assert(out(2L).isEmpty)
  }

  test("annRecallIvf: one cell = whole corpus probed = recall exactly 1.0") {
    val emb = Tables.embeddings(spark, sf0001)
    val out = Similarity.annRecallIvf(emb, Seq(20L, 111L, 222L), k = 10, nCells = 1)
      .collect()
    assert(out.length == 3)
    out.foreach { r =>
      assert(r.getAs[Long]("n_exact") == 10L)
      assert(r.getAs[Long]("n_approx") == 10L)
      assert(r.getAs[Long]("n_hit") == 10L) // same candidate set, same ranking
      assert(r.getAs[Double]("recall") == 1.0)
    }
  }

  test("annRecallIvf: recall counts exactly the exact-top-k members the probe found") {
    val emb = Tables.embeddings(spark, sf0001)
    val qid = 222L
    val out = Similarity.annRecallIvf(emb, Seq(qid), k = 10, nCells = 16)
      .collect()(0)
    // cross-check n_hit against the two single-query operators' result sets
    val exact = Similarity.bruteForceTopK(emb, qid, 10)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    val approx = Similarity.ivfTopK(emb, qid, 10)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    assert(out.getAs[Long]("n_exact") == exact.size)
    assert(out.getAs[Long]("n_approx") == approx.size)
    assert(out.getAs[Long]("n_hit") == (exact intersect approx).size)
    assert(out.getAs[Double]("recall") ==
      BigDecimal((exact intersect approx).size.toDouble / exact.size)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("binarySignature: packs sign bits into two INT-range halves") {
    val v = (0 until 64).map(i => if (i % 3 == 0) 1.0 else -1.0)
    val df = vecsDf(Seq((1L, v)))
    val (lo, hi) = Similarity.binarySignature(col("embedding"), 64)
    val r = df.select(lo.as("lo"), hi.as("hi")).collect()(0)
    def want(range: Range, base: Int): Long =
      range.filter(_ % 3 == 0).map(i => 1L << (i - base)).sum
    assert(r.getLong(0) == want(0 until 32, 0))
    assert(r.getLong(1) == want(32 until 64, 32))
    // both halves stay in unsigned-32 range: no sign-bit / overflow trap
    assert(r.getLong(0) >= 0L && r.getLong(0) <= 0xffffffffL)
    assert(r.getLong(1) >= 0L && r.getLong(1) <= 0xffffffffL)
  }

  test("binaryTopK: re-rank subset of Hamming shortlist, exact cos values") {
    val emb = Tables.embeddings(spark, sf0001)
    val out = Similarity.binaryTopK(emb, queryId = 0, k = 10, shortlist = 50)
      .collect()
    assert(out.length == 10)
    assert(out.forall(_.getAs[Long]("vec_id") != 0L))
    val cosines = out.map(_.getAs[Double]("cos"))
    assert(cosines.sameElements(cosines.sortBy(-_)))
    // widening the shortlist to the whole corpus degenerates to exact
    // brute force -- recall against it must be substantial at 50
    val n = emb.count().toInt
    val exact = Similarity.binaryTopK(emb, 0, 10, shortlist = n)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    val brute = Similarity.bruteForceTopK(emb, 0, 10)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    assert(exact == brute) // full shortlist == brute force, bit-exact path
    val got = out.map(_.getAs[Long]("vec_id")).toSet
    assert((got intersect brute).nonEmpty)
  }

  test("mrlTopK: equals brute force computed on the truncated vectors") {
    val emb = Tables.embeddings(spark, sf0001)
    val got = Similarity.mrlTopK(emb, queryId = 0, k = 5, prefixDim = 16)
      .collect().map(r => r.getAs[Long]("vec_id"))
    val all = emb.collect().map(r =>
      (r.getAs[Long]("vec_id"), r.getAs[Seq[Float]]("embedding").take(16).map(_.toDouble).toArray))
    val q = all.find(_._1 == 0L).get._2
    def cos(a: Array[Double], b: Array[Double]) = {
      val d = a.zip(b).map(p => p._1 * p._2).sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val want = all.filter(_._1 != 0L)
      .map { case (id, v) => (id, BigDecimal(cos(v, q)).setScale(6, BigDecimal.RoundingMode.HALF_UP)) }
      .sortBy { case (id, c) => (-c, id) }.take(5).map(_._1)
    assert(got.toSeq == want.toSeq)
  }

  test("batchTopK: each panel member's slice equals its solo brute-force run") {
    val emb = Tables.embeddings(spark, sf0001)
    val panel = Seq(0L, 7L)
    val got = Similarity.batchTopK(emb, panel, k = 5)
      .collect()
      .groupBy(_.getAs[Long]("query_id"))
      .view.mapValues(_.sortBy(_.getAs[Int]("rank"))
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cos"))).toSeq)
      .toMap
    panel.foreach { qid =>
      val solo = Similarity.bruteForceTopK(emb, qid, 5)
        .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cos"))).toSeq
      assert(got(qid) == solo, s"panel slice for query $qid diverged")
    }
  }

  test("mrlFunnelTopK: full-corpus shortlist makes the funnel equal exact batchTopK") {
    val emb = Tables.embeddings(spark, sf0001)
    val n = emb.count()
    val panel = Seq(0L, 7L)
    val exact = Similarity.batchTopK(emb, panel, k = 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("vec_id"), r.getAs[Double]("cos"))).toSeq
    // shortlist covers every candidate -> rerank IS the exact pass
    val funnel = Similarity.mrlFunnelTopK(emb, panel, k = 5,
        shortlist = n.toInt, prefixDim = 16).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("vec_id"), r.getAs[Double]("cos"))).toSeq
    assert(funnel == exact)
  }

  test("mrlFunnelTopK: narrow shortlist returns k rows per query, full-dim scored") {
    val emb = Tables.embeddings(spark, sf0001)
    val out = Similarity.mrlFunnelTopK(emb, Seq(0L), k = 5, shortlist = 10)
      .collect()
    assert(out.length == 5)
    assert(out.map(_.getAs[Int]("rank")).toSeq == Seq(1, 2, 3, 4, 5))
    // scores are full-dim cosines: each within [-1, 1] and non-increasing
    val cs = out.map(_.getAs[Double]("cos")).toSeq
    assert(cs == cs.sorted.reverse && cs.forall(c => c >= -1.0 && c <= 1.0))
  }

  test("densityClustersFromPairs: core/border/noise roles on a hand-built graph") {
    val s = spark
    import s.implicits._
    // graph: 1-2, 2-3 (chain: 2 is core at minPts=3, 1 and 3 are border);
    // 4-5 (both degree 1: non-core, no core neighbor -> noise);
    // 10-11, 10-12, 11-12 (triangle: all core, one cluster, canonical 10);
    // 13-10 (border hanging off the triangle); 99 isolated -> noise
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L), (10L, 11L), (10L, 12L),
        (11L, 12L), (10L, 13L)).toDF("id_a", "id_b")
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 10L, 11L, 12L, 13L, 99L).toDF("vec_id")
    val out = graft.operators.Similarity
      .densityClustersFromPairs(nodes, pairs, minPts = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getString(2), Option(r.get(3)).map(_.asInstanceOf[Long])))).toMap
    assert(out(2L) == ((2L, "core", Some(2L))))   // isolated core: own cluster
    assert(out(1L) == ((1L, "border", Some(2L))))
    assert(out(3L) == ((1L, "border", Some(2L))))
    assert(out(4L) == ((1L, "noise", None)))
    assert(out(5L) == ((1L, "noise", None)))
    assert(out(10L) == ((3L, "core", Some(10L))))
    assert(out(11L) == ((2L, "core", Some(10L))))
    assert(out(12L) == ((2L, "core", Some(10L))))
    assert(out(13L) == ((1L, "border", Some(10L))))
    assert(out(99L) == ((0L, "noise", None)))
  }

  test("sqTopK: corpus-wide shortlist == brute force; tight shortlist keeps exact cos") {
    val emb = Tables.embeddings(spark, sf0001)
    val n = emb.count().toInt
    // shortlist >= corpus: exact re-rank covers everything -> brute force
    val full = Similarity.sqTopK(emb, queryId = 0, k = 5, shortlist = n)
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cos")))
    val brute = Similarity.bruteForceTopK(emb, queryId = 0, k = 5)
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cos")))
    assert(full.toSeq == brute.toSeq)
    // tight shortlist: a subset of the shortlist, cos values still EXACT
    val tight = Similarity.sqTopK(emb, queryId = 0, k = 5, shortlist = 20)
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cos"))).toMap
    val bruteAll = Similarity.bruteForceTopK(emb, queryId = 0, k = n)
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cos"))).toMap
    tight.foreach { case (id, c) => assert(bruteAll(id) == c) }
    // int8 quantization barely moves cosine: approx within 0.02 of exact
    Similarity.sqTopK(emb, queryId = 0, k = 5, shortlist = 20).collect()
      .foreach { r =>
        assert(math.abs(r.getAs[Double]("adc_cos") - r.getAs[Double]("cos")) < 0.02)
      }
  }

  test("pqTopK: planted duplicate ranks first; useful recall vs brute force") {
    val emb = Tables.embeddings(spark, sf0001)
    // plant an exact duplicate of the query vector under a new id: it
    // encodes to the query's own codes, so its ADC distance is the
    // reconstruction minimum -> must rank first
    val q = emb.filter(col("vec_id") === 0L)
      .select(lit(990000L).as("vec_id"), col("embedding"), col("label"))
    val planted = emb.unionByName(q)
    val top = Similarity.pqTopK(planted, queryId = 0, k = 10).collect()
    assert(top.head.getAs[Long]("vec_id") == 990000L, top.map(_.mkString(",")).mkString("; "))
    // ADC distances are sorted ascending and the planted dup's is minimal
    val ds = top.map(_.getAs[Double]("adc_dist"))
    assert(ds.sameElements(ds.sorted))
    // coarse recall floor vs exact cosine top-10 on the unmodified corpus
    val pq = Similarity.pqTopK(emb, queryId = 0, k = 10)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    val brute = Similarity.bruteForceTopK(emb, queryId = 0, k = 10)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    assert((pq intersect brute).size >= 2,
      s"pq=$pq brute=$brute") // quantized L2 vs exact cosine: partial overlap expected
  }

  test("ivfPqTopK: probing every cell with a corpus-wide shortlist == brute force") {
    val emb = Tables.embeddings(spark, sf0001)
    // degenerate configuration closes the approximation: all 16 cells
    // probed and the ADC shortlist spans the corpus, so the exact cosine
    // re-rank sees every candidate — the result must equal brute force
    val got = Similarity.ivfPqTopK(emb, queryId = 20, k = 10,
        nCells = 16, nprobe = 16, m = 8, nCodes = 16, shortlist = 1000)
      .collect().map(_.getAs[Long]("vec_id"))
    val want = Similarity.bruteForceTopK(emb, queryId = 20, k = 10)
      .collect().map(_.getAs[Long]("vec_id"))
    assert(got.sameElements(want), s"got=${got.toSeq} want=${want.toSeq}")
  }

  test("ivfPqTopK residual encoding: same closure property, useful recall") {
    val emb = Tables.embeddings(spark, sf0001)
    // the closure holds regardless of encoding: probing every cell with a
    // corpus-wide shortlist makes the exact re-rank see every candidate
    val got = Similarity.ivfPqTopK(emb, queryId = 20, k = 10,
        nCells = 16, nprobe = 16, m = 8, nCodes = 16, shortlist = 1000,
        residual = true)
      .collect().map(_.getAs[Long]("vec_id"))
    val want = Similarity.bruteForceTopK(emb, queryId = 20, k = 10)
      .collect().map(_.getAs[Long]("vec_id"))
    assert(got.sameElements(want), s"got=${got.toSeq} want=${want.toSeq}")
    // at the catalog configuration the residual path is a working index:
    // nonempty, deterministic, k rows
    val res = Similarity.ivfPqTopK(emb, queryId = 20, k = 10, residual = true)
      .collect().map(_.getAs[Long]("vec_id"))
    val res2 = Similarity.ivfPqTopK(emb, queryId = 20, k = 10, residual = true)
      .collect().map(_.getAs[Long]("vec_id"))
    assert(res.length == 10 && res.sameElements(res2))
  }

  test("semDedup: one keeper per planted dup group; untouched vectors survive") {
    val emb = Tables.embeddings(spark, sf0001)
    // pick a vector with NO near-dup pairs (computed from the data so
    // testdata regeneration cannot break the premise), clone it twice
    val paired = Similarity.cosineNearDupPairs(emb, 0.4).collect()
      .flatMap(r => Seq(r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val x = emb.select("vec_id").collect().map(_.getLong(0))
      .filter(id => id >= 100 && !paired(id)).min
    val clones = emb.filter(col("vec_id") === x)
      .select(explode(typedlit(Seq(990001L, 990002L))).as("vec_id"),
        col("embedding"), col("label"))
    val base = Similarity.semDedup(emb, 0.4, nCells = 16).collect()
    val out = Similarity.semDedup(emb.unionByName(clones), 0.4, nCells = 16)
      .collect()
    // the trio {x, clone, clone} is one dup group (cosine exactly 1,
    // same cell): exactly one survives, and identical centroid cosines
    // tie-break to the lowest vec_id = x itself
    val trio = out.map(_.getAs[Long]("vec_id")).filter(Set(x, 990001L, 990002L))
    assert(trio.sameElements(Array(x)), s"trio survivors: ${trio.toSeq}")
    // clones add nothing else: every other decision is unchanged
    assert(out.length == base.length)
    assert(out.map(_.getAs[Long]("vec_id")).toSet -- Set(x) ==
      base.map(_.getAs[Long]("vec_id")).toSet -- Set(x))
    // SemDeDup prunes only within-cell groups by design — never more
    // than the corpus, and the planted trio above proves the collapse
    assert(base.length <= emb.count())
  }

  test("semDedupAuto: occupancy-sized cells, floor 16, keeps the semantics") {
    val emb = Tables.embeddings(spark, sf0001)
    // 500 vectors / occupancy 256 -> ceil = 2 -> floored to 16 cells:
    // identical to the fixed-cell catalog entry on this corpus
    val auto = Similarity.semDedupAuto(emb, 0.4, targetOccupancy = 256)
      .collect().map(_.getAs[Long]("vec_id")).sorted
    val fixed = Similarity.semDedup(emb, 0.4, nCells = 16)
      .collect().map(_.getAs[Long]("vec_id")).sorted
    assert(auto.sameElements(fixed))
    // a tight occupancy target raises the cell count: 500/25 = 20 cells
    val tight = Similarity.semDedupAuto(emb, 0.4, targetOccupancy = 25)
      .collect()
    assert(tight.map(_.getAs[Long]("cell")).distinct.length > 16)
  }

  test("annRecallIvfPq: IVF-PQ recall dominates plain IVF on every panel query") {
    val emb = Tables.embeddings(spark, sf0001)
    val rows = Similarity.annRecallIvfPq(emb,
        Seq(20L, 111L, 222L, 333L, 444L), k = 10,
        nCells = 16, nprobe = 4, m = 8, nCodes = 16, shortlist = 50)
      .collect()
    assert(rows.length == 5)
    // 4 probed cells of 8-byte codes cost ~1/8 the bytes of plain IVF's
    // single cell of 256-byte floats — the recall should still dominate
    rows.foreach { r =>
      assert(r.getAs[Double]("recall_ivfpq") >= r.getAs[Double]("recall_ivf"),
        s"query ${r.getAs[Long]("query_id")}: " +
          s"ivfpq=${r.getAs[Double]("recall_ivfpq")} < ivf=${r.getAs[Double]("recall_ivf")}")
    }
    val avg = (f: String) => rows.map(_.getAs[Double](f)).sum / rows.length
    assert(avg("recall_ivfpq") > avg("recall_ivf"),
      s"avg ivfpq=${avg("recall_ivfpq")} ivf=${avg("recall_ivf")}")
    // the plain-IVF arm must agree with the standalone harness
    val ivfOnly = Similarity.annRecallIvf(emb,
        Seq(20L, 111L, 222L, 333L, 444L), k = 10, nCells = 16)
      .collect().map(r => r.getAs[Long]("query_id") -> r.getAs[Double]("recall")).toMap
    rows.foreach { r =>
      assert(r.getAs[Double]("recall_ivf") == ivfOnly(r.getAs[Long]("query_id")))
    }
  }

  test("trained IVF-PQ beats the deterministic convention per query at the same scan budget") {
    // the r7 headliner gate, measured honestly: this corpus's embeddings
    // are near-isotropic (a query's top-10 sit at cosine ≈0.26-0.34,
    // barely above the pairwise noise floor, labels uncorrelated), so
    // NO cell index reaches recall 0.8 at the deterministic entry's 25%
    // code-scan budget — SCALE.md carries the sweep. What training DOES
    // deliver at the SAME budget (16 of 64 fitted cells ≈ 4 of 16
    // deterministic cells in scanned code bytes): a strict per-query win,
    // 0.6-0.9 vs 0.4-0.6 (avg 0.74 vs 0.50). sf0.001 embeddings are the
    // identical 500-vector table the driver's sf0.01 oracle reads, so
    // this pins the sim_trained_recall catalog booleans.
    val emb = Tables.embeddings(spark, sf0001)
    val panel = Seq(20L, 111L, 222L, 333L, 444L)
    val cents = Similarity.trainCentroids(emb, nCells = 64)
    val codebook = Similarity.trainCodebook(emb, m = 8, nCodes = 16)
    val trained = Similarity.annRecallIvfPqWith(emb, cents, codebook,
        panel, k = 10, nprobe = 16, shortlist = 100)
      .collect().map(r => r.getAs[Long]("query_id") ->
        r.getAs[Double]("recall_ivfpq")).toMap
    val det = Similarity.annRecallIvfPq(emb, panel, k = 10)
      .collect().map(r => r.getAs[Long]("query_id") ->
        r.getAs[Double]("recall_ivfpq")).toMap
    panel.foreach { q =>
      assert(trained(q) > det(q),
        s"query $q: trained ${trained(q)} !> deterministic ${det(q)}")
    }
    val avgT = trained.values.sum / 5
    val avgD = det.values.sum / 5
    assert(avgT >= 0.7 && avgT > avgD + 0.15,
      s"trained avg $avgT vs deterministic $avgD — training stopped paying")
  }

  test("quantizer fits reject a training sample smaller than k") {
    val emb = Tables.embeddings(spark, sf0001).filter(col("vec_id") < 5)
    def rejects(fit: => Any, k: String): Unit = {
      val e = intercept[IllegalArgumentException](fit)
      assert(e.getMessage.contains("5 vectors") && e.getMessage.contains(k), e.getMessage)
    }
    rejects(Similarity.trainCentroids(emb, nCells = 8), "nCells = 8")
    rejects(Similarity.trainCodebook(emb, m = 2, nCodes = 16), "nCodes = 16")
    rejects(Similarity.trainCodebookResidual(emb,
      Similarity.deterministicCentroids(emb, nCells = 2), m = 2, nCodes = 16), "nCodes = 16")
  }

  test("trained IVF-PQ reaches recall@10 >= 0.8 per query at 1.5x the scan budget") {
    // the 0.8 bar, met where the data permits it: probing 24 of 64 cells
    // (37.5% of code bytes vs the deterministic entry's 25%) — the
    // measured recall-vs-scan curve's knee on this corpus (SCALE.md)
    val emb = Tables.embeddings(spark, sf0001)
    val cents = Similarity.trainCentroids(emb, nCells = 64)
    val codebook = Similarity.trainCodebook(emb, m = 8, nCodes = 16)
    val rows = Similarity.annRecallIvfPqWith(emb, cents, codebook,
        Seq(20L, 111L, 222L, 333L, 444L), k = 10, nprobe = 24, shortlist = 100)
      .collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      assert(r.getAs[Double]("recall_ivfpq") >= 0.8,
        s"query ${r.getAs[Long]("query_id")}: " +
          s"${r.getAs[Double]("recall_ivfpq")} < 0.8")
    }
  }

  test("deterministic frames through the *With paths reproduce the convention paths") {
    // the delegation refactor must be exact: first-n cents/codebook fed
    // through ivfPqTopKWith == ivfPqTopK, and ivfTopKWith == ivfTopK
    val emb = Tables.embeddings(spark, sf0001)
    val e = emb.select(col("vec_id"),
      Similarity.toDoubleArray(col("embedding")).as("v"))
    val cents = e.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cell"), col("v").as("cv"))
    val sub = 64 / 8
    val codebook = e.filter(col("vec_id") < 16)
      .select(col("vec_id"),
        posexplode(array((0 until 8).map(s =>
          slice(col("v"), s * sub + 1, sub)): _*)).as(Seq("s", "vs")))
      .select(col("s"), col("vec_id").cast("int").as("code"), col("vs").as("cw"))
    val viaWith = Similarity.ivfPqTopKWith(emb, cents, codebook,
      queryId = 20, k = 10).collect().map(_.toSeq)
    val direct = Similarity.ivfPqTopK(emb, queryId = 20, k = 10)
      .collect().map(_.toSeq)
    assert(viaWith.toSeq == direct.toSeq)
    val ivfWith = Similarity.ivfTopKWith(emb, cents, queryId = 20, k = 10)
      .collect().map(_.toSeq)
    val ivfDirect = Similarity.ivfTopK(emb, queryId = 20, k = 10)
      .collect().map(_.toSeq)
    assert(ivfWith.toSeq == ivfDirect.toSeq)
  }

  test("residual-trained IVF-PQ: full-probe closure == brute force; measured parity at budget") {
    // closure: probing EVERY cell with a corpus-wide shortlist leaves no
    // place for the residual machinery (per-probed-cell ADC tables,
    // residual-trained codebooks) to lose a true hit — recall must be
    // exactly 1.0. This pins the residual dataflow's wiring.
    val emb = Tables.embeddings(spark, sf0001)
    val panel = Seq(20L, 111L, 222L, 333L, 444L)
    val cents = Similarity.trainCentroids(emb, nCells = 16)
    val cbRes = Similarity.trainCodebookResidual(emb, cents, m = 8, nCodes = 16)
    val closure = Similarity.annRecallIvfPqWith(emb, cents, cbRes, panel,
        k = 10, nprobe = 16, shortlist = 1000, residual = true)
      .collect()
    assert(closure.length == 5)
    closure.foreach(r => assert(r.getAs[Double]("recall_ivfpq") == 1.0,
      s"query ${r.getAs[Long]("query_id")}: ${r.getAs[Double]("recall_ivfpq")}"))
    // measured finding (SCALE.md round 8): on this near-isotropic corpus
    // residual encoding does NOT beat the raw-trained codebook — cells
    // are wide, so residuals are no tighter than raw vectors. Pin only
    // that the residual path stays a working index at the usual budget
    // (no collapse), not a data-specific ordering between the two.
    val c64 = Similarity.trainCentroids(emb, nCells = 64)
    val cbRes64 = Similarity.trainCodebookResidual(emb, c64, m = 8, nCodes = 16)
    val atBudget = Similarity.annRecallIvfPqWith(emb, c64, cbRes64, panel,
        k = 10, nprobe = 16, shortlist = 100, residual = true)
      .collect()
    atBudget.foreach(r => assert(r.getAs[Double]("recall_ivfpq") >= 0.5,
      s"query ${r.getAs[Long]("query_id")}: residual path collapsed to " +
        s"${r.getAs[Double]("recall_ivfpq")}"))
  }

  test("semDedupWith on trained centroids: keeps a valid pruned set") {
    val emb = Tables.embeddings(spark, sf0001)
    val cents = Similarity.trainCentroids(emb, nCells = 16)
    val kept = Similarity.semDedupWith(emb, cents, threshold = 0.95)
    val n = emb.count()
    val nKept = kept.count()
    assert(nKept > 0 && nKept <= n)
    // kept rows are unique vec_ids drawn from the corpus
    assert(kept.select("vec_id").distinct().count() == nKept)
  }

  test("ivfFilteredTopK: every hit satisfies the predicate, ranking descends") {
    val emb = Tables.embeddings(spark, sf0001)
    val rows = Similarity.ivfFilteredTopK(emb, queryId = 20, k = 10,
      pred = col("label") === 3, metaCols = Seq("label")).collect()
    assert(rows.nonEmpty && rows.length <= 10)
    assert(rows.forall(_.getAs[Int]("label") == 3))
    val cos = rows.map(_.getAs[Double]("cos"))
    assert(cos.zip(cos.tail).forall { case (a, b) => a >= b })
    // the filtered list is exactly the unfiltered cell ranking restricted
    // to the predicate (pushdown changes selection, never order)
    val cellAll = Similarity.ivfTopK(emb, queryId = 20, k = 1000)
      .collect().map(r => r.getAs[Long]("vec_id"))
    val lab3 = emb.filter(col("label") === 3)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    assert(rows.map(_.getAs[Long]("vec_id")).toSeq ==
      cellAll.filter(lab3).take(10).toSeq)
  }

  test("dimStats: hand-computed per-dimension stats") {
    val df = vecsDf(Seq((1L, Seq(1.0, 10.0)), (2L, Seq(3.0, 10.0))))
    val out = Similarity.dimStats(df).collect()
      .map(r => r.getAs[Long]("dim") ->
        (r.getAs[Long]("n"), r.getAs[Double]("mean"), r.getAs[Double]("std"),
          r.getAs[Double]("min_x"), r.getAs[Double]("max_x"))).toMap
    assert(out(0L) == (2L, 2.0, math.sqrt(2.0) match {
      case s => math.round(s * 1e6) / 1e6
    }, 1.0, 3.0))
    assert(out(1L) == (2L, 10.0, 0.0, 10.0, 10.0))
  }

  test("whitening: published stats re-center to ~0/~1; dead dim passes through centered") {
    val s = spark
    import s.implicits._
    val emb = Tables.embeddings(spark, sf0001)
    val stats = Similarity.whitenStats(emb).collect()
    assert(stats.length == 64)
    // re-whiten with the published stats and check the resulting per-dim
    // moments: |mean| <= rounding slack, std within it of 1
    val mus = stats.map(_.getAs[Double]("mu"))
    val sds = stats.map(_.getAs[Double]("sd"))
    val vecs = emb.select(col("vec_id"), col("embedding")).collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toArray)
    for (d <- Seq(0, 17, 63)) {
      val w = vecs.map(v => (v(d) - mus(d)) / sds(d))
      val m = w.sum / w.length
      val sd = math.sqrt(w.map(x => (x - m) * (x - m)).sum / w.length)
      assert(math.abs(m) < 1e-4, s"dim $d mean $m")
      assert(math.abs(sd - 1.0) < 1e-3, s"dim $d sd $sd")
    }
    // a constant dimension publishes sd 1.0 (centered passthrough)
    val const = Seq((1L, Seq(2.5f, 1f)), (2L, Seq(2.5f, 3f)))
      .toDF("vec_id", "embedding")
    val cs = Similarity.whitenStats(const).collect()
    assert(cs(0).getAs[Double]("sd") == 1.0)
    assert(cs(0).getAs[Double]("mu") == 2.5)
  }

  test("hard negatives: planted near-dup excluded, band-top candidates kept in order") {
    val emb = Tables.embeddings(spark, sf0001)
    // plant an exact clone of query 5 — cosine 1.0, the false negative
    // the band must reject
    val clone = emb.filter(col("vec_id") === 5L)
      .select(lit(900001L).as("vec_id"), col("embedding"))
    val out = Similarity.hardNegatives(
        emb.select(col("vec_id"), col("embedding")).union(clone),
        queryIds = Seq(5L), k = 10, maxCos = 0.8)
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(out.length == 10)
    assert(!out.exists(_._2 == 900001L), "clone (cos 1.0) must be excluded")
    assert(out.forall(_._3 < 0.8))
    // ranks contiguous, cosines non-increasing
    assert(out.map(_._1).toSeq == (1 to 10))
    assert(out.map(_._3).sliding(2).forall(p => p(0) >= p(1)))
    // equals the brute-force ranking restricted to the band
    val brute = Similarity.bruteForceTopK(emb, queryId = 5L, k = 1000)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
      .filter(_._2 < 0.8).take(10)
    assert(out.map(t => (t._2, t._3)).toSeq == brute.toSeq)
  }

  test("incremental IVF: maintained index probe == full ivfTopK rebuild") {
    val emb = Tables.embeddings(spark, sf0001)
    val batch = emb.filter(col("vec_id") % 17 === 0)
      .select((col("vec_id") + 2000000L).as("vec_id"), col("embedding"))
    val all = emb.select(col("vec_id"), col("embedding")).union(batch)
    val cents = Similarity.ivfCentroids(emb, 16)
    // incremental path: base index built once, batch assigned separately
    // against the SAME centroids, probe over the union index
    val idx = Similarity.ivfAssignments(emb, cents)
      .union(Similarity.ivfAssignments(batch, cents))
    val incr = Similarity.ivfTopKIndexed(all, idx, queryId = 20, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // rebuild path: assign everything from scratch
    val full = Similarity.ivfTopK(all, queryId = 20, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(incr.toSeq == full.toSeq)
    assert(incr.length == 10)
    // the planted clone rule: any probed-cell vec with vec_id % 17 == 0
    // has its +2e6 twin in the SAME cell at the SAME cosine
    val byId = incr.map(t => t._1 -> t).toMap
    for ((id, (_, cell, cos)) <- byId if id < 2000000 && id % 17 == 0;
         twin <- byId.get(id + 2000000))
      assert(twin._2 == cell && twin._3 == cos)
  }

  test("cellOccupancy: a planted hot cell is flagged over budget; costs add up") {
    val s = spark
    import s.implicits._
    // 10 vectors all pointing at e1 -> everything lands in cell 0; the
    // e2 centroid (cell 1) stays empty and never appears in the report
    val emb = (0L until 10L).map(i => (i, Seq.fill(4)(0.0f).updated(0, 1.0f + i * 0.01f)))
      .toDF("vec_id", "embedding")
    val cents = Seq((0L, Seq(1.0, 0.0, 0.0, 0.0)), (1L, Seq(0.0, 1.0, 0.0, 0.0)))
      .toDF("cell", "cv")
    val rows = operators.Similarity.cellOccupancy(emb, cents,
        expectedOccupancy = 1L, factor = 4.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3), r.getBoolean(4)))
    assert(rows.toSeq == Seq((0L, 10L, 1.0, 45L, true)))
  }

  test("index versioning: a v2 refresh never disturbs v1 readers; v2 sees the new vectors") {
    // the whole point of the v=N layout: Spark refreshes version N+1
    // while serving replays from version N — prove reader isolation by
    // exporting v1, growing the corpus, exporting v2 alongside, and
    // checking the v1 replay is byte-for-byte what it was before v2
    // existed while the v2 replay surfaces a planted near-clone
    val s = spark
    import s.implicits._
    val emb = Tables.embeddings(spark, sf0001)
    val e0 = emb.select(col("vec_id"),
      operators.Similarity.toDoubleArray(col("embedding")).as("v"))
    val cents = e0.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cell"), col("v").as("cv"))
    val cb = e0.filter(col("vec_id") < 8).select(col("vec_id"),
      posexplode(array((0 until 8).map(ss =>
        slice(col("v"), ss * 8 + 1, 8)): _*)).as(Seq("s", "vs")))
      .select(col("s"), col("vec_id").cast("int").as("code"), col("vs").as("cw"))
    val dir = java.nio.file.Files.createTempDirectory("graft_idxv_").toString
    operators.Similarity.writeIvfPqIndex(emb, cents, cb, dir, version = 1)
    def replay(version: Int) = operators.Similarity.ivfPqTopKFromIndex(
        operators.Similarity.readIvfPqIndex(spark, dir, version),
        queryId = 20, k = 10, nprobe = 3, shortlist = 40)
      .collect().map(_.toSeq).toSeq
    val v1Before = replay(1)
    // corpus grows by a near-clone of the query vector (id 900001):
    // same direction, scaled — cosine 1.0 to the query, must top v2
    val clone = emb.filter(col("vec_id") === 20)
      .select(lit(900001L).as("vec_id"),
        transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
    operators.Similarity.writeIvfPqIndex(
      emb.select("vec_id", "embedding").unionByName(clone), cents, cb,
      dir, version = 2)
    assert(replay(1) == v1Before, "v1 replay changed after the v2 export")
    val v2Top = replay(2).head
    assert(v2Top.head == 900001L && v2Top.last == 1.0,
      s"v2 must surface the planted clone at cosine 1.0, got $v2Top")
    sources.Artifacts.deleteRecursively(new java.io.File(dir))
  }

  test("index export: trained IVF-PQ query from the parquet layout == in-memory path") {
    val emb = Tables.embeddings(spark, sf0001)
    val cents = Similarity.trainCentroids(emb, nCells = 8)
    val cb = Similarity.trainCodebook(emb, m = 8, nCodes = 8)
    val dir = java.nio.file.Files.createTempDirectory("graft_idx_t").toString
    Similarity.writeIvfPqIndex(emb, cents, cb, dir, version = 3)
    val idx = Similarity.readIvfPqIndex(spark, dir, version = 3)
    // manifest round-trips the layout's shape
    assert(idx.version == 3 && idx.dim == 64 && idx.m == 8 && idx.nCodes == 8)
    assert(idx.nCells == 8 && idx.nVectors == emb.count())
    // postings carry one codes entry per subspace, partitioned by cell
    assert(idx.postings.count() == idx.nVectors)
    assert(idx.postings.select("codes").limit(1).collect()(0)
      .getSeq[Int](0).length == 8)
    // the replay-from-layout query equals the in-memory trained path,
    // row for row (same quantizers, same conventions at every stage)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSeq
    val fromIndex = rows(Similarity.ivfPqTopKFromIndex(idx, queryId = 20,
      k = 10, nprobe = 3, shortlist = 40))
    val inMemory = rows(Similarity.ivfPqTopKWith(emb, cents, cb, queryId = 20,
      k = 10, nprobe = 3, m = 8, shortlist = 40))
    assert(fromIndex == inMemory)
    assert(fromIndex.length == 10)
    sources.Artifacts.deleteRecursively(new java.io.File(dir))
  }

  test("residual index export: layout replay == in-memory residual path; manifest is self-describing") {
    val emb = Tables.embeddings(spark, sf0001)
    val dir = java.nio.file.Files.createTempDirectory("graft_idx_r").toString
    Similarity.writeIvfPqIndex(emb,
      Similarity.deterministicCentroids(emb, nCells = 16),
      Similarity.residualCodebook(emb, nCells = 16, nCodes = 16),
      dir, version = 1, residual = true)
    val idx = Similarity.readIvfPqIndex(spark, dir, version = 1)
    // the manifest carries the encoding — the replay is never told
    assert(idx.residual, "manifest must record residual encoding")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSeq
    val fromIndex = rows(Similarity.ivfPqTopKFromIndex(idx, queryId = 20,
      k = 10, nprobe = 4, shortlist = 50))
    val inMemory = rows(Similarity.ivfPqTopK(emb, queryId = 20, k = 10,
      nCells = 16, nprobe = 4, m = 8, nCodes = 16, shortlist = 50,
      residual = true))
    assert(fromIndex == inMemory,
      "residual layout replay must be bit-identical to the in-memory path")
    assert(fromIndex.length == 10)
    // and the residual codes genuinely differ from a raw encoding of the
    // same corpus (the flag changes the bytes, not just the metadata)
    val rawDir = java.nio.file.Files.createTempDirectory("graft_idx_r0").toString
    Similarity.writeIvfPqIndex(emb,
      Similarity.deterministicCentroids(emb, nCells = 16),
      // raw codebook: first-16 sub-vectors of the raw embeddings
      emb.select(col("vec_id"), Similarity.toDoubleArray(col("embedding")).as("v"))
        .filter(col("vec_id") < 16)
        .select(col("vec_id"), posexplode(array((0 until 8).map(ss =>
          slice(col("v"), ss * 8 + 1, 8)): _*)).as(Seq("s", "vs")))
        .select(col("s"), col("vec_id").cast("int").as("code"), col("vs").as("cw")),
      rawDir, version = 1)
    val rawIdx = Similarity.readIvfPqIndex(spark, rawDir, version = 1)
    assert(!rawIdx.residual)
    val resCodes = idx.postings.select("vec_id", "codes").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val rawCodes = rawIdx.postings.select("vec_id", "codes").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(resCodes.keySet == rawCodes.keySet)
    assert(resCodes.exists { case (id, cs) => rawCodes(id) != cs })
    sources.Artifacts.deleteRecursively(new java.io.File(dir))
    sources.Artifacts.deleteRecursively(new java.io.File(rawDir))
  }

  test("IVF-PQ top-k: a query id that is not indexed fails naming the id, on every path") {
    // an absent query row used to empty the probe and everything after
    // it: 0 rows and no error
    val emb = Tables.embeddings(spark, sf0001)
    val dir = java.nio.file.Files.createTempDirectory("graft_idx_q").toString
    val (cents, cb) = (Similarity.deterministicCentroids(emb, nCells = 16),
      Similarity.deterministicCodebook(emb, nCodes = 16))
    Similarity.writeIvfPqIndex(emb, cents, cb, dir, version = 4)
    val absent = 987654321L
    val fromIndex = intercept[IllegalArgumentException](Similarity.ivfPqTopKFromIndex(
      Similarity.readIvfPqIndex(spark, dir, 4), absent, k = 10).collect())
    assert(fromIndex.getMessage.contains(s"$absent") &&
      fromIndex.getMessage.contains("v=4"), fromIndex.getMessage)
    for (call <- Seq[() => Any](
        () => Similarity.ivfPqTopK(emb, absent, k = 10).collect(),
        () => Similarity.ivfPqTopK(emb, absent, k = 10, residual = true).collect(),
        () => Similarity.ivfPqTopKWith(emb, cents, cb, absent, k = 10).collect())) {
      val err = intercept[IllegalArgumentException](call())
      assert(err.getMessage.contains(s"$absent"), err.getMessage)
    }
    sources.Artifacts.deleteRecursively(new java.io.File(dir))
  }

  test("IVF-PQ serving query: at most 5 Spark jobs on a compacted index, 6 with a delta") {
    // open + top-10, as a serving call runs them: the manifest read,
    // the query row, the two quantizer reads and the one shortlist scan
    // (a committed delta adds the read of its vec_id set)
    val emb = Tables.embeddings(spark, sf0001)
    val dir = java.nio.file.Files.createTempDirectory("graft_idx_jobs").toString
    Similarity.writeIvfPqIndex(emb, Similarity.deterministicCentroids(emb, nCells = 16),
      Similarity.deterministicCodebook(emb, nCodes = 16), dir, version = 1)
    Similarity.appendIvfPqDelta(emb.filter(col("vec_id") % 17 === 0)
      .select((col("vec_id") + 2000000L).as("vec_id"), col("embedding")), dir, version = 1)
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    def jobsOf(version: Int): Int = {
      org.apache.spark.ListenerBusAccess.drain(spark.sparkContext)
      jobs.set(0)
      val rows = Similarity.ivfPqTopKFromIndex(
        Similarity.readIvfPqIndexWithDelta(spark, dir, version),
        queryId = 20, k = 10, nprobe = 4, shortlist = 50).collect()
      assert(rows.length == 10)
      org.apache.spark.ListenerBusAccess.drain(spark.sparkContext)
      jobs.get()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val withDelta = jobsOf(1)
      assert(withDelta <= 6, s"$withDelta jobs over base + delta")
      Similarity.compactIvfPqIndex(spark, dir, fromVersion = 1)
      val compacted = jobsOf(2)
      assert(compacted <= 5, s"$compacted jobs over the compacted index")
    } finally spark.sparkContext.removeSparkListener(listener)
    sources.Artifacts.deleteRecursively(new java.io.File(dir))
  }

  test("IVF-PQ serving query: a query for another id compiles no new code") {
    // the query id and norm enter the scans by reference, so after one
    // query every other id is served from the codegen cache
    val emb = Tables.embeddings(spark, sf0001)
    val dir = java.nio.file.Files.createTempDirectory("graft_idx_codegen").toString
    Similarity.writeIvfPqIndex(emb, Similarity.deterministicCentroids(emb, nCells = 16),
      Similarity.deterministicCodebook(emb, nCodes = 16), dir, version = 1)
    def top(id: Long): Seq[Long] = Similarity.ivfPqTopKFromIndex(
      Similarity.readIvfPqIndex(spark, dir, 1), queryId = id, k = 10, nprobe = 4,
      shortlist = 50).collect().map(_.getLong(0)).toSeq
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    assert(top(20).length == 10)
    val before = compiles.getCount
    val later = Seq(21L, 33L, 47L).map(top)
    assert(compiles.getCount == before, s"${compiles.getCount - before} new compiles")
    assert(later.forall(_.length == 10) && later.distinct.length == 3)
    sources.Artifacts.deleteRecursively(new java.io.File(dir))
  }

  test("kCenterCoreset: hand-computed greedy picks on 3 planar vectors") {
    // v1=(1,0) seed (lowest id). v2=(0,1): d=1 (orthogonal) — farthest,
    // picked second with radius 1. v3=(1,1): d=1−1/√2≈0.292893 to both
    // centers — picked last with that radius.
    val df = vecsDf(Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0)),
      (3L, Seq(1.0, 1.0))))
    val out = Similarity.kCenterCoreset(df, k = 3).collect()
      .map(r => (r.getInt(0), r.getLong(1),
        if (r.isNullAt(2)) Double.NaN else r.getDouble(2)))
    assert(out.map(t => (t._1, t._2)).toSeq == Seq((1, 1L), (2, 2L), (3, 3L)))
    assert(out(0)._3.isNaN) // the seed has no prior set
    assert(out(1)._3 == 1.0)
    assert(out(2)._3 == 0.292893)
  }

  test("kCenterCoreset matches a driver-side greedy reference (seeded)") {
    val rnd = new scala.util.Random(42)
    val vecs = (0 until 30).map(i =>
      i.toLong -> Seq.fill(5)(rnd.nextDouble() * 2 - 1))
    def dot(a: Seq[Double], b: Seq[Double]) =
      a.indices.foldLeft(0.0)((acc, i) => acc + a(i) * b(i))
    def nrm(a: Seq[Double]) =
      math.sqrt(a.foldLeft(0.0)((acc, x) => acc + x * x))
    def d(a: Seq[Double], b: Seq[Double]) = 1.0 - dot(a, b) / (nrm(a) * nrm(b))
    // driver replay of the exact greedy: argmax by (mind desc, id asc)
    var mind = vecs.map { case (id, v) => id -> d(v, vecs.head._2) }.toMap
    val byId = vecs.toMap
    var expect = Seq((1, 0L, Double.NaN))
    for (r <- 2 to 6) {
      // no candidate filtering: the operator keeps picked centers in the
      // state (their mind collapses to ~0 after the fold, so they never
      // win again) — the replay mirrors that exactly
      val (pid, prad) = mind.toSeq.minBy { case (id, md) => (-md, id) }
      expect :+= ((r, pid, prad))
      mind = mind.map { case (id, md) =>
        id -> math.min(md, d(byId(id), byId(pid))) }
    }
    val out = Similarity.kCenterCoreset(vecsDf(vecs), k = 6).collect()
      .map(r => (r.getInt(0), r.getLong(1),
        if (r.isNullAt(2)) Double.NaN else r.getDouble(2)))
    assert(out.map(t => (t._1, t._2)).toSeq == expect.map(t => (t._1, t._2)))
    // radii agree to the ROUND(6) the operator applies
    out.drop(1).zip(expect.drop(1)).foreach { case (got, exp) =>
      assert(math.abs(got._3 - exp._3) < 5e-7, s"$got vs $exp") }
    // greedy invariant: covering radius is non-increasing in rank
    val radii = out.drop(1).map(_._3)
    assert(radii.zip(radii.drop(1)).forall { case (a, b) => a >= b })
  }

  test("kMeansParOversample matches a driver-side replay (seeded)") {
    val rnd = new scala.util.Random(7)
    val vecs = (0 until 40).map(i =>
      i.toLong -> Seq.fill(4)(rnd.nextDouble() * 2 - 1))
    def dot(a: Seq[Double], b: Seq[Double]) =
      a.indices.foldLeft(0.0)((acc, i) => acc + a(i) * b(i))
    def nrm(a: Seq[Double]) =
      math.sqrt(a.foldLeft(0.0)((acc, x) => acc + x * x))
    def d(a: Seq[Double], b: Seq[Double]) = 1.0 - dot(a, b) / (nrm(a) * nrm(b))
    def u(r: Int, id: Long): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"kpp$r:$id".getBytes("UTF-8"))
        .map(b => f"${b & 0xff}%02x").mkString
      (java.lang.Long.parseLong(hex.substring(0, 15), 16).toDouble + 0.5) /
        1152921504606846976.0
    }
    def r6(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    val byId = vecs.toMap
    val (rounds, ell) = (3, 4)
    var mind = vecs.map { case (id, v) => id -> d(v, vecs.head._2) }.toMap
    var expect = Seq((0, 0L))
    for (r <- 1 to rounds) {
      val phi = r6(vecs.map(x => mind(x._1)).sum) // engine fold order n/a: test asserts ids only
      val picks = vecs.map(_._1).filter(id => u(r, id) < ell.toDouble * mind(id) / phi)
      expect ++= picks.sorted.map(id => (r, id))
      if (r < rounds) mind = mind.map { case (id, md) =>
        id -> picks.foldLeft(md)((acc, p) => math.min(acc, d(byId(id), byId(p)))) }
    }
    val out = Similarity.kMeansParOversample(vecsDf(vecs),
      rounds = rounds, ell = ell).collect()
    assert(out.map(r => (r.getInt(0), r.getLong(1))).toSeq == expect)
    // the classic coreset invariant: every point is assigned to exactly
    // one candidate, so the weights sum to the corpus size
    assert(out.map(_.getLong(3)).sum == vecs.size)
    assert(out.forall(_.getLong(3) >= 0L))
    // the seed carries no draw distance; every drawn candidate does
    assert(out.head.isNullAt(2) && out.drop(1).forall(!_.isNullAt(2)))
  }

  test("selectionCoverage: hand-computed stats on the planar fixture") {
    // centers {1,2}: v1/(1,0) and v2/(0,1) cover themselves at ~0 and
    // v3=(1,1) at 1−1/√2 ≈ 0.292893 — the covering radius; mean =
    // 0.292893/3; p90 interpolates 0.8 of the way to the max
    val df = vecsDf(Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0)),
      (3L, Seq(1.0, 1.0))))
    val s = spark
    import s.implicits._
    val r = Similarity.selectionCoverage(df, Seq(1L, 2L).toDF("vec_id"))
      .collect()(0)
    assert(r.getAs[Long]("n_points") == 3L)
    assert(r.getAs[Long]("n_centers") == 2L)
    assert(r.getAs[Double]("radius_max") == 0.292893)
    assert(math.abs(r.getAs[Double]("dist_mean") - 0.097631) < 2e-6)
    assert(math.abs(r.getAs[Double]("dist_p90") - 0.234315) < 2e-6)
  }

  test("kMeansParReduce matches a driver-side weighted k-means++ replay (seeded)") {
    val rnd = new scala.util.Random(13)
    val vecs = (0 until 30).map(i =>
      i.toLong -> Seq.fill(4)(rnd.nextDouble() * 2 - 1))
    // hand-specified weighted candidate set (a subset of the corpus)
    val cands = Seq(2L -> 7L, 5L -> 1L, 9L -> 12L, 14L -> 3L, 17L -> 0L,
      21L -> 9L, 26L -> 5L)
    def dot(a: Seq[Double], b: Seq[Double]) =
      a.indices.foldLeft(0.0)((acc, i) => acc + a(i) * b(i))
    def nrm(a: Seq[Double]) =
      math.sqrt(a.foldLeft(0.0)((acc, x) => acc + x * x))
    def d(a: Seq[Double], b: Seq[Double]) = 1.0 - dot(a, b) / (nrm(a) * nrm(b))
    def u(r: Int): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"kpr$r".getBytes("UTF-8"))
        .map(b => f"${b & 0xff}%02x").mkString
      (java.lang.Long.parseLong(hex.substring(0, 15), 16).toDouble + 0.5) /
        1152921504606846976.0
    }
    val byId = vecs.toMap
    val k = 4
    // driver replay: round 1 ∝ weight, rounds 2..k ∝ floor(w·mind·1e6)
    var expect = Seq.empty[(Int, Long, Double)]
    val seedId = {
      val tot = cands.map(_._2).sum
      val cums = cands.sortBy(_._1).scanLeft((0L, 0L)) {
        case ((_, c), (id, w)) => (id, c + w) }.drop(1)
      cums.find { case (_, c) => c.toDouble > u(1) * tot.toDouble }.get._1
    }
    expect :+= ((1, seedId, Double.NaN))
    var mind = cands.map { case (id, _) => id -> d(byId(id), byId(seedId)) }.toMap
    for (r <- 2 to k) {
      val q = cands.map { case (id, w) =>
        id -> math.floor((w.toDouble * mind(id)) * 1e6).toLong }
      val tot = q.map(_._2).sum
      val cums = q.sortBy(_._1).scanLeft((0L, 0L)) {
        case ((_, c), (id, qi)) => (id, c + qi) }.drop(1)
      val pick = cums.find { case (_, c) => c.toDouble > u(r) * tot.toDouble }.get._1
      expect :+= ((r, pick, mind(pick)))
      mind = mind.map { case (id, m) =>
        id -> math.min(m, d(byId(id), byId(pick))) }
    }
    val s = spark; import s.implicits._
    val out = Similarity.kMeansParReduce(vecsDf(vecs),
      cands.toDF("vec_id", "weight"), k = k).collect()
    assert(out.map(r => (r.getInt(0), r.getLong(1))).toSeq ==
      expect.map(t => (t._1, t._2)))
    // dist: NULL seed, ROUND(6) of mind-at-pick for the rest
    assert(out.head.isNullAt(2))
    out.drop(1).zip(expect.drop(1)).foreach { case (got, exp) =>
      assert(math.abs(got.getDouble(2) - exp._3) < 5e-7) }
    // weights are the input weights, joined back
    val wById = cands.toMap
    assert(out.forall(r => r.getLong(3) == wById(r.getLong(1))))
    // exclusion falls out of the arithmetic: no candidate picked twice
    assert(out.map(_.getLong(1)).distinct.length == out.length)
  }

  test("kMeansParReduce: degenerate input collapses instead of repeating picks") {
    val s = spark; import s.implicits._
    // one distinct geometry: after the seed every potential floors to 0,
    // the draw finds nothing and the state collapses through the one-row
    // crossJoin — the bpeTrain stance, mirrored by the oracle
    val vecs = Seq(3L -> Seq(1.0, 2.0, 3.0))
    val out = Similarity.kMeansParReduce(vecsDf(vecs),
      Seq(3L -> 5L).toDF("vec_id", "weight"), k = 3).collect()
    assert(out.map(r => (r.getInt(0), r.getLong(1))).toSeq == Seq((1, 3L)))
  }

  test("kMeansParOversample: a saturating ell drafts the whole corpus in round 1") {
    val rnd = new scala.util.Random(11)
    val vecs = (0 until 12).map(i =>
      i.toLong -> Seq.fill(3)(rnd.nextDouble() + 0.1))
    val out = Similarity.kMeansParOversample(vecsDf(vecs), rounds = 1,
      ell = 100000).collect()
    // every point with positive distance-to-seed is drawn (u < ell·mind/φ
    // saturates); only the seed itself (mind ≈ 0) stays out of round 1
    assert(out.length >= vecs.size) // seed + all positive-mind points
    assert(out.map(_.getLong(3)).sum == vecs.size)
  }

  private def ranked(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
    df.select("vec_id", "cos").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  private def messages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")

  test("exact-cosine kernel: every caller with a whole-corpus candidate set equals brute force") {
    val emb = Tables.embeddings(spark, sf0001)
    val n = emb.count().toInt
    val want = ranked(Similarity.bruteForceTopK(emb, queryId = 20, k = 10))
    val oneCentroid = emb.filter(col("vec_id") === 0L)
      .select(lit(0L).as("cell"), Similarity.toDoubleArray(col("embedding")).as("cv"))
    val cases = Seq(
      "ivfTopK(nCells = 1)" -> Similarity.ivfTopK(emb, 20, 10, nCells = 1),
      "ivfTopKWith(one centroid)" -> Similarity.ivfTopKWith(emb, oneCentroid, 20, 10),
      "ivfFilteredTopK(lit(true), nCells = 1)" ->
        Similarity.ivfFilteredTopK(emb, 20, 10, lit(true), Nil, nCells = 1),
      "ivfTopKIndexed(every vector in cell 0)" -> Similarity.ivfTopKIndexed(emb,
        emb.select(col("vec_id"), lit(0L).as("cell")), 20, 10),
      // one plane: the query bucket and its one-bit flip are both buckets
      "lshTopKMultiprobe(planes = 1)" ->
        Similarity.lshTopKMultiprobe(emb, 20, 10, planes = 1),
      "binaryTopK(shortlist = n)" -> Similarity.binaryTopK(emb, 20, 10, shortlist = n))
    assert(want.length == 10)
    for ((name, got) <- cases) assert(ranked(got) == want, name)
  }

  test("whitenedTopK equals a driver-side whitened brute-force ranking") {
    val emb = Tables.embeddings(spark, sf0001)
    val stats = Similarity.whitenStats(emb).collect()
    val mus = stats.map(_.getAs[Double]("mu"))
    val sds = stats.map(_.getAs[Double]("sd"))
    val all = emb.select("vec_id", "embedding").collect().map(r => r.getLong(0) ->
      r.getSeq[Float](1).map(_.toDouble).zipWithIndex
        .map { case (x, i) => (x - mus(i)) / sds(i) }.toArray)
    // the engine's ascending left fold
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0
      var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    val q = all.find(_._1 == 20L).get._2
    val want = all.filter(_._1 != 20L)
      .map { case (id, w) => id -> BigDecimal(dot(w, q) /
        (math.sqrt(dot(w, w)) * math.sqrt(dot(q, q))))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble }
      .sortBy { case (id, c) => (-c, id) }.take(10).toSeq
    assert(ranked(Similarity.whitenedTopK(emb, queryId = 20, k = 10)) == want)
  }

  test("LSH and binary search fail on vectors that are not dim long") {
    val short = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), slice(col("embedding"), 1, 32).as("embedding"))
    val searches = Seq[(String, () => Unit)](
      "lshTopK" -> (() => Similarity.lshTopK(short, 20, 10).collect()),
      "lshTopKMultiprobe" -> (() => Similarity.lshTopKMultiprobe(short, 20, 10).collect()),
      "lshNearDupPairs" -> (() => Similarity.lshNearDupPairs(short, threshold = -2).collect()),
      "binaryTopK" -> (() => Similarity.binaryTopK(short, 20, 10).collect()))
    for ((name, run) <- searches) {
      val msg = messages(intercept[Exception](run()))
      assert(msg.contains("has 32 dims") && msg.contains("dim = 64"), s"$name: $msg")
    }
  }

  test("recall harnesses fail on a panel id that is not in the corpus") {
    val emb = Tables.embeddings(spark, sf0001)
    val harnesses = Seq[(String, Seq[Long] => Unit)](
      "annRecallIvf" -> (ids => Similarity.annRecallIvf(emb, ids, k = 10)),
      "annRecallIvfPq" -> (ids => Similarity.annRecallIvfPq(emb, ids, k = 10)))
    for ((name, harness) <- harnesses) {
      val err = intercept[IllegalArgumentException](harness(Seq(20L, 999999L)))
      assert(err.getMessage.contains("999999"), s"$name: ${err.getMessage}")
    }
  }
}
