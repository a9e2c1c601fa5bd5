package graft

import org.apache.spark.ml.feature.{CountVectorizer, IDF, NGram, RegexTokenizer}
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.Sentiment
import graft.ml.Representatives

class RepresentativesSpec extends SparkSpec {

  private val classes = Seq("NEGATIVE", "NEUTRAL", "POSITIVE")

  test("V2/V3 invariants: ≤k reps per class, one per cluster, sizes add up") {
    val scored = Sentiment.score(Tables.documents(spark, sf0001))
    val classSizes = scored.groupBy("sentiment").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val reps = Representatives.representatives(scored, k = 10).collect()
    assert(reps.nonEmpty)
    for ((cls, n) <- classSizes) {
      val classReps = reps.filter(_.getAs[String]("sentiment") == cls)
      if (n < 10) {
        // small-input bypass (ref :87-133): every doc is its own representative
        assert(classReps.length == n)
        assert(classReps.forall(_.getAs[Int]("cluster_id") == 0))
        assert(classReps.forall(_.getAs[Long]("cluster_size") == n))
      } else {
        assert(classReps.length <= 10)
        // one representative per cluster
        val ids = classReps.map(_.getAs[Int]("cluster_id"))
        assert(ids.distinct.length == ids.length)
        // cluster sizes partition the class
        assert(classReps.map(_.getAs[Long]("cluster_size")).sum == n)
      }
    }
  }

  test("all classes empty: returns an empty, correctly-typed frame (no crash)") {
    val s = spark
    import s.implicits._
    val empty = Seq.empty[(Long, String, Double, String)]
      .toDF("doc_id", "text", "confidence", "sentiment")
    val reps = Representatives.representatives(empty)
    assert(reps.columns.toSeq ==
      Seq("sentiment", "doc_id", "text", "confidence", "cluster_id", "cluster_size"))
    assert(reps.count() == 0)
  }

  test("one Spark job per call over a cached scored frame, no cache left behind") {
    import org.apache.spark.sql.graftbridge.CacheBridge
    spark.catalog.clearCache()
    val scored = Sentiment.score(Tables.documents(spark, sf0001)).persist()
    scored.count()
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      org.apache.spark.ListenerBusAccess.drain(spark.sparkContext)
      jobs.set(0)
      // the collect of the local result runs no job of its own
      assert(Representatives.representatives(scored).collect().nonEmpty)
      org.apache.spark.ListenerBusAccess.drain(spark.sparkContext)
      assert(jobs.get() <= 1, s"${jobs.get()} Spark jobs for one call")
    } finally spark.sparkContext.removeSparkListener(listener)
    scored.unpersist(blocking = true)
    assert(CacheBridge.noCachedPlans(spark), "representatives left a cached plan")
  }

  test("the fit depends on the data and the seed alone, not on the partition layout") {
    val scored = Sentiment.score(Tables.documents(spark, sf0001)).persist()
    def reps(df: DataFrame) = Representatives.representatives(df).collect().toSeq
    val first = reps(scored)
    assert(first.nonEmpty)
    assert(reps(scored) == first)
    assert(reps(scored.repartition(7)) == first)
    assert(reps(scored.coalesce(1)) == first)
    scored.unpersist()
  }

  test("V1 features equal MLlib's RegexTokenizer + NGram(2) + CountVectorizer + IDF") {
    val scored = Sentiment.score(Tables.documents(spark, sf0001))
      .select("sentiment", "doc_id", "text").persist()
    var fitted = 0
    for (cls <- classes) {
      val sub = scored.filter(col("sentiment") === cls).select("doc_id", "text")
      val rows = sub.collect().map(r => (r.getLong(0), r.getString(1))).sortBy(identity)
      val n = rows.length
      if (n >= 10) {
        fitted += 1
        val f = Representatives.features(rows.map(_._2).toIndexedSeq)
        val toks = new NGram().setN(2).setInputCol("toks").setOutputCol("bigrams")
          .transform(new RegexTokenizer().setInputCol("text").setOutputCol("toks")
            .setPattern("\\s+").transform(sub))
          .withColumn("terms", concat(col("toks"), col("bigrams")))
        val cv = new CountVectorizer().setInputCol("terms").setOutputCol("tf")
          .setVocabSize(1000).setMinDF(4).setMaxDF(0.8 * n).fit(toks)
        val tf = cv.transform(toks)
        val idf = new IDF().setInputCol("tf").setOutputCol("features").fit(tf)
        assert(f.vocab.toSet == cv.vocabulary.toSet, s"$cls: vocabulary")
        val mlIdf = cv.vocabulary.zip(idf.idf.toArray).toMap
        for ((t, x) <- f.vocab.zip(f.idf)) assert(x == mlIdf(t), s"$cls: idf of '$t'")
        val ml = idf.transform(tf).select("doc_id", "features").collect().map { r =>
          val m = scala.collection.mutable.Map.empty[String, Double]
          r.getAs[Vector](1).foreachActive((j, x) => m(cv.vocabulary(j)) = x)
          r.getLong(0) -> m.toMap
        }.toMap
        for (((id, _), i) <- rows.zipWithIndex) {
          val mine = f.idx(i).map(f.vocab(_)).zip(f.vals(i)).toMap
          assert(mine.keySet == ml(id).keySet, s"$cls: terms of doc $id")
          for ((t, x) <- mine)
            assert(math.abs(x - ml(id)(t)) <= 1e-12, s"$cls: tf-idf of '$t' in doc $id")
        }
      }
    }
    assert(fitted > 0, "no class with n >= 10 at sf0.001")
    scored.unpersist()
  }

  test("V2/V3 quality: three planted disjoint topics form three clusters of 20, one rep each") {
    val s = spark
    import s.implicits._
    val topics = Seq(
      Seq("battery", "charger", "voltage", "cable"),
      Seq("pizza", "cheese", "oven", "crust"),
      Seq("goal", "striker", "keeper", "pitch"))
    // doc_id % 3 is the topic; each doc ends in one of two topic words
    // (DF 10), so a topic is tight next to the distance between topics
    val docs = for (i <- 0 until 20; t <- topics.indices)
      yield ((i * 3 + t).toLong, (topics(t) :+ s"${topics(t).head}${i % 2}").mkString(" "),
        0.9, "POSITIVE")
    val df = docs.toDF("doc_id", "text", "confidence", "sentiment")
    for (seed <- Seq(42L, 1L, 7L)) {
      val reps = Representatives.representatives(df, k = 3, seed = seed).collect()
      assert(reps.map(_.getAs[Long]("cluster_size")).toSeq == Seq(20L, 20L, 20L), s"seed $seed")
      assert(reps.map(_.getAs[Long]("doc_id") % 3).toSet == Set(0L, 1L, 2L), s"seed $seed")
    }
  }
}
