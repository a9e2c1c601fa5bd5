package graft

import org.apache.spark.sql.functions._
import graft.operators.Analytics

class AnalyticsSpec extends SparkSpec {

  /** Scored rows with a confidence tie in POSITIVE (docs 1 and 2) and in
    * NEUTRAL (docs 7 and 6, listed higher id first): the lower doc_id wins. */
  private def tiedScored = {
    val s = spark
    import s.implicits._
    Seq(
      (2L, "fast shipping great seller", "POSITIVE", 0.9, 0.7, 120),
      (1L, "solid build quality overall", "POSITIVE", 0.9, 0.8, 250),
      (3L, "works", "POSITIVE", 0.7, 0.6, 40),
      (4L, "broke after a week", "NEGATIVE", 0.8, 0.1, 300),
      (7L, "fine i suppose", "NEUTRAL", 0.65, 0.4, 205),
      (5L, "meh", "NEUTRAL", 0.55, 0.5, 210),
      (6L, "ok i guess", "NEUTRAL", 0.65, 0.45, 90))
      .toDF("doc_id", "text", "sentiment", "confidence", "original_score", "n_chars")
  }

  test("argmaxPerGroup: highest confidence per class, ties to the lower doc_id") {
    val df = Analytics.argmaxPerGroup(tiedScored)
    assert(df.schema.catalogString == "struct<sentiment:string,doc_id:bigint,confidence:double>")
    assert(df.collect().map(_.toString).toSeq ==
      Seq("[NEGATIVE,4,0.8]", "[NEUTRAL,6,0.65]", "[POSITIVE,1,0.9]"))
  }

  test("confidenceStats: pinned single row over the tie sample") {
    val df = Analytics.confidenceStats(tiedScored, col("n_chars") >= 200)
    assert(df.schema.catalogString == "struct<total_samples:bigint,avg_confidence:double," +
      "std_confidence:double,min_confidence:double,max_confidence:double," +
      "avg_original_score:double,candidates_count:bigint>")
    assert(df.collect().map(_.toString).toSeq ==
      Seq("[7,0.735714,0.134519,0.55,0.9,0.507143,4]"))
  }

  test("performanceSummary: pinned nested row over the tie sample") {
    val df = Analytics.performanceSummary(tiedScored, col("n_chars") >= 200)
    assert(df.schema.catalogString == "struct<total_samples:bigint," +
      "sentiment_distribution:struct<POSITIVE:bigint,NEGATIVE:bigint,NEUTRAL:bigint>," +
      "score_distribution:struct<avg_original_score:double," +
      "avg_sentiment_confidence:double,candidates_count:bigint>," +
      "confidence_stats:struct<mean:double,std:double,min:double,max:double>>")
    assert(df.collect().map(_.toString).toSeq ==
      Seq("[7,[3,1,3],[0.507143,0.735714,4],[0.735714,0.134519,0.55,0.9]]"))
  }

  test("A7 histogram: fixed-width bins, max value lands in last bin") {
    val s = spark
    import s.implicits._
    val df = (0 until 10).map(_.toDouble).toDF("x")
    val out = Analytics.histogram(df, "x", 5).collect()
      .map(r => r.getAs[Long]("bin") -> r.getAs[Long]("cnt")).toMap
    assert(out == Map(0L -> 2L, 1L -> 2L, 2L -> 2L, 3L -> 2L, 4L -> 2L))
  }

  test("per-group histogram: bins partition each group's rows") {
    val s = spark
    import s.implicits._
    val df = ((0 until 10).map(i => ("a", i.toDouble)) ++ Seq(("b", 5.0), ("b", 5.0)))
      .toDF("g", "x")
    val out = Analytics.histogramPerGroup(df, "g", "x", 5).collect()
      .map(r => (r.getString(0), r.getAs[Long]("bin"), r.getAs[Long]("cnt")))
    assert(out.filter(_._1 == "a").map(_._3).sum == 10)
    assert(out.filter(_._1 == "b").toSeq == Seq(("b", 0L, 2L))) // degenerate group → bin 0
  }

  test("approx distinct tracks exact within the configured error bound") {
    val out = Analytics.distinctCounts(Tables.events(spark, sf0001), "event_type", "user_id")
      .collect()
    assert(out.nonEmpty)
    for (r <- out) {
      val exact = r.getAs[Long]("exact_distinct").toDouble
      val approx = r.getAs[Long]("approx_distinct").toDouble
      assert(math.abs(approx - exact) / exact <= 0.15, s"approx $approx vs exact $exact")
    }
  }

  test("approx percentiles track exact within sketch accuracy") {
    val out = Analytics.quantiles(Tables.lineitem(spark, sf0001), "l_returnflag",
      "l_extendedprice", Seq(0.25, 0.5, 0.75)).collect()
    assert(out.nonEmpty)
    for (r <- out; p <- Seq("25", "50", "75")) {
      val exact = r.getAs[Double](s"p$p")
      val approx = r.getAs[Double](s"approx_p$p")
      // accuracy 10000 → rank error <= n/10000; values are well-spread, so
      // a loose 5% relative bound suffices as a sketch sanity check
      assert(math.abs(approx - exact) / math.abs(exact) <= 0.05,
        s"p$p approx $approx vs exact $exact")
    }
  }

  test("bloom-prefiltered join: row-identical to the plain join, filter precedes it") {
    val s = spark
    import s.implicits._
    val fact = (1L to 500L).map(i => (i, i % 50, i * 0.5)).toDF("rid", "k", "v")
    val dim = Seq((3L, "a"), (17L, "b"), (42L, "c")).toDF("dk", "name")
    val bloomed = Analytics.bloomPrefilterJoin(fact, dim, "k", "dk")
    val plain = fact.join(dim, col("k") === col("dk"))
    assert(bloomed.collect().map(_.toSeq).sorted(Ordering.by((x: Seq[Any]) => x.toString))
      .sameElements(plain.collect().map(_.toSeq).sorted(Ordering.by((x: Seq[Any]) => x.toString))))
    // the might_contain filter must sit below the equi join in the plan
    val p = bloomed.queryExecution.executedPlan.toString
    assert(p.contains("might_contain"), p)
    assert(p.indexOf("might_contain") > p.indexOf("HashJoin"), p) // plan prints top-down
  }

  test("withGlobalRank: all-NULL range column degrades to one bucket, ranks stay correct") {
    val s = spark
    import s.implicits._
    val df = (1L to 20L).map(i => (i, Option.empty[Double])).toDF("doc_id", "score")
    val out = Analytics.withGlobalRank(df, "score",
      Seq(col("score").asc, col("doc_id").asc), "rnk")
    val got = out.select("doc_id", "rnk").collect()
      .map(r => (r.getLong(0), r.getAs[Number]("rnk").longValue)).toSet
    assert(got == (1L to 20L).map(i => (i, i)).toSet)
  }

  test("A4/A5 trends: totals reconcile with the events table") {
    val trends = Analytics.dailyTrends(Tables.events(spark, sf0001))
    val summary = Analytics.trendsSummary(trends).collect()(0)
    assert(summary.getAs[Long]("total_reviews") == 1000L)
    assert(summary.getAs[Long]("total_positive") + summary.getAs[Long]("total_negative") +
      summary.getAs[Long]("total_neutral") == 1000L)
    assert(summary.getAs[String]("start_date") <= summary.getAs[String]("end_date"))
  }

  test("upsert by key: updates replace, new keys append, unmatched base survives") {
    val s = spark
    import s.implicits._
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val updates = Seq((2L, "B2"), (9L, "new")).toDF("k", "v")
    val out = graft.operators.Analytics.upsertByKey(base, updates, "k")
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(out == Seq((1L, "a"), (2L, "B2"), (3L, "c"), (9L, "new")))
    // idempotent: upserting the same updates again changes nothing
    val again = graft.operators.Analytics.upsertByKey(
      graft.operators.Analytics.upsertByKey(base, updates, "k"), updates, "k")
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(again == out)
  }

  test("U2 dedup keeps first occurrence with dup count") {
    val docs = df1(Seq(
      (5L, "this text appears more than once here"),
      (2L, "this text appears more than once here"),
      (9L, "a unique and sufficiently long text entry")))
    val out = Analytics.dedupFirstOccurrence(docs, "text", "doc_id")
      .collect().map(r => (r.getAs[Long]("first_id"), r.getAs[Long]("n_dups")))
    assert(out.toSet == Set((2L, 2L), (9L, 1L)))
  }

  test("A8 word frequency: stoplist and short words removed") {
    val docs = df1(Seq((1L, "the the the banana banana it is of a xy")))
    val words = Analytics.topWords(docs, "text", 10).collect()
      .map(r => r.getAs[String]("word") -> r.getAs[Long]("cnt")).toMap
    assert(words == Map("banana" -> 2L))
  }

  test("A9 top-k per group respects group boundaries and tiebreaks") {
    val s = spark
    import s.implicits._
    val df = Seq(("g1", "b", 5L), ("g1", "a", 5L), ("g1", "c", 1L), ("g2", "z", 9L))
      .toDF("g", "w", "cnt")
    val out = Analytics.topKPerGroup(df, Seq("g"), Seq(col("cnt").desc, col("w")), 2)
      .select("g", "w", "rn").collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    assert(out == Set(("g1", "a", 1), ("g1", "b", 2), ("g2", "z", 1)))
  }

  test("NULL group keys survive the broadcast-bounds join-back") {
    val s = spark
    import s.implicits._
    // round-3 used a plain inner equi-join on the group column, which
    // silently dropped NULL-group rows; Window.partitionBy semantics keep
    // them as their own group
    val df = Seq((Some("a"), 1.0), (Some("a"), 3.0), (None, 10.0), (None, 20.0))
      .toDF("g", "x")
    val norm = Analytics.normalizeScores(df, "x", "g")
      .select("g", "normalized_score").collect()
      .map(r => (Option(r.getString(0)), r.getDouble(1))).toSet
    assert(norm == Set((Some("a"), 0.0), (Some("a"), 1.0), (None, 0.0), (None, 1.0)))
    val hist = Analytics.histogramPerGroup(df, "g", "x", 2).collect()
      .map(r => (Option(r.getString(0)), r.getLong(1), r.getLong(2)))
    assert(hist.count(_._1.isEmpty) == 2) // NULL group binned, not dropped
  }
  test("funnel: stage order enforced, out-of-order users drop out") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    def t(sec: Long) = new java.sql.Timestamp(1700000000000L + sec * 1000)
    // A: view->click->purchase in order; B: click BEFORE view (drops at
    // stage 2), later purchase ignored too; C: view only
    val df = Seq(
      (1L, "A", "view", t(0)), (2L, "A", "click", t(10)), (3L, "A", "purchase", t(20)),
      (4L, "B", "click", t(0)), (5L, "B", "view", t(10)), (6L, "B", "purchase", t(20)),
      (7L, "C", "view", t(0)))
      .toDF("event_id", "user_id", "event_type", "ts")
    val out = operators.Analytics.funnel(df, Seq("view", "click", "purchase"))
      .collect().map(r => r.getInt(0) -> ((r.getString(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1) == (("view", 3L, 1.0)))
    // B clicked before viewing -> no click after first view... B's click
    // at t0 < view t10, so B drops; but B purchased after view? purchase
    // needs a click AFTER the view first - B has none
    assert(out(2) == (("click", 1L, 0.333333)))
    assert(out(3) == (("purchase", 1L, 0.333333)))
  }

  test("retentionCohorts: offset-0 cell equals cohort size, counts distinct users") {
    val s = spark
    import s.implicits._
    def t(day: Int) = new java.sql.Timestamp(1700000000000L + day * 86400000L)
    // A,B first on day 0 (A returns day 1 twice -> counted once); C on day 1
    val df = Seq(
      (1L, "A", t(0)), (2L, "B", t(0)), (3L, "A", t(1)), (4L, "A", t(1)),
      (5L, "C", t(1)))
      .toDF("event_id", "user_id", "ts")
    val out = operators.Analytics.retentionCohorts(df)
      .collect().map(r => (r.getString(0), r.getInt(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    val d0 = out.keys.map(_._1).min
    assert(out((d0, 0)) == ((2L, 2L, 1.0)))     // A+B on their first day
    assert(out((d0, 1)) == ((1L, 2L, 0.5)))     // only A returned
    assert(out.count(_._1._1 != d0) == 1)       // C's cohort: one offset-0 row
  }

  test("rfmScores: quintiles match SQL ntile, recency inverted") {
    val s = spark
    import s.implicits._
    def t(day: Int) = new java.sql.Timestamp(1700000000000L + day * 86400000L)
    // 5 customers, strictly increasing frequency/monetary/recentness by id
    val rows = (1 to 5).flatMap { c =>
      (0 until c).map(i => (c * 100L + i, c.toLong, "O", c * 100.0, t(c)))
    }
    val df = rows.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate")
    val out = operators.Analytics.rfmScores(df).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(4), r.getInt(5), r.getInt(6), r.getInt(7)))).toMap
    // cust 5: most recent (recency 0), most frequent, biggest spender -> 555
    assert(out(5L) == ((0, 5, 5, 5, 555)))
    // cust 1: oldest (recency 4), least frequent, least spend -> 111
    assert(out(1L) == ((4, 1, 1, 1, 111)))
    assert(out(3L)._5 == 333)
  }

  test("scd2History: consecutive equal statuses collapse, valid_to chains") {
    val s = spark
    import s.implicits._
    def t(day: Int) = new java.sql.Timestamp(1700000000000L + day * 86400000L)
    val df = Seq(
      (1L, 7L, "O", t(0)), (2L, 7L, "O", t(1)), (3L, 7L, "F", t(2)),
      (4L, 7L, "O", t(3)), (5L, 8L, "P", t(0)))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate")
    val out = operators.Analytics.scd2History(df, "o_custkey", "o_orderstatus",
      "o_orderdate", "o_orderkey").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        Option(r.getString(4)).isDefined))
    // cust 7: O (days 0-1) -> F (day 2) -> O (day 3, current)
    assert(out.filter(_._1 == 7L).map(x => (x._2, x._3, x._4)).toSeq ==
      Seq((1, "O", true), (2, "F", true), (3, "O", false)))
    assert(out.filter(_._1 == 8L).map(x => (x._2, x._3, x._4)).toSeq ==
      Seq((1, "P", false)))
  }

  test("zscoreAnomalies: spike flagged against trailing window, warmup rows unflagged") {
    val s = spark
    import s.implicits._
    def t(day: Int, i: Int) = new java.sql.Timestamp(1704067200000L + day * 86400000L + i * 1000)
    // days 0-6: 2 events/day; day 7: 10 events (spike, z = (10-2)/0 .. std 0)
    // -> make trailing counts vary: days 0-6 alternate 2 and 3
    val rows = (0 to 6).flatMap(d => (0 until (if (d % 2 == 0) 2 else 3)).map(i => ("click", t(d, i)))) ++
      (0 until 10).map(i => ("click", t(7, i)))
    val out = operators.Analytics.zscoreAnomalies(rows.toDF("event_type", "ts"))
      .collect().map(r => r.getString(1) ->
        ((r.getLong(2), Option(r.get(4)).map(_.asInstanceOf[Double]), r.getBoolean(5)))).toMap
    val days = out.keys.toSeq.sorted
    assert(out(days.head) == ((2L, None, false)))      // no trailing frame
    assert(out(days(1))._2.isEmpty)                    // 1 trailing day -> stddev NULL
    val (cnt, z, flag) = out(days.last)
    assert(cnt == 10L && flag, s"spike day: cnt=$cnt z=$z")
    // trailing 7 days: 2,3,2,3,2,3,2 -> mean 17/7, std_samp ~0.534523
    assert(math.abs(z.get - (10.0 - 17.0 / 7) / 0.5345224838248488) < 1e-4)
  }

  test("mergeAggState: incremental merge equals full recompute") {
    val s = spark
    import s.implicits._
    val snap = Seq(("a", 1.0), ("a", 2.0), ("b", 5.0)).toDF("k", "v")
    val batch = Seq(("a", 4.0), ("c", 7.0)).toDF("k", "v")
    val merged = operators.Analytics.mergeAggState(snap, batch, "k", "v")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(merged("a") == ((3L, 7.0, 2.333333)))
    assert(merged("b") == ((1L, 5.0, 5.0)))
    assert(merged("c") == ((1L, 7.0, 7.0)))
  }

  test("transitionMatrix: counts ordered pairs per user, rows sum to 1 per source") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    def t(sec: Long) = new java.sql.Timestamp(1700000000000L + sec * 1000)
    val df = Seq(
      (1L, "A", "view", t(0)), (2L, "A", "click", t(1)), (3L, "A", "view", t(2)),
      (4L, "B", "view", t(0)), (5L, "B", "click", t(1)))
      .toDF("event_id", "user_id", "event_type", "ts")
    val out = operators.Analytics.transitionMatrix(df)
      .collect().map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getDouble(3)))).toMap
    // transitions: A view->click, click->view; B view->click
    assert(out(("view", "click")) == ((2L, 1.0)))
    assert(out(("click", "view")) == ((1L, 1.0)))
    assert(out.size == 2)
  }

  test("withGlobalRankByKey: matches single-window row_number on a string key") {
    val s = spark
    import s.implicits._
    // keys deliberately unsorted, with duplicates (tiebreak on id)
    val df = Seq(("pear", 3L), ("apple", 7L), ("pear", 1L), ("apple", 2L),
      ("fig", 5L), ("banana", 4L)).toDF("k", "id")
    val got = Analytics.withGlobalRankByKey(df, Seq(col("k"), col("id")), "rk")
      .collect().map(r => (r.getAs[String]("k"), r.getAs[Long]("id")) -> r.getAs[Long]("rk")).toMap
    val want = Seq(("apple", 2L), ("apple", 7L), ("banana", 4L), ("fig", 5L),
      ("pear", 1L), ("pear", 3L)).zipWithIndex.map { case (k, i) => k -> (i + 1L) }.toMap
    assert(got == want)
  }

  test("paretoFrontier2D: equals brute-force dominance, keeps tied duplicates") {
    val s = spark
    import s.implicits._
    // includes: duplicate frontier point (1.0, 5) twice -> both survive;
    // same-price dominated (1.0, 3); cheaper-smaller frontier point (0.5, 2);
    // dominated interior (2.0, 4); larger-but-pricier frontier (3.0, 9)
    val rows = Seq((1L, 1.0, 5), (2L, 1.0, 5), (3L, 1.0, 3), (4L, 0.5, 2),
      (5L, 2.0, 4), (6L, 3.0, 9), (7L, 0.5, 1))
    val df = rows.toDF("id", "price", "size")
    val got = Analytics.paretoFrontier2D(df, "price", "size")
      .select("id").collect().map(_.getLong(0)).toSet
    val want = rows.filter { case (_, p, sz) =>
      !rows.exists { case (_, p2, sz2) =>
        p2 <= p && sz2 >= sz && (p2 < p || sz2 > sz) }
    }.map(_._1).toSet
    assert(got == want && want == Set(1L, 2L, 4L, 6L))
  }

  test("holtForecast: hand-unrolled recurrence, single-day degenerate, gap ordering") {
    val s = spark
    import s.implicits._
    def t(day: Int) = new java.sql.Timestamp(1700000000000L + day * 86400000L)
    // type A: days with counts 4, 2, 6 (delivered out of order — the
    // sort_array must order the series, not arrival). Hand fold (α=.5,
    // β=.25): l0=4,b0=0; l1=.5*2+.5*4=3, b1=.25*(-1)=-0.25;
    // l2=.5*6+.5*2.75=4.375, b2=.25*1.375+.75*(-.25)=0.15625
    val ev = (Seq.fill(6)(("A", t(2))) ++ Seq.fill(4)(("A", t(0))) ++
      Seq.fill(2)(("A", t(1))) ++ Seq(("B", t(0))))
      .toDF("event_type", "ts")
    val out = Analytics.holtForecast(ev).collect()
      .map(r => r.getString(0) -> ((r.getInt(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))).toMap
    assert(out("A") == ((3, 4.375, 0.15625, 4.53125, 5.46875)))
    // single observation: level = y0, zero trend, flat forecasts
    assert(out("B") == ((1, 1.0, 0.0, 1.0, 1.0)))
  }

  test("abZTest: hand-computed pooled z, per-user dedup, significance boundary") {
    val s = spark
    import s.implicits._
    // arm A (even ids): 4 users, 1 converts; arm B (odd): 4 users, 3 convert.
    // user 0 purchases TWICE — conversion is per-user, not per-event
    val ev = Seq((0L, "purchase"), (0L, "purchase"), (2L, "view"),
      (4L, "view"), (6L, "view"),
      (1L, "purchase"), (3L, "purchase"), (5L, "purchase"), (7L, "view"))
      .toDF("user_id", "event_type")
    val r = Analytics.abZTest(ev, "user_id",
      org.apache.spark.sql.functions.pmod(col("user_id"),
        org.apache.spark.sql.functions.lit(2)),
      col("event_type") === "purchase").collect().head
    assert(r.getAs[Long]("n_a") == 4L && r.getAs[Long]("conv_a") == 1L)
    assert(r.getAs[Long]("n_b") == 4L && r.getAs[Long]("conv_b") == 3L)
    // p=0.5 pooled, se = sqrt(.5*.5*(1/4+1/4)) = sqrt(0.125); z=(0.75-0.25)/se
    val z = 0.5 / math.sqrt(0.125)
    assert(r.getAs[Double]("z") == math.round(z * 1e6) / 1e6)
    assert(!r.getAs[Boolean]("significant")) // z ≈ 1.414 < 1.96
    // degenerate experiment: everyone converts -> zero pooled variance ->
    // NULL z and a calm not-significant verdict, never a task kill
    val all = Seq((0L, "purchase"), (1L, "purchase")).toDF("user_id", "event_type")
    val d = Analytics.abZTest(all, "user_id",
      org.apache.spark.sql.functions.pmod(col("user_id"),
        org.apache.spark.sql.functions.lit(2)),
      col("event_type") === "purchase").collect().head
    assert(d.isNullAt(d.fieldIndex("z")) && !d.getAs[Boolean]("significant"))
  }

  test("pairLift: support/conf/lift arithmetic, Apriori prune, basket cap") {
    val s = spark
    import s.implicits._
    // 4 baskets; x,y co-occur in 2; z appears once (infrequent at 0.3)
    val df = Seq((1L, "x"), (1L, "y"), (2L, "x"), (2L, "y"), (3L, "x"),
      (4L, "z"), (4L, "x"), (1L, "x") /* dup collapses */).toDF("bk", "it")
    val out = Analytics.pairLift(df, "bk", "it",
        minSupport = 0.3, minPairCount = 1L)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6)))).toMap
    // z pruned (support 0.25 < 0.3): no (x, z) pair. x cnt=4, y cnt=2, n=4
    assert(out.keySet == Set(("x", "y")))
    val (cnt, sup, cab, cba, lift) = out(("x", "y"))
    assert(cnt == 2L && sup == 0.5 && cab == 0.5 && cba == 1.0 && lift == 1.0)
    // basket cap: dropping baskets larger than 1 removes every pair
    assert(Analytics.pairLift(df, "bk", "it", 0.0, 1L, maxBasket = 1).count() == 0L)
  }

  test("pairLift: maxBasket bounds the pathological-basket pair blow-up") {
    val s = spark
    import s.implicits._
    // one degenerate 100-item basket (k(k-1)/2 = 4950 potential pairs)
    // alongside two sane 2-item baskets sharing (x, y)
    val mega = (0 until 100).map(i => (99L, f"m$i%03d"))
    val sane = Seq((1L, "x"), (1L, "y"), (2L, "x"), (2L, "y"))
    val df = (mega ++ sane).toDF("bk", "it")
    // the default guard (1000) admits the 100-item basket; 0 disables
    val unguarded = Analytics.pairLift(df, "bk", "it", 0.0, 1L, maxBasket = 0)
    assert(unguarded.count() == 4951L) // 4950 mega pairs + (x, y)
    assert(Analytics.pairLift(df, "bk", "it", 0.0, 1L).count() == 4951L)
    val guarded = Analytics.pairLift(df, "bk", "it", 0.0, 1L, maxBasket = 50)
      .collect()
    // the mega basket is dropped ENTIRELY: from pair formation, from item
    // supports, and from the basket universe n — sane stats are computed
    // as if it never arrived
    assert(guarded.map(r => (r.getString(0), r.getString(1))).toSet == Set(("x", "y")))
    val r = guarded.head
    assert(r.getLong(2) == 2L && r.getDouble(3) == 1.0 && // support = 2/2
      r.getDouble(6) == 1.0) // lift = cnt*n/(ca*cb) = 2*2/(2*2) over n=2
  }

  test("ewmaChart: closed-form weighted sum equals the recursive EWMA") {
    val s = spark
    import s.implicits._
    // one type, 4 days with counts 4, 8, 2, 6 (one row per event)
    val rows = Seq.tabulate(4) { d => (d + 1, Seq.fill(Seq(4, 8, 2, 6)(d))(d)) }
      .flatMap { case (day, evs) => evs.map(_ => ("t", f"2024-01-0$day%d 00:00:00")) }
    val df = rows.toDF("event_type", "tss")
      .withColumn("ts", to_timestamp(col("tss"))).drop("tss")
    val out = Analytics.ewmaChart(df).collect()
      .map(r => r.getAs[String]("day") -> r.getAs[Double]("ewma")).toMap
    // recursive: e1=4; e2=.5*8+.5*4=6; e3=.5*2+.5*6=4; e4=.5*6+.5*4=5
    assert(out("2024-01-01") == 4.0)
    assert(out("2024-01-02") == 6.0)
    assert(out("2024-01-03") == 4.0)
    assert(out("2024-01-04") == 5.0)
    // alert flag: day 2 deviates (8-6)/6 = +0.333 > 0.2
    val alerts = Analytics.ewmaChart(df).collect()
      .filter(_.getAs[Boolean]("is_alert")).map(_.getAs[String]("day")).toSet
    assert(alerts.contains("2024-01-02"))
  }

  test("gapFill: missing day zero-filled, LOCF carries the last value") {
    val s = spark
    import s.implicits._
    // type t: days 1 and 3 observed, day 2 missing
    val small = Seq(("t", "2024-01-01 05:00:00", 10.0), ("t", "2024-01-01 06:00:00", 2.0),
      ("t", "2024-01-03 05:00:00", 7.0)).toDF("event_type", "tss", "value")
      .withColumn("ts", to_timestamp(col("tss"))).drop("tss")
    val out = Analytics.gapFill(small).collect()
      .map(r => r.getAs[String]("day") -> ((r.getAs[Long]("cnt"),
        Option(r.getAs[java.lang.Double]("value_locf")).map(_.toDouble),
        r.getAs[Boolean]("filled")))).toMap
    assert(out.size == 3)
    assert(out("2024-01-01") == ((2L, Some(12.0), false)))
    assert(out("2024-01-02") == ((0L, Some(12.0), true)))  // filled + LOCF
    assert(out("2024-01-03") == ((1L, Some(7.0), false)))
  }

  test("tombstoneDelete: per-group accounting, deletion list deduped") {
    val s = spark
    import s.implicits._
    val snap = Seq((1L, "A"), (2L, "A"), (3L, "B"), (4L, "B"), (5L, "B"))
      .toDF("k", "g")
    // duplicate deletion entries must count once
    val del = Seq(2L, 2L, 3L, 99L).toDF("k")
    val out = Analytics.tombstoneDelete(snap, del, "k", "g")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out("A") == ((2L, 1L, 1L)))
    assert(out("B") == ((3L, 1L, 2L)))
  }

  test("skewReport: exact stats and deterministic hottest key on ties") {
    val s = spark
    import s.implicits._
    // keys: x:3, y:3, z:2 -> tie between x and y, "y" wins (string desc)
    val df = (Seq.fill(3)("x") ++ Seq.fill(3)("y") ++ Seq.fill(2)("z")).toDF("k")
    val r = Analytics.skewReport(df, "k").collect()(0)
    assert(r.getAs[Long]("n_rows") == 8L)
    assert(r.getAs[Long]("n_keys") == 3L)
    assert(r.getAs[Long]("max_key_rows") == 3L)
    assert(r.getAs[String]("hottest_key") == "y")
    assert(r.getAs[Double]("avg_key_rows") == BigDecimal(8.0 / 3.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(r.getAs[Double]("skew_factor") == BigDecimal(3.0 / (8.0 / 3.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("ohlcBars: open/close picked by (ts, event_id), extremes exact") {
    val s = spark
    import s.implicits._
    // two rows share the same ts — event_id breaks the tie for open
    val df = Seq(
      ("click", "2024-01-01 10:05:00", 2L, 7.0),
      ("click", "2024-01-01 10:05:00", 1L, 3.0),
      ("click", "2024-01-01 10:59:00", 9L, 1.0),
      ("click", "2024-01-01 11:00:00", 4L, 9.0))
      .toDF("event_type", "ts_s", "event_id", "value")
      .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
    val out = Analytics.ohlcBars(df).collect()
      .map(r => r.getString(1) -> ((r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getLong(6), r.getDouble(7)))).toMap
    // hour 10: open=3 (id 1 wins the ts tie), high=7, low=1, close=1
    assert(out("2024-01-01 10:00") == ((3.0, 7.0, 1.0, 1.0, 3L, 11.0)))
    assert(out("2024-01-01 11:00") == ((9.0, 9.0, 9.0, 9.0, 1L, 9.0)))
  }

  test("kAnonymity: class sizes and at-risk flag") {
    val s = spark
    import s.implicits._
    val df = Seq(("DE", "A"), ("DE", "A"), ("DE", "A"), ("FR", "B"))
      .toDF("country", "seg")
    val out = Analytics.kAnonymity(df,
      Seq("country" -> col("country"), "seg" -> col("seg")), k = 3)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getBoolean(3)))).toMap
    assert(out(("DE", "A")) == ((3L, false)))
    assert(out(("FR", "B")) == ((1L, true)))
  }

  test("madAnomalies: outlier flagged, median/MAD unpoisoned by it") {
    val s = spark
    import s.implicits._
    // 1,2,3,4,100: median 3, deviations 2,1,0,1,97 → MAD 1;
    // threshold 3·1.4826·1 = 4.4478 flags only the 100
    val df = Seq(1.0, 2.0, 3.0, 4.0, 100.0).map(v => ("x", v))
      .toDF("event_type", "value")
    val r = Analytics.madAnomalies(df).collect()(0)
    assert(r.getAs[Long]("n") == 5L)
    assert(r.getAs[Double]("median") == 3.0)
    assert(r.getAs[Double]("mad") == 1.0)
    assert(r.getAs[Long]("n_anomalies") == 1L)
    assert(r.getAs[Double]("anomaly_pct") == 0.2)
  }

  test("madAnomalies: zero MAD flags every off-median value") {
    val s = spark
    import s.implicits._
    val df = (Seq.fill(5)(2.0) ++ Seq(2.5)).map(v => ("x", v))
      .toDF("event_type", "value")
    val r = Analytics.madAnomalies(df).collect()(0)
    assert(r.getAs[Double]("mad") == 0.0)
    assert(r.getAs[Long]("n_anomalies") == 1L)
  }

  test("acf: alternating daily counts give the hand-computed correlogram") {
    val s = spark
    import s.implicits._
    def t(day: Int) = new java.sql.Timestamp(1704067200000L + day * 86400000L)
    // counts per day: 1,2,1,2,1,2 → x̄=1.5, dev=±0.5, den=1.5
    val rows = (0 until 6).flatMap(d => Seq.fill(1 + d % 2)(Tuple1(t(d))))
    val df = rows.toDF("ts")
    val r = Analytics.acf(df).collect()
      .map(x => x.getAs[Long]("lag") -> x.getAs[Double]("acf")).toMap
    assert(r(0L) == 1.0)
    assert(r(1L) == -0.833333) // 5·(−0.25)/1.5
    assert(r(2L) == 0.666667)  // 4·(0.25)/1.5
    assert(r(3L) == -0.5)      // 3·(−0.25)/1.5
    assert(r(6L) == 0.0 && r(7L) == 0.0) // beyond the series: no pairs
  }

  test("funnelWindowed: deadline from FIRST touch cuts late chains") {
    val s = spark
    import s.implicits._
    def t(h: Int) = new java.sql.Timestamp(1704067200000L + h * 3600000L)
    val ev = Seq(
      // A: full chain inside 24h
      (1L, "view", t(0)), (1L, "click", t(1)), (1L, "purchase", t(2)),
      // B: purchase lands after the 24h deadline → stops at click
      (2L, "view", t(0)), (2L, "click", t(1)), (2L, "purchase", t(30)),
      // C: deadline pins to the FIRST view; the 51h click is outside it
      (3L, "view", t(0)), (3L, "view", t(50)), (3L, "click", t(51))
    ).toDF("user_id", "event_type", "ts")
    val out = Analytics.funnelWindowed(ev, Seq("view", "click", "purchase"),
      windowSec = 86400).collect()
      .map(r => r.getAs[String]("stage_name") -> r.getAs[Long]("n_users")).toMap
    assert(out == Map("view" -> 3L, "click" -> 2L, "purchase" -> 1L))
  }

  test("cusumChangePoint: level shift peaks exactly at the change point") {
    val s = spark
    import s.implicits._
    def t(day: Int) = new java.sql.Timestamp(1704067200000L + day * 86400000L)
    // 4 days at 1/day then 4 days at 3/day: x̄=2, S = −1,−2,−3,−4,−3,−2,−1,0
    val rows = (0 until 8).flatMap(d => Seq.fill(if (d < 4) 1 else 3)(Tuple1(t(d))))
    val out = Analytics.cusumChangePoint(rows.toDF("ts")).collect()
    val peaks = out.filter(_.getAs[Boolean]("is_peak")).map(_.getAs[String]("day"))
    assert(peaks.toSeq == Seq("2024-01-04")) // day index 3, |S|=4
    assert(out.map(_.getAs[Double]("cusum")).toSeq ==
      Seq(-1.0, -2.0, -3.0, -4.0, -3.0, -2.0, -1.0, 0.0))
  }

  test("stlDecompose: trend NULL on edges, dow means absorb the weekly cycle") {
    val s = spark
    import s.implicits._
    def t(day: Int) = new java.sql.Timestamp(1704067200000L + day * 86400000L)
    // 21 days, count = 10 + 3 on Sundays (day 6, 13, 20 of the window:
    // 2024-01-01 is a Monday so dow cycles 1..6,0)
    val rows = (0 until 21).flatMap { d =>
      val dow = (d + 1) % 7 // 2024-01-01 → Monday → dayofweek-1 = 1
      Seq.fill(if (dow == 0) 13 else 10)(Tuple1(t(d)))
    }
    val out = Analytics.stlDecompose(rows.toDF("ts")).collect()
    val byDay = out.map(r => r.getAs[String]("day") -> r).toMap
    // edges: first and last 3 days have NULL trend
    assert(byDay("2024-01-01").isNullAt(byDay("2024-01-01").fieldIndex("trend")))
    assert(byDay("2024-01-21").isNullAt(byDay("2024-01-21").fieldIndex("trend")))
    // interior: every full 7-day window holds one Sunday → trend constant
    val mid = byDay("2024-01-10")
    assert(mid.getAs[Double]("trend") == (6 * 10 + 13) / 7.0)
    // Sunday rows carry the positive seasonal, weekdays the negative
    val sun = out.filter(_.getAs[Int]("dow") == 0)
    val wk = out.filter(r => r.getAs[Int]("dow") != 0 && !r.isNullAt(r.fieldIndex("trend")))
    assert(sun.forall(r => r.isNullAt(r.fieldIndex("seasonal")) ||
      r.getAs[Double]("seasonal") > 2.0))
    assert(wk.forall(_.getAs[Double]("seasonal") < 0.0))
    // residuals vanish where trend and seasonal are both defined
    assert(out.filter(r => !r.isNullAt(r.fieldIndex("residual")))
      .forall(r => math.abs(r.getAs[Double]("residual")) < 1e-4))
  }

  test("acf: constant series has zero variance, lags are NULL") {
    val s = spark
    import s.implicits._
    def t(day: Int) = new java.sql.Timestamp(1704067200000L + day * 86400000L)
    val df = (0 until 5).map(d => Tuple1(t(d))).toDF("ts")
    val rows = Analytics.acf(df).collect()
    assert(rows.find(_.getAs[Long]("lag") == 0L).get.getAs[Double]("acf") == 1.0)
    assert(rows.filter(_.getAs[Long]("lag") > 0L)
      .forall(_.isNullAt(1)))
  }

  test("saxSymbols: linear ramp maps to extreme symbols, flat series to 'c'") {
    val s = spark
    import s.implicits._
    def t(day: Int) = new java.sql.Timestamp(1704067200000L + day * 86400000L)
    // "ramp": daily mean = day index 0..9 → mean 4.5, sd_pop √8.25 ≈
    // 2.872281; 5-day PAA means z≈∓0.8704, past the ±0.6745 breakpoints
    // → word "ad". "flat": sd = 0 → z pinned to 0 → every segment 'c'.
    val ev = ((0 until 10).map(d => ("ramp", t(d), d.toDouble)) ++
      (0 until 10).map(d => ("flat", t(d), 7.0)))
      .toDF("event_type", "ts", "value")
    val out = Analytics.saxSymbols(ev).collect()
      .map(r => r.getString(0) -> r).toMap
    val ramp = out("ramp")
    assert(ramp.getAs[String]("sax") == "ad")
    assert(ramp.getAs[Long]("n_segments") == 2L)
    assert(ramp.getAs[Long]("n_days") == 10L)
    assert(ramp.getAs[Double]("mean_daily") == 4.5)
    assert(ramp.getAs[Double]("sd_daily") == 2.872281)
    val flat = out("flat")
    assert(flat.getAs[String]("sax") == "cc")
    assert(flat.getAs[Double]("sd_daily") == 0.0)
    // output is ordered by type
    assert(Analytics.saxSymbols(ev).collect()
      .map(_.getString(0)).toSeq == Seq("flat", "ramp"))
  }
}
