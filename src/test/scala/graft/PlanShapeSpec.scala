package graft

/** Plan-shape regression guards: the scale properties SCALE.md documents
  * (pushdown, pruning, top-k without global sort, broadcast dims) must
  * survive refactors. These assert on the optimized/physical plan text,
  * not on timings. */
class PlanShapeSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf0001).queryExecution.executedPlan.toString

  test("p1: base-column predicate reaches the parquet scan; columns pruned") {
    val p = plan("p1_quality_filter")
    assert(p.contains("PushedFilters: [IsNotNull(n_chars), GreaterThanOrEqual(n_chars,30)]"), p)
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string,n_chars:bigint>"), p)
  }

  test("p1: the expensive scoring conjunct stays ABOVE the floor exchange (noPush fence)") {
    // without the fence, Catalyst pushed the original_score predicate —
    // whole scoring tree substituted in — below the loader's round-robin
    // exchange, re-serializing the compute onto the one-split scan
    // (measured 5.3 s -> 0.8 s at sf1). The fence must hold: the filter
    // carrying the fence sits above the exchange, while the cheap
    // n_chars conjunct still reaches the scan (test above).
    val p = plan("p1_quality_filter")
    val fence = p.linesIterator.indexWhere(_.contains("graft_no_pushdown"))
    val exch = p.linesIterator.indexWhere(_.contains("RoundRobinPartitioning"))
    assert(fence >= 0, s"fenced filter missing from plan:\n$p")
    assert(exch >= 0, s"floor exchange missing from plan:\n$p")
    // plan trees print top-down: above-the-exchange = EARLIER line
    assert(fence < exch, s"fenced filter must sit above the exchange:\n$p")
  }

  test("o1: top-k plans as TakeOrderedAndProject, not a global sort") {
    val p = plan("o1_topk_by_score")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange rangepartitioning"), p)
  }

  test("h3: dimension join broadcasts; top-k at the end") {
    val p = plan("h3_top_customers_by_revenue")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("h1: aggregation is two-phase (map-side partial)") {
    val p = plan("h1_pricing_summary")
    assert(p.contains("HashAggregate"), p)
    // partial + final pair around the exchange
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
  }

  test("a4: events scan prunes to the two needed columns") {
    val p = plan("a4_daily_trends")
    // the physical ts type varies by writer (nano bigint / timestamp_ntz /
    // timestamp) — the invariant under test is COLUMN PRUNING: the scan
    // reads exactly (ts, event_type), whatever ts's storage type
    val read = "ReadSchema: struct<ts:[a-z_]+,event_type:string>".r
    assert(read.findFirstIn(p).isDefined, p)
  }

  test("rj: bucketed interval join plans an equi hash join, never a nested loop") {
    val p = plan("rj_interval_join")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Join") || p.contains("HashJoin"), p)
    // the naive formulation is the nested loop — prove the contrast
    val s = spark
    import s.implicits._
    val points = Seq((1L, 5L)).toDF("pid", "us")
    val intervals = Seq((1L, 0L, 10L)).toDF("iid", "w_start", "w_end")
    val naive = graft.operators.RangeJoin
      .naiveIntervalJoin(points, intervals, "us", "w_start", "w_end")
      .queryExecution.executedPlan.toString
    assert(naive.contains("BroadcastNestedLoopJoin") || naive.contains("CartesianProduct"), naive)
  }

  test("o9: heap top-k aggregate keeps a partial stage before the exchange") {
    val p = plan("o9_topk_heap")
    assert(p.contains("ObjectHashAggregate"), p)
    assert(p.contains("partial_graft_top_k"), p)
    assert(!p.contains("Window"), p) // no full-sort window machinery
  }

  test("l1: prompt top-k uses the heap aggregate, not a per-class window") {
    val p = plan("l1_summary_prompts")
    assert(p.contains("partial_graft_top_k"), p)
    assert(!p.contains("Window"), p)
    // only the two needed columns + score inputs reach the scan
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p)
  }

  test("o7: distributed global rank has no range exchange and buckets on __pid") {
    val p = plan("o7_ntile_deciles")
    // the round-3 shape double-executed a repartitionByRange on the rank
    // key whose boundaries are resampled per physical exchange (wrong
    // ranks at scale when the two consumers disagree); the fix derives the
    // bucket from driver-collected literal cuts, so no range exchange on
    // the rank key may appear (the single one present is the final
    // ORDER BY doc_id for output ordering — one consumer, harmless)
    assert(!p.contains("Exchange rangepartitioning(original_score"), p)
    assert("Exchange rangepartitioning".r.findAllIn(p).length == 1, p)
    // the fact-side row_number window is partitioned on the bucket column,
    // never an empty (single-task) partition spec
    assert(p.contains("row_number()"), p)
    assert("row_number\\(\\) windowspecdefinition\\(__pid".r.findFirstIn(p).isDefined, p)
  }

  test("dd_url_canonical: synthesis + canonicalization fuse into the scan projection; doc_id-only read") {
    val p = plan("dd_url_canonical")
    assert(p.contains("ReadSchema: struct<doc_id:bigint>"), p)
    assert(!p.contains("text:string"), p) // document text never read
  }

  test("dd_exact_normalized: key computed scan-side, two-phase agg, raw text never shuffles") {
    val p = plan("dd_exact_normalized")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p)
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
    assert("Exchange hashpartitioning\\([^)]*text".r.findFirstIn(p).isEmpty, p)
  }

  test("dd_prune_keep_best: broadcast joins only, partial+final max_by, text never read") {
    val p = plan("dd_prune_keep_best")
    assert(p.contains("partial_max_by"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("text:string"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("global sweep: no Window over un-aggregated fact rows in any batch query") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, GlobalLimit, LogicalPlan, Window => LWindow}
    // Streaming catalog entries execute on invocation; their stateful plans
    // are covered by their own oracles/tests.
    val streaming = Set("st2_stream_hourly", "st3_stream_dedup",
      "st4_stream_join", "st6_stream_sessionize", "st7_stream_static_join",
      "st9_stream_outer_join", "st10_dedup_ingest",
      // st12's window ranks the FINAL aggregation-state snapshot (memory
      // table, O(types × users) rows) — the sweep sees a bare table scan
      // below the window and cannot tell it is already aggregated
      "st12_stream_leaderboard",
      // st13/st14 run full ingest streams on invocation and return bare
      // snapshot/memory-table scans — nothing for this sweep to learn,
      // much to pay
      "st13_stream_vector_ingest", "st14_stream_sft", "st15_stream_arena",
      "st16_stream_ols")
    // A window over NOT-yet-aggregated rows is only scale-safe when its
    // partition key has cardinality that grows with the data (or the
    // cluster): each window group stays small and groups parallelize.
    //   __pid    — distributed-rank bucket: cardinality = shuffle partitions
    //   vec_id   — per-vector argmax in IVF assignment
    //   user_id  — per-user sessionization
    //   custkey  — per-customer as-of join
    // A window partitioned on a low-cardinality data column (sentiment,
    // lang, ...) — or on nothing — over fact rows pins the corpus onto a
    // handful of tasks: the single-task-window failure SCALE.md forbids.
    //   o_custkey — per-customer SCD2 gaps-and-islands windows
    //   conv_id   — per-conversation SFT prefix rendering (id-derived:
    //               doc_id div 4, so cardinality grows with the corpus)
    val highCard = Set("__pid", "vec_id", "doc_id", "user_id", "custkey",
      "o_custkey", "id", "conv_id")
    def aggBelow(p: LogicalPlan): Boolean =
      p.collectFirst { case _: Aggregate => (); case _: GlobalLimit => () }.isDefined
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, _) if streaming(name) => Nil
      case (name, fn) =>
        fn(spark, sf0001).queryExecution.optimizedPlan.collect {
          case w: LWindow if !aggBelow(w.child) &&
              !w.partitionSpec.flatMap(_.references.toSeq.map(_.name)).exists(highCard) =>
            s"$name: Window(partitionBy=${w.partitionSpec.mkString(",")}) over un-aggregated input"
        }
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
    // negative control — the guard must flag the classic failure shapes:
    // a window partitioned on a 3-value data column over raw fact rows,
    // and an unpartitioned window over raw fact rows
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.expressions.{Window => W}
    import org.apache.spark.sql.functions.{col, row_number}
    val fact = Seq((1L, "POSITIVE"), (2L, "NEGATIVE")).toDF("doc_id", "sentiment")
    for (w <- Seq(W.partitionBy("sentiment").orderBy("doc_id"), W.orderBy("doc_id"))) {
      val flagged = fact.withColumn("rn", row_number().over(w))
        .queryExecution.optimizedPlan.collect {
          case lw: LWindow if !aggBelow(lw.child) &&
              !lw.partitionSpec.flatMap(_.references.toSeq.map(_.name)).exists(highCard) => ()
        }
      assert(flagged.nonEmpty, s"guard failed to flag $w")
    }
  }

  test("global sweep: no accidental nested-loop/cartesian join in any batch query") {
    // Every BroadcastNestedLoopJoin in the catalog must be on this list —
    // each is an intentional O(n x tiny) shape, not an accident:
    //   a7/f11/ep3: fact rows x ONE broadcast row (global aggregate frame)
    //   sim_bruteforce: corpus x the single query vector
    //   sim_ivf: corpus x 16 broadcast centroids (IVF assignment is
    //            all-vectors-to-all-centroids by definition) + single-row probe
    val allowed = Set("a7_confidence_histogram", "f11_insurance_risk",
      "f11b_insurance_breakdown", "ep3_chat_context", "ep2_results_document",
      "ep3b_suggestions", // resultsDocument's single-row broadcast frame
      "l2_reco_prompt", "sim_bruteforce_topk", "sim_ivf_ann",
      "sim_ivfpq_ann", "sim_ivfpq_res_ann", // sim_ivf's centroid assignment + single-row query probe/re-rank
      // (sim_ivfpq_recall eagerly checkpoints — its plan is the checkpoint scan)
      "bf_bloom_prefilter_join", // single-broadcast-row bloom, never a shuffle
      "mix_token_budget", // 20 domain rows x ONE broadcast grand-total row
      "mix_epoch_plan", // same shape: 20 domain rows x ONE broadcast grand-total row
      "ta_unigram_logppl", // token stream x ONE broadcast vocab-total row
      "ta_collocations", // vocab rows x TWO broadcast single-row totals
      "mix_temperature", // 20 domain rows x TWO broadcast single-row totals
      "ir_bm25_topk", // query-term hits x ONE broadcast (N, avgdl) row
      "ir_rerank_seam", // the BM25 candidate stage: same (N, avgdl) single-row broadcast
      "ir_rm3_expansion", // both BM25 passes: the same (N, avgdl) single-row broadcast
      "ta_keywords_tfidf", // (doc, term) counts x ONE broadcast N row
      "mix_dsir_weights", // bucket histogram x ONE broadcast totals row
      "ev_funnel", "ev_funnel_windowed", // 3 stage-count rows x ONE broadcast stage-1 base row
      "ev_rfm", // O(customers) aggregate x ONE broadcast max-date row
      "hh_heavy_hitters", // candidate counts x ONE broadcast total row
      "ta_drift_words", // O(vocab) joined counts x TWO broadcast totals rows
      "ta_textrank_keywords", // O(vocab) rank rows x ONE broadcast N row per iteration
      "mb_pair_lift", // support/pair rows x TWO single-row broadcasts (basket total, frequent-item list)
      "sim_binary_ann", // signature scan x ONE broadcast query-signature row
      "dx_skew_report", // two stats rows x ONE broadcast hottest-key row
      "sim_mrl_ann", // prefix-dim corpus x the single query vector
      "sim_sq_ann", // int8 code scan x the single broadcast query-vector row
      "sim_batch_topk", // corpus scan x the broadcast 5-row query panel
      "dd_minhash_pr", // 6 threshold rows x ONE broadcast candidate-total row
      "mix_curriculum", // per-doc rows x ONE broadcast tier-boundaries row
      "ts_gap_fill", // distinct groups x ONE broadcast (min,max)-day bounds row
      "ts_acf", // O(days) daily counts x ONE broadcast mean row
      "ev_cpd", // O(days) daily counts x ONE broadcast mean + max rows
      "ml_ks", // score groups x ONE broadcast totals + max-diff rows
      "ml_pr_curve", // score groups x ONE broadcast totals row
      "ir_rrf", // BM25's single-row corpus stats + the single query vector
      "gr_modularity", // per-community terms x ONE broadcast edge-count row
      "sim_filtered_ann", // sim_ivf's centroid assignment + single-row probe
      "dd_embedding_cells_neardup", // corpus x broadcast O(cells) centroid table (assignCells)
      "ep4_report_document", // single-row section frames broadcast-cross-joined (ep2 shape)
      "sim_incr_ivf", // assignCells' broadcast centroid table + single-row probe
      "ir_hard_negatives", // corpus scan x the broadcast 5-row query panel
      "ir_rank_quality", // two batchTopK corpus scans x the broadcast query panel
      "ir_rank_quality_aniso", // same two panel passes over the reweighted corpus
      "ir_mrl_funnel", // prefix shortlist + exact-truth passes x the broadcast panel
      "emb_whiten_topk", // whitened corpus x the single broadcast query row
      "gov_t_closeness", // O(classes) histogram rows x ONE broadcast global-distribution map row
      "ml_bt_strength", // O(items) dimension rows x single-row broadcast (item count / normalizer) per MM round
      "ml_ols_fit", // corpus scan x ONE broadcast coefficient row (the MAE pass)
      "fe_target_encode", // corpus rows x ONE broadcast global-prior row
      "dq_benford", // 9 digit rows x ONE broadcast total row
      "tok_bpe_train", // 16 deliberate one-row argmax broadcasts (each round's merge pair crossJoins the state rewrite)
      "sel_kcenter", // 8 deliberate one-row argmax broadcasts (each round's center crossJoins the mind fold)
      "sel_kmeanspar", // per-round single-row phi/center-array broadcasts + the weighting pass's candidate-array broadcast
      "sel_kmeanspar_reduce", // per-round single-row u/tot/pick broadcasts over the bounded candidate set (weighted k-means++)
      "sel_kmeanspar_audit", // the same reduction broadcasts + the coverage pass's single center-array broadcast
      "sim_index_export", // assignCells' single-row centroid-array broadcast + single-row query probe/re-rank
      "sim_index_compact", // same replay path over the compacted layout (v=2) — identical single-row broadcasts
      "sim_index_query_delta", // same replay path over base ∪ un-compacted delta — identical single-row broadcasts
      "sim_index_export_res", // same single-row probe/re-rank broadcasts + the nprobe-row query-residual build (one row per probed cell)
      "sim_cell_occupancy") // assignCells' single-row centroid-array broadcast + ONE total-row broadcast
    // streaming fns execute on invocation; their stateful plans are
    // covered by their own oracles/tests
    val streaming = Set("st2_stream_hourly", "st3_stream_dedup",
      "st4_stream_join", "st6_stream_sessionize", "st7_stream_static_join",
      "st9_stream_outer_join", "st10_dedup_ingest", "st11_dedup_within_wm",
      "st13_stream_vector_ingest", "st14_stream_sft", "st15_stream_arena",
      "st16_stream_ols")
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).collect {
      case (name, fn) if !streaming(name) && !allowed(name) =>
        val p = fn(spark, sf0001).queryExecution.executedPlan.toString
        name -> Seq("BroadcastNestedLoopJoin", "CartesianProduct").filter(p.contains)
    }.filter(_._2.nonEmpty)
    assert(offenders.isEmpty, offenders.toString)
  }

  test("partitioned layout: a partition-key filter prunes files at planning time") {
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString
    Tables.documents(spark, sf0001)
      .write.mode("overwrite").partitionBy("lang").parquet(dir)
    val read = spark.read.parquet(dir).filter(org.apache.spark.sql.functions.col("lang") === "en")
    val p = read.queryExecution.executedPlan.toString
    // the lang predicate must be a PartitionFilter (metadata-only), never
    // a data filter — at 100 TB this is "scan one directory, not all"
    assert(p.contains("PartitionFilters: [isnotnull(lang"), p)
    assert(!p.contains("PushedFilters: [IsNotNull(lang)"), p)
    assert(read.count() > 0)
  }

  test("bucketed tables: co-partitioned join plans with no shuffle exchange") {
    val warehouse = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath
    spark.sql("DROP TABLE IF EXISTS b_docs")
    spark.sql("DROP TABLE IF EXISTS b_scores")
    // drop leaves no trace for registered tables, but a previously-failed
    // run can orphan the managed location; clear both
    for (t <- Seq("b_docs", "b_scores")) {
      val f = new java.io.File(warehouse, t)
      if (f.exists()) org.apache.commons.io.FileUtils.deleteDirectory(f)
    }
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
    val scores = Tables.documents(spark, sf0001).select("doc_id", "n_chars")
    docs.write.bucketBy(8, "doc_id").sortBy("doc_id").saveAsTable("b_docs")
    scores.write.bucketBy(8, "doc_id").sortBy("doc_id").saveAsTable("b_scores")
    // at sf0.001 the planner would (correctly) broadcast the tiny side and
    // skip bucketing; disable broadcast to surface the both-sides-big plan
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val (joined, p) = try {
      val j = spark.table("b_docs").join(spark.table("b_scores"), "doc_id")
      (j, j.queryExecution.executedPlan.toString)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    // both sides arrive bucketed on the join key: sort-merge join with NO
    // shuffle exchange — the co-located join layout for repeated joins at scale
    assert(p.contains("SortMergeJoin"), p)
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(joined.count() == docs.count())
    spark.sql("DROP TABLE IF EXISTS b_docs")
    spark.sql("DROP TABLE IF EXISTS b_scores")
  }

  test("dd_incr_indexed: probe broadcasts the batch side; no shuffle of the stored band table") {
    // the amortized-ingest contract: the candidate join must BROADCAST
    // the O(batch × bands) side so the corpus-sized stored band table
    // streams map-side — a sort-merge/shuffle-hash band join would
    // re-shuffle the whole index per ingest
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("ps_mh_index").toString
    val (bands, shingles) = graft.operators.Dedup.minhashIndexFrames(
      docs, "text", "doc_id", n = 4, k = 32, bands = 8,
      family = graft.operators.Dedup.PortableFamily)
    bands.write.mode("overwrite").parquet(s"$tmp/bands")
    shingles.write.mode("overwrite").parquet(s"$tmp/shingles")
    val batch = docs.limit(50)
    val probe = graft.operators.Dedup.minhashProbePairsIndexed(batch,
      spark.table("parquet.`" + tmp + "/bands`"),
      spark.table("parquet.`" + tmp + "/shingles`"),
      "text", "doc_id", n = 4, k = 32, bands = 8, minJaccard = 0.5,
      family = graft.operators.Dedup.PortableFamily)
    // the probe materializes eagerly (localCheckpoint); plan evidence
    // comes from the same dataflow rebuilt lazily up to the candidate join
    val pbLazy = graft.operators.Dedup.minhashIndexFrames(batch,
      "text", "doc_id", n = 4, k = 32, bands = 8,
      family = graft.operators.Dedup.PortableFamily)._1
    val candPlan = spark.read.parquet(s"$tmp/bands").as("y")
      .join(org.apache.spark.sql.functions.broadcast(pbLazy.as("x")),
        org.apache.spark.sql.functions.col("x.band") ===
          org.apache.spark.sql.functions.col("y.band") &&
        org.apache.spark.sql.functions.col("x.bandhash") ===
          org.apache.spark.sql.functions.col("y.bandhash"))
      .queryExecution.executedPlan.toString
    assert(candPlan.contains("BroadcastHashJoin"), candPlan)
    assert(!candPlan.contains("SortMergeJoin"), candPlan)
    assert(probe.columns.toSeq == Seq("probe_id", "corpus_id", "jaccard"))
  }

  test("hard negatives: broadcast panel, bounded heap — no sort of scored rows") {
    val p = plan("ir_hard_negatives")
    // the query panel rides a broadcast nested-loop (5 rows vs corpus)
    // with the band filter fused into the join condition, and the
    // per-query top-k reduces through a PARTIAL heap aggregate before the
    // exchange; the only range exchange is the final orderBy over the
    // O(panel x k) result — in plan text it must sit ABOVE (downstream
    // of) the heap aggregate, never under it on raw scored rows
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_graft_top_k"), p)
    val rangeAt = p.indexOf("Exchange rangepartitioning")
    val aggAt = p.indexOf("partial_graft_top_k")
    // absent entirely is also fine (orderBy collapsed away); what must
    // never happen is a range exchange BELOW the aggregate, sorting raw
    // scored rows — guard the -1 case explicitly so the check can't pass
    // vacuously
    assert(rangeAt == -1 || rangeAt < aggAt, p)
  }

  test("incremental IVF probe: index joins by key, probe side broadcasts") {
    val emb = Tables.embeddings(spark, sf0001)
    val idx = graft.operators.Similarity.ivfAssignments(
      emb, graft.operators.Similarity.ivfCentroids(emb, 16))
    val p = graft.operators.Similarity
      .ivfTopKIndexed(emb.select(
        org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("embedding")), idx, 20, 10)
      .queryExecution.executedPlan.toString
    // the one-row query descriptor is broadcast into the cell filter —
    // the probe never shuffles the corpus on the cell key
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("trained quantizer fits are layout-deterministic (re-train == re-train)") {
    // the same corpus under another split or partition count trains the
    // same quantizers, on the full corpus and on a sample
    val emb = Tables.embeddings(spark, sf0001)
    val layouts = Seq(emb, emb, emb.repartition(7), emb.coalesce(1))
    for (f <- Seq(1.0, 0.5)) {
      val cents = layouts.map(e => graft.operators.Similarity
        .trainCentroids(e, nCells = 16, sampleFraction = f).collect().map(_.toSeq).toSet)
      assert(cents.distinct.length == 1,
        s"trainCentroids at sampleFraction $f depends on the partition layout")
      val books = layouts.map(e => graft.operators.Similarity
        .trainCodebook(e, m = 8, nCodes = 16, sampleFraction = f).collect().map(_.toSeq).toSet)
      assert(books.distinct.length == 1,
        s"trainCodebook at sampleFraction $f depends on the partition layout")
    }
  }

  test("v4_attn_scores: the model-seam scan prunes to (doc_id, text) only") {
    // the mapPartitions seam is opaque to Catalyst ABOVE it, but the
    // projection BELOW it must still prune the parquet read — a seam
    // that drags every document column through inference reads ~5x the
    // bytes at 100 TB
    val p = plan("v4_attn_scores")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p)
  }

  test("AQE skew join: a planted hot key is split across tasks (OptimizeSkewedJoin fires)") {
    // ev_salted_join demonstrates the MANUAL skew fix; this pins the
    // ADAPTIVE one (r11 VERDICT task 7): with AQE's skew-join handling
    // on (the engine default), a sort-merge join whose build partition
    // is dominated by one hot key is split at runtime — no salting, no
    // plan change. Thresholds are lowered to demonstration scale (the
    // defaults target 256 MB partitions); the asserted invariant is the
    // executed plan marking the SMJ as skew=true, i.e. the split FIRED.
    val s = spark
    import org.apache.spark.sql.functions.{col, concat, count, lit, when}
    val restore = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled")
      .map(k => k -> s.conf.getOption(k)).toMap
    try {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
      s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      // 90% of the fact lands on key 0; the tail spreads over 99 keys.
      // The payload is a HIGH-ENTROPY string consumed AFTER the join:
      // partition sizes are measured on compressed shuffle bytes, and a
      // column-pruned stream of identical longs compresses below any
      // threshold — the first draft of this test "planted" skew that
      // lz4 erased
      val fact = s.range(0, 200000)
        .select(when(col("id") % 10 =!= 0, lit(0L))
          .otherwise(col("id") % 100).as("k"),
          org.apache.spark.sql.functions.md5(col("id").cast("string")).as("payload"))
      val dim = s.range(0, 100).select(col("id").as("k"),
        concat(lit("dim_"), col("id")).as("name"))
      val joined = fact.join(dim, Seq("k"))
        .agg(count(lit(1)).as("cnt"),
          org.apache.spark.sql.functions.max(col("payload")).as("mx"))
      assert(joined.collect()(0).getLong(0) == 200000L)
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        s"OptimizeSkewedJoin did not fire; executed plan:\n$p")
    } finally restore.foreach { case (k, v) =>
      v.fold(s.conf.unset(k))(s.conf.set(k, _))
    }
  }
}
