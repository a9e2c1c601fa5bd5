package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Graph analytics over edge lists the engine already produces — the trade
  * graph (customer↔supplier from orders×lineitem) and the verified near-dup
  * pair graph ([[Dedup.minhashNearDupPairs]]).
  *
  * Both operators are join-shaped, never adjacency-matrix-shaped: at 100 TB
  * the edge list is a distributed table and every step below is an
  * equi-join or an aggregation on a key Catalyst can shuffle-partition.
  * The iterative PageRank loop reuses the checkpoint discipline proven in
  * [[Dedup.canonicalComponents]] (lineage truncation per round, in-plan
  * scalar broadcasts, no driver-side collect of node data).
  */
object Graph {

  /** Session-conf storage knob for the iterative loops' checkpoint
    * blocks — generalized engine-wide in round 15 as
    * `spark.graft.iter.checkpointStorage` ([[Iter.checkpoint]]; the
    * graph-only name it shipped under first is retired and rejected):
    * `default` keeps
    * Spark's MEMORY_AND_DISK (deserialized rows — measured fastest
    * while the heap is roomy: 6.7 s vs 7.6 s for the other modes at
    * sf0.1@8g), `ser` pins MEMORY_AND_DISK_SER (serialized blocks —
    * smaller, but still competing with execution memory), `disk` pins
    * DISK_ONLY (zero block-manager heap; on any host with page cache
    * the "disk" blocks are memory-speed anyway). Round-14 sf3@8g
    * measurement (SCALE.md): the GCLocker-thrashing default (95.9 s,
    * 7–9 s GC) drops to 86.4 s under `ser` and to **54.7 s under
    * `disk` — faster than the 24 GB default run (61.2 s)**, because
    * evicting checkpoint blocks from the heap returns the whole budget
    * to execution. Memory-tight deployments should set `disk`. */
  private[graft] def iterCheckpoint(df: DataFrame): DataFrame =
    Iter.checkpoint(df) // shared engine-wide discipline; knob doc on [[Iter]]

  private implicit class IterCkpt(private val df: DataFrame) {
    def iterCkpt(): DataFrame = iterCheckpoint(df)
  }

  /** Estimated bytes per rank-table row for the broadcast decision below:
    * 8 B id + 8 B rank + UnsafeRow/broadcast-map overhead. */
  private[graft] val RankRowBytes = 32.0

  /** Estimated bytes per row for STRING-labeled node tables (LPA labels,
    * modularity community labels): 8 B id + a label whose UTF8 payload
    * plus UnsafeRow offset/size word the flat 32 B constant undercounted
    * (round-15 ADVICE) — 64 B covers labels to ~30 chars, and the trade
    * graph's `c…`/`s…` labels stay under 10. A pathological producer with
    * longer labels errs toward NOT broadcasting, the safe side. */
  private[graft] val LabelRowBytes = 64.0

  /** Broadcast-vs-copartition decision for the per-iteration arc⋈rank
    * join: a checkpointed rank table carries no size stats, so the
    * planner can't make this call — make it the way the planner would,
    * from the OPERATOR'S OWN config: broadcast while `nNodes ×
    * `rowBytes`` stays under `spark.sql.autoBroadcastJoinThreshold`
    * (a cluster operator tuning that knob for their executor memory gets
    * the same behavior from this operator as from every planner-chosen
    * join); `-1`/`0` disables broadcasting here exactly as it does in the
    * planner. Strict `<` at the boundary — the threshold is a cap, not a
    * target. `rowBytes` defaults to the (id, double) shape
    * ([[RankRowBytes]]); string-labeled tables pass [[LabelRowBytes]]. */
  private[graft] def shouldBroadcastRanks(
      spark: org.apache.spark.sql.SparkSession, nNodes: Double,
      rowBytes: Double = RankRowBytes): Boolean = {
    val raw = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB").trim
    if (raw.startsWith("-")) false // planner convention: negative disables
    else {
      val bytes =
        try org.apache.spark.network.util.JavaUtils.byteStringAsBytes(raw)
        catch {
          case e: Exception =>
            // surface the malformed config instead of silently substituting
            // the default — the planner itself rejects an unparseable
            // threshold, and a silent fallback here would re-enable the
            // broadcast the caller believed they disabled
            org.slf4j.LoggerFactory.getLogger(getClass).warn(
              s"unparseable spark.sql.autoBroadcastJoinThreshold='$raw' " +
                s"(${e.getMessage}); falling back to 10MB for the rank-table " +
                "broadcast decision")
            10L * 1024 * 1024
        }
      bytes > 0 && nNodes * rowBytes < bytes.toDouble
    }
  }

  /** Symmetrized customer↔supplier trade edge list with LONG node ids —
    * the shuffle-narrow representation every iterative trade-graph
    * operator runs on since round 15 (guide §2.3 "narrower types": the
    * per-round joins, aggregations and checkpoints move 8-byte longs
    * instead of 2–8-char strings, and hash/sort on long keys instead of
    * UTF8 comparisons). Encoding: customer k ↦ 2k, supplier k ↦ 2k+1 —
    * bijective with the public `c<k>`/`s<k>` naming, decoded only at the
    * output boundary by [[tradeIdString]]. One directed edge each way
    * per distinct (customer, supplier) pair that traded (orders ⋈
    * lineitem); the distinct collapses the ~4 lineitems per order on
    * the NUMERIC pair before symmetrization doubles rows, so the dedup
    * exchange carries 16 bytes/row instead of two strings. Output is
    * distinct by construction (symmetric copies of distinct pairs never
    * collide: src parity differs). */
  def tradeEdgesLong(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val pairs = orders.select(col("o_orderkey"), col("o_custkey"))
      .join(lineitem.select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey").cast("long") * 2L).as("a"),
        (col("l_suppkey").cast("long") * 2L + 1L).as("b"))
      .distinct()
    pairs.select(explode(array(
        struct(col("a").as("src"), col("b").as("dst")),
        struct(col("b").as("src"), col("a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
  }

  /** Decodes a [[tradeEdgesLong]] node id back to the public string form
    * (`c<custkey>` / `s<suppkey>`) — applied once at each query's output
    * boundary, never inside a loop. */
  def tradeIdString(id: Column): Column =
    concat(when(pmod(id, lit(2L)) === 0L, lit("c")).otherwise(lit("s")),
      shiftright(id, 1).cast("string"))

  /** Symmetrized customer↔supplier trade edge list in the public string
    * form (`c…`/`s…` — prefixed because TPC-H custkey and suppkey ranges
    * overlap): [[tradeEdgesLong]] decoded through [[tradeIdString]].
    * Kept for spec-level consumers; the catalog entries run the long
    * form end to end and decode only their output ids. */
  def tradeEdges(orders: DataFrame, lineitem: DataFrame): DataFrame =
    tradeEdgesLong(orders, lineitem)
      .select(tradeIdString(col("src")).as("src"),
        tradeIdString(col("dst")).as("dst"))

  /** Power-iteration PageRank over a directed edge list `(src, dst)`, the
    * fixed-iteration form (deterministic, oracle-replayable — convergence
    * thresholds on floating ranks are engine-noise-sensitive; an iteration
    * count is not).
    *
    * rank₀(v) = 1/N;
    * rankₜ₊₁(v) = (1−d)/N + d·(Σ_{u→v} rankₜ(u)/outdeg(u) + Dₜ/N)
    * where Dₜ is the total rank mass sitting on dangling nodes (no
    * out-edges), redistributed uniformly so Σrank stays 1.
    *
    * Scale shape: the per-iteration cost is ONE equi-join of the edge list
    * (pre-joined once with out-degrees, persisted) against the current
    * rank table plus one aggregation keyed by `dst` — both partition on
    * the node key, so a cluster co-partitions them and the loop reuses the
    * exchange. The dangling mass is a one-row aggregate broadcast back
    * into the plan (never a driver collect), and each round ends in a
    * `localCheckpoint` to truncate lineage (cluster checkpoint at 100 TB),
    * exactly the [[Dedup.canonicalComponents]] discipline. Returns
    * `(id, rank)` with rank ROUND(6)ed (the sum over incoming
    * contributions is order-dependent in the last float bits; rounding is
    * the repo-wide convention for order-dependent double aggregates),
    * ordered rank-descending then id.
    *
    * CALLER CONTRACTS (unchecked — violating either silently produces
    * wrong ranks): `edgesDistinct = true` asserts the edge list carries
    * no duplicate (src, dst) rows; `symmetrized = true` asserts every
    * edge rides in both directions (then no node is dangling and src
    * alone names every node). Both hold for [[tradeEdgesLong]] by
    * construction; any other producer must either prove them or leave
    * the flags false and pay the defensive dedup/dangling passes. */
  def pageRank(edges0: DataFrame, iterations: Int = 10,
               damping: Double = 0.85,
               edgesDistinct: Boolean = false,
               symmetrized: Boolean = false): DataFrame = {
    require(iterations >= 1, "pageRank needs at least one iteration")
    val oneMinusD = 1.0 - damping
    // ONE pass over the (possibly expensive) upstream edge derivation,
    // then everything the loop touches reads checkpointed blocks: the
    // first cut of this operator derived out-degrees from the raw edge
    // plan inside the loop's dangling probe, re-running the upstream join
    // every iteration — 18.4 s at sf0.1 vs ~4 s with the plan below.
    // `edgesDistinct`: a caller whose edge list is distinct by
    // construction ([[tradeEdgesLong]]) skips the defensive dedup — one
    // full exchange + hash-aggregate over the edge list (guide §2.4:
    // a `distinct` on data that is already unique is an accidental
    // shuffle).
    val edges = (if (edgesDistinct) edges0.select(col("src"), col("dst"))
      else edges0.select(col("src"), col("dst")).distinct()).iterCkpt()
    val outdeg = edges.groupBy("src").agg(count(lit(1)).cast("double").as("deg"))
    // arcs pre-partitioned on src, rank tables on id: checkpoint preserves
    // the hash partitioning, so the loop's arc⋈rank join and the
    // node⋈contrib rebuild reuse exchanges instead of reshuffling the
    // edge list every round (the co-location a cluster would pin with
    // bucketing)
    val arcs = edges.repartition(col("src")).join(outdeg, "src")
      .select(col("src"), col("dst"), col("deg")).iterCkpt()
    // `symmetrized`: every edge rides both directions (the tradeEdges
    // contract), so src alone already names every node — the dst-union
    // doubling of the node-dedup input is skipped — and NO node can be
    // dangling (every dst is some edge's src), so the dangling set, its
    // anti-join and the per-round mass aggregation are elided outright.
    val nodes = (if (symmetrized) edges.select(col("src").as("id")).distinct()
      else edges.select(col("src").as("id"))
        .union(edges.select(col("dst").as("id"))).distinct())
      .repartition(col("id")).iterCkpt()
    // dangling node SET is loop-invariant (membership, not mass):
    // materialized once; when it is empty (any symmetrized graph) the
    // per-round dangling aggregation is elided outright — the mass is
    // exactly 0.0, not a job
    val danglingNodes: Option[DataFrame] =
      if (symmetrized) None
      else Some(nodes
        .join(arcs.select(col("src").as("id")), Seq("id"), "left_anti")
        .iterCkpt())
    val hasDangling = danglingNodes.exists(_.limit(1).count() > 0)
    // the node count is a loop-invariant scalar: one count action here
    // (the canonicalComponents labelSum-probe precedent) instead of a
    // re-broadcast one-row aggregate inside every iteration's plan
    val nNodes = nodes.count().toDouble
    var ranks = nodes
      .select(col("id"), (lit(1.0) / lit(nNodes)).as("rank")).iterCkpt()
    // a checkpointed rank table carries no size stats, so the planner
    // would sort-merge the arc⋈rank join every round; the node count is
    // already known, so pick the strategy the optimizer would pick with
    // stats — against the session's OWN broadcast budget
    // (autoBroadcastJoinThreshold), not a hardcoded node count
    val broadcastRanks = shouldBroadcastRanks(edges0.sparkSession, nNodes)
    // one power-iteration round as a pure plan transform
    def prRound(rs: DataFrame): DataFrame = {
      val rankSide = rs.withColumnRenamed("id", "src_id")
      val contrib = arcs
        .join(if (broadcastRanks) broadcast(rankSide) else rankSide,
          col("src") === col("src_id"))
        .groupBy(col("dst").as("id"))
        .agg(sum(col("rank") / col("deg")).as("contrib"))
      val base = nodes.join(contrib, Seq("id"), "left")
      // dangling mass = rank sitting on out-edge-less nodes this round;
      // one row out — broadcast back into the plan, never collected
      val withDang = danglingNodes match {
        case Some(dn) if hasDangling => base.crossJoin(broadcast(rs
          .join(dn, Seq("id"), "left_semi")
          .agg(coalesce(sum(col("rank")), lit(0.0)).as("dang"))))
        case _ => base.withColumn("dang", lit(0.0))
      }
      withDang.select(col("id"),
        (lit(oneMinusD) / lit(nNodes) + lit(damping) *
          (coalesce(col("contrib"), lit(0.0)) + col("dang") / lit(nNodes))).as("rank"))
    }
    // checkpoint cadence: without dangling nodes each round references the
    // previous rank table ONCE, so lineage grows linearly and the eager
    // materialization barrier (the loop's latency floor) is only needed
    // every 2 rounds; with dangling nodes each round references it twice
    // (contribution + dangling arms), so the plan doubles per round and
    // the per-round checkpoint is the guard (the canonicalComponents
    // measurement showed batching a twice-referenced round is a
    // regression — AQE re-executes the shared subplan)
    // explicit cadence knob (`spark.graft.graph.checkpointEvery`): a
    // memory-tight deployment can checkpoint more often (smaller live
    // plan state per job) or batch more rounds per barrier; the default
    // stays the measured reference-twice heuristic below
    val checkpointEvery = edges0.sparkSession.conf
      .getOption("spark.graft.graph.checkpointEvery").map { v =>
        val n = try v.trim.toInt catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"spark.graft.graph.checkpointEvery=$v: expected a positive int")
        }
        // <= 0 would make the outer loop spin forever (steps stays 0)
        require(n >= 1,
          s"spark.graft.graph.checkpointEvery=$v: must be >= 1")
        n
      }.getOrElse(if (hasDangling) 1 else 2)
    var iter = 0
    while (iter < iterations) {
      var work = ranks
      var steps = 0
      while (steps < checkpointEvery && iter + steps < iterations) {
        work = prRound(work); steps += 1
      }
      ranks = work.iterCkpt()
      iter += steps
    }
    ranks.select(col("id"), round(col("rank"), 6).as("rank"))
      .orderBy(col("rank").desc, col("id"))
  }

  /** Multi-source BFS: minimum hop distance from a seed set, capped at
    * `maxHops` (nodes farther than the cap are absent — on a big graph
    * the frontier is the work bound, not the node count). Iterative
    * min-distance propagation: each round is one edge⋈distance equi-join
    * plus a min aggregation on the node key, checkpointed per round (the
    * distance table is referenced twice per round, so lineage would
    * double without it — the [[Dedup.canonicalComponents]] cadence).
    * Exactly `maxHops` rounds: round k finalizes every node at distance
    * ≤ k, so the cap IS the iteration count — deterministic and
    * recursive-CTE-replayable. */
  def hopDistances(edges0: DataFrame, seeds: DataFrame,
                   maxHops: Int, edgesPrepared: Boolean = false): DataFrame = {
    // callers that already distinct+checkpointed the edge list (the
    // top-degree wrapper shares it with seed ranking) skip the second
    // materialization — it was the whole-edge-list cost paid twice
    val edges =
      if (edgesPrepared) edges0
      else edges0.select(col("src"), col("dst")).distinct().iterCkpt()
    // frontier BFS: in an unweighted graph the minimum hop distance IS
    // the first round a node is reached, so each round only the NEW
    // frontier joins the edge list and an anti-join against the settled
    // set keeps first-touch wins — identical semantics to re-aggregating
    // the full distance table (min over union), but round k's work is
    // O(frontier_k × avg-degree), and on a hub-seeded trade graph the
    // frontier collapses after 2 hops instead of re-scanning every
    // settled node each round
    var dist = seeds.select(col("id"), lit(0).as("dist")).iterCkpt()
    var frontier = dist
    var k = 0
    while (k < maxHops) {
      val next = edges
        .join(frontier.withColumnRenamed("id", "src_id"), col("src") === col("src_id"))
        .select(col("dst").as("id")).distinct()
        .join(dist, Seq("id"), "left_anti")
        .select(col("id"), lit(k + 1).as("dist"))
        .iterCkpt()
      // scalar probe on the already-checkpointed frontier: once the BFS
      // exhausts the component the remaining rounds are no-ops — skip
      // them (the convergence-probe precedent; probes a bit, not rows)
      if (next.isEmpty) k = maxHops
      else {
        dist = dist.unionByName(next).iterCkpt()
        frontier = next
        k += 1
      }
    }
    dist.orderBy("dist", "id")
  }

  /** [[hopDistances]] from the graph's `seedCount` top-degree nodes
    * (degree desc, id asc — deterministic): "how far is everything from
    * the hubs", the reachability audit of a trade or dependency graph.
    * The edge list is materialized once and shared by the seed ranking
    * and the BFS loop. */
  /** `edgesDistinct` skips the defensive edge dedup for callers whose
    * list is distinct by construction ([[tradeEdgesLong]]); `seedTie`
    * transforms the id for the seed ORDERING ONLY — a long-keyed trade
    * graph passes [[tradeIdString]] so the top-degree tie-break stays
    * the public string order the oracle replays (degrees equal at the
    * cut would otherwise pick different seeds under numeric order). */
  def hopDistancesFromTopDegree(edges0: DataFrame, seedCount: Int,
                                maxHops: Int,
                                edgesDistinct: Boolean = false,
                                seedTie: Column => Column = identity)
      : DataFrame = {
    val edges = (if (edgesDistinct) edges0.select(col("src"), col("dst"))
      else edges0.select(col("src"), col("dst")).distinct()).iterCkpt()
    val seeds = edges.groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("deg"))
      .orderBy(col("deg").desc, seedTie(col("id"))).limit(seedCount)
      .select(col("id"))
    hopDistances(edges, seeds, maxHops, edgesPrepared = true)
  }

  /** Per-node triangle count, degree, and local clustering coefficient
    * over an undirected pair list — the transitivity audit of a near-dup
    * pair graph (high clustering ⇒ dup components are clique-shaped ⇒
    * collapsing them to one canonical doc, as
    * [[Dedup.canonicalComponents]] does, loses nothing; low clustering ⇒
    * chains of marginal pairs are being glued into one component and the
    * threshold needs raising).
    *
    * Enumeration is degree-oriented (Schank–Wagner): each undirected edge
    * becomes ONE arc from its (deg, id)-smaller endpoint, wedges form by
    * self-joining arcs on the source, and a final equi-join closes them.
    * Orientation bounds every node's wedge fan-out by its oriented
    * out-degree ≤ O(√m) — the difference between a skew-killed self-join
    * on a hub's full degree and a bounded one. Triangle counts are
    * orientation-invariant, so the oracle may enumerate in plain id order
    * and still agree exactly (integers throughout; the only double is the
    * final coefficient, row-level exact). */
  def triangleStats(pairs: DataFrame, idA: String = "id_a",
                    idB: String = "id_b"): DataFrame = {
    val e = pairs
      .select(least(col(idA), col(idB)).as("u"), greatest(col(idA), col(idB)).as("v"))
      .where(col("u") =!= col("v")).distinct().persist()
    try {
      val deg = e.select(explode(array(col("u"), col("v"))).as("id"))
        .groupBy("id").agg(count(lit(1)).as("deg")).persist()
      try {
        val du = deg.select(col("id").as("u"), col("deg").as("du"))
        val dv = deg.select(col("id").as("v"), col("deg").as("dv"))
        val uFirst = (col("du") < col("dv")) ||
          (col("du") === col("dv") && col("u") < col("v"))
        // arc src→dst with dst's degree kept for the wedge-order test
        val arcs = e.join(du, "u").join(dv, "v")
          .select(when(uFirst, col("u")).otherwise(col("v")).as("src"),
            when(uFirst, col("v")).otherwise(col("u")).as("dst"),
            when(uFirst, col("dv")).otherwise(col("du")).as("ddst"))
          .persist()
        try {
          val a1 = arcs.select(col("src"), col("dst").as("d1"), col("ddst").as("dd1"))
          val a2 = arcs.select(col("src"), col("dst").as("d2"), col("ddst").as("dd2"))
          val wedges = a1.join(a2, Seq("src"))
            .where((col("dd1") < col("dd2")) ||
              (col("dd1") === col("dd2") && col("d1") < col("d2")))
          // d1 ≺ d2 in orientation order, so a closing edge can only be
          // the arc (d1 → d2): one equi-join, no membership scan
          val tris = wedges
            .join(arcs.select(col("src").as("d1"), col("dst").as("d2")), Seq("d1", "d2"))
            .select(col("src"), col("d1"), col("d2"))
          val perNode = tris
            .select(explode(array(col("src"), col("d1"), col("d2"))).as("id"))
            .groupBy("id").agg(count(lit(1)).as("triangles"))
          deg.join(perNode, Seq("id"), "left")
            .select(col("id"), col("deg"),
              coalesce(col("triangles"), lit(0L)).as("triangles"))
            .withColumn("clustering",
              when(col("deg") >= 2,
                round((col("triangles") * lit(2)).cast("double") /
                  (col("deg") * (col("deg") - 1)).cast("double"), 6))
                .otherwise(lit(0.0)))
            .orderBy("id")
            // materialize before the finally unpersists the inputs the
            // plan still references
            .iterCkpt()
        } finally arcs.unpersist()
      } finally deg.unpersist()
    } finally e.unpersist()
  }

  /** k-core peeling (fixed rounds): repeatedly drop nodes of induced
    * degree < k, `peels` times, and report the survivors with their final
    * induced degree. The 2-core of a near-dup pair graph strips the
    * tree-like fringe (chains of one-off marginal pairs) and leaves the
    * densely-duplicated cores — the subset where clique-collapse dedup
    * is unambiguous. Fixed peel count keeps the op oracle-replayable
    * (each peel is one CTE, the pageRank unroll convention); once the
    * peel converges further rounds are no-ops, so R just needs to exceed
    * the observed convergence depth.
    *
    * Each round is one degree aggregation + two node-key semi-join
    * restrictions over the arc list, checkpointed (the arc table is
    * referenced twice per round — the cadence-1 rule). */
  def kCore(pairs: DataFrame, k: Int, peels: Int,
            idA: String = "id_a", idB: String = "id_b"): DataFrame = {
    require(k >= 1 && peels >= 1, "k and peels must be positive")
    val e0 = pairs
      .select(least(col(idA), col(idB)).as("u"), greatest(col(idA), col(idB)).as("v"))
      .where(col("u") =!= col("v")).distinct()
    var arcs = e0.select(explode(array(
        struct(col("u").as("src"), col("v").as("dst")),
        struct(col("v").as("src"), col("u").as("dst")))).as("a"))
      .select(col("a.src").as("src"), col("a.dst").as("dst"))
      .iterCkpt()
    var i = 0
    while (i < peels) {
      val keep = arcs.groupBy("src").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("src").as("id"))
      arcs = arcs
        .join(keep.select(col("id").as("src")), Seq("src"), "left_semi")
        .join(keep.select(col("id").as("dst")), Seq("dst"), "left_semi")
        .select("src", "dst").iterCkpt()
      i += 1
    }
    arcs.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
      .orderBy("id")
  }

  /** Newman modularity Q of a node partition over an undirected pair
    * graph: Q = Σ_c [ m_c/m − (d_c/2m)² ] — how much denser inside the
    * communities than a degree-preserving random graph. Over the near-dup
    * component partition every edge is intra-community by construction,
    * so Q reduces to 1 − Σ(d_c/2m)²: a fragmentation score (→1 = many
    * small balanced clusters, →0 = one giant component hoarding the
    * edges) — the one-number companion to [[triangleStats]]' per-node
    * clustering audit.
    *
    * Shape: degrees from one aggregation, labels joined twice onto the
    * edge list (node-key equi-joins), both Σ terms from per-community
    * aggregates; `m` is ONE broadcast row. All counts are exact integers;
    * the per-community double terms sum order-dependently → ROUND(6). */
  /** `labelsMaterialized`: the broadcast decision needs a label-table
    * row count, and `lab.count()` EXECUTES the label plan — cheap only
    * when `labels` is checkpointed or derived from checkpointed frames
    * (both catalog callers). A caller handing a lazy, expensive label
    * derivation should pass `labelsMaterialized = false`: the count is
    * skipped and the joins keep the sort-merge shape instead of running
    * the derivation once for the count and again per join (round-15
    * ADVICE). */
  def modularity(pairs: DataFrame, labels: DataFrame,
                 idA: String = "id_a", idB: String = "id_b",
                 labelCol: String = "canonical",
                 labelsMaterialized: Boolean = true): DataFrame = {
    val e = pairs
      .select(least(col(idA), col(idB)).as("u"), greatest(col(idA), col(idB)).as("v"))
      .where(col("u") =!= col("v")).distinct()
    val lab = labels.select(col("id"), col(labelCol).as("c"))
    // the label table is O(nodes) and usually arrives checkpointed (no
    // stats), so the planner would sort-merge all three node-key joins —
    // shuffling the edge list twice. Same broadcast decision as the
    // iterative loops, against the session's own threshold (priced at
    // the string-label row width); too-big graphs keep the sort-merge
    // shape.
    val bcastLab = labelsMaterialized && shouldBroadcastRanks(
      pairs.sparkSession, lab.count().toDouble, rowBytes = LabelRowBytes)
    def labSide(df: DataFrame) = if (bcastLab) broadcast(df) else df
    val mm = e.agg(count(lit(1)).as("m"))
    val deg = e.select(explode(array(col("u"), col("v"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    val dc = deg.join(labSide(lab), "id").groupBy("c").agg(sum(col("deg")).as("d_c"))
    val mc = e
      .join(labSide(lab.select(col("id").as("u"), col("c").as("cu"))), "u")
      .join(labSide(lab.select(col("id").as("v"), col("c").as("cv"))), "v")
      .where(col("cu") === col("cv"))
      .groupBy(col("cu").as("c")).agg(count(lit(1)).as("m_c"))
    dc.join(mc, Seq("c"), "left")
      .select(col("c"), coalesce(col("m_c"), lit(0L)).as("m_c"), col("d_c"))
      .crossJoin(broadcast(mm))
      .withColumn("__term",
        col("m_c").cast("double") / col("m").cast("double")
          - (col("d_c").cast("double") / (lit(2.0) * col("m").cast("double")))
          * (col("d_c").cast("double") / (lit(2.0) * col("m").cast("double"))))
      .groupBy("m")
      .agg(count(lit(1)).as("communities"),
        round(sum(col("__term")), 6).as("modularity"))
      .select(col("communities"), col("m"), col("modularity"))
  }

  /** Synchronous label propagation communities (Raghavan et al. 2007),
    * the deterministic fixed-round form: every node starts as its own
    * label; each round every node adopts the most frequent label in its
    * closed neighborhood (neighbors + its own current label — the
    * self-vote damps the two-coloring oscillation synchronous LPA is
    * known for on bipartite graphs like the trade graph), ties broken to
    * the LEXICOGRAPHICALLY SMALLEST label. A fixed round count replaces
    * the usual "until no change" stop for the same reason [[pageRank]]
    * fixes its iteration count: convergence-triggered stops make the
    * output depend on scheduling noise; a round count is
    * oracle-replayable (the DuckDB oracle unrolls the identical rounds).
    *
    * Complements [[modularity]]: that operator SCORES a given labeling,
    * this one PRODUCES a labeling — together they are the detect/score
    * loop a community pipeline runs.
    *
    * Scale shape per round: one edge⋈label equi-join on the node key
    * (co-partitioned at scale — same discipline as the PageRank loop),
    * one map-side-combinable count aggregation on (node, label), and one
    * arg-min aggregation on node — no windows over fact rows, no driver
    * collect; integer counts so engine/oracle agree exactly. Per-round
    * [[iterCheckpoint]] truncates lineage and honors the
    * `spark.graft.iter.checkpointStorage` knob. Expects a distinct
    * symmetrized edge list (the [[tradeEdges]] contract). Returns
    * `(id, community)` ordered by id. */
  /** `labelInit` maps a node id to its STARTING label (default: the id
    * itself). A long-keyed trade graph passes [[tradeIdString]] so the
    * LABEL VALUES — whose lexicographic-min tie-break is the declared
    * semantics — stay the public strings the oracle replays, while the
    * per-round edge⋈label join and the vote aggregation key on 8-byte
    * longs instead of strings (guide §2.3). */
  def labelPropagation(edges0: DataFrame, rounds: Int = 4,
                       assumeMaterialized: Boolean = false,
                       labelInit: Column => Column = identity): DataFrame = {
    require(rounds >= 1, "labelPropagation needs at least one round")
    // `assumeMaterialized`: a caller composing this with other consumers
    // of the SAME edge list (gr_lpa_modularity) checkpoints it once
    // outside and skips the redundant re-materialization here (measured:
    // one 1.17 M-row checkpoint ≈ 1.5 s of the composition's wall)
    val edges =
      if (assumeMaterialized) edges0.select(col("src"), col("dst"))
      else edges0.select(col("src"), col("dst")).iterCkpt()
    var labels = edges.select(col("src").as("id")).distinct()
      .select(col("id"), labelInit(col("id")).as("lbl"))
      .iterCkpt()
    // a checkpointed label table carries no size stats, so the planner
    // sort-merges the per-round edge⋈label join — re-shuffling and
    // re-sorting the WHOLE edge list every round. Make the broadcast
    // call the planner would make with stats (the [[pageRank]]
    // shouldBroadcastRanks discipline, against the session's own
    // threshold): one loop-invariant node count, then each round ships
    // O(nodes) labels and never moves the edges (guide §3.1).
    val bcastLabels = shouldBroadcastRanks(edges0.sparkSession,
      labels.count().toDouble, rowBytes = LabelRowBytes)
    for (_ <- 1 to rounds) {
      val labelSide = labels.select(col("id").as("dst_id"), col("lbl"))
      val votes = edges
        .join(if (bcastLabels) broadcast(labelSide) else labelSide,
          col("dst") === col("dst_id"))
        .select(col("src").as("id"), col("lbl"))
        .unionByName(labels)
      // arg-min over struct: min(-count) = max count, then min label on
      // ties — one aggregation, map-side-combinable, instead of a
      // row_number window over every (node, label) vote row
      labels = votes.groupBy(col("id"), col("lbl"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("id"))
        .agg(min(struct((-col("c")).as("nc"), col("lbl").as("l"))).as("m"))
        .select(col("id"), col("m.l").as("lbl"))
        .iterCkpt()
    }
    labels.select(col("id"), col("lbl").as("community")).orderBy("id")
  }

  /** Degree assortativity (Newman 2002): Pearson correlation of the
    * endpoint degrees across all directed arcs of the symmetrized graph —
    * one number telling whether hubs trade with hubs (positive, social
    * shape) or hubs fan out to the periphery (negative, infrastructure
    * shape). On the trade graph it is the skew early-warning: strongly
    * negative assortativity means the big customers concentrate on few
    * suppliers, exactly the hot-key profile that later needs
    * [[Analytics.saltedJoin]].
    *
    * Shape: degree table O(nodes) from one aggregation, joined onto the
    * arc list twice (plain equi-joins on the node key — shuffle-
    * partitioned, hub rows spread by the join key being the OTHER
    * endpoint on one side). The correlation is assembled from exact
    * integer power sums in DECIMAL(38,0) (degrees are integers; Σxy over
    * 10¹² arcs of 10⁶-degree hubs still fits), so engine and oracle agree
    * bit-for-bit through the single final double expression. */
  def degreeAssortativity(edges0: DataFrame,
                          edgesDistinct: Boolean = false): DataFrame = {
    // materialize the edge list ONCE: it is read three times below (the
    // arc list plus both endpoint-degree joins), and the lazy form
    // re-executed the whole upstream derivation per read — the round-15
    // before-plan showed the orders⋈lineitem subtree THREE times (28
    // Exchanges); with the checkpoint + the broadcast decision below the
    // after-plan carries the derivation once (guide §2.4)
    val edges = (if (edgesDistinct) edges0.select(col("src"), col("dst"))
      else edges0.select(col("src"), col("dst")).distinct()).iterCkpt()
    val deg = edges.groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("deg")).iterCkpt()
    // the degree table is O(nodes) and checkpointed (no stats), so make
    // the planner's broadcast call from the operator's own knowledge —
    // the [[shouldBroadcastRanks]] discipline against the session's own
    // autoBroadcastJoinThreshold; a graph too big to broadcast keeps the
    // sort-merge joins (both keyed on the node id)
    val bcast = shouldBroadcastRanks(edges0.sparkSession, deg.count().toDouble)
    def side(k: String, out: String) = {
      val t = deg.select(col("id").as(k), col("deg").as(out))
      if (bcast) broadcast(t) else t
    }
    val withDeg = edges
      .join(side("src", "dx"), "src")
      .join(side("dst", "dy"), "dst")
    val dec = "decimal(38,0)"
    withDeg.agg(
        count(lit(1)).as("m"),
        sum(col("dx").cast(dec)).as("sx"), sum(col("dy").cast(dec)).as("sy"),
        sum((col("dx") * col("dy")).cast(dec)).as("sxy"),
        sum((col("dx") * col("dx")).cast(dec)).as("sx2"),
        sum((col("dy") * col("dy")).cast(dec)).as("sy2"))
      .select(col("m"),
        when((col("m") * col("sx2") - col("sx") * col("sx")) > 0 &&
            (col("m") * col("sy2") - col("sy") * col("sy")) > 0,
          round((col("m") * col("sxy") - col("sx") * col("sy")).cast("double")
            / sqrt((col("m") * col("sx2") - col("sx") * col("sx")).cast("double")
              * (col("m") * col("sy2") - col("sy") * col("sy")).cast("double")), 6))
          .as("assortativity"))
  }
}
