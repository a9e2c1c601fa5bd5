package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.plans.VectorExpressions.refLit

/** Similarity search over embedding columns (`Array[Float]`).
  *
  * The reference's "vector search" is TF-IDF + KMeans representative
  * selection (V1-V3); this module is the generalized engine surface a
  * 100 TB training-data pipeline needs: exact cosine top-k as the
  * correctness baseline, and a deterministic random-hyperplane LSH variant
  * as the scale path (bucket first, rank within bucket).
  *
  * All vector math is composed column expressions (`zip_with` /
  * `aggregate` left folds) so the DuckDB oracle can reproduce results
  * bit-for-bit with `list_zip` / `list_reduce` in the same fold order.
  * Scale note: at 100 TB the signature/bucket computation runs in the
  * ingest pass and is persisted + bucketed-by; queries then touch one
  * bucket (partition pruning), not the corpus.
  *
  * Operators returning `localCheckpoint(eager = true)`, and the IVF-PQ
  * top-k searches, which return a local frame, follow the
  * eager-materialization contract documented on [[MLEval]]: executed at
  * call time, lineage truncated, not lazily composable.
  */
object Similarity {

  /** Dot product of two DOUBLE-array columns, ascending-index left fold. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  /** L2 norm, same fold order. */
  def norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x * x), lit(0.0), (acc, v) => acc + v))

  // Native codegen'd twins of dot/norm for the hot pairwise paths (see
  // graft.plans.VectorExpressions): Spark's higher-order array functions
  // are CodegenFallback (interpreted per element) — 50-100x slower on
  // millions of pairs — and a Scala UDF still pays per-row dispatch +
  // Seq materialization. All forms use the SAME ascending left fold, so
  // results are bit-identical to each other and to the DuckDB oracle's
  // list_reduce (SimilaritySpec asserts this).
  def dotFast(a: Column, b: Column): Column = graft.plans.VectorExpressions.dotNative(a, b)
  def normFast(a: Column): Column = graft.plans.VectorExpressions.l2NormNative(a)

  /** UDF forms kept as the reference implementation for the three-way
    * equality test (expression vs UDF vs native). */
  private[graft] val dotUdf = udf { (a: Seq[Double], b: Seq[Double]) =>
    var acc = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { acc += a(i) * b(i); i += 1 }
    acc
  }
  private[graft] val normUdf = udf { a: Seq[Double] =>
    var acc = 0.0
    var i = 0
    while (i < a.length) { acc += a(i) * a(i); i += 1 }
    math.sqrt(acc)
  }

  /** Cosine similarity (V3's measure, ref
    * `Context_analyzer_RoBERTa_fun.py:87-133`). */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  def toDoubleArray(c: Column): Column = transform(c, x => x.cast("double"))

  // ------------------------------------------------------------------
  // The exact-cosine kernel. Every exact-cosine search in this file —
  // single query, query panel, recall harness, pair verify — builds its
  // vectors, centroids and scores through these, so a convention (the
  // norm column, the ROUND(6) score, the `cos DESC, vec_id` tie-break,
  // the bounded-heap panel tail) lives in one place.
  // ------------------------------------------------------------------

  /** `(vec_id, keep…, v, nrm)`: an embedding table as DOUBLE vectors with
    * norms. `v` is the full embedding unless the caller ranks another
    * vector (an MRL prefix, a whitened vector). */
  private def vectors(emb: DataFrame, v: Column = toDoubleArray(col("embedding")),
                      keep: Seq[Column] = Nil): DataFrame =
    emb.select((col("vec_id") +: keep) :+ v.as("v"): _*)
      .withColumn("nrm", normFast(col("v")))

  /** `e` with every `v` checked to be `dim` long: another length fails the
    * job naming the vec_id. The native dot is NULL on a length mismatch,
    * so an unchecked vector would land silently in bucket or code 0. */
  private def dimChecked(e: DataFrame, dim: Int): DataFrame =
    e.withColumn("v", when(size(col("v")) =!= dim,
      raise_error(concat(lit("vector "), col("vec_id").cast("string"),
        lit(" has "), size(col("v")).cast("string"),
        lit(s" dims, the index has dim = $dim"))))
      .otherwise(col("v")))

  /** Centroids `(cell LONG, cv, cnrm)` from a `(cell, cv)` frame. */
  private def centroids(centsIn: DataFrame): DataFrame =
    centsIn.select(col("cell").cast("long").as("cell"), col("cv"),
      normFast(col("cv")).as("cnrm"))

  /** Query rows `(extra…, qv, qnrm)`: the rows of vector frame `e` that
    * `pick` selects. */
  private def queries(e: DataFrame, pick: Column, extra: Column*): DataFrame =
    e.filter(pick).select(extra ++ Seq(col("v").as("qv"), col("nrm").as("qnrm")): _*)

  /** The ROUND(6) cosine of `(v, nrm)` against `(qv, qnrm)`: rounded
    * before any rank, so the k-boundary is the same on both engines. */
  private def qcos: Column =
    round(dotFast(col("v"), col("qv")) / (col("nrm") * col("qnrm")), 6)

  /** Single-query rank tail: `cands` (carrying `v`, `nrm`) joined to the
    * broadcast query row `q` — on `on`, or crossed with it — scored and
    * cut to the top `k` by `cos DESC, vec_id`. Returns
    * `(vec_id, keep…, cos)`. */
  private def rankTail(cands: DataFrame, q: DataFrame, on: Option[Column],
                       keep: Seq[Column], k: Int): DataFrame =
    on.fold(cands.crossJoin(broadcast(q)))(cands.join(broadcast(q), _))
      .select((col("vec_id") +: keep) :+ qcos.as("cos"): _*)
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)

  /** Panel rank tail: `joined` pairs of a corpus vector and a panel query
    * `(query_id, v, nrm, qv, qnrm)`, scored, optionally filtered by
    * `keepIf`, and reduced per query through the native bounded-heap
    * aggregate ([[graft.plans.TopK.topKByScore]]): partial heaps cap the
    * shuffle at k rows per (task, query) where a window rank would
    * shuffle and sort every scored row. Returns
    * `(query_id, rank, vec_id, cos)`. */
  private def panelTail(joined: DataFrame, k: Int,
                        keepIf: Option[Column] = None): DataFrame = {
    val scored = joined.select(col("query_id"), col("vec_id"), qcos.as("cos"))
    keepIf.fold(scored)(scored.filter)
      .groupBy("query_id")
      .agg(graft.plans.TopK.topKByScore(col("cos"), col("vec_id"),
        struct(col("vec_id"), col("cos")), k).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
        col("col.vec_id").as("vec_id"), col("col.cos").as("cos"))
      .orderBy("query_id", "rank")
  }

  /** Pair verify: `pairs` forms candidate pairs from the two sides of
    * vector frame `e`, `(keep…, id_a, va, na)` and `(keep…, id_b, vb, nb)`;
    * the pairs whose exact cosine exceeds `threshold` come back as
    * `(id_a, id_b, cos)`, cos ROUND(6)ed after the unrounded threshold
    * compare. Norms come from the vector frame: once per vector, not per
    * pair. */
  private def verifyPairs(e: DataFrame, threshold: Double, keep: String*)(
      pairs: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    def side(s: String) = e.select(keep.map(col) ++ Seq(col("vec_id").as(s"id_$s"),
      col("v").as(s"v$s"), col("nrm").as(s"n$s")): _*)
    pairs(side("a"), side("b"))
      .withColumn("cos", dotFast(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") > threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
  }

  /** Per-vector symmetric scalar quantization report (the int8 compression
    * every large ANN deployment applies before indexing — FAISS
    * `ScalarQuantizer` semantics): `scale = max|x| / 127`, code_i =
    * round(x_i / scale) ∈ [-127, 127], and the reconstruction-quality
    * stats (`mse`, `max_abs_err`) of dequantizing `code_i * scale`. Pure
    * narrow per-row arithmetic — no shuffle, no join; every fold is the
    * ascending left fold shared with [[dot]]/[[norm]], so the DuckDB
    * oracle reproduces the doubles bit-for-bit and no rounding is needed.
    * Zero vectors quantize to all-zero codes with zero error by
    * definition (scale 0 guard). At 100 TB this runs in the ingest pass;
    * promote the lambdas to a codegen Expression (the dotFast precedent)
    * if profiling shows the interpreted HOF cost, which is per-row, not
    * per-pair, here. */
  def scalarQuantizeReport(df: DataFrame, vecCol: String,
                           idCol: String): DataFrame = {
    val v = toDoubleArray(col(vecCol))
    df.select(col(idCol), v.as("v"))
      .select(col(idCol), col("v"),
        (array_max(transform(col("v"), x => abs(x))) / lit(127.0)).as("scale"))
      .select(col(idCol), col("scale"), size(col("v")).cast("long").as("n_dims"),
        when(col("scale") > 0.0,
          transform(col("v"), x => x - round(x / col("scale"), 0) * col("scale")))
          .otherwise(col("v")).as("errs"))
      .select(col(idCol), col("scale"), col("n_dims"),
        (aggregate(col("errs"), lit(0.0), (acc, e) => acc + e * e) /
          col("n_dims").cast("double")).as("mse"),
        array_max(transform(col("errs"), e => abs(e))).as("max_abs_err"))
      .orderBy(idCol)
  }

  /** Scalar-quantized asymmetric ANN — the search half of
    * [[scalarQuantizeReport]] (FAISS `SQ8` semantics): the corpus is
    * stored as per-vector symmetric int8 codes (`scale = max|x| / 127`,
    * `code_i = round(x_i / scale)`), the float query scans the CODES
    * (asymmetric distance — query uncompressed, corpus compressed), and
    * the top `shortlist` by approximate cosine get one exact-cosine
    * re-rank over their float vectors for the final top-k.
    *
    * With symmetric per-vector quantization the scale cancels out of
    * cosine — `cos(q, code·scale) = cos(q, code)` — so the approximate
    * rank needs no dequantization at all: one dot fold over small
    * integers. Zero vectors (scale 0) have no direction and are excluded
    * from the candidate scan.
    *
    * Scale shape: the code scan reads dim bytes per vector vs 4·dim for
    * floats — a 4× smaller index than brute force with NO bucketing
    * assumption (SQ is the safety net when the corpus won't cluster);
    * the exact re-rank is `shortlist` float point-lookups. Both rank
    * boundaries ROUND(6)ed with vec_id tiebreaks — deterministic on both
    * engines. */
  def sqTopK(emb: DataFrame, queryId: Long, k: Int,
             shortlist: Int = 50): DataFrame = {
    // scan floor: the quantize+scan stage is compute-bound on the scan
    // side and the bench tables are single-row-group (one split) —
    // measured sf1 solo 4.8 s -> 0.6 s; identity on fan-out inputs
    val e = vectors(graft.Tables.scanFloor(emb))
    val q = queries(e, col("vec_id") === queryId)
    val short = e.filter(col("vec_id") =!= queryId)
      .withColumn("scale", array_max(transform(col("v"), x => abs(x))) / lit(127.0))
      .filter(col("scale") > 0.0)
      .withColumn("c", transform(col("v"), x => round(x / col("scale"), 0)))
      .crossJoin(broadcast(q))
      .withColumn("adc_cos", round(
        dotFast(col("c"), col("qv")) / (normFast(col("c")) * col("qnrm")), 6))
      .orderBy(col("adc_cos").desc, col("vec_id"))
      .limit(shortlist)
      .select(col("vec_id"), col("v"), col("nrm"), col("adc_cos"))
    rankTail(short, q, None, Seq(col("adc_cos")), k)
      .select(col("vec_id"), col("cos"), col("adc_cos"))
  }

  /** Exact brute-force cosine top-k against one query vector (broadcast —
    * the corpus side streams, nothing shuffles). */
  def bruteForceTopK(emb: DataFrame, queryId: Long, k: Int): DataFrame = {
    val e = vectors(emb)
    rankTail(e.filter(col("vec_id") =!= queryId),
      queries(e, col("vec_id") === queryId), None, Nil, k)
  }

  /** Deterministic pseudo-random hyperplane weights for LSH plane `j`
    * (integer lattice in [-3,3] — exactly reproducible in SQL, unlike
    * engine RNG or libm-dependent floats). The double reduction mod
    * 101-then-7 makes the family aperiodic in `j` up to 101 planes — a
    * single `% 7` repeats every 7 planes, silently capping the number of
    * DISTINCT hyperplanes (and with it the usable bucket space) at 7. */
  def planeWeights(j: Int, dim: Int): Seq[Double] =
    (0 until dim).map(i => (((i * 31 + j * 17) % 101) % 7 - 3).toDouble)

  /** Sign-LSH bucket id over `planes` hyperplanes (bit j = sign of the
    * projection onto plane j). */
  def lshBucket(v: Column, planes: Int, dim: Int): Column =
    (0 until planes).map { j =>
      val w = typedLit(planeWeights(j, dim))
      when(dotFast(v, w) > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** ANN top-k: probe only the query vector's LSH bucket, exact cosine
    * rank within it. At scale the bucket column is a partition/bucketing
    * key, so the probe reads one bucket. A vector that is not `dim` long
    * fails the search. */
  def lshTopK(emb: DataFrame, queryId: Long, k: Int, planes: Int = 12,
              dim: Int = 64): DataFrame = {
    val e = lshVectors(emb, planes, dim)
    rankTail(e.filter(col("vec_id") =!= queryId),
      queries(e, col("vec_id") === queryId, col("bucket").as("qbucket")),
      Some(col("bucket") === col("qbucket")), Seq(col("bucket")), k)
  }

  /** The dim-checked vector frame with each vector's LSH `bucket`. */
  private def lshVectors(emb: DataFrame, planes: Int, dim: Int): DataFrame =
    dimChecked(vectors(emb), dim).withColumn("bucket", lshBucket(col("v"), planes, dim))

  /** Multiprobe ANN: probe the query's bucket plus every Hamming-1
    * neighbor bucket (one sign bit flipped — the planes whose projection
    * was closest to zero are the likeliest flips, so 1-bit neighbors
    * recover most of the recall single-probe loses). `planes`+1 buckets
    * scanned instead of 1: still bucket-pruned at 100 TB (partition
    * pruning reads planes+1 of 2^planes partitions), recall strictly >=
    * [[lshTopK]] since the candidate set is a superset. A vector that is
    * not `dim` long fails the search. */
  def lshTopKMultiprobe(emb: DataFrame, queryId: Long, k: Int,
                        planes: Int = 12, dim: Int = 64): DataFrame = {
    val e = lshVectors(emb, planes, dim)
    val probes = queries(e, col("vec_id") === queryId,
      explode(array(col("bucket") +:
        (0 until planes).map(j => col("bucket").bitwiseXOR(lit(1L << j))): _*)).as("pb"))
    rankTail(e.filter(col("vec_id") =!= queryId), probes,
      Some(col("bucket") === col("pb")), Seq(col("bucket")), k)
  }

  /** Cell assignment — argmax centroid cosine, ties to the LOWEST cell —
    * as a ROW-LOCAL fold over a single-row broadcast centroid array.
    * This step's history is the catalog's scaling lesson in miniature:
    * formulation 1 (crossJoin + per-vector row_number window) shuffled
    * |vectors| × |cells| rows carrying 0.5 KB arrays (~16 GB exchange,
    * 47 s at sf1); formulation 2 (slim max_by aggregation) cut the
    * exchange to |vectors| rows but still MATERIALIZED |vectors| ×
    * |cells| join-output rows through a hash aggregate — with
    * occupancy-sized cell counts (|cells| ∝ n) that term is quadratic
    * in n and re-measured as the catalog's worst scaler (sim_semdedup_
    * auto 6.9× wall at 10× data, assignment-dominated). This form
    * materializes NOTHING per (vector, cell): centroids collapse to one
    * array row (sorted by cell — collect_list order is
    * engine-nondeterministic), broadcast once, and each vector computes
    * its argmax in one `aggregate` fold inside its own projection —
    * zero extra rows, zero shuffle, zero re-join; the scan stays
    * narrow. Per-vector work is the same O(|cells|·dim) dot products as
    * before (that product is inherent to flat nprobe=1 assignment; a
    * 100 TB deployment bounds |cells| via the IVF convention of ~100k–
    * 1M trained centroids, which is also what keeps this single-row
    * broadcast small).
    *
    * Tie/NaN semantics are identical to both earlier forms (`ORDER BY
    * ccos DESC, cell`): the fold visits cells ASCENDING and replaces
    * only on strictly-greater ccos, so equal cosines keep the lowest
    * cell; Spark's `>` on doubles orders NaN greatest and NaN > NaN is
    * false, so a zero-norm vector (all-NaN ccos) resolves to its lowest
    * cell either way. Every column of `e` rides through (metadata for
    * the filtered-search path); adds `(cell, ccos)`. */
  private def assignCells(e: DataFrame, cents: DataFrame): DataFrame = {
    val centsArr = cents.agg(sort_array(
      collect_list(struct(col("cell").cast("long").as("cell"), col("cv"),
        col("cnrm").cast("double").as("cnrm")))).as("__cells"))
    e.crossJoin(broadcast(centsArr))
      .withColumn("__best", graft.plans.VectorExpressions.nearestCellNative(
        col("v"), col("nrm"), col("__cells")))
      .withColumn("cell", col("__best").getField("cell"))
      .withColumn("ccos", col("__best").getField("ccos"))
      .drop("__cells", "__best")
  }

  /** IVF-style ANN (nprobe=1): coarse-quantize every vector to its
    * nearest of `nCells` centroid vectors ([[deterministicCentroids]], the
    * first `nCells` vectors — [[ivfTopKWith]] takes trained ones), probe
    * only the query's cell, exact-rank inside. The cell id is a column:
    * at 100 TB the corpus is written `partitionBy(cell)` and a probe is
    * one partition's scan + heap. Returns `(vec_id, cell, cos)`. */
  def ivfTopK(emb: DataFrame, queryId: Long, k: Int, nCells: Int = 16): DataFrame =
    ivfProbe(emb, deterministicCentroids(emb, nCells), queryId, k)

  /** The nprobe=1 IVF probe behind [[ivfTopK]], [[ivfTopKWith]] and
    * [[ivfFilteredTopK]]: cosine-argmax cell assignment against `centsIn`
    * (ties to the lowest cell), then the query's cell — its vectors that
    * pass `pred` — ranked exactly. `meta` columns ride through to `pred`
    * and the output `(vec_id, meta…, cell, cos)`. */
  private def ivfProbe(emb: DataFrame, centsIn: DataFrame, queryId: Long, k: Int,
                       meta: Seq[Column] = Nil,
                       pred: Option[Column] = None): DataFrame = {
    val assigned = assignCells(vectors(emb, keep = meta), centroids(centsIn))
    val cands = assigned.filter(col("vec_id") =!= queryId)
    rankTail(pred.fold(cands)(cands.filter),
      queries(assigned, col("vec_id") === queryId, col("cell").as("qcell")),
      Some(col("cell") === col("qcell")), meta :+ col("cell"), k)
  }

  /** The [[deterministicCentroids]] frame with norms, `(cell, cv, cnrm)`:
    * the quantizer INCREMENTAL maintenance pins at index-build time and
    * reuses for every ingest batch ([[ivfAssignments]],
    * [[ivfTopKIndexed]]) — retraining the quantizer per batch would
    * invalidate every stored assignment, and no production index does
    * that. */
  def ivfCentroids(emb: DataFrame, nCells: Int = 16): DataFrame =
    centroids(deterministicCentroids(emb, nCells))

  /** Cell assignments `(vec_id, cell)` of `emb` against an explicit
    * (broadcast) centroid frame — the UPDATE step of incremental IVF
    * maintenance: cost is O(|batch| · nCells) with no shuffle of the
    * base index, so appending a micro-batch to a billion-vector index
    * never rescans the corpus. */
  def ivfAssignments(emb: DataFrame, cents: DataFrame): DataFrame =
    assignCells(vectors(emb), centroids(cents)).select(col("vec_id"), col("cell"))

  /** IVF probe over an externally-MAINTAINED index `(vec_id, cell)` —
    * the serving half of incremental IVF: assignments come from the
    * persisted index (base build ∪ appended batches), never recomputed
    * at query time. The vec_id equi-join is co-partitionable with the
    * vector table; at 100 TB the index is written `partitionBy(cell)` so
    * the probe's cell filter prunes to one partition's scan + heap. */
  def ivfTopKIndexed(vecs: DataFrame, index: DataFrame,
                     queryId: Long, k: Int): DataFrame = {
    val assigned = vectors(vecs).join(index, Seq("vec_id"))
    rankTail(assigned.filter(col("vec_id") =!= queryId),
      queries(assigned, col("vec_id") === queryId, col("cell").as("qcell")),
      Some(col("cell") === col("qcell")), Seq(col("cell")), k)
  }

  /** Filtered vector search ([[ivfTopK]] with a metadata predicate pushed
    * INSIDE the probed cell): top-k cosine among only the vectors
    * satisfying `pred` — the "vector search WHERE label = x" shape every
    * production ANN store exposes (pgvector/Qdrant filtered search). The
    * predicate lands on the cell scan, after cell assignment and before
    * ranking, so at 100 TB it prunes inside the one partition the probe
    * reads (and with the corpus written `partitionBy(cell, label)`, at
    * planning time). nprobe stays 1: a cell holding fewer than k matches
    * returns fewer rows — surfaced, not silently widened; the recall
    * remedy is more probes, the [[lshTopKMultiprobe]] pattern.
    * `metaCols` ride through assignment so `pred` can reference them. */
  def ivfFilteredTopK(emb: DataFrame, queryId: Long, k: Int, pred: Column,
                      metaCols: Seq[String], nCells: Int = 16): DataFrame =
    ivfProbe(emb, deterministicCentroids(emb, nCells), queryId, k,
      metaCols.map(col), Some(pred))

  /** Per-dimension embedding health statistics: mean, sample stddev, min,
    * max over every dimension — the audit that catches dead dimensions
    * (std ≈ 0 wastes index bytes and distorts cosine), runaway dimensions
    * (one dim dominating the norm), and train/serve drift when compared
    * across snapshots. One posexplode → 64-group aggregation with
    * map-side partials; group count equals the dimensionality, constant
    * in corpus size. avg/std are order-dependent double sums → ROUND(6)
    * (the a6 convention); min/max of floats are exact. */
  def dimStats(emb: DataFrame): DataFrame =
    emb.select(posexplode(toDoubleArray(col("embedding"))).as(Seq("dim", "x")))
      .groupBy(col("dim").cast("long").as("dim"))
      .agg(count(lit(1)).as("n"),
        round(avg(col("x")), 6).as("mean"),
        round(stddev_samp(col("x")), 6).as("std"),
        min(col("x")).as("min_x"), max(col("x")).as("max_x"))
      .orderBy("dim")

  /** Diagonal whitening stats: per-dimension mean and POPULATION std,
    * each ROUND(6)ed before publication — whitening must transform with
    * the PUBLISHED stats (the ml_ece rounded-bins discipline), because
    * the raw aggregates are order-dependent double sums and a last-bit
    * difference between engines would otherwise leak into every whitened
    * coordinate. Degenerate dims (sd = 0 after rounding) publish sd 1.0:
    * a dead dimension passes through centered rather than dividing by
    * zero. One posexplode → dimensionality-constant aggregation; the
    * result is O(dims) rows — a broadcast-scale frame at any corpus
    * size. */
  def whitenStats(emb: DataFrame): DataFrame =
    emb.select(posexplode(toDoubleArray(col("embedding"))).as(Seq("dim", "x")))
      .groupBy(col("dim").cast("long").as("dim"))
      .agg(round(avg(col("x")), 6).as("mu"),
        round(stddev_pop(col("x")), 6).as("sd0"))
      .withColumn("sd", when(col("sd0") === 0.0, lit(1.0)).otherwise(col("sd0")))
      .select("dim", "mu", "sd")
      .orderBy("dim")

  /** Brute-force top-k cosine in DIAGONALLY WHITENED space — the
    * standard retrieval post-processing for anisotropic embedding
    * corpora (mean-center + per-dim unit variance; full ZCA/PCA
    * whitening needs an eigendecomposition and is a model-side concern).
    * The per-dim stats are an O(dims) collect (a scalar probe, like the
    * PageRank node count — dims is a constant, never corpus-sized)
    * embedded as array literals, so the whitening itself is one narrow
    * codegen'd `transform` over the corpus: no join, no shuffle before
    * the bounded top-k. Whitened cosines ROUND(6) with vec_id tiebreak,
    * the [[bruteForceTopK]] determinism convention. */
  def whitenedTopK(emb: DataFrame, queryId: Long, k: Int): DataFrame = {
    val stats = whitenStats(emb).collect() // O(dims) rows
    val musLit = typedLit(stats.map(_.getAs[Double]("mu")))
    val sdsLit = typedLit(stats.map(_.getAs[Double]("sd")))
    val e = vectors(emb, transform(toDoubleArray(col("embedding")), (x, i) =>
      (x - element_at(musLit, (i + 1).cast("int"))) /
        element_at(sdsLit, (i + 1).cast("int"))))
    rankTail(e.filter(col("vec_id") =!= queryId),
      queries(e, col("vec_id") === queryId), None, Nil, k)
  }

  // ------------------------------------------------------------------
  // Product-quantization building blocks. Every PQ path — pqTopK, the
  // IVF-PQ kernel behind ivfPqTopK/ivfPqTopKWith/ivfPqTopKFromIndex,
  // the recall harness, index encoding and the codebook helpers —
  // splits, measures and encodes through these, so a PQ convention
  // (sub-vector bounds, squared-L2 fold, nearest-code tie-break) lives
  // in one place.
  // ------------------------------------------------------------------

  /** Squared L2 as `a·a + b·b − 2·a·b` over the codegen'd [[dotFast]]
    * fold — the same fold the DuckDB oracles replay. */
  private def l2sq(a: Column, b: Column): Column =
    dotFast(a, a) + dotFast(b, b) - lit(2.0) * dotFast(a, b)

  /** Driver-side [[dotFast]] over equal-length arrays: the same ascending
    * fold, so a score computed on the driver is bit-identical to the
    * column form. The norm is `sqrt(dotArr(a, a))`, as [[normFast]]. */
  private def dotArr(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0
    var i = 0
    while (i < a.length) { acc += a(i) * b(i); i += 1 }
    acc
  }

  /** Driver-side [[l2sq]]: `a·a + b·b − 2·a·b` over [[dotArr]]. */
  private def l2sqArr(a: Array[Double], b: Array[Double]): Double =
    dotArr(a, a) + dotArr(b, b) - 2.0 * dotArr(a, b)

  /** `xs` ordered as Spark orders `score DESC, id`: NaN above +∞, −0.0
    * equal to 0.0 (Spark's double ordering), ties to the lower id. */
  private def rankDesc[T](xs: Array[T])(score: T => Double, id: T => Long): Array[T] =
    xs.sortWith { (a, b) =>
      val (sa, sb) = (score(a), score(b))
      val o = if (sa == sb) 0 else java.lang.Double.compare(sb, sa)
      o < 0 || (o == 0 && id(a) < id(b))
    }

  /** Sub-vector `s` (0-based) of a `dim`-vector split into `m` equal
    * subspaces. */
  private def subVector(v: Column, s: Int, m: Int, dim: Int): Column =
    slice(v, s * (dim / m) + 1, dim / m)

  /** `v` as its `m` sub-vectors: a `posexplode` yielding `(s, sub-vector)`. */
  private def subVectors(v: Column, m: Int, dim: Int): Column =
    posexplode(array((0 until m).map(s => subVector(v, s, m, dim)): _*))

  /** Element-wise `a − b`: a vector's residual against a centroid. */
  private def minus(a: Column, b: Column): Column = zip_with(a, b, (x, c) => x - c)

  /** The `(vec_id, ev)` vectors PQ encodes: `v` itself, or with
    * `residual` `v − centroid(cell(v))` (the FAISS IVF-PQ default —
    * residuals cluster tighter than raw vectors). `assigned` carries
    * `(vec_id, v, cell)`, `cents` carries `(cell, cv)`. */
  private def encodedVectors(assigned: DataFrame, cents: DataFrame,
                             residual: Boolean): DataFrame =
    if (!residual) assigned.select(col("vec_id"), col("v").as("ev"))
    else assigned
      .join(broadcast(cents.select(col("cell"), col("cv"))), Seq("cell"))
      .select(col("vec_id"), minus(col("v"), col("cv")).as("ev"))

  /** [[encodedVectors]] as `(vec_id, s, vs)` sub-vector rows. */
  private def encodedSlices(assigned: DataFrame, cents: DataFrame, m: Int,
                            dim: Int, residual: Boolean): DataFrame =
    encodedVectors(assigned, cents, residual)
      .select(col("vec_id"), subVectors(col("ev"), m, dim).as(Seq("s", "vs")))

  /** The deterministic first-`nCodes` codebook over `(vec_id, s, vs)`
    * slices: codeword `code` of subspace `s` is sub-vector `s` of vector
    * `code` — reproducible in the DuckDB oracle, unlike a k-means fit. */
  private def firstCodes(slices: DataFrame, nCodes: Int): DataFrame =
    slices.filter(col("vec_id") < nCodes)
      .select(col("s"), col("vec_id").cast("int").as("code"), col("vs").as("cw"))

  /** Nearest codeword of every `(vec_id, s, vs)` slice — argmin squared
    * L2, ties to the lowest code — as `(vec_id, s, code)`. The codebook is
    * KBs and broadcasts; the rank window partitions by (vec_id, s). */
  private def nearestCodes(slices: DataFrame, codebook: DataFrame): DataFrame =
    slices.join(broadcast(codebook), Seq("s"))
      .withColumn("d2", l2sq(col("vs"), col("cw")))
      .withColumn("rn", row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy("vec_id", "s").orderBy(col("d2"), col("code"))))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("s"), col("code"))

  /** ADC table: squared L2 from each query sub-vector `qvs` of `qslices`
    * to every codeword of its subspace, as `(keys…, s, code, qd2)` —
    * m × nCodes rows per key, broadcast-sized. */
  private def adcTable(codebook: DataFrame, qslices: DataFrame,
                       keys: Column*): DataFrame =
    codebook.join(broadcast(qslices), Seq("s"))
      .select(keys ++ Seq(col("s"), col("code"),
        l2sq(col("qvs"), col("cw")).as("qd2")): _*)

  /** Product-quantization ANN (Jégou et al. 2011) with asymmetric
    * distance computation (ADC): the 64-dim vector splits into `m`
    * subspaces of `dim/m` dims; each sub-vector is encoded as the id of
    * its nearest codeword (argmin squared L2, ties to the lowest code),
    * so a vector stores as `m` small codes — 8 bytes here vs 256 B of
    * floats, a 32× cut. A query never decodes the corpus: its per-
    * subspace distance table to every codeword is built once (m × nCodes
    * rows, broadcast), and a vector's approximate distance is the sum of
    * `m` table lookups on its codes.
    *
    * Codebooks follow the [[ivfTopK]] deterministic convention (the
    * sub-vectors of the first `nCodes` vec_ids), so the ENTIRE pipeline —
    * encode, table, ADC rank — replays bit-for-bit in the DuckDB oracle;
    * a k-means codebook is a drop-in upgrade that changes no dataflow.
    * ADC sums ROUND(6) BEFORE the rank (the catalog convention: a
    * deterministic k-boundary).
    *
    * Scale shape: encoding is one (vector × codeword-per-subspace)
    * broadcast join — the codebook is KBs; the encoded corpus (the thing
    * a 100 TB deployment persists) is m small ints per vector; the ADC
    * scan joins codes to the broadcast query table and reduces map-side.
    * No float vector is touched after encoding. */
  def pqTopK(emb: DataFrame, queryId: Long, k: Int,
             m: Int = 8, nCodes: Int = 16, dim: Int = 64): DataFrame = {
    require(dim % m == 0, "m must divide dim")
    // scan floor: encode is a per-vector broadcast join + window over
    // the scan — measured sf1 solo 2.4 s -> 1.1 s; identity on fan-out
    // inputs (see Tables.scanFloor)
    val slices = graft.Tables.scanFloor(emb)
      .select(col("vec_id"), toDoubleArray(col("embedding")).as("v"))
      .select(col("vec_id"), subVectors(col("v"), m, dim).as(Seq("s", "vs")))
    val codebook = firstCodes(slices, nCodes)
    val qtab = adcTable(codebook, slices.filter(col("vec_id") === queryId)
      .select(col("s"), col("vs").as("qvs")))
    nearestCodes(slices, codebook).filter(col("vec_id") =!= queryId)
      .join(broadcast(qtab), Seq("s", "code"))
      .groupBy(col("vec_id"))
      .agg(round(sum(col("qd2")), 6).as("adc_dist"))
      .orderBy(col("adc_dist"), col("vec_id"))
      .limit(k)
  }

  /** IVF-PQ composed ANN over the deterministic quantizers — the
    * billion-vector serving shape (FAISS `IVFx,PQy` semantics) in the
    * form the DuckDB oracle replays: centroids = the first `nCells`
    * vectors ([[deterministicCentroids]], the [[ivfTopK]] convention),
    * codebook = sub-vectors of the first `nCodes` vectors
    * ([[deterministicCodebook]], the [[pqTopK]] convention) or, with
    * `residual`, of their assigned-cell residuals ([[residualCodebook]]).
    * The corpus is encoded in memory and ranked by the one IVF-PQ kernel
    * that also serves [[ivfPqTopKWith]] and [[ivfPqTopKFromIndex]] — see
    * [[IvfPqKernel]] for the probe, ADC, shortlist and re-rank; the
    * result is computed when the call runs and returned as a local frame.
    * A `queryId` that is not in `emb` fails with an
    * `IllegalArgumentException`. The catalog pins both encodings
    * (`sim_ivfpq_ann`, `sim_ivfpq_res_ann`). */
  def ivfPqTopK(emb: DataFrame, queryId: Long, k: Int, nCells: Int = 16,
                nprobe: Int = 4, m: Int = 8, nCodes: Int = 16,
                shortlist: Int = 50, dim: Int = 64,
                residual: Boolean = false): DataFrame = {
    val codebook =
      if (residual) residualCodebook(emb, nCells, nCodes, m, dim)
      else deterministicCodebook(emb, nCodes, m, dim)
    ivfPqInMemory(emb, deterministicCentroids(emb, nCells), codebook, m, dim,
      residual, queryId, k, nprobe, shortlist)
  }

  /** Mean-pooling of chunk embeddings into a parent-document embedding —
    * the aggregation step of every chunked-retrieval pipeline (embed
    * chunks, pool to a doc vector for coarse search, keep chunk vectors
    * for fine search). Groups by `groupCol` and averages element-wise;
    * returns `(group_id, n_vectors, pooled)` with `pooled` the dense
    * array surface.
    *
    * Scale shape: posexplode to (group, dim, value) then ONE groupBy
    * (group, dim) — a dim-times row inflation but fully relational,
    * map-side combinable, and skew-free (the key space is groups×dims).
    * Reassembly is a bounded per-group collect_list of `dim` structs.
    * A `TypedImperativeAggregate` summing fixed-length buffers (the
    * [[graft.plans.TopK]] pattern) is the constant-factor upgrade; the
    * dataflow and results are identical. */
  def meanPoolEmbeddings(emb: DataFrame, groupExpr: Column): DataFrame = {
    emb.select(groupExpr.as("group_id"),
        posexplode(toDoubleArray(col("embedding"))))
      .groupBy(col("group_id"), col("pos"))
      .agg(avg(col("col")).as("v"), count(lit(1)).as("n"))
      .groupBy(col("group_id"))
      .agg(
        transform(array_sort(collect_list(struct(col("pos"), col("v")))),
          x => x.getField("v")).as("pooled"),
        max("n").as("n_vectors"))
      .select(col("group_id"), col("n_vectors"), col("pooled"))
  }

  /** [[meanPoolEmbeddings]] via the native [[graft.plans.VectorAgg]]
    * fixed-buffer aggregate: one dim-length buffer per (task, group)
    * shuffles instead of `dim` exploded rows per vector, and no per-group
    * reassembly sort. Same results (to the usual shuffle-order ulp). */
  def meanPoolEmbeddingsNative(emb: DataFrame, groupExpr: Column): DataFrame = {
    emb.select(groupExpr.as("group_id"), toDoubleArray(col("embedding")).as("v"))
      .groupBy("group_id")
      .agg(graft.plans.VectorAgg.vectorSum(col("v")).as("sv"),
        count(col("v")).as("n_vectors"))
      .select(col("group_id"), col("n_vectors"),
        transform(col("sv"), x => x / col("n_vectors").cast("double")).as("pooled"))
  }

  /** ANN recall harness — the eval pass every approximate index needs
    * before it gates a production corpus: for each query in `queryIds`,
    * rank the exact brute-force cosine top-k AND the IVF (nprobe=1,
    * [[ivfTopK]] semantics) top-k, and report how much of the exact set
    * the index recovered (`recall = n_hit / n_exact`). Returns one row
    * per query: `(query_id, n_exact, n_approx, n_hit, recall)`; a query
    * alone in its cell reports `n_approx = 0`, and a panel id that is not
    * in the corpus fails the call ([[recallArms]]).
    *
    * Scale shape: the IVF assignment is computed ONCE and persisted (the
    * [[Dedup]] shingle-stream convention — it feeds the query set, the
    * exact side and the probe side; released before returning). The
    * query set is a broadcast of |queryIds| rows; the exact side is the
    * deliberate corpus×queries stream (an EVAL harness over a handful of
    * queries); the probe side touches only the queries' cells. */
  def annRecallIvf(emb: DataFrame, queryIds: Seq[Long], k: Int,
                   nCells: Int = 16): DataFrame =
    recallArms(emb, ivfCentroids(emb, nCells), queryIds, k) { r =>
      r.hits("hit" -> r.ivf)
        .groupBy("qid")
        .agg(count(lit(1)).as("n_exact"), nHit("hit").as("n_hit"))
        // a query alone in its cell has no IVF candidate: n_approx 0
        .join(r.ivf.groupBy("qid").agg(count(lit(1)).as("n_approx")), Seq("qid"), "left")
        .select(col("qid").as("query_id"), col("n_exact"),
          coalesce(col("n_approx"), lit(0L)).as("n_approx"), col("n_hit"),
          recall("n_hit").as("recall"))
    }

  /** The recall harnesses' shared arms. `assigned` is the persisted cell
    * assignment `(vec_id, v, nrm, cell)` against the recall harness's
    * centroids; `qs` the panel `(qid, qcell, qv, qnrm)`; `exact` every
    * panel query's top-k over the whole corpus and `ivf` its nprobe=1
    * top-k within its own cell, both `(qid, vec_id, cos, rk)`; `rank`
    * cuts any `(qid, vec_id, v, nrm, qv, qnrm)` frame to that shape. */
  private final case class RecallArms(assigned: DataFrame, qs: DataFrame,
                                      exact: DataFrame, ivf: DataFrame,
                                      rank: DataFrame => DataFrame) {
    /** `exact` left-joined to each named arm: the flag is true on the
      * exact members that arm also found. */
    def hits(arms: (String, DataFrame)*): DataFrame =
      arms.foldLeft(exact) { case (acc, (flag, arm)) =>
        acc.join(arm.select(col("qid"), col("vec_id"), lit(true).as(flag)),
          Seq("qid", "vec_id"), "left")
      }
  }

  /** Hits counted from a [[RecallArms.hits]] flag. */
  private def nHit(flag: String): Column = coalesce(sum(when(col(flag), 1L)), lit(0L))

  /** `nHit / n_exact`, ROUND(6). */
  private def recall(nHit: String): Column =
    round(col(nHit).cast("double") / col("n_exact").cast("double"), 6)

  /** Build the [[RecallArms]] over `emb` assigned against `cents` `(cell,
    * cv, cnrm)` and roll them up with `report` into one row per panel
    * query, `query_id` first. The result is materialized before the
    * assignment is released. A panel id with no row — one that is not in
    * the corpus — fails the call instead of dropping out of a mean over
    * the rows. The rank windows partition by query id, so no global sort
    * forms; cosines ROUND(6) before every rank. */
  private def recallArms(emb: DataFrame, cents: DataFrame, queryIds: Seq[Long],
                         k: Int)(report: RecallArms => DataFrame): DataFrame = {
    require(queryIds.nonEmpty, "queryIds must be non-empty")
    val assigned = assignCells(vectors(emb), cents)
      .select(col("vec_id"), col("v"), col("nrm"), col("cell"))
      .persist()
    try {
      val qs = queries(assigned, col("vec_id").isin(queryIds: _*),
        col("vec_id").as("qid"), col("cell").as("qcell"))
      val byQuery = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))
      def rank(joined: DataFrame): DataFrame =
        joined.select(col("qid"), col("vec_id"), qcos.as("cos"))
          .withColumn("rk", row_number().over(byQuery)).filter(col("rk") <= k)
      val exact = rank(assigned.crossJoin(broadcast(qs))
        .filter(col("vec_id") =!= col("qid")))
      val ivf = rank(assigned.join(broadcast(qs),
        col("cell") === col("qcell") && col("vec_id") =!= col("qid")))
      val out = report(RecallArms(assigned, qs, exact, ivf, rank))
        .orderBy("query_id")
        .localCheckpoint(eager = true)
      val missing = queryIds.distinct
        .diff(out.select("query_id").collect().map(_.getLong(0)).toSeq)
      if (missing.nonEmpty) throw new IllegalArgumentException(
        s"panel ids ${missing.mkString(", ")} have no recall row: not in the corpus")
      out
    } finally assigned.unpersist()
  }

  /** Recall@k comparison of plain IVF (nprobe=1) vs composed IVF-PQ
    * ([[ivfPqTopK]]: nprobe cells, ADC rank, exact re-rank) against the
    * brute-force ground truth, per query — the eval row that justifies
    * the composed index: at equal (or smaller) scan-byte budget the
    * PQ-compressed multi-cell probe should recover at least the recall
    * of one cell of floats. Returns
    * `(query_id, n_exact, n_hit_ivf, recall_ivf, n_hit_ivfpq,
    * recall_ivfpq)`; a panel id that is not in the corpus fails the call.
    *
    * Same harness as [[annRecallIvf]] ([[recallArms]]): the assignment is
    * computed once and persisted; the query panel, probe sets, ADC tables
    * and shortlist boundaries are all broadcast-sized; every rank window
    * partitions by query id. Cosines and ADC distances ROUND(6) before
    * their rank boundaries (vec_id tiebreak) so both engines agree. */
  def annRecallIvfPq(emb: DataFrame, queryIds: Seq[Long], k: Int,
                     nCells: Int = 16, nprobe: Int = 4, m: Int = 8,
                     nCodes: Int = 16, shortlist: Int = 50,
                     dim: Int = 64): DataFrame =
    annRecallIvfPqWith(emb, deterministicCentroids(emb, nCells),
      deterministicCodebook(emb, nCodes, m, dim), queryIds, k, nprobe, m,
      shortlist, dim)

  /** [[annRecallIvfPq]] with caller-supplied coarse centroids and PQ
    * codebook — the TRAINED-index eval path ([[trainCentroids]] /
    * [[trainCodebook]] produce the inputs; the deterministic first-n
    * convention of [[annRecallIvfPq]] is just one particular choice of
    * these frames and delegates here). `cents` is `(cell LONG, cv
    * ARRAY<DOUBLE>)`, `codebook` is `(s INT, code INT, cw ARRAY<DOUBLE>)`;
    * both are broadcast-sized (O(nCells)/O(m·nCodes) rows) and at 100 TB
    * are persisted as tables once per (re)train, then broadcast at query
    * time — the dataflow downstream of them is IDENTICAL to the
    * deterministic path, so swapping fitted centroids in changes no
    * shuffle, no join strategy, and no determinism convention (ties still
    * break to the lowest cell/code id).
    *
    * The IVF-PQ arm is [[IvfPqKernel]]'s ranking batched over the query
    * panel (every rank window partitions by query id). `residual = true`
    * encodes `v − centroid(cell(v))` and builds the ADC table per probed
    * cell; the codebook passed in must then be residual-trained
    * ([[trainCodebookResidual]]). */
  def annRecallIvfPqWith(emb: DataFrame, centsIn: DataFrame,
                         codebookIn: DataFrame, queryIds: Seq[Long], k: Int,
                         nprobe: Int = 4, m: Int = 8, shortlist: Int = 50,
                         dim: Int = 64, residual: Boolean = false): DataFrame = {
    require(dim % m == 0, "m must divide dim")
    val (cents, codebook) = quantizers(centsIn, codebookIn)
    recallArms(emb, cents, queryIds, k) { r =>
      // ---- IVF-PQ arm (IvfPqKernel conventions, per query id) ----
      val qvecs = r.qs.select("qid", "qv", "qnrm")
      val probed = cents.crossJoin(broadcast(qvecs))
        .withColumn("qccos",
          dotFast(col("cv"), col("qv")) / (col("cnrm") * col("qnrm")))
        .withColumn("pr", row_number().over(
          Window.partitionBy("qid").orderBy(col("qccos").desc, col("cell"))))
        .filter(col("pr") <= nprobe)
        .select(col("qid"), col("cell"))
      val slices = encodedSlices(r.assigned, cents, m, dim, residual)
      val cand = r.assigned.join(broadcast(probed), Seq("cell"))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("cell"), col("vec_id"))
        .join(nearestCodes(slices, codebook), Seq("vec_id"))
      val joined =
        if (!residual) {
          val qsl = slices.join(broadcast(r.qs.select(col("qid"))),
              col("vec_id") === col("qid"))
            .select(col("qid"), col("s"), col("vs").as("qvs"))
          cand.join(broadcast(adcTable(codebook, qsl, col("qid"))),
            Seq("qid", "s", "code"))
        } else {
          // per-probed-cell table: the query's residual differs per cell
          val qsl = probed
            .join(broadcast(r.qs.select(col("qid"), col("qv"))), Seq("qid"))
            .join(broadcast(cents.select(col("cell"), col("cv"))), Seq("cell"))
            .select(col("qid"), col("cell").as("qcell"),
              subVectors(minus(col("qv"), col("cv")), m, dim).as(Seq("s", "qvs")))
          val qtab = adcTable(codebook, qsl, col("qid"), col("qcell"))
          cand.join(broadcast(qtab),
            cand("qid") === qtab("qid") && col("cell") === col("qcell") &&
              cand("s") === qtab("s") && cand("code") === qtab("code"))
            .select(cand("qid"), col("vec_id"), col("qd2"))
        }
      val short = joined
        .groupBy(col("qid"), col("vec_id"))
        .agg(round(sum(col("qd2")), 6).as("adc_dist"))
        .withColumn("sk", row_number().over(
          Window.partitionBy("qid").orderBy(col("adc_dist"), col("vec_id"))))
        .filter(col("sk") <= shortlist)
        .select(col("qid"), col("vec_id"))
      val ivfpq = r.rank(short
        .join(r.assigned.select(col("vec_id"), col("v"), col("nrm")), Seq("vec_id"))
        .join(broadcast(qvecs), Seq("qid")))
      r.hits("h_ivf" -> r.ivf, "h_pq" -> ivfpq)
        .groupBy("qid")
        .agg(count(lit(1)).as("n_exact"), nHit("h_ivf").as("n_hit_ivf"),
          nHit("h_pq").as("n_hit_ivfpq"))
        .select(col("qid").as("query_id"), col("n_exact"),
          col("n_hit_ivf"), recall("n_hit_ivf").as("recall_ivf"),
          col("n_hit_ivfpq"), recall("n_hit_ivfpq").as("recall_ivfpq"))
    }
  }

  /** Bucket id of band `b` (planes `[b*r, (b+1)*r)`) — the banded split of
    * [[lshBucket]], so two vectors agree on band `b` iff they agree on the
    * signs of all `r` of that band's hyperplane projections. */
  def bandBucket(v: Column, b: Int, r: Int, dim: Int): Column =
    (0 until r).map { j =>
      val w = typedLit(planeWeights(b * r + j, dim))
      when(dotFast(v, w) > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Embedding-cosine near-duplicate pairs, LSH-banded — the scale path
    * and the catalog entry: band the `planes` hyperplane signs into
    * `bands` buckets; pairs agreeing on ANY band's bucket become
    * candidates (an equi-join on (band, bucket) — the only pair-forming
    * join, never all-pairs); candidates are verified with exact cosine >
    * threshold. Deterministic (integer-lattice planes), so the DuckDB
    * oracle reproduces the same candidate set and the same final pairs.
    * Approximate by design: pairs above threshold that collide on no band
    * are missed — [[cosineNearDupPairs]] is the exact baseline the unit
    * tests measure recall against. At 100 TB the banded stream is written
    * bucketed-by (band, bucket) and the candidate join is co-located. A
    * vector that is not `dim` long fails the job. */
  def lshNearDupPairs(emb: DataFrame, threshold: Double, planes: Int = 12,
                      bands: Int = 4, dim: Int = 64): DataFrame = {
    require(planes % bands == 0, "bands must divide planes")
    val r = planes / bands
    val e = dimChecked(vectors(emb), dim)
    val banded = e.select(col("vec_id"),
        posexplode(array((0 until bands).map(b => bandBucket(col("v"), b, r, dim)): _*)))
      .select(col("vec_id"), col("pos").as("band"), col("col").as("bucket"))
    val cand = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("id_a"), col("y.vec_id").as("id_b"))
      .distinct()
    verifyPairs(e, threshold)((a, b) =>
      cand.join(a, Seq("id_a")).join(b, Seq("id_b"))).orderBy("id_a", "id_b")
  }

  /** Batched exact top-k — ONE corpus scan serves a whole query panel
    * (the offline-scoring shape: score every eval/benchmark query in one
    * pass instead of |panel| separate corpus scans): the panel broadcasts
    * (q rows), every corpus row scores against all q queries row-locally,
    * and the per-query top-k reduces through the bounded-heap
    * [[panelTail]]. Cosines ROUND(6)ed before ranking with vec_id
    * tiebreak (the [[bruteForceTopK]] determinism convention). Returns
    * `(query_id, rank, vec_id, cos)`. */
  def batchTopK(emb: DataFrame, queryIds: Seq[Long], k: Int): DataFrame =
    batchTopKImpl(vectors(emb), queryIds, k)

  /** [[batchTopK]] over the first `prefixDim` dims re-normalized — the
    * Matryoshka cheap pass ([[mrlTopK]]) batched over a query panel.
    * Same one-corpus-scan / bounded-heap shape; the prefix slice is a
    * row-side projection (at 100 TB store the prefix as its own column
    * so the scan prunes to `prefixDim/dim` of the vector bytes). */
  def mrlBatchTopK(emb: DataFrame, queryIds: Seq[Long], k: Int,
                   prefixDim: Int = 16): DataFrame =
    batchTopKImpl(vectors(emb, toDoubleArray(slice(col("embedding"), 1, prefixDim))),
      queryIds, k)

  /** Two-stage Matryoshka funnel: the prefix-dim cheap pass shortlists
    * `shortlist` candidates per query ([[mrlBatchTopK]] — one corpus
    * scan over `prefixDim/dim` of the vector bytes), then ONLY the
    * shortlist is re-scored with the full-dim cosine and reduced to the
    * final top-k. This is the production ANN shape the raw prefix
    * ranking cannot deliver alone (measured: the prefix finds a weak
    * ORDER even when it finds the set — `ir_rank_quality`): full-dim
    * work drops from O(corpus) to O(panel × shortlist) dot products.
    * The rerank joins the O(panel × shortlist) shortlist BROADCAST
    * against the corpus (equi-join on vec_id — the scan prunes to
    * shortlisted rows), so no corpus-sized shuffle ever forms. */
  def mrlFunnelTopK(emb: DataFrame, queryIds: Seq[Long], k: Int,
                    shortlist: Int = 50, prefixDim: Int = 16): DataFrame = {
    require(shortlist >= k, "shortlist must be >= k")
    val short = mrlBatchTopK(emb, queryIds, shortlist, prefixDim)
      .select(col("query_id"), col("vec_id"))
    val e = vectors(emb)
    panelTail(e.join(broadcast(short), Seq("vec_id"))
      .join(broadcast(panel(e, queryIds)), Seq("query_id")), k)
  }

  /** Panel query rows `(query_id, qv, qnrm)` of vector frame `e`. */
  private def panel(e: DataFrame, queryIds: Seq[Long]): DataFrame =
    queries(e, col("vec_id").isin(queryIds: _*), col("vec_id").as("query_id"))

  /** Every vector of `e` against the broadcast panel, itself excluded,
    * through [[panelTail]]. */
  private def batchTopKImpl(e: DataFrame, queryIds: Seq[Long], k: Int,
                            keepIf: Option[Column] = None): DataFrame = {
    require(queryIds.nonEmpty, "queryIds must be non-empty")
    panelTail(e.crossJoin(broadcast(panel(e, queryIds)))
      .filter(col("vec_id") =!= col("query_id")), k, keepIf)
  }

  /** Hard-negative mining for contrastive training — per panel query,
    * the top-k most-similar candidates whose cosine stays BELOW `maxCos`:
    * "similar enough to be hard, not so similar it's a positive/dup" —
    * the standard negative-sampling rule for training retrieval and
    * embedding models (in-batch negatives are too easy; near-dups are
    * false negatives). Same single-corpus-scan shape as [[batchTopK]]
    * (broadcast query panel, bounded-heap per-query top-k, zero
    * shuffle-sort of scored rows) with the exclusion band applied before
    * the heap, so excluded dups never occupy heap slots. The filter
    * compares the ROUND(6)ed cosine so the band boundary is deterministic
    * on both engines. Returns `(query_id, rank, vec_id, cos)`. */
  def hardNegatives(emb: DataFrame, queryIds: Seq[Long], k: Int,
                    maxCos: Double): DataFrame =
    batchTopKImpl(vectors(emb), queryIds, k, Some(col("cos") < maxCos))

  /** Maximal Marginal Relevance diverse top-k (Carbonell & Goldstein
    * 1998): greedily pick `k` results maximizing
    * `λ·cos(q,d) − (1−λ)·max_{s∈S} cos(d,s)` — relevance traded against
    * redundancy with what is already selected, the standard fix when a
    * plain top-k returns k near-copies of one answer.
    *
    * Scale shape: the RELEVANCE pass is the full-corpus work and runs as
    * [[bruteForceTopK]] (one scan, bounded heap) cut to `poolSize`
    * candidates; the pairwise-cosine frame is a broadcast self-join of
    * the O(poolSize) pool (poolSize² tiny rows); the sequential greedy
    * itself is inherently ordered and runs on the DRIVER over the
    * collected O(poolSize) pool: collect k·dozens of rows, never corpus
    * data. Selection compares UNROUNDED scores built from the
    * ROUND(6)-published cos values
    * (identical inputs + identical IEEE ops on both engines), id
    * tiebreak; `1 − λ` is computed by the same floating subtraction the
    * oracle uses, so the weights match bit-for-bit. Returns
    * `(rank, vec_id, relevance, mmr_score)`. */
  def mmrTopK(emb: DataFrame, queryId: Long, k: Int, poolSize: Int,
              lambda: Double): DataFrame = {
    require(k >= 1 && poolSize >= k, "need poolSize >= k >= 1")
    val session = emb.sparkSession
    val mu = 1.0 - lambda
    val pool = bruteForceTopK(emb, queryId, poolSize) // (vec_id, cos)
    val pv = vectors(emb.join(broadcast(pool.select("vec_id")), Seq("vec_id")))
    val pairs = pv.as("a").crossJoin(broadcast(pv.as("b")))
      .filter(col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        round(dotFast(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm")),
          6).as("pcos"))
    val rel = pool.collect().map(r => r.getLong(0) -> r.getDouble(1))
    val pc = pairs.collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    def pcos(x: Long, y: Long): Double = if (x < y) pc((x, y)) else pc((y, x))
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, Double)]
    val remaining = scala.collection.mutable.LinkedHashMap(rel: _*)
    while (selected.size < k && remaining.nonEmpty) {
      val best = remaining.iterator.map { case (id, c) =>
        val maxSim = if (selected.isEmpty) 0.0
          else selected.iterator.map(s => pcos(id, s._1)).max
        (id, c, lambda * c - mu * maxSim)
      }.maxBy(t => (t._3, -t._1)) // score desc, id tiebreak
      selected += best
      remaining.remove(best._1)
    }
    import session.implicits._
    selected.toSeq.zipWithIndex
      .map { case ((id, c, m), i) => (i + 1, id, c, m) }
      .toDF("rank", "vec_id", "relevance", "mmr_score")
      .withColumn("mmr_score", round(col("mmr_score"), 6))
  }

  /** DBSCAN (Ester et al. 1996) over embedding cosine similarity — the
    * density clustering a dedup triage wants where k-means' fixed k and
    * spherical cells mislead: clusters are maximal sets reachable through
    * `minPts`-dense neighborhoods, everything else is labeled noise.
    *
    * Restated for the banded dataflow: the eps-neighbor relation is
    * [[lshNearDupPairsAuto]] (cosine > `threshold`, candidates only from
    * the (band, bucket) equi-join — never all-pairs); a point is CORE iff
    * its neighborhood (itself + neighbors) has at least `minPts` members;
    * clusters are connected components over CORE-CORE edges
    * ([[Dedup.canonicalComponents]] min-label propagation, canonical =
    * min member id); a non-core point with a core neighbor is a BORDER
    * point attached to its minimum core-cluster label (classic DBSCAN
    * leaves border assignment scan-order-dependent — min-label pins it
    * deterministically); everything else is noise.
    *
    * Scale shape: the pair stream is computed once and persisted (degree
    * count, core-core restriction, and border attach all read it); every
    * stage after pair formation is linear in pairs. Returns one row per
    * input vector: `(vec_id, degree, role core|border|noise, cluster —
    * null for noise)`. */
  def densityClusters(emb: DataFrame, threshold: Double, minPts: Int,
                      targetOccupancy: Int = 63, bands: Int = 4,
                      dim: Int = 64): DataFrame =
    densityClustersFromPairs(emb.select(col("vec_id")),
      lshNearDupPairsAuto(emb, threshold, targetOccupancy, bands, dim)
        .select("id_a", "id_b"), minPts)

  /** The clustering algebra of [[densityClusters]] over a precomputed
    * neighbor-pair relation — split out so the core/border/noise logic is
    * testable on hand-built graphs (the
    * [[Dedup.simhashPairsFromFingerprints]] convention). `nodes` must
    * carry every point as `vec_id` (isolated points never appear in
    * `pairs` but still need their noise row). */
  def densityClustersFromPairs(nodes: DataFrame, pairs: DataFrame,
                               minPts: Int): DataFrame = {
    val pr = pairs.persist()
    try {
      val deg = pr.select(explode(array(col("id_a"), col("id_b"))).as("id"))
        .groupBy("id").agg(count(lit(1)).as("degree"))
      val core = deg.filter(col("degree") + 1 >= minPts).select(col("id"))
      val coreEdges = pr
        .join(core.select(col("id").as("id_a")), Seq("id_a"))
        .join(core.select(col("id").as("id_b")), Seq("id_b"))
      // components label only nodes WITH core-core edges; an isolated
      // core (all its neighbors non-core) is its own cluster
      val comp = Dedup.canonicalComponents(coreEdges)
      val coreLbl = core.join(comp, Seq("id"), "left")
        .select(col("id"), coalesce(col("canonical"), col("id")).as("cluster"))
      val sym = pr.select(explode(array(
          struct(col("id_a").as("src"), col("id_b").as("dst")),
          struct(col("id_b").as("src"), col("id_a").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      val borderLbl = sym
        .join(core.select(col("id").as("src")), Seq("src"), "left_anti")
        .join(coreLbl.select(col("id").as("dst"), col("cluster")), Seq("dst"))
        .groupBy(col("src").as("id")).agg(min(col("cluster")).as("cluster"))
      val result = nodes
        .join(deg.select(col("id").as("vec_id"), col("degree")), Seq("vec_id"), "left")
        .join(coreLbl.select(col("id").as("vec_id"),
          col("cluster").as("c_core"), lit(true).as("is_core")), Seq("vec_id"), "left")
        .join(borderLbl.select(col("id").as("vec_id"),
          col("cluster").as("c_border")), Seq("vec_id"), "left")
        .select(col("vec_id"),
          coalesce(col("degree"), lit(0L)).as("degree"),
          when(col("is_core"), lit("core"))
            .when(col("c_border").isNotNull, lit("border"))
            .otherwise(lit("noise")).as("role"),
          coalesce(col("c_core"), col("c_border")).as("cluster"))
        .orderBy("vec_id")
      result.localCheckpoint(eager = true)
    } finally pr.unpersist()
  }

  /** Band width for [[lshNearDupPairsAuto]]: the smallest r >= 3 with
    * `targetOccupancy * 2^r >= n` (= ceil(log2(n/occupancy)) clamped to
    * [3, 100/bands]), computed with INTEGER arithmetic only — a float
    * log2 differs between engines in the last ulp at exact power-of-two
    * boundaries, which would let the engine and the DuckDB oracle pick
    * different widths for the same n. */
  def bandWidth(n: Long, targetOccupancy: Int, bands: Int): Int = {
    var r = 3
    val rMax = 100 / bands
    while (r < rMax && (targetOccupancy.toLong << r) < n) r += 1
    r
  }

  /** [[lshNearDupPairs]] with data-sized bucket resolution — the 100 TB
    * form. A FIXED band width r is quadratic at scale: the same `2^r`
    * buckets hold 10x rows at 10x data, so the candidate equi-join
    * produces ~100x pairs (measured on this catalog's sf0.1 -> sf1 run:
    * 94x wall time at r=3). This variant spends one count() (precedent:
    * [[Analytics.withGlobalRank]]'s quantile sketch) and widens bands to
    * `r = log2(n / targetOccupancy)`, keeping per-(band,bucket) occupancy
    * — and candidate volume per row — bounded as the corpus grows.
    *
    * Honest tradeoff, documented rather than hidden: sign-LSH recall per
    * band is `p^r` (p = 1 - angle/pi), so recall decays as r grows with
    * the corpus. Guaranteed-recall sub-quadratic similarity join needs
    * the band COUNT to grow polynomially (classic (r,b) LSH theory), not
    * just width — at moderate thresholds on clustered data there is no
    * free lunch; pick the threshold high (true near-dup regime) or pay
    * candidates. Deterministic given n, so the sf0.01 oracle (where
    * r stays 3) remains exact. */
  def lshNearDupPairsAuto(emb: DataFrame, threshold: Double,
                          targetOccupancy: Int = 63, bands: Int = 4,
                          dim: Int = 64): DataFrame = {
    val n = emb.count()
    // cap: the deterministic plane family is aperiodic only up to 101
    // planes (see planeWeights), so bands*r must stay below that
    val r = bandWidth(n, targetOccupancy, bands)
    if (r > 3)
      org.slf4j.LoggerFactory.getLogger(getClass).info(
        s"lshNearDupPairsAuto: n=$n -> band width r=$r (bucket space 2^$r per band)")
    lshNearDupPairs(emb, threshold, planes = bands * r, bands = bands, dim = dim)
  }

  /** Within-cell embedding near-dup pairs — the trained-cells (IVF-style)
    * pair-generation path that BOUNDS the candidate volume where
    * [[lshNearDupPairsAuto]]'s band widening cannot: auto-banding keeps
    * bucket occupancy bounded only in expectation over random directions,
    * and measured sf0.1→sf1 it was the catalog's one super-linear scaler
    * (15.1× wall at 10× data — band width widens 5→9 and the residual
    * hot buckets still blow up). Every vector is assigned to exactly ONE
    * cell (cosine-argmax against `centsIn`, the [[semDedupWith]]
    * assignment), pairs form only within a cell, and with occupancy-sized
    * cell counts over well-spread data the per-cell pair join is
    * O(occupancy²) per cell = O(n·occupancy) total. That bound is an
    * EXPECTATION over the data distribution, not a construction
    * guarantee: cells are Voronoi regions, so a corpus concentrated
    * around one centroid refills that cell and re-creates the quadratic
    * join (the same failure mode as a hot LSH bucket). The production
    * guards are [[trainCentroids]] — fitted centroids track the data's
    * actual modes, splitting dense regions across cells — and a per-cell
    * occupancy audit (the `dx_skew_report` shape) before the join; a
    * cell over budget gets sub-quantized or falls back to banding.
    *
    * Recall tradeoff (the honest half): a near-dup pair straddling a
    * cell boundary is missed — one probe per vector, the SemDeDup
    * posture (Abbas et al. 2023 dedup within k-means clusters). For the
    * true near-dup regime (cos > ~0.9) straddling is rare because both
    * members quantize to the same nearest centroid almost surely; at
    * moderate thresholds pair recall is what SimilaritySpec measures
    * against the exact baseline. `centsIn` takes either the
    * deterministic first-n convention (oracle-replayable) or
    * [[trainCentroids]] output (the production fit) — same plan either
    * way, one broadcast table swaps. */
  def cellNearDupPairs(emb: DataFrame, centsIn: DataFrame,
                       threshold: Double): DataFrame =
    withinCellPairs(assignCells(vectors(emb), centroids(centsIn)), threshold)
      .orderBy("id_a", "id_b")

  /** [[verifyPairs]] over the pairs of `assigned` vectors sharing a cell
    * (a cell equi-join, never all-pairs). */
  private def withinCellPairs(assigned: DataFrame, threshold: Double): DataFrame =
    verifyPairs(assigned, threshold, "cell")((a, b) =>
      a.join(b, Seq("cell")).filter(col("id_a") < col("id_b")))

  /** [[cellNearDupPairs]] with data-sized cell count and the
    * deterministic first-nCells centroid convention — the oracle-
    * replayable form: `nCells = max(16, ceil(n / targetOccupancy))`
    * (integer arithmetic, the [[semDedupAuto]] rule), so per-cell pair
    * volume stays bounded as the corpus grows. The production variant
    * passes [[trainCentroids]] to [[cellNearDupPairs]] directly. */
  def cellNearDupPairsAuto(emb: DataFrame, threshold: Double,
                           targetOccupancy: Int = 64): DataFrame = {
    val n = emb.count()
    val nCells = math.max(16L, (n + targetOccupancy - 1) / targetOccupancy).toInt
    // scan floor on the ASSIGNMENT pass only (the count above is a cheap
    // metadata-ish scan; the O(n·cells·dim) argmax is the heavy stage) —
    // measured sf1 solo 2.5 s -> 0.9 s
    cellNearDupPairs(graft.Tables.scanFloor(emb), deterministicCentroids(emb, nCells),
      threshold)
  }

  /** Sign-bit binary signature of an embedding as two packed 32-bit
    * halves `(bq_lo, bq_hi)` — bit `i` of the signature is `v[i] > 0`.
    * Two INT-range BIGINTs rather than one 64-bit word on purpose: bit 63
    * of a single word is the sign bit, and `1 << 63` is an overflow in
    * engines with checked BIGINT arithmetic (the DuckDB oracle) — the
    * same two-half convention as [[graft.operators.Dedup]]'s portable
    * SimHash. 32 bytes of float becomes 16 bytes of signature per 64
    * dims (raw 256 B → 16 B, a 16× footprint cut): at 100 TB the
    * signature column is what stays hot while the float vectors page. */
  def binarySignature(v: Column, dim: Int): (Column, Column) = {
    require(dim <= 64, s"binarySignature packs at most 64 dims, got $dim")
    def half(range: Range, base: Int): Column = range
      .map(i => when(element_at(v, i + 1) > lit(0.0),
        lit(1L << (i - base))).otherwise(lit(0L)))
      .reduce(_ + _)
    (half(0 until math.min(32, dim), 0),
      if (dim > 32) half(32 until dim, 32) else lit(0L))
  }

  /** Two-stage binary-quantized ANN: Hamming-distance shortlist over the
    * packed sign-bit signatures (bitwise xor + bit_count — no float math
    * touches the corpus), then exact cosine re-rank of the `shortlist`
    * survivors. The signature scan is the 100 TB path: 16 B/vector,
    * codegen'd integer ops, query signature broadcast; only `shortlist`
    * rows reach the float cosine re-rank (at 100 TB the signatures live
    * as their own slim column/table and the shortlist's float vectors are
    * point lookups). Ties at both boundaries break by vec_id, so the
    * result is deterministic. A vector that is not `dim` long fails the
    * search. */
  def binaryTopK(emb: DataFrame, queryId: Long, k: Int,
                 shortlist: Int = 50, dim: Int = 64): DataFrame = {
    val (lo, hi) = binarySignature(col("v"), dim)
    val sig = dimChecked(vectors(emb), dim)
      .withColumn("bq_lo", lo).withColumn("bq_hi", hi)
    val q = queries(sig, col("vec_id") === queryId,
      col("bq_lo").as("q_lo"), col("bq_hi").as("q_hi"))
    val ham = sig.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .withColumn("hamming",
        bit_count(col("bq_lo").bitwiseXOR(col("q_lo"))) +
          bit_count(col("bq_hi").bitwiseXOR(col("q_hi"))))
      .orderBy(col("hamming"), col("vec_id"))
      .limit(shortlist)
      .select(col("vec_id"), col("v"), col("nrm"), col("hamming"))
    rankTail(ham, q, None, Seq(col("hamming")), k)
  }

  /** Matryoshka-style prefix-dimension ANN (Kusupati et al. 2022): rank
    * by cosine over only the FIRST `prefixDim` dimensions (re-normalized
    * over the prefix). With MRL-trained embeddings the prefix carries most
    * of the signal, so the corpus scan reads a `prefixDim/dim` slice of
    * the vector bytes — with parquet storing the prefix as its own column
    * this is pure column pruning at 100 TB. Exact over the slice, so the
    * DuckDB oracle replays it bit-for-bit. */
  def mrlTopK(emb: DataFrame, queryId: Long, k: Int,
              prefixDim: Int = 16): DataFrame = {
    val e = vectors(emb, toDoubleArray(slice(col("embedding"), 1, prefixDim)))
    rankTail(e.filter(col("vec_id") =!= queryId),
      queries(e, col("vec_id") === queryId), None, Nil, k)
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): semantic near-duplicate
    * PRUNING in embedding space. Vectors are coarse-clustered (the
    * [[ivfTopK]] deterministic cell convention — a trained k-means is the
    * drop-in upgrade), duplicate groups are found by exact cosine >
    * `threshold` WITHIN a cell only, and each group keeps exactly ONE
    * member — per the paper, the example with the LOWEST cosine to its
    * cluster centroid (retain the edge of the semantic region, drop the
    * redundant core). Returns the KEPT vectors
    * `(vec_id, cell, centroid_cos)`.
    *
    * Scale shape: pair formation is a cell equi-join — at 100 TB the
    * corpus is written `partitionBy(cell)` so the join is co-located and
    * each cell's pair count is bounded by its occupancy (the paper runs
    * ~100k clusters for exactly this reason); no all-pairs scan exists in
    * the plan. The dup-group collapse reuses
    * [[graft.operators.Dedup.canonicalComponents]] (pointer-jumped label
    * propagation over the O(dups) pair set). Cosines ROUND(6) before
    * every comparison boundary, ties to the lower vec_id — the DuckDB
    * oracle replays the whole pipeline. */
  def semDedup(emb: DataFrame, threshold: Double,
               nCells: Int = 16): DataFrame =
    semDedupWith(emb, deterministicCentroids(emb, nCells), threshold)

  /** [[semDedup]] with caller-supplied centroids `(cell, cv)` — the
    * TRAINED path (SemDeDup's own posture is a fitted k-means; the
    * deterministic first-nCells convention delegates here). Downstream
    * dataflow — cosine-argmax assignment, within-cell pair join,
    * component collapse, lowest-centroid-cos keeper — is identical; only
    * the broadcast centroid table changes, so at 100 TB a retrain swaps
    * one persisted table and re-runs the same plan. */
  def semDedupWith(emb: DataFrame, centsIn: DataFrame,
                   threshold: Double): DataFrame = {
    val assigned = assignCells(vectors(emb), centroids(centsIn))
      .select(col("vec_id"), col("v"), col("nrm"), col("cell"),
        round(col("ccos"), 6).as("centroid_cos"))
      .persist()
    try {
      val groups = Dedup.canonicalComponents(
        withinCellPairs(assigned, threshold).select(col("id_a"), col("id_b")))
      // one keeper per dup group: LOWEST centroid cosine (ROUND(6)ed),
      // ties to the lower vec_id; vectors in no group survive untouched
      val keepers = assigned.join(groups.withColumnRenamed("id", "vec_id"), Seq("vec_id"))
        .withColumn("kr", row_number().over(
          Window.partitionBy("canonical").orderBy(col("centroid_cos"), col("vec_id"))))
        .filter(col("kr") === 1)
        .select(col("vec_id"))
      val grouped = groups.select(col("id").as("vec_id"))
      val result = assigned
        .join(grouped, Seq("vec_id"), "left_anti")
        .select(col("vec_id"), col("cell"), col("centroid_cos"))
        .unionByName(
          assigned.join(keepers, Seq("vec_id"), "left_semi")
            .select(col("vec_id"), col("cell"), col("centroid_cos")))
        .orderBy("vec_id")
      result.localCheckpoint(eager = true)
    } finally assigned.unpersist()
  }

  /** [[semDedup]] with data-sized cell count — the 100 TB form. At a
    * FIXED nCells the within-cell pair join grows quadratically with
    * occupancy (the [[lshNearDupPairsAuto]] fixed-r lesson); this
    * variant spends one count() and sizes `nCells = ceil(n /
    * targetOccupancy)` (floor 16) so per-cell pair volume stays bounded
    * as the corpus grows — SemDeDup's own posture (~100 k clusters at
    * web scale). Centroids keep the deterministic first-nCells
    * convention, so no training pass is introduced. */
  def semDedupAuto(emb: DataFrame, threshold: Double,
                   targetOccupancy: Int = 256): DataFrame = {
    val n = emb.count()
    val nCells = math.max(16L, (n + targetOccupancy - 1) / targetOccupancy).toInt
    semDedup(emb, threshold, nCells)
  }

  // ------------------------------------------------------------------
  // Trained quantizers — the recall upgrade over the deterministic
  // first-n conventions (VERDICT r7 task 1). The reference's own
  // clustering is a FITTED k-means (`Context_analyzer_RoBERTa_fun.py:
  // 104-106`, n_init=10, random_state=42); the deterministic conventions
  // exist for oracle replay, and cap recall@10 at 0.2-0.6 on this
  // corpus. These produce the same (cell, cv) / (s, code, cw) frames the
  // generalized *With paths consume, so training swaps ONE broadcast
  // table and re-runs the identical plan.
  // ------------------------------------------------------------------

  /** Fitted coarse centroids for the IVF/SemDeDup family: MLlib KMeans
    * (k-means|| init, fixed seed → deterministic on fixed input) with the
    * COSINE distance measure — the metric the assignment/probe dataflow
    * ranks by, so trained cells and query-time cells agree. Returns
    * `(cell LONG, cv ARRAY<DOUBLE>)`, `cell` = 0..nCells−1.
    *
    * Scale shape: train on `sampleFraction` of the corpus (k-means
    * centroids stabilize on a sample long before the full pass — FAISS
    * trains IVF coarse quantizers on ~256 vectors/centroid); the fit is
    * a handful of Lloyd passes over the [[trainingSample]], the result is
    * an O(nCells) table persisted once per (re)train and broadcast at
    * query time. Zero vectors carry no direction and are excluded from
    * training (cosine k-means requires non-zero points); they still
    * assign downstream by the shared tie convention. A sample with fewer
    * than `nCells` non-zero vectors fails with an
    * `IllegalArgumentException`. */
  def trainCentroids(emb: DataFrame, nCells: Int, seed: Long = 42,
                     sampleFraction: Double = 1.0,
                     maxIter: Int = 20): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val sample = trainingSample(
      emb.select(col("vec_id"), toDoubleArray(col("embedding")).as("v"))
        .filter(normFast(col("v")) > 0.0),
      sampleFraction, seed, nCells, "nCells")
    val model = new KMeans()
      .setK(nCells).setSeed(seed).setMaxIter(maxIter)
      .setDistanceMeasure("cosine").setFeaturesCol("features")
      .fit(sample.select(array_to_vector(col("v")).as("features")))
    val spark = emb.sparkSession
    import spark.implicits._
    model.clusterCenters.toSeq.zipWithIndex
      .map { case (c, i) => (i.toLong, c.toArray.toSeq) }
      .toDF("cell", "cv")
  }

  /** Fitted per-subspace PQ codebooks (Jégou 2011 §III: an independent
    * k-means per subspace over the sub-vectors, Euclidean — the metric
    * ADC sums): `m` fits of `nCodes` codewords each over `dim/m`-dim
    * slices of the [[trainingSample]], by [[fitSubspaces]]. Returns
    * `(s INT, code INT, cw ARRAY<DOUBLE>)`. */
  def trainCodebook(emb: DataFrame, m: Int = 8, nCodes: Int = 16,
                    dim: Int = 64, seed: Long = 42,
                    sampleFraction: Double = 1.0,
                    maxIter: Int = 20): DataFrame =
    fitSubspaces(emb.select(col("vec_id"), toDoubleArray(col("embedding")).as("ev")),
      m, nCodes, dim, seed, sampleFraction, maxIter)

  /** Residual-trained PQ codebooks (the FAISS IVF-PQ default): per-
    * subspace k-means over `v − centroid(cell(v))` — cell assignment by
    * the shared cosine-argmax convention against `centsIn`. Residuals
    * cluster tighter than raw vectors, so the same codebook budget
    * resolves finer; pair with `annRecallIvfPqWith(..., residual=true)`.
    * Same fit as [[trainCodebook]] ([[fitSubspaces]]), over the
    * residuals, which the sample's one collect computes. */
  def trainCodebookResidual(emb: DataFrame, centsIn: DataFrame, m: Int = 8,
                            nCodes: Int = 16, dim: Int = 64, seed: Long = 42,
                            sampleFraction: Double = 1.0,
                            maxIter: Int = 20): DataFrame = {
    val cents = centroids(centsIn)
    fitSubspaces(encodedVectors(assignCells(vectors(emb), cents), cents, residual = true),
      m, nCodes, dim, seed, sampleFraction, maxIter)
  }

  /** The per-subspace MLlib KMeans loop of [[trainCodebook]] and
    * [[trainCodebookResidual]] over `(vec_id, ev)`: subspace `s` fits
    * with seed `seed + s`, all `m` fits over the one local
    * [[trainingSample]]. The driver loop is over SUBSPACES (m ≈ 8-16,
    * the BPE-argmax scalar-probe precedent), never over data. A sample
    * with fewer than `nCodes` vectors fails with an
    * `IllegalArgumentException`. */
  private def fitSubspaces(vecs: DataFrame, m: Int, nCodes: Int, dim: Int,
                           seed: Long, sampleFraction: Double,
                           maxIter: Int): DataFrame = {
    require(dim % m == 0, "m must divide dim")
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val sample = trainingSample(vecs, sampleFraction, seed, nCodes, "nCodes")
    val spark = vecs.sparkSession
    import spark.implicits._
    (0 until m).flatMap { s =>
      val model = new KMeans()
        .setK(nCodes).setSeed(seed + s).setMaxIter(maxIter)
        .setFeaturesCol("features")
        .fit(sample.select(
          array_to_vector(subVector(col("ev"), s, m, dim)).as("features")))
      model.clusterCenters.toSeq.zipWithIndex
        .map { case (c, i) => (s, i, c.toArray.toSeq) }
    }.toDF("s", "code", "cw")
  }

  /** The training sample of the `(vec_id LONG, vector)` frame `e`,
    * collected in one Spark job and returned as a local single-partition
    * frame ordered by `vec_id` (a key). Below `fraction` 1 a row is kept
    * when `xxhash64(vec_id, seed)` falls in the lowest `fraction` of the
    * hash range: the choice rides on the row's key, where
    * `Dataset.sample` seeds each partition's sampler apart. So the
    * sample, and the k-means|| init's per-partition sampling over it,
    * depend on (data, seed) alone, never on the core count or input
    * split; without this the same corpus trains different quantizers
    * under local[4] and local[32], and a hash-gated catalog entry
    * downstream flaps. The sample is SAMPLE-sized by contract (FAISS
    * trains IVF coarse quantizers on ~256 vectors/centroid). A sample
    * smaller than `k` fails up front, naming both: MLlib would return
    * fewer than `k` centres. */
  private def trainingSample(e: DataFrame, fraction: Double, seed: Long,
                             k: Int, kName: String): DataFrame = {
    val kept =
      if (fraction >= 1.0) e
      else e.filter(shiftrightunsigned(xxhash64(col("vec_id"), lit(seed)), 11) <
        lit(fraction * (1L << 53)))
    val rows = kept.collect().sortBy(_.getLong(0))
    require(rows.length >= k,
      s"the training sample holds ${rows.length} vectors, fewer than $kName = $k")
    e.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), e.schema).coalesce(1)
  }

  /** [[ivfTopK]] with caller-supplied centroids `(cell, cv)` — the
    * trained probe path, the same [[ivfProbe]]. */
  def ivfTopKWith(emb: DataFrame, centsIn: DataFrame, queryId: Long,
                  k: Int): DataFrame =
    ivfProbe(emb, centsIn, queryId, k)

  /** [[ivfPqTopK]] (raw encoding) over caller-supplied centroids `(cell,
    * cv)` and codebook `(s, code, cw)` — the trained billion-vector
    * serving shape: fitted coarse cells for the probe, fitted PQ
    * codewords for the ADC rank, exact re-rank of the shortlist. The
    * corpus is encoded in memory exactly as [[writeIvfPqIndex]] encodes
    * its postings and ranked by the same [[IvfPqKernel]], so this equals
    * [[ivfPqTopKFromIndex]] over a layout exported with the same
    * quantizers. Eager, local result; a `queryId` that is not in `emb`
    * fails with an `IllegalArgumentException`. */
  def ivfPqTopKWith(emb: DataFrame, centsIn: DataFrame, codebookIn: DataFrame,
                    queryId: Long, k: Int, nprobe: Int = 4, m: Int = 8,
                    shortlist: Int = 50, dim: Int = 64): DataFrame =
    ivfPqInMemory(emb, centsIn, codebookIn, m, dim, residual = false,
      queryId, k, nprobe, shortlist)

  /** Encode `emb` in memory against the given quantizers (the
    * [[writeIvfPqIndex]] postings, never written) and rank them with the
    * [[IvfPqKernel]], the query row taken from `emb`'s vector frame: the
    * body of [[ivfPqTopK]] and [[ivfPqTopKWith]]. */
  private def ivfPqInMemory(emb: DataFrame, centsIn: DataFrame,
                            codebookIn: DataFrame, m: Int, dim: Int,
                            residual: Boolean, queryId: Long, k: Int,
                            nprobe: Int, shortlist: Int): DataFrame = {
    require(dim % m == 0, "m must divide dim")
    val e = vectors(emb)
    val (cents, codebook) = quantizers(centsIn, codebookIn)
    IvfPqKernel(encodePostings(e, cents, codebook, m, dim, residual), e, cents,
      codebook, m, dim, residual, "the embedding table")
      .topK(queryId, k, nprobe, shortlist)
  }

  /** Per-cell occupancy audit — the PRE-JOIN guard the cell-bucketed
    * family's scaladocs prescribe ("a per-cell occupancy audit before
    * the join; a cell over budget gets sub-quantized or falls back to
    * banding"), promoted to a first-class operator: per cell, the
    * member count, its share of the corpus, the pair-join cost that
    * cell will incur (`n·(n−1)/2`), and an `over_budget` flag at
    * `factor ×` the expected occupancy. Run this BEFORE
    * [[cellNearDupPairs]]/[[semDedupWith]] on a new corpus: a flagged
    * cell means the Voronoi regions don't match the data's modes and
    * the quadratic within-cell join is about to re-appear (the hot-LSH-
    * bucket failure mode). One aggregation to O(cells) rows. */
  def cellOccupancy(emb: DataFrame, centsIn: DataFrame,
                    expectedOccupancy: Long, factor: Double = 4.0): DataFrame = {
    // scan floor: with occupancy-sized cell counts the argmax assignment
    // is O(n·cells·dim) over a one-split scan (entry-level measurement
    // in SCALE.md round 13); identity on fan-out inputs
    val n = assignCells(vectors(graft.Tables.scanFloor(emb)), centroids(centsIn))
      .groupBy("cell").agg(count(lit(1)).as("n_vecs"))
    n.crossJoin(broadcast(n.agg(sum(col("n_vecs")).as("__t"))))
      .select(col("cell"), col("n_vecs"),
        round(col("n_vecs").cast("double") / col("__t").cast("double"), 6)
          .as("share"),
        // Spark's `/` is double division; exact here (counts < 2^26) and
        // pinned back to the oracle's BIGINT
        (col("n_vecs") * (col("n_vecs") - 1) / 2).cast("long").as("pair_cost"),
        (col("n_vecs").cast("double") >
          lit(factor) * lit(expectedOccupancy).cast("double")).as("over_budget"))
      .orderBy(col("n_vecs").desc, col("cell"))
  }

  // ------------------------------------------------------------------
  // Serving-layout index export (r11 VERDICT task 6): the batch half of
  // the "online ANN serving does not fit Spark" boundary. The trained
  // IVF/PQ artifacts (coarse centroids, PQ codebook, encoded postings)
  // are persisted as ONE versioned parquet layout that a query can be
  // replayed from ALONE — no access to the original embedding table, no
  // in-memory state. At 100 TB this is the handoff contract: Spark
  // builds/refreshes `v=N+1` while serving reads `v=N`; the postings
  // are partitionBy(cell), so a probe's scan is partition-pruned to its
  // nprobe cells (the FAISS inverted-list locality, expressed as
  // parquet partitioning). The layout keeps raw vectors alongside the
  // PQ codes (FAISS's IVFPQ+Refine posture) so the exact re-rank stage
  // needs nothing outside the index.
  // ------------------------------------------------------------------

  /** The deterministic-convention centroid table `(cell, cv)`: the first
    * `nCells` vectors (the IVF convention every sim_* oracle replays).
    * Every first-`nCells` caller builds its centroids here. */
  def deterministicCentroids(emb: DataFrame, nCells: Int = 16): DataFrame =
    emb.select(col("vec_id"), toDoubleArray(col("embedding")).as("v"))
      .filter(col("vec_id") < nCells)
      .select(col("vec_id").as("cell"), col("v").as("cv"))

  /** The deterministic raw codebook — sub-vectors of the first `nCodes`
    * vectors ([[pqTopK]]'s convention), the quantizer
    * `ivfPqTopK(residual = false)` encodes with and the `sim_index_export`
    * layout is written with. */
  def deterministicCodebook(emb: DataFrame, nCodes: Int = 16, m: Int = 8,
                            dim: Int = 64): DataFrame = {
    require(dim % m == 0, "m must divide dim")
    firstCodes(emb.select(col("vec_id"),
      subVectors(toDoubleArray(col("embedding")), m, dim).as(Seq("s", "vs"))), nCodes)
  }

  /** The deterministic residual codebook — sub-vectors of the first
    * `nCodes` vectors' ASSIGNED-CELL residuals against
    * [[deterministicCentroids]], the quantizer `ivfPqTopK(residual =
    * true)` encodes with and the `sim_index_export_res` layout is
    * written with, so the layout replay stays bit-identical to the
    * in-memory path. */
  def residualCodebook(emb: DataFrame, nCells: Int = 16, nCodes: Int = 16,
                       m: Int = 8, dim: Int = 64): DataFrame = {
    require(dim % m == 0, "m must divide dim")
    val cents = ivfCentroids(emb, nCells)
    firstCodes(encodedSlices(assignCells(vectors(emb), cents), cents, m, dim,
      residual = true), nCodes)
  }

  /** Handle over an exported index: manifest fields + the three frames.
    * `residual` records the ENCODING the postings' codes carry — the
    * layout is self-describing, so the serving read path never needs to
    * be told which variant it opened. */
  final case class IvfPqIndex(version: Int, dim: Int, m: Int, nCodes: Int,
                              nCells: Long, nVectors: Long, residual: Boolean,
                              cents: DataFrame, codebook: DataFrame,
                              postings: DataFrame)

  /** Quantizer frames in the types the encoder and kernel join on:
    * centroids `(cell LONG, cv, cnrm)`, codebook `(s INT, code INT, cw)`. */
  private def quantizers(centsIn: DataFrame,
                         codebookIn: DataFrame): (DataFrame, DataFrame) =
    (centroids(centsIn),
      codebookIn.select(col("s").cast("int").as("s"),
        col("code").cast("int").as("code"), col("cw")))

  /** Export the IVF-PQ index for `emb` under `dir/v=<version>/`:
    * `centroids` (cell, cv), `codebook` (s, code, cw), `postings`
    * (vec_id, codes, v, nrm; parquet-partitioned by cell), `manifest`
    * (one row: version/dim/m/n_codes/n_cells/n_vectors/residual).
    * Assignment and encoding are [[encodePostings]], the encoder the
    * in-memory paths rank, so a query replayed from the layout is
    * bit-identical to the in-memory path — the `sim_index_export` entry
    * hash-gates that equivalence against the same DuckDB oracle as
    * `sim_ivfpq_ann`.
    *
    * `residual = true` encodes `v − centroid(cell(v))` instead of `v`
    * (the FAISS IVFx,PQy default — `sim_ivfpq_res_ann`'s convention);
    * the caller then supplies a residual-trained codebook, and the flag
    * lands in the manifest so [[ivfPqTopKFromIndex]] builds the
    * per-probed-cell ADC table the encoding requires. The
    * `sim_index_export_res` entry hash-gates this variant against the
    * same oracle as `sim_ivfpq_res_ann`.
    *
    * Geometry is checked before anything is written: the codebook must
    * hold subspaces 0..m−1 of `dim/m`-long codewords and every centroid
    * must be `dim` long (the native dot is NULL on a length mismatch,
    * which would silently encode every sub-vector as code 0); encoding
    * fails on a vector that is not `dim` long. */
  def writeIvfPqIndex(emb: DataFrame, centsIn: DataFrame, codebookIn: DataFrame,
                      dir: String, version: Int, m: Int = 8,
                      dim: Int = 64, residual: Boolean = false): Unit = {
    require(dim % m == 0, "m must divide dim")
    val base = s"$dir/v=$version"
    val (cents, codebook) = quantizers(centsIn, codebookIn)
    // the aggregates the manifest needs anyway, widened to carry the
    // geometry check (no extra job)
    val cb = codebook.agg(max(col("code")), sort_array(collect_set(col("s"))),
      min(size(col("cw"))), max(size(col("cw")))).head()
    require(cb.getSeq[Int](1) == (0 until m) &&
      cb.get(2) == dim / m && cb.get(3) == dim / m,
      s"codebook has subspaces ${cb.getSeq[Int](1).mkString("[", ",", "]")} of " +
        s"${cb.get(2)}..${cb.get(3)}-long codewords; m = $m over dim = $dim " +
        s"needs subspaces 0..${m - 1} of ${dim / m}-long codewords")
    val ct = cents.agg(count(lit(1)), min(size(col("cv"))), max(size(col("cv"))))
      .head()
    require(ct.get(1) == dim && ct.get(2) == dim,
      s"centroids are ${ct.get(1)}..${ct.get(2)} long, the index has dim = $dim")
    cents.select(col("cell"), col("cv")).write.mode("overwrite")
      .parquet(s"$base/centroids")
    codebook.write.mode("overwrite").parquet(s"$base/codebook")
    encodePostings(vectors(emb), cents, codebook, m, dim, residual)
      .write.mode("overwrite").partitionBy("cell").parquet(s"$base/postings")
    // the count of the written postings, not of `emb`: no recompute of
    // the input frame
    val spark = emb.sparkSession
    writeManifest(spark, base, version, dim, m, cb.getInt(0) + 1, ct.getLong(0),
      readPostings(spark, s"$base/postings").count(), residual)
  }

  /** Assignment + PQ encoding: the postings of [[writeIvfPqIndex]] (full
    * builds) and [[appendIvfPqDelta]] (incremental batches) and the
    * in-memory corpus of [[ivfPqTopK]]/[[ivfPqTopKWith]] — one encoder
    * by construction, so compaction merging stored base postings with a
    * delta is bit-identical to a from-scratch rebuild over the merged
    * corpus (IndexCompactSpec pins it), and a layout replay equals the
    * in-memory query. Expects `(vec_id, v, nrm)` input and [[quantizers]]
    * frames; emits the postings schema `(vec_id, cell, codes, v, nrm)`.
    * A vector that is not `dim` long fails the job. */
  private def encodePostings(e: DataFrame, cents: DataFrame,
                             codebook: DataFrame, m: Int, dim: Int,
                             residual: Boolean): DataFrame = {
    val assigned = assignCells(dimChecked(e, dim), cents)
      .select(col("vec_id"), col("v"), col("nrm"), col("cell"))
    val codes = nearestCodes(encodedSlices(assigned, cents, m, dim, residual), codebook)
      // codes as ONE array ordered by subspace (collect_list order is
      // engine-nondeterministic; the struct sort pins it)
      .groupBy("vec_id")
      .agg(transform(sort_array(collect_list(struct(col("s"), col("code")))),
        x => x.getField("code")).as("codes"))
    assigned.join(codes, Seq("vec_id"))
      .select(col("vec_id"), col("cell"), col("codes"), col("v"), col("nrm"))
  }

  /** Does `dir` hold a committed parquet write? Probed via the Hadoop
    * FileSystem resolved from the path itself — NOT `java.io.File`, which
    * on any non-local dir (HDFS/S3A) would answer false and make
    * [[compactIvfPqIndex]] silently roll v=N+1 WITHOUT the accumulated
    * delta (silent data loss, not an error). The `_SUCCESS` marker is the
    * committer's own commit record, so "marker present" ≡ "a complete
    * delta exists" on every Hadoop-committed filesystem. */
  private def committedDirExists(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir, "_SUCCESS")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** A postings-schema parquet dir (base postings or delta), read with
    * the schema [[encodePostings]] fixes: nothing is inferred, and the
    * `cell` partition column comes back as LONG. */
  private def readPostings(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema("vec_id BIGINT, codes ARRAY<INT>, v ARRAY<DOUBLE>, " +
      "nrm DOUBLE, cell BIGINT").parquet(dir)

  /** The one manifest + quantizer reader: `dir/v=<version>`'s manifest
    * fields and centroid/codebook frames, over the given postings (append
    * never touches the base postings, so it does not open them). Every
    * part is read with the schema its writer fixes, so opening a layout
    * runs one job, the manifest read. Manifests written before the
    * residual variant existed lack the `residual` column; they are all
    * raw-encoded by construction, so the absent column reads as null,
    * taken as false (additive schema evolution). */
  private def readLayout(spark: SparkSession, dir: String, version: Int,
                         postings: => DataFrame): IvfPqIndex = {
    val base = s"$dir/v=$version"
    val mf = spark.read.schema("version INT, dim INT, m INT, n_codes INT, " +
      "n_cells BIGINT, n_vectors BIGINT, residual BOOLEAN")
      .parquet(s"$base/manifest").collect()(0)
    IvfPqIndex(
      version = mf.getInt(0), dim = mf.getInt(1), m = mf.getInt(2),
      nCodes = mf.getInt(3), nCells = mf.getLong(4), nVectors = mf.getLong(5),
      residual = !mf.isNullAt(6) && mf.getBoolean(6),
      cents = spark.read.schema("cell BIGINT, cv ARRAY<DOUBLE>")
        .parquet(s"$base/centroids"),
      codebook = spark.read.schema("s INT, code INT, cw ARRAY<DOUBLE>")
        .parquet(s"$base/codebook"),
      postings = postings)
  }

  /** The manifest row of layout `base`, written last: a layout version
    * is committed once its manifest lands. */
  private def writeManifest(spark: SparkSession, base: String, version: Int,
                            dim: Int, m: Int, nCodes: Int, nCells: Long,
                            nVectors: Long, residual: Boolean): Unit = {
    import spark.implicits._
    Seq((version, dim, m, nCodes, nCells, nVectors, residual))
      .toDF("version", "dim", "m", "n_codes", "n_cells", "n_vectors", "residual")
      .coalesce(1).write.mode("overwrite").parquet(s"$base/manifest")
  }

  /** Encode an ingest batch against an EXISTING layout's quantizers and
    * persist it as that version's accumulated delta state
    * (`dir/v=<version>/delta/`, postings schema, cell-partitioned) —
    * the accumulate half of the nightly append→compact lifecycle (ref:
    * the job-artifact refresh loop `pipeline_helpers.py:63-77`). Reads
    * the manifest for m/dim/residual (the layout is self-describing;
    * the caller never restates geometry) and ONLY the quantizer frames
    * — O(batch) work, the base postings are never touched. Repeated
    * calls accumulate by vec_id (append semantics; a re-sent vec_id
    * replaces its earlier delta row — last write wins, matching the
    * upsert [[compactIvfPqIndex]] applies against the base). A batch
    * vector that is not the manifest's `dim` long fails the append
    * before the accumulated delta is replaced. */
  def appendIvfPqDelta(batch: DataFrame, dir: String, version: Int): Unit = {
    val spark = batch.sparkSession
    val idx = readLayout(spark, dir, version, spark.emptyDataFrame)
    val (cents, codebook) = quantizers(idx.cents, idx.codebook)
    val deltaDir = s"$dir/v=$version/delta"
    val fresh = encodePostings(vectors(batch), cents, codebook, idx.m, idx.dim,
      idx.residual)
    val merged =
      if (!committedDirExists(spark, deltaDir)) fresh
      else {
        // parquet can't overwrite its own input mid-plan: materialize the
        // merge (bounded: a delta is one ingest window) before the rewrite
        // deletes the prior delta — which also surfaces an encoding
        // failure while the prior delta is still intact
        val prior = readPostings(spark, deltaDir)
        prior.join(fresh.select("vec_id"), Seq("vec_id"), "left_anti")
          .unionByName(fresh)
          .localCheckpoint(true)
      }
    merged.write.mode("overwrite").partitionBy("cell").parquet(deltaDir)
  }

  /** Merge a layout version's accumulated delta into the NEXT layout
    * version — the nightly close of the batch/serving handoff (r13
    * VERDICT task 3): postings(v=N) upserted with delta (delta wins on
    * vec_id collision, the [[readIvfPqIndexWithDelta]] overlay) →
    * postings(v=N+1), quantizers copied UNCHANGED (compaction
    * reorganizes layout, never geometry — a query probes the same cells
    * before and after), manifest rewritten with the new version and
    * count. Pure layout-level work: reads codes + raw vectors from
    * parquet and rewrites cell partitions — the base corpus is never
    * re-assigned or re-encoded, so the nightly run costs O(index +
    * delta), not O(corpus × training). Version directories are
    * immutable once their manifest lands: readers replaying v=N are
    * untouched mid-compaction, and a compaction whose v=N+1 is already
    * committed (a re-run job) fails instead of rewriting it under its
    * readers (IndexCompactSpec pins reader isolation, the refusal and
    * compacted ≡ from-scratch-rebuild equality; the `sim_index_compact`
    * entry hash-gates the v=N+1 replay against a full-recompute DuckDB
    * oracle). Returns the new version number. */
  def compactIvfPqIndex(spark: SparkSession, dir: String,
                        fromVersion: Int): Int = {
    val toVersion = fromVersion + 1
    val to = s"$dir/v=$toVersion"
    if (committedDirExists(spark, s"$to/manifest"))
      throw new IllegalStateException(s"$to is already committed; layout " +
        s"versions are immutable, so v=$fromVersion cannot be compacted into it again")
    val from = readIvfPqIndexWithDelta(spark, dir, fromVersion)
    from.cents.write.mode("overwrite").parquet(s"$to/centroids")
    from.codebook.write.mode("overwrite").parquet(s"$to/codebook")
    from.postings.write.mode("overwrite").partitionBy("cell").parquet(s"$to/postings")
    writeManifest(spark, to, toVersion, from.dim, from.m, from.nCodes,
      from.nCells, readPostings(spark, s"$to/postings").count(), from.residual)
    toVersion
  }

  /** Open an exported index: reads the manifest ([[readLayout]]) and
    * binds the three frames. */
  def readIvfPqIndex(spark: SparkSession, dir: String, version: Int): IvfPqIndex =
    readLayout(spark, dir, version, readPostings(spark, s"$dir/v=$version/postings"))

  /** Open v=N with its accumulated UN-COMPACTED delta overlaid on the
    * postings — the state a serving fleet is actually in between
    * nightly compactions (ref: the job-artifact refresh loop
    * `pipeline_helpers.py:63-77`): reads land on base ∪ delta with
    * delta-wins-on-collision, the very upsert [[compactIvfPqIndex]]
    * writes out, so compaction is TRANSPARENT to readers — the
    * `sim_index_query_delta` entry hash-proves a query over this
    * overlay equals the same query over the compacted v=N+1. The query
    * row of [[ivfPqTopKFromIndex]] comes from the overlay too, so an
    * updated id queries with its delta vector.
    *
    * Scale shape: the delta is one ingest window — batch-sized — so its
    * vec_id set is read once here and drops the replaced rows from the
    * base scan as a literal set; no join remains, so a filter on `cell`
    * prunes the partitions of both branches when the plan is built (the
    * serving query's `cell IN (…)`; IndexCompactSpec pins the
    * partitions read). No committed delta → the plain [[readIvfPqIndex]]
    * result. */
  def readIvfPqIndexWithDelta(spark: SparkSession, dir: String,
                              version: Int): IvfPqIndex = {
    val base = readIvfPqIndex(spark, dir, version)
    val deltaDir = s"$dir/v=$version/delta"
    if (!committedDirExists(spark, deltaDir)) base
    else {
      val delta = readPostings(spark, deltaDir)
      val replaced = delta.select("vec_id").collect().map(_.getLong(0))
      base.copy(postings = base.postings
        .filter(!col("vec_id").isin(replaced.toIndexedSeq: _*))
        .unionByName(delta))
    }
  }

  /** IVF-PQ top-k replayed from an exported layout ALONE — the serving
    * read path: the [[IvfPqKernel]] over the index's postings and
    * quantizers, with the encoding taken from the manifest's `residual`
    * flag (not a caller argument — the layout is self-describing) and
    * the query row read from the postings (base ∪ delta for
    * [[readIvfPqIndexWithDelta]]). The probe and the ADC table run on
    * the driver; the one postings scan filters on a literal
    * `cell IN (…)`, so it is partition-pruned to the probed cells when
    * the plan is built, and the exact re-rank reads the index's own raw
    * vectors. The result is computed when the call runs and returned as
    * a local frame. A `queryId` that is not in the index fails with an
    * `IllegalArgumentException` naming the id and the version. The
    * kernel is the one the in-memory paths rank with, so the replay
    * equals [[ivfPqTopKWith]] / [[ivfPqTopK]] over the same quantizers;
    * the catalog proves it by hash against the `sim_ivfpq_ann`
    * (`sim_index_export`) and `sim_ivfpq_res_ann`
    * (`sim_index_export_res`) oracles. */
  def ivfPqTopKFromIndex(idx: IvfPqIndex, queryId: Long, k: Int,
                         nprobe: Int = 4, shortlist: Int = 50): DataFrame =
    indexKernel(idx).topK(queryId, k, nprobe, shortlist)

  /** The [[IvfPqKernel]] of an exported layout: its postings, with the
    * query row read from them. */
  private[graft] def indexKernel(idx: IvfPqIndex): IvfPqKernel =
    IvfPqKernel(idx.postings, idx.postings, idx.cents, idx.codebook, idx.m,
      idx.dim, idx.residual, s"index version v=${idx.version}")

  /** THE IVF-PQ kernel (FAISS `IVFx,PQy` semantics) over `postings`
    * `(vec_id, cell, codes, v, nrm)` — an exported layout's or the
    * in-memory [[encodePostings]] output — and the quantizers they were
    * encoded with, centroids `(cell, cv)` and codebook `(s, code, cw)`.
    * The query row `(v, nrm)` comes from the vector frame `qvecs`
    * `(vec_id, v, nrm)`; `where` names that frame in the error an absent
    * id raises. The quantizers are KBs and a query reads nprobe cells,
    * so the query-sized work runs on the driver:
    *
    *  1. probe (driver): the query's `nprobe` nearest cells by centroid
    *     cosine, ties to the lowest cell;
    *  2. ADC table (driver): squared L2 from the query's sub-vectors to
    *     every codeword, m × nCodes entries, or with `residual` one table
    *     per probed cell over the query's residual against that cell's
    *     centroid;
    *  3. shortlist (one scan): the probed cells' postings — a literal
    *     `cell IN (…)`, so a partitioned scan is pruned when the plan is
    *     built — the query itself excluded, each row scored with its
    *     ROUND(6) ADC sum (its codes looked up in the table, passed as a
    *     literal array) and its ROUND(6) exact cosine; the `shortlist`
    *     lowest by `(adc_dist, vec_id)`;
    *  4. re-rank (driver): the top `k` of the shortlist by
    *     `(cos DESC, vec_id)`.
    *
    * The driver-side scores use the ascending folds of [[dotArr]] /
    * [[l2sqArr]] and Spark's double ordering ([[rankDesc]]), so every
    * score and tie-break is bit-identical to the column forms the DuckDB
    * oracles replay. A query runs four Spark jobs — the query row, the
    * two quantizer reads and the shortlist scan — plus whatever
    * `postings` and `qvecs` cost to compute. The query's id and norm
    * enter both scans by reference ([[graft.plans.ReferencedLiteral]]),
    * so every query's scans generate the same code: compiled once, then
    * served from Spark's codegen cache already JIT-compiled. */
  private[graft] final case class IvfPqKernel(postings: DataFrame, qvecs: DataFrame,
                                              cents: DataFrame, codebook: DataFrame,
                                              m: Int, dim: Int, residual: Boolean,
                                              where: String) {

    /** Steps 1-3: fetches the query row and the quantizers, and returns
      * the shortlist scan `(vec_id, cell, adc_dist, cos)`, not yet run. */
    def shortlist(queryId: Long, nprobe: Int, n: Int): DataFrame = {
      val q = qvecs.filter(col("vec_id") === refLit(queryId)).select(col("v"), col("nrm"))
        .collect().headOption.getOrElse(throw new IllegalArgumentException(
          s"query id $queryId is not in $where"))
      val (qv, qnrm) = (q.getSeq[Double](0).toArray, q.getDouble(1))
      require(qv.length == dim,
        s"vector $queryId has ${qv.length} dims, the index has dim = $dim")
      val cs = cents.select(col("cell").cast("long"), col("cv")).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      val cb = codebook.select(col("s").cast("int"), col("code").cast("int"), col("cw"))
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
      val sub = dim / m
      require(cs.forall(_._2.length == dim) && cb.nonEmpty &&
        cb.forall { case (s, code, cw) => s >= 0 && s < m && code >= 0 && cw.length == sub },
        s"quantizers do not fit dim = $dim split into m = $m subspaces")
      val probed = rankDesc(cs.map { case (cell, cv) =>
        (cell, cv, dotArr(cv, qv) / (math.sqrt(dotArr(cv, cv)) * qnrm))
      })(_._3, _._1).take(nprobe)
      // the ADC table of query (or residual) vector `x`, indexed
      // s·nCodes + code; a code the codebook lacks is never looked up
      val nCodes = cb.map(_._2).max + 1
      def table(x: Array[Double]): Seq[Double] = {
        val t = Array.fill(m * nCodes)(Double.NaN)
        for ((s, code, cw) <- cb)
          t(s * nCodes + code) = l2sqArr(x.slice(s * sub, s * sub + sub), cw)
        t.toSeq
      }
      val tab = typedlit(
        if (!residual) table(qv)
        else probed.toSeq.flatMap { case (_, cv, _) =>
          table(qv.zip(cv).map { case (x, c) => x - c })
        })
      val cells = probed.map(_._1).toSeq
      // a residual row's table is its cell's slot among the probed cells
      val slot =
        if (!residual) lit(0)
        else (array_position(typedlit(cells), col("cell")).cast("int") - 1) * (m * nCodes)
      val adc = (0 until m).foldLeft(lit(0.0)) { (acc, s) =>
        acc + element_at(tab, slot + col("codes").getItem(s) + (s * nCodes + 1))
      }
      postings.filter(col("cell").isin(cells: _*) && col("vec_id") =!= refLit(queryId))
        .withColumn("qv", typedlit(qv.toSeq)).withColumn("qnrm", refLit(qnrm))
        .select(col("vec_id"), col("cell"), round(adc, 6).as("adc_dist"), qcos.as("cos"))
        .orderBy(col("adc_dist"), col("vec_id"))
        .limit(n)
    }

    /** Steps 1-4, run when called: the top `k` `(vec_id, cell, adc_dist,
      * cos)` as a local frame. */
    def topK(queryId: Long, k: Int, nprobe: Int, shortlist: Int): DataFrame = {
      val short = this.shortlist(queryId, nprobe, shortlist)
      val top = rankDesc(short.collect())(_.getDouble(3), _.getLong(0)).take(k)
      short.sparkSession.createDataFrame(java.util.Arrays.asList(top: _*), short.schema)
    }
  }

  /** A selected center `(c_id, cv, cnrm)` from a vector frame's row. */
  private def asCenter: Seq[Column] =
    Seq(col("vec_id").as("c_id"), col("v").as("cv"), col("nrm").as("cnrm"))

  /** Cosine distance `1 − cos` of the row's `(v, nrm)` to a center. */
  private def centerDist(cv: Column, cnrm: Column): Column =
    lit(1.0) - dotFast(col("v"), cv) / (col("nrm") * cnrm)

  /** Greedy k-center coreset selection (farthest-point sampling,
    * Gonzalez 1985) over an embedding corpus — the standard geometric
    * data-selection pass a training pipeline runs to pick a maximally
    * spread subset (coreset papers — Sener & Savarese 2018 active
    * learning — use exactly this greedy, which is a 2-approximation to
    * the optimal k-center cover). Distance is cosine distance
    * (1 − cos); the seed is the lowest `vec_id` (deterministic), each
    * subsequent pick is the point FARTHEST from its nearest selected
    * center (ties to the lower `vec_id`).
    *
    * Returns `(sel_rank, vec_id, radius)` where `radius` is the chosen
    * point's distance-to-selected-set at selection time — the covering
    * radius the selection guarantees after that pick (non-increasing in
    * rank; the seed has no prior set, radius NULL).
    *
    * Scale shape: O(n·k), never O(n²) — the state is one `(vec_id, v,
    * nrm, mind)` frame holding each point's distance to its NEAREST
    * selected center; each round is (a) a one-row argmax
    * (`TakeOrderedAndProject` — a per-partition top-1 then a driver-side
    * merge of 32 candidate rows, no full sort) and (b) one broadcast
    * crossJoin of that single row to fold the new center into `mind`
    * with `least` — a map-only pass over the corpus. Per-round
    * `localCheckpoint` keeps the lineage linear (the [[graft.operators
    * .Tokenizer.bpeTrain]] discipline). All vector math uses the
    * [[dotFast]]/[[normFast]] ascending left folds, so the DuckDB
    * oracle's unrolled-CTE replay is bit-identical and the argmax picks
    * the same point every round. */
  def kCenterCoreset(emb: DataFrame, k: Int): DataFrame = {
    require(k >= 1, "k-center needs at least one center")
    // the state is re-scanned k times (argmax + fold per round), so the
    // one-split small-SF parquet layout would serialize every round —
    // the scan-floor fan-out pays for itself k times over (the SQ/PQ
    // code-scan measurement in SCALE.md round 13; identity at scale)
    val en = vectors(graft.Tables.scanFloor(emb))
    val seed = en.orderBy("vec_id").limit(1)
      .select(asCenter: _*)
      .transform(Iter.checkpoint)
    var picks = seed.select(lit(1).as("sel_rank"), col("c_id").as("vec_id"),
      lit(null).cast("double").as("radius"))
    // mind = cosine distance to the nearest selected center so far; the
    // self-row lands at 1 − dot(v,v)/(nrm·nrm) ≈ 0 (not exactly — nrm is
    // a sqrt — but the oracle computes the identical expression, so the
    // tiny residual agrees bit-for-bit and never perturbs the argmax)
    var st = en.crossJoin(broadcast(seed))
      .select(col("vec_id"), col("v"), col("nrm"),
        centerDist(col("cv"), col("cnrm")).as("mind"))
      .transform(Iter.checkpoint)
    for (r <- 2 to k) {
      val top = st.orderBy(col("mind").desc, col("vec_id")).limit(1)
        .select(asCenter :+ col("mind").as("mrad"): _*)
        .transform(Iter.checkpoint)
      picks = picks.unionByName(top.select(lit(r).as("sel_rank"),
        col("c_id").as("vec_id"), round(col("mrad"), 6).as("radius")))
      if (r < k) st = st.crossJoin(broadcast(top.select("c_id", "cv", "cnrm")))
        .select(col("vec_id"), col("v"), col("nrm"),
          least(col("mind"), centerDist(col("cv"), col("cnrm"))).as("mind"))
        .transform(Iter.checkpoint)
    }
    picks.orderBy("sel_rank")
  }

  /** Coverage audit of a selected center set — the quality metric a
    * selection pass ([[kCenterCoreset]], [[kMeansParOversample]]) is
    * judged by: every corpus point's cosine distance to its NEAREST
    * selected center, rolled up into the achieved covering radius
    * (max), the mean, and the p90 — one row. `centers` is any frame
    * with a `vec_id` column naming the selected points.
    *
    * Scale shape: the center set is small by construction (k or
    * rounds·ell members), so it travels as ONE broadcast array and the
    * distances are a map-only `array_min` pass over the corpus —
    * followed by a single global aggregate. ROUND(6) on every output
    * (order-dependent avg; max/percentile are order-stable but the
    * convention keeps every boundary rounded). Spark's interpolating
    * `percentile` pairs with DuckDB `quantile_cont` (the ev_time_deltas
    * convention). */
  def selectionCoverage(emb: DataFrame, centers: DataFrame): DataFrame = {
    val en = vectors(graft.Tables.scanFloor(emb))
    val cvecs = centers.select("vec_id").join(en, Seq("vec_id"))
      .agg(sort_array(collect_list(struct(asCenter: _*))).as("cents"),
        count(lit(1)).as("k"))
      .localCheckpoint()
    en.crossJoin(broadcast(cvecs))
      .select(col("k"), array_min(transform(col("cents"), c =>
        centerDist(c.getField("cv"), c.getField("cnrm")))).as("d"))
      // k is constant across rows — grouping on it carries it to the
      // output without a second broadcast join
      .groupBy("k")
      .agg(count(lit(1)).as("n_points"),
        round(max(col("d")), 6).as("radius_max"),
        round(avg(col("d")), 6).as("dist_mean"),
        round(percentile(col("d"), lit(0.9)), 6).as("dist_p90"))
      .select(col("n_points"), col("k").as("n_centers"),
        col("radius_max"), col("dist_mean"), col("dist_p90"))
  }

  /** 60-bit md5-derived hash — the engine-portable convention shared
    * with [[graft.operators.TextAnalysis]]'s samplers and the DuckDB
    * oracle (`CAST('0x'||substr(md5(x),1,15) AS BIGINT)`). */
  private def hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** k-means|| oversampled selection (Bahmani et al. 2012, "Scalable
    * k-means++") — the SCALE companion to [[kCenterCoreset]]: where the
    * greedy is k-sequential (one argmax round per pick), k-means||
    * selects an EXPECTED `ell` points per round independently — each
    * point enters with probability `ell·d²/φ` — so a handful of rounds
    * replaces thousands, and each round is one aggregate plus one
    * map-only pass. The usual random draw is replaced by the repo's
    * deterministic md5-uniform (`u = (hash60("kpp<r>:"+id)+0.5)/2⁶⁰`,
    * the dsirResample/domainCap convention), so the selection — and the
    * DuckDB oracle's unrolled replay — is reproducible across runs,
    * partitionings and engines. Distance is cosine distance (the
    * [[kCenterCoreset]] metric; the paper's d² becomes d — a
    * monotone-equivalent potential on the unit sphere).
    *
    * Per round: (a) φ = ROUND(Σ mind, 6) as a one-row broadcast (the
    * ROUND is the repo-wide order-dependent-double-sum boundary); (b)
    * the filter `u < ell·mind/φ` — map-only; (c) the new centers fold
    * into every point's `mind` via ONE broadcast array and an
    * `array_min` lambda — no shuffle, no per-center join. After the
    * rounds, the classic weighting step assigns every point to its
    * nearest candidate ((distance, id) struct-min tie-break) and counts
    * — the weights the final weighted k-means++ reduction consumes.
    *
    * Returns `(sel_round, vec_id, dist, weight)`: selection round (0 =
    * seed), the candidate, its distance-to-selected-set when drawn
    * (NULL for the seed), and its assigned-point count. */
  def kMeansParOversample(emb: DataFrame, rounds: Int = 4,
                          ell: Int = 8): DataFrame = {
    require(rounds >= 1, "kMeansParOversample needs at least one round")
    require(ell >= 1, "oversampling factor ell must be >= 1")
    val en = vectors(graft.Tables.scanFloor(emb))
      .transform(Iter.checkpoint)
    val seed = en.orderBy("vec_id").limit(1)
      .select(asCenter: _*)
      .transform(Iter.checkpoint)
    var st = en.crossJoin(broadcast(seed))
      .select(col("vec_id"), col("v"), col("nrm"),
        centerDist(col("cv"), col("cnrm")).as("mind"))
      .transform(Iter.checkpoint)
    var cands = seed.select(lit(0).as("sel_round"), col("c_id").as("vec_id"),
      lit(null).cast("double").as("dist"))
    for (r <- 1 to rounds) {
      val u = (hash60(concat(lit(s"kpp$r:"), col("vec_id").cast("string")))
        .cast("double") + lit(0.5)) / lit(1152921504606846976.0) // 2^60
      // Round 16: φ rides as a broadcast SUBPLAN of the pick job instead
      // of its own per-round checkpoint — one fewer scheduled job per
      // round on a loop whose cost is fixed overhead, same value (the
      // ROUND(6) boundary is in the aggregate itself), and lineage stays
      // bounded because φ reads the checkpointed state directly
      val phi = st.agg(round(sum(col("mind")), 6).as("phi"))
      val pick = st.crossJoin(broadcast(phi))
        .filter(u < lit(ell.toDouble) * col("mind") / col("phi"))
        .select(col("vec_id"), col("v"), col("nrm"), col("mind"))
        .transform(Iter.checkpoint)
      cands = cands.unionByName(pick.select(lit(r).as("sel_round"),
        col("vec_id"), round(col("mind"), 6).as("dist")))
      // an adversarial round can draw zero candidates (every u above its
      // threshold): the coalesce keeps mind, the round records no rows
      if (r < rounds) st = st.crossJoin(broadcast(pick.agg(
          sort_array(collect_list(struct(asCenter: _*))).as("cents"))))
        .select(col("vec_id"), col("v"), col("nrm"),
          least(col("mind"), coalesce(
            array_min(transform(col("cents"), c =>
              centerDist(c.getField("cv"), c.getField("cnrm")))),
            col("mind"))).as("mind"))
        .transform(Iter.checkpoint)
    }
    // weighting: nearest candidate per point ((d, id) struct-min — ties
    // to the lower candidate id), then one count aggregation
    val cvecs = cands.select("vec_id").join(en, Seq("vec_id"))
      .agg(sort_array(collect_list(struct(asCenter: _*))).as("cents"))
      .transform(Iter.checkpoint)
    val weights = en.crossJoin(broadcast(cvecs))
      .select(array_min(transform(col("cents"), c => struct(
          centerDist(c.getField("cv"), c.getField("cnrm")).as("d"),
          c.getField("c_id").as("c_id")))).getField("c_id").as("c_id"))
      .groupBy("c_id").agg(count(lit(1)).as("weight"))
    cands.join(weights, cands("vec_id") === weights("c_id"), "left")
      .select(col("sel_round"), cands("vec_id"), col("dist"),
        coalesce(col("weight"), lit(0L)).as("weight"))
      .orderBy("sel_round", "vec_id")
  }

  /** Weighted k-means++ reduction of a [[kMeansParOversample]] candidate
    * set down to `k` centers — the algorithm's FINAL step (Bahmani 2012
    * §3.1: "recluster the weighted points"), so the selection family's
    * end product is k centers, not the oversampled intermediate.
    * `cands` is any frame with `vec_id` + `weight` (the oversample's
    * output shape); vectors come from `emb`.
    *
    * The draw: classic D-weighted k-means++ — round 1 samples a seed
    * ∝ weight, each later round samples ∝ weight·mind (the family's
    * cosine-distance potential, [[kMeansParOversample]]'s d-not-d²
    * convention on the unit sphere) — made deterministic AND
    * engine-portable by (a) one md5-uniform scalar per round
    * (`u = (hash60("kpr<r>")+0.5)/2⁶⁰`, the dsirResample convention)
    * and (b) FIXED-POINT POTENTIAL QUANTIZATION: each candidate's
    * potential becomes the integer `floor(weight·mind·10⁶)` (floor is
    * exact on identical doubles — no cross-engine rounding-mode edge),
    * so the inverse-CDF cumulative sum is integer-exact and
    * order-independent, never an order-dependent double sum. The pick
    * is the first candidate (vec_id order) whose cumulative potential
    * exceeds `u·total`. A picked center's own mind collapses to ~0, so
    * its potential floors to 0 and it is never re-drawn — exclusion
    * falls out of the arithmetic.
    *
    * Scale shape: the candidate set is O(rounds·ell) — broadcast-sized
    * by construction — so every round is one bounded single-partition
    * window (the adjudicated bounded-WindowExec pattern), a one-row
    * pick, and a one-row broadcast fold; [[Iter.checkpoint]] per round
    * keeps the lineage linear. Degenerate inputs (fewer distinct
    * geometries than `k`: every potential 0) collapse the state through
    * the one-row crossJoin and stop emitting rows — the DuckDB replay
    * collapses identically (the [[graft.operators.Tokenizer.bpeTrain]]
    * stance), so the hash gate holds even there.
    *
    * Returns `(sel_rank, vec_id, dist, weight)`: pick order, the chosen
    * candidate, its distance-to-selected-set when drawn (NULL for the
    * seed), and its input weight. */
  def kMeansParReduce(emb: DataFrame, cands: DataFrame, k: Int): DataFrame = {
    require(k >= 1, "kMeansParReduce needs at least one center")
    val cum = Window.orderBy("vec_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val en = vectors(graft.Tables.scanFloor(emb))
    // the candidate working set: vec_id, vector, weight — checkpointed
    // ONCE so the k reduction rounds never re-execute the oversample
    // plan. Round 16: coalesced to ONE partition first — the set is
    // O(rounds·ell) by contract (broadcast-sized), but it inherited the
    // corpus join's 32-way partitioning, so every one of the ~2k rounds'
    // jobs scheduled 32 near-empty tasks and the single-partition window
    // paid a 32→1 exchange; now each round's job is one task and the
    // window reads its input partition as-is
    val kw = cands.select(col("vec_id"), col("weight").cast("long").as("w"))
      .join(en, Seq("vec_id"))
      .select(col("vec_id"), col("v"), col("nrm"), col("w"))
    var st = Iter.checkpoint(kw.coalesce(1))
    // the checkpointed candidate state doubles as the weight lookup for
    // the final join (kw itself is lazy — re-reading it would re-run the
    // candidate⋈corpus join after the rounds)
    val kwMat = st
    // per-round inverse-CDF draw scalar — a CONSTANT (md5 of a literal,
    // the dsirResample convention), computed driver-side instead of a
    // spark.range(1) + broadcast crossJoin per round: config-like
    // arithmetic, not data collection, and one fewer job per round.
    // java.security MD5 over UTF-8 == Spark's md5() == DuckDB's md5().
    def uVal(r: Int): Double = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"kpr$r".getBytes("UTF-8"))
      val hex = d.map(b => f"$b%02x").mkString
      (java.lang.Long.parseLong(hex.substring(0, 15), 16).toDouble + 0.5) /
        1152921504606846976.0 // 2^60
    }
    // cum and tot come out of ONE WindowExec over the bounded candidate
    // frame (same ordering, two frames — running and unbounded): no
    // separate aggregate job / broadcast per round, which matters when
    // the loop's cost is k rounds of fixed scheduling overhead, not data
    val full = Window.orderBy("vec_id")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    def drawOne(qframe: DataFrame): DataFrame =
      qframe.withColumn("cum", sum(col("qi")).over(cum))
        .withColumn("tot", sum(col("qi")).over(full))
        .filter(col("cum").cast("double") > col("u") * col("tot").cast("double"))
        .orderBy("vec_id").limit(1)
    // the k draw rounds run under the tiny-loop posture (AQE off, one
    // shuffle partition — [[Iter.withTinyLoopConf]]): the state is
    // O(rounds·ell) by contract, and AQE's per-exchange re-planning was
    // pure driver overhead on it
    val picks = Iter.withTinyLoopConf(emb.sparkSession) {
      // round 1: seed ∝ weight (integer potentials already)
      val seed = Iter.checkpoint(drawOne(
        st.withColumn("qi", col("w")).withColumn("u", lit(uVal(1))))
        .select(asCenter: _*))
      var acc = seed.select(lit(1).as("sel_rank"), col("c_id").as("vec_id"),
        lit(null).cast("double").as("dist"))
      st = Iter.checkpoint(st.crossJoin(broadcast(seed))
        .select(col("vec_id"), col("v"), col("nrm"), col("w"),
          centerDist(col("cv"), col("cnrm")).as("mind")))
      for (r <- 2 to k) {
        // fixed-point quantized potential: floor(w·mind·1e6) as BIGINT
        val q = st.withColumn("qi",
          floor(col("w").cast("double") * col("mind") * lit(1000000.0)).cast("long"))
          .withColumn("u", lit(uVal(r)))
        val pick = Iter.checkpoint(drawOne(q)
          .select(asCenter :+ col("mind").as("mrad"): _*))
        acc = acc.unionByName(pick.select(lit(r).as("sel_rank"),
          col("c_id").as("vec_id"), round(col("mrad"), 6).as("dist")))
        if (r < k) st = Iter.checkpoint(
          st.crossJoin(broadcast(pick.select("cv", "cnrm")))
            .select(col("vec_id"), col("v"), col("nrm"), col("w"),
              least(col("mind"), centerDist(col("cv"), col("cnrm"))).as("mind")))
      }
      acc
    }
    picks.join(kwMat.select(col("vec_id"), col("w").as("weight")), Seq("vec_id"))
      .select(col("sel_rank"), col("vec_id"), col("dist"), col("weight"))
      .orderBy("sel_rank")
  }

  /** Embedding-cosine near-duplicate pairs: exact all-pairs baseline —
    * kept as the recall oracle for [[lshNearDupPairs]] (unit tests only;
    * at 100 TB you never run all-pairs). */
  def cosineNearDupPairs(emb: DataFrame, threshold: Double): DataFrame =
    verifyPairs(vectors(emb), threshold)((a, b) =>
      a.crossJoin(b).filter(col("id_a") < col("id_b"))).orderBy("id_a", "id_b")
}
