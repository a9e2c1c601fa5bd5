package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFns

/** Deduplication operators for a large-scale training-data pipeline.
  *
  * Family (exact → approximate, all shuffle-on-key, no all-pairs scans
  * except the explicitly-exact baselines):
  *  - exact: hash groupBy on text ([[Analytics.dedupFirstOccurrence]]);
  *  - n-gram Jaccard: exact set-similarity via shingle self-join;
  *  - containment anti-join: the reference's J1 semantics
  *    (ref `extract_text_fun.py:57-85`) generalized to shingles;
  *  - MinHash + LSH banding: the 100 TB near-dup path — signatures in one
  *    narrow pass, candidate pairs via band-bucket join, exact-Jaccard
  *    verification on candidates only;
  *  - SimHash: 64-bit fingerprint + banded Hamming candidate join.
  *
  * Operators returning `localCheckpoint(eager = true)` follow the
  * eager-materialization contract documented on [[MLEval]]: executed at
  * call time, lineage truncated, not lazily composable.
  */
object Dedup {

  /** Distinct n-token shingles from an already-materialized token-array
    * column, via the native codegen'd [[graft.plans.ShingleArray]]
    * expression. The composed-HOF formulation
    * (`array_distinct(transform(sequence…, i -> concat_ws(slice…)))`) is
    * semantically identical but interpreter-bound: HOFs are
    * CodegenFallback, and an interpreted lambda re-evaluates every subtree
    * it references per array element (measured 180 s → ~3 s for the sf0.1
    * minhash bench). Keep `toks` an attribute reference so the tokenizer
    * runs once per row. */
  def shinglesFromTokens(toks: Column, n: Int): Column =
    // null token arrays yield [] (the composed-HOF contract this replaced:
    // `when(size(null) >= n, ...)` fell through to the empty-array branch),
    // while the native expression null-propagates — coalesce restores it
    coalesce(graft.plans.ShingleArray.shingles(toks, n),
      array().cast("array<string>"))

  /** Distinct n-token shingles of the cleaned text (empty array when the
    * text has fewer than n tokens). Convenience form for single-use
    * expressions; hot paths go through [[shinglesFromTokens]]. */
  def shingles(text: Column, n: Int): Column =
    shinglesFromTokens(TextFns.tokens(text), n)

  /** Exploded (id, tags…, shingle) stream; `tags` are pass-through
    * columns of `df`. The tokens are their own projection, so the
    * tokenizer runs once per row. The explode takes the shingle
    * expression itself, not a projected column: over a column, Spark
    * infers a `size(shs) > 0` filter and pushes it below the projection,
    * which computes the shingles twice per row. */
  private def shingleStream(df: DataFrame, textCol: String, idCol: String,
                            n: Int, tags: Seq[String] = Nil): DataFrame = {
    val keys = col(idCol) +: tags.map(col)
    df.select(keys :+ TextFns.tokens(col(textCol)).as("toks"): _*)
      .select(keys :+ explode(shinglesFromTokens(col("toks"), n)).as("sh"): _*)
  }

  /** [[shingleStream]] over `probe ∪ corpus` with `__p` marking the
    * probe side — the one tagged pass [[minhashProbePairs]] and
    * [[minhashIngestPairs]] run, so both sides share one signature
    * pipeline. Returns `(idCol, __p, sh)`. */
  private def taggedShingles(probe: DataFrame, corpus: DataFrame,
                             textCol: String, idCol: String, n: Int): DataFrame =
    shingleStream(
      probe.select(col(idCol), col(textCol)).withColumn("__p", lit(true))
        .unionByName(corpus.select(col(idCol), col(textCol)).withColumn("__p", lit(false))),
      textCol, idCol, n, Seq("__p"))

  /** Hot n-gram scan: the `k` most document-frequent n-token shingles
    * with df ≥ `minDf` — the memorization-risk / boilerplate audit at
    * n-gram granularity (Lee et al. 2022's observation that a phrase
    * repeated across many training documents is what a model memorizes).
    * [[ngramJaccardPairs]] finds *pairs* of similar docs; this finds the
    * *phrases* doing the repeating, which is what you grep the corpus
    * for. Per-doc-distinct shingles (so a phrase looping inside ONE doc
    * counts once), one groupBy on the shingle key with map-side combine,
    * top-k as TakeOrderedAndProject. */
  def hotNgrams(df: DataFrame, textCol: String, idCol: String,
                n: Int = 8, minDf: Long = 3, k: Int = 50): DataFrame =
    shingleStream(df, textCol, idCol, n)
      .groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
      .orderBy(col("df").desc, col("sh"))
      .limit(k)

  /** Exact n-gram Jaccard similarity pairs with similarity > minJaccard.
    * One shuffle on the shingle key to form candidate pairs (only pairs
    * sharing >= 1 shingle are ever materialized), then pure arithmetic.
    * `maxDf` drops shingles occurring in more than that many docs before
    * pairing — the standard hot-key guard at scale (0 = off). */
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
                        n: Int, minJaccard: Double,
                        maxDf: Long = 0L): DataFrame = {
    val sh0 = shingleStream(df, textCol, idCol, n)
    val shUncached = if (maxDf > 0) {
      val hot = sh0.groupBy("sh").count().filter(col("count") > maxDf).select("sh")
      sh0.join(broadcast(hot), Seq("sh"), "left_anti")
    } else sh0
    // the shingle stream feeds three plan branches (sizes + both join
    // sides); persist so the corpus is shingled once — at 100 TB this is
    // the intermediate you would checkpoint to cluster storage anyway.
    // The cache is RELEASED before returning (see the localCheckpoint
    // note below): a library operator must not leak executor memory.
    val sh = shUncached.persist()
    try {
      // materialize the (small) verified-pairs result while the shingle
      // cache is live, then release the cache in the finally: a lazily
      // returned frame would either leak the cache forever or, uncached,
      // re-shingle the corpus once per consumer branch. localCheckpoint
      // blocks are reclaimed by the ContextCleaner once the frame is GC'd.
      exactPairsFromShingles(sh, idCol, minJaccard).localCheckpoint(eager = true)
    } finally sh.unpersist()
  }

  /** Exact-Jaccard pair pipeline over an already-persisted shingle
    * stream `(idCol, sh)` — the body of [[ngramJaccardPairs]], shared
    * with [[minhashPrCurve]] so its exact and banded arms read one
    * shingle pass. Caller owns the persist. */
  private def exactPairsFromShingles(sh: DataFrame, idCol: String,
                                     minJaccard: Double): DataFrame = {
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    val a = sh.select(col(idCol).as("id_a"), col("sh"))
    val b = sh.select(col(idCol).as("id_b"), col("sh"))
    val inter = a.join(b, Seq("sh"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    withJaccard(inter,
        sizes.select(col(idCol).as("id_a"), col("sz").as("sz_a")), Seq("id_a"),
        sizes.select(col(idCol).as("id_b"), col("sz").as("sz_b")), Seq("id_b"))
      .filter(col("jaccard") > minJaccard)
      .select(col("id_a"), col("id_b"), col("inter"), col("sz_a"), col("sz_b"),
        col("jaccard"))
      .orderBy("id_a", "id_b")
  }

  /** J1 containment anti-join (ref `extract_text_fun.py:57-85`, shingle
    * generalization of the sentence probe): keep candidates sharing no
    * shingle with the existing corpus. Two shuffles (distinct + semi join),
    * never an all-pairs scan. */
  def containmentAntiJoin(candidates: DataFrame, existing: DataFrame,
                          textCol: String, idCol: String, n: Int): DataFrame = {
    val candSh = shingleStream(candidates, textCol, idCol, n)
    val exSh = shingleStream(existing, textCol, idCol, n).select("sh").distinct()
    val hit = candSh.join(exSh, Seq("sh"), "left_semi").select(idCol).distinct()
    candidates.join(hit, Seq(idCol), "left_anti")
      .select(col(idCol)).orderBy(idCol)
  }

  /** Test-set decontamination — the GPT-3-style pretraining hygiene pass
    * (Brown et al. 2020 §C): mark every corpus document sharing at least
    * one n-gram with a benchmark/eval set, and report how many of its
    * distinct n-grams overlap. Benchmark sets are small by construction
    * (MBs of eval data vs a 100 TB corpus), so the distinct benchmark
    * shingle set is BROADCAST: the corpus side is one narrow shingling
    * pass + a map-side hash-join + one groupBy on the id — no shuffle of
    * corpus text, no all-pairs scan. The final left join keys on the id
    * against the (small, contaminated-only) overlap counts. Downstream,
    * `filter(!$"contaminated")` is the prune; keeping the full report row
    * (rather than anti-joining immediately) is deliberate: pipelines
    * audit contamination rates before they drop data. */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
                    textCol: String, idCol: String, n: Int): DataFrame = {
    val corpSh = shingleStream(corpus, textCol, idCol, n)
    val benchSh = broadcast(
      shingleStream(benchmark, textCol, idCol, n).select("sh").distinct())
    val overlaps = corpSh.join(benchSh, Seq("sh"))
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_overlap"))
    corpus.select(col(idCol))
      .join(overlaps, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        (coalesce(col("n_overlap"), lit(0L)) > 0).as("contaminated"))
      .orderBy(idCol)
  }

  /** Positional near-duplicate candidates via winnowing fingerprints
    * ([[TextAnalysis.winnowFingerprints]]): pairs sharing at least
    * `minShared` selected window-min hashes. Complements the set-sketch
    * family — MinHash estimates whole-document Jaccard, while shared
    * winnow fingerprints witness shared CONTIGUOUS spans (boilerplate,
    * quoted passages, partial plagiarism) that bag-level sketches dilute
    * away. Same scale shape as [[ngramJaccardPairs]]: pair formation only
    * through the fingerprint equi-join (docs pair only if they share a
    * fingerprint), one count aggregation, never all-pairs. `maxDf` drops
    * fingerprints selected by more than that many docs before pairing —
    * the boilerplate hot-key guard (0 = off). */
  def winnowNearDupPairs(df: DataFrame, textCol: String, idCol: String,
                         n: Int = 3, window: Int = 4, minShared: Long = 2,
                         maxDf: Long = 0L): DataFrame = {
    val fps0 = TextAnalysis.winnowFpStream(df, textCol, idCol, n, window)
    val fps = if (maxDf > 0) {
      val hot = fps0.groupBy("fp").count().filter(col("count") > maxDf).select("fp")
      fps0.join(broadcast(hot), Seq("fp"), "left_anti")
    } else fps0
    val a = fps.select(col(idCol).as("id_a"), col("fp"))
    val b = fps.select(col(idCol).as("id_b"), col("fp"))
    a.join(b, Seq("fp")).filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= minShared)
      .orderBy("id_a", "id_b")
  }

  /** Minhash permutation families. [[NativeFamily]] (xxhash64 seeded by
    * the permutation index — codegen'd, the 100 TB default) is not
    * reproducible outside Spark; [[PortableFamily]] exists so a DuckDB
    * oracle can replay the ENTIRE pipeline. */
  sealed trait MinhashFamily
  case object NativeFamily extends MinhashFamily
  case object PortableFamily extends MinhashFamily

  /** Carter-Wegman modulus for [[PortableFamily]]: 2^61 - 1 (prime). */
  val PortableMod: Long = 2305843009213693951L

  /** [[PortableFamily]] base hashes: ONE md5 per shingle, split into a
    * 60-bit and a 48-bit integer; permutation i is then the universal
    * hash `(h1 + i*h2) mod (2^61-1)` — pure integer arithmetic, so the k
    * permutations cost one digest, not k (measured 8x on the sf1 bench
    * vs a digest per permutation). md5 hex digests are identical
    * everywhere (unlike xxhash64/murmur), so DuckDB mirrors this exactly:
    * `CAST('0x' || substr(md5(sh), 1, 15) AS BIGINT)` etc. The 48-bit h2
    * bounds `i*h2` under 2^53, keeping the sum below 2^61 — no BIGINT
    * overflow on either engine. */
  def portableBaseHashes(sh: Column): (Column, Column) = (
    conv(substring(md5(sh), 1, 15), 16, 10).cast("long"),
    conv(substring(md5(sh), 16, 12), 16, 10).cast("long"))

  /** The MinHash kernel — the only signature and banding code: every
    * MinHash pipeline below runs its shingle stream `(idCol, tags…, sh)`
    * through here. Signatures are a dataflow, not array lambdas: k
    * `min(perm_i(sh))` aggregates plus the set size in ONE hash
    * aggregation (one shuffle, codegen'd; an array-lambda form would
    * re-evaluate the shingle construction per hash). Returns
    *  - `sigs`: `(id, tags…, sz, h0..h{k-1})`;
    *  - `banded`: `(id, tags…, sz, band, bandhash)`, one row per band of
    *    k/bands minima — keyed by a murmur `hash` of them for
    *    [[NativeFamily]], by their comma-joined tuple for
    *    [[PortableFamily]] (bulkier keys, but a DuckDB oracle forms the
    *    identical buckets).
    * Portable path: the md5 digest is computed ONCE per shingle row behind
    * a projection boundary; the k permutations are integer arithmetic over
    * its two halves. Docs with fewer than n tokens have no shingle rows,
    * so no signature (they cannot shingle-collide by definition). */
  private def minhashBands(sh: DataFrame, idCol: String, tags: Seq[String],
                           k: Int, bands: Int, family: MinhashFamily)
      : (DataFrame, DataFrame) = {
    require(k > 0 && bands > 0 && k % bands == 0,
      s"MinHash needs k > 0 and bands > 0 with bands dividing k (k = $k, bands = $bands)")
    val r = k / bands
    // (hashed stream, permutation i, band key); the band key's type is
    // constant per family, so array() below stays homogeneous
    val (hashed, perm, bandKey) = family match {
      case NativeFamily =>
        (sh, (i: Int) => xxhash64(lit(i), col("sh")), (hs: Seq[Column]) => hash(hs: _*))
      case PortableFamily =>
        val (h1, h2) = portableBaseHashes(col("sh"))
        (sh.select((col(idCol) +: tags.map(col)) ++
            Seq(col("sh"), h1.as("mh1"), h2.as("mh2")): _*),
          (i: Int) => (col("mh1") + lit(i.toLong) * col("mh2")) % lit(PortableMod),
          (hs: Seq[Column]) => concat_ws(",", hs: _*))
    }
    val sigs = hashed.groupBy(col(idCol).as("id") +: tags.map(col): _*)
      .agg(count(lit(1)).as("sz"), (0 until k).map(i => min(perm(i)).as(s"h$i")): _*)
    val bandCols = (0 until bands).map(b =>
      bandKey((b * r until (b + 1) * r).map(i => col(s"h$i"))))
    val carry = (col("id") +: tags.map(col)) :+ col("sz")
    val banded = sigs.select(carry :+ posexplode(array(bandCols: _*)): _*)
      .select(carry ++ Seq(col("pos").as("band"), col("col").as("bandhash")): _*)
    (sigs, banded)
  }

  /** The exact-Jaccard verify every MinHash pipeline runs on its
    * candidates. `cand` carries the a-side keys `ka` and b-side keys
    * `kb`; `shA`/`shB` are each side's `(keys…, sh)` shingle stream and
    * `szA`/`szB` its `(keys…, sz_a | sz_b)` set sizes. The b-side
    * shingle join keys on the shingle as well as the keys, so only true
    * intersections materialize — keying on the id alone would build a
    * |sh(a)| x |sh(b)| cartesian per pair. Returns `(ka…, kb…, jaccard)`
    * for pairs with Jaccard > minJaccard, published ROUND(6) (the value
    * the oracles replay). */
  private def verifyCandidates(cand: DataFrame, ka: Seq[String], kb: Seq[String],
                               shA: DataFrame, shB: DataFrame,
                               szA: DataFrame, szB: DataFrame,
                               minJaccard: Double): DataFrame = {
    val keys = (ka ++ kb).map(col)
    val inter = cand.join(shA, ka).join(shB, kb :+ "sh")
      .groupBy(keys: _*).agg(count(lit(1)).as("inter"))
    withJaccard(inter, szA, ka, szB, kb)
      .filter(col("jaccard") > minJaccard)
      .select(keys :+ round(col("jaccard"), 6).as("jaccard"): _*)
  }

  /** Per-pair shared counts `inter` joined with both set sizes (`sz_a`
    * keyed by `ka`, `sz_b` by `kb`), plus their unrounded `jaccard`. */
  private def withJaccard(inter: DataFrame, szA: DataFrame, ka: Seq[String],
                          szB: DataFrame, kb: Seq[String]): DataFrame =
    inter.join(szA, ka).join(szB, kb)
      .withColumn("jaccard", jaccardOf(col("inter"), col("sz_a"), col("sz_b")))

  /** |A ∩ B| / |A ∪ B| from the intersection size and both set sizes. */
  private def jaccardOf(inter: Column, szA: Column, szB: Column): Column =
    inter.cast("double") / (szA + szB - inter).cast("double")

  /** MinHash+LSH near-duplicate pairs: band the k-entry signature into
    * `bands` groups of k/bands rows; docs colliding on any banded hash
    * become candidates; candidates are verified with exact n-gram Jaccard
    * > minJaccard. The only joins are on band-hash and shingle keys —
    * this is the shape that survives 100 TB.
    *
    * `family` picks the permutation family ([[NativeFamily]] default;
    * [[PortableFamily]] for oracle parity, which also joins candidates on
    * the comma-joined minima tuple instead of a murmur hash of it —
    * bulkier keys, but a DuckDB oracle can form the identical buckets. */
  def minhashNearDupPairs(df: DataFrame, textCol: String, idCol: String,
                          n: Int = 4, k: Int = 32, bands: Int = 16,
                          minJaccard: Double = 0.6,
                          family: MinhashFamily = NativeFamily): DataFrame = {
    // one shingling pass serves signatures, sizes, and both verification
    // join sides — persist it (the checkpointable intermediate at scale);
    // released in the finally, same discipline as [[ngramJaccardPairs]]
    val sh = shingleStream(df, textCol, idCol, n).persist()
    try {
      bandedPairsFromShingles(sh, idCol, k, bands, minJaccard, family)
        .localCheckpoint(eager = true)
    } finally sh.unpersist()
  }

  /** Banded MinHash pair pipeline over an already-persisted shingle
    * stream `(idCol, sh)` — the body of [[minhashNearDupPairs]], shared
    * with [[minhashPrCurve]] so its exact and banded arms read one
    * shingle pass. Candidates are the band-table self-join. Caller owns
    * the persist. */
  private def bandedPairsFromShingles(sh: DataFrame, idCol: String,
                                      k: Int, bands: Int, minJaccard: Double,
                                      family: MinhashFamily): DataFrame = {
    val (sigs, banded) = minhashBands(sh, idCol, Nil, k, bands, family)
    val cand = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") &&
          col("x.bandhash") === col("y.bandhash") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
    verifyCandidates(cand, Seq("id_a"), Seq("id_b"),
        sh.select(col(idCol).as("id_a"), col("sh")),
        sh.select(col(idCol).as("id_b"), col("sh")),
        sigs.select(col("id").as("id_a"), col("sz").as("sz_a")),
        sigs.select(col("id").as("id_b"), col("sz").as("sz_b")), minJaccard)
      .orderBy("id_a", "id_b")
  }

  /** MinHash banding precision/recall curve — the EVAL harness that picks
    * (k, bands) before a production dedup run (the ANN-recall discipline,
    * [[Similarity.annRecallIvf]], applied to set sketches): ground truth
    * is the exact shingle-Jaccard of every shingle-sharing pair
    * ([[ngramJaccardPairs]] at minJaccard 0), candidates are the banded
    * pipeline's verified pairs at the same floor. Per threshold: how many
    * true near-dup pairs exist (`n_true`), how many the banding surfaced
    * (`n_found`, recall = found/true, null when no true pairs), and what
    * fraction of the candidate budget they spent (`precision_at_t` =
    * found/candidates — low values at high thresholds mean the bands are
    * wider than the operating point needs).
    *
    * The exact side is an all-sharing-pairs join — EVAL-ONLY cost, same
    * as the brute-force arm of the ANN recall harness; at 100 TB this
    * runs on a sampled slice, and the banded pipeline being evaluated
    * stays the production path. Threshold comparisons use the ROUND(6)
    * published jaccard on both engines, so the counts are
    * hash-deterministic. */
  def minhashPrCurve(df: DataFrame, textCol: String, idCol: String,
                     n: Int = 4, k: Int = 32, bands: Int = 8,
                     thresholds: Seq[Double] = Seq(0.2, 0.3, 0.4, 0.5, 0.6, 0.7),
                     family: MinhashFamily = NativeFamily): DataFrame = {
    // ONE persisted shingle pass feeds BOTH arms; each arm is the body of
    // its standalone operator ([[ngramJaccardPairs]],
    // [[minhashNearDupPairs]]), so the arms agree with those operators
    val sh = shingleStream(df, textCol, idCol, n).persist()
    val (exact, cand) = try {
      // planned first so a degenerate k/bands fails before the exact arm runs
      val banded = bandedPairsFromShingles(sh, idCol, k, bands,
        minJaccard = 0.0, family)
      val e = exactPairsFromShingles(sh, idCol, minJaccard = 0.0)
        .localCheckpoint(eager = true)
        .select(col("id_a"), col("id_b"), col("jaccard"))
      val c = banded.localCheckpoint(eager = true)
        .select(col("id_a"), col("id_b"), lit(true).as("is_cand"))
      (e, c)
    } finally sh.unpersist()
    val candTotal = cand.agg(count(lit(1)).as("n_cand"))
    exact.join(cand, Seq("id_a", "id_b"), "left")
      .select(col("jaccard"),
        coalesce(col("is_cand"), lit(false)).as("is_cand"),
        explode(array(thresholds.map(lit): _*)).as("threshold"))
      .groupBy("threshold")
      .agg(
        count(when(col("jaccard") >= col("threshold"), 1)).as("n_true"),
        count(when(col("jaccard") >= col("threshold") && col("is_cand"), 1))
          .as("n_found"))
      .crossJoin(broadcast(candTotal))
      .select(col("threshold"), col("n_true"), col("n_found"),
        when(col("n_true") > 0,
          round(col("n_found").cast("double") / col("n_true").cast("double"), 6))
          .as("recall"),
        col("n_cand"),
        round(col("n_found").cast("double") / col("n_cand").cast("double"), 6)
          .as("precision_at_t"))
      .orderBy("threshold")
  }

  /** Incremental MinHash dedup: probe a NEW batch against an EXISTING
    * corpus — the shape a continuously-ingesting 100 TB pipeline actually
    * runs (self-dedup of the full corpus happens once; every later batch
    * only probes). Both sides run the same signature pipeline in ONE
    * tagged pass; candidates are the probe-band × corpus-band equi-join
    * (never probe × corpus), and only candidates pay the exact-Jaccard
    * verify. At scale the corpus band table and shingle stream are the
    * persisted index (bucketed by band hash), so a batch touches only its
    * colliding buckets; a probe batch small enough to broadcast makes the
    * candidate join shuffle-free. Returns
    * `(probe_id, corpus_id, jaccard)` for verified pairs. Probe and
    * corpus ids may overlap (re-ingest finds itself at jaccard 1). */
  def minhashProbePairs(probe: DataFrame, corpus: DataFrame,
                        textCol: String, idCol: String,
                        n: Int = 4, k: Int = 32, bands: Int = 16,
                        minJaccard: Double = 0.6,
                        family: MinhashFamily = NativeFamily): DataFrame = {
    val sh = taggedShingles(probe, corpus, textCol, idCol, n).persist()
    try {
      val (sigs, banded) = minhashBands(sh, idCol, Seq("__p"), k, bands, family)
      val cand = banded.filter(col("__p")).as("x")
        .join(banded.filter(!col("__p")).as("y"),
          col("x.band") === col("y.band") && col("x.bandhash") === col("y.bandhash"))
        .select(col("x.id").as("probe_id"), col("y.id").as("corpus_id"))
        .distinct()
      verifyCandidates(cand, Seq("probe_id"), Seq("corpus_id"),
          sh.filter(col("__p")).select(col(idCol).as("probe_id"), col("sh")),
          sh.filter(!col("__p")).select(col(idCol).as("corpus_id"), col("sh")),
          sigs.filter(col("__p")).select(col("id").as("probe_id"), col("sz").as("sz_a")),
          sigs.filter(!col("__p")).select(col("id").as("corpus_id"), col("sz").as("sz_b")),
          minJaccard)
        .orderBy("probe_id", "corpus_id")
        .localCheckpoint(eager = true)
    } finally sh.unpersist()
  }

  /** The persistable MinHash corpus index — what a continuously-ingesting
    * deployment stores ONCE and probes forever ([[minhashProbePairs]]
    * recomputes this corpus side every call; the `_indexed` twin reads it
    * back instead). Two frames:
    *  - `bands`: `(id, sz, band, bandhash)` — the banded signature table
    *    (bucketed/bucket-pruned by (band, bandhash) at 100 TB) with the
    *    shingle-set size alongside;
    *  - `shingles`: `(id, sh)` — the distinct shingle stream the exact
    *    Jaccard verify joins (at scale: bucketed by sh).
    * Both are pure columnar tables; write them with `partitionBy`/
    * bucketing and the probe step touches only colliding buckets. */
  def minhashIndexFrames(corpus: DataFrame, textCol: String, idCol: String,
                         n: Int = 4, k: Int = 32, bands: Int = 16,
                         family: MinhashFamily = NativeFamily)
      : (DataFrame, DataFrame) = {
    val sh = shingleStream(corpus, textCol, idCol, n)
    (minhashBands(sh, idCol, Nil, k, bands, family)._2,
      sh.select(col(idCol).as("id"), col("sh")))
  }

  /** [[minhashProbePairs]] against a PERSISTED index ([[minhashIndexFrames]]
    * read back from storage) — the amortized production shape: only the
    * BATCH side is shingled and signatured; the corpus band table and
    * shingle stream are table scans (bucket-pruned at 100 TB), so the
    * per-ingest cost is O(batch + colliding buckets), never O(corpus).
    * Same verified output as the recompute-everything form (DedupSpec
    * pins equality). Precondition: the same k/bands as the index build (a
    * band-count mismatch finds no collisions); the family must match too,
    * and a mismatched one (int vs string `bandhash`) is refused up front. */
  def minhashProbePairsIndexed(probe: DataFrame, indexBands: DataFrame,
                               indexShingles: DataFrame, textCol: String,
                               idCol: String, n: Int = 4, k: Int = 32,
                               bands: Int = 16, minJaccard: Double = 0.6,
                               family: MinhashFamily = NativeFamily): DataFrame = {
    val (probeBands, probeShingles) =
      minhashIndexFrames(probe, textCol, idCol, n, k, bands, family)
    // schema-only check (no job): a bandhash type mismatch would otherwise
    // fail inside an executor with a cast error mid-join
    val (stored, probing) =
      (indexBands.schema("bandhash").dataType, probeBands.schema("bandhash").dataType)
    require(stored == probing, s"index bandhash is ${stored.simpleString} but " +
      s"$family bands are ${probing.simpleString}: probe with the index's family")
    val pb = probeBands.persist()
    val ps = probeShingles.persist()
    // BROADCAST the batch band table (O(batch × bands) rows — bounded by
    // the probe-batch contract) against the corpus-sized stored band
    // table: the index side streams map-side with no shuffle, the exact
    // shape a 100 TB probe wants (and what bucketing would co-locate).
    // Candidates are read twice (verify join + the prefilter below) —
    // persist the small pair frame
    val cand = indexBands.as("y")
      .join(broadcast(pb.as("x")),
        col("x.band") === col("y.band") && col("x.bandhash") === col("y.bandhash"))
      .select(col("x.id").as("probe_id"), col("y.id").as("corpus_id"))
      .distinct()
      .persist()
    // broadcast-semi-join prefilter of the stored shingle stream: that
    // table is corpus-sized (the dominant state table — ~100 shingles/
    // doc), but the verify only needs the CANDIDATES' corpus docs, so the
    // O(candidates) id set cuts the verify-side scan+shuffle from |corpus
    // shingles| to |colliding docs' shingles|. Probe batches are bounded
    // by contract (a corpus-scale re-probe belongs to
    // [[minhashProbePairs]]); at 100 TB the same effect comes free from
    // bucketing the stored stream by id and bucket-pruning.
    val candIds = cand.select(col("corpus_id").as("id")).distinct()
    val corpusSh = indexShingles
      .join(broadcast(candIds), Seq("id"), "left_semi")
      .select(col("id").as("corpus_id"), col("sh"))
      .persist()
    try {
      // corpus set sizes recomputed from the PREFILTERED shingle stream
      // (distinct per doc by construction) instead of re-scanning the fat
      // band table — one small aggregation over rows already in memory
      verifyCandidates(cand, Seq("probe_id"), Seq("corpus_id"),
          ps.select(col("id").as("probe_id"), col("sh")), corpusSh,
          pb.select(col("id").as("probe_id"), col("sz").as("sz_a")).distinct(),
          corpusSh.groupBy("corpus_id").agg(count(lit(1)).as("sz_b")), minJaccard)
        .orderBy("probe_id", "corpus_id")
        .localCheckpoint(eager = true)
    } finally {
      pb.unpersist(); ps.unpersist(); cand.unpersist(); corpusSh.unpersist()
    }
  }

  /** One-pass ingest pair generation: BOTH the batch-vs-corpus probe
    * pairs and the within-batch pairs from a single tagged signature
    * pipeline — the shape [[graft.streaming.Streams.dedupIngestBatch]]
    * runs per micro-batch (two separate calls to [[minhashProbePairs]] +
    * [[minhashNearDupPairs]] would shingle and signature the batch
    * twice). Returns `(id_a, id_b, jaccard, vs_corpus)`: `vs_corpus`
    * rows pair a batch doc (`id_a`) with a corpus doc (`id_b`); within
    * rows pair two batch docs (`id_a < id_b`). Bands, signatures, and
    * the exact-Jaccard verify are shared, so restricting the within
    * rows to any batch subset gives exactly the pairs
    * [[minhashNearDupPairs]] would produce on that subset (banding is
    * per-document). The b side of the verify keys on `vs_corpus` (its
    * corpus-ness) as well as the id, so re-ingest (same id on both
    * sides) never double-counts intersections. */
  def minhashIngestPairs(batch: DataFrame, corpus: DataFrame,
                         textCol: String, idCol: String,
                         n: Int = 4, k: Int = 32, bands: Int = 16,
                         minJaccard: Double = 0.6,
                         family: MinhashFamily = NativeFamily): DataFrame = {
    val sh = taggedShingles(batch, corpus, textCol, idCol, n).persist()
    try {
      val (sigs, banded) = minhashBands(sh, idCol, Seq("__p"), k, bands, family)
      // one self-join forms BOTH candidate classes; the filter keeps
      // probe×corpus (either order) and probe×probe with id_a < id_b
      val cand = banded.as("x").join(banded.as("y"),
          col("x.band") === col("y.band") &&
            col("x.bandhash") === col("y.bandhash") &&
            col("x.__p") &&
            (!col("y.__p") || col("x.id") < col("y.id")))
        .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
          (!col("y.__p")).as("vs_corpus"))
        .distinct()
      verifyCandidates(cand, Seq("id_a"), Seq("id_b", "vs_corpus"),
          sh.filter(col("__p")).select(col(idCol).as("id_a"), col("sh")),
          sh.select(col(idCol).as("id_b"), (!col("__p")).as("vs_corpus"), col("sh")),
          sigs.filter(col("__p")).select(col("id").as("id_a"), col("sz").as("sz_a")),
          sigs.select(col("id").as("id_b"), (!col("__p")).as("vs_corpus"),
            col("sz").as("sz_b")), minJaccard)
        .select(col("id_a"), col("id_b"), col("jaccard"), col("vs_corpus"))
        .orderBy("vs_corpus", "id_a", "id_b")
        .localCheckpoint(eager = true)
    } finally sh.unpersist()
  }

  /** Connected components over a near-dup pair graph + canonical member
    * selection — the step a dedup pipeline runs after pair generation:
    * every document in a component collapses to the component's minimum
    * id. Iterative min-label propagation (each round: every node takes
    * the min label in its closed neighborhood), a Pregel-style loop in
    * plain DataFrame joins: per round one shuffle on the node id; rounds
    * needed = graph diameter (near-dup components are shallow — dup
    * clusters are cliques or short chains). Labels persist per round and
    * the loop stops when no label changes. At 100 TB the same loop runs
    * with checkpointing every few rounds to truncate lineage.
    *
    * Returns (id, canonical) for every node appearing in `pairs`. */
  def canonicalComponents(pairs: DataFrame, maxIter: Int = 20,
                          checkpointEvery: Int = 1,
                          driverEdgeLimit: Long = 500000L): DataFrame = {
    // symmetrize in ONE pass over `pairs` via explode — a union of two
    // selects would evaluate the (expensive: shingle join + aggregation)
    // pair pipeline twice, once per branch
    val edges = pairs.select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst")),
        struct(col("id_b").as("src"), col("id_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct().persist()
    // Small-graph fast path: near-dup components over a REAL corpus are
    // tiny relative to it (the pair frame is already the banded/verified
    // residue), and the pointer-jumping loop pays ~4 fixed-overhead jobs
    // PER ROUND regardless of edge count — at bench scale that overhead
    // IS the wall (sim_dbscan's clustering algebra: ~13 s over a
    // few-thousand-edge frame at sf1). Under `driverEdgeLimit`
    // symmetrized edges (500k ≈ 8 MB of longs — the broadcast-threshold
    // ballpark) a driver union-find replaces the loop: one count + one
    // collect, identical output (canonical = min member id;
    // PropertySpec pins the equality against this very loop). The count
    // materializes the persist either way, so the fallback loop loses
    // nothing. Giant components at 100 TB exceed the gate and take the
    // distributed loop as before.
    if (edges.count() <= driverEdgeLimit)
      try return unionFindComponents(
        edges.select(col("src").as("id_a"), col("dst").as("id_b")))
      finally edges.unpersist()
    // localCheckpoint (not persist): the pointer-jumping self-join doubles
    // the LOGICAL plan every round — caching alone keeps the exponential
    // lineage and planning/explain OOMs after ~6 rounds; checkpointing
    // truncates it (the cluster-storage checkpoint cadence at 100 TB).
    // Init = the first propagation round for free: one aggregation over
    // the symmetric edges gives every node min(id, min neighbor) — for
    // clique-shaped dup components that is already the fixpoint and the
    // loop only runs its confirming round.
    try {
    var labels = edges.groupBy(col("src").as("id"))
      .agg(least(col("id"), min(col("dst"))).as("lbl"))
      .localCheckpoint()
    // labels only ever decrease under min-propagation, so the label sum is
    // strictly monotone until the fixpoint — one aggregate per round is a
    // sufficient convergence probe (no extra old-vs-new join pass).
    // SUM over zero rows is NULL: an edgeless input is already converged.
    var prevSum = labelSum(labels)
    var converged = prevSum.isEmpty
    var iter = 0
    // one propagation + pointer-jumping round as a pure plan transform
    def round(ls: DataFrame): DataFrame = {
      val neighborMin = edges
        .join(ls.withColumnRenamed("id", "dst_id"),
          col("dst") === col("dst_id"))
        .groupBy(col("src").as("id")).agg(min(col("lbl")).as("nlbl"))
      val propagated = ls.join(neighborMin, Seq("id"), "left")
        .select(col("id"), least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl"))
      // pointer jumping (path halving): also take the label OF my label —
      // effective diameter halves per round, so convergence is
      // O(log diameter) and maxIter=20 covers any realistic component
      propagated.as("x")
        .join(propagated.select(col("id").as("lid"), col("lbl").as("lbl2")).as("y"),
          col("x.lbl") === col("y.lid"), "left")
        .select(col("x.id").as("id"),
          least(col("x.lbl"), coalesce(col("lbl2"), col("x.lbl"))).as("lbl"))
    }
    while (!converged && iter < maxIter) {
      // `checkpointEvery` rounds between checkpoints/probes. Default 1,
      // measured, not assumed: batching 2 rounds per checkpoint REGRESSED
      // the sf1 bench 30.3 s -> 38.8 s, because the per-round checkpoint
      // doubles as a materialization of the pointer-jumping self-join's
      // shared input — without it the nested round re-executes that
      // subplan (exchange reuse does not survive AQE re-planning across
      // the nesting). The parameter stays for clusters where checkpoint
      // I/O, not compute, dominates.
      var work = labels
      var steps = 0
      while (steps < checkpointEvery && iter + steps < maxIter) {
        work = round(work); steps += 1
      }
      val next = work.localCheckpoint()
      val nextSum = labelSum(next)
      labels = next
      converged = nextSum == prevSum
      prevSum = nextSum
      iter += steps
    }
    if (!converged)
      throw new IllegalStateException(
        s"canonicalComponents did not converge in $maxIter rounds — " +
          "component diameter exceeds 2^maxIter; raise maxIter")
    labels.select(col("id"), col("lbl").as("canonical")).orderBy("id")
    // the finally also covers the non-convergence throw above — the edge
    // cache must never outlive the operator
    } finally edges.unpersist()
  }

  /** Incremental connected-components maintenance: update an existing
    * `(id, canonical)` labeling with a batch of NEW pairs, reprocessing
    * ONLY the components the batch touches — the label-table counterpart
    * of [[minhashProbePairs]]' incremental-ingest shape. A 100 TB dedup
    * index keeps its component labels as a table; re-running
    * [[canonicalComponents]] over ALL historical pairs per batch is
    * O(corpus), while the affected-component frontier is O(batch).
    *
    * Algorithm: the old labeling's components are connectivity-preserved
    * by their star edges (member → canonical), so running min-label
    * propagation over `newPairs ∪ (star edges of affected components)`
    * yields exactly the labels a full recompute over
    * `oldPairs ∪ newPairs` would give for every touched node; untouched
    * components pass through unchanged (DedupSpec pins the equality).
    * Shuffles: two label-table joins to find the affected frontier +
    * the component relabel over the (small) affected subgraph.
    *
    * Relabel fast path: the affected subgraph is O(batch + touched
    * components) BY CONSTRUCTION — that bound, not optimism, justifies a
    * driver-side union-find when the edge count fits under
    * `driverEdgeLimit` (500k edges ≈ 8 MB collected — the
    * autoBroadcastJoinThreshold ballpark). The distributed
    * [[canonicalComponents]] loop pays ~4 jobs of fixed per-round
    * overhead per pointer-jumping round regardless of data size, which
    * floored the sf1 incremental update at ~5 s (SCALE.md) while the
    * actual subgraph was a few thousand edges; the union-find path is
    * one count + one collect + one parallelize. Identical output
    * (canonical = min member id — DedupSpec pins driver vs distributed
    * equality); adversarial batches touching giant components exceed
    * the gate and fall back to the loop. */
  def incrementalComponents(labels: DataFrame, newPairs: DataFrame,
                            driverEdgeLimit: Long = 500000L): DataFrame = {
    val touched = newPairs.select(col("id_a").as("id"))
      .union(newPairs.select(col("id_b").as("id"))).distinct()
    // canonical of every touched node; a node new to the graph is its
    // own (provisional) canonical
    val touchedCanon = touched.join(labels, Seq("id"), "left")
      .select(coalesce(col("canonical"), col("id")).as("canonical")).distinct()
    val affected = labels.join(touchedCanon, Seq("canonical"), "left_semi")
    val starEdges = affected.filter(col("id") =!= col("canonical"))
      .select(col("id").as("id_a"), col("canonical").as("id_b"))
    // materialize once: both the size gate and whichever relabel path
    // wins read it (the canonicalComponents checkpoint discipline)
    val edges = newPairs.select("id_a", "id_b").union(starEdges)
      .localCheckpoint(eager = true)
    // forward the gate: a caller opting OUT of driver-side collection
    // (driverEdgeLimit = 0) must not be routed back into union-find by
    // canonicalComponents' own default
    val relabeled =
      if (edges.count() <= driverEdgeLimit) unionFindComponents(edges)
      else canonicalComponents(edges, driverEdgeLimit = driverEdgeLimit)
    labels.join(relabeled.select("id"), Seq("id"), "left_anti")
      .unionByName(relabeled)
      .orderBy("id")
  }

  /** Driver-side connected components over a COLLECTED edge list —
    * union-find with path halving, canonical = min member id (the exact
    * [[canonicalComponents]] contract). Only ever called under an edge-
    * count gate; O(E α(E)) time, O(V) memory. */
  private def unionFindComponents(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x0: Long): Long = {
      var x = x0
      while (parent(x) != x) {
        parent(x) = parent(parent(x)) // path halving
        x = parent(x)
      }
      x
    }
    // collect via the numeric interface, not getLong: the distributed
    // loop coerces int-typed ids through its least/min SQL expressions,
    // and the fast path must accept the same inputs (a getLong here
    // ClassCastExceptions on IntegerType — gate-dependent breakage)
    edges.select(col("id_a"), col("id_b")).collect().foreach { r =>
      val (a, b) = (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue)
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      // union by min: the smaller id becomes the root, so the root IS
      // the canonical and no second pass is needed
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    // result columns carry the INPUT id type so both gate paths return
    // the same schema
    val idType = edges.schema("id_a").dataType
    parent.keys.toSeq.sorted.map(id => (id, find(id)))
      .toDF("id", "canonical")
      .select(col("id").cast(idType).as("id"),
        col("canonical").cast(idType).as("canonical"))
      .orderBy("id")
  }

  /** Per-cluster dedup report: for every near-dup component, its size,
    * verified-pair count and mean pair similarity — the triage view that
    * separates true duplicate cliques (high avg, size ≈ pairs) from
    * chained false merges (low avg, sparse pairs) before a destructive
    * prune. Everything runs over the pairs frame and the O(nodes) label
    * frame; the raw corpus is never touched. */
  def clusterStats(pairs: DataFrame): DataFrame = {
    val labels = canonicalComponents(pairs)
    val sizes = labels.groupBy(col("canonical"))
      .agg(count(lit(1)).as("size"))
    val ps = pairs
      .join(labels.withColumnRenamed("id", "id_a"), Seq("id_a"))
      .groupBy(col("canonical"))
      .agg(count(lit(1)).as("n_pairs"),
        round(avg(col("jaccard")), 6).as("avg_jaccard"))
    sizes.join(ps, Seq("canonical"))
      .select(col("canonical"), col("size"), col("n_pairs"), col("avg_jaccard"))
      .orderBy("canonical")
  }

  /** End-to-end dedup: drop every non-canonical member of each near-dup
    * component, keeping canonicals and untouched docs — the corpus-pruning
    * step a training-data pipeline runs after pair generation. The drop
    * set is one row per discarded duplicate (small), so the prune is a
    * single anti-join against it. */
  def pruneToCanonical(docs: DataFrame, pairs: DataFrame, idCol: String): DataFrame = {
    val drop = canonicalComponents(pairs)
      .filter(col("id") =!= col("canonical"))
      .select(col("id").as(idCol))
    docs.join(drop, Seq(idCol), "left_anti")
  }

  /** [[pruneToCanonical]] with a QUALITY choice instead of a positional
    * one: within each near-dup component keep the member maximizing
    * `scoreCol` (CCNet keeps the lowest-perplexity copy, containment
    * dedup keeps the longest — min-id "first occurrence" is an accident
    * of crawl order). Ties break to the smaller id, so the selection is
    * total and deterministic. Cost shape matches the canonical prune:
    * the component label frame is O(pair members), the keeper argmax is
    * one `max_by` aggregation on a (members + score) join — never a sort
    * of the corpus — and the final prune is one semi-join of the corpus
    * against the O(components) keeper set plus the untouched remainder
    * via anti-join on members. */
  def pruneKeepBest(docs: DataFrame, pairs: DataFrame, idCol: String,
                    scoreCol: String): DataFrame = {
    val labels = canonicalComponents(pairs) // (id, canonical): members only
    val members = labels.select(col("id").as(idCol), col("canonical"))
    val keepers = members
      .join(docs.select(col(idCol), col(scoreCol)), Seq(idCol))
      .groupBy(col("canonical"))
      .agg(max_by(col(idCol), struct(col(scoreCol), -col(idCol))).as(idCol))
      .select(idCol)
    docs.join(members.select(idCol), Seq(idCol), "left_anti")
      .unionByName(docs.join(keepers, Seq(idCol), "left_semi"))
  }

  private def labelSum(df: DataFrame): Option[Long] =
    Option(df.agg(sum(col("lbl"))).collect()(0)).filterNot(_.isNullAt(0))
      .map(_.getLong(0))

  /** 64-bit SimHash fingerprints as a dataflow (same rationale as the
    * MinHash signature aggregation behind [[minhashNearDupPairs]]):
    * explode tokens once, hash each once, then 64 signed-bit sums in one
    * codegen'd aggregation; bit b of the fingerprint is the sign of sum
    * over tokens of ±1 according to bit b of xxhash64(token). Returns
    * (id, fp). */
  def simhashFingerprints(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("id"),
      explode(TextFns.tokens(col(textCol))).as("t"))
      .withColumn("h", xxhash64(col("t")))
    val bitAggs = (0 until 64).map(b =>
      sum(when(col("h").bitwiseAND(lit(1L << b)) =!= 0, 1).otherwise(-1)).as(s"b$b"))
    val fp = (0 until 64)
      .map(b => when(col(s"b$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce((a, c) => a.bitwiseOR(c))
    toks.groupBy(col("id")).agg(bitAggs.head, bitAggs.tail: _*)
      .select(col("id"), fp.as("fp"))
  }

  /** Portable 64-bit token hash for oracle-checked SimHash, as two 32-bit
    * halves of the md5 digest (hi = hex chars 1-8, lo = 9-16). Two
    * nonnegative halves instead of one 64-bit value: forming the full
    * long would need a 32-bit shift whose sign/overflow behavior differs
    * per engine, while every downstream step (bit tests, 16-bit banding,
    * Hamming via bit_count of xor) works on the halves directly. */
  def portableTokenHash32(t: Column): (Column, Column) = (
    conv(substring(md5(t), 1, 8), 16, 10).cast("long"),
    conv(substring(md5(t), 9, 8), 16, 10).cast("long"))

  /** [[simhashFingerprints]] with the portable token hash — fingerprint
    * as two 32-bit halves (id, fp_hi, fp_lo). Same single-pass shape:
    * one md5 per token occurrence, 64 signed-bit sums in one
    * aggregation. */
  def simhashFingerprintsPortable(df: DataFrame, textCol: String,
                                  idCol: String): DataFrame = {
    val (hi, lo) = portableTokenHash32(col("t"))
    val toks = df.select(col(idCol).as("id"),
        explode(TextFns.tokens(col(textCol))).as("t"))
      .select(col("id"), hi.as("hhi"), lo.as("hlo"))
    val bitAggs = (0 until 64).map { b =>
      val (h, bit) = if (b < 32) (col("hlo"), b) else (col("hhi"), b - 32)
      sum(when(h.bitwiseAND(lit(1L << bit)) =!= 0, 1).otherwise(-1)).as(s"b$b")
    }
    def half(range: Range, base: Int): Column = range
      .map(b => when(col(s"b$b") > 0, lit(1L << (b - base))).otherwise(lit(0L)))
      .reduce((a, c) => a.bitwiseOR(c))
    toks.groupBy(col("id")).agg(bitAggs.head, bitAggs.tail: _*)
      .select(col("id"), half(32 until 64, 32).as("fp_hi"),
        half(0 until 32, 0).as("fp_lo"))
  }

  /** Banding + exact-Hamming verify over split (id, fp_hi, fp_lo)
    * fingerprints — the [[simhashPairsFromFingerprints]] shape with the
    * four 16-bit chunks taken from the halves and Hamming as the sum of
    * two 32-bit bit_counts. Every step is DuckDB-expressible, so the
    * catalog entry using [[simhashFingerprintsPortable]] is fully
    * oracle-checked. */
  def simhashPairsFromSplitFingerprints(fp: DataFrame,
                                        maxHamming: Int): DataFrame = {
    val chunks = Seq(
      col("fp_lo").bitwiseAND(lit(0xffffL)),
      shiftrightunsigned(col("fp_lo"), 16),
      col("fp_hi").bitwiseAND(lit(0xffffL)),
      shiftrightunsigned(col("fp_hi"), 16))
    val banded = fp.select(col("id"), col("fp_hi"), col("fp_lo"),
        posexplode(array(chunks: _*)))
      .select(col("id"), col("fp_hi"), col("fp_lo"),
        col("pos").as("band"), col("col").as("chunk"))
    banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") &&
          col("x.chunk") === col("y.chunk") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        col("x.fp_hi").as("hi_a"), col("x.fp_lo").as("lo_a"),
        col("y.fp_hi").as("hi_b"), col("y.fp_lo").as("lo_b"))
      .distinct()
      .withColumn("hamming",
        bit_count(col("hi_a").bitwiseXOR(col("hi_b"))) +
          bit_count(col("lo_a").bitwiseXOR(col("lo_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .orderBy("id_a", "id_b")
  }

  /** [[simhashNearDupPairs]] with the portable family end to end. */
  def simhashNearDupPairsPortable(df: DataFrame, textCol: String,
                                  idCol: String,
                                  maxHamming: Int = 3): DataFrame =
    simhashPairsFromSplitFingerprints(
      simhashFingerprintsPortable(df, textCol, idCol), maxHamming)

  /** Corpus-level boilerplate removal (the RefinedWeb/CCNet line-dedup
    * pass, Penedo et al. 2023 §3.3, at sentence granularity — this
    * corpus's documents are single-line): a sentence whose lowercased form
    * appears in at least `minDocs` DISTINCT documents is boilerplate
    * (headers, footers, cookie banners, license blurbs) and is struck from
    * EVERY document; survivors are reassembled in original order. Returns
    * `(id, n_sentences, n_removed, clean_text)` per document that produced
    * at least one sentence.
    *
    * Scale shape: one explode → groupBy(sentence) with countDistinct to
    * build the boilerplate dictionary — the `>= minDocs` filter shrinks it
    * to the repeated tail, so the join back onto the sentence stream is a
    * dim-table equi-join (AQE broadcasts it at runtime; not forced,
    * because a 100 TB crawl's boilerplate dictionary can exceed the
    * driver's broadcast budget). Reassembly is one groupBy(id) with an
    * array_sort over (pos, sentence) structs — bounded per-doc group size,
    * never a global sort. */
  def boilerplateRemoval(df: DataFrame, textCol: String, idCol: String,
                         minDocs: Int = 5, minLen: Int = 15): DataFrame = {
    val sents = df
      .select(col(idCol), posexplode(TextFns.sentences(col(textCol), minLen)))
      .select(col(idCol), col("pos"), col("col").as("sent"),
        lower(col("col")).as("k"))
    val boiler = sents.groupBy("k")
      .agg(count_distinct(col(idCol)).as("df_docs"))
      .filter(col("df_docs") >= minDocs)
      .select(col("k"), lit(true).as("is_boiler"))
    sents.join(boiler, Seq("k"), "left")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_sentences"),
        coalesce(sum(when(col("is_boiler"), 1L)), lit(0L)).as("n_removed"),
        concat_ws(". ", transform(
          array_sort(collect_list(when(!coalesce(col("is_boiler"), lit(false)),
            struct(col("pos"), col("sent"))))),
          x => x.getField("sent"))).as("clean_text"))
      .orderBy(idCol)
  }

  /** SimHash near-duplicate pairs: band the 64-bit fingerprint into 4
    * 16-bit chunks; docs agreeing on any chunk are candidates (catches all
    * pairs within Hamming distance 3 by pigeonhole); verify exact Hamming
    * <= maxHamming via bit_count.
    *
    * Recall contract: guaranteed 1.0 only for `maxHamming <= 3` (4 bands,
    * <= 3 flipped bits cannot touch every band). Larger radii are found
    * only when the flips happen to spare a band — raise the band count
    * before raising `maxHamming`. */
  def simhashNearDupPairs(df: DataFrame, textCol: String, idCol: String,
                          maxHamming: Int = 3): DataFrame =
    simhashPairsFromFingerprints(
      simhashFingerprints(df, textCol, idCol), maxHamming)

  /** Banding + exact-Hamming verify over precomputed (id, fp) rows —
    * split out so the recall contract is testable on synthetic
    * fingerprints (DedupSpec). */
  def simhashPairsFromFingerprints(fp: DataFrame, maxHamming: Int): DataFrame = {
    val banded = fp.select(col("id"), col("fp"),
      posexplode(array((0 until 4).map(b =>
        shiftrightunsigned(col("fp"), b * 16).bitwiseAND(lit(0xffffL))): _*)))
      .select(col("id"), col("fp"), col("pos").as("band"), col("col").as("chunk"))
    banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") &&
          col("x.chunk") === col("y.chunk") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        col("x.fp").as("fp_a"), col("y.fp").as("fp_b"))
      .distinct()
      .withColumn("hamming", bit_count(col("fp_a").bitwiseXOR(col("fp_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .orderBy("id_a", "id_b")
  }

  /** Blocked fuzzy entity resolution over a name-like column: candidate
    * pairs come from a BLOCKING-KEY equi-join (last token + a length band
    * implied by the distance bound), verified by exact edit distance —
    * never the O(n²) all-pairs string comparison.
    *
    * Scale shape: names are aggregated to (name, row count) FIRST, so the
    * join runs on the distinct-name frame (tiny vs the corpus — entity
    * names repeat), and the blocking key caps each name's candidates at
    * its block size. `maxBlockDf` (0 = off) drops blocks with more
    * distinct names than the bound — the hot-block guard (a degenerate
    * key like "inc" would otherwise go quadratic within its block). */
  def fuzzyNameMatch(df: DataFrame, nameCol: String, maxDist: Int,
                     maxBlockDf: Long = 0L): DataFrame = {
    val names0 = df.groupBy(col(nameCol).as("name")).agg(count(lit(1)).as("cnt"))
      .withColumn("blk", substring_index(col("name"), " ", -1))
    val names = if (maxBlockDf <= 0L) names0 else {
      val hot = names0.groupBy(col("blk")).agg(count(lit(1)).as("__df"))
        .where(col("__df") > maxBlockDf).select("blk")
      names0.join(broadcast(hot), Seq("blk"), "left_anti")
    }
    val a = names.select(col("name").as("name_a"), col("cnt").as("cnt_a"), col("blk"))
    val b = names.select(col("name").as("name_b"), col("cnt").as("cnt_b"), col("blk"))
    a.join(b, Seq("blk"))
      .where(col("name_a") < col("name_b") &&
        abs(length(col("name_a")) - length(col("name_b"))) <= maxDist &&
        levenshtein(col("name_a"), col("name_b")) <= maxDist)
      .select(col("name_a"), col("name_b"),
        levenshtein(col("name_a"), col("name_b")).as("dist"),
        col("cnt_a"), col("cnt_b"))
      .orderBy("name_a", "name_b")
  }

  /** Sorted-neighborhood near-dup pairs: sort the corpus by a cheap
    * lexical key (text prefix), compare each row only to its `window`
    * successors in that order, verify candidates by exact n-gram Jaccard.
    * The classic record-linkage alternative to LSH banding: candidate
    * count is O(n * window) BY CONSTRUCTION (LSH banding is O(n * window)
    * only in expectation, with hot buckets as the failure mode), at the
    * cost of missing near-dups whose edits fall inside the key prefix.
    *
    * Scale shape: the global sort order comes from
    * [[Analytics.withGlobalRankByKey]] (range-partitioned buckets + local
    * row_number + broadcast offsets — no single-task window), and
    * "adjacent within `window`" becomes ONE hash equi-join on the
    * exploded rank probe (rank + k, k in 1..window). */
  def sortedNeighborhoodPairs(df: DataFrame, textCol: String, idCol: String,
                              n: Int, window: Int, minJaccard: Double,
                              keyLen: Int = 24): DataFrame = {
    val keyed = df.select(col(idCol).as("__id"),
      shingles(col(textCol), n).as("__shs"),
      substring(trim(col(textCol)), 1, keyLen).as("__sk"))
    val ranked = Analytics
      .withGlobalRankByKey(keyed, Seq(col("__sk"), col("__id")), "__rk")
      .select(col("__id"), col("__shs"), col("__rk"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val probes = ranked
        .withColumn("__k", explode(array((1 to window).map(lit): _*)))
        .select(col("__id").as("__ida"), col("__shs").as("__sa"),
          (col("__rk") + col("__k")).as("__rkb"))
      val cand = probes.join(
        ranked.select(col("__id").as("__idb"), col("__shs").as("__sb"),
          col("__rk").as("__rkb")), Seq("__rkb"))
      cand
        // materialized first so the intersection runs once per pair, not
        // once per reference in the jaccard expression
        .withColumn("__inter", size(array_intersect(col("__sa"), col("__sb"))))
        .withColumn("__jac",
          jaccardOf(col("__inter"), size(col("__sa")), size(col("__sb"))))
        .where(col("__jac") > minJaccard)
        .select(least(col("__ida"), col("__idb")).as("id_a"),
          greatest(col("__ida"), col("__idb")).as("id_b"),
          round(col("__jac"), 6).as("jaccard"))
        .orderBy("id_a", "id_b")
        // O(dups) result materialized so the ranked cache (probe + build
        // side of the neighborhood join) is released before returning
        .localCheckpoint(eager = true)
    } finally ranked.unpersist()
  }

  /** Cross-source contamination matrix: for every pair of corpus sources,
    * the exact n-gram shingle overlap — Jaccard plus max-containment
    * (`inter / min(|A|, |B|)`, the asymmetric "is one feed a subset of
    * the other" signal that Jaccard hides when sizes differ). The audit a
    * multi-feed 100 TB ingest runs before mixing crawls/dumps/feeds.
    *
    * Shape: one shingle pass, then distinct (source, shingle) — after
    * which cardinality is VOCABULARY-sized, not corpus-sized; the pair
    * join shuffles only that deduped stream on the shingle key, and
    * source-pair counts aggregate map-side (sources number in the
    * hundreds, so the final matrix is one tiny reduce). */
  def sourceOverlapMatrix(df: DataFrame, textCol: String, idCol: String,
                          groupCol: String, n: Int,
                          maxDf: Long = 0L): DataFrame = {
    val sh0 = shingleStream(df, textCol, idCol, n, Seq(groupCol))
      .select(col(groupCol).as("src"), col("sh"))
    val shFiltered = if (maxDf > 0) {
      // hot-shingle guard, same contract as [[ngramJaccardPairs]]: a
      // shingle in more than maxDf (source, doc) rows is boilerplate and
      // would dominate every pair's intersection
      val hot = sh0.groupBy("sh").count().filter(col("count") > maxDf).select("sh")
      sh0.join(broadcast(hot), Seq("sh"), "left_anti")
    } else sh0
    val sh = shFiltered.distinct().persist()
    try {
      val sizes = sh.groupBy("src").agg(count(lit(1)).as("sz"))
      val inter = sh.select(col("src").as("src_a"), col("sh"))
        .join(sh.select(col("src").as("src_b"), col("sh")), Seq("sh"))
        .filter(col("src_a") < col("src_b"))
        .groupBy("src_a", "src_b").agg(count(lit(1)).as("inter"))
      val result = withJaccard(inter,
          sizes.select(col("src").as("src_a"), col("sz").as("sz_a")), Seq("src_a"),
          sizes.select(col("src").as("src_b"), col("sz").as("sz_b")), Seq("src_b"))
        .select(col("src_a"), col("src_b"), col("inter"), col("sz_a"), col("sz_b"),
          round(col("jaccard"), 6).as("jaccard"),
          round(col("inter").cast("double") /
            least(col("sz_a"), col("sz_b")).cast("double"), 6).as("containment"))
        .orderBy("src_a", "src_b")
      result.localCheckpoint(eager = true)
    } finally sh.unpersist()
  }

  /** Exact repeated-passage removal (the Lee et al. 2022 "Deduplicating
    * Training Data" ExactSubstr pass, restated at fixed-width passage
    * granularity so it stays one relational plan instead of a suffix
    * array): each document is cut into consecutive `width`-token chunks
    * (row-local — no shuffle to form them), and every chunk occurrence
    * except the corpus-wide FIRST (smallest `(id, chunk_idx)`) is struck;
    * survivors reassemble in original order. Returns
    * `(id, n_chunks, n_removed, dedup_text)` for every document with at
    * least one token.
    *
    * Tokens are whitespace-split verbatim (no cleaning) so the pass is
    * byte-faithful to the training corpus — run it after text
    * normalization, not instead of it.
    *
    * Scale shape: chunking is a per-row projection; the only wide stages
    * are one groupBy(chunk-key) to elect first occurrences and one
    * groupBy(id) to reassemble — both map-side combined, neither touches
    * more than the exploded chunk stream. The first-occurrence election
    * aggregates `min(struct(id, cidx))`, so the reduction is a single
    * min, not a per-chunk sort; the join back is an equi-join on the
    * chunk string (Spark shuffles on its hash; width-bounded key, no
    * digest needed). At 100 TB the chunk dictionary is corpus-sized: this
    * stays a
    * shuffle join on purpose (a broadcast would blow the driver), and AQE
    * handles the skewed hot-chunk tail. */
  def passageDedup(df: DataFrame, textCol: String, idCol: String,
                   width: Int = 16): DataFrame = {
    val ts = filter(split(col(textCol), " "), t => t =!= lit(""))
    val nChunks = ceil(size(col("ts")).cast("double") / lit(width.toDouble)).cast("int")
    val chunks = df
      .select(col(idCol).as("id"), ts.as("ts"))
      .filter(size(col("ts")) > 0)
      .select(col("id"),
        posexplode(transform(sequence(lit(0), nChunks - 1),
          i => array_join(slice(col("ts"), i * width + 1, lit(width)), " "))))
      .select(col("id"), col("pos").as("cidx"), col("col").as("chunk"))
    val first = chunks.groupBy("chunk")
      .agg(min(struct(col("id"), col("cidx"))).as("keep"))
      .select(col("chunk"), col("keep.id").as("keep_id"),
        col("keep.cidx").as("keep_cidx"))
    chunks.join(first, Seq("chunk"))
      .withColumn("is_dup",
        !(col("id") === col("keep_id") && col("cidx") === col("keep_cidx")))
      .groupBy(col("id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        coalesce(sum(when(col("is_dup"), 1L)), lit(0L)).as("n_removed"),
        concat_ws(" ", transform(
          array_sort(collect_list(when(!col("is_dup"),
            struct(col("cidx"), col("chunk"))))),
          x => x.getField("chunk"))).as("dedup_text"))
      .withColumnRenamed("id", idCol)
      .orderBy(idCol)
  }

  /** Sliding-window exact-substring scrub — [[passageDedup]] without the
    * chunk-alignment blind spot (the full Lee et al. 2022 ExactSubstr
    * semantics, restated relationally): EVERY `width`-token window is a
    * candidate (one gram per starting position, not per chunk), so a
    * copied span is caught at ANY offset — a license block pasted three
    * tokens into a page, which the chunk-aligned pass misses unless the
    * copy happens to start on a 16-token boundary. Each gram duplicated
    * anywhere in the corpus (>= 2 occurrences, intra-document repeats
    * included) keeps its corpus-wide FIRST occurrence (smallest
    * `(id, pos)`); every other occurrence strikes its `width` covered
    * token positions, overlapping strikes union, and survivors
    * reassemble in original order. Returns
    * `(id, n_tokens, n_removed, clean_text)` for every document with at
    * least one token (docs shorter than `width` pass through whole).
    *
    * Tokens are whitespace-split verbatim (no cleaning) so the pass is
    * byte-faithful to the training corpus — run it after text
    * normalization, not instead of it.
    *
    * Scale shape: the gram stream is one row per token position (~n rows,
    * each carrying a `width`-token string — ~`width`× the token bytes;
    * that multiplier is the known cost of ExactSubstr restated without a
    * suffix array, and swapping the join key to `xxhash64(gram)` cuts the
    * shuffle back to 8 bytes/row when exactness-vs-the-oracle isn't
    * required). Wide stages: one groupBy(gram) electing first occurrences
    * with a single `min(struct)` (map-side combined, never a sort), one
    * equi-join back (shuffle join on purpose — the gram dictionary is
    * corpus-sized, broadcasting would blow the driver; AQE handles the
    * hot-gram tail), and a position-coverage aggregation bounded by
    * `width` × DUPLICATED occurrences only (the `occ >= 2` filter runs
    * before the explode). Reassembly is a join of the O(touched-docs)
    * cut-set frame back onto the doc stream on the id plus a ROW-LOCAL
    * index filter — the token stream itself is never exploded, shuffled,
    * or re-collected (the first cut of this operator paid three
    * token-stream shuffles for the rebuild; 20.4 s → measured in SCALE.md
    * after the rewrite, identical output). No global sort, no window
    * over the corpus. */
  def spanScrub(df: DataFrame, textCol: String, idCol: String,
                width: Int = 8): DataFrame = {
    require(width >= 2, "width must be >= 2")
    val ts = filter(split(col(textCol), " "), t => t =!= lit(""))
    val docs = df
      .select(col(idCol).as("id"), ts.as("ts"))
      .filter(size(col("ts")) > 0)
    // consumed twice (keeper election + the occurrence side of the join
    // back) — without the persist the gram construction (tokenize +
    // per-position slice/join string building, the operator's single
    // most expensive projection) runs twice
    val grams = docs
      .filter(size(col("ts")) >= width)
      .select(col("id"),
        posexplode(transform(sequence(lit(0), size(col("ts")) - width),
          i => array_join(slice(col("ts"), i + 1, lit(width)), " "))))
      .select(col("id"), col("pos").as("gpos"), col("col").as("gram"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val keepers = grams.groupBy("gram")
        .agg(count(lit(1)).as("occ"),
          min(struct(col("id"), col("gpos"))).as("keep"))
        .filter(col("occ") >= 2)
        .select(col("gram"), col("keep.id").as("keep_id"),
          col("keep.gpos").as("keep_gpos"))
      // per-doc struck-position sets: the explode is over duplicated
      // occurrences only, and collect_set unions overlapping strikes
      val cutSets = grams.join(keepers, Seq("gram"))
        .filter(!(col("id") === col("keep_id") && col("gpos") === col("keep_gpos")))
        .select(col("id"),
          explode(sequence(col("gpos"), col("gpos") + lit(width - 1))).as("tpos"))
        .groupBy("id")
        .agg(sort_array(collect_set(col("tpos"))).as("__cuts"))
      docs.join(cutSets, Seq("id"), "left")
        .select(col("id"),
          size(col("ts")).cast("long").as("n_tokens"),
          coalesce(size(col("__cuts")), lit(0)).cast("long").as("n_removed"),
          when(col("__cuts").isNull, array_join(col("ts"), " "))
            .otherwise(array_join(
              filter(col("ts"), (_, i) => !array_contains(col("__cuts"), i)),
              " "))
            .as("clean_text"))
        .withColumnRenamed("id", idCol)
        .orderBy(idCol)
        // O(docs) result materialized so the gram cache is released
        // before returning (the pairLift discipline)
        .localCheckpoint(eager = true)
    } finally grams.unpersist()
  }

  /** The sliding-window gram stream of [[spanScrub]] exposed for index
    * maintenance: one row per `width`-token window, `(id, gpos, gram)`. */
  def spanGrams(df: DataFrame, textCol: String, idCol: String,
                width: Int): DataFrame = {
    require(width >= 2, "width must be >= 2")
    val ts = filter(split(col(textCol), " "), t => t =!= lit(""))
    df.select(col(idCol).as("id"), ts.as("ts"))
      .filter(size(col("ts")) >= width)
      .select(col("id"),
        posexplode(transform(sequence(lit(0), size(col("ts")) - width),
          i => array_join(slice(col("ts"), i + 1, lit(width)), " "))))
      .select(col("id"), col("pos").as("gpos"), col("col").as("gram"))
  }

  /** The corpus-side state for [[spanScrubIncremental]]: the DISTINCT
    * gram set — one column, one row per distinct `width`-token window.
    * Membership is all the incremental scrub needs (corpus ids precede
    * batch ids, so ANY corpus occurrence outranks every batch
    * occurrence), which keeps the stored index a set instead of an
    * occurrence log. */
  def spanGramIndex(df: DataFrame, textCol: String, idCol: String,
                    width: Int): DataFrame =
    spanGrams(df, textCol, idCol, width).select("gram").distinct()

  /** Incremental ExactSubstr maintenance — scrub a NEW batch against a
    * stored corpus gram set ([[spanGramIndex]]) without re-scanning the
    * corpus: the amortized production posture for [[spanScrub]], the
    * dd_incr_indexed pattern applied to spans. Semantics equal the full
    * recompute over corpus ∪ batch restricted to batch documents,
    * PROVIDED every batch id sorts after every corpus id (then a gram
    * present in the corpus outranks all batch occurrences — every batch
    * occurrence of it is struck — and grams new in the batch elect their
    * keeper batch-internally). The dd_incr_spans oracle hash-gates
    * exactly that equivalence.
    *
    * Scale shape: batch grams are O(batch tokens); the stored index is
    * scanned ONCE and semi-joined against the BROADCAST distinct batch
    * grams (the probe result is bounded by the batch, so the
    * corpus-sized side never shuffles); the batch-internal election and
    * the rebuild are [[spanScrub]]'s stages on batch-sized frames. The
    * broadcasts assume the incremental regime (batch ≪ corpus, batch
    * grams within the driver's broadcast budget); a batch too large to
    * broadcast should drop the two `broadcast()` hints and take shuffle
    * semi-joins — same semantics, or simply run the full [[spanScrub]],
    * which such a batch is already close to paying for. */
  def spanScrubIncremental(batch: DataFrame, corpusGrams: DataFrame,
                           textCol: String, idCol: String,
                           width: Int = 8): DataFrame = {
    val ts = filter(split(col(textCol), " "), t => t =!= lit(""))
    val docs = batch
      .select(col(idCol).as("id"), ts.as("ts"))
      .filter(size(col("ts")) > 0)
    val bGrams = spanGrams(batch, textCol, idCol, width)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // grams the corpus already owns: index scan x broadcast batch set
      val probed = corpusGrams
        .join(broadcast(bGrams.select("gram").distinct()), Seq("gram"), "left_semi")
      val cutsCorpus = bGrams
        .join(broadcast(probed), Seq("gram"), "left_semi")
        .select(col("id"), col("gpos"))
      // grams new in the batch: elect keepers batch-internally
      val fresh = bGrams.join(broadcast(probed), Seq("gram"), "left_anti")
      val keepers = fresh.groupBy("gram")
        .agg(count(lit(1)).as("occ"),
          min(struct(col("id"), col("gpos"))).as("keep"))
        .filter(col("occ") >= 2)
        .select(col("gram"), col("keep.id").as("keep_id"),
          col("keep.gpos").as("keep_gpos"))
      val cutsFresh = fresh.join(keepers, Seq("gram"))
        .filter(!(col("id") === col("keep_id") && col("gpos") === col("keep_gpos")))
        .select(col("id"), col("gpos"))
      val cutSets = cutsCorpus.unionByName(cutsFresh)
        .select(col("id"),
          explode(sequence(col("gpos"), col("gpos") + lit(width - 1))).as("tpos"))
        .groupBy("id")
        .agg(sort_array(collect_set(col("tpos"))).as("__cuts"))
      docs.join(cutSets, Seq("id"), "left")
        .select(col("id"),
          size(col("ts")).cast("long").as("n_tokens"),
          coalesce(size(col("__cuts")), lit(0)).cast("long").as("n_removed"),
          when(col("__cuts").isNull, array_join(col("ts"), " "))
            .otherwise(array_join(
              filter(col("ts"), (_, i) => !array_contains(col("__cuts"), i)),
              " "))
            .as("clean_text"))
        .withColumnRenamed("id", idCol)
        .orderBy(idCol)
        .localCheckpoint(eager = true)
    } finally bGrams.unpersist()
  }
}
