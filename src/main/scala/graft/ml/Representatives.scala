package graft.ml

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** V1-V3 (ref `Context_analyzer_RoBERTa_fun.py:73-133`): TF-IDF
  * vectorization + K-means clustering + cosine-to-centroid representative
  * selection, per sentiment class.
  *
  * One Spark job collects `(sentiment, doc_id, text, confidence)`; each
  * class is then fitted on the driver over its rows in `(doc_id, text)`
  * order, so the result depends on the data and `seed` alone, never on
  * the partition layout:
  *  - V1 TF-IDF (ref defaults `:484-486`) by the rules of MLlib's
  *    tokenizer, 2-gram, count-vector and IDF stages, which
  *    RepresentativesSpec checks it against: lower-case, split on `\s+`,
  *    drop empty tokens, append the space-joined bigrams; the vocabulary
  *    is the terms with DF in [4, 0.8·n], top 1,000 by total count, ties
  *    by term; TF is the raw count, IDF `ln((n+1)/(df+1))`. Vectors stay
  *    sparse (the reference's `.toarray()` is strictly worse, SURVEY §4);
  *  - V2 Euclidean k-means, k = 10 by default (ref `:104-106`), seeded
  *    greedy k-means++ init (sklearn's, with `2 + ln k` local trials;
  *    sklearn's n_init=10 restarts are not replayed, SURVEY §7.4), then
  *    Lloyd rounds until every centroid moves at most 1e-4 or 20 rounds
  *    (MLlib's defaults); an empty cluster keeps its centroid;
  *  - V3 representative = the member with the highest cosine to its
  *    centroid (a zero vector has cosine 0), ties to the lower `doc_id`,
  *    carrying `cluster_id`, `cluster_size`; a class smaller than k
  *    bypasses clustering with `cluster_id=0, cluster_size=n` (ref
  *    `:87-133`), an empty class yields no rows.
  *
  * Driver memory is O(rows) texts: a review job is capped at 3,500
  * (`TOTAL_SAMPLES`), and the largest inputs in the repo are a few
  * thousand documents. The result is an eager local frame; nothing is
  * left cached.
  */
object Representatives {

  private val Classes = Seq("NEGATIVE", "NEUTRAL", "POSITIVE")

  private val outputSchema = StructType(Seq(
    StructField("sentiment", StringType),
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("confidence", DoubleType),
    StructField("cluster_id", IntegerType),
    StructField("cluster_size", LongType)))

  /** V1 output for one class: `vocab` with its `idf`, and per document
    * the sparse TF-IDF row `idx(i)` (vocabulary indices, ascending) →
    * `vals(i)`. */
  private[graft] final case class Features(
      vocab: Array[String], idf: Array[Double],
      idx: Array[Array[Int]], vals: Array[Array[Double]]) {
    def n: Int = idx.length
    def dim: Int = vocab.length
  }

  private[graft] def features(texts: IndexedSeq[String]): Features = {
    val n = texts.length
    val ids = scala.collection.mutable.HashMap.empty[String, Int]
    // per document, `(term id, count)` of each distinct term
    val counted = texts.map { t =>
      val toks = t.toLowerCase.split("\\s+").filter(_.nonEmpty)
      val bigrams = (1 until toks.length).iterator.map(p => s"${toks(p - 1)} ${toks(p)}")
      runs((toks.iterator ++ bigrams).map(ids.getOrElseUpdate(_, ids.size)).toArray.sorted)
    }
    val terms = new Array[String](ids.size)
    ids.foreach { case (t, i) => terms(i) = t }
    val df = new Array[Int](terms.length)
    val total = new Array[Long](terms.length)
    for (d <- counted; (i, tf) <- d) { df(i) += 1; total(i) += tf }
    val kept = terms.indices.filter(i => df(i) >= 4 && df(i) <= 0.8 * n)
      .sortBy(i => (-total(i), terms(i))).take(1000)
    val column = Array.fill(terms.length)(-1)
    kept.zipWithIndex.foreach { case (i, j) => column(i) = j }
    val idf = kept.map(i => math.log((n + 1.0) / (df(i) + 1.0))).toArray
    val rows = counted.map(_.collect {
      case (i, tf) if column(i) >= 0 => column(i) -> tf * idf(column(i))
    }.sortBy(_._1))
    Features(kept.map(terms).toArray, idf, rows.map(_.map(_._1)).toArray, rows.map(_.map(_._2)).toArray)
  }

  /** `(value, run length)` of each run of equal values in a sorted array. */
  private def runs(sorted: Array[Int]): Array[(Int, Int)] =
    Iterator.unfold(0) { p =>
      Option.when(p < sorted.length) {
        val q = sorted.indexWhere(_ != sorted(p), p)
        val end = if (q < 0) sorted.length else q
        ((sorted(p), end - p), end)
      }
    }.toArray

  private def dot(f: Features, i: Int, c: Array[Double]): Double = {
    val (ix, vs) = (f.idx(i), f.vals(i))
    var s = 0.0
    var p = 0
    while (p < ix.length) { s += vs(p) * c(ix(p)); p += 1 }
    s
  }

  private def sqDist(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var p = 0
    while (p < a.length) { s += (a(p) - b(p)) * (a(p) - b(p)); p += 1 }
    s
  }

  private def sqNorm(v: Array[Double]): Double = sqDist(v, new Array[Double](v.length))

  private def dense(f: Features, i: Int): Array[Double] = {
    val c = new Array[Double](f.dim)
    f.idx(i).indices.foreach(p => c(f.idx(i)(p)) = f.vals(i)(p))
    c
  }

  /** V2: cluster of every row, and the final centroids. */
  private def kmeans(f: Features, k: Int, seed: Long): (Array[Int], Array[Array[Double]]) = {
    val norms = f.vals.map(sqNorm)
    // ‖x − c‖² of row i, given ‖c‖²
    def distTo(i: Int, c: Array[Double], cn: Double): Double =
      math.max(0.0, norms(i) + cn - 2 * dot(f, i, c))
    def dists(c: Array[Double]): Array[Double] = {
      val cn = sqNorm(c)
      Array.tabulate(f.n)(distTo(_, c, cn))
    }

    val rnd = new java.util.Random(seed)
    val centers = scala.collection.mutable.ArrayBuffer(dense(f, rnd.nextInt(f.n)))
    var closest = dists(centers(0))
    val trials = 2 + math.log(k).toInt
    while (centers.length < k) {
      // sklearn's greedy k-means++: draw `trials` D²-weighted candidates,
      // keep the one that leaves the lowest potential
      val pot = closest.sum
      val picks = Seq.fill(trials) {
        val r = rnd.nextDouble() * pot
        var (i, acc) = (0, closest(0))
        while (acc <= r && i < f.n - 1) { i += 1; acc += closest(i) }
        val c = dense(f, i)
        val d = dists(c).lazyZip(closest).map(math.min)
        (c, d, d.sum)
      }
      val (c, d, _) = picks.minBy(_._3)
      centers += c
      closest = d
    }

    def assign(): Array[Int] = {
      val cns = centers.map(sqNorm)
      Array.tabulate(f.n)(i => centers.indices.minBy(j => distTo(i, centers(j), cns(j))))
    }
    var rounds = 0
    var converged = false
    while (!converged && rounds < 20) {
      val a = assign()
      val sums = Array.fill(k)(new Array[Double](f.dim))
      val sizes = new Array[Int](k)
      for (i <- 0 until f.n) {
        sizes(a(i)) += 1
        f.idx(i).indices.foreach(p => sums(a(i))(f.idx(i)(p)) += f.vals(i)(p))
      }
      converged = true
      for (j <- 0 until k if sizes(j) > 0) {
        val c = sums(j).map(_ / sizes(j))
        if (math.sqrt(sqDist(c, centers(j))) > 1e-4) converged = false
        centers(j) = c
      }
      rounds += 1
    }
    (assign(), centers.toArray)
  }

  /** V2 + V3 for one class's rows `(sentiment, doc_id, text, confidence)`
    * in `(doc_id, text)` order. */
  private def fit(rows: IndexedSeq[Row], k: Int, seed: Long): Seq[Row] = {
    def out(r: Row, cluster: Int, size: Long) =
      Row(r.getString(0), r.getLong(1), r.getString(2), r.get(3), cluster, size)
    val n = rows.length
    if (n < k) return rows.map(out(_, 0, n.toLong)) // ref :87-133 small-input bypass
    val f = features(rows.map(_.getString(2)))
    val (assigned, centers) = kmeans(f, k, seed)
    val norms = f.vals.map(v => math.sqrt(sqNorm(v)))
    val cnorms = centers.map(c => math.sqrt(sqNorm(c)))
    def cosine(i: Int, j: Int): Double = {
      val m = norms(i) * cnorms(j)
      if (m == 0.0) 0.0 else dot(f, i, centers(j)) / m
    }
    // rows are in doc_id order and the first maximum wins: ties → lower doc_id
    (0 until n).groupBy(i => assigned(i)).toSeq.sortBy(_._1).map { case (j, members) =>
      out(rows(members.maxBy(i => cosine(i, j))), j, members.length.toLong)
    }
  }

  /** Per-sentiment representatives over the scored frame (the reference's
    * per-class fan-out, ref `:726-792`), ordered by
    * `(sentiment, cluster_id)`. */
  def representatives(scored: DataFrame, k: Int = 10, seed: Long = 42): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    val byClass = scored.filter(col("sentiment").isin(Classes: _*))
      .select("sentiment", "doc_id", "text", "confidence").collect()
      .groupBy(_.getString(0))
    val out = Classes.flatMap { cls =>
      val rows = byClass.getOrElse(cls, Array.empty[Row]).sortBy(r => (r.getLong(1), r.getString(2)))
      fit(rows.toIndexedSeq, k, seed)
    }
    scored.sparkSession.createDataFrame(java.util.Arrays.asList(out: _*), outputSchema)
  }
}
