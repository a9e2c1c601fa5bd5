package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

/** Seeded input generator. Every input of a run is a pure function of the
  * workload seed and the sizes below, written as plain files (HTML pages,
  * JSON lines, little-endian float32 vectors) so the same seed gives
  * byte-identical inputs. No Spark here: the loaders in [[Inputs]] turn
  * the raw files into the parquet tables the program reads. */
object Gen {

  // The sentiment lexicon the program scores against
  // (graft.functions.Sentiment): three or more hits of one polarity push a
  // review over the 0.8 confidence threshold.
  val Positive: Array[String] = Array("fast", "small", "value")
  val Negative: Array[String] = Array("slow", "big", "dup")

  /** Deterministic pseudo-word vocabulary (consonant-vowel syllables). */
  def vocabulary(n: Int): Array[String] = {
    val cons = "bcdfghjklmnprstvz"; val vows = "aeiou"
    val rng = new SplittableRandom(20240229L)
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < n) {
      val syl = 2 + rng.nextInt(3)
      val sb = new StringBuilder
      for (_ <- 0 until syl)
        sb.append(cons.charAt(rng.nextInt(cons.length))).append(vows.charAt(rng.nextInt(vows.length)))
      val w = sb.toString
      if (!Positive.contains(w) && !Negative.contains(w)) seen += w
    }
    seen.toArray
  }

  private val ReviewVocab = vocabulary(600)
  private val CorpusVocab = vocabulary(6000)

  /** Zipf-ish draw: low indices are common, so review terms recur across
    * documents (the representatives' TF-IDF needs min-df 4). */
  private def zipf(rng: SplittableRandom, n: Int): Int = {
    val u = rng.nextDouble()
    math.min(n - 1, (math.pow(n.toDouble + 1, u) - 1).toInt)
  }

  /** One review: positive, negative or neutral by its lexicon hits. */
  def reviewText(rng: SplittableRandom): String = {
    val len = 20 + rng.nextInt(41)
    val words = Array.fill(len)(ReviewVocab(zipf(rng, ReviewVocab.length)))
    val cls = rng.nextInt(10)
    val polar = if (cls < 4) Positive else if (cls < 7) Negative else null
    val hits = if (polar == null) rng.nextInt(2) else 3 + rng.nextInt(3)
    for (_ <- 0 until hits) {
      val lex = if (polar == null) (if (rng.nextBoolean()) Positive else Negative) else polar
      words(rng.nextInt(len)) = lex(rng.nextInt(lex.length))
    }
    words.mkString(" ")
  }

  def page(job: Int, pageId: Int, text: String): String =
    s"""<!DOCTYPE html>
       |<html><head><title>Review $pageId of place $job</title>
       |<script>var tracking = "<p>not a review</p>";</script>
       |<style>p { margin: 0 }</style></head>
       |<body><h1>Place $job</h1>
       |<div class="review-body"><p>$text</p></div>
       |<p>Menu</p>
       |</body></html>
       |""".stripMargin

  private val EventTypes = Array("signup", "purchase", "error", "click", "view")
  private val Day0 = java.time.LocalDate.of(2024, 1, 1)

  def eventsJsonl(rng: SplittableRandom, n: Int, days: Int): String = {
    val sb = new StringBuilder
    for (i <- 0 until n) {
      val day = Day0.plusDays(rng.nextInt(days).toLong)
      val sec = rng.nextInt(86400)
      val ts = f"${day}T${sec / 3600}%02d:${sec / 60 % 60}%02d:${sec % 60}%02dZ"
      val et = EventTypes(rng.nextInt(EventTypes.length))
      val v = rng.nextInt(100000) / 100.0
      sb.append(s"""{"event_id":$i,"ts":"$ts","user_id":${rng.nextInt(500)},"event_type":"$et","value":$v,"props":"{}"}""")
        .append('\n')
    }
    sb.toString
  }

  def write(p: Path, s: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, s.getBytes(UTF_8))
  }

  // ---------------------------------------------------------------------
  // review_jobs: one input per job, 100-3,500 pages (the reference's
  // TOTAL_SAMPLES cap) plus its events
  // ---------------------------------------------------------------------

  final case class Job(id: Int, pages: Int, dir: Path) {
    def pagesDir: Path = dir.resolve("pages")
    def events: Path = dir.resolve("events.jsonl")
  }

  val MinPages = 100
  val MaxPages = 3500

  /** Page counts of `n` jobs: an evenly spaced ladder over
    * [MinPages, MaxPages], largest first, so every run sees the same sizes
    * and the same concurrency pairing: the largest job runs beside the
    * others for its whole length, so the slowest job is the same one in
    * every run. Only the content varies with the seed. */
  def jobSizes(n: Int): Array[Int] =
    Array.tabulate(n)(i =>
      if (n == 1) MaxPages else MaxPages - ((MaxPages - MinPages).toLong * i / (n - 1)).toInt)

  def reviewJob(root: Path, seed: Long, id: Int, pages: Int): Job = {
    val job = Job(id, pages, root.resolve(f"job$id%03d"))
    val rng = new SplittableRandom(seed * 1000003L + id)
    for (p <- 0 until pages)
      write(job.pagesDir.resolve(f"p$p%05d.html"), page(id, p, reviewText(rng)))
    write(job.events, eventsJsonl(rng, 300 + pages / 2, 30))
    job
  }

  // ---------------------------------------------------------------------
  // corpus batch: documents with planted near-duplicate clusters
  // ---------------------------------------------------------------------

  final case class Corpus(dir: Path, nDocs: Int, plantedTrain: Int,
                          expected: Map[String, (Long, Long)]) {
    def docs: Path = dir.resolve("docs.jsonl")
    def events: Path = dir.resolve("events.jsonl")
  }

  val Langs = Array("de", "en", "es", "fr")

  /** The program's deterministic train/val/test split
    * (graft.operators.TextAnalysis.datasetSplit), recomputed for the
    * ground truth. */
  def isTrain(id: Long): Boolean =
    java.lang.Math.floorMod(java.lang.Math.floorMod(id, 1000000007L) * 2654435761L, 100L) < 80

  /** `nDocs` documents; `dupShare` of them are planted near-duplicates:
    * copies of an original whose final word is replaced (word-4-gram
    * Jaccard >= 0.94 at 40+ words, far above the 0.5 the report's
    * MinHash prune keeps). Doc ids are shuffled so cluster members are
    * not adjacent. The truth is the per-language (n_docs, total_tokens)
    * of the train split after pruning every non-minimum-id member. */
  def corpus(root: Path, seed: Long, nDocs: Int, dupShare: Double): Corpus = {
    val rng = new SplittableRandom(seed * 7919L + 17)
    val ids = Array.tabulate(nDocs)(_.toLong)
    for (i <- ids.indices.reverse) {
      val j = rng.nextInt(i + 1); val t = ids(i); ids(i) = ids(j); ids(j) = t
    }
    val texts = new Array[String](nDocs)
    val langs = new Array[String](nDocs)
    val dropped = new Array[Boolean](nDocs)
    var pos = 0
    var planted = 0
    var plantedTrain = 0
    val targetDups = (nDocs * dupShare).toInt
    while (pos < nDocs) {
      val len = 40 + rng.nextInt(61)
      val words = Array.fill(len)(CorpusVocab(rng.nextInt(CorpusVocab.length)))
      for (_ <- 0 until rng.nextInt(4)) {
        val lex = if (rng.nextBoolean()) Positive else Negative
        words(rng.nextInt(len)) = lex(rng.nextInt(lex.length))
      }
      val lang = Langs(rng.nextInt(Langs.length))
      val copies =
        if (planted < targetDups && rng.nextDouble() < dupShare * 2) 1 + rng.nextInt(3) else 0
      val members = math.min(1 + copies, nDocs - pos)
      val memberSlots = pos until pos + members
      memberSlots.zipWithIndex.foreach { case (slot, m) =>
        val w = words.clone()
        if (m > 0) w(len - 1) = CorpusVocab(rng.nextInt(CorpusVocab.length)) + "x"
        texts(slot) = w.mkString(" "); langs(slot) = lang
      }
      // the prune keeps the minimum id of each cluster
      val keep = memberSlots.minBy(ids(_))
      memberSlots.foreach { s =>
        if (s != keep) {
          dropped(s) = true; planted += 1
          if (isTrain(ids(s))) plantedTrain += 1
        }
      }
      pos += members
    }
    val c0 = Corpus(root.resolve("corpus"), nDocs, plantedTrain, Map.empty)
    val sb = new StringBuilder
    val exp = scala.collection.mutable.TreeMap.empty[String, (Long, Long)]
    for (s <- 0 until nDocs) {
      val t = texts(s)
      sb.append(s"""{"doc_id":${ids(s)},"text":"$t","lang":"${langs(s)}","source":"src${ids(s) % 4}","n_chars":${t.length}}""")
        .append('\n')
      if (!dropped(s) && isTrain(ids(s))) {
        val (n, tok) = exp.getOrElse(langs(s), (0L, 0L))
        exp(langs(s)) = (n + 1, tok + t.count(_ == ' ') + 1)
      }
    }
    write(c0.docs, sb.toString)
    write(c0.events, eventsJsonl(rng, nDocs, 60))
    c0.copy(expected = exp.toMap)
  }

  // ---------------------------------------------------------------------
  // vector_serving: clustered 64-d vectors, append batches, query plan
  // ---------------------------------------------------------------------

  val Dim = 64

  final case class Vectors(dir: Path, nBase: Int, batches: Seq[(Long, Int)]) {
    def base: Path = dir.resolve("base.f32")
    def batch(i: Int): Path = dir.resolve(s"append$i.f32")
  }

  /** Clustered vectors in two levels: `nClusters` broad gaussian centres
    * (the coarse cells an IVF index finds), each holding families of
    * `FamilySize` tight neighbours, so a vector's true top-10 is its own
    * family and recall measures the index rather than the noise. Appended
    * batches draw from the same families and take ids from `AppendIdBase`
    * upward. */
  val AppendIdBase = 1000000L
  val FamilySize = 16

  def vectors(root: Path, seed: Long, nBase: Int, nClusters: Int,
              batchSizes: Seq[Int]): Vectors = {
    val rng = new SplittableRandom(seed * 31337L + 5)
    val centres = Array.fill(nClusters, Dim)(rng.nextDouble() * 2 - 1)
    val families = Array.tabulate(math.max(1, nBase / FamilySize)) { _ =>
      val c = centres(rng.nextInt(nClusters))
      Array.tabulate(Dim)(d => c(d) + 0.5 * gauss(rng))
    }
    def draw(n: Int): Array[Byte] = {
      val buf = java.nio.ByteBuffer.allocate(n * Dim * 4).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      for (_ <- 0 until n) {
        val f = families(rng.nextInt(families.length))
        for (d <- 0 until Dim) buf.putFloat((f(d) + 0.1 * gauss(rng)).toFloat)
      }
      buf.array()
    }
    val v = Vectors(root.resolve("vectors"), nBase,
      batchSizes.zipWithIndex.map { case (n, i) =>
        (AppendIdBase + batchSizes.take(i).sum, n) })
    Files.createDirectories(v.dir)
    Files.write(v.base, draw(nBase))
    batchSizes.indices.foreach(i => Files.write(v.batch(i), draw(batchSizes(i))))
    v
  }

  private def gauss(rng: SplittableRandom): Double = {
    // Box-Muller from two uniforms: deterministic across JVMs
    val u1 = math.max(rng.nextDouble(), 1e-12); val u2 = rng.nextDouble()
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }

  def readF32(p: Path): Array[Array[Float]] = {
    val bb = java.nio.ByteBuffer.wrap(Files.readAllBytes(p)).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    Array.fill(bb.remaining() / 4 / Dim)(Array.fill(Dim)(bb.getFloat()))
  }
}
