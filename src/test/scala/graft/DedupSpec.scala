package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup

class DedupSpec extends SparkSpec {

  test("shingles: sliding n-token windows, distinct, short-text empty") {
    assert(evalText("a b c d e")(Dedup.shingles(col("text"), 4)) ==
      Seq("a b c d", "b c d e"))
    assert(evalText("a b c")(Dedup.shingles(col("text"), 4)) == Seq())
    assert(evalText("x y x y x y")(Dedup.shingles(col("text"), 2)) == Seq("x y", "y x"))
  }

  test("n-gram Jaccard: hand-computed pair") {
    // 3-shingles {123,234,345} vs {123,234,346}: inter 2, union 4 → 0.5
    val docs = df1(Seq((1L, "w1 w2 w3 w4 w5"), (2L, "w1 w2 w3 w4 w6"), (3L, "zz yy xx ww vv")))
    val out = Dedup.ngramJaccardPairs(docs, "text", "doc_id", n = 3, minJaccard = 0.1).collect()
    assert(out.length == 1)
    assert(out(0).getAs[Long]("id_a") == 1L && out(0).getAs[Long]("id_b") == 2L)
    assert(out(0).getAs[Double]("jaccard") == 0.5)
  }

  test("J1 containment anti-join: candidates sharing a shingle are dropped") {
    val existing = df1(Seq((0L, "the quick brown fox jumps over the lazy dog")))
    val candidates = df1(Seq(
      (1L, "something quick brown fox jumps entirely new"), // shares "quick brown fox jumps"
      (3L, "completely different words in this one here")))
    val kept = Dedup.containmentAntiJoin(candidates, existing, "text", "doc_id", n = 4)
      .collect().map(_.getLong(0)).toSeq
    assert(kept == Seq(3L))
  }

  test("decontaminate: overlap counts and contamination flags") {
    // bench doc has 4-grams {"a b c d", "b c d e"}; doc 1 shares one,
    // doc 2 shares both, doc 3 is clean, doc 4 is too short to shingle
    val bench = df1(Seq((100L, "a b c d e")))
    val corpus = df1(Seq(
      (1L, "a b c d x"), (2L, "a b c d e f"), (3L, "p q r s t"), (4L, "a b c")))
    val out = Dedup.decontaminate(corpus, bench, "text", "doc_id", n = 4)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(out == Map(
      1L -> ((1L, true)), 2L -> ((2L, true)),
      3L -> ((0L, false)), 4L -> ((0L, false))))
  }

  test("winnowNearDupPairs: shared spans pair, hot-fp guard prunes") {
    // docs 1/2 share a 7-token span (two full gram windows); doc 3 is
    // unrelated — only (1,2) pairs, and a maxDf=1 guard kills even that
    val docs = df1(Seq(
      (1L, "x1 x2 s1 s2 s3 s4 s5 s6 s7 x3"),
      (2L, "y1 s1 s2 s3 s4 s5 s6 s7 y2 y3"),
      (3L, "z1 z2 z3 z4 z5 z6 z7 z8 z9 z0")))
    val pairs = Dedup.winnowNearDupPairs(docs, "text", "doc_id",
      n = 3, window = 4, minShared = 1).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
    assert(pairs(0).getAs[Long]("shared_fps") >= 1L)
    val guarded = Dedup.winnowNearDupPairs(docs, "text", "doc_id",
      n = 3, window = 4, minShared = 1, maxDf = 1).collect()
    assert(guarded.isEmpty)
  }

  test("MinHash LSH finds constructed near-duplicates with verified Jaccard") {
    val s = spark
    import s.implicits._
    val base = (0 until 20).map { i =>
      (i.toLong, (0 until 50).map(j => s"tok${(i * 31 + j * 7) % 97}").mkString(" "))
    }
    // near-dup: drop the last token → J = 46/(47+46-46)... high
    val dups = base.map { case (id, t) => (id + 1000L, t.split(" ").dropRight(1).mkString(" ")) }
    val docs = (base ++ dups).toDF("doc_id", "text")
    val pairs = Dedup.minhashNearDupPairs(docs, "text", "doc_id",
      n = 4, k = 32, bands = 8, minJaccard = 0.5).collect()
    val found = pairs.map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val expected = base.map { case (id, _) => (id, id + 1000L) }.toSet
    assert(expected.intersect(found).size >= 18, s"recall too low: found $found")
    assert(pairs.forall(_.getAs[Double]("jaccard") > 0.5))
  }

  test("portableTokenHash32: pinned md5 halves (values DuckDB reproduces)") {
    val (hi, lo) = Dedup.portableTokenHash32(org.apache.spark.sql.functions.lit("tok"))
    val row = spark.range(1).select(hi, lo).head
    assert(row.getLong(0) == 1622020974L) // md5('tok')[0:8] hex
    assert(row.getLong(1) == 1565129695L) // md5('tok')[8:16] hex
  }

  test("SimHash portable: identical texts collide at Hamming 0, halves stay 32-bit") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "totally different words entirely here")).toDF("doc_id", "text")
    val fps = Dedup.simhashFingerprintsPortable(docs, "text", "doc_id").collect()
    assert(fps.forall(r => r.getLong(1) >= 0 && r.getLong(1) < (1L << 32)))
    assert(fps.forall(r => r.getLong(2) >= 0 && r.getLong(2) < (1L << 32)))
    val pairs = Dedup.simhashNearDupPairsPortable(docs, "text", "doc_id", maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.toSeq == Seq((1L, 2L, 0)))
  }

  test("portableBaseHashes: pinned md5 contract (values DuckDB reproduces)") {
    // CAST('0x'||substr(md5('abc'),1,15) AS BIGINT) and the 16..27 slice —
    // the cross-engine agreement the dd_minhash_neardup oracle depends on
    val (h1, h2) = Dedup.portableBaseHashes(org.apache.spark.sql.functions.lit("abc"))
    val row = spark.range(1).select(h1, h2).head
    assert(row.getLong(0) == 648541476951500027L) // md5('abc')[0:15] hex
    assert(row.getLong(1) == 14746299912846L)     // md5('abc')[15:27] hex
    assert(row.getLong(1) < (1L << 48), "h2 must stay 48-bit (overflow headroom)")
  }

  test("MinHash: portable family finds the same constructed near-dups") {
    val s = spark
    import s.implicits._
    val base = (0 until 10).map { i =>
      (i.toLong, (0 until 50).map(j => s"tok${(i * 31 + j * 7) % 97}").mkString(" "))
    }
    val dups = base.map { case (id, t) => (id + 1000L, t.split(" ").dropRight(1).mkString(" ")) }
    val docs = (base ++ dups).toDF("doc_id", "text")
    val pairs = Dedup.minhashNearDupPairs(docs, "text", "doc_id",
      n = 4, k = 32, bands = 8, minJaccard = 0.5,
      family = Dedup.PortableFamily).collect()
    val found = pairs.map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val expected = base.map { case (id, _) => (id, id + 1000L) }.toSet
    assert(expected.intersect(found).size >= 9, s"recall too low: found $found")
  }

  test("native xxhash64 family: verified pairs match the portable family on planted dups") {
    // the dd_native_minhash gate, on a token-DISJOINT corpus (every doc
    // its own vocabulary: the only above-threshold pairs are the planted
    // (i, i+1000) dups at J ≈ 0.98). The hash family shapes only the
    // CANDIDATE set — verification is exact Jaccard either way. Measured
    // finding this test pins: the NATIVE family (independently seeded
    // xxhash64 per permutation) recalls every planted dup; the portable
    // Carter-Wegman family's k permutations are all linear in the same
    // two md5 base hashes, so band misses CORRELATE and it can drop a
    // J≈0.98 pair (observed: exactly one of 20) where independent
    // permutations put the miss probability at ~2e-9 — the concrete
    // reason xxhash64 is the 100 TB default and portable exists only for
    // oracle replay (SCALE.md)
    val s = spark
    import s.implicits._
    val base = (0 until 20).map { i =>
      (i.toLong, (0 until 50).map(j => s"tok${i * 100 + j}").mkString(" "))
    }
    val dups = base.map { case (id, t) => (id + 1000L, t.split(" ").dropRight(1).mkString(" ")) }
    val docs = (base ++ dups).toDF("doc_id", "text")
    def run(fam: Dedup.MinhashFamily) =
      Dedup.minhashNearDupPairs(docs, "text", "doc_id",
          n = 4, k = 32, bands = 8, minJaccard = 0.5, family = fam)
        .collect()
        .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
          r.getAs[Double]("jaccard"))).toSet
    val native = run(Dedup.NativeFamily)
    val portable = run(Dedup.PortableFamily)
    val planted = base.map { case (id, _) => (id, id + 1000L) }.toSet
    // native: full recall, exactly the planted set, nothing invented
    assert(native.map(p => (p._1, p._2)) == planted)
    // portable: a (correlated-permutation) subset of the native result,
    // with identical published jaccard on every pair it does find
    assert(portable.subsetOf(native),
      s"portable found pairs native missed: ${portable -- native}")
    assert(portable.size >= planted.size - 1, s"portable recall collapsed: ${portable.size}")
  }

  private val families =
    Seq("" -> Dedup.PortableFamily, " (native family)" -> Dedup.NativeFamily)

  for ((suffix, fam) <- families)
    test(s"minhashProbePairsIndexed == minhashProbePairs (persisted index is exact)$suffix") {
      // the dd_incr_indexed contract: probing a stored band table + shingle
      // stream yields exactly the pairs the recompute-everything probe
      // yields — including after a parquet round-trip of the index frames
      val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
      val batch = docs.filter(org.apache.spark.sql.functions.col("doc_id") % 17 === 0)
        .select((col("doc_id") + 2000000).as("doc_id"),
          org.apache.spark.sql.functions.concat_ws(" ",
            org.apache.spark.sql.functions.slice(
              graft.functions.TextFns.tokens(col("text")),
              org.apache.spark.sql.functions.lit(1),
              org.apache.spark.sql.functions.greatest(
                org.apache.spark.sql.functions.size(
                  graft.functions.TextFns.tokens(col("text"))) - 6,
                org.apache.spark.sql.functions.lit(4)))).as("text"))
      val direct = Dedup.minhashProbePairs(batch, docs, "text", "doc_id",
          n = 4, k = 32, bands = 8, minJaccard = 0.5,
          family = fam)
        .collect().map(_.toSeq).toSet
      val tmp = java.nio.file.Files.createTempDirectory("mh_index").toString
      val (bands, shingles) = Dedup.minhashIndexFrames(docs, "text", "doc_id",
        n = 4, k = 32, bands = 8, family = fam)
      bands.write.mode("overwrite").parquet(s"$tmp/bands")
      shingles.write.mode("overwrite").parquet(s"$tmp/shingles")
      val indexed = Dedup.minhashProbePairsIndexed(batch,
          spark.read.parquet(s"$tmp/bands"), spark.read.parquet(s"$tmp/shingles"),
          "text", "doc_id", n = 4, k = 32, bands = 8, minJaccard = 0.5,
          family = fam)
        .collect().map(_.toSeq).toSet
      assert(indexed == direct,
        s"indexed-only=${indexed -- direct}, direct-only=${direct -- indexed}")
      assert(indexed.nonEmpty)
    }

  test("minhash: degenerate k or bands fail up front with IllegalArgumentException") {
    val docs = df1(Seq((1L, "a b c d e f"), (2L, "a b c d e g")))
    intercept[IllegalArgumentException](
      Dedup.minhashNearDupPairs(docs, "text", "doc_id", k = 32, bands = 0))
    intercept[IllegalArgumentException](
      Dedup.minhashNearDupPairs(docs, "text", "doc_id", k = 0, bands = 8,
        family = Dedup.NativeFamily))
    intercept[IllegalArgumentException](
      Dedup.minhashNearDupPairs(docs, "text", "doc_id", k = 0, bands = 8,
        family = Dedup.PortableFamily))
  }

  test("minhashProbePairsIndexed refuses an index built with the other family") {
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
    val (bands, shingles) = Dedup.minhashIndexFrames(docs, "text", "doc_id",
      n = 4, k = 32, bands = 8, family = Dedup.NativeFamily)
    val err = intercept[IllegalArgumentException](
      Dedup.minhashProbePairsIndexed(docs.limit(5), bands, shingles,
        "text", "doc_id", n = 4, k = 32, bands = 8, minJaccard = 0.5,
        family = Dedup.PortableFamily))
    assert(err.getMessage.contains("int") && err.getMessage.contains("string"),
      err.getMessage)
  }

  test("connected components: chain, clique, and singleton-pair canonicals") {
    val s = spark
    import s.implicits._
    // components: {1,2,3,4} via chain 1-2, 2-3, 3-4; {10,11,12} clique; {20,21}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (10L, 12L),
      (11L, 12L), (20L, 21L)).toDF("id_a", "id_b")
    val out = Dedup.canonicalComponents(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("connected components: empty pair set yields empty result, long chains converge") {
    val s = spark
    import s.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.canonicalComponents(empty).count() == 0)
    // 40-node chain: diameter 39 >> 20 rounds of plain propagation, but
    // pointer jumping converges in O(log d)
    val chain = (1L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val out = Dedup.canonicalComponents(chain).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(out.length == 40)
    assert(out.forall(_._2 == 1L), out.filterNot(_._2 == 1L).take(5).toSeq.toString)
  }

  test("SimHash: identical texts collide at Hamming 0") {
    val docs = df1(Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "totally unrelated content about other things entirely")))
    val pairs = Dedup.simhashNearDupPairs(docs, "text", "doc_id", maxHamming = 3).collect()
    assert(pairs.length == 1)
    assert(pairs(0).getAs[Long]("id_a") == 1L && pairs(0).getAs[Long]("id_b") == 2L)
    assert(pairs(0).getAs[Int]("hamming") == 0)
  }

  test("pruneToCanonical: drops non-canonical members, keeps canonicals and untouched docs") {
    val s = spark
    import s.implicits._
    val docs = df1(Seq(
      (1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (9L, "untouched")))
    // components: {1,2,3} canonical 1; {4} appears in a self-contained pair? no —
    // pairs: 1-2, 2-3 (chain), so canonical(2)=canonical(3)=1; 4 paired with 2 too
    val pairs = Seq((1L, 2L), (2L, 3L), (2L, 4L)).toDF("id_a", "id_b")
    val kept = Dedup.pruneToCanonical(docs, pairs, "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 9L)) // component {1,2,3,4} -> keep 1; 9 untouched
  }

  test("pruneKeepBest: keeps the max-score member per component, ties to smaller id") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, 10L), (2L, 50L), (3L, 20L), // component {1,2,3}: 2 wins on score
      (4L, 30L), (5L, 30L),            // component {4,5}: tie -> smaller id 4
      (9L, 1L))                        // untouched: kept regardless of score
      .toDF("doc_id", "n_chars")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val kept = Dedup.pruneKeepBest(docs, pairs, "doc_id", "n_chars")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 4L, 9L))
  }

  test("SimHash banding: recall = 1.0 at the guaranteed radius (Hamming <= 3)") {
    val s = spark
    import s.implicits._
    // Worst-case placements: flips concentrated in one band, spread across
    // two, and across three different bands — pigeonhole still leaves at
    // least one of the 4 bands untouched in every case.
    val base = 0x0123456789abcdefL
    val variants: Seq[(Long, Long)] = Seq(
      10L -> base,
      11L -> (base ^ 1L),                                  // d=1
      12L -> (base ^ (1L | (1L << 5))),                    // d=2, one band
      13L -> (base ^ ((1L << 3) | (1L << 19))),            // d=2, two bands
      14L -> (base ^ (1L | (1L << 7) | (1L << 13))),       // d=3, one band
      15L -> (base ^ (1L | (1L << 17) | (1L << 34))))      // d=3, three bands
    val fp = variants.toDF("id", "fp")
    val got = Dedup.simhashPairsFromFingerprints(fp, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every variant is within radius 3 of base → all pairs with id 10 found
    assert(Seq(11L, 12L, 13L, 14L, 15L).forall(v => got.contains((10L, v))),
      s"missing base pairs in $got")
  }

  test("SimHash banding: distance 4 touching all 4 bands is MISSED (contract boundary)") {
    val s = spark
    import s.implicits._
    val base = 0L
    val allBands = (1L << 0) | (1L << 16) | (1L << 32) | (1L << 48)
    val fp = Seq(1L -> base, 2L -> (base ^ allBands)).toDF("id", "fp")
    // even with maxHamming raised to 4, no band agrees → no candidate:
    // this pins WHY the default stays at the 4-band pigeonhole radius
    assert(Dedup.simhashPairsFromFingerprints(fp, maxHamming = 4).count() == 0)
  }

  test("pair operators leave no DataFrame cache behind (library hygiene)") {
    import org.apache.spark.sql.graftbridge.CacheBridge
    spark.catalog.clearCache()
    val docs = Tables.documents(spark, sf0001)
    Dedup.ngramJaccardPairs(docs, "text", "doc_id", n = 4, minJaccard = 0.6, maxDf = 50)
    assert(CacheBridge.noCachedPlans(spark), "ngramJaccardPairs leaked a cached plan")
    Dedup.minhashNearDupPairs(docs, "text", "doc_id")
    assert(CacheBridge.noCachedPlans(spark), "minhashNearDupPairs leaked a cached plan")
  }

  test("boilerplateRemoval: strikes shared sentences everywhere, keeps order") {
    val s = spark
    import s.implicits._
    // "this footer repeats everywhere" appears in 3 docs (>= minDocs=3,
    // case-insensitively); each doc's unique body survives in order
    val df = Seq(
      (1L, "unique first sentence body. This Footer Repeats Everywhere. unique closing line one"),
      (2L, "another distinct body text. this footer repeats everywhere"),
      (3L, "this footer repeats everywhere. third document body sentence"),
      (4L, "short. totally unrelated content here")) // "short" < minLen -> not a sentence
      .toDF("doc_id", "text")
    val out = Dedup.boilerplateRemoval(df, "text", "doc_id", minDocs = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((3L, 1L, "unique first sentence body. unique closing line one")))
    assert(out(2L) == ((2L, 1L, "another distinct body text")))
    assert(out(3L) == ((2L, 1L, "third document body sentence")))
    assert(out(4L) == ((1L, 0L, "totally unrelated content here")))
  }

  test("minhashPrCurve: exact copy recalled at every threshold, counts consistent") {
    val base = (1 to 20).map(i => s"w$i").mkString(" ")
    val other = (1 to 20).map(i => s"z$i").mkString(" ")
    val docs = df1(Seq((1L, base), (2L, base), (3L, other)))
    val out = Dedup.minhashPrCurve(docs, "text", "doc_id",
        thresholds = Seq(0.5, 0.9))
      .collect().map(r => r.getAs[Double]("threshold") ->
        ((r.getAs[Long]("n_true"), r.getAs[Long]("n_found"),
          r.getAs[Double]("recall"), r.getAs[Long]("n_cand"),
          r.getAs[Double]("precision_at_t")))).toMap
    // the only sharing pair is the exact copy (jaccard 1.0): identical
    // signatures collide in every band, so banding recall is exactly 1.0
    assert(out(0.5) == ((1L, 1L, 1.0, 1L, 1.0)))
    assert(out(0.9) == ((1L, 1L, 1.0, 1L, 1.0)))
  }

  test("passageDedup: corpus-wide first chunk occurrence survives, later ones struck") {
    val s = spark
    import s.implicits._
    // width=2 chunks: doc1 = [a b][c d], doc2 = [a b][x y], doc3 = [c d][a b][z]
    val df = Seq(
      (1L, "a b c d"),
      (2L, "a b x y"),
      (3L, "c d a b z"))
      .toDF("doc_id", "text")
    val out = Dedup.passageDedup(df, "text", "doc_id", width = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // doc1 owns both [a b] and [c d]; doc2 loses [a b]; doc3 loses both
    // ([a b] at cidx 1 != first occurrence (1,0); [c d] owned by doc1),
    // but its odd-length tail chunk [z] is unique and survives
    assert(out(1L) == ((2L, 0L, "a b c d")))
    assert(out(2L) == ((2L, 1L, "x y")))
    assert(out(3L) == ((3L, 2L, "z")))
  }

  test("passageDedup: within-doc repeat struck; fully-duplicated doc empties") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "p q p q p q"), // width=2: [p q] three times -> keep first only
      (2L, "p q"))         // entire doc already seen -> empty survivor text
      .toDF("doc_id", "text")
    val out = Dedup.passageDedup(df, "text", "doc_id", width = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((3L, 2L, "p q")))
    assert(out(2L) == ((1L, 1L, "")))
  }

  test("spanScrub: unaligned copied span caught at any offset, chunk pass misses it") {
    val s = spark
    import s.implicits._
    // doc2 embeds doc1 verbatim at offset 2 — NOT on a chunk boundary
    val df = Seq(
      (1L, "a b c d e"),
      (2L, "p q a b c d e r"))
      .toDF("doc_id", "text")
    val out = Dedup.spanScrub(df, "text", "doc_id", width = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // grams [a b c][b c d][c d e] all duplicated; doc1 owns the firsts,
    // doc2's occurrences strike positions 2..6 -> the whole copied span
    assert(out(1L) == ((5L, 0L, "a b c d e")))
    assert(out(2L) == ((8L, 5L, "p q r")))
    // the chunk-aligned pass misses the same copy (offset 2 never lands
    // a doc2 chunk on doc1's chunk grid) — the blind spot spanScrub fixes
    val chunked = Dedup.passageDedup(df, "text", "doc_id", width = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(chunked(2L) == 0L)
  }

  test("spanScrub: intra-doc repeat struck, short doc passes whole, full dup empties") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "x y z x y z"), // [x y z] twice -> second occurrence struck
      (2L, "x y"),         // shorter than width -> no grams, passes whole
      (3L, "x y z"))       // entire doc = an already-kept gram -> empties
      .toDF("doc_id", "text")
    val out = Dedup.spanScrub(df, "text", "doc_id", width = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((6L, 3L, "x y z")))
    assert(out(2L) == ((2L, 0L, "x y")))
    assert(out(3L) == ((3L, 3L, "")))
  }

  test("spanScrubIncremental: probe path equals the full recompute on batch docs") {
    val s = spark
    import s.implicits._
    val corpus = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "z y x w v u t s")).toDF("doc_id", "text")
    val batch = Seq(
      (100L, "p q c d e f r"),   // embeds a corpus run at offset 2
      (101L, "m n o m n o m n"), // batch-internal repeats only
      (102L, "k l"))             // shorter than width -> passes whole
      .toDF("doc_id", "text")
    val idx = Dedup.spanGramIndex(corpus, "text", "doc_id", width = 3)
    val incr = Dedup.spanScrubIncremental(batch, idx, "text", "doc_id", width = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // corpus-owned grams strike the copied run wherever it sits
    assert(incr(100L) == ((7L, 4L, "p q r")))
    // batch-new grams elect keepers batch-internally
    assert(incr(101L) == ((8L, 5L, "m n o")))
    assert(incr(102L) == ((2L, 0L, "k l")))
    // the contract: identical to the full recompute over corpus ∪ batch,
    // restricted to batch ids (batch ids sort after every corpus id)
    val full = Dedup.spanScrub(corpus.unionByName(batch), "text", "doc_id", width = 3)
      .filter(col("doc_id") >= 100L)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(incr == full)
  }

  test("boilerplateRemoval: doc of only boilerplate reassembles to empty text") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "the common boilerplate sentence"),
      (2L, "the common boilerplate sentence"),
      (3L, "the common boilerplate sentence. plus an original thought"))
      .toDF("doc_id", "text")
    val out = Dedup.boilerplateRemoval(df, "text", "doc_id", minDocs = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((1L, "")) && out(2L) == ((1L, "")))
    assert(out(3L) == ((1L, "plus an original thought")))
  }

  test("fuzzyNameMatch: blocking excludes cross-block pairs, distance bounds in-block") {
    val s = spark
    import s.implicits._
    val df = Seq("red bolt", "old bolt", "red bolt", "red bolts", "red gear")
      .toDF("name")
    val out = Dedup.fuzzyNameMatch(df, "name", maxDist = 3)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2),
        r.getLong(3), r.getLong(4)))
    // "red bolt" vs "red bolts": lev 1 but different block (bolt/bolts) ->
    // excluded, the documented recall cost of blocking; "red gear" is its
    // own block; duplicate "red bolt" rows aggregate to cnt 2
    assert(out.toSeq == Seq(("old bolt", "red bolt", 2, 1L, 2L)))
    // hot-block guard: capping block df at 1 removes the bolt block
    assert(Dedup.fuzzyNameMatch(df, "name", 3, maxBlockDf = 1L).count() == 0L)
  }

  test("sortedNeighborhoodPairs: finds prefix-adjacent dups, misses far-apart ranks") {
    val s = spark
    import s.implicits._
    // a/b share a prefix and are rank-adjacent -> found; c is a near-dup
    // of a but its prefix sorts it > window positions away -> missed (the
    // documented recall trade of sorted-neighborhood vs banding)
    val base = "common body of sufficiently many tokens for shingling here"
    val docs = Seq(
      (1L, s"aaa $base"), (2L, s"aab $base"),
      (3L, s"mmm filler one unrelated text body entirely different words"),
      (4L, s"nnn filler two unrelated text body other words again padded"),
      (5L, s"ooo filler three unrelated body text more words yet again"),
      (6L, s"zzz $base")).toDF("doc_id", "text")
    val got = Dedup.sortedNeighborhoodPairs(docs, "text", "doc_id",
        n = 3, window = 2, minJaccard = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L)))
    // widening the window past the gap recovers the missed pair
    val wide = Dedup.sortedNeighborhoodPairs(docs, "text", "doc_id",
        n = 3, window = 5, minJaccard = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(wide == Set((1L, 2L), (1L, 6L), (2L, 6L)))
  }

  test("sourceOverlapMatrix: exact set arithmetic on a tiny two-source corpus") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "a b c d", "s1"),   // shingles(2): {a b, b c, c d}
      (2L, "a b c", "s2"),     // {a b, b c}
      (3L, "x y z", "s2")      // {x y, y z}
    ).toDF("doc_id", "text", "source")
    val out = Dedup.sourceOverlapMatrix(docs, "text", "doc_id", "source", n = 2)
      .collect()
    assert(out.length == 1)
    val r = out(0)
    assert(r.getAs[String]("src_a") == "s1" && r.getAs[String]("src_b") == "s2")
    assert(r.getAs[Long]("inter") == 2L)      // {a b, b c}
    assert(r.getAs[Long]("sz_a") == 3L && r.getAs[Long]("sz_b") == 4L)
    assert(r.getAs[Double]("jaccard") == 0.4) // 2 / (3 + 4 - 2)
    assert(r.getAs[Double]("containment") == BigDecimal(2.0 / 3.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("minhashProbePairs: truncated probe finds its corpus source, exact jaccard") {
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
    val probe = docs.filter(col("doc_id") % 50 === 0)
      .select((col("doc_id") + 9000000L).as("doc_id"),
        concat_ws(" ", slice(graft.functions.TextFns.tokens(col("text")), lit(1),
          greatest(size(graft.functions.TextFns.tokens(col("text"))) - 4, lit(4)))).as("text"))
    val out = Dedup.minhashProbePairs(probe, docs, "text", "doc_id",
        n = 4, k = 32, bands = 8, minJaccard = 0.5)
      .collect()
    // every verified pair is probe-side x corpus-side with a real jaccard
    assert(out.nonEmpty)
    assert(out.forall(r => r.getAs[Long]("probe_id") >= 9000000L))
    assert(out.forall(r => r.getAs[Long]("corpus_id") < 9000000L))
    assert(out.forall(r => r.getAs[Double]("jaccard") > 0.5))
    // high recall of the planted (probe, source) pairs: a 4-token tail cut
    // keeps jaccard far above the 0.5 cut for all but the shortest docs
    val planted = out.map(r =>
      (r.getAs[Long]("probe_id"), r.getAs[Long]("corpus_id")))
      .count { case (p, c) => p - 9000000L == c }
    assert(planted >= probe.count() / 2, s"planted hits: $planted")
  }

  test("clusterStats: clique of three vs a single pair, exact stats") {
    val s = spark
    import s.implicits._
    // component {1,2,3} as a clique (3 pairs), component {7,8} (1 pair)
    val pairs = Seq(
      (1L, 2L, 0.9), (1L, 3L, 0.8), (2L, 3L, 0.7),
      (7L, 8L, 0.5)
    ).toDF("id_a", "id_b", "jaccard")
    val out = Dedup.clusterStats(pairs).collect()
      .map(r => r.getAs[Long]("canonical") ->
        ((r.getAs[Long]("size"), r.getAs[Long]("n_pairs"),
          r.getAs[Double]("avg_jaccard")))).toMap
    assert(out(1L) == ((3L, 3L, 0.8)))  // (0.9+0.8+0.7)/3
    assert(out(7L) == ((2L, 1L, 0.5)))
  }

  for ((suffix, fam) <- families)
    test(s"minhashIngestPairs == probePairs ∪ nearDupPairs (one-pass fusion is exact)$suffix") {
      val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
      val even = docs.filter(col("doc_id") % 2 === 0)
      val odd = docs.filter(col("doc_id") % 2 =!= 0)
      val ing = Dedup.minhashIngestPairs(odd, even, "text", "doc_id",
        n = 4, k = 32, bands = 8, minJaccard = 0.5,
        family = fam).collect()
      def key(r: org.apache.spark.sql.Row) =
        (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Double]("jaccard"))
      val vsCorpus = ing.filter(_.getAs[Boolean]("vs_corpus")).map(key).toSet
      val within = ing.filterNot(_.getAs[Boolean]("vs_corpus")).map(key).toSet
      val probe = Dedup.minhashProbePairs(odd, even, "text", "doc_id",
          n = 4, k = 32, bands = 8, minJaccard = 0.5,
          family = fam).collect()
        .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("corpus_id"),
          r.getAs[Double]("jaccard"))).toSet
      val self = Dedup.minhashNearDupPairs(odd, "text", "doc_id",
          n = 4, k = 32, bands = 8, minJaccard = 0.5,
          family = fam).collect().map(key).toSet
      assert(vsCorpus == probe, s"probe arm diverged: ${vsCorpus.size} vs ${probe.size}")
      assert(within == self, s"within arm diverged: ${within.size} vs ${self.size}")
      assert(vsCorpus.nonEmpty || within.nonEmpty) // corpus has planted near-dups
    }

  test("clusterStats averages the PUBLISHED (rounded) pair jaccard — oracle alignment") {
    val s = spark
    import s.implicits._
    // minhashNearDupPairs publishes ROUND(6) jaccard; clusterStats must
    // average exactly those published values (the DuckDB oracle does),
    // not recompute unrounded ratios — otherwise a mean landing near a
    // 6th-decimal boundary can flip the final ROUND between engines.
    // 2/3 rounds to 0.666667; the average of published values is
    // (0.666667 + 0.5) / 2 = 0.583334 (round 0.5833335 HALF_UP), while
    // unrounded inputs would give (2/3 + 0.5) / 2 = 0.583333.
    val pairs = Seq(
      (1L, 2L, BigDecimal(2.0 / 3.0).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble),
      (1L, 3L, 0.5)
    ).toDF("id_a", "id_b", "jaccard")
    val got = Dedup.clusterStats(pairs).collect()
      .map(r => r.getAs[Long]("canonical") -> r.getAs[Double]("avg_jaccard")).toMap
    assert(got(1L) == 0.583334, s"got ${got(1L)} — expected the mean of ROUNDED inputs")
  }

  test("hotNgrams: cross-doc df counts once per doc, minDf and k bound the list") {
    val s = spark
    import s.implicits._
    val phrase = "one two three four five six seven eight"
    val docs = Seq(
      (1L, s"$phrase tail a"),
      (2L, s"head $phrase"),
      (3L, phrase),
      // internal repetition: the phrase appears twice in ONE doc → df +1
      (4L, s"$phrase $phrase"),
      (5L, "totally different words that never repeat anywhere else here")
    ).toDF("doc_id", "text")
    val out = Dedup.hotNgrams(docs, "text", "doc_id", n = 8, minDf = 3, k = 10)
      .collect().map(r => r.getAs[String]("sh") -> r.getAs[Long]("df")).toMap
    assert(out(phrase) == 4L) // docs 1-4, doc 4 counted once
    assert(out.values.forall(_ >= 3L))
    assert(!out.keys.exists(_.contains("different")))
  }
}
