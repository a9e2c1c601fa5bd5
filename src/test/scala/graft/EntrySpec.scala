package graft

/** Driver-contract shape checks. */
class EntrySpec extends SparkSpec {

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a query; catalog is non-trivial") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    assert(SparkEntry.queries.size >= 30)
    assert(SparkEntry.oracleSql.size >= 25)
  }

  test("every query runs, returns rows, and releases its caches on sf0.001") {
    val slow = Set("dd_minhash_neardup") // covered by its own spec
    // Streaming-ingest entries own persisted snapshot state across
    // micro-batches by design — the cache-balance contract is scoped to
    // batch operators (the Verify/Bench harnesses clearCache per query).
    val streaming = SparkEntry.queries.keySet.filter(_.startsWith("st"))
    val leakers = scala.collection.mutable.ArrayBuffer.empty[String]
    spark.catalog.clearCache()
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1) if !slow(name)) {
      val n = fn(spark, sf0001).count()
      assert(n > 0, s"$name returned no rows")
      // Cache-lifecycle regression gate: a library operator must leave the
      // session's CacheManager exactly as it found it (persist → action →
      // localCheckpoint(eager) → unpersist, the triangleStats discipline).
      // A long-lived production session otherwise accumulates blocks until
      // eviction pressure. Collected, not fail-fast, so one run reports
      // every offender.
      if (!streaming(name) &&
          !org.apache.spark.sql.graftbridge.CacheBridge.noCachedPlans(spark))
        leakers += name
      spark.catalog.clearCache()
    }
    assert(leakers.isEmpty, s"entries left cached plans: ${leakers.mkString(", ")}")
  }

  test("oracle SQL static sanity: no truncated interpolation, balanced structure") {
    // cheap typo-catchers that run at sbt-test time; the full parse gate
    // is `tools/check_oracle.py --parse-only` over Verify's --dry-oracle
    // dump (DuckDB is driver-side tooling, not a library dependency)
    for ((name, sql) <- SparkEntry.oracleSql) {
      assert(sql.trim.nonEmpty, s"$name: empty oracle")
      assert(sql.toUpperCase.contains("SELECT"), s"$name: no SELECT")
      val parens = sql.foldLeft(0) {
        case (acc, '(') => acc + 1
        case (acc, ')') => acc - 1
        case (acc, _) => acc
      }
      assert(parens == 0, s"$name: unbalanced parentheses ($parens)")
      assert(sql.count(_ == '\'') % 2 == 0, s"$name: odd quote count")
      // an unfilled Scala interpolation ships the literal text "null" in
      // place of a fragment builder — catch the two shapes that produces
      assert(!sql.contains("nullAS") && !sql.contains(", null,"),
        s"$name: likely unfilled interpolation")
    }
  }
}
