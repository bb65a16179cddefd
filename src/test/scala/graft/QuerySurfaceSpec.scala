package graft

/** Declared-surface smoke lock: every name in `SparkEntry.queries` must at
  * least ANALYZE against the current testdata. This is the guard against the
  * round-9 failure mode, where a testdata re-encoding broke 15 declared
  * queries at analysis time and Verify's per-query try/catch silently shrank
  * the driver's correctness denominator from 133 to 118 — "all green" while
  * 11% of the surface errored. Analysis itself runs no jobs, so most of the
  * surface checks in seconds — EXCEPT the stored-index queries
  * (x_ivfpq_stored/append/serve*), whose query FUNCTIONS eagerly build
  * their memoized artefacts before returning a frame; for those this spec
  * also pays one build at sf0.001 (and a build failure surfaces here by
  * query name, which is still the loud signal we want). The same loop
  * plans each query and fails on any executedPlan line that expands the
  * tokenizer chain more than once. Execution
  * correctness stays with the driver's DuckDB compare and the per-operator
  * suites.
  */
class QuerySurfaceSpec extends SparkTestBase {

  private val dir = sf("sf0.001")

  // the tokenizer chain; tokenize-once should be a named projection, so
  // one plan line expanding it twice is per-row duplicate evaluation
  private val tokenChain = "split\\(trim\\(regexp_replace\\(lower\\(".r

  test("every declared query analyzes against sf0.001") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try {
          val qe = fn(spark, dir).queryExecution
          qe.analyzed
          val worst = qe.executedPlan.toString.linesIterator
            .map(tokenChain.findAllIn(_).size).maxOption.getOrElse(0)
          if (worst > 1) Some(s"$name: a plan line tokenizes $worst times")
          else None
        }
        catch { case e: Throwable =>
          Some(s"$name: ${Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator.take(3).mkString(" | ")}")
        }
    }
    assert(failures.isEmpty,
      s"\n${failures.size} declared queries fail analysis or the " +
        "tokenize-once check:\n" + failures.mkString("\n"))
    // constructing every query function persists several intermediate
    // frames (and the stored-index builds cache their artefacts) into the
    // SHARED test session — left in place they change later suites' plans
    // (PlanSpec's minhash lock reads 6 exchanges instead of 3 when scans
    // resolve to leaked InMemoryRelations). The full `sbt test` order
    // happens to run PlanSpec first, which is why only targeted testOnly
    // combinations ever saw it; clean up unconditionally.
    spark.catalog.clearCache()
  }

  test("SparkEntry.entry (the driver's flagship smoke) returns rows") {
    assert(SparkEntry.entry(spark).limit(1).count() > 0)
  }

  test("every declared query has an oracle or a documented rows-only check") {
    // oracleSql keys must be a subset of queries (a stale oracle for a
    // removed query would make the driver compare error out)
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without queries: $orphans")
  }

  test("benchNames reference declared queries, uniquely") {
    // a benched name outside `queries` would make Bench throw per entry
    // (and silently shrink the measured set); a duplicate would double-count
    val missing = SparkEntry.benchNames.toSet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"benchNames without queries: $missing")
    val dups = SparkEntry.benchNames.groupBy(identity).filter(_._2.size > 1)
    assert(dups.isEmpty, s"duplicate benchNames: ${dups.keys}")
  }
}
