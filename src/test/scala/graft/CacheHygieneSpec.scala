package graft

import org.scalatest.funsuite.AnyFunSuite

/** Cache lifecycle law: a registry query run inside CacheScope.withScope
  * must leave NO entries in the session CacheManager once its result is
  * materialized and the scope exits — the guarantee a long-lived
  * QueryService-style process relies on to serve the full registry
  * without storage accumulating across queries. (Fresh-session runs —
  * Verify, Bench — never see the leak because teardown frees
  * everything; this pins the behavior the session lifetime otherwise
  * hides.) A new query is covered the moment it is registered; caching
  * OUTSIDE CacheScope.cached in a query body will fail here. */
class CacheHygieneSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("every registry query's scoped run leaves the CacheManager empty") {
    // each run starts from an empty cache, so a leak is attributable to
    // the query under test, not to frames another suite cached
    for (q <- Registry.all.sortBy(_.name))
      assert(!RegistryRuns(q.name).leftCached,
        s"${q.name} left cached frames behind after its scope exited")
  }

  test("cached() without an active scope degrades to plain cache()") {
    import spark.implicits._
    spark.catalog.clearCache()
    val df = CacheScope.cached(Seq(1, 2, 3).toDF("x"))
    try {
      df.count()
      assert(!spark.sharedState.cacheManager.isEmpty,
        "frame must stay cached when no scope is active")
    } finally df.unpersist()
  }

  test("nested scopes free only their own frames") {
    import spark.implicits._
    spark.catalog.clearCache()
    CacheScope.withScope {
      val outerDf = CacheScope.cached(Seq(1).toDF("a"))
      outerDf.count()
      CacheScope.withScope {
        val innerDf = CacheScope.cached(Seq(2).toDF("b"))
        innerDf.count()
      }
      // inner freed, outer still cached
      assert(!spark.sharedState.cacheManager.isEmpty,
        "outer scope's frame must survive the inner scope's exit")
      assert(outerDf.queryExecution.withCachedData.toString
        .contains("InMemoryRelation"), "outer frame evicted early")
    }
    assert(spark.sharedState.cacheManager.isEmpty,
      "outer scope exit must free the remaining frames")
  }
}
