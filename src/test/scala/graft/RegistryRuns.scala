package graft

import java.security.MessageDigest

/** One cold, CacheScope-scoped run of each registry query at sf0.001 and
  * the session's default partitioning, shared by the registry-wide
  * sweeps (CacheHygieneSpec's leak law, PropertySpec's partitioning
  * law, PlanAuditSpec's scan allowance): the first sweep to ask for a
  * query runs it and the others read what that run observed.
  *
  * Every run starts from an empty CacheManager, so what it records
  * depends only on the query, never on which suite or query ran
  * before. */
object RegistryRuns {

  /** What one run observed: a digest of the ordered collected rows, the
    * row count, whether the scope left anything cached, and the final
    * adaptive plan. */
  final case class Run(digest: String, rows: Int, leftCached: Boolean,
      finalPlan: String)

  private val memo = scala.collection.mutable.Map.empty[String, Run]

  def apply(name: String): Run = synchronized {
    memo.getOrElseUpdate(name, run(name))
  }

  /** Ordered digest of collected rows, by their string form. */
  def digest(rows: Array[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.foreach { r =>
      md.update(r.getBytes("UTF-8"))
      md.update(0.toByte)
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Run `name` scoped at the current partitioning and digest its rows. */
  def scopedDigest(name: String): (String, Int) = {
    val spark = TestSpark.spark
    val rows = CacheScope.withScope {
      SparkEntry.queries(name)(spark, TestSpark.sf0001)
        .collect().map(_.toString)
    }
    (digest(rows), rows.length)
  }

  private def run(name: String): Run = {
    val spark = TestSpark.spark
    require(spark.conf.get("spark.sql.shuffle.partitions") == "4",
      "registry runs are recorded at the TestSpark default partitioning")
    spark.catalog.clearCache()
    require(spark.sharedState.cacheManager.isEmpty, "pre-state not clean")
    val (rows, plan) = CacheScope.withScope {
      val df = SparkEntry.queries(name)(spark, TestSpark.sf0001)
      val rows = df.collect().map(_.toString)
      (rows, tools.Inspect.finalPlan(df))
    }
    Run(digest(rows), rows.length,
      !spark.sharedState.cacheManager.isEmpty, plan)
  }
}
