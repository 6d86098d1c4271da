package graft.apps

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The reference's 8 serving endpoints (app.py:144-308) as pure
  * DataFrame → DataFrame functions over a cached apps frame.
  *
  * Semantics preserved exactly — including the null-cluster behavior the
  * recommender depends on (models fit on valid rows but transform all
  * rows, so invalid rows carry a null cluster; app.py:271-272 404s on it).
  *
  * One deliberate upgrade, documented in SURVEY §5.2: the reference's
  * top-k sorts are non-deterministic under ties; every sort here appends
  * `appId` as a final tie-break key so results are stable across runs
  * and partitionings. The per-key queries are top-k
  * (TakeOrderedAndProject) or point lookups over the cached frame — no
  * full sorts.
  *
  * The two whole-table routes, /check_data and /categories, depend on
  * nothing but the frame, which is immutable: each is computed once, on
  * first use, into a local frame, so later requests launch no Spark job.
  */
final class QueryService(df: DataFrame) {

  private val suggestionCols = Seq("title", "appId", "score")
  private def tieBreak(keys: Column*): Seq[Column] = keys :+ asc("appId")

  /** The served frame's session. */
  def session: SparkSession = df.sparkSession

  /** `q`'s rows, collected once into a frame over a local relation. */
  private def local(q: DataFrame): DataFrame =
    session.createDataFrame(q.collect().toSeq.asJava, q.schema)

  /** GET /check_data — count + columns + 3 sample rows (app.py:144-154);
    * memoised. */
  lazy val checkData: (Long, Seq[String], DataFrame) =
    (df.count(), df.columns.toSeq, local(df.orderBy(asc("appId")).limit(3)))

  /** GET /categories — distinct non-null genres ascending (app.py:156-162);
    * memoised. */
  lazy val categories: DataFrame =
    local(df.select("genre").filter(col("genre").isNotNull)
      .distinct().orderBy("genre"))

  /** GET /search_app_suggestions?q= — the 15 distinct (title, appId,
    * score) triples whose title contains `q`, ranked by the triple's
    * highest minInstalls descending, then appId (app.py:164-182); caller
    * enforces q.length >= 2 like app.py:169. The triples are deduplicated
    * BEFORE the sort: a sort under a distinct is dropped by the optimizer,
    * which would return 15 arbitrary matches. */
  def searchSuggestions(q: String): DataFrame = {
    require(q.length >= 2, "query must be at least 2 characters")
    df.filter(lower(col("title")).contains(q.toLowerCase))
      .groupBy(suggestionCols.map(col): _*)
      .agg(max("minInstalls").as("maxInstalls"))
      .orderBy(tieBreak(desc("maxInstalls")): _*)
      .limit(15)
      .select(suggestionCols.map(col): _*)
  }

  /** GET /app_details_by_id/<id> — point lookup (app.py:184-204). */
  def appDetailsById(appId: String): DataFrame =
    df.filter(col("appId") === appId).limit(1)

  /** GET /recommend_apps_by_category/<c> — case-insensitive genre filter,
    * top-20 by (score, minInstalls) (app.py:206-225). */
  def recommendByCategory(category: String): DataFrame =
    df.filter(lower(col("genre")) === category.toLowerCase)
      .orderBy(tieBreak(desc("score"), desc("minInstalls")): _*)
      .limit(20)

  /** GET /top_apps?sort_by&limit&category — dynamic validated sort column
    * (app.py:227-258). Returns None when sort_by is not a column, the
    * 400-equivalent of app.py:238-239. */
  def topApps(sortBy: String, limit: Int = 10,
      category: Option[String] = None): Option[DataFrame] = {
    if (!df.columns.contains(sortBy)) None
    else {
      val base = category match {
        case Some(c) => df.filter(lower(col("genre")) === c.toLowerCase)
        case None => df
      }
      Some(base.orderBy(tieBreak(desc(sortBy)): _*).limit(limit))
    }
  }

  /** GET /recommend_similar_app_by_name/<name> — the core recommender:
    * cluster-membership similarity (app.py:260-292). Returns None when
    * the app is unknown or has a null cluster (the 404 paths). */
  def similarAppsByName(name: String): Option[DataFrame] = {
    val self = df.filter(lower(col("title")) === name.toLowerCase)
      .select("appId", "cluster").limit(1).collect()
    self.headOption.flatMap { row =>
      if (row.isNullAt(1)) None
      else {
        val clusterId = row.getInt(1)
        val selfId = row.getString(0)
        Some(df.filter(col("cluster") === clusterId && col("appId") =!= selfId)
          .orderBy(tieBreak(desc("score")): _*)
          .limit(10))
      }
    }
  }

  /** GET /apps_in_cluster/<id> — (app.py:294-308); None if the frame has
    * no cluster column (the 500 path, app.py:298). */
  def appsInCluster(clusterId: Int): Option[DataFrame] =
    if (!df.columns.contains("cluster")) None
    else Some(df.filter(col("cluster") === clusterId)
      .orderBy(tieBreak(desc("score")): _*)
      .limit(20))
}
