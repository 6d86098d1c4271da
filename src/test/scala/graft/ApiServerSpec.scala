package graft

import graft.apps.{ApiServer, AppSchema, QueryService, ServingData}
import graft.pipeline.AppModels
import graft.sources.CsvIngest
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import scala.jdk.CollectionConverters._

/** End-to-end HTTP serving: the 8 reference endpoints over a trained
  * apps table, hit through real sockets. */
class ApiServerSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = TestSpark.spark

  private var started = false
  private lazy val server: ApiServer = {
    import spark.implicits._
    val rng = new scala.util.Random(5)
    val genres = Seq("Tools", "Games", "Social")
    val apps = (0 until 40).map { i =>
      (s"app.id.$i", s"App Number $i", genres(i % 3),
        f"${1.0 + rng.nextDouble() * 4}%.2f", (1000L * (i + 1)).toString,
        f"${rng.nextDouble() * 5}%.2f")
    }.toDF("appId", "title", "genre", "score", "minInstalls", "price")
    val r = AppModels.train(CsvIngest.enforceOrder(apps)).toOption.get
    val served = CsvIngest.castColumns(
      r.scored.select("appId", "title", "genre", "score", "minInstalls",
        "price", "cluster", "PredictedRating"),
      AppSchema.servingCastMap).cache()
    val s = new ApiServer(new QueryService(served), 0) // ephemeral port
    s.start()
    started = true
    s
  }

  override def afterAll(): Unit = {
    try if (started) server.stop() finally super.afterAll()
  }

  private lazy val client = HttpClient.newHttpClient()
  private def request(path: String, port: Int = server.boundPort) =
    HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path")).GET().build()
  private def get(path: String, port: Int = server.boundPort): (Int, String) = {
    val resp = client.send(request(path, port), HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  /** Every route's valid request and every planted 4xx. */
  private val paths = Seq("/check_data", "/categories",
    "/search_app_suggestions?q=number%201", "/search_app_suggestions?q=x",
    "/app_details_by_id/app.id.3", "/app_details_by_id/no.such",
    "/recommend_apps_by_category/GAMES",
    "/top_apps?sort_by=score&limit=5", "/top_apps?sort_by=nope",
    "/recommend_similar_app_by_name/app%20number%207",
    "/recommend_similar_app_by_name/zzz",
    "/apps_in_cluster/0", "/apps_in_cluster/banana")

  /** The live `api-server` threads. */
  private def serverThreads: Set[Thread] =
    Thread.getAllStackTraces.keySet.asScala
      .filter(_.getName.startsWith("api-server-")).toSet

  test("all 8 endpoints answer with reference semantics") {
    val (c1, b1) = get("/check_data")
    assert(c1 == 200 && b1.contains("\"row_count\": 40"))

    val (c2, b2) = get("/categories")
    assert(c2 == 200 && b2.contains("Games") && b2.contains("Tools"))

    val (c3, b3) = get("/search_app_suggestions?q=number%201")
    assert(c3 == 200 && b3.toLowerCase.contains("number 1"))
    assert(get("/search_app_suggestions?q=x")._1 == 400, "short query -> 400")

    val (c4, b4) = get("/app_details_by_id/app.id.3")
    assert(c4 == 200 && b4.contains("app.id.3"))
    assert(get("/app_details_by_id/no.such")._1 == 404)

    assert(get("/recommend_apps_by_category/GAMES")._1 == 200)

    val (c5, b5) = get("/top_apps?sort_by=score&limit=5")
    assert(c5 == 200 && b5.count(_ == '{') <= 5)
    assert(get("/top_apps?sort_by=nope")._1 == 400)

    val (c6, _) = get("/recommend_similar_app_by_name/app%20number%207")
    assert(c6 == 200)
    assert(get("/recommend_similar_app_by_name/zzz")._1 == 404)

    assert(get("/apps_in_cluster/0")._1 == 200)
    assert(get("/apps_in_cluster/banana")._1 == 400)
  }

  test("concurrent requests get the serial answers; memoised routes launch no job") {
    val serial = paths.map(p => p -> get(p)).toMap
    // every path 4x at once, on as many connections as the client opens
    val fired = Seq.fill(4)(paths).flatten.map(p => p ->
      client.sendAsync(request(p), HttpResponse.BodyHandlers.ofString()))
    fired.foreach { case (p, f) =>
      val resp = f.join()
      assert((resp.statusCode(), resp.body()) == serial(p), s"$p answered differently under load")
    }
    // both whole-table routes were served above: from here on they are
    // answered from memory
    val sc = spark.sparkContext
    val counters = new tools.Inspect.JobCounters(sc)
    sc.addSparkListener(counters)
    try {
      counters.drain(); counters.reset()
      assert(get("/check_data") == serial("/check_data"))
      assert(get("/categories") == serial("/categories"))
      counters.drain()
      assert(counters.read._1 == 0, "memoised routes must launch no Spark job")
      // the counter does see a route that runs a query
      get("/app_details_by_id/app.id.3")
      counters.drain()
      assert(counters.read._1 > 0)
    } finally sc.removeSparkListener(counters)
  }

  test("stop() ends every request thread, and a second server starts and stops") {
    import spark.implicits._
    val frame = Seq(("a.1", "One", "Tools"), ("a.2", "Two", "Games"))
      .toDF("appId", "title", "genre")
    def serveOnce(): Unit = {
      val before = serverThreads
      val s = new ApiServer(new QueryService(frame), 0)
      s.start()
      val (code, body) = get("/check_data", s.boundPort)
      assert(code == 200 && body.contains("\"row_count\": 2"))
      val mine = serverThreads -- before
      assert(mine.nonEmpty, "the request must have run on an api-server thread")
      s.stop()
      mine.foreach(_.join(10000))
      assert(mine.forall(!_.isAlive), s"left alive: ${mine.filter(_.isAlive).map(_.getName)}")
    }
    serveOnce()
    serveOnce()
  }

  test("serving path picks the mtime-latest testdata-derived parquet, caches, serves") {
    import org.apache.spark.sql.functions._
    import java.nio.file.{Files, attribute}
    // a SECOND dataset shape: the TPC-H part table recast as the apps
    // schema, trained and persisted the way the trainer side does it
    val apps = CsvIngest.enforceOrder(Tables.part(spark, TestSpark.sf0001)
      .limit(60).select(
        concat(lit("part."), col("p_partkey").cast("string")).as("appId"),
        col("p_name").as("title"),
        col("p_brand").as("genre"),
        (col("p_partkey") % 40 / lit(10.0) + 1).cast("string").as("score"),
        (col("p_partkey") * 1000).cast("string").as("minInstalls"),
        (col("p_retailprice") % 10).cast("string").as("price")))
    val r = AppModels.train(apps).toOption.get
    val served = CsvIngest.castColumns(
      r.scored.select("appId", "title", "genre", "score", "minInstalls",
        "price", "cluster", "PredictedRating"),
      AppSchema.servingCastMap)
    val base = Files.createTempDirectory("graft-serving-testdata")
    base.toFile.deleteOnExit()
    // stale snapshot (10 rows) with an OLDER mtime, fresh one with all 60:
    // the loader must pick by mtime, not by name order
    served.limit(10).write.parquet(s"$base/api_app_info_zzz_stale")
    served.write.parquet(s"$base/api_app_info_aaa_fresh")
    Files.setLastModifiedTime(base.resolve("api_app_info_zzz_stale"),
      attribute.FileTime.fromMillis(System.currentTimeMillis() - 600000))
    Files.setLastModifiedTime(base.resolve("api_app_info_aaa_fresh"),
      attribute.FileTime.fromMillis(System.currentTimeMillis()))
    val loaded = ServingData.loadApiData(spark, base).get
    assert(loaded.storageLevel.useMemory, "loadApiData must cache the frame")
    assert(loaded.count() == 60, "must serve the mtime-latest snapshot, not the stale one")
    val s2 = new ApiServer(new QueryService(loaded), 0)
    s2.start()
    try {
      val resp = client.send(
        HttpRequest.newBuilder(URI.create(
          s"http://localhost:${s2.boundPort}/check_data")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() == 200 && resp.body().contains("\"row_count\": 60"))
      val det = client.send(
        HttpRequest.newBuilder(URI.create(
          s"http://localhost:${s2.boundPort}/app_details_by_id/part.1")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(det.statusCode() == 200 && det.body().contains("part.1"))
    } finally { s2.stop(); loaded.unpersist() }
  }
}
