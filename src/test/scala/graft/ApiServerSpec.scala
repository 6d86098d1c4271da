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

  /** Titles whose URL encodings carry `+`, `%` and `&`. */
  private val oddTitles = Map(37 -> "C++ Tutor", 38 -> "100% Free", 39 -> "R&B Radio")

  private var started = false
  private lazy val svc: QueryService = {
    import spark.implicits._
    val rng = new scala.util.Random(5)
    val genres = Seq("Tools", "Games", "Social")
    val apps = (0 until 40).map { i =>
      (s"app.id.$i", oddTitles.getOrElse(i, s"App Number $i"), genres(i % 3),
        f"${1.0 + rng.nextDouble() * 4}%.2f", (1000L * (i + 1)).toString,
        f"${rng.nextDouble() * 5}%.2f")
    }.toDF("appId", "title", "genre", "score", "minInstalls", "price")
    val r = AppModels.train(CsvIngest.enforceOrder(apps)).toOption.get
    val served = CsvIngest.castColumns(
      r.scored.select("appId", "title", "genre", "score", "minInstalls",
        "price", "cluster", "PredictedRating"),
      AppSchema.servingCastMap).cache()
    new QueryService(served)
  }
  private lazy val server: ApiServer = {
    val s = new ApiServer(svc, 0) // ephemeral port
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

  /** A limit past the rankings: the one request that runs a query. */
  private val deepTop = s"/top_apps?sort_by=score&limit=${QueryService.RankDepth + 1}"

  /** Every route's valid request and every planted 4xx. */
  private val paths = Seq("/check_data", "/categories",
    "/search_app_suggestions?q=number%201", "/search_app_suggestions?q=x",
    "/app_details_by_id/app.id.3", "/app_details_by_id/app.id.39",
    "/app_details_by_id/no.such",
    "/recommend_apps_by_category/GAMES",
    "/top_apps?sort_by=score&limit=5", "/top_apps?sort_by=price&limit=3&category=games",
    deepTop, "/top_apps?sort_by=nope", "/top_apps?limit=abc",
    "/recommend_similar_app_by_name/app%20number%207",
    "/recommend_similar_app_by_name/zzz",
    "/apps_in_cluster/0", "/apps_in_cluster/banana")

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()
  /** The route a path is served by: its first segment. */
  private def route(path: String) = "/" + path.split("[/?]")(1)

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
    val before = json.readTree(get("/metrics")._2)
    // every path 4x at once, on as many connections as the client opens
    val fired = Seq.fill(4)(paths).flatten.map(p => p ->
      client.sendAsync(request(p), HttpResponse.BodyHandlers.ofString()))
    fired.foreach { case (p, f) =>
      val resp = f.join()
      assert((resp.statusCode(), resp.body()) == serial(p), s"$p answered differently under load")
    }
    // the metrics moved by exactly what was fired, per route
    val after = json.readTree(get("/metrics")._2)
    for ((r, ps) <- fired.map(_._1).groupBy(route)) {
      def moved(k: String) = after.get(r).get(k).asLong - before.get(r).get(k).asLong
      assert(moved("requests") == ps.size, s"$r requests")
      assert(moved("4xx") == ps.count(p => serial(p)._1 / 100 == 4), s"$r 4xx")
      assert(moved("5xx") == 0, s"$r 5xx")
      val (p50, p99) = (after.get(r).get("p50_ms").asDouble, after.get(r).get("p99_ms").asDouble)
      assert(p50 > 0 && p99 >= p50, s"$r latency: ${after.get(r)}")
    }
    // every route was served above, so every memo is built: from here on
    // every answer comes from memory, except a limit past the rankings
    val sc = spark.sparkContext
    val counters = new tools.Inspect.JobCounters(sc)
    sc.addSparkListener(counters)
    def jobsOf(p: String): Long = {
      counters.drain(); counters.reset()
      assert(get(p) == serial(p), s"$p answered differently after its memo was built")
      counters.drain()
      counters.read._1
    }
    try for (p <- paths)
      assert(jobsOf(p) == (if (p == deepTop) 1 else 0), s"$p: Spark jobs")
    finally sc.removeSparkListener(counters)
    // the rankings behind the per-key memos keep the top-k operator
    for (r <- Seq(svc.categoryRanking, svc.clusterRanking)) {
      val plan = tools.Inspect.finalPlan(r)
      assert(plan.contains("TopKPerGroup "), s"ranking is not planned as TopKPerGroupExec:\n$plan")
    }
  }

  test("top_apps answers 400 to a limit that is not a non-negative integer") {
    for (limit <- Seq("abc", "-1", "1.5", "", "99999999999"))
      assert(get(s"/top_apps?sort_by=score&limit=$limit") == (400, """{"error": "invalid limit"}"""),
        s"limit=$limit")
    assert(get("/top_apps?sort_by=score&limit=0") == (200, "[]"))
  }

  test("back-to-back requests on one kept-alive connection do not wait for delayed ACKs") {
    val sock = new java.net.Socket("localhost", server.boundPort)
    try {
      val out = sock.getOutputStream
      val in = new java.io.DataInputStream(new java.io.BufferedInputStream(sock.getInputStream))
      val req = "GET /check_data HTTP/1.1\r\nHost: localhost\r\n\r\n".getBytes("US-ASCII")
      /** One whole reply: the headers up to the blank line, then the body. */
      def reply(): Unit = {
        val head = new StringBuilder
        while (!head.endsWith("\r\n\r\n")) head += in.readByte().toChar
        val length = head.toString.split("\r\n")
          .collectFirst { case h if h.toLowerCase.startsWith("content-length:") => h.drop(15).trim.toInt }
        assert(head.startsWith("HTTP/1.1 200") && length.isDefined, head.toString)
        in.readFully(new Array[Byte](length.get))
      }
      val ms = (0 until 20).map { _ =>
        val t0 = System.nanoTime()
        out.write(req); out.flush()
        reply()
        (System.nanoTime() - t0) / 1e6
      }.sorted
      // a reply held back by Nagle's algorithm waits >= 40 ms for the ACK
      assert(ms(ms.size / 2) < 20, s"round trips (ms): $ms")
    } finally sock.close()
  }

  test("path arguments and query values holding +, % and & are decoded once") {
    for ((title, path) <- Seq("C++ Tutor" -> "C%2B%2B%20Tutor",
        "100% Free" -> "100%25%20Free", "R&B Radio" -> "R%26B%20Radio")) {
      val (code, body) = get(s"/recommend_similar_app_by_name/$path")
      assert(code == 200, s"$title: $body")
    }
    for ((q, title) <- Seq("c%2B%2B" -> "C++ Tutor", "100%25" -> "100% Free",
        "r%26b" -> "R&B Radio", "number+7" -> "App Number 7")) {
      val (code, body) = get(s"/search_app_suggestions?q=$q")
      assert(code == 200 && body.contains(s"\"$title\""), s"q=$q: $body")
    }
    // `+` is literal in a path, a space only in a query value
    assert(get("/recommend_similar_app_by_name/App+Number+7")._1 == 404)
  }

  test("stop() ends every request thread, and a second server starts and stops") {
    import spark.implicits._
    val frame = Seq(("a.1", "One", "Tools", 4.0f, 10L, 0), ("a.2", "Two", "Games", 3.0f, 20L, 0))
      .toDF("appId", "title", "genre", "score", "minInstalls", "cluster")
    // the cache manager's entry count (Scala-private to Spark's sql
    // package, public in its bytecode)
    val cacheManager = spark.sharedState.cacheManager
    def cached = cacheManager.getClass.getMethod("numCachedEntries").invoke(cacheManager)
    def serveOnce(): Unit = {
      val (before, entries) = (serverThreads, cached)
      val s = new ApiServer(new QueryService(frame), 0)
      s.start()
      val (code, body) = get("/check_data", s.boundPort)
      assert(code == 200 && body.contains("\"row_count\": 2"))
      for (p <- Seq("/categories", "/search_app_suggestions?q=tw", "/app_details_by_id/a.2",
          "/recommend_apps_by_category/tools", "/top_apps?category=games",
          "/recommend_similar_app_by_name/one", "/apps_in_cluster/0"))
        assert(get(p, s.boundPort)._1 == 200, p)
      assert(cached == entries, "the query layer must leave nothing in the cache manager")
      val mine = serverThreads -- before
      assert(mine.nonEmpty, "the request must have run on an api-server thread")
      s.stop()
      assert(cached == entries, "stop() must leave the cache manager as it found it")
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
