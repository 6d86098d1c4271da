package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.apps.{ApiServer, QueryService, ServingData}
import graft.pipeline.AppModels
import java.net.{HttpURLConnection, URI, URLEncoder}
import java.nio.file.{Files, Path}
import java.util.concurrent.LinkedBlockingQueue
import java.util.concurrent.locks.LockSupport
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The HTTP recommender: a seeded apps table trained, saved, loaded and
  * served by the program's API server, then driven by an open loop over
  * its eight routes with Zipf-skewed keys and a planted share of
  * requests whose right answer is 400 or 404. */
object ServingWorkload {

  val Apps = 5000L
  val Connections = 4
  /** Open-loop rate of the latency measurement, requests per second.
    * Assumed, like the mix: about a third of the server's closed-loop
    * capacity on 4 cores, so the queue stays short. */
  val BaseRate = 4.0
  /** Whole blocks the base rate always serves: 63 requests, six of each
    * route's valid ones, and the tail read at p84.1. */
  val BaseBlocks = 3
  /** Closed-loop blocks of the unmeasured warm-up: the server's
    * request path is still getting faster (JIT) after fewer. */
  val WarmBlocks = 4
  /** Closed-loop bursts of one block each that measure capacity, run
    * after every base-rate block. */
  val BurstsPerBlock = 2
  /** Rates of the traced run's ladder; the highest that meets the p90
    * limit without a growing backlog is `serve.max_rps`. */
  val Ladder: Seq[Double] = Seq(4.0, 8.0, 16.0, 24.0, 32.0)
  val P90LimitMs = 500.0

  /** One request: its path, the route it exercises, the status the
    * program must answer with, and whether its input was planted wrong. */
  final case class Req(path: String, route: String, status: Int, planted: Boolean = false)

  private def enc(s: String) = URLEncoder.encode(s, "UTF-8").replace("+", "%20")

  /** The served table as the load generator knows it. */
  final case class Catalog(ids: IndexedSeq[String], titles: IndexedSeq[String],
      clustered: Set[String], genres: IndexedSeq[String])

  /** Route make-up of one block of requests: (route, planted error?,
    * count). The repository holds no record of real traffic, so the mix
    * is an assumption: every one of the eight routes equally often (two
    * each), plus one planted 400/404 for each of the five routes that
    * answer a wrong input with one, 5 of 21. Every block has the same
    * make-up, so a run's mix does not depend on how many requests it got
    * through. */
  val Block: Seq[(String, Boolean, Int)] = Seq(
    ("check_data", false, 2), ("categories", false, 2),
    ("search_app_suggestions", false, 2), ("search_app_suggestions", true, 1),
    ("app_details_by_id", false, 2), ("app_details_by_id", true, 1),
    ("recommend_apps_by_category", false, 2), ("top_apps", false, 2), ("top_apps", true, 1),
    ("recommend_similar_app_by_name", false, 2), ("recommend_similar_app_by_name", true, 1),
    ("apps_in_cluster", false, 2),
    ("apps_in_cluster", true, 1))
  val BlockSize: Int = Block.map(_._3).sum
  val TailSamples: Int = BaseBlocks * BlockSize

  /** `blocks` blocks of requests, each block's order shuffled by the
    * seed, keys drawn Zipf-skewed over ids, titles, genres and clusters
    * (the popular ids are a seeded permutation). */
  def requests(cat: Catalog, seed: Long, blocks: Int): IndexedSeq[Req] = {
    val r = new scala.util.Random(seed)
    val cum = (1 to cat.ids.size).scanLeft(0.0)((a, k) => a + 1.0 / k).tail.toArray
    def zipf(): Int = {
      val i = java.util.Arrays.binarySearch(cum, r.nextDouble() * cum.last)
      math.min(cat.ids.size - 1, if (i >= 0) i else -i - 1)
    }
    val perm = r.shuffle(cat.ids.indices.toVector)
    def pickId() = perm(zipf())
    val words = Seq("su", "chess", "photo", "music", "bank", "map", "fit", "star", "cloud", "daily")
    def one(route: String, bad: Boolean): Req = (route, bad) match {
      case ("check_data", _) => Req("/check_data", route, 200)
      case ("categories", _) => Req("/categories", route, 200)
      case ("search_app_suggestions", false) =>
        Req(s"/search_app_suggestions?q=${words(zipf() % words.size)}", route, 200)
      case ("search_app_suggestions", true) => Req("/search_app_suggestions?q=x", route, 400)
      case ("app_details_by_id", false) => Req(s"/app_details_by_id/${enc(cat.ids(pickId()))}", route, 200)
      case ("app_details_by_id", true) => Req(s"/app_details_by_id/com.missing${r.nextInt(1000)}", route, 404)
      case ("recommend_apps_by_category", _) =>
        Req(s"/recommend_apps_by_category/${enc(cat.genres(zipf() % cat.genres.size))}", route, 200)
      case ("top_apps", false) =>
        Req(s"/top_apps?sort_by=${Seq("score", "minInstalls", "price")(r.nextInt(3))}&limit=${5 + r.nextInt(16)}",
          route, 200)
      case ("top_apps", true) => Req("/top_apps?sort_by=nope", route, 400)
      case ("recommend_similar_app_by_name", false) =>
        // a clustered app: one trained without a cluster answers 404
        // early, and how often a seed's popular ids hit one would move
        // the route's latency from seed to seed
        val i = Iterator.continually(pickId()).find(i => cat.clustered(cat.ids(i))).get
        Req(s"/recommend_similar_app_by_name/${enc(cat.titles(i))}", route, 200)
      case ("recommend_similar_app_by_name", true) =>
        Req(s"/recommend_similar_app_by_name/no%20such%20app%20${r.nextInt(1000)}", route, 404)
      case ("apps_in_cluster", false) => Req(s"/apps_in_cluster/${zipf() % 5}", route, 200)
      case ("apps_in_cluster", true) => Req("/apps_in_cluster/abc", route, 400)
    }
    (0 until blocks).flatMap { _ =>
      r.shuffle(Block.flatMap { case (route, bad, n) => Seq.fill(n)((route, bad)) })
        .map { case (route, bad) => one(route, bad).copy(planted = bad) }
    }
  }

  val Routes: Seq[String] = Seq("check_data", "categories", "search_app_suggestions",
    "app_details_by_id", "recommend_apps_by_category", "top_apps",
    "recommend_similar_app_by_name", "apps_in_cluster")

  /** Train, save, load and start: the program's serving set-up. */
  final class Served(val server: ApiServer, val svc: QueryService, val df: DataFrame,
      val trainS: Double, val loadS: Double)

  def setup(spark: SparkSession, raw: DataFrame, base: Path): Served = {
    val t0 = System.nanoTime()
    val trained = AppModels.train(raw).fold(e => sys.error(e), identity)
    val t1 = System.nanoTime()
    AppModels.saveApiData(trained.scored, base.resolve("api_app_info_perfbench").toString)
    val df = ServingData.loadApiData(spark, base).getOrElse(sys.error("no serving data saved"))
    df.count()
    val t2 = System.nanoTime()
    val svc = new QueryService(df)
    val server = new ApiServer(svc, 0)
    server.start()
    new Served(server, svc, df, (t1 - t0) / 1e9, (t2 - t1) / 1e9)
  }

  /** One HTTP GET on a kept-alive connection: (status, body). */
  def get(port: Int, path: String): (Int, String) = {
    val c = URI.create(s"http://127.0.0.1:$port$path").toURL.openConnection()
      .asInstanceOf[HttpURLConnection]
    c.setConnectTimeout(10000)
    c.setReadTimeout(60000)
    val code = c.getResponseCode
    val in = if (code >= 400) c.getErrorStream else c.getInputStream
    val body = if (in == null) "" else try new String(in.readAllBytes(), "UTF-8") finally in.close()
    (code, body)
  }

  final case class Done(req: Req, timed: Stats.Timed, status: Int, body: String) {
    def ok: Boolean = status == req.status
  }

  /** Open loop: request i is due at start + i / rate; a dispatcher hands
    * each to whichever of `conns` connections is free. Latency runs from
    * the due time, so queueing behind a slow request counts. */
  def openLoop(port: Int, reqs: IndexedSeq[Req], rate: Double, conns: Int): Seq[Done] = {
    val queue = new LinkedBlockingQueue[Option[(Req, Long, Long)]]()
    val out = java.util.Collections.synchronizedList(new java.util.ArrayList[Done]())
    val workers = (0 until conns).map { w =>
      val t = new Thread(() => {
        var next = queue.take()
        while (next.isDefined) {
          val (req, due, dispatched) = next.get
          val sent = System.nanoTime()
          val (code, body) = try get(port, req.path) catch { case e: Exception => (-1, e.toString) }
          out.add(Done(req, Stats.Timed(due, dispatched, sent, System.nanoTime()), code, body))
          next = queue.take()
        }
      }, s"perfbench-conn-$w")
      t.start(); t
    }
    val start = System.nanoTime() + 1000000L
    val dues = Stats.dueTimes(start, rate, reqs.size)
    reqs.indices.foreach { i =>
      var now = System.nanoTime()
      while (now < dues(i)) { LockSupport.parkNanos(dues(i) - now); now = System.nanoTime() }
      queue.put(Some((reqs(i), dues(i), now)))
    }
    workers.foreach(_ => queue.put(None))
    workers.foreach(_.join())
    out.asScala.toSeq
  }

  /** Closed loop: `conns` clients each send the next request of `reqs`
    * when their last reply arrives, until all are answered. */
  def closedLoop(port: Int, reqs: IndexedSeq[Req], conns: Int): Seq[Done] = {
    val next = new java.util.concurrent.atomic.AtomicInteger
    val out = java.util.Collections.synchronizedList(new java.util.ArrayList[Done]())
    val ts = (0 until conns).map { _ =>
      val t = new Thread(() => {
        var i = next.getAndIncrement()
        while (i < reqs.size) {
          val t0 = System.nanoTime()
          val (code, body) = try get(port, reqs(i).path) catch { case e: Exception => (-1, e.toString) }
          out.add(Done(reqs(i), Stats.Timed(t0, t0, t0, System.nanoTime()), code, body))
          i = next.getAndIncrement()
        }
      })
      t.start(); t
    }
    ts.foreach(_.join())
    out.asScala.toSeq
  }

  /** Closed-loop capacity: replies per second from the first send to
    * the last reply. */
  def burstRate(done: Seq[Done]): Double =
    done.size / ((done.map(_.timed.doneNs).max - done.map(_.timed.sentNs).min) / 1e9)

  private val json = new ObjectMapper()

  /** The route's query built by calling the query layer directly, as
    * the server builds it for `req`; None where the server answers 4xx. */
  def query(svc: QueryService, req: Req): Option[DataFrame] = {
    val uri = URI.create(req.path)
    val parts = uri.getPath.split("/", 3)
    val arg = if (parts.length > 2) java.net.URLDecoder.decode(parts(2), "UTF-8") else ""
    val q = Option(uri.getRawQuery).getOrElse("").split('&').filter(_.contains('='))
      .map { kv => val Array(k, v) = kv.split("=", 2); k -> java.net.URLDecoder.decode(v, "UTF-8") }.toMap
    req.route match {
      case "check_data" => Some(svc.checkData._3)
      case "categories" => Some(svc.categories)
      case "search_app_suggestions" => Some(svc.searchSuggestions(q("q")))
      case "app_details_by_id" => Some(svc.appDetailsById(arg))
      case "recommend_apps_by_category" => Some(svc.recommendByCategory(arg))
      case "top_apps" => svc.topApps(q("sort_by"), q.get("limit").map(_.toInt).getOrElse(10), q.get("category"))
      case "recommend_similar_app_by_name" => svc.similarAppsByName(arg)
      case "apps_in_cluster" => arg.toIntOption.flatMap(svc.appsInCluster)
    }
  }

  /** What a route's body must hold, from the query layer called
    * directly: ids in order for row-returning routes, genres for
    * /categories, the row count for /check_data. */
  def direct(svc: QueryService, req: Req): Option[Seq[String]] = req.route match {
    case "check_data" => Some(Seq(svc.checkData._1.toString))
    case "categories" => Some(svc.categories.collect().map(_.getString(0)).toSeq)
    case _ => query(svc, req).map(_.select("appId").collect().map(_.getString(0)).toSeq)
  }

  /** The same view read from an HTTP body. */
  def fromBody(req: Req, body: String): Seq[String] = {
    val n: JsonNode = json.readTree(body)
    def idsOf(a: JsonNode) = a.elements().asScala.map(_.get("appId").asText()).toSeq
    req.route match {
      case "check_data" => Seq(n.get("row_count").asText())
      case "categories" => n.elements().asScala.map(_.asText()).toSeq
      case "app_details_by_id" => Seq(n.get("appId").asText())
      case _ => idsOf(n)
    }
  }

  def run(spark: SparkSession, o: Opts, tracer: Tracer): Result = {
    val base = o.work.resolve(s"serving-${ProcessHandle.current().pid()}")
    try runIn(spark, o, tracer, base)
    finally Main.removeTree(base)
  }

  private def runIn(spark: SparkSession, o: Opts, tracer: Tracer, base: Path): Result = {
    val raw = DataGen.apps(spark, Apps, o.seed).cache()
    raw.count()
    val notes = mutable.ArrayBuffer.empty[String]
    // set-up, cold: what a freshly started deployment pays before it
    // can answer
    val t0 = System.nanoTime()
    val served = setup(spark, raw, base)
    val setupS = (System.nanoTime() - t0) / 1e9
    Main.log(f"set-up $setupS%.2f s")
    val port = served.server.boundPort
    try {
      val rows = served.df.select("appId", "title", "cluster").collect()
      val cat = Catalog(rows.map(_.getString(0)).toVector, rows.map(_.getString(1)).toVector,
        rows.filterNot(_.isNullAt(2)).map(_.getString(0)).toSet,
        served.svc.categories.collect().map(_.getString(0)).toVector)
      val reqs = requests(cat, o.seed, 400)

      // golden bodies: the first request of each route,
      // checked against the query layer called directly
      val golden = Routes.flatMap(r => reqs.find(q => q.route == r && q.status == 200))
      var goldenBad = 0
      golden.foreach { req =>
        val (code, body) = get(port, req.path)
        val want = direct(served.svc, req)
        val same = code == 200 && want.contains(scala.util.Try(fromBody(req, body)).getOrElse(Nil))
        if (!same) { goldenBad += 1; notes += s"golden ${req.path}: HTTP $code differs from the query layer" }
      }

      Main.log("golden bodies checked")
      // warm-up, unmeasured
      closedLoop(port, reqs.slice(BlockSize, BlockSize * (1 + WarmBlocks)), Connections)
      Main.log("warm")

      // the window: whole blocks at the base rate, as many as fill it and
      // at least BaseBlocks, each followed by BurstsPerBlock bursts as
      // fast as the connections allow. Interleaving spreads both kinds of
      // measurement over the window, so a passing slowdown of the host
      // touches a few bursts and a few requests of each route, not all
      val blocks = math.max(BaseBlocks, (BaseRate * o.seconds / BlockSize).toInt)
      // a traced run first serves one block untraced, to report its
      // own overhead against
      val untracedP50 = if (!o.trace) 0.0 else Stats.percentile(
        openLoop(port, reqs.slice(BlockSize * 5, BlockSize * 6), BaseRate, Connections)
          .map(_.timed.latencyMs), 50)
      val counters = if (o.trace) Some(SparkCounters.install(spark.sparkContext)) else None
      val before = counters.map { c => c.drain(); c.of(Seq(SparkCounters.Untagged)) }
      val rounds = (0 until blocks).map { i =>
        val base = openLoop(port, reqs.slice(BlockSize * (10 + i), BlockSize * (11 + i)), BaseRate, Connections)
        val bursts = if (o.trace) Nil else (0 until BurstsPerBlock).map { j =>
          val from = BlockSize * (200 + i * BurstsPerBlock + j)
          closedLoop(port, reqs.slice(from, from + BlockSize), Connections)
        }
        (base, bursts)
      }
      val baseDone = rounds.flatMap(_._1)
      val bursts = rounds.flatMap(_._2)
      val sat = bursts.flatten

      val all = baseDone ++ sat
      val wrong = all.filterNot(_.ok)
      wrong.take(5).foreach(d => notes += s"${d.req.path}: HTTP ${d.status}, expected ${d.req.status}")
      val attempted = golden.size + all.size
      val failed = goldenBad + wrong.size
      val lat = baseDone.map(d => if (d.ok) d.timed.latencyMs else Double.PositiveInfinity)
      // each route's median latency at the base rate, planted requests
      // aside; the routes differ about twofold, so a median over the
      // pooled requests would sit at the edge between the point routes
      // and the whole-table ones and jump between them from run to run
      val routeP50 = Routes.map { r =>
        r -> Stats.median(baseDone.filter(d => d.req.route == r && !d.req.planted)
          .map(d => if (d.ok) d.timed.latencyMs else Double.PositiveInfinity))
      }.toMap

      if (!o.trace) {
        notes += f"serving: $Apps apps, ${baseDone.size} requests at $BaseRate/s, op_tail_ms is p${Stats.tailPercentile(TailSamples).get}%.1f; " +
          f"${sat.size} closed-loop replies at ${bursts.map(b => f"${burstRate(b)}%.1f").mkString(" ")}/s; " +
          "route medians " + Routes.map(r => f"$r ${routeP50(r)}%.0f").mkString(", ") + " ms"
        Result(attempted, failed, Seq(
          Metric("setup_s", setupS, "s"),
          Metric("ops_per_s", Stats.median(bursts.map(burstRate)), "1/s"),
          Metric("op_p50_ms", routeP50.values.sum / Routes.size, "ms"),
          Metric("op_tail_ms", Stats.tail(lat, TailSamples), "ms")), notes.toSeq)
      } else {
        val c = counters.get
        c.drain()
        val after = c.of(Seq(SparkCounters.Untagged))
        val n = baseDone.size.toDouble
        // traced split: Spark job wall time inside each request's window,
        // query planning timed by building the same query directly, the
        // rest (queueing, parsing, serialising, socket) is HTTP
        val jobs = after.jobSpans.drop(before.get.jobSpans.size).toSeq
        val splits = baseDone.zipWithIndex.filter { case (d, _) => d.ok && d.status == 200 }.map { case (d, i) =>
          // listener times are wall-clock milliseconds
          val lo = d.timed.sentNs / 1000000L - epochOffsetMs
          val hi = d.timed.doneNs / 1000000L - epochOffsetMs
          val execMs = Stats.coveredNs(jobs, lo, hi).toDouble
          val p0 = System.nanoTime()
          tracer.span("apps.QueryService.plan", i)(planOnly(served.svc, d.req))
          val planMs = (System.nanoTime() - p0) / 1e6
          (planMs, execMs, d.timed.latencyMs - planMs - execMs)
        }
        val rungs = Ladder.map { rate =>
          val done = openLoop(port, reqs.slice(BlockSize * 300, BlockSize * 301), rate, Connections)
          Stats.Rung(rate, done.map(_.timed), done.count(!_.ok))
        }
        val perRoute = Routes.map(r => Metric(s"apps.ApiServer.${r}_p50_ms", routeP50(r), "ms"))
        def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
        Result(attempted, failed, perRoute ++ SparkMetrics.of(after, n) ++ Seq(
          Metric("serve.jobs_per_request", (after.jobs - before.get.jobs) / n, "count"),
          Metric("serve.tasks_per_request", (after.tasks - before.get.tasks) / n, "count"),
          Metric("apps.QueryService.plan_ms", med(splits.map(_._1)), "ms"),
          Metric("spark.execute_ms", med(splits.map(_._2)), "ms"),
          Metric("apps.ApiServer.http_ms", med(splits.map(_._3)), "ms"),
          Metric("serve.generator_late_ms", Stats.tail(baseDone.map(_.timed.generatorLateMs), TailSamples), "ms"),
          Metric("serve.max_rps", Stats.maxRate(rungs, P90LimitMs, Connections), "1/s"),
          Metric("pipeline.AppModels.train_s", served.trainS, "s"),
          Metric("apps.ServingData.load_s", served.loadS, "s"),
          Metric("jvm.heap_mb", Main.heapMb(), "MB"),
          Metric("spark.storage_mb", spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0, "MB"),
          Metric("trace.overhead_pct",
            (Stats.percentile(baseDone.map(_.timed.latencyMs), 50) / untracedP50 - 1) * 100, "%")),
          notes.toSeq)
      }
    } finally {
      served.server.stop()
      raw.unpersist()
    }
  }

  /** Offset between System.nanoTime in ms and the wall clock listener
    * events use. */
  private lazy val epochOffsetMs: Long = System.nanoTime() / 1000000L - System.currentTimeMillis()

  /** Build the route's query and its physical plan, without running it. */
  private def planOnly(svc: QueryService, req: Req): Unit =
    query(svc, req).foreach(_.queryExecution.executedPlan)
}
