package graft.apps

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.DataFrame
import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLongArray, LongAdder}
import scala.collection.immutable.ListMap
import scala.collection.mutable

/** Thin HTTP face over [[QueryService]] — the reference's 8 Flask
  * endpoints (app.py:144-308) on the JDK's built-in server (no new
  * dependencies; SURVEY §7.1 step 7). The icon-scraper enrichment is
  * external-web I/O and is represented by the pluggable `enrich` hook
  * with a no-op default (zero-egress environment).
  *
  * Requests are served concurrently on a fixed pool of daemon threads
  * (`api-server-N`), one per core of the served frame's session
  * (`defaultParallelism`): a request's planning, job launch and
  * serialisation overlap other requests' Spark jobs, and the pool never
  * asks the driver for more threads than it has cores.
  *
  * Every reply is written without Nagle's delay (see the companion), so
  * back-to-back requests on a kept-alive connection do not stall.
  *
  * Routes (query semantics all live in QueryService; this layer only
  * parses params and serializes rows):
  *   GET /check_data
  *   GET /categories
  *   GET /search_app_suggestions?q=
  *   GET /app_details_by_id/{id}
  *   GET /recommend_apps_by_category/{category}
  *   GET /top_apps?sort_by=&limit=&category=
  *   GET /recommend_similar_app_by_name/{name}
  *   GET /apps_in_cluster/{id}
  *   GET /metrics — per route since start: requests, 4xx and 5xx
  *     answers, and the handler's latency as a log-bucket histogram with
  *     its p50 and p99 (each an upper bucket bound)
  */
final class ApiServer(svc: QueryService, port: Int,
    enrich: Seq[Map[String, Any]] => Seq[Map[String, Any]] = identity) {

  private def jsonValue(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
      .map { case (k, x) => s"${jsonValue(k)}: ${jsonValue(x)}" }
      .mkString("{", ", ", "}")
    case xs: Seq[_] => xs.map(jsonValue).mkString("[", ", ", "]")
    case other => other.toString
  }

  private def rowsToMaps(df: DataFrame): Seq[Map[String, Any]] = {
    val cols = df.columns
    df.collect().toSeq.map(r => cols.zipWithIndex.map { case (c, i) =>
      c -> (if (r.isNullAt(i)) null else r.get(i))
    }.toMap)
  }

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  /** The query string's parameters: split while still encoded, so an
    * encoded `&` or `=` stays inside its value, then each part decoded
    * once. */
  private def queryParams(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).getOrElse("").split('&')
      .filter(_.contains('='))
      .map { kv =>
        val Array(k, v) = kv.split("=", 2).map(URLDecoder.decode(_, StandardCharsets.UTF_8))
        k -> v
      }.toMap

  private val server = ApiServer.bind(port)
  private val pool = {
    val n = new AtomicInteger
    Executors.newFixedThreadPool(svc.session.sparkContext.defaultParallelism,
      (r: Runnable) => {
        val t = new Thread(r, s"api-server-${n.incrementAndGet()}")
        t.setDaemon(true)
        t
      })
  }
  server.setExecutor(pool)

  /** Each route's counters, in registration order; filled while the
    * server is built, read-only once it runs. */
  private val stats = mutable.LinkedHashMap.empty[String, ApiServer.RouteStats]

  private def handle(path: String)(fn: (HttpExchange, String) => Unit): Unit = {
    val st = new ApiServer.RouteStats
    stats(path) = st
    server.createContext(path, (ex: HttpExchange) => {
      val t0 = System.nanoTime()
      try {
        // getPath is already decoded: a second decode would read `+` as
        // a space and fail on a literal `%`
        fn(ex, ex.getRequestURI.getPath.stripPrefix(path).stripPrefix("/"))
      } catch {
        case e: Exception =>
          respond(ex, 500, s"""{"error": ${jsonValue(e.getMessage)}}""")
      } finally st.record(ex.getResponseCode, System.nanoTime() - t0)
    })
  }

  handle("/check_data") { (ex, _) =>
    val (n, cols, sample) = svc.checkData
    respond(ex, 200, jsonValue(Map(
      "row_count" -> n, "columns" -> cols.toSeq,
      "sample" -> rowsToMaps(sample))))
  }
  handle("/categories") { (ex, _) =>
    respond(ex, 200, jsonValue(
      rowsToMaps(svc.categories).map(_("genre"))))
  }
  handle("/search_app_suggestions") { (ex, _) =>
    queryParams(ex).get("q").filter(_.length >= 2) match {
      case None => respond(ex, 400, """{"error": "q must be >= 2 chars"}""")
      case Some(q) =>
        respond(ex, 200, jsonValue(enrich(rowsToMaps(svc.searchSuggestions(q)))))
    }
  }
  handle("/app_details_by_id") { (ex, id) =>
    rowsToMaps(svc.appDetailsById(id)) match {
      case Seq() => respond(ex, 404, """{"error": "app not found"}""")
      case rows => respond(ex, 200, jsonValue(enrich(rows).head))
    }
  }
  handle("/recommend_apps_by_category") { (ex, cat) =>
    respond(ex, 200, jsonValue(enrich(rowsToMaps(svc.recommendByCategory(cat)))))
  }
  handle("/top_apps") { (ex, _) =>
    val p = queryParams(ex)
    p.get("limit").fold(Option(10))(_.toIntOption.filter(_ >= 0)) match {
      case None => respond(ex, 400, """{"error": "invalid limit"}""")
      case Some(limit) =>
        svc.topApps(p.getOrElse("sort_by", "score"), limit, p.get("category")) match {
          case None => respond(ex, 400, """{"error": "invalid sort_by column"}""")
          case Some(df) => respond(ex, 200, jsonValue(enrich(rowsToMaps(df))))
        }
    }
  }
  handle("/recommend_similar_app_by_name") { (ex, name) =>
    svc.similarAppsByName(name) match {
      case None => respond(ex, 404, """{"error": "app or cluster not found"}""")
      case Some(df) => respond(ex, 200, jsonValue(enrich(rowsToMaps(df))))
    }
  }
  handle("/apps_in_cluster") { (ex, id) =>
    id.toIntOption.flatMap(svc.appsInCluster) match {
      case None => respond(ex, 400, """{"error": "bad cluster id or no cluster column"}""")
      case Some(df) => respond(ex, 200, jsonValue(enrich(rowsToMaps(df))))
    }
  }

  handle("/metrics") { (ex, _) =>
    respond(ex, 200, jsonValue(ListMap.from(stats.view.mapValues(_.report))))
  }

  def start(): Unit = server.start()
  /** Closes the socket and waits (up to 10 s) for the requests already
    * running on the pool to finish and its threads to exit. */
  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
  def boundPort: Int = server.getAddress.getPort
}

object ApiServer {
  // The JDK server flushes a reply's headers as a segment of their own.
  // Under Nagle's algorithm the body then waits for the client to ACK
  // that segment, which a client delaying its ACKs holds back for up to
  // 40 ms: every reply on a kept-alive connection could stall that long.
  // The server's config reads this property once, when the JVM creates
  // its first HttpServer, so it is set here, before [[bind]].
  System.setProperty("sun.net.httpserver.nodelay", "true")

  private def bind(port: Int): HttpServer = HttpServer.create(new InetSocketAddress(port), 0)

  /** Latency bucket b holds handler times below 2^((b+1)/4) µs (and at
    * least the previous bound); the last bucket, from about 28 s up,
    * also holds every slower one. */
  private val BucketsPerOctave = 4
  private val Buckets = 100
  private def bucketOf(nanos: Long): Int =
    if (nanos < 1000) 0
    else math.min(Buckets - 1, (math.log(nanos / 1000.0) / math.log(2) * BucketsPerOctave).toInt)
  private def upperMs(b: Int): Double =
    BigDecimal(math.pow(2, (b + 1).toDouble / BucketsPerOctave) / 1000)
      .setScale(3, BigDecimal.RoundingMode.UP).toDouble

  /** One route's lock-free counters. */
  private final class RouteStats {
    private val requests, clientErrors, serverErrors = new LongAdder
    private val latency = new AtomicLongArray(Buckets)

    def record(status: Int, nanos: Long): Unit = {
      requests.increment()
      if (status >= 400 && status < 500) clientErrors.increment()
      else if (status >= 500) serverErrors.increment()
      latency.incrementAndGet(bucketOf(nanos))
    }

    def report: ListMap[String, Any] = {
      val counts = (0 until Buckets).map(latency.get)
      val n = counts.sum
      // the upper bound of the bucket holding the ceil(q * n)-th time
      def quantile(q: Double): Any =
        if (n == 0) null
        else upperMs(counts.scanLeft(0L)(_ + _).indexWhere(_ >= math.ceil(q * n)) - 1)
      ListMap("requests" -> requests.sum, "4xx" -> clientErrors.sum,
        "5xx" -> serverErrors.sum, "p50_ms" -> quantile(0.5), "p99_ms" -> quantile(0.99),
        "latency_ms" -> counts.indices.filter(counts(_) > 0).map(b => Seq[Any](upperMs(b), counts(b))))
    }
  }
}
