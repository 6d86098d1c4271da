package graft.apps

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.DataFrame
import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

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

  private val server = HttpServer.create(new InetSocketAddress(port), 0)
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

  private def handle(path: String)(fn: (HttpExchange, String) => Unit): Unit =
    server.createContext(path, (ex: HttpExchange) => {
      try {
        // getPath is already decoded: a second decode would read `+` as
        // a space and fail on a literal `%`
        fn(ex, ex.getRequestURI.getPath.stripPrefix(path).stripPrefix("/"))
      } catch {
        case e: Exception =>
          respond(ex, 500, s"""{"error": ${jsonValue(e.getMessage)}}""")
      }
    })

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
    svc.topApps(p.getOrElse("sort_by", "score"),
      p.get("limit").map(_.toInt).getOrElse(10), p.get("category")) match {
      case None => respond(ex, 400, """{"error": "invalid sort_by column"}""")
      case Some(df) => respond(ex, 200, jsonValue(enrich(rowsToMaps(df))))
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

  def start(): Unit = server.start()
  /** Closes the socket, waits (up to 10 s) for the requests already
    * running on the pool to finish and its threads to exit, then releases
    * the query layer's cache. */
  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
    pool.awaitTermination(10, TimeUnit.SECONDS)
    svc.close()
  }
  def boundPort: Int = server.getAddress.getPort
}
