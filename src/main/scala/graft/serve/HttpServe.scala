package graft.serve

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.Row

/** HTTP serving shell over [[Readers]] — the reference's FastAPI front
  * (services/warehouse_api/routers/games.py:22-78) re-expressed on the
  * JDK's built-in `com.sun.net.httpserver` (zero dependencies; the
  * HTTP layer adds routing + JSON and nothing else). Routes:
  *
  *   - `GET /health`                       → liveness
  *   - `GET /games/{id}`                   → profile + precomputed
  *     neighbors (the reference's composed document, games.py:253-289):
  *     two lookups in the readers' driver-side index, no Spark job
  *   - `GET /games/{id}/similar?metric=&k=` → live tuned similarity
  *     with the metric allow-list (games.py:188-225); disallowed
  *     metric → 400, like the reference's validation error; its 404
  *     check is an index lookup, its ranking a Spark job
  *   - `GET /search?q=&mode=and|phrase`    → postings search (Spark)
  *
  * The index is built once per [[Readers]] (per pinned version), on
  * the first doc or `/similar` request. Unknown ids are 404 with a
  * JSON error body. Responses are hand-rolled JSON over the Row values
  * — bounded payloads, never a frame dump. The executor pool bounds
  * concurrent requests (and so Spark actions) the same way the
  * reference's worker pool does; at scale the server is a stateless
  * tier in front of the serving tables, horizontally replicated.
  */
final class HttpServe(readers: Readers, port: Int = 0) {

  // TCP_NODELAY on every connection: the server writes headers and body
  // as separate segments, so under Nagle a back-to-back keep-alive
  // request waits ~40 ms for the client's delayed ACK. The JDK reads
  // this once, when its server config class loads, i.e. at the first
  // HttpServer.create in the JVM — so it is set before that.
  System.setProperty("sun.net.httpserver.nodelay", "true")

  private val server =
    HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", port), 0)
  server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(4))

  private val GameRe = "/games/(-?\\d+)".r
  private val SimilarRe = "/games/(-?\\d+)/similar".r

  server.createContext("/", (ex: HttpExchange) => handle(ex))

  def start(): Unit = server.start()
  def stop(): Unit = server.stop(0)
  def boundPort: Int = server.getAddress.getPort

  private def handle(ex: HttpExchange): Unit =
    try {
      val path = ex.getRequestURI.getPath
      val resp: (Int, String) =
        if (ex.getRequestMethod != "GET")
          (405, err("method not allowed"))
        else path match {
          case "/health" => (200, """{"status":"ok"}""")
          // search over the positional postings index: default is
          // conjunctive (t37 — docs with ALL terms, any order);
          // mode=phrase requires the EXACT adjacent sequence (t40)
          case "/search" =>
            val q = query(ex)
            val terms = q.getOrElse("q", "")
              .split("\\s+").toSeq.filter(_.nonEmpty)
            val mode = q.getOrElse("mode", "and")
            if (terms.isEmpty) (400, err("missing or empty q parameter"))
            else if (!readers.hasSearch) (404, err("search index not configured"))
            else if (mode != "and" && mode != "phrase")
              (400, err(s"unknown mode '$mode' (use and|phrase)"))
            else {
              val ids = if (mode == "phrase") readers.searchPhrase(terms)
                        else readers.search(terms)
              (200, s"""{"terms":${js(terms.map(_.toLowerCase(java.util.Locale.ROOT)))},"mode":"$mode","doc_ids":${js(ids)}}""")
            }
          // ids beyond Long range (e.g. 20+ digits) are simply ids no
          // game can have — 404, not a NumberFormatException → 500
          case SimilarRe(id) =>
            scala.util.Try(id.toLong).toOption match {
              case Some(n) => similar(n, query(ex))
              case None => (404, err(s"game $id not found"))
            }
          case GameRe(id) =>
            scala.util.Try(id.toLong).toOption.flatMap(readers.document) match {
              case Some(doc) => (200, js(doc))
              case None => (404, err(s"game $id not found"))
            }
          case _ => (404, err("no such route"))
        }
      send(ex, resp._1, resp._2)
    } catch {
      case e: Throwable =>
        // detail stays server-side: raw exception messages can carry
        // internal paths; the client gets a generic body
        System.err.println(s"[serve] 500 on ${ex.getRequestURI}: $e")
        send(ex, 500, err("internal server error"))
    } finally ex.close()

  private def similar(id: Long, q: Map[String, String]): (Int, String) = {
    val metric = q.getOrElse("metric", "COSINE").toUpperCase(java.util.Locale.ROOT)
    val k = q.get("k").flatMap(s => scala.util.Try(s.toInt).toOption).getOrElse(10)
    if (!readers.AllowedMetrics.contains(metric))
      (400, err(s"metric $metric not allowed " +
        s"(allowed: ${readers.AllowedMetrics.toSeq.sorted.mkString(", ")})"))
    else if (readers.profile(id).isEmpty) (404, err(s"game $id not found"))
    else {
      val rows = readers.similarLive(id, metric, k).collect()
      (200, s"""{"vec_id":$id,"metric":"$metric","similar":${js(rows.toSeq)}}""")
    }
  }

  private def query(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getQuery).getOrElse("").split("&")
      .filter(_.contains("=")).map { kv =>
        val i = kv.indexOf('=')
        kv.substring(0, i) ->
          java.net.URLDecoder.decode(kv.substring(i + 1), "UTF-8")
      }.toMap

  private def send(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes("UTF-8")
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.getResponseBody.close()
  }

  private def err(msg: String): String = s"""{"error":${js(msg)}}"""

  /** Minimal JSON emitter over the value shapes the readers produce
    * (Row, Map, Seq, numbers, strings) — bounded payloads only.
    */
  private def js(v: Any): String = v match {
    case null => "null"
    case s: String =>
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case '\n' => "\\n"
        case '\r' => "\\r"
        case '\t' => "\\t"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case r: Row =>
      r.schema.fieldNames.zip(r.toSeq)
        .map { case (k, x) => s"${js(k)}:${js(x)}" }
        .mkString("{", ",", "}")
    case m: Map[_, _] =>
      m.map { case (k, x) => s"${js(k.toString)}:${js(x)}" }
        .mkString("{", ",", "}")
    case xs: Seq[_] => xs.map(js).mkString("[", ",", "]")
    case b: Boolean => b.toString
    case n @ (_: Long | _: Int | _: Short | _: Byte) => n.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => js(f.toDouble)
    case bd: java.math.BigDecimal => bd.toPlainString
    case other => js(other.toString)
  }
}
