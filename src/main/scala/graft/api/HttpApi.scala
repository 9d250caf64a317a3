package graft.api

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.ingest.{BufferedAppender, LineProtocol}
import graft.query.QueryService

/** HEPop's HTTP surface (reference hepop.js:1019–1100):
  *  - GET  /query?q=SQL  and  POST /query {"query": SQL} → JSON rows
  *    (hepop.js:1024–1041); errors → 500 {"error": ...} (1053–1058)
  *  - POST /write with line-protocol body → 201 (hepop.js:1060–1100;
  *    query params are accepted and ignored like the reference —
  *    SURVEY Appendix A#6); the body is empty when every line parses,
  *    else `{"rejected":n}` counts the malformed lines that were dropped
  * Built on the JDK's HttpServer — no extra dependency; the executor is a
  * small pool because query work happens on Spark, not on these threads.
  *
  * TCP_NODELAY is on for every accepted connection (see the companion).
  * The JDK server writes response headers and body as two segments; with
  * Nagle's algorithm on, the body waits for the client to ACK the headers,
  * and the client's delayed ACK holds every small response ~40 ms.
  */
final class HttpApi(
    queryService: QueryService,
    appender: BufferedAppender,
    port: Int = 0) {

  private val server = HttpApi.createServer(port)
  server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(8, r => {
    val t = new Thread(r, "graft-http"); t.setDaemon(true); t
  }))

  def boundPort: Int = server.getAddress.getPort

  private def respond(ex: HttpExchange, code: Int, body: String,
      contentType: String = "application/json"): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(code, if (bytes.isEmpty) -1 else bytes.length)
    if (bytes.nonEmpty) {
      val os = ex.getResponseBody
      try os.write(bytes) finally os.close()
    }
    ex.close()
  }

  private def jsonError(msg: String): String = {
    implicit val formats: Formats = DefaultFormats
    import org.json4s.JsonDSL._
    JsonMethods.compact(JsonMethods.render("error" -> msg))
  }

  private def queryParam(ex: HttpExchange, name: String): Option[String] = {
    val q = Option(ex.getRequestURI.getRawQuery).getOrElse("")
    q.split("&").iterator
      .map(_.split("=", 2))
      .collectFirst { case Array(k, v) if k == name =>
        java.net.URLDecoder.decode(v, StandardCharsets.UTF_8) }
  }

  server.createContext("/query", (ex: HttpExchange) => {
    try {
      // GET ?q= (hepop.js:1026–1031) or POST {"query"} (1033–1041).
      val sql = ex.getRequestMethod match {
        case "GET" => queryParam(ex, "q")
        case "POST" =>
          val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
          JsonMethods.parseOpt(body).flatMap(j => (j \ "query") match {
            case JString(s) => Some(s)
            case _ => None
          })
        case _ => None
      }
      sql match {
        case None => respond(ex, 400, jsonError("missing query"))
        case Some(s) =>
          try respond(ex, 200, queryService.executeJson(s))
          catch { case e: Exception =>
            respond(ex, 500, jsonError(Option(e.getMessage).getOrElse(e.toString)))
          }
      }
    } catch { case e: Exception => respond(ex, 500, jsonError(e.toString)) }
  })

  server.createContext("/write", (ex: HttpExchange) => {
    try {
      if (ex.getRequestMethod != "POST") respond(ex, 405, jsonError("POST only"))
      else {
        val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        // Split on newlines, parse each non-empty line, bulk-append
        // (hepop.js:1062–1087). Bad lines are skipped like the reference's
        // per-line try/catch (hepop.js:1068–1076), but counted back to the
        // client instead of dropped silently.
        val parsed = body.split("\n").iterator
          .map(_.trim).filter(_.nonEmpty)
          .map(LineProtocol.parse(_))
          .toSeq
        val points = parsed.flatten
        appender.addLinePoints(points)
        val rejected = parsed.length - points.length
        respond(ex, 201, if (rejected == 0) "" else s"""{"rejected":$rejected}""")
      }
    } catch { case e: Exception => respond(ex, 500, jsonError(e.toString)) }
  })

  def start(): this.type = { server.start(); this }
  def stop(): Unit = server.stop(0)
}

object HttpApi {

  // The JDK server reads `sun.net.httpserver.nodelay` once per JVM, when
  // its config class loads on the first `HttpServer.create`; it defaults
  // to false. Default it to true here, before any server exists in this
  // JVM; an explicit -D setting still wins.
  if (System.getProperty("sun.net.httpserver.nodelay") == null)
    System.setProperty("sun.net.httpserver.nodelay", "true")

  private def createServer(port: Int): HttpServer =
    HttpServer.create(new InetSocketAddress(port), 64)
}
