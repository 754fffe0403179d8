package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** Shared in-process S3-style object server for specs
  * ([[ObjectStorePipelineSpec]]'s server, extracted and extended):
  * PUT/GET/HEAD/DELETE `/<key>`, `GET /?list=<prefix>` → `FILE <size>
  * <key>` lines, and — round 14, the [[graft.etl.HttpCommitStore]]
  * contract — CONDITIONAL PUT: `If-None-Match: *` answered 412 when the
  * key already exists (putIfAbsent on the backing map, the atomicity S3
  * itself offers publicly). Bucket-agnostic: keys embed the bucket.
  * `lists` counts the LIST requests served, the round trips a log
  * listing costs on a real object store. */
final class TestObjectServer {
  val store = new java.util.concurrent.ConcurrentHashMap[String, Array[Byte]]()
  val lists = new java.util.concurrent.atomic.AtomicLong()
  private var server: HttpServer = _
  var endpoint: String = _

  private def handle(ex: HttpExchange): Unit = {
    val key = ex.getRequestURI.getPath.stripPrefix("/")
    val query = Option(ex.getRequestURI.getQuery).getOrElse("")
    try {
      (ex.getRequestMethod, query) match {
        case ("GET", q) if q.startsWith("list=") =>
          lists.incrementAndGet()
          val prefix = java.net.URLDecoder.decode(q.stripPrefix("list="), "UTF-8")
          val body = store.entrySet().stream().toArray.toSeq
            .map(_.asInstanceOf[java.util.Map.Entry[String, Array[Byte]]])
            .filter(_.getKey.startsWith(prefix))
            .sortBy(_.getKey)
            .map(e => s"FILE ${e.getValue.length} ${e.getKey}")
            .mkString("\n").getBytes(StandardCharsets.UTF_8)
          ex.sendResponseHeaders(200, if (body.isEmpty) -1 else body.length)
          if (body.nonEmpty) ex.getResponseBody.write(body)
        case ("PUT", _) =>
          val bytes = ex.getRequestBody.readAllBytes()
          val conditional =
            "*" == ex.getRequestHeaders.getFirst("If-None-Match")
          if (conditional) {
            // put-if-absent: atomic on the map — exactly one writer wins
            if (store.putIfAbsent(key, bytes) == null)
              ex.sendResponseHeaders(200, -1)
            else ex.sendResponseHeaders(412, -1)
          } else {
            store.put(key, bytes)
            ex.sendResponseHeaders(200, -1)
          }
        case ("GET", _) =>
          Option(store.get(key)) match {
            case Some(b) =>
              ex.sendResponseHeaders(200, if (b.isEmpty) -1 else b.length)
              if (b.nonEmpty) ex.getResponseBody.write(b)
            case None => ex.sendResponseHeaders(404, -1)
          }
        case ("HEAD", _) =>
          Option(store.get(key)) match {
            case Some(b) =>
              ex.getResponseHeaders.set("X-Object-Length", b.length.toString)
              ex.sendResponseHeaders(200, -1)
            case None => ex.sendResponseHeaders(404, -1)
          }
        case ("DELETE", _) =>
          store.remove(key)
          ex.sendResponseHeaders(200, -1)
        case _ => ex.sendResponseHeaders(405, -1)
      }
    } finally ex.close()
  }

  def start(): String = {
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", handle _)
    // concurrent commit storms need real parallelism on the server side
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(8))
    server.start()
    endpoint = s"http://127.0.0.1:${server.getAddress.getPort}"
    endpoint
  }

  def stop(): Unit = if (server != null) server.stop(0)
}
