package perfbench

import java.net.{InetAddress, InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets
import java.time.LocalDate
import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** Serves an [[EdinetCorpus.Corpus]] over loopback HTTP in the wire
  * protocol `graft.ingest.HttpTransport` speaks:
  *
  *  - `GET {base}/documents.json?date=YYYY-MM-DD&type=2&Subscription-Key=K`
  *  - `GET {base}/documents/{docId}?type=5|1&Subscription-Key=K`
  *
  * A request named in the corpus's transient set gets HTTP 503 the first
  * time it arrives after [[reset]], and its content after that.
  *
  * The JDK server writes a response's headers and body separately; with
  * Nagle's algorithm on, the client's delayed ACK would add ~40 ms to
  * every request, a cost of this stand-in server and not of the client
  * under test, so its sockets run with TCP_NODELAY. */
final class EdinetServer(corpus: EdinetCorpus.Corpus, threads: Int) {

  System.setProperty("sun.net.httpserver.nodelay", "true")

  private val failedOnce = ConcurrentHashMap.newKeySet[String]()
  private val pool = Executors.newFixedThreadPool(threads)
  private val server = HttpServer.create(new InetSocketAddress(InetAddress.getLoopbackAddress, 0), 0)
  server.setExecutor(pool)
  server.createContext("/api/v2", (x: HttpExchange) => handle(x))
  server.start()

  val baseUrl: String = s"http://127.0.0.1:${server.getAddress.getPort}/api/v2"

  def reset(): Unit = failedOnce.clear()

  def close(): Unit = {
    server.stop(0)
    pool.shutdown()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }

  private def handle(x: HttpExchange): Unit = try {
    val path = x.getRequestURI.getPath.stripPrefix("/api/v2")
    val params = Option(x.getRequestURI.getRawQuery).toSeq.flatMap(_.split("&")).map { kv =>
      val i = kv.indexOf('=')
      def dec(s: String) = URLDecoder.decode(s, StandardCharsets.UTF_8)
      if (i < 0) dec(kv) -> "" else dec(kv.take(i)) -> dec(kv.drop(i + 1))
    }.toMap
    val (key, body) =
      if (path == "/documents.json")
        s"list:${params.getOrElse("date", "")}" ->
          params.get("date").flatMap(d => corpus.lists.get(LocalDate.parse(d)))
      else if (path.startsWith("/documents/")) {
        val id = path.stripPrefix("/documents/")
        val t = params.get("type").flatMap(_.toIntOption).getOrElse(0)
        s"doc:$id:$t" -> corpus.archives.get((id, t))
      } else "" -> None
    if (!params.get("Subscription-Key").contains(EdinetCorpus.ApiKey)) reply(x, 401, Array.empty)
    else if (corpus.transient(key) && failedOnce.add(key)) reply(x, 503, Array.empty)
    else body match {
      case Some(bytes) =>
        x.getResponseHeaders.set("Content-Type",
          if (key.startsWith("list:")) "application/json; charset=utf-8" else "application/octet-stream")
        reply(x, 200, bytes)
      case None => reply(x, 404, Array.empty)
    }
  } finally x.close()

  private def reply(x: HttpExchange, code: Int, body: Array[Byte]): Unit = {
    x.sendResponseHeaders(code, if (body.isEmpty) -1 else body.length.toLong)
    if (body.nonEmpty) x.getResponseBody.write(body)
  }
}
