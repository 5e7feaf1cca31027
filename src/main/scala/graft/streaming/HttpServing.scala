package graft.streaming

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}

/** HTTP JSON serving layer over a [[ServingStore]] (SURVEY.md §2 A7):
  * the reference's public face — GET a calendar-counter prefix, get
  * JSON back — re-expressed over the same store the streaming sink
  * feeds. JDK `com.sun.net.httpserver`, zero dependencies, loopback
  * only (no external services in this environment; a production
  * deployment fronts the real KV, this proves the contract).
  *
  * Routes:
  *   - `GET /stats/<key-prefix>` → `{"<key>": {"n_events": n,
  *     "sum_value": v}, ...}` for every counter whose key starts with
  *     the prefix, key-sorted (the Redis SCAN-by-prefix shape, same
  *     contract the DSv2 source pushes down).
  *   - `GET /stats/<key-prefix>?agg=sum` → one aggregate object
  *     `{"n_events": Σn, "sum_value": Σv, "n_keys": k}` — the HTTP
  *     twin of the source's complete aggregate pushdown (and like it,
  *     sums over an empty prefix are null, not 0).
  *
  * Serving reads go through `store.lookupRows(prefix)` — a
  * point-in-time read per request with the store as the consistency
  * boundary (micro-batch upserts are atomic per key). For the
  * partitioned parquet store that is a read on the request thread,
  * without a Spark job, of only the gran/pday partition files the
  * prefix can match, each binary-searched in the store's bounded index
  * of key-sorted file rows (a file decodes once, in the writer when
  * readers have been reading its partition, else on its first read).
  * The file list is cached under the store's commit stamp, so a read
  * between two writes reads one small file and then memory: the
  * reference's O(1)-per-key Redis read re-expressed as partition
  * pruning plus a sorted-index probe.
  *
  * Responses go out with TCP_NODELAY: the JDK server writes the
  * headers and the body as separate segments, and with Nagle's
  * algorithm on the body can wait for the client's delayed ACK
  * (~40 ms). [[start]] sets the JDK's `sun.net.httpserver.nodelay`
  * property unless the JVM already sets it; the JDK reads it once, when
  * the first server of the JVM is created, so a JVM that created one
  * before keeps its earlier setting.
  *
  * A failed read answers 500 with `{"error": "internal error",
  * "request_id": n}` and logs the exception under the same id; the
  * exception text (store paths, class names) never reaches the client.
  */
object HttpServing {
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private val NoDelay = "sun.net.httpserver.nodelay"

  private def jsonNum(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" // JSON has no NaN/Infinity
    else if (d == d.floor && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  private def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  /** Render the per-key listing for one prefix. */
  def listJson(rows: Seq[ServingStore.CounterRow]): String =
    rows.sortBy(_.key).map { r =>
      s""""${esc(r.key)}": {"n_events": ${r.nEvents}, "sum_value": ${jsonNum(r.sumValue)}}"""
    }.mkString("{", ", ", "}")

  /** Render the aggregate answer for one prefix (empty → nulls). */
  def aggJson(rows: Seq[ServingStore.CounterRow]): String =
    if (rows.isEmpty) """{"n_events": null, "sum_value": null, "n_keys": 0}"""
    else {
      val n = rows.map(_.nEvents).sum
      val v = rows.map(_.sumValue).sum
      s"""{"n_events": $n, "sum_value": ${jsonNum(v)}, "n_keys": ${rows.size}}"""
    }

  /** Start serving `store` on loopback. `port = 0` picks a free port;
    * returns the server (call `.stop(0)` when done) and the bound
    * port.
    */
  def start(store: ServingStore, port: Int = 0): (HttpServer, Int) = {
    if (System.getProperty(NoDelay) == null) System.setProperty(NoDelay, "true")
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    val requests = new java.util.concurrent.atomic.AtomicLong(0)
    server.createContext("/stats/", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val id = requests.incrementAndGet()
        val (status, resp) =
          try {
            val prefix = ex.getRequestURI.getPath.stripPrefix("/stats/")
            val rows = store.lookupRows(prefix)
            val query = Option(ex.getRequestURI.getQuery).getOrElse("")
            (200,
              if (query.split('&').contains("agg=sum")) aggJson(rows)
              else listJson(rows))
          } catch {
            case e: Exception =>
              log.error(s"request $id (${ex.getRequestURI}) failed", e)
              (500, s"""{"error": "internal error", "request_id": $id}""")
          }
        val bytes = resp.getBytes(StandardCharsets.UTF_8)
        ex.getResponseHeaders.set("Content-Type", "application/json")
        ex.sendResponseHeaders(status, bytes.length)
        ex.getResponseBody.write(bytes)
        ex.close()
      }
    })
    server.start()
    (server, server.getAddress.getPort)
  }
}
