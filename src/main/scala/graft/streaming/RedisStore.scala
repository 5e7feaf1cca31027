package graft.streaming

import java.io.{BufferedInputStream, BufferedOutputStream, InputStream, OutputStream}
import java.net.{InetSocketAddress, Socket}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, Row}

/** Redis-backed [[ServingStore]] (SURVEY.md §7.6.6 — the reference's
  * actual serving store, re-expressed): counters live in one Redis
  * hash per key (`HSET key n_events <v> sum_value <v>`), written with
  * a PIPELINED dependency-free RESP client over a plain socket — no
  * Redis driver on the classpath (this environment has zero external
  * resolution; RESP is a ~50-line wire protocol, so the adapter is a
  * real client, not a stub).
  *
  * Executor-side writes ([[sinkBatch]]): each task partition opens its
  * own connection — the closure captures only (host, port) — streams
  * all its HSETs without waiting, then drains the replies. PUTs of
  * running totals are idempotent, so task retries and batch replays
  * are safe without a commit protocol (same argument as the other
  * stores; HSET-not-HINCRBY is what upgrades the reference's
  * at-least-once increments to exactly-once-observable totals).
  *
  * No Redis runs in this environment; RedisStoreSpec drives the
  * adapter against an in-process fake RESP server (protocol-level
  * test, same pattern as the socket-source spec).
  */
final class RedisServingStore(host: String, port: Int) extends ServingStore {

  override def merge(batchId: Long, rows: Seq[ServingStore.CounterRow]): Unit = {
    val c = new RespClient(host, port)
    try c.pipelineHsets(rows) finally c.close()
  }

  override def sinkBatch(keyed: DataFrame, batchId: Long): Unit = {
    val (h, p) = (host, port) // capture primitives, not `this`
    keyed.select("key", "n_events", "sum_value").foreachPartition {
      (it: Iterator[Row]) =>
        if (it.nonEmpty) {
          val c = new RespClient(h, p)
          try c.pipelineHsets(it.map(ServingStore.counterRow))
          finally c.close()
        }
    }
  }

  /** Full-store read via cursor SCAN + pipelined HGETALL (the bounded-
    * batch iteration a production reader uses — never KEYS *).
    */
  override def snapshot(): Seq[ServingStore.CounterRow] = scanRows(None)

  /** The pruned serving read the [[ServingStore]] trait contract asks
    * durable stores for (round-15 review — the trait default filtered
    * a FULL snapshot, so every HTTP point lookup paid a whole-keyspace
    * SCAN + per-key HGETALL): the prefix is pushed server-side as a
    * `SCAN MATCH <prefix>*` glob (special glob characters escaped) and
    * re-checked client-side — MATCH is a server-side pruning hint, the
    * client-side filter is the authoritative predicate.
    */
  override def lookupRows(keyPrefix: String): Seq[ServingStore.CounterRow] =
    scanRows(Some(keyPrefix))

  private def globEscape(p: String): String =
    p.flatMap {
      case c @ ('*' | '?' | '[' | ']' | '\\') => "\\" + c
      case c => c.toString
    }

  private def scanRows(prefix: Option[String]): Seq[ServingStore.CounterRow] = {
    val c = new RespClient(host, port)
    try {
      val keys = scala.collection.mutable.ArrayBuffer.empty[String]
      var cursor = "0"
      var first = true
      val matchArgs = prefix.toSeq.flatMap(p => Seq("MATCH", globEscape(p) + "*"))
      while (first || cursor != "0") {
        first = false
        val reply = c.command(Seq("SCAN", cursor) ++ matchArgs ++
          Seq("COUNT", "512"): _*)
        reply match {
          case Seq(next: String, batch: Seq[_]) =>
            cursor = next
            keys ++= batch.collect { case s: String => s }
          case other => throw new java.io.IOException(s"bad SCAN reply: $other")
        }
      }
      // SCAN is at-least-once: a rehash mid-iteration may return the
      // same key in two cursor batches — dedupe before fetching; and
      // re-apply the prefix client-side (authoritative)
      val uniq: Seq[String] = keys.distinct.sorted
        .filter(k => prefix.forall(k.startsWith)).toSeq
      // ONE windowed pipeline for all the HGETALLs (round-15 review:
      // a per-key blocking round trip made snapshot O(keys * RTT))
      uniq.zip(c.pipeline(uniq.map(k => Seq("HGETALL", k)))).flatMap {
        case (k, reply) =>
          val fields = reply match {
            case pairs: Seq[_] =>
              pairs.collect { case s: String => s }.grouped(2)
                .collect { case Seq(f, v) => f -> v }.toMap
            case other => throw new java.io.IOException(s"bad HGETALL reply: $other")
          }
          // a key deleted/expired between SCAN and HGETALL answers with
          // an empty hash — skip it rather than fabricate a zero row
          if (fields.isEmpty) None
          else Some(ServingStore.CounterRow(k,
            fields.getOrElse("n_events", "0").toLong,
            fields.getOrElse("sum_value", "0").toDouble))
      }
    } finally c.close()
  }
}

/** Minimal RESP2 client: array-of-bulk-string requests, full reply
  * parse (simple string / error / integer / bulk / array). Enough for
  * HSET / SCAN / HGETALL / PING — and exactly what any pipelined
  * counter writer needs.
  */
final class RespClient(host: String, port: Int, timeoutMs: Int = 10000) {
  private val socket = new Socket()
  // the caller can never reach close() if the constructor throws —
  // release the descriptor here (task retries against a flapping
  // endpoint would otherwise strand one fd per attempt). The guard
  // covers STREAM acquisition too (round-15 review): getInputStream /
  // getOutputStream throw on a peer reset after connect, which the
  // previous connect-only try let escape with the fd stranded.
  private val (in, out) =
    try {
      socket.connect(new InetSocketAddress(host, port), timeoutMs)
      socket.setSoTimeout(timeoutMs)
      (new BufferedInputStream(socket.getInputStream),
        new BufferedOutputStream(socket.getOutputStream))
    } catch {
      case t: Throwable => socket.close(); throw t
    }

  def close(): Unit = socket.close()

  private def writeCommand(args: Seq[String]): Unit = {
    out.write(s"*${args.length}\r\n".getBytes(UTF_8))
    args.foreach { a =>
      val b = a.getBytes(UTF_8)
      out.write(s"$$${b.length}\r\n".getBytes(UTF_8))
      out.write(b); out.write('\r'); out.write('\n')
    }
  }

  /** One command, one parsed reply. Replies map to: String (simple or
    * bulk), Long (integer), null (null bulk), Seq[Any] (array);
    * `-ERR` raises.
    */
  /** Windowed pipeline: write every command, flush per window, read
    * the replies in order — the same machinery [[pipelineHsets]] uses,
    * exposed for bulk reads (round-15 review: snapshot paid one
    * blocking round trip PER KEY).
    */
  def pipeline(cmds: Seq[Seq[String]], window: Int = 4096): Seq[Any] = {
    val replies = scala.collection.mutable.ArrayBuffer.empty[Any]
    cmds.grouped(window).foreach { g =>
      g.foreach(writeCommand)
      out.flush()
      g.foreach(_ => replies += readReply(in))
    }
    replies.toSeq
  }

  def command(args: String*): Any = {
    writeCommand(args); out.flush(); readReply(in)
  }

  /** Pipelining: stream HSETs in bounded windows, draining replies
    * between windows — one round trip per window instead of per key,
    * WITHOUT the unbounded-pipeline deadlock (writing a whole huge
    * partition before reading any reply lets both TCP buffers fill
    * with undrained `:1`s; the server then blocks on its write and
    * stops reading, and our blocking `out.write` — which has no
    * timeout, unlike reads — hangs forever).
    */
  def pipelineHsets(rows: IterableOnce[ServingStore.CounterRow],
      window: Int = 4096): Unit = {
    var pending = 0
    def drain(): Unit = {
      out.flush()
      (1 to pending).foreach(_ => readReply(in)) // surfaces -ERR as a throw
      pending = 0
    }
    rows.iterator.foreach { r =>
      writeCommand(Seq("HSET", r.key,
        "n_events", r.nEvents.toString, "sum_value", r.sumValue.toString))
      pending += 1
      if (pending >= window) drain()
    }
    drain()
  }

  private def readLine(s: InputStream): String = {
    val sb = new java.lang.StringBuilder
    var c = s.read()
    while (c != '\r') {
      if (c == -1) throw new java.io.EOFException("RESP stream closed")
      sb.append(c.toChar); c = s.read()
    }
    if (s.read() != '\n') throw new java.io.IOException("RESP: CR without LF")
    sb.toString
  }

  private def readReply(s: InputStream): Any = s.read() match {
    case '+' => readLine(s)
    case '-' => throw new java.io.IOException(s"redis error: ${readLine(s)}")
    case ':' => readLine(s).toLong
    case '$' =>
      val len = readLine(s).toInt
      if (len < 0) null
      else {
        val buf = new Array[Byte](len)
        var off = 0
        while (off < len) {
          val r = s.read(buf, off, len - off)
          if (r < 0) throw new java.io.EOFException("RESP stream closed")
          off += r
        }
        if (s.read() != '\r' || s.read() != '\n')
          throw new java.io.IOException("RESP: bulk not CRLF-terminated")
        new String(buf, UTF_8)
      }
    case '*' =>
      val n = readLine(s).toInt
      if (n < 0) null else Seq.fill(n)(readReply(s))
    case other =>
      throw new java.io.IOException(s"RESP: unknown reply type byte $other")
  }
}
