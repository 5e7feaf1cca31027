package perfbench

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.streaming.{HttpServing, ParquetServingStore, Serving}

/** Reads over HTTP while counters are written. Set-up builds an account
  * store from the prebuilt part of the corpus and starts `HttpServing`
  * on it. During a phase, three things run at once:
  *
  *  - a lander moves one chunk file into the source directory every
  *    `period_ms` (open loop: on schedule, however far the writer lags);
  *  - a writer calls `Serving.runAccountPipelineMetered` on the same
  *    checkpoint whenever chunks are waiting (one incremental
  *    AvailableNow batch over every landed chunk), probes the newest
  *    chunk it committed over HTTP, and compacts the store every
  *    `compact_every` calls. A chunk's freshness runs from its scheduled
  *    landing to that probe's response;
  *  - `clients` reader threads send `GET /stats/...` at `read_rate` per
  *    second (open loop), each timed from when it was due.
  *
  * Every response must equal the reference counters at some committed
  * chunk count between the one committed at send and the one landed at
  * receive. A phase in which the lander or the readers fall more than
  * `LateLimit` of their intervals behind schedule counts as failed.
  */
final class ServeBench(spark: SparkSession, p: JsonNode, data: String, work: String,
    seed: Long) extends Main.Workload {
  private val srcDir = s"$data/events.parquet"
  private val manifest = Json.read(s"$data/manifest.json")
  private val chunkFiles = manifest.get("chunks").elements().asScala
    .map(c => c.get("file").asText -> c.get("rows").asLong).toVector
  private val prebuiltRows = manifest.get("prebuilt").elements().asScala
    .map(_.get("rows").asLong).sum
  /** cumRows(c) = rows ingested once chunks 1..c are committed. */
  private val cumRows = chunkFiles.scanLeft(prebuiltRows)(_ + _._2)

  private val periodNs = (p.get("period_ms").asDouble * 1e6).toLong
  private val compactEvery = p.get("compact_every").asInt
  private val retain = p.get("retain_batches").asInt
  private val rate = p.get("read_rate").asDouble
  private val clients = p.get("clients").asInt
  private val readZipf = p.get("read_zipf_s").asDouble
  private val mix = p.get("mix").fields().asScala.map(e => e.getKey -> e.getValue.asDouble).toVector
  /** The corpus's calendar, from the generator, so reads hit its days. */
  private val firstDay = java.time.LocalDate.parse(manifest.get("first_day").asText)
  private val days = manifest.get("days").asInt

  private val store = new ParquetServingStore(spark, s"$work/serve/store")
  private val timed = new TimedStore(store, s"$work/serve/store", "account")
  private val ckpt = s"$work/serve/ckpt"
  private var server: com.sun.net.httpserver.HttpServer = _
  private var port = 0

  private val landed = new AtomicInteger(0)
  private val committed = new AtomicInteger(0)
  private val due = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private var cycles = 0
  private var ingested = 0L

  // ---- reference: per-account (key, chunk, n, cents) deltas ----------

  import ServeBench.{Delta, Req}
  private var deltas: Map[Long, Array[Delta]] = Map.empty
  private var hotAccounts: Array[Long] = Array.empty
  private var probeKey: Map[Int, (Long, String)] = Map.empty

  private def buildReference(): Unit = {
    val pre = Reference.events(spark, srcDir).withColumn("chunk", lit(0))
    val ch = Reference.events(spark, s"$data/chunks").withColumn("chunk",
      regexp_extract(input_file_name(), "chunk-(\\d+)", 1).cast("int") + 1)
    val rows = pre.unionByName(ch)
      .groupBy(col("user_id"), col("chunk"),
        concat_ws("/", lit("user"), col("user_id"), col("event_type"), lit("day"),
          date_format(col("ts"), "yyyy-MM-dd")).as("key"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(18,2)")).as("s"))
      .collect()
    val all = rows.map(r => r.getLong(0) -> Delta(r.getString(2), r.getInt(1), r.getLong(3),
      r.getDecimal(4).movePointRight(2).longValueExact()))
    deltas = all.groupBy(_._1).map { case (a, ds) => a -> ds.map(_._2).sortBy(_.key) }
    // readers pick accounts Zipf over their event-count rank
    hotAccounts = deltas.toArray.map { case (a, ds) => (a, ds.map(_.n).sum) }
      .sortBy { case (a, n) => (-n, a) }.map(_._1)
    probeKey = all.groupBy(_._2.chunk).collect { case (c, ds) if c > 0 =>
      val (a, d) = ds.minBy(_._2.key); c -> (a, d.key) }
  }

  /** key → (n, cents) for `prefix` once chunks 0..c are committed. */
  private def expected(account: Long, prefix: String, c: Int): Map[String, (Long, Long)] =
    deltas.getOrElse(account, Array.empty[Delta]).iterator
      .filter(d => d.chunk <= c && d.key.startsWith(prefix))
      .toSeq.groupBy(_.key)
      .map { case (k, ds) => k -> (ds.map(_.n).sum, ds.map(_.cents).sum) }
      .filter(_._2._1 > 0)

  private def close(a: Double, cents: Long): Boolean = {
    val want = cents / 100.0
    math.abs(a - want) <= 1e-6 + 1e-9 * math.abs(want)
  }

  private def matches(body: JsonNode, agg: Boolean, want: Map[String, (Long, Long)]): Boolean =
    if (agg) {
      if (want.isEmpty) body.get("n_events").isNull && body.get("n_keys").asLong == 0
      else body.get("n_events").asLong == want.values.map(_._1).sum &&
        close(body.get("sum_value").asDouble, want.values.map(_._2).sum) &&
        body.get("n_keys").asLong == want.size
    } else {
      val got = body.fields().asScala.map(e => e.getKey -> e.getValue).toMap
      got.keySet == want.keySet && want.forall { case (k, (n, cents)) =>
        got(k).get("n_events").asLong == n && close(got(k).get("sum_value").asDouble, cents)
      }
    }

  // ---- requests ------------------------------------------------------

  private val types = Seq("click", "error", "purchase", "signup", "view")

  /** `n` requests whose kinds follow `mix` exactly (largest remainder),
    * in seeded order, so every run reads the same mix; the seed picks
    * the order, the Zipf accounts, the event types and the days.
    */
  private def requests(n: Int, rng: scala.util.Random): Vector[Req] = {
    val w = hotAccounts.indices.map(i => math.pow(i + 1.0, -readZipf))
    val total = w.sum
    val cdf = w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
    val exact = mix.map { case (k, x) => k -> x / mix.map(_._2).sum * n }
    val extra = (n - exact.map(_._2.floor.toInt).sum)
    val counts = exact.sortBy { case (_, x) => -(x - x.floor) }.zipWithIndex
      .map { case ((k, x), i) => k -> (x.floor.toInt + (if (i < extra) 1 else 0)) }
    rng.shuffle(counts.flatMap { case (k, c) => Vector.fill(c)(k) }).map { kind =>
      val a = hotAccounts(math.min(hotAccounts.length - 1,
        java.util.Arrays.binarySearch(cdf, rng.nextDouble()) match {
          case i if i >= 0 => i
          case i => -i - 1
        }))
      val t = types(rng.nextInt(types.size))
      val day = firstDay.plusDays(rng.nextInt(days)).toString
      val month = day.take(7)
      kind match {
        case "point" => Req(kind, a, s"user/$a/$t/day/$day")
        case "month" => Req(kind, a, s"user/$a/$t/day/$month")
        case "account" => Req(kind, a, s"user/$a/")
        case _ => Req("agg", a, s"user/$a/$t/day/$month")
      }
    }
  }

  private def get(path: String): (Int, String) = {
    val c = URI.create(s"http://127.0.0.1:$port$path").toURL.openConnection()
      .asInstanceOf[HttpURLConnection]
    try {
      val status = c.getResponseCode
      val in = if (status < 400) c.getInputStream else c.getErrorStream
      val body = try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
      (status, body)
    } finally c.disconnect()
  }

  /** True when the response equals the reference at some chunk count in
    * [lo, hi].
    */
  private def check(r: Req, status: Int, body: String, lo: Int, hi: Int): Boolean =
    status == 200 && {
      val parsed = Json.parse(body)
      (lo to hi).exists(c => matches(parsed, r.agg, expected(r.account, r.prefix, c)))
    }

  // ---- writer --------------------------------------------------------

  private def land(i: Int): Unit = {
    val (file, _) = chunkFiles(i - 1)
    val dest = Paths.get(srcDir, file)
    Files.move(Paths.get(data, "chunks", file), dest, StandardCopyOption.ATOMIC_MOVE)
    dest.toFile.setLastModified(System.currentTimeMillis())
    landed.set(i)
  }

  /** One runner call; returns (wall ms, Σ triggerExecution ms). */
  private def runOnce(): (Double, Double) = {
    val t0 = System.nanoTime()
    val (_, batches) = Trace.span("pipeline.run", attrs = Map("pipeline" -> "account")) {
      _ => Serving.runAccountPipelineMetered(spark, data, timed, ckpt)
    }
    val wall = Stats.ms(t0, System.nanoTime())
    ingested += batches.map(_.numInputRows).sum
    val c = cumRows.indexOf(ingested)
    require(c >= committed.get, s"runner has ingested $ingested rows, not a whole number of chunks")
    committed.set(c)
    cycles += 1
    (wall, batches.map(_.batchDurationMs).sum.toDouble)
  }

  private def compact(): Double = {
    val t0 = System.nanoTime()
    Trace.span("store.compact")(_ => store.compact(retain))
    Stats.ms(t0, System.nanoTime())
  }

  /** HTTP probe until chunk i's counter shows; returns receive time. */
  private def probe(i: Int): Option[Long] = {
    val (a, key) = probeKey(i)
    val r = Req("point", a, key)
    val want = expected(a, key, committed.get)
    (1 to 50).iterator.map { _ =>
      val (status, body) = get(r.path)
      val t = System.nanoTime()
      if (status == 200 && matches(Json.parse(body), agg = false, want)) Some(t)
      else { Thread.sleep(10); None }
    }.collectFirst { case Some(t) => t }
  }

  override def setup(): (Long, Long, Seq[String]) = {
    buildReference()
    Main.log("reference")
    Files.createDirectories(Paths.get(work, "serve"))
    runOnce()
    Main.log("store prebuilt")
    val (s, pt) = HttpServing.start(timed)
    server = s
    port = pt
    // warm the incremental path and the read path
    land(1)
    runOnce()
    val errs = (probe(1).isEmpty, "serve setup: chunk 1 never became visible") +:
      requests(4, new scala.util.Random(seed)).map { r =>
        val (status, body) = get(r.path)
        (!check(r, status, body, committed.get, committed.get), s"serve setup: bad response to ${r.path}")
      }
    val bad = errs.filter(_._1).map(_._2)
    (errs.size.toLong, bad.size.toLong, bad)
  }

  private var phaseNo = 0

  override def measure(seconds: Double): Main.Phase = {
    phaseNo += 1
    val nReq = (rate * seconds).ceil.toInt
    val reqs = requests(nReq, new scala.util.Random(seed * 7919L + phaseNo))
    // the schedule starts once the threads below are up
    val t0 = System.nanoTime() + 100L * 1000 * 1000
    val end = t0 + (seconds * 1e9).toLong
    val firstChunk = landed.get + 1
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[String]()

    val landLate = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val lander = new Thread(() => {
      var i = firstChunk
      var d = t0
      while (d < end && i <= chunkFiles.size) {
        val wait = d - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
        due.put(i, d)
        land(i)
        landLate.add(Stats.ms(d, System.nanoTime()))
        i += 1
        d += periodNs
      }
    }, "perfbench-lander")

    val fresh = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val cycleMs = new java.util.concurrent.ConcurrentLinkedQueue[(Double, Double)]()
    val compactMs = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val cyclesFailed = new AtomicLong(0)
    val chunksSeen = new AtomicLong(0)
    val writer = new Thread(() => {
      while (System.nanoTime() < end) {
        if (landed.get > committed.get) {
          val before = committed.get
          try {
            cycleMs.add(runOnce())
            // the chunks of one batch become visible together, so one
            // probe of the newest covers them all
            val newly = before + 1 to committed.get
            if (newly.nonEmpty) {
              chunksSeen.addAndGet(newly.size)
              probe(newly.last) match {
                case Some(t) => newly.foreach { i =>
                  fresh.add(Stats.ms(due.get(i), t))
                  Trace.record("serve.freshness", Trace.toMs(due.get(i)), Trace.toMs(t),
                    attrs = Map("chunk" -> i))
                }
                case None =>
                  cyclesFailed.addAndGet(newly.size)
                  errs.add(s"serve: chunk ${newly.last} never became visible over HTTP")
              }
            }
            if (cycles % compactEvery == 0) compactMs.add(compact())
          } catch {
            case e: Exception =>
              cyclesFailed.incrementAndGet()
              errs.add(s"serve writer: $e")
          }
        } else Thread.sleep(2)
      }
    }, "perfbench-writer")

    final case class Sample(kind: String, latencyMs: Double, lateMs: Double, ok: Boolean)
    val samples = new java.util.concurrent.ConcurrentLinkedQueue[Sample]()
    val next = new AtomicInteger(0)
    val readers = (1 to clients).map(k => new Thread(() => {
      var i = next.getAndIncrement()
      while (i < reqs.size) {
        val r = reqs(i)
        val d = t0 + (i * 1e9 / rate).toLong
        val wait = d - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
        val lo = committed.get
        val sent = System.nanoTime()
        val (status, body) =
          try get(r.path) catch { case e: java.io.IOException => (-1, e.toString) }
        val recv = System.nanoTime()
        val ok = check(r, status, body, lo, landed.get)
        if (!ok) errs.add(s"serve: bad response to ${r.path} ($status): ${body.take(200)}")
        samples.add(Sample(r.kind, Stats.ms(d, recv), Stats.ms(d, sent), ok))
        Trace.record("http.request", Trace.toMs(sent), Trace.toMs(recv), attrs = Map(
          "kind" -> r.kind, "prefix" -> r.prefix, "status" -> status, "bytes" -> body.length,
          "due" -> Trace.toMs(d)))
        i = next.getAndIncrement()
      }
    }, s"perfbench-reader-$k"))

    val threads = lander +: writer +: readers
    threads.foreach(_.start())
    threads.foreach(_.join())

    val s = samples.asScala.toVector
    val lat = s.map(_.latencyMs)
    val kinds = s.groupBy(_.kind).map { case (k, v) => k -> Stats.median(v.map(_.latencyMs)) }
    val f = fresh.asScala.toVector
    val cyc = cycleMs.asScala.toVector
    // an open-loop run is valid only while both generators keep to
    // their schedules
    val lateMax = Map("lander" -> (landLate.asScala.maxOption.getOrElse(0.0), periodNs / 1e6),
      "readers" -> (s.map(_.lateMs).maxOption.getOrElse(0.0), 1e3 / rate))
    val behind = lateMax.collect { case (g, (late, interval)) if late > ServeBench.LateLimit * interval =>
      f"serve: the $g fell behind its schedule by $late%.0f ms, more than " +
        f"${ServeBench.LateLimit} intervals of $interval%.0f ms; the phase is not a valid open-loop run"
    }
    val e = errs.asScala.toVector ++ behind
    val failed = s.count(!_.ok) + cyclesFailed.get + behind.size
    Main.Phase(s.size + chunksSeen.get + lateMax.size, failed, e,
      Map("work_s" -> (if (cyc.isEmpty) Double.NaN else Stats.median(cyc.map(_._1)) / 1e3),
        "op_geomean_ms" -> Stats.geomean(lat)),
      Map("requests" -> s.size, "chunks" -> f.size, "cycles" -> cyc.size,
        "cycle_ms" -> cyc.map(_._1),
        "compactions" -> compactMs.size,
        "http_p50_ms" -> Stats.quantile(lat, 0.5), "http_p90_ms" -> Stats.quantile(lat, 0.9),
        "kind_median_ms" -> kinds,
        "freshness_p50_ms" -> (if (f.isEmpty) Double.NaN else Stats.quantile(f, 0.5)),
        "freshness_p90_ms" -> (if (f.isEmpty) Double.NaN else Stats.quantile(f, 0.9)),
        "send_late_p90_ms" -> Stats.quantile(s.map(_.lateMs), 0.9),
        "land_late_p90_ms" ->
          (if (landLate.isEmpty) 0.0 else Stats.quantile(landLate.asScala.toVector, 0.9)),
        "runner_ms_median" -> (if (cyc.isEmpty) Double.NaN else Stats.median(cyc.map(_._1))),
        "runner_start_stop_ms_median" ->
          (if (cyc.isEmpty) Double.NaN else Stats.median(cyc.map(c => c._1 - c._2))),
        "compact_ms" -> compactMs.asScala.sum,
        "store_mb" -> (Stats.dirBytes(s"$work/serve/store") + Stats.dirBytes(ckpt)) / 1e6))
  }

  /** Commit whatever landed, then the whole store must equal the
    * reference over every landed file.
    */
  override def finish(): (Long, Long, Seq[String]) = {
    if (landed.get > committed.get) runOnce()
    val want = Reference.fingerprint(Reference.keyed(Reference.events(spark, srcDir), "account"))
    val got = Reference.storeFingerprint(store)
    if (got == want) (1L, 0L, Nil)
    else (1L, 1L, Seq(s"serve final read: store (rows, n, hash) $got, reference $want"))
  }

  override def close(): Unit = if (server != null) server.stop(0)
}

object ServeBench {
  /** How many of its own intervals (`period_ms` for the lander,
    * 1 / `read_rate` for the readers) a generator may fall behind before
    * the phase counts as failed.
    */
  val LateLimit = 5

  /** One reference delta: `n` events worth `cents` for `key` in chunk
    * `chunk` (0 = the prebuilt part of the corpus).
    */
  final case class Delta(key: String, chunk: Int, n: Long, cents: Long)

  final case class Req(kind: String, account: Long, prefix: String) {
    def agg: Boolean = kind == "agg"
    def path: String = s"/stats/$prefix" + (if (agg) "?agg=sum" else "")
  }
}
