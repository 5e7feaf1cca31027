package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming ingest (SURVEY.md §2 A2-A5, §3.1): the reference's
  * ZMQ-SUB JSON loop re-expressed as Structured Streaming sources +
  * from_json decode. No ZMQ/Kafka exists in this environment
  * (BASELINE.md) — the file source is the production-shaped stand-in
  * (same micro-batch machinery, offsets, and recovery semantics as a
  * Kafka source; swapping `format`/`option` is the only change).
  */
object Ingest {

  /** Typed event (the reference's JSON tracking event). */
  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double, props: String)

  /** Raw-wire schema: what a ZMQ/Kafka payload would decode to. */
  val eventJsonSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts_us", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Parquet-side schema, parameterized on the fixture's physical
    * timestamp type — the driver has shipped both timestamp[ns] (reads
    * as LongType under `nanosAsLong`) and timestamp[us]
    * (isAdjustedToUTC=false → TimestampNTZType); see Tables.events.
    */
  private def eventFileSchema(tsType: DataType): StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", tsType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** File-source event stream over a fixture dir — the streaming twin
    * of Tables.events: same columns, same µs timestamp normalization.
    */
  /** Stream one parquet table that may be EITHER a bare file (fixture
    * layout) or a directory of part files (the layout any real writer
    * produces). Each idiom fails on the other layout — FileStreamSource
    * requires its basePath to be a DIRECTORY (a file path throws),
    * while a `pathGlobFilter` over the parent matches LEAF file names
    * only (a directory table silently ingests ZERO rows) — so pick per
    * realized layout. StreamingSpec pins the directory case; every
    * fixture run pins the file case.
    */
  private[graft] def streamTable(spark: SparkSession, sfDir: String,
      table: String, schema: StructType): DataFrame = {
    val path = new java.io.File(s"$sfDir/$table.parquet")
    // ingestion batching knob (a real file-watch deployment always
    // sets one): bounds files admitted per micro-batch, which is also
    // how tools/StreamAmortProf (removed; last in 672d67d) drove N>1
    // micro-batches over a chunked fixture to measure marginal batch
    // cost. Unset (the default) = all available files in one
    // AvailableNow batch.
    // Session conf wins; the sys.prop is the DEV fallback for
    // harnesses whose streams run on an isolated newSession() that
    // does not inherit the caller's runtime conf (the stateSession
    // pattern). Conf-first so a harness sys.prop leaked by a failed
    // finally-cleanup can never silently override an explicitly
    // configured production stream (advisor r10).
    val maxFiles = spark.conf.getOption("spark.graft.stream.maxFilesPerTrigger")
      .orElse(sys.props.get("graft.stream.maxFilesPerTrigger"))
    def withKnob(r: org.apache.spark.sql.streaming.DataStreamReader) =
      maxFiles.fold(r)(v => r.option("maxFilesPerTrigger", v))
    if (path.isDirectory)
      withKnob(spark.readStream.schema(schema)).parquet(path.getPath)
    else withKnob(spark.readStream.schema(schema)
      .option("pathGlobFilter", s"$table.parquet")).parquet(sfDir)
  }

  // (context, dir)-keyed: the physical type is a property of the file,
  // not the session, and every stateful pipeline constructs its stream
  // on a FRESH session clone — a session-keyed memo would never hit.
  // Clones share the SparkContext, so the staleness exposure (fixture
  // regenerated in place mid-JVM) is the same class Tables.loaded
  // already accepts for the relation itself.
  private val eventsTsTypes = new java.util.concurrent.ConcurrentHashMap[
    (org.apache.spark.SparkContext, String), DataType]()

  /** Unit-aware like Tables.events: readStream needs an explicit
    * schema, so peek at the footer-derived type with a (metadata-only)
    * batch read first, then declare the matching stream schema and
    * normalize `ts` to µs TimestampType. The peek (file listing +
    * footer read + relation resolution, ~40 ms) is memoized per
    * (context, fixture dir) — round 16: eleven stream constructions
    * per bench pass each re-read the same footer for the same answer.
    */
  def eventStream(spark: SparkSession, sfDir: String): DataFrame = {
    val physical = graft.Memo.memo(eventsTsTypes, (spark.sparkContext, sfDir))(
      spark.read.parquet(s"$sfDir/events.parquet").schema("ts").dataType)
    val raw = streamTable(spark, sfDir, "events", eventFileSchema(physical))
    physical match {
      case LongType => // ns surfaced as raw long under nanosAsLong
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _: TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }

  /** Columns the time-chunked ingest twin carries (the stream-stream
    * join's working set — ts normalized to µs TimestampType at build).
    */
  val chunkedEventSchema: StructType = StructType(Seq(
    StructField("user_id", LongType), StructField("ts", TimestampType),
    StructField("event_type", StringType)))

  /** Columns [[timeChunkedFullEventDir]]'s chunks carry — the
    * join-view pipeline's working set (all event types, plus the
    * aggregated `value`).
    */
  val chunkedFullEventSchema: StructType = StructType(Seq(
    StructField("user_id", LongType), StructField("ts", TimestampType),
    StructField("event_type", StringType), StructField("value", DoubleType)))

  // keyed (session, dir, chunks, variant) like every other derivation
  // cache (round-14 advice): a dir-only key would serve a stale chunk
  // set over a regenerated fixture directory in a long-lived JVM — the
  // same class the BpeTrain/TextAnalysis caches were session-keyed for
  private val chunkedDirs = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, Int, String), String]()

  /** Time-ordered chunked ingest twin of the events fixture: the
    * purchase/click working set rewritten as `nChunks` day-range
    * parquet files with strictly ascending modification times — the
    * shape a production file-watch ingest actually delivers (files
    * land in event-time order), which is what lets a watermark-sized
    * stream-stream join gate run REAL multi-batch state eviction
    * deterministically (`q_stream_stream_join_wm`). Chunk boundaries
    * are DAY boundaries (floor over datediff — no global window, no
    * single-partition sort), so cross-chunk event-time disorder is
    * exactly zero and any watermark delay ≥ 0 admits every row; the
    * declared 2 h delay is the production lateness budget, not a
    * correctness crutch. One corpus scan + one shuffle write per
    * (fixture, nChunks), memoized for the JVM's lifetime like
    * Similarity.cachedIvfIndex; mtimes are set EXPLICITLY (1 s apart)
    * rather than by sleeping between writes — FileStreamSource admits
    * files in modification-time order, and distinct stamps make that
    * order total.
    */
  def timeChunkedEventDir(spark: SparkSession, sfDir: String,
      nChunks: Int = 10): String =
    chunkedVariantDir(spark, sfDir, nChunks, "pc",
      graft.Tables.events(spark, sfDir)
        .filter(col("event_type").isin("purchase", "click"))
        .select(col("user_id"), col("ts"), col("event_type")))

  /** [[timeChunkedEventDir]]'s full-corpus sibling: ALL event types,
    * carrying `value` — the continuous join-view pipeline's ingest
    * ([[JoinView]]), which maintains counters over every type. Same
    * day-boundary chunking and ascending-mtime total order; a separate
    * variant rather than widening the pc chunks because chunk
    * BOUNDARIES derive from the carried set's time span — sharing
    * files would silently shift the wm gate's batch structure.
    */
  def timeChunkedFullEventDir(spark: SparkSession, sfDir: String,
      nChunks: Int = 10): String =
    chunkedVariantDir(spark, sfDir, nChunks, "full",
      graft.Tables.events(spark, sfDir)
        .select(col("user_id"), col("ts"), col("event_type"), col("value")))

  private def chunkedVariantDir(spark: SparkSession, sfDir: String,
      nChunks: Int, variant: String, ev: => DataFrame): String =
    // graft.Memo, not computeIfAbsent (round-14 advice): the build is
    // a multi-job Spark write and must not run under the CHM bin lock
    graft.Memo.memo(chunkedDirs, (spark, sfDir, nChunks, variant)) {
      val root = graft.SparkEnv.scratchDir("graft-chunked-ingest")
      val staged = s"$root/staged"
      val outDir = new java.io.File(root, "events")
      val span = ev.agg(
        min(to_date(col("ts"))).as("d0"), max(to_date(col("ts"))).as("d1"))
        .head() // 1 row — corpus time span, metadata-sized
      outDir.mkdirs()
      if (!span.isNullAt(0)) { // empty corpus → empty dir, no files
        val (d0, d1) = (span.getDate(0), span.getDate(1))
        val nDays = java.time.temporal.ChronoUnit.DAYS.between(
          d0.toLocalDate, d1.toLocalDate) + 1
        val withChunk = ev.withColumn("chunk",
          least(lit(nChunks - 1),
            floor(datediff(to_date(col("ts")), lit(d0)) * nChunks / nDays))
            .cast("int"))
        // repartition ON the chunk key: each chunk lives in exactly one
        // task, so partitionBy emits exactly one part file per chunk dir
        withChunk.repartition(col("chunk"))
          .write.partitionBy("chunk").parquet(staged)
        val chunkDirs = new java.io.File(staged).listFiles()
          .filter(f => f.isDirectory && f.getName.startsWith("chunk="))
          .sortBy(f => f.getName.stripPrefix("chunk=").toInt)
        val base = System.currentTimeMillis() - (nChunks + 2) * 1000L
        chunkDirs.zipWithIndex.foreach { case (cd, i) =>
          val part = cd.listFiles().filter(_.getName.endsWith(".parquet")).head
          val dest = new java.io.File(outDir, f"chunk_$i%03d.parquet")
          java.nio.file.Files.move(part.toPath, dest.toPath)
          require(dest.setLastModified(base + i * 1000L),
            s"cannot stamp mtime on $dest")
        }
      }
      outDir.getPath
    }

  /** Decode a stream of JSON strings (the ZMQ datagram shape) into
    * typed event columns — A5. `payload` column in, event columns out.
    */
  def decodeJson(raw: DataFrame): DataFrame =
    raw.select(from_json(col("payload"), eventJsonSchema).as("e"))
      .select(
        col("e.event_id").as("event_id"),
        timestamp_micros(col("e.ts_us")).as("ts"),
        col("e.user_id").as("user_id"),
        col("e.event_type").as("event_type"),
        col("e.value").as("value"),
        col("e.props").as("props"))

  /** Encode events back to wire JSON (round-trip / A4 load-gen). */
  def encodeJson(events: DataFrame): DataFrame =
    events.select(to_json(struct(
      col("event_id"), unix_micros(col("ts")).as("ts_us"), col("user_id"),
      col("event_type"), col("value"), col("props"))).as("payload"))
}
