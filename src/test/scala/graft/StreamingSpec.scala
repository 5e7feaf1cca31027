package graft

import graft.streaming.{Ingest, InMemoryServingStore, Serving, Windows}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.sql.Timestamp

/** Structured Streaming surface: stream-batch unification (the
  * streaming result over the complete input equals the batch query),
  * watermark late-data semantics, streaming dedup, stateful funnel,
  * idempotent serving sink.
  */
class StreamingSpec extends SparkSpec {
  import Windows.FunnelEvent

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("streaming pipeline result equals batch twin (file source, AvailableNow)") {
    val checkpoint = graft.SparkEnv.scratchDir("ckpt")
    val store = Serving.runPipeline(spark, sf, new InMemoryServingStore, checkpoint)
    val streamed = store.snapshot().map(r => (r.key, r.nEvents, r.sumValue)).toSet
    val batch = Serving.toCounterRows(
      Serving.hourlyCounters(Tables.events(spark, sf)))
      .map(r => (r.key, r.nEvents, r.sumValue)).toSet
    assert(streamed == batch)
  }

  test("multi-granularity pipeline maintains all four calendar rollups at once") {
    import org.apache.spark.sql.functions._
    val store = new InMemoryServingStore
    Serving.runMultiGranularityCube(spark, sf, store, graft.SparkEnv.scratchDir("ckpt-cube"))
    val streamed = store.snapshot().map(r => (r.key, r.nEvents, r.sumValue)).toSet
    // batch twin: the same four rollups computed directly
    val ev = Tables.events(spark, sf)
    val batch = Seq(
      "hour" -> "yyyy-MM-dd-HH", "day" -> "yyyy-MM-dd",
      "month" -> "yyyy-MM", "year" -> "yyyy").flatMap { case (gran, fmt) =>
      ev.groupBy(date_trunc(gran, col("ts")).as("bucket"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(18,2)"))
          .cast("double").as("s"))
        .select(concat_ws("/", col("event_type"), lit(gran),
          date_format(col("bucket"), fmt)).as("key"), col("n"), col("s"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    }.toSet
    assert(streamed == batch)
    // all four granularities present
    Seq("hour", "day", "month", "year").foreach { g =>
      assert(streamed.exists(_._1.contains(s"/$g/")), s"missing $g keys")
    }
  }

  test("MemoryStream windowed agg equals batch agg on same input") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = (0 until 100).map { i =>
      (i.toLong, ts(f"2024-01-01 ${i % 24}%02d:${i % 60}%02d:00"),
        (i % 7).toLong, if (i % 2 == 0) "click" else "view", i * 1.5, "{}")
    }
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    mem.addData(events)
    val df = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val q = Windows.tumblingHourly(df).writeStream
      .format("memory").queryName("tumbling_t").outputMode("complete")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("tumbling_t")
      .select("bucket", "event_type", "n_events", "sum_value")
      .collect().map(_.toSeq).toSet
    val batchDf = events.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val batch = Windows.tumblingHourly(batchDf)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
  }

  test("session windows work in streaming mode with watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, Double)]
    val df = mem.toDF().toDF("ts", "user_id", "value").withWatermark("ts", "1 hour")
    val q = Windows.sessions(df).writeStream
      .format("memory").queryName("sess_t").outputMode("append").start()
    mem.addData(Seq(
      (ts("2024-01-01 10:00:00"), 1L, 1.0),
      (ts("2024-01-01 10:10:00"), 1L, 2.0),  // same session (gap 10m)
      (ts("2024-01-01 11:00:00"), 1L, 4.0))) // new session (gap 50m)
    q.processAllAvailable()
    mem.addData(Seq((ts("2024-01-02 00:00:00"), 2L, 0.0))) // advance watermark
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("sess_t")
      .select("user_id", "n_events", "sum_value")
      .collect().map(_.toSeq).toSet
    // exact emitted set: user 1's two finalized sessions and NOTHING
    // else — user 2's session is still open (watermark not past it),
    // so any extra row is a premature/spurious append-mode emission
    assert(rows == Set(Seq(1L, 2L, 3.0), Seq(1L, 1L, 4.0)), rows)
  }

  test("watermark drops late rows in append mode") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String, Double)]
    val df = mem.toDF().toDF("event_id", "ts", "event_type", "value")
    val q = Windows.watermarkedHourly(df).writeStream
      .format("memory").queryName("late_t").outputMode("append")
      .start()
    // batch 1: events at 10:00 and 13:00 -> watermark advances to 12:00
    mem.addData(Seq((1L, ts("2024-01-01 10:00:00"), "click", 1.0),
      (2L, ts("2024-01-01 13:00:00"), "click", 1.0)))
    q.processAllAvailable()
    // batch 2: late event at 10:30 (< watermark 12:00) must be dropped
    mem.addData(Seq((3L, ts("2024-01-01 10:30:00"), "click", 1.0)))
    q.processAllAvailable()
    // batch 3: advance watermark far so the 13:00 window finalizes
    mem.addData(Seq((4L, ts("2024-01-02 00:00:00"), "click", 1.0)))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("late_t")
      .select("bucket", "n_events").as[(Timestamp, Long)].collect().toMap
    // 10:00 window finalized with ONLY the on-time event
    assert(rows(ts("2024-01-01 10:00:00")) == 1L)
    assert(rows(ts("2024-01-01 13:00:00")) == 1L)
  }

  test("dropDuplicatesWithinWatermark collapses retried deliveries") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String)]
    val df = mem.toDF().toDF("event_id", "ts", "event_type")
    val q = Windows.dedupedEvents(df).writeStream
      .format("memory").queryName("dedup_t").outputMode("append")
      .start()
    mem.addData(Seq(
      (1L, ts("2024-01-01 10:00:00"), "click"),
      (1L, ts("2024-01-01 10:00:01"), "click"), // retry, same id
      (2L, ts("2024-01-01 10:05:00"), "view")))
    q.processAllAvailable()
    mem.addData(Seq((1L, ts("2024-01-01 10:10:00"), "click"))) // late retry
    q.processAllAvailable()
    q.stop()
    assert(spark.table("dedup_t").count() == 2)
  }

  test("stateful funnel emits click->purchase conversions with latency") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[FunnelEvent]
    val q = Windows.conversions(spark, mem.toDS()).writeStream
      .format("memory").queryName("funnel_t").outputMode("append")
      .start()
    mem.addData(Seq(
      FunnelEvent(1, "click", 1000), FunnelEvent(1, "view", 1500),
      FunnelEvent(2, "purchase", 900) /* no prior click */ ))
    q.processAllAvailable()
    mem.addData(Seq(FunnelEvent(1, "purchase", 5000),
      FunnelEvent(2, "click", 2000), FunnelEvent(2, "purchase", 2500)))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("funnel_t")
      .select("user_id", "latency_us").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 4000L), (2L, 500L)))
  }

  test("parquet serving store: latest batch wins per key, replay overwrites, prefix lookup") {
    import graft.streaming.{ParquetServingStore, ServingStore}
    val dir = graft.SparkEnv.scratchDir("pq-store")
    val store = new ParquetServingStore(spark, dir)
    store.merge(0, Seq(
      ServingStore.CounterRow("click/hour/2024-01-01-00", 5, 1.0),
      ServingStore.CounterRow("view/hour/2024-01-01-00", 2, 2.0)))
    // batch 1 re-emits the first key with an updated running total
    store.merge(1, Seq(
      ServingStore.CounterRow("click/hour/2024-01-01-00", 9, 3.0)))
    // a replay of batch 1 overwrites its own partition (no duplication)
    store.merge(1, Seq(
      ServingStore.CounterRow("click/hour/2024-01-01-00", 9, 3.0)))
    val snap = store.snapshot().map(r => r.key -> ((r.nEvents, r.sumValue))).toMap
    assert(snap.size == 2)
    assert(snap("click/hour/2024-01-01-00") == ((9L, 3.0)))
    assert(snap("view/hour/2024-01-01-00") == ((2L, 2.0)))
    val hits = store.lookup("click/").collect()
    assert(hits.length == 1 && hits.head.getString(0).startsWith("click/"))
  }

  test("serving store merge is idempotent under batch replay") {
    val store = new InMemoryServingStore
    val rows = Seq(
      graft.streaming.ServingStore.CounterRow("click/hour/2024-01-01-10", 5, 10.0))
    store.merge(0L, rows)
    store.merge(0L, rows) // replay
    assert(store.snapshot().size == 1)
    assert(store.snapshot().head.nEvents == 5)
  }

  test("streaming sources ingest directory-layout tables, not just single files") {
    // a real writer produces table/part-*.parquet directories; the old
    // pathGlobFilter idiom matched leaf names only and silently
    // ingested ZERO rows on that layout — pin the fix by streaming a
    // directory-layout documents table through the corpus gate
    import org.apache.spark.sql.functions._
    val root = SparkEnv.scratchDir("dir-layout-tbl")
    val docs = Tables.documents(spark, sf)
    docs.repartition(3).write.mode("overwrite").parquet(s"$root/documents.parquet")
    val batch = graft.streaming.CorpusGate
      .stageCounters(spark.read.parquet(s"$root/documents.parquet"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(batch("0_total") == docs.count(), batch.toString)
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", "4")
    val stream = s2.readStream.schema(docs.schema)
      .parquet(s"$root/documents.parquet")
    val q = graft.streaming.CorpusGate.stageCounters(stream)
      .writeStream.format("memory").queryName("dir_layout_gate")
      .outputMode("complete")
      .option("checkpointLocation", SparkEnv.scratchDir("dir-layout-ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = s2.table("dir_layout_gate")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed == batch, s"stream=$streamed batch=$batch")
  }

  test("JSON wire decode/encode round-trips events") {
    import spark.implicits._
    val events = Tables.events(spark, sf).limit(50)
    val wire = Ingest.encodeJson(events)
    val back = Ingest.decodeJson(wire.withColumnRenamed("payload", "payload"))
    val a = events.select("event_id", "ts", "user_id", "event_type", "value", "props")
      .collect().map(_.toSeq).toSet
    val b = back.select("event_id", "ts", "user_id", "event_type", "value", "props")
      .collect().map(_.toSeq).toSet
    assert(a == b)
  }
}
