package graft

import graft.streaming.{HttpServing, InMemoryServingStore, ServingStore}

/** HTTP serving layer: prefix listing and aggregate answers over a
  * live store, end-to-end through real sockets — including the full
  * pipeline form (stream → store → HTTP GET), the reference's
  * ingest-to-API round trip.
  */
class HttpServingSpec extends SparkSpec {

  private def httpGet(port: Int, path: String): String = {
    val url = java.net.URI.create(s"http://127.0.0.1:$port$path").toURL
    val conn = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
    try scala.io.Source.fromInputStream(conn.getInputStream, "UTF-8").mkString
    finally conn.disconnect()
  }

  test("prefix listing and aggregate answers over HTTP") {
    val store = new InMemoryServingStore
    store.merge(0L, Seq(
      ServingStore.CounterRow("click/hour/2024-01-01-10", 5L, 12.5),
      ServingStore.CounterRow("click/hour/2024-01-01-11", 7L, 1.0),
      ServingStore.CounterRow("view/hour/2024-01-01-10", 3L, 9.0)))
    val (server, port) = HttpServing.start(store)
    try {
      val listing = httpGet(port, "/stats/click/hour/")
      assert(listing ==
        """{"click/hour/2024-01-01-10": {"n_events": 5, "sum_value": 12.5}, """ +
          """"click/hour/2024-01-01-11": {"n_events": 7, "sum_value": 1}}""",
        listing)
      val agg = httpGet(port, "/stats/click/?agg=sum")
      assert(agg == """{"n_events": 12, "sum_value": 13.5, "n_keys": 2}""", agg)
      // empty prefix: list is empty, aggregate sums are null (the
      // same SQL semantics the DSv2 pushdown fix established)
      assert(httpGet(port, "/stats/zzz/") == "{}")
      assert(httpGet(port, "/stats/zzz/?agg=sum") ==
        """{"n_events": null, "sum_value": null, "n_keys": 0}""")
    } finally server.stop(0)
  }

  test("stream -> store -> HTTP GET round trip matches the batch rollup") {
    import org.apache.spark.sql.functions._
    val store = new InMemoryServingStore
    graft.streaming.Serving.runPipeline(spark, sf, store,
      SparkEnv.scratchDir("http-serve-ckpt"))
    val (server, port) = HttpServing.start(store)
    try {
      val agg = httpGet(port, "/stats/click/hour/?agg=sum")
      val expected = Tables.events(spark, sf)
        .filter(col("event_type") === "click")
        .agg(count(lit(1)).as("n")).collect()(0).getLong(0)
      assert(agg.contains(s""""n_events": $expected,"""), s"$agg vs $expected")
    } finally server.stop(0)
  }

  test("a group whose summed values are all null is served with a null sum") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val events = Seq[(String, String, Option[Double])](
      ("2024-01-01 10:05:00", "click", None), ("2024-01-01 10:40:00", "click", None),
      ("2024-01-01 11:00:00", "click", Some(4.5)))
      .toDF("ts", "event_type", "value").withColumn("ts", col("ts").cast("timestamp"))
    val hourly = graft.streaming.Serving.hourlyCounters(events)
    val sums = graft.streaming.Serving.toCounterRows(hourly).map(r => r.key -> r.sumValue).toMap
    assert(sums("click/hour/2024-01-01-10").isNaN && sums("click/hour/2024-01-01-11") == 4.5)
    val store = new InMemoryServingStore
    store.sinkBatch(graft.streaming.Serving.keyedCounters(hourly), 0L)
    val (server, port) = HttpServing.start(store)
    try {
      val listing = httpGet(port, "/stats/click/hour/")
      assert(listing ==
        """{"click/hour/2024-01-01-10": {"n_events": 2, "sum_value": null}, """ +
          """"click/hour/2024-01-01-11": {"n_events": 1, "sum_value": 4.5}}""",
        listing)
    } finally server.stop(0)
  }

  test("a failed read answers 500 with a request id and no exception text") {
    val store = new ServingStore {
      def merge(batchId: Long, rows: Seq[ServingStore.CounterRow]): Unit = ()
      def sinkBatch(keyed: org.apache.spark.sql.DataFrame, batchId: Long): Unit = ()
      def snapshot(): Seq[ServingStore.CounterRow] = Nil
      override def lookupRows(keyPrefix: String): Seq[ServingStore.CounterRow] =
        throw new java.nio.file.NoSuchFileException("/srv/store/batch_id=2/_SUCCESS")
    }
    val (server, port) = HttpServing.start(store)
    try {
      val conn = java.net.URI.create(s"http://127.0.0.1:$port/stats/click/").toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      val (status, body) =
        try (conn.getResponseCode,
          scala.io.Source.fromInputStream(conn.getErrorStream, "UTF-8").mkString)
        finally conn.disconnect()
      assert(status == 500)
      assert(body == """{"error": "internal error", "request_id": 1}""", body)
      assert(!body.contains("batch_id") && !body.contains("NoSuchFile"), body)
    } finally server.stop(0)
  }
}
