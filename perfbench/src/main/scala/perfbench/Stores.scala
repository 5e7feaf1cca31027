package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.{ParquetServingStore, ServingStore}

/** Delegating store the pipelines and the HTTP server are handed, so
  * the benchmark can time `sinkBatch` and `lookupRows` from outside.
  * `dropBatch` makes it silently lose one micro-batch, which the
  * self-test uses to show that the reference check catches a store that
  * misses data.
  */
final class TimedStore(val inner: ParquetServingStore, path: String, pipeline: String,
    dropBatch: Long = -1L) extends ServingStore {
  override def merge(batchId: Long, rows: Seq[ServingStore.CounterRow]): Unit =
    inner.merge(batchId, rows)

  override def sinkBatch(keyed: DataFrame, batchId: Long): Unit =
    // a dropped batch is still computed (the stream requires every
    // partition processed), just never written
    if (batchId == dropBatch) keyed.write.format("noop").mode("overwrite").save()
    else if (!Trace.on) inner.sinkBatch(keyed, batchId)
    else {
      val t0 = Trace.nowMs
      inner.sinkBatch(keyed, batchId)
      Trace.record("store.sinkBatch", t0, Trace.nowMs, attrs = Map("pipeline" -> pipeline,
        "batch" -> batchId, "files" -> Stats.fileCount(s"$path/batch_id=$batchId", ".parquet")))
    }

  override def snapshot(): Seq[ServingStore.CounterRow] = inner.snapshot()

  override def lookupRows(keyPrefix: String): Seq[ServingStore.CounterRow] =
    if (!Trace.on) inner.lookupRows(keyPrefix)
    else {
      val dirs = inner.batchDirCount
      Trace.span("store.lookupRows", attrs = Map("prefix" -> keyPrefix, "batch_dirs" -> dirs)) {
        _ => inner.lookupRows(keyPrefix)
      }
    }
}

/** Reference counters from a plain DataFrame `groupBy` over the
  * generated events, one per key scheme the pipelines serve. Uses no
  * `graft.streaming` code, only the key formats the store documents.
  */
object Reference {
  def events(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir).withColumn("ts", col("ts").cast("timestamp"))

  private def counters(ev: DataFrame, key: org.apache.spark.sql.Column): DataFrame =
    ev.groupBy(key.as("key"))
      .agg(count(lit(1)).as("nEvents"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sumValue"))

  private val grains = Seq("hour" -> "yyyy-MM-dd-HH", "day" -> "yyyy-MM-dd",
    "month" -> "yyyy-MM", "year" -> "yyyy")

  def keyed(ev: DataFrame, scheme: String): DataFrame = scheme match {
    case "hourly" =>
      counters(ev, concat_ws("/", col("event_type"), lit("hour"),
        date_format(col("ts"), "yyyy-MM-dd-HH")))
    case "account" =>
      counters(ev, concat_ws("/", lit("user"), col("user_id"), col("event_type"),
        lit("day"), date_format(col("ts"), "yyyy-MM-dd")))
    case "cube" =>
      grains.map { case (g, f) =>
        counters(ev, concat_ws("/", col("event_type"), lit(g), date_format(col("ts"), f)))
      }.reduce(_ unionByName _)
  }

  /** Order-independent content hash of a (key, nEvents, sumValue)
    * relation: row count, Σ nEvents and the XOR of per-row hashes.
    */
  def fingerprint(df: DataFrame): (Long, Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum(col("nEvents")), lit(0L)),
      coalesce(bit_xor(xxhash64(col("key"), col("nEvents"), col("sumValue"))), lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** The store's resolved contents, served rows only. */
  def storeFingerprint(store: ParquetServingStore): (Long, Long, Long) =
    fingerprint(store.latest().filter(col("nEvents") =!= 0))
}
