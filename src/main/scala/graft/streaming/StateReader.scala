package graft.streaming

import graft.SparkEnv
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** State-store introspection (SURVEY.md §2 I13, round 12): Spark 4's
  * `statestore` batch source reads a Structured Streaming checkpoint's
  * state as a plain DataFrame — the operational surface a streaming
  * deployment needs for state audits ("what keys is this job
  * carrying?"), debugging skew (rows per partition_id), and offline
  * state-vs-truth reconciliation, without touching the running query.
  *
  * The declared query `q_state_reader` runs a daily-counter streaming
  * aggregation to completion (AvailableNow, update mode, noop sink —
  * the STATE is the artifact; nothing else is materialized), then
  * reads the checkpoint back through the state source and gates the
  * decoded key/value structs against the batch oracle. That closes the
  * loop CORRECTNESS-wise on what the other streaming gates only imply:
  * the state store's contents — not just the sink's — equal the batch
  * aggregation of the same input (stream-batch state unification).
  *
  * Scale shape: the state source lists one store per shuffle
  * partition and scans them in parallel (partition_id == state
  * partition), so the read parallelizes like any columnar scan; at
  * 100 TB state this is the same path Spark's own state repartition
  * tooling uses. Grouping columns are pre-projected and NAMED before
  * the groupBy so the state key schema carries stable field names
  * (an inline expression would surface as `_groupingexpression`).
  */
object StateReader {

  private val ckptCache = new java.util.concurrent.ConcurrentHashMap[
    (String, String, String), String]()

  /** Run the per-(event_type, day) counter aggregation once and return
    * its checkpoint location. Build-once / probe-many like the ANN
    * index and component-label artifacts: a deployment materializes
    * the checkpoint by RUNNING the job; the state read is the
    * per-query cost. Cache key = everything that determines the
    * ARTIFACT — the corpus dir plus the two knobs frozen into a
    * checkpoint (state partition count, provider class) — rather than
    * the SparkSession object (round-13 review: a session key pins
    * every closed session for the JVM lifetime, and the built
    * checkpoint is in fact session-independent — any session can read
    * it; keying by the knobs also keeps a provider A/B from reusing the
    * other provider's store format).
    */
  def dailyCounterCheckpoint(s: SparkSession, d: String): String = {
    val key = (d, SparkEnv.stateParts,
      sys.props.get("graft.test.stateProvider")
        .orElse(sys.env.get("SPARK_GRAFT_STATE_PROVIDER")).getOrElse("default"))
    // latched, not memo (round-15 review): the build MINTS a scratch
    // dir and runs a full streaming job — racing losers would orphan
    // tmpfs checkpoints and duplicate the multi-second aggregation
    graft.Memo.latched(ckptCache, key)(buildCheckpoint(s, d))
  }

  private def buildCheckpoint(s: SparkSession, d: String): String = {
    val ckpt = SparkEnv.scratchDir("graft-state-reader-ckpt")
    // Isolated session: state-partition count is a checkpoint-frozen
    // physical property (the store count), sized like the other
    // streaming pipelines rather than inheriting the batch shuffle
    // width (the round-11 stateParts right-sizing).
    val s2 = SparkEnv.stateSession(s)
    val agg = Ingest.eventStream(s2, d)
      .select(col("event_type"), date_trunc("day", col("ts")).as("day"),
        col("value"))
      .groupBy("event_type", "day")
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).as("sum_value"))
    val q = agg.writeStream
      .outputMode("update")
      .format("noop")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    ckpt
  }

  /** Decode the daily-counter state rows: key struct fields are the
    * named grouping columns; the value struct is the aggregation
    * buffer (`count` for COUNT, `sum`/`isEmpty` for the DECIMAL SUM) —
    * buffer field names are Spark's aggregate-internal schema, stable
    * for count/sum and pinned by StateReaderSpec.
    */
  def readDailyCounters(s: SparkSession, ckpt: String): DataFrame =
    s.read.format("statestore").load(ckpt)
      .select(
        col("key.event_type").as("event_type"),
        col("key.day").as("day"),
        col("value.count").as("n_events"),
        col("value.sum").cast("double").as("sum_value"))
}
