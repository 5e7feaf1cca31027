package perfbench

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession

import graft.streaming.{ParquetServingStore, Serving, ServingStore}

/** The counter-ingest workload: the three counter pipelines run to
  * completion over the seeded corpus, each into a fresh
  * `ParquetServingStore` and checkpoint. One round is hourly, account
  * and cube in that order; set-up runs one untimed round over a smaller
  * warm-up corpus to load and compile the code paths, and the timed
  * phase runs whole rounds.
  *
  * Every timed round's store is kept until [[finish]], which runs after
  * the phases with tracing off: it fingerprints each store and checks
  * it against the plain-`groupBy` reference of its key scheme, so no
  * check runs inside a measured (or traced) phase.
  */
final class IngestBench(spark: SparkSession, p: JsonNode, data: String, work: String)
    extends Main.Workload {
  private val events = Json.read(s"$data/manifest.json").get("events").asLong
  private val dropBatch = Option(p.get("drop_batch")).map(_.asLong).getOrElse(-1L)
  private val minRounds = p.get("min_rounds").asInt

  private type Runner = (SparkSession, String, ServingStore, String) => Unit
  private val pipelines: Seq[(String, Runner)] = Seq(
    "hourly" -> ((s, d, st, c) => Serving.runPipelineMetered(s, d, st, c)),
    "account" -> ((s, d, st, c) => Serving.runAccountPipelineMetered(s, d, st, c)),
    "cube" -> ((s, d, st, c) => Serving.runMultiGranularityCube(s, d, st, c)))

  private var roundNo = 0
  private var lastRoundDirs = Seq.empty[String]
  /** (round, pipeline, store) of every timed run, checked in [[finish]]. */
  private val kept = Vector.newBuilder[(Int, String, TimedStore)]

  /** One round; returns per-pipeline wall ms. */
  private def round(src: String = data): Seq[(String, Double)] = {
    roundNo += 1
    val runs = pipelines.map { case (name, run) =>
      val dir = s"$work/ingest/r$roundNo/$name"
      val store = new TimedStore(new ParquetServingStore(spark, s"$dir/store"), s"$dir/store",
        name, dropBatch)
      val t0 = System.nanoTime()
      Trace.span("pipeline.run", attrs = Map("pipeline" -> name, "round" -> roundNo)) {
        _ => run(spark, src, store, s"$dir/ckpt")
      }
      (name, Stats.ms(t0, System.nanoTime()), store, dir)
    }
    lastRoundDirs = runs.map(_._4)
    runs.foreach { case (name, _, store, _) => kept += ((roundNo, name, store)) }
    runs.map(r => r._1 -> r._2)
  }

  override def setup(): (Long, Long, Seq[String]) = {
    round(s"$data/warm")
    kept.clear()
    Stats.deleteDir(s"$work/ingest")
    (0L, 0L, Nil)
  }

  override def measure(seconds: Double): Main.Phase = {
    val walls = Vector.newBuilder[Seq[(String, Double)]]
    val t0 = System.nanoTime()
    var rounds = 0
    var measured = 0.0
    // whole rounds only; another one starts while it should end in time
    while (rounds < minRounds || measured * (rounds + 1) / rounds <= seconds * 1e3) {
      walls += round()
      rounds += 1
      measured = Stats.ms(t0, System.nanoTime())
    }
    val all = walls.result()
    val roundMs = all.map(_.map(_._2).sum)
    val perPipe = pipelines.map(_._1).map(n => n -> Stats.median(all.map(_.toMap.apply(n)))).toMap
    val storeBytes = lastRoundDirs.map(d => Stats.dirBytes(s"$d/store") + Stats.dirBytes(s"$d/ckpt")).sum
    val medRound = Stats.median(roundMs)
    Main.Phase(0L, 0L, Nil,
      Map("work_s" -> medRound / 1e3, "op_geomean_ms" -> Stats.geomean(perPipe.values.toSeq)),
      Map("rounds" -> rounds, "round_ms" -> roundMs, "events" -> events,
        "events_per_s" -> events * pipelines.size / (medRound / 1e3),
        "pipeline_median_ms" -> perPipe,
        "pipeline_events_per_s" -> perPipe.map { case (k, v) => k -> events / (v / 1e3) },
        "store_mb" -> storeBytes / 1e6))
  }

  /** Every pipeline run's store against its key scheme's reference. */
  override def finish(): (Long, Long, Seq[String]) = {
    val ev = Reference.events(spark, s"$data/events.parquet").cache()
    val want = try pipelines.map { case (name, _) =>
        name -> Reference.fingerprint(Reference.keyed(ev, name)) }.toMap
      finally ev.unpersist()
    val runs = kept.result()
    val errs = runs.flatMap { case (r, name, store) =>
      val got = Reference.storeFingerprint(store.inner)
      if (got == want(name)) None
      else Some(s"ingest round $r $name: store (rows, n, hash) $got, reference ${want(name)}")
    }
    Stats.deleteDir(s"$work/ingest")
    (runs.size.toLong, errs.size.toLong, errs)
  }
}
