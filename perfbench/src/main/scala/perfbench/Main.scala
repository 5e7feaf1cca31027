package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession

/** One benchmark process: set up one workload, measure it for the
  * configured seconds with tracing off, and, in a traced run, measure
  * it again with tracing on. Everything it needs is in the config file
  * `run.py` writes; the result goes to `result.json` (and `trace.json`
  * in a traced run) in the work directory.
  *
  *   java ... perfbench.Main <work-dir>/config.json
  */
object Main {
  /** What a workload reports for one measured phase. */
  final case class Phase(attempted: Long, failed: Long, errors: Seq[String],
      metrics: Map[String, Double], extra: Map[String, Any])

  trait Workload {
    /** Untimed preparation; returns attempted/failed checks made. */
    def setup(): (Long, Long, Seq[String])
    def measure(seconds: Double): Phase
    /** Final checks after every phase (e.g. a full store read). */
    def finish(): (Long, Long, Seq[String]) = (0L, 0L, Nil)
    def close(): Unit = ()
  }

  private val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** Progress line in the harness log, stamped with seconds since JVM start. */
  def log(msg: String): Unit =
    println(f"[${(System.currentTimeMillis() - jvmStart) / 1e3}%7.2f s] $msg")

  def main(args: Array[String]): Unit = {
    val cfg = Json.read(args(0))
    val work = cfg.get("work").asText
    val traced = cfg.get("trace").asBoolean
    val b = graft.SparkEnv.builder()
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    if (traced) b.config("spark.sql.streaming.streamingQueryListeners",
      classOf[Trace.ProgressListener].getName)
    cfg.get("spark_conf").fields().asScala.foreach(e => b.config(e.getKey, e.getValue.asText))
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (traced) spark.sparkContext.addSparkListener(new Trace.JobStageListener)
    log("session up")
    val workload = build(cfg, spark)
    val seconds = cfg.get("seconds").asDouble
    var status = 0
    try {
      val (sa, sf, se) = workload.setup()
      val setupEnd = System.currentTimeMillis()
      log(s"setup done: $sa checks, $sf failed")
      val untraced = workload.measure(seconds)
      // listener events arrive asynchronously: drain them before each
      // switch so every event lands on its own side of it
      def drain(): Unit = org.apache.spark.GraftScratchBridge.waitListenerBusEmpty(spark.sparkContext)
      val tracedPhase = if (!traced) None else {
        drain()
        Trace.on = true
        val p = workload.measure(seconds)
        drain()
        Trace.on = false
        Some(p)
      }
      log("measured")
      val (fa, ff, fe) = workload.finish()
      val phases = untraced +: tracedPhase.toSeq
      val attempted = sa + fa + phases.map(_.attempted).sum
      val failed = sf + ff + phases.map(_.failed).sum
      Json.write(s"$work/result.json", Map(
        "setup_end_ms" -> setupEnd,
        "attempted" -> attempted, "failed" -> failed,
        "errors" -> (se ++ fe ++ phases.flatMap(_.errors)).take(20),
        "untraced" -> Map("metrics" -> untraced.metrics, "extra" -> untraced.extra),
        "traced" -> tracedPhase.map(p => Map("metrics" -> p.metrics, "extra" -> p.extra))))
      if (traced) {
        drain()
        Trace.dump(s"$work/trace.json", Map("workload" -> cfg.get("workload").asText))
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        status = 1
    } finally {
      workload.close()
      spark.stop()
    }
    System.exit(status)
  }

  private def build(cfg: JsonNode, spark: SparkSession): Workload = {
    val p = cfg.get("params")
    val seed = cfg.get("seed").asLong
    val data = cfg.get("data").asText
    val work = cfg.get("work").asText
    cfg.get("workload").asText match {
      case "suite" => new SuiteBench(spark, p, data, seed)
      case "ingest" => new IngestBench(spark, p, data, work)
      case "serve" => new ServeBench(spark, p, data, work, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
  }
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.floor.toInt
    val hi = pos.ceil.toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)
  def ms(t0: Long, t1: Long): Double = (t1 - t0) / 1e6

  /** Bytes under a directory tree (0 when absent). */
  def dirBytes(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val w = java.nio.file.Files.walk(p)
      try w.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.size(_)).sum
      finally w.close()
    }
  }

  def deleteDir(dir: String): Unit = {
    val p = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(p)) {
      val w = java.nio.file.Files.walk(p)
      try w.iterator().asScala.toSeq.sortBy(-_.getNameCount)
        .foreach(java.nio.file.Files.deleteIfExists(_))
      finally w.close()
    }
  }

  def fileCount(dir: String, suffix: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val w = java.nio.file.Files.walk(p)
      try w.iterator().asScala.count(_.getFileName.toString.endsWith(suffix)).toLong
      finally w.close()
    }
  }
}
