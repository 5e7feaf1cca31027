package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (Array(sfDir, outDir), only) = (args.take(2), args.drop(2).toSet)
    // events.ts physical unit is driver-controlled (ns through round 5,
    // µs since); Tables.events branches on the footer-surfaced type and
    // always hands queries µs TimestampType (FixtureDriftSpec pins it).
    val spark = SparkEnv.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    Bench.warmCpu(spark)
    // Queries are independent single-output writes — run a few
    // concurrently (Spark schedules concurrent jobs fine; each query's
    // own stages still parallelize across all cores). Streaming-backed
    // queries manage their own checkpoints, so they are safe too.
    // A fatal error (OOM, stack overflow) is not caught below: it kills
    // its pool thread without completing the query's Future, so it ends
    // the run instead of leaving the Await below waiting forever.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4, (r: Runnable) => {
      val t = new Thread(r)
      t.setUncaughtExceptionHandler { (_, e) => e.printStackTrace(); sys.exit(1) }
      t
    })
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    // Optional trailing args restrict the dump to named queries — a dev
    // fast path for re-checking one query; the driver passes none.
    val selected = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.isEmpty || only(name) }
    val failed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val futures = selected.map { case (name, fn) =>
      scala.concurrent.Future {
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case NonFatal(e) =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          failed.add(name)
          // remove any STALE output from a previous run of a reused
          // out dir (round-15 review): leaving it in place would let
          // the DuckDB compare gate this round's broken query against
          // last round's parquet and report green
          SparkEnv.deleteDir(s"$outDir/$name")
        }
      }
    }
    scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(futures),
      scala.concurrent.duration.Duration.Inf)
    pool.shutdown()
    if (!failed.isEmpty)
      System.err.println(s"[verify] ${failed.size} quer(ies) FAILED — " +
        "no output written (the oracle compare will report them missing): " +
        String.join(", ", failed))
    // NB: no clearCache during the run — queries execute concurrently,
    // and clearing would thrash a sibling's in-flight persisted
    // relation. The persisted intermediates (candidate-pair scale) are
    // bounded and MEMORY_AND_DISK, so accumulation degrades to disk
    // rather than OOM; Bench, which runs serially, clears per query.
    spark.catalog.clearCache()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
