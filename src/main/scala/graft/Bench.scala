package graft
import org.apache.spark.sql.SparkSession
object Bench {
  /** The host ramps vCPU frequency under sustained load (~10× slower
    * cold — measured, see SparkEnv). A fixed-size all-core compute job
    * both warms the JIT/codegen paths and brings the CPU up to speed
    * before any query is timed.
    */
  def warmCpu(spark: SparkSession): Unit = {
    // NB: ANSI mode is on by default in Spark 4 — sum(id * id) over
    // this range overflows Long and throws; id % 97 keeps the sum small.
    spark.range(0, 4L * 1000 * 1000 * 1000, 1,
      Runtime.getRuntime.availableProcessors())
      .selectExpr("sum(id % 97)").collect()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // AQE stays ON (the library default): the round-9 full-suite A/B
    // (SPARK_GRAFT_AQE=false, 3-pass min, sf0.1) measured AQE-off as a
    // NET LOSS — sub-second scan/agg queries gain 10-14% (the
    // per-stage materialization barrier is pure fixed cost on KB-sized
    // shuffles: 12-query headline 6.48 -> 5.58 s), but the heavy
    // dedup/clustering family loses 30-60% without AQE's runtime
    // coalescing and broadcast re-plan (q_lsh_semantic_dedup 1.79 ->
    // 2.91 s, q_dedup_clusters 1.58 -> 2.66 s, q_rolling_dau 0.65 ->
    // 1.16 s), and the suite total regressed ~98 -> ~100 s. The env
    // knob stays for re-measuring either posture.
    val spark = SparkEnv.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm up before timing: first actions pay JVM JIT, codegen
    // compiler, parquet-reader class loading, and the host's CPU
    // frequency ramp — process-startup costs, not query costs.
    try {
      spark.range(1000).selectExpr("sum(id)").count()
      spark.read.parquet(s"$sfDir/region.parquet").count()
      warmCpu(spark)
    } catch {
      case e: Throwable => System.err.println(s"[bench] warm-up failed: $e")
    }
    // The host's vCPUs stall unpredictably (same query: 0.7 s or 29 s
    // across runs — measured; see SparkEnv scaladoc), and the round-5
    // driver artifact showed 3-8x inflation on untouched queries under
    // external load. THREE passes (round-5 verdict #5), interleaved
    // PASS-MAJOR — the full suite runs between two samples of the same
    // query, so a load spike shorter than a suite pass (~1 min) can
    // poison at most one of a query's samples, never all of them.
    // Per-query MIN is the throughput estimator (true cost on a noisy
    // machine); per-query MEDIAN is the robustness cross-check — a
    // min≈median query is trustworthy, min≪median means the machine
    // was loaded and round-over-round deltas should read the min.
    // (time, succeeded) per pass: a fast crash must not win the min —
    // only successful passes count; a query with zero successes is
    // reported as -1 and listed under "failed".
    val nPasses = sys.env.getOrElse("SPARK_GRAFT_PASSES", "3").toInt
    val passes = (1 to nPasses).map { _ =>
      SparkEntry.queries.map { case (name, fn) =>
        // Some query paths persist() intermediates; CacheManager keeps
        // those blocks until unpersist/clearCache and matches them by
        // sameResult, so without this a later query — and the whole
        // next pass — would silently read earlier caches and the
        // reported min would time cached data, not query cost.
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        // execute the DECLARED plan via toRdd: a bare .count() lets
        // Catalyst prune the query's own aggregates/projections/sorts
        // (measured: q_pricing_summary's decimal sums vanish entirely
        // under count — 0.5 s vs 1.7 s full), so it times a cheaper
        // plan than the one the oracle checks (measured by
        // tools/BenchCmp.scala (removed; last in 672d67d))
        val ok = try { fn(spark, sfDir).queryExecution.toRdd.count(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: $e"); false }
        name -> ((System.nanoTime() - t0) / 1e9, ok)
      }
    }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    val goodTimes = SparkEntry.queries.keys.map { name =>
      name -> passes.map(_(name)).collect { case (t, true) => t }
    }.toMap
    val results = goodTimes.map { case (name, good) =>
      name -> (if (good.nonEmpty) good.min else -1.0) }
    val medians = goodTimes.map { case (name, good) =>
      name -> (if (good.nonEmpty) median(good) else -1.0) }
    val failed = results.collect { case (k, v) if v < 0 => "\"" + k + "\"" }
    def jmap(m: Map[String, Double]) =
      m.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    val total = results.values.filter(_ >= 0).sum
    val totalMedian = medians.values.filter(_ >= 0).sum
    val fullJson = s"""{"metric":"total","value":$total,"unit":"sec","queries":${jmap(results)},"queries_median":${jmap(medians)},"total_median":$totalMedian,"sf":"$sfDir","passes":$nPasses,"agg":"per-query min (median cross-check)","action":"toRdd.count (full declared plan)","failed":${failed.mkString("[", ",", "]")}}"""
    println(fullJson)
    // The harness captures only the TAIL of stdout (~2000 chars): with
    // 100+ queries the single line above is long enough that its head —
    // the suite total — was truncated away in every prior round's
    // BENCH_r*.json, and the round-6 driver's per-query parse came back
    // null for the same reason. Persist the full JSON to a file and
    // print a SHORT line LAST that still carries (a) the suite total and
    // (b) the BASELINE.md headline-query subset, so the tail alone is a
    // self-contained, parseable artifact (round-4 verdict #8, round-6
    // ADVICE #2).
    //
    // The full-JSON file defaults to a scratch name (gitignored):
    // driver-side bench runs execute in this repo's cwd and a default of
    // BENCH_full.json made every driver run clobber the builder's
    // committed artifact (round-6 ADVICE #1). The builder opts in via
    // SPARK_GRAFT_BENCH_FULL=BENCH_full.json when refreshing the
    // committed copy.
    val queriesFile =
      try {
        val p = java.nio.file.Paths.get(
          sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL", "bench_full_latest.json")).toAbsolutePath
        java.nio.file.Files.write(p, (fullJson + "\n").getBytes("UTF-8"))
        s""","queries_file":"${p.toString}""""
      } catch { case _: Throwable => "" } // don't advertise a file that isn't there
    val headlineKeys = Seq("q_pricing_summary", "q_join_star", "q_topk_customers",
      "q_window_rank", "q_events_hourly", "q_events_distinct_users_daily",
      "q_json_extract", "q_docs_by_lang", "q_semi_join", "q_setop")
    def r3(v: Double) = math.rint(v * 1000) / 1000
    val headline = headlineKeys.flatMap(k => results.get(k).map(v => s"\"" + k + "\":" + r3(v)))
      .mkString("{", ",", "}")
    val headlineTotal = r3(headlineKeys.flatMap(results.get).filter(_ >= 0).sum)
    println(s"""{"metric":"total","value":$total,"unit":"sec","total_median":$totalMedian,"n_queries":${results.size},"headline_total":$headlineTotal,"queries":$headline,"sf":"$sfDir","passes":$nPasses,"agg":"per-query min (median cross-check)","action":"toRdd.count (full declared plan)","failed":${failed.mkString("[", ",", "]")}$queriesFile}""")
    spark.stop()
  }
}
