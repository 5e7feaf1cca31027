package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Fixture table loaders (FIXTURES.md).
  *
  * Schemas come from the parquet footers (driver-generated,
  * deterministic); we deliberately do NOT re-declare StructTypes here —
  * the footer is authoritative and a drifted in-code schema would mask
  * errors. `TableSchemas` (test side) asserts the expected shape.
  *
  * Scale note: each fixture is a single parquet file, but nothing here
  * assumes that — `spark.read.parquet(dir)` handles a 100 TB
  * multi-file layout identically, and all downstream operators are
  * declarative DataFrame ops that let Catalyst push filters/pruning
  * into the scan.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Per-(session, path) memo of the loaded relation. Every
    * `spark.read.parquet` pays driver-side file listing + footer
    * schema inference (~60 ms here) — measured at 0.1–0.3 s of pure
    * fixed overhead per benchmark query (tools/PhaseProf, round 8
    * (removed; last in 672d67d)),
    * since a multi-table query re-lists every input. A real
    * deployment resolves tables through a catalog/metastore exactly
    * once; this memo is the library-local analog. Safe because the
    * fixture dirs are immutable (read-only testdata) and a DataFrame
    * is just an immutable logical plan; keyed by session so cloned
    * sessions (streaming state sizing) resolve against their own
    * config. LRU-bounded at 256 entries (round-8 review: an unbounded
    * map pins every session a long-lived JVM ever created — the sbt
    * test JVM makes dozens — for the process lifetime); an evicted
    * entry just re-lists on next use, and DataFrames already handed
    * out stay valid (immutable plans).
    */
  private val loaded =
    new java.util.LinkedHashMap[(SparkSession, String), DataFrame](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(SparkSession, String), DataFrame]): Boolean =
        size() > 256
    }

  /** Ingest-time layout compaction (round 10) — the engine's
    * OPTIMIZE/auto-compaction component, applied at the table loader.
    *
    * Spark parallelizes a parquet scan at ROW-GROUP granularity: a
    * byte-range split only yields rows if a row-group midpoint falls
    * inside it. The driver fixtures are written as ONE row group per
    * table, so every scan stage — including all the expression work
    * fused into it (decimal arithmetic, md5/shingling, regex) — ran
    * single-threaded on a 32-core host (measured: q_try_arith's only
    * data stage = 983 ms in 1 effective task). No declarative rewrite
    * can fix a layout problem; layout management is an ENGINE
    * component (Delta/Iceberg OPTIMIZE, Hive compaction), so the
    * loader rewrites fact tables once per source path into a
    * 16-way-parallel layout and serves every subsequent scan from it.
    * Build-once/probe-many, same discipline as BucketedTables / the
    * persisted ANN indexes / the format-export memo: the first load
    * pays the rewrite (visible in bench pass 1), every later scan
    * reads the compacted copy. Latched after the write succeeds,
    * under a monitor (round-10 memo rule).
    *
    * At 100 TB this is the standard small-files/row-group-sizing
    * story: ingest lands data in whatever shape the producer chose;
    * the table service compacts to scan-optimal file/row-group sizes
    * (~128 MB) so a 1000-executor scan gets 1000 splits. Locally the
    * same component heals the opposite pathology (too FEW splits).
    * Contents are identical by construction (a repartition writes the
    * same multiset; every gate compares sorted rows), schema comes
    * from the same footer, filters/pruning push into the compacted
    * scan exactly as before. Dimension-sized inputs (< 2 MB, the
    * measured CompactBytes default) are served as-is — a rewrite
    * there buys nothing.
    */
  private val compacted =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  // dev A/B overrides (TimeQuery-style harnesses measure a policy
  // without a code change); the defaults are the measured policy
  private val CompactBytes = sys.env.get("SPARK_GRAFT_COMPACT_MIN")
    .map(_.toLong).getOrElse(2L * 1024 * 1024)
  private val CompactSlices = sys.env.get("SPARK_GRAFT_COMPACT_SLICES")
    .map(_.toInt).getOrElse(16)

  private def compactIfFact(spark: SparkSession, path: String,
      df: DataFrame, force: Boolean): DataFrame = {
    val cached = compacted.get(path)
    if (cached != null) return spark.read.parquet(cached)
    val bytes =
      try {
        val hp = new org.apache.hadoop.fs.Path(path)
        val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.getContentSummary(hp).getLength
      } catch { case scala.util.control.NonFatal(_) => 0L }
    if (bytes < CompactBytes && !(force && bytes >= CompactBytes / 8)) df
    else {
      // per-path memo via Memo.latched (round-15 review: the
      // computeIfAbsent form ran the multi-second rewrite UNDER the
      // CHM bin lock — distinct paths sharing a bin serialized, and
      // the comment's "different paths compact in parallel" claim was
      // false; latched holds a per-key lock with the build outside
      // the map, the discipline Memo.scala documents)
      val dir = graft.Memo.latched(compacted, path) {
        val d = SparkEnv.scratchDir("graft-compact")
        df.repartition(CompactSlices).write.mode("overwrite").parquet(d)
        d
      }
      spark.read.parquet(dir)
    }
  }

  /** Bytes-on-disk decide compaction EXCEPT for `documents`: its scan
    * cost is per-row CPU (md5/shingle/regex over whole documents), not
    * decode bytes, so it compacts at 1/8 the byte threshold. The
    * numeric fact tables below the threshold (events at this sf) stay
    * single-file: their scan CPU is small and 16 tiny files cost more
    * in per-file opens than the parallel decode buys (measured:
    * events-family queries +0.2 s compacted, lineitem-family −0.3 s).
    */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val key = (spark, s"$sfDir/$name.parquet")
    val hit = loaded.synchronized(loaded.get(key))
    if (hit != null) hit
    else {
      // compute (and possibly run the compaction write job) OUTSIDE
      // the loaded lock — holding it here serialized every concurrent
      // first load behind one table's rewrite (advisor r10). Racing
      // loads of the SAME path still write once: compactIfFact's
      // per-path computeIfAbsent memo is the write-once guarantee.
      val df = compactIfFact(spark, key._2, spark.read.parquet(key._2),
        force = name == "documents")
      loaded.synchronized {
        val again = loaded.get(key)
        if (again != null) again else { loaded.put(key, df); df }
      }
    }
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")

  /** `events.ts` has flipped physical units across fixture generations
    * (timestamp[ns] through round 5, timestamp[us] since round 6), so
    * the loader is unit-aware instead of hard-coding either: read with
    * the plain reader and branch on the footer-derived type.
    *
    *  - timestamp[ns]: under the session's
    *    `spark.sql.legacy.parquet.nanosAsLong=true` config Spark
    *    surfaces the column as LongType (raw ns-since-epoch) → convert
    *    to µs TimestampType with exact integer division (`div` — no
    *    double round-trip, which would lose precision above 2^53 ns).
    *  - timestamp[us] (isAdjustedToUTC=false, so Spark infers
    *    TimestampNTZType): cast to TimestampType — exact under the
    *    session's pinned UTC timezone, and downstream queries keep
    *    seeing one stable type.
    *
    * Either way downstream queries see a µs-precision TimestampType
    * `ts`, and a future driver-side unit flip cannot silently collapse
    * the timeline again (FixtureDriftSpec pins the 2024 range too).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType => // ns data surfaced as raw long via nanosAsLong
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _: TimestampType => raw
      case _: TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case other =>
        throw new IllegalStateException(
          s"events.ts: unexpected parquet type $other (expected LongType [ns] or Timestamp(NTZ)Type [us])")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
