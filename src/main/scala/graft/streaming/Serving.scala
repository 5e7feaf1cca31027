package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

/** KV serving sink (SURVEY.md §2 A7, I10): the reference's Redis
  * HINCRBY store as a pluggable `ServingStore`, fed by foreachBatch
  * with *idempotent* merges keyed on batchId — an exactly-once upgrade
  * over the reference's at-least-once increments (a replayed batch
  * overwrites rather than double-counts).
  *
  * Keys follow the reference's account:metric:calendar-bucket scheme:
  * `event_type / granularity / bucket`. No Redis exists in this
  * environment (BASELINE.md); `InMemoryServingStore` backs tests and
  * `ParquetServingStore` is the durable, partitioned analog (bucket
  * columns = partition keys → the read path is partition pruning, the
  * same O(1)-per-key property the reference gets from Redis key
  * lookup). A real Redis adapter would implement the same trait with
  * pipelined HSET — deliberately left unwired (no external services in
  * declared queries).
  */
trait ServingStore {
  /** Merge one micro-batch of (key, n_events, sum_value) deltas.
    * MUST be idempotent per batchId (replays happen on recovery).
    */
  def merge(batchId: Long, rows: Seq[ServingStore.CounterRow]): Unit

  /** Executor-side sink for one keyed micro-batch (columns `key`,
    * `n_events`, `sum_value`): partitions write DIRECTLY from the
    * tasks — the driver coordinates but never materializes the rows.
    * Writes are per-key PUTs of running totals (HSET, not HINCRBY),
    * so task retries and batch replays are idempotent by
    * construction — the property that makes executor-side writes
    * safe without a commit protocol. [[merge]] remains for
    * driver-side callers (tests, DSv2 commit).
    */
  def sinkBatch(keyed: DataFrame, batchId: Long): Unit

  def snapshot(): Seq[ServingStore.CounterRow]

  /** Serving-read path for one key prefix (what [[HttpServing]]
    * routes). Default = filter the snapshot (fine for in-memory
    * stores); durable stores override with a pruned read of only the
    * partitions the prefix can match, so a point lookup never pays a
    * full-store read.
    */
  def lookupRows(keyPrefix: String): Seq[ServingStore.CounterRow] =
    snapshot().filter(_.key.startsWith(keyPrefix))
}

object ServingStore {
  case class CounterRow(key: String, nEvents: Long, sumValue: Double)

  /** A keyed row (`key`, `n_events`, `sum_value`) as a counter. A null
    * sum (every summed value in the group was null) reads as NaN, as
    * the parquet store reads it back, and [[HttpServing]] renders it
    * as JSON null.
    */
  def counterRow(r: Row): CounterRow =
    CounterRow(r.getString(0), r.getLong(1), if (r.isNullAt(2)) Double.NaN else r.getDouble(2))

  /** Streaming aggregate → upsert semantics: the latest value per key
    * wins (aggregation state already holds the running total, so the
    * sink REPLACES — HSET, not HINCRBY; that is what makes replays
    * idempotent).
    */
}

/** Test/serving stub: last-write-wins per key, replay-safe.
  *
  * [[sinkBatch]] writes from the EXECUTORS: each task partition
  * resolves the store through the static instance registry (the
  * local-mode stand-in for "open a client connection to the KV
  * endpoint" — a Redis impl would connect by address here) and PUTs
  * its rows directly; the closure captures only the store id string.
  * No row ever rides a collect back to the driver.
  */
final class InMemoryServingStore extends ServingStore {
  private val data = new ConcurrentHashMap[String, ServingStore.CounterRow]()
  private val seenBatches = ConcurrentHashMap.newKeySet[Long]()
  private val storeId: String = java.util.UUID.randomUUID().toString
  InMemoryServingStore.register(storeId, this)

  private[streaming] def put(r: ServingStore.CounterRow): Unit = data.put(r.key, r)

  override def merge(batchId: Long, rows: Seq[ServingStore.CounterRow]): Unit = {
    // replays of an already-applied batch are harmless (HSET semantics)
    seenBatches.add(batchId)
    rows.foreach(put)
  }

  override def sinkBatch(keyed: DataFrame, batchId: Long): Unit = {
    val id = storeId // capture the id, not `this` (not serializable)
    keyed.select("key", "n_events", "sum_value").foreachPartition {
      (it: Iterator[Row]) =>
        val store = InMemoryServingStore.instance(id)
        it.foreach(r => store.put(ServingStore.counterRow(r)))
    }
    seenBatches.add(batchId)
  }

  override def snapshot(): Seq[ServingStore.CounterRow] = data.values.asScala.toSeq
  def batchesSeen: Set[Long] = seenBatches.asScala.toSet
}

object InMemoryServingStore {
  // LRU-bounded like Tables.loaded (round-13 review): stores carry
  // DATA-sized counter maps, and an unbounded registry pins every
  // store a long-lived JVM (the sbt test JVM makes hundreds) ever
  // created. An evicted store only breaks executor-side lookups for a
  // stream that is still writing to it — 256 concurrently-live test
  // doubles is far past any real usage; a production KV store connects
  // by address and has no JVM registry at all.
  private val instances =
    new java.util.LinkedHashMap[String, InMemoryServingStore](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, InMemoryServingStore]): Boolean = {
        val evict = size() > 256
        // eviction is otherwise silent until an executor-side
        // instance() lookup throws mid-batch — log the store id so a
        // capacity-induced failure is diagnosable (round-14 advice)
        if (evict) org.slf4j.LoggerFactory
          .getLogger(classOf[InMemoryServingStore])
          .warn(s"InMemoryServingStore registry at capacity (256): " +
            s"evicting store '${e.getKey}'; a stream still writing to " +
            "it will fail its next executor-side instance() lookup")
        evict
      }
    }
  private[streaming] def register(id: String, s: InMemoryServingStore): Unit =
    instances.synchronized(instances.put(id, s))
  private[streaming] def instance(id: String): InMemoryServingStore =
    Option(instances.synchronized(instances.get(id))).getOrElse(
      throw new IllegalStateException(s"no serving store '$id' in this JVM"))
}

/** Durable analog: parquet laid out
  * `batch_id=<b>/gran=<g>/pday=<d>/part-*.parquet`.
  *
  * Replay-idempotent because a replayed batch overwrites exactly its
  * own `batch_id=` subtree; a key whose running total was re-emitted
  * by a later micro-batch (update mode re-emits on every change)
  * exists in several batches, so reads resolve each key to its LATEST
  * batch (max_by(batch_id) — one hash aggregate, no window sort).
  *
  * The gran/pday partition keys are DERIVED FROM THE KEY at write
  * time (`.../<granularity>/<bucket>` suffix — both the
  * `type/gran/bucket` and `user/id/type/gran/bucket` schemes): gran is
  * the granularity segment, pday the bucket's calendar DAY for
  * hour/day keys and `ALL` for month/year (tiny key spaces — a
  * partition dir per month would out-number its rows). Day-level dirs,
  * not bucket-level: at years-of-hourly-data scale a directory per
  * hour is the classic small-files/partition-explosion anti-pattern,
  * while day dirs stay bounded and each holds ≤ 24×|types| rows per
  * batch, with parquet min/max stats covering the final hour-level
  * skip inside the day.
  *
  * The payoff is the reference's O(1)-per-key read analog at all four
  * granularities: a key prefix pins gran/pday partitions
  * ([[ParquetServingStore.partitionsOf]]), so
  * `GET /stats/click/hour/2024-01-05-13` touches one day directory per
  * batch instead of the whole store. [[lookupRows]], the serving path,
  * answers from those directories' parquet files on the calling
  * thread — no Spark job, so a request neither pays job planning and
  * scheduling nor queues behind the writer's jobs. Each file is decoded
  * once into rows sorted by key and kept in a per-store LRU index
  * bounded to [[ParquetServingStore.IndexBudgetRows]] rows; a lookup
  * then binary-searches the prefix in every admitted file.
  * Index entries are keyed by (path, size, mtime) and committed store
  * files are immutable (a replay or compaction writes new
  * `part-<uuid>` files into a recreated or new dir), so an entry can
  * never answer for changed content; entries of dirs a listing no
  * longer returns are dropped when it is taken.
  *
  * The listing itself is cached under a COMMIT STAMP, the root file
  * `_stamp` holding a random token (a one-entry reduction of Delta
  * Lake's log-of-files commit, Armbrust et al., VLDB 2020). Every
  * write through this API replaces it once its content is committed:
  * [[sinkBatch]] and [[merge]] after the Spark write, [[compact]]
  * after its `_FOLDED` markers. [[lookupRows]] reads the stamp BEFORE
  * anything else and re-lists only when the token differs from the
  * one its cached listing was taken under (or there is no stamp), so
  * the listing it serves is never older than any write that finished
  * before the read started, and a warm read makes one file-system
  * call, the stamp read, plus the matching rows. Before replacing the
  * stamp, a writer decodes the new files in the partitions readers
  * have been reading, and after it, re-lists for this instance's
  * readers, so neither lands on a request. A writer that
  * bypasses this API (a hand-deleted `_FOLDED` marker, a copied-in
  * batch dir) is seen by [[lookupRows]] only after the next stamp;
  * the relational readers ([[lookup]], [[latest]], [[snapshot]])
  * always list directly. [[lookup]] is the same read as a
  * relational view (`PartitionFilters` in its plan, asserted by
  * ScaleSpec); ServingLookupSpec pins the two equal.
  */
final class ParquetServingStore(spark: SparkSession, path: String) extends ServingStore {
  import ParquetServingStore.GRANS

  private val root = Paths.get(path)

  /** key → (gran, pday) partition columns (see class doc). Unknown key
    * shapes land in gran=NONE/pday=ALL — stored fine, just unpruned.
    */
  private def withPartitionCols(keyed: DataFrame): DataFrame = {
    val segs = split(col("key"), "/")
    // size guard (round-13 review): a key with no '/' yields a
    // 1-element array and element_at(segs, -2) THROWS under Spark 4's
    // default ANSI mode instead of landing in the documented
    // gran=NONE fallback; CaseWhen short-circuits, so the guarded
    // branch never evaluates for short keys
    val gran = when(size(segs) >= 2, element_at(segs, -2))
    val bucket = element_at(segs, -1)
    keyed
      .withColumn("gran", when(gran.isin(GRANS: _*), gran).otherwise("NONE"))
      // hour keys partition by DAY (<= 24 x |types| rows per dir);
      // day keys by MONTH (round 12 - a dir per day-key day held
      // exactly |accounts x types| rows and the account cube paid ~30
      // commit ops per batch; month dirs stay bounded and ~30x fewer)
      .withColumn("pday", when(col("gran") === "hour", substring(bucket, 1, 10))
        .when(col("gran") === "day", substring(bucket, 1, 7))
        .otherwise("ALL"))
  }

  private def writeBatch(keyed: DataFrame, batchId: Long): Unit = {
    withPartitionCols(keyed)
      // co-locate each (gran, pday) dir on one task before the
      // partitioned write: without this every upstream task writes a
      // sliver into every day directory (8 state partitions × 31 day
      // dirs ≈ 250 small files PER BATCH — measured 0.5 s write
      // premium + 0.4 s read-back at sf0.1; round 8). One small
      // shuffle of the micro-batch beats a small-files store — the
      // same compaction trade every partitioned-sink pipeline makes.
      .repartition(col("gran"), col("pday"))
      .write.partitionBy("gran", "pday")
      .mode("overwrite").parquet(s"$path/batch_id=$batchId")
    publish(root.resolve(s"batch_id=$batchId").toString, fileIndex.dirs)
  }

  /** Publish the committed dir `dir` to [[lookupRows]]. First decode
    * into [[fileIndex]] its files in every `gran=`/`pday=` partition
    * that holds an indexed file of `readDirs`, i.e. where readers have
    * been reading; then replace `_stamp` with a fresh token (written
    * aside, then renamed over it, so a reader sees the old token or the
    * new one, never a partial file); then, if this instance has served
    * reads, take the new listing. Neither the decode nor the re-list
    * then falls on a request, and a store nobody reads pays for
    * neither.
    */
  private def publish(dir: String, readDirs: Set[String]): Unit = {
    import java.nio.file.StandardCopyOption.{ATOMIC_MOVE, REPLACE_EXISTING}
    def partition(f: Path) = f.getParent.getParent.getFileName -> f.getParent.getFileName
    val read = fileIndex.filesIn(readDirs).map(partition).toSet
    try if (read.nonEmpty) storeFiles(dir).filter(f => read(partition(f.path)))
      .foreach(f => fileIndex.rowsOf(f.dir, f.path, f.id))
    finally {
      val stamp = java.util.UUID.randomUUID.toString
      val tmp = root.resolve(s"${ParquetServingStore.StampFile}.tmp-$stamp")
      Files.writeString(tmp, stamp)
      Files.move(tmp, root.resolve(ParquetServingStore.StampFile), ATOMIC_MOVE, REPLACE_EXISTING)
      if (listed != null) relist(Some(stamp))
    }
  }

  /** The current stamp token; None for a store without one (empty, or
    * written by code older than the stamp).
    */
  private def readStamp(): Option[String] =
    try Some(Files.readString(root.resolve(ParquetServingStore.StampFile)))
    catch { case _: java.nio.file.NoSuchFileException => None }

  override def merge(batchId: Long, rows: Seq[ServingStore.CounterRow]): Unit = {
    import spark.implicits._
    if (rows.nonEmpty) writeBatch(rows.toDF(), batchId)
  }

  /** Executors write their partitions straight to the batch's parquet
    * directory — the natural distributed form of [[merge]] (which
    * exists for driver-side callers). Overwrite of exactly this
    * batch's partition keeps replays idempotent.
    */
  override def sinkBatch(keyed: DataFrame, batchId: Long): Unit =
    writeBatch(keyed.select(col("key"), col("n_events").as("nEvents"),
      col("sum_value").as("sumValue")), batchId)

  /** Latest-batch-wins view of the store (optionally pre-filtered with
    * partition predicates BEFORE the aggregate, so pruning happens at
    * the scan). The resolved relation is
    * `resolve(compacted base ∪ batch dirs)` with the base ranked
    * OLDER than every batch (batch_id = −1): the base holds each
    * key's value as of the batches folded into it, so any live batch
    * dir — including a recovery REPLAY of a batch that compaction
    * already folded — wins with content that is by construction at
    * least as new (the replayed batch rewrites exactly its original
    * rows). `beforeBatchId` restricts the BATCH side to ids strictly
    * below the bound — the pre-maintenance snapshot a read-modify-
    * write maintenance batch must derive from to stay replay-
    * idempotent ([[JoinView.applyDimChurn]]).
    */
  private def latestWhere(pred: Option[org.apache.spark.sql.Column],
      beforeBatchId: Option[Long] = None): DataFrame = {
    // read ONLY committed dirs (_SUCCESS present — round-13 review):
    // a reader racing a REPLAYED batch's delete-then-rewrite
    // previously saw a partially-renamed directory and resolved some
    // keys to half a batch; gating on the commit marker makes the
    // consistency unit a whole committed batch/base, with racing reads
    // falling back to the key's previous state (stale, never partial).
    val dirs = beforeBatchId.fold(committedBatchDirs)(bound =>
      committedBatchDirs.filter(d => batchIdOf(d) < bound))
    val baseDir = committedBaseDir.filter(hasParquet)
    // an empty store (nothing ever committed — e.g. empty source) has
    // no parquet footers to infer from; answer with the empty counter
    // relation instead of UNABLE_TO_INFER_SCHEMA
    if (dirs.isEmpty && baseDir.isEmpty) {
      import spark.implicits._
      return Seq.empty[ServingStore.CounterRow].toDF()
    }
    def prune(df: DataFrame) = pred.fold(df)(df.filter)
    val batchSide = if (dirs.isEmpty) None else Some(
      prune(spark.read.option("basePath", path).parquet(dirs: _*))
        .select(col("key"), col("nEvents"), col("sumValue"),
          col("batch_id").cast("long").as("batch_id")))
    val baseSide = baseDir.map(b =>
      prune(spark.read.option("basePath", b).parquet(b))
        .select(col("key"), col("nEvents"), col("sumValue"),
          lit(-1L).as("batch_id")))
    // single-snapshot fast paths (round 12): within one batch dir (or
    // the base alone) keys are unique by the sink/compaction contract,
    // so there is nothing to merge — skip the groupBy/max_by shuffle.
    // An AvailableNow replay (the declared q_stream_account_daily) is
    // exactly the one-batch case.
    (baseSide, batchSide) match {
      case (None, Some(b)) if dirs.length <= 1 =>
        b.select(col("key"), col("nEvents"), col("sumValue"))
      case (Some(b), None) =>
        b.select(col("key"), col("nEvents"), col("sumValue"))
      case _ =>
        (baseSide.toSeq ++ batchSide.toSeq).reduce(_ unionAll _)
          .groupBy("key")
          .agg(max_by(struct(col("nEvents"), col("sumValue")), col("batch_id")).as("v"))
          .select(col("key"), col("v.nEvents").as("nEvents"), col("v.sumValue").as("sumValue"))
    }
  }

  private def batchIdOf(dir: String): Long =
    dir.substring(dir.lastIndexOf("batch_id=") + "batch_id=".length).toLong

  /** False also for a dir deleted during the walk (a sweep or replay
    * racing the listing): it is absent, not an error.
    */
  private def hasParquet(dir: String): Boolean =
    try {
      val w = Files.walk(Paths.get(dir))
      try w.anyMatch(f => f.getFileName.toString.endsWith(".parquet"))
      finally w.close()
    } catch {
      case e: Exception if ParquetServingStore.vanished(e) => false
    }

  private def listRoot(prefix: String): Seq[String] =
    if (!Files.exists(root)) Seq.empty
    else ParquetServingStore.children(root, prefix)
      .filter(p => Files.exists(p.resolve("_SUCCESS"))).map(_.toString)

  /** Batch dirs that are COMMITTED (_SUCCESS marker — Spark's
    * job-commit protocol writes it last), non-empty (a zero-row
    * micro-batch commits a dir with a marker but no parquet footers,
    * which an explicit-dirs read cannot infer a schema from), and not
    * yet FOLDED into a base (a `.folded` marker is compaction's
    * deferred-deletion grace: the dir's content is already in the
    * base, so new reads skip it, while a reader holding an older
    * listing still finds its files on disk — see [[compact]]). The
    * marker is checked FIRST: a folded dir is what a concurrent sweep
    * deletes, so it is never walked.
    */
  private def committedBatchDirs: Seq[String] =
    listRoot("batch_id=").filterNot(isFolded).filter(hasParquet)

  private def isFolded(dir: String): Boolean =
    Files.exists(Paths.get(dir).resolve(ParquetServingStore.FoldedMarker))

  /** The highest committed `base_v<k>` dir — compaction's output
    * namespace, deliberately OUTSIDE the batch-id space so no stream
    * batch id (or its recovery replay) can ever collide with the
    * base (round-15 review). A base with a marker but no parquet is a
    * legitimately EMPTY committed base (everything tombstoned away).
    */
  private def committedBaseDir: Option[String] =
    listRoot("base_v").sortBy(baseVersionOf).lastOption

  private def baseVersionOf(dir: String): Int =
    dir.substring(dir.lastIndexOf("base_v") + "base_v".length).toInt

  def latest(): DataFrame = latestWhere(None)

  /** The resolved store as of batches strictly BEFORE `batchId` (the
    * base always included) — what a read-modify-write maintenance
    * batch reads so its own replay recomputes identical output
    * ([[JoinView.applyDimChurn]]'s idempotence).
    */
  def latestBefore(batchId: Long): DataFrame =
    latestWhere(None, beforeBatchId = Some(batchId))

  /** The reference's HTTP read path (`GET /:account/:type/:year...`)
    * as a relational view: the prefix's partitions
    * ([[ParquetServingStore.partitionsOf]]) become gran/pday partition
    * predicates — `StartsWith` on a partition column still prunes —
    * and the exact `key startsWith` filter applies within the surviving
    * directories. A prefix without a granularity segment (e.g.
    * `click/`) falls back to the unpruned scan, still pushed to
    * parquet row-group stats.
    */
  def lookup(keyPrefix: String): DataFrame = {
    val pred = ParquetServingStore.partitionsOf(keyPrefix).map { p =>
      val gran = col("gran") === p.gran
      if (p.pdayPrefix.isEmpty) gran else gran && col("pday").startsWith(p.pdayPrefix)
    }
    // n=0 TOMBSTONES (a maintenance retraction, see JoinView) read as
    // deleted on the SERVING path — a dashboard must not render a
    // retracted group as a zero-count row. latest() stays raw
    // (maintenance callers and compaction need to see tombstones).
    latestWhere(pred).filter(col("key").startsWith(keyPrefix))
      .filter(col("nEvents") =!= 0)
  }

  /** Serving-path rows for one prefix (the [[HttpServing]] contract),
    * read without Spark: the same committed dirs and partitions as
    * [[lookup]]; in each admitted `part-*.parquet` file the rows whose
    * key starts with the prefix are found by binary search in the
    * file's key-sorted rows ([[fileIndex]]: decoded whole on first use,
    * then kept), latest batch winning per key and n=0 tombstones
    * dropped. Sorted by key.
    *
    * The files come from the listing cached under the store's commit
    * stamp (see the class doc): the stamp is read first, and the store
    * is listed again only when the stamp changed or is missing.
    * Writers replace the stamp after their commit, so the order
    * stamp-read-then-list can only pair a token with a listing at
    * least as new as the writes it stands for.
    *
    * A compaction sweep or a batch replay can delete a dir between the
    * listing and the read; the read then lists again, once, whatever
    * the stamp says.
    */
  override def lookupRows(keyPrefix: String): Seq[ServingStore.CounterRow] = {
    val stamp = readStamp()
    val cached = listed
    val files =
      if (stamp.isDefined && cached != null && cached.stamp == stamp) cached.files
      else relist(stamp)
    try readPrefix(keyPrefix, files)
    catch {
      case e: Exception if ParquetServingStore.vanished(e) =>
        readPrefix(keyPrefix, relist(readStamp()))
    }
  }

  /** Sorted rows of the store files [[lookupRows]] has read. */
  private[graft] val fileIndex =
    new ParquetServingStore.SortedFileCache(ParquetServingStore.IndexBudgetRows)

  /** The listing [[lookupRows]] last took, with the stamp read before it. */
  @volatile private var listed: ParquetServingStore.Listing = _

  /** List every file of the committed base and live batch dirs (base
    * first, then batches in id order), cache it under `stamp`, and drop
    * the index entries of dirs it no longer returns (folded, swept or
    * superseded).
    */
  private def relist(stamp: Option[String]): Seq[ParquetServingStore.StoreFile] = {
    // batches are listed BEFORE the base, as in latestWhere: a compaction
    // between the two listings then yields its new base plus dominated
    // batch dirs (read identically), never an old base missing the
    // batches it just folded
    val batches = committedBatchDirs.sortBy(batchIdOf).map(storeFiles)
    val files = committedBaseDir.toSeq.flatMap(storeFiles) ++ batches.flatten
    fileIndex.retainDirs(files.map(_.dir).toSet)
    listed = ParquetServingStore.Listing(stamp, files)
    files
  }

  private def readPrefix(keyPrefix: String,
      files: Seq[ParquetServingStore.StoreFile]): Seq[ServingStore.CounterRow] = {
    val parts = ParquetServingStore.partitionsOf(keyPrefix)
    val latest = new java.util.HashMap[String, ServingStore.CounterRow]()
    // the base ranks below every batch and batches apply in id order, so
    // a plain overwrite leaves each key at its latest batch (max_by)
    for (f <- files if parts.forall(_.admits(f)))
      fileIndex.rowsOf(f.dir, f.path, f.id).foreachWithPrefix(keyPrefix)(r => latest.put(r.key, r))
    latest.values.asScala.filter(_.nEvents != 0).toSeq.sortBy(_.key)
  }

  /** The `part-*.parquet` files of one batch or base dir, with their
    * partition values and attributes; none for a dir that vanishes
    * during the walk (a sweep or replay racing the listing).
    */
  private def storeFiles(dir: String): Seq[ParquetServingStore.StoreFile] = {
    import ParquetServingStore.{children, StoreFile, SortedFileCache}
    def value(p: Path, key: String) = p.getFileName.toString.stripPrefix(key)
    try for {
      g <- children(Paths.get(dir), "gran=")
      d <- children(g, "pday=")
      f <- children(d, "part-") if f.getFileName.toString.endsWith(".parquet")
    } yield StoreFile(dir, value(g, "gran="),
      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .unescapePathName(value(d, "pday=")), f, SortedFileCache.FileId.of(f))
    catch { case e: Exception if ParquetServingStore.vanished(e) => Seq.empty }
  }

  private def hasData: Boolean =
    committedBatchDirs.nonEmpty || committedBaseDir.exists(hasParquet)

  override def snapshot(): Seq[ServingStore.CounterRow] = {
    import spark.implicits._
    if (!hasData) Seq.empty
    else latest().as[ServingStore.CounterRow].collect().toSeq
  }

  /** Compaction + retention (round 15, VERDICT r14 #3): a long-running
    * stream accumulates one `batch_id=` subtree per micro-batch
    * forever — the store grows without bound and every read's
    * latest-batch-wins merge pays the accumulated dir count (lookup
    * 0.27 s at 10 batches → 0.58 s at 200, SCALING.md §"Round-15:
    * serving-store compaction", measured by a tool last present at
    * commit 0549e1c). This folds all but the newest `retainBatches`
    * deltas (plus the current base) into the next VERSIONED BASE
    * `base_v<k+1>`,
    * holding each key's resolved value:
    *
    *  - the base lives OUTSIDE the batch-id namespace and reads as
    *    batch_id = −1 (round-15 review — writing the base AS a batch
    *    dir reused a live stream id, so a post-recovery replay of
    *    that batch could truncate the whole compacted history; now a
    *    replay only ever rewrites its own batch dir, whose replayed
    *    content wins over the base with values at least as new —
    *    replays stay idempotent even for already-folded batches);
    *  - keys whose resolved value is an n=0 TOMBSTONE (see
    *    [[JoinView.applyDimChurn]]) are dropped from the base
    *    entirely — safe because every surviving delta dir is NEWER
    *    than everything folded, so nothing older remains to resurrect
    *    the key (the pre-redesign swap could);
    *  - crash-safe by commit ordering, not atomicity: the new base
    *    commits first (_SUCCESS last, the discovery gate), and only
    *    then are the folded deltas and the old base removed. A crash
    *    between leaves DUPLICATE info — base_v<k+1> plus dominated
    *    dirs — which reads resolve identically (the dominated dirs'
    *    content is exactly what was folded) and a re-run converges;
    *    no window loses data or resurrects a retraction;
    *  - `retainBatches` keeps the most recent K STREAM deltas
    *    un-folded — sized to taste now that replay safety no longer
    *    depends on it (K > 0 trades read-side merge width for cheaper
    *    incremental compactions);
    *  - MAINTENANCE-space batches (id ≥ [[ParquetServingStore
    *    .MaintenanceIdBase]], e.g. [[JoinView.applyDimChurn]]) are
    *    NEVER folded unless `foldMaintenance = true` (round-15
    *    review): folding one breaks the invariant that everything in
    *    the base is older than any replay candidate — a stream-batch
    *    replay would resurrect tombstoned keys and revert churn, and
    *    the churn's own post-crash re-run would read its folded
    *    effects through `latestBefore` and double-apply. Pass true
    *    only once the maintenance epoch is FENCED: its completion
    *    durably recorded and the stream checkpoint committed past
    *    every older batch (or the stream decommissioned);
    *  - deletion is DEFERRED one cycle (round-15 review): folding
    *    stamps a `.folded` marker (new reads skip the dir; its files
    *    stay for readers holding an older listing), and the NEXT
    *    compact() sweeps previously-marked dirs, superseded bases,
    *    and dominated empty batch dirs — so a read racing the
    *    maintenance pass never hits a vanished file unless it spans
    *    a full compaction cycle (and [[lookupRows]] then lists again);
    *  - the fold reaches [[lookupRows]] through the commit stamp,
    *    replaced after the markers, once the new base's files are
    *    indexed in every partition where the old base or a folded batch
    *    had an indexed file (see `publish`); until then readers keep
    *    serving the old base and the folded dirs, still on disk.
    *
    * Single-writer discipline (documented, not enforced): one
    * maintenance writer at a time, like every base+delta store
    * without a table-format commit log (none ships in this
    * environment — BASELINE.md).
    */
  def compact(retainBatches: Int = 1, foldMaintenance: Boolean = false): Unit = {
    sweepSuperseded()
    val foldable = committedBatchDirs
      .filter(d => foldMaintenance ||
        batchIdOf(d) < ParquetServingStore.MaintenanceIdBase)
      .sortBy(batchIdOf)
    val toCompact = foldable.dropRight(math.max(0, retainBatches))
    val oldBase = committedBaseDir
    if (toCompact.isEmpty) return // nothing to fold (garbage swept above)
    val nextV = oldBase.map(baseVersionOf).getOrElse(0) + 1
    val deltas = spark.read.option("basePath", path).parquet(toCompact: _*)
      .select(col("key"), col("nEvents"), col("sumValue"),
        col("batch_id").cast("long").as("batch_id"))
    val withOld = oldBase.filter(hasParquet).map(b =>
      spark.read.option("basePath", b).parquet(b)
        .select(col("key"), col("nEvents"), col("sumValue"),
          lit(-1L).as("batch_id"))
        .unionAll(deltas)).getOrElse(deltas)
    val resolved = withOld
      .groupBy("key")
      .agg(max_by(struct(col("nEvents"), col("sumValue")), col("batch_id")).as("v"))
      .select(col("key"), col("v.nEvents").as("nEvents"),
        col("v.sumValue").as("sumValue"))
      .filter(col("nEvents") =!= 0) // resolved tombstones leave the store
    // commit the new base (write protocol puts _SUCCESS last — readers
    // ignore it until committed), THEN mark what it superseded; the
    // physical deletes happen on the next cycle's sweep
    withPartitionCols(resolved)
      .repartition(col("gran"), col("pday"))
      .write.partitionBy("gran", "pday")
      .mode("overwrite").parquet(s"$path/base_v$nextV")
    toCompact.foreach(d => Files.createFile(
      Paths.get(d).resolve(ParquetServingStore.FoldedMarker)))
    publish(root.resolve(s"base_v$nextV").toString, (oldBase.toSeq ++ toCompact).toSet)
  }

  /** The deferred-deletion sweep (see [[compact]]): remove batch dirs
    * folded in a PREVIOUS cycle, base versions superseded before this
    * cycle's fold, and committed-empty batch dirs dominated by a
    * newer batch (idle triggers write _SUCCESS-only dirs that are
    * never foldable and would otherwise accumulate forever —
    * round-15 review). Runs first in every compact() call, so a
    * crash between fold and sweep converges on the next maintenance
    * pass even if nothing new is foldable.
    */
  private def sweepSuperseded(): Unit = {
    listRoot("batch_id=").filter(isFolded).foreach(graft.SparkEnv.deleteDir)
    committedBaseDir.map(baseVersionOf).foreach(cur =>
      listRoot("base_v").filter(baseVersionOf(_) < cur)
        .foreach(graft.SparkEnv.deleteDir))
    val all = listRoot("batch_id=")
    if (all.nonEmpty) {
      val maxId = all.map(batchIdOf).max
      all.filterNot(hasParquet).filter(batchIdOf(_) < maxId)
        .foreach(graft.SparkEnv.deleteDir)
    }
  }

  /** Accumulated committed-batch count — the compaction trigger a
    * deployment's maintenance cadence watches.
    */
  def batchDirCount: Int = committedBatchDirs.size
}

object ParquetServingStore {
  private[streaming] val GRANS = Seq("hour", "day", "month", "year")

  /** Batch ids at or above this are MAINTENANCE-space (read-modify-
    * write batches like [[JoinView.applyDimChurn]]) — above any id a
    * stream incrementing one per micro-batch can reach, and excluded
    * from [[ParquetServingStore.compact]]'s fold unless explicitly
    * fenced (see its scaladoc).
    */
  val MaintenanceIdBase: Long = 1L << 62

  private[streaming] val FoldedMarker = "_FOLDED"

  /** The commit stamp's file name in the store root (see the class doc);
    * the leading `_` hides it from Spark's and the store's listings.
    */
  private[graft] val StampFile = "_stamp"

  /** The partition dirs a key prefix can match: `gran=<gran>` and the
    * `pday=` values starting with `pdayPrefix` ("" admits every pday).
    */
  private[streaming] final case class Partitions(gran: String, pdayPrefix: String) {
    def admits(f: StoreFile): Boolean = f.gran == gran && f.pday.startsWith(pdayPrefix)
  }

  /** One `part-*.parquet` file of a store dir: its partition values
    * (`pday` unescaped) and the identity its index entry is keyed by.
    */
  private[streaming] final case class StoreFile(dir: String, gran: String, pday: String,
      path: Path, id: SortedFileCache.FileId)

  /** The store's files as listed after reading the stamp token `stamp`
    * (None: the store had no stamp).
    */
  private[streaming] final case class Listing(stamp: Option[String], files: Seq[StoreFile])

  /** Prefix → partitions, the ONE pruning decision both [[lookup]] and
    * [[lookupRows]] use: the prefix's first granularity segment pins
    * `gran=`, and the (possibly partial) bucket after it constrains
    * `pday` for hour keys (pday = the bucket's day) and day keys (its
    * month); month/year keys all live in `pday=ALL`. None when the
    * prefix has no granularity segment — every partition is read.
    */
  private[streaming] def partitionsOf(keyPrefix: String): Option[Partitions] = {
    val segs = keyPrefix.split("/", -1).toSeq
    segs.zipWithIndex.collectFirst {
      case (g, i) if GRANS.contains(g) =>
        val bucketPrefix = segs.drop(i + 1).mkString("/")
        Partitions(g, g match {
          case "hour" => bucketPrefix.take(10)
          case "day" => bucketPrefix.take(7)
          case _ => ""
        })
    }
  }

  /** Entries of `dir` whose names start with `prefix`, sorted. */
  private def children(dir: Path, prefix: String): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.filter(_.getFileName.toString.startsWith(prefix))
      .toSeq.sorted
    finally s.close()
  }

  /** Every row of one store file, sorted by key. */
  private[graft] def decodeSorted(file: Path): SortedRows = {
    import org.apache.parquet.example.data.Group
    val reader = new org.apache.parquet.hadoop.ParquetReader.Builder[Group](
        new org.apache.parquet.io.LocalInputFile(file),
        new org.apache.parquet.conf.PlainParquetConfiguration()) {
      override protected def getReadSupport =
        new org.apache.parquet.hadoop.example.GroupReadSupport
    }.build()
    val rows =
      try Iterator.continually(reader.read()).takeWhile(_ != null).map { g =>
        // a null sum (every summed value was null) reads as NaN, which
        // HttpServing renders as JSON null
        ServingStore.CounterRow(g.getString("key", 0), g.getLong("nEvents", 0),
          if (g.getFieldRepetitionCount("sumValue") == 0) Double.NaN
          else g.getDouble("sumValue", 0))
      }.toArray
      finally reader.close()
    SortedRows(rows)
  }

  /** One store file's rows as parallel arrays sorted by key. */
  private[graft] final class SortedRows private (keys: Array[String],
      nEvents: Array[Long], sumValues: Array[Double]) {
    def size: Int = keys.length

    /** Feed `f` every row whose key starts with `prefix`, in key order.
      * Those keys are one contiguous run starting at the first key not
      * below `prefix`.
      */
    def foreachWithPrefix(prefix: String)(f: ServingStore.CounterRow => Unit): Unit = {
      var i = scala.collection.immutable.ArraySeq.unsafeWrapArray(keys)
        .search(prefix).insertionPoint
      while (i < keys.length && keys(i).startsWith(prefix)) {
        f(ServingStore.CounterRow(keys(i), nEvents(i), sumValues(i)))
        i += 1
      }
    }
  }

  private[graft] object SortedRows {
    def apply(rows: Array[ServingStore.CounterRow]): SortedRows = {
      val sorted = rows.sortBy(_.key)
      new SortedRows(sorted.map(_.key), sorted.map(_.nEvents), sorted.map(_.sumValue))
    }
  }

  /** Row budget of one store's [[SortedFileCache]]: about 50 MB of heap
    * at ~100 bytes a cached row (a 30-character key, its counters and
    * the array slots).
    */
  private[streaming] val IndexBudgetRows: Int = 500000

  /** Key-sorted rows of immutable store files, LRU-bounded to
    * `budgetRows` rows in total. An entry is keyed by the file's path,
    * size and mtime, and a committed store file is never rewritten in
    * place: a replay or a compaction writes new `part-<uuid>` files
    * into a recreated or new dir. So an entry cannot go stale; at worst
    * it stays unused until LRU eviction or [[retainDirs]] drops it.
    *
    * Files decode outside the lock (two readers that miss the same file
    * both decode it); only the map updates hold it. A file with more
    * rows than the budget is decoded for each read and never kept.
    */
  private[graft] final class SortedFileCache(budgetRows: Int,
      decode: Path => SortedRows = decodeSorted) {
    import SortedFileCache.{Entry, FileId}

    // access-ordered: iteration starts at the least recently used entry
    private val entries = new java.util.LinkedHashMap[FileId, Entry](16, 0.75f, true)
    private var cachedRows = 0L
    private val decodeCount = new java.util.concurrent.atomic.AtomicLong(0)

    /** The sorted rows of `file`, a file inside the store dir `dir`
      * whose identity `id` was taken when it was listed.
      */
    def rowsOf(dir: String, file: Path, id: FileId): SortedRows =
      Option(synchronized(entries.get(id))).map(_.rows).getOrElse {
        decodeCount.incrementAndGet()
        val decoded = decode(file)
        if (decoded.size <= budgetRows) synchronized {
          Option(entries.put(id, Entry(dir, decoded))).foreach(old => cachedRows -= old.rows.size)
          cachedRows += decoded.size
          val lru = entries.values.iterator
          while (cachedRows > budgetRows) {
            cachedRows -= lru.next().rows.size
            lru.remove()
          }
        }
        decoded
      }

    /** Drop every entry whose dir is not in `live`. */
    def retainDirs(live: Set[String]): Unit = synchronized {
      val it = entries.values.iterator
      while (it.hasNext) {
        val e = it.next()
        if (!live(e.dir)) { cachedRows -= e.rows.size; it.remove() }
      }
    }

    def rows: Long = synchronized(cachedRows)

    /** Cached files, least recently used first. */
    def files: Seq[String] = synchronized(entries.keySet.asScala.toList.map(_.path))

    def dirs: Set[String] = synchronized(entries.values.asScala.map(_.dir).toSet)

    /** Cached files of the store dirs in `dirs`. */
    def filesIn(dirs: Set[String]): Seq[Path] = synchronized(entries.asScala.collect {
      case (id, e) if dirs(e.dir) => Paths.get(id.path)
    }.toList)

    /** Files decoded so far, kept or not. */
    def decodes: Long = decodeCount.get
  }

  private[graft] object SortedFileCache {
    final case class FileId(path: String, size: Long, mtime: java.nio.file.attribute.FileTime)
    object FileId {
      def of(file: Path): FileId = {
        val attrs = Files.readAttributes(file,
          classOf[java.nio.file.attribute.BasicFileAttributes])
        FileId(file.toString, attrs.size, attrs.lastModifiedTime)
      }
    }
    final case class Entry(dir: String, rows: SortedRows)
  }

  /** True when `e` (or a cause) is a file or dir that disappeared. */
  private[streaming] def vanished(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists {
      case _: java.nio.file.NoSuchFileException | _: java.io.FileNotFoundException => true
      case _ => false
    }
}

object Serving {
  /** The reference's ingest loop end-to-end: aggregate a (streaming)
    * event frame into hourly per-type counters and upsert each
    * micro-batch into the store. Works identically on a batch frame
    * (stream-batch unification).
    */
  /** Grouping on window(ts) rather than date_trunc(ts) matters in
    * continuous operation: watermark-driven state eviction requires a
    * grouping expression that carries event-time metadata, which
    * window() preserves and a derived date_trunc column does not.
    * window.start is value-identical to date_trunc('hour', ts).
    */
  def hourlyCounters(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("w.start").as("bucket"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** (bucket, event_type, n_events, sum_value) → the store's keyed
    * schema (`key`, `n_events`, `sum_value`), keys per the reference's
    * `type/granularity/bucket` scheme.
    */
  def keyedCounters(batch: DataFrame): DataFrame =
    batch.select(
      concat_ws("/", col("event_type"), lit("hour"),
        date_format(col("bucket"), "yyyy-MM-dd-HH")).as("key"),
      col("n_events"), col("sum_value"))

  /** Driver-side materialization of [[keyedCounters]] — test helper;
    * the streaming sinks go through [[ServingStore.sinkBatch]] and
    * never collect.
    */
  def toCounterRows(batch: DataFrame): Seq[ServingStore.CounterRow] =
    keyedCounters(batch)
      .collect().toSeq.map(ServingStore.counterRow)

  /** Streaming state-partition sizing: a stateful aggregation's state
    * store count is fixed by `spark.sql.shuffle.partitions` at first
    * checkpoint, and each partition pays store open/commit per
    * micro-batch. The rollup state here is tiny (≤ a few thousand
    * keys), so default-core-count partitions are pure overhead — run
    * the stream on a cloned session with a right-sized setting. On a
    * real cluster this is the same knob, sized to state volume instead.
    */
  private[streaming] def stateSession(spark: SparkSession,
      rocksdb: Boolean = false): SparkSession =
    graft.SparkEnv.stateSession(spark, rocksdb) // round 13: centralized

  /** Run the full streaming pipeline to completion (AvailableNow) and
    * return the store contents. The sink is executor-side
    * ([[ServingStore.sinkBatch]]): tasks PUT their partitions straight
    * into the store — no driver collect, so key-cardinality growth
    * never bottlenecks on the driver.
    */
  def runPipeline(spark: SparkSession, sfDir: String, store: ServingStore,
      checkpoint: String): ServingStore =
    runPipelineMetered(spark, sfDir, store, checkpoint)._1

  /** Same pipeline, returning the per-batch [[StreamMetrics]] the
    * operator watches (rows/s, state rows, watermark lag) alongside
    * the store — the runner contract every long-running deployment
    * wants (StreamMetricsSpec asserts the state-operator metrics).
    */
  def runPipelineMetered(spark: SparkSession, sfDir: String, store: ServingStore,
      checkpoint: String): (ServingStore, Seq[StreamMetrics.BatchMetrics]) = {
    val s2 = stateSession(spark)
    // Skip the trailing watermark-advance no-data micro-batch
    // (round-15 optimization, the q_stream_stream_join_wm discipline):
    // in UPDATE mode every state change is emitted by the data batch
    // that caused it, and watermark eviction emits nothing — the
    // no-data batch's only work here is evicting state the
    // run-to-completion stream discards at stop anyway, at the full
    // per-batch fixed cost (state-store open/commit + two WAL fsyncs,
    // ~0.4 s measured — tools/NoDataBatchProbe). Store contents are
    // identical by construction. The skip is tied to THIS runner's
    // run-to-completion AvailableNow trigger; a CONTINUOUS deployment
    // reusing the pipeline wants prompt eviction between sparse data
    // batches back, so the production-named conf below re-enables it
    // without a code change (advisor r15 #2 — previously the only
    // override was a test-namespaced sys prop, which hid that this is
    // the production knob; the prop remains the probe's dev hook).
    s2.conf.set("spark.sql.streaming.noDataMicroBatches.enabled",
      (s2.conf.getOption("spark.graft.streaming.noDataBatches")
        .orElse(sys.env.get("SPARK_GRAFT_NO_DATA_BATCHES"))
        .orElse(sys.props.get("graft.test.noDataBatches")))
        .contains("true").toString)
    val agg = hourlyCounters(Ingest.eventStream(s2, sfDir))
    val q = agg.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        store.sinkBatch(keyedCounters(batch), batchId)
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    (store, StreamMetrics.history(q))
  }

  /** Account-scoped daily counters — the reference's full key scheme
    * (`account:metric:calendar-bucket`; so far the other pipelines
    * keyed only metric×bucket): keys are
    * `user/{user_id}/{event_type}/day/{bucket}`. The state and the
    * serving key space scale with accounts × metrics × days — the
    * realistic dimensioning of a per-tenant counter service, and the
    * reason the sink writes executor-side (a driver collect would
    * bottleneck exactly here as tenants grow).
    */
  def accountDailyCounters(events: DataFrame): DataFrame =
    events
      // NO watermark, deliberately (round 12) — the same reasoning as
      // multiGranularityCounters: this is an upsert SERVING cube, so a
      // late event must UPDATE the day's counter, not re-open an
      // evicted window as a fresh partial count that would overwrite
      // the store's correct total (the silent-wrong failure mode a
      // 1-hour watermark had here). State is bounded by the key space
      // (accounts × metrics × days in data range — the same working
      // set the reference keeps in Redis forever); a deployment that
      // wants bounded-lateness eviction uses hourlyCounters'
      // watermarked shape. Mechanically this also removes the
      // watermark-advance no-data micro-batch, ~0.5 s of the measured
      // replay (batch 1, 0 rows, 514 ms warm; SCALING.md round 12). The
      // per-batch phases are printed by `perfbench/run.py --workload
      // ingest --trace 1` followed by `perfbench/census.py`.
      //
      // date_trunc, not window(): with no watermark the window()
      // struct had no eviction role left, and a calendar day is a
      // derived column exactly as in multiGranularityCounters — the
      // state key drops the redundant (start, end) pair, narrowing
      // every state row and every update-mode emission this
      // data-sized cube shuffles (state = accounts × metrics × days).
      .groupBy(date_trunc("day", col("ts")).as("bucket"), col("user_id"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("bucket"), col("user_id"), col("event_type"),
        col("n_events"), col("sum_value"))

  def keyedAccountCounters(batch: DataFrame): DataFrame =
    batch.select(
      concat_ws("/", lit("user"), col("user_id"), col("event_type"),
        lit("day"), date_format(col("bucket"), "yyyy-MM-dd")).as("key"),
      col("n_events"), col("sum_value"))

  def runAccountPipeline(spark: SparkSession, sfDir: String, store: ServingStore,
      checkpoint: String): ServingStore =
    runAccountPipelineMetered(spark, sfDir, store, checkpoint)._1

  /** [[runAccountPipeline]] + per-batch metrics (see
    * [[runPipelineMetered]]): the account cube's state cardinality is
    * accounts × metrics × days, exactly the surface whose
    * numRowsTotal an operator must watch.
    */
  def runAccountPipelineMetered(spark: SparkSession, sfDir: String,
      store: ServingStore, checkpoint: String)
      : (ServingStore, Seq[StreamMetrics.BatchMetrics]) = {
    val agg = accountDailyCounters(Ingest.eventStream(stateSession(spark), sfDir))
    val q = agg.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        store.sinkBatch(keyedAccountCounters(batch), batchId)
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    (store, StreamMetrics.history(q))
  }

  /** The reference's eager time-cube as ONE streaming aggregation:
    * each event explodes into its four (granularity, bucket) pairs
    * *before* the groupBy, so all four calendar rollups share a single
    * shuffle and a single state store keyed (granularity, bucket,
    * event_type). At scale this beats four independent queries: one
    * source scan, one consistent batch per trigger.
    *
    * State-retention caveat (deliberate): calendar buckets are derived
    * columns, so watermark-driven eviction does not apply — and cannot
    * in principle for month/year keys (calendar months are not
    * fixed-duration windows). No withWatermark here: grouping on
    * derived columns strips event-time metadata, so a watermark would
    * neither evict state nor drop late rows — an inert call that only
    * misleads. State is bounded by the key space instead:
    * granularities × event types × buckets-in-data-range, i.e.
    * thousands of rows, the same working set the reference keeps in
    * Redis forever. For hour-only continuous pipelines with true
    * eviction use hourlyCounters (window()-keyed); for TTL'd custom
    * state see RunningCountProcessor (transformWithState).
    */
  def multiGranularityCounters(events: DataFrame): DataFrame = {
    val buckets = explode(array(Seq("hour", "day", "month", "year").map(g =>
      struct(lit(g).as("gran"), date_trunc(g, col("ts")).as("bucket"))): _*))
    events
      .select(col("ts"), col("event_type"), col("value"), buckets.as("gb"))
      .groupBy(col("gb.gran").as("gran"), col("gb.bucket").as("bucket"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
  }

  /** Run the single-state multi-granularity pipeline to completion and
    * return the store (same foreachBatch upsert contract as
    * runPipeline; keys are granularity-prefixed like the reference's).
    */
  def runMultiGranularityCube(spark: SparkSession, sfDir: String,
      store: ServingStore, checkpoint: String): ServingStore = {
    val fmts = Map("hour" -> "yyyy-MM-dd-HH", "day" -> "yyyy-MM-dd",
      "month" -> "yyyy-MM", "year" -> "yyyy")
    val fmtCol = coalesce(fmts.toSeq.map { case (g, f) =>
      when(col("gran") === g, date_format(col("bucket"), f))
    }: _*)
    val agg = multiGranularityCounters(
      Ingest.eventStream(stateSession(spark), sfDir))
    val q = agg.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        store.sinkBatch(batch.select(
          concat_ws("/", col("event_type"), col("gran"), fmtCol).as("key"),
          col("n_events"), col("sum_value")), batchId)
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    store
  }
}
