package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import scala.jdk.CollectionConverters._

import graft.streaming.{ParquetServingStore, ServingStore}

/** The serving read `ParquetServingStore.lookupRows` (a direct parquet
  * read, no Spark job) against the relational `lookup` it must equal,
  * over every store shape compaction, replay and maintenance produce,
  * and under a concurrent writer whose compaction sweeps delete dirs
  * while reads list them; and the store's index of sorted file rows
  * (`SortedFileCache`) on its own: warm across replays and compactions,
  * rid of dirs they retire, and within its row budget; and the commit
  * stamp: a cached listing still answers another instance's writes, a
  * store without a stamp lists on every read, and writers index their
  * files where reads went before publishing them.
  */
class ServingLookupSpec extends SparkSpec {
  import ServingStore.CounterRow
  import ParquetServingStore.SortedFileCache.FileId

  private def row(k: String, n: Long, v: Double) = CounterRow(k, n, v)

  private val prefixes = Seq(
    "click/hour/2024-01-05-13", "click/hour/2024-01-05", "click/hour/",
    "click/day/2024-01-05", "click/day/2024-01", "click/month/2024-01",
    "click/year/2024", "user/7/", "user/7/click/day/2024-01", "user/7",
    "click/day", "click/", "misc", "", "nope/")

  /** lookupRows(p) equals lookup(p).collect() as sets, with no key twice;
    * returns how many prefixes answered non-empty.
    */
  private def assertSameAsLookup(store: ParquetServingStore): Int = {
    import spark.implicits._
    prefixes.count { p =>
      val want = store.lookup(p).as[CounterRow].collect().toSet
      val got = store.lookupRows(p)
      assert(got.toSet == want, s"prefix '$p'")
      assert(got.map(_.key).distinct.size == got.size, s"prefix '$p': a key twice")
      got.nonEmpty
    }
  }

  test("lookupRows equals lookup on an empty store and on a compacted " +
      "store with replays, tombstones, maintenance and empty batches") {
    assert(assertSameAsLookup(
      new ParquetServingStore(spark, SparkEnv.scratchDir("lookup-empty"))) == 0)

    val dir = SparkEnv.scratchDir("lookup-diff")
    val store = new ParquetServingStore(spark, dir)
    def batch(b: Int) = Seq(
      row("click/hour/2024-01-05-13", 1 + b, 0.5 * b),
      row(s"click/hour/2024-01-0${b + 5}-02", 2 + b, 1.0),
      row("click/day/2024-01-05", 10 + b, 2.0 * b),
      row(s"click/day/2024-02-0${b + 1}", 3, 0.25),
      row("click/month/2024-01", 20 + b, 3.0),
      row("click/year/2024", 30 + b, 4.0),
      row(s"user/7/click/day/2024-01-0${b + 1}", 1 + b, 1.5),
      row("user/70/click/day/2024-01-06", 5 + b, 2.5),
      row("misc/thing", 7 + b, 0.0), // no granularity: gran=NONE
      row("misc", 1 + b, 9.0)) // no '/' at all: gran=NONE
    (0 until 4).foreach(b => store.merge(b, batch(b)))
    store.compact(retainBatches = 1) // base_v1 = batches 0-2, batch 3 live
    // recovery replay of a batch the base already folded
    store.merge(2, batch(2))
    // an n=0 tombstone and a maintenance-space batch
    store.merge(4, Seq(row("click/day/2024-01-05", 0, 0.0)))
    store.merge(ParquetServingStore.MaintenanceIdBase, Seq(
      row("click/month/2024-01", 99, 9.5), row("user/7/click/day/2024-01-09", 3, 1.0)))
    // a committed zero-row micro-batch
    import spark.implicits._
    store.sinkBatch(Seq.empty[(String, Long, Double)].toDF("key", "n_events", "sum_value"), 5)
    assert(new java.io.File(dir, "batch_id=5/_SUCCESS").exists())
    assert(new java.io.File(dir, "base_v1/_SUCCESS").exists())
    assert(store.batchDirCount == 4, "batches 2, 3, 4 and maintenance are live")
    assert(assertSameAsLookup(store) >= 12)
    assert(store.lookupRows("click/day/2024-01-05").isEmpty, "tombstone must hide the key")
    assert(store.lookupRows("click/month/2024-01").map(_.nEvents) == Seq(99L))

    // a second cycle sweeps the folded dirs and folds 2-4 into base_v2
    store.compact(retainBatches = 0)
    assert(assertSameAsLookup(store) >= 12)
  }

  test("lookupRows equals lookup on seeded random stores") {
    for (seed <- 1 to 2) {
      val rng = new scala.util.Random(seed)
      def r(n: Int) = rng.nextInt(n)
      val store = new ParquetServingStore(spark, SparkEnv.scratchDir(s"lookup-rand-$seed"))
      // buckets around the probed prefixes, so most prefixes hit keys
      def key(): String = {
        val head = if (rng.nextBoolean()) "click" else s"user/${r(12)}/click"
        head + (r(4) match {
          case 0 => s"/hour/2024-01-0${4 + r(3)}-1${2 + r(3)}"
          case 1 => s"/day/2024-0${1 + r(2)}-0${4 + r(3)}"
          case 2 => s"/month/2024-0${1 + r(3)}"
          case _ => s"/year/202${3 + r(3)}"
        })
      }
      for (b <- 0 until 8) {
        val rows = Seq.fill(6)(key()).distinct
          .map(k => row(k, if (r(5) == 0) 0 else r(50) + 1, r(9) * 0.5))
        store.merge(b, rows)
        if (b % 3 == 2) store.compact(retainBatches = r(2))
      }
      assert(assertSameAsLookup(store) >= 6, s"seed $seed")
    }
  }

  test("lookupRows racing merges and compaction sweeps never fails and " +
      "always answers a committed state") {
    val store = new ParquetServingStore(spark, SparkEnv.scratchDir("lookup-race"))
    val keys = (0 until 6).map(i => s"click/hour/2024-01-0${i % 3 + 1}-1$i") :+
      "click/day/2024-01-02"
    val batches = 16
    // half the keys per batch; batch 7 retracts key 1 with a tombstone
    def rowsOf(b: Int): Seq[CounterRow] = keys.zipWithIndex
      .filter { case (_, i) => (i + b) % 2 == 0 }
      .map { case (k, i) => row(k, if (b == 7 && i == 1) 0L else b * 10L + i + 1, b + i * 0.5) }
    // states(c) = the served content once batches 0 until c committed
    val states = (0 until batches).scanLeft(Map.empty[String, CounterRow]) { (m, b) =>
      m ++ rowsOf(b).map(r => r.key -> r)
    }.map(_.values.filter(_.nEvents != 0).toSet)
    // one reader thread per prefix
    val readPrefixes = Seq("click/", "click/hour/2024-01-02", "click/day/")

    val started = new AtomicInteger(0)
    val committed = new AtomicInteger(0)
    val done = new AtomicBoolean(false)
    val reads = new AtomicInteger(0)
    val failures = new ConcurrentLinkedQueue[String]()
    val readers = readPrefixes.map(p => new Thread(() => while (!done.get) {
      val lo = committed.get
      try {
        val got = store.lookupRows(p).toSet
        val hi = started.get
        if (!(lo to hi).exists(c => states(c).filter(_.key.startsWith(p)) == got))
          failures.add(s"'$p' read between batches $lo and $hi: $got")
      } catch { case e: Exception => failures.add(s"'$p': $e") }
      reads.incrementAndGet()
    }))
    readers.foreach(_.start())
    // compacting every other batch sweeps folded dirs every cycle
    try for (b <- 0 until batches) {
      started.set(b + 1)
      store.merge(b, rowsOf(b))
      committed.set(b + 1)
      if (b % 2 == 1) store.compact(retainBatches = 1)
    } finally {
      done.set(true)
      readers.foreach(_.join())
    }
    assert(failures.isEmpty, failures.asScala.take(5).mkString("\n"))
    assert(reads.get > batches, s"only ${reads.get} reads raced the writer")
    assert(store.lookupRows("click/").toSet == states(batches))
  }

  test("a warm index stays equal to lookup across a replay with different " +
      "rows and a compaction") {
    val store = new ParquetServingStore(spark, SparkEnv.scratchDir("lookup-warm"))
    def batch(b: Int, n: Long) = Seq(
      row("click/hour/2024-01-05-13", n + b, 0.5 * b),
      row(s"click/day/2024-01-0${b + 1}", n, 1.0),
      row("click/month/2024-01", n + 10 * b, 3.0),
      row(s"user/7/click/day/2024-01-0${b + 1}", n + 1, 1.5))
    (0 until 4).foreach(b => store.merge(b, batch(b, 1)))
    assert(assertSameAsLookup(store) >= 10)
    val warm = store.fileIndex.files.toSet
    assert(warm.nonEmpty)
    // replay batch 3 with new counts and without its user/7 key
    store.merge(3, batch(3, 50).take(3))
    assert(assertSameAsLookup(store) >= 10)
    assert(store.lookupRows("click/month/2024-01").map(_.nEvents) == Seq(80L))
    assert(store.lookupRows("user/7/click/day/2024-01-04").isEmpty)
    assert(warm.subsetOf(store.fileIndex.files.toSet), "batches 0-2 stay cached")
    store.compact(retainBatches = 1)
    assert(assertSameAsLookup(store) >= 10)
    // replay a folded batch with different rows, then sweep it
    store.merge(1, batch(1, 70))
    assert(assertSameAsLookup(store) >= 10)
    store.compact(retainBatches = 0)
    assert(assertSameAsLookup(store) >= 10)
  }

  test("after a compaction sweep the index holds only dirs the listing returns") {
    val dir = SparkEnv.scratchDir("lookup-retain")
    val store = new ParquetServingStore(spark, dir)
    def sub(name: String) = java.nio.file.Paths.get(dir).resolve(name).toString
    def rows(b: Int) = Seq(row(s"click/hour/2024-01-05-1$b", 1 + b, 1.0),
      row(s"click/day/2024-01-0${b + 1}", 2 + b, 2.0))
    (0 until 4).foreach(b => store.merge(b, rows(b)))
    prefixes.foreach(store.lookupRows)
    assert(store.fileIndex.dirs == (0 until 4).map(b => sub(s"batch_id=$b")).toSet)
    // folds 0-2 into base_v1 and marks them; the next read drops them
    store.compact(retainBatches = 1)
    store.lookupRows("click/day/")
    assert(store.fileIndex.dirs.subsetOf(Set(sub("base_v1"), sub("batch_id=3"))))
    prefixes.foreach(store.lookupRows)
    assert(store.fileIndex.dirs == Set(sub("base_v1"), sub("batch_id=3")))
    // sweeps 0-2, folds 3 into base_v2 (base_v1 superseded)
    store.merge(4, rows(4))
    store.compact(retainBatches = 1)
    prefixes.foreach(store.lookupRows)
    assert(store.fileIndex.dirs == Set(sub("base_v2"), sub("batch_id=4")))
    assert((0 until 3).forall(b => !new java.io.File(sub(s"batch_id=$b")).exists()))
    // base_v2's 8 keys and batch 4's 2 new ones
    assert(store.fileIndex.rows == 10 && store.snapshot().size == 10)
  }

  private def rows(b: Int) = Seq(row(s"click/hour/2024-01-05-1$b", 1 + b, 1.0),
    row(s"click/day/2024-01-0${b + 1}", 2 + b, 2.0), row("view/month/2024-01", 3 + b, 0.5))

  test("a store whose listing is cached answers a batch another instance merged") {
    val dir = SparkEnv.scratchDir("lookup-stamp-shared")
    val (reader, writer) = (new ParquetServingStore(spark, dir), new ParquetServingStore(spark, dir))
    (0 until 3).foreach(b => writer.merge(b, rows(b)))
    writer.compact(retainBatches = 1)
    assert(assertSameAsLookup(reader) >= 5)
    writer.merge(3, rows(3) :+ row("click/day/2024-01-02", 40, 4.0))
    assert(reader.lookupRows("view/month/2024-01").map(_.nEvents) == Seq(6L))
    assert(reader.lookupRows("click/day/2024-01-02").map(_.nEvents) == Seq(40L))
    assert(assertSameAsLookup(reader) >= 5)
    writer.compact(retainBatches = 0)
    writer.merge(4, Seq(row("view/month/2024-01", 0, 0.0)))
    assert(reader.lookupRows("view/").isEmpty, "the tombstone must hide the key")
    assert(assertSameAsLookup(reader) >= 5)
  }

  test("a batch and a compaction index their files where reads went, so " +
      "the next read decodes nothing") {
    val dir = SparkEnv.scratchDir("lookup-warm-base")
    val store = new ParquetServingStore(spark, dir)
    (0 until 3).foreach(b => store.merge(b, rows(b)))
    store.compact(retainBatches = 1)
    assert(store.fileIndex.decodes == 0, "a store nobody reads decodes nothing")
    val read = Seq("click/hour/2024-01-05", "view/month/")
    def answers = read.map(store.lookupRows)
    answers
    store.merge(3, rows(3))
    val merged = store.fileIndex.decodes
    answers
    assert(store.fileIndex.decodes == merged, "the first read after the batch decoded a file")
    // folds base_v1 and batch 2 into base_v2; batch 3 stays live
    store.compact(retainBatches = 1)
    val base2 = java.nio.file.Paths.get(dir, "base_v2").toString
    val warmed = store.fileIndex.filesIn(Set(base2))
    assert(warmed.map(_.getParent.getParent.getFileName.toString).toSet ==
      Set("gran=hour", "gran=month"), "only the partitions reads went to")
    val decodes = store.fileIndex.decodes
    import spark.implicits._
    assert(answers == read.map(p => store.lookup(p).as[CounterRow].collect().toSeq.sortBy(_.key)))
    assert(store.fileIndex.decodes == decodes, "the first read after the fold decoded a file")
    assert(store.fileIndex.dirs == Set(base2, java.nio.file.Paths.get(dir, "batch_id=3").toString))
  }

  test("a store without a stamp, as older code wrote it, lists on every read") {
    val dir = SparkEnv.scratchDir("lookup-unstamped")
    val store = new ParquetServingStore(spark, dir)
    val stamp = java.nio.file.Paths.get(dir, ParquetServingStore.StampFile)
    (0 until 3).foreach(b => store.merge(b, rows(b)))
    store.compact(retainBatches = 1)
    java.nio.file.Files.delete(stamp)
    assert(assertSameAsLookup(store) >= 5)
    assert(assertSameAsLookup(store) >= 5)
    // a batch an older writer commits leaves no stamp either
    store.merge(3, rows(3) :+ row("click/day/2024-01-02", 40, 4.0))
    java.nio.file.Files.delete(stamp)
    assert(store.lookupRows("click/day/2024-01-02").map(_.nEvents) == Seq(40L))
    assert(assertSameAsLookup(store) >= 5)
  }

  test("the index stays within its row budget, evicts least recently used " +
      "first and still answers for a file larger than the budget") {
    val dir = java.nio.file.Paths.get(SparkEnv.scratchDir("index-unit"))
    def file(name: String, bytes: Int) =
      java.nio.file.Files.write(dir.resolve(name), Array.fill[Byte](bytes)(1))
    val sizes = Map("a" -> 4, "b" -> 4, "c" -> 4, "big" -> 11)
    val decoded = new AtomicInteger(0)
    val index = new ParquetServingStore.SortedFileCache(10, { f =>
      decoded.incrementAndGet()
      val name = f.getFileName.toString
      // shuffled input: the index must sort it
      ParquetServingStore.SortedRows(scala.util.Random.shuffle(
        (0 until sizes(name)).map(i => row(s"$name/$i", i, i * 0.5))).toArray)
    })
    val Seq(a, b, c, big) = Seq("a", "b", "c", "big").map(file(_, 1))
    def keys(f: java.nio.file.Path, prefix: String) = {
      val out = Seq.newBuilder[String]
      index.rowsOf("d", f, FileId.of(f)).foreachWithPrefix(prefix)(r => out += r.key)
      out.result()
    }
    def names = index.files.map(java.nio.file.Paths.get(_).getFileName.toString)

    assert(keys(a, "a/") == Seq("a/0", "a/1", "a/2", "a/3"))
    assert(keys(b, "b/2") == Seq("b/2"))
    assert(names == Seq("a", "b") && index.rows == 8 && decoded.get == 2)
    assert(keys(a, "a/3") == Seq("a/3")) // a hit makes a the most recent
    assert(decoded.get == 2 && names == Seq("b", "a"))
    assert(keys(c, "") == Seq("c/0", "c/1", "c/2", "c/3"))
    assert(names == Seq("a", "c") && index.rows == 8, "b was least recently used")
    // larger than the whole budget: answered, not kept, nothing evicted
    assert(keys(big, "big/1") == Seq("big/1", "big/10"))
    assert(keys(big, "x").isEmpty)
    assert(decoded.get == 5 && names == Seq("a", "c") && index.rows == 8)
    // a file rewritten at the same path is a new entry
    file("a", 2)
    assert(keys(a, "a/0") == Seq("a/0") && decoded.get == 6)
    assert(index.rows <= 10)
    index.retainDirs(Set("elsewhere"))
    assert(index.files.isEmpty && index.rows == 0)

    // the parquet decoder on a real store file, with a budget below it
    val storeDir = SparkEnv.scratchDir("index-big")
    val stored = (0 until 40).map(i => row(s"misc/$i", i + 1, i * 0.25))
    new ParquetServingStore(spark, storeDir).merge(0, stored)
    val parts = {
      val w = java.nio.file.Files.walk(java.nio.file.Paths.get(storeDir))
      try w.iterator.asScala.filter(_.getFileName.toString.startsWith("part-")).toList
      finally w.close()
    }
    val small = new ParquetServingStore.SortedFileCache(2)
    val got = Seq.newBuilder[CounterRow]
    parts.foreach(f => small.rowsOf(storeDir, f, FileId.of(f)).foreachWithPrefix("misc/1")(got += _))
    assert(got.result().sortBy(_.key) == stored.filter(_.key.startsWith("misc/1")).sortBy(_.key))
    assert(parts.nonEmpty && small.rows == 0)
  }
}
