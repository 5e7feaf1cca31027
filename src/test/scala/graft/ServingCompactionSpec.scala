package graft

import graft.streaming.{ParquetServingStore, ServingStore}
import org.apache.spark.sql.functions._

/** Serving-store compaction + retention (round 15, VERDICT r14 #3;
  * redesigned after the round-15 review to a VERSIONED BASE outside
  * the batch-id namespace): read-equivalence across a compaction
  * pass, the dir-count bound, physical tombstone drop, replay
  * idempotence — including a replay of a batch compaction already
  * FOLDED — and crash-window convergence (dominated dirs left behind
  * by an interrupted pass read identically and a re-run removes
  * them). The latency side is in SCALING.md §"Round-15: serving-store
  * compaction" (measured by a tool last present at commit 0549e1c).
  */
class ServingCompactionSpec extends SparkSpec {

  private def row(k: String, n: Long, v: Double) =
    ServingStore.CounterRow(k, n, v)

  private def serve(s: ParquetServingStore): Array[String] = s.latest()
    .filter(col("nEvents") > 0).orderBy("key").collect().map(_.toString)

  test("compaction: read-equivalent, dir-bounded, tombstones dropped, " +
      "retained replay still idempotent, pruning intact") {
    val dir = SparkEnv.scratchDir("compact-store")
    val store = new ParquetServingStore(spark, dir)
    // 11 batches over overlapping keys — several re-emissions per key,
    // so latest-batch-wins has real work to resolve
    (0 until 10).foreach { b =>
      store.merge(b, Seq(
        row(s"click/hour/2024-01-0${b % 5 + 1}-1$b", b + 1, b * 1.5),
        row("click/day/2024-01-05", 100 + b, b.toDouble),
        row("view/month/2024-01", 7 + b, 0.25 * b)))
    }
    // batch 10: an n=0 tombstone (the JoinView churn shape) — resolved
    // INSIDE the folded set, so compaction must drop the key
    store.merge(10, Seq(row("click/day/2024-01-05", 0, 0.0)))
    // batches 11-12 stay retained
    store.merge(11, Seq(row("view/month/2024-01", 40, 4.0)))
    store.merge(12, Seq(row("click/hour/2024-01-03-12", 5, 2.0)))
    val before = serve(store)
    assert(store.batchDirCount == 13)
    store.compact(retainBatches = 2)
    assert(store.batchDirCount == 2,
      s"expected 2 retained delta dirs, got ${store.batchDirCount}")
    assert(new java.io.File(dir, "base_v1/_SUCCESS").exists(),
      "compaction must commit a versioned base")
    assert(serve(store).sameElements(before),
      "resolved store contents changed across compaction")
    // the tombstoned key is PHYSICALLY gone, not just filtered
    assert(store.latest()
      .filter(col("key") === "click/day/2024-01-05").count() == 0,
      "compaction must drop a key whose resolved value is a tombstone")
    // replaying a retained batch still overwrites exactly its own
    // subtree — contents unchanged
    store.merge(12, Seq(row("click/hour/2024-01-03-12", 5, 2.0)))
    assert(serve(store).sameElements(before))
    assert(store.batchDirCount == 2)
    // the read path still prunes partitions in the compacted base
    val plan = store.lookup("view/month/2024-01")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("month"), plan)
    assert(store.lookupRows("view/month/2024-01").map(_.nEvents) == Seq(40L))
    // deferred deletion: the folded dirs are still on disk (marked)
    // for readers holding an older listing; a second compaction cycle
    // sweeps them physically and folds nothing new
    assert(new java.io.File(dir).listFiles()
      .count(_.getName.startsWith("batch_id=")) == 13,
      "folded dirs must persist one grace cycle")
    store.compact(retainBatches = 2)
    assert(store.batchDirCount == 2 && serve(store).sameElements(before))
    assert(new java.io.File(dir).listFiles()
      .count(_.getName.startsWith("batch_id=")) == 2,
      "the next cycle must sweep previously-folded dirs")
    // incremental re-compaction folds the retained deltas into base_v2;
    // the superseded base survives one grace cycle, then sweeps
    store.compact(retainBatches = 0)
    assert(store.batchDirCount == 0)
    assert(new java.io.File(dir, "base_v2/_SUCCESS").exists() &&
      new java.io.File(dir, "base_v1").exists(),
      "superseded base must persist one grace cycle")
    assert(serve(store).sameElements(before))
    store.compact(retainBatches = 0)
    assert(!new java.io.File(dir, "base_v1").exists(),
      "the next cycle must sweep the superseded base")
    assert(serve(store).sameElements(before))
  }

  test("replay of a batch compaction already FOLDED is idempotent: the " +
      "replayed dir wins over the base with its original content") {
    val store = new ParquetServingStore(spark, SparkEnv.scratchDir("compact-replay"))
    (0 until 5).foreach(b => store.merge(b,
      Seq(row("click/year/2024", b + 1, b.toDouble))))
    store.compact(retainBatches = 0)
    assert(store.batchDirCount == 0)
    val resolved = serve(store)
    // recovery replays batch 4 — already folded into the base; the
    // replayed dir re-emits its ORIGINAL rows (same input, same state)
    // and must not change the resolved view (this is the case the
    // pre-redesign base-as-batch-dir layout got catastrophically
    // wrong: the replay overwrote the base itself)
    store.merge(4, Seq(row("click/year/2024", 5, 4.0)))
    assert(serve(store).sameElements(resolved))
    assert(store.lookupRows("click/year/2024").map(_.nEvents) == Seq(5L))
  }

  test("interrupted compaction (base committed, folded markers lost) " +
      "reads identically and a re-run converges") {
    val dir = SparkEnv.scratchDir("compact-crash")
    val store = new ParquetServingStore(spark, dir)
    (0 until 6).foreach(b => store.merge(b, Seq(
      row("view/day/2024-02-0" + (b % 3 + 1), 10L + b, b * 1.0),
      row("view/month/2024-02", 50L + b, 2.0 * b))))
    store.compact(retainBatches = 0)
    val resolved = serve(store)
    assert(store.batchDirCount == 0)
    // crash emulation: the base committed but the fold markers were
    // never stamped — every delta dir is live again and DOMINATED by
    // the base's content (the worst surviving window of the commit
    // ordering)
    new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("batch_id=")).foreach { d =>
        val m = new java.io.File(d, "_FOLDED")
        if (m.exists()) assert(m.delete())
      }
    assert(store.batchDirCount == 6, "unmarked deltas must be live again")
    // dominated dirs hold exactly what was folded — reads identical
    assert(serve(store).sameElements(resolved),
      "dominated leftover deltas must not change the resolved view")
    // re-running the maintenance pass converges (re-fold, then sweep)
    store.compact(retainBatches = 0)
    assert(store.batchDirCount == 0)
    store.compact(retainBatches = 0)
    assert(new java.io.File(dir).listFiles()
      .count(_.getName.startsWith("batch_id=")) == 0,
      "the sweep cycle must remove the re-folded deltas")
    assert(serve(store).sameElements(resolved))
  }

  test("maintenance-space batches are never folded by default; churn " +
      "idempotence survives compaction; fencing folds them explicitly") {
    val store = new ParquetServingStore(spark, SparkEnv.scratchDir("compact-maint"))
    (0 until 4).foreach(b => store.merge(b,
      Seq(row("click/year/2024", b + 1, b.toDouble))))
    // a maintenance batch in the reserved id space (the churn shape)
    store.merge(ParquetServingStore.MaintenanceIdBase,
      Seq(row("click/year/2024", 100, 9.0)))
    store.compact(retainBatches = 0)
    // the stream deltas folded; the maintenance delta is still a live
    // dir, so latestBefore(MaintenanceIdBase) — the churn's replay
    // read — still sees the PRE-maintenance state
    assert(store.batchDirCount == 1,
      "maintenance batch must survive the fold")
    assert(store.latestBefore(ParquetServingStore.MaintenanceIdBase)
      .filter(col("key") === "click/year/2024")
      .head.getAs[Long]("nEvents") == 4L,
      "pre-maintenance snapshot must not include maintenance effects")
    assert(store.lookupRows("click/year/2024").map(_.nEvents) == Seq(100L))
    // fencing: the operator recorded the epoch — now it may fold
    store.compact(retainBatches = 0, foldMaintenance = true)
    assert(store.batchDirCount == 0)
    assert(store.lookupRows("click/year/2024").map(_.nEvents) == Seq(100L))
  }

  test("compaction of a decommissioned stream (retain 0) folds everything " +
      "into the base") {
    val store = new ParquetServingStore(spark, SparkEnv.scratchDir("compact-all"))
    (0 until 5).foreach(b => store.merge(b,
      Seq(row("click/year/2024", b + 1, b.toDouble))))
    store.compact(retainBatches = 0)
    assert(store.batchDirCount == 0)
    assert(store.lookupRows("click/year/2024").map(_.nEvents) == Seq(5L))
  }
}
