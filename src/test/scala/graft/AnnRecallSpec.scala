package graft

import org.apache.spark.sql.functions._

/** Round-10 (VERDICT r9 task #6): a COMMITTED per-round ANN recall
  * ledger. The approximate-ANN family (q_ann_lsh/ivf/pq/ivfpq) is
  * rows-only by design (randomized/iterative training has no SQL
  * oracle), gated by recall thresholds — but the measured recall
  * itself was never persisted, so a slow recall regression could hide
  * inside a still-green ≥-threshold assert. This spec measures
  * recall@3 of every ANN variant against the exact brute-force twin
  * `q_cosine_topk` (same query set vec_id < 5, same k) at BOTH graded
  * sfs, asserts the family thresholds, and REGENERATES `ANN_RECALL.md`
  * at the repo root — a recall change now shows up as a committed
  * diff, not just a threshold pass.
  */
class AnnRecallSpec extends SparkSpec {

  /** (name, floor at sf0.01, floor at sf0.1). These are REGRESSION
    * floors set just under the round-10 measured values on the real
    * fixture — NOT the ≥0.9 structure-recovery gates, which live in
    * SimilaritySpec over planted twins. The driver's embeddings are
    * near-uniform on the sphere (true top-3 cosines ~0.45–0.60 vs
    * random ~0.40), the known hard case for ANN: cell/bucket
    * assignment of a ~66°-apart "neighbor" pair is nearly independent,
    * so fixture recall is bounded by ≈ probed-corpus-fraction + a
    * locality bonus, and reaching 0.9 would require probing most of
    * the corpus — i.e. not ANN. What these floors certify instead:
    * each index still beats RANDOM pruning at the same scan fraction
    * (IVF probes 3/16 ≈ 19% and recalls 0.60 = 3.2× random; PQ's
    * 64-vector exact re-rank ≈ 1.3% of the sf0.1 corpus and recalls
    * 0.73 = 57× random), and a regression below them is a real index
    * quality loss, not fixture noise. sf0.01 floors are looser: 5
    * queries × 3 slots = 15 samples, so one slot is 0.067 of recall.
    */
  private val variants = Seq(
    ("q_ann_lsh", 0.10, 0.35),
    ("q_ann_ivf", 0.50, 0.50),
    ("q_ann_pq", 0.85, 0.65),
    ("q_ann_ivfpq", 0.50, 0.40),
    // EXACT-parity floor (round 12): q_ann_hnsw is value-gated against
    // the exact top-k oracle, which is sound only while the
    // scatter-gather search returns the true top-3 — every query beams
    // ef=48 through EVERY shard graph (near-exhaustive on ~hundreds-of-
    // node shards), measured 1.000/1.000. This assertion is that
    // gate's NAMED precondition: a fixture/parameter change that
    // breaks parity fails here by name before the driver row goes red.
    // (Graph adjacency stays non-oracle-material; HnswSpec pins
    // determinism/caching/degree bounds.)
    ("q_ann_hnsw", 1.0, 1.0))

  private def topkSets(name: String, sfDir: String): Map[Long, Set[Long]] =
    SparkEntry.queries(name)(spark, sfDir)
      .select(col("q_id").cast("long"), col("vec_id").cast("long"))
      .collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(1)).toSet).toMap

  test("ANN recall@3 vs the exact twin — measured, asserted, and " +
      "persisted to ANN_RECALL.md") {
    val lines = scala.collection.mutable.ArrayBuffer[String]()
    lines += "# ANN_RECALL — measured recall@3 vs exact q_cosine_topk"
    lines += ""
    lines += "Regenerated by `AnnRecallSpec` each `sbt test` run; the"
    lines += "committed copy makes recall regressions show up as diffs."
    lines += "Query set: vec_id < 5, k = 3, both driver-graded sfs."
    lines += ""
    lines += "The fixture is near-uniform on the sphere — the hard case:"
    lines += "recall is bounded by probed-corpus-fraction + locality bonus"
    lines += "(see AnnRecallSpec scaladoc). Floors certify the index beats"
    lines += "random pruning at its scan fraction; the ≥0.9"
    lines += "structure-recovery gates run on planted twins in"
    lines += "SimilaritySpec."
    lines += ""
    lines += "| query | sf0.01 recall@3 | sf0.1 recall@3 | floors |"
    lines += "|---|---|---|---|"
    val sfs = Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")
    val exactBySf = sfs.map(d => d -> topkSets("q_cosine_topk", d)).toMap
    val measured = for ((name, g001, g01) <- variants) yield {
      val recalls = sfs.map { d =>
        val exact = exactBySf(d)
        val approx = topkSets(name, d)
        val perQuery = exact.map { case (q, ex) =>
          approx.getOrElse(q, Set.empty).intersect(ex).size.toDouble / ex.size
        }
        perQuery.sum / perQuery.size
      }
      lines += f"| $name | ${recalls(0)}%.3f | ${recalls(1)}%.3f | ≥ $g001 / ≥ $g01 |"
      info(f"$name%-12s sf0.01=${recalls(0)}%.3f sf0.1=${recalls(1)}%.3f " +
        f"floors=$g001/$g01")
      (name, Seq(g001, g01), recalls)
    }
    // purged-index parity (round 15): q_ann_purged_search's exact twin
    // is top-k over SURVIVORS (purged vectors excluded from truth and
    // index alike), so it cannot share exactBySf; like q_ann_hnsw its
    // DuckDB gate is sound only at recall == 1.0 — this is that gate's
    // named precondition
    val purgedRecalls = sfs.map { d =>
      val survivors = Tables.embeddings(spark, d)
        .filter(!graft.operators.Hnsw.purgedPredicate)
      val q = survivors.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val sims = survivors.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          graft.queries.LlmOps.dotProduct("q_emb", "embedding").as("dot"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("q_id").orderBy(col("dot").desc, col("vec_id"))
      val exact = sims.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("q_id").cast("long"), col("vec_id").cast("long"))
        .collect().groupBy(_.getLong(0))
        .view.mapValues(_.map(_.getLong(1)).toSet).toMap
      val approx = topkSets("q_ann_purged_search", d)
      val perQ = exact.map { case (qid, ex) =>
        approx.getOrElse(qid, Set.empty).intersect(ex).size.toDouble / ex.size
      }
      perQ.sum / perQ.size
    }
    lines += f"| q_ann_purged_search | ${purgedRecalls(0)}%.3f | ${purgedRecalls(1)}%.3f | ≥ 1.0 / ≥ 1.0 (exact-over-survivors twin) |"
    sfs.zip(purgedRecalls).foreach { case (d, r) =>
      assert(r == 1.0, s"q_ann_purged_search recall@3 $r < 1.0 at $d — " +
        "its exact-top-k-over-survivors oracle is sound only at parity")
    }
    measured.foreach { case (name, gates, recalls) =>
      sfs.lazyZip(gates).lazyZip(recalls).foreach { (d, g, r) =>
        val soundness = if (name == "q_ann_hnsw")
          " — q_ann_hnsw's exact-top-k DuckDB oracle is SOUND ONLY at " +
            "recall == 1.0; below it the declared gate would red for a " +
            "real (documented) approximation, so fix the index/parameters " +
            "or retire the gate, never loosen this floor"
        else ""
        assert(r >= g, s"$name recall@3 $r < floor $g at $d$soundness")
      }
    }
    lines += ""
    lines += "## HNSW ef-vs-recall, non-exhaustive regime (tools/HnswCurve)"
    lines += ""
    lines += "Measured round 13 at sf0.1 (5000 vectors), recall@3 vs exact,"
    lines += "sweeping beam width × shard count past the graded parameters"
    lines += "(ef=48, 4 shards — the exact-parity regime the gate needs)."
    lines += "Static table — regenerate with `runMain graft.tools.HnswCurve`:"
    lines += ""
    lines += "| shards | ef=2 | ef=4 | ef=8 | ef=16 | ef=48 |"
    lines += "|---|---|---|---|---|---|"
    lines += "| 4 | 0.667 | 0.667 | 0.800 | 1.000 | 1.000 |"
    lines += "| 16 | 0.933 | 0.933 | 1.000 | 1.000 | 1.000 |"
    lines += "| 64 | 1.000 | 1.000 | 1.000 | 1.000 | 1.000 |"
    lines += ""
    lines += "Reading: recall leaves 1.0 exactly where theory says — small"
    lines += "beams on big shards miss true neighbors (4 shards, ef≤8);"
    lines += "sharding the corpus finer recovers recall at FIXED ef because"
    lines += "the scatter-gather unions an independent beam per shard (64"
    lines += "shards are near-exhaustive even at ef=2). Production tunes ef"
    lines += "to its recall budget; the gate's ef=48/4-shard point sits"
    lines += "deliberately deep in the exact-parity plateau."
    lines += ""
    java.nio.file.Files.write(
      java.nio.file.Paths.get("ANN_RECALL.md"),
      (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
