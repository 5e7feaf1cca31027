package graft.operators

import graft.{DeclaredQuery, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

/** Near-duplicate detection at scale (SURVEY.md §2 K2; prompt's
  * training-data dedup list): MinHash + banded LSH and SimHash.
  *
  * Both sketches are DETERMINISTIC given their hash family, and since
  * round 8 the declared queries run the portable md5-prefix family
  * (`minhash_sig_md5` / `simhash64_md5` — replayable as DuckDB SQL),
  * so the full pipelines carry value-hash oracles: candidate
  * generation, bucketing, and verification all gate against an
  * independent engine. The xxhash64 family stays the production
  * default (cheaper per shingle); its correctness story is the
  * ScalaTest suite, which checks the candidate pairs against the
  * exact prefix-blocked Jaccard pairs (LlmOps.nearDupPairs — the
  * planted ~5 % dup families in the fixtures) — and the portable
  * family passes the same planted-recall specs.
  *
  * Scale design: everything is explode → hash → groupBy — linear scans
  * plus equi-shuffles on (band, signature) bucket keys. No cross join
  * ever materializes; candidate pairs come from within-bucket
  * self-joins whose buckets are tiny by construction. At 100 TB the
  * only tuning knobs are shuffle partitions and band count.
  */
object Dedup {

  /** Per-doc token n-gram rows WITH duplicates and positions, from the
    * codegen'd [[graft.functions.TokenNGrams]] generator — one lazy
    * byte-slicing scan instead of the interpreted
    * `transform`/`slice`/`array_join` lambda pipeline (which
    * materialized the token array and the full shingle array per doc;
    * measured ~3× slower on the sketch pipelines at sf0.1).
    */
  def shingleRows(docs: DataFrame, n: Int = 3): DataFrame =
    docs.select(col("doc_id"), expr(s"token_ngrams(text, $n)"))
      .select(col("doc_id"), col("pos"), col("shingle"))

  /** Per-doc k-shingle SET (distinct shingles, no positions) — the
    * element relation exact Jaccard consumes. The distinct is a real
    * aggregate now (the old form's per-doc `array_distinct` rode the
    * lambda pipeline); map-side partial aggregation keeps the shuffle
    * at one row per distinct (doc, shingle). Sketch paths that are
    * duplicate-idempotent (minhash `min`) skip it and read
    * [[shingleRows]] directly.
    */
  def shingles(docs: DataFrame, n: Int = 3): DataFrame =
    shingleRows(docs, n).select("doc_id", "shingle").distinct()

  /** MinHash signatures as k parallel codegen'd min-aggregates: one
    * wide groupBy over the shingle relation — a single shuffle of
    * (doc_id → k longs), no ×k row explosion. xxhash64(seed_i,
    * shingle) gives k independent hash families.
    */
  def minhashSignatures(sh: DataFrame, k: Int = 32): DataFrame = {
    // hash the shingle STRING once; the k families then mix the 64-bit
    // fingerprint with the seed (integer hashing ≫ cheaper than k
    // string hashes — standard universal-hashing minhash construction)
    val aggs = (0 until k).map(i =>
      min(xxhash64(lit(i), col("h"))).as(s"mh$i"))
    sh.withColumn("h", xxhash64(col("shingle")))
      .groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** Banded LSH candidates: k minhashes → b bands of r rows; docs
    * sharing any (band, band-signature) bucket become candidates.
    * P(candidate) ≈ 1-(1-J^r)^b — with k=32, b=8, r=4 the planted
    * J≥0.8 families are caught with probability ≈ 1-3e-4.
    * Band signatures are hashed straight from the signature columns
    * (no per-band shuffle); the explode is only ×b over one row per
    * doc.
    */
  /** The b per-band (band, band_sig) structs over a `sig` array
    * column — shared by the batch pipeline and the streaming twin
    * ([[graft.streaming.StreamDedup]]).
    */
  private[graft] def bandStructs(k: Int, bands: Int) = {
    val r = k / bands
    (0 until bands).map { b =>
      val cols = (b * r until (b + 1) * r).map(i => element_at(col("sig"), i + 1))
      struct(lit(b).as("band"), xxhash64(cols: _*).as("band_sig"))
    }
  }

  /** [[bandStructs]]' PORTABLE-family twin (round-13 review: this
    * builder existed verbatim in both streaming consumers): the band
    * key is the band's r raw signature values joined ':' — exactly the
    * raw-tuple bucket equality the `q_minhash_near_dups` oracle
    * replays, with no band hash between signature and bucket (a hash
    * there could in principle bucket pairs the oracle's raw-tuple
    * equality never sees).
    */
  private[graft] def portableBandStructs(k: Int, bands: Int) = {
    val r = k / bands
    (0 until bands).map { b =>
      struct(lit(b).as("band"),
        concat_ws(":",
          (1 to r).map(j => element_at(col("sig"), b * r + j)): _*).as("band_key"))
    }
  }

  def minhashCandidates(docs: DataFrame, k: Int = 32, bands: Int = 8): DataFrame = {
    // whole-signature expression: one codegen'd pass per doc, NO
    // explode/groupBy shuffle (bit-identical to minhashSignatures —
    // SketchExprSpec asserts it). NULL texts are dropped BEFORE the
    // projection (matching simhash): a NULL sig would band to the
    // constant xxhash64 seed, so every NULL-text doc would share every
    // bucket — O(M²) spurious pairs. The old explode form dropped them
    // implicitly (no shingle rows); the expression form must do it
    // explicitly.
    val sigs = docs.filter(col("text").isNotNull)
      .select(col("doc_id"), expr(s"minhash_sig(text, 3, $k)").as("sig"))
    val bucketed = sigs.select(col("doc_id"),
      explode(array(bandStructs(k, bands): _*)).as("bb"))
      .select(col("doc_id"), col("bb.band"), col("bb.band_sig"))
    // Within-bucket pair generation instead of a bucket self-join: the
    // self-join form scans the signature relation twice (the two sides'
    // projections carry different exprIds, so ReuseExchange cannot
    // deduplicate the subtree — measured 2× signature cost), while one
    // groupBy collects each bucket's member list and expands ordered
    // pairs in-place. Buckets are tiny by construction (docs sharing a
    // band signature), so the O(|bucket|²) expansion is bounded; a
    // degenerate bucket (mass-identical docs) is the same skew risk the
    // self-join had, handled upstream by exact-dedup first.
    bucketed.groupBy("band", "band_sig")
      // codegen'd generator, not the interpreted flatten/transform/
      // slice combinator (round-14 review — the measured OrderedPairs
      // rationale: per-element lambda eval, O(B²) pair array per
      // bucket, CodegenFallback sort_array breaking the stage; the
      // generator sorts internally and streams pairs in O(B) memory)
      .agg(collect_set(struct(col("doc_id").as("id"),
        lit(0).as("n"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(expr("ordered_pairs(ids)"))
      .select(col("id_a"), col("id_b"))
      .distinct()
  }

  /** Oracle-replayable LSH candidates (round 8): the md5-mode minhash
    * family (`minhash_sig_md5`, k=16) banded into 4 bands of r=4,
    * bucketed by the raw 4-value band TUPLE instead of a band hash —
    * DuckDB groups/joins on the same list value, so the candidate set
    * (and hence the verified pair set) replays exactly in the
    * `q_minhash_near_dups` oracle SQL. Same within-bucket ordered-pair
    * expansion as [[minhashCandidates]]; the xxhash64 + hashed-band
    * form stays the production default (cheaper per shingle, and the
    * band hash shrinks the shuffle key).
    */
  def minhashCandidatesPortable(docs: DataFrame, k: Int = 16,
      bands: Int = 4): DataFrame = {
    val r = k / bands
    val sigs = docs.filter(col("text").isNotNull)
      .select(col("doc_id"), expr(s"minhash_sig_md5(text, 3, $k)").as("sig"))
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band") +:
        (1 to r).map(j => element_at(col("sig"), b * r + j).as(s"s$j")): _*)
    }
    sigs.select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
      .groupBy(col("bb"))
      // codegen'd generator, not the interpreted flatten/transform/
      // slice combinator (round-14 review — the measured OrderedPairs
      // rationale: per-element lambda eval, O(B²) pair array per
      // bucket, CodegenFallback sort_array breaking the stage; the
      // generator sorts internally and streams pairs in O(B) memory)
      .agg(collect_set(struct(col("doc_id").as("id"),
        lit(0).as("n"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(expr("ordered_pairs(ids)"))
      .select(col("id_a"), col("id_b"))
      .distinct()
  }

  /** Exact set-Jaccard for a candidate pair set over any (doc_id, elem)
    * element relation — only candidates pay the set-intersection cost.
    */
  def setJaccard(elems: DataFrame, pairs: DataFrame): DataFrame = {
    val cnt = elems.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val t1 = elems.select(col("doc_id").as("id_a"), col("elem"))
    val t2 = elems.select(col("doc_id").as("id_b"), col("elem"))
    val inter = pairs.join(t1, Seq("id_a")).join(t2, Seq("id_b", "elem"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_inter"))
    // LEFT from the pair set (round-14 review): a candidate pair with
    // an EMPTY intersection must score jaccard = 0.0, not vanish from
    // the output — callers that reconcile scores against the input
    // pair set (or report score distributions) need full coverage;
    // the ≥ τ pipelines filter the zeros away unchanged
    pairs.select("id_a", "id_b")
      .join(inter, Seq("id_a", "id_b"), "left")
      .withColumn("n_inter", coalesce(col("n_inter"), lit(0L)))
      .join(cnt.select(col("doc_id").as("id_a"), col("n").as("n_a")), Seq("id_a"))
      .join(cnt.select(col("doc_id").as("id_b"), col("n").as("n_b")), Seq("id_b"))
      .withColumn("jaccard",
        col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")))
  }

  /** Exact token-set Jaccard. NOTE (measured on fixtures): the ~30-word
    * vocabulary makes token-SET Jaccard of *unrelated* docs ≈ 0.6-0.9 —
    * it only discriminates within a blocked candidate set. Shingle
    * Jaccard is the discriminative measure (random ≤ 0.03, planted
    * dups ≥ 0.89); use [[shingleJaccard]] for open-ended detection.
    */
  def exactJaccard(docs: DataFrame, pairs: DataFrame): DataFrame =
    setJaccard(
      docs.select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("elem")),
      pairs)

  /** Exact 3-token-shingle Jaccard — order-sensitive, discriminative. */
  def shingleJaccard(docs: DataFrame, pairs: DataFrame, n: Int = 3): DataFrame =
    setJaccard(shingles(docs, n).withColumnRenamed("shingle", "elem"), pairs)

  /** Full MinHash-LSH near-dup pipeline: banded candidates → exact
    * shingle-set Jaccard verify (the same measure the signatures
    * estimate). Only candidate docs (bucket-collision members) are
    * re-shingled, via a semi-join the optimizer broadcasts.
    *
    * Verify form: one distinct-fingerprint `collect_set` per candidate
    * doc, then `array_intersect` on the pair join — two joins and one
    * aggregate over the tiny candidate relation, vs the general
    * [[setJaccard]]'s three joins + two aggregates over exploded
    * element rows (~0.5 s less fixed stage latency at sf0.1; same
    * pairs up to a 64-bit in-doc hash collision, ~1e-9 here). Scale
    * note: the per-doc array is O(doc shingles) — the same working
    * set the exploded form shuffles — and the pair join is bounded by
    * the candidate count; AQE picks broadcast sides when small, so
    * nothing here is a hidden all-pairs or driver-side step.
    */
  def minhashNearDups(docs: DataFrame, tau: Double = 0.5): DataFrame = {
    // cand feeds the semi-join id set and both verify join probes —
    // eager localCheckpoint so the LSH pipeline runs once. NOT
    // persist(): CacheManager would pin the blocks until an explicit
    // unpersist/clearCache (a declared-query fn has no after-the-action
    // hook to call it, so repeated invocations leaked cached RDDs —
    // round-8 advice); checkpoint blocks are instead freed by the
    // ContextCleaner when the returned plan is GC'd.
    val cand = minhashCandidates(docs).localCheckpoint(true)
    verifyCandidates(docs, cand, tau)
  }

  /** Exact shingle-set Jaccard verify over any `(id_a, id_b)`
    * candidate relation (batch LSH candidates, the streaming dedup
    * gate's output, an external blocker): re-shingles only candidate
    * docs, joins per-doc fingerprint sets, keeps pairs ≥ tau.
    *
    * `portableHash` fingerprints shingles with the 60-bit md5 prefix —
    * `conv(substring(md5(s),1,15),16,10)` — the same family the
    * declared oracle replays, so in portable mode EVERY stage of the
    * pipeline (not just candidate generation) is oracle-identical
    * (round-8 advice: the xxhash64 verify left one unreplayed step).
    * xxhash64 stays the production default (no md5 string round-trip).
    *
    * The per-doc fingerprint-set relation feeds BOTH pair probes; the
    * two join sides carry different exprIds, so ReuseExchange cannot
    * dedupe the subtree and the candidate docs would be re-shingled
    * twice (round-8 plan digest: 7 parquet scans). Eager
    * localCheckpoint materializes it once — bounded: candidate docs
    * only, O(doc shingles) per row, the same working set the exploded
    * exact-Jaccard form shuffles.
    */
  def verifyCandidates(docs: DataFrame, cand: DataFrame, tau: Double = 0.5,
      portableHash: Boolean = false): DataFrame = {
    val candIds = cand.select(col("id_a").as("doc_id"))
      .union(cand.select(col("id_b").as("doc_id"))).distinct()
    val candDocs = docs.join(candIds, Seq("doc_id"), "left_semi")
    val fp =
      if (portableHash)
        expr("conv(substring(md5(shingle), 1, 15), 16, 10)").cast("long")
      else xxhash64(col("shingle"))
    val sets = shingleRows(candDocs) // collect_set dedups — one shuffle
      .select(col("doc_id"), fp.as("h"))
      .groupBy("doc_id").agg(collect_set(col("h")).as("hs"))
      .localCheckpoint(true)
    cand
      .join(sets.select(col("doc_id").as("id_a"), col("hs").as("hs_a")), Seq("id_a"))
      .join(sets.select(col("doc_id").as("id_b"), col("hs").as("hs_b")), Seq("id_b"))
      .withColumn("n_inter", size(array_intersect(col("hs_a"), col("hs_b"))).cast("long"))
      .withColumn("jaccard", col("n_inter").cast("double") /
        (size(col("hs_a")) + size(col("hs_b")) - col("n_inter")))
      .filter(col("jaccard") >= tau)
      .select("id_a", "id_b", "jaccard")
  }

  /** 64-bit SimHash per doc over 3-token shingles: sign of per-bit
    * sums of shingle hashes. Shingles, not raw tokens: the fixture
    * vocabulary is ~30 words, so token-bag simhash collides unrelated
    * docs (measured); shingles are order-sensitive and discriminative.
    * Implemented relationally (explode shingle × bit) so it scales the
    * same way as minhash; the bit loop is a 64-element array expr.
    */
  def simhash(docs: DataFrame, portableHash: Boolean = false): DataFrame =
    // whole-fingerprint expression: one codegen'd pass per doc, zero
    // shuffles (the round-3 form shuffled distinct (doc, hash) pairs
    // then 64 sum-aggregates; SketchExprSpec asserts bit-parity with
    // that relational form on non-null text). NULL-text docs are
    // DROPPED — which also fixes the round-1 relational form's
    // artifact where every NULL-text doc got the same constant
    // fingerprint (xxhash64 of a NULL shingle = the seed) and so all
    // NULL-text docs paired with each other at Hamming distance 0.
    // portableHash votes over the 60-bit md5-prefix fingerprint
    // instead of xxhash64 (bits 60..63 = 0) — the oracle-replayable
    // mode the declared q_simhash_near_dups runs in.
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        expr(s"${if (portableHash) "simhash64_md5" else "simhash64"}(text, 3)")
          .as("simhash"))

  /** SimHash near-dup pairs with Hamming distance ≤ maxDist, using
    * 16-bit block bucketing (pigeonhole: dist ≤ 3 ⇒ ≥1 of 4 blocks
    * equal) — candidates from equi-joins, verified with bit_count.
    */
  def simhashNearDups(docs: DataFrame, maxDist: Int = 3,
      portableHash: Boolean = false): DataFrame = {
    val sh = simhash(docs, portableHash)
    val blocks = sh.select(col("doc_id"), col("simhash"),
      explode(expr(
        "transform(sequence(0, 3), b -> struct(b AS blk, " +
          "CAST(shiftright(simhash, b * 16) & 65535 AS INT) AS blk_val))")).as("bv"))
      .select(col("doc_id"), col("simhash"), col("bv.blk"), col("bv.blk_val"))
    // Same within-bucket expansion as minhashCandidates (see there),
    // through the codegen'd payload_pairs generator — each pair needs
    // BOTH docs' simhash fingerprints, which ride as the generator's
    // 64-bit payload (round-14 review: this was the last interpreted
    // flatten/transform/slice site)
    blocks.groupBy("blk", "blk_val")
      .agg(collect_set(struct(col("doc_id").as("id"),
        col("simhash").as("p"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(expr("payload_pairs(ids)"))
      .select(col("id_a"), col("id_b"),
        col("p_a").as("sh_a"), col("p_b").as("sh_b"))
      .distinct()
      .withColumn("hamming", expr("bit_count(sh_a ^ sh_b)"))
      .filter(col("hamming") <= maxDist)
      .select("id_a", "id_b", "hamming")
  }

  /** Connected components over a near-dup pair set — the dedup
    * endgame: docs linked by any chain of near-dup pairs form one
    * family; the canonical survivor is the minimum doc_id. Implemented
    * as min-label propagation: every node starts labeled with itself;
    * each round takes the min of its own and its neighbors' labels;
    * converges in graph-diameter rounds (dup families are tiny, so
    * 2-4 rounds here). Each round is one equi-join + one aggregate —
    * at 100 TB this is the standard iterative-join pattern
    * (large-star/small-star halves the round count; labels would be
    * checkpointed to reliable storage instead of localCheckpoint).
    */
  def components(edges: DataFrame): DataFrame = {
    val sym = edges.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(edges.select(col("id_b").as("src"), col("id_a").as("dst")))
      .persist()
    var labels = sym.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
      .localCheckpoint(true)
    // Convergence check: labels only ever DECREASE (least of own and
    // neighbor min), so sum(label) is strictly monotone round-over-
    // round and an unchanged sum ⇔ fixpoint — one cheap aggregate over
    // the just-checkpointed relation per round, instead of the old
    // join-against-previous-labels + count (one fewer join and action
    // per round; at 100 TB the per-round job count IS the cost).
    // decimal(38,0) accumulation: a Long sum could wrap at extreme
    // node counts and alias two different label states
    def labelSum(df: DataFrame): java.math.BigDecimal = {
      val r = df.agg(sum(col("label").cast("decimal(38,0)"))).collect()(0)
      if (r.isNullAt(0)) java.math.BigDecimal.ZERO else r.getDecimal(0)
    }
    var prevSum = labelSum(labels)
    // no explicit empty check: an empty label set converges after one
    // (empty, near-free) round — cheaper than an extra action per call
    var converged = false
    while (!converged) {
      val nbr = sym
        .join(labels.select(col("node").as("dst"), col("label").as("dst_label")), Seq("dst"))
        .groupBy(col("src").as("node")).agg(min("dst_label").as("nbr_label"))
      val next = labels.join(nbr, Seq("node"), "left")
        .select(col("node"),
          least(col("label"), coalesce(col("nbr_label"), col("label"))).as("label"))
        // LAZY checkpoint: the labelSum action right below both
        // materializes the cut-lineage blocks and computes the
        // convergence sum — one job per round instead of two
        .localCheckpoint(false)
      val s = labelSum(next)
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      labels = next
    }

    sym.unpersist()
    labels
  }

  /** Alternating large-star / small-star connected components (the
    * MapReduce-and-beyond formulation) — the extreme-scale form that
    * [[components]]' scaladoc promises. Converges in O(log n)
    * alternations vs O(diameter) propagation rounds: a k-link chain
    * family needs ~log₂ k alternations instead of k rounds, and at
    * 100 TB the per-round job count IS the cost. Each alternation is
    * two (groupBy-min + equi-join) passes over the edge relation —
    * bounded shuffles, no driver-side graph state, no collect.
    *
    *  - large-star: every node connects its strictly-larger neighbors
    *    to the smallest node it can see (drags chain tails toward the
    *    minimum in one hop);
    *  - small-star: every node re-points itself and its smaller
    *    neighbors at their collective minimum (flattens the result
    *    into stars).
    *
    * Fixpoint = the edge set is stable = every node points directly at
    * its component minimum; labels fall straight out of the final
    * star edges. DedupSpec asserts equivalence with [[components]] on
    * planted families and the logarithmic round count on a long chain.
    *
    * `checkpointDir`: each round's edge relation must cut lineage
    * (iterative joins otherwise stack analysis cost per round).
    * None → eager `localCheckpoint` — executor-local blocks, fast, but
    * an executor death aborts the job. Some(dir) → parquet round-trip
    * to reliable storage, the 1000-executor deployment choice: a lost
    * executor replays the round from files, not from a dead peer's
    * memory.
    */
  def componentsStar(edges: DataFrame,
      checkpointDir: Option[String] = None): DataFrame =
    componentsStarCounted(edges, checkpointDir)._1

  private[graft] def componentsStarCounted(edges: DataFrame,
      checkpointDir: Option[String] = None): (DataFrame, Int) = {
    val spark = edges.sparkSession
    var round = 0
    // each run writes under a unique subdir — concurrent runs sharing
    // a checkpoint root must not overwrite each other's round files —
    // and eagerly deletes round N-1 once round N is durably written
    // (N-1 is the recovery point only while N is in flight); the LAST
    // round's files back the returned labels frame, so they stay until
    // the caller is done with it
    // Hadoop FileSystem, NOT java.nio (round-14 review): Spark writes
    // the round parquet through the checkpoint path's OWN filesystem
    // (hdfs://, s3a://, file:), and a driver-local nio mkdir/walk
    // would silently manage a different tree on a cluster — the eager
    // round-N−1 delete would never fire and rounds would accumulate
    // unboundedly on the reliable store this path exists for.
    lazy val fs = new org.apache.hadoop.fs.Path(checkpointDir.get)
      .getFileSystem(spark.sessionState.newHadoopConf())
    lazy val runDir: org.apache.hadoop.fs.Path = {
      val root = new org.apache.hadoop.fs.Path(checkpointDir.get)
      // UUID replaces createTempDirectory's uniqueness — collision-free
      // across concurrent runs sharing one checkpoint root on ANY fs
      val p = new org.apache.hadoop.fs.Path(root,
        s"cc-run-${java.util.UUID.randomUUID()}")
      fs.mkdirs(p)
      p
    }
    var prevCkptPath: Option[org.apache.hadoop.fs.Path] = None
    def dropPrevCkpt(): Unit = prevCkptPath.foreach { p =>
      try { fs.delete(p, true); () } catch { case NonFatal(_) => () }
    }
    def ckpt(df: DataFrame): DataFrame = checkpointDir match {
      case Some(_) =>
        val path = new org.apache.hadoop.fs.Path(runDir, s"cc-round-$round")
        df.write.mode("overwrite").parquet(path.toString)
        dropPrevCkpt()
        prevCkptPath = Some(path)
        spark.read.parquet(path.toString)
      // LAZY: the convergence aggregate below materializes the
      // cut-lineage blocks AND computes the round signature in the
      // same job — one job per round (the [[components]] pattern)
      case None => df.localCheckpoint(false)
    }
    // canonical orientation: larger endpoint first, self-loops dropped
    var e = ckpt(edges
      .select(greatest(col("id_a"), col("id_b")).cast("long").as("u"),
        least(col("id_a"), col("id_b")).cast("long").as("v"))
      .filter(col("u") =!= col("v")).distinct())
    // Round signature (cardinality, order-independent 64-bit hash sum):
    // equal signatures ⇔ identical edge set up to a 2⁻⁶⁴ xxhash64
    // collision — deterministic for a given input, and one aggregate
    // job instead of a count + a full set-difference per round.
    def signature(df: DataFrame): (Long, java.math.BigDecimal) = {
      val r = df.agg(count(lit(1)),
        sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)"))).collect()(0)
      (r.getLong(0), if (r.isNullAt(1)) java.math.BigDecimal.ZERO else r.getDecimal(1))
    }
    def largeStar(ed: DataFrame): DataFrame = {
      val sym = ed.union(ed.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      sym.join(mins, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    }
    def smallStar(ed: DataFrame): DataFrame = {
      // input is oriented u > v, so every neighbor here is smaller
      val mins = ed.groupBy("u").agg(min("v").as("m"))
      ed.join(mins, Seq("u"))
        .select(explode(array(
          struct(col("v").as("a"), col("m").as("b")),
          struct(col("u").as("a"), col("m").as("b")))).as("p"))
        .select(col("p.a").as("u"), col("p.b").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    }

    // compareTo, not tuple equality: BigDecimal.equals is
    // scale-sensitive (0 at scale 0 ≠ 0.00 at scale 2), so `sig ==
    // prevSig` worked only because both sides always came from the
    // same decimal(38,0) aggregate — fragile to any change in the
    // signature expression (round-5 advice)
    def sameSig(a: (Long, java.math.BigDecimal), b: (Long, java.math.BigDecimal)) =
      a._1 == b._1 && a._2.compareTo(b._2) == 0
    var prevSig = signature(e)
    var converged = prevSig._1 == 0L
    while (!converged) {
      round += 1
      val next = ckpt(smallStar(largeStar(e)))
      val sig = signature(next)
      converged = sameSig(sig, prevSig)
      prevSig = sig
      e = next
    }
    // node set from the FINAL star edges — not the raw input (an
    // expensive near-dup pipeline that must not re-run) and not the
    // round-0 checkpoint (whose files the eager cleanup already
    // deleted). Star rounds preserve the node set of every ≥2-node
    // component, and self-loop-only nodes were dropped at
    // canonicalization — a self-pair carries no dedup information.
    val nodes = e.select(col("u").as("node"))
      .union(e.select(col("v").as("node"))).distinct()
    val labels = nodes
      .join(e.select(col("u").as("node"), col("v").as("star_min")), Seq("node"), "left")
      .groupBy("node").agg(min("star_min").as("sm"))
      .select(col("node"), coalesce(col("sm"), col("node")).as("label"))
    (labels, round)
  }

  /** Incremental exact dedup — the ingest gate of a continuously-fed
    * corpus: which new-batch docs are byte-identical to something in
    * the historical corpus? Two phases, the standard scale shape:
    *
    *  1. PRUNE: a Bloom filter over the historical content hashes
    *    (built once per historical snapshot; broadcastable — ~1.2 GB
    *    per 10⁹ docs at 1 % fpp) filters the batch in one codegen'd
    *    scan. "Might contain" = false proves NEW — typically ≥ 99 %
    *    of an incoming crawl batch exits here without touching the
    *    historical relation at all.
    *  2. VERIFY: only bloom hits (true dups + fpp false positives)
    *    pay the exact semi-join against the historical corpus.
    *
    * The filter is an OPTIMIZATION, invisible in the result — output
    * equals a plain `batch SEMI JOIN historical ON text`, so the
    * declared query stays oracle-gated. Returns the batch rows that
    * ARE historical dups (callers anti-join to keep survivors).
    */
  def incrementalExactDups(historical: DataFrame, batch: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftshim.{toColumn, toExpression}
    val hashes = historical.select(xxhash64(col("text")).as("h"))
    // sizing scan touches one long column; at scale the count rides
    // the snapshot's metadata instead
    val n = hashes.count()
    // empty history: nothing can be a dup (and stat.bloomFilter over
    // zero rows yields a null sketch buffer)
    if (n == 0L) return batch.limit(0)
    val bloom = hashes.stat.bloomFilter("h", n, 0.01)
    val pruned = batch.filter(toColumn(graft.functions.BloomMightContain(
      toExpression(xxhash64(col("text"))), bloom)))
    pruned.join(historical.select("text"), Seq("text"), "left_semi")
  }

  /** Winnowing document fingerprints (rolling-hash family): shingle
    * hashes → min per sliding window of w — the classic MOSS scheme.
    * Deterministic, and with `portableHash` fully replayable in DuckDB
    * SQL (the declared `q_winnow_fingerprints` is value-gated on that
    * mode); ScalaTest asserts dup families share fingerprints and
    * pins bit-parity between this relational form and the fused
    * [[graft.functions.WinnowFps]] expression in BOTH hash modes.
    */
  def winnowFingerprints(docs: DataFrame, n: Int = 3, w: Int = 4,
      portableHash: Boolean = false): DataFrame = {
    // positional shingles with duplicates — exactly the generator's
    // native output (the old posexplode(transform(...)) shape).
    // portableHash selects the oracle-replayable 60-bit md5 prefix
    // (the [[graft.functions.WinnowFps]] md5 mode contract) instead of
    // the family xxhash64 — same winnow algebra either way.
    val h =
      if (portableHash)
        expr("conv(substring(md5(shingle), 1, 15), 16, 10)").cast("long")
      else xxhash64(col("shingle"))
    val sh = shingleRows(docs, n).withColumn("h", h)
    val win = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(-(w - 1), Window.currentRow)
    sh.withColumn("fp", min("h").over(win))
      .select("doc_id", "fp").distinct()
  }

  /** Cross-doc repeated-passage detection — the overlap class doc-level
    * sketches miss: two long documents sharing one lifted paragraph
    * have tiny whole-doc Jaccard (MinHash never pairs them) but their
    * winnowing fingerprints collide exactly on the shared passage.
    * Docs sharing ≥ `minShared` fingerprints pair up, scored by
    * shared-fingerprint count and overlap fraction vs the smaller doc.
    *
    * Scale shape: fingerprints are already the winnowed ~1/w sample of
    * each doc's shingles; pairing is the LSH bucket pattern (groupBy
    * fingerprint + in-place ordered-pair expansion — no self-join
    * double scan), and the `maxDf` ceiling drops fingerprints shared
    * by more docs than that: a fingerprint in half the corpus is
    * boilerplate, not passage reuse, and its pair set is quadratic —
    * the same document-frequency guard every production decon/dedup
    * gram pipeline applies.
    */
  def passageOverlapPairs(docs: DataFrame, n: Int = 3, w: Int = 4,
      minShared: Int = 2, maxDf: Int = 64,
      portableHash: Boolean = false): DataFrame = {
    val winnowFn = if (portableHash) "winnow_fps_md5" else "winnow_fps"
    // fused winnowing (one codegen'd pass per doc, no window sort);
    // each exploded row carries its doc's fingerprint count so the
    // overlap denominator needs no second scan or join. NULL text is
    // filtered BEFORE the projection (the only NULL-fps source — for
    // non-null text the cursor always emits >= 1 fingerprint): a
    // filter on fps itself would be pushed below the Project by
    // substituting the expression, paying winnow_fps once per
    // predicate occurrence on top of the projection's own eval
    // (round-5 verdict #1; PlanSpec counts occurrences). The filter
    // InferFiltersFromGenerate derives for the explode is hoisted back
    // out by [[graft.plans.SingleEvalExpensive]].
    val rows = docs
      .filter(col("text").isNotNull)
      .select(col("doc_id"), expr(s"$winnowFn(text, $n, $w)").as("fps"))
      .select(col("doc_id"), size(col("fps")).as("nf"),
        explode(col("fps")).as("fp"))
    rows.groupBy("fp")
      // fps are distinct WITHIN a doc, so each doc contributes at most
      // one row per fp-group: collect_list is set-equivalent and skips
      // the per-element dedup cost. No sort_array (CodegenFallback) —
      // ordered_pairs sorts by doc_id internally and emits id_a < id_b.
      .agg(collect_list(struct(col("doc_id"), col("nf"))).as("ids"))
      .filter(size(col("ids")) > 1 && size(col("ids")) <= maxDf)
      // codegen'd generator (see OrderedPairs scaladoc for why not the
      // interpreted transform/slice/flatten combinator form): yields
      // (id_a, id_b, lnf) per bucket pair, lnf pre-reduced so the
      // count-shared aggregation groups by the narrow 2-long key and
      // min(lnf) rides along as an agg (constant within a pair group)
      .select(expr("ordered_pairs(ids)"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_shared_fps"), min("lnf").as("lnf"))
      .filter(col("n_shared_fps") >= minShared)
      .select(col("id_a"), col("id_b"), col("n_shared_fps"),
        round(col("n_shared_fps").cast("double") / col("lnf"), 6).as("overlap"))
  }

  /** Shared oracle fragment: positional n=3 shingles + the winnow
    * trailing-window (w=4) minimum over the portable 60-bit md5-prefix
    * hash — DuckDB's `CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)`
    * is bit-identical to the [[graft.functions.WinnowFps]] md5 mode
    * (and to Spark's `conv(substring(md5(s),1,15),16,10)`), which is
    * what makes the declared winnow queries value-gateable at all
    * (round-7 verdict #4: xxhash64 has no DuckDB twin).
    */
  private val winnowOracleCtes =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
      |           WHERE text IS NOT NULL),
      |sh AS (
      |  SELECT doc_id, i AS pos,
      |         CASE WHEN len(w) < 3 THEN array_to_string(w, ' ')
      |              ELSE w[i] || ' ' || w[i+1] || ' ' || w[i+2] END AS shingle
      |  FROM t, LATERAL (
      |    SELECT unnest(generate_series(1, greatest(len(w) - 2, 1))) AS i) s),
      |wm AS (
      |  SELECT doc_id,
      |         min(CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT))
      |           OVER (PARTITION BY doc_id ORDER BY pos
      |                 ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fp
      |  FROM sh)""".stripMargin

  // ---- declared queries: the ENTIRE deterministic dedup family is
  // oracle-gated via the portable md5-prefix hash (minhash-LSH,
  // simhash, winnowing, passage overlap); xxhash64 forms remain the
  // production defaults with spec gates ----

  /** The full MinHash-LSH pipeline, VALUE-gated end-to-end (round 8):
    * portable md5-family signatures → raw-tuple band buckets → exact
    * shingle-set Jaccard verify at τ=0.5 — every stage replayed by
    * the oracle SQL, so the gate covers candidate GENERATION (which
    * pair even gets verified), not just the verification arithmetic
    * that `q_near_dup_pairs` already pins. The xxhash64 production
    * pipeline ([[minhashNearDups]]) keeps its planted-family spec
    * gates and the streaming-twin equality check.
    */
  val qMinhash = DeclaredQuery(
    "q_minhash_near_dups",
    s"""$winnowOracleCtes,
       |g AS (SELECT DISTINCT doc_id,
       |             CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) AS h
       |      FROM sh),
       |cnt AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1),
       |mh AS (
       |  SELECT s.doc_id, i.i,
       |         min(CAST((
       |           CAST((CAST('0x' || substr(md5('a:' || i.i), 1, 15) AS BIGINT) | 1) AS HUGEINT)
       |           * CAST('0x' || substr(md5(s.shingle), 1, 15) AS BIGINT)
       |           + CAST('0x' || substr(md5('b:' || i.i), 1, 15) AS BIGINT)
       |         ) % 2305843009213693951 AS BIGINT)) AS mh
       |  FROM sh s, LATERAL (SELECT unnest(generate_series(0, 15)) AS i) i
       |  GROUP BY 1, 2),
       |bands AS (
       |  SELECT doc_id, i // 4 AS band, list(mh ORDER BY i) AS key
       |  FROM mh GROUP BY 1, 2),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
       |inter AS (
       |  SELECT c.id_a, c.id_b, count(*) AS n_inter
       |  FROM cand c
       |  JOIN g a ON a.doc_id = c.id_a
       |  JOIN g b ON b.doc_id = c.id_b AND b.h = a.h
       |  GROUP BY 1, 2)
       |SELECT i.id_a, i.id_b,
       |       round(CAST(i.n_inter AS DOUBLE) / (ca.n + cb.n - i.n_inter), 6) AS jaccard
       |FROM inter i
       |JOIN cnt ca ON ca.doc_id = i.id_a
       |JOIN cnt cb ON cb.doc_id = i.id_b
       |WHERE CAST(i.n_inter AS DOUBLE) / (ca.n + cb.n - i.n_inter) >= 0.5
       |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    // eager localCheckpoint, not persist: blocks are freed when this
    // plan is GC'd instead of pinning the CacheManager (round-8 advice)
    val cand = minhashCandidatesPortable(docs).localCheckpoint(true)
    verifyCandidates(docs, cand, portableHash = true)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy("id_a", "id_b")
  }

  /** SimHash near-dups, VALUE-gated (round 8): md5-mode 60-bit votes,
    * 16-bit block buckets, Hamming ≤ 3 — bucketing, vote signs, and
    * the bit_count verify all replayed in the oracle. Production
    * xxhash64 simhash keeps its spec gates.
    */
  val qSimhash = DeclaredQuery(
    "q_simhash_near_dups",
    s"""$winnowOracleCtes,
       |f AS (SELECT DISTINCT doc_id,
       |             CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) AS fp
       |      FROM sh),
       |bits AS (
       |  SELECT doc_id, b.b,
       |         sum(CASE WHEN (fp >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
       |  FROM f, LATERAL (SELECT unnest(generate_series(0, 59)) AS b) b
       |  GROUP BY 1, 2),
       |simh AS (
       |  SELECT doc_id,
       |         CAST(sum(CASE WHEN v > 0 THEN CAST(1 AS BIGINT) << b ELSE 0 END)
       |           AS BIGINT) AS sh64
       |  FROM bits GROUP BY 1),
       |blk AS (
       |  SELECT doc_id, sh64, b.b AS blk, (sh64 >> (b.b * 16)) & 65535 AS blk_val
       |  FROM simh, LATERAL (SELECT unnest(generate_series(0, 3)) AS b) b),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |         a.sh64 AS sa, b.sh64 AS sb
       |  FROM blk a JOIN blk b
       |    ON a.blk = b.blk AND a.blk_val = b.blk_val AND a.doc_id < b.doc_id)
       |SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
       |FROM pairs WHERE bit_count(xor(sa, sb)) <= 3
       |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
    simhashNearDups(Tables.documents(s, d), portableHash = true)
      .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
      .orderBy("id_a", "id_b")
  }


  val qWinnow = DeclaredQuery(
    "q_winnow_fingerprints",
    s"""$winnowOracleCtes
       |SELECT doc_id, CAST(count(DISTINCT fp) AS BIGINT) AS n_fingerprints
       |FROM wm GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin) { (s, d) =>
    // fused winnow_fps_md5: per-doc fingerprint count is one codegen'd
    // scan — no shingle explode, no per-doc window sort, no distinct
    // exchange (SketchExprSpec asserts bit-parity with the relational
    // winnowFingerprints form). text.isNotNull replaces the old
    // fps.isNotNull filter (equivalent: NULL text is the only NULL-fps
    // source) — filtering on fps pushed the predicate below the
    // Project by substitution, evaluating winnow_fps twice per row
    // (round-5 verdict #1; PlanSpec counts occurrences)
    Tables.documents(s, d)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), expr("winnow_fps_md5(text, 3, 4)").as("fps"))
      .select(col("doc_id"), size(col("fps")).cast("long").as("n_fingerprints"))
      .orderBy("doc_id")
  }

  val qPassageOverlap = DeclaredQuery(
    "q_passage_overlap",
    s"""$winnowOracleCtes,
       |fps AS (SELECT DISTINCT doc_id, fp FROM wm),
       |cnt AS (SELECT doc_id, count(*) AS nf FROM fps GROUP BY doc_id),
       |dfr AS (SELECT fp, count(*) AS df FROM fps GROUP BY fp),
       |pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
       |  FROM fps a JOIN dfr USING (fp)
       |  JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |  WHERE dfr.df BETWEEN 2 AND 64
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b, CAST(n_shared AS BIGINT) AS n_shared_fps,
       |       round(n_shared / CAST(least(ca.nf, cb.nf) AS DOUBLE), 6) AS overlap
       |FROM pairs
       |JOIN cnt ca ON ca.doc_id = id_a
       |JOIN cnt cb ON cb.doc_id = id_b
       |WHERE n_shared >= 2
       |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
    passageOverlapPairs(Tables.documents(s, d), portableHash = true)
      .orderBy("id_a", "id_b")
  }

  val all: Seq[DeclaredQuery] = Seq(qMinhash, qSimhash, qWinnow, qPassageOverlap)
}
