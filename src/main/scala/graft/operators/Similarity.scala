package graft.operators

import graft.{DeclaredQuery, Tables}
import graft.functions.VectorFunctions.vec_dot
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate nearest-neighbor search over embedding columns
  * (SURVEY.md §2 K3, prompt's similarity-search requirement).
  *
  * Two paths:
  *   - [[bruteForceTopK]]: broadcast the (small) query set, codegen'd
  *     dot product against every candidate, per-query top-k window.
  *     Exact; the oracle-checked q_cosine_topk uses this shape. Scales
  *     to any candidate count (linear scan, no shuffle on the fact
  *     side) but pays full corpus cost per query batch.
  *   - [[lshTopK]]: random-hyperplane LSH — 16 seeded hyperplanes →
  *     sign bits → bucket id; only same-bucket (and optionally
  *     neighboring-probe) candidates are scored. At 100 TB this turns
  *     a full scan into an equi-join on bucket id. Randomized →
  *     rows-only check + ScalaTest recall assertion vs brute force.
  *
  * Hyperplanes are generated from a fixed seed on the driver (tiny,
  * broadcast as literals) — deterministic across runs.
  */
object Similarity {

  val Dim = 64

  /** Deterministic pseudo-random unit hyperplanes (Gaussian via
    * Box-Muller from a seeded PRNG).
    */
  def hyperplanes(nPlanes: Int, seed: Long = 42L): Seq[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(nPlanes) {
      val v = Array.fill(Dim)(rnd.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / norm)
    }
  }

  private def planeCol(p: Array[Double]) =
    array(p.toIndexedSeq.map(x => lit(x.toFloat)): _*)

  /** LSH bucket id: one sign bit per hyperplane, fused into a single
    * array traversal ([[graft.functions.SignBucket]] — bucket
    * assignment is a full-corpus scan, so the composed per-plane
    * `vec_dot` form paid nPlanes array reads per row). Bit-parity with
    * [[bucketColComposed]] is spec-asserted; the `coalesce` preserves
    * the composed form's NULL-embedding → bucket 0 semantics (each
    * plane's `when` fell through to `otherwise(0)`), which the
    * q_lsh_semantic_dedup oracle's `CASE ... ELSE 0` mirrors.
    */
  def bucketCol(embCol: String, planes: Seq[Array[Double]]) = {
    import org.apache.spark.sql.graftshim.{toColumn, toExpression}
    coalesce(
      toColumn(graft.functions.SignBucket(toExpression(col(embCol)),
        planes.map(p => p.map(_.toFloat).toIndexedSeq).toIndexedSeq)),
      lit(0L))
  }

  /** The composed per-plane form — the parity reference the fused
    * expression is spec'd against (and the shape the oracle SQL
    * replays plane-by-plane).
    */
  private[graft] def bucketColComposed(embCol: String, planes: Seq[Array[Double]]) =
    planes.zipWithIndex.map { case (p, i) =>
      when(vec_dot(col(embCol), planeCol(p)) >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Exact brute-force cosine top-k: queries × candidates via
    * broadcast, ranked per query.
    */
  def bruteForceTopK(queries: DataFrame, candidates: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val sims = candidates.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), vec_dot(col("q_emb"), col("embedding")).as("cos_sim"))
    val w = Window.partitionBy("q_id").orderBy(col("cos_sim").desc, col("vec_id"))
    sims.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
  }

  /** LSH-bucketed approximate top-k: score only same-bucket pairs.
    * nPlanes controls recall/cost: fewer planes → bigger buckets →
    * higher recall, more work.
    *
    * Multi-probe (`maxFlips` > 0): each query additionally probes
    * every bucket within Hamming distance `maxFlips` in sign-bit
    * space — the standard recall/cost knob (a near neighbor that
    * landed on the far side of 1–2 hyperplanes is recovered without
    * rebuilding with fewer planes). The expansion is QUERY-side only:
    * the tiny broadcast set fans out ×Σ C(nPlanes, f), the corpus is
    * still hashed once and joined by bucket equi-join; dedup of a
    * candidate reachable through several probed buckets happens
    * before scoring, so each (query, candidate) pays one dot product.
    */
  def lshTopK(queries: DataFrame, candidates: DataFrame, k: Int,
      nPlanes: Int = 8, maxFlips: Int = 0): DataFrame = {
    require(maxFlips >= 0 && maxFlips <= nPlanes, s"lshTopK: bad maxFlips=$maxFlips")
    val planes = hyperplanes(nPlanes)
    // enumerate flip masks combinatorially — Σ C(nPlanes, f) masks, not
    // a 2^nPlanes power-set filter (which would hang the driver at
    // moderate plane counts and empty out at nPlanes ≥ 63)
    def masksWithFlips(f: Int): Seq[Long] =
      if (f == 0) Seq(0L)
      else (0 until nPlanes).combinations(f)
        .map(_.foldLeft(0L)((m, b) => m | (1L << b))).toSeq
    val masks = (0 to maxFlips).flatMap(masksWithFlips)
    val qb = queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      .withColumn("b0", bucketCol("q_emb", planes))
      .withColumn("bucket",
        explode(array(masks.map(m => col("b0").bitwiseXOR(lit(m))): _*)))
      .drop("b0")
    val cb = candidates
      .withColumn("bucket", bucketCol("embedding", planes))
    val hits = cb.join(broadcast(qb), Seq("bucket"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("q_emb"), col("vec_id"), col("embedding"))
    // a candidate may share several probed buckets with a query —
    // score each pair once (single-probe buckets are disjoint, so the
    // dedup shuffle exists only when probing fans out)
    val deduped = if (maxFlips == 0) hits else hits.dropDuplicates("q_id", "vec_id")
    val sims = deduped
      .select(col("q_id"), col("vec_id"), vec_dot(col("q_emb"), col("embedding")).as("cos_sim"))
    val w = Window.partitionBy("q_id").orderBy(col("cos_sim").desc, col("vec_id"))
    sims.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
  }

  /** IVF (inverted-file) ANN, split into its two real phases:
    *
    *  - [[buildIvfIndex]] — one seeded MLlib KMeans fit assigns every
    *    candidate to a centroid cell. At 100 TB the `indexed` relation
    *    is written ONCE as a cell-partitioned table
    *    (`write.partitionBy("cell")`) and reused by every probe —
    *    rebuilding a coarse quantizer per query batch is the classic
    *    ANN anti-pattern. Centroids are model parameters
    *    (~nCells×64 floats), driver-resident at any corpus size.
    *  - [[probeIvf]] — queries probe only their `nProbe` nearest
    *    cells: an equi-join on cell id against the stored index (or a
    *    partition-pruned scan of the cell-partitioned table), the IVF
    *    trade of recall for a corpus-fraction scan.
    *
    * [[ivfTopK]] composes the two for the single-shot declared query.
    */
  final case class IvfIndex(
      centroids: Array[(org.apache.spark.ml.linalg.Vector, Int)],
      indexed: DataFrame)

  /** Fit the coarse quantizer and assign cells. None on an empty
    * corpus (KMeans cannot fit zero rows; empty partitions and fresh
    * tables are routine at scale, not a crash).
    */
  def buildIvfIndex(candidates: DataFrame, nCells: Int = 16,
      seed: Long = 42L): Option[IvfIndex] = {
    import org.apache.spark.ml.clustering.KMeans
    // Spark's own array->Vector bridge (ml.functions.array_to_vector;
    // the float array upcasts to double on the way in) — no hand UDF.
    val withFeatures = candidates.withColumn("features",
      org.apache.spark.ml.functions.array_to_vector(col("embedding")))
    if (withFeatures.isEmpty) None
    else {
      val model = new KMeans().setK(nCells).setSeed(seed)
        .setMaxIter(5) // coarse quantizer: cell boundaries, not convergence
        .setFeaturesCol("features").setPredictionCol("cell")
        .fit(withFeatures)
      Some(IvfIndex(
        model.clusterCenters.zipWithIndex,
        model.transform(withFeatures)
          .select(col("vec_id"), col("embedding"), col("cell"))))
    }
  }

  /** Probe the nProbe nearest cells per query and take exact top-k
    * within the probed fraction. Works identically against a freshly
    * built index or one reloaded from a cell-partitioned table.
    */
  /** nProbe-nearest-centroid cell list per query vector, as a pure
    * Column expression over embedded centroid constants (nCells×64
    * DOUBLES — model parameters, not data; literal arrays in the plan
    * exactly like the hyperplane constants in q_ann_lsh). Arithmetic
    * matches the udf it replaced exactly: the KMeans centroids stay
    * at their native double precision (rounding them to float could
    * flip the probe ranking of near-equidistant cells away from the
    * double-precision assignment the corpus vectors got — round-13
    * review), the float query coordinate widens to double, subtract/
    * square/accumulate all in double. Distance ties break by cell id
    * via lexicographic struct ordering — the same order a stable sort
    * over the index-ordered centroid array produces. The HOFs
    * (zip_with/aggregate/transform) are CodegenFallback like the udf
    * they replace — acceptable because this projects the QUERY set
    * (small side by definition), never the corpus; the win is an
    * expression tree Catalyst can see through (prunable, no closure
    * serialization), and zero hand `udf`s left in main source.
    */
  private def probeCellsCol(
      centroids: Array[(org.apache.spark.ml.linalg.Vector, Int)],
      nProbe: Int, q: Column): Column = {
    val scored = centroids.map { case (c, i) =>
      val cLit = lit(c.toArray) // Array[Double] — native model precision
      val d = aggregate(
        zip_with(q, cLit, (a, b) => (a - b) * (a - b)),
        lit(0.0), (acc, x) => acc + x)
      struct(d.as("d"), lit(i).as("i"))
    }
    transform(slice(array_sort(array(scored.toIndexedSeq: _*)), 1, nProbe),
      s => s.getField("i"))
  }

  def probeIvf(index: IvfIndex, queries: DataFrame, k: Int,
      nProbe: Int = 2): DataFrame = {
    val q = queries
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      // NULL query embeddings are skipped like annHnsw/buildShardGraphs
      // skip NULL corpus rows: without this, every centroid distance is
      // null and array_sort's tie-break would fabricate cells 0..nProbe-1
      // for a query that has no vector (round-13 review; the old udf NPE'd).
      // A NULL ELEMENT inside an otherwise non-null embedding has the same
      // failure shape (one null term nulls the whole zip_with/aggregate
      // distance), so the guard covers both (round-14 advice).
      .filter(col("q_emb").isNotNull && forall(col("q_emb"), e => e.isNotNull))
      .withColumn("cell", explode(probeCellsCol(index.centroids, nProbe, col("q_emb"))))
    val sims = index.indexed.join(broadcast(q), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        vec_dot(col("q_emb"), col("embedding")).as("cos_sim"))
    val w = Window.partitionBy("q_id").orderBy(col("cos_sim").desc, col("vec_id"))
    sims.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
  }

  /** Build-once / probe-many: the index is a pure function of the
    * corpus directory (seeded KMeans, fixed data), so build it once,
    * persist the cell-assigned relation as a cell-partitioned parquet
    * table, and serve every later probe from the reload — the real
    * IVF deployment shape (quantizer trained offline, probes pay only
    * the equi-join). Cached vs fresh indexes are identical by
    * determinism. An empty corpus is not cached (retried — cheap, and
    * a fresh table may gain rows).
    */
  private val indexCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Array[(org.apache.spark.ml.linalg.Vector, Int)], String)]()

  def cachedIvfIndex(spark: org.apache.spark.sql.SparkSession,
      candidates: DataFrame, cacheKey: String,
      nCells: Int = 16, seed: Long = 42L): Option[IvfIndex] = {
    // build OUTSIDE the map (computeIfAbsent would hold the bin lock
    // for a whole KMeans fit + parquet write); racing builds are
    // idempotent (seeded), first put wins
    val entry = {
      val cached = indexCache.get(cacheKey)
      if (cached != null) cached
      else buildIvfIndex(candidates, nCells, seed) match {
        case None => null // empty corpus: not cached, retried next call
        case Some(idx) =>
          val path = graft.SparkEnv.scratchDir(
            s"ivf-index-${java.lang.Integer.toHexString(cacheKey.hashCode)}")
          idx.indexed.write.mode("overwrite").partitionBy("cell").parquet(path)
          val v = (idx.centroids, path)
          val prev = indexCache.putIfAbsent(cacheKey, v)
          if (prev != null) {
            // lost the race: the winner's path serves all probes, so
            // delete this build's just-written index dir — scratch is
            // tmpfs (/dev/shm), a leak here is leaked RAM
            deleteDir(path)
            prev
          } else v
      }
    }
    Option(entry).map { case (centroids, path) =>
      IvfIndex(centroids, spark.read.parquet(path)) }
  }

  /** Single-shot IVF: build + probe (the declared-query form). */
  def ivfTopK(queries: DataFrame, candidates: DataFrame, k: Int,
      nCells: Int = 16, nProbe: Int = 2, seed: Long = 42L): DataFrame =
    buildIvfIndex(candidates, nCells, seed) match {
      case Some(index) => probeIvf(index, queries, k, nProbe)
      case None =>
        // empty index -> empty result with the probe schema preserved
        queries
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
          .crossJoin(candidates.select(col("vec_id"), col("embedding")))
          .select(col("q_id"), col("vec_id"),
            vec_dot(col("q_emb"), col("embedding")).as("cos_sim"),
            lit(1).as("rn"))
          .limit(0)
    }

  /** Product-quantization ANN (the memory-compressed scale path):
    * vectors quantize to m one-byte codes (32× compression at
    * Dim=64/m=8 — the structure that keeps a 100 TB embedding
    * corpus's search set in memory), search is a linear ADC scan over
    * codes + exact re-rank of the top-R by original vectors.
    *
    *  - [[trainPq]] — m seeded per-subspace KMeans fits (the PQ
    *    codebook is model parameters: m×ksub×dsub floats,
    *    driver-resident at any corpus size).
    *  - [[pqTopK]] — encode candidates once ([[graft.functions.PqEncode]],
    *    codegen'd), broadcast the query set, rank by asymmetric
    *    distance ([[graft.functions.PqAdcDist]]), then re-rank the
    *    top-R approx hits exactly via a semi-join back to the raw
    *    vectors — the standard two-phase PQ retrieval. At 100 TB the
    *    coded relation is the persisted artifact (like the IVF cell
    *    table) and the raw-vector join touches only R rows per query.
    */
  def trainPq(candidates: DataFrame, m: Int = 8, ksub: Int = 16,
      seed: Long = 42L): Option[graft.functions.PqModel] = {
    import org.apache.spark.ml.clustering.KMeans
    require(Dim % m == 0,
      s"trainPq: m=$m must divide Dim=$Dim (trailing dims would be silently dropped)")
    if (candidates.isEmpty) return None
    val dsub = Dim / m
    val cents = (0 until m).map { s =>
      // built-in slice (1-based) + Spark's array->Vector bridge — the
      // per-subspace feature column without a hand UDF
      val sub = candidates.withColumn("features",
        org.apache.spark.ml.functions.array_to_vector(
          slice(col("embedding"), s * dsub + 1, dsub)))
      new KMeans().setK(ksub).setSeed(seed + s).setMaxIter(5)
        .setFeaturesCol("features").setPredictionCol("code")
        .fit(sub)
        .clusterCenters.map(_.toArray.map(_.toFloat))
    }.toArray
    Some(graft.functions.PqModel(m, dsub, ksub, cents))
  }

  /** The PQ-coded relation — the BUILD step's product and, persisted,
    * THE stored search artifact at scale (32× smaller than the raw
    * corpus at Dim=64/m=8). NULL embeddings encode to NULL codes and
    * are dropped here, or the ascending ADC ordering (NULLS FIRST)
    * would fill shortlists with unrankable rows.
    */
  def pqCodes(candidates: DataFrame, model: graft.functions.PqModel): DataFrame = {
    import org.apache.spark.sql.graftshim.{toColumn, toExpression}
    candidates.select(col("vec_id"),
      toColumn(graft.functions.PqEncode(toExpression(col("embedding")), model))
        .as("codes"))
      .filter(col("codes").isNotNull)
  }

  def pqTopK(queries: DataFrame, candidates: DataFrame, k: Int,
      model: graft.functions.PqModel, rerank: Int = 32,
      codedRel: Option[DataFrame] = None): DataFrame = {
    // probe-many deployments pass the PERSISTED coded relation
    // (cachedPqCodes) so probing never re-encodes the raw corpus —
    // encoding per probe call was round-5 verdict #3; the inline
    // fallback remains the single-shot/build path
    import org.apache.spark.sql.graftshim.{toColumn, toExpression}
    val coded = codedRel.getOrElse(pqCodes(candidates, model))
    val q = queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val approx = coded.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("q_emb"), col("vec_id"),
        toColumn(graft.functions.PqAdcDist(
          toExpression(col("codes")), toExpression(col("q_emb")), model))
          .as("adc"))
      .filter(col("adc").isNotNull) // wrong-dim queries rank nothing
    val wApprox = Window.partitionBy("q_id").orderBy(col("adc").asc, col("vec_id"))
    val shortlist = approx.withColumn("arn", row_number().over(wApprox))
      .filter(col("arn") <= rerank)
      .select("q_id", "q_emb", "vec_id")
    // exact re-rank of the shortlist only (R rows per query)
    val sims = shortlist
      .join(candidates.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .select(col("q_id"), col("vec_id"),
        vec_dot(col("q_emb"), col("embedding")).as("cos_sim"))
    val w = Window.partitionBy("q_id").orderBy(col("cos_sim").desc, col("vec_id"))
    sims.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
  }

  /** IVF-PQ: the production 100 TB ANN shape — both prunings composed.
    * IVF prunes WHICH vectors are scanned (only the `nProbe` probed
    * cells' members); PQ prunes WHAT is scanned (one m-byte code per
    * member instead of the raw vector); exact re-rank of the top-R
    * restores precision. The persisted artifact is the cell-partitioned
    * `(cell, vec_id, codes)` relation — at Dim=64/m=8 it is 32× smaller
    * than the raw corpus AND each query batch touches only
    * nProbe/nCells of it, so the scan cost drops multiplicatively.
    * ADC distances are computed strictly AFTER the cell equi-join
    * (SimilaritySpec asserts the plan), never over the full corpus.
    */
  /** The cell-partitioned PQ-coded relation `(cell, vec_id, codes)` —
    * the IVF-PQ build product; persisted, it IS the stored index.
    */
  def ivfPqCodes(index: IvfIndex, model: graft.functions.PqModel): DataFrame = {
    import org.apache.spark.sql.graftshim.{toColumn, toExpression}
    index.indexed.select(col("cell"), col("vec_id"),
        toColumn(graft.functions.PqEncode(toExpression(col("embedding")), model))
          .as("codes"))
      .filter(col("codes").isNotNull)
  }

  def ivfPqTopK(index: IvfIndex, model: graft.functions.PqModel,
      queries: DataFrame, k: Int, nProbe: Int = 2, rerank: Int = 32,
      codedRel: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.graftshim.{toColumn, toExpression}
    // probe-many deployments pass the PERSISTED cell-partitioned code
    // relation (cachedIvfPqCodes); encoding per probe call re-scanned
    // the raw corpus — exactly what PQ exists to avoid at 100 TB
    // (round-5 verdict #3)
    val coded = codedRel.getOrElse(ivfPqCodes(index, model))
    val q = queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      .filter(col("q_emb").isNotNull && forall(col("q_emb"), e => e.isNotNull)) // see probeIvf's NULL-query note
      .withColumn("cell", explode(probeCellsCol(index.centroids, nProbe, col("q_emb"))))
    // cells are disjoint, so each (query, member) pair appears once
    val approx = coded.join(broadcast(q), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("q_emb"), col("vec_id"),
        toColumn(graft.functions.PqAdcDist(
          toExpression(col("codes")), toExpression(col("q_emb")), model))
          .as("adc"))
      .filter(col("adc").isNotNull)
    val wApprox = Window.partitionBy("q_id").orderBy(col("adc").asc, col("vec_id"))
    val shortlist = approx.withColumn("arn", row_number().over(wApprox))
      .filter(col("arn") <= rerank)
      .select("q_id", "q_emb", "vec_id")
    // exact re-rank touches only R raw vectors per query
    val sims = shortlist
      .join(index.indexed.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .select(col("q_id"), col("vec_id"),
        vec_dot(col("q_emb"), col("embedding")).as("cos_sim"))
    val w = Window.partitionBy("q_id").orderBy(col("cos_sim").desc, col("vec_id"))
    sims.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
  }

  /** Train-once cache per corpus dir, like [[cachedIvfIndex]]. */
  private val pqCache = new java.util.concurrent.ConcurrentHashMap[
    String, graft.functions.PqModel]()

  def cachedPqModel(candidates: DataFrame, cacheKey: String): Option[graft.functions.PqModel] = {
    // same pattern as cachedIvfIndex: train outside the bin lock
    val cached = pqCache.get(cacheKey)
    if (cached != null) Some(cached)
    else trainPq(candidates) match {
      case None => None
      case Some(m) =>
        val prev = pqCache.putIfAbsent(cacheKey, m)
        Some(if (prev != null) prev else m)
    }
  }

  private def deleteDir(path: String): Unit =
    graft.SparkEnv.deleteDir(path) // one shared impl (round-14 review)

  /** Build-once / probe-many PQ code relations (round-5 verdict #3):
    * the `(vec_id, codes)` / `(cell, vec_id, codes)` relations are
    * pure functions of (corpus dir, seeded model), so encode ONCE,
    * persist as parquet (cell-partitioned for IVF-PQ — probes prune
    * to their nProbe cells' directories), and serve every later probe
    * from the reload. Probing then reads the 32×-smaller code table
    * and never touches raw embeddings until the bounded re-rank —
    * re-encoding the corpus per probe call was the full-corpus scan
    * PQ exists to avoid. SimilaritySpec asserts probe plans contain
    * no `pq_encode`.
    */
  private val codesCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def cachedCodesPath(key: String, dirPrefix: String,
      write: String => Unit): String = {
    val cached = codesCache.get(key)
    if (cached != null) cached
    else {
      // build outside the bin lock; racing builds are idempotent
      // (seeded model, fixed corpus), first put wins, loser's dir is
      // deleted (scratch is tmpfs — a leak is leaked RAM)
      val path = graft.SparkEnv.scratchDir(
        s"$dirPrefix-${java.lang.Integer.toHexString(key.hashCode)}")
      write(path)
      val prev = codesCache.putIfAbsent(key, path)
      if (prev != null) { deleteDir(path); prev } else path
    }
  }

  def cachedPqCodes(spark: org.apache.spark.sql.SparkSession,
      candidates: DataFrame, cacheKey: String,
      model: graft.functions.PqModel): DataFrame = {
    val path = cachedCodesPath(s"pq:$cacheKey", "pq-codes",
      p => pqCodes(candidates, model).write.mode("overwrite").parquet(p))
    spark.read.parquet(path)
  }

  def cachedIvfPqCodes(spark: org.apache.spark.sql.SparkSession,
      index: IvfIndex, cacheKey: String,
      model: graft.functions.PqModel): DataFrame = {
    val path = cachedCodesPath(s"ivfpq:$cacheKey", "ivfpq-codes",
      p => ivfPqCodes(index, model).write.mode("overwrite")
        .partitionBy("cell").parquet(p))
    spark.read.parquet(path)
  }

  /** Shared core for [[semanticDedup]] / [[lshSemanticDedup]]:
    * `assigned` = (vec_id, embedding, grp). Duplicate edges are
    * same-grp pairs with cosine ≥ tau; connected components over those
    * edges ([[graft.operators.Dedup.componentsStar]], the
    * O(log n)-round large-star/small-star form) pick the minimum
    * vec_id as each family's canonical survivor.
    *
    * Scale shape: the within-group threshold join reuses the balanced
    * block-pair decomposition of [[graft.queries.LlmOps.embedNearDupBlocked]]
    * with `grp` PREPENDED to the equi key — each group is evaluated as
    * B² bounded tiles, so a skewed quantizer cell (the SemDeDup
    * failure mode: one mega-cluster of boilerplate embeddings) becomes
    * many even tasks instead of one quadratic straggler. Per-task
    * memory is (|grp|/B)² comparisons over (|grp|/B)-row tiles; B
    * scales with the largest expected cell, independently of corpus
    * size. The id predicate sits before the dot product in the join
    * condition so the generated And short-circuits — the dropped half
    * of each tile never pays the 64-wide multiply.
    */
  private[graft] def groupedDedupEdges(assigned: DataFrame, tau: Double,
      blocks: Int): DataFrame = {
    val prepped = assigned.select(col("grp"), col("vec_id"), col("embedding"),
      pmod(xxhash64(col("vec_id")), lit(blocks)).cast("int").as("blk"))
    val partners = sequence(lit(0), lit(blocks - 1))
    // explicit tile-key repartition of the probe side — the
    // embedNearDupBlocked `parts` rationale (r16): per-row work here is
    // O(|grp|/B) comparisons, so byte-based sizing (broadcast keeping
    // the scan's single partition; AQE coalescing) serializes the
    // quadratic tile evaluation onto one task. The key is the join's
    // own equi-key triple, so a sort-merge plan at scale reuses this
    // exchange verbatim; the local broadcast plan gains P probe tasks.
    val parts = graft.SparkEnv.shuffleParts(assigned.sparkSession)
    val a = prepped.select(col("grp"), col("vec_id").as("id_a"),
      col("embedding").as("emb_a"), col("blk").as("blk_a"),
      explode(partners).as("partner_a"))
      .repartition(parts, col("grp"), col("blk_a"), col("partner_a"))
    val b = prepped.select(col("grp").as("grp_b"), col("vec_id").as("id_b"),
      col("embedding").as("emb_b"), explode(partners).as("partner_b"),
      col("blk").as("blk_b"))
    a.join(b,
        col("grp") === col("grp_b") &&
          col("blk_a") === col("partner_b") && col("partner_a") === col("blk_b") &&
          col("id_a") < col("id_b") &&
          vec_dot(col("emb_a"), col("emb_b")) >= tau)
      .select("id_a", "id_b")
  }

  /** Train-once component labels per (session, cache key) — the
    * cachedRatioModel discipline, same rationale as the dedup-cluster
    * and IVF artifacts: a static corpus's duplicate families are a
    * build-once pipeline artifact (componentsStar returns a
    * checkpoint-backed relation, so cache hits re-scan materialized
    * blocks). `cacheKey = ""` (library callers without a corpus
    * identity) disables the memo.
    */
  private val dedupLabelCache = new java.util.concurrent.ConcurrentHashMap[
    (org.apache.spark.sql.SparkSession, String), DataFrame]()

  private def groupedDedup(assigned: DataFrame, tau: Double,
      blocks: Int, cacheKey: String = ""): DataFrame = {
    def build() = graft.operators.Dedup.componentsStar(
      groupedDedupEdges(assigned, tau, blocks))
    val labels =
      if (cacheKey.isEmpty) build()
      else graft.Memo.memo(dedupLabelCache,
        (assigned.sparkSession, cacheKey))(build())
    assigned.select(col("vec_id"), col("grp"))
      .join(labels.select(col("node").as("vec_id"), col("label")), Seq("vec_id"), "left")
      .select(col("vec_id"), col("grp"),
        coalesce(col("label"), col("vec_id")).as("group_id"))
      .withColumn("is_kept", (col("vec_id") === col("group_id")).cast("int"))
  }

  /** SemDeDup-style semantic deduplication (public method: Abbas et
    * al. 2023, arXiv:2303.09540): embeddings are coarse-quantized into
    * k-means cells — the SAME cached IVF index the ANN path persists,
    * so the quantizer is trained once per corpus and shared — and
    * near-duplicates are detected only WITHIN a cell. Exact
    * threshold-join dedup is Ω(n²) comparisons on near-uniform vectors
    * (see [[graft.queries.LlmOps.embedNearDup]]'s analysis); cells cut
    * that to Σ|cell|² ≈ n²/k with k growing with the corpus
    * (k ≈ n/10⁵ keeps cells bounded), which is what makes embedding
    * dedup feasible at 100 TB. Cross-cell duplicates are the accepted
    * recall trade, bounded by quantizer quality — near-identical
    * vectors share a nearest centroid except on a knife-edge boundary.
    */
  def semanticDedup(index: IvfIndex, tau: Double = 0.4,
      blocks: Int = 4): DataFrame =
    groupedDedup(
      index.indexed.select(col("vec_id"), col("embedding"), col("cell").as("grp")),
      tau, blocks)
      .withColumnRenamed("grp", "cell")

  /** Semantic dedup over deterministic sign-bit LSH buckets instead of
    * k-means cells: the blocking quantizer is [[bucketCol]]'s seeded
    * hyperplanes, so the WHOLE pipeline — bucket assignment, in-bucket
    * cosine edges, transitive closure, canonical keep — is exactly
    * reproducible in ANSI SQL and the declared query is DuckDB
    * hash-gated end-to-end (the k-means variant can only be rows-only:
    * iterative float training isn't SQL). Same recall trade as
    * [[semanticDedup]] with the quantizer swapped; fewer planes →
    * bigger buckets → higher recall, more comparisons.
    */
  def lshSemanticDedup(emb: DataFrame, tau: Double = 0.4,
      nPlanes: Int = 4, blocks: Int = 4, cacheKey: String = ""): DataFrame =
    groupedDedup(
      emb.select(col("vec_id"), col("embedding"),
        bucketCol("embedding", hyperplanes(nPlanes)).as("grp")),
      tau, blocks, cacheKey)
      .withColumnRenamed("grp", "bucket")

  // ---- declared queries ----

  /** Approximate ANN (randomized bucketing → rows-only check;
    * ScalaTest asserts recall ≥ 0.6 vs brute force on the fixture).
    */
  /** LSH ANN — fully oracle-gated since round 10 (rows-only 14 → 13):
    * the hyperplanes are SEEDED constants the oracle embeds literally
    * (the proven q_lsh_semantic_dedup discipline — float-rounded
    * doubles, identical sequential dot arithmetic), so bucket
    * assignment, the 1-flip multi-probe expansion, candidate dedup,
    * and the exact dot re-rank are all replayed verbatim in SQL.
    * "Random" hyperplanes never meant un-replayable — just trained-
    * constant; the k-means variants needed the round-10 exact-Lloyd
    * treatment, this one only needed its constants printed.
    */
  val qAnnLsh = DeclaredQuery("q_ann_lsh",
    lshTopKOracle(nPlanes = 4, maxFlips = 1, k = 3)) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    // 4 planes = 16 buckets: fixture vectors are near-uniform on the
    // sphere (measured), so coarse buckets keep candidate sets non-empty
    // 1-flip multi-probe: 5 buckets probed of 16 — recovers neighbors
    // split by a single hyperplane at ~1.6× the single-probe cost
    lshTopK(emb.filter(col("vec_id") < 5), emb, k = 3, nPlanes = 4, maxFlips = 1)
      .select(col("q_id"), col("vec_id"),
        round(col("cos_sim"), 6).as("cos_sim"), col("rn"))
      .orderBy("q_id", "rn")
  }

  /** Oracle for [[qAnnLsh]]: literal-constant sign buckets (the
    * [[lshSemanticDedupOracle]] plane replay), XOR flip-mask
    * multi-probe, DISTINCT candidate pairs, exact dot re-rank.
    */
  private def lshTopKOracle(nPlanes: Int, maxFlips: Int, k: Int): String = {
    val dotFmt = "list_reduce(list_transform(list_zip(%s, %s), " +
      "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (a, b) -> a + b)"
    val planeDots = hyperplanes(nPlanes).zipWithIndex.map { case (p, i) =>
      val lits = p.map(x => x.toFloat.toDouble.toString).mkString("[", ", ", "]")
      val dot = dotFmt.format("embedding", lits)
      s"CASE WHEN $dot >= 0 THEN CAST(${1L << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
    }.mkString("(", "\n         + ", ")")
    def masksWithFlips(f: Int): Seq[Long] =
      if (f == 0) Seq(0L)
      else (0 until nPlanes).combinations(f)
        .map(_.foldLeft(0L)((m, b) => m | (1L << b))).toSeq
    val masks = (0 to maxFlips).flatMap(masksWithFlips)
      .mkString("[", ", ", "]")
    val rerank = dotFmt.format("q.embedding", "e.embedding")
    s"""WITH b AS (
       |  SELECT vec_id, embedding,
       |       $planeDots AS bucket
       |  FROM embeddings),
       |qb AS (
       |  SELECT vec_id AS q_id, xor(bucket, unnest($masks)) AS bucket
       |  FROM b WHERE vec_id < 5),
       |hits AS (
       |  SELECT DISTINCT qb.q_id, c.vec_id
       |  FROM qb JOIN b c USING (bucket)
       |  WHERE c.vec_id <> qb.q_id),
       |sims AS (
       |  SELECT h.q_id, h.vec_id, $rerank AS dot
       |  FROM hits h
       |  JOIN embeddings q ON q.vec_id = h.q_id
       |  JOIN embeddings e ON e.vec_id = h.vec_id)
       |SELECT q_id, vec_id, round(dot, 6) AS cos_sim, rn FROM (
       |  SELECT q_id, vec_id, dot,
       |         row_number() OVER (PARTITION BY q_id ORDER BY dot DESC, vec_id) AS rn
       |  FROM sims) t
       |WHERE rn <= $k
       |ORDER BY q_id, rn""".stripMargin
  }

  /** IVF ANN (KMeans is seeded but iterative float — rows-only;
    * ScalaTest asserts twin recall vs brute force). Declared form uses
    * the build-once/probe-many split: the first run trains the coarse
    * quantizer and persists the cell-partitioned index; every later
    * run pays only the probe equi-join (see [[cachedIvfIndex]]).
    */
  // ---- exact (oracle-gateable) IVF: deterministic quantized Lloyd ----

  /** How many centroid-update rounds the exact quantizer runs (each is
    * one assignment + one mean recompute; the final assignment after
    * the last update defines the served cells). 2 updates / 3
    * assignments and nProbe 4/16 is the measured recall/cost point on
    * the near-uniform fixture (recall@3 0.53 / 0.60 at sf0.01 / sf0.1
    * vs the 0.25 random-pruning baseline of a 25 % probed fraction —
    * ANN_RECALL.md); more Lloyd rounds plateaued below +0.07 recall
    * for ~2× oracle cost.
    */
  val ExactIvfUpdates = 2
  val ExactIvfCells = 16
  val ExactIvfProbe = 4

  /** Long-form quantized points: one row per (vec_id, dim) with the
    * float component quantized to integer MICRO-UNITS —
    * `floor(x·1e6 + 0.5)` BIGINT, the q_math_funcs discipline. ALL
    * training arithmetic downstream is then exact 64-bit integer
    * (differences ≤ 2e6, squared-distance sums ≤ 64·4e12 ≪ 2⁶³) or
    * fixed-shape IEEE over exactly-representable operands (the
    * centroid mean), so cell assignment is bit-portable across
    * engines AND partitionings — the q_domain_rank discipline applied
    * to k-means, with zero dependence on either engine's round() or
    * decimal-type semantics.
    */
  private def ivfPts(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), posexplode(col("embedding")).as(Seq("d0", "xf")))
      .select(col("vec_id"), (col("d0") + 1).as("d"),
        expr("CAST(floor(CAST(xf AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)").as("x"))

  /** Deterministic quantized-Lloyd IVF trainer. Seeds are the
    * `nCells` vec_ids with the smallest portable md5 fingerprint (the
    * same hash family every portable dedup query replays in SQL);
    * each round assigns every vector to its nearest centroid under
    * EXACT integer micro-unit squared distance (ties break on cell id)
    * and recomputes centroid means — `floor(Σx/n + 0.5)`, one IEEE
    * division of exactly-representable operands (empty cells keep
    * their previous centroid). Returns (cells: vec_id → cell,
    * centroids: cell,d,c).
    *
    * Scale: training is `updates`+1 bounded passes over the long-form
    * points (each one equi-join on the 64-row-per-cell centroid
    * relation + a map-side-combinable aggregate); the points relation
    * is lazily checkpointed once and re-read by all passes. At 100 TB
    * the trained (cells, centroids) pair persists cell-partitioned
    * exactly like [[cachedIvfIndex]] — see [[cachedExactIvf]].
    */
  def exactIvfTrain(emb: DataFrame, nCells: Int = ExactIvfCells,
      updates: Int = ExactIvfUpdates): (DataFrame, DataFrame) = {
    val pts = ivfPts(emb).localCheckpoint(false) // 2·updates+3 consumers
    val fp = expr(
      "CAST(conv(substring(md5(CAST(vec_id AS STRING)), 1, 15), 16, 10) AS BIGINT)")
    // distributed top-nCells (TakeOrderedAndProject) FIRST, then the
    // global rank window runs over <= nCells rows — the Retrieval
    // rank-after-top-k idiom; same rows/numbering as ranking the full
    // relation (WindowGroupLimit pruned that form too, but this shape
    // never plans a full-relation WindowExec at all)
    val seeds = emb.select(col("vec_id"), fp.as("fp"))
      .orderBy(col("fp"), col("vec_id")).limit(nCells)
      .withColumn("rn", row_number().over(Window.orderBy("fp", "vec_id")))
      .select(col("vec_id"), (col("rn") - 1).as("cell"))
    def distances(cents: DataFrame): DataFrame = pts.join(cents, "d")
      .select(col("vec_id"), col("cell"),
        expr("(x - c) * (x - c)").as("sq"))
      .groupBy("vec_id", "cell")
      .agg(sum("sq").as("dist"))
    def argmin(dist: DataFrame): DataFrame = dist
      .withColumn("rn", row_number().over(
        Window.partitionBy("vec_id").orderBy("dist", "cell")))
      .filter(col("rn") === 1).select("vec_id", "cell")
    var cents = seeds.join(pts, "vec_id").select(col("cell"), col("d"), col("x").as("c"))
    for (_ <- 1 to updates) {
      val upd = argmin(distances(cents)).join(pts, "vec_id")
        .groupBy("cell", "d")
        .agg(expr(
          "CAST(floor(CAST(sum(x) AS DOUBLE) / count(*) + 0.5) AS BIGINT)")
          .as("cm"))
      cents = cents.as("p").join(upd.as("u"), Seq("cell", "d"), "left")
        .select(col("cell"), col("d"), coalesce(col("cm"), col("p.c")).as("c"))
        .localCheckpoint(false) // each round otherwise re-derives all priors
    }
    (argmin(distances(cents)), cents)
  }

  /** Build-once/probe-many for the exact quantizer: persist (cells,
    * centroids) per corpus dir, serve every later probe from the
    * reload — the [[cachedIvfIndex]] deployment shape, cells written
    * `partitionBy("cell")` so probes prune to the probed cells'
    * partitions. Deterministic, so cached ≡ fresh. Empty corpus: not
    * cached (nothing to write; the lazy plans already yield zero rows
    * everywhere).
    */
  /** nProbe nearest cells per query under the SAME exact-integer
    * distance the trainer assigns with — (q_id, cell).
    */
  def exactIvfProbeCells(queries: DataFrame, cents: DataFrame,
      nProbe: Int): DataFrame =
    ivfPts(queries).join(cents, "d")
      .select(col("vec_id"), col("cell"), expr("(x - c) * (x - c)").as("sq"))
      .groupBy("vec_id", "cell")
      .agg(sum("sq").as("dist"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("vec_id").orderBy("dist", "cell")))
      .filter(col("rn") <= nProbe)
      .select(col("vec_id").as("q_id"), col("cell"))

  private val exactIvfCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  def cachedExactIvf(spark: org.apache.spark.sql.SparkSession,
      emb: DataFrame, cacheKey: String): (DataFrame, DataFrame) = {
    val cached = exactIvfCache.get(cacheKey)
    val entry =
      if (cached != null) cached
      else if (emb.isEmpty) null
      else {
        val (cells, cents) = exactIvfTrain(emb)
        val cellsPath = graft.SparkEnv.scratchDir("ivf-exact-cells")
        val centsPath = graft.SparkEnv.scratchDir("ivf-exact-cents")
        // cell-partitioned like cachedIvfIndex: probes prune to the
        // probed cells' partition directories (dynamic partition
        // pruning on the cell equi-join — PLAN_DIGEST.md q_ann_ivf
        // (removed; last in 672d67d))
        cells.write.mode("overwrite").partitionBy("cell").parquet(cellsPath)
        cents.write.mode("overwrite").parquet(centsPath)
        val v = (cellsPath, centsPath)
        val prev = exactIvfCache.putIfAbsent(cacheKey, v)
        if (prev != null) { deleteDir(cellsPath); deleteDir(centsPath); prev }
        else v
      }
    if (entry == null) exactIvfTrain(emb)
    else (spark.read.parquet(entry._1), spark.read.parquet(entry._2))
  }

  /** DuckDB replay of [[exactIvfTrain]] + probe + exact re-rank, one
    * chained-CTE unroll per Lloyd round (the q_domain_rank pattern):
    * long-form quantized points via parallel unnest, md5-fingerprint
    * seeding, exact-decimal distance/argmin per round, double-exact
    * centroid means, probe cells from the final distance relation, and
    * the same left-fold IEEE dot product every gated cosine query uses.
    */
  /** Shared CTE chain deriving the exact quantizer's final cell
    * assignment `aF (vec_id, cell)` and distance relation `dF` —
    * reused by the q_ann_ivf probe oracle and the q_semantic_dedup
    * closure oracle.
    */
  private def exactIvfCellCtes(nCells: Int, updates: Int): String = {
    def distCte(name: String, cents: String) =
      s"""$name AS (
         |  SELECT p.vec_id, c.cell,
         |         sum((p.x - c.c) * (p.x - c.c)) AS dist
         |  FROM pts p JOIN $cents c USING (d)
         |  GROUP BY 1, 2)""".stripMargin
    val rounds = (1 to updates).map { i =>
      s"""${distCte(s"d$i", s"c${i - 1}")},
         |a$i AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
         |    FROM d$i) t WHERE rn = 1),
         |u$i AS (
         |  SELECT a.cell, p.d,
         |         CAST(floor(CAST(sum(p.x) AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS cm
         |  FROM a$i a JOIN pts p USING (vec_id)
         |  GROUP BY 1, 2),
         |c$i AS (
         |  SELECT c${i - 1}.cell, c${i - 1}.d, COALESCE(u$i.cm, c${i - 1}.c) AS c
         |  FROM c${i - 1} LEFT JOIN u$i ON u$i.cell = c${i - 1}.cell AND u$i.d = c${i - 1}.d)""".stripMargin
    }.mkString(",\n")
    s"""pts AS (
       |  SELECT vec_id,
       |         unnest(range(1, len(embedding)+1)) AS d,
       |         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS x
       |  FROM embeddings),
       |seeds AS (
       |  SELECT vec_id, rn - 1 AS cell FROM (
       |    SELECT vec_id, row_number() OVER (
       |      ORDER BY CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT), vec_id) AS rn
       |    FROM embeddings) t
       |  WHERE rn <= $nCells),
       |c0 AS (SELECT s.cell, p.d, p.x AS c FROM seeds s JOIN pts p USING (vec_id)),
       |$rounds,
       |${distCte("dF", s"c$updates")},
       |aF AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
       |    FROM dF) t WHERE rn = 1)""".stripMargin
  }

  private def exactIvfOracle(nCells: Int, updates: Int, nProbe: Int,
      k: Int): String = {
    val dot = "list_reduce(list_transform(list_zip(q.embedding, e.embedding), " +
      "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (a, b) -> a + b)"
    s"""WITH ${exactIvfCellCtes(nCells, updates)},
       |probe AS (
       |  SELECT vec_id AS q_id, cell FROM (
       |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
       |    FROM dF WHERE vec_id < 5) t WHERE rn <= $nProbe),
       |sims AS (
       |  SELECT pr.q_id, aF.vec_id,
       |         $dot AS dot
       |  FROM probe pr JOIN aF USING (cell)
       |  JOIN embeddings e ON e.vec_id = aF.vec_id
       |  JOIN embeddings q ON q.vec_id = pr.q_id
       |  WHERE aF.vec_id <> pr.q_id)
       |SELECT q_id, vec_id, round(dot, 6) AS cos_sim, rn FROM (
       |  SELECT q_id, vec_id, dot,
       |         row_number() OVER (PARTITION BY q_id ORDER BY dot DESC, vec_id) AS rn
       |  FROM sims) t
       |WHERE rn <= $k
       |ORDER BY q_id, rn""".stripMargin
  }

  // ---- exact (oracle-gateable) PQ: per-subspace quantized Lloyd ----

  /** Exact-PQ hyperparameters (measured on the fixture, ANN_RECALL.md):
    * 8 subspaces × 8 dims, 32 codes/subspace, 3 Lloyd updates, 96-row
    * exact re-rank → recall@3 0.933/0.733 at sf0.01/sf0.1 — identical
    * to the MLlib-codebook variant it replaces in the DECLARED query.
    * Codes are 8 × 5-bit ids per vector: the same 32× artifact
    * compression story as the codegen'd PqEncode path (which remains
    * the library API, spec-gated).
    */
  val ExactPqSubDim = 8
  val ExactPqCodes = 32
  val ExactPqUpdates = 3
  val ExactPqRerank = 96
  val ExactIvfPqProbe = 5

  /** Deterministic per-subspace quantized-Lloyd PQ trainer — the
    * [[exactIvfTrain]] recurrence with a `sub` key: ONE relational
    * chain trains all m codebooks at once (long-form points carry
    * (vec_id, sub, d, x); distances group by (vec_id, sub, code);
    * means by (sub, code, d)). Returns
    * (codes: vec_id,sub,code — the 32×-compressed search artifact;
    *  books: sub,code,d,c — the codebook constants).
    */
  def exactPqTrain(emb: DataFrame, ksub: Int = ExactPqCodes,
      updates: Int = ExactPqUpdates,
      dsub: Int = ExactPqSubDim): (DataFrame, DataFrame) = {
    val pts = ivfPts(emb)
      .withColumn("sub", expr(s"(d - 1) DIV $dsub"))
      .localCheckpoint(false) // 2·updates+3 consumers
    val fp = expr(
      "CAST(conv(substring(md5(CAST(vec_id AS STRING)), 1, 15), 16, 10) AS BIGINT)")
    // rank after distributed top-ksub — see exactIvfTrain's seeds
    val seeds = emb.select(col("vec_id"), fp.as("fp"))
      .orderBy(col("fp"), col("vec_id")).limit(ksub)
      .withColumn("rn", row_number().over(Window.orderBy("fp", "vec_id")))
      .select(col("vec_id"), (col("rn") - 1).as("code"))
    def distances(books: DataFrame): DataFrame = pts
      .join(books.select(col("code"), col("d"), col("c")), "d")
      .select(col("vec_id"), col("sub"), col("code"),
        expr("(x - c) * (x - c)").as("sq"))
      .groupBy("vec_id", "sub", "code")
      .agg(sum("sq").as("dist"))
    def argmin(dist: DataFrame): DataFrame = dist
      .withColumn("rn", row_number().over(
        Window.partitionBy("vec_id", "sub").orderBy("dist", "code")))
      .filter(col("rn") === 1).select("vec_id", "sub", "code")
    var books = seeds.join(pts, "vec_id")
      .select(col("sub"), col("code"), col("d"), col("x").as("c"))
    for (_ <- 1 to updates) {
      val upd = argmin(distances(books))
        .join(pts, Seq("vec_id", "sub"))
        .groupBy("sub", "code", "d")
        .agg(expr(
          "CAST(floor(CAST(sum(x) AS DOUBLE) / count(*) + 0.5) AS BIGINT)")
          .as("cm"))
      books = books.as("p").join(upd.as("u"), Seq("sub", "code", "d"), "left")
        .select(col("sub"), col("code"), col("d"),
          coalesce(col("cm"), col("p.c")).as("c"))
        .localCheckpoint(false)
    }
    (argmin(distances(books)), books)
  }

  /** Query-side ADC lookup table: exact integer squared distance from
    * every query subvector to every codebook entry — (q_id, sub, code,
    * dist), m·ksub rows per query.
    */
  def exactPqQueryDists(queries: DataFrame, books: DataFrame,
      dsub: Int = ExactPqSubDim): DataFrame =
    ivfPts(queries)
      .withColumn("sub", expr(s"(d - 1) DIV $dsub"))
      .join(books.select(col("code"), col("d"), col("c")), "d")
      .select(col("vec_id").as("q_id"), col("sub"), col("code"),
        expr("(x - c) * (x - c)").as("sq"))
      .groupBy("q_id", "sub", "code")
      .agg(sum("sq").as("dist"))

  /** Build-once/probe-many for the exact PQ artifacts, like
    * [[cachedExactIvf]].
    */
  private val exactPqCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  def cachedExactPq(spark: org.apache.spark.sql.SparkSession,
      emb: DataFrame, cacheKey: String): (DataFrame, DataFrame) = {
    val cached = exactPqCache.get(cacheKey)
    val entry =
      if (cached != null) cached
      else if (emb.isEmpty) null
      else {
        val (codes, books) = exactPqTrain(emb)
        val codesPath = graft.SparkEnv.scratchDir("pq-exact-codes")
        val booksPath = graft.SparkEnv.scratchDir("pq-exact-books")
        codes.write.mode("overwrite").parquet(codesPath)
        books.write.mode("overwrite").parquet(booksPath)
        val v = (codesPath, booksPath)
        val prev = exactPqCache.putIfAbsent(cacheKey, v)
        if (prev != null) { deleteDir(codesPath); deleteDir(booksPath); prev }
        else v
      }
    if (entry == null) exactPqTrain(emb)
    else (spark.read.parquet(entry._1), spark.read.parquet(entry._2))
  }

  /** ADC + exact-re-rank tail shared by the exact PQ/IVF-PQ declared
    * queries: sum the query's per-(sub, code) table over the
    * candidate's codes, shortlist by (adc, vec_id), re-rank the
    * shortlist with the exact dot.
    */
  private def exactAdcTopK(emb: DataFrame, cand: Option[DataFrame],
      codes: DataFrame, qdist: DataFrame, rerank: Int, k: Int): DataFrame = {
    // full-corpus ADC (q_ann_pq): the (q_id, vec_id) pairs fall out of
    // the (sub, code) equi-join itself; cell-pruned ADC (q_ann_ivfpq):
    // only the probed cells' members join their codes
    val adc = (cand match {
      case Some(c) => c.join(codes, "vec_id")
        .join(qdist, Seq("q_id", "sub", "code"))
      case None => codes.join(qdist, Seq("sub", "code"))
        .filter(col("vec_id") =!= col("q_id"))
    })
      .groupBy("q_id", "vec_id")
      .agg(sum("dist").as("adc"))
    val shortlist = adc.withColumn("arn", row_number().over(
        Window.partitionBy("q_id").orderBy("adc", "vec_id")))
      .filter(col("arn") <= rerank)
      .select("q_id", "vec_id")
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val sims = shortlist
      .join(emb.select(col("vec_id"), col("embedding")), "vec_id")
      .join(broadcast(q), "q_id")
      .select(col("q_id"), col("vec_id"),
        vec_dot(col("q_emb"), col("embedding")).as("dot"))
    val w = Window.partitionBy("q_id").orderBy(col("dot").desc, col("vec_id"))
    sims.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col("q_id"), col("vec_id"),
        round(col("dot"), 6).as("cos_sim"), col("rn"))
      .orderBy("q_id", "rn")
  }

  /** IVF ANN, deterministic-quantizer variant — the ONE ANN query that
    * is fully DuckDB hash-gated end to end (round-10 verdict stretch:
    * rows-only 16 → 15): seeding, both Lloyd rounds, the final cell
    * assignment, the probe-cell choice, and the exact re-rank are all
    * replayed verbatim by the oracle's chained CTEs (see
    * [[exactIvfOracle]]). The MLlib k-means|| variant stays the
    * library's scale API ([[buildIvfIndex]], exercised by
    * `q_ann_ivfpq` / `q_semantic_dedup`); this query certifies the
    * IVF probe SEMANTICS exactly.
    */
  val qAnnIvf = DeclaredQuery("q_ann_ivf",
    exactIvfOracle(ExactIvfCells, ExactIvfUpdates, ExactIvfProbe, 3)) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val (cells, cents) = cachedExactIvf(s, emb, d)
    val probe = exactIvfProbeCells(emb.filter(col("vec_id") < 5), cents,
      ExactIvfProbe)
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val sims = probe.join(cells, "cell")
      .join(emb.select(col("vec_id"), col("embedding")), "vec_id")
      .join(broadcast(q), "q_id")
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        vec_dot(col("q_emb"), col("embedding")).as("dot"))
    val w = Window.partitionBy("q_id").orderBy(col("dot").desc, col("vec_id"))
    sims.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      .select(col("q_id"), col("vec_id"),
        round(col("dot"), 6).as("cos_sim"), col("rn"))
      .orderBy("q_id", "rn")
  }

  /** PQ ANN — fully oracle-gated since round 10: the codebooks come
    * from the deterministic per-subspace quantized-Lloyd trainer
    * ([[exactPqTrain]]), so seeding, all three codebook updates,
    * encoding, the ADC scan, the 96-row shortlist, and the exact
    * re-rank are replayed verbatim by the oracle's chained CTEs.
    * Probes read the persisted code relation (no training in the
    * probe plan — build-once/probe-many, same artifact discipline as
    * the codegen'd `PqEncode` library path, which remains the scale
    * API with its own specs).
    */
  val qAnnPq = DeclaredQuery("q_ann_pq",
    pqExactOracle(probed = false)) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val (codes, books) = cachedExactPq(s, emb, d)
    val qdist = exactPqQueryDists(emb.filter(col("vec_id") < 5), books)
    exactAdcTopK(emb, None, codes, qdist, ExactPqRerank, k = 3)
  }

  /** IVF-PQ ANN — fully oracle-gated since round 10: the production
    * composition with BOTH exact artifacts — the q_ann_ivf cell index
    * prunes WHICH vectors are scanned (nProbe of 16 cells), the
    * q_ann_pq codebooks prune WHAT is scanned (8 5-bit codes per
    * member), the 96-row exact re-rank restores precision. The oracle
    * chains the cell CTEs + codebook CTEs + cell-pruned ADC + re-rank.
    * ADC runs strictly AFTER the cell join, never over the full
    * corpus (the relational shape makes it structural: the adc
    * aggregate's input IS probe ⋈ cells ⋈ codes).
    */
  val qAnnIvfPq = DeclaredQuery("q_ann_ivfpq",
    pqExactOracle(probed = true)) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val (cells, cents) = cachedExactIvf(s, emb, d)
    val (codes, books) = cachedExactPq(s, emb, d)
    val probe = exactIvfProbeCells(emb.filter(col("vec_id") < 5), cents,
      ExactIvfPqProbe)
    val cand = probe.join(cells, "cell")
      .filter(col("vec_id") =!= col("q_id"))
      .select("q_id", "vec_id")
    val qdist = exactPqQueryDists(emb.filter(col("vec_id") < 5), books)
    exactAdcTopK(emb, Some(cand), codes, qdist, ExactPqRerank, k = 3)
  }

  /** Oracle for [[qAnnPq]] (probed=false: full-corpus ADC) and
    * [[qAnnIvfPq]] (probed=true: cell-pruned ADC over the shared
    * [[exactIvfCellCtes]] cells).
    */
  private def pqExactOracle(probed: Boolean): String = {
    val dsub = ExactPqSubDim
    val ksub = ExactPqCodes
    val updates = ExactPqUpdates
    def pdistCte(name: String, books: String) =
      s"""$name AS (
         |  SELECT p.vec_id, p.sub, c.code,
         |         sum((p.x - c.c) * (p.x - c.c)) AS dist
         |  FROM spts p JOIN $books c ON c.d = p.d
         |  GROUP BY 1, 2, 3)""".stripMargin
    val rounds = (1 to updates).map { i =>
      s"""${pdistCte(s"pd$i", s"k${i - 1}")},
         |pa$i AS (
         |  SELECT vec_id, sub, code FROM (
         |    SELECT vec_id, sub, code, row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, code) AS rn
         |    FROM pd$i) t WHERE rn = 1),
         |pu$i AS (
         |  SELECT a.sub, a.code, p.d,
         |         CAST(floor(CAST(sum(p.x) AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS cm
         |  FROM pa$i a JOIN spts p ON p.vec_id = a.vec_id AND p.sub = a.sub
         |  GROUP BY 1, 2, 3),
         |k$i AS (
         |  SELECT k${i - 1}.sub, k${i - 1}.code, k${i - 1}.d, COALESCE(pu$i.cm, k${i - 1}.c) AS c
         |  FROM k${i - 1} LEFT JOIN pu$i ON pu$i.sub = k${i - 1}.sub AND pu$i.code = k${i - 1}.code AND pu$i.d = k${i - 1}.d)""".stripMargin
    }.mkString(",\n")
    val pqCtes =
      s"""spts AS (
         |  SELECT vec_id, (d - 1) // $dsub AS sub, d, x FROM pts),
         |pseeds AS (
         |  SELECT vec_id, rn - 1 AS code FROM (
         |    SELECT vec_id, row_number() OVER (
         |      ORDER BY CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT), vec_id) AS rn
         |    FROM embeddings) t
         |  WHERE rn <= $ksub),
         |k0 AS (SELECT p.sub, s.code, p.d, p.x AS c FROM pseeds s JOIN spts p USING (vec_id)),
         |$rounds,
         |${pdistCte("pdF", s"k$updates")},
         |codes AS (
         |  SELECT vec_id, sub, code FROM (
         |    SELECT vec_id, sub, code, row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, code) AS rn
         |    FROM pdF) t WHERE rn = 1),
         |qdist AS (
         |  SELECT vec_id AS q_id, sub, code, dist FROM pdF WHERE vec_id < 5)""".stripMargin
    val adcCte = if (probed)
      s"""probe AS (
         |  SELECT vec_id AS q_id, cell FROM (
         |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
         |    FROM dF WHERE vec_id < 5) t WHERE rn <= $ExactIvfPqProbe),
         |cand AS (
         |  SELECT pr.q_id, a.vec_id FROM probe pr JOIN aF a USING (cell)
         |  WHERE a.vec_id <> pr.q_id),
         |adc AS (
         |  SELECT cd.q_id, cd.vec_id, sum(qd.dist) AS adc
         |  FROM cand cd
         |  JOIN codes c ON c.vec_id = cd.vec_id
         |  JOIN qdist qd ON qd.q_id = cd.q_id AND qd.sub = c.sub AND qd.code = c.code
         |  GROUP BY 1, 2)""".stripMargin
    else
      s"""adc AS (
         |  SELECT qd.q_id, c.vec_id, sum(qd.dist) AS adc
         |  FROM codes c JOIN qdist qd ON qd.sub = c.sub AND qd.code = c.code
         |  WHERE c.vec_id <> qd.q_id
         |  GROUP BY 1, 2)""".stripMargin
    val dotFmt = "list_reduce(list_transform(list_zip(%s, %s), " +
      "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (a, b) -> a + b)"
    val rerankDot = dotFmt.format("q.embedding", "e.embedding")
    val cellCtes =
      if (probed) exactIvfCellCtes(ExactIvfCells, ExactIvfUpdates) + ",\n"
      else
        // q_ann_pq needs only the long-form points CTE from the chain
        """pts AS (
          |  SELECT vec_id,
          |         unnest(range(1, len(embedding)+1)) AS d,
          |         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS x
          |  FROM embeddings),
          |""".stripMargin
    s"""WITH $cellCtes$pqCtes,
       |$adcCte,
       |shortlist AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id ORDER BY adc, vec_id) AS arn
       |    FROM adc) t WHERE arn <= $ExactPqRerank),
       |sims AS (
       |  SELECT h.q_id, h.vec_id, $rerankDot AS dot
       |  FROM shortlist h
       |  JOIN embeddings q ON q.vec_id = h.q_id
       |  JOIN embeddings e ON e.vec_id = h.vec_id)
       |SELECT q_id, vec_id, round(dot, 6) AS cos_sim, rn FROM (
       |  SELECT q_id, vec_id, dot,
       |         row_number() OVER (PARTITION BY q_id ORDER BY dot DESC, vec_id) AS rn
       |  FROM sims) t
       |WHERE rn <= 3
       |ORDER BY q_id, rn""".stripMargin
  }

  /** SemDeDup over the EXACT quantizer's cells — fully DuckDB
    * hash-gated end to end since round 10 (rows-only 15 → 14): the
    * oracle replays the quantized-Lloyd training (shared CTE chain
    * with q_ann_ivf), the within-cell threshold edges, the
    * recursive-CTE transitive closure, and the min-id canonical keep.
    * Reuses the SAME persisted exact index as q_ann_ivf, so the
    * declared query pays no quantizer training after the first
    * ANN/dedup call on a corpus dir. ScalaTest keeps the semantic
    * gates: planted-twin removal, kept-set τ-separation, closure
    * parity. (The MLlib k-means|| quantizer remains the library's
    * scale API — [[semanticDedup]] over [[buildIvfIndex]].)
    */
  val qSemanticDedup = DeclaredQuery("q_semantic_dedup",
    semanticDedupOracle(ExactIvfCells, ExactIvfUpdates, 0.4)) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val (cells, _) = cachedExactIvf(s, emb, d)
    groupedDedup(
      cells.join(emb.select(col("vec_id"), col("embedding")), "vec_id")
        .select(col("vec_id"), col("embedding"), col("cell").as("grp")),
      tau = 0.4, blocks = 4, cacheKey = s"semdedup:$d")
      .withColumnRenamed("grp", "cell")
      .orderBy("vec_id")
  }

  /** Oracle for [[qSemanticDedup]]: the [[exactIvfCellCtes]] chain →
    * within-cell threshold edges → recursive closure → canonical keep
    * (the [[lshSemanticDedupOracle]] tail with cells for buckets).
    */
  private def semanticDedupOracle(nCells: Int, updates: Int,
      tau: Double): String = {
    val dotFmt = "list_reduce(list_transform(list_zip(%s, %s), " +
      "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (a, b) -> a + b)"
    val pairDot = dotFmt.format("a.embedding", "c.embedding")
    s"""WITH RECURSIVE ${exactIvfCellCtes(nCells, updates)},
       |b AS (
       |  SELECT e.vec_id, e.embedding, af.cell
       |  FROM embeddings e JOIN aF af USING (vec_id)),
       |edges AS (
       |  SELECT a.vec_id AS id_a, c.vec_id AS id_b
       |  FROM b a JOIN b c ON a.cell = c.cell AND a.vec_id < c.vec_id
       |  WHERE $pairDot >= $tau),
       |sym AS (SELECT id_a AS src, id_b AS dst FROM edges
       |        UNION ALL SELECT id_b, id_a FROM edges),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM sym
       |  UNION
       |  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src),
       |labels AS (
       |  SELECT src AS vec_id, least(src, min(dst)) AS group_id
       |  FROM reach GROUP BY src)
       |SELECT e.vec_id, e.cell,
       |       COALESCE(l.group_id, e.vec_id) AS group_id,
       |       CAST(e.vec_id = COALESCE(l.group_id, e.vec_id) AS INT) AS is_kept
       |FROM b e LEFT JOIN labels l ON l.vec_id = e.vec_id
       |ORDER BY e.vec_id""".stripMargin
  }

  private val duckDotFmt =
    "list_reduce(list_transform(list_zip(%s, %s), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (a, b) -> a + b)"

  /** The oracle replays [[lshSemanticDedup]] exactly: per-plane dot
    * products against the literal hyperplane constants (float-rounded,
    * printed as the double each float is — both engines then run the
    * identical sequential double arithmetic), sign-bit bucket id,
    * in-bucket cosine edges, recursive-CTE transitive closure, min-id
    * canonical.
    */
  private def lshSemanticDedupOracle(nPlanes: Int, tau: Double): String = {
    val planeDots = hyperplanes(nPlanes).zipWithIndex.map { case (p, i) =>
      val lits = p.map(x => x.toFloat.toDouble.toString).mkString("[", ", ", "]")
      val dot = duckDotFmt.format("embedding", lits)
      s"CASE WHEN $dot >= 0 THEN CAST(${1L << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
    }.mkString("(", "\n         + ", ")")
    val pairDot = duckDotFmt.format("a.embedding", "c.embedding")
    s"""WITH RECURSIVE b AS (
       |  SELECT vec_id, embedding,
       |       $planeDots AS bucket
       |  FROM embeddings),
       |edges AS (
       |  SELECT a.vec_id AS id_a, c.vec_id AS id_b
       |  FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
       |  WHERE $pairDot >= $tau),
       |sym AS (SELECT id_a AS src, id_b AS dst FROM edges
       |        UNION ALL SELECT id_b, id_a FROM edges),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM sym
       |  UNION
       |  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src),
       |labels AS (
       |  SELECT src AS vec_id, least(src, min(dst)) AS group_id
       |  FROM reach GROUP BY src)
       |SELECT e.vec_id, e.bucket,
       |       COALESCE(l.group_id, e.vec_id) AS group_id,
       |       CAST(e.vec_id = COALESCE(l.group_id, e.vec_id) AS INT) AS is_kept
       |FROM b e LEFT JOIN labels l ON l.vec_id = e.vec_id
       |ORDER BY e.vec_id""".stripMargin
  }

  /** Hash-gated semantic dedup: the deterministic-quantizer twin of
    * [[qSemanticDedup]], checked value-exact against DuckDB end to end
    * (bucketing, edges, closure, canonical choice).
    */
  val qLshSemanticDedup = DeclaredQuery(
    "q_lsh_semantic_dedup", lshSemanticDedupOracle(nPlanes = 4, tau = 0.4)) { (s, d) =>
    lshSemanticDedup(Tables.embeddings(s, d), cacheKey = s"lshdedup:$d")
      .orderBy("vec_id")
  }

  /** Greedy-ONLINE replay (round 11) — the oracle for
    * `q_stream_semantic_dedup`: [[graft.streaming.StreamSemanticDedup]]
    * processes each bucket's vectors in ascending vec_id order and
    * marks a vector dup-of the EARLIEST already-kept match (dot ≥ τ),
    * else keeps it. That induction is SQL-replayable as a rank
    * recursion: `b` ranks vectors within their sign-bit bucket;
    * iteration k's working set is the COMPLETE verdict table for
    * ranks ≤ k (each step re-emits all prior verdicts and computes
    * rank-(k+1) verdicts against the kept subset — DuckDB permits the
    * multiple recursive references); the final filter takes the
    * fixed-point iteration. The kept-match argmin is `min(vec_id)`
    * over kept bucket-mates with the SAME left-fold IEEE double dot
    * the stream's scorer runs. Total rows materialized across
    * iterations are O(n · max-bucket-rank) — fine for an oracle;
    * the STREAM is the scale path. Replays exactly because the driver
    * fixture is a single parquet file → one AvailableNow micro-batch
    * → one global ascending-vec_id pass (a multi-file corpus would
    * interleave by admission order; the spec's split-batch case pins
    * verdict idempotence, not this oracle).
    */
  private[graft] def streamSemanticDedupOracle(nPlanes: Int, tau: Double): String = {
    val planeDots = hyperplanes(nPlanes).zipWithIndex.map { case (p, i) =>
      val lits = p.map(x => x.toFloat.toDouble.toString).mkString("[", ", ", "]")
      val dot = duckDotFmt.format("embedding", lits)
      s"CASE WHEN $dot >= 0 THEN CAST(${1L << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
    }.mkString("(", "\n         + ", ")")
    val pairDot = duckDotFmt.format("kb.embedding", "n.embedding")
    s"""WITH RECURSIVE eb AS (
       |  SELECT vec_id, embedding,
       |       $planeDots AS bucket
       |  FROM embeddings WHERE embedding IS NOT NULL),
       |b AS MATERIALIZED (
       |  SELECT vec_id, embedding, bucket,
       |         row_number() OVER (PARTITION BY bucket ORDER BY vec_id) AS rank
       |  FROM eb),
       |mx AS (SELECT max(rank) AS m FROM b),
       |g(iter, bucket, vec_id, rank, is_dup, dup_of) AS (
       |  SELECT 1, bucket, vec_id, rank, FALSE, CAST(-1 AS BIGINT)
       |  FROM b WHERE rank = 1
       |  UNION ALL
       |  SELECT * FROM (
       |    SELECT g.iter + 1, g.bucket, g.vec_id, g.rank, g.is_dup, g.dup_of
       |    FROM g, mx WHERE g.iter < mx.m
       |    UNION ALL
       |    SELECT gi.i + 1, n.bucket, n.vec_id, n.rank,
       |           min(kb.vec_id) IS NOT NULL AS is_dup,
       |           COALESCE(min(kb.vec_id), CAST(-1 AS BIGINT)) AS dup_of
       |    FROM (SELECT DISTINCT iter AS i FROM g) gi
       |    JOIN b n ON n.rank = gi.i + 1
       |    LEFT JOIN (SELECT k.bucket, k.vec_id, kb0.embedding
       |               FROM g k JOIN b kb0 ON kb0.vec_id = k.vec_id
       |               WHERE NOT k.is_dup) kb
       |      ON kb.bucket = n.bucket AND $pairDot >= $tau
       |    WHERE gi.i < (SELECT m FROM mx)
       |    GROUP BY gi.i, n.bucket, n.vec_id, n.rank
       |  ))
       |SELECT vec_id, is_dup, dup_of
       |FROM g WHERE iter = (SELECT m FROM mx)
       |ORDER BY vec_id""".stripMargin
  }

  val all: Seq[DeclaredQuery] =
    Seq(qAnnLsh, qAnnIvf, qAnnPq, qAnnIvfPq, qSemanticDedup, qLshSemanticDedup)
}
