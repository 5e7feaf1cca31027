package graft

/** Physical-plan shape assertions (SURVEY.md §4.2, prompt: "iterate
  * until it's the plan you'd want"): filters reach the parquet scan,
  * projection prunes columns, tiny dims broadcast, non-equi joins
  * never degenerate to CartesianProduct. These guard the properties
  * that matter at 100 TB but are invisible in row-level results.
  */
class PlanSpec extends SparkSpec {

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  /** AQE wraps the plan and collect() stops at the wrapper boundary,
    * so structural assertions unwrap first.
    */
  private def unwrapped(plan: org.apache.spark.sql.execution.SparkPlan) =
    plan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.inputPlan
      case p => p
    }

  /** Structural WindowExec count (round-7/8 advice: a "Window " string
    * match is coupled to plan toString formatting).
    */
  private def windowExecs(name: String)
      : Seq[org.apache.spark.sql.execution.window.WindowExec] =
    unwrapped(SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan)
      .collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }

  /** Hash keys (by column name) and partition count of every explicit
    * `repartition(n, cols…)` exchange in the plan — structural, like
    * [[windowExecs]].
    */
  private def repartitionsByNum(plan: org.apache.spark.sql.execution.SparkPlan)
      : Seq[(Seq[String], Int)] = {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
    unwrapped(plan).collect {
      case ShuffleExchangeExec(HashPartitioning(keys, n), _, REPARTITION_BY_NUM, _) =>
        (keys.collect { case a: AttributeReference => a.name }, n)
    }
  }

  test("q_stream_account_daily's declared result reads the PARTITIONED parquet " +
      "serving store, not a driver-resident snapshot (round-7 verdict #5)") {
    // building the df runs the real streaming pipeline at the suite sf
    // (cheap at sf0.001); the read side must be a partitioned
    // FileSourceScan — PartitionFilters only prints for partition-aware
    // file scans, and a LocalTableScan (InMemory snapshot) has neither
    val p = planOf("q_stream_account_daily")
    assert(p.contains("PartitionFilters"),
      s"expected a partitioned file scan over the serving store:\n$p")
    assert(!p.contains("LocalTableScan"),
      s"declared plan still reads a driver-side snapshot:\n$p")
  }

  test("pricing summary pushes the shipdate filter into the parquet scan") {
    val p = planOf("q_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p)
  }

  test("top-k customers scan reads only the two referenced columns") {
    val p = planOf("q_topk_customers")
    assert(p.contains("ReadSchema: struct<o_custkey:bigint,o_totalprice:double>"), p)
  }

  test("star join broadcasts the dimension tables") {
    val p = planOf("q_join_star")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("top-k uses TakeOrderedAndProject, not a global sort") {
    val p = planOf("q_topk_customers")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("embedding near-dup is a block-pair equi-join: no BNLJ, no cartesian") {
    val plan = SparkEntry.queries("q_embed_near_dup")(spark, sf)
      .queryExecution.executedPlan
    val p = plan.toString
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the tile join is a plain equi-join on (blk_a, blk_b)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p)
    // the probe side is spread over shuffleParts tasks by tile key:
    // without it the quadratic tile evaluation ran on the scan's
    // single partition (r16 census: 4 tasks for the whole query)
    assert(repartitionsByNum(plan).contains(
        (Seq("blk_a", "partner_a"), SparkEnv.shuffleParts(spark))),
      s"no REPARTITION_BY_NUM exchange on (blk_a, partner_a):\n$p")
  }

  test("embedding near-dup block decomposition matches the quadratic form exactly") {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, sf)
    val a = emb.select(col("vec_id").as("id_a"), col("embedding").as("emb_a"))
    val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"))
    val quad = a.join(b, col("id_a") < col("id_b") &&
        graft.queries.LlmOps.dotProduct("emb_a", "emb_b") >= 0.4)
      .select(col("id_a"), col("id_b"),
        round(graft.queries.LlmOps.dotProduct("emb_a", "emb_b"), 6).as("cos_sim"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val blocked = graft.queries.LlmOps.embedNearDupBlocked(emb)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(blocked == quad,
      s"missing=${(quad -- blocked).take(5)} extra=${(blocked -- quad).take(5)}")
  }

  test("semi/anti joins plan as semi/anti, not as aggregates over joins") {
    assert(planOf("q_semi_join").contains("LeftSemi"), planOf("q_semi_join"))
    assert(planOf("q_anti_join").contains("LeftAnti"), planOf("q_anti_join"))
  }

  test("codegen dot product stays inside WholeStageCodegen") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val df = SparkEntry.queries("q_cosine_topk")(spark, sf)
    df.collect() // finalize the adaptive plan so codegen stages exist
    val finalPlan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    assert(finalPlan.toString.contains("vec_dot"), finalPlan.toString)
    val codegenText =
      org.apache.spark.sql.execution.debug.codegenString(finalPlan)
    assert(codegenText.contains("getFloat"), "expected generated float loop")
  }

  test("char_ngrams generator runs inside whole-stage codegen") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val df = SparkEntry.queries("q_char_ngrams")(spark, sf)
    df.collect() // finalize the adaptive plan
    val finalPlan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val s = finalPlan.toString
    // the '*(n)' star marks WholeStageCodegen membership; a
    // CodegenFallback generator would print an unstarred Generate
    // (the node prints its prettyName, 'charngrams')
    assert("""\*\(\d+\) Generate charngrams""".r.findFirstIn(s).isDefined,
      s"expected codegen'd Generate:\n$s")
  }

  test("ordered_pairs generator runs inside whole-stage codegen") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val df = SparkEntry.queries("q_passage_overlap")(spark, sf)
    df.collect() // finalize the adaptive plan
    val finalPlan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val s = finalPlan.toString
    // starred Generate = the pair expansion stays in the generated
    // loop with the downstream partial count-shared aggregate; the
    // round-5/6 combinator form paid interpreted HOF eval here
    assert("""\*\(\d+\) Generate orderedpairs""".r.findFirstIn(s).isDefined,
      s"expected codegen'd Generate orderedpairs:\n$s")
  }

  test("language-ID scoring scan stays in one WholeStageCodegen span") {
    val docs = Tables.documents(spark, sf)
    val model = graft.operators.TextAnalysis.cachedTrigramModel(docs, sf)
    val scored = graft.operators.TextAnalysis.scoreWithModel(docs, model)
    scored.collect()
    val p = scored.queryExecution.executedPlan.toString
    assert(p.contains("lang_id_score"), p)
    // scan -> filter -> score projection all carry the same codegen id
    val stages = """\*\((\d+)\)""".r.findAllMatchIn(p).map(_.group(1)).toSet
    assert(stages == Set("1"), s"expected one codegen span, got $stages:\n$p")
  }

  test("range join uses the bucket equi-join, not a pure theta join") {
    val p = planOf("q_range_join")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("correlated scalar subqueries decorrelate into joins") {
    val df = SparkEntry.queries("q_scalar_subquery")(spark, sf)
    val optimized = df.queryExecution.optimizedPlan
    // after RewriteCorrelatedScalarSubquery no subquery expression
    // survives — the plan is aggregates + joins
    assert(!optimized.toString.contains("scalar-subquery"), optimized.toString)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("Join") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("grouping sets plan through a single Expand, one aggregate pass") {
    val p = planOf("q_grouping_sets")
    assert(p.contains("Expand"), p)
    assert("Expand".r.findAllIn(p).size == 1, p)
  }

  test("tpch q3 pushes both date filters into the fact scans") {
    val p = planOf("q_tpch_q3")
    assert(p.contains("PushedFilters"), p)
    assert(p.contains("o_orderdate"), p)
    assert(p.contains("l_shipdate"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("tpch q5 six-way join stays all-equi: no cartesian, no nested loop") {
    val p = planOf("q_tpch_q5")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("tpch q18 aggregates the fact once — single lineitem scan") {
    val p = planOf("q_tpch_q18")
    // the round-9 single-agg form: the HAVING relation IS the outer
    // aggregate (group keys functionally determined by o_orderkey),
    // so lineitem is scanned exactly once and there is no re-join agg
    assert("lineitem\\.parquet".r.findAllIn(p).size == 1, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("tpch q19 OR-of-AND predicate keeps the equi join, no cartesian") {
    val p = planOf("q_tpch_q19")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("pii redaction scan reads only the two referenced columns") {
    val p = planOf("q_pii_redact")
    assert(p.contains("ReadSchema: struct<text:string,source:string>") ||
      p.contains("ReadSchema: struct<source:string,text:string>"), p)
  }

  test("sequence packing windows per shard — no single-partition exchange") {
    val p = planOf("q_pack_sequences")
    assert(!p.contains("SinglePartition"),
      s"packing must partition by shard, not globally:\n$p")
    assert(p.contains("Window"), p)
    // The window must hash-partition on (lang, shard) — the
    // deterministic doc_id shard, not the 5-value lang domain alone —
    // so one reducer packs one shard's stream, never a language's
    // whole corpus (round-4 verdict's last scale-killer).
    assert(p.contains("hashpartitioning(lang"), p)
    assert(p.contains("shard"), s"window partition key must include shard:\n$p")
  }

  test("packing window partition-key cardinality scales past the lang domain") {
    // With shard = pmod(doc_id, N) the packing streams number
    // langs × N, and each stream's length shrinks as N grows — the
    // property that makes the plan survive a 100× corpus. Assert the
    // realized key cardinality strictly exceeds the 5-value lang
    // domain and matches langs × observed shards.
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val docs = Tables.documents(spark, sf)
    val keys = docs.select(col("lang"),
        pmod(col("doc_id"), lit(graft.queries.Pipeline.packShards)).as("shard"))
      .distinct().count()
    val langs = docs.select("lang").distinct().count()
    assert(keys > langs, s"expected shard-expanded key space, got $keys keys for $langs langs")
    assert(keys == langs * graft.queries.Pipeline.packShards,
      s"expected langs($langs) × shards(${graft.queries.Pipeline.packShards}), got $keys")
  }

  test("tpch q8 broadcasts the fixed dims and keeps every join equi") {
    val p = planOf("q_tpch_q8")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("per-group top-k plans the WindowGroupLimit rank pushdown") {
    // Spark's InferWindowGroupLimit turns filter(row_number <= k) into
    // partial+final per-group limits — rows beyond k never reach the
    // sort. The windowed top-k shapes must keep qualifying for it.
    for (name <- Seq("q_top_types_per_user", "q_cosine_topk", "q_source_cap")) {
      val p = planOf(name)
      assert(p.contains("WindowGroupLimit"), s"$name lost the pushdown:\n$p")
    }
  }

  test("winnow_fps is evaluated exactly once per row in both winnowing plans") {
    // round-5 verdict #1: predicate pushdown substituted fps filters
    // below the projection, paying the whole-doc winnow scan 2-3x per
    // row. Guarded by pre-filtering text IS NOT NULL plus the
    // SingleEvalExpensive pre-CBO rule (OnceEvalBarrier keeps
    // SparkOptimizer's late PushDownPredicates batch from
    // re-substituting). Counting occurrences in the final physical
    // plan is the regression guard that would have caught it.
    for (q <- Seq("q_winnow_fingerprints", "q_passage_overlap")) {
      val p = planOf(q)
      val n = "winnow_fps".r.findAllIn(p).size
      assert(n == 1, s"$q: winnow_fps appears $n times (want 1):\n$p")
    }
  }

  test("expensive sketch expressions are never re-derived below their projection") {
    // the same guard for the simhash pipeline (uncached plan — the
    // minhash pipeline persists its candidate relation, so its plan
    // TEXT repeats the cached subtree once per InMemoryTableScan site
    // while evaluating it once; a text count can't gauge it)
    val p = planOf("q_simhash_near_dups")
    val n = "simhash64".r.findAllIn(p).size
    assert(n <= 1, s"q_simhash_near_dups: simhash64 appears $n times (want <= 1):\n$p")
  }

  test("SingleEvalExpensive hoists duplicated costly predicates in a bare filter") {
    // the rule's Filter-without-parent-Project path: a condition
    // referencing winnow_fps twice must compute it once (hoisted into
    // a barrier projection) and return the same rows as the naive form
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf)
    val cond = "size(winnow_fps(text, 3, 4)) > 2 AND " +
      "element_at(winnow_fps(text, 3, 4), 1) IS NOT NULL"
    val filtered = docs.filter(cond).select("doc_id")
    val p = filtered.queryExecution.executedPlan.toString
    val n = "winnow_fps".r.findAllIn(p).size
    assert(n == 1, s"bare filter: winnow_fps appears $n times (want 1):\n$p")
    assert(p.contains("once_eval"), s"hoisted barrier alias missing:\n$p")
    // semantics preserved vs the project-then-filter form (single-eval
    // by construction, trivially equivalent)
    val ids = filtered.collect().map(_.getLong(0)).toSet
    val want = docs.filter(col("text").isNotNull)
      .select(col("doc_id"), expr("winnow_fps(text, 3, 4)").as("fps"))
      .filter(size(col("fps")) > 2 && element_at(col("fps"), 1).isNotNull)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == want && ids.nonEmpty, s"${ids.size} vs ${want.size}")
  }

  test("semantic dedup edge detection is a blocked equi-join with the dot in the condition") {
    // the within-group threshold join must extract (grp, block-pair)
    // equi keys and evaluate the cosine threshold as the join's
    // residual condition — a BNLJ/cartesian here would mean the
    // quantizer blocking bought nothing. (The declared queries' final
    // plans can't show this join: componentsStar consumes the edges
    // eagerly and cuts lineage, so the edge relation is asserted
    // directly.)
    import org.apache.spark.sql.functions.col
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, sf)
    val assigned = emb.select(col("vec_id"), col("embedding"),
      Similarity.bucketCol("embedding", Similarity.hyperplanes(4)).as("grp"))
    val plan = Similarity.groupedDedupEdges(assigned, tau = 0.4, blocks = 4)
      .queryExecution.executedPlan
    val p = plan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("vec_dot(emb_a") || p.contains("vec_dot(emb_b"),
      s"dot threshold missing from the edge join condition:\n$p")
    // equi keys extracted: a hash-keyed join on (grp, block pair) —
    // broadcast at fixture size, shuffled at scale; either way the
    // keys are equi and the dot is residual
    assert(p.contains("HashJoin [grp") || p.contains("SortMergeJoin [grp"), p)
    // the probe side is spread over shuffleParts tasks by the join's
    // own (grp, tile) key, as in q_embed_near_dup
    assert(repartitionsByNum(plan).contains(
        (Seq("grp", "blk_a", "partner_a"), SparkEnv.shuffleParts(spark))),
      s"no REPARTITION_BY_NUM exchange on (grp, blk_a, partner_a):\n$p")
  }

  test("sign_bucket is evaluated exactly once per row in the LSH semantic dedup plan") {
    // the fused expression exists to make bucket assignment ONE
    // traversal of the full corpus; pushdown re-derivation below the
    // projection would silently multiply that cost (the winnow_fps
    // failure mode, round-5 verdict #1)
    val p = planOf("q_lsh_semantic_dedup")
    val n = "sign_bucket".r.findAllIn(p).size
    assert(n == 1, s"q_lsh_semantic_dedup: sign_bucket appears $n times (want 1):\n$p")
  }

  test("dsir weights: broadcast ratio join, tiny-key bucket aggregate, fused top-k") {
    // pass 1 must reduce to a 256-key aggregate (map-side partials —
    // the shuffle moves buckets, not the corpus), the λ table must
    // BROADCAST back onto the gram stream (a shuffle join here would
    // re-shuffle the whole corpus against 256 rows), and the top-50
    // must fuse into TakeOrderedAndProject, not a global sort
    val p = planOf("q_dsir_weights")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
    // each scan prunes independently: scoring needs (doc_id, text),
    // bucket counting needs (text, lang) — never the full row
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p)
    assert(p.contains("ReadSchema: struct<text:string,lang:string>"), p)
    // exactly TWO corpus scans — the method's inherent minimum
    // (estimate the bucket distributions, then score against them); a
    // third would mean the totals re-derived the gram subtree
    val scans = "documents\\.parquet".r.findAllIn(p).size
    assert(scans == 2, s"documents scanned $scans times (want 2):\n$p")
  }

  test("dsir select: rank and slice-size windows share one lang exchange") {
    // rk (row_number ordered by weight) and n_lang (count) both
    // partition by lang — the planner must serve both from a single
    // hashpartitioning(lang) exchange, or the selection would shuffle
    // the scored corpus twice
    val p = planOf("q_dsir_select")
    val n = "Exchange hashpartitioning\\(lang".r.findAllIn(p).size
    assert(n == 1, s"q_dsir_select: $n lang exchanges (want 1):\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("LM scoring: declared path is the stateless scorer, relational path broadcasts") {
    // round 11: the declared queries score through the train-once
    // LmDocScore artifact — one corpus scan, ZERO joins (the model
    // ships inside the expression, the q_stream_lm_scores shape)
    val p = planOf("q_lm_perplexity")
    assert(p.contains("lm_doc_score") || p.contains("LmDocScore"),
      s"expected the stateless artifact scorer:\n$p")
    assert(!p.contains("Join"), s"artifact path must not join:\n$p")
    // the relational docScores path (still the oracle shape and the
    // bit-parity reference) must broadcast both model relations: at
    // 100 TB they are the tiny (or pruned) side by design
    val docs = Tables.documents(spark, sf)
    val rel = graft.operators.LanguageModel
      .docScores(docs, docs.filter(
        org.apache.spark.sql.functions.col("lang") === "en"))
      .queryExecution.executedPlan.toString
    val bcasts = "BroadcastHashJoin".r.findAllIn(rel).size
    assert(bcasts >= 2, s"expected >=2 broadcast model joins, got $bcasts:\n$rel")
    assert(!rel.contains("SortMergeJoin"), s"model join degraded to SMJ:\n$rel")
  }

  test("substring-span detection has no pair expansion and one doc window") {
    val p = planOf("q_substring_spans")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // linear pipeline: generator feeds aggregates and ONE per-doc
    // window chain (brk + running island share the doc_id sort)
    val windows = windowExecs("q_substring_spans").size
    assert(windows <= 2, s"expected <=2 window nodes, got $windows:\n$p")
  }

  test("z-order scan pushes both dimension predicates into the clustered read") {
    // formatted mode: the simple toString truncates the PushedFilters list
    val p = SparkEntry.queries("q_zorder_scan")(spark, sf)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("GreaterThanOrEqual(user_id,3)"), p)
    assert(p.contains("LessThanOrEqual(user_id,7)"), p)
    assert(p.contains("LessThan(ts,"), p)
  }

  test("containment pairs come from bucket generation, not a gram self-join") {
    val p = planOf("q_containment_pairs")
    // candidates materialize through the ordered_pairs generator over
    // df-bounded buckets; round 12: the per-doc total rides each
    // shingle row from the scan-time token_ngram_distinct expression,
    // so the plan is JOIN-FREE (one gram-keyed exchange + the pair
    // aggregate)
    assert(p.contains("orderedpairs"), p)
    assert(p.contains("tokenngramdistinct") || p.contains("token_ngram_distinct"), p)
    assert(!p.contains("Join"), s"expected a join-free plan:\n$p")
  }

  test("brand affinity baskets are single-long bitmasks through mask_pairs") {
    val p = planOf("q_brand_affinity")
    // bit_or basket aggregate (8-byte duplicate-idempotent state — no
    // collect_set, no distinct) + codegen'd mask_pairs expansion; the
    // only join is the broadcast of part under the basket aggregate
    assert(p.contains("maskpairs") || p.contains("mask_pairs"), p)
    assert(p.contains("bit_or"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("attribution is join-free: union + one user window, then the day aggregate") {
    val p = planOf("q_attribution")
    assert(!p.contains("Join"), s"attribution should not join:\n$p")
    assert(p.contains("Union"), p)
    val windows = windowExecs("q_attribution").size
    assert(windows == 1, s"expected exactly 1 window node:\n$p")
  }

  test("rolling actives expand through a generator, never a per-day re-scan") {
    val p = planOf("q_rolling_dau")
    assert(p.contains("Generate explode"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("anomaly baseline uses a RANGE frame over the hourly aggregate") {
    val p = planOf("q_anomaly_hours")
    assert(p.contains("RangeFrame"), p)
    // the window runs over the aggregated hour relation, downstream of
    // the only full-data aggregate
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("cohort retention broadcasts the cohort-size relation") {
    val p = planOf("q_cohort_retention")
    // the triangle is calendar-bounded, so its join to cohort sizes
    // must be a broadcast, not a shuffle of the big side
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("event transitions: both windows are partitioned, none global") {
    val qe = SparkEntry.queries("q_event_transitions")(spark, sf).queryExecution
    // exactly two windows: the per-user lead() and the per-from_type
    // share — counted STRUCTURALLY (round-7 advice: a 'Window ' string
    // match is coupled to plan toString formatting), and both are
    // PARTITIONed (an unpartitioned window would drag everything into
    // one task)
    val inner = qe.executedPlan match {
      // AQE wraps the plan and collect() stops at the wrapper boundary
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.inputPlan
      case p => p
    }
    val windows = inner.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.size == 2, qe.executedPlan.toString)
    assert(windows.forall(_.partitionSpec.nonEmpty),
      s"unpartitioned window:\n${qe.executedPlan}")
    val p = qe.executedPlan.toString
    assert(p.contains("windowspecdefinition(user_id"), p)
    assert(p.contains("windowspecdefinition(from_type"), p)
  }

  test("rfm quartiles come from broadcast cutpoints, not a global ntile sort") {
    val p = planOf("q_user_rfm")
    // no Window at all: bucket assignment is a per-row comparison
    // against three broadcast percentile scalars
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p)
  }

  test("upsert plans the delta as a broadcast LeftAnti probe") {
    val p = planOf("q_upsert_merge")
    // MERGE shape: one anti-join keyed on c_custkey with the (small)
    // delta on the build side — never a full-outer coalesce rewrite
    assert(p.contains("LeftAnti"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("FullOuter"), p)
  }

  test("scd2 daily argmax rides WindowGroupLimit and shares the user exchange") {
    val p = planOf("q_scd2_history")
    // rn=1 argmax gets the group-limit pushdown (partial top-1 before
    // the shuffle), and the lag/lead pair over (user ORDER BY day)
    // plans as two Window nodes on ONE user-keyed exchange
    assert(p.contains("WindowGroupLimit"), p)
    // user-ONLY partitioning (the lag/lead pair) — not the (user, day)
    // aggregate/argmax exchanges, which legitimately also exist
    val userExchanges = "hashpartitioning\\(user_id#\\d+L?, \\d+\\)".r
      .findAllIn(p).size
    assert(userExchanges == 1,
      s"expected one user-keyed exchange shared by both windows, got $userExchanges:\n$p")
  }

  test("recursive spine never re-scans the fact table per iteration") {
    val p = planOf("q_recursive_cte")
    // recursion iterates the spine only; orders is scanned once for
    // the monthly rollup no matter the loop depth
    val ordersScans = "Location.*orders".r.findAllIn(p).size
    assert(ordersScans == 1, s"orders scanned $ordersScans times:\n$p")
  }

  test("dq audit orphan probes are keys-only anti-joins") {
    val p = planOf("q_dq_audit")
    assert("LeftAnti".r.findAllIn(p).size == 2, p)
    // probe sides prune to the key column: the audit moves keys, not rows
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint>"), p)
    assert(p.contains("ReadSchema: struct<o_custkey:bigint>"), p)
  }

  test("q_bm25_topk's declared plan reads the corpus at most once " +
      "(the per-doc pivot is checkpointed; scoring+constants reuse it)") {
    val p = planOf("q_bm25_topk")
    assert("Scan parquet".r.findAllIn(p).size <= 1, p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q_hybrid_rrf: both fusion legs are distributed top-k, the query " +
      "vector broadcasts, and no window sees more than depth rows") {
    val p = planOf("q_hybrid_rrf")
    // two retrieval legs -> two TakeOrderedAndProject truncations
    // BEFORE the bounded rank windows (plus the final fused-order one)
    assert("TakeOrderedAndProject".r.findAllIn(p).size >= 2, p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_weighted_sample selects via fused top-k, not a global sort") {
    val p = planOf("q_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q_triangle_count never self-joins the fact table: at most the " +
      "supplier dim + one lineitem scan reach the final plan") {
    // edges and oriented edges are localCheckpoint'd — the basket
    // expansion runs once; remaining parquet scans are the supplier
    // dim join (broadcast) and at most one pre-checkpoint fragment
    val p = planOf("q_triangle_count")
    assert("Scan parquet".r.findAllIn(p).size <= 2, p)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"), p)
  }

  test("q_triangle_count builds the degree broadcast ONCE at runtime: " +
      "AQE exchange reuse collapses the per-endpoint alias projections") {
    // the static digest prints the degree groupBy subtree under both
    // endpoint joins, but canonicalization strips the (v→a, dg→da) vs
    // (v→b, dg→db) aliases, so the executed plan builds one
    // BroadcastExchange and every other consumer is a ReusedExchange.
    // (A localCheckpoint 'fix' A/B'd WORSE at sf0.1 — 1.61→1.81 s —
    // because the materialization barrier costs more than the reuse
    // already saves; this test pins that the reuse actually happens.)
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val df = SparkEntry.queries("q_triangle_count")(spark, sf)
    df.collect() // finalize the adaptive plan
    val finalPlan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val s = finalPlan.toString
    val reused = "ReusedExchange".r.findAllIn(s).size
    assert(reused >= 2, s"expected the degree broadcast reused >= 2 times:\n$s")
  }

  test("q_unpivot plans an Expand over the aggregated relation — the " +
      "wide→long fan-out is task-local, never a shuffle or generator") {
    val p = planOf("q_unpivot")
    assert(p.contains("Expand"), p)
    assert("Scan parquet".r.findAllIn(p).size == 1, p)
  }

  test("q_lateral_topk's decorrelated lateral limit plans a " +
      "WindowGroupLimit (per-group top-k pruned map-side, before the " +
      "rank exchange) with the region side broadcast") {
    val p = planOf("q_lateral_topk")
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q_ewma computes all seven lags in ONE window pass") {
    assert(windowExecs("q_ewma").size == 1)
    assert("Scan parquet".r.findAllIn(planOf("q_ewma")).size == 1)
  }

  test("q_chi2_independence builds margins and grid from the " +
      "checkpointed per-cell counts — zero re-scans of the corpus") {
    val p = planOf("q_chi2_independence")
    assert("Scan parquet".r.findAllIn(p).isEmpty, p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
  }

  test("q_gopher_repetition is one map-only corpus scan — per-row " +
      "gram-histogram expressions, no generator, no aggregate, no join") {
    val p = planOf("q_gopher_repetition")
    assert("Scan parquet".r.findAllIn(p).size == 1, p)
    // round 12: both signals come from the codegen'd per-row
    // expressions (token_ngram_stats + token_ngram_distinct); the
    // exploded gram relation and its two hash aggregates are gone
    assert(p.contains("tokenngramstats") || p.contains("token_ngram_stats"), p)
    assert(p.contains("tokenngramdistinct") || p.contains("token_ngram_distinct"), p)
    assert(!p.contains("Generate"), p)
    assert(!p.contains("HashAggregate"), p)
    assert(!p.contains("Join"), p)
  }

  test("q_entropy is one corpus scan, no joins — both reductions are " +
      "hash aggregates with map-side partials") {
    val p = planOf("q_entropy")
    assert("Scan parquet".r.findAllIn(p).size == 1, p)
    assert(!p.contains("Join"), p)
  }

  test("q_rolling_median and q_benford are each ONE fact scan (the " +
      "window stages run over post-aggregate rows)") {
    assert("Scan parquet".r.findAllIn(planOf("q_rolling_median")).size == 1)
    assert("Scan parquet".r.findAllIn(planOf("q_benford")).size == 1)
  }

  test("q_concentration ranks in ONE window pass over the per-customer " +
      "relation and joins the dim by broadcast") {
    assert(windowExecs("q_concentration").size == 1)
    assert(planOf("q_concentration").contains("BroadcastHashJoin"))
  }

  test("q_kmv_distinct_users merges partial sketches map-side — two " +
      "ObjectHashAggregate phases, scan pruned to (ts, user_id)") {
    // the estimating-regime gate's scale shape: partial KmvKth state
    // built per scan partition, ONE shuffle of ≤ k-long arrays per
    // (day) key, final merge + the shared estimator expression. A
    // plan that shuffled raw rows to a single agg phase would move
    // the corpus instead of the sketch.
    val p = planOf("q_kmv_distinct_users")
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final ObjectHashAggregate phases:\n$p")
    val read = "ReadSchema: [^\\n]*".r.findFirstIn(p).getOrElse("")
    assert(read.contains("ts") && read.contains("user_id") &&
      !read.contains("props") && !read.contains("event_type"),
      s"scan must prune to (ts, user_id): $read")
  }

  test("q_approx_percentiles merges partial GK summaries — two " +
      "ObjectHashAggregate phases, scan pruned to the two columns") {
    val p = planOf("q_approx_percentiles")
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final ObjectHashAggregate phases:\n$p")
    val read = "ReadSchema: [^\\n]*".r.findFirstIn(p).getOrElse("")
    assert(read.contains("l_returnflag") && read.contains("l_extendedprice") &&
      !read.contains("l_orderkey"),
      s"scan must prune to (l_returnflag, l_extendedprice): $read")
  }

  test("q_state_reader's declared result scans the state store source — " +
      "a distributed batch scan, not a driver-resident snapshot") {
    val p = planOf("q_state_reader")
    assert(!p.contains("LocalTableScan"),
      s"state must be read through the source, not collected:\n$p")
    assert(p.toLowerCase.contains("statescan") ||
      p.toLowerCase.contains("statestore"),
      s"expected the statestore batch source in the plan:\n$p")
  }

  test("no declared query plans a CartesianProduct") {
    // BroadcastNestedLoopJoin is allowed (bounded theta joins against
    // a broadcast side); an unbounded CartesianProduct never is.
    // Streaming-backed queries are skipped: their fn RUNS the full
    // pipeline before returning a (batch result) DataFrame, so
    // "reading the plan" would execute two streaming jobs; their batch
    // twins are covered by the rest of the sweep.
    for ((name, fn) <- SparkEntry.queries if !name.startsWith("q_stream_")) {
      val p = fn(spark, sf).queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"$name planned a cartesian:\n$p")
      // query paths may persist() intermediates; don't let ~90 of them
      // accumulate in the shared test session
      spark.catalog.clearCache()
    }
  }

  test("q_mad serves the median window AND the groupBy from one lang exchange") {
    // the whole-partition window hash-partitions by lang; the following
    // groupBy("lang") must reuse that partitioning, not shuffle again
    val p = planOf("q_mad")
    val n = "Exchange hashpartitioning\\(lang".r.findAllIn(p).size
    assert(n == 1, s"q_mad: $n lang exchanges (want 1):\n$p")
  }

  test("q_welch_ttest scans events once — complement stats by subtraction") {
    // one-vs-rest must NOT rescan the fact per group: the rest-group
    // stats are decimal subtractions from a broadcast 1-row total
    val p = planOf("q_welch_ttest")
    assert("events\\.parquet".r.findAllIn(p).size <= 1,
      s"q_welch_ttest rescans events:\n$p")
    spark.catalog.clearCache() // localCheckpoint'd sufficient stats
  }

  test("q_t_closeness scans customer once — every CTE derives from the " +
      "checkpointed class-count relation") {
    // the oracle's cust CTE has five consumers; an inlined SQL form
    // re-scanned the corpus per consumer (6 FileScans measured). The
    // declared plan aggregates once and reuses the |QI|×m relation.
    val p = planOf("q_t_closeness")
    assert("customer\\.parquet".r.findAllIn(p).size <= 1,
      s"q_t_closeness rescans customer:\n$p")
  }

  test("q_incremental_join_view scans the fact once and broadcasts the dim — " +
      "every delta-rule term derives from the checkpointed pre-aggregate") {
    // V_old, the ΔA term, and both signs of the ΔB term all read the
    // (old_seg, new_seg, day) pre-aggregate; a naive per-term
    // form would re-join events × customer up to 4 times. The final
    // plan must show ZERO parquet scans (everything downstream of the
    // localCheckpoint) and no shuffle join anywhere.
    val p = planOf("q_incremental_join_view")
    assert("events\\.parquet".r.findAllIn(p).size == 0,
      s"q_incremental_join_view re-scans the fact past its checkpoint:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("SortMergeJoin"), p)
  }

  test("small final ORDER BY drops its range exchange at runtime " +
      "(SmallSortSinglePartition), keeping the identical total order") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val df = SparkEntry.queries("q_date_funcs")(spark, sf)
    val rows = df.collect() // finalize the adaptive plan
    val finalPlan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val s = finalPlan.toString
    assert(!s.contains("rangepartitioning"),
      s"expected the runtime rule to remove the range exchange:\n$s")
    assert(s.contains("Coalesce 1") || s.contains("SinglePartition"),
      s"expected a coalesce/single-partition under the final sort:\n$s")
    // order identity vs the rule disabled — same rows, same sequence
    val conf = spark.conf
    conf.set("spark.graft.smallSortSinglePartition", "false")
    try {
      val expected = SparkEntry.queries("q_date_funcs")(spark, sf).collect()
      assert(rows.toSeq === expected.toSeq)
    } finally conf.unset("spark.graft.smallSortSinglePartition")
  }

  test("a large final ORDER BY keeps its range exchange (the rewrite " +
      "is runtime-stats-gated, not unconditional)") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.functions.col
    val conf = spark.conf
    // force 'large': any final-sort input above 1 byte keeps the range
    // exchange — proves the gate actually consults runtime stats
    conf.set("spark.graft.smallSortSinglePartition.maxBytes", "1")
    try {
      val df = Tables.lineitem(spark, sf)
        .groupBy("l_orderkey").count().orderBy(col("l_orderkey"))
      df.collect()
      val finalPlan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      assert(finalPlan.toString.contains("rangepartitioning"),
        s"threshold=1B must keep rangepartitioning:\n$finalPlan")
    } finally conf.unset("spark.graft.smallSortSinglePartition.maxBytes")
  }

  /** The sanctioned global-window registry (round 15, VERDICT r14 #8).
    *
    * Every `Window` with an EMPTY partition spec in a declared plan is
    * single-partition by construction and logs WindowExec's "No
    * Partition Defined" warning. All of the library's sites are
    * DOMAIN-BOUNDED — the window consumes a post-aggregate /
    * post-limit / artifact-sized relation, never the corpus — so the
    * warnings are sanctioned noise. This test makes that sanction a
    * CHECKED property instead of prose: for each listed query, every
    * empty-partition Window in the optimized plan must sit above an
    * Aggregate, a Limit, or a driver-materialized LocalRelation (the
    * three bounded shapes), so a future data-sized global window —
    * here or in a new query — fails loudly instead of hiding in the
    * warning noise.
    *
    * Full site inventory (non-declared internals included for the
    * record; they follow the same post-aggregate/post-limit rule):
    * Analytics3 q_benford (9 digit rows); Analytics5 q_ks_test (value
    * domain CDF); Frontier q_skyline (per-size frontier) +
    * q_peak_concurrency (day sweep); CorpusOps q_token_budget
    * (lang×source shares) + q_weighted_sample (rank over limit 50);
    * Retrieval q_bm25_topk/q_hybrid_rrf (rank AFTER distributed
    * top-k); TpcH q15 (max over supplier aggregate); WebAnalytics
    * q_anomaly_hours (hourly RANGE frame); Maintenance q_t_closeness
    * (band CDF); DomainRank source index (|sources|); TextAnalysis
    * quartile cutpoints (value CDF); Similarity codebook init
    * (codeword rows).
    */
  test("global windows are sanctioned, domain-bounded sites only " +
      "(post-aggregate / post-limit / artifact-sized)") {
    import org.apache.spark.sql.catalyst.plans.logical._
    val sanctioned = Seq("q_benford", "q_ks_test", "q_skyline",
      "q_peak_concurrency", "q_token_budget", "q_weighted_sample",
      "q_hybrid_rrf", "q_tpch_q15", "q_anomaly_hours",
      "q_t_closeness")
    // sites NOT visible in a declared optimized plan (inside memoized
    // artifact builds behind a localCheckpoint, or rank-rewritten):
    // DomainRank's source dictionary, TextAnalysis quartile cutpoints,
    // Similarity codebook init, q_bm25_topk (TakeOrdered, no window) —
    // each windows a dictionary/codebook/limit-sized relation per the
    // same rule, enforced at their own specs' collect sites
    // STRUCTURAL boundedness, not mere subtree presence (round-15
    // review): a window over corpus ⋈ small-dict would pass a naive
    // collectFirst because the dict side contains an Aggregate. Here a
    // node is bounded iff it IS a cardinality bound (aggregate, limit,
    // driver-materialized relation) or EVERY child is bounded — so a
    // join/union is bounded only when all inputs are, and any path
    // reaching a raw scan unbounded fails.
    def bounded(p: LogicalPlan): Boolean = p match {
      case _: Aggregate | _: GlobalLimit | _: LocalLimit |
           _: LocalRelation | _: OneRowRelation => true
      case leaf if leaf.children.isEmpty => false
      case other => other.children.forall(bounded)
    }
    val offenders = sanctioned.flatMap { name =>
      val plan = SparkEntry.queries(name)(spark, sf)
        .queryExecution.optimizedPlan
      val globals = plan.collect {
        case w: Window if w.partitionSpec.isEmpty => w
      }
      assert(globals.nonEmpty,
        s"$name is in the sanctioned list but plans no global window — " +
          "update the registry")
      globals.filterNot(w => bounded(w.child)).map(w => name -> w)
    }
    assert(offenders.isEmpty,
      "global window over an UNBOUNDED relation (not post-aggregate/" +
        s"post-limit/local): ${offenders.map(_._1).mkString(", ")}")
  }
}
