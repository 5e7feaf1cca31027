package graft.queries

import graft.{DeclaredQuery, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Table-maintenance / warehouse-lifecycle operators (round-8 session
  * 2 breadth): the mutation-shaped operations an analytics store needs
  * that pure SELECT queries don't cover — key upsert (MERGE), SCD2
  * dimension-history derivation, and recursive-CTE gap filling. All
  * three are declarative single-plan Spark, gated against DuckDB.
  */
object Maintenance {

  /** MERGE/upsert semantics over immutable columnar storage: rows of
    * `updates` replace base rows with the same key, unmatched update
    * rows are inserts. One left-anti join + union — at 100 TB this is
    * a single key-shuffle (or a broadcast anti-join when the delta is
    * small, which Catalyst/AQE picks automatically from the delta's
    * size), NOT a full-outer join with per-column coalesce: the
    * anti-join form moves only keys for the probe and rewrites
    * nothing of the surviving base rows.
    *
    * Precondition (ANSI MERGE parity): `updates` must be key-unique —
    * SQL MERGE raises on a row matched twice, and here duplicate
    * update keys would BOTH land in the result. CDC streams compact
    * first (latest row per key, e.g. max-version argmax via the same
    * WindowGroupLimit shape q_scd2_history uses) and then upsert.
    */
  def upsert(base: DataFrame, updates: DataFrame, key: String): DataFrame =
    base.join(updates.select(key), Seq(key), "left_anti").unionByName(updates)

  /** Upsert through the judged gate: a deterministic delta against
    * customer — every custkey ≡ 3 (mod 10) gets +100.00 acctbal
    * (update), and each supplier becomes a new customer at key
    * 20000 + s_suppkey in segment NEWSEG (insert; supplier keys end
    * at 999 < 15000-customer keyspace + 20000, so inserts never
    * collide). The post-merge segment rollup is what's hashed.
    */
  val qUpsertMerge = DeclaredQuery(
    "q_upsert_merge",
    """WITH updates AS (
      |  SELECT c_custkey, c_acctbal + 100.0 AS c_acctbal, c_mktsegment
      |  FROM customer WHERE c_custkey % 10 = 3
      |  UNION ALL
      |  SELECT 20000 + s_suppkey AS c_custkey, s_acctbal AS c_acctbal,
      |         'NEWSEG' AS c_mktsegment
      |  FROM supplier
      |), merged AS (
      |  SELECT c_custkey, c_acctbal, c_mktsegment FROM customer
      |  WHERE c_custkey NOT IN (SELECT c_custkey FROM updates)
      |  UNION ALL
      |  SELECT c_custkey, c_acctbal, c_mktsegment FROM updates
      |)
      |SELECT c_mktsegment, count(*) AS n,
      |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
      |FROM merged
      |GROUP BY 1
      |ORDER BY 1""".stripMargin) { (s, d) =>
    val base = Tables.customer(s, d)
      .select("c_custkey", "c_acctbal", "c_mktsegment")
    val updates = base
      .filter(col("c_custkey") % 10 === 3)
      .withColumn("c_acctbal", col("c_acctbal") + 100.0)
      .unionByName(Tables.supplier(s, d).select(
        (lit(20000L) + col("s_suppkey")).as("c_custkey"),
        col("s_acctbal").as("c_acctbal"),
        lit("NEWSEG").as("c_mktsegment")))
    upsert(base, updates, "c_custkey")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"),
        sum(col("c_acctbal").cast("decimal(18,2)")).cast("double").as("sum_bal"))
      .orderBy("c_mktsegment")
  }

  /** SCD2 (type-2 slowly-changing dimension) derivation from an event
    * log: per user, the DOMINANT daily event type (argmax count,
    * lexicographic tie-break — fully deterministic) becomes the
    * tracked attribute; consecutive same-type days collapse into one
    * validity interval [valid_from, valid_to). valid_to of the open
    * segment is pinned to a sentinel so both engines emit identical
    * non-NULL dates.
    *
    * Scale shape: one shuffle on (user, day) for the daily argmax,
    * then windows over the user partition (tiny per-user row counts:
    * ≤ days-in-range rows each) — no self-join, no pair expansion;
    * the classic MERGE-free history rebuild for immutable storage.
    */
  val qScd2History = DeclaredQuery(
    "q_scd2_history",
    """WITH daily AS (
      |  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
      |         event_type, count(*) AS n
      |  FROM events WHERE user_id < 300
      |  GROUP BY 1, 2, 3
      |), dominant AS (
      |  SELECT user_id, day, event_type,
      |         row_number() OVER (PARTITION BY user_id, day
      |                            ORDER BY n DESC, event_type) AS rn
      |  FROM daily
      |), changes AS (
      |  SELECT user_id, day, event_type,
      |         lag(event_type) OVER (PARTITION BY user_id ORDER BY day) AS prev
      |  FROM dominant WHERE rn = 1
      |)
      |SELECT user_id, event_type, day AS valid_from,
      |       COALESCE(lead(day) OVER (PARTITION BY user_id ORDER BY day),
      |                DATE '2024-12-31') AS valid_to
      |FROM changes
      |WHERE prev IS NULL OR prev <> event_type
      |ORDER BY user_id, valid_from""".stripMargin) { (s, d) =>
    val byUserDay = Window.partitionBy("user_id", "day")
    val byUser = Window.partitionBy("user_id").orderBy("day")
    val daily = Tables.events(s, d)
      .filter(col("user_id") < 300)
      .groupBy(col("user_id"),
        date_trunc("day", col("ts")).cast("date").as("day"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
    val dominant = daily
      .withColumn("rn", row_number().over(
        byUserDay.orderBy(col("n").desc, col("event_type"))))
      .filter(col("rn") === 1)
    val changes = dominant
      .withColumn("prev", lag("event_type", 1).over(byUser))
      .filter(col("prev").isNull || col("prev") =!= col("event_type"))
    changes
      .select(col("user_id"), col("event_type"),
        col("day").as("valid_from"),
        coalesce(lead("day", 1).over(byUser), lit("2024-12-31").cast("date"))
          .as("valid_to"))
      .orderBy("user_id", "valid_from")
  }

  /** Recursive-CTE month spine + gap fill (Spark 4's WITH RECURSIVE):
    * generates every month of the orders' calendar range by recursion
    * and LEFT JOINs the monthly rollup, so empty months surface as
    * zero rows — the canonical reporting gap-fill that a plain GROUP
    * BY cannot produce. The orders aggregate underneath is the usual
    * partial+final hash aggregate, and the join broadcasts the tiny
    * spine — recursion depth never touches the fact-table scan count.
    *
    * Iteration shape: each WITH RECURSIVE step is a separate loop
    * round under Spark's UnionLoop, so depth is wall-clock — a
    * 1-month step is 84 rounds (measured 1.0 s at sf0.1), seeding all
    * twelve months of the first year and stepping by whole YEARS is 7
    * rounds for the identical 84-row spine (measured 0.54 s, same
    * TimeQuery protocol). Same rule for production recursions: widen
    * the step, multiply the seed.
    */
  val qRecursiveCte = DeclaredQuery(
    "q_recursive_cte",
    """WITH RECURSIVE spine(m) AS (
      |  SELECT DATE '1995-01-01'
      |  UNION ALL
      |  SELECT CAST(m + INTERVAL 1 MONTH AS DATE) FROM spine
      |  WHERE m < DATE '2001-12-01'
      |), monthly AS (
      |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
      |         count(*) AS n, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS sp
      |  FROM orders GROUP BY 1
      |)
      |SELECT spine.m AS month, COALESCE(n, 0) AS n_orders,
      |       CAST(COALESCE(sp, 0) AS DOUBLE) AS sum_price
      |FROM spine LEFT JOIN monthly ON spine.m = monthly.m
      |ORDER BY month""".stripMargin) { (s, d) =>
    Tables.orders(s, d).createOrReplaceTempView("orders_rec")
    s.sql(
      """WITH RECURSIVE spine(m) AS (
        |  SELECT explode(sequence(DATE '1995-01-01', DATE '1995-12-01',
        |                          INTERVAL 1 MONTH)) AS m
        |  UNION ALL
        |  SELECT add_months(m, 12) FROM spine WHERE m < DATE '2001-01-01'
        |), monthly AS (
        |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
        |         count(*) AS n, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS sp
        |  FROM orders_rec GROUP BY 1
        |)
        |SELECT spine.m AS month, COALESCE(n, CAST(0 AS BIGINT)) AS n_orders,
        |       CAST(COALESCE(sp, 0) AS DOUBLE) AS sum_price
        |FROM spine LEFT JOIN monthly ON spine.m = monthly.m
        |ORDER BY month""".stripMargin)
  }

  /** Data-quality audit — the validation sweep every ingest runs
    * before promoting a batch: one row per constraint with its
    * violation count (a count of ZERO is the healthy result, and the
    * row still surfaces, so the gate is never vacuous). Checks:
    * duplicate primary keys, referential orphans (orders→customer,
    * lineitem→orders), domain violations (non-positive extended
    * price), and null keys.
    *
    * Scale shape: each check is a key-shuffled aggregate or anti-join
    * probe — the orphan checks move only key columns (column pruning
    * reaches the scans), the dup check is a partial-aggregated
    * groupBy; the final UNION of five 1-row aggregates is free. No
    * check materializes violating ROWS (counts only) — at 100 TB the
    * audit output is five numbers regardless of table size.
    */
  val qDqAudit = DeclaredQuery(
    "q_dq_audit",
    """SELECT 'dup_order_keys' AS check_name,
      |       CAST(COALESCE(sum(cnt - 1), 0) AS BIGINT) AS n_bad
      |FROM (SELECT count(*) AS cnt FROM orders GROUP BY o_orderkey
      |      HAVING count(*) > 1)
      |UNION ALL
      |SELECT 'lineitem_orphans',
      |       CAST(count(*) AS BIGINT)
      |FROM lineitem l WHERE NOT EXISTS
      |  (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
      |UNION ALL
      |SELECT 'null_custkeys', CAST(count(*) AS BIGINT)
      |FROM orders WHERE o_custkey IS NULL
      |UNION ALL
      |SELECT 'nonpositive_price', CAST(count(*) AS BIGINT)
      |FROM lineitem WHERE l_extendedprice <= 0
      |UNION ALL
      |SELECT 'order_orphans', CAST(count(*) AS BIGINT)
      |FROM orders o2 WHERE NOT EXISTS
      |  (SELECT 1 FROM customer c WHERE c.c_custkey = o2.o_custkey)
      |ORDER BY check_name""".stripMargin) { (s, d) =>
    dqAudit(Tables.orders(s, d), Tables.lineitem(s, d), Tables.customer(s, d))
  }

  /** The audit relation itself, table inputs injectable so the spec
    * can prove every check FIRES on planted violations (the fixtures
    * are clean — all five counts are 0 there, which the oracle pins,
    * but a gate that can only ever see zeros proves nothing about the
    * detectors).
    */
  def dqAudit(orders: DataFrame, lineitem: DataFrame,
      customer: DataFrame): DataFrame = {
    def check(name: String, n: DataFrame): DataFrame =
      n.select(lit(name).as("check_name"), col("n_bad"))
    // ONE orders pass for both orders-local checks (round-16, guide
    // §2.3 "aggregate before you shuffle" / VERDICT r15 #6): the dup
    // check's groupBy(o_orderkey) exchange already exists, so the
    // null-custkey count rides the same scan as a per-group
    // conditional aggregate — was a second full orders scan + its own
    // agg-pair exchange (plan: 7 scans → 6, 9 jobs → 8).
    // sum(when(cnt>1, cnt−1)) ≡ filter(cnt>1).sum(cnt−1): the WHEN
    // yields NULL on non-dup groups and sum ignores NULLs; both
    // coalesce to 0 on an empty orders side.
    val ordersStats = orders
      .select(col("o_orderkey"), col("o_custkey"))
      .groupBy("o_orderkey")
      .agg(count(lit(1)).as("cnt"),
        count(when(col("o_custkey").isNull, 1)).as("n_null"))
      .agg(
        coalesce(sum(when(col("cnt") > 1, col("cnt") - 1)), lit(0L))
          .as("dup_bad"),
        coalesce(sum(col("n_null")), lit(0L)).as("null_bad"))
      .selectExpr("stack(2, 'dup_order_keys', dup_bad, " +
        "'null_custkeys', null_bad) AS (check_name, n_bad)")
    // The lineitem legs stay SEPARATE scans deliberately: fusing them
    // needs either a LEFT join against a DISTINCT orders key set (an
    // extra key-grain exchange the anti-join doesn't pay — and the
    // anti-join is robust to duplicate orders keys, which check 1
    // exists to detect) or a key-grain pre-aggregate read twice; both
    // trade a cheap pruned column scan for a shuffle of the biggest
    // table's key column. At 100 TB the scan is the cheaper side.
    val liOrphans = lineitem.select("l_orderkey")
      .join(orders.select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("n_bad"))
    val badPrice = lineitem.filter(col("l_extendedprice") <= 0)
      .agg(count(lit(1)).as("n_bad"))
    val orderOrphans = orders.select("o_custkey")
      .join(customer.select(col("c_custkey")),
        col("o_custkey") === col("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("n_bad"))
    ordersStats
      .unionByName(check("lineitem_orphans", liOrphans))
      .unionByName(check("nonpositive_price", badPrice))
      .unionByName(check("order_orphans", orderOrphans))
      .orderBy("check_name")
  }

  /** Snapshot diff — corpus version drift between two releases: which
    * docs were added / removed / changed / unchanged, sliced by
    * language. v2 is a deterministic transform of the fixture corpus
    * (every 97th doc dropped, every 101st doc's text edited, every
    * 103rd doc re-added under a shifted id), so the diff is exactly
    * reproducible in the oracle. Change detection compares md5 TEXT
    * FINGERPRINTS, not text — the form that scales: a 100 TB diff
    * shuffles 32-char digests and ids, never documents; both engines
    * compute the identical hex md5.
    *
    * Shape: one full-outer key join (both sides hash-partitioned on
    * doc_id — co-partitioned releases make this a zipped local join),
    * CASE classification, then a tiny rollup.
    */
  val qSnapshotDiff = DeclaredQuery(
    "q_snapshot_diff",
    """WITH v1 AS (
      |  SELECT doc_id, lang, md5(text) AS fp FROM documents
      |), v2 AS (
      |  SELECT CASE WHEN doc_id % 103 = 0 THEN doc_id + 100000
      |              ELSE doc_id END AS doc_id,
      |         lang,
      |         CASE WHEN doc_id % 101 = 0 THEN md5(text || ' v2')
      |              ELSE md5(text) END AS fp
      |  FROM documents WHERE doc_id % 97 <> 0
      |)
      |SELECT COALESCE(v2.lang, v1.lang) AS lang,
      |       CASE WHEN v1.doc_id IS NULL THEN 'added'
      |            WHEN v2.doc_id IS NULL THEN 'removed'
      |            WHEN v1.fp <> v2.fp THEN 'changed'
      |            ELSE 'unchanged' END AS change_type,
      |       count(*) AS n
      |FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val v1 = docs.select(col("doc_id"), col("lang"), md5(col("text")).as("fp"))
    val v2 = docs.filter(col("doc_id") % 97 =!= 0)
      .select(
        when(col("doc_id") % 103 === 0, col("doc_id") + 100000L)
          .otherwise(col("doc_id")).as("doc_id"),
        col("lang"),
        when(col("doc_id") % 101 === 0, md5(concat(col("text"), lit(" v2"))))
          .otherwise(md5(col("text"))).as("fp"))
    v1.alias("v1")
      .join(v2.alias("v2"), col("v1.doc_id") === col("v2.doc_id"), "full_outer")
      .select(
        coalesce(col("v2.lang"), col("v1.lang")).as("lang"),
        when(col("v1.doc_id").isNull, "added")
          .when(col("v2.doc_id").isNull, "removed")
          .when(col("v1.fp") =!= col("v2.fp"), "changed")
          .otherwise("unchanged").as("change_type"))
      .groupBy("lang", "change_type")
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "change_type")
  }

  /** Incremental materialized-view maintenance: merge ONE new day of
    * facts into a stored weekly rollup without recomputing history —
    * THE pattern that makes daily pipelines affordable at 100 TB
    * (recomputing a rollup over years of facts for one new
    * day's data is the classic scale failure). The declared plan is
    * the incremental shape end to end:
    *
    *   1. base MV = weekly rollup of all days BEFORE the cutoff (the
    *      last observed day) — stands in for the stored table; in
    *      production this is a parquet read, not an aggregate;
    *   2. delta = the cutoff day only, aggregated to the same keys —
    *      in production a partition-pruned single-day scan;
    *   3. untouched base rows pass through via an ANTI JOIN against
    *      the (tiny, broadcast) delta key set — history is never
    *      re-aggregated;
    *   4. touched keys = delta LEFT JOIN base, exact decimal sums
    *      added (decimal addition is associative, so merged partials
    *      ≡ a full recompute — the same law the streaming counters
    *      rely on).
    *
    * The DuckDB oracle is the FULL recompute over all facts — the gate
    * IS the MV-maintenance correctness statement (incremental ≡
    * batch), not a replay of the mechanism.
    */
  val qIncrementalRollup = DeclaredQuery(
    "q_incremental_rollup",
    """SELECT CAST(date_trunc('week', ts) AS DATE) AS week, event_type,
      |  CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d).select(
      date_trunc("week", col("ts")).cast("date").as("week"),
      date_trunc("day", col("ts")).cast("date").as("day"),
      col("event_type"),
      col("value").cast("decimal(12,2)").as("x"))
    val cut = ev.agg(max("day").as("cutoff")) // 1 row
    val tagged = ev.crossJoin(broadcast(cut))
    // weekly grain: the fixture spans 5 weeks and its last day is a
    // Tuesday, so BOTH maintenance paths are non-vacuous at every sf —
    // 4 untouched weeks pass through the anti join and the final week
    // merges delta partials into existing base rows (verified 20 + 5
    // rows at sf0.001/0.01/0.1)
    val keys = Seq("week", "event_type")
    // base and delta partials from ONE fact pass (conditional sums) —
    // the fixture stand-in for "read the stored MV" + "partition-pruned
    // single-day delta scan"; the plan digest showed the naive
    // two-filter form scanning events 4× (base, delta, and each reuse)
    val agg = tagged.groupBy(keys.map(col): _*)
      .agg(
        sum(when(col("day") < col("cutoff"), 1L).otherwise(0L)).as("bn"),
        sum(when(col("day") < col("cutoff"), col("x")))
          .cast("decimal(24,2)").as("bsv"),
        sum(when(col("day") === col("cutoff"), 1L).otherwise(0L)).as("dn"),
        sum(when(col("day") === col("cutoff"), col("x")))
          .cast("decimal(24,2)").as("dsv"))
      .localCheckpoint() // week×type rows — the MV-merge inputs
    val base = agg.filter(col("bn") > 0)
      .select(col("week"), col("event_type"),
        col("bn").as("n"), col("bsv").as("sv"))
    val delta = agg.filter(col("dn") > 0)
      .select(col("week"), col("event_type"), col("dn"), col("dsv"))
    val untouched = base.join(broadcast(delta.select(keys.map(col): _*)),
      keys, "left_anti")
    val merged = delta.join(base, keys, "left")
      .select(col("week"), col("event_type"),
        (coalesce(col("n"), lit(0L)) + col("dn")).as("n"),
        (coalesce(col("sv"), lit(0).cast("decimal(24,2)")) + col("dsv"))
          .cast("decimal(24,2)").as("sv"))
    untouched.select(col("week"), col("event_type"), col("n"), col("sv"))
      .unionAll(merged)
      .select(col("week"), col("event_type"),
        col("n").cast("long").as("n_events"),
        col("sv").cast("double").as("sum_value"))
      .orderBy("week", "event_type")
  }

  /** Incremental JOIN-view maintenance (round 14, VERDICT r13 #4 —
    * the last genuinely buildable gap): maintain a two-table join view
    *   V = SELECT seg, day, count(*), sum(value)
    *       FROM events ⋈ customer
    * under deltas on BOTH base tables by the delta rule
    *   ΔQ = ΔA ⋈ B_old  ∪  A_new ⋈ ΔB      (signed multiplicities)
    * — the algebraic identity (A+ΔA)⋈(B+ΔB) − A⋈B = ΔA⋈B + (A+ΔA)⋈ΔB,
    * which is what lets a serving deployment refresh a join view for
    * the price of the deltas instead of re-joining years of facts.
    *
    * Fixture deltas, both non-vacuous at every graded sf
    * (FixtureDriftSpec-pinned): ΔA = the cutoff day's facts (insert-
    * only, the q_incremental_rollup shape); ΔB = a dimension UPDATE —
    * customers with c_custkey % 97 = 0 changed market segment at the
    * cutoff, modeled as the signed pair (old row, −1) ∪ (new row, +1).
    * A dimension update is the hard case: the changed customer's
    * ENTIRE fact history moves between groups, so the A_new⋈ΔB term
    * retracts from the old segment's groups (negative counts) and
    * inserts into the new segment's — aggregates merge additively
    * because COUNT/SUM are abelian-group aggregates (n += Σm,
    * sv += Σ m·x), and a group whose merged n reaches 0 is dropped.
    *
    * One-fact-scan discipline: events joins the (broadcast) dimension
    * ONCE, carrying both the old and new segment columns, and every
    * delta-rule term — the stored V_old, the ΔA term, both signs of
    * the ΔB term — derives from one localCheckpointed pre-aggregate
    * at (old_seg, new_seg, day) grain (≤ 5·5·31 rows at
    * any corpus size). The DuckDB oracle is the FULL recompute over
    * the current tables, so the gate IS the incremental ≡ batch
    * statement, exactly like q_incremental_rollup's.
    *
    * 100 TB cost shape: the ΔA term is a partition-pruned single-day
    * scan ⋈ broadcast dim; the ΔB term is a fact scan against a
    * BROADCAST set of changed dimension keys — the known price of
    * dimension churn in any IVM scheme (DBSP/materialize semantics),
    * which is why deployments batch dimension updates; cost scales
    * with |facts ⋈ ΔB| matched rows, never with |V| history
    * re-aggregation.
    */
  /** Deterministic dimension-churn fixture shared by the batch gate
    * below and the CONTINUOUS pipeline
    * ([[graft.streaming.JoinView]], round 15): changed keys
    * (c_custkey % 97 = 0) held the NEXT segment in the sorted segment
    * rotation before the cutoff (the q_snapshot_diff v1/v2 discipline
    * — old state is internal to the plan; the oracle only ever sees
    * current tables). Columns: (c_custkey, new_seg, old_seg).
    */
  def churnedDim(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
      "MACHINERY")
    val rot = segs.zip(segs.tail :+ segs.head).toMap
    val rotate = rot.foldLeft(lit(null).cast("string")) { case (acc, (k, v)) =>
      when(col("c_mktsegment") === k, lit(v)).otherwise(acc)
    }
    Tables.customer(s, d).select(
      col("c_custkey"),
      col("c_mktsegment").as("new_seg"),
      when(col("c_custkey") % 97 === 0, rotate)
        .otherwise(col("c_mktsegment")).as("old_seg"))
  }

  val qIncrementalJoinView = DeclaredQuery(
    "q_incremental_join_view",
    """SELECT c_mktsegment AS seg, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
      |  CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
      |FROM events e JOIN customer c ON e.user_id = c.c_custkey
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin) { (s, d) =>
    val dim = churnedDim(s, d)
    val ev = Tables.events(s, d).select(
      col("user_id"),
      date_trunc("day", col("ts")).as("day"),
      col("value").cast("decimal(12,2)").as("x"))
    // ONE fact scan: join to the broadcast dim, pre-aggregate to the
    // delta-rule working grain, checkpoint (all four terms read it).
    // The cutoff derives from the PRE-AGGREGATE, not a second corpus
    // pass — an ev.agg(max(day)) here was a duplicated full fact scan
    // hidden from the post-checkpoint PlanSpec (round-14 review)
    val pre = ev.join(broadcast(dim), col("user_id") === col("c_custkey"))
      .groupBy(col("old_seg"), col("new_seg"), col("day"))
      .agg(count(lit(1)).as("n"), sum(col("x")).cast("decimal(24,2)").as("sv"))
      .localCheckpoint()
    val cut = pre.agg(max("day").as("cutoff")) // over ≤ |5·5·days| rows
    val preC = pre.crossJoin(broadcast(cut))
    // stored view V_old: pre-cutoff facts ⋈ OLD dim snapshot
    val vOld = preC.filter(col("day") < col("cutoff"))
      .groupBy(col("old_seg").as("seg"), col("day"))
      .agg(sum("n").as("n"), sum("sv").cast("decimal(24,2)").as("sv"))
    // ΔA ⋈ B_old: the cutoff day against the OLD dim, m = +1
    val dA = preC.filter(col("day") === col("cutoff"))
      .select(col("old_seg").as("seg"), col("day"), col("n"), col("sv"))
    // A_new ⋈ ΔB: changed keys' whole history, signed ±1
    val changed = pre.filter(col("old_seg") =!= col("new_seg"))
    val dB = changed
      .select(col("new_seg").as("seg"), col("day"), col("n"), col("sv"))
      .unionAll(changed.select(col("old_seg").as("seg"), col("day"),
        (-col("n")).as("n"), (-col("sv")).cast("decimal(24,2)").as("sv")))
    val dV = dA.unionAll(dB).groupBy("seg", "day")
      .agg(sum("n").as("dn"), sum("sv").cast("decimal(24,2)").as("dsv"))
    // merge: untouched V_old rows pass through an anti join against
    // the broadcast delta key set; touched keys add group partials;
    // a group retracted to n = 0 leaves the view
    val keys = Seq("seg", "day")
    val untouched = vOld.join(broadcast(dV.select(keys.map(col): _*)),
      keys, "left_anti")
    // broadcast the stored-view side: the checkpointed RDD carries no
    // stats, so the ≤|seg|·|days|-row relation would otherwise plan a
    // SortMergeJoin (PlanSpec pins the broadcast)
    val merged = dV.join(broadcast(vOld), keys, "left")
      .select(col("seg"), col("day"),
        (coalesce(col("n"), lit(0L)) + col("dn")).as("n"),
        (coalesce(col("sv"), lit(0).cast("decimal(24,2)")) + col("dsv"))
          .cast("decimal(24,2)").as("sv"))
      .filter(col("n") > 0)
    untouched.unionAll(merged)
      .select(col("seg"), col("day"),
        col("n").cast("long").as("n_events"),
        col("sv").cast("double").as("sum_value"))
      .orderBy("seg", "day")
  }

  /** Incremental view maintenance, DELETE leg (round 14): the GDPR
    * right-to-be-forgotten job — purge selected users' entire fact
    * history from a stored daily rollup WITHOUT recomputing it, the
    * deletion-request pipeline every LLM-data deployment runs. With
    * the insert leg (q_incremental_rollup) and the update leg
    * (q_incremental_join_view's dimension churn) this completes the
    * IVM delta algebra: the deletion delta is the purged users' rows
    * with multiplicity −1, aggregates merge additively
    * (n += Σm, sv += Σ m·x), and a group retracted to n = 0 leaves
    * the view — HOT here, not a cold path: every (type, day) group a
    * purged user solely populated vanishes, the rest shrink in place.
    *
    * One-fact-scan discipline: the (type, day, purged) pre-aggregate
    * is checkpointed once (≤ 2·|types|·|days| rows at any corpus
    * size); the stored view and the deletion delta both derive from
    * it, untouched groups pass through a broadcast anti join, touched
    * groups merge broadcast partials. The oracle is the full recompute
    * over the surviving rows — incremental ≡ batch, the family gate.
    * At 100 TB the deletion delta is found by a broadcast semi-join of
    * the purge list against the facts (or a partition-pruned scan when
    * facts are user-bucketed); cost ∝ |purged history|, never |V|.
    */
  val qIncrementalUserPurge = DeclaredQuery(
    "q_incremental_user_purge",
    """SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
      |  CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
      |FROM events
      |WHERE user_id IS NULL OR user_id % 1009 <> 0
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d).select(
      col("event_type"),
      date_trunc("day", col("ts")).as("day"),
      (col("user_id").isNotNull && col("user_id") % 1009 === 0).as("purged"),
      col("value").cast("decimal(12,2)").as("x"))
    val pre = ev.groupBy("event_type", "day", "purged")
      .agg(count(lit(1)).as("n"), sum(col("x")).cast("decimal(24,2)").as("sv"))
      .localCheckpoint() // one fact scan feeds the view AND the delta
    val keys = Seq("event_type", "day")
    val vOld = pre.groupBy(keys.map(col): _*) // the stored MV: ALL users
      .agg(sum("n").as("n"), sum("sv").cast("decimal(24,2)").as("sv"))
    val dV = pre.filter(col("purged")) // deletion delta, multiplicity −1
      .select(col("event_type"), col("day"),
        (-col("n")).as("dn"), (-col("sv")).cast("decimal(24,2)").as("dsv"))
    val untouched = vOld.join(broadcast(dV.select(keys.map(col): _*)),
      keys, "left_anti")
    val merged = dV.join(broadcast(vOld), keys, "left")
      .select(col("event_type"), col("day"),
        (coalesce(col("n"), lit(0L)) + col("dn")).as("n"),
        (coalesce(col("sv"), lit(0).cast("decimal(24,2)")) + col("dsv"))
          .cast("decimal(24,2)").as("sv"))
      .filter(col("n") > 0) // fully-purged groups leave the view
    untouched.unionAll(merged)
      .select(col("event_type"), col("day"),
        col("n").cast("long").as("n_events"),
        col("sv").cast("double").as("sum_value"))
      .orderBy("event_type", "day")
  }

  /** Governance audit (round 12): k-anonymity over a quasi-identifier
    * — the release gate a user-records table (or a training corpus's
    * metadata sidecar) must pass before leaving the boundary: every
    * equivalence class of the QI tuple (segment, nation, $1000
    * balance band) must hold ≥ k individuals, else its members are
    * re-identifiable by joining public attributes. Reports, per
    * segment: class count, classes under k=5, rows at risk, and the
    * minimum class size (the published k of the release). Non-vacuous
    * at every graded sf (29 unsafe classes / 101 at-risk rows at
    * sf0.1; the sf0.01 slice is mostly-unsafe — both regimes gated).
    *
    * Scale shape: one hash aggregation to class sizes (map-side
    * partial), one tiny rollup over |QI| classes — the same two-level
    * shape as q_dq_audit; no joins, no windows. The double band edge
    * is IEEE-identical across engines (2-decimal values, /1000
    * correctly rounded in both).
    */
  val qKAnonymity = DeclaredQuery(
    "q_k_anonymity",
    """WITH classes AS (
      |  SELECT c_mktsegment, c_nationkey,
      |         CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
      |         count(*) AS n
      |  FROM customer GROUP BY 1, 2, 3)
      |SELECT c_mktsegment,
      |  count(*) AS n_classes,
      |  CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_unsafe_classes,
      |  CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT) AS rows_at_risk,
      |  CAST(min(n) AS BIGINT) AS min_class_size
      |FROM classes
      |GROUP BY 1
      |ORDER BY 1""".stripMargin) { (s, d) =>
    val classes = Tables.customer(s, d)
      .groupBy(col("c_mktsegment"), col("c_nationkey"),
        floor(col("c_acctbal") / 1000).cast("long").as("bal_band"))
      .agg(count(lit(1)).as("n"))
    classes.groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_classes"),
        sum(when(col("n") < 5, 1L).otherwise(0L)).as("n_unsafe_classes"),
        sum(when(col("n") < 5, col("n")).otherwise(0L)).as("rows_at_risk"),
        min(col("n")).as("min_class_size"))
      .orderBy("c_mktsegment")
  }

  /** Governance audit, part 2 (round 13): distinct-l-diversity — the
    * companion gate k-anonymity alone cannot provide. A class can hold
    * k individuals yet still leak: if every member shares the SAME
    * sensitive value, knowing someone's quasi-identifier reveals it
    * (the homogeneity attack; Machanavajjhala et al. 2006). Here the
    * published QI is the k-anonymity class (segment, nation, $1000
    * balance band) and the sensitive value is the exact balance inside
    * the band — a class is safe only if it holds ≥ l = 3 distinct
    * balances. Reports, per segment: class count, low-diversity
    * classes, rows at risk, and the minimum diversity (the published
    * l of the release). Non-vacuous at both graded sfs in OPPOSITE
    * regimes (sf0.01: ~150 low-diversity classes per segment, min l=1;
    * sf0.1: 0–2 per segment, min l=2–4 — both CASE branches live).
    *
    * Scale shape: identical to q_k_anonymity — one hash aggregation to
    * classes (the distinct adds one Expand, still map-side partial +
    * single shuffle on the QI key), one tiny rollup over |QI| classes;
    * no joins, no windows. count(DISTINCT double) involves no
    * arithmetic, so cross-engine parity is exact by construction.
    */
  val qLDiversity = DeclaredQuery(
    "q_l_diversity",
    """WITH classes AS (
      |  SELECT c_mktsegment, c_nationkey,
      |         CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
      |         count(*) AS n,
      |         count(DISTINCT c_acctbal) AS ndv
      |  FROM customer GROUP BY 1, 2, 3)
      |SELECT c_mktsegment,
      |  count(*) AS n_classes,
      |  CAST(sum(CASE WHEN ndv < 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_low_diversity,
      |  CAST(sum(CASE WHEN ndv < 3 THEN n ELSE 0 END) AS BIGINT) AS rows_at_risk,
      |  CAST(min(ndv) AS BIGINT) AS min_diversity
      |FROM classes
      |GROUP BY 1
      |ORDER BY 1""".stripMargin) { (s, d) =>
    val classes = Tables.customer(s, d)
      .groupBy(col("c_mktsegment"), col("c_nationkey"),
        floor(col("c_acctbal") / 1000).cast("long").as("bal_band"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("c_acctbal")).as("ndv"))
    classes.groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_classes"),
        sum(when(col("ndv") < 3, 1L).otherwise(0L)).as("n_low_diversity"),
        sum(when(col("ndv") < 3, col("n")).otherwise(0L)).as("rows_at_risk"),
        min(col("ndv")).as("min_diversity"))
      .orderBy("c_mktsegment")
  }

  /** Governance audit, part 3 (round 13): t-closeness — the refinement
    * l-diversity still misses (Li et al. 2007): a class can hold l
    * distinct sensitive values yet leak by SKEW (its distribution far
    * from the table's — e.g. a class whose balances are all in the top
    * band reveals "rich" even with 3 distinct values). Audits, per
    * k-anonymity QI class (segment, nation), the Earth Mover's
    * Distance between the class's balance-band distribution and the
    * global one over the ordered band domain:
    * EMD = Σ|cumP − cumQ| / (m−1). Classes with EMD > t = 0.2 are
    * "wide"; reports per segment the wide count, rows at risk, and the
    * max EMD (the published t of the release).
    *
    * Cross-engine exactness: the cumulative difference is kept as an
    * INTEGER numerator (cumC·G − cumG·n over common denominator n·G),
    * |·| summed exactly in BIGINT, ONE double division at the end; the
    * t-threshold compares num·5 > n·G·(m−1) in exact integers — the
    * q_anomaly_hours/q_linear_attribution integer-sums discipline, so
    * no float accumulation order can split the engines. Identical SQL
    * text runs in both (the Spark side binds the customer view).
    * Overflow bound (round-13 review): the numerator terms are ≤ n·G ≤
    * G², so int64 holds exactly up to G ≈ 3·10⁹ audited rows — beyond
    * any real release-audit dimension; past it Spark's ANSI mode FAILS
    * LOUDLY (never silently wraps — the ExactSum.moneySum posture)
    * while DuckDB would promote to HUGEINT, and the documented upgrade
    * is CAST both engines' products to DECIMAL(38,0) (exact to 10³⁸).
    *
    * Regimes: sf0.01 has wide classes in 3 of 5 segments (12-row
    * classes are spiky); sf0.1's 120-row classes all sit inside
    * t = 0.2 (max EMD ≈ 0.07) — the mostly-safe release, with max_emd
    * still carrying per-segment signal. Scale shape: two hash
    * aggregations over the table + windows over the |QI|×m grid
    * (~1375 rows at any corpus size); no data-sized window, no
    * data-sized join.
    */
  private def tClosenessSql(customer: String): String =
    s"""WITH cust AS (
       |  SELECT c_mktsegment AS seg, c_nationkey AS nat,
       |         CAST(floor(c_acctbal / 1000) AS BIGINT) AS band
       |  FROM $customer),
       |bands AS (SELECT DISTINCT band FROM cust),
       |nb AS (SELECT count(*) AS m FROM bands),
       |gband AS (SELECT band, count(*) AS g FROM cust GROUP BY 1),
       |gtot AS (SELECT count(*) AS gn FROM cust),
       |classes AS (SELECT seg, nat, count(*) AS n FROM cust GROUP BY 1, 2),
       |cls_cnt AS (SELECT seg, nat, band, count(*) AS cnt FROM cust GROUP BY 1, 2, 3),
       |grid AS (
       |  SELECT c.seg, c.nat, c.n, b.band, COALESCE(x.cnt, 0) AS cnt
       |  FROM classes c CROSS JOIN bands b
       |  LEFT JOIN cls_cnt x ON x.seg = c.seg AND x.nat = c.nat AND x.band = b.band),
       |cum AS (
       |  SELECT seg, nat, n, band,
       |         sum(cnt) OVER (PARTITION BY seg, nat ORDER BY band) AS cumc
       |  FROM grid),
       |cumglob AS (
       |  SELECT band, sum(g) OVER (ORDER BY band) AS cumg FROM gband),
       |per_class AS (
       |  SELECT c.seg, c.nat, c.n,
       |         sum(abs(c.cumc * t.gn - g.cumg * c.n)) AS num,
       |         c.n * t.gn * (nb.m - 1) AS denom
       |  FROM cum c
       |  JOIN cumglob g ON c.band = g.band
       |  CROSS JOIN gtot t CROSS JOIN nb
       |  GROUP BY c.seg, c.nat, c.n, t.gn, nb.m)
       |SELECT seg AS c_mktsegment,
       |       count(*) AS n_classes,
       |       CAST(sum(CASE WHEN num * 5 > denom THEN 1 ELSE 0 END) AS BIGINT) AS n_wide,
       |       CAST(sum(CASE WHEN num * 5 > denom THEN n ELSE 0 END) AS BIGINT) AS rows_at_risk,
       |       round(max(CASE WHEN denom = 0 THEN 0.0
       |                      ELSE CAST(num AS DOUBLE) / denom END), 9) AS max_emd
       |FROM per_class
       |GROUP BY 1
       |ORDER BY 1""".stripMargin

  val qTCloseness = DeclaredQuery(
    "q_t_closeness", tClosenessSql("customer")) { (s, d) =>
    // The oracle's CTE tree references `cust` five times; inlining it
    // as SQL would re-scan the corpus per consumer (measured: 6
    // FileScans in the plan). The declared form aggregates the corpus
    // ONCE to the |QI|×m class-count relation (PlanSpec: ≤1 customer
    // scan) and derives every other CTE — class sizes, global band
    // counts, totals, the band domain — from that ≤1375-row
    // localCheckpoint, in the exact integer arithmetic the shared SQL
    // states, so the gate's bit-parity argument is unchanged.
    val cust = Tables.customer(s, d).select(
      col("c_mktsegment").as("seg"), col("c_nationkey").as("nat"),
      floor(col("c_acctbal") / 1000).cast("long").as("band"))
    val clsCnt = cust.groupBy("seg", "nat", "band")
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint(false) // one corpus scan feeds 5 consumers
    val classes = clsCnt.groupBy("seg", "nat").agg(sum("cnt").as("n"))
    val gband = clsCnt.groupBy("band").agg(sum("cnt").as("g"))
    val nb = gband.agg(count(lit(1)).as("m"))
    val gtot = gband.agg(sum("g").as("gn"))
    val grid = classes.crossJoin(gband.select("band"))
      .join(clsCnt, Seq("seg", "nat", "band"), "left")
      .select(col("seg"), col("nat"), col("n"), col("band"),
        coalesce(col("cnt"), lit(0L)).as("cnt"))
    val wClass = org.apache.spark.sql.expressions.Window
      .partitionBy("seg", "nat").orderBy("band")
    val wGlob = org.apache.spark.sql.expressions.Window.orderBy("band")
    val cum = grid.withColumn("cumc", sum("cnt").over(wClass))
    // the global cumulative runs over the m-row band domain (value-
    // domain window, the q_anomaly_hours class), never over data
    val cumglob = gband
      .withColumn("cumg", sum("g").over(wGlob)).select("band", "cumg")
    val perClass = cum.join(cumglob, "band")
      .crossJoin(gtot).crossJoin(nb)
      .groupBy("seg", "nat", "n", "gn", "m")
      .agg(sum(abs(col("cumc") * col("gn") - col("cumg") * col("n"))).as("num"))
      .select(col("seg"), col("n"), col("num"),
        (col("n") * col("gn") * (col("m") - 1)).as("denom"))
    perClass.groupBy("seg")
      .agg(count(lit(1)).as("n_classes"),
        sum(when(col("num") * 5 > col("denom"), 1L).otherwise(0L))
          .as("n_wide"),
        sum(when(col("num") * 5 > col("denom"), col("n")).otherwise(0L))
          .as("rows_at_risk"),
        // m = 1 degeneracy guard (round-14 advice): a single-band
        // domain gives denom = n·gn·(m−1) = 0 with num = 0 too — EMD is
        // trivially 0 (everything in one band), but 0/0 is NULL in
        // DuckDB while Spark's ANSI divide diverges; the CASE pins both
        // engines to the semantically-right 0.0
        round(max(when(col("denom") === 0, lit(0.0))
          .otherwise(col("num").cast("double") / col("denom"))), 9)
          .as("max_emd"))
      .select(col("seg").as("c_mktsegment"), col("n_classes"),
        col("n_wide"), col("rows_at_risk"), col("max_emd"))
      .orderBy("c_mktsegment")
  }

  val all: Seq[DeclaredQuery] =
    Seq(qUpsertMerge, qScd2History, qRecursiveCte, qDqAudit, qSnapshotDiff,
      qIncrementalRollup, qIncrementalJoinView, qIncrementalUserPurge,
      qKAnonymity, qLDiversity, qTCloseness)
}
