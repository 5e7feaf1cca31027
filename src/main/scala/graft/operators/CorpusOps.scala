package graft.operators

import graft.{DeclaredQuery, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-preparation operations that round out the LLM-data surface
  * (SURVEY.md §2.K): asymmetric containment detection, RAG-style
  * token-window chunking, deterministic epoch shuffling, and
  * mixture token accounting. All four are single-pass declarative
  * pipelines over `documents` — no pair expansion beyond the
  * df-bounded candidate step, no driver-side loops.
  */
object CorpusOps {

  /** Asymmetric gram-set containment, the dedup signal symmetric
    * Jaccard misses: a short document wholly lifted into a longer one
    * has Jaccard |A∩B|/|A∪B| ≈ |A|/|B| (arbitrarily small) but
    * containment |A∩B|/min(|A|,|B|) = 1. Published as the candidate
    * test in CDC/containment dedup (Broder's containment coefficient).
    *
    * Shape: distinct 5-token grams per doc (one codegen'd
    * [[graft.functions.TokenNGrams]] pass, 8-byte xxhash64 keys like
    * [[SubstringDedup]]), candidates = docs sharing a gram whose df is
    * in [2, 64] (the same maxDf skew ceiling as every bucketed
    * pipeline — a boilerplate gram shared by a million docs never
    * becomes a million² pair expansion), [[graft.functions.OrderedPairs]]
    * emits each bucket's pairs carrying min(|A|,|B|) pre-reduced, so
    * the pair aggregate groups on the narrow (id_a, id_b) key only.
    * Containment here divides by the docs' TOTAL distinct-gram counts
    * (not the df-bounded universe): the ceiling only bounds candidate
    * generation, the reported fraction keeps its textbook meaning.
    *
    * 100 TB: the corpus is scanned and shingled exactly ONCE — all
    * grams' id-lists are collected first, the per-doc totals are
    * re-derived by exploding those lists, and the buckets join the
    * totals back on doc_id. The extra exchanges run over the
    * distinct-gram stream, which is why this beats recomputing the
    * scan+shingle subtree under both consumers (tools/ContainProf
    * (removed; last in 672d67d) A/B/C at sf0.1, min of 3: recompute
    * 1.18 s, persist 1.33 s,
    * single-pass 0.85 s). All stages linear, ceiling-guarded.
    * Reports ALL candidate pairs with their fraction — a τ cut is a
    * downstream filter, and the fractional rows are exactly what
    * makes the oracle gate bite.
    */
  val containmentPairs: DeclaredQuery = {
    val L = 5; val maxDf = 64
    DeclaredQuery(
      "q_containment_pairs",
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
         |           WHERE text IS NOT NULL AND len(string_split(text, ' ')) >= $L),
         |g AS (SELECT DISTINCT doc_id, ${(1 to L).map(j => s"w[i+${j - 1}]").mkString(" || ' ' || ")} AS gram
         |      FROM t, LATERAL (
         |        SELECT unnest(generate_series(1, len(w) - ${L - 1})) AS i) s),
         |cnt AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
         |dfr AS (SELECT gram, count(*) AS df FROM g GROUP BY gram),
         |shared AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
         |  FROM g a JOIN dfr USING (gram)
         |  JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
         |  WHERE dfr.df BETWEEN 2 AND $maxDf
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b, n_shared,
         |       CAST(least(ca.n, cb.n) AS BIGINT) AS lnf,
         |       round(n_shared / CAST(least(ca.n, cb.n) AS DOUBLE), 6) AS containment
         |FROM shared
         |JOIN cnt ca ON ca.doc_id = id_a
         |JOIN cnt cb ON cb.doc_id = id_b
         |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      // Round-12 rewrite (VERDICT r11 #3 — was 4.5× DuckDB). The
      // round-11 plan shuffled the gram stream twice (distinct, then
      // regroup by gram) and aggregated it a third time to join the
      // per-doc totals into the buckets. All three costs collapse:
      //
      //  1. A doc's shingles come from its single input row, so the
      //     map-side partial collect_set already removes every
      //     duplicate (doc, gram) — the groupBy(gh) aggregate IS the
      //     distinct. One shuffle of the heavy stream, not two.
      //  2. The per-doc total (containment's denominator) is a pure
      //     function of the doc's own text, so the codegen'd
      //     `token_ngram_distinct` computes it AT SCAN TIME (one
      //     per-row hash-set pass fused in the same stage) and it
      //     rides each shingle row as a 4-byte struct field;
      //     `ordered_pairs` pre-reduces min(n_a, n_b) per pair. No
      //     per-doc-totals aggregate, no join-backs — the whole query
      //     is scan → one gram-keyed exchange → pair aggregate.
      //
      // (A/B'd intermediate: totals as a separate map-only relation
      // joined onto the reduced pair table — two extra broadcast-join
      // stages and a second text scan; carrying n through the shuffle
      // costs ~0.5 MB at sf0.1 and wins on wall clock.)
      // the maxDf ceiling is enforced INSIDE the aggregate (round-14
      // review — the decontaminateOverlap discipline): a plain
      // collect_set + post-hoc size() filter would materialize a hot
      // boilerplate gram's multi-GB (id, n) buffer before dropping it;
      // the bounded collector saturates at maxDf+1 entries and is
      // exact below the cap, so the hash gate is unchanged
      val boundedPairs = org.apache.spark.sql.functions.udaf(
        new graft.functions.BoundedPairDistinctAggregator(maxDf),
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.LONG,
          org.apache.spark.sql.Encoders.INT))
      docs
        .filter(col("text").isNotNull && size(split(col("text"), " ", -1)) >= L)
        .select(col("doc_id"),
          expr(s"token_ngram_distinct(text, $L)").as("n"),
          expr(s"token_ngrams(text, $L)"))
        .select(xxhash64(col("shingle")).as("gh"),
          col("doc_id").as("id"), col("n"))
        .groupBy("gh")
        .agg(boundedPairs(col("id"), col("n")).as("ids"))
        .filter(size(col("ids")) >= 2 && size(col("ids")) <= maxDf)
        .select(expr("ordered_pairs(ids)"))
        .groupBy("id_a", "id_b")
        // lnf is constant within a pair (min of the two docs' totals);
        // min() just picks it without dragging it through the key
        .agg(count(lit(1)).as("n_shared"), min("lnf").as("lnf"))
        .select(col("id_a"), col("id_b"), col("n_shared"),
          col("lnf").cast("long").as("lnf"),
          round(col("n_shared") / col("lnf").cast("double"), 6).as("containment"))
        .orderBy("id_a", "id_b")
    }
  }

  /** RAG/embedding-style token-window chunking: fixed window W=32,
    * stride S=24 (8-token overlap), last chunk truncated, docs shorter
    * than W emit exactly one chunk. n_chunks = 1 + ⌈max(n−W,0)/S⌉ in
    * exact integer arithmetic so both engines agree on the boundary
    * cases (n = W, n = W+1, …).
    *
    * One projection + one generator per doc — no shuffle at all until
    * the final presentation sort; at 100 TB this is a map-only stage
    * whose output feeds the embedding/packing stages directly.
    */
  val chunkDocuments: DeclaredQuery = {
    val W = 32; val S = 24
    DeclaredQuery(
      "q_chunk_documents",
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
         |           WHERE text IS NOT NULL),
         |c AS (SELECT doc_id, len(w) AS n, w,
         |             1 + (greatest(len(w) - $W, 0) + ${S - 1}) // $S AS n_chunks
         |      FROM t),
         |e AS (SELECT doc_id, n, w,
         |             unnest(generate_series(0, n_chunks - 1)) AS chunk_id
         |      FROM c)
         |SELECT doc_id, chunk_id,
         |       chunk_id * $S AS tok_start,
         |       CAST(least($W, n - chunk_id * $S) AS BIGINT) AS n_chunk_tok,
         |       array_to_string(w[chunk_id * $S + 1 : chunk_id * $S + $W], ' ')
         |         AS chunk_text
         |FROM e
         |ORDER BY doc_id, chunk_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .filter(col("text").isNotNull)
        .select(col("doc_id"), split(col("text"), " ", -1).as("w"))
        .withColumn("n", size(col("w")))
        .withColumn("n_chunks",
          expr(s"1L + (greatest(n - $W, 0) + ${S - 1}) div $S"))
        .select(col("doc_id"), col("n"), col("w"),
          // explode, not posexplode (round-14 review): the sequence
          // value IS the position, so the pos column was dead output
          explode(sequence(lit(0L), col("n_chunks") - 1)))
        .select(col("doc_id"), col("col").as("chunk_id"),
          (col("col") * S).as("tok_start"),
          least(lit(W), col("n") - col("col") * S).cast("long").as("n_chunk_tok"),
          array_join(slice(col("w"), (col("col") * S + 1).cast("int"), lit(W)), " ")
            .as("chunk_text"))
        .orderBy("doc_id", "chunk_id")
    }
  }

  /** Deterministic epoch shuffle — the training-order randomization
    * step. Each doc's position is a pure function of (seed, doc_id):
    * key = md5("epoch0:" ‖ doc_id), shard = first hex nibble (16
    * shards), position = rank of the key within the shard. Re-running
    * the pipeline (or recomputing a lost partition under stage retry)
    * reproduces the identical order — rand()-based shuffles do not.
    *
    * Scale shape: one hash projection, one hash-partition exchange on
    * the 16-way shard key, per-shard sort. No global single-partition
    * window: position is per-shard, and a training reader consumes
    * shards in name order — the standard shuffled-shard layout. At
    * 1000 executors the shard count is a knob (nibbles → bytes), not a
    * rewrite.
    */
  val corpusShuffle: DeclaredQuery = DeclaredQuery(
    "q_corpus_shuffle",
    """WITH k AS (
      |  SELECT doc_id, md5('epoch0:' || CAST(doc_id AS VARCHAR)) AS shuffle_key
      |  FROM documents)
      |SELECT substr(shuffle_key, 1, 1) AS shard,
      |       row_number() OVER (PARTITION BY substr(shuffle_key, 1, 1)
      |                          ORDER BY shuffle_key, doc_id) AS shard_pos,
      |       doc_id, shuffle_key
      |FROM k
      |ORDER BY shard, shard_pos""".stripMargin) { (s, d) =>
    val keyed = Tables.documents(s, d)
      .select(col("doc_id"),
        md5(concat(lit("epoch0:"), col("doc_id").cast("string"))).as("shuffle_key"))
      .withColumn("shard", substring(col("shuffle_key"), 1, 1))
    keyed
      .withColumn("shard_pos",
        row_number().over(Window.partitionBy("shard").orderBy("shuffle_key", "doc_id"))
          .cast("long"))
      .select("shard", "shard_pos", "doc_id", "shuffle_key")
      .orderBy("shard", "shard_pos")
  }

  /** Mixture token accounting: tokens per (lang, source) slice and
    * each slice's share of the corpus — the numbers a mixture plan
    * (`q_mixture_sample`/`q_mixture_epochs`) is written against.
    * The share window runs over the aggregated slice relation
    * (≤ |langs|×|sources| rows), not the corpus.
    */
  val tokenBudget: DeclaredQuery = DeclaredQuery(
    "q_token_budget",
    """SELECT lang, source,
      |       count(*) AS n_docs,
      |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
      |       round(sum(len(string_split(text, ' '))) /
      |             CAST(sum(sum(len(string_split(text, ' ')))) OVER () AS DOUBLE),
      |             6) AS token_share
      |FROM documents
      |WHERE text IS NOT NULL
      |GROUP BY lang, source
      |ORDER BY lang, source""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .filter(col("text").isNotNull)
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ", -1))).as("n_tokens"))
      .withColumn("token_share",
        round(col("n_tokens") /
          sum(col("n_tokens")).over(Window.partitionBy()).cast("double"), 6))
      .select("lang", "source", "n_docs", "n_tokens", "token_share")
      .orderBy("lang", "source")
  }

  /** Epoch batch manifest — the composition [[corpusShuffle]] feeds:
    * docs are consumed in deterministic shuffle order within each
    * shard, and greedy token packing assigns each doc to the batch its
    * STARTING cumulative offset falls in (batch budget 4096 tokens).
    * Output is the per-(shard, batch) manifest a training reader
    * consumes: doc count, token count. Pure function of (seed,
    * doc_id, text) — replayable under retry, re-derivable by the SQL
    * oracle. One exchange on the 16-way shard key; the running sum is
    * a per-shard window, never global.
    */
  val epochBatches: DeclaredQuery = {
    val B = 4096
    DeclaredQuery(
      "q_epoch_batches",
      s"""WITH k AS (
         |  SELECT doc_id, md5('epoch0:' || CAST(doc_id AS VARCHAR)) AS sk,
         |         len(string_split(text, ' ')) AS n_tok
         |  FROM documents WHERE text IS NOT NULL),
         |o AS (
         |  SELECT substr(sk, 1, 1) AS shard, sk, doc_id, n_tok,
         |         sum(n_tok) OVER (PARTITION BY substr(sk, 1, 1)
         |                          ORDER BY sk, doc_id
         |                          ROWS UNBOUNDED PRECEDING) - n_tok AS start_tok
         |  FROM k)
         |SELECT shard, CAST(start_tok // $B AS BIGINT) AS batch_id,
         |       count(*) AS n_docs,
         |       CAST(sum(n_tok) AS BIGINT) AS n_tokens
         |FROM o GROUP BY shard, batch_id
         |ORDER BY shard, batch_id""".stripMargin) { (s, d) =>
      val byShard = Window.partitionBy("shard").orderBy("sk", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.documents(s, d)
        .filter(col("text").isNotNull)
        .select(col("doc_id"),
          md5(concat(lit("epoch0:"), col("doc_id").cast("string"))).as("sk"),
          size(split(col("text"), " ", -1)).cast("long").as("n_tok"))
        .withColumn("shard", substring(col("sk"), 1, 1))
        .withColumn("start_tok", sum("n_tok").over(byShard) - col("n_tok"))
        .groupBy(col("shard"), expr(s"start_tok div $B").as("batch_id"))
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
        .orderBy("shard", "batch_id")
    }
  }

  /** Deterministic weighted sampling WITHOUT replacement (round 9):
    * the Efraimidis–Spirakis A-ES scheme — each item draws
    * u ∈ (0,1) and is ranked by key = −ln(u)/w; the k smallest keys
    * are a weighted sample without replacement (equivalently the
    * u^(1/w) max form). A training-data pipeline uses exactly this to
    * draw a length-weighted corpus subsample in ONE distributed pass:
    * the selection is a global top-k (TakeOrderedAndProject — partial
    * per-partition top-k, no global sort), never a sequential draw.
    *
    * Determinism discipline: u derives from the 52-bit md5 prefix of
    * the doc id (the portable `CAST('0x'||substr(md5,1,13))` family
    * the dedup oracles replay), so u = (fp52 + 0.5) / 2^52 is an
    * EXACT double, identical in both engines; the one transcendental
    * (−ln u) is divided by the weight and quantized round(·,9) →
    * DECIMAL(18,9) (the q_lm_perplexity discipline). The declared
    * output carries only integers (doc_id, n_chars, rank) — the key
    * orders the sample but never leaves the engine as a float.
    *
    * Weight = n_chars: longer documents proportionally likelier —
    * token-budget-aware subsampling.
    */
  val weightedSample: DeclaredQuery = DeclaredQuery(
    "q_weighted_sample",
    """WITH u AS (
      |  SELECT doc_id, n_chars,
      |         ((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':ws'), 1, 13))
      |             AS BIGINT) + 0.5) / 4503599627370496.0) AS uni
      |  FROM documents),
      |k AS (
      |  SELECT doc_id, n_chars,
      |         CAST(round(-ln(uni) / n_chars, 9) AS DECIMAL(18,9)) AS key
      |  FROM u WHERE n_chars > 0),
      |r AS (
      |  SELECT doc_id, n_chars,
      |         row_number() OVER (ORDER BY key, doc_id) AS rank
      |  FROM k)
      |SELECT doc_id, n_chars, rank FROM r
      |WHERE rank <= 50 ORDER BY rank""".stripMargin) { (s, d) =>
    // n_chars > 0 in BOTH engines (round-14 review): a zero weight
    // makes -ln(u)/0 = +Inf, which ANSI Spark and DuckDB both reject
    // at the decimal cast, and a NULL weight yields a NULL key that
    // sorts NULLS FIRST in Spark but NULLS LAST in DuckDB — either way
    // a zero-weight doc has zero selection probability by the A-ES
    // definition, so the filter states the semantics, not a dodge
    val u = Tables.documents(s, d)
      .filter(col("n_chars") > 0)
      .select(col("doc_id"), col("n_chars"),
      ((expr("conv(substring(md5(concat(cast(doc_id AS string), ':ws')), 1, 13), 16, 10)")
        .cast("long") + 0.5) / lit(4503599627370496.0)).as("uni"))
    val keyed = u.select(col("doc_id"), col("n_chars"),
      round(-log(col("uni")) / col("n_chars"), 9).cast("decimal(18,9)").as("key"))
      // top-k by key = the sample; fused TakeOrderedAndProject, then a
      // rank over the k selected rows only (never a global sort)
      .orderBy(col("key"), col("doc_id")).limit(50)
    val w = Window.orderBy("key", "doc_id")
    keyed.withColumn("rank", row_number().over(w))
      .select("doc_id", "n_chars", "rank")
      .orderBy("rank")
  }

  val all: Seq[DeclaredQuery] =
    Seq(containmentPairs, chunkDocuments, corpusShuffle, tokenBudget,
      epochBatches, weightedSample)
}
