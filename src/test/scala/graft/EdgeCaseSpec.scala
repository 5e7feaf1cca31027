package graft

import graft.functions.{TopKAggregator, VectorFunctions}
import graft.operators.Dedup
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Degenerate inputs: every operator must return empty/neutral results
  * on empty or single-row inputs, never throw — at 100 TB, empty
  * partitions and empty filter results are the common case, not the
  * edge.
  */
class EdgeCaseSpec extends SparkSpec {

  private def emptyDocs = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  test("dedup pipelines on empty input return empty, not error") {
    assert(Dedup.minhashNearDups(emptyDocs).count() == 0)
    assert(Dedup.simhash(emptyDocs).count() == 0)
    assert(Dedup.winnowFingerprints(emptyDocs).count() == 0)
  }

  test("dedup on a single doc returns no pairs") {
    import spark.implicits._
    val one = Seq((1L, "join scan window batch merge sort", "en", "s", 33L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    assert(Dedup.minhashNearDups(one).count() == 0)
    assert(Dedup.simhashNearDups(one).count() == 0)
  }

  test("sessions on empty events is empty") {
    import spark.implicits._
    val empty = Seq.empty[(java.sql.Timestamp, Long, Double)]
      .toDF("ts", "user_id", "value")
    assert(graft.streaming.Windows.sessions(empty).count() == 0)
  }

  test("top-k aggregator over an empty frame yields an empty array") {
    import spark.implicits._
    val empty = Seq.empty[Double].toDF("v")
    val r = empty.agg(TopKAggregator.top_k(col("v"), 3)).as[Seq[Double]].collect()
    assert(r.head.isEmpty)
  }

  test("vec_dot of empty arrays is 0.0; shorter text than shingle size survives") {
    import spark.implicits._
    val df = Seq((Array.empty[Float], Array.empty[Float])).toDF("a", "b")
    val d = df.select(VectorFunctions.vec_dot(col("a"), col("b"))).collect().head.getDouble(0)
    assert(d == 0.0)
    val tiny = Seq((1L, "one", "en", "s", 3L), (2L, "two", "en", "s", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // texts shorter than the shingle width still produce one shingle
    assert(Dedup.shingles(tiny).count() == 2)
  }

  /** q_pricing_summary's sums in the textbook form: each measure cast to
    * a DECIMAL wide enough to hold it exactly, summed, cast to double. */
  private def decimalForm(dir: String) =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_base_price"),
        sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(22,4)")).cast("double").as("sum_disc_price"),
        sum((col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")))
          .cast("decimal(24,6)")).cast("double").as("sum_charge"),
        count(lit(1)).as("count_order"))

  test("pricing summary's scaled-long sums are bit-identical to decimal sums") {
    // the shipped flagship sums exact scaled longs (hi/lo split for
    // the wide measures); this pins bit-parity with the textbook
    // DECIMAL-sum form (decimalForm above) on two fixture
    // scales — any drift in rounding, split, or reassembly fails here
    for (dir <- Seq(sf, "/root/testdata/sf0.01")) {
      val shipped = SparkEntry.queries("q_pricing_summary")(spark, dir)
        .select("l_returnflag", "l_linestatus", "sum_qty", "sum_base_price",
          "sum_disc_price", "sum_charge", "count_order")
        .collect()
      val reference = decimalForm(dir)
        .orderBy("l_returnflag", "l_linestatus")
        .select("l_returnflag", "l_linestatus", "sum_qty", "sum_base_price",
          "sum_disc_price", "sum_charge", "count_order")
        .collect()
      assert(shipped.sameElements(reference), s"parity broke at $dir")
    }
  }
}
