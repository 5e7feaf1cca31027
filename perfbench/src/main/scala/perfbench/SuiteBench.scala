package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession

/** The declared-query workload: a fixed subset of `SparkEntry.queries`
  * over the committed sf0.01 fixture, each executed through its full
  * declared plan with `queryExecution.toRdd.count()` after
  * `clearCache()`, in a seed-permuted order per pass. Set-up includes
  * the untimed passes, so the cold cost (codegen, artifact builds) lands
  * in `setup_s` and the timed passes measure the warm surface.
  *
  * Each result's row count is checked against the count the DuckDB
  * oracle SQL returns on the same fixture (`expected_counts.json`); a
  * query without oracle SQL passes if it returns at least one row.
  */
final class SuiteBench(spark: SparkSession, p: JsonNode, fixture: String, seed: Long)
    extends Main.Workload {
  private val queries = p.get("queries").elements().asScala.map(_.asText).toSeq
  private val streams = queries.filter(_.startsWith("q_stream_")).toSet
  private val expected: Map[String, Long] = p.get("expected").fields().asScala
    .map(e => e.getKey -> (if (e.getValue.isNull) -1L else e.getValue.asLong)).toMap
  private val declared = graft.SparkEntry.queries
  private val minPasses = p.get("min_passes").asInt
  private var passNo = 0
  private val pass1Ms = scala.collection.mutable.Map.empty[String, Double]

  private def order(): Seq[String] = {
    passNo += 1
    new scala.util.Random(seed * 1000003L + passNo).shuffle(queries)
  }

  /** Runs one query; returns (wall ms, error if the check failed). */
  private def runOnce(name: String): (Double, Option[String]) = {
    spark.catalog.clearCache()
    val fn = declared(name)
    val t0 = System.nanoTime()
    val rows = try Right(Trace.span("query", attrs = Map("query" -> name, "pass" -> passNo)) { id =>
        if (!Trace.on) fn(spark, fixture).queryExecution.toRdd.count()
        else {
          val df = Trace.span("queries.build", id)(_ => fn(spark, fixture))
          Trace.span("plans.plan", id)(_ => df.queryExecution.executedPlan)
          Trace.span("operators.exec", id)(_ => df.queryExecution.toRdd.count())
        }
      })
      catch { case e: Exception => Left(s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}") }
    val ms = Stats.ms(t0, System.nanoTime())
    val err = rows match {
      case Left(e) => Some(e)
      case Right(n) =>
        val want = expected.getOrElse(name, -1L)
        if (want >= 0 && n != want) Some(s"$name: $n rows, oracle says $want")
        else if (want < 0 && n < 1) Some(s"$name: no rows")
        else None
    }
    (ms, err)
  }

  /** Pass 1 (cold, its times kept for memo.cold_premium_s), then one
    * more untimed pass so JIT compilation has settled before the timed
    * passes.
    */
  override def setup(): (Long, Long, Seq[String]) = {
    val results = (0 to 1).flatMap { pass =>
      order().map { q =>
        val (ms, err) = runOnce(q)
        if (pass == 0) pass1Ms(q) = ms
        err
      }
    }
    val errs = results.flatten
    (results.size.toLong, errs.size.toLong, errs)
  }

  override def measure(seconds: Double): Main.Phase = {
    val times = scala.collection.mutable.Map.empty[String, Vector[Double]]
      .withDefaultValue(Vector.empty)
    val errs = Vector.newBuilder[String]
    var attempted = 0L
    val t0 = System.nanoTime()
    var passes = 0
    val passMs = Vector.newBuilder[Double]
    def elapsed = (System.nanoTime() - t0) / 1e9
    // whole passes only; another one starts while it should end in time
    while (passes < minPasses || elapsed * (passes + 1) / passes <= seconds) {
      val p0 = System.nanoTime()
      order().foreach { q =>
        val (ms, err) = runOnce(q)
        attempted += 1
        times(q) = times(q) :+ ms
        err.foreach(errs += _)
      }
      passMs += Stats.ms(p0, System.nanoTime())
      passes += 1
    }
    val med = queries.map(q => q -> Stats.median(times(q))).toMap
    val batchMs = med.filter { case (q, _) => !streams(q) }.values.sum
    val streamMs = med.filter { case (q, _) => streams(q) }.values.sum
    val e = errs.result()
    Main.Phase(attempted, e.size, e,
      Map("work_s" -> (batchMs + streamMs) / 1e3,
        "op_geomean_ms" -> Stats.geomean(med.values.toSeq)),
      Map("passes" -> passes, "pass_ms" -> passMs.result(), "batch_s" -> batchMs / 1e3, "stream_s" -> streamMs / 1e3,
        "query_median_ms" -> med, "pass1_ms" -> pass1Ms.toMap))
  }
}
