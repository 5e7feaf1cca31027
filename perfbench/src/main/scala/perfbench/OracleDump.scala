package perfbench

/** Writes every declared query name with its DuckDB oracle SQL (null
  * when the query has none) as JSON, for `gen_expected.py`.
  *
  *   java ... perfbench.OracleDump <out.json>
  */
object OracleDump {
  def main(args: Array[String]): Unit =
    Json.write(args(0), graft.SparkEntry.declared.map(q => q.name -> q.oracle).toMap)
}
