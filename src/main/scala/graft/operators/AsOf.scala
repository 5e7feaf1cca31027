package graft.operators

import graft.plans.AsOfJoinPlan
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge}
import org.apache.spark.sql.graftshim.toExpression

/** Public API for the native as-of join (SURVEY.md §2 C8, §4.3):
  *
  * {{{
  * AsOf.join(purchases, clicks,
  *   leftKeys  = Seq(purchases("user_id")),
  *   rightKeys = Seq(clicks("c_user_id")),
  *   leftTime  = purchases("sec"),
  *   rightTime = clicks("c_sec"))
  * }}}
  *
  * Inner as-of semantics: each left row pairs with the single right
  * row having equal keys and the greatest rightTime <= leftTime;
  * unmatched left rows are dropped, NULL keys/times never match.
  *
  * Columns must come from the argument DataFrames (`df("name")`), so
  * they carry resolved attribute references. The two sides must not
  * share attribute ids — derive them from separate projections (an
  * `.as(...)`-renamed select is enough, as aliasing mints fresh ids).
  */
object AsOf {
  def join(left: DataFrame, right: DataFrame,
      leftKeys: Seq[Column], rightKeys: Seq[Column],
      leftTime: Column, rightTime: Column): DataFrame = {
    val lk = leftKeys.map(toExpression)
    val rk = rightKeys.map(toExpression)
    val lt = toExpression(leftTime)
    val rt = toExpression(rightTime)
    // The merge exec compares right-side values with orderings built
    // from the LEFT types — mismatched types would read garbage, not
    // fail. Reject them here, where the user can see the schema.
    require(lk.length == rk.length && lk.nonEmpty,
      s"as-of join needs matching non-empty key lists (${lk.length} vs ${rk.length})")
    // Same-DataFrame both sides: the right-side expressions would bind
    // against the LEFT child's colliding attribute ids and silently
    // read left values. Reject; an `.as(...)`-renamed select on one
    // side mints fresh ids.
    val leftIds = left.queryExecution.analyzed.outputSet
    val rightAttrs = right.queryExecution.analyzed.outputSet
    require(leftIds.intersect(rightAttrs).isEmpty,
      "as-of join sides share attribute ids (self-join on the same " +
        "DataFrame?) — derive one side from a renamed projection " +
        "(.select(col(\"x\").as(\"y\"), ...)) so references are unambiguous")
    // Swapped arguments (a left expression passed as a right key or
    // vice versa) would otherwise surface as a cryptic executor-time
    // binding failure after a full stage launch — reject driver-side.
    (lk :+ lt).foreach(e => require(e.references.subsetOf(leftIds),
      s"as-of left-side expression $e references columns not in the left side"))
    (rk :+ rt).foreach(e => require(e.references.subsetOf(rightAttrs),
      s"as-of right-side expression $e references columns not in the right side"))
    // structural equality ignoring nullability: a parquet-read struct
    // (nullable fields) must join a literal-built one (non-null) —
    // the physical layouts match; only the value types must.
    def sameType(a: org.apache.spark.sql.types.DataType,
        b: org.apache.spark.sql.types.DataType): Boolean =
      org.apache.spark.sql.types.DataType.equalsStructurally(
        a, b, ignoreNullability = true)
    lk.zip(rk).zipWithIndex.foreach { case ((l, r), i) =>
      require(sameType(l.dataType, r.dataType),
        s"as-of key $i type mismatch: ${l.dataType} vs ${r.dataType}")
    }
    require(sameType(lt.dataType, rt.dataType),
      s"as-of time type mismatch: ${lt.dataType} vs ${rt.dataType}")
    GraftSqlBridge.ofRows(left.sparkSession,
      AsOfJoinPlan(left.queryExecution.analyzed,
        right.queryExecution.analyzed, lk, rk, lt, rt))
  }
}
