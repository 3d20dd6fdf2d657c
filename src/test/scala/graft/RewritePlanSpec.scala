package graft

import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
import org.apache.spark.sql.functions._

/** Engine-side pins of the round-12 rewrite arc:
  *  - Spark's own EliminateOuterJoin already drops the LEFT OUTER
  *    unique-key/unreferenced join, but never the INNER one, which needs
  *    a referential-integrity proof from data (q407);
  *  - Spark's InferFiltersFromConstraints performs q409's transitive-
  *    predicate rewrite all the way into the fact scan's PushedFilters.
  */
class RewritePlanSpec extends SparkSpecBase {
  import spark.implicits._

  private def joinsIn(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.optimizedPlan.collect { case j: LJoin => j }.size

  private def orders = Tables.load(spark, sf001, "orders")
  private def cust = Tables.load(spark, sf001, "customer")
  private def dimKeys = cust.select(col("c_custkey")).distinct()

  test("pinned: Spark's EliminateOuterJoin already drops the LEFT OUTER unique-key join") {
    // the structural class is the engine's; the INNER class needs a
    // data proof (q407's audit)
    val outer = orders
      .join(dimKeys, col("o_custkey") === col("c_custkey"), "left_outer")
      .select(col("o_orderkey"))
    assert(joinsIn(outer) == 0,
      s"EliminateOuterJoin behavior changed:\n${outer.queryExecution.optimizedPlan}")
    val inner = orders
      .join(dimKeys, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"))
    assert(joinsIn(inner) == 1,
      "the engine eliminated an INNER join without an RI proof")
  }

  test("q409's transitive predicate reaches the fact scan's PushedFilters via the engine's own inference") {
    // filter only the ORDERS side on the join key; Spark's
    // InferFiltersFromConstraints must transfer the range through the
    // equi-join onto lineitem, and the pushed-down filter must appear in
    // the parquet scan node — the engine performing q409's rewrite
    val li = Tables.load(spark, sf001, "lineitem")
    val (lo, hi) = orders.agg(min("o_orderkey"), max("o_orderkey"))
      .as[(Long, Long)].head() match {
        case (a, b) => (a + (b - a) * 2 / 5, a + (b - a) * 9 / 20)
      }
    val joined = li.join(orders.where(col("o_orderkey").between(lo, hi)),
      col("l_orderkey") === col("o_orderkey"))
    val plan = joined.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val pushed = "PushedFilters: \\[[^\\]]*\\]".r.findAllIn(plan).toSeq
    assert(pushed.exists(s => s.contains("GreaterThanOrEqual(l_orderkey") &&
        s.contains("LessThanOrEqual(l_orderkey")),
      s"inferred range on l_orderkey did not reach the fact scan:\n$plan")
  }
}
