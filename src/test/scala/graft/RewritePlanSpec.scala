package graft

import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
import org.apache.spark.sql.functions._

import graft.plans.{FkJoinEliminationRule, RiConstraints}

/** Engine-side validation of the round-12 rewrite arc:
  *  - Spark's own EliminateOuterJoin already drops the LEFT OUTER
  *    unique-key/unreferenced join (pinned here — the reason the graft
  *    rule does not ship that class);
  *  - FkJoinEliminationRule extends elimination to the INNER case under
  *    an RiConstraints RELY constraint validated from data, with the
  *    plan (no Join), the results (identical rule-off), and every
  *    refusal shape certified;
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
    // the structural class is the engine's — which is exactly why the
    // graft rule ships the INNER class instead (needs a data proof)
    val outer = orders
      .join(dimKeys, col("o_custkey") === col("c_custkey"), "left_outer")
      .select(col("o_orderkey"))
    assert(joinsIn(outer) == 0,
      s"EliminateOuterJoin behavior changed:\n${outer.queryExecution.optimizedPlan}")
    val inner = orders
      .join(dimKeys, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"))
    assert(joinsIn(inner) == 1,
      "the engine eliminated an INNER join without an RI proof — rule obsolete?")
  }

  test("FkJoinEliminationRule drops the RI-validated inner join, results unchanged") {
    RiConstraints.clear()
    def q = orders
      .join(dimKeys, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("o_totalprice"))
    val (baseRows, baseSum) = (q.count(),
      q.agg(sum(expr("CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)"))).as[Long].head())
    withRule(FkJoinEliminationRule) {
      // not yet validated: the rule must refuse
      assert(joinsIn(q) == 1, "rule fired without a validated constraint")
      // the q407 audit validates and registers the RELY constraint
      assert(RiConstraints.validate(orders, cust, "o_custkey", "c_custkey"),
        "TPC-H referential integrity must validate on the full dim")
      val r = q
      assert(joinsIn(r) == 0,
        s"rule failed to eliminate the validated inner join:\n${r.queryExecution.optimizedPlan}")
      assert(r.count() == baseRows, "eliminated plan changed the row count")
      assert(r.agg(sum(expr("CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)")))
        .as[Long].head() == baseSum, "eliminated plan changed the aggregate")
    }
    RiConstraints.clear()
  }

  test("FkJoinEliminationRule refuses every unsafe shape") {
    RiConstraints.clear()
    // a filtered dim must FAIL validation (orphans) and register nothing
    assert(!RiConstraints.validate(orders,
      cust.where(col("c_mktsegment") === "BUILDING"), "o_custkey", "c_custkey"),
      "validation passed against a dim subset with orphaned FKs")
    withRule(FkJoinEliminationRule) {
      assert(joinsIn(orders
        .join(dimKeys, col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"))) == 1,
        "rule fired on a pair whose validation FAILED")
      assert(RiConstraints.validate(orders, cust, "o_custkey", "c_custkey"))
      // (a) a right column is referenced above the join
      assert(joinsIn(orders
        .join(dimKeys, col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("c_custkey"))) == 1,
        "rule dropped a join whose right side is consumed")
      // (b) the right side is a FILTERED subset of the validated dim —
      // the constraint says nothing about it; elimination would be wrong
      val filteredDim = cust.where(col("c_custkey") % 2 === 0)
        .select(col("c_custkey")).distinct()
      val qf = orders.join(filteredDim, col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"))
      assert(joinsIn(qf) == 1, "rule dropped a join against a dim SUBSET")
      // (c) an unvalidated key pair
      val li = Tables.load(spark, sf001, "lineitem")
      val sup = Tables.load(spark, sf001, "supplier")
        .select(col("s_suppkey")).distinct()
      assert(joinsIn(li.join(sup, col("l_suppkey") === col("s_suppkey"))
        .select(col("l_orderkey"))) == 1,
        "rule fired on a never-validated pair")
      // (d) a CHECKPOINTED subset of the dim collapses to a leaf — the
      // plan-shape Filter guard cannot see the cut, but the leaf is not
      // the registered constraint source, so the rule must refuse
      val subsetLeaf = cust.where(col("c_custkey") % 2 === 0)
        .select(col("c_custkey")).distinct().localCheckpoint(true)
      val qLeaf = orders.join(subsetLeaf, col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"))
      assert(joinsIn(qLeaf) == 1,
        "rule dropped a join against a checkpointed dim SUBSET (lineage hole)")
    }
    RiConstraints.clear()
  }

  test("FkJoinEliminationRule is an identity even on a null-carrying derived left side") {
    // the validated fact table has no null fks, but the rule may see
    // ANY left plan — e.g. one null-extended by an upstream outer join,
    // where the inner join drops the null rows. The kept IsNotNull(fk)
    // filter must preserve that semantics exactly.
    RiConstraints.clear()
    assert(RiConstraints.validate(orders, cust, "o_custkey", "c_custkey"))
    val nation = Tables.load(spark, sf001, "nation").select(col("n_nationkey"))
    // left side: nation left-joined to orders on a non-key — null-extends
    // o_custkey for every unmatched nation row
    val left = nation.join(orders, col("n_nationkey") === col("o_orderkey"), "left_outer")
    def q = left.join(dimKeys, col("o_custkey") === col("c_custkey"))
      .select(col("n_nationkey"), col("o_orderkey"))
    val baseRows = q.count()
    withRule(FkJoinEliminationRule) {
      val r = q
      assert(joinsIn(r) == 1,
        "the customer join must be eliminated (one upstream join remains)")
      assert(r.count() == baseRows,
        "rule changed results on a null-carrying left side — IsNotNull(fk) guard broken")
    }
    RiConstraints.clear()
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
