package graft

import org.apache.spark.sql.functions._

import graft.ops.TopKOps

/** The native per-group top-k plan node (plans.TopKPerGroup):
  * result equivalence against the window row_number idiom, the boundary
  * cases a heap implementation can get wrong, and the plan contract the
  * operator exists for — two heap levels around ONE hash exchange, no
  * sort, no window.
  */
class TopKPlanSpec extends SparkSpecBase {

  private def windowTopK(k: Int) = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy(col("v").desc, col("id"))
    sampleDf.withColumn("rn", row_number().over(w)).where(col("rn") <= k).drop("rn")
  }

  // 1000 rows, 7 groups, deterministic values with duplicates (v has only
  // 50 distinct values, so k-boundary ties are guaranteed and the id
  // tie-break is load-bearing)
  private lazy val sampleDf = spark.range(1000).select(
    col("id"),
    (col("id") % 7).as("g"),
    ((col("id") * 131) % 50).cast("double").as("v"))

  private def nativeTopK(k: Int) =
    TopKOps.topKPerGroup(sampleDf, Seq("g"), Seq(("v", true), ("id", false)), k)

  test("matches the window row_number idiom, ties included") {
    for (k <- Seq(1, 3, 17)) {
      val expected = windowTopK(k).orderBy("g", "id").collect().toSeq
      val actual = nativeTopK(k).orderBy("g", "id").collect().toSeq
      assert(actual == expected, s"k=$k mismatch")
    }
  }

  test("k larger than every group returns the whole input") {
    val out = nativeTopK(1000).orderBy("id").collect()
    assert(out.length == 1000)
  }

  test("empty input yields empty output") {
    val empty = sampleDf.where(col("id") < 0)
    assert(TopKOps.topKPerGroup(empty, Seq("g"), Seq(("v", true)), 5).count() == 0)
  }

  test("unknown column fails fast") {
    intercept[IllegalArgumentException] {
      TopKOps.topKPerGroup(sampleDf, Seq("nope"), Seq(("v", true)), 5)
    }
  }

  test("plans as partial/final heaps around one exchange — no sort, no window") {
    val df = nativeTopK(3)
    df.collect() // AQE finalizes the plan only after execution
    // SparkPlan.collect stops at AQE stage boundaries — assert on the
    // final-plan text instead (toString appends the initial plan; drop it)
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val levels = "TopKPerGroup \\[[^\\n]*, (true|false)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(levels.sorted == Seq("false", "true"),
      s"expected one partial + one final heap level\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"expected exactly one hash exchange\n$p")
    assert(!p.contains("Window") && !p.contains("Sort "),
      s"sort/window crept into the native top-k plan\n$p")
  }

  test("strategy injection via GraftExtensions plans the node too") {
    // graft.Session installs GraftExtensions on the shared session, so
    // its planner carries the strategy every test above plans through
    assert(spark.sessionState.planner.strategies.contains(graft.plans.TopKPerGroupStrategy))
    assert(!spark.experimental.extraStrategies.contains(graft.plans.TopKPerGroupStrategy))
  }
}
