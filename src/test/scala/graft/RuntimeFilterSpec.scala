package graft

import org.apache.spark.sql.execution.FilterExec
import org.apache.spark.sql.functions._

/** q402 closed into the ENGINE (VERDICT r11 ask #3): the runtime bloom
  * semi-join filter's priced row reduction is re-measured through q95's
  * native codegen Expression (BloomMightContain) with the pass count
  * read from the REAL FilterExec's SQLMetrics — the rows that would
  * actually cross the shuffle — and the engine's own runtime-filter
  * optimizer (spark.sql.optimizer.runtime.bloomFilter) is shown to
  * inject its might_contain probe into the very join shape q402 prices.
  * The JoinCostSpec program applied to runtime filters: until now the
  * bloom arc graded itself with md5 arithmetic; here the engine grades
  * it.
  */
class RuntimeFilterSpec extends SparkSpecBase {
  import spark.implicits._

  private def ordersKeyed = Tables.load(spark, sf001, "orders")
    .select(col("o_orderkey").as("k"),
      expr("CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)").as("v"))

  private def midband = ordersKeyed
    .agg(min("v").as("a"), expr("max(v) - min(v) + 1").as("w"))
    .selectExpr("a + w div 2 - w div 64 AS lo", "a + w div 2 + w div 64 AS hi")
    .as[(Long, Long)].head()

  test("q402's priced reduction holds through the native bloom Expression, measured via SQLMetrics") {
    val model = SparkEntry.queries("q402_runtime_bloom")(spark, sf001)
      .where("scenario = '1:selective_midband'")
      .select("n_keys", "fact_rows", "true_rows", "rows_pass", "reduction_bp", "apply_filter")
      .as[(Long, Long, Long, Long, Long, Long)].head()
    val (nKeys, factRows, trueRows, _, pricedReduction, applyFilter) = model
    assert(applyFilter == 1L, "the selective scenario must be the applied one")

    val (lo, hi) = midband
    val fo = ordersKeyed.where(col("v").between(lo, hi)).select("k")
      .localCheckpoint(false)
    assert(fo.count() == nKeys, "engine build side diverges from the model's key set")

    // the engine-side filter: a REAL BloomFilter over the build keys,
    // probed by the codegen Expression on the fact scan (q95's path)
    val bloom = fo.stat.bloomFilter("k", math.max(nKeys, 1L), 0.01)
    val bc = spark.sparkContext.broadcast(bloom)
    import org.apache.spark.sql.graft.ColumnBridge
    val probe = ColumnBridge.column(graft.functions.BloomMightContain(
      ColumnBridge.expression(col("l_orderkey").cast("long")), bc))
    val li = Tables.load(spark, sf001, "lineitem").select("l_orderkey")
    val filtered = li.where(col("l_orderkey").isNotNull && probe)
    // execute THIS plan (a .count() would wrap it in a new aggregate
    // plan and leave these metrics untouched), then read the pass count
    // from the REAL FilterExec's SQLMetrics — the shuffle-bound row
    // count the runtime filter lets through
    val passed = filtered.collect().length.toLong
    val metricPassed = filtered.queryExecution.executedPlan
      .collect { case f: FilterExec => f }
      .head.metrics("numOutputRows").value
    assert(metricPassed == passed,
      s"FilterExec numOutputRows $metricPassed != counted pass rows $passed")

    // no false negatives on the engine filter: every true-key fact row
    // survives (the theorem, now on Spark's own hashes)
    val survivors = filtered.join(broadcast(fo), col("l_orderkey") === col("k"), "left_semi")
      .count()
    assert(survivors == trueRows,
      s"engine bloom dropped true rows: $survivors of $trueRows survived")

    // the measured shuffle-row reduction must reproduce the priced one
    // (different hash family, same fill regime: agree within 300 bp)
    // and land on the same side of the 25% apply gate
    val measuredReduction = (factRows - passed) * 10000L / factRows
    assert(math.abs(measuredReduction - pricedReduction) <= 300L,
      s"engine reduction $measuredReduction bp vs priced $pricedReduction bp")
    assert((measuredReduction >= 2500L) == (applyFilter == 1L),
      "engine and model disagree on the apply decision")
  }

  test("the engine's own runtime bloom filter lands in q402's join shape") {
    // flip spark.sql.optimizer.runtime.bloomFilter on with the size
    // thresholds opened and the selective-dim x fact equi-join must
    // carry Spark's injected might_contain probe on the application
    // side — the engine independently reaching the decision q402's
    // apply_filter row prices
    val (lo, hi) = midband
    withConf(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val dim = ordersKeyed.where(col("v").between(lo, hi))
      val fact = Tables.load(spark, sf001, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"))
      val joined = fact.join(dim, col("l_orderkey") === col("k"))
      val optimized = joined.queryExecution.optimizedPlan.toString
      assert(optimized.contains("might_contain"),
        s"runtime bloom filter was not injected into the optimized plan:\n$optimized")
      // and the filtered join still returns exactly the exact-join rows
      // (the no-false-negative contract, engine edition)
      val exact = withConf(
        "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "false") {
        fact.join(dim, col("l_orderkey") === col("k")).count()
      }
      assert(joined.count() == exact,
        "runtime-filtered join diverges from the exact join")
    }
  }
}
