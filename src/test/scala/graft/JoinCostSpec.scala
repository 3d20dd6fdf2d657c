package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._

/** The join-cost family (q346 broadcast-vs-shuffle pricing, q353/q358
  * join-order enumeration) validated against the REAL planner — the
  * VERDICT-r10 top ask, completing the model-vs-engine program
  * PartitionGrainSpec started for q364 and LayoutSpec for q342/q352.
  * Until this suite, the join-cost chain graded itself: its estimates
  * sat next to exact cardinalities IT computed. Here the ENGINE grades
  * it: autoBroadcastJoinThreshold is driven from the model's priced
  * bytes and the executed plan must flip BroadcastHashJoin ↔
  * SortMergeJoin exactly where the model says, and q358's enumerated
  * orders are run as real join trees whose executed-plan metrics must
  * reproduce the enumeration's intermediate cardinalities and ranking.
  *
  * All plan-shape assertions run with AQE off (the PlanAudit
  * convention): the compile-time strategy decision is what the
  * threshold knob prices; AQE's runtime re-plan is a second safety net
  * on top, not the mechanism under test.
  */
class JoinCostSpec extends SparkSpecBase {

  /** q346's five edges as (edge name, build table, probe table,
    * build key, probe key) — the same topology the query prices.
    */
  private val edges = Seq(
    ("lineitem x orders", "orders", "lineitem", "o_orderkey", "l_orderkey"),
    ("lineitem x part", "part", "lineitem", "p_partkey", "l_partkey"),
    ("lineitem x supplier", "supplier", "lineitem", "s_suppkey", "l_suppkey"),
    ("orders x customer", "customer", "orders", "c_custkey", "o_custkey"),
    ("customer x nation", "nation", "customer", "n_nationkey", "c_nationkey"))

  /** The engine's own size estimate for a full-table parquet relation —
    * the number JoinSelection actually compares against the threshold.
    */
  private def engineBytes(table: String): BigInt =
    Tables.load(spark, sf001, table).queryExecution.optimizedPlan.stats.sizeInBytes

  /** Join the full tables (no projection, so the build relation keeps
    * exactly the stats engineBytes measured) and return the executed
    * join nodes, outermost first.
    */
  private def planJoins(build: String, probe: String, bk: String, pk: String)
      : Seq[BaseJoinExec] =
    Tables.load(spark, sf001, probe)
      .join(Tables.load(spark, sf001, build), col(pk) === col(bk))
      .queryExecution.executedPlan
      .collect { case j: BaseJoinExec => j }

  private lazy val model: Map[String, (Long, Long, String)] =
    SparkEntry.queries("q346_join_planner")(spark, sf001)
      .select("join_edge", "build_bytes", "probe_bytes", "strategy")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getString(3)))
      .toMap

  test("q346 boundary: the executed plan flips BHJ <-> SMJ exactly at the build-side size threshold") {
    // the knob's contract, proven at the single-byte boundary: Spark
    // broadcasts iff the build relation's estimate <= threshold, so
    // threshold = estimate must produce BroadcastHashJoin and
    // threshold = estimate - 1 must fall back to SortMergeJoin. This is
    // the mechanism q346's priced decision rides on.
    val est = engineBytes("customer")
    withConf("spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> est.toString) {
      val js = planJoins("customer", "orders", "c_custkey", "o_custkey")
      assert(js.nonEmpty && js.forall(_.isInstanceOf[BroadcastHashJoinExec]),
        s"threshold == estimate ($est) must broadcast: ${js.map(_.nodeName)}")
    }
    withConf("spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> (est - 1).toString) {
      val js = planJoins("customer", "orders", "c_custkey", "o_custkey")
      assert(js.nonEmpty && js.forall(_.isInstanceOf[SortMergeJoinExec]),
        s"threshold == estimate - 1 (${est - 1}) must sort-merge: ${js.map(_.nodeName)}")
    }
  }

  test("q346 byte stats: the model's in-memory sizes rank the tables exactly as the engine's estimates do") {
    // the model prices IN-MEMORY bytes (SizeEstimator widths), the
    // engine estimates ON-DISK parquet bytes — the absolute ratio is
    // the (compression x encoding) factor, but the ORDERING the join
    // planner consumes must agree, and the per-table ratio must stay
    // inside a sane band (a model byte count 50x off the engine's would
    // price nonsense thresholds).
    val tables = edges.map(_._2).distinct
    val pairs = tables.map { t =>
      val m = model.collectFirst {
        case (e, (b, _, _)) if edges.exists(x => x._1 == e && x._2 == t) => b
      }.get
      val g = engineBytes(t)
      (t, m, g)
    }
    // ordering must agree wherever the model sees a REAL size gap (>=4x);
    // sub-4x pairs (nation vs supplier at tiny SFs) are parquet-overhead
    // ties the byte band below still covers
    for ((ta, ma, ga) <- pairs; (tb, mb, gb) <- pairs if ma * 4 <= mb)
      assert(ga < gb,
        s"size ordering disagrees on a 4x-separated pair: model $ta ($ma) < $tb ($mb) " +
          s"but engine estimates $ga vs $gb")
    pairs.foreach { case (t, m, g) =>
      val ratio = m.toDouble / g.toDouble
      // the band only means something past the parquet footer/dictionary
      // floor (~3-4 KB regardless of rows) — a 10-row dim is all overhead
      if (m >= 4096)
        assert(ratio > 0.5 && ratio < 32.0,
          f"$t: model $m vs engine $g bytes (ratio $ratio%.2f) — outside the " +
            "in-memory-vs-parquet band; the priced thresholds would be nonsense")
      info(f"$t%-9s model $m%9d engine $g%9d ratio $ratio%5.2f")
    }
  }

  test("q346 transplant: the model's decision boundary, converted to engine bytes, drives every edge to the priced strategy") {
    // the model broadcasts iff build_bytes * 32 < build + probe (and
    // build <= 10 MiB) ⇔ build < probe/31. That boundary, expressed in
    // ENGINE bytes via the measured per-table conversion ratio, becomes
    // the threshold — and the executed plan must then pick exactly the
    // strategy the q346 row prices, on all five edges. The cap converts
    // the same way.
    edges.foreach { case (name, build, probe, bk, pk) =>
      val (mBuild, mProbe, strategy) = model(name)
      val eBuild = engineBytes(build)
      val boundary = (BigInt(mProbe / 31).min(BigInt(10485760)) * eBuild) / BigInt(mBuild)
      withConf("spark.sql.adaptive.enabled" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> boundary.toString) {
        val js = planJoins(build, probe, bk, pk)
        assert(js.nonEmpty, s"$name: no join planned")
        val got = js.head match {
          case _: BroadcastHashJoinExec => "broadcast"
          case _: SortMergeJoinExec     => "shuffle"
          case other                    => other.nodeName
        }
        assert(got == strategy,
          s"$name: model priced '$strategy' (build $mBuild, probe $mProbe, " +
            s"engine threshold $boundary vs estimate $eBuild) but the engine executed '$got'")
        info(s"$name: $strategy confirmed (threshold $boundary, engine estimate $eBuild)")
      }
    }
  }

  test("q358 orders executed as real join trees: engine metrics reproduce the enumeration's intermediates and ranking") {
    // the two joinable left-deep orders run as ACTUAL trees in the
    // enumerated shape; the inner join node's numOutputRows metric must
    // equal q358's act_intermediate column row-for-row, the final
    // cardinalities must match act_cost - act_intermediate, and the
    // measured sum-of-intermediates cost must rank the orders exactly
    // as the histogram-driven estimates priced them. (Order 3's cross
    // product needs no execution — its cardinality is arithmetic, which
    // is q358's own point.)
    val out = SparkEntry.queries("q358_selinger_enum")(spark, sf001)
      .select("join_order", "est_intermediate", "act_intermediate",
        "est_cost", "act_cost", "chosen", "optimal")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
      .toMap
    val o1 = out("1: (orders join lineitem) join customer")
    val o2 = out("2: (orders join customer) join lineitem")

    // q358's filtered-orders build, reproduced (same integer predicate)
    val cc = Tables.load(spark, sf001, "orders").select(col("o_orderkey"),
      col("o_custkey"), expr("CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)").as("v"))
    val r = cc.agg(min("v"), max("v")).head()
    val (vmin, w) = (r.getLong(0), r.getLong(1) - r.getLong(0) + 1)
    val (lo, hi) = (vmin + w / 2 - w / 64, vmin + w / 2 + w / 64)
    val fo = cc.where(col("v").between(lo, hi)).select("o_orderkey", "o_custkey")
    val li = Tables.load(spark, sf001, "lineitem").select("l_orderkey")
    val cu = Tables.load(spark, sf001, "customer").select("c_custkey")

    def measure(tree: DataFrame): (Long, Long) = {
      // collect() (not count()) so the metrics land on THIS DataFrame's
      // QueryExecution — count() plans and executes a separate aggregate
      val n = tree.collect().length.toLong
      val joins = tree.queryExecution.executedPlan.collect { case j: BaseJoinExec => j }
      assert(joins.size == 2, s"expected a 2-join tree: ${joins.map(_.nodeName)}")
      (joins.last.metrics("numOutputRows").value, n)
    }
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val (m1, f1) = measure(
        fo.join(li, col("l_orderkey") === col("o_orderkey"))
          .join(cu, col("c_custkey") === col("o_custkey")))
      val (m2, f2) = measure(
        fo.join(cu, col("c_custkey") === col("o_custkey"))
          .join(li, col("l_orderkey") === col("o_orderkey")))
      assert(m1 == o1._2,
        s"order 1: executed inner-join metric $m1 != enumerated act_intermediate ${o1._2}")
      assert(m2 == o2._2,
        s"order 2: executed inner-join metric $m2 != enumerated act_intermediate ${o2._2}")
      assert(f1 == o1._4 - o1._2 && f2 == o2._4 - o2._2,
        s"final cardinalities diverge: got $f1/$f2, enumeration says " +
          s"${o1._4 - o1._2}/${o2._4 - o2._2}")
      assert(f1 == f2, "both orders must produce the same final join result size")
      // the ranking the enumeration exists to get right, graded by the
      // engine's own measured intermediates
      val (mc1, mc2) = (m1 + f1, m2 + f2)
      assert((o1._3 < o2._3) == (mc1 < mc2),
        s"estimate ranking (est_cost ${o1._3} vs ${o2._3}) disagrees with the " +
          s"measured ranking ($mc1 vs $mc2)")
      // and the chosen row is the measured winner
      val chosen = Seq(("o1", o1, mc1), ("o2", o2, mc2)).filter(_._2._5 == 1L)
      assert(chosen.size == 1 && chosen.head._3 == math.min(mc1, mc2),
        s"the enumeration's chosen order is not the measured-cost winner: $chosen")
      info(s"order1 intermediate $m1 final $f1; order2 intermediate $m2 final $f2; " +
        s"chosen=${chosen.head._1}")
    }
  }
}
