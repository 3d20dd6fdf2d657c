package graft

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

/** The rewrite arc's row-flow pricing certified against the ENGINE's
  * exchange metrics (the JoinCostSpec program applied to q406/q411):
  * until this suite the arc graded its shuffle claims with its own row
  * arithmetic; here the real ShuffleExchangeExec write metrics grade
  * them. AQE and broadcast are disabled so the compile-time exchanges —
  * the objects the rewrite exists to shrink — are what executes.
  */
class RewriteCostSpec extends SparkSpecBase {
  import spark.implicits._

  /** Execute THIS dataframe's plan and return each shuffle exchange's
    * written record count, largest first.
    */
  private def shuffleRows(df: org.apache.spark.sql.DataFrame): Seq[Long] = {
    df.collect()
    df.queryExecution.executedPlan
      .collect { case e: ShuffleExchangeExec =>
        e.metrics.getOrElse("shuffleRecordsWritten",
          sys.error(s"no shuffleRecordsWritten metric; keys = ${e.metrics.keys.mkString(",")}"))
          .value
      }
      .sortBy(-_)
  }

  test("q406's join-input claim holds on real exchanges: eager agg shrinks the dominant shuffle to ~ndv") {
    val model = SparkEntry.queries("q406_eager_aggregation")(spark, sf001)
      .select("variant", "fact_rows_into_join")
      .as[(String, Long)].collect().toMap
    val (nLi, ndv) = (model("1:late_agg"), model("2:eager_agg"))
    withConf("spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val li = Tables.load(spark, sf001, "lineitem").select(col("l_orderkey").as("k"),
        expr("CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)").as("cents"))
      val o = Tables.load(spark, sf001, "orders").select(col("o_orderkey").as("k"),
        month(col("o_orderdate")).cast("long").as("m"))
      val late = li.join(o, "k").groupBy("m")
        .agg(count(lit(1)).as("cnt"), sum("cents").as("tc"))
      val eager = li.groupBy("k").agg(count(lit(1)).as("pn"), sum("cents").as("pc"))
        .join(o, "k").groupBy("m")
        .agg(sum("pn").as("cnt"), sum("pc").as("tc"))
      val lateSh = shuffleRows(late)
      val eagerSh = shuffleRows(eager)
      // the late shape's dominant exchange carries the WHOLE fact —
      // exactly the model's n_li
      assert(lateSh.head == nLi,
        s"late dominant exchange ${lateSh.head} != model n_li $nLi (all: $lateSh)")
      // the eager shape never ships more than the pre-aggregate's key
      // space (map-side combine can only shrink below raw rows; the
      // parquet's orderkey clustering makes it land at ~ndv)
      assert(eagerSh.head < nLi && eagerSh.head <= ndv * 2,
        s"eager dominant exchange ${eagerSh.head} not in (.., ${ndv * 2}] (model ndv $ndv; all: $eagerSh)")
      // and the whole-query shuffle bill shrinks accordingly
      assert(eagerSh.sum * 2 < lateSh.sum,
        s"eager total shuffle ${eagerSh.sum} not < half of late ${lateSh.sum}")
    }
  }

  test("q411's dual holds on real exchanges: join-first erases the fact-wide shuffle") {
    val model = SparkEntry.queries("q411_agg_pushdown_dual")(spark, sf001)
      .select("variant", "agg_input_rows")
      .as[(String, Long)].collect().toMap
    val nPush = model("2:join_first")
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val li = Tables.load(spark, sf001, "lineitem").select(col("l_orderkey").as("k"),
        expr("CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)").as("cents"))
      val fo = Tables.load(spark, sf001, "orders")
        .where(month(col("o_orderdate")) === 3).select(col("o_orderkey").as("k"))
      val aggFirst = withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        shuffleRows(li.groupBy("k").agg(count(lit(1)).as("ni"), sum("cents").as("sc"))
          .join(fo, "k"))
      }
      // join-first: the month's keys BROADCAST, so the only shuffle
      // left is the post-filter aggregate's — bounded by the matching
      // items, 12x below the fact
      val joinFirst = shuffleRows(li.join(broadcast(fo), Seq("k"), "left_semi")
        .groupBy("k").agg(count(lit(1)).as("ni"), sum("cents").as("sc")))
      assert(joinFirst.sum <= nPush,
        s"join-first shuffled ${joinFirst.sum} rows, model bounds it by $nPush")
      assert(joinFirst.sum * 5 < aggFirst.sum,
        s"join-first total ${joinFirst.sum} not >= 5x below agg-first ${aggFirst.sum}")
    }
  }
}
