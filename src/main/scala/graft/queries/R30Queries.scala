package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QuerySpec
import graft.Tables

/** Round-7 widening, part 3: two operator-grade additions — k-core
  * decomposition by bounded peeling (q313) and the interval×interval
  * overlap join (q314), the join shape q45's point-in-interval range
  * join stops short of.
  */
object R30Queries {

  /** One k-core peel round: drop every node whose degree fell below k,
    * keep only edges with both endpoints surviving. Exposed for the
    * invariant spec's convergence check.
    */
  private[graft] def peel(e: DataFrame, k: Int): DataFrame = {
    // `e` arrives c-hash-partitioned (the checkpoint pins the layout):
    // the degree-by-c aggregation and the c-side filter join reuse it
    // with no exchange, only the p side shuffles, and the round's
    // result is re-laid-out by c for the next round — ~3 exchanges per
    // round instead of 5, with no broadcast (node lists are not
    // broadcastable at the 100 TB design point).
    val dc = e.groupBy("c").agg(count(lit(1)).as("dc")).where(col("dc") >= k)
    val dp = e.groupBy("p").agg(count(lit(1)).as("dp")).where(col("dp") >= k)
    e.join(dc.select("c"), "c").join(dp.select("p"), "p")
      .repartition(col("c"))
      .localCheckpoint(false)
  }

  private[graft] def coreEdges(s: SparkSession, d: String, k: Int): DataFrame = {
    val e0 = t(s, d, "lineitem").select(col("l_orderkey"), col("l_partkey"))
      .join(t(s, d, "orders").select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
      .repartition(col("c"))
      .distinct() // rides the c layout: (c) clustering satisfies (c, p)
      .localCheckpoint(false)
    peel(peel(peel(e0, k), k), k)
  }

  val specs: Seq[QuerySpec] = Seq(

    // q313 — K-CORE DECOMPOSITION (k=3, three unrolled peels): the
    // standard "dense backbone" extraction — repeatedly drop nodes of
    // degree < k until only the mutually-supported core remains. Three
    // peels are unrolled (the q284/q292 bounded-iteration convention);
    // the invariant spec proves a 4th peel changes nothing at test SFs,
    // so the bounded unroll IS the fixpoint there, and the per-round
    // cost model is what survives scale-up: each round is two degree
    // aggregations + two semi-join-shaped filters on a SHRINKING edge
    // table — never more than the previous round's edges. Reported as
    // one row per side (customer/part): surviving nodes, degree range,
    // and remaining edges — the summary a sampling or embedding
    // pipeline reads to decide whether the graph has a trainable core.
    QuerySpec(
      "q313_kcore",
      (s, d) => {
        val e3 = coreEdges(s, d, 3)
        def side(key: String, name: String) = {
          val deg = e3.groupBy(key).agg(count(lit(1)).as("deg"))
          deg.agg(count(lit(1)).as("n_nodes"),
              coalesce(min("deg"), lit(0L)).as("min_deg"),
              coalesce(max("deg"), lit(0L)).as("max_deg"),
              coalesce(sum("deg"), lit(0L)).as("n_edges"))
            .select(lit(name).as("side"), col("n_nodes"), col("min_deg"),
              col("max_deg"), col("n_edges"))
        }
        side("c", "customer").unionByName(side("p", "part")).orderBy("side")
      },
      Some("""WITH e0 AS (SELECT DISTINCT o_custkey AS c, l_partkey AS p FROM lineitem JOIN orders ON l_orderkey = o_orderkey), e1 AS (SELECT e.c, e.p FROM e0 e JOIN (SELECT c FROM e0 GROUP BY 1 HAVING count(*) >= 3) dc ON dc.c = e.c JOIN (SELECT p FROM e0 GROUP BY 1 HAVING count(*) >= 3) dp ON dp.p = e.p), e2 AS (SELECT e.c, e.p FROM e1 e JOIN (SELECT c FROM e1 GROUP BY 1 HAVING count(*) >= 3) dc ON dc.c = e.c JOIN (SELECT p FROM e1 GROUP BY 1 HAVING count(*) >= 3) dp ON dp.p = e.p), e3 AS (SELECT e.c, e.p FROM e2 e JOIN (SELECT c FROM e2 GROUP BY 1 HAVING count(*) >= 3) dc ON dc.c = e.c JOIN (SELECT p FROM e2 GROUP BY 1 HAVING count(*) >= 3) dp ON dp.p = e.p), cs AS (SELECT c, count(*) AS deg FROM e3 GROUP BY 1), ps AS (SELECT p, count(*) AS deg FROM e3 GROUP BY 1) SELECT 'customer' AS side, count(*) AS n_nodes, CAST(coalesce(min(deg), 0) AS BIGINT) AS min_deg, CAST(coalesce(max(deg), 0) AS BIGINT) AS max_deg, CAST(coalesce(sum(deg), 0) AS BIGINT) AS n_edges FROM cs UNION ALL SELECT 'part', count(*), CAST(coalesce(min(deg), 0) AS BIGINT), CAST(coalesce(max(deg), 0) AS BIGINT), CAST(coalesce(sum(deg), 0) AS BIGINT) FROM ps ORDER BY side"""),
      "graph ext: k-core decomposition via bounded peeling — dense-backbone summary per side"),

    // q314 — INTERVAL×INTERVAL OVERLAP JOIN (concurrent sessions): the
    // join shape q45's point-in-interval range join stops short of —
    // both sides are intervals, matched on ANY time overlap. Sessions
    // are the 30-min-gap islands per user (the q24/q302 sessionization
    // rule, epoch-second grid); candidates come from exploding each
    // session onto the HOUR BUCKETS it touches and equi-joining on
    // bucket with a.user < b.user — the q45 bucket-prefilter idea,
    // applied on both sides, so candidate count is bounded by bucket
    // co-occupancy, never |sessions|². A session pair sharing several
    // buckets is deduped before the EXACT overlap arithmetic
    // (greatest(0, min(end) − max(start)), integer seconds); pairs
    // with zero overlap are dropped. Reported: top-20 user pairs by
    // total concurrent seconds — the co-presence / account-sharing
    // signal. Scale: bucket width trades fan-out (long sessions touch
    // more buckets) against bucket occupancy (shorter buckets → fewer
    // candidates per bucket) — the standard interval-join knob.
    QuerySpec(
      "q314_session_overlap",
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("user_id"), unix_timestamp(col("ts")).as("es"),
            col("event_id"))
        val w = Window.partitionBy("user_id").orderBy("es", "event_id")
        val sess = ev
          .withColumn("brk",
            when(col("es") - lag("es", 1).over(w) > 1800, 1).otherwise(0))
          .withColumn("sid", sum("brk").over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
          .groupBy("user_id", "sid")
          .agg(min("es").as("st"), max("es").as("en"))
          .localCheckpoint(false)
        val bucketed = sess.withColumn("b",
          explode(expr("sequence(st div 3600, en div 3600)")))
        val a = bucketed.select(col("user_id").as("ua"), col("sid").as("sa"),
          col("st").as("sta"), col("en").as("ena"), col("b"))
        val bb = bucketed.select(col("user_id").as("ub"), col("sid").as("sb"),
          col("st").as("stb"), col("en").as("enb"), col("b"))
        a.join(bb, Seq("b"))
          .where(col("ua") < col("ub"))
          .select("ua", "sa", "sta", "ena", "ub", "sb", "stb", "enb")
          .distinct() // a pair sharing k buckets counts once
          .select(col("ua"), col("ub"),
            greatest(lit(0L),
              least(col("ena"), col("enb")) - greatest(col("sta"), col("stb")))
              .as("ov"))
          .where(col("ov") > 0)
          .groupBy("ua", "ub")
          .agg(count(lit(1)).as("n_overlapping_sessions"),
            sum("ov").as("concurrent_s"))
          .orderBy(col("concurrent_s").desc, col("ua"), col("ub"))
          .limit(20)
      },
      Some("""WITH ev AS (SELECT user_id, CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS es, event_id FROM events), se AS (SELECT user_id, es, CASE WHEN es - lag(es) OVER (PARTITION BY user_id ORDER BY es, event_id) > 1800 THEN 1 ELSE 0 END AS brk, event_id FROM ev), sg AS (SELECT user_id, es, sum(brk) OVER (PARTITION BY user_id ORDER BY es, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM se), sess AS (SELECT user_id, sid, min(es) AS st, max(es) AS en FROM sg GROUP BY 1, 2), bk AS (SELECT user_id, sid, st, en, unnest(generate_series(st // 3600, en // 3600)) AS b FROM sess), pr AS (SELECT DISTINCT a.user_id AS ua, a.sid AS sa, a.st AS sta, a.en AS ena, x.user_id AS ub, x.sid AS sb, x.st AS stb, x.en AS enb FROM bk a JOIN bk x ON x.b = a.b AND a.user_id < x.user_id), ov AS (SELECT ua, ub, greatest(0, least(ena, enb) - greatest(sta, stb)) AS ov FROM pr) SELECT ua, ub, count(*) AS n_overlapping_sessions, CAST(sum(ov) AS BIGINT) AS concurrent_s FROM ov WHERE ov > 0 GROUP BY 1, 2 ORDER BY concurrent_s DESC, ua, ub LIMIT 20"""),
      "§2.3 ext: interval×interval overlap join — bucket-prefiltered concurrent-session pairs (co-presence signal)"))
}
