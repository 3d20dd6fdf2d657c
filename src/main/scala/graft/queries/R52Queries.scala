package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QuerySpec
import graft.Tables
import graft.ops.HashOps.{md5Long, md5LongSql, md5Bucket, md5BucketSql}

/** Round-10 fourth widening — the remaining loop-closures the round's
  * own additions opened:
  *
  *  - q384 chooses the DEDUP-STATE RETENTION horizon: exactly-once
  *    semantics under at-least-once delivery (the q382 hazard) needs
  *    per-key state, and keeping it forever is unbounded at 100 TB —
  *    a planted heavy-tailed replay-lag distribution is priced across
  *    six TTLs as bounded state vs leaked duplicates (the q367 sweep
  *    shape on the dedup axis);
  *  - q385 takes q378's sample NDV to where the planner actually uses
  *    it — the System-R join-size formula |R ⋈ S| = n·n / max(ndv) —
  *    and shoots it out against the count-min inner product and truth
  *    on real FK and M:N pairs (the cross-table sequel to q379);
  *  - q386 chooses the ANALYZE sample RATE: GEE priced at three nested
  *    Knuth-hash rates built in ONE key pass (the q361/q362 nested-grid
  *    fusion applied to sampling), with the sqrt(1/q) hardness floor
  *    sitting exactly under the unique key at every rate.
  */
object R52Queries {

  /** q385's ONE keyed pass per join side over (k, hh) rows: the exact
    * per-key frequency f_tag plus the 25%-sample per-key count sc_tag
    * that feeds GEE (both tag-qualified so two sides join without
    * ambiguous columns). ScaleSlopeSpec measures this exact core
    * (SLOPES artifact).
    */
  private[graft] def keyedSideStats(x: DataFrame, tag: String): DataFrame =
    x.groupBy("k")
      .agg(count(lit(1)).as(s"f_$tag"),
        sum(when(col("hh") < 1073741824L, 1L).otherwise(0L)).as(s"sc_$tag"))

  /** q384's planted at-least-once delivery stream: every event delivered
    * once at its own ts, plus — for the 20% of keys the `dr:` hash
    * selects — ONE replay at ts + lag, lag drawn heavy-tailed from the
    * independent `drl:` hash (70% 30s–10min, 20% 10min–1h, 9% 1–6h, 1%
    * 6h–3d). Shared by the q384 chooser and the StreamingSpec case that
    * replays these deliveries through EventStream.ttlDedupStream at the
    * chosen TTL. Columns: event_id, es (delivery epoch second),
    * is_replay, lag_s.
    */
  def plantedDeliveries(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("event_id"),
      expr("unix_timestamp(ts)").as("es"))
    val rep = ev
      .select(col("event_id"), col("es"),
        md5Long(concat(lit("dr:"), col("event_id").cast("string")), 10).as("h"),
        md5Long(concat(lit("drl:"), col("event_id").cast("string")), 10).as("h2"))
      .where("h % 5 = 0")
      .withColumn("lag_s", expr(
        "CASE WHEN h2 % 100 < 70 THEN 30 + h2 % 570 " +
          "WHEN h2 % 100 < 90 THEN 600 + h2 % 3000 " +
          "WHEN h2 % 100 < 99 THEN 3600 + h2 % 18000 " +
          "ELSE 21600 + h2 % 238000 END"))
      .select(col("event_id"), expr("es + lag_s").as("es"),
        lit(1L).as("is_replay"), col("lag_s"))
    ev.select(col("event_id"), col("es"), lit(0L).as("is_replay"),
      lit(0L).as("lag_s")).unionByName(rep)
  }

  val specs: Seq[QuerySpec] = Seq(

    // q384 — DEDUP-STATE RETENTION CHOOSER: q382 certified the
    // high-water-mark fold against whole-batch replays; the other
    // at-least-once failure mode is the RE-DELIVERED ROW, and the fix
    // (dropDuplicates keyed by event id) needs per-key state that is
    // unbounded unless TTL'd. The TTL is the knob every streaming job
    // sets blind: too short leaks duplicates past the dedup, too long
    // holds state forever. Replay lag is PLANTED deterministically (two
    // independent md5 draws per event — the natural stream has no
    // duplicates, the q293 dead-fixture rule): 20% of events are
    // re-delivered once, 70% of replays within 30s–10min, 20% within
    // 10min–1h, 9% within 1–6h, 1% up to three days out. Each replay is
    // classified MAP-SIDE into the largest grid TTL its lag exceeds
    // (leaked-at-R ⇔ bucket ≥ R — the q367 sweep shape; no corpus-side
    // BNLJ), the six-TTL sweep is read off one suffix-sum window over
    // the ≤7-row bucket table, and the chooser takes the smallest TTL
    // whose duplicate leak stays under 60bp of deliveries — landing on
    // the 6-hour horizon at every SF (the 1h cell leaks ~150bp, the 6h
    // cell ~10bp: margins hold as the data scales because the lag mix
    // is hash-planted, not volume-dependent). The cost axis is honest:
    // state_rows = n_keys·R/span is the steady-state keyed-state
    // population an executor actually holds, the number that decides
    // whether the job fits memory at 100 TB. The knob this chooser
    // turns is LIVE in the streaming layer: EventStream.ttlDedupStream
    // takes ttlSeconds and holds exactly this state — StreamingSpec
    // replays the planted deliveries through it at the chosen TTL and
    // the emitted count equals n_keys + leaked to the row. Scale: one
    // event pass plants and buckets; everything downstream is 7-row
    // window arithmetic.
    QuerySpec(
      "q384_dedup_retention",
      (s, d) => {
        val ev = Tables.events(s, d).select(col("event_id"),
          expr("unix_timestamp(ts)").as("es"))
        val base = ev.agg(count(lit(1)).as("n_keys"),
          expr("max(es) - min(es) + 1").as("span_s"))
        val rep = plantedDeliveries(s, d).where("is_replay = 1").select("lag_s")
        // map-side classification: b = largest grid TTL the replay's lag
        // exceeds (0 = suppressed everywhere); leaked-at-R ⇔ b ≥ R
        val bucketed = rep.select(expr(
            "CASE WHEN lag_s > 259200 THEN 259200 WHEN lag_s > 86400 THEN 86400 " +
              "WHEN lag_s > 21600 THEN 21600 WHEN lag_s > 3600 THEN 3600 " +
              "WHEN lag_s > 1800 THEN 1800 WHEN lag_s > 300 THEN 300 ELSE 0 END")
            .cast("long").as("b"))
          .groupBy("b").agg(count(lit(1)).as("nb"))
        val grid = s.range(0, 1, 1, 1).select(explode(array(
          Seq(300L, 1800L, 3600L, 21600L, 86400L, 259200L).map(lit): _*)).as("r_s"))
        val joined = grid.join(bucketed, col("r_s") === col("b"), "full_outer")
          .select(col("r_s"), coalesce(col("r_s"), col("b")).as("k"),
            coalesce(col("nb"), lit(0L)).as("nb"))
        val byK = Window.orderBy("k")
        val whole = byK.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        val suffix = byK.rowsBetween(Window.currentRow, Window.unboundedFollowing)
        val swept = joined
          .withColumn("n_rep", sum("nb").over(whole))
          .withColumn("leaked", sum("nb").over(suffix))
          .where(col("r_s").isNotNull)
          .crossJoin(broadcast(base))
          .select(col("r_s"),
            expr("n_keys * r_s div span_s").as("state_rows"),
            expr("n_keys + n_rep").as("n_deliveries"), col("leaked"),
            expr("leaked * 10000 div (n_keys + n_rep)").as("leak_bp"),
            expr("CAST(CASE WHEN leaked * 10000 div (n_keys + n_rep) <= 60 THEN 1 ELSE 0 END AS BIGINT)")
              .as("meets_budget"))
        val wholeByR = Window.orderBy("r_s")
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        swept
          .withColumn("best_r",
            min(when(col("meets_budget") === 1L, col("r_s"))).over(wholeByR))
          .select(col("r_s"), col("state_rows"), col("n_deliveries"),
            col("leaked"), col("leak_bp"), col("meets_budget"),
            expr("CAST(CASE WHEN r_s = best_r THEN 1 ELSE 0 END AS BIGINT)").as("chosen"))
          .orderBy("r_s")
      },
      Some(
        s"""WITH ev AS (SELECT event_id, epoch(CAST(ts AS TIMESTAMP)) AS es FROM events), base AS (SELECT count(*) AS n_keys, CAST(max(es) - min(es) + 1 AS BIGINT) AS span_s FROM ev), rep AS (SELECT CASE WHEN h2 % 100 < 70 THEN 30 + h2 % 570 WHEN h2 % 100 < 90 THEN 600 + h2 % 3000 WHEN h2 % 100 < 99 THEN 3600 + h2 % 18000 ELSE 21600 + h2 % 238000 END AS lag_s FROM (SELECT ${md5LongSql("concat('dr:', CAST(event_id AS VARCHAR))", 10)} AS h, ${md5LongSql("concat('drl:', CAST(event_id AS VARCHAR))", 10)} AS h2 FROM ev) z WHERE h % 5 = 0), grid AS (SELECT CAST(unnest([300, 1800, 3600, 21600, 86400, 259200]) AS BIGINT) AS r_s), tot AS (SELECT count(*) AS n_rep FROM rep), f AS (SELECT g.r_s, count(e.lag_s) AS leaked FROM grid g LEFT JOIN rep e ON e.lag_s > g.r_s GROUP BY 1), c AS (SELECT r_s, n_keys * r_s // span_s AS state_rows, n_keys + n_rep AS n_deliveries, leaked, leaked * 10000 // (n_keys + n_rep) AS leak_bp, CASE WHEN leaked * 10000 // (n_keys + n_rep) <= 60 THEN 1 ELSE 0 END AS meets_budget FROM f CROSS JOIN tot CROSS JOIN base), best AS (SELECT min(r_s) AS best_r FROM c WHERE meets_budget = 1) SELECT CAST(r_s AS BIGINT) AS r_s, CAST(state_rows AS BIGINT) AS state_rows, CAST(n_deliveries AS BIGINT) AS n_deliveries, CAST(leaked AS BIGINT) AS leaked, CAST(leak_bp AS BIGINT) AS leak_bp, CAST(meets_budget AS BIGINT) AS meets_budget, CAST(CASE WHEN r_s = best_r THEN 1 ELSE 0 END AS BIGINT) AS chosen FROM c CROSS JOIN best ORDER BY r_s"""),
      "§2.12/E1 ext: dedup-state retention chooser — planted heavy-tailed replay lags priced across six TTLs as steady-state keyed rows vs leaked duplicates, smallest horizon under the 60bp leak budget (lands on 6h at every SF); the q367 map-side sweep shape on the exactly-once axis"),

    // q385 — CROSS-TABLE JOIN-SIZE SHOOTOUT: q379 priced the SELF-join
    // second moment; the number the optimizer needs far more often is
    // |R ⋈ S| across TWO tables, and the estimator every System-R
    // descendant ships is n_r·n_s / max(ndv_r, ndv_s). Three real pairs
    // — the lineitem⋈orders FK, the orders⋈lineitem DATE-equality M:N
    // (frequency skew on both sides, where the uniformity assumption
    // actually bites), and the orders⋈customer FK — each priced by
    // three estimators next to the exact Σ f_R(k)·f_S(k): (1) the
    // formula on EXACT NDVs, (2) the formula on q378's GEE sample NDVs
    // (d + f1 at q = 1/4, integer-exact), (3) the count-min inner
    // product (q361's sketch pointed across tables, w = 8192, d = 3).
    // The measured lessons: the formula with exact stats is EXACT on
    // PK-FK pairs (containment makes max(ndv) the divisor the algebra
    // wants) and within 10% on the date M:N; swapping in sample NDVs
    // costs at most the GEE error itself (≤ 1.3× here — the q376
    // cheap-ANALYZE result extended from histograms to NDV, helped by
    // max() masking the unique side's 2× floor); and the sketch dot
    // product — certifiably ONE-SIDED, the property the other two
    // lack — pays additive error ~n_r·n_s/w, fine on the dense date
    // domain (1.3×) but ~19× on the selective FK pair: fixed state
    // buys safety, not accuracy, once the key domain outgrows the
    // width. Scale: per side ONE keyed pass (localCheckpointed) serves
    // everything — n, ndv, the exact grader's frequencies, the 25%
    // sample's per-key counts, and the count-min cells hashed per
    // distinct key weighted by f; the fr⋈fs grader join is keyed and
    // bounded by ndv.
    QuerySpec(
      "q385_cross_joinsize",
      (s, d) => {
        val li = t(s, d, "lineitem")
        val or = t(s, d, "orders")
        val cu = t(s, d, "customer")
        val liH = expr("((l_orderkey * 7919 + l_linenumber) % 2147483648) * 2654435761 % 4294967296")
        val orH = expr("(o_orderkey % 2147483648) * 2654435761 % 4294967296")
        val cuH = expr("(c_custkey % 2147483648) * 2654435761 % 4294967296")
        def side(df: DataFrame, k: Column, hh: Column): DataFrame =
          df.select(k.cast("string").as("k"), hh.as("hh"))
        def leg(pid: Long, pname: String, r: DataFrame, sd: DataFrame): DataFrame = {
          // ONE keyed pass per side serves everything: f (exact grader +
          // n + ndv), c (the 25% sample's per-key row count → GEE), and
          // the count-min cells hashed per DISTINCT key weighted by f —
          // identical cell loads to a raw-row build at ndv/n of the md5
          // cost. (In production the sketch is built map-side without
          // the frequency table — that is its point; in this shootout
          // the keyed pass is already paid for the exact grader, so the
          // sketch rides it.)
          def stats(x: DataFrame, tag: String): (DataFrame, DataFrame, DataFrame) = {
            val fr = keyedSideStats(x, tag).localCheckpoint(false)
            val gee = fr.agg(
              (sum(when(col(s"sc_$tag") > 0L, 1L).otherwise(0L)) +
                sum(when(col(s"sc_$tag") === 1L, 1L).otherwise(0L))).as(s"gee_$tag"),
              sum(s"sc_$tag").as(s"srows_$tag"))
            val cm = fr.select(col(s"f_$tag").as("f"), explode(array((1 to 3).map(i =>
                struct(lit(i.toLong).as("hr"),
                  md5Bucket(concat(lit(s"cm$i:"), col("k").cast("string")), 8192).as("cell"))): _*)).as("z"))
              .groupBy(col("z.hr").as("hr"), col("z.cell").as("cell"))
              .agg(sum("f").as(s"c_$tag"))
            (fr.drop(s"sc_$tag"), gee, cm)
          }
          // Par pays: q385 runs 1.64 s, 1.99 s with both Par sites in order (sf0.1, local[4], median)
          val ((fr, geeR, cmR), (fs, geeS, cmS)) = graft.Par.par2(stats(r, "r"), stats(sd, "s"))
          val frA = fr.agg(count(lit(1)).as("ndv_r"), sum("f_r").as("n_r"))
          val fsA = fs.agg(count(lit(1)).as("ndv_s"), sum("f_s").as("n_s"))
          val truth = fr.join(fs, "k").agg(sum(expr("f_r * f_s")).as("true_rows"))
          val cmEst = cmR.join(cmS, Seq("hr", "cell"))
            .groupBy("hr").agg(sum(expr("c_r * c_s")).as("dp"))
            .agg(min("dp").as("cm_est"))
          val one = frA.crossJoin(fsA).crossJoin(broadcast(geeR))
            .crossJoin(broadcast(geeS)).crossJoin(broadcast(truth))
            .crossJoin(broadcast(cmEst))
          one.select(explode(array(
              struct(lit("1:formula_exact").as("estimator"),
                expr("n_r * n_s div greatest(ndv_r, ndv_s)").as("est"),
                expr("ndv_r + ndv_s").as("state_units")),
              struct(lit("2:formula_gee").as("estimator"),
                expr("n_r * n_s div greatest(gee_r, gee_s)").as("est"),
                expr("srows_r + srows_s").as("state_units")),
              struct(lit("3:cm_dot").as("estimator"),
                col("cm_est").as("est"),
                lit(2L * 3L * 8192L).as("state_units")))).as("z"),
              col("true_rows"))
            .select(lit(pid).as("pair_id"), lit(pname).as("pair"),
              col("z.estimator").as("estimator"), col("z.est").as("est"),
              col("z.state_units").as("state_units"), col("true_rows"))
        }
        // the three pair legs share no lineage (six independent keyed
        // passes, each localCheckpointed): construct them concurrently so
        // the checkpoint materializations overlap instead of running
        // back-to-back (graft.Par — guide §2.6)
        // Par pays: q385 runs 1.64 s, 1.99 s with both Par sites in order (sf0.1, local[4], median)
        val (p1, p2, p3) = graft.Par.par3(
          leg(1L, "lineitem_orders_fk",
            side(li, col("l_orderkey"), liH), side(or, col("o_orderkey"), orH)),
          leg(2L, "orders_lineitem_dates",
            side(or, expr("unix_timestamp(o_orderdate) div 86400"), orH),
            side(li, expr("unix_timestamp(l_shipdate) div 86400"), liH)),
          leg(3L, "orders_customer_fk",
            side(or, col("o_custkey"), orH), side(cu, col("c_custkey"), cuH)))
        p1.unionByName(p2).unionByName(p3)
          .select(col("pair_id"), col("pair"), col("estimator"), col("est"),
            col("state_units"), col("true_rows"),
            expr("greatest(est * 10000 div greatest(true_rows, 1), " +
              "true_rows * 10000 div greatest(est, 1))").as("qerr_bp"),
            expr("CAST(CASE WHEN est >= true_rows THEN 1 ELSE 0 END AS BIGINT)")
              .as("overestimates"),
            expr("CAST(CASE WHEN estimator = '3:cm_dot' THEN 1 ELSE 0 END AS BIGINT)")
              .as("one_sided_safe"))
          .orderBy("pair_id", "estimator")
      },
      Some {
        def legSql(pid: Int, pname: String, rSel: String, sSel: String): String =
          s"""l$pid AS (
            WITH r AS ($rSel), sdf AS ($sSel),
            fr AS (SELECT k, count(*) AS f FROM r GROUP BY 1),
            fs AS (SELECT k, count(*) AS f FROM sdf GROUP BY 1),
            fra AS (SELECT count(*) AS ndv_r, sum(f) AS n_r FROM fr),
            fsa AS (SELECT count(*) AS ndv_s, sum(f) AS n_s FROM fs),
            ger AS (SELECT count(*) + sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS gee_r, sum(c) AS srows_r FROM (SELECT k, count(*) AS c FROM r WHERE hh < 1073741824 GROUP BY 1) g),
            ges AS (SELECT count(*) + sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS gee_s, sum(c) AS srows_s FROM (SELECT k, count(*) AS c FROM sdf WHERE hh < 1073741824 GROUP BY 1) g),
            tru AS (SELECT sum(fr.f * fs.f) AS true_rows FROM fr JOIN fs ON fs.k = fr.k),
            cmr AS (SELECT i AS hr, ${md5BucketSql("'cm' || CAST(i AS VARCHAR) || ':' || k", 8192)} AS cell, count(*) AS c FROM r CROSS JOIN (SELECT unnest([1, 2, 3]) AS i) ii GROUP BY 1, 2),
            cms AS (SELECT i AS hr, ${md5BucketSql("'cm' || CAST(i AS VARCHAR) || ':' || k", 8192)} AS cell, count(*) AS c FROM sdf CROSS JOIN (SELECT unnest([1, 2, 3]) AS i) ii GROUP BY 1, 2),
            cme AS (SELECT min(dp) AS cm_est FROM (SELECT cmr.hr, sum(cmr.c * cms.c) AS dp FROM cmr JOIN cms ON cms.hr = cmr.hr AND cms.cell = cmr.cell GROUP BY 1) dd)
            SELECT $pid AS pair_id, '$pname' AS pair, e.estimator, e.est, e.state_units, true_rows
            FROM fra CROSS JOIN fsa CROSS JOIN ger CROSS JOIN ges CROSS JOIN tru CROSS JOIN cme,
            LATERAL (SELECT '1:formula_exact' AS estimator, n_r * n_s // greatest(ndv_r, ndv_s) AS est, ndv_r + ndv_s AS state_units UNION ALL SELECT '2:formula_gee', n_r * n_s // greatest(gee_r, gee_s), srows_r + srows_s UNION ALL SELECT '3:cm_dot', cm_est, 49152) e)"""
        val p1 = legSql(1, "lineitem_orders_fk",
          "SELECT CAST(l_orderkey AS VARCHAR) AS k, ((l_orderkey * 7919 + l_linenumber) % 2147483648) * 2654435761 % 4294967296 AS hh FROM lineitem",
          "SELECT CAST(o_orderkey AS VARCHAR) AS k, (o_orderkey % 2147483648) * 2654435761 % 4294967296 AS hh FROM orders")
        val p2 = legSql(2, "orders_lineitem_dates",
          "SELECT CAST(CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400 AS VARCHAR) AS k, (o_orderkey % 2147483648) * 2654435761 % 4294967296 AS hh FROM orders",
          "SELECT CAST(CAST(floor(epoch(l_shipdate)) AS BIGINT) // 86400 AS VARCHAR) AS k, ((l_orderkey * 7919 + l_linenumber) % 2147483648) * 2654435761 % 4294967296 AS hh FROM lineitem")
        val p3 = legSql(3, "orders_customer_fk",
          "SELECT CAST(o_custkey AS VARCHAR) AS k, (o_orderkey % 2147483648) * 2654435761 % 4294967296 AS hh FROM orders",
          "SELECT CAST(c_custkey AS VARCHAR) AS k, (c_custkey % 2147483648) * 2654435761 % 4294967296 AS hh FROM customer")
        s"""WITH $p1, $p2, $p3, u AS (SELECT * FROM l1 UNION ALL SELECT * FROM l2 UNION ALL SELECT * FROM l3) SELECT CAST(pair_id AS BIGINT) AS pair_id, pair, estimator, CAST(est AS BIGINT) AS est, CAST(state_units AS BIGINT) AS state_units, CAST(true_rows AS BIGINT) AS true_rows, CAST(greatest(est * 10000 // greatest(true_rows, 1), true_rows * 10000 // greatest(est, 1)) AS BIGINT) AS qerr_bp, CAST(CASE WHEN est >= true_rows THEN 1 ELSE 0 END AS BIGINT) AS overestimates, CAST(CASE WHEN estimator = '3:cm_dot' THEN 1 ELSE 0 END AS BIGINT) AS one_sided_safe FROM u ORDER BY pair_id, estimator"""
      },
      "A/J/S ext: cross-table join-size shootout — the System-R formula n·n/max(ndv) on exact vs GEE-sample NDVs vs the count-min inner product, against exact sizes on FK and date-M:N pairs; formula exact on PK-FK, sample stats cost <=1.3x (cheap-ANALYZE extended to NDV), the one-sided sketch pays ~n_r*n_s/w on selective domains"),

    // q386 — NDV SAMPLE-RATE FRONTIER: q378 fixed the rate at 25% and
    // measured GEE's error battery; the real ANALYZE question is the
    // other direction — how CHEAP a sample still prices each column
    // within budget? Three nested rates (1/64 ⊂ 1/16 ⊂ 1/4 under the
    // SAME Knuth row hash — the q361/q362 nested-grid fusion applied to
    // sampling: classify each row once, every coarser rate is a
    // conditional sum, so ONE keyed pass per column builds the whole
    // frontier; at 100 TB that is one scan instead of one per candidate
    // rate). GEE stays integer-exact at every rate because sqrt(1/q) ∈
    // {2, 4, 8}: est = d + f1·(mult − 1). The measured frontier: the
    // 5-value enum and the heavy-repeat FK are priced within 1.5× by
    // the 1/64 sample at EVERY scale (chosen = cheapest rate, flagged);
    // the unique key is NEVER in budget and its qerr sits on the
    // sqrt(1/q) lower bound — floor_bp = mult·10000 — within 10% at
    // every rate and SF (on_floor: GEE meets the theoretical hardness
    // bound exactly, the q378 result swept across rates); and the
    // mid-cardinality date column's affordable rate MOVES with scale
    // (no cell at sf0.001, 1/64 at sf0.01, 1/16 at sf0.1) because what
    // the sample must resolve is rows-per-value, not rows — the reason
    // ANALYZE sample rates cannot be set once and forgotten as a table
    // grows. Scale: one groupBy pass per column emitting all three
    // rates' (d, f1, rows) plus the exact NDV; the frontier is 12-row
    // window arithmetic partitioned by column.
    QuerySpec(
      "q386_ndv_rate_frontier",
      (s, d) => {
        val o = t(s, d, "orders").withColumn("hh",
          expr("(o_orderkey % 2147483648) * 2654435761 % 4294967296"))
        val cols = Seq(("o_orderkey", 1L), ("o_custkey", 2L),
          ("o_orderdate", 3L), ("o_orderpriority", 4L))
        val legs = cols.map { case (c, i) =>
          val cuts = Seq(("64", 67108864L), ("16", 268435456L), ("4", 1073741824L))
          val aggs = cuts.flatMap { case (tag, cut) =>
            val cc = sum(when(col("hh") < cut, 1L).otherwise(0L))
            Seq(cc.as(s"sr_$tag")) // per-value sampled rows at this rate
          }
          val pv = o.groupBy(col(c)).agg(aggs.head, aggs.tail: _*)
          val one = pv.agg(
            count(lit(1)).as("ndv_exact"),
            sum(when(col("sr_64") > 0L, 1L).otherwise(0L)).as("d_64"),
            sum(when(col("sr_64") === 1L, 1L).otherwise(0L)).as("f1_64"),
            sum("sr_64").as("rows_64"),
            sum(when(col("sr_16") > 0L, 1L).otherwise(0L)).as("d_16"),
            sum(when(col("sr_16") === 1L, 1L).otherwise(0L)).as("f1_16"),
            sum("sr_16").as("rows_16"),
            sum(when(col("sr_4") > 0L, 1L).otherwise(0L)).as("d_4"),
            sum(when(col("sr_4") === 1L, 1L).otherwise(0L)).as("f1_4"),
            sum("sr_4").as("rows_4"))
          one.select(lit(i).as("col_id"), lit(c).as("col_name"), col("ndv_exact"),
            explode(array(
              struct(lit(64L).as("dn"), lit(8L).as("mult"), col("rows_64").as("sample_rows"),
                col("d_64").as("d"), col("f1_64").as("f1")),
              struct(lit(16L).as("dn"), lit(4L).as("mult"), col("rows_16").as("sample_rows"),
                col("d_16").as("d"), col("f1_16").as("f1")),
              struct(lit(4L).as("dn"), lit(2L).as("mult"), col("rows_4").as("sample_rows"),
                col("d_4").as("d"), col("f1_4").as("f1")))).as("z"))
            .select(col("col_id"), col("col_name"), col("ndv_exact"),
              col("z.dn").as("rate_denom"), col("z.mult").as("mult"),
              col("z.sample_rows").as("sample_rows"), col("z.d").as("d"),
              col("z.f1").as("f1"))
        }
        val base = legs.reduce(_ unionByName _)
          .select(col("col_id"), col("col_name"), col("rate_denom"), col("mult"),
            col("sample_rows"), col("d"), col("f1"),
            expr("d + f1 * (mult - 1)").as("est_gee"), col("ndv_exact"))
          .select(col("col_id"), col("col_name"), col("rate_denom"), col("mult"),
            col("sample_rows"), col("d"), col("f1"), col("est_gee"), col("ndv_exact"),
            expr("greatest(est_gee * 10000 div greatest(ndv_exact, 1), " +
              "ndv_exact * 10000 div greatest(est_gee, 1))").as("qerr_bp"),
            expr("mult * 10000").as("floor_bp"))
        val byCol = Window.partitionBy("col_id")
        base
          .withColumn("meets_budget",
            expr("CAST(CASE WHEN qerr_bp <= 15000 THEN 1 ELSE 0 END AS BIGINT)"))
          .withColumn("best_dn",
            max(when(col("meets_budget") === 1L, col("rate_denom"))).over(byCol))
          .select(col("col_id"), col("col_name"), col("rate_denom"), col("mult"),
            col("sample_rows"), col("d"), col("f1"), col("est_gee"), col("ndv_exact"),
            col("qerr_bp"), col("floor_bp"), col("meets_budget"),
            expr("CAST(CASE WHEN rate_denom = best_dn THEN 1 ELSE 0 END AS BIGINT)")
              .as("chosen"),
            expr("CAST(CASE WHEN qerr_bp * 10 >= floor_bp * 9 AND qerr_bp * 10 <= floor_bp * 11 THEN 1 ELSE 0 END AS BIGINT)")
              .as("on_floor"))
          .orderBy(col("col_id"), col("rate_denom").desc)
      },
      Some {
        val cols = Seq(("o_orderkey", 1), ("o_custkey", 2),
          ("o_orderdate", 3), ("o_orderpriority", 4))
        val legs = cols.map { case (c, i) =>
          s"""SELECT $i AS col_id, '$c' AS col_name, ndv_exact, e.* FROM (
            SELECT count(*) AS ndv_exact,
              sum(CASE WHEN sr64 > 0 THEN 1 ELSE 0 END) AS d_64, sum(CASE WHEN sr64 = 1 THEN 1 ELSE 0 END) AS f1_64, sum(sr64) AS rows_64,
              sum(CASE WHEN sr16 > 0 THEN 1 ELSE 0 END) AS d_16, sum(CASE WHEN sr16 = 1 THEN 1 ELSE 0 END) AS f1_16, sum(sr16) AS rows_16,
              sum(CASE WHEN sr4 > 0 THEN 1 ELSE 0 END) AS d_4, sum(CASE WHEN sr4 = 1 THEN 1 ELSE 0 END) AS f1_4, sum(sr4) AS rows_4
            FROM (SELECT $c, sum(CASE WHEN hh < 67108864 THEN 1 ELSE 0 END) AS sr64, sum(CASE WHEN hh < 268435456 THEN 1 ELSE 0 END) AS sr16, sum(CASE WHEN hh < 1073741824 THEN 1 ELSE 0 END) AS sr4 FROM o GROUP BY 1) pv) a,
            LATERAL (SELECT 64 AS rate_denom, 8 AS mult, rows_64 AS sample_rows, d_64 AS d, f1_64 AS f1 UNION ALL SELECT 16, 4, rows_16, d_16, f1_16 UNION ALL SELECT 4, 2, rows_4, d_4, f1_4) e"""
        }.mkString(" UNION ALL ")
        s"""WITH o AS (SELECT *, (o_orderkey % 2147483648) * 2654435761 % 4294967296 AS hh FROM orders), u AS ($legs), b AS (SELECT col_id, col_name, rate_denom, mult, sample_rows, d, f1, d + f1 * (mult - 1) AS est_gee, ndv_exact, greatest((d + f1 * (mult - 1)) * 10000 // greatest(ndv_exact, 1), ndv_exact * 10000 // greatest(d + f1 * (mult - 1), 1)) AS qerr_bp, mult * 10000 AS floor_bp FROM u), m AS (SELECT *, CASE WHEN qerr_bp <= 15000 THEN 1 ELSE 0 END AS meets_budget FROM b), w AS (SELECT *, max(CASE WHEN meets_budget = 1 THEN rate_denom END) OVER (PARTITION BY col_id) AS best_dn FROM m) SELECT CAST(col_id AS BIGINT) AS col_id, col_name, CAST(rate_denom AS BIGINT) AS rate_denom, CAST(mult AS BIGINT) AS mult, CAST(sample_rows AS BIGINT) AS sample_rows, CAST(d AS BIGINT) AS d, CAST(f1 AS BIGINT) AS f1, CAST(est_gee AS BIGINT) AS est_gee, CAST(ndv_exact AS BIGINT) AS ndv_exact, CAST(qerr_bp AS BIGINT) AS qerr_bp, CAST(floor_bp AS BIGINT) AS floor_bp, CAST(meets_budget AS BIGINT) AS meets_budget, CAST(CASE WHEN rate_denom = best_dn THEN 1 ELSE 0 END AS BIGINT) AS chosen, CAST(CASE WHEN qerr_bp * 10 >= floor_bp * 9 AND qerr_bp * 10 <= floor_bp * 11 THEN 1 ELSE 0 END AS BIGINT) AS on_floor FROM w ORDER BY col_id, rate_denom DESC"""
      },
      "A/S ext: NDV sample-rate frontier — GEE priced at three nested Knuth-hash rates built in ONE keyed pass per column (the q361/q362 fusion applied to sampling), cheapest rate under the 1.5x budget flagged; the unique key sits on the sqrt(1/q) hardness floor at every rate, and the date column's affordable rate moves with scale (rows-per-value, not rows)"))
}
