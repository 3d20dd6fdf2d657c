package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QuerySpec
import graft.ops.HashOps.{md5Bucket, md5BucketSql}

/** Round-8 sixth widening — the PHYSICAL-DESIGN / STATISTICS layer: the
  * self-tuning readouts that decide how a 100-TB lakehouse is laid out,
  * encoded, and planned. Everything before this round measured the DATA
  * (dedup, quality, drift); these six measure the ENGINE's own storage
  * and planning decisions, each as exact, oracle-checkable arithmetic:
  *
  *  - q341 functional-dependency / candidate-key profile (schema
  *    discovery: which column determines which, which columns are keys);
  *  - q342 z-order vs lexicographic layout pricing (min/max file-skipping
  *    simulated for both layouts under a two-key range workload — the
  *    table that justifies a re-cluster job);
  *  - q343 equi-width histogram selectivity audit (estimator q-error per
  *    predicate — the number that decides whether ANALYZE stats are good
  *    enough for join ordering);
  *  - q344 dictionary-encoding pricing per column (exact encoded-size
  *    arithmetic: where DICT+bit-packing wins 20× and where it loses);
  *  - q345 bloom semi-join calibration (measured vs predicted false-pass
  *    rate of the q95 runtime-filter family, re-expressed with portable
  *    md5 hashing so the oracle can replay every bit);
  *  - q346 broadcast-vs-shuffle join pricing (exact per-table byte stats
  *    through the executor-count cost model AQE applies).
  *
  * Determinism regime: every metric is integer arithmetic over exact
  * counts/sums (micro/bp grids, the house convention); md5 bucket hashing
  * follows q311; `bin()` gives a portable bit-length on both engines.
  */
object R38Queries {

  /** Morton/z-value of two keys pre-scaled to [0, 1024): interleaves the
    * 10 bits of `x` into even positions and `y` into odd positions, as a
    * single arithmetic expression both engines evaluate identically
    * (`div` token differs: Spark `div`, DuckDB `//`). Scaling both keys
    * to a COMMON bit width first is load-bearing: raw interleave of an
    * 11-bit partkey with a 7-bit suppkey degenerates to partkey order
    * (the wide key owns every high bit) and the z layout stops pruning
    * on the narrow key at all — measured before this formulation.
    */
  private[graft] def zInterleave(x: String, y: String, div: String): String = {
    val terms = (0 until 10).flatMap { i =>
      val p = 1L << i
      Seq(
        s"(($x $div $p) % 2) * ${1L << (2 * i)}",
        s"(($y $div $p) % 2) * ${1L << (2 * i + 1)}")
    }
    terms.mkString("(", " + ", ")")
  }

  /** q345's portable bloom hash: md5 of "bf<i>:<key>" → 40-bit int →
    * position in an m=8192-bit filter (the q311 integer-hash convention;
    * three independent hashes via the salt prefix).
    */
  private def bloomPos(i: Int, k: Column): Column =
    md5Bucket(concat(lit(s"bf$i:"), k.cast("string")), 8192)

  private def bloomPosSql(i: Int, k: String): String =
    md5BucketSql(s"'bf$i:' || CAST($k AS VARCHAR)", 8192)

  /** One q341 battery entry: does `det` functionally determine `dep`? */
  private def fdLeg(
      s: SparkSession, d: String,
      table: String, det: String, dep: String): DataFrame =
    t(s, d, table)
      .groupBy(col(det).as("det"))
      .agg(countDistinct(col(dep)).as("nd"), count(lit(1)).as("cnt"))
      .agg(
        sum("cnt").as("n_rows"), count(lit(1)).as("n_det"),
        sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_viol_det"),
        max("nd").as("max_dep"))
      .select(lit(s"$table: $det -> $dep").as("fd"), col("n_rows"), col("n_det"),
        col("n_viol_det"), col("max_dep"))

  private def fdLegSql(table: String, det: String, dep: String): String =
    s"SELECT '$table: $det -> $dep' AS fd, sum(cnt) AS n_rows, count(*) AS n_det, " +
      s"sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS n_viol_det, max(nd) AS max_dep " +
      s"FROM (SELECT $det, count(DISTINCT $dep) AS nd, count(*) AS cnt FROM $table GROUP BY 1) g"

  /** One q344 battery entry: exact dictionary-encoding arithmetic for a
    * varchar column — plain bytes vs (distinct-value bytes + bit-packed
    * index stream).
    */
  private def encLeg(s: SparkSession, d: String, table: String, c: String): DataFrame = {
    val vals = t(s, d, table).select(col(c).as("v"))
    val base = vals.agg(count(lit(1)).as("n"), sum(length(col("v"))).as("plain_b"))
    val dict = vals.distinct()
      .agg(count(lit(1)).as("ndv"), sum(length(col("v"))).as("dict_b"))
    base.crossJoin(broadcast(dict))
      .select(lit(s"$table.$c").as("col_name"), col("n"), col("ndv"),
        col("plain_b"), col("dict_b"))
  }

  private def encLegSql(table: String, c: String): String =
    s"SELECT '$table.$c' AS col_name, count(*) AS n, count(DISTINCT $c) AS ndv, " +
      s"sum(length($c)) AS plain_b, " +
      s"(SELECT sum(length(v)) FROM (SELECT DISTINCT $c AS v FROM $table) d) AS dict_b " +
      s"FROM $table"

  /** One q346 per-table stats leg: exact rows + exact in-memory byte
    * estimate (8 per 64-bit numeric/timestamp, 4 per int, length() per
    * varchar — the widths Spark's SizeEstimator prices joins with).
    */
  private def statLeg(
      s: SparkSession, d: String, table: String, widthSql: String): DataFrame =
    t(s, d, table).agg(
      count(lit(1)).as("rows"), sum(expr(widthSql)).as("bytes"))

  private[queries] val tableWidths: Map[String, String] = Map(
    "lineitem" -> "8 + 8 + 8 + 4 + 8 + 8 + 8 + 8 + length(l_returnflag) + length(l_linestatus) + 8",
    "orders"   -> "8 + 8 + length(o_orderstatus) + 8 + 8 + length(o_orderpriority)",
    "part"     -> "8 + length(p_name) + length(p_brand) + length(p_type) + 4 + 8",
    "supplier" -> "8 + length(s_name) + 4 + 8",
    "customer" -> "8 + length(c_name) + 4 + 8 + length(c_mktsegment)",
    "nation"   -> "4 + length(n_name) + 4")

  private def statLegSql(table: String): String =
    s"SELECT count(*) AS rows, sum(${tableWidths(table)}) AS bytes FROM $table"

  /** q342/q352 shared core — the 16-row layout-pricing table: for each of
    * 8 range predicates per key, files and rows scanned under the
    * lexicographic and z-order 32-file layouts plus the exact matching
    * rows. Value-width file buckets, so layout assignment is map-side
    * arithmetic and the per-file min/max stats are one 32-group aggregate
    * per layout — no global sort at any scale. Memoized (16-row cache)
    * via the ScaleQueries shared-base registry: q342 and q352 read the
    * SAME materialized table, so the fold costs nothing beyond the core.
    */
  private[queries] def zorderPricing(s: SparkSession, d: String): DataFrame =
    ScaleQueries.memo(s, d, "zorderPricing")(zorderPricingBuild(s, d))

  private def zorderPricingBuild(s: SparkSession, d: String): DataFrame = {
    val raw = t(s, d, "lineitem").select(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
    val mx0 = raw.agg(max("pk").as("pmax"), max("sk").as("smax"))
    val zed = raw.crossJoin(broadcast(mx0))
      .withColumn("xs", expr("pk * 1024 div (pmax + 1)"))
      .withColumn("ys", expr("sk * 1024 div (smax + 1)"))
      .withColumn("z", expr(zInterleave("xs", "ys", "div")))
      .select("pk", "sk", "z")
    val mx = mx0.crossJoin(broadcast(zed.agg(max("z").as("zmax"))))
    val withMx = zed.crossJoin(broadcast(mx))
    def fileStats(fileCol: String): DataFrame =
      withMx.groupBy(expr(fileCol).as("f"))
        .agg(min("pk").as("lo_pk"), max("pk").as("hi_pk"),
          min("sk").as("lo_sk"), max("sk").as("hi_sk"),
          count(lit(1)).as("rows_f"))
    val fl = fileStats("least(31, pk * 32 div (pmax + 1))")
    val fz = fileStats("least(31, z * 32 div (zmax + 1))")
    val grid = s.range(0, 8).crossJoin(broadcast(mx))
    val preds = grid.select(lit("l_partkey").as("pred_key"), col("id").as("pred_id"),
        expr("id * (pmax + 1) div 8").as("lo"),
        expr("(id + 1) * (pmax + 1) div 8 - 1").as("hi"))
      .unionByName(grid.select(lit("l_suppkey").as("pred_key"), col("id").as("pred_id"),
        expr("id * (smax + 1) div 8").as("lo"),
        expr("(id + 1) * (smax + 1) div 8 - 1").as("hi")))
    val overlap = expr(
      "(pred_key = 'l_partkey' AND lo_pk <= hi AND hi_pk >= lo) OR " +
        "(pred_key = 'l_suppkey' AND lo_sk <= hi AND hi_sk >= lo)")
    def scanned(files: DataFrame, fTag: String, rTag: String): DataFrame =
      preds.join(broadcast(files), overlap)
        .groupBy("pred_key", "pred_id", "lo", "hi")
        .agg(count(lit(1)).as(fTag), sum("rows_f").as(rTag))
    val exact = raw.join(broadcast(preds),
        expr("(pred_key = 'l_partkey' AND pk BETWEEN lo AND hi) OR " +
          "(pred_key = 'l_suppkey' AND sk BETWEEN lo AND hi)"))
      .groupBy("pred_key", "pred_id").agg(count(lit(1)).as("rows_exact"))
    scanned(fl, "files_lex", "rows_lex")
      .join(broadcast(scanned(fz, "files_z", "rows_z").drop("lo", "hi")),
        Seq("pred_key", "pred_id"))
      .join(broadcast(exact), Seq("pred_key", "pred_id"))
  }

  /** DuckDB twin of [[zorderPricing]]: CTE chain ending in `pricing`,
    * shared verbatim by the q342 and q352 oracles.
    */
  private[queries] val zorderCtes: String = {
    val z = zInterleave("xs", "ys", "//")
    s"""raw AS (SELECT l_partkey AS pk, l_suppkey AS sk FROM lineitem), mx0 AS (SELECT max(pk) AS pmax, max(sk) AS smax FROM raw), zed AS (SELECT pk, sk, $z AS z FROM (SELECT pk, sk, pk * 1024 // (pmax + 1) AS xs, sk * 1024 // (smax + 1) AS ys FROM raw CROSS JOIN mx0) t), mx AS (SELECT pmax, smax, (SELECT max(z) FROM zed) AS zmax FROM mx0), fl AS (SELECT least(31, pk * 32 // (pmax + 1)) AS f, min(pk) AS lo_pk, max(pk) AS hi_pk, min(sk) AS lo_sk, max(sk) AS hi_sk, count(*) AS rows_f FROM zed CROSS JOIN mx GROUP BY 1), fz AS (SELECT least(31, z * 32 // (zmax + 1)) AS f, min(pk) AS lo_pk, max(pk) AS hi_pk, min(sk) AS lo_sk, max(sk) AS hi_sk, count(*) AS rows_f FROM zed CROSS JOIN mx GROUP BY 1), preds AS (SELECT 'l_partkey' AS pred_key, j AS pred_id, j * (pmax + 1) // 8 AS lo, (j + 1) * (pmax + 1) // 8 - 1 AS hi FROM (SELECT unnest(generate_series(0, 7)) AS j) g CROSS JOIN mx UNION ALL SELECT 'l_suppkey', j, j * (smax + 1) // 8, (j + 1) * (smax + 1) // 8 - 1 FROM (SELECT unnest(generate_series(0, 7)) AS j) g CROSS JOIN mx), sl AS (SELECT p.pred_key, p.pred_id, p.lo, p.hi, count(*) AS files_lex, sum(fl.rows_f) AS rows_lex FROM preds p JOIN fl ON (p.pred_key = 'l_partkey' AND fl.lo_pk <= p.hi AND fl.hi_pk >= p.lo) OR (p.pred_key = 'l_suppkey' AND fl.lo_sk <= p.hi AND fl.hi_sk >= p.lo) GROUP BY 1, 2, 3, 4), sz AS (SELECT p.pred_key, p.pred_id, count(*) AS files_z, sum(fz.rows_f) AS rows_z FROM preds p JOIN fz ON (p.pred_key = 'l_partkey' AND fz.lo_pk <= p.hi AND fz.hi_pk >= p.lo) OR (p.pred_key = 'l_suppkey' AND fz.lo_sk <= p.hi AND fz.hi_sk >= p.lo) GROUP BY 1, 2), act AS (SELECT p.pred_key, p.pred_id, count(*) AS rows_exact FROM preds p JOIN raw b ON (p.pred_key = 'l_partkey' AND b.pk BETWEEN p.lo AND p.hi) OR (p.pred_key = 'l_suppkey' AND b.sk BETWEEN p.lo AND p.hi) GROUP BY 1, 2), pricing AS (SELECT sl.pred_key, CAST(sl.pred_id AS BIGINT) AS pred_id, CAST(sl.lo AS BIGINT) AS lo, CAST(sl.hi AS BIGINT) AS hi, CAST(sl.files_lex AS BIGINT) AS files_lex, CAST(sz.files_z AS BIGINT) AS files_z, CAST(sl.rows_lex AS BIGINT) AS rows_lex, CAST(sz.rows_z AS BIGINT) AS rows_z, CAST(act.rows_exact AS BIGINT) AS rows_exact FROM sl JOIN sz ON sz.pred_key = sl.pred_key AND sz.pred_id = sl.pred_id JOIN act ON act.pred_key = sl.pred_key AND act.pred_id = sl.pred_id)"""
  }

  val specs: Seq[QuerySpec] = Seq(

    // q341 — FUNCTIONAL-DEPENDENCY / CANDIDATE-KEY PROFILE: schema
    // discovery over a fixed 8-entry battery spanning every answer the
    // profiler can give — true keys (o_orderkey, c_custkey), a
    // non-key FD that holds (n_nationkey -> n_regionkey), and violated
    // candidates at every grain (l_partkey -> l_suppkey fails 2000/2000
    // determinants; o_custkey -> o_orderpriority fails 1495/1500). Per
    // entry: determinant cardinality, violating-determinant count, the
    // worst fan-out, the holds / is-key verdicts, and the determinant's
    // NDV ratio in bp (the uniqueness profile a key-discovery pass
    // ranks by). At 100 TB the same battery runs sample-first and only
    // verifies surviving candidates exactly — each check here IS that
    // exact verify: one groupBy(determinant) with a distinct-count,
    // nothing global. 8 independent small aggregates, unioned.
    QuerySpec(
      "q341_fd_profile",
      (s, d) => {
        val battery = Seq(
          ("orders", "o_orderkey", "o_custkey"),
          ("orders", "o_custkey", "o_orderpriority"),
          ("lineitem", "l_orderkey", "l_returnflag"),
          ("lineitem", "l_partkey", "l_suppkey"),
          ("part", "p_name", "p_brand"),
          ("part", "p_brand", "p_type"),
          ("nation", "n_nationkey", "n_regionkey"),
          ("customer", "c_custkey", "c_mktsegment"))
        battery.map { case (tb, det, dep) => fdLeg(s, d, tb, det, dep) }
          .reduce(_ unionByName _)
          .select(col("fd"), col("n_rows"), col("n_det"), col("n_viol_det"),
            col("max_dep"),
            when(col("max_dep") === 1L, 1L).otherwise(0L).as("fd_holds"),
            when(col("n_det") === col("n_rows"), 1L).otherwise(0L).as("det_is_key"),
            expr("n_det * 10000 div n_rows").as("det_ndv_bp"))
          .orderBy("fd")
      },
      Some {
        val legs = Seq(
          fdLegSql("orders", "o_orderkey", "o_custkey"),
          fdLegSql("orders", "o_custkey", "o_orderpriority"),
          fdLegSql("lineitem", "l_orderkey", "l_returnflag"),
          fdLegSql("lineitem", "l_partkey", "l_suppkey"),
          fdLegSql("part", "p_name", "p_brand"),
          fdLegSql("part", "p_brand", "p_type"),
          fdLegSql("nation", "n_nationkey", "n_regionkey"),
          fdLegSql("customer", "c_custkey", "c_mktsegment")).mkString(" UNION ALL ")
        s"""WITH u AS ($legs) SELECT fd, CAST(n_rows AS BIGINT) AS n_rows, CAST(n_det AS BIGINT) AS n_det, CAST(n_viol_det AS BIGINT) AS n_viol_det, CAST(max_dep AS BIGINT) AS max_dep, CAST(CASE WHEN max_dep = 1 THEN 1 ELSE 0 END AS BIGINT) AS fd_holds, CAST(CASE WHEN n_det = n_rows THEN 1 ELSE 0 END AS BIGINT) AS det_is_key, CAST(n_det * 10000 // n_rows AS BIGINT) AS det_ndv_bp FROM u ORDER BY fd"""
      },
      "P/S ext: functional-dependency and candidate-key profile — per-determinant distinct-count verify over an 8-entry battery, holds/is-key verdicts, NDV-ratio uniqueness readout"),

    // q342 — Z-ORDER vs LEXICOGRAPHIC LAYOUT PRICING (core shared with
    // q352's workload-weighted chooser): simulate both
    // layouts' min/max file skipping for the same 32-file budget and
    // price a 16-predicate two-key range workload against each. Files
    // are value-width buckets of the layout key (lex: l_partkey;
    // z: the 20-bit Morton code of both keys scaled to 10 bits each —
    // see zInterleave's scaling note), so NO global sort or row_number
    // exists anywhere: layout assignment is map-side arithmetic and the
    // per-file min/max stats are one 32-group aggregate per layout,
    // exactly how a writer computes footer stats at any scale. The
    // readout per predicate: files scanned and rows scanned under each
    // layout next to the exact matching rows (scan amplification). The
    // measured table IS the classic tradeoff: lex scans 4/32 files for
    // partkey ranges but ALL 32 for suppkey ranges; z scans 4-8/32 for
    // BOTH keys at ~2x the rows on the primary — the numbers that
    // decide whether the re-cluster job pays for itself.
    QuerySpec(
      "q342_zorder_pricing",
      (s, d) => zorderPricing(s, d)
        .select(col("pred_key"), col("pred_id"), col("lo"), col("hi"),
          col("files_lex"), col("files_z"), col("rows_lex"), col("rows_z"),
          col("rows_exact"))
        .orderBy("pred_key", "pred_id"),
      Some(
        s"""WITH $zorderCtes SELECT pred_key, pred_id, lo, hi, files_lex, files_z, rows_lex, rows_z, rows_exact FROM pricing ORDER BY pred_key, pred_id"""),
      "S/P ext: z-order vs lexicographic layout pricing — min/max file-skip simulation over value-width 32-file budgets, per-predicate files/rows scanned vs exact rows, no global sort anywhere"),

    // q343 — HISTOGRAM SELECTIVITY AUDIT: build the 16-bucket equi-width
    // histogram on o_totalprice (integer cents grid) the way ANALYZE
    // does — one map-side bucket assignment + one 16-group count — then
    // price the estimator against exact counts for an 8-predicate
    // battery: six sextile-width ranges deliberately MISALIGNED with the
    // 16 bucket boundaries (16 % 6 != 0, so interpolation is always
    // exercised) and two narrow ranges (w/64-wide) where uniform
    // intra-bucket interpolation is most wrong. The q-error column
    // (max(est/act, act/est) in bp) is THE planner-stats health metric:
    // wide predicates sit near 10000 (estimator fine, stats fresh),
    // narrow ones drift — the measured gap prices how much histogram
    // resolution join ordering can actually rely on. All integer
    // arithmetic on the micro grid; estimates and actuals join on an
    // 8-row broadcast.
    QuerySpec(
      "q343_hist_selectivity",
      (s, d) => {
        val c = t(s, d, "orders")
          .select(expr("CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)").as("v"))
        val mx = c.agg(min("v").as("vmin"), max("v").as("vmax"),
          expr("max(v) - min(v) + 1").as("w"))
        val hist = c.crossJoin(broadcast(mx))
          .groupBy(expr("least(15, (v - vmin) * 16 div w)").as("b"))
          .agg(count(lit(1)).as("cnt"))
        val hb = hist.crossJoin(broadcast(mx))
          .select(col("b"), col("cnt"),
            expr("vmin + b * w div 16").as("blo"),
            expr("vmin + (b + 1) * w div 16 - 1").as("bhi"))
        val wide = s.range(0, 6).crossJoin(broadcast(mx))
          .select(col("id").as("pred_id"),
            expr("vmin + id * w div 6").as("lo"),
            expr("vmin + (id + 1) * w div 6 - 1").as("hi"))
        val narrow = broadcast(mx).selectExpr(
            "CAST(6 AS BIGINT) AS pred_id",
            "vmin + w div 2 - w div 128 AS lo", "vmin + w div 2 + w div 128 AS hi")
          .unionByName(broadcast(mx).selectExpr(
            "CAST(7 AS BIGINT) AS pred_id",
            "vmin + w div 4 - w div 256 AS lo", "vmin + w div 4 + w div 256 AS hi"))
        val preds = wide.unionByName(narrow)
        val est = preds.join(broadcast(hb), expr("bhi >= lo AND blo <= hi"))
          .groupBy("pred_id", "lo", "hi")
          .agg(sum(expr(
            "(cnt * greatest(0, least(hi, bhi) - greatest(lo, blo) + 1) * 1000000) div (bhi - blo + 1)"))
            .as("est_micro"))
        val act = c.join(broadcast(preds), expr("v BETWEEN lo AND hi"))
          .groupBy("pred_id").agg(count(lit(1)).as("act_rows"))
        est.join(act, Seq("pred_id"))
          .select(col("pred_id"), col("lo"), col("hi"),
            expr("est_micro div 1000000").as("est_rows"), col("act_rows"),
            expr("greatest((est_micro div 1000000) * 10000 div greatest(act_rows, 1), " +
              "act_rows * 10000 div greatest(est_micro div 1000000, 1))").as("qerr_bp"))
          .orderBy("pred_id")
      },
      Some(
        """WITH c AS (SELECT CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS v FROM orders), mx AS (SELECT min(v) AS vmin, max(v) AS vmax, max(v) - min(v) + 1 AS w FROM c), hist AS (SELECT least(15, (v - vmin) * 16 // w) AS b, count(*) AS cnt FROM c CROSS JOIN mx GROUP BY 1), hb AS (SELECT b, cnt, vmin + b * w // 16 AS blo, vmin + (b + 1) * w // 16 - 1 AS bhi FROM hist CROSS JOIN mx), preds AS (SELECT j AS pred_id, vmin + j * w // 6 AS lo, vmin + (j + 1) * w // 6 - 1 AS hi FROM (SELECT unnest(generate_series(0, 5)) AS j) g CROSS JOIN mx UNION ALL SELECT 6, vmin + w // 2 - w // 128, vmin + w // 2 + w // 128 FROM mx UNION ALL SELECT 7, vmin + w // 4 - w // 256, vmin + w // 4 + w // 256 FROM mx), est AS (SELECT p.pred_id, p.lo, p.hi, sum((hb.cnt * greatest(0, least(p.hi, hb.bhi) - greatest(p.lo, hb.blo) + 1) * 1000000) // (hb.bhi - hb.blo + 1)) AS est_micro FROM preds p JOIN hb ON hb.bhi >= p.lo AND hb.blo <= p.hi GROUP BY 1, 2, 3), act AS (SELECT p.pred_id, count(*) AS act_rows FROM preds p JOIN c ON c.v BETWEEN p.lo AND p.hi GROUP BY 1) SELECT CAST(e.pred_id AS BIGINT) AS pred_id, CAST(e.lo AS BIGINT) AS lo, CAST(e.hi AS BIGINT) AS hi, CAST(e.est_micro // 1000000 AS BIGINT) AS est_rows, CAST(a.act_rows AS BIGINT) AS act_rows, CAST(greatest((e.est_micro // 1000000) * 10000 // greatest(a.act_rows, 1), a.act_rows * 10000 // greatest(e.est_micro // 1000000, 1)) AS BIGINT) AS qerr_bp FROM est e JOIN act a ON a.pred_id = e.pred_id ORDER BY pred_id"""),
      "A/S ext: equi-width histogram selectivity audit — 16-bucket ANALYZE-style stats priced against exact counts, per-predicate q-error in bp, misaligned + narrow predicate battery"),

    // q344 — DICTIONARY-ENCODING PRICING: exact encoded-size arithmetic
    // for a 10-column battery spanning the whole cardinality spectrum —
    // 2-value flags (l_linestatus: packs to 1 bit/row, ratio ~1.2%),
    // small enums (priorities, segments, brands), and the adversarial
    // end (c_name, s_name: every value distinct — the dictionary COSTS
    // bytes). Encoded size = distinct-value bytes + the bit-packed index
    // stream at ceil(log2(ndv)) bits/row; bit width via length(bin(ndv-1)),
    // portable to the oracle verbatim. This is the table a format writer
    // (parquet encoding chooser) reads before picking PLAIN vs
    // RLE_DICTIONARY — at 100 TB each leg is one column-pruned scan with
    // a two-level aggregate (value-distinct then global), nothing wider.
    QuerySpec(
      "q344_encoding_pricing",
      (s, d) => {
        val battery = Seq(
          ("lineitem", "l_returnflag"), ("lineitem", "l_linestatus"),
          ("orders", "o_orderpriority"), ("orders", "o_orderstatus"),
          ("customer", "c_mktsegment"), ("customer", "c_name"),
          ("part", "p_brand"), ("part", "p_type"),
          ("supplier", "s_name"), ("nation", "n_name"))
        battery.map { case (tb, c) => encLeg(s, d, tb, c) }
          .reduce(_ unionByName _)
          .select(col("col_name"), col("n").as("n_rows"), col("ndv"),
            col("plain_b").as("plain_bytes"),
            expr("length(bin(ndv - 1))").cast("long").as("idx_bits"),
            expr("dict_b + (n * length(bin(ndv - 1)) + 7) div 8").as("dict_bytes"),
            expr("(dict_b + (n * length(bin(ndv - 1)) + 7) div 8) * 10000 div plain_b")
              .as("ratio_bp"))
          .orderBy("col_name")
      },
      Some {
        val legs = Seq(
          encLegSql("lineitem", "l_returnflag"), encLegSql("lineitem", "l_linestatus"),
          encLegSql("orders", "o_orderpriority"), encLegSql("orders", "o_orderstatus"),
          encLegSql("customer", "c_mktsegment"), encLegSql("customer", "c_name"),
          encLegSql("part", "p_brand"), encLegSql("part", "p_type"),
          encLegSql("supplier", "s_name"), encLegSql("nation", "n_name")).mkString(" UNION ALL ")
        s"""WITH u AS ($legs) SELECT col_name, CAST(n AS BIGINT) AS n_rows, CAST(ndv AS BIGINT) AS ndv, CAST(plain_b AS BIGINT) AS plain_bytes, CAST(length(bin(ndv - 1)) AS BIGINT) AS idx_bits, CAST(dict_b + (n * length(bin(ndv - 1)) + 7) // 8 AS BIGINT) AS dict_bytes, CAST((dict_b + (n * length(bin(ndv - 1)) + 7) // 8) * 10000 // plain_b AS BIGINT) AS ratio_bp FROM u ORDER BY col_name"""
      },
      "S ext: dictionary-encoding pricing — exact plain vs dict+bit-packed size arithmetic per column, portable bit-width via bin(), full cardinality spectrum battery"),

    // q345 — BLOOM SEMI-JOIN CALIBRATION: the q95 runtime-filter family
    // priced end-to-end with replayable arithmetic. Build side: the
    // AUTOMOBILE-segment customers hashed into an m=8192-bit, k=3 filter
    // via the portable md5 position hash (every set bit is a row the
    // oracle recomputes). Probe side: distinct order custkeys NOT in the
    // build set — a key false-passes iff all 3 of its positions are set.
    // The one-row readout: set-bit load, measured key-level false-pass
    // rate vs the predicted (bits_set/m)^3 (exact integer micro
    // arithmetic, the textbook approximation evaluated on the REAL bit
    // vector, not the e^-kn/m asymptotic), and the row-level split the
    // filter produces on orders — member rows (must all pass: blooms
    // have no false negatives, the invariant spec pins the conservation),
    // false-passed rows (wasted probe work), filtered rows (the shuffle
    // I/O the runtime filter saves). Scale: build side is small by
    // definition (that's why you bloom); the probe is one distinct +
    // three broadcast-joined position lookups.
    QuerySpec(
      "q345_bloom_calibration",
      (s, d) => {
        val sKeys = t(s, d, "customer").where(col("c_mktsegment") === "AUTOMOBILE")
          .select(col("c_custkey").as("k")).distinct()
        val bits = sKeys
          .select(explode(array((1 to 3).map(i => bloomPos(i, col("k"))): _*)).as("pos"))
          .distinct()
        val pKeys = t(s, d, "orders").select(col("o_custkey").as("k")).distinct()
        val nonMembers = pKeys.join(broadcast(sKeys), Seq("k"), "left_anti")
        val probe = nonMembers.select(col("k"),
          explode(array((1 to 3).map(i => bloomPos(i, col("k"))): _*)).as("pos"))
        val fpKeys = probe.join(broadcast(bits), Seq("pos"))
          .groupBy("k").agg(count(lit(1)).as("nhit"))
          .where(col("nhit") === 3L).select("k")
        val cls = t(s, d, "orders").select(col("o_custkey").as("k"))
          .join(broadcast(sKeys.withColumn("is_m", lit(1L))), Seq("k"), "left")
          .join(broadcast(fpKeys.withColumn("is_fp", lit(1L))), Seq("k"), "left")
          .agg(
            sum(when(col("is_m") === 1L, 1L).otherwise(0L)).as("rows_member"),
            sum(when(col("is_m").isNull && col("is_fp") === 1L, 1L).otherwise(0L))
              .as("rows_false_pass"),
            sum(when(col("is_m").isNull && col("is_fp").isNull, 1L).otherwise(0L))
              .as("rows_filtered"))
        sKeys.agg(count(lit(1)).as("n_keys"))
          .crossJoin(broadcast(bits.agg(count(lit(1)).as("bits_set"))))
          .crossJoin(broadcast(nonMembers.agg(count(lit(1)).as("nonmember_keys"))))
          .crossJoin(broadcast(fpKeys.agg(count(lit(1)).as("fp_keys"))))
          .crossJoin(broadcast(cls))
          .select(col("n_keys"), col("bits_set"), col("nonmember_keys"), col("fp_keys"),
            expr("fp_keys * 1000000 div nonmember_keys").as("fpr_meas_micro"),
            expr("bits_set * bits_set * bits_set * 1000000 div (8192 * 8192 * CAST(8192 AS BIGINT))")
              .as("fpr_pred_micro"),
            col("rows_member"), col("rows_false_pass"), col("rows_filtered"))
      },
      Some {
        def pos3(src: String, k: String) =
          s"SELECT $k AS k, unnest([${bloomPosSql(1, k)}, ${bloomPosSql(2, k)}, ${bloomPosSql(3, k)}]) AS pos FROM $src"
        s"""WITH s AS (SELECT DISTINCT c_custkey AS k FROM customer WHERE c_mktsegment = 'AUTOMOBILE'), bits AS (SELECT DISTINCT pos FROM (${pos3("s", "k")}) h), pk AS (SELECT DISTINCT o_custkey AS k FROM orders), nm AS (SELECT pk.k FROM pk LEFT JOIN s ON s.k = pk.k WHERE s.k IS NULL), probe AS (${pos3("nm", "k")}), fpk AS (SELECT k FROM (SELECT probe.k, count(*) AS nhit FROM probe JOIN bits ON bits.pos = probe.pos GROUP BY 1) h WHERE nhit = 3), cls AS (SELECT sum(CASE WHEN s.k IS NOT NULL THEN 1 ELSE 0 END) AS rows_member, sum(CASE WHEN s.k IS NULL AND f.k IS NOT NULL THEN 1 ELSE 0 END) AS rows_false_pass, sum(CASE WHEN s.k IS NULL AND f.k IS NULL THEN 1 ELSE 0 END) AS rows_filtered FROM orders o LEFT JOIN s ON s.k = o.o_custkey LEFT JOIN fpk f ON f.k = o.o_custkey), cnt AS (SELECT (SELECT count(*) FROM s) AS n_keys, (SELECT count(*) FROM bits) AS bits_set, (SELECT count(*) FROM nm) AS nonmember_keys, (SELECT count(*) FROM fpk) AS fp_keys) SELECT CAST(n_keys AS BIGINT) AS n_keys, CAST(bits_set AS BIGINT) AS bits_set, CAST(nonmember_keys AS BIGINT) AS nonmember_keys, CAST(fp_keys AS BIGINT) AS fp_keys, CAST(fp_keys * 1000000 // nonmember_keys AS BIGINT) AS fpr_meas_micro, CAST(bits_set * bits_set * bits_set * 1000000 // (8192 * 8192 * CAST(8192 AS BIGINT)) AS BIGINT) AS fpr_pred_micro, CAST(rows_member AS BIGINT) AS rows_member, CAST(rows_false_pass AS BIGINT) AS rows_false_pass, CAST(rows_filtered AS BIGINT) AS rows_filtered FROM cnt CROSS JOIN cls"""
      },
      "J/S ext: bloom semi-join calibration — replayable md5 bit vector, measured vs predicted false-pass rate in micro, row-level saved-I/O split with the no-false-negative conservation"),

    // q346 — BROADCAST-vs-SHUFFLE JOIN PRICING: the decision AQE makes
    // from sampled stats, made here from EXACT stats for the five
    // TPC-H join edges. Per edge: exact build/probe rows and bytes
    // (SizeEstimator-style widths: 8/numeric, 4/int, length()/varchar),
    // the two network costs under the standard model — broadcast ships
    // build_bytes to every one of the 32 executors, shuffle ships
    // build+probe once — the chosen strategy (cheaper cost, subject to
    // the 10 MiB driver cap Spark enforces), and the bytes the choice
    // saves. The table shows the model's real structure: tiny dims
    // (nation, supplier) broadcast even x32, while orders-sized builds
    // flip to shuffle long before the cap bites. Five pairs of one-row
    // aggregates — free at any scale, and the readout a capacity plan
    // quotes when setting autoBroadcastJoinThreshold.
    QuerySpec(
      "q346_join_planner",
      (s, d) => {
        val stats: Map[String, DataFrame] =
          tableWidths.map { case (tb, wsql) => tb -> statLeg(s, d, tb, wsql) }
        val edges = Seq(
          ("lineitem x orders", "orders", "lineitem"),
          ("lineitem x part", "part", "lineitem"),
          ("lineitem x supplier", "supplier", "lineitem"),
          ("orders x customer", "customer", "orders"),
          ("customer x nation", "nation", "customer"))
        edges.map { case (nm, b, p) =>
          stats(b).select(col("rows").as("build_rows"), col("bytes").as("build_bytes"))
            .crossJoin(broadcast(
              stats(p).select(col("rows").as("probe_rows"), col("bytes").as("probe_bytes"))))
            .select(lit(nm).as("join_edge"), col("build_rows"), col("build_bytes"),
              col("probe_rows"), col("probe_bytes"))
        }.reduce(_ unionByName _)
          .select(col("join_edge"), col("build_rows"), col("build_bytes"),
            col("probe_rows"), col("probe_bytes"),
            expr("build_bytes * 32").as("bcast_cost"),
            expr("build_bytes + probe_bytes").as("shuffle_cost"),
            expr("CASE WHEN build_bytes <= 10485760 AND build_bytes * 32 < build_bytes + probe_bytes " +
              "THEN 'broadcast' ELSE 'shuffle' END").as("strategy"),
            expr("CASE WHEN build_bytes <= 10485760 AND build_bytes * 32 < build_bytes + probe_bytes " +
              "THEN build_bytes + probe_bytes - build_bytes * 32 ELSE 0 END").as("saved_bytes"))
          .orderBy("join_edge")
      },
      Some {
        val withs = tableWidths.keys.toSeq.sorted
          .map(tb => s"st_$tb AS (${statLegSql(tb)})").mkString(", ")
        def edge(nm: String, b: String, p: String) =
          s"SELECT '$nm' AS join_edge, st_$b.rows AS build_rows, st_$b.bytes AS build_bytes, " +
            s"st_$p.rows AS probe_rows, st_$p.bytes AS probe_bytes FROM st_$b CROSS JOIN st_$p"
        val union = Seq(
          edge("lineitem x orders", "orders", "lineitem"),
          edge("lineitem x part", "part", "lineitem"),
          edge("lineitem x supplier", "supplier", "lineitem"),
          edge("orders x customer", "customer", "orders"),
          edge("customer x nation", "nation", "customer")).mkString(" UNION ALL ")
        s"""WITH $withs, u AS ($union) SELECT join_edge, CAST(build_rows AS BIGINT) AS build_rows, CAST(build_bytes AS BIGINT) AS build_bytes, CAST(probe_rows AS BIGINT) AS probe_rows, CAST(probe_bytes AS BIGINT) AS probe_bytes, CAST(build_bytes * 32 AS BIGINT) AS bcast_cost, CAST(build_bytes + probe_bytes AS BIGINT) AS shuffle_cost, CASE WHEN build_bytes <= 10485760 AND build_bytes * 32 < build_bytes + probe_bytes THEN 'broadcast' ELSE 'shuffle' END AS strategy, CAST(CASE WHEN build_bytes <= 10485760 AND build_bytes * 32 < build_bytes + probe_bytes THEN build_bytes + probe_bytes - build_bytes * 32 ELSE 0 END AS BIGINT) AS saved_bytes FROM u ORDER BY join_edge"""
      },
      "J/S ext: broadcast-vs-shuffle join pricing — exact per-table byte stats through the executor-count network-cost model, chosen strategy under the 10 MiB cap, saved-bytes readout"))
}
