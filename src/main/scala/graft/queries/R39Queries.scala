package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QuerySpec
import graft.Tables
import graft.ops.HashOps.{md5Bucket, md5BucketSql}

/** Round-8 seventh widening — the OPERATIONS side of the physical-design
  * layer (R38 priced layouts and plans; these price the day-2 jobs a
  * 100-TB lakehouse schedules around them):
  *
  *  - q347 shuffle-skew planner: partition-load table for candidate
  *    shuffle keys, with the salted variant priced next to the raw one;
  *  - q348 retention pricing: rows/bytes freed per TTL cutoff — the
  *    table a storage-budget review reads before setting a policy;
  *  - q349 rollup / materialized-view advisor: exact group cardinality
  *    vs base rows per candidate dimension set (run as independent
  *    aggregates, NOT one GROUPING SETS pass — Expand multiplies the
  *    fact input by the set count, the q09 plan contract's anti-shape);
  *  - q350 small-file compaction plan: start-fit sequential bin packing
  *    of per-day file bytes into target-size merged files.
  *
  * Same determinism regime as R38: exact integer byte/row arithmetic,
  * md5 bucket hashing (q311 convention) wherever a "hash partitioner"
  * is modeled — portable to the oracle bit-for-bit, unlike Spark's
  * internal Murmur3.
  */
object R39Queries {

  /** q347's fold from per-partition loads (p, c) to the one-row planner
    * readout — shared with the streaming skew monitor
    * (EventStream.skewMonitorStream) so the batch planner and the online
    * monitor can never disagree on what "skew" means.
    */
  private[graft] def skewSummary(loads: DataFrame): DataFrame =
    loads
      .agg(count(lit(1)).as("parts_used"), max("c").as("max_load"),
        min("c").as("min_load"), sum("c").as("sum_rows"))
      .select(col("parts_used"), col("max_load"), col("min_load"),
        col("sum_rows"), expr("max_load * 32 * 10000 div sum_rows").as("skew_bp"))

  /** q347's key-candidate battery: (variant name, Spark key column,
    * DuckDB key expression). The salt leg splits each low-cardinality
    * flag into 16 sub-keys via a hash of the high-cardinality orderkey.
    */
  private def skewVariants: Seq[(String, Column, String)] = Seq(
    ("l_partkey", col("l_partkey").cast("string"), "CAST(l_partkey AS VARCHAR)"),
    ("l_suppkey", col("l_suppkey").cast("string"), "CAST(l_suppkey AS VARCHAR)"),
    ("l_returnflag", col("l_returnflag"), "l_returnflag"),
    ("l_returnflag_salt16",
      concat(col("l_returnflag"), lit(":"),
        md5Bucket(concat(lit("salt:"), col("l_orderkey").cast("string")), 16)
          .cast("string")),
      "l_returnflag || ':' || CAST(" +
        md5BucketSql("'salt:' || CAST(l_orderkey AS VARCHAR)", 16) + " AS VARCHAR)"))

  val specs: Seq[QuerySpec] = Seq(

    // q347 — SHUFFLE-SKEW PLANNER: the partition-load table that decides
    // whether a shuffle key needs salting BEFORE the job runs, not after
    // the straggler page. For each candidate key the 32-partition loads
    // under a portable hash partitioner (md5 bucket — Spark's Murmur3
    // isn't oracle-replayable, and the MODEL only needs a uniform hash):
    // distinct keys, partitions actually used, max/min partition load,
    // and skew_bp = max_load / perfectly-uniform load. The battery tells
    // the whole story in four rows: l_partkey (2000 keys) lands ~1.3x
    // uniform; l_returnflag (3 keys) puts everything on 3 of 32
    // partitions at ~10.7x; the 16-way salted flag recovers to ~3.3x —
    // better, and honestly NOT uniform (48 keys still collide), which is
    // exactly what the planner must know before picking a salt factor.
    // Scale: each leg is one keyed count + one 32-row aggregate.
    QuerySpec(
      "q347_shuffle_skew",
      (s, d) => {
        skewVariants.map { case (nm, kCol, _) =>
          val base = t(s, d, "lineitem").select(kCol.as("k"))
          val stats = base.agg(countDistinct(col("k")).as("n_keys"))
          val summary = skewSummary(
            base.groupBy(md5Bucket(col("k"), 32).as("p")).agg(count(lit(1)).as("c")))
          stats.crossJoin(broadcast(summary))
            .select(lit(nm).as("variant"), col("n_keys"), col("parts_used"),
              col("max_load"), col("min_load"), col("skew_bp"))
        }.reduce(_ unionByName _).orderBy("variant")
      },
      Some {
        val a = skewVariants.map { case (nm, _, kx) =>
          s"SELECT '$nm' AS variant, count(DISTINCT k) AS n_keys, count(*) AS n_rows " +
            s"FROM (SELECT $kx AS k FROM lineitem) t"
        }.mkString(" UNION ALL ")
        val b = skewVariants.map { case (nm, _, kx) =>
          s"SELECT '$nm' AS variant, count(*) AS parts_used, max(c) AS max_load, min(c) AS min_load " +
            s"FROM (SELECT ${md5BucketSql("k", 32)} AS p, count(*) AS c FROM (SELECT $kx AS k FROM lineitem) t GROUP BY 1) g"
        }.mkString(" UNION ALL ")
        s"""WITH a AS ($a), b AS ($b) SELECT a.variant, CAST(n_keys AS BIGINT) AS n_keys, CAST(parts_used AS BIGINT) AS parts_used, CAST(max_load AS BIGINT) AS max_load, CAST(min_load AS BIGINT) AS min_load, CAST(max_load * 32 * 10000 // n_rows AS BIGINT) AS skew_bp FROM a JOIN b ON b.variant = a.variant ORDER BY a.variant"""
      },
      "S/J ext: shuffle-skew planner — 32-partition load table per candidate key under a portable hash partitioner, raw vs 16-way-salted flag priced side by side"),

    // q348 — RETENTION / TTL PRICING: rows and bytes freed per candidate
    // retention cutoff on the events stream, ages measured back from the
    // corpus max timestamp (deterministic — no wall clock anywhere).
    // One keyed pass builds the per-age-day aggregate (≤ window-span
    // rows); the 5-cutoff grid joins it broadcast with age >= cutoff, so
    // adding cutoffs costs nothing. bytes uses the exact per-row width
    // model (8/numeric, length()/varchar, null-safe props). The output
    // is the storage-budget table: TTL=1d frees 96.7% of this corpus,
    // TTL=21d still frees 29.8% — next to which any retention debate
    // is just a row lookup.
    QuerySpec(
      "q348_retention_pricing",
      (s, d) => {
        import s.implicits._
        val e = Tables.events(s, d).select(
          expr("unix_timestamp(ts)").as("es"),
          expr("8 + 8 + 8 + length(event_type) + 8 + coalesce(length(props), 0)").as("b"))
        val mx = e.agg(max("es").as("mes"))
        val daily = e.crossJoin(broadcast(mx))
          .groupBy(expr("(mes - es) div 86400").as("age_d"))
          .agg(count(lit(1)).as("rws"), sum("b").as("byt"))
        val tot = e.agg(sum("b").as("tb"))
        Seq(1L, 3L, 7L, 14L, 21L).toDF("cutoff_d")
          .crossJoin(broadcast(tot))
          .join(broadcast(daily), expr("age_d >= cutoff_d"), "left")
          .groupBy("cutoff_d", "tb")
          .agg(coalesce(sum("rws"), lit(0L)).as("rows_dropped"),
            coalesce(sum("byt"), lit(0L)).as("bytes_dropped"))
          .select(col("cutoff_d"), col("rows_dropped"), col("bytes_dropped"),
            expr("bytes_dropped * 10000 div tb").as("bytes_share_bp"))
          .orderBy("cutoff_d")
      },
      Some(
        """WITH e AS (SELECT CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS es, 8 + 8 + 8 + length(event_type) + 8 + coalesce(length(props), 0) AS b FROM events), mx AS (SELECT max(es) AS mes FROM e), daily AS (SELECT (mes - es) // 86400 AS age_d, count(*) AS rws, sum(b) AS byt FROM e CROSS JOIN mx GROUP BY 1), tot AS (SELECT sum(b) AS tb FROM e), cut AS (SELECT unnest([1, 3, 7, 14, 21]) AS cutoff_d) SELECT CAST(c.cutoff_d AS BIGINT) AS cutoff_d, CAST(coalesce(sum(d.rws), 0) AS BIGINT) AS rows_dropped, CAST(coalesce(sum(d.byt), 0) AS BIGINT) AS bytes_dropped, CAST(coalesce(sum(d.byt), 0) * 10000 // tb AS BIGINT) AS bytes_share_bp FROM cut c CROSS JOIN tot LEFT JOIN daily d ON d.age_d >= c.cutoff_d GROUP BY 1, tb ORDER BY 1"""),
      "S/E ext: retention/TTL pricing — rows and bytes freed per cutoff, ages from the corpus max timestamp, exact byte model, broadcast cutoff grid over a per-age-day aggregate"),

    // q349 — ROLLUP / MATERIALIZED-VIEW ADVISOR: exact group cardinality
    // vs base rows for six candidate dimension sets, with the
    // materialize verdict at the 20x-compression threshold (500 bp).
    // The six sets span the advisor's whole answer space: flag x status
    // (6 groups, 1 bp — always materialize), ship-month and suppkey
    // (strong), partkey (borderline-strong 333 bp), partkey x suppkey
    // (8621 bp — the rollup barely shrinks, don't), orderkey (2457 bp —
    // a near-key pretending to be a dimension). Deliberately run as SIX
    // INDEPENDENT aggregates, not one GROUPING SETS pass: Expand would
    // multiply every fact row by the set count before aggregating —
    // 6x the shuffle input for the convenience of one pass (the q09
    // plan contract bans Expand for exactly this reason). Each leg is
    // one partial-agg pass; at 100 TB the six run in parallel stages.
    QuerySpec(
      "q349_rollup_advisor",
      (s, d) => {
        val sets: Seq[(String, Seq[String])] = Seq(
          ("returnflag x linestatus", Seq("l_returnflag", "l_linestatus")),
          ("ship_month", Seq("year(l_shipdate) * 100 + month(l_shipdate)")),
          ("partkey", Seq("l_partkey")),
          ("suppkey", Seq("l_suppkey")),
          ("partkey x suppkey", Seq("l_partkey", "l_suppkey")),
          ("orderkey", Seq("l_orderkey")))
        val base = t(s, d, "lineitem")
        val n = base.agg(count(lit(1)).as("base_rows"))
        sets.map { case (nm, gs) =>
          base.groupBy(gs.map(expr): _*).agg(count(lit(1)).as("cnt"))
            .agg(count(lit(1)).as("n_groups"))
            .select(lit(nm).as("set_name"), col("n_groups"))
        }.reduce(_ unionByName _)
          .crossJoin(broadcast(n))
          .select(col("set_name"), col("n_groups"), col("base_rows"),
            expr("n_groups * 10000 div base_rows").as("reduction_bp"),
            expr("CAST(CASE WHEN n_groups * 10000 div base_rows <= 500 THEN 1 ELSE 0 END AS BIGINT)")
              .as("materialize"))
          .orderBy("set_name")
      },
      Some {
        val sets = Seq(
          ("returnflag x linestatus", "l_returnflag, l_linestatus"),
          ("ship_month", "year(l_shipdate) * 100 + month(l_shipdate)"),
          ("partkey", "l_partkey"),
          ("suppkey", "l_suppkey"),
          ("partkey x suppkey", "l_partkey, l_suppkey"),
          ("orderkey", "l_orderkey"))
        val legs = sets.map { case (nm, gx) =>
          s"SELECT '$nm' AS set_name, count(*) AS n_groups FROM (SELECT $gx, count(*) FROM lineitem GROUP BY ALL) g"
        }.mkString(" UNION ALL ")
        s"""WITH n AS (SELECT count(*) AS base_rows FROM lineitem), u AS ($legs) SELECT set_name, CAST(n_groups AS BIGINT) AS n_groups, CAST(base_rows AS BIGINT) AS base_rows, CAST(n_groups * 10000 // base_rows AS BIGINT) AS reduction_bp, CAST(CASE WHEN n_groups * 10000 // base_rows <= 500 THEN 1 ELSE 0 END AS BIGINT) AS materialize FROM u CROSS JOIN n ORDER BY set_name"""
      },
      "A/S ext: rollup/materialized-view advisor — exact group cardinality vs base rows per candidate dimension set, 20x-compression verdicts, independent aggregates instead of an Expand pass"),

    // q350 — SMALL-FILE COMPACTION PLAN: the write-side job every
    // partitioned lakehouse table eventually needs. Per-ship-day "file"
    // bytes (exact width model — ~2 KB/day at sf0.01, the classic
    // too-small daily partition) are packed into 128 KiB merged files by
    // START-FIT sequential assignment: a file belongs to the bin its
    // cumulative prefix starts in, so bins can overfill by at most one
    // day's bytes and day ranges stay CONTIGUOUS (a reader's partition
    // pruning survives compaction — the property that rules out
    // best-fit-decreasing). The plan's one window runs over the per-day
    // aggregate (calendar-sized, ~2.5k rows at any corpus scale), never
    // over fact rows; fill_bp prices each merged file against target.
    QuerySpec(
      "q350_compaction_plan",
      (s, d) => {
        val byDay = t(s, d, "lineitem")
          .groupBy(expr("unix_timestamp(l_shipdate) div 86400").as("dk"))
          .agg(sum(expr(R38Queries.tableWidths("lineitem"))).as("byt"))
        byDay
          .withColumn("cum", sum("byt").over(Window.orderBy("dk")))
          .withColumn("bin", expr("(cum - byt) div 131072"))
          .groupBy("bin")
          .agg(count(lit(1)).as("n_days"), min("dk").as("day_lo"),
            max("dk").as("day_hi"), sum("byt").as("bin_bytes"))
          .select(col("bin"), col("n_days"), col("day_lo"), col("day_hi"),
            col("bin_bytes"),
            expr("bin_bytes * 10000 div 131072").as("fill_bp"))
          .orderBy("bin")
      },
      Some(
        s"""WITH d AS (SELECT CAST(floor(epoch(l_shipdate)) AS BIGINT) // 86400 AS dk, sum(${R38Queries.tableWidths("lineitem")}) AS byt FROM lineitem GROUP BY 1), c AS (SELECT dk, byt, sum(byt) OVER (ORDER BY dk) AS cum FROM d), b AS (SELECT (cum - byt) // 131072 AS bin, dk, byt FROM c) SELECT CAST(bin AS BIGINT) AS bin, CAST(count(*) AS BIGINT) AS n_days, CAST(min(dk) AS BIGINT) AS day_lo, CAST(max(dk) AS BIGINT) AS day_hi, CAST(sum(byt) AS BIGINT) AS bin_bytes, CAST(sum(byt) * 10000 // 131072 AS BIGINT) AS fill_bp FROM b GROUP BY 1 ORDER BY 1"""),
      "S ext: small-file compaction plan — start-fit sequential packing of per-day file bytes into 128 KiB targets, contiguous day ranges preserved, window only over the calendar-sized day table"))
}
