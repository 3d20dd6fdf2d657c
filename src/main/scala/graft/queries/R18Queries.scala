package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QuerySpec
import graft.ops.HashOps.{md5Long, md5LongSql}

/** Round-6 widening, fifth batch: incremental/statistical machinery on
  * the event stream — an incremental sessionization MERGE proven
  * equal to the full batch recompute (the oracle replays the complete
  * gaps-and-islands over base+delta while Spark only sessionizes the
  * delta and stitches), a Poisson bootstrap confidence interval (the
  * only resampling scheme that works in one pass over data too large
  * to materialize even once more — Chamandy et al.'s production
  * formulation), a two-sample Kolmogorov–Smirnov distance on the
  * bounded quantized-score histogram (q258's grid, second consumer),
  * and session-path mining (the Sankey/flow report: top event-type
  * sequences per session).
  *
  * Determinism: Poisson resample weights come from an integer md5
  * bucket compared against fixed integer thresholds (the Poisson(1)
  * CDF pre-quantized to 1e-9 — constants in the query text, identical
  * in both engines); KS and path counts are pure integers; bootstrap
  * means are integer divisions; the ONLY doubles anywhere are never
  * aggregated.
  */
object R18Queries {

  /** Session gap (s) and the base/delta split instant for q277/q280:
    * 2 days and 2024-01-28T00:00Z over the 30-day event window — at
    * this gap ~57% of sessions straddle the split at sf0.01, so the
    * incremental merge path is genuinely exercised, not vacuously
    * green. */
  private val GapS = 172800L
  private val T0 = 1706400000L

  /** Per-user gaps-and-islands sessionization: (user_id, start_es,
    * end_es, n_events). Keyed windows only — partitions by user. */
  private def sessionize(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("es", "event_id")
    ev.withColumn("brk",
        when(col("es") - lag("es", 1).over(w) > GapS, 1L).otherwise(0L))
      .withColumn("sid", sum("brk").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "sid")
      .agg(min("es").as("start_es"), max("es").as("end_es"),
        count(lit(1)).as("n_events"))
      .drop("sid")
  }

  val specs: Seq[QuerySpec] = Seq(

    // q277 — INCREMENTAL SESSIONIZATION MERGE: the nightly-ingest shape
    // for session tables. Spark sessionizes ONLY the delta (events ≥
    // T0) and stitches it against the persisted base sessions: a base
    // session is "open" iff its end is within one gap of T0 (at most
    // one per user — two would violate the gap invariant), and only a
    // user's FIRST delta session can attach to it. Everything else
    // passes through untouched. The DuckDB oracle recomputes the FULL
    // sessionization over base+delta — so a green check PROVES
    // incremental == batch, the invariant that lets a 100 TB event
    // store sessionize each day's arrivals against yesterday's session
    // table instead of re-reading itself. (In this registered query the
    // base sessions are also built here — at scale they'd be the
    // persisted table; the stitch logic is identical.)
    QuerySpec(
      "q277_incr_sessions",
      (s, d) => {
        val ev = t(s, d, "events")
          .select(col("user_id"), expr("unix_timestamp(ts)").as("es"),
            col("event_id"))
        val bs = sessionize(ev.where(col("es") < T0))
        val ds = sessionize(ev.where(col("es") >= T0))
        val open = bs.where(col("end_es") >= T0 - GapS)
        val closed = bs.where(col("end_es") < T0 - GapS)
        val wFirst = Window.partitionBy("user_id").orderBy("start_es")
        val dsR = ds.withColumn("rn", row_number().over(wFirst))
        val dsFirst = dsR.where(col("rn") === 1).drop("rn")
        val dsRest = dsR.where(col("rn") > 1).drop("rn")
        val j = dsFirst
          .select(col("user_id").as("du"), col("start_es").as("dst"),
            col("end_es").as("den"), col("n_events").as("dn"))
          .join(open, col("du") === col("user_id") &&
            col("dst") - col("end_es") <= GapS, "full")
        val merged = j.where(col("user_id").isNotNull && col("du").isNotNull)
          .select(col("user_id"), col("start_es"), col("den").as("end_es"),
            (col("n_events") + col("dn")).as("n_events"))
        val openAlone = j.where(col("du").isNull)
          .select("user_id", "start_es", "end_es", "n_events")
        val dsFirstAlone = j.where(col("user_id").isNull)
          .select(col("du").as("user_id"), col("dst").as("start_es"),
            col("den").as("end_es"), col("dn").as("n_events"))
        closed.unionByName(openAlone).unionByName(merged)
          .unionByName(dsFirstAlone).unionByName(dsRest)
          .orderBy("user_id", "start_es")
      },
      Some("""WITH ev AS (SELECT user_id, CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS es, event_id FROM events), s AS (SELECT user_id, es, event_id, CASE WHEN es - lag(es) OVER (PARTITION BY user_id ORDER BY es, event_id) > 172800 THEN 1 ELSE 0 END AS brk FROM ev), g AS (SELECT user_id, es, sum(brk) OVER (PARTITION BY user_id ORDER BY es, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM s) SELECT user_id, CAST(min(es) AS BIGINT) AS start_es, CAST(max(es) AS BIGINT) AS end_es, CAST(count(*) AS BIGINT) AS n_events FROM g GROUP BY user_id, sid ORDER BY user_id, start_es"""),
      "§2.12 ext: incremental sessionization merge — delta-only compute, oracle proves == full batch recompute"),

    // q278 — POISSON BOOTSTRAP 93.75% CI for mean order value: the
    // one-pass resampling scheme for data that cannot be materialized
    // twice — each row's multiplicity in resample j is Poisson(1),
    // realized deterministically by mapping an md5 bucket of
    // (orderkey, j) through the Poisson CDF pre-quantized to integer
    // 1e-9 thresholds (constants below; both engines compare the same
    // BIGINT against the same literals). One scan fans each row into
    // 32 (resample, weight) contributions; the aggregation is 32
    // map-side-combinable groups; the interval is the 2nd/31st order
    // statistic of the 32 integer resample means — sorted as a bounded
    // 32-element array, never a global row sort. At 100 TB this is
    // THE way to put error bars on a corpus statistic: the fan-out is
    // map-local and the shuffle carries 32 pre-combined rows per task.
    QuerySpec(
      "q278_poisson_bootstrap",
      (s, d) => {
        val x = t(s, d, "orders")
          .select(col("o_orderkey"), cents(col("o_totalprice")).as("xc"))
        val point = x.agg(count(lit(1)).as("n_orders"),
          expr("sum(xc) * 10000 div count(1)").as("mean_c4"))
        val res = x
          .select(col("o_orderkey"), col("xc"),
            explode(sequence(lit(1), lit(32))).as("j"))
          .withColumn("bkt",
            md5Long(concat(col("o_orderkey").cast("string"), lit(":"), col("j").cast("string")), 15)
              % 1000000000L)
          .withColumn("w",
            when(col("bkt") < 367879441L, 0L)
              .when(col("bkt") < 735758882L, 1L)
              .when(col("bkt") < 919698602L, 2L)
              .when(col("bkt") < 981011843L, 3L)
              .when(col("bkt") < 996340153L, 4L)
              .when(col("bkt") < 999405815L, 5L)
              .when(col("bkt") < 999916758L, 6L)
              .otherwise(7L))
          .groupBy("j")
          .agg(sum("w").as("sw"), sum(col("w") * col("xc")).as("swx"))
          .select(expr("swx * 10000 div greatest(sw, 1)").as("mean_j"))
          .agg(sort_array(collect_list("mean_j")).as("means"))
          .select(element_at(col("means"), 2).as("boot_lo_c4"),
            element_at(col("means"), 31).as("boot_hi_c4"))
        point.crossJoin(broadcast(res))
      },
      Some(s"""WITH x AS (SELECT o_orderkey, CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS xc FROM orders), pt AS (SELECT CAST(count(*) AS BIGINT) AS n_orders, CAST(sum(xc) * 10000 // count(*) AS BIGINT) AS mean_c4 FROM x), r AS (SELECT j, xc, ${md5LongSql("o_orderkey || ':' || j", 15)} % 1000000000 AS bkt FROM x CROSS JOIN (SELECT unnest(generate_series(1, 32)) AS j)), w AS (SELECT j, xc, CASE WHEN bkt < 367879441 THEN 0 WHEN bkt < 735758882 THEN 1 WHEN bkt < 919698602 THEN 2 WHEN bkt < 981011843 THEN 3 WHEN bkt < 996340153 THEN 4 WHEN bkt < 999405815 THEN 5 WHEN bkt < 999916758 THEN 6 ELSE 7 END AS w FROM r), m AS (SELECT j, CAST(sum(w * xc) * 10000 // greatest(sum(w), 1) AS BIGINT) AS mean_j FROM w GROUP BY 1), arr AS (SELECT list_sort(list(mean_j)) AS means FROM m) SELECT pt.n_orders, pt.mean_c4, CAST(means[2] AS BIGINT) AS boot_lo_c4, CAST(means[31] AS BIGINT) AS boot_hi_c4 FROM pt, arr"""),
      "A ext: Poisson-bootstrap CI for mean order value — one-pass deterministic resampling, 32 combinable groups"),

    // q279 — TWO-SAMPLE KOLMOGOROV–SMIRNOV distance between the
    // first-coordinate score distributions of the two label classes
    // (the drift / separability companion to q258's AUC, sharing its
    // clamp-quantized 8192-cell grid): D = max over the grid of
    // |F̂₁ − F̂₀|, computed as the integer cross-product form
    // |cum1·n0 − cum0·n1| so no division happens until the final
    // basis-point output. Per-cell counts arrive from one map-side
    // aggregation; the cumulative runs over the ≤8192-row histogram
    // (bounded by the FIXED grid, not the corpus — allowlisted like
    // q258). The argmax cell is reported too (ties → lowest cell,
    // total order).
    QuerySpec(
      "q279_ks_test",
      (s, d) => {
        val h = t(s, d, "embeddings")
          .select(greatest(lit(-4096L), least(lit(4095L),
            floor(element_at(col("embedding"), 1) * 4096.0).cast("long"))).as("sq"),
            (col("label") < 5).cast("long").as("y"))
          .groupBy("sq")
          .agg(sum("y").as("np"), (count(lit(1)) - sum(col("y"))).as("nn"))
        val w = Window.orderBy("sq")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        h.withColumn("cp", sum("np").over(w))
          .withColumn("cn", sum("nn").over(w))
          .crossJoin(broadcast(h.agg(sum("np").as("n1"), sum("nn").as("n0"))))
          .withColumn("d_scaled", abs(col("cp") * col("n0") - col("cn") * col("n1")))
          .orderBy(col("d_scaled").desc, col("sq"))
          .limit(1)
          .select(col("n1").as("n_pos"), col("n0").as("n_neg"),
            col("sq").as("argmax_cell"),
            expr("d_scaled * 10000 div (n1 * n0)").as("ks_d_bp"))
      },
      Some("""WITH h AS (SELECT greatest(-4096, least(4095, CAST(floor(embedding[1] * 4096.0) AS BIGINT))) AS sq, CAST(sum(CASE WHEN label < 5 THEN 1 ELSE 0 END) AS BIGINT) AS np, CAST(sum(CASE WHEN label < 5 THEN 0 ELSE 1 END) AS BIGINT) AS nn FROM embeddings GROUP BY 1), c AS (SELECT sq, sum(np) OVER (ORDER BY sq ROWS UNBOUNDED PRECEDING) AS cp, sum(nn) OVER (ORDER BY sq ROWS UNBOUNDED PRECEDING) AS cn FROM h), tot AS (SELECT CAST(sum(np) AS BIGINT) AS n1, CAST(sum(nn) AS BIGINT) AS n0 FROM h), d AS (SELECT sq, abs(cp * n0 - cn * n1) AS d_scaled, n1, n0 FROM c, tot) SELECT n1 AS n_pos, n0 AS n_neg, sq AS argmax_cell, CAST(d_scaled * 10000 // (n1 * n0) AS BIGINT) AS ks_d_bp FROM d ORDER BY d_scaled DESC, sq LIMIT 1"""),
      "A6/E3 ext: two-sample KS distance on the bounded score grid — integer cross-product form, no division"),

    // q280 — SESSION-PATH MINING (the Sankey/user-flow report): the
    // top 20 event-type sequences users follow within a session
    // (q277's sessionization, path truncated at 8 steps — the cap
    // bounds the group key, the classic guard against a pathological
    // never-idle user producing an unbounded shuffle key). Events
    // order deterministically by (time, event_id); per-session
    // collect_list is bounded by the session itself, then the path
    // histogram is an ordinary map-combinable count. The struct sort
    // happens INSIDE each group — raw events shuffle once, on the
    // (user, session) key.
    QuerySpec(
      "q280_session_paths",
      (s, d) => {
        val ev = t(s, d, "events")
          .select(col("user_id"), expr("unix_timestamp(ts)").as("es"),
            col("event_id"), col("event_type"))
        val w = Window.partitionBy("user_id").orderBy("es", "event_id")
        ev.withColumn("brk",
            when(col("es") - lag("es", 1).over(w) > GapS, 1L).otherwise(0L))
          .withColumn("sid", sum("brk").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy("user_id", "sid")
          .agg(sort_array(collect_list(struct(col("es"), col("event_id"),
            col("event_type")))).as("evs"))
          .select(array_join(slice(expr("transform(evs, x -> x.event_type)"),
            1, 8), ">").as("path"), size(col("evs")).cast("long").as("n_events"))
          .groupBy("path")
          .agg(count(lit(1)).as("n_sessions"), sum("n_events").as("n_events"))
          .orderBy(col("n_sessions").desc, col("path"))
          .limit(20)
      },
      Some("""WITH ev AS (SELECT user_id, CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS es, event_id, event_type FROM events), s AS (SELECT user_id, es, event_id, event_type, CASE WHEN es - lag(es) OVER (PARTITION BY user_id ORDER BY es, event_id) > 172800 THEN 1 ELSE 0 END AS brk FROM ev), g AS (SELECT user_id, es, event_id, event_type, sum(brk) OVER (PARTITION BY user_id ORDER BY es, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM s), sess AS (SELECT user_id, sid, array_to_string((list(event_type ORDER BY es, event_id))[1:8], '>') AS path, count(*) AS n FROM g GROUP BY 1, 2) SELECT path, CAST(count(*) AS BIGINT) AS n_sessions, CAST(sum(n) AS BIGINT) AS n_events FROM sess GROUP BY 1 ORDER BY n_sessions DESC, path LIMIT 20"""),
      "§2.12 ext: session-path mining — capped path key, per-session bounded collect, top-20 flows"))
}
