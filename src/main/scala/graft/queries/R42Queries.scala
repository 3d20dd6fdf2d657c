package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.QuerySpec

/** Round-8 tenth widening — the day-2 operation behind q349's
  * materialize verdicts: a materialized view is only worth shipping if
  * it can be maintained INCREMENTALLY, and q355 is that maintenance
  * proven correct in both directions (insert delta merged in, late
  * delta retracted out) against full recomputation.
  */
object R42Queries {

  /** The shared IVM merge algebra — q355's batch certification AND
    * EventStream.ivmStream fold through this one core (the
    * skewSummary-sharing convention), so the online MV can never drift
    * from the batch definition. Both inputs are (rf, ls, n, sq) partial
    * aggregates; the merge is the coalesce-keyed additive full-outer
    * fold, O(|base| + |delta|) with the base never reaggregated, and a
    * RETRACTION is the same call with the delta's n/sq negated — one
    * algebra, both directions. Groups whose count reaches zero are
    * dropped (the retraction-to-empty delete path; a group never goes
    * negative under the additive contract, so `n > 0` is the exact
    * liveness predicate). The pre-filter rows are exposed as
    * `ivmMergeRaw` so a caller can OBSERVE contract violations (a
    * negative net count = a retraction that outran its insert) before
    * the liveness filter silently drops them — EventStream.ivmStream
    * counts them into an accumulator, the tsRegressions pattern
    * (ADVICE r9).
    */
  private[graft] def ivmMergeRaw(base: DataFrame, delta: DataFrame): DataFrame = {
    val b = base.select(col("rf"), col("ls"), col("n").as("n_b"), col("sq").as("sq_b"))
    val dd = delta.select(col("rf"), col("ls"), col("n").as("n_d"), col("sq").as("sq_d"))
    b.join(dd, Seq("rf", "ls"), "full_outer")
      .select(col("rf"), col("ls"),
        expr("coalesce(n_b, 0) + coalesce(n_d, 0)").as("n"),
        expr("coalesce(sq_b, 0) + coalesce(sq_d, 0)").as("sq"))
  }

  private[graft] def ivmMerge(base: DataFrame, delta: DataFrame): DataFrame =
    ivmMergeRaw(base, delta).where(col("n") > 0)

  val specs: Seq[QuerySpec] = Seq(

    // q355 — INCREMENTAL VIEW MAINTENANCE: the flag x status MV (q349's
    // strongest materialize verdict) maintained by delta merge. The
    // newest ship day plays the arriving batch: the stale MV (all days
    // before it) absorbs the delta's partial aggregate through a
    // full-outer merge — coalesce-keyed, additive counts and sums, cost
    // O(|delta| + |groups|) with the base NEVER reaggregated — and the
    // same algebra runs in reverse as a retraction (full MV minus the
    // delta must reproduce the stale MV, the late-data / correction
    // path). Both directions are emitted NEXT TO full recomputation
    // with a per-group matches flag, so the oracle doesn't just check
    // the arithmetic — it certifies the maintenance identity
    // merge(base, delta) == recompute(all) and
    // retract(recompute(all), delta) == base on real data. Integer
    // quantity-cent grids keep every sum exact. This is what makes a
    // q349 "materialize" verdict operationally true at 100 TB: the
    // daily refresh touches one day and 6 group rows, not the corpus.
    QuerySpec(
      "q355_ivm_delta",
      (s, d) => {
        val b = t(s, d, "lineitem").select(
          col("l_returnflag").as("rf"), col("l_linestatus").as("ls"),
          expr("unix_timestamp(l_shipdate) div 86400").as("dk"),
          expr("CAST(floor(l_quantity * 100.0 + 0.5) AS BIGINT)").as("qc"))
        val bm = b.crossJoin(broadcast(b.agg(max("dk").as("dmax"))))
        def mv(df: DataFrame): DataFrame =
          df.groupBy("rf", "ls")
            .agg(count(lit(1)).as("n"), sum("qc").as("sq"))
        val mvBase = mv(bm.where("dk < dmax"))
        val mvDelta = mv(bm.where("dk = dmax"))
        val fullMv = mv(b)
        // both directions through the ONE shared core: retraction is the
        // same merge with the delta negated (EventStream.ivmStream folds
        // its micro-batches through ivmMerge too — they cannot diverge)
        val merged = ivmMerge(mvBase, mvDelta)
          .select(col("rf"), col("ls"), col("n").as("ivm_n"), col("sq").as("ivm_sum"))
        val retracted = ivmMerge(fullMv, mvDelta.select(col("rf"), col("ls"),
            (-col("n")).as("n"), (-col("sq")).as("sq")))
          .select(col("rf"), col("ls"), col("n").as("ivm_n"), col("sq").as("ivm_sum"))
        val ins = merged.join(fullMv.select(col("rf"), col("ls"),
            col("n").as("full_n"), col("sq").as("full_sum")), Seq("rf", "ls"))
          .select(lit("insert_delta").as("scenario"), col("rf"), col("ls"),
            col("ivm_n"), col("ivm_sum"), col("full_n"), col("full_sum"))
        val del = retracted
          .join(mvBase.select(col("rf"), col("ls"),
            col("n").as("full_n"), col("sq").as("full_sum")), Seq("rf", "ls"))
          .select(lit("delete_delta").as("scenario"), col("rf"), col("ls"),
            col("ivm_n"), col("ivm_sum"), col("full_n"), col("full_sum"))
        ins.unionByName(del)
          .select(col("scenario"), col("rf").as("l_returnflag"),
            col("ls").as("l_linestatus"), col("ivm_n"), col("ivm_sum"),
            col("full_n"), col("full_sum"),
            expr("CAST(CASE WHEN ivm_n = full_n AND ivm_sum = full_sum THEN 1 ELSE 0 END AS BIGINT)")
              .as("matches"))
          .orderBy("scenario", "l_returnflag", "l_linestatus")
      },
      Some(
        """WITH b AS (SELECT l_returnflag AS rf, l_linestatus AS ls, CAST(floor(epoch(l_shipdate)) AS BIGINT) // 86400 AS dk, CAST(floor(l_quantity * 100.0 + 0.5) AS BIGINT) AS qc FROM lineitem), mx AS (SELECT max(dk) AS dmax FROM b), mv_base AS (SELECT rf, ls, count(*) AS n, sum(qc) AS sq FROM b CROSS JOIN mx WHERE dk < dmax GROUP BY 1, 2), mv_delta AS (SELECT rf, ls, count(*) AS n, sum(qc) AS sq FROM b CROSS JOIN mx WHERE dk = dmax GROUP BY 1, 2), merged AS (SELECT coalesce(a.rf, d.rf) AS rf, coalesce(a.ls, d.ls) AS ls, coalesce(a.n, 0) + coalesce(d.n, 0) AS n, coalesce(a.sq, 0) + coalesce(d.sq, 0) AS sq FROM mv_base a FULL JOIN mv_delta d ON d.rf = a.rf AND d.ls = a.ls), full_mv AS (SELECT rf, ls, count(*) AS n, sum(qc) AS sq FROM b GROUP BY 1, 2), retracted AS (SELECT f.rf, f.ls, f.n - coalesce(d.n, 0) AS n, f.sq - coalesce(d.sq, 0) AS sq FROM full_mv f LEFT JOIN mv_delta d ON d.rf = f.rf AND d.ls = f.ls), ins AS (SELECT 'insert_delta' AS scenario, m.rf, m.ls, m.n AS ivm_n, m.sq AS ivm_sum, f.n AS full_n, f.sq AS full_sum FROM merged m JOIN full_mv f ON f.rf = m.rf AND f.ls = m.ls), del AS (SELECT 'delete_delta', r.rf, r.ls, r.n, r.sq, bb.n, bb.sq FROM retracted r JOIN mv_base bb ON bb.rf = r.rf AND bb.ls = r.ls), u AS (SELECT * FROM ins UNION ALL SELECT * FROM del) SELECT scenario, rf AS l_returnflag, ls AS l_linestatus, CAST(ivm_n AS BIGINT) AS ivm_n, CAST(ivm_sum AS BIGINT) AS ivm_sum, CAST(full_n AS BIGINT) AS full_n, CAST(full_sum AS BIGINT) AS full_sum, CAST(CASE WHEN ivm_n = full_n AND ivm_sum = full_sum THEN 1 ELSE 0 END AS BIGINT) AS matches FROM u ORDER BY scenario, l_returnflag, l_linestatus"""),
      "A/S ext: incremental view maintenance — delta merge and retraction of the q349 MV proven per-group against full recomputation, O(delta + groups) refresh with the base never reaggregated"))
}
