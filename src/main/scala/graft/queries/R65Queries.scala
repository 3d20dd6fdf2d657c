package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.QuerySpec

/** Round-13 first widening — the MV rule APPLIED and the snapshot arc's
  * SCHEMA dimension:
  *
  *  - q433 serves a four-scenario aggregate workload END-TO-END through
  *    [[graft.plans.MvRewriteRule]] — full-grain group-by
  *    with AVG (rewritten from SUM/COUNT partials under the null-free
  *    data proof), the empty-match global COUNT (the coalesce-to-0
  *    soundness case), filter subsumption through a PARTIAL view, and
  *    the null-carrying AVG refusal. The optimized plan's leaf set is
  *    emitted AS DATA (view_only), so the oracle certifies both the
  *    answers and that they were (or were not) served from the view;
  *  - q434 adds the schema dimension the snapshot arc (q421–q424) left
  *    fixed: ADD / RENAME / DROP column across four schema versions
  *    with field-ID resolution (Iceberg-style) — time-travel reads
  *    resolve each snapshot's OWN schema against unchanged data files,
  *    the rename and drop are certified value-neutral, and the CDC duel
  *    shows the field-id differ emitting only real row churn while the
  *    name-based differ re-emits the corpus on every metadata commit.
  *
  * Scale: q433's serving reads are |grain| rows once the rule fires
  * (the view_only column is the proof); q434's per-version stats and
  * diffs are aggregates/anti-joins over one checkpointed keyed frame —
  * schema commits themselves touch zero data rows, which is the point.
  */
object R65Queries {

  val specs: Seq[QuerySpec] = Seq(

    // q433 — THE MV REWRITE, SERVED: MvRewriteSpec pins the rule's laws
    // on fixtures; this runs the validated-views → rule →
    // re-rooted-Aggregate pipeline as a QUERY, with the DuckDB oracle
    // certifying the answers AND the serving decision. Three views are
    // validated (full grain, cents>$1k partial grain, and a grain over a
    // null-carrying measure), the rule over them is applied to each
    // scenario's optimized plan, and four scenarios execute:
    //   1:grain_group      — per-flag COUNT/SUM/AVG; AVG is only legal
    //                        because validation PROVED cents null-free
    //                        (SUM(sum)/SUM(cnt) needs COUNT(m)=COUNT(*));
    //   2:empty_global     — global COUNT under a dim filter matching
    //                        zero view rows; the rewrite must coalesce
    //                        SUM(cnt) to 0 where naive re-rooting
    //                        returns NULL (the r12 advice bug, now a
    //                        served scenario, not just a spec);
    //   3:partial_subsume  — the query carries the partial view's OWN
    //                        measure predicate plus a dim conjunct, so
    //                        subsumption fires and the measure filter is
    //                        answered from a view that already folded
    //                        the measure away;
    //   4:null_avg_refusal — same AVG shape over the null-carrying
    //                        twin: the avgSafe proof is absent, the rule
    //                        must keep the base scan and Spark's own
    //                        AVG-ignores-NULLs semantics must match the
    //                        oracle.
    // view_only is MEASURED from the optimized plan's leaves (1 = the
    // only leaf is the view relation) and the oracle pins it literally:
    // a rule that silently stopped firing — or fired where it must not —
    // hash-mismatches even though the VALUES still agree. Scale: once
    // view_only=1, serving reads |grain| rows; the corpus is touched
    // only by the one-time validation pass.
    QuerySpec(
      "q433_mv_rule_applied",
      (s, d) => {
        import graft.plans.{MvCatalog, MvRewriteRule}
        import org.apache.spark.sql.catalyst.plans.logical.LeafNode
        import org.apache.spark.sql.graft.ColumnBridge
        // the two bases, and then the three grains, are
        // independent checkpointed legs — overlap their materializations
        // (graft.Par, guide §2.6)
        // eager: both bases are consumed from concurrent threads below
        // (the grain par3 and the scenario Par), and a lazy checkpoint's
        // final stage would be recomputed/raced by each first consumer
        // Par pays: q433 runs 1.19 s, 1.82 s with its 4 Par sites in order (sf0.1, local[4], median)
        val (base, nbase) = graft.Par.par2(
          R60Queries.liFrame(s, d).localCheckpoint(true),
          R60Queries.liFrame(s, d)
            .withColumn("cents", when(col("cents") % 7L === 0L,
              lit(null).cast("long")).otherwise(col("cents")))
            .localCheckpoint(true))
        def grainOf(b: DataFrame): DataFrame =
          b.groupBy("f", "s", "y", "m")
            .agg(count(lit(1)).as("cnt"), sum("cents").as("sum_cents"))
            .localCheckpoint(false)
        // the partial grain is a view of the SAME relation — the rule
        // serves each query from the cheapest view whose predicate it
        // subsumes
        // Par pays: q433 runs 1.19 s, 1.82 s with its 4 Par sites in order (sf0.1, local[4], median)
        val (view, pview, nview) = graft.Par.par3(
          grainOf(base),
          base.where(col("cents") > 100000L)
            .groupBy("f", "s", "y", "m")
            .agg(count(lit(1)).as("cnt"), sum("cents").as("sum_cents"))
            .localCheckpoint(false),
          grainOf(nbase))
        val dims = Seq("f", "s", "y", "m")
        val sums = Map("cents" -> "sum_cents")
        // each view pays its own validation pass (grain rebuild + row
        // counts + full-outer compare + null census — ~5 blocking
        // actions); the rule sorts its views by measured cost, so their
        // order is immaterial and the three validations can overlap
        // (graft.Par, guide §2.6)
        // Par pays: q433 runs 1.19 s, 1.82 s with its 4 Par sites in order (sf0.1, local[4], median)
        val mvs = graft.Par(
          () => MvCatalog.validate(base, view, dims, "cnt", sums),
          () => MvCatalog.validate(base, pview, dims, "cnt", sums,
            Seq(col("cents") > 100000L)),
          () => MvCatalog.validate(nbase, nview, dims, "cnt", sums))
        require(mvs(0).isDefined, "full-grain validation failed")
        require(mvs(1).isDefined, "partial-grain validation failed")
        require(mvs(2).isDefined, "null-measure validation failed")
        // the catalog is this value: a concurrent q433 holds its own
        val rule = MvRewriteRule(mvs.flatten)
        def viewOnly(q: DataFrame, vdf: DataFrame): Long = {
          val ls = q.queryExecution.optimizedPlan.collect { case l: LeafNode => l }
          val vl = vdf.queryExecution.analyzed.asInstanceOf[LeafNode]
          if (ls.size == 1 && ls.head.getClass == vl.getClass &&
            ls.head.schema.fieldNames.sameElements(vl.schema.fieldNames)) 1L
          else 0L
        }
        // the rule rewrites this scenario's optimized plan (no session state)
        def scen(id: String, q0: DataFrame, vdf: DataFrame): DataFrame = {
          val q = ColumnBridge.ofRows(s, rule(q0.queryExecution.optimizedPlan))
          val vo = viewOnly(q, vdf)
          q.withColumn("scenario", lit(id)).withColumn("view_only", lit(vo))
            .localCheckpoint(true)
        }
        // the four scenarios each eager-checkpoint and share no
        // lineage — materialize them concurrently
        // Par pays: q433 runs 1.19 s, 1.82 s with its 4 Par sites in order (sf0.1, local[4], median)
        val scens = graft.Par(
          () => scen("1:grain_group",
            base.groupBy("f")
              .agg(count(lit(1)).as("n"), sum("cents").as("tc"),
                avg("cents").as("av"))
              .select(col("f").as("g"), col("n"), col("tc"),
                round(col("av"), 6).as("avg_r")),
            view),
          () => scen("2:empty_global",
            base.where(col("y") === 1871L).agg(count(lit(1)).as("n"))
              .select(lit("*").as("g"), col("n"), lit(0L).as("tc"),
                lit(0.0).as("avg_r")),
            view),
          () => scen("3:partial_subsume",
            base.where(col("cents") > 100000L && col("s") === "F")
              .groupBy("f")
              .agg(count(lit(1)).as("n"), sum("cents").as("tc"))
              .select(col("f").as("g"), col("n"), col("tc"),
                lit(0.0).as("avg_r")),
            pview),
          () => scen("4:null_avg_refusal",
            nbase.groupBy("f")
              .agg(count(lit(1)).as("n"), sum("cents").as("tc"),
                avg("cents").as("av"))
              .select(col("f").as("g"), col("n"), col("tc"),
                round(col("av"), 6).as("avg_r")),
            nview))
        scens.reduce(_ unionByName _)
          .select(col("scenario"), col("g"), col("n"), col("tc"),
            col("avg_r"), col("view_only"))
          .orderBy("scenario", "g")
      },
      Some("""WITH li AS (SELECT l_returnflag AS f, l_linestatus AS s, CAST(year(l_shipdate) AS BIGINT) AS y, CAST(month(l_shipdate) AS BIGINT) AS m, CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS cents FROM lineitem), nli AS (SELECT f, s, y, m, CASE WHEN cents % 7 = 0 THEN NULL ELSE cents END AS cents FROM li), s1 AS (SELECT '1:grain_group' AS scenario, f AS g, count(*) AS n, sum(cents) AS tc, round(avg(cents), 6) AS avg_r, 1 AS view_only FROM li GROUP BY f), s2 AS (SELECT '2:empty_global' AS scenario, '*' AS g, count(*) AS n, 0 AS tc, 0.0 AS avg_r, 1 AS view_only FROM li WHERE y = 1871), s3 AS (SELECT '3:partial_subsume' AS scenario, f AS g, count(*) AS n, sum(cents) AS tc, 0.0 AS avg_r, 1 AS view_only FROM li WHERE cents > 100000 AND s = 'F' GROUP BY f), s4 AS (SELECT '4:null_avg_refusal' AS scenario, f AS g, count(*) AS n, sum(cents) AS tc, round(avg(cents), 6) AS avg_r, 0 AS view_only FROM nli GROUP BY f) SELECT scenario, g, CAST(n AS BIGINT) AS n, CAST(tc AS BIGINT) AS tc, CAST(avg_r AS DOUBLE) AS avg_r, CAST(view_only AS BIGINT) AS view_only FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM s3 UNION ALL SELECT * FROM s4) z ORDER BY scenario, g"""),
      "A/S ext: the MV rewrite SERVED — validated grains + the optimizer rule applied to each scenario plan answer a four-scenario workload (AVG from partials under the null-free proof, the coalesced empty-match global COUNT, filter subsumption through a partial view, the null-AVG refusal), with the optimized plan's view-only verdict emitted and oracle-pinned as data"),

    // q434 — SCHEMA EVOLUTION ACROSS SNAPSHOTS: the q421–q424 arc held
    // the schema fixed; here it MOVES while the data files do not.
    // Field-ID resolution (the Iceberg convention): a column is its id,
    // a name is a label on the id, and every snapshot resolves reads
    // through its OWN schema against immutable files.
    //   v0 load    — schema [1:k, 2:v], the ≤80%-key orders slice;
    //   v1 ADD p   — schema [1:k, 2:v, 3:p]; the late slice appends
    //                WITH field 3; v0's files simply lack id 3, so the
    //                old rows surface p = NULL (p_nulls = |v0 rows|);
    //   v2 RENAME  — v → amount: METADATA ONLY. The same field-2 bytes
    //                answer under the new name (f2_sum unchanged);
    //   v3 DROP p  — field 3 leaves the schema; files keep the bytes,
    //                the projection stops resolving them.
    // Two CDC differs replay the version chain:
    //   id_changed — rows whose content over the COMMON FIELD IDS of
    //                (prev, cur) differs (anti-joins both ways): the
    //                append's rows at v1, then ZERO for both metadata
    //                commits — schema changes are not data churn;
    //   name_churn — the naive differ that keys a row by its full
    //                name=value tuple: every metadata commit re-emits
    //                delete-everything + insert-everything (2·|table|),
    //                the false-churn failure that makes name-based CDC
    //                unusable under evolution.
    // Scale: stats and diffs are one pass over the checkpointed keyed
    // frame per version pair; the schema commits themselves cost zero
    // data I/O — exactly what the id convention buys at 100 TB.
    QuerySpec(
      "q434_schema_evolution",
      (s, d) => {
        val base0 = t(s, d, "orders").select(col("o_orderkey").as("k"),
          expr("CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)").as("fid2"),
          expr("o_orderkey % 5").as("p0"))
        val mx = base0.agg(expr("(max(k) + 1) * 4 div 5").as("kcut"))
        // physical storage: v0-era files carry no field 3 (NULL), the
        // v1 append carries p = k % 5; fv tags the writing snapshot
        val phys = base0.crossJoin(broadcast(mx))
          .select(col("k").as("fid1"), col("fid2"),
            when(col("k") > col("kcut"), col("p0")).otherwise(lit(null).cast("long"))
              .as("fid3"),
            when(col("k") > col("kcut"), 1L).otherwise(0L).as("fv"))
          .localCheckpoint(false)
        val schemas: Map[Int, Seq[(Int, String)]] = Map(
          0 -> Seq(1 -> "k", 2 -> "v"),
          1 -> Seq(1 -> "k", 2 -> "v", 3 -> "p"),
          2 -> Seq(1 -> "k", 2 -> "amount", 3 -> "p"),
          3 -> Seq(1 -> "k", 2 -> "amount"))
        val dataCut = Map(0 -> 0L, 1 -> 1L, 2 -> 1L, 3 -> 1L)
        def asOf(ver: Int): DataFrame =
          phys.where(col("fv") <= dataCut(ver))
            .select(schemas(ver).map { case (id, nm) => col(s"fid$id").as(nm) }: _*)
        // one row per (version, side): the full name=value tuple keyed
        // by NAME (the naive differ's world) and by ID (the sound one)
        def nameTuple(ver: Int): DataFrame =
          asOf(ver).select(concat_ws("|", schemas(ver).map { case (_, nm) =>
            concat(lit(s"$nm="), coalesce(col(nm).cast("string"), lit("null")))
          }: _*).as("tup"))
        def idTuple(ver: Int, ids: Seq[Int]): DataFrame =
          phys.where(col("fv") <= dataCut(ver))
            .select(concat_ws("|", ids.sorted.map { id =>
              concat(lit(s"$id="), coalesce(col(s"fid$id").cast("string"), lit("null")))
            }: _*).as("tup"))
        def diffCount(a: DataFrame, b: DataFrame): DataFrame =
          a.join(b, Seq("tup"), "left_anti").agg(count(lit(1)).as("d1"))
            .crossJoin(b.join(a, Seq("tup"), "left_anti")
              .agg(count(lit(1)).as("d2")))
            .select((col("d1") + col("d2")).as("n_diff"))
        def verRow(ver: Int): DataFrame = {
          val df = asOf(ver)
          val f2 = schemas(ver).find(_._1 == 2).get._2
          val hasP = schemas(ver).exists(_._1 == 3)
          val stats = df.agg(
            count(lit(1)).as("rows"), sum(col(f2)).as("f2_sum"),
            (if (hasP) sum(when(col("p").isNull, 1L).otherwise(0L))
             else lit(-1L)).as("p_nulls"),
            (if (hasP) coalesce(sum("p"), lit(0L)) else lit(-1L)).as("p_sum"))
          val idChanged =
            if (ver == 0) asOf(0).agg(count(lit(1)).as("n_diff"))
            else {
              val common = schemas(ver - 1).map(_._1)
                .intersect(schemas(ver).map(_._1))
              diffCount(idTuple(ver - 1, common), idTuple(ver, common))
            }
          val nameChurn =
            if (ver == 0) asOf(0).agg(count(lit(1)).as("n_diff"))
            else diffCount(nameTuple(ver - 1), nameTuple(ver))
          stats
            .crossJoin(broadcast(idChanged.select(col("n_diff").as("id_changed"))))
            .crossJoin(broadcast(nameChurn.select(col("n_diff").as("name_churn"))))
            .select(lit(ver.toLong).as("ver"),
              lit(schemas(ver).map(_._2).mkString(",")).as("cols"),
              col("rows"), lit(f2).as("f2_name"), col("f2_sum"),
              col("p_nulls"), col("p_sum"), col("id_changed"), col("name_churn"))
        }
        (0 to 3).map(verRow).reduce(_ unionByName _).orderBy("ver")
      },
      Some {
        def nmTup(ver: Int): String = ver match {
          case 0 => "concat('k=', coalesce(CAST(fid1 AS VARCHAR), 'null'), '|', 'v=', coalesce(CAST(fid2 AS VARCHAR), 'null'))"
          case 1 => "concat('k=', coalesce(CAST(fid1 AS VARCHAR), 'null'), '|', 'v=', coalesce(CAST(fid2 AS VARCHAR), 'null'), '|', 'p=', coalesce(CAST(fid3 AS VARCHAR), 'null'))"
          case 2 => "concat('k=', coalesce(CAST(fid1 AS VARCHAR), 'null'), '|', 'amount=', coalesce(CAST(fid2 AS VARCHAR), 'null'), '|', 'p=', coalesce(CAST(fid3 AS VARCHAR), 'null'))"
          case _ => "concat('k=', coalesce(CAST(fid1 AS VARCHAR), 'null'), '|', 'amount=', coalesce(CAST(fid2 AS VARCHAR), 'null'))"
        }
        def cut(ver: Int): Int = if (ver == 0) 0 else 1
        def idTup(ids: Seq[Int]): String = ids.sorted.map(i =>
          s"'$i=' || coalesce(CAST(fid$i AS VARCHAR), 'null')").mkString(" || '|' || ")
        def diff(aSel: String, bSel: String): String =
          s"(SELECT (SELECT count(*) FROM ($aSel) a WHERE NOT EXISTS (SELECT 1 FROM ($bSel) b WHERE b.tup = a.tup)) + (SELECT count(*) FROM ($bSel) b WHERE NOT EXISTS (SELECT 1 FROM ($aSel) a WHERE a.tup = b.tup)))"
        def idSel(ver: Int, ids: Seq[Int]): String =
          s"SELECT ${idTup(ids)} AS tup FROM phys WHERE fv <= ${cut(ver)}"
        def nmSel(ver: Int): String =
          s"SELECT ${nmTup(ver)} AS tup FROM phys WHERE fv <= ${cut(ver)}"
        def verSql(ver: Int, colsL: String, f2: String, hasP: Boolean,
            commonIds: Seq[Int]): String = {
          val pn = if (hasP) "sum(CASE WHEN fid3 IS NULL THEN 1 ELSE 0 END)" else "-1"
          val ps = if (hasP) "coalesce(sum(fid3), 0)" else "-1"
          val idc =
            if (ver == 0) s"(SELECT count(*) FROM phys WHERE fv <= 0)"
            else diff(idSel(ver - 1, commonIds), idSel(ver, commonIds))
          val nc =
            if (ver == 0) s"(SELECT count(*) FROM phys WHERE fv <= 0)"
            else diff(nmSel(ver - 1), nmSel(ver))
          s"SELECT $ver AS ver, '$colsL' AS cols, count(*) AS rows, '$f2' AS f2_name, sum(fid2) AS f2_sum, $pn AS p_nulls, $ps AS p_sum, $idc AS id_changed, $nc AS name_churn FROM phys WHERE fv <= ${cut(ver)}"
        }
        val v0 = verSql(0, "k,v", "v", hasP = false, Nil)
        val v1 = verSql(1, "k,v,p", "v", hasP = true, Seq(1, 2))
        val v2 = verSql(2, "k,amount,p", "amount", hasP = true, Seq(1, 2, 3))
        val v3 = verSql(3, "k,amount", "amount", hasP = false, Seq(1, 2))
        s"""WITH base0 AS (SELECT o_orderkey AS k, CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS fid2, o_orderkey % 5 AS p0 FROM orders), mx AS (SELECT (max(k) + 1) * 4 // 5 AS kcut FROM base0), phys AS (SELECT k AS fid1, fid2, CASE WHEN k > kcut THEN p0 END AS fid3, CASE WHEN k > kcut THEN 1 ELSE 0 END AS fv FROM base0 CROSS JOIN mx) SELECT CAST(ver AS BIGINT) AS ver, cols, CAST(rows AS BIGINT) AS rows, f2_name, CAST(f2_sum AS BIGINT) AS f2_sum, CAST(p_nulls AS BIGINT) AS p_nulls, CAST(p_sum AS BIGINT) AS p_sum, CAST(id_changed AS BIGINT) AS id_changed, CAST(name_churn AS BIGINT) AS name_churn FROM ($v0 UNION ALL $v1 UNION ALL $v2 UNION ALL $v3) z ORDER BY ver"""
      },
      "A/S ext: schema evolution across snapshots — add/rename/drop column with field-ID time travel over immutable files (rename and drop certified value-neutral, the add surfaces NULLs for pre-schema files), and the CDC duel: the field-id differ emits only the append's real churn while the name-keyed differ re-emits the whole table on every metadata commit"))
}
