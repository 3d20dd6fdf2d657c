package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.functions._

import graft.QuerySpec
import graft.ops.HashOps.{md5Bucket, md5BucketSql}

/** Round-13 second widening — the MV arc's MAINTENANCE half and the
  * snapshot arc's remaining physical-metadata dimensions:
  *
  *  - q435 maintains a grain view INCREMENTALLY through an insert and a
  *    delete commit: COUNT/SUM self-maintain under both (certified
  *    equal to the rebuild), while MIN/MAX self-maintain only under
  *    insert — the delete commit shows the classic non-self-
  *    maintainability result AS DATA: the naive carry-forward diverges
  *    from the rebuild in exactly (a subset of) the groups whose
  *    deleted rows touched the old extreme, and the containment law is
  *    certified group by group;
  *  - q436 evolves the PARTITION SPEC mid-table (month-range files,
  *    then hash-bucket files): a partition-pruning read must prune
  *    each file through its OWN spec — the month predicate prunes the
  *    old files to one month and the new files not at all, the key
  *    point probe prunes the new files to one bucket and the old files
  *    not at all — with every pruned read certified against the direct
  *    scan and the mixed-spec bill priced next to single-spec layouts;
  *  - q437 promotes the physical TYPE (int32 history read as bigint),
  *    certified lossless, with the narrowing wrap priced exactly;
  *  - q438 enforces UNIQUE/CHECK at commit time from the DELTA alone
  *    (plus keyed state probes), certified equal to full revalidation;
  *  - q439 keys a result cache by (query, version, read-partition set)
  *    and certifies partition-grain invalidation — including the
  *    read-set unsoundness counterexample for predicate-free queries.
  *
  * Scale: q435's incremental path touches |Δ| + |grain| rows per
  * commit (the rebuilds are the graders); q436/q439's pruning and
  * invalidation decisions are metadata arithmetic over file-count
  * manifests; q438 validates |Δ| rows + |Δ| probes per commit. Only
  * the graders read the corpus.
  */
object R66Queries {

  val specs: Seq[QuerySpec] = Seq(

    // q435 — INCREMENTAL VIEW MAINTENANCE vs REBUILD: the q417–q420 /
    // q433 arc registers and serves grain views; this maintains one.
    // State 0 loads the ≤80%-key orders slice; commit 1 INSERTS the
    // late slice; commit 2 DELETES a 10% Knuth-hash band. The view is
    // the (year, month) grain carrying COUNT/SUM/MIN/MAX.
    //   - insert: all four aggregates fold the delta in (v ⊕ Δgrain,
    //     one |grain|-sized merge) — certified equal to the rebuild;
    //   - delete: COUNT/SUM subtract the delta grain (groups reaching
    //     cnt=0 drop) — certified equal; MIN/MAX carry forward (the
    //     naive incremental) and DIVERGE from the rebuild in exactly
    //     the groups where the delete removed the last row achieving
    //     the old extreme. mm_del_hit counts the groups whose deleted
    //     rows TOUCHED the old extreme (computable from the delta
    //     alone); mm_diverged counts the measured divergence (needs
    //     the rebuild); div_in_hit certifies diverged ⊆ hit — the gap
    //     between them is the tie-saved set, which is WHY delta-only
    //     maintenance of MIN/MAX under deletes is impossible and a
    //     real maintainer escalates those groups to a rebuild.
    // Scale: each incremental commit is delta-grain + one grain-sized
    // merge; the per-state rebuilds are the graders (q385 convention).
    QuerySpec(
      "q435_mv_incremental",
      (s, d) => {
        val keyed0 = t(s, d, "orders").select(col("o_orderkey").as("k"),
          year(col("o_orderdate")).cast("long").as("y"),
          month(col("o_orderdate")).cast("long").as("m"),
          expr("CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)").as("v"),
          expr("(o_custkey % 2147483648) * 2654435761 % 4294967296").as("h"))
        val mxk = keyed0.agg(expr("(max(k) + 1) * 4 div 5").as("kcut"))
        val delT = 429496729L // 10% of the 2^32 hash space
        // every grain the query reads, from ONE aggregate pass: each row
        // lands in its commit slice (0: load, 1: insert), in the delete
        // band (2) or the state after the delete (4), and in the full
        // rebuild (3)
        val grains = keyed0.crossJoin(broadcast(mxk)).select(col("y"), col("m"), col("v"), explode(array(
            when(col("k") <= col("kcut"), 0L).otherwise(1L),
            when(col("h") < delT, 2L).otherwise(4L), lit(3L))).as("g"))
          .groupBy("g", "y", "m").agg(count(lit(1)).as("cnt"), sum("v").as("sv"),
            min("v").as("mn"), max("v").as("mx"))
          .localCheckpoint(false)
        def grain(g: Long): DataFrame = grains.where(col("g") === g).drop("g")
        val v0 = grain(0)
        // commit 1: INSERT — v1 = v0 ⊕ Δgrain(b1), all four self-maintain
        val v1 = v0.unionByName(grain(1))
          .groupBy("y", "m").agg(sum("cnt").as("cnt"), sum("sv").as("sv"),
            min("mn").as("mn"), max("mx").as("mx"))
          .localCheckpoint(false)
        // commit 2: DELETE the hash band — COUNT/SUM subtract, MIN/MAX
        // carry forward naively (divergence is the finding)
        val d2 = grain(2).select(col("y"), col("m"), col("cnt").as("dcnt"),
          col("sv").as("dsv"), col("mn").as("dmn"), col("mx").as("dmx"))
        val v2n = v1.join(d2, Seq("y", "m"), "left")
          .select(col("y"), col("m"),
            (col("cnt") - coalesce(col("dcnt"), lit(0L))).as("cnt"),
            (col("sv") - coalesce(col("dsv"), lit(0L))).as("sv"),
            col("mn"), col("mx"), col("dmn"), col("dmx"))
          .where(col("cnt") > 0L)
          .localCheckpoint(false)
        val reb1 = grain(3)
        val reb2 = grain(4)
        // certificates: ONE full-outer join per state emits both the
        // COUNT/SUM and the MIN/MAX verdicts (was two joins per state)
        def eqBoth(a: DataFrame, b: DataFrame): DataFrame = {
          val cols = Seq("cnt", "sv", "mn", "mx")
          val an = a.select(col("y") +: col("m") +: cols.map(c => col(c).as(s"a_$c")): _*)
          val bn = b.select(col("y") +: col("m") +: cols.map(c => col(c).as(s"b_$c")): _*)
          def bad(cs: Seq[String]) = cs.map(c =>
            s"a_$c IS NULL OR b_$c IS NULL OR a_$c <> b_$c").mkString(" OR ")
          an.join(bn, Seq("y", "m"), "full_outer")
            .agg(
              coalesce(sum(when(expr(bad(Seq("cnt", "sv"))), 1L).otherwise(0L)),
                lit(0L)).as("sc_bad"),
              coalesce(sum(when(expr(bad(Seq("mn", "mx"))), 1L).otherwise(0L)),
                lit(0L)).as("mm_bad"))
            .select(
              expr("CAST(CASE WHEN sc_bad = 0 THEN 1 ELSE 0 END AS BIGINT)").as("sc_eq"),
              expr("CAST(CASE WHEN mm_bad = 0 THEN 1 ELSE 0 END AS BIGINT)").as("mm_eq"))
        }
        val mm = v2n.join(reb2.select(col("y"), col("m"),
            col("mn").as("rmn"), col("mx").as("rmx")), Seq("y", "m"), "full_outer")
          .agg(
            coalesce(sum(when(expr(
              "mn IS NULL OR rmn IS NULL OR mn <> rmn OR mx <> rmx"), 1L)
              .otherwise(0L)), lit(0L)).as("mm_diverged"),
            coalesce(sum(when(expr("dmn = mn OR dmx = mx"), 1L)
              .otherwise(0L)), lit(0L)).as("mm_del_hit"),
            coalesce(sum(when(expr(
              "(mn IS NULL OR rmn IS NULL OR mn <> rmn OR mx <> rmx) AND NOT coalesce(dmn = mn OR dmx = mx, false)"),
              1L).otherwise(0L)), lit(0L)).as("div_not_hit"))
          .select(col("mm_diverged"), col("mm_del_hit"),
            expr("CAST(CASE WHEN div_not_hit = 0 THEN 1 ELSE 0 END AS BIGINT)")
              .as("div_in_hit"))
          .localCheckpoint(false)
        def stateRow(id: String, view: DataFrame, eqs: DataFrame,
            mmStats: DataFrame): DataFrame =
          view.agg(count(lit(1)).as("groups"), sum("cnt").as("rows_total"),
              sum("sv").as("sv_total"))
            .crossJoin(broadcast(eqs))
            .crossJoin(broadcast(mmStats))
            .select(lit(id).as("commit"), col("groups"), col("rows_total"),
              col("sv_total"), col("sc_eq").as("sc_equal"),
              col("mm_eq").as("mm_equal"),
              col("mm_diverged"), col("mm_del_hit"), col("div_in_hit"))
        // the load state IS its own rebuild — certify by construction
        val trivialEq = v0.limit(0)
          .agg(lit(1L).as("sc_eq"), lit(1L).as("mm_eq"))
        val noEsc = mm.select(lit(0L).as("mm_diverged"), lit(0L).as("mm_del_hit"),
          lit(1L).as("div_in_hit"))
        val one = stateRow("0:load", v0, trivialEq, noEsc)
        val two = stateRow("1:insert", v1, eqBoth(v1, reb1), noEsc)
        val three = stateRow("2:delete", v2n, eqBoth(v2n, reb2), mm)
        one.unionByName(two).unionByName(three).orderBy("commit")
      },
      Some {
        val grainCols = "count(*) AS cnt, sum(v) AS sv, min(v) AS mn, max(v) AS mx"
        def eqSql(aSel: String, bSel: String, cols: Seq[String]): String = {
          val bad = cols.map(c => s"a.$c IS NULL OR b.$c IS NULL OR a.$c <> b.$c")
            .mkString(" OR ")
          s"(SELECT CASE WHEN coalesce(sum(CASE WHEN $bad THEN 1 ELSE 0 END), 0) = 0 THEN 1 ELSE 0 END FROM ($aSel) a FULL JOIN ($bSel) b ON a.y = b.y AND a.m = b.m)"
        }
        s"""WITH keyed0 AS (SELECT o_orderkey AS k, CAST(year(o_orderdate) AS BIGINT) AS y, CAST(month(o_orderdate) AS BIGINT) AS m, CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS v, (o_custkey % 2147483648) * 2654435761 % 4294967296 AS h FROM orders), mxk AS (SELECT (max(k) + 1) * 4 // 5 AS kcut FROM keyed0), kk AS (SELECT * FROM keyed0 CROSS JOIN mxk), v0 AS (SELECT y, m, $grainCols FROM kk WHERE k <= kcut GROUP BY 1, 2), db1 AS (SELECT y, m, $grainCols FROM kk WHERE k > kcut GROUP BY 1, 2), v1 AS (SELECT y, m, sum(cnt) AS cnt, sum(sv) AS sv, min(mn) AS mn, max(mx) AS mx FROM (SELECT * FROM v0 UNION ALL SELECT * FROM db1) u GROUP BY 1, 2), reb1 AS (SELECT y, m, $grainCols FROM kk GROUP BY 1, 2), d2 AS (SELECT y, m, count(*) AS dcnt, sum(v) AS dsv, min(v) AS dmn, max(v) AS dmx FROM kk WHERE h < 429496729 GROUP BY 1, 2), v2n AS (SELECT v1.y, v1.m, v1.cnt - coalesce(d2.dcnt, 0) AS cnt, v1.sv - coalesce(d2.dsv, 0) AS sv, v1.mn, v1.mx, d2.dmn, d2.dmx FROM v1 LEFT JOIN d2 ON d2.y = v1.y AND d2.m = v1.m WHERE v1.cnt - coalesce(d2.dcnt, 0) > 0), reb2 AS (SELECT y, m, $grainCols FROM kk WHERE h >= 429496729 GROUP BY 1, 2), mm AS (SELECT coalesce(sum(CASE WHEN a.mn IS NULL OR b.mn IS NULL OR a.mn <> b.mn OR a.mx <> b.mx THEN 1 ELSE 0 END), 0) AS mm_diverged, coalesce(sum(CASE WHEN a.dmn = a.mn OR a.dmx = a.mx THEN 1 ELSE 0 END), 0) AS mm_del_hit, coalesce(sum(CASE WHEN (a.mn IS NULL OR b.mn IS NULL OR a.mn <> b.mn OR a.mx <> b.mx) AND NOT coalesce(a.dmn = a.mn OR a.dmx = a.mx, false) THEN 1 ELSE 0 END), 0) AS div_not_hit FROM v2n a FULL JOIN reb2 b ON a.y = b.y AND a.m = b.m), legs AS (SELECT '0:load' AS commit, (SELECT count(*) FROM v0) AS groups, (SELECT sum(cnt) FROM v0) AS rows_total, (SELECT sum(sv) FROM v0) AS sv_total, 1 AS sc_equal, 1 AS mm_equal, 0 AS mm_diverged, 0 AS mm_del_hit, 1 AS div_in_hit UNION ALL SELECT '1:insert', (SELECT count(*) FROM v1), (SELECT sum(cnt) FROM v1), (SELECT sum(sv) FROM v1), ${eqSql("SELECT * FROM v1", "SELECT * FROM reb1", Seq("cnt", "sv"))}, ${eqSql("SELECT * FROM v1", "SELECT * FROM reb1", Seq("mn", "mx"))}, 0, 0, 1 UNION ALL SELECT '2:delete', (SELECT count(*) FROM v2n), (SELECT sum(cnt) FROM v2n), (SELECT sum(sv) FROM v2n), ${eqSql("SELECT * FROM v2n", "SELECT * FROM reb2", Seq("cnt", "sv"))}, ${eqSql("SELECT * FROM v2n", "SELECT * FROM reb2", Seq("mn", "mx"))}, (SELECT mm_diverged FROM mm), (SELECT mm_del_hit FROM mm), (SELECT CASE WHEN div_not_hit = 0 THEN 1 ELSE 0 END FROM mm)) SELECT commit, CAST(groups AS BIGINT) AS groups, CAST(rows_total AS BIGINT) AS rows_total, CAST(sv_total AS BIGINT) AS sv_total, CAST(sc_equal AS BIGINT) AS sc_equal, CAST(mm_equal AS BIGINT) AS mm_equal, CAST(mm_diverged AS BIGINT) AS mm_diverged, CAST(mm_del_hit AS BIGINT) AS mm_del_hit, CAST(div_in_hit AS BIGINT) AS div_in_hit FROM legs ORDER BY commit"""
      },
      "A/S ext: incremental view maintenance vs rebuild — COUNT/SUM fold both an insert and a delete commit exactly (certified equal to the rebuild), MIN/MAX self-maintain only under insert, and the delete commit certifies the classic non-self-maintainability result as data: the naive carry-forward diverges in a certified SUBSET of the groups whose deleted rows touched the old extreme"),

    // q436 — PARTITION SPEC EVOLUTION: q434 evolved the columns; this
    // evolves the LAYOUT. The early slice was written under spec A
    // (partition by order month — the classic time-series layout), the
    // late slice under spec B (16 md5 key buckets — the point-lookup
    // layout); old files are never rewritten (the Iceberg rule), so the
    // table is permanently mixed-spec and every reader must prune each
    // file through the spec THAT FILE was written under:
    //   - the month probe prunes A to one file and B not at all (a
    //     hash bucket says nothing about months);
    //   - the key point probe prunes B to one bucket and A not at all;
    //   - the combined probe (key AND its month) prunes both sides.
    // Soundness per probe: rows read from ONLY the pruned files must
    // equal the direct full-scan answer (missed = 0) — the property
    // that makes pruning an optimization. The bill prices the mixed
    // manifest next to the two single-spec counterfactuals, showing
    // exactly what the unrewritten history costs each probe class.
    // Scale: pruning is arithmetic over a file-count manifest; only
    // the graders (direct scans) touch the corpus.
    QuerySpec(
      "q436_partition_spec_evolution",
      (s, d) => {
        val keyed0 = t(s, d, "orders").select(col("o_orderkey").as("k"),
          (year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
            .cast("long").as("ym"),
          expr("CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)").as("v"))
        val mxk = keyed0.agg(expr("(max(k) + 1) * 4 div 5").as("kcut"))
        // per-row file assignment under the spec its slice was written
        // with: A = month partition, B = 1000 + md5 key bucket
        val rows = keyed0.crossJoin(broadcast(mxk))
          .select(col("k"), col("ym"), col("v"),
            when(col("k") <= col("kcut"), col("ym"))
              .otherwise(lit(1000L) + md5Bucket(col("k").cast("string"), 16))
              .as("part"),
            when(col("k") <= col("kcut"), "A").otherwise("B").as("spec"))
          .localCheckpoint(false)
        // the file census; each file also carries its max key (with that
        // row's month) and its month set, so ONE aggregate over the
        // manifest yields the census, both deterministic probes (the
        // most-populated A month; the max key, a B row, with its month)
        // and the single-spec month-manifest counterfactual
        val manifest = rows.groupBy("spec", "part")
          .agg(count(lit(1)).as("c"), max("k").as("mk"),
            max_by(col("ym"), col("k")).as("mk_ym"), collect_set("ym").as("yms"))
          .localCheckpoint(false)
        val census = manifest.agg(count(lit(1)).as("files_total"),
            max_by(col("part"), when(col("spec") === "A",
              struct(col("c"), (-col("part")).as("np")))).as("probe_ym"),
            max("mk").as("probe_k"), max_by(col("mk_ym"), col("mk")).as("probe_k_ym"),
            size(array_distinct(flatten(collect_list("yms")))).cast("long").as("n"))
          .localCheckpoint(false)
        // per probe: which files it prunes to, through each file's own
        // spec, and which rows the direct scan answers
        val keyBucket = lit(1000L) + md5Bucket(col("probe_k").cast("string"), 16)
        val keyHit = col("k") === col("probe_k")
        val probes = Seq(
          // month: A prunes to the month file, B reads fully
          ("1:month", expr("(spec = 'A' AND part = probe_ym) OR spec = 'B'"),
            col("ym") === col("probe_ym"), lit(1L), col("n")),
          // key point: B prunes to the bucket, A reads fully
          ("2:key_point", col("spec") === "A" ||
            (col("spec") === "B" && col("part") === keyBucket),
            keyHit, col("n"), lit(1L)),
          // key AND its month: both specs prune
          ("3:key_and_month", (col("spec") === "A" && col("part") === col("probe_k_ym")) ||
            (col("spec") === "B" && col("part") === keyBucket),
            keyHit && col("ym") === col("probe_k_ym"), lit(1L), lit(1L)))
        def n(c: Column): Column = sum(when(c, 1L).otherwise(0L))
        // ONE pass over the rows counts, per probe, the direct answer and
        // the answer read from ONLY the pruned files (a row's spec and part
        // name its file); ONE pass over the manifest counts the files read
        val ctx = census.select("probe_ym", "probe_k", "probe_k_ym")
        val readCols = probes.zipWithIndex.flatMap { case ((_, prune, hit, _, _), i) =>
          Seq(n(hit).as(s"d$i"), n(hit && prune).as(s"p$i")) }
        val fileCols = probes.zipWithIndex.map { case ((_, prune, _, _, _), i) =>
          n(prune).as(s"f$i") }
        val reads = rows.crossJoin(broadcast(ctx)).agg(readCols.head, readCols.tail: _*)
        val files = manifest.crossJoin(broadcast(ctx)).agg(fileCols.head, fileCols.tail: _*)
        broadcast(reads).crossJoin(broadcast(files))
          .crossJoin(broadcast(census.select("files_total", "n")))
          .select(explode(array(probes.zipWithIndex.map { case ((id, _, _, bm, bh), i) =>
            struct(lit(id).as("probe"), col(s"d$i").as("direct_rows"),
              col(s"p$i").as("pruned_rows"), (col(s"d$i") - col(s"p$i")).as("missed"),
              col(s"f$i").as("files_read"), col("files_total"),
              bm.as("bill_monthspec"), bh.as("bill_hashspec"))
          }: _*)).as("r"))
          .select("r.*").orderBy("probe")
      },
      Some {
        val bsql = md5BucketSql("CAST(probe_k AS VARCHAR)", 16)
        s"""WITH keyed0 AS (SELECT o_orderkey AS k, CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT) AS ym, CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS v FROM orders), mxk AS (SELECT (max(k) + 1) * 4 // 5 AS kcut FROM keyed0), rows0 AS (SELECT k, ym, v, CASE WHEN k <= kcut THEN ym ELSE 1000 + ${md5BucketSql("CAST(k AS VARCHAR)", 16)} END AS part, CASE WHEN k <= kcut THEN 'A' ELSE 'B' END AS spec FROM keyed0 CROSS JOIN mxk), manifest AS (SELECT spec, part, count(*) AS c FROM rows0 GROUP BY 1, 2), nf AS (SELECT count(*) AS files_total FROM manifest), pm AS (SELECT part AS probe_ym FROM manifest WHERE spec = 'A' ORDER BY c DESC, part LIMIT 1), pk AS (SELECT k AS probe_k, ym AS probe_k_ym FROM rows0 WHERE k = (SELECT max(k) FROM rows0)), am AS (SELECT count(*) AS n FROM (SELECT ym FROM keyed0 GROUP BY ym) z), l1 AS (SELECT '1:month' AS probe, (SELECT count(*) FROM rows0 CROSS JOIN pm WHERE ym = probe_ym) AS direct_rows, (SELECT count(*) FROM rows0 r CROSS JOIN pm WHERE ((r.spec = 'A' AND r.part = probe_ym) OR r.spec = 'B') AND r.ym = probe_ym) AS pruned_rows, (SELECT count(*) FROM manifest CROSS JOIN pm WHERE (spec = 'A' AND part = probe_ym) OR spec = 'B') AS files_read, (SELECT files_total FROM nf) AS files_total, 1 AS bill_monthspec, (SELECT n FROM am) AS bill_hashspec), l2 AS (SELECT '2:key_point', (SELECT count(*) FROM rows0 CROSS JOIN pk WHERE k = probe_k), (SELECT count(*) FROM rows0 r CROSS JOIN pk WHERE (r.spec = 'A' OR (r.spec = 'B' AND r.part = 1000 + $bsql)) AND r.k = probe_k), (SELECT count(*) FROM manifest CROSS JOIN pk WHERE spec = 'A' OR (spec = 'B' AND part = 1000 + $bsql)), (SELECT files_total FROM nf), (SELECT n FROM am), 1), l3 AS (SELECT '3:key_and_month', (SELECT count(*) FROM rows0 CROSS JOIN pk WHERE k = probe_k AND ym = probe_k_ym), (SELECT count(*) FROM rows0 r CROSS JOIN pk WHERE ((r.spec = 'A' AND r.part = probe_k_ym) OR (r.spec = 'B' AND r.part = 1000 + $bsql)) AND r.k = probe_k AND r.ym = probe_k_ym), (SELECT count(*) FROM manifest CROSS JOIN pk WHERE (spec = 'A' AND part = probe_k_ym) OR (spec = 'B' AND part = 1000 + $bsql)), (SELECT files_total FROM nf), 1, 1) SELECT probe, CAST(direct_rows AS BIGINT) AS direct_rows, CAST(pruned_rows AS BIGINT) AS pruned_rows, CAST(direct_rows - pruned_rows AS BIGINT) AS missed, CAST(files_read AS BIGINT) AS files_read, CAST(files_total AS BIGINT) AS files_total, CAST(bill_monthspec AS BIGINT) AS bill_monthspec, CAST(bill_hashspec AS BIGINT) AS bill_hashspec FROM (SELECT * FROM l1 UNION ALL SELECT * FROM l2 UNION ALL SELECT * FROM l3) z ORDER BY probe"""
      },
      "A/S ext: partition spec evolution — month-partitioned history plus hash-bucketed tail, never rewritten; each probe prunes every file through the spec that file was written under (month probe: one A file + all of B; point probe: one B bucket + all of A; combined: both prune), soundness certified per probe (missed = 0) and the mixed bill priced against both single-spec counterfactuals"),

    // q437 — TYPE PROMOTION ACROSS SNAPSHOTS: the third evolution
    // dimension (q434 columns, q436 layout, here the PHYSICAL TYPE).
    // v0 stores cents as INT32 (every value fits); v1 PROMOTES the
    // field to BIGINT because the late slice lands in micro-dollar
    // units (cents × 1000) — values that straddle the int32 boundary.
    //   - 0:v0_int32      — the old files as written; no value needs
    //                       more than 32 bits (lossless = 1 is a
    //                       measured fact, not an assumption);
    //   - 1:promoted_read — the v1 read upcasts old files int32→int64
    //                       (the lossless direction — certified: the
    //                       upcast old-file sum equals the v0 sum) and
    //                       reads new files natively;
    //   - 2:narrowed_read — the counterexample: a reader still bound
    //                       to int32 wraps every value above 2³¹−1
    //                       (two's-complement truncation, computed by
    //                       the same formula in both engines since
    //                       DuckDB refuses the overflowing CAST);
    //                       corrupt_rows counts exactly the straddling
    //                       values and the wrapped sum shows the silent
    //                       damage a schema registry must prevent.
    // Scale: one corpus pass per leg; the type decisions are pure
    // metadata. The promotion rule (widen-only, never narrow) is the
    // law the corrupt_rows column prices.
    QuerySpec(
      "q437_type_promotion",
      (s, d) => {
        val keyed0 = t(s, d, "orders").select(col("o_orderkey").as("k"),
          expr("CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)").as("c0"))
        val mxk = keyed0.agg(expr("(max(k) + 1) * 4 div 5").as("kcut"))
        // old files: cents (int32-safe); new files: micro-dollars
        // (cents × 1000 — many straddle the int32 boundary)
        val rows = keyed0.crossJoin(broadcast(mxk))
          .select(col("k"),
            when(col("k") <= col("kcut"), col("c0"))
              .otherwise(col("c0") * 1000L).as("v"),
            when(col("k") <= col("kcut"), 0L).otherwise(1L).as("fv"))
          .localCheckpoint(false)
        // two's-complement int32 wrap, portable to both engines
        val wrap = "((v % 4294967296) + 4294967296 + 2147483648) % 4294967296 - 2147483648"
        val a = rows.where(col("fv") === 0L)
          .agg(count(lit(1)).as("a_rows"), sum("v").as("a_sum"),
            sum(when(expr("v > 2147483647 OR v < -2147483648"), 1L)
              .otherwise(0L)).as("a_over"))
        val full = rows.agg(count(lit(1)).as("rows"), sum("v").as("sum_true"),
          sum(expr(wrap)).as("sum_wrapped"),
          sum(when(expr("v > 2147483647 OR v < -2147483648"), 1L)
            .otherwise(0L)).as("overflow_rows"))
        // the v1 upcast of old files, exercised through an ACTUAL Spark
        // cast chain (int32 decode → int64 read schema)
        val upcast = rows.where(col("fv") === 0L)
          .agg(sum(col("v").cast("int").cast("long")).as("up_sum"))
        broadcast(a).crossJoin(broadcast(full)).crossJoin(broadcast(upcast))
          .select(explode(array(
            struct(lit("0:v0_int32").as("ver"), lit("int32").as("vtype"),
              col("a_rows").as("rows"), col("a_sum").as("sum_v"),
              col("a_over").as("corrupt_rows"),
              expr("CAST(CASE WHEN a_over = 0 THEN 1 ELSE 0 END AS BIGINT)")
                .as("lossless")),
            struct(lit("1:promoted_read").as("ver"), lit("bigint").as("vtype"),
              col("rows"), col("sum_true").as("sum_v"),
              lit(0L).as("corrupt_rows"),
              expr("CAST(CASE WHEN up_sum = a_sum THEN 1 ELSE 0 END AS BIGINT)")
                .as("lossless")),
            struct(lit("2:narrowed_read").as("ver"), lit("int32").as("vtype"),
              col("rows"), col("sum_wrapped").as("sum_v"),
              col("overflow_rows").as("corrupt_rows"),
              expr("CAST(CASE WHEN overflow_rows = 0 THEN 1 ELSE 0 END AS BIGINT)")
                .as("lossless")))).as("z"))
          .select(col("z.ver").as("ver"), col("z.vtype").as("vtype"),
            col("z.rows").as("rows"), col("z.sum_v").as("sum_v"),
            col("z.corrupt_rows").as("corrupt_rows"), col("z.lossless").as("lossless"))
          .orderBy("ver")
      },
      Some {
        val wrap = "((v % 4294967296) + 4294967296 + 2147483648) % 4294967296 - 2147483648"
        s"""WITH keyed0 AS (SELECT o_orderkey AS k, CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS c0 FROM orders), mxk AS (SELECT (max(k) + 1) * 4 // 5 AS kcut FROM keyed0), rows0 AS (SELECT k, CASE WHEN k <= kcut THEN c0 ELSE c0 * 1000 END AS v, CASE WHEN k <= kcut THEN 0 ELSE 1 END AS fv FROM keyed0 CROSS JOIN mxk), a AS (SELECT count(*) AS a_rows, sum(v) AS a_sum, sum(CASE WHEN v > 2147483647 OR v < -2147483648 THEN 1 ELSE 0 END) AS a_over FROM rows0 WHERE fv = 0), f AS (SELECT count(*) AS rows, sum(v) AS sum_true, sum($wrap) AS sum_wrapped, sum(CASE WHEN v > 2147483647 OR v < -2147483648 THEN 1 ELSE 0 END) AS overflow_rows FROM rows0), up AS (SELECT sum(CAST(CAST(v AS INTEGER) AS BIGINT)) AS up_sum FROM rows0 WHERE fv = 0), legs AS (SELECT '0:v0_int32' AS ver, 'int32' AS vtype, a_rows AS rows, a_sum AS sum_v, a_over AS corrupt_rows, CASE WHEN a_over = 0 THEN 1 ELSE 0 END AS lossless FROM a UNION ALL SELECT '1:promoted_read', 'bigint', f.rows, f.sum_true, 0, CASE WHEN up.up_sum = a.a_sum THEN 1 ELSE 0 END FROM f CROSS JOIN up CROSS JOIN a UNION ALL SELECT '2:narrowed_read', 'int32', f.rows, f.sum_wrapped, f.overflow_rows, CASE WHEN f.overflow_rows = 0 THEN 1 ELSE 0 END FROM f) SELECT ver, vtype, CAST(rows AS BIGINT) AS rows, CAST(sum_v AS BIGINT) AS sum_v, CAST(corrupt_rows AS BIGINT) AS corrupt_rows, CAST(lossless AS BIGINT) AS lossless FROM legs ORDER BY ver"""
      },
      "A/S ext: type promotion across snapshots — int32 history promoted to bigint when the late slice outgrows 32 bits; the upcast read certified lossless against the pre-promotion sum, and the narrowing counterexample priced exactly (two's-complement wrap count + the silently damaged sum a widen-only promotion rule exists to prevent)"),

    // q438 — COMMIT-TIME CONSTRAINT VALIDATION, DELTA-ONLY: q412 mined
    // the RELY catalog from data; this is the ENFORCEMENT half — the
    // commit pipeline that keeps UNIQUE(k) and CHECK(v > 0) true by
    // validating each incoming delta against ITSELF (|Δ| self-grouping),
    // against the STATE (|Δ| keyed probes — never a state scan), and
    // row-local for CHECK. Three commits exercise every verdict:
    //   A: clean slice — admitted, state advances;
    //   B: carries an intra-delta duplicate AND a CHECK-violating row —
    //      refused by the |Δ|-sized self checks alone;
    //   C: carries a key already in the state — only the keyed probe
    //      can catch it, and does.
    // Every incremental verdict is certified against FULL revalidation
    // of the candidate state (incr_eq_full) — the law that makes
    // delta-only enforcement sound: state ⊎ admitted-deltas never needs
    // re-checking because induction carries the invariant. The bill
    // prices |Δ| + |Δ| probes against the full candidate scan — at
    // 100 TB the difference between validating a commit and re-reading
    // the table. Refused commits do NOT advance the state (C probes the
    // state AFTER A, not after B).
    QuerySpec(
      "q438_commit_constraints",
      (s, d) => {
        val keyed0 = t(s, d, "orders").select(col("o_orderkey").as("k"),
          expr("CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)").as("v"))
        val cuts = keyed0.agg(
          expr("(max(k) + 1) * 4 div 5").as("kcut"),
          expr("(max(k) + 1) * 4 div 5 + (max(k) - (max(k) + 1) * 4 div 5) div 3").as("c2"),
          expr("(max(k) + 1) * 4 div 5 + 2 * ((max(k) - (max(k) + 1) * 4 div 5) div 3)").as("c3"))
        val kk = keyed0.crossJoin(broadcast(cuts)).localCheckpoint(false)
        val state0 = kk.where(col("k") <= col("kcut")).select("k", "v")
        val d1 = kk.where(col("k") > col("kcut") && col("k") <= col("c2"))
          .select("k", "v")
        val d2raw = kk.where(col("k") > col("c2") && col("k") <= col("c3"))
          .select("k", "v")
        // B's poison: its own lowest row duplicated + a CHECK violator
        val d2 = d2raw
          .unionByName(d2raw.orderBy("k").limit(1))
          .unionByName(d2raw.agg((max("k") + 1000000L).as("k"), lit(-5L).as("v")))
        val d3raw = kk.where(col("k") > col("c3")).select("k", "v")
        // C's poison: a key the state already owns
        val d3 = d3raw.unionByName(
          state0.orderBy("k").limit(1).select(col("k"), lit(777L).as("v")))
        val state1 = state0.unionByName(d1).localCheckpoint(false) // A admits
        def leg(id: String, delta0: DataFrame, st: DataFrame): DataFrame = {
          val delta = delta0.localCheckpoint(false)
          val intra = delta.groupBy("k").agg(count(lit(1)).as("n"))
            .agg(coalesce(sum(when(col("n") > 1L, 1L).otherwise(0L)), lit(0L))
              .as("dup_keys"))
          val probe = delta.join(st.select("k"), "k")
            .agg(count(lit(1)).as("state_hits"))
          val chk = delta.agg(
            coalesce(sum(when(col("v") <= 0L, 1L).otherwise(0L)), lit(0L))
              .as("bad_check"), count(lit(1)).as("delta_rows"))
          val full = st.unionByName(delta)
          val fullUniq = full.groupBy("k").agg(count(lit(1)).as("n"))
            .agg(coalesce(sum(when(col("n") > 1L, 1L).otherwise(0L)), lit(0L))
              .as("f_dups"), count(lit(1)).as("f_keys"))
          val fullChk = full.agg(
            coalesce(sum(when(col("v") <= 0L, 1L).otherwise(0L)), lit(0L))
              .as("f_bad"), count(lit(1)).as("f_rows"))
          val stn = st.agg(count(lit(1)).as("state_rows"))
          broadcast(intra).crossJoin(broadcast(probe)).crossJoin(broadcast(chk))
            .crossJoin(broadcast(fullUniq)).crossJoin(broadcast(fullChk))
            .crossJoin(broadcast(stn))
            .select(lit(id).as("commit"), col("delta_rows"), col("state_rows"),
              expr("CAST(CASE WHEN dup_keys = 0 THEN 1 ELSE 0 END AS BIGINT)")
                .as("uniq_intra_ok"),
              expr("CAST(CASE WHEN state_hits = 0 THEN 1 ELSE 0 END AS BIGINT)")
                .as("uniq_state_ok"),
              expr("CAST(CASE WHEN bad_check = 0 THEN 1 ELSE 0 END AS BIGINT)")
                .as("check_ok"),
              expr("CAST(CASE WHEN dup_keys = 0 AND state_hits = 0 AND bad_check = 0 THEN 1 ELSE 0 END AS BIGINT)")
                .as("admit"),
              expr("CAST(CASE WHEN (CASE WHEN dup_keys = 0 AND state_hits = 0 AND bad_check = 0 THEN 1 ELSE 0 END) = (CASE WHEN f_dups = 0 AND f_bad = 0 THEN 1 ELSE 0 END) THEN 1 ELSE 0 END AS BIGINT)")
                .as("incr_eq_full"),
              expr("delta_rows * 2").as("rows_checked_incr"),
              expr("state_rows + delta_rows").as("rows_checked_full"))
        }
        leg("A:clean", d1, state0)
          .unionByName(leg("B:intra_poison", d2, state1))
          .unionByName(leg("C:state_collision", d3, state1))
          .orderBy("commit")
      },
      Some {
        def legSql(id: String, deltaCte: String, stCte: String): String =
          s"""SELECT '$id' AS commit, (SELECT count(*) FROM $deltaCte) AS delta_rows, (SELECT count(*) FROM $stCte) AS state_rows, (SELECT CASE WHEN count(*) = 0 THEN 1 ELSE 0 END FROM (SELECT k FROM $deltaCte GROUP BY k HAVING count(*) > 1) z) AS uniq_intra_ok, (SELECT CASE WHEN count(*) = 0 THEN 1 ELSE 0 END FROM $deltaCte dd JOIN $stCte ss ON ss.k = dd.k) AS uniq_state_ok, (SELECT CASE WHEN sum(CASE WHEN v <= 0 THEN 1 ELSE 0 END) = 0 THEN 1 ELSE 0 END FROM $deltaCte) AS check_ok, (SELECT CASE WHEN (SELECT count(*) FROM (SELECT k FROM $deltaCte GROUP BY k HAVING count(*) > 1) z) = 0 AND (SELECT count(*) FROM $deltaCte dd JOIN $stCte ss ON ss.k = dd.k) = 0 AND (SELECT sum(CASE WHEN v <= 0 THEN 1 ELSE 0 END) FROM $deltaCte) = 0 THEN 1 ELSE 0 END) AS admit, (SELECT CASE WHEN (CASE WHEN (SELECT count(*) FROM (SELECT k FROM $deltaCte GROUP BY k HAVING count(*) > 1) z) = 0 AND (SELECT count(*) FROM $deltaCte dd JOIN $stCte ss ON ss.k = dd.k) = 0 AND (SELECT sum(CASE WHEN v <= 0 THEN 1 ELSE 0 END) FROM $deltaCte) = 0 THEN 1 ELSE 0 END) = (CASE WHEN (SELECT count(*) FROM (SELECT k FROM (SELECT * FROM $stCte UNION ALL SELECT * FROM $deltaCte) u GROUP BY k HAVING count(*) > 1) z2) = 0 AND (SELECT sum(CASE WHEN v <= 0 THEN 1 ELSE 0 END) FROM (SELECT * FROM $stCte UNION ALL SELECT * FROM $deltaCte) u2) = 0 THEN 1 ELSE 0 END) THEN 1 ELSE 0 END) AS incr_eq_full, (SELECT count(*) * 2 FROM $deltaCte) AS rows_checked_incr, (SELECT count(*) FROM $stCte) + (SELECT count(*) FROM $deltaCte) AS rows_checked_full"""
        s"""WITH keyed0 AS (SELECT o_orderkey AS k, CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS v FROM orders), cuts AS (SELECT (max(k) + 1) * 4 // 5 AS kcut, (max(k) + 1) * 4 // 5 + (max(k) - (max(k) + 1) * 4 // 5) // 3 AS c2, (max(k) + 1) * 4 // 5 + 2 * ((max(k) - (max(k) + 1) * 4 // 5) // 3) AS c3 FROM keyed0), kk AS (SELECT * FROM keyed0 CROSS JOIN cuts), st0 AS (SELECT k, v FROM kk WHERE k <= kcut), d1 AS (SELECT k, v FROM kk WHERE k > kcut AND k <= c2), d2raw AS (SELECT k, v FROM kk WHERE k > c2 AND k <= c3), d2 AS (SELECT * FROM d2raw UNION ALL SELECT * FROM (SELECT k, v FROM d2raw ORDER BY k LIMIT 1) lo UNION ALL SELECT max(k) + 1000000, -5 FROM d2raw), d3raw AS (SELECT k, v FROM kk WHERE k > c3), d3 AS (SELECT * FROM d3raw UNION ALL SELECT k, 777 FROM (SELECT k FROM st0 ORDER BY k LIMIT 1) z), st1 AS (SELECT * FROM st0 UNION ALL SELECT * FROM d1), legs AS (${legSql("A:clean", "d1", "st0")} UNION ALL ${legSql("B:intra_poison", "d2", "st1")} UNION ALL ${legSql("C:state_collision", "d3", "st1")}) SELECT commit, CAST(delta_rows AS BIGINT) AS delta_rows, CAST(state_rows AS BIGINT) AS state_rows, CAST(uniq_intra_ok AS BIGINT) AS uniq_intra_ok, CAST(uniq_state_ok AS BIGINT) AS uniq_state_ok, CAST(check_ok AS BIGINT) AS check_ok, CAST(admit AS BIGINT) AS admit, CAST(incr_eq_full AS BIGINT) AS incr_eq_full, CAST(rows_checked_incr AS BIGINT) AS rows_checked_incr, CAST(rows_checked_full AS BIGINT) AS rows_checked_full FROM legs ORDER BY commit"""
      },
      "J/S ext: commit-time constraint enforcement, delta-only — UNIQUE validated by |delta| self-grouping plus |delta| keyed state probes (never a state scan), CHECK row-local; a clean commit admits, an intra-delta duplicate + CHECK violator refuses on the self checks, a state collision refuses on the probe, and every incremental verdict is certified equal to full candidate revalidation with the bill priced next to it"),

    // q439 — SNAPSHOT-VERSIONED RESULT CACHE with PARTITION-LEVEL
    // INVALIDATION: q420 patched a cached aggregate by predicate range;
    // this is the orthogonal axis — the cache entry is keyed by
    // (query, snapshot version, read-partition set) and a commit
    // invalidates it ONLY when the commit's touched partitions
    // intersect the entry's read set. Two cached queries (Q1: 1995
    // revenue — reads 12 month-partitions; Q2: global count — reads
    // all) replay through two commits:
    //   v1 appends 1998 rows — disjoint from Q1's read set, so Q1's
    //      v0 entry stays VALID (certified: the cached value still
    //      equals the direct recompute at v1) while Q2 invalidates;
    //   v2 appends new-key rows INTO 1995 — Q1 invalidates too, and
    //      the direct recompute measurably moves.
    // The read set needs care: Q2 carries NO partition predicate, and
    // its observed-partition read set (the months that existed at v0)
    // silently misses a commit that CREATES partitions — naive_valid
    // stays 1 at v1 while the global count moved, the classic read-set
    // unsoundness this query pins as its counterexample column. The
    // SOUND rule marks predicate-free queries reads_all: any non-empty
    // commit invalidates. audit_correct pins the sound verdict to the
    // measured (cached == direct) truth on every row; naive_correct
    // fails exactly on (Q2, v1).
    // Scale: one scan of orders and one aggregate to a summary bounded
    // by the calendar; invalidation and grading are arithmetic over that
    // summary in one task (resultCache).
    QuerySpec(
      "q439_result_cache",
      (s, d) => resultCache(t(s, d, "orders")),
      Some {
        def legSql(qid: String, ver: String, cacheCte: String, rpCte: String,
            readsAll: Boolean, deltaCte: String, stCte: String, q1: Boolean): String = {
          val dsel =
            if (q1) s"SELECT count(*) AS cnt, coalesce(sum(v), 0) AS sv FROM $stCte WHERE yr = 1995"
            else s"SELECT count(*) AS cnt, coalesce(sum(v), 0) AS sv FROM $stCte"
          val touched =
            if (deltaCte == "empty") "SELECT CAST(NULL AS BIGINT) AS ym WHERE 1 = 0"
            else s"SELECT DISTINCT ym FROM $deltaCte"
          val validSel =
            if (readsAll) s"(SELECT CASE WHEN count(*) = 0 THEN 1 ELSE 0 END FROM ($touched) tt)"
            else s"(SELECT CASE WHEN count(*) = 0 THEN 1 ELSE 0 END FROM $rpCte rp JOIN ($touched) tt ON tt.ym = rp.ym)"
          s"""SELECT '$qid' AS query, '$ver' AS ver, (SELECT count(*) FROM ($touched) tt) AS touched_parts, (SELECT count(*) FROM $rpCte rp JOIN ($touched) tt ON tt.ym = rp.ym) AS overlap_parts, ${if (readsAll) 1 else 0} AS reads_all, $validSel AS valid, (SELECT CASE WHEN count(*) = 0 THEN 1 ELSE 0 END FROM $rpCte rp JOIN ($touched) tt ON tt.ym = rp.ym) AS naive_valid, (SELECT cnt FROM $cacheCte) AS cached_cnt, (SELECT sv FROM $cacheCte) AS cached_sv, (SELECT cnt FROM ($dsel) dd) AS direct_cnt, (SELECT sv FROM ($dsel) dd) AS direct_sv"""
        }
        val legs = Seq(
          legSql("Q1:rev1995", "v0", "cache1", "q1p", readsAll = false, "empty", "v0", q1 = true),
          legSql("Q2:global", "v0", "cache2", "allp", readsAll = true, "empty", "v0", q1 = false),
          legSql("Q1:rev1995", "v1", "cache1", "q1p", readsAll = false, "d1", "v1", q1 = true),
          legSql("Q2:global", "v1", "cache2", "allp", readsAll = true, "d1", "v1", q1 = false),
          legSql("Q1:rev1995", "v2", "cache1", "q1p", readsAll = false, "d2", "v2", q1 = true),
          legSql("Q2:global", "v2", "cache2", "allp", readsAll = true, "d2", "v2", q1 = false))
          .mkString(" UNION ALL ")
        s"""WITH base0 AS (SELECT o_orderkey AS k, CAST(year(o_orderdate) AS BIGINT) AS yr, CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT) AS ym, CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS v FROM orders), v0 AS (SELECT * FROM base0 WHERE yr <= 1997), d1 AS (SELECT * FROM base0 WHERE yr = 1998), d2 AS (SELECT k + 1000000000 AS k, yr, ym, v FROM base0 WHERE yr = 1995), v1 AS (SELECT * FROM v0 UNION ALL SELECT * FROM d1), v2 AS (SELECT * FROM v1 UNION ALL SELECT * FROM d2), cache1 AS (SELECT count(*) AS cnt, coalesce(sum(v), 0) AS sv FROM v0 WHERE yr = 1995), cache2 AS (SELECT count(*) AS cnt, coalesce(sum(v), 0) AS sv FROM v0), q1p AS (SELECT DISTINCT ym FROM v0 WHERE yr = 1995), allp AS (SELECT DISTINCT ym FROM v0), legs AS ($legs) SELECT query, ver, CAST(touched_parts AS BIGINT) AS touched_parts, CAST(overlap_parts AS BIGINT) AS overlap_parts, CAST(reads_all AS BIGINT) AS reads_all, CAST(valid AS BIGINT) AS valid, CAST(naive_valid AS BIGINT) AS naive_valid, CAST(cached_cnt AS BIGINT) AS cached_cnt, CAST(cached_sv AS BIGINT) AS cached_sv, CAST(direct_cnt AS BIGINT) AS direct_cnt, CAST(direct_sv AS BIGINT) AS direct_sv, CAST(CASE WHEN valid = (CASE WHEN cached_cnt = direct_cnt AND cached_sv = direct_sv THEN 1 ELSE 0 END) THEN 1 ELSE 0 END AS BIGINT) AS audit_correct, CAST(CASE WHEN naive_valid = (CASE WHEN cached_cnt = direct_cnt AND cached_sv = direct_sv THEN 1 ELSE 0 END) THEN 1 ELSE 0 END AS BIGINT) AS naive_correct FROM legs ORDER BY query, ver"""
      },
      "A/S ext: snapshot-versioned result cache with partition-grain invalidation — a cached aggregate survives a commit touching disjoint partitions (certified: cached still equals the direct recompute) and invalidates exactly when the commit's partitions intersect its read set, with audit_correct pinning every metadata verdict to the measured cached-vs-direct truth"),

    // q440 — BITEMPORAL READS: q421 time-travels ONE axis (transaction
    // time); real warehouses carry two — what was true (VALID time)
    // versus what we KNEW (TRANSACTION time) — because history gets
    // corrected and facts arrive late. Three transaction commits:
    //   tx1 load      — every order recorded with its valid year;
    //   tx2 correction — a Knuth-hash band's prices RESTATED (+7%,
    //                    integer cents): same keys, same valid years,
    //                    higher tx — the new version supersedes;
    //   tx3 backfill  — late-arriving facts (fresh keys, shifted into
    //                    OLD valid years): the valid-time past grows
    //                    without rewriting what was already recorded.
    // The read "believed(T): the ≤1995 valid-time state as known at
    // tx ≤ T" replays at T = 1, 2, 3 — per-key latest-tx-wins (the
    // supersession window), then the valid-time filter. Certified per
    // row:
    //   - replay_stable: the belief at T computed from the FINAL table
    //     (filter tx ≤ T, then supersede) equals the same read computed
    //     from the tx-prefix table — the bitemporal law that an
    //     append-only tx axis makes every past belief reproducible
    //     forever, the property audits and training-data lineage
    //     depend on;
    //   - delta_explained: each belief CHANGE equals the commit's own
    //     effect on that valid slice (the correction's +7% band delta
    //     at T=2, the backfill's late mass at T=3) — no smearing.
    // Scale: supersession is one keyed window per read; beliefs are
    // aggregates; nothing rewrites history — the axes only append.
    QuerySpec(
      "q440_bitemporal",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val base0 = t(s, d, "orders").select(col("o_orderkey").as("k"),
          year(col("o_orderdate")).cast("long").as("vy"),
          expr("CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)").as("v"),
          expr("(o_custkey % 2147483648) * 2654435761 % 4294967296").as("h"))
        // tx1: everything as first recorded
        val tx1 = base0.select(col("k"), col("vy"), col("v"), lit(1L).as("tx"))
        // tx2: the 10%-band restated +7% (same k, same vy, higher tx)
        val tx2 = base0.where(col("h") < 429496729L)
          .select(col("k"), col("vy"),
            expr("v + v * 7 div 100").as("v"), lit(2L).as("tx"))
        // tx3: late facts — fresh keys backfilled 3 valid-years earlier
        val tx3 = base0.where(col("h") >= 3865470565L)
          .select((col("k") + 1000000000L).as("k"),
            (col("vy") - 3L).as("vy"), col("v"), lit(3L).as("tx"))
        val bt = tx1.unionByName(tx2).unionByName(tx3).localCheckpoint(false)
        val w = Window.partitionBy("k").orderBy(col("tx").desc)
        def believed(src: DataFrame, tmax: Long): DataFrame =
          src.where(col("tx") <= tmax)
            .withColumn("rn", row_number().over(w))
            .where(col("rn") === 1 && col("vy") <= 1995L)
            .agg(count(lit(1)).as("n"), coalesce(sum("v"), lit(0L)).as("sv"))
        def leg(tmax: Long, prefix: DataFrame, deltaExpected: DataFrame)
            : DataFrame = {
          val fin = believed(bt, tmax)
            .select(col("n").as("n"), col("sv").as("sv"))
          val pre = believed(prefix, tmax)
            .select(col("n").as("p_n"), col("sv").as("p_sv"))
          val prev =
            if (tmax == 1L) fin.select(col("n").as("b_n"), col("sv").as("b_sv"))
            else believed(bt, tmax - 1L)
              .select(col("n").as("b_n"), col("sv").as("b_sv"))
          broadcast(fin).crossJoin(broadcast(pre)).crossJoin(broadcast(prev))
            .crossJoin(broadcast(deltaExpected))
            .select(lit(tmax).as("t"), col("n"), col("sv"),
              expr("CAST(CASE WHEN n = p_n AND sv = p_sv THEN 1 ELSE 0 END AS BIGINT)")
                .as("replay_stable"),
              (col("sv") - col("b_sv")).as("belief_delta"),
              col("exp_delta"),
              expr("CAST(CASE WHEN sv - b_sv = exp_delta THEN 1 ELSE 0 END AS BIGINT)")
                .as("delta_explained"))
        }
        val zero = bt.limit(0).agg(coalesce(sum("v"), lit(0L)).as("exp_delta"))
        // tx2's own effect on the ≤1995 slice: +7% on the band's rows there
        val corrDelta = base0
          .where(col("h") < 429496729L && col("vy") <= 1995L)
          .agg(coalesce(sum(expr("v * 7 div 100")), lit(0L)).as("exp_delta"))
        // tx3's effect: the late rows landing at vy-3 ≤ 1995
        val backDelta = base0
          .where(col("h") >= 3865470565L && col("vy") - 3L <= 1995L)
          .agg(coalesce(sum("v"), lit(0L)).as("exp_delta"))
        leg(1L, tx1, zero)
          .unionByName(leg(2L, tx1.unionByName(tx2), corrDelta))
          .unionByName(leg(3L, bt, backDelta))
          .orderBy("t")
      },
      Some("""WITH base0 AS (SELECT o_orderkey AS k, CAST(year(o_orderdate) AS BIGINT) AS vy, CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS v, (o_custkey % 2147483648) * 2654435761 % 4294967296 AS h FROM orders), tx1 AS (SELECT k, vy, v, 1 AS tx FROM base0), tx2 AS (SELECT k, vy, v + v * 7 // 100 AS v, 2 AS tx FROM base0 WHERE h < 429496729), tx3 AS (SELECT k + 1000000000 AS k, vy - 3 AS vy, v, 3 AS tx FROM base0 WHERE h >= 3865470565), bt AS (SELECT * FROM tx1 UNION ALL SELECT * FROM tx2 UNION ALL SELECT * FROM tx3), b1 AS (SELECT count(*) AS n, coalesce(sum(v), 0) AS sv FROM (SELECT k, vy, v, row_number() OVER (PARTITION BY k ORDER BY tx DESC) AS rn FROM bt WHERE tx <= 1) z WHERE rn = 1 AND vy <= 1995), b2 AS (SELECT count(*) AS n, coalesce(sum(v), 0) AS sv FROM (SELECT k, vy, v, row_number() OVER (PARTITION BY k ORDER BY tx DESC) AS rn FROM bt WHERE tx <= 2) z WHERE rn = 1 AND vy <= 1995), b3 AS (SELECT count(*) AS n, coalesce(sum(v), 0) AS sv FROM (SELECT k, vy, v, row_number() OVER (PARTITION BY k ORDER BY tx DESC) AS rn FROM bt WHERE tx <= 3) z WHERE rn = 1 AND vy <= 1995), p1 AS (SELECT count(*) AS n, coalesce(sum(v), 0) AS sv FROM (SELECT k, vy, v, row_number() OVER (PARTITION BY k ORDER BY tx DESC) AS rn FROM tx1 WHERE tx <= 1) z WHERE rn = 1 AND vy <= 1995), p2 AS (SELECT count(*) AS n, coalesce(sum(v), 0) AS sv FROM (SELECT k, vy, v, row_number() OVER (PARTITION BY k ORDER BY tx DESC) AS rn FROM (SELECT * FROM tx1 UNION ALL SELECT * FROM tx2) u WHERE tx <= 2) z WHERE rn = 1 AND vy <= 1995), cd AS (SELECT coalesce(sum(v * 7 // 100), 0) AS exp_delta FROM base0 WHERE h < 429496729 AND vy <= 1995), bd AS (SELECT coalesce(sum(v), 0) AS exp_delta FROM base0 WHERE h >= 3865470565 AND vy - 3 <= 1995), legs AS (SELECT 1 AS t, b1.n, b1.sv, CASE WHEN b1.n = p1.n AND b1.sv = p1.sv THEN 1 ELSE 0 END AS replay_stable, 0 AS belief_delta, 0 AS exp_delta, 1 AS delta_explained FROM b1 CROSS JOIN p1 UNION ALL SELECT 2, b2.n, b2.sv, CASE WHEN b2.n = p2.n AND b2.sv = p2.sv THEN 1 ELSE 0 END, b2.sv - b1.sv, cd.exp_delta, CASE WHEN b2.sv - b1.sv = cd.exp_delta THEN 1 ELSE 0 END FROM b2 CROSS JOIN p2 CROSS JOIN b1 CROSS JOIN cd UNION ALL SELECT 3, b3.n, b3.sv, 1, b3.sv - b2.sv, bd.exp_delta, CASE WHEN b3.sv - b2.sv = bd.exp_delta THEN 1 ELSE 0 END FROM b3 CROSS JOIN b2 CROSS JOIN bd) SELECT CAST(t AS BIGINT) AS t, CAST(n AS BIGINT) AS n, CAST(sv AS BIGINT) AS sv, CAST(replay_stable AS BIGINT) AS replay_stable, CAST(belief_delta AS BIGINT) AS belief_delta, CAST(exp_delta AS BIGINT) AS exp_delta, CAST(delta_explained AS BIGINT) AS delta_explained FROM legs ORDER BY t"""),
      "A/S ext: bitemporal reads — valid time vs transaction time over an append-only fact table with a price correction and a late-arriving backfill; every past belief is replay-stable (the read at tx<=T from the final table equals the read from the tx-prefix — history is reproducible forever) and every belief change is explained exactly by its commit's own effect on the valid slice"),

    // q441 — SPEC-UNIFICATION COMPACTION: q436 leaves the table
    // permanently mixed-spec; this runs the REPLACE commit that ends
    // it — every month-partitioned A file rewritten into the hash-
    // bucket spec (new file ids 2000+bucket; the snapshot arc's
    // compaction, applied to LAYOUT). Certified three ways:
    //   - content-neutral: rows / value sum / modular key checksum
    //     identical before and after (the REPLACE law, q421/q424
    //     convention);
    //   - the point probe COLLAPSES: 81 files (all-of-A + one bucket)
    //     before, exactly 2 after (the old-B and compacted buckets) —
    //     what the rewrite was bought for;
    //   - the month probe DEGRADES: 17 files before (one A month +
    //     all-of-B), ALL files after — hash buckets cannot prune
    //     months. Unification is a TRADE, not a free lunch, and both
    //     directions are priced with missed = 0 soundness on every
    //     probe in both phases.
    // Scale: the compaction touches |A| rows once (the rewrite); every
    // pruning verdict stays manifest arithmetic; graders only.
    QuerySpec(
      "q441_spec_unify_compaction",
      (s, d) => {
        val keyed0 = t(s, d, "orders").select(col("o_orderkey").as("k"),
          (year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
            .cast("long").as("ym"),
          expr("CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)").as("v"))
        val mxk = keyed0.agg(expr("(max(k) + 1) * 4 div 5").as("kcut"))
        val bkt = md5Bucket(col("k").cast("string"), 16)
        // pre: A = month files, B = 1000+bucket; post: A rewritten to
        // 2000+bucket (hash spec), B untouched
        val rows = keyed0.crossJoin(broadcast(mxk))
          .select(col("k"), col("ym"), col("v"),
            when(col("k") <= col("kcut"), col("ym"))
              .otherwise(lit(1000L) + bkt).as("part_pre"),
            when(col("k") <= col("kcut"), "A").otherwise("B").as("spec_pre"),
            when(col("k") <= col("kcut"), lit(2000L) + bkt)
              .otherwise(lit(1000L) + bkt).as("part_post"))
          .localCheckpoint(false)
        val pm = rows.where(col("spec_pre") === "A")
          .groupBy("part_pre").agg(count(lit(1)).as("c"))
          .orderBy(col("c").desc, col("part_pre")).limit(1)
          .select(col("part_pre").as("probe_ym")).localCheckpoint(false)
        val pk = rows.agg(max("k").as("probe_k"))
          .join(rows.select(col("k").as("probe_k"), col("ym").as("probe_k_ym")),
            "probe_k")
          .localCheckpoint(false)
        val sig = rows.agg(count(lit(1)).as("n"), sum("v").as("sv"),
          sum(expr("(k % 999983) * (k % 999983)")).as("ck"))
        def probeLeg(phase: String, probe: String, prunedPart: DataFrame => DataFrame,
            matchPred: String): DataFrame = {
          val partCol = if (phase == "1:pre") "part_pre" else "part_post"
          val manifest = rows.groupBy(col(partCol).as("part"),
            (if (phase == "1:pre") col("spec_pre") else lit("B")).as("spec"))
            .agg(count(lit(1)).as("c"))
          val pruned = prunedPart(manifest)
          val prunedRows = rows.crossJoin(broadcast(pm)).crossJoin(broadcast(pk))
            .join(broadcast(pruned.select(col("part").as(partCol))), partCol)
            .where(expr(matchPred))
            .agg(count(lit(1)).as("pruned_rows"))
          val direct = rows.crossJoin(broadcast(pm)).crossJoin(broadcast(pk))
            .where(expr(matchPred))
            .agg(count(lit(1)).as("direct_rows"))
          broadcast(direct).crossJoin(broadcast(prunedRows))
            .crossJoin(broadcast(pruned.agg(count(lit(1)).as("files_read"))))
            .crossJoin(broadcast(manifest.agg(count(lit(1)).as("files_total"))))
            .crossJoin(broadcast(sig))
            .select(lit(phase).as("phase"), lit(probe).as("probe"),
              col("direct_rows"), col("pruned_rows"),
              (col("direct_rows") - col("pruned_rows")).as("missed"),
              col("files_read"), col("files_total"),
              col("n").as("table_rows"), col("sv").as("table_sum"),
              col("ck").as("table_keychk"))
        }
        val preMonth = probeLeg("1:pre", "1:month",
          m => m.crossJoin(broadcast(pm)).where(expr(
            "(spec = 'A' AND part = probe_ym) OR spec = 'B'")).select("part"),
          "ym = probe_ym")
        val prePoint = probeLeg("1:pre", "2:key_point",
          m => m.crossJoin(broadcast(pk)).where(col("spec") === "A" ||
              (col("spec") === "B" && col("part") === lit(1000L) +
                md5Bucket(col("probe_k").cast("string"), 16))).select("part"),
          "k = probe_k")
        // post: hash spec everywhere — the point probe prunes to the
        // two bucket files, the month probe can prune NOTHING
        val postMonth = probeLeg("2:post", "1:month",
          m => m.select("part"), "ym = probe_ym")
        val postPoint = probeLeg("2:post", "2:key_point",
          m => m.crossJoin(broadcast(pk)).where(
            col("part") === lit(1000L) + md5Bucket(col("probe_k").cast("string"), 16) ||
              col("part") === lit(2000L) + md5Bucket(col("probe_k").cast("string"), 16))
            .select("part"),
          "k = probe_k")
        preMonth.unionByName(prePoint).unionByName(postMonth)
          .unionByName(postPoint).orderBy("phase", "probe")
      },
      Some {
        val bq = md5BucketSql("CAST(k AS VARCHAR)", 16)
        val bp = md5BucketSql("CAST(probe_k AS VARCHAR)", 16)
        // the SQL mirrors the Spark legs directly, built explicitly
        s"""WITH keyed0 AS (SELECT o_orderkey AS k, CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT) AS ym, CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS v FROM orders), mxk AS (SELECT (max(k) + 1) * 4 // 5 AS kcut FROM keyed0), rows0 AS (SELECT k, ym, v, CASE WHEN k <= kcut THEN ym ELSE 1000 + $bq END AS part_pre, CASE WHEN k <= kcut THEN 'A' ELSE 'B' END AS spec_pre, CASE WHEN k <= kcut THEN 2000 + $bq ELSE 1000 + $bq END AS part_post FROM keyed0 CROSS JOIN mxk), pm AS (SELECT part_pre AS probe_ym FROM rows0 WHERE spec_pre = 'A' GROUP BY part_pre ORDER BY count(*) DESC, part_pre LIMIT 1), pk AS (SELECT k AS probe_k, ym AS probe_k_ym FROM rows0 WHERE k = (SELECT max(k) FROM rows0)), sig AS (SELECT count(*) AS n, sum(v) AS sv, sum((k % 999983) * (k % 999983)) AS ck FROM rows0), mpre AS (SELECT part_pre AS part, spec_pre AS spec, count(*) AS c FROM rows0 GROUP BY 1, 2), mpost AS (SELECT part_post AS part, count(*) AS c FROM rows0 GROUP BY 1), l1 AS (SELECT '1:pre' AS phase, '1:month' AS probe, (SELECT count(*) FROM rows0 CROSS JOIN pm WHERE ym = probe_ym) AS direct_rows, (SELECT count(*) FROM rows0 r CROSS JOIN pm WHERE ((r.spec_pre = 'A' AND r.part_pre = probe_ym) OR r.spec_pre = 'B') AND r.ym = probe_ym) AS pruned_rows, (SELECT count(*) FROM mpre CROSS JOIN pm WHERE (spec = 'A' AND part = probe_ym) OR spec = 'B') AS files_read, (SELECT count(*) FROM mpre) AS files_total), l2 AS (SELECT '1:pre', '2:key_point', (SELECT count(*) FROM rows0 CROSS JOIN pk WHERE k = probe_k), (SELECT count(*) FROM rows0 r CROSS JOIN pk WHERE (r.spec_pre = 'A' OR (r.spec_pre = 'B' AND r.part_pre = 1000 + $bp)) AND r.k = probe_k), (SELECT count(*) FROM mpre CROSS JOIN pk WHERE spec = 'A' OR (spec = 'B' AND part = 1000 + $bp)), (SELECT count(*) FROM mpre)), l3 AS (SELECT '2:post', '1:month', (SELECT count(*) FROM rows0 CROSS JOIN pm WHERE ym = probe_ym), (SELECT count(*) FROM rows0 r CROSS JOIN pm WHERE r.ym = probe_ym), (SELECT count(*) FROM mpost), (SELECT count(*) FROM mpost)), l4 AS (SELECT '2:post', '2:key_point', (SELECT count(*) FROM rows0 CROSS JOIN pk WHERE k = probe_k), (SELECT count(*) FROM rows0 r CROSS JOIN pk WHERE (r.part_post = 1000 + $bp OR r.part_post = 2000 + $bp) AND r.k = probe_k), (SELECT count(*) FROM mpost CROSS JOIN pk WHERE part = 1000 + $bp OR part = 2000 + $bp), (SELECT count(*) FROM mpost)), legs AS (SELECT * FROM l1 UNION ALL SELECT * FROM l2 UNION ALL SELECT * FROM l3 UNION ALL SELECT * FROM l4) SELECT phase, probe, CAST(direct_rows AS BIGINT) AS direct_rows, CAST(pruned_rows AS BIGINT) AS pruned_rows, CAST(direct_rows - pruned_rows AS BIGINT) AS missed, CAST(files_read AS BIGINT) AS files_read, CAST(files_total AS BIGINT) AS files_total, (SELECT CAST(n AS BIGINT) FROM sig) AS table_rows, (SELECT CAST(sv AS BIGINT) FROM sig) AS table_sum, (SELECT CAST(ck AS BIGINT) FROM sig) AS table_keychk FROM legs ORDER BY phase, probe"""
      },
      "A/S ext: spec-unification compaction — every month-partitioned file rewritten into the hash-bucket spec as one REPLACE commit, certified content-neutral (rows / sum / modular key checksum unchanged); the point probe collapses from 81 files to 2 while the month probe degrades from 17 to all — the layout trade priced honestly in both directions with missed = 0 soundness throughout"))

  /** q439's summary: the rows commit `c` wrote in month `ym` of year `yr`
    * whose key is (`pre`) or is not below 10⁹, `n` of them summing to `s`. */
  final case class CacheCell(c: Int, yr: Long, ym: Long, pre: Boolean, n: Long, s: Long)

  /** One q439 output row; the fields are its columns. */
  final case class CacheAudit(query: String, ver: String, touched_parts: Long,
      overlap_parts: Long, reads_all: Long, valid: Long, naive_valid: Long,
      cached_cnt: Long, cached_sv: Long, direct_cnt: Long, direct_sv: Long,
      audit_correct: Long, naive_correct: Long)

  private val CellEnc = Encoders.product[CacheCell]
  private val AuditEnc = Encoders.product[CacheAudit]

  /** q439 over `orders`: one scan, one aggregate to at most one
    * [[CacheCell]] per (commit, month, key flag), then the six audit rows
    * in one task (the bounded-state rule, CHECKPOINTS.md). */
  def resultCache(orders: DataFrame): DataFrame = {
    val yr = year(col("o_orderdate")).cast("long")
    // the final state v2 = v0 ∪ d1 ∪ d2, each row under the commits that
    // wrote it (c): v0 is ≤ 1997, d1 is 1998 and d2 copies 1995 under
    // fresh keys (+10⁹, q385 convention); a null year is in no commit
    val v2 = orders.select(col("o_orderkey").as("k"), yr.as("yr"),
      (year(col("o_orderdate")) * 100 + month(col("o_orderdate"))).cast("long").as("ym"),
      expr("CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)").as("v"),
      explode(when(yr === 1995L, array(lit(0), lit(2))).when(yr <= 1997L, array(lit(0)))
        .when(yr === 1998L, array(lit(1))).otherwise(typedLit(Seq.empty[Int]))).as("c"))
    val key = when(col("c") === 2, col("k") + 1000000000L).otherwise(col("k"))
    val cells = v2.groupBy(col("c"), col("yr"), col("ym"),
        coalesce(key < 1000000000L, lit(false)).as("pre"))
      .agg(count(lit(1)).as("n"), coalesce(sum("v"), lit(0L)).as("s"))
      .as(CellEnc)
    // plus a cell of no commit and no rows: the fold's one partition then
    // exists even when no row is in a commit
    val none = orders.sparkSession.createDataset(Seq(CacheCell(-1, 0L, 0L, pre = false, 0L, 0L)))(CellEnc)
    cells.union(none).coalesce(1)
      .mapPartitions(it => audit(it.toVector).iterator)(AuditEnc)
      .toDF().orderBy("query", "ver")
  }

  /** The six audit rows. Cached results and partition sets read the commit
    * tag; the graders read the key and year flags. Two derivations, so
    * audit_correct certifies one against the other. */
  private def audit(cells: Vector[CacheCell]): Seq[CacheAudit] = {
    def pair(p: CacheCell => Boolean): (Long, Long) = cells.filter(p).foldLeft((0L, 0L)) {
      case ((n, s), x) => (Math.addExact(n, x.n), Math.addExact(s, x.s))
    }
    def months(p: CacheCell => Boolean): Set[Long] = cells.filter(p).map(_.ym).toSet
    def flag(b: Boolean): Long = if (b) 1L else 0L
    val atV0 = (x: CacheCell) => x.c == 0
    val in1995 = (x: CacheCell) => x.yr == 1995L
    val (c1, c2) = (pair(x => atV0(x) && in1995(x)), pair(atV0))
    val (q1p, allp) = (months(x => atV0(x) && in1995(x)), months(atV0))
    def row(qid: String, ver: String, cached: (Long, Long), readParts: Set[Long],
        readsAll: Boolean, touched: Set[Long], direct: (Long, Long)): CacheAudit = {
      val tp = touched.size.toLong
      val op = (readParts & touched).size.toLong
      val valid = flag((if (readsAll) tp else op) == 0L)
      val naive = flag(op == 0L)
      val hit = flag(cached == direct)
      CacheAudit(qid, ver, tp, op, flag(readsAll), valid, naive, cached._1, cached._2,
        direct._1, direct._2, flag(valid == hit), flag(naive == hit))
    }
    val (t1, t2) = (months(_.c == 1), months(_.c == 2))
    val q1v0 = pair(x => in1995(x) && x.pre)
    Seq(
      row("Q1:rev1995", "v0", c1, q1p, readsAll = false, Set.empty, q1v0),
      row("Q2:global", "v0", c2, allp, readsAll = true, Set.empty, pair(x => x.yr <= 1997L && x.pre)),
      row("Q1:rev1995", "v1", c1, q1p, readsAll = false, t1, q1v0),
      row("Q2:global", "v1", c2, allp, readsAll = true, t1, pair(_.pre)),
      row("Q1:rev1995", "v2", c1, q1p, readsAll = false, t2, pair(in1995)),
      row("Q2:global", "v2", c2, allp, readsAll = true, t2, pair(_ => true)))
  }
}
