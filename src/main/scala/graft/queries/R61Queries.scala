package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QuerySpec

/** Round-12 fifth widening — the SNAPSHOT arc: the multi-version
  * manifest algebra (Iceberg/Delta-style time travel) the storage
  * rounds priced piecemeal (q368 DVs, q377/q387 compaction, q415
  * footer gating), now run as ONE versioned table with four snapshots:
  *
  *   v0  initial load — the ≤80%-key slice of orders in 32 key-range
  *       files (q415's layout rule);
  *   v1  DELETE — merge-on-read delete vectors on a Knuth-hash victim
  *       band clustered in the first 20 key-range files (~2.5% of
  *       rows; files 20..31 stay untouched);
  *   v2  APPEND — the late >80%-key slice lands as 8 new files
  *       (ids 32..39) — the v1 delete does NOT apply to them;
  *   v3  COMPACTION — every DV-bearing file rewritten (victims
  *       physically dropped, DVs retired, replacement ids f+100),
  *       a REPLACE snapshot: content-neutral by construction.
  *
  *  - q421 reads AS OF every version two independent ways — the
  *    manifest fold (live files minus live DVs) and the logical
  *    timeline (set algebra on the base) — certified equal per
  *    version; the v3 row shows content identity to v2 while the
  *    physical bill (files_read, dv_applied) moves;
  *  - q422 computes incremental CDC scans between snapshots from the
  *    manifest DIFF, certified against the content diff of the full
  *    states, with the naive file-level reader shown re-emitting every
  *    compacted row on the REPLACE snapshot;
  *  - q423 prices snapshot expiry: per horizon, a file is deletable
  *    iff NO surviving snapshot references it — the interval rule
  *    certified against an explicit per-snapshot refcount, and the
  *    surviving head read re-certified intact after GC;
  *  - q424 runs optimistic concurrency: a DELETE validated at v1
  *    commits after the compaction moved its target files — the naive
  *    commit silently loses exactly the victims living in rewritten
  *    files, the conflict check detects the overlap, and the REBASED
  *    commit (DVs remapped onto replacement files) is certified equal
  *    to the serial execution.
  *
  * Layout/victim conventions shared with q368/q415 (file =
  * least(31, k·32 div (kcut+1)); Knuth hash (custkey mod 2³¹)·
  * 2654435761 mod 2³²). Scale: every state is predicates plus a
  * file-count-sized manifest; the graders are the only corpus
  * passes, and AS-OF serving reads only live-file rows.
  */
object R61Queries {

  /** Keyed orders with the arc's derived columns: key, cents value,
    * Knuth hash, the 80% key cut, and per-row file assignment —
    * 0..31 key-ranged for the initial slice, 32..39 for the append.
    */
  private[graft] def keyedFrame(s: SparkSession, d: String): DataFrame = {
    val keyed = t(s, d, "orders").select(col("o_orderkey").as("k"),
      expr("CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)").as("v"),
      expr("(o_custkey % 2147483648) * 2654435761 % 4294967296").as("h"))
    val mxk = keyed.agg(expr("(max(k) + 1) * 4 div 5").as("kcut"))
    keyed.crossJoin(broadcast(mxk))
      .select(col("k"), col("v"), col("h"), col("kcut"),
        expr("CASE WHEN k <= kcut THEN least(31, k * 32 div (kcut + 1)) " +
          "ELSE 32 + least(7, (k - kcut - 1) * 8 div (kcut div 4 + 1)) END").as("f"))
      .localCheckpoint(false)
  }

  /** The arc's fixed victim predicate (identical text in both engines):
    * a 4% Knuth-hash band RESTRICTED to the first 20 key-range files —
    * deletes cluster in old key ranges, so the rewrite set is a proper
    * subset of the layout and files 20..31 stay untouched (the class
    * every GC/compaction law needs as its negative space).
    */
  private[graft] val victimPred = "f < 20 AND h < 171798691"

  private[graft] val keyedSql: String =
    "keyed0 AS (SELECT o_orderkey AS k, CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS v, " +
      "(o_custkey % 2147483648) * 2654435761 % 4294967296 AS h FROM orders), " +
      "mxk AS (SELECT (max(k) + 1) * 4 // 5 AS kcut FROM keyed0), " +
      "keyed AS (SELECT k, v, h, kcut, CASE WHEN k <= kcut THEN least(31, k * 32 // (kcut + 1)) " +
      "ELSE 32 + least(7, (k - kcut - 1) * 8 // (kcut // 4 + 1)) END AS f FROM keyed0 CROSS JOIN mxk), " +
      s"orig AS (SELECT k, v, h, f FROM keyed WHERE k <= kcut), " +
      s"app AS (SELECT k, v, h, f FROM keyed WHERE k > kcut), " +
      s"rw AS (SELECT DISTINCT f FROM orig WHERE $victimPred)"

  /** Content signature: modular key checksum (with rows and value sum,
    * the compare unit every certificate in the arc uses).
    */
  private[graft] val chkExpr = "sum((k % 999983) * (k % 999983))"

  /** The four manifest-fold states and three logical states as shared
    * oracle CTEs (m3 splices untouched + replacements + appends).
    */
  private[graft] val statesSql: String =
    s"m0 AS (SELECT k, v, f FROM orig), " +
      s"m1 AS (SELECT k, v, f FROM orig WHERE NOT ($victimPred)), " +
      s"m2 AS (SELECT k, v, f FROM orig WHERE NOT ($victimPred) UNION ALL SELECT k, v, f FROM app), " +
      s"m3 AS (SELECT k, v, f FROM orig WHERE f NOT IN (SELECT f FROM rw) " +
      s"UNION ALL SELECT k, v, f + 100 AS f FROM orig WHERE f IN (SELECT f FROM rw) AND NOT ($victimPred) " +
      s"UNION ALL SELECT k, v, f FROM app), " +
      s"l0 AS (SELECT k, v FROM keyed WHERE k <= kcut), " +
      s"l1 AS (SELECT k, v FROM keyed WHERE k <= kcut AND NOT ($victimPred)), " +
      s"l2 AS (SELECT k, v FROM keyed WHERE NOT ($victimPred) OR k > kcut)"

  /** Spark-side builders for the same states. */
  private[graft] def states(keyed: DataFrame):
      (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    val orig = keyed.where(expr("k <= kcut")).select("k", "v", "h", "f")
    val app = keyed.where(expr("k > kcut")).select("k", "v", "h", "f")
    val rw = orig.where(expr(victimPred)).select("f").distinct().localCheckpoint(false)
    val untouched = orig.join(broadcast(rw), Seq("f"), "left_anti")
    val repl = orig.join(broadcast(rw), Seq("f"), "left_semi")
      .where(expr(s"NOT ($victimPred)")).withColumn("f", col("f") + 100L)
    val m3 = untouched.unionByName(repl).unionByName(app)
    (orig, app, rw, untouched, m3)
  }

  val specs: Seq[QuerySpec] = Seq(

    // q421 — TIME TRAVEL: THE MANIFEST FOLD CERTIFIED AGAINST THE
    // LOGICAL TIMELINE. AS-OF v reads derive from the MANIFEST — live
    // files at v (added <= v < removed), each file's rows minus the
    // DVs live on it at v — while the grader replays the logical
    // operations (slice; minus victims; union append; no-op).
    // Snapshot isolation IS the claim that the two derivations agree
    // at EVERY version, not just the head. The DV applies only to
    // rows that existed at v1 — the appended files never carry it —
    // and the v3 row states the REPLACE law: content identical to v2
    // (same_as_prev = 1, certified by signature) while the physical
    // bill moves — files_read stays 40 but dv_applied drops to 0,
    // q375's recurring read tax retired by the compaction inside one
    // versioned table. Scale: the manifest is file-count rows of
    // metadata; each AS-OF leg reads live-file rows once, and the
    // logical grader is the certifying corpus pass.
    QuerySpec(
      "q421_time_travel",
      (s, d) => {
        val keyed = keyedFrame(s, d)
        val (orig, app, rw, untouched, m3) = states(keyed)
        val m0 = orig
        val m1 = orig.where(expr(s"NOT ($victimPred)"))
        val m2 = m1.unionByName(app)
        val l0 = keyed.where(expr("k <= kcut"))
        val l1 = keyed.where(expr(s"k <= kcut AND NOT ($victimPred)"))
        val l2 = keyed.where(expr(s"NOT ($victimPred) OR k > kcut"))
        val meta = orig.agg(countDistinct("f").cast("long").as("nf0"),
            sum(when(expr(victimPred), 1L).otherwise(0L)).as("ndv"))
          .crossJoin(broadcast(app.agg(countDistinct("f").cast("long").as("nfa"))))
          .localCheckpoint(false)
        def leg(ver: Int, m: DataFrame, l: DataFrame): DataFrame = {
          val sig = m.agg(count(lit(1)).as("m_rows"), sum("v").as("m_val"),
            expr(chkExpr).as("m_chk"))
          val lsig = l.agg(count(lit(1)).as("l_rows"), sum("v").as("l_val"),
            expr(chkExpr).as("l_chk"))
          broadcast(sig).crossJoin(broadcast(lsig)).crossJoin(broadcast(meta))
            .select(lit(ver.toLong).as("version"),
              expr(s"CASE WHEN $ver >= 2 THEN nf0 + nfa ELSE nf0 END").as("files_read"),
              expr(s"CASE WHEN $ver = 1 OR $ver = 2 THEN ndv ELSE 0 END").as("dv_applied"),
              col("m_rows"), col("m_val"), col("m_chk"),
              expr("CAST(CASE WHEN m_rows = l_rows AND m_val = l_val AND m_chk = l_chk THEN 1 ELSE 0 END AS BIGINT)")
                .as("equal_logical"))
        }
        val all = leg(0, m0, l0).unionByName(leg(1, m1, l1))
          .unionByName(leg(2, m2, l2)).unionByName(leg(3, m3, l2))
          .localCheckpoint(false)
        val prev = all.select((col("version") + 1L).as("version"),
          col("m_rows").as("p_rows"), col("m_val").as("p_val"), col("m_chk").as("p_chk"))
        all.join(prev, Seq("version"), "left")
          .select(col("version"), col("files_read"), col("dv_applied"),
            col("m_rows"), col("m_val"), col("m_chk"), col("equal_logical"),
            expr("CAST(CASE WHEN p_rows IS NOT NULL AND m_rows = p_rows AND m_val = p_val AND m_chk = p_chk THEN 1 ELSE 0 END AS BIGINT)")
              .as("same_as_prev"))
          .orderBy("version")
      },
      Some(
        s"""WITH $keyedSql, $statesSql, meta AS (SELECT (SELECT count(DISTINCT f) FROM orig) AS nf0, (SELECT count(DISTINCT f) FROM app) AS nfa, (SELECT sum(CASE WHEN $victimPred THEN 1 ELSE 0 END) FROM orig) AS ndv), legs AS (
          SELECT 0 AS version, nf0 AS files_read, 0 AS dv_applied, (SELECT count(*) FROM m0) AS m_rows, (SELECT sum(v) FROM m0) AS m_val, (SELECT $chkExpr FROM m0) AS m_chk, (SELECT count(*) FROM l0) AS l_rows, (SELECT sum(v) FROM l0) AS l_val, (SELECT $chkExpr FROM l0) AS l_chk FROM meta
          UNION ALL SELECT 1, nf0, ndv, (SELECT count(*) FROM m1), (SELECT sum(v) FROM m1), (SELECT $chkExpr FROM m1), (SELECT count(*) FROM l1), (SELECT sum(v) FROM l1), (SELECT $chkExpr FROM l1) FROM meta
          UNION ALL SELECT 2, nf0 + nfa, ndv, (SELECT count(*) FROM m2), (SELECT sum(v) FROM m2), (SELECT $chkExpr FROM m2), (SELECT count(*) FROM l2), (SELECT sum(v) FROM l2), (SELECT $chkExpr FROM l2) FROM meta
          UNION ALL SELECT 3, nf0 + nfa, 0, (SELECT count(*) FROM m3), (SELECT sum(v) FROM m3), (SELECT $chkExpr FROM m3), (SELECT count(*) FROM l2), (SELECT sum(v) FROM l2), (SELECT $chkExpr FROM l2) FROM meta)
          SELECT CAST(legs.version AS BIGINT) AS version, CAST(legs.files_read AS BIGINT) AS files_read, CAST(legs.dv_applied AS BIGINT) AS dv_applied, CAST(legs.m_rows AS BIGINT) AS m_rows, CAST(legs.m_val AS BIGINT) AS m_val, CAST(legs.m_chk AS BIGINT) AS m_chk, CAST(CASE WHEN legs.m_rows = legs.l_rows AND legs.m_val = legs.l_val AND legs.m_chk = legs.l_chk THEN 1 ELSE 0 END AS BIGINT) AS equal_logical, CAST(CASE WHEN p.m_rows IS NOT NULL AND legs.m_rows = p.m_rows AND legs.m_val = p.m_val AND legs.m_chk = p.m_chk THEN 1 ELSE 0 END AS BIGINT) AS same_as_prev FROM legs LEFT JOIN (SELECT version + 1 AS pv, m_rows, m_val, m_chk FROM legs) p ON p.pv = legs.version ORDER BY legs.version"""),
      "S/L ext: time travel over a four-snapshot manifest (load, MoR delete, append, compaction-as-replace) — every AS-OF read derived from the manifest fold AND from the logical timeline, certified equal per version with row/value/modular-key signatures; the replace snapshot is content-identical to its parent (same_as_prev=1) while files_read/dv_applied move — q375's read tax retired inside one versioned table"),

    // q422 — INCREMENTAL CDC SCANS FROM THE MANIFEST DIFF: a consumer
    // at snapshot a wants exactly what changed by b, without reading
    // either full state. The manifest diff gives it: DVs added in
    // (a,b] are the deletes, files added in (a,b] are the inserts —
    // UNLESS the snapshot is a REPLACE, whose added files are
    // rewrites of removed ones and contribute NOTHING to CDC. Each
    // transition's manifest-derived delta is certified against the
    // content diff of the two full states (EXCEPT ALL both ways,
    // reduced to row/checksum signatures): 0→1 is pure delete (the
    // 256 victims), 1→2 pure insert (the 8 appended files), 2→3
    // EMPTY. The naive file-level reader — no replace marker — would
    // re-emit every compacted row on 2→3 (naive_rows ≈ the rewritten
    // files' contents, twice: removed originals + added replacements)
    // for a truth of zero: the measured reason real formats tag
    // compaction snapshots as 'replace' and CDC readers skip them.
    // Scale: the manifest diff reads ONLY delta objects (DV entries +
    // added files); the EXCEPT ALL graders are the certifying corpus
    // passes.
    QuerySpec(
      "q422_incremental_scan",
      (s, d) => {
        val keyed = keyedFrame(s, d)
        val (orig, app, rw, untouched, m3) = states(keyed)
        val m0 = orig
        val m1 = orig.where(expr(s"NOT ($victimPred)"))
        val m2 = m1.unionByName(app)
        def kv(df: DataFrame): DataFrame = df.select("k", "v")
        def sig(df: DataFrame, pfx: String): DataFrame =
          df.agg(count(lit(1)).as(s"${pfx}_rows"),
            coalesce(expr(chkExpr), lit(0L)).as(s"${pfx}_chk"))
        def leg(id: String, mIns: DataFrame, mDel: DataFrame,
            a: DataFrame, b: DataFrame, naiveAdd: DataFrame,
            naiveRem: DataFrame): DataFrame = {
          val mi = sig(mIns, "ins")
          val md = sig(mDel, "del")
          val ci = sig(kv(b).exceptAll(kv(a)), "c_ins")
          val cd = sig(kv(a).exceptAll(kv(b)), "c_del")
          val nv = sig(naiveAdd, "na").crossJoin(broadcast(sig(naiveRem, "nr")))
          broadcast(mi).crossJoin(broadcast(md)).crossJoin(broadcast(ci))
            .crossJoin(broadcast(cd)).crossJoin(broadcast(nv))
            .select(lit(id).as("transition"),
              col("ins_rows"), col("ins_chk"), col("del_rows"), col("del_chk"),
              expr("CAST(CASE WHEN ins_rows = c_ins_rows AND ins_chk = c_ins_chk AND del_rows = c_del_rows AND del_chk = c_del_chk THEN 1 ELSE 0 END AS BIGINT)")
                .as("cdc_certified"),
              expr("na_rows + nr_rows").as("naive_rows"),
              expr("ins_rows + del_rows").as("cdc_rows"))
        }
        val empty = orig.limit(0)
        val vict = orig.where(expr(victimPred))
        // 2→3 naive file-level diff: added replacement files' rows +
        // removed originals' PHYSICAL rows (victims still present on
        // disk at removal)
        val rwPhys = orig.join(broadcast(rw), Seq("f"), "left_semi")
        val repl3 = rwPhys.where(expr(s"NOT ($victimPred)"))
        leg("0->1", empty, vict, m0, m1, empty, empty)
          .unionByName(leg("1->2", app, empty, m1, m2, app, empty))
          .unionByName(leg("2->3", empty, empty, m2, m3, repl3, rwPhys))
          .orderBy("transition")
      },
      Some {
        def sigSql(sel: String, pfx: String): String =
          s"(SELECT count(*) FROM ($sel) z) AS ${pfx}_rows, (SELECT coalesce($chkExpr, 0) FROM ($sel) z) AS ${pfx}_chk"
        val e = "SELECT k, v FROM orig WHERE 1 = 0"
        val vict = s"SELECT k, v FROM orig WHERE $victimPred"
        val appS = "SELECT k, v FROM app"
        val rwPhys = "SELECT k, v FROM orig WHERE f IN (SELECT f FROM rw)"
        val repl3 = s"SELECT k, v FROM orig WHERE f IN (SELECT f FROM rw) AND NOT ($victimPred)"
        def legSql(id: String, ins: String, del: String, a: String, b: String,
            nAdd: String, nRem: String): String =
          s"""SELECT '$id' AS transition, ${sigSql(ins, "ins")}, ${sigSql(del, "del")}, ${sigSql(s"SELECT k, v FROM ($b) bb EXCEPT ALL SELECT k, v FROM ($a) aa", "c_ins")}, ${sigSql(s"SELECT k, v FROM ($a) aa EXCEPT ALL SELECT k, v FROM ($b) bb", "c_del")}, ${sigSql(nAdd, "na")}, ${sigSql(nRem, "nr")}"""
        val m0 = "SELECT k, v FROM m0"
        val m1 = "SELECT k, v FROM m1"
        val m2 = "SELECT k, v FROM m2"
        val m3s = "SELECT k, v FROM m3"
        s"""WITH $keyedSql, $statesSql, legs AS (${legSql("0->1", e, vict, m0, m1, e, e)} UNION ALL ${legSql("1->2", appS, e, m1, m2, appS, e)} UNION ALL ${legSql("2->3", e, e, m2, m3s, repl3, rwPhys)}) SELECT transition, CAST(ins_rows AS BIGINT) AS ins_rows, CAST(ins_chk AS BIGINT) AS ins_chk, CAST(del_rows AS BIGINT) AS del_rows, CAST(del_chk AS BIGINT) AS del_chk, CAST(CASE WHEN ins_rows = c_ins_rows AND ins_chk = c_ins_chk AND del_rows = c_del_rows AND del_chk = c_del_chk THEN 1 ELSE 0 END AS BIGINT) AS cdc_certified, CAST(na_rows + nr_rows AS BIGINT) AS naive_rows, CAST(ins_rows + del_rows AS BIGINT) AS cdc_rows FROM legs ORDER BY transition"""
      },
      "S/L ext: incremental CDC scans from the manifest diff — per transition the DV/file delta objects alone reproduce the content diff of the full states (EXCEPT ALL both ways, certified by row + checksum): pure delete, pure insert, and EMPTY on the replace snapshot, where the naive file-level reader without the replace marker would re-emit every compacted row (naive_rows vs cdc_rows=0)"),

    // q423 — SNAPSHOT EXPIRY: GC BY INTERVAL RULE, CERTIFIED BY
    // REFCOUNT AND BY THE SURVIVING READS. Expiring snapshots < h
    // makes an object deletable iff NO surviving snapshot references
    // it; the production shortcut is the interval rule (removed-at
    // vr <= h). Both are computed here for every object × horizon —
    // the rule and an explicit refcount over the survivor range —
    // and certified equal per class (rule_eq_refcount). The teeth are
    // row-level: at each horizon the EARLIEST surviving version is
    // re-read from the post-GC survivor manifest (live files minus
    // surviving DVs) and certified against the logical state
    // (surviving_read_intact). The control is PREMATURE GC (vr <=
    // h+1, deleting one horizon early): at h=2 it deletes the
    // rewritten files v2 still reads, and rows_lost_premature counts
    // exactly the live rows the read loses — the measured cost of
    // violating the refcount, zero at the horizons where premature
    // coincides with correct. Scale: objects are file-count metadata;
    // the re-reads are the certifying passes.
    QuerySpec(
      "q423_snapshot_expiry",
      (s, d) => {
        val keyed = keyedFrame(s, d)
        val (orig, app, rw, _, _) = states(keyed)
        // the per-file censuses of both slices from ONE aggregate pass
        // (the slices' file ids are disjoint)
        val fl = keyed.groupBy(expr("k <= kcut").as("o"), col("f"))
          .agg(count(lit(1)).as("nr"),
            sum(when(expr(victimPred), 1L).otherwise(0L)).as("nv"))
          .localCheckpoint(false)
        val ofl = fl.where("o").select("f", "nr", "nv")
        val afl = fl.where("NOT o").select("f", "nr")
        val nullV = lit(null).cast("long")
        val vicCol = expr(s"CAST(CASE WHEN $victimPred THEN 1 ELSE 0 END AS BIGINT)")
        val objects = ofl.where("nv = 0").select(
            lit("1:orig_untouched").as("class"), col("f"), lit(0L).as("va"),
            nullV.as("vr"), col("nr").as("phys"), lit(0L).as("dv"))
          .unionByName(ofl.where("nv > 0").select(
            lit("2:orig_rewritten").as("class"), col("f"), lit(0L).as("va"),
            lit(3L).as("vr"), col("nr").as("phys"), lit(0L).as("dv")))
          .unionByName(ofl.where("nv > 0").select(
            lit("3:dv").as("class"), col("f"), lit(1L).as("va"),
            lit(3L).as("vr"), lit(0L).as("phys"), col("nv").as("dv")))
          .unionByName(afl.select(
            lit("4:append").as("class"), col("f"), lit(2L).as("va"),
            nullV.as("vr"), col("nr").as("phys"), lit(0L).as("dv")))
          .unionByName(ofl.where("nv > 0").select(
            lit("5:replacement").as("class"), (col("f") + 100L).as("f"),
            lit(3L).as("va"), nullV.as("vr"),
            (col("nr") - col("nv")).as("phys"), lit(0L).as("dv")))
          .localCheckpoint(false)
        val rt = orig.join(broadcast(ofl.select(col("f"), col("nv"))), Seq("f"))
          .select(expr("CASE WHEN nv = 0 THEN '1:orig_untouched' ELSE '2:orig_rewritten' END")
            .as("class"), col("f").as("fo"), col("k"), col("v"), vicCol.as("vic"))
          .unionByName(app.select(lit("4:append").as("class"), col("f").as("fo"),
            col("k"), col("v"), vicCol.as("vic")))
          .unionByName(orig.join(broadcast(rw), Seq("f"), "left_semi")
            .where(expr(s"NOT ($victimPred)"))
            .select(lit("5:replacement").as("class"), (col("f") + 100L).as("fo"),
              col("k"), col("v"), lit(0L).as("vic")))
          .localCheckpoint(false)
        // the logical signature of each horizon's earliest surviving
        // version, all three from ONE aggregate pass: v1 is the orig slice
        // minus victims, v2 and v3 are every non-victim plus the append
        val l1 = expr(s"k <= kcut AND NOT ($victimPred)")
        val l2 = expr(s"NOT ($victimPred) OR k > kcut")
        val logical = keyed.select(col("k"), col("v"), explode(array(
            when(l1, 1L), when(l2, 2L), when(l2, 3L))).as("hor"))
          .where(col("hor").isNotNull)
          .groupBy("hor").agg(count(lit(1)).as("l_rows"), sum("v").as("l_val"),
            expr(chkExpr).as("l_chk"))
          .localCheckpoint(false)
        val hz = s.range(1, 4).select(col("id").as("hor"))
        val vs = s.range(0, 4).select(col("id").as("ver"))
        val ruleStd = "vr IS NOT NULL AND vr <= hor"
        val rulePre = "vr IS NOT NULL AND vr <= hor + 1"
        val oh = objects.crossJoin(hz)
          .withColumn("rule_del",
            expr(s"CAST(CASE WHEN $ruleStd THEN 1 ELSE 0 END AS BIGINT)"))
        val rc = oh.join(vs, expr("ver >= hor AND ver >= va AND ver < coalesce(vr, 4)"), "left")
          .groupBy("hor", "class", "f", "va", "vr", "phys", "dv", "rule_del")
          .agg(sum(when(col("ver").isNotNull, 1L).otherwise(0L)).as("rc"))
        val perClass = rc.groupBy("hor", "class").agg(
          count(lit(1)).as("n_objects"),
          sum("rule_del").as("deletable"),
          sum(when(col("rc") === 0L, 1L).otherwise(0L)).as("deletable_refcount"),
          min(when(expr("rule_del = CASE WHEN rc = 0 THEN 1 ELSE 0 END"), 1L)
            .otherwise(0L)).as("rule_eq_refcount"),
          sum(expr("phys * rule_del")).as("rows_reclaimed"),
          sum(expr("dv * rule_del")).as("dv_entries_dropped"))
        // row-level re-read of the earliest surviving version from the
        // post-GC survivor manifest, under a parameterized GC rule
        def readSig(rule: String): DataFrame = {
          val surv = objects.crossJoin(hz).where(expr(s"NOT ($rule)"))
            .where(expr("va <= hor AND hor < coalesce(vr, 4)"))
          val liveFiles = surv.where("class <> '3:dv'")
            .select(col("hor"), col("class"), col("f").as("fo"))
          val liveDv = surv.where("class = '3:dv'")
            .select(col("hor").as("dhor"), col("f").as("df"), lit(1L).as("dvp"))
          val cont = rt.join(liveFiles, Seq("class", "fo"))
          val kept = cont.join(broadcast(liveDv),
              cont("hor") === liveDv("dhor") && cont("fo") === liveDv("df"), "left")
            .where(expr("NOT (vic = 1 AND coalesce(dvp, 0) = 1)"))
          kept.groupBy("hor").agg(count(lit(1)).as("r_rows"), sum("v").as("r_val"),
            expr(chkExpr).as("r_chk"))
        }
        val intact = readSig(ruleStd).join(logical, Seq("hor"))
          .select(col("hor"), expr(
            "CAST(CASE WHEN r_rows = l_rows AND r_val = l_val AND r_chk = l_chk THEN 1 ELSE 0 END AS BIGINT)")
            .as("surviving_read_intact"))
        val premature = readSig(rulePre).join(logical, Seq("hor"))
          .select(col("hor"), expr("l_rows - r_rows").as("rows_lost_premature"))
        perClass.join(broadcast(intact), Seq("hor")).join(broadcast(premature), Seq("hor"))
          .select(col("hor").as("horizon"), col("class"), col("n_objects"),
            col("deletable"), col("deletable_refcount"), col("rule_eq_refcount"),
            col("rows_reclaimed"), col("dv_entries_dropped"),
            col("surviving_read_intact"), col("rows_lost_premature"))
          .orderBy("horizon", "class")
      },
      Some {
        val objectsSql =
          "ofl AS (SELECT f, count(*) AS nr, sum(CASE WHEN " + victimPred +
            " THEN 1 ELSE 0 END) AS nv FROM orig GROUP BY f), " +
            "afl AS (SELECT f, count(*) AS nr FROM app GROUP BY f), " +
            "objects AS (SELECT '1:orig_untouched' AS class, f, 0 AS va, CAST(NULL AS BIGINT) AS vr, nr AS phys, 0 AS dv FROM ofl WHERE nv = 0 " +
            "UNION ALL SELECT '2:orig_rewritten', f, 0, 3, nr, 0 FROM ofl WHERE nv > 0 " +
            "UNION ALL SELECT '3:dv', f, 1, 3, 0, nv FROM ofl WHERE nv > 0 " +
            "UNION ALL SELECT '4:append', f, 2, NULL, nr, 0 FROM afl " +
            "UNION ALL SELECT '5:replacement', f + 100, 3, NULL, nr - nv, 0 FROM ofl WHERE nv > 0), " +
            "hz AS (SELECT 1 AS hor UNION ALL SELECT 2 UNION ALL SELECT 3), " +
            "vvs AS (SELECT 0 AS ver UNION ALL SELECT 1 UNION ALL SELECT 2 UNION ALL SELECT 3), " +
            s"rt AS (SELECT CASE WHEN ofl2.nv = 0 THEN '1:orig_untouched' ELSE '2:orig_rewritten' END AS class, o.f AS fo, o.k, o.v, CASE WHEN $victimPred THEN 1 ELSE 0 END AS vic FROM orig o JOIN (SELECT f AS ff, nv FROM ofl) ofl2 ON ofl2.ff = o.f " +
            s"UNION ALL SELECT '4:append', f, k, v, CASE WHEN $victimPred THEN 1 ELSE 0 END FROM app " +
            s"UNION ALL SELECT '5:replacement', o.f + 100, o.k, o.v, 0 FROM orig o WHERE o.f IN (SELECT f FROM rw) AND NOT ($victimPred))"
        def readSql(rule: String, pfx: String): String =
          s"surv_$pfx AS (SELECT hz.hor, o.class, o.f, o.va, o.vr FROM objects o CROSS JOIN hz WHERE NOT ($rule) AND o.va <= hz.hor AND hz.hor < coalesce(o.vr, 4)), " +
            s"kept_$pfx AS (SELECT sv.hor, rt.k, rt.v FROM rt JOIN surv_$pfx sv ON sv.class = rt.class AND sv.f = rt.fo AND sv.class <> '3:dv' LEFT JOIN surv_$pfx dv ON dv.class = '3:dv' AND dv.hor = sv.hor AND dv.f = rt.fo WHERE NOT (rt.vic = 1 AND dv.f IS NOT NULL)), " +
            s"read_$pfx AS (SELECT hor, count(*) AS r_rows, sum(v) AS r_val, $chkExpr AS r_chk FROM kept_$pfx GROUP BY hor)"
        s"""WITH $keyedSql, $objectsSql, ${readSql("vr IS NOT NULL AND vr <= hz.hor", "std")}, ${readSql("vr IS NOT NULL AND vr <= hz.hor + 1", "pre")},
          l1 AS (SELECT k, v FROM keyed WHERE k <= kcut AND NOT ($victimPred)), l2 AS (SELECT k, v FROM keyed WHERE NOT ($victimPred) OR k > kcut),
          logical AS (SELECT 1 AS hor, count(*) AS l_rows, sum(v) AS l_val, $chkExpr AS l_chk FROM l1 UNION ALL SELECT 2, count(*), sum(v), $chkExpr FROM l2 UNION ALL SELECT 3, count(*), sum(v), $chkExpr FROM l2),
          oh AS (SELECT o.*, hz.hor, CASE WHEN o.vr IS NOT NULL AND o.vr <= hz.hor THEN 1 ELSE 0 END AS rule_del FROM objects o CROSS JOIN hz),
          rc AS (SELECT oh.hor, oh.class, oh.f, oh.phys, oh.dv, oh.rule_del, sum(CASE WHEN vvs.ver >= oh.hor AND vvs.ver >= oh.va AND vvs.ver < coalesce(oh.vr, 4) THEN 1 ELSE 0 END) AS rc FROM oh CROSS JOIN vvs GROUP BY oh.hor, oh.class, oh.f, oh.phys, oh.dv, oh.rule_del),
          pc AS (SELECT hor, class, count(*) AS n_objects, sum(rule_del) AS deletable, sum(CASE WHEN rc = 0 THEN 1 ELSE 0 END) AS deletable_refcount, min(CASE WHEN rule_del = (CASE WHEN rc = 0 THEN 1 ELSE 0 END) THEN 1 ELSE 0 END) AS rule_eq_refcount, sum(phys * rule_del) AS rows_reclaimed, sum(dv * rule_del) AS dv_entries_dropped FROM rc GROUP BY hor, class),
          itc AS (SELECT r.hor, CASE WHEN r.r_rows = lg.l_rows AND r.r_val = lg.l_val AND r.r_chk = lg.l_chk THEN 1 ELSE 0 END AS surviving_read_intact FROM read_std r JOIN logical lg ON lg.hor = r.hor),
          prm AS (SELECT r.hor, lg.l_rows - r.r_rows AS rows_lost_premature FROM read_pre r JOIN logical lg ON lg.hor = r.hor)
          SELECT CAST(pc.hor AS BIGINT) AS horizon, pc.class, CAST(n_objects AS BIGINT) AS n_objects, CAST(deletable AS BIGINT) AS deletable, CAST(deletable_refcount AS BIGINT) AS deletable_refcount, CAST(rule_eq_refcount AS BIGINT) AS rule_eq_refcount, CAST(rows_reclaimed AS BIGINT) AS rows_reclaimed, CAST(dv_entries_dropped AS BIGINT) AS dv_entries_dropped, CAST(surviving_read_intact AS BIGINT) AS surviving_read_intact, CAST(rows_lost_premature AS BIGINT) AS rows_lost_premature FROM pc JOIN itc ON itc.hor = pc.hor JOIN prm ON prm.hor = pc.hor ORDER BY horizon, class"""
      },
      "S/L ext: snapshot expiry — per horizon x object class the interval GC rule certified equal to an explicit refcount over surviving snapshots, the earliest surviving version re-read ROW-LEVEL from the post-GC survivor manifest and certified intact, and the premature-GC control (one horizon early) measured losing exactly the rewritten files' live rows at the horizon where it violates the refcount"),

    // q424 — OPTIMISTIC CONCURRENCY: THE DELETE THAT RACED THE
    // COMPACTION. Txn B validates a DELETE against v1 — DV entries
    // keyed (file, row) — while txn A compacts the DV-bearing files
    // and commits first: B's entries now point at REMOVED files. The
    // NAIVE apply is executed mechanically (anti-join of B's entries
    // against the post-compaction state BY FILE ID): entries on
    // untouched files land, entries on rewritten files hit nothing —
    // applied + lost = targets, and the final state diverges from the
    // serial truth by EXACTLY the victims living in rewritten files
    // (loss_explained pins the identity). The conflict CHECK —
    // B's target files ∩ A's removed files — detects the race
    // (conflict_files > 0), and the REBASED apply (entries remapped
    // f → f+100 onto the replacement files, every row of which
    // survived compaction because the two victim bands are disjoint)
    // is certified equal to the serial execution by row/value/
    // checksum signature. Scale: validation intersects two file-id
    // sets (metadata); the applies are keyed anti-joins against
    // entry sets ~2% of the corpus.
    QuerySpec(
      "q424_occ_rebase",
      (s, d) => {
        val keyed = keyedFrame(s, d)
        val (orig, _, rw, untouched, _) = states(keyed)
        val victim2Pred = "h >= 171798691 AND h < 343597383" // next 4% band, all files
        val repl = orig.join(broadcast(rw), Seq("f"), "left_semi")
          .where(expr(s"NOT ($victimPred)")).withColumn("f", col("f") + 100L)
        val astate = untouched.unionByName(repl).localCheckpoint(false)
        val entries = orig.where(expr(s"NOT ($victimPred) AND ($victim2Pred)"))
          .select(col("f").as("ef"), col("k").as("ek")).localCheckpoint(false)
        val rebasedEntries = entries.join(broadcast(rw.withColumn("in_rw", lit(1L))),
            entries("ef") === rw("f"), "left")
          .select(expr("CASE WHEN in_rw = 1 THEN ef + 100 ELSE ef END").as("ef"),
            col("ek"))
        val serial = orig.where(expr(s"NOT ($victimPred) AND NOT ($victim2Pred)"))
        val ssig = serial.agg(count(lit(1)).as("s_rows"), sum("v").as("s_val"),
          expr(chkExpr).as("s_chk")).localCheckpoint(false)
        val nTargets = entries.agg(count(lit(1)).as("targets")).localCheckpoint(false)
        val conflict = rw.join(entries.select(col("ef").as("f")).distinct(), Seq("f"),
          "left_semi").agg(count(lit(1)).as("conflict_files")).localCheckpoint(false)
        val lostTruth = orig.join(broadcast(rw), Seq("f"), "left_semi")
          .agg(sum(when(expr(s"NOT ($victimPred) AND ($victim2Pred)"), 1L)
            .otherwise(0L)).as("vict2_in_rewritten")).localCheckpoint(false)
        def leg(id: String, ents: DataFrame, expectLost: String): DataFrame = {
          val applied = astate.join(ents,
            astate("f") === ents("ef") && astate("k") === ents("ek"), "left_anti")
          val sig = applied.agg(count(lit(1)).as("rows"), sum("v").as("val"),
            expr(chkExpr).as("chk"))
          broadcast(sig).crossJoin(broadcast(ssig)).crossJoin(broadcast(nTargets))
            .crossJoin(broadcast(conflict)).crossJoin(broadcast(lostTruth))
            .crossJoin(broadcast(astate.agg(count(lit(1)).as("a_rows"))))
            .select(lit(id).as("scenario"), col("conflict_files"), col("targets"),
              expr("a_rows - rows").as("applied_deletes"),
              expr("targets - (a_rows - rows)").as("lost_deletes"),
              col("rows"), col("val"), col("chk"),
              expr("CAST(CASE WHEN rows = s_rows AND val = s_val AND chk = s_chk THEN 1 ELSE 0 END AS BIGINT)")
                .as("equal_serial"),
              expr(s"CAST(CASE WHEN targets - (a_rows - rows) = $expectLost THEN 1 ELSE 0 END AS BIGINT)")
                .as("loss_explained"))
        }
        leg("1:naive_apply", entries, "vict2_in_rewritten")
          .unionByName(leg("2:rebased_apply", rebasedEntries, "0"))
          .orderBy("scenario")
      },
      Some {
        val victim2Pred = "h >= 171798691 AND h < 343597383"
        def legSql(id: String, ents: String, expectLost: String): String =
          s"""SELECT '$id' AS scenario,
            (SELECT count(*) FROM rw WHERE f IN (SELECT ef FROM entries)) AS conflict_files,
            (SELECT count(*) FROM entries) AS targets,
            (SELECT count(*) FROM astate) - (SELECT count(*) FROM astate a WHERE NOT EXISTS (SELECT 1 FROM $ents e WHERE e.ef = a.f AND e.ek = a.k)) AS applied_deletes,
            (SELECT count(*) FROM astate a WHERE NOT EXISTS (SELECT 1 FROM $ents e WHERE e.ef = a.f AND e.ek = a.k)) AS rows,
            (SELECT sum(v) FROM astate a WHERE NOT EXISTS (SELECT 1 FROM $ents e WHERE e.ef = a.f AND e.ek = a.k)) AS val,
            (SELECT $chkExpr FROM astate a WHERE NOT EXISTS (SELECT 1 FROM $ents e WHERE e.ef = a.f AND e.ek = a.k)) AS chk,
            $expectLost AS expect_lost"""
        s"""WITH $keyedSql, $statesSql,
          untouched AS (SELECT k, v, h, f FROM orig WHERE f NOT IN (SELECT f FROM rw)),
          repl AS (SELECT k, v, h, f + 100 AS f FROM orig WHERE f IN (SELECT f FROM rw) AND NOT ($victimPred)),
          astate AS (SELECT k, v, f FROM untouched UNION ALL SELECT k, v, f FROM repl),
          entries AS (SELECT f AS ef, k AS ek FROM orig WHERE NOT ($victimPred) AND ($victim2Pred)),
          rebased AS (SELECT CASE WHEN ef IN (SELECT f FROM rw) THEN ef + 100 ELSE ef END AS ef, ek FROM entries),
          serial AS (SELECT k, v FROM orig WHERE NOT ($victimPred) AND NOT ($victim2Pred)),
          ssig AS (SELECT count(*) AS s_rows, sum(v) AS s_val, $chkExpr AS s_chk FROM serial),
          lt AS (SELECT sum(CASE WHEN NOT ($victimPred) AND ($victim2Pred) THEN 1 ELSE 0 END) AS vict2_in_rewritten FROM orig WHERE f IN (SELECT f FROM rw)),
          legs AS (${legSql("1:naive_apply", "entries", "(SELECT vict2_in_rewritten FROM lt)")} UNION ALL ${legSql("2:rebased_apply", "rebased", "0")})
          SELECT scenario, CAST(conflict_files AS BIGINT) AS conflict_files, CAST(targets AS BIGINT) AS targets, CAST(applied_deletes AS BIGINT) AS applied_deletes, CAST(targets - applied_deletes AS BIGINT) AS lost_deletes, CAST(rows AS BIGINT) AS rows, CAST(val AS BIGINT) AS val, CAST(chk AS BIGINT) AS chk, CAST(CASE WHEN rows = s_rows AND val = s_val AND chk = s_chk THEN 1 ELSE 0 END AS BIGINT) AS equal_serial, CAST(CASE WHEN targets - applied_deletes = expect_lost THEN 1 ELSE 0 END AS BIGINT) AS loss_explained FROM legs CROSS JOIN ssig ORDER BY scenario"""
      },
      "S/L ext: optimistic concurrency — a DELETE validated at v1 commits after the compaction moved its target files; the naive file-id apply executed mechanically loses exactly the victims living in rewritten files (loss_explained pins the identity), the file-set conflict check detects the race, and the rebased apply (DV entries remapped onto replacement files) is certified equal to the serial execution by row/value/checksum signature"))
}
