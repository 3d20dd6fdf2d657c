package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QuerySpec
import graft.ops.DedupOps
import graft.ops.HashOps.{md5Long, md5LongSql}

/** Round-6 continuation (driver round counter; builder files run one
  * ahead — BASELINE.md "Round-numbering offset"): the two compositions
  * VERDICT r5 asked for. q251 runs a DELTA batch through the whole
  * curation funnel — the shape a daily ingest actually executes, probing
  * the persisted base indexes instead of recomputing the corpus — and
  * q252 closes the anti-entropy loop by turning q245's Merkle diff into
  * the per-bucket repair batch a replica-sync job would ship.
  */
object R14Queries {

  /** q251's stage survivor tables in funnel order, exposed so the
    * invariant spec can assert SET-level guarantees (no surviving delta
    * doc collides with base, exactly or as a near-dup) that the
    * registered query's count report cannot express. Every stage keeps
    * (doc_id, text) so downstream probes can re-shingle survivors.
    */
  /** The q251 synthetic delta batch: three deterministic classes, all
    * keyed NEGATIVE (the q195/q225 outside-the-id-domain convention,
    * class-disambiguated as -(3·id+c)).
    */
  private[graft] def syntheticDelta(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    def neg(c: Int): Column = (-(col("doc_id") * 3 + c)).as("doc_id")
    val reingest = docs.where(col("doc_id") % 13 === 0)
      .select(neg(1), col("text"))
    val recrawl = docs.where(col("doc_id") % 17 === 0)
      .select(neg(2), concat(col("text"), lit(" v2")).as("text"))
    val fresh = docs.where(col("doc_id") % 19 === 0)
      .select(neg(3), array_join(reverse(split(col("text"), " ")), " ").as("text"))
    reingest.unionByName(recrawl).unionByName(fresh)
  }

  private[graft] def incrFunnelStages(
      s: SparkSession, d: String): Seq[(String, DataFrame)] = {
    // Each stage is lazily localCheckpoint'ed (the q184/q192 stance):
    // q251 counts all five stage tables, so without the lineage cut
    // stage k re-evaluates stages 1..k−1 — 15 stage evaluations for 5
    // tables, and the delta re-tokenizes/re-shingles once per count.
    // The checkpoints pin each survivor table (2 columns, |delta| rows
    // — shuffle-file-sized state, never a cached corpus) so the funnel
    // costs each stage exactly once. Measured (QTime, 32 threads,
    // sf0.1, warm): 7.3–8.8 s → 3.2–4.0 s.
    val s1 = syntheticDelta(s, d).localCheckpoint(false)
    ("delta_raw" -> s1) +: funnelOnDelta(s, d, s1)
  }

  /** The funnel stages 2–5 applied to an ARBITRARY delta (doc_id, text)
    * — the shared core of batch q251 and its streaming foreachBatch
    * twin (EventStream.funnelStream): each micro-batch of a streaming
    * ingest IS a delta batch, probing the same memoized once-per-corpus
    * base indexes (baseMd5, sigRows, shingleSets — keyed on (session,
    * corpus), so a long-running stream builds them once and every
    * subsequent micro-batch pays only |delta| work). Stage list:
    * quality_gate → exact_vs_base → neardup_vs_base → train_split,
    * each lineage-cut like the batch path.
    */
  private[graft] def funnelOnDelta(
      s: SparkSession, d: String, delta: DataFrame): Seq[(String, DataFrame)] = {
    val s1 = delta

    // stage 2: the q124 Gopher gates, computed inline on the delta
    // (the base termFreq memo covers base ids only). The repetition
    // gate's max term frequency is read off the SORTED token array as
    // the longest equal-run (one per-row higher-order fold) instead of
    // the old explode → groupBy(doc,term) → groupBy(doc) → join chain —
    // same rational max(tf)/n_tok, two shuffles and a join fewer
    // (guide §2.4; the q302 pack-into-arrays idiom). A delta doc always
    // has ≥1 token (split("") = [""]), so the join-vs-projection
    // row sets agree.
    val toks = graft.ops.TextOps.tokens(col("text"))
    val maxTf = expr(
      """aggregate(array_sort(split(lower(text), ' ')),
        named_struct('prev', CAST(NULL AS STRING), 'run', 0L, 'best', 0L),
        (acc, x) -> named_struct(
          'prev', x,
          'run', CASE WHEN x <=> acc.prev THEN acc.run + 1L ELSE 1L END,
          'best', greatest(acc.best,
            CASE WHEN x <=> acc.prev THEN acc.run + 1L ELSE 1L END)),
        acc -> acc.best)""")
    val s2 = s1.select(col("doc_id"), col("text"),
        size(toks).cast("long").as("n_tok"),
        (length(regexp_replace(col("text"), " ", "")).cast("long") * 1.0 /
          size(toks).cast("long")).as("mwl"),
        graft.ops.TextOps.markerHits(toks, Seq("the", "a", "and", "of", "to"))
          .as("n_stop"),
        (maxTf * 1.0 / size(toks).cast("long")).as("rep"))
      .where(col("n_tok") >= 30 && col("mwl") >= 4.0 && col("mwl") <= 5.0 &&
        col("n_stop") >= 1 && col("rep") <= 0.12)
      .select("doc_id", "text")
      .localCheckpoint(false)

    // stage 3: exact dedup — anti-join the BASE md5 set (16-byte keys,
    // never text; the memoized once-per-corpus index, like the
    // signature/shingle artifacts below), then within-delta min-id per
    // digest
    val s3 = s2.withColumn("h", md5(col("text")))
      .join(ScaleQueries.baseMd5(s, d), Seq("h"), "left_anti")
      .withColumn("mid", min("doc_id").over(Window.partitionBy("h")))
      .where(col("doc_id") === col("mid"))
      .select("doc_id", "text")
      .localCheckpoint(false)

    // stage 4: near-dup probe — delta signatures equi-join the
    // persisted base signature index; candidates exact-verified at
    // Jaccard >= 0.5 against the cached base shingle sets
    val dsh = DedupOps.shingleRows(s3, "text", 5)
    val dsig = DedupOps.minhashSignatureRows(dsh, 4)
    val cand = dsig.select(col("doc_id").as("a"), col("band"), col("sig"))
      .join(ScaleQueries.sigRows(s, d)
        .select(col("doc_id").as("b"), col("band"), col("sig")), Seq("band", "sig"))
      .select("a", "b").distinct()
    val dSets = dsh.groupBy("doc_id").agg(collect_list(col("s")).as("shs"))
    val allSets = ScaleQueries.shingleSets(s, d).unionByName(dSets)
    val dropped = DedupOps.jaccardForPairs(cand, allSets)
      .where(col("jaccard") >= 0.5)
      .select(col("a").as("doc_id")).distinct()
    val s4 = s3.join(dropped, Seq("doc_id"), "left_anti")
      .localCheckpoint(false)

    // stage 5: deterministic split — pmod, since delta ids are negative
    // and Spark/DuckDB `%` is sign-preserving
    val s5 = s4.where(expr("pmod(doc_id, 10)") < 8)
    Seq("quality_gate" -> s2, "exact_vs_base" -> s3,
      "neardup_vs_base" -> s4, "train_split" -> s5)
  }

  /** q303's stage survivor tables (funnel order), exposed for the
    * invariant spec — the COMPLETE daily-ingest near-dup semantics
    * VERDICT r6 asked for: the funnel's near-dup stage runs BOTH scopes,
    * delta×base (probe the persisted index) AND delta×delta (band the
    * batch against itself). The fixture plants a within-delta pair by
    * construction: classes c=3 and c=4 share a base id, are
    * shingle-disjoint from base (token order reversed), and are
    * near-dups of each other (c=4 = c=3 + ' v2' → Jaccard n/(n+1)), so
    * exactly one of each twin pair must survive stage 4. Ids are
    * -(4·id+c): class-disjoint, and within a twin pair the c=4 row is
    * the smaller id — the greedy pairwise survivor convention (keep the
    * pair's min id; clustering-granular dedup is q90's CC layer).
    *
    * Scale shape: the delta's shingles/signatures are computed ONCE and
    * lineage-cut, then serve both probes; delta×base is an equi-join
    * into the memoized once-per-corpus index (base never recomputed),
    * delta×delta is banding over |delta| signature rows only. A daily
    * 100-TB ingest pays O(|delta|) tokenization + two bounded equi-joins
    * — base×base was settled at base-index build time.
    */
  private[graft] def dualNeardupStages(
      s: SparkSession, d: String): Seq[(String, DataFrame)] = {
    val docs = t(s, d, "documents")
    def neg(c: Int): Column = (-(col("doc_id") * 4 + c)).as("doc_id")
    val revTxt = array_join(reverse(split(col("text"), " ")), " ")
    val reingest = docs.where(col("doc_id") % 13 === 0)
      .select(neg(1), col("text"))
    val recrawl = docs.where(col("doc_id") % 17 === 0)
      .select(neg(2), concat(col("text"), lit(" v2")).as("text"))
    val fresh = docs.where(col("doc_id") % 19 === 0)
      .select(neg(3), revTxt.as("text"))
    val freshTwin = docs.where(col("doc_id") % 19 === 0)
      .select(neg(4), concat(revTxt, lit(" v2")).as("text"))
    val s1 = reingest.unionByName(recrawl).unionByName(fresh)
      .unionByName(freshTwin).localCheckpoint(false)

    // stage 2: exact — anti-join the base md5 index + within-delta
    // min-id per digest (drops class 1)
    val s2 = s1.withColumn("h", md5(col("text")))
      .join(ScaleQueries.baseMd5(s, d), Seq("h"), "left_anti")
      .withColumn("mid", min("doc_id").over(Window.partitionBy("h")))
      .where(col("doc_id") === col("mid"))
      .select("doc_id", "text")
      .localCheckpoint(false)

    // shared once-per-batch artifacts: shingle rows + signatures of the
    // exact-surviving delta, lineage-cut so BOTH near-dup scopes (and
    // the final counts) reuse them without re-tokenizing
    val dsh = DedupOps.shingleRows(s2, "text", 5).localCheckpoint(false)
    val dsig = DedupOps.minhashSignatureRows(dsh, 4).localCheckpoint(false)
    val dSets = dsh.groupBy("doc_id").agg(collect_list(col("s")).as("shs"))

    // stage 3: near-dup DELTA×BASE — probe the persisted base signature
    // index, exact-verify at Jaccard >= 0.5 (drops class 2)
    val candB = dsig.select(col("doc_id").as("a"), col("band"), col("sig"))
      .join(ScaleQueries.sigRows(s, d)
        .select(col("doc_id").as("b"), col("band"), col("sig")), Seq("band", "sig"))
      .select("a", "b").distinct()
    val allSets = ScaleQueries.shingleSets(s, d).unionByName(dSets)
    val dropB = DedupOps.jaccardForPairs(candB, allSets)
      .where(col("jaccard") >= 0.5)
      .select(col("a").as("doc_id")).distinct()
    val s3 = s2.join(dropB, Seq("doc_id"), "left_anti").localCheckpoint(false)

    // stage 4: near-dup DELTA×DELTA — band the surviving batch against
    // itself; for each exact-verified pair (a < b) the larger id drops
    // (greedy min-id survivor, the q33/q34 convention) — kills exactly
    // one of each planted c3/c4 twin (drops class 3: −(4id+4) < −(4id+3))
    val candD = DedupOps.candidatePairs(
      dsig.join(s3.select("doc_id"), "doc_id"))
    val dropD = DedupOps.jaccardForPairs(candD, dSets)
      .where(col("jaccard") >= 0.5)
      .select(col("b").as("doc_id")).distinct()
    val s4 = s3.join(dropD, Seq("doc_id"), "left_anti")
    Seq("delta_raw" -> s1, "exact_vs_base" -> s2,
      "neardup_vs_base" -> s3, "neardup_within_delta" -> s4)
  }

  val specs: Seq[QuerySpec] = Seq(

    // q251 — the INCREMENTAL curation funnel: a synthetic delta batch
    // (three deterministic classes, all keyed NEGATIVE — the q195/q225
    // outside-the-id-domain convention, class-disambiguated as
    // -(3·id+c) so no two classes can collide: c=1 exact re-ingests,
    // c=2 near-dup re-crawls with ' v2' appended, c=3 genuinely-new
    // docs built by reversing the token order — shingle-disjoint from
    // the base but gate-IDENTICAL, since every q124 gate is
    // permutation-invariant) flows through the funnel a daily ingest
    // runs: Gopher gates → exact dedup against the BASE md5 set (plus
    // within-delta, keyed on md5 per the q33 convention) → near-dup
    // probe of the PERSISTED base signature index (the q169 shape:
    // delta×base candidates only, base×base was checked at base-index
    // time) → split. Per-stage in/out/drop like q250. Scale shape: every
    // base-side artifact (sigRows, shingleSets) is the memoized
    // once-per-corpus index — the delta pays |delta| tokenization plus
    // equi-join probes, never a corpus recompute; near-dup scope is
    // delta-vs-base BY DESIGN (within-delta near-dups are the q34
    // family applied to the delta batch, a separate knob).
    QuerySpec(
      "q251_incr_funnel",
      (s, d) => {
        def stage(df: DataFrame, i: Long, name: String) =
          df.agg(count(lit(1)).as("n_out"))
            .select(lit(i).as("stage"), lit(name).as("name"), col("n_out"))
        val st = incrFunnelStages(s, d).zipWithIndex
          .map { case ((name, df), i) => stage(df, i + 1L, name) }
          .reduce(_ unionByName _)
        val w = Window.orderBy("stage")
        st.withColumn("n_in", coalesce(lag("n_out", 1).over(w), col("n_out")))
          .withColumn("drop_bp",
            expr("(n_in - n_out) * 10000 div greatest(n_in, 1)"))
          .select("stage", "name", "n_in", "n_out", "drop_bp")
          .orderBy("stage")
      },
      Some(s"""${ScaleQueries.shingleCte}, delta AS (SELECT -(3 * doc_id + 1) AS doc_id, text FROM documents WHERE doc_id % 13 = 0 UNION ALL SELECT -(3 * doc_id + 2), concat(text, ' v2') FROM documents WHERE doc_id % 17 = 0 UNION ALL SELECT -(3 * doc_id + 3), array_to_string(list_reverse(string_split(text, ' ')), ' ') FROM documents WHERE doc_id % 19 = 0), dtk AS (SELECT doc_id, text, string_split(lower(text), ' ') AS tk FROM delta), dst AS (SELECT doc_id, text, len(tk) AS n_tok, length(replace(text, ' ', '')) * 1.0 / len(tk) AS mwl, len(list_filter(tk, x -> list_contains(['the', 'a', 'and', 'of', 'to'], x))) AS n_stop FROM dtk), dtf AS (SELECT doc_id, term, count(*) AS c FROM (SELECT doc_id, unnest(tk) AS term FROM dtk) z GROUP BY 1, 2), drep AS (SELECT doc_id, max(c) * 1.0 / sum(c) AS rep FROM dtf GROUP BY 1), g2 AS (SELECT dst.doc_id, dst.text FROM dst JOIN drep USING (doc_id) WHERE n_tok >= 30 AND mwl >= 4.0 AND mwl <= 5.0 AND n_stop >= 1 AND rep <= 0.12), g3 AS (SELECT doc_id, text FROM g2 WHERE md5(text) NOT IN (SELECT md5(text) FROM documents) AND doc_id IN (SELECT min(doc_id) FROM g2 GROUP BY md5(text))), dtk3 AS (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM g3), dsh AS (SELECT DISTINCT doc_id, s FROM (SELECT doc_id, unnest([concat_ws(' ', tk[i], tk[i+1], tk[i+2], tk[i+3], tk[i+4]) for i in generate_series(1, len(tk) - 4)]) AS s FROM dtk3) z), dsig AS (SELECT doc_id, band, min(substr(md5(s), band * 8 + 1, 8)) AS sig FROM dsh, (SELECT unnest(generate_series(0, 3)) AS band) b GROUP BY doc_id, band), cand2 AS (SELECT DISTINCT ds.doc_id AS a, bs.doc_id AS b FROM dsig ds JOIN sig bs ON ds.band = bs.band AND ds.sig = bs.sig), dcnt AS (SELECT doc_id, count(*) AS n FROM dsh GROUP BY 1), bcnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1), inter2 AS (SELECT c.a, c.b, count(*) AS ic FROM cand2 c JOIN dsh ON dsh.doc_id = c.a JOIN sh ON sh.doc_id = c.b AND sh.s = dsh.s GROUP BY 1, 2), drop4 AS (SELECT DISTINCT c.a AS doc_id FROM cand2 c JOIN inter2 i ON i.a = c.a AND i.b = c.b JOIN dcnt ON dcnt.doc_id = c.a JOIN bcnt ON bcnt.doc_id = c.b WHERE round(i.ic * 1.0 / (dcnt.n + bcnt.n - i.ic), 6) >= 0.5), g4 AS (SELECT doc_id FROM g3 WHERE doc_id NOT IN (SELECT doc_id FROM drop4)), g5 AS (SELECT doc_id FROM g4 WHERE ((doc_id % 10) + 10) % 10 < 8), st AS (SELECT 1 AS stage, 'delta_raw' AS name, (SELECT count(*) FROM delta) AS n_out UNION ALL SELECT 2, 'quality_gate', (SELECT count(*) FROM g2) UNION ALL SELECT 3, 'exact_vs_base', (SELECT count(*) FROM g3) UNION ALL SELECT 4, 'neardup_vs_base', (SELECT count(*) FROM g4) UNION ALL SELECT 5, 'train_split', (SELECT count(*) FROM g5)) SELECT CAST(stage AS BIGINT) AS stage, name, CAST(lag(n_out, 1, n_out) OVER (ORDER BY stage) AS BIGINT) AS n_in, CAST(n_out AS BIGINT) AS n_out, CAST((lag(n_out, 1, n_out) OVER (ORDER BY stage) - n_out) * 10000 // greatest(lag(n_out, 1, n_out) OVER (ORDER BY stage), 1) AS BIGINT) AS drop_bp FROM st ORDER BY stage"""),
      "E1/E2/E4 capstone: INCREMENTAL curation funnel — delta batch probes the persisted base indexes"),

    // q252 — Merkle diff → REPAIR PLAN: q245 finds the damaged buckets;
    // this query emits what a replica-sync job would actually ship —
    // per damaged bucket, the rows replica B must upsert (op 'insert'
    // for missing, 'overwrite' for corrupt — the q225 CDC-merge op
    // classification) with the repair batch size in bytes. Closes the
    // anti-entropy loop the way q169 closed dedup: detection and repair
    // compose from the same CTE families. Scale: the digest pass moves
    // |buckets| rows; the bad-bucket list broadcasts; only damaged
    // buckets' rows are re-read and the output is the (tiny) repair
    // manifest, never the healthy 99.99% of the table.
    QuerySpec(
      "q252_merkle_repair",
      (s, d) => {
        val rowMd5 = md5Long(concat(col("doc_id").cast("string"), lit(":"), col("h")), 10)
        val docs = t(s, d, "documents")
        val a = docs.select(col("doc_id"), md5(col("text")).as("h"),
          col("n_chars"), expr("doc_id div 64").as("bkt"))
        val b = docs.where(col("doc_id") % 97 =!= 0)
          .select(col("doc_id"),
            md5(when(col("doc_id") % 101 === 0, concat(col("text"), lit(" corrupted")))
              .otherwise(col("text"))).as("h"),
            expr("doc_id div 64").as("bkt"))
        val da = a.groupBy("bkt").agg(sum(rowMd5).as("dig_a"))
        val db = b.groupBy("bkt").agg(sum(rowMd5).as("dig_b"))
        val bad = da.join(db, Seq("bkt"), "left")
          .where(col("dig_b").isNull || col("dig_a") =!= col("dig_b"))
          .select("bkt")
        a.join(broadcast(bad), "bkt")
          .join(b.select(col("doc_id"), col("h").as("hb")), Seq("doc_id"), "left")
          .withColumn("op", when(col("hb").isNull, lit("insert"))
            .when(col("h") =!= col("hb"), lit("overwrite")))
          .where(col("op").isNotNull)
          .groupBy("bkt")
          .agg(count(lit(1)).as("n_upserts"),
            sum((col("op") === "insert").cast("long")).as("n_insert"),
            sum((col("op") === "overwrite").cast("long")).as("n_overwrite"),
            sum("n_chars").as("repair_bytes"))
          .orderBy("bkt")
      },
      Some(s"""WITH a AS (SELECT doc_id, md5(text) AS h, n_chars, doc_id // 64 AS bkt FROM documents), b AS (SELECT doc_id, md5(CASE WHEN doc_id % 101 = 0 THEN concat(text, ' corrupted') ELSE text END) AS h, doc_id // 64 AS bkt FROM documents WHERE doc_id % 97 <> 0), da AS (SELECT bkt, CAST(sum(${md5LongSql("concat(CAST(doc_id AS VARCHAR), ':', h)", 10)}) AS BIGINT) AS dig_a FROM a GROUP BY 1), db AS (SELECT bkt, CAST(sum(${md5LongSql("concat(CAST(doc_id AS VARCHAR), ':', h)", 10)}) AS BIGINT) AS dig_b FROM b GROUP BY 1), bad AS (SELECT da.bkt FROM da LEFT JOIN db USING (bkt) WHERE db.bkt IS NULL OR da.dig_a <> db.dig_b), r AS (SELECT a.bkt, a.doc_id, a.n_chars, CASE WHEN b2.doc_id IS NULL THEN 'insert' WHEN a.h <> b2.h THEN 'overwrite' END AS op FROM a JOIN bad ON a.bkt = bad.bkt LEFT JOIN b b2 ON a.doc_id = b2.doc_id) SELECT bkt, count(*) AS n_upserts, CAST(sum(CASE WHEN op = 'insert' THEN 1 ELSE 0 END) AS BIGINT) AS n_insert, CAST(sum(CASE WHEN op = 'overwrite' THEN 1 ELSE 0 END) AS BIGINT) AS n_overwrite, CAST(sum(n_chars) AS BIGINT) AS repair_bytes FROM r WHERE op IS NOT NULL GROUP BY 1 ORDER BY bkt"""),
      "E1/§2.8 ext: Merkle repair plan — per-damaged-bucket upsert manifest (insert/overwrite + bytes)"),

    // q303 — COMPLETE daily-ingest near-dup semantics (VERDICT r6 ask
    // #2): the q251 funnel's near-dup stage ran delta×base only; this
    // query composes BOTH scopes in one funnel — delta×base probe of
    // the persisted index, THEN delta×delta banding of the survivors —
    // with a planted within-delta twin pair (classes 3/4 share a base
    // id, reversed so base-disjoint, ' v2' apart so Jaccard n/(n+1))
    // of which exactly one survives. Per-stage in/out/drop_bp, the
    // q250/q251 report shape. See dualNeardupStages for the scale
    // argument (shared once-per-batch signatures, equi-join probes,
    // base never recomputed).
    QuerySpec(
      "q303_dual_neardup_funnel",
      (s, d) => {
        def stage(df: DataFrame, i: Long, name: String) =
          df.agg(count(lit(1)).as("n_out"))
            .select(lit(i).as("stage"), lit(name).as("name"), col("n_out"))
        val st = dualNeardupStages(s, d).zipWithIndex
          .map { case ((name, df), i) => stage(df, i + 1L, name) }
          .reduce(_ unionByName _)
        val w = Window.orderBy("stage")
        st.withColumn("n_in", coalesce(lag("n_out", 1).over(w), col("n_out")))
          .withColumn("drop_bp",
            expr("(n_in - n_out) * 10000 div greatest(n_in, 1)"))
          .select("stage", "name", "n_in", "n_out", "drop_bp")
          .orderBy("stage")
      },
      Some(s"""${ScaleQueries.shingleCte}, delta AS (SELECT -(4 * doc_id + 1) AS doc_id, text FROM documents WHERE doc_id % 13 = 0 UNION ALL SELECT -(4 * doc_id + 2), concat(text, ' v2') FROM documents WHERE doc_id % 17 = 0 UNION ALL SELECT -(4 * doc_id + 3), array_to_string(list_reverse(string_split(text, ' ')), ' ') FROM documents WHERE doc_id % 19 = 0 UNION ALL SELECT -(4 * doc_id + 4), concat(array_to_string(list_reverse(string_split(text, ' ')), ' '), ' v2') FROM documents WHERE doc_id % 19 = 0), g2a AS (SELECT doc_id, text FROM delta WHERE md5(text) NOT IN (SELECT md5(text) FROM documents)), g2 AS (SELECT doc_id, text FROM g2a WHERE doc_id IN (SELECT min(doc_id) FROM g2a GROUP BY md5(text))), dtk3 AS (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM g2), dsh AS (SELECT DISTINCT doc_id, s FROM (SELECT doc_id, unnest([concat_ws(' ', tk[i], tk[i+1], tk[i+2], tk[i+3], tk[i+4]) for i in generate_series(1, len(tk) - 4)]) AS s FROM dtk3) z), dsig AS (SELECT doc_id, band, min(substr(md5(s), band * 8 + 1, 8)) AS sig FROM dsh, (SELECT unnest(generate_series(0, 3)) AS band) b GROUP BY doc_id, band), dcnt AS (SELECT doc_id, count(*) AS n FROM dsh GROUP BY 1), bcnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1), candB AS (SELECT DISTINCT ds.doc_id AS a, bs.doc_id AS b FROM dsig ds JOIN sig bs ON ds.band = bs.band AND ds.sig = bs.sig), interB AS (SELECT c.a, c.b, count(*) AS ic FROM candB c JOIN dsh ON dsh.doc_id = c.a JOIN sh ON sh.doc_id = c.b AND sh.s = dsh.s GROUP BY 1, 2), dropB AS (SELECT DISTINCT c.a AS doc_id FROM candB c JOIN interB i ON i.a = c.a AND i.b = c.b JOIN dcnt ON dcnt.doc_id = c.a JOIN bcnt ON bcnt.doc_id = c.b WHERE round(i.ic * 1.0 / (dcnt.n + bcnt.n - i.ic), 6) >= 0.5), g3 AS (SELECT doc_id FROM g2 WHERE doc_id NOT IN (SELECT doc_id FROM dropB)), candD AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b FROM dsig x JOIN dsig y ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id WHERE x.doc_id IN (SELECT doc_id FROM g3) AND y.doc_id IN (SELECT doc_id FROM g3)), interD AS (SELECT c.a, c.b, count(*) AS ic FROM candD c JOIN dsh da ON da.doc_id = c.a JOIN dsh db ON db.doc_id = c.b AND db.s = da.s GROUP BY 1, 2), dropD AS (SELECT DISTINCT c.b AS doc_id FROM candD c JOIN interD i ON i.a = c.a AND i.b = c.b JOIN dcnt ca ON ca.doc_id = c.a JOIN dcnt cb ON cb.doc_id = c.b WHERE round(i.ic * 1.0 / (ca.n + cb.n - i.ic), 6) >= 0.5), g4 AS (SELECT doc_id FROM g3 WHERE doc_id NOT IN (SELECT doc_id FROM dropD)), st AS (SELECT 1 AS stage, 'delta_raw' AS name, (SELECT count(*) FROM delta) AS n_out UNION ALL SELECT 2, 'exact_vs_base', (SELECT count(*) FROM g2) UNION ALL SELECT 3, 'neardup_vs_base', (SELECT count(*) FROM g3) UNION ALL SELECT 4, 'neardup_within_delta', (SELECT count(*) FROM g4)) SELECT CAST(stage AS BIGINT) AS stage, name, CAST(lag(n_out, 1, n_out) OVER (ORDER BY stage) AS BIGINT) AS n_in, CAST(n_out AS BIGINT) AS n_out, CAST((lag(n_out, 1, n_out) OVER (ORDER BY stage) - n_out) * 10000 // greatest(lag(n_out, 1, n_out) OVER (ORDER BY stage), 1) AS BIGINT) AS drop_bp FROM st ORDER BY stage"""),
      "E1/E2 capstone: dual-scope near-dup funnel — delta×base probe THEN delta×delta banding, one survivor per planted twin pair"))
}
