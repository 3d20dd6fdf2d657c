package graft.queries

import org.apache.spark.sql.functions._

import org.apache.spark.sql.expressions.Window

import graft.QuerySpec
import graft.functions.cosineSim

/** Round-8 third widening — closing the operational loops the q324–q326
  * layer opened: q327 APPLIES the dedup policy the q325 sweep priced and
  * compacts the persisted 4-band signature index accordingly (the
  * post-dedup index-maintenance step a daily pipeline runs), reporting
  * per-band bucket/collision shrinkage; q328 prices embedding
  * DIMENSIONALITY the way q325 priced the dedup cutoff — recall@3 and
  * true-top-1 displacement per truncation width, the matryoshka-style
  * storage/quality tradeoff table.
  */
object R35Queries {

  /** DuckDB oracle for q328, assembled programmatically (the q319
    * convention): one UNION ALL leg per truncation width with k a
    * LITERAL, so every engine-side float sum runs in identical index
    * order (list_sum over generate_series(1, k) mirrors the
    * CosineSimilarity expression's i = 0..k-1 loop exactly).
    */
  private def dimTruncOracle: String = {
    def cosSql(k: Int) =
      s"round(list_sum([CAST(q.qe[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE) for i in generate_series(1, $k)]) / (sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) for x in q.qe[1:$k]])) * sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) for x in c.embedding[1:$k]]))), 6)"
    val legs = Seq(8, 16, 32, 64).map { k =>
      s"SELECT $k AS dims, q.qid, c.vec_id AS cid, ${cosSql(k)} AS cos_k FROM q, e c WHERE c.vec_id <> q.qid"
    }.mkString(" UNION ALL ")
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings), q AS (SELECT vec_id AS qid, embedding AS qe FROM e WHERE vec_id < 10), p AS ($legs), r AS (SELECT dims, qid, cid, CAST(row_number() OVER (PARTITION BY dims, qid ORDER BY cos_k DESC, cid) AS BIGINT) AS rn FROM p), truth AS (SELECT qid, cid, rn FROM (SELECT qid, cid, CAST(row_number() OVER (PARTITION BY qid ORDER BY cos_k DESC, cid) AS BIGINT) AS rn FROM p WHERE dims = 64) z WHERE rn <= 3), scored AS (SELECT r.dims, CAST(sum(CASE WHEN r.rn <= 3 AND t.cid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits3, CAST(sum(CASE WHEN t1.cid IS NOT NULL THEN r.rn ELSE 0 END) AS BIGINT) AS top1_rank_sum FROM r LEFT JOIN truth t ON t.qid = r.qid AND t.cid = r.cid LEFT JOIN (SELECT qid, cid FROM truth WHERE rn = 1) t1 ON t1.qid = r.qid AND t1.cid = r.cid GROUP BY 1), nq AS (SELECT CAST(count(*) AS BIGINT) AS n_q FROM q) SELECT CAST(dims AS BIGINT) AS dims, n_q, hits3, CAST(hits3 * 10000 // (n_q * 3) AS BIGINT) AS recall3_bp, top1_rank_sum FROM scored CROSS JOIN nq ORDER BY dims"""
  }

  val specs: Seq[QuerySpec] = Seq(

    // q327 — SIGNATURE-INDEX COMPACTION UNDER THE CHOSEN POLICY: q325
    // priced the cutoffs; this query commits to T = 0.90 (the knee of
    // the sweep on this corpus — the verbatim twins sit above it, the
    // benign-overlap mass below) and performs the index-maintenance
    // step that follows an applied dedup: drop the losers' signature
    // rows from the persisted 4-band MinHash index. Per band it reads
    // out rows/buckets/collision-buckets before vs after — collision
    // buckets (>= 2 docs) are the index's candidate-generating capacity,
    // so coll_after is the number a dedup-ops dashboard watches (a
    // compaction that leaves collision capacity unchanged means the
    // policy removed only bucket-singletons — i.e. nothing). One
    // (band, sig) keyed aggregation carries BOTH states: each bucket
    // counts its members and its dropped members, the per-band rollup
    // derives after = before - dropped — the index is scanned once,
    // never twice. Work: dth is the q325 shape (bounded candidates),
    // the compaction scan is |index| = 4 rows/doc — linear.
    QuerySpec(
      "q327_index_compaction",
      (s, d) => {
        val dropped = ScaleQueries.unionCandJacc(s, d)
          .groupBy(col("b").as("doc_id")).agg(max("jbp").as("dth"))
          .where(col("dth") >= 9000L)
          .select(col("doc_id"), lit(1L).as("dr"))
        val buckets = ScaleQueries.sigRows(s, d)
          .join(dropped, Seq("doc_id"), "left")
          .groupBy("band", "sig")
          .agg(count(lit(1)).as("nb"), coalesce(sum("dr"), lit(0L)).as("nd"))
        buckets.groupBy(col("band").cast("long").as("band"))
          .agg(
            sum("nb").as("rows_before"),
            sum("nd").as("rows_removed"),
            sum(col("nb") - col("nd")).as("rows_after"),
            count(lit(1)).as("buckets_before"),
            sum(when(col("nb") - col("nd") > 0L, 1L).otherwise(0L)).as("buckets_after"),
            sum(when(col("nb") >= 2L, 1L).otherwise(0L)).as("coll_buckets_before"),
            sum(when(col("nb") - col("nd") >= 2L, 1L).otherwise(0L)).as("coll_buckets_after"))
          .orderBy("band")
      },
      Some(s"""${ScaleQueries.shingleCte}${R34Queries.rareCteTail}, candu AS (SELECT a, b FROM ground UNION SELECT a, b FROM cand), ix AS (SELECT g.a, g.b, count(*) AS ix FROM candu g JOIN sh sa ON sa.doc_id = g.a JOIN sh sb ON sb.doc_id = g.b AND sb.s = sa.s GROUP BY 1, 2), jp AS (SELECT g.b, ix.ix * 10000 // (na.n + nb.n - ix.ix) AS jbp FROM candu g JOIN ix ON ix.a = g.a AND ix.b = g.b JOIN sizes na ON na.doc_id = g.a JOIN sizes nb ON nb.doc_id = g.b), dropped AS (SELECT b AS doc_id FROM jp GROUP BY 1 HAVING max(jbp) >= 9000), buckets AS (SELECT band, sig.sig, count(*) AS nb, count(dr.doc_id) AS nd FROM sig LEFT JOIN dropped dr ON dr.doc_id = sig.doc_id GROUP BY 1, 2) SELECT CAST(band AS BIGINT) AS band, CAST(sum(nb) AS BIGINT) AS rows_before, CAST(sum(nd) AS BIGINT) AS rows_removed, CAST(sum(nb - nd) AS BIGINT) AS rows_after, CAST(count(*) AS BIGINT) AS buckets_before, CAST(sum(CASE WHEN nb - nd > 0 THEN 1 ELSE 0 END) AS BIGINT) AS buckets_after, CAST(sum(CASE WHEN nb >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS coll_buckets_before, CAST(sum(CASE WHEN nb - nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS coll_buckets_after FROM buckets GROUP BY band ORDER BY band"""),
      "E2 ext: post-dedup signature-index compaction — per-band rows/buckets/collision capacity before vs after dropping the policy's losers"),

    // q328 — DIMENSION-TRUNCATION RECALL AUDIT (matryoshka tradeoff):
    // how much ANN quality survives if the 64-dim embeddings are stored
    // and searched at their first 8/16/32 dims? Per truncation width k:
    // brute-force top-3 under the TRUNCATED cosine for the standard
    // query set (vec_id < 10, the q37/q163 convention), scored against
    // the full-dim ground truth two ways — recall@3 (overlap in bp) and
    // the summed displacement of the TRUE top-1 in the truncated
    // ranking (top1_rank_sum = n_q exactly when every true nearest
    // neighbor is still ranked first; each unit above that is one
    // position of quality lost — a rank statistic, so it needs no
    // float-aggregate determinism care). The k = 64 leg is the
    // self-check row (recall 10000, rank sum n_q by construction).
    // Truncated legs are unrolled with LITERAL widths so slice() gets
    // compile-time bounds and each engine sums products in identical
    // index order. Work per leg: |queries| × corpus with the query side
    // broadcast — the q37 brute-force budget, 4×; the per-(dims, qid)
    // rank windows partition on the query key, never globally. On this
    // synthetic corpus the embeddings are isotropic (no matryoshka
    // training), so the MEASURED answer is brutal — recall@3 ~10% below
    // 64 dims — while the rank sums still improve monotonically with
    // width (915 → 168 → n_q at sf0.01): exactly the evidence the audit
    // exists to produce before anyone truncates a real index.
    QuerySpec(
      "q328_dim_truncation_recall",
      (s, d) => {
        val e = t(s, d, "embeddings")
        val q = e.where(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        val w = Window.partitionBy("dims", "qid").orderBy(col("cos_k").desc, col("cid").asc)
        val ranked = Seq(8, 16, 32, 64).map { k =>
          broadcast(q).crossJoin(e)
            .where(col("vec_id") =!= col("qid"))
            .select(lit(k.toLong).as("dims"), col("qid"), col("vec_id").as("cid"),
              round(cosineSim(slice(col("qe"), 1, k), slice(col("embedding"), 1, k)), 6).as("cos_k"))
        }.reduce(_ unionByName _)
          .withColumn("rn", row_number().over(w).cast("long"))
        val truth = ScaleQueries.truthTop3(s, d)
        // one left-join pass over ALL ranked rows, so a width whose
        // recall is ZERO still gets its grid row (an inner hit-join
        // would silently drop it — measured: dims=16 scores 0/30 here)
        val scored = ranked
          .join(truth.select(col("qid"), col("cid"), lit(1L).as("th")),
            Seq("qid", "cid"), "left")
          .join(truth.where(col("rn") === 1)
            .select(col("qid"), col("cid"), lit(1L).as("t1")),
            Seq("qid", "cid"), "left")
          .groupBy("dims")
          .agg(
            sum(when(col("rn") <= 3 && col("th") === 1L, 1L).otherwise(0L)).as("hits3"),
            sum(when(col("t1") === 1L, col("rn")).otherwise(0L)).as("top1_rank_sum"))
        val nq = q.agg(count(lit(1)).as("n_q"))
        scored
          .crossJoin(broadcast(nq))
          .select(col("dims"), col("n_q"), col("hits3"),
            expr("hits3 * 10000 div (n_q * 3)").as("recall3_bp"),
            col("top1_rank_sum"))
          .orderBy("dims")
      },
      Some(dimTruncOracle),
      "E3 ext: dimension-truncation recall audit — recall@3 and true-top-1 displacement per matryoshka truncation width vs full-dim ground truth"),

    // q329 — IVF NPROBE SWEEP (recall-vs-scan-cost frontier): the
    // vector-side twin of q324's LSH S-curve — for nprobe ∈ {1,2,4,8},
    // probe the persisted IVF index's top-nprobe cells per query and
    // read out recall@3 against the brute-force truth NEXT TO the exact
    // candidate-scan count the recall cost. This is THE table an ANN
    // deployment tunes from: where recall plateaus before nprobe = K is
    // free headroom, and nprobe = K (scan everything) is the built-in
    // self-check row (recall 10000 by construction). Each vector joins
    // the per-query cell ranking through its ONE assigned cell, so a
    // candidate row exists exactly once per (query, vector) and the
    // nprobe legs are a broadcast 4-row range join over it — work is
    // 4 × |queries| × corpus at worst, the q37 budget, never quadratic
    // in the corpus. Cell ranking and exact re-rank both follow the
    // house cosine convention (round 6, ties to lowest id), so the whole
    // frontier is value-exact in DuckDB.
    QuerySpec(
      "q329_nprobe_sweep",
      (s, d) => {
        val al = ScaleQueries.ivfFlat(s, d)
        val e = t(s, d, "embeddings")
        val cents = e.where(col("vec_id") < ScaleQueries.ivfCells)
          .select(col("vec_id").as("cent_id"), col("embedding").as("ce"))
        val q = e.where(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        val wc = Window.partitionBy("qid").orderBy(col("cos_c").desc, col("cent_id").asc)
        val cellRank = broadcast(q).crossJoin(broadcast(cents))
          .select(col("qid"), col("qe"), col("cent_id"),
            round(cosineSim(col("qe"), col("ce")), 6).as("cos_c"))
          .withColumn("crn", row_number().over(wc).cast("long"))
        val cand = cellRank
          .join(al.select(col("vec_id").as("cid"), col("embedding").as("cemb"), col("cell")),
            col("cent_id") === col("cell"))
          .where(col("cid") =!= col("qid"))
          .select(col("qid"), col("cid"), col("crn"),
            round(cosineSim(col("qe"), col("cemb")), 6).as("cos_r"))
        val grid = s.range(0, 1, 1, 1).select(explode(array(
          Seq(1L, 2L, 4L, 8L).map(lit): _*)).as("np"))
        val w = Window.partitionBy("np", "qid").orderBy(col("cos_r").desc, col("cid").asc)
        val legs = broadcast(grid).join(cand, col("crn") <= col("np"))
          .withColumn("rn", row_number().over(w).cast("long"))
        val truth = ScaleQueries.truthTop3(s, d)
        val scored = legs
          .join(truth.select(col("qid"), col("cid"), lit(1L).as("th")),
            Seq("qid", "cid"), "left")
          .groupBy("np")
          .agg(count(lit(1)).as("cand_scanned"),
            sum(when(col("rn") <= 3 && col("th") === 1L, 1L).otherwise(0L)).as("hits3"))
        val nq = q.agg(count(lit(1)).as("n_q"))
        scored.crossJoin(broadcast(nq))
          .select(col("np"), col("n_q"), col("cand_scanned"), col("hits3"),
            expr("hits3 * 10000 div (n_q * 3)").as("recall3_bp"))
          .orderBy("np")
      },
      Some {
        val dot = "round(list_sum([CAST(a.embedding[i] AS DOUBLE) * CAST(b.ce[i] AS DOUBLE) for i in generate_series(1, len(a.embedding))]) / (a.nrm * b.cnrm), 6)"
        s"""WITH e AS (SELECT vec_id, embedding, ${ScaleQueries.emL2} AS nrm FROM embeddings), cents AS (SELECT vec_id AS cent_id, embedding AS ce, nrm AS cnrm FROM e WHERE vec_id < ${ScaleQueries.ivfCells}), asg AS (SELECT a.vec_id, a.embedding, a.nrm, b.cent_id AS cell, row_number() OVER (PARTITION BY a.vec_id ORDER BY $dot DESC, b.cent_id) AS rn FROM e a CROSS JOIN cents b), cells AS (SELECT vec_id, embedding, nrm, cell FROM asg WHERE rn = 1), q AS (SELECT vec_id AS qid, embedding AS qe, nrm AS qnrm FROM e WHERE vec_id < 10), cr AS (SELECT z.qid, z.qe, z.qnrm, z.cent_id, CAST(row_number() OVER (PARTITION BY z.qid ORDER BY z.cos_c DESC, z.cent_id) AS BIGINT) AS crn FROM (SELECT q.qid, q.qe, q.qnrm, b.cent_id, round(list_sum([CAST(q.qe[i] AS DOUBLE) * CAST(b.ce[i] AS DOUBLE) for i in generate_series(1, len(q.qe))]) / (q.qnrm * b.cnrm), 6) AS cos_c FROM q CROSS JOIN cents b) z), cand AS (SELECT cr.qid, c.vec_id AS cid, cr.crn, round(list_sum([CAST(cr.qe[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE) for i in generate_series(1, len(cr.qe))]) / (cr.qnrm * c.nrm), 6) AS cos_r FROM cr JOIN cells c ON c.cell = cr.cent_id AND c.vec_id <> cr.qid), grid AS (SELECT unnest([1, 2, 4, 8]) AS np), legs AS (SELECT g.np, cand.qid, cand.cid, cand.cos_r, CAST(row_number() OVER (PARTITION BY g.np, cand.qid ORDER BY cand.cos_r DESC, cand.cid) AS BIGINT) AS rn FROM grid g JOIN cand ON cand.crn <= g.np), tp AS (SELECT q.qid, c.vec_id AS cid, round(list_sum([CAST(q.qe[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE) for i in generate_series(1, len(q.qe))]) / (q.qnrm * c.nrm), 6) AS cos_r FROM q CROSS JOIN e c WHERE c.vec_id <> q.qid), truth AS (SELECT qid, cid FROM (SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY cos_r DESC, cid) AS rn FROM tp) z WHERE rn <= 3), scored AS (SELECT np, CAST(count(*) AS BIGINT) AS cand_scanned, CAST(sum(CASE WHEN legs.rn <= 3 AND t.cid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits3 FROM legs LEFT JOIN truth t ON t.qid = legs.qid AND t.cid = legs.cid GROUP BY 1), nq AS (SELECT CAST(count(*) AS BIGINT) AS n_q FROM q) SELECT CAST(np AS BIGINT) AS np, n_q, cand_scanned, hits3, CAST(hits3 * 10000 // (n_q * 3) AS BIGINT) AS recall3_bp FROM scored CROSS JOIN nq ORDER BY np"""
      },
      "E3 ext: IVF nprobe sweep — recall@3 vs exact candidate-scan cost per probe depth against brute-force truth (deployment tuning frontier)"),

    // q330 — CROSS-SOURCE VERBATIM-QUOTATION MATRIX: q310's cross-source
    // duplication matrix sees only md5-identical docs; this one
    // aggregates the RUN signal (q323's maximal shared consecutive
    // shingle runs) by unordered source pair, so near-identical and
    // partially-quoting docs count too — "which sources copy from each
    // other, and how many verbatim tokens flow between them". A pair
    // qualifies at max_run >= 3 (>= 7 verbatim tokens, below which
    // 5-gram runs are idiom noise); excerpt_pairs additionally counts
    // pairs whose run covers >= 80% of the SMALLER doc's shingle set
    // (max_run*10 >= 8*least(na,nb) — integer arithmetic, no ratio
    // column) — the source-of/quoted-by relationship a takedown or
    // licensing audit needs. All inputs are the memoized pair bases
    // (unionCand / unionCandJacc) plus the candidate-bounded positional
    // explode q323 already budgets; the matrix itself is a |sources|²-
    // bounded aggregate. Diagonal rows are intra-source duplication.
    QuerySpec(
      "q330_quote_matrix",
      (s, d) => {
        val cand = ScaleQueries.unionCand(s, d)
        val docs = cand.select(col("a").as("doc_id"))
          .unionByName(cand.select(col("b").as("doc_id"))).distinct()
        // 16-byte md5 digests in place of shingle strings for the run
        // core's position joins (guide §2.3; the q321/q323 convention —
        // equality-only use, collision-free, identical counts)
        val pos = R33Queries.posShingles(
          t(s, d, "documents").join(docs, "doc_id")
            .select(col("doc_id"), split(lower(col("text")), " ").as("tk")))
          .select(col("doc_id"), col("pos"), unhex(md5(col("s"))).as("s"))
          .localCheckpoint(false)
        val rs = graft.ops.DedupOps.maxSharedRuns(cand, pos, pos)
        val src = t(s, d, "documents").select(col("doc_id"), col("source"))
        cand.join(rs, Seq("a", "b"))
          .where(col("max_run") >= 3L)
          .join(ScaleQueries.unionCandJacc(s, d).select("a", "b", "na", "nb"), Seq("a", "b"))
          .join(src.select(col("doc_id").as("a"), col("source").as("sa")), Seq("a"))
          .join(src.select(col("doc_id").as("b"), col("source").as("sb")), Seq("b"))
          .select(least(col("sa"), col("sb")).as("src_lo"),
            greatest(col("sa"), col("sb")).as("src_hi"),
            col("max_run"),
            when(col("max_run") * 10L >= least(col("na"), col("nb")) * 8L, 1L)
              .otherwise(0L).as("is_excerpt"))
          .groupBy("src_lo", "src_hi")
          .agg(count(lit(1)).as("n_pairs"),
            sum(col("max_run") + 4L).as("verbatim_tokens"),
            max(col("max_run") + 4L).as("max_quote_tokens"),
            sum("is_excerpt").as("excerpt_pairs"))
          .orderBy("src_lo", "src_hi")
      },
      Some(s"""WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents), pos AS (SELECT doc_id, CAST(u['p'] AS BIGINT) AS pos, CAST(u['s'] AS VARCHAR) AS s FROM (SELECT doc_id, unnest([{'p': i, 's': concat_ws(' ', tk[i], tk[i+1], tk[i+2], tk[i+3], tk[i+4])} for i in generate_series(1, len(tk) - 4)]) AS u FROM toks)), sh AS (SELECT DISTINCT doc_id, s FROM pos), sig AS (SELECT doc_id, band, min(substr(md5(s), band * 8 + 1, 8)) AS sig FROM sh, (SELECT unnest(generate_series(0, 3)) AS band) b GROUP BY doc_id, band), mc AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b FROM sig x JOIN sig y ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id), dfq AS (SELECT s, count(*) AS dfreq FROM sh GROUP BY 1), rare AS (SELECT s FROM dfq WHERE dfreq BETWEEN 2 AND 4), shr AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare USING (s)), cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b FROM shr x JOIN shr y ON x.s = y.s AND x.doc_id < y.doc_id UNION SELECT a, b FROM mc), m AS (SELECT c.a, c.b, pa.pos AS pa, pb.pos AS pb FROM cand c JOIN pos pa ON pa.doc_id = c.a JOIN pos pb ON pb.doc_id = c.b AND pb.s = pa.s), r AS (SELECT a, b, pa - pb AS diag, pa, pa - row_number() OVER (PARTITION BY a, b, pa - pb ORDER BY pa) AS g FROM m), runs AS (SELECT a, b, count(*) AS len FROM r GROUP BY a, b, diag, g), rs AS (SELECT a, b, CAST(max(len) AS BIGINT) AS max_run FROM runs GROUP BY 1, 2), sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1), q AS (SELECT least(da.source, db.source) AS src_lo, greatest(da.source, db.source) AS src_hi, rs.max_run, CASE WHEN rs.max_run * 10 >= least(na.n, nb.n) * 8 THEN 1 ELSE 0 END AS is_excerpt FROM rs JOIN sizes na ON na.doc_id = rs.a JOIN sizes nb ON nb.doc_id = rs.b JOIN documents da ON da.doc_id = rs.a JOIN documents db ON db.doc_id = rs.b WHERE rs.max_run >= 3) SELECT src_lo, src_hi, CAST(count(*) AS BIGINT) AS n_pairs, CAST(sum(max_run + 4) AS BIGINT) AS verbatim_tokens, CAST(max(max_run + 4) AS BIGINT) AS max_quote_tokens, CAST(sum(is_excerpt) AS BIGINT) AS excerpt_pairs FROM q GROUP BY 1, 2 ORDER BY 1, 2"""),
      "E1/E2 ext: cross-source verbatim-quotation matrix — run-signal token flow per source pair with excerpt-relationship counts (what the md5 matrix q310 cannot see)"))
}
