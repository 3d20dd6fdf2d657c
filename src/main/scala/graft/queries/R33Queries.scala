package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Bases, QuerySpec}
import graft.Tables
import graft.ops.TextOps
import graft.functions.cosineSim

/** Round-8 widening — the four depth gaps VERDICT r7 ranked: the BPE
  * loop CLOSED (q319 applies the learned merges and reads out per-lang
  * fertility/compression — the number a multilingual data team actually
  * watches), the ANN index's daily-ingest operation (q320: delta
  * assigned to the PERSISTED centroids, occupancy churn + recall vs a
  * one-Lloyd-step rebuild), the exact-substring signal set-based
  * near-dup cannot see (q321: positional shingles + diagonal islands →
  * maximal shared runs), and the quantified CEP pattern (q322:
  * view → click⁺ → purchase with per-step deadlines — the
  * MATCH_RECOGNIZE quantifier shape q317's fixed 3-step join can't
  * express).
  *
  * Cross-engine determinism follows the house rules: integer micro/bp
  * grids via `div`, round(·,6) cosines, struct-min match policies with
  * every tie-breaking field packed in the SAME order on both engines,
  * and planted fixtures on negative ids (q293/q305/q310 convention).
  */
object R33Queries {

  private val emL2 = ScaleQueries.emL2

  /** Positional 5-gram shingles over (doc_id, tk) token arrays: pos is
    * 1-based on both engines so diagonals line up; docs under 5 tokens
    * produce no shingles (the sequence() guard — Spark's sequence(1, n)
    * REVERSES when n < 1, DuckDB's generate_series is empty, so the
    * guard is correctness, not style). Feeds DedupOps.maxSharedRuns.
    */
  private[graft] def posShingles(docs: DataFrame): DataFrame = docs
    .where(size(col("tk")) >= 5)
    .select(col("doc_id"), explode(expr(
      "transform(sequence(1, size(tk) - 4), i -> struct(CAST(i AS BIGINT) AS pos, concat_ws(' ', tk[i - 1], tk[i], tk[i + 1], tk[i + 2], tk[i + 3]) AS s))"))
      .as("u"))
    .select(col("doc_id"), col("u.pos").as("pos"), col("u.s").as("s"))

  /** Shared BPE-encoded word table (q319 + q365): the 6-merge BPE chain —
    * learn on the bounded top-100 count-weighted word table, apply the
    * merges in learned order to the full distinct vocabulary — joined
    * back to per-(lang, word) counts: (lang, w, cnt, n_tok). Memoized
    * like the dedup pair bases so the fertility audit and the estimator
    * calibration read the SAME encoding; its lineage ends at the 6 merge
    * localCheckpoints, which the memo owns.
    */
  private[queries] def bpeEncoded(s: SparkSession, d: String): DataFrame =
    Bases.memo(s, d, "bpeEncoded") {
      val docs = t(s, d, "documents")
      val spaced = (c: org.apache.spark.sql.Column) =>
        concat(lit(" "), trim(regexp_replace(c, "(.)", "$1 ")), lit(" "))
      val top = docs.select(explode(TextOps.tokens(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("w")).limit(100)
        .select(spaced(col("w")).as("sym"), col("cnt"))
      def pairs(df: DataFrame): DataFrame = df
        .select(col("cnt"), split(trim(col("sym")), " ").as("arr"))
        .where(size(col("arr")) >= 2)
        .select(col("cnt"), explode(expr(
          "transform(sequence(1, size(arr) - 1), i -> concat_ws(' ', arr[i - 1], arr[i]))"))
          .as("pair"))
        .groupBy("pair").agg(sum("cnt").as("weight"))
      def top1(df: DataFrame): DataFrame = df
        .orderBy(col("weight").desc, col("pair")).limit(1).select("pair")
      def applyMerge(df: DataFrame, m: DataFrame): DataFrame = df
        .crossJoin(broadcast(m.select(col("pair").as("mp"))))
        .withColumn("sym",
          expr("replace(sym, concat(' ', mp, ' '), concat(' ', replace(mp, ' ', ''), ' '))"))
        .drop("mp")
      // Learn 6 merges sequentially (bounded unroll, the q90/q161
      // convention); each argmax is checkpointed so its single row is
      // computed once however many downstream plans reference it.
      var wt = top
      val merges = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      for (_ <- 1 to 6) {
        val m = top1(pairs(wt)).localCheckpoint(false)
        merges += m
        wt = applyMerge(wt, m)
      }
      val lw = docs.select(col("lang"), explode(TextOps.tokens(col("text"))).as("w"))
        .groupBy("lang", "w").agg(count(lit(1)).as("cnt"))
      var vocab = lw.select("w").distinct().select(col("w"), spaced(col("w")).as("sym"))
      for (m <- merges) vocab = applyMerge(vocab, m)
      val enc = vocab.select(col("w"),
        size(split(trim(col("sym")), " ")).cast("long").as("n_tok"))
      lw.join(enc, "w")
    }

  /** DuckDB CTE chain replaying [[bpeEncoded]] — ends in `lw` (lang, w,
    * cnt) and `enc` (w, n_tok); shared by the q319 and q365 oracles.
    */
  private[queries] def bpeEncCtes: String = {
    val K = 6
    def pairsCte(src: String, out: String) =
      s"$out AS (SELECT pair, CAST(sum(cnt) AS BIGINT) AS weight FROM (SELECT cnt, unnest([arr[i] || ' ' || arr[i + 1] for i in generate_series(1, len(arr) - 1)]) AS pair FROM (SELECT cnt, string_split(trim(sym), ' ') AS arr FROM $src) WHERE len(arr) >= 2) GROUP BY 1)"
    def mCte(k: Int) = s"m$k AS (SELECT pair FROM p$k ORDER BY weight DESC, pair LIMIT 1)"
    def applySql(mk: String) =
      s"replace(sym, ' ' || (SELECT pair FROM $mk) || ' ', ' ' || replace((SELECT pair FROM $mk), ' ', '') || ' ')"
    val ctes = scala.collection.mutable.ArrayBuffer(
      """w1 AS (SELECT ' ' || trim(regexp_replace(w, '(.)', '\1 ', 'g')) || ' ' AS sym, cnt FROM (SELECT w, count(*) AS cnt FROM (SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents) GROUP BY 1 ORDER BY cnt DESC, w LIMIT 100))""")
    for (k <- 1 to K) {
      ctes += pairsCte(s"w$k", s"p$k")
      ctes += mCte(k)
      if (k < K) ctes += s"w${k + 1} AS (SELECT ${applySql(s"m$k")} AS sym, cnt FROM w$k)"
    }
    ctes += "lw AS (SELECT lang, w, count(*) AS cnt FROM (SELECT lang, unnest(string_split(lower(text), ' ')) AS w FROM documents) GROUP BY 1, 2)"
    ctes += """v0 AS (SELECT w, ' ' || trim(regexp_replace(w, '(.)', '\1 ', 'g')) || ' ' AS sym FROM (SELECT DISTINCT w FROM lw))"""
    for (k <- 1 to K)
      ctes += s"v$k AS (SELECT w, ${applySql(s"m$k")} AS sym FROM v${k - 1})"
    ctes += s"enc AS (SELECT w, CAST(len(string_split(trim(sym), ' ')) AS BIGINT) AS n_tok FROM v$K)"
    ctes.mkString(", ")
  }

  // ---------------------------------------------------------------- q319
  /** DuckDB oracle for q319, assembled programmatically: the 6-step
    * merge-learning chain is q292's CTE pattern repeated (pairs → argmax
    * → apply), then the learned merges are applied IN ORDER to the full
    * distinct-word vocabulary and fertility is read per language.
    */
  private def bpeFertilityOracle: String =
    "WITH " + bpeEncCtes +
      " SELECT lang, CAST(sum(cnt) AS BIGINT) AS n_words, CAST(sum(cnt * n_tok) AS BIGINT) AS n_tokens, CAST(sum(cnt * length(w)) AS BIGINT) AS n_chars, CAST(sum(cnt * n_tok) * 1000000 // sum(cnt) AS BIGINT) AS fertility_micro, CAST(sum(cnt * length(w)) * 1000000 // sum(cnt * n_tok) AS BIGINT) AS chars_per_token_micro FROM lw JOIN enc USING (w) GROUP BY 1 ORDER BY 1"

  // ---------------------------------------------------------------- q320
  private def incrIvfRecallOracle: String = {
    val dotAB =
      "round(list_sum([CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE) for i in generate_series(1, len(a.embedding))]) / (a.nrm * b.nrm), 6)"
    val cosQC =
      "round(list_sum([CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE) for i in generate_series(1, len(q.embedding))]) / (q.nrm * c.nrm), 6)"
    val cosQE =
      "round(list_sum([CAST(qi.embedding[i] AS DOUBLE) * CAST(ce.embedding[i] AS DOUBLE) for i in generate_series(1, len(qi.embedding))]) / (qi.nrm * ce.nrm), 6)"
    s"""WITH e AS (SELECT vec_id, embedding, $emL2 AS nrm FROM embeddings), asg AS (SELECT a.vec_id, b.vec_id AS cell, row_number() OVER (PARTITION BY a.vec_id ORDER BY $dotAB DESC, b.vec_id) AS rn FROM e a CROSS JOIN (SELECT vec_id, embedding, nrm FROM e WHERE vec_id < 8) b), inc AS (SELECT vec_id, cell FROM asg WHERE rn = 1), ex AS (SELECT vec_id, u['p'] AS pos, CAST(u['x'] AS DOUBLE) AS x FROM (SELECT vec_id, unnest([{'p': i, 'x': embedding[i]} for i in generate_series(1, len(embedding))]) AS u FROM embeddings)), c1 AS (SELECT inc.cell, ex.pos, avg(ex.x) AS cx FROM ex JOIN inc USING (vec_id) GROUP BY 1, 2), d2 AS (SELECT ex.vec_id, c1.cell, sum(ex.x * c1.cx) AS dot, sqrt(sum(ex.x * ex.x)) AS nv, sqrt(sum(c1.cx * c1.cx)) AS nc FROM ex JOIN c1 USING (pos) GROUP BY 1, 2), reb AS (SELECT vec_id, cell FROM (SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY round(dot / (nv * nc), 6) DESC, cell) AS rn FROM d2) WHERE rn = 1), q AS (SELECT vec_id AS qid, embedding, nrm FROM e WHERE vec_id % 50 >= 48), truth AS (SELECT qid, cid FROM (SELECT q.qid, c.vec_id AS cid, row_number() OVER (PARTITION BY q.qid ORDER BY $cosQC DESC, c.vec_id) AS rn FROM q JOIN e c ON c.vec_id <> q.qid) z WHERE rn <= 3), qi_inc AS (SELECT q.qid, q.embedding, q.nrm, i.cell FROM q JOIN inc i ON i.vec_id = q.qid), cand_inc AS (SELECT qi.qid, ce.vec_id AS cid, $cosQE AS cos_r FROM qi_inc qi JOIN (SELECT e.vec_id, e.embedding, e.nrm, inc.cell FROM e JOIN inc ON inc.vec_id = e.vec_id) ce ON ce.cell = qi.cell AND ce.vec_id <> qi.qid), top_inc AS (SELECT qid, cid FROM (SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY cos_r DESC, cid) AS rn FROM cand_inc) WHERE rn <= 3), hits_inc AS (SELECT CAST(count(*) AS BIGINT) AS hits FROM top_inc t JOIN truth USING (qid, cid)), qi_reb AS (SELECT q.qid, q.embedding, q.nrm, r.cell FROM q JOIN reb r ON r.vec_id = q.qid), cand_reb AS (SELECT qi.qid, ce.vec_id AS cid, $cosQE AS cos_r FROM qi_reb qi JOIN (SELECT e.vec_id, e.embedding, e.nrm, reb.cell FROM e JOIN reb ON reb.vec_id = e.vec_id) ce ON ce.cell = qi.cell AND ce.vec_id <> qi.qid), top_reb AS (SELECT qid, cid FROM (SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY cos_r DESC, cid) AS rn FROM cand_reb) WHERE rn <= 3), hits_reb AS (SELECT CAST(count(*) AS BIGINT) AS hits FROM top_reb t JOIN truth USING (qid, cid)), nq AS (SELECT CAST(count(*) AS BIGINT) AS n_q FROM q), mv AS (SELECT CAST(count(*) AS BIGINT) AS n_moved FROM inc JOIN reb USING (vec_id) WHERE inc.cell <> reb.cell) SELECT * FROM (SELECT 'incremental' AS path, n_q, hits, CAST(hits * 10000 // (3 * n_q) AS BIGINT) AS recall_bp, CAST(0 AS BIGINT) AS n_moved FROM hits_inc, nq UNION ALL SELECT 'rebuild', n_q, hits, CAST(hits * 10000 // (3 * n_q) AS BIGINT), (SELECT n_moved FROM mv) FROM hits_reb, nq) ORDER BY path"""
  }

  // ---------------------------------------------------------------- q321
  private def sharedRunsOracle: String = {
    val perm =
      "flatten([tk[b*12+1 : b*12+12] for b in generate_series(0, CAST(ceil(len(tk) / 12.0) AS INT) - 1) if b % 2 = 0] || [tk[b*12+1 : b*12+12] for b in generate_series(0, CAST(ceil(len(tk) / 12.0) AS INT) - 1) if b % 2 = 1])"
    s"""WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents), il AS (SELECT -doc_id - 2000000 AS doc_id, $perm AS tk FROM toks WHERE doc_id % 29 = 0), qt AS (SELECT -doc_id - 3000000 AS doc_id, tk[1 : greatest(5, len(tk) // 2)] AS tk FROM toks WHERE doc_id % 37 = 0), allt AS (SELECT doc_id, tk FROM toks UNION ALL SELECT doc_id, tk FROM il UNION ALL SELECT doc_id, tk FROM qt), pos AS (SELECT doc_id, CAST(u['p'] AS BIGINT) AS pos, CAST(u['s'] AS VARCHAR) AS s FROM (SELECT doc_id, unnest([{'p': i, 's': concat_ws(' ', tk[i], tk[i+1], tk[i+2], tk[i+3], tk[i+4])} for i in generate_series(1, len(tk) - 4)]) AS u FROM allt)), sh AS (SELECT DISTINCT doc_id, s FROM pos), dfq AS (SELECT s, count(*) AS dfreq FROM sh GROUP BY 1), rare AS (SELECT s FROM dfq WHERE dfreq BETWEEN 2 AND 4), cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b FROM (SELECT sh.doc_id, sh.s FROM sh JOIN rare USING (s)) x JOIN (SELECT sh.doc_id, sh.s FROM sh JOIN rare USING (s)) y ON x.s = y.s AND x.doc_id < y.doc_id WHERE x.doc_id < 0 AND y.doc_id >= 0), m AS (SELECT c.a, c.b, pa.pos AS pa, pb.pos AS pb FROM cand c JOIN pos pa ON pa.doc_id = c.a JOIN pos pb ON pb.doc_id = c.b AND pb.s = pa.s), r AS (SELECT a, b, pa - pb AS diag, pa, pa - row_number() OVER (PARTITION BY a, b, pa - pb ORDER BY pa) AS g FROM m), runs AS (SELECT a, b, count(*) AS len FROM r GROUP BY a, b, diag, g), rs AS (SELECT a, b, CAST(max(len) AS BIGINT) AS max_run, CAST(count(*) FILTER (len >= 3) AS BIGINT) AS n_runs3 FROM runs GROUP BY 1, 2), sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1), ix AS (SELECT c.a, c.b, count(*) AS ix FROM cand c JOIN sh sa ON sa.doc_id = c.a JOIN sh sb ON sb.doc_id = c.b AND sb.s = sa.s GROUP BY 1, 2) SELECT c.a, c.b, CASE WHEN c.a <= -3000000 THEN 'quote' ELSE 'permuted' END AS kind, na.n AS na, nb.n AS nb, ix.ix, CAST(ix.ix * 10000 // (na.n + nb.n - ix.ix) AS BIGINT) AS jacc_bp, CAST(ix.ix * 10000 // least(na.n, nb.n) AS BIGINT) AS cont_bp, rs.max_run, rs.n_runs3 FROM cand c JOIN ix ON ix.a = c.a AND ix.b = c.b JOIN rs ON rs.a = c.a AND rs.b = c.b JOIN sizes na ON na.doc_id = c.a JOIN sizes nb ON nb.doc_id = c.b ORDER BY c.a, c.b"""
  }

  val specs: Seq[QuerySpec] = Seq(

    // q319 — BPE ENCODE + FERTILITY AUDIT (closes q292's loop, VERDICT
    // r7 "What's missing" #1): q292 LEARNS merges but never APPLIES
    // them, so the tokenizer loop had no fertility readout. Here six
    // merges are learned sequentially on the bounded top-100
    // count-weighted word table (q292's working set — the full corpus
    // contributes only through word-count aggregations), then applied
    // IN LEARNED ORDER to the full distinct-word vocabulary, and the
    // encoded vocabulary is joined back to per-(lang, word) counts to
    // report per-language FERTILITY (tokens per word — the number a
    // multilingual data team watches to spot under-served languages)
    // and COMPRESSION (chars per token). Scale shape: learning is
    // bounded (100 rows × 6 unrolled steps, each merge a 1-row
    // broadcast); encoding touches each DISTINCT word once (|V| rows,
    // map-side replace chain — never the token stream); the only
    // corpus-scale work is the two word-count aggregations. All-integer
    // outputs on the micro grid.
    QuerySpec(
      "q319_bpe_fertility",
      (s, d) =>
        bpeEncoded(s, d)
          .groupBy("lang")
          .agg(sum("cnt").as("n_words"),
            sum(col("cnt") * col("n_tok")).as("n_tokens"),
            sum(col("cnt") * length(col("w"))).as("n_chars"))
          .select(col("lang"), col("n_words"), col("n_tokens"), col("n_chars"),
            expr("n_tokens * 1000000 div n_words").as("fertility_micro"),
            expr("n_chars * 1000000 div n_tokens").as("chars_per_token_micro"))
          .orderBy("lang"),
      Some(bpeFertilityOracle),
      "E4/T ext: BPE encode + per-language fertility/compression audit — six learned merges applied to the vocabulary"),

    // q320 — INCREMENTAL IVF MAINTENANCE with a RECALL GATE (VERDICT r7
    // "What's missing" #2 — the vector side's daily-ingest operation,
    // q303's shape for ANN): the delta batch (vec_id % 10 >= 8) is
    // assigned to the PERSISTED centroids via AnnOps.assignToCells —
    // base assignments come from the memoized index and are never
    // recomputed — and the result is compared against a FULL REBUILD
    // modeled as one Lloyd refresh (centroid ← mean of its cell over
    // the grown corpus, the q161 idiom, computed in long form so both
    // engines do double arithmetic). Reported per path: exact
    // recall@3 of the delta queries under nprobe=1 against brute-force
    // truth, and the reassignment churn a rebuild would cause
    // (n_moved). Scale shape: delta assignment is one broadcast pass
    // over the delta; the Lloyd refresh is corpus-linear (one keyed agg
    // + one broadcast argmax); truth is computed only for the bounded
    // delta query sample (broadcast queries × corpus, the truthTop3
    // shape); cell-local search joins on cell. AnnRecallSpec pins both paths'
    // recall floors and the rebuild's nonzero reassignment churn.
    QuerySpec(
      "q320_incr_ivf_recall",
      (s, d) => {
        val e = t(s, d, "embeddings")
        val cents0 = e.where(col("vec_id") < 8)
          .select(col("vec_id").as("cent_id"), col("embedding").as("ce"))
        val baseIdx = ScaleQueries.ivfFlat(s, d)
          .where(col("vec_id") % 10 < 8).select("vec_id", "cell")
        val deltaIdx = graft.ops.AnnOps
          .assignToCells(e.where(col("vec_id") % 10 >= 8), cents0)
          .select("vec_id", "cell")
        // incr / reb / truth are three independent checkpointed legs
        // (delta assignment, Lloyd rebuild, brute-force truth) — declared
        // here as thunks and materialized concurrently below (graft.Par,
        // guide §2.6)
        def incrLeg() = baseIdx.unionByName(deltaIdx).localCheckpoint(false)
        // Rebuild = one Lloyd refresh over the grown corpus. Long-form
        // (vec_id, pos, x) arithmetic, q161's idiom: the refreshed
        // centroids are double-valued means, and the long form keeps
        // both engines in double precision end-to-end (casting the
        // means back to float for cosine_sim would round differently
        // than DuckDB's double path).
        val ex = e.select(col("vec_id"),
            posexplode(col("embedding")).as(Seq("pos", "xf")))
          .withColumn("x", col("xf").cast("double")).drop("xf")
        val c1 = ex.join(ScaleQueries.ivfFlat(s, d).select("vec_id", "cell"), "vec_id")
          .groupBy("cell", "pos").agg(avg("x").as("cx"))
        val wA = Window.partitionBy("vec_id").orderBy(col("cos_r").desc, col("cell").asc)
        val reb0 = ex.join(broadcast(c1), "pos")
          .groupBy("vec_id", "cell")
          .agg(sum(col("x") * col("cx")).as("dot"),
            sqrt(sum(col("x") * col("x"))).as("nv"),
            sqrt(sum(col("cx") * col("cx"))).as("nc"))
          .withColumn("cos_r", round(col("dot") / (col("nv") * col("nc")), 6))
          .withColumn("rn", row_number().over(wA))
          .where(col("rn") === 1).select("vec_id", "cell")
        def rebLeg() = reb0.localCheckpoint(false)
        // Recall SPOT-CHECK sample: every delta id ending in 8/9 whose
        // 50-residue is 48/49 — 4% of the corpus, a fixed slice OF the
        // delta (vec_id % 50 >= 48 ⊂ vec_id % 10 >= 8). Truth and the
        // two cell-local searches are bounded by this sample; the INDEX
        // maintenance itself still covers the full delta above.
        val q = e.where(col("vec_id") % 50 >= 48)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        val wT = Window.partitionBy("qid").orderBy(col("cos_r").desc, col("cid").asc)
        val truth0 = broadcast(q).crossJoin(e)
          .where(col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id").as("cid"),
            round(cosineSim(col("qe"), col("embedding")), 6).as("cos_r"))
          .withColumn("rn", row_number().over(wT)).where(col("rn") <= 3)
          .select("qid", "cid")
        val (incr, reb, truth) = graft.Par.par3(incrLeg(), rebLeg(), truth0.localCheckpoint(false))
        val nqDf = q.agg(count(lit(1)).as("n_q"))
        def hitsOf(index: DataFrame): DataFrame = {
          val qc = q.join(index.withColumnRenamed("vec_id", "qid"), "qid")
          val ce = index.join(e, "vec_id")
            .select(col("vec_id").as("cid"), col("cell"), col("embedding").as("cemb"))
          qc.join(ce, "cell")
            .where(col("cid") =!= col("qid"))
            .select(col("qid"), col("cid"),
              round(cosineSim(col("qe"), col("cemb")), 6).as("cos_r"))
            .withColumn("rn", row_number().over(wT)).where(col("rn") <= 3)
            .select("qid", "cid")
            .join(truth, Seq("qid", "cid"))
            .agg(count(lit(1)).as("hits"))
        }
        val movedDf = incr.select(col("vec_id"), col("cell").as("c_inc"))
          .join(reb.select(col("vec_id"), col("cell").as("c_reb")), "vec_id")
          .where(col("c_inc") =!= col("c_reb"))
          .agg(count(lit(1)).as("n_moved"))
        // 1-row × 1-row crossJoins assemble the two summary rows.
        val rowInc = hitsOf(incr).crossJoin(nqDf)
          .select(lit("incremental").as("path"), col("n_q"), col("hits"),
            expr("hits * 10000 div (3 * n_q)").as("recall_bp"), lit(0L).as("n_moved"))
        val rowReb = hitsOf(reb).crossJoin(nqDf).crossJoin(movedDf)
          .select(lit("rebuild").as("path"), col("n_q"), col("hits"),
            expr("hits * 10000 div (3 * n_q)").as("recall_bp"), col("n_moved"))
        rowInc.unionByName(rowReb).orderBy("path")
      },
      Some(incrIvfRecallOracle),
      "E3/§2.4 ext: incremental IVF maintenance — delta assigned to persisted centroids, recall@3 + churn vs one-Lloyd-step rebuild"),

    // q321 — MAXIMAL SHARED SHINGLE RUNS (VERDICT r7 "What's missing"
    // #3 — the exact-substring signal): set-based Jaccard/containment
    // (q34/q293) cannot distinguish a doc that REORDERS its source's
    // blocks (high shingle-set overlap, no long shared run — SimHash/
    // MinHash false positive for "verbatim copy") from one that QUOTES
    // a long span (a true substring duplicate). Positional shingles
    // make the signal expressible: for every candidate pair, matched
    // shingle occurrences (pa, pb) on a common DIAGONAL (pa − pb) that
    // are consecutive in pa form a shared run — the islands idiom
    // (q318's day-minus-row_number trick on position deltas). Both
    // failure directions are PLANTED (negative-id legs, q293
    // convention): every 29th doc re-emitted with even 12-token blocks
    // before odd ones (jaccard stays high, max_run is pinned at the
    // block's 8 interior shingles), every 37th doc's first half
    // re-emitted verbatim (lower jaccard, max_run = the whole excerpt).
    // Candidates come from the rare-shingle inverted index (df 2–4 —
    // q293's df-capped blocking, guaranteed to recover every planted
    // pair since a copied unique shingle has df exactly 2), restricted
    // to leg×base pairs; the positional join and the per-diagonal
    // windows run only on those pairs, so pair work is bounded by the
    // candidate set, never corpus².
    QuerySpec(
      "q321_shared_runs",
      (s, d) => {
        val toks = t(s, d, "documents")
          .select(col("doc_id"), split(lower(col("text")), " ").as("tk"))
        val nblk = "CAST(ceil(size(tk) / 12.0) AS INT) - 1"
        val il = toks.where(col("doc_id") % 29 === 0)
          .select((-col("doc_id") - 2000000L).as("doc_id"),
            expr(s"flatten(concat(transform(filter(sequence(0, $nblk), b -> b % 2 = 0), b -> slice(tk, b * 12 + 1, 12)), transform(filter(sequence(0, $nblk), b -> b % 2 = 1), b -> slice(tk, b * 12 + 1, 12))))")
              .as("tk"))
        val qt = toks.where(col("doc_id") % 37 === 0)
          .select((-col("doc_id") - 3000000L).as("doc_id"),
            expr("slice(tk, 1, greatest(5, size(tk) div 2))").as("tk"))
        val legs = il.unionByName(qt)
        // Corpus-side shingle SETS come from the memoized base (the
        // once-per-corpus index every dedup query shares); positional
        // work is deferred until the candidate set bounds it.
        val posLegs = posShingles(legs).localCheckpoint(false)
        // Binary shingle keys (VERDICT r13 #1; guide §2.3 shuffle keys,
        // not payloads): everything below needs only EQUALITY of the
        // ~40-byte shingle strings, so ONE md5 pass rekeys the union
        // table to 16-byte binary digests and the df aggregation, the
        // candidate self-join and the intersection join all shuffle
        // those instead. md5 is 128 bits — no collisions in practice at
        // any corpus size (P ≈ 1.5e-15 even at 10^12 distinct shingles),
        // so every count is unchanged; the rekeyed table is checkpointed
        // so its six consumers pay the hash pass once.
        val sh = ScaleQueries.shingleRows(s, d).select("doc_id", "s")
          .unionByName(posLegs.select("doc_id", "s").distinct())
          .select(col("doc_id"), unhex(md5(col("s"))).as("h"))
          .localCheckpoint(false)
        val dfq = sh.groupBy("h").agg(count(lit(1)).as("dfreq"))
        val rare = dfq.where(col("dfreq").between(2, 4)).select("h")
        val shr = sh.join(rare, "h")
        val cand = shr.select(col("doc_id").as("a"), col("h"))
          .join(shr.select(col("doc_id").as("b"), col("h")), "h")
          .where(col("a") < col("b") && col("a") < 0 && col("b") >= 0)
          .select("a", "b").distinct()
          .localCheckpoint(false)
        // Positions for the BASE side only where a candidate pair needs
        // them — the positional explode is bounded by the candidate
        // partner set, never the corpus. The run core joins positions on
        // shingle equality only, so both sides ride the same 16-byte
        // digest in place of the string.
        val posBase = posShingles(toks.join(
          cand.select(col("b").as("doc_id")).distinct(), "doc_id"))
        val hKeyed = (p: DataFrame) =>
          p.select(col("doc_id"), col("pos"), unhex(md5(col("s"))).as("s"))
        val rs = graft.ops.DedupOps.maxSharedRuns(
          cand, hKeyed(posLegs), hKeyed(posBase))
        val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
        val ix = cand
          .join(sh.select(col("doc_id").as("a"), col("h")), Seq("a"))
          .join(sh.select(col("doc_id").as("b"), col("h")), Seq("b", "h"))
          .groupBy("a", "b").agg(count(lit(1)).as("ix"))
        cand.join(ix, Seq("a", "b")).join(rs, Seq("a", "b"))
          .join(sizes.select(col("doc_id").as("a"), col("n").as("na")), Seq("a"))
          .join(sizes.select(col("doc_id").as("b"), col("n").as("nb")), Seq("b"))
          .select(col("a"), col("b"),
            when(col("a") <= -3000000L, "quote").otherwise("permuted").as("kind"),
            col("na"), col("nb"), col("ix"),
            expr("ix * 10000 div (na + nb - ix)").as("jacc_bp"),
            expr("ix * 10000 div least(na, nb)").as("cont_bp"),
            col("max_run"), col("n_runs3"))
          .orderBy("a", "b")
      },
      Some(sharedRunsOracle),
      "E2 ext: positional near-dup — maximal shared shingle runs via diagonal islands (exact-substring signal)"),

    // q322 — QUANTIFIED EVENT-PATTERN MATCH (view → click⁺ → purchase,
    // VERDICT r7 #6): the MATCH_RECOGNIZE quantifier shape q317's fixed
    // 3-step join can't express. Declared semantics: clicks sessionize
    // into MAXIMAL runs (greedy C⁺ — inter-click gap ≤ 24 h, distinct
    // click instants so run identity is order-independent); a match is
    // (view, run, purchase) with the run starting within 12 h of the
    // view and the purchase within 24 h of the run's END (the
    // quantifier extends the purchase deadline — exactly what C⁺ buys
    // over q317's single C). Match policy: lexicographic min over
    // (tv, rs, tp) — run attributes ride in the struct's tail fields so
    // the chosen run's length/span are reported deterministically.
    // Plan shape: the run sessionization is one user-keyed window pass;
    // both pattern joins co-partition on user_id; per-user fan-out is
    // bounded by events-per-user × deadline width (the CEP state
    // bound). 69 users convert at sf0.01 with run lengths 1–5, so the
    // quantifier is live, not decorative.
    QuerySpec(
      "q322_cep_quantified",
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("user_id"), col("event_type"),
            unix_timestamp(col("ts")).as("es"))
        val wU = Window.partitionBy("user_id").orderBy("es")
        val runs = ev.where(col("event_type") === "click")
          .select("user_id", "es").distinct()
          .withColumn("brk",
            when(col("es") - lag("es", 1).over(wU) <= 86400L, 0L).otherwise(1L))
          .withColumn("run_id", sum("brk")
            .over(wU.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy("user_id", "run_id")
          .agg(min("es").as("rs"), max("es").as("re"), count(lit(1)).as("run_len"))
        val v = ev.where(col("event_type") === "view")
          .select(col("user_id"), col("es").as("tv"))
        val p = ev.where(col("event_type") === "purchase")
          .select(col("user_id"), col("es").as("tp"))
        v.join(runs, "user_id")
          .where(col("rs") > col("tv") && col("rs") <= col("tv") + 43200L)
          .join(p, "user_id")
          .where(col("tp") > col("re") && col("tp") <= col("re") + 86400L)
          .groupBy("user_id")
          .agg(min(struct(col("tv"), col("rs"), col("tp"), col("re"), col("run_len"))).as("m"),
            count(lit(1)).as("n_matches"))
          .select(col("user_id"),
            col("m.tv").as("view_es"),
            col("m.run_len").as("click_run_len"),
            (col("m.rs") - col("m.tv")).as("first_click_lag_s"),
            (col("m.re") - col("m.rs")).as("run_span_s"),
            (col("m.tp") - col("m.re")).as("purchase_lag_s"),
            (col("m.tp") - col("m.tv")).as("span_s"),
            col("n_matches"))
          .orderBy("user_id")
      },
      Some("""WITH ev AS (SELECT user_id, event_type, CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS es FROM events), c AS (SELECT user_id, es, CASE WHEN es - lag(es) OVER (PARTITION BY user_id ORDER BY es) <= 86400 THEN 0 ELSE 1 END AS brk FROM (SELECT DISTINCT user_id, es FROM ev WHERE event_type = 'click')), cr AS (SELECT user_id, es, sum(brk) OVER (PARTITION BY user_id ORDER BY es ROWS UNBOUNDED PRECEDING) AS run_id FROM c), runs AS (SELECT user_id, run_id, min(es) AS rs, max(es) AS re, CAST(count(*) AS BIGINT) AS run_len FROM cr GROUP BY 1, 2), v AS (SELECT user_id, es AS tv FROM ev WHERE event_type = 'view'), p AS (SELECT user_id, es AS tp FROM ev WHERE event_type = 'purchase'), m AS (SELECT v.user_id, v.tv, r.rs, r.re, r.run_len, p.tp FROM v JOIN runs r ON r.user_id = v.user_id AND r.rs > v.tv AND r.rs <= v.tv + 43200 JOIN p ON p.user_id = v.user_id AND p.tp > r.re AND p.tp <= r.re + 86400), best AS (SELECT user_id, min(struct_pack(tv := tv, rs := rs, tp := tp, re := re, run_len := run_len)) AS m, CAST(count(*) AS BIGINT) AS n_matches FROM m GROUP BY 1) SELECT user_id, m.tv AS view_es, m.run_len AS click_run_len, m.rs - m.tv AS first_click_lag_s, m.re - m.rs AS run_span_s, m.tp - m.re AS purchase_lag_s, m.tp - m.tv AS span_s, n_matches FROM best ORDER BY user_id"""),
      "§2.12 ext: quantified CEP — view → click⁺ → purchase, maximal click runs, per-step deadlines, struct-min match policy"),

    // q323 — CORPUS-WIDE VERBATIM-DUPLICATION AUDIT: q321's run signal
    // turned loose on the real corpus (no planted legs) — the
    // suffix-array-style dedup readout. Candidates are the UNION of two
    // complementary bounded generators, both memoized once-per-corpus
    // artifacts: q293's rare-shingle core (df 2–4 bounds fan-out at
    // C(4,2)·|rare shingles|, linear in corpus size — but blind to a
    // pair whose every shared shingle is COMMON, df > 4) and the
    // 4-band MinHash index (df-independent, catches high-Jaccard pairs
    // regardless of shingle popularity — but blind to low-Jaccard long
    // quotes). On this corpus banding ⊂ rare-shingle, so the union is
    // the rare set; the union is kept because each generator covers
    // the other's structural blind spot and both are already built.
    // For each pair the maximal shared consecutive run is computed by
    // the shared DedupOps.maxSharedRuns core, positions exploded ONLY
    // for docs a candidate pair touches. Top-20 by run length, total
    // ordered; run_tokens = max_run + 4 (a run of L 5-gram shingles
    // covers L+4 tokens) is the number a dedup policy thresholds on
    // ("drop if ≥ 50 verbatim tokens shared"). The corpus's near-dup
    // twins surface with 90-shingle single runs at jaccard ≈ 0.99 —
    // both signals agree there; the audit exists for the pairs where
    // they DISAGREE (q321's planted cases prove the separation).
    QuerySpec(
      "q323_dup_run_audit",
      (s, d) => {
        val cand = ScaleQueries.unionCand(s, d)
        val docs = cand.select(col("a").as("doc_id"))
          .unionByName(cand.select(col("b").as("doc_id"))).distinct()
        // the run core joins positions on shingle EQUALITY only, so the
        // checkpointed frame carries the 16-byte md5 digest instead of
        // the ~40-byte string (guide §2.3 shuffle keys, not payloads;
        // collision-free at any corpus size) — smaller pin, narrower
        // position-join shuffles, identical run counts
        val pos = posShingles(
          t(s, d, "documents").join(docs, "doc_id")
            .select(col("doc_id"), split(lower(col("text")), " ").as("tk")))
          .select(col("doc_id"), col("pos"), unhex(md5(col("s"))).as("s"))
          .localCheckpoint(false)
        val rs = graft.ops.DedupOps.maxSharedRuns(cand, pos, pos)
        cand.join(rs, Seq("a", "b"))
          .join(ScaleQueries.unionCandJacc(s, d).select("a", "b", "jbp"), Seq("a", "b"))
          .select(col("a"), col("b"), col("max_run"),
            (col("max_run") + 4L).as("run_tokens"), col("n_runs3"),
            col("jbp").as("jacc_bp"))
          .orderBy(col("max_run").desc, col("a"), col("b"))
          .limit(20)
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents), pos AS (SELECT doc_id, CAST(u['p'] AS BIGINT) AS pos, CAST(u['s'] AS VARCHAR) AS s FROM (SELECT doc_id, unnest([{'p': i, 's': concat_ws(' ', tk[i], tk[i+1], tk[i+2], tk[i+3], tk[i+4])} for i in generate_series(1, len(tk) - 4)]) AS u FROM toks)), sh AS (SELECT DISTINCT doc_id, s FROM pos), sig AS (SELECT doc_id, band, min(substr(md5(s), band * 8 + 1, 8)) AS sig FROM sh, (SELECT unnest(generate_series(0, 3)) AS band) b GROUP BY doc_id, band), mc AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b FROM sig x JOIN sig y ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id), dfq AS (SELECT s, count(*) AS dfreq FROM sh GROUP BY 1), rare AS (SELECT s FROM dfq WHERE dfreq BETWEEN 2 AND 4), shr AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare USING (s)), cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b FROM shr x JOIN shr y ON x.s = y.s AND x.doc_id < y.doc_id UNION SELECT a, b FROM mc), m AS (SELECT c.a, c.b, pa.pos AS pa, pb.pos AS pb FROM cand c JOIN pos pa ON pa.doc_id = c.a JOIN pos pb ON pb.doc_id = c.b AND pb.s = pa.s), r AS (SELECT a, b, pa - pb AS diag, pa, pa - row_number() OVER (PARTITION BY a, b, pa - pb ORDER BY pa) AS g FROM m), runs AS (SELECT a, b, count(*) AS len FROM r GROUP BY a, b, diag, g), rs AS (SELECT a, b, CAST(max(len) AS BIGINT) AS max_run, CAST(count(*) FILTER (len >= 3) AS BIGINT) AS n_runs3 FROM runs GROUP BY 1, 2), sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1), ix AS (SELECT c.a, c.b, count(*) AS ix FROM cand c JOIN sh sa ON sa.doc_id = c.a JOIN sh sb ON sb.doc_id = c.b AND sb.s = sa.s GROUP BY 1, 2) SELECT c.a, c.b, rs.max_run, rs.max_run + 4 AS run_tokens, rs.n_runs3, CAST(ix.ix * 10000 // (na.n + nb.n - ix.ix) AS BIGINT) AS jacc_bp FROM cand c JOIN rs ON rs.a = c.a AND rs.b = c.b JOIN ix ON ix.a = c.a AND ix.b = c.b JOIN sizes na ON na.doc_id = c.a JOIN sizes nb ON nb.doc_id = c.b ORDER BY rs.max_run DESC, c.a, c.b LIMIT 20"""),
      "E2 ext: corpus-wide verbatim-duplication audit — top shared-run pairs from the rare-shingle index (suffix-array-style readout)"))
}
