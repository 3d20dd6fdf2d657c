package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QuerySpec
import graft.functions.cosineSim

/** Round-4 widening — the quality/serving closers a retrieval or dedup
  * user reaches for next: the recall@1 metric as a first-class query
  * (q163 — the number that tells you whether an index config change hurt
  * retrieval), the nprobe recall/cost knob (q164), metadata-filtered
  * retrieval (q165 — the RAG "search within a tenant/language/label"
  * shape), and MinHash candidate recall/precision against the exact
  * similarity join (q166 — the banding-parameter tuning gate). The ANN
  * trio runs on the shared memoized IVF-flat index (ScaleQueries.ivfFlat)
  * and all four are fully DuckDB-oracled: deterministic index builds keep
  * the WHOLE index+search+metric pipeline replayable in SQL.
  */
object R5Queries {

  private val emL2 = ScaleQueries.emL2
  private val dot =
    "round(list_sum([CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE) for i in generate_series(1, len(a.embedding))]) / (a.nrm * b.nrm), 6)"

  val specs: Seq[QuerySpec] = Seq(

    // q163 — ANN recall@1 as a registered metric query: join the IVF-flat
    // top-1 (q101's path, shared cached index) against the brute-force
    // ground truth (the shared truthTop3 memo — q37's table, built once
    // per corpus) and report hits/queries. This is the quality gate an
    // ANN deployment actually monitors — an index change that silently
    // degrades retrieval moves THIS number first. Scale shape: truth is
    // a broadcast-queries × corpus streaming argmax (ground truth over a
    // SAMPLE of queries — never all-pairs) amortized across consumers,
    // the metric itself is a 10-row join + one scalar agg.
    QuerySpec(
      "q163_ann_recall",
      (s, d) => {
        val truth = ScaleQueries.truthTop3(s, d)
          .where(col("rn") === 1)
          .select(col("qid"), col("cid").as("true_cid"))
        val got = graft.ops.AnnOps.ivfTop1(ScaleQueries.ivfFlat(s, d), col("vec_id") < 10)
          .select(col("qid"), col("cid").as("ann_cid"))
        // left join: a query whose cell has no other member counts as a miss
        truth.join(got, Seq("qid"), "left")
          .agg(count(lit(1)).as("n_queries"),
            sum(when(col("ann_cid") === col("true_cid"), 1L).otherwise(0L)).as("n_hits"),
            round(sum(when(col("ann_cid") === col("true_cid"), 1L).otherwise(0L)) /
              count(lit(1)), 6).as("recall_at_1"))
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding, $emL2 AS nrm FROM embeddings), bf AS (SELECT qid, cid AS true_cid FROM (SELECT a.vec_id AS qid, b.vec_id AS cid, row_number() OVER (PARTITION BY a.vec_id ORDER BY $dot DESC, b.vec_id) AS rn FROM e a CROSS JOIN e b WHERE a.vec_id < 10 AND b.vec_id <> a.vec_id) WHERE rn = 1), asg AS (SELECT a.vec_id, a.embedding, a.nrm, b.vec_id AS cell, row_number() OVER (PARTITION BY a.vec_id ORDER BY $dot DESC, b.vec_id) AS rn FROM e a CROSS JOIN (SELECT vec_id, embedding, nrm FROM e WHERE vec_id < 8) b), cells AS (SELECT vec_id, embedding, nrm, cell FROM asg WHERE rn = 1), ann AS (SELECT qid, cid AS ann_cid FROM (SELECT a.vec_id AS qid, b.vec_id AS cid, row_number() OVER (PARTITION BY a.vec_id ORDER BY $dot DESC, b.vec_id) AS rn FROM cells a JOIN cells b ON a.cell = b.cell AND b.vec_id <> a.vec_id WHERE a.vec_id < 10) WHERE rn = 1) SELECT count(*) AS n_queries, CAST(sum(CASE WHEN ann_cid = true_cid THEN 1 ELSE 0 END) AS BIGINT) AS n_hits, round(sum(CASE WHEN ann_cid = true_cid THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS recall_at_1 FROM bf LEFT JOIN ann USING (qid)"""),
      "E3 ext: ANN recall@1 vs brute force — the retrieval quality gate"),

    // q164 — IVF with nprobe=2: each query probes its TWO nearest cells
    // instead of one — the recall/cost knob every IVF deployment tunes
    // (recall rises, candidates roughly double; the plan stays a bucket
    // equi-join, never all-pairs). Candidate sets from the two probes are
    // disjoint by construction (a vector lives in exactly one cell).
    QuerySpec(
      "q164_ivf_nprobe2",
      (s, d) => {
        val e = t(s, d, "embeddings")
        val cents = e.where(col("vec_id") < 8)
          .select(col("vec_id").as("cent_id"), col("embedding").as("ce"))
        val wq = Window.partitionBy("qid").orderBy(col("cos_c").desc, col("cent_id").asc)
        val probes = e.where(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"))
          .crossJoin(broadcast(cents))
          .select(col("qid"), col("qe"), col("cent_id"),
            round(cosineSim(col("qe"), col("ce")), 6).as("cos_c"))
          .withColumn("pn", row_number().over(wq))
          .where(col("pn") <= 2)
          .select(col("qid"), col("qe"), col("cent_id").as("cell"))
        val w = Window.partitionBy("qid").orderBy(col("cos_r").desc, col("cid").asc)
        probes.join(ScaleQueries.ivfFlat(s, d), Seq("cell"))
          .where(col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id").as("cid"),
            round(cosineSim(col("qe"), col("embedding")), 6).as("cos_r"))
          .withColumn("rn", row_number().over(w))
          .where(col("rn") === 1)
          .select("qid", "cid", "cos_r")
          .orderBy("qid")
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding, $emL2 AS nrm FROM embeddings), asg AS (SELECT a.vec_id, a.embedding, a.nrm, b.vec_id AS cell, row_number() OVER (PARTITION BY a.vec_id ORDER BY $dot DESC, b.vec_id) AS rn FROM e a CROSS JOIN (SELECT vec_id, embedding, nrm FROM e WHERE vec_id < 8) b), cells AS (SELECT vec_id, embedding, nrm, cell FROM asg WHERE rn = 1), probes AS (SELECT vec_id AS qid, embedding, nrm, cell FROM asg WHERE rn <= 2 AND vec_id < 10), p AS (SELECT a.qid AS qid, b.vec_id AS cid, $dot AS cos_r FROM (SELECT qid, embedding, nrm, cell FROM probes) a JOIN cells b ON a.cell = b.cell AND b.vec_id <> a.qid), r AS (SELECT qid, cid, cos_r, row_number() OVER (PARTITION BY qid ORDER BY cos_r DESC, cid) AS rn FROM p) SELECT qid, cid, cos_r FROM r WHERE rn = 1 ORDER BY qid"""),
      "E3 ext: IVF nprobe=2 — the recall/cost knob as a bucket equi-join"),

    // q165 — metadata-filtered ANN (the RAG serving shape: "nearest
    // neighbor within my tenant/language/label"): top-1 same-cell
    // neighbor sharing the query's label. The filter applies INSIDE the
    // cell join (predicate on the probe side), so selectivity multiplies
    // with cell pruning instead of post-filtering a top-k that may
    // contain zero survivors. Queries with no same-label cell-mate drop
    // out (inner-join semantics, same in both engines).
    QuerySpec(
      "q165_filtered_ann",
      (s, d) => {
        val lab = t(s, d, "embeddings").select(col("vec_id"), col("label"))
        val al = ScaleQueries.ivfFlat(s, d).join(lab, "vec_id")
        val q = al.where(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"),
            col("cell"), col("label").as("qlab"))
        val w = Window.partitionBy("qid").orderBy(col("cos_r").desc, col("cid").asc)
        q.join(al, Seq("cell"))
          .where(col("vec_id") =!= col("qid") && col("label") === col("qlab"))
          .select(col("qid"), col("vec_id").as("cid"),
            col("label").cast("long").as("label"),
            round(cosineSim(col("qe"), col("embedding")), 6).as("cos_r"))
          .withColumn("rn", row_number().over(w))
          .where(col("rn") === 1)
          .select("qid", "cid", "label", "cos_r")
          .orderBy("qid")
      },
      Some(s"""WITH e AS (SELECT vec_id, label, embedding, $emL2 AS nrm FROM embeddings), asg AS (SELECT a.vec_id, a.label, a.embedding, a.nrm, b.vec_id AS cell, row_number() OVER (PARTITION BY a.vec_id ORDER BY $dot DESC, b.vec_id) AS rn FROM e a CROSS JOIN (SELECT vec_id, embedding, nrm FROM e WHERE vec_id < 8) b), cells AS (SELECT vec_id, label, embedding, nrm, cell FROM asg WHERE rn = 1), p AS (SELECT a.vec_id AS qid, b.vec_id AS cid, b.label AS label, $dot AS cos_r FROM cells a JOIN cells b ON a.cell = b.cell AND b.vec_id <> a.vec_id AND b.label = a.label WHERE a.vec_id < 10), r AS (SELECT qid, cid, label, cos_r, row_number() OVER (PARTITION BY qid ORDER BY cos_r DESC, cid) AS rn FROM p) SELECT qid, cid, CAST(label AS BIGINT) AS label, cos_r FROM r WHERE rn = 1 ORDER BY qid"""),
      "E3 ext: metadata-filtered ANN (RAG label/tenant-scoped retrieval)"),

    // q166 — near-dup candidate quality: recall and precision of the
    // MinHash band-bucket candidates (q34's probabilistic path) against
    // the EXACT Jaccard>=0.5 pairs (q143's complete prefix-filter path).
    // The q163 idea applied to dedup: banding parameters (4 bands × 8
    // hex chars) trade candidate volume against missed near-dups, and
    // THIS number is how you tune them — a band-config change that
    // silently started missing near-dups moves recall first, one that
    // started flooding the verifier moves precision first. Both inputs
    // are the memoized corpus indexes; the metric itself joins two tiny
    // pair tables.
    QuerySpec(
      "q166_dedup_recall",
      (s, d) => {
        val cand = ScaleQueries.minhashCand(s, d)
        val truth = graft.ops.DedupOps
          .jaccardForPairs(R4Queries.prefixCand(s, d), ScaleQueries.shingleSets(s, d))
          .where(col("jaccard") >= 0.5)
          .select("a", "b")
        // ONE consumer of `truth` (the exact-verification join is the
        // dominant cost and is not cached): the left join marks hits, a
        // single aggregate counts truths and hits together; only the
        // cached candidate memo is read twice.
        truth.join(cand.withColumn("h", lit(1L)), Seq("a", "b"), "left")
          .agg(count(lit(1)).as("n_true"),
            coalesce(sum("h"), lit(0L)).as("n_hit"))
          .crossJoin(broadcast(cand.agg(count(lit(1)).as("n_cand"))))
          .select(col("n_true"), col("n_cand"), col("n_hit"),
            round(col("n_hit") / col("n_true"), 6).as("recall"),
            round(col("n_hit") / col("n_cand"), 6).as("prec"))
      },
      Some(s"""${ScaleQueries.shingleCte}, sz AS (SELECT doc_id, count(*) AS s FROM sh GROUP BY 1), inter AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS ic FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2), exact AS (SELECT i.a, i.b FROM inter i JOIN sz x ON i.a = x.doc_id JOIN sz y ON i.b = y.doc_id WHERE round(ic * 1.0 / (x.s + y.s - ic), 6) >= 0.5), hit AS (SELECT e.a, e.b FROM exact e JOIN cand c ON e.a = c.a AND e.b = c.b) SELECT (SELECT count(*) FROM exact) AS n_true, (SELECT count(*) FROM cand) AS n_cand, (SELECT count(*) FROM hit) AS n_hit, round((SELECT count(*) FROM hit) * 1.0 / (SELECT count(*) FROM exact), 6) AS recall, round((SELECT count(*) FROM hit) * 1.0 / (SELECT count(*) FROM cand), 6) AS prec"""),
      "E2 ext: MinHash candidate recall/precision vs exact pairs — the dedup quality gate"),

    // q167 — LEAKAGE-SAFE train/val/test split: assign whole near-dup
    // CLUSTERS (q90's connected components; singletons = their own doc)
    // to splits via the q153 arithmetic hash on the CLUSTER id, so a
    // document and its near-duplicates can never straddle train and
    // eval — the split-time decontamination rule a training pipeline
    // must enforce (a doc-level hash split leaks paraphrases into val).
    // The output carries its own guard: cross_pairs counts near-dup
    // edges crossing splits and must be 0 by construction. Scale shape:
    // the cluster map is (paired docs only) ≪ corpus, broadcast back;
    // the split filter is map-side; the guard is a join over the tiny
    // edge set.
    QuerySpec(
      "q167_leakage_split",
      (s, d) => {
        val edges = ScaleQueries.neardupEdges(s, d)
        val clusters = ScaleQueries.neardupClusters(s, d)
        val docs = t(s, d, "documents")
        val withCl = docs.join(clusters, docs("doc_id") === clusters("id"), "left")
          .select(col("doc_id"), col("n_chars"),
            coalesce(col("cluster"), col("doc_id")).as("cl"))
        // 31-bit mask before the multiply — same overflow-safe portable
        // hash contract as q153
        val split = withCl
          .withColumn("u",
            (col("cl") % 2147483648L * 2654435761L % 4294967296L) / 4294967296.0)
          .withColumn("split",
            when(col("u") < 0.8, lit("train"))
              .when(col("u") < 0.9, lit("val")).otherwise(lit("test")))
        val cross = edges
          .join(split.select(col("doc_id").as("a"), col("split").as("sa")), "a")
          .join(split.select(col("doc_id").as("b"), col("split").as("sb")), "b")
          .where(col("sa") =!= col("sb"))
          .agg(count(lit(1)).as("cross_pairs"))
        split.groupBy("split")
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("cl")).as("n_clusters"),
            sum("n_chars").as("n_chars"))
          .crossJoin(broadcast(cross))
          .orderBy("split")
      },
      Some(s"""${ScaleQueries.shingleCte.replaceFirst("WITH ", "WITH RECURSIVE ")}, cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1), inter AS (SELECT c.a, c.b, count(*) AS c FROM cand c JOIN sh sa ON sa.doc_id = c.a JOIN sh sb ON sb.doc_id = c.b AND sb.s = sa.s GROUP BY 1, 2), jac AS (SELECT c.a, c.b FROM cand c JOIN inter i ON i.a = c.a AND i.b = c.b JOIN cnt ca ON ca.doc_id = c.a JOIN cnt cb ON cb.doc_id = c.b WHERE round(i.c * 1.0 / (ca.n + cb.n - i.c), 6) >= 0.5), e AS (SELECT a AS src, b AS dst FROM jac UNION SELECT b, a FROM jac), reach AS (SELECT src AS id, src AS r FROM e UNION SELECT re.id, e.dst FROM reach re JOIN e ON e.src = re.r), cl AS (SELECT id, min(r) AS cluster FROM reach GROUP BY 1), wc AS (SELECT doc_id, n_chars, coalesce(cluster, doc_id) AS cl FROM documents LEFT JOIN cl ON id = doc_id), sp AS (SELECT doc_id, n_chars, cl, CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val' ELSE 'test' END AS split FROM (SELECT *, (cl % 2147483648 * 2654435761 % 4294967296) / 4294967296.0 AS u FROM wc)) SELECT split, count(*) AS n_docs, count(DISTINCT cl) AS n_clusters, CAST(sum(n_chars) AS BIGINT) AS n_chars, (SELECT CAST(count(*) AS BIGINT) FROM jac JOIN sp x ON jac.a = x.doc_id JOIN sp y ON jac.b = y.doc_id WHERE x.split <> y.split) AS cross_pairs FROM sp GROUP BY 1 ORDER BY 1"""),
      "E1/E2/§2.8 ext: leakage-safe split — near-dup clusters never straddle train/eval"),

    // q168 — ANN index health: occupancy stats for BOTH index families
    // (the 8-bit sign-LSH buckets of q38 and the IVF-flat cells of
    // q101/q164/q165) in one report — bucket count, max/avg occupancy,
    // max share. THE skew diagnostic for similarity search: a collapsed
    // bucket (max_share → 1) turns the candidate equi-join into an
    // all-pairs join on that key, the exact failure q148 diagnoses for
    // relational joins. Two partial-agg shuffles of |index| rows each;
    // the report is 2 rows.
    QuerySpec(
      "q168_index_health",
      (s, d) => {
        def occupancy(assign: DataFrame, keyCol: String, name: String): DataFrame = {
          val c = assign.groupBy(keyCol).agg(count(lit(1)).as("n"))
          c.agg(count(lit(1)).as("n_buckets"),
            sum("n").as("n_vecs"),
            max("n").as("max_n"),
            round(avg("n"), 4).as("avg_n"),
            round(max("n") / sum("n"), 6).as("max_share"))
            .select(lit(name).as("index_name"), col("n_buckets"), col("n_vecs"),
              col("max_n"), col("avg_n"), col("max_share"))
        }
        val lsh = t(s, d, "embeddings")
          .select(graft.ops.VectorOps.srpBucket(col("embedding"), 8).as("bucket"))
        val ivf = ScaleQueries.ivfFlat(s, d).select(col("cell"))
        occupancy(lsh, "bucket", "lsh8")
          .unionByName(occupancy(ivf, "cell", "ivf8"))
          .orderBy("index_name")
      },
      Some {
        val bucketSql = (1 to 8)
          .map(i => s"${1L << (i - 1)} * (CASE WHEN embedding[$i] > 0 THEN 1 ELSE 0 END)")
          .mkString(" + ")
        s"""WITH e AS (SELECT vec_id, embedding, $emL2 AS nrm FROM embeddings), asg AS (SELECT a.vec_id, b.vec_id AS cell, row_number() OVER (PARTITION BY a.vec_id ORDER BY $dot DESC, b.vec_id) AS rn FROM e a CROSS JOIN (SELECT vec_id, embedding, nrm FROM e WHERE vec_id < 8) b), lshc AS (SELECT CAST($bucketSql AS BIGINT) AS k, count(*) AS n FROM embeddings GROUP BY 1), ivfc AS (SELECT cell AS k, count(*) AS n FROM asg WHERE rn = 1 GROUP BY 1), u AS (SELECT 'lsh8' AS index_name, count(*) AS n_buckets, sum(n) AS n_vecs, max(n) AS max_n, round(avg(n), 4) AS avg_n, round(max(n) * 1.0 / sum(n), 6) AS max_share FROM lshc UNION ALL SELECT 'ivf8', count(*), sum(n), max(n), round(avg(n), 4), round(max(n) * 1.0 / sum(n), 6) FROM ivfc) SELECT index_name, CAST(n_buckets AS BIGINT) AS n_buckets, CAST(n_vecs AS BIGINT) AS n_vecs, CAST(max_n AS BIGINT) AS max_n, avg_n, max_share FROM u ORDER BY index_name"""
      },
      "E3/§4 ext: ANN index occupancy/skew report (the collapsed-bucket alarm)"),

    // q169 — INCREMENTAL dedup maintenance: treat doc_id % 10 >= 8 as the
    // newly-ingested delta batch and the rest as the already-indexed
    // base. Candidate generation probes ONLY pairs touching the delta
    // (the base×base pairs were checked when the base was indexed), then
    // exact-verifies at 0.5 — the q152 partial-state idea applied to
    // dedup: a daily crawl increment joins its signatures against the
    // persisted index instead of recomputing the corpus×corpus candidate
    // set. The delta filter sits on the probing side BEFORE the join
    // (pairs least/greatest-normalized after) — an (new_a || new_b)
    // post-filter references both sides, cannot be pushed below the
    // join, and would materialize every base×base signature collision
    // first. Shuffle: |delta| × bands signature rows probe the index
    // equi-join; the base signature table is the amortized artifact.
    QuerySpec(
      "q169_incr_dedup",
      (s, d) => {
        val sig = ScaleQueries.sigRows(s, d)
        val cand = sig.where(col("doc_id") % 10 >= 8)
          .select(col("doc_id").as("x"), col("band"), col("sig"))
          .join(sig.select(col("doc_id").as("y"), col("band"), col("sig")),
            Seq("band", "sig"))
          .where(col("x") =!= col("y"))
          .select(least(col("x"), col("y")).as("a"),
            greatest(col("x"), col("y")).as("b"))
          .distinct()
        graft.ops.DedupOps.jaccardForPairs(cand, ScaleQueries.shingleSets(s, d))
          .where(col("jaccard") >= 0.5)
          .select(col("a"), col("b"), col("jaccard"),
            (col("b") % 10 >= 8).cast("long").as("b_is_new"))
          .orderBy("a", "b")
      },
      Some(s"""${ScaleQueries.shingleCte}, candd AS (SELECT a, b FROM cand WHERE a % 10 >= 8 OR b % 10 >= 8), cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1), inter AS (SELECT c.a, c.b, count(*) AS c FROM candd c JOIN sh sa ON sa.doc_id = c.a JOIN sh sb ON sb.doc_id = c.b AND sb.s = sa.s GROUP BY 1, 2) SELECT c.a AS a, c.b AS b, round(i.c * 1.0 / (ca.n + cb.n - i.c), 6) AS jaccard, CAST(c.b % 10 >= 8 AS BIGINT) AS b_is_new FROM candd c JOIN inter i ON i.a = c.a AND i.b = c.b JOIN cnt ca ON ca.doc_id = c.a JOIN cnt cb ON cb.doc_id = c.b WHERE round(i.c * 1.0 / (ca.n + cb.n - i.c), 6) >= 0.5 ORDER BY a, b"""),
      "E2/§2.4 ext: incremental dedup — delta batch probes the persisted signature index"),

    // q170 — sliding-window document CHUNKING (40-token windows, stride
    // 30 → 10-token overlap): the preprocessing step between curation
    // and embedding in a RAG/pretraining pipeline — q131 packs streams
    // into contexts, THIS splits long documents into overlapping
    // embedder-sized pieces. The chunk count is 1 + ceil(max(0, n−W)/S):
    // chunking STOPS at the first window that reaches the document end,
    // so no trailing chunk is ever a subset of its predecessor (a naive
    // start-position loop double-embeds the tail of ~30% of docs).
    // Chunk content is verified by md5 of the joined token window
    // (portable), not by shipping chunk text. Scale shape: pure
    // map-side — tokenize once, explode ~n/stride chunk indexes per
    // doc, slice the in-row token array per chunk; zero shuffles except
    // the result sort.
    QuerySpec(
      "q170_chunk_overlap",
      (s, d) => graft.ops.TextOps
        .slidingChunks(t(s, d, "documents"), "text", Seq("doc_id"))
        .orderBy("doc_id", "chunk_idx"),
      Some("""WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents), ch AS (SELECT doc_id, tk, len(tk) AS n, unnest(generate_series(0, CAST(ceil(greatest(len(tk) - 40, 0) / 30.0) AS INT))) AS k FROM toks) SELECT doc_id, CAST(k AS BIGINT) AS chunk_idx, CAST(least(40, n - (k * 30 + 1) + 1) AS BIGINT) AS n_tok, md5(array_to_string(tk[(k * 30 + 1):(k * 30 + 40)], ' ')) AS chunk_md5 FROM ch ORDER BY doc_id, chunk_idx"""),
      "E4/§2.9 ext: sliding-window chunking with overlap (embedder-sized pieces, map-side)"))
}
