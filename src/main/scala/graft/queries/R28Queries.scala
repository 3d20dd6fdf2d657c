package graft.queries

import org.apache.spark.sql.functions._

import graft.QuerySpec
import graft.ops.TextOps
import graft.functions.cosineSim

/** Round-7 widening: the training-data operators between curation and
  * model training that the existing families stop just short of —
  * mining contrastive supervision OUT of the dedup/ANN indexes the
  * pipeline already maintains (q304), and two corpus-hygiene audits
  * (template/boilerplate families q305, intra-document repetition
  * q306) that curation teams run before the Gopher gates are tuned.
  */
object R28Queries {

  private val emL2 = ScaleQueries.emL2
  private val dot =
    "round(list_sum([CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE) for i in generate_series(1, len(a.embedding))]) / (a.nrm * b.nrm), 6)"

  val specs: Seq[QuerySpec] = Seq(

    // q304 — CONTRASTIVE PAIR MINING: embedding-model training data
    // mined from the indexes the pipeline ALREADY maintains. Anchors =
    // docs in ≥1 exact-verified near-dup pair (the memoized
    // neardupEdges, Jaccard ≥ 0.5); positives = their partners, scored
    // by embedding cosine; hard negatives = same-IVF-cell vectors at
    // cosine ≥ 0.2 that are NOT verified partners — semantically close
    // but textually distinct, exactly the negatives a contrastive loss
    // needs. Per anchor: partner count, best positive cosine, hard-
    // negative count, hardest negative, and the margin (negative margin
    // = a "negative" outscores every positive — label-noise alarm).
    // Scale shape: positives are the (sparse) verified edge list;
    // negative candidates are CELL-LOCAL (anchors × cellmates, bounded
    // by the √n cell-budget rule the index enforces), never
    // anchors × corpus; both the edge list and the IVF index are the
    // memoized once-per-corpus artifacts, so this query adds only the
    // cosine joins. Cosines reported as 6dp-rounded doubles (the q171
    // convention — identical in both engines); margin is a difference
    // of two such exact doubles.
    QuerySpec(
      "q304_contrastive_mining",
      (s, d) => {
        val edges = ScaleQueries.neardupEdges(s, d)
        val partners = edges.select(col("a").as("x"), col("b").as("y"))
          .unionByName(edges.select(col("b").as("x"), col("a").as("y")))
        val emb = t(s, d, "embeddings")
        val pc = partners
          .join(emb.select(col("vec_id").as("x"), col("embedding").as("xe")), "x")
          .join(emb.select(col("vec_id").as("y"), col("embedding").as("ye")), "y")
          .select(col("x"), round(cosineSim(col("xe"), col("ye")), 6).as("cp"))
        val pos = pc.groupBy("x")
          .agg(count(lit(1)).as("n_pos"), max("cp").as("best_pos"))
        val al = ScaleQueries.ivfFlat(s, d)
        val anchors = pos
          .join(al.select(col("vec_id").as("x"), col("embedding").as("xe"),
            col("cell")), "x")
        val nc = anchors
          .join(al.select(col("vec_id").as("n"), col("embedding").as("ne"),
            col("cell")), Seq("cell"))
          .where(col("n") =!= col("x"))
          .join(partners.select(col("x"), col("y").as("n")), Seq("x", "n"), "left_anti")
          .select(col("x"), round(cosineSim(col("xe"), col("ne")), 6).as("cn"))
          .where(col("cn") >= 0.2)
        val neg = nc.groupBy("x")
          .agg(count(lit(1)).as("n_hard"), max("cn").as("hardest"))
        pos.join(neg, Seq("x"), "left")
          .select(col("x").as("doc_id"), col("n_pos"),
            col("best_pos").as("best_pos_cos"),
            coalesce(col("n_hard"), lit(0L)).as("n_hard"),
            coalesce(col("hardest"), lit(0.0)).as("hardest_neg_cos"),
            round(col("best_pos") - coalesce(col("hardest"), lit(0.0)), 6)
              .as("margin"))
          .orderBy("doc_id")
      },
      Some(s"""${ScaleQueries.shingleCte}, cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1), inter AS (SELECT c.a, c.b, count(*) AS ic FROM cand c JOIN sh x ON x.doc_id = c.a JOIN sh y ON y.doc_id = c.b AND y.s = x.s GROUP BY 1, 2), edges AS (SELECT i.a, i.b FROM inter i JOIN cnt ca ON ca.doc_id = i.a JOIN cnt cb ON cb.doc_id = i.b WHERE round(i.ic * 1.0 / (ca.n + cb.n - i.ic), 6) >= 0.5), part AS (SELECT a AS x, b AS y FROM edges UNION ALL SELECT b, a FROM edges), e AS (SELECT vec_id, embedding, $emL2 AS nrm FROM embeddings), pc AS (SELECT p.x, $dot AS cp FROM part p JOIN e a ON a.vec_id = p.x JOIN e b ON b.vec_id = p.y), pos AS (SELECT x, count(*) AS n_pos, max(cp) AS best_pos FROM pc GROUP BY 1), asg AS (SELECT a.vec_id, a.embedding, a.nrm, b.vec_id AS cell, row_number() OVER (PARTITION BY a.vec_id ORDER BY $dot DESC, b.vec_id) AS rn FROM e a CROSS JOIN (SELECT vec_id, embedding, nrm FROM e WHERE vec_id < 8) b), cells AS (SELECT vec_id, embedding, nrm, cell FROM asg WHERE rn = 1), nc AS (SELECT p.x, $dot AS cn FROM pos p JOIN cells a ON a.vec_id = p.x JOIN cells b ON b.cell = a.cell AND b.vec_id <> p.x WHERE NOT EXISTS (SELECT 1 FROM part q WHERE q.x = p.x AND q.y = b.vec_id)), neg AS (SELECT x, count(*) AS n_hard, max(cn) AS hardest FROM nc WHERE cn >= 0.2 GROUP BY 1) SELECT p.x AS doc_id, p.n_pos, p.best_pos AS best_pos_cos, CAST(coalesce(n.n_hard, 0) AS BIGINT) AS n_hard, coalesce(n.hardest, 0.0) AS hardest_neg_cos, round(p.best_pos - coalesce(n.hardest, 0.0), 6) AS margin FROM pos p LEFT JOIN neg n ON n.x = p.x ORDER BY doc_id"""),
      "E2/E3 capstone: contrastive pairs mined from the dedup edges + IVF cells — positives, cell-local hard negatives, margins"),

    // q305 — TEMPLATE / BOILERPLATE FAMILIES: cluster documents by the
    // md5 of their first-8-token prefix — the cheap detector for
    // machine-generated families (error pages, listing templates,
    // auto-generated reports) whose BODIES differ enough to survive
    // near-dup banding while the corpus still drowns in the pattern. A
    // family = a prefix shared by ≥ 3 docs with ≥ 2 distinct full
    // texts (an exact-dup group is E1's job, not a template). The base
    // corpus carries almost no natural template families, so a
    // TEMPLATE LEG is planted (the q293 synthetic-leg convention):
    // every 29th doc spawns three negative-id variants sharing its
    // prefix with short distinct bodies — the detector must recover
    // each planted family as (base doc + 3 variants). Reports family
    // size, distinct-body count, representative (min) doc id, and the
    // mass in chars. Scale: one map-side prefix digest + one
    // 16-byte-key groupBy — the q33 exact-dedup shuffle shape, never
    // text on the wire.
    QuerySpec(
      "q305_template_families",
      (s, d) => {
        val base = t(s, d, "documents")
          .select(col("doc_id"), col("text"), col("n_chars"))
        val pfx8 = concat_ws(" ", slice(TextOps.tokens(col("text")), 1, 8))
        val variants = base.where(col("doc_id") % 29 === 0)
          .select(col("doc_id"), pfx8.as("p"),
            explode(array(lit(1L), lit(2L), lit(3L))).as("k"))
          .select((-(col("doc_id") * 4 + col("k"))).as("doc_id"),
            concat(col("p"), lit(" form "), col("k")).as("text"))
          .withColumn("n_chars", length(col("text")).cast("long"))
        val pfx = base.unionByName(variants)
          .select(col("doc_id"), col("n_chars"),
            md5(concat_ws(" ", slice(TextOps.tokens(col("text")), 1, 8)))
              .as("prefix_fp"),
            md5(col("text")).as("full_fp"))
        pfx.groupBy("prefix_fp")
          .agg(count(lit(1)).as("n_docs"),
            countDistinct("full_fp").as("n_distinct_texts"),
            min("doc_id").as("rep_doc_id"),
            sum("n_chars").as("total_chars"))
          .where(col("n_docs") >= 3 && col("n_distinct_texts") >= 2)
          .orderBy(col("n_docs").desc, col("prefix_fp"))
      },
      Some("""WITH base AS (SELECT doc_id, text, n_chars FROM documents UNION ALL SELECT -(doc_id * 4 + k) AS doc_id, array_to_string((string_split(lower(text), ' '))[1:8], ' ') || ' form ' || CAST(k AS VARCHAR) AS text, length(array_to_string((string_split(lower(text), ' '))[1:8], ' ') || ' form ' || CAST(k AS VARCHAR)) AS n_chars FROM documents, unnest([1, 2, 3]) AS u(k) WHERE doc_id % 29 = 0), pfx AS (SELECT doc_id, n_chars, md5(array_to_string((string_split(lower(text), ' '))[1:8], ' ')) AS prefix_fp, md5(text) AS full_fp FROM base) SELECT prefix_fp, count(*) AS n_docs, CAST(count(DISTINCT full_fp) AS BIGINT) AS n_distinct_texts, min(doc_id) AS rep_doc_id, CAST(sum(n_chars) AS BIGINT) AS total_chars FROM pfx GROUP BY 1 HAVING count(*) >= 3 AND count(DISTINCT full_fp) >= 2 ORDER BY n_docs DESC, prefix_fp"""),
      "E4 ext: template/boilerplate families via prefix fingerprints — planted template leg recovered exactly"),

    // q306 — INTRA-DOCUMENT REPETITION battery (the Gopher repetition
    // gates q124 stops short of): per doc, top-bigram mass (share of
    // bigram occurrences held by the most frequent bigram) and
    // duplicated-5-gram share (1 − distinct/total 5-gram windows), both
    // in basis points on integer grids, with the gate flag
    // (top-bigram > 18% OR dup-5-gram > 30% — looped/babbling text).
    // Docs too short for a window score 0 (no evidence ≠ violation).
    // Scale: everything is per-doc map-side window arithmetic + one
    // groupBy per statistic keyed on doc_id; no cross-doc join at all.
    QuerySpec(
      "q306_repetition_audit",
      (s, d) => {
        val tk = t(s, d, "documents")
          .select(col("doc_id"), TextOps.tokens(col("text")).as("tk"))
        val bg = tk.where(size(col("tk")) >= 2)
          .select(col("doc_id"), explode(expr(
            "transform(sequence(0, size(tk) - 2), i -> concat(tk[i], ' ', tk[i + 1]))"))
            .as("b"))
        val top = bg.groupBy("doc_id", "b").agg(count(lit(1)).as("c"))
          .groupBy("doc_id")
          .agg(max("c").as("mx"), sum("c").as("tot"))
          .select(col("doc_id"), expr("mx * 10000 div tot").as("top_bigram_bp"))
        val g5 = tk.where(size(col("tk")) >= 5)
          .select(col("doc_id"), explode(expr(
            "transform(sequence(0, size(tk) - 5), i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2], tk[i+3], tk[i+4]))"))
            .as("g"))
        val dup = g5.groupBy("doc_id")
          .agg(count(lit(1)).as("tot5"), countDistinct("g").as("d5"))
          .select(col("doc_id"),
            expr("(tot5 - d5) * 10000 div tot5").as("dup_5gram_bp"))
        t(s, d, "documents").select("doc_id")
          .join(top, Seq("doc_id"), "left")
          .join(dup, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("top_bigram_bp"), lit(0L)).as("top_bigram_bp"),
            coalesce(col("dup_5gram_bp"), lit(0L)).as("dup_5gram_bp"))
          .withColumn("flagged",
            (col("top_bigram_bp") > 1800L || col("dup_5gram_bp") > 3000L)
              .cast("long"))
          .orderBy("doc_id")
      },
      Some("""WITH tk AS (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents), bg AS (SELECT doc_id, tk[i] || ' ' || tk[i + 1] AS b FROM tk, unnest(generate_series(1, len(tk) - 1)) AS u(i) WHERE len(tk) >= 2), bc AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY 1, 2), top AS (SELECT doc_id, max(c) * 10000 // sum(c) AS top_bigram_bp FROM bc GROUP BY 1), g5 AS (SELECT doc_id, concat_ws(' ', tk[i], tk[i+1], tk[i+2], tk[i+3], tk[i+4]) AS g FROM tk, unnest(generate_series(1, len(tk) - 4)) AS u(i) WHERE len(tk) >= 5), dup AS (SELECT doc_id, (count(*) - count(DISTINCT g)) * 10000 // count(*) AS dup_5gram_bp FROM g5 GROUP BY 1) SELECT d.doc_id, CAST(coalesce(top.top_bigram_bp, 0) AS BIGINT) AS top_bigram_bp, CAST(coalesce(dup.dup_5gram_bp, 0) AS BIGINT) AS dup_5gram_bp, CAST(CASE WHEN coalesce(top.top_bigram_bp, 0) > 1800 OR coalesce(dup.dup_5gram_bp, 0) > 3000 THEN 1 ELSE 0 END AS BIGINT) AS flagged FROM documents d LEFT JOIN top ON top.doc_id = d.doc_id LEFT JOIN dup ON dup.doc_id = d.doc_id ORDER BY d.doc_id"""),
      "E4 ext: intra-doc repetition battery — top-bigram mass + duplicated-5-gram share, gate-flagged"),

    // q307 — CURRICULUM MIXTURE SCHEDULE: the table a curriculum
    // sampler consumes — documents binned by a quality proxy
    // (stop-word density in 10% steps, the q124 signal), each bin with
    // its doc count, token mass, cumulative mass in quality order, and
    // share in basis points. Deliberately BIN-keyed, not equal-count
    // deciles: fixed-width bins need no global row sort or
    // corpus-sized window (the q114 stance) — one map-side bin
    // assignment + a 10-row aggregate, with the cumulative window over
    // the 10-row result only. Integer arithmetic end to end.
    QuerySpec(
      "q307_curriculum_schedule",
      (s, d) => {
        val toks = TextOps.tokens(col("text"))
        val scored = t(s, d, "documents")
          .select(col("doc_id"), size(toks).cast("long").as("n_tok"),
            TextOps.markerHits(toks, Seq("the", "a", "and", "of", "to"))
              .as("n_stop"))
          .where(col("n_tok") >= 1)
          .select(col("doc_id"), col("n_tok"),
            least(lit(9L), expr("n_stop * 10 div n_tok")).as("bin"))
        val bins = scored.groupBy("bin")
          .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("tok_mass"))
        val tot = bins.agg(sum("tok_mass").as("t"))
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("bin").desc) // highest-quality (densest) bin first
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
        bins.crossJoin(broadcast(tot))
          .withColumn("cum_mass", sum("tok_mass").over(w))
          .select(col("bin"), col("n_docs"), col("tok_mass"),
            col("cum_mass"),
            expr("tok_mass * 10000 div t").as("share_bp"))
          .orderBy(col("bin").desc)
      },
      Some("""WITH sc AS (SELECT doc_id, len(string_split(lower(text), ' ')) AS n_tok, len(list_filter(string_split(lower(text), ' '), x -> list_contains(['the', 'a', 'and', 'of', 'to'], x))) AS n_stop FROM documents), bins AS (SELECT least(9, n_stop * 10 // n_tok) AS bin, count(*) AS n_docs, sum(n_tok) AS tok_mass FROM sc WHERE n_tok >= 1 GROUP BY 1), tot AS (SELECT sum(tok_mass) AS t FROM bins) SELECT CAST(bin AS BIGINT) AS bin, n_docs, CAST(tok_mass AS BIGINT) AS tok_mass, CAST(sum(tok_mass) OVER (ORDER BY bin DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_mass, CAST(tok_mass * 10000 // t AS BIGINT) AS share_bp FROM bins, tot ORDER BY bin DESC"""),
      "E4/T9 ext: curriculum mixture schedule — quality-binned token mass with cumulative budget, no global sort"),

    // q308 — NEAR-DUP PAIR EXPLANATION: the debugging table behind the
    // dedup index — for every exact-verified near-dup pair, WHICH of
    // the 4 MinHash bands matched (bitmask + count), the shingle set
    // sizes, intersection, and the exact integer-micro Jaccard. This
    // is how an operator answers "why did banding catch/miss this
    // pair" and how banding recall regressions get localized to a
    // band. Scale: the pair table is the (sparse) verified edge list;
    // the band join fans each pair out to exactly 4 rows against the
    // memoized signature index.
    QuerySpec(
      "q308_neardup_explain",
      (s, d) => {
        val sets = ScaleQueries.shingleSets(s, d)
        val jp = graft.ops.DedupOps
          .jaccardForPairs(ScaleQueries.minhashCand(s, d), sets)
          .where(col("jaccard") >= 0.5)
          .select("a", "b", "inter_cnt")
        val sizes = sets.select(col("doc_id"), size(col("shs")).cast("long").as("n"))
        val sig = ScaleQueries.sigRows(s, d)
        val bm = jp.select("a", "b")
          .join(sig.select(col("doc_id").as("a"), col("band"), col("sig").as("siga")), "a")
          .join(sig.select(col("doc_id").as("b"), col("band"), col("sig").as("sigb")),
            Seq("b", "band"))
          .groupBy("a", "b")
          .agg(sum(when(col("siga") === col("sigb"),
              expr("CASE band WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 4 ELSE 8 END"))
            .otherwise(lit(0L))).as("bands_mask"),
            sum(when(col("siga") === col("sigb"), 1L).otherwise(0L)).as("n_bands"))
        jp.join(bm, Seq("a", "b"))
          .join(sizes.select(col("doc_id").as("a"), col("n").as("na")), "a")
          .join(sizes.select(col("doc_id").as("b"), col("n").as("nb")), "b")
          .select(col("a"), col("b"), col("bands_mask"), col("n_bands"),
            col("inter_cnt").as("ix"), col("na"), col("nb"),
            expr("inter_cnt * 1000000 div (na + nb - inter_cnt)").as("j_micro"))
          .orderBy("a", "b")
      },
      Some(s"""${ScaleQueries.shingleCte}, cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1), inter AS (SELECT c.a, c.b, count(*) AS ic FROM cand c JOIN sh x ON x.doc_id = c.a JOIN sh y ON y.doc_id = c.b AND y.s = x.s GROUP BY 1, 2), jp AS (SELECT i.a, i.b, i.ic, ca.n AS na, cb.n AS nb FROM inter i JOIN cnt ca ON ca.doc_id = i.a JOIN cnt cb ON cb.doc_id = i.b WHERE round(i.ic * 1.0 / (ca.n + cb.n - i.ic), 6) >= 0.5), bm AS (SELECT j.a, j.b, CAST(sum(CASE WHEN sa.sig = sb.sig THEN CASE sa.band WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 4 ELSE 8 END ELSE 0 END) AS BIGINT) AS bands_mask, CAST(sum(CASE WHEN sa.sig = sb.sig THEN 1 ELSE 0 END) AS BIGINT) AS n_bands FROM jp j JOIN sig sa ON sa.doc_id = j.a JOIN sig sb ON sb.doc_id = j.b AND sb.band = sa.band GROUP BY 1, 2) SELECT j.a, j.b, bm.bands_mask, bm.n_bands, j.ic AS ix, j.na, j.nb, CAST(j.ic * 1000000 // (j.na + j.nb - j.ic) AS BIGINT) AS j_micro FROM jp j JOIN bm ON bm.a = j.a AND bm.b = j.b ORDER BY j.a, j.b"""),
      "E2 ext: near-dup pair explanation — per-pair band bitmask + exact integer Jaccard (banding debug table)"),

    // q309 — DEDUP CLUSTER QUALITY AUDIT: per near-dup connected
    // component, its size, internal verified-edge count, edge density
    // in basis points, and the min/max pairwise Jaccard (integer
    // micro) — the audit that catches chain-collapse (a low-density
    // giant cluster whose min Jaccard is far below threshold means
    // transitive merging glued unrelated docs, the classic CC-dedup
    // failure). Composes the memoized cluster map and edge list; one
    // dimension-sized groupBy.
    QuerySpec(
      "q309_cluster_audit",
      (s, d) => {
        val sets = ScaleQueries.shingleSets(s, d)
        val sizes = sets.select(col("doc_id"), size(col("shs")).cast("long").as("n"))
        val e = graft.ops.DedupOps
          .jaccardForPairs(ScaleQueries.minhashCand(s, d), sets)
          .where(col("jaccard") >= 0.5)
          .join(sizes.select(col("doc_id").as("a"), col("n").as("na")), "a")
          .join(sizes.select(col("doc_id").as("b"), col("n").as("nb")), "b")
          .select(col("a"), col("b"),
            expr("inter_cnt * 1000000 div (na + nb - inter_cnt)").as("j_micro"))
        val cl = ScaleQueries.neardupClusters(s, d)
        val memb = cl.groupBy("cluster").agg(count(lit(1)).as("size"))
        val ec = e.join(cl.select(col("id").as("a"), col("cluster")), "a")
          .groupBy("cluster")
          .agg(count(lit(1)).as("n_edges"),
            min("j_micro").as("min_j_micro"), max("j_micro").as("max_j_micro"))
        memb.join(ec, "cluster")
          .select(col("cluster"), col("size"), col("n_edges"),
            expr("n_edges * 20000 div (size * (size - 1))").as("density_bp"),
            col("min_j_micro"), col("max_j_micro"))
          .orderBy("cluster")
      },
      Some(s"""${ScaleQueries.shingleCte.replaceFirst("WITH ", "WITH RECURSIVE ")}, cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1), inter AS (SELECT c.a, c.b, count(*) AS ic FROM cand c JOIN sh x ON x.doc_id = c.a JOIN sh y ON y.doc_id = c.b AND y.s = x.s GROUP BY 1, 2), jp AS (SELECT i.a, i.b, CAST(i.ic * 1000000 // (ca.n + cb.n - i.ic) AS BIGINT) AS j_micro FROM inter i JOIN cnt ca ON ca.doc_id = i.a JOIN cnt cb ON cb.doc_id = i.b WHERE round(i.ic * 1.0 / (ca.n + cb.n - i.ic), 6) >= 0.5), eg AS (SELECT a AS src, b AS dst FROM jp UNION SELECT b, a FROM jp), reach AS (SELECT src AS id, src AS r FROM eg UNION SELECT re.id, eg.dst FROM reach re JOIN eg ON eg.src = re.r), cl AS (SELECT id, min(r) AS cluster FROM reach GROUP BY 1), memb AS (SELECT cluster, count(*) AS size FROM cl GROUP BY 1), ec AS (SELECT c.cluster, count(*) AS n_edges, min(j.j_micro) AS min_j_micro, max(j.j_micro) AS max_j_micro FROM jp j JOIN cl c ON c.id = j.a GROUP BY 1) SELECT CAST(m.cluster AS BIGINT) AS cluster, CAST(m.size AS BIGINT) AS size, ec.n_edges, CAST(ec.n_edges * 20000 // (m.size * (m.size - 1)) AS BIGINT) AS density_bp, ec.min_j_micro, ec.max_j_micro FROM memb m JOIN ec ON ec.cluster = m.cluster ORDER BY cluster"""),
      "E2 ext: dedup cluster quality audit — density + min/max intra-cluster Jaccard (chain-collapse detector)"))
}
