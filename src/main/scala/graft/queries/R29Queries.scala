package graft.queries

import org.apache.spark.sql.functions._

import graft.QuerySpec
import graft.ops.HashOps.{md5Bucket, md5BucketSql}
import graft.ops.TextOps

/** Round-7 widening, part 2: corpus-composition governance — who
  * duplicates whom across sources (q310), the deterministic epoch
  * shuffle a trainer replays (q311), and the dedup survivorship audit
  * that catches a pipeline quietly skewing the language/source mixture
  * (q312).
  */
object R29Queries {

  val specs: Seq[QuerySpec] = Seq(

    // q310 — CROSS-SOURCE DUPLICATION MATRIX: for every ordered source
    // pair (a < b), how many exact-duplicate text groups span both —
    // the provenance table that decides crawl priorities and dedup
    // precedence (a source whose content is largely contained in
    // another is a re-crawl, not a source). The base corpus has no
    // natural cross-source exact dups, so a MIRROR leg is planted (the
    // q293/q305 synthetic-leg convention): every 31st doc is re-served
    // byte-identical by a synthetic 'mirror' source under a negative
    // id — the matrix must recover exactly the (original source,
    // mirror) pairs. Group texts by md5 (16-byte keys, the E1
    // convention), collect each digest's DISTINCT source set (bounded
    // by |sources|, not copies), and emit the pair counts plus each
    // pair's duplicated-doc mass. Scale: one digest groupBy; the pair
    // explosion is C(|sources per digest|, 2) ≤ C(5,2) per digest —
    // source-count-bounded, never row-bounded.
    QuerySpec(
      "q310_source_dup_matrix",
      (s, d) => {
        val base = t(s, d, "documents")
          .select(col("doc_id"), col("text"), col("source"))
        val mirror = base.where(col("doc_id") % 31 === 0)
          .select((-col("doc_id") - 5000000L).as("doc_id"), col("text"),
            lit("mirror").as("source"))
        val g = base.unionByName(mirror)
          .groupBy(md5(col("text")).as("h"))
          .agg(collect_set(col("source")).as("srcs"), count(lit(1)).as("copies"))
          .where(size(col("srcs")) >= 2)
        g.select(col("h"), col("copies"),
            explode(expr(
              """flatten(transform(srcs, x ->
                 transform(filter(srcs, y -> y > x), y -> struct(x AS sa, y AS sb))))"""))
              .as("p"))
          .groupBy(col("p.sa").as("src_a"), col("p.sb").as("src_b"))
          .agg(count(lit(1)).as("n_shared_groups"), sum("copies").as("n_docs_involved"))
          .orderBy("src_a", "src_b")
      },
      Some("""WITH b AS (SELECT doc_id, text, source FROM documents UNION ALL SELECT -doc_id - 5000000, text, 'mirror' FROM documents WHERE doc_id % 31 = 0), g AS (SELECT md5(text) AS h, list_sort(list_distinct(list(source))) AS srcs, count(*) AS copies FROM b GROUP BY 1 HAVING len(list_distinct(list(source))) >= 2), pr AS (SELECT h, copies, x.sa, y.sb FROM g, unnest(srcs) AS x(sa), unnest(srcs) AS y(sb) WHERE y.sb > x.sa) SELECT sa AS src_a, sb AS src_b, count(*) AS n_shared_groups, CAST(sum(copies) AS BIGINT) AS n_docs_involved FROM pr GROUP BY 1, 2 ORDER BY 1, 2"""),
      "E1 ext: cross-source duplication matrix — which sources re-serve each other's content (crawl-priority table)"),

    // q311 — DETERMINISTIC EPOCH SHUFFLE: the reproducible "global
    // shuffle" a training run replays — every doc assigned to one of 8
    // batches by a seeded portable hash (md5 of seed:doc_id, the q252
    // integer-hash convention; changing the seed literal re-shuffles,
    // same seed always reproduces), with per-batch composition the
    // trainer's dataloader audit reads: docs, token mass, distinct
    // languages, and the dominant language's share. Batch skew
    // (max/min token mass) is the number that decides whether hash
    // sharding is balanced enough or packing must rebalance. Scale:
    // one map-side hash + one 8-group aggregate; nothing global.
    QuerySpec(
      "q311_epoch_shuffle",
      (s, d) => {
        val toks = TextOps.tokens(col("text"))
        val a = t(s, d, "documents")
          .select(col("doc_id"), col("lang"), size(toks).cast("long").as("n_tok"))
          .withColumn("batch",
            md5Bucket(concat(lit("epoch1:"), col("doc_id").cast("string")), 8))
        val perLang = a.groupBy("batch", "lang").agg(sum("n_tok").as("lt"))
        val dom = perLang.groupBy("batch")
          .agg(max("lt").as("dom_mass"), countDistinct("lang").as("n_langs"))
        a.groupBy("batch")
          .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("tok_mass"))
          .join(dom, "batch")
          .select(col("batch"), col("n_docs"), col("tok_mass"), col("n_langs"),
            expr("dom_mass * 10000 div tok_mass").as("dom_lang_bp"))
          .orderBy("batch")
      },
      Some(s"""WITH a AS (SELECT doc_id, lang, len(string_split(lower(text), ' ')) AS n_tok, ${md5BucketSql("'epoch1:' || CAST(doc_id AS VARCHAR)", 8)} AS batch FROM documents), pl AS (SELECT batch, lang, sum(n_tok) AS lt FROM a GROUP BY 1, 2), dom AS (SELECT batch, max(lt) AS dom_mass, count(DISTINCT lang) AS n_langs FROM pl GROUP BY 1) SELECT CAST(t.batch AS BIGINT) AS batch, t.n_docs, CAST(t.tok_mass AS BIGINT) AS tok_mass, CAST(dom.n_langs AS BIGINT) AS n_langs, CAST(dom.dom_mass * 10000 // t.tok_mass AS BIGINT) AS dom_lang_bp FROM (SELECT batch, count(*) AS n_docs, sum(n_tok) AS tok_mass FROM a GROUP BY 1) t JOIN dom ON dom.batch = t.batch ORDER BY batch"""),
      "E4/R ext: deterministic seeded epoch shuffle — portable hash batches + per-batch composition audit"),

    // q312 — DEDUP SURVIVORSHIP AUDIT: dedup is supposed to remove
    // copies, not reshape the mixture — this audit proves it (or
    // catches it). Per (lang, source) stratum: docs before, docs after
    // exact dedup (min-id survivor per digest, the q33 rule), retention
    // in bp, and the deviation from the corpus-wide retention rate —
    // a stratum whose retention sits far below the global rate is
    // being disproportionately deleted (boilerplate-heavy sources do
    // this silently). Scale: the survivor set is one digest groupBy;
    // strata aggregation is |langs|×|sources|-sized.
    QuerySpec(
      "q312_dedup_survivorship",
      (s, d) => {
        val docs = t(s, d, "documents")
        val surv = docs.groupBy(md5(col("text")).as("h"))
          .agg(min("doc_id").as("doc_id"))
          .select("doc_id")
        val before = docs.groupBy("lang", "source").agg(count(lit(1)).as("n_before"))
        val after = docs.join(surv, "doc_id")
          .groupBy("lang", "source").agg(count(lit(1)).as("n_after"))
        val tot = docs.agg(count(lit(1)).as("tb"))
          .crossJoin(surv.agg(count(lit(1)).as("ta")))
        before.join(after, Seq("lang", "source"), "left")
          .crossJoin(broadcast(tot))
          .select(col("lang"), col("source"), col("n_before"),
            coalesce(col("n_after"), lit(0L)).as("n_after"),
            expr("coalesce(n_after, 0) * 10000 div n_before").as("retention_bp"),
            (expr("coalesce(n_after, 0) * 10000 div n_before") -
              expr("ta * 10000 div tb")).as("dev_bp"))
          .orderBy("lang", "source")
      },
      Some("""WITH surv AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)), b AS (SELECT lang, source, count(*) AS n_before FROM documents GROUP BY 1, 2), a AS (SELECT lang, source, count(*) AS n_after FROM documents JOIN surv USING (doc_id) GROUP BY 1, 2), tot AS (SELECT (SELECT count(*) FROM documents) AS tb, (SELECT count(*) FROM surv) AS ta) SELECT b.lang, b.source, b.n_before, CAST(coalesce(a.n_after, 0) AS BIGINT) AS n_after, CAST(coalesce(a.n_after, 0) * 10000 // b.n_before AS BIGINT) AS retention_bp, CAST(coalesce(a.n_after, 0) * 10000 // b.n_before - tot.ta * 10000 // tot.tb AS BIGINT) AS dev_bp FROM b LEFT JOIN a ON a.lang = b.lang AND a.source = b.source CROSS JOIN tot ORDER BY b.lang, b.source"""),
      "E1/E4 ext: dedup survivorship audit — per-stratum retention vs corpus rate (mixture-skew detector)"))
}
