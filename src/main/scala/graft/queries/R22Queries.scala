package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.QuerySpec
import graft.ops.BpeOps

/** Round-6 widening, ninth batch: two tokenizer/dedup-infra operators
  * the LLM-pipeline surface still lacked — a BPE MERGE-LEARNING step
  * (the inner loop of tokenizer training: count adjacent symbol
  * pairs, pick the argmax, apply the merge, repeat — twice here) and
  * SHINGLE CONTAINMENT detection (asymmetric Jaccard — the
  * quote/subset duplicates that symmetric Jaccard scores low and
  * MinHash banding therefore misses; candidates come from a
  * RARE-shingle inverted index instead, the standard containment
  * blocking move).
  */
object R22Queries {

  /** q293's candidate generator, shared with ScaleSlopeSpec so the
    * measured candidate-count slope is measured on EXACTLY the
    * registered plan: a RARE-SHINGLE inverted index over distinct
    * (doc_id, s) shingle rows — only shingles with document frequency
    * 2–4 generate pairs, so the fan-out is bounded at
    * C(4,2)·|rare shingles| (linear in corpus size for a fixed
    * df-cap), never all-pairs. A contained doc must share its rare
    * shingles with its container, which is why the df-band loses no
    * subset-style duplicate (the q143 prefix-filter reasoning aimed at
    * the asymmetric case).
    */
  private[graft] def rareShingleCandidates(ds: DataFrame): DataFrame = {
    val dfq = ds.groupBy("s").agg(count(lit(1)).as("dfreq"))
    val rare = dfq.where(col("dfreq") >= 2 && col("dfreq") <= 4).select("s")
    ds.join(rare, "s")
      .select(col("doc_id").as("a"), col("s"))
      .join(ds.join(rare, "s").select(col("doc_id").as("b"), col("s")), "s")
      .where(col("a") < col("b"))
      .select("a", "b").distinct()
  }

  val specs: Seq[QuerySpec] = Seq(

    // q292 — BPE MERGE LEARNING (BpeOps.learn) over the top-100 corpus
    // words: the bounded working set tokenizer trainers iterate on; the
    // full corpus contributes only through the one word-count
    // aggregation. Output: the two learned merges (step 1, 2) + the
    // top-5 surviving pairs (step 3), fully integer-weighted.
    QuerySpec(
      "q292_bpe_merge",
      (s, d) => BpeOps.learn(BpeOps.topWords(t(s, d, "documents")), 2, 5),
      Some("""WITH words AS (SELECT ' ' || trim(regexp_replace(w, '(.)', '\1 ', 'g')) || ' ' AS sym, cnt FROM (SELECT w, count(*) AS cnt FROM (SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents) GROUP BY 1 ORDER BY cnt DESC, w LIMIT 100)), p1 AS (SELECT pair, CAST(sum(cnt) AS BIGINT) AS weight FROM (SELECT cnt, unnest([arr[i] || ' ' || arr[i + 1] for i in generate_series(1, len(arr) - 1)]) AS pair FROM (SELECT cnt, string_split(trim(sym), ' ') AS arr FROM words) WHERE len(arr) >= 2) GROUP BY 1), m1 AS (SELECT pair, weight FROM p1 ORDER BY weight DESC, pair LIMIT 1), w2 AS (SELECT replace(sym, ' ' || (SELECT pair FROM m1) || ' ', ' ' || replace((SELECT pair FROM m1), ' ', '') || ' ') AS sym, cnt FROM words), p2 AS (SELECT pair, CAST(sum(cnt) AS BIGINT) AS weight FROM (SELECT cnt, unnest([arr[i] || ' ' || arr[i + 1] for i in generate_series(1, len(arr) - 1)]) AS pair FROM (SELECT cnt, string_split(trim(sym), ' ') AS arr FROM w2) WHERE len(arr) >= 2) GROUP BY 1), m2 AS (SELECT pair, weight FROM p2 ORDER BY weight DESC, pair LIMIT 1), w3 AS (SELECT replace(sym, ' ' || (SELECT pair FROM m2) || ' ', ' ' || replace((SELECT pair FROM m2), ' ', '') || ' ') AS sym, cnt FROM w2), p3 AS (SELECT pair, CAST(sum(cnt) AS BIGINT) AS weight FROM (SELECT cnt, unnest([arr[i] || ' ' || arr[i + 1] for i in generate_series(1, len(arr) - 1)]) AS pair FROM (SELECT cnt, string_split(trim(sym), ' ') AS arr FROM w3) WHERE len(arr) >= 2) GROUP BY 1), rest AS (SELECT pair, weight FROM p3 ORDER BY weight DESC, pair LIMIT 5), u AS (SELECT 1 AS step, pair, weight FROM m1 UNION ALL SELECT 2, pair, weight FROM m2 UNION ALL SELECT 3, pair, weight FROM rest) SELECT CAST(step AS BIGINT) AS step, CAST(row_number() OVER (PARTITION BY step ORDER BY weight DESC, pair) AS BIGINT) AS rank, pair, weight FROM u ORDER BY step, rank"""),
      "E4/T ext: BPE merge learning, two merges plus the top-5 surviving pairs — bounded top-100 word table, integer weights"),

    // q293 — SHINGLE CONTAINMENT (asymmetric near-dup): containment
    // c = |Sa∩Sb| / min(|Sa|,|Sb|) catches quote/subset duplicates —
    // a short doc fully embedded in a long one scores Jaccard
    // |Sa|/|Sb| ≈ 0 but containment ≈ 1, so MinHash banding (a
    // Jaccard sketch) structurally misses it. The corpus carries no
    // natural subset pairs (its near-dups are symmetric edits), so an
    // EXCERPT leg is synthesized — every 23rd doc's first half,
    // negative-id per the q251/q195 convention — and the operator must
    // recover exactly those excerpt⊂original pairs. Candidates come
    // from a RARE-SHINGLE inverted index (document frequency 2–4): a
    // contained doc must share its rare shingles with its container,
    // and the df-cap bounds the pair fan-out at C(4,2)·|rare shingles|
    // — the q143 prefix-filter reasoning aimed at the asymmetric case.
    // Exact set arithmetic on the memoized base shingles + the delta
    // excerpt shingles; the subset-like flag marks exactly the pairs
    // Jaccard would lose (cont ≥ 0.8, J < 0.5).
    QuerySpec(
      "q293_containment",
      (s, d) => {
        val excerpts = t(s, d, "documents")
          .where(col("doc_id") % 23 === 0)
          .select((-col("doc_id") - 1000000L).as("doc_id"),
            expr("concat_ws(' ', slice(split(lower(text), ' '), 1, greatest(5, size(split(lower(text), ' ')) div 2)))")
              .as("text"))
        // Binary shingle keys + one lineage cut (the q321 convention,
        // guide §2.3): the df/candidate/intersection chain below needs
        // only shingle EQUALITY, so the union table is rekeyed once to
        // 16-byte md5 digests (collision-free at any corpus size — every
        // count unchanged) and checkpointed so its six consumers (df
        // pass, both self-join sides, sizes, both intersection sides)
        // stop re-deriving the excerpt shingling per consumer.
        val ds = ScaleQueries.shingleRows(s, d).select("doc_id", "s")
          .unionByName(graft.ops.DedupOps.shingleRows(excerpts, "text", 5)
            .select("doc_id", "s"))
          .select(col("doc_id"), unhex(md5(col("s"))).as("s"))
          .localCheckpoint(false)
        val cand = rareShingleCandidates(ds)
        val sizes = ds.groupBy("doc_id").agg(count(lit(1)).as("n"))
        val inter = cand
          .join(ds.select(col("doc_id").as("a"), col("s")), Seq("a"))
          .join(ds.select(col("doc_id").as("b"), col("s")), Seq("b", "s"))
          .groupBy("a", "b").agg(count(lit(1)).as("ix"))
        inter
          .join(sizes.select(col("doc_id").as("a"), col("n").as("na")), Seq("a"))
          .join(sizes.select(col("doc_id").as("b"), col("n").as("nb")), Seq("b"))
          .withColumn("cont_bp", expr("ix * 10000 div least(na, nb)"))
          .withColumn("jacc_bp", expr("ix * 10000 div (na + nb - ix)"))
          .withColumn("subset_like",
            (col("cont_bp") >= 8000L && col("jacc_bp") < 5000L).cast("long"))
          .select("a", "b", "ix", "na", "nb", "cont_bp", "jacc_bp", "subset_like")
          .orderBy(col("cont_bp").desc, col("a"), col("b"))
      },
      Some("""WITH base AS (SELECT doc_id, text FROM documents UNION ALL SELECT -doc_id - 1000000 AS doc_id, array_to_string((string_split(lower(text), ' '))[1:greatest(5, len(string_split(lower(text), ' ')) // 2)], ' ') AS text FROM documents WHERE doc_id % 23 = 0), toks AS (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM base), sh AS (SELECT doc_id, unnest([concat_ws(' ', tk[i], tk[i+1], tk[i+2], tk[i+3], tk[i+4]) for i in generate_series(1, len(tk) - 4)]) AS s FROM toks), ds AS (SELECT DISTINCT doc_id, s FROM sh), dfq AS (SELECT s, count(*) AS dfreq FROM ds GROUP BY 1), rare AS (SELECT s FROM dfq WHERE dfreq BETWEEN 2 AND 4), cand AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b FROM ds a JOIN rare USING (s) JOIN ds b USING (s) WHERE a.doc_id < b.doc_id), sizes AS (SELECT doc_id, count(*) AS n FROM ds GROUP BY 1), inter AS (SELECT c.a, c.b, CAST(count(*) AS BIGINT) AS ix FROM cand c JOIN ds x ON x.doc_id = c.a JOIN ds y ON y.doc_id = c.b AND y.s = x.s GROUP BY 1, 2) SELECT a, b, ix, CAST(sa.n AS BIGINT) AS na, CAST(sb.n AS BIGINT) AS nb, CAST(ix * 10000 // least(sa.n, sb.n) AS BIGINT) AS cont_bp, CAST(ix * 10000 // (sa.n + sb.n - ix) AS BIGINT) AS jacc_bp, CAST(CASE WHEN ix * 10000 // least(sa.n, sb.n) >= 8000 AND ix * 10000 // (sa.n + sb.n - ix) < 5000 THEN 1 ELSE 0 END AS BIGINT) AS subset_like FROM inter JOIN sizes sa ON sa.doc_id = inter.a JOIN sizes sb ON sb.doc_id = inter.b ORDER BY cont_bp DESC, a, b"""),
      "E2 ext: shingle containment (asymmetric Jaccard) via rare-shingle inverted index — the subset dups MinHash misses"))
}
