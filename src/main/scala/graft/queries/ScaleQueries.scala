package graft.queries

import graft.{Bases, QuerySpec, Tables}
import graft.ops.{DedupOps, TextOps, VectorOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.cosineSim

/** LLM-training-data pipeline operators (SURVEY.md §2.14 / BASELINE.json
  * north star): dedup (exact, MinHash, SimHash, n-gram Jaccard), similarity
  * search (brute-force + LSH-bucketed ANN), text analysis (lang-id,
  * quality, token counts, fingerprints) and multimodal columns.
  *
  * Scale stance: candidate generation is always a hash/bucket equi-join —
  * never an O(n²) cross join over the corpus. The only cross joins below
  * are against a fixed 10-row query set or a 1-row count.
  */
object ScaleQueries {

  /** Distinct (doc, 5-gram shingle) rows — the codegen scale path
    * (DedupOps.shingleRows), cached as the shared base of q34/q36/q90.
    * Repartition first: the single-file parquet scan yields ONE input
    * partition, which would serialize the tokenize+explode work.
    */
  private[queries] def shingleRows(s: SparkSession, d: String): DataFrame =
    Bases.memo(s, d, "shingleRows")(
      DedupOps.shingleRows(t(s, d, "documents").repartition(col("doc_id")), "text", 5))

  /** Per-doc shingle-set ARRAYS for the pairwise Jaccard step, grouped
    * from the cached rows (one keyed shuffle, shared q36/q90).
    */
  private[queries] def shingleSets(s: SparkSession, d: String): DataFrame =
    Bases.memo(s, d, "shingleSets")(
      shingleRows(s, d).groupBy("doc_id").agg(collect_list(col("s")).as("shs")))

  /** Per-doc 4-band MinHash signature rows — the persisted dedup index
    * itself, shared between candidate generation (minhashCand) and the
    * incremental delta probe (q169).
    */
  private[queries] def sigRows(s: SparkSession, d: String): DataFrame =
    Bases.memo(s, d, "sigRows")(DedupOps.minhashSignatureRows(shingleRows(s, d), 4))

  /** MinHash band-bucket candidate pairs — the shared head of q34/q36/q90,
    * cached so the signature computation runs once per session.
    */
  private[queries] def minhashCand(s: SparkSession, d: String): DataFrame =
    Bases.memo(s, d, "minhashCand")(DedupOps.candidatePairs(sigRows(s, d)))

  /** Rare-shingle (df 2–4) candidate pairs over the corpus shingle rows
    * — the second candidate generator of the dedup system (complement
    * of the banding index: catches low-Jaccard long quotes banding
    * misses), shared by q323/q324/q325/q327 like minhashCand is shared
    * by its consumers. Built once per corpus; the df-capped fan-out
    * bound is the same argument as q293's.
    */
  private[queries] def rareCand(s: SparkSession, d: String): DataFrame =
    Bases.memo(s, d, "rareCand")(
      R22Queries.rareShingleCandidates(shingleRows(s, d).select("doc_id", "s")))

  /** The UNION of both candidate generators (rare-shingle ∪ banding),
    * deduped — the complete candidate set the corpus-wide audits and
    * the policy layer operate on.
    */
  private[queries] def unionCand(s: SparkSession, d: String): DataFrame =
    Bases.memo(s, d, "unionCand")(
      rareCand(s, d).unionByName(minhashCand(s, d).select("a", "b")).distinct())

  /** Exact integer Jaccard (bp grid) for every union candidate pair —
    * ONE sh⋈sh intersection join shared by the verbatim audit (q323),
    * the S-curve population (q324 reads the rare subset), the policy
    * sweep (q325) and the index compaction (q327). Without this memo
    * each of them re-ran the suite's second-biggest pair join.
    */
  private[queries] def unionCandJacc(s: SparkSession, d: String): DataFrame =
    Bases.memo(s, d, "unionCandJacc") {
      val sh = shingleRows(s, d).select("doc_id", "s")
      val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
      unionCand(s, d)
        .join(sh.select(col("doc_id").as("a"), col("s")), Seq("a"))
        .join(sh.select(col("doc_id").as("b"), col("s")), Seq("b", "s"))
        .groupBy("a", "b").agg(count(lit(1)).as("ix"))
        .join(sizes.select(col("doc_id").as("a"), col("n").as("na")), Seq("a"))
        .join(sizes.select(col("doc_id").as("b"), col("n").as("nb")), Seq("b"))
        .select(col("a"), col("b"), col("ix"), col("na"), col("nb"),
          expr("ix * 10000 div (na + nb - ix)").as("jbp"))
    }

  /** (doc_id, term, tf) exact term frequencies — the shared base of
    * q29/q30/q35, cached across them.
    */
  private[queries] def termFreq(s: SparkSession, d: String): DataFrame =
    Bases.memo(s, d, "termFreq")(
      t(s, d, "documents")
        .repartition(col("doc_id")) // parallelize past the 1-partition scan
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("term"))
        .groupBy("doc_id", "term")
        .agg(count(lit(1)).as("tf")))

  /** Exact-verified near-dup edges (MinHash candidates confirmed at
    * Jaccard >= 0.5) and their connected-component cluster map — shared
    * by q90/q113/q167. Clustering is the LAST index-build step of a
    * dedup pipeline (candidates → verify → cluster), so like the bases
    * above it is built once per corpus: the CC iterations (bounded
    * rounds of keyed joins, DedupOps.connectedComponents) must not
    * re-run for every query that consumes the cluster map.
    */
  private[queries] def neardupEdges(s: SparkSession, d: String): DataFrame =
    Bases.memo(s, d, "neardupEdges")(
      DedupOps.jaccardForPairs(minhashCand(s, d), shingleSets(s, d))
        .where(col("jaccard") >= 0.5).select("a", "b"))

  private[queries] def neardupClusters(s: SparkSession, d: String): DataFrame =
    Bases.memo(s, d, "neardupClusters")(
      DedupOps.connectedComponents(neardupEdges(s, d)))

  /** Coarse-quantizer cell count for the shared IVF index. The TESTDATA
    * value is pinned at 8 so every chained-CTE oracle (centroid init =
    * `vec_id < 8`) replays bit-for-bit; a production corpus must NOT keep
    * a constant k — cell-local consumers (semantic dedup q171) do
    * within-cell pairwise work, which at constant k is O((n/k)²). The
    * scale rule is [[graft.ops.AnnOps.sqrtCells]] (k ≈ √n, the SemDeDup
    * operating point: E|cell| ≈ √n keeps total pair work ≈ n^1.5), and
    * [[graft.ops.AnnOps.requireCellPairBudget]] enforces the resulting
    * pair bound at runtime instead of trusting the config. The sqrt-rule
    * operating point also EXECUTES in CI — AnnRecallSpec's "k=sqrtCells(n)
    * index EXECUTES" test builds the alternate-k index and shows the
    * q171/q165 consumers are invariant under k on a seeded dup fixture.
    */
  private[queries] val ivfCells: Int = 8

  /** Deterministic IVF-flat cell assignment (AnnOps.ivfAssignFlat,
    * k = [[ivfCells]]) — the shared index of the ANN family
    * (q101/q163/q164/q165/q171/q190/q196), cached like every other
    * once-per-corpus build artifact. The cell-pairwise budget
    * (AnnOps.requireSqrtPairBudget — the q171 scale invariant) is a
    * property of this index, so it is enforced in its build, once per
    * corpus, not inside each consumer's query builder where the guard's
    * aggregation job would re-run on every plan construction and bench
    * pass.
    */
  private[queries] def ivfFlat(s: SparkSession, d: String): DataFrame =
    Bases.memo(s, d, "ivfFlat") {
      val al = graft.ops.AnnOps.ivfAssignFlat(t(s, d, "embeddings"), ivfCells).cache()
      graft.ops.AnnOps.requireSqrtPairBudget(al)
      al
    }

  /** Brute-force rounded-cosine top-3 for the shared 10-query set — the
    * GROUND TRUTH table of the ANN family, memoized because it is read by
    * both the baseline query (q37) and every recall gate that compares an
    * index against it (q163, AnnRecallSpec): truth over a fixed query
    * sample is a once-per-corpus artifact, so the broadcast-queries ×
    * corpus streaming argmax runs once, not per consumer.
    */
  private[queries] def truthTop3(s: SparkSession, d: String): DataFrame =
    Bases.memo(s, d, "truthTop3") {
      val e = t(s, d, "embeddings")
      val q = e.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val w = Window.partitionBy("qid").orderBy(col("cos_r").desc, col("cid").asc)
      broadcast(q).crossJoin(e)
        .where(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id").as("cid"),
          round(cosineSim(col("qe"), col("embedding")), 6).as("cos_r"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .where(col("rn") <= 3)
    }

  /** Modeled file manifest — one "file" per (source, doc_id % 64) with
    * its byte size, zone max, and row count; the shared table-maintenance
    * base of q215 (compaction planning, reads bytes) and q222 (zone-map
    * skipping, reads mx/rows), memoized like every once-per-corpus
    * artifact so the two queries can never disagree about what a "file"
    * is. In production this IS the table-format manifest (metadata, tiny
    * vs the data it describes) — here it is modeled from documents.
    */
  private[queries] def fileManifest(s: SparkSession, d: String): DataFrame =
    Bases.memo(s, d, "fileManifest")(
      t(s, d, "documents")
        .groupBy(col("source"), (col("doc_id") % 64).as("file_id"))
        .agg(sum("n_chars").as("bytes"), max("n_chars").as("mx"),
          count(lit(1)).as("rows")))

  /** Distinct md5 digests of the base corpus — the persisted exact-dedup
    * index an incremental ingest (q251) probes; 16 bytes per base doc,
    * built once per corpus like every other base artifact here.
    */
  private[queries] def baseMd5(s: SparkSession, d: String): DataFrame =
    Bases.memo(s, d, "baseMd5")(
      t(s, d, "documents")
        .repartition(col("doc_id")) // parallelize past the 1-partition scan
        .select(md5(col("text")).as("h")).distinct())

  /** Canonicalize the shared-base CACHE REGISTRATION state (plan-audit
    * determinism): Bases.memo calls .cache() only on CREATE, so if any code
    * path un-registers a base's cache entry mid-session (Spark's
    * uncache invalidation can cascade through dependent entries), every
    * later consumer PLANS WITHOUT the InMemoryRelation substitution —
    * same results, different physical-plan shape, which is exactly what
    * PlanAudit summaries pin. Calling this before summarizing restores
    * the invariant "every memo base is registered" regardless of suite
    * order; registration is lazy (no materialization here).
    */
  private[graft] def ensureCachedBases(s: SparkSession, d: String): Unit =
    Seq(shingleRows(s, d), shingleSets(s, d), sigRows(s, d), minhashCand(s, d),
      rareCand(s, d), unionCand(s, d), unionCandJacc(s, d),
      termFreq(s, d), neardupEdges(s, d), neardupClusters(s, d), ivfFlat(s, d),
      truthTop3(s, d), fileManifest(s, d), baseMd5(s, d),
      R38Queries.zorderPricing(s, d), R33Queries.bpeEncoded(s, d))
      .foreach { df =>
        if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE) df.cache()
      }

  /** Materialize every shared cached base (bench warmup): after this, each
    * family member's measured time is its marginal cost, not the shared
    * build — an index/corpus-prep step a real pipeline amortizes once.
    */
  def warmCaches(s: SparkSession, d: String): Unit = {
    shingleSets(s, d).count()
    baseMd5(s, d).count()
    minhashCand(s, d).count()
    unionCandJacc(s, d).count() // materializes rareCand + unionCand too
    termFreq(s, d).count()
    ivfFlat(s, d).count()
    truthTop3(s, d).count()
    neardupClusters(s, d).count()
    fileManifest(s, d).count()
    R33Queries.bpeEncoded(s, d).count()
    R3Queries.warmGraph(s, d)
    R7Queries.warmPq(s, d)
  }

  /** Shared DuckDB CTE prefix replaying shingles + 4-band md5-slice
    * MinHash over word 5-grams (band b = min over shingles of substr(md5(s), b*8+1, 8)).
    */
  private[queries] val shingleCte =
    """WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents), sh AS (SELECT DISTINCT doc_id, s FROM (SELECT doc_id, unnest([concat_ws(' ', tk[i], tk[i+1], tk[i+2], tk[i+3], tk[i+4]) for i in generate_series(1, len(tk) - 4)]) AS s FROM toks) z), sig AS (SELECT doc_id, band, min(substr(md5(s), band * 8 + 1, 8)) AS sig FROM sh, (SELECT unnest(generate_series(0, 3)) AS band) b GROUP BY doc_id, band), cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b FROM sig x JOIN sig y ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id)"""

  private[queries] val emL2 =
    """sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) for x in embedding]))"""

  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "is", "and", "data", "query"),
    "de" -> Seq("der", "und", "merge", "batch", "window"),
    "es" -> Seq("el", "y", "la", "scan", "sort"),
    "fr" -> Seq("le", "et", "stream", "join", "vector"))

  val specs: Seq[QuerySpec] = Seq(

    // q33 — E1 exact dedup: smallest doc_id survives per identical text.
    // The shuffle key is md5(text), not text (DedupOps.exactDedup): at
    // 100 TB the raw key IS the document, and a 16-byte digest groups
    // identically — the oracle mirrors the hashed GROUP BY.
    QuerySpec(
      "q33_dedup_exact",
      (s, d) => DedupOps.exactDedup(t(s, d, "documents"), "text", "doc_id")
        .select("keep_id", "n_copies")
        .orderBy("keep_id"),
      Some("""SELECT min(doc_id) AS keep_id, count(*) AS n_copies FROM documents GROUP BY md5(text) ORDER BY keep_id"""),
      "E1: exact dedup via hash groupBy on md5(text)"),

    // q34 — E2 MinHash near-dup candidates: 4-band md5 MinHash over word
    // 5-grams (selective enough that bucket collisions ~= real near-dups); pairs agreeing on any band. Fully portable (md5 + hex
    // string min are identical in DuckDB).
    QuerySpec(
      "q34_minhash_pairs",
      (s, d) => minhashCand(s, d).orderBy("a", "b"),
      Some(s"""$shingleCte SELECT a, b FROM cand ORDER BY a, b"""),
      "E2: MinHash band-bucket near-dup candidate pairs"),

    // q35 — E2 SimHash (16-bit, md5-nibble variant; the 64-bit xxhash64
    // production variant is graft.ops tested in ScalaTest — hash fns
    // beyond md5 don't exist in the oracle).
    QuerySpec(
      "q35_simhash",
      (s, d) => {
        // One shuffle, no row explosion: each of the 16 bit positions is
        // its own aggregate expression over the (doc, term, tf) rows —
        // equivalent to the oracle's explode-by-j formulation but the
        // per-term bit is evaluated inline inside whole-stage codegen.
        val tf = termFreq(s, d).withColumn("h4", expr("substr(md5(term), 1, 4)"))
        def bitJ(j: Int): String = {
          val nib = s"(instr('0123456789abcdef', substr(h4, ${j / 4 + 1}, 1)) - 1)"
          s"CAST(floor($nib / power(2, ${3 - j % 4})) AS BIGINT) % 2"
        }
        val wj = (0 to 15).map(j => sum(expr(s"tf * (2 * (${bitJ(j)}) - 1)")).as(s"w$j"))
        tf.groupBy("doc_id")
          .agg(wj.head, wj.tail: _*)
          .select(col("doc_id"),
            (0 to 15).map(j => when(col(s"w$j") > 0, lit(1L << j)).otherwise(lit(0L)))
              .reduce(_ + _).as("simhash16"))
          .orderBy("doc_id")
      },
      Some("""WITH tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents), tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2), h AS (SELECT doc_id, tf, substr(md5(term), 1, 4) AS h4 FROM tf), b AS (SELECT doc_id, tf, j, instr('0123456789abcdef', substr(h4, CAST(floor(j / 4) AS INT) + 1, 1)) - 1 AS nib FROM h, (SELECT unnest(generate_series(0, 15)) AS j) js), w AS (SELECT doc_id, j, sum(tf * (2 * (CAST(floor(nib / power(2, 3 - j % 4)) AS BIGINT) % 2) - 1)) AS wj FROM b GROUP BY 1, 2) SELECT doc_id, CAST(sum(CASE WHEN wj > 0 THEN CAST(power(2, j) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash16 FROM w GROUP BY doc_id ORDER BY doc_id"""),
      "E2: SimHash document sketch (portable 16-bit variant)"),

    // q36 — E2 n-gram Jaccard, exact, but only over MinHash candidates —
    // the compose-don't-cross-join scale pattern.
    QuerySpec(
      "q36_ngram_jaccard",
      (s, d) => DedupOps.jaccardForPairs(minhashCand(s, d), shingleSets(s, d))
        .orderBy("a", "b"),
      Some(s"""$shingleCte, cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1), inter AS (SELECT c.a, c.b, count(*) AS c FROM cand c JOIN sh sa ON sa.doc_id = c.a JOIN sh sb ON sb.doc_id = c.b AND sb.s = sa.s GROUP BY 1, 2) SELECT c.a AS a, c.b AS b, CAST(coalesce(i.c, 0) AS BIGINT) AS inter_cnt, round(coalesce(i.c, 0) * 1.0 / (ca.n + cb.n - coalesce(i.c, 0)), 6) AS jaccard FROM cand c LEFT JOIN inter i ON i.a = c.a AND i.b = c.b JOIN cnt ca ON ca.doc_id = c.a JOIN cnt cb ON cb.doc_id = c.b ORDER BY a, b"""),
      "E2: exact n-gram Jaccard over MinHash candidates"),

    // q37 — E3 brute-force cosine top-3 for a 10-query set, read from the
    // shared truthTop3 memo (one corpus pass serves this baseline AND the
    // recall gates that compare indexes against it). The query set is
    // broadcast; candidates stream. Ranking is on the ROUNDED cosine
    // (tie-broken by id) so ordering is deterministic cross-engine.
    QuerySpec(
      "q37_cosine_topk",
      (s, d) => truthTop3(s, d)
        .select("qid", "cid", "cos_r", "rn")
        .orderBy("qid", "rn"),
      Some(s"""WITH e AS (SELECT vec_id, embedding, $emL2 AS nrm FROM embeddings), p AS (SELECT q.vec_id AS qid, c.vec_id AS cid, round(list_sum([CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE) for i in generate_series(1, len(q.embedding))]) / (q.nrm * c.nrm), 6) AS cos_r FROM e q, e c WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id), r AS (SELECT qid, cid, cos_r, CAST(row_number() OVER (PARTITION BY qid ORDER BY cos_r DESC, cid) AS BIGINT) AS rn FROM p) SELECT qid, cid, cos_r, rn FROM r WHERE rn <= 3 ORDER BY qid, rn"""),
      "E3: brute-force cosine top-k (baseline ANN)"),

    // q38 — E3 LSH-bucketed ANN: 8-bit sign-projection bucket, candidates
    // share the bucket (equi-join — the 100 TB path), top-1 by rounded
    // cosine.
    QuerySpec(
      "q38_lsh_ann",
      (s, d) => {
        val b = t(s, d, "embeddings")
          .select(col("vec_id"), col("embedding"),
            VectorOps.srpBucket(col("embedding"), 8).as("bucket"))
        val q = b.where(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("bucket"))
        val w = Window.partitionBy("qid").orderBy(col("cos_r").desc, col("cid").asc)
        q.join(b, Seq("bucket"))
          .where(col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id").as("cid"), col("bucket"),
            round(cosineSim(col("qe"), col("embedding")), 6).as("cos_r"))
          .withColumn("rn", row_number().over(w).cast("long"))
          .where(col("rn") === 1)
          .select("qid", "cid", "bucket", "cos_r")
          .orderBy("qid")
      },
      Some {
        val bucketSql = (1 to 8)
          .map(i => s"${1L << (i - 1)} * (CASE WHEN embedding[$i] > 0 THEN 1 ELSE 0 END)")
          .mkString(" + ")
        s"""WITH b AS (SELECT vec_id, embedding, CAST($bucketSql AS BIGINT) AS bucket, $emL2 AS nrm FROM embeddings), p AS (SELECT q.vec_id AS qid, c.vec_id AS cid, q.bucket AS bucket, round(list_sum([CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE) for i in generate_series(1, len(q.embedding))]) / (q.nrm * c.nrm), 6) AS cos_r FROM b q JOIN b c ON q.bucket = c.bucket AND c.vec_id <> q.vec_id WHERE q.vec_id < 10), r AS (SELECT qid, cid, bucket, cos_r, row_number() OVER (PARTITION BY qid ORDER BY cos_r DESC, cid) AS rn FROM p) SELECT qid, cid, bucket, cos_r FROM r WHERE rn = 1 ORDER BY qid"""
      },
      "E3: sign-projection LSH bucketed ANN (equi-join scale path)"),

    // q39 — E4 language-ID heuristic: occurrence counts against per-lang
    // marker lists, argmax with alphabetical tie preference.
    QuerySpec(
      "q39_lang_id",
      (s, d) => {
        val toks = TextOps.tokens(col("text"))
        val m = ScaleQueries.langMarkers
        val sEn = TextOps.markerHits(toks, m("en"))
        val sDe = TextOps.markerHits(toks, m("de"))
        val sEs = TextOps.markerHits(toks, m("es"))
        val sFr = TextOps.markerHits(toks, m("fr"))
        t(s, d, "documents")
          .select(col("doc_id"), col("lang"),
            sEn.as("s_en"), sDe.as("s_de"), sEs.as("s_es"), sFr.as("s_fr"))
          .withColumn("pred",
            when(col("s_de") >= greatest(col("s_en"), col("s_es"), col("s_fr")), "de")
              .when(col("s_en") >= greatest(col("s_es"), col("s_fr")), "en")
              .when(col("s_es") >= col("s_fr"), "es")
              .otherwise("fr"))
          .orderBy("doc_id")
      },
      Some {
        def hits(l: Seq[String]) =
          s"""CAST(len(list_filter(string_split(lower(text), ' '), tk -> list_contains(${l.mkString("['", "', '", "']")}, tk))) AS BIGINT)"""
        val m = ScaleQueries.langMarkers
        s"""WITH sc AS (SELECT doc_id, lang, ${hits(m("en"))} AS s_en, ${hits(m("de"))} AS s_de, ${hits(m("es"))} AS s_es, ${hits(m("fr"))} AS s_fr FROM documents) SELECT doc_id, lang, s_en, s_de, s_es, s_fr, CASE WHEN s_de >= greatest(s_en, s_es, s_fr) THEN 'de' WHEN s_en >= greatest(s_es, s_fr) THEN 'en' WHEN s_es >= s_fr THEN 'es' ELSE 'fr' END AS pred FROM sc ORDER BY doc_id"""
      },
      "E4: marker-list language-ID heuristic"),

    // q40 — E4 quality scoring: token stats + stopword ratio + a bounded
    // composite score.
    QuerySpec(
      "q40_text_quality",
      (s, d) => {
        val toks = TextOps.tokens(col("text"))
        val nTok = size(toks).cast("long")
        val nStop = TextOps.markerHits(toks, Seq("the", "a"))
        val nChar = length(regexp_replace(col("text"), " ", "")).cast("long")
        t(s, d, "documents")
          .select(col("doc_id"),
            nTok.as("n_tok"), nChar.as("n_char_nospace"),
            round(nChar / nTok, 6).as("avg_tok_len"),
            round(nStop / nTok, 6).as("stop_ratio"),
            round(least(lit(1.0), nTok / lit(100.0)) * (lit(1.0) - nStop / nTok), 6).as("quality"))
          .orderBy("doc_id")
      },
      Some("""WITH f AS (SELECT doc_id, CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tok, CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_char_nospace, CAST(len(list_filter(string_split(lower(text), ' '), tk -> list_contains(['the', 'a'], tk))) AS BIGINT) AS n_stop FROM documents) SELECT doc_id, n_tok, n_char_nospace, round(n_char_nospace / n_tok, 6) AS avg_tok_len, round(n_stop / n_tok, 6) AS stop_ratio, round(least(1.0, n_tok / 100.0) * (1.0 - n_stop / n_tok), 6) AS quality FROM f ORDER BY doc_id"""),
      "E4: length/stopword-ratio quality scoring"),

    // q41 — E4 token counting: whitespace vs regex ("BPE-ish") vs bytes.
    QuerySpec(
      "q41_token_count",
      (s, d) => {
        t(s, d, "documents")
          .select(col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("ws_tokens"),
            regexp_count(col("text"), lit("[a-z0-9]+")).cast("long").as("re_tokens"),
            octet_length(col("text")).cast("long").as("n_bytes"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens, CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT) AS re_tokens, CAST(strlen(text) AS BIGINT) AS n_bytes FROM documents ORDER BY doc_id"""),
      "E4: whitespace/regex token counts + byte length"),

    // q42 — E4 document fingerprinting: exact-content md5 + order-
    // independent bag-of-words md5.
    QuerySpec(
      "q42_fingerprint",
      (s, d) => {
        t(s, d, "documents")
          .select(col("doc_id"),
            md5(col("text")).as("exact_fp"),
            md5(array_join(array_sort(array_distinct(TextOps.tokens(col("text")))), " ")).as("bag_fp"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, md5(text) AS exact_fp, md5(array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' ')) AS bag_fp FROM documents ORDER BY doc_id"""),
      "E4: content + bag-of-words md5 fingerprints"),

    // q43 — E5 multimodal join: text metadata ⋈ embedding vectors
    // (vec_id aligns with doc_id per FIXTURES.md §B).
    QuerySpec(
      "q43_multimodal_join",
      (s, d) => {
        val docs = t(s, d, "documents")
        val emb = t(s, d, "embeddings")
        docs.join(emb, docs("doc_id") === emb("vec_id"))
          .select(col("doc_id"), col("lang"), col("n_chars"),
            col("label").cast("long").as("label"),
            round(VectorOps.l2norm(col("embedding")), 6).as("emb_l2"))
          .orderBy("doc_id")
      },
      Some(s"""SELECT doc_id, lang, n_chars, CAST(label AS BIGINT) AS label, round($emL2, 6) AS emb_l2 FROM documents JOIN embeddings ON doc_id = vec_id ORDER BY doc_id"""),
      "E5: multimodal text⋈embedding join"),

    // q44 — E5 binary-column plumbing: text → binary payload →
    // mapPartitions feature extraction. The byte-level "decode" stands in
    // for an image/audio decoder (those libs aren't in this container —
    // SURVEY.md §2.14); the Spark plumbing (binary schema, typed
    // partition-wise extraction, no driver collect) is real. The fixture
    // text is pure ASCII (verified: strlen == length corpus-wide), so the
    // UTF-8 byte math IS oracle-expressible as a codepoint fold.
    QuerySpec(
      "q44_binary_features",
      (s, d) => {
        val sp = s
        import sp.implicits._
        t(s, d, "documents")
          .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
          .as[(Long, Array[Byte])]
          .mapPartitions(_.map { case (id, bytes) =>
            // Deterministic stand-in for a real media decoder.
            val sum = bytes.foldLeft(0L)((acc, b) => acc + java.lang.Byte.toUnsignedInt(b))
            (id, bytes.length.toLong, sum)
          })
          .toDF("doc_id", "n_bytes", "byte_sum")
          .withColumn("byte_mean", round(col("byte_sum") / col("n_bytes"), 6))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes, CAST(list_sum([unicode(substr(text, i, 1)) for i in generate_series(1, length(text))]) AS BIGINT) AS byte_sum, round(list_sum([unicode(substr(text, i, 1)) for i in generate_series(1, length(text))]) * 1.0 / strlen(text), 6) AS byte_mean FROM documents ORDER BY doc_id"""),
      "E5: binary payload + mapPartitions feature extraction (stub decoder)"),

    // q90 — E2 near-dup CLUSTERING: the step after pair generation in a
    // real dedup pipeline. Edges = MinHash candidates confirmed by exact
    // Jaccard ≥ 0.5; clusters = connected components by min-label
    // propagation (DedupOps.connectedComponents); cluster id = min doc_id.
    // Oracle replays the components with a recursive transitive-closure
    // CTE.
    QuerySpec(
      "q90_neardup_clusters",
      (s, d) => neardupClusters(s, d)
        .select(col("id").as("doc_id"), col("cluster"))
        .orderBy("doc_id"),
      Some(s"""${shingleCte.replaceFirst("WITH ", "WITH RECURSIVE ")}, cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1), inter AS (SELECT c.a, c.b, count(*) AS c FROM cand c JOIN sh sa ON sa.doc_id = c.a JOIN sh sb ON sb.doc_id = c.b AND sb.s = sa.s GROUP BY 1, 2), jac AS (SELECT c.a, c.b FROM cand c JOIN inter i ON i.a = c.a AND i.b = c.b JOIN cnt ca ON ca.doc_id = c.a JOIN cnt cb ON cb.doc_id = c.b WHERE round(i.c * 1.0 / (ca.n + cb.n - i.c), 6) >= 0.5), e AS (SELECT a AS src, b AS dst FROM jac UNION SELECT b, a FROM jac), reach AS (SELECT src AS id, src AS r FROM e UNION SELECT re.id, e.dst FROM reach re JOIN e ON e.src = re.r) SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS cluster FROM reach GROUP BY 1 ORDER BY 1"""),
      "E2: near-dup clustering via connected components"),

    // q91 — ML-prep feature scaling: z-score (population σ) and min-max,
    // global stats broadcast onto the rows.
    QuerySpec(
      "q91_standardize",
      (s, d) => {
        val c = t(s, d, "customer")
        val stats = c.agg(
          avg("c_acctbal").as("mu"), stddev_pop(col("c_acctbal")).as("sig"),
          min("c_acctbal").as("mn"), max("c_acctbal").as("mx"))
        c.crossJoin(broadcast(stats))
          .select(
            col("c_custkey"),
            round((col("c_acctbal") - col("mu")) / col("sig"), 6).as("z"),
            round((col("c_acctbal") - col("mn")) / (col("mx") - col("mn")), 6).as("mm"))
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, round((c_acctbal - mu) / sig, 6) AS z, round((c_acctbal - mn) / (mx - mn), 6) AS mm FROM customer CROSS JOIN (SELECT avg(c_acctbal) AS mu, stddev_pop(c_acctbal) AS sig, min(c_acctbal) AS mn, max(c_acctbal) AS mx FROM customer) ORDER BY c_custkey"""),
      "T ext: z-score + min-max feature scaling"),

    // q92 — categorical association: mutual information between lang and
    // source over the document corpus (feature-selection statistic),
    // from joint/marginal count aggregates — no driver-side math.
    QuerySpec(
      "q92_mutual_info",
      (s, d) => {
        val docs = t(s, d, "documents")
        val n = docs.agg(count(lit(1)).as("n"))
        val joint = docs.groupBy("lang", "source").agg(count(lit(1)).as("nxy"))
        val px = docs.groupBy("lang").agg(count(lit(1)).as("nx"))
        val py = docs.groupBy("source").agg(count(lit(1)).as("ny"))
        joint.join(broadcast(px), "lang").join(broadcast(py), "source")
          .crossJoin(broadcast(n))
          .agg(
            round(sum((col("nxy") / col("n")) *
              log(col("nxy") * col("n") / (col("nx") * col("ny")))), 6).as("mi"),
            count(lit(1)).as("n_cells"))
      },
      Some("""WITH nn AS (SELECT count(*) AS n FROM documents), j AS (SELECT lang, source, count(*) AS nxy FROM documents GROUP BY 1, 2), px AS (SELECT lang, count(*) AS nx FROM documents GROUP BY 1), py AS (SELECT source, count(*) AS ny FROM documents GROUP BY 1) SELECT round(sum((nxy * 1.0 / n) * ln(nxy * 1.0 * n / (nx * 1.0 * ny))), 6) AS mi, count(*) AS n_cells FROM j JOIN px USING (lang) JOIN py USING (source) CROSS JOIN nn"""),
      "E4 ext: lang×source mutual information"),

    // q101 — one-pass IVF-flat ANN (AnnOps.ivfAssignFlat): deterministic
    // centroid sample (k lowest ids) makes the WHOLE index+search
    // pipeline oracle-expressible, unlike q60's iterative KMeans cells —
    // the build-time-cheap scale path.
    QuerySpec(
      "q101_ivf_flat",
      (s, d) => {
        graft.ops.AnnOps.ivfTop1(ivfFlat(s, d), col("vec_id") < 10)
          .select(col("qid"), col("cid"), col("cell").cast("long").as("cell"), col("cos_r"))
          .orderBy("qid")
      },
      Some {
        val dot = "round(list_sum([CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE) for i in generate_series(1, len(a.embedding))]) / (a.nrm * b.nrm), 6)"
        s"""WITH e AS (SELECT vec_id, embedding, $emL2 AS nrm FROM embeddings), asg AS (SELECT a.vec_id, a.embedding, a.nrm, b.vec_id AS cell, row_number() OVER (PARTITION BY a.vec_id ORDER BY $dot DESC, b.vec_id) AS rn FROM e a CROSS JOIN (SELECT vec_id, embedding, nrm FROM e WHERE vec_id < 8) b), cells AS (SELECT vec_id, embedding, nrm, cell FROM asg WHERE rn = 1), p AS (SELECT a.vec_id AS qid, b.vec_id AS cid, a.cell AS cell, $dot AS cos_r FROM cells a JOIN cells b ON a.cell = b.cell AND b.vec_id <> a.vec_id WHERE a.vec_id < 10), r AS (SELECT qid, cid, cell, cos_r, row_number() OVER (PARTITION BY qid ORDER BY cos_r DESC, cid) AS rn FROM p) SELECT qid, cid, CAST(cell AS BIGINT) AS cell, cos_r FROM r WHERE rn = 1 ORDER BY qid"""
      },
      "E3: one-pass IVF-flat ANN, fully oracle-checked"),

    // q113 — the dedup PIPELINE end-to-end: near-dup clusters (q90's
    // path) joined back to the corpus, one row per cluster with member
    // stats and the canonical (min-id) doc's length — what a training-
    // data pipeline actually materializes before dropping duplicates.
    QuerySpec(
      "q113_dedup_pipeline",
      (s, d) => {
        val clusters = neardupClusters(s, d)
        clusters.join(t(s, d, "documents"), clusters("id") === col("doc_id"))
          .groupBy("cluster")
          .agg(
            count(lit(1)).as("n_docs"),
            sum("n_chars").as("member_chars"),
            max(when(col("id") === col("cluster"), col("n_chars"))).as("canonical_chars"))
          .orderBy("cluster")
      },
      Some(s"""${shingleCte.replaceFirst("WITH ", "WITH RECURSIVE ")}, cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1), inter AS (SELECT c.a, c.b, count(*) AS c FROM cand c JOIN sh sa ON sa.doc_id = c.a JOIN sh sb ON sb.doc_id = c.b AND sb.s = sa.s GROUP BY 1, 2), jac AS (SELECT c.a, c.b FROM cand c JOIN inter i ON i.a = c.a AND i.b = c.b JOIN cnt ca ON ca.doc_id = c.a JOIN cnt cb ON cb.doc_id = c.b WHERE round(i.c * 1.0 / (ca.n + cb.n - i.c), 6) >= 0.5), e AS (SELECT a AS src, b AS dst FROM jac UNION SELECT b, a FROM jac), reach AS (SELECT src AS id, src AS r FROM e UNION SELECT re.id, e.dst FROM reach re JOIN e ON e.src = re.r), cl AS (SELECT id, min(r) AS cluster FROM reach GROUP BY 1) SELECT cluster, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS member_chars, CAST(max(CASE WHEN id = cluster THEN n_chars END) AS BIGINT) AS canonical_chars FROM cl JOIN documents ON id = doc_id GROUP BY 1 ORDER BY 1"""),
      "E1/E2: full dedup pipeline — clusters + canonical-doc stats"),

    // q114 — equi-depth quantile binning (ML-prep discretizer), the
    // scale-safe formulation: decile CUT POINTS from one distributed
    // percentile aggregate, broadcast back (1 row), bin by value compare.
    // No global row sort — the previous ntile-over-unpartitioned-window
    // form pulled every row through a single task's sort. At corpus scale
    // approx_percentile is the drop-in same-shape variant; exact
    // percentile is kept here so the oracle compare is value-exact.
    // Ties sit entirely inside one bin (pure value comparison) in both
    // engines, so the compare is deterministic.
    QuerySpec(
      "q114_quantile_binning",
      (s, d) => {
        val c = t(s, d, "customer")
        val cuts = c.agg(
          percentile(col("c_acctbal"),
            lit((1 to 9).map(_ / 10.0).toArray)).as("q"))
        val decile = (1 to 9)
          .map(i => when(col("c_acctbal") > element_at(col("q"), i), 1L).otherwise(0L))
          .reduce(_ + _) + lit(1L)
        c.crossJoin(broadcast(cuts))
          .select(col("c_custkey"), col("c_acctbal"), decile.as("decile"))
          .groupBy("decile")
          .agg(count(lit(1)).as("cnt"),
            min("c_acctbal").as("lo"), max("c_acctbal").as("hi"))
          .orderBy("decile")
      },
      Some {
        val add = (1 to 9)
          .map(i => s"(CASE WHEN c_acctbal > q[$i] THEN 1 ELSE 0 END)")
          .mkString(" + ")
        val ps = (1 to 9).map(i => s"0.$i").mkString(", ")
        s"""WITH cuts AS (SELECT quantile_cont(c_acctbal, [$ps]) AS q FROM customer), b AS (SELECT c_acctbal, CAST(1 + $add AS BIGINT) AS decile FROM customer CROSS JOIN cuts) SELECT decile, count(*) AS cnt, min(c_acctbal) AS lo, max(c_acctbal) AS hi FROM b GROUP BY 1 ORDER BY 1"""
      },
      "T9 ext: equi-depth decile binning via percentile cut points (no global sort)"),

    // q115 — time-series resample + forward-fill (LOCF): per-user hourly
    // grid between that user's first and last event hour, hourly avg
    // where events exist, last-observation-carried-forward through gaps.
    // Grid generation is per-key sequence+explode; the fill is one keyed
    // window — both scale with users, not with the time range globally.
    QuerySpec(
      "q115_forward_fill",
      (s, d) => {
        val ev = t(s, d, "events")
        val hb = ev
          .groupBy(col("user_id"),
            (floor(unix_timestamp(col("ts")) / 3600) * 3600).cast("long").as("hr"))
          .agg(round(avg("value"), 4).as("v"))
        val rng = hb.groupBy("user_id").agg(min("hr").as("mn"), max("hr").as("mx"))
        val grid = rng.select(col("user_id"),
          explode(sequence(col("mn"), col("mx"), lit(3600L))).as("hr"))
        val w = Window.partitionBy("user_id").orderBy("hr")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        grid.join(hb, Seq("user_id", "hr"), "left")
          .select(col("user_id"), col("hr"),
            round(last("v", ignoreNulls = true).over(w), 4).as("filled"),
            col("v").isNull.cast("int").as("is_gap"))
          .orderBy("user_id", "hr")
      },
      Some("""WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events), hb AS (SELECT user_id, CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS hr, round(avg(value), 4) AS v FROM ev GROUP BY 1, 2), rng AS (SELECT user_id, min(hr) AS mn, max(hr) AS mx FROM hb GROUP BY 1), grid AS (SELECT user_id, unnest(generate_series(mn, mx, 3600)) AS hr FROM rng), j AS (SELECT g.user_id AS user_id, g.hr AS hr, hb.v AS v FROM grid g LEFT JOIN hb ON hb.user_id = g.user_id AND hb.hr = g.hr) SELECT user_id, hr, round(last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY hr ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS filled, CAST(v IS NULL AS INT) AS is_gap FROM j ORDER BY user_id, hr"""),
      "§2.12 ext: hourly resample + forward-fill (LOCF)"))
}
