package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QuerySpec
import graft.functions.cosineSim

/** Round-5 additions — the two index-family members the round-4 review
  * named as the remaining standard shapes: IVF-PQ (product quantization,
  * the memory-bound ANN serving layout at 10⁹+ vectors — q144 covered
  * scalar int8 only) and perceptual-hash dedup of binary payloads (E5
  * decoded media but never deduped it). Both fully DuckDB-oracled.
  */
object R7Queries {

  /** Element rows of the embedding corpus split into 4-dim subvectors:
    * (vec_id, pos, sub, x) — the training/serving substrate of the PQ
    * family.
    */
  private def pqElems(s: SparkSession, d: String): DataFrame =
    t(s, d, "embeddings")
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "xf")))
      .withColumn("x", col("xf").cast("double"))
      .withColumn("sub", (col("pos") / 4).cast("int"))

  /** One Lloyd assignment round: nearest codebook entry per (vector,
    * subvector) by rounded L2, tie-broken by code id.
    */
  private def pqAssign(ex: DataFrame, cent: DataFrame): DataFrame = {
    val w = Window.partitionBy("vec_id", "sub")
      .orderBy(col("d2").asc, col("code").asc)
    ex.join(broadcast(cent), Seq("sub", "pos"))
      .groupBy("vec_id", "sub", "code")
      .agg(round(sum(pow(col("x") - col("cx"), 2)), 6).as("d2"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select("vec_id", "sub", "code")
  }

  /** The trained PQ codebook (sub, code, pos, cx): 16 subquantizers ×
    * 32 entries, one fixed Lloyd re-center from the 32-lowest-id init.
    * Like ivfFlat/truthTop3 this is a once-per-corpus INDEX-BUILD
    * artifact, memoized so verify + both bench passes train once and
    * every consumer (codes, MSE audit, ADC serving) pays only its
    * marginal cost — before the memo, each consumer re-evaluated the
    * whole training chain and q198 was the most expensive query in the
    * bench (5.8 s); after, serving is the measured cost.
    */
  private def pqCodebook(s: SparkSession, d: String): DataFrame =
    ScaleQueries.memo(s, d, "pqCodebook") {
      val ex = pqElems(s, d)
      val c0 = ex.where(col("vec_id") < 32)
        .select(col("sub"), col("vec_id").as("code"), col("pos"),
          round(col("x"), 6).as("cx"))
      ex.join(pqAssign(ex, c0), Seq("vec_id", "sub"))
        .groupBy("sub", "code", "pos").agg(round(avg("x"), 6).as("cx"))
    }

  /** The corpus's PQ codes (vec_id, sub, code) — the 10-byte-per-vector
    * serving table ADC scans instead of the floats.
    */
  private def pqCodes(s: SparkSession, d: String): DataFrame =
    ScaleQueries.memo(s, d, "pqCodes")(
      pqAssign(pqElems(s, d), pqCodebook(s, d)))

  /** The persisted phash band index (doc_id, phash, band, bits): 4×16-bit
    * Hamming band buckets over MultimodalOps.perceptualHash64, shared by
    * q199 (full media dedup) and q208 (incremental probe). Memoized like
    * every once-per-corpus index artifact — before the memo each
    * consumer re-ran the full-corpus decode+hash on every invocation.
    */
  private def phashBands(s: SparkSession, d: String): DataFrame =
    ScaleQueries.memo(s, d, "phashBands") {
      graft.ops.MultimodalOps.perceptualHash64(
          graft.ops.MultimodalOps.mediaFromDocuments(t(s, d, "documents")))
        .select(col("doc_id"), col("phash"),
          explode(array((0 until 4).map(lit): _*)).as("band"))
        .withColumn("bits",
          expr("shiftright(phash, 16 * band)").bitwiseAND(lit(65535L)))
    }

  /** ADC shortlist (qid, cid): per-query LUT of partial dots against the
    * PQ codebook, scored over ONLY the code rows — restricted to the
    * `cand` (qid, cid) pairs when given (the coarse-pruned path, q209),
    * else the whole codes table (flat ADC, q198). Top-20 by rounded
    * approximate cosine, id-tiebroken. ONE copy of the ADC convention
    * (pdot LUT, additive codebook-norm nc approximation, 6dp rounding)
    * so the serving queries and their oracles cannot drift apart.
    */
  private def adcShortlist(s: SparkSession, d: String, cand: Option[DataFrame]): DataFrame = {
    val ex = pqElems(s, d)
    val c1 = pqCodebook(s, d)
    val qx = ex.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("sub"), col("pos"), col("x"))
    val qn = qx.groupBy("qid").agg(sqrt(sum(col("x") * col("x"))).as("nv"))
    val lut = qx.join(broadcast(c1), Seq("sub", "pos"))
      .groupBy("qid", "sub", "code").agg(sum(col("x") * col("cx")).as("pdot"))
    val cn2 = c1.groupBy("sub", "code").agg(sum(col("cx") * col("cx")).as("n2"))
    val codes = pqCodes(s, d).select(col("vec_id").as("cid"), col("sub"), col("code"))
    val scored = cand match {
      case Some(cd) => cd.join(codes, "cid")
        .join(broadcast(lut), Seq("qid", "sub", "code"))
      case None => codes.join(broadcast(lut), Seq("sub", "code"))
        .where(col("cid") =!= col("qid"))
    }
    val wq = Window.partitionBy("qid").orderBy(col("cos_a").desc, col("cid").asc)
    scored.join(broadcast(cn2), Seq("sub", "code"))
      .groupBy("qid", "cid")
      .agg(sum("pdot").as("dot"), sqrt(sum("n2")).as("nc"))
      .join(broadcast(qn), "qid")
      .select(col("qid"), col("cid"),
        round(col("dot") / (col("nv") * col("nc")), 6).as("cos_a"))
      .withColumn("rn", row_number().over(wq))
      .where(col("rn") <= 20)
      .select("qid", "cid")
  }

  /** Exact-cosine re-rank of an ADC shortlist — full-vector reads for
    * the (query × ≤20 candidate) rows only, top-1 per query.
    */
  private def exactRerankTop1(s: SparkSession, d: String, short: DataFrame): DataFrame = {
    val e = t(s, d, "embeddings")
    val wr = Window.partitionBy("qid").orderBy(col("cos_r").desc, col("cid").asc)
    short
      .join(e.select(col("vec_id").as("qid"), col("embedding").as("qe")), "qid")
      .join(e.select(col("vec_id").as("cid"), col("embedding").as("ce")), "cid")
      .select(col("qid"), col("cid"),
        round(cosineSim(col("qe"), col("ce")), 6).as("cos_r"))
      .withColumn("rn", row_number().over(wr))
      .where(col("rn") === 1)
      .select("qid", "cid")
  }

  /** Coarse-quantizer probe ranks of the shared 10-query set against
    * the ivfFlat centroid convention (vec_id < 8 init): (qid, qe, cell,
    * pn), pn = probe rank by rounded cosine, id-tiebroken. q209 consumes
    * pn ≤ 2, q210 sweeps pn ≤ 4 — one copy of the probe construction.
    */
  private def coarseProbes(s: SparkSession, d: String): DataFrame = {
    val e = t(s, d, "embeddings")
    val cents = e.where(col("vec_id") < 8)
      .select(col("vec_id").as("cent_id"), col("embedding").as("ce"))
    val wq = Window.partitionBy("qid").orderBy(col("cos_c").desc, col("cent_id").asc)
    e.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      .crossJoin(broadcast(cents))
      .select(col("qid"), col("qe"), col("cent_id"),
        round(cosineSim(col("qe"), col("ce")), 6).as("cos_c"))
      .withColumn("pn", row_number().over(wq))
      .select(col("qid"), col("qe"), col("cent_id").as("cell"), col("pn"))
  }

  /** Materialize the round-5 memo family (ScaleQueries.warmCaches hook). */
  private[queries] def warmPq(s: SparkSession, d: String): Unit = {
    pqCodebook(s, d).count()
    pqCodes(s, d).count()
    phashBands(s, d).count()
  }

  val specs: Seq[QuerySpec] = Seq(

    // q198 — IVF-PQ: product quantization + ADC search with exact
    // re-rank, the memory-bound serving shape of a billion-vector index
    // (each vector stored as m=16 5-bit codes ≈ 10 bytes instead of 64
    // floats — 26× compression). Training is the q161 fixed-Lloyd unroll applied
    // PER 4-DIM SUBVECTOR: init each subquantizer's 32-entry codebook
    // from the 32 lowest-id vectors' subvectors, one assign/re-center
    // round, re-assign — every step exactly replayable as chained CTEs
    // (centroids and distances rounded to 6dp → on a value grid, so
    // cross-engine ulp noise sits ten orders below the rounding spacing).
    // Serving is authentic ADC: per query, a (16 sub × 32 code) lookup
    // table of partial dots — the corpus side touches ONLY the code rows
    // (m per vector, never the floats), so the scan cost at 10⁹ vectors
    // is the codes table, not the embeddings. The ADC top-20 shortlist
    // then gets ONE exact-cosine re-rank pass (10 query × 20 candidate
    // full-vector reads — the standard refine step; ADC alone ranks by a
    // lossy reconstruction and its argmax is not a useful index). Output:
    // corpus size, reconstruction MSE (the PQ quality gate, vs q144's
    // scalar-quant MSE), and recall@1 against the shared brute-force
    // truth (0.9 at both shipped SFs — floor-pinned in AnnRecallSpec).
    QuerySpec(
      "q198_ivf_pq",
      (s, d) => {
        val ex = pqElems(s, d)
        val c1 = pqCodebook(s, d)
        val a2 = pqCodes(s, d)
        // reconstruction-error audit: decode every vector from its codes
        val mseRow = ex.join(a2, Seq("vec_id", "sub"))
          .join(broadcast(c1), Seq("sub", "code", "pos"))
          .agg(round(avg(pow(col("x") - col("cx"), 2)) * 1e6, 4).as("mse_u"))
        val nRow = a2.agg(countDistinct("vec_id").as("n_vecs"))
        // ADC over ALL code rows (cand = None), then the exact re-rank
        // of the top-20 shortlist (full-vector reads: 10×20 rows)
        val best = exactRerankTop1(s, d, adcShortlist(s, d, None))
        val truth = ScaleQueries.truthTop3(s, d)
          .where(col("rn") === 1)
          .select(col("qid"), col("cid").as("true_cid"))
        val recallRow = best.join(truth, "qid")
          .agg(sum(when(col("cid") === col("true_cid"), 1L).otherwise(0L)).as("hits"),
            round(sum(when(col("cid") === col("true_cid"), 1L).otherwise(0L)) /
              count(lit(1)), 6).as("recall_1"))
        nRow.crossJoin(mseRow).crossJoin(recallRow)
      },
      Some("""WITH ex AS (SELECT vec_id, u['p'] AS pos, CAST(floor((u['p'] - 1) / 4) AS INT) AS sub, CAST(u['x'] AS DOUBLE) AS x FROM (SELECT vec_id, unnest([{'p': i, 'x': embedding[i]} for i in generate_series(1, len(embedding))]) AS u FROM embeddings)), c0 AS (SELECT sub, vec_id AS code, pos, round(x, 6) AS cx FROM ex WHERE vec_id < 32), d1 AS (SELECT ex.vec_id, ex.sub, c0.code, round(sum(pow(ex.x - c0.cx, 2)), 6) AS d2 FROM ex JOIN c0 ON ex.pos = c0.pos GROUP BY 1, 2, 3), a1 AS (SELECT vec_id, sub, code FROM (SELECT vec_id, sub, code, row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, code) AS rn FROM d1) WHERE rn = 1), c1 AS (SELECT a1.sub, a1.code, ex.pos, round(avg(ex.x), 6) AS cx FROM ex JOIN a1 ON ex.vec_id = a1.vec_id AND ex.sub = a1.sub GROUP BY 1, 2, 3), d2t AS (SELECT ex.vec_id, ex.sub, c1.code, round(sum(pow(ex.x - c1.cx, 2)), 6) AS d2 FROM ex JOIN c1 ON ex.pos = c1.pos AND ex.sub = c1.sub GROUP BY 1, 2, 3), a2 AS (SELECT vec_id, sub, code FROM (SELECT vec_id, sub, code, row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, code) AS rn FROM d2t) WHERE rn = 1), rec AS (SELECT ex.vec_id, ex.x, c1.cx FROM ex JOIN a2 ON ex.vec_id = a2.vec_id AND ex.sub = a2.sub JOIN c1 ON c1.sub = a2.sub AND c1.code = a2.code AND c1.pos = ex.pos), qx AS (SELECT vec_id AS qid, pos, sub, x FROM ex WHERE vec_id < 10), qn AS (SELECT qid, sqrt(sum(x * x)) AS nv FROM qx GROUP BY 1), lut AS (SELECT qx.qid, c1.sub, c1.code, sum(qx.x * c1.cx) AS pdot FROM qx JOIN c1 ON qx.pos = c1.pos AND qx.sub = c1.sub GROUP BY 1, 2, 3), cn2 AS (SELECT sub, code, sum(cx * cx) AS n2 FROM c1 GROUP BY 1, 2), score AS (SELECT l.qid, a2.vec_id AS cid, sum(l.pdot) AS dot, sqrt(sum(cn2.n2)) AS nc FROM a2 JOIN lut l ON l.sub = a2.sub AND l.code = a2.code JOIN cn2 ON cn2.sub = a2.sub AND cn2.code = a2.code WHERE a2.vec_id <> l.qid GROUP BY 1, 2), short AS (SELECT qid, cid FROM (SELECT s.qid, s.cid, row_number() OVER (PARTITION BY s.qid ORDER BY round(s.dot / (qn.nv * s.nc), 6) DESC, s.cid) AS rn FROM score s JOIN qn ON qn.qid = s.qid) WHERE rn <= 20), e AS (SELECT vec_id, embedding, sqrt(list_sum([pow(CAST(embedding[i] AS DOUBLE), 2) for i in generate_series(1, len(embedding))])) AS nrm FROM embeddings), rr AS (SELECT sh.qid, sh.cid, round(list_sum([CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE) for i in generate_series(1, len(q.embedding))]) / (q.nrm * c.nrm), 6) AS cos_r FROM short sh JOIN e q ON q.vec_id = sh.qid JOIN e c ON c.vec_id = sh.cid), best AS (SELECT qid, cid FROM (SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY cos_r DESC, cid) AS rn FROM rr) WHERE rn = 1), p AS (SELECT q.vec_id AS qid, c.vec_id AS cid, round(list_sum([CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE) for i in generate_series(1, len(q.embedding))]) / (q.nrm * c.nrm), 6) AS cos_r FROM e q, e c WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id), tr AS (SELECT qid, cid AS true_cid FROM (SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY cos_r DESC, cid) AS rn FROM p) WHERE rn = 1) SELECT CAST((SELECT count(DISTINCT vec_id) FROM a2) AS BIGINT) AS n_vecs, round((SELECT avg(pow(x - cx, 2)) FROM rec) * 1e6, 4) AS mse_u, CAST(sum(CASE WHEN b.cid = tr.true_cid THEN 1 ELSE 0 END) AS BIGINT) AS hits, round(sum(CASE WHEN b.cid = tr.true_cid THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS recall_1 FROM best b JOIN tr ON tr.qid = b.qid"""),
      "E3 ext: IVF-PQ — per-subvector Lloyd codebooks, ADC search, exact re-rank"),

    // q199 — perceptual-hash dedup of BINARY payloads (the media-dedup
    // gap: E5 decoded payloads but never deduped them). The 64-bit
    // block-sample hash is computed inside the decode path
    // (MultimodalOps.perceptualHash64 — sampling resize, integer aHash
    // bit rule), then candidates come from 4×16-bit Hamming band buckets
    // EXACTLY like simhash near-dup (DedupOps.simhash64/hamming): two
    // payloads within Hamming 8 share ≥1 exact band by pigeonhole
    // (4 bands, ≤8 differing bits cannot touch all 4... they can touch at
    // most 8 — but ≥1 band is clean whenever the 8 bits fall in ≤3 bands;
    // the band join is a RECALL heuristic, the standard LSH trade), so
    // candidate generation is an equi-join on (band, bits) — ~0.5% of all
    // pairs at both shipped SFs (measured), never corpus×corpus. Verify
    // is exact bit_count(xor) on the 64-bit sketch. All-integer math —
    // zero cross-engine float risk. ASCII payload contract as q44.
    QuerySpec(
      "q199_phash_dedup",
      (s, d) => {
        val bands = phashBands(s, d)
        val cand = bands.select(col("doc_id").as("a"), col("phash").as("pha"),
            col("band"), col("bits"))
          .join(bands.select(col("doc_id").as("b"), col("phash").as("phb"),
            col("band"), col("bits")), Seq("band", "bits"))
          .where(col("a") < col("b"))
          .select("a", "b", "pha", "phb").distinct()
        cand
          .select(col("a"), col("b"),
            graft.ops.DedupOps.hamming(col("pha"), col("phb"))
              .cast("long").as("hamming"))
          .where(col("hamming") <= 8)
          .orderBy("a", "b")
      },
      Some("""WITH s AS (SELECT doc_id, [unicode(substr(text, CAST(floor(j * strlen(text) / 64) AS INT) + 1, 1)) for j in generate_series(0, 63)] AS c FROM documents), ph AS (SELECT doc_id, list_sum([CASE WHEN 64 * c[j+1] > list_sum(c) THEN CAST(power(2, j) AS HUGEINT) ELSE 0 END for j in generate_series(0, 63)]) AS h FROM s), hashes AS (SELECT doc_id, CAST(h - CASE WHEN h >= 9223372036854775808 THEN 18446744073709551616 ELSE 0 END AS BIGINT) AS phash FROM ph), bb AS (SELECT doc_id, phash, band, (phash >> CAST(16 * band AS INT)) & 65535 AS bits FROM (SELECT doc_id, phash, unnest(generate_series(0, 3)) AS band FROM hashes) z), cand AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b, a.phash AS pha, b.phash AS phb FROM bb a JOIN bb b ON a.band = b.band AND a.bits = b.bits AND a.doc_id < b.doc_id) SELECT a, b, CAST(bit_count(xor(pha, phb)) AS BIGINT) AS hamming FROM cand WHERE bit_count(xor(pha, phb)) <= 8 ORDER BY a, b"""),
      "E2/E5 ext: perceptual-hash dedup of binary payloads (band-bucketed Hamming)"),

    // q200 — PCA top principal component by TWO UNROLLED POWER-ITERATION
    // rounds (the q161/q137 fixed-iteration trick applied to the third
    // classic iterative kernel): v ← normalize(Xᶜᵀ(Xᶜ v)) from the
    // deterministic all-ones unit init. The d×d covariance matrix is
    // NEVER materialized — each iteration is two keyed aggregations over
    // the (n·d) element rows (project per vector, re-weight per
    // dimension), which is the only shape that survives d in the
    // thousands at 10⁹ rows; μ and v are d-row broadcasts. Every BOUNDED
    // intermediate (μ, per-vector projections, the normalized v) is
    // rounded to 6dp so both engines iterate on the same value grid; the
    // unnormalized weight sums w are deliberately NOT rounded — their
    // magnitude grows ~sqrt(n), so a fixed grid's noise margin shrinks
    // with corpus size, while rounding only O(1) values keeps the grid
    // spacing ten orders above cross-engine summation noise at any n. Output: per-label
    // projection stats along the top component + the variance it
    // explains — the embedding-health readout (a collapsed embedder
    // shows var_explained → 1).
    QuerySpec(
      "q200_pca_power",
      (s, d) => {
        val ex = t(s, d, "embeddings")
          .select(col("vec_id"), col("label"),
            posexplode(col("embedding")).as(Seq("pos", "xf")))
          .withColumn("x", col("xf").cast("double"))
        val mu = ex.groupBy("pos").agg(round(avg("x"), 6).as("m"))
        val cx = ex.join(broadcast(mu), "pos")
          .select(col("vec_id"), col("label"), col("pos"),
            (col("x") - col("m")).as("xc"))
        def iterate(v: DataFrame): DataFrame = {
          val p = cx.join(broadcast(v), "pos")
            .groupBy("vec_id").agg(round(sum(col("xc") * col("v")), 6).as("p"))
          // w is NOT rounded: it is an unnormalized corpus-wide sum whose
          // magnitude grows ~sqrt(n), so a fixed 6dp grid loses its
          // noise margin as the corpus grows; the O(1) normalized v below
          // is where the cross-engine grid snap happens.
          val w = cx.join(p, "vec_id")
            .groupBy("pos").agg(sum(col("xc") * col("p")).as("w"))
          w.crossJoin(w.agg(sqrt(sum(col("w") * col("w"))).as("nrm")))
            .select(col("pos"), round(col("w") / col("nrm"), 6).as("v"))
        }
        val v0 = ex.select(col("pos")).distinct().select(col("pos"), lit(0.125).as("v"))
        val v2 = iterate(iterate(v0))
        val pf = cx.join(broadcast(v2), "pos")
          .groupBy("vec_id", "label").agg(round(sum(col("xc") * col("v")), 6).as("p"))
        val tv = ex.groupBy("pos").agg(var_pop(col("x")).as("vr"))
          .agg(sum("vr").as("totvar"))
        val pv = pf.agg(var_pop(col("p")).as("pcvar"))
        pf.groupBy("label")
          .agg(count(lit(1)).as("n"), round(avg("p"), 6).as("avg_proj"),
            round(stddev_pop(col("p")), 6).as("sd_proj"))
          .crossJoin(pv).crossJoin(tv)
          .select(col("label"), col("n"), col("avg_proj"), col("sd_proj"),
            round(col("pcvar") / col("totvar"), 6).as("var_explained"))
          .orderBy("label")
      },
      Some("""WITH ex AS (SELECT vec_id, label, u['p'] AS pos, CAST(u['x'] AS DOUBLE) AS x FROM (SELECT vec_id, label, unnest([{'p': i, 'x': embedding[i]} for i in generate_series(1, len(embedding))]) AS u FROM embeddings)), mu AS (SELECT pos, round(avg(x), 6) AS m FROM ex GROUP BY 1), cx AS (SELECT vec_id, label, ex.pos, ex.x - m AS xc FROM ex JOIN mu USING (pos)), p1 AS (SELECT vec_id, round(sum(xc * 0.125), 6) AS p FROM cx GROUP BY 1), w1 AS (SELECT pos, sum(xc * p) AS w FROM cx JOIN p1 USING (vec_id) GROUP BY 1), v1 AS (SELECT pos, round(w / sqrt((SELECT sum(w * w) FROM w1)), 6) AS v FROM w1), p2 AS (SELECT vec_id, round(sum(xc * v), 6) AS p FROM cx JOIN v1 USING (pos) GROUP BY 1), w2 AS (SELECT pos, sum(xc * p) AS w FROM cx JOIN p2 USING (vec_id) GROUP BY 1), v2 AS (SELECT pos, round(w / sqrt((SELECT sum(w * w) FROM w2)), 6) AS v FROM w2), pf AS (SELECT vec_id, label, round(sum(xc * v), 6) AS p FROM cx JOIN v2 USING (pos) GROUP BY 1, 2), tv AS (SELECT sum(vr) AS totvar FROM (SELECT var_pop(x) AS vr FROM ex GROUP BY pos) z), pv AS (SELECT var_pop(p) AS pcvar FROM pf) SELECT label, CAST(count(*) AS BIGINT) AS n, round(avg(p), 6) AS avg_proj, round(stddev_pop(p), 6) AS sd_proj, round((SELECT pcvar FROM pv) / (SELECT totvar FROM tv), 6) AS var_explained FROM pf GROUP BY 1 ORDER BY 1"""),
      "E3/ML ext: PCA top component via two unrolled power-iteration rounds"),

    // q201 — repeated-passage mining (the tractable projection of exact
    // SUBSTRING dedup, Lee et al.'s suffix-array pass): every 8-token
    // window (stride 1) of every doc, grouped corpus-wide; a doc's
    // contamination score is the fraction of its windows whose passage
    // also appears in some OTHER doc. This catches verbatim copied spans
    // that 5-gram shingle Jaccard dilutes below threshold (a 30-token
    // quote inside a 500-token doc moves Jaccard ~6% but lights up 23
    // consecutive windows here). Scale: window rows ≈ token rows (the
    // shingleRows cost class, map-side generate); one shuffle groups by
    // passage, one joins the (passage → spread) table back — no pairwise
    // anything. Docs under 8 tokens have no windows and are absent, as
    // in the shingle family.
    QuerySpec(
      "q201_passage_mining",
      (s, d) => {
        val tk = t(s, d, "documents").repartition(col("doc_id"))
          .select(col("doc_id"), graft.ops.TextOps.tokens(col("text")).as("tk"))
        val w = tk.where(size(col("tk")) >= 8)
          .select(col("doc_id"), explode(expr(
            "transform(sequence(0, size(tk) - 8), i -> concat_ws(' ', slice(tk, i + 1, 8)))"))
            .as("p"))
        // Only the SHARED passages (n_docs >= 2 — the rare duplicated
        // spans) flow back to the per-doc rollup. The n_docs >= 2
        // pre-filter is the real win (the unfiltered spread table is
        // ~|windows| rows); the join strategy is left to AQE, which
        // sees the filtered aggregate's ACTUAL runtime size — a forced
        // broadcast hint here would ship a data-dependent table (all
        // duplicated passages) to every executor even on a boilerplate-
        // heavy corpus where it is no longer small, where the shuffle
        // join degrades gracefully instead.
        val shared = w.groupBy("p")
          .agg(countDistinct("doc_id").as("n_docs"), count(lit(1)).as("n_occ"))
          .where(col("n_docs") >= 2)
        w.join(shared, Seq("p"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_windows"),
            sum(when(col("n_docs").isNotNull, 1L).otherwise(0L)).as("n_shared"),
            coalesce(max("n_occ"), lit(0L)).as("max_spread"))
          .withColumn("shared_frac", round(col("n_shared") / col("n_windows"), 6))
          .orderBy("doc_id")
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents), w AS (SELECT doc_id, unnest([concat_ws(' ', tk[i], tk[i+1], tk[i+2], tk[i+3], tk[i+4], tk[i+5], tk[i+6], tk[i+7]) for i in generate_series(1, len(tk) - 7)]) AS p FROM toks WHERE len(tk) >= 8), g AS (SELECT p, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occ FROM w GROUP BY 1) SELECT doc_id, count(*) AS n_windows, CAST(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared, CAST(max(CASE WHEN n_docs >= 2 THEN n_occ ELSE 0 END) AS BIGINT) AS max_spread, round(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS shared_frac FROM w JOIN g USING (p) GROUP BY 1 ORDER BY 1"""),
      "E1/E4 ext: repeated-passage mining (verbatim-span contamination per doc)"),

    // q202 — dedup aggressiveness curve: for each candidate threshold θ,
    // how many verified pairs survive and how many docs a keep-lowest-id
    // policy would drop. THE tuning artifact of a dedup deployment — θ is
    // the single knob, and this is its dose-response curve, computed in
    // ONE pass over the already-verified pair table (explode pairs × 5
    // thresholds; conditional aggs keep every θ row when pairs exist but
    // none pass a threshold — a corpus with NO candidate pairs at all
    // yields an empty curve, identically in both engines, since the
    // explode has nothing to fan out) — the pair table is the expensive
    // build and it is the shared minhashCand/shingleSets artifact,
    // reused cached.
    QuerySpec(
      "q202_dedup_sweep",
      (s, d) => {
        val jac = graft.ops.DedupOps.jaccardForPairs(
          ScaleQueries.minhashCand(s, d), ScaleQueries.shingleSets(s, d))
        jac.withColumn("threshold",
            explode(array(Seq(0.5, 0.6, 0.7, 0.8, 0.9).map(lit): _*)))
          .groupBy("threshold")
          .agg(
            sum(when(col("jaccard") >= col("threshold"), 1L).otherwise(0L)).as("n_pairs"),
            countDistinct(when(col("jaccard") >= col("threshold"), col("b")))
              .as("n_docs_dropped"))
          .crossJoin(t(s, d, "documents").agg(count(lit(1)).as("n_docs")))
          .select(col("threshold"), col("n_pairs"), col("n_docs_dropped"),
            round(col("n_docs_dropped") / col("n_docs"), 6).as("drop_frac"))
          .orderBy("threshold")
      },
      Some(s"""${ScaleQueries.shingleCte}, cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1), inter AS (SELECT c.a, c.b, count(*) AS c FROM cand c JOIN sh sa ON sa.doc_id = c.a JOIN sh sb ON sb.doc_id = c.b AND sb.s = sa.s GROUP BY 1, 2), jac AS (SELECT c.a, c.b, round(coalesce(i.c, 0) * 1.0 / (ca.n + cb.n - coalesce(i.c, 0)), 6) AS jaccard FROM cand c LEFT JOIN inter i ON i.a = c.a AND i.b = c.b JOIN cnt ca ON ca.doc_id = c.a JOIN cnt cb ON cb.doc_id = c.b), th AS (SELECT unnest([0.5, 0.6, 0.7, 0.8, 0.9]) AS threshold) SELECT threshold, CAST(sum(CASE WHEN jaccard >= threshold THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs, CAST(count(DISTINCT CASE WHEN jaccard >= threshold THEN b END) AS BIGINT) AS n_docs_dropped, round(count(DISTINCT CASE WHEN jaccard >= threshold THEN b END) * 1.0 / (SELECT count(*) FROM documents), 6) AS drop_frac FROM jac CROSS JOIN th GROUP BY 1 ORDER BY 1"""),
      "E2 ext: dedup threshold dose-response curve over the verified pair table"),

    // q203 — near-dup cluster CANONICALIZATION: the step that turns the
    // cluster map into an actual dataset edit. Per cluster, keep the
    // richest doc (max n_chars, doc_id as the deterministic tie-break)
    // and account for what the edit saves. One window over each cluster's
    // members (bounded by cluster size — near-dup clusters are small by
    // construction; the q142-style per-source cap is the guard upstream)
    // plus a broadcast-size doc-metadata join. Reads the cached cluster
    // map; never recomputes candidates/verify/CC.
    QuerySpec(
      "q203_cluster_canon",
      (s, d) => {
        val members = ScaleQueries.neardupClusters(s, d)
          .select(col("id").as("doc_id"), col("cluster"))
          .join(t(s, d, "documents").select(col("doc_id"), col("n_chars")), "doc_id")
        val w = Window.partitionBy("cluster")
          .orderBy(col("n_chars").desc, col("doc_id").asc)
        members.withColumn("rn", row_number().over(w))
          .groupBy("cluster")
          .agg(count(lit(1)).as("n_members"),
            min(when(col("rn") === 1, col("doc_id"))).as("kept_doc"),
            max(when(col("rn") === 1, col("n_chars"))).as("kept_chars"),
            sum(when(col("rn") =!= 1, col("n_chars")).otherwise(0L)).as("chars_dropped"))
          .orderBy("cluster")
      },
      Some(s"""${ScaleQueries.shingleCte.replaceFirst("WITH ", "WITH RECURSIVE ")}, cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1), inter AS (SELECT c.a, c.b, count(*) AS c FROM cand c JOIN sh sa ON sa.doc_id = c.a JOIN sh sb ON sb.doc_id = c.b AND sb.s = sa.s GROUP BY 1, 2), jacp AS (SELECT c.a, c.b FROM cand c JOIN inter i ON i.a = c.a AND i.b = c.b JOIN cnt ca ON ca.doc_id = c.a JOIN cnt cb ON cb.doc_id = c.b WHERE round(i.c * 1.0 / (ca.n + cb.n - i.c), 6) >= 0.5), e AS (SELECT a AS src, b AS dst FROM jacp UNION SELECT b, a FROM jacp), reach AS (SELECT src AS id, src AS r FROM e UNION SELECT re.id, e.dst FROM reach re JOIN e ON e.src = re.r), comp AS (SELECT id AS doc_id, min(r) AS cluster FROM reach GROUP BY 1), m AS (SELECT comp.doc_id, comp.cluster, d.n_chars, row_number() OVER (PARTITION BY comp.cluster ORDER BY d.n_chars DESC, comp.doc_id) AS rn FROM comp JOIN documents d USING (doc_id)) SELECT cluster, CAST(count(*) AS BIGINT) AS n_members, CAST(min(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT) AS kept_doc, CAST(max(CASE WHEN rn = 1 THEN n_chars END) AS BIGINT) AS kept_chars, CAST(sum(CASE WHEN rn <> 1 THEN n_chars ELSE 0 END) AS BIGINT) AS chars_dropped FROM m GROUP BY 1 ORDER BY 1"""),
      "E2 ext: cluster canonicalization — keep-richest representative + savings accounting"),

    // q204 — ordered event FUNNEL with per-step time windows (view →
    // click within 6h → purchase within 6h): the canonical product-
    // analytics query, decorrelated into three keyed min-aggs — each
    // step is one equi-join on user_id against the previous step's
    // (user, ts) table, never a self-cross. Scale: step tables shrink
    // monotonically (150 → 19 → 1 at sf0.01), so each later join is
    // against an ever-smaller broadcastable side; timestamps compare
    // exactly (micros both engines).
    QuerySpec(
      "q204_event_funnel",
      (s, d) => {
        val ev = t(s, d, "events").select(col("user_id"), col("event_type"), col("ts"))
        val s1 = ev.where(col("event_type") === "view")
          .groupBy("user_id").agg(min("ts").as("t1"))
        val s2 = ev.where(col("event_type") === "click").join(s1, "user_id")
          .where(col("ts") > col("t1") &&
            col("ts") <= col("t1") + expr("INTERVAL 6 HOURS"))
          .groupBy("user_id").agg(min("ts").as("t2"))
        val s3 = ev.where(col("event_type") === "purchase").join(s2, "user_id")
          .where(col("ts") > col("t2") &&
            col("ts") <= col("t2") + expr("INTERVAL 6 HOURS"))
          .groupBy("user_id").agg(min("ts").as("t3"))
        ev.agg(countDistinct("user_id").as("n_users"))
          .crossJoin(s1.agg(count(lit(1)).as("n_view")))
          .crossJoin(s2.agg(count(lit(1)).as("n_click")))
          .crossJoin(s3.agg(count(lit(1)).as("n_purchase")))
          .select(col("n_users"), col("n_view"), col("n_click"), col("n_purchase"),
            round(col("n_click") / col("n_view"), 6).as("view_to_click"),
            round(col("n_purchase") / col("n_click"), 6).as("click_to_purchase"))
      },
      Some("""WITH ev AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events), s1 AS (SELECT user_id, min(ts) AS t1 FROM ev WHERE event_type = 'view' GROUP BY 1), s2 AS (SELECT e.user_id, min(ts) AS t2 FROM ev e JOIN s1 ON s1.user_id = e.user_id AND e.ts > s1.t1 AND e.ts <= s1.t1 + INTERVAL '6 hours' WHERE event_type = 'click' GROUP BY 1), s3 AS (SELECT e.user_id, min(ts) AS t3 FROM ev e JOIN s2 ON s2.user_id = e.user_id AND e.ts > s2.t2 AND e.ts <= s2.t2 + INTERVAL '6 hours' WHERE event_type = 'purchase' GROUP BY 1) SELECT (SELECT count(DISTINCT user_id) FROM ev) AS n_users, (SELECT count(*) FROM s1) AS n_view, (SELECT count(*) FROM s2) AS n_click, (SELECT count(*) FROM s3) AS n_purchase, round((SELECT count(*) FROM s2) * 1.0 / (SELECT count(*) FROM s1), 6) AS view_to_click, round((SELECT count(*) FROM s3) * 1.0 / (SELECT count(*) FROM s2), 6) AS click_to_purchase"""),
      "§2.12 ext: time-bounded ordered funnel via cascading keyed min-aggs"),

    // q205 — behavioral PATH-TRIGRAM mining (the contiguous-sequence core
    // of PrefixSpan-style pattern mining, one order above q193's single-
    // step transition matrix): every contiguous 3-event-type path per
    // user, counted corpus-wide, with the lift of each path over its
    // first-order factorization P(t1)·P(t2|t1)·P(t3|t2) — lift ≫ 1 is a
    // genuine second-order behavior (a memoryless user model can't
    // produce it), the signal sequence-anomaly detectors key on. Two
    // lead() steps over the user-keyed window (ts + event_id tie-break),
    // one count agg; the path table is ≤ |types|³ = 125 rows and every
    // supporting table (bigram, unigram) is an aggregate of it.
    QuerySpec(
      "q205_path_trigrams",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
        val tri = t(s, d, "events")
          .select(col("user_id"), col("event_id"), col("ts"),
            col("event_type").as("t1"))
          .withColumn("t2", lead("t1", 1).over(w))
          .withColumn("t3", lead("t1", 2).over(w))
          .where(col("t3").isNotNull)
          .groupBy("t1", "t2", "t3").agg(count(lit(1)).as("n"))
        val big = tri.groupBy("t1", "t2").agg(sum("n").as("n12"))
        val uni = tri.groupBy("t1").agg(sum("n").as("n1"))
        val tot = tri.agg(sum("n").as("nt"))
        // expected count under the first-order chain: nt · P(t1) ·
        // P(t2|t1) · P(t3|t2), with the bigram tables reused for both
        // conditionals (t2→t3 read from the same bigram table re-keyed)
        val big23 = tri.groupBy(col("t2").as("b1"), col("t3").as("b2"))
          .agg(sum("n").as("m23"))
        val uni2 = tri.groupBy(col("t2").as("b1")).agg(sum("n").as("m2"))
        tri.join(broadcast(big), Seq("t1", "t2"))
          .join(broadcast(uni), Seq("t1"))
          .join(broadcast(big23),
            col("t2") === col("b1") && col("t3") === col("b2"))
          .join(broadcast(uni2), col("t2") === uni2("b1")).drop("b1", "b2")
          .crossJoin(tot)
          .select(col("t1"), col("t2"), col("t3"), col("n"),
            round(col("n") / (col("nt") * (col("n1") / col("nt")) *
              (col("n12") / col("n1")) * (col("m23") / col("m2"))), 6).as("lift"))
          .orderBy("t1", "t2", "t3")
      },
      Some("""WITH ev AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type AS t1 FROM events), sq AS (SELECT t1, lead(t1, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t2, lead(t1, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t3 FROM ev), tri AS (SELECT t1, t2, t3, count(*) AS n FROM sq WHERE t3 IS NOT NULL GROUP BY 1, 2, 3), big AS (SELECT t1, t2, sum(n) AS n12 FROM tri GROUP BY 1, 2), uni AS (SELECT t1, sum(n) AS n1 FROM tri GROUP BY 1), big23 AS (SELECT t2 AS b1, t3 AS b2, sum(n) AS m23 FROM tri GROUP BY 1, 2), uni2 AS (SELECT t2 AS b1, sum(n) AS m2 FROM tri GROUP BY 1), tot AS (SELECT sum(n) AS nt FROM tri) SELECT tri.t1, tri.t2, tri.t3, CAST(tri.n AS BIGINT) AS n, round(tri.n / (tot.nt * (uni.n1 * 1.0 / tot.nt) * (big.n12 * 1.0 / uni.n1) * (big23.m23 * 1.0 / uni2.m2)), 6) AS lift FROM tri JOIN big USING (t1, t2) JOIN uni USING (t1) JOIN big23 ON tri.t2 = big23.b1 AND tri.t3 = big23.b2 JOIN uni2 ON tri.t2 = uni2.b1 CROSS JOIN tot ORDER BY 1, 2, 3"""),
      "§2.5 ext: path-trigram mining with lift vs the first-order chain (q193's next order)"),

    // q206 — Zipf fit: OLS of ln(freq) on ln(rank) over the corpus term-
    // frequency table — the one-line corpus-health check (natural text
    // slopes ≈ −1; a synthetic or template-heavy corpus flattens). The
    // only global window ranks the per-term TOTAL table (|vocab| rows —
    // bounded like q141's heavy-hitters input, allowlisted with that
    // bound); the regression is closed-form sums over ≤100 ranked rows.
    QuerySpec(
      "q206_zipf_fit",
      (s, d) => {
        val tot = ScaleQueries.termFreq(s, d)
          .groupBy("term").agg(sum("tf").as("c"))
        val ranked = tot
          .withColumn("rn", row_number().over(
            Window.orderBy(col("c").desc, col("term").asc)))
          .where(col("rn") <= 100)
          .select(log(col("rn")).as("x"), log(col("c")).as("y"))
        ranked.agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
            sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"),
            sum(col("y") * col("y")).as("syy"))
          .select(col("n").cast("long").as("n_terms"),
            round((col("n") * col("sxy") - col("sx") * col("sy")) /
              (col("n") * col("sxx") - col("sx") * col("sx")), 6).as("slope"),
            round((col("sy") - (col("n") * col("sxy") - col("sx") * col("sy")) /
              (col("n") * col("sxx") - col("sx") * col("sx")) * col("sx")) / col("n"), 6)
              .as("intercept"),
            round(pow(col("n") * col("sxy") - col("sx") * col("sy"), 2) /
              ((col("n") * col("sxx") - col("sx") * col("sx")) *
               (col("n") * col("syy") - col("sy") * col("sy"))), 6).as("r2"))
      },
      Some("""WITH tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents), tot AS (SELECT term, count(*) AS c FROM tok GROUP BY 1), ranked AS (SELECT ln(rn) AS x, ln(c) AS y FROM (SELECT c, row_number() OVER (ORDER BY c DESC, term) AS rn FROM tot) z WHERE rn <= 100), s AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy FROM ranked) SELECT CAST(n AS BIGINT) AS n_terms, round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope, round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6) AS intercept, round(pow(n * sxy - sx * sy, 2) / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2 FROM s"""),
      "E4 ext: Zipf law fit (closed-form OLS over the ranked term totals)"),

    // q207 — DSIR-style importance weights: score every doc by the
    // log-likelihood ratio of its unigrams under the TARGET domain's
    // (lang='en') smoothed LM vs the whole-corpus LM — the
    // importance-resampling signal for steering a 100-TB crawl toward a
    // target distribution without training anything. All inputs are
    // aggregates of the shared termFreq cache: two |vocab|-row LM tables
    // (broadcast), scalar totals, one join back over the (doc, term)
    // rows. Laplace smoothing keeps out-of-target terms finite, the
    // q197/PSI stance.
    QuerySpec(
      "q207_dsir_weights",
      (s, d) => {
        val tf = ScaleQueries.termFreq(s, d)
        val docs = t(s, d, "documents").select(col("doc_id"), col("lang"))
        val tgt = tf.join(docs.where(col("lang") === "en"), "doc_id")
          .groupBy("term").agg(sum("tf").as("ct"))
        val all = tf.groupBy("term").agg(sum("tf").as("cg"))
        val lm = all.join(tgt, Seq("term"), "left")
          .na.fill(0L, Seq("ct"))
          .crossJoin(all.agg(sum("cg").as("ng"), count(lit(1)).as("v")))
          .crossJoin(tgt.agg(sum("ct").as("nt")))
          .select(col("term"),
            (log((col("ct") + 1) / (col("nt") + col("v"))) -
             log((col("cg") + 1) / (col("ng") + col("v")))).as("lr"))
        // Per-doc weights are floor-quantized to integer MICRO-units
        // before the language rollup: rounded-double weights sit on a
        // 1e-6 grid, so their float average can land exactly on a
        // round-half boundary where engine summation order decides the
        // 6th decimal (observed at sf0.001). With BIGINT micro sums the
        // final division runs on identical exact inputs in both engines.
        val wdoc = tf.join(broadcast(lm), "term")
          .groupBy("doc_id")
          .agg(floor(sum(col("tf") * col("lr")) / sum("tf") * 1000000.0 + 0.5)
            .cast("long").as("wu"))
        wdoc.join(docs, "doc_id")
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            round(sum("wu").cast("double") / count(lit(1)) / 1000000.0, 6).as("avg_w"),
            round(sum(when(col("wu") > 0, 1L).otherwise(0L)) / count(lit(1)), 6)
              .as("upsample_frac"))
          .orderBy("lang")
      },
      Some("""WITH tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents), tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2), tgt AS (SELECT term, sum(tf.tf) AS ct FROM tf JOIN documents d USING (doc_id) WHERE d.lang = 'en' GROUP BY 1), allt AS (SELECT term, sum(tf) AS cg FROM tf GROUP BY 1), tots AS (SELECT (SELECT sum(cg) FROM allt) AS ng, (SELECT count(*) FROM allt) AS v, (SELECT sum(ct) FROM tgt) AS nt), lm AS (SELECT a.term, ln((coalesce(t.ct, 0) + 1) * 1.0 / (tots.nt + tots.v)) - ln((a.cg + 1) * 1.0 / (tots.ng + tots.v)) AS lr FROM allt a LEFT JOIN tgt t USING (term) CROSS JOIN tots), wdoc AS (SELECT doc_id, CAST(floor(sum(tf.tf * lm.lr) / sum(tf.tf) * 1000000.0 + 0.5) AS BIGINT) AS wu FROM tf JOIN lm USING (term) GROUP BY 1) SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs, round(CAST(sum(wu) AS DOUBLE) / count(*) / 1000000.0, 6) AS avg_w, round(sum(CASE WHEN wu > 0 THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS upsample_frac FROM wdoc JOIN documents d USING (doc_id) GROUP BY 1 ORDER BY 1"""),
      "E4 ext: DSIR-style importance weights (target-vs-corpus unigram LLR)"),

    // q208 — INCREMENTAL perceptual-hash dedup: the media twin of q169
    // (text signatures) and q190 (embedding cells), completing the
    // incremental trio — a crawl increment (doc_id % 10 >= 8 plays the
    // "new batch") probes the persisted phash band index instead of
    // recomputing base×base. The delta filter is applied to the probing
    // side BEFORE the join (then pairs are least/greatest-normalized),
    // not as an (new_a || new_b) post-filter — a disjunction referencing
    // both sides cannot be pushed below the join, which would quietly
    // materialize every base×base band collision and turn the claimed
    // incremental cost into full-recompute cost. Shuffle: |delta|×4 band
    // rows equi-join the index; every emitted pair touches the delta.
    // Same radius-8 verify as q199.
    QuerySpec(
      "q208_incr_phash",
      (s, d) => {
        val bands = phashBands(s, d)
        val delta = bands.where(col("doc_id") % 10 >= 8)
        val cand = delta.select(col("doc_id").as("x"), col("phash").as("ph_x"),
            col("band"), col("bits"))
          .join(bands.select(col("doc_id").as("y"), col("phash").as("ph_y"),
            col("band"), col("bits")), Seq("band", "bits"))
          .where(col("x") =!= col("y"))
          .select(least(col("x"), col("y")).as("a"),
            greatest(col("x"), col("y")).as("b"),
            when(col("x") < col("y"), col("ph_x")).otherwise(col("ph_y")).as("ph_a"),
            when(col("x") < col("y"), col("ph_y")).otherwise(col("ph_x")).as("ph_b"))
          .distinct()
        cand
          .select(col("a"), col("b"),
            graft.ops.DedupOps.hamming(col("ph_a"), col("ph_b"))
              .cast("long").as("hamming"),
            (col("b") % 10 >= 8).cast("long").as("b_is_new"))
          .where(col("hamming") <= 8)
          .orderBy("a", "b")
      },
      Some("""WITH s AS (SELECT doc_id, [unicode(substr(text, CAST(floor(j * strlen(text) / 64) AS INT) + 1, 1)) for j in generate_series(0, 63)] AS c FROM documents), ph AS (SELECT doc_id, list_sum([CASE WHEN 64 * c[j+1] > list_sum(c) THEN CAST(power(2, j) AS HUGEINT) ELSE 0 END for j in generate_series(0, 63)]) AS h FROM s), hashes AS (SELECT doc_id, CAST(h - CASE WHEN h >= 9223372036854775808 THEN 18446744073709551616 ELSE 0 END AS BIGINT) AS phash FROM ph), bb AS (SELECT doc_id, phash, band, (phash >> CAST(16 * band AS INT)) & 65535 AS bits FROM (SELECT doc_id, phash, unnest(generate_series(0, 3)) AS band FROM hashes) z), cand AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b, a.phash AS pha, b.phash AS phb FROM bb a JOIN bb b ON a.band = b.band AND a.bits = b.bits AND a.doc_id < b.doc_id WHERE a.doc_id % 10 >= 8 OR b.doc_id % 10 >= 8) SELECT a, b, CAST(bit_count(xor(pha, phb)) AS BIGINT) AS hamming, CAST(b % 10 >= 8 AS BIGINT) AS b_is_new FROM cand WHERE bit_count(xor(pha, phb)) <= 8 ORDER BY a, b"""),
      "E2/E5 ext: incremental media dedup — delta probes the persisted phash band index"),

    // q209 — the FULL IVF-PQ serving stack, coarse stage included (q198
    // is flat ADC: it scores every code row; real serving first prunes
    // with the coarse quantizer): queries probe their top-2 IVF cells
    // (the shared ivfFlat index), ADC scores ONLY the probed cells'
    // code rows via the per-query LUT, the top-20 shortlist gets the
    // exact re-rank. Measured here: the stack scans ~24% of the corpus
    // for recall@1 0.8-0.9 vs flat ADC's 100%/0.9 — the cost/recall
    // trade the nprobe knob (q210) tunes. Every component is a shared
    // memoized artifact (ivfFlat, pqCodebook, pqCodes, truthTop3); the
    // query itself is the cell equi-join + code-row joins + 10×20
    // full-vector re-rank.
    QuerySpec(
      "q209_ivf_adc",
      (s, d) => {
        val e = t(s, d, "embeddings")
        val probes = coarseProbes(s, d)
          .where(col("pn") <= 2).select("qid", "cell")
        val cand = probes
          .join(ScaleQueries.ivfFlat(s, d).select(col("vec_id").as("cid"), col("cell")), "cell")
          .where(col("cid") =!= col("qid"))
          .select("qid", "cid")
        val best = exactRerankTop1(s, d, adcShortlist(s, d, Some(cand)))
        val truth = ScaleQueries.truthTop3(s, d)
          .where(col("rn") === 1).select(col("qid"), col("cid").as("true_cid"))
        val scanned = cand.agg(count(lit(1)).as("n_scanned"))
          .crossJoin(e.agg((count(lit(1)) - 1).as("npc")))
          .select(col("n_scanned"),
            round(col("n_scanned") / (col("npc") * 10), 6).as("scan_frac"))
        scanned.crossJoin(
          best.join(truth, "qid")
            .agg(sum(when(col("cid") === col("true_cid"), 1L).otherwise(0L)).as("hits"),
              round(sum(when(col("cid") === col("true_cid"), 1L).otherwise(0L)) /
                count(lit(1)), 6).as("recall_1")))
      },
      Some("""WITH e AS (SELECT vec_id, embedding, sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) for x in embedding])) AS nrm FROM embeddings), asg AS (SELECT a.vec_id, a.embedding, a.nrm, b.vec_id AS cell, row_number() OVER (PARTITION BY a.vec_id ORDER BY round(list_sum([CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE) for i in generate_series(1, len(a.embedding))]) / (a.nrm * b.nrm), 6) DESC, b.vec_id) AS rn FROM e a CROSS JOIN (SELECT vec_id, embedding, nrm FROM e WHERE vec_id < 8) b), cells AS (SELECT vec_id, cell FROM asg WHERE rn = 1), probes AS (SELECT vec_id AS qid, cell FROM asg WHERE rn <= 2 AND vec_id < 10), candd AS (SELECT p.qid, c.vec_id AS cid FROM probes p JOIN cells c USING (cell) WHERE c.vec_id <> p.qid), ex AS (SELECT vec_id, u['p'] AS pos, CAST(floor((u['p'] - 1) / 4) AS INT) AS sub, CAST(u['x'] AS DOUBLE) AS x FROM (SELECT vec_id, unnest([{'p': i, 'x': embedding[i]} for i in generate_series(1, len(embedding))]) AS u FROM embeddings)), c0 AS (SELECT sub, vec_id AS code, pos, round(x, 6) AS cx FROM ex WHERE vec_id < 32), d1 AS (SELECT ex.vec_id, ex.sub, c0.code, round(sum(pow(ex.x - c0.cx, 2)), 6) AS d2 FROM ex JOIN c0 ON ex.pos = c0.pos GROUP BY 1, 2, 3), a1 AS (SELECT vec_id, sub, code FROM (SELECT vec_id, sub, code, row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, code) AS rn FROM d1) WHERE rn = 1), c1 AS (SELECT a1.sub, a1.code, ex.pos, round(avg(ex.x), 6) AS cx FROM ex JOIN a1 ON ex.vec_id = a1.vec_id AND ex.sub = a1.sub GROUP BY 1, 2, 3), d2t AS (SELECT ex.vec_id, ex.sub, c1.code, round(sum(pow(ex.x - c1.cx, 2)), 6) AS d2 FROM ex JOIN c1 ON ex.pos = c1.pos AND ex.sub = c1.sub GROUP BY 1, 2, 3), a2 AS (SELECT vec_id, sub, code FROM (SELECT vec_id, sub, code, row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, code) AS rn FROM d2t) WHERE rn = 1), qx AS (SELECT vec_id AS qid, pos, sub, x FROM ex WHERE vec_id < 10), qn AS (SELECT qid, sqrt(sum(x * x)) AS nv FROM qx GROUP BY 1), lut AS (SELECT qx.qid, c1.sub, c1.code, sum(qx.x * c1.cx) AS pdot FROM qx JOIN c1 ON qx.pos = c1.pos AND qx.sub = c1.sub GROUP BY 1, 2, 3), cn2 AS (SELECT sub, code, sum(cx * cx) AS n2 FROM c1 GROUP BY 1, 2), score AS (SELECT cd.qid, cd.cid, sum(l.pdot) AS dot, sqrt(sum(cn2.n2)) AS nc FROM candd cd JOIN a2 ON a2.vec_id = cd.cid JOIN lut l ON l.qid = cd.qid AND l.sub = a2.sub AND l.code = a2.code JOIN cn2 ON cn2.sub = a2.sub AND cn2.code = a2.code GROUP BY 1, 2), short AS (SELECT qid, cid FROM (SELECT s.qid, s.cid, row_number() OVER (PARTITION BY s.qid ORDER BY round(s.dot / (qn.nv * s.nc), 6) DESC, s.cid) AS rn FROM score s JOIN qn USING (qid)) WHERE rn <= 20), rr AS (SELECT sh.qid, sh.cid, round(list_sum([CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE) for i in generate_series(1, len(q.embedding))]) / (q.nrm * c.nrm), 6) AS cos_r FROM short sh JOIN e q ON q.vec_id = sh.qid JOIN e c ON c.vec_id = sh.cid), best AS (SELECT qid, cid FROM (SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY cos_r DESC, cid) AS rn FROM rr) WHERE rn = 1), p AS (SELECT a.vec_id AS qid, b.vec_id AS cid, round(list_sum([CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE) for i in generate_series(1, len(a.embedding))]) / (a.nrm * b.nrm), 6) AS cos_r FROM e a CROSS JOIN e b WHERE a.vec_id < 10 AND b.vec_id <> a.vec_id), tr AS (SELECT qid, cid AS true_cid FROM (SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY cos_r DESC, cid) AS rn FROM p) WHERE rn = 1) SELECT CAST((SELECT count(*) FROM candd) AS BIGINT) AS n_scanned, round((SELECT count(*) FROM candd) * 1.0 / (10 * (SELECT count(*) - 1 FROM e)), 6) AS scan_frac, CAST(sum(CASE WHEN b.cid = tr.true_cid THEN 1 ELSE 0 END) AS BIGINT) AS hits, round(sum(CASE WHEN b.cid = tr.true_cid THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS recall_1 FROM best b JOIN tr USING (qid)"""),
      "E3 ext: full IVF-PQ serving stack — coarse probe, cell-local ADC, exact re-rank"),

    // q210 — the NPROBE TUNING CURVE on the shared IVF index: recall@1
    // and vectors-scanned for nprobe 1..4, in ONE pass — each candidate's
    // exact cosine is computed once (tagged with its cell's probe rank),
    // then the 4 configurations are explode-replays over that table
    // (q202's dose-response pattern applied to the ANN knob). Measured:
    // 0.8→1.0 recall for 12%→50% of the corpus scanned — the printed
    // trade an index operator actually tunes against. Windows partition
    // by (nprobe, qid); nothing global.
    QuerySpec(
      "q210_nprobe_sweep",
      (s, d) => {
        val probes = coarseProbes(s, d).where(col("pn") <= 4)
        val sc = probes.join(ScaleQueries.ivfFlat(s, d), Seq("cell"))
          .where(col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id").as("cid"), col("pn"),
            round(cosineSim(col("qe"), col("embedding")), 6).as("cos_r"))
        val wn = Window.partitionBy("nprobe", "qid")
          .orderBy(col("cos_r").desc, col("cid").asc)
        val truth = ScaleQueries.truthTop3(s, d)
          .where(col("rn") === 1).select(col("qid"), col("cid").as("true_cid"))
        sc.withColumn("nprobe", explode(array((1 to 4).map(i => lit(i.toLong)): _*)))
          .where(col("pn") <= col("nprobe"))
          .withColumn("rn", row_number().over(wn))
          .withColumn("ncand", count(lit(1)).over(
            Window.partitionBy("nprobe", "qid")))
          .where(col("rn") === 1)
          .join(truth, "qid")
          .groupBy("nprobe")
          .agg(sum("ncand").as("n_scanned"),
            sum(when(col("cid") === col("true_cid"), 1L).otherwise(0L)).as("hits"),
            round(sum(when(col("cid") === col("true_cid"), 1L).otherwise(0L)) /
              count(lit(1)), 6).as("recall_1"))
          .orderBy("nprobe")
      },
      Some("""WITH e AS (SELECT vec_id, embedding, sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) for x in embedding])) AS nrm FROM embeddings), asg AS (SELECT a.vec_id, a.embedding, a.nrm, b.vec_id AS cell, row_number() OVER (PARTITION BY a.vec_id ORDER BY round(list_sum([CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE) for i in generate_series(1, len(a.embedding))]) / (a.nrm * b.nrm), 6) DESC, b.vec_id) AS rn FROM e a CROSS JOIN (SELECT vec_id, embedding, nrm FROM e WHERE vec_id < 8) b), cells AS (SELECT vec_id, embedding, nrm, cell FROM asg WHERE rn = 1), probes AS (SELECT vec_id AS qid, embedding, nrm, cell, rn AS pn FROM asg WHERE rn <= 4 AND vec_id < 10), sc AS (SELECT a.qid, b.vec_id AS cid, a.pn, round(list_sum([CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE) for i in generate_series(1, len(a.embedding))]) / (a.nrm * b.nrm), 6) AS cos_r FROM (SELECT qid, embedding, nrm, cell, pn FROM probes) a JOIN cells b ON a.cell = b.cell AND b.vec_id <> a.qid), np AS (SELECT unnest(generate_series(1, 4)) AS nprobe), r AS (SELECT np.nprobe, sc.qid, sc.cid, row_number() OVER (PARTITION BY np.nprobe, sc.qid ORDER BY sc.cos_r DESC, sc.cid) AS rn, count(*) OVER (PARTITION BY np.nprobe, sc.qid) AS ncand FROM sc JOIN np ON sc.pn <= np.nprobe), best AS (SELECT nprobe, qid, cid, ncand FROM r WHERE rn = 1), p AS (SELECT a.vec_id AS qid, b.vec_id AS cid, round(list_sum([CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE) for i in generate_series(1, len(a.embedding))]) / (a.nrm * b.nrm), 6) AS cos_r FROM e a CROSS JOIN e b WHERE a.vec_id < 10 AND b.vec_id <> a.vec_id), tr AS (SELECT qid, cid AS true_cid FROM (SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY cos_r DESC, cid) AS rn FROM p) WHERE rn = 1) SELECT CAST(b.nprobe AS BIGINT) AS nprobe, CAST(sum(b.ncand) AS BIGINT) AS n_scanned, CAST(sum(CASE WHEN b.cid = tr.true_cid THEN 1 ELSE 0 END) AS BIGINT) AS hits, round(sum(CASE WHEN b.cid = tr.true_cid THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS recall_1 FROM best b JOIN tr USING (qid) GROUP BY 1 ORDER BY 1"""),
      "E3 ext: nprobe recall/cost tuning curve over the shared IVF index (one-pass sweep)"))
}
