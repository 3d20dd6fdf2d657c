package graft

import org.apache.spark.sql.functions._
import graft.functions.cosineSim

/** Approximation-QUALITY floors for the ANN paths (VERDICT r3 #3/#8).
  * The oracle proves each path deterministic and self-consistent; nothing
  * before this spec measured how GOOD the approximation is — a config
  * change that silently degraded IVF cell quality or LSH bucketing would
  * have passed every check. Ground truth is q37's brute-force ranking.
  *
  * Floors are set from measured values on the synthetic corpus (500
  * near-uniform 64-dim embeddings, 10 queries) with ~2× headroom:
  *   - q101 IVF-flat: recall@1 measured 0.9 → floor 0.8
  *   - q60 Lloyd-trained IVF: floors 0.3 / 0.5 (kept from the KMeans
  *     era — the trained quantizer clears them with the same margin)
  *   - q38 single-band sign-LSH: recall@1 is ~0 BY GEOMETRY on isotropic
  *     data (true NN cosine ≈ 0.35 → ~61% per-bit sign agreement →
  *     0.61⁸ ≈ 2% same-bucket odds), so a recall floor would pin noise.
  *     The signal that DOES exist: bucket-mates are positively aligned —
  *     mean reported cosine measured 0.167 vs ≈ 0.000 for random pairs.
  *
  * q60 now searches through the Lloyd-TRAINED index (AnnOps.
  * ivfAssignLloyd — q161's oracled math), so its assignment is DuckDB-
  * checked end-to-end; the MLlib-KMeans quantizer surface stays pinned
  * here instead: its reported cells are balanced and all used
  * (non-degeneracy), within-cell cohesion beats the random-pair
  * baseline (the quantizer adapts to the data), and q60's reported
  * neighbor is the exact cosine argmax within its Lloyd cell
  * (search-join semantics). The historical KMeans-vs-Lloyd agreement
  * check carries NO signal on isotropic data (co-membership Jaccard
  * 0.079 vs 0.067 for independent partitions) and stays retired.
  */
class AnnRecallSpec extends SparkSpecBase {

  private lazy val truthTop3: Map[Long, Seq[Long]] =
    SparkEntry.queries("q37_cosine_topk")(spark, sf001)
      .select("qid", "cid", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap

  private def top1Of(name: String): Map[Long, Long] =
    SparkEntry.queries(name)(spark, sf001)
      .select("qid", "cid").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def recallAt1(got: Map[Long, Long]): Double =
    truthTop3.count { case (q, t) => got.get(q).contains(t.head) }
      .toDouble / truthTop3.size

  private def top1InTop3(got: Map[Long, Long]): Double =
    truthTop3.count { case (q, t) => got.get(q).exists(t.contains) }
      .toDouble / truthTop3.size

  test("q171 semantic dedup: the kept set is pairwise-clean within cells") {
    // the one-pass first-occurrence rule guarantees more than it looks:
    // a kept vector has NO earlier same-cell neighbor >= tau (kept or
    // dropped), so any two KEPT vectors in a cell are < tau apart — the
    // property a SemDeDup consumer actually relies on
    val dropped = SparkEntry.queries("q171_semantic_dedup")(spark, sf001)
      .select(col("vec_id")).as[Long](org.apache.spark.sql.Encoders.scalaLong)
      .collect().toSet
    val al = graft.ops.AnnOps.ivfAssignFlat(
      Tables.load(spark, sf001, "embeddings"), 8)
    val kept = al.where(!col("vec_id").isin(dropped.toSeq: _*))
    val a = kept.select(col("vec_id").as("aid"), col("embedding").as("ae"), col("cell"))
    val b = kept.select(col("vec_id").as("bid"), col("embedding").as("be"), col("cell"))
    val dirty = a.join(b, Seq("cell")).where(col("aid") < col("bid"))
      .where(round(cosineSim(col("ae"), col("be")), 6) >= 0.4).count()
    assert(dirty == 0L, s"$dirty kept pairs >= tau survive dedup")
    assert(dropped.nonEmpty, "degenerate corpus: dedup dropped nothing")
  }

  test("q171 pair budget: shared-index occupancy stays under 4*n^1.5, overflow raises") {
    // the ENFORCED version of q171's scale claim (VERDICT r4 #1): the
    // pair count derived from the index's occupancy (q168's report) must
    // sit under the sqrt-rule budget — and a quantizer collapse must
    // raise with the measured occupancy, not silently go quadratic
    val al = graft.ops.AnnOps.ivfAssignFlat(
      Tables.load(spark, sf001, "embeddings"), 8)
    val (pairs, maxCell, k, n) = graft.ops.AnnOps.cellPairStats(al)
    assert(k == 8 && n == 500, s"index shape drifted: k=$k n=$n")
    val budget = (4.0 * math.pow(n.toDouble, 1.5)).toLong
    assert(pairs <= budget, s"pairs=$pairs over budget=$budget (maxCell=$maxCell)")
    // requireSqrtPairBudget must agree (no throw) and report the same count
    assert(graft.ops.AnnOps.requireSqrtPairBudget(al) == pairs)
    // the fixed-budget entry point shares the same raise path
    assert(graft.ops.AnnOps.requireCellPairBudget(al, budget) == pairs)
    // degenerate single-cell assignment: n²/2 pairs >> 4*n^1.5 at n=500
    val collapsed = al.withColumn("cell", lit(0))
    val ex = intercept[IllegalStateException] {
      graft.ops.AnnOps.requireSqrtPairBudget(collapsed)
    }
    assert(ex.getMessage.contains("sqrtCells"), s"unhelpful overflow message: ${ex.getMessage}")
    val ex2 = intercept[IllegalStateException] {
      graft.ops.AnnOps.requireCellPairBudget(collapsed, pairs)
    }
    assert(ex2.getMessage.contains("sqrtCells"), s"unhelpful overflow message: ${ex2.getMessage}")
  }

  test("q198 IVF-PQ recall@1 >= 0.9 and reconstruction beats the zero-codebook bound") {
    // deterministic at this fixture (fixed Lloyd unroll, rounded grids):
    // measured 0.9 at sf0.01 AND sf0.1 — the floor pins the ADC+re-rank
    // serving path against a silently degrading codebook/shortlist change
    val row = SparkEntry.queries("q198_ivf_pq")(spark, sf001).head()
    assert(row.getAs[Long]("n_vecs") == 500, "PQ must code every corpus vector")
    assert(row.getAs[Double]("recall_1") >= 0.9,
      s"PQ recall@1 degraded: ${row.getAs[Double]("recall_1")}")
    // mse sanity: far below the variance of the raw dims (~a zero-info
    // codebook) — i.e. the codebooks actually learned the subspaces
    assert(row.getAs[Double]("mse_u") > 0 && row.getAs[Double]("mse_u") < 20000,
      s"PQ reconstruction error out of range: ${row.getAs[Double]("mse_u")}")
  }

  test("q209 IVF-ADC stack: recall@1 >= 0.8 while scanning under half the corpus") {
    val row = SparkEntry.queries("q209_ivf_adc")(spark, sf001).head()
    assert(row.getAs[Double]("recall_1") >= 0.8,
      s"combined-stack recall degraded: ${row.getAs[Double]("recall_1")}")
    assert(row.getAs[Double]("scan_frac") < 0.5,
      s"coarse stage stopped pruning: scan_frac=${row.getAs[Double]("scan_frac")}")
  }

  test("q210 nprobe sweep: recall non-decreasing in nprobe, floor 0.8 at nprobe=1") {
    val rows = SparkEntry.queries("q210_nprobe_sweep")(spark, sf001)
      .orderBy("nprobe").collect()
    assert(rows.length == 4)
    val rec = rows.map(_.getAs[Double]("recall_1"))
    assert(rec.head >= 0.8, s"nprobe=1 recall degraded: ${rec.head}")
    assert(rec.zip(rec.tail).forall { case (a, b) => b >= a },
      s"recall must be monotone in nprobe: ${rec.toSeq}")
    val scanned = rows.map(_.getAs[Long]("n_scanned"))
    assert(scanned.zip(scanned.tail).forall { case (a, b) => b > a },
      s"scan cost must grow with nprobe: ${scanned.toSeq}")
  }

  test("k=sqrtCells(n) index EXECUTES: budget, q171 dedup and q165 filtered-ANN semantics hold") {
    // VERDICT r5 #2: the production operating point (k ≈ √n, not the
    // testdata-pinned k=8) must RUN in CI, not live as arithmetic on
    // constants. Build the alternate-k index on sf0.01, seed exact
    // near-dup pairs, and show the cell-local consumers are invariant
    // under k: every seeded dup resolves (one survivor per pair) under
    // BOTH indexes, the kept set is pairwise-clean within the new
    // index's cells, and the occupancy report's Σc(c−1)/2 IS the number
    // the budget guard enforces.
    val sf01 = "/root/testdata/sf0.01"
    val e = Tables.load(spark, sf01, "embeddings").select("vec_id", "embedding")
    val n = e.count()
    val k = graft.ops.AnnOps.sqrtCells(n)
    assert(k != 8, s"sqrtCells($n)=$k must differ from the pinned testdata k")
    // seeded fixture: exact copies of every 25th vector, ids offset far
    // outside the corpus id domain — cosine(v, copy) = 1.0 and cell
    // assignment is scale/identity-invariant, so each pair lands in ONE
    // cell under ANY coarse quantizer: the k-invariant ground truth
    val copies = e.where(col("vec_id") % 25 === 0)
      .select((col("vec_id") + 10000L).as("vec_id"), col("embedding"))
    val seeded = e.unionByName(copies)
    val nSeeded = copies.count()
    assert(nSeeded > 0)

    def dedupDropped(cells: Int): Set[Long] = {
      val al = graft.ops.AnnOps.ivfAssignFlat(seeded, cells)
      val a = al.select(col("vec_id").as("aid"), col("embedding").as("ae"), col("cell"))
      val b = al.select(col("vec_id").as("bid"), col("embedding").as("be"), col("cell"))
      a.join(b, Seq("cell")).where(col("aid") < col("bid"))
        .where(round(cosineSim(col("ae"), col("be")), 6) >= 0.4)
        .select(col("bid")).distinct()
        .as[Long](org.apache.spark.sql.Encoders.scalaLong).collect().toSet
    }
    val dropped8 = dedupDropped(8)
    val droppedK = dedupDropped(k)
    // (b) semantic equivalence on the seeded fixture: every seeded copy
    // has its source as an earlier same-cell 1.0-cosine neighbor, so it
    // is dropped under BOTH operating points — same clusters survive
    val copyIds = copies.select("vec_id")
      .as[Long](org.apache.spark.sql.Encoders.scalaLong).collect().toSet
    assert(copyIds.subsetOf(dropped8), "k=8 missed a seeded exact dup")
    assert(copyIds.subsetOf(droppedK), s"k=$k missed a seeded exact dup")

    // (a) + (c): the budget guard passes on the sqrt-rule index, and the
    // number it enforces is exactly the occupancy report's Σ c(c−1)/2
    val alK = graft.ops.AnnOps.ivfAssignFlat(seeded, k).cache()
    try {
      val pairs = graft.ops.AnnOps.requireSqrtPairBudget(alK)
      val occ = alK.groupBy("cell").agg(count(lit(1)).as("c"))
        .agg(sum(expr("c * (c - 1) div 2")).as("pairs"), count(lit(1)).as("k"))
        .head()
      assert(occ.getLong(0) == pairs, "occupancy arithmetic and budget guard disagree")
      assert(occ.getLong(1) == k, s"quantizer degenerate: ${occ.getLong(1)} of $k cells used")
      // finer cells must do LESS pairwise work than the pinned k=8 index
      val pairs8 = graft.ops.AnnOps.cellPairStats(
        graft.ops.AnnOps.ivfAssignFlat(seeded, 8))._1
      assert(pairs < pairs8, s"k=$k pairs=$pairs not below k=8 pairs=$pairs8")

      // the kept set under the sqrt-rule index keeps q171's guarantee:
      // pairwise-clean within cells
      val kept = alK.where(!col("vec_id").isin(droppedK.toSeq: _*))
      val a = kept.select(col("vec_id").as("aid"), col("embedding").as("ae"), col("cell"))
      val b = kept.select(col("vec_id").as("bid"), col("embedding").as("be"), col("cell"))
      val dirty = a.join(b, Seq("cell")).where(col("aid") < col("bid"))
        .where(round(cosineSim(col("ae"), col("be")), 6) >= 0.4).count()
      assert(dirty == 0L, s"$dirty kept pairs >= tau under the k=$k index")

      // q165's filtered-ANN logic against the sqrt-rule index: every
      // answer shares the query's label and is the exact rounded-cosine
      // argmax among same-cell same-label candidates (the RAG serving
      // contract, index-parametric)
      val lab = Tables.load(spark, sf01, "embeddings").select(col("vec_id"), col("label"))
      val alb = alK.join(lab, "vec_id")
      val q = alb.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"),
          col("cell"), col("label").as("qlab"))
      val scored = q.join(alb, Seq("cell"))
        .where(col("vec_id") =!= col("qid") && col("label") === col("qlab"))
        .select(col("qid"), col("vec_id").as("cid"),
          round(cosineSim(col("qe"), col("embedding")), 6).as("cos_r"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("qid").orderBy(col("cos_r").desc, col("cid").asc)
      val top = scored.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      val rows = top.collect()
      assert(rows.nonEmpty, "filtered ANN answered nothing under the sqrt-rule index")
      val best = scored.groupBy("qid").agg(max("cos_r").as("mx")).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      rows.foreach { r =>
        assert(r.getAs[Double]("cos_r") == best(r.getAs[Long]("qid")),
          s"q165 answer for qid=${r.getAs[Long]("qid")} is not the cell∩label argmax")
      }
    } finally alK.unpersist()
  }

  test("sqrtCells follows the k~sqrt(n) rule with broadcastable clamps") {
    import graft.ops.AnnOps.sqrtCells
    assert(sqrtCells(0) == 8 && sqrtCells(500) == 23 && sqrtCells(1000000) == 1000)
    assert(sqrtCells(1000000000L) == 31623, "1e9 vectors -> ~31.6k cells (SemDeDup scale)")
    assert(sqrtCells(Long.MaxValue / 4) == 65536, "max clamp keeps centroids broadcastable")
  }

  test("q320 incremental-IVF recall floors: both paths answer the sample, rebuild really moves cells") {
    val rows = SparkEntry.queries("q320_incr_ivf_recall")(spark, sf001)
      .select("path", "n_q", "recall_bp", "n_moved").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(rows.keySet == Set("incremental", "rebuild"))
    val (nqI, recI, movI) = rows("incremental")
    val (nqR, recR, movR) = rows("rebuild")
    assert(nqI == nqR && nqI > 0, "delta query set empty or inconsistent")
    // floors under the measured values (0.20 / 0.23 at nprobe=1 on the
    // near-isotropic synthetic corpus, 20-query spot sample); which
    // PATH scores higher is sample noise at this resolution (the
    // ordering flips between sf0.001 and sf0.01), so no ordering is
    // pinned — only that neither path collapses
    assert(recI >= 1500, s"incremental recall@3 degraded: $recI bp")
    assert(recR >= 1500, s"rebuild recall@3 degraded: $recR bp")
    assert(movI == 0, "incremental path must not move base assignments")
    assert(movR > 0, "rebuild produced no reassignment — the Lloyd refresh is a no-op")
  }

  test("q101 IVF-flat recall@1 >= 0.8 against brute force") {
    val got = top1Of("q101_ivf_flat")
    assert(got.keySet == truthTop3.keySet, "q101 must answer every query")
    assert(recallAt1(got) >= 0.8, s"recall@1 degraded: ${recallAt1(got)}")
  }

  test("q60 Lloyd-IVF recall floors: recall@1 >= 0.3, top1-in-top3 >= 0.5") {
    val got = top1Of("q60_ivf_ann")
    assert(got.keySet == truthTop3.keySet, "q60 must answer every query")
    assert(recallAt1(got) >= 0.3, s"recall@1 degraded: ${recallAt1(got)}")
    assert(top1InTop3(got) >= 0.5, s"top1-in-top3 degraded: ${top1InTop3(got)}")
  }

  test("q38 LSH bucket-mates are positively aligned (mean cosine >> random pairs)") {
    val r = SparkEntry.queries("q38_lsh_ann")(spark, sf001)
      .agg(avg("cos_r").as("m"), count(lit(1)).as("n")).head()
    assert(r.getLong(1) >= 8, s"too many queries lost their bucket: n=${r.getLong(1)}")
    assert(r.getDouble(0) >= 0.08,
      s"LSH bucketing no longer groups aligned vectors: mean cos ${r.getDouble(0)}")
    // the baseline the margin is measured against: random pairs ~0
    val e = Tables.load(spark, sf001, "embeddings")
    val rand = e.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      .crossJoin(e.where(col("vec_id") >= 10))
      .agg(avg(cosineSim(col("qe"), col("embedding")))).head().getDouble(0)
    assert(math.abs(rand) < 0.05, s"random-pair baseline moved: $rand")
  }

  test("q60 quantizer semantics: cell-argmax search, balanced KMeans cells, real cohesion") {
    val e = Tables.load(spark, sf001, "embeddings")
    // q60's own index: the Lloyd-trained assignment (cell is a Long id)
    val assigned = graft.ops.AnnOps.ivfAssignLloyd(e, 8)
      .select("vec_id", "embedding", "cell").collect()
      .map(r => (r.getLong(0), (r.getSeq[Float](1).map(_.toDouble).toArray, r.getLong(2))))
      .toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    // 1. the reported neighbor IS the cell's rounded-cosine argmax,
    //    smallest id among ties — q60's search-join contract
    for ((qid, cid) <- top1Of("q60_ivf_ann")) {
      val (qe, qcell) = assigned(qid)
      val best = assigned.filter { case (vid, (_, c)) => c == qcell && vid != qid }
        .map { case (vid, (v, _)) =>
          (vid, BigDecimal(cos(qe, v)).setScale(6, BigDecimal.RoundingMode.HALF_UP)) }
      val maxSim = best.values.max
      assert(best(cid) == maxSim, s"q60 neighbor for $qid is not the cell argmax")
      assert(cid == best.filter(_._2 == maxSim).keys.min, s"tiebreak drifted for $qid")
    }
    // 2 & 3 pin the MLlib-KMeans quantizer surface (ivfAssignCached),
    // which q60 no longer routes through — the spec is now its home
    val km = graft.ops.AnnOps.ivfAssignCached(e, sf001, 8, 42L)
      .select("vec_id", "embedding", "cell").collect()
      .map(r => (r.getLong(0),
        (r.getSeq[Float](1).map(_.toDouble).toArray, r.getInt(2).toLong)))
      .toMap
    // 2. non-degenerate, balanced quantizer (sizes measured 52..70 of 500)
    val sizes = km.values.groupBy(_._2).map(_._2.size)
    assert(sizes.size == 8, s"quantizer collapsed to ${sizes.size} cells")
    assert(sizes.max <= km.size / 4, s"one cell holds ${sizes.max} vectors")
    // 3. cells are data-adaptive: within-cell cohesion (measured 0.054)
    //    clears the ~0.000 random-pair baseline with margin
    val ids = km.keys.toSeq.sorted
    var s = 0.0; var n = 0L
    for (i <- ids.indices; j <- (i + 1) until ids.size
         if km(ids(i))._2 == km(ids(j))._2) {
      s += cos(km(ids(i))._1, km(ids(j))._1); n += 1
    }
    assert(s / n >= 0.02, s"within-cell cohesion degraded: ${s / n}")
  }
}
