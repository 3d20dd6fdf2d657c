package graft.ops

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.cosineSim

/** IVF-style approximate nearest neighbor: a KMeans coarse quantizer
  * assigns every vector to a centroid cell; queries probe only their own
  * cell (nprobe=1 here; union more cells for higher recall). The index
  * build is one MLlib job; search is an equi-join on cell id — the same
  * scale shape as the LSH path (q38), with data-adaptive buckets instead
  * of data-oblivious hyperplanes.
  *
  * Not oracle-checkable (KMeans isn't expressible in the oracle dialect)
  * → registered rows-only (q60), semantics pinned by AnnSpec.
  */
object AnnOps {

  /** (vec_id, embedding, cell) with a deterministic seeded quantizer. */
  def ivfAssign(emb: DataFrame, k: Int, seed: Long): DataFrame = {
    val withVec = emb.withColumn("v", array_to_vector(col("embedding"))).cache()
    // Cached: fit makes one pass per iteration and would otherwise re-run
    // the parquet scan + array→vector conversion each time.
    val model = new KMeans().setK(k).setSeed(seed).setFeaturesCol("v")
      .setMaxIter(3).setInitMode("random") // coarse cells only — skip the
      // multi-pass k-means|| init; centroid quality ≪ assignment cost for
      // an nprobe-style coarse quantizer, so 3 Lloyd passes suffice
      .setPredictionCol("cell").fit(withVec)
    model.transform(withVec).drop("v")
  }

  private val ivfReg = scala.collection.concurrent.TrieMap
    .empty[(org.apache.spark.sql.SparkSession, String, Int, Long), DataFrame]

  /** Memoized index build per (session, corpus, k, seed): an ANN index is
    * a once-per-corpus artifact — every search (and every bench/verify
    * invocation) should pay lookup cost, not a fresh KMeans fit.
    */
  def ivfAssignCached(emb: DataFrame, corpusKey: String, k: Int, seed: Long): DataFrame =
    ivfReg.getOrElseUpdate((emb.sparkSession, corpusKey, k, seed),
      ivfAssign(emb, k, seed).cache())

  /** One-pass IVF-flat assignment: the k lowest-id vectors ARE the
    * centroids (a deterministic sample — fine for a coarse quantizer),
    * and every vector joins its argmax-cosine centroid in a single
    * broadcast pass. No iterations, no MLlib, fully oracle-expressible —
    * the scale path when index-build time matters more than cell balance.
    */
  def ivfAssignFlat(emb: DataFrame, k: Int): DataFrame =
    assignToCells(emb, emb.where(col("vec_id") < k)
      .select(col("vec_id").as("cent_id"), col("embedding").as("ce")))

  /** One assignment round in EXPLODED form — (vec_id, pos, x) rows
    * against exploded centroids (cell, pos, cx): per (vector, cell) the
    * dot/norms aggregate in one pass, argmax of the ROUNDED cosine wins,
    * ties to the lowest cell. The oracle-expressible counterpart of a
    * Lloyd assignment step (q161's math, shared here so the trainer and
    * the search index cannot drift). Returns (vec_id, cell, cos_r).
    */
  def lloydAssignExploded(ex: DataFrame, cent: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("vec_id").orderBy(col("cos_r").desc, col("cell").asc)
    ex.join(broadcast(cent), "pos")
      .groupBy("vec_id", "cell")
      .agg(sum(col("x") * col("cx")).as("dot"),
        sqrt(sum(col("x") * col("x"))).as("nv"),
        sqrt(sum(col("cx") * col("cx"))).as("nc"))
      .withColumn("cos_r", round(col("dot") / (col("nv") * col("nc")), 6))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select("vec_id", "cell", "cos_r")
  }

  /** TRAINED-quantizer IVF assignment, fully oracle-expressible: init
    * cells from the k lowest-id vectors, ONE Lloyd re-centering round
    * (assign → per-cell mean), then the final assignment. The
    * data-adaptive middle ground between [[ivfAssignFlat]] (no
    * training) and the MLlib quantizer in [[ivfAssign]] (not oracle-
    * expressible). Returns (vec_id, embedding, cell).
    */
  def ivfAssignLloyd(emb: DataFrame, k: Int): DataFrame = {
    val ex = emb
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "xf")))
      .withColumn("x", col("xf").cast("double"))
    val c0 = ex.where(col("vec_id") < k)
      .select(col("vec_id").as("cell"), col("pos"), col("x").as("cx"))
    val c1 = ex.join(lloydAssignExploded(ex, c0).select("vec_id", "cell"), "vec_id")
      .groupBy("cell", "pos").agg(avg("x").as("cx"))
    emb.join(lloydAssignExploded(ex, c1).select("vec_id", "cell"), "vec_id")
  }

  /** Assign arbitrary vectors to EXISTING centroids — the incremental
    * maintenance path (q190): a delta batch probes the persisted index's
    * cells without re-deriving the quantizer. One audited implementation
    * carries the oracle-critical convention (cosine rounded to 6dp,
    * ties to the lowest cent_id) for both the full build and the delta.
    *
    * @param cents (cent_id, ce) centroid table — broadcast-sized
    */
  def assignToCells(vectors: DataFrame, cents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("vec_id").orderBy(col("cos_c").desc, col("cent_id").asc)
    vectors.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("embedding"), col("cent_id"),
        round(cosineSim(col("embedding"), col("ce")), 6).as("cos_c"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("vec_id"), col("embedding"), col("cent_id").as("cell"))
  }

  /** The k ≈ √n cell-count rule for coarse quantizers whose cells feed
    * PAIRWISE consumers (semantic dedup, cell-local all-pairs): with
    * k = √n cells the expected cell size is √n, so total pair work is
    * k · (n/k)² = n^1.5 — the SemDeDup operating point (tens of
    * thousands of clusters at 10⁹ vectors), vs O(n²/k) at any constant
    * k. Clamped below by `minK` (tiny corpora keep enough cells to be an
    * index at all) and above by `maxK` (the centroid table must stay
    * broadcast-sized: assignment is a crossJoin(broadcast(cents))).
    */
  def sqrtCells(n: Long, minK: Int = 8, maxK: Int = 65536): Int = {
    require(n >= 0, s"vector count must be >= 0, got $n")
    math.min(maxK.toLong, math.max(minK.toLong, math.ceil(math.sqrt(n.toDouble)).toLong)).toInt
  }

  /** Enforce — not just document — the pair budget of a cell-local
    * pairwise consumer: computes Σ_cells |cell|·(|cell|−1)/2 over the
    * assignment (one tiny agg over the cached index: |cells| rows after
    * the groupBy) and raises when it exceeds `maxPairs`, naming the
    * offending occupancy. The connectedComponents precedent: a config
    * that would silently go quadratic must fail loudly with the fix
    * (raise k toward [[sqrtCells]]) instead of grinding. Returns the
    * actual pair count so callers/tests can report it.
    */
  def requireCellPairBudget(assigned: DataFrame, maxPairs: Long): Long = {
    val stats = cellPairStats(assigned)
    raiseIfOverBudget(stats, maxPairs, s"$maxPairs budget")
    stats._1
  }

  /** [[requireCellPairBudget]] with the budget derived from the data
    * itself: maxPairs = `c` · n^1.5 — the pair count a [[sqrtCells]]-
    * sized quantizer produces, with slack factor `c` for cell imbalance.
    * A constant-k index stays under this only while n ≤ (c·k)², so the
    * guard converts "we should have scaled k" from a forgotten config
    * review into a hard failure at exactly the corpus size where the
    * quadratic term starts to dominate.
    */
  def requireSqrtPairBudget(assigned: DataFrame, c: Double = 4.0): Long = {
    val stats @ (pairs, _, _, n) = cellPairStats(assigned)
    val budget = (c * math.pow(n.toDouble, 1.5)).toLong
    raiseIfOverBudget(stats, budget, s"$budget (= $c*n^1.5, n=$n)")
    pairs
  }

  /** Shared raise path of the two budget entry points — one exception
    * text naming the measured occupancy and the sqrtCells fix.
    */
  private def raiseIfOverBudget(
      stats: (Long, Long, Long, Long), budget: Long, budgetDesc: String): Unit = {
    val (pairs, maxCell, k, n) = stats
    if (pairs > budget) throw new IllegalStateException(
      s"cell-local pairwise budget exceeded: $pairs pairs > $budgetDesc " +
        s"(k=$k cells, largest cell $maxCell). Raise the quantizer cell count " +
        s"toward AnnOps.sqrtCells(n)=${sqrtCells(n)} so pair work stays ~ n^1.5.")
  }

  /** (Σ pairs, max cell size, cell count, vector count) — one small agg
    * over the (cached) assignment: |cells| rows after the groupBy, a
    * 1-row driver fetch after, the same cost class as
    * connectedComponents' convergence count. The pair sum is computed in
    * decimal and saturated at Long.MaxValue: a collapsed cell in the
    * 10⁹+-vector regime overflows c·(c−1) in Long arithmetic, which
    * would wrap negative and silently PASS the budget guard in exactly
    * the scenario it exists to catch (any real budget sits far below
    * Long.MaxValue, so saturation still raises).
    */
  def cellPairStats(assigned: DataFrame): (Long, Long, Long, Long) = {
    val cDec = col("c").cast("decimal(38,0)")
    val row = assigned.groupBy("cell").agg(count(lit(1)).as("c"))
      .agg(
        least(
          coalesce(sum(cDec * (cDec - 1) / 2), lit(0).cast("decimal(38,0)")),
          lit(Long.MaxValue).cast("decimal(38,0)")).cast("long").as("pairs"),
        coalesce(max("c"), lit(0L)).as("maxCell"), count(lit(1)).as("k"),
        coalesce(sum("c"), lit(0L)).cast("long").as("n"))
      .head()
    (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3))
  }

  /** Top-1 same-cell neighbor per query vector, ranked by the fused
    * cosine_sim expression (rounded, id-tiebroken → deterministic).
    */
  def ivfTop1(assigned: DataFrame, queryPred: org.apache.spark.sql.Column): DataFrame = {
    val q = assigned.where(queryPred)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("cell"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("cos_r").desc, col("cid").asc)
    q.join(assigned, Seq("cell"))
      .where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cid"), col("cell"),
        round(cosineSim(col("qe"), col("embedding")), 6).as("cos_r"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .where(col("rn") === 1)
      .select("qid", "cid", "cell", "cos_r")
  }
}
