package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.QuerySpec
import graft.ops.HashOps.{md5Bucket, md5BucketSql}

/** Round-9 fourth widening:
  *
  *  - q369 prices PARTIAL AGGREGATION (map-side combine) per candidate
  *    grouping key — the decision AQE's skip-partial-aggregate path
  *    makes from sampled reduction ratios, made here from exact ones;
  *  - q370 gates EMBEDDING INGEST DRIFT per label: the mean-shift
  *    statistic normalized by the isotropic null (the only first-moment
  *    statistic that is stable on unit vectors at batch sizes this
  *    small), with a planted drifted batch proving the alarm fires.
  */
object R47Queries {

  val specs: Seq[QuerySpec] = Seq(

    // q369 — PARTIAL-AGGREGATION PRICING: whether map-side combine pays
    // is a pure function of how much each map partition's rows REDUCE
    // under the grouping key — high-cardinality keys reduce nothing and
    // the partial pass is wasted CPU+memory (exactly why AQE can skip
    // it). Here the decision is priced exactly for a 5-key battery
    // spanning the spectrum: rows land in 32 model map partitions by a
    // portable md5 row hash, map_out = Σ per-partition distinct keys is
    // the combiner's output volume, and reduction_bp = map_out/n says
    // what fraction of the shuffle survives. Next to it the closed-form
    // lower bound 32·min(ndv, ceil(n/32)) (each partition emits at most
    // its row count or the whole vocabulary) grades how close the hash
    // reality sits to ideal. Decision: combine ON iff the map output is
    // at most half the input (the 2x-reduction rule engines use).
    // l_returnflag reduces 60k→96 rows (combine, obviously); l_orderkey
    // reduces ~nothing at 32 partitions x 15k keys (skip) — the table a
    // planner consults per (key, partition-count) instead of guessing.
    // Scale: one md5 projection + a (partition, key) aggregate per
    // battery entry; nothing joint.
    QuerySpec(
      "q369_partial_agg_pricing",
      (s, d) => {
        val base = t(s, d, "lineitem").select(
          col("l_returnflag"), col("l_linestatus"), col("l_partkey"),
          col("l_suppkey"), col("l_orderkey"),
          md5Bucket(concat(col("l_orderkey").cast("string"), lit("#"),
            col("l_linenumber").cast("string")), 32).as("p"))
        val battery = Seq(
          ("l_returnflag", "l_returnflag"),
          ("l_returnflag+l_linestatus", "concat(l_returnflag, '|', l_linestatus)"),
          ("l_suppkey", "CAST(l_suppkey AS STRING)"),
          ("l_partkey", "CAST(l_partkey AS STRING)"),
          ("l_orderkey", "CAST(l_orderkey AS STRING)"))
        val legs = battery.map { case (nm, kexpr) =>
          val keyed = base.select(col("p"), expr(kexpr).as("k"))
          val mapOut = keyed.groupBy("p", "k").agg(count(lit(1)).as("c"))
            .agg(count(lit(1)).as("map_out"), sum("c").as("n"))
          val nd = keyed.agg(countDistinct("k").as("ndv"))
          mapOut.crossJoin(broadcast(nd))
            .select(lit(nm).as("group_key"), col("n"), col("ndv"), col("map_out"))
        }
        legs.reduce(_ unionByName _)
          .select(col("group_key"), col("n"), col("ndv"), col("map_out"),
            expr("map_out * 10000 div n").as("reduction_bp"),
            expr("32 * least(ndv, (n + 31) div 32)").as("bound_map_out"),
            expr("CASE WHEN map_out * 2 <= n THEN 'combine' ELSE 'skip_partial' END")
              .as("decision"))
          .orderBy("group_key")
      },
      Some {
        val battery = Seq(
          ("l_returnflag", "l_returnflag"),
          ("l_returnflag+l_linestatus", "concat(l_returnflag, '|', l_linestatus)"),
          ("l_suppkey", "CAST(l_suppkey AS VARCHAR)"),
          ("l_partkey", "CAST(l_partkey AS VARCHAR)"),
          ("l_orderkey", "CAST(l_orderkey AS VARCHAR)"))
        val legs = battery.map { case (nm, kexpr) =>
          s"SELECT '$nm' AS group_key, (SELECT count(*) FROM base) AS n, (SELECT count(DISTINCT $kexpr) FROM base) AS ndv, count(*) AS map_out FROM (SELECT p, $kexpr AS k FROM base GROUP BY 1, 2) g"
        }.mkString(" UNION ALL ")
        s"""WITH base AS (SELECT l_returnflag, l_linestatus, l_partkey, l_suppkey, l_orderkey, ${md5BucketSql("concat(CAST(l_orderkey AS VARCHAR), '#', CAST(l_linenumber AS VARCHAR))", 32)} AS p FROM lineitem), u AS ($legs) SELECT group_key, CAST(n AS BIGINT) AS n, CAST(ndv AS BIGINT) AS ndv, CAST(map_out AS BIGINT) AS map_out, CAST(map_out * 10000 // n AS BIGINT) AS reduction_bp, CAST(32 * least(ndv, (n + 31) // 32) AS BIGINT) AS bound_map_out, CASE WHEN map_out * 2 <= n THEN 'combine' ELSE 'skip_partial' END AS decision FROM u ORDER BY group_key"""
      },
      "A/P ext: partial-aggregation pricing — exact per-map-partition reduction ratios under a portable md5 partitioner for a 5-key battery, the 2x-reduction combine/skip decision computed, closed-form bound alongside"),

    // q370 — EMBEDDING INGEST DRIFT GATE: the check a vector pipeline
    // runs per ingest batch before vectors reach the index. Statistic
    // choice is load-bearing: these embeddings are unit-norm and NOT
    // directionally clustered by label, so per-label centroid cosines
    // between two honest batches are pure noise (measured ~U(-0.3, 0.3)
    // at batch size ~25 before this formulation) — any gate built on
    // them pages the on-call nightly. The stable statistic is the
    // MEAN-SHIFT NORM normalized by its isotropic null: for coordinate
    // variance sigma^2 ~ 1/64 (unit vectors), ||mean_new - mean_old||
    // under no-drift concentrates at sqrt(1/n_old + 1/n_new), so
    // z = ||shift|| / sqrt(1/n_old + 1/n_new) sits near 1 for every
    // honest label at EVERY batch size — the gate is z >= 2. The new
    // batch is the odd-parity half, with label 0's vectors PLANTED
    // drifted (x -> 0.5x + 0.2, the q293 dead-fixture rule: honest
    // parity halves never drift, so the alarm path needs a plant):
    // its z lands ~5-6 while every other label stays ~1. Scale: two
    // per-(label, pos) mean aggregates + a 64-row-per-label fold.
    QuerySpec(
      "q370_embedding_drift_gate",
      (s, d) => {
        val ex = t(s, d, "embeddings")
          .select(col("vec_id"), col("label"),
            posexplode(col("embedding")).as(Seq("pos", "xf")))
          .select(col("vec_id"), col("label"), col("pos"),
            col("xf").cast("double").as("x"))
        val old = ex.where(expr("vec_id % 2 = 0"))
        val neu = ex.where(expr("vec_id % 2 = 1"))
          .select(col("vec_id"), col("label"), col("pos"),
            when(col("label") === 0, col("x") * 0.5 + 0.2).otherwise(col("x")).as("x"))
        def moments(df: DataFrame, mTag: String, nTag: String): DataFrame =
          df.groupBy("label", "pos").agg(avg("x").as(mTag))
            .join(df.groupBy("label").agg(countDistinct("vec_id").as(nTag)), Seq("label"))
        val mo = moments(old, "m_old", "n_old")
        val mn = moments(neu, "m_new", "n_new")
        mo.join(mn, Seq("label", "pos"))
          .groupBy("label")
          .agg(max("n_old").as("n_old"), max("n_new").as("n_new"),
            sum(expr("(m_new - m_old) * (m_new - m_old)")).as("ss"))
          .select(col("label"), col("n_old"), col("n_new"),
            round(sqrt(col("ss")), 6).as("shift_norm"),
            round(sqrt(col("ss")) / sqrt(lit(1.0) / col("n_old") + lit(1.0) / col("n_new")), 6)
              .as("z"),
            expr("CAST(CASE WHEN sqrt(ss) / sqrt(1.0 / n_old + 1.0 / n_new) >= 2.0 THEN 1 ELSE 0 END AS BIGINT)")
              .as("alarm"))
          .orderBy("label")
      },
      Some(
        """WITH ex AS (SELECT vec_id, label, u['p'] AS pos, CAST(u['x'] AS DOUBLE) AS x FROM (SELECT vec_id, label, unnest([{'p': i, 'x': embedding[i]} for i in generate_series(1, len(embedding))]) AS u FROM embeddings)), old AS (SELECT * FROM ex WHERE vec_id % 2 = 0), neu AS (SELECT vec_id, label, pos, CASE WHEN label = 0 THEN x * 0.5 + 0.2 ELSE x END AS x FROM ex WHERE vec_id % 2 = 1), mo AS (SELECT label, pos, avg(x) AS m_old FROM old GROUP BY 1, 2), mn AS (SELECT label, pos, avg(x) AS m_new FROM neu GROUP BY 1, 2), no AS (SELECT label, count(DISTINCT vec_id) AS n_old FROM old GROUP BY 1), nn AS (SELECT label, count(DISTINCT vec_id) AS n_new FROM neu GROUP BY 1), ss AS (SELECT mo.label, sum((m_new - m_old) * (m_new - m_old)) AS ss FROM mo JOIN mn ON mn.label = mo.label AND mn.pos = mo.pos GROUP BY 1) SELECT ss.label, CAST(n_old AS BIGINT) AS n_old, CAST(n_new AS BIGINT) AS n_new, round(sqrt(ss), 6) AS shift_norm, round(sqrt(ss) / sqrt(1.0 / n_old + 1.0 / n_new), 6) AS z, CAST(CASE WHEN sqrt(ss) / sqrt(1.0 / n_old + 1.0 / n_new) >= 2.0 THEN 1 ELSE 0 END AS BIGINT) AS alarm FROM ss JOIN no ON no.label = ss.label JOIN nn ON nn.label = ss.label ORDER BY ss.label"""),
      "E3/E5 ext: embedding ingest drift gate — per-label mean-shift norm normalized by the isotropic null (centroid cosines are noise at this batch size, measured), planted drifted batch on label 0 fires the z >= 2 alarm, honest labels stay ~1"))
}
