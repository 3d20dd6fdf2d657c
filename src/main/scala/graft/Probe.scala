package graft

import org.apache.spark.sql.functions._
import graft.ops.HashOps.md5Long

/** Dev-only overhead probe (optimization round): quantifies the fixed
  * costs the sf0.1 bench is made of — job submit latency, per-tiny-stage
  * cost, localCheckpoint cost, planning time of a heavy query — so
  * optimization effort goes where the seconds are. Not part of the
  * driver contract; `runMain graft.Probe [sfDir]`.
  */
object Probe {
  /** `runMain graft.Probe confs [sfDir]` — A/B a set of runtime SQL
    * confs over a representative query mix (2 warm runs each, second
    * reported), same JVM so JIT state is shared.
    */
  private def confSweep(sfDir: String): Unit = {
    val spark = Session(Session.envCores(32))
    val queries = Seq("q398_analyze_policy", "q405_skipping_chooser",
      "q184_robust_zscore", "q214_khop_reach", "q321_shared_runs",
      "q361_countmin_joinsize", "q381_quantile_shootout", "q244_weighted_median",
      "q192_brand_basket", "q251_incr_funnel", "q04_group_agg", "q20_window_rank")
    val variants: Seq[(String, Map[String, String])] = Seq(
      "default" -> Map(),
      "parFirst_off" -> Map(
        "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false"),
      "constraint_off" -> Map(
        "spark.sql.constraintPropagation.enabled" -> "false"),
      "both" -> Map(
        "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
        "spark.sql.constraintPropagation.enabled" -> "false"))
    // warm everything once on defaults
    queries.foreach { q =>
      try SparkEntry.queries(q)(spark, sfDir).count()
      catch { case e: Throwable => println(s"PROBE warm $q FAILED ${e.getMessage}") }
      Bases.release(spark)
    }
    // ADVICE r13: the timed loop guards each query like the warm loop
    // does, and the variant's confs are unset in a finally — one failing
    // query no longer aborts the sweep mid-variant with its confs stuck.
    try {
      for ((vn, confs) <- variants) {
        confs.foreach { case (k, v) => spark.conf.set(k, v) }
        try {
          var tot = 0.0
          var failed = false
          for (q <- queries) {
            // only completed runs are timed: a query that fails fast must
            // not rank its conf as the fastest
            val secs = (1 to 2).flatMap { _ =>
              val t0 = System.nanoTime()
              try {
                SparkEntry.queries(q)(spark, sfDir).count()
                Some((System.nanoTime() - t0) / 1e9)
              } catch { case e: Throwable =>
                println(s"PROBE conf=$vn $q FAILED ${e.getMessage}"); None
              } finally Bases.release(spark)
            }
            if (secs.size < 2) failed = true
            if (secs.nonEmpty) {
              tot += secs.min
              println(f"PROBE conf=$vn%-15s $q%-28s ${secs.min}%6.2f s")
            }
          }
          if (failed) println(f"PROBE conf=$vn%-15s TOTAL invalid (a query failed)")
          else println(f"PROBE conf=$vn%-15s TOTAL $tot%6.2f s")
        } finally confs.keys.foreach(spark.conf.unset)
      }
    } finally spark.stop()
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("confs")) {
      confSweep(if (args.length > 1) args(1) else "/root/testdata/sf0.1"); return
    }
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Session(Session.envCores(32))
    import spark.implicits._

    def time(tag: String, reps: Int)(f: => Unit): Unit = {
      f // warm
      val t0 = System.nanoTime()
      (1 to reps).foreach(_ => f)
      println(f"PROBE $tag%-40s ${(System.nanoTime() - t0) / 1e6 / reps}%10.1f ms/rep (n=$reps)")
    }

    // 1. bare job submit latency (1 task, no shuffle)
    time("job_1task_noshuffle", 20) { spark.range(1).count() }
    // 2. one tiny shuffle (200 rows)
    val tiny = spark.range(200).select(col("id"), (col("id") % 7).as("k"))
    time("job_tiny_1shuffle", 20) { tiny.groupBy("k").count().count() }
    // 3. chain of 4 tiny shuffles
    time("job_tiny_4shuffles", 10) {
      tiny.groupBy("k").agg(sum("id").as("s"))
        .groupBy((col("k") % 5).as("k2")).agg(sum("s").as("s"))
        .groupBy((col("k2") % 3).as("k3")).agg(sum("s").as("s"))
        .groupBy((col("k3") % 2).as("k4")).agg(sum("s").as("s"))
        .count()
    }
    // 4. tiny self-join via shuffle (no broadcast)
    val t2 = tiny.groupBy("k").agg(sum("id").as("s"))
    time("job_tiny_shuffle_join", 10) {
      t2.join(t2.withColumnRenamed("s", "s2"), "k").count()
    }
    // 5. localCheckpoint of a tiny frame
    time("localCheckpoint_tiny", 10) { tiny.localCheckpoint(false).count() }
    // 6. localCheckpoint of lineitem-sized frame
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select("l_orderkey", "l_partkey", "l_extendedprice")
    li.count() // warm page cache
    time("localCheckpoint_600k_3col", 5) { li.localCheckpoint(false).count() }
    // 7. full lineitem scan + group
    time("lineitem_groupBy_orderkey", 5) {
      li.groupBy("l_orderkey").agg(sum("l_extendedprice")).count()
    }
    // 8. md5-hash pass over lineitem (the house hash)
    time("lineitem_md5_pass", 5) {
      li.select(md5Long(concat(lit("x:"), col("l_partkey").cast("string")), 10))
        .agg(count(lit(1))).count()
    }
    // 9. planning-only time of heavy queries (no execution): run 1 is
    // JIT-cold, run 2-3 are the steady-state cost the warm bench pays;
    // tracker phases show where (analysis / optimization / planning).
    for (q <- Seq("q405_skipping_chooser", "q302_markov_attribution",
        "q255_adamic_adar", "q398_analyze_policy", "q433_mv_rule_applied",
        "q284_hits_authority", "q400_range_boundaries", "q385_cross_joinsize",
        "q321_shared_runs", "q423_snapshot_expiry", "q313_kcore",
        "q184_robust_zscore", "q404_incr_stats_plans")) {
      try {
        for (i <- 1 to 3) {
          val t0 = System.nanoTime()
          val df = SparkEntry.queries(q)(spark, sfDir)
          val tCons = (System.nanoTime() - t0) / 1e6
          val t1 = System.nanoTime()
          df.queryExecution.executedPlan
          val tPlan = (System.nanoTime() - t1) / 1e6
          val phases = df.queryExecution.tracker.phases.map { case (k, v) =>
            s"$k=${v.endTimeMs - v.startTimeMs}" }.mkString(" ")
          println(f"PROBE plan_only_$q run$i cons=$tCons%8.1f plan=$tPlan%8.1f ms [$phases]")
        }
      } catch { case e: Throwable => println(s"PROBE plan_only_$q FAILED ${e.getMessage}") }
      Bases.release(spark)
    }
    // 9b. single-task job latency (vs 32-task range)
    time("job_1task_range1slice", 20) { spark.range(0, 1, 1, 1).count() }
    time("job_32task_range", 20) { spark.range(0, 32, 1, 32).count() }
    // 10. post-shuffle partition count under AQE for a tiny groupBy
    val n = tiny.groupBy("k").count()
    n.count()
    println(s"PROBE tiny_groupBy_partitions ${n.rdd.getNumPartitions}")
    val big = li.groupBy("l_orderkey").agg(sum("l_extendedprice"))
    big.count()
    println(s"PROBE lineitem_groupBy_partitions ${big.rdd.getNumPartitions}")
    spark.stop()
  }
}
