package graft

/** Plan auditor: prints the formatted physical plan for the named queries
  * (or a default set) so pushdown, broadcast choice and codegen coverage
  * can be reviewed. Usage: runMain graft.Explain [sfDir] [query ...]
  *
  * Artifact mode: `runMain graft.Explain --plans <outFile> [sfDir]`
  * writes the committed per-round plan artifact (PLANS_r{N}.txt) — for
  * each of PlanAudit.heavyQueries, its PLAN_SUMMARY line (join
  * strategies + exchange counts) followed by the full formatted plan.
  * PlanDiffSpec diffs the summary lines against a live recompute, so a
  * strategy flip on a heavy query fails CI instead of surfacing as a
  * seconds-level bench drift a round later.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--plans")) { writePlans(args); return }
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("q03_filter_pred", "q08_join_inner", "q09_star_join",
        "q29_term_freq", "q34_minhash_pairs", "q37_cosine_topk", "q45_range_join",
        "q90_neardup_clusters", "q93_bigram_lm", "q95_bloom_semi_join",
        "q107_bucketed_join", "q112_nested_struct", "q117_disjunctive_join",
        "q143_prefix_simjoin", "q145_triangle_count", "q152_incremental_agg",
        "q155_multi_exists", "q156_asof_tolerance", "q157_centroid_assign",
        // round-4b plan-critical: cell-blocked pairwise (q171), bounded
        // range join (q180), two-level rank offsets (q182/q184), bucket
        // prefilter + double window (q187)
        "q171_semantic_dedup", "q180_rolling_actives", "q182_winsorize",
        "q184_robust_zscore", "q187_touch_attribution")
    val spark = Session(4)
    names.foreach { n =>
      println(s"\n======== $n ========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }

  private def writePlans(args: Array[String]): Unit = {
    val outFile = args(1)
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.01"
    // Session(4), as in SparkSpecBase: the static planner's broadcast
    // decisions depend on stats, so PlanDiffSpec's live recompute and
    // this artifact must plan under identical configs.
    val spark = Session(4)
    val sb = new StringBuilder
    sb.append(s"# Heavy-query plan artifact — generated by `runMain graft.Explain --plans` at $sfDir\n")
    sb.append("# PLAN_SUMMARY lines are diffed by PlanDiffSpec; full formatted plans follow for review.\n")
    PlanAudit.heavyQueries.foreach { n =>
      // summaryFor canonicalizes cache state and plans with AQE off —
      // identical to PlanDiffSpec's live recompute; the full formatted
      // plan below is for human review only (AQE on, not diffed)
      sb.append("\n").append(PlanAudit.summaryFor(spark, sfDir, n)).append("\n")
      sb.append(s"======== $n ========\n")
        .append(PlanAudit.formatted(SparkEntry.queries(n)(spark, sfDir)))
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), sb.toString)
    println(s"PLANS_WROTE=$outFile queries=${PlanAudit.heavyQueries.size}")
    spark.stop()
  }
}
