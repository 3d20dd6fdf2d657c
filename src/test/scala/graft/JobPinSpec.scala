package graft

/** Job-count ceilings at sf0.001 for six queries that fuse independent
  * passes instead of overlapping them with `graft.Par`. A count is every
  * job the query launches: its construction (the query fn, which runs
  * eager and AQE-materialized checkpoints) plus `count()`. A pin that
  * trips means a change brought a job chain back.
  */
class JobPinSpec extends SparkSpecBase {

  private val pins = Seq(
    "q284_hits_authority" -> 28,
    "q418_mv_subsumption_gate" -> 18,
    "q423_snapshot_expiry" -> 22,
    "q427_mv_versioned" -> 19,
    "q435_mv_incremental" -> 22,
    "q436_partition_spec_evolution" -> 9)

  pins.foreach { case (name, ceiling) =>
    test(s"$name launches at most $ceiling jobs at sf0.001") {
      val q = SparkEntry.queries(name)
      // a first run pays each table file's one schema-inference job
      q(spark, sf001).count()
      Bases.release(spark)
      val (_, jobs) = jobsOf(q(spark, sf001).count())
      Bases.release(spark)
      assert(jobs <= ceiling, s"$name launched $jobs jobs, pinned at $ceiling")
    }
  }
}
