package graft

/** Dev profiler: times one named query N times in a fresh session
  * (`runMain graft.QTime <name> [sfDir] [n]`), printing per-run wall
  * seconds so cache/JIT effects are visible. Each run's checkpoints are
  * released after it, outside the timer, as in Bench.
  */
object QTime {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val n = if (args.length > 2) args(2).toInt else 3
    val spark = Session(Session.envCores(32))
    for (i <- 1 to n) {
      val t0 = System.nanoTime()
      val c = SparkEntry.queries(name)(spark, sfDir).count()
      println(f"QTIME $name run$i ${(System.nanoTime() - t0) / 1e9}%.3f s rows=$c")
      Bases.release(spark)
    }
    spark.stop()
  }
}
