package graft.queries

import org.apache.spark.sql.SparkSession

/** The benchmark's handle on package-private engine code: the shared corpus
  * bases a workload reads (memoized, cached DataFrames that
  * `ScaleQueries.warmCaches` builds all at once) and the harness's
  * per-query checkpoint release. Lives in `graft.queries` because both are
  * package-private.
  */
object PerfbenchBases {
  private val builders: Map[String, (SparkSession, String) => Unit] = Map(
    "termFreq" -> ((s, d) => ScaleQueries.termFreq(s, d).count()))

  /** Builds the named bases. */
  def build(s: SparkSession, d: String, wanted: Seq[String]): Unit = {
    val unknown = wanted.filterNot(builders.contains)
    require(unknown.isEmpty, s"unknown bases: ${unknown.mkString(", ")}")
    wanted.foreach(builders(_)(s, d))
  }

  /** `graft.Bench`'s per-query release of locally checkpointed RDDs. */
  def release(s: SparkSession): Unit = graft.Bench.cleanupTransients(s)
}
