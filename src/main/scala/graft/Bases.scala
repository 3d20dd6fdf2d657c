package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.ColumnBridge

/** The one owner of session-lifetime state: the shared cached bases and
  * the checkpoints their lineage ends in. `memo` records, while it builds
  * a base, every RDD that becomes persistent — the base's eager and lazy
  * `localCheckpoint`s — as owned, so a base keeps its recompute source
  * whether or not it is materialised. `release` drops every other local
  * checkpoint: the per-query state. A checkpoint a concurrent `graft.Par`
  * leg makes while a base builds is owned too, which only leaves it to
  * the ContextCleaner.
  */
object Bases {
  private val reg = TrieMap.empty[(SparkSession, String, String), DataFrame]
  private val owned = TrieMap.empty[(SparkContext, Int), Unit]

  /** The cached base `key` of corpus `d`, built by `build` on first use:
    * once, so `.cache()` registers each plan once and a family member's
    * measured time is its marginal cost, whichever member runs first.
    */
  def memo(s: SparkSession, d: String, key: String)(build: => DataFrame): DataFrame =
    reg.getOrElseUpdate((s, d, key), {
      val sc = s.sparkContext
      val before = sc.getPersistentRDDs.keySet
      val base = build.cache()
      (sc.getPersistentRDDs.keySet -- before).foreach(id => owned.put((sc, id), ()))
      base
    })

  /** Unpersist (non-blocking) every locally checkpointed RDD no base owns. */
  def release(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    sc.getPersistentRDDs.values.foreach { r =>
      if (ColumnBridge.isLocalCheckpoint(r) && !owned.contains((sc, r.id)))
        r.unpersist(blocking = false)
    }
  }
}
