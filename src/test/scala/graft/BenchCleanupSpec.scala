package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

/** Pins `Bases.release`'s ownership contract: per-query checkpoints are
  * dropped, while the checkpoints a memoised base was built on are owned
  * and survive every release, whether or not the base has been
  * materialised — the base keeps its recompute source even after a full
  * eviction of its cache.
  */
class BenchCleanupSpec extends SparkSpecBase {
  private val dir = "bench-cleanup-spec"

  private def ckptIds(): Set[Int] =
    spark.sparkContext.getPersistentRDDs.values
      .filter(ColumnBridge.isLocalCheckpoint).map(_.id).toSet

  test("release drops eager and lazy checkpoints made outside any memo build") {
    val sp = spark
    import sp.implicits._
    val ids0 = ckptIds()
    val eager = (1 to 100).toDF("x").localCheckpoint()
    val eagerIds = ckptIds() -- ids0
    val lazyCk = (1 to 100).toDF("x").where(col("x") > 50).localCheckpoint(false)
    val lazyIds = ckptIds() -- ids0 -- eagerIds
    assert(eagerIds.nonEmpty && lazyIds.nonEmpty, "a fixture produced no checkpointed RDD")

    Bases.release(sp)

    val left = ckptIds() & (eagerIds ++ lazyIds)
    assert(left.isEmpty, s"per-query checkpointed RDDs $left survived release")
    // live until here: a collected frame's RDD leaves getPersistentRDDs anyway
    Seq(eager, lazyCk).foreach(java.lang.ref.Reference.reachabilityFence)
  }

  test("a memoised base keeps its eager and lazy checkpoints across releases and eviction") {
    val sp = spark
    import sp.implicits._
    val ids0 = ckptIds()
    val base = Bases.memo(sp, dir, "eager+lazy") {
      val eager = (1 to 100).toDF("x").localCheckpoint()
      val lazyCk = (1 to 100).toDF("x").where(col("x") % 2 === 0).localCheckpoint(false)
      eager.join(lazyCk, "x").groupBy((col("x") % 10).as("g")).agg(count(lit(1)).as("n"))
    }
    val baseIds = ckptIds() -- ids0
    assert(baseIds.size >= 2, s"the base build made checkpoints $baseIds, expected 2")

    // not materialised before the first release
    Bases.release(sp)
    assert(baseIds.subsetOf(ckptIds()), s"owned checkpoints ${baseIds -- ckptIds()} were dropped")
    assert(base.count() == 5L)
    assert(base.agg(sum("n")).as[Long].head() == 50L)

    // a second release, then a full eviction: the cache recomputes from
    // the owned checkpoint blocks
    Bases.release(sp)
    base.unpersist(true)
    base.cache()
    assert(base.count() == 5L, "the memoised base failed to recompute after release")
    assert(base.agg(sum("n")).as[Long].head() == 50L)
  }

  test("a memo hit records nothing") {
    val sp = spark
    import sp.implicits._
    val first = Bases.memo(sp, dir, "hit")((1 to 10).toDF("x").localCheckpoint())
    val ids0 = ckptIds()
    val transient = (1 to 10).toDF("y").localCheckpoint()
    val transientIds = ckptIds() -- ids0
    assert(transientIds.nonEmpty, "transient fixture produced no checkpointed RDD")
    var built = false
    val again = Bases.memo(sp, dir, "hit") { built = true; (1 to 10).toDF("x").localCheckpoint() }
    assert(again eq first, "a hit returned a different frame")
    assert(!built, "a hit ran the build")

    Bases.release(sp)

    assert((ckptIds() & transientIds).isEmpty,
      "a checkpoint made before a memo hit became owned by it")
    assert(first.count() == 10L)
    java.lang.ref.Reference.reachabilityFence(transient)
  }
}
