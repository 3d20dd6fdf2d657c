package graft

/** Semantic invariants of q439's snapshot-versioned result cache, and
  * its one-pass shape: constructing and counting it persists no RDD.
  */
class R66InvariantSpec extends SparkSpecBase {
  import spark.implicits._

  private def q439 = SparkEntry.queries("q439_result_cache")(spark, sf001)

  test("q439 result cache: the sound verdict is certified on every row, the naive one fails only on (Q2, v1)") {
    val rows = q439
      .select("query", "ver", "valid", "cached_cnt", "cached_sv", "direct_cnt",
        "direct_sv", "audit_correct", "naive_correct")
      .as[(String, String, Long, Long, Long, Long, Long, Long, Long)]
      .collect().map(r => (r._1, r._2) -> r).toMap
    assert(rows.size == 6)
    rows.values.foreach(r => assert(r._8 == 1L, s"audit_correct must be 1: $r"))
    assert(rows.values.filter(_._9 == 0L).map(r => (r._1, r._2)).toSet ==
      Set(("Q2:global", "v1")), "naive_correct must fail exactly on (Q2, v1)")
    val q1v1 = rows(("Q1:rev1995", "v1"))
    assert(q1v1._3 == 1L && q1v1._4 == q1v1._6 && q1v1._5 == q1v1._7,
      s"(Q1, v1) must stay valid with cached == direct: $q1v1")
    Seq("Q1:rev1995", "Q2:global").map(q => rows((q, "v2"))).foreach { r =>
      assert(r._3 == 0L && (r._4 != r._6 || r._5 != r._7),
        s"a v2 row must be invalid with cached != direct: $r")
    }
  }

  test("q439 construction and count persist no RDD") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    try {
      assert(q439.count() == 6L)
      val added = sc.getPersistentRDDs.keySet -- before
      assert(added.isEmpty, s"q439 persisted RDDs $added")
    } finally Bases.release(spark)
  }
}
