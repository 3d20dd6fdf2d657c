package graft

/** Semantic invariants of the round-12 third widening (q412 RI catalog,
  * q413 outer→inner legality, q414 aggregate through union).
  */
class R59InvariantSpec extends SparkSpecBase {
  import spark.implicits._

  test("q412 RI catalog: all seven forward edges valid, the reverse edge fails on uniqueness") {
    val rows = SparkEntry.queries("q412_ri_catalog")(spark, sf001)
      .select("edge", "fk_nulls", "orphans", "dup_pks", "valid")
      .as[(String, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(rows.length == 8)
    val (fwd, rev) = rows.partition(!_._1.startsWith("8:"))
    fwd.foreach { r =>
      assert(r._2 == 0L && r._3 == 0L && r._4 == 0L && r._5 == 1L,
        s"forward edge failed the audit: $r")
    }
    assert(rev.head._4 > 0L && rev.head._5 == 0L,
      s"the reverse edge must fail uniqueness: ${rev.head}")
  }

  test("q413 outer->inner: the NULL probe predicts the measured equality in both scenarios") {
    val rows = SparkEntry.queries("q413_outer_to_inner")(spark, sf001)
      .select("scenario", "null_rejecting", "rows_outer", "rows_inner",
        "equal_results", "convert", "audit_correct")
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(rows.length == 2)
    val Array(eqPred, isNull) = rows
    assert(eqPred._2 == 1L && eqPred._5 == 1L && eqPred._6 == 1L,
      s"the null-rejecting predicate must convert and match: $eqPred")
    // the dim subset genuinely null-extends: the IS NULL leg keeps the
    // orphans the inner form loses
    assert(isNull._2 == 0L && isNull._3 > isNull._4 && isNull._4 == 0L &&
      isNull._5 == 0L && isNull._6 == 0L,
      s"IS NULL must diverge by exactly the orphans: $isNull")
    assert(rows.forall(_._7 == 1L), "the legality probe failed to predict a scenario")
  }

  test("q414 aggregate through union: exact, and the partials shrink the final exchange >= 4x") {
    val rows = SparkEntry.queries("q414_agg_through_union")(spark, sf001)
      .select("variant", "rows_into_final", "distinct_out", "checksum",
        "equal_results", "chosen")
      .as[(String, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(rows.length == 2)
    val Array(global, pushed) = rows
    assert(rows.forall(_._5 == 1L), "pushed dedup diverged from the global dedup")
    assert(global._3 == pushed._3 && global._4 == pushed._4)
    assert(pushed._2 * 4L <= global._2,
      s"partials must shrink the final exchange >= 4x: ${rows.toSeq}")
    assert(pushed._6 == 1L && global._6 == 0L)
  }

  test("q415 metadata aggregation: exact on the clean table, refused once delete vectors exist") {
    val rows = SparkEntry.queries("q415_metadata_agg")(spark, sf001)
      .select("scenario", "dv_rows", "m_count", "s_count", "equal_results",
        "use_metadata", "rows_read_meta", "audit_correct")
      .as[(String, Long, Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(rows.length == 2)
    val Array(clean, deleted) = rows
    assert(clean._2 == 0L && clean._5 == 1L && clean._6 == 1L,
      s"clean table: metadata must answer exactly: $clean")
    assert(clean._7 == 32L, "metadata path must read exactly the 32 footers")
    // the stale footers provably over-count by exactly the victims
    assert(deleted._2 > 0L && deleted._3 == deleted._4 + deleted._2,
      s"stale count must diverge by dv_rows: $deleted")
    assert(deleted._5 == 0L && deleted._6 == 0L,
      s"the gate must refuse once DVs exist: $deleted")
    assert(rows.forall(_._8 == 1L), "the DV gate failed to predict a scenario")
  }

  test("q416 inference x layout: only the composed cell prunes, all four cells agree") {
    val rows = SparkEntry.queries("q416_inferred_pruning")(spark, sf001)
      .select("cell", "files_touched", "rows_scanned", "equal_results", "chosen")
      .as[(String, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(rows.length == 4)
    assert(rows.forall(_._4 == 1L), "a cell's join diverged from the full join")
    val full = rows.head._3
    // hash x {off,on} and range x off all scan everything
    rows.take(3).foreach(r => assert(r._3 == full,
      s"an uncomposed cell pretended to prune: $r"))
    val composed = rows(3)
    assert(composed._1 == "4:range_inferred" && composed._5 == 1L)
    assert(composed._2 <= 4L && composed._3 * 8L <= full,
      s"the composed cell must touch few files and prune >= 8x: $composed")
    assert(rows.take(3).forall(_._5 == 0L))
  }
}
