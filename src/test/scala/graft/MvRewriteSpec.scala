package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LeafNode
import org.apache.spark.sql.functions._

import graft.plans.{MvCatalog, MvRewriteRule}

/** Engine-side validation of the materialized-view rewrite (the q417–
  * q420 arc's optimizer half), each rule built over an explicit catalog
  * of views that MvCatalog.validate returned:
  *  - a validated grain view re-roots a subsumed Aggregate — the
  *    optimized plan's only leaf is the VIEW relation, the base is
  *    never scanned, and results are bit-identical to the rule-off run
  *    for plain GROUP BY, dim-filtered, and min/max-over-dim shapes;
  *  - two rewrites in one query (self-join of two subsumed aggregates)
  *    splice distinct fresh view instances — no duplicate-attribute
  *    corruption;
  *  - every refusal guard holds: non-dim grouping, non-dim filter,
  *    DISTINCT aggregate, AVG, MIN over a measure, a same-shaped twin
  *    relation no view was validated on, and an offered view whose rows
  *    lie (the data validation refuses to return it at all).
  */
class MvRewriteSpec extends SparkSpecBase {

  private def leaves(df: DataFrame): Seq[LeafNode] =
    df.queryExecution.optimizedPlan.collect { case l: LeafNode => l }

  /** base = the 4-dim + measure lineitem frame, checkpointed to a leaf
    * (a view keys on the exact relation it was validated on).
    */
  private lazy val base: DataFrame =
    Tables.load(spark, sf001, "lineitem").select(
      col("l_returnflag").as("f"), col("l_linestatus").as("s"),
      year(col("l_shipdate")).cast("long").as("y"),
      month(col("l_shipdate")).cast("long").as("m"),
      expr("CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)").as("cents"))
      .localCheckpoint(false)

  private lazy val view: DataFrame =
    base.groupBy("f", "s", "y", "m")
      .agg(count(lit(1)).as("cnt"), sum("cents").as("sum_cents"))
      .localCheckpoint(false)

  private lazy val grain: MvCatalog.Mv =
    MvCatalog.validate(base, view, Seq("f", "s", "y", "m"),
      "cnt", Map("cents" -> "sum_cents")).getOrElse(fail("the grain view must validate"))

  /** The rule over the one-view catalog of the full grain. */
  private lazy val grainRule = MvRewriteRule(Seq(grain))

  private def viewLeafOnly(df: DataFrame): Boolean = {
    val ls = leaves(df)
    val vl = view.queryExecution.analyzed.asInstanceOf[LeafNode]
    // fresh instances re-id attributes; compare by class + schema shape
    ls.size == 1 && ls.head.getClass == vl.getClass &&
      ls.head.schema.fieldNames.sameElements(vl.schema.fieldNames)
  }

  /** Collects rule-off, then builds AND collects the rewritten frame
    * inside withRule — optimization is lazy and caches on first action,
    * so the action itself must run with the rule injected.
    */
  private def sameResult(rule: MvRewriteRule)(q: => DataFrame): DataFrame = {
    val off = q.collect().toSeq.sortBy(_.toString)
    withRule(rule) {
      val rewritten = q
      val on = rewritten.collect().toSeq.sortBy(_.toString)
      assert(on == off, "rewrite changed results")
      rewritten
    }
  }

  test("subsumed GROUP BY re-roots onto the view; base never scanned; results identical") {
    def q = base.groupBy("f", "s")
      .agg(count(lit(1)).as("n"), sum("cents").as("tc"))
    val rewritten = sameResult(grainRule)(q)
    withRule(grainRule) {
      assert(viewLeafOnly(rewritten),
        s"expected only the view leaf:\n${rewritten.queryExecution.optimizedPlan}")
    }
  }

  test("dim-only filter rewrites onto the view's dim column") {
    def q = base.where(col("y") >= 1996L && col("s") === "F")
      .groupBy("f").agg(sum("cents").as("tc"), count(lit(1)).as("n"))
    val rewritten = sameResult(grainRule)(q)
    withRule(grainRule) { assert(viewLeafOnly(rewritten)) }
  }

  test("min/max over DIM columns rewrite; grouping attr passthrough keeps names") {
    def q = base.groupBy("f").agg(min("y").as("y0"), max("m").as("m1"),
      count(lit(1)).as("n"))
    val rewritten = sameResult(grainRule)(q)
    withRule(grainRule) { assert(viewLeafOnly(rewritten)) }
  }

  test("two rewrites in one query splice distinct fresh instances") {
    def agg1 = base.groupBy("f").agg(sum("cents").as("a_tc"))
    def agg2 = base.groupBy("f").agg(count(lit(1)).as("b_n"))
    def q = agg1.join(agg2, "f")
    val rewritten = sameResult(grainRule)(q)
    withRule(grainRule) {
      val ls = leaves(rewritten)
      assert(ls.size == 2, s"expected two view leaves:\n${rewritten.queryExecution.optimizedPlan}")
      assert(ls.map(_.output.map(_.exprId).toSet).reduce(_ intersect _).isEmpty,
        "the two spliced instances share exprIds — newInstance() not fresh")
    }
  }

  test("refusals: every unsound shape keeps the base scan") {
    def baseLeafStays(q: DataFrame): Unit = withRule(grainRule) {
      val ls = leaves(q)
      val bl = base.queryExecution.analyzed.asInstanceOf[LeafNode]
      assert(ls.exists(_.canonicalized == bl.canonicalized),
        s"rule fired on an unsound shape:\n${q.queryExecution.optimizedPlan}")
    }
    // grouping on a non-dim (the measure)
    baseLeafStays(base.groupBy("cents").agg(count(lit(1)).as("n")))
    // filter on a non-dim below the aggregate
    baseLeafStays(base.where(col("cents") > 100000L)
      .groupBy("f").agg(count(lit(1)).as("n")))
    // DISTINCT aggregate — the grain folded the detail away
    baseLeafStays(base.groupBy("f").agg(countDistinct("cents").as("n")))
    // MIN over a measure — only SUM partials exist
    baseLeafStays(base.groupBy("f").agg(min("cents").as("mn")))
    // a same-shaped twin relation that no view was validated on
    val twin = Tables.load(spark, sf001, "lineitem").select(
      col("l_returnflag").as("f"), col("l_linestatus").as("s"),
      year(col("l_shipdate")).cast("long").as("y"),
      month(col("l_shipdate")).cast("long").as("m"),
      expr("CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)").as("cents"))
      .localCheckpoint(false)
    withRule(grainRule) {
      val q = twin.groupBy("f").agg(count(lit(1)).as("n"))
      val bl = twin.queryExecution.analyzed.asInstanceOf[LeafNode]
      assert(leaves(q).exists(_.canonicalized == bl.canonicalized),
        "rule fired on a relation outside its catalog")
    }
  }

  test("AVG over a null-free measure rewrites to SUM(sum_m)/SUM(cnt); view-only scan") {
    def q = base.groupBy("f", "s").agg(avg("cents").as("a"), count(lit(1)).as("n"))
    val rewritten = sameResult(grainRule)(q)
    withRule(grainRule) { assert(viewLeafOnly(rewritten)) }
  }

  test("AVG over a null-carrying measure refuses — the avgSafe data proof is absent") {
    val nb = base.withColumn("cents",
      when(col("cents") % 7L === 0L, lit(null).cast("long")).otherwise(col("cents")))
      .localCheckpoint(false)
    val nv = nb.groupBy("f", "s", "y", "m")
      .agg(count(lit(1)).as("cnt"), sum("cents").as("sum_cents"))
      .localCheckpoint(false)
    val nmv = MvCatalog.validate(nb, nv, Seq("f", "s", "y", "m"),
      "cnt", Map("cents" -> "sum_cents"))
    assert(nmv.isDefined, "the null-carrying view still validates")
    val rule = MvRewriteRule(nmv.toSeq)
    // SUM still rewrites (SUM ignores nulls symmetrically on both sides) …
    def sumQ = nb.groupBy("f").agg(sum("cents").as("tc"))
    val off = sumQ.collect().toSeq.sortBy(_.toString)
    withRule(rule) {
      assert(sumQ.collect().toSeq.sortBy(_.toString) == off,
        "SUM rewrite changed results on the null-carrying measure")
      // … but AVG must keep the base scan: SUM(cnt) counts null rows
      val q = nb.groupBy("f").agg(avg("cents").as("a"))
      val bl = nb.queryExecution.analyzed.asInstanceOf[LeafNode]
      assert(leaves(q).exists(_.canonicalized == bl.canonicalized),
        "AVG rewrote without the null-free proof")
    }
  }

  test("global COUNT with an empty-match dim filter is 0, not NULL, after rewrite") {
    def q = base.where(col("y") === 1871L).agg(count(lit(1)).as("n"))
    val rewritten = sameResult(grainRule)(q) // rule-off = 0; rewrite must coalesce SUM(cnt)
    withRule(grainRule) {
      assert(viewLeafOnly(rewritten))
      assert(rewritten.collect().head.getLong(0) == 0L)
    }
    // COUNT(NULL) is constant-0, never the row count — with or without a rule
    withRule(grainRule) {
      assert(base.agg(count(lit(null)).as("n")).collect().head.getLong(0) == 0L)
      assert(base.groupBy("f").agg(count(lit(null)).as("n"))
        .collect().forall(_.getLong(1) == 0L))
    }
  }

  test("filter subsumption: a PARTIAL view answers only queries that carry its predicate") {
    val pview = base.where(col("cents") > 100000L)
      .groupBy("f", "s", "y", "m")
      .agg(count(lit(1)).as("cnt"), sum("cents").as("sum_cents"))
      .localCheckpoint(false)
    val pmv = MvCatalog.validate(base, pview, Seq("f", "s", "y", "m"),
      "cnt", Map("cents" -> "sum_cents"), Seq(col("cents") > 100000L))
    assert(pmv.isDefined, "the partial view must validate against the filtered grain")
    val rule = MvRewriteRule(pmv.toSeq)
    // query carrying the view predicate (+ an extra dim conjunct) rewrites
    def q = base.where(col("cents") > 100000L && col("s") === "F")
      .groupBy("f").agg(sum("cents").as("tc"), count(lit(1)).as("n"))
    val rewritten = sameResult(rule)(q)
    withRule(rule) {
      val ls = leaves(rewritten)
      val vl = pview.queryExecution.analyzed.asInstanceOf[LeafNode]
      assert(ls.size == 1 && ls.head.getClass == vl.getClass &&
        ls.head.schema.fieldNames.sameElements(vl.schema.fieldNames),
        s"expected only the partial-view leaf:\n${rewritten.queryExecution.optimizedPlan}")
    }
    // a query NOT carrying the view predicate must refuse — the view
    // is missing rows the query needs
    withRule(rule) {
      val q2 = base.groupBy("f").agg(sum("cents").as("tc"))
      val bl = base.queryExecution.analyzed.asInstanceOf[LeafNode]
      assert(leaves(q2).exists(_.canonicalized == bl.canonicalized),
        "rule fired although the query does not subsume the view predicate")
      val q3 = base.where(col("s") === "F").groupBy("f").agg(sum("cents").as("tc"))
      assert(leaves(q3).exists(_.canonicalized == bl.canonicalized),
        "dim-only filter must not satisfy subsumption of a measure-filtered view")
    }
  }

  test("multi-view catalog: cheapest covering view wins, coverage falls through") {
    // two views on the SAME relation: the fine (f,s,y,m) grain and a
    // coarse (f,s) rollup (~25x fewer rows)
    val coarse = base.groupBy("f", "s")
      .agg(count(lit(1)).as("cnt"), sum("cents").as("sum_cents"))
      .localCheckpoint(false)
    val coarseMv = MvCatalog.validate(base, coarse, Seq("f", "s"),
      "cnt", Map("cents" -> "sum_cents"))
    assert(coarseMv.isDefined)
    // the catalog lists the fine grain first: the rule orders by cost
    val rule = MvRewriteRule(grain +: coarseMv.toSeq)
    def leafSchema(df: DataFrame): Set[String] = withRule(rule) {
      leaves(df).head.schema.fieldNames.toSet
    }
    // answerable by BOTH → the coarse (cheaper) view must serve it
    def qf = base.groupBy("f").agg(sum("cents").as("tc"))
    val got = sameResult(rule)(qf)
    withRule(rule) {
      assert(leaves(got).size == 1 &&
        leafSchema(got) == coarse.columns.toSet,
        s"cheapest covering view not chosen:\n${got.queryExecution.optimizedPlan}")
    }
    // groupings the coarse view cannot cover fall through to the fine one
    def qy = base.groupBy("f", "y").agg(count(lit(1)).as("n"))
    val got2 = sameResult(rule)(qy)
    withRule(rule) {
      assert(leaves(got2).size == 1 &&
        leafSchema(got2) == view.columns.toSet,
        s"coverage fall-through failed:\n${got2.queryExecution.optimizedPlan}")
    }
  }

  test("registration refuses a lying offer and non-leaf plans") {
    // a view whose counts are off by one must not validate
    val lying = view.withColumn("cnt", col("cnt") + 1L).localCheckpoint(false)
    assert(MvCatalog.validate(base, lying, Seq("f", "s", "y", "m"),
      "cnt", Map("cents" -> "sum_cents")).isEmpty)
    // a non-checkpointed (multi-node) view plan must refuse outright
    val lazyView = base.groupBy("f", "s", "y", "m")
      .agg(count(lit(1)).as("cnt"), sum("cents").as("sum_cents"))
    assert(MvCatalog.validate(base, lazyView, Seq("f", "s", "y", "m"),
      "cnt", Map("cents" -> "sum_cents")).isEmpty)
    // missing measure column name
    assert(MvCatalog.validate(base, view, Seq("f", "s", "y", "m"),
      "cnt", Map("nope" -> "sum_cents")).isEmpty)
  }
}
