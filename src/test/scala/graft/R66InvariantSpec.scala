package graft

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.queries.R66Queries

/** Semantic invariants of q439's snapshot-versioned result cache, and its
  * shape: one scan of `orders`, and no persisted RDD. `R66Queries.resultCache`
  * folds a bounded summary in one task and must equal the one wide
  * aggregate over a commit-tagged union it replaced, kept here as the
  * reference: at sf0.001, and on a crafted `orders` with a null date, a
  * null price, a null key and no 1998 rows.
  */
class R66InvariantSpec extends SparkSpecBase {
  import spark.implicits._
  import R66InvariantSpec._

  private def q439 = SparkEntry.queries("q439_result_cache")(spark, sf001)

  /** `resultCache` and the reference agree on `orders`, column for column
    * and row for row; returns the rows. */
  private def agree(orders: DataFrame): Seq[Row] = {
    val (got, want) = (R66Queries.resultCache(orders), reference(orders))
    def fields(df: DataFrame) = df.schema.map(f => (f.name, f.dataType))
    assert(fields(got) == fields(want))
    val rows = got.collect().toSeq
    assert(rows == want.collect().toSeq)
    rows
  }

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

  test("q439's fold equals the wide aggregate at sf0.001") {
    assert(agree(Tables.load(spark, sf001, "orders")) == q439.collect().toSeq)
  }

  test("q439's fold equals the wide aggregate with a null date, price and key and no 1998 rows") {
    def ts(s: String) = Timestamp.valueOf(s"$s 12:00:00")
    val orders = Seq[(java.lang.Long, Timestamp, java.lang.Double)](
      (1L, ts("1995-01-05"), 10.25), (2L, ts("1995-01-20"), 3.5),
      (3L, ts("1995-06-01"), null), (null, ts("1995-06-02"), 7.0),
      (4L, null, 99.0), (5L, ts("1996-03-04"), 1.0), (6L, ts("1997-12-31"), 2.5),
      (null, ts("1997-02-02"), 4.0), (7L, ts("1999-01-01"), 8.0))
      .toDF("o_orderkey", "o_orderdate", "o_totalprice")
    val rows = agree(orders)
    assert(rows.map(_.getAs[Long]("touched_parts")) == Seq(0L, 0L, 2L, 0L, 0L, 2L))
    // the null-key 1995 row is cached at v0 but no grader counts it as pre
    assert(rows.head.getAs[Long]("cached_cnt") == 4L && rows.head.getAs[Long]("direct_cnt") == 3L)
    agree(orders.where(lit(false)))
  }

  test("q439 scans orders once") {
    val scans = q439.queryExecution.sparkPlan.collect {
      case s: FileSourceScanExec => s.relation.location.rootPaths.map(_.getName)
    }
    assert(scans == Seq(Seq("orders.parquet")), scans)
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

object R66InvariantSpec {
  /** q439 as one global aggregate over a commit-tagged union of three
    * `orders` scans, exploded to the six audit rows. */
  def reference(orders: DataFrame): DataFrame = {
    val base = orders.select(col("o_orderkey").as("k"),
      year(col("o_orderdate")).cast("long").as("yr"),
      (year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
        .cast("long").as("ym"),
      expr("CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)").as("v"))
    val v2 = base.where(col("yr") <= 1997L).withColumn("c", lit(0))
      .unionByName(base.where(col("yr") === 1998L).withColumn("c", lit(1)))
      .unionByName(base.where(col("yr") === 1995L)
        .select((col("k") + 1000000000L).as("k"), col("yr"), col("ym"),
          col("v"), lit(2).as("c")))
    def pair(name: String, p: Column): Seq[Column] = Seq(lit(1L) -> "_n", col("v") -> "_s")
      .map { case (x, sfx) => coalesce(sum(when(p, x).otherwise(0L)), lit(0L)).as(name + sfx) }
    def months(p: Column): Column = collect_set(when(p, col("ym")))
    val atV0 = col("c") === 0
    val in1995 = col("yr") === 1995L
    val preV2 = col("k") < 1000000000L
    val aggs = pair("c1", atV0 && in1995) ++ pair("c2", atV0) ++
      Seq(months(atV0 && in1995).as("q1p"), months(atV0).as("allp"),
        months(col("c") === 1).as("t1"), months(col("c") === 2).as("t2")) ++
      pair("q1v0", in1995 && preV2) ++ pair("q1v2", in1995) ++
      pair("q2v0", col("yr") <= 1997L && preV2) ++ pair("q2v1", preV2) ++
      pair("q2v2", lit(true))
    val g = v2.agg(aggs.head, aggs.tail: _*)

    val noParts = typedLit(Seq.empty[Long])
    def flag(p: Column): Column = when(p, 1L).otherwise(0L)
    def row(qid: String, ver: String, cached: String, readParts: String,
        readsAll: Boolean, touched: Column, direct: String): Column = {
      val tp = size(touched).cast("long")
      val op = size(array_intersect(col(readParts), touched)).cast("long")
      val valid = flag((if (readsAll) tp else op) === 0L)
      val naive = flag(op === 0L)
      val Seq(cn, cs, dn, ds) = Seq(s"${cached}_n", s"${cached}_s",
        s"${direct}_n", s"${direct}_s").map(col)
      val hit = flag(cn === dn && cs === ds)
      struct(lit(qid).as("query"), lit(ver).as("ver"), tp.as("touched_parts"),
        op.as("overlap_parts"), lit(if (readsAll) 1L else 0L).as("reads_all"),
        valid.as("valid"), naive.as("naive_valid"), cn.as("cached_cnt"),
        cs.as("cached_sv"), dn.as("direct_cnt"), ds.as("direct_sv"),
        flag(valid === hit).as("audit_correct"), flag(naive === hit).as("naive_correct"))
    }
    g.select(explode(array(
        row("Q1:rev1995", "v0", "c1", "q1p", readsAll = false, noParts, "q1v0"),
        row("Q2:global", "v0", "c2", "allp", readsAll = true, noParts, "q2v0"),
        row("Q1:rev1995", "v1", "c1", "q1p", readsAll = false, col("t1"), "q1v0"),
        row("Q2:global", "v1", "c2", "allp", readsAll = true, col("t1"), "q2v1"),
        row("Q1:rev1995", "v2", "c1", "q1p", readsAll = false, col("t2"), "q1v2"),
        row("Q2:global", "v2", "c2", "allp", readsAll = true, col("t2"), "q2v2")))
        .as("r"))
      .select("r.*")
      .orderBy("query", "ver")
  }
}
