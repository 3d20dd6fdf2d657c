package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.plans.{MvCatalog, MvRewriteRule}
import graft.queries.R61Queries

/** Laws of the snapshot arc the value oracle cannot express:
  *  - commit-batching invariance for changelogStream: splitting a
  *    commit, or merging ADJACENT INDEPENDENT commits, cannot change
  *    the final maintained state (merging dependent ops into one
  *    commit is NOT claimed — X/D resolve against the prior state by
  *    design, which is what makes a commit atomic);
  *  - OCC commutativity: compaction and a (rebased) delete land on
  *    the same content in either serial order — the row-level fact
  *    that makes q424's rebase the correct conflict resolution;
  *  - OCC schema evolution (q434's law half): a data commit and a
  *    concurrent schema commit commute under FIELD-ID resolution,
  *    and the rename counterexample shows name-at-commit binding
  *    diverging between serial orders — losing exactly the appended
  *    rows' renamed column;
  *  - a validated MV is keyed by RELATION, not content: a
  *    content-identical state materialized as a DIFFERENT relation
  *    (the post-compaction checkpoint) must refuse the rewrite until a
  *    catalog holds a view validated on it — silently accepting a
  *    same-content twin would make the catalog unsound under exactly
  *    the storage churn the snapshot arc models.
  */
class SnapshotLawSpec extends SparkSpecBase {
  import spark.implicits._

  private lazy val rows: Seq[(Long, Long, Long, Long, Long)] =
    R61Queries.keyedFrame(spark, sf001)
      .select("k", "v", "h", "kcut", "f")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
  private lazy val kcut = rows.head._4
  private def vic(h: Long, f: Long): Boolean = f < 20 && h < 171798691L
  private lazy val orig = rows.filter(_._1 <= kcut)
  private lazy val app = rows.filter(_._1 > kcut)
  private lazy val rwFiles = orig.filter(r => vic(r._3, r._5)).map(_._5).toSet

  private def runStream(commits: Seq[Seq[(String, Long, Long, Long)]])
      : Seq[(Long, Long, Long)] = {
    val mem = MemoryStream[(String, Long, Long, Long)](spark)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val q = graft.streaming.EventStream.changelogStream(
        mem.toDF().toDF("op", "k", "v", "f")) { (_, st) =>
      out += st.agg(count(lit(1)), coalesce(sum("v"), lit(0L)),
          coalesce(expr("sum((k % 999983) * (k % 999983))"), lit(0L)))
        .as[(Long, Long, Long)].head()
    }
    try commits.foreach { c => mem.addData(c: _*); q.processAllAvailable() }
    finally q.stop()
    out.toSeq
  }

  private lazy val canonical: Seq[Seq[(String, Long, Long, Long)]] = Seq(
    orig.map(r => ("I", r._1, r._2, r._5)),
    orig.filter(r => vic(r._3, r._5)).map(r => ("D", r._1, 0L, 0L)),
    app.map(r => ("I", r._1, r._2, r._5)),
    rwFiles.toSeq.sorted.map(f => ("X", 0L, 0L, f)) ++
      orig.filter(r => rwFiles(r._5) && !vic(r._3, r._5))
        .map(r => ("R", r._1, r._2, r._5 + 100L)))

  test("changelogStream: splitting a commit or merging independent commits preserves the final state") {
    val base = runStream(canonical)
    // split the load commit in two halves
    val (lo, hi) = canonical.head.splitAt(canonical.head.size / 2)
    val split = Seq(lo, hi) ++ canonical.tail
    assert(runStream(split).last == base.last,
      "splitting the load commit changed the final state")
    // merge the two INDEPENDENT middle commits (delete targets orig
    // keys, append adds new keys — no interaction)
    val merged = Seq(canonical(0), canonical(1) ++ canonical(2), canonical(3))
    assert(runStream(merged).last == base.last,
      "merging independent delete+append commits changed the final state")
  }

  test("OCC: compaction and the (rebased) delete commute to the same content") {
    def sig(rs: Seq[(Long, Long)]): (Long, Long, Long) =
      (rs.size.toLong, rs.map(_._2).sum,
        rs.map(r => (r._1 % 999983L) * (r._1 % 999983L)).sum)
    def vic2(h: Long): Boolean = h >= 171798691L && h < 343597383L
    // order 1: compact first, then the rebased delete (q424's path)
    val afterCompact = orig.filterNot(r => vic(r._3, r._5))
    val order1 = afterCompact.filterNot(r => vic2(r._3)).map(r => (r._1, r._2))
    // order 2: delete first, then compaction drops both victim bands
    val afterDelete = orig.filterNot(r => vic2(r._3))
    val order2 = afterDelete.filterNot(r => vic(r._3, r._5)).map(r => (r._1, r._2))
    assert(sig(order1) == sig(order2), "the two serial orders diverged")
    // and both equal the declarative truth
    val truth = orig.filter(r => !vic(r._3, r._5) && !vic2(r._3)).map(r => (r._1, r._2))
    assert(sig(order1) == sig(truth))
  }

  test("OCC schema evolution: a data commit and a schema commit commute under field-id resolution; name binding diverges on rename") {
    // q434's law half. A table is (rows as field-id→value maps, schema
    // as ordered (id, name) labels). Two concurrent writers: W1 appends
    // rows VALIDATED against schema [1:k, 2:v, 3:p]; W2 commits
    // RENAME v→amount (metadata only — id 2 keeps its bytes). The OCC
    // question is whether the serial orders agree.
    type IdRow = Map[Int, Long]
    val believed = Seq(1 -> "k", 2 -> "v", 3 -> "p")
    val renamed = Seq(1 -> "k", 2 -> "amount", 3 -> "p")
    val baseRows: Seq[IdRow] =
      orig.take(200).map(r => Map(1 -> r._1, 2 -> r._2)) // pre-ADD files: no id 3
    val appendRows: Seq[IdRow] =
      app.take(200).map(r => Map(1 -> r._1, 2 -> r._2, 3 -> r._1 % 5))
    def read(rows: Seq[IdRow], schema: Seq[(Int, String)]): Seq[Seq[(String, Option[Long])]] =
      rows.map(r => schema.map { case (id, nm) => nm -> r.get(id) })
    // FIELD-ID engine: the append's columns were bound to ids at
    // validation time; the rename touches only labels, so either serial
    // order lands on the same (rows, schema) pair.
    def idApply(renameFirst: Boolean): Seq[Seq[(String, Option[Long])]] = {
      val _ = renameFirst // binding happened at validation — order can't matter
      read(baseRows ++ appendRows, renamed)
    }
    assert(idApply(renameFirst = false) == idApply(renameFirst = true),
      "field-id resolution must make the data and schema commits commute")
    // NAME engine: the append binds its columns to ids BY NAME at
    // commit time. rename-then-append: the writer's 'v' no longer
    // resolves and the value is discarded — the appended rows read
    // amount = NULL; append-then-rename keeps them. The orders diverge,
    // which is exactly why id resolution is the law, not a style choice.
    def nameApply(renameFirst: Boolean): Seq[Seq[(String, Option[Long])]] = {
      val atCommit = (if (renameFirst) renamed else believed).map(_.swap).toMap
      val appended = appendRows.map { r =>
        believed.flatMap { case (id, nm) =>
          atCommit.get(nm).flatMap(tid => r.get(id).map(tid -> _))
        }.toMap
      }
      read(baseRows ++ appended, renamed)
    }
    assert(nameApply(renameFirst = false) == idApply(renameFirst = false),
      "the lucky name order must agree with the id engine")
    assert(nameApply(renameFirst = false) != nameApply(renameFirst = true),
      "name binding must diverge across orders — the counterexample is the law's point")
    // and the divergence is precisely the appended rows' renamed column
    val lost = nameApply(renameFirst = true)
      .count(_.exists { case (nm, v) => nm == "amount" && v.isEmpty })
    assert(lost == appendRows.size,
      "every appended row (and only those) must lose its amount under rename-first name binding")
  }

  test("MvCatalog keys on the relation: a content-identical post-compaction twin refuses until a catalog holds the new twin's view") {
    val keyed = R61Queries.keyedFrame(spark, sf001)
    // v2 state and v3 state have IDENTICAL content, different relations
    val v2 = keyed.where(expr("(NOT (f < 20 AND h < 171798691)) OR k > kcut"))
      .select(col("f"), col("v")).localCheckpoint(false)
    val v3 = keyed.where(expr("(NOT (f < 20 AND h < 171798691)) OR k > kcut"))
      .select(col("f"), col("v")).localCheckpoint(false)
    val view = v2.groupBy("f").agg(count(lit(1)).cast("long").as("cnt"),
      sum("v").as("sum_v")).localCheckpoint(false)
    def mvOn(base: DataFrame) =
      MvCatalog.validate(base, view, Seq("f"), "cnt", Map("v" -> "sum_v")).toSeq
    val onV2 = mvOn(v2)
    assert(onV2.nonEmpty)
    def leaves(df: DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case l: org.apache.spark.sql.catalyst.plans.logical.LeafNode => l
      }
    withRule(MvRewriteRule(onV2)) {
      val q2 = v2.groupBy("f").agg(sum("v").as("tv"))
      assert(leaves(q2).exists(_.schema.fieldNames.contains("sum_v")),
        "the validated relation must rewrite onto the view")
      val q3 = v3.groupBy("f").agg(sum("v").as("tv"))
      assert(!leaves(q3).exists(_.schema.fieldNames.contains("sum_v")),
        "a content-identical but DIFFERENT relation must refuse the rewrite")
    }
    // validating the view against the new relation arms a catalog for it
    val onV3 = mvOn(v3)
    assert(onV3.nonEmpty)
    withRule(MvRewriteRule(onV3)) {
      val q3b = v3.groupBy("f").agg(sum("v").as("tv"))
      assert(leaves(q3b).exists(_.schema.fieldNames.contains("sum_v")),
        "a catalog holding the new relation's view must rewrite it")
    }
  }
}
