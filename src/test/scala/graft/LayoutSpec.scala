package graft

import org.apache.spark.sql.functions._

/** Validates the q342/q352 layout pricing against PHYSICALLY WRITTEN
  * files (the q364/PartitionGrainSpec move applied to clustering): both
  * layouts are actually written — 32 real parquet files each, range-
  * partitioned and sorted by l_partkey (lexicographic) vs by the
  * bit-normalized Morton code (z-order, the exact q342 interleave) —
  * their REAL zone maps are read back per file (the min/max stats a
  * reader prunes with), the q342 predicate battery is priced from those
  * zone maps, and the model's decisions must hold on the physical
  * layout: lexicographic prunes the primary key near-perfectly and the
  * secondary key not at all; z-order prunes BOTH; and the 3:1
  * secondary-heavy workload fold lands on the same argmin as q352's
  * chosen row. The writer's file assignment (equal-row range chunks)
  * deliberately differs from the model's equal-value-width simulation —
  * the decision surviving that gap is the point of the test.
  */
class LayoutSpec extends SparkSpecBase {
  import spark.implicits._

  test("q342/q352 layout decisions hold on physically-written files' real zone maps") {
    val model = SparkEntry.queries("q342_zorder_pricing")(spark, sf001)
      .select("pred_key", "pred_id", "lo", "hi", "rows_lex", "rows_z", "rows_exact")
      .as[(String, Long, Long, Long, Long, Long, Long)].collect()
    assert(model.length == 16)
    val chosen352 = SparkEntry.queries("q352_layout_chooser")(spark, sf001)
      .where("chosen = 1").select("layout").as[String].collect().toSeq
    assert(chosen352 == Seq("zorder"), s"q352 chose $chosen352")

    val raw = Tables.load(spark, sf001, "lineitem")
      .select(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
    val (pmax, smax, nRows) = raw.agg(max("pk"), max("sk"), count(lit(1)))
      .as[(Long, Long, Long)].head()
    val zed = raw
      .withColumn("xs", expr(s"pk * 1024 div ($pmax + 1)"))
      .withColumn("ys", expr(s"sk * 1024 div ($smax + 1)"))
      .withColumn("z", expr(graft.queries.R38Queries.zInterleave("xs", "ys", "div")))
      .select("pk", "sk", "z")

    def writeSorted(sortCol: String): String = {
      val dir = java.nio.file.Files.createTempDirectory(s"graft_layout_$sortCol").toString
      zed.repartitionByRange(32, col(sortCol)).sortWithinPartitions(sortCol)
        .write.mode("overwrite").parquet(dir)
      dir
    }
    // the REAL zone map: per physical file, the min/max stats its
    // footer carries for both keys
    def zoneMap(dir: String): Array[(Long, Long, Long, Long, Long)] =
      spark.read.parquet(dir)
        .groupBy(input_file_name().as("f"))
        .agg(min("pk").as("lo_pk"), max("pk").as("hi_pk"),
          min("sk").as("lo_sk"), max("sk").as("hi_sk"),
          count(lit(1)).as("rows_f"))
        .select("lo_pk", "hi_pk", "lo_sk", "hi_sk", "rows_f")
        .as[(Long, Long, Long, Long, Long)].collect()

    val lexDir = writeSorted("pk")
    val zDir = writeSorted("z")
    try {
      val zmLex = zoneMap(lexDir)
      val zmZ = zoneMap(zDir)
      assert(zmLex.length == 32 && zmZ.length == 32,
        s"expected 32 physical files per layout, got ${zmLex.length}/${zmZ.length}")
      val fileRows = (nRows + 31) / 32

      def scanned(zm: Array[(Long, Long, Long, Long, Long)],
          key: String, lo: Long, hi: Long): (Long, Long) = {
        val hit = zm.filter { case (lpk, hpk, lsk, hsk, _) =>
          if (key == "l_partkey") lpk <= hi && hpk >= lo else lsk <= hi && hsk >= lo
        }
        (hit.length.toLong, hit.map(_._5).sum)
      }

      var lexPkRows = 0L; var zPkRows = 0L
      var lexSkRows = 0L; var zSkRows = 0L
      for ((key, _, lo, hi, _, _, exact) <- model) {
        val (fLex, rLex) = scanned(zmLex, key, lo, hi)
        val (fZ, rZ) = scanned(zmZ, key, lo, hi)
        if (key == "l_partkey") {
          // the sorted key prunes near-perfectly on the real files: the
          // scan pays at most the exact rows plus boundary-file slack
          assert(rLex <= exact + 3 * fileRows,
            s"lex layout failed to prune its own sort key: pred [$lo,$hi] " +
              s"scanned $rLex rows for $exact exact")
          lexPkRows += rLex; zPkRows += rZ
        } else {
          // the unsorted secondary key prunes NOTHING on the real lex
          // files — every file's sk range spans the predicate
          assert(fLex >= 30,
            s"lex files unexpectedly pruned the secondary key: $fLex of 32")
          // ... and z-order physically restores secondary pruning
          assert(rZ < rLex,
            s"z-order did not beat lex on its raison d'etre: pred [$lo,$hi] z=$rZ lex=$rLex")
          lexSkRows += rLex; zSkRows += rZ
        }
      }
      // the model's per-key ordering holds physically in aggregate:
      // lex wins the primary key, z wins the secondary
      assert(lexPkRows < zPkRows,
        s"primary-key ordering flipped on real files: lex=$lexPkRows z=$zPkRows")
      assert(zSkRows * 2 < lexSkRows,
        s"secondary-key z win should be decisive: z=$zSkRows lex=$lexSkRows")
      // and the q352 decision survives the real writer's file
      // assignment: the 3:1 secondary-heavy weighted fold still picks
      // z-order on the physical zone maps
      val wLex = lexPkRows + 3 * lexSkRows
      val wZ = zPkRows + 3 * zSkRows
      assert(wZ < wLex,
        s"q352's chosen layout lost on the physical files: zorder=$wZ lex=$wLex")
    } finally {
      import scala.jdk.CollectionConverters._
      for (d <- Seq(lexDir, zDir)) {
        val p = java.nio.file.Paths.get(d)
        if (java.nio.file.Files.exists(p))
          { val st = java.nio.file.Files.walk(p)
            try st.iterator().asScala.toSeq.reverse
              .foreach(java.nio.file.Files.deleteIfExists(_))
            finally st.close() }
      }
    }
  }

  test("q400/q401's sketch-range layout holds on physically-written files (real zone maps + engine partition pruning)") {
    // VERDICT r11 ask #2: q400 chose the 256-bin-sketch boundaries and
    // q401 priced the pruning on SIMULATED assignments; here both
    // layouts are physically written (32 real parquet files each, one
    // per partition), the writer's ACTUAL per-file zone maps are read
    // back, and q401's model rows must hold on the artifact: one file
    // touched per probe on the range layout with the model's exact
    // rows_scanned, all 32 on hash; soundness (matching rows outside
    // the touched files = 0) certified physically; and the probe,
    // translated through the 256-row bin→partition map onto the
    // partition column, must prune DIRECTORIES in the real plan
    // (PartitionFilters — the engine-side read path a 100 TB scan
    // takes). The q364/PartitionGrainSpec move applied to this round's
    // range-layout arc.
    import graft.ops.HashOps.md5Bucket
    val model = SparkEntry.queries("q401_zonemap_pruning")(spark, sf001)
      .select("probe_id", "layout", "lo", "hi", "act_rows", "parts_touched", "rows_scanned")
      .as[(Long, String, Long, Long, Long, Long, Long)].collect()
    assert(model.length == 6)

    val rows = Tables.load(spark, sf001, "events").select(col("event_id").as("eid"),
      expr("CAST(floor(value * 100.0 + 0.5) AS BIGINT)").as("v"))
      .localCheckpoint(false)
    val mx = rows.agg(min("v").as("a"), expr("max(v) - min(v) + 1").as("w"),
      count(lit(1)).as("n")).localCheckpoint(false)
    // the layout under test is built by the SAME shared builder the
    // chooser (q400), the pruner (q401) and the classifier (q405) use
    val asgRange = graft.queries.R56Queries.sketchRangeAssign(rows, mx)
      .select("eid", "v", "p")
    val asgHash = rows.withColumn("p",
      md5Bucket(concat(lit("h:"), col("eid").cast("string")), 32))
      .select("eid", "v", "p")

    def write(asg: org.apache.spark.sql.DataFrame, tag: String): String = {
      val dir = java.nio.file.Files.createTempDirectory(s"graft_range_$tag").toString
      // hash-repartition by p puts each partition value in exactly one
      // task, so partitionBy writes exactly one physical file per p
      asg.repartition(32, col("p")).write.partitionBy("p")
        .mode("overwrite").parquet(dir)
      dir
    }
    val rangeDir = write(asgRange, "sketch")
    val hashDir = write(asgHash, "hash")
    try {
      for ((layout, dir) <- Seq("2:sketch_range" -> rangeDir, "1:hash" -> hashDir)) {
        val part = spark.read.parquet(dir)
        // the REAL zone map: per physical file, min/max/rows from the
        // written artifact
        val zm = part.groupBy(input_file_name().as("f"), col("p"))
          .agg(min("v").as("zmin"), max("v").as("zmax"), count(lit(1)).as("rows_f"))
          .as[(String, Int, Long, Long, Long)].collect()
        assert(zm.length == 32, s"$layout: expected 32 physical files, got ${zm.length}")
        for ((pid, _, lo, hi, act, mTouched, mScanned) <- model.filter(_._2 == layout)) {
          val touched = zm.filter(z => z._4 >= lo && z._3 <= hi)
          assert(touched.length.toLong == mTouched,
            s"$layout probe $pid: ${touched.length} physical files touched, model priced $mTouched")
          assert(touched.map(_._5).sum == mScanned,
            s"$layout probe $pid: physical rows_scanned ${touched.map(_._5).sum} vs model $mScanned")
          // soundness on the artifact: matching rows outside the touched
          // file set must not exist
          val touchedPs = touched.map(_._2.toLong)
          val missed = part.where(col("v").between(lo, hi) &&
            !col("p").cast("long").isin(touchedPs: _*)).count()
          assert(missed == 0L, s"$layout probe $pid: $missed matching rows in pruned files")
          // the engine read path: the probe translated onto the partition
          // column prunes directories, not rows (PartitionFilters), and
          // the post-scan filter returns the exact battery count
          val pruned = part.where(col("p").cast("long").isin(touchedPs: _*))
          val plan = pruned.queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
          assert("PartitionFilters: \\[[^\\]]*p#".r.findFirstIn(plan).isDefined,
            s"$layout probe $pid: probe on p did not become a PartitionFilter\n$plan")
          assert(pruned.count() == touched.map(_._5).sum)
          assert(pruned.where(col("v").between(lo, hi)).count() == act,
            s"$layout probe $pid: post-prune exact rows diverge from act_rows $act")
        }
      }
    } finally {
      import scala.jdk.CollectionConverters._
      for (d <- Seq(rangeDir, hashDir)) {
        val p = java.nio.file.Paths.get(d)
        if (java.nio.file.Files.exists(p))
          { val st = java.nio.file.Files.walk(p)
            try st.iterator().asScala.toSeq.reverse
              .foreach(java.nio.file.Files.deleteIfExists(_))
            finally st.close() }
      }
    }
  }
}
