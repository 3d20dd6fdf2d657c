package graft

import graft.ops.SkewOps
import org.apache.spark.sql.functions._

/** Salted aggregation under heavy key skew: a 500k-row set where one key
  * owns 90% of rows — the shape where a direct groupBy funnels into one
  * reducer at cluster scale. Results must equal the direct aggregation
  * exactly (counts) / to rounding (double sums).
  */
class SkewSpec extends SparkSpecBase {

  test("saltedSumCount equals direct aggregation on a 90%-skewed key") {
    val df = spark.range(500000)
      .select(col("id"),
        when(pmod(col("id"), lit(10)) < 9, "hot")
          .otherwise(concat(lit("k"), pmod(col("id"), lit(97))))
          .as("key"),
        (col("id") % 1000).cast("double").as("v"))
    val salted = SkewOps.saltedSumCount(df, Seq("key"), col("id"), "v", 32)
      .select(col("key"), round(col("total"), 4).as("total"), col("cnt"))
    val direct = df.groupBy("key")
      .agg(round(sum("v"), 4).as("total"), count(lit(1)).as("cnt"))
    assert(salted.exceptAll(direct).isEmpty && direct.exceptAll(salted).isEmpty)
    // the hot key really is hot
    assert(direct.where(col("key") === "hot").head().getLong(2) === 450000L)
  }

  test("AQE splits a skewed join partition at runtime (skew=true in the final plan)") {
    // 90% of the left side lands on one key; with the skew thresholds
    // lowered, AQE must rewrite the sort-merge join to read the hot
    // partition as multiple splits — the runtime answer to skew that
    // salting solves statically (the two are complementary: AQE for
    // joins, salting for aggregations AQE can't split).
    withConf(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val left = spark.range(200000)
        .select(when(col("id") % 10 < 9, 0L).otherwise(col("id")).as("k"),
          concat(lit("payload_"), col("id")).as("pad"))
      val right = spark.range(5000).select(col("id").as("k"), lit(1L).as("m"))
      val joined = left.join(right, Seq("k"))
      // execute THIS plan (count() would prune `pad` and nothing would
      // cross the skew threshold); hot key 0: 180000 matches, tail keys
      // ≡9 (mod 10) below 5000: 500
      assert(joined.collect().length === 180500)
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        s"AQE did not split the skewed partition\n$p")
    }
  }

  test("q390's salt decision validated against the REAL partitioner (engine repartition loads)") {
    // q390 prices partition loads under the portable md5 partitioner (a
    // MODEL — Spark's Murmur3 is not oracle-replayable). The decision it
    // feeds is an engine decision, so the engine must agree (the
    // PartitionGrainSpec/JoinCostSpec program applied to skew): actually
    // repartition(32, key) the same rows, read the real per-partition
    // loads via spark_partition_id, and check (a) the unsalted flag key
    // funnels into <= 3 of 32 engine partitions at >= 6x uniform — the
    // diagnosis; (b) the chosen 64-way salt uses (nearly) every engine
    // partition and lands within the 2x-uniform band the chooser gated
    // on, with max load an order of magnitude below the unsalted run —
    // the decision, confirmed under the hash the model never saw.
    import graft.ops.HashOps.md5Bucket
    import spark.implicits._
    val li = Tables.load(spark, sf001, "lineitem")
      .select(col("l_returnflag").as("fl"),
        md5Bucket(concat(lit("salt:"), col("l_orderkey").cast("string")), 64).as("b64"))
      .localCheckpoint(false)
    def engineLoads(keyed: org.apache.spark.sql.DataFrame): Array[Long] =
      keyed.repartition(32, col("ek"))
        .select(spark_partition_id().as("p"))
        .groupBy("p").agg(count(lit(1)).as("c"))
        .select("c").as[Long].collect()
    val n = li.count()
    val raw = engineLoads(li.select(col("fl").as("ek")))
    assert(raw.length <= 3,
      s"3 flag keys must land on <= 3 engine partitions, got ${raw.length}")
    assert(raw.max * 32L >= n * 6L,
      s"unsalted max engine load ${raw.max} not >= 6x uniform (n=$n)")
    val salted = engineLoads(li.select(
      concat(col("fl"), lit(":"), (col("b64") % 64).cast("string")).as("ek")))
    assert(salted.length >= 28,
      s"192 salted sub-keys must spread over (nearly) all 32 engine partitions, got ${salted.length}")
    assert(salted.max * 32L <= n * 2L,
      s"salted max engine load ${salted.max} outside the 2x-uniform band the chooser gated on (n=$n)")
    assert(salted.max * 5L <= raw.max,
      s"salting must cut the engine hot partition >= 5x (raw ${raw.max} -> salted ${salted.max})")
  }

  test("q399/q403's adaptive salt validated against the REAL partitioner at the chosen target") {
    // the q390 engine-validation program applied to the ADAPTIVE config
    // q403 executes: build the per-key salt table at target n/256 via
    // the same shared rule, actually repartition(32, salted_key), and
    // check (a) the unsalted planted-zipf key funnels >= 6x uniform;
    // (b) the adaptive salt lands inside the 2x band under the engine's
    // Murmur3 (the hash the md5 pricing model never saw) across nearly
    // all partitions; (c) the replication bill really is an order of
    // magnitude below uniform64's n_keys * 64 — the 12x q399 priced.
    import spark.implicits._
    val keyed = graft.queries.R54Queries.hhKeyed(
        Tables.load(spark, sf001, "events"))
      .select(col("k"),
        expr("CAST(conv(substring(md5(concat('sl:', CAST(eid AS STRING))), 1, 10), 16, 10) AS BIGINT)")
          .as("rh"))
      .localCheckpoint(false)
    val kc = keyed.groupBy("k").agg(count(lit(1)).as("f")).localCheckpoint(false)
    val nk = kc.agg(count(lit(1)).as("n_keys"), sum("f").as("n"))
    val sa = graft.queries.R56Queries.adaptiveSaltTable(kc, nk, 256)
      .localCheckpoint(false)
    def engineLoads(df: org.apache.spark.sql.DataFrame): Array[Long] =
      df.repartition(32, col("ek"))
        .select(spark_partition_id().as("p"))
        .groupBy("p").agg(count(lit(1)).as("c"))
        .select("c").as[Long].collect()
    val (nKeys, n) = nk.as[(Long, Long)].head()
    val raw = engineLoads(keyed.select(col("k").as("ek")))
    assert(raw.max * 32L >= n * 6L,
      s"unsalted planted head not >= 6x uniform on engine partitions (max ${raw.max}, n=$n)")
    val salted = engineLoads(keyed.join(broadcast(sa), "k")
      .select(concat(col("k"), lit(":"), pmod(col("rh"), col("sa")).cast("string")).as("ek")))
    assert(salted.length >= 28,
      s"adaptive sub-keys must spread over (nearly) all 32 engine partitions, got ${salted.length}")
    assert(salted.max * 32L <= n * 2L,
      s"adaptive salt outside the 2x engine band q399 gated on (max ${salted.max}, n=$n)")
    val replRows = sa.agg(sum("sa")).as[Long].head()
    assert(replRows * 8L <= nKeys * 64L,
      s"adaptive replication $replRows not >= 8x below uniform64's ${nKeys * 64}")
  }
}
