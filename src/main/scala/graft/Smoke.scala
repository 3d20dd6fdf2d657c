package graft

import org.apache.spark.sql.SparkSession

/** Local smoke runner mirroring the driver's t1 check: entry() returns
  * rows on sf0.001 and the query/oracle maps are consistent.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Session(4)
    // the native function's SQL name comes from GraftExtensions, which
    // graft.Session installs
    val cos = spark.sql(
      """SELECT cosine_sim(CAST(array(1.0, 0.0) AS array<float>),
                           CAST(array(1.0, 0.0) AS array<float>)) AS c""")
      .head().getDouble(0)
    println(s"EXT_COSINE_OK=${math.abs(cos - 1.0) < 1e-12}")
    val df = SparkEntry.entry(spark)
    println(s"ENTRY_ROWS=${df.count()}")
    df.show(false)
    println(s"QUERIES=${SparkEntry.queries.size} ORACLES=${SparkEntry.oracleSql.size}")
    println(s"ORACLE_KEYS_SUBSET=${SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet)}")
    if (args.contains("--ml")) runMl(spark)
    if (args.contains("--stream")) runStream(spark)
    spark.stop()
  }

  /** Drive the ML-parity pipelines end-to-end on the reference CSVs. */
  private def runMl(spark: SparkSession): Unit = {
    val ref = "/root/reference/src/main/resources/data"
    val mc = graft.ml.ReferencePipelines.medicalCharges(
      spark, s"$ref/datapreparation/medical_charges.csv")
    println(s"ML_MEDICAL cleaned=${mc.cleaned.count()} corr_smoker=${mc.correlations("smoker_idx")}")
    mc.bucketAgg.show(false)
    val rf = graft.ml.ReferencePipelines.knowledgeRf(
      spark, s"$ref/classification/user_know_modeling_dataset_train.csv")
    println(s"ML_KNOWLEDGE f1=${rf.f1}")
    val sp = graft.ml.ReferencePipelines.spam(spark, s"$ref/classification/spam.csv")
    println(s"ML_SPAM rf_acc=${sp.accuracyRf} dt_acc=${sp.accuracyDt}")
  }

  /** Drive the streaming session pipeline on an in-memory stream. */
  private def runStream(spark: SparkSession): Unit = {
    import graft.streaming.EventStream
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val mem = MemoryStream[EventStream.Event](spark)
    val q = EventStream.hourlyCounts(
      mem.toDF().withColumn("event_type",
        org.apache.spark.sql.functions.lit("click")))
      .writeStream.format("memory").queryName("smoke_hourly")
      .outputMode("complete").start()
    mem.addData((1 to 100).map(i => EventStream.Event(
      i.toLong, new java.sql.Timestamp(1704067200000L + i * 60000L), i % 7L, i * 1.0)): _*)
    q.processAllAvailable()
    println(s"STREAM_HOURLY_ROWS=${spark.table("smoke_hourly").count()}")
    spark.table("smoke_hourly").orderBy("ws", "event_type").show(5, false)
    q.stop()
  }
}
