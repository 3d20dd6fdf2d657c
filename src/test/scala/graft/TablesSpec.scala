package graft

import java.nio.file.{Files, Paths}

import scala.util.{Success, Try}

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** `graft.Tables` infers each table file's schema once: a warm read runs no
  * Spark job, yet returns what a fresh `spark.read.parquet` infers, follows
  * in-place rewrites and inference confs, and still builds a fresh relation
  * per call.
  */
class TablesSpec extends SparkSpecBase {
  import spark.implicits._

  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** What a fresh read infers, with `Tables.events`' ts adaptation. */
  private def inferred(dir: String, name: String): StructType = {
    val s = spark.read.parquet(s"$dir/$name.parquet").schema
    if (name != "events") s
    else StructType(s.map(f => if (f.name == "ts") f.copy(dataType = TimestampType) else f))
  }

  test("a second load of each table launches no Spark job and keeps the inferred schema") {
    tables.foreach(Tables.load(spark, sf001, _))
    for (name <- tables) {
      val (df, jobs) = jobsOf(Tables.load(spark, sf001, name))
      assert(jobs == 0, s"$name: a warm load launched $jobs jobs")
      assert(df.schema == inferred(sf001, name), name)
    }
  }

  test("a table rewritten in place with a new schema is inferred again") {
    val dir = Files.createTempDirectory("tables").toString
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(s"$dir/t.parquet")
    val first = Tables.load(spark, dir, "t")
    assert(first.schema == inferred(dir, "t"))
    assert(jobsOf(Tables.load(spark, dir, "t"))._2 == 0)
    Seq((1.5, true)).toDF("x", "y").write.mode("overwrite").parquet(s"$dir/t.parquet")
    val second = Tables.load(spark, dir, "t")
    assert(second.schema == inferred(dir, "t"))
    assert(second.schema.fieldNames.toSeq == Seq("x", "y"))
    assert(second.as[(Double, Boolean)].collect().toSeq == Seq((1.5, true)))
  }

  test("two loads of one table self-join on their own keys") {
    val a = Tables.load(spark, sf001, "orders")
    val b = Tables.load(spark, sf001, "orders")
    val n = a.count()
    assert(n > 0)
    assert(a.join(b, a("o_orderkey") === b("o_orderkey")).count() == n)
  }

  test("a change of an inference conf infers again") {
    // ts as TIMESTAMP(NANOS), as earlier events drops shipped it (long under
    // graft.Session's nanosAsLong), and as pyarrow-written micros
    // (TIMESTAMP_NTZ unless NTZ inference is off)
    val dir = Files.createTempDirectory("tables").toString
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
      new Path(s"$dir/nanos.parquet"), spark.sparkContext.hadoopConfiguration))
      .withType(schema).build()
    w.write(new SimpleGroupFactory(schema).newGroup().append("ts", 1500000000123456789L))
    w.close()
    Files.copy(Paths.get(s"$sf001/events.parquet"), Paths.get(s"$dir/micros.parquet"))
    def viaTables(n: String) = Try(Tables.load(spark, dir, n).schema("ts").dataType)

    assert(viaTables("nanos") == Success(LongType))
    assert(viaTables("micros") == Success(TimestampNTZType))
    // Spark has no type for NANOS without nanosAsLong: inference fails
    withConf("spark.sql.legacy.parquet.nanosAsLong" -> "false") {
      assert(viaTables("nanos").failed.get.getMessage.contains("PARQUET_TYPE_ILLEGAL"))
    }
    withConf("spark.sql.parquet.inferTimestampNTZ.enabled" -> "false") {
      assert(viaTables("micros") == Success(TimestampType))
      assert(spark.read.parquet(s"$dir/micros.parquet").schema("ts").dataType == TimestampType)
    }
    assert(viaTables("nanos") == Success(LongType))
    assert(viaTables("micros") == Success(TimestampNTZType))
  }

  test("loads from concurrent Par legs agree on the schema") {
    val dir = Files.createTempDirectory("tables").toString
    Seq((1L, "a", 2.0)).toDF("k", "v", "w").write.parquet(s"$dir/t.parquet")
    val got = Par((1 to 4).map(_ => () => Tables.load(spark, dir, "t").schema): _*)
    assert(got.distinct == Seq(inferred(dir, "t")))
    val warm = Par((1 to 4).map(_ => () => Tables.load(spark, sf001, "lineitem").schema): _*)
    assert(warm.distinct == Seq(inferred(sf001, "lineitem")))
  }
}
