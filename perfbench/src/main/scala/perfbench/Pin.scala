package perfbench

import java.io.{FileWriter, PrintWriter}
import java.nio.file.{Files, Paths}

import graft.SparkEntry
import graft.queries.PerfbenchBases

/** Writes the pins of a query set: each result as parquet (for the DuckDB
  * cross-check of `scripts/check_oracle.py`), its row count and digest.
  *
  *   java perfbench.Pin <sfDir> <cores> <outDir> <bases,...> <query,...>
  *
  * Output: `<outDir>/<query>/` parquet, `<outDir>/oracle_sql.json` and
  * `<outDir>/pins.jsonl` (`{"q", "rows", "digest"}` or `{"q", "err"}`).
  */
object Pin {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, cores, outDir, basesArg, queriesArg) = args
    val names = queriesArg.split(',').filter(_.nonEmpty).toSeq.sorted
    val spark = Session.create(cores.toInt)
    PerfbenchBases.build(spark, sfDir, basesArg.split(',').filter(_.nonEmpty).toSeq)
    Files.createDirectories(Paths.get(outDir))
    val out = new PrintWriter(new FileWriter(s"$outDir/pins.jsonl"))
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        val (rows, digest) = Digest.of(df)
        out.println(Json.obj(Seq("q" -> name, "rows" -> rows, "digest" -> digest)))
      } catch { case e: Throwable =>
        out.println(Json.obj(Seq("q" -> name, "err" -> String.valueOf(e.getMessage).take(200))))
      }
      PerfbenchBases.release(spark)
    }
    out.close()
    val oracle = SparkEntry.oracleSql.filter(kv => names.contains(kv._1)).toSeq.sortBy(_._1)
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      Json.obj(oracle))
    spark.stop()
  }
}
