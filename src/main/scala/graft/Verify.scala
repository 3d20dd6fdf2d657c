package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional dev-only 3rd arg: comma-separated name substrings — dump
    // only matching queries (and their oracle entries) for fast local
    // iteration. The driver always passes 2 args → full surface.
    val only: Option[Seq[String]] =
      if (args.length > 2) Some(args(2).split(",").toSeq) else None
    def keep(name: String): Boolean =
      only.forall(_.exists(name.contains))
    val spark = Session(Session.envCores(4))
    new java.io.File(outDir).mkdirs()
    // Incremental per-query record (JSONL): one line per query as it
    // completes, flushed immediately — so even if the driver's own
    // CORRECTNESS_r{N}.json comes back empty (as in round 12), the round
    // still carries an auditable per-query artifact. Each line:
    // {"name":…,"rows":N,"ms":N,"err":null|"…"}.
    val jsonl = new java.io.PrintWriter(
      new java.io.FileWriter(s"$outDir/verify_progress.jsonl"), true)
    SparkEntry.queries.filter(kv => keep(kv._1)).foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        val df = fn(spark, sfDir)
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        val rows = spark.read.parquet(s"$outDir/$name").count()
        val ms = (System.nanoTime() - t0) / 1000000
        jsonl.println(s"""{"name":${q(name)},"rows":$rows,"ms":$ms,"err":null}""")
      } catch { case e: Throwable =>
        val ms = (System.nanoTime() - t0) / 1000000
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        jsonl.println(s"""{"name":${q(name)},"rows":-1,"ms":$ms,"err":${q(String.valueOf(e.getMessage).take(300))}}""")
      }
    }
    jsonl.close()
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
