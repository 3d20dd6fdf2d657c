package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.functions.col

import graft.functions.{bitmapDistinct, cosineSim, jaroWinkler}

/** GraftExtensions wires the native expressions into a
  * SparkSessionExtensions instance without error, and the shared session
  * (built by graft.Session, which installs the extensions) resolves each
  * SQL name to the same expression its graft.functions constructor builds.
  */
class ExtensionsSpec extends SparkSpecBase {
  test("GraftExtensions applies its injections cleanly") {
    val ext = new SparkSessionExtensions
    new graft.functions.GraftExtensions().apply(ext)
  }

  test("cosine_sim, jaro_winkler and bitmap_distinct resolve in spark.sql and equal their Column constructors") {
    val input = """SELECT id, CAST(a AS array<float>) AS a, CAST(b AS array<float>) AS b, s, t, k
      FROM VALUES
        (1, array(1.0, 0.0, 2.0), array(0.5, 1.0, 2.0), 'martha', 'marhta', 3L),
        (2, array(0.0, 1.0, 0.0), array(0.0, 1.0, 1.0), 'dixon', 'dicksonx', 7L),
        (3, array(3.0, 1.0, 1.0), array(1.0, 1.0, 3.0), 'jones', 'johnson', 3L)
        AS v(id, a, b, s, t, k)"""
    val viaSql = spark.sql(
      s"SELECT cosine_sim(a, b) AS c, jaro_winkler(s, t) AS j FROM ($input) ORDER BY id")
      .collect().toSeq
    val viaColumn = spark.sql(input).orderBy("id")
      .select(cosineSim(col("a"), col("b")).as("c"), jaroWinkler(col("s"), col("t")).as("j"))
      .collect().toSeq
    assert(viaSql == viaColumn)
    assert(viaSql.size == 3 && viaSql.forall(r => !r.isNullAt(0) && !r.isNullAt(1)))
    val distinctSql = spark.sql(s"SELECT bitmap_distinct(k) FROM ($input)").head()
    val distinctColumn = spark.sql(input).agg(bitmapDistinct(col("k"))).head()
    assert(distinctSql == distinctColumn)
    assert(distinctSql.getLong(0) == 2L)
  }
}
