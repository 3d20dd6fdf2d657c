package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.FunctionIdentifier

import graft.plans.TopKPerGroupStrategy

/** Guards the session contract: `graft.Session` is the only code that
  * builds a session and installs what the engine adds to it (the
  * GraftExtensions SQL names and the TopKPerGroup planner strategy); no
  * code under src/main writes `spark.experimental`, and the code queries
  * run (queries, ops, streaming, ml, and the table reads in
  * QuerySpec.scala) writes no session-wide state. Native expressions are
  * Column constructors, not registry entries; optimizer rules are applied
  * to a plan, not installed.
  */
class SessionHygieneSpec extends SparkSpecBase {

  /** (file, source without comment lines and trailing `// ` comments). */
  private def sources(root: String): Seq[(Path, String)] = {
    val s = Files.walk(Paths.get(root))
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList.map { p =>
      p -> Files.readAllLines(p).asScala
        .filterNot(l => Seq("//", "/*", "*").exists(l.trim.startsWith))
        .map(_.replaceAll("\\s// .*$", "")).mkString("\n")
    } finally s.close()
  }

  private def hits(files: Seq[(Path, String)], re: String): Seq[String] =
    for ((p, text) <- files; l <- text.linesIterator.toSeq if re.r.findFirstIn(l).nonEmpty)
      yield s"$p: ${l.trim}"

  test("graft.Session holds the only SparkSession builder under src/") {
    val files = sources("src").filterNot(_._1.endsWith("SessionHygieneSpec.scala"))
    val builders = hits(files, "SparkSession\\s*\\.\\s*builder\\b")
    assert(builders.size == 1 && builders.head.startsWith("src/main/scala/graft/Session.scala:"),
      builders.mkString("\n"))
  }

  test("graft.Session installs the top-k strategy and the three SQL names") {
    assert(spark.sessionState.planner.strategies.contains(TopKPerGroupStrategy))
    for (name <- Seq("cosine_sim", "jaro_winkler", "bitmap_distinct"))
      assert(spark.sessionState.functionRegistry.functionExists(FunctionIdentifier(name)), name)
  }

  test("no code under src/main writes spark.experimental") {
    val writes = hits(sources("src/main"), "experimental\\s*\\.\\s*\\w+\\s*(\\+\\+|:\\+)?=(?!=)")
    assert(writes.isEmpty, writes.mkString("\n"))
  }

  test("queries, ops, streaming and ml code write no session-wide state") {
    val files = (Seq("queries", "ops", "streaming", "ml").map(d => s"src/main/scala/graft/$d") :+
        "src/main/scala/graft/QuerySpec.scala").flatMap(sources)
    val violations = Seq(
      "conf write" -> "\\bconf\\s*\\.\\s*(set|unset)\\b",
      "function registry write" -> "functionRegistry\\s*\\.\\s*(register|createOrReplace|drop|clear)",
      "native expression registration" ->
        "(CosineSimilarity|JaroWinkler|JaroWinklerSimilarity|BitmapDistinct)\\s*\\.\\s*register\\b",
      "SQL name of a native expression" -> "\\b(cosine_sim|jaro_winkler|bitmap_distinct)\\s*(\\(|\")"
    ).flatMap { case (what, re) => hits(files, re).map(h => s"$what — $h") }
    assert(violations.isEmpty, violations.mkString("\n"))
    val registers = hits(sources("src/main/scala/graft/functions"), "def register\\b")
    assert(registers.isEmpty, registers.mkString("\n"))
  }

  test("running native-expression and rule queries leaves the session as it was") {
    def state = (spark.sessionState.functionRegistry.listFunction().toSet,
      spark.experimental.extraOptimizations, spark.experimental.extraStrategies)
    val before = state
    for (q <- Seq("q37_cosine_topk", "q177_fuzzy_block", "q121_bitmap_distinct",
        "q130_native_topk", "q433_mv_rule_applied"))
      assert(SparkEntry.queries(q)(spark, sf001).collect().nonEmpty, q)
    assert(state == before)
  }

  test("two concurrent q433 runs each serve from their own views") {
    def run() = SparkEntry.queries("q433_mv_rule_applied")(spark, sf001).collect().toSeq
    val Seq(a, b) = Par(() => run(), () => run())
    assert(a == b)
    val viewOnly = a.groupBy(_.getAs[String]("scenario"))
      .map { case (scenario, rows) => scenario -> rows.map(_.getAs[Long]("view_only")).distinct }
    assert(viewOnly == Map("1:grain_group" -> Seq(1L), "2:empty_global" -> Seq(1L),
      "3:partial_subsume" -> Seq(1L), "4:null_avg_refusal" -> Seq(0L)), viewOnly)
  }
}
