package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session-extension entry point: makes the engine's native expressions
  * first-class SQL functions in any session built with
  *
  *   graft.Session.builder(n).withExtensions(new GraftExtensions)
  *
  * or `spark.sql.extensions=graft.functions.GraftExtensions`. This is the
  * only place the SQL names `cosine_sim`, `jaro_winkler` and
  * `bitmap_distinct` are defined; queries build the same expressions as
  * Columns (graft.functions.cosineSim etc.) and need no extension.
  *
  * Injects all three extension layers of the build brief: the expression
  * registry (b), optimizer rules (CosineSymmetryRule and the data-proof
  * rewrites), and a planner strategy (c — the TopKPerGroup whole-operator
  * plan node; `TopKOps.ensureStrategy` installs it on sessions built
  * without this extension).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    def fn(name: String, cls: Class[_], build: Seq[Expression] => Expression): Unit =
      ext.injectFunction((FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build))
    fn("cosine_sim", classOf[CosineSimilarity], e => CosineSimilarity(e(0), e(1)))
    fn("jaro_winkler", classOf[JaroWinklerSimilarity], e => JaroWinklerSimilarity(e(0), e(1)))
    fn("bitmap_distinct", classOf[BitmapDistinct], e => BitmapDistinct(e.head))
    ext.injectOptimizerRule(_ => graft.plans.CosineSymmetryRule)
    ext.injectOptimizerRule(_ => graft.plans.FkJoinEliminationRule)
    ext.injectOptimizerRule(_ => graft.plans.MvRewriteRule)
    ext.injectPlannerStrategy(_ => graft.plans.TopKPerGroupStrategy)
  }
}
