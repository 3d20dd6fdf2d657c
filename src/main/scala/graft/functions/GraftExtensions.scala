package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** The engine's session extensions, installed by `graft.Session` on every
  * session it builds:
  *  - the SQL names `cosine_sim`, `jaro_winkler` and `bitmap_distinct`
  *    for the native expressions (queries build the same expressions as
  *    Columns, graft.functions.cosineSim etc.);
  *  - the planner strategy of the TopKPerGroup plan node
  *    (graft.ops.TopKOps.topKPerGroup needs it to plan its node).
  *
  * No optimizer rule is installed: q433 applies `MvRewriteRule` to its own
  * plans, with its views passed as a value.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    def fn(name: String, cls: Class[_], build: Seq[Expression] => Expression): Unit =
      ext.injectFunction((FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build))
    fn("cosine_sim", classOf[CosineSimilarity], e => CosineSimilarity(e(0), e(1)))
    fn("jaro_winkler", classOf[JaroWinklerSimilarity], e => JaroWinklerSimilarity(e(0), e(1)))
    fn("bitmap_distinct", classOf[BitmapDistinct], e => BitmapDistinct(e.head))
    ext.injectPlannerStrategy(_ => graft.plans.TopKPerGroupStrategy)
  }
}
