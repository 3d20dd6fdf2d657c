package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Descending, SortOrder}
import org.apache.spark.sql.graft.ColumnBridge

import graft.plans.TopKPerGroup

/** User-facing entry for the native per-group top-k plan node
  * ([[graft.plans.TopKPerGroup]]). See the node's Scaladoc for why this
  * beats the `Window(row_number) + Filter` idiom at corpus scale. The
  * node is planned by TopKPerGroupStrategy, which `graft.Session` installs
  * on every session it builds.
  */
object TopKOps {

  /** The first `k` rows of each group under `orderBy` — columns named with
    * `(name, descending)` pairs. `orderBy` must be a total order within
    * each group for deterministic output (the same contract every oracle
    * query already satisfies).
    */
  def topKPerGroup(
      df: DataFrame,
      groupCols: Seq[String],
      orderBy: Seq[(String, Boolean)],
      k: Int): DataFrame = {
    require(groupCols.nonEmpty,
      "topKPerGroup needs at least one group column — for a GLOBAL top-k use " +
        "df.orderBy(...).limit(k), which Spark plans as TakeOrderedAndProject")
    val spark = df.sparkSession
    val plan = ColumnBridge.analyzed(df)
    def attr(n: String): Attribute = plan.output.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(
        s"topKPerGroup: no column '$n' in [${plan.output.map(_.name).mkString(", ")}]"))
    val ordering = orderBy.map { case (n, desc) =>
      SortOrder(attr(n), if (desc) Descending else Ascending)
    }
    ColumnBridge.ofRows(spark, TopKPerGroup(groupCols.map(attr), ordering, k, plan))
  }
}
