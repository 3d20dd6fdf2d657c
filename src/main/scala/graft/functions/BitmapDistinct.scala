package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._

/** Exact distinct count over a bounded non-negative long key as a
  * TypedImperativeAggregate with a BitSet buffer — the bitmap-count
  * technique OLAP engines use when the key domain is dense (dimension
  * surrogate keys): the partial state is domain/8 bytes regardless of
  * row count, merges are word-wise OR, and unlike count(DISTINCT) no
  * Expand/dedup pass runs before the aggregation.
  *
  * The third custom-aggregate style in the engine, alongside the typed
  * `Aggregator` (TopKAggregator) and the codegen scalar `Expression`
  * (CosineSimilarity). Keys must lie in [0, maxKey]; out-of-domain keys
  * raise rather than silently alias.
  */
case class BitmapDistinct(
    child: Expression,
    maxKey: Int = 1 << 24,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.BitSet] with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType | IntegerType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"bitmap_distinct expects an integral key, got ${t.sql}")
  }

  override def createAggregationBuffer(): java.util.BitSet = new java.util.BitSet()

  override def update(b: java.util.BitSet, input: InternalRow): java.util.BitSet = {
    val v = child.eval(input)
    if (v != null) {
      val k = v match { case l: Long => l; case i: Int => i.toLong }
      if (k < 0 || k > maxKey) throw new IllegalArgumentException(
        s"bitmap_distinct: key $k outside [0, $maxKey]")
      b.set(k.toInt)
    }
    b
  }

  override def merge(b: java.util.BitSet, o: java.util.BitSet): java.util.BitSet = {
    b.or(o); b
  }

  override def eval(b: java.util.BitSet): Any = b.cardinality().toLong

  override def serialize(b: java.util.BitSet): Array[Byte] = b.toByteArray
  override def deserialize(bytes: Array[Byte]): java.util.BitSet =
    java.util.BitSet.valueOf(bytes)

  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "bitmap_distinct"

  override def withNewMutableAggBufferOffset(o: Int): BitmapDistinct =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): BitmapDistinct =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): BitmapDistinct =
    copy(child = c)
}
