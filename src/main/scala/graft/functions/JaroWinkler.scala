package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Jaro-Winkler string similarity as a native Catalyst expression — the
  * fuzzy-matching primitive Spark's function library lacks (it stops at
  * `levenshtein`). Semantics pinned to the de-facto standard that DuckDB's
  * `jaro_winkler_similarity` implements (verified empirically on 500+
  * random cases): greedy windowed Jaro matching with transpositions
  * halved, Winkler prefix boost (scale 0.1, prefix capped at 4) applied
  * only when jaro > 0.7, and 0.0 whenever either side is empty — note the
  * textbook corner jw("", "") = 1 is NOT what engines ship.
  *
  * Preference order (b) of the build brief: a scalar needs an Expression,
  * not a plan node. Codegen emits a call to the static [[JaroWinkler.sim]]
  * helper, keeping the expression inside whole-stage codegen (no UDF
  * serialization, no Row boxing) while sharing one audited implementation
  * with the interpreted path.
  */
case class JaroWinklerSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (StringType, StringType) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"jaro_winkler expects two string arguments, got ${l.sql} and ${r.sql}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaro_winkler"

  override def nullSafeEval(a: Any, b: Any): Any =
    JaroWinkler.sim(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.JaroWinkler.sim($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaroWinklerSimilarity =
    copy(left = newLeft, right = newRight)
}

object JaroWinkler {

  /** Static entry point shared by the interpreted and generated paths.
    * Operates on UTF-8 BYTES — the unit DuckDB's rapidfuzz-backed
    * `jaro_winkler_similarity` matches on (verified on non-ASCII
    * fixtures: lengths, match windows, and prefix boosts all count
    * bytes, so e.g. jw('café','cafe') = 0.8483̅ from l1=5, m=3, p=3).
    * Matching per byte also skips the per-row toString allocation the
    * previous char-based version paid in the codegen hot path.
    */
  def sim(a: UTF8String, b: UTF8String): Double = {
    val s1 = a.getBytes
    val s2 = b.getBytes
    val l1 = s1.length
    val l2 = s2.length
    if (l1 == 0 || l2 == 0) return 0.0
    val w = math.max(math.max(l1, l2) / 2 - 1, 0)
    val m1 = new Array[Boolean](l1)
    val m2 = new Array[Boolean](l2)
    var m = 0
    var i = 0
    while (i < l1) {
      val lo = math.max(0, i - w)
      val hi = math.min(l2, i + w + 1)
      var j = lo
      var done = false
      while (j < hi && !done) {
        if (!m2(j) && s1(i) == s2(j)) {
          m1(i) = true; m2(j) = true; m += 1; done = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var t = 0
    var k = 0
    i = 0
    while (i < l1) {
      if (m1(i)) {
        while (!m2(k)) k += 1
        if (s1(i) != s2(k)) t += 1
        k += 1
      }
      i += 1
    }
    val md = m.toDouble
    var jaro = (md / l1 + md / l2 + (md - t / 2) / md) / 3.0
    if (jaro > 0.7) {
      var p = 0
      val pMax = math.min(4, math.min(l1, l2))
      while (p < pMax && s1(p) == s2(p)) p += 1
      jaro += p * 0.1 * (1.0 - jaro)
    }
    jaro
  }
}
