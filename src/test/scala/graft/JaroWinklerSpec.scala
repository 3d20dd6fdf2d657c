package graft

import graft.functions.{JaroWinkler, jaroWinkler}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Pins the jaro_winkler expression to the engine-standard semantics its
  * oracle (DuckDB's jaro_winkler_similarity) implements. Expected values
  * below are DuckDB outputs, exact to the ulp — the similarity must be
  * bit-identical for q177's rounded compare to hold at every threshold.
  */
class JaroWinklerSpec extends SparkSpecBase {
  import spark.implicits._

  private def u(s: String): UTF8String = UTF8String.fromString(s)

  // (a, b, DuckDB jaro_winkler_similarity(a, b)) — exact doubles
  private val pinned = Seq(
    ("MARTHA", "MARHTA", 0.9611111111111111), // classic transposition case
    ("DIXON", "DICKSONX", 0.8133333333333332),
    ("DWAYNE", "DUANE", 0.8400000000000001),
    ("JONES", "JOHNSON", 0.8323809523809523),
    ("CRATE", "TRACE", 0.7333333333333334), // below boost threshold: no prefix bonus
    ("abc", "abc", 1.0),
    ("a", "", 0.0), // either-empty => 0, including...
    ("", "x", 0.0),
    ("", "", 0.0), // ...BOTH empty (textbook says 1; engines ship 0)
    ("ab", "ba", 0.0)) // window w=0: no matches despite shared chars

  test("static helper matches DuckDB bit-for-bit on pinned cases") {
    for ((a, b, expected) <- pinned)
      assert(JaroWinkler.sim(u(a), u(b)) == expected, s"($a, $b)")
  }

  // DuckDB (rapidfuzz) matches UTF-8 BYTES, not characters: 'café' is a
  // 5-byte string whose accent contributes two unmatched bytes. A
  // char-based implementation scores these differently (e.g. café/cafe:
  // chars → l1=4, bytes → l1=5), so this fixture pins the byte contract —
  // the ADVICE-flagged latent divergence on any non-ASCII corpus.
  private val pinnedNonAscii = Seq(
    ("café", "cafe", 0.8483333333333334),
    ("über", "uber", 0.7833333333333333),
    ("naïve", "naive", 0.8577777777777779),
    ("日本語テキスト", "日本語テスト", 0.9603174603174603),
    ("résumé", "resume", 0.75),
    ("Müller", "Mueller", 0.8285714285714287),
    ("日本", "にほん", 0.0), // disjoint byte sets despite CJK neighborhood
    ("straße", "strasse", 0.885714285714286), // ß = 2 bytes vs ss = 2 bytes
    ("数据库", "数据分析", 0.872222222222222), // 9-byte vs 12-byte CJK
    ("αβγδε", "αβγδ", 0.96))

  test("non-ASCII inputs match DuckDB's UTF-8 byte semantics") {
    for ((a, b, expected) <- pinnedNonAscii)
      assert(math.abs(JaroWinkler.sim(u(a), u(b)) - expected) < 1e-12, s"($a, $b)")
  }

  test("codegen path agrees with the static helper and handles nulls") {
    val df = pinned.map { case (a, b, _) => (a, b) }.toDF("a", "b")
    val got = df.select(jaroWinkler(col("a"), col("b"))).as[Double].collect()
    assert(got.toSeq == pinned.map(_._3), "codegen diverged from helper")
    val withNull = Seq((Some("abc"), None: Option[String])).toDF("a", "b")
      .select(jaroWinkler(col("a"), col("b"))).collect()
    assert(withNull.head.isNullAt(0), "null input must yield null")
  }

  test("similarity is symmetric and bounded on random-ish name pairs") {
    val names = (1 to 40).map(i => s"Customer#${"%09d".format(i * 37 % 500)}")
    val pairs = names.zip(names.reverse)
    for ((a, b) <- pairs) {
      val s1 = JaroWinkler.sim(u(a), u(b))
      val s2 = JaroWinkler.sim(u(b), u(a))
      assert(s1 == s2, s"asymmetric on ($a, $b)")
      assert(s1 >= 0.0 && s1 <= 1.0, s"out of range on ($a, $b): $s1")
    }
    assert(JaroWinkler.sim(u("Customer#000000001"), u("Customer#000000001")) == 1.0)
  }

  test("type check rejects non-string inputs") {
    val err = intercept[Exception] {
      Seq((1, 2)).toDF("a", "b").select(jaroWinkler(col("a"), col("b"))).collect()
    }
    assert(err.getMessage.toLowerCase.contains("string") ||
      err.getMessage.contains("jaro_winkler"))
  }
}
