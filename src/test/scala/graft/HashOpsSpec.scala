package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col

import graft.ops.HashOps.{md5Bucket, md5BucketSql, md5Long, md5LongSql}

/** `graft.ops.HashOps` is the one home of the portable md5 hash: its
  * values match an independent JVM md5, and no other code under
  * src/main spells the hash out.
  */
class HashOpsSpec extends SparkSpecBase {
  import spark.implicits._

  /** The first `hexDigits` hex digits of the UTF-8 md5, read as a long. */
  private def reference(s: String, hexDigits: Int): Long = {
    val hex = MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString
    java.lang.Long.parseLong(hex.take(hexDigits), 16)
  }

  test("md5Long and md5Bucket match a JVM md5 reference, and map null to null") {
    val inputs: Seq[String] =
      Seq("", " ", "a", "é", "naïve café", "日本語のテキスト", "🙂", "x" * 1000, null) ++
        (0 until 300).map(i => s"k$i:${i * 7919L}")
    val got = inputs.toDF("s").select(col("s"), md5Long(col("s"), 10), md5Long(col("s"), 15),
        md5Bucket(col("s"), 1024), md5Bucket(col("s"), 7))
      .collect().map(r => Option(r.getString(0)) -> (1 to 4).map(i => Option(r.get(i)))).toMap
    assert(got.size == inputs.size)
    for (s <- inputs) {
      val want =
        if (s == null) Seq.fill(4)(None)
        else Seq(reference(s, 10), reference(s, 15), reference(s, 10) % 1024, reference(s, 10) % 7)
          .map(Some(_))
      assert(got(Option(s)) == want, s"input ${Option(s).map(_.take(20))}")
    }
    // the DuckDB twins render the oracle's spelling of the same hash
    assert(md5LongSql("k", 15) == "CAST(concat('0x', substr(md5(k), 1, 15)) AS BIGINT)")
    assert(md5BucketSql("k", 32) == "CAST(concat('0x', substr(md5(k), 1, 10)) AS BIGINT) % 32")
  }

  test("only HashOps spells the integer md5 hash under src/main") {
    // Two sites keep their own spelling: q176 reads a 4-digit `AS INT`
    // hash inside a SQL lambda, and q405 slices four 5-digit hashes out
    // of one md5. Each is (file, a fragment of the matching line).
    val allowed = Seq(
      "R6Queries.scala" -> "), 1, 4)",
      "R57Queries.scala" -> "${1 + i * 5}, 5)")
    val idiom = ("conv\\(\\s*substr(ing)?\\(\\s*md5\\(" +
      "|'0x'\\s*(,|\\|\\|)\\s*substr\\(\\s*md5\\(").r
    val s = Files.walk(Paths.get("src/main"))
    val files: Seq[Path] = try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    val offenders = for {
      p <- files if !p.endsWith("graft/ops/HashOps.scala")
      text = new String(Files.readAllBytes(p), UTF_8)
      m <- idiom.findAllMatchIn(text)
      line = text.linesIterator.drop(text.take(m.start).count(_ == '\n')).next()
      if !allowed.exists { case (f, frag) => p.endsWith(f) && line.contains(frag) }
    } yield s"$p: ${line.trim.take(160)}"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
