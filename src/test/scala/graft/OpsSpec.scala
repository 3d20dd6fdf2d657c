package graft

import graft.ops.{DedupOps, TextOps, VectorOps}
import org.apache.spark.sql.functions._
import graft.functions.{bitmapDistinct, cosineSim}

/** Unit semantics for the ops layer, pinning the reference behaviors
  * SURVEY.md §5.2 calls out (tokenizer lowercases, stopword removal keeps
  * duplicates/order, IDF formula, MinHash properties, SimHash locality).
  */
class OpsSpec extends SparkSpecBase {
  import spark.implicits._

  test("tokens lowercases and splits on spaces") {
    val got = Seq("The Quick Fox").toDF("text")
      .select(TextOps.tokens(col("text")).as("t")).as[Seq[String]].head()
    assert(got == Seq("the", "quick", "fox"))
  }

  test("removeStopwords preserves duplicates and order") {
    val got = Seq("the cat the cat sat a mat").toDF("text")
      .select(TextOps.removeStopwords(TextOps.tokens(col("text")),
        TextOps.defaultStopwords).as("t"))
      .as[Seq[String]].head()
    assert(got == Seq("cat", "cat", "sat", "mat")) // dups kept, 'the'/'a' gone
  }

  test("wordShingles produces n-1 fewer shingles; short docs yield empty") {
    val df = Seq("a b c d", "a b").toDF("text")
      .select(size(TextOps.wordShingles(TextOps.tokens(col("text")), 3)).as("n"))
    assert(df.as[Int].collect().toSeq == Seq(2, 0))
  }

  test("l1norm / l2norm / dot on known vectors") {
    val df = Seq((Seq(3.0f, -4.0f), Seq(1.0f, 2.0f))).toDF("a", "b")
    val row = df.select(
      VectorOps.l1norm(col("a")).as("l1"),
      VectorOps.l2norm(col("a")).as("l2"),
      VectorOps.dot(col("a"), col("b")).as("d")).head()
    assert(row.getDouble(0) == 7.0 && row.getDouble(1) == 5.0 && row.getDouble(2) == -5.0)
  }

  test("srpBucket maps sign pattern to expected bits") {
    val df = Seq(Seq(1.0f, -1.0f, 0.5f, -0.5f)).toDF("v")
    // bits: [+,-,+,-] → 1 + 4 = 5
    assert(df.select(VectorOps.srpBucket(col("v"), 4)).as[Long].head() == 5L)
  }

  test("exactDedup keeps min id and counts copies, keyed on md5") {
    val df = Seq((1L, "x"), (2L, "x"), (3L, "y")).toDF("doc_id", "text")
    val got = DedupOps.exactDedup(df, "text", "doc_id")
      .select("key_md5", "keep_id", "n_copies")
      .orderBy("keep_id").as[(String, Long, Long)].collect().toSeq
    assert(got.map(r => (r._2, r._3)) == Seq((1L, 2L), (3L, 1L)))
    // the shuffle key is the 32-hex digest of the key, not the raw key
    assert(got.map(_._1) == Seq("x", "y").map(t =>
      java.security.MessageDigest.getInstance("MD5").digest(t.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString))
  }

  test("minhash: identical docs collide on every band, disjoint docs on none") {
    val sets = Seq(
      (1L, Seq("a b c", "b c d")),
      (2L, Seq("a b c", "b c d")), // identical shingle set to doc 1
      (3L, Seq("x y z", "y z w")), // disjoint
      (4L, Seq.empty[String])      // too short to shingle → null sigs
    ).toDF("doc_id", "shs")
    val pairs = DedupOps.candidatePairs(DedupOps.minhashSignature(sets, 4))
      .as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("shingleSets builds per-doc distinct trigram sets map-side") {
    val docs = Seq((7L, "a b c b c d a b c")).toDF("doc_id", "text")
    val got = DedupOps.shingleSets(docs, "text", 3)
      .select("shs").as[Seq[String]].head().toSet
    assert(got == Set("a b c", "b c b", "c b c", "b c d", "c d a", "d a b"))
  }

  test("jaccardForPairs computes |A∩B|/|A∪B|") {
    val sets = Seq((1L, Seq("p", "q", "r")), (2L, Seq("q", "r", "s")))
      .toDF("doc_id", "shs")
    val cand = Seq((1L, 2L)).toDF("a", "b")
    val got = DedupOps.jaccardForPairs(cand, sets).head()
    assert(got.getAs[Long]("inter_cnt") == 2L)
    assert(got.getAs[Double]("jaccard") == 0.5)
  }

  test("connectedComponents labels chains and keeps components apart") {
    // chain 1-2-3 (1,3 never share an edge) + separate pair 10-11
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val got = DedupOps.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("simhash64 is deterministic and locality-sensitive") {
    def tf(rows: (Long, String, Long)*) = rows.toDF("doc_id", "term", "tf")
    val base = Seq.tabulate(30)(i => s"tok$i")
    val a = base.map(t => (1L, t, 1L))
    val b = base.map(t => (2L, t, 1L)) // identical content
    val c = base.drop(2).map(t => (3L, t, 1L)) :+ (3L, "other1", 1L) :+ (3L, "other2", 1L)
    val d = Seq.tabulate(30)(i => (4L, s"zzz$i", 1L)) // unrelated
    val hashes = DedupOps.simhash64(tf(a ++ b ++ c ++ d: _*))
      .orderBy("doc_id").as[(Long, Long)].collect().toMap
    assert(hashes(1L) == hashes(2L))
    val near = DedupOps.hamming(lit(hashes(1L)), lit(hashes(3L)))
    val far = DedupOps.hamming(lit(hashes(1L)), lit(hashes(4L)))
    val Seq(nearD, farD) = spark.range(1).select(near, far).head().toSeq.map(_.toString.toLong)
    assert(nearD < farD, s"near=$nearD far=$farD")
    assert(nearD <= 16)
  }

  test("cosine_sim codegen expression matches the composed fold bit-for-bit") {
    val emb = spark.read.parquet(s"$sf001/embeddings.parquet").limit(50)
    val pairs = emb.select(col("vec_id"), col("embedding"))
      .crossJoin(emb.select(col("vec_id").as("v2"), col("embedding").as("e2")))
      .where(col("vec_id") < col("v2"))
    val diff = pairs.select(
      cosineSim(col("embedding"), col("e2")).as("fused"),
      (VectorOps.dot(col("embedding"), col("e2")) /
        (VectorOps.l2norm(col("embedding")) * VectorOps.l2norm(col("e2")))).as("composed"))
      .where(col("fused") =!= col("composed"))
    assert(diff.count() == 0) // exact double equality, not approximate
    // type check rejects non-float arrays
    val typeErr = intercept[org.apache.spark.sql.AnalysisException] {
      spark.range(1).select(
        cosineSim(expr("array(1.0, 2.0)"), expr("array(1.0, 2.0)"))).collect()
    }
    assert(typeErr.getMessage.contains("cosine_sim expects two array<float> arguments"))
    // ragged inputs raise instead of silently truncating (contract —
    // keeps the expression from ever diverging from a full-vector oracle)
    intercept[Exception] {
      spark.range(1).select(cosineSim(
        expr("CAST(array(1.0, 2.0) AS array<float>)"),
        expr("CAST(array(1.0) AS array<float>)"))).collect()
    }
  }

  test("bitmap_distinct merges partial BitSets across partitions correctly") {
    // 8 partitions force serialize/merge of partial buffers
    val df = spark.range(0, 1000).select((col("id") % 97).as("k"))
      .repartition(8)
    val got = df.agg(bitmapDistinct(col("k"))).head().getLong(0)
    assert(got == 97L)
    // nulls ignored; out-of-domain raises
    val withNull = Seq(Some(1L), None, Some(5L), Some(1L)).toDF("k")
    assert(withNull.agg(bitmapDistinct(col("k"))).head().getLong(0) == 2L)
    intercept[Exception] {
      Seq(-1L).toDF("k").agg(bitmapDistinct(col("k"))).collect()
    }
  }

  test("tfidf query formula matches ln((N+1)/(df+1)) on a tiny corpus") {
    // 2 docs; term 'x' in both (df=2), 'y' in one (df=1)
    val q = SparkEntry.queries("q30_tfidf")
    val dir = java.nio.file.Files.createTempDirectory("tfidf").toString
    Seq((0L, "x y", "en", "s", 3L), (1L, "x", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = q(spark, dir).where(col("doc_id") === 0).orderBy("term")
      .select("term", "tfidf").as[(String, Double)].collect().toSeq
    val expX = BigDecimal(1 * math.log(3.0 / 3.0)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val expY = BigDecimal(1 * math.log(3.0 / 2.0)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    assert(got == Seq(("x", expX.toDouble), ("y", expY.toDouble)))
  }

  test("QuantileOps exact-element cuts match the sort-based reference") {
    import graft.ops.QuantileOps
    val rnd = new scala.util.Random(7)
    // heavy ties + a near-unique group + a singleton group, small bucket
    // count so multiple values share buckets (exercises the offset path)
    val rows = (1 to 400).map(i =>
      ("a", (rnd.nextInt(12) + 1).toDouble)) ++
      (1 to 37).map(i => ("b", rnd.nextDouble() * 100)) ++
      Seq(("c", 42.0))
    val df = rows.toDF("g", "v")
    for (frac <- Seq(0.01, 0.25, 0.5, 0.99)) {
      val got = QuantileOps.exactElementQuantile(df, "v", Seq("g"), frac, buckets = 8)
        .select("g", "cut").as[(String, Double)].collect().toMap
      val expected = rows.groupBy(_._1).map { case (g, vs) =>
        val sorted = vs.map(_._2).sorted
        g -> sorted(math.ceil(frac * sorted.size).toInt - 1)
      }
      assert(got == expected, s"frac=$frac")
    }
    // global (no group) form agrees too
    val g0 = QuantileOps.exactElementQuantile(df, "v", Seq.empty, 0.5, buckets = 8)
      .select("cut").as[Double].head()
    val all = rows.map(_._2).sorted
    assert(g0 == all(math.ceil(0.5 * all.size).toInt - 1))
  }

  test("q181 water-filling allocation satisfies the budget invariants") {
    val out = SparkEntry.queries("q181_budget_alloc")(spark, sf001)
      .select("tok", "alloc", "level").as[(Long, Long, Long)].collect()
    val total = out.map(_._1).sum
    val budget = math.floor(total * 0.6).toLong
    val alloc = out.map(_._2).sum
    val level = out.head._3
    // feasible, budget-saturating up to integer rounding, and level-capped
    assert(out.forall { case (tok, a, l) => a == math.min(tok, l) })
    assert(alloc <= budget, s"allocated $alloc over budget $budget")
    assert(budget - alloc < out.length, s"left ${budget - alloc} unspent (> n-1)")
  }
}
