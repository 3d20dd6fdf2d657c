package graft

import graft.ops.{DedupOps, TextOps, VectorOps}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.functions.cosineSim

/** Property tests (SURVEY.md §5.2-3) using raw ScalaCheck generators with
  * fixed seeds (no scalatest bridge in the offline cache). Each case
  * drives a literal DataFrame through the real operators — case counts
  * kept small because every case is a Spark job.
  */
class PropertySpec extends SparkSpecBase {
  import spark.implicits._

  /** Deterministic samples from a generator. */
  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  private val vecGen: Gen[List[Float]] =
    Gen.chooseNum(1, 16).flatMap(k =>
      Gen.listOfN(k, Gen.chooseNum(-10.0f, 10.0f))).suchThat(_.exists(_ != 0.0f))

  test("L1-normalized components sum to ~1 for non-zero vectors") {
    for (v <- samples(vecGen, 8)) {
      val row = Seq(Tuple1(v)).toDF("emb")
        .select(aggregate(
          transform(col("emb"), x => abs(x.cast("double"))), lit(0.0),
          (s, x) => s + x / VectorOps.l1norm(col("emb"))).as("s"))
        .head()
      assert(math.abs(row.getDouble(0) - 1.0) < 1e-9, s"v=$v")
    }
  }

  test("cosine similarity is bounded in [-1, 1] and symmetric") {
    val pairs = samples(vecGen, 8).zip(samples(vecGen, 8).reverse)
    for ((a0, b0) <- pairs) {
      val n = math.min(a0.size, b0.size)
      val (a, b) = (a0.take(n), b0.take(n))
      val Seq(ab, ba) = Seq((a, b), (b, a)).map { case (x, y) =>
        Seq((x, y)).toDF("x", "y").select(cosineSim(col("x"), col("y"))).head().getDouble(0)
      }
      assert(ab >= -1.0 - 1e-9 && ab <= 1.0 + 1e-9, s"cos=$ab")
      assert(ab == ba)
    }
  }

  test("exact dedup is idempotent: dedup of dedup keys changes nothing") {
    for (ts <- samples(Gen.listOfN(12, Gen.oneOf("x", "y", "z", "w")), 6)) {
      val df = ts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val once = DedupOps.exactDedup(df, "text", "doc_id")
      // the hashed-key output drops the raw key by design; the survivor
      // rows (join-back on keep_id) carry it for the second pass
      val survivors = df.join(
        once.select(col("keep_id").as("doc_id")), "doc_id")
      val twice = DedupOps.exactDedup(survivors, "text", "doc_id")
      assert(once.count() == twice.count())
    }
  }

  test("bucketize ladder partitions: bucket counts sum to row count") {
    for (vs <- samples(Gen.listOfN(20, Gen.chooseNum(-100.0, 100.0)), 6)) {
      val df = vs.toDF("v")
        .withColumn("b", when(col("v") < -50, 0).when(col("v") < 0, 1)
          .when(col("v") < 50, 2).otherwise(3))
      assert(df.groupBy("b").count().agg(sum("count")).head().getLong(0) == vs.size)
    }
  }

  test("connectedComponents matches a plain-Scala union-find on random graphs") {
    val edgeGen: Gen[List[(Long, Long)]] =
      Gen.chooseNum(1, 12).flatMap(m => Gen.listOfN(m,
        for {
          a <- Gen.chooseNum(0L, 14L)
          b <- Gen.chooseNum(0L, 14L) if a != b
        } yield (math.min(a, b), math.max(a, b))))
    for (edges <- samples(edgeGen, 5) if edges.nonEmpty) {
      // reference: union-find over the same edges
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = parent.keys.map(n => n -> find(n)).toMap
      val got = DedupOps.connectedComponents(edges.toDF("a", "b"))
        .as[(Long, Long)].collect().toMap
      assert(got == expected, s"edges=$edges")
    }
  }

  test("shingleRows and shingleSets agree on random documents") {
    val docGen = Gen.listOfN(8, Gen.chooseNum(0, 9)).map(_.map(i => s"w$i").mkString(" "))
    for ((texts, i) <- samples(Gen.listOfN(4, docGen), 4).zipWithIndex) {
      val docs = texts.zipWithIndex
        .map { case (t, ix) => (ix.toLong + i * 100, t) }.toDF("doc_id", "text")
      val viaSets = DedupOps.shingleSets(docs, "text", 3)
        .as[(Long, Seq[String])].collect()
        .map { case (id, shs) => id -> shs.toSet }.toMap
      val viaRows = DedupOps.shingleRows(docs, "text", 3)
        .as[(Long, String)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      // rows drop shingle-less docs; sets keep them as empty arrays
      assert(viaSets.filter(_._2.nonEmpty) == viaRows, s"texts=$texts")
    }
  }

  test("saltedJoin returns exactly the plain join's rows on random data") {
    val factGen = Gen.listOfN(20, for {
      id <- Gen.chooseNum(0L, 99L); k <- Gen.chooseNum(0L, 4L)
    } yield (id, k))
    for ((fact, i) <- samples(factGen, 4).zipWithIndex) {
      val f = fact.zipWithIndex.map { case ((_, k), ix) => (ix.toLong + i * 1000, k) }
        .toDF("row_id", "k")
      val dim = Seq((0L, "a"), (1L, "b"), (2L, "c"), (4L, "e")).toDF("k", "attr")
      val salted = graft.ops.SkewOps.saltedJoin(f, dim, "k", col("row_id"), 4)
        .select("row_id", "k", "attr").as[(Long, Long, String)].collect().toSet
      val plain = f.join(dim, "k").select("row_id", "k", "attr")
        .as[(Long, Long, String)].collect().toSet
      assert(salted == plain)
    }
  }

  test("bloomSemiJoin equals the exact left-semi join on random data") {
    val keysGen = Gen.listOfN(15, Gen.chooseNum(0L, 30L))
    for (ks <- samples(keysGen, 4)) {
      val fact = (0L to 40L).map(i => (i, i % 7)).toDF("fk", "payload")
      val build = ks.distinct.toDF("bk")
      val viaBloom = graft.ops.JoinOps.bloomSemiJoin(fact, build, "fk", "bk", 0.3)
        .select("fk").as[Long].collect().toSet
      val exact = fact.join(build, col("fk") === col("bk"), "left_semi")
        .select("fk").as[Long].collect().toSet
      assert(viaBloom == exact, s"keys=$ks")
    }
  }

  test("asofJoin matches the brute-force latest-at-or-before on random events") {
    val evGen = Gen.listOfN(12, for {
      u <- Gen.chooseNum(1L, 3L); t <- Gen.chooseNum(0L, 50L)
    } yield (u, t))
    for ((evs, i) <- samples(evGen, 4).zipWithIndex) {
      val lefts = evs.take(6).zipWithIndex.map { case ((u, t0), ix) =>
        (u, new java.sql.Timestamp(t0 * 1000), ix.toLong + 100) }
      val rights = evs.drop(6).zipWithIndex.map { case ((u, t0), ix) =>
        (u, new java.sql.Timestamp(t0 * 1000), ix.toLong + 200) }
      // dedup rights per (key, ts) — the operator's documented contract
      val rightsDd = rights.groupBy(r => (r._1, r._2)).map(_._2.maxBy(_._3)).toSeq
      val l = lefts.toDF("k", "t", "lid")
      val r = rightsDd.toDF("k", "t", "rid")
      val got = graft.ops.JoinOps.asofJoin(l, r, "k", "t", "t", "lid", "rid")
        .select("lid", "rid").as[(Long, Long)].collect().toMap
      val expected = lefts.flatMap { case (u, t0, lid) =>
        val cands = rightsDd.filter(rr => rr._1 == u && !rr._2.after(t0))
        if (cands.isEmpty) None
        else Some(lid -> cands.maxBy(rr => (rr._2.getTime, rr._3))._3)
      }.toMap
      assert(got == expected, s"iter=$i lefts=$lefts rights=$rightsDd")
    }
  }

  test("asofJoinWithin keeps every left row; matches iff within tolerance") {
    val evGen = Gen.listOfN(12, for {
      u <- Gen.chooseNum(1L, 3L); t <- Gen.chooseNum(0L, 50L)
    } yield (u, t))
    val tol = 10L
    for ((evs, i) <- samples(evGen, 4).zipWithIndex) {
      // sub-second offsets exercise the EXACT-interval contract: a
      // floored-epoch implementation admits rows up to 1s outside the
      // window and fails here
      val lefts = evs.take(6).zipWithIndex.map { case ((u, t0), ix) =>
        (u, new java.sql.Timestamp(t0 * 1000 + (ix % 3) * 400), ix.toLong + 100) }
      val rights = evs.drop(6).zipWithIndex.map { case ((u, t0), ix) =>
        (u, new java.sql.Timestamp(t0 * 1000 + (ix % 2) * 700), ix.toLong + 200) }
      val rightsDd = rights.groupBy(r => (r._1, r._2)).map(_._2.maxBy(_._3)).toSeq
      val l = lefts.toDF("k", "t", "lid")
      val r = rightsDd.toDF("k", "t", "rid")
      val got = graft.ops.JoinOps
        .asofJoinWithin(l, r, "k", "t", "t", "lid", "rid", tol)
        .select("lid", "rid").collect()
        .map(row => row.getLong(0) ->
          (if (row.isNullAt(1)) None else Some(row.getLong(1)))).toMap
      val expected = lefts.map { case (u, t0, lid) =>
        val cands = rightsDd.filter(rr => rr._1 == u && !rr._2.after(t0) &&
          (t0.getTime - rr._2.getTime) <= tol * 1000)
        lid -> cands.sortBy(rr => (rr._2.getTime, rr._3)).lastOption.map(_._3)
      }.toMap
      assert(got == expected, s"iter=$i lefts=$lefts rights=$rightsDd")
      assert(got.size == lefts.size, s"iter=$i dropped a left row")
    }
  }

  test("stopword removal never increases token count; removed ⊆ stoplist") {
    for (ws <- samples(Gen.listOfN(15, Gen.oneOf("the", "a", "cat", "dog", "runs")), 6)) {
      val text = ws.mkString(" ")
      val row = Seq(text).toDF("text").select(
        size(TextOps.tokens(col("text"))).as("n"),
        size(TextOps.removeStopwords(TextOps.tokens(col("text")),
          TextOps.defaultStopwords)).as("k")).head()
      val (n, k) = (row.getInt(0), row.getInt(1))
      val expected = ws.count(w => !TextOps.defaultStopwords.contains(w))
      assert(k == expected && k <= n, s"ws=$ws")
    }
  }

  test("hub cap is a no-op on bounded-degree graphs; binds hot parts deterministically") {
    import graft.queries.R4Queries
    val psGen = Gen.listOfN(30, for {
      p <- Gen.chooseNum(0L, 7L); s <- Gen.chooseNum(0L, 9L)
    } yield (p, s))
    for (pairs <- samples(psGen, 4)) {
      val ps = pairs.distinct.toDF("p", "s")
      // fan-out here is <= 10 per part; any cap >= 10 must change nothing
      val capped = R4Queries.cappedPartSuppliers(ps, 10)
        .as[(Long, Long)].collect().toSet
      assert(capped == pairs.distinct.toSet, s"cap mutated a bounded graph")
      // a binding cap keeps exactly the `cap` LOWEST supplier ids per part
      val cap = 3
      val tight = R4Queries.cappedPartSuppliers(ps, cap)
        .as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet)
      val expected = pairs.distinct.groupBy(_._1).view
        .mapValues(_.map(_._2).sorted.take(cap).toSet)
      assert(tight.toMap == expected.toMap, s"pairs=$pairs")
    }
    // the production constant must cover this corpus's real fan-out bound
    assert(R4Queries.HubCap >= 100)
  }

  test("chunking covers every token exactly and never emits a subset chunk") {
    // pins q170's contract: chunk count = 1 + ceil(max(0, n-W)/S), every
    // token lands in >= 1 chunk, and no chunk's token range is contained
    // in another's (the naive start-position loop violated the latter)
    val (w, s) = (40, 30)
    for (n <- Seq(1, 29, 30, 31, 39, 40, 41, 70, 71, 99, 100, 101, 130)) {
      val kMax = math.ceil(math.max(0, n - w) / s.toDouble).toInt
      val ranges = (0 to kMax).map { k =>
        val p = k * s + 1
        (p, math.min(p + w - 1, n))
      }
      assert(ranges.head._1 == 1 && ranges.last._2 == n, s"n=$n not covered")
      for (Seq((a1, b1), (a2, b2)) <- ranges.sliding(2) if ranges.size > 1) {
        assert(a2 > a1 && b2 >= b1, s"n=$n chunk ($a2,$b2) ⊆ ($a1,$b1)")
        assert(a2 <= b1 + 1, s"n=$n gap between ($a1,$b1) and ($a2,$b2)")
      }
    }
    // and the registered query agrees with the formula on the real corpus
    val got = SparkEntry.queries("q170_chunk_overlap")(spark, sf001)
      .groupBy("doc_id").count().as[(Long, Long)].collect().toMap
    val expected = Tables.load(spark, sf001, "documents")
      .select(col("doc_id"), size(graft.ops.TextOps.tokens(col("text"))).as("n"))
      .as[(Long, Int)].collect().toMap
      .map { case (id, n) => id -> (1L + math.ceil(math.max(0, n - w) / s.toDouble).toLong) }
    assert(got == expected)
  }

  /** Pure-Scala reference of q176's CDC rule: boundary at 1-based token
    * position p >= 4 iff int(md5(window p-3..p hex[0:4]), 16) % 16 == 0;
    * chunks are the segments between boundaries (last chunk to n).
    */
  private def cdcChunks(toks: Vector[String]): Vector[Vector[String]] = {
    def h(sr: String): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
      Integer.parseInt(md.digest(sr.getBytes("UTF-8"))
        .take(2).map("%02x".format(_)).mkString, 16) % 16
    }
    val bounds = (4 to toks.size)
      .filter(p => h(toks.slice(p - 4, p).mkString(" ")) == 0).toVector :+ toks.size
    bounds.distinct.foldLeft((0, Vector.empty[Vector[String]])) {
      case ((start, acc), b) => (b, acc :+ toks.slice(start, b))
    }._2.filter(_.nonEmpty)
  }

  test("CDC chunk boundaries are edit-stable: chunks after the edit survive") {
    val tokGen = Gen.listOfN(120, Gen.oneOf("aa", "bb", "cc", "dd", "ee", "ff", "gg"))
    for ((ts, i) <- samples(tokGen, 6).zipWithIndex) {
      val toks = ts.toVector
      val m = 20 + i * 7 // insert position (1-based: new token becomes pos m)
      val edited = (toks.take(m - 1) :+ "zz") ++ toks.drop(m - 1)
      val c1 = cdcChunks(toks)
      val c2 = cdcChunks(edited)
      // chunks of the ORIGINAL starting at 1-based pos >= m+4 must all
      // reappear (the fixed-stride layout of q170 would shift every one)
      val starts = c1.scanLeft(1)((p, c) => p + c.size)
      val mustSurvive = c1.zip(starts).collect { case (c, st) if st >= m + 4 => c }
      val common = c1.reverse.zip(c2.reverse).takeWhile { case (a, b) => a == b }.size
      assert(common >= mustSurvive.size,
        s"iter=$i: only $common common suffix chunks, need ${mustSurvive.size}")
    }
  }

  test("q176 CDC chunking matches the pure-Scala reference on the corpus") {
    val got = SparkEntry.queries("q176_cdc_chunk")(spark, sf001)
      .select("doc_id", "chunk_idx", "chunk_md5")
      .as[(Long, Long, String)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toVector).toMap
    val md = java.security.MessageDigest.getInstance("MD5")
    def md5hex(sr: String): String =
      md.digest(sr.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expected = Tables.load(spark, sf001, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
      .map { case (id, text) =>
        id -> cdcChunks(text.toLowerCase.split(" ", -1).toVector)
          .map(c => md5hex(c.mkString(" ")))
      }.toMap
    assert(got == expected)
  }

  test("prefix-filter candidates are COMPLETE: every Jaccard>=t pair survives") {
    val t = 0.5
    val docGen = Gen.listOfN(10, Gen.oneOf("a", "b", "c", "d", "e", "f"))
    for (i <- 0 until 3) {
      // base docs + near-dup mutations of the first few, so the truth set
      // is non-trivial at threshold t
      val base = samples(docGen, 10).map(_.mkString(" "))
      val mutated = base.take(4).map(s => s + " e")
      val docs = (base ++ mutated).toVector
      val df = docs.zipWithIndex.map { case (s, j) => (j.toLong, s) }.toDF("doc_id", "text")
      val cand = DedupOps
        .prefixFilterCandidates(DedupOps.shingleRows(df, "text", 3), t)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val sets = docs.map(_.toLowerCase.split(" ").toSeq
        .sliding(3).filter(_.size == 3).map(_.mkString(" ")).toSet)
      val truth = (for {
        a <- sets.indices; b <- (a + 1) until sets.size
        if sets(a).nonEmpty && sets(b).nonEmpty
        inter = (sets(a) & sets(b)).size
        if inter.toDouble / (sets(a).size + sets(b).size - inter) >= t
      } yield (a.toLong, b.toLong)).toSet
      assert(truth.nonEmpty, s"iter=$i: degenerate corpus, no true pairs")
      assert(truth.subsetOf(cand), s"iter=$i missing=${truth -- cand}")
    }
  }

  // ---- QuantileOps adversarial cases (VERDICT r4 #7): the degenerate
  // distributions of the two-level bucket-offset scheme. The mn==mx
  // collapse is handled explicitly in the code; these prove the REST —
  // every case asserts exact-element agreement (cut = ceil(frac·n)-th
  // smallest, the sorted-local oracle) per group, never interpolation.

  /** Sorted-local exact-element oracle: the ceil(frac·n)-th smallest. */
  private def localCut(vs: Seq[Double], frac: Double): Double =
    vs.sorted.apply(math.ceil(vs.size * frac).toInt.max(1) - 1)

  private def checkQuantiles(rows: Seq[(String, Double)], fracs: Seq[Double],
      buckets: Int, tag: String): Unit = {
    val got = graft.ops.QuantileOps
      .exactElementQuantiles(rows.toDF("g", "v"), "v", Seq("g"), fracs, buckets)
      .collect().map(r => r.getString(0) ->
        fracs.indices.map(i => r.getDouble(r.fieldIndex(s"cut_${i + 1}")))).toMap
    val byG = rows.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    for ((g, vs) <- byG; (f, i) <- fracs.zipWithIndex)
      assert(got(g)(i) == localCut(vs, f),
        s"$tag g=$g frac=$f: got ${got(g)(i)}, want ${localCut(vs, f)} of ${vs.sorted}")
  }

  test("quantiles: all-equal values (every bucket empty but one) hit the single element") {
    val rows = (1 to 37).map(_ => ("a", 5.5)) ++ (1 to 3).map(_ => ("b", -2.0))
    checkQuantiles(rows, Seq(0.01, 0.5, 0.99), buckets = 16, tag = "all-equal")
  }

  test("quantiles: two-point distributions respect the exact rank boundary") {
    // 9 lows + 1 high: p90 must be the 9th element (low), p91+ the high —
    // an interpolating implementation would fabricate a value between
    for (hi <- Seq(1.0, 1e9, 1.0000001)) {
      val rows = (1 to 9).map(_ => ("a", 0.0)) ++ Seq(("a", hi)) ++
        // second group with the opposite mix, same keys — exercises
        // per-group min/max isolation
        (1 to 2).map(_ => ("b", hi)) ++ Seq(("b", 0.0))
      checkQuantiles(rows, Seq(0.5, 0.9, 0.91, 1.0), buckets = 8, tag = s"two-point hi=$hi")
    }
  }

  test("quantiles: all values in ONE interior bucket (offset level degenerate)") {
    // min 0 and max 1000 pin the range; everything else clusters in
    // [500, 500.1] — with 8 buckets the cluster lands in a single bucket
    // and the within-bucket window must produce every rank alone
    val cluster = (0 until 20).map(i => ("a", 500.0 + i * 0.005))
    val rows = Seq(("a", 0.0), ("a", 1000.0)) ++ cluster
    checkQuantiles(rows, Seq(0.05, 0.5, 0.95, 1.0), buckets = 8, tag = "one-bucket")
  }

  test("quantiles: duplicates straddling a bucket edge keep multiplicity-correct ranks") {
    // value 500.0 repeated lands exactly on the bucket-4-of-8 edge of
    // [0,1000]; duplicates must count once per OCCURRENCE in the rank
    // (the distinct-value pre-agg carries __c), not once per value
    val rows = (1 to 5).map(_ => ("a", 500.0)) ++
      Seq(("a", 0.0), ("a", 1000.0), ("a", 499.999), ("a", 500.001))
    checkQuantiles(rows, Seq(0.25, 0.5, 0.75), buckets = 8, tag = "edge-dups")
  }

  test("quantiles: random groups agree with the sorted-local oracle (property sweep)") {
    val gen = Gen.listOfN(30, Gen.zip(Gen.oneOf("a", "b", "c"),
      Gen.oneOf(Gen.chooseNum(-100.0, 100.0), Gen.oneOf(0.0, 1.0, -1.0))))
    for (rows <- samples(gen, 4))
      checkQuantiles(rows, Seq(0.1, 0.5, 0.9), buckets = 16, tag = "random")
  }
}
