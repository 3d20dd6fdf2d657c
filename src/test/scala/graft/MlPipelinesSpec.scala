package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Random

import graft.ml.ReferencePipelines

/** End-to-end ports of the reference's four programs (SURVEY.md §5.2-4):
  * run each seeded pipeline against the reference's own CSV (read-only
  * from the snapshot) or a synthesized fixture where the blob is missing
  * or the snapshot is absent, asserting shapes and metric ranges — not
  * Spark-2.3-exact values.
  */
class MlPipelinesSpec extends SparkSpecBase {
  import MlPipelinesSpec._

  private val refData = "/root/reference/src/main/resources/data"

  /** The reference CSV `rel`, or, without the snapshot, `fixture`'s lines
    * written to a temporary file of the same name. */
  private def csv(rel: String)(fixture: => Seq[String]): String = {
    val ref = Paths.get(s"$refData/$rel")
    if (Files.exists(ref)) ref.toString
    else {
      val f = Files.createTempDirectory("fixture").resolve(ref.getFileName)
      Files.write(f, fixture.asJava).toString
    }
  }

  test("medicalCharges: cleaning drops junk rows; aggs and corr behave") {
    val r = ReferencePipelines.medicalCharges(spark,
      csv("datapreparation/medical_charges.csv")(medicalChargesFixture))
    // 1338 raw rows; 13 junk numeric values spread over ≤13 rows (FIXTURES.md A1)
    val n = r.cleaned.count()
    assert(n >= 1325 && n < 1338, s"cleaned=$n")
    assert(r.bucketAgg.count() == 5) // age splits → 5 buckets
    val regions = r.regionAgg.collect()
    assert(regions.length == 4 && regions.forall(_.getAs[String]("smoker") == "yes"))
    // smoker_idx correlates with charges far more than region_idx does
    assert(math.abs(r.correlations("smoker_idx")) > 0.5)
    assert(r.correlations.values.forall(v => v >= -1.0 && v <= 1.0))
    assert(r.assembled.schema.fieldNames.contains("features"))
  }

  test("knowledgeRf: 4-class forest with confusion matrix and plausible f1") {
    val r = ReferencePipelines.knowledgeRf(spark,
      csv("classification/user_know_modeling_dataset_train.csv")(userKnowledgeFixture))
    assert(r.labelHistogram.count() == 4) // High/Low/Middle/very_low
    assert(r.f1 > 0.6, s"f1=${r.f1}")
    val cm = r.confusion.collect()
    assert(cm.map(_.getAs[Long]("count")).sum > 80) // ~30% of 402 rows
  }

  test("spam: 7-stage pipeline trains RF and DT with accuracy >> majority-class") {
    val r = ReferencePipelines.spam(spark, csv("classification/spam.csv")(spamFixture))
    assert(r.accuracyRf > 0.8, s"rf=${r.accuracyRf}")
    assert(r.accuracyDt > 0.8, s"dt=${r.accuracyDt}")
    assert(r.predictionsRf.columns.contains("predictedLabel"))
  }

  test("hotelTfIdf: synthesized fixture (blob missing upstream) regresses reviewer score") {
    // schema per TfIdfCalculator.java:38-45 (FIXTURES.md A4)
    val rnd = new scala.util.Random(7)
    val nats = Seq("UK", "USA", "France", "Germany")
    val pos = Seq("great lovely room and the staff were kind",
      "good breakfast a very clean hotel", "excellent stay wonderful view of the sea")
    val neg = Seq("the wifi was slow and the room was small",
      "noisy street a bit dirty", "no complaints at all really")
    val rows = (1 to 200).map { i =>
      val score = 2.5 + rnd.nextDouble() * 7.5
      (pos(i % 3), s"Hotel ${i % 10}", neg(i % 3), nats(i % 4),
        math.rint(score * 10) / 10, 7.5)
    }
    import spark.implicits._
    val dir = Files.createTempDirectory("hotel").toString
    rows.toDF("Positive Review", "Hotel Name", "Negative Review",
        "Nationality", "Reviewer Score", "Average Score")
      .coalesce(1).write.mode("overwrite").option("header", true).csv(dir)
    val r = ReferencePipelines.hotelTfIdf(spark, dir)
    assert(r.featurized.schema.fieldNames.contains("features"))
    assert(r.rmse > 0 && r.rmse < 5, s"rmse=${r.rmse}") // scores span 2.5-10
  }
}

/** Fixtures for the reference CSVs, built from the statistics FIXTURES.md
  * measured on them (A1–A3): the columns, the junk values and the class
  * counts, exactly; numeric values uniform over the measured ranges. No
  * relation between columns is planted: FIXTURES.md measured none.
  */
object MlPipelinesSpec {

  /** Each value repeated its count times, in a seeded random order. */
  private def classes[T](rnd: Random, counts: (T, Int)*): Seq[T] =
    rnd.shuffle(counts.flatMap { case (v, n) => Seq.fill(n)(v) })

  /** `n` 2-decimal values uniform over [lo, hi], both ends present. */
  private def spread(rnd: Random, n: Int, lo: Double, hi: Double): Seq[String] =
    rnd.shuffle(Seq(lo, hi) ++ Seq.fill(n - 2)(lo + rnd.nextDouble() * (hi - lo)))
      .map(v => BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP).toString)

  /** A1: 1338 rows; 13 junk numeric values, each on its own row. */
  def medicalChargesFixture: Seq[String] = {
    val (n, rnd) = (1338, new Random(1))
    val age = rnd.shuffle(Seq(18, 64) ++ Seq.fill(n - 2)(18 + rnd.nextInt(47))).map(_.toString)
    val cols = Array(age.toArray,
      classes(rnd, "male" -> 676, "female" -> 662).toArray,
      spread(rnd, n, 15.96, 53.13).toArray,
      classes(rnd, 0 -> 574, 1 -> 324, 2 -> 240, 3 -> 157, 4 -> 25, 5 -> 18).map(_.toString).toArray,
      classes(rnd, "no" -> 1064, "yes" -> 274).toArray,
      classes(rnd, "northeast" -> 324, "northwest" -> 325, "southeast" -> 364,
        "southwest" -> 325).toArray,
      spread(rnd, n, 1121.87, 63770.43).toArray)
    val junk = Seq(0 -> "*x#", 0 -> "cfxgvhk", 0 -> "##", 0 -> "",
      2 -> "NULL", 2 -> "xxbusi", 2 -> "", 2 -> "",
      6 -> "###x%", 6 -> "Y&$%", 6 -> "", 6 -> "", 6 -> "")
    rnd.shuffle((0 until n).toVector).zip(junk).foreach { case (row, (c, v)) => cols(c)(row) = v }
    "age,sex,bmi,children,smoker,region,charges" +:
      (0 until n).map(i => cols.map(_(i)).mkString(","))
  }

  /** A2: 402 clean rows, five scores in [0, 0.99] and the SKL label. */
  def userKnowledgeFixture: Seq[String] = {
    val (n, rnd) = (402, new Random(2))
    val scores = Seq((0.0, 0.99), (0.0, 0.9), (0.01, 0.99), (0.0, 0.99), (0.0, 0.99))
      .map { case (lo, hi) => spread(rnd, n, lo, hi) }
    val skl = classes(rnd, "High" -> 102, "Low" -> 129, "Middle" -> 122, "very_low" -> 49)
    "SST,SRT,SAT,SAP,SEP,SKL" +: (0 until n).map(i => (scores.map(_(i)) :+ skl(i)).mkString(","))
  }

  /** A3: 5434 rows under the ragged `v1,v2,,,` header; some messages are
    * quoted and hold a comma, a few rows fill the unnamed columns, and 41
    * rows have an empty label. Both labels draw from one vocabulary. */
  def spamFixture: Seq[String] = {
    val rnd = new Random(3)
    val vocab = Seq("ok", "call", "me", "later", "text", "now", "see", "you", "at", "home",
      "the", "a", "reply", "today", "going", "to", "be", "late", "new", "got", "it",
      "thanks", "tomorrow", "send", "number", "i", "will", "can", "not", "what")
    def msg = Seq.fill(3 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    "v1,v2,,," +: classes(rnd, "ham" -> 4694, "spam" -> 699, "" -> 41).map { label =>
      val text = if (rnd.nextInt(5) == 0) s"\"$msg, $msg\"" else msg
      val tail = if (rnd.nextInt(50) == 0) s"$msg,," else ",,"
      s"$label,$text,$tail"
    }
  }
}
