package graft

import java.nio.file.{Files, Path, Paths}

import scala.concurrent.{Await, Promise}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Try}

import org.apache.spark.{SparkException, TaskContext}

/** `graft.Par` throws a leg's failure as soon as it happens, naming the
  * leg, cancels its siblings' Spark jobs, and keeps results in leg order
  * however the legs finish. Every call under src/main states what it
  * measurably saves.
  */
class ParSpec extends SparkSpecBase {

  private def slowLeg(): Int = { Thread.sleep(20000); 1 }
  private def failingLeg(): Int = throw new IllegalStateException("boom")

  private def failsFast(leg: String)(run: => Any): Unit = {
    val t0 = System.nanoTime()
    val e = intercept[RuntimeException](run)
    val s = (System.nanoTime() - t0) / 1e9
    assert(s < 5, s"Par waited $s s for a slow leg before reporting a failed one")
    assert(e.getMessage == s"Par leg $leg failed: boom", e.getMessage)
    assert(e.getCause.isInstanceOf[IllegalStateException])
  }

  test("a failing leg is thrown at once, named, while an earlier leg still runs") {
    failsFast("2/2")(Par(() => slowLeg(), () => failingLeg()))
    failsFast("2/2")(Par.par2(slowLeg(), failingLeg()))
    failsFast("2/3")(Par.par3(slowLeg(), failingLeg(), 3))
  }

  test("results keep leg order when legs finish out of order") {
    def slow[A](ms: Long, a: A): A = { Thread.sleep(ms); a }
    assert(Par(() => slow(400, 1), () => slow(200, 2), () => 3) == Seq(1, 2, 3))
    assert(Par.par2(slow(300, "a"), 2L) == (("a", 2L)))
    assert(Par.par3(slow(300, 1), slow(150, "b"), 3.0) == ((1, "b", 3.0)))
  }

  test("a failing leg cancels a sibling leg's running Spark job") {
    val sc = spark.sparkContext
    val sibling = Promise[Long]()
    def busy(): Long = {
      sibling.complete(Try(sc.parallelize(1 to 4, 4).map(ParSpec.runUntilKilled).count()))
      0L
    }
    def failOnceBusy(): Long = {
      val t0 = System.nanoTime()
      while (sc.statusTracker.getActiveJobIds().isEmpty && System.nanoTime() - t0 < 20e9)
        Thread.sleep(20)
      throw new IllegalStateException("boom")
    }
    try {
      intercept[RuntimeException](Par(() => busy(), () => failOnceBusy()))
      Try(Await.result(sibling.future, 15.seconds)) match {
        case Failure(e: SparkException) =>
          assert(e.getMessage.contains("Par leg 2/2 failed"), e.getMessage)
        case other => fail(s"the sibling job was not cancelled by Par: $other")
      }
    } finally sc.cancelAllJobs()
  }

  test("every graft.Par call under src/main has a `Par pays:` line above it") {
    val call = """(?:\bgraft\.|(?<![\w.]))Par(?:\.par[23])?\(""".r
    val s = Files.walk(Paths.get("src/main"))
    val files: Seq[Path] = try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    val sites = for {
      p <- files
      lines = Files.readAllLines(p).asScala.toIndexedSeq
      (line, i) <- lines.zipWithIndex
      code = line.trim if !code.startsWith("//") && !code.startsWith("*")
      if call.findFirstIn(code).isDefined
    } yield (s"$p:${i + 1}", i > 0 && lines(i - 1).contains("Par pays:"))
    val bare = sites.collect { case (at, false) => at }
    assert(sites.nonEmpty, "no graft.Par call found: is the scan rooted at the repo?")
    assert(bare.isEmpty, s"graft.Par calls without a `// Par pays:` reason:\n${bare.mkString("\n")}")
  }
}

object ParSpec {
  /** A task that runs for 30 s unless its job is cancelled. */
  def runUntilKilled(x: Int): Int = {
    val tc = TaskContext.get()
    val t0 = System.nanoTime()
    while (!tc.isInterrupted() && System.nanoTime() - t0 < 30e9) Thread.sleep(20)
    x
  }
}
