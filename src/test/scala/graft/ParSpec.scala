package graft

import org.scalatest.funsuite.AnyFunSuite

/** `graft.Par` throws a leg's failure as soon as it happens, naming the
  * leg, and keeps results in leg order however the legs finish.
  */
class ParSpec extends AnyFunSuite {

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
}
