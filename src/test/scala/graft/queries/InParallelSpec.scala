package graft.queries

import java.util.concurrent.atomic.AtomicBoolean
import org.scalatest.funsuite.AnyFunSuite

/** [[Pipeline.inParallel]]'s failure contract: the first failure cancels
  * its siblings and rethrows with the other real failures suppressed. */
class InParallelSpec extends AnyFunSuite {

  test("results come back in input order") {
    assert(Pipeline.inParallel(Seq(3, 1, 2)) { i =>
      Thread.sleep(20L * i); i * 10
    } == Seq(30, 10, 20))
  }

  test("the first failure interrupts a slow sibling instead of waiting " +
      "for it") {
    val interrupted = new AtomicBoolean(false)
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException] {
      Pipeline.inParallel(Seq("fail", "slow")) {
        case "slow" =>
          try Thread.sleep(60000L)
          catch {
            case ie: InterruptedException =>
              interrupted.set(true); throw ie
          }
          "slow done"
        case _ => throw new IllegalStateException("boom")
      }
    }
    val took = (System.nanoTime() - t0) / 1e9
    assert(e.getMessage == "boom")
    assert(interrupted.get, "the slow sibling was never interrupted")
    assert(took < 30.0, s"inParallel waited $took s for the slow sibling")
    assert(e.getSuppressed.isEmpty,
      "the interrupt the cancel caused is not a failure")
  }

  test("every other sibling's own failure rides along as suppressed") {
    val e = intercept[RuntimeException] {
      Pipeline.inParallel(Seq("a", "b")) { s =>
        throw new RuntimeException(s"boom $s")
      }
    }
    assert((e.getMessage +: e.getSuppressed.toSeq.map(_.getMessage)).sorted ==
      Seq("boom a", "boom b"))
  }
}
