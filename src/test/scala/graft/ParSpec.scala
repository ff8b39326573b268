package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean
import org.scalatest.funsuite.AnyFunSuite

/** The fork-join contract the index writes rely on: join every branch
  * before returning or throwing, report failures in argument order,
  * and never starve nested branches of pool threads.
  */
class ParSpec extends AnyFunSuite {

  test("results come back in argument order") {
    assert(Par.all(Seq(() => { Thread.sleep(200); 1 }, () => 2, () => 3)) ==
      Seq(1, 2, 3))
  }

  test("a failure is thrown only after a slower sibling has finished") {
    val siblingDone = new AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      Par.all(Seq(
        () => throw new IllegalStateException("fast"),
        () => { Thread.sleep(500); siblingDone.set(true) }))
    }
    assert(e.getMessage == "fast")
    assert(siblingDone.get, "Par.all threw while a sibling was still running")
  }

  test("the first failure in argument order is thrown, later ones suppressed") {
    val e = intercept[RuntimeException] {
      Par.all(Seq[() => Int](
        () => 1,
        // fails last in time, first in argument order
        () => { Thread.sleep(300); throw new RuntimeException("a") },
        () => throw new RuntimeException("b"),
        () => 4,
        () => throw new RuntimeException("c")))
    }
    assert(e.getMessage == "a")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("b", "c"))
  }

  test("nested branches that wait on each other all run at once") {
    // more branches than the global pool has threads: they finish only
    // if every one of them is running when the last counts down
    val n = 2 * Runtime.getRuntime.availableProcessors + 1
    val latch = new CountDownLatch(n)
    val out = Par.all(Seq(() => Par.all(Seq.fill(n)(() => {
      latch.countDown()
      latch.await(30, TimeUnit.SECONDS)
    }))))
    assert(out.flatten.size == n && out.flatten.forall(identity),
      "branches timed out waiting for siblings that never started")
  }
}
