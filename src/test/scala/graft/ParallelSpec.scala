package graft

import java.util.concurrent.atomic.AtomicBoolean

import org.scalatest.funsuite.AnyFunSuite

class ParallelSpec extends AnyFunSuite {

  test("parallelLegs returns results in leg order") {
    assert(Parallel.parallelLegs(2)(Seq(() => 1, () => 2, () => 3)) ==
      Seq(1, 2, 3))
  }

  test("parallelLegs rethrows a fast failure only after the slow leg " +
      "has finished") {
    val slowDone = new AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      Parallel.parallelLegs(2)(Seq[() => Unit](
        () => throw new IllegalStateException("fast leg failed"),
        () => { Thread.sleep(500); slowDone.set(true) }))
    }
    assert(e.getMessage == "fast leg failed")
    assert(slowDone.get, "the failure escaped while a leg was still running")
  }
}
