package graft

import java.util.concurrent.ConcurrentHashMap

import org.scalatest.funsuite.AnyFunSuite

/** The session-prep pool loop (SparkEntry.runBuildPool) under a failing
  * build: the failure surfaces as the build's own exception and cancels
  * the builds still queued behind it.
  */
class PrepPoolSpec extends AnyFunSuite {

  test("prep pool: a failing build rethrows its own exception and queued builds never start") {
    val started = ConcurrentHashMap.newKeySet[Int]()
    def slow(i: Int): () => Any = () => { started.add(i); Thread.sleep(5000) }
    // two threads: builds 0 and 1 start at once, 2..5 wait in the queue
    val builds = Seq(slow(0),
      () => { started.add(1); throw new IllegalStateException("build 1 failed") }) ++
      (2 to 5).map(slow)
    val t0 = System.nanoTime()
    val e = intercept[Throwable](SparkEntry.runBuildPool(builds, threads = 2))
    val waitedSec = (System.nanoTime() - t0) / 1e9
    Thread.sleep(500) // a queued build that did get scheduled is running by now
    assert(e.isInstanceOf[IllegalStateException] && e.getMessage == "build 1 failed",
      s"expected the build's own exception, got $e")
    assert(started.contains(1))
    assert(!(2 to 5).exists(started.contains),
      s"queued builds started after the failure: $started")
    // the running slow build is interrupted, not waited out
    assert(waitedSec < 4.0, f"pool returned after $waitedSec%.2f s")
  }

  test("prep pool: every build runs when none fails") {
    val ran = ConcurrentHashMap.newKeySet[Int]()
    SparkEntry.runBuildPool((0 until 9).map(i => () => ran.add(i)), threads = 4)
    assert(ran.size == 9)
  }
}
