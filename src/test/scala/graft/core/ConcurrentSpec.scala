package graft.core

import java.util.concurrent.{CountDownLatch, TimeUnit}
import org.scalatest.funsuite.AnyFunSuite

/** `Concurrent.inParallel` marks both its closures and its wait as
  * blocking, so a nested use cannot starve the global pool. */
class ConcurrentSpec extends AnyFunSuite {

  test("nested use with more outer tasks than cores finishes, results in input order") {
    // every outer task first waits, unmarked as a Spark job's wait is,
    // until all outer tasks have started: the pool has one thread per
    // core, so only the marker on each closure lets them all run at
    // once. Each then waits on its own inner use.
    val outer = Runtime.getRuntime.availableProcessors + 2
    val started = new CountDownLatch(outer)
    val got = Concurrent.inParallel((0 until outer).map { i => () =>
      started.countDown()
      val allStarted = started.await(10, TimeUnit.SECONDS)
      (allStarted, Concurrent.inParallel(Seq(() => 2 * i, () => 2 * i + 1)))
    })
    assert(got == (0 until outer).map(i => (true, Seq(2 * i, 2 * i + 1))))
  }
}
