package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.scalatest.funsuite.AnyFunSuite

/** `Threads.inParallel` is the pool behind FdoSink.write's concurrent
  * writes (the three feature-table jobs and the driver's metadata
  * tables): results come back in order, a failure surfaces as the
  * thunk's own exception, and its siblings are cancelled. */
class ThreadsSpec extends AnyFunSuite {

  test("results come back in submission order") {
    val got = Threads.inParallel((1 to 6).map(i => () => {
      Thread.sleep(10L * (6 - i)); i * i
    }), width = 3)
    assert(got == (1 to 6).map(i => i * i))
  }

  test("a failing thunk surfaces its own exception and cancels its siblings") {
    val started = new CountDownLatch(1)
    val interrupted = new CountDownLatch(1)
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException] {
      Threads.inParallel(Seq(
        () => {
          started.countDown()
          try Thread.sleep(60000L)
          catch { case _: InterruptedException => interrupted.countDown() }
          "slow"
        },
        () => {
          started.await()
          throw new IllegalStateException("sink write failed")
        }))
    }
    assert(e.getMessage == "sink write failed")
    assert(interrupted.await(10, TimeUnit.SECONDS),
      "the long-running sibling was not cancelled")
    assert((System.nanoTime() - t0) / 1e9 < 30,
      "inParallel waited for the sibling instead of failing fast")
  }
}
