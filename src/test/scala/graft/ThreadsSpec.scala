package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.scalatest.funsuite.AnyFunSuite

/** `Threads.inParallel` is the pool behind FdoSink.write's concurrent
  * writes (the feature-table job and the driver's metadata tables):
  * results come back in order, a failure surfaces as the thunk's own
  * exception, and its siblings are cancelled. `Threads.alongside` runs
  * `FdoSink.write` beside the SQLite pass: the caller's own work stays
  * on the caller's thread, the two overlap, and neither is cut short
  * by the other's failure. */
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

  test("alongside overlaps the two and keeps `here` on the caller's thread") {
    val caller = Thread.currentThread
    val (otherUp, hereUp) = (new CountDownLatch(1), new CountDownLatch(1))
    @volatile var otherThread: Thread = null
    val got = Threads.alongside { () =>
      otherThread = Thread.currentThread
      otherUp.countDown()
      assert(hereUp.await(10, TimeUnit.SECONDS), "here never started")
    } {
      hereUp.countDown()
      assert(otherUp.await(10, TimeUnit.SECONDS), "other never started")
      Thread.currentThread
    }
    assert(got eq caller)
    assert(otherThread != null && (otherThread ne caller))
  }

  test("alongside waits for the other's end, and its failure comes first") {
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      Threads.alongside { () => Thread.sleep(200L); done.set(true) } {
        throw new IllegalStateException("sqlite failed")
      }
    }
    assert(e.getMessage == "sqlite failed")
    assert(done.get, "alongside returned before the other thunk ended")

    val both = intercept[IllegalArgumentException] {
      Threads.alongside { () =>
        Thread.sleep(50L); throw new IllegalArgumentException("parquet failed")
      } { throw new IllegalStateException("sqlite failed") }
    }
    assert(both.getMessage == "parquet failed")
    assert(both.getSuppressed.map(_.getMessage).toSeq == Seq("sqlite failed"))
  }
}
