package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

class JobsSpec extends AnyFunSuite {

  test("mapConcurrently returns results in task order and rethrows the first failure") {
    assert(Jobs.mapConcurrently((1 to 5).map(i => () => i * i)) === Seq(1, 4, 9, 16, 25))
    val boom = intercept[IllegalStateException] {
      Jobs.mapConcurrently(Seq(() => 1, () => throw new IllegalStateException("boom")))
    }
    assert(boom.getMessage === "boom")
  }

  test("an interrupted caller cancels its siblings and returns only once none still runs") {
    val n = 3
    val started = new CountDownLatch(n)
    val running = new AtomicInteger(0)
    val tasks = (1 to n).map(_ => () => {
      running.incrementAndGet()
      try { started.countDown(); Thread.sleep(60000L) }
      finally { running.decrementAndGet(); () }
    })
    @volatile var thrown: Throwable = null
    @volatile var flagRestored = false
    @volatile var runningAtReturn = -1
    val caller = new Thread(() => {
      try { Jobs.runConcurrently(tasks) }
      catch {
        case e: Throwable =>
          runningAtReturn = running.get()
          flagRestored = Thread.currentThread().isInterrupted
          thrown = e
      }
    })
    caller.start()
    assert(started.await(30, TimeUnit.SECONDS), "siblings never started")
    caller.interrupt()
    caller.join(30000L)
    assert(!caller.isAlive, "caller still blocked after the interrupt")
    assert(thrown.isInstanceOf[InterruptedException], s"unexpected outcome: $thrown")
    assert(flagRestored, "the caller's interrupt flag must be restored")
    assert(runningAtReturn === 0, "a sibling was still running when the caller unwound")
  }
}
