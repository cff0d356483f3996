package graft.queries

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import org.scalatest.funsuite.AnyFunSuite

/** `FormatQueries.inParallel` must never return while a sibling job is
  * still running — also when the caller stops waiting because it was
  * interrupted: the siblings are cancelled and awaited first.
  */
class InParallelSpec extends AnyFunSuite {

  test("an interrupted caller cancels and awaits every sibling before rethrowing") {
    val running = new AtomicInteger(0)
    val started = new CountDownLatch(2)
    def job(): () => Unit = () => {
      running.incrementAndGet()
      started.countDown()
      try Thread.sleep(60000)
      finally {
        Thread.sleep(200) // a sibling that takes a while to wind down
        running.decrementAndGet()
      }
    }
    val thrown = new AtomicReference[Throwable]
    val runningAtReturn = new AtomicInteger(-1)
    val caller = new Thread(() =>
      try FormatQueries.inParallel(job(), job())
      catch { case t: Throwable => thrown.set(t) }
      finally runningAtReturn.set(running.get()))
    caller.start()
    assert(started.await(30, TimeUnit.SECONDS), "siblings did not start")
    caller.interrupt()
    caller.join(30000)
    assert(!caller.isAlive, "inParallel did not return after the interrupt")
    assert(thrown.get().isInstanceOf[InterruptedException], s"got ${thrown.get()}")
    assert(runningAtReturn.get() == 0, s"${runningAtReturn.get()} sibling(s) still running")
  }
}
