package graft.operators

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

/** `ConcurrentJobs.awaitAll` never abandons a thunk: not on a failure, and
  * not when the calling thread is interrupted while it waits for the
  * spawned thunks (the interrupt is re-asserted once all have finished).
  */
class ConcurrentJobsSpec extends AnyFunSuite {

  test("every thunk runs once; the first failure in argument order is rethrown") {
    val ran = new AtomicInteger()
    val e = intercept[IllegalStateException] {
      ConcurrentJobs.awaitAll(
        () => { ran.incrementAndGet(); Thread.sleep(50) },
        () => { ran.incrementAndGet(); throw new IllegalStateException("first") },
        () => { ran.incrementAndGet(); throw new IllegalArgumentException("second") })
    }
    assert(ran.get() == 3)
    assert(e.getMessage == "first")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("second"))
  }

  test("an interrupt of the caller mid-fan-out waits for every thunk, then is re-asserted") {
    val spawnedThunks = 3
    val started = new CountDownLatch(spawnedThunks + 1)
    val release = new CountDownLatch(1)
    val finished = new AtomicInteger()
    @volatile var finishedAtReturn = -1
    @volatile var interruptedAtReturn = false
    @volatile var thrown: Option[Throwable] = None
    val blocked = (1 to spawnedThunks).map { _ => () =>
      started.countDown()
      release.await()
      finished.incrementAndGet()
      ()
    }
    val last = () => { started.countDown(); finished.incrementAndGet(); () }
    val caller = new Thread(() => {
      try ConcurrentJobs.awaitAll(blocked :+ last: _*)
      catch { case t: Throwable => thrown = Some(t) }
      finishedAtReturn = finished.get()
      interruptedAtReturn = Thread.currentThread().isInterrupted
    })
    caller.start()
    assert(started.await(10, TimeUnit.SECONDS), "thunks did not start")
    // the caller has run its own (last) thunk and now waits on the others
    val deadline = System.currentTimeMillis() + 10000
    while (caller.getState != Thread.State.WAITING && System.currentTimeMillis() < deadline)
      Thread.sleep(5)
    caller.interrupt()
    Thread.sleep(200)
    assert(finishedAtReturn == -1, "awaitAll returned before its thunks finished")
    release.countDown()
    caller.join(10000)
    assert(!caller.isAlive)
    assert(thrown.isEmpty, s"awaitAll threw $thrown")
    assert(finishedAtReturn == spawnedThunks + 1)
    assert(interruptedAtReturn, "the interrupt must be re-asserted on the caller")
  }
}
