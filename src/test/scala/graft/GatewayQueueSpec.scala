package graft

import org.scalatest.funsuite.AnyFunSuite
import java.util.concurrent.CountDownLatch

/** Gateway admission control ([[graft.tools.RequestQueue]]): the
  * bounded-queue contract — in-flight + queued capped, overflow shed
  * immediately, capacity recovered as requests complete. */
class GatewayQueueSpec extends AnyFunSuite {

  test("burst past capacity: maxInFlight+maxQueued admitted, the rest rejected immediately, slots recycle") {
    val q = new graft.tools.RequestQueue(maxInFlight = 2, maxQueued = 2)
    val gate = new CountDownLatch(1)
    // admission is permit-based at submit time (no execution race):
    // exactly 4 of a burst of 8 get slots, 4 are shed synchronously
    val burst = (0 until 8).map(_ => q.submit { gate.await(); "ok" })
    assert(burst.count(_.isDefined) == 4,
      s"admitted ${burst.count(_.isDefined)} of a burst of 8 at capacity 2+2")
    assert(q.rejected == 4 && q.admitted == 4)
    // a straggler while saturated is also shed, not queued unboundedly
    assert(q.submit("late").isEmpty && q.rejected == 5)
    gate.countDown()
    burst.flatten.foreach(f => assert(f.get() == "ok"))
    // completed requests release their permits: admission resumes
    val again = q.submit(42)
    assert(again.isDefined && again.get.get() == 42)
    assert(q.admitted == 5)
    q.shutdown()
  }

  test("submit after shutdown sheds (None), never throws, and leaks no permit") {
    val q = new graft.tools.RequestQueue(maxInFlight = 2, maxQueued = 2)
    assert(q.submit(1).map(_.get()) == Some(1))
    q.shutdown()
    // drain-time straggler: documented load-shed signal, not an
    // undocumented RejectedExecutionException
    assert(q.submit(2).isEmpty && q.rejected == 1)
    // the permit the racing tryAcquire took was released — capacity
    // would otherwise shrink by one per post-shutdown submit
    assert(q.submit(3).isEmpty && q.rejected == 2)
  }

  test("deadline: a hung request is cancelled, its Spark jobs die, and its permit recycles") {
    val spark = SparkTestSession.spark
    val q = new graft.tools.RequestQueue(maxInFlight = 1, maxQueued = 0)
    // a request whose Spark job wedges (every task sleeps far past the
    // deadline) — without cancellation this pins the permit forever
    val fut = q.submit(spark, timeoutMs = 1500) {
      spark.range(0, 4, 1, 4).rdd.mapPartitions { it =>
        Thread.sleep(120000); it
      }.count()
    }
    assert(fut.isDefined, "request admitted")
    val t0 = System.nanoTime()
    intercept[java.util.concurrent.CancellationException] { fut.get.get() }
    val waitedMs = (System.nanoTime() - t0) / 1e6
    assert(waitedMs < 30000, s"cancellation took ${waitedMs}ms — deadline not enforced")
    // get() unblocks at the cancel itself; give the watchdog's counter
    // bump (the very next statement in its runnable) a beat to land
    val counterAt = System.currentTimeMillis() + 5000
    while (q.timedOut == 0 && System.currentTimeMillis() < counterAt) Thread.sleep(10)
    assert(q.timedOut == 1)
    // the job group cancel (interruptOnCancel) kills the distributed
    // work — the wedged tasks' executor slots come back
    val deadlineAt = System.currentTimeMillis() + 20000
    var active = spark.sparkContext.statusTracker.getActiveJobIds()
    while (active.nonEmpty && System.currentTimeMillis() < deadlineAt) {
      Thread.sleep(100); active = spark.sparkContext.statusTracker.getActiveJobIds()
    }
    assert(active.isEmpty, s"Spark jobs survived their request's deadline: ${active.mkString(",")}")
    // permit recycled: the gateway serves again at full capacity
    val again = q.submit(spark, timeoutMs = 30000) { 42 }
    assert(again.isDefined && again.get.get() == 42)
    q.shutdown()
  }

  test("deadline: a job submitted after the deadline already fired is cancelled, and its permit recycles") {
    val spark = SparkTestSession.spark
    val sc = spark.sparkContext
    val q = new graft.tools.RequestQueue(maxInFlight = 1, maxQueued = 0)
    val group = new java.util.concurrent.atomic.AtomicReference[String]()
    // the body ignores its interrupt: it runs past its deadline (whose
    // group cancel finds no job yet), then submits a job that wedges
    // every task slot — the pending interrupt makes the job's wait
    // throw, but the job itself is already submitted
    val fut = q.submit(spark, timeoutMs = 300) {
      group.set(sc.getLocalProperty("spark.jobGroup.id"))
      val until = System.nanoTime() + 1500L * 1000000L
      while (System.nanoTime() < until) Thread.onSpinWait()
      spark.range(0, 4, 1, 4).rdd.mapPartitions { it => Thread.sleep(120000); it }.count()
    }
    assert(fut.isDefined, "request admitted")
    intercept[java.util.concurrent.CancellationException] { fut.get.get() }
    try {
      // the job shows up in the request's group, and no job of the
      // group is still active within 20 s
      val deadlineAt = System.currentTimeMillis() + 20000
      def jobs = Option(group.get).toSeq.flatMap(g => sc.statusTracker.getJobIdsForGroup(g).toSeq)
      def live = jobs.filter(sc.statusTracker.getActiveJobIds().contains)
      while ((jobs.isEmpty || live.nonEmpty) && System.currentTimeMillis() < deadlineAt)
        Thread.sleep(100)
      assert(jobs.nonEmpty, "the request never submitted its job")
      assert(live.isEmpty, s"a job submitted after its request's deadline survived: ${live.mkString(",")}")
      // permit recycled: the gateway admits again
      val admitBy = System.currentTimeMillis() + 10000
      var again = q.submit(spark, timeoutMs = 30000) { 42 }
      while (again.isEmpty && System.currentTimeMillis() < admitBy) {
        Thread.sleep(10)
        again = q.submit(spark, timeoutMs = 30000) { 42 }
      }
      assert(again.isDefined && again.get.get() == 42, "the cancelled request's permit leaked")
    } finally Option(group.get).foreach(sc.cancelJobGroup)
    q.shutdown()
  }

  test("deadline: a request still queued when its deadline fires never runs and leaks no permit") {
    val spark = SparkTestSession.spark
    val q = new graft.tools.RequestQueue(maxInFlight = 1, maxQueued = 1)
    val gate = new CountDownLatch(1)
    val ran = new java.util.concurrent.atomic.AtomicBoolean(false)
    val head = q.submit { gate.await(); "head" }
    assert(head.isDefined)
    // queued behind head with a short end-to-end deadline: the clock
    // covers queue wait, so it cancels before ever starting
    val queued = q.submit(spark, timeoutMs = 300) { ran.set(true); "queued" }
    assert(queued.isDefined)
    intercept[java.util.concurrent.CancellationException] { queued.get.get() }
    assert(!ran.get(), "cancelled-in-queue request must never start")
    assert(q.timedOut == 1)
    gate.countDown()
    assert(head.get.get() == "head")
    // both permits are back: a 1+1 burst admits two
    val a = q.submit(spark, timeoutMs = 30000) { 1 }
    val b = q.submit { 2 }
    assert(a.isDefined && b.isDefined, "a permit leaked on queued-cancel")
    assert(a.get.get() == 1 && b.get.get() == 2)
    q.shutdown()
  }

  test("deadline: a fast request completes normally and is not cancelled by its stale watchdog") {
    val spark = SparkTestSession.spark
    val q = new graft.tools.RequestQueue(maxInFlight = 2, maxQueued = 2)
    val r = q.submit(spark, timeoutMs = 60000) { spark.range(10).count() }
    assert(r.map(_.get()) == Some(10L))
    assert(q.timedOut == 0)
    // the watchdog firing later against the finished task is a no-op
    // (isDone short-circuits) — exercised by the shutdown sweep below
    q.shutdown()
  }

  test("a cancelled request's stale interrupt never poisons the next request on the recycled pool thread") {
    val spark = SparkTestSession.spark
    // ONE pool thread: the follow-up request is guaranteed to land on
    // the same thread the cancelled request ran on
    val q = new graft.tools.RequestQueue(maxInFlight = 1, maxQueued = 2)
    val exited = new CountDownLatch(1)
    // exits via a NON-InterruptedException path once cancel(true)'s
    // interrupt lands — the JDK deliberately leaves the flag set on
    // this shape (handlePossibleCancellationInterrupt never clears it)
    val hung = q.submit(spark, timeoutMs = 300) {
      while (!Thread.currentThread().isInterrupted)
        java.util.concurrent.locks.LockSupport.parkNanos(1000000L)
      exited.countDown()
      "exited-with-flag-set"
    }
    assert(hung.isDefined)
    intercept[java.util.concurrent.CancellationException] { hung.get.get() }
    assert(exited.await(10, java.util.concurrent.TimeUnit.SECONDS),
      "cancelled request never observed its interrupt")
    // the next request's first blocking call must NOT fail spuriously
    // with InterruptedException from the dead request's flag
    val next = q.submit { Thread.sleep(20); "clean" }
    assert(next.isDefined && next.get.get() == "clean",
      "recycled pool thread inherited the cancelled request's interrupt")
    // and the deadline variant too (same worker-thread pool)
    val nextDeadline = q.submit(spark, timeoutMs = 30000) { Thread.sleep(20); "clean2" }
    assert(nextDeadline.isDefined && nextDeadline.get.get() == "clean2")
    q.shutdown()
  }

  test("deadline submit racing timer shutdown: request runs un-watchdogged, permits and counters stay exact") {
    val spark = SparkTestSession.spark
    val q = new graft.tools.RequestQueue(maxInFlight = 1, maxQueued = 0)
    q.shutdownTimerForTest() // pool alive, timer drained — the race window
    val r = q.submit(spark, timeoutMs = 50) { Thread.sleep(200); "ran" }
    assert(r.isDefined, "admitted request reported as rejected")
    // no watchdog: it runs past its nominal deadline to completion
    assert(r.get.get() == "ran")
    assert(q.admitted == 1 && q.rejected == 0 && q.timedOut == 0,
      s"accounting skewed: admitted=${q.admitted} rejected=${q.rejected}")
    // the permit was released exactly ONCE (the callable's finally):
    // a double release would inflate capacity past maxInFlight+maxQueued
    val gate = new CountDownLatch(1)
    val a = q.submit { gate.await(); 1 }
    val b = q.submit { gate.await(); 2 } // capacity 1+0: must shed
    assert(a.isDefined && b.isEmpty,
      "semaphore inflated past its bound — permit double-released")
    gate.countDown()
    assert(a.get.get() == 1)
    q.shutdown()
  }

  test("deadline: the timeout count is visible to a caller the moment its cancelled get() throws, 50 times over") {
    val spark = SparkTestSession.spark
    val q = new graft.tools.RequestQueue(maxInFlight = 1, maxQueued = 1)
    val gate = new CountDownLatch(1)
    val head = q.submit { gate.await(); "head" }
    assert(head.isDefined)
    for (i <- 1 to 50) {
      // the previous cancel releases its permit after it counts: retry
      // admission until that permit is back
      val admitBy = System.currentTimeMillis() + 10000
      var queued = q.submit(spark, timeoutMs = 50) { "queued" }
      while (queued.isEmpty && System.currentTimeMillis() < admitBy) {
        Thread.sleep(1)
        queued = q.submit(spark, timeoutMs = 50) { "queued" }
      }
      assert(queued.isDefined, s"request $i never admitted: a permit leaked")
      // parked waiters: the cancel wakes each of them before it returns,
      // which holds open any gap between the cancellation becoming
      // visible and the count
      val parked = (1 to 16).map { _ =>
        val t = new Thread(() =>
          try queued.get.get(): Unit
          catch { case _: java.util.concurrent.CancellationException => () })
        t.setDaemon(true); t.start(); t
      }
      // ...and one spinning caller, which sees the cancellation as early
      // as any caller can
      while (!queued.get.isDone) Thread.onSpinWait()
      intercept[java.util.concurrent.CancellationException] { queued.get.get() }
      assert(q.timedOut == i, s"request $i: get() threw with timedOut=${q.timedOut}")
      parked.foreach(_.join(10000))
    }
    gate.countDown()
    assert(head.get.get() == "head")
    q.shutdown()
  }

  test("work executes with at most maxInFlight concurrently") {
    val q = new graft.tools.RequestQueue(maxInFlight = 2, maxQueued = 6)
    val active = new java.util.concurrent.atomic.AtomicInteger(0)
    val peak = new java.util.concurrent.atomic.AtomicInteger(0)
    val fs = (0 until 8).flatMap(_ => q.submit {
      val a = active.incrementAndGet()
      peak.getAndUpdate(p => math.max(p, a)): Unit
      Thread.sleep(20)
      active.decrementAndGet(): Unit
    })
    assert(fs.size == 8, "all 8 fit within capacity 2+6")
    fs.foreach(_.get())
    assert(peak.get() <= 2, s"executed ${peak.get()} concurrently past the in-flight bound")
    q.shutdown()
  }
}
