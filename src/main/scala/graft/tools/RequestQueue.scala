package graft.tools

import java.util.concurrent.{Callable, ExecutorService, Executors, Future, FutureTask, Semaphore, ScheduledExecutorService, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

/** Admission control for a serving gateway: at most `maxInFlight`
  * requests execute concurrently and at most `maxQueued` wait behind
  * them; a request arriving past both bounds is REJECTED immediately
  * (fail fast, caller backs off and retries) instead of joining an
  * unbounded queue where every request eventually times out and the
  * driver's heap holds the backlog. This is the standard bounded-queue
  * posture a production gateway puts in front of a shared Spark
  * driver: the driver's scheduler (FAIR pools, see
  * [[ServeGateway]]) shares executor slots across the in-flight set,
  * and the queue bound keeps that set small enough that p99 stays a
  * multiple of p50 rather than a multiple of the backlog length.
  *
  * Admitted requests can carry a DEADLINE ([[submit(spark:*]]): a
  * request that has not completed `timeoutMs` after admission is
  * cancelled — its Spark job group is killed (tasks interrupted, so
  * executor slots come back, not just the driver thread) and its
  * permit + pool thread are recycled. Without this, one hung request
  * pins a permit and a worker forever and the measured p99 bound
  * silently assumes every request completes. The deadline clock spans
  * queue wait + execution — a caller's deadline is end-to-end, and
  * cancelling a still-queued request at its deadline is exactly the
  * load-shedding a saturated gateway owes its fastest-failing callers.
  *
  * Not a Spark component — pure JVM admission control in front of
  * whatever closure serves the request (everything here runs
  * driver-side; the Spark jobs a request submits are already bounded
  * by the executor slots).
  */
final class RequestQueue(val maxInFlight: Int, val maxQueued: Int) {
  require(maxInFlight > 0 && maxQueued >= 0)
  // one permit per admissible request (executing or queued) — the
  // tryAcquire is the admission decision, made without blocking
  private val slots = new Semaphore(maxInFlight + maxQueued)
  private val pool: ExecutorService = Executors.newFixedThreadPool(maxInFlight)
  // watchdog timer: one daemon thread arms/disarms deadlines; the
  // cancellation work it does per firing is O(1) driver-side calls
  private lazy val timer: ScheduledExecutorService =
    Executors.newSingleThreadScheduledExecutor { r =>
      val t = new Thread(r, "graft-request-deadlines"); t.setDaemon(true); t
    }
  private val rejectedCount = new AtomicLong(0L)
  private val admittedCount = new AtomicLong(0L)
  private val timedOutCount = new AtomicLong(0L)
  private val reqSeq = new AtomicLong(0L)

  /** Admit-or-reject: `Some(future)` if the request got a slot
    * (executing now or queued behind ≤ maxQueued others), `None` if
    * the gateway is saturated — the caller's signal to shed load.
    * A submit racing (or following) [[shutdown]] is also `None`, not
    * an exception: the pool's RejectedExecutionException is caught
    * and the already-acquired permit RELEASED — without that, a
    * drain-time straggler would both see an undocumented throw and
    * permanently shrink capacity by one. */
  def submit[A](f: => A): Option[Future[A]] =
    if (!slots.tryAcquire()) { rejectedCount.incrementAndGet(); None }
    else {
      try {
        val fut = pool.submit(new Callable[A] {
          override def call(): A = {
            // a previously-cancelled deadline task can leave its interrupt
            // pending on this pool thread (see the deadline submit); it
            // belongs to that dead request, not this one
            Thread.interrupted()
            try f finally slots.release()
          }
        })
        admittedCount.incrementAndGet()
        Some(fut)
      } catch {
        case _: java.util.concurrent.RejectedExecutionException =>
          slots.release()
          rejectedCount.incrementAndGet()
          None
      }
    }

  /** [[submit]] with an end-to-end deadline. At `timeoutMs` after
    * admission an incomplete request is cancelled:
    *
    *  - its Spark JOB GROUP is cancelled with `interruptOnCancel` —
    *    running tasks are interrupted and their executor slots freed,
    *    so a wedged distributed scan cannot hold the cluster (the
    *    job group is set thread-locally on the worker before `f`
    *    runs, the same thread-local channel the FAIR pool tag uses);
    *  - the worker thread is interrupted via `FutureTask.cancel(true)`
    *    (which interrupts ONLY while this task is the one running).
    *    The interrupt FLAG can still outlive the task — the JDK
    *    deliberately does not clear it when the task exits via a
    *    non-`InterruptedException` path (e.g. the job-group cancel
    *    surfaces as a `SparkException`) — so every callable clears
    *    stale interrupt status on entry and on exit; the next request
    *    on the recycled thread starts clean;
    *  - its permit is released here: a request still QUEUED at its
    *    deadline never starts, and a running one may still be in
    *    driver work no interrupt reaches (planning before its first
    *    job). Such a body keeps only its pool thread until it exits;
    *    a job it submits after the deadline is cancelled as it exits.
    *
    * The returned future reports cancellation as
    * `CancellationException` from `get()`. Capacity accounting is
    * exact either way: one release per admitted request, whether it
    * completed, was interrupted mid-run, or was cancelled in queue. */
  def submit[A](spark: org.apache.spark.sql.SparkSession, timeoutMs: Long)
               (f: => A): Option[Future[A]] = {
    require(timeoutMs > 0, s"timeoutMs must be positive, got $timeoutMs")
    if (!slots.tryAcquire()) { rejectedCount.incrementAndGet(); None }
    else {
      val jobGroup = s"graft-req-${reqSeq.incrementAndGet()}"
      // exactly-once permit release however the cancel/run race lands:
      // the watchdog releases at the deadline, and the callable's
      // finally (or its deadline check on entry) releases too — the CAS
      // collapses them
      val released = new AtomicBoolean(false)
      def releaseOnce(): Unit = if (released.compareAndSet(false, true)) slots.release()
      // set by the watchdog BEFORE it cancels: lets a callable that
      // dequeues RIGHT AT its deadline distinguish its own cancellation
      // from the stale-flag case below
      val deadlineFired = new AtomicBoolean(false)
      val task = new FutureTask[A](new Callable[A] {
        override def call(): A = {
          // stale interrupt from a PREVIOUSLY cancelled task on this
          // recycled pool thread (cancel(true) sets the flag; the JDK
          // does not clear it on non-InterruptedException exits) —
          // any pending interrupt here belongs to a dead request
          Thread.interrupted()
          // ...unless OUR deadline already fired while we were entering:
          // cancel(true) can deliver the interrupt between FutureTask's
          // runner CAS and the clear above, and swallowing it would run
          // the whole request unwatched (its job group was cancelled
          // before setJobGroup below, so nothing would kill its jobs).
          // A deadline firing between this check and setJobGroup still
          // lands as a pending interrupt that the first blocking/Spark
          // call surfaces.
          if (deadlineFired.get()) {
            releaseOnce()
            throw new InterruptedException(
              "cancelled at deadline before the request body started")
          }
          val sc = spark.sparkContext
          sc.setJobGroup(jobGroup, s"graft gateway request (deadline ${timeoutMs}ms)",
            interruptOnCancel = true)
          try f
          finally {
            // a deadline that fired before f's first job found nothing to
            // cancel; a job f submitted after it (its wait then threw on
            // the pending interrupt) runs on unless the group is cancelled
            // again here, before the group is cleared
            if (deadlineFired.get())
              try sc.cancelJobGroup(jobGroup)
              catch { case _: IllegalStateException => () /* context stopped */ }
            sc.clearJobGroup()
            releaseOnce()
            // our OWN deadline interrupt, when f exited via a
            // non-InterruptedException path — don't hand it to the
            // next request on this thread
            Thread.interrupted()
          }
        }
      })
      // two failure modes, accounted separately: a pool rejection means
      // the task NEVER runs (release its permit, count a rejection); a
      // timer rejection after a successful execute means the task IS
      // running — it must keep its permit (the callable's finally
      // releases it) and simply runs without a watchdog. Folding both
      // into one catch double-releases the permit on the second path,
      // permanently inflating the semaphore past maxInFlight+maxQueued.
      val enqueued =
        try { pool.execute(task); true }
        catch {
          case _: java.util.concurrent.RejectedExecutionException =>
            releaseOnce()
            rejectedCount.incrementAndGet()
            false
        }
      if (!enqueued) None
      else {
        admittedCount.incrementAndGet()
        try {
          timer.schedule(new Runnable {
            override def run(): Unit = if (!task.isDone) {
              deadlineFired.set(true)
              // counted BEFORE the cancel: cancel() wakes the waiters,
              // and a caller woken by it must already see its timeout
              // counted; a cancel that loses to completion takes the
              // count back
              timedOutCount.incrementAndGet()
              // the request is dead at its deadline, so its admission
              // capacity comes back now — also before cancel() wakes the
              // waiters, so a caller woken by it can submit again —
              // whether it is still queued (its callable never runs) or
              // its body has not exited yet. A request that completes in
              // this instant has released already or finds it done.
              releaseOnce()
              val cancelled = task.cancel(true)
              if (!cancelled) timedOutCount.decrementAndGet()
              // kill the request's distributed work regardless of which
              // race we won — cancelling an empty/finished group is a
              // no-op, leaving it running is a leaked cluster
              try spark.sparkContext.cancelJobGroup(jobGroup)
              catch { case _: IllegalStateException => () /* context stopped */ }
            }
          }, timeoutMs, TimeUnit.MILLISECONDS): Unit
        } catch {
          // timer already shut down (shutdown racing this submit): the
          // admitted request runs to completion without a deadline —
          // strictly better for the caller than reporting a rejection
          // for work that is already executing
          case _: java.util.concurrent.RejectedExecutionException => ()
        }
        Some(task)
      }
    }
  }

  /** test seam for the shutdown race the timer-rejection path covers:
    * a deadline submit can find the pool alive but the timer already
    * drained — the admitted request must then run un-watchdogged with
    * exactly one permit release and exactly one accounting bump */
  private[graft] def shutdownTimerForTest(): Unit = timer.shutdown()

  def rejected: Long = rejectedCount.get()
  def admitted: Long = admittedCount.get()
  /** admitted requests cancelled at their deadline */
  def timedOut: Long = timedOutCount.get()
  def shutdown(): Unit = { pool.shutdown(): Unit; timer.shutdown(): Unit }
}
