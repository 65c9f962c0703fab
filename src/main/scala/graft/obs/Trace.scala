package graft.obs

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

import graft.SessionCache

/** Where a span of driver work spent its wall time, read from public
  * Spark hooks. A span is what one thread runs under one job group:
  * the group the thread already carries (a gateway request's), or a
  * fresh one [[span]] sets for its duration. This listener, registered
  * by [[Trace.apply]] and by nothing else, keys every job, stage and
  * SQL execution by that group, so concurrent spans do not mix.
  *
  * A [[Trace.Record]] has perfbench's counter names:
  *  - `wall_ms`, `jobs`, `job_ms` (the union of the span's job
  *    intervals) and `driver_gap_ms` = wall − job_ms, the time no job
  *    of the span ran;
  *  - `plan_ms`: Catalyst analysis, optimization and planning of the
  *    span's SQL executions, clipped to the span (part of the gap);
  *  - `files_read`: files the span's executed file scans opened (their
  *    `numFiles` metric, read at the same execution end as `plan_ms`);
  *  - `exec_run_ms`, `input_bytes`, `shuffle_read_bytes`,
  *    `shuffle_write_bytes`, `spill_bytes`: task metrics of the span's
  *    completed stages;
  *  - `codegen_compiles` (CodegenMetrics) and `memo_hits`,
  *    `memo_misses`, `memo_evictions` (SessionCache): process-wide
  *    deltas over the span, exact while no other span overlaps it.
  *
  * Only open spans hold state, dropped once the span's record is read,
  * so a long-running gateway holds a bounded amount. Jobs a span hands
  * to a pooled thread that did not inherit its group are not seen. */
final class Trace private (spark: SparkSession) extends SparkListener {
  import Trace._

  private val sc = spark.sparkContext
  private val seq = new AtomicLong()
  private val open = mutable.Map.empty[String, Acc]
  private val byJob = mutable.Map.empty[Int, Acc]
  private val byStage = mutable.Map.empty[Int, Acc]
  private val byExec = mutable.Map.empty[Long, Acc]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(GroupKey))).flatMap(open.get)
      .foreach { a =>
        a.jobs(e.jobId) = (e.time, Long.MaxValue)
        byJob(e.jobId) = a
        e.stageIds.foreach(byStage(_) = a)
      }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    byJob.remove(e.jobId).foreach(a => a.jobs(e.jobId) = (a.jobs(e.jobId)._1, e.time))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val m = e.stageInfo.taskMetrics
    byStage.remove(e.stageInfo.stageId).filter(_ => m != null).foreach { a =>
      a.execRunMs += m.executorRunTime
      a.inputBytes += m.inputMetrics.bytesRead
      a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
    }
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      s.jobGroupId.flatMap(open.get).foreach(byExec(s.executionId) = _)
    }
    case s: SparkListenerSQLExecutionEnd => synchronized {
      byExec.remove(s.executionId).foreach { a =>
        a.phases ++= GraftBridge.planPhases(s)
        a.filesRead += GraftBridge.filesRead(s)
      }
    }
    case _ => ()
  }

  /** Run `f` as one span and return its record. The listener bus is
    * drained after `f`, outside the span's wall time. One span per job
    * group at a time. */
  def span[A](f: => A): (A, Record) = {
    val inherited = Option(sc.getLocalProperty(GroupKey))
    val group = inherited.getOrElse(s"graft-trace-${seq.incrementAndGet()}")
    val acc = new Acc
    synchronized { open(group) = acc }
    if (inherited.isEmpty) sc.setJobGroup(group, group, interruptOnCancel = false)
    val before = processCounts
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val out = try Right(f) catch { case t: Throwable => Left(t) }
    val wallMs = math.round((System.nanoTime() - t0) / 1e6)
    val delta = processCounts.zip(before).map { case (x, y) => x - y }
    if (inherited.isEmpty) sc.clearJobGroup()
    try out match {
      case Left(t) => throw t
      case Right(a) =>
        GraftBridge.drainListenerBus(spark)
        (a, synchronized(acc.record(startMs, wallMs, delta)))
    } finally synchronized {
      open.remove(group)
      byJob.filterInPlace((_, a) => a ne acc)
      byStage.filterInPlace((_, a) => a ne acc)
      byExec.filterInPlace((_, a) => a ne acc)
    }
  }

  /** spans still holding state (0 whenever no span is running) */
  private[graft] def openSpans: Int = synchronized(open.size + byJob.size + byStage.size + byExec.size)

  def close(): Unit = sc.removeSparkListener(this)
}

object Trace {
  private val GroupKey = "spark.jobGroup.id"

  def apply(spark: SparkSession): Trace = {
    val t = new Trace(spark)
    spark.sparkContext.addSparkListener(t)
    t
  }

  private def processCounts: Seq[Long] = {
    val (h, m, e) = SessionCache.memoCounts
    Seq(CodegenMetrics.METRIC_COMPILATION_TIME.getCount, h, m, e)
  }

  final case class Record(wallMs: Long, jobs: Int, jobMs: Long, planMs: Long,
                          codegenCompiles: Long, execRunMs: Long, inputBytes: Long,
                          shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long,
                          memoHits: Long, memoMisses: Long, memoEvictions: Long,
                          filesRead: Long) {
    def driverGapMs: Long = wallMs - jobMs
    def fields: Seq[(String, Long)] = Seq(
      "wall_ms" -> wallMs, "jobs" -> jobs.toLong, "job_ms" -> jobMs,
      "driver_gap_ms" -> driverGapMs, "plan_ms" -> planMs,
      "codegen_compiles" -> codegenCompiles, "exec_run_ms" -> execRunMs,
      "input_bytes" -> inputBytes, "shuffle_read_bytes" -> shuffleReadBytes,
      "shuffle_write_bytes" -> shuffleWriteBytes, "spill_bytes" -> spillBytes,
      "memo_hits" -> memoHits, "memo_misses" -> memoMisses, "memo_evictions" -> memoEvictions,
      "files_read" -> filesRead)
    def json: String = fields.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
  }

  private final class Acc {
    val jobs = mutable.Map.empty[Int, (Long, Long)]
    val phases = mutable.ArrayBuffer.empty[(Long, Long)]
    var execRunMs, inputBytes, shuffleReadBytes, shuffleWriteBytes, spillBytes, filesRead = 0L

    /** the span's counters over the epoch-ms window [startMs, startMs + wallMs] */
    def record(startMs: Long, wallMs: Long, delta: Seq[Long]): Record = {
      val endMs = startMs + wallMs
      def clip(iv: Iterable[(Long, Long)]) =
        iv.map { case (s, e) => (math.max(s, startMs), math.min(e, endMs)) }.filter(x => x._2 > x._1)
      var covered, curS, curE = 0L
      clip(jobs.values).toSeq.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) { covered += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
      covered += curE - curS
      Record(wallMs, jobs.size, covered, clip(phases).map(x => x._2 - x._1).sum, delta(0),
        execRunMs, inputBytes, shuffleReadBytes, shuffleWriteBytes, spillBytes,
        delta(1), delta(2), delta(3), filesRead)
    }
  }
}
