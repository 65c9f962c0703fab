package graftbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans and counters for the traced run, gathered only through public
  * hooks: a SparkListener (jobs and stage task metrics, keyed by the
  * job group the benchmark sets per operation), a
  * QueryExecutionListener (analysis/optimization/planning phases of
  * each action), CodegenMetrics and the JVM MXBeans. Nothing here is
  * registered in an untraced run. */
final class Tracer(sc: SparkContext) extends SparkListener with QueryExecutionListener {
  import Tracer._

  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val stageCost = mutable.Map.empty[Int, StageCost]
  private val plans = mutable.ArrayBuffer.empty[Phases]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs += Job(e.jobId, g, e.time, e.time, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val m = e.stageInfo.taskMetrics
    if (m != null) stageCost(e.stageInfo.stageId) = StageCost(m.executorRunTime,
      m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.bytesRead)
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases.values.map(p => (p.startTimeMs, p.endTimeMs)).toSeq
    synchronized { plans += Phases(ph) }
  }

  private def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private val compilesAtBegin = mutable.Map.empty[String, Long]
  private var seq = 0

  /** start an operation: its jobs carry the returned group id */
  def begin(cls: String): String = {
    seq += 1
    val g = s"op-$seq"
    sc.setJobGroup(g, cls, interruptOnCancel = false)
    compilesAtBegin(g) = codegenCompiles
    g
  }
  def end(): Unit = sc.clearJobGroup()
  def compilesSince(g: String): Long = codegenCompiles - compilesAtBegin(g)

  /** Per-operation layer counters, read once the listener bus has
    * delivered everything. Times are epoch ms. */
  def counters(g: String, startMs: Long, endMs: Long): Map[String, Double] = synchronized {
    val js = jobs.filter(_.group == g).toSeq
    val intervals = js.map(j => (math.max(j.start, startMs), math.min(j.end, endMs))).filter(x => x._2 > x._1).sortBy(_._1)
    var covered = 0L; var curS = -1L; var curE = -1L
    intervals.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    val stages = js.flatMap(_.stages).distinct.flatMap(stageCost.get)
    val planMs = plans.iterator.flatMap(_.spans)
      .filter { case (s, _) => s >= startMs && s <= endMs }.map { case (s, e) => e - s }.sum
    Map(
      "jobs" -> js.size.toDouble,
      "job_ms" -> js.map(j => j.end - j.start).sum.toDouble,
      "driver_gap_ms" -> ((endMs - startMs) - covered).toDouble,
      "plan_ms" -> planMs.toDouble,
      "exec_run_ms" -> stages.map(_.runMs).sum.toDouble,
      "shuffle_bytes" -> stages.map(_.shuffleBytes).sum.toDouble,
      "input_bytes" -> stages.map(_.inputBytes).sum.toDouble)
  }

  /** the op's Spark jobs, for the span file */
  def jobSpans(g: String): Seq[(Int, Long, Long)] = synchronized {
    jobs.filter(_.group == g).map(j => (j.id, j.start, j.end)).toSeq
  }

  def drain(): Unit = org.apache.spark.GraftBenchBridge.drainListeners(sc)
}

object Tracer {
  private final case class Job(id: Int, group: String, start: Long, var end: Long, stages: Seq[Int])
  private final case class StageCost(runMs: Long, shuffleBytes: Long, inputBytes: Long)
  private final case class Phases(spans: Seq[(Long, Long)])
}

/** JVM-wide time counters (GC and JIT), read around the measured phase. */
object Jvm {
  import java.lang.management.ManagementFactory
  import scala.jdk.CollectionConverters._
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
  private val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time of the whole process: the client, Spark's scheduler and
    * task threads, the JIT compiler and GC threads, and threads that
    * have ended. Time the host steals from the VM is charged to no
    * thread, so unlike wall time this does not move with a noisy host. */
  def cpuNs: Long = os.getProcessCpuTime
  def jitMs: Long = Option(ManagementFactory.getCompilationMXBean).map(_.getTotalCompilationTime).getOrElse(0L)
  /** heap retained after full collections */
  def retainedHeapMb: Double = {
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(100) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}
