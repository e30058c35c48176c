package gokabench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval at a layer boundary. Times are epoch milliseconds. */
final case class Span(id: Long, name: String, workload: String, op: Long,
    parent: Long, startMs: Double, endMs: Double)

/** The traced run's recorder: spans around the benchmark's calls into
  * each layer, plus Spark's own job/task and SQL-execution counters.
  * Everything stays in memory until the artifact is written at exit.
  * Untraced runs never construct one. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private val ids = new AtomicLong
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  val jobs = new JobCounters
  val reads = new ReadCounters

  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  /** Time `f` as a span; Spark jobs it starts on this thread record the
    * span as their parent. */
  def span[T](name: String, workload: String, op: Long, parent: Long = 0L)(
      f: Long => T): T = {
    val id = ids.incrementAndGet()
    val prev = sc.getLocalProperty(Tracer.SpanProp)
    sc.setLocalProperty(Tracer.SpanProp, id.toString)
    val start = nowMs
    try f(id)
    finally {
      val end = nowMs
      sc.setLocalProperty(Tracer.SpanProp, prev)
      spans.synchronized { spans += Span(id, name, workload, op, parent, start, end) }
    }
  }

  def attach(): Unit = sc.addSparkListener(jobs)
  def detach(): Unit = { drain(); sc.removeSparkListener(jobs) }
  def drain(): Unit = org.apache.spark.BenchBus.drain(sc)
}

object Tracer { final val SpanProp = "gokabench.span" }

object JobCounters {
  final case class Job(id: Int, startMs: Long, endMs: Long, parent: Long,
      stages: Seq[Int])
  final case class Task(stage: Int, runMs: Long, cpuNs: Long,
      shuffleRead: Long, shuffleWrite: Long, spill: Long)
}

/** Spark job spans and per-task metrics. */
final class JobCounters extends SparkListener {
  import JobCounters._

  private val open = mutable.HashMap.empty[Int, Job]
  val jobs: mutable.ArrayBuffer[Job] = mutable.ArrayBuffer.empty
  val tasks: mutable.ArrayBuffer[Task] = mutable.ArrayBuffer.empty

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val parent = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Tracer.SpanProp))).map(_.toLong).getOrElse(0L)
    open(e.jobId) = Job(e.jobId, e.time, -1L, parent, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach(j => jobs += j.copy(endMs = e.time))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += Task(e.stageId, m.executorRunTime,
      m.executorCpuTime, m.shuffleReadMetrics.totalBytesRead,
      m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  def reset(): Unit = synchronized { jobs.clear(); tasks.clear() }
  def snapshot: (Seq[Job], Seq[Task]) = synchronized((jobs.toList, tasks.toList))
}

object ReadCounters {
  final case class Read(planMs: Double, execMs: Double, files: Long)
}

/** Planning time, execution time and files scanned of each SQL action. */
final class ReadCounters extends QueryExecutionListener {
  import ReadCounters._
  val reads: mutable.ArrayBuffer[Read] = mutable.ArrayBuffer.empty

  override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit = {
    val plan = qe.tracker.phases.values.map(_.durationMs).sum.toDouble
    val files = scans(qe.executedPlan).flatMap(_.metrics.get("numFiles"))
      .map(_.value).sum
    synchronized { reads += Read(plan, durationNs / 1e6, files) }
  }
  override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = ()

  private def scans(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case s: FileSourceScanExec => Seq(s)
    case o => o.children.flatMap(scans)
  }

  def reset(): Unit = synchronized(reads.clear())
  def snapshot: Seq[Read] = synchronized(reads.toList)
}

/** Small helpers shared by the traced workloads. */
object TraceMath {
  /** Total length of the union of [start, end) intervals. */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}
