package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer counters for traced operations: a SparkListener that records every
  * job, stage and task with its timestamps, attributed afterwards to the
  * traced operation whose time window holds it, a QueryExecutionListener
  * that sums the file bytes each query's scans read, plus JVM GC and heap
  * readings and Spark's whole-stage-codegen compile histogram.
  */
final class Tracer(spark: SparkSession, slots: Int) {
  final case class TaskRec(launchMs: Long, finishMs: Long, cpuNs: Long, runMs: Long,
                           shuffleWrite: Long, spill: Long)

  private val tasks = new java.util.concurrent.ConcurrentLinkedQueue[TaskRec]()
  private val jobs = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
  private val stages = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
  @volatile private var events = 0L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.add(java.lang.Long.valueOf(e.time)); events += 1
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      stages.add(java.lang.Long.valueOf(e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())))
      events += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val i = e.taskInfo
      if (m != null) tasks.add(TaskRec(i.launchTime, i.finishTime, m.executorCpuTime,
        m.executorRunTime, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled))
      events += 1
    }
  }

  // Task input metrics count the pipeline's CSV reads but not its parquet
  // reads, so scanned bytes come from each file scan's "size of files read"
  // metric once its query has run.
  private val scanned = new java.util.concurrent.atomic.AtomicLong()
  private val queries = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      scanned.addAndGet(Tracer.filesRead(qe.executedPlan)); events += 1
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = events += 1
  }

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  private var gcMsAtStart = 0L
  private var gcMs = 0L
  private var peakHeapBytes = 0L

  private def gcNow: Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Begin a traced operation. */
  def start(): Unit = {
    heapPools.foreach(_.resetPeakUsage())
    gcMsAtStart = gcNow
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(queries)
  }

  /** End a traced operation once the listener bus has delivered its events. */
  def stop(): Unit = {
    var last = -1L
    while (last != events) { last = events; Thread.sleep(100) }
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(queries)
    gcMs += gcNow - gcMsAtStart
    peakHeapBytes = math.max(peakHeapBytes, heapPools.map(_.getPeakUsage.getUsed).sum)
  }

  private def within(ms: Long, o: Harness.OpRecord) = ms >= o.startMs - 1 && ms <= o.endMs + 1

  /** Tasks whose launch falls inside the operation's window. */
  def tasksOf(o: Harness.OpRecord): Seq[TaskRec] =
    tasks.asScala.filter(t => within(t.launchMs, o)).toSeq
  def jobsOf(o: Harness.OpRecord): Int = jobs.asScala.count(t => within(t, o))

  /** Wall time in the window with no task running anywhere. */
  private def gapSeconds(o: Harness.OpRecord): Double = {
    val iv = tasksOf(o).map(t => (math.max(t.launchMs, o.startMs), math.min(t.finishMs, o.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (a, b) =>
      if (a > curE) { covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    covered += curE - curS
    math.max(0.0, (o.endMs - o.startMs - covered) / 1000.0)
  }

  def sparkLayers(ops: Seq[Harness.OpRecord]): Seq[(String, Double)] = {
    val traced = ops.filter(_.traced)
    val n = math.max(1, traced.size).toDouble
    val ts = traced.flatMap(tasksOf)
    val wall = traced.map(_.seconds).sum
    // per kind: mean traced minus mean untraced latency of the same operation
    val overheads = ops.groupBy(_.kind).values.toSeq.flatMap { os =>
      val (t, u) = os.partition(_.traced)
      if (t.isEmpty || u.isEmpty) None
      else Some(Workload.mean(t.map(_.seconds)) - Workload.mean(u.map(_.seconds)))
    }
    Seq(
      "spark.jobs_per_op" -> traced.map(jobsOf).sum / n,
      "spark.stages_per_op" -> stages.asScala.count(s => traced.exists(within(s, _))) / n,
      "spark.tasks_per_op" -> ts.size / n,
      "spark.driver_gap_s" -> traced.map(gapSeconds).sum / n,
      "spark.busy_frac" -> (if (wall > 0) ts.map(_.runMs).sum / 1000.0 / (wall * slots) else 0.0),
      "spark.executor_cpu_s" -> ts.map(_.cpuNs).sum / 1e9 / n,
      "spark.shuffle_write_bytes_per_op" -> ts.map(_.shuffleWrite).sum / n,
      "spark.spill_bytes" -> ts.map(_.spill).sum / n,
      "jvm.gc_s" -> gcMs / 1000.0 / n,
      "jvm.peak_heap_mb" -> peakHeapBytes / 1048576.0,
      "trace.overhead_s" -> Workload.median(overheads)
    )
  }

  /** Input file bytes the scans of all traced operations read. */
  def scannedBytes: Long = scanned.get
}

object Tracer {
  private object Plans extends AdaptiveSparkPlanHelper

  /** Bytes of the files every file scan in an executed plan read. */
  def filesRead(plan: SparkPlan): Long = Plans.collect(plan) {
    case s: FileSourceScanExec => s.metrics.get("filesSize").map(_.value).getOrElse(0L)
  }.sum

  /** Whole-stage-codegen compilations so far in this JVM. */
  def codegenCount: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Compile seconds for `n` compilations: the histogram keeps a sample of
    * per-compile milliseconds, not their sum, so this is n x sample mean.
    */
  def codegenSeconds(n: Long): Double =
    n * CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean / 1000.0
}
