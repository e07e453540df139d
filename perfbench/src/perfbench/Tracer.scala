package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Records what Spark reports about the benchmark's own operations: jobs,
  * stages and task metrics (SparkListener), Catalyst phases and plan row
  * counts (QueryExecutionListener) and micro-batches
  * (StreamingQueryListener). Everything is kept in memory; events are
  * matched to operations afterwards by time, because listener callbacks
  * arrive asynchronously and streaming jobs run under their own job
  * group. All times are epoch milliseconds. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val queries = new ConcurrentLinkedQueue[QeRec]()
  val batches = new ConcurrentLinkedQueue[BatchRec]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, Seq[Int])]()
  // a persisted table's plan runs once, in the first query that reads it
  private val seenCached = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
  private val taskAgg = new java.util.concurrent.ConcurrentHashMap[Int, TaskAgg]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobStart.put(e.jobId, (e.time, group, e.stageInfos.map(_.stageId)))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (t0, group, stageIds) =>
        jobs.add(JobRec(e.jobId, group, t0, e.time, stageIds))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val a = taskAgg.computeIfAbsent(e.stageId, _ => new TaskAgg)
        val info = e.taskInfo
        val overhead = m.executorDeserializeTime + m.resultSerializationTime +
          (if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L)
        a.synchronized {
          a.tasks += 1
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
          a.input += m.inputMetrics.bytesRead
          a.schedDelayMs += math.max(0L, info.duration - m.executorRunTime - overhead)
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val a = Option(taskAgg.remove(i.stageId)).getOrElse(new TaskAgg)
      stages.add(StageRec(i.stageId, i.submissionTime.getOrElse(0L),
        i.completionTime.getOrElse(0L), a))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe, durationNs)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe, 0L)
  }

  private def record(qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def phase(n: String): (Long, Long) =
      ph.get(n).map(p => (p.startTimeMs, p.endTimeMs)).getOrElse((0L, 0L))
    val plan = try Some(qe.executedPlan) catch { case _: Throwable => None }
    val nodes = plan.map(p => flatten(p, seenCached)).getOrElse(Nil)
    def rows(p: SparkPlan): Long = p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    val joinRows = nodes.filter(_.nodeName.contains("Join")).map(rows).sum
    // the first node that counts rows is the top of the written result
    val rowsOut = nodes.find(_.metrics.contains("numOutputRows")).map(rows).getOrElse(0L)
    val analysis = phase("analysis")
    val start = Seq(analysis, phase("optimization"), phase("planning"))
      .map(_._1).filter(_ > 0).reduceOption(_ min _).getOrElse(0L)
    queries.add(QeRec(start, analysis, phase("optimization"), phase("planning"),
      durationNs / 1e9, joinRows, rowsOut))
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val ts = java.time.Instant.parse(p.timestamp).toEpochMilli
      batches.add(BatchRec(p.id.toString, p.batchId, ts, d.getOrElse("triggerExecution", 0L),
        d.getOrElse("addBatch", 0L), d.getOrElse("walCommit", 0L),
        d.getOrElse("commitOffsets", 0L), d.getOrElse("queryPlanning", 0L),
        p.numInputRows, p.stateOperators.map(_.numRowsTotal).sum,
        p.stateOperators.map(_.memoryUsedBytes).sum))
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Wait for every posted event to arrive, then stop listening. */
  def detach(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }
}

object Tracer {
  final class TaskAgg {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
    var peakMem = 0L; var input = 0L; var schedDelayMs = 0L
  }
  final case class JobRec(id: Int, group: String, startMs: Long, endMs: Long, stageIds: Seq[Int])
  final case class StageRec(id: Int, startMs: Long, endMs: Long, agg: TaskAgg)
  final case class QeRec(startMs: Long, analysis: (Long, Long), optimization: (Long, Long),
                         planning: (Long, Long), execS: Double, joinRows: Long, rowsOut: Long)
  final case class BatchRec(query: String, batchId: Long, startMs: Long, triggerMs: Long,
                            addBatchMs: Long, walCommitMs: Long, commitOffsetsMs: Long,
                            planningMs: Long, inputRows: Long, stateRows: Long, stateMem: Long)

  /** Every physical node, looking through adaptive plans, query stages
    * and, the first time one is met, a persisted table's own plan. */
  def flatten(p: SparkPlan, seen: java.util.Set[SparkPlan]): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => flatten(a.executedPlan, seen)
    case q: QueryStageExec        => flatten(q.plan, seen)
    case m: InMemoryTableScanExec =>
      val cached = m.relation.cachedPlan
      m +: (if (seen.add(cached)) flatten(cached, seen) else Nil)
    case other                    => other +: other.children.flatMap(flatten(_, seen))
  }
}
