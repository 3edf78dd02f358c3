package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Layer collector for the traced run, on public listener APIs only.
  * Events are kept in memory; [[Layers]] turns them into spans and
  * per-layer metrics when the run ends. Each Spark job is tied to the
  * benchmark rep that ran it through the job group the benchmark sets. */
final class Collector extends SparkListener with QueryExecutionListener {
  import Collector._

  val jobs = new ConcurrentLinkedQueue[Job]()
  val stages = new ConcurrentLinkedQueue[Stage]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  val plans = new ConcurrentLinkedQueue[Plan]()
  /** Bytes of RDD blocks stored while each job ran, by job id. */
  val staged = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  // Running jobs in start order, with the RDDs of their stages: a block
  // update names its RDD but not the job that stored it.
  private val running = scala.collection.mutable.LinkedHashMap[Int, Set[Int]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val name = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
    running(e.jobId) = e.stageInfos.flatMap(_.rddInfos.map(_.id)).toSet
    jobs.add(Job(e.jobId, group, e.time, name, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    running.remove(e.jobId)
    jobEnds.put(e.jobId, e.time)
  }

  def jobEnd(id: Int): Option[Long] = Option(jobEnds.get(id))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    stages.add(Stage(s.stageId, s.name, s.submissionTime.getOrElse(0L),
      s.completionTime.getOrElse(0L)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = e.taskMetrics
    if (m == null) tasks.add(Task(e.stageId, i.launchTime, i.finishTime, ok = false))
    else tasks.add(Task(e.stageId, i.launchTime, i.finishTime,
      ok = i.successful && !i.speculative,
      runMs = m.executorRunTime, cpuNs = m.executorCpuTime, gcMs = m.jvmGCTime,
      readBytes = m.inputMetrics.bytesRead, readRows = m.inputMetrics.recordsRead,
      writeBytes = m.outputMetrics.bytesWritten,
      writeRows = m.outputMetrics.recordsWritten,
      shuffleWrite = m.shuffleWriteMetrics.bytesWritten,
      shuffleRead = m.shuffleReadMetrics.totalBytesRead,
      fetchWaitMs = m.shuffleReadMetrics.fetchWaitTime,
      spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    for (rdd <- b.blockId.asRDDId if b.storageLevel.isValid;
         job <- running.toSeq.reverse.find(_._2.contains(rdd.rddId)).map(_._1))
      staged.merge(job, b.memSize + b.diskSize, (x: Long, y: Long) => x + y)
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = record(qe)

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = record(qe)

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def phase(n: String): (Long, Long) =
      ph.get(n).map(p => (p.startTimeMs, p.endTimeMs)).getOrElse((0L, 0L))
    val ops = scala.collection.mutable.Map[String, Double]()
    try nodes(qe.executedPlan).foreach { n =>
      val secs = n.metrics.values.map { m =>
        m.metricType match {
          case "timing" => m.value / 1e3
          case "nsTiming" => m.value / 1e9
          case _ => 0.0
        }
      }.sum
      if (secs > 0) {
        val k = n.nodeName.takeWhile(_ != ' ')
        ops(k) = ops.getOrElse(k, 0.0) + secs
      }
    } catch { case _: Throwable => () }
    plans.add(Plan(phase("analysis"), phase("optimization"), phase("planning"),
      ops.toMap))
  }
}

object Collector {
  final case class Job(id: Int, group: String, start: Long, name: String,
                       stageIds: Seq[Int])
  final case class Stage(id: Int, name: String, start: Long, end: Long)
  final case class Task(stage: Int, launch: Long, finish: Long, ok: Boolean,
                        runMs: Long = 0, cpuNs: Long = 0, gcMs: Long = 0,
                        readBytes: Long = 0, readRows: Long = 0,
                        writeBytes: Long = 0, writeRows: Long = 0,
                        shuffleWrite: Long = 0, shuffleRead: Long = 0,
                        fetchWaitMs: Long = 0, spillBytes: Long = 0)
  /** Planning phases of one executed query, as (start, end) epoch ms,
    * plus the timing SQL metrics of its executed plan, in seconds per
    * physical node name. */
  final case class Plan(analysis: (Long, Long), optimization: (Long, Long),
                        physical: (Long, Long), ops: Map[String, Double]) {
    def start: Long = Seq(analysis, optimization, physical).map(_._1)
      .filter(_ > 0).minOption.getOrElse(0L)
  }

  /** Every node of an executed plan, through adaptive and query-stage
    * wrappers and subqueries. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case n => n +: (n.children ++ n.subqueries).flatMap(nodes)
  }

  def snapshot[A](q: ConcurrentLinkedQueue[A]): Seq[A] = q.asScala.toSeq
}
