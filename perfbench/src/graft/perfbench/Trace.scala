package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

import graft.sources.{ManifestFileIndex, ManifestStore}

/** Wall clock in epoch milliseconds with nanosecond resolution, on the
  * same time base as Spark listener event times.
  */
object Clock {
  private val epochMs = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epochMs + (System.nanoTime() - nano0) / 1e6
}

/** One traced interval. `parent` is the enclosing span id (-1 at the
  * root); `op` the id of the benchmark op that caused it (-1 for the
  * harness itself). Times are epoch milliseconds.
  */
final case class Span(id: Int, name: String, start: Double, end: Double,
                      parent: Int, op: Int)

/** Span recorder for the single benchmark client. Spans are kept in
  * memory and written out once, at the end of the run. While disabled,
  * `span` only runs its body.
  */
final class Tracer {
  var enabled = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private var stack: List[(Int, Int)] = Nil // (span id, op id)

  def newId(): Int = { nextId += 1; nextId }

  def span[T](name: String, op: Int = -2)(body: => T): T =
    if (!enabled) body
    else {
      val id = newId()
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      val opId = if (op != -2) op else stack.headOption.map(_._2).getOrElse(-1)
      stack = (id, opId) :: stack
      val t0 = Clock.nowMs
      try body
      finally {
        stack = stack.tail
        spans += Span(id, name, t0, Clock.nowMs, parent, opId)
      }
    }
}

/** Per-stage totals from the task metrics Spark accumulates. */
final case class StageRec(stageId: Int, numTasks: Int, runS: Double, cpuS: Double,
                          gcS: Double, shuffleRead: Long, shuffleWrite: Long,
                          spill: Long, input: Long, output: Long)

final case class JobRec(jobId: Int, start: Double, var end: Double, op: Int,
                        stageIds: Seq[Int])

/** Query-planning phases of one SQL execution, from
  * `QueryExecution.tracker`, plus the number of graft nodes and
  * expressions in its executed plan, and the files its scans opened out of
  * the files their tables hold.
  */
final case class PlanRec(start: Double, analysisS: Double, optimizeS: Double,
                         planningS: Double, nativeNodes: Int, filesRead: Long,
                         filesLive: Long)

/** Collects Spark runtime events for the traced phase. Jobs are
  * attributed to ops through the [[RunListener.OpProperty]] local
  * property the harness sets around every op; SQL executions and planning
  * phases by time (the client is a closed loop, so ops never overlap).
  * All callbacks run on the listener bus thread; read the fields only
  * after the bus has drained.
  */
final class RunListener extends SparkListener with QueryExecutionListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.HashMap.empty[Int, StageRec]
  val taskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Double]]
  var failedTasks = 0L
  val sqlExecStarts = mutable.ArrayBuffer.empty[Double]
  val plans = mutable.ArrayBuffer.empty[PlanRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(RunListener.OpProperty)))
      .map(_.toInt).getOrElse(RunListener.NoOp)
    jobs(e.jobId) = JobRec(e.jobId, e.time.toDouble, Double.NaN, op, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val m = si.taskMetrics
    if (m != null)
      stages(si.stageId) = StageRec(si.stageId, si.numTasks,
        m.executorRunTime / 1e3, m.executorCpuTime / 1e9, m.jvmGCTime / 1e3,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskInfo != null) {
      if (e.taskInfo.failed) failedTasks += 1
      taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
        e.taskInfo.duration.toDouble
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized { sqlExecStarts += s.time.toDouble }
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def dur(k: String) = ph.get(k).map(_.durationMs / 1e3).getOrElse(0.0)
    val start = if (ph.isEmpty) Clock.nowMs else ph.values.map(_.startTimeMs).min.toDouble
    val nodes = try RunListener.nodes(qe.executedPlan) catch { case _: Exception => Nil }
    val (read, live) = scannedFiles(qe, nodes)
    synchronized {
      plans += PlanRec(start, dur("analysis"), dur("optimization"), dur("planning"),
        RunListener.nativeNodes(nodes), read, live)
    }
  }

  /** Live file count of each manifest table version the scans named. */
  private val liveFiles = mutable.HashMap.empty[(String, Long), Long]

  /** Files the plan's file scans opened (their `numFiles` metric), and
    * the files their tables hold. A manifest library read hands the scan
    * the files left after pruning, so its table's file count is the live
    * file count of the snapshot version it read; the scans of one version
    * in one plan (clean and deletion-vector files) share that count. For
    * other file indexes it is every file the index lists.
    */
  private def scannedFiles(qe: QueryExecution, nodes: Seq[SparkPlan]): (Long, Long) = {
    val scans = nodes.collect { case s: FileSourceScanExec => s }
    def opened(s: FileSourceScanExec) = s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    val (manifest, other) = scans.partition(_.relation.location.isInstanceOf[ManifestFileIndex])
    val perVersion = manifest.groupBy { s =>
      val idx = s.relation.location.asInstanceOf[ManifestFileIndex]
      (idx.root.toString, idx.snapshot.version)
    }.toSeq.map { case (key @ (root, v), ss) =>
      val live = liveFiles.getOrElseUpdate(key,
        ManifestStore.snapshotAt(qe.sparkSession, root, v).map(_.files.size.toLong)
          .getOrElse(ss.map(_.relation.location.inputFiles.length.toLong).sum))
      (math.min(ss.map(opened).sum, live), live)
    }
    val others = other.map { s =>
      val all = s.relation.location match {
        case p: PartitioningAwareFileIndex => p.allFiles().size.toLong
        case l => l.inputFiles.length.toLong
      }
      (opened(s), all)
    }
    val both = perVersion ++ others
    (both.map(_._1).sum, both.map(_._2).sum)
  }
}

object RunListener {
  val OpProperty = "graft.perfbench.op"
  val NoOp: Int = -1
  /** Jobs the harness runs for its own checks carry this op id. */
  val HarnessOp: Int = -3

  /** Every node of an executed plan, through adaptive and query-stage
    * wrappers and subqueries.
    */
  def nodes(plan: SparkPlan): Seq[SparkPlan] = {
    val nested = plan match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case _ => Nil
    }
    plan +: (nested ++ plan.children.flatMap(nodes) ++ plan.subqueries.flatMap(nodes))
  }

  /** Plan nodes and expressions that graft itself defines (the
    * `graft.plans` rewrites and native expressions).
    */
  def nativeNodes(nodes: Seq[SparkPlan]): Int = {
    def isGraft(o: AnyRef) = o.getClass.getName.startsWith("graft.")
    nodes.map(p => (if (isGraft(p)) 1 else 0) +
      p.expressions.map(_.collect { case e if isGraft(e) => 1 }.size).sum).sum
  }
}
