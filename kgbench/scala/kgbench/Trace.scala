package kgbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

final case class TaskRec(stageId: Int, runMs: Long, cpuNs: Long, shuffleBytes: Long, spillBytes: Long)

final class JobRec(val id: Int, val group: String, val execId: Long, val startMs: Long, val stageIds: Seq[Int])

/** One finished query execution: its id, action name, output path (for
  * file writes), rows written, and the executed plan with its metrics. */
final case class QeRec(qeId: Long, func: String, outputPath: String, rowsOut: Long, plan: SparkPlan)

/** Spans and counters of one traced repetition, collected from
  * Spark's listener buses only: jobs (with their job group and SQL
  * execution), finished tasks, SQL execution start/end times, and the
  * executed plan of every successful query. */
final class Tracer extends SparkListener with QueryExecutionListener {
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val tasks = mutable.ArrayBuffer.empty[TaskRec]
  val queries = mutable.ArrayBuffer.empty[QeRec]
  val execEnd = mutable.Map.empty[Long, Long]
  private val rootOf = mutable.Map.empty[Long, Long]
  private val execOfQe = mutable.Map.empty[Long, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    jobs += new JobRec(e.jobId, prop("spark.jobGroup.id").orNull,
      prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L), e.time, e.stageIds)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += TaskRec(e.stageId, m.executorRunTime, m.executorCpuTime,
      m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled + m.memoryBytesSpilled)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized { rootOf(s.executionId) = s.rootExecutionId.getOrElse(s.executionId) }
    case s: SparkListenerSQLExecutionEnd => synchronized {
      execEnd(s.executionId) = s.time
      Option(org.apache.spark.sql.SparkHooks.queryExecution(s)).foreach(q => execOfQe(q.id) = s.executionId)
    }
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    val write = Trace.writeOf(qe.executedPlan)
    val path = write.flatMap(w => Option(w.cmd).collect {
      case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString
    }).orNull
    val rows = write.flatMap(_.metrics.get("numOutputRows")).map(_.value).getOrElse(-1L)
    queries += QeRec(qe.id, funcName, path, rows, qe.executedPlan)
  }

  /** SQL execution id of a query execution (its jobs carry this id). */
  def execOf(q: QeRec): Long = synchronized(execOfQe.getOrElse(q.qeId, -1L))

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def root(exec: Long): Long = synchronized {
    var r = exec
    while (rootOf.get(r).exists(_ != r)) r = rootOf(r)
    r
  }

  /** Each Spark stage counts once, under the first job that lists it. */
  def stageOwner: Map[Int, JobRec] = synchronized {
    val m = mutable.Map.empty[Int, JobRec]
    jobs.sortBy(_.id).foreach(j => j.stageIds.foreach(s => m.getOrElseUpdate(s, j)))
    m.toMap
  }
}

/** Counters summed over a set of jobs. */
final case class JobSum(jobs: Int, shuffleBytes: Long, spillBytes: Long, taskCpuS: Double,
    taskRunS: Double, skew: Double)

object Trace {
  def sum(t: Tracer, js: Seq[JobRec]): JobSum = {
    val owner = t.stageOwner
    val ids = js.map(_.id).toSet
    val ts = t.tasks.filter(k => owner.get(k.stageId).exists(j => ids(j.id))).toSeq
    // task skew: worst max/median task run time over the Spark stages
    // with at least two tasks
    val skews = ts.groupBy(_.stageId).values.filter(_.size >= 2).map { g =>
      val r = g.map(_.runMs.toDouble).sorted
      val med = Stats.median(r)
      if (med > 0) r.last / med else 1.0
    }
    JobSum(js.size, ts.map(_.shuffleBytes).sum, ts.map(_.spillBytes).sum,
      ts.map(_.cpuNs).sum / 1e9, ts.map(_.runMs).sum / 1e3,
      if (skews.isEmpty) 1.0 else skews.max)
  }

  /** Every node of an executed plan, descending through adaptive plans
    * and their query stages. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: (other.children.flatMap(nodes) ++ other.subqueries.flatMap(nodes))
  }

  /** The file-write node of an executed command plan, if any. */
  def writeOf(p: SparkPlan): Option[DataWritingCommandExec] = p match {
    case w: DataWritingCommandExec => Some(w)
    case c: CommandResultExec => writeOf(c.commandPhysicalPlan)
    case a: AdaptiveSparkPlanExec => writeOf(a.executedPlan)
    case q: QueryStageExec => writeOf(q.plan)
    case other => other.children.iterator.flatMap(c => writeOf(c)).nextOption()
  }

  def rows(p: SparkPlan): Long = p.metrics.get("numOutputRows").map(_.value).getOrElse(-1L)
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
