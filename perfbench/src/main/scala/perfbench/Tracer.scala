package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.SparkInternals

/** Spans of Spark's work, recorded from outside the program: one span per
  * SQL execution (with what its plan read, wrote and spent planning) and
  * one per job (with its tasks' totals). Kept in memory; the benchmark
  * summarises and clears them after each traced operation.
  */
final class Tracer extends SparkListener {
  import Tracer._

  private val execs = mutable.LinkedHashMap.empty[Long, Exec]
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
    jobs(e.jobId) = new Job(e.jobId, e.time, exec)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.runMs += m.executorRunTime
      j.cpuNs += m.executorCpuTime
      j.gcMs += m.jvmGCTime
      j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      j.spillBytes += m.diskBytesSpilled
      j.schedMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized { execs(s.executionId) = new Exec(s.executionId, s.time) }
    case x: SparkListenerSQLExecutionEnd =>
      val facts = PlanFacts.of(SparkInternals.queryExecution(x))
      synchronized { execs.get(x.executionId).foreach { ex => ex.end = x.time; ex.facts = facts } }
    case _ =>
  }

  /** Executions and jobs that started inside [from, to] (epoch ms). */
  def within(from: Long, to: Long): (Vector[Exec], Vector[Job]) = synchronized {
    (execs.valuesIterator.filter(x => x.start >= from && x.start <= to).toVector,
     jobs.valuesIterator.filter(j => j.start >= from && j.start <= to).toVector)
  }

  def clear(): Unit = synchronized { execs.clear(); jobs.clear(); stageJob.clear() }
}

object Tracer {

  final class Exec(val id: Long, val start: Long) {
    var end: Long = -1L
    var facts: PlanFacts = PlanFacts.empty
  }

  final class Job(val id: Int, val start: Long, val exec: Option[Long]) {
    var end: Long = -1L
    var stages, tasks = 0
    var runMs, cpuNs, gcMs, schedMs, shuffleBytes, spillBytes = 0L
  }

  final case class Scan(roots: Seq[String], files: Long, rows: Long)

  /** What one execution's plan wrote and read, and its planning phases. */
  final case class PlanFacts(write: Option[String], writeRows: Long, writeFiles: Long,
                             writeParts: Long, scans: Seq[Scan], phaseMs: Map[String, Long])

  object PlanFacts {
    val empty: PlanFacts = PlanFacts(None, 0L, 0L, 0L, Nil, Map.empty)

    private def metric(m: Map[String, SQLMetric], k: String): Long =
      m.get(k).map(_.value).getOrElse(0L)

    /** Every node of a finished physical plan, through adaptive wrappers,
      * query stages and subqueries. */
    def nodes(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec        => Seq(q.plan)
        case other                    => other.children ++ other.subqueries
      }
      p +: kids.flatMap(nodes)
    }

    def of(qe: QueryExecution): PlanFacts =
      if (qe == null) empty
      else {
        val all = nodes(qe.executedPlan)
        val write = all.collectFirst {
          case w: DataWritingCommandExec if w.cmd.isInstanceOf[InsertIntoHadoopFsRelationCommand] =>
            (w.cmd.asInstanceOf[InsertIntoHadoopFsRelationCommand], w.cmd.metrics)
        }
        val scans = all.collect { case s: FileSourceScanExec =>
          Scan(s.relation.location.rootPaths.map(_.toUri.getPath),
               metric(s.metrics, "numFiles"), metric(s.metrics, "numOutputRows"))
        }
        PlanFacts(
          write.map(_._1.outputPath.toUri.getPath),
          write.map(w => metric(w._2, "numOutputRows")).getOrElse(0L),
          write.map(w => metric(w._2, "numFiles")).getOrElse(0L),
          write.map(w => metric(w._2, "numParts")).getOrElse(0L),
          scans,
          qe.tracker.phases.map { case (k, v) => k -> v.durationMs })
      }
  }

  /** Length of the union of closed intervals, each clipped to [from, to]. */
  def covered(spans: Seq[(Long, Long)], from: Long, to: Long): Long = {
    val clipped = spans.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}
