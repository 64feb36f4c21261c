package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** Scheduler, executor and shuffle events, attached from outside the
  * engine. Jobs and stages carry the op id the benchmark sets as a local
  * property; tasks inherit it from their stage. Events arrive on the
  * listener bus thread, so aggregation waits until the bus is drained. */
final class SparkRecorder extends SparkListener {
  import SparkRecorder._

  val jobs = new ConcurrentLinkedQueue[Job]()
  val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  val stages = new ConcurrentLinkedQueue[(Int, Int)]() // (stage id, op)
  val tasks = new ConcurrentLinkedQueue[Task]()

  private def opOf(p: java.util.Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty(OpProperty))).map(_.toInt).getOrElse(-1)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.add(Job(e.jobId, opOf(e.properties), e.time,
      Option(e.properties).exists(_.getProperty("spark.sql.execution.id") != null)))

  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnds.put(e.jobId, e.time)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stages.add((e.stageInfo.stageId, opOf(e.properties)))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = e.taskMetrics
    val failed = e.reason != Success
    if (m == null) tasks.add(Task(e.stageId, failed, 0, 0, 0, 0, 0, 0, 0, 0))
    else {
      val duration = if (i.finishTime > 0) i.finishTime - i.launchTime else 0L
      val gettingResult = if (i.gettingResult) i.finishTime - i.gettingResultTime else 0L
      val schedDelay = math.max(0L, duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
      tasks.add(Task(e.stageId, failed, m.executorRunTime, m.executorCpuTime / 1000000.0,
        schedDelay, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        m.shuffleWriteMetrics.recordsWritten, m.diskBytesSpilled, m.resultSize))
    }
  }

  /** Per-op sums of every counter, after the bus has drained. */
  def perOp(window: Int => Option[(Long, Long)]): Map[Int, Map[String, Double]] = {
    val out = scala.collection.mutable.Map[Int, scala.collection.mutable.Map[String, Double]]()
    def add(op: Int, k: String, v: Double): Unit =
      if (op >= 0) {
        val m = out.getOrElseUpdate(op, scala.collection.mutable.Map())
        m(k) = m.getOrElse(k, 0.0) + v
      }
    val js = jobs.asScala.toSeq
    js.foreach { j =>
      add(j.op, "spark.jobs", 1)
      add(j.op, "catalyst.sql_jobs", if (j.sql) 1 else 0)
    }
    // union of job intervals inside each op's window
    js.groupBy(_.op).foreach { case (op, opJobs) =>
      window(op).foreach { case (s, e) =>
        val iv = opJobs.map(j => (math.max(s, j.startMs),
          math.min(e, Option(jobEnds.get(j.id)).getOrElse(e)))).filter(x => x._2 > x._1).sortBy(_._1)
        var active = 0L; var curS = -1L; var curE = -1L
        iv.foreach { case (a, b) =>
          if (a > curE) { active += curE - curS; curS = a; curE = b }
          else curE = math.max(curE, b)
        }
        active += curE - curS
        add(op, "spark.job_active_ms", active.toDouble)
      }
    }
    val stageOp = stages.asScala.map(x => x._1 -> x._2).toMap
    stages.asScala.foreach { case (_, op) => add(op, "spark.stages", 1) }
    tasks.asScala.foreach { t =>
      val op = stageOp.getOrElse(t.stageId, -1)
      add(op, "spark.tasks", 1)
      add(op, "spark.failed_tasks", if (t.failed) 1 else 0)
      add(op, "spark.task_run_ms", t.runMs.toDouble)
      add(op, "spark.task_cpu_ms", t.cpuMs)
      add(op, "spark.sched_delay_ms", t.schedDelayMs.toDouble)
      add(op, "spark.shuffle_write_bytes", t.shuffleWrite.toDouble)
      add(op, "spark.shuffle_read_bytes", t.shuffleRead.toDouble)
      add(op, "spark.shuffle_records", t.shuffleRecords.toDouble)
      add(op, "spark.spill_bytes", t.spill.toDouble)
      add(op, "spark.result_bytes", t.resultBytes.toDouble)
    }
    out.map { case (k, v) => k -> v.toMap }.toMap
  }
}

object SparkRecorder {
  val OpProperty = "perfbench.op"
  final case class Job(id: Int, op: Int, startMs: Long, sql: Boolean)
  final case class Task(stageId: Int, failed: Boolean, runMs: Long, cpuMs: Double,
      schedDelayMs: Long, shuffleWrite: Long, shuffleRead: Long, shuffleRecords: Long,
      spill: Long, resultBytes: Long)
}

/** Catalyst phase times of every observed SQL execution. The listener
  * gets no op id, so an execution belongs to the op whose window holds
  * the end of its last planning phase; ops are separated by a gap
  * longer than the clock's resolution. */
final class CatalystRecorder extends QueryExecutionListener {
  final case class Exec(atMs: Long, analysisMs: Long, optimizationMs: Long, planningMs: Long)
  val execs = new ConcurrentLinkedQueue[Exec]()

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
    val at = if (ph.isEmpty) System.currentTimeMillis() else ph.values.map(_.endTimeMs).max
    execs.add(Exec(at, ms("analysis"), ms("optimization"), ms("planning")))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  def perOp(opAt: Long => Option[Int]): Map[Int, Map[String, Double]] =
    execs.asScala.toSeq.flatMap(e => opAt(e.atMs).map(_ -> e)).groupBy(_._1).map { case (op, es) =>
      op -> Map(
        "catalyst.executions" -> es.size.toDouble,
        "catalyst.analysis_ms" -> es.map(_._2.analysisMs).sum.toDouble,
        "catalyst.optimization_ms" -> es.map(_._2.optimizationMs).sum.toDouble,
        "catalyst.planning_ms" -> es.map(_._2.planningMs).sum.toDouble)
    }
}
