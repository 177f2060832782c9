package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** What Spark's public listeners reported while one operation ran. Every
  * field is raw (times in epoch ms as the listeners give them); the
  * arithmetic over them lives in `perfbench/metrics.py`. */
final class OpEvents {
  val jobs = mutable.ArrayBuffer[Map[String, Any]]()
  val jobEnds = mutable.Map[Int, Long]()
  val stages = mutable.ArrayBuffer[Map[String, Any]]()
  /** One array per task, fields in the order of `TASK_FIELDS` in
    * `perfbench/metrics.py`. */
  val tasks = mutable.ArrayBuffer[Seq[Any]]()
  val sqlStarts = mutable.Map[Long, Long]()
  val sqlEnds = mutable.Map[Long, Long]()
  val queries = mutable.ArrayBuffer[Map[String, Any]]()
  val batches = mutable.ArrayBuffer[Map[String, Any]]()

  def toMap: Map[String, Any] = synchronized {
    Map(
      "jobs" -> jobs.map(j => j + ("end_ms" -> jobEnds.getOrElse(j("id").asInstanceOf[Int], -1L))).toSeq,
      "stages" -> stages.toSeq,
      "tasks" -> tasks.toSeq,
      "sql" -> sqlStarts.toSeq.sortBy(_._1).map { case (id, s) =>
        Map("id" -> id, "start_ms" -> s, "end_ms" -> sqlEnds.getOrElse(id, -1L)) },
      "queries" -> queries.toSeq,
      "batches" -> batches.toSeq)
  }
}

/** Registers one `SparkListener`, one `QueryExecutionListener` and one
  * `StreamingQueryListener`, and files every event under the operation
  * that was running when the event was processed. `drain()` waits for the
  * listener bus, so an operation's events are all filed before the next
  * one starts. `attach`/`detach` let untraced passes run with no listener
  * registered at all. */
final class Probe(spark: SparkSession) {
  @volatile private var current: OpEvents = null
  private val stageOwner = new java.util.concurrent.ConcurrentHashMap[Int, OpEvents]()
  private val jobOwner = new java.util.concurrent.ConcurrentHashMap[Int, OpEvents]()

  def begin(): OpEvents = { val e = new OpEvents; current = e; e }
  def end(): Unit = { drain(); current = null }
  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = current
      if (op == null) return
      jobOwner.put(e.jobId, op)
      e.stageIds.foreach(stageOwner.put(_, op))
      op.synchronized {
        op.jobs += Map("id" -> e.jobId, "start_ms" -> e.time, "stages" -> e.stageIds)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val op = jobOwner.remove(e.jobId)
      if (op != null) op.synchronized { op.jobEnds(e.jobId) = e.time }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val op = stageOwner.get(si.stageId)
      if (op == null) return
      op.synchronized {
        op.stages += Map("id" -> si.stageId,
          "submit_ms" -> si.submissionTime.getOrElse(-1L),
          "end_ms" -> si.completionTime.getOrElse(-1L),
          "ntasks" -> si.numTasks)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val op = stageOwner.get(e.stageId)
      val m = e.taskMetrics
      if (op == null || m == null) return
      val ti = e.taskInfo
      val sr = m.shuffleReadMetrics
      val sw = m.shuffleWriteMetrics
      op.synchronized {
        op.tasks += Seq(e.stageId, ti.launchTime, ti.finishTime, m.executorRunTime,
          m.executorCpuTime, m.jvmGCTime, m.executorDeserializeTime, m.peakExecutionMemory,
          sw.bytesWritten, sr.totalBytesRead, sr.fetchWaitTime, m.memoryBytesSpilled,
          m.diskBytesSpilled, m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
          m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        val op = current
        if (op != null) op.synchronized { op.sqlStarts(s.executionId) = s.time }
      case s: SparkListenerSQLExecutionEnd =>
        val op = current
        if (op != null) op.synchronized { op.sqlEnds(s.executionId) = s.time }
      case _ => ()
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(funcName, qe)
    private def record(funcName: String, qe: QueryExecution): Unit = {
      val op = current
      if (op == null) return
      val phases = qe.tracker.phases.map { case (k, p) => k -> Seq(p.startTimeMs, p.endTimeMs) }
      val shape = Probe.planShape(qe.executedPlan)
      op.synchronized { op.queries += (Map("func" -> funcName, "phases" -> phases) ++ shape) }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val op = current
      if (op == null) return
      val p = e.progress
      val ops = Option(p.stateOperators).map(_.toSeq).getOrElse(Nil)
      val dur = Option(p.durationMs).flatMap(d => Option(d.get("triggerExecution")))
        .map(_.longValue).getOrElse(0L)
      op.synchronized {
        op.batches += Map("trigger_ms" -> dur,
          "state_rows" -> ops.map(_.numRowsTotal).sum,
          "state_memory_bytes" -> ops.map(_.memoryUsedBytes).sum)
      }
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }
}

object Probe {
  /** Every node of a physical plan, looking through adaptive wrappers,
    * query stages and subqueries. */
  def nodes(p: SparkPlan): Iterator[SparkPlan] = {
    val inner: Iterator[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case _ => Iterator.empty
    }
    Iterator(p) ++ inner ++ p.children.iterator.flatMap(nodes) ++
      p.subqueries.iterator.flatMap(nodes)
  }

  def planShape(plan: SparkPlan): Map[String, Int] = {
    var exchanges, range, sorts, codegen = 0
    nodes(plan).foreach {
      case s: ShuffleExchangeExec =>
        exchanges += 1
        if (s.outputPartitioning.isInstanceOf[RangePartitioning]) range += 1
      case _: SortExec => sorts += 1
      case _: WholeStageCodegenExec => codegen += 1
      case _ => ()
    }
    Map("exchanges" -> exchanges, "range_exchanges" -> range, "sorts" -> sorts,
      "codegen_stages" -> codegen)
  }
}
