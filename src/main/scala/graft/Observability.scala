package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** Spark-native analog of the reference's batch-run tracing
  * (sutro/observability.py: per-job traces with timings and outcomes sent
  * to an external tracer): a QueryExecutionListener records every action's
  * duration, outcome, and output row estimate into an in-process trace
  * log. A real deployment would forward these to its metrics backend; the
  * capture point and record shape are the stable part.
  */
object Observability {

  /** One completed Spark action. rowsOut is the optimizer's estimate when
    * stats are available (-1 otherwise) — cheap, no extra job. jobId links
    * the trace to the [[graft.llm.Jobs]] run that produced it (the
    * reference's batch traces carry a sutro_job_id for exactly this
    * filtering, observability.py:48) — None for ad-hoc actions. */
  case class Trace(
      action: String,
      durationMs: Long,
      success: Boolean,
      error: Option[String],
      rowsOut: Long,
      atMillis: Long,
      jobId: Option[String] = None)

  /** Capacity of the trace log: a ring that keeps the newest traces and
    * drops the oldest, so a long-lived session's log stays bounded. */
  private[graft] val MaxTraces = 10000

  private val traces = new java.util.ArrayDeque[Trace](MaxTraces)

  /** Record a trace directly (the Jobs registry stamps its job id here —
    * a listener cannot attribute an action to a job race-free). */
  def record(trace: Trace): Unit = traces.synchronized {
    if (traces.size == MaxTraces) traces.removeFirst()
    traces.addLast(trace)
  }

  private def snapshot: Seq[Trace] = traces.synchronized(traces.asScala.toVector)

  /** Traces belonging to one job, oldest first. */
  def forJob(jobId: String): Seq[Trace] = snapshot.filter(_.jobId.contains(jobId))
  private val attached = java.util.Collections.synchronizedSet(new java.util.HashSet[String]())

  private final class Listener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val rows = try qe.optimizedPlan.stats.rowCount.map(_.toLong).getOrElse(-1L)
      catch { case _: Throwable => -1L }
      record(Trace(funcName, durationNs / 1000000L, success = true, None, rows,
        System.currentTimeMillis()))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(Trace(funcName, 0L, success = false, Some(exception.getMessage), -1L,
        System.currentTimeMillis()))
  }

  /** Idempotent per-session attach. */
  def attach(spark: SparkSession): Unit = synchronized {
    val id = System.identityHashCode(spark).toString
    if (attached.add(id)) spark.listenerManager.register(new Listener)
  }

  def recent(n: Int = 100): Seq[Trace] = snapshot.takeRight(n)
  def clear(): Unit = traces.synchronized(traces.clear())
}
