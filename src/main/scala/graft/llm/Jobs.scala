package graft.llm

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

/** Local job registry mirroring the reference's job lifecycle
  * (sutro/sdk.py: create/status/await/cancel/results + parquet result
  * cache at ~/.sutro/job-results). Jobs here are Spark actions; results
  * are materialized to a repo-local parquet cache keyed by job id.
  *
  * Progress streaming (reference `attach`, sdk.py:853) maps to a shared
  * SparkListener: tasks stand in for request batches, written rows for
  * completed rows, and the caller's callback receives monotone
  * [[JobProgress]] ticks ending in one guaranteed final tick with the
  * complete totals. Failure reasons (reference `_get_failure_reason`,
  * sdk.py:1073) are captured from the failing action's exception.
  */
object Jobs {
  sealed trait Status { def isTerminal: Boolean }
  case object Queued extends Status { val isTerminal = false }
  case object Running extends Status { val isTerminal = false }
  case object Succeeded extends Status { val isTerminal = true }
  case object Failed extends Status { val isTerminal = true }
  case object Cancelled extends Status { val isTerminal = true }

  /** One progress tick of a running job: Spark tasks completed out of the
    * tasks the job has launched so far, plus rows written to the result
    * cache — the local analog of the reference's streamed row counts. */
  case class JobProgress(jobId: String, tasksDone: Long, tasksTotal: Long, rowsWritten: Long)

  /** priority mirrors the reference's job_priority (0 = prototyping);
    * schema is the submitted frame's, metadata included, so reading the
    * cache back needs no footer inference. */
  case class Job(id: String, name: Option[String], resultPath: String, schema: StructType,
      var status: Status, priority: Int = 0, var failureReason: Option[String] = None)

  private val counter = new AtomicLong(0)
  /** The local properties `SparkContext.setJobGroup` sets. */
  private val JobGroupKeys =
    Seq("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
  private val jobs = new ConcurrentHashMap[String, Job]()

  /** Resolved job-results cache directory — the single source of truth
    * (the CLI cache commands operate on the same location). */
  def cacheDir: String =
    sys.props.getOrElse("graft.jobs.dir", "target/graft/job-results")

  /** Submit: materialize `df` to the job cache. Synchronous (local mode);
    * the lifecycle states still transition so callers can poll uniformly. */
  def submit(df: DataFrame, name: Option[String] = None, priority: Int = 0): String =
    doSubmit(df, name, priority, None)

  /** Submit with a progress callback: `onProgress` receives a tick per
    * scheduling event (job/stage launched, task finished) and one
    * guaranteed FINAL tick carrying the complete totals — delivered before
    * or shortly after submit returns (the listener bus is asynchronous),
    * never lost. */
  def submit(df: DataFrame, name: Option[String], priority: Int,
      onProgress: JobProgress => Unit): String =
    doSubmit(df, name, priority, Some(onProgress))

  private def doSubmit(df: DataFrame, name: Option[String], priority: Int,
      onProgress: Option[JobProgress => Unit]): String = {
    val id = s"job-${counter.incrementAndGet()}"
    val path = s"$cacheDir/$id.parquet"
    val job = Job(id, name, path, df.schema, Queued, priority)
    jobs.put(id, job)
    job.status = Running
    val sc = df.sparkSession.sparkContext
    val groupId = s"graft-job-group-$id"
    val tracked = onProgress.map(f => Progress.register(sc, groupId, id, f))
    // the caller's job group (e.g. a tracer's span group) is put back after
    val callerGroup = JobGroupKeys.map(k => k -> sc.getLocalProperty(k))
    if (tracked.isDefined) sc.setJobGroup(groupId, s"graft $id", interruptOnCancel = false)
    val t0 = System.nanoTime()
    try {
      df.write.mode("overwrite").parquet(path)
      job.status = Succeeded
      // stamp the job id into the trace log (reference batch traces carry
      // sutro_job_id for per-job filtering, observability.py:48); recorded
      // here, not from a listener — attribution is race-free at the source
      graft.Observability.record(graft.Observability.Trace(
        action = s"jobs.submit${name.fold("")(n => s":$n")}",
        durationMs = (System.nanoTime() - t0) / 1000000L,
        success = true, error = None, rowsOut = -1L,
        atMillis = System.currentTimeMillis(), jobId = Some(id)))
    } catch {
      case e: Throwable =>
        job.status = Failed
        job.failureReason = Some(
          s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(500)}")
        graft.Observability.record(graft.Observability.Trace(
          action = s"jobs.submit${name.fold("")(n => s":$n")}",
          durationMs = (System.nanoTime() - t0) / 1000000L,
          success = false, error = job.failureReason, rowsOut = -1L,
          atMillis = System.currentTimeMillis(), jobId = Some(id)))
        throw e
    } finally {
      if (tracked.isDefined) {
        callerGroup.foreach { case (k, v) => sc.setLocalProperty(k, v) }
        Progress.complete(groupId)
      }
    }
    id
  }

  def status(id: String): Status =
    Option(jobs.get(id)).map(_.status).getOrElse(Failed)

  /** Why a job failed (reference _get_failure_reason, sdk.py:1073): None
    * for unknown ids, jobs that succeeded, or cancellations. */
  def failureReason(id: String): Option[String] =
    Option(jobs.get(id)).flatMap(_.failureReason)

  /** The cached results, read with the schema recorded at submit. */
  def results(spark: SparkSession, id: String): DataFrame = {
    val job = Option(jobs.get(id)).getOrElse(throw new NoSuchElementException(s"unknown job $id"))
    require(job.status == Succeeded, s"job $id is ${job.status}")
    spark.read.schema(job.schema).parquet(job.resultPath)
  }

  /** Await a terminal status (reference await_job_completion; local jobs
    * are synchronous, so this returns immediately but keeps the polling
    * contract for callers written against an async backend). */
  def await(id: String, pollMillis: Long = 100, timeoutMillis: Long = 60000): Status = {
    val deadline = System.currentTimeMillis() + timeoutMillis
    var s = status(id)
    while (!s.isTerminal && System.currentTimeMillis() < deadline) {
      Thread.sleep(pollMillis)
      s = status(id)
    }
    s
  }

  /** Attach to a job and stream its status transitions (reference attach,
    * sdk.py:853): `onUpdate` fires once per observed status change — for
    * an already-terminal job, exactly once with that state — until a
    * terminal state or the timeout. Returns the last status seen. */
  def attach(id: String, onUpdate: Status => Unit,
      pollMillis: Long = 50, timeoutMillis: Long = 60000): Status = {
    val deadline = System.currentTimeMillis() + timeoutMillis
    var last: Option[Status] = None
    var s = status(id)
    while ({
      if (!last.contains(s)) { onUpdate(s); last = Some(s) }
      !s.isTerminal && System.currentTimeMillis() < deadline
    }) {
      Thread.sleep(pollMillis)
      s = status(id)
    }
    s
  }

  def cancel(id: String): Status = {
    Option(jobs.get(id)).foreach { j => if (!j.status.isTerminal) j.status = Cancelled }
    status(id)
  }

  def list(): Seq[Job] = {
    import scala.jdk.CollectionConverters._
    jobs.values().asScala.toSeq.sortBy(_.id)
  }

  /** One shared SparkListener routing scheduler events to per-job-group
    * trackers. The final tick is exactly-once and complete: listener-bus
    * delivery is ordered, so when the group's last Spark job's JobEnd
    * arrives (or has already arrived when the writer finishes), every task
    * event of the group has been counted. */
  private object Progress {
    final class Tracker(groupId: String, jobId: String, onProgress: JobProgress => Unit) {
      private[Progress] val stages = ConcurrentHashMap.newKeySet[Integer]()
      private[Progress] val activeJobs = ConcurrentHashMap.newKeySet[Integer]()
      private[Progress] val tasksTotal = new AtomicLong
      private[Progress] val tasksDone = new AtomicLong
      private[Progress] val rows = new AtomicLong
      @volatile private[Progress] var writerDone = false
      private val finalized = new AtomicBoolean(false)
      private[Progress] def tick(): Unit =
        onProgress(JobProgress(jobId, tasksDone.get, tasksTotal.get, rows.get))
      private[Progress] def maybeFinalize(): Unit =
        if (writerDone && activeJobs.isEmpty && finalized.compareAndSet(false, true)) {
          tick()
          registry.remove(groupId): Unit
        }
    }

    private val registry = new ConcurrentHashMap[String, Tracker]()
    private val installed = new AtomicBoolean(false)

    def register(sc: org.apache.spark.SparkContext, groupId: String, jobId: String,
        onProgress: JobProgress => Unit): Tracker = {
      if (installed.compareAndSet(false, true)) sc.addSparkListener(listener)
      val t = new Tracker(groupId, jobId, onProgress)
      registry.put(groupId, t)
      t
    }

    /** The writer action returned (or threw): finalize now if the group's
      * scheduler events have all been delivered, else the listener
      * finalizes on the group's last JobEnd. */
    def complete(groupId: String): Unit =
      Option(registry.get(groupId)).foreach { t =>
        t.writerDone = true
        t.maybeFinalize()
      }

    private val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val gid = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        gid.flatMap(g => Option(registry.get(g))).foreach { t =>
          t.activeJobs.add(Int.box(e.jobId))
          t.tick()
        }
      }
      // task totals accrue at stage SUBMISSION, not job start: a job's
      // stageInfos list stages AQE may later skip entirely, which would
      // leave the final tick with tasksDone < tasksTotal forever
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
        val gid = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        gid.flatMap(g => Option(registry.get(g))).foreach { t =>
          if (t.stages.add(Int.box(e.stageInfo.stageId)))
            t.tasksTotal.addAndGet(e.stageInfo.numTasks): Unit
          t.tick()
        }
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val it = registry.values().iterator()
        while (it.hasNext) {
          val t = it.next()
          if (t.stages.contains(Int.box(e.stageId))) {
            t.tasksDone.incrementAndGet()
            val written = Option(e.taskMetrics).map(_.outputMetrics.recordsWritten).getOrElse(0L)
            t.rows.addAndGet(written)
            t.tick()
          }
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val it = registry.values().iterator()
        while (it.hasNext) {
          val t = it.next()
          if (t.activeJobs.remove(Int.box(e.jobId))) t.maybeFinalize()
        }
      }
    }
  }
}
