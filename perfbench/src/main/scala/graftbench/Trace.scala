package graftbench

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Counts Spark attributes to a span: summed over the tasks of every job the
  * span launched while it was the innermost open span. */
final class SparkCounts {
  var jobs = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var rowsRead = 0L
  var bytesRead = 0L
  var rowsWritten = 0L
  var bytesWritten = 0L
}

/** One micro-batch of a streaming query, as its progress event reports it. */
final case class BatchProgress(
    span: String, pass: Int, inputRows: Long, triggerMs: Long, addBatchMs: Long,
    planningMs: Long, walCommitMs: Long, stateCommitMs: Long, stateRows: Long,
    stateMemBytes: Long)

final case class Span(id: Int, name: String, parent: Int, pass: Int, startNs: Long) {
  @volatile var endNs: Long = 0L
  val counts = new SparkCounts
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans around the benchmark's calls into graft, with Spark's own listener
  * counts attributed to them. When not recording, `span` only runs its body,
  * so an untraced pass pays nothing beyond a branch.
  *
  * Attribution uses the job group: each span sets a group named after its
  * id, and the listener maps each job, then its stages, then their tasks to
  * that span. The listener bus is asynchronous, so [[drain]] runs a marker
  * job and waits for its end event; bus delivery is ordered, so every
  * earlier task event has been counted by then. */
final class Tracer(val enabled: Boolean) {
  val spans = new ArrayBuffer[Span]()
  val batches = new ArrayBuffer[BatchProgress]()
  @volatile private var stack: List[Span] = Nil
  @volatile var pass: Int = -1
  /** Spans are recorded only while active (the traced passes and probes). */
  @volatile var active: Boolean = false
  def recording: Boolean = enabled && active
  private var sc: SparkContext = _
  private val byGroup = new ConcurrentHashMap[String, Span]()
  private val byStage = new ConcurrentHashMap[Int, Span]()
  private val MarkerKey = "graftbench.marker"
  private val markerJob = new AtomicInteger(-1)
  @volatile private var markerLatch = new CountDownLatch(0)
  private val queryAt = new ConcurrentHashMap[java.util.UUID, (Int, String)]()
  private val queriesStarted = new AtomicInteger()
  private val queriesEnded = new AtomicInteger()

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      if (props.exists(_.getProperty(MarkerKey) == "1")) markerJob.set(e.jobId)
      else props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .flatMap(g => Option(byGroup.get(g))).foreach { s =>
        s.counts.synchronized(s.counts.jobs += 1)
        e.stageIds.foreach(id => byStage.put(id, s))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (e.jobId == markerJob.get) markerLatch.countDown()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (s <- Option(byStage.get(e.stageId)); m <- Option(e.taskMetrics)) {
        val c = s.counts
        c.synchronized {
          c.tasks += 1
          c.runMs += m.executorRunTime
          c.cpuMs += m.executorCpuTime / 1000000L
          c.gcMs += m.jvmGCTime
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          c.rowsRead += m.inputMetrics.recordsRead
          c.bytesRead += m.inputMetrics.bytesRead
          c.rowsWritten += m.outputMetrics.recordsWritten
          c.bytesWritten += m.outputMetrics.bytesWritten
        }
      }
  }

  private val streamListener = new StreamingQueryListener {
    // a query runs its micro-batch jobs in a job group named by its run id,
    // so they are attributed to the span that started the query
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
      val current = stack.headOption
      current.foreach(s => byGroup.put(e.runId.toString, s))
      queryAt.put(e.runId, (pass, current.fold("")(_.name)))
      queriesStarted.incrementAndGet(): Unit
    }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      val ops = p.stateOperators
      val (pass, span) = Option(queryAt.get(p.runId)).getOrElse((-1, ""))
      val b = BatchProgress(
        span = span, pass = pass,
        inputRows = p.numInputRows, triggerMs = d("triggerExecution"),
        addBatchMs = d("addBatch"), planningMs = d("queryPlanning"),
        walCommitMs = d("walCommit") + d("commitOffsets"),
        stateCommitMs = ops.map(_.commitTimeMs).sum,
        stateRows = ops.map(_.numRowsTotal).sum,
        stateMemBytes = ops.map(_.memoryUsedBytes).sum)
      batches.synchronized(batches += b)
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      queriesEnded.incrementAndGet(): Unit
  }

  /** Registers the listeners on a (new) session. */
  def attach(spark: SparkSession): Unit = if (enabled) {
    sc = spark.sparkContext
    sc.addSparkListener(jobListener)
    spark.streams.addListener(streamListener)
  }

  def span[A](name: String)(body: => A): A = if (!recording) body else {
    val s = Span(spans.size, name, stack.headOption.fold(-1)(_.id), pass, System.nanoTime())
    spans += s
    byGroup.put(s"span-${s.id}", s)
    stack = s :: stack
    sc.setJobGroup(s"span-${s.id}", name)
    try body
    finally {
      s.endNs = System.nanoTime()
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(s"span-${p.id}", p.name)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Waits until every listener event of the work done so far is counted. */
  def drain(): Unit = if (enabled) {
    markerLatch = new CountDownLatch(1)
    sc.setLocalProperty(MarkerKey, "1")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(MarkerKey, null)
    require(markerLatch.await(60, TimeUnit.SECONDS), "Spark listener bus did not drain")
  }

  /** Waits until every streaming query started so far has reported its
    * termination, and with it all of its progress events. */
  def drainStreams(): Unit = if (enabled) {
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (queriesEnded.get < queriesStarted.get && System.nanoTime() < deadline)
      Thread.sleep(5)
  }

  def passSpans(p: Int): Seq[Span] = spans.iterator.filter(_.pass == p).toSeq
  def passBatches(p: Int): Seq[BatchProgress] = batches.synchronized(batches.filter(_.pass == p).toSeq)

  /** The spans and micro-batches as JSON lines. */
  def dump(out: java.io.File): Unit = {
    val w = new java.io.PrintWriter(out, "UTF-8")
    try {
      spans.foreach { s =>
        val c = s.counts
        w.println(Json.obj(Seq(
          "span" -> s.name, "id" -> s.id, "parent" -> s.parent, "pass" -> s.pass,
          "start_ns" -> s.startNs, "end_ns" -> s.endNs, "jobs" -> c.jobs,
          "tasks" -> c.tasks, "exec_run_ms" -> c.runMs, "exec_cpu_ms" -> c.cpuMs,
          "gc_ms" -> c.gcMs, "shuffle_write_bytes" -> c.shuffleWriteBytes,
          "spill_bytes" -> c.spillBytes, "rows_read" -> c.rowsRead,
          "bytes_read" -> c.bytesRead, "rows_written" -> c.rowsWritten,
          "bytes_written" -> c.bytesWritten)))
      }
      batches.foreach { b =>
        w.println(Json.obj(Seq(
          "batch_of" -> b.span, "pass" -> b.pass, "input_rows" -> b.inputRows,
          "trigger_ms" -> b.triggerMs, "add_batch_ms" -> b.addBatchMs,
          "planning_ms" -> b.planningMs, "wal_commit_ms" -> b.walCommitMs,
          "state_commit_ms" -> b.stateCommitMs, "state_rows" -> b.stateRows,
          "state_mem_bytes" -> b.stateMemBytes)))
      }
    } finally w.close()
  }

  /** Spark counts summed over the spans named `name` in pass `p` (children
    * of those spans included). */
  def counts(p: Int, name: String): SparkCounts = {
    val roots = passSpans(p).filter(_.name == name).map(_.id).toSet
    val all = passSpans(p)
    def under(s: Span): Boolean =
      roots.contains(s.id) || (s.parent >= 0 && under(spans(s.parent)))
    val acc = new SparkCounts
    all.filter(under).foreach { s =>
      val c = s.counts
      acc.jobs += c.jobs; acc.tasks += c.tasks; acc.runMs += c.runMs
      acc.cpuMs += c.cpuMs; acc.gcMs += c.gcMs
      acc.shuffleWriteBytes += c.shuffleWriteBytes; acc.spillBytes += c.spillBytes
      acc.rowsRead += c.rowsRead; acc.bytesRead += c.bytesRead
      acc.rowsWritten += c.rowsWritten; acc.bytesWritten += c.bytesWritten
    }
    acc
  }

  /** Total ms of the spans named `name` in pass `p`. */
  def ms(p: Int, name: String): Double = passSpans(p).filter(_.name == name).map(_.ms).sum
}
