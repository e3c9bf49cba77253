package graftbench

import scala.collection.mutable.ArrayBuffer

import graft.{Graft, GraftSession}

/** The benchmark JVM: sets graft up, measures one workload for a fixed
  * time, checks every output, and writes one JSON result.
  *
  *   graftbench.Main --workload W --inputs DIR --seconds S --trace 0|1
  *     --result FILE [--spans FILE]
  *
  * Set-up, timed from JVM start, creates the session, validates the
  * inputs, computes the workload's reference answers, and warms up with
  * one batch pass. Batch passes are then measured for `--seconds`
  * ([[Main.MinPasses]] at least), and after them the workload's client,
  * if it has one, makes [[Main.WarmupCalls]] calls, then [[Main.Calls]]
  * measured ones. With
  * `--trace 1` the measured passes alternate untraced and traced, starting
  * and (at the minimum) ending untraced: the traced ones give the
  * per-layer metrics and the two sides give the tracing overhead; the
  * measured calls are traced. */
object Main {
  private val jvmStart = System.nanoTime()

  /** Measured batch passes per run, at least: rows_per_s is their median.
    * A data_prep pass takes about 10 s whatever its input size, and every
    * run must fit the benchmark's time budget, so data_prep measures two;
    * an llm pass takes about 3 s, so `--seconds` gives it three or more. */
  val MinPasses = 2
  /** Client calls per run: p90 has ten samples beyond it. */
  val Calls = 100
  /** Call latency keeps falling over the first hundred calls or so while
    * the JIT compiles the planning path, even after the batch passes. */
  val WarmupCalls = 100
  /** The trace's pass id of the measured calls. */
  private val CallsPass = Int.MaxValue

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = Workload(opts("workload"))
    val inputs = new java.io.File(opts("inputs")).getAbsolutePath
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    // a traced run puts its traced passes between untraced ones, so warm-up
    // drift over the run does not bill one side of the overhead
    val minPasses = if (traced) 3 else MinPasses
    val tracer = new Tracer(traced)

    val (spark, sessionMs) = Workload.timed(GraftSession.getOrCreate())
    val validateMs = Workload.timed(Inputs.validate(inputs, workload.tables))._2
    tracer.attach(spark)
    val ctx = Ctx(spark, new Graft(spark), inputs, tracer)
    val prepareMs = Workload.timed {
      workload.prepare(ctx)
      workload.client.foreach(_.prepare(ctx))
    }._2
    Hygiene.between(spark)
    val (warmupPass, warmupMs) = Workload.timed(guarded(workload.pass(ctx)))
    val setupS = (System.nanoTime() - jvmStart) / 1e9

    val results = ArrayBuffer[(PassResult, Double, Boolean)]()
    val liveHeapMb = ArrayBuffer[Double]()
    val measureStart = System.nanoTime()
    var i = 0
    while (i < minPasses || (System.nanoTime() - measureStart) / 1e9 < seconds) {
      Hygiene.between(spark)
      val traceThis = traced && i % 2 == 1
      tracer.pass = if (traceThis) i else -1
      tracer.active = traceThis
      val (r, ms) = Workload.timed(guarded(tracer.span("pass")(workload.pass(ctx))))
      tracer.active = false
      liveHeapMb += liveHeap()
      results += ((r, ms, traceThis))
      i += 1
    }
    Hygiene.between(spark)
    val (warmupCalls, calls) = workload.client.fold((CallsResult.none, CallsResult.none)) { c =>
      val warm = c.run(ctx, WarmupCalls)
      tracer.pass = CallsPass
      tracer.active = traced
      val measured = c.run(ctx, Calls)
      tracer.active = false
      tracer.pass = -1
      (warm, measured)
    }

    val rowsPerS = (rs: Iterable[(PassResult, Double, Boolean)]) =>
      Workload.median(rs.filter(_._1.rows > 0).map { case (r, _, _) => r.rows / (r.ms / 1000) }.toSeq)
    val checked = Seq(warmupCalls.attempted -> warmupCalls.failures,
      calls.attempted -> calls.failures, warmupPass.attempted -> warmupPass.failures) ++
      results.map(r => r._1.attempted -> r._1.failures)
    val failures = checked.flatMap(_._2)
    val attempted = checked.map(_._1).sum
    val failed = checked.map { case (n, f) => math.min(f.size, n) }.sum

    val metrics: Map[String, Double] =
      if (!traced) Map(
        "rows_per_s" -> rowsPerS(results),
        "setup_s" -> setupS,
        "live_heap_mb" -> Workload.median(liveHeapMb.toSeq))
      else {
        tracer.drain()
        tracer.drainStreams()
        val tracedPasses = results.indices.filter(j => results(j)._3)
        val perPass = tracedPasses.map { p =>
          val whole = tracer.counts(p, "pass")
          val wallMs = tracer.ms(p, "pass")
          workload.layers(ctx, p) ++ Map(
            "spark.jobs" -> whole.jobs.toDouble, "spark.tasks" -> whole.tasks.toDouble,
            "spark.exec_run_ms" -> whole.runMs.toDouble, "spark.exec_cpu_ms" -> whole.cpuMs.toDouble,
            "spark.gc_ms" -> whole.gcMs.toDouble,
            "spark.shuffle_write_bytes" -> whole.shuffleWriteBytes.toDouble,
            "spark.spill_bytes" -> whole.spillBytes.toDouble,
            "spark.core_busy_frac" ->
              whole.runMs / (wallMs * spark.sparkContext.defaultParallelism))
        }
        val layers = perPass.flatMap(_.keys).distinct.map { k =>
          k -> Workload.median(perPass.flatMap(_.get(k)))
        }.toMap
        val untracedRate = rowsPerS(results.filterNot(_._3))
        val tracedRate = rowsPerS(results.filter(_._3))
        tracer.active = true
        val probes = workload.probes(ctx)
        tracer.active = false
        layers ++ workload.client.fold(Map.empty[String, Double])(_.layers(ctx, CallsPass)) ++
          probes ++ Map(
          "session.create_ms" -> sessionMs,
          "trace.untraced_rows_per_s" -> untracedRate,
          "trace.traced_rows_per_s" -> tracedRate,
          "trace.overhead_frac" -> (if (untracedRate > 0) 1 - tracedRate / untracedRate else 0.0))
      }

    val stamp = Map(
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "master" -> spark.sparkContext.master,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "spark_conf" -> spark.conf.getAll.toSeq.sortBy(_._1).toMap)
    opts.get("spans").foreach(f => tracer.dump(new java.io.File(f)))
    spark.stop()

    val out = Json.obj(Seq(
      "workload" -> workload.name,
      "attempted" -> attempted,
      "failed" -> failed,
      "failures" -> failures.take(20),
      "correct" -> failures.isEmpty,
      "passes" -> results.size,
      "call_ms" -> calls.ms,
      "call_p50_ms" -> Workload.median(calls.ms),
      "call_p90_ms" -> Workload.percentile(calls.ms, 0.9),
      "setup_s" -> setupS,
      "session_ms" -> sessionMs,
      "validate_ms" -> validateMs,
      "prepare_ms" -> prepareMs,
      "warmup_ms" -> warmupMs,
      "pass_ms" -> results.map(_._2).toSeq,
      "live_heap_mb" -> liveHeapMb.toSeq,
      "metrics" -> metrics,
      "stamp" -> stamp))
    val w = new java.io.PrintWriter(new java.io.File(opts("result")), "UTF-8")
    try w.println(out) finally w.close()
  }

  /** A pass that throws counts as one failed operation. */
  private def guarded(pass: => PassResult): PassResult =
    try pass
    catch { case e: Exception =>
      PassResult(0L, 0.0, 1, Seq(s"pass threw ${e.getClass.getName}: ${e.getMessage}"))
    }

  /** Heap still in use after a full GC, in MB: what the pass left live
    * (pinned blocks, state stores, caches), before the next pass's
    * cleanup. */
  private def liveHeap(): Double = {
    System.gc()
    val rt = Runtime.getRuntime
    (rt.totalMemory - rt.freeMemory) / (1024.0 * 1024)
  }
}
