package graft

import graft.streaming.Streams
import org.apache.spark.sql.functions._

class StreamingSpec extends SparkSpec {

  test("windowAggAvailableNow equals the batch window aggregation") {
    val streamed = Streams.windowAggAvailableNow(spark, sfDir)
      .orderBy("window_start", "event_type")
    val batch = graft.io.Tables.events(spark, sfDir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n_events"), col("sum_value"))
      .orderBy("window_start", "event_type")
    val s = streamed.collect()
    val b = batch.collect()
    assert(s.length === b.length)
    assert(s.sameElements(b))
  }

  test("directory-shaped parquet tables stream ALL rows (round-11 silent-empty regression)") {
    // A Spark-written table is a DIRECTORY of part-*.parquet leaves — the
    // layout every decade corpus and every real-world corpus uses. The old
    // pathGlobFilter source matched leaf FILE names against the table name
    // and silently streamed ZERO rows from it (verified at sf1: 0 streamed
    // vs 1,000,000 batch). This writes a MULTI-FILE directory table and
    // asserts streamed row count == batch row count through a streamTable
    // consumer; it must keep failing if anyone reintroduces the glob.
    val dir = tempDir("graft-dir-shaped").toString
    val src = graft.io.Tables.events(spark, sfDir)
    src.repartition(4).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val parts = new java.io.File(s"$dir/events.parquet").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(parts > 1, "regression guard needs a multi-file directory table")
    val streamed = Streams.windowAggAvailableNow(spark, dir)
    val streamedRows = streamed.agg(sum(col("n_events"))).head().getLong(0)
    val batchRows = src.count()
    assert(streamedRows === batchRows,
      s"directory-shaped table streamed $streamedRows of $batchRows rows")
    // and the aggregate itself matches the single-file layout's answer
    val viaSingleFile = Streams.windowAggAvailableNow(spark, sfDir)
      .orderBy("window_start", "event_type").collect()
    val viaDir = streamed.orderBy("window_start", "event_type").collect()
    assert(viaDir.sameElements(viaSingleFile))
  }

  test("windowAggAppendAvailableNow (watermark-evicting) equals the batch window aggregation") {
    val streamed = Streams.windowAggAppendAvailableNow(spark, sfDir)
      .orderBy("window_start", "event_type")
    val batch = graft.io.Tables.events(spark, sfDir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n_events"), col("sum_value"))
      .orderBy("window_start", "event_type")
    val s = streamed.collect()
    val b = batch.collect()
    assert(s.length === b.length)
    assert(s.sameElements(b))
  }

  test("parquet sink + checkpoint: exactly-once output, restart writes nothing new") {
    val work = tempDir("graft-stream-sink").toString
    val first = Streams.windowAggAppendToParquet(spark, sfDir, work)
    val batchCount = graft.io.Tables.events(spark, sfDir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type")).count().count()
    assert(first.count() === batchCount)
    // restart with the same checkpoint: no new input -> output unchanged
    val second = Streams.windowAggAppendToParquet(spark, sfDir, work)
    assert(second.count() === batchCount)
  }

  test("resume under a different batchRows budget fails loudly instead of restaging") {
    val work = tempDir("graft-stream-resume").toString
    val key = "spark.graft.stream.batchRows"
    val staged = try {
      spark.conf.set(key, "200")
      Streams.windowAggAppendToParquet(spark, sfDir, work).count()
    } finally spark.conf.unset(key)
    assert(staged > 0)
    val manifest = new java.io.File(s"$work/stage/_graft_stage")
    assert(manifest.isFile)
    val chunks = math.ceil(
      graft.io.Tables.events(spark, sfDir).count().toDouble / 200).toInt
    val before = new String(java.nio.file.Files.readAllBytes(manifest.toPath), "UTF-8")
    assert(before.contains(s"chunks=$chunks\n"))
    // the default budget stages ONE chunk: the checkpoint's offsets refer
    // to the multi-chunk files, so the stage must not be silently redone
    val ex = intercept[IllegalStateException](
      Streams.windowAggAppendToParquet(spark, sfDir, work))
    assert(ex.getMessage.contains(s"$work/stage"))
    assert(ex.getMessage.contains(s"staged with $chunks chunks"))
    assert(ex.getMessage.contains("needs 1 chunks"))
    assert(new String(java.nio.file.Files.readAllBytes(manifest.toPath), "UTF-8") === before)
  }

  test("a stage dir staged with the old three-file layout fails loudly on resume") {
    val work = tempDir("graft-stream-layout").toString
    val stage = new java.io.File(work, "stage")
    stage.mkdirs()
    val rows = graft.io.Tables.events(spark, sfDir).count()
    // the manifest of the [chunks] [sentinel +10h] [sentinel +20h] layout,
    // which had no layout tag
    val manifest = new java.io.File(stage, "_graft_stage")
    val old = s"chunks=1\nrows=$rows\nsource=$sfDir/events.parquet\n"
    java.nio.file.Files.write(manifest.toPath, old.getBytes("UTF-8"))
    val ex = intercept[IllegalStateException](
      Streams.windowAggAppendToParquet(spark, sfDir, work))
    assert(ex.getMessage.contains("delete the stage dir and its checkpoint"))
    assert(ex.getMessage.contains("layout ?"))
    assert(ex.getMessage.contains("layout sentinel-in-last-chunk"))
    assert(new String(java.nio.file.Files.readAllBytes(manifest.toPath), "UTF-8") === old)
    assert(!new java.io.File(work, "out").exists()) // nothing resumed

    // restaged from scratch: one data file holding the +10h sentinel, then
    // the +20h sentinel file, under a tagged manifest
    java.nio.file.Files.delete(manifest.toPath)
    assert(Streams.windowAggAppendToParquet(spark, sfDir, work).count() > 0)
    assert(new String(java.nio.file.Files.readAllBytes(manifest.toPath), "UTF-8")
      .contains("layout=sentinel-in-last-chunk\n"))
    val files = stage.listFiles().map(_.getName).filter(_.endsWith(".parquet")).sorted.toSeq
    assert(files === Seq("events-000.parquet", "events-001.parquet"))
    val staged = spark.read.parquet(stage.toString)
    assert(staged.count() === rows + 2)
    assert(spark.read.parquet(s"$stage/events-000.parquet")
      .where(col("event_type") === "__sentinel").count() === 1L)
  }

  test("clickAttributionAvailableNow (stream-stream join) equals the batch join") {
    val streamed = Streams.clickAttributionAvailableNow(spark, sfDir)
      .orderBy("click_id", "purchase_id").collect()
    val ev = graft.io.Tables.events(spark, sfDir)
    val clicks = ev.where(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user_id"),
        col("ts").as("purchase_ts"))
    val batch = clicks.join(purchases,
        col("user_id") === col("p_user_id") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("click_id"), col("purchase_id"), col("user_id"),
        col("click_ts"), col("purchase_ts"))
      .orderBy("click_id", "purchase_id").collect()
    assert(streamed.length === batch.length && streamed.length > 0)
    assert(streamed.sameElements(batch))
  }

  test("clickAttributionOuterAvailableNow equals the batch left join, nulls from real eviction") {
    val streamed = Streams.clickAttributionOuterAvailableNow(spark, sfDir)
      .orderBy(col("click_id"), col("purchase_id").asc_nulls_first).collect()
    val ev = graft.io.Tables.events(spark, sfDir)
    val clicks = ev.where(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user_id"),
        col("ts").as("purchase_ts"))
    val batch = clicks.join(purchases,
        col("user_id") === col("p_user_id") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"),
        "left_outer")
      .select(col("click_id"), col("purchase_id"), col("user_id"),
        col("click_ts"), col("purchase_ts"))
      .orderBy(col("click_id"), col("purchase_id").asc_nulls_first).collect()
    assert(streamed.length === batch.length && streamed.length > 0)
    // the unmatched rows — the part only state eviction can produce — must
    // be present, including clicks from the last hours of the stream (the
    // rows a stalled watermark would silently drop)
    val nullRows = streamed.filter(_.isNullAt(1))
    assert(nullRows.length === batch.count(_.isNullAt(1)) && nullRows.nonEmpty)
    val maxClickTs = batch.map(_.getTimestamp(3)).max((a: java.sql.Timestamp, b: java.sql.Timestamp) => a.compareTo(b))
    assert(nullRows.exists(_.getTimestamp(3).getTime > maxClickTs.getTime - 3 * 3600 * 1000L),
      "no unmatched click from the final 3 hours was flushed — watermark stalled")
    assert(streamed.sameElements(batch))
  }

  test("staged entries under FORCED multi-chunk replay equal their batch twins") {
    // the decade path: the backlog replays as many time-ordered chunks
    // (distributed partitionBy staging, watermark advancing between
    // batches). Tiny budgets force the multi-chunk path at oracle scale so
    // the chunked-replay equality argument (§9.4 windows, §16.10 joins) is
    // spec-asserted, not only prose.
    val batchKey = "spark.graft.stream.batchRows"
    val joinKey = "spark.graft.stream.joinChunkRows"
    try {
      spark.conf.set(batchKey, "200")
      spark.conf.set(joinKey, "200")
      val aggStreamed = Streams.windowAggAppendAvailableNow(spark, sfDir)
        .orderBy("window_start", "event_type").collect()
      val aggBatch = graft.io.Tables.events(spark, sfDir)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
        .select(col("w.start").as("window_start"), col("event_type"),
          col("n_events"), col("sum_value"))
        .orderBy("window_start", "event_type").collect()
      assert(aggStreamed.length === aggBatch.length && aggStreamed.nonEmpty)
      assert(aggStreamed.sameElements(aggBatch))

      val joinStreamed = Streams.clickAttributionOuterAvailableNow(spark, sfDir)
        .orderBy(col("click_id"), col("purchase_id").asc_nulls_first).collect()
      val ev = graft.io.Tables.events(spark, sfDir)
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id").as("p_user_id"),
          col("ts").as("purchase_ts"))
      val joinBatch = clicks.join(purchases,
          col("user_id") === col("p_user_id") &&
            col("purchase_ts") >= col("click_ts") &&
            col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"),
          "left_outer")
        .select(col("click_id"), col("purchase_id"), col("user_id"),
          col("click_ts"), col("purchase_ts"))
        .orderBy(col("click_id"), col("purchase_id").asc_nulls_first).collect()
      assert(joinStreamed.length === joinBatch.length && joinStreamed.nonEmpty)
      assert(joinStreamed.sameElements(joinBatch))
    } finally {
      spark.conf.unset(batchKey)
      spark.conf.unset(joinKey)
    }
  }

  test("dedupExactAvailableNow equals batch exact dedup") {
    val streamed = Streams.dedupExactAvailableNow(spark, sfDir)
      .orderBy("content_key").collect()
    val batch = graft.ops.Dedup.exact(
        graft.io.Tables.table(spark, sfDir, "documents"), "text", "doc_id")
      .orderBy("content_key").collect()
    assert(streamed.length === batch.length)
    assert(streamed.sameElements(batch))
  }

  test("sessionizeSessionWindowsAvailableNow (native session_window) equals batch sessionization") {
    import org.apache.spark.sql.expressions.Window
    val streamed = Streams.sessionizeSessionWindowsAvailableNow(spark, sfDir, gapMinutes = 30)
      .select(col("user_id").cast("long"), col("n_sessions"), col("n_events")).orderBy("user_id")
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val batch = graft.io.Tables.events(spark, sfDir)
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("is_new",
        when(col("prev_ts").isNull || col("ts") > col("prev_ts") + expr("INTERVAL 30 MINUTES"), 1L).otherwise(0L))
      .groupBy("user_id")
      .agg(sum(col("is_new")).as("n_sessions"), count(lit(1)).as("n_events"))
      .select(col("user_id").cast("long"), col("n_sessions"), col("n_events"))
      .orderBy("user_id")
    val s = streamed.collect()
    val b = batch.collect()
    assert(s.length === b.length)
    assert(s.sameElements(b))
  }

  test("heap-backed state store: sessionization identical to the RocksDB default") {
    // the state store provider must be a pure swap: same query, same rows.
    // RocksDB is the session default since round 14 (GraftSession), so the
    // equality is asserted against the heap-backed engine provider, set
    // through Spark's own key as a library user would.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(key)
    val heap = try {
      spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
      Streams.sessionizeSessionWindowsAvailableNow(spark, sfDir, gapMinutes = 30)
        .select(col("user_id").cast("long"), col("n_sessions"), col("n_events"))
        .orderBy("user_id").collect()
    } finally {
      prior match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
    val default = Streams.sessionizeSessionWindowsAvailableNow(spark, sfDir, gapMinutes = 30)
      .select(col("user_id").cast("long"), col("n_sessions"), col("n_events"))
      .orderBy("user_id").collect()
    assert(heap.length === default.length)
    assert(heap.sameElements(default))
  }

  test("stream-stream join: RocksDB + state format v3 equals the heap + v2 default (inner + outer)") {
    // the join replay runs on heap + join stateFormatVersion 2
    // (Streams.JoinReplayState — measured faster once chunks carry ~1M
    // rows); the session's RocksDB + v3 (one store with virtual column
    // families per partition instead of four) must not change a single
    // emitted row.
    def run(state: Map[String, String]) = Streams.clickAttribution(
        spark, sfDir, "left_outer", "graft_stream_join_outer", state)
      .orderBy(col("click_id"), col("purchase_id").asc_nulls_first).collect()
    val heapV2 = run(Streams.JoinReplayState) // harness default
    val rocksV3 = run(GraftSession.RocksDbState)
    assert(rocksV3.length === heapV2.length)
    assert(rocksV3.sameElements(heapV2))
  }

  test("session_window path: one user owning an entire shuffled batch sessionizes correctly") {
    import spark.implicits._
    // user 1 owns ~all of the batch, events written in SHUFFLED order with
    // three 30-min-gap sessions (incl. an exact-boundary event that must
    // MERGE); user 2 is a bystander. The engine's session operator does the
    // time ordering itself (spillable sort + state-store merge), so this is
    // the skewed-batch case that would stress a hand-buffered sort.
    val t0 = java.sql.Timestamp.valueOf("2024-03-01 00:00:00")
    def ts(min: Long) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    val u1 = // session A: 0..100 (step 1), B: 200..260 (step 2), C: 400
      ((0L to 100L) ++ (200L to 260L by 2) ++ Seq(400L)).map(m => (1L, ts(m)))
    val u1boundary = Seq((1L, ts(130L))) // 100 + 30: exact gap -> merges into A
    val u2 = Seq((2L, ts(0L)), (2L, ts(300L)))
    val rows = scala.util.Random.shuffle(u1 ++ u1boundary ++ u2).zipWithIndex
      .map { case ((uid, t), i) => (i.toLong, uid, "e", t, 1.0) }
    val dir = tempDir("graft-skew-events").toString
    rows.toDF("event_id", "user_id", "event_type", "ts", "value")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = Streams.sessionizeSessionWindowsAvailableNow(spark, dir, gapMinutes = 30)
      .orderBy("user_id").collect()
    // u1: A = 0..100 plus the 130 boundary event (102+1 events), B = 31, C = 1
    assert(out(0).toSeq === Seq(1L, 3L, 102L + 31L + 1L))
    assert(out(1).toSeq === Seq(2L, 2L, 2L))
  }

  test("sessionizeAvailableNow (flatMapGroupsWithState) equals batch sessionization") {
    import org.apache.spark.sql.expressions.Window
    val streamed = Streams.sessionizeAvailableNow(spark, sfDir, gapMinutes = 30)
      .select("user_id", "n_sessions", "n_events").orderBy("user_id")
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val batch = graft.io.Tables.events(spark, sfDir)
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("is_new",
        when(col("prev_ts").isNull || col("ts") > col("prev_ts") + expr("INTERVAL 30 MINUTES"), 1L).otherwise(0L))
      .groupBy("user_id")
      .agg(sum(col("is_new")).as("n_sessions"), count(lit(1)).as("n_events"))
      .select(col("user_id").cast("long"), col("n_sessions"), col("n_events"))
      .orderBy("user_id")
    val s = streamed.collect()
    val b = batch.collect()
    assert(s.length === b.length)
    assert(s.sameElements(b))
  }

  test("decontaminateMonitor: stateless stream-static verify equals the batch report") {
    val streamed = Streams.decontaminateMonitorAvailableNow(spark, sfDir)
      .orderBy("doc_id", "eval_id").collect()
    val docs = graft.io.Tables.documents(spark, sfDir)
    val batch = graft.ops.Dedup.decontaminateReport(
        docs.where(pmod(col("doc_id"), lit(10)) =!= 0),
        docs.where(pmod(col("doc_id"), lit(10)) === 0), "text", "doc_id")
      .orderBy("doc_id", "eval_id").collect()
    assert(streamed.nonEmpty)
    assert(streamed.sameElements(batch))
  }

  test("cleanFilterAvailableNow: stateless intake filter equals batch corpus_filter") {
    val streamed = Streams.cleanFilterAvailableNow(spark, sfDir)
      .orderBy("doc_id").collect()
    val docs = graft.io.Tables.documents(spark, sfDir)
    val batch = graft.ops.TextAnalysis.filterCorpus(
        docs.select(col("doc_id"), col("text"),
          graft.functions.gf.regroupLines(col("text"), 2).as("lined")),
        "text", "lined")
      .select(col("doc_id"), col("keep"), col("reason"))
      .orderBy("doc_id").collect()
    assert(streamed.nonEmpty)
    assert(streamed.sameElements(batch))
    // both verdicts occur at sf0.001 — the filter is exercised, not trivial
    assert(streamed.exists(_.getBoolean(1)) && streamed.exists(!_.getBoolean(1)))
  }
  test("driftMonitor: stream centroids bit-match batch; verdict mix is sane") {
    val got = Streams.driftMonitorAvailableNow(spark, sfDir)
      .orderBy("label").collect()
    assert(got.length > 0)
    // the streaming state's per-label means must equal the batch
    // groupCentroids means EXACTLY (decimal sums on both paths): recompute
    // the same verdict batch-side and compare whole rows
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    def cent(df: org.apache.spark.sql.DataFrame) =
      graft.ops.Similarity.groupCentroids(df, "label", "embedding")
        .groupBy("grp")
        .agg(sort_array(collect_list(struct(col("pos"), col("mean_x")))).as("pm"),
          max(col("n")).as("n_vecs"))
        .select(col("grp").as("label"),
          transform(col("pm"), p => p.getField("mean_x")).as("v"), col("n_vecs"))
    val s = cent(emb.where(pmod(col("vec_id"), lit(10)) =!= 0))
      .withColumnRenamed("v", "sm")
    val b = cent(emb.where(pmod(col("vec_id"), lit(10)) === 0))
      .select(col("label"), col("v").as("bm"))
    val cosE = col("dot") / (sqrt(col("na")) * sqrt(col("nb")))
    val want = s.join(b, "label")
      .withColumn("dot", aggregate(zip_with(col("sm"), col("bm"), (x, y) => x * y),
        lit(0.0), (a, v) => a + v))
      .withColumn("na", aggregate(transform(col("sm"), x => x * x), lit(0.0), (a, v) => a + v))
      .withColumn("nb", aggregate(transform(col("bm"), x => x * x), lit(0.0), (a, v) => a + v))
      .select(col("label"), col("n_vecs"), round(cosE, 6).as("cos_r"), (cosE < 0.1).as("drifted"))
      .orderBy("label").collect()
    assert(got.map(_.toSeq).toSeq === want.map(_.toSeq).toSeq)
    // synthetic labels are random -> near-orthogonal centroid splits: at
    // least one drifted row, and verdicts consistent with cos_r
    assert(got.exists(_.getBoolean(3)))
    got.foreach(r => assert(r.getBoolean(3) === (r.getDouble(2) < 0.1)))
  }

  test("streaming window top-k equals the batch rank-by-window answer") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val streamed = Streams.windowTopKAvailableNow(spark, sfDir, k = 3)
      .orderBy("window_start", "rank")
      .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2))).toSeq
    val ev = graft.io.Tables.events(spark, sfDir).where(col("value").isNotNull)
      .select(window(col("ts"), "1 hour")("start").as("ws"), col("event_id"), col("value"))
    val w = Window.partitionBy("ws").orderBy(col("value").desc, col("event_id").asc)
    val batch = ev.withColumn("rank", row_number().over(w))
      .where(col("rank") <= 3)
      .orderBy("ws", "rank")
      .collect().map(r => (r.getTimestamp(0), r.getInt(3).toLong, r.getLong(1))).toSeq
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("streaming heavy hitters equals the batch Misra-Gries summary at the exact point") {
    import org.apache.spark.sql.functions._
    val streamed = Streams.heavyHittersAvailableNow(spark, sfDir, capacity = 256, k = 25)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    val batch = graft.ops.Corpus.heavyHitters(
        graft.io.Tables.table(spark, sfDir, "documents"), "text", capacity = 256, k = 25)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("streaming rollup ingestion: equals batch totals; batch retries are idempotent") {
    import graft.ops.AggIndex
    val streamed = Streams.rollupIncrementalAvailableNow(spark, sfDir)
      .orderBy("event_type").collect()
    val ev = graft.io.Tables.events(spark, sfDir).where(col("value").isNotNull)
    val batch = ev
      .select(col("event_type"),
        expr("CAST(round(value * 100, 0) AS BIGINT)").as("c"),
        to_date(col("ts")).as("day"))
      .groupBy("event_type")
      .agg(count(lit(1)).cast("long").as("n_events"),
        sum(col("c")).cast("long").as("sum_cents"),
        countDistinct(col("day")).as("n_days"))
      .orderBy("event_type").collect()
    assert(streamed.sameElements(batch))
    // exactly-once: re-running a batch id REPLACES its partitions
    AggIndex.buildStreaming(spark, "graft_stream_rollup_spec")
    val half1 = ev.where(pmod(col("event_id"), lit(2)) === 0)
    val half2 = ev.where(pmod(col("event_id"), lit(2)) === 1)
    AggIndex.appendBatch(half1, 0L, "graft_stream_rollup_spec")
    AggIndex.appendBatch(half2, 1L, "graft_stream_rollup_spec")
    val once = AggIndex.query(spark, "graft_stream_rollup_spec")
      .orderBy("event_type").collect()
    AggIndex.appendBatch(half2, 1L, "graft_stream_rollup_spec") // the retry
    val retried = AggIndex.query(spark, "graft_stream_rollup_spec")
      .orderBy("event_type").collect()
    assert(retried.sameElements(once))
    // ...and the two-batch slicing equals the one-shot streamed totals
    assert(once.sameElements(streamed))
    spark.sql("DROP TABLE IF EXISTS graft_stream_rollup_spec")
  }

  test("streaming anomaly monitor bit-matches the batch twin; state is one row per user") {
    val streamed = Streams.anomalyMonitorAvailableNow(spark, sfDir)
      .orderBy("user_id").collect()
    val batch = Streams.anomalyStats(graft.io.Tables.events(spark, sfDir))
      .orderBy("user_id").collect()
    assert(streamed.sameElements(batch))
    // the shipped path is the foreachBatch parquet SNAPSHOT (the memory
    // sink materializes the users-sized complete-mode answer on the
    // driver); both sinks must commit identical state
    val viaMemory = Streams.anomalyMonitorViaMemorySink(spark, sfDir)
      .orderBy("user_id").collect()
    assert(streamed.sameElements(viaMemory))
    assert(streamed.nonEmpty)
    // one report row per user — the bounded-state contract's visible face
    val nUsers = graft.io.Tables.events(spark, sfDir)
      .select("user_id").distinct().count()
    assert(streamed.length === nUsers)
    // z-scores must not be degenerate: some mass near 0, booleans coherent
    streamed.foreach { r =>
      val z = r.getDouble(3)
      val anom = r.getBoolean(4)
      assert(anom === (math.abs(z) > 3.0) || math.abs(math.abs(z) - 3.0) < 1e-5)
    }
  }
}
