package graft

import graft.streaming.Streams
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._

/** The session's and the replay harness's fixed settings, checked through
  * what the engine does with them: the conf the session holds, and the
  * state operators each replay reports to a StreamingQueryListener. */
class StatePolicySpec extends SparkSpec {

  private val rocksProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Progress of every streaming query `body` starts, in start order. Start
    * events reach session listeners synchronously; the rest arrive on the
    * listener bus, so this waits for each query's termination event, which
    * follows its last progress event. */
  private def progressOf(body: => Unit): Seq[Seq[StreamingQueryProgress]] = {
    val started = new ConcurrentLinkedQueue[java.util.UUID]()
    val done = ConcurrentHashMap.newKeySet[java.util.UUID]()
    val progress = new ConcurrentHashMap[java.util.UUID, ConcurrentLinkedQueue[StreamingQueryProgress]]()
    val listener = new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = started.add(e.runId): Unit
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        progress.computeIfAbsent(e.progress.runId, _ => new ConcurrentLinkedQueue()).add(e.progress): Unit
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = done.add(e.runId): Unit
    }
    spark.streams.addListener(listener)
    try {
      body
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!started.asScala.forall(done.contains) && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(started.asScala.forall(done.contains), "a replay's termination event never arrived")
    } finally spark.streams.removeListener(listener)
    started.asScala.toSeq.map(id =>
      Option(progress.get(id)).map(_.asScala.toSeq).getOrElse(Seq.empty))
  }

  private def stateOps(ps: Seq[StreamingQueryProgress]) = ps.flatMap(_.stateOperators.toSeq)

  test("GraftSession.getOrCreate pins shuffled-hash joins and the RocksDB state store") {
    val s = GraftSession.getOrCreate()
    assert(s.conf.get("spark.sql.join.preferSortMergeJoin") === "false")
    assert(s.conf.get("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold") === "64m")
    assert(s.conf.get("spark.sql.streaming.stateStore.providerClass") === rocksProvider)
    assert(s.conf.get("spark.sql.streaming.join.stateFormatVersion") === "3")
    assert(s.conf.get(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled") === "true")
  }

  test("heap join, RocksDB sessions; batch-sized partitions; chunks + 1 data batches") {
    // the test data fits every chunk budget, so each staged replay is one
    // chunk whose batch also carries the +10h sentinel, then the +20h one
    val rows = graft.io.Tables.events(spark, sfDir).count()
    assert(rows < 500000L)
    val partitions = Streams.replayPartitions(rows,
      spark.conf.get("spark.sql.shuffle.partitions").toInt).toLong
    val join = progressOf(Streams.clickAttributionAvailableNow(spark, sfDir).count(): Unit)
    assert(join.size === 1)
    val joinOps = stateOps(join.head)
    assert(joinOps.nonEmpty)
    joinOps.foreach { op =>
      assert(op.numShufflePartitions === partitions)
      assert(op.customMetrics.containsKey("loadedMapCacheHitCount"), op.customMetrics)
      assert(!op.customMetrics.keySet.asScala.exists(_.startsWith("rocksdb")), op.customMetrics)
    }

    val sessions = progressOf(
      Streams.sessionizeSessionWindowsAvailableNow(spark, sfDir, gapMinutes = 30).count(): Unit)
    assert(sessions.size === 1)
    val sessionOps = stateOps(sessions.head)
    assert(sessionOps.nonEmpty)
    sessionOps.foreach { op =>
      assert(op.numShufflePartitions === partitions)
      assert(op.customMetrics.keySet.asScala.exists(_.startsWith("rocksdb")), op.customMetrics)
      assert(!op.customMetrics.containsKey("loadedMapCacheHitCount"), op.customMetrics)
    }

    // chunks + 1 = 2 batches, every one with input rows: the real rows and
    // the +10h sentinel, then the +20h sentinel; no trailing no-data batch
    (join ++ sessions).foreach { ps =>
      assert(ps.size === 2 && ps.forall(_.numInputRows > 0), ps.map(_.numInputRows))
    }
    assert(sessions.head.map(_.numInputRows) === Seq(rows + 1, 1L))
    // single-batch replays keep the fixed 8 partitions
    val window = progressOf(Streams.windowAggAvailableNow(spark, sfDir).count(): Unit)
    assert(window.size === 1 && stateOps(window.head).nonEmpty)
    stateOps(window.head).foreach(op => assert(op.numShufflePartitions === 8L))
    // the replay's settings were bound only around query start
    assert(spark.conf.get("spark.sql.streaming.stateStore.providerClass") === rocksProvider)
    assert(spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled") === "true")
  }

  test("replay partitions: one per 100k rows of the largest batch, clamped to the session's") {
    assert(Streams.replayPartitions(0L, 8) === 1)
    assert(Streams.replayPartitions(20001L, 8) === 1)
    assert(Streams.replayPartitions(100000L, 8) === 1)
    assert(Streams.replayPartitions(100001L, 8) === 2)
    assert(Streams.replayPartitions(1000001L, 32) === 11)
    assert(Streams.replayPartitions(1000001L, 4) === 4)
    assert(Streams.replayPartitions(Long.MaxValue, 200) === 200)
  }
}
