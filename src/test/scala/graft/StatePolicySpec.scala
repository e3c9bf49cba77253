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

  test("join replays run on the heap store, other stateful replays on RocksDB; 8 partitions, no empty tail batch") {
    val join = progressOf(Streams.clickAttributionAvailableNow(spark, sfDir).count(): Unit)
    assert(join.size === 1)
    val joinOps = stateOps(join.head)
    assert(joinOps.nonEmpty)
    joinOps.foreach { op =>
      assert(op.numShufflePartitions === 8L)
      assert(op.customMetrics.containsKey("loadedMapCacheHitCount"), op.customMetrics)
      assert(!op.customMetrics.keySet.asScala.exists(_.startsWith("rocksdb")), op.customMetrics)
    }

    val sessions = progressOf(
      Streams.sessionizeSessionWindowsAvailableNow(spark, sfDir, gapMinutes = 30).count(): Unit)
    assert(sessions.size === 1)
    val sessionOps = stateOps(sessions.head)
    assert(sessionOps.nonEmpty)
    sessionOps.foreach { op =>
      assert(op.numShufflePartitions === 8L)
      assert(op.customMetrics.keySet.asScala.exists(_.startsWith("rocksdb")), op.customMetrics)
      assert(!op.customMetrics.containsKey("loadedMapCacheHitCount"), op.customMetrics)
    }

    // every staged batch carries data: no trailing no-data batch runs
    (join ++ sessions).foreach { ps =>
      assert(ps.nonEmpty && ps.forall(_.numInputRows > 0), ps.map(_.numInputRows))
    }
    // the replay's settings were bound only around query start
    assert(spark.conf.get("spark.sql.streaming.stateStore.providerClass") === rocksProvider)
    assert(spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled") === "true")
  }
}
