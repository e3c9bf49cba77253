package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the defaults every graft entrypoint wants.
  *
  * Local mode is a single JVM; on a real cluster the same conf block applies
  * (AQE handles skew/coalesce at 100 TB, shuffle partitions are sized by the
  * driver env rather than the 200 default).
  */
object GraftSession {
  private val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** Streaming state store for every stateful query except the
    * stream-stream join replays (see [[graft.streaming.Streams.JoinReplayState]]):
    * RocksDB, the production store at 100 TB state scale (state lives on
    * local disk, not executor heap, so a hot key universe cannot OOM an
    * executor), and measured faster on every stateful catalog entry in the
    * round-14 A/Bs: the heap-backed provider pays ~75 ms of checkpoint-file
    * fan-out per store commit (a 2-row sentinel micro-batch of the
    * stream-stream join summed 2.2-2.6 s of commit time across its 32 store
    * instances), where RocksDB with changelog checkpointing appends one
    * changelog file per store instead of snapshotting. Join state format 3
    * keeps ONE RocksDB store per partition (virtual column families)
    * instead of four. Results are provider- and format-independent
    * (spec-asserted, oracle-checked). A library user can still set Spark's
    * own `spark.sql.streaming.stateStore.providerClass` on the session. */
  private[graft] val RocksDbState: Map[String, String] = Map(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.join.stateFormatVersion" -> "3",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")

  def getOrCreate(master: String = s"local[$cpus]"): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName("graft")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Prefer shuffled-hash over sort-merge when the planner's size
      // conditions allow, and let AQE rewrite SMJ->SHJ at runtime when
      // every post-shuffle partition of the build side is under the
      // threshold (guide §3.1: SHJ skips the sort on both sides and is
      // usually faster when a per-partition build fits in memory; AQE's
      // skew-join splitting still applies, and the threshold bounds the
      // per-task build at a size far under executor heaps at any scale).
      // Both are strategy-only knobs — join results are unchanged. The
      // A/B is OPTIMIZATION_r13.md §5 (plans/r13/dedup_semantic_*.txt).
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config(RocksDbState)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
