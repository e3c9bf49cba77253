package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the defaults every graft entrypoint wants.
  *
  * Local mode is a single JVM; on a real cluster the same conf block applies
  * (AQE handles skew/coalesce at 100 TB, shuffle partitions are sized by the
  * driver env rather than the 200 default).
  */
object GraftSession {
  def getOrCreate(master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val builder = SparkSession.builder()
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
      // Both are strategy-only knobs — join results are unchanged.
      // GRAFT_PREFER_SMJ=1 restores the engine default for A/B runs.
      .config("spark.sql.join.preferSortMergeJoin",
        if (sys.env.get("GRAFT_PREFER_SMJ").contains("1")) "true" else "false")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
        sys.env.getOrElse("GRAFT_SHJ_LOCAL_MAP_THRESHOLD", "64m"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    // Streaming state store: RocksDB BY DEFAULT (round 14) — the
    // production store at 100 TB state scale (state lives on local disk,
    // not executor heap, so a hot key universe cannot OOM an executor) AND
    // measured faster on every stateful catalog entry in the r14 A/Bs:
    // the heap-backed provider pays ~75 ms of checkpoint-file fan-out per
    // store commit (measured: a 2-row sentinel micro-batch of the
    // stream-stream join summed 2.2-2.6 s of commit time across its 32
    // store instances), where RocksDB with changelog checkpointing appends
    // one changelog file per store instead of snapshotting. Join state
    // format 3 keeps ONE RocksDB store per partition (virtual column
    // families) instead of four. Results are provider- and
    // format-independent (spec-asserted, oracle-checked).
    // GRAFT_STATE_STORE=hdfs (or heap) restores the heap-backed engine
    // default for A/B (the format/changelog knobs are RocksDB-only and flip
    // with it); see [[useRocksDbStateStore]] for the accepted values.
    val withState =
      if (useRocksDbStateStore(sys.env.get("GRAFT_STATE_STORE")))
        builder
          .config("spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
          .config("spark.sql.streaming.join.stateFormatVersion", "3")
          .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
            "true")
      else builder
    val spark = withState.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Streaming state-store choice from the `GRAFT_STATE_STORE` value:
    * unset or `rocksdb` selects RocksDB, `hdfs` or `heap` the heap-backed
    * provider (case-insensitive). Anything else fails loudly instead of
    * silently selecting RocksDB. */
  private[graft] def useRocksDbStateStore(value: Option[String]): Boolean =
    value.map(_.toLowerCase(java.util.Locale.ROOT)) match {
      case None | Some("rocksdb") => true
      case Some("hdfs") | Some("heap") => false
      case Some(other) => throw new IllegalArgumentException(
        s"GRAFT_STATE_STORE must be one of rocksdb, hdfs, heap; got '$other'")
    }
}
