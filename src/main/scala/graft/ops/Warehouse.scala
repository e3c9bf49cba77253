package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.types.StructType
import graft.ops.Checkpointing.PinSyntax

/** Shared warehouse conventions of the persistent indexes ([[Dedup]]'s
  * shingle and embedding indexes, [[Similarity]]'s IVFADC index,
  * [[Search]]'s BM25 index, [[AggIndex]]): table drops, the idempotent
  * dynamic-overwrite write, the `<t>_tombstones` table and the one
  * tombstone-fold compaction. */
private[graft] object Warehouse {

  /** Drop a saveAsTable-backed table AND its orphan warehouse directory.
    *
    * With the default in-memory catalog a previous JVM's table metadata is
    * gone but its warehouse location persists, and saveAsTable refuses the
    * orphan dir — drop both so cross-JVM rebuild is idempotent. The catalog
    * lowercases identifiers, so the on-disk directory is the lowercased
    * name; delete that path (a mixed-case `names` entry would otherwise
    * miss the orphan on case-sensitive filesystems). */
  def dropTables(spark: SparkSession, names: Seq[String]): Unit =
    names.foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val warehouse = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete(): Unit
      }
      rm(new java.io.File(warehouse, t.toLowerCase(java.util.Locale.ROOT)))
    }

  /** Position-based dynamic partition overwrite: rows replace exactly the
    * partitions present in `df` — the idempotent-append primitive the
    * persistent indexes share. A RETRY of the same batch (crash recovery,
    * speculative re-run) overwrites its own partitions instead of
    * double-counting; partitions absent from `df` are untouched. */
  def dynOverwrite(df: DataFrame, table: String): Unit = {
    val spark = df.sparkSession
    val modeKey = "spark.sql.sources.partitionOverwriteMode"
    val prior = spark.conf.get(modeKey)
    try {
      spark.conf.set(modeKey, "dynamic")
      df.select(spark.table(table).schema.fieldNames.map(col).toSeq: _*)
        .write.mode("overwrite").insertInto(table)
    } finally spark.conf.set(modeKey, prior)
  }

  /** Write `<table>_tombstones` empty with `schema`: at build (creating
    * it) and at the end of [[compact]] (clearing it). */
  private[ops] def emptyTombstones(spark: SparkSession, table: String, schema: StructType): Unit =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
      .write.mode("overwrite").format("parquet").saveAsTable(s"${table}_tombstones")

  /** Fold tombstones into a partitioned index table physically — the
    * compaction of every index with a tombstone remove (IVFADC, BM25).
    * `keys` holds the tombstoned keys in its one column; they match the
    * table's `keyCol`. The partition columns come from the catalog.
    *
    * Only the AFFECTED partitions (those holding a tombstoned key) are
    * rewritten, so the cost is O(affected partitions) and untouched
    * partitions keep their files byte-for-byte (the LSM-tree compaction
    * idea). Their retained rows are staged in the durable `<table>_stage`
    * table BEFORE the source partitions are overwritten — with only
    * executor-cached blocks, an executor loss mid-overwrite could lose
    * the sole copy — then written back through [[dynOverwrite]]. An
    * affected partition left with no rows is DROPPED (dynamic overwrite
    * only replaces partitions present in the written data; the dead
    * partition's files would resurrect its rows once the tombstones
    * clear). `fold(retained, dead)` then updates the index's companion
    * tables from the staged rows and the dropped partition specs, before
    * the stage is dropped and `<table>_tombstones` cleared. Works from the
    * index alone. */
  private[ops] def compact(
      spark: SparkSession,
      table: String,
      keys: DataFrame,
      keyCol: String,
      fold: (DataFrame, Seq[String]) => Unit = (_, _) => ()): Unit = {
    val tomb = keys.toDF(keyCol).distinct()
      .pinned() // O(removed) — bounded by contract
    if (tomb.isEmpty) return
    val parts = spark.catalog.listColumns(table).collect()
      .filter(_.isPartition).map(_.name).toSeq
    // Affected partitions stay a FRAME for the scan (broadcast semi-join +
    // runtime partition pruning — a literal partition list would bloat the
    // plan at a 10^5+-partition index); their values are collected only
    // for the dead-partition DDL, which needs them anyway.
    val affected = spark.table(table)
      .join(broadcast(tomb), Seq(keyCol), "left_semi")
      .select(parts.map(col): _*).distinct()
      .pinned()
    def specs(df: DataFrame): Set[String] =
      df.select(parts.map(col): _*).distinct().collect().map { r =>
        parts.indices.map(i => s"${parts(i)}=${r.get(i)}").mkString("PARTITION (", ", ", ")")
      }.toSet
    val stage = s"${table}_stage"
    dropTables(spark, Seq(stage))
    compactionScan(spark, table, tomb, keyCol, affected)
      .write.mode("overwrite").format("parquet").saveAsTable(stage)
    val retained = spark.table(stage)
    dynOverwrite(retained, table)
    val dead = (specs(affected) -- specs(retained)).toSeq.sorted
    dropPartitions(spark, table, dead)
    fold(retained, dead)
    dropTables(spark, Seq(stage))
    emptyTombstones(spark, table, spark.table(s"${table}_tombstones").schema)
  }

  /** The compaction's retained-row scan, exposed so its plan shape is
    * assertable: the affected-partition frame broadcasts into a semi-join
    * on the partition columns (pruned at the scan by dynamic partition
    * pruning — DPP only fires for a filtered build side, and `>= 0` on
    * the leading partition column is vacuously true: both indexes lead
    * with a non-negative bucket id, IVFADC's cell and BM25's term
    * bucket), then the tombstoned keys anti-join away. No literal
    * partition list ever enters the plan. */
  private[graft] def compactionScan(
      spark: SparkSession,
      table: String,
      tomb: DataFrame,
      keyCol: String,
      affected: DataFrame): DataFrame =
    spark.table(table)
      .join(broadcast(affected.where(col(affected.columns.head) >= 0)),
        affected.columns.toSeq, "left_semi")
      .join(broadcast(tomb), Seq(keyCol), "left_anti")

  /** Drop partitions, given as `PARTITION (c=v, ...)` specs, in one
    * batched DDL per 500 specs — not a per-partition metastore loop. */
  private[ops] def dropPartitions(spark: SparkSession, table: String, specs: Seq[String]): Unit =
    specs.grouped(500).foreach(grp =>
      spark.sql(s"ALTER TABLE $table DROP IF EXISTS ${grp.mkString(", ")}"))
}
