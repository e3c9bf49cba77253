package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.state.StateStore

/** Between passes, outside the timing: release what a pass leaves behind,
  * through public APIs only. Stops streams, drops the streaming memory-sink
  * views, clears cached plans, unpersists pinned RDDs (localCheckpoint
  * blocks), unloads state-store providers, and deletes the job-result cache
  * and the streaming scratch, so one pass's leftovers never bill the next. */
object Hygiene {
  def between(spark: SparkSession): Unit = {
    spark.streams.active.foreach(_.stop())
    spark.catalog.listTables().collect()
      .filter(t => t.isTemporary && t.name.startsWith("graft_stream"))
      .foreach(t => spark.catalog.dropTempView(t.name))
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    StateStore.stop()
    (Seq(graft.llm.Jobs.cacheDir) ++ sys.env.get("GRAFT_STREAM_SCRATCH"))
      .map(new java.io.File(_))
      .foreach(d => Option(d.listFiles()).getOrElse(Array.empty).foreach(delete))
    System.gc()
  }

  def delete(f: java.io.File): Unit = {
    if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).getOrElse(Array.empty).foreach(delete)
    f.delete(): Unit
  }
}
