package graft

import org.apache.spark.sql.functions._
import graft.ops.{Checkpointing, CheckpointStrategy, Dedup}

/** The library-wide pin switch: every `.pinned()` site resolves through
  * `spark.graft.checkpoint.dir` — unset means localCheckpoint (fast,
  * executor-resident), set means reliable checkpoint files under that
  * dir (executor-loss-safe on a cluster). One conf key governs all ~30
  * pin sites, so cluster hardening never touches operator code. */
class CheckpointingSpec extends SparkSpec {
  import spark.implicits._

  private def withConf[A](key: String, value: Option[String])(body: => A): A = {
    val prior = spark.conf.getOption(key)
    try {
      value match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
      body
    } finally {
      prior match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("resolve: Local when the conf key is unset or empty, Reliable when set") {
    withConf(Checkpointing.ConfKey, None) {
      assert(Checkpointing.resolve(spark) === CheckpointStrategy.Local)
    }
    withConf(Checkpointing.ConfKey, Some("")) {
      assert(Checkpointing.resolve(spark) === CheckpointStrategy.Local)
    }
    withConf(Checkpointing.ConfKey, Some("/tmp/ckpt-x")) {
      assert(Checkpointing.resolve(spark) ===
        CheckpointStrategy.Reliable("/tmp/ckpt-x"))
    }
  }

  test("pin under the conf key writes reliable checkpoint files; unset stays local") {
    val dir = tempDir("graft-ckpt-").toString
    val local = Checkpointing.pin(spark.range(100).toDF("id"))
    assert(local.count() === 100L)
    // unset: the pin stayed executor-local — nothing appears under dir
    assert(listFiles(dir).isEmpty)

    withConf(Checkpointing.ConfKey, Some(dir)) {
      val reliable = Checkpointing.pin(spark.range(100).toDF("id"))
      assert(reliable.count() === 100L)
      assert(listFiles(dir).nonEmpty,
        "reliable pin must write checkpoint files under the conf dir")
    }
  }

  test("a multi-pin iterative operator returns identical rows under both strategies") {
    // two chains and a clique — forces >1 label-propagation iteration
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (11L, 12L),
      (20L, 21L), (20L, 22L), (21L, 22L)
    ).toDF("a_id", "b_id")
    val localRows =
      Dedup.connectedComponents(pairs).orderBy("id").collect().toSeq
    val dir = tempDir("graft-ckpt-op-").toString
    val reliableRows = withConf(Checkpointing.ConfKey, Some(dir)) {
      Dedup.connectedComponents(pairs).orderBy("id").collect().toSeq
    }
    assert(reliableRows === localRows)
    assert(listFiles(dir).nonEmpty, "the op must have pinned through the conf dir")
  }

  private def listFiles(dir: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      else Seq(f)
    walk(new java.io.File(dir))
  }
}
