package graft

import org.apache.spark.sql.functions._
import graft.ops.Graph

class GraphSpec extends SparkSpec {
  import spark.implicits._

  /** Reference fixed-point PageRank on the driver — same integer formulas
    * as [[Graph.pageRank]], computed with plain Maps. */
  private def refRanks(
      ids: Seq[Long],
      edges: Seq[(Long, Long)],
      iters: Int,
      scale: Long = 1000000000000L,
      damp: Long = 85L): Map[Long, Long] = {
    val n = ids.size
    val out = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val base = (scale * (100L - damp)) / (100L * n)
    var r = ids.map(_ -> scale / n).toMap
    for (_ <- 1 to iters) {
      val incoming = edges
        .groupBy(_._2).view
        .mapValues(_.map { case (s, _) => r(s) / out(s) }.sum).toMap
      r = ids.map(i => i -> (base + incoming.getOrElse(i, 0L) * damp / 100L)).toMap
    }
    r
  }

  private val ids = (0L until 12L)
  private val edges = ids.flatMap { i =>
    Seq((i, (i * 7 + 1) % 12), (i, (i * 13 + 3) % 12), (i, i % 10))
  }.distinct.filter { case (s, d) => s != d }

  test("pageRank matches the driver-side integer reference exactly") {
    val v = ids.toDF("id")
    val e = edges.toDF("src", "dst")
    val got = Graph.pageRank(v, e, iters = 5).as[(Long, Long)].collect().toMap
    assert(got === refRanks(ids, edges, 5))
  }

  test("pageRank under Reliable checkpointing is bit-identical to Local") {
    val v = ids.toDF("id")
    val e = edges.toDF("src", "dst")
    val dir = tempDir("graft-ckpt").toString
    val reliable = Graph.pageRank(v, e, iters = 4,
        ckpt = graft.ops.CheckpointStrategy.Reliable(dir))
      .as[(Long, Long)].collect().toMap
    val local = Graph.pageRank(v, e, iters = 4).as[(Long, Long)].collect().toMap
    assert(reliable === local)
    assert(reliable === refRanks(ids, edges, 4))
  }

  test("pageRank is partition-layout independent") {
    val v = ids.toDF("id").repartition(7)
    val e = edges.toDF("src", "dst").repartition(5)
    val got = Graph.pageRank(v, e, iters = 3).as[(Long, Long)].collect().toMap
    assert(got === refRanks(ids, edges, 3))
  }

  test("pageRank conserves bounded mass and rewards in-degree") {
    val v = ids.toDF("id")
    val e = edges.toDF("src", "dst")
    val got = Graph.pageRank(v, e, iters = 5).as[(Long, Long)].collect().toMap
    val scale = 1000000000000L
    // floor truncation only ever LOSES mass, never creates it
    assert(got.values.sum <= scale)
    assert(got.values.sum > scale * 8 / 10)
    // every vertex keeps at least the teleport base
    val base = (scale * 15L) / (100L * ids.size)
    assert(got.values.forall(_ >= base))
    // an isolated-but-linked-to hub outranks a leaf with one in-edge
    val indeg = edges.groupBy(_._2).view.mapValues(_.size).toMap
    val hub = indeg.maxBy(_._2)._1
    val leaf = indeg.minBy(_._2)._1
    assert(got(hub) > got(leaf))
  }

  test("pageRank with zero iterations returns the uniform prior") {
    val v = ids.toDF("id")
    val e = edges.toDF("src", "dst")
    val got = Graph.pageRank(v, e, iters = 0).as[(Long, Long)].collect().toMap
    assert(got.values.toSet === Set(1000000000000L / ids.size))
  }
}
