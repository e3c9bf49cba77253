package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** 10x scale rehearsal for the persistent-index family (SURVEY §9.5):
  * build the incremental-dedup index and the IVFADC index on the 10x
  * corpus, probe/append/query with a 1x delta, and report steady-state
  * timings plus the on-disk index sizes and the dedup probe's measured
  * broadcast footprint (the [[graft.ops.Dedup.dedupIndexProbe]] size-guard
  * estimate) — so the broadcast→shuffle cutover is documented from data,
  * not guessed.
  *
  * Env: GRAFT_REHEARSE_CORPUS (default /root/repo/data/sf1),
  *      GRAFT_REHEARSE_DELTA  (default /root/testdata/sf0.1). */
object RehearseIndex {

  private def timed[A](label: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val r = f
    println(f"[rehearse] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    r
  }

  private def duDir(path: java.io.File): Long =
    if (path.isDirectory)
      Option(path.listFiles()).getOrElse(Array.empty).map(duDir).sum
    else path.length()

  private def tableBytes(spark: SparkSession, names: Seq[String]): Unit = {
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    names.foreach { t =>
      val b = duDir(new java.io.File(wh, t.toLowerCase(java.util.Locale.ROOT)))
      println(f"[rehearse] table $t: ${b / 1e6}%.1f MB on disk")
    }
  }

  def main(args: Array[String]): Unit = {
    val corpusDir = sys.env.getOrElse("GRAFT_REHEARSE_CORPUS", "/root/repo/data/sf1")
    val deltaDir = sys.env.getOrElse("GRAFT_REHEARSE_DELTA", "/root/testdata/sf0.1")
    val spark = GraftSession.getOrCreate()

    val corpusDocs = spark.read.parquet(s"$corpusDir/documents.parquet")
    // the delta is "tomorrow's crawl": 1x-sized, ids shifted clear of the
    // corpus so match structure comes from content, not id collisions.
    // GenScale copies occupy doc_id + c*10M for c < copies, so the delta
    // must sit above every copy's range, not just copy 1's.
    val deltaDocs = spark.read.parquet(s"$deltaDir/documents.parquet")
      .withColumn("doc_id", col("doc_id") + lit(1000000000L))

    // ---- incremental-dedup index ----
    timed("dedup index BUILD (10x corpus)") {
      ops.Dedup.dedupIndexBuild(corpusDocs, "text", "doc_id", "graft_rehearse_dedup")
    }
    tableBytes(spark, Seq("graft_rehearse_dedup", "graft_rehearse_dedup_df",
      "graft_rehearse_dedup_meta"))
    // the probe's own size-guard aggregate, recomputed here for the record
    val n = spark.table("graft_rehearse_dedup_meta").head().getInt(0)
    val groups = deltaDocs.select(
      graft.functions.gf.shingleFpsSorted(col("text"), n).as("shl"))
    val st = groups.agg(count(lit(1)), sum(size(col("shl")))).head()
    val (dRows, dFps) = (st.getLong(0), st.getLong(1))
    val estMb = (dRows * 64L + dFps * 48L) / 1e6
    println(f"[rehearse] delta: $dRows rows, $dFps shingle fps, " +
      f"est broadcast footprint $estMb%.1f MB (guard default 256 MB)")
    var probeOut: DataFrame = null
    (1 to 3).foreach { i =>
      timed(s"dedup index PROBE (1x delta, broadcast joins) run$i") {
        probeOut = ops.Dedup.dedupIndexProbe(deltaDocs, "text", "doc_id",
          "graft_rehearse_dedup")
        Bench.exec(probeOut)
      }
    }
    probeOut.groupBy("status").count().orderBy("status").collect()
      .foreach(r => println(s"[rehearse] probe status ${r.get(0)}: ${r.get(1)}"))
    (1 to 3).foreach { i =>
      timed(s"dedup index PROBE (guard-forced shuffled joins) run$i") {
        Bench.exec(ops.Dedup.dedupIndexProbe(deltaDocs, "text", "doc_id",
          "graft_rehearse_dedup", maxBroadcastBytes = 0L))
      }
    }
    // worst-case probe: appending a token kills every exact match (content
    // key changes) but keeps shingle overlap high, so ALL delta reps enter
    // near candidacy — the full fan-out the exact-dup delta above skips
    val nearDelta = deltaDocs.withColumn("text", concat(col("text"), lit(" zzz")))
    var nearOut: DataFrame = null
    (1 to 3).foreach { i =>
      timed(s"dedup index PROBE (near-shaped delta, zero exact) run$i") {
        nearOut = ops.Dedup.dedupIndexProbe(nearDelta, "text", "doc_id",
          "graft_rehearse_dedup")
        Bench.exec(nearOut)
      }
    }
    nearOut.groupBy("status").count().orderBy("status").collect()
      .foreach(r => println(s"[rehearse] near-probe status ${r.get(0)}: ${r.get(1)}"))

    // ---- IVFADC index ----
    val corpusEmb = spark.read.parquet(s"$corpusDir/embeddings.parquet")
    val deltaEmb = spark.read.parquet(s"$deltaDir/embeddings.parquet")
      .withColumn("vec_id", col("vec_id") + lit(1000000000L))
    timed("ivfpq index BUILD (10x corpus)") {
      ops.Similarity.ivfpqBuildIndex(corpusEmb, "vec_id", "embedding",
        "graft_rehearse_ivfpq", nlist = 16, m = 8, ksub = 16)
    }
    tableBytes(spark, Seq("graft_rehearse_ivfpq", "graft_rehearse_ivfpq_centroids",
      "graft_rehearse_ivfpq_pq"))
    timed("ivfpq index APPEND (1x delta = 10%)") {
      ops.Similarity.ivfpqAppendIndex(deltaEmb, "vec_id", "embedding",
        "graft_rehearse_ivfpq")
    }
    val queries = corpusEmb.where(col("vec_id") % 1000 === 0) // ~20 probes
    (1 to 3).foreach { i =>
      timed(s"ivfpq index QUERY (post-append, nprobe=4) run$i") {
        Bench.exec(ops.Similarity.ivfpqQueryIndex(queries, "vec_id", "embedding",
          "graft_rehearse_ivfpq", k = 10, nprobe = 4, rerank = 50))
      }
    }

    // ---- persistent embedding near-dup index (the fourth member) ----
    timed("emb index BUILD (10x corpus)") {
      ops.Dedup.embIndexBuild(corpusEmb, "embedding", "vec_id",
        "graft_rehearse_emb", bits = graft.ops.Similarity.lshBitsFor(
          corpusEmb.count()), tables = 16)
    }
    tableBytes(spark, Seq("graft_rehearse_emb", "graft_rehearse_emb_lsh",
      "graft_rehearse_emb_meta"))
    // exact-dup delta: corpus vectors re-submitted under shifted ids
    val embExactDelta = corpusEmb.where(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 2000000000L).as("vec_id"), col("embedding"))
    var embOut: DataFrame = null
    (1 to 3).foreach { i =>
      timed(s"emb index PROBE (exact-dup delta) run$i") {
        embOut = ops.Dedup.embIndexProbe(embExactDelta, "embedding", "vec_id",
          "graft_rehearse_emb")
        Bench.exec(embOut)
      }
    }
    embOut.groupBy("status").count().orderBy("status").collect()
      .foreach(r => println(s"[rehearse] emb exact-probe status ${r.get(0)}: ${r.get(1)}"))
    // near-shaped delta: the 1x delta vectors with one coordinate negated
    // (GenScale's copy 0 is identity-rotated, so the RAW delta file is
    // bit-identical to copy 0 — a pure exact re-crawl; the perturbation
    // kills exactness while keeping cosines high, forcing every delta
    // vector through candidacy + verify, the worst case)
    val embNearDelta = deltaEmb.select(col("vec_id"),
      expr("transform(embedding, (x, i) -> CASE WHEN i = 0 THEN -x ELSE x END)")
        .cast("array<float>").as("embedding"))
    var embNewOut: DataFrame = null
    (1 to 3).foreach { i =>
      timed(s"emb index PROBE (near-shaped perturbed 1x delta) run$i") {
        embNewOut = ops.Dedup.embIndexProbe(embNearDelta, "embedding", "vec_id",
          "graft_rehearse_emb")
        Bench.exec(embNewOut)
      }
    }
    embNewOut.groupBy("status").count().orderBy("status").collect()
      .foreach(r => println(s"[rehearse] emb new-probe status ${r.get(0)}: ${r.get(1)}"))

    // ---- BM25 search index (the third persistent-index family member) ----
    timed("bm25 index BUILD (10x corpus)") {
      ops.Search.bm25IndexBuild(corpusDocs, "text", "doc_id", "graft_rehearse_bm25")
    }
    tableBytes(spark, Seq("graft_rehearse_bm25", "graft_rehearse_bm25_terms",
      "graft_rehearse_bm25_meta"))
    (1 to 3).foreach { i =>
      timed(s"bm25 index QUERY (3 terms, k=20) run$i") {
        Bench.exec(ops.Search.bm25IndexQuery(spark, "graft_rehearse_bm25",
          Seq("data", "vector", "query"), k = 20))
      }
    }
    // the per-query direct scan it amortizes away, for the ratio
    (1 to 3).foreach { i =>
      timed(s"bm25 DIRECT scan (3 terms, k=20) run$i") {
        Bench.exec(ops.Search.bm25(corpusDocs, "text", "doc_id",
          Seq("data", "vector", "query"), k = 20))
      }
    }
    spark.stop()
  }
}
