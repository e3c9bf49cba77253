package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.functions.gf
import graft.io.Layout
import graft.ops.Checkpointing.PinSyntax

/** Similarity search over embedding columns (`array<float>`).
  *
  * Brute-force cosine top-k is the correctness baseline; random-hyperplane
  * LSH bucketing is the scale path (bounded candidate sets, shuffle on
  * bucket key instead of an all-pairs join).
  */
object Similarity {

  /** Brute-force cosine top-k: for every query vector, the k most similar
    * corpus vectors (excluding self when ids collide).
    *
    * Plan shape: broadcast the (small) query side, score with the codegen
    * cosine expression, then rank with the bounded-heap top-k aggregate
    * ([[graft.functions.TopKByScoreAgg]]): partial aggregation keeps k
    * candidates per query MAP-SIDE, so the corpus streams through the scan
    * and the shuffle moves at most k rows per (partition, query) — never
    * the |queries| x |corpus| scored set a rank-window would move.
    * Exact; identical output ordering to rank-by-window (score desc,
    * id asc).
    */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    Dedup.requireLongId(corpus, idCol)
    Dedup.requireLongId(queries, idCol)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    // corpus is bytes-small / compute-heavy (|q| x dim cosines per row):
    // spread it before the broadcast NLJ or the scan runs at file-split
    // parallelism ([[Layout.spread]] for the measured rationale)
    val c = Layout.spread(
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec")))
    val scored = c.crossJoin(broadcast(q))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_sim", gf.cosine(col("q_vec"), col("c_vec")))
    rankTopK(scored, k)
  }

  /** (query_id, cos_sim, neighbor_id) -> top-k per query via the bounded
    * heap aggregate, ranks 1..k best-first. */
  private[graft] def rankTopK(scored: DataFrame, k: Int): DataFrame =
    rankTopKScored(scored, k).drop("cos_sim")

  /** [[rankTopK]] keeping each kept row's score as (query_id, neighbor_id,
    * cos_sim, rank) — the one top-k every ranked output here goes through. */
  private def rankTopKScored(scored: DataFrame, k: Int): DataFrame =
    scored
      .groupBy("query_id")
      .agg(graft.functions.TopKByScoreAgg.topK(
        struct(col("cos_sim").cast("double"), col("neighbor_id").cast("long")), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("rk0", "item")))
      .select(col("query_id"), col("item.id").as("neighbor_id"),
        col("item.score").as("cos_sim"), (col("rk0") + 1).cast("int").as("rank"))

  /** The exact re-rank behind every compressed-index ANN ([[pqTopK]],
    * [[sqTopK]], [[ivfpqTopK]], [[ivfpqQueryIndex]]): the approximate
    * (query_id, neighbor_id, cos_sim) scores keep the top `rerank`
    * candidates per query, which join back to their raw vectors
    * (neighbor_id, c_vec) and the broadcast queries (query_id, q_vec) and
    * re-rank by exact cosine — the output ordering is exact over the
    * candidate set, and at rerank = corpus size it is brute force. */
  private def exactRerank(
      approx: DataFrame,
      vectors: DataFrame,
      queries: DataFrame,
      k: Int,
      rerank: Int): DataFrame = {
    require(rerank >= k,
      s"rerank = $rerank must be >= k = $k: the exact re-rank can only return rerank neighbours per query")
    val exact = rankTopK(approx, rerank).drop("rank")
      .join(vectors, "neighbor_id")
      .join(broadcast(queries), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        gf.cosine(col("q_vec"), col("c_vec")).as("cos_sim"))
    rankTopK(exact, k)
  }

  /** Random-hyperplane LSH top-k — the scale path for ANN.
    *
    * `tables` independent hash tables, each bucketing vectors by `bits`
    * hyperplane sign bits ([[hyperplaneBands]]). Query and corpus vectors
    * meeting in any table's bucket become candidates; candidates are
    * ranked by exact cosine. Recall is tuned by (tables, bits): more
    * tables -> higher recall, more bits -> smaller buckets.
    *
    * `bits` MUST grow with the corpus ([[lshBitsFor]]): bucket occupancy
    * is n / 2^bits per table, and candidate work scales with it. Measured
    * at a 10x duplicate-heavy corpus (20k vectors, 50 queries, 48 tables):
    * bits 3 -> 8 cut steady-state 5.4s -> 2.2s at recall 1.0 -> 0.98.
    */
  def lshTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      bits: Int = 12,
      tables: Int = 8): DataFrame = {
    Dedup.requireLongId(corpus, idCol)
    Dedup.requireLongId(queries, idCol)
    rankTopK(lshCandidates(corpus, queries, idCol, vecCol, bits, tables), k)
  }

  /** (query_id, neighbor_id, cos_sim) candidate pairs meeting in any LSH
    * table's bucket, deduped — shared by [[lshTopK]] and
    * [[rangeSearchLsh]]. Scoring sits in the join projection so the dedup
    * shuffle moves (long, long, double) rows, not two vector payloads per
    * candidate; a pair colliding in several tables scores identically each
    * time, so dropDuplicates after scoring is sound. */
  private def lshCandidates(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      bits: Int,
      tables: Int): DataFrame = {
    def bucketed(df: DataFrame, id: String, vec: String) =
      df.select(col(id), col(vec), explode(hyperplaneBands(col(vec), bits, tables)).as("b"))
        .select(col(id), col(vec), col("b.table").as("table"), col("b.bucket").as("bucket"))
    val q = bucketed(queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec")), "query_id", "q_vec")
    val c = bucketed(corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec")), "neighbor_id", "c_vec")
    c.join(q, Seq("table", "bucket"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        gf.cosine(col("q_vec"), col("c_vec")).as("cos_sim"))
      .dropDuplicates("query_id", "neighbor_id")
  }

  /** Radius (range) search — FAISS range_search parity: ALL corpus
    * vectors within the cosine radius of each query, not a fixed k (the
    * retrieval shape for "everything this similar", e.g. recall-oriented
    * takedown sweeps or near-dup audits seeded by a query set). Exact
    * baseline: broadcast the query side, threshold fused in the codegen
    * cosine — narrow corpus pass, output bounded by the true result size.
    * Pairs only (no float emit — the cross-engine float convention). */
  def rangeSearch(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      minCos: Double): DataFrame = {
    Dedup.requireLongId(corpus, idCol)
    Dedup.requireLongId(queries, idCol)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    // same bytes-small/compute-heavy streamed side as bruteForceTopK
    val c = Layout.spread(
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec")))
    c.crossJoin(broadcast(q))
      .where(col("query_id") =!= col("neighbor_id"))
      .where(gf.cosine(col("q_vec"), col("c_vec")) >= minCos)
      .select(col("query_id"), col("neighbor_id"))
  }

  /** LSH-bucketed radius search — the scale path for [[rangeSearch]]:
    * candidates meet in an LSH bucket (pair space bounded by bucket
    * occupancy, never |queries| x |corpus|), exact cosine verifies. At a
    * full-recall operating point (enough tables for the radius) the exact
    * oracle applies verbatim. */
  def rangeSearchLsh(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      minCos: Double,
      bits: Int = 12,
      tables: Int = 8): DataFrame = {
    Dedup.requireLongId(corpus, idCol)
    Dedup.requireLongId(queries, idCol)
    lshCandidates(corpus, queries, idCol, vecCol, bits, tables)
      .where(col("cos_sim") >= minCos)
      .select(col("query_id"), col("neighbor_id"))
  }

  /** The hyperplane-bit count that keeps expected LSH bucket occupancy
    * near `targetBucket` for an n-vector corpus: ceil(log2(n /
    * targetBucket)). Candidate work per query scales with occupancy, so
    * bits must grow as the corpus does — a fixed small-corpus operating
    * point degrades quadratically under exact-duplicate density. */
  def lshBitsFor(n: Long, targetBucket: Int = 64): Int = {
    require(n > 0 && targetBucket > 0, "need positive corpus and bucket sizes")
    math.max(1, math.ceil(math.log(n.toDouble / targetBucket) / math.log(2.0)).toInt)
  }

  /** The one random-hyperplane banding (Charikar, STOC 2002) behind every
    * embedding-LSH path ([[lshTopK]], [[rangeSearchLsh]], [[knnLabelLsh]],
    * [[Dedup.embeddingPairsLsh]], [[Dedup.embIndexBuild]] and
    * [[Dedup.embIndexProbe]]): `tables` independent tables of `bits` sign
    * bits each, table t's hyperplanes seeded 0x9e3779b9·(t + 1)
    * (deterministic, no stored model), as array<struct<table:int,
    * bucket:long>> for the caller to explode. A persistent index built
    * under one seed rule is only probed correctly under the same rule, so
    * this is the only place it may live.
    *
    * Every LSH candidate is verified by one cosine formula, double-
    * accumulated dot / (sqrt(Σa²)·sqrt(Σb²)) with 0 on a zero norm: the
    * row form is [[graft.functions.gf.cosine]] ≥ t, and the in-bucket form
    * inside [[graft.functions.Kernels.bucketPairsCos]] must stay
    * bit-identical to it. */
  private[graft] def hyperplaneBands(vec: Column, bits: Int, tables: Int): Column =
    array((0 until tables).map(t =>
      struct(lit(t).as("table"),
        gf.hyperplaneBucket(vec, bits, seed = 0x9e3779b9L * (t + 1)).as("bucket"))): _*)

  /** Shuffle-partition count for a multi-table LSH banding pass: the
    * banded frame carries each vector once per table (tables·n rows of
    * ~dim·4+32 bytes), and the per-partition collect_list volume must stay
    * near `targetBytes` or the bucket aggregation spills — measured at
    * sf100: 61 GB over the 32 default partitions = 1.9 GB/task of list
    * buffers, a spill storm. 0 (= leave Spark's default) while the banded
    * volume fits the default layout. */
  def lshPartsFor(
      n: Long, tables: Int, dim: Int,
      defaultParallelism: Int, targetBytes: Long = 256L << 20): Int = {
    val bytes = n * tables * (dim * 4L + 32L)
    val parts = (bytes / math.max(targetBytes, 1L)).toInt
    if (parts <= defaultParallelism) 0 else math.min(parts, 4096)
  }

  /** IVF (inverted-file) ANN — the other classic scale path: a coarse
    * k-means quantizer partitions the corpus into nlist cells; each query
    * searches only its nprobe nearest cells.
    *
    * Scale shape: the quantizer trains on a driver-side sample (centroid
    * set is tiny and broadcast); cell assignment is a narrow map over the
    * corpus; the search join is corpus-cell x query-cell — shuffle bounded
    * by nprobe/nlist of the corpus per query instead of all-pairs.
    */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nlist: Int = 16,
      nprobe: Int = 4,
      sampleSize: Int = 10000,
      seed: Long = 42L): DataFrame = {
    Dedup.requireLongId(corpus, idCol)
    Dedup.requireLongId(queries, idCol)
    val centroids = kmeans(hashSample(corpus, idCol, vecCol, sampleSize), nlist,
      new scala.util.Random(seed))
    // cell assignment + probe lists run as codegen expressions carrying the
    // tiny centroid table in the plan itself — no UDF boxing, no separate
    // broadcast lifecycle
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
      .withColumn("cell", gf.nearestCell(col("c_vec"), centroids))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
      .withColumn("cell", explode(gf.probeCells(col("q_vec"), centroids, nprobe)))
    val scored = c.join(q, Seq("cell"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        gf.cosine(col("q_vec"), col("c_vec")).as("cos_sim"))
    rankTopK(scored, k)
  }

  /** The deterministic training sample every quantizer trains on: the
    * sampleSize smallest xxhash64(id) rows via per-partition top-k +
    * driver merge — no full shuffle, independent of partition layout, so
    * the trained quantizers (and every cell assignment and code) are
    * deterministic across runs and executor counts. */
  private def hashSample(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      sampleSize: Int): Array[Array[Double]] = {
    val sample = corpus
      .select(col(vecCol), xxhash64(col(idCol)).as("__h"))
      .orderBy(col("__h"))
      .limit(sampleSize)
      .select(col(vecCol))
      .collect().map(_.getSeq[Float](0).map(_.toDouble).toArray)
    require(sample.nonEmpty, "empty corpus")
    sample
  }

  /** Driver-side Lloyd's iterations from distinct-vector seeds ([[
    * seedCentroids]]): duplicate seeds would collapse two cells into one
    * attractor and strand the other as an empty phantom cell. */
  private def kmeans(
      sample: Array[Array[Double]],
      k: Int,
      rnd: scala.util.Random,
      iters: Int = 10): Array[Array[Double]] = {
    val dim = sample.head.length
    var centroids = seedCentroids(sample, k, rnd)
    var iter = 0
    while (iter < iters) {
      val sums = Array.fill(centroids.length)(new Array[Double](dim))
      val counts = new Array[Long](centroids.length)
      sample.foreach { v =>
        val c = nearestCentroid(v, centroids)
        var i = 0
        while (i < dim) { sums(c)(i) += v(i); i += 1 }
        counts(c) += 1
      }
      centroids = centroids.indices.map { c =>
        if (counts(c) == 0) centroids(c)
        else sums(c).map(_ / counts(c))
      }.toArray
      iter += 1
    }
    centroids
  }

  /** Product-quantization ANN with exact re-rank — the compressed-index
    * scale path: vectors are encoded as m sub-space code indices (dim*4
    * float bytes -> m small ints, a ~32x memory/bandwidth compression at
    * the 64-dim/m=8 default), each query precomputes one ADC distance
    * table, candidate scoring is m table lookups instead of a dim-wide
    * dot product, and the approximate top-`rerank` per query is re-ranked
    * by exact cosine so the output ordering is exact over the candidate
    * set. Requires rerank >= k (fails with an IllegalArgumentException
    * otherwise): only rerank candidates per query reach the re-rank.
    *
    * Codebooks train per sub-space on the same deterministic hash-sample
    * as the IVF quantizer and ride the plan via addReferenceObj. The scan
    * is still one pass over the corpus per query batch (compose with
    * IVF cells to prune further); what PQ buys is that the pass reads
    * compressed codes, the economics that matter when the index must live
    * in memory at 100 TB. */
  def pqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      m: Int = 8,
      ksub: Int = 16,
      rerank: Int = 50,
      sampleSize: Int = 10000,
      seed: Long = 42L): DataFrame = {
    Dedup.requireLongId(corpus, idCol)
    Dedup.requireLongId(queries, idCol)
    val codebooks = trainPqCodebooks(corpus, idCol, vecCol, m, ksub, sampleSize, seed)
    val codes = corpus.select(
      col(idCol).cast("long").as("neighbor_id"),
      col(vecCol).as("c_vec"),
      gf.pqEncode(col(vecCol), codebooks, m, ksub).as("codes"))
    val qt = queries.select(
      col(idCol).cast("long").as("query_id"),
      col(vecCol).as("q_vec"),
      gf.pqTable(col(vecCol), codebooks, m, ksub).as("tbl"))
    // approximate phase: negate the ADC distance so the shared top-k
    // aggregate (score DESC) keeps the closest candidates. The code table
    // is even smaller than the raw vectors (m bytes/row) while the fused
    // ADC pass is |q| x m per row — spread it ([[Layout.spread]]).
    val approx = Layout.spread(codes.drop("c_vec"))
      .crossJoin(broadcast(qt.drop("q_vec")))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (-gf.pqAdc(col("tbl"), col("codes"), ksub)).as("cos_sim"))
    exactRerank(approx, codes.select(col("neighbor_id"), col("c_vec")),
      qt.select(col("query_id"), col("q_vec")), k, rerank)
  }

  /** The trained PQ codebooks, exposed for external oracle checking: the
    * same deterministic hash-sample + seeded Lloyd's as [[pqTopK]], so two
    * runs (or two engines given these exact values) agree bit-for-bit. */
  def pqCodebooks(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int = 8,
      ksub: Int = 16,
      sampleSize: Int = 10000,
      seed: Long = 42L): Array[Double] =
    trainPqCodebooks(corpus, idCol, vecCol, m, ksub, sampleSize, seed)

  /** ADC scores — the numeric core of PQ, exposed as a checkable query:
    * every (query, neighbor) pair's asymmetric-distance-computation value
    * (sum over sub-spaces of the query's table entry at the neighbor's
    * code word), rounded to 6 decimals, top `topPerQuery` per query by
    * (adc_dist asc, neighbor_id asc) — a total order shared with a SQL
    * re-derivation, ranked by the shared bounded top-k on the negated
    * distance. All-pairs by design: this is an oracle baseline for
    * the ADC arithmetic (encode + table + lookup-sum), not a scale path —
    * [[pqTopK]]/[[ivfpqTopK]] are the deployment shapes. */
  def pqAdcScores(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      topPerQuery: Int = 50,
      m: Int = 8,
      ksub: Int = 16,
      sampleSize: Int = 10000,
      seed: Long = 42L): DataFrame = {
    Dedup.requireLongId(corpus, idCol)
    Dedup.requireLongId(queries, idCol)
    val codebooks = trainPqCodebooks(corpus, idCol, vecCol, m, ksub, sampleSize, seed)
    val codes = corpus.select(col(idCol).cast("long").as("neighbor_id"),
      gf.pqEncode(col(vecCol), codebooks, m, ksub).as("codes"))
    val qt = queries.select(col(idCol).cast("long").as("query_id"),
      gf.pqTable(col(vecCol), codebooks, m, ksub).as("tbl"))
    // all-pairs oracle baseline by design, but the streamed code table is
    // still bytes-small/compute-heavy — spread it ([[Layout.spread]]).
    // Score = -adc_dist, so score desc / id asc is adc_dist asc / id asc;
    // negation is exact, the rounded distance comes back bit-for-bit.
    val scored = Layout.spread(codes).crossJoin(broadcast(qt))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (-round(gf.pqAdc(col("tbl"), col("codes"), ksub), 6)).as("cos_sim"))
    rankTopKScored(scored, topPerQuery)
      .select(col("query_id"), col("neighbor_id"), (-col("cos_sim")).as("adc_dist"), col("rank"))
  }

  /** IVF x PQ composed ANN (IVFADC, Jégou et al. 2011) — the shape real
    * 100 TB ANN deployments run: the coarse quantizer prunes the corpus to
    * nprobe cells per query AND the scan inside each cell reads compressed
    * PQ codes instead of raw vectors. Codebooks train on cell RESIDUALS
    * (v - centroid[cell]) so codeword resolution describes within-cell
    * displacement, and each (query, probed cell) pair gets its own ADC
    * table from the query's residual in that cell. Approximate top-`rerank`
    * per query is re-ranked by exact cosine — output ordering is exact
    * over the candidate set. Requires rerank >= k (fails with an
    * IllegalArgumentException otherwise).
    *
    * Scale shape: centroids + codebooks are tiny and ride the plan; cell
    * assignment and encoding are narrow codegen maps; the probe join
    * touches nprobe/nlist of the corpus per query batch and moves
    * (long, long, double) rows; the bounded-heap top-k keeps k rows per
    * partition map-side. */
  def ivfpqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nlist: Int = 16,
      nprobe: Int = 4,
      m: Int = 8,
      ksub: Int = 16,
      rerank: Int = 50,
      sampleSize: Int = 10000,
      seed: Long = 42L): DataFrame = {
    Dedup.requireLongId(corpus, idCol)
    Dedup.requireLongId(queries, idCol)
    val (centroids, codebooks) = trainIvfpq(corpus, idCol, vecCol, nlist, m, ksub, sampleSize, seed)
    val coded = encodeIvfpq(corpus, idCol, vecCol, centroids, codebooks, m, ksub)
    queryIvfpq(coded, queries, idCol, vecCol, centroids, codebooks, k, nprobe, m, ksub, rerank)
  }

  /** Build a PERSISTENT IVFADC index: the coded corpus (cell + PQ codes +
    * raw vector for re-rank) PARTITIONED BY CELL, with the centroid table
    * and PQ codebooks stored alongside — index once, query many.
    *
    * Partitioning (one directory per cell, nlist is small) rather than
    * bucketing: the probe join broadcasts the query side, so Spark's
    * dynamic partition pruning turns "nprobe cells per query batch" into
    * files SKIPPED AT THE SCAN — at 100 TB the index read is
    * sum(probed cells), not the corpus. */
  def ivfpqBuildIndex(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      tableName: String,
      nlist: Int = 16,
      m: Int = 8,
      ksub: Int = 16,
      sampleSize: Int = 10000,
      seed: Long = 42L): Unit = {
    Dedup.requireLongId(corpus, idCol)
    val spark = corpus.sparkSession
    import spark.implicits._
    Warehouse.dropTables(spark,
      Seq(tableName, s"${tableName}_centroids", s"${tableName}_pq",
        s"${tableName}_tombstones"))
    val (centroids, codebooks) = trainIvfpq(corpus, idCol, vecCol, nlist, m, ksub, sampleSize, seed)
    encodeIvfpq(corpus, idCol, vecCol, centroids, codebooks, m, ksub)
      .write.mode("overwrite")
      .partitionBy("cell")
      .format("parquet")
      .saveAsTable(tableName)
    Warehouse.emptyTombstones(spark, tableName, StructType.fromDDL("vec_id BIGINT"))
    centroids.zipWithIndex
      .map { case (v, i) => (i, v.toSeq) }.toSeq
      .toDF("cell", "centroid")
      .write.mode("overwrite").format("parquet").saveAsTable(s"${tableName}_centroids")
    Seq((m, ksub, codebooks.toSeq)).toDF("m", "ksub", "codebooks")
      .write.mode("overwrite").format("parquet").saveAsTable(s"${tableName}_pq")
  }

  /** APPEND new vectors to a persistent IVFADC index built by
    * [[ivfpqBuildIndex]] — the growing-embedding-store shape (a corpus
    * gains vectors daily; re-training and re-encoding 100 TB per delta is
    * not an option). The delta is encoded with the index's EXISTING
    * quantizers (centroid + codebook tables are loaded, never retrained),
    * so the result is definitionally identical to having encoded those
    * rows at build time with the same quantizers; new rows land in their
    * cells as appended partition files, and every subsequent
    * [[ivfpqQueryIndex]] probe sees them through the same
    * dynamic-partition-pruned scan. Quantizer drift under a shifting
    * vector distribution is a re-build decision (recall degrades
    * gracefully — ADC distances stay correct against the trained
    * codebooks), mirroring the FAISS add-vs-train contract.
    *
    * Idempotent under retry: already-present ids are probed in the
    * delta's target cells and skipped, so re-running an append (crash
    * recovery, double-fire) cannot double-insert (spec-asserted).
    * Re-appending an id that was REMOVED (tombstoned) stays the caller's
    * bug: the physical row is still present until compaction, so the
    * probe skips it and the tombstone keeps it invisible. */
  def ivfpqAppendIndex(
      newVecs: DataFrame,
      idCol: String,
      vecCol: String,
      tableName: String): Unit = {
    Dedup.requireLongId(newVecs, idCol)
    val spark = newVecs.sparkSession
    val (centroids, codebooks, m, ksub) = loadIvfpqQuantizers(spark, tableName)
    val encoded = encodeIvfpq(newVecs, idCol, vecCol, centroids, codebooks, m, ksub)
      .pinned() // delta-sized; consumed by probe + insert
    // FAULT TOLERANCE: the insert below is one job (atomic under the
    // commit protocol — a crashed append leaves nothing visible), so the
    // remaining failure mode is the RETRY AFTER SUCCESS (driver lost
    // before the ack). Make re-append a no-op: probe the delta's target
    // cells for ids already present (broadcast delta ids; scan pruned to
    // those cells — O(delta cells) read, never the index; the cell >= 0
    // filter is the DPP trigger predicate, vacuously true) and anti-join
    // them away. Both joins broadcast the delta-bounded side.
    val targetCells = encoded.select(col("cell")).distinct().where(col("cell") >= 0)
    val present = spark.table(tableName)
      .join(broadcast(targetCells), Seq("cell"), "left_semi")
      .join(broadcast(encoded.select(col("neighbor_id"))), Seq("neighbor_id"), "left_semi")
      .select(col("neighbor_id"))
    val fresh = encoded.join(broadcast(present), Seq("neighbor_id"), "left_anti")
    // insertInto is position-based and routes rows through the table's
    // existing cell partitioning — align to the catalog schema order
    fresh.select(spark.table(tableName).schema.fieldNames.map(col).toSeq: _*)
      .write.mode("append").insertInto(tableName)
  }

  /** Remove vectors from a [[ivfpqBuildIndex]] index at O(removed) cost —
    * the takedown twin of [[ivfpqAppendIndex]], with the same
    * frozen-quantizer contract (FAISS remove_ids does not retrain):
    * removal appends vec_id tombstones; queries anti-join the cell scan
    * against the broadcast tombstone set (skipped while empty), so results
    * equal querying the original index restricted to the retained ids.
    * [[ivfpqCompactIndex]] folds them into the cells. */
  def ivfpqRemoveIndex(
      vecs: DataFrame,
      idCol: String,
      tableName: String): Unit = {
    Dedup.requireLongId(vecs, idCol)
    vecs.select(col(idCol).cast("long").as("vec_id")).distinct()
      .write.mode("append").insertInto(s"${tableName}_tombstones")
  }

  /** Compact a [[ivfpqBuildIndex]] index: fold the accumulated vec_id
    * tombstones into the physical cell partitions and clear them through
    * [[Warehouse.compact]] — only the affected cells are rewritten,
    * untouched cells keep their files byte-for-byte, and a cell whose
    * every vector is tombstoned is dropped. Works from the index alone;
    * queries before and after are identical, now without the anti-join. */
  def ivfpqCompactIndex(spark: SparkSession, tableName: String): Unit =
    Warehouse.compact(spark, tableName, spark.table(s"${tableName}_tombstones"), "neighbor_id")

  /** Query a persistent IVFADC index built by [[ivfpqBuildIndex]]: the
    * same probe, ADC scan and exact re-rank as [[ivfpqTopK]] with the
    * index's stored quantizers, tombstoned vectors anti-joined away.
    * Requires rerank >= k (fails with an IllegalArgumentException
    * otherwise). */
  def ivfpqQueryIndex(
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      tableName: String,
      k: Int,
      nprobe: Int = 4,
      rerank: Int = 50): DataFrame = {
    Dedup.requireLongId(queries, idCol)
    val spark = queries.sparkSession
    val (centroids, codebooks, m, ksub) = loadIvfpqQuantizers(spark, tableName)
    val tomb = spark.table(s"${tableName}_tombstones")
    val index =
      if (tomb.head(1).isEmpty) spark.table(tableName)
      else spark.table(tableName).join(broadcast(tomb),
        col("neighbor_id") === col("vec_id"), "left_anti")
    queryIvfpq(index, queries, idCol, vecCol, centroids, codebooks, k, nprobe, m, ksub, rerank)
  }

  /** The quantizers an [[ivfpqBuildIndex]] index stores beside its cells:
    * (centroids by cell, flattened PQ codebooks, m, ksub). Tiny
    * driver-side constants; never retrained after the build. */
  private def loadIvfpqQuantizers(
      spark: SparkSession,
      tableName: String): (Array[Array[Double]], Array[Double], Int, Int) = {
    val centroids = spark.table(s"${tableName}_centroids")
      .orderBy("cell")
      .collect()
      .map(_.getSeq[Double](1).toArray)
    val meta = spark.table(s"${tableName}_pq").head()
    (centroids, meta.getSeq[Double](2).toArray, meta.getInt(0), meta.getInt(1))
  }

  /** Coarse centroids + residual-space PQ codebooks from one deterministic
    * hash-sample: the sample trains the quantizer, then its residuals
    * against their assigned cells train the sub-space codebooks. */
  private def trainIvfpq(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nlist: Int,
      m: Int,
      ksub: Int,
      sampleSize: Int,
      seed: Long): (Array[Array[Double]], Array[Double]) = {
    val sample = hashSample(corpus, idCol, vecCol, sampleSize)
    val centroids = kmeans(sample, nlist, new scala.util.Random(seed))
    val residuals = sample.map { v =>
      val c = centroids(nearestCentroid(v, centroids))
      val r = new Array[Double](v.length)
      var i = 0
      while (i < v.length) { r(i) = v(i) - c(i); i += 1 }
      r
    }
    (centroids, trainPqOnVectors(residuals, m, ksub, seed))
  }

  /** (neighbor_id, c_vec, cell, codes): cell assignment + residual PQ
    * encode, both narrow codegen maps over the corpus scan. */
  private def encodeIvfpq(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Array[Array[Double]],
      codebooks: Array[Double],
      m: Int,
      ksub: Int): DataFrame =
    corpus.select(col(idCol).cast("long").as("neighbor_id"), col(vecCol).as("c_vec"))
      .withColumn("cell", gf.nearestCell(col("c_vec"), centroids))
      .withColumn("codes",
        gf.pqEncode(gf.cellResidual(col("c_vec"), col("cell"), centroids), codebooks, m, ksub))

  /** Probe nprobe cells per query, ADC-score the in-cell codes against the
    * query's per-cell residual table, re-rank the bounded candidate set by
    * exact cosine ([[exactRerank]]). */
  private def queryIvfpq(
      coded: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Array[Array[Double]],
      codebooks: Array[Double],
      k: Int,
      nprobe: Int,
      m: Int,
      ksub: Int,
      rerank: Int): DataFrame = {
    val qRaw = queries.select(col(idCol).cast("long").as("query_id"), col(vecCol).as("q_vec"))
    val q = qRaw
      .withColumn("cell", explode(gf.probeCells(col("q_vec"), centroids, nprobe)))
      .withColumn("tbl",
        gf.pqTable(gf.cellResidual(col("q_vec"), col("cell"), centroids), codebooks, m, ksub))
    // negate the ADC distance so the shared top-k (score DESC) keeps the
    // closest candidates; same-cell meetings are unique per (query, cell)
    val approx = coded.join(broadcast(q.select("query_id", "cell", "tbl")), Seq("cell"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (-gf.pqAdc(col("tbl"), col("codes"), ksub)).as("cos_sim"))
    exactRerank(approx, coded.select(col("neighbor_id"), col("c_vec")), qRaw, k, rerank)
  }

  /** Per-sub-space k-means codebooks on the deterministic hash-sample,
    * flattened [m][ksub][dsub]. */
  private def trainPqCodebooks(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int,
      ksub: Int,
      sampleSize: Int,
      seed: Long): Array[Double] =
    trainPqOnVectors(hashSample(corpus, idCol, vecCol, sampleSize), m, ksub, seed)

  /** Per-sub-space k-means on an in-memory training set, flattened
    * [m][ksub][dsub] — shared by raw-vector PQ and residual-vector IVFADC. */
  private def trainPqOnVectors(
      sample: Array[Array[Double]],
      m: Int,
      ksub: Int,
      seed: Long): Array[Double] = {
    require(sample.length >= ksub,
      s"PQ needs a training sample of at least ksub=$ksub vectors, got ${sample.length} — " +
        "shrink ksub or grow the corpus/sampleSize")
    val dim = sample.head.length
    require(dim % m == 0, s"vector dim $dim must divide into $m sub-spaces")
    val dsub = dim / m
    val out = new Array[Double](m * ksub * dsub)
    var j = 0
    while (j < m) {
      val sub = sample.map(v => java.util.Arrays.copyOfRange(v, j * dsub, (j + 1) * dsub))
      // distinct seeds: duplicate sample sub-vectors would seed identical
      // codewords, leaving dead slots that only hurt quantization error
      val centroids = kmeans(sub, ksub, new scala.util.Random(seed + j))
      var c = 0
      while (c < centroids.length) {
        System.arraycopy(centroids(c), 0, out, (j * ksub + c) * dsub, dsub)
        c += 1
      }
      j += 1
    }
    out
  }

  /** k seed centroids from DISTINCT vectors (shuffled deterministically);
    * when fewer than k distinct vectors exist, the distinct set is cycled —
    * duplicate seeds then tie on distance and lose to the lower index, so
    * no untrained all-zero codeword can ever attract assignments. */
  private def seedCentroids(
      vecs: Array[Array[Double]],
      k: Int,
      rnd: scala.util.Random): Array[Array[Double]] = {
    val distinct = rnd.shuffle(vecs.distinctBy(_.toSeq).toVector).take(k)
    Array.tabulate(k)(i => distinct(i % distinct.length).clone)
  }

  private def nearestCentroid(v: Array[Double], cs: Array[Array[Double]]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < cs.length) {
      val d = dist2(v, cs(c))
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  private def dist2(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0
    var i = 0
    while (i < a.length) { val x = a(i) - b(i); d += x * x; i += 1 }
    d
  }

  /** kNN majority-label classification: label each query by the majority
    * label of its k nearest corpus vectors (ties -> smallest label).
    * Exact baseline — rides the all-pairs brute-force plan; use
    * [[knnLabelLsh]] for the bounded-candidate scale path. */
  def knnLabel(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      k: Int): DataFrame =
    voteLabels(bruteForceTopK(corpus, queries, idCol, vecCol, k), corpus, idCol, labelCol)

  /** kNN majority vote over LSH-bucketed top-k — the scale path: candidate
    * sets bounded by hyperplane-bucket collisions instead of |q|x|corpus|
    * scored rows. (bits, tables) tune recall exactly as in [[lshTopK]]. */
  def knnLabelLsh(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      k: Int,
      bits: Int = 12,
      tables: Int = 8): DataFrame =
    voteLabels(lshTopK(corpus, queries, idCol, vecCol, k, bits, tables), corpus, idCol, labelCol)

  /** Majority vote of neighbor labels per query (ties -> smallest label). */
  private def voteLabels(
      topk: DataFrame,
      corpus: DataFrame,
      idCol: String,
      labelCol: String): DataFrame = {
    val labels = corpus.select(col(idCol).as("neighbor_id"), col(labelCol).as("n_label"))
    val w = Window.partitionBy("query_id").orderBy(col("votes").desc, col("n_label"))
    topk.join(labels, "neighbor_id")
      .groupBy("query_id", "n_label")
      .agg(count(lit(1)).as("votes"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") === 1)
      .select(col("query_id"), col("n_label").as("pred_label"), col("votes"))
  }

  /** Per-group mean embedding — the class-centroid primitive behind
    * SemDeDup-style cluster diagnostics, per-language/source drift checks,
    * and nearest-centroid routing. One posexplode (xdim fan-out) into a
    * single partial-aggregated shuffle on (group, pos): the shuffle moves
    * at most groups x dim partial sums per map task, never the vectors.
    * Cross-engine exact: elements are summed as long fixed-point units
    * (gf.fp10 — exactly the decimal(25,10) values, see its scaladoc;
    * integer addition is order-independent), and only the final mean is
    * one double division. Output: (group, pos, mean_x, n) with pos
    * 0-based. */
  def groupCentroids(df: DataFrame, groupCol: String, vecCol: String): DataFrame =
    df.filter(col(vecCol).isNotNull)
      .select(col(groupCol).as("grp"), posexplode(col(vecCol)).as(Seq("pos", "x")))
      .groupBy(col("grp"), col("pos"))
      .agg(
        // long fixed-point sum (gf.fp10): bit-identical to the former
        // decimal(25,10) sum — float-origin x·1e10 is EXACT in double, so
        // both formulations round the same value, and the per-group
        // finisher performs the same single cast-to-double rounding; per
        // element this is one codegen long add instead of a non-compact
        // BigDecimal add, and the (grp,pos) shuffle rows are half the bytes
        (graft.functions.gf.fp10ToDouble(
          sum(graft.functions.gf.fp10(col("x").cast("double")))) /
          count(lit(1))).as("mean_x"),
        count(lit(1)).as("n"))

  /** Spherical nearest-centroid assignment: route every vector to the
    * max-cosine group centroid (ties -> lowest centroid index = lowest
    * group value). The k-means assignment step, and the router behind
    * SemDeDup cluster scoping and nearest-centroid classification.
    *
    * Scale shape: centroids are a groups x dim driver-side constant
    * (the codebook-load pattern) baked into one codegen expression
    * ([[graft.functions.gf.nearestCos]]), so assignment is a NARROW map
    * over the corpus — no join, no shuffle; only the centroid computation
    * itself shuffles (partial-aggregated, <= groups x dim rows/task).
    * Output: (idCol, groupCol, assigned). */
  def assignToCentroids(
      df: DataFrame, idCol: String, vecCol: String, groupCol: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    val spark = df.sparkSession
    val cents = groupCentroids(df, groupCol, vecCol)
      .groupBy("grp")
      .agg(array_sort(collect_list(struct(col("pos"), col("mean_x")))).as("pm"))
      .select(col("grp"), transform(col("pm"), p => p.getField("mean_x")).as("centroid"))
      .orderBy("grp")
      .collect() // groups x dim doubles — bounded driver-side constant
    val centroids = cents.map(_.getSeq[Double](1).toArray)
    val grpField = df.schema(groupCol)
    val mapping = spark.createDataFrame(
      cents.zipWithIndex.map { case (r, i) =>
        org.apache.spark.sql.Row(i, r.get(0)) }.toSeq.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("__cidx",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        grpField.copy(name = "assigned"))))
    df.filter(col(vecCol).isNotNull)
      .select(col(idCol), col(groupCol),
        gf.nearestCos(col(vecCol), centroids).as("__cidx"))
      .join(broadcast(mapping), "__cidx")
      .select(col(idCol), col(groupCol), col("assigned"))
  }

  /** SQ8 scalar-quantization ANN (FAISS IndexScalarQuantizer parity —
    * the simplest compressed-index family member, 4x over float32):
    * per-dimension affine codes from an exact corpus min/max train pass,
    * asymmetric approximate-cosine scoring (codes vs raw query) via a
    * codegen kernel over plan-embedded min/span arrays, then exact
    * re-rank of the top-`rerank` candidates from the real vectors.
    * Requires rerank >= k (fails with an IllegalArgumentException
    * otherwise).
    *
    * Train is ONE aggregate (dim rows to the driver — the codebook-load
    * pattern) and is exact min/max, so it is partition-layout- and
    * retry-independent by construction, unlike sampled k-means training.
    * At rerank = corpus size the approximation vanishes and the result
    * equals brute force (the `ann_sq_full` oracle point); the
    * recall-trading operating point is spec-verified. */
  def sqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      rerank: Int = 50): DataFrame = {
    Dedup.requireLongId(corpus, idCol)
    Dedup.requireLongId(queries, idCol)
    val (mins, spans) = sqTrain(corpus, vecCol)
    val codes = corpus.where(col(vecCol).isNotNull).select(
      col(idCol).cast("long").as("neighbor_id"),
      col(vecCol).as("c_vec"),
      gf.sqEncode(col(vecCol), mins, spans).as("codes"))
    val qt = queries.where(col(vecCol).isNotNull).select(
      col(idCol).cast("long").as("query_id"), col(vecCol).as("q_vec"))
    // bytes-small code table, |q| x dim fused SQ-cosine per row — spread
    // the streamed side ([[Layout.spread]])
    val approx = Layout.spread(codes.drop("c_vec")).crossJoin(broadcast(qt))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        gf.sqCos(col("codes"), col("q_vec"), mins, spans).as("cos_sim"))
    exactRerank(approx, codes.select(col("neighbor_id"), col("c_vec")), qt, k, rerank)
  }

  /** Exact per-dimension (min, span) of a float-vector corpus — the SQ8
    * quantizer train step: one posexplode aggregate, dim rows collected
    * as a driver constant. */
  def sqTrain(corpus: DataFrame, vecCol: String): (Array[Float], Array[Float]) = {
    val rows = corpus.where(col(vecCol).isNotNull)
      .select(posexplode(col(vecCol)).as(Seq("pos", "x")))
      .groupBy("pos").agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .collect()
    require(rows.nonEmpty, "sqTrain: empty corpus")
    val dim = rows.map(_.getInt(0)).max + 1
    val mins = new Array[Float](dim)
    val spans = new Array[Float](dim)
    rows.foreach { r =>
      val p = r.getInt(0)
      mins(p) = r.getFloat(1)
      spans(p) = r.getFloat(2) - r.getFloat(1)
    }
    (mins, spans)
  }
}
