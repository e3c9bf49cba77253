package graft

import graft.ops.Similarity
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = graft.io.Tables.embeddings(spark, sfDir)

  test("bruteForceTopK: hand-checkable neighbors") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f)),
      (3L, Array(-1.0f, 0.0f))).toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(vecs, vecs.where(col("vec_id") === 0), "vec_id", "embedding", 2)
      .orderBy("rank").collect().map(r => (r.getLong(1), r.getInt(2)))
    assert(out.toSeq === Seq((1L, 1), (2L, 2)))
  }

  test("lshTopK: rank-1 self-evident neighbors recalled on sf0.001 embeddings") {
    val queries = emb.where(col("vec_id") < 20)
    val bf = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshTopK(emb, queries, "vec_id", "embedding", 5, bits = 5, tables = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (bf & lsh).size.toDouble / bf.size
    // uniform-random vectors are the LSH worst case; still demand real signal
    assert(recall >= 0.5, s"LSH recall $recall vs brute force")
  }

  test("ivfTopK: recall vs brute force on sf0.001 embeddings") {
    val queries = emb.where(col("vec_id") < 20)
    val bf = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(emb, queries, "vec_id", "embedding", 5, nlist = 16, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (bf & ivf).size.toDouble / bf.size
    assert(recall >= 0.5, s"IVF recall $recall vs brute force")
    // each query emits at most k rows
    assert(ivf.groupBy(_._1).values.map(_.size).max <= 5)
  }

  test("ivfTopK at nprobe = nlist is EXACTLY brute force (the oracle operating point)") {
    val queries = emb.where(col("vec_id") < 20)
    val bf = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val full = Similarity.ivfTopK(emb, queries, "vec_id", "embedding", 5, nlist = 16, nprobe = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(full === bf, "exhaustive IVF must equal brute force including ranks")
  }

  test("pqTopK at rerank = N is EXACTLY brute force (the oracle operating point)") {
    val queries = emb.where(col("vec_id") < 20)
    val n = emb.count().toInt
    val bf = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val full = Similarity.pqTopK(emb, queries, "vec_id", "embedding", 5,
        m = 8, ksub = 16, rerank = n)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(full === bf, "full-rerank PQ must equal brute force including ranks")
  }

  test("ivfpqTopK at nprobe = nlist, rerank = N is EXACTLY brute force") {
    val queries = emb.where(col("vec_id") < 20)
    val n = emb.count().toInt
    val bf = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val full = Similarity.ivfpqTopK(emb, queries, "vec_id", "embedding", 5,
        nlist = 16, nprobe = 16, m = 8, ksub = 16, rerank = n)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(full === bf, "exhaustive IVFADC must equal brute force including ranks")
  }

  test("knnLabel: majority of k=3 identical-label neighbors wins") {
    val corpus = Seq(
      (10L, Array(1.0f, 0.0f), 7),
      (11L, Array(0.95f, 0.05f), 7),
      (12L, Array(0.9f, 0.1f), 7),
      (13L, Array(0.0f, 1.0f), 3)).toDF("vec_id", "embedding", "label")
    val q = Seq((0L, Array(1.0f, 0.01f), -1)).toDF("vec_id", "embedding", "label")
    val out = Similarity.knnLabel(corpus, q, "vec_id", "embedding", "label", 3).collect()
    assert(out.length === 1)
    assert(out(0).getInt(1) === 7)
    assert(out(0).getLong(2) === 3L)
  }

  test("TopKBuffer: bounded heap keeps k best with window-compatible tie-breaks") {
    val buf = new graft.functions.TopKBuffer(3)
    // shuffled inserts incl. score ties (0.9 twice: id 7 must beat id 9)
    Seq((0.5, 1L), (0.9, 9L), (0.2, 2L), (0.9, 7L), (0.8, 3L), (0.1, 4L))
      .foreach { case (s, i) => buf.insert(s, i) }
    val order = buf.sortedIndices.map(i => (buf.scores(i), buf.ids(i))).toSeq
    assert(order === Seq((0.9, 7L), (0.9, 9L), (0.8, 3L)))
    // a later better element evicts the current worst
    buf.insert(0.95, 11L)
    val merged = buf.sortedIndices.map(i => (buf.scores(i), buf.ids(i))).toSeq
    assert(merged === Seq((0.95, 11L), (0.9, 7L), (0.9, 9L)))
  }

  test("ivfTopK is deterministic across partition layouts (hash-ordered sample, no UDFs)") {
    val queries = emb.where(col("vec_id") < 20)
    def run(c: org.apache.spark.sql.DataFrame) =
      Similarity.ivfTopK(c, queries, "vec_id", "embedding", 5, nlist = 16, nprobe = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val a = run(emb)
    val b = run(emb.repartition(7))
    val c = run(emb.repartition(1))
    assert(a === b)
    assert(a === c)
  }

  test("knnLabelLsh at full-recall params agrees with brute-force kNN on sf0.001") {
    val queries = emb.where(col("vec_id") < 20)
    val exact = Similarity.knnLabel(emb, queries, "vec_id", "embedding", "label", 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val lsh = Similarity.knnLabelLsh(emb, queries, "vec_id", "embedding", "label", 10,
        bits = 3, tables = 48)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(lsh === exact)
  }

  test("pqTopK: recall vs brute force on sf0.001 embeddings; bounded output") {
    val queries = emb.where(col("vec_id") < 20)
    val bf = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = Similarity.pqTopK(emb, queries, "vec_id", "embedding", 5, m = 8, ksub = 16, rerank = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (bf & pq).size.toDouble / bf.size
    assert(recall >= 0.5, s"PQ recall $recall vs brute force")
    assert(pq.groupBy(_._1).values.map(_.size).max <= 5)
  }

  test("pqTopK is deterministic across partition layouts") {
    val queries = emb.where(col("vec_id") < 10)
    def run(c: org.apache.spark.sql.DataFrame) =
      Similarity.pqTopK(c, queries, "vec_id", "embedding", 5, rerank = 50)
        .orderBy("query_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(run(emb.repartition(3)) === run(emb.repartition(17)))
  }

  test("ivfpqTopK: recall vs brute force on sf0.001 embeddings; bounded output") {
    val queries = emb.where(col("vec_id") < 20)
    val bf = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivfpq = Similarity.ivfpqTopK(emb, queries, "vec_id", "embedding", 5,
        nlist = 16, nprobe = 4, m = 8, ksub = 16, rerank = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (bf & ivfpq).size.toDouble / bf.size
    // composed pruning (cells AND codes) on uniform-random vectors — the
    // ANN worst case; demand real signal, not perfection
    assert(recall >= 0.4, s"IVFADC recall $recall vs brute force")
    assert(ivfpq.groupBy(_._1).values.map(_.size).max <= 5)
  }

  test("ivfpq subsets ivf candidates sensibly and is deterministic across layouts") {
    val queries = emb.where(col("vec_id") < 10)
    def run(c: org.apache.spark.sql.DataFrame) =
      Similarity.ivfpqTopK(c, queries, "vec_id", "embedding", 5, rerank = 50)
        .orderBy("query_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(run(emb.repartition(3)) === run(emb.repartition(17)))
  }

  test("pqAdcScores: layout-deterministic; ranks dense; adc monotone per query") {
    val queries = emb.where(col("vec_id") < 10)
    def run(c: org.apache.spark.sql.DataFrame) =
      Similarity.pqAdcScores(c, queries, "vec_id", "embedding", topPerQuery = 20)
        .orderBy("query_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    val a = run(emb.repartition(3))
    assert(a === run(emb.repartition(17)))
    a.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.map(_._4) === (1 to rows.length), s"ranks not dense for query $q")
      val dists = rows.sortBy(_._4).map(_._3)
      assert(dists === dists.sorted, s"adc_dist not monotone in rank for query $q")
      assert(dists.forall(_ >= 0.0))
    }
  }

  test("pqAdcScores equals the rank-window formulation, ADC ties broken by neighbor_id") {
    // the row_number() reference pqAdcScores ranked with before it moved
    // onto the shared bounded top-k
    def windowAdc(corpus: org.apache.spark.sql.DataFrame, topPerQuery: Int) = {
      import graft.functions.gf
      import org.apache.spark.sql.expressions.Window
      val codebooks = Similarity.pqCodebooks(corpus, "vec_id", "embedding")
      val codes = corpus.select(col("vec_id").cast("long").as("neighbor_id"),
        gf.pqEncode(col("embedding"), codebooks, 8, 16).as("codes"))
      val qt = corpus.where(col("vec_id") < 10).select(col("vec_id").cast("long").as("query_id"),
        gf.pqTable(col("embedding"), codebooks, 8, 16).as("tbl"))
      val w = Window.partitionBy("query_id").orderBy(col("adc_dist"), col("neighbor_id"))
      codes.crossJoin(broadcast(qt))
        .where(col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          round(gf.pqAdc(col("tbl"), col("codes"), 16), 6).as("adc_dist"))
        .withColumn("rank", row_number().over(w))
        .where(col("rank") <= topPerQuery)
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .sortBy(r => (r._1, r._4)).toSeq
    def check(corpus: org.apache.spark.sql.DataFrame, topPerQuery: Int) = {
      val got = Similarity.pqAdcScores(corpus, corpus.where(col("vec_id") < 10),
        "vec_id", "embedding", topPerQuery = topPerQuery)
      val ref = windowAdc(corpus, topPerQuery)
      assert(got.schema.map(f => (f.name, f.dataType)) === ref.schema.map(f => (f.name, f.dataType)))
      val out = rows(got)
      assert(out === rows(ref))
      out
    }
    check(emb, 50)
    // vector 5 again under id 1000000: identical codes, so every query
    // but 5 sees an exact ADC tie that must rank 5 first
    val dup = emb.unionByName(emb.where(col("vec_id") === 5).withColumn("vec_id", lit(1000000L)))
    val out = check(dup, dup.count().toInt)
    val ties = out.filter(r => r._2 == 5L || r._2 == 1000000L).groupBy(_._1)
    assert(ties.size === 10)
    ties.foreach { case (q, rs) =>
      if (q == 5L) assert(rs.map(_._2) === Seq(1000000L))
      else {
        assert(rs.map(_._2) === Seq(5L, 1000000L), s"tie order for query $q")
        assert(rs.head._3 === rs(1)._3 && rs(1)._4 === rs.head._4 + 1, s"tie for query $q")
      }
    }
  }

  test("pqTopK, sqTopK, ivfpqTopK and ivfpqQueryIndex fail loudly on rerank < k") {
    val queries = emb.where(col("vec_id") < 10)
    Similarity.ivfpqBuildIndex(emb, "vec_id", "embedding", "graft_ivfpq_rerank_k",
      nlist = 16, m = 8, ksub = 16)
    try {
      val calls = Seq[() => org.apache.spark.sql.DataFrame](
        () => Similarity.pqTopK(emb, queries, "vec_id", "embedding", 5, rerank = 3),
        () => Similarity.sqTopK(emb, queries, "vec_id", "embedding", 5, rerank = 3),
        () => Similarity.ivfpqTopK(emb, queries, "vec_id", "embedding", 5, rerank = 3),
        () => Similarity.ivfpqQueryIndex(queries, "vec_id", "embedding",
          "graft_ivfpq_rerank_k", k = 5, rerank = 3))
      calls.foreach { call =>
        val e = intercept[IllegalArgumentException](call())
        assert(e.getMessage.contains("rerank = 3") && e.getMessage.contains("k = 5"), e.getMessage)
      }
    } finally Seq("", "_centroids", "_pq", "_tombstones")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS graft_ivfpq_rerank_k$t"))
  }

  test("ivfpq persistent index: build once, query equals direct ivfpqTopK") {
    val queries = emb.where(col("vec_id") < 20)
    Similarity.ivfpqBuildIndex(emb, "vec_id", "embedding", "graft_ivfpq_idx",
      nlist = 16, m = 8, ksub = 16)
    val viaIndex = Similarity.ivfpqQueryIndex(queries, "vec_id", "embedding", "graft_ivfpq_idx",
        k = 5, nprobe = 4, rerank = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val direct = Similarity.ivfpqTopK(emb, queries, "vec_id", "embedding", 5,
        nlist = 16, nprobe = 4, m = 8, ksub = 16, rerank = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(viaIndex === direct)
  }

  test("ivfpqAppendIndex: grown index covers both halves; exhaustive probe = brute force") {
    val queries = emb.where(col("vec_id") < 10)
    val n = emb.count().toInt
    Similarity.ivfpqBuildIndex(emb.where(col("vec_id") % 2 === 0),
      "vec_id", "embedding", "graft_ivfpq_grow", nlist = 16, m = 8, ksub = 16)
    Similarity.ivfpqAppendIndex(emb.where(col("vec_id") % 2 === 1),
      "vec_id", "embedding", "graft_ivfpq_grow")
    // every corpus row present exactly once across build + append files
    val idx = spark.table("graft_ivfpq_grow")
    assert(idx.count() === n.toLong)
    assert(idx.select("neighbor_id").distinct().count() === n.toLong)
    // appended rows were encoded with the LOADED quantizers: at the
    // exhaustive operating point the probe equals brute force rank-for-rank
    val viaIndex = Similarity.ivfpqQueryIndex(queries, "vec_id", "embedding",
        "graft_ivfpq_grow", k = 5, nprobe = 16, rerank = n)
      .select("query_id", "neighbor_id", "rank")
      .orderBy("query_id", "rank").collect()
    val bf = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id", "rank")
      .orderBy("query_id", "rank").collect()
    assert(viaIndex.sameElements(bf))
  }

  test("ivfpqAppendIndex: re-append is idempotent — retry after success cannot double-insert (fault injection)") {
    val queries = emb.where(col("vec_id") < 10)
    val n = emb.count().toInt
    Similarity.ivfpqBuildIndex(emb.where(col("vec_id") % 2 === 0),
      "vec_id", "embedding", "graft_ivfpq_retry", nlist = 16, m = 8, ksub = 16)
    val delta = emb.where(col("vec_id") % 2 === 1)
    Similarity.ivfpqAppendIndex(delta, "vec_id", "embedding", "graft_ivfpq_retry")
    // the append job is atomic (a crashed job commits nothing), so the
    // fault to inject is the RETRY AFTER SUCCESS: the driver died before
    // the ack, the pipeline re-fires the same delta
    Similarity.ivfpqAppendIndex(delta, "vec_id", "embedding", "graft_ivfpq_retry")
    // and a partial retry (half the delta) must also insert nothing new
    Similarity.ivfpqAppendIndex(delta.where(col("vec_id") % 3 === 0),
      "vec_id", "embedding", "graft_ivfpq_retry")
    val idx = spark.table("graft_ivfpq_retry")
    assert(idx.count() === n.toLong)
    assert(idx.select("neighbor_id").distinct().count() === n.toLong)
    // exhaustive probe still equals brute force rank-for-rank
    val viaIndex = Similarity.ivfpqQueryIndex(queries, "vec_id", "embedding",
        "graft_ivfpq_retry", k = 5, nprobe = 16, rerank = n)
      .select("query_id", "neighbor_id", "rank")
      .orderBy("query_id", "rank").collect()
    val bf = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id", "rank")
      .orderBy("query_id", "rank").collect()
    assert(viaIndex.sameElements(bf))
  }

  test("ivfpqRemoveIndex: tombstoned vectors invisible; exhaustive probe = retained brute force; DPP survives") {
    val queries = emb.where(col("vec_id") < 10)
    val n = emb.count().toInt
    Similarity.ivfpqBuildIndex(emb, "vec_id", "embedding", "graft_ivfpq_rmv",
      nlist = 16, m = 8, ksub = 16)
    Similarity.ivfpqRemoveIndex(emb.where(col("vec_id") % 5 === 0),
      "vec_id", "graft_ivfpq_rmv")
    val probe = Similarity.ivfpqQueryIndex(queries, "vec_id", "embedding",
      "graft_ivfpq_rmv", k = 5, nprobe = 16, rerank = n)
    val viaIndex = probe.select("query_id", "neighbor_id", "rank")
      .orderBy("query_id", "rank").collect()
    assert(viaIndex.forall(_.getLong(1) % 5 != 0), "a tombstoned vector surfaced")
    val bf = Similarity.bruteForceTopK(emb.where(col("vec_id") % 5 =!= 0),
        queries, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id", "rank")
      .orderBy("query_id", "rank").collect()
    assert(viaIndex.sameElements(bf))
    // the anti-join must not cost the scan its dynamic partition pruning
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"tombstone anti-join broke DPP on the index scan:\n${plan.take(3000)}")
  }
  test("groupCentroids: exact per-group per-position means") {
    import spark.implicits._
    val df = Seq(
      (1L, Array(1.0f, 2.0f), "a"),
      (2L, Array(3.0f, 6.0f), "a"),
      (3L, Array(10.0f, 20.0f), "b"),
      (4L, null.asInstanceOf[Array[Float]], "b")).toDF("id", "v", "g")
    val got = Similarity.groupCentroids(df, "g", "v")
      .orderBy("grp", "pos")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getDouble(2), r.getLong(3)))
    assert(got.toSeq === Seq(
      ("a", 0, 2.0, 2L), ("a", 1, 4.0, 2L),
      ("b", 0, 10.0, 1L), ("b", 1, 20.0, 1L)))
  }

  test("assignToCentroids routes separated clusters home; ties go to the lowest label") {
    import spark.implicits._
    // two orthogonal clusters -> every member reassigned to its own label
    val df = Seq(
      (1L, Array(1.0f, 0.0f), 7), (2L, Array(0.9f, 0.1f), 7),
      (3L, Array(0.0f, 1.0f), 9), (4L, Array(0.1f, 0.9f), 9)).toDF("id", "v", "g")
    val got = Similarity.assignToCentroids(df, "id", "v", "g")
      .collect().map(r => (r.getLong(0), r.getInt(2))).toMap
    assert(got === Map(1L -> 7, 2L -> 7, 3L -> 9, 4L -> 9))
    // identical centroids -> cosine tie -> lowest label wins
    val tie = Seq((1L, Array(1.0f, 1.0f), 5), (2L, Array(1.0f, 1.0f), 3))
      .toDF("id", "v", "g")
    val gotTie = Similarity.assignToCentroids(tie, "id", "v", "g")
      .collect().map(r => r.getInt(2)).toSet
    assert(gotTie === Set(3))
  }
  test("rangeSearch: LSH twin at full recall equals the exact radius result") {
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 10)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.rangeSearch(emb, queries, "vec_id", "embedding", 0.3))
    val lsh = pairs(Similarity.rangeSearchLsh(emb, queries, "vec_id", "embedding", 0.3,
      bits = 3, tables = 48))
    assert(exact.nonEmpty)
    assert(lsh === exact)
    // radius monotonicity: a tighter radius returns a subset
    val tight = pairs(Similarity.rangeSearch(emb, queries, "vec_id", "embedding", 0.5))
    assert(tight.subsetOf(exact))
  }

  test("ivfpqCompactIndex: physical fold equals tombstone view; dead cells dropped") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 10)
    val n = emb.count().toInt
    Similarity.ivfpqBuildIndex(emb, "vec_id", "embedding", "graft_ivfpq_spec_cp",
      nlist = 8, m = 8, ksub = 16)
    Similarity.ivfpqRemoveIndex(emb.filter(pmod(col("vec_id"), lit(5)) === 0),
      "vec_id", "graft_ivfpq_spec_cp")
    val before = Similarity.ivfpqQueryIndex(queries, "vec_id", "embedding",
      "graft_ivfpq_spec_cp", k = 5, nprobe = 8, rerank = n)
      .orderBy("query_id", "rank").collect().toSeq
    Similarity.ivfpqCompactIndex(spark, "graft_ivfpq_spec_cp")
    val afterDf = Similarity.ivfpqQueryIndex(queries, "vec_id", "embedding",
      "graft_ivfpq_spec_cp", k = 5, nprobe = 8, rerank = n)
      .orderBy("query_id", "rank")
    assert(afterDf.collect().toSeq === before)
    assert(spark.table("graft_ivfpq_spec_cp_tombstones").isEmpty)
    // the durable staging table is transient: gone once the swap commits
    assert(!spark.catalog.tableExists("graft_ivfpq_spec_cp_stage"))
    assert(!afterDf.queryExecution.executedPlan.toString.toLowerCase.contains("leftanti"))
    // tombstoned ids are physically gone from the codes table
    assert(spark.table("graft_ivfpq_spec_cp")
      .where(pmod(col("neighbor_id"), lit(5)) === 0).isEmpty)
    // dead-cell edge: tombstoning EVERYTHING must leave an empty index,
    // not resurrected vectors (dynamic overwrite skips unwritten
    // partitions — the dropped-partition path covers them)
    Similarity.ivfpqRemoveIndex(emb, "vec_id", "graft_ivfpq_spec_cp")
    Similarity.ivfpqCompactIndex(spark, "graft_ivfpq_spec_cp")
    assert(spark.table("graft_ivfpq_spec_cp").isEmpty)
    assert(Similarity.ivfpqQueryIndex(queries, "vec_id", "embedding",
      "graft_ivfpq_spec_cp", k = 5, nprobe = 8, rerank = n).isEmpty)
    spark.sql("DROP TABLE IF EXISTS graft_ivfpq_spec_cp")
    spark.sql("DROP TABLE IF EXISTS graft_ivfpq_spec_cp_centroids")
    spark.sql("DROP TABLE IF EXISTS graft_ivfpq_spec_cp_pq")
    spark.sql("DROP TABLE IF EXISTS graft_ivfpq_spec_cp_tombstones")
  }

  test("sqTopK: recall at rerank=50, exactness at rerank=N, layout-independent train") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 10)
    val n = emb.count().toInt
    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val bf = keyed(Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5))
    // exhaustive point equals brute force exactly (ranks included)
    assert(keyed(Similarity.sqTopK(emb, queries, "vec_id", "embedding", 5, rerank = n)) === bf)
    // recall-trading point: 8-bit quantization barely perturbs cosine
    val sq = keyed(Similarity.sqTopK(emb, queries, "vec_id", "embedding", 5, rerank = 50))
    val recall = bf.map(t => (t._1, t._2)).intersect(sq.map(t => (t._1, t._2))).size.toDouble /
      bf.size
    assert(recall >= 0.9, s"SQ8 recall $recall vs brute force")
    // train is exact min/max -> identical on any partition layout
    val (m1, s1) = Similarity.sqTrain(emb, "embedding")
    val (m2, s2) = Similarity.sqTrain(emb.repartition(13), "embedding")
    assert(m1.toSeq === m2.toSeq && s1.toSeq === s2.toSeq)
    // codes cover the full byte range somewhere (the quantizer actually
    // uses its span) and never exceed it
    import spark.implicits._
    val codes = emb.where(col("embedding").isNotNull)
      .select(graft.functions.gf.sqEncode(col("embedding"), m1, s1).as("c"))
      .as[Array[Byte]].collect()
    val all = codes.flatten.map(_ & 0xff)
    assert(all.min === 0 && all.max === 255)
  }
}
