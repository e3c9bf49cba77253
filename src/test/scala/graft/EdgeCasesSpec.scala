package graft

import graft.ops.{Corpus, Dedup, Similarity}
import graft.llm.Elo
import org.apache.spark.sql.functions._

/** Empty and degenerate inputs: every operator should return an empty
  * (correctly-schemed) result or a clear error — never crash or hang. */
class EdgeCasesSpec extends SparkSpec {
  import spark.implicits._

  private def emptyDocs = Seq.empty[(Long, String, String, String)]
    .toDF("doc_id", "text", "lang", "source")
  private def emptyEmb = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")

  test("dedup family on an empty corpus returns empty") {
    assert(Dedup.exact(emptyDocs, "text", "doc_id").count() === 0L)
    assert(Dedup.ngramJaccardPairs(emptyDocs, "text", "doc_id", 3, 0.5).count() === 0L)
    assert(Dedup.minhashLshPairsVerified(emptyDocs, "text", "doc_id").count() === 0L)
    assert(Dedup.simhashPairsCanonical(emptyDocs, "text", "doc_id").count() === 0L)
    assert(Dedup.embeddingPairsLsh(emptyEmb, "vec_id", "embedding", 0.4).count() === 0L)
  }

  test("connectedComponents and dropNearDuplicates on empty pairs") {
    val noPairs = Seq.empty[(Long, Long)].toDF("a_id", "b_id")
    assert(Dedup.connectedComponents(noPairs).count() === 0L)
    val docs = Seq((1L, "a", "en", "s")).toDF("doc_id", "text", "lang", "source")
    assert(Dedup.dropNearDuplicates(docs, noPairs, "doc_id").count() === 1L)
  }

  test("corpus operators on an empty corpus") {
    // rollup still emits the grand-total row (count 0 over nothing is a
    // deliberate SQL-standard choice: GROUP BY ROLLUP of zero rows -> one
    // all-null row in Spark and DuckDB alike)
    assert(Corpus.stats(emptyDocs).count() <= 1L)
    assert(Corpus.deterministicSample(emptyDocs, "doc_id", 50).count() === 0L)
    assert(Corpus.capPerStratum(emptyDocs, "source", "doc_id", 10).count() === 0L)
    assert(Corpus.packSequences(emptyDocs, "doc_id", "text", "source", 100).count() === 0L)
  }

  test("similarity: empty queries yield empty results; empty corpus for IVF errors clearly") {
    val emb = graft.io.Tables.embeddings(spark, sfDir)
    assert(Similarity.bruteForceTopK(emb, emptyEmb, "vec_id", "embedding", 5).count() === 0L)
    assert(Similarity.lshTopK(emb, emptyEmb, "vec_id", "embedding", 5).count() === 0L)
    val ex = intercept[IllegalArgumentException](
      Similarity.ivfTopK(emptyEmb, emb, "vec_id", "embedding", 5))
    assert(ex.getMessage.contains("empty corpus"))
  }

  test("elo: empty and single-label ballots") {
    assert(Elo.ratings(Seq.empty[Seq[String]].toDF("ballot"), "ballot").count() === 0L)
    // a single-entry ballot has no pairs -> no ratings
    assert(Elo.ratings(Seq(Seq("only")).toDF("ballot"), "ballot").count() === 0L)
  }

  test("string ids are rejected with a clear error, not silently corrupted") {
    val strDocs = Seq(("a", "text one"), ("b", "text two")).toDF("doc_id", "text")
    val ex = intercept[IllegalArgumentException](
      Dedup.ngramJaccardPairs(strDocs, "text", "doc_id", 3, 0.5))
    assert(ex.getMessage.contains("integral"))
  }
  test("round-8 operators on empty and degenerate inputs") {
    // fuzzy join: empty frame and all-null strings -> empty, no crash
    val emptyS = Seq.empty[(Long, String)].toDF("id", "s")
    assert(graft.ops.Fuzzy.fuzzyJoin(emptyS, "id", "s", 2).count() === 0L)
    assert(graft.ops.Fuzzy.fuzzyJoinAgainst(emptyS, emptyS, "id", "s", 2).count() === 0L)
    val oneSided = Seq((1L, "abc")).toDF("id", "s")
    assert(graft.ops.Fuzzy.fuzzyJoinAgainst(oneSided, emptyS, "id", "s", 2).count() === 0L)
    assert(graft.ops.Fuzzy.fuzzyJoinAgainst(emptyS, oneSided, "id", "s", 2).count() === 0L)
    // centroids/assignment: empty and all-null-vector frames -> empty
    val emb2 = Seq.empty[(Long, Array[Float], Int)].toDF("vec_id", "embedding", "label")
    assert(Similarity.groupCentroids(emb2, "label", "embedding").count() === 0L)
    assert(Similarity.assignToCentroids(emb2, "vec_id", "embedding", "label").count() === 0L)
    val nullVecs = Seq((1L, null.asInstanceOf[Array[Float]], 0))
      .toDF("vec_id", "embedding", "label")
    assert(Similarity.groupCentroids(nullVecs, "label", "embedding").count() === 0L)
    // range search: empty queries -> empty
    val someEmb = Seq((1L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    assert(Similarity.rangeSearch(someEmb, emptyEmb, "vec_id", "embedding", 0.3).count() === 0L)
    // temperature sample: empty corpus and all-null groups -> empty
    assert(Corpus.temperatureSample(emptyDocs, "doc_id", "lang", 50).count() === 0L)
    val nullLang = Seq((1L, "t", null.asInstanceOf[String], "s"))
      .toDF("doc_id", "text", "lang", "source")
    assert(Corpus.temperatureSample(nullLang, "doc_id", "lang", 50).count() === 0L)
    // media dedup: null payloads dropped
    val nullPay = Seq((1L, null.asInstanceOf[Array[Byte]]))
      .toDF("doc_id", "payload")
    assert(graft.ops.Multimodal.exactDedup(nullPay, "doc_id").count() === 0L)
    // embedding decontamination: empty eval set keeps everything
    val kept = Dedup.decontaminateEmbeddings(someEmb, emptyEmb, "vec_id", "embedding", 0.4)
      .collect()
    assert(kept.length === 1 && kept(0).getBoolean(2))
  }

  test("round-8 continuation operators on degenerate inputs") {
    // pagerank: empty vertex set is a clear error; edge-free graph holds
    // the teleport base everywhere
    intercept[IllegalArgumentException] {
      graft.ops.Graph.pageRank(Seq.empty[Long].toDF("id"),
        Seq.empty[(Long, Long)].toDF("src", "dst"))
    }
    val lonely = graft.ops.Graph.pageRank(Seq(0L, 1L).toDF("id"),
      Seq.empty[(Long, Long)].toDF("src", "dst"), iters = 2).collect()
    assert(lonely.map(_.getLong(1)).toSet === Set((1000000000000L * 15) / (100L * 2)))
    // tfidf: empty corpus and all-empty texts -> empty
    assert(graft.ops.Search.tfidfTopTerms(emptyDocs, "doc_id", "text").count() === 0L)
    val blank = Seq((1L, ""), (2L, "   ")).toDF("doc_id", "text")
    assert(graft.ops.Search.tfidfTopTerms(blank, "doc_id", "text").count() === 0L)
    // classifier: empty corpus -> empty (schema intact)
    val cs = graft.ops.TextAnalysis.classifierScore(emptyDocs, "doc_id", "text")
    assert(cs.count() === 0L && cs.columns.toSeq === Seq("doc_id", "score_r", "keep"))
    // frame sampling / audio stats: empty input -> empty
    assert(graft.ops.Multimodal.sampleVideoFrames(
      Seq.empty[Long].toDF("doc_id"), "doc_id").count() === 0L)
    assert(graft.ops.Multimodal.audioEnergyStats(emptyDocs, "doc_id", "text").count() === 0L)
  }
}
