package graft

import graft.ops.Search
import org.apache.spark.sql.functions.col

/** BM25 keyword retrieval. */
class SearchSpec extends SparkSpec {
  import spark.implicits._

  test("bm25: hand-computed scores and ordering on a tiny corpus") {
    val df = Seq(
      (1L, "spark spark join"),
      (2L, "join window filter"),
      (3L, "nothing here at all")).toDF("doc_id", "text")
    val out = Search.bm25(df, "text", "doc_id", Seq("spark", "join"), k = 10).collect()

    // recompute with the same formula: N=3, dl=(3,3,4), avgdl=10/3,
    // df(spark)=1, df(join)=2
    val n = 3.0; val avgdl = 10.0 / 3.0
    def term(tf: Double, df: Double, dl: Double): Double =
      if (tf == 0) 0.0
      else math.log(1.0 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2 /
        (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
    val exp1 = BigDecimal(term(2, 1, 3) + term(1, 2, 3))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val exp2 = BigDecimal(term(0, 1, 3) + term(1, 2, 3))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

    // doc 3 matches nothing -> excluded; doc 1 outranks doc 2
    assert(out.map(_.getLong(0)).toSeq === Seq(1L, 2L))
    assert(out(0).getDouble(1) === exp1)
    assert(out(1).getDouble(1) === exp2)
  }

  test("bm25: k bounds the result and ordering is (score desc, id asc)") {
    val df = (1L to 30L).map(i => (i, ("join " * i.toInt).trim)).toDF("doc_id", "text")
    val out = Search.bm25(df, "text", "doc_id", Seq("join"), k = 5).collect()
    assert(out.length === 5)
    val scores = out.map(_.getDouble(1))
    assert(scores.sameElements(scores.sorted(Ordering[Double].reverse)))
    // equal scores tie-break by id ascending
    val dup = Seq((10L, "alpha join beta"), (2L, "alpha join beta"), (5L, "no match"))
      .toDF("doc_id", "text")
    val tied = Search.bm25(dup, "text", "doc_id", Seq("join"), k = 10).collect()
    assert(tied.map(_.getLong(0)).toSeq === Seq(2L, 10L))
  }

  test("bm25: rejects an empty term list") {
    val df = Seq((1L, "x")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] { Search.bm25(df, "text", "doc_id", Seq.empty) }
  }

  test("bm25 index: query reproduces the direct scan exactly") {
    val docs = graft.io.Tables.table(spark, "/root/testdata/sf0.001", "documents")
    Search.bm25IndexBuild(docs, "text", "doc_id", "graft_search_idx_spec")
    for (terms <- Seq(Seq("spark", "join", "window"), Seq("data"),
        Seq("vector", "scan", "agg", "slow"))) {
      val direct = Search.bm25(docs, "text", "doc_id", terms, k = 25).collect().toSeq
      val indexed = Search.bm25IndexQuery(spark, "graft_search_idx_spec", terms, k = 25)
        .collect().toSeq
      assert(indexed === direct, s"terms=$terms")
    }
  }

  test("bm25 index: query scan is partition-pruned to the terms' buckets") {
    val docs = graft.io.Tables.table(spark, "/root/testdata/sf0.001", "documents")
    Search.bm25IndexBuild(docs, "text", "doc_id", "graft_search_idx_prune",
      numParts = 16)
    val q = Search.bm25IndexQuery(spark, "graft_search_idx_prune", Seq("spark"), k = 5)
    q.collect()
    // one term -> exactly one of the 16 tb buckets may be read: the postings
    // scan must carry a STATIC tb partition filter (pruned at planning, no
    // corpus-wide read), and the term predicate must push to the row groups
    val plan = q.queryExecution.executedPlan.toString
    val scanLine = plan.linesIterator
      .find(l => l.contains("FileScan") && l.contains("graft_search_idx_prune"))
      .getOrElse(fail(s"no file scan over the index table:\n${plan.take(3000)}"))
    assert(scanLine.contains("PartitionFilters:") &&
      scanLine.replaceAll(".*PartitionFilters:", "").contains("tb"),
      s"index scan not partition-pruned:\n$scanLine")
    assert(scanLine.contains("PushedFilters:") &&
      scanLine.replaceAll(".*PushedFilters:", "").contains("term"),
      s"term predicate not pushed to the scan:\n$scanLine")
  }

  test("bm25 index append: build+append answers exactly like a full build") {
    import org.apache.spark.sql.functions.{col, pmod, lit}
    val docs = graft.io.Tables.table(spark, "/root/testdata/sf0.001", "documents")
    Search.bm25IndexBuild(docs, "text", "doc_id", "graft_search_idx_full")
    Search.bm25IndexBuild(docs.where(pmod(col("doc_id"), lit(10)) =!= 0),
      "text", "doc_id", "graft_search_idx_app")
    Search.bm25IndexAppend(docs.where(pmod(col("doc_id"), lit(10)) === 0),
      "text", "doc_id", "graft_search_idx_app")
    // identical corpus totals (exact-integer per-batch rows), identical
    // query results
    def metaTotals(t: String) = spark.table(t)
      .agg(org.apache.spark.sql.functions.sum(col("n_docs")),
        org.apache.spark.sql.functions.sum(col("sum_dl"))).head()
    assert(metaTotals("graft_search_idx_app_meta") ===
      metaTotals("graft_search_idx_full_meta"))
    for (terms <- Seq(Seq("spark", "join", "window"), Seq("data", "scan"))) {
      val full = Search.bm25IndexQuery(spark, "graft_search_idx_full", terms, k = 25)
        .collect().toSeq
      val app = Search.bm25IndexQuery(spark, "graft_search_idx_app", terms, k = 25)
        .collect().toSeq
      assert(app === full, s"terms=$terms")
    }
  }

  test("bm25 index append: crash mid-append converges on retry (fault injection)") {
    import org.apache.spark.sql.functions.{pmod, lit, sum}
    val docs = graft.io.Tables.table(spark, "/root/testdata/sf0.001", "documents")
    val base = docs.where(pmod(col("doc_id"), lit(10)) =!= 0)
    val delta = docs.where(pmod(col("doc_id"), lit(10)) === 0)
    Search.bm25IndexBuild(docs, "text", "doc_id", "graft_search_idx_ftref")
    Search.bm25IndexBuild(base, "text", "doc_id", "graft_search_idx_ft")
    // crash #1: postings landed, terms and meta did not
    Search.bm25IndexAppendSteps(delta, "text", "doc_id", "graft_search_idx_ft",
      Some(7L), steps = 1)
    // crash #2 (a retry that also dies): postings + terms landed, meta did not
    Search.bm25IndexAppendSteps(delta, "text", "doc_id", "graft_search_idx_ft",
      Some(7L), steps = 2)
    // successful retry of the same logical batch
    Search.bm25IndexAppend(delta, "text", "doc_id", "graft_search_idx_ft", Some(7L))
    // duplicate re-run AFTER success must also be a no-op
    Search.bm25IndexAppend(delta, "text", "doc_id", "graft_search_idx_ft", Some(7L))
    // postings exactly-once: unique per (term, doc)
    assert(spark.table("graft_search_idx_ft")
      .groupBy("term", "doc_id").count()
      .where(col("count") > 1).isEmpty)
    // corpus totals counted exactly once
    def totals(t: String) =
      spark.table(t).agg(sum(col("n_docs")), sum(col("sum_dl"))).head()
    assert(totals("graft_search_idx_ft_meta") === totals("graft_search_idx_ftref_meta"))
    // queries bit-identical to a clean full build
    for (terms <- Seq(Seq("spark", "join", "window"), Seq("data", "scan"))) {
      assert(Search.bm25IndexQuery(spark, "graft_search_idx_ft", terms, k = 25)
        .collect().toSeq ===
        Search.bm25IndexQuery(spark, "graft_search_idx_ftref", terms, k = 25)
          .collect().toSeq, s"terms=$terms")
    }
  }

  test("bm25 index append: empty and null-text deltas leave the index unchanged") {
    val docs = Seq((1L, "alpha beta gamma"), (2L, "beta delta")).toDF("doc_id", "text")
    Search.bm25IndexBuild(docs, "text", "doc_id", "graft_search_idx_empty")
    val before = Search.bm25IndexQuery(spark, "graft_search_idx_empty",
      Seq("beta"), k = 5).collect().toSeq
    val metaBefore = spark.table("graft_search_idx_empty_meta").head()
    Search.bm25IndexAppend(docs.where(col("doc_id") < 0), "text", "doc_id",
      "graft_search_idx_empty")
    Search.bm25IndexAppend(
      Seq((9L, null: String)).toDF("doc_id", "text"), "text", "doc_id",
      "graft_search_idx_empty")
    assert(spark.table("graft_search_idx_empty_meta").head() === metaBefore)
    assert(Search.bm25IndexQuery(spark, "graft_search_idx_empty",
      Seq("beta"), k = 5).collect().toSeq === before)
  }

  test("bm25 index remove: tombstones answer exactly like a retained-only build") {
    import org.apache.spark.sql.functions.{pmod, lit}
    val docs = graft.io.Tables.table(spark, "/root/testdata/sf0.001", "documents")
    Search.bm25IndexBuild(docs.where(pmod(col("doc_id"), lit(10)) =!= 0),
      "text", "doc_id", "graft_search_idx_kept")
    Search.bm25IndexBuild(docs, "text", "doc_id", "graft_search_idx_rm")
    Search.bm25IndexRemove(docs.where(pmod(col("doc_id"), lit(10)) === 0),
      "text", "doc_id", "graft_search_idx_rm")
    for (terms <- Seq(Seq("spark", "join", "window"), Seq("data", "scan"))) {
      val kept = Search.bm25IndexQuery(spark, "graft_search_idx_kept", terms, k = 25)
        .collect().toSeq
      val rm = Search.bm25IndexQuery(spark, "graft_search_idx_rm", terms, k = 25)
        .collect().toSeq
      assert(rm === kept, s"terms=$terms")
    }
    // removing everything yields an empty result, not NaN scores
    Search.bm25IndexRemove(docs.where(pmod(col("doc_id"), lit(10)) =!= 0),
      "text", "doc_id", "graft_search_idx_rm")
    assert(Search.bm25IndexQuery(spark, "graft_search_idx_rm",
      Seq("spark"), k = 5).collect().isEmpty)
  }

  test("bm25 index compact: folds tombstones physically, queries bit-identical, no anti-join left") {
    import org.apache.spark.sql.functions.{pmod, lit}
    val docs = graft.io.Tables.table(spark, "/root/testdata/sf0.001", "documents")
    Search.bm25IndexBuild(docs, "text", "doc_id", "graft_search_idx_cp")
    Search.bm25IndexRemove(docs.where(pmod(col("doc_id"), lit(10)) === 0),
      "text", "doc_id", "graft_search_idx_cp")
    val terms = Seq("spark", "join", "window")
    val before = Search.bm25IndexQuery(spark, "graft_search_idx_cp", terms, k = 25)
      .collect().toSeq
    Search.bm25IndexCompact(spark, "graft_search_idx_cp")
    val afterDf = Search.bm25IndexQuery(spark, "graft_search_idx_cp", terms, k = 25)
    assert(afterDf.collect().toSeq === before)
    // tombstones cleared; the post-compact plan carries no anti-join
    assert(spark.table("graft_search_idx_cp_tombstones").isEmpty)
    val plan = afterDf.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("leftanti"), s"anti-join after compact:\n${plan.take(2000)}")
    // the durable staging table is transient: gone once the swap commits
    assert(!spark.catalog.tableExists("graft_search_idx_cp_stage"))
    // physical tables now equal a fresh retained-only build
    Search.bm25IndexBuild(docs.where(pmod(col("doc_id"), lit(10)) =!= 0),
      "text", "doc_id", "graft_search_idx_cpk")
    def tbl(n: String) = spark.table(n).collect().map(_.toString).sorted.toSeq
    assert(tbl("graft_search_idx_cp") === tbl("graft_search_idx_cpk"))
    assert(tbl("graft_search_idx_cp_terms") === tbl("graft_search_idx_cpk_terms"))
    assert(tbl("graft_search_idx_cp_meta") === tbl("graft_search_idx_cpk_meta"))
    // compacting a clean index is a no-op
    Search.bm25IndexCompact(spark, "graft_search_idx_cp")
    assert(Search.bm25IndexQuery(spark, "graft_search_idx_cp", terms, k = 25)
      .collect().toSeq === before)
  }

  test("bm25 index compact: rewrites only affected partitions, batch ids kept, exact totals") {
    import org.apache.spark.sql.functions.{pmod, lit, sum}
    val corpus = graft.io.Tables.table(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
      .union(Seq((999999L, " \t "), (999990L, "quokka quokka"), (999980L, "wombat numbat"))
        .toDF("doc_id", "text"))
    // 90% (with the whitespace-only doc 999999) built, 10% appended as batch 7
    val base = corpus.where(pmod(col("doc_id"), lit(10)) =!= 0)
    val delta = corpus.where(pmod(col("doc_id"), lit(10)) === 0)
    // removed from batch 0: doc_id % 10 = 3 and the zero-token doc; from
    // batch 7: the two short docs, so most batch-7 partitions hold none
    val gone = corpus.where(pmod(col("doc_id"), lit(10)) === 3 ||
      col("doc_id").isin(999999L, 999990L, 999980L))
    val (t, ref) = ("graft_search_idx_b7", "graft_search_idx_b7k")
    Search.bm25IndexBuild(base, "text", "doc_id", t)
    Search.bm25IndexAppend(delta, "text", "doc_id", t, Some(7L))
    Search.bm25IndexRemove(gone, "text", "doc_id", t)
    Search.bm25IndexBuild(base.except(gone), "text", "doc_id", ref)
    Search.bm25IndexAppend(delta.except(gone), "text", "doc_id", ref, Some(7L))
    val termSets = Seq(Seq("spark", "join", "window"), Seq("data", "scan"), Seq("quokka"))
    def answers(n: String) =
      termSets.map(ts => Search.bm25IndexQuery(spark, n, ts, k = 25).collect().toSeq)
    val before = answers(t)
    // the batch-7 partitions holding no removed doc, and their files
    val goneIds = gone.select(col("doc_id")).as[Long].collect().toSeq
    val touched = spark.table(t).where(col("doc_id").isin(goneIds: _*))
      .select(col("tb"), col("batch")).distinct().as[(Int, Long)].collect().toSet
    def files(tb: Int) = spark.table(t).where(col("tb") === tb && col("batch") === 7L)
      .inputFiles.toSet
    val untouched = spark.table(t).where(col("batch") === 7L).select(col("tb")).distinct()
      .as[Int].collect().filterNot(tb => touched((tb, 7L)))
    assert(untouched.nonEmpty, "every batch-7 partition holds a removed doc")
    val filesBefore = untouched.map(tb => tb -> files(tb)).toMap
    Search.bm25IndexCompact(spark, t)
    assert(answers(t) === before)
    assert(answers(t) === answers(ref))
    assert(spark.table(s"${t}_tombstones").isEmpty)
    assert(!spark.catalog.tableExists(s"${t}_stage"))
    // untouched batch-7 partitions keep their exact files; batch ids survive,
    // so postings and dfs equal the retained-only build + append row for row
    untouched.foreach(tb => assert(files(tb) === filesBefore(tb), s"tb=$tb rewritten"))
    def tbl(n: String) = spark.table(n).collect().map(_.toString).sorted.toSeq
    assert(tbl(t) === tbl(ref))
    assert(tbl(s"${t}_terms") === tbl(s"${ref}_terms"))
    def totals(n: String) =
      spark.table(s"${n}_meta").agg(sum(col("n_docs")), sum(col("sum_dl"))).head()
    assert(totals(t) === totals(ref))
    // removing everything left: dead partitions dropped, no resurrection
    Search.bm25IndexRemove(corpus.except(gone), "text", "doc_id", t)
    Search.bm25IndexCompact(spark, t)
    assert(spark.table(t).isEmpty)
    assert(spark.table(s"${t}_terms").isEmpty)
    assert(totals(t).getLong(0) === 0L)
    assert(Search.bm25IndexQuery(spark, t, Seq("spark", "quokka"), k = 5).isEmpty)
  }

  test("bm25 index: unknown terms score nothing; empty terms rejected") {
    val docs = Seq((1L, "alpha beta"), (2L, "beta gamma")).toDF("doc_id", "text")
    Search.bm25IndexBuild(docs, "text", "doc_id", "graft_search_idx_edge")
    assert(Search.bm25IndexQuery(spark, "graft_search_idx_edge",
      Seq("zzz_not_present"), k = 5).collect().isEmpty)
    // a present term alongside an absent one still scores the present term
    val mixed = Search.bm25IndexQuery(spark, "graft_search_idx_edge",
      Seq("zzz_not_present", "beta"), k = 5).collect()
    assert(mixed.map(_.getLong(0)).toSeq === Seq(1L, 2L))
    intercept[IllegalArgumentException] {
      Search.bm25IndexQuery(spark, "graft_search_idx_edge", Seq.empty)
    }
  }

  test("tfidfTopTerms: corpus-wide terms score 0, rare terms rank by tf*ln(N/df)") {
    import spark.implicits._
    val docs = Seq(
      (0L, "apple banana apple"),
      (1L, "banana cherry"),
      (2L, "banana date date date")).toDF("doc_id", "text")
    val got = Search.tfidfTopTerms(docs, "doc_id", "text", k = 3)
      .orderBy(col("doc_id"), col("score_r").desc, col("term"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    val ln3 = BigDecimal(math.log(3.0)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def s(tf: Long) = BigDecimal(tf * math.log(3.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // banana is in every doc -> ln(N/df) = ln(1) = 0 exactly
    assert(got.filter(_._2 == "banana").forall(_._4 == 0.0))
    // per-doc winners are the doc-specific terms, scored tf * ln 3
    assert(got.filter(_._1 == 0L).head === ((0L, "apple", 2L, s(2))))
    assert(got.filter(_._1 == 1L).head === ((1L, "cherry", 1L, s(1))))
    assert(got.filter(_._1 == 2L).head === ((2L, "date", 3L, s(3))))
    assert(ln3 > 0)
  }

  test("tfidfTopTerms is partition-layout independent") {
    import spark.implicits._
    val docs = (0L until 40L).map(i => (i, s"w${i % 7} w${i % 3} common")).toDF("doc_id", "text")
    val a = Search.tfidfTopTerms(docs, "doc_id", "text", k = 2)
      .orderBy("doc_id", "term").collect().toSeq
    val b = Search.tfidfTopTerms(docs.repartition(11), "doc_id", "text", k = 2)
      .orderBy("doc_id", "term").collect().toSeq
    assert(a === b)
  }
}
