package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.functions.gf
import graft.ops.Checkpointing.PinSyntax

/** Keyword retrieval over a document corpus — the "find me the documents
  * about X" primitive a data-curation workflow runs before targeted
  * sampling or inspection.
  */
object Search {

  /** BM25 top-k retrieval for a fixed keyword query (Robertson/Walker
    * Okapi BM25; idf in the +1 form that keeps every term's contribution
    * positive, as in Lucene).
    *
    * Plan shape: one codegen kernel pass computes (dl, tf per term) per
    * document; corpus statistics (N, avgdl, per-term df) are ONE tiny
    * aggregate row broadcast back via cross join; scoring is a narrow map
    * in fixed term order (so the float arithmetic is reproducible on any
    * engine evaluating the same tree); the top-k is a
    * TakeOrderedAndProject (map-side partial top-k, k rows per partition
    * to the driver — no global sort shuffle). The corpus is read exactly
    * twice (stats pass + score pass), both narrow off the scan.
    *
    * Scores are rounded to 4 decimals and the ordering uses the ROUNDED
    * value with the id as tie-break, so the top-k cut is a total order
    * shared with the SQL oracle. Documents matching no term (score 0)
    * are excluded. */
  def bm25(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      terms: Seq[String],
      k: Int = 10,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    Dedup.requireLongId(docs, idCol)
    // dedupe after lowercasing: a repeated query term must not double-count
    // its score contribution
    val lower = terms.map(_.toLowerCase(java.util.Locale.ROOT)).distinct.toArray
    val stats = docs
      .where(col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("doc_id"),
        gf.termFreqs(col(textCol), lower).as("s"))
    val aggCols =
      (count(lit(1)).as("n_docs") +:
        avg(col("s").getItem(0)).as("avgdl") +:
        lower.indices.map(i =>
          sum(when(col("s").getItem(i + 1) > 0, 1L).otherwise(0L)).as(s"df_$i"))).toSeq
    val corpusStats = stats.agg(aggCols.head, aggCols.tail: _*)
    // guard the avgdl denominator: on an all-empty corpus avgdl is 0 and
    // dl/avgdl would poison every score with NaN; with the floor, tf = 0
    // everywhere so every score is exactly 0 and the > 0 cut returns empty
    val safeAvgdl = greatest(col("avgdl"), lit(1e-9))
    val score = lower.indices.map { i =>
      val tf = col("s").getItem(i + 1).cast("double")
      val idf = log(lit(1.0) +
        (col("n_docs") - col(s"df_$i") + lit(0.5)) / (col(s"df_$i") + lit(0.5)))
      idf * tf * lit(k1 + 1.0) /
        (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("s").getItem(0) / safeAvgdl))
    }.reduce(_ + _)
    stats
      // scalar broadcast (one corpus-stats row, fixed-arity BM25 formula
      // per row): file-split parallelism suffices — no Layout.spread
      .crossJoin(broadcast(corpusStats))
      .select(col("doc_id"), round(score, 4).as("score"))
      .where(col("score") > 0)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Build a PERSISTENT inverted index for BM25 retrieval — the build-once /
    * query-many shape of the persistent dedup and IVFADC indexes: [[bm25]]
    * rescans and re-aggregates the whole corpus per query, which is the
    * wrong cost model when a curation workflow runs hundreds of keyword
    * probes against one 100 TB snapshot.
    *
    * Three tables, every one partitioned by an append-batch id on top of
    * its layout — the [[AggIndex]] exactly-once pattern: each append
    * writes ONLY its own batch partitions via dynamic partition
    * overwrite, so a retry after a crash at ANY point mid-append
    * (postings landed, terms/meta not yet) simply overwrites its own
    * partitions and converges — no step can double-count
    * (spec-asserted by fault injection).
    *  - `<name>`        — postings (term, doc_id, dl, tf), PARTITIONED by
    *    `(tb = pmod(hash(term), numParts), batch)`. A query's terms are
    *    literals, so their buckets are computable up front and the
    *    postings scan is statically partition-pruned to |distinct term
    *    buckets| directories (all batches of those buckets) — the
    *    corpus-sized table is never fully scanned at query time.
    *  - `<name>_terms`  — per-term PER-BATCH document frequency, same
    *    layout; query-time df = sum over batches (vocab-sized work).
    *  - `<name>_meta`   — one (n_docs, sum_dl, num_parts) row per batch;
    *    query-time totals are integer sums; avgdl is derived at query
    *    time so appends stay exact-integer.
    *  - `<name>_tombstones` — (doc_id, dl) of removed docs (empty at
    *    build); see [[bm25IndexRemove]].
    *
    * Batch ids name LOGICAL batches: a re-run with the same id must carry
    * the same content (that is what makes it a retry); never reuse an id
    * for new data. The build is batch 0.
    *
    * dl is denormalized onto every posting so scoring never joins a
    * doc-length table. Postings dedupe to one row per (term, doc): tf
    * carries the within-doc count. */
  def bm25IndexBuild(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      tableName: String,
      numParts: Int = 16): Unit = {
    Dedup.requireLongId(docs, idCol)
    val spark = docs.sparkSession
    Warehouse.dropTables(spark,
      Seq(tableName, s"${tableName}_terms", s"${tableName}_meta",
        s"${tableName}_tombstones"))
    // tokenizer contract shared with bm25/termFreqs and the SQL oracle:
    // lowercase, split on \s+, drop empty tokens
    val toks = docs
      .where(col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("doc_id"),
        filter(split(lower(col(textCol)), "\\s+"), w => w =!= "").as("w"))
      .select(col("doc_id"), col("w"), size(col("w")).as("dl"))
    toks
      .select(col("doc_id"), col("dl"), explode(col("w")).as("term"))
      .groupBy(col("term"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("tb", pmod(hash(col("term")), lit(numParts)))
      .withColumn("batch", lit(0L))
      .write.mode("overwrite").partitionBy("tb", "batch").format("parquet")
      .saveAsTable(tableName)
    // df = postings rows per term (postings are unique per (term, doc))
    spark.table(tableName)
      .groupBy(col("term"), col("tb"), col("batch")).agg(count(lit(1)).as("df"))
      .write.mode("overwrite").partitionBy("tb", "batch").format("parquet")
      .saveAsTable(s"${tableName}_terms")
    // sum_dl as an exact integer (not a precomputed double avgdl) so
    // bm25IndexAppend can increment corpus stats without float drift —
    // avgdl is derived at query time as sum_dl/n_docs
    toks
      .agg(count(lit(1)).as("n_docs"), sum(col("dl").cast("long")).as("sum_dl"))
      .withColumn("num_parts", lit(numParts))
      .withColumn("batch", lit(0L))
      .write.mode("overwrite").partitionBy("batch").format("parquet")
      .saveAsTable(s"${tableName}_meta")
    Warehouse.emptyTombstones(spark, tableName, StructType.fromDDL("doc_id BIGINT, dl INT"))
  }

  /** Remove documents from a [[bm25IndexBuild]] index WITHOUT touching the
    * corpus-sized postings table — the takedown / contamination-purge
    * shape: at 100 TB a removal must cost O(removed), not a table rewrite.
    *
    * Removal appends (doc_id, dl) tombstones (dl recomputed from the
    * passed text with the shared tokenizer — no corpus scan); every
    * correction happens lazily at query time with EXACT integers:
    * n_docs/sum_dl by subtraction, each query term's df by counting its
    * (partition-pruned) postings that hit a tombstone, and matched
    * postings anti-joined against the broadcast tombstone set. Query
    * results are bit-identical to a fresh build on the retained corpus
    * (spec-asserted). When tombstones stop being small relative to the
    * corpus, [[bm25IndexCompact]] folds them into the tables.
    *
    * Removing an id that was never indexed (or removing it twice) is the
    * caller's bug, exactly like appending a duplicate id. */
  def bm25IndexRemove(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      tableName: String): Unit = {
    Dedup.requireLongId(docs, idCol)
    val spark = docs.sparkSession
    docs
      .where(col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("doc_id"),
        size(filter(split(lower(col(textCol)), "\\s+"), w => w =!= ""))
          .cast("int").as("dl"))
      .select(spark.table(s"${tableName}_tombstones")
        .schema.fieldNames.map(col).toSeq: _*)
      .write.mode("append").insertInto(s"${tableName}_tombstones")
  }

  /** Compact a [[bm25IndexBuild]] index: fold the accumulated tombstones
    * into the physical tables and clear them — the amortized maintenance
    * step that ends the lazy-correction era [[bm25IndexRemove]] begins.
    * Works from the INDEX ALONE: at 100 TB the text may be long gone while
    * the index lives on.
    *
    * The postings fold through [[Warehouse.compact]]: only the affected
    * `(tb, batch)` partitions are rewritten and dead ones dropped; the same
    * partitions of `_terms` are recounted from the staged postings (dead
    * ones dropped too). The removed docs' count and sum(dl) come off the
    * batch-0 meta row as exact integers (a per-batch decrement found
    * through the postings would miss zero-token docs, which count in
    * n_docs but have no postings). Cost is O(affected partitions) plus
    * one postings scan to find them; batch ids are kept and untouched
    * batches are not rewritten. Queries before and after are
    * bit-identical, now without the anti-join. */
  def bm25IndexCompact(spark: SparkSession, tableName: String): Unit = {
    val tomb = spark.table(s"${tableName}_tombstones").dropDuplicates("doc_id")
    Warehouse.compact(spark, tableName, tomb.select(col("doc_id")), "doc_id",
      fold = { (retained, dead) =>
        Warehouse.dynOverwrite(
          retained.groupBy(col("term"), col("tb"), col("batch")).agg(count(lit(1)).as("df")),
          s"${tableName}_terms")
        Warehouse.dropPartitions(spark, s"${tableName}_terms", dead)
        val st = tomb.agg(count(lit(1)), coalesce(sum(col("dl").cast("long")), lit(0L))).head()
        val m = spark.table(s"${tableName}_meta").where(col("batch") === 0L).head()
        Warehouse.dynOverwrite(
          spark.range(1).select(lit(m.getAs[Long]("n_docs") - st.getLong(0)).as("n_docs"),
            lit(m.getAs[Long]("sum_dl") - st.getLong(1)).as("sum_dl"),
            lit(m.getAs[Int]("num_parts")).as("num_parts"), lit(0L).as("batch")),
          s"${tableName}_meta")
      })
  }

  /** Append a delta of NEW documents to a [[bm25IndexBuild]] index — the
    * daily-crawl increment, completing the build-once/append-daily/
    * query-many contract the persistent dedup and IVFADC indexes follow.
    * Cost scales with the delta: new postings route through the existing
    * (term-bucket, batch) partitioning; the delta's per-term dfs and
    * corpus stats land as the batch's OWN rows — the vocab-sized terms
    * table is never read, the corpus-sized postings table never
    * rescanned, and query-time totals stay exact integers.
    *
    * FAULT TOLERANCE: all three writes are per-batch dynamic partition
    * overwrites ([[Warehouse.dynOverwrite]]), each a pure function of
    * (delta, batch id). A crash at any point — after postings, between
    * terms and meta — leaves a partial batch that the RETRY of the same
    * (delta, batch id) overwrites in place, converging to exactly-once;
    * a duplicate re-run after success is a no-op by the same argument
    * (spec-asserted by fault injection). Until that retry lands, queries
    * may see the partial batch — crashed appends must be retried, not
    * abandoned (or their batch partitions dropped).
    *
    * `batchId` names the LOGICAL batch: same id = same content (a
    * retry); never reuse an id for new data; None auto-allocates
    * max(existing)+1 (not crash-safe across the allocation itself — a
    * production pipeline passes its own stable ids, e.g. the crawl-day).
    * Appending a doc_id already indexed is the caller's bug (postings
    * would double-count); run the delta through the dedup-index probe
    * first — that is the intake pipeline's job. */
  def bm25IndexAppend(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      tableName: String,
      batchId: Option[Long] = None): Unit =
    bm25IndexAppendSteps(docs, textCol, idCol, tableName, batchId, steps = 3)

  /** [[bm25IndexAppend]] truncated after `steps` of its 3 writes
    * (postings, terms, meta) — the fault-injection hook the recovery
    * spec uses to simulate a crash mid-append. Production code always
    * runs all 3. */
  private[graft] def bm25IndexAppendSteps(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      tableName: String,
      batchId: Option[Long],
      steps: Int): Unit = {
    Dedup.requireLongId(docs, idCol)
    val spark = docs.sparkSession
    val numParts = spark.table(s"${tableName}_meta").head().getAs[Int]("num_parts")
    val toks = docs
      .where(col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("doc_id"),
        filter(split(lower(col(textCol)), "\\s+"), w => w =!= "").as("w"))
      .select(col("doc_id"), col("w"), size(col("w")).as("dl"))
      .pinned() // consumed twice: postings + stats
    // an empty delta writes nothing — it must not claim (or clobber) a
    // batch id's partitions with empty content
    if (toks.isEmpty) return
    val bid = batchId.getOrElse(
      spark.table(s"${tableName}_meta").agg(max(col("batch"))).head().getLong(0) + 1L)
    require(bid != 0L, "batch 0 is the build — appends need a fresh batch id")
    val postings = toks
      .select(col("doc_id"), col("dl"), explode(col("w")).as("term"))
      .groupBy(col("term"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("tb", pmod(hash(col("term")), lit(numParts)))
      .withColumn("batch", lit(bid))
      .pinned() // consumed twice: postings + dfs
    Warehouse.dynOverwrite(postings, tableName)
    if (steps < 2) return
    Warehouse.dynOverwrite(
      postings.groupBy(col("term"), col("tb"), col("batch"))
        .agg(count(lit(1)).as("df")),
      s"${tableName}_terms")
    if (steps < 3) return
    Warehouse.dynOverwrite(
      toks.agg(count(lit(1)).as("n_docs"), sum(col("dl").cast("long")).as("sum_dl"))
        .withColumn("num_parts", lit(numParts))
        .withColumn("batch", lit(bid)),
      s"${tableName}_meta")
  }

  /** Query a [[bm25IndexBuild]] index. Identical scoring contract to
    * [[bm25]] — same tokenizer, same +1-form idf, same fixed-term-order
    * float arithmetic, same round-to-4-decimals total order — so the top-k
    * is bit-compatible with the direct scan (and with the SQL oracle).
    *
    * Plan shape: corpus stats and per-term dfs come from the meta/terms
    * tables (driver-side, O(|terms|)); idf per term becomes a LITERAL; the
    * postings scan is pruned to the query terms' hash buckets
    * (PartitionFilters on `tb`, plus a pushed `term IN` row-group filter);
    * one groupBy(doc_id) over only MATCHING postings; TakeOrderedAndProject
    * for the top-k. Query cost scales with the matched postings, not the
    * corpus — the index did the corpus-sized work once at build. */
  def bm25IndexQuery(
      spark: SparkSession,
      tableName: String,
      terms: Seq[String],
      k: Int = 10,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25IndexQuery needs at least one query term")
    // corpus totals are integer sums over the per-batch meta rows —
    // batches-sized (days, not corpus), exact regardless of batch count
    val meta = spark.table(s"${tableName}_meta")
      .agg(coalesce(sum(col("n_docs")), lit(0L)).as("n_docs"),
        coalesce(sum(col("sum_dl")), lit(0L)).as("sum_dl"),
        max(col("num_parts")).as("num_parts")).head()
    val numParts = meta.getAs[Int]("num_parts")
    // tombstone corrections ([[bm25IndexRemove]]) are exact integers:
    // n_docs/sum_dl by subtraction; per-term df by counting the removed
    // docs' postings for THIS query's terms (a partition-pruned scan —
    // O(matched postings), never the corpus); matched postings anti-joined
    // below. All of it skipped on the common no-tombstones path.
    val tomb = spark.table(s"${tableName}_tombstones")
    val tombStats = tomb
      .agg(count(lit(1)).as("c"),
        coalesce(sum(col("dl").cast("long")), lit(0L)).as("s")).head()
    val (nTomb, dlTomb) = (tombStats.getLong(0), tombStats.getLong(1))
    val nDocs = meta.getAs[Long]("n_docs") - nTomb
    val avgdl = math.max(
      if (nDocs <= 0) 0.0
      else (meta.getAs[Long]("sum_dl") - dlTomb).toDouble / nDocs, 1e-9)
    val lower = terms.map(_.toLowerCase(java.util.Locale.ROOT)).distinct.toArray
    // bucket literals via a local 1-row plan: the exact murmur3+pmod the
    // build partitioned by, without reimplementing the hash on the driver
    val buckets = spark.range(1)
      .select(lower.map(t => pmod(hash(lit(t)), lit(numParts))): _*)
      .head().toSeq.map(_.asInstanceOf[Int]).distinct
    val postsAll = spark.table(tableName)
      .where(col("tb").isin(buckets: _*) && col("term").isin(lower.toSeq: _*))
    val removedDfs =
      if (nTomb == 0) Map.empty[String, Long]
      else postsAll
        .join(broadcast(tomb.select(col("doc_id"))), Seq("doc_id"))
        .groupBy(col("term")).agg(count(lit(1)).as("rdf"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // df per term = integer sum over its per-batch rows (pruned buckets)
    val dfs = spark.table(s"${tableName}_terms")
      .where(col("tb").isin(buckets: _*) && col("term").isin(lower.toSeq: _*))
      .groupBy(col("term")).agg(sum(col("df")).as("df")).collect()
      .map(r => r.getString(0) -> (r.getLong(1) - removedDfs.getOrElse(r.getString(0), 0L)))
      .toMap
    // java.lang.Math.log — the same function Spark's log expression codegens
    val idf = lower.map { t =>
      val df = dfs.getOrElse(t, 0L).toDouble
      math.log(1.0 + (nDocs - df + 0.5) / (df + 0.5))
    }
    val posts =
      if (nTomb == 0) postsAll
      else postsAll.join(broadcast(tomb.select(col("doc_id"))), Seq("doc_id"), "left_anti")
    // one partial sum per term: each doc group holds at most one row per
    // term, every other row contributes exactly +0.0, so the per-term sum
    // is order-insensitive and the final fixed-order (c_0 + c_1 + ...) add
    // reproduces bm25's term-order float arithmetic bit-for-bit
    val partials = lower.indices.map { i =>
      val tf = when(col("term") === lower(i), col("tf").cast("double"))
        .otherwise(lit(0.0))
      sum(lit(idf(i)) * tf * lit(k1 + 1.0) /
        (tf + lit(k1) * (lit(1.0 - b) +
          lit(b) * col("dl").cast("double") / lit(avgdl)))).as(s"__c_$i")
    }
    posts
      .groupBy(col("doc_id"))
      .agg(partials.head, partials.tail: _*)
      .select(col("doc_id"),
        round(lower.indices.map(i => col(s"__c_$i")).reduce(_ + _), 4).as("score"))
      .where(col("score") > 0)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Per-document top-k TF-IDF keywords — the keyword-extraction /
    * document-tagging primitive (what is each page ABOUT?), feeding topic
    * routing, per-topic sampling, and search-facet generation.
    *
    * score = tf * ln(N / df), the raw Salton form: corpus-wide stopwords
    * (df = N) score exactly 0 and fall out of the top-k naturally.
    *
    * Plan shape: one tokenize+explode pass; tf is a partially-aggregated
    * groupBy on (doc, term) materialized once (`Checkpointing.pin`) and
    * reused by the df branch, so the corpus is tokenized exactly once;
    * df is a vocab-sized aggregate of the tf frame (NOT a second corpus
    * scan); N rides in as one broadcast row; the per-doc cut is a window
    * rank — one shuffle on doc_id with an in-partition sort bounded by
    * each doc's distinct-term count, never a global sort. Ordering is on
    * the ROUNDED score with the term as tie-break: a total order both
    * engines share, so the top-k cut is exact cross-engine. */
  def tfidfTopTerms(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3): DataFrame = {
    require(k > 0, "need k > 0")
    val tf = docs
      .where(col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("doc_id"),
        explode(gf.ngramsAll(col(textCol), 1)).as("term"))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"))
      .pinned() // reused by the df branch + scoring
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nd = tf.agg(countDistinct(col("doc_id")).as("n"))
    val scored = tf.join(df, "term")
      // scalar broadcast (one n_docs row, one log per row): file-split
      // parallelism suffices — no Layout.spread needed
      .crossJoin(broadcast(nd))
      .withColumn("score_r",
        round(col("tf").cast("double") * log(col("n").cast("double") / col("df")), 6))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score_r").desc, col("term").asc)
    scored
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("score_r"))
  }
}
