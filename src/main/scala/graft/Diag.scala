package graft

import org.apache.spark.sql.functions._
import graft.functions.gf
import graft.ops.TextAnalysis

/** Scale diagnostics for the dedup family — prints the intermediate
  * cardinalities that govern each flagged query's cost (candidate pairs,
  * bucket occupancy, hot-set sizes), so superlinear decade ratios in
  * `tools/scaling_table.py` can be attributed to a mechanism instead of
  * guessed at. Counts only; run it at any scale, machine load does not
  * matter (unlike a bench).
  *
  * Usage: SPARK_GRAFT_SF_DIR=data/sf10 runMain graft.Diag [sections...]
  */
object Diag {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.getOrCreate()
    import spark.implicits._
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val sections = if (args.isEmpty) Set("docs", "lines", "simhash", "prefix", "incr") else args.toSet
    val docs = io.Tables.table(spark, dir, "documents")

    if (sections("docs")) {
      val n = docs.count()
      val nDistinct = docs.select(TextAnalysis.fingerprint(col("text")).as("ck"))
        .where(col("ck").isNotNull).distinct().count()
      println(s"[diag] docs n=$n distinct_content=$nDistinct")
    }

    if (sections("lines")) {
      val lined = docs.select(col("doc_id"),
        gf.regroupLines(col("text"), 2).as("text"))
      val lineDf = lined
        .select(col("doc_id").cast("long").as("id"), explode(gf.lineFps(col("text"))).as("fp"))
        .groupBy("fp").agg(countDistinct(col("id")).as("df"))
      val hot = lineDf.where(col("df") >= 10).count()
      val total = lineDf.count()
      println(s"[diag] lines distinct_fps=$total hot_fps(df>=10)=$hot")
    }

    if (sections("simhash")) {
      // dedup_simhash's own banding at the entry's block count, over
      // DISTINCT fingerprints (the canonical path's shape): the bucket
      // occupancy its pair join squares
      val n = math.max(docs.where(col("text").isNotNull).count(), 1L)
      val blocks = ops.Dedup.simhashBlocksFor(n)
      val fps = docs.select(gf.simhash64(col("text")).as("fp"))
        .where(col("fp").isNotNull).distinct()
        .select(col("fp").as("rep_id"), col("fp"))
      val occ = ops.Dedup.simhashBands(fps, "rep_id", 3, blocks)
        .groupBy("block", "blockval").agg(count(lit(1)).as("occ"))
      val st = occ.agg(count(lit(1)).as("buckets"), max("occ").as("maxocc"),
        sum(col("occ") * (col("occ") - 1) / 2).as("pairs")).head()
      val hot = occ.orderBy(col("occ").desc, col("block"), col("blockval")).head()
      println(s"[diag] simhash docs=$n distinct_fps=${fps.count()} blocks=$blocks " +
        s"buckets=${st.getLong(0)} maxocc=${st.getLong(1)} pairs=${st.getAs[Any](2)} " +
        s"hottest=(${hot.getInt(0)},${hot.getLong(1)})")
    }

    if (sections("prefix")) {
      // the one prefix candidacy (Prefix.sharded) of the n-gram trio and of
      // dedup_incremental's probe, through the operators' own bodies:
      // postings indexed, the largest pass's CSR bytes, shard count K,
      // kernel candidates and Jaccard-verified pairs
      def report(what: String, c: ops.Prefix.Sharded, verified: org.apache.spark.sql.DataFrame) =
        println(s"[diag] prefix $what postings=${c.postings} csr_bytes=${c.csrBytes} " +
          s"shards=${c.shards} candidates=${c.candidates.count()} verified=${verified.count()}")
      val (_, trio, repPairs) = ops.Dedup.ngramPairs(docs, "text", "doc_id", 3, 0.5,
        ops.Prefix.ShardPostings)
      report("ngram", trio, repPairs)
      ops.Dedup.dedupIndexBuild(docs.where(pmod(col("doc_id"), lit(10)) =!= 0),
        "text", "doc_id", "graft_diag_dedup_idx")
      val (_, probe, nearPairs) = ops.Dedup.indexProbe(
        docs.where(pmod(col("doc_id"), lit(10)) === 0), "text", "doc_id",
        "graft_diag_dedup_idx", 0.5, 256L << 20, ops.Prefix.ShardPostings)
      report("incr", probe, nearPairs)
    }

    if (sections("incr")) {
      // the full-postings join volume the prefix filter avoids: sum over fp
      // of idx_df * delta_df
      val corpus = docs.where(pmod(col("doc_id"), lit(10)) =!= 0)
      val delta = docs.where(pmod(col("doc_id"), lit(10)) === 0)
      def repFps(d: org.apache.spark.sql.DataFrame) = d
        .select(col("doc_id").cast("long").as("id"), col("text"),
          TextAnalysis.fingerprint(col("text")).as("ck"))
        .where(col("ck").isNotNull)
        .groupBy("ck").agg(first(col("text")).as("text"))
        .select(explode(gf.shingleFpsSorted(col("text"), 3)).as("fp"))
        .groupBy("fp").agg(count(lit(1)).as("df"))
      val idx = repFps(corpus)
      val dl = repFps(delta)
      val joined = idx.join(dl.withColumnRenamed("df", "ddf"), "fp")
      val st = joined.agg(count(lit(1)).as("shared_fps"),
        sum(col("df") * col("ddf")).as("join_rows"), max(col("df")).as("max_idx_df")).head()
      val nCorpusReps = corpus.select(TextAnalysis.fingerprint(col("text")).as("ck"))
        .where(col("ck").isNotNull).distinct().count()
      val nDeltaReps = delta.select(TextAnalysis.fingerprint(col("text")).as("ck"))
        .where(col("ck").isNotNull).distinct().count()
      println(s"[diag] incr corpus_reps=$nCorpusReps delta_reps=$nDeltaReps " +
        s"shared_fps=${st.getAs[Any](0)} fp_join_rows=${st.getAs[Any](1)} max_idx_df=${st.getAs[Any](2)}")
    }

    spark.stop()
  }
}
