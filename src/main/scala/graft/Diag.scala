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
    val sections = if (args.isEmpty) Set("docs", "lines", "simhash", "ngram", "incr") else args.toSet
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

    if (sections("ngram")) {
      // ngramJaccardPairs' candidacy volume over distinct contents: the
      // full shingle self-join (Σ df·(df-1)/2) next to the rare-first
      // prefix self-join it runs instead
      val fps = docs.select(TextAnalysis.fingerprint(col("text")).as("ck"), col("text"))
        .where(col("ck").isNotNull)
        .groupBy("ck").agg(first(col("text")).as("text"))
        .select(col("ck"), gf.shingleFpsSorted(col("text"), 3).as("shl"))
        .select(col("ck"), size(col("shl")).as("sz"), explode(col("shl")).as("fp"))
      val dfs = ops.Prefix.docFreq(fps, "fp")
      val pref = ops.Prefix.prefix(fps, Seq("ck", "sz"), "fp", dfs,
        ops.Prefix.prefixLen(col("sz"), 0.5, ops.Prefix.MinHits))
      def volume(d: org.apache.spark.sql.DataFrame) = d.agg(count(lit(1)), max("df"),
        sum(col("df") * (col("df") - 1) / 2)).head()
      val full = volume(dfs)
      val pre = volume(ops.Prefix.docFreq(pref, "fp"))
      println(s"[diag] ngram shingles=${full.getLong(0)} maxdf=${full.getAs[Any](1)} " +
        s"pairs_full=${full.getAs[Any](2)} prefix_shingles=${pre.getLong(0)} " +
        s"prefix_maxdf=${pre.getAs[Any](1)} pairs_prefix=${pre.getAs[Any](2)}")
    }

    if (sections("prefix")) {
      // candidacy volume of the prefix-filtered dedupIndexProbe WITHOUT
      // running the big join: per-fp prefix dfs on both sides, then
      // sum(dpdf * ipdf) — the exact join-row count the probe generates.
      val tbl = "spark-warehouse/graft_dedup_idx_" +
        dir.replaceAll("[^A-Za-z0-9]", "_").toLowerCase
      val fpsIdx = spark.read.parquet(s"${tbl}_fps")
      val dfIdx = spark.read.parquet(s"${tbl}_df")
      def prefixLen(n: org.apache.spark.sql.Column) =
        ops.Prefix.prefixLen(n, 0.5, ops.Prefix.MinHits)
      val ipdf = fpsIdx
        .where(col("rk") < prefixLen(col("n_fp")))
        .groupBy("fp").agg(count(lit(1)).as("ipdf"))
      val delta = docs.where(pmod(col("doc_id"), lit(10)) === 0)
      val dSh = delta.select(col("doc_id").cast("long").as("id"), col("text"),
          TextAnalysis.fingerprint(col("text")).as("ck"))
        .where(col("ck").isNotNull)
        .groupBy("ck").agg(min("id").as("d_rep"), first(col("text")).as("text"))
        .select(col("d_rep"), gf.shingleFpsSorted(col("text"), 3).as("shl"))
      val dFps = dSh.select(col("d_rep"), size(col("shl")).as("d_nfp"),
        explode(col("shl")).as("fp"))
      val dPref = ops.Prefix.prefix(dFps, Seq("d_rep", "d_nfp"), "fp", dfIdx,
        prefixLen(col("d_nfp")))
      val dpdf = dPref.groupBy("fp").agg(count(lit(1)).as("dpdf"))
      val st = ipdf.join(dpdf, "fp")
        .agg(sum(col("ipdf") * col("dpdf")).as("join_rows"),
          count(lit(1)).as("shared_fps"), max("ipdf").as("max_ipdf")).head()
      println(s"[diag] prefix join_rows=${st.getAs[Any](0)} shared_fps=${st.getAs[Any](1)} " +
        s"max_ipdf=${st.getAs[Any](2)}")
    }

    if (sections("incr")) {
      // the probe's inverted-index join cost: sum over fp of idx_df * delta_df
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
