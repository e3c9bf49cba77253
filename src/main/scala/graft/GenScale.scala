package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic scale-up generator for scale rehearsals (SURVEY §9).
  *
  * Reads the driver testdata at one scale factor and writes a C×
  * replica-with-disjoint-keys corpus, so the full catalog can be benched at
  * 10× (or 100×) the largest driver-provided sf. The replication is designed
  * so per-copy workload STRUCTURE matches the original — the scaled bench
  * measures the engine, not an artifact of naive duplication:
  *
  *  - Keyed tables shift every key column by `copy * stride` (strides far
  *    above the source key range), so FK joins stay consistent per copy and
  *    copies never collide. Dimension tables (region, nation) are shared.
  *  - Events keep their real timestamps (same 30-day window, C× the rows and
  *    C× the users) — the honest shape for streaming-state rehearsals: state
  *    cardinality scales with users, watermark timeline does not stretch.
  *  - Document texts in copy 0 are verbatim; copies > 0 permute each text's
  *    words by sorting on xxhash64(word, position, copy). The permutation
  *    key deliberately EXCLUDES doc_id: two near-duplicate texts inside one
  *    copy permute the same way (shared (word, pos) pairs sort identically),
  *    so intra-copy near-dup structure — what the dedup family measures — is
  *    preserved, while cross-copy shingle overlap collapses to noise. A
  *    naive C× text copy would instead add C-cliques of exact dups and make
  *    every pair-generation bench quadratic in C.
  *    One workload does NOT scale this way: `simhash64` is order-free over
  *    a text's words, so every permuted copy keeps its original's
  *    fingerprint. sf1 and sf10 keep sf0.1's 4,965 distinct fingerprints
  *    for 50,000 and 500,000 docs, and dedup_simhash's decade timings never
  *    see more distinct fingerprints than sf0.1.
  *  - Embeddings in copy c rotate coordinates by 7c (mod dim) and then
  *    flip per-coordinate signs by xxhash64(i, c). Both are orthogonal
  *    (the flip is diagonal with D² = I): all intra-copy cosines — and
  *    therefore cluster structure, kNN ranks, IVF recall — are EXACTLY
  *    preserved, while cross-copy cosine decorrelates; the sign pattern
  *    keeps copies distinct even past the rotation's mod-dim cycle.
  *    (data/sf1 and data/sf10 predate the sign flip — at ≤10 copies the
  *    rotations alone were already pairwise distinct, so those artifacts
  *    remain valid and are not regenerated.)
  *
  * Generation COMPOSES: an already-scaled corpus can itself be the source
  * of a further scale-up by setting GRAFT_SCALE_STRIDE_MULT to the PRODUCT
  * of all prior pass copy counts (= the width of the source's effective
  * copy-id range) — every per-copy transform (key shift, text-permutation
  * hash seed, embedding rotation) then uses effective copy id `c*mult`, so
  * each pass lands in the id range the prior passes left free (sf1→sf10:
  * mult=10, ids 0,10..90 over source ids 0..9; sf10→sf100: mult=100, ids
  * 0,100..900 over source ids 0..99). sf100 is therefore a 10-way union
  * over sf10 instead of a 1000-way union over sf0.1 — the same
  * multiplicative shape a real 100 TB corpus build would use.
  *
  * Usage: GRAFT_SCALE_SRC=/root/testdata/sf0.1 GRAFT_SCALE_DST=data/sf1
  * GRAFT_SCALE_COPIES=10 runMain graft.GenScale */
object GenScale {

  private val strides: Map[String, Long] = Map(
    "c_custkey" -> 10000000L, "o_custkey" -> 10000000L,
    "o_orderkey" -> 100000000L, "l_orderkey" -> 100000000L,
    "p_partkey" -> 10000000L, "l_partkey" -> 10000000L,
    "s_suppkey" -> 1000000L, "l_suppkey" -> 1000000L,
    "event_id" -> 100000000L, "user_id" -> 1000000L,
    "doc_id" -> 10000000L, "vec_id" -> 10000000L)

  /** Shift every known key column by copy*stride; leave the rest alone. */
  private def shiftKeys(df: DataFrame, copy: Int): DataFrame =
    df.columns.foldLeft(df) { (d, c) =>
      strides.get(c) match {
        case Some(s) => d.withColumn(c, col(c) + lit(copy * s))
        case None => d
      }
    }

  /** Deterministic per-copy word permutation (see scaladoc). */
  private def permuteText(text: Column, copy: Int): Column =
    permuteTextCol(text, lit(copy))

  /** Column-seeded variant: the Zipf generator's copy id is a per-row
    * column (explode-produced), not a literal. */
  private def permuteTextCol(text: Column, copy: Column): Column = {
    val words = split(text, " ")
    val tagged = zip_with(words, sequence(lit(0), size(words) - 1),
      (w, p) => struct(xxhash64(w, p, copy).as("h"), w.as("w")))
    array_join(transform(array_sort(tagged), s => s.getField("w")), " ")
  }

  /** Zipf-duplicated documents corpus (GRAFT_SCALE_DOC_DUP=zipf): the
    * uniform scale-up gives every content exactly `copies` duplicates — the
    * saturated adversarial shape — while real crawled corpora duplicate on
    * a heavy tail (a few boilerplate pages copied millions of times, most
    * pages near-unique). Here each CONTENT draws its duplication factor d
    * from the zipf tail P(d >= k) = 1/k, capped at `copies`:
    *
    *  - u in (0, 1] is seeded from the ORDER-INSENSITIVE word multiset
    *    (sorted words), so every already-permuted copy of one original in
    *    the source corpus draws the SAME d — group sizes, the dedup
    *    operators' working-set shape, are zipf across contents rather than
    *    re-randomized per source row.
    *  - d = min(copies, floor(1/u)); expected blow-up is the harmonic sum
    *    H(copies) ≈ ln(copies) + 0.577 (7.5x at copies = 1000).
    *  - copy 0 is verbatim; copies > 0 permute words with effective seed
    *    copy * strideMult (the id range the source passes left free) and
    *    shift doc_id by copy * stride * strideMult — the same disjointness
    *    discipline as the uniform generator.
    *
    * Implemented as ONE distributed explode over the source (no per-copy
    * union: d varies per row, and a 1000-way union plan would not scale). */
  private def zipfDocs(spark: SparkSession, src: String, copies: Int,
      strideMult: Int): DataFrame = {
    val base = spark.read.parquet(s"$src/documents.parquet")
    val u = (pmod(
      xxhash64(concat_ws(" ", array_sort(split(col("text"), " "))), lit("zipf")),
      lit(1000000000L)).cast("double") + 1.0) / 1.0e9
    val dup = least(lit(copies), floor(lit(1.0) / u)).cast("int")
    val eff = col("__copy") * strideMult
    base
      .withColumn("__copy", explode(sequence(lit(0), dup - 1)))
      .withColumn("doc_id", col("doc_id") + eff.cast("long") * strides("doc_id"))
      .withColumn("text",
        when(col("__copy") === 0, col("text"))
          .otherwise(permuteTextCol(col("text"), eff)))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .drop("__copy")
  }

  /** Rotate coordinates by `7 * copy` positions — an orthogonal
    * transform. The shift is reduced mod the ACTUAL vector size per row
    * (not a hard-coded dim): a shift >= dim would silently truncate the
    * slices. For the dim-64 corpus this is bit-identical to the previous
    * `(7 * copy) % 64` literal, so already-generated decades stay valid. */
  private def rotateVec(vec: Column, copy: Int): Column =
    if (copy == 0) vec
    else {
      val shift = pmod(lit(7L * copy), size(vec).cast("long")).cast("int")
      when(shift === 0, vec).otherwise(
        concat(slice(vec, shift + 1, size(vec) - shift), slice(vec, lit(1), shift)))
    }

  /** Per-copy coordinate sign flips — a diagonal orthogonal transform
    * (D² = I, so all intra-copy dot products are exactly preserved).
    * Composed with the rotation it gives every effective copy id a
    * distinct transform even past the rotation's mod-dim cycle: two copies
    * whose rotations coincide still differ in their sign pattern, so no
    * cross-copy exact-duplicate vectors appear at any C. */
  private def signFlipVec(vec: Column, copy: Int): Column =
    if (copy == 0) vec
    else zip_with(vec, sequence(lit(0), size(vec) - 1),
      (x, i) => when(pmod(xxhash64(i, lit(copy)), lit(2)) === 0, x).otherwise(-x))

  private def scaled(spark: SparkSession, src: String, table: String,
      copies: Int, strideMult: Int): DataFrame = {
    val base = spark.read.parquet(s"$src/$table.parquet")
    val parts = (0 until copies).map { c =>
      // effective copy id: lands this pass's copies in the id range the
      // source pass left free (source ids 0..mult-1, ours 0, mult, 2*mult…)
      val eff = c * strideMult
      val keyed = shiftKeys(base, eff)
      table match {
        case "documents" if eff > 0 =>
          keyed.withColumn("text", permuteText(col("text"), eff))
            .withColumn("n_chars", length(col("text")).cast("long"))
        case "embeddings" =>
          keyed.withColumn("embedding",
            signFlipVec(rotateVec(col("embedding"), eff), eff))
        case _ => keyed
      }
    }
    parts.reduce(_ unionAll _)
  }

  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("GRAFT_SCALE_SRC", "/root/testdata/sf0.1")
    val dst = sys.env.getOrElse("GRAFT_SCALE_DST", "data/sf1")
    val copies = sys.env.getOrElse("GRAFT_SCALE_COPIES", "10").toInt
    // set to the PRODUCT of all prior pass copy counts when scaling an
    // already-scaled corpus (see scaladoc): sf1 -> sf10 uses mult=10, but
    // sf10 -> sf100 uses mult=100 (sf10's effective copy ids already span
    // 0..99, so a mult of 10 would shift this pass back into that range
    // and collide keys and text-permutation seeds with existing rows)
    val strideMult = sys.env.getOrElse("GRAFT_SCALE_STRIDE_MULT", "1").toInt
    // zipf mode generates a DOCUMENTS-ONLY corpus (the dedup/text family's
    // input) with heavy-tailed duplication; the relational tables of a
    // zipf dir, when a query needs them, are the source's (copy them in)
    val docDup = sys.env.getOrElse("GRAFT_SCALE_DOC_DUP", "uniform")
    val spark = GraftSession.getOrCreate()
    val shared = Set("region", "nation")
    val tables =
      if (docDup == "zipf") Seq("documents")
      else Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings")
    tables.foreach { t =>
      val df =
        if (shared(t)) spark.read.parquet(s"$src/$t.parquet")
        else if (docDup == "zipf") zipfDocs(spark, src, copies, strideMult)
        else scaled(spark, src, t, copies, strideMult)
      val files = math.max(1, math.min(16, copies))
      df.repartition(files).write.mode("overwrite").parquet(s"$dst/$t.parquet")
      println(s"[genscale] $t -> $dst/$t.parquet")
    }
    // Provenance manifest: records the parameters this corpus was built
    // with so the decade scripts can detect a stale artifact (one built
    // before a generator fix — e.g. the strideMult=10 key-collision bug —
    // silently invalidates every number measured on it). Scripts
    // regenerate when the manifest is missing or any field mismatches.
    val manifest =
      s"""{"src":"$src","copies":$copies,"strideMult":$strideMult,"docDup":"$docDup","generator":"graft.GenScale"}"""
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dst, "manifest.json"),
      (manifest + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"[genscale] manifest -> $dst/manifest.json $manifest")
    spark.stop()
  }
}
