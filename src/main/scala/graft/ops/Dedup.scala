package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.functions.gf
import graft.io.Layout
import graft.ops.Checkpointing.PinSyntax
import scala.jdk.CollectionConverters._

/** Deduplication operators for training-data pipelines.
  *
  * Scale notes (100 TB): every variant here is a shuffle-on-key groupBy or
  * a bucket join with map-side partial aggregation — never an O(n²)
  * cross-join. Candidate generation (LSH bands, shingle buckets) bounds the
  * pair space; exact verification runs only within buckets.
  */
object Dedup {

  /** The pair kernels (prefixCandidates, bucketPairsCos, group expansion) read
    * ids as 64-bit longs; a silently-mis-read string id would corrupt
    * output, so integral id columns are enforced (and widened) up front. */
  private[graft] def requireLongId(df: DataFrame, idCol: String): Unit =
    df.schema(idCol).dataType match {
      case org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType => ()
      case other => throw new IllegalArgumentException(
        s"id column '$idCol' must be an integral type (read as long by the pair kernels), got $other")
    }

  /** Exact dedup by normalized-content hash: one row per distinct content,
    * keeping the minimum id as the canonical representative. */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(TextAnalysis.fingerprint(col(textCol)).as("content_key"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_copies"))

  /** URL dedup — the crawl-frontier step that runs BEFORE any fetch: group
    * by the canonical form of the URL ([[graft.functions.gf
    * .canonicalizeUrl]] — lowercase scheme/host, default ports and
    * trailing slash stripped, utm_* tracking params dropped, surviving
    * params sorted) so scheme-case/port/slash/param-order/tracking
    * variants of the same resource collapse to one fetch. The canonical
    * key is computed map-side in one codegen pass; only (key, id) pairs
    * shuffle — the URL strings never move twice. */
  def urlDedup(df: DataFrame, urlCol: String, idCol: String): DataFrame =
    df.where(col(urlCol).isNotNull)
      .groupBy(graft.functions.gf.canonicalizeUrl(col(urlCol)).as("canonical_url"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_copies"))

  // ----- shared structure for the canonicalized near-dup paths -----

  /** Group a corpus by a canonical key, one row per group:
    * (rep_id = min member, sorted members, a representative payload). */
  private def canonicalGroups(
      df: DataFrame, idCol: String, keyCol: Column, payload: Column): DataFrame =
    df.select(col(idCol).cast("long").as("id"), payload.as("__payload"), keyCol.as("__ck"))
      // a null canonical key (null text -> null fingerprint) must NOT form
      // a group: the naive paths emit no pairs for null inputs, and
      // grouping nulls would mark unrelated null-text docs as duplicates
      .where(col("__ck").isNotNull)
      .groupBy("__ck")
      .agg(min(col("id")).as("rep_id"),
        sort_array(collect_list(col("id"))).as("members"),
        first(col("__payload")).as("__payload"))
      .pinned() // reused by reps, within, and expansion

  /** All member pairs inside each group (trivial matches by construction),
    * restricted to groups passing `emitWhen`.
    *
    * Relational formulation (explode + self-equi-join on the group key),
    * NOT a per-row pair-array kernel: on a corpus whose duplication factor
    * scales with the corpus (the replicated-crawl shape — GenScale decades
    * have |group| ≈ the copy factor), a pair-array kernel eval
    * materializes |group|²/2 structs as ONE in-memory array per row
    * (~40 MB/row at |group|=1000; executor OOM at sf100), while the join
    * streams the exact same pair set through a spillable shuffle. */
  private def withinGroupPairs(groups: DataFrame, emitWhen: Column): DataFrame = {
    val m = groups
      .where(size(col("members")) >= 2 && emitWhen)
      .select(col("rep_id"), explode(col("members")).as("m"))
    m.select(col("rep_id"), col("m").as("a_id"))
      .join(m.select(col("rep_id"), col("m").as("b_id")), Seq("rep_id"))
      .where(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
  }

  /** Expand representative-level pairs to member-level (a_id, b_id) pairs
    * through group membership, min-id first.
    *
    * One side explodes BEFORE the other side's members attach: the old
    * double-explode carried the full b_members array (8 KB at
    * |group|=1000) inside every intermediate row of the first explode —
    * quadratic bytes materialized per rep pair. Exploding a_members down
    * to scalar (x, b_id) rows first, then joining and exploding
    * b_members, keeps every intermediate row scalar-sized; output rows
    * are exactly the same cross products. */
  private def expandGroupPairs(groups: DataFrame, repPairs: DataFrame): DataFrame =
    repPairs
      .join(groups.select(col("rep_id").as("a_id"), col("members").as("a_members")), "a_id")
      .select(explode(col("a_members")).as("x"), col("b_id"))
      .join(groups.select(col("rep_id").as("b_id"), col("members").as("b_members")), "b_id")
      .select(col("x"), explode(col("b_members")).as("y"))
      .select(least(col("x"), col("y")).as("a_id"), greatest(col("x"), col("y")).as("b_id"))

  /** Generalized SimHash pigeonhole banding (Manku et al., WWW'07): split
    * the 64-bit fingerprint into `numBlocks` near-equal blocks and emit one
    * (carry, table, key) row per (numBlocks - maxHamming)-subset of blocks,
    * keyed by the subset's block values. Pigeonhole: a pair within hamming
    * distance `maxHamming` differs in at most `maxHamming` blocks, so at
    * least one subset agrees on every block — candidate recall is EXACTLY 1
    * at ANY numBlocks (every emitted pair is hamming-verified downstream).
    *
    * Why generalize past the minimal numBlocks = maxHamming+1: the bucket
    * key there is a single 64/(k+1)-bit block (16 bits at k=3), and random
    * key collisions make the candidate set grow as n²/2^16 — quadratic past
    * ~100k distinct fingerprints. Widening the key to (m-k) blocks pushes
    * the collision knee out by 2^keybits at a C(m,k)-table explosion cost
    * (m=5: 10 tables/24-bit keys; m=6: 20/30; m=8: 56/40). Keys are
    * xxhash64(table, block values...) — a hash collision only adds a
    * verified-away candidate, never loses one.
    *
    * Column contract matches the old single-block layout ((block, blockval)
    * = (table id, bucket key)) so the pair joins apply unchanged. */
  private[graft] def simhashBands(
      fp: DataFrame, carryCol: String, maxHamming: Int, numBlocks: Int): DataFrame = {
    require(numBlocks > maxHamming, "numBlocks must exceed maxHamming (pigeonhole)")
    require(numBlocks <= 64, "at most one block per bit")
    val base = 64 / numBlocks
    val rem = 64 % numBlocks
    val widths = (0 until numBlocks).map(i => if (i < rem) base + 1 else base)
    val offsets = widths.scanLeft(0)(_ + _)
    def blockVal(i: Int): Column = {
      val sh = shiftrightunsigned(col("fp"), offsets(i))
      if (offsets(i) + widths(i) == 64) sh
      else sh.bitwiseAND(lit((1L << widths(i)) - 1))
    }
    val combos = (0 until numBlocks).combinations(numBlocks - maxHamming).toSeq
    fp.select(
      col(carryCol), col("fp"),
      posexplode(array(combos.zipWithIndex.map { case (combo, ti) =>
        xxhash64((lit(ti) +: combo.map(blockVal)): _*)
      }: _*)).as(Seq("block", "blockval")))
  }

  /** Corpus-sized block count for [[simhashBands]]: the smallest m whose
    * expected random-collision candidate volume C(m,k)·n²/2^keybits stays
    * at most n (keybits = (m-k)·⌊64/m⌋, the worst-case subset width) —
    * i.e. n·C(m,k) ≤ 2^keybits. For k=3 the knees are m=4 to ~16k distinct
    * fingerprints, m=5 to ~1.7M, m=6 to ~54M, m=8 to ~2·10^10 — each step
    * trades a bounded table explosion (4→10→20→56 rows/fp) for another
    * decade or two of linear candidate volume. Recall is 1 at every m, so
    * changing m never changes the operator's output, only its cost. */
  def simhashBlocksFor(n: Long, maxHamming: Int = 3): Int = {
    def ok(m: Int): Boolean = {
      val keyBits = (m - maxHamming) * (64 / m)
      val tables = (0 until maxHamming).foldLeft(1L)((a, i) => a * (m - i)) /
        (1L to maxHamming).product
      keyBits >= 62 || math.max(n, 1L) <= (1L << keyBits) / math.max(tables, 1L)
    }
    ((maxHamming + 1) to 16).find(ok).getOrElse(16)
  }

  /** Word n-gram shingles of `text` (distinct, space-joined). One-pass
    * kernel call ([[graft.functions.gf.shingles]]) — the equivalent
    * transform/slice/array_join HOF pipeline evaluates interpreted per
    * element and measured ~10x slower. */
  def shingles(text: Column, n: Int): Column = gf.shingles(text, n)

  /** Exact n-gram Jaccard similar pairs: every (a_id, b_id), a_id < b_id,
    * whose distinct word n-gram shingle sets reach Jaccard >= `threshold`.
    *
    * Identical normalized contents collapse first ([[canonicalGroups]]):
    * their pairs are Jaccard-1 matches, emitted per group when it has a
    * shingle, and each distinct content is shingled once as sorted fps.
    * Candidacy between the distinct contents is the rare-first prefix
    * filter ([[Prefix]]) as an index probe: the contents' prefix postings
    * are collected as a CSR ([[Prefix.sharded]], one pass per shard of at
    * most [[Prefix.ShardPostings]] postings) and every content streams its
    * FULL sorted fp set through [[graft.functions.gf.prefixCandidates]],
    * which counts prefix hits task-locally under the size filter and the
    * min(j_A, j_B) hit bound (the one-sided theorem: recall 1 for
    * J >= t > 0); a content keeps the partners with a larger id.
    * Survivors are verified with the exact sorted-merge Jaccard kernel
    * and expanded back to member pairs. The output is the exact pair set
    * at any scale: a shingle shared by thousands of docs sits outside
    * their prefixes instead of being dropped from candidacy. */
  def ngramJaccardPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int,
      threshold: Double): DataFrame =
    ngramPairs(df, textCol, idCol, n, threshold, Prefix.ShardPostings)._1

  /** [[ngramJaccardPairs]] with the shard bound as a parameter, returning
    * (pairs, its candidacy, the verified content pairs (a_id, b_id)). */
  private[graft] def ngramPairs(
      df: DataFrame, textCol: String, idCol: String, n: Int, threshold: Double,
      shardPostings: Long): (DataFrame, Prefix.Sharded, DataFrame) = {
    require(threshold > 0 && threshold <= 1, s"threshold must be in (0, 1], got $threshold " +
      "(shared-shingle candidacy is complete only for J >= t > 0)")
    requireLongId(df, idCol)
    val groups = canonicalGroups(df, idCol,
      TextAnalysis.fingerprint(col(textCol)), col(textCol))
    val within = withinGroupPairs(groups, size(gf.shingleFpsSorted(col("__payload"), n)) > 0)
    val reps = groups
      .select(col("rep_id").as("id"), gf.shingleFpsSorted(col("__payload"), n).as("shl"))
      .select(col("id"), size(col("shl")).as("sz"), col("shl"))
      .where(col("sz") > 0)
      .pinned() // reused by the df count, the prefixes, every pass and verify
    val fps = reps.select(col("id"), col("sz"), explode(col("shl")).as("fp"))
    val pref = Prefix.prefix(fps, Seq("id", "sz"), "fp", Prefix.docFreq(fps, "fp"),
        Prefix.prefixLen(col("sz"), threshold, Prefix.MinHits))
      .select("fp", "id", "sz")
      .pinned() // counted once, collected once per shard
    val cand = Prefix.sharded(pref, shardPostings) { c =>
      Layout.spread(reps).select(col("id").as("a_id"),
          explode(gf.prefixCandidates(col("shl"), col("sz"), threshold, Prefix.MinHits,
            c.fps, c.offsets, c.keys, c.keyIds, c.keySizes)).as("b_id"))
        .where(col("a_id") < col("b_id"))
    }
    val repPairs = cand.candidates
      .join(reps.select(col("id").as("a_id"), col("shl").as("a_shl")), "a_id")
      .join(reps.select(col("id").as("b_id"), col("shl").as("b_shl")), "b_id")
      .where(gf.jaccardSortedFps(col("a_shl"), col("b_shl")) >= threshold)
      .select("a_id", "b_id")
    (within.unionByName(expandGroupPairs(groups, repPairs)), cand, repPairs)
  }

  /** MinHash + LSH banding near-dup pairs — the 100 TB dedup path.
    *
    * Each doc gets a k-permutation MinHash signature (custom codegen
    * expression, one pass over the text). The signature is split into
    * `bands` bands of k/bands rows; docs agreeing on ALL rows of any band
    * become candidates (classic LSH banding, Broder 1997 / MMDS ch.3).
    * Candidates are then verified with exact estimated similarity =
    * fraction of matching signature components >= threshold.
    *
    * Scale: candidate generation is a shuffle on (band, band-hash) — pair
    * space is bounded by bucket collisions, never O(n^2); the verify step
    * compares two k-long arrays per candidate pair only.
    */
  def minhashLshPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3,
      numHashes: Int = 128,
      bands: Int = 32,
      threshold: Double = 0.5): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands evenly")
    val rowsPerBand = numHashes / bands
    val sig = df.select(
      col(idCol).as("id"),
      gf.minhashSig(col(textCol), n, numHashes).as("sig"))
    // band key: hash of the band's slice of the signature (bands unrolled
    // at plan build — they're compile-time constants, no HOF needed)
    val banded = sig.select(
      col("id"), col("sig"),
      posexplode(array((0 until bands).map(bi =>
        hash(slice(col("sig"), bi * rowsPerBand + 1, rowsPerBand), lit(bi))): _*)).as(Seq("band", "bucket")))
    val a = banded.select(col("band"), col("bucket"), col("id").as("a_id"), col("sig").as("a_sig"))
    val b = banded.select(col("band"), col("bucket"), col("id").as("b_id"), col("sig").as("b_sig"))
    // score each collision immediately (one-pass codegen kernel), so the
    // dedup shuffle moves (id, id, double) rows — not two 128-long arrays
    a.join(b, Seq("band", "bucket"))
      .where(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        gf.sigAgreement(col("a_sig"), col("b_sig")).as("est_sim"))
      .where(col("est_sim") >= threshold)
      .groupBy("a_id", "b_id").agg(first(col("est_sim")))
      .select(col("a_id"), col("b_id"))
  }

  /** MinHash LSH candidates verified by EXACT Jaccard — the textbook
    * two-stage pipeline (probabilistic candidate generation, exact verify).
    * Output is defined as {LSH banding candidates} ∩ {true Jaccard >=
    * threshold}: band parameters tune recall, but every emitted pair is a
    * true positive. With (numHashes=128, bands=32) the banding S-curve
    * midpoint is ~0.42, so J>=0.5 pairs collide w.p. ~0.87 per independent
    * run — and because the permutations are deterministic, recall at a
    * given dataset is a fixed property, checked by the oracle.
    *
    * Scale: candidates bounded by band-bucket collisions; the verify join
    * ships each doc's shingle set only for its candidate pairs.
    */
  def minhashLshPairsVerified(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3,
      numHashes: Int = 128,
      bands: Int = 32,
      threshold: Double = 0.5): DataFrame = {
    // Canonicalize identical normalized contents first — the exact-dedup-
    // before-near-dup pipeline order every web-scale corpus needs (exact
    // duplication runs 30-50% on crawls, and each exact copy multiplies
    // every bucket it lands in). Near-dup work then runs on DISTINCT
    // contents; same-content pairs are Jaccard-1 matches by definition
    // (emitted directly, guarded on a non-empty shingle set to mirror the
    // naive path, where shingle-less docs never become candidates).
    requireLongId(df, idCol)
    val groups = canonicalGroups(df, idCol,
      TextAnalysis.fingerprint(col(textCol)), col(textCol))
    val within = withinGroupPairs(groups, size(shingles(col("__payload"), n)) > 0)
    val reps = groups.select(col("rep_id").as("id"), col("__payload").as("__text"))
    val repPairs = minhashVerifiedRepPairs(reps, n, numHashes, bands, threshold)
    within.unionByName(expandGroupPairs(groups, repPairs))
  }

  /** (id, band, bucket) banding rows over (id, __text) — the ONE banding
    * scheme every minhash path shares (layout or salt changes here
    * propagate to all of them identically). */
  private def bandedSignature(
      reps: DataFrame, n: Int, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands evenly")
    val rowsPerBand = numHashes / bands
    reps
      .select(col("id"), gf.minhashSig(col("__text"), n, numHashes).as("sig"))
      .select(col("id"),
        posexplode(array((0 until bands).map(bi =>
          hash(slice(col("sig"), bi * rowsPerBand + 1, rowsPerBand), lit(bi))): _*))
          .as(Seq("band", "bucket")))
  }

  /** Banding candidates + exact-Jaccard verify over (id, __text) rows with
    * distinct contents — the representative-level core of
    * [[minhashLshPairsVerified]]. */
  private def minhashVerifiedRepPairs(
      reps: DataFrame,
      n: Int,
      numHashes: Int,
      bands: Int,
      threshold: Double): DataFrame = {
    val banded = bandedSignature(reps, n, numHashes, bands)
    val candidates = banded.select(col("band"), col("bucket"), col("id").as("a_id"))
      .join(banded.select(col("band"), col("bucket"), col("id").as("b_id")), Seq("band", "bucket"))
      .where(col("a_id") < col("b_id"))
      .select("a_id", "b_id")
      .dropDuplicates("a_id", "b_id")
    val sh = reps.select(col("id"), shingles(col("__text"), n).as("shl"))
      .withColumn("sz", size(col("shl")))
    val withSets = candidates
      .join(sh.select(col("id").as("a_id"), col("shl").as("a_shl"), col("sz").as("a_sz")), "a_id")
      .join(sh.select(col("id").as("b_id"), col("shl").as("b_shl"), col("sz").as("b_sz")), "b_id")
      .withColumn("shared", size(array_intersect(col("a_shl"), col("b_shl"))))
    withSets
      .where(col("shared") / (col("a_sz") + col("b_sz") - col("shared")) >= threshold)
      .select(col("a_id"), col("b_id"))
  }

  /** SimHash near-dup pairs with Hamming distance <= maxHamming.
    *
    * 64-bit SimHash fingerprint (custom codegen expression), then
    * pigeonhole banding ([[simhashBands]]): any pair within maxHamming
    * Hamming distance agrees exactly on at least one band key (complete,
    * no false negatives). Band-equality join, then exact Hamming verify via
    * bit_count(xor).
    *
    * Fingerprint canonicalization — the scale shape for duplicate-heavy
    * corpora: documents sharing an identical fingerprint collapse to ONE
    * representative before banding, so bucket occupancy (and the
    * occupancy² candidate cost) is counted over DISTINCT fingerprints;
    * pairs then expand back through group membership. Same-fingerprint
    * pairs are hamming-0 matches by definition and are emitted directly.
    * The output is identical to banding every document (measured 10x
    * faster on a 10x duplicate-heavy rehearsal corpus; DedupSpec keeps
    * that per-document path as its baseline).
    *
    * Candidate cost per (block, value) bucket is occupancy² over distinct
    * fingerprints; no bucket is dropped, so every band-agreeing pair is
    * hamming-verified. [[simhashBlocksFor]] widens the keys as the corpus
    * grows to bound random-collision occupancy; the measured maximum is
    * 187 at sf0.1 and 155 at GenScale sf1 and sf10 (`graft.Diag simhash`;
    * GenScale's word-permuted copies keep sf0.1's 4,965 distinct
    * fingerprints).
    *
    * Output-volume note: the pair LIST is quadratic in the duplication
    * factor by definition (every within-group pair is a true hamming-0
    * match — |group|²/2 pairs per fingerprint). On corpora whose
    * duplication scales with corpus size, consume the fingerprint GROUPS
    * downstream instead of materializing this list; the expansion itself
    * streams through spillable joins, but ~n·dup²/2 output rows are
    * inherent to asking for pairs. */
  def simhashPairsCanonical(
      df: DataFrame,
      textCol: String,
      idCol: String,
      maxHamming: Int = 3,
      numBlocks: Int = 0): DataFrame = {
    requireLongId(df, idCol)
    val m = if (numBlocks > 0) numBlocks else maxHamming + 1
    val fp = df.select(col(idCol).cast("long").as("id"), gf.simhash64(col(textCol)).as("fp"))
    val groups = canonicalGroups(fp, "id", col("fp"), col("fp"))
      .withColumnRenamed("__payload", "fp")
    // within-group: every member pair is an exact-fingerprint (hamming 0) match
    val within = withinGroupPairs(groups, lit(true))
    // cross-group: band over DISTINCT fingerprints only
    val banded = simhashBands(groups, "rep_id", maxHamming, m)
    val fpPairs = banded.select(col("block"), col("blockval"), col("rep_id").as("a_id"), col("fp").as("a_fp"))
      .join(banded.select(col("block"), col("blockval"), col("rep_id").as("b_id"), col("fp").as("b_fp")),
        Seq("block", "blockval"))
      .where(col("a_id") < col("b_id"))
      .dropDuplicates("a_id", "b_id")
      .where(bit_count(col("a_fp").bitwiseXOR(col("b_fp"))) <= maxHamming)
      .select(col("a_id"), col("b_id"))
    within.unionByName(expandGroupPairs(groups, fpPairs))
  }

  /** Round bound for [[connectedComponents]]: large-star/small-star
    * converges in O(log² n) rounds, a handful on any realistic pair graph,
    * so hitting this means something is wrong — fail loudly. */
  private val MaxComponentRounds = 50

  /** Edge count up to which [[connectedComponents]] finishes on the
    * driver: at 250k near-dup edges, 1 GB heap, 2-2.5 s against 13-16 s
    * of rounds and no slower downstream; at 500k the heap grew by about
    * 500 MB and the downstream slowed. */
  private val DriverComponentEdges = 250000

  /** (edge count, nodes breaking the star-forest test) of distinct hi->lo
    * `edges` in one action. In a star forest no node has two outgoing
    * edges or both outgoing and incoming ones: each star's center is its
    * component's minimum id, the large-star/small-star fixpoint. */
  private def edgeStats(edges: DataFrame): (Long, Long) = {
    val r = edges.select(col("u").as("id"), lit(1).as("out"), lit(0).as("in"))
      .unionByName(edges.select(col("v").as("id"), lit(0).as("out"), lit(1).as("in")))
      .groupBy("id")
      .agg(sum(col("out")).as("out"), max(col("in")).as("in"))
      .agg(coalesce(sum(col("out")), lit(0L)),
        count_if(col("out") > 1 || (col("out") === 1 && col("in") === 1)))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  /** Sorted distinct copy of `a` (sorts `a` in place). */
  private[ops] def sortedDistinct(a: Array[Long]): Array[Long] = {
    java.util.Arrays.sort(a)
    var d = 0
    for (i <- a.indices if i == 0 || a(i) != a(i - 1)) { a(d) = a(i); d += 1 }
    java.util.Arrays.copyOf(a, d)
  }

  /** Union-find over the edges us(i)–vs(i) on primitive arrays. Node ids
    * are sorted, so the smaller index is the smaller id and every root is
    * its component's minimum. Returns (ids, comps). */
  private def unionFind(us: Array[Long], vs: Array[Long]): (Array[Long], Array[Long]) = {
    val ids = sortedDistinct(us ++ vs)
    val parent = Array.tabulate(ids.length)(identity)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    us.indices.foreach { i =>
      val a = find(java.util.Arrays.binarySearch(ids, us(i)))
      val b = find(java.util.Arrays.binarySearch(ids, vs(i)))
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
    }
    (ids, Array.tabulate(ids.length)(k => ids(find(k))))
  }

  /** Connected components over near-dup pairs — the step that turns a
    * pair list into dedup decisions (one keeper per duplicate cluster).
    *
    * The pairs are pinned once as distinct hi->lo edges. A graph of at
    * most [[DriverComponentEdges]] edges is collected under the two-sided
    * contract of [[evalIndex]] (a `limit(bound + 1)` collect that returns
    * at most `bound` rows is complete) and finished by union-find on the
    * driver, as a local frame. Larger graphs run alternating large-star /
    * small-star rounds (Kiveris et al. 2014, "Connected Components in
    * MapReduce and Beyond"): O(log² n) rounds regardless of graph
    * diameter, each two grouped aggregations, a pin and ONE action for its
    * edge count and star-forest test ([[edgeStats]]). The loop ends at the
    * fixpoint, or as soon as the edges fit the driver bound: the rounds
    * preserve connectivity, so union-find finishes the remaining edges.
    *
    * Returns (id, comp) for every node appearing in `pairs` — including a
    * node that appears only in a self-pair (a, a), and one (null, null)
    * row when some pair has both ids null — where comp = min node id
    * reachable, so the component id doubles as the canonical keeper id.
    * Integral id columns are widened: both output columns are `long`.
    */
  def connectedComponents(
      pairs: DataFrame,
      aCol: String = "a_id",
      bCol: String = "b_id"): DataFrame =
    components(pairs, aCol, bCol, DriverComponentEdges)

  /** [[connectedComponents]] with the driver-finish bound as a parameter
    * (0 runs the distributed rounds to the fixpoint). */
  private[graft] def components(
      pairs: DataFrame, aCol: String, bCol: String, driverEdges: Int): DataFrame = {
    val spark = pairs.sparkSession
    // ONE evaluation of the upstream pipeline; self-pairs stay as u = v
    val input = pairs
      .select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
      .select(greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
      .distinct()
      .pinned()
    // union-find over collected (u, v) rows as a local (id, comp) frame
    def finish(rows: Array[Row]): DataFrame = {
      // greatest/least skip nulls, so a row is null only when both ids are
      val (nulls, edges) = rows.partition(_.isNullAt(0))
      val (ids, comps) = unionFind(edges.map(_.getLong(0)), edges.map(_.getLong(1)))
      spark.createDataFrame(
        (ids.indices.map(i => Row(ids(i), comps(i))) ++ nulls.map(_ => Row(null, null))).asJava,
        StructType(Seq(StructField("id", LongType), StructField("comp", LongType))))
    }
    val local = input.limit(driverEdges + 1).collect()
    if (local.length <= driverEdges) return finish(local)
    var edges = input.where(col("u") =!= col("v"))
    var (n, bad) = edgeStats(edges)
    var rounds = 0
    while (bad > 0 && n > driverEdges) {
      if (rounds == MaxComponentRounds) throw new IllegalStateException(
        s"connectedComponents did not converge within $MaxComponentRounds rounds")
      // large-star: every node attaches its strictly-larger neighbors to
      // the minimum of its closed neighborhood
      val nbrs = edges.unionByName(edges.select(col("v").as("u"), col("u").as("v")))
      val lsMins = nbrs.groupBy("u")
        .agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val largeStar = nbrs.join(lsMins, "u")
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
      // small-star: every node folds itself and its smaller neighbors onto
      // their minimum (hi->lo edges already ARE the smaller-neighbor lists)
      val ssMins = largeStar.groupBy("u").agg(min(col("v")).as("m"))
      edges = ssMins.select(col("u"), col("m").as("v"))
        .unionByName(largeStar.join(ssMins, "u")
          .where(col("v") =!= col("m"))
          .select(col("v").as("u"), col("m").as("v")))
        .distinct()
        .pinned() // truncate the iterative lineage
      val stats = edgeStats(edges)
      n = stats._1; bad = stats._2
      rounds += 1
    }
    // a star per component maps each non-root to its component min
    // directly; otherwise union-find finishes the edges that fit
    val mapped = if (bad == 0) edges.toDF("id", "comp") else finish(edges.collect())
    val nodes = input.select(col("u").as("id"))
      .unionByName(input.select(col("v").as("id"))).distinct()
    nodes.join(mapped, Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
  }

  /** Apply dedup decisions: drop every document that belongs to a near-dup
    * cluster but is not its keeper (the min-id member). The complete
    * pipeline is pairs → [[connectedComponents]] → this anti-join — one
    * broadcast-able frame of non-keepers against the corpus. */
  def dropNearDuplicates(
      docs: DataFrame,
      pairs: DataFrame,
      idCol: String): DataFrame = {
    // plain anti-join: the non-keeper set is proportional to the duplicate
    // mass (30-50% of a crawl), far past any broadcast limit at scale —
    // AQE still broadcasts it when it is actually small
    val nonKeepers = connectedComponents(pairs)
      .where(col("id") =!= col("comp"))
      .select(col("id").as(idCol))
    docs.join(nonKeepers, Seq(idCol), "left_anti")
  }

  // ----- contamination core: one eval index, one candidate→verify -----

  /** Bloom bits per distinct eval shingle: k = 8 probes, ~0.3% false
    * positives. A false positive only admits a candidate the exact
    * verify then rejects. */
  private val EvalBloomBitsPerItem = 12

  /** Default cap on an eval battery's summed shingle count (see
    * [[evalIndex]]); the battery is input from outside the program. */
  private val MaxEvalShingles = 50000000

  /** An eval battery collected once: one `reps` row per distinct
    * normalized content, (rep id = min member id, sorted distinct word
    * n-gram fps, sorted member ids), plus the fp union (`fps`, sorted) and
    * its Bloom filter (`bits`, `kProbes` probes per fp). */
  private[graft] case class EvalIndex(
      reps: Array[(Long, Array[Long], Array[Long])],
      fps: Array[Long], bits: Array[Long], kProbes: Int)

  /** The [[EvalIndex]] of `evalSet` at shingle size `n`: ONE collect of
    * its canonicalized groups (eval batteries duplicate too, and Jaccard
    * is content-only, so a match expands back through the member list
    * exactly); the fp union and Bloom bits derive from it on the driver.
    *
    * The collect runs under a two-sided size contract. The LIMIT rides
    * the plan so an oversized battery fails BEFORE materializing on the
    * driver, but a row limit alone can truncate silently: a battery with
    * more rows than the limit yet few shingles per doc (avg < 8) passes
    * the shingle-sum check while the rows beyond the limit were never
    * collected. So collecting EXACTLY the limit fails loudly; strictly
    * under it, the collect was complete and the shingle total is checked
    * against `maxEvalShingles`. */
  private[graft] def evalIndex(
      evalSet: DataFrame, textCol: String, idCol: String, n: Int,
      maxEvalShingles: Int): EvalIndex = {
    requireLongId(evalSet, idCol)
    val rowLimit = maxEvalShingles / 8 + 1
    val rows = evalSet
      .where(col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("id"), col(textCol).as("__text"))
      .groupBy(TextAnalysis.fingerprint(col("__text")))
      .agg(min(col("id")).as("rep_id"), sort_array(collect_list(col("id"))).as("members"),
        first(col("__text")).as("__text"))
      .select(col("rep_id"), gf.shingleFpsSorted(col("__text"), n), col("members"))
      .limit(rowLimit)
      .collect()
    require(rows.length < rowLimit,
      s"eval battery has >= $rowLimit distinct docs — the collect limit was " +
        "reached, so docs beyond it would be silently skipped; raise " +
        s"maxEvalShingles (= $maxEvalShingles) above 8x the battery's doc count")
    val reps = rows.map(r =>
      (r.getLong(0), r.getSeq[Long](1).toArray, r.getSeq[Long](2).toArray))
    require(reps.iterator.map(_._2.length.toLong).sum <= maxEvalShingles,
      s"eval battery exceeds $maxEvalShingles shingles; raise maxEvalShingles")
    val fps = sortedDistinct(reps.flatMap(_._2))
    EvalIndex(reps, fps, graft.functions.Kernels.bloomBuild(fps, EvalBloomBitsPerItem),
      graft.functions.Kernels.bloomK(EvalBloomBitsPerItem))
  }

  /** Bloom count prefilter over (id, __text) rows: keep a row iff its
    * distinct-shingle hits against the eval fp union reach t·|shingles|.
    * J(a,b) >= t implies |a ∩ b| >= t·|a| (from shared >= t(|a|+|b|)/(1+t)
    * and |b| >= shared), and a Bloom filter has no false negatives, so the
    * hit count upper-bounds |a ∩ b| for every eval doc b: recall is exactly
    * 1. One codegen pass, no shuffle; a document that merely shares a few
    * common shingles with the battery (an any-hit rule's failure mode on
    * boilerplate-heavy corpora) is discarded here. */
  private def bloomCandidates(
      docs: DataFrame, idx: EvalIndex, n: Int, threshold: Double): DataFrame =
    docs.withColumn("__bh", gf.bloomShingleHits(col("__text"), n, idx.bits, idx.kProbes))
      .where(col("__bh").getItem(0) > 0 &&
        col("__bh").getItem(1) >= lit(threshold) * col("__bh").getItem(0))
      .drop("__bh")

  /** Exact-verified eval matches of (id, __text) rows:
    * (id, eval_members, __jraw) for every eval rep whose sorted-fp Jaccard
    * with the row reaches `threshold` on the RAW score (rounding first
    * would admit pairs just under it).
    *
    * Candidacy is the eval-prefix CSR probe: the battery is small by
    * contract, so its [[Prefix]] postings (rare-first under eval-side
    * document frequencies, cut on the driver with no Spark job) ride the
    * plan, and one kernel pass over each
    * row's full fp set counts hits task-locally (one-sided prefix
    * theorem: the j smallest common elements of a J >= t pair sit inside
    * the EVAL side's prefix, so recall is exactly 1). A shuffle-based
    * candidacy goes quadratic on saturated shingle spaces: the
    * shared-shingle equi-join measured Σ df_corpus·df_eval ≈ 9·10^10 rows
    * at sf100 and filled the disk. The score is projected once, then
    * filtered; the eval arrays join as a broadcast local relation. Per-row
    * throughout, so it runs unchanged on a stream. */
  private def verifiedMatches(
      docs: DataFrame, idx: EvalIndex, n: Int, threshold: Double): DataFrame = {
    require(threshold > 0, s"threshold must be > 0, got $threshold " +
      "(shared-shingle candidacy is complete only for J >= t > 0)")
    val c = Prefix.localCsr(idx.reps.map(r => (r._1, r._2)), threshold, Prefix.MinHits)
    val evalSh = {
      import docs.sparkSession.implicits._
      idx.reps.toSeq.toDF("eval_rep", "b_shl", "eval_members")
    }
    docs.select(col("id"), gf.shingleFpsSorted(col("__text"), n).as("a_shl"))
      .select(col("id"), col("a_shl"),
        explode(gf.prefixCandidates(col("a_shl"), size(col("a_shl")), threshold, Prefix.MinHits,
          c.fps, c.offsets, c.keys, c.keyIds, c.keySizes)).as("eval_rep"))
      .join(broadcast(evalSh), "eval_rep")
      .withColumn("__jraw", gf.jaccardSortedFps(col("a_shl"), col("b_shl")))
      .where(col("__jraw") >= threshold)
      .select(col("id"), col("eval_members"), col("__jraw"))
  }

  /** The batch candidate→verify: Bloom candidates canonicalized to
    * distinct contents (duplicates multiply the verify on crawl-shaped
    * corpora; filtering first means only candidates shuffle, never the
    * whole corpus text), spread over every core (the verify is the
    * compute-heavy stage, and AQE coalesces bytes-small shuffles to a few
    * partitions: 10 of 32 cores busy, >23 min, at sf100 without it), then
    * verified. Returns (candidate groups, matches keyed by rep id). */
  private def contaminatedGroups(
      corpus: DataFrame, evalSet: DataFrame, textCol: String, idCol: String,
      n: Int, threshold: Double, maxEvalShingles: Int): (DataFrame, DataFrame) = {
    requireLongId(corpus, idCol)
    val idx = evalIndex(evalSet, textCol, idCol, n, maxEvalShingles)
    val docs = corpus.where(col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("id"), col(textCol).as("__text"))
    val groups = canonicalGroups(bloomCandidates(docs, idx, n, threshold), "id",
      TextAnalysis.fingerprint(col("__text")), col("__text"))
    val reps = Layout.spread(groups.select(col("rep_id").as("id"), col("__payload").as("__text")))
    (groups, verifiedMatches(reps, idx, n, threshold).withColumnRenamed("id", "rep_id"))
  }

  /** Decontamination: drop every corpus document whose word-n-gram
    * shingle Jaccard with some document of a held-out evaluation set
    * reaches `threshold` — the step that keeps benchmark answers out of
    * training data.
    *
    * ASYMMETRIC by design: an eval set is thousands of docs next to a
    * 100 TB corpus, so the eval side rides the plan (Bloom bits, prefix
    * postings, shingle arrays) and the corpus side is filtered in one
    * codegen pass before anything shuffles: a Bloom count prefilter, then
    * the candidates canonicalize (a contaminated content flags every copy
    * through membership expansion), then the eval-prefix CSR probe and the
    * exact sorted-merge Jaccard verify. Every stage has recall 1, so the
    * output is the exact-Jaccard definition. Compose after exact dedup for
    * duplicate-heavy corpora. */
  def decontaminate(
      corpus: DataFrame,
      evalSet: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3,
      threshold: Double = 0.5,
      maxEvalShingles: Int = MaxEvalShingles): DataFrame = {
    val (groups, matches) = contaminatedGroups(
      corpus, evalSet, textCol, idCol, n, threshold, maxEvalShingles)
    val contaminated = groups
      .join(matches.select("rep_id").distinct(), Seq("rep_id"))
      .select(explode(col("members")).as(idCol))
      .distinct()
    corpus.join(contaminated, Seq(idCol), "left_anti")
  }

  /** Contamination REPORT — which corpus documents match which eval docs
    * and how strongly: (idCol, eval_id, jaccard rounded to 4 decimals),
    * the audit artifact a curation review reads BEFORE a decontamination
    * pass mutates the corpus. Same candidate→verify as [[decontaminate]];
    * matches expand through both membership lists instead of
    * anti-joining, so every affected document is attributed. */
  def decontaminateReport(
      corpus: DataFrame,
      evalSet: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3,
      threshold: Double = 0.5,
      maxEvalShingles: Int = MaxEvalShingles): DataFrame = {
    val (groups, matches) = contaminatedGroups(
      corpus, evalSet, textCol, idCol, n, threshold, maxEvalShingles)
    groups
      .join(matches, Seq("rep_id"))
      .select(explode(col("members")).as(idCol), col("eval_members"),
        round(col("__jraw"), 4).as("jaccard"))
      .select(col(idCol), explode(col("eval_members")).as("eval_id"), col("jaccard"))
  }

  /** The report's matches per DOCUMENT, without canonicalization (a stream
    * cannot group without state): (idCol, eval_id, jaccard rounded to 4)
    * — the streaming contamination monitor's per-row select. `docs` is
    * spread first: the document table is bytes-small while the per-row
    * kernel chain is compute-huge, so file-split sizing would hand a
    * micro-batch to a couple of scan tasks. */
  private[graft] def contaminationMatches(
      docs: DataFrame, evalSet: DataFrame, textCol: String, idCol: String,
      n: Int, threshold: Double): DataFrame = {
    requireLongId(docs, idCol)
    val idx = evalIndex(evalSet, textCol, idCol, n, MaxEvalShingles)
    val rows = Layout.spread(docs.where(col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("id"), col(textCol).as("__text")))
    verifiedMatches(bloomCandidates(rows, idx, n, threshold), idx, n, threshold)
      .select(col("id").as(idCol), explode(col("eval_members")).as("eval_id"),
        round(col("__jraw"), 4).as("jaccard"))
  }

  /** C4-style global line deduplication (boilerplate removal): a line whose
    * normalized form occurs in at least `minDocs` DISTINCT documents is
    * boilerplate (nav bars, cookie banners, license footers) and is removed
    * from every document. Returns one row per input document:
    * (id, n_lines, n_kept, n_dropped, cleaned) with line order preserved.
    *
    * Scale shape: lines are exploded once, frequency is a groupBy on the
    * line's md5 fingerprint (map-side combine; the shuffle carries 16-byte
    * keys, not line text), and the hot set — bounded by the amount of
    * distinct boilerplate, tiny next to the corpus — broadcasts back as an
    * anti-join, so document reassembly shuffles each line exactly once on
    * the document id. */
  def dropBoilerplateLines(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      minDocs: Int,
      maxBoilerplate: Int = 5000000): DataFrame = {
    // pass 1 — line-frequency: per-doc line fingerprints from a one-pass
    // kernel (the shuffle carries (8-byte fp, id), never line text),
    // groupBy fp with two-phase distinct-doc counting
    // limit BEFORE collect: an oversized hot set must fail without first
    // materializing millions of rows on the driver (the guard would
    // otherwise fire only after the OOM risk it exists to prevent)
    val hotRows = docs
      .select(col(idCol).cast("long").as("id"),
        explode(gf.lineFps(col(textCol))).as("fp"))
      .groupBy("fp")
      .agg(countDistinct(col("id")).as("df"))
      .where(col("df") >= minDocs)
      .select("fp")
      .limit(maxBoilerplate + 1)
      .collect()
    require(hotRows.length <= maxBoilerplate,
      s"boilerplate set exceeds $maxBoilerplate distinct lines; " +
        "raise minDocs or maxBoilerplate")
    val hotSorted = hotRows.map(_.getLong(0)).sorted
    // pass 2 — narrow map: one kernel call per document removes hot lines
    // in place; no explode, no reassembly shuffle. The hot set (bounded by
    // the amount of distinct boilerplate) rides the plan like the IVF
    // centroids. Line identity = normalized-text equality, realized as the
    // 64-bit FNV fingerprint of the normalized line (collisions are
    // vanishing at any corpus size a 64-bit space serves; a collision
    // would drop a non-boilerplate line, never corrupt one).
    docs.select(
      col(idCol),
      gf.cleanLines(col(textCol), hotSorted).as("c"))
      .select(
        col(idCol),
        col("c.n_lines").as("n_lines"),
        col("c.n_kept").as("n_kept"),
        (col("c.n_lines") - col("c.n_kept")).as("n_dropped"),
        col("c.cleaned").as("cleaned"))
  }

  /** Exact-substring duplicated spans — the span-level dedup of Lee et al.
    * 2022 ("Deduplicating Training Data Makes Language Models Better"),
    * re-expressed as a word-k-gram fingerprint inverted index instead of a
    * suffix array over the concatenated corpus (the formulation that
    * distributes): a word position is duplicated when its k-gram
    * fingerprint occurs at least `minOcc` times corpus-wide (any document,
    * including its own — self-repetition is duplication too), and
    * overlapping or adjacent duplicated k-grams merge into maximal spans.
    * Returns one row per maximal span: (idCol, span_start, span_end,
    * span_words) in word offsets, end exclusive.
    *
    * Scale shape: the corpus tokenizes into positional 8-byte fingerprints
    * in a codegen kernel; the frequency pass is a groupBy on the
    * fingerprint with map-side partial counts (the shuffle carries
    * (fp, count), never n-gram text); the hit join restricts the posting
    * explosion to recurring fingerprints; span merging is one window per
    * document over integer positions (gaps-and-islands). Everything after
    * the count is bounded by duplicated-span volume, not corpus volume.
    * The positional explosion is deliberately recomputed for the two
    * passes rather than cached — it is a narrow map off the scan, and at
    * corpus scale recompute beats materializing len(corpus) 16-byte rows. */
  def duplicatedSpans(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      k: Int = 5,
      minOcc: Int = 2): DataFrame = {
    requireLongId(docs, idCol)
    require(k >= 2, s"span k-gram width must be >= 2, got $k")
    require(minOcc >= 2, s"minOcc must be >= 2, got $minOcc")
    import org.apache.spark.sql.expressions.Window
    val pos = docs
      .where(col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("id"),
        posexplode(gf.ngramFps(col(textCol), k)))
      .toDF("id", "pos", "fp")
    val dupFps = pos.groupBy("fp").agg(count(lit(1)).as("occ"))
      .where(col("occ") >= minOcc)
      .select("fp")
    val hits = pos.join(dupFps, "fp").select("id", "pos")
    val byDoc = Window.partitionBy("id").orderBy("pos")
    hits
      // a gap opens when the next duplicated k-gram starts more than k
      // words after the previous one (i.e. their covered spans no longer
      // touch); null lag (first hit in a doc) opens the first island
      .withColumn("brk",
        when(col("pos") - lag("pos", 1).over(byDoc) <= k, lit(0)).otherwise(lit(1)))
      .withColumn("grp", sum("brk").over(byDoc))
      .groupBy(col("id"), col("grp"))
      .agg(min("pos").as("span_start"), (max("pos") + k).as("span_end"))
      .select(col("id").as(idCol), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start")).as("span_words"))
  }

  /** Apply [[duplicatedSpans]] to the corpus: remove EVERY duplicated
    * span from every document — the aggressive drop-all policy, which is
    * deterministic and needs no global occurrence order (the keep-first
    * policy of the suffix-array formulation requires ordering occurrences
    * corpus-wide; drop-all is the variant that stays embarrassingly
    * parallel). Null-text documents are excluded. Returns (idCol,
    * n_words, n_kept, cleaned) with the original token case preserved and
    * inter-word whitespace normalized to single spaces (the
    * canonicalization the span offsets are defined over).
    *
    * Scale shape: spans are integer offsets, few per document; they
    * groupBy-collect on the id and join back onto the corpus (broadcast
    * when duplication is sparse — the post-dedup common case; an id-key
    * shuffle otherwise), and a one-pass kernel drops the spans in place —
    * no word-level explode/reassembly of the corpus. */
  def removeDuplicatedSpans(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      k: Int = 5,
      minOcc: Int = 2): DataFrame = {
    val spans = duplicatedSpans(docs, textCol, idCol, k, minOcc)
    val perDoc = spans
      .groupBy(col(idCol))
      .agg(flatten(transform(
        sort_array(collect_list(struct(
          col("span_start").cast("long").as("s"),
          col("span_end").cast("long").as("e")))),
        x => array(x.getField("s"), x.getField("e")))).as("__spans"))
    docs
      .where(col(textCol).isNotNull)
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        gf.dropSpans(col(textCol),
          coalesce(col("__spans"), lit(Array.empty[Long]))).as("c"))
      .select(col(idCol),
        col("c.n_words").as("n_words"),
        col("c.n_kept").as("n_kept"),
        col("c.cleaned").as("cleaned"))
  }

  /** N-gram-collision decontamination (the GPT-3/PaLM recipe): drop every
    * corpus document sharing at least `minHits` distinct word n-grams with
    * the eval set's n-gram union. COMPLEMENTS the Jaccard threshold of
    * [[decontaminate]]: a short eval answer quoted inside a long document
    * has LOW Jaccard (the document's shingle set dwarfs the eval doc's)
    * yet is exactly the leakage a training corpus must not carry — n-gram
    * collision catches CONTAINMENT, Jaccard catches near-duplication. Long
    * n-grams (13 in GPT-3; ~8 suits short-document corpora) keep natural
    * collisions rare.
    *
    * Same [[EvalIndex]] at this operator's `n`: its Bloom bits drive one
    * codegen candidacy pass over the corpus, recall exactly 1 (Bloom false
    * positives only over-admit; the candidacy count upper-bounds true
    * hits), candidates canonicalize to distinct contents, and the verify
    * is an exact equi-join against the index's fp union + per-content hit
    * count, bounded by candidate volume (AQE broadcasts the fp table when
    * it is small). */
  def decontaminateNgram(
      corpus: DataFrame,
      evalSet: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 8,
      minHits: Int = 1,
      maxEvalShingles: Int = MaxEvalShingles): DataFrame = {
    requireLongId(corpus, idCol)
    require(minHits >= 1, s"minHits must be >= 1, got $minHits")
    val idx = evalIndex(evalSet, textCol, idCol, n, maxEvalShingles)
    val evalFpDf = {
      import corpus.sparkSession.implicits._
      idx.fps.toSeq.toDF("fp")
    }

    val candidates = corpus
      .where(col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("id"), col(textCol).as("__text"),
        gf.bloomShingleHits(col(textCol), n, idx.bits, idx.kProbes).as("__bh"))
      .where(col("__bh").getItem(1) >= minHits)
      .select(col("id"), col("__text"))
    val groups = canonicalGroups(candidates, "id",
      TextAnalysis.fingerprint(col("__text")), col("__text"))
    // exact verify: both sides are distinct fp sets, so count(*) after the
    // equi-join IS the distinct shared-n-gram count
    val contaminatedReps = groups
      .select(col("rep_id"), explode(array_distinct(gf.ngramFps(col("__payload"), n))).as("fp"))
      .join(evalFpDf, "fp")
      .groupBy("rep_id")
      .agg(count(lit(1)).as("__hits"))
      .where(col("__hits") >= minHits)
      .select("rep_id")
    val contaminated = groups
      .join(contaminatedReps, Seq("rep_id"))
      .select(explode(col("members")).as(idCol))
      .distinct()
    corpus.join(contaminated, Seq(idCol), "left_anti")
  }

  /** One-call near-dup pipeline — the composition every training corpus
    * runs, in the order that scales: MinHash-LSH candidates verified by
    * exact Jaccard (exact duplicates are canonicalized inside), connected
    * components over the pair graph, then drop every non-keeper. Returns
    * the deduplicated corpus with original columns intact. */
  def nearDupPipeline(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3,
      numHashes: Int = 128,
      bands: Int = 32,
      threshold: Double = 0.5): DataFrame = {
    val pairs = minhashLshPairsVerified(df, textCol, idCol, n, numHashes, bands, threshold)
    dropNearDuplicates(df, pairs, idCol)
  }

  /** Embedding-cosine near-dup pairs: all (a, b) with cosine >= minCos.
    *
    * Exact all-pairs formulation for oracle checking; at scale, swap the
    * self-join for [[Similarity]] LSH bucketing — same verify step,
    * bounded pair space.
    */
  def embeddingPairs(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      minCos: Double,
      maxBroadcastBytes: Long = 256L << 20): DataFrame = {
    requireLongId(emb, idCol)
    // The non-equi self-join executes as a nested-loop join whose
    // parallelism is the STREAMED side's partition count — bytes-small
    // vector table, O(n²) probe loop, so spread it over every core
    // ([[Layout.spread]] for the measured rationale: 4 of 32 cores,
    // 76 min at a 200k-vector corpus without it).
    //
    // Norms are computed ONCE per row, outside the pair loop: the
    // threshold test is `dot >= minCos·|a|·|b|` (algebraically identical
    // to cosine >= minCos for nonzero norms), so the O(n²) inner loop does
    // one multiply-add per dimension instead of cosine's three. Zero-norm
    // vectors never pair, matching the cosine path's 0-similarity.
    // b carries an explicit broadcast hint: without it the added norm
    // column pushes the planner's size estimate past the auto-broadcast
    // threshold and the non-equi join degrades to CartesianProductExec
    // (observed at sf10: ~3x slower than the broadcast NLJ on identical
    // work). The build side is the whole corpus — fine for the exact
    // baseline's operating range (128 MB at 500k x dim 64) — but the hint
    // is gated on a measured footprint (the probe-guard pattern): past
    // `maxBroadcastBytes` an unconditional hint would hard-fail in the
    // broadcast build where the unhinted cartesian plan merely runs slow,
    // and at that size the LSH twin is the declared path anyway.
    val a = Layout.spread(
      emb.select(col(idCol).cast("long").as("a_id"), col(vecCol).as("a_vec"),
        gf.l2norm(col(vecCol)).as("a_n")))
    val bRaw = emb.select(col(idCol).cast("long").as("b_id"), col(vecCol).as("b_vec"),
      gf.l2norm(col(vecCol)).as("b_n"))
    val est = emb.agg(count(lit(1)), coalesce(max(size(col(vecCol))), lit(0))).head()
    val estBytes = est.getLong(0) * (math.max(est.getInt(1), 0).toLong * 4L + 48L)
    val b = if (estBytes <= maxBroadcastBytes) broadcast(bRaw) else bRaw
    a.join(b, col("a_id") < col("b_id"))
      .where(col("a_n") > 0.0 && col("b_n") > 0.0 &&
        gf.dot(col("a_vec"), col("b_vec")) >= lit(minCos) * col("a_n") * col("b_n"))
      .select(col("a_id"), col("b_id"))
  }

  /** Embedding-space decontamination: drop corpus vectors whose cosine to
    * ANY eval vector reaches minCos — the semantic complement of the
    * n-gram decontaminate family (catches paraphrased/reworded benchmark
    * leakage that shingle overlap misses; Yang et al. 2023 "Rethinking
    * Benchmark and Contamination" shape).
    *
    * Scale shape: the eval battery is small by nature (benchmarks), so it
    * broadcasts and the check is a pass over the corpus with no shuffle of
    * the corpus DATA volume; per-row cost |eval| x dim fused in the
    * codegen cosine. The corpus side is still a bytes-small vector table
    * (n x dim floats), so file-split sizing would hand the O(corpus x
    * eval x dim) probe loop to a handful of tasks — the same disease
    * [[embeddingPairs]] fixes ([[Layout.spread]]; measured at sf10: 4 of
    * 32 cores busy for hours without it). Rows with null vectors are kept
    * (no evidence).
    * Output: one row per corpus row — (idCol, n_hits, keep). */
  def decontaminateEmbeddings(
      corpus: DataFrame,
      evalSet: DataFrame,
      idCol: String,
      vecCol: String,
      minCos: Double): DataFrame = {
    // norms once per row (both sides), dot-only inner loop — see
    // [[embeddingPairs]] for the algebra
    val e = evalSet.filter(col(vecCol).isNotNull)
      .select(col(vecCol).as("__ev"), gf.l2norm(col(vecCol)).as("__en"))
    val hits = Layout.spread(
        corpus.filter(col(vecCol).isNotNull)
          .select(col(idCol), col(vecCol).as("__v"), gf.l2norm(col(vecCol)).as("__vn")))
      .crossJoin(broadcast(e))
      .where(col("__vn") > 0.0 && col("__en") > 0.0 &&
        gf.dot(col("__v"), col("__ev")) >= lit(minCos) * col("__vn") * col("__en"))
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_hits"))
    corpus.select(col(idCol)).join(hits, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) === 0).as("keep"))
  }

  /** LSH-bucketed embedding near-dup pairs — the scale path for
    * [[embeddingPairs]]: candidates meet in a random-hyperplane bucket in
    * any of `tables` hash tables of the one banding
    * ([[Similarity.hyperplaneBands]]; high-cosine pairs collide with
    * probability (1 - θ/π)^bits per table), then exact cosine verifies
    * every candidate of every bucket — none is skipped. Shuffle is on
    * (table, bucket); pair space bounded by bucket occupancy instead of
    * |n|². */
  def embeddingPairsLsh(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      minCos: Double,
      bits: Int = 8,
      tables: Int = 16,
      numParts: Int = 0): DataFrame = {
    requireLongId(emb, idCol)
    val bucketed = emb
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"),
        explode(Similarity.hyperplaneBands(col(vecCol), bits, tables)).as("b"))
      .select(col("id"), col("vec"), col("b.table").as("table"), col("b.bucket").as("bucket"))
    // One shuffle on (table, bucket), then the whole O(b²) score-and-filter
    // runs inside a single kernel call per bucket: candidate pairs that
    // fail minCos are never materialized as rows (the bucket self-join
    // formulation shuffled every candidate — measured ~5x slower at sf0.1).
    // The kernel is the in-bucket form of the one LSH cosine verify (see
    // [[Similarity.hyperplaneBands]]); dense buckets cost occupancy², and
    // the fix for persistent density is more bits ([[Similarity.lshBitsFor]]).
    //
    // That shuffle carries each VECTOR once per table (`tables`x data
    // amplification — inherent to multi-table LSH: the computation is
    // bucket-local, so either vectors move to buckets or nothing meets).
    // The per-task collect_list volume is banded-bytes/shuffle-partitions,
    // and the default partition count goes off a cliff at scale (sf100:
    // 61 GB over 32 partitions = 1.9 GB/task of list buffers, measured as
    // a spill storm) — callers at scale pass `numParts` sized from the
    // banded volume (e.g. n·tables·rowBytes / 256 MB; see the catalog's
    // lshPartsFor). The explicit repartition IS the groupBy's shuffle
    // (same keys), so this adds no extra pass.
    val spread = if (numParts > 0) bucketed.repartition(numParts, col("table"), col("bucket"))
      else bucketed
    spread
      .groupBy("table", "bucket")
      .agg(collect_list(struct(col("id"), col("vec"))).as("items"))
      .select(explode(gf.bucketPairsCos(col("items"), minCos)).as("p"))
      .select(col("p.a_id").as("a_id"), col("p.b_id").as("b_id"))
      .dropDuplicates("a_id", "b_id")
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): semantic near-dup removal
    * by clustering embeddings and deduplicating WITHIN clusters only —
    * the approximation that turns the all-pairs O(n²) cosine comparison
    * into k independent O((n/k)²) cluster-local ones. Returns one row per
    * embedding: (id, cluster, keep) — keep=false for every member of a
    * within-cluster cosine-≥-minCos component except its min-id keeper.
    *
    * Cluster seeds are the k first vectors in md5-hash id order (the
    * engine's reproducible sampler, SQL-expressible for the oracle);
    * `iters > 0` refines them with driver-side spherical k-means over a
    * deterministic hash sample — the paper's setup — at the cost of
    * SQL-oracle-ability (float means are not reproducible cross-engine).
    * Assignment is a codegen argmax-cosine map with the (k × dim)
    * centroid table riding the plan: no shuffle, no broadcast lifecycle.
    * The pair stage shuffles each vector ONCE on its cluster id and runs
    * the cluster-local scoring in a kernel that never materializes
    * sub-threshold pairs; at 100 TB, k scales with corpus size to hold
    * n/k (cluster occupancy) roughly constant. */
  /** Cluster-count sizing for [[semdedup]]: k = ceil(sqrt(n/8)) (min 8)
    * balances the flat argmax assignment, O(n·k·d), against the
    * within-cluster pair stage, O((n/k)²·k·d) = O(n²·d/k) — both land at
    * O(n^1.5·d), the optimum for this two-stage shape. A fixed k leaves
    * the pair stage quadratic as the corpus grows; k ∝ n pins cluster
    * size but makes the flat assignment quadratic instead (the escape at
    * that scale is a hierarchical / IVF assignment). */
  def semdedupKFor(n: Long): Int = {
    require(n > 0, "need a positive corpus size")
    math.max(8, math.ceil(math.sqrt(n / 8.0)).toInt)
  }

  def semdedup(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      minCos: Double,
      iters: Int = 0,
      sampleSize: Int = 10000): DataFrame = {
    requireLongId(emb, idCol)
    val vecs = emb
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .where(col("vec").isNotNull)
    val centroids = trainClusterCentroids(vecs, k, iters, sampleSize)

    val assigned = vecs
      .withColumn("cluster", gf.nearestCos(col("vec"), centroids))
      .pinned() // reused by the pair stage AND the output join
    val pairs = assigned
      .groupBy("cluster")
      .agg(collect_list(struct(col("id"), col("vec"))).as("items"))
      .select(explode(gf.bucketPairsCos(col("items"), minCos)).as("p"))
      .select(col("p.a_id").as("a_id"), col("p.b_id").as("b_id"))
    // near-dup chains at a cosine threshold can have a long graph diameter
    // (observed at 10x with sqrt-scaled k); the star rounds do not depend on it
    val comp = connectedComponents(pairs)
    assigned
      .join(comp, Seq("id"), "left")
      .select(col("id").as(idCol), col("cluster"),
        (col("comp").isNull || col("comp") === col("id")).as("keep"))
  }

  /** Centroids for embedding clustering over a (id, vec) frame: seeds are
    * the k first vectors in md5-hash id order (the engine's reproducible
    * sampler — SQL-expressible, which is what makes the iters=0 operating
    * point oracle-able); `iters > 0` refines them with driver-side
    * spherical k-means over a deterministic hash sample, at the cost of
    * cross-engine float-mean reproducibility. */
  private def trainClusterCentroids(
      vecs: DataFrame,
      k: Int,
      iters: Int,
      sampleSize: Int): Array[Array[Double]] = {
    val seeds = vecs
      .orderBy(md5(col("id").cast("string")), col("id"))
      .limit(k)
      .select(col("vec"))
      .collect().map(_.getSeq[Float](0).map(_.toDouble).toArray)
    require(seeds.nonEmpty, "empty embedding corpus")
    if (iters == 0) seeds
    else {
      // deterministic hash sample (same shape as the IVF quantizer's)
      val sample = vecs
        .select(col("vec"), xxhash64(col("id")).as("__h"))
        .orderBy(col("__h")).limit(sampleSize)
        .select(col("vec"))
        .collect().map(_.getSeq[Float](0).map(_.toDouble).toArray)
      sphericalKmeans(sample, seeds, iters)
    }
  }

  /** First-class embedding clustering — [[semdedup]]'s assignment stage as
    * its own operator (corpus topic/domain structure, cluster-stratified
    * sampling, and the input to cluster-scoped pipelines): spherical
    * k-means assignment against a plan-embedded centroid table, returning
    * (idCol, cluster, cluster_size). Assignment is a codegen argmax-cosine
    * narrow map — the only shuffle is the k-row size aggregate, which
    * broadcasts back onto the assignment. At 100 TB, k grows with the
    * corpus to hold per-cluster occupancy constant; the centroid table
    * stays a task constant (k x dim doubles). */
  def clusterEmbeddings(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int = 0,
      sampleSize: Int = 10000): DataFrame = {
    requireLongId(emb, idCol)
    val vecs = emb
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .where(col("vec").isNotNull)
    val centroids = trainClusterCentroids(vecs, k, iters, sampleSize)
    val assigned = vecs.withColumn("cluster", gf.nearestCos(col("vec"), centroids))
    val sizes = assigned.groupBy("cluster").agg(count(lit(1)).as("cluster_size"))
    assigned
      .join(broadcast(sizes), Seq("cluster"))
      .select(col("id").as(idCol), col("cluster"), col("cluster_size"))
  }

  // ----- persistent incremental-dedup index (the daily-delta shape) -----

  /** Build the PERSISTENT dedup fingerprint index for a corpus snapshot —
    * the build-once side of incremental ingestion (a 100 TB corpus is not
    * re-deduplicated for every crawl delta; the delta probes an index).
    *
    * Three tables under `tableName`:
    *   - `<t>` (reps): ONE ROW PER DISTINCT CONTENT — (rep_id = min doc id
    *     of that content, content_key, sorted shingle-fp array `shl`, and
    *     the same fps in rare-first order `shl_rk`), partitioned by
    *     `pb = pmod(hash(rep_id), numParts)` so the probe's verify fetch
    *     prunes partitions dynamically (the IVFADC index convention).
    *     Exact-dup canonicalization is IN the index: web crawls run 30-50%
    *     exact duplication, and every exact copy would multiply probe work.
    *   - `<t>_df`: each fp's document frequency over the reps (the
    *     [[Prefix]] order), partitioned by `fb = pmod(hash(fp), numParts)`.
    *   - `<t>_meta`: (n, num_parts, n_reps).
    *
    * Probe economics ([[dedupIndexProbe]]): the delta's prefix postings
    * are the kernel's CSR, so candidacy is one column-pruned scan of the
    * reps' `shl_rk` arrays and verification fetches only candidate rep
    * rows from `<t>` (partition-pruned via the candidates' rep_id hash
    * buckets). Neither index table is ever shuffled by a join, and cost
    * scales with the delta, not with the corpus's co-occurrence. The
    * index carries 8-byte fingerprints, never shingle text. */
  def dedupIndexBuild(
      corpus: DataFrame,
      textCol: String,
      idCol: String,
      tableName: String,
      n: Int = 3,
      numParts: Int = 16): Unit = {
    requireLongId(corpus, idCol)
    val spark = corpus.sparkSession
    import spark.implicits._
    Warehouse.dropTables(spark, Seq(tableName, s"${tableName}_df", s"${tableName}_meta"))
    val docs = corpus
      .where(col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("id"), col(textCol).as("__text"))
    val groups = canonicalGroups(docs, "id",
      TextAnalysis.fingerprint(col("__text")), col("__text"))
    val repsF = groups.select(
      col("rep_id"),
      col("__ck").as("content_key"),
      gf.shingleFpsSorted(col("__payload"), n).as("shl"))
    // global document frequency per fp — defines the rare-first order
    // every probe-side prefix filter uses. Written first; everything below
    // reads it back instead of recomputing.
    val fps = repsF.select(col("rep_id"), explode(col("shl")).as("fp"))
    Prefix.docFreq(fps, "fp")
      .withColumn("fb", pmod(hash(col("fp")), lit(numParts)))
      .write.mode("overwrite").partitionBy("fb").format("parquet")
      .saveAsTable(s"${tableName}_df")
    // reps carry BOTH orderings of the fp set: `shl` (value-sorted, the
    // exact-Jaccard merge kernel's input) and `shl_rk` (rare-first —
    // position i IS the fp's prefix rank, so the probe slices its prefix
    // straight off the array).
    val rkArr = Prefix.rareFirst(fps, Seq("rep_id"), "fp", spark.table(s"${tableName}_df"))
      .groupBy("rep_id")
      .agg(transform(array_sort(collect_list(struct(col("rk"), col("fp")))),
        s => s.getField("fp")).as("shl_rk"))
    repsF.join(rkArr, Seq("rep_id"))
      .withColumn("pb", pmod(hash(col("rep_id")), lit(numParts)))
      .write.mode("overwrite").partitionBy("pb").format("parquet")
      .saveAsTable(tableName)
    val nReps = spark.table(tableName).count()
    Seq((n, numParts, nReps)).toDF("n", "num_parts", "n_reps")
      .write.mode("overwrite").format("parquet").saveAsTable(s"${tableName}_meta")
  }

  /** Probe a persistent dedup index with a delta batch: per delta doc,
    * (status, match_id, jaccard) against the INDEXED corpus —
    *   - `exact`: an indexed doc has identical normalized content;
    *     match_id = min such corpus id (the rep_id by construction),
    *     jaccard = 1.0 by definition.
    *   - `near` : else some indexed doc has exact shingle Jaccard >=
    *     threshold; match_id = min such corpus id, jaccard = that pair's
    *     score (rounded for cross-engine stability).
    *   - `new`  : else — the doc is admissible.
    *
    * EXACT output (not approximate): candidacy is prefix-filtered
    * ([[Prefix]], at least min(j_A, j_B) shared prefix fps), which has
    * recall exactly 1 for J >= t; survivors are verified with the exact
    * sorted-merge Jaccard kernel against the stored rep fp arrays. Delta
    * reps that match exactly are excluded from near candidacy up front:
    * exact dominates near in the output and a re-crawl delta is mostly
    * exact dups. The delta is canonicalized to distinct contents before
    * probing (verify work per distinct content, not per doc — the §9.3
    * symmetry rule).
    *
    * Candidacy is an index probe over the delta: the delta's prefix
    * postings (rare-first under the index's `<t>_df`) are collected as a
    * CSR ([[Prefix.sharded]], one pass per shard of at most
    * [[Prefix.ShardPostings]] postings), and one kernel pass over the reps
    * table ([[graft.functions.gf.prefixCandidates]] on each rep's own
    * prefix, sliced off `shl_rk`) counts hits task-locally. No (pair, hit)
    * row is shuffled, so a saturated shingle space (a ~30k-trigram
    * vocabulary where every delta fp meets hundreds of reps) costs one
    * scan of the reps, not Σ_fp df_idx·df_delta join rows.
    *
    * SIZE GUARD: the delta-side join hints (the exact-key join, the
    * prefix ranking, the verify fetch and the final re-attach) broadcast
    * only while the delta is small. After canonicalizing, one cheap
    * aggregate measures the delta and estimates its footprint (~64 B per
    * row + 48 B per shingle); above `maxBroadcastBytes` every delta-side
    * hint is dropped and those joins shuffle. At that size the "delta" is
    * a corpus-scale batch, and shuffling both sides IS the right plan —
    * the guard makes the cutover explicit instead of letting a 10 GB
    * broadcast OOM the executors. */
  def dedupIndexProbe(
      delta: DataFrame,
      textCol: String,
      idCol: String,
      tableName: String,
      threshold: Double = 0.5,
      maxBroadcastBytes: Long = 256L << 20): DataFrame =
    indexProbe(delta, textCol, idCol, tableName, threshold, maxBroadcastBytes,
      Prefix.ShardPostings)._1

  /** [[dedupIndexProbe]] with the shard bound as a parameter, returning
    * (verdicts, its candidacy, the verified (d_rep, rep_id, __jraw) pairs). */
  private[graft] def indexProbe(
      delta: DataFrame, textCol: String, idCol: String, tableName: String,
      threshold: Double, maxBroadcastBytes: Long,
      shardPostings: Long): (DataFrame, Prefix.Sharded, DataFrame) = {
    requireLongId(delta, idCol)
    val spark = delta.sparkSession
    val reps = spark.table(tableName)
    require(reps.columns.contains("shl_rk") && spark.catalog.tableExists(s"${tableName}_df"),
      s"$tableName was built by an older dedupIndexBuild (no ranked rep arrays / " +
        s"df table) — rebuild the index before probing")
    val meta = spark.table(s"${tableName}_meta").head()
    val n = meta.getInt(0)
    val nReps = meta.getLong(2)
    val dfIdx = spark.table(s"${tableName}_df")

    val docs = delta
      .where(col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("id"), col(textCol).as("__text"))
    val groups = canonicalGroups(docs, "id",
      TextAnalysis.fingerprint(col("__text")), col("__text"))
    val dSh = groups.select(
      col("rep_id").as("d_rep"),
      col("__ck").as("d_key"),
      gf.shingleFpsSorted(col("__payload"), n).as("d_shl"))
      .pinned() // reused by exact join, candidacy, verify

    // size guard: one cheap aggregate over the checkpointed delta decides
    // broadcast vs shuffle for EVERY delta-derived join side (they scale
    // together — the exploded fp frame dominates at ~48 B/hash-relation
    // entry, the shingle arrays at ~8 B/fp)
    val st = dSh.agg(count(lit(1)).as("c"), sum(size(col("d_shl"))).as("f")).head()
    val dRows = st.getLong(0)
    val dFpsTotal = if (st.isNullAt(1)) 0L else st.getLong(1)
    val bcastDelta = dRows * 64L + dFpsTotal * 48L <= maxBroadcastBytes
    def deltaSide(df: DataFrame): DataFrame = if (bcastDelta) broadcast(df) else df

    // exact: content-key equi-join, delta keys broadcast; the scan reads
    // (rep_id, content_key) only, and rep_id IS min(corpus id | content).
    // Checkpointed (delta-sized) because it is consumed twice: the final
    // status join AND the near-candidacy exclusion below.
    val exactM = reps
      .join(deltaSide(dSh.select(col("d_rep"), col("d_key").as("content_key"))),
        Seq("content_key"))
      .groupBy("d_rep").agg(min(col("rep_id")).as("exact_match"))
      .pinned()

    // Near candidacy. Delta fps absent from the index (df join misses)
    // drop out of the ranking; the prefix length still uses the FULL |A|.
    val j = Prefix.MinHits
    val dNear = dSh.join(deltaSide(exactM.select(col("d_rep"))), Seq("d_rep"), "left_anti")
    val dFps = dNear
      .select(col("d_rep"), size(col("d_shl")).as("d_nfp"),
        explode(col("d_shl")).as("fp"))
    // delta prefix postings at hit requirement h: prefix length grows with
    // h (the per-doc min(h, ceil(t·n)) cap keeps tiny docs exact-recall)
    def prefFor(h: Int): DataFrame =
      Prefix.prefix(deltaSide(dFps), Seq("d_rep", "d_nfp"), "fp", dfIdx,
          Prefix.prefixLen(col("d_nfp"), threshold, h))
        .select(col("fp"), col("d_rep"), col("d_nfp"), col("df"))
    val dPref = prefFor(j)
      .pinned() // reused: saturation estimate + the CSR postings
    // SATURATION-SIZED HIT REQUIREMENT (a rule, not a constant — the
    // lshBitsFor pattern). The kernel never materializes the (pair, hit)
    // rows, but its OUTPUT — pairs with >= h prefix hits — still feeds
    // the array-carrying verify join, and on a saturated space the
    // chance-pair count at the default h is itself a scale disease:
    // measured at sf100 (λ = est/(nD·nR) = 0.053, nD·nR = 2.2·10^12),
    // h = 3 admits ~5·10^7 chance pairs whose verify join shipped ~1 KB
    // of shingle arrays each and FILLED THE DISK, while at sf10 the same
    // λ yields ~10^5 pairs — invisible. So h is sized from the measured
    // saturation, est = Σ df over the delta's prefix rows: the smallest h
    // whose expected chance-candidate count (Poisson first term
    // nD·nR·λ^h/h!, λ doubled as a safety factor for prefix growth and
    // model thinness, e^{-λ} dropped) fits a verify budget of
    // max(2M, 4·nD) pairs. Recall stays EXACTLY 1 at every h: the prefix
    // lengthens with h and the per-side min(h, ceil(t·n)) caps keep the
    // one-sided theorem intact — a larger h only tightens a chance-pair
    // filter whose survivors are exact-verified anyway.
    val pst = dPref.agg(sum(col("df")).as("s")).head()
    val estJoinRows = if (pst.isNullAt(0)) 0L else pst.getLong(0)
    val jEff =
      if (estJoinRows == 0L) j
      else {
        val lambda = 2.0 * estJoinRows.toDouble /
          (math.max(dRows, 1L).toDouble * math.max(nReps, 1L).toDouble)
        val candCap = math.max(2e6, 4.0 * dRows.toDouble)
        def chance(k: Int): Double = {
          var t = dRows.toDouble * nReps.toDouble
          var i = 1
          while (i <= k) { t = t * lambda / i; i += 1 }
          t
        }
        var h = j
        while (h < 16 && chance(h) > candCap) h += 1
        h
      }
    val kPref = if (jEff == j) dPref else prefFor(jEff).pinned()
    val nFp = size(col("shl_rk"))
    // the kernel pass is the probe's compute-heavy stage and its input
    // (rep_id, shl_rk) is bytes-small next to its work — without the
    // explicit spread it runs at file-split parallelism (measured 4 of 32
    // cores at sf10, the io.Layout rule)
    val cand = Prefix.sharded(kPref.select(col("fp"), col("d_rep"), col("d_nfp")),
        shardPostings) { c =>
      Layout.spread(reps.select(col("rep_id"), col("shl_rk")))
        .select(col("rep_id"),
          explode(gf.prefixCandidates(
            slice(col("shl_rk"), lit(1), Prefix.prefixLen(nFp, threshold, jEff).cast("int")), nFp,
            threshold, jEff, c.fps, c.offsets, c.keys, c.keyIds, c.keySizes)).as("d_rep"))
    }
    // verify joins keep the index on the streamed side too: the candidate
    // set is delta-bounded after the hit filter, the reps table is
    // corpus-sized
    val verified = reps.select(col("rep_id"), col("shl"))
      .join(deltaSide(cand.candidates), Seq("rep_id"))
      .join(deltaSide(dSh.select(col("d_rep"), col("d_shl"))), Seq("d_rep"))
      .withColumn("__jraw", gf.jaccardSortedFps(col("d_shl"), col("shl")))
      .where(col("__jraw") >= threshold)
      .select(col("d_rep"), col("rep_id"), col("__jraw"))
    val nearM = verified
      .groupBy("d_rep")
      // min over (rep_id, score) structs = the min-id match AND its score
      .agg(min(struct(col("rep_id"), col("__jraw"))).as("m"))
      .select(col("d_rep"), col("m.rep_id").as("near_match"),
        round(col("m.__jraw"), 4).as("near_j"))

    val out = groups.select(col("rep_id").as("d_rep"), col("members"))
      .join(deltaSide(exactM), Seq("d_rep"), "left")
      .join(deltaSide(nearM), Seq("d_rep"), "left")
      .select(
        explode(col("members")).as(idCol),
        when(col("exact_match").isNotNull, lit("exact"))
          .when(col("near_match").isNotNull, lit("near"))
          .otherwise(lit("new")).as("status"),
        coalesce(col("exact_match"), col("near_match")).as("match_id"),
        when(col("exact_match").isNotNull, lit(1.0))
          .otherwise(col("near_j")).as("jaccard"))
    (out, cand, verified)
  }

  /** Persistent EMBEDDING near-dup index — the embedding-space twin of
    * [[dedupIndexBuild]] (4th member of the persistent-index family):
    * index the corpus vectors once, probe each arriving delta for exact
    * and cosine-near duplicates without ever re-scanning vector pairs.
    *
    * Two tables: the payload (vec per row, hash-partitioned by id for
    * append routing) and the LSH postings (one row per (table, bucket)
    * assignment under `tables` hyperplane tables of `bits` bits — the
    * one banding of the in-memory LSH family,
    * [[Similarity.hyperplaneBands]], so the full-recall sizing rule
    * carries over; its `table` is stored as `tb`). Postings carry only
    * (bucket, id): the corpus vectors are stored ONCE and fetched only
    * for candidate-verified ids. */
  def embIndexBuild(
      corpus: DataFrame,
      vecCol: String,
      idCol: String,
      tableName: String,
      bits: Int = 3,
      tables: Int = 48,
      numParts: Int = 16): Unit = {
    requireLongId(corpus, idCol)
    val spark = corpus.sparkSession
    import spark.implicits._
    Warehouse.dropTables(spark, Seq(tableName, s"${tableName}_lsh", s"${tableName}_meta"))
    val vecs = corpus
      .where(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("vec_id"), col(vecCol).as("embedding"))
    vecs
      .withColumn("ib", pmod(hash(col("vec_id")), lit(numParts)))
      .write.mode("overwrite").partitionBy("ib").format("parquet")
      .saveAsTable(tableName)
    vecs
      .select(col("vec_id"), explode(Similarity.hyperplaneBands(col("embedding"), bits, tables)).as("b"))
      .select(col("vec_id"), col("b.table").as("tb"), col("b.bucket").as("bucket"))
      .withColumn("bb", pmod(hash(col("tb"), col("bucket")), lit(numParts)))
      .write.mode("overwrite").partitionBy("bb").format("parquet")
      .saveAsTable(s"${tableName}_lsh")
    Seq((bits, tables, numParts)).toDF("bits", "tables", "num_parts")
      .write.mode("overwrite").format("parquet").saveAsTable(s"${tableName}_meta")
  }

  /** Probe the persistent embedding index with a delta: per delta vector,
    * status exact (bit-identical corpus vector exists) / near (some corpus
    * vector with cosine >= threshold meets it in an LSH bucket) / new,
    * plus the min-id matching corpus vector.
    *
    * Scale shape, mirroring [[dedupIndexProbe]]'s lessons: delta-derived
    * join sides broadcast so the corpus-sized tables are scanned ONCE
    * each, column-pruned, and never shuffled; exact matches are
    * anti-joined out of candidacy up front (a re-crawl delta is mostly
    * exact); candidate (delta, corpus) pairs are deduped before the
    * single payload fetch that feeds the cosine verify, so the fetch is
    * bounded by distinct candidates, not bucket co-occurrence.
    *
    * SIZE GUARDS are per frame, because the broadcast sides do NOT scale
    * together: the exploded bucket frame is `tables`× the delta, and the
    * candidate set is bucket-occupancy-bounded (≈ delta × tables ×
    * corpus/2^bits rows), not delta-bounded. r9's single raw-delta-bytes
    * guard broadcast a ~40M-row candidate set at the 100× bench and died
    * with "Not enough memory to build and broadcast" — the candidate→
    * payload join therefore carries no static hint at all and lets AQE
    * pick broadcast-vs-shuffle from the candidate set's MEASURED size
    * (tiny re-crawl deltas still get the broadcast + partition-pruned
    * fetch; corpus-scale deltas degrade to an ordinary shuffled join,
    * which at that size is the right plan). */
  def embIndexProbe(
      delta: DataFrame,
      vecCol: String,
      idCol: String,
      tableName: String,
      threshold: Double = 0.4,
      maxBroadcastBytes: Long = 256L << 20): DataFrame = {
    requireLongId(delta, idCol)
    val spark = delta.sparkSession
    val meta = spark.table(s"${tableName}_meta").head()
    val (bits, tables, numParts) = (meta.getInt(0), meta.getInt(1), meta.getInt(2))
    val payload = spark.table(tableName)
    val lsh = spark.table(s"${tableName}_lsh")

    val d = delta
      .where(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("d_id"), col(vecCol).as("d_vec"))
      .pinned()
    val st = d.agg(count(lit(1)).as("c"), sum(size(col("d_vec"))).as("f")).head()
    val dRows = st.getLong(0)
    val dFloats = if (st.isNullAt(1)) 0L else st.getLong(1)
    // per-frame footprint estimates (~72 B/hash-relation entry + payload)
    val vecBytes = dRows * 72L + dFloats * 8L // (id, vector) rows
    val idBytes = dRows * 88L // (id, match) rows
    val bucketBytes = dRows * tables.toLong * 96L // exploded (tb, bucket) rows
    def side(df: DataFrame, estBytes: Long): DataFrame =
      if (estBytes <= maxBroadcastBytes) broadcast(df) else df

    // exact: one column-pruned corpus scan, array-equality hash join
    // against the broadcast delta — no shuffle of the corpus side
    val exactM = payload
      .join(side(d.select(col("d_id"), col("d_vec").as("embedding")), vecBytes),
        Seq("embedding"))
      .groupBy("d_id").agg(min(col("vec_id")).as("exact_match"))
      .pinned()

    // near candidacy: delta bucket assignments (the build's banding)
    // meet the postings on (bb, tb, bucket); candidates dedup once before
    // the payload fetch
    val dNear = d.join(side(exactM.select(col("d_id")), idBytes), Seq("d_id"), "left_anti")
    val dBuckets = dNear
      .select(col("d_id"), explode(Similarity.hyperplaneBands(col("d_vec"), bits, tables)).as("b"))
      .select(col("d_id"), col("b.table").as("tb"), col("b.bucket").as("bucket"))
      .withColumn("bb", pmod(hash(col("tb"), col("bucket")), lit(numParts)))
    val cand = lsh
      .join(side(dBuckets, bucketBytes), Seq("bb", "tb", "bucket"))
      .select(col("d_id"), col("vec_id"))
      .dropDuplicates("d_id", "vec_id")
      .withColumn("ib", pmod(hash(col("vec_id")), lit(numParts)))
    // verify: ONE payload fetch bounded by distinct candidates, cosine
    // threshold fused. The candidate side is deliberately UN-hinted (see
    // scaladoc): its size is occupancy-bounded, not delta-bounded, so AQE
    // decides broadcast-vs-shuffle from its measured size at runtime.
    val nearM = payload
      .join(cand, Seq("ib", "vec_id"))
      .join(side(d, vecBytes), Seq("d_id"))
      .where(gf.cosine(col("embedding"), col("d_vec")) >= threshold)
      .groupBy("d_id").agg(min(col("vec_id")).as("near_match"))

    d.select(col("d_id"))
      .join(side(exactM, idBytes), Seq("d_id"), "left")
      .join(side(nearM, idBytes), Seq("d_id"), "left")
      .select(
        col("d_id").as(idCol),
        when(col("exact_match").isNotNull, lit("exact"))
          .when(col("near_match").isNotNull, lit("near"))
          .otherwise(lit("new")).as("status"),
        coalesce(col("exact_match"), col("near_match")).as("match_id"))
  }

  /** Driver-side spherical k-means: assign by max cosine, update by
    * (unnormalized) mean — empty clusters retain their centroid. */
  private def sphericalKmeans(
      sample: Array[Array[Double]],
      seeds: Array[Array[Double]],
      iters: Int): Array[Array[Double]] = {
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val dim = seeds.head.length
    var centroids = seeds.map(_.clone)
    var iter = 0
    while (iter < iters) {
      val sums = Array.fill(centroids.length)(new Array[Double](dim))
      val counts = new Array[Long](centroids.length)
      sample.foreach { v =>
        var best = 0; var bestC = Double.NegativeInfinity
        var c = 0
        while (c < centroids.length) {
          val s = cos(v, centroids(c))
          if (s > bestC) { bestC = s; best = c }
          c += 1
        }
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
        counts(best) += 1
      }
      centroids = centroids.indices.map { c =>
        if (counts(c) == 0) centroids(c)
        else sums(c).map(_ / counts(c))
      }.toArray
      iter += 1
    }
    centroids
  }
}
