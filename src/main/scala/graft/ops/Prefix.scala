package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.Checkpointing.PinSyntax

/** The rare-first prefix filter (AllPairs, Bayardo et al. WWW'07; PPJoin,
  * Xiao et al. WWW'08) behind every exact set-similarity candidacy: the
  * n-gram Jaccard self-join, the persistent dedup index's build and probe,
  * the decontamination eval probe and the fuzzy string join's q-gram
  * signatures.
  *
  *  - Canonical order: each key's elements ascending by (global document
  *    frequency, element), rarest first, so hot elements fall OUTSIDE
  *    prefixes and post few postings.
  *  - J(A,B) >= t forces |A∩B| >= ceil(t·|A|) and >= ceil(t·|B|). The j
  *    smallest common elements (canonical order) then sit within the first
  *    |X| - ceil(t·|X|) + j elements of BOTH sides, since each side has at
  *    least ceil(t·|X|) - j common elements after them. Requiring
  *    min(j_A, j_B) shared prefix elements, with j_X = min(j, ceil(t·|X|))
  *    for tiny sets, has recall EXACTLY 1; j kills the pairs that share
  *    only a few noise elements. One-sided: B's prefix alone holds j_B
  *    common elements, so a probe may bring its whole set instead of its
  *    prefix and needs no df order.
  *  - ceil(t·x) is computed as ceil(t·x − 1e-9): a float rounding UP to
  *    the next integer would shorten prefixes and raise hit requirements
  *    (a recall bug); rounding DOWN only admits candidates.
  *
  * Hits are counted in one place, [[graft.functions.gf.prefixCandidates]]:
  * the indexed side's prefix postings ride the plan as a [[Csr]] and each
  * probing row counts its hits task-locally, so no (pair, hit) row is ever
  * shuffled. [[sharded]] cuts the postings into K = ceil(postings /
  * [[ShardPostings]]) shards by key hash (each key's postings whole in one
  * shard, so its count is complete in one pass) and runs one kernel pass
  * per shard, pinned before the next CSR is collected.
  *
  * Elements missing from the df table (absent from the other side's
  * vocabulary, so they cannot match) drop out of the ranking; prefix
  * lengths still take the FULL set size |X|, so dropping them only moves
  * common elements earlier and stays recall-safe. */
object Prefix {

  /** Default hit bound j: true matches share ceil(t·|X|) >> 3 elements,
    * while chance pairs on a saturated shingle space fall ~400x per unit of
    * j (Poisson tail), so j = 3 leaves thousands where j = 2 left millions. */
  private[graft] val MinHits = 3

  /** Prefix postings per kernel pass of [[sharded]]. At this bound the
    * collect, the CSR build and a probe pass over it ran in a 1 GB
    * `local[4]` JVM, every task holding its own deserialized CSR, with
    * the peak used heap in `PERF_pr17.json` `shard_bound`. */
  private[graft] val ShardPostings = 2000000L

  /** (elem, df): the number of `rows` carrying each element. */
  private[graft] def docFreq(rows: DataFrame, elem: String): DataFrame =
    rows.groupBy(elem).agg(count(lit(1)).as("df"))

  /** `rows` (keys..., elem) with each element's `df` and its 0-based rank
    * `rk` among its key's elements in the canonical rare-first order.
    * `dfs` holds (elem, df), and elements missing from it drop out. A
    * broadcast hint on `rows` keeps the join's build side there. */
  private[graft] def rareFirst(
      rows: DataFrame, keys: Seq[String], elem: String, dfs: DataFrame): DataFrame =
    rows.join(dfs.select(col(elem), col("df")), Seq(elem))
      .withColumn("rk", row_number().over(
        Window.partitionBy(keys.map(col): _*).orderBy(col("df"), col(elem))) - 1)

  /** The [[rareFirst]] rows of each key's first `len` elements; `len` may
    * read the key columns. */
  private[graft] def prefix(
      rows: DataFrame, keys: Seq[String], elem: String, dfs: DataFrame, len: Column): DataFrame =
    rareFirst(rows, keys, elem, dfs).where(col("rk") < len)

  /** ceil(t·|X|): the fewest elements a J >= t partner of a set of size
    * `n` shares with it. */
  private def minOverlap(n: Column, t: Double): Column = ceil(n.cast("double") * t - 1e-9)

  /** min(j, ceil(t·|X|)): the shared prefix elements a J >= t partner of
    * a set of size `n` is guaranteed; a pair must reach the smaller of its
    * two sides' bounds. */
  private def hitBound(n: Column, t: Double, j: Int): Column =
    least(lit(j.toLong), minOverlap(n, t))

  /** The prefix length |X| - ceil(t·|X|) + min(j, ceil(t·|X|)) of a set of
    * size `n` under threshold `t` and hit bound `j`. */
  private[graft] def prefixLen(n: Column, t: Double, j: Int): Column =
    n - minOverlap(n, t) + hitBound(n, t, j)

  /** [[prefixLen]] of a driver-side set of size `n`. */
  private def prefixLen(n: Int, t: Double, j: Int): Int = {
    val o = math.ceil(n * t - 1e-9).toInt
    n - o + math.min(j, o)
  }

  /** Plan-embeddable CSR of prefix postings, the probe side of
    * [[graft.functions.gf.prefixCandidates]]: `fps` ascending; the keys of
    * fps(i) at keys[offsets(i) until offsets(i+1)], stored as INDEXES into
    * the id-sorted `keyIds`/`keySizes` (the kernel's run-scan then reads a
    * key's id and full set size in O(1)). */
  private[graft] case class Csr(
      fps: Array[Long], offsets: Array[Int], keys: Array[Int],
      keyIds: Array[Long], keySizes: Array[Int])

  /** Bytes of a [[Csr]]'s arrays: one copy, as each probing task holds. */
  private def bytes(c: Csr): Long =
    8L * c.fps.length + 4L * c.offsets.length + 4L * c.keys.length + 12L * c.keyIds.length

  /** One [[sharded]] candidacy: the union of its passes' rows, the
    * postings it indexed, the largest pass's [[bytes]] and the pass count. */
  private[graft] case class Sharded(
      candidates: DataFrame, postings: Long, csrBytes: Long, shards: Int)

  /** The union of `pass` over the [[Csr]] of each shard of `postings`
    * ((fp: long, key: long, |X|: int) rows, pinned by the caller: they are
    * counted once and read once per shard). K = ceil(postings / `bound`)
    * shards by key hash. A pass is pinned before the next shard is
    * collected, so one CSR is live at a time; the last pass stays in the
    * plan and runs with its consumer. K = 1 runs the same code. */
  private[graft] def sharded(postings: DataFrame, bound: Long)(pass: Csr => DataFrame): Sharded = {
    val n = postings.count()
    val k = math.max(1L, (n + bound - 1) / bound).toInt
    val key = xxhash64(col(postings.columns(1)))
    var maxBytes = 0L
    val passes = (0 until k).map { s =>
      val c = collectCsr(postings.where(pmod(key, lit(k.toLong)) === s))
      maxBytes = math.max(maxBytes, bytes(c))
      if (s < k - 1) pass(c).pinned() else pass(c)
    }
    Sharded(passes.reduce(_ unionByName _), n, maxBytes, k)
  }

  /** The [[Csr]] of the (fp: long, key: long, |X|: int) prefix postings
    * in `postings`, collected to the driver as primitive arrays, one
    * triple per partition (a collected `Row` per posting held about
    * 120 B of driver heap, the arrays hold 20 B). */
  private[graft] def collectCsr(postings: DataFrame): Csr = {
    val parts = postings.queryExecution.toRdd.mapPartitions { rows =>
      val fp = Array.newBuilder[Long]
      val key = Array.newBuilder[Long]
      val size = Array.newBuilder[Int]
      rows.foreach { r => fp += r.getLong(0); key += r.getLong(1); size += r.getInt(2) }
      Iterator((fp.result(), key.result(), size.result()))
    }.collect()
    csr(Array.concat(parts.map(_._1): _*), Array.concat(parts.map(_._2): _*),
      Array.concat(parts.map(_._3): _*))
  }

  /** The [[Csr]] of small in-memory (key, distinct elements) sets, ranked
    * and cut on the driver with no Spark job: [[prefix]]'s rare-first
    * order under the sets' own document frequencies and [[prefixLen]]'s
    * rule. For an eval battery, collected once and probed by every row. */
  private[graft] def localCsr(sets: Array[(Long, Array[Long])], t: Double, j: Int): Csr = {
    val df = new java.util.HashMap[Long, Int]()
    sets.foreach(_._2.foreach(e => df.merge(e, 1, Integer.sum _)))
    val n = sets.iterator.map(s => prefixLen(s._2.length, t, j)).sum
    val fp = new Array[Long](n)
    val key = new Array[Long](n)
    val size = new Array[Int](n)
    var i = 0
    sets.foreach { case (k, elems) =>
      elems.sortBy(e => (df.get(e).intValue, e)).iterator.take(prefixLen(elems.length, t, j))
        .foreach { e => fp(i) = e; key(i) = k; size(i) = elems.length; i += 1 }
    }
    csr(fp, key, size)
  }

  /** The [[Csr]] of prefix postings given as parallel (fp, key, |X|)
    * arrays. Primitive arrays throughout: fps and keys map to their
    * sorted indexes, and one sort of (fp index << 32 | key index) longs
    * orders the postings. */
  private def csr(fp: Array[Long], key: Array[Long], size: Array[Int]): Csr = {
    val n = fp.length
    val fps = Dedup.sortedDistinct(fp.clone())
    val keyIds = Dedup.sortedDistinct(key.clone())
    val keySizes = new Array[Int](keyIds.length)
    val packed = new Array[Long](n)
    var i = 0
    while (i < n) {
      val k = java.util.Arrays.binarySearch(keyIds, key(i))
      keySizes(k) = size(i)
      packed(i) = (java.util.Arrays.binarySearch(fps, fp(i)).toLong << 32) | k
      i += 1
    }
    java.util.Arrays.sort(packed)
    val offsets = new Array[Int](fps.length + 1)
    val keys = new Array[Int](n)
    i = 0
    while (i < n) {
      offsets((packed(i) >>> 32).toInt + 1) += 1
      keys(i) = packed(i).toInt
      i += 1
    }
    i = 0
    while (i < fps.length) { offsets(i + 1) += offsets(i); i += 1 }
    Csr(fps, offsets, keys, keyIds, keySizes)
  }
}
