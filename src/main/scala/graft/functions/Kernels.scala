package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

import java.util.regex.Pattern

/** One-pass JVM kernels behind graft's kernel-call expression (`gf`).
  *
  * These exist because Spark's higher-order functions (transform/aggregate/
  * zip_with) evaluate interpreted, per element, with boxing — measured ~2 ms
  * per 300-char document for n-gram shingling. Each kernel here does the
  * whole computation in one static call that whole-stage codegen invokes
  * directly, keeping the hot path allocation-light. All kernels are pure
  * and deterministic (no per-JVM seeds), so results are stable across
  * executors and retries — a correctness requirement at cluster scale.
  */
object Kernels {

  private val ws = Pattern.compile("\\s+")

  /** Lower-cased whitespace tokens (empty tokens dropped). Matches the
    * normalize-then-split semantics of TextAnalysis.normalize. */
  def tokenize(text: UTF8String): Array[String] = {
    // Locale.ROOT: Spark's lower() is locale-independent; a default-locale
    // toLowerCase would break the tokenize==normalize equivalence the
    // canonical dedup paths rely on (e.g. Turkish dotless-i JVMs)
    val s = text.toString.toLowerCase(java.util.Locale.ROOT)
    val raw = ws.split(s)
    // leading whitespace yields one leading empty token — drop it
    var n = 0
    var i = 0
    while (i < raw.length) { if (!raw(i).isEmpty) n += 1; i += 1 }
    if (n == raw.length) raw
    else {
      val out = new Array[String](n)
      var j = 0
      i = 0
      while (i < raw.length) { if (!raw(i).isEmpty) { out(j) = raw(i); j += 1 }; i += 1 }
      out
    }
  }

  /** Distinct word n-gram shingles, space-joined, first-occurrence order. */
  def shingles(text: UTF8String, n: Int): ArrayData = {
    val toks = tokenize(text)
    val m = toks.length - n + 1
    if (m <= 0) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[String](m * 2)
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i < m) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = UTF8String.fromString(it.next()); k += 1 }
    new GenericArrayData(out)
  }

  /** ALL word n-grams in document order, space-joined, with multiplicity
    * (unlike [[shingles]], which distincts) — the corpus-frequency
    * formulation: exploding this and counting gives true occurrence
    * counts, the vocabulary/contamination-analysis primitive. */
  def ngramsAll(text: UTF8String, n: Int): ArrayData = {
    val toks = tokenize(text)
    val m = toks.length - n + 1
    if (m <= 0) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](m)
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i < m) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      out(i) = UTF8String.fromString(sb.toString)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** FNV-1a 64-bit over a string's UTF-16 chars — fast, deterministic,
    * dependency-free 64-bit token hash. */
  def fnv1a64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) {
      h ^= s.charAt(i)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  // Mersenne prime 2^61-1: the classic universal-hash modulus for minhash
  // permutations h_i(x) = (a_i * x + b_i) mod p.
  private val MersennePrime = (1L << 61) - 1

  /** Deterministic permutation coefficients (SplitMix64 from a fixed seed). */
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  // permutation coefficients depend only on k — computed once per JVM,
  // not per row (they were per-row Array.tabulate allocations before)
  private val minhashCoefCache =
    new java.util.concurrent.ConcurrentHashMap[Int, (Array[Long], Array[Long])]()
  private def minhashCoefs(k: Int): (Array[Long], Array[Long]) =
    minhashCoefCache.computeIfAbsent(k, kk =>
      // a odd (never 0 mod p), b arbitrary — fixed per permutation index
      (Array.tabulate(kk)(p => mix64(2L * p) | 1L),
       Array.tabulate(kk)(p => mix64(2L * p + 1))))

  /** k-permutation MinHash signature over word n-gram shingles.
    * One pass: per shingle, one 64-bit hash, then k affine permutations. */
  def minhashSig(text: UTF8String, n: Int, k: Int): ArrayData = {
    val toks = tokenize(text)
    val m = toks.length - n + 1
    val sig = new Array[Long](k)
    java.util.Arrays.fill(sig, Long.MaxValue)
    if (m > 0) {
      val (as, bs) = minhashCoefs(k)
      val sb = new java.lang.StringBuilder(64)
      var i = 0
      while (i < m) {
        sb.setLength(0)
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(toks(i + j))
          j += 1
        }
        val h = fnv1a64(sb.toString) & MersennePrime
        var p = 0
        while (p < k) {
          val v = Math.floorMod(as(p) * h + bs(p), MersennePrime)
          if (v < sig(p)) sig(p) = v
          p += 1
        }
        i += 1
      }
    }
    val out = new Array[Any](k)
    var q = 0
    while (q < k) { out(q) = sig(q); q += 1 }
    new GenericArrayData(out)
  }

  /** 64-bit SimHash over word unigrams weighted by term frequency. */
  def simhash64(text: UTF8String): Long = {
    val toks = tokenize(text)
    val v = new Array[Int](64)
    var i = 0
    while (i < toks.length) {
      val h = fnv1a64(toks(i))
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) v(b) += 1 else v(b) -= 1
        b += 1
      }
      i += 1
    }
    var fp = 0L
    var b = 0
    while (b < 64) {
      if (v(b) > 0) fp |= (1L << b)
      b += 1
    }
    fp
  }

  /** Feature-hash embedding: tokens hashed into `dim` signed buckets,
    * L2-normalized. Deterministic stand-in for a neural embedder
    * (reference: sutro/templates/embed.py:9). */
  def hashEmbed(text: UTF8String, dim: Int): ArrayData = {
    val toks = tokenize(text)
    val acc = new Array[Double](dim)
    var i = 0
    while (i < toks.length) {
      val h = fnv1a64(toks(i))
      val bucket = Math.floorMod(h, dim.toLong).toInt
      val sign = if (((h >>> 62) & 1L) == 1L) -1.0 else 1.0
      acc(bucket) += sign
      i += 1
    }
    var ss = 0.0
    var j = 0
    while (j < dim) { ss += acc(j) * acc(j); j += 1 }
    val norm = if (ss == 0.0) 1.0 else math.sqrt(ss)
    val out = new Array[Any](dim)
    j = 0
    while (j < dim) { out(j) = (acc(j) / norm).toFloat; j += 1 }
    new GenericArrayData(out)
  }

  /** Cosine similarity of two float vectors (double accumulation, input
    * order — bit-stable across engines that do the same). */
  def cosineF(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Dot product of two float vectors in double. */
  def dotF(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    var dot = 0.0
    var i = 0
    while (i < n) {
      dot += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    dot
  }

  /** L2 norm of a float vector in double — computed ONCE per row so pair
    * loops can test `dot >= t * |a| * |b|` instead of recomputing both
    * norms inside every cosine (3x the multiply-adds per pair). */
  def l2NormF(a: ArrayData): Double = {
    val n = a.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      s += x * x
      i += 1
    }
    math.sqrt(s)
  }

  /** Fraction of positions where two equal-length long signatures agree —
    * the MinHash similarity estimate. */
  def sigAgreement(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    if (n == 0) return 0.0
    var eq = 0
    var i = 0
    while (i < n) {
      if (a.getLong(i) == b.getLong(i)) eq += 1
      i += 1
    }
    eq.toDouble / n
  }

  /** All id pairs within one LSH bucket whose cosine >= minCos, emitted as
    * (min_id, max_id) structs. One pass over the bucket: vectors are
    * decoded and norms precomputed once, then the O(b²) pair loop does a
    * dot product each — no candidate-pair materialization, no shuffle of
    * non-survivors. `items` is array<struct<id:long, vec:array<float>>>
    * from a per-bucket collect_list. */
  def bucketPairsCos(items: ArrayData, minCos: Double): ArrayData = {
    val n = items.numElements()
    if (n < 2) return new GenericArrayData(Array.empty[Any])
    val ids = new Array[Long](n)
    val vs = new Array[Array[Float]](n)
    val norms = new Array[Double](n)
    var i = 0
    while (i < n) {
      val row = items.getStruct(i, 2)
      ids(i) = row.getLong(0)
      val v = row.getArray(1).toFloatArray()
      vs(i) = v
      var ss = 0.0
      var j = 0
      while (j < v.length) { ss += v(j).toDouble * v(j).toDouble; j += 1 }
      norms(i) = math.sqrt(ss)
      i += 1
    }
    val out = new scala.collection.mutable.ArrayBuffer[Any]()
    var a = 0
    while (a < n) {
      val va = vs(a)
      var b = a + 1
      while (b < n) {
        val vb = vs(b)
        var dot = 0.0
        var j = 0
        while (j < va.length) { dot += va(j).toDouble * vb(j).toDouble; j += 1 }
        val denom = norms(a) * norms(b)
        val cos = if (denom == 0.0) 0.0 else dot / denom
        if (cos >= minCos) {
          val lo = if (ids(a) < ids(b)) ids(a) else ids(b)
          val hi = if (ids(a) < ids(b)) ids(b) else ids(a)
          out += org.apache.spark.sql.catalyst.InternalRow(lo, hi)
        }
        b += 1
      }
      a += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Index of the nearest centroid (squared-L2) for a float vector.
    * Ties resolve to the lowest index — deterministic across executors. */
  def nearestCell(v: ArrayData, cs: Array[Array[Double]]): Int = {
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

  /** Index of the max-cosine centroid for a float vector — spherical
    * cluster assignment (SemDeDup). Cosine accumulates sequentially in
    * double (the cross-engine-reproducible order); ties resolve to the
    * lowest index — deterministic across executors. */
  def nearestCos(v: ArrayData, cs: Array[Array[Double]]): Int = {
    var best = 0
    var bestC = Double.NegativeInfinity
    var c = 0
    while (c < cs.length) {
      val cd = cs(c)
      val n = v.numElements()
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < n) {
        val x = v.getFloat(i).toDouble
        val y = cd(i)
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
      val s = if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
      if (s > bestC) { bestC = s; best = c }
      c += 1
    }
    best
  }

  /** The `nprobe` nearest centroid indices, ascending by distance (ties ->
    * lowest index): the IVF probe list for a query vector. */
  def probeCells(v: ArrayData, cs: Array[Array[Double]], nprobe: Int): ArrayData = {
    val m = cs.length
    val d = new Array[Double](m)
    var c = 0
    while (c < m) { d(c) = dist2(v, cs(c)); c += 1 }
    val n = math.min(nprobe, m)
    val out = new Array[Any](n)
    val taken = new Array[Boolean](m)
    var k = 0
    while (k < n) {
      var best = -1
      var bestD = Double.MaxValue
      c = 0
      while (c < m) {
        if (!taken(c) && d(c) < bestD) { bestD = d(c); best = c }
        c += 1
      }
      taken(best) = true
      out(k) = best
      k += 1
    }
    new GenericArrayData(out)
  }

  private def dist2(v: ArrayData, c: Array[Double]): Double = {
    val n = v.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      val x = v.getFloat(i).toDouble - c(i)
      s += x * x
      i += 1
    }
    s
  }

  /** Random-hyperplane LSH bucket: `bits` sign bits of projections onto
    * deterministic pseudo-random hyperplanes (SplitMix64-generated, seeded
    * by bit index x dimension — no stored model, identical on every
    * executor). */
  def hyperplaneBucket(v: ArrayData, bits: Int, seed: Long): Long = {
    val n = v.numElements()
    var bucket = 0L
    var b = 0
    while (b < bits) {
      var dot = 0.0
      var i = 0
      while (i < n) {
        // deterministic N(0,1)-ish weight from a hash: map to [-1,1)
        val h = mix64(seed + b.toLong * 131071L + i.toLong)
        val w = (h >> 11).toDouble / (1L << 52).toDouble // [-1, 1)
        dot += v.getFloat(i).toDouble * w
        i += 1
      }
      if (dot >= 0) bucket |= (1L << b)
      b += 1
    }
    bucket
  }

  // line trimming for repetitionStats: explicit char class (space, tab,
  // CR, FF) rather than String.trim, so the DuckDB oracle can mirror it
  // with regexp_replace('^[ \t\r\f]+|[ \t\r\f]+$')
  private def isLineWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\r' || c == '\f'

  /** Gopher-style repetition statistics in one pass over the document:
    * `[n_lines, dup_line_frac, dup_line_char_frac, top_bigram_frac]` as
    * array<double>.
    *
    *  - lines = '\n'-separated, trimmed, empties dropped;
    *    dup_line_frac     = (instances - distinct) / instances
    *    dup_line_char_frac = chars in beyond-first instances / all line chars
    *  - words = whitespace runs (case-sensitive, empties dropped);
    *    top_bigram_frac   = occurrences of the most frequent adjacent word
    *                        pair / total adjacent pairs
    *
    * All four are ratios of exact integers, so the IEEE divisions are
    * bit-identical on any engine computing the same counts (no rounding
    * needed for oracle comparison). High values on any of them are the
    * classic boilerplate/spam signals used for corpus filtering. */
  def repetitionStats(text: UTF8String): ArrayData = {
    val s = text.toString
    // --- lines, one scan ---
    val lineCounts = new java.util.HashMap[String, Integer]()
    var nLines = 0L
    var start = 0
    val L = s.length
    var i = 0
    while (i <= L) {
      if (i == L || s.charAt(i) == '\n') {
        var a = start
        var b = i
        while (a < b && isLineWs(s.charAt(a))) a += 1
        while (b > a && isLineWs(s.charAt(b - 1))) b -= 1
        if (b > a) {
          nLines += 1
          lineCounts.merge(s.substring(a, b), Integer.valueOf(1), (x, y) => Integer.valueOf(x.intValue + y.intValue))
        }
        start = i + 1
      }
      i += 1
    }
    var distinctLines = 0L
    var totalLineChars = 0L
    var dupLineChars = 0L
    val lit = lineCounts.entrySet().iterator()
    while (lit.hasNext) {
      val e = lit.next()
      val cnt = e.getValue.intValue()
      // codepoints, not UTF-16 units — matches engines that len() by
      // character (DuckDB) for supplementary-plane text
      val len = e.getKey.codePointCount(0, e.getKey.length)
      distinctLines += 1
      totalLineChars += cnt.toLong * len
      dupLineChars += (cnt - 1).toLong * len
    }
    val dupLineFrac =
      if (nLines == 0) 0.0 else (nLines - distinctLines).toDouble / nLines
    val dupLineCharFrac =
      if (totalLineChars == 0) 0.0 else dupLineChars.toDouble / totalLineChars
    // --- adjacent word-pair counts, one scan (case-sensitive words) ---
    val raw = ws.split(s)
    var wn = 0
    i = 0
    while (i < raw.length) { if (!raw(i).isEmpty) wn += 1; i += 1 }
    var topBigramFrac = 0.0
    if (wn >= 2) {
      val words = new Array[String](wn)
      var j = 0
      i = 0
      while (i < raw.length) { if (!raw(i).isEmpty) { words(j) = raw(i); j += 1 }; i += 1 }
      val bigramCounts = new java.util.HashMap[String, Integer]()
      var maxCnt = 0
      i = 0
      while (i < wn - 1) {
        val merged = bigramCounts.merge(words(i) + " " + words(i + 1), Integer.valueOf(1), (x, y) => Integer.valueOf(x.intValue + y.intValue))
        if (merged.intValue > maxCnt) maxCnt = merged.intValue
        i += 1
      }
      topBigramFrac = maxCnt.toDouble / (wn - 1)
    }
    new GenericArrayData(Array[Any](
      nLines.toDouble, dupLineFrac, dupLineCharFrac, topBigramFrac))
  }

  // char-bigram code space: ASCII-folded CODEPOINTS (min(cp, 127)), so the
  // model is a fixed 128x128 table with bucket 127 absorbing everything
  // non-ASCII. Iterating codepoints (not UTF-16 units) keeps bigram counts
  // identical to engines that index by character (DuckDB text[i]) even for
  // supplementary-plane text.
  final val BigramVocab = 128

  /** Per-document char-bigram counts in ASCENDING code order, one pass:
    * each element packs (code << 32) | count with code = a*128 + b. The
    * fixed iteration order is what makes every downstream float
    * accumulation engine-reproducible. */
  def charBigramCodes(text: UTF8String): java.util.TreeMap[Integer, Integer] = {
    val s = text.toString
    val m = new java.util.TreeMap[Integer, Integer]()
    var i = 0
    var prev = -1
    while (i < s.length) {
      val cp = s.codePointAt(i)
      val cur = math.min(cp, BigramVocab - 1)
      if (prev >= 0) {
        m.merge(Integer.valueOf(prev * BigramVocab + cur), Integer.valueOf(1),
          (x, y) => Integer.valueOf(x.intValue + y.intValue))
      }
      prev = cur
      i += Character.charCount(cp)
    }
    m
  }

  /** Regroup a document's whitespace-separated words into lines of `k`
    * words (single-space joined, '\n' separated) — the deterministic
    * line-structure derivation the line-based catalog entries share with
    * their SQL oracles. One pass; the transform/sequence/slice/array_join
    * HOF formulation of the same thing measured ~70us/doc interpreted. */
  def regroupLines(text: UTF8String, k: Int): UTF8String = {
    val s = text.toString
    val raw = ws.split(s.trim)
    val sb = new java.lang.StringBuilder(s.length + 8)
    var inLine = 0
    var i = 0
    while (i < raw.length) {
      if (!raw(i).isEmpty) {
        if (inLine == k) { sb.append('\n'); inLine = 0 }
        else if (sb.length > 0) sb.append(' ')
        sb.append(raw(i))
        inLine += 1
      }
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }

  /** Normalized form of one line: lower-cased tokens single-space joined
    * (the same value TextAnalysis.normalize produces). Empty for
    * whitespace-only lines. */
  private def normalizeLine(line: String): String =
    tokenize(UTF8String.fromString(line)).mkString(" ")

  /** FNV-1a 64 fingerprints of each '\n'-separated line's normalized form,
    * whitespace-only lines skipped, document order. The line-frequency
    * pass groups on these 8-byte keys, so the shuffle never carries line
    * text. */
  def lineFps(text: UTF8String): ArrayData = {
    val lines = text.toString.split("\n", -1)
    val out = new java.util.ArrayList[Any](lines.length)
    var i = 0
    while (i < lines.length) {
      val nrm = normalizeLine(lines(i))
      if (!nrm.isEmpty) out.add(fnv1a64(nrm))
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Drop every line whose normalized fingerprint is in the sorted hot
    * set, one pass: returns (n_lines, n_kept, cleaned). Counts include
    * whitespace-only lines (which are never droppable); kept lines keep
    * their original text and order. */
  def cleanLines(text: UTF8String, hotSorted: Array[Long]): org.apache.spark.sql.catalyst.InternalRow = {
    val lines = text.toString.split("\n", -1)
    val sb = new java.lang.StringBuilder(text.numChars())
    var nKept = 0L
    var first = true
    var i = 0
    while (i < lines.length) {
      val nrm = normalizeLine(lines(i))
      val drop = !nrm.isEmpty &&
        java.util.Arrays.binarySearch(hotSorted, fnv1a64(nrm)) >= 0
      if (!drop) {
        if (!first) sb.append('\n')
        sb.append(lines(i))
        nKept += 1
        first = false
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](lines.length.toLong, nKept, UTF8String.fromString(sb.toString)))
  }

  /** Marker words per language for the language-ID heuristic — the single
    * source of truth shared with TextAnalysis.langMarkers. */
  val langMarkers: Array[(String, Array[String])] = Array(
    "en" -> Array(" the ", " a ", " of "),
    "de" -> Array(" der ", " und ", " die "),
    "es" -> Array(" el ", " la ", " que "),
    "fr" -> Array(" le ", " et ", " les "),
    "zh" -> Array(" zh ", " zhong ", " wen "))

  // Java \p{Punct}: !-/ :-@ [-` {-~
  private def isAsciiPunct(c: Char): Boolean =
    (c >= 33 && c <= 47) || (c >= 58 && c <= 64) || (c >= 91 && c <= 96) || (c >= 123 && c <= 126)

  /** Non-overlapping left-to-right occurrence count — the same value
    * replace-length arithmetic computes on any engine. */
  private def countOccurrences(haystack: String, needle: String): Long = {
    var n = 0L
    var i = haystack.indexOf(needle)
    while (i >= 0) { n += 1; i = haystack.indexOf(needle, i + needle.length) }
    n
  }

  /** The quality + language-ID inputs in ONE pass over the document:
    * [n_tokens, n_uniq_tokens, n_punct, score_lang_0, ..., score_lang_4]
    * as array<long>. Token semantics match Spark's split(text, "\\s+")
    * (limit -1: leading/trailing empties kept); punctuation is Java
    * \p{Punct}; marker scores are non-overlapping occurrence counts over
    * the space-padded lower-cased text — all exactly the integers the
    * regex/replace-arithmetic formulations produce, without the ~18 regex
    * passes they cost. */
  def qualityLangStats(text: UTF8String): ArrayData = {
    val s = text.toString
    val toks = ws.split(s, -1)
    val uniq = new java.util.HashSet[String](toks.length * 2)
    var i = 0
    while (i < toks.length) { uniq.add(toks(i)); i += 1 }
    var nPunct = 0L
    i = 0
    while (i < s.length) { if (isAsciiPunct(s.charAt(i))) nPunct += 1; i += 1 }
    val padded = " " + s.toLowerCase(java.util.Locale.ROOT) + " "
    val out = new Array[Any](3 + langMarkers.length)
    out(0) = toks.length.toLong
    out(1) = uniq.size.toLong
    out(2) = nPunct
    var li = 0
    while (li < langMarkers.length) {
      val markers = langMarkers(li)._2
      var sc = 0L
      var mi = 0
      while (mi < markers.length) { sc += countOccurrences(padded, markers(mi)); mi += 1 }
      out(3 + li) = sc
      li += 1
    }
    new GenericArrayData(out)
  }

  /** Product-quantization encode: the vector's m sub-spaces each map to
    * the nearest of ksub codewords (codebooks flattened [m][ksub][dsub]).
    * Returns m code indices (array<int>) — dim*4 bytes of floats compress
    * to m small ints, the memory/bandwidth ratio PQ exists for. */
  def pqEncode(v: ArrayData, codebooks: Array[Double], m: Int, ksub: Int): ArrayData = {
    val dim = v.numElements()
    val dsub = dim / m
    val out = new Array[Any](m)
    var j = 0
    while (j < m) {
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < ksub) {
        var d = 0.0
        var i = 0
        val base = (j * ksub + c) * dsub
        while (i < dsub) {
          val x = v.getFloat(j * dsub + i).toDouble - codebooks(base + i)
          d += x * x
          i += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      out(j) = best
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Per-query ADC distance table: squared distance from each query
    * sub-vector to each codeword, flattened [m][ksub]. Computed once per
    * query; every candidate afterwards costs m array lookups. */
  def pqTable(q: ArrayData, codebooks: Array[Double], m: Int, ksub: Int): ArrayData = {
    val dim = q.numElements()
    val dsub = dim / m
    val out = new Array[Any](m * ksub)
    var j = 0
    while (j < m) {
      var c = 0
      while (c < ksub) {
        var d = 0.0
        var i = 0
        val base = (j * ksub + c) * dsub
        while (i < dsub) {
          val x = q.getFloat(j * dsub + i).toDouble - codebooks(base + i)
          d += x * x
          i += 1
        }
        out(j * ksub + c) = d
        c += 1
      }
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Residual of a vector against its coarse cell centroid (v - c[cell]),
    * as array<float> — the IVFADC composition: PQ codebooks train on and
    * encode residuals, so codeword resolution concentrates on the
    * within-cell displacement instead of re-describing the cell itself. */
  def cellResidual(v: ArrayData, cell: Int, centroids: Array[Array[Double]]): ArrayData = {
    val c = centroids(cell)
    val out = new Array[Any](c.length)
    var i = 0
    while (i < c.length) { out(i) = (v.getFloat(i) - c(i)).toFloat; i += 1 }
    new GenericArrayData(out)
  }

  /** ADC distance: sum of the table entries the code words select. */
  def pqAdc(table: ArrayData, codes: ArrayData, ksub: Int): Double = {
    val m = codes.numElements()
    var d = 0.0
    var j = 0
    while (j < m) {
      d += table.getDouble(j * ksub + codes.getInt(j))
      j += 1
    }
    d
  }

  /** Packed (code << 32 | count) array of [[charBigramCodes]]. */
  def charBigramCounts(text: UTF8String): ArrayData = {
    val m = charBigramCodes(text)
    val out = new Array[Any](m.size)
    val it = m.entrySet().iterator()
    var k = 0
    while (it.hasNext) {
      val e = it.next()
      out(k) = (e.getKey.longValue << 32) | e.getValue.longValue
      k += 1
    }
    new GenericArrayData(out)
  }

  /** [n_bigrams, sum of count*lnP(code)] under a trained log-prob table,
    * accumulated over ascending bigram codes — the order an ORDER BY code
    * left-fold reproduces exactly on any engine. */
  def bigramLogScore(text: UTF8String, lnP: Array[Double]): ArrayData = {
    val m = charBigramCodes(text)
    var n = 0L
    var sum = 0.0
    val it = m.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val cnt = e.getValue.intValue
      n += cnt
      sum += cnt * lnP(e.getKey.intValue)
    }
    new GenericArrayData(Array[Any](n.toDouble, sum))
  }

  // ------------------------------------------------------------ media headers

  private def be16(v: Int): Array[Byte] = Array(((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
  private def be32(v: Int): Array[Byte] =
    Array((v >>> 24).toByte, ((v >> 16) & 0xff).toByte, ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
  private def le16(v: Int): Array[Byte] = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
  private def le32(v: Int): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte, ((v >> 16) & 0xff).toByte, (v >>> 24).toByte)

  /** A CRC-correct PNG chunk: length + type + data + CRC32(type ++ data). */
  private def pngChunk(out: java.io.ByteArrayOutputStream, typ: String, data: Array[Byte]): Unit = {
    out.write(be32(data.length))
    val t = typ.getBytes("US-ASCII")
    out.write(t)
    out.write(data)
    val crc = new java.util.zip.CRC32
    crc.update(t)
    crc.update(data)
    out.write(be32(crc.getValue.toInt))
  }

  /** Synthesize a structurally valid media container around `body`, with
    * every header field derived from the body's byte sum — the arithmetic
    * any ANSI SQL engine replicates for oracle checking (for ASCII bodies,
    * byte == code point):
    *
    *   kind = docId % 4: 0 PNG, 1 JPEG, 2 WAV, 3 GIF
    *   width = 64 + bsum % 512, height = 64 + (bsum/7) % 512   (images)
    *   sampleRate = 8000 + (bsum % 5) * 8000, channels = 1 + bsum % 2 (WAV)
    *
    * Real byte layouts (public file-format specs): PNG signature +
    * CRC-correct IHDR/IDAT/IEND chunks (big-endian); JPEG SOI + JFIF APP0 +
    * SOF0 (big-endian); RIFF/WAVE fmt + data chunks (little-endian);
    * GIF89a logical screen descriptor (little-endian) + trailer. Image
    * payload bytes are carried verbatim (IDAT content is not zlib — header
    * parsing never inflates), so [[mediaHeader]] or any stock header parser
    * reads the fields back. */
  def mediaContainer(docId: Long, body: Array[Byte]): Array[Byte] = {
    var bsum = 0L
    var i = 0
    while (i < body.length) { bsum += (body(i) & 0xff); i += 1 }
    val w = (64 + bsum % 512).toInt
    val h = (64 + (bsum / 7) % 512).toInt
    val sr = (8000 + (bsum % 5) * 8000).toInt
    val ch = (1 + bsum % 2).toInt
    val out = new java.io.ByteArrayOutputStream(body.length + 64)
    (((docId % 4) + 4) % 4).toInt match {
      case 0 => // PNG
        out.write(Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
        val ihdr = new java.io.ByteArrayOutputStream(13)
        ihdr.write(be32(w)); ihdr.write(be32(h))
        ihdr.write(8)  // bit depth
        ihdr.write(6)  // color type RGBA
        ihdr.write(0); ihdr.write(0); ihdr.write(0) // compression/filter/interlace
        pngChunk(out, "IHDR", ihdr.toByteArray)
        pngChunk(out, "IDAT", body)
        pngChunk(out, "IEND", Array.emptyByteArray)
      case 1 => // JPEG: SOI + APP0(JFIF) + SOF0(3 components) + body + EOI
        out.write(Array(0xff, 0xd8).map(_.toByte))
        out.write(Array(0xff, 0xe0).map(_.toByte))
        out.write(be16(16))
        out.write("JFIF".getBytes("US-ASCII")); out.write(0)
        out.write(1); out.write(1) // version 1.1
        out.write(0)               // density units
        out.write(be16(1)); out.write(be16(1)) // x/y density
        out.write(0); out.write(0) // thumbnail
        out.write(Array(0xff, 0xc0).map(_.toByte))
        out.write(be16(17)) // 8 + 3*3
        out.write(8)        // precision
        out.write(be16(h)); out.write(be16(w))
        out.write(3)        // components
        var c = 1
        while (c <= 3) { out.write(c); out.write(0x11); out.write(0); c += 1 }
        out.write(body, 0, body.length)
        out.write(Array(0xff, 0xd9).map(_.toByte))
      case 2 => // WAV: RIFF/WAVE + fmt (PCM 16-bit) + data
        out.write("RIFF".getBytes("US-ASCII"))
        out.write(le32(36 + body.length))
        out.write("WAVE".getBytes("US-ASCII"))
        out.write("fmt ".getBytes("US-ASCII"))
        out.write(le32(16))
        out.write(le16(1))  // PCM
        out.write(le16(ch))
        out.write(le32(sr))
        out.write(le32(sr * ch * 2)) // byte rate
        out.write(le16(ch * 2))      // block align
        out.write(le16(16))          // bits per sample
        out.write("data".getBytes("US-ASCII"))
        out.write(le32(body.length))
        out.write(body, 0, body.length)
      case _ => // GIF89a, no global color table, color resolution 8
        out.write("GIF89a".getBytes("US-ASCII"))
        out.write(le16(w)); out.write(le16(h))
        out.write(0x70) // packed: GCT off, color resolution bits = 7 -> 8
        out.write(0)    // background color
        out.write(0)    // aspect ratio
        out.write(body, 0, body.length)
        out.write(0x3b) // trailer
    }
    out.toByteArray
  }

  private def rBE16(b: Array[Byte], i: Int): Int = ((b(i) & 0xff) << 8) | (b(i + 1) & 0xff)
  private def rBE32(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xff) << 24) | ((b(i + 1) & 0xff) << 16) | ((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff)
  private def rLE16(b: Array[Byte], i: Int): Int = (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
  private def rLE32(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8) | ((b(i + 2) & 0xff) << 16) | ((b(i + 3) & 0xff) << 24)

  private def hasPrefix(b: Array[Byte], p: Array[Int]): Boolean = {
    if (b.length < p.length) return false
    var i = 0
    while (i < p.length) { if ((b(i) & 0xff) != p(i)) return false; i += 1 }
    true
  }

  private def mediaRow(format: String, w: Int, h: Int, sr: Int, ch: Int, depth: Int) =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](UTF8String.fromString(format), w, h, sr, ch, depth))

  /** REAL media header decode — no codec libraries, just the public byte
    * layouts: PNG chunk walk to IHDR (big-endian dims + bit depth), JPEG
    * segment walk to the first SOF marker (skipping APPn/COM/DQT by their
    * declared lengths), RIFF chunk walk to `fmt ` (little-endian PCM
    * fields, even-byte chunk padding per spec), GIF87a/89a logical screen
    * descriptor. Returns (format, width, height, sample_rate, channels,
    * bit_depth); fields that don't apply are 0; unparseable bytes decode as
    * ("unknown", 0...) rather than throwing — at corpus scale a corrupt
    * file must be a classifiable row, not a job abort. */
  def mediaHeader(b: Array[Byte]): org.apache.spark.sql.catalyst.InternalRow = {
    // PNG: 8-byte signature, then chunks of (len, type, data, crc)
    if (hasPrefix(b, Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a))) {
      var i = 8
      while (i + 8 <= b.length) {
        val len = rBE32(b, i)
        val typ = new String(b, i + 4, 4, "US-ASCII")
        if (typ == "IHDR" && len >= 13 && i + 8 + 13 <= b.length)
          return mediaRow("png", rBE32(b, i + 8), rBE32(b, i + 12), 0, 0, b(i + 16) & 0xff)
        if (len < 0) return mediaRow("unknown", 0, 0, 0, 0, 0)
        i += 12 + len
      }
      return mediaRow("unknown", 0, 0, 0, 0, 0)
    }
    // JPEG: SOI, then FF-marker segments; dims live in the first SOF
    if (hasPrefix(b, Array(0xff, 0xd8))) {
      var i = 2
      while (i + 4 <= b.length && (b(i) & 0xff) == 0xff) {
        val marker = b(i + 1) & 0xff
        val isSof = marker >= 0xc0 && marker <= 0xcf &&
          marker != 0xc4 && marker != 0xc8 && marker != 0xcc // not DHT/JPG/DAC
        if (isSof) {
          if (i + 9 > b.length) return mediaRow("unknown", 0, 0, 0, 0, 0)
          return mediaRow("jpeg", rBE16(b, i + 7), rBE16(b, i + 5), 0, 0, b(i + 4) & 0xff)
        }
        if (marker == 0xd8 || marker == 0x01 || (marker >= 0xd0 && marker <= 0xd7)) i += 2
        else if (marker == 0xd9) return mediaRow("unknown", 0, 0, 0, 0, 0) // EOI before SOF
        else i += 2 + rBE16(b, i + 2)
      }
      return mediaRow("unknown", 0, 0, 0, 0, 0)
    }
    // RIFF/WAVE: chunk walk to "fmt " (chunks pad to even length per spec)
    if (hasPrefix(b, Array(0x52, 0x49, 0x46, 0x46)) && b.length >= 12 &&
        new String(b, 8, 4, "US-ASCII") == "WAVE") {
      var i = 12
      while (i + 8 <= b.length) {
        val id = new String(b, i, 4, "US-ASCII")
        val sz = rLE32(b, i + 4)
        if (id == "fmt " && sz >= 16 && i + 8 + 16 <= b.length)
          return mediaRow("wav", 0, 0, rLE32(b, i + 12), rLE16(b, i + 10), rLE16(b, i + 22))
        if (sz < 0) return mediaRow("unknown", 0, 0, 0, 0, 0)
        i += 8 + sz + (sz & 1)
      }
      return mediaRow("unknown", 0, 0, 0, 0, 0)
    }
    // GIF87a / GIF89a logical screen descriptor
    if ((hasPrefix(b, Array(0x47, 0x49, 0x46, 0x38, 0x37, 0x61)) ||
         hasPrefix(b, Array(0x47, 0x49, 0x46, 0x38, 0x39, 0x61))) && b.length >= 13)
      return mediaRow("gif", rLE16(b, 6), rLE16(b, 8), 0, 0, (((b(10) & 0xff) >> 4) & 7) + 1)
    mediaRow("unknown", 0, 0, 0, 0, 0)
  }

  /** Positional word-n-gram fingerprints: element i = FNV-1a 64 of the
    * space-joined n-gram starting at word position i (exactly the n-gram
    * text [[ngramsAll]] builds, so a fingerprint equals another iff the
    * n-gram text does, modulo 64-bit collision). The array index IS the
    * word position — the exact-substring-dedup primitive: positions whose
    * fingerprint recurs anywhere in the corpus are duplicated-span
    * members. */
  def ngramFps(text: UTF8String, n: Int): ArrayData = {
    val toks = tokenize(text)
    val m = toks.length - n + 1
    if (m <= 0) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](m)
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i < m) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      out(i) = fnv1a64(sb.toString)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Number of Bloom probes for a given bits-per-item budget (the
    * standard k = m/n * ln 2 optimum). */
  def bloomK(bitsPerItem: Int): Int =
    math.max(1, math.round(bitsPerItem * math.log(2.0)).toInt)

  /** Driver-side Bloom build over 64-bit fingerprints. The probe sequence
    * (double hashing: position p = fp + p*(mix64(fp)|1), mod bit count)
    * is shared with [[bloomShingleHits]] — build and query MUST agree or the
    * no-false-negative contract breaks. */
  def bloomBuild(fps: Array[Long], bitsPerItem: Int): Array[Long] = {
    val nBits0 = math.max(64L, fps.length.toLong * bitsPerItem)
    val words = ((nBits0 + 63) / 64).toInt
    val bits = new Array[Long](words)
    val mBits = words.toLong * 64L
    val k = bloomK(bitsPerItem)
    var i = 0
    while (i < fps.length) {
      val fp = fps(i)
      val h2 = mix64(fp) | 1L
      var h = fp
      var p = 0
      while (p < k) {
        val pos = java.lang.Long.remainderUnsigned(h, mBits)
        bits((pos >>> 6).toInt) |= 1L << (pos & 63)
        h += h2
        p += 1
      }
      i += 1
    }
    bits
  }

  /** Bloom membership of one fingerprint; probe sequence shared with
    * [[bloomBuild]] (package-visible so the property spec can assert the
    * no-false-negative contract directly). */
  private[graft] def bloomContains(fp: Long, bits: Array[Long], k: Int, mBits: Long): Boolean = {
    val h2 = mix64(fp) | 1L
    var h = fp
    var p = 0
    while (p < k) {
      val pos = java.lang.Long.remainderUnsigned(h, mBits)
      if ((bits((pos >>> 6).toInt) & (1L << (pos & 63))) == 0L) return false
      h += h2
      p += 1
    }
    true
  }

  /** [n_distinct_shingles, n_bloom_hits] of a text against the
    * plan-embedded Bloom filter — the count-based decontamination
    * prefilter statistic. Counts DISTINCT shingles (matching the Jaccard
    * set semantics): since the filter holds the UNION of eval shingles
    * and Bloom has no false negatives, n_bloom_hits >= |shingles(a) ∩
    * shingles(b)| for EVERY eval doc b, so any candidacy rule of the form
    * n_bloom_hits >= f(bound on shared) keeps recall 1. */
  def bloomShingleHits(text: UTF8String, n: Int, bits: Array[Long], k: Int): ArrayData = {
    val toks = tokenize(text)
    val m = toks.length - n + 1
    if (m <= 0) return new GenericArrayData(Array[Any](0L, 0L))
    val mBits = bits.length.toLong * 64L
    val seen = new java.util.HashSet[Long](m * 2)
    val sb = new java.lang.StringBuilder(64)
    var hits = 0L
    var i = 0
    while (i < m) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      val fp = fnv1a64(sb.toString)
      if (seen.add(fp) && bloomContains(fp, bits, k, mBits)) hits += 1
      i += 1
    }
    new GenericArrayData(Array[Any](seen.size.toLong, hits))
  }

  /** Distinct word-n-gram shingle fingerprints, sorted ascending (signed)
    * — the merge-joinable shingle-set representation. Jaccard over these
    * equals Jaccard over the shingle strings modulo 64-bit FNV collision
    * (vanishing at any real shingle-universe size; same accepted risk as
    * the line-fingerprint operators). */
  def shingleFpsSorted(text: UTF8String, n: Int): ArrayData = {
    val toks = tokenize(text)
    val m = toks.length - n + 1
    if (m <= 0) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.HashSet[Long](m * 2)
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i < m) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      seen.add(fnv1a64(sb.toString))
      i += 1
    }
    val arr = new Array[Long](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { arr(k) = it.next(); k += 1 }
    java.util.Arrays.sort(arr)
    val out = new Array[Any](arr.length)
    k = 0
    while (k < arr.length) { out(k) = arr(k); k += 1 }
    new GenericArrayData(out)
  }

  /** Jaccard similarity of two ascending-sorted long arrays via one merge
    * pass — the exact-verify scorer that replaces string-array
    * intersection in pair loops (an order of magnitude cheaper per pair).
    * Returns 0 when either side is empty. */
  def jaccardSortedFps(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    if (na == 0 || nb == 0) return 0.0
    var i = 0
    var j = 0
    var shared = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { shared += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    shared.toDouble / (na + nb - shared)
  }

  /** Keys of a plan-embedded prefix CSR whose prefix postings share
    * enough of `probe` to clear the exact-recall hit bound — the one
    * task-local hit count of the prefix filter ([[graft.ops.Prefix]]): the
    * n-gram self-join (probe = a content's whole fp set, the CSR = one
    * shard of every content's prefix), the dedup index probe (probe = a
    * corpus rep's own prefix, the CSR = one shard of the delta's prefixes)
    * and the decontamination eval probe (probe = a corpus doc's whole fp
    * set, the CSR = the eval prefixes). A whole-set probe needs no df
    * order: the j smallest common elements sit inside the indexed side's
    * prefix by its own position argument. One pass: gather
    * posting keys of every probed fp (fps ascending; keys for fps(i) at
    * keys[offsets(i) until offsets(i+1))), sort, count runs, keep keys with
    * hits >= min(j, ceil(t*n), ceil(t*|B|)) passing the size filter
    * t*n <= |B| <= n/t, where n is the probing set's FULL size. All
    * counting is task-local — the billion-row (pair, hit) shuffle never
    * exists. ceil is computed on x - 1e-9 so float error can only lower the
    * bound (admits candidates, never loses one). `keys` carries INDEXES
    * into the aligned `keyIds`/`keySizes` arrays (id and full set size per
    * key) — indexes make the run-scan's attribute lookup O(1); a per-run
    * binary search over the id array measured ~10^12 comparisons at
    * sf100. */
  def prefixCandidates(
      probe: ArrayData, n: Int, t: Double, minHits: Int,
      fps: Array[Long], offsets: Array[Int], keys: Array[Int],
      keyIds: Array[Long], keySizes: Array[Int]): ArrayData = {
    val lI = probe.numElements()
    if (lI == 0 || fps.length == 0) return new GenericArrayData(Array.empty[Any])
    val oI = math.ceil(t * n - 1e-9).toLong
    val jI = math.min(minHits.toLong, oI)
    var hits = new Array[Int](16)
    var nh = 0
    var i = 0
    while (i < lI) {
      val pos = java.util.Arrays.binarySearch(fps, probe.getLong(i))
      if (pos >= 0) {
        var j = offsets(pos)
        val end = offsets(pos + 1)
        while (j < end) {
          if (nh == hits.length) hits = java.util.Arrays.copyOf(hits, nh * 2)
          hits(nh) = keys(j)
          nh += 1
          j += 1
        }
      }
      i += 1
    }
    if (nh == 0) return new GenericArrayData(Array.empty[Any])
    java.util.Arrays.sort(hits, 0, nh)
    val out = new java.util.ArrayList[Any](8)
    var s = 0
    while (s < nh) {
      var e = s + 1
      while (e < nh && hits(e) == hits(s)) e += 1
      val k = hits(s)
      val bSize = keySizes(k)
      val oD = math.ceil(t * bSize - 1e-9).toLong
      val jD = math.min(minHits.toLong, oD)
      val sizeOk = n >= oD && n <= math.floor(bSize / t + 1e-9).toLong
      if (sizeOk && (e - s) >= math.min(jD, jI)) out.add(keyIds(k))
      s = e
    }
    new GenericArrayData(out.toArray)
  }

  /** [n_bytes, n_deflated] of the text's UTF-8 bytes under DEFLATE level
    * 6 — the compression-ratio quality signal corpus curation uses
    * (near-random text ~1.0, natural prose ~0.4, templated boilerplate
    * approaching 0). Deterministic within a JVM/zlib version — executors
    * in one cluster agree; pin the JDK for cross-run stability. A signal
    * column, not a cross-engine-oracle-able invariant. */
  def deflateStats(text: UTF8String): ArrayData = {
    val raw = text.getBytes
    if (raw.isEmpty) return new GenericArrayData(Array[Any](0L, 0L))
    val d = new java.util.zip.Deflater(6, false)
    try {
      d.setInput(raw)
      d.finish()
      val buf = new Array[Byte](8192)
      var total = 0L
      while (!d.finished()) total += d.deflate(buf)
      new GenericArrayData(Array[Any](raw.length.toLong, total))
    } finally d.end()
  }

  /** Whitespace tokens with ORIGINAL case (empty tokens dropped) — the
    * same positions as [[tokenize]] (lowercasing never changes the
    * whitespace structure), for operators that edit text by word offset
    * without normalizing it. */
  private def rawTokens(text: UTF8String): Array[String] = {
    val raw = ws.split(text.toString)
    var n = 0
    var i = 0
    while (i < raw.length) { if (!raw(i).isEmpty) n += 1; i += 1 }
    if (n == raw.length) raw
    else {
      val out = new Array[String](n)
      var j = 0
      i = 0
      while (i < raw.length) { if (!raw(i).isEmpty) { out(j) = raw(i); j += 1 }; i += 1 }
      out
    }
  }

  /** Remove word spans from a document in one pass: `spans` is the
    * interleaved [s0,e0,s1,e1,...] array of 0-based end-exclusive word
    * offsets, sorted by start and disjoint (the [[ngramFps]]-derived
    * maximal-span shape). Keeps the ORIGINAL token text (case preserved;
    * inter-word whitespace normalizes to single spaces, the same
    * canonicalization the span positions are defined over). Returns
    * (n_words, n_kept, cleaned). */
  def dropSpans(text: UTF8String, spans: ArrayData): org.apache.spark.sql.catalyst.InternalRow = {
    val toks = rawTokens(text)
    val n = toks.length
    val m = spans.numElements()
    val sb = new java.lang.StringBuilder(text.numChars())
    var nKept = 0L
    var si = 0
    var w = 0
    while (w < n) {
      while (si + 1 < m && spans.getLong(si + 1) <= w) si += 2
      val inSpan = si + 1 < m && spans.getLong(si) <= w && w < spans.getLong(si + 1)
      if (!inSpan) {
        if (nKept > 0) sb.append(' ')
        sb.append(toks(w))
        nKept += 1
      }
      w += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](n.toLong, nKept, UTF8String.fromString(sb.toString)))
  }

  /** [dl, tf(term_0), ..., tf(term_{m-1})]: document length in tokens and
    * per-term token-equality frequencies in one tokenize pass — the BM25
    * per-document statistics. Terms ride the plan already lower-cased;
    * the term list is query-sized (a handful), so the inner scan beats a
    * hash map at these sizes. */
  def termFreqs(text: UTF8String, terms: Array[String]): ArrayData = {
    val toks = tokenize(text)
    val out = new Array[Any](terms.length + 1)
    val tf = new Array[Long](terms.length)
    var i = 0
    while (i < toks.length) {
      var j = 0
      while (j < terms.length) {
        if (toks(i) == terms(j)) tf(j) += 1
        j += 1
      }
      i += 1
    }
    out(0) = toks.length.toLong
    i = 0
    while (i < terms.length) { out(i + 1) = tf(i); i += 1 }
    new GenericArrayData(out)
  }

  /** URL canonicalization (the crawl-frontier dedup key): lowercase scheme
    * and host, strip default ports (:80/:443), strip a trailing slash from
    * the path, drop utm_* tracking params, sort surviving query params by
    * name (byte order), rebuild scheme://host/path?k=v&... Fragments
    * ('#...') are dropped first — they never identify a distinct resource,
    * and a '?' after '#' must not be parsed as a real query. One pass, no
    * allocation beyond the parts; unparseable inputs (no "://") return
    * unchanged. */
  def canonicalizeUrl(url: UTF8String): UTF8String = {
    val s0 = url.toString
    val hashIdx = s0.indexOf('#')
    val s = if (hashIdx >= 0) s0.substring(0, hashIdx) else s0
    val schemeEnd = s.indexOf("://")
    if (schemeEnd < 0) return url
    val scheme = s.substring(0, schemeEnd).toLowerCase(java.util.Locale.ROOT)
    val rest = s.substring(schemeEnd + 3)
    val pathStart = {
      val slash = rest.indexOf('/')
      val q = rest.indexOf('?')
      if (slash >= 0 && (q < 0 || slash < q)) slash else if (q >= 0) q else rest.length
    }
    var host = rest.substring(0, pathStart).toLowerCase(java.util.Locale.ROOT)
    if (host.endsWith(":80") && scheme == "http") host = host.substring(0, host.length - 3)
    if (host.endsWith(":443") && scheme == "https") host = host.substring(0, host.length - 4)
    val afterHost = rest.substring(pathStart)
    val qIdx = afterHost.indexOf('?')
    var path = if (qIdx >= 0) afterHost.substring(0, qIdx) else afterHost
    val query = if (qIdx >= 0) afterHost.substring(qIdx + 1) else ""
    if (path.length > 1 && path.endsWith("/")) path = path.substring(0, path.length - 1)
    if (path.isEmpty) path = "/"
    val kept = query.split("&").filter { p =>
      p.nonEmpty && !p.toLowerCase(java.util.Locale.ROOT).startsWith("utm_")
    }
    java.util.Arrays.sort(kept, java.util.Comparator.naturalOrder[String]())
    val q = if (kept.isEmpty) "" else "?" + kept.mkString("&")
    UTF8String.fromString(scheme + "://" + host + path + q)
  }

  /** Synthetic grayscale raster: 4-byte header ('G','8', width, height —
    * dims 8..12 x 6..8 derived from the doc id) followed by row-major
    * pixel bytes p(x,y) = (x*31 + y*17 + docId*13) mod 256. The
    * deterministic stand-in for a decoded image plane: formulaic pixels
    * let a SQL oracle verify pixel arithmetic end-to-end without a codec. */
  def rasterContainer(docId: Long): Array[Byte] = {
    val w = (8 + (docId % 5)).toInt
    val h = (6 + (docId % 3)).toInt
    val out = new Array[Byte](4 + w * h)
    out(0) = 'G'; out(1) = '8'; out(2) = w.toByte; out(3) = h.toByte
    var y = 0
    var i = 4
    while (y < h) {
      var x = 0
      while (x < w) {
        out(i) = ((x * 31 + y * 17 + docId * 13) % 256).toByte
        i += 1
        x += 1
      }
      y += 1
    }
    out
  }

  /** Real 2x2 average-pool over a raster payload (the resize kernel's
    * integer core): parses dims from the header bytes, floor-truncates odd
    * edges, pools with integer floor division, and returns
    * [out_w, out_h, checksum] where checksum position-weights each pooled
    * value (Σ pooled(x,y) * (1 + x + y*out_w)) so a transposed or shifted
    * pool cannot collide. Returns null on a malformed header. */
  def rasterPool2x2(payload: Array[Byte]): ArrayData = {
    if (payload.length < 4 || payload(0) != 'G' || payload(1) != '8') return null
    val w = payload(2) & 0xff
    val h = payload(3) & 0xff
    if (payload.length < 4 + w * h) return null
    val ow = w / 2
    val oh = h / 2
    var checksum = 0L
    var y = 0
    while (y < oh) {
      var x = 0
      while (x < ow) {
        val base = 4 + 2 * y * w + 2 * x
        val s = (payload(base) & 0xff) + (payload(base + 1) & 0xff) +
          (payload(base + w) & 0xff) + (payload(base + w + 1) & 0xff)
        checksum += (s / 4).toLong * (1L + x + y.toLong * ow)
        x += 1
      }
      y += 1
    }
    new GenericArrayData(Array[Long](ow.toLong, oh.toLong, checksum))
  }

  /** SQ8 scalar quantization encode (FAISS IndexScalarQuantizer parity):
    * per-dimension affine code c_d = round((x_d - min_d)/span_d * 255)
    * clamped to [0, 255] — 4x compression for float32 corpora, the
    * simplest member of the compressed-index family. Zero-span
    * dimensions (constant across the train set) encode as 0. */
  def sqEncode(v: ArrayData, mins: Array[Float], spans: Array[Float]): Array[Byte] = {
    val dim = v.numElements()
    val out = new Array[Byte](dim)
    var d = 0
    while (d < dim) {
      val span = spans(d)
      val c =
        if (span <= 0f) 0
        else {
          val r = math.round((v.getFloat(d) - mins(d)) / span * 255f)
          if (r < 0) 0 else if (r > 255) 255 else r
        }
      out(d) = c.toByte
      d += 1
    }
    out
  }

  /** Approximate cosine between an SQ8-coded corpus vector and a raw
    * float query: the code dequantizes to x̂_d = min_d + c_d/255·span_d
    * and cosine accumulates (dot, ||x̂||², ||q||²) in one d-ascending
    * pass — the asymmetric-distance shape of the PQ ADC, one multiply
    * per dimension off a 256-entry dequant line. */
  def sqCos(codes: Array[Byte], q: ArrayData, mins: Array[Float], spans: Array[Float]): Double = {
    val dim = codes.length
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var d = 0
    while (d < dim) {
      val x = mins(d).toDouble + (codes(d) & 0xff).toDouble / 255.0 * spans(d).toDouble
      val y = q.getFloat(d).toDouble
      dot += x * y
      na += x * x
      nb += y * y
      d += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** PCM energy stats from a WAV payload — a REAL RIFF chunk walk to
    * `fmt ` (sample rate, channels) and `data`, then one pass over the
    * data-chunk bytes as centered 8-bit samples (s = byte - 128):
    * [sample_rate, channels, n_samples, peak, sum_sq]. All integers, so
    * a SQL oracle reproduces every field exactly. Null when the payload
    * is not a RIFF/WAVE container — the real-decoder contract. */
  def audioStats(payload: Array[Byte]): ArrayData = {
    if (payload.length < 12) return null
    if (payload(0) != 'R' || payload(1) != 'I' || payload(2) != 'F' || payload(3) != 'F') return null
    if (payload(8) != 'W' || payload(9) != 'A' || payload(10) != 'V' || payload(11) != 'E') return null
    var sr = 0L
    var ch = 0L
    var n = 0L
    var peak = 0L
    var sumsq = 0L
    // Long cursor + unsigned chunk lengths: a hostile 32-bit length can
    // neither stall the walk (len = -8 would make the next cursor equal
    // the current one) nor overflow into a negative index.
    var i = 12L
    while (i + 8 <= payload.length) {
      val ii = i.toInt
      val isFmt = payload(ii) == 'f' && payload(ii + 1) == 'm' &&
        payload(ii + 2) == 't' && payload(ii + 3) == ' '
      val isData = payload(ii) == 'd' && payload(ii + 1) == 'a' &&
        payload(ii + 2) == 't' && payload(ii + 3) == 'a'
      val len = rLE32(payload, ii + 4).toLong & 0xFFFFFFFFL
      val start = i + 8
      if (isFmt && len >= 16 && start + 16 <= payload.length) {
        ch = rLE16(payload, start.toInt + 2)
        sr = rLE32(payload, start.toInt + 4)
      } else if (isData) {
        val end = math.min(start + len, payload.length.toLong).toInt
        var j = start.toInt
        while (j < end) {
          val s = (payload(j) & 0xff) - 128L
          val a = math.abs(s)
          if (a > peak) peak = a
          sumsq += s * s
          n += 1
          j += 1
        }
      }
      val next = start + len + (len & 1L) // RIFF chunks are word-aligned
      if (next <= i || next > payload.length.toLong) return new GenericArrayData(Array[Long](sr, ch, n, peak, sumsq))
      i = next
    }
    new GenericArrayData(Array[Long](sr, ch, n, peak, sumsq))
  }

  /** Synthetic grayscale "video": 5-byte header ('V','1', width, height,
    * n_frames — dims 6..9 x 4..6, 8..12 frames from the doc id) followed
    * by n_frames row-major planes p(x,y,f) = (x*31 + y*17 + f*7 +
    * docId*13) mod 256. The deterministic stand-in for a decoded frame
    * sequence: formulaic pixels let a SQL oracle verify the header parse
    * and per-frame arithmetic end-to-end without a codec. */
  def videoContainer(docId: Long): Array[Byte] = {
    val w = (6 + (docId % 4)).toInt
    val h = (4 + (docId % 3)).toInt
    val nf = (8 + (docId % 5)).toInt
    val out = new Array[Byte](5 + w * h * nf)
    out(0) = 'V'; out(1) = '1'; out(2) = w.toByte; out(3) = h.toByte; out(4) = nf.toByte
    var f = 0
    var i = 5
    while (f < nf) {
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          out(i) = ((x * 31 + y * 17 + f * 7 + docId * 13) % 256).toByte
          i += 1
          x += 1
        }
        y += 1
      }
      f += 1
    }
    out
  }

  /** Every `stride`-th frame's position-weighted checksum
    * (Σ p(x,y) * (1 + x + y*w) over the frame plane), dims parsed from
    * the payload header BYTES: returns [w, h, ck(0), ck(stride), ...].
    * Null on a malformed header — the real-decoder contract. */
  def videoFrameChecksums(payload: Array[Byte], stride: Int): ArrayData = {
    if (payload.length < 5 || payload(0) != 'V' || payload(1) != '1') return null
    val w = payload(2) & 0xff
    val h = payload(3) & 0xff
    val nf = payload(4) & 0xff
    if (payload.length < 5 + w * h * nf) return null
    val out = scala.collection.mutable.ArrayBuffer[Long](w.toLong, h.toLong)
    var f = 0
    while (f < nf) {
      val base = 5 + f * w * h
      var sum = 0L
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          sum += (payload(base + y * w + x) & 0xff).toLong * (1L + x + y.toLong * w)
          x += 1
        }
        y += 1
      }
      out += sum
      f += stride
    }
    new GenericArrayData(out.toArray)
  }

  /** Unicode NFC normalization (canonical composition): decomposed
    * sequences like 'e' + U+0301 become the precomposed 'é'. Matches
    * DuckDB's nfc_normalize (both implement UAX #15), which is what makes
    * the text_normalize oracle cross-engine. */
  def nfcNormalize(text: UTF8String): UTF8String = {
    val s = text.toString
    if (java.text.Normalizer.isNormalized(s, java.text.Normalizer.Form.NFC)) text
    else UTF8String.fromString(
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
  }

  /** Accent stripping: canonical decomposition (NFD) then drop every
    * non-spacing combining mark (Unicode category Mn) — 'é'/'ñ'/'ü' fold
    * to 'e'/'n'/'u'; characters without a canonical decomposition (ø, ß)
    * pass through, matching DuckDB strip_accents' conservative utf8proc
    * behavior on the same set. */
  def stripAccents(text: UTF8String): UTF8String = {
    val d = java.text.Normalizer.normalize(text.toString, java.text.Normalizer.Form.NFD)
    var hasMark = false
    var i = 0
    while (i < d.length && !hasMark) {
      if (Character.getType(d.charAt(i)) == Character.NON_SPACING_MARK) hasMark = true
      i += 1
    }
    if (!hasMark) return text
    val sb = new java.lang.StringBuilder(d.length)
    i = 0
    while (i < d.length) {
      val c = d.charAt(i)
      if (Character.getType(c) != Character.NON_SPACING_MARK) sb.append(c)
      i += 1
    }
    UTF8String.fromString(java.text.Normalizer.normalize(sb.toString,
      java.text.Normalizer.Form.NFC))
  }

  // --- fused PII scrub (text_pii_scrub) -------------------------------
  // The same java.util.regex patterns Spark's regexp_* built-ins compile
  // (RE2-compatible — identical match sets in any engine), applied in the
  // operator's documented order (email, then IP, then phone; counts on the
  // RAW text). Fusing replaces SIX built-in passes — three
  // regexp_extract_all calls that materialized every match into an array
  // just to size() it, plus three regexp_replace passes each paying a
  // UTF8String->String->UTF8String round trip — with five Matcher passes
  // over two String materializations and count-only find() loops (the
  // email pass produces count AND redaction in one sweep).
  // single source for the pattern strings (TextAnalysis re-exports them for
  // the Column-level scrub/count API and the oracle docs)
  val piiEmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val piiIpv4Pattern = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val piiPhonePattern = "\\+\\d{7,15}"
  private val piiEmail = Pattern.compile(piiEmailPattern)
  private val piiIp = Pattern.compile(piiIpv4Pattern)
  private val piiPhone = Pattern.compile(piiPhonePattern)

  private def countMatches(p: Pattern, s: String): Long = {
    val m = p.matcher(s)
    var n = 0L
    while (m.find()) n += 1
    n
  }

  /** struct(n_email, n_ip, n_phone, scrubbed): counts of each PII class on
    * the raw text plus the email->IP->phone redaction chain. Replacement
    * literals contain no digits, so later patterns never match inside an
    * earlier replacement (the operator's invariant); counts are on the raw
    * text, exactly like the regexp_count calls this fuses. */
  def piiScrubStats(text: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val s = text.toString
    val me = piiEmail.matcher(s)
    var nEmail = 0L
    val sb = new java.lang.StringBuilder
    while (me.find()) { nEmail += 1; me.appendReplacement(sb, "<EMAIL>") }
    me.appendTail(sb)
    val nIp = countMatches(piiIp, s)
    val nPhone = countMatches(piiPhone, s)
    val scrubbed = piiPhone.matcher(
      piiIp.matcher(sb.toString).replaceAll("<IP>")).replaceAll("<PHONE>")
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nEmail, nIp, nPhone, UTF8String.fromString(scrubbed)))
  }
}
