package graft

import graft.functions.Kernels
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

class KernelsSpec extends AnyFunSuite {

  private def u(s: String) = UTF8String.fromString(s)
  private def shingleSet(s: String, n: Int): Set[String] =
    Kernels.shingles(u(s), n).toArray[UTF8String](
      org.apache.spark.sql.types.StringType).map(_.toString).toSet

  test("shingles: basic trigram set, lowercased, distinct") {
    assert(shingleSet("The quick brown fox The quick brown fox", 3) ===
      Set("the quick brown", "quick brown fox", "brown fox the", "fox the quick"))
  }

  test("shingles: shorter than n yields empty; whitespace collapsed") {
    assert(shingleSet("one two", 3) === Set.empty)
    assert(shingleSet("  a \t b\n c  ", 3) === Set("a b c"))
  }

  test("minhash signature: identical texts agree, sim fraction tracks jaccard") {
    val a = Kernels.minhashSig(u("w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"), 2, 128).toLongArray
    val b = Kernels.minhashSig(u("w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"), 2, 128).toLongArray
    assert(a.sameElements(b))
    // half-overlapping shingle sets -> estimated sim should be far from 0 and 1
    val c = Kernels.minhashSig(u("w1 w2 w3 w4 w5 x1 x2 x3 x4 x5"), 2, 128).toLongArray
    val est = a.zip(c).count { case (x, y) => x == y } / 128.0
    assert(est > 0.15 && est < 0.65, s"estimated sim $est implausible for ~0.3 jaccard")
  }

  test("simhash: identical -> identical; small perturbation -> small hamming") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    val f1 = Kernels.simhash64(u(base))
    val f2 = Kernels.simhash64(u(base))
    assert(f1 === f2)
    val f3 = Kernels.simhash64(u(base + " lambda"))
    assert(java.lang.Long.bitCount(f1 ^ f3) <= 12)
    // unrelated text should be far
    val f4 = Kernels.simhash64(u("one two three four five six seven eight nine ten " * 5))
    assert(java.lang.Long.bitCount(f1 ^ f4) > 12)
  }

  test("hashEmbed: unit norm, deterministic, zero-safe") {
    val v = Kernels.hashEmbed(u("hello world hello"), 64).toFloatArray
    assert(v.length === 64)
    val norm = math.sqrt(v.map(x => x.toDouble * x).sum)
    assert(math.abs(norm - 1.0) < 1e-6)
    assert(Kernels.hashEmbed(u(""), 64).toFloatArray.forall(_ === 0.0f))
  }

  test("cosine/dot on ArrayData") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val a = new GenericArrayData(Array[Any](1.0f, 0.0f))
    val b = new GenericArrayData(Array[Any](0.0f, 2.0f))
    assert(Kernels.cosineF(a, a) === 1.0)
    assert(Kernels.cosineF(a, b) === 0.0)
    assert(Kernels.dotF(a, b) === 0.0)
  }

  test("ngramFps: positional fingerprints = fnv1a64 of ngramsAll, index-aligned") {
    val text = u("The quick  Brown fox\njumps over the quick brown fox")
    val fps = Kernels.ngramFps(text, 3).toLongArray()
    val ngs = Kernels.ngramsAll(text, 3).toArray[org.apache.spark.unsafe.types.UTF8String](
      org.apache.spark.sql.types.StringType)
    assert(fps.length === ngs.length)
    fps.indices.foreach(i => assert(fps(i) === Kernels.fnv1a64(ngs(i).toString)))
    assert(Kernels.ngramFps(u("one two"), 3).numElements() === 0)
  }

  test("bloom: no false negatives — every inserted text hits its own filter") {
    val rnd = new scala.util.Random(7)
    val vocab = Array.tabulate(400)(i => s"w$i")
    val texts = Array.fill(200)(
      u(Array.fill(12)(vocab(rnd.nextInt(vocab.length))).mkString(" ")))
    val fps = texts.flatMap(t => Kernels.ngramFps(t, 3).toLongArray()).distinct
    val bits = Kernels.bloomBuild(fps, 12)
    val k = Kernels.bloomK(12)
    // [n_distinct, n_hits]: every distinct shingle of an inserted text hits
    texts.foreach { t =>
      val h = Kernels.bloomShingleHits(t, 3, bits, k).toLongArray()
      assert(h(0) > 0 && h(1) === h(0))
    }
  }

  test("bloomShingleHits: text sharing a shingle with the filtered set always hits") {
    val evalText = u("alpha beta gamma delta epsilon zeta eta theta")
    val evalFps = Kernels.ngramFps(evalText, 3).toLongArray()
    val bits = Kernels.bloomBuild(evalFps, 12)
    val k = Kernels.bloomK(12)
    def hits(t: String): Seq[Long] = Kernels.bloomShingleHits(u(t), 3, bits, k).toLongArray().toSeq
    // shares the shingle "gamma delta epsilon"
    assert(hits("xx yy gamma delta epsilon zz")(1) >= 1L)
    // identical text trivially hits on every shingle
    assert(hits("alpha beta gamma delta epsilon zeta eta theta") === Seq(6L, 6L))
    // too short for any shingle -> [0, 0]
    assert(hits("alpha beta") === Seq(0L, 0L))
    // overwhelmingly-likely miss for disjoint vocabulary
    assert(hits("q1 q2 q3 q4 q5 q6 q7 q8") === Seq(6L, 0L))
  }

  test("dropSpans: span walk, case preservation, boundary and empty cases") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    def spans(xs: Long*) = new GenericArrayData(xs.toArray.map(_.asInstanceOf[Any]))
    val r = Kernels.dropSpans(u("A b C d E f"), spans(1L, 3L, 4L, 5L))
    assert(r.getLong(0) === 6L && r.getLong(1) === 3L)
    assert(r.getUTF8String(2).toString === "A d f")
    // no spans -> normalized rejoin
    val r2 = Kernels.dropSpans(u("  x\t y  "), spans())
    assert(r2.getLong(0) === 2L && r2.getUTF8String(2).toString === "x y")
    // full-cover span -> empty cleaned
    val r3 = Kernels.dropSpans(u("a b c"), spans(0L, 3L))
    assert(r3.getLong(1) === 0L && r3.getUTF8String(2).toString === "")
    // empty text
    val r4 = Kernels.dropSpans(u(""), spans(0L, 2L))
    assert(r4.getLong(0) === 0L && r4.getUTF8String(2).toString === "")
  }

  test("jaccardSortedFps: merge-pass equals set jaccard; empties are 0") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    def arr(xs: Long*) = new GenericArrayData(xs.toArray.map(_.asInstanceOf[Any]))
    assert(Kernels.jaccardSortedFps(arr(1L, 2L, 3L), arr(2L, 3L, 4L)) === 0.5)
    assert(Kernels.jaccardSortedFps(arr(-5L, 1L), arr(-5L, 1L)) === 1.0)
    assert(Kernels.jaccardSortedFps(arr(), arr(1L)) === 0.0)
    // agreement with the string-set definition through shingleFpsSorted
    val a = Kernels.shingleFpsSorted(u("the quick brown fox jumps"), 3)
    val b = Kernels.shingleFpsSorted(u("the quick brown fox sleeps"), 3)
    // shingle sets: {tqb, qbf, bfj} vs {tqb, qbf, bfs} -> J = 2/4
    assert(Kernels.jaccardSortedFps(a, b) === 0.5)
  }

  test("nfcNormalize composes decomposed sequences; stripAccents folds marks only") {
    // e + combining acute -> precomposed é
    assert(Kernels.nfcNormalize(u("é")).toString === "é")
    // already-NFC input passes through unchanged (same object, no copy)
    val composed = u("café")
    assert(Kernels.nfcNormalize(composed) eq composed)
    assert(Kernels.stripAccents(u("é")).toString === "e")
    assert(Kernels.stripAccents(u("café niño über")).toString === "cafe nino uber")
    // characters WITHOUT a canonical decomposition pass through (the
    // conservative contract DuckDB's strip_accents shares)
    assert(Kernels.stripAccents(u("øß")).toString === "øß")
    // pure ASCII short-circuits untouched
    val ascii = u("plain ascii")
    assert(Kernels.stripAccents(ascii) eq ascii)
  }

  test("canonicalizeUrl: case, ports, slash, utm params, param order") {
    def c(s: String) = Kernels.canonicalizeUrl(u(s)).toString
    assert(c("HTTPS://Host.Example.COM:443/Path/?utm_source=x&b=2&a=1") ===
      "https://host.example.com/Path?a=1&b=2")
    assert(c("http://h:80/") === "http://h/")
    // non-default port kept; path case preserved
    assert(c("http://h:8080/A") === "http://h:8080/A")
    // https on :80 is NOT default — kept
    assert(c("https://h:80/x") === "https://h:80/x")
    // no query, no path
    assert(c("HTTP://H") === "http://h/")
    // only utm params -> query dropped entirely
    assert(c("http://h/p?utm_a=1&utm_b=2") === "http://h/p")
    // root slash is not a trailing slash
    assert(c("http://h/?a=1") === "http://h/?a=1")
    // unparseable passes through
    assert(c("not a url") === "not a url")
    // fragments never identify a distinct resource: dropped before parsing
    assert(c("http://h/p#sec") === c("http://h/p"))
    assert(c("http://h/p?a=1#sec") === "http://h/p?a=1")
    // a '?' after '#' is part of the fragment, not a real query
    assert(c("http://h/p#frag?b=2") === "http://h/p")
    // fragment inside a query param token must not split the params
    assert(c("http://h/p?a=1#x&b=2") === "http://h/p?a=1")
  }

  test("MGSummary: merge over capacity keeps the bound; weighted add decrements") {
    import graft.functions.MGSummary
    val a = new MGSummary(3)
    Seq("x", "x", "x", "y", "y", "z").foreach(a.add(_, 1L))
    val b = new MGSummary(3)
    Seq("w", "w", "w", "w", "y", "q").foreach(b.add(_, 1L))
    a.mergeFrom(b)
    assert(a.counts.size <= 3)
    // x(3) and w(4) dominate; after the (c+1)-th-largest subtraction they
    // must survive with under-estimates
    assert(a.counts.containsKey("x") && a.counts.containsKey("w"))
    assert(a.counts.get("x") <= 3L && a.counts.get("w") <= 4L)
    // full decrement path: inserting into a full summary with a large min
    val c = new MGSummary(2)
    c.add("a", 5L); c.add("b", 5L)
    c.add("c", 1L) // decrements both by 1, c not inserted
    assert(c.counts.get("a") === 4L && c.counts.get("b") === 4L && !c.counts.containsKey("c"))
  }

  test("termFreqs: dl and per-term token-equality counts in one pass") {
    val out = Kernels.termFreqs(u("Spark spark JOIN sparkle  join spark"), Array("spark", "join"))
      .toLongArray()
    assert(out.toSeq === Seq(6L, 3L, 2L))
    assert(Kernels.termFreqs(u(""), Array("x")).toLongArray().toSeq === Seq(0L, 0L))
  }
}
