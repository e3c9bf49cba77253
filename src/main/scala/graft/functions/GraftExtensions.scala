package graft.functions

import org.apache.spark.sql.{Column, GraftBridge, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.Decimal

/** SparkSessionExtensions hook: registers graft's kernels in the SQL
  * function registry, so SQL users get them alongside the DataFrame API:
  *
  *   SELECT minhash_sig(text, 3, 128), simhash64(text) FROM documents
  *
  * Each SQL function builds the same [[KernelCall]] as its `gf` function.
  * Activate with
  *   SparkSession.builder.withExtensions(new GraftExtensions) or
  *   --conf spark.sql.extensions=graft.functions.GraftExtensions
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftExtensions.Args

  /** (name, arity, usage, builder) of every SQL function. */
  private val fns: Seq[(String, Int, String, Args => Column)] = Seq(
    ("word_shingles", 2, "word_shingles(text, n) - distinct word n-gram shingles",
      a => gf.shingles(a.col(0), a.int(1))),
    ("minhash_sig", 3, "minhash_sig(text, n, k) - k-permutation MinHash signature over word n-grams",
      a => gf.minhashSig(a.col(0), a.int(1), a.int(2))),
    ("simhash64", 1, "simhash64(text) - 64-bit SimHash fingerprint",
      a => gf.simhash64(a.col(0))),
    ("hash_embed", 2, "hash_embed(text, dim) - L2-normalized feature-hash embedding",
      a => gf.hashEmbed(a.col(0), a.int(1))),
    ("cosine_sim", 2, "cosine_sim(a, b) - cosine similarity of two float vectors",
      a => gf.cosine(a.col(0), a.col(1))),
    ("dot_product", 2, "dot_product(a, b) - dot product of two float vectors",
      a => gf.dot(a.col(0), a.col(1))),
    ("sig_agreement", 2, "sig_agreement(a, b) - fraction of agreeing signature positions",
      a => gf.sigAgreement(a.col(0), a.col(1))),
    ("hyperplane_bucket", 3, "hyperplane_bucket(vec, bits, seed) - random-hyperplane LSH bucket id",
      a => gf.hyperplaneBucket(a.col(0), a.int(1), a.long(2))),
    ("bucket_pairs_cos", 2, "bucket_pairs_cos(items, minCos) - id pairs in a bucket with cosine >= minCos",
      a => gf.bucketPairsCos(a.col(0), a.double(1))),
    ("repetition_stats", 1, "repetition_stats(text) - [n_lines, dup_line_frac, dup_line_char_frac, top_bigram_frac]",
      a => gf.repetitionStats(a.col(0))),
    ("char_bigram_counts", 1, "char_bigram_counts(text) - packed (code << 32 | count) char-bigram counts",
      a => gf.charBigramCounts(a.col(0))),
    ("canonicalize_url", 1, "canonicalize_url(url) - canonical crawl-frontier form of a URL",
      a => gf.canonicalizeUrl(a.col(0))),
    ("nfc_normalize", 1, "nfc_normalize(text) - Unicode NFC canonical composition",
      a => gf.nfcNormalize(a.col(0))),
    ("strip_accents", 1, "strip_accents(text) - NFD decompose + drop combining marks",
      a => gf.stripAccents(a.col(0))),
    ("media_header", 1, "media_header(bytes) - decoded PNG/JPEG/WAV/GIF header struct",
      a => gf.mediaHeader(a.col(0))),
    ("audio_stats", 1, "audio_stats(bytes) - [sample_rate, channels, n_samples, peak, sum_sq] of a WAV payload",
      a => gf.audioStats(a.col(0))),
    ("video_frames", 2, "video_frames(bytes, stride) - [w, h, checksum per sampled frame] of a video payload",
      a => gf.videoFrames(a.col(0), a.int(1))))

  override def apply(ext: SparkSessionExtensions): Unit = fns.foreach { case (name, arity, usage, build) =>
    val info = new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")
    ext.injectFunction((FunctionIdentifier(name), info, (args: Seq[Expression]) => {
      if (args.length != arity) throw new IllegalArgumentException(
        s"$name expects $arity arguments, got ${args.length}")
      GraftBridge.expression(build(new Args(name, args)))
    }))
  }
}

object GraftExtensions {
  /** A SQL call's arguments: columns pass through as they are; scalar
    * parameters must be literals, read here as the kernel's parameter type. */
  private final class Args(fn: String, exprs: Seq[Expression]) {
    def col(i: Int): Column = GraftBridge.column(exprs(i))
    def int(i: Int): Int = literal(i, "an integer") { case v: Int => v }
    def long(i: Int): Long = literal(i, "an integer") { case v: Int => v.toLong; case v: Long => v }
    def double(i: Int): Double = literal(i, "a numeric") {
      case v: Int => v.toDouble; case v: Long => v.toDouble
      case v: Double => v; case v: Decimal => v.toDouble
    }
    private def literal[T](i: Int, kind: String)(read: PartialFunction[Any, T]): T = exprs(i) match {
      case Literal(v, _) if read.isDefinedAt(v) => read(v)
      case other => throw new IllegalArgumentException(
        s"$fn: argument ${i + 1} must be $kind literal, got $other")
    }
  }
}
