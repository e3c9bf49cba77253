package graft

import graft.functions.{Kernels, gf}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The `gf` kernel functions as Spark runs them: the same rows from
  * whole-stage codegen and from the interpreted path, null in gives null
  * out, and the column names, types and nullability callers see. */
class KernelCallSpec extends SparkSpec {

  private val vecT = ArrayType(FloatType, containsNull = false)
  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("text", StringType),
    StructField("url", StringType),
    StructField("vec", vecT),
    StructField("doc", LongType),
    StructField("junk", BinaryType),
    StructField("spans", ArrayType(LongType, containsNull = false)),
    StructField("bucket", ArrayType(StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("vec", vecT, nullable = false))), containsNull = false))))

  private val text1 = "The quick brown fox jumps over the lazy dog.\n" +
    "Mail a.b@example.com or call 555-123-4567 from 10.0.0.1\nthe quick brown fox"
  private val rows = Seq(
    Row(1L, text1, "HTTP://Example.COM:80/a/?utm_b=1&z=2&a=3", Seq(1f, 0f, 0.5f, 0.25f), 5L,
      "xx".getBytes("UTF-8"), Seq(0L, 2L),
      Seq(Row(1L, Seq(1f, 0f, 0f, 0f)), Row(2L, Seq(1f, 0f, 0f, 0f)), Row(3L, Seq(0f, 1f, 0f, 0f)))),
    Row(2L, "Café naïve résumé über cafe", "https://x.org/b/", Seq(0f, 1f, 1f, 0f), 6L,
      Array.emptyByteArray, Seq(), Seq()),
    Row(3L, null, null, null, null, null, null, null))

  /** An RDD-backed frame, so projections over it are not folded into a
    * local relation by the optimizer. */
  private def frame: DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

  private val centroids = Array(Array(1.0, 0.0, 0.0, 0.0), Array(0.0, 1.0, 1.0, 0.0))
  private val codebooks = Array(1.0, 0.0, 0.0, 1.0, 0.5, 0.25, 1.0, 0.0)
  private val (mins, spans) = (Array.fill(4)(-1f), Array.fill(4)(2f))
  private val lnP = Array.fill(Kernels.BigramVocab * Kernels.BigramVocab)(-2.0)
  private val fps1 = Kernels.shingleFpsSorted(UTF8String.fromString(text1), 3).toLongArray()

  /** Every `gf` kernel function, each by name; nested calls feed kernels
    * whose inputs are other kernels' outputs. */
  private def calls: Seq[(String, Column)] = {
    val (text, url, vec, doc, junk) = (col("text"), col("url"), col("vec"), col("doc"), col("junk"))
    val wav = gf.mediaContainer(doc * 4 + 2, encode(text, "UTF-8"))
    val sorted = gf.shingleFpsSorted(text, 3)
    Seq(
      "shingles" -> gf.shingles(text, 3),
      "ngramsAll" -> gf.ngramsAll(text, 2),
      "minhashSig" -> gf.minhashSig(text, 3, 16),
      "simhash64" -> gf.simhash64(text),
      "hashEmbed" -> gf.hashEmbed(text, 8),
      "cosine" -> gf.cosine(vec, gf.hashEmbed(text, 4)),
      "l2norm" -> gf.l2norm(vec),
      "dot" -> gf.dot(vec, vec),
      "sigAgreement" -> gf.sigAgreement(gf.minhashSig(text, 3, 16), gf.minhashSig(url, 3, 16)),
      "hyperplaneBucket" -> gf.hyperplaneBucket(vec, 6, 42L),
      "repetitionStats" -> gf.repetitionStats(text),
      "pqEncode" -> gf.pqEncode(vec, codebooks, 2, 2),
      "pqTable" -> gf.pqTable(vec, codebooks, 2, 2),
      "pqAdc" -> gf.pqAdc(gf.pqTable(vec, codebooks, 2, 2), gf.pqEncode(vec, codebooks, 2, 2), 2),
      "qualityLangStats" -> gf.qualityLangStats(text),
      "regroupLines" -> gf.regroupLines(text, 2),
      "nfcNormalize" -> gf.nfcNormalize(text),
      "stripAccents" -> gf.stripAccents(text),
      "lineFps" -> gf.lineFps(text),
      "cleanLines" -> gf.cleanLines(text,
        Kernels.lineFps(UTF8String.fromString("the quick brown fox")).toLongArray().sorted),
      "charBigramCounts" -> gf.charBigramCounts(text),
      "bigramLogScore" -> gf.bigramLogScore(text, lnP),
      "ngramFps" -> gf.ngramFps(text, 3),
      "bloomShingleHits" -> gf.bloomShingleHits(text, 3, Kernels.bloomBuild(fps1, 10),
        Kernels.bloomK(10)),
      "shingleFpsSorted" -> sorted,
      "prefixCandidates" -> gf.prefixCandidates(sorted, size(sorted), 0.5, 1, fps1,
        Array.tabulate(fps1.length + 1)(identity), Array.fill(fps1.length)(0),
        Array(7L), Array(fps1.length)),
      "jaccardSortedFps" -> gf.jaccardSortedFps(sorted, gf.shingleFpsSorted(url, 3)),
      "dropSpans" -> gf.dropSpans(text, col("spans")),
      "deflateStats" -> gf.deflateStats(text),
      "termFreqs" -> gf.termFreqs(text, Array("the", "fox")),
      "bucketPairsCos" -> gf.bucketPairsCos(col("bucket"), 0.9),
      "nearestCell" -> gf.nearestCell(vec, centroids),
      "nearestCos" -> gf.nearestCos(vec, centroids),
      "probeCells" -> gf.probeCells(vec, centroids, 2),
      "cellResidual" -> gf.cellResidual(vec, gf.nearestCell(vec, centroids), centroids),
      "mediaContainer" -> wav,
      "mediaHeader" -> gf.mediaHeader(wav),
      "mediaHeaderJunk" -> gf.mediaHeader(junk),
      "canonicalizeUrl" -> gf.canonicalizeUrl(url),
      "rasterContainer" -> gf.rasterContainer(doc),
      "rasterPool2x2" -> gf.rasterPool2x2(gf.rasterContainer(doc)),
      "rasterPool2x2Junk" -> gf.rasterPool2x2(junk),
      "audioStats" -> gf.audioStats(wav),
      "audioStatsJunk" -> gf.audioStats(junk),
      "sqEncode" -> gf.sqEncode(vec, mins, spans),
      "sqCos" -> gf.sqCos(gf.sqEncode(vec, mins, spans), vec, mins, spans),
      "videoContainer" -> gf.videoContainer(doc),
      "videoFrames" -> gf.videoFrames(gf.videoContainer(doc), 2),
      "videoFramesJunk" -> gf.videoFrames(junk, 2),
      "piiScrubStats" -> gf.piiScrubStats(text))
  }

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def plan(df: DataFrame): SparkPlan = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case p => p
  }

  /** (rows ordered by id, whether the plan ran under whole-stage codegen). */
  private def run(): (Seq[Row], Boolean) = {
    val df = frame.select(col("id") +: calls.map { case (n, c) => c.as(n) }: _*)
    (df.collect().toSeq.sortBy(_.getLong(0)), plan(df).exists(_.isInstanceOf[WholeStageCodegenExec]))
  }

  test("every gf kernel: codegen and interpreted paths give the same rows; null in, null out") {
    assert(calls.map(_._1).count(n => !n.endsWith("Junk")) === 46)
    val (codegen, wholeStage) = run()
    val (interpreted, wholeStageOff) = withConf(
      "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(run())
    assert(wholeStage && !wholeStageOff)
    assert(codegen.length === 3)
    for (((name, _), i) <- calls.zipWithIndex; r <- codegen.indices) {
      assert(codegen(r).get(i + 1) == interpreted(r).get(i + 1) ||
        codegen(r).get(i + 1).isInstanceOf[Array[Byte]] && java.util.Arrays.equals(
          codegen(r).getAs[Array[Byte]](i + 1), interpreted(r).getAs[Array[Byte]](i + 1)),
        s"$name differs on row ${r + 1}: ${codegen(r).get(i + 1)} vs ${interpreted(r).get(i + 1)}")
      // the all-null row: null in, null out
      if (r == 2) assert(codegen(r).isNullAt(i + 1), s"$name on nulls")
      else if (name.endsWith("Junk") && name != "mediaHeaderJunk")
        assert(codegen(r).isNullAt(i + 1), s"$name on malformed bytes")
      else assert(!codegen(r).isNullAt(i + 1), s"$name on row ${r + 1}")
    }
    val header = calls.indexWhere(_._1 == "mediaHeaderJunk") + 1
    assert(codegen(0).getStruct(header).getString(0) === "unknown")
    // the kernels did real work on the first row
    val col1 = calls.map(_._1).zip(codegen(0).toSeq.drop(1)).toMap
    assert(col1("audioStats").asInstanceOf[collection.Seq[Long]].head > 0L)
    assert(col1("prefixCandidates") === Seq(7L))
    assert(col1("bucketPairsCos") === Seq(Row(1L, 2L)))
    assert(col1("canonicalizeUrl") === "http://example.com/a?a=3&z=2")
  }

  /** One function of each shape: unary with a scalar parameter, binary,
    * with a constant array, struct-valued, and able to return null. */
  private def pinned: DataFrame = {
    val schema = StructType(Seq(
      StructField("text", StringType), StructField("body", StringType, nullable = false),
      StructField("vec", vecT), StructField("payload", BinaryType),
      StructField("raw", BinaryType, nullable = false)))
    spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row("a b c", "d e f", Seq(1f, 2f), Array[Byte](1), Array[Byte](2))), 1), schema)
      .select(gf.shingles(col("text"), 3), gf.shingles(col("body"), 2),
        gf.cosine(col("vec"), col("vec")), gf.cleanLines(col("text"), Array(1L, 5L)),
        gf.cleanLines(col("body"), Array.emptyLongArray), gf.piiScrubStats(col("body")),
        gf.audioStats(col("payload")), gf.audioStats(col("raw")))
  }

  test("gf surface: column names, types and nullability are pinned") {
    def nn(fields: (String, DataType)*) =
      StructType(fields.map { case (n, t) => StructField(n, t, nullable = false) })
    val cleaned = nn("n_lines" -> LongType, "n_kept" -> LongType, "cleaned" -> StringType)
    val longs = ArrayType(LongType, containsNull = false)
    assert(pinned.schema === StructType(Seq(
      StructField("word_shingles(text)", ArrayType(StringType, containsNull = false)),
      StructField("word_shingles(body)", ArrayType(StringType, containsNull = false),
        nullable = false),
      StructField("cosine_sim(vec, vec)", DoubleType),
      StructField("clean_lines(text)", cleaned),
      StructField("clean_lines(body)", cleaned, nullable = false),
      StructField("pii_scrub_stats(body)", nn("n_email" -> LongType, "n_ip" -> LongType,
        "n_phone" -> LongType, "scrubbed" -> StringType), nullable = false),
      // a parser may return null even for a non-null payload
      StructField("audio_stats(payload)", longs),
      StructField("audio_stats(raw)", longs))))
  }

  test("gf surface: each call is one static Kernels call inside whole-stage codegen") {
    val p = plan(pinned)
    val inStage = p.collect { case w: WholeStageCodegenExec => w }
      .flatMap(_.child.flatMap(_.expressions.flatMap(_.collect {
        case s: StaticInvoke if s.objectName == "graft.functions.Kernels" => s.functionName
      })))
    assert(inStage.sorted === Seq("audioStats", "audioStats", "cleanLines", "cleanLines",
      "cosineF", "piiScrubStats", "shingles", "shingles"))
    assert(p.flatMap(_.expressions.flatMap(_.collect { case e: CodegenFallback => e })).isEmpty)
  }
}
