package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Graft
import graft.functions.gf
import graft.llm.{Functions, Infer, JudgeScorer, KeywordClassifier}
import graft.ops.{Corpus, Dedup, TextAnalysis}
import graft.streaming.Streams

final case class Ctx(spark: SparkSession, graft: Graft, inputs: String, tracer: Tracer) {
  def path(table: String): String = s"$inputs/$table.parquet"
  def span[A](name: String)(body: => A): A = tracer.span(name)(body)
}

/** What one batch pass did: the input rows it consumed and the ms it took
  * to fully materialized, checked results, the operations it attempted and
  * the checks that failed. */
final case class PassResult(rows: Long, ms: Double, attempted: Int, failures: Seq[String])

/** What a run of client calls did: each call's latency, the calls made and
  * the answers that were wrong. */
final case class CallsResult(ms: Seq[Double], attempted: Int, failures: Seq[String])

object CallsResult {
  val none = CallsResult(Seq.empty, 0, Seq.empty)
}

/** One benchmark workload: batch passes, and an interactive client where
  * the workload has one. `prepare` computes the benchmark's own reference
  * answers once per run; `pass` drives graft through its public API and
  * checks every output against them. */
trait Workload {
  def name: String
  /** The generated tables this workload reads. */
  def tables: Seq[String]
  def prepare(ctx: Ctx): Unit
  def pass(ctx: Ctx): PassResult
  def client: Option[Client] = None
  /** Per-layer metrics of one traced pass, from its spans. */
  def layers(ctx: Ctx, pass: Int): Map[String, Double] = Map.empty
  /** Traced-run layer measurements made once, after the measured passes. */
  def probes(ctx: Ctx): Map[String, Double] = Map.empty
}

object Workload {
  def apply(name: String): Workload = name match {
    case "llm" => new Llm
    case "data_prep" => new DataPrep
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Times `body` in ms. */
  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e6)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      s(math.max(0, math.ceil(q * s.size).toInt - 1))
    }
}

/** Order-independent content digest of a frame: (rows, id checksum, row
  * checksum). Materializes every column, and compares equal for frames
  * holding the same multiset of rows. Columns are renamed by position, so
  * frames with repeated column names (a join-back) digest too. */
object Digest {
  private val P = 2147483647L

  def apply(df: DataFrame, idCol: Option[String] = None): (Long, Long, Long) = {
    val idPos = idCol.map(c => df.columns.indexOf(c))
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val idSum = idPos.fold(lit(0L))(i => sum(pmod(xxhash64(col(s"c$i")), lit(P))))
    val r = named
      .agg(count(lit(1)), idSum, sum(pmod(xxhash64(named.columns.map(col).toSeq: _*), lit(P))))
      .head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2))
  }
}

/** Batch LLM jobs over word-permuted replicas of a document corpus: infer
  * with a judge model then the job → results round trip with JSON unpack and
  * join-back, classify + job, embed, and rank with Elo. */
final class LlmBatch {
  import Workload._
  private val classes = Seq("join", "window", "stream")
  private var rows = 0L
  private var idSum = 0L
  private var inputBytes = 0L
  private var first: Option[(Seq[(String, (Long, Long, Long))], Seq[String])] = None

  def prepare(ctx: Ctx): Unit = {
    val (n, ids, _) = Digest(ctx.spark.read.parquet(ctx.path("llm_docs")), Some("doc_id"))
    Inputs.checkRows(ctx.inputs, "llm_docs", n)
    rows = n
    idSum = ids
    inputBytes = new java.io.File(ctx.path("llm_docs")).listFiles().map(_.length).sum
  }

  def pass(ctx: Ctx): PassResult = {
    val g = ctx.graft
    val failures = Seq.newBuilder[String]
    def rowsAndIds(what: String, d: (Long, Long, Long)): Unit =
      if (d._1 != rows || d._2 != idSum)
        failures += s"$what: ${d._1} rows / id checksum ${d._2}, input has $rows / $idSum"
    val (outputs @ (digests, _), ms) = timed {
      val docs = g.load(ctx.path("llm_docs"))
      val judged = ctx.span("llm.infer") {
        val inferred = g.infer(docs, JudgeScorer(0, 10), Seq("lang", ": ", "text"),
          systemPrompt = Some("Score how useful this document is for training."))
        ctx.span("jobs.submit")(g.submitJob(inferred, Some("judge")))
      }
      val judgedOut = ctx.span("results.read") {
        val res = ctx.span("results.call")(
          g.jobResults(judged, withOriginalDf = Some((docs, "doc_id"))))
        Digest(res, Some("doc_id"))
      }
      val classified = ctx.span("llm.classify") {
        val c = g.classify(docs, classes, Seq("text"))
        ctx.span("jobs.submit")(g.submitJob(c, Some("classify")))
      }
      val classifiedOut = ctx.span("results.read")(
        Digest(ctx.span("results.call")(g.jobResults(classified, unpackJson = false)),
          Some("doc_id")))
      val embedded = ctx.span("llm.embed")(Digest(g.embed(docs, Seq("text")), Some("doc_id")))
      val words = split(col("text"), " ")
      val options = docs.select(col("doc_id"), element_at(words, 1).as("a"),
        element_at(words, 2).as("b"), element_at(words, 3).as("c"), element_at(words, 4).as("d"))
      val (ranked, elo) = ctx.span("llm.elo")(
        ctx.span("llm.rank_with_elo_call")(g.rankWithElo(options, Seq("a", "b", "c", "d"))))
      val rankedOut = ctx.span("llm.rank")(Digest(ranked, Some("doc_id")))
      val ratings = ctx.span("llm.elo")(elo.collect().toSeq.map(_.toString))
      (Seq("judge results" -> judgedOut, "classify results" -> classifiedOut,
        "embed" -> embedded, "rank" -> rankedOut), ratings)
    }
    digests.foreach { case (what, d) => rowsAndIds(what, d) }
    first match {
      case None => first = Some(outputs)
      case Some(f) => if (f != outputs) failures += "llm batch output digests differ from the first pass"
    }
    PassResult(rows, ms, 1, failures.result())
  }

  def layers(ctx: Ctx, p: Int): Map[String, Double] = {
    val t = ctx.tracer
    val submit = t.counts(p, "jobs.submit")
    Map(
      "llm.infer_ms" -> t.ms(p, "llm.infer"),
      "llm.classify_ms" -> t.ms(p, "llm.classify"),
      "llm.embed_ms" -> t.ms(p, "llm.embed"),
      "llm.rank_ms" -> t.ms(p, "llm.rank"),
      "llm.elo_ms" -> t.ms(p, "llm.elo"),
      "llm.rank_with_elo_call_ms" -> t.ms(p, "llm.rank_with_elo_call"),
      "jobs.submit_ms" -> t.ms(p, "jobs.submit"),
      "jobs.rows_written" -> submit.rowsWritten.toDouble,
      "jobs.bytes_per_input_byte" ->
        submit.bytesWritten.toDouble / inputBytes,
      "results.read_ms" -> t.ms(p, "results.read"),
      "results.spark_jobs" -> t.counts(p, "results.call").jobs.toDouble)
  }

  /** `Graft.load` of the documents scanned in full, and each kernel as one
    * column over them, each written to the noop sink; median of three after
    * one warm-up. The scan's read counts are its own, not the pass's
    * rescans. */
  def probes(ctx: Ctx): Map[String, Double] = {
    def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()
    val loadMs = Seq.fill(4)(timed(ctx.span("io.load")(noop(ctx.graft.load(ctx.path("llm_docs")))))._2)
    ctx.tracer.drain()
    val read = ctx.tracer.passSpans(-1).filter(_.name == "io.load").last.counts
    val docs = ctx.spark.read.parquet(ctx.path("llm_docs"))
    val text = col("text")
    val kernels = Seq(
      "kernel.hash_embed_ns_per_row" -> gf.hashEmbed(text, 64),
      "kernel.keyword_classify_ns_per_row" -> KeywordClassifier(classes).classification(text),
      "kernel.judge_score_ns_per_row" -> JudgeScorer(0, 10).score(text),
      "kernel.quality_lang_stats_ns_per_row" -> TextAnalysis.qualityLangStats(text),
      "kernel.fingerprint_ns_per_row" -> TextAnalysis.fingerprint(text),
      "kernel.regroup_lines_ns_per_row" -> gf.regroupLines(text, 2))
    kernels.map { case (metric, k) =>
      def run(): Double = timed(noop(docs.select(k.as("k"))))._2
      run()
      metric -> median(Seq.fill(3)(run())) * 1e6 / rows
    }.toMap ++ Map(
      "io.load_ms" -> median(loadMs.drop(1)),
      "io.rows_read" -> read.rowsRead.toDouble,
      "io.bytes_read" -> read.bytesRead.toDouble)
  }
}

/** Corpus cleaning: quality filter, exact dedup, MinHash-LSH near dedup and
  * decontamination against a held-out tenth, over a corpus with
  * zipf-tailed exact duplication and one-word-edited near duplicates. */
final class CorpusClean {
  import Workload._
  private var rows = 0L
  private var corpusRows = 0L
  private var pinnedBytes = 0L
  private var first: Option[Map[String, Long]] = None

  private def split(docs: DataFrame): (DataFrame, DataFrame) =
    (docs.where(pmod(col("doc_id"), lit(10)) =!= 0), docs.where(pmod(col("doc_id"), lit(10)) === 0))

  def prepare(ctx: Ctx): Unit = {
    val docs = ctx.spark.read.parquet(ctx.path("clean_docs"))
    rows = docs.count()
    Inputs.checkRows(ctx.inputs, "clean_docs", rows)
    corpusRows = split(docs)._1.count()
  }

  def pass(ctx: Ctx): PassResult = {
    val failures = Seq.newBuilder[String]
    val ((stages, distinctIds), ms) = timed {
      val (corpus, evalSet) = split(ctx.graft.load(ctx.path("clean_docs")))
      val out = ctx.span("ops.clean_call")(
        Corpus.cleanPipeline(corpus, evalSet, "text", "doc_id", gf.regroupLines(col("text"), 2)))
      if (ctx.tracer.recording) pinnedBytes = ctx.spark.sparkContext.getRDDStorageInfo
        .map(i => i.memSize + i.diskSize).sum
      ctx.span("ops.clean_materialize") {
        val stages = out.groupBy("stage").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        (stages, out.select(countDistinct(col("doc_id"))).head().getLong(0))
      }
    }
    val total = stages.values.sum
    if (total != corpusRows) failures += s"stage counts sum to $total, the corpus has $corpusRows"
    if (distinctIds != total) failures += s"$total output rows but $distinctIds distinct ids"
    if (!stages.contains("kept")) failures += "no document kept"
    first match {
      case None => first = Some(stages)
      case Some(f) => if (f != stages) failures += s"stage counts changed: $f -> $stages"
    }
    PassResult(rows, ms, 1, failures.result())
  }

  def layers(ctx: Ctx, p: Int): Map[String, Double] = Map(
    "ops.clean_call_ms" -> ctx.tracer.ms(p, "ops.clean_call"),
    "ops.clean_materialize_ms" -> ctx.tracer.ms(p, "ops.clean_materialize"),
    "ops.pinned_bytes" -> pinnedBytes.toDouble)

  /** The pipeline's stages called one at a time on the same input, each
    * stage's input pinned outside its timing. The near-dup stages run on
    * the filter's survivors (LSH canonicalizes exact copies itself). */
  def probes(ctx: Ctx): Map[String, Double] = {
    val (corpus, evalSet) = split(ctx.spark.read.parquet(ctx.path("clean_docs")))
    def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()
    val lined = corpus.select(col("doc_id"), col("text"),
      gf.regroupLines(col("text"), 2).as("__lined")).localCheckpoint(eager = true)
    val filtered = TextAnalysis.filterCorpus(lined, "text", "__lined")
    val (_, filterMs) = timed(noop(filtered))
    val survivors = filtered.where(col("keep")).select("doc_id", "text").localCheckpoint(eager = true)
    val (pairs, lshMs) = timed(
      Dedup.minhashLshPairsVerified(survivors, "text", "doc_id").localCheckpoint(eager = true))
    val verified = pairs.count()
    val candidates = Dedup.minhashLshPairs(survivors, "text", "doc_id", threshold = 0.0).count()
    val (_, ccMs) = timed(noop(Dedup.connectedComponents(pairs)))
    val (_, decontMs) = timed(noop(Dedup.decontaminate(survivors, evalSet, "text", "doc_id")))
    Map(
      "ops.filter_ms" -> filterMs, "ops.lsh_pairs_ms" -> lshMs,
      "ops.components_ms" -> ccMs, "ops.decontaminate_ms" -> decontMs,
      "ops.lsh_candidate_pairs" -> candidates.toDouble,
      "ops.lsh_verified_pairs" -> verified.toDouble,
      "ops.lsh_useful_frac" -> (if (candidates == 0) 0.0 else verified.toDouble / candidates))
  }
}

/** Event-log replay through AvailableNow streams: session windows (state
  * scaling with the user universe) in every pass; the click→purchase
  * stream-stream join (bounded by the chunk budget) and the windowed append
  * aggregation (bounded by open windows) as traced probes. */
final class StreamReplay {
  import Workload._
  private var rows = 0L
  private var sessionTwin = (0L, 0L, 0L)

  private val joinCols = Seq("click_id", "purchase_id", "user_id", "click_ts", "purchase_ts")
  private val sessionCols = Seq(col("user_id").cast("long"), col("n_sessions"), col("n_events"))

  /** The session-window stream's batch twin (graft's StreamingSpec
    * equality), computed with plain Spark over the same events. */
  def prepare(ctx: Ctx): Unit = {
    val ev = graft.io.Tables.events(ctx.spark, ctx.inputs)
    rows = ev.count()
    Inputs.checkRows(ctx.inputs, "events", rows)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id").orderBy("ts", "event_id")
    val sessions = ev
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("is_new", when(col("prev_ts").isNull ||
        col("ts") > col("prev_ts") + expr("INTERVAL 30 MINUTES"), 1L).otherwise(0L))
      .groupBy("user_id")
      .agg(sum(col("is_new")).as("n_sessions"), count(lit(1)).as("n_events"))
      .select(sessionCols: _*)
    sessionTwin = Digest(sessions)
  }

  /** The join's and the window aggregation's batch twins, for the probes. */
  private def probeTwins(ctx: Ctx): Map[String, (Long, Long, Long)] = {
    val ev = graft.io.Tables.events(ctx.spark, ctx.inputs)
    val window = ev
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n_events"), col("sum_value"))
    val clicks = ev.where(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user_id"),
        col("ts").as("purchase_ts"))
    val join = clicks.join(purchases,
        col("user_id") === col("p_user_id") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
      .select(joinCols.map(col): _*)
    Map("window_append" -> Digest(window), "join" -> Digest(join))
  }

  def pass(ctx: Ctx): PassResult = {
    val s = ctx.spark
    val (d, ms) = timed(ctx.span("stream.sessionize")(Digest(
      Streams.sessionizeSessionWindowsAvailableNow(s, ctx.inputs, gapMinutes = 30)
        .select(sessionCols: _*))))
    val failures =
      if (d == sessionTwin) Nil
      else Seq(s"stream sessionize digest $d differs from its batch twin $sessionTwin")
    PassResult(rows, ms, 1, failures)
  }

  def layers(ctx: Ctx, p: Int): Map[String, Double] = {
    val b = ctx.tracer.passBatches(p)
    Map(
      "stream.sessionize_ms" -> ctx.tracer.ms(p, "stream.sessionize"),
      "stream.batches" -> b.size.toDouble,
      "stream.empty_batch_ms" -> b.filter(_.inputRows <= 2).map(_.triggerMs).sum.toDouble,
      "stream.add_batch_ms" -> b.map(_.addBatchMs).sum.toDouble,
      "stream.planning_ms" -> b.map(_.planningMs).sum.toDouble,
      "stream.wal_commit_ms" -> b.map(_.walCommitMs).sum.toDouble,
      "stream.state_commit_ms" -> b.map(_.stateCommitMs).sum.toDouble,
      "stream.state_rows_peak" -> (0L +: b.map(_.stateRows)).max.toDouble,
      "stream.state_mem_peak_mb" -> (0L +: b.map(_.stateMemBytes)).max / 1e6)
  }

  /** The stream join (state bounded by the chunk budget) and the windowed
    * append aggregation (bounded by the open windows), each checked against
    * its twin and timed once, outside the measured passes. Each is the
    * query's first run in the JVM, so its time includes planning and code
    * generation that a warm pass would not pay. */
  def probes(ctx: Ctx): Map[String, Double] = {
    val s = ctx.spark
    val twins = probeTwins(ctx)
    Seq(
      "join" -> (() => Streams.clickAttributionAvailableNow(s, ctx.inputs).select(joinCols.map(col): _*)),
      "window_append" -> (() => Streams.windowAggAppendAvailableNow(s, ctx.inputs))
    ).map { case (key, out) =>
      val (d, ms) = timed(ctx.span(s"stream.$key")(Digest(out())))
      require(d == twins(key), s"stream $key digest $d differs from its batch twin ${twins(key)}")
      s"stream.${key}_ms" -> ms
    }.toMap
  }
}

/** The llm layer used two ways: batch jobs over a corpus (rows_per_s), and
  * the client calling the built-in functions (call latency). A change that
  * buys batch throughput with per-query fixed cost shows in the second. */
final class Llm extends Workload {
  val name = "llm"
  val tables = Seq("llm_docs", "prompts")
  private val batch = new LlmBatch
  override val client = Some(new Client)

  def prepare(ctx: Ctx): Unit = batch.prepare(ctx)
  def pass(ctx: Ctx): PassResult = batch.pass(ctx)
  override def layers(ctx: Ctx, p: Int): Map[String, Double] = batch.layers(ctx, p)
  override def probes(ctx: Ctx): Map[String, Double] = batch.probes(ctx)
}

/** Dataset preparation, the batch work around the LLM jobs: corpus cleaning
  * then event-log stream replay, one after the other in each pass. Both
  * bypass the llm layer; together they load ops, Dedup and streaming. The
  * pass consumes both inputs, so `rows` counts documents plus events. */
final class DataPrep extends Workload {
  val name = "data_prep"
  val tables = Seq("clean_docs", "events")
  private val clean = new CorpusClean
  private val replay = new StreamReplay

  def prepare(ctx: Ctx): Unit = {
    clean.prepare(ctx)
    replay.prepare(ctx)
  }

  def pass(ctx: Ctx): PassResult = {
    val a = clean.pass(ctx)
    val b = replay.pass(ctx)
    PassResult(a.rows + b.rows, a.ms + b.ms, a.attempted + b.attempted, a.failures ++ b.failures)
  }

  override def layers(ctx: Ctx, p: Int): Map[String, Double] =
    clean.layers(ctx, p) ++ replay.layers(ctx, p)

  override def probes(ctx: Ctx): Map[String, Double] = clean.probes(ctx) ++ replay.probes(ctx)
}

/** One client in a closed loop, no think time, calling the built-in
  * functions through `Graft.runFunction`, round-robin, on seeded prompt
  * texts. Each function is paired with the span its calls are traced
  * under. */
final class Client {
  import Workload._
  private val functions = Seq(
    "echo-1" -> "functions.echo", "keyword-classifier-1" -> "functions.classifier",
    "judge-scorer-1" -> "functions.judge", "hash-embedder-1" -> "functions.embedder")
  private var prompts = IndexedSeq.empty[String]
  private var expected = Map.empty[(String, Int), (String, Double)]
  private var next = 0

  /** Every function's answer for every prompt, from batch `Infer.infer`
    * over the prompt table: one output column per function, one query. */
  def prepare(ctx: Ctx): Unit = {
    val answers = functions.indices.foldLeft(
        ctx.spark.read.parquet(ctx.path("prompts")).withColumnRenamed("text", "__prompt")) {
      (df, i) =>
        val out = Infer.infer(df, Functions.resolve(functions(i)._1), Seq("__prompt"),
          outputColumn = s"__out$i")
        val conf = if (out.columns.contains("confidence_score")) col("confidence_score") else lit(1.0)
        out.withColumn(s"__conf$i", conf.cast("double")).drop("confidence_score")
      }
      .orderBy("prompt_id").collect()
    prompts = answers.map(_.getAs[String]("__prompt")).toIndexedSeq
    Inputs.checkRows(ctx.inputs, "prompts", prompts.size.toLong)
    expected = (for {
      (r, p) <- answers.zipWithIndex
      ((fn, _), i) <- functions.zipWithIndex
    } yield (fn, p) -> (r.getAs[String](s"__out$i"), r.getAs[Double](s"__conf$i"))).toMap
  }

  /** `n` calls; one that throws or answers wrong is a failure. */
  def run(ctx: Ctx, n: Int): CallsResult = {
    val failures = Seq.newBuilder[String]
    val lat = (0 until n).map { _ =>
      val (fn, spanName) = functions(next % functions.size)
      val i = (next / functions.size) % prompts.size
      next += 1
      val want = expected((fn, i))
      val (_, ms) = timed {
        try {
          val r = ctx.span(spanName)(ctx.graft.runFunction(fn, Map("text" -> prompts(i))))
          if (r.response != want._1 || r.confidence != want._2)
            failures += s"$fn on prompt $i: got (${r.response.take(60)}, ${r.confidence}), want (${want._1.take(60)}, ${want._2})"
        } catch {
          case e: Exception => failures += s"$fn on prompt $i threw ${e.getClass.getName}: ${e.getMessage}"
        }
      }
      ms
    }
    CallsResult(lat, n, failures.result())
  }

  /** Per function, the p50 of its traced calls in pass `p`; and the Spark
    * jobs a call launches. */
  def layers(ctx: Ctx, p: Int): Map[String, Double] = {
    val t = ctx.tracer
    val spans = t.passSpans(p)
    functions.map { case (_, s) =>
      s"${s}_ms" -> median(spans.filter(_.name == s).map(_.ms))
    }.toMap + ("functions.spark_jobs_per_call" ->
      functions.map(f => t.counts(p, f._2).jobs).sum.toDouble / math.max(spans.size, 1))
  }
}
