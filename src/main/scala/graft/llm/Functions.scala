package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

/** Named-function execution — the reference's /functions/run surface
  * (sutro/sdk.py:539 run_function, sdk.py:617 batch_run_function)
  * re-expressed locally: a "function" is a registered [[Model]]; immediate
  * runs execute on a 1-row frame and return the standardized result shape
  * {response, confidence, predictions, run_id}; batch runs are infer +
  * job submission (priority 1, like the reference's function batch jobs).
  */
object Functions {

  case class Prediction(label: String, confidence: Double)

  /** The reference's standardized function response (sdk.py:560-571). */
  case class FunctionResult(
      response: String,
      confidence: Double,
      predictions: Seq[Prediction],
      run_id: String)

  private val runCounter = new AtomicLong(0)
  private val registry = new ConcurrentHashMap[String, Model]()

  // built-in functions, addressable by the model's own name
  Seq(EchoModel(), KeywordClassifier(Seq("join", "window", "stream")),
    JudgeScorer(0, 10), HashEmbedder()).foreach(m => registry.put(m.name, m))

  /** Register (or replace) a named function. */
  def register(name: String, model: Model): Unit = registry.put(name, model)

  def resolve(name: String): Model =
    Option(registry.get(name)).getOrElse(
      throw new NoSuchElementException(
        s"unknown function '$name'; registered: ${registry.keySet()}"))

  /** Deterministic prompt from a keyed input: values of the sorted keys,
    * newline-joined (the local analog of the service-side field template). */
  private[graft] def promptFromInput(input: Map[String, String]): String =
    input.toSeq.sortBy(_._1).map(_._2).mkString("\n")

  /** Immediate single-input execution (reference run_function, sdk.py:539).
    *
    * Runs the model on a one-row frame through the exact same columnar
    * path as batch inference, then collects the single result. For
    * classifier functions, `predictions` carries every class scored
    * (winner at its confidence, remaining probability spread uniformly —
    * a deterministic stand-in for a softmax head), sorted by confidence
    * descending then label.
    */
  def run(spark: SparkSession, name: String, inputData: Map[String, String]): FunctionResult = {
    require(inputData.nonEmpty, "input_data must be non-empty")
    val model = resolve(name)
    import spark.implicits._
    val df = Seq(promptFromInput(inputData)).toDF("__prompt")
    val inferred = Infer.infer(df, model, Seq("__prompt"), outputColumn = "__out",
      truncateRows = true)
    // a classifier's winner comes from the SAME truncated prompt infer
    // used (an untruncated recompute could contradict the response when
    // the only keyword sits past the context window), in the same query
    val winnerCol = model match {
      case kc: KeywordClassifier =>
        kc.classification(Infer.truncateTokens(col("__prompt"), kc.contextWindow))
      case _ => lit(null)
    }
    val row = inferred.select(
      col("__out").cast("string"),
      (if (inferred.columns.contains("confidence_score")) col("confidence_score")
       else lit(1.0)).cast("double"),
      winnerCol.cast("string")).head()
    val response = row.getString(0)
    val conf = row.getDouble(1)
    val predictions = model match {
      case kc: KeywordClassifier =>
        val winner = row.getString(2)
        val others = (kc.classes :+ kc.fallback).filterNot(_ == winner)
        val rest = if (others.isEmpty) 0.0 else (1.0 - conf) / others.size
        (Prediction(winner, conf) +: others.map(Prediction(_, rest)))
          .sortBy(p => (-p.confidence, p.label))
      case _ => Seq(Prediction(response, conf))
    }
    FunctionResult(response, conf, predictions, s"run-${runCounter.incrementAndGet()}")
  }

  /** Batch function execution (reference batch_run_function, sdk.py:617):
    * the function consumes whole rows — the prompt is every column of the
    * input frame in sorted-name order — and results land in the job cache
    * under the returned job id. Function batch jobs run at priority 1,
    * like the reference. dryRun materializes the cost estimate instead. */
  def batchRun(
      df: DataFrame,
      name: String,
      outputColumn: String = "inference_result",
      jobName: Option[String] = None,
      dryRun: Boolean = false): String = {
    val model = resolve(name)
    val parts = df.columns.sorted.toSeq.flatMap(c => Seq("\n", c)).drop(1)
    val out =
      if (dryRun) Infer.estimateCost(df, model, parts)
      else Infer.infer(df, model, parts, outputColumn)
    Jobs.submit(out, jobName.orElse(Some(s"function-$name")), priority = 1)
  }
}
