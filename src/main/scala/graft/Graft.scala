package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.io.{Datasets, Tables}
import graft.llm._

/** The user-facing SDK facade — the reference's `Sutro` client surface
  * (sutro/sdk.py) re-expressed over a SparkSession.
  *
  * A reference user migrates by swapping `Sutro()` for `Graft(spark)`:
  * `infer`, `classify`, `score`, `embed`, `rank`, `elo`, job lifecycle and
  * dataset registry keep their shapes; every operation is a lazy DataFrame
  * transform until a job is submitted (which materializes to the local
  * parquet result cache, like the reference's ~/.sutro cache).
  */
class Graft(val spark: SparkSession, datasetRoot: String = "target/graft/datasets") {

  val datasets = new Datasets(datasetRoot)

  /** Load any supported input into a DataFrame (list/csv/parquet/txt/jsonl;
    * reference: sutro/common.py:119 prepare_input_data). */
  def load(path: String): DataFrame = Tables.load(spark, path)

  def fromSeq(items: Seq[String], column: String = "text"): DataFrame = {
    import spark.implicits._
    items.toDF(column)
  }

  /** Unified input resolution with the reference's validation semantics
    * (sutro/common.py:116 prepare_input_data): `dataset-*` ids resolve via
    * the dataset registry and REQUIRE a non-empty column name; csv/parquet
    * paths require a column; txt paths become one line per row. Returns the
    * DataFrame and the resolved prompt column. */
  def prepareInput(data: String, column: Option[String] = None): (DataFrame, String) = {
    if (data.startsWith("dataset-") || datasets.list().contains(data)) {
      val c = column.map(_.trim).getOrElse("")
      if (c.isEmpty)
        throw new IllegalArgumentException("Column name must be a non-empty string for dataset input")
      val file = datasets.listFiles(data).headOption.getOrElse(
        throw new IllegalArgumentException(s"dataset $data is empty"))
      (datasets.download(spark, data, file), c)
    } else {
      val ext = data.lastIndexOf('.') match {
        case -1 => ""
        case i => data.substring(i + 1).toLowerCase
      }
      ext match {
        case "csv" | "parquet" =>
          val c = column.getOrElse(
            throw new IllegalArgumentException("Column name must be specified for CSV/Parquet input"))
          (Tables.load(spark, data), c)
        case "txt" | "" => (Tables.load(spark, data), "line")
        case other => throw new IllegalArgumentException(s"Unsupported file type: .$other")
      }
    }
  }

  /** Run a model over one or more columns (reference: sutro/sdk.py:465).
    * dryRun returns the cost estimate frame instead of running.
    * outputSchema is the reference's `output_schema`/json_schema analog:
    * when set, the structured output is unpacked against that schema with
    * no data probe (and it wins over unpackJson's inferred-schema path).
    * samplingParams mirrors the reference's sampling_params dict: keys are
    * validated against the backend-supported set; the deterministic local
    * models are sampling-independent, so validated params are accepted and
    * recorded but do not change output (a remote backend consumes them in
    * Model.generate). */
  def infer(
      df: DataFrame,
      model: Model,
      column: Seq[String],
      outputColumn: String = "inference_result",
      systemPrompt: Option[String] = None,
      truncateRows: Boolean = true,
      unpackJson: Boolean = false,
      dryRun: Boolean = false,
      randomSeedPerInput: Boolean = false,
      outputSchema: Option[org.apache.spark.sql.types.StructType] = None,
      samplingParams: Map[String, Double] = Map.empty): DataFrame = {
    val knownSamplingKeys = Set(
      "temperature", "top_p", "top_k", "max_tokens", "seed",
      "frequency_penalty", "presence_penalty", "repetition_penalty")
    val unknown = samplingParams.keySet -- knownSamplingKeys
    require(unknown.isEmpty,
      s"Unsupported sampling_params: ${unknown.toSeq.sorted.mkString(", ")} " +
        s"(supported: ${knownSamplingKeys.toSeq.sorted.mkString(", ")})")
    if (dryRun) return Infer.estimateCost(df, model, column, truncateRows)
    val inferred = Infer.infer(df, model, column, outputColumn, systemPrompt,
      truncateRows, randomSeedPerInput)
    outputSchema match {
      case Some(schema) => Results.unpackJsonWithSchema(inferred, schema, outputColumn)
      case None => if (unpackJson) Results.unpackJson(inferred, outputColumn) else inferred
    }
  }

  /** Fan the same input out across multiple models, one job per model
    * (reference: sutro/sdk.py:745 infer_per_model). Returns the job ids in
    * model order; results carry `<outputColumn>` per job. */
  def inferPerModel(
      df: DataFrame,
      models: Seq[Model],
      column: Seq[String],
      names: Option[Seq[String]] = None,
      outputColumn: String = "inference_result",
      systemPrompt: Option[String] = None,
      truncateRows: Boolean = true): Seq[String] = {
    names.foreach(n => require(n.length == models.length,
      "names parameter must be the same length as the models parameter."))
    models.zipWithIndex.map { case (m, i) =>
      val out = Infer.infer(df, m, column, outputColumn, systemPrompt, truncateRows)
      submitJob(out, names.map(_(i)).orElse(Some(s"infer-${m.name}")))
    }
  }

  def classify(
      df: DataFrame,
      classes: Seq[String],
      column: Seq[String],
      outputColumn: String = "classification_result",
      includeScratchpad: Boolean = false): DataFrame =
    Templates.classify(df, classes, column, outputColumn, includeScratchpad)

  def score(
      df: DataFrame,
      column: Seq[String],
      criteria: Seq[String],
      scoreColumnName: String = "score",
      range: (Int, Int) = (0, 10)): DataFrame =
    Templates.score(df, column, criteria, scoreColumnName, range)

  def embed(
      df: DataFrame,
      column: Seq[String],
      outputColumn: String = "inference_result",
      dim: Int = 64): DataFrame =
    Templates.embed(df, column, outputColumn, dim)

  def rank(
      df: DataFrame,
      optionLabels: Seq[String],
      rankingColumnName: String = "ranking",
      criteria: Seq[String] = Seq.empty): DataFrame =
    Templates.rank(df, optionLabels, rankingColumnName, criteria)

  /** rank with the reference's run_elo=True chaining: returns the ranked
    * frame and the Elo ratings fit over the produced ballots. */
  def rankWithElo(
      df: DataFrame,
      optionLabels: Seq[String],
      rankingColumnName: String = "ranking",
      criteria: Seq[String] = Seq.empty): (DataFrame, DataFrame) =
    Templates.rankWithElo(df, optionLabels, rankingColumnName, criteria)

  /** Elo ratings from ranking ballots (reference: sutro/templates/evals.py:182). */
  def elo(ballots: DataFrame, column: String): DataFrame = Elo.ratings(ballots, column)

  // ----- function endpoint (reference: run_function sdk.py:539,
  //       batch_run_function sdk.py:617) -----

  /** Immediate single-input function execution returning the standardized
    * {response, confidence, predictions, run_id} shape. */
  def runFunction(name: String, inputData: Map[String, String]): Functions.FunctionResult =
    Functions.run(spark, name, inputData)

  /** Batch function execution over a frame: infer + job submission at
    * priority 1; returns the job id. dryRun materializes cost estimates. */
  def batchRunFunction(
      name: String,
      df: DataFrame,
      outputColumn: String = "inference_result",
      jobName: Option[String] = None,
      dryRun: Boolean = false): String =
    Functions.batchRun(df, name, outputColumn, jobName, dryRun)

  /** Register a custom named function backed by any [[Model]]. */
  def registerFunction(name: String, model: Model): Unit = Functions.register(name, model)

  // ----- jobs (reference: create/status/await/cancel/results) -----
  def submitJob(df: DataFrame, name: Option[String] = None, priority: Int = 0): String =
    Jobs.submit(df, name, priority)
  /** Submit with streamed progress ticks (reference attach, sdk.py:853). */
  def submitJob(df: DataFrame, name: Option[String], priority: Int,
      onProgress: Jobs.JobProgress => Unit): String =
    Jobs.submit(df, name, priority, onProgress)
  def jobStatus(id: String): Jobs.Status = Jobs.status(id)
  /** Why a job failed (reference _get_failure_reason, sdk.py:1073); None
    * for unknown, succeeded, or cancelled jobs. */
  def jobFailureReason(id: String): Option[String] = Jobs.failureReason(id)
  /** Stream a job's status transitions until terminal (reference attach). */
  def attachJob(id: String, onUpdate: Jobs.Status => Unit): Jobs.Status =
    Jobs.attach(id, onUpdate)
  def cancelJob(id: String): Jobs.Status = Jobs.cancel(id)
  def listJobs(): Seq[Jobs.Job] = Jobs.list()
  def awaitJob(id: String): Jobs.Status = Jobs.await(id)

  /** Await a terminal state and return the results frame (reference
    * await_job_completion, sutro/sdk.py:1643). Throws if the job did not
    * succeed. */
  def awaitJobCompletion(
      id: String,
      outputColumn: String = "inference_result",
      unpackJson: Boolean = true,
      pollMillis: Long = 100,
      timeoutMillis: Long = 60000): DataFrame = {
    val status = Jobs.await(id, pollMillis, timeoutMillis)
    if (status != Jobs.Succeeded) throw new IllegalStateException(
      if (status.isTerminal) s"job $id finished as $status"
      else s"job $id did not reach a terminal state within ${timeoutMillis}ms (last status: $status)")
    jobResults(id, outputColumn = outputColumn, unpackJson = unpackJson)
  }

  /** Full get_job_results parity (sutro/sdk.py:1131): cached read, column
    * ordering (inputs / metadata / output / diagnostics), optional JSON
    * unpack (incl. reasoning nesting), optional join-back by id column.
    * The cache is read with the schema recorded at submit (no footer
    * inference), which keeps a model's declared output schema, so a
    * declared output unpacks without a probe job. */
  def jobResults(
      id: String,
      includeInputs: Boolean = false,
      includeCumulativeLogprobs: Boolean = false,
      withOriginalDf: Option[(DataFrame, String)] = None,
      outputColumn: String = "inference_result",
      unpackJson: Boolean = true): DataFrame = {
    var df = Jobs.results(spark, id)
    if (df.columns.contains(outputColumn)) {
      df = Results.orderColumns(df, outputColumn, includeInputs, includeCumulativeLogprobs)
      if (unpackJson) df = Results.unpackJson(df, outputColumn)
    }
    withOriginalDf match {
      case Some((orig, idCol)) => Results.withOriginalDf(orig, df, idCol)
      case None => df
    }
  }
}

object Graft {
  def apply(spark: SparkSession): Graft = new Graft(spark)
}
