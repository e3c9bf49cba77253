package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The `infer` operator: prompt rendering + model application.
  *
  * Mirrors the reference's input preparation semantics
  * (sutro/common.py:77 `do_dataframe_column_concatenation`,
  * sutro/common.py:119 `prepare_input_data`) re-expressed as columnar
  * transforms so Catalyst prunes/pushes everything to the scan.
  */
object Infer {

  /** Render the prompt from one or more column specs.
    *
    * Reference semantics: each entry in `parts` that names an existing
    * column contributes that column (null → "", cast to string); any other
    * entry is a literal separator. Parts are concatenated in order.
    */
  def renderPrompt(df: DataFrame, parts: Seq[String]): Column = {
    val cols = parts.map { p =>
      if (df.columns.contains(p)) coalesce(col(p).cast("string"), lit(""))
      else lit(p)
    }
    if (cols.size == 1) cols.head else concat(cols: _*)
  }

  /** Truncate a prompt to at most `maxTokens` whitespace tokens
    * (reference `truncate_rows`, sutro/sdk.py:480). Token boundaries are
    * normalized to single spaces on truncation, untouched otherwise. A
    * prompt under `maxTokens` chars has at most that many tokens: no split. */
  def truncateTokens(prompt: Column, maxTokens: Int): Column = {
    val toks = split(prompt, "\\s+")
    when(length(prompt) < maxTokens, prompt)
      .when(size(toks) <= maxTokens, prompt)
      .otherwise(array_join(slice(toks, 1, maxTokens), " "))
  }

  /** Deterministic per-input seed (reference `random_seed_per_input`,
    * sutro/sdk.py:479): a stable 63-bit hash of the prompt — identical
    * across executors and retries, distinct per distinct input. */
  def perInputSeed(prompt: Column): Column = abs(xxhash64(prompt))

  /** Run inference: optional system prompt is prepended (separated by two
    * newlines, matching chat-template concatenation), prompt optionally
    * truncated to the model's context window, model applied columnar.
    * With randomSeedPerInput the per-row seed is exposed alongside the
    * output as `<outputColumn>_seed` (our local models are deterministic;
    * a sampling backend would consume it in generate()).
    * A model's declared [[Model.outputSchema]] is stamped on the output
    * column's metadata, so it travels with the data.
    *
    * Returns df + `outputColumn`.
    */
  def infer(
      df: DataFrame,
      model: Model,
      column: Seq[String],
      outputColumn: String = "inference_result",
      systemPrompt: Option[String] = None,
      truncateRows: Boolean = true,
      randomSeedPerInput: Boolean = false): DataFrame = {
    require(column.nonEmpty, "Column name must be specified for DataFrame input")
    var prompt = renderPrompt(df, column)
    if (truncateRows) prompt = truncateTokens(prompt, model.contextWindow)
    systemPrompt.foreach(sp => prompt = concat(lit(sp + "\n\n"), prompt))
    var out = df.withColumn(outputColumn, model.generate(prompt))
    model.outputSchema.foreach(s => out = out.withMetadata(outputColumn, Results.schemaMetadata(s)))
    model.confidence(prompt).foreach(c => out = out.withColumn("confidence_score", c))
    if (randomSeedPerInput) out = out.withColumn(s"${outputColumn}_seed", perInputSeed(prompt))
    out
  }

  /** Deterministic cumulative logprob stand-in: -0.1 per prompt token
    * (reference results carry `cumulative_logprobs`; a real backend fills
    * this from the engine). */
  def cumulativeLogprobs(prompt: Column): Column =
    round(size(split(prompt, "\\s+")) * lit(-0.1), 4)

  /** Dry-run cost estimate (reference `dry_run`, sutro/sdk.py:501): token
    * and cost totals computed distributed, returned as a 1-row frame. */
  def estimateCost(
      df: DataFrame,
      model: Model,
      column: Seq[String],
      truncateRows: Boolean = true): DataFrame = {
    val prompt = renderPrompt(df, column)
    val effective = if (truncateRows) truncateTokens(prompt, model.contextWindow) else prompt
    val toks = size(split(effective, "\\s+")).cast("long")
    df.select(toks.as("t"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("t")).as("total_tokens"),
        max(col("t")).as("max_tokens_per_row"))
      .withColumn("model", lit(model.name))
      .withColumn("est_cost_usd",
        round(col("total_tokens") * lit(model.costPerMTokens) / lit(1e6), 6))
  }
}
