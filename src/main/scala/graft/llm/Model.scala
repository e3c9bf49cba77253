package graft.llm

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** A model in graft is a pure columnar transform prompt→output.
  *
  * The reference (sutro/sdk.py:465 `infer`) ships prompts to a remote LLM
  * service; in this zero-egress engine every model is a deterministic local
  * transform expressed with Catalyst expressions so it runs inside
  * whole-stage codegen, distributes trivially, and is oracle-checkable.
  * A real remote backend would implement [[Model.generate]] via a batched
  * `mapPartitions` client with identical plan shape around it.
  */
trait Model extends Serializable {
  def name: String

  /** Max tokens of input context; inputs beyond this are truncated when
    * truncateRows=true (reference `truncate_rows`, sutro/sdk.py:480). */
  def contextWindow: Int = 4096

  /** USD per million input tokens — powers dry-run cost estimates. */
  def costPerMTokens: Double = 0.1

  /** prompt column → output column (string). */
  def generate(prompt: Column): Column

  /** Optional per-row confidence in [0,1] — surfaces as the reference's
    * `confidence_score` results column when defined. */
  def confidence(prompt: Column): Option[Column] = None

  /** Schema of the structured JSON output when the model fixes it (the
    * reference's declared `output_schema`). [[Infer.infer]] stamps it on
    * the output column, so [[Results.unpackJson]] needs no data probe.
    * None for free-text models. */
  def outputSchema: Option[StructType] = None
}

/** Echoes the prompt back, truncated to `maxChars` — the identity model used
  * to test plumbing (prompt rendering, output columns, job flow). */
case class EchoModel(maxChars: Int = 200) extends Model {
  val name = "echo-1"
  def generate(prompt: Column): Column = substring(prompt, 1, maxChars)
}

/** Prefixes a fixed template — models system-prompted generation
  * deterministically: out = template || prompt. */
case class TemplateModel(template: String) extends Model {
  val name = "template-1"
  def generate(prompt: Column): Column = concat(lit(template), prompt)
}

/** Deterministic classifier: first class whose keyword appears in the
  * prompt wins; emits the reference's structured {scratchpad,
  * classification} JSON (sutro/templates/classification.py:87). */
case class KeywordClassifier(classes: Seq[String], fallback: String = "other") extends Model {
  val name = "keyword-classifier-1"
  def generate(prompt: Column): Column = {
    val cls = classification(prompt)
    // Manual JSON assembly keeps the wire format byte-identical to the SQL
    // oracle (engine-native JSON writers differ in whitespace).
    concat(
      lit("{\"scratchpad\":\"matched "), cls,
      lit("\",\"classification\":\""), cls, lit("\"}"))
  }
  def classification(prompt: Column): Column =
    classes.foldRight(lit(fallback): Column) { (c, acc) =>
      when(contains(lower(prompt), lit(c)), lit(c)).otherwise(acc)
    }
  /** High confidence on a keyword hit, low on fallback. */
  override def confidence(prompt: Column): Option[Column] =
    Some(when(classification(prompt) === fallback, lit(0.5)).otherwise(lit(0.9)))
  /** What a JSON read of [[generate]]'s output infers: fields sorted by name. */
  override def outputSchema: Option[StructType] = Some(StructType(Seq(
    StructField("classification", StringType), StructField("scratchpad", StringType))))
}

/** Deterministic LLM-judge score in [lo, hi] (sutro/templates/evals.py:13):
  * a stable function of the prompt text, score = lo + len(prompt) % span. */
case class JudgeScorer(lo: Int = 0, hi: Int = 10) extends Model {
  val name = "judge-scorer-1"
  def generate(prompt: Column): Column =
    concat(lit("{\"score\":"), score(prompt).cast("string"), lit("}"))
  def score(prompt: Column): Column =
    lit(lo) + pmod(length(prompt), lit(hi - lo + 1))
  override def outputSchema: Option[StructType] =
    Some(StructType(Seq(StructField("score", LongType))))
}

/** Deterministic feature-hash embedder (sutro/templates/embed.py:9): tokens
  * are hashed into `dim` signed buckets and the vector L2-normalized.
  * Backed by the one-pass [[graft.functions.gf.hashEmbed]] kernel (the
  * HOF aggregate/zip_with formulation was O(tokens x dim) interpreted).
  */
case class HashEmbedder(dim: Int = 64) extends Model {
  val name = "hash-embedder-1"
  override def generate(prompt: Column): Column = embed(prompt).cast("string")

  /** array<float> embedding of the prompt. */
  def embed(prompt: Column): Column = graft.functions.gf.hashEmbed(prompt, dim)
}
