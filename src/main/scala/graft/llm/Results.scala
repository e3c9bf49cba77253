package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, Metadata, MetadataBuilder, StructType}

/** Result-shaping semantics of the reference's `get_job_results`
  * (sutro/sdk.py:1131): structured-output JSON unpacking into columns,
  * collision checks, column ordering, original-DataFrame join-back.
  */
object Results {

  /** Metadata key under which a declared output schema rides on the
    * output column (stamped by [[Infer.infer]]). */
  private val SchemaKey = "graft.output_schema"

  /** Column metadata carrying `schema` as the declared structured output. */
  private[graft] def schemaMetadata(schema: StructType): Metadata =
    new MetadataBuilder().putString(SchemaKey, schema.json).build()

  /** The schema stamped on `outputColumn`, if it still carries one (a cast
    * or rebuilt column loses it). Analysis only: no Spark job. */
  private[graft] def declaredSchema(df: DataFrame, outputColumn: String): Option[StructType] = {
    val md = df.select(col(outputColumn)).schema.head.metadata
    if (md.contains(SchemaKey)) Some(DataType.fromJson(md.getString(SchemaKey)).asInstanceOf[StructType])
    else None
  }

  /** Unpack a JSON-string output column into one column per top-level field
    * (reference `unpack_json`, sutro/sdk.py:1283).
    *
    * The schema is the one the model declared, stamped on the column by
    * [[Infer.infer]] and kept through the job cache; no data is read to find
    * it. Only an undeclared output (echo, template and custom models, or a
    * column that was cast or rebuilt) is probed: a 1-row sample job
    * mirroring the reference's first-row `json.loads`. If the probed row is
    * not valid JSON the frame is returned unchanged. Raises on field/column
    * collisions, like the reference.
    */
  def unpackJson(df: DataFrame, outputColumn: String = "inference_result"): DataFrame = {
    val schema = declaredSchema(df, outputColumn).getOrElse(probeSchema(df, outputColumn))
    val fields = schema.fieldNames
    if (fields.isEmpty || fields.contains("_corrupt_record")) return df
    val flat = project(df, schema, outputColumn)

    // Reasoning-model outputs nest the real payload one level down:
    // {content: {...}, reasoning_content: ...} — unpack content's fields
    // and drop the wrapper (reference: sutro/sdk.py:1313).
    if (fields.sorted.toSeq == Seq("content", "reasoning_content")) {
      flat.schema("content").dataType match {
        case s: StructType =>
          val inner = s.fields.map(_.name)
          inner.foldLeft(flat) { (d, f) => d.withColumn(f, col(s"content.$f")) }
            .drop("content")
        case _ => flat
      }
    } else flat
  }

  /** Unpack with a caller-provided schema (the `output_schema` analog,
    * reference normalize_output_schema, sutro/common.py:170) — no data
    * probe, collision checks as in [[unpackJson]]. */
  def unpackJsonWithSchema(
      df: DataFrame,
      schema: StructType,
      outputColumn: String = "inference_result"): DataFrame =
    project(df, schema, outputColumn)

  /** Schema of the first non-null output row, read as JSON (one job for the
    * sample, one for the JSON read). */
  private def probeSchema(df: DataFrame, outputColumn: String): StructType = {
    val spark = df.sparkSession
    import spark.implicits._
    spark.read.json(df.select(col(outputColumn).cast("string")).na.drop().limit(1).as[String]).schema
  }

  /** One column per field of `schema`, parsed from `outputColumn`, which is
    * dropped; fields that collide with other columns are rejected. */
  private def project(df: DataFrame, schema: StructType, outputColumn: String): DataFrame = {
    val fields = schema.fieldNames
    val conflicting = fields.toSet.intersect(df.columns.toSet - outputColumn).toSeq.sorted
    if (conflicting.nonEmpty)
      throw new IllegalArgumentException(
        "Cannot unpack structured output fields that conflict with existing result columns: " +
          conflicting.mkString(", ") + ". Set unpack_json=False to preserve the metadata and raw structured output.")
    val unpacked = df.withColumn("__parsed", from_json(col(outputColumn).cast("string"), schema))
    fields.foldLeft(unpacked)((d, f) => d.withColumn(f, col(s"__parsed.$f")))
      .drop("__parsed").drop(outputColumn)
  }

  /** Reference column ordering (sutro/sdk.py:1251): inputs first, then
    * caller metadata columns, then the output column, then diagnostics. */
  def orderColumns(
      df: DataFrame,
      outputColumn: String = "inference_result",
      includeInputs: Boolean = false,
      includeCumulativeLogprobs: Boolean = false): DataFrame = {
    val standard = Set("inputs", outputColumn, "cumulative_logprobs", "confidence_score")
    val metadata = df.columns.filterNot(standard.contains)
    val ordered = Seq(
      "inputs" -> includeInputs) ++
      metadata.map(_ -> true) ++ Seq(
      outputColumn -> true,
      "cumulative_logprobs" -> includeCumulativeLogprobs,
      "confidence_score" -> df.columns.contains("confidence_score"))
    val keep = ordered.collect { case (c, true) if df.columns.contains(c) => c }
    df.select(keep.map(col): _*)
  }

  /** Join results back onto the original frame by a shared id column
    * (reference `with_original_df` concatenation is positional; at Spark
    * scale positional concat is an anti-pattern, so graft carries an id). */
  def withOriginalDf(original: DataFrame, results: DataFrame, idColumn: String): DataFrame =
    original.join(results, Seq(idColumn), "left")
}
