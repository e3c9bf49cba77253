package graft

import graft.llm._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured outputs carry their schema: a model's declared output schema
  * rides on the inferred column and through the job cache, so building the
  * classify, unpack and results frames launches no Spark job. */
class StructuredOutputSpec extends SparkSpec {
  import spark.implicits._

  /** Empty text, a null, non-ASCII text, and a prompt whose only keyword
    * sits past the 4,096-token context window. */
  private def corpus: DataFrame = Seq[(Long, String)](
    (1L, "a join of two tables"),
    (2L, ""),
    (3L, null),
    (4L, "fenêtre 窓 stream ünïcödé"),
    (5L, ("filler " * 4100) + "window"),
    (6L, "nothing relevant here")
  ).toDF("doc_id", "text")

  private def rows(df: DataFrame): Seq[Row] = df.orderBy("doc_id").collect().toSeq

  test("classify, unpack of a stamped column and jobResults launch no Spark job") {
    val g = Graft(spark)
    val judged = Infer.infer(corpus, JudgeScorer(0, 10), Seq("text"))
    val id = g.submitJob(judged, Some("judge-no-probe"))
    var classified, unpacked, results: DataFrame = null
    val jobs = jobsLaunchedBy {
      classified = Templates.classify(corpus, Seq("join", "window", "stream"), Seq("text"))
      unpacked = Results.unpackJson(judged)
      results = g.jobResults(id, withOriginalDf = Some((corpus, "doc_id")))
    }
    assert(jobs === 0)
    assert(classified.columns.toSeq === Seq("doc_id", "text", "confidence_score", "inference_result"))
    assert(rows(classified.select("doc_id", "inference_result")).map(_.getString(1)) ===
      Seq("join", "other", "other", "stream", "other", "other"))
    assert(unpacked.schema("score").dataType === LongType)
    assert(rows(results.select("doc_id", "score")) === rows(unpacked.select("doc_id", "score")))
  }

  test("Jobs.results reads with the recorded schema: equals the footer schema, metadata included") {
    val typed = spark.sql("""SELECT
        CAST(1 AS INT) AS i, 2L AS l, CAST(3 AS SMALLINT) AS s, CAST(4 AS TINYINT) AS b,
        1.5D AS d, CAST(2.5 AS FLOAT) AS f, true AS bo, 'x' AS str, DATE'2024-01-02' AS dt,
        TIMESTAMP'2024-01-02 03:04:05' AS ts, TIMESTAMP_NTZ'2024-01-02 03:04:05' AS tsn,
        CAST(1.2345 AS DECIMAL(20, 4)) AS dec, array(1, 2) AS arr, map('k', 1L) AS m,
        named_struct('x', 1, 'y', array('z')) AS st, X'0102' AS bin""")
    val withNulls = typed.union(spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row.fromSeq(Seq.fill(typed.columns.length)(null)))),
      StructType(typed.schema.map(_.copy(nullable = true)))))
    val df = Infer.infer(withNulls, JudgeScorer(0, 10), Seq("str"))
      .withColumn("tagged", col("str"))
      .withMetadata("tagged", new MetadataBuilder().putString("k", "v").build())
    val id = Jobs.submit(df, Some("typed"))
    val path = Jobs.list().find(_.id == id).get.resultPath
    val recorded = Jobs.results(spark, id)
    val footer = spark.read.parquet(path)
    assert(recorded.schema === footer.schema)
    assert(recorded.schema.map(_.metadata) === footer.schema.map(_.metadata))
    assert(recorded.schema("tagged").metadata.getString("k") === "v")
    assert(Results.declaredSchema(recorded, "inference_result") === JudgeScorer().outputSchema)
    val order = recorded.columns.filterNot(_ == "m").map(col) // maps are not orderable
    assert(recorded.orderBy(order: _*).collect().toSeq === footer.orderBy(order: _*).collect().toSeq)
  }

  test("declared and probed unpacks agree in schema and rows (JudgeScorer, KeywordClassifier)") {
    for (model <- Seq(JudgeScorer(0, 10), KeywordClassifier(Seq("join", "window", "stream")))) {
      val inferred = Infer.infer(corpus, model, Seq("text"))
      assert(Results.declaredSchema(inferred, "inference_result") === model.outputSchema)
      val unstamped = inferred.withMetadata("inference_result", Metadata.empty)
      assert(Results.declaredSchema(unstamped, "inference_result").isEmpty)
      val declared = Results.unpackJson(inferred)
      val probed = Results.unpackJson(unstamped)
      assert(declared.schema === probed.schema, model.name)
      assert(rows(declared) === rows(probed), model.name)
    }
  }

  test("a cast output column loses the stamp and still unpacks through the probe") {
    val inferred = Infer.infer(corpus, KeywordClassifier(Seq("join", "window")), Seq("text"))
    val cast = inferred.withColumn("inference_result", col("inference_result").cast("string"))
    assert(Results.declaredSchema(cast, "inference_result").isEmpty)
    var probed: DataFrame = null
    assert(jobsLaunchedBy { probed = Results.unpackJson(cast) } > 0)
    assert(probed.schema === Results.unpackJson(inferred).schema)
    assert(rows(probed.select("doc_id", "classification")).map(_.getString(1)) ===
      Seq("join", "other", "other", "other", "other", "other"))
  }

  test("runFunction: a keyword past the context window gets the fallback in response and predictions") {
    val r = Graft(spark).runFunction("keyword-classifier-1",
      Map("text" -> (("filler " * 4100) + "window")))
    assert(r.response.contains("\"classification\":\"other\""))
    assert(r.predictions.head.label === "other" && r.confidence === 0.5)
  }

  test("submitJob with progress restores the caller's job group") {
    val sc = spark.sparkContext
    val g = Graft(spark)
    sc.setJobGroup("caller-group", "caller description", interruptOnCancel = true)
    try {
      g.submitJob(Seq(1L, 2L).toDF("v"), Some("group-keep"), 0, _ => ())
      assert(sc.getLocalProperty("spark.jobGroup.id") === "caller-group")
      assert(sc.getLocalProperty("spark.job.description") === "caller description")
      assert(sc.getLocalProperty("spark.job.interruptOnCancel") === "true")
    } finally sc.clearJobGroup()
    g.submitJob(Seq(1L).toDF("v"), Some("no-group"), 0, _ => ())
    assert(sc.getLocalProperty("spark.jobGroup.id") === null)
  }
}
