package graft

import graft.llm._
import org.apache.spark.sql.functions._

/** Mirrors the reference's input-prep tests (tests/test_sdk.py):
  * column concatenation with literal separators, null -> "", truncation. */
class InferSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "alpha beta", "src1"),
    (2L, null.asInstanceOf[String], "src2"),
    (3L, "gamma", null.asInstanceOf[String])
  ).toDF("id", "text", "source")

  test("renderPrompt: single column, null -> empty string") {
    val out = docs.select(Infer.renderPrompt(docs, Seq("text")).as("p")).as[String].collect()
    assert(out.toSeq === Seq("alpha beta", "", "gamma"))
  }

  test("renderPrompt: non-column entries are literal separators (common.py:77)") {
    val out = docs.select(col("id"), Infer.renderPrompt(docs, Seq("text", " | ", "source")).as("p"))
      .orderBy("id").as[(Long, String)].collect()
    assert(out.toSeq === Seq((1L, "alpha beta | src1"), (2L, " | src2"), (3L, "gamma | ")))
  }

  test("truncateTokens: over-limit rows truncated, others untouched") {
    val df = Seq("a  b   c d e", "x y").toDF("t")
    val out = df.select(Infer.truncateTokens(col("t"), 3).as("t")).as[String].collect()
    assert(out.toSeq === Seq("a b c", "x y"))
    // one whitespace char is two (empty) tokens: over a limit of 1
    val edge = Seq(" ", "a", null).toDF("t").select(Infer.truncateTokens(col("t"), 1)).as[String].collect()
    assert(edge.toSeq === Seq("", "a", null))
  }

  test("infer: output column name + system prompt prefix") {
    val out = Infer.infer(docs, EchoModel(maxChars = 100), Seq("text"),
      outputColumn = "result", systemPrompt = Some("SYS"))
    assert(out.columns.contains("result"))
    val r = out.orderBy("id").select("result").as[String].collect()
    assert(r(0) === "SYS\n\nalpha beta")
  }

  test("infer: empty column spec rejected like the reference") {
    val e = intercept[IllegalArgumentException](Infer.infer(docs, EchoModel(), Seq.empty))
    assert(e.getMessage.contains("Column name must be specified"))
  }
}
