package graft

import org.apache.spark.sql.types._

/** prepare_input_data validation parity (tests/test_sdk.py:844) + explicit
  * output-schema unpack. */
class InputPrepSpec extends SparkSpec {
  import spark.implicits._

  test("prepareInput: dataset requires a non-empty string column") {
    val g = new Graft(spark, tempDir("graft-prep").toString)
    val id = g.datasets.create(Some("dataset-123"))
    g.datasets.upload(Seq((1L, "x")).toDF("id", "text"), id)
    for (bad <- Seq(None, Some(""), Some("   "))) {
      val e = intercept[IllegalArgumentException](g.prepareInput("dataset-123", bad))
      assert(e.getMessage.contains("non-empty string"))
    }
    val (df, colName) = g.prepareInput("dataset-123", Some("text"))
    assert(colName === "text")
    assert(df.count() === 1)
  }

  test("prepareInput: csv/parquet require a column; txt maps to line") {
    val g = Graft(spark)
    val e = intercept[IllegalArgumentException](
      g.prepareInput("/root/testdata/sf0.001/documents.parquet", None))
    assert(e.getMessage.contains("Column name must be specified"))
    val e2 = intercept[IllegalArgumentException](g.prepareInput("file.xlsx", Some("c")))
    assert(e2.getMessage.contains("Unsupported file type"))
    val (df, c) = g.prepareInput("/root/testdata/sf0.001/documents.parquet", Some("text"))
    assert(c === "text" && df.columns.contains("text"))
  }

  test("unpackJsonWithSchema: explicit schema, no data probe, collisions rejected") {
    val df = Seq((1L, """{"a":1,"b":"x"}""")).toDF("id", "inference_result")
    val schema = StructType(Seq(StructField("a", LongType), StructField("b", StringType)))
    val out = graft.llm.Results.unpackJsonWithSchema(df, schema)
    assert(out.columns.sorted.toSeq === Seq("a", "b", "id"))
    val bad = StructType(Seq(StructField("id", LongType)))
    intercept[IllegalArgumentException](graft.llm.Results.unpackJsonWithSchema(df, bad))
  }

  test("ngramJaccardPairs: equals brute-force trigram Jaccard; threshold 0 throws") {
    val sf = graft.io.Tables.documents(spark, sfDir).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val (id0, text0) = sf.find(d => TrigramJaccard.shingles(d._2).nonEmpty).get
    val extra = Seq(
      (900001L, null), (900002L, null),                  // null text never pairs
      (900003L, "one"), (900004L, "two words"),          // under 3 words: no shingles
      (900005L, "Two  WORDS"), (900006L, "two words"),   // exact copies without shingles
      (900007L, text0), (900008L, text0.replace(" ", "  "))) // exact copies with shingles
    val docs = sf ++ extra
    val df = docs.toDF("doc_id", "text")
    val truth = TrigramJaccard.pairs(docs, 0.5)
    assert(Set((id0, 900007L), (id0, 900008L), (900007L, 900008L)).subsetOf(truth))
    val got = graft.ops.Dedup.ngramJaccardPairs(df, "text", "doc_id", 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got.length === got.toSet.size)
    assert(got.toSet === truth)
    intercept[IllegalArgumentException](
      graft.ops.Dedup.ngramJaccardPairs(df, "text", "doc_id", 3, 0.0))
  }
}
