package graft

import org.apache.spark.sql.functions._

/** graft's custom expressions registered as SQL functions via
  * SparkSessionExtensions (GraftSession applies them). */
class ExtensionsSpec extends SparkSpec {
  import spark.implicits._

  test("SQL surface: word_shingles / minhash_sig / simhash64 callable from spark.sql") {
    Seq((1L, "the quick brown fox jumps")).toDF("id", "text")
      .createOrReplaceTempView("ext_docs")
    val row = spark.sql(
      """SELECT size(word_shingles(text, 3)) AS n_sh,
        |  size(minhash_sig(text, 3, 64)) AS k,
        |  simhash64(text) AS fp,
        |  size(hash_embed(text, 16)) AS dim
        |FROM ext_docs""".stripMargin).collect()(0)
    assert(row.getInt(0) === 3)
    assert(row.getInt(1) === 64)
    assert(row.getLong(2) !== 0L)
    assert(row.getInt(3) === 16)
  }

  test("SQL surface: cosine_sim on embeddings table") {
    graft.io.Tables.embeddings(spark, sfDir).createOrReplaceTempView("ext_emb")
    val c = spark.sql(
      """SELECT cosine_sim(a.embedding, a.embedding) AS self_sim
        |FROM ext_emb a WHERE a.vec_id = 0""".stripMargin).collect()(0).getDouble(0)
    assert(math.abs(c - 1.0) < 1e-9)
  }

  test("SQL surface: bucket_pairs_cos over grouped structs") {
    graft.io.Tables.embeddings(spark, sfDir).createOrReplaceTempView("ext_emb2")
    // the same pairs as an exact cosine self-join over the same rows, at a
    // threshold the two vectors miss and at one they clear
    val rows = spark.sql("SELECT vec_id, embedding FROM ext_emb2 WHERE vec_id < 2")
    val counts = Seq("0.99", "0.0").map { minCos =>
      val n = spark.sql(
        s"""SELECT explode(bucket_pairs_cos(collect_list(struct(vec_id, embedding)), $minCos)) AS p
           |FROM (SELECT vec_id, embedding FROM ext_emb2 WHERE vec_id < 2)""".stripMargin).count()
      val expected = rows.as("a").join(rows.as("b"), col("a.vec_id") < col("b.vec_id") &&
        graft.functions.gf.cosine(col("a.embedding"), col("b.embedding")) >= minCos.toDouble)
        .count()
      assert(n === expected, s"minCos $minCos")
      n
    }
    assert(counts.sum > 0)
  }

  test("SQL surface: non-literal n rejected with a named error") {
    Seq((1L, "a b c")).toDF("id", "text").createOrReplaceTempView("ext_docs2")
    val e = intercept[Exception](
      spark.sql("SELECT word_shingles(text, id) FROM ext_docs2").collect())
    assert(e.getMessage.contains("word_shingles"))
  }

  test("SQL surface: wrong arity rejected with the function name and expected count") {
    Seq((1L, "a b c")).toDF("id", "text").createOrReplaceTempView("ext_docs4")
    val e = intercept[Exception](spark.sql("SELECT simhash64(text, 3) FROM ext_docs4").collect())
    assert(e.getMessage.contains("simhash64 expects 1 arguments, got 2"))
  }

  test("SQL surface: repetition_stats and char_bigram_counts") {
    import spark.implicits._
    Seq(("a b\na b", 1L)).toDF("text", "id").createOrReplaceTempView("ext_docs3")
    val r = spark.sql(
      "SELECT repetition_stats(text) AS r, char_bigram_counts(text) AS c FROM ext_docs3").head()
    val stats = r.getSeq[Double](0)
    assert(stats(0) === 2.0) // two lines
    assert(stats(1) === 0.5) // one dup of two
    assert(r.getSeq[Long](1).nonEmpty)
  }

  test("SQL surface: url/normalize/media functions registered") {
    import spark.implicits._
    Seq(("é", "é")).toDF("decomposed", "composed")
      .createOrReplaceTempView("ext_nfc")
    val r = spark.sql(
      """SELECT canonicalize_url('HTTP://Example.COM:80/a/?utm_b=1&z=2&a=3') AS u,
        |  nfc_normalize(decomposed) AS n,
        |  strip_accents(composed) AS s
        |FROM ext_nfc""".stripMargin).head()
    assert(r.getString(0) === "http://example.com/a?a=3&z=2")
    assert(r.getString(1) === "é")
    assert(r.getString(2) === "e")
    // build payloads via the column API, probe them through the SQL surface
    val payload = graft.functions.gf.mediaContainer(col("doc_id") * 4 + 2,
      org.apache.spark.sql.functions.encode(org.apache.spark.sql.functions.lit("AB"), "UTF-8"))
    Seq(5L).toDF("doc_id")
      .select(payload.as("p"), graft.functions.gf.videoContainer(col("doc_id")).as("v"))
      .createOrReplaceTempView("ext_media")
    val got = spark.sql(
      "SELECT element_at(audio_stats(p), 3) AS n, element_at(video_frames(v, 3), 1) AS w, media_header(p).format AS fmt FROM ext_media")
      .head()
    assert(got.getLong(0) === 2L)           // two samples ("AB")
    assert(got.getLong(1) === 6L + 5L % 4L) // header width parsed back
    assert(got.getString(2) === "wav")
    // stride <= 0 would loop forever in the frame walk: must fail at
    // analysis time, never reach an executor
    val e0 = intercept[Exception](
      spark.sql("SELECT video_frames(v, 0) FROM ext_media").collect())
    assert(e0.getMessage.contains("stride must be positive"))
    // (-3 may reach the builder as UnaryMinus(3) — either the literal
    // check or the stride check rejects it, both at analysis time)
    val eNeg = intercept[Exception](
      spark.sql("SELECT video_frames(v, -3) FROM ext_media").collect())
    assert(eNeg.getMessage.contains("stride must be positive") ||
      eNeg.getMessage.contains("integer literal"))
  }
}
