package graft

import graft.io.Tables
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MetadataBuilder

/** `Tables.load` reads a parquet schema from one footer on the driver; it
  * must answer exactly what `spark.read.parquet` answers, without a job. */
class TablesSpec extends SparkSpec {

  private def sameAsSpark(path: String): Unit = {
    val (ours, theirs) = (Tables.load(spark, path), spark.read.parquet(path))
    // StructField equality covers names, types, nullability and metadata
    assert(ours.schema === theirs.schema, path)
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    assert(rows(ours) === rows(theirs), path)
  }

  /** Non-nullable columns, field metadata, and Spark's `_SUCCESS` and
    * `.crc` side files. */
  private def sparkWritten(dir: String): String = {
    val meta = new MetadataBuilder().putString("comment", "kept").build()
    spark.range(0, 20, 1, 3)
      .select(col("id"), lit("x").as("s", meta), (col("id") % 3).cast("int").as("k"))
      .write.parquet(dir)
    dir
  }

  test("load: the footer schema equals spark.read.parquet's on every layout") {
    val root = tempDir("graft-tables").toString
    val plain = sparkWritten(s"$root/plain.parquet")
    val names = new java.io.File(plain).list().toSeq
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")))
    val single = new java.io.File(plain).listFiles()
      .filter(_.getName.startsWith("part-")).map(_.toString).min

    val partitioned = s"$root/partitioned.parquet"
    spark.read.parquet(plain).write.partitionBy("k").parquet(partitioned)

    // a data column that a k=v directory also names: Spark's own path decides
    val overlap = s"$root/overlap.parquet"
    spark.range(3).select(lit(1).as("k"), col("id")).write.parquet(s"$overlap/k=1")

    // _common_metadata wins over the data files, as in Spark's inference
    val summarized = s"$root/summarized.parquet"
    spark.range(3).select(col("id").cast("string").as("other")).write.parquet(summarized)
    java.nio.file.Files.copy(java.nio.file.Paths.get(single),
      java.nio.file.Paths.get(summarized, "_common_metadata"))

    // events-style TIMESTAMP(NANOS), read as long nanos by graft sessions
    val nanos = s"$root/events.parquet"
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 user_id; required int64 ts (TIMESTAMP(NANOS,true)); " +
        "optional binary event_type (STRING); }")
    val writer = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
      new Path(s"$nanos/part-0.parquet"), spark.sparkContext.hadoopConfiguration)).withType(schema).build()
    val groups = new SimpleGroupFactory(schema)
    for (i <- 0 until 3) writer.write(groups.newGroup().append("user_id", i.toLong)
      .append("ts", 1700000000000000001L + i).append("event_type", "view"))
    writer.close()
    assert(spark.read.parquet(nanos).schema("ts").dataType.typeName === "long")

    // files whose schemas differ, read with schema merging on: Spark merges every footer
    val merged = s"$root/merged.parquet"
    spark.range(2).write.parquet(merged)
    spark.range(2).select(col("id").as("x")).write.mode("append").parquet(merged)

    for (p <- Seq(plain, single, partitioned, overlap, summarized, nanos)) sameAsSpark(p)
    assert(Tables.load(spark, summarized).columns.toSeq === Seq("id", "s", "k"))
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try {
      sameAsSpark(merged)
      assert(Tables.load(spark, merged).columns.toSet === Set("id", "x"))
    } finally spark.conf.unset("spark.sql.parquet.mergeSchema")
    for (t <- Seq("documents", "events", "orders"))
      assert(Tables.table(spark, sfDir, t).schema === spark.read.parquet(s"$sfDir/$t.parquet").schema)
  }

  test("load: a parquet directory launches no Spark job") {
    val root = tempDir("graft-tables-jobs").toString
    val plain = sparkWritten(s"$root/plain.parquet")
    val partitioned = s"$root/partitioned.parquet"
    spark.read.parquet(plain).write.partitionBy("k").parquet(partitioned)
    for (p <- Seq(plain, partitioned)) assert(jobsLaunchedBy(Tables.load(spark, p): Unit) === 0, p)
  }

  test("load: a missing path, an empty directory and a corrupt footer throw what spark.read.parquet throws") {
    val root = tempDir("graft-tables-err")
    val empty = root.resolve("empty.parquet")
    java.nio.file.Files.createDirectories(empty)
    val successOnly = root.resolve("success.parquet")
    java.nio.file.Files.createDirectories(successOnly)
    java.nio.file.Files.createFile(successOnly.resolve("_SUCCESS"))
    for (p <- Seq(root.resolve("missing.parquet"), empty, successOnly).map(_.toString)) {
      val want = intercept[AnalysisException](spark.read.parquet(p))
      val got = intercept[AnalysisException](Tables.load(spark, p))
      assert(got.getCondition === want.getCondition, p)
      assert(got.getMessage === want.getMessage, p)
    }
    val corrupt = root.resolve("corrupt.parquet")
    java.nio.file.Files.createDirectories(corrupt)
    java.nio.file.Files.write(corrupt.resolve("part-0.parquet"), "not parquet".getBytes("UTF-8"))
    val want = intercept[org.apache.spark.SparkException](spark.read.parquet(corrupt.toString))
    val got = intercept[org.apache.spark.SparkException](Tables.load(spark, corrupt.toString))
    assert(got.getCondition === want.getCondition)
  }
}
