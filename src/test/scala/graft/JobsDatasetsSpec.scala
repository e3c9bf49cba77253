package graft

import graft.llm.Jobs
import graft.io.Datasets
import org.apache.spark.sql.functions._

/** Job lifecycle + dataset registry round trips (reference: sutro/sdk.py
  * jobs and datasets APIs, ~/.sutro parquet result cache). */
class JobsDatasetsSpec extends SparkSpec {
  import spark.implicits._

  test("jobs: submit -> succeeded -> results round trip via parquet cache") {
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "text")
    val id = Jobs.submit(df, Some("test-job"))
    assert(Jobs.status(id) === Jobs.Succeeded)
    val back = Jobs.results(spark, id).orderBy("id").as[(Long, String)].collect()
    assert(back.toSeq === Seq((1L, "a"), (2L, "b")))
    assert(Jobs.list().exists(_.id === id))
  }

  test("jobs: unknown id -> Failed status; cancel on terminal job is a no-op") {
    assert(Jobs.status("job-nope") === Jobs.Failed)
    val df = Seq(1).toDF("x")
    val id = Jobs.submit(df)
    assert(Jobs.cancel(id) === Jobs.Succeeded)
  }

  test("datasets: create/upload/list/download parquet and csv") {
    val root = tempDir("graft-ds").toString
    val ds = new Datasets(root)
    val id = ds.create(Some("my-data"))
    assert(ds.list().contains("my-data"))
    val df = Seq((1L, "x"), (2L, "y")).toDF("id", "v")
    ds.upload(df, id, "parquet")
    ds.upload(df, id, "csv")
    assert(ds.listFiles(id).toSet === Set("part.parquet", "part.csv"))
    val pq = ds.download(spark, id, "part.parquet").orderBy("id").as[(Long, String)].collect()
    assert(pq.toSeq === Seq((1L, "x"), (2L, "y")))
    val csv = ds.download(spark, id, "part.csv").count()
    assert(csv === 2)
  }

  test("datasets: orc round-trip preserves schema and values") {
    val root = tempDir("graft-ds-orc").toString
    val ds = new Datasets(root)
    val id = ds.create(Some("orc-data"))
    val df = Seq((1L, "x", 1.5), (2L, "y", -2.25)).toDF("id", "v", "w")
    ds.upload(df, id, "orc")
    assert(ds.listFiles(id) === Seq("part.orc"))
    val back = ds.download(spark, id, "part.orc").orderBy("id")
      .as[(Long, String, Double)].collect()
    assert(back.toSeq === Seq((1L, "x", 1.5), (2L, "y", -2.25)))
    assert(ds.download(spark, id, "part.orc").schema.map(_.dataType.simpleString) ===
      Seq("bigint", "string", "double"))
  }

  test("datasets: unknown dataset rejected") {
    val ds = new Datasets(tempDir("graft-ds2").toString)
    intercept[IllegalArgumentException](ds.listFiles("missing"))
  }

  test("datasets: raw file upload with format validation (sdk.py:1400)") {
    val ds = new Datasets(tempDir("graft-ds3").toString)
    val src = tempDir("graft-upload-src")
    java.nio.file.Files.writeString(src.resolve("lines.txt"), "one\ntwo\n")
    java.nio.file.Files.writeString(src.resolve("rows.csv"), "a,b\n1,2\n")
    // directory expansion + auto-created dataset
    val (id, names) = ds.uploadFiles(Seq(src.toString))
    assert(names.sorted === Seq("lines.txt", "rows.csv"))
    assert(ds.listFiles(id).toSet === Set("lines.txt", "rows.csv"))
    // uploaded txt loads back one line per row
    assert(ds.download(spark, id, "lines.txt").count() === 2)
    // unsupported extension rejected
    java.nio.file.Files.writeString(src.resolve("blob.xyz"), "nope")
    val ex = intercept[IllegalArgumentException](
      ds.uploadFiles(Seq(src.resolve("blob.xyz").toString), Some(id)))
    assert(ex.getMessage.contains("Unsupported file type"))
    // empty directory rejected
    val empty = tempDir("graft-empty")
    intercept[IllegalArgumentException](ds.uploadFiles(Seq(empty.toString)))
    // raw download round-trip (sdk.py:1535)
    val outDir = tempDir("graft-export")
    val written = ds.exportFiles(id, outDir.toString)
    assert(written.map(p => new java.io.File(p).getName).sorted === Seq("lines.txt", "rows.csv"))
    assert(java.nio.file.Files.readString(outDir.resolve("lines.txt")) === "one\ntwo\n")
    intercept[IllegalArgumentException](ds.exportFiles(id, outDir.toString, Some(Seq("missing.bin"))))
  }
}
