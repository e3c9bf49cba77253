package graft

import java.nio.file.Files

/** CLI surface tests driven through [[Cli.run]] (no process spawn): the
  * round-trip parity points the reference CLI exercises.
  */
class CliSpec extends SparkSpec {
  import spark.implicits._

  test("datasets download: round-trips a named file to an output dir (cli.py:348)") {
    val g = new Graft(spark, tempDir("graft-cli-ds").toString)
    val id = g.datasets.create(Some("dl-test"))
    val src = tempDir("graft-cli-src")
    Files.writeString(src.resolve("lines.txt"), "one\ntwo\n")
    Files.writeString(src.resolve("rows.csv"), "a,b\n1,2\n")
    g.datasets.uploadFiles(
      Seq(src.resolve("lines.txt").toString, src.resolve("rows.csv").toString), Some(id))

    // named file into an explicit output path
    val out = tempDir("graft-cli-out")
    Cli.run(g, List("datasets", "download", id, "lines.txt", out.toString))
    assert(Files.readString(out.resolve("lines.txt")) === "one\ntwo\n")
    assert(!Files.exists(out.resolve("rows.csv")), "only the named file downloads")

    // a second named file lands beside it
    Cli.run(g, List("datasets", "download", id, "rows.csv", out.toString))
    assert(Files.readString(out.resolve("rows.csv")) === "a,b\n1,2\n")

    // unknown file fails loudly, not silently
    intercept[IllegalArgumentException](
      Cli.run(g, List("datasets", "download", id, "missing.bin", out.toString)))
  }

  test("jobs trace: a submitted job's stamped trace is printable") {
    val g = Graft(spark)
    val id = g.submitJob(Seq((1L, "a"), (2L, "b")).toDF("id", "t"), Some("cli-traced"))
    val ts = Observability.forJob(id)
    assert(ts.nonEmpty && ts.forall(_.jobId.contains(id)))
    Cli.run(g, List("jobs", "trace", id))          // prints, must not throw
    Cli.run(g, List("jobs", "trace", "job-none"))  // empty case, must not throw
    Cli.run(g, List("jobs", "list"))               // newest-first top 25
    Cli.run(g, List("jobs", "list", "--all"))      // unlimited variant
  }

  test("jobs attach: streams status to terminal, --latest picks newest (cli.py:422)") {
    val g = Graft(spark)
    val id = g.submitJob(Seq((1L, "x")).toDF("id", "t"), Some("cli-attach-1"))
    val id2 = g.submitJob(Seq((2L, "y")).toDF("id", "t"), Some("cli-attach-2"))

    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
      Cli.run(g, List("jobs", "attach", id))
    }
    val lines = out.toString("UTF-8").linesIterator.toSeq
    assert(lines.exists(l => l.startsWith(id) && l.contains("Succeeded")),
      s"attach must print the terminal status; got: $lines")

    // --latest resolves to the most recently submitted job
    val out2 = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out2, true, "UTF-8")) {
      Cli.run(g, List("jobs", "attach", "--latest"))
    }
    val s2 = out2.toString("UTF-8")
    assert(s2.contains(s"Attaching to latest job: $id2"), s2)
    assert(s2.linesIterator.exists(l => l.startsWith(id2) && l.contains("Succeeded")), s2)

    // no id and no --latest: a message, not an exception
    Cli.run(g, List("jobs", "attach"))
  }
}
