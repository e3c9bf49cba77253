package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM, one session). */
object TestSession {
  lazy val spark: SparkSession = GraftSession.getOrCreate("local[4]")
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  val sfDir = "/root/testdata/sf0.001"

  /** A fresh directory under java.io.tmpdir, deleted recursively when the
    * JVM exits (the specs' Spark session may still read it until then). */
  def tempDir(prefix: String): java.nio.file.Path = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile): Unit)
    dir
  }
}
