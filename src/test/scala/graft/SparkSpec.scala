package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
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

  /** Spark jobs `body` launches, counted by job group. The listener bus is
    * ordered, so once a marker job run afterwards is seen, every job of
    * `body` has been seen too. */
  def jobsLaunchedBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val (counted, marker) = (s"counted-$tag", s"marker-$tag")
    val groups = java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(counted, "counted")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 30000
      while (!groups.contains(marker) && System.currentTimeMillis() < deadline) Thread.sleep(10)
      assert(groups.contains(marker), "marker job never reached the listener")
      groups.toArray.count(_ == counted)
    } finally sc.removeSparkListener(listener)
  }
}
