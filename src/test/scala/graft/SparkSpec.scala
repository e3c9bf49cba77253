package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Brute-force word-trigram Jaccard over raw strings (lowercased
  * whitespace tokens, the engine's tokenization): the reference the exact
  * Jaccard operators must equal. */
object TrigramJaccard {
  def shingles(s: String): Set[String] =
    if (s == null) Set.empty
    else s.toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty)
      .sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet

  def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty || b.isEmpty) 0.0 else (a & b).size.toDouble / (a | b).size

  /** Every (a_id, b_id), a_id < b_id, with Jaccard >= t. */
  def pairs(docs: Seq[(Long, String)], t: Double): Set[(Long, Long)] = {
    val sh = docs.map { case (id, text) => (id, shingles(text)) }.sortBy(_._1).toArray
    (for {
      i <- sh.indices; j <- (i + 1) until sh.length
      if jaccard(sh(i)._2, sh(j)._2) >= t
    } yield (sh(i)._1, sh(j)._1)).toSet
  }
}

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
