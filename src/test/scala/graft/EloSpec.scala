package graft

import graft.llm.Elo
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Bradley–Terry / Elo math checks (reference: sutro/templates/evals.py:182,
  * Hunter 2004 MM algorithm). */
class EloSpec extends SparkSpec {
  import spark.implicits._

  test("solve: dominant player gets top rating; ratings centered at mean") {
    val pairs = Map(
      ("A", "B") -> 9.0, ("B", "A") -> 1.0,
      ("B", "C") -> 9.0, ("C", "B") -> 1.0,
      ("A", "C") -> 9.0, ("C", "A") -> 1.0)
    val solved = Elo.solve(pairs, laplace = 0.0)
    assert(solved.keySet === Set("A", "B", "C"))
    val elo = solved.view.mapValues(_._3).toMap
    assert(elo("A") > elo("B") && elo("B") > elo("C"))
    assert(math.abs(elo.values.sum / 3 - 1500.0) < 1e-6)
  }

  test("solve: symmetric wins -> equal ratings") {
    val pairs = Map(("A", "B") -> 5.0, ("B", "A") -> 5.0)
    val solved = Elo.solve(pairs)
    assert(math.abs(solved("A")._3 - solved("B")._3) < 1e-6)
  }

  test("ratings: ballots explode to pairwise counts distributed; reported counts are smoothed") {
    // ballot [A,B,C] means A>B, A>C, B>C
    val ballots = Seq(Seq("A", "B", "C"), Seq("A", "C", "B"), Seq("B", "A", "C")).toDF("ballot")
    val out = Elo.ratings(ballots, "ballot").collect()
    val byLabel = out.map(r => r.getString(0) -> (r.getDouble(4), r.getDouble(5))).toMap
    // raw wins(A)=5 (b1: A>B,A>C; b2: A>C,A>B; b3: A>C); reference reports
    // from the laplace-smoothed matrix: +0.5*(m-1) = +1.0 at m=3
    assert(byLabel("A")._1 === 6.0)
    assert(byLabel("C")._1 === 2.0) // raw 1 (ballot2 C>B) + 1.0
    val elos = out.map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(elos("A") > elos("B") && elos("B") > elos("C"))
  }

  test("ratings: tie groups count 0.5 wins both ways (reference evals.py:222-246)") {
    // [[B],[A,C],[D]] = B > A=C > D; A and C tie once
    val ballots = Seq(Seq(Seq("B"), Seq("A", "C"), Seq("D"))).toDF("ballot")
    val out = Elo.ratings(ballots, "ballot").collect()
    val rows = out.map(r => r.getString(0) ->
      (r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6))).toMap
    // smoothed at m=4, laplace=0.5: wins(B) = 3 raw + 1.5 = 4.5;
    // wins(A) = 1 (over D) + 0.5 (tie) + 1.5 = 3.0, losses(A) = 1 + 0.5 + 1.5 = 3.0
    assert(rows("B")._2 === 4.5)
    assert(rows("A")._2 === 3.0 && rows("A")._3 === 3.0)
    assert(rows("A")._4 === 6.0) // matches = wins + losses
    // A and C are fully symmetric -> identical elo; order B > A=C > D
    assert(math.abs(rows("A")._1 - rows("C")._1) < 1e-9)
    assert(rows("B")._1 > rows("A")._1 && rows("A")._1 > rows("D")._1)
  }

  test("solve: ties only still produce equal ratings and smoothed counts") {
    val solved = Elo.solve(Map.empty[(String, String), Double], Map(("A", "B") -> 4.0),
      laplace = 0.5, maxIter = 1000, tol = 1e-8, eloMean = 1500.0)
    assert(math.abs(solved("A")._3 - solved("B")._3) < 1e-6)
    assert(solved("A")._4 === 2.5) // 0.5*4 ties + 0.5 laplace
  }

  /** Reference oracle: the explode/groupBy pair counting `Elo.ratings` ran
    * before its one-pass fold (win pairs from posexplode → explode →
    * flatten of the later groups; tie pairs per position pair in a group). */
  private def referenceCounts(ballots: DataFrame, column: String)
      : (Map[(String, String), Double], Map[(String, String), Double]) = {
    val (grouped, mayHaveTies) = ballots.schema(column).dataType match {
      case ArrayType(StringType, _) => (transform(col(column), x => array(x)), false)
      case _ => (col(column), true)
    }
    val g = ballots.select(grouped.as("groups"))
      .where(col("groups").isNotNull && size(col("groups")) >= 1)
    def counts(df: DataFrame) = df.groupBy(df.columns.map(col).toSeq: _*)
      .agg(count(lit(1)).cast("double").as("n")).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getDouble(2))).toMap
    val wins = counts(g
      .select(posexplode(col("groups")).as(Seq("gi", "grp")), col("groups"))
      .select(col("gi"), explode(col("grp")).as("winner"), col("groups"))
      .select(col("winner"),
        explode(flatten(slice(col("groups"), col("gi") + 2, size(col("groups"))))).as("loser"))
      .where(col("winner") =!= col("loser")))
    val ties = if (!mayHaveTies) Map.empty[(String, String), Double] else counts(g
      .select(explode(col("groups")).as("grp"))
      .where(size(col("grp")) >= 2)
      .select(posexplode(col("grp")).as(Seq("ai", "a")), col("grp"))
      .select(col("a"), explode(slice(col("grp"), col("ai") + 2, size(col("grp")))).as("b"))
      .where(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("x"), greatest(col("a"), col("b")).as("y")))
    (wins, ties)
  }

  // Labels whose UTF-16 and UTF-8 orders differ ("\uFF21" vs a surrogate
  // pair), so a tie key ordered by java.lang.String would not match.
  private val labels = Seq("A", "B", "c", "\u00e9", "\uFF21", "\uD83D\uDE00", null)

  /** Seeded random ballots over 5 partitions: null ballots, empty ballots,
    * null labels, duplicates and (nested) null and empty groups. */
  private def randomBallots(seed: Int, nested: Boolean): DataFrame = {
    val rnd = new scala.util.Random(seed)
    def label() = labels(rnd.nextInt(labels.size))
    def group() = if (rnd.nextInt(8) == 0) null else Seq.fill(rnd.nextInt(4))(label())
    val rows = Seq.fill(60) {
      if (rnd.nextInt(10) == 0) Row(null)
      else Row(Seq.fill(rnd.nextInt(6))(if (nested) group() else label()))
    }
    val elem = if (nested) ArrayType(StringType) else StringType
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 5),
      StructType(Seq(StructField("ballot", ArrayType(elem)))))
  }

  test("pairCounts equals the explode/groupBy oracle bit for bit on seeded random ballots") {
    for (nested <- Seq(false, true); seed <- 1 to 12) {
      val ballots = randomBallots(seed, nested)
      assert(ballots.rdd.getNumPartitions === 5)
      val (wins, ties) = referenceCounts(ballots, "ballot")
      assert(Elo.pairCounts(ballots, "ballot") === ((wins, ties)), s"nested=$nested seed=$seed")
      val want = Elo.solve(wins, ties, 0.5, 1000, 1e-8, 1500.0).toSeq
        .sortBy { case (label, t) => (-t._3, label) }
        .map { case (l, (a, b, e, w, lo, m)) => Row(l, a, b, e, w, lo, m) }
      assert(Elo.ratings(ballots, "ballot").collect().toSeq === want, s"nested=$nested seed=$seed")
    }
  }

  test("pairCounts: a null group voids the win pairs of every earlier group; ties still count") {
    val schema = StructType(Seq(StructField("ballot", ArrayType(ArrayType(StringType)))))
    val ballots = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(Seq(Seq("A", "B"), Seq("C"), null, Seq("D", "E"))),
      Row(Seq(Seq("B", "B", "A"), Seq(null, "C"))))), schema)
    val (wins, ties) = Elo.pairCounts(ballots, "ballot")
    assert(wins === Map(("B", "C") -> 2.0, ("A", "C") -> 1.0))
    assert(ties === Map(("A", "B") -> 3.0, ("D", "E") -> 1.0))
    assert((wins, ties) === referenceCounts(ballots, "ballot"))
  }

  test("ratings: one call launches exactly one Spark job") {
    val strict = Seq(Seq("A", "B", "C"), Seq("B", "A", "C"), Seq("C", "A", "B")).toDF("ballot")
    val nested = randomBallots(3, nested = true)
    for (ballots <- Seq(strict, nested))
      assert(jobsLaunchedBy(Elo.ratings(ballots, "ballot"): Unit) === 1)
  }
}
