package graft.llm

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Elo ratings from ranking ballots via Bradley–Terry maximum likelihood
  * (MM updates, Hunter 2004) — the reference's `elo`
  * (sutro/templates/evals.py:180) re-expressed for scale:
  *
  * The data-sized part (turning N ballots into pairwise win/tie counts)
  * runs distributed in one narrow pass, no shuffle: each partition folds
  * its ballots into counts. The driver adds them and runs the m×m solve
  * (m = #labels, tiny).
  *
  * Reference-parity semantics:
  *  - Ballots are ordered best→worst. A ballot may contain tie GROUPS
  *    (array<array<string>>, e.g. [[B],[A,C],[D]] = B > A=C > D); a plain
  *    array<string> ballot is treated as all-singleton groups.
  *  - Each tie contributes 0.5 win in both directions (evals.py:272).
  *  - Laplace smoothing is added to every directed off-diagonal count, and
  *    the REPORTED wins/losses/matches come from the smoothed matrix, like
  *    the reference (evals.py:311-319) — so a migrated dashboard shows the
  *    same numbers.
  *  - Labels with zero matches are dropped before the solve (evals.py:285).
  *  - Null ballots, null groups and null labels are skipped, and a null
  *    group also voids the win pairs of every group before it.
  */
object Elo {

  /** ballots: DataFrame with a ballot column — array<string> (strict order)
    * or array<array<string>> (tie groups). Returns one row per label:
    * (label, ability, beta, elo, wins, losses, matches), elo-descending.
    */
  def ratings(
      ballots: DataFrame,
      column: String,
      laplace: Double = 0.5,
      maxIter: Int = 1000,
      tol: Double = 1e-8,
      eloMean: Double = 1500.0): DataFrame = {
    val spark = ballots.sparkSession
    import spark.implicits._
    val (winPairs, tiePairs) = pairCounts(ballots, column)
    solve(winPairs, tiePairs, laplace, maxIter, tol, eloMean).toSeq
      .sortBy { case (label, t) => (-t._3, label) }
      .map { case (label, (ability, beta, elo, wins, losses, matches)) =>
        (label, ability, beta, elo, wins, losses, matches)
      }
      .toDF("label", "ability", "beta", "elo", "wins", "losses", "matches")
  }

  /** Directed (winner, loser) counts and (least, greatest) tie counts over
    * the ballots: each partition folds into at most m² entries per map. */
  private[graft] def pairCounts(ballots: DataFrame, column: String)
      : (Map[(String, String), Double], Map[(String, String), Double]) = {
    // A plain array<string> ballot is read as all-singleton groups.
    val nested = ballots.schema(column).dataType match {
      case ArrayType(StringType, _) => false
      case ArrayType(ArrayType(StringType, _), _) => true
      case other => throw new IllegalArgumentException(
        s"ballot column must be array<string> or array<array<string>>, got $other")
    }
    val partials = ballots.select(col(column)).queryExecution.toRdd.mapPartitions { rows =>
      val wins, ties = mutable.HashMap.empty[(String, String), Long]
      def bump(m: mutable.HashMap[(String, String), Long], a: UTF8String, b: UTF8String): Unit =
        if (a != null && b != null && a != b)
          m.updateWith((a.toString, b.toString))(n => Some(n.fold(1L)(_ + 1)))
      rows.foreach { row =>
        val b = row.getArray(0)
        if (b != null) {
          val groups = Array.tabulate(b.numElements()) { i =>
            if (!nested) Array(b.getUTF8String(i))
            else Option(b.getArray(i)).map(g => Array.tabulate(g.numElements())(g.getUTF8String)).orNull
          }
          // Every label of a group beats every label of each later group. A
          // null group voids the win pairs of every group before it.
          val from = groups.lastIndexWhere(_ == null) + 1
          for (gi <- from until groups.length; w <- groups(gi);
               later <- gi + 1 until groups.length; l <- groups(later)) bump(wins, w, l)
          // Tie pairs: one per pair of positions in a group, keyed (least, greatest).
          for (g <- groups if g != null; i <- g.indices; j <- i + 1 until g.length)
            if (g(i) != null && g(j) != null && g(i).binaryCompare(g(j)) > 0) bump(ties, g(j), g(i))
            else bump(ties, g(i), g(j))
        }
      }
      Iterator((wins.toMap, ties.toMap))
    }.collect()
    def total(maps: Seq[Map[(String, String), Long]]): Map[(String, String), Double] =
      maps.flatten.groupMapReduce(_._1)(_._2)(_ + _).map { case (k, n) => k -> n.toDouble }
    (total(partials.map(_._1).toSeq), total(partials.map(_._2).toSeq))
  }

  /** Solve over directed win counts only (no ties). */
  def solve(
      pairCounts: Map[(String, String), Double],
      laplace: Double = 0.5,
      maxIter: Int = 1000,
      tol: Double = 1e-8,
      eloMean: Double = 1500.0): Map[String, (Double, Double, Double, Double, Double, Double)] =
    solve(pairCounts, Map.empty, laplace, maxIter, tol, eloMean)

  /** Bradley–Terry MM solve over directed win counts plus unordered tie
    * counts (each tie adds 0.5 wins both directions, pre-smoothing).
    * Returns per label: (ability, beta, elo, wins, losses, matches) with
    * the summary columns computed from the SMOOTHED matrix, matching the
    * reference (evals.py:311-319). */
  def solve(
      pairCounts: Map[(String, String), Double],
      tieCounts: Map[(String, String), Double],
      laplace: Double,
      maxIter: Int,
      tol: Double,
      eloMean: Double): Map[String, (Double, Double, Double, Double, Double, Double)] = {
    val models0 = (pairCounts.keys.flatMap(k => Seq(k._1, k._2)) ++
      tieCounts.keys.flatMap(k => Seq(k._1, k._2))).toSeq.distinct.sorted
    if (models0.isEmpty) return Map.empty

    def buildW(models: Seq[String]): Array[Array[Double]] = {
      val idx = models.zipWithIndex.toMap
      val w = Array.ofDim[Double](models.size, models.size)
      for (((win, lose), c) <- pairCounts; if win != lose;
           i <- idx.get(win); j <- idx.get(lose)) w(i)(j) += c
      for (((a, b), t) <- tieCounts; if a != b; i <- idx.get(a); j <- idx.get(b)) {
        w(i)(j) += 0.5 * t
        w(j)(i) += 0.5 * t
      }
      if (laplace > 0)
        for (i <- models.indices; j <- models.indices if i != j) w(i)(j) += laplace
      w
    }

    // Drop zero-match labels (only possible with laplace == 0).
    var models = models0
    var w = buildW(models)
    val active = models.indices.filter { i =>
      models.indices.exists(j => j != i && (w(i)(j) + w(j)(i)) > 0)
    }
    if (active.size != models.size) {
      models = active.map(models0).toSeq
      w = buildW(models)
    }
    val m = models.size
    if (m == 0) return Map.empty

    val nMat = Array.tabulate(m, m)((i, j) => if (i == j) 0.0 else w(i)(j) + w(j)(i))

    val s = Array.fill(m)(1.0)
    var it = 0
    var converged = false
    while (it < maxIter && !converged) {
      val sOld = s.clone()
      val wi = Array.tabulate(m)(i => w(i).sum)
      val denom = Array.tabulate(m)(i => (0 until m).map(j => nMat(i)(j) / (s(i) + s(j) + 1e-12)).sum)
      for (i <- 0 until m if denom(i) > 0) s(i) = wi(i) / denom(i)
      val geo = math.pow(s.product, 1.0 / m)
      for (i <- 0 until m) s(i) /= geo
      converged = (0 until m).map(i => math.abs(math.log(s(i) + 1e-12) - math.log(sOld(i) + 1e-12))).max < tol
      it += 1
    }

    val beta = s.map(x => math.log(x + 1e-12))
    val eloRaw = beta.map(_ * 400.0 / math.log(10.0))
    val eloCentered = {
      val mean = eloRaw.sum / m
      eloRaw.map(_ - mean + eloMean)
    }
    models.zipWithIndex.map { case (label, i) =>
      val wins = w(i).sum
      val losses = (0 until m).map(j => w(j)(i)).sum
      val matches = (0 until m).map(j => nMat(i)(j)).sum
      label -> (s(i), beta(i), eloCentered(i), wins, losses, matches)
    }.toMap
  }
}
