package graft

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

/** Property checks for [[graft.ops.Dedup.connectedComponents]] against an
  * in-memory union-find reference, on both of its paths: the driver finish
  * and the large-star / small-star rounds (Kiveris 2014) — including
  * long-path graphs whose diameter is far past any fixed propagation-round
  * budget. Case counts are small because every case runs Spark jobs.
  */
object DedupGraphPropertySpec extends Properties("ConnectedComponentsStar") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(6)

  private lazy val spark = TestSession.spark

  /** Driver-side union-find with min-id roots: the ground truth. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { val lo = math.min(ra, rb); parent(math.max(ra, rb)) = lo }
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  /** Components through the driver finish (the default bound) and
    * through the distributed rounds (bound 0). */
  private def runBoth(edges: Seq[(Long, Long)]): Seq[Map[Long, Long]] = {
    import spark.implicits._
    val pairs = edges.toDF("a_id", "b_id")
    Seq(graft.ops.Dedup.connectedComponents(pairs),
      graft.ops.Dedup.components(pairs, "a_id", "b_id", 0))
      .map(_.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
  }

  private val randomGraph: Gen[List[(Long, Long)]] = Gen.listOfN(25,
    Gen.zip(Gen.chooseNum(0L, 30L), Gen.chooseNum(0L, 30L))) // self-pairs included

  property("random graphs match union-find (component = min reachable id)") =
    forAll(randomGraph) { edges =>
      edges.isEmpty || runBoth(edges).forall(_ == unionFind(edges))
    }

  /** Path graphs of diameter 39-69, with shuffled node labels so the min
    * sits anywhere in the chain. */
  private val longPath: Gen[List[(Long, Long)]] = for {
    n <- Gen.chooseNum(40, 70)
    seed <- Gen.chooseNum(0L, Long.MaxValue)
  } yield {
    val rnd = new scala.util.Random(seed)
    val labels = rnd.shuffle((0L until n).toVector)
    labels.sliding(2).map(p => (p(0), p(1))).toList
  }

  property("long shuffled path graphs (diameter >> 20) match union-find") =
    forAll(longPath) { edges =>
      runBoth(edges).forall(_ == unionFind(edges))
    }
}
