package graft.queries

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

import graft.TestSpark

/** Property check of the distributed connected-components against a
  * driver-side union-find reference: for arbitrary random graphs, the
  * pointer-jumping label propagation must land every node on its
  * component minimum — the algorithmic claim the dedup-cluster
  * operator rests on, checked beyond the handful of topologies the
  * unit tests pin.
  */
object ConnectedComponentsPropSpec extends Properties("connectedComponents") {

  // each case runs a full multi-round distributed fixpoint (~seconds);
  // 12 random graphs is plenty against a 40-node id space
  override def overrideParameters(p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(12)

  private lazy val spark = TestSpark.spark

  private val graphs: Gen[List[(Long, Long)]] = for {
    n <- Gen.choose(2, 40) // node-id space
    m <- Gen.choose(1, 60) // edge count
    edges <- Gen.listOfN(m, for {
      a <- Gen.choose(0L, n.toLong - 1)
      b <- Gen.choose(0L, n.toLong - 1)
      if a != b
    } yield (math.min(a, b), math.max(a, b)))
  } yield edges

  private def unionFind(edges: List[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x
      else { val r = find(p); parent(x) = r; r }
    }
    for ((a, b) <- edges) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
    nodes.map(x => x -> find(x)).toMap
  }

  property("labels = component minima (vs driver union-find)") =
    forAll(graphs) { edges =>
      import spark.implicits._
      val got = Components.connectedComponents(edges.toDF("a_id", "b_id"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      got == unionFind(edges)
    }
}
