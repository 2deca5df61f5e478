package graft

import graft.ops.Cluster
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** graft.ops.Cluster (large-star/small-star connected components) vs an
  * in-test union-find oracle, over planted shapes and random graphs. The
  * DuckDB recursive-CTE oracle covers the q59 end-to-end query; this spec
  * covers the operator on graph shapes the embedding pair set can't plant
  * (long chains — the O(log n) convergence case — big stars, singletons).
  */
class ClusterSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  /** Union-find oracle: (node -> min id of its component) for every node
    * that appears in a non-self edge.
    */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      if (a != b) { val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra) = rb }
    }
    val nodes = edges.filter { case (a, b) => a != b }.flatMap { case (a, b) => Seq(a, b) }.distinct
    val byRoot = nodes.groupBy(find)
    byRoot.flatMap { case (_, ns) => val m = ns.min; ns.map(_ -> m) }.toMap
  }

  private def run(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Cluster.connectedComponents(edges.toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect().toMap

  test("chain of 64 nodes collapses to one component (log-round convergence)") {
    val edges = (0L until 63L).map(i => (i, i + 1))
    val got = run(edges)
    assert(got.size == 64)
    assert(got.values.toSet == Set(0L), s"chain labels: ${got.values.toSet}")
  }

  test("star, pair, and singleton-self-pair mix") {
    val star = (1L to 10L).map(i => (100L, 100L + i)) // min is the hub=100
    val pair = Seq((5L, 3L))
    val selfOnly = Seq((42L, 42L)) // normalized away entirely
    val got = run(star ++ pair ++ selfOnly)
    assert(!got.contains(42L), "self-pair-only node must not appear")
    assert(got(3L) == 3L && got(5L) == 3L)
    assert((100L to 110L).forall(n => got(n) == 100L))
  }

  test("duplicate and reversed pairs change nothing") {
    val e = Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L))
    assert(run(e) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("random graphs match union-find across seeds") {
    for (seed <- Seq(1, 7, 13)) {
      val rnd = new Random(seed)
      // ~80 nodes, sparse enough for many components
      val edges = Seq.fill(60)((rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
      val want = unionFind(edges)
      val got = run(edges)
      assert(got == want, s"seed=$seed diff=${(got.toSet diff want.toSet) ++ (want.toSet diff got.toSet)}")
    }
  }

  test("two clone-groups from pair generators resolve to canonical minima") {
    // what minhash/cosine banding emits for clone groups {1,2,3} and {10,11}
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (10L, 11L))
    val got = run(e)
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }
}
