package graft

import graft.ops.Graph
import org.apache.spark.sql.functions._

/** SCC correctness on known graphs + randomized cross-check against a
  * brute-force transitive-closure oracle (SURVEY §5 property tests).
  */
class SccSpec extends SparkSpec {

  /** Run graft SCC on an edge list over vertices 0..n-1. */
  private def runScc(n: Int, edges: Seq[(Long, Long)],
                     maxOuterIter: Int = 50): Map[Long, Long] = {
    val s = spark
    import s.implicits._
    val v = (0L until n.toLong).toDF("v")
    val e = if (edges.isEmpty) Seq((-1L, -1L)).toDF("src", "dst").limit(0)
            else edges.toDF("src", "dst")
    Graph.scc(s, v, e, maxOuterIter).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  /** Brute-force components: Floyd–Warshall reachability, component =
    * min mutually-reachable vertex (the label contract of Graph.scc). */
  private def bruteScc(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val reach = Array.fill(n, n)(false)
    edges.foreach { case (a, b) => reach(a.toInt)(b.toInt) = true }
    for (k <- 0 until n; i <- 0 until n; j <- 0 until n)
      if (reach(i)(k) && reach(k)(j)) reach(i)(j) = true
    (0 until n).map { v =>
      val comp = (0 until n)
        .filter(u => u == v || (reach(v)(u) && reach(u)(v))).min
      v.toLong -> comp.toLong
    }.toMap
  }

  test("3-cycle with a tail: cycle is one component, tail is singleton") {
    val got = runScc(4, Seq((0L, 1L), (1L, 2L), (2L, 0L), (2L, 3L)))
    assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 3L))
  }

  test("two disjoint cycles stay separate components") {
    val got = runScc(5, Seq((0L, 1L), (1L, 0L), (2L, 3L), (3L, 4L), (4L, 2L)))
    assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 2L, 3L -> 2L, 4L -> 2L))
  }

  test("a DAG is all singletons") {
    val got = runScc(4, Seq((0L, 1L), (0L, 2L), (1L, 3L), (2L, 3L)))
    assert(got == Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L))
  }

  test("empty edge set: every vertex its own component") {
    val got = runScc(3, Seq.empty)
    assert(got == Map(0L -> 0L, 1L -> 1L, 2L -> 2L))
  }

  test("randomized graphs match the brute-force oracle") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 4) {
      val n = 5 + rnd.nextInt(4)
      val edges = (for {
        a <- 0 until n; b <- 0 until n
        if a != b && rnd.nextDouble() < 0.25
      } yield (a.toLong, b.toLong)).toSeq
      val got = runScc(n, edges)
      val want = bruteScc(n, edges)
      assert(got == want, s"trial $trial: n=$n edges=$edges")
    }
  }

  test("a self-loop is neither an in- nor an out-edge for trim") {
    // 0 has only a self-loop; 1 has a self-loop and a 2-cycle with 2
    val edges = Seq((0L, 0L), (1L, 1L), (1L, 2L), (2L, 1L), (3L, 3L),
      (3L, 1L))
    val got = runScc(4, edges)
    assert(got == bruteScc(4, edges))
    assert(got == Map(0L -> 0L, 1L -> 1L, 2L -> 1L, 3L -> 3L))
  }

  test("two cycles joined one-way need a second outer iteration") {
    // upstream cycle 0-1-2 feeds downstream cycle 3-4-5 through 2→3;
    // the largest id sits downstream, so the first label pass leaves
    // the upstream cycle with f != b
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L), (2L, 3L),
      (3L, 4L), (4L, 5L), (5L, 3L))
    val got = runScc(6, edges)
    assert(got == bruteScc(6, edges))
    assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 0L,
      3L -> 3L, 4L -> 3L, 5L -> 3L))
    // capped at one iteration, the unresolved upstream cycle falls back
    // to singletons
    assert(runScc(6, edges, maxOuterIter = 1) == Map(0L -> 0L, 1L -> 1L,
      2L -> 2L, 3L -> 3L, 4L -> 3L, 5L -> 3L))
  }

  test("a 12-cycle survives trim and resolves as one component") {
    val edges = (0L until 12L).map(i => (i, (i + 5) % 12)) :+ ((3L, 12L))
    val got = runScc(13, edges)
    assert(got == bruteScc(13, edges))
    assert(got == ((0L until 12L).map(_ -> 0L) :+ (12L -> 12L)).toMap)
  }

  test("edges with an endpoint outside the vertex set are ignored") {
    // 7 and 9 are not vertices: the cycle through 7 and the edges to
    // and from 9 must not merge 0, 1 and 2
    val edges = Seq((0L, 1L), (1L, 7L), (7L, 0L), (1L, 2L), (2L, 9L),
      (9L, 1L), (3L, 4L), (4L, 3L))
    val got = runScc(5, edges)
    assert(got == bruteScc(5, edges.filter { case (a, b) => a < 5 && b < 5 }))
    assert(got == Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 3L))
  }

  test("BFS: path, branch, cycle, and unreachable node distances") {
    import spark.implicits._
    // 0→1→2→3 path with a shortcut 0→2, a cycle back-edge 3→0, and an
    // island 9→10 unreachable from 0
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (0L, 2L), (3L, 0L),
      (9L, 10L)).toDF("src", "dst")
    val got = ops.Graph.bfs(spark, edges, 0L)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // shortcut wins (2 at dist 1, not 2); cycle doesn't relabel 0;
    // island absent
    assert(got == Map(0L -> 0, 1L -> 1, 2L -> 1, 3L -> 2))
  }

  test("BFS: maxIter bounds the horizon") {
    import spark.implicits._
    val chain = (0L until 6L).sliding(2).map(p => (p(0), p(1))).toSeq
      .toDF("src", "dst")
    val got = ops.Graph.bfs(spark, chain, 0L, maxIter = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(0L -> 0, 1L -> 1, 2L -> 2, 3L -> 3))
  }
}
