package graft.analytics

import graft.SparkSpec

/** Planted-graph coverage for [[GraphQueries.bfsLevels]]: exact hop
  * distances from the smallest node, and a path deeper than the round
  * cap fails loudly, naming graph_bfs_depth, instead of silently
  * truncating distances. */
class BfsLevelsSpec extends SparkSpec {
  import spark.implicits._

  private def sym(edges: Seq[(Long, Long)]) =
    (edges ++ edges.map { case (a, b) => (b, a) })
      .toDF("a", "b")

  test("hop distances from the smallest node; unreachable nodes absent") {
    // path 1-2-3-4 with a shortcut 1-3 and a branch 3-5; 8-9 is a
    // separate component
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 3L), (3L, 5L),
      (8L, 9L))
    val got = GraphQueries.bfsLevels(sym(edges), 30)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 2L, 5L -> 2L))
  }

  test("a path deeper than the round cap fails loudly and names the query") {
    // BFS from node 1 along a 40-node path settles one node per round:
    // 39 rounds to reach node 40 — past a cap of 30 it must THROW
    val edges = (1L until 40L).map(i => (i, i + 1))
    val ex = intercept[IllegalStateException] {
      GraphQueries.bfsLevels(sym(edges), 30).collect()
    }
    assert(ex.getMessage.startsWith("graph_bfs_depth: "), ex.getMessage)
    assert(ex.getMessage.contains("did not converge within 30 rounds"))
  }
}
