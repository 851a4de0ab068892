package graft.analytics

import graft.SparkSpec
import org.apache.spark.sql.functions.col

/** Planted-graph coverage for the k-core peel: a known nucleus
  * survives with exact core degrees, a tree dissolves to nothing, and
  * a deep path EXCEEDING the round bound fails loudly instead of
  * silently truncating, naming its query (the CC/BFS non-convergence
  * discipline).
  */
class KCorePeelSpec extends SparkSpec {
  import spark.implicits._

  private def sym(edges: Seq[(Long, Long)]) =
    (edges ++ edges.map { case (a, b) => (b, a) })
      .toDF("a", "b")

  test("K4 plus a pendant chain: the clique survives, the chain peels") {
    // K4 on 1-4; chain 4-5-6 hangs off it
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L))
    val got = GraphQueries.kcorePeel(sym(edges), 3L, 12)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L),
      "exactly the K4 with its in-clique degrees")
  }

  test("a tree has no 2-core: peeling reaches the empty fixpoint") {
    val edges = Seq((1L, 2L), (2L, 3L), (2L, 4L), (4L, 5L))
    val got = GraphQueries.kcorePeel(sym(edges), 2L, 12).collect()
    assert(got.isEmpty)
  }

  test("two disjoint triangles both survive the 2-core") {
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L))
    val got = GraphQueries.kcorePeel(sym(edges), 2L, 12)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet === Set(1L, 2L, 3L, 10L, 11L, 12L))
    assert(got.values.forall(_ == 2L))
  }

  test("a path deeper than the round bound fails loudly, never truncates") {
    // 2-core peel of a 40-node path sheds one node per END per round:
    // ~20 rounds to dissolve — past a bound of 5 it must THROW
    val edges = (1L until 40L).map(i => (i, i + 1))
    val ex = intercept[IllegalStateException] {
      GraphQueries.kcorePeel(sym(edges), 2L, 5).collect()
    }
    assert(ex.getMessage.startsWith("graph_kcore: "), ex.getMessage)
    assert(ex.getMessage.contains("did not converge within 5 rounds"))
  }
}
