package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** Pins the reference checker to the golden traversals of the
  * reference's sample graphs (FIXTURES.md, part A). */
class ReferenceSpec extends AnyFunSuite {

  /** Parses a bundled `G<k>.txt` with plain Scala, not the engine. */
  private def matrix(name: String): Array[(Long, Long)] = {
    val src = scala.io.Source.fromResource(s"graphs/$name")
    val tok = try src.mkString.trim.split("\\s+").map(_.toInt) finally src.close()
    val n = tok(0)
    (for (i <- 0 until n; j <- 0 until n if tok(1 + i * n + j) == 1) yield (i.toLong, j.toLong)).toArray
  }

  private val goldens = Seq(
    // graph, start, BFS levels, DFS leaves
    ("G1.txt", 0L, Seq(Seq(0L)), Seq(0L)),
    ("G2.txt", 0L, Seq(Seq(0L), Seq(1L)), Seq(1L)),
    ("G5.txt", 0L, Seq(Seq(0L), Seq(1L, 4L), Seq(2L, 3L)), Seq(2L, 3L, 4L)),
    ("G6.txt", 0L, Seq(Seq(0L), Seq(1L, 2L, 3L), Seq(4L)), Seq(2L, 3L, 4L)),
    ("G7.txt", 0L, Seq(Seq(0L), Seq(1L, 4L), Seq(2L, 5L, 6L), Seq(3L)), Seq(3L, 5L, 6L)),
    ("G7.txt", 3L, Seq(Seq(3L), Seq(2L), Seq(1L), Seq(0L), Seq(4L), Seq(5L, 6L)), Seq(5L, 6L)))

  for ((g, start, levels, leaves) <- goldens) {
    test(s"$g from $start: BFS levels and DFS leaves match FIXTURES.md") {
      val e = matrix(g)
      val expectedBfs = levels.zipWithIndex.flatMap { case (vs, l) => vs.map(v => (l, v)) }
      assert(Reference.bfs(e, start) == expectedBfs)
      assert(Reference.dfsLeaves(e, start) == leaves)
    }
  }

  test("DFS expands neighbours in ascending order, not BFS order") {
    // 0->1, 0->2, 1->3, 3->2: the walk visits 0,1,3 and then reaches 2
    // from 3, so 2 is the only leaf
    val e = Array((0L, 2L), (0L, 1L), (1L, 3L), (3L, 2L))
    assert(Reference.dfsLeaves(e, 0L) == Seq(2L))
    assert(Reference.bfs(e, 0L) == Seq((0, 0L), (1, 1L), (1, 2L), (2, 3L)))
  }

  test("duplicate edges and self-loops change neither traversal") {
    val e = Array((0L, 0L), (0L, 1L), (0L, 1L), (1L, 1L))
    assert(Reference.bfs(e, 0L) == Seq((0, 0L), (1, 1L)))
    assert(Reference.dfsLeaves(e, 0L) == Seq(1L))
  }
}
