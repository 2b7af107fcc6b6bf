package perfbench

import org.scalatest.funsuite.AnyFunSuite

import perfbench.Inputs._

class InputsSpec extends AnyFunSuite {

  /** Everything a catalog run feeds the engine, rendered as text: the
    * initial graphs (reference-format matrices or CSV edge lists) and the
    * first `n` requests, with writes applied as the workload applies
    * them. */
  private def render(seed: Long, distributed: Boolean, n: Int = 60): String = {
    val gen = new Catalog(seed, distributed)
    val starts = scala.collection.mutable.Map[String, IndexedSeq[Long]]()
    def graph(g: Graph) = if (distributed) edgeListText(g) else matrixText(g)
    val sb = new StringBuilder
    gen.initial.foreach { case (name, g, st) => starts(name) = st; sb ++= s"$name\n${graph(g)}\n" }
    (1 to n).foreach { _ =>
      gen.next(starts) match {
        case Write(name, replace, g, st) => starts(name) = st; sb ++= s"write $name $replace\n${graph(g)}\n"
        case op => sb ++= s"$op\n"
      }
    }
    sb.toString
  }

  for (distributed <- Seq(false, true)) {
    val w = if (distributed) "catalog_distributed" else "catalog_paper"
    test(s"$w: the same seed gives byte-identical inputs, another seed different ones") {
      val n = if (distributed) 12 else 60
      assert(render(7, distributed, n) == render(7, distributed, n))
      assert(render(7, distributed, n) != render(8, distributed, n))
    }
  }

  test("catalog_paper: every graph, initial or written, has 2 <= n <= 100 and an edge") {
    for (seed <- 1L to 20L) {
      val gen = new Catalog(seed, distributed = false)
      val starts = gen.initial.map { case (n, _, st) => n -> st }.toMap
      val graphs = gen.initial.map(_._2) ++
        (1 to 100).map(_ => gen.next(starts)).collect { case w: Write => w.next }
      graphs.foreach { g =>
        assert(g.n >= 2 && g.n <= paperMaxN)
        assert(g.edgeCount >= 1)
        assert(g.edges.forall { case (s, d) => s >= 0 && s < g.n && d >= 0 && d < g.n })
      }
    }
  }

  test("catalog_distributed: every graph is above both local-path edge bounds") {
    // Traversals.bfsLocalMaxEdges and GraphAlgos.denseLocalMaxEdges: at or
    // below them BFS/DFS would take the driver-local path
    val bound = math.max(graft.operators.Traversals.bfsLocalMaxEdges,
      graft.operators.GraphAlgos.denseLocalMaxEdges)
    for (seed <- 1L to 3L) {
      val gen = new Catalog(seed, distributed = true)
      gen.initial.foreach { case (_, g, _) =>
        assert(g.edgeCount > bound)
        assert(g.edgeCount == distributedShape.edgeCount)
      }
    }
  }

  test("catalog_distributed: BFS from any root reaches every layer at its own level") {
    val shape = Layered(roots = 2, layers = 4, width = 50, fanout = 2, backEdges = 1)
    val (g, roots) = layeredGraph(new java.util.SplittableRandom(3), shape)
    roots.foreach { r =>
      val levels = Reference.bfs(g.edges, r).groupBy(_._1).map { case (l, vs) => l -> vs.size }
      assert(levels == Map(0 -> 1) ++ (1 to shape.layers).map(_ -> shape.width))
    }
  }

  test("the request mix is 20 % writes, 40 % BFS, 40 % DFS in every cycle") {
    assert(cycle.count(k => k == "add" || k == "modify") == 2)
    assert(cycle.count(_ == "bfs") == 4)
    assert(cycle.count(_ == "dfs") == 4)
  }
}
