package perfbench

import java.util.SplittableRandom

/** Seeded input generators. Every input of a run (graphs, matrices,
  * the request sequence) is a pure function of the workload seed, so
  * the same seed replays the same run and the program under test only
  * ever sees generated inputs. */
object Inputs {

  /** A directed graph the harness keeps its own copy of: vertices are
    * `0 until n`, edges are `(src, dst)` pairs. */
  final case class Graph(n: Int, edges: Array[(Long, Long)]) {
    def edgeCount: Int = edges.length
  }

  sealed trait Op { def graph: String }
  final case class Write(graph: String, replace: Boolean, next: Graph, starts: IndexedSeq[Long]) extends Op
  final case class Bfs(graph: String, start: Long) extends Op
  final case class Dfs(graph: String, start: Long) extends Op

  /** Graph count, vertex bound and request mix of `catalog_paper`:
    * the reference's 20-graph, n ≤ 100 envelope (`client.c:11`). */
  val paperGraphs = 20
  val paperMaxN = 100

  /** Reference-format dense adjacency matrix with `n` in [2, 100] and
    * a seeded density. */
  def paperGraph(rng: SplittableRandom): Graph = {
    val n = 2 + rng.nextInt(paperMaxN - 1)
    val density = 0.02 + 0.28 * rng.nextDouble()
    val edges = for {
      i <- 0 until n
      j <- 0 until n
      if rng.nextDouble() < density
    } yield (i.toLong, j.toLong)
    // an empty edge list would be written as a schema-less Parquet
    // directory that no later read could load
    Graph(n, if (edges.isEmpty) Array((0L, 1L)) else edges.toArray)
  }

  /** The reference text format: `n`, then `n*n` row-major cells. */
  def matrixText(g: Graph): String = {
    val cells = Array.fill(g.n * g.n)('0')
    g.edges.foreach { case (s, d) => cells(s.toInt * g.n + d.toInt) = '1' }
    val sb = new StringBuilder
    sb.append(g.n).append('\n')
    for (i <- 0 until g.n) {
      sb.append(cells.slice(i * g.n, (i + 1) * g.n).mkString(" ")).append('\n')
    }
    sb.toString
  }

  /** An edge list as `src,dst` CSV lines. */
  def edgeListText(g: Graph): String = {
    val sb = new StringBuilder
    g.edges.foreach { case (s, d) => sb.append(s).append(',').append(d).append('\n') }
    sb.toString
  }

  /** Shape of a `catalog_distributed` graph: `layers` layers of `width`
    * vertices plus `roots` root vertices. Every root points at every
    * vertex of layer 1; vertex j of layer k < `layers` points at vertex j
    * of layer k+1, at `fanout` seeded vertices of layer k+1, and at
    * `backEdges` seeded vertices of layers 1..k. A BFS from any root
    * therefore reaches the whole of layer k at level k, so every seed
    * gives exactly `layers` BFS levels after the start and the same
    * per-level work; only vertex ids and edge targets move. */
  final case class Layered(roots: Int, layers: Int, width: Int, fanout: Int, backEdges: Int) {
    val n: Int = roots + layers * width
    val edgeCount: Long =
      roots.toLong * width + (layers - 1).toLong * width * (1 + fanout) +
        (layers - 1).toLong * width * backEdges
  }

  val distributedShape = Layered(roots = 4, layers = 2, width = 7000, fanout = 4, backEdges = 1)
  val distributedGraphs = 1

  /** A seeded layered graph; vertex ids are a seeded permutation, so
    * ids carry no layer information. Roots are ids `perm(0 until roots)`
    * and are returned as the BFS/DFS start candidates. */
  def layeredGraph(rng: SplittableRandom, shape: Layered): (Graph, Array[Long]) = {
    import shape._
    val perm = (0 until n).toArray
    for (i <- n - 1 to 1 by -1) {
      val j = rng.nextInt(i + 1)
      val t = perm(i); perm(i) = perm(j); perm(j) = t
    }
    def id(layer: Int, j: Int): Long = perm(roots + (layer - 1) * width + j).toLong
    val out = Array.newBuilder[(Long, Long)]
    for (r <- 0 until roots; j <- 0 until width) out += ((perm(r).toLong, id(1, j)))
    for (k <- 1 until layers; j <- 0 until width) {
      val v = id(k, j)
      out += ((v, id(k + 1, j)))
      for (_ <- 0 until fanout) out += ((v, id(k + 1, rng.nextInt(width))))
      // back edges point at a layer already reached, so they never
      // shorten a BFS distance but do add rows the anti-join must drop
      for (_ <- 0 until backEdges) out += ((v, id(1 + rng.nextInt(k), rng.nextInt(width))))
    }
    (Graph(n, out.result()), (0 until roots).map(r => perm(r).toLong).toArray)
  }

  /** The request mix, one cycle of ten: 20 % writes (one add, one
    * modify), 40 % BFS, 40 % DFS leaves. The kinds follow this fixed
    * cycle so every run, whatever its seed, times the same share of
    * each kind; graphs, start vertices and written matrices are seeded. */
  val cycle: IndexedSeq[String] =
    IndexedSeq("bfs", "dfs", "add", "bfs", "dfs", "bfs", "dfs", "modify", "bfs", "dfs")

  /** The seeded inputs of one catalog workload: its initial graphs and
    * its request stream. A request's start vertex is drawn from the
    * graph's current start candidates, which the caller tracks (they
    * change when a write replaces the graph). */
  final class Catalog(seed: Long, distributed: Boolean) {
    private val rng = new SplittableRandom(seed)
    val names: IndexedSeq[String] =
      if (distributed) (1 to distributedGraphs).map(i => s"D$i")
      else (1 to paperGraphs).map(i => s"G$i")

    /** A graph and its start candidates: the roots of a layered graph,
      * every vertex of a matrix graph. */
    def generate(r: SplittableRandom): (Graph, IndexedSeq[Long]) =
      if (distributed) {
        val (g, roots) = layeredGraph(r, distributedShape)
        (g, roots.toIndexedSeq)
      } else {
        val g = paperGraph(r)
        (g, 0L until g.n.toLong)
      }

    val initial: IndexedSeq[(String, Graph, IndexedSeq[Long])] = names.map { n =>
      val (g, st) = generate(rng.split())
      (n, g, st)
    }

    private val timed = new Requests(rng.split())
    private val untimed = new Requests(rng.split())

    /** The next timed request. */
    def next(starts: String => IndexedSeq[Long]): Op = timed.next(starts)
    /** The next warm-up request, from a stream of its own. */
    def warmUp(starts: String => IndexedSeq[Long]): Op = untimed.next(starts)

    private final class Requests(stream: SplittableRandom) {
      private var sent = 0L

      /** The next request, its kind taken from [[cycle]]. */
      def next(starts: String => IndexedSeq[Long]): Op = {
        val name = names(stream.nextInt(names.length))
        val kind = cycle((sent % cycle.length).toInt)
        sent += 1
        kind match {
          case "add" | "modify" =>
            val (g, st) = generate(stream)
            Write(name, replace = kind == "add", g, st)
          case _ =>
            val cands = starts(name)
            val start = cands(stream.nextInt(cands.length))
            if (kind == "bfs") Bfs(name, start) else Dfs(name, start)
        }
      }
    }
  }
}
