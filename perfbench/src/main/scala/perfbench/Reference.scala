package perfbench

/** Reference semantics of the paper's two read operations, in plain
  * Scala over the harness's own copy of a graph. Every BFS and DFS
  * response of the catalog workloads is checked against these.
  *
  *  - BFS (op 4): level order from `start`; within a level, vertices in
  *    ascending id order. Unreached vertices do not appear.
  *  - DFS leaves (op 3): an explicit-stack depth-first walk from
  *    `start` that expands neighbours in ascending id order
  *    (`secondary_server.c:142-176`); a leaf is a visited vertex that
  *    discovered no unvisited neighbour when it was expanded. */
object Reference {

  private def adjacency(edges: Array[(Long, Long)]): Map[Long, Array[Long]] =
    edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._2).distinct.sorted }

  /** `(level, vertex)` pairs in BFS output order. */
  def bfs(edges: Array[(Long, Long)], start: Long): Vector[(Int, Long)] = {
    val adj = adjacency(edges)
    val seen = scala.collection.mutable.HashSet(start)
    val out = Vector.newBuilder[(Int, Long)]
    var frontier = Vector(start)
    var level = 0
    while (frontier.nonEmpty) {
      frontier.foreach(v => out += ((level, v)))
      val next = frontier.iterator
        .flatMap(v => adj.getOrElse(v, Array.emptyLongArray))
        .filter(seen.add).toVector.sorted
      frontier = next
      level += 1
    }
    out.result()
  }

  /** DFS-tree leaves, ascending. */
  def dfsLeaves(edges: Array[(Long, Long)], start: Long): Vector[Long] = {
    val adj = adjacency(edges)
    val visited = scala.collection.mutable.HashSet(start)
    val leaves = Vector.newBuilder[Long]
    // a frame is (vertex, index of the next neighbour to try, children)
    val stack = scala.collection.mutable.Stack[(Long, Int, Int)]((start, 0, 0))
    while (stack.nonEmpty) {
      val (v, i, children) = stack.pop()
      val nbrs = adj.getOrElse(v, Array.emptyLongArray)
      var j = i
      while (j < nbrs.length && visited.contains(nbrs(j))) j += 1
      if (j < nbrs.length) {
        visited += nbrs(j)
        stack.push((v, j + 1, children + 1))
        stack.push((nbrs(j), 0, 0))
      } else if (children == 0) leaves += v
    }
    leaves.result().sorted
  }
}
