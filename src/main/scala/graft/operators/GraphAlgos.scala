package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.graphx.{Edge, Graph}

/** Graph analytics beyond the reference's BFS/DFS surface that a graph
  * engine user expects, DataFrame in, DataFrame out: GraphX PageRank
  * and per-vertex triangle counts (BASELINE.json: "GraphX for
  * analytics"; GraphX's vertex-cut partitioning does the distribution),
  * and DataFrame-native triangle, similarity, motif, peel and matching
  * operators over the canonical undirected edge form. */
object GraphAlgos {

  private def toGraph(edges: DataFrame): Graph[Unit, Unit] = {
    val rdd = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .rdd.map(r => Edge(r.getLong(0), r.getLong(1), ()))
    Graph.fromEdges[Unit, Unit](rdd, ())
  }

  /** Static PageRank, fixed iteration count (deterministic). */
  def pageRank(edges: DataFrame, iters: Int = 10, reset: Double = 0.15): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    toGraph(edges).staticPageRank(iters, reset)
      .vertices.map { case (v, r) => (v, r) }.toDF("vertex", "rank")
  }

  /** Per-vertex triangle counts (GraphX canonicalises internally). */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    toGraph(edges).triangleCount()
      .vertices.map { case (v, c) => (v, c) }.toDF("vertex", "triangles")
  }

  /** DataFrame-native triangle counting with DEGREE-ORDERED edge
    * orientation — the skew-safe formulation for data-scale graphs
    * (the GraphX [[triangleCounts]] stays as the per-vertex fixture
    * path). Each undirected edge is oriented from its lower-(degree,
    * id) endpoint to the higher one, so every vertex's oriented
    * out-degree is O(√m) regardless of raw degree — a celebrity hub
    * with 10^8 neighbours generates O(m) wedges instead of O(deg²),
    * which is the difference between finishing and not at 100 TB.
    * Wedges (two oriented edges sharing their source) close against
    * the canonical undirected edge set; each triangle is found exactly
    * once, from its orientation-minimal apex. Shuffles: degree agg,
    * orientation joins, wedge self-join on apex, closing equi-join on
    * the canonical pair, final agg — all key-partitioned, no cross
    * product anywhere.
    * Input: (src, dst) edge list, treated as undirected (self-loops
    * and duplicate/reverse edges removed). Output: (vertex, triangles)
    * where vertex is the smallest id in the triangle. */
  def trianglesByMinVertex(edges: DataFrame): DataFrame =
    trianglesByMinVertex(edges, denseLocalMaxEdges)

  /** Canonical undirected edge form `(a < b, deduped, long)` of a raw
    * (src, dst) edge list, PINNED — the shared staging step of every
    * wedge-machinery operator. Exposed so callers that run several
    * motif/similarity operators over the SAME graph (the gate's
    * modulus-graph family is four queries on one edge set) can stage
    * it once and pass it to the `*Canon` entry points instead of
    * re-paying the scan + distinct shuffle per operator — at 100 TB
    * that staging pass is the dominant cost of small-output motif
    * queries. */
  def canonicalUndirected(edges: DataFrame): DataFrame =
    edges.select(
        least(col("src"), col("dst")).cast("long").as("a"),
        greatest(col("src"), col("dst")).cast("long").as("b"))
      .where(col("a") =!= col("b")).distinct().localCheckpoint(true)

  def trianglesByMinVertex(edges: DataFrame, localMaxEdges: Long): DataFrame =
    // pin: und feeds the degree union (2x), the orientation join, and
    // the closing join; oriented is self-joined for wedges — unpinned,
    // the canonicalize+distinct shuffle would re-execute per consumer
    // (the repo's self-join pin rule, see Dedup.scala header)
    trianglesByMinVertexCanon(canonicalUndirected(edges), localMaxEdges)

  /** [[trianglesByMinVertex]] over an ALREADY canonical pinned edge
    * table (contract of [[canonicalUndirected]]: a < b, deduped,
    * long-typed, checkpointed). The input's checkpoint blocks are
    * never dropped here — a memoized caller keeps serving them. */
  def trianglesByMinVertexCanon(und: DataFrame,
      localMaxEdges: Long = denseLocalMaxEdges): DataFrame =
    // dense-small-graph fast path: count each triangle once at its
    // min vertex, from its min edge (a < b canonical, third vertex
    // above b) — same bounded-collect contract and rationale as
    // [[jaccardPerEdge]]
    Traversals.collectAtMost(und, localMaxEdges) match {
      case Some(e) =>
        import und.sparkSession.implicits._
        val common = commonNeighbours(e)
        val counts = scala.collection.mutable.HashMap.empty[Long, Long]
        e.foreach { case (a, b) =>
          val c = common(a, b, true)
          if (c > 0) counts(a) = counts.getOrElse(a, 0L) + c
        }
        counts.toSeq.toDF("vertex", "triangles")
      case None =>
        closedTriangles(und, canonicalDegrees(und))
          .groupBy(least(col("u"), col("a")).as("vertex"))
          .agg(count(lit(1)).as("triangles"))
    }

  /** Shared edge bound for the driver-local DENSE-small-graph fast
    * paths (per-edge Jaccard AND min-vertex triangles — both consume
    * the same oriented-wedge machinery, so the cutoff rationale is one
    * contract, not two; retune it here and both operators follow).
    * Same bounded-collect contract as `Traversals.bfsLocalMaxEdges`
    * (≤64k × 16 B ≈ 1 MB). Dense small graphs are exactly where the
    * wedge pipeline hurts: wedge volume is Σ deg², so a few hundred
    * well-connected vertices generate millions of wedge rows whose
    * shuffles cost multiples of the whole local computation. */
  val denseLocalMaxEdges: Long = 65536L

  /** Vertex-count guard for the BITSET dense-local paths (r20): the
    * pairwise operators (link prediction, square counting) enumerate
    * vertex PAIRS against packed adjacency bitmaps, so their local
    * cost is nv²·(nv/64) word ops and their memory nv²/8 bits — at
    * 4096 that is ≤ 8.4M pairs over 64-word rows (~0.3 s, 2 MB), past
    * it the distributed wedge machinery runs. Both guards must hold:
    * [[denseLocalMaxEdges]] bounds the collect, this bounds the
    * quadratic ([[denseAdjacency]] applies it). */
  val denseLocalMaxVerts: Int = 4096

  /** Driver-side md5 hex — byte-identical to Spark's `md5()` (UTF-8
    * input, lowercase hex), so local fast paths of the hash-priority
    * operators (Luby MIS, greedy matching) compare the SAME strings
    * the distributed plan and the DuckDB oracle compare. */
  private[graft] def md5Hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val sb = new StringBuilder(32)
    d.foreach(b => sb.append(f"${b & 0xff}%02x"))
    sb.toString
  }

  /** Packed adjacency bitmaps over dense vertex indices for a
    * collected canonical edge array: (sorted distinct vertices,
    * id → dense index, per-vertex bit rows), or None when the edges
    * span more than `maxVerts` vertices. This is the one vertex-count
    * guard of the bitset dense-local paths, and it runs before any
    * bitmap is allocated: a sparse graph within the edge bound can
    * carry ~131k vertices, whose O(verts²/8)-byte bitmaps would cost
    * ~2 GB of driver heap just to discover the guard fails (r20
    * ADVICE). */
  private def denseAdjacency(e: Array[(Long, Long)], maxVerts: Int)
      : Option[(Array[Long], Map[Long, Int], Array[Array[Long]])] = {
    val distinct = e.flatMap(p => Seq(p._1, p._2)).distinct
    if (distinct.length > maxVerts) return None
    val verts = distinct.sorted
    val idx = verts.zipWithIndex.toMap
    val nw = (verts.length + 63) >> 6
    val adj = Array.fill(verts.length)(new Array[Long](nw))
    e.foreach { case (a, b) =>
      val ia = idx(a); val ib = idx(b)
      adj(ia)(ib >> 6) |= 1L << (ib & 63)
      adj(ib)(ia >> 6) |= 1L << (ia & 63)
    }
    Some((verts, idx, adj))
  }

  /** Common-neighbour counts over a collected canonical edge array:
    * `(a, b, aboveB)` is |N(a) ∩ N(b)|, or with `aboveB` only the
    * common neighbours whose id is above b. r20: graphs within
    * [[denseLocalMaxVerts]] count against packed bitmaps — a masked
    * popcount, Σ_e nv/64 word ops instead of Σ_e min(deg) boxed
    * HashSet lookups (the saturated mod-300 fixture paid ~13M of
    * those); sparse id-spaces keep the HashSet form. */
  private def commonNeighbours(e: Array[(Long, Long)]): (Long, Long, Boolean) => Int =
    denseAdjacency(e, denseLocalMaxVerts) match {
      case Some((_, idx, adj)) => (a, b, aboveB) =>
        if (aboveB) intersectCountAbove(adj(idx(a)), adj(idx(b)), idx(b))
        else intersectCount(adj(idx(a)), adj(idx(b)))
      case None =>
        val adj = scala.collection.mutable.HashMap
          .empty[Long, scala.collection.mutable.HashSet[Long]]
        e.foreach { case (a, b) =>
          adj.getOrElseUpdate(a, scala.collection.mutable.HashSet.empty) += b
          adj.getOrElseUpdate(b, scala.collection.mutable.HashSet.empty) += a
        }
        (a, b, aboveB) => {
          val sa = adj(a); val sb = adj(b)
          val (small, big) = if (sa.size <= sb.size) (sa, sb) else (sb, sa)
          small.count(c => (!aboveB || c > b) && big.contains(c))
        }
    }

  private def intersectCount(x: Array[Long], y: Array[Long]): Int = {
    var i = 0; var c = 0
    while (i < x.length) { c += java.lang.Long.bitCount(x(i) & y(i)); i += 1 }
    c
  }

  /** [[intersectCount]] restricted to dense indices strictly ABOVE
    * `lo` — the triangles-at-min-vertex enumeration (ids sort
    * ascending into dense indices, so "neighbour id > b" is a bit
    * position test). */
  private def intersectCountAbove(x: Array[Long], y: Array[Long],
      lo: Int): Int = {
    var i = lo >> 6; var c = 0
    if (i < x.length) {
      val maskedFirst = x(i) & y(i) & ~((1L << (lo & 63)) | ((1L << (lo & 63)) - 1L))
      c += java.lang.Long.bitCount(maskedFirst)
      i += 1
      while (i < x.length) { c += java.lang.Long.bitCount(x(i) & y(i)); i += 1 }
    }
    c
  }

  private def bitTest(row: Array[Long], i: Int): Boolean =
    (row(i >> 6) & (1L << (i & 63))) != 0L

  /** Per-edge neighborhood Jaccard similarity — the classic
    * link-prediction / graph-cleaning feature: for every undirected
    * edge {a,b}, |N(a) ∩ N(b)| / |N(a) ∪ N(b)|, where
    * |N(a) ∩ N(b)| is exactly the edge's TRIANGLE SUPPORT — so the
    * common-neighbor counts come from the same degree-ordered-
    * orientation wedge machinery as [[trianglesByMinVertex]] (every
    * vertex's oriented out-degree is O(√m), so a celebrity hub
    * generates O(m) wedges instead of O(deg²)), with each closed
    * triangle crediting all three of its edges. Union size is
    * deg(a) + deg(b) − common (degrees over the deduplicated
    * undirected edge set). Output: (src, dst, jac) per canonical
    * src < dst edge with at least one common neighbor. */
  def jaccardPerEdge(edges: DataFrame): DataFrame =
    jaccardPerEdge(edges, denseLocalMaxEdges)

  def jaccardPerEdge(edges: DataFrame, localMaxEdges: Long): DataFrame =
    // pin rule: und feeds the degree union (2x), the orientation
    // join, the closing join, and the final result join
    jaccardPerEdgeCanon(canonicalUndirected(edges), localMaxEdges)

  /** [[jaccardPerEdge]] over an ALREADY canonical pinned edge table
    * ([[canonicalUndirected]] contract; blocks never dropped here). */
  def jaccardPerEdgeCanon(und: DataFrame,
      localMaxEdges: Long = denseLocalMaxEdges): DataFrame =
    Traversals.collectAtMost(und, localMaxEdges) match {
      case Some(e) =>
        import und.sparkSession.implicits._
        // |N(a) ∩ N(b)| never counts a or b themselves (no self-loops,
        // so a ∉ N(a)); edges in no triangle are ABSENT, matching the
        // distributed support inner-join. Spark's round() is HALF_UP on
        // the double — mirror it exactly for hash parity.
        val common = commonNeighbours(e)
        val deg = e.flatMap(p => Seq(p._1, p._2)).groupMapReduce(identity)(_ => 1)(_ + _)
        e.flatMap { case (a, b) =>
          val c = common(a, b, false)
          Option.when(c > 0)((a, b, java.math.BigDecimal.valueOf(
              c.toDouble / (deg(a) + deg(b) - c))
            .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()))
        }.toSeq.toDF("src", "dst", "jac")
      case None =>
        val deg = canonicalDegrees(und)
        orientedSupport(und, deg)
          .join(und, Seq("a", "b")) // support keys are always real edges; keeps partition keys aligned
          .join(deg.select(col("v").as("a"), col("deg").as("da")), "a")
          .join(deg.select(col("v").as("b"), col("deg").as("db")), "b")
          .select(col("a").as("src"), col("b").as("dst"),
            round(col("common").cast("double")
              / (col("da") + col("db") - col("common")), 4).as("jac"))
    }

  /** Triangle support per canonical undirected edge {a<b}:
    * |N(a) ∩ N(b)| over the given edge set, via the degree-ordered
    * orientation wedge machinery (see [[trianglesByMinVertex]] for the
    * skew rationale — a celebrity hub generates O(m) wedges, not
    * O(deg²)). Input `und` must already be canonicalised (a<b),
    * deduped, and pinned; `deg` is its degree table. Edges in no
    * triangle are ABSENT from the output (inner closing join). */
  private def orientedSupport(und: DataFrame, deg: DataFrame): DataFrame =
    // every unordered pair inside a closed triangle (u, a, b) is an
    // edge; explode the three canonical edges, count support per edge
    closedTriangles(und, deg)
      .select(explode(array(
        struct(col("a"), col("b")),
        struct(least(col("u"), col("a")).as("a"), greatest(col("u"), col("a")).as("b")),
        struct(least(col("u"), col("b")).as("a"), greatest(col("u"), col("b")).as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("common"))

  /** `(v, deg)` over a canonical edge table — each undirected edge
    * counts once at both endpoints. */
  private def canonicalDegrees(und: DataFrame): DataFrame =
    und.select(col("a").as("v")).union(und.select(col("b")))
      .groupBy("v").agg(count(lit(1)).as("deg"))

  /** Every triangle of a canonical edge table exactly once, as
    * `(a, b, u)`: each edge is oriented from its lower-(degree, id)
    * endpoint `u` to the higher one (pinned, since the wedge step
    * self-joins it), two oriented edges sharing `u` form a wedge
    * `(u, a < b)`, and a wedge closes when {a, b} is an edge. `deg` is
    * [[canonicalDegrees]] of `und`. */
  private def closedTriangles(und: DataFrame, deg: DataFrame): DataFrame = {
    val lower = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val oriented = und
      .join(deg.select(col("v").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("deg").as("db")), "b")
      .select(when(lower, col("a")).otherwise(col("b")).as("u"),
        when(lower, col("b")).otherwise(col("a")).as("w"))
      .localCheckpoint(true)
    val wedges = oriented.select(col("u"), col("w").as("w1"))
      .join(oriented.select(col("u"), col("w").as("w2")), "u")
      .where(col("w1") < col("w2")) // (w1, w2) is already canonical a < b
      .select(col("u"), col("w1").as("a"), col("w2").as("b"))
    wedges.join(und, Seq("a", "b"))
  }

  /** Codegree `(a, b, cn)` of every vertex pair {a<b} with ≥ 1 common
    * neighbour in a canonical edge table: the wedge self-join of its
    * mirrored form on the shared neighbour. */
  private def codegrees(und: DataFrame): DataFrame = {
    val sym = und.select(explode(array(
        struct(col("a").as("src"), col("b").as("dst")),
        struct(col("b").as("src"), col("a").as("dst")))).as("p"))
      .select(col("p.src").as("src"), col("p.dst").as("dst"))
    sym.as("p").join(sym.as("q"),
        col("p.src") === col("q.src") && col("p.dst") < col("q.dst"))
      .groupBy(col("p.dst").as("a"), col("q.dst").as("b"))
      .agg(count(lit(1)).as("cn"))
  }

  /** Common-neighbour link prediction over an ALREADY canonical
    * pinned edge table ([[canonicalUndirected]] contract): every
    * NON-adjacent pair {a<b} with ≥ 1 common neighbour, scored by
    * exact common-neighbour count with preferential attachment
    * deg(a)·deg(b) as tiebreak, deterministic top-`topN` by
    * (cn desc, pa desc, a, b). Distributed path: the degree-oriented
    * wedge equi-join + edge anti-join + broadcast degrees (the r19
    * q_graph_linkpred plan, verbatim). Dense-small-graph fast path
    * (r20): below BOTH [[denseLocalMaxEdges]] and
    * [[denseLocalMaxVerts]], candidate pairs enumerate against packed
    * adjacency bitmaps on the driver — same bounded-collect contract
    * as [[jaccardPerEdgeCanon]], measured motivation identical (the
    * headline entry's task time packed to ~0.2 s under a 3.4 s wall:
    * per-stage barrier latency on a ≤ 300-vertex graph). */
  def linkPredictionCanon(und: DataFrame, topN: Int,
      localMaxEdges: Long = denseLocalMaxEdges,
      localMaxVerts: Int = denseLocalMaxVerts): DataFrame = {
    import und.sparkSession.implicits._
    Traversals.collectAtMost(und, localMaxEdges)
        .flatMap(denseAdjacency(_, localMaxVerts)) match {
      case Some((verts, _, adj)) =>
        val deg = adj.map(_.map(java.lang.Long.bitCount(_).toLong).sum)
        val rows = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Long, Long, Long)]
        var ia = 0
        while (ia < verts.length) {
          var ib = ia + 1
          while (ib < verts.length) {
            if (!bitTest(adj(ia), ib)) {
              val cnt = intersectCount(adj(ia), adj(ib))
              if (cnt >= 1)
                rows += ((verts(ia), verts(ib), cnt.toLong, deg(ia) * deg(ib)))
            }
            ib += 1
          }
          ia += 1
        }
        rows.sortBy { case (a, b, cn, pa) => (-cn, -pa, a, b) }
          .take(topN).toSeq.toDF("a", "b", "cn", "pa")
      case None =>
        val deg = canonicalDegrees(und)
        codegrees(und).join(und, Seq("a", "b"), "left_anti")
          .join(broadcast(deg).as("da"), col("a") === col("da.v"))
          .join(broadcast(deg).as("db"), col("b") === col("db.v"))
          .select(col("a"), col("b"), col("cn"),
            (col("da.deg") * col("db.deg")).as("pa"))
          .orderBy(col("cn").desc, col("pa").desc, col("a"), col("b"))
          .limit(topN)
    }
  }

  /** Diagonal-pair square (4-cycle) counting over an ALREADY
    * canonical pinned edge table: every pair {a<b} with codegree
    * cn ≥ 2 carries nsq = C(cn, 2) squares on its diagonal; the graph
    * total is Σ nsq / 2 (each square has two diagonals). Output: the
    * top-`topN` diagonal pairs by (nsq desc, a, b) with the total as
    * a constant column — (a, b, cn, nsq, total_squares). Distributed
    * path: the wedge equi-join (the r19 q_graph_squares plan,
    * verbatim). Dense fast path (r20): the same packed-bitmap
    * codegree enumeration as [[linkPredictionCanon]], same guards. */
  def squareDiagTop(und: DataFrame, topN: Int,
      localMaxEdges: Long = denseLocalMaxEdges,
      localMaxVerts: Int = denseLocalMaxVerts): DataFrame = {
    import und.sparkSession.implicits._
    Traversals.collectAtMost(und, localMaxEdges)
        .flatMap(denseAdjacency(_, localMaxVerts)) match {
      case Some((verts, _, adj)) =>
        val pairs = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Long, Long, Long)]
        var ia = 0
        while (ia < verts.length) {
          var ib = ia + 1
          while (ib < verts.length) {
            val cnt = intersectCount(adj(ia), adj(ib)).toLong
            if (cnt >= 2)
              pairs += ((verts(ia), verts(ib), cnt, cnt * (cnt - 1) / 2))
            ib += 1
          }
          ia += 1
        }
        val total = pairs.map(_._4).sum / 2
        pairs.sortBy { case (a, b, _, nsq) => (-nsq, a, b) }
          .take(topN).toSeq
          .map { case (a, b, cn, nsq) => (a, b, cn, nsq, total) }
          .toDF("a", "b", "cn", "nsq", "total_squares")
      case None =>
        val sq = codegrees(und)
          .withColumn("nsq", expr("cn * (cn - 1) DIV 2"))
          .where(col("nsq") > 0)
        val total = sq.agg(expr("sum(nsq) DIV 2").as("total_squares"))
        sq.crossJoin(broadcast(total))
          .orderBy(col("nsq").desc, col("a"), col("b")).limit(topN)
          .select(col("a"), col("b"), col("cn"), col("nsq"), col("total_squares"))
    }
  }

  /** Bounded k-truss peel (graph-mining edge analogue of k-core):
    * `rounds` synchronous rounds of dropping every edge whose triangle
    * support over the CURRENT surviving edge set is below k-2, then the
    * survivors with their last-round support. Rounds are FIXED, not
    * run-to-fixpoint: the inventory entry pins a round count so the
    * DuckDB oracle can unroll the identical peels at every scale factor
    * (the q_graph_kcore contract); callers wanting the true k-truss run
    * with rounds ≥ the peel depth of their graph. Each round is one
    * support computation (degree agg + orientation + wedge join — all
    * key-partitioned) + one filter; per-round checkpoints keep lineage
    * flat, and superseded checkpoint blocks are dropped eagerly. */
  def trussPeel(edges: DataFrame, k: Int, rounds: Int): DataFrame =
    trussPeelCanon(canonicalUndirected(edges), k, rounds, ownsInput = true)

  /** [[trussPeel]] over an ALREADY canonical pinned edge table. With
    * `ownsInput = false` (the memoized-caller default) the INPUT's
    * checkpoint blocks are left alive for the caller's other
    * consumers; intermediate per-round checkpoints created here are
    * always reaped eagerly either way. */
  def trussPeelCanon(canonical: DataFrame, k: Int, rounds: Int,
      ownsInput: Boolean = false,
      localMaxEdges: Long = denseLocalMaxEdges): DataFrame = {
    require(k >= 3, s"k-truss needs k >= 3, got $k")
    require(rounds >= 1, s"trussPeel needs rounds >= 1, got $rounds")
    // dense-small-graph fast path (r20): the same bounded-collect
    // contract as [[jaccardPerEdgeCanon]]/[[trianglesByMinVertexCanon]]
    // — per round, support is |N(a) ∩ N(b)| over the CURRENT edge set
    // ([[commonNeighbours]]), edges below k−2 peel by omission,
    // survivors keep their last-round support. The measured
    // motivation: the headline 2-round peel's task time packs to
    // ~0.2 s while its wall read 3–7 s — per-round shuffle/barrier
    // latency on a ≤ 45k-edge graph, not data work; and the packed
    // bitmaps are its hot path (the HashSet form paid ~13M boxed
    // lookups per round on the mod-300 fixture, ~1 s of driver time).
    Traversals.collectAtMost(canonical, localMaxEdges) match {
      case Some(collected) =>
        import canonical.sparkSession.implicits._
        if (ownsInput) Traversals.dropCheckpoint(canonical)
        var e = collected
        val sup = scala.collection.mutable.HashMap.empty[(Long, Long), Long]
        (1 to rounds).foreach { _ =>
          sup.clear()
          val common = commonNeighbours(e)
          e.foreach { case (a, b) =>
            val c = common(a, b, false).toLong
            if (c >= k - 2) sup((a, b)) = c
          }
          e = e.filter(sup.contains)
        }
        e.toSeq.map { case (a, b) => (a, b, sup((a, b))) }
          .toDF("src", "dst", "support")
      case None =>
        var und = canonical
        var owned = ownsInput
        var survivors: DataFrame = null
        (1 to rounds).foreach { _ =>
          // orientedSupport's keys are exactly the edges in >= 1
          // triangle, so the threshold filter alone implements the peel:
          // an edge ABSENT from the support table has support 0 < k-2
          // (k >= 3 is required above) and is peeled by omission — no
          // zero-fill left-join needed. ONE checkpoint per round
          // materialises the surviving (edge, support) rows; the next
          // round's edge set is a plain projection of it, and the final
          // round IS the result.
          val surv = orientedSupport(und, canonicalDegrees(und))
            .where(col("common") >= k - 2)
            .select(col("a"), col("b"), col("common").as("support"))
            .localCheckpoint(true)
          val prev = und
          survivors = surv
          und = surv.select("a", "b")
          // prev's blocks are superseded (surv is materialised); drop
          // them eagerly rather than waiting on the ContextCleaner — but
          // never drop a caller-owned (memoized) input table
          if (owned)
            Traversals.dropCheckpoint(prev,
              keep = Traversals.checkpointRddIds(surv))
          owned = true
        }
        survivors.select(col("a").as("src"), col("b").as("dst"), col("support"))
    }
  }

  /** Bounded greedy maximal-matching rounds — the edge-side sibling of
    * [[Traversals.lubyMis]] (distributed matching: pair assignment,
    * entity-pair arbitration, switch scheduling). Each round an edge
    * joins the matching iff its deterministic md5 priority is the
    * strict minimum among ALL edges sharing either endpoint (computed
    * as two per-vertex min aggs — key-partitioned, superstep shape);
    * matched endpoints and their incident edges leave. Rounds are
    * FIXED (kcore contract) so the oracle unrolls identically at any
    * SF; with rounds ≥ the greedy depth the result is a maximal
    * matching. Output: (a, b, round) per matched canonical edge. */
  def greedyMatching(edges: DataFrame, rounds: Int): DataFrame =
    greedyMatchingCanon(canonicalUndirected(edges), rounds)

  /** [[greedyMatching]] over an ALREADY canonical pinned edge table
    * ([[canonicalUndirected]] contract; the input's blocks are never
    * dropped — a memoized caller keeps serving them). */
  def greedyMatchingCanon(canonical: DataFrame, rounds: Int,
      localMaxEdges: Long = denseLocalMaxEdges): DataFrame = {
    require(rounds >= 1, s"greedyMatching needs rounds >= 1, got $rounds")
    // dense-small-graph fast path (r20): the same bounded-collect
    // contract as the wedge operators'. Priorities are [[md5Hex]] of
    // the identical "match|a|b" strings, compared as the same
    // lowercase-hex lexicographic order Spark and DuckDB compare —
    // round-for-round equal winner sets.
    Traversals.collectAtMost(canonical, localMaxEdges) match {
      case Some(collected) =>
        import canonical.sparkSession.implicits._
        var e = collected
        val h = e.map(p => p -> md5Hex(s"match|${p._1}|${p._2}")).toMap
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
        (1 to rounds).foreach { r =>
          val vmin = scala.collection.mutable.HashMap.empty[Long, String]
          e.foreach { p =>
            val hp = h(p)
            if (vmin.get(p._1).forall(hp < _)) vmin(p._1) = hp
            if (vmin.get(p._2).forall(hp < _)) vmin(p._2) = hp
          }
          val win = e.filter(p => h(p) == vmin(p._1) && h(p) == vmin(p._2))
          win.foreach(p => out += ((p._1, p._2, r.toLong)))
          val matched = win.flatMap(p => Seq(p._1, p._2)).toSet
          e = e.filter(p => !matched(p._1) && !matched(p._2))
        }
        out.toSeq.toDF("a", "b", "round")
      case None =>
        var und = canonical
        var owned = false
        var out: DataFrame = null
        (1 to rounds).foreach { r =>
          val withH = und.withColumn("h",
            md5(concat(lit("match|"), col("a").cast("string"),
              lit("|"), col("b").cast("string"))))
          val vmin = withH.select(col("a").as("v"), col("h"))
            .union(withH.select(col("b"), col("h")))
            .groupBy("v").agg(min(col("h")).as("vmin"))
          val win = withH
            .join(vmin.select(col("v").as("va"), col("vmin").as("mina")), col("a") === col("va"))
            .join(vmin.select(col("v").as("vb"), col("vmin").as("minb")), col("b") === col("vb"))
            .where(col("h") === col("mina") && col("h") === col("minb"))
            .select(col("a"), col("b"), lit(r.toLong).as("round"))
            .localCheckpoint(true)
          out = if (out == null) win else out.union(win)
          val matched = win.select(col("a").as("v"))
            .union(win.select(col("b"))).distinct()
          val prev = und
          und = prev
            .join(matched.select(col("v").as("ma")), prev("a") === col("ma"), "left_anti")
            .join(matched.select(col("v").as("mb")), prev("b") === col("mb"), "left_anti")
            .select(prev("a"), prev("b")).localCheckpoint(true)
          if (owned)
            Traversals.dropCheckpoint(prev,
              keep = Traversals.checkpointRddIds(und) ++ Traversals.checkpointRddIds(win))
          owned = true
        }
        out
    }
  }

  /** In/out degree per vertex. */
  def degrees(edges: DataFrame): DataFrame =
    edges.select(col("src").cast("long").as("vertex"), lit(1).as("out"), lit(0).as("in"))
      .union(edges.select(col("dst").cast("long"), lit(0), lit(1)))
      .groupBy("vertex")
      .agg(sum(col("out")).cast("long").as("out_degree"),
        sum(col("in")).cast("long").as("in_degree"))

  /** Densest-subgraph greedy peel (Charikar 2000 2-approximation, in
    * the parallel batched form of Bahmani/Kumar/Vassilvitskii 2012):
    * each round removes EVERY vertex whose degree is at most c·ρ of
    * the current subgraph (ρ = E/V, c = 3 here, i.e. ε = 1/2), which
    * bounds the rounds at O(log_{3/2} V) — the MapReduce-friendly
    * variant of the strictly sequential min-degree peel. The densest
    * prefix of the peel trace is a 2(1+ε)-approximation of the true
    * densest subgraph (the data-mining "find the dense core" op:
    * spam/link farms, community cores, near-clique mining).
    *
    * Everything is integer-exact: the peel test cross-multiplies
    * (deg·V ≤ 3·E, no float ρ), and the reported density is exact
    * integer ppm ⌊10⁶·E/V⌋. Per round: one degree hash-agg + two
    * semi-joins — all equi-shuffles on the vertex key; the per-round
    * E/V scalars are two count jobs (O(1) driver data, the same
    * bounded-BSP contract as [[Traversals.kcore]]'s fixpoint check).
    * Rounds are FIXED so the oracle unrolls identically at any SF.
    *
    * Input: canonical undirected (a, b) pinned edge table
    * ([[canonicalUndirected]] contract; blocks never dropped — a
    * memoized caller keeps serving them). Output: one row per round
    * with the subgraph stats BEFORE that round's peel — (round,
    * n_vertices, n_edges, density_ppm, n_peeled, is_best), is_best
    * marking the densest observed prefix (earliest round on ties). */
  def densestPeelCanon(canonical: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, s"densestPeel needs rounds >= 1, got $rounds")
    val spark = canonical.sparkSession
    var und = canonical
    var owned = false
    // r21 job-count restructure (guide §1.2 step 1 — at local-scale the
    // per-round cost is BARRIERS, not bytes): 5 jobs/round → 3.
    //  (a) E and V come from ONE agg over the pinned degree table
    //      (count of groups = V; Σdeg = 2E exactly on the canonical
    //      a<b deduped input) instead of two table counts;
    //  (b) the old per-round nKept distinct-count IS the next round's
    //      vertex count — compute the next degree table first and
    //      backfill n_peeled = V_r − V_{r+1};
    //  (c) once the subgraph is EMPTY the remaining fixed rounds are
    //      deterministic zero rows (deg of ∅ is ∅ ⇒ kept = surv = ∅) —
    //      emit them without touching Spark. The emitted trace is
    //      row-identical to the 5-jobs-per-round loop at every round.
    def degAndStats(u: DataFrame): (DataFrame, Long, Long) = {
      val deg = u.select(col("a").as("v")).union(u.select(col("b")))
        .groupBy("v").agg(count(lit(1)).as("deg"))
        .localCheckpoint(true)
      val row = deg.agg(count(lit(1)), sum(col("deg"))).head()
      val nV = row.getLong(0)
      val e2 = if (row.isNullAt(1)) 0L else row.getLong(1)
      (deg, nV, e2 / 2)
    }
    val stats = scala.collection.mutable.ArrayBuffer
      .empty[(Int, Long, Long, Long, Long)]
    var (deg, nV, nE) = degAndStats(und)
    (1 to rounds).foreach { r =>
      if (nV == 0) {
        stats += ((r, 0L, 0L, 0L, 0L)) // empty fixpoint: no Spark jobs
      } else {
        // keep v iff deg(v) > 3·E/V, cross-multiplied exact
        val kept = deg.where(col("deg") * lit(nV) > lit(3L) * lit(nE))
          .select("v")
        val surv = und
          .join(kept.withColumnRenamed("v", "a"), Seq("a"), "left_semi")
          .join(kept.withColumnRenamed("v", "b"), Seq("b"), "left_semi")
          .select("a", "b")
          .localCheckpoint(true)
        val (deg2, nV2, nE2) = degAndStats(surv)
        val ppm = 1000000L * nE / nV
        stats += ((r, nV, nE, ppm, nV - nV2))
        val prev = und
        Traversals.dropCheckpoint(deg,
          keep = Traversals.checkpointRddIds(deg2))
        if (owned)
          Traversals.dropCheckpoint(prev,
            keep = Traversals.checkpointRddIds(surv))
        und = surv
        owned = true
        deg = deg2; nV = nV2; nE = nE2
      }
    }
    Traversals.dropCheckpoint(deg)
    if (owned) Traversals.dropCheckpoint(und)
    val best = stats.maxBy(s => (s._4, -s._1))._1
    import spark.implicits._
    stats.toSeq
      .map { case (r, nv, ne, ppm, np) =>
        (r, nv, ne, ppm, np, if (r == best) 1 else 0) }
      .toDF("round", "n_vertices", "n_edges", "density_ppm", "n_peeled",
        "is_best")
  }
}
