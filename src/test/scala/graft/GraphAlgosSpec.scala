package graft

import graft.operators.GraphAlgos

class GraphAlgosSpec extends SparkSpec {
  import spark.implicits._

  // 4-cycle with a pendant: 0-1-2-3-0 plus 3-4 (directed both ways)
  lazy val ring = Seq((0, 1), (1, 2), (2, 3), (3, 0), (3, 4))
    .flatMap { case (a, b) => Seq((a.toLong, b.toLong), (b.toLong, a.toLong)) }
    .toDF("src", "dst")

  test("trianglesByMinVertex: K4 has 4 triangles, all attributed to their min vertex") {
    val k4 = (for { a <- 0 to 3; b <- 0 to 3 if a != b } yield (a.toLong, b.toLong))
      .toDF("src", "dst") // both directions + would-be dups: must canonicalize
    val got = GraphAlgos.trianglesByMinVertex(k4).collect()
      .map(r => r.getAs[Long]("vertex") -> r.getAs[Long]("triangles")).toMap
    // K4 triangles: {0,1,2},{0,1,3},{0,2,3} -> min 0 (×3); {1,2,3} -> min 1
    assert(got == Map(0L -> 3L, 1L -> 1L))
  }

  test("trianglesByMinVertex: triangle-free graphs and self-loops yield nothing") {
    assert(GraphAlgos.trianglesByMinVertex(ring).count() == 0) // 4-cycle: no triangle
    val loops = Seq((1L, 1L), (1L, 2L), (2L, 2L)).toDF("src", "dst")
    assert(GraphAlgos.trianglesByMinVertex(loops).count() == 0)
  }

  test("trianglesByMinVertex agrees with a reference enumeration on random graphs") {
    val rnd = new scala.util.Random(11)
    for (trial <- 0 until 3) {
      val n = 30
      val edges = (0 until 150).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val canon = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
      val ref = canon.toSeq.flatMap { case (a, b) =>
        // for each edge (a < b), count common neighbours c > b -> each
        // triangle once, attributed to its min vertex a
        (b + 1 until n).filter(c => canon((a, c.toLong)) && canon((b, c.toLong)))
          .map(_ => a)
      }.groupBy(identity).map { case (v, l) => v -> l.size.toLong }
      val got = GraphAlgos.trianglesByMinVertex(edges.toDF("src", "dst")).collect()
        .map(r => r.getAs[Long]("vertex") -> r.getAs[Long]("triangles")).toMap
      assert(got == ref, s"trial $trial")
    }
  }

  test("pageRank: ranks sum to ~n, hub outranks pendant") {
    val pr = GraphAlgos.pageRank(ring, iters = 20).collect()
      .map(r => r.getAs[Long]("vertex") -> r.getAs[Double]("rank")).toMap
    assert(math.abs(pr.values.sum - 5.0) < 0.2)
    assert(pr(3L) > pr(4L)) // degree-3 hub beats degree-1 pendant
    assert(pr(3L) > pr(1L))
  }

  test("pageRankDeterministic agrees with GraphX staticPageRank to float tolerance") {
    val gx = GraphAlgos.pageRank(ring, iters = 15).collect()
      .map(r => r.getAs[Long]("vertex") -> r.getAs[Double]("rank")).toMap
    val df = graft.operators.Traversals.pageRankDeterministic(ring, iters = 15).collect()
      .map(r => r.getAs[Long]("vertex") -> r.getAs[Double]("rank")).toMap
    assert(gx.keySet === df.keySet)
    gx.foreach { case (v, r) =>
      assert(math.abs(r - df(v)) < 1e-4, s"vertex $v: graphx=$r df=${df(v)}")
    }
  }

  test("triangleCounts: triangle graph vs triangle-free ring") {
    val tri = Seq((0L, 1L), (1L, 2L), (0L, 2L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("src", "dst")
    val counts = GraphAlgos.triangleCounts(tri).collect()
      .map(r => r.getAs[Long]("vertex") -> r.getAs[Int]("triangles")).toMap
    assert(counts === Map(0L -> 1, 1L -> 1, 2L -> 1))
    val ringCounts = GraphAlgos.triangleCounts(ring).collect().map(_.getAs[Int]("triangles"))
    assert(ringCounts.forall(_ === 0))
  }

  test("degrees: directed in/out split") {
    val e = Seq((0L, 1L), (0L, 2L), (1L, 2L)).toDF("src", "dst")
    val d = GraphAlgos.degrees(e).collect()
      .map(r => r.getAs[Long]("vertex") -> (r.getAs[Long]("out_degree"), r.getAs[Long]("in_degree"))).toMap
    assert(d === Map(0L -> (2L, 0L), 1L -> (1L, 1L), 2L -> (0L, 2L)))
  }

  test("labelPropagation: star adopts the hub-or-min label deterministically") {
    // star 0-{1,2,3}: round 1 — leaves see only hub 0 -> label 0; hub
    // sees {1,2,3}, all cnt 1, tie -> min = 1. round 2 — leaves see
    // hub's label 1 -> 1; hub sees {0,0,0} -> 0.
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("src", "dst")
    val l1 = graft.operators.Traversals.labelPropagation(star, iters = 1).collect()
      .map(r => r.getAs[Long]("vertex") -> r.getAs[Long]("label")).toMap
    assert(l1 === Map(0L -> 1L, 1L -> 0L, 2L -> 0L, 3L -> 0L))
    val l2 = graft.operators.Traversals.labelPropagation(star, iters = 2).collect()
      .map(r => r.getAs[Long]("vertex") -> r.getAs[Long]("label")).toMap
    assert(l2 === Map(0L -> 0L, 1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("labelPropagation: two disjoint triangles converge to per-component labels") {
    val twoTri = Seq((0L, 1L), (1L, 2L), (0L, 2L), (10L, 11L), (11L, 12L), (10L, 12L))
      .toDF("src", "dst")
    val l = graft.operators.Traversals.labelPropagation(twoTri, iters = 3).collect()
      .map(r => r.getAs[Long]("vertex") -> r.getAs[Long]("label")).toMap
    // labels never cross components
    assert(Set(0L, 1L, 2L).map(l) subsetOf Set(0L, 1L, 2L))
    assert(Set(10L, 11L, 12L).map(l) subsetOf Set(10L, 11L, 12L))
  }

  test("jaccardPerEdge matches the hand-computed diamond graph") {
    // diamond 0-1, 0-2, 1-2, 1-3, 2-3 (edge 1-2 sits in two triangles):
    //   N(0)={1,2} N(1)={0,2,3} N(2)={0,1,3} N(3)={1,2}
    //   {0,1}: ∩={2}      ∪={0,1,2,3}\{}  -> 1/(2+3-1) = 0.25
    //   {0,2}: ∩={1}                      -> 1/(2+3-1) = 0.25
    //   {1,2}: ∩={0,3}                    -> 2/(3+3-2) = 0.5
    //   {1,3}: ∩={2}                      -> 1/(3+2-1) = 0.25
    //   {2,3}: ∩={1}                      -> 1/(3+2-1) = 0.25
    val e = Seq((0L, 1L), (0L, 2L), (1L, 2L), (1L, 3L), (2L, 3L)).toDF("src", "dst")
    val got = graft.operators.GraphAlgos.jaccardPerEdge(e).collect()
      .map(r => (r.getAs[Long]("src"), r.getAs[Long]("dst")) -> r.getAs[Double]("jac"))
      .toMap
    assert(got === Map((0L, 1L) -> 0.25, (0L, 2L) -> 0.25, (1L, 2L) -> 0.5,
      (1L, 3L) -> 0.25, (2L, 3L) -> 0.25))
  }

  test("jaccardPerEdge local fast path agrees with the distributed wedge pipeline") {
    // a 60-vertex random-ish derived graph with triangles; forcing
    // localMaxEdges=0 runs the wedge machinery on the same input
    // triangle-rich 30-vertex fixture: all a<b with (a+b)%3==0
    // (e.g. 0-3, 0-6, 3-6 close a triangle)
    val e = (for {
      a <- 0L until 30L; b <- (a + 1) until 30L if (a + b) % 3 == 0
    } yield (a, b)).toDF("src", "dst")
    def run(localMax: Long) = graft.operators.GraphAlgos
      .jaccardPerEdge(e, localMax).collect()
      .map(r => (r.getAs[Long]("src"), r.getAs[Long]("dst")) -> r.getAs[Double]("jac"))
      .toMap
    val fast = run(Long.MaxValue)
    val dist = run(0L)
    assert(fast.nonEmpty && fast === dist)
  }

  test("trianglesByMinVertex local fast path agrees with the wedge pipeline") {
    val e = (for {
      a <- 0L until 30L; b <- (a + 1) until 30L if (a + b) % 3 == 0
    } yield (a, b)).toDF("src", "dst")
    def run(localMax: Long) = graft.operators.GraphAlgos
      .trianglesByMinVertex(e, localMax).collect()
      .map(r => r.getAs[Long]("vertex") -> r.getAs[Long]("triangles")).toMap
    val fast = run(Long.MaxValue)
    assert(fast.nonEmpty && fast === run(0L))
  }

  test("jaccardPerEdge is orientation/duplicate-insensitive") {
    val e1 = Seq((0L, 1L), (0L, 2L), (1L, 2L)).toDF("src", "dst")
    val e2 = Seq((1L, 0L), (2L, 0L), (2L, 1L), (0L, 1L), (0L, 1L)).toDF("src", "dst")
    val a = graft.operators.GraphAlgos.jaccardPerEdge(e1).orderBy("src", "dst").collect().toSeq
    val b = graft.operators.GraphAlgos.jaccardPerEdge(e2).orderBy("src", "dst").collect().toSeq
    assert(a == b)
  }

  /** Reference SCC: iterative Tarjan (explicit stack, so deep graphs
    * don't blow the JVM stack), component keyed by its min vertex. */
  private def tarjanScc(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2).distinct).toMap
    val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val index = scala.collection.mutable.Map.empty[Long, Int]
    val low = scala.collection.mutable.Map.empty[Long, Int]
    val onStack = scala.collection.mutable.Set.empty[Long]
    val stack = scala.collection.mutable.Stack.empty[Long]
    val comp = scala.collection.mutable.Map.empty[Long, Long]
    var counter = 0
    for (root <- verts if !index.contains(root)) {
      // frames: (vertex, iterator over its successors)
      val work = scala.collection.mutable.Stack((root, adj.getOrElse(root, Nil).iterator))
      index(root) = counter; low(root) = counter; counter += 1
      stack.push(root); onStack += root
      while (work.nonEmpty) {
        val (v, it) = work.top
        if (it.hasNext) {
          val w = it.next()
          if (!index.contains(w)) {
            index(w) = counter; low(w) = counter; counter += 1
            stack.push(w); onStack += w
            work.push((w, adj.getOrElse(w, Nil).iterator))
          } else if (onStack(w)) low(v) = math.min(low(v), index(w))
        } else {
          work.pop()
          if (work.nonEmpty) {
            val p = work.top._1
            low(p) = math.min(low(p), low(v))
          }
          if (low(v) == index(v)) {
            val members = scala.collection.mutable.ListBuffer.empty[Long]
            var w = -1L
            while ({ w = stack.pop(); onStack -= w; members += w; w != v }) ()
            val cid = members.min
            members.foreach(m => comp(m) = cid)
          }
        }
      }
    }
    comp.toMap
  }

  private def sccOf(edges: Seq[(Long, Long)]): Map[Long, Long] =
    // localMaxEdges = 0 forces the DISTRIBUTED FW-BW peel — the whole
    // point of this spec is the distributed path agreeing with the
    // in-memory Tarjan reference below
    graft.operators.Traversals.stronglyConnectedComponents(
        edges.toDF("src", "dst"), localMaxEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("SCC: cycles, DAGs, and one-way-bridged cycles") {
    // pure 4-cycle: one SCC keyed by 0
    assert(sccOf(Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L))) ===
      Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L))
    // DAG: all singletons
    assert(sccOf(Seq((0L, 1L), (0L, 2L), (1L, 3L), (2L, 3L))) ===
      Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L))
    // two 3-cycles bridged ONE way stay separate; bridged both ways merge
    val c2 = Seq((0L, 1L), (1L, 2L), (2L, 0L), (10L, 11L), (11L, 12L), (12L, 10L))
    assert(sccOf(c2 :+ (2L -> 10L)).values.toSet === Set(0L, 10L))
    assert(sccOf(c2 :+ (2L -> 10L) :+ (12L -> 1L)).values.toSet === Set(0L))
  }

  test("SCC keeps self-loop-only vertices as singletons") {
    // self-loop EDGES never affect membership, but a vertex whose only
    // incident edge is a self-loop must still appear (as a singleton) —
    // the vertex set derives from the unfiltered edge list
    assert(sccOf(Seq((5L, 5L))) === Map(5L -> 5L))
    assert(sccOf(Seq((0L, 1L), (1L, 0L), (7L, 7L))) ===
      Map(0L -> 0L, 1L -> 0L, 7L -> 7L))
  }

  test("SCC matches iterative Tarjan on random digraphs") {
    val rnd = new scala.util.Random(17)
    for (trial <- 0 until 3) {
      val n = 40
      // sparse enough for rich SCC structure (~1.5 edges/vertex)
      val edges = (0 until 60)
        .map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }.distinct
      assert(sccOf(edges) === tarjanScc(edges), s"trial $trial: $edges")
    }
  }

  /** Local Kruskal under the SAME total edge order the operator uses —
    * lexicographic (w, a, b) on canonical a<b — so the forest is unique
    * and sets compare exactly. */
  private def kruskal(edges: Seq[(Long, Long, Double)]): Set[(Long, Long, Double)] = {
    val canon = edges.filter { case (a, b, _) => a != b }
      .map { case (a, b, w) => (math.min(a, b), math.max(a, b), w) }
      .groupBy { case (a, b, _) => (a, b) }
      .map { case (_, es) => es.minBy(_._3) }.toSeq
      .sortBy { case (a, b, w) => (w, a, b) }
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    canon.filter { case (a, b, _) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { parent(ra) = rb; true } else false
    }.toSet
  }

  private def msfOf(edges: Seq[(Long, Long, Double)]): Set[(Long, Long, Double)] =
    graft.operators.Traversals.minimumSpanningForest(
      edges.toDF("src", "dst", "weight"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("MSF: cycle, forest, parallel edges, self-loops") {
    // cycle: drop the max edge under (w, a, b)
    val cyc = Seq((0L, 1L, 1.0), (1L, 2L, 2.0), (2L, 3L, 3.0), (3L, 0L, 4.0))
    assert(msfOf(cyc) === Set((0L, 1L, 1.0), (1L, 2L, 2.0), (2L, 3L, 3.0)))
    // already a forest: returned whole (canonicalised a<b)
    val forest = Seq((5L, 4L, 9.0), (6L, 4L, 1.0), (10L, 11L, 2.0))
    assert(msfOf(forest) === Set((4L, 5L, 9.0), (4L, 6L, 1.0), (10L, 11L, 2.0)))
    // parallel edges collapse to min weight; self-loops never appear
    val par = Seq((0L, 1L, 5.0), (1L, 0L, 2.0), (1L, 1L, 0.5))
    assert(msfOf(par) === Set((0L, 1L, 2.0)))
    // duplicate weights: tie broken by (a, b) — unique forest either way
    val ties = Seq((0L, 1L, 1.0), (1L, 2L, 1.0), (2L, 0L, 1.0))
    assert(msfOf(ties) === kruskal(ties))
  }

  test("MSF matches local Kruskal on random weighted graphs") {
    val rnd = new scala.util.Random(23)
    for (trial <- 0 until 3) {
      val n = 30
      val edges = (0 until 70).map { _ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong,
          (rnd.nextInt(20) + 1).toDouble) // duplicate weights on purpose
      }.filter { case (a, b, _) => a != b }
      assert(msfOf(edges) === kruskal(edges), s"trial $trial: $edges")
    }
  }

  test("pageRankDeterministic: segment cuts past pageRankFuseDepth leave ranks unchanged") {
    import graft.operators.Traversals
    // 12 iters crosses the fuse-depth-10 segment boundary, so the run
    // exercises checkpoint-cut-resume; an unfused single-plan reference
    // loop (the pre-r11 shape, inlined here) must agree bit-for-bit
    import org.apache.spark.sql.functions._
    val iters = 12
    val got = Traversals.pageRankDeterministic(ring, iters).collect()
      .map(r => r.getAs[Long]("vertex") -> r.getAs[Double]("rank")).toMap
    val e = ring.select(col("src").cast("long"), col("dst").cast("long"))
    val outDeg = e.groupBy("src").agg(count(lit(1)).cast("double").as("odeg"))
    val eo = e.join(outDeg, "src")
    val verts = eo.select(col("src").as("vertex"))
      .union(eo.select(col("dst").as("vertex"))).distinct()
    graft.functions.expressions.GraftFunctions.register(spark)
    val zeros = verts.select(col("vertex"), lit(0L).as("u"),
      lit(null).cast("decimal(38,18)").as("wbig"))
    var r = verts.withColumn("rank", lit(1.0))
    (1 to iters).foreach { _ =>
      val contrib = eo.join(r, eo("src") === r("vertex"))
        .select(eo("dst").as("vertex"), (col("rank") / col("odeg")).as("w"))
        .select(col("vertex"), expr("fixed18(w)").as("u"), col("w"))
        .select(col("vertex"), col("u"),
          when(col("u").isNull && col("w").isNotNull,
            col("w").cast("decimal(38,18)")).as("wbig"))
      r = contrib.union(zeros).groupBy("vertex")
        .agg(sum(expr("u div 1000000000")).as("shi"),
             sum(expr("u % 1000000000")).as("slo"),
             sum(col("wbig")).as("sbig"))
        .select(col("vertex"),
          (lit(0.15) + lit(0.85) * expr("fixed_combine(shi, slo, sbig)")).as("rank"))
    }
    val want = r.collect()
      .map(x => x.getAs[Long]("vertex") -> x.getAs[Double]("rank")).toMap
    assert(got == want, "fused/segmented loop diverged from the unfused reference")
  }

  test("betweenness satisfies the unique-path identity: sum bc = sum over pairs (d-1)") {
    import org.apache.spark.sql.functions._
    val bc = SparkEntry.queries("q_graph_betweenness")(spark, TestSpark.sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // on a tree (unique shortest paths), every s->t path of length d
    // has exactly d-1 interior vertices, so the bc mass equals
    // sum_{s != t} (d(s,t) - 1) — an independent whole-output check
    val k = graft.queries.Tables.t(spark, TestSpark.sfDir, "nation")
      .select(col("n_nationkey").cast("long").as("k"))
    import spark.implicits._
    val e0 = k.where($"k" > 0).select($"k".as("src"), floor($"k" / 2).cast("long").as("dst"))
    val edges = e0.union(e0.select($"dst".as("src"), $"src".as("dst")))
    val roots = edges.select($"src".as("root")).distinct()
    val dist = graft.operators.Traversals.multiSourceDistances(edges, roots)
    val pairMass = dist.where($"root" =!= $"vertex")
      .agg(sum($"level" - 1)).head().getLong(0)
    assert(bc.values.sum == pairMass,
      s"bc mass ${bc.values.sum} != pair mass $pairMass")
    // leaves of the tree (v >= 13, i.e. 2v > 24: no children) lie on
    // no interior position
    Seq(13L, 17L, 24L).foreach(v => assert(bc(v) == 0L, s"leaf $v has bc ${bc(v)}"))
    // the root separates the two subtrees — it must be interior to many paths
    assert(bc(1L) > 0L && bc(2L) > 0L)
  }

  test("Canon entry points match their self-canonicalizing wrappers (r12 refactor)") {
    import org.apache.spark.sql.functions._
    // messy input: duplicates, reverses, self-loops — the wrapper
    // canonicalizes; the Canon path gets the staged table; results
    // must be identical row sets
    val messy = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (1L, 3L),
        (3L, 3L), (3L, 4L), (4L, 1L), (2L, 3L))
      .toDF("src", "dst")
    val canon = GraphAlgos.canonicalUndirected(messy)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(rows(GraphAlgos.trianglesByMinVertex(messy, 0)) ==
      rows(GraphAlgos.trianglesByMinVertexCanon(canon, 0)),
      "triangles: wrapper vs canon diverge (distributed path)")
    assert(rows(GraphAlgos.jaccardPerEdge(messy, 0)) ==
      rows(GraphAlgos.jaccardPerEdgeCanon(canon, 0)),
      "jaccard: wrapper vs canon diverge (distributed path)")
    assert(rows(GraphAlgos.trussPeel(messy, k = 3, rounds = 2)) ==
      rows(GraphAlgos.trussPeelCanon(canon, k = 3, rounds = 2)),
      "trussPeel: wrapper vs canon diverge")
    // the memoized-caller contract: canon's blocks survive a peel
    // (ownsInput defaults to false) and serve a second consumer
    assert(rows(GraphAlgos.jaccardPerEdgeCanon(canon, 0)).nonEmpty)
  }

  test("q_graph_toposort satisfies the longest-path and path-count identities") {
    // independent check of the BSP sweep against the DEFINING
    // recurrences, re-derived in memory from the same fixture edges:
    // lp(v) = max over in-edges of lp(u)+1 (0 if none), and for every
    // layer>=1 vertex np(v) = sum of in-neighbour np (layer-0 vertices
    // are the unit sources).
    import org.apache.spark.sql.functions._
    val d = TestSpark.sfDir
    val e = spark.read.parquet(s"$d/orders.parquet")
      .select((col("o_orderkey") % 200).as("src"), (col("o_custkey") % 200).as("dst"))
      .where(floor(col("dst") / 25) === floor(col("src") / 25) + 1)
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val out = SparkEntry.queries("q_graph_toposort")(spark, d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out.nonEmpty)
    val inEdges = e.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    out.foreach { case (v, (lp, np)) =>
      val ins = inEdges.getOrElse(v, Array.empty[Long])
      val expLp = if (ins.isEmpty) 0L else ins.map(u => out(u)._1).max + 1
      assert(lp === expLp, s"lp($v): got $lp expected $expLp")
      if (v / 25 == 0) assert(np === 1L, s"np($v): layer-0 source must be 1")
      else assert(np === ins.map(u => out(u)._2).sum, s"np($v) mismatch")
    }
  }
}
