package graft

import graft.sources.MatrixIO
import graft.operators.{GraphCatalog, Traversals}
import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.DataFrame

/** Golden traversal tests from FIXTURES.md — the reference's own
  * sample graphs (`/root/reference/G*.txt`), expectations hand-derived
  * from `secondary_server.c:142-248` semantics. */
class TraversalSpec extends SparkSpec {
  import TestSpark.resource

  def edges(g: String) = MatrixIO.readMatrix(spark, resource(s"graphs/$g.txt"))

  def bfsOrder(g: String, start: Long): Seq[Long] =
    Traversals.bfs(edges(g), start).orderBy("order")
      .collect().map(_.getAs[Long]("vertex")).toSeq

  def bfsLevelOf(g: String, start: Long): Map[Long, Int] =
    Traversals.bfs(edges(g), start).collect()
      .map(r => r.getAs[Long]("vertex") -> r.getAs[Int]("level")).toMap

  def leaves(g: String, start: Long): Seq[Long] =
    Traversals.dfsLeaves(edges(g), start).collect().map(_.getLong(0)).toSeq

  test("DFS replay refuses a reachable edge set over maxReplayEdges") {
    // the guard protects the driver from collecting an unbounded
    // adjacency; drive it with a tiny cap so the negative path runs
    // without materializing 50M edges
    val e = intercept[IllegalArgumentException] {
      Traversals.dfsLeaves(edges("G7"), 0, maxReplayEdges = 3L)
    }
    assert(e.getMessage.contains("exceed dfsReplayMaxEdges=3"))
    assert(e.getMessage.contains("dfsLeafClasses"),
      "message should point at the distributed any-scale alternative")
    // at exactly the bound the replay proceeds (G7 component from 0 has 12 edges)
    assert(Traversals.dfsLeaves(edges("G7"), 0, maxReplayEdges = 12L)
      .collect().map(_.getLong(0)).toSeq === leaves("G7", 0))
  }

  test("MatrixIO parses G7 into 12 directed edges") {
    val e = edges("G7").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(e === Set((0, 1), (1, 0), (0, 4), (4, 0), (1, 2), (2, 1),
      (2, 3), (3, 2), (4, 5), (5, 4), (4, 6), (6, 4)).map { case (a, b) => (a.toLong, b.toLong) })
    assert(MatrixIO.readVertexCount(spark, resource("graphs/G7.txt")) === 7)
  }

  test("BFS golden: G1 (self-loops only) from 0") {
    assert(bfsOrder("G1", 0) === Seq(0L))
  }

  test("BFS golden: G2 from 0") { assert(bfsOrder("G2", 0) === Seq(0L, 1L)) }

  test("BFS golden: G5 from 0") {
    assert(bfsOrder("G5", 0) === Seq(0L, 1L, 4L, 2L, 3L))
    assert(bfsLevelOf("G5", 0) === Map(0L -> 0, 1L -> 1, 4L -> 1, 2L -> 2, 3L -> 2))
  }

  test("BFS golden: G6 from 0") { assert(bfsOrder("G6", 0) === Seq(0L, 1L, 2L, 3L, 4L)) }

  test("BFS golden: G7 from 0 and from 3") {
    assert(bfsOrder("G7", 0) === Seq(0L, 1L, 4L, 2L, 5L, 6L, 3L))
    assert(bfsOrder("G7", 3) === Seq(3L, 2L, 1L, 0L, 4L, 5L, 6L))
  }

  test("local fast-path BFS agrees with the distributed superstep loop (G7, both starts)") {
    // the default path takes the bounded local route on tiny graphs;
    // forcing localMaxEdges=0 runs the distributed BSP loop on the
    // same input — outputs must be identical row sets
    Seq(0L, 3L).foreach { start =>
      val fast = Traversals.bfsLevelsMulti(edges("G7"), Seq(start))
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      val dist = Traversals.bfsLevelsMulti(edges("G7"), Seq(start), 10000, 0L,
          Traversals.broadcastFrontierMax)
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      assert(fast === dist, s"paths diverged from start $start")
    }
  }

  test("local and forced-distributed bfs/dfsLeaves return identical rows and schema " +
    "(goldens and random graphs)") {
    import spark.implicits._
    def bfsRows(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sortBy(_._1).toSeq
    def check(e: DataFrame, start: Long, what: String): Unit = {
      val (bLocal, bDist) = (Traversals.bfs(e, start), Traversals.bfs(e, start, localMaxEdges = 0L))
      assert(bLocal.schema === bDist.schema, s"bfs schema, $what")
      assert(bfsRows(bLocal) === bfsRows(bDist), s"bfs rows, $what")
      val (dLocal, dDist) =
        (Traversals.dfsLeaves(e, start), Traversals.dfsLeaves(e, start, localMaxEdges = 0L))
      assert(dLocal.schema === dDist.schema, s"dfsLeaves schema, $what")
      assert(dLocal.collect().toSeq === dDist.collect().toSeq, s"dfsLeaves rows, $what")
    }
    assert(Traversals.bfs(edges("G7"), 0).schema.forall(!_.nullable))
    Seq("G1" -> 0L, "G2" -> 0L, "G5" -> 0L, "G6" -> 0L, "G6" -> 4L, "G7" -> 0L, "G7" -> 3L)
      .foreach { case (g, start) => check(edges(g), start, s"$g from $start") }
    val rnd = new scala.util.Random(7L)
    (1 to 4).foreach { i =>
      val n = 2 + rnd.nextInt(19)
      val es = Seq.fill(n * (1 + rnd.nextInt(4)))((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      check(es.toDF("src", "dst"), 0L, s"random graph #$i: $es")
    }
  }

  test("job-count pins: a G7 catalog read collects once, then runs no job") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-jobs").toString
    val cat = new GraphCatalog(spark, tmp)
    // the matrix read checks the file on the driver and plans one input
    // partition, so adding it to the catalog is one job and one file
    val (g7, readJobs) = jobsOf(edges("G7"))
    assert(readJobs === 0, "readMatrix must run no job")
    assert(jobsOf(cat.addGraph("g7", g7))._2 === 1)
    val parquet = java.nio.file.Files.list(java.nio.file.Paths.get(tmp, "g7", "edges"))
      .filter(_.getFileName.toString.endsWith(".parquet")).count()
    assert(parquet === 1L)
    cat.commitVersion("g7v", edges("G7"))
    // the first load collects the 12 edges the write observed, once
    assert(jobsOf(cat.load("g7"))._2 === 1, "one collect, no schema inference")
    assert(jobsOf(cat.load("g7"))._2 === 0, "a second load returns the stage")
    assert(jobsOf(cat.loadLatest("g7v"))._2 === 0, "loadLatest must not infer the schema")
    val (bfsRows, bfsJobs) = jobsOf(cat.bfs("g7", 0).collect())
    assert(bfsRows.sortBy(_.getLong(0)).map(_.getLong(2)).toSeq === Seq(0L, 1L, 4L, 2L, 5L, 6L, 3L))
    assert(bfsJobs === 0)
    val (dfsRows, dfsJobs) = jobsOf(cat.dfsLeaves("g7", 0).collect())
    assert(dfsRows.map(_.getLong(0)).toSeq === Seq(3L, 5L, 6L))
    assert(dfsJobs === 0)
    // the DataFrame-state rank: a window partitioned by level, never
    // one unpartitioned window over the whole reachable set
    val windows = Traversals.bfs(cat.load("g7"), 0, localMaxEdges = 0L, maxHeld = 0L)
      .queryExecution.sparkPlan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty), windows.mkString("\n"))
  }

  /** The triangle-rich fixture of GraphAlgosSpec: every a < b below
    * 30 with (a + b) % 3 == 0, 145 edges. */
  def triangleRich: DataFrame = {
    import spark.implicits._
    (for {
      a <- 0L until 30L; b <- (a + 1) until 30L if (a + b) % 3 == 0
    } yield (a, b)).toDF("src", "dst")
  }

  test("job-count pins: each dual-path graph operator's local path on a 30-vertex graph") {
    import spark.implicits._
    import graft.operators.GraphAlgos
    // checkpointed as a derived edge table is, and its canonical form
    // for the *Canon operators
    val e = triangleRich.localCheckpoint(true)
    val und = GraphAlgos.canonicalUndirected(e)
    val seeds = Seq(0L).toDF("vertex")
    // the jobs of one call plus a collect of its result: the one
    // bounded collect, plus the staging an operator does before it
    // (lubyMis checkpoints the symmetrised edges, labelPropagation
    // caches them, reachableFrom caches the cast edges). The collect
    // is one job on a one-partition input (the canonical table, a
    // coalesced shuffle output) and two on the 4-partition fixture
    // (the limit scans one partition, then the rest).
    // connectedComponents and contractedComponents stage nothing: their
    // driver-held union-find is one job over all partitions.
    val pins: Seq[(String, () => DataFrame, Int)] = Seq(
      ("trianglesByMinVertexCanon", () => GraphAlgos.trianglesByMinVertexCanon(und), 1),
      ("jaccardPerEdgeCanon", () => GraphAlgos.jaccardPerEdgeCanon(und), 1),
      ("linkPredictionCanon", () => GraphAlgos.linkPredictionCanon(und, topN = 10), 1),
      ("squareDiagTop", () => GraphAlgos.squareDiagTop(und, topN = 10), 1),
      ("trussPeelCanon", () => GraphAlgos.trussPeelCanon(und, k = 3, rounds = 2), 1),
      ("greedyMatchingCanon", () => GraphAlgos.greedyMatchingCanon(und, rounds = 2), 1),
      ("dfsLeafResidual", () => Traversals.dfsLeafResidual(e, 0L), 2),
      ("lubyMis", () => Traversals.lubyMis(e, rounds = 2), 3),
      ("connectedComponents", () => Traversals.connectedComponents(e), 1),
      ("contractedComponents", () => Traversals.contractedComponents(e), 1),
      ("reachableFrom", () => Traversals.reachableFrom(e, seeds), 2),
      ("stronglyConnectedComponents", () => Traversals.stronglyConnectedComponents(e), 2),
      ("labelPropagation", () => Traversals.labelPropagation(e), 3))
    val got = pins.map { case (name, op, _) =>
      val (rows, jobs) = jobsOf(op().collect())
      assert(rows.nonEmpty, name)
      name -> jobs
    }
    assert(got === pins.map { case (name, _, jobs) => name -> jobs })
  }

  test("a Long.MaxValue bound takes the local path of lubyMis and labelPropagation") {
    // the bound doubles to count symmetric rows; doubling Long.MaxValue
    // must saturate, not wrap negative and force the distributed path
    val e = triangleRich
    def rows(df: DataFrame) = df.collect().map(_.toString).toSet
    val (mis, misJobs) = jobsOf(rows(Traversals.lubyMis(e, rounds = 3)))
    val (misMax, misMaxJobs) = jobsOf(rows(Traversals.lubyMis(e, rounds = 3,
      localMaxEdges = Long.MaxValue)))
    assert(misMax === mis && misMaxJobs === misJobs)
    val (lpa, lpaJobs) = jobsOf(rows(Traversals.labelPropagation(e, iters = 2)))
    val (lpaMax, lpaMaxJobs) = jobsOf(rows(Traversals.labelPropagation(e, iters = 2,
      localMaxEdges = Long.MaxValue)))
    assert(lpaMax === lpa && lpaMaxJobs === lpaJobs)
  }

  test("reachableFrom: distributed just above bfsLocalMaxEdges, local just below, " +
    "both equal plain reachability") {
    import spark.implicits._
    // a dense random digraph (a few supersteps deep) plus a component
    // the seeds never reach
    val rnd = new scala.util.Random(11L)
    val bound = Traversals.bfsLocalMaxEdges.toInt
    val above = Seq.fill(bound + 16)((rnd.nextInt(1000).toLong, rnd.nextInt(1000).toLong)) ++
      Seq((5000L, 5001L), (5001L, 5002L), (5002L, 5000L), (5002L, 7L))
    val below = above.drop(32)
    val seeds = Seq(0L, 1L).toDF("vertex")
    def reference(es: Seq[(Long, Long)]): Set[Long] = {
      val adj = es.groupMap(_._1)(_._2)
      var seen = Set(0L, 1L)
      var frontier = seen
      while (frontier.nonEmpty) {
        frontier = frontier.flatMap(adj.getOrElse(_, Nil)) -- seen
        seen ++= frontier
      }
      seen
    }
    def reach(es: Seq[(Long, Long)]) = jobsOf(
      Traversals.reachableFrom(es.toDF("src", "dst"), seeds)
        .collect().map(_.getLong(0)).toSet)
    val (dist, distJobs) = reach(above)
    val (local, localJobs) = reach(below)
    assert(above.length > bound && below.length < bound)
    assert(dist === reference(above) && !dist.contains(5000L))
    assert(local === reference(below) && !local.contains(5000L))
    assert(distJobs > localJobs, s"distributed $distJobs jobs, local $localJobs")
  }

  test("reachableFrom stops after maxIters levels on the local path and on the loop") {
    import spark.implicits._
    val seeds = Seq(0L).toDF("vertex")
    val path = (0L until 5L).map(i => (i, i + 1)).toDF("src", "dst")
    for ((name, e) <- Seq("local" -> path, "loop" -> paddedPath(5))) {
      val got = Traversals.reachableFrom(e, seeds, maxIters = 2).collect().map(_.getLong(0)).toSet
      assert(got === Set(0L, 1L, 2L), name)
    }
  }

  test("reachableFrom: a seed set one past broadcastFrontierMax returns the seeds and what they reach") {
    import spark.implicits._
    // a tiny graph, so only the seed bound keeps the call off the local path
    val bound = Traversals.broadcastFrontierMax
    val e = Seq((3L, bound + 5), (bound + 5, bound + 6), (bound + 7, bound + 8)).toDF("src", "dst")
    val got = Traversals.reachableFrom(e, spark.range(0L, bound + 1).toDF("vertex"))
      .collect().map(_.getLong(0)).sorted
    assert(got.toSeq === (0L to bound) ++ Seq(bound + 5, bound + 6))
  }

  /** A path 0 → 1 → … → k plus padding edges vertex 0 never reaches,
    * more than bfsLocalMaxEdges of them, so no call takes a local path. */
  def paddedPath(k: Int): DataFrame = {
    import spark.implicits._
    val padding = (0L until 16400L).map(i => (1000000L + i, 1000001L + i))
    ((0L until k.toLong).map(i => (i, i + 1)) ++ padding).toDF("src", "dst")
  }

  /** jobs(k = 17) − jobs(k = 9) of `call` on [[paddedPath]]: the jobs
    * of eight more levels. */
  def eightLevels(call: DataFrame => DataFrame, rowsAt: Int => Int = _ + 1): Int = {
    val Seq(j9, j17) = Seq(9, 17).map { k =>
      val (rows, jobs) = jobsOf(call(paddedPath(k)).collect())
      assert(rows.length === rowsAt(k), s"k = $k")
      jobs
    }
    j17 - j9
  }

  test("job-count pin: bfs, per-root distances and reachability pay the same jobs per level") {
    // on DataFrame state; the driver-held supersteps are pinned below
    import spark.implicits._
    val roots = Seq(0L).toDF("root")
    val seeds = Seq(0L).toDF("vertex")
    val calls: Seq[(String, DataFrame => DataFrame)] = Seq(
      "bfsLevelsMulti" ->
        (e => Traversals.bfsLevelsMulti(e, Seq(0L), 10000, localMaxEdges = 0L, maxHeld = 0L)),
      "multiSourceDistances" -> (e => Traversals.multiSourceDistances(e, roots)),
      "reachableFrom" -> (e => Traversals.reachableFrom(e, seeds)))
    // eight supersteps and one compaction of the visited set, each
    // level's row count taken by the job that checkpoints it; then a
    // DataFrame-state single-source bfs on G7 from 0 and from 3
    def pins(g7Jobs: Seq[Int]): Unit = {
      assert(calls.map { case (name, call) => name -> eightLevels(call) } ===
        calls.map { case (name, _) => name -> 33 })
      val g7 = Seq(0L, 3L).map(s => s -> jobsOf(
        Traversals.bfs(edges("G7"), s, localMaxEdges = 0L, maxHeld = 0L).collect())._2)
      assert(g7 === Seq(0L, 3L).zip(g7Jobs))
    }
    // Checkpoints are sized from the block-manager master, so whether
    // the anti-join broadcasts the visited side no longer follows
    // listener timing: the pins hold with size-based broadcast on, and
    // with it off, where every superstep plans the same way.
    pins(Seq(21, 29))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      pins(Seq(22, 30))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("job-count pin: a driver-held superstep is one job; dfsLeaves pays none beyond them") {
    assert(eightLevels(e => Traversals.bfs(e, 0L)) === 8)
    assert(eightLevels(e => Traversals.bfsLevelsMulti(e, Seq(0L))) === 8)
    // the replay adjacency comes from the reachability supersteps: the
    // call costs what a bfs with the same bounded collect costs
    assert(eightLevels(e => Traversals.dfsLeaves(e, 0L, localMaxEdges = 0L), rowsAt = _ => 1) === 8)
    val e = paddedPath(9)
    assert(jobsOf(Traversals.dfsLeaves(e, 0L, localMaxEdges = 0L).collect())._2 ===
      jobsOf(Traversals.bfs(e, 0L, localMaxEdges = 0L).collect())._2)
  }

  test("replay bound is exact on both paths; an unbounded replay runs; an absent graph fails to load") {
    // G7 from 0 reduces to 10 replay edges: its 12 minus the 2 into the
    // start. Both paths: local, and distributed with driver-held state.
    Seq(graft.operators.GraphAlgos.denseLocalMaxEdges, 0L).foreach { local =>
      val path = s"localMaxEdges=$local"
      def leaves(maxReplay: Long) = Traversals.dfsLeaves(edges("G7"), 0, maxReplay, local)
        .collect().map(_.getLong(0)).toSeq
      assert(leaves(10L) === Seq(3L, 5L, 6L), path)
      val e = intercept[IllegalArgumentException](leaves(9L))
      assert(e.getMessage.contains("exceed dfsReplayMaxEdges=9"), path)
      // Long.MaxValue + 1 overflows: the held bound saturates and the
      // bounded collect clamps it
      assert(leaves(Long.MaxValue) === Seq(3L, 5L, 6L), path)
    }
    assert(Traversals.bfs(edges("G7"), 0, localMaxEdges = Long.MaxValue)
      .collect().map(_.getLong(2)).toSeq === Seq(0L, 1L, 4L, 2L, 5L, 6L, 3L))
    val cat = new GraphCatalog(spark,
      java.nio.file.Files.createTempDirectory("graft-absent").toString)
    val e = intercept[Exception] { cat.load("absent") }
    assert(e.getMessage.contains("absent"), e.getMessage)
  }

  test("goldens from a non-root start: G6 from 4") {
    // hand-derived: edges 0-1,0-2,0-3,1-4 undirected; from 4:
    // BFS levels {4},{1},{0},{2,3}; DFS 4->1->0->2(leaf),3(leaf)
    assert(bfsOrder("G6", 4) === Seq(4L, 1L, 0L, 2L, 3L))
    assert(leaves("G6", 4) === Seq(2L, 3L))
  }

  test("DFS-leaves golden: all fixtures") {
    assert(leaves("G1", 0) === Seq(0L))
    assert(leaves("G2", 0) === Seq(1L))
    assert(leaves("G5", 0) === Seq(2L, 3L, 4L))
    assert(leaves("G6", 0) === Seq(2L, 3L, 4L))
    assert(leaves("G7", 0) === Seq(3L, 5L, 6L))
    assert(leaves("G7", 3) === Seq(5L, 6L))
  }

  test("multiSourceDistances: per-root rows match single-source BFS on G7") {
    import org.apache.spark.sql.functions.col
    val e = edges("G7")
    val roots = e.select(col("src").as("root")).distinct()
    val got = Traversals.multiSourceDistances(e, roots).collect()
      .map(r => (r.getAs[Long]("root"), r.getAs[Long]("vertex")) -> r.getAs[Int]("level"))
      .toMap
    // every root's slice equals a fresh single-source BFS from it
    for (root <- Seq(0L, 3L, 6L)) {
      val want = Traversals.bfsLevels(e, root).collect()
        .map(r => r.getAs[Long]("vertex") -> r.getAs[Int]("level")).toMap
      val slice = got.collect { case ((r, v), l) if r == root => v -> l }
      assert(slice === want, s"root $root")
    }
    // G7 is connected: all 7×7 pairs present, roots at level 0
    assert(got.size === 49)
    assert(got.count { case ((r, v), l) => r == v && l == 0 } === 7)
  }

  test("bfsBidirectional agrees with single-source BFS on every G7 pair; None when disconnected") {
    val e = edges("G7")
    for (src <- 0L to 6L) {
      val want = Traversals.bfsLevels(e, src).collect()
        .map(r => r.getAs[Long]("vertex") -> r.getAs[Int]("level").toLong).toMap
      for (dst <- 0L to 6L)
        assert(Traversals.bfsBidirectional(e, src, dst) === want.get(dst),
          s"pair ($src, $dst)")
    }
    // G1 is two self-loop vertices — no path between them
    assert(Traversals.bfsBidirectional(edges("G1"), 0L, 1L) === None)
    assert(Traversals.bfsBidirectional(edges("G1"), 0L, 0L) === Some(0L))
  }

  test("personalizedPageRank: all-seeds degenerates to global PR bit-exactly; single seed localizes") {
    val e = edges("G7")
    val global = Traversals.pageRankDeterministic(e, iters = 6).collect()
      .map(r => r.getAs[Long]("vertex") -> r.getAs[Double]("rank")).toMap
    val allSeeds = Traversals.personalizedPageRank(e, (0L to 6L), iters = 6).collect()
      .map(r => r.getAs[Long]("vertex") -> r.getAs[Double]("rank")).toMap
    // same recurrence when every vertex is a seed — bit-identical
    assert(allSeeds === global)
    val fromZero = Traversals.personalizedPageRank(e, Seq(0L), iters = 6).collect()
      .map(r => r.getAs[Long]("vertex") -> r.getAs[Double]("rank")).toMap
    // restart mass only returns to the seed: it outranks everything
    assert(fromZero(0L) === fromZero.values.max)
    // distance-3 vertex gets less mass than the seed's direct neighbor
    assert(fromZero(3L) < fromZero(1L))
    assert(fromZero.values.forall(_ >= 0.0))
  }

  test("unreached vertices appear in neither output (G1 from 0)") {
    assert(!bfsOrder("G1", 0).contains(1L))
    assert(!leaves("G1", 0).contains(1L))
  }

  test("connected components: G7 one component, G1 two") {
    val cc7 = Traversals.connectedComponents(edges("G7")).collect()
      .map(_.getAs[Long]("component")).toSet
    assert(cc7 === Set(0L))
    val cc1 = Traversals.connectedComponents(edges("G1")).collect()
      .map(r => (r.getAs[Long]("vertex"), r.getAs[Long]("component"))).toSet
    assert(cc1 === Set((0L, 0L), (1L, 1L)))
  }

  test("job-count pin: driver-held components are one job at the bound, the loop one vertex past it") {
    // G7 has 7 vertices, all in component 0
    val g7 = edges("G7")
    def run(df: => DataFrame) =
      jobsOf(df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sortBy(_._1))
    val want = (0L to 6L).map(_ -> 0L)
    val (held, heldJobs) = run(Traversals.connectedComponents(g7, 10000, 2, 7L))
    val (loop, loopJobs) = run(Traversals.connectedComponents(g7, 10000, 2, 6L))
    assert(held === want && loop === want)
    assert(heldJobs === 1 && loopJobs > 1, s"held $heldJobs jobs, loop $loopJobs")
    // past the bound contractedComponents contracts, then holds the
    // smaller quotient
    val (cHeld, cHeldJobs) = run(Traversals.contractedComponents(g7, 2, 10000, 2, 7L))
    val (cLoop, cLoopJobs) = run(Traversals.contractedComponents(g7, 2, 10000, 2, 6L))
    assert(cHeld === want && cLoop === want)
    assert(cHeldJobs === 1 && cLoopJobs > 1, s"held $cHeldJobs jobs, contracted $cLoopJobs")
  }

  test("GraphCatalog: add/load/modify roundtrip + snapshot semantics") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-cat").toString
    val cat = new GraphCatalog(spark, tmp)
    cat.addGraph("g7", edges("G7"))
    assert(cat.listGraphs() === Seq("g7"))
    val snap = cat.load("g7")
    assert(snap.count() === 12)
    assert(cat.bfs("g7", 0).count() === 7)
    cat.modifyGraph("g7", edges("G2"))   // last-writer-wins replacement
    assert(cat.load("g7").count() === 2)
    assert(cat.dfsLeaves("g7", 0).collect().map(_.getLong(0)).toSeq === Seq(1L))
  }

  test("loadPinned and a driver-staged load survive an overwrite") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-snap").toString
    val cat = new GraphCatalog(spark, tmp)
    val rows = Seq((0L, 1L), (1L, 2L), (2L, 3L))
    cat.addGraph("g", rows.toDF("src", "dst"))
    // a driver-staged version pins as itself: the first load's collect,
    // then no job
    val (pinned, pinJobs) = jobsOf(cat.loadPinned("g"))
    assert(pinJobs === 1)
    assert(jobsOf(cat.loadPinned("g"))._2 === 0)
    val unpinned = cat.load("g")
    assert(unpinned.count() === 3)
    cat.modifyGraph("g", Seq((9L, 9L)).toDF("src", "dst"))
    assert(pinned.count() === 3, "pinned snapshot must survive the overwrite")
    // a driver-staged load is a snapshot too: its rows, never torn
    assert(unpinned.as[(Long, Long)].collect().sorted.toSeq === rows)
    assert(cat.load("g").count() === 1)
  }

  test("a plain load is fail-stop under an overwrite") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-failstop").toString
    val cat = new GraphCatalog(spark, tmp)
    cat.addEdges("g", Seq((0L, 1L), (1L, 2L), (2L, 3L)).toDF("src", "dst"))
    // an appended graph has no observed count: the plain read
    val unpinned = cat.load("g")
    assert(plainRead(unpinned) && unpinned.count() === 3)
    cat.modifyGraph("g", Seq((9L, 9L)).toDF("src", "dst"))
    // plain snapshot fails cleanly (FILE_NOT_EXIST) — never torn data
    intercept[Exception] { unpinned.count() }
    assert(cat.load("g").count() === 1)
  }

  test("bucketed catalog storage: same data, shuffle-free self-join on src") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-bucket").toString
    val cat = new GraphCatalog(spark, tmp)
    cat.addGraphBucketed("g7b", edges("G7"), buckets = 4)
    val b = cat.loadBucketed("g7b")
    assert(b.count() === 12)
    // force a sort-merge join (no broadcast) so the assertion actually
    // tests bucketing: both sides read co-located buckets, zero shuffles
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = b.as("x").join(b.as("y"),
          org.apache.spark.sql.functions.col("x.src") === org.apache.spark.sql.functions.col("y.src"))
        .queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ, got:\n$plan")
      assert(plan.linesIterator.count(_.contains("Exchange hashpartitioning")) === 0,
        s"src=src SMJ of a bucketed table must plan zero shuffle exchanges:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("addEdges append: new edges visible to new reads, pinned snapshots stable, op=2 unchanged") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-append").toString
    val cat = new GraphCatalog(spark, tmp)
    cat.addGraph("g", Seq((0L, 1L), (1L, 2L)).toDF("src", "dst"))
    val pinned = cat.loadPinned("g")
    cat.addEdges("g", Seq((2L, 3L), (3L, 4L)).toDF("src", "dst"))
    assert(cat.load("g").count() === 4, "append must be visible to a fresh load")
    assert(pinned.count() === 2, "pinned snapshot must not see the append")
    assert(cat.bfs("g", 0).count() === 5, "traversal must span old + appended edges")
    // append to a nonexistent graph creates it
    cat.addEdges("g2", Seq((7L, 8L)).toDF("src", "dst"))
    assert(cat.load("g2").count() === 1)
    // reference op=2 semantics unchanged: modify still replaces whole-graph
    cat.modifyGraph("g", Seq((9L, 8L)).toDF("src", "dst"))
    assert(cat.load("g").count() === 1)
  }

  test("bucketed append + compaction: bucket layout preserved, multiset identical, deltas fold") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-bappend").toString
    val cat = new GraphCatalog(spark, tmp)
    cat.addGraphBucketed("gb", Seq((0L, 1L), (1L, 2L), (2L, 3L)).toDF("src", "dst"), buckets = 4)
    // two appends, one containing an exact duplicate edge
    cat.addEdgesBucketed("gb", Seq((3L, 4L), (0L, 1L)).toDF("src", "dst"))
    cat.addEdgesBucketed("gb", Seq((4L, 5L)).toDF("src", "dst"))
    def smjShuffleFree(): Unit = {
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val b = cat.loadBucketed("gb")
        val plan = b.as("x").join(b.as("y"),
            org.apache.spark.sql.functions.col("x.src") === org.apache.spark.sql.functions.col("y.src"))
          .queryExecution.executedPlan.toString
        assert(plan.contains("SortMergeJoin"), s"expected SMJ, got:\n$plan")
        assert(plan.linesIterator.count(_.contains("Exchange hashpartitioning")) === 0,
          s"bucketed src=src SMJ must stay shuffle-free after append/compaction:\n$plan")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
    assert(cat.loadBucketed("gb").count() === 6)
    smjShuffleFree() // append deltas carry the bucket spec
    def parquetFiles() = new java.io.File(s"$tmp/gb/edges").listFiles()
      .count(_.getName.endsWith(".parquet"))
    val filesBefore = parquetFiles()
    val multisetBefore = cat.loadBucketed("gb")
      .groupBy("src", "dst").count().collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val pinned = cat.loadPinned("gb")   // plain-path snapshot across compaction
    cat.compactBucketed("gb")
    assert(cat.loadBucketed("gb").groupBy("src", "dst").count().collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet === multisetBefore,
      "layout-only compaction must preserve the edge multiset (incl. the duplicate)")
    assert(parquetFiles() < filesBefore,
      s"compaction must fold delta files (before=$filesBefore after=${parquetFiles()})")
    assert(pinned.count() === 6, "pinned snapshot must survive compaction's overwrite")
    smjShuffleFree() // compaction re-registers the same bucket spec
    cat.compactBucketed("gb", dedup = true)
    assert(cat.loadBucketed("gb").count() === 5, "dedup compaction drops the exact duplicate")
  }

  /** A generated graph past both local bounds: 70 000 edges (`extra`
    * more for a second version), 1000 sources with 70 out-edges each
    * into 1200 vertices, so 200 vertices are sinks. */
  def pastBounds(extra: Int = 0): DataFrame = {
    import org.apache.spark.sql.functions.col
    spark.range(70000L + extra).select((col("id") / 70).cast("long").as("src"),
      ((col("id") * 7919L + 13L) % 1200L).as("dst"))
  }

  /** `df`'s plan is a staged checkpoint stating `rows` rows. */
  def staged(df: DataFrame, rows: Long): Boolean = df.queryExecution.analyzed match {
    case lr: org.apache.spark.sql.execution.LogicalRDD => lr.stats.rowCount.contains(BigInt(rows))
    case _ => false
  }

  /** `df`'s plan is a driver-staged version: a local relation. */
  def driverStaged(df: DataFrame): Boolean = df.queryExecution.analyzed
    .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]

  /** `df`'s plan is the plain Parquet read. */
  def plainRead(df: DataFrame): Boolean = df.queryExecution.analyzed
    .isInstanceOf[org.apache.spark.sql.execution.datasources.LogicalRelation]

  /** A catalog with `pastBounds()` written as "big", its write's
    * observed count delivered. */
  def stagedCatalog(prefix: String): (GraphCatalog, String) = {
    val tmp = java.nio.file.Files.createTempDirectory(prefix).toString
    val cat = new GraphCatalog(spark, tmp)
    cat.addGraph("big", pastBounds())
    ListenerBusDrain(spark.sparkContext)
    (cat, tmp)
  }

  test("staged catalog read: one job per level, no bounded-collect job, rows as the plain read") {
    val (cat, tmp) = stagedCatalog("graft-stage")
    def bfsRows(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sortBy(_._1).toSeq
    val plain = spark.read.parquet(s"$tmp/big/edges")
    val wantBfs = bfsRows(Traversals.bfs(plain, 0L))
    val wantDfs = Traversals.dfsLeaves(plain, 0L).collect().toSeq
    val levels = wantBfs.map(_._2).max + 1
    assert(levels >= 2 && wantDfs.nonEmpty)
    val (first, loadJobs) = jobsOf(cat.load("big"))
    assert(loadJobs === 0 && staged(first, 70000L), first.queryExecution.analyzed)
    // the first traversal fills the stage with its first level's scan
    assert(bfsRows(Traversals.bfs(first, 0L)) === wantBfs)
    def pins(): Unit = {
      val (bfs, bfsJobs) = jobsOf(bfsRows(Traversals.bfs(cat.load("big"), 0L)))
      val (dfs, dfsJobs) = jobsOf(Traversals.dfsLeaves(cat.load("big"), 0L).collect().toSeq)
      assert(bfs === wantBfs && dfs === wantDfs)
      // every level scans the edges once, the last finding nothing new
      assert((bfsJobs, dfsJobs) === ((levels, levels)))
      assert(jobsOf(cat.bfs("big", 0L).collect())._2 === levels)
    }
    pins()
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      pins()
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("staged catalog read: the first load right after addGraph states its row count") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-firstload").toString
    val cat = new GraphCatalog(spark, tmp)
    cat.addGraph("big", pastBounds())
    // no listener-bus drain: the write itself takes its count
    val first = cat.load("big")
    assert(staged(first, 70000L), first.queryExecution.analyzed)
    val levels = Traversals.bfs(spark.read.parquet(s"$tmp/big/edges"), 0L)
      .collect().map(_.getInt(1)).max + 1
    // one job per level, none for a bounded collect
    assert(jobsOf(Traversals.bfs(first, 0L).collect())._2 === levels)
  }

  test("staged catalog read: modifyGraph and addEdges release the stage; a released stage throws") {
    import spark.implicits._
    val (cat, _) = stagedCatalog("graft-release")
    val old = cat.load("big")
    assert(staged(old, 70000L) && old.count() === 70000L)
    cat.modifyGraph("big", pastBounds(extra = 5))
    // its blocks are gone and its lineage was truncated: no old rows
    intercept[Exception] { old.count() }
    ListenerBusDrain(spark.sparkContext)
    val next = cat.load("big")
    assert(staged(next, 70005L) && next.count() === 70005L)
    cat.addEdges("big", Seq((5000L, 5001L), (5001L, 5002L)).toDF("src", "dst"))
    intercept[Exception] { next.count() }
    // an appended graph has no observed count: the plain read
    val appended = cat.load("big")
    assert(plainRead(appended) && appended.count() === 70007L)
    assert(Traversals.bfs(appended, 5000L).collect().map(_.getLong(2)).sorted.toSeq ===
      Seq(5000L, 5001L, 5002L))
  }

  test("staged catalog read: a write whose input reads the filled stage pins it first") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val (cat, _) = stagedCatalog("graft-selfappend")
    Traversals.bfs(cat.load("big"), 0L).collect() // fills the stage
    val persisted = spark.sparkContext.getPersistentRDDs.size
    cat.addEdges("big", cat.load("big").filter(col("src") < 2L)
      .select((col("src") + 5000L).as("src"), col("dst")))
    // the stage is released and the pin dropped
    assert(spark.sparkContext.getPersistentRDDs.size === persisted - 1)
    assert(cat.load("big").count() === 70140L)
    assert(cat.load("big").filter(col("src") >= 5000L).count() === 140L)

    val (cat2, _) = stagedCatalog("graft-selfmodify")
    Traversals.dfsLeaves(cat2.load("big"), 0L).collect() // fills the stage
    cat2.modifyGraph("big", cat2.load("big").union(Seq((5000L, 5001L)).toDF("src", "dst")))
    ListenerBusDrain(spark.sparkContext)
    val next = cat2.load("big")
    assert(staged(next, 70001L) && next.count() === 70001L)
    assert(next.filter(col("src") === 5000L).count() === 1L)
  }

  test("a checkpoint's estimated row count does not refuse the local path") {
    import org.apache.spark.sql.functions.col
    // under cost-based estimation a limit states its limit as its row
    // count, however few rows it keeps, and a checkpoint copies it
    val prev = spark.conf.get("spark.sql.cbo.enabled")
    val edges = try {
      spark.conf.set("spark.sql.cbo.enabled", "true")
      spark.range(0L, 20000L).filter(col("id") % 1000L === 0L)
        .select(col("id").as("src"), (col("id") + 1000L).as("dst"))
        .limit(20000).repartition(1).localCheckpoint()
    } finally spark.conf.set("spark.sql.cbo.enabled", prev)
    assert(edges.queryExecution.analyzed.stats.rowCount
      .exists(_ > Traversals.bfsLocalMaxEdges))
    val (got, jobs) = jobsOf(Traversals.bfs(edges, 0L).collect())
    assert(got.map(_.getLong(2)).toSeq === (0L to 20000L by 1000L))
    assert(jobs === 1, "the bounded collect, then local levels")
  }

  test("staged catalog read: an overwrite by a second catalog on the same root is read plainly") {
    import spark.implicits._
    val (cat, tmp) = stagedCatalog("graft-foreign")
    assert(staged(cat.load("big"), 70000L))
    new GraphCatalog(spark, tmp).modifyGraph("big", Seq((0L, 1L), (1L, 2L)).toDF("src", "dst"))
    // the listing no longer matches the one this catalog's write left
    val now = cat.load("big")
    assert(plainRead(now) && now.count() === 2L)
    assert(cat.bfs("big", 0L).collect().map(_.getLong(2)).toSeq === Seq(0L, 1L, 2L))
  }

  test("a graph at the local bound is staged on the driver by one job") {
    import org.apache.spark.sql.functions.col
    val tmp = java.nio.file.Files.createTempDirectory("graft-atbound").toString
    val cat = new GraphCatalog(spark, tmp)
    cat.addGraph("g", spark.range(0L, Traversals.bfsLocalMaxEdges, 1L, 1)
      .select(col("id").as("src"), (col("id") + 1).as("dst")))
    ListenerBusDrain(spark.sparkContext)
    val (g, jobs) = jobsOf(cat.load("g"))
    assert(jobs === 1 && driverStaged(g))
    assert(jobsOf(cat.bfs("g", 0L).collect())._2 === 0, "local levels over the held rows")
    // an overwrite whose input reads the stage needs no pin: the rows
    // are on the driver
    cat.modifyGraph("g", cat.load("g").union(spark.range(1).select(col("id").as("src"),
      col("id").as("dst"))))
    ListenerBusDrain(spark.sparkContext)
    val next = cat.load("g")
    assert(staged(next, Traversals.bfsLocalMaxEdges + 1))
    assert(next.count() === Traversals.bfsLocalMaxEdges + 1)
  }

  test("staged catalog read: an overwrite of a small graph by a second catalog is read plainly") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-foreign-small").toString
    val cat = new GraphCatalog(spark, tmp)
    cat.addGraph("g", Seq((0L, 1L), (1L, 2L), (2L, 3L)).toDF("src", "dst"))
    val old = cat.load("g")
    assert(driverStaged(old))
    new GraphCatalog(spark, tmp).modifyGraph("g", Seq((0L, 1L), (1L, 2L)).toDF("src", "dst"))
    // the listing no longer matches the one this catalog's write left
    val now = cat.load("g")
    assert(plainRead(now) && now.count() === 2L)
    assert(cat.bfs("g", 0L).collect().map(_.getLong(2)).toSeq === Seq(0L, 1L, 2L))
    assert(old.count() === 3L, "the earlier load keeps its snapshot")
  }

  test("staged catalog read: a small graph rewritten from its own load keeps the old rows") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-selfmodify-small").toString
    val cat = new GraphCatalog(spark, tmp)
    val rows = Seq((0L, 1L), (1L, 2L), (2L, 3L))
    cat.addGraph("g", rows.toDF("src", "dst"))
    val input = cat.load("g").union(Seq((3L, 4L)).toDF("src", "dst"))
    // the write's own job only: no eager pin of its input
    assert(jobsOf(cat.modifyGraph("g", input))._2 === 1)
    val next = cat.load("g")
    assert(driverStaged(next))
    assert(next.as[(Long, Long)].collect().sorted.toSeq === rows :+ ((3L, 4L)))
    assert(next.filter(col("src") === 3L).count() === 1L)
  }

  test("versioned catalog: immutable versions, atomic latest pointer, time travel, expiry") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-versions").toString
    val cat = new GraphCatalog(spark, tmp)
    assert(cat.latestVersion("g") === None)
    assert(cat.listVersions("g") === Seq.empty)
    intercept[IllegalArgumentException] { cat.loadLatest("g") }
    val v0 = cat.commitVersion("g", Seq((0L, 1L)).toDF("src", "dst"))
    val v1 = cat.commitVersion("g", Seq((0L, 1L), (1L, 2L)).toDF("src", "dst"))
    val v2 = cat.commitVersion("g", Seq((5L, 6L)).toDF("src", "dst"))
    assert(Seq(v0, v1, v2) === Seq(0L, 1L, 2L))
    assert(cat.listVersions("g") === Seq(0L, 1L, 2L))
    assert(cat.latestVersion("g") === Some(2L))
    assert(cat.loadLatest("g").count() === 1)
    // time travel: old versions stay exactly as committed
    assert(cat.loadVersion("g", 0).count() === 1)
    assert(cat.loadVersion("g", 1).count() === 2)
    // a resolved old-version read survives later commits (immutability)
    val pinnedV1 = cat.loadVersion("g", 1)
    cat.commitVersion("g", Seq((9L, 9L), (9L, 8L), (8L, 7L)).toDF("src", "dst"))
    assert(pinnedV1.count() === 2, "an immutable version must never change underneath a reader")
    assert(cat.latestVersion("g") === Some(3L))
    // expiry keeps the latest plus `keep-1` most recent older versions
    cat.expireVersions("g", keep = 2)
    assert(cat.listVersions("g") === Seq(2L, 3L))
    intercept[IllegalArgumentException] { cat.loadVersion("g", 0) }
    assert(cat.loadVersion("g", 2).count() === 1)
    assert(cat.loadLatest("g").count() === 3)
    // crashed-commit orphans: a COMPLETE version dir whose pointer flip
    // never happened (v9), and a PARTIAL dir with no _SUCCESS (v5)
    Seq((1L, 1L)).toDF("src", "dst").write.parquet(s"$tmp/g/versions/v9/edges")
    new java.io.File(s"$tmp/g/versions/v5/edges").mkdirs()
    assert(cat.latestVersion("g") === Some(3L), "orphans must not affect the pointer")
    assert(cat.loadLatest("g").count() === 3)
    intercept[IllegalArgumentException] { cat.loadVersion("g", 5) } // partial: unreadable
    // fresh past-pointer dirs are protected by the orphan grace window:
    // an in-flight commit between _SUCCESS and pointer flip looks exactly
    // like these, so GC must not reap them until they age out
    cat.expireVersions("g", keep = 1)
    assert(cat.listVersions("g").contains(9L) && cat.listVersions("g").contains(5L),
      "GC must not reap fresh past-pointer dirs inside the grace window")
    // the next commit numbers PAST the orphan, never resurrects it
    assert(cat.commitVersion("g", Seq((1L, 2L)).toDF("src", "dst")) === 10L)
    cat.expireVersions("g", keep = 1, orphanGraceMs = 0L)
    assert(cat.listVersions("g") === Seq(10L),
      "expiry must GC orphans and expired history, keeping only the latest")
  }

  test("sssp: weighted shortest paths on a hand-checked graph") {
    import spark.implicits._
    // 0-1 (w1), 1-2 (w1), 0-2 (w5): the 2-hop path beats the direct edge
    val e = Seq((0L, 1L, 1L), (1L, 2L, 1L), (0L, 2L, 5L), (2L, 3L, 2L))
      .toDF("src", "dst", "w")
    val d = Traversals.sssp(e, 0L).collect()
      .map(r => r.getAs[Long]("vertex") -> r.getAs[Long]("dist")).toMap
    assert(d === Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 4L))
    // unreachable start: only itself
    assert(Traversals.sssp(e, 9L).collect().map(_.getLong(0)).toSeq === Seq(9L))
  }

  test("concurrent traversals are isolated (reference: 2 secondary servers, " +
    "shared-global corruption consciously not replicated)") {
    // The reference's concurrent BFS/DFS on one server corrupt each
    // other (secondary_server.c:51-54, global queue/visited). Ours must
    // not: run 8 traversals concurrently on mixed graphs and check each
    // against its golden.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val golden = Map(
      ("G7", 0L) -> Seq(0L, 1L, 4L, 2L, 5L, 6L, 3L),
      ("G7", 3L) -> Seq(3L, 2L, 1L, 0L, 4L, 5L, 6L),
      ("G5", 0L) -> Seq(0L, 1L, 4L, 2L, 3L),
      ("G6", 0L) -> Seq(0L, 1L, 2L, 3L, 4L))
    val futures = (1 to 2).flatMap(_ => golden.toSeq).map { case ((g, s), expect) =>
      Future { (g, s, bfsOrder(g, s), expect) }
    }
    Await.result(Future.sequence(futures), 120.seconds).foreach {
      case (g, s, got, expect) => assert(got === expect, s"$g from $s under concurrency")
    }
  }

  test("MatrixIO roundtrip: write then read preserves edges") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-mio").toString + "/g.txt"
    MatrixIO.writeMatrix(edges("G7"), 7, tmp)
    val back = MatrixIO.readMatrix(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val orig = edges("G7").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(back === orig)
  }

  test("kcore: triangle-with-tail peels to the triangle; trees peel to nothing") {
    import spark.implicits._
    // triangle 0-1-2 plus a tail 2-3-4
    val tri = Seq((0L, 1L), (1L, 2L), (0L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val core2 = Traversals.kcore(tri, 2).collect().map(_.getLong(0)).toSet
    assert(core2 === Set(0L, 1L, 2L), "2-core must peel the tail, keep the triangle")
    // every vertex survives k=1 (all have at least one neighbor)
    assert(Traversals.kcore(tri, 1).count() === 5)
    // a tree has no 2-core
    val tree = Seq((0L, 1L), (0L, 2L), (1L, 3L), (1L, 4L)).toDF("src", "dst")
    assert(Traversals.kcore(tree, 2).count() === 0)
  }

  test("MatrixIO.writeMatrix rejects a too-small n and accepts int edge columns") {
    import org.apache.spark.sql.functions.col
    val tmp = java.nio.file.Files.createTempDirectory("graft-mio2").toString
    // n=5 but G7 has vertices up to 6: must fail loudly, not truncate
    val e = intercept[IllegalArgumentException] {
      MatrixIO.writeMatrix(edges("G7"), 5, s"$tmp/bad.txt")
    }
    assert(e.getMessage.contains("outside"))
    // integer-typed edge columns are cast, not ClassCastException'd
    val intEdges = edges("G7").select(col("src").cast("int"), col("dst").cast("int"))
    MatrixIO.writeMatrix(intEdges, 7, s"$tmp/ok.txt")
    val back = MatrixIO.readMatrix(spark, s"$tmp/ok.txt").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(back === edges("G7").collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    // a negative n, a negative id or a null one refuses too, and writes nothing
    val negN = intercept[IllegalArgumentException] {
      MatrixIO.writeMatrix(edges("G7"), -1, s"$tmp/neg.txt")
    }
    assert(negN.getMessage.contains("non-negative"))
    val negId = intercept[IllegalArgumentException] {
      MatrixIO.writeMatrix(intEdges.union(spark.range(1).selectExpr("-1", "0")), 7, s"$tmp/neg.txt")
    }
    assert(negId.getMessage.contains("(-1,0) outside [0,7)"))
    val nullId = intercept[Exception] {
      MatrixIO.writeMatrix(intEdges.union(spark.range(1).selectExpr("null", "0")), 7, s"$tmp/neg.txt")
    }
    // the connector's schema is non-nullable, so Spark refuses the row
    assert(nullId.getMessage.contains("NULL value appeared in non-nullable field"), nullId.toString)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$tmp/neg.txt")))
  }
}
