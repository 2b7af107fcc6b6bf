package graft

import graft.sources.MatrixIO
import graft.operators.{GraphCatalog, Traversals}
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
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
      val e = Traversals.partitionEdges(edges("G7"))
      try {
        val fast = Traversals.bfsLevelsPrepared(e, Seq(start), 10000)
          .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
        val dist = Traversals.bfsLevelsPrepared(e, Seq(start), 10000, localMaxEdges = 0L)
          .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
        assert(fast === dist, s"paths diverged from start $start")
      } finally e.unpersist(blocking = false)
    }
  }

  /** `body`'s result and the number of Spark jobs it started. */
  def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try {
      val out = body
      ListenerBusDrain(sc)
      (out, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
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

  test("job-count pins: a catalog load runs no job, a G7 bfs or dfsLeaves collect runs one") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-jobs").toString
    val cat = new GraphCatalog(spark, tmp)
    cat.addGraph("g7", edges("G7"))
    cat.commitVersion("g7v", edges("G7"))
    assert(jobsOf(cat.load("g7"))._2 === 0, "load must not infer the schema")
    assert(jobsOf(cat.loadLatest("g7v"))._2 === 0, "loadLatest must not infer the schema")
    val (bfsRows, bfsJobs) = jobsOf(cat.bfs("g7", 0).collect())
    assert(bfsRows.sortBy(_.getLong(0)).map(_.getLong(2)).toSeq === Seq(0L, 1L, 4L, 2L, 5L, 6L, 3L))
    assert(bfsJobs === 1)
    val (dfsRows, dfsJobs) = jobsOf(cat.dfsLeaves("g7", 0).collect())
    assert(dfsRows.map(_.getLong(0)).toSeq === Seq(3L, 5L, 6L))
    assert(dfsJobs === 1)
    // the distributed rank: a window partitioned by level, never one
    // unpartitioned window over the whole reachable set
    val windows = Traversals.bfs(cat.load("g7"), 0, localMaxEdges = 0L)
      .queryExecution.sparkPlan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty), windows.mkString("\n"))
  }

  test("replay bound is exact on both paths; an unbounded replay runs; an absent graph fails to load") {
    // G7 from 0 reduces to 10 replay edges: its 12 minus the 2 into the start
    Seq(graft.operators.GraphAlgos.denseLocalMaxEdges, 0L).foreach { local =>
      assert(Traversals.dfsLeaves(edges("G7"), 0, maxReplayEdges = 10L, localMaxEdges = local)
        .collect().map(_.getLong(0)).toSeq === Seq(3L, 5L, 6L), s"localMaxEdges=$local")
      val e = intercept[IllegalArgumentException] {
        Traversals.dfsLeaves(edges("G7"), 0, maxReplayEdges = 9L, localMaxEdges = local)
      }
      assert(e.getMessage.contains("exceed dfsReplayMaxEdges=9"), s"localMaxEdges=$local")
      // Long.MaxValue + 1 overflows; the bounded collect clamps it
      assert(Traversals.dfsLeaves(edges("G7"), 0, maxReplayEdges = Long.MaxValue,
        localMaxEdges = local).collect().map(_.getLong(0)).toSeq === Seq(3L, 5L, 6L))
    }
    assert(Traversals.bfs(edges("G7"), 0, localMaxEdges = Long.MaxValue)
      .collect().map(_.getLong(2)).toSeq === Seq(0L, 1L, 4L, 2L, 5L, 6L, 3L))
    val cat = new GraphCatalog(spark,
      java.nio.file.Files.createTempDirectory("graft-absent").toString)
    val e = intercept[Exception] { cat.load("absent") }
    assert(e.getMessage.contains("absent"), e.getMessage)
  }

  test("Pregel BFS agrees with driver-loop BFS on G7") {
    val a = bfsLevelOf("G7", 0)
    val b = Traversals.bfsLevelsPregel(edges("G7"), 0).collect()
      .map(r => r.getAs[Long]("vertex") -> r.getAs[Int]("level")).toMap
    assert(a === b)
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

  test("loadPinned snapshot survives a concurrent overwrite; plain load is fail-stop") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-snap").toString
    val cat = new GraphCatalog(spark, tmp)
    cat.addGraph("g", Seq((0L, 1L), (1L, 2L), (2L, 3L)).toDF("src", "dst"))
    val pinned = cat.loadPinned("g")
    val unpinned = cat.load("g")
    assert(unpinned.count() === 3)   // resolves pre-overwrite files
    cat.modifyGraph("g", Seq((9L, 9L)).toDF("src", "dst"))
    assert(pinned.count() === 3, "pinned snapshot must survive the overwrite")
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
  }
}
