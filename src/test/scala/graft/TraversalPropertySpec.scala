package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.operators.{GraphAlgos, Traversals}

/** ScalaCheck-generated property tests from SURVEY.md §5.2, over random
  * digraphs (n ≤ 20, deterministic seeds to keep Spark-job count sane):
  * BFS level == hop distance, BFS visits exactly the reachable set,
  * DFS leaves ⊆ reachable set. */
class TraversalPropertySpec extends SparkSpec {
  import spark.implicits._

  val genGraph: Gen[(Int, Set[(Int, Int)])] = for {
    n <- Gen.choose(2, 20)
    density <- Gen.choose(1, 4)
    edges <- Gen.listOfN(n * density,
      Gen.zip(Gen.choose(0, n - 1), Gen.choose(0, n - 1)))
  } yield (n, edges.toSet)

  def sample(i: Int): (Int, Set[(Int, Int)]) =
    genGraph.pureApply(Gen.Parameters.default, Seed(42L + i))

  def refBfsLevels(edges: Set[(Int, Int)], start: Int): Map[Int, Int] = {
    val adj = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._2) }
    var levels = Map(start -> 0)
    var frontier = Set(start)
    var l = 0
    while (frontier.nonEmpty) {
      l += 1
      frontier = frontier.flatMap(v => adj.getOrElse(v, Set.empty))
        .filterNot(levels.contains)
      levels ++= frontier.map(_ -> l)
    }
    levels
  }

  test("BFS levels equal hop distance and cover exactly the reachable set") {
    (0 until 8).foreach { i =>
      val (_, edges) = sample(i)
      val e = edges.toSeq.map { case (a, b) => (a.toLong, b.toLong) }.toDF("src", "dst")
      val got = Traversals.bfsLevels(e, 0).collect()
        .map(r => r.getAs[Long]("vertex").toInt -> r.getAs[Int]("level")).toMap
      assert(got === refBfsLevels(edges, 0), s"graph #$i: $edges")
    }
  }

  test("DFS leaves are a non-empty subset of the reachable set") {
    (0 until 8).foreach { i =>
      val (_, edges) = sample(i)
      val e = edges.toSeq.map { case (a, b) => (a.toLong, b.toLong) }.toDF("src", "dst")
      val reach = refBfsLevels(edges, 0).keySet
      val leaves = Traversals.dfsLeaves(e, 0).collect().map(_.getLong(0).toInt).toSet
      assert(leaves.nonEmpty && leaves.subsetOf(reach), s"graph #$i: $edges")
    }
  }

  test("connectedComponents agrees with a reference union-find on random graphs") {
    // the random graphs, then the same with duplicate edges and two
    // vertices that only have self-loops
    val graphs = (0 until 6).map(i => sample(200 + i)).flatMap { case (n, edges) =>
      val es = edges.toSeq
      Seq(n -> es, (n + 2) -> (es ++ es.take(3) ++ Seq((n, n), (n + 1, n + 1), (n, n))))
    }
    graphs.zipWithIndex.foreach { case ((n, edges), i) =>
      val e = edges.map { case (a, b) => (a.toLong, b.toLong) }.toDF("src", "dst")
      // reference union-find (undirected)
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { if (parent(x) != x) parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val touched = edges.flatMap { case (a, b) => Seq(a, b) }.toSet
      val expected = touched.map(v => v.toLong -> find(v).toLong).toMap
      // driver-held, the pointer-jumping loop, and a bound one vertex
      // short of the graph, which the held scan sees and restarts on
      // the loop
      val runs = Seq("default" -> Traversals.connectedComponents(e),
        "maxHeld = 0" -> Traversals.connectedComponents(e, 10000, 2, 0L),
        "maxHeld = V - 1" -> Traversals.connectedComponents(e, 10000, 2, touched.size - 1L))
      runs.foreach { case (path, df) =>
        val got = df.collect()
          .map(r => r.getAs[Long]("vertex") -> r.getAs[Long]("component")).toMap
        // components must partition identically; representative = min
        // id, and union-find with min-root merging yields exactly that
        assert(got === expected, s"$path, graph #$i: $edges")
      }
    }
  }

  test("multi-source BFS equals the min over per-source BFS levels") {
    (0 until 4).foreach { i =>
      val (n, edges) = sample(400 + i)
      val e = edges.toSeq.map { case (a, b) => (a.toLong, b.toLong) }.toDF("src", "dst")
      val starts = Seq(0L, (n / 2).toLong)
      def levels(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getAs[Long]("vertex") -> r.getAs[Int]("level")).toMap
      val multi = levels(Traversals.bfsLevelsMulti(e, starts))
      val forced = levels(Traversals.bfsLevelsMulti(e, starts, 10000, 0L,
        Traversals.broadcastFrontierMax))
      val expected = starts.map(s => refBfsLevels(edges, s.toInt)
          .map { case (v, l) => v.toLong -> l })
        .reduce { (a, b) =>
          (a.keySet ++ b.keySet).map(v =>
            v -> math.min(a.getOrElse(v, Int.MaxValue), b.getOrElse(v, Int.MaxValue))).toMap
        }
      assert(multi === expected, s"graph #$i: $edges")
      assert(forced === expected, s"forced-distributed, graph #$i: $edges")
    }
  }

  test("multiSourceDistances: every root's slice equals its own BFS levels") {
    (0 until 4).foreach { i =>
      val (n, edges) = sample(500 + i)
      val e = edges.toSeq.map { case (a, b) => (a.toLong, b.toLong) }.toDF("src", "dst")
      // every vertex id below n is a root, isolated ones included
      val got = Traversals.multiSourceDistances(e, (0L until n.toLong).toDF("root")).collect()
        .map(r => (r.getAs[Long]("root").toInt, r.getAs[Long]("vertex").toInt, r.getAs[Int]("level")))
      val expected = (0 until n).flatMap(root =>
        refBfsLevels(edges, root).map { case (v, l) => (root, v, l) })
      assert(got.sorted.toSeq === expected.sorted, s"graph #$i: $edges")
    }
  }

  test("bfsBidirectional equals the BFS hop distance on sampled pairs, disconnected ones included") {
    var disconnected = 0
    (0 until 4).foreach { i =>
      val (n, edges) = sample(600 + i)
      val e = edges.toSeq.map { case (a, b) => (a.toLong, b.toLong) }.toDF("src", "dst")
      val pairs = for (s <- Seq(0, n / 2); t <- Seq(n - 1, n / 3, s)) yield (s, t)
      pairs.distinct.foreach { case (s, t) =>
        val want = refBfsLevels(edges, s).get(t).map(_.toLong)
        if (want.isEmpty) disconnected += 1
        assert(Traversals.bfsBidirectional(e, s.toLong, t.toLong) === want,
          s"pair ($s, $t), graph #$i: $edges")
      }
    }
    assert(disconnected > 0, "no sampled pair was disconnected")
  }

  /** A seeded random digraph on `0 until n` with self-loops and
    * duplicate edges, a path 0 → 1 → 2 so the set reached from 0 spans
    * at least three levels, and a 3-cycle on `n, n + 1, n + 2` that 0
    * never reaches but that points into the rest. */
  def messyGraph(i: Int): (Int, Seq[(Long, Long)]) = {
    val rnd = new scala.util.Random(900L + i)
    val n = 6 + rnd.nextInt(15)
    val base = Seq.fill(n * (1 + rnd.nextInt(3)))((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
    val m = n.toLong
    val apart = Seq((m, m + 1), (m + 1, m + 2), (m + 2, m), (m, 0L), (m + 1, 1L))
    (n, base ++ base.take(4) ++ Seq((0L, 1L), (1L, 2L), (0L, 0L), (2L, 2L), (1L, 2L)) ++ apart)
  }

  /** The paths of a dual-path traversal as `(localMaxEdges, maxHeld)`:
    * local, driver-held, DataFrame-state, and driver-held with a bound
    * the reached set crosses mid-run, so it restarts on DataFrame
    * state. dfsLeaves has only the first two. */
  def paths(restartAt: Long): Seq[(String, Long, Long)] = Seq(
    ("local", Traversals.bfsLocalMaxEdges, Traversals.broadcastFrontierMax),
    ("driver-held", 0L, Traversals.broadcastFrontierMax),
    ("DataFrame-state", 0L, 0L),
    (s"restart past $restartAt", 0L, restartAt))

  test("bfs, bfsLevelsMulti and dfsLeaves: local, driver-held, DataFrame-state and " +
    "restarted paths return identical rows and schema") {
    (0 until 4).foreach { i =>
      val (n, es) = messyGraph(i)
      val e = es.toDF("src", "dst")
      val ref = refBfsLevels(es.map { case (a, b) => (a.toInt, b.toInt) }.toSet, 0)
      // one vertex short of the reached set: the bound is crossed by the
      // last level, after at least one driver-held superstep
      val restartAt = (ref.size - 1).toLong
      assert(restartAt >= 2, s"graph #$i: $es")
      val starts = Seq(0L, (n / 2).toLong, 0L)
      val runs = paths(restartAt).map { case (name, local, held) =>
        val bfs = Traversals.bfs(e, 0L, local, held)
        val leveled = Traversals.bfsLevelsMulti(e, starts, 10000, local, held)
        val cut = Traversals.bfsLevelsMulti(e, starts, 1, local, held)
        val leaves = if (held != Traversals.broadcastFrontierMax) None
          else Some(Traversals.dfsLeaves(e, 0L, Traversals.dfsReplayMaxEdges,
            if (local > 0) GraphAlgos.denseLocalMaxEdges else 0L))
        name -> (Seq(
          bfs.schema -> bfs.collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq,
          leveled.schema -> leveled.collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq,
          cut.schema -> cut.collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq) ++
          leaves.map(l => l.schema -> l.collect().map(_.toSeq).toSeq))
      }
      val (_, local) = runs.head
      val bfsLevels = local.head._2.map(r => r(2).asInstanceOf[Long].toInt -> r(1).asInstanceOf[Int])
      assert(bfsLevels.toMap === ref, s"graph #$i: $es")
      assert(local.head._2.map(_.head) === (0 until ref.size).map(_.toLong), s"graph #$i: $es")
      runs.tail.foreach { case (name, got) =>
        Seq("bfs", "bfsLevelsMulti", "bfsLevelsMulti, maxLevels = 1", "dfsLeaves")
          .zip(got.zip(local)).foreach { case (op, (g, l)) =>
            assert(g._1 === l._1, s"$op schema, $name path, graph #$i: $es")
            assert(g._2 === l._2, s"$op rows, $name path, graph #$i: $es")
          }
      }
    }
  }

  test("bfs, bfsLevelsMulti and dfsLeaves collect a local relation with no job, " +
    "and agree with the same rows in Parquet") {
    (0 until 4).foreach { i =>
      val (n, es) = messyGraph(i)
      val dir = java.nio.file.Files.createTempDirectory("graft-held").toString
      // one file, so the bounded collect over it is one job
      es.toDF("src", "dst").coalesce(1).write.mode("overwrite").parquet(dir)
      val starts = Seq(0L, (n / 2).toLong)
      // each operator's schema and rows, and the jobs it ran with its
      // collect
      def ops(e: org.apache.spark.sql.DataFrame) = Seq(
        () => Traversals.bfs(e, 0L),
        () => Traversals.bfsLevelsMulti(e, starts),
        () => Traversals.dfsLeaves(e, 0L)).map { op =>
        jobsOf { val df = op(); df.schema -> df.collect().map(_.toSeq).sortBy(_.toString).toSeq }
      }
      val parquet = ops(spark.read.parquet(dir))
      val held = ops(es.toDF("src", "dst"))
      val ints = ops(es.map { case (a, b) => (a.toInt, b.toInt) }.toDF("src", "dst"))
      Seq("bfs", "bfsLevelsMulti", "dfsLeaves").zipWithIndex.foreach { case (op, k) =>
        val what = s"$op, graph #$i: $es"
        assert(held(k)._1 === parquet(k)._1, what)
        assert(ints(k)._1 === parquet(k)._1, s"Int columns, $what")
        // the bounded collect's limit (and, over Int columns, the
        // cast) folds into the local relation: no job for it
        assert(held(k)._2 === parquet(k)._2 - 1, what)
        assert(ints(k)._2 === held(k)._2, s"Int columns, $what")
      }
      // bfs and dfsLeaves answer on the driver: no job at all
      assert(held(0)._2 === 0 && held(2)._2 === 0, s"graph #$i: $es")
    }
  }

  test("dfsLeaves replays at exactly its reduced edge count and refuses one below, on both paths") {
    // a path 0 → 1 → … → 9 reaches R + 1 vertices over R = 9 reduced
    // edges, so a held bound of R (one short of reached) fails the
    // replay at R; then the messy graphs, with self-loops, duplicates and
    // edges into the start, against a plain-Scala reduction
    val path = (0L until 9L).map(i => (i, i + 1))
    (path +: (0 until 4).map(messyGraph(_)._2)).zipWithIndex.foreach { case (es, i) =>
      val reach = refBfsLevels(es.map { case (a, b) => (a.toInt, b.toInt) }.toSet, 0).keySet
      val reduced = es.distinct.count { case (s, d) => reach(s.toInt) && s != d && d != 0L }.toLong
      val e = es.toDF("src", "dst")
      val expected = Traversals.dfsLeaves(e, 0L).collect().toSeq
      assert(i > 0 || (reduced === 9L && expected.map(_.getLong(0)) === Seq(9L)))
      Seq("local" -> GraphAlgos.denseLocalMaxEdges, "driver-held" -> 0L).foreach { case (name, local) =>
        val what = s"$name path, graph #$i: $es"
        assert(Traversals.dfsLeaves(e, 0L, reduced, local).collect().toSeq === expected, what)
        val err = intercept[IllegalArgumentException](Traversals.dfsLeaves(e, 0L, reduced - 1, local))
        assert(err.getMessage.contains(s"exceed dfsReplayMaxEdges=${reduced - 1}"), what)
      }
    }
  }

  test("a null vertex id fails on the driver-held path as on the local path") {
    val e = Seq((0L, Some(1L)), (1L, Some(2L)), (2L, None)).toDF("src", "dst")
    def failure(run: => Any): String = {
      val err = intercept[Exception](run)
      Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).mkString(" / ")
    }
    Seq("local" -> Traversals.bfsLocalMaxEdges, "driver-held" -> 0L).foreach { case (path, local) =>
      val msgs = Seq(
        failure(Traversals.bfs(e, 0L, localMaxEdges = local).collect()),
        failure(Traversals.bfsLevelsMulti(e, Seq(0L), 10000, local,
          Traversals.broadcastFrontierMax).collect()),
        failure(Traversals.dfsLeaves(e, 0L, localMaxEdges = local).collect()))
      msgs.foreach(m => assert(m.toLowerCase.contains("null"), s"$path path: $m"))
    }
    // components have no local path: driver-held is their first
    Seq(failure(Traversals.connectedComponents(e).collect()),
        failure(Traversals.contractedComponents(e).collect()))
      .foreach(m => assert(m.toLowerCase.contains("null"), s"components: $m"))
  }

  test("sssp agrees with a reference Dijkstra on random weighted digraphs") {
    (0 until 6).foreach { i =>
      val (n, edges0) = sample(300 + i)
      val weighted = edges0.toSeq.map { case (a, b) => (a, b, (a + b) % 7 + 1) }
      val e = weighted.map { case (a, b, w) => (a.toLong, b.toLong, w.toLong) }
        .toDF("src", "dst", "w")
      // reference Dijkstra
      val adj = weighted.groupBy(_._1).map { case (s, es) => s -> es.map(t => (t._2, t._3)) }
      val dist = scala.collection.mutable.Map(0 -> 0L)
      val pq = scala.collection.mutable.PriorityQueue((0L, 0))(Ordering.by(-_._1))
      while (pq.nonEmpty) {
        val (d, v) = pq.dequeue()
        if (d == dist(v)) adj.getOrElse(v, Nil).foreach { case (u, w) =>
          if (d + w < dist.getOrElse(u, Long.MaxValue)) { dist(u) = d + w; pq.enqueue((d + w, u)) }
        }
      }
      val got = Traversals.sssp(e, 0L).collect()
        .map(r => r.getAs[Long]("vertex").toInt -> r.getAs[Long]("dist")).toMap
      assert(got === dist.toMap, s"graph #$i: $weighted")
    }
  }

  test("kcore: every vertex of the k-core has >= k neighbors inside the core") {
    (0 until 3).foreach { i =>
      val (_, edges) = sample(200 + i)
      val e = edges.toSeq.map { case (a, b) => (a.toLong, b.toLong) }.toDF("src", "dst")
      val k = 2 + (i % 2)
      val core = Traversals.kcore(e, k).collect().map(_.getLong(0)).toSet
      // undirected adjacency restricted to the core
      val und = edges.flatMap { case (a, b) => Seq((a.toLong, b.toLong), (b.toLong, a.toLong)) }
        .filter { case (a, b) => a != b && core(a) && core(b) }
      val degIn = und.groupBy(_._1).map { case (v, es) => v -> es.map(_._2).size }
      core.foreach { v =>
        assert(degIn.getOrElse(v, 0) >= k, s"graph #$i k=$k vertex $v: $edges")
      }
    }
  }

  test("pageRankDeterministic conserves total mass (no dangling vertices)") {
    (0 until 2).foreach { i =>
      val (_, edges) = sample(300 + i)
      // mirror so every vertex has out-edges -> total rank stays |V|
      val und = edges.flatMap { case (a, b) => Seq((a.toLong, b.toLong), (b.toLong, a.toLong)) }
        .filter { case (a, b) => a != b }.toSeq.distinct
      if (und.nonEmpty) {
        val e = und.toDF("src", "dst")
        val pr = Traversals.pageRankDeterministic(e, iters = 8).collect()
          .map(r => r.getAs[Long]("vertex") -> r.getAs[Double]("rank")).toMap
        val n = und.flatMap(t => Seq(t._1, t._2)).distinct.size
        assert(math.abs(pr.values.sum - n) < 1e-6 * n,
          s"graph #$i: mass ${pr.values.sum} != $n")
        assert(pr.values.forall(_ >= 0.15 - 1e-12))
      }
    }
  }
}
