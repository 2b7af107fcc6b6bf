package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import graft.operators.{GraphCatalog, Traversals}
import graft.sources.MatrixIO
import org.apache.spark.sql.SparkSession

import scala.collection.immutable.ListMap
import scala.collection.mutable

import perfbench.Inputs._

/** The paper's four graph-database operations (`client.c:43-48`) as a
  * closed loop of one client over a [[GraphCatalog]]:
  *  - `catalog_paper`: 20 reference-format graphs with n ≤ 100, so every
  *    traversal takes the driver-local path;
  *  - `catalog_distributed`: layered graphs above both local-path edge
  *    bounds, so BFS runs the distributed level loop and DFS the
  *    distributed reachability plus replay.
  * Every BFS and DFS response is checked against [[Reference]] over the
  * harness's own copy of the graph. */
final class CatalogWorkload(spark: SparkSession, work: Path, seed: Long, distributed: Boolean) {
  private val gen = new Inputs.Catalog(seed, distributed)
  private val names = gen.names
  private val root = work.resolve("catalog")
  private val catalog = new GraphCatalog(spark, root.toString)
  private val inputs = Files.createDirectories(work.resolve("inputs"))

  private val current = mutable.Map[String, Graph]()
  private val starts = mutable.Map[String, IndexedSeq[Long]]()
  private var inputFiles = 0
  private var attempts, failures = 0L
  /** Bytes per edge of each write made while tracing. */
  private val bytesPerEdge = mutable.ArrayBuffer[Double]()
  /** Each traced BFS span with the level count of its result. */
  private val bfsLevels = mutable.ArrayBuffer[(Span, Int)]()

  /** A write's input file: reference-format matrix text for
    * `catalog_paper`, a `src,dst` CSV edge list for `catalog_distributed`
    * (a 14k-vertex matrix would be 200 MB of text). Written before the
    * request clock starts; it is the client's input, not the engine's
    * work. */
  private def stage(g: Graph): Path = {
    inputFiles += 1
    val p = inputs.resolve(if (distributed) s"e$inputFiles.csv" else s"m$inputFiles.txt")
    Files.write(p, (if (distributed) edgeListText(g) else matrixText(g)).getBytes(UTF_8))
    p
  }

  /** Reads the input file into an edge DataFrame (`MatrixIO.readMatrix`
    * for a matrix), then adds or replaces the graph. */
  private def write(tr: Tracer, name: String, replace: Boolean, input: Path): Unit = {
    val df = tr.span("input.read") {
      if (distributed) spark.read.schema("src LONG, dst LONG").csv(input.toString)
      else MatrixIO.readMatrix(spark, input.toString)
    }
    tr.span("catalog.write") {
      if (replace) catalog.addGraph(name, df) else catalog.modifyGraph(name, df)
    }
  }

  private def checkBfs(name: String, start: Long, rows: Array[org.apache.spark.sql.Row]): Boolean = {
    val got = rows.map(r => (r.getAs[Long]("order"), r.getAs[Int]("level"), r.getAs[Long]("vertex")))
      .sortBy(_._1)
    got.map(_._1).toSeq == got.indices.map(_.toLong) &&
      got.map(r => (r._2, r._3)).toVector == Reference.bfs(current(name).edges, start)
  }

  /** Runs one request through the public API and checks its response. */
  private def run(tr: Tracer, op: Op): Sample = {
    attempts += 1
    val staged = op match { case w: Write => Some(stage(w.next)); case _ => None }
    val t0 = System.nanoTime()
    val ok = try tr.request(attempts, "request") {
      op match {
        case Write(name, replace, g, st) =>
          write(tr, name, replace, staged.get)
          current(name) = g
          starts(name) = st
          true
        case Bfs(name, start) =>
          val edges = tr.span("catalog.load")(catalog.load(name))
          val rows = tr.span("traversals.bfs")(Traversals.bfs(edges, start).collect())
          // the last span recorded is the traversals.bfs span just closed
          if (tr.enabled) bfsLevels += ((tr.spans.last, rows.map(_.getAs[Int]("level")).max + 1))
          checkBfs(name, start, rows)
        case Dfs(name, start) =>
          val edges = tr.span("catalog.load")(catalog.load(name))
          val rows = tr.span("traversals.dfs")(Traversals.dfsLeaves(edges, start).collect())
          rows.map(_.getLong(0)).sorted.toVector == Reference.dfsLeaves(current(name).edges, start)
      }
    } catch {
      case e: Exception =>
        System.err.println(s"[perfbench] request $attempts $op threw $e")
        false
    }
    val ms = (System.nanoTime() - t0) / 1e6
    tr.finish()
    System.err.println(f"[perfbench] request $attempts ${kindOf(op)} $ms%.1f ms")
    if (!ok) {
      failures += 1
      System.err.println(s"[perfbench] request $attempts $op failed")
    }
    if (tr.enabled) op match {
      case w: Write =>
        val bytes = Files.walk(root.resolve(w.graph)).filter(Files.isRegularFile(_))
          .mapToLong(Files.size(_)).sum()
        bytesPerEdge += bytes.toDouble / w.next.edgeCount
      case _ =>
    }
    Sample(kindOf(op), ms, ok)
  }

  private def kindOf(op: Op): String = op match {
    case _: Write => "write"
    case _: Bfs => "bfs"
    case _: Dfs => "dfs"
  }

  /** Adds every generated graph to the catalog (op 1), then warms up. */
  def setUp(): Unit = {
    gen.initial.foreach { case (name, g, st) =>
      write(Tracer.off, name, replace = true, stage(g))
      current(name) = g
      starts(name) = st
    }
    System.err.println(s"[perfbench] catalog loaded at ${Report.sinceProcessStart()} s")
    warmUp()
  }

  /** Untimed requests before the window opens, to fill JIT and codegen
    * caches: one cycle of the mix on `catalog_paper`; on
    * `catalog_distributed` the first five of the cycle (two BFS, two DFS
    * and a write; the first BFS costs four times a warm one). Each
    * distributed request is 2–9 s of cold work on a 4-core host, so the
    * run's time goes to the window instead: its medians are robust to
    * the few still-warming requests at its start. A fixed count, not a
    * fixed time, so that a slower engine shows in `setup_s`. Warm-up
    * requests come from their own seeded stream; their writes change
    * the catalog like any other. */
  private def warmUp(): Unit =
    (1 to (if (distributed) 5 else cycle.length)).foreach(_ => run(Tracer.off, gen.warmUp(starts)))

  /** The closed loop: the next request is sent when the previous one
    * has returned, until `seconds` of wall time have passed. With a
    * tracer, the even-numbered requests of each kind are traced and the
    * odd ones are not, so both halves see the same mix and warmth.
    * Returns the timed requests and the wall time they took. */
  def window(seconds: Double, tracer: Option[Tracer]): (Seq[Sample], Double) = {
    val out = mutable.ArrayBuffer[Sample]()
    val seen = mutable.Map[String, Int]().withDefaultValue(0)
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < seconds * 1e9) {
      val op = gen.next(starts)
      val kind = kindOf(op)
      val tr = tracer.filter(_ => seen(kind) % 2 == 0).getOrElse(Tracer.off)
      seen(kind) += 1
      out += run(tr, op).copy(traced = tr.enabled)
    }
    (out.toSeq, (System.nanoTime() - t0) / 1e9)
  }

  def attempted: Long = attempts
  def failed: Long = failures

  def endToEnd(samples: Seq[Sample], wallS: Double): ListMap[String, Metric] = {
    def p50(kind: String) = Report.median(samples.filter(_.kind == kind).map(_.ms))
    ListMap(
      "ops_per_s" -> Metric(samples.length / wallS, "1/s"),
      "write_p50_ms" -> Metric(p50("write"), "ms"),
      "bfs_p50_ms" -> Metric(p50("bfs"), "ms"),
      "dfs_p50_ms" -> Metric(p50("dfs"), "ms"),
      // p75: a 28 s catalog_paper window times 55-100 requests on 4
      // cores, too few for ten samples beyond p90
      "op_p75_ms" -> Metric(Report.quantile(samples.map(_.ms), 0.75), "ms"))
  }

  /** Span-name prefixes whose self time the traced run reports. */
  val layers: Seq[String] = Seq("request", "input", "catalog", "traversals")

  /** Layer metrics from the traced window's spans; a call that no
    * traced request made reports 0. */
  def perLayer(tr: Tracer): ListMap[String, Metric] = {
    def p50(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Report.median(xs)
    def durations(name: String) = p50(tr.spans.filter(_.name == name).map(_.ms).toSeq)
    val levels = bfsLevels.toSeq
    ListMap(
      "input.read_ms" -> Metric(durations("input.read"), "ms"),
      "catalog.write_ms" -> Metric(durations("catalog.write"), "ms"),
      "catalog.bytes_per_edge" -> Metric(p50(bytesPerEdge.toSeq), "B/edge"),
      "catalog.load_ms" -> Metric(durations("catalog.load"), "ms"),
      "traversals.bfs_ms" -> Metric(durations("traversals.bfs"), "ms"),
      "traversals.dfs_ms" -> Metric(durations("traversals.dfs"), "ms"),
      "traversals.bfs_levels" -> Metric(p50(levels.map(_._2.toDouble)), "count"),
      "traversals.ms_per_level" -> Metric(p50(levels.map { case (s, l) => s.ms / l }), "ms"),
      "traversals.jobs_per_level" -> Metric(p50(levels.map { case (s, l) => s.spark.jobs.toDouble / l }), "count"))
  }
}
