package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import scala.collection.immutable.ListMap

/** Benchmark entry point: one process, one client thread, one
  * `local[cores]` session. `run.py` builds the harness and launches it;
  * see `perfbench/README.md`.
  *
  * {{{
  * Harness --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *         --work <scratch dir> --cores <n> --out <json> --spans <jsonl>
  * }}}
  * With `--trace 0` the run reports end-to-end metrics; with `--trace 1`
  * it traces every other request of each kind and reports per-layer
  * metrics and the tracing overhead. */
object Harness {
  val workloads = Seq("catalog_paper", "catalog_distributed")

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String) = args.getOrElse(k, sys.error(s"missing --$k"))
    val workload = arg("workload")
    require(workloads.contains(workload), s"unknown workload $workload")
    val seed = arg("seed").toLong
    val work = Files.createDirectories(Paths.get(arg("work")))
    val cores = arg("cores").toInt
    val spark = session(cores, work)
    val outcome =
      try {
        val w = new CatalogWorkload(spark, work, seed, distributed = workload == "catalog_distributed")
        run(spark, w, arg("seconds").toDouble, arg("trace") == "1", Paths.get(arg("spans")))
      } finally spark.stop()
    val info = ListMap(
      "workload" -> workload, "seed" -> seed.toString, "cores" -> cores.toString,
      "heap_max_mib" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "spark" -> org.apache.spark.SPARK_VERSION,
      "java" -> System.getProperty("java.version"),
      "scala" -> scala.util.Properties.versionNumberString)
    Files.write(Paths.get(arg("out")), Report.json(outcome, info).getBytes("UTF-8"))
  }

  /** `local[cores]` with `graft.Bench`'s scheduling settings: no
    * locality wait, a 1-minute cleaner GC, GraphX Pregel checkpoints
    * every 25 supersteps. Scratch files stay under `work`. */
  def session(cores: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.locality.wait", "0")
      .config("spark.cleaner.periodicGC.interval", "1min")
      .config("spark.graphx.pregel.checkpointInterval", "25")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Sets the workload up, then times its window: untraced for the
    * end-to-end metrics, traced for the per-layer ones (the spans are
    * then written to `spans`). */
  def run(spark: SparkSession, w: CatalogWorkload, seconds: Double, trace: Boolean, spans: Path): Outcome = {
    System.err.println(s"[perfbench] session up at ${Report.sinceProcessStart()} s")
    w.setUp()
    val setupS = Report.sinceProcessStart()
    System.err.println(s"[perfbench] set up in $setupS s")
    val metrics =
      if (!trace) {
        val (timed, wall) = w.window(seconds, None)
        ListMap("setup_s" -> Metric(setupS, "s")) ++ w.endToEnd(timed, wall) ++
          ListMap("heap_after_gc_mib" -> Metric(Report.heapAfterGcMib(), "MiB"))
      } else {
        val tr = new Tracer(spark.sparkContext, enabled = true)
        val (timed, _) = w.window(seconds, Some(tr))
        tr.write(spans)
        layerMetrics(tr, timed, w.layers) ++ w.perLayer(tr)
      }
    Outcome(w.attempted, w.failed, metrics)
  }

  /** Scheduler counters, outside-job time and the self time of each of
    * `layers` (a span's layer is its name up to the first dot), each as a
    * mean per traced request; and the tracing overhead: the traced
    * requests' mean latency over the untraced ones' (which run with no
    * harness listener registered), per request kind, weighted by the
    * traced mix. */
  def layerMetrics(tr: Tracer, timed: Seq[Sample], layers: Seq[String]): ListMap[String, Metric] = {
    val requests = tr.spans.filter(_.parent == -1).toSeq
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Report.mean(xs)
    def perRequest(f: Span => Double) = mean(requests.map(r => tr.subtree(r).map(f).sum))
    val (traced, untraced) = timed.partition(_.traced)
    val selfMs = layers.map { l =>
      s"$l.self_ms" -> Metric(
        mean(requests.map(r => tr.subtree(r).filter(_.name.takeWhile(_ != '.') == l).map(tr.selfMs).sum)),
        "ms")
    }
    def meanBy(xs: Seq[Sample]) = xs.groupBy(_.kind).map { case (k, v) => k -> Report.mean(v.map(_.ms)) }
    val (mu, mt) = (meanBy(untraced), meanBy(traced))
    val weighted = traced.groupBy(_.kind).toSeq.collect {
      case (k, v) if mu.contains(k) => (v.length * mt(k), v.length * mu(k))
    }
    val overhead = if (weighted.isEmpty) 0.0 else 100.0 * (weighted.map(_._1).sum / weighted.map(_._2).sum - 1)
    ListMap(
      "spark.jobs" -> Metric(perRequest(_.spark.jobs.toDouble), "count"),
      "spark.stages" -> Metric(perRequest(_.spark.stages.toDouble), "count"),
      "spark.tasks" -> Metric(perRequest(_.spark.tasks.toDouble), "count"),
      "spark.task_cpu_s" -> Metric(perRequest(_.spark.cpuNs / 1e9), "s"),
      "spark.task_run_s" -> Metric(perRequest(_.spark.runMs / 1e3), "s"),
      "spark.gc_s" -> Metric(mean(requests.map(_.gcMs / 1e3)), "s"),
      "spark.shuffle_read_mib" -> Metric(perRequest(_.spark.shuffleRead / 1048576.0), "MiB"),
      "spark.shuffle_write_mib" -> Metric(perRequest(_.spark.shuffleWrite / 1048576.0), "MiB"),
      "spark.spill_mib" -> Metric(perRequest(_.spark.spill / 1048576.0), "MiB"),
      "driver.outside_jobs_ms" -> Metric(mean(requests.map(tr.outsideJobsMs)), "ms")) ++
      selfMs ++ ListMap("trace.overhead_pct" -> Metric(overhead, "%"))
  }
}
