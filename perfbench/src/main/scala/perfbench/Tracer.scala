package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** Spark work attributed to one span: the jobs whose job group was the
  * span's id, and their stages and tasks. */
final class SparkCounters {
  var jobs, stages, tasks = 0L
  var cpuNs, runMs, shuffleRead, shuffleWrite, spill = 0L
  /** `[start, end]` epoch-ms interval of each job. */
  val jobIntervals: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty
}

/** One timed call at a layer boundary. `parent` is -1 for a request. */
final class Span(val id: Int, val parent: Int, val request: Long, val name: String,
                 val startMs: Long, val startNs: Long) {
  var endNs: Long = startNs
  var endMs: Long = startMs
  /** JVM garbage-collection time while the span was open, in ms. */
  var gcMs: Long = 0L
  val spark = new SparkCounters
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans written from the harness around each call into the engine,
  * kept in memory until the run ends. While a span is open it is the
  * thread's Spark job group, so the listener below charges every job,
  * stage and task to the innermost open span. A disabled tracer runs
  * the body and records nothing (the untraced, end-to-end runs). */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private val open = mutable.Stack[Span]()
  private var request = -1L

  private val byGroup = new java.util.concurrent.ConcurrentHashMap[String, Span]()
  private val jobSpan = new java.util.concurrent.ConcurrentHashMap[Int, Span]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Span]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      Option(group).flatMap(g => Option(byGroup.get(g))).foreach { s =>
        jobSpan.put(e.jobId, s)
        jobStart.put(e.jobId, e.time)
        e.stageIds.foreach(stageSpan.put(_, s))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpan.remove(e.jobId)).foreach { s =>
        s.spark.synchronized {
          s.spark.jobs += 1
          s.spark.jobIntervals += ((jobStart.remove(e.jobId), e.time))
        }
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach(s => s.spark.synchronized(s.spark.stages += 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { s =>
        val m = e.taskMetrics
        s.spark.synchronized {
          s.spark.tasks += 1
          if (m != null) {
            s.spark.cpuNs += m.executorCpuTime
            s.spark.runMs += m.executorRunTime
            s.spark.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            s.spark.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            s.spark.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
  }
  private var listening = false

  /** Open a request: the root span of one client operation. The
    * listener is registered from here until [[finish]], so untraced
    * requests run without it and the tracing overhead is measured
    * against requests that pay none of its cost. */
  def request[T](id: Long, name: String)(body: => T): T = {
    request = id
    if (enabled && !listening) {
      sc.addSparkListener(listener)
      listening = true
    }
    try span(name)(body) finally request = -1L
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(spans.length, open.headOption.map(_.id).getOrElse(-1), request, name,
        System.currentTimeMillis(), System.nanoTime())
      spans += s
      val gc0 = Tracer.gcMs()
      byGroup.put(s"perfbench-${s.id}", s)
      open.push(s)
      sc.setJobGroup(s"perfbench-${s.id}", name, interruptOnCancel = false)
      try body
      finally {
        s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
        s.gcMs = Tracer.gcMs() - gc0
        open.pop()
        open.headOption match {
          case Some(p) => sc.setJobGroup(s"perfbench-${p.id}", p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Deliver every queued listener event, then stop listening. Called
    * after each traced request, once its latency has been read. */
  def finish(): Unit = if (listening) {
    org.apache.spark.ListenerBusDrain(sc)
    sc.removeSparkListener(listener)
    listening = false
  }

  /** One JSON object per span, in start order. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      val c = s.spark
      s"""{"id": ${s.id}, "parent": ${s.parent}, "request": ${s.request}, "name": ${Report.str(s.name)}, """ +
        s""""start_ms": ${s.startMs}, "dur_ms": ${s.ms}, "self_ms": ${selfMs(s)}, "jobs": ${c.jobs}, """ +
        s""""stages": ${c.stages}, "tasks": ${c.tasks}, "task_cpu_ms": ${c.cpuNs / 1e6}}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq
  def selfMs(s: Span): Double = s.ms - children(s).map(_.ms).sum

  /** All Spark work charged to `s` or any span below it. */
  def subtree(s: Span): Seq[Span] = s +: children(s).flatMap(subtree)

  /** Request wall time not covered by any of its jobs: planning,
    * codegen, result collection and driver-local compute. */
  def outsideJobsMs(req: Span): Double = {
    val iv = subtree(req).flatMap(_.spark.jobIntervals)
      .map { case (a, b) => (a max req.startMs, b min req.endMs) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > end) { covered += b - a; end = b }
      else if (b > end) { covered += b - end; end = b }
    }
    math.max(0.0, req.ms - covered)
  }
}

object Tracer {
  /** Records nothing; used for setup, warm-up and untraced windows. */
  val off = new Tracer(null, enabled = false)

  /** Total collection time of the JVM's collectors so far. In local mode
    * the driver and the executors share this JVM, so it includes pauses
    * outside tasks (planning, collect), which a task's `jvmGCTime`
    * misses. */
  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  }
}
