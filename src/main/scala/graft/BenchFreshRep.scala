package graft

import org.apache.spark.sql.SparkSession

/** Fresh-JVM single-query probe, spawned by [[Bench]] for heavy graph
  * entries whose isolated rerun still reads above the normalized
  * floor: a brand-new JVM with an empty old-gen and zero suite history
  * times the same query on the same data — if THIS number lands at the
  * floor, the suite/isolated inflation was JVM state (old-gen pressure
  * from 190+ prior queries, dirty code cache), not the operator; if it
  * stays high, the operator or the host is genuinely slow. The r13
  * ktruss investigation ran this probe by hand and it settled the
  * question in one rep — this main makes it part of the artifact.
  *
  * args: queryName sfDir warmDir. Prints ONE line:
  * `FRESHREP {"name":"...","reps":[a,b],"best":x,"heap_mib":n,"gc":"..."}`
  */
object BenchFreshRep {
  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: BenchFreshRep <query> <sfDir> <warmDir>")
    val Array(name, sfDir, warmDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.locality.wait", "0")
      .config("spark.cleaner.periodicGC.interval", "1min")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // JIT/codegen warmup on the smaller sibling (same rationale as
    // Bench's suite warmup), then two timed reps on the target scale
    try SparkEntry.queries(name)(spark, warmDir).count()
    catch { case _: Throwable => () }
    System.gc()
    // a throwing rep records -1, never its elapsed time: a query that
    // dies instantly (bad fixture path, OOM) would otherwise yield a
    // tiny bogus "best" that Bench's freshBest merge ratchets into the
    // minima file as a permanent floor (r14 ADVICE). Mirrors the
    // suite's own `filter(_ >= 0)` discipline.
    val reps = (1 to 2).map { _ =>
      val t0 = System.nanoTime()
      val ok =
        try { SparkEntry.queries(name)(spark, sfDir).count(); true }
        catch { case e: Throwable =>
          System.err.println(s"[freshrep] $name rep failed: ${e.getMessage}"); false }
      if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
    }
    val goodReps = reps.filter(_ >= 0)
    val best = if (goodReps.nonEmpty) goodReps.min else -1.0
    def fmt(v: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val heapMib = Runtime.getRuntime.maxMemory() / (1L << 20)
    val gc = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getName).mkString("+")
    }
    println(s"""FRESHREP {"name":"$name","reps":[${reps.map(fmt).mkString(",")}],""" +
      s""""best":${fmt(best)},"heap_mib":$heapMib,"gc":"$gc"}""")
    spark.stop()
  }
}
