package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, only) = args match {
      case Array(s, o)      => (s, o, None)
      case Array(s, o, rex) => (s, o, Some(rex.r)) // local iteration: name filter
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // same block hygiene as Bench: ~160 queries each leave dead
      // checkpoint blocks the ContextCleaner only reaps on GC
      .config("spark.cleaner.periodicGC.interval", "1min")
      // and the same scheduling hygiene: local[] has no locality to
      // wait for, and the 3 s default stalls iterative operators'
      // per-superstep barriers (pure wall-clock, zero semantics)
      .config("spark.locality.wait", "0")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    var sinceGc = 0
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.findFirstIn(name).isDefined) }
      .foreach { case (name, fn) =>
      // ONE retry on failure: a ~160-query session occasionally hits a
      // transient (GC pause mid-write, block-fetch hiccup) — observed
      // once in r12: a result dir created empty with every sibling
      // green, unreproducible in isolation. A transient must not zero
      // a gate row; a REAL failure still fails identically twice and
      // is reported with both messages.
      def attempt(): Unit = fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      try attempt()
      catch { case e1: Throwable =>
        System.err.println(s"[verify] $name failed (will retry): ${e1.getMessage}")
        System.gc() // reap whatever crowded the first attempt
        try attempt()
        catch { case e2: Throwable =>
          System.err.println(s"[verify] $name failed twice: ${e2.getMessage}")
        }
      }
      sinceGc += 1
      if (sinceGc >= 20) { System.gc(); sinceGc = 0 } // reap dead blocks
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
