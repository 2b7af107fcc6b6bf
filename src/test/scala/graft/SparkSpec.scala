package graft

import org.apache.logging.log4j.core.Filter
import org.apache.logging.log4j.core.filter.RegexFilter
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // every dropCheckpoint unpersists a localCheckpoint on purpose, and
    // RDD.unpersist warns each time that its lineage is truncated
    // (hundreds of lines a run); deny exactly that message so the
    // warnings that matter stay visible
    val logs = org.apache.logging.log4j.LogManager.getContext(false)
      .asInstanceOf[org.apache.logging.log4j.core.LoggerContext]
    val lineageWarning = RegexFilter.createFilter(
      ".*was locally checkpointed, its lineage has been truncated.*", null, false,
      Filter.Result.DENY, Filter.Result.NEUTRAL)
    lineageWarning.start()
    logs.getConfiguration.addFilter(lineageWarning)
    logs.updateLoggers()
    s
  }
  val sfDir = "/root/testdata/sf0.001"
  def resource(name: String): String =
    getClass.getClassLoader.getResource(name).getPath
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

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
}
