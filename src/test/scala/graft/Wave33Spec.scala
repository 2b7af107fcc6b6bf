package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.functions._

import graft.queries.{PipelineQueries, RelationalQueries, Tables}
import graft.streaming.EventStreams

/** r19-verdict (round 20) pins:
  *   1. the IVM maintenance stream's seen-A is COMPACTED (verdict
  *      item 2, closing the r18 ADVICE O(batches²) scale note): each
  *      micro-batch reads ONE snapshot slot, not the slot-by-slot
  *      ingest log. Proven behaviorally, not by counter: after the
  *      clean run every log slot BELOW the last is deleted and the
  *      last batch is force-replayed — a seen-A that still unioned
  *      the log tail would recompute a delta missing every prior
  *      arrival (the dA_{<i} ⋈ dB_i rows) and the maintained view
  *      would diverge from the direct recompute; the compacted path
  *      recomputes the identical delta from snapshot i−1 alone.
  *   2. the snapshot slots themselves telescope: slot i holds exactly
  *      the arrivals of log slots 0..i (set equality on keys), so the
  *      compaction is a fold, not a re-derivation that could drift.
  */
class Wave33Spec extends SparkSpec {

  private val dir = TestSpark.sfDir

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("q_stream_ivm_join seen-A compaction: replay survives deletion of every prior log slot") {
    val streamDir = java.nio.file.Files.createTempDirectory("graft-w33-ivm-in")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-w33-ivm-ckpt")
    val outDir = java.nio.file.Files.createTempDirectory("graft-w33-ivm-out")
    try {
      val arriving = Tables.t(spark, dir, "orders").where(RelationalQueries.ivmDA)
      PipelineQueries.stageDocsChunk(
        arriving.where(col("o_orderkey") % 2 === 0), streamDir, "a")
      PipelineQueries.stageDocsChunk(
        arriving.where(col("o_orderkey") % 2 =!= 0), streamDir, "b")
      val ingest = outDir.resolve("ingest").toString
      val out = outDir.resolve("partials").toString
      val calls = new AtomicInteger(0)
      RelationalQueries.runIvmJoinStream(
        spark, dir, streamDir, ckpt, ingest, out, Some(calls))
      val firstRun = calls.get()
      assert(firstRun >= 2, s"expected >=2 micro-batches, saw $firstRun")
      // pin 2: snapshot slot i = arrivals of log slots 0..i, exactly
      val snap = s"${ingest}_snap"
      val logged = spark.read.parquet(ingest)
      (0 until firstRun).foreach { i =>
        val snapKeys = spark.read.parquet(s"$snap/batch_id=$i")
          .select("o_orderkey").collect().map(_.getLong(0)).sorted.toSeq
        val logKeys = logged.where(col("batch_id") <= i)
          .select("o_orderkey").collect().map(_.getLong(0)).sorted.toSeq
        assert(snapKeys.nonEmpty && snapKeys == logKeys,
          s"snapshot slot $i is not the fold of log slots 0..$i")
      }
      def fold() = sortedRows(RelationalQueries.ivmFold(
        RelationalQueries.ivmBase(spark, dir),
        spark.read.parquet(out).drop("batch_id")))
      val clean = fold()
      // pin 1: delete every log slot below the last, force a
      // same-batchId replay of the last batch, and rerun — only a
      // seen-A read from the compacted snapshot can recompute the
      // identical delta (the log tail is GONE)
      val last = firstRun - 1
      (0 until last).foreach { i =>
        graft.queries.SessionMemo.deleteRecursively(
          java.nio.file.Paths.get(ingest, s"batch_id=$i"))
      }
      EventStreams.forceReplayOfLastBatch(ckpt.toString)
      RelationalQueries.runIvmJoinStream(
        spark, dir, streamDir, ckpt, ingest, out, Some(calls))
      assert(calls.get() > firstRun,
        "replay did not re-execute any micro-batch — the harness proved nothing")
      val replayed = fold()
      assert(replayed == clean,
        "replay after log-tail deletion changed the maintained view — " +
          "seen-A still depends on the slot-by-slot ingest log")
      val direct = sortedRows(SparkEntry.queries("q_join_sortmerge")(spark, dir))
      assert(replayed == direct,
        "compacted-snapshot IVM view diverged from the direct recompute")
    } finally {
      graft.queries.SessionMemo.deleteRecursively(streamDir)
      graft.queries.SessionMemo.deleteRecursively(ckpt)
      graft.queries.SessionMemo.deleteRecursively(outDir)
    }
  }
}
