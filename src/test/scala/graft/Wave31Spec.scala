package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.functions._

import graft.queries.{PipelineQueries, RelationalQueries, SessionMemo, Tables}
import graft.streaming.{EventStreams, StateStores}

/** r17 verdict items 1 + 6: the two streaming partial-appenders added
  * in r17 (q_stream_integrity, q_stream_ivm_join) must be
  * REPLAY-IDEMPOTENT — a micro-batch re-executed after a sink crash
  * (same offsets, same batchId: the `forceReplayOfLastBatch` harness)
  * must leave the maintained table bit-identical to the batch
  * recompute — and the digest maintenance must survive a STOP/START
  * between micro-batches under both state-store providers. The
  * failure mode being pinned away is maximal for the integrity
  * stream: under the old append sink a replayed delta xor-CANCELS its
  * own first copy in the fold, so the auditor reports the touched
  * buckets unchanged — corrupted-clean, silent by construction. */
class Wave31Spec extends SparkSpec {

  private val dir = TestSpark.sfDir

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def ordersSlim = Tables.t(spark, dir, "orders")
    .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))

  private def integBase = ordersSlim
    .withColumn("t", RelationalQueries.integTouched)
    .select((col("o_orderkey") % 64).as("bucket"), col("t"),
      RelationalQueries.integDig(lit("")).as("d0"))
    .groupBy("bucket")
    .agg(count(lit(1)).as("n_rows"), expr("bit_xor(d0)").as("dig_before"))
    .localCheckpoint(true)

  test("q_stream_integrity absorbs a forced same-batchId replay (idempotent partials)") {
    val streamDir = java.nio.file.Files.createTempDirectory("graft-w31-integ-in")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-w31-integ-ckpt")
    val outDir = java.nio.file.Files.createTempDirectory("graft-w31-integ-out")
    try {
      val arriving = ordersSlim.where(RelationalQueries.integTouched)
      PipelineQueries.stageDocsChunk(
        arriving.where(col("o_orderkey") % 2 === 0), streamDir, "a")
      PipelineQueries.stageDocsChunk(
        arriving.where(col("o_orderkey") % 2 =!= 0), streamDir, "b")
      val out = outDir.resolve("partials").toString
      val calls = new AtomicInteger(0)
      RelationalQueries.runIntegrityStream(
        spark, arriving.schema, streamDir, ckpt, out, Some(calls))
      val firstRun = calls.get()
      assert(firstRun >= 2, s"expected >=2 micro-batches, saw $firstRun")
      val clean = sortedRows(RelationalQueries.integFold(spark, integBase, out))
      // crash window: written but never committed — restart re-executes
      // the newest batch with the SAME batchId
      EventStreams.forceReplayOfLastBatch(ckpt.toString)
      RelationalQueries.runIntegrityStream(
        spark, arriving.schema, streamDir, ckpt, out, Some(calls))
      assert(calls.get() > firstRun,
        "replay did not re-execute any micro-batch — the harness proved nothing")
      val replayed = sortedRows(RelationalQueries.integFold(spark, integBase, out))
      assert(replayed == clean,
        "double-delivered micro-batch changed the digest table (xor self-cancel)")
      // and both equal the batch recompute the gate oracles
      val batch = sortedRows(SparkEntry.queries("q_catalog_integrity")(spark, dir))
      assert(replayed == batch,
        "maintained digest table diverged from the batch recompute")
    } finally {
      SessionMemo.deleteRecursively(streamDir)
      SessionMemo.deleteRecursively(ckpt)
      SessionMemo.deleteRecursively(outDir)
    }
  }

  test("q_stream_integrity survives a kill between micro-batches (both providers)") {
    // r17 verdict item 6: stop after batch a, resume from the same
    // checkpoint, ingest batch b — the maintained digest table must
    // equal the batch recompute. Run under BOTH state-store providers
    // (the provider is an execution choice, invisible in results).
    val batch = sortedRows(SparkEntry.queries("q_catalog_integrity")(spark, dir))
    for (provider <- Seq(None, Some(StateStores.RocksDb))) {
      val streamDir = java.nio.file.Files.createTempDirectory("graft-w31-restart-in")
      val ckpt = java.nio.file.Files.createTempDirectory("graft-w31-restart-ckpt")
      val outDir = java.nio.file.Files.createTempDirectory("graft-w31-restart-out")
      try {
        def body(): Seq[String] = {
          val arriving = ordersSlim.where(RelationalQueries.integTouched)
          val out = outDir.resolve("partials").toString
          // batch a arrives, the maintenance job runs ... and dies
          PipelineQueries.stageDocsChunk(
            arriving.where(col("o_orderkey") % 2 === 0), streamDir, "a")
          RelationalQueries.runIntegrityStream(
            spark, arriving.schema, streamDir, ckpt, out)
          // batch b arrives; the job restarts from the same checkpoint
          PipelineQueries.stageDocsChunk(
            arriving.where(col("o_orderkey") % 2 =!= 0), streamDir, "b")
          RelationalQueries.runIntegrityStream(
            spark, arriving.schema, streamDir, ckpt, out)
          sortedRows(RelationalQueries.integFold(spark, integBase, out))
        }
        val got = provider match {
          case Some(p) => StateStores.withProvider(spark, p)(body())
          case None => body()
        }
        assert(got == batch,
          s"restart-recovered digest table diverged (provider=$provider)")
      } finally {
        SessionMemo.deleteRecursively(streamDir)
        SessionMemo.deleteRecursively(ckpt)
        SessionMemo.deleteRecursively(outDir)
      }
    }
  }

  test("q_stream_ivm_join absorbs a forced same-batchId replay (log-derived deltas)") {
    val streamDir = java.nio.file.Files.createTempDirectory("graft-w31-ivm-in")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-w31-ivm-ckpt")
    val outDir = java.nio.file.Files.createTempDirectory("graft-w31-ivm-out")
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
      def fold() = sortedRows(RelationalQueries.ivmFold(
        RelationalQueries.ivmBase(spark, dir),
        spark.read.parquet(out).drop("batch_id")))
      val clean = fold()
      EventStreams.forceReplayOfLastBatch(ckpt.toString)
      RelationalQueries.runIvmJoinStream(
        spark, dir, streamDir, ckpt, ingest, out, Some(calls))
      assert(calls.get() > firstRun,
        "replay did not re-execute any micro-batch — the harness proved nothing")
      val replayed = fold()
      assert(replayed == clean,
        "double-delivered micro-batch changed the maintained view")
      // the maintained view still equals the direct full-join recompute
      val direct = sortedRows(SparkEntry.queries("q_join_sortmerge")(spark, dir))
      val maintained = sortedRows(SparkEntry.queries("q_ivm_join")(spark, dir))
      assert(maintained == direct, "batch IVM view diverged from recompute")
      assert(replayed == direct,
        "replayed streaming IVM view diverged from the recompute")
    } finally {
      SessionMemo.deleteRecursively(streamDir)
      SessionMemo.deleteRecursively(ckpt)
      SessionMemo.deleteRecursively(outDir)
    }
  }

  test("autoSpatialRadiusExp: integer rule, fixture identity, scale points") {
    import graft.operators.Similarity
    // fixture SFs (n <= 2048) reproduce the fixed sibling's exponent 5
    assert(Similarity.autoSpatialRadiusExp(1) == 5)
    assert(Similarity.autoSpatialRadiusExp(500) == 5)
    assert(Similarity.autoSpatialRadiusExp(2000) == 5)
    assert(Similarity.autoSpatialRadiusExp(2048) == 5)
    // every 4x in points adds one exponent step (halves the radius)
    assert(Similarity.autoSpatialRadiusExp(2049) == 6)
    assert(Similarity.autoSpatialRadiusExp(8192) == 6)
    assert(Similarity.autoSpatialRadiusExp(8193) == 7)
    // the measured-scale operating points
    assert(Similarity.autoSpatialRadiusExp(20000) == 7) // sf1
    assert(Similarity.autoSpatialRadiusExp(200000) == 9) // sf10
  }

  test("q_spatial_dbscan_auto reproduces the fixed sibling at fixture SFs (r_exp = 5)") {
    val auto = SparkEntry.queries("q_spatial_dbscan_auto")(spark, dir)
      .localCheckpoint(true)
    val rexp = auto.select("r_exp").distinct().collect().map(_.getInt(0)).toSeq
    assert(rexp == Seq(5), s"fixture exponent drifted: $rexp")
    val fixed = sortedRows(SparkEntry.queries("q_spatial_dbscan")(spark, dir))
    assert(fixed.nonEmpty && sortedRows(auto.drop("r_exp")) == fixed,
      "auto-radius DBSCAN diverged from the fixed sibling at the fixture SF")
  }

  test("q_embed_ivf_balanced_iter enforces the cap exactly: max(n_balanced) <= cap") {
    val rows = SparkEntry.queries("q_embed_ivf_balanced_iter")(spark, dir)
      .collect()
    assert(rows.nonEmpty)
    val cap = rows.head.getAs[Long]("cap")
    val maxBal = rows.map(_.getAs[Long]("n_balanced")).max
    assert(maxBal <= cap, s"cell over cap after round-robin: $maxBal > $cap")
    // population conservation: every vector keeps exactly one cell
    val n = graft.queries.Tables.t(spark, dir, "embeddings").count()
    assert(rows.map(_.getAs[Long]("n_balanced")).sum == n)
    assert(rows.map(_.getAs[Long]("n_first")).sum == n)
    // and the overflow all landed somewhere
    assert(rows.map(_.getAs[Long]("n_spill_out")).sum ==
      rows.map(_.getAs[Long]("n_rr_in")).sum)
  }

  test("q_stream_ivm_join survives a kill between micro-batches (ingest-log recovery)") {
    // the seen-state is re-derived from the batchId-keyed ingest log,
    // so a restart between batch a and batch b must resume with batch
    // a's arrivals counted exactly once — the maintained view equals
    // the direct full-join recompute
    val streamDir = java.nio.file.Files.createTempDirectory("graft-w31-ivmr-in")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-w31-ivmr-ckpt")
    val outDir = java.nio.file.Files.createTempDirectory("graft-w31-ivmr-out")
    try {
      val arriving = Tables.t(spark, dir, "orders").where(RelationalQueries.ivmDA)
      val ingest = outDir.resolve("ingest").toString
      val out = outDir.resolve("partials").toString
      PipelineQueries.stageDocsChunk(
        arriving.where(col("o_orderkey") % 2 === 0), streamDir, "a")
      RelationalQueries.runIvmJoinStream(spark, dir, streamDir, ckpt, ingest, out)
      PipelineQueries.stageDocsChunk(
        arriving.where(col("o_orderkey") % 2 =!= 0), streamDir, "b")
      RelationalQueries.runIvmJoinStream(spark, dir, streamDir, ckpt, ingest, out)
      val recovered = sortedRows(RelationalQueries.ivmFold(
        RelationalQueries.ivmBase(spark, dir),
        spark.read.parquet(out).drop("batch_id")))
      val direct = sortedRows(SparkEntry.queries("q_join_sortmerge")(spark, dir))
      assert(recovered.nonEmpty && recovered == direct,
        "restart-recovered IVM view diverged from the recompute")
    } finally {
      SessionMemo.deleteRecursively(streamDir)
      SessionMemo.deleteRecursively(ckpt)
      SessionMemo.deleteRecursively(outDir)
    }
  }

  test("contractedComponents is bit-identical to connectedComponents") {
    // the hash-to-min contraction (r18: the DBSCAN CC accelerator) must
    // be invisible in results — same (vertex, min-id component) labels
    // on adversarial shapes: chains (deep diameter), stars (high
    // degree), cliques (max contraction), isolated self-loops, and a
    // seeded random graph; rounds 0/1/2/3 all agree
    import spark.implicits._
    val rnd = new scala.util.Random(20260816L)
    val random = (1 to 400).map(_ =>
      (rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
    val chain = (0L until 50L).map(v => (v * 3, v * 3 + 3))
    val star = (1L to 40L).map(v => (1000L, 1000L + v))
    val clique = for (a <- 2000L to 2012L; b <- 2000L to 2012L if a < b) yield (a, b)
    val loops = Seq((5000L, 5000L), (5001L, 5001L))
    val edges = (random ++ chain ++ star ++ clique ++ loops)
      .toDF("src", "dst")
    def labels(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    // maxHeld = 0 forces the DISTRIBUTED loop on both sides so the
    // equality exercises the real machinery, not union-find twice
    val plain = labels(graft.operators.Traversals
      .connectedComponents(edges, 10000, 2, 0L))
    for (rounds <- 1 to 3) {
      val contracted = labels(graft.operators.Traversals
        .contractedComponents(edges, rounds, 10000, 2, 0L))
      assert(contracted == plain, s"contraction rounds=$rounds diverged")
    }
    // and with the driver-held union-find engaged
    val fast = labels(graft.operators.Traversals.contractedComponents(edges))
    assert(fast == plain)
  }

  test("q_embed_ivf_filtered: predicate holds, probes widen against starvation") {
    val rows = SparkEntry.queries("q_embed_ivf_filtered")(spark, dir).collect()
    // the 500-row fixture is the STARVED regime: one cell holds
    // ~(500/8)/16 ≈ 4 allowed rows < 10, so the rule widens to 3 probes
    // — and the widened probe set actually fills the result
    assert(rows.length == 10, s"starved probe returned ${rows.length} rows")
    assert(rows.forall(_.getAs[Long]("vec_id") % 16 == 1),
      "a result row escaped the metadata predicate")
    assert(rows.forall(_.getAs[Int]("n_probes") == 3),
      "fixture probe count drifted from the starvation rule")
    assert(rows.forall(_.getAs[Int]("n_cells") == 8),
      "fixture cell count drifted from autoCellCount")
    val scores = rows.map(_.getAs[Double]("score")).toSeq
    assert(scores == scores.sorted.reverse, "scores not descending")
    // the GENERALIZED rule (r18 verdict item 5): probes =
    // clamp(⌈10·cells/n_allowed⌉, [1, cells]) with cells =
    // autoCellCount(n) and n_allowed the measured allowed-row count.
    // Identity points: reproduces r18's fixture geometry (8 cells /
    // 3 probes at the 500-row fixture; 1 probe at sf0.01's 10 cells)
    // and stays single-probe at sf10 (400 cells, 12500 allowed).
    def probes(cells: Long, nAllowed: Long) = math.max(1L,
      math.min(cells, (10 * cells + nAllowed - 1) / nAllowed))
    assert(probes(8, 32) == 3 && probes(10, 313) == 1 &&
      probes(400, 12500) == 1)
  }

  test("q_hybrid_retrieval: RRF is exactly determined by the two leg ranks") {
    val rows = SparkEntry.queries("q_hybrid_retrieval")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val rs = r.getAs[Int]("sparse_rk"); val rd = r.getAs[Int]("dense_rk")
      assert(rs >= 0 && rs <= 20 && rd >= 0 && rd <= 20)
      assert(rs > 0 || rd > 0, "a fused row belongs to neither leg's top-20")
      val expected = BigDecimal(
        (if (rs > 0) 1.0 / (60 + rs) else 0.0) +
          (if (rd > 0) 1.0 / (60 + rd) else 0.0))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(r.getAs[Double]("rrf") - expected) < 1e-9,
        s"rrf inconsistent with ranks ($rs, $rd)")
    }
    // both legs contribute to the fused head — the fusion is real
    assert(rows.exists(_.getAs[Int]("sparse_rk") > 0))
    assert(rows.exists(_.getAs[Int]("dense_rk") > 0))
  }

  test("q_embed_nsw_beam: frontier scores are monotone and dominate greedy beam-1") {
    val beam = SparkEntry.queries("q_embed_nsw_beam")(spark, dir)
      .collect().map(r => (r.getAs[Int]("hop"), r.getAs[Int]("rk"),
        r.getAs[Long]("vertex"), r.getAs[Double]("score")))
    assert(beam.length == 72, s"expected 9 hops x beam 8, got ${beam.length}")
    // the beam's best never worsens across hops (current stays a candidate)
    val bestPerHop = beam.groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.map(_._4).max)
    assert(bestPerHop.zip(bestPerHop.tail).forall { case (a, b) => b >= a },
      s"beam best-score regressed across hops: $bestPerHop")
    // beam-4 x 4 entries ends at least as close as greedy beam-1
    val greedy = SparkEntry.queries("q_embed_nsw")(spark, dir)
      .collect().map(r => (r.getAs[Int]("hop"), r.getAs[Double]("score")))
    val greedyFinal = greedy.maxBy(_._1)._2
    assert(bestPerHop.last >= greedyFinal,
      s"beam final ${bestPerHop.last} < greedy final $greedyFinal")
    // the query vertex is never routable (r17 ADVICE: no self-retrieval)
    assert(beam.forall(_._3 != 0L) && bestPerHop.last < 1.0)
  }
}
