package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.VectorFunctions.toDouble
import SessionMemo.{deleteRecursively, shared}
import Tables.t

/** The relational operator inventory (SURVEY.md §2.2 "Engine plan"):
  * scans, projection/filter, every join flavour, hash aggregation,
  * rollup/cube, window functions, sorts/top-k, set ops, and the
  * scalar-function families (string/date/math/case/json/time-window),
  * each with an exact DuckDB oracle twin in [[oracles]].
  *
  * Conventions for oracle parity: every computed column is aliased
  * identically on both sides; doubles are rounded; temporal outputs
  * are strings or ints; ties in window/top-k orders are broken by
  * unique keys so LIMIT sets are deterministic.
  *
  * Scale notes: filters sit directly on the scan (parquet pushdown);
  * small dimensions are `broadcast()`; aggregations are plain
  * `groupBy.agg` so Spark plans partial+final hash aggregation;
  * nothing collects to the driver.
  */
object RelationalQueries {

  /** See [[Parity.revenueSum]] — the shared exact-decimal money sum. */
  private def revenueSum: org.apache.spark.sql.Column = Parity.revenueSum

  /** Runs `f` against a fresh temp dir, pins the (small, aggregated)
    * result with an eager `localCheckpoint`, then deletes the dir —
    * the source-roundtrip gate queries write full table copies, and
    * without this every Verify/Bench invocation leaked one copy into
    * /tmp for the life of the machine. The checkpoint severs the plan
    * from the deleted files, so the returned DataFrame stays valid. */
  private def withTempDir(prefix: String)(f: String => DataFrame): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    try f(dir.toString).localCheckpoint(true)
    finally deleteRecursively(dir)
  }

  /** Stage the events parquet (a single file or a Spark-written
    * directory of part files) into `dst` for a file-stream source;
    * closes its directory stream. `prefix` disambiguates repeated
    * stagings of the same source (streaming replay tests). */
  private def stageEventsInto(d: String, dst: java.nio.file.Path,
                              prefix: String = ""): Unit = {
    val src = java.nio.file.Paths.get(s"$d/events.parquet")
    if (java.nio.file.Files.isDirectory(src)) {
      // Spark-written datasets are directories; Files.copy on one
      // yields an EMPTY dir (and a silently-empty stream) — copy the
      // data files instead
      val ls = java.nio.file.Files.list(src)
      try {
        val it = ls.iterator()
        while (it.hasNext) {
          val f = it.next()
          if (f.getFileName.toString.endsWith(".parquet"))
            java.nio.file.Files.copy(f, dst.resolve(prefix + f.getFileName.toString))
        }
      } finally ls.close()
    } else java.nio.file.Files.copy(src, dst.resolve(s"${prefix}events.parquet"))
  }

  /** Writes a single far-future sentinel event (user -1, `plusDays`
    * past the fixture's max ts) as parquet under `streamDir/tag`,
    * with `ts` encoded in the SAME dtype as the staged fixture — the
    * file-stream's schema is fixed from the staged files at
    * definition time, so a sentinel written in any other dtype would
    * be rejected or (for long vs timestamp int64) silently
    * mis-scaled. The (raw ts dtype, max epoch micros) probe is
    * memoized per events fingerprint: each streaming gate query writes
    * two sentinels and three of them run per Verify pass, so without
    * it that is six redundant full scans of the events fixture, and a
    * mid-session refresh (the r9 dtype break) re-probes instead of
    * serving a stale dtype. */
  private def writeSentinel(s: SparkSession, d: String,
                            streamDir: java.nio.file.Path, tag: String,
                            plusDays: Long): Unit = {
    import s.implicits._
    val (rawTs, maxMicros) = shared.value(s, d, "sentinel_meta",
        Tables.fingerprint(s, d, "events")) {
      // Tables.events sets legacy.parquet.nanosAsLong BEFORE its
      // read, so probe through it first — a bare Tables.t footer
      // read on a nanos fixture would throw if nothing else had set
      // the conf yet in this session
      val maxUs = Tables.events(s, d)
        .agg(max(unix_micros(col("ts")))).head().getLong(0)
      (Tables.t(s, d, "events").schema("ts").dataType, maxUs)
    }
    val tsMicros = maxMicros + plusDays * 86400L * 1000000L
    val base = Seq((-1L, -1L, "view", 0.0, "{}"))
      .toDF("event_id", "user_id", "event_type", "value", "props")
    val withTs = rawTs match {
      case org.apache.spark.sql.types.LongType => // nanos-long fixtures
        base.withColumn("ts", lit(tsMicros * 1000L))
      case t => base.withColumn("ts", timestamp_micros(lit(tsMicros)).cast(t))
    }
    withTs.select("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(streamDir.resolve(tag).toString)
  }

  /** The Morton bit-interleave of the two low-8-bit (x, y)
    * coordinates for q_layout_skipping: bit i of x lands at position
    * 2i, bit i of y at 2i + 1. ONE generator emits both dialects
    * (DuckDB `>>`, Spark `shiftright`) from the same loop, so the
    * position constants provably cannot drift between the engine
    * expression and the oracle (r16 review: the first cut generated
    * only the SQL side and hand-built the Column fold). The older
    * q_layout_zorder entry keeps its separate 10-bit
    * ZOrder.interleave2 operator + inline oracle — a different
    * geometry with its own spec, not a copy of this one. */
  private def zInterleave(shift: (String, Int) => String): String =
    (0 until 8).map { i =>
      s"((${shift("x", i)} & 1) * ${1L << (2 * i)} + " +
        s"(${shift("y", i)} & 1) * ${1L << (2 * i + 1)})"
    }.mkString(" + ")
  private[queries] val zInterleaveSql: String =
    zInterleave((v, i) => s"($v >> $i)")
  private[queries] val zInterleaveSparkSql: String =
    zInterleave((v, i) => s"shiftright($v, $i)")

  /** The one batch gaps-and-islands oracle both streaming SCD-2 gate
    * entries (default store + RocksDB) are checked against. */
  private val streamScd2OracleSql: String =
    """WITH e AS (SELECT user_id, ts, event_id, event_type FROM events WHERE user_id BETWEEN 0 AND 50), c AS (SELECT user_id, ts, event_id, event_type, CASE WHEN lag(event_type) OVER w IS NULL OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), v AS (SELECT user_id, ts, event_type, sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS ver FROM c) SELECT user_id, ver::BIGINT AS ver, event_type, epoch_us(min(ts))::BIGINT AS valid_from, epoch_us(max(ts))::BIGINT AS valid_to, count(*)::BIGINT AS n_events FROM v GROUP BY user_id, ver, event_type ORDER BY user_id, ver"""

  /** Streaming type-2 SCD build EXECUTED AS A STREAM inside the
    * exact-match gate (same drive pattern as q_stream_sessionize):
    * all events land in batch 1, sentinel files advance the
    * watermark so every user's buffered suffix folds and the final
    * open interval is timeout-emitted; result must equal the batch
    * gaps-and-islands build (q_events_scd2's oracle). Shared
    * byte-for-byte by q_stream_scd2 (default state store) and
    * q_stream_scd2_rocksdb (RocksDB provider) so the two gate entries
    * differ ONLY in the state-store provider. */
  private def streamScd2(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col => c}
    val streamDir = java.nio.file.Files.createTempDirectory("graft-q-scd2-stream")
    try {
      val e0 = java.nio.file.Files.createDirectory(streamDir.resolve("e0"))
      stageEventsInto(d, e0)
      def sentinel(tag: String, plusDays: Long): Unit =
        writeSentinel(s, d, streamDir, tag, plusDays)
      val sink = "stream_scd2_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val events = graft.streaming.EventStreams.eventsStream(s, streamDir.toString + "/*")
        .select(c("event_id"), c("ts"), c("user_id"), c("event_type"), c("value"))
        .as[graft.streaming.EventStreams.Event](
          org.apache.spark.sql.Encoders.product[graft.streaming.EventStreams.Event])
      val q = graft.streaming.EventStreams.scd2(events)
        .toDF()
        .writeStream.outputMode("append").format("memory").queryName(sink).start()
      try {
        q.processAllAvailable()
        sentinel("s1", 10); q.processAllAvailable()
        sentinel("s2", 20); q.processAllAvailable()
      } finally q.stop()
      s.table(sink).where(col("user_id").between(0L, 50L))
        .select("user_id", "ver", "event_type", "valid_from", "valid_to", "n_events")
        .orderBy("user_id", "ver")
    } finally deleteRecursively(streamDir)
  }

  /** The purchases reference table staged as a BUCKETED catalog table
    * (32 buckets on p_user, file-sorted by (p_user, p_ts)) — the
    * pre-partitioned-reference-side layout
    * [[graft.operators.AsOfJoin.asofExec]] is designed for (the
    * catalog-maintained dimension a 100 TB as-of enrichment would join
    * against). Staged as a [[SessionMemo.table]] keyed on the events
    * fingerprint. */
  private def bucketedPurchases(s: SparkSession, d: String): org.apache.spark.sql.DataFrame =
    shared.table(s, d, "asof_purchases", Tables.fingerprint(s, d, "events")) { (name, dir) =>
      Tables.events(s, d).where(col("event_type") === "purchase")
        .groupBy(col("user_id").as("p_user"), col("ts").as("p_ts"))
        .agg(max(col("event_id")).as("purchase_id"))
        .write.format("parquet").mode("overwrite")
        .bucketBy(32, "p_user").sortBy("p_user", "p_ts")
        .option("path", dir.resolve("purchases").toString)
        .saveAsTable(name)
    }

  // ---- IVM-join shared machinery (q_ivm_join / q_stream_ivm_join) ----
  // The hash-designated ~1/16 arrival slices and the per-term join are
  // ONE definition so the batch view, the streaming maintenance and the
  // replay spec can never drift apart.
  private[graft] def ivmDA: org.apache.spark.sql.Column =
    conv(substring(md5(col("o_orderkey").cast("string")), 1, 4), 16, 10)
      .cast("long") % 16 === 7
  private[graft] def ivmDB: org.apache.spark.sql.Column =
    conv(substring(md5(concat(col("l_orderkey").cast("string"),
        lit("#"), col("l_linenumber").cast("string"))), 1, 4), 16, 10)
      .cast("long") % 16 === 3
  private[graft] def ivmTerm(a: DataFrame, b: DataFrame): DataFrame =
    b.join(a, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)")).as("rev"),
        count(lit(1)).as("n"))
  /** V(A0, B0) — the materialized base view both IVM entries share
    * (same memo tag, so one artifact serves both). */
  private[graft] def ivmBase(s: SparkSession, d: String): DataFrame =
    shared.table(s, d, "ivm_base", Tables.fingerprint(s, d, "orders", "lineitem")) { (name, dir) =>
      ivmTerm(t(s, d, "orders").where(!ivmDA),
          t(s, d, "lineitem").where(!ivmDB))
        .write.format("parquet").mode("overwrite")
        .option("path", dir.resolve("t").toString).saveAsTable(name)
    }

  /** One RESTARTABLE pass of the q_stream_ivm_join maintenance stream
    * — replay-idempotent (r17 verdict item 1): every write is
    * batchId-keyed with overwrite semantics via
    * [[graft.streaming.EventStreams.idempotentBatchWrite]], and the
    * per-batch delta is a pure function of (batch, batchId) — the
    * seen-A state is re-derived from the batchId-keyed ingest LOG
    * rather than driver-memory accumulators, so a micro-batch replayed
    * after a sink crash (same offsets, same batchId — the Structured
    * Streaming contract) recomputes the IDENTICAL delta and lands on
    * its own slot. An append sink, or driver-state-derived deltas,
    * would double or corrupt the replayed term. dB lineitem chunks
    * pair with stream batches by ordinal; chunks the stream never
    * paired land as trailing B-only deltas on their own deterministic
    * slots (slot index = chunk index ≥ #stream batches — no
    * collision), equally idempotent.
    *
    * COMPACTED SEEN-A (r19 verdict item 2, closing the r18 ADVICE
    * scale note): batch i no longer unions the i prior ingest-log
    * slots to rebuild seen-A — it reads ONE compacted snapshot
    * (`<ingestLog>_snap/batch_id=i-1` = every arrival through batch
    * i−1) and then writes its own snapshot slot (prev ∪ dAi). The
    * snapshot write is batchId-keyed overwrite like every other
    * write here, so a replayed batch recomputes the identical
    * snapshot onto its own slot; per-batch seen-A read cost is
    * O(arrivals so far) in ONE partition-pruned read instead of
    * O(i) slot reads — the O(batches²) log-union shape is gone.
    * Wave33Spec proves the independence behaviorally: it deletes
    * every log slot < last, forces a same-batchId replay, and the
    * recomputed delta (hence the maintained view) is unchanged —
    * impossible if seen-A still read the log tail. The stream-batch
    * count for the trailing-chunk loop is likewise derived from the
    * snapshot slots (one per stream batch, restart-complete). */
  private[graft] def runIvmJoinStream(s: SparkSession, d: String,
      streamDir: java.nio.file.Path, ckpt: java.nio.file.Path,
      ingestLog: String, out: String,
      counter: Option[java.util.concurrent.atomic.AtomicInteger] = None): Unit = {
    val o = t(s, d, "orders")
    val li = t(s, d, "lineitem")
    val dbChunks = Seq(
      li.where(ivmDB).where(col("l_orderkey") % 2 === 0),
      li.where(ivmDB).where(col("l_orderkey") % 2 =!= 0))
    val empty = li.where(ivmDB).where(lit(false))
    val snapDir = s"${ingestLog}_snap"
    val stream = s.readStream.schema(o.schema)
      .option("maxFilesPerTrigger", 1).parquet(streamDir.toString)
    val perBatch: (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
      (batch, batchId) => {
        val i = batchId.toInt
        // the ingest log is itself a batchId-keyed idempotent write:
        // a replayed arrival overwrites its own slot (set, never a
        // multiset) — and persisting it also detaches the delta jobs
        // from the streaming source (the localCheckpoint role)
        graft.streaming.EventStreams
          .idempotentBatchWrite(ingestLog, counter)(batch, batchId)
        val dAi = s.read.parquet(ingestLog)
          .where(col("batch_id") === i).drop("batch_id")
        // seen-A = base ∪ ONE compacted snapshot (arrivals ≤ i−1) —
        // never a union over the i prior log slots (see scaladoc)
        val prevSnap =
          if (i == 0) o.where(!ivmDA).where(lit(false)) // schema-shaped empty
          else s.read.parquet(s"$snapDir/batch_id=${i - 1}")
        val aSeen = o.where(!ivmDA).unionByName(prevSnap)
        // fold this batch's arrivals into the next snapshot slot —
        // idempotent overwrite, pure function of (snap i−1, log slot i)
        prevSnap.unionByName(dAi).write.mode("overwrite")
          .parquet(s"$snapDir/batch_id=$i")
        val bSeen = dbChunks.take(math.min(i, dbChunks.length))
          .foldLeft(li.where(!ivmDB))(_ unionByName _)
        val dBi = if (i < dbChunks.length) dbChunks(i) else empty
        graft.streaming.EventStreams.idempotentBatchWrite(out)(
          ivmTerm(dAi, bSeen).unionByName(ivmTerm(aSeen, dBi))
            .unionByName(ivmTerm(dAi, dBi)), batchId)
      }
    val q = stream.writeStream.option("checkpointLocation", ckpt.toString)
      .foreachBatch(perBatch).start()
    try q.processAllAvailable() finally q.stop()
    // trailing dB chunks the stream never paired: count stream batches
    // from the SNAPSHOT slots (one per stream batch, restart-complete,
    // unlike a driver counter), write each on its own chunk-indexed
    // slot — idempotent under re-execution because A is final and
    // bSeen is ordinal-derived. aAll reads the last compacted
    // snapshot, never the slot-by-slot log.
    val nStream = Option(new java.io.File(snapDir).listFiles())
      .getOrElse(Array.empty).count(_.getName.startsWith("batch_id="))
    (nStream until dbChunks.length).foreach { i =>
      val aAll =
        if (nStream == 0) o.where(!ivmDA)
        else o.where(!ivmDA).unionByName(
          s.read.parquet(s"$snapDir/batch_id=${nStream - 1}"))
      ivmTerm(aAll, dbChunks(i))
        .write.mode("overwrite").parquet(s"$out/batch_id=$i")
    }
  }

  /** The folded readout both IVM entries share: base ∪ delta partials
    * → the maintained view. */
  private[graft] def ivmFold(base: DataFrame, partials: DataFrame): DataFrame =
    base.unionByName(partials)
      .groupBy("o_orderpriority")
      .agg(sum(col("rev")).cast("double").as("revenue"),
        sum(col("n")).cast("long").as("cnt"))
      .orderBy("o_orderpriority")

  // ---- Merkle-integrity shared machinery (q_catalog_integrity /
  // q_stream_integrity) ------------------------------------------------
  private[graft] def integTouched: org.apache.spark.sql.Column =
    conv(substring(md5(col("o_orderkey").cast("string")), 1, 4), 16, 10)
      .cast("long") % 16 === 5
  private[graft] def integDig(tag: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    conv(substring(md5(concat_ws("|",
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      tag)), 1, 12), 16, 10).cast("long")

  /** One RESTARTABLE pass of the q_stream_integrity digest-maintenance
    * stream — replay-idempotent (r17 verdict item 1): the per-batch
    * xor-delta partial is a pure function of the batch alone, written
    * batchId-keyed with overwrite semantics, so a replayed micro-batch
    * (same offsets, same batchId) REPLACES its own partial instead of
    * appending a second copy. This matters maximally here: under an
    * append sink a replayed delta xor-cancels itself in the fold and
    * the auditor reports the touched buckets UNCHANGED — the
    * corrupted-clean failure, silent by construction. */
  private[graft] def runIntegrityStream(s: SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      streamDir: java.nio.file.Path, ckpt: java.nio.file.Path, out: String,
      counter: Option[java.util.concurrent.atomic.AtomicInteger] = None): Unit = {
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(streamDir.toString)
    val perBatch: (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
      (batch, batchId) => graft.streaming.EventStreams
        .idempotentBatchWrite(out, counter)(batch
          .select((col("o_orderkey") % 64).as("bucket"),
            integDig(lit("")).bitwiseXOR(integDig(lit("v2"))).as("dx"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("nt"), expr("bit_xor(dx)").as("delta")),
          batchId)
    val q = stream.writeStream.option("checkpointLocation", ckpt.toString)
      .foreachBatch(perBatch).start()
    try q.processAllAvailable() finally q.stop()
  }

  /** The digest-table readout q_stream_integrity and its specs share:
    * base digests xor the folded per-batch deltas. */
  private[graft] def integFold(s: SparkSession, base: DataFrame, out: String): DataFrame = {
    val folded = s.read.parquet(out).groupBy("bucket")
      .agg(sum("nt").as("n_touched"), expr("bit_xor(delta)").as("delta"))
    base.join(folded, Seq("bucket"), "left")
      .select(col("bucket"), col("n_rows"),
        coalesce(col("n_touched"), lit(0L)).as("n_touched"),
        col("dig_before"),
        col("dig_before").bitwiseXOR(coalesce(col("delta"), lit(0L)))
          .as("dig_after"))
      .withColumn("changed",
        when(col("dig_before") =!= col("dig_after"), 1).otherwise(0))
      .orderBy("bucket")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- scan / projection / filter --------------------------------------
    "q_filter_project" -> ((s, d) => {
      t(s, d, "lineitem")
        .where(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice") * col("l_discount"), 4).as("disc_amount"))
        .orderBy("l_orderkey", "l_linenumber")
    }),
    // -- aggregation ------------------------------------------------------
    "q_agg_groupingsets" -> ((s, d) => {
      t(s, d, "orders").createOrReplaceTempView("orders_gs")
      s.sql("""SELECT o_orderstatus, o_orderpriority, count(*) AS cnt
               FROM orders_gs
               GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
               ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""")
    }),
    "q_udaf_weighted" -> ((s, d) => {
      import org.apache.spark.sql.functions.udaf
      // register once per session — re-registering logs a "function
      // replaced" warning per bench rep / warmup pass
      if (!s.sessionState.functionRegistry.functionExists(
          org.apache.spark.sql.catalyst.FunctionIdentifier("wmean")))
        s.udf.register("wmean", udaf(graft.functions.WeightedMean))
      t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(round(expr("wmean(l_extendedprice, l_quantity)"), 2).as("wavg_price"))
        .orderBy("l_returnflag")
    }),
    "q_agg_groupby" -> ((s, d) => {
      t(s, d, "lineitem")
        .where(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base"),
          revenueSum.as("sum_disc"),
          round(avg(col("l_quantity")), 2).as("avg_qty"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag", "l_linestatus")
    }),
    "q_agg_distinct" -> ((s, d) => {
      t(s, d, "lineitem").groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("nparts"),
          countDistinct(col("l_suppkey")).as("nsupps"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag")
    }),
    "q_agg_rollup" -> ((s, d) => {
      t(s, d, "orders").rollup("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("cnt"), round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
    }),
    "q_agg_cube" -> ((s, d) => {
      t(s, d, "lineitem").cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"), round(sum(col("l_quantity")), 2).as("qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    }),
    "q_agg_stats" -> ((s, d) => {
      t(s, d, "lineitem").groupBy("l_linestatus")
        .agg(
          round(min(col("l_extendedprice")), 2).as("mn"),
          round(max(col("l_extendedprice")), 2).as("mx"),
          round(avg(col("l_extendedprice")), 2).as("av"),
          round(stddev_samp(col("l_extendedprice")), 2).as("sd"),
          round(expr("percentile(l_extendedprice, 0.5)"), 2).as("med"))
        .orderBy("l_linestatus")
    }),
    "q_histogram" -> ((s, d) => {
      // equi-width histogram via width_bucket (SQL-standard bucketing)
      t(s, d, "customer")
        .select(expr("width_bucket(c_acctbal, -1000.0, 10000.0, 11)").as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("cnt"))
        .orderBy("bucket")
    }),
    "q_agg_regr" -> ((s, d) => {
      // the SQL-standard REGR_* family (REGR_COUNT/SLOPE/INTERCEPT/R2)
      // per group, from the same exact-decimal power sums as
      // q_agg_corr: the builtins stream engine-specific co-moment
      // updates whose low bits differ across engines; decimal sums are
      // accumulation-order independent and each rounded sum stays
      // exactly double-representable, so the closed forms — evaluated
      // with the IDENTICAL parenthesization in the oracle — are
      // bit-identical. slope = (nSxy−SxSy)/(nSxx−Sx²), intercept =
      // (Sy − slope·Sx)/n, r² = slope_yx · slope_xy. One partial+final
      // hash agg; the regression itself is K group rows of arithmetic.
      val l = t(s, d, "lineitem").select(col("l_returnflag"),
        col("l_quantity").cast("decimal(18,2)").as("x"),
        col("l_extendedprice").cast("decimal(18,2)").as("y"))
      val g = l.groupBy("l_returnflag").agg(
        count(lit(1)).cast("double").as("n"),
        round(sum(col("x")), 2).cast("double").as("sx"),
        round(sum(col("y")), 2).cast("double").as("sy"),
        round(sum(col("x") * col("y")), 2).cast("double").as("sxy"),
        round(sum(col("x") * col("x")), 2).cast("double").as("sxx"),
        round(sum(col("y") * col("y")), 0).cast("double").as("syy"))
      val num = col("n") * col("sxy") - col("sx") * col("sy")
      val denx = col("n") * col("sxx") - col("sx") * col("sx")
      val deny = col("n") * col("syy") - col("sy") * col("sy")
      g.select(col("l_returnflag"),
          col("n").cast("long").as("regr_count"),
          round(num / denx, 6).as("slope"),
          round((col("sy") - num / denx * col("sx")) / col("n"), 6).as("intercept"),
          round(num / denx * (num / deny), 6).as("r2"))
        .orderBy("l_returnflag")
    }),
    "q_agg_theilsen" -> ((s, d) => {
      // Theil-Sen ROBUST slope of the daily event-count series —
      // median of all pairwise slopes (x_j−x_i)/(day_j−day_i), the
      // breakdown-point-29% trend estimate that shrugs off the outlier
      // days that drag OLS (reported side-by-side with the OLS slope
      // from exact integer power sums, so the gap IS the outlier
      // diagnostic). The pair set is study-length-bounded (days², not
      // data-sized — ~4k pairs for a 90-day study at ANY SF), so the
      // single-partition median window is a constant-size tail after
      // one hash agg to the day series. Float discipline: each slope
      // is one IEEE division rounded to 6; the median picks the two
      // middle VALUES by explicit row_number positions (no builtin
      // percentile interpolation semantics in the compare).
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.events(s, d)
        .groupBy(col("ts").cast("date").as("day"))
        .agg(count(lit(1)).as("x"))
        .localCheckpoint(true) // both pair sides + the OLS pass
      val a = daily.select(col("day").as("da"), col("x").as("xa"))
      val b = daily.select(col("day").as("db"), col("x").as("xb"))
      val slopes = a.join(b, col("da") < col("db"))
        .select(col("da"), col("db"),
          round((col("xb") - col("xa")).cast("double") /
            datediff(col("db"), col("da")).cast("double"), 6).as("sl"))
      val ranked = slopes.withColumn("rk", row_number().over(
        Window.orderBy(col("sl"), col("da"), col("db"))))
        .localCheckpoint(true) // count + two positional probes
      val n = ranked.count()
      val p1 = (n + 1) / 2
      val p2 = (n + 2) / 2
      // avg covers both parities: one middle row when n is odd
      // (p1 == p2), the mean of the two when even
      val med = ranked.where(col("rk") === p1 || col("rk") === p2)
        .agg(round(avg(col("sl")), 6).as("theilsen"))
      val ols = daily.select(
          datediff(col("day"), lit(java.sql.Date.valueOf("1970-01-01")))
            .cast("long").as("t"), col("x"))
        .agg(count(lit(1)).cast("double").as("n"),
          sum("t").cast("double").as("sx"),
          sum("x").cast("double").as("sy"),
          sum(col("t") * col("x")).cast("double").as("sxy"),
          sum(col("t") * col("t")).cast("double").as("sxx"))
        .select(col("n").cast("long").as("n_days"),
          round((col("n") * col("sxy") - col("sx") * col("sy")) /
            (col("n") * col("sxx") - col("sx") * col("sx")), 6).as("ols_slope"))
      ols.crossJoin(broadcast(med))
        .select(col("n_days"), lit(n).as("n_pairs"),
          col("theilsen"), col("ols_slope"))
    }),
    "q_agg_corr" -> ((s, d) => {
      // Pearson corr + sample covariance from EXACT decimal sums, then a
      // closed-form formula evaluated in double with the identical
      // expression shape on the DuckDB side. The builtin corr()/covar_samp()
      // use engine-specific streaming co-moment updates whose low bits
      // differ across engines (r1 hash mismatch); decimal sums are
      // accumulation-order independent, and each sum is rounded so its
      // scaled magnitude stays < 2^53 (exactly double-representable), so
      // the final double arithmetic is bit-identical cross-engine.
      // AggSpec asserts the closed form matches the builtin corr /
      // covar_samp at the output rounding resolution.
      val l = t(s, d, "lineitem").select(col("l_returnflag"),
        col("l_quantity").cast("decimal(18,2)").as("q"),
        col("l_extendedprice").cast("decimal(18,2)").as("p"),
        col("l_discount").cast("decimal(18,2)").as("dd"),
        col("l_tax").cast("decimal(18,2)").as("tt"))
      val g = l.groupBy("l_returnflag").agg(
        count(lit(1)).cast("double").as("n"),
        round(sum(col("q")), 2).cast("double").as("sx"),
        round(sum(col("p")), 2).cast("double").as("sy"),
        round(sum(col("q") * col("p")), 2).cast("double").as("sxy"),
        round(sum(col("q") * col("q")), 2).cast("double").as("sxx"),
        round(sum(col("p") * col("p")), 0).cast("double").as("syy"),
        round(sum(col("dd")), 2).cast("double").as("sd"),
        round(sum(col("tt")), 2).cast("double").as("st"),
        round(sum(col("dd") * col("tt")), 4).cast("double").as("sdt"))
      // `+ 0.0` normalizes IEEE -0.0 → +0.0 (DuckDB's round keeps the sign
      // of a tiny negative; BigDecimal-backed Spark round never emits -0.0)
      g.select(col("l_returnflag"),
          (round((col("n") * col("sxy") - col("sx") * col("sy")) /
            sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
                 (col("n") * col("syy") - col("sy") * col("sy"))), 4) + lit(0.0)).as("corr_qp"),
          (round((col("sdt") - col("sd") * col("st") / col("n")) / (col("n") - lit(1.0)), 6) + lit(0.0)).as("cov_dt"))
        .orderBy("l_returnflag")
    }),
    "q_agg_moments" -> ((s, d) => {
      // population skewness / excess kurtosis from exact decimal power
      // sums (same determinism pattern as q_agg_corr: engine-builtin
      // moment aggregates differ in low bits across engines; decimal
      // sums are order-free, the closed form is identical double
      // arithmetic both sides). AggSpec pins it to Spark's builtins.
      val l = t(s, d, "lineitem")
        .select(col("l_returnflag"), col("l_quantity").cast("decimal(18,2)").as("q"))
      val g = l.groupBy("l_returnflag").agg(
        count(lit(1)).cast("double").as("n"),
        round(sum(col("q")), 2).cast("double").as("s1"),
        round(sum(col("q") * col("q")), 2).cast("double").as("s2"),
        round(sum(col("q") * col("q") * col("q")), 2).cast("double").as("s3"),
        round(sum(col("q") * col("q") * col("q") * col("q")), 0).cast("double").as("s4"))
      val m1 = col("s1") / col("n")
      val m2 = col("s2") / col("n") - m1 * m1
      val m3 = col("s3") / col("n") - lit(3.0) * m1 * (col("s2") / col("n")) + lit(2.0) * m1 * m1 * m1
      val m4 = col("s4") / col("n") - lit(4.0) * m1 * (col("s3") / col("n")) +
        lit(6.0) * m1 * m1 * (col("s2") / col("n")) - lit(3.0) * m1 * m1 * m1 * m1
      g.select(col("l_returnflag"),
          (round(m3 / sqrt(m2 * m2 * m2), 6) + lit(0.0)).as("skew"),
          (round(m4 / (m2 * m2) - lit(3.0), 6) + lit(0.0)).as("kurt"))
        .orderBy("l_returnflag")
    }),
    "q_agg_having" -> ((s, d) => {
      t(s, d, "orders").groupBy("o_custkey")
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("spend"))
        .where(col("n") >= 15) // HAVING
        .orderBy("o_custkey")
    }),
    "q_scalar_null" -> ((s, d) => {
      // null-semantics family over synthesized nulls (fixtures are
      // null-free): nullif/coalesce/null-safe equality/null counting
      t(s, d, "lineitem").where(col("l_orderkey") % 25 === 0)
        .select(col("l_orderkey"), col("l_linenumber"),
          nullif(col("l_discount"), lit(0.0)).as("d_or_null"),
          coalesce(nullif(col("l_discount"), lit(0.0)), lit(-1.0)).as("d_filled"),
          (nullif(col("l_discount"), lit(0.0)) <=> nullif(col("l_tax"), lit(0.0))).as("nse"))
        .orderBy("l_orderkey", "l_linenumber")
    }),
    "q_union_all" -> ((s, d) => {
      val c = t(s, d, "customer")
      c.where(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
        .unionAll(c.where(col("c_acctbal") > 9000).select(col("c_custkey")))
        .groupBy("c_custkey").agg(count(lit(1)).as("appearances"))
        .where(col("appearances") === 2) // in both branches (bag semantics)
        .orderBy("c_custkey")
    }),
    // -- joins ------------------------------------------------------------
    "q_join_broadcast" -> ((s, d) => {
      val cust = t(s, d, "customer")
      val nat = t(s, d, "nation")
      val reg = t(s, d, "region")
      cust
        .join(broadcast(nat), cust("c_nationkey") === nat("n_nationkey"))
        .join(broadcast(reg), nat("n_regionkey") === reg("r_regionkey"))
        .where(reg("r_name") === "EUROPE")
        .groupBy("n_name")
        .agg(count(lit(1)).as("cnt"), round(sum(col("c_acctbal")), 2).as("bal"))
        .orderBy("n_name")
    }),
    "q_join_bloom" -> ((s, d) => {
      // runtime-filter join: a deterministic broadcast Bloom filter
      // over the selective dimension's keys prunes the fact scan
      // BEFORE the exact semi-join — at 100 TB the bloom drops
      // non-candidate fact rows pre-shuffle, so the exchange carries
      // matching rows only. False positives are removed by the exact
      // join, so the oracle is the PLAIN semi-join (no bloom): the
      // prefilter is an execution optimization, not a semantics change.
      val dim = t(s, d, "customer")
        .where(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      val bloom = graft.operators.BloomPrune.build(dim, "c_custkey", mBits = 1 << 14, h = 3)
      val o = t(s, d, "orders")
      o.where(graft.operators.BloomPrune.mightContain(bloom, 1 << 14, 3, col("o_custkey")))
        .join(broadcast(dim), o("o_custkey") === dim("c_custkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("spend"))
        .orderBy("o_orderpriority")
    }),
    "q_layout_zorder" -> ((s, d) => {
      // Z-order layout clustering (the lakehouse OPTIMIZE ZORDER BY
      // primitive): bit-interleave two dimensions and bucket by the
      // top 6 z bits — fixing 6 z-bits fixes the top 3 bits of EACH
      // dimension, so every bucket's bounding box spans <= 128 of the
      // 1024-value range in BOTH x and y (asserted per-bucket in
      // SketchAndBloomSpec). That tight two-dimensional box is what
      // lets min/max file statistics skip data for predicates on
      // EITHER column at 100 TB, where a linear sort clusters only
      // its leading column. Output: per-bucket row count + bounding
      // box, exactly reproduced by the DuckDB twin (layout keys must
      // be engine-portable).
      t(s, d, "orders")
        .select((col("o_custkey") % 1024).cast("long").as("x"),
          (floor(col("o_totalprice") / 500.0).cast("long") % 1024).as("y"))
        .withColumn("z", graft.operators.ZOrder.interleave2(col("x"), col("y")))
        .groupBy(shiftright(col("z"), 14).as("zbucket"))
        .agg(count(lit(1)).as("n"),
          min(col("x")).as("x_min"), max(col("x")).as("x_max"),
          min(col("y")).as("y_min"), max(col("y")).as("y_max"))
        .orderBy("zbucket")
    }),
    "q_join_sortmerge" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      val o = t(s, d, "orders")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(revenueSum.as("revenue"),
          count(lit(1)).as("cnt"))
        .orderBy("o_orderpriority")
    }),
    "q_join_semi" -> ((s, d) => {
      val cust = t(s, d, "customer")
      val o = t(s, d, "orders")
      cust.join(o, cust("c_custkey") === o("o_custkey"), "left_semi")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("cnt"))
        .orderBy("c_mktsegment")
    }),
    "q_join_anti" -> ((s, d) => {
      val cust = t(s, d, "customer")
      val o = t(s, d, "orders")
      cust.join(o, cust("c_custkey") === o("o_custkey"), "left_anti")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("cnt"))
        .orderBy("c_mktsegment")
    }),
    "q_join_outer" -> ((s, d) => {
      val o = t(s, d, "orders")
      val li = t(s, d, "lineitem")
      o.join(li, o("o_orderkey") === li("l_orderkey"), "left_outer")
        .groupBy(o("o_orderkey"))
        .agg(count(li("l_orderkey")).as("nlines"))
        .groupBy(col("nlines"))
        .agg(count(lit(1)).as("norders"))
        .orderBy("nlines")
    }),
    "q_ivm_join" -> ((s, d) => {
      // INCREMENTAL VIEW MAINTENANCE of a join view — the primitive
      // behind materialized views and streaming join state: with
      // A = A0 ∪ dA and B = B0 ∪ dB (disjoint splits), additivity of
      // the aggregate gives V(A, B) = V(A0,B0) + V(dA,B0) + V(A0,dB)
      // + V(dA,dB). The base term V(A0,B0) is the MATERIALIZED view,
      // session-staged per fixture generation (the ivf_indexed /
      // pagerank_edges convention — bench reps time the MAINTENANCE,
      // which is the operator); each delta term joins one full
      // relation against a hash-designated ~1/16 arrival slice, so
      // AQE broadcasts the delta side and maintenance never pays the
      // base⋈base shuffle a recompute would — at 100 TB that is the
      // whole point of keeping the view. The oracle computes the
      // DIRECT join of the full relations (deliberately the same SQL
      // as q_join_sortmerge's view): equality of the four-term
      // decomposition with the recompute IS the IVM correctness
      // statement, exact because the money terms are decimal-summed
      // (order- and grouping-independent) before the one final
      // double cast.
      val o = t(s, d, "orders")
      val li = t(s, d, "lineitem")
      ivmFold(ivmBase(s, d),
        ivmTerm(o.where(ivmDA), li.where(!ivmDB))
          .unionByName(ivmTerm(o.where(!ivmDA), li.where(ivmDB)))
          .unionByName(ivmTerm(o.where(ivmDA), li.where(ivmDB))))
    }),
    "q_stream_ivm_join" -> ((s, d) => {
      // q_ivm_join's maintenance loop EXECUTED AS A STREAM, with
      // deltas arriving on BOTH relations (r16 verdict item 7 closed
      // the one-sided gap): the base term V(A0, B0) is the SAME
      // session-staged view the batch entry maintains; dA orders
      // ARRIVE as a real file stream (two micro-batches via
      // maxFilesPerTrigger = 1) and the dB lineitem deltas are the
      // foreachBatch-maintained side — batch i ingests its paired dB
      // chunk in the same transaction. Per batch, bilinearity of the
      // join gives the exact delta against the relations AS SEEN
      // BEFORE the batch (A0/B0 plus every prior arrival):
      //   dV_i = V(dA_i, B_seen) + V(A_seen, dB_i) + V(dA_i, dB_i)
      // and the sum TELESCOPES to V(A, B) − V(A0, B0) under any
      // batching/arrival interleaving — so the DIRECT full-join
      // recompute oracle applies verbatim, now with both sides
      // growing across ≥2 increments each. foreachBatch runs
      // micro-batches sequentially on the driver, so the seen-side
      // accumulators are race-free; every delta term joins a full
      // relation against a ~1/16 arrival slice, which AQE broadcasts
      // — maintenance never pays the base⋈base shuffle (the batch
      // entry's 100 TB argument, kept intact on the streaming path).
      // REPLAY-IDEMPOTENT (r17 verdict item 1): every write is
      // batchId-keyed overwrite via idempotentBatchWrite, and the
      // per-batch delta is a pure function of (batch, batchId) — the
      // seen-A state is re-read from the batchId-keyed ingest log, not
      // driver accumulators — so a micro-batch replayed after a sink
      // crash (same offsets, same batchId) recomputes the identical
      // delta onto its own slot; Wave31Spec forces the replay and pins
      // double-delivery equality.
      val base = ivmBase(s, d)
      val streamDir = java.nio.file.Files.createTempDirectory("graft-q-ivm-in")
      val ckpt = java.nio.file.Files.createTempDirectory("graft-q-ivm-ckpt")
      val outDir = java.nio.file.Files.createTempDirectory("graft-q-ivm-out")
      try {
        val arriving = t(s, d, "orders").where(ivmDA)
        PipelineQueries.stageDocsChunk(
          arriving.where(col("o_orderkey") % 2 === 0), streamDir, "a")
        PipelineQueries.stageDocsChunk(
          arriving.where(col("o_orderkey") % 2 =!= 0), streamDir, "b")
        val out = outDir.resolve("partials").toString
        runIvmJoinStream(s, d, streamDir, ckpt,
          outDir.resolve("ingest").toString, out)
        ivmFold(base, s.read.parquet(out).drop("batch_id"))
          // detach from the temp dir (eager blocks) so cleanup can run
          .localCheckpoint(true)
      } finally {
        deleteRecursively(streamDir)
        deleteRecursively(ckpt)
        deleteRecursively(outDir)
      }
    }),
    "q_tpch_q3" -> ((s, d) => {
      val cust = t(s, d, "customer").where(col("c_mktsegment") === "BUILDING")
      val o = t(s, d, "orders").where(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      val li = t(s, d, "lineitem").where(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(broadcast(cust), o("o_custkey") === cust("c_custkey"))
        .groupBy(li("l_orderkey"))
        .agg(revenueSum.as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),
    "q_tpch_q5" -> ((s, d) => {
      val cust = t(s, d, "customer")
      val o = t(s, d, "orders")
        .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      val li = t(s, d, "lineitem")
      val sup = t(s, d, "supplier")
      val nat = t(s, d, "nation")
      val reg = t(s, d, "region").where(col("r_name") === "ASIA")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(cust, o("o_custkey") === cust("c_custkey"))
        .join(sup, li("l_suppkey") === sup("s_suppkey") &&
          cust("c_nationkey") === sup("s_nationkey"))
        .join(broadcast(nat), sup("s_nationkey") === nat("n_nationkey"))
        .join(broadcast(reg), nat("n_regionkey") === reg("r_regionkey"))
        .groupBy("n_name")
        .agg(revenueSum.as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),
    // -- windows ----------------------------------------------------------
    "q_window_rank" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, d, "orders")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"),
          round(col("o_totalprice"), 2).as("price"), col("rn"))
        .orderBy("o_custkey", "rn")
    }),
    "q_window_running" -> ((s, d) => {
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "lineitem").where(col("l_suppkey") <= 10)
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          round(sum(col("l_quantity")).over(w), 2).as("running_qty"))
        .orderBy("l_suppkey", "l_orderkey", "l_linenumber")
    }),
    "q_window_lag" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, d, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          round(col("o_totalprice") - lag(col("o_totalprice"), 1).over(w), 2).as("delta"))
        .orderBy("o_custkey", "o_orderkey")
    }),
    "q_window_range_frame" -> ((s, d) => {
      // RANGE frame (value-based, vs the ROWS frames elsewhere):
      // count of this customer's orders within 50k price below current
      // floor() on both sides: Spark casts double->long by truncation but
      // DuckDB ::BIGINT rounds, so the frame must order by an exact integral
      val w = Window.partitionBy(col("o_custkey")).orderBy(floor(col("o_totalprice")))
        .rangeBetween(-50000L, Window.currentRow)
      t(s, d, "orders").where(col("o_custkey") <= 30)
        .select(col("o_custkey"), col("o_orderkey"),
          count(lit(1)).over(w).as("n_in_range"))
        .orderBy("o_custkey", "o_orderkey")
    }),
    // -- sort / top-k -----------------------------------------------------
    "q_sort_topk" -> ((s, d) => {
      t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice"), 2).as("price"))
        .orderBy(col("price").desc, col("l_orderkey"), col("l_linenumber"))
        .limit(20)
    }),
    // -- set ops ----------------------------------------------------------
    "q_set_ops" -> ((s, d) => {
      val cust = t(s, d, "customer")
      val o = t(s, d, "orders")
      val seg = cust.where(col("c_mktsegment") === "BUILDING").select("c_custkey")
        .union(cust.where(col("c_mktsegment") === "AUTOMOBILE").select("c_custkey"))
        .distinct()
      val positive = cust.where(col("c_acctbal") > 0).select("c_custkey")
      val big = o.where(col("o_totalprice") > 400000).select(col("o_custkey").as("c_custkey"))
      seg.intersect(positive).except(big).orderBy("c_custkey")
    }),
    // -- scalar families --------------------------------------------------
    "q_scalar_string" -> ((s, d) => {
      t(s, d, "part").where(col("p_partkey") % 10 === 0)
        .select(col("p_partkey"),
          lower(col("p_name")).as("lname"),
          upper(col("p_brand")).as("ubrand"),
          substring(col("p_name"), 1, 5).as("pfx"),
          length(col("p_name")).as("len"),
          regexp_extract(col("p_name"), "([0-9]+)", 1).as("num"),
          concat_ws("-", col("p_brand"), col("p_type")).as("cat"),
          lpad(col("p_partkey").cast("string"), 8, "0").as("padded"))
        .orderBy("p_partkey")
    }),
    "q_scalar_more" -> ((s, d) => {
      t(s, d, "part").where(col("p_partkey") % 17 === 0)
        .select(col("p_partkey"),
          translate(col("p_brand"), "#", "-").as("tbrand"),
          initcap(lower(col("p_name"))).as("icap"),
          reverse(col("p_type")).as("rtype"),
          expr("repeat('x', CAST(p_size % 4 AS INT))").as("rep"),
          instr(col("p_name"), "_").cast("int").as("uspos"))
        .orderBy("p_partkey")
    }),
    "q_array_ops" -> ((s, d) => {
      val tk = split(trim(lower(col("text"))), "\\s+")
      t(s, d, "documents").where(col("doc_id") % 3 === 0)
        .select(col("doc_id"),
          size(tk).as("n"),
          element_at(array_sort(tk), 1).as("first_sorted"),
          array_contains(tk, "the").as("has_the"),
          concat_ws("|", slice(tk, 1, 3)).as("first3"))
        .orderBy("doc_id")
    }),
    "q_scalar_date" -> ((s, d) => {
      t(s, d, "orders").where(col("o_orderkey") % 7 === 0)
        .select(col("o_orderkey"),
          year(col("o_orderdate")).as("yr"),
          month(col("o_orderdate")).as("mo"),
          dayofmonth(col("o_orderdate")).as("dom"),
          quarter(col("o_orderdate")).as("qtr"),
          date_format(col("o_orderdate"), "yyyy-MM").as("ym"),
          datediff(lit("2002-01-01").cast("date"), col("o_orderdate").cast("date")).as("days_to"),
          date_format(date_add(col("o_orderdate").cast("date"), 30), "yyyy-MM-dd").as("plus30"))
        .orderBy("o_orderkey")
    }),
    "q_scalar_math" -> ((s, d) => {
      t(s, d, "lineitem").where(col("l_orderkey") % 50 === 0)
        .select(col("l_orderkey"), col("l_linenumber"),
          round(sqrt(col("l_extendedprice")), 4).as("sq"),
          round(pow(col("l_discount"), 2), 6).as("d2"),
          round(abs(col("l_tax") - col("l_discount")), 4).as("ad"),
          ceil(col("l_quantity")).as("cq"),
          floor(col("l_extendedprice") / 1000).as("kprice"),
          (col("l_quantity").cast("int") % 7).as("qmod"),
          round(log(col("l_extendedprice")), 4).as("lnp"))
        .orderBy("l_orderkey", "l_linenumber")
    }),
    "q_scalar_case" -> ((s, d) => {
      t(s, d, "customer")
        .select(when(col("c_acctbal") < 0, "neg")
          .when(col("c_acctbal") < 3000, "low")
          .when(col("c_acctbal") < 7000, "mid")
          .otherwise("high").as("bucket"), col("c_acctbal"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("cnt"), round(sum(col("c_acctbal")), 2).as("bal"))
        .orderBy("bucket")
    }),
    "q_json" -> ((s, d) => {
      Tables.events(s, d)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"),
          round(avg(col("k")), 2).as("avg_k"),
          max(col("k")).as("max_k"))
        .orderBy("event_type")
    }),
    "q_json_schema" -> ((s, d) => {
      // schema-directed JSON parse (from_json), vs the path-extraction
      // in q_json
      Tables.events(s, d)
        .select(col("event_id"),
          from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k INT"))
            .getField("k").as("k"))
        .where(col("k").isNotNull && col("k") % 10 === 0)
        .orderBy("event_id")
    }),
    "q_events_hourly" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hr"),
          col("event_type"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("val"))
        .orderBy("hr", "event_type")
    }),
    "q_cdc_snapshot" -> ((s, d) => {
      // CDC latest-wins snapshot (the batch MERGE/upsert apply): the
      // events table read as a change stream keyed by user — the last
      // change per key (event-time order, event_id tie-break) is the
      // key's current state, and a key whose last change is the
      // tombstone type ('error') is dropped from the snapshot.
      // Partial+final max(struct) aggregation, NOT a window sort: the
      // latest-change-per-key reduction is associative, so at 100 TB
      // it map-side combines inside the scan stage instead of
      // shuffle-sorting every change row per key.
      Tables.events(s, d)
        .select(col("user_id"), col("event_type"), col("value"),
          unix_micros(col("ts")).as("tus"), col("event_id"))
        .groupBy(col("user_id"))
        .agg(max(struct(col("tus"), col("event_id"), col("event_type"),
          col("value"))).as("m"))
        .select(col("user_id"), col("m.event_type").as("last_type"),
          col("m.value").as("last_value"), col("m.tus").as("last_ts"))
        .where(col("last_type") =!= "error")
        .orderBy("user_id")
    }),
    "q_events_transitions" -> ((s, d) => {
      // user-journey transition matrix (the Markov building block of
      // path analysis): adjacent event-type pairs per user in
      // event-time order, counted over all users. The window sort is
      // per-user within the hash shuffle — never a global sort — and
      // the output domain is |event_types|^2, driver-safe at any SF.
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("event_type").as("to_type"),
          lag(col("event_type"), 1).over(w).as("from_type"))
        .where(col("from_type").isNotNull)
        .groupBy("from_type", "to_type")
        .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))
        .orderBy("from_type", "to_type")
    }),
    "q_basket_pairs" -> ((s, d) => {
      // frequent co-occurring item pairs (market-basket support
      // counts): parts appearing together in >= 3 orders. Two guards
      // keep the per-basket-quadratic self-join bounded at any scale:
      // (1) APRIORI PRUNE — an item in < 3 baskets cannot be in a
      // pair with support >= 3, so the self-join input is semi-joined
      // against the frequent-item set first (the A-Priori downward-
      // closure property, Agrawal & Srikant VLDB'94); (2) BASKET CAP —
      // baskets over 1000 distinct frequent items are excluded (both
      // engines apply the cap, so the oracle stays exact), bounding
      // any single basket's pair fan-out at ~500k instead of letting
      // one pathological mega-basket go quadratic unchecked. The
      // (order, part) dedup happens BEFORE the join, so the join
      // output needs no distinct pass.
      val li = t(s, d, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey")).distinct()
      val frequent = li.groupBy("l_partkey").agg(count(lit(1)).as("sup"))
        .where(col("sup") >= 3).select(col("l_partkey"))
      val pruned = li.join(frequent, Seq("l_partkey"), "left_semi")
      val small = pruned.groupBy("ok").agg(count(lit(1)).as("bsz"))
        .where(col("bsz") <= 1000).select(col("ok"))
      // self-join pin rule (Dedup.scala header): without the pin each
      // join side re-executes the whole distinct + double-semi-join
      // derivation (the frequent-set semi joins broadcast, so there is
      // no exchange for ReuseExchange to dedupe)
      val items = pruned.join(small, Seq("ok"), "left_semi").localCheckpoint(true)
      // r21, guide §3.1: shuffled-hash pin on one side. The planner's
      // estimate-driven default auto-BROADCAST the 600k-row side at
      // fixture scale (collect + full-table hash build per task) and
      // would flip to SMJ (two full sorts) past the 10 MB estimate;
      // the pin makes the strategy deterministic at any scale with
      // per-partition-bounded hash builds. Measured 1.84 -> 1.57 s
      // same-window; the pair set + support counts are
      // order-independent, so output is identical either way.
      items.select(col("ok"), col("l_partkey").as("pi"))
        .join(items.select(col("ok"), col("l_partkey").as("pj"))
          .hint("shuffle_hash"), "ok")
        .where(col("pi") < col("pj"))
        .groupBy("pi", "pj").agg(count(lit(1)).as("n_orders"))
        .where(col("n_orders") >= 3)
        .orderBy(desc("n_orders"), col("pi"), col("pj"))
    }),
    "q_events_twa" -> ((s, d) => {
      // time-weighted average value per user (the sensor/price rollup
      // shape): each event's value is held until the user's next
      // event; weight = hold duration in micros. Exact oracle parity:
      // values are 6-decimal-quantized into small decimals BEFORE the
      // multiply so every term (decimal x exact integer micros) and
      // the sum are exact in both engines — only the final division
      // happens in (deterministic IEEE) double arithmetic.
      val e = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("value"),
          unix_micros(col("ts")).as("tus"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("tus"), col("event_id"))
      e.withColumn("dur", lead(col("tus"), 1).over(w) - col("tus"))
        .where(col("dur").isNotNull)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_holds"),
          sum(col("dur")).as("held_us"),
          round(sum(round(col("value"), 6).cast("decimal(19,6)") *
              col("dur").cast("decimal(19,0)")).cast("double") /
            sum(col("dur")).cast("double"), 6).as("twa"))
        .orderBy("user_id")
    }),
    "q_quality_checks" -> ((s, d) => {
      // data-quality constraint suite (the Deequ/expectations shape):
      // five single-table constraints evaluated in ONE scan as
      // conditional aggregates — a constraint suite must not cost one
      // pass per check at 100 TB — plus a referential check as a
      // broadcast anti-join. Output: (check_name, violations).
      val o = t(s, d, "orders")
      val single = o.agg(
          (count(lit(1)) - countDistinct(col("o_orderkey"))).as("pk_unique_orderkey"),
          sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("notnull_custkey"),
          sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L)).as("positive_totalprice"),
          sum(when(!col("o_orderstatus").isin("F", "O", "P"), 1L).otherwise(0L))
            .as("status_in_domain"),
          sum(when(col("o_orderdate") < lit("1992-01-01").cast("timestamp") ||
              col("o_orderdate") >= lit("1999-01-01").cast("timestamp"), 1L)
            .otherwise(0L)).as("orderdate_in_range"))
        .unpivot(Array.empty[org.apache.spark.sql.Column],
          Array(col("pk_unique_orderkey"), col("notnull_custkey"),
            col("positive_totalprice"), col("status_in_domain"),
            col("orderdate_in_range")),
          "check_name", "violations")
      val fk = o.join(broadcast(t(s, d, "customer").select(col("c_custkey"))),
          col("o_custkey") === col("c_custkey"), "left_anti")
        .agg(count(lit(1)).as("violations"))
        .select(lit("fk_orders_customer").as("check_name"), col("violations"))
      single.union(fk).orderBy("check_name")
    }),
    "q_events_abtest" -> ((s, d) => {
      // Welch's two-sample test between the view/click value
      // populations — the A/B-experiment readout. ONE conditional-agg
      // scan produces both groups' exact decimal power sums; the
      // t-statistic is reported SQUARED (t², no sqrt crosses engines —
      // q_events_anomaly precedent) with the Welch–Satterthwaite df
      // from the same terms. All downstream arithmetic is the same
      // double expression tree on identically-derived inputs, so the
      // oracle hash-matches. Scale: one partial+final agg, no join.
      def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(18,6)")
      val e = Tables.events(s, d)
        .where(col("event_type").isin("view", "click") && col("value").isNotNull)
      val g = e.agg(
        sum(when(col("event_type") === "view", 1L)).cast("double").as("na"),
        round(sum(when(col("event_type") === "view", dec(col("value")))), 6)
          .cast("double").as("sa1"),
        round(sum(when(col("event_type") === "view",
          dec(col("value")) * dec(col("value")))), 6).cast("double").as("sa2"),
        sum(when(col("event_type") === "click", 1L)).cast("double").as("nb"),
        round(sum(when(col("event_type") === "click", dec(col("value")))), 6)
          .cast("double").as("sb1"),
        round(sum(when(col("event_type") === "click",
          dec(col("value")) * dec(col("value")))), 6).cast("double").as("sb2"))
      val ma = col("sa1") / col("na"); val mb = col("sb1") / col("nb")
      val va = (col("sa2") - col("sa1") * col("sa1") / col("na")) / (col("na") - 1)
      val vb = (col("sb2") - col("sb1") * col("sb1") / col("nb")) / (col("nb") - 1)
      val sea = va / col("na"); val seb = vb / col("nb")
      val se2 = sea + seb
      g.select(
        col("na").cast("long").as("n_a"), col("nb").cast("long").as("n_b"),
        round(ma, 4).as("mean_a"), round(mb, 4).as("mean_b"),
        round((ma - mb) * (ma - mb) / se2, 4).as("t2"),
        round(se2 * se2 / (sea * sea / (col("na") - 1) + seb * seb / (col("nb") - 1)), 2)
          .as("df"))
    }),
    "q_window_ewma" -> ((s, d) => {
      // per-user EWMA (w = 0.2·x + 0.8·w_prev, seeded with the first
      // value) — the recursive smoothing no SQL window frame expresses.
      // Folded over the per-user time-ordered value list with the SAME
      // left fold order as DuckDB's list_reduce, so the double chain is
      // bit-identical. The collect_list is per-user and bounded by user
      // activity (the events fixture's per-user cardinality; a 100 TB
      // deployment bounds it with a time window first) — state shape
      // identical to the sessionize operators'.
      val e = Tables.events(s, d).where(col("value").isNotNull)
        .select(col("user_id"),
          struct(col("ts"), col("event_id"), col("value")).as("p"))
      e.groupBy("user_id")
        .agg(array_sort(collect_list(col("p"))).as("ps"))
        .withColumn("vals", expr("transform(ps, x -> x.value)"))
        .select(col("user_id"), size(col("vals")).cast("long").as("n_events"),
          // element_at is 1-based like the slice; vals[1] would be the
          // SECOND element (bracket indexing is 0-based) and seed the
          // fold off by one — caught by the oracle at 4dp
          round(expr("aggregate(slice(vals, 2, size(vals) - 1), element_at(vals, 1)," +
            " (acc, x) -> 0.2D * x + 0.8D * acc)"), 4).as("ewma"))
        .orderBy("user_id")
    }),
    "q_window_locf" -> ((s, d) => {
      // Forward fill (last observation carried forward) — the
      // time-series gap-repair primitive: error rows carry no reading
      // (value masked to NULL), and each user's series repairs from
      // its most recent non-null observation. `last(_, ignoreNulls)`
      // over a running row frame is ONE window pass over ONE exchange
      // keyed by user — no self-join, no correlated subquery; at
      // 100 TB this is the same single hash-partition + sort-window
      // shape as every other per-key series operator here. Values
      // pass through untouched (no arithmetic), so the oracle
      // hash-matches bit-for-bit.
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .where(col("user_id") % 25 === 0)
        .withColumn("reading", when(col("event_type") =!= "error", col("value")))
        .select(col("user_id"), col("event_id"), col("reading"),
          last(col("reading"), ignoreNulls = true).over(w).as("filled"))
        .orderBy("user_id", "event_id")
    }),
    "q_events_ohlc" -> ((s, d) => {
      // Time-bucketed OHLC bars (the metrics-downsampling shape:
      // open/high/low/close + volume per hour per series). Open and
      // close are deterministic argmin/argmax by the unique
      // (ts, event_id) order, computed as ONE partial+final struct
      // min/max agg — no window sort, no second scan; high/low/volume
      // ride the same agg. Turnover is the repo's exact-decimal money
      // sum. At 100 TB: one exchange keyed by (series, bucket), state
      // one struct per group — the same mergeable-agg shape as
      // q_cdc_snapshot's latest-wins fold.
      val e = Tables.events(s, d).where(col("value").isNotNull)
        .select(col("event_type"), date_trunc("hour", col("ts")).as("hr"),
          unix_micros(col("ts")).as("tus"), col("event_id"), col("value"))
      def key = struct(col("tus").as("tus"), col("event_id").as("eid"),
        col("value").as("v"))
      e.groupBy("event_type", "hr").agg(
          min(key).getField("v").as("open"),
          max(col("value")).as("high"),
          min(col("value")).as("low"),
          max(key).getField("v").as("close"),
          count(lit(1)).as("volume"),
          round(sum(col("value").cast("decimal(18,6)")), 2).cast("double")
            .as("turnover"))
        .select(col("event_type"),
          date_format(col("hr"), "yyyy-MM-dd HH:mm:ss").as("hr"),
          col("open"), col("high"), col("low"), col("close"),
          col("volume"), col("turnover"))
        .orderBy("event_type", "hr")
    }),
    "q_events_concurrency" -> ((s, d) => {
      // Peak-concurrency (interval stabbing count): each event opens a
      // 5-minute half-open activity interval [ts, ts+300s); per event
      // type, find the maximum number of simultaneously open intervals
      // and the first instant it is reached. The classic +1/-1
      // boundary sweep: 2 boundary rows per event, running sum ordered
      // by (t, delta) so a close at instant t sorts before an open at
      // t (half-open semantics). ONE exchange keyed by type carries
      // both windows AND the final agg — boundary generation is a
      // single-scan explode, never a self-join. At 100 TB the sweep is
      // exactly the interval-join bin trick's degenerate form: work is
      // O(2n log n) per key, state O(1).
      val gapUs = 300L * 1000000L
      val e = Tables.events(s, d)
        .select(col("event_type"), unix_micros(col("ts")).as("tus"))
      val bounds = e.select(col("event_type"), explode(array(
          struct(col("tus").as("t"), lit(1).as("delta")),
          struct((col("tus") + gapUs).as("t"), lit(-1).as("delta")))).as("b"))
        .select(col("event_type"), col("b.t").as("t"), col("b.delta").as("delta"))
      val sweep = Window.partitionBy("event_type").orderBy("t", "delta")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val conc = bounds.withColumn("conc", sum(col("delta")).over(sweep))
        .withColumn("peak", max(col("conc")).over(Window.partitionBy("event_type")))
      conc.groupBy("event_type").agg(
          max(col("conc")).cast("long").as("peak"),
          min(when(col("conc") === col("peak"), col("t"))).as("first_peak_us"),
          sum(when(col("delta") === 1, 1L).otherwise(0L)).as("n_intervals"))
        .orderBy("event_type")
    }),
    "q_privacy_kanon" -> ((s, d) => {
      // k-ANONYMITY census (Sweeney 2002) — the governance gate a
      // dataset passes before release: group by the quasi-identifier
      // tuple (nation, segment, account-balance band), then the
      // dataset's k-anonymity is the SMALLEST group (any group of 1
      // is a re-identifiable individual). Log2-bucketed group-size
      // census (≤64 rows at any scale) + the k and singleton-count
      // readouts. The balance band uses shift-then-DIV on ROUNDED
      // integer cents ((round(bal·100) + 100000) DIV 100000):
      // c_acctbal is a DOUBLE, so bal·100 is within 1 ulp of — but not
      // exactly — an integer; an explicit round() on BOTH engines
      // lands on the same integer (the value is never near a .5
      // half), where a truncating CAST (Spark) vs a rounding ::BIGINT
      // (DuckDB) would disagree on most rows (r15 advice). Truncating
      // DIV (Spark) and floor // (DuckDB) agree on non-negative
      // operands, and the shift makes the operand non-negative — no
      // float division, no negative-floor divergence. One hash agg
      // over one scan; the stats side is a broadcast 1-row scalar.
      val g = t(s, d, "customer")
        .groupBy(col("c_nationkey"), col("c_mktsegment"),
          expr("(CAST(round(c_acctbal * 100) AS BIGINT) + 100000) DIV 100000")
            .as("bal_band"))
        .agg(count(lit(1)).as("gsz"))
      val st = g.agg(min("gsz").as("kanon"),
        sum(when(col("gsz") === 1, 1L).otherwise(0L)).as("n_singletons"))
      g.groupBy(length(bin(col("gsz"))).cast("int").as("bucket"))
        .agg(count(lit(1)).as("n_groups"),
          sum("gsz").cast("long").as("n_rows"))
        .crossJoin(broadcast(st))
        .select(col("bucket"), col("n_groups"), col("n_rows"),
          col("kanon").cast("long").as("kanon"),
          col("n_singletons").cast("long").as("n_singletons"))
        .orderBy("bucket")
    }),
    "q_privacy_ldiversity" -> ((s, d) => {
      // l-DIVERSITY census (Machanavajjhala et al. 2007) — k-anonymity's
      // stricter sibling in the release-governance ladder: a group can
      // be k-large yet still leak its sensitive attribute if every
      // member SHARES one value (the homogeneity attack k-anonymity
      // misses). Quasi-identifier = (nation, segment) — one band
      // coarser than q_privacy_kanon's tuple, so groups are large and
      // the question shifts from "how small" to "how uniform";
      // sensitive attribute = the same rounded-cents $1000 balance
      // band (the kanon discipline: round() on BOTH engines, then
      // non-negative shift-then-DIV). l per group = COUNT(DISTINCT
      // band); readout = census of groups per l + the dataset's l
      // (the minimum) and the homogeneous-group count (l = 1 — the
      // groups an adversary reads exactly). Distinct-inside-group is
      // one partial-agg pass (Spark expands to a two-level agg keyed
      // by (group, band) — both shuffles on bounded keys); the stats
      // side is a broadcast 1-row scalar.
      val g = t(s, d, "customer")
        .groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(countDistinct(
            expr("(CAST(round(c_acctbal * 100) AS BIGINT) + 100000) DIV 100000"))
          .as("l"),
          count(lit(1)).as("gsz"))
      val st = g.agg(min("l").as("ldiv"),
        sum(when(col("l") === 1, 1L).otherwise(0L)).as("n_homogeneous"))
      g.groupBy(col("l").cast("long").as("l"))
        .agg(count(lit(1)).as("n_groups"),
          sum("gsz").cast("long").as("n_rows"))
        .crossJoin(broadcast(st))
        .select(col("l"), col("n_groups"), col("n_rows"),
          col("ldiv").cast("long").as("ldiv"),
          col("n_homogeneous").cast("long").as("n_homogeneous"))
        .orderBy("l")
    }),
    "q_privacy_tcloseness" -> ((s, d) => {
      // t-CLOSENESS census (Li, Li & Venkatasubramanian 2007) — the
      // third rung of the release-governance ladder: a group can be
      // k-large AND l-diverse yet still leak (skewness attack) if its
      // sensitive-value DISTRIBUTION differs from the table's. For an
      // ordered sensitive attribute (the rounded-cents $1000 balance
      // band) the paper's distance is the Earth-Mover's Distance with
      // unit adjacent-band cost = (1/(B−1))·Σ_prefix |cumP_g − cumP|.
      // Computed EXACTLY in cross-multiplied integers: per (group,
      // band-prefix) the term is |cum_gb·N − cumN_b·n_g| (both
      // products ≤ n_g·N — Long holds to N ≈ 3·10⁶ customers at the
      // final ·10⁶ ppm scaling; past that the two products take one
      // decimal(38,0) cast, the q_mix_shuffle envelope convention,
      // refusing loudly before then). Per-group readout t in exact
      // ppm of the max distance, over a full group×band spine so
      // absent bands count at full weight. Everything is bounded:
      // groups ≤ nations×segments, bands ≤ balance-range/1000; the
      // only corpus-scale work is the ONE (group, band) hash agg.
      val banded = t(s, d, "customer")
        .select(col("c_nationkey"), col("c_mktsegment"),
          expr("(CAST(round(c_acctbal * 100) AS BIGINT) + 100000) DIV 100000")
            .as("band"))
      val gb = banded.groupBy("c_nationkey", "c_mktsegment", "band")
        .agg(count(lit(1)).as("ngb"))
        .localCheckpoint(true) // spine + three marginals read it
      val groups = gb.groupBy("c_nationkey", "c_mktsegment")
        .agg(sum("ngb").cast("long").as("ng"))
      val bands = gb.groupBy("band").agg(sum("ngb").cast("long").as("nb"))
      val nTot = gb.agg(sum("ngb").cast("long").as("nn"),
        countDistinct("band").cast("long").as("bcnt"))
      val wCum = Window.partitionBy("c_nationkey", "c_mktsegment")
        .orderBy("band").rowsBetween(Window.unboundedPreceding, 0)
      val wCumG = Window.orderBy("band")
        .rowsBetween(Window.unboundedPreceding, 0)
      val spine = groups.crossJoin(broadcast(
          bands.withColumn("cumnb", sum("nb").over(wCumG))))
        .crossJoin(broadcast(nTot))
      spine
        .join(gb, Seq("c_nationkey", "c_mktsegment", "band"), "left_outer")
        .withColumn("cumg",
          sum(coalesce(col("ngb"), lit(0L))).over(wCum))
        .groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(max("ng").as("gsz"),
          sum(abs(col("cumg") * col("nn") - col("cumnb") * col("ng")))
            .as("emd_raw"),
          max("nn").as("nn2"), max("bcnt").as("bcnt2"))
        .select(col("c_nationkey"), col("c_mktsegment"),
          col("gsz").cast("long").as("gsz"),
          expr("emd_raw * 1000000 DIV (greatest(1, bcnt2 - 1) * gsz * nn2)")
            .cast("long").as("t_ppm"))
        .orderBy(col("c_nationkey"), col("c_mktsegment"))
    }),
    "q_profile_skew" -> ((s, d) => {
      // JOIN-KEY skew census — the "should this join be salted"
      // decision input the adaptive-salting machinery consumes, as a
      // first-class readout: per-key counts of the natural join key
      // (o_custkey), log2-bucketed like q_graph_degree_dist (the
      // 100 TB skew fingerprint is ≤64 rows at any scale), plus the
      // global skew ratio max_cnt/avg_cnt in exact integer ppm
      // (cross-multiplied: max·K·10⁶ DIV N — no float division). Two
      // hash aggs over one scan + one broadcast 1-row scalar.
      val c = t(s, d, "orders")
        .groupBy(col("o_custkey").as("k")).agg(count(lit(1)).as("cnt"))
      val g = c.agg(count(lit(1)).as("kk"), sum("cnt").as("n"),
        max("cnt").as("mx"))
      c.groupBy(length(bin(col("cnt"))).cast("int").as("bucket"))
        .agg(count(lit(1)).as("n_keys"),
          sum("cnt").cast("long").as("n_rows"),
          min("cnt").cast("long").as("min_cnt"),
          max("cnt").cast("long").as("max_cnt"))
        .crossJoin(broadcast(g))
        .select(col("bucket"), col("n_keys"), col("n_rows"),
          col("min_cnt"), col("max_cnt"),
          expr("mx * kk * 1000000 DIV n").cast("long").as("skew_ppm"))
        .orderBy("bucket")
    }),
    "q_layout_skipping" -> ((s, d) => {
      // Data-SKIPPING effectiveness audit — q_layout_zorder's
      // MEASUREMENT sibling (the one-readout-per-family convention):
      // that entry produces the clustered layout's bounding boxes;
      // this one quantifies what the clustering BUYS at 100 TB, where
      // multi-dimensional layout decides how many files a two-column
      // predicate touches.
      // Each row's (x, y) = the low 8 bits of (l_partkey, l_suppkey);
      // z = bit-interleave(x, y) (Morton order), bucket = z DIV 2048
      // (32 z-range "files", each a 64×32 tile of (x, y) space) vs the
      // NATURAL ingest layout (32 equal l_orderkey ranges — the order
      // data arrives in, uncorrelated with either key). Per (layout,
      // bucket): row count, the zone-map [min, max] of BOTH keys, and
      // scan_hit = whether a zone map on x can prune the bucket for
      // the probe predicate x BETWEEN 10 AND 20 — under z-order every
      // bucket's x-range is 64 wide (≈¾ of buckets prune), under
      // natural every bucket spans the full 0..255 (nothing prunes).
      // ONE scan: the two layouts explode from the same row (2× rows,
      // narrow), one hash agg on ≤64 groups; the orderkey-range
      // denominator is a broadcast 1-row scalar. The interleave is
      // pure integer shift/mask arithmetic inside codegen — the
      // identical formula the oracle evaluates.
      val omax = t(s, d, "lineitem").agg(max("l_orderkey").as("omax"))
      t(s, d, "lineitem")
        .select(col("l_orderkey"),
          (col("l_partkey") % 256).cast("long").as("x"),
          (col("l_suppkey") % 256).cast("long").as("y"))
        .withColumn("z", expr(zInterleaveSparkSql))
        .crossJoin(broadcast(omax))
        .select(col("x"), col("y"), explode(array(
          struct(lit("zorder").as("layout"),
            expr("z DIV 2048").cast("long").as("bucket")),
          struct(lit("natural").as("layout"),
            expr("(l_orderkey * 32) DIV (omax + 1)").cast("long").as("bucket"))))
          .as("lb"))
        .select(col("lb.layout").as("layout"), col("lb.bucket").as("bucket"),
          col("x"), col("y"))
        .groupBy("layout", "bucket")
        .agg(count(lit(1)).as("n"),
          min("x").as("min_x"), max("x").as("max_x"),
          min("y").as("min_y"), max("y").as("max_y"))
        .withColumn("scan_hit",
          when(col("max_x") < 10 || col("min_x") > 20, 0L).otherwise(1L))
        .orderBy("layout", "bucket")
    }),
    "q_profile_table" -> ((s, d) => {
      // One-scan table profiling (the `DESCRIBE`/data-catalog
      // statistics primitive): per column — null count, exact distinct
      // count, numeric/temporal min and max — computed in a SINGLE
      // aggregation over ONE scan (the multi-column count(DISTINCT)
      // plans one Expand pass, the standard exact-NDV shape; a 100 TB
      // profiler swaps in approx_count_distinct and drops the Expand,
      // same query shape). The wide one-row result unpivots to one row
      // per column entirely driver-free. String min/max are reported
      // NULL (cross-engine collation is not part of the contract).
      // DELIBERATE sibling of q_profile, which takes the opposite
      // trade (one pruned scan PER column, no Expand) — the two
      // formulations bracket the profiling cost model.
      val o = t(s, d, "orders")
      def nulls(c: String) = sum(when(col(c).isNull, 1L).otherwise(0L))
      val wide = o.agg(
        nulls("o_orderkey").as("nn_orderkey"),
        countDistinct(col("o_orderkey")).as("nd_orderkey"),
        min(col("o_orderkey")).cast("double").as("mn_orderkey"),
        max(col("o_orderkey")).cast("double").as("mx_orderkey"),
        nulls("o_custkey").as("nn_custkey"),
        countDistinct(col("o_custkey")).as("nd_custkey"),
        min(col("o_custkey")).cast("double").as("mn_custkey"),
        max(col("o_custkey")).cast("double").as("mx_custkey"),
        nulls("o_orderstatus").as("nn_orderstatus"),
        countDistinct(col("o_orderstatus")).as("nd_orderstatus"),
        nulls("o_totalprice").as("nn_totalprice"),
        countDistinct(col("o_totalprice")).as("nd_totalprice"),
        min(col("o_totalprice")).as("mn_totalprice"),
        max(col("o_totalprice")).as("mx_totalprice"),
        nulls("o_orderdate").as("nn_orderdate"),
        countDistinct(col("o_orderdate")).as("nd_orderdate"),
        // fixtures ship o_orderdate as TIMESTAMP_NTZ since the 08-13
        // refresh; the session-zone cast (UTC in Verify/Bench) makes
        // unix_micros read the same naive wall clock DuckDB's epoch_us
        // sees (Tables.events precedent)
        unix_micros(min(col("o_orderdate")).cast("timestamp")).cast("double")
          .as("mn_orderdate"),
        unix_micros(max(col("o_orderdate")).cast("timestamp")).cast("double")
          .as("mx_orderdate"),
        nulls("o_orderpriority").as("nn_orderpriority"),
        countDistinct(col("o_orderpriority")).as("nd_orderpriority"))
      def row(name: String, hasMinMax: Boolean) = struct(
        lit(name).as("col_name"), col(s"nn_$name").as("n_null"),
        col(s"nd_$name").as("n_distinct"),
        (if (hasMinMax) col(s"mn_$name") else lit(null).cast("double")).as("min_v"),
        (if (hasMinMax) col(s"mx_$name") else lit(null).cast("double")).as("max_v"))
      wide.select(explode(array(
          row("orderkey", hasMinMax = true), row("custkey", hasMinMax = true),
          row("orderstatus", hasMinMax = false),
          row("totalprice", hasMinMax = true),
          row("orderdate", hasMinMax = true),
          row("orderpriority", hasMinMax = false))).as("p"))
        .select(col("p.col_name").as("col_name"), col("p.n_null").as("n_null"),
          col("p.n_distinct").as("n_distinct"), col("p.min_v").as("min_v"),
          col("p.max_v").as("max_v"))
        .orderBy("col_name")
    }),
    "q_sql_exec_immediate" -> ((s, d) => {
      // EXECUTE IMMEDIATE (Spark 4) — dynamic SQL with USING-clause
      // parameter binding: the stored-template execution surface a
      // query service exposes when the statement itself is data (the
      // reference's opcode->template dispatch, one step further than
      // q_sql_params' fixed template). The bound markers are typed
      // parameters, not string splices — injection-safe by
      // construction; the executed plan is the inlined query's.
      t(s, d, "supplier").createOrReplaceTempView("graft_supp_ei")
      s.sql("DECLARE OR REPLACE VARIABLE graft_ei_sql STRING")
      s.sql("""SET VAR graft_ei_sql =
        'SELECT s_nationkey, count(*) AS n,
                sum(cast(s_acctbal AS decimal(38,6))) AS bal0
         FROM graft_supp_ei WHERE s_acctbal > ? GROUP BY s_nationkey'""")
      s.sql("EXECUTE IMMEDIATE graft_ei_sql USING 1000")
        .select(col("s_nationkey"),
          col("n").cast("long").as("n"),
          round(col("bal0").cast("double"), 2).as("bal"))
        .orderBy("s_nationkey")
    }),
    "q_sql_pipe" -> ((s, d) => {
      // SQL pipe syntax (Spark 4 `|>` operators — the linear
      // composition form): each stage parses into the SAME logical
      // operators as the nested query (EliminatePipeOperators strips
      // the markers at analysis), so the plan is identical to the
      // plain SQL the oracle runs. The linear form is the natural
      // query-service surface for composed request templates — the
      // reference's menu-driven request chain, as one statement.
      t(s, d, "orders").createOrReplaceTempView("graft_orders_pipe")
      s.sql(
        """FROM graft_orders_pipe
           |> WHERE o_orderstatus = 'O'
           |> AGGREGATE count(*) AS n,
                round(sum(cast(o_totalprice AS decimal(38,6))), 2) AS tot0
              GROUP BY o_orderpriority
           |> SELECT o_orderpriority, n, cast(tot0 AS double) AS tot
           |> ORDER BY o_orderpriority""")
        .select(col("o_orderpriority"), col("n").cast("long").as("n"), col("tot"))
    }),
    "q_sql_params" -> ((s, d) => {
      // parameterized SQL (Spark 4 named-parameter API) — the
      // injection-safe interface a query service exposes: literals
      // bind as :params, the plan is identical to the inlined query
      // (parameters fold at analysis), and a cache can key on the
      // template. The reference's client menu is exactly this shape —
      // fixed request templates + user-supplied values.
      t(s, d, "part").createOrReplaceTempView("graft_part_pv")
      s.sql(
        """SELECT p_brand, count(*) AS n, sum(p_size) AS sz
           FROM graft_part_pv
           WHERE p_size BETWEEN :lo AND :hi AND p_brand <> :excl
           GROUP BY p_brand ORDER BY p_brand""",
        Map("lo" -> 5, "hi" -> 20, "excl" -> "Brand#45"))
        .select(col("p_brand"), col("n").cast("long").as("n"),
          col("sz").cast("long").as("sz"))
    }),
    "q_udf_sql" -> ((s, d) => {
      // SQL-language UDF (Spark 4 CREATE FUNCTION ... RETURN expr) —
      // the declarative middle rung between builtins and Scala UDFs:
      // the body is Catalyst-inlined at plan time, so unlike
      // q_udf_scalar's opaque invoke it keeps codegen and pushdown
      // (run .explain: no UDF node survives). Function: the TPC-H
      // discounted price — UNROUNDED (a per-row double round lands on
      // different HALF_UP ties across engines; the repo convention is
      // decimal-sum then one closing round).
      s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_disc_price(
                 price DOUBLE, discount DOUBLE) RETURNS DOUBLE
               RETURN price * (1.0 - discount)""")
      t(s, d, "lineitem")
        .select(col("l_returnflag"),
          expr("graft_disc_price(l_extendedprice, l_discount)").as("dp"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          round(sum(col("dp").cast("decimal(38,6)")).cast("double"), 2)
            .as("sum_disc_price"))
        .orderBy("l_returnflag")
    }),
    "q_scalar_collation" -> ((s, d) => {
      // Spark 4 COLLATION support: UTF8_LCASE comparisons make
      // grouping/equality case-insensitive WITHOUT rewriting data
      // through lower() — the engine-level answer to mixed-case keys
      // (and at scale, collation-aware comparisons stay inside
      // codegen). Deterministic mixed-casing is injected (fixture
      // strings are uniform case), then grouped under the collation;
      // the oracle groups by lower() — same classes by definition.
      val mixed = t(s, d, "part").withColumn("brand_mixed",
        when(col("p_partkey") % 2 === 0, upper(col("p_brand")))
          .otherwise(lower(col("p_brand"))))
      mixed.groupBy(expr("collate(brand_mixed, 'UTF8_LCASE')").as("b"))
        .agg(count(lit(1)).as("n"), sum(col("p_size")).cast("long").as("sz"))
        .select(lower(col("b")).as("brand"), col("n"), col("sz"))
        .orderBy("brand")
    }),
    "q_json_variant" -> ((s, d) => {
      // Spark 4 VARIANT — the open-schema semi-structured type: parse
      // the JSON ONCE into the binary variant encoding, then typed
      // variant_get path access (vs q_json's get_json_object, which
      // re-parses the string per extraction — the published variant
      // motivation is ~8x cheaper repeated access, and Parquet variant
      // shredding eventually pushes the paths to the scan). Readout:
      // per-type aggregates over a typed path plus the
      // schema_of_variant fingerprint proving the binary form carries
      // its own structure.
      Tables.events(s, d)
        .withColumn("v", parse_json(col("props")))
        .select(col("event_type"),
          expr("variant_get(v, '$.k', 'int')").as("k"),
          expr("schema_of_variant(v)").as("sch"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("k")).cast("long").as("sum_k"),
          max(col("k")).cast("long").as("max_k"),
          max(col("sch")).as("variant_schema"))
        .orderBy("event_type")
    }),
    "q_udf_scalar" -> ((s, d) => {
      // the BOTTOM rung of the extension ladder, present for
      // completeness next to the native-expression tiers (the repo's
      // order of preference is builtin functions > codegen Expression
      // > typed Aggregator > this): a plain registered Scala UDF —
      // opaque to Catalyst (no pushdown through it, breaks codegen
      // into an invoke), which is exactly why everything hot in this
      // engine is an Expression instead. Function: URL-style slugify;
      // the oracle replicates it with SQL regexes.
      s.udf.register("slugify", (name: String) =>
        if (name == null) null
        else {
          val x = name.toLowerCase.replaceAll("[^a-z0-9]+", "-")
          x.stripPrefix("-").stripSuffix("-")
        })
      t(s, d, "part")
        .select(col("p_partkey"), expr("slugify(p_name)").as("slug"))
        .where(col("p_partkey") % 37 === 0)
        .orderBy("p_partkey")
    }),
    "q_events_markov_attribution" -> ((s, d) => {
      // Markov REMOVAL-EFFECT attribution (Anderl et al.) — the
      // data-driven alternative to first/last-touch: build the
      // first-order journey chain (start → events → purchase | null,
      // purchase/null absorbing with self-loops), compute the
      // 6-step-bounded conversion probability from start, then for
      // each channel rebuild the chain WITH THAT CHANNEL REMOVED
      // (transitions into it divert to null, its outgoing rows drop)
      // and report RE(c) = 1 − P₋c/P. The horizon is FIXED (the
      // kcore/pagerank unroll contract) so the oracle replays the
      // identical six steps; every step's state sum is decimal-cast
      // per term (accumulation-order independent); the chain tables
      // are state-count-sized (dims), so every join is a broadcast
      // over a handful of rows at any SF.
      import s.implicits._
      val ev = Tables.events(s, d)
      val firstP = ev.where(col("event_type") === "purchase")
        .groupBy("user_id").agg(min(col("ts")).as("pts"))
      val steps = ev.join(firstP, Seq("user_id"), "left_outer")
        .where(col("pts").isNull || col("ts") <= col("pts"))
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val seq0 = steps
        .withColumn("nxt", lead(col("event_type"), 1).over(w))
        .withColumn("rn", row_number().over(w))
      val trans = seq0.where(col("rn") === 1)
          .select(lit("start").as("src"), col("event_type").as("dst"))
        .unionByName(seq0.where(col("nxt").isNotNull)
          .select(col("event_type").as("src"), col("nxt").as("dst")))
        .unionByName(seq0.where(col("nxt").isNull &&
            col("event_type") =!= "purchase")
          .select(col("event_type").as("src"), lit("null").as("dst")))
        .where(col("src") =!= "purchase") // absorbing: no outgoing rows
      val tShape = trans.groupBy("src", "dst").agg(count(lit(1)).as("c"))
        .withColumn("tot", sum(col("c")).over(
          org.apache.spark.sql.expressions.Window.partitionBy("src")))
        .select(col("src"), col("dst"),
          round(col("c").cast("double") / col("tot"), 8).as("p"))
      // ABSORBING-CHAIN STEPS ON THE DRIVER (r20 optimization, the
      // q_embed_pca shape): the transition matrix is STATE-COUNT²-
      // bounded (event-type enum + start/null — a schema constant, not
      // data), so its collect is bounded-by-contract at any SF, and
      // the 5 chains × 6 mat-vec steps that previously built a ~66 KB
      // lazy plan (5 localCheckpoint round-trips + an
      // optimizer-dominated final job) are driver arithmetic that
      // mirrors the old expressions operation-for-operation:
      // Double×Double products in IEEE, each term
      // valueOf(..).setScale(18, HALF_UP) ≡ cast("decimal(38,18)"),
      // exact decimal sums, doubleValue ≡ cast("double"), and
      // valueOf(..).setScale(n, HALF_UP).doubleValue ≡ round(expr, n).
      // Wave34Spec pins this against the verbatim r19 DataFrame chain.
      import java.math.{BigDecimal => JBD, RoundingMode => RM}
      def rnd(x: Double, n: Int): Double =
        // Spark's Round passes non-finite doubles through unchanged;
        // JBD.valueOf would throw NumberFormatException on them (r20
        // ADVICE: a p_conv that rounds to 0.0 used to emit -Infinity
        // removal_effect rows — reproduce, don't crash)
        if (x.isNaN || x.isInfinite) x
        else JBD.valueOf(x).setScale(n, RM.HALF_UP).doubleValue
      val tRows = tShape.collect()
        .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSeq
      val absorbL = Seq(("purchase", "purchase", 1.0), ("null", "null", 1.0))
      def pconv(removed: Option[String]): Option[Double] = {
        val base = removed match {
          case None => tRows
          case Some(c) => tRows.filter(_._1 != c)
            .map { case (s0, d0, p) => (s0, if (d0 == c) "null" else d0, p) }
        }
        val tm = (base ++ absorbL).groupBy(r => (r._1, r._2))
          .map { case ((s0, d0), rs) => // diverted mass merges into null
            (s0, d0, rnd(rs.foldLeft(JBD.ZERO)((a, r) =>
              a.add(JBD.valueOf(r._3).setScale(18, RM.HALF_UP)))
              .doubleValue, 8))
          }.toSeq
        var pv = Map("start" -> 1.0)
        (1 to 6).foreach { _ =>
          pv = tm.filter(t => pv.contains(t._1)).groupBy(_._2)
            .map { case (d0, rs) =>
              d0 -> rnd(rs.foldLeft(JBD.ZERO)((a, t) =>
                a.add(JBD.valueOf(pv(t._1) * t._3).setScale(18, RM.HALF_UP)))
                .doubleValue, 8)
            }
        }
        pv.get("purchase").map(rnd(_, 6))
      }
      val channels = Seq("click", "error", "signup", "view")
      val rows = for {
        pc <- pconv(None).toSeq
        c <- channels
        pw <- pconv(Some(c)).toSeq
      } yield (c, pc, pw, rnd(1.0 - pw / pc, 4))
      rows.toDF("channel", "p_conv", "p_without", "removal_effect")
        .orderBy("channel")
    }),
    "q_agg_benford" -> ((s, d) => {
      // Benford's-law first-digit audit — the classic fraud /
      // fabricated-data screen on financial columns: the first
      // significant digit of o_totalprice against the Benford
      // distribution. The digit comes from the decimal STRING form
      // (both engines print these mid-range doubles identically —
      // no exponent form in this value range), expected probabilities
      // are fixed literals (log10(1+1/d) pre-evaluated, so no
      // cross-engine log in the compare), deviation is per-digit
      // (freq − p)² rounded.
      val benford = Seq(0.30103, 0.176091, 0.124939, 0.09691, 0.079181,
        0.066947, 0.057992, 0.051153, 0.045757)
      val expected = benford.zipWithIndex
        .map { case (p, i) => s"WHEN ${i + 1} THEN ${p}D" } // D: double
        // literal — a bare 0.30103 parses as DECIMAL in Spark SQL and
        // the column type would hash-mismatch the oracle's DOUBLE
        .mkString("CASE digit ", " ", " END")
      t(s, d, "orders")
        .select(regexp_extract(col("o_totalprice").cast("string"),
          "[1-9]", 0).cast("int").as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n"))
        .withColumn("total", sum(col("n")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(lit(1))))
        .withColumn("benford_p", expr(expected))
        .select(col("digit"), col("n"),
          round(col("n").cast("double") / col("total"), 4).as("freq"),
          col("benford_p"),
          round(pow(col("n").cast("double") / col("total") -
            col("benford_p"), 2), 6).as("dev2"))
        .orderBy("digit")
    }),
    "q_events_acf" -> ((s, d) => {
      // lag-k autocorrelation of the daily event-count series
      // (k = 1..7) — the seasonality detector (a weekly cycle peaks
      // at lag 7; the time-series diagnostic behind forecast-model
      // choice): ACF_k = Pearson corr of (x_t, x_{t+k}) over aligned
      // day pairs, from EXACT integer power sums per lag (the
      // q_agg_corr recipe) with the identical closed-form
      // parenthesization in the oracle. Day counts are one hash agg;
      // the lag alignment is a date-key equi-join over the
      // study-length-bounded day list; 7 output rows at any SF.
      val daily = Tables.events(s, d)
        .groupBy(col("ts").cast("date").as("day"))
        .agg(count(lit(1)).as("x"))
        .localCheckpoint(true) // both alignment sides
      val a = daily.select(explode(array((1 to 7).map(lit): _*)).as("k"),
        col("day"), col("x").as("xa"))
      val b = daily.select(col("day").as("day2"), col("x").as("xb"))
      val g = a.join(b, expr("date_add(day, k) = day2"))
        .groupBy("k").agg(
          count(lit(1)).cast("double").as("n"),
          sum("xa").cast("double").as("sx"),
          sum("xb").cast("double").as("sy"),
          sum(col("xa") * col("xb")).cast("double").as("sxy"),
          sum(col("xa") * col("xa")).cast("double").as("sxx"),
          sum(col("xb") * col("xb")).cast("double").as("syy"))
      g.select(col("k"), col("n").cast("long").as("n_pairs"),
          (round((col("n") * col("sxy") - col("sx") * col("sy")) /
            sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
                 (col("n") * col("syy") - col("sy") * col("sy"))), 6) + 0.0)
            .as("acf"))
        .orderBy("k")
    }),
    "q_events_changepoint" -> ((s, d) => {
      // binary-segmentation CHANGEPOINT detection on the daily event-
      // count series — the structural sibling of q_events_cusum (which
      // alarms on drift; this finds WHERE the level shifted): the
      // split day maximizing the between-segment sum-of-squares
      // reduction gain(t) = (S₁n₂ − S₂n₁)² / (n·n₁·n₂). Both the
      // numerator and denominator are exact BIGINT products of
      // running sums over the bounded day spine (a window over study-
      // length rows, the q_agg_theilsen precedent), so the gain is
      // one IEEE division of exact integers — identical doubles both
      // engines, argmax + day tiebreak deterministic. The float
      // outputs are deliberately UNROUNDED: each is a single IEEE op
      // chain on exact integer inputs (bit-identical cross-engine),
      // while rounding them would reintroduce the terminating-
      // quotient half-boundary hazard (s1/n1 with n1 = 32 lands on
      // x.xxxx5 exactly). Output: the split plus both segment means.
      val daily = Tables.events(s, d)
        .groupBy(col("ts").cast("date").as("day"))
        .agg(count(lit(1)).as("x"))
      val w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
      val run = daily
        .select(col("day"), col("x"),
          sum(col("x")).over(w).as("s1"),
          count(lit(1)).over(w).as("n1"))
      val tot = daily.agg(sum(col("x")).as("st"), count(lit(1)).as("nt"))
      run.crossJoin(broadcast(tot))
        .where(col("n1") < col("nt")) // a split needs a nonempty right side
        .select(col("day").cast("string").as("split_day"), col("n1"),
          (col("nt") - col("n1")).as("n2"), col("s1"),
          (col("st") - col("s1")).as("s2"), col("nt"))
        .select(col("split_day"), col("n1"), col("n2"),
          ((col("s1") * col("n2") - col("s2") * col("n1")).cast("double") *
            (col("s1") * col("n2") - col("s2") * col("n1")).cast("double") /
            (col("nt") * col("n1") * col("n2")).cast("double")).as("gain"),
          (col("s1").cast("double") / col("n1")).as("mean_before"),
          (col("s2").cast("double") / col("n2")).as("mean_after"))
        .orderBy(col("gain").desc, col("split_day"))
        .limit(1)
    }),
    "q_events_holt" -> ((s, d) => {
      // Holt LINEAR-TREND double exponential smoothing over the last
      // 16 days of the daily event-count series, plus a 3-step-ahead
      // forecast — the first model up from q_events_forecast's
      // seasonal-naive baseline. α = β = ½ EXACTLY: every update is
      // l ← (y + l + b)·½, b ← (l' − l + b)·½ — dyadic scaling of
      // exact decimals, re-rounded to 6 in DECIMAL arithmetic each
      // step (decimal rounding is deterministic in both engines; no
      // double appears until the exact final cast). The 16-day tail
      // is fixed-size by construction, so the 15 unrolled updates are
      // 1-row broadcast stages over a pinned spine — study-length
      // work at any SF (the q_events_markov_attribution fixed-step
      // shape).
      val daily = Tables.events(s, d)
        .groupBy(col("ts").cast("date").as("day"))
        .agg(count(lit(1)).as("x"))
      // r20 optimization: the 16-day tail is FIXED-SIZE by
      // construction, so the 15 unrolled updates — previously 15
      // 1-row localCheckpoint round-trips plus 16 broadcasts — run in
      // exact driver BigDecimal after ONE collect of the spine (the
      // markov/pca bounded-state shape). Identical algebra: scale-6
      // decimals, ·½ products exact, setScale(6, HALF_UP) ≡
      // round(expr, 6), doubleValue ≡ cast("double"). The degenerate-
      // series guard (r13 advice) keeps the "zero rows unless the
      // full 16-day tail exists" pin: the old chain emptied at the
      // first missing yAt(t), the local path returns no row unless
      // all 16 days collected.
      import java.math.{BigDecimal => JBD, RoundingMode => RM}
      import s.implicits._
      val series = daily
        .withColumn("rd", row_number().over(Window.orderBy(col("day").desc)))
        .where(col("rd") <= 16)
        .select((lit(17) - col("rd")).as("rn"),
          col("x").cast("decimal(20,6)").as("y"))
        .collect().map(r => r.getInt(0) -> r.getDecimal(1)).toMap
      if (series.size != 16)
        Seq.empty[(Int, Double, Double, Double, Double, Double)]
          .toDF("n_days", "level", "trend", "f1", "f2", "f3")
      else {
        val half = new JBD("0.5")
        // mirror the replaced chain's decimal(24,6) cast: 18 integer
        // digits max per update output — the ANSI overflow refusal the
        // DataFrame loop gave for free (r20 ADVICE: don't silently
        // succeed past the old exact-decimal envelope)
        def ck(x: JBD, what: String): JBD = {
          require(x.precision - x.scale <= 18,
            s"q_events_holt: $what $x overflows decimal(24,6) — " +
              "past the exact-decimal envelope of the replaced chain")
          x
        }
        var l = series(1)
        var b = series(2).subtract(l)
        for (t <- 2 to 16) {
          val lt = ck(series(t).add(l).add(b).multiply(half)
            .setScale(6, RM.HALF_UP), "level")
          b = ck(lt.subtract(l).add(b).multiply(half)
            .setScale(6, RM.HALF_UP), "trend")
          l = lt
        }
        val two = new JBD(2); val three = new JBD(3)
        Seq((16, l.doubleValue, b.doubleValue,
            l.add(b).doubleValue,
            l.add(b.multiply(two)).doubleValue,
            l.add(b.multiply(three)).doubleValue))
          .toDF("n_days", "level", "trend", "f1", "f2", "f3")
      }
    }),
    "q_events_forecast" -> ((s, d) => {
      // forecast-baseline accuracy readout over the daily event-count
      // series — seasonal-naive (ŷ_t = y_{t−7}) scored against the
      // naive random walk (ŷ_t = y_{t−1}) by MASE = SAE_seasonal /
      // SAE_naive on the same evaluation days (both references must
      // exist). MASE < 1 says last-week beats yesterday — i.e. the
      // weekly cycle q_events_acf detects is strong enough to forecast
      // with; the go/no-go gate before fitting anything fancier. All
      // arithmetic is integer absolute errors on counts; the single
      // float op is the closing MASE division. One hash agg to the
      // day series (bounded by study length), then two day-key
      // equi-joins over the checkpointed spine — day-count-sized work
      // at any SF.
      val daily = Tables.events(s, d)
        .groupBy(col("ts").cast("date").as("day"))
        .agg(count(lit(1)).as("x"))
        .localCheckpoint(true) // spine reused as target + both refs
      val m1 = daily.select(col("day").as("d1"), col("x").as("x1"))
      val m7 = daily.select(col("day").as("d7"), col("x").as("x7"))
      daily.join(m1, expr("date_add(d1, 1) = day"))
        .join(m7, expr("date_add(d7, 7) = day"))
        .agg(count(lit(1)).as("n_eval"),
          sum(abs(col("x") - col("x1"))).cast("long").as("sae_naive"),
          sum(abs(col("x") - col("x7"))).cast("long").as("sae_seasonal"))
        .select(col("n_eval"), col("sae_naive"), col("sae_seasonal"),
          round(col("sae_seasonal").cast("double") /
            col("sae_naive").cast("double"), 6).as("mase7"))
    }),
    "q_events_interarrival" -> ((s, d) => {
      // per-user inter-arrival-time profile — the traffic-model
      // fingerprint (burstiness = mass in the low buckets, dead
      // instrumentation = mass in the high ones; the input to any
      // session-gap or rate-limit threshold choice): gap = ts −
      // lag(ts) per user in whole seconds, log2-binned by integer
      // bit length (the q_graph_degree_dist bucket rule — no float
      // log). One per-user window + one hash agg; buckets are the
      // bounded output axis at any SF.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"))
        .withColumn("prev", lag(col("ts"), 1).over(w))
        .where(col("prev").isNotNull)
        .select(expr("(unix_micros(ts) - unix_micros(prev)) div 1000000").as("gap_s"))
        .select(when(col("gap_s") <= 0, lit(0))
          .otherwise(length(bin(col("gap_s")))).cast("int").as("bucket"),
          col("gap_s"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_gaps"),
          min("gap_s").cast("long").as("min_s"),
          max("gap_s").cast("long").as("max_s"))
        .orderBy("bucket")
    }),
    "q_events_ks" -> ((s, d) => {
      // two-sample Kolmogorov–Smirnov drift statistic between the
      // click and error value distributions — the standard
      // distribution-shift test an ML-ops pipeline runs between
      // snapshots (next to CUSUM's sequential monitor). Exact integer
      // core: values carry 2 decimals so ·100 quantizes losslessly;
      // per-bucket counts hash-agg in parallel; ECDFs are cumulative
      // sums over the BOUNDED bucket axis (support size tracks the
      // value RANGE, not the row count — the binned-KS scale lever,
      // the q_graph_degree_dist bounded-support trick, so the one
      // ordered window runs over ≤ range·100 rows at any SF); the D
      // numerator is max |cumA·m − cumB·n| — cross-multiplied
      // integers, the single closing division is the only float op.
      val g = Tables.events(s, d)
        .where(col("event_type").isin("click", "error"))
        .select(col("event_type"), round(col("value") * 100).cast("long").as("b"))
        .groupBy("b")
        .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("ca"),
          sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("cb"))
      val w = org.apache.spark.sql.expressions.Window.orderBy("b")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      val tot = g.agg(sum("ca").cast("long").as("n"), sum("cb").cast("long").as("m"))
      g.select(col("b"), sum("ca").over(w).as("cuma"), sum("cb").over(w).as("cumb"))
        .crossJoin(broadcast(tot))
        .groupBy("n", "m")
        .agg(max(abs(col("cuma") * col("m") - col("cumb") * col("n")))
          .cast("long").as("d_num"))
        .select(col("n"), col("m"), col("d_num"),
          round(col("d_num").cast("double") / (col("n") * col("m")), 6).as("d"))
    }),
    "q_events_cusum" -> ((s, d) => {
      // CUSUM drift detection — the sequential change-point monitor
      // data-quality pipelines run on daily metrics: per event type,
      // c_t = max(0, c_{t-1} + (x_t − target − slack)) over the
      // per-day mean value, alarm when c_t crosses h. The recursion
      // no window frame expresses is an ORDERED fold (the EWMA /
      // survival pattern) over the study-length-bounded day list,
      // with per-step round(8) for cross-engine stability; daily
      // means and targets are decimal-exact before they enter.
      // slack k=0.5, threshold h=2.0 (standard one-sided CUSUM form).
      val ev = Tables.events(s, d)
      val daily = ev.groupBy(col("event_type"),
          col("ts").cast("date").as("day"))
        .agg(round(sum(col("value").cast("decimal(38,6)")).cast("double") /
          count(lit(1)), 6).as("x"))
      val target = daily.groupBy("event_type")
        .agg(round(sum(col("x").cast("decimal(38,18)")).cast("double") /
          count(lit(1)), 6).as("tgt"))
      val terms = daily.join(target, "event_type")
        .select(col("event_type"), col("day"),
          round(col("x") - col("tgt") - lit(0.5), 6).as("dev"))
      val packed = terms.groupBy("event_type")
        .agg(sort_array(collect_list(struct(col("day"), col("dev")))).as("ds"))
      terms.join(packed, "event_type")
        .select(col("event_type"), col("day").cast("string").as("day"),
          round(aggregate(
            filter(col("ds"), x => x.getField("day") <= col("day")),
            lit(0.0),
            (acc, x) => round(greatest(lit(0.0),
              acc + x.getField("dev")), 8)), 6).as("cusum"))
        .withColumn("alarm", col("cusum") > 2.0)
        .orderBy("event_type", "day")
    }),
    "q_events_survival" -> ((s, d) => {
      // Kaplan-Meier survival (churn analysis with CENSORING): users
      // enter at first signup, "die" at the first severe error
      // (value > 80) after entry, and users with no such event are
      // censored at their last activity — exactly the estimator's
      // point (naive churn ratios are biased by censored users; KM's
      // at-risk denominators aren't). Per death day t:
      // S(t) = Π_{t'<=t} (1 - d/n) computed as an ORDERED fold with a
      // per-step round(12) (the cross-engine float-product discipline,
      // same as the EWMA fold); the day-term table is bounded by the
      // study length, so it collects to one broadcast array. The
      // at-risk counts use a tiny-side non-equi broadcast join
      // (days × users — days is the study length, audited BNLJ).
      val ev = Tables.events(s, d)
      val st = ev.where(col("event_type") === "signup")
        .groupBy("user_id").agg(min(col("ts")).as("start"))
      val deaths = ev.where(col("event_type") === "error" && col("value") > 80)
        .join(st, "user_id").where(col("ts") > col("start"))
        .groupBy("user_id").agg(min(col("ts")).as("death"))
      val last = ev.groupBy("user_id").agg(max(col("ts")).as("last"))
      val dur = st.join(last, "user_id")
        .join(deaths, Seq("user_id"), "left_outer")
        .select(col("user_id"),
          datediff(coalesce(col("death"), col("last")).cast("date"),
            col("start").cast("date")).as("dur"),
          col("death").isNotNull.as("died"))
        .localCheckpoint(true) // feeds d_t, n_t, and nothing else twice
      val dt = dur.where(col("died"))
        .groupBy(col("dur").as("t")).agg(count(lit(1)).as("d"))
      val nt = broadcast(dt.select("t")).join(dur, col("dur") >= col("t"))
        .groupBy("t").agg(count(lit(1)).as("n"))
      val terms = dt.join(nt, "t")
        .select(col("t"), col("d"), col("n"),
          (lit(1.0) - col("d").cast("double") / col("n")).as("term"))
      val all = terms.agg(sort_array(collect_list(
        struct(col("t"), col("term")))).as("ts0"))
      terms.crossJoin(broadcast(all))
        .select(col("t").cast("long").as("t"), col("n"), col("d"),
          round(aggregate(
            filter(col("ts0"), x => x.getField("t") <= col("t")),
            lit(1.0), (acc, x) => round(acc * x.getField("term"), 12)), 6)
            .as("s_t"))
        .orderBy("t")
    }),
    "q_events_disorder" -> ((s, d) => {
      // event-time DISORDER profile — the statistic that picks a
      // streaming watermark delay: lateness(e) = running-max event
      // time over all earlier ARRIVALS minus e's event time. The
      // fixture carries no arrival column (events are written
      // time-ordered), so a deterministic md5 jitter (±60 positions)
      // simulates network reordering — injected identically in the
      // oracle, the pii/utf8 pattern. The global running max is
      // computed WITHOUT a global sort via the two-phase prefix trick
      // (q_text_pack precedent): per-batch windows (partition-
      // parallel) + a running max over the tiny batch-maxima table;
      // carry-in max ∪ batch-local prefix max = the exact global
      // prefix max. Output: lateness histogram (hour buckets, capped)
      // with exact integer max lateness per bucket.
      import org.apache.spark.sql.expressions.Window
      val a = Tables.events(s, d).select(col("event_id"),
          unix_micros(col("ts")).as("tus"))
        .withColumn("ak", col("event_id") +
          (conv(substring(md5(concat(lit("arr|"),
            col("event_id").cast("string"))), 1, 4), 16, 10)
            .cast("long") % 120) - 60)
        .withColumn("batch", expr("ak DIV 100"))
      val wLoc = Window.partitionBy("batch").orderBy("ak", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      val bm = a.groupBy("batch").agg(max(col("tus")).as("bmax"))
      val wCarry = Window.orderBy("batch")
        .rowsBetween(Window.unboundedPreceding, -1) // tiny: one row per batch
      val carry = bm.withColumn("carry", max(col("bmax")).over(wCarry))
        .select(col("batch"), col("carry"))
      a.withColumn("lmax", max(col("tus")).over(wLoc))
        .join(broadcast(carry), Seq("batch"))
        .select(greatest(lit(0L),
          greatest(coalesce(col("lmax"), lit(0L)),
            coalesce(col("carry"), lit(0L))) - col("tus")).as("late"))
        .select(when(col("late") === 0, lit(0L))
          .otherwise(least(expr("late DIV 3600000000") + 1, lit(10L)))
          .as("bucket"), col("late"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_events"),
          expr("max(late) DIV 1000000").cast("long").as("max_late_s"))
        .orderBy("bucket")
    }),
    "q_events_anomaly" -> ((s, d) => {
      // per-user outlier detection (2-sigma rule) with the repo's
      // exact-moments convention: decimal power sums -> identical
      // double closed form both engines, and the outlier predicate is
      // squared ((v-mean)^2 > 4*var) so no sqrt enters the compare.
      // Stats join back via broadcast (per-user stats are tiny).
      val e = Tables.events(s, d).select(col("user_id"), col("value"))
      val stats = e.groupBy("user_id").agg(
        count(lit(1)).cast("double").as("n"),
        round(sum(col("value").cast("decimal(18,6)")), 6).cast("double").as("s1"),
        round(sum(col("value").cast("decimal(18,6)") *
          col("value").cast("decimal(18,6)")), 6).cast("double").as("s2"))
      val m = col("s1") / col("n")
      val v = col("s2") / col("n") - m * m
      e.join(broadcast(stats), "user_id")
        .select(col("user_id"), col("value"), col("n"), m.as("mean"), v.as("var"))
        .groupBy("user_id")
        .agg(first(col("n")).cast("long").as("n_events"),
          round(first(col("mean")), 4).as("mean_value"),
          sum(when((col("value") - col("mean")) * (col("value") - col("mean")) >
            lit(4.0) * col("var"), 1L).otherwise(0L)).as("n_outliers"))
        .orderBy("user_id")
    }),
    "q_window_extras" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val wAll = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t(s, d, "orders").where(col("o_custkey") <= 50)
        .select(col("o_custkey"), col("o_orderkey"),
          rank().over(Window.partitionBy(col("o_custkey"))
            .orderBy(col("o_orderpriority"))).as("rk"),
          dense_rank().over(Window.partitionBy(col("o_custkey"))
            .orderBy(col("o_orderpriority"))).as("dr"),
          ntile(4).over(w).as("quartile"),
          first(col("o_orderkey")).over(wAll).as("first_ord"),
          last(col("o_orderkey")).over(wAll).as("last_ord"),
          round(percent_rank().over(w), 4).as("pr"),
          round(cume_dist().over(w), 4).as("cd"))
        .orderBy("o_custkey", "o_orderkey")
    }),
    "q_date_spine" -> ((s, d) => {
      // row GENERATION (vs filtering): densify each order into its
      // per-day spine until shipment, count covered days per month.
      // Bounded: only orders with a lineitem shipped within 30 days.
      val o = t(s, d, "orders").select(col("o_orderkey"), col("o_orderdate"))
      val li = t(s, d, "lineitem")
        .groupBy(col("l_orderkey")).agg(min(col("l_shipdate")).as("first_ship"))
      o.join(li, o("o_orderkey") === li("l_orderkey"))
        .where(datediff(col("first_ship").cast("date"), col("o_orderdate").cast("date"))
          .between(0, 30))
        .select(explode(sequence(col("o_orderdate").cast("date"),
          col("first_ship").cast("date"))).as("day"))
        .groupBy(date_format(col("day"), "yyyy-MM").as("ym"))
        .agg(count(lit(1)).as("n_days"))
        .orderBy("ym")
    }),
    "q_crosstab" -> ((s, d) => {
      // contingency table via stat.crosstab (pairwise frequency)
      t(s, d, "lineitem").stat.crosstab("l_returnflag", "l_linestatus")
        .orderBy("l_returnflag_l_linestatus")
    }),
    "q_collect" -> ((s, d) => {
      // collection aggregate: sorted distinct set, emitted as a string
      // (deterministic; avoids nested-type hash-compare pitfalls)
      t(s, d, "lineitem").groupBy("l_returnflag")
        .agg(array_join(sort_array(collect_set(col("l_linestatus"))), ",").as("statuses"),
          array_join(transform(slice(sort_array(collect_set(col("l_linenumber"))), 1, 3),
            _.cast("string")), ",").as("lines3"))
        .orderBy("l_returnflag")
    }),
    "q_pivot" -> ((s, d) => {
      t(s, d, "lineitem")
        .groupBy("l_linestatus")
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(round(sum(col("l_quantity")), 2))
        .orderBy("l_linestatus")
    }),
    "q_subquery" -> ((s, d) => {
      val cust = t(s, d, "customer")
      val avgBal = cust.agg(avg(col("c_acctbal")).as("ab"))
      val o97 = t(s, d, "orders")
        .where(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      cust.crossJoin(broadcast(avgBal))
        .where(col("c_acctbal") > col("ab"))
        .join(o97, cust("c_custkey") === o97("o_custkey"), "left_semi")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("cnt"), round(avg(col("c_acctbal")), 2).as("avg_bal"))
        .orderBy("c_mktsegment")
    }),
    "q_unpivot" -> ((s, d) => {
      // wide -> long reshaping (melt): three measure columns become
      // (metric, value) rows — the inverse of q_pivot
      t(s, d, "lineitem").where(col("l_orderkey") % 97 === 0)
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_quantity"), 2).as("qty"),
          round(col("l_extendedprice"), 2).as("price"),
          round(col("l_discount"), 2).as("disc"))
        .unpivot(
          ids = Array(col("l_orderkey"), col("l_linenumber")),
          values = Array(col("qty"), col("price"), col("disc")),
          variableColumnName = "metric", valueColumnName = "value")
        .orderBy("l_orderkey", "l_linenumber", "metric")
    }),
    "q_array_hof" -> ((s, d) => {
      // higher-order array functions as a declared capability (transform
      // / filter / exists / aggregate with DuckDB list-lambda twins) —
      // fine OFF the hot path; hot paths use exploded forms (see Dedup)
      t(s, d, "embeddings").where(col("vec_id") % 40 === 0)
        .select(col("vec_id"), toDouble(col("embedding")).as("v"))
        .select(col("vec_id"),
          size(filter(col("v"), x => x > 0)).as("n_pos"),
          exists(col("v"), x => x > lit(2.0)).as("any_big"),
          round(aggregate(transform(col("v"), x => x * x), lit(0.0), (a, x) => a + x), 4).as("sumsq"),
          round(element_at(transform(col("v"), x => x * 2), 1), 4).as("first_doubled"))
        .orderBy("vec_id")
    }),
    "q_subquery_corr" -> ((s, d) => {
      // correlated subqueries (EXISTS + scalar) — exercises Catalyst's
      // decorrelation rewrite (both become joins; no per-row re-execution)
      t(s, d, "customer").createOrReplaceTempView("cust_qc")
      t(s, d, "orders").createOrReplaceTempView("ord_qc")
      s.sql("""SELECT c.c_custkey,
                      round(c.c_acctbal, 2) AS bal,
                      (SELECT round(max(o.o_totalprice), 2) FROM ord_qc o
                       WHERE o.o_custkey = c.c_custkey) AS max_spend
               FROM cust_qc c
               WHERE EXISTS (SELECT 1 FROM ord_qc o
                             WHERE o.o_custkey = c.c_custkey
                               AND o.o_totalprice > 450000)
               ORDER BY c.c_custkey""")
    }),
    "q_agg_approx" -> ((s, d) => {
      // approximate aggregates, exact-oracle edition: the estimators
      // are DETERMINISTIC so the oracle rebuilds them bit-for-bit —
      // per-group 64-register HLL distinct (the q_sketch_hll
      // machinery, registers keyed by (group, idx)) and a fixed-bin
      // histogram median (the q_agg_histo_quantile machinery). The
      // built-in approx_count_distinct / approx_percentile offer the
      // same capability with engine-private estimators; these twins
      // measure the same state-bounded shapes (64 registers / ~70
      // bins per group, however many rows stream through) while
      // keeping the row hash-checkable. Two partial+final aggs and
      // two ≤O(groups·bins) windows — no sort of the raw data.
      val li = t(s, d, "lineitem")
      val h = md5(concat(lit("hll|"), col("k")))
      val hll = li.select(col("l_returnflag"), col("l_partkey").cast("string").as("k"))
        .select(col("l_returnflag"),
          (conv(substring(h, 1, 8), 16, 10).cast("long") % 64).cast("int").as("idx"),
          conv(substring(h, 9, 8), 16, 10).cast("long").as("v"))
        .select(col("l_returnflag"), col("idx"),
          when(col("v") === 0, lit(33)).otherwise(lit(33) - length(bin(col("v")))).as("rho"))
        .groupBy("l_returnflag", "idx").agg(max("rho").as("m"))
        .groupBy("l_returnflag")
        .agg(sum(pow(lit(2.0), -col("m"))).as("ssum"), count(lit(1)).as("nreg"))
        .select(col("l_returnflag"),
          round(lit(0.709) * 4096.0 / (col("ssum") + (lit(64) - col("nreg")) * 1.0), 4)
            .as("approx_parts"))
      val bins = li.groupBy(col("l_returnflag"),
          floor(col("l_extendedprice") / 2000).cast("long").as("bin"))
        .agg(count(lit(1)).as("c"))
      val med = bins
        .withColumn("cum", sum("c").over(
          Window.partitionBy("l_returnflag").orderBy("bin")))
        .withColumn("n", sum("c").over(Window.partitionBy("l_returnflag")))
        .groupBy("l_returnflag")
        .agg(min(when(col("cum") * 2 >= col("n"), col("bin") * 2000)).as("approx_med"))
      hll.join(med, Seq("l_returnflag")).orderBy("l_returnflag")
    }),
    "q_asof_join" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val purchases = ev.where(col("event_type") === "purchase")
        .groupBy("user_id", "ts").agg(max(col("event_id")).as("purchase_id"))
        .withColumn("purchase_ts", col("ts"))
      val left = ev.where(col("event_type") =!= "purchase")
      graft.operators.AsOfJoin.asof(left, purchases, "user_id", "ts", "ts",
          Seq("purchase_id", "purchase_ts"))
        .select(col("event_id"), col("user_id"), col("purchase_id"),
          (floor(col("ts").cast("double")) - floor(col("purchase_ts").cast("double")))
            .cast("long").as("gap_sec"))
        .orderBy("event_id")
    }),
    "q_asof_exec" -> ((s, d) => {
      // the CUSTOM-PHYSICAL-OPERATOR as-of (AsOfJoinNode -> strategy ->
      // sorted-merge AsOfJoinExec): same semantics as q_asof_join,
      // planned through the dedicated exec instead of union+window —
      // both exact-match the same DuckDB ASOF oracle
      val ev = Tables.events(s, d)
      val purchases = ev.where(col("event_type") === "purchase")
        .groupBy(col("user_id").as("p_user"), col("ts").as("p_ts"))
        .agg(max(col("event_id")).as("purchase_id"))
      val left = ev.where(col("event_type") =!= "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      graft.operators.AsOfJoin.asofExec(left, purchases,
          "user_id", "p_user", "ts", "p_ts", Seq("purchase_id", "p_ts"))
        .select(col("event_id"), col("user_id"), col("purchase_id"),
          (floor(col("ts").cast("double")) - floor(col("p_ts").cast("double")))
            .cast("long").as("gap_sec"))
        .orderBy("event_id")
    }),
    "q_asof_exec_bucketed" -> ((s, d) => {
      // the as-of exec's DESIGN case: the reference side is a BUCKETED
      // table (32 buckets on p_user, files sorted by (p_user, p_ts)) —
      // the plan shape PLANS.md promises the exec wins on. The bucketed
      // scan's hash partitioning satisfies the exec's right-side
      // ClusteredDistribution, so ONLY the left side shuffles
      // (PlanSpec-asserted); the composed union+window must co-shuffle
      // both sides regardless of the right side's layout. Staging the
      // bucketed table is memoized per (session, dataset), so timed
      // bench reps after the first measure the join, not the write.
      val purchases = bucketedPurchases(s, d)
      val left = Tables.events(s, d).where(col("event_type") =!= "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      graft.operators.AsOfJoin.asofExec(left, purchases,
          "user_id", "p_user", "ts", "p_ts", Seq("purchase_id", "p_ts"))
        .select(col("event_id"), col("user_id"), col("purchase_id"),
          (floor(col("ts").cast("double")) - floor(col("p_ts").cast("double")))
            .cast("long").as("gap_sec"))
        .orderBy("event_id")
    }),
    "q_asof_forward" -> ((s, d) => {
      // forward as-of: for each click, the user's NEXT purchase (same
      // union+window plan scanned time-descending); oracle is a
      // correlated min-subquery since DuckDB's ASOF only looks back
      val ev = Tables.events(s, d)
      val purchases = ev.where(col("event_type") === "purchase")
        .groupBy("user_id", "ts").agg(max(col("event_id")).as("purchase_id"))
        .withColumn("purchase_ts", col("ts"))
      val clicks = ev.where(col("event_type") === "click")
      graft.operators.AsOfJoin.asofForward(clicks, purchases, "user_id", "ts", "ts",
          Seq("purchase_id", "purchase_ts"))
        .select(col("event_id"), col("user_id"), col("purchase_id"),
          (floor(col("purchase_ts").cast("double")) - floor(col("ts").cast("double")))
            .cast("long").as("gap_sec"))
        .orderBy("event_id")
    }),
    "q_asof_nearest" -> ((s, d) => {
      // NEAREST as-of: each click pairs with its temporally closest
      // purchase in EITHER direction (tie → the backward/earlier one)
      // — completes the as-of family next to backward (q_asof_join)
      // and forward (q_asof_forward). Composed from the two
      // directional operators + a per-row least-gap pick, so both
      // sides reuse the union+window as-of plan; no inequality join
      // ever forms. NULL direction (no purchase that side) loses to
      // any real match.
      val ev = Tables.events(s, d)
      val purchases = ev.where(col("event_type") === "purchase")
        .groupBy("user_id", "ts").agg(max(col("event_id")).as("purchase_id"))
        .withColumn("purchase_ts", col("ts"))
      val clicks = ev.where(col("event_type") === "click")
      def gap(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
        (floor(a.cast("double")) - floor(b.cast("double"))).cast("long")
      val back = graft.operators.AsOfJoin.asof(clicks, purchases, "user_id", "ts", "ts",
          Seq("purchase_id", "purchase_ts"))
        .select(col("event_id"), col("user_id"), col("ts"),
          col("purchase_id").as("b_id"), gap(col("ts"), col("purchase_ts")).as("b_gap"))
      val fwd = graft.operators.AsOfJoin.asofForward(clicks, purchases, "user_id", "ts", "ts",
          Seq("purchase_id", "purchase_ts"))
        .select(col("event_id"),
          col("purchase_id").as("f_id"), gap(col("purchase_ts"), col("ts")).as("f_gap"))
      back.join(fwd, "event_id")
        .select(col("event_id"), col("user_id"),
          when(col("f_gap").isNull ||
               (col("b_gap").isNotNull && col("b_gap") <= col("f_gap")),
            col("b_id")).otherwise(col("f_id")).as("purchase_id"),
          when(col("f_gap").isNull ||
               (col("b_gap").isNotNull && col("b_gap") <= col("f_gap")),
            col("b_gap")).otherwise(col("f_gap")).as("gap_sec"))
        .orderBy("event_id")
    }),
    "q_events_attribution" -> ((s, d) => {
      // last-touch attribution with a tolerance: each purchase gets the
      // latest preceding click by the same user, but only if it landed
      // within 1 hour — beyond-tolerance matches null out (the as-of
      // match is unconditional; tolerance is a post-filter on the gap)
      val ev = Tables.events(s, d)
      val clicks = ev.where(col("event_type") === "click")
        .groupBy("user_id", "ts").agg(max(col("event_id")).as("click_id"))
        .withColumn("click_ts", col("ts"))
      val purchases = ev.where(col("event_type") === "purchase")
      val m = graft.operators.AsOfJoin.asof(purchases, clicks, "user_id", "ts", "ts",
          Seq("click_id", "click_ts"))
        .withColumn("gap_sec",
          (floor(col("ts").cast("double")) - floor(col("click_ts").cast("double")))
            .cast("long"))
      m.select(col("event_id"), col("user_id"),
          when(col("gap_sec") <= 3600, col("click_id")).as("click_id"),
          when(col("gap_sec") <= 3600, col("gap_sec")).as("gap_sec"))
        .orderBy("event_id")
    }),
    "q_stream_hourly" -> ((s, d) => {
      // Structured-Streaming-EXECUTED member of the correctness gate:
      // the events file is staged into a stream directory, aggregated
      // by a real streaming query (complete mode = all windows kept),
      // and the memory-sink table is returned — the oracle is the same
      // batch SQL as q_events_hourly, so the stream must agree with
      // the batch engine exactly.
      val streamDir = java.nio.file.Files.createTempDirectory("graft-q-stream")
      try {
      stageEventsInto(d, streamDir)
      val sink = "stream_hourly_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val q = graft.streaming.EventStreams.eventsStream(s, streamDir.toString)
        .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hr"),
          col("event_type"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("val"))
        .writeStream.outputMode("complete").format("memory").queryName(sink).start()
      try q.processAllAvailable() finally q.stop()
      s.table(sink).orderBy("hr", "event_type")
      // the memory sink holds the result; the staged files can go —
      // and the outer finally also covers a throw during staging/start
      } finally deleteRecursively(streamDir)
    }),
    "q_stream_cdc" -> ((s, d) => {
      // Streaming CDC apply: q_cdc_snapshot's associative latest-wins
      // max(struct) fold EXECUTED AS A STREAM — complete-mode agg
      // means each micro-batch merges its partial latest into running
      // state without re-reading history (the incremental snapshot-
      // maintenance loop; at 100 TB/day of changes the snapshot costs
      // O(delta) per batch). Tombstone semantics identical to batch: a
      // key whose latest change is 'error' leaves the snapshot and
      // re-enters when a newer non-tombstone change lands. Oracle =
      // the batch latest-wins SQL, so stream must equal batch exactly.
      val streamDir = java.nio.file.Files.createTempDirectory("graft-q-cdc-stream")
      try {
      stageEventsInto(d, streamDir)
      val sink = "stream_cdc_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val q = graft.streaming.EventStreams.eventsStream(s, streamDir.toString)
        .select(col("user_id"), col("event_type"), col("value"),
          unix_micros(col("ts")).as("tus"), col("event_id"))
        .groupBy(col("user_id"))
        .agg(max(struct(col("tus"), col("event_id"), col("event_type"),
          col("value"))).as("m"))
        .writeStream.outputMode("complete").format("memory").queryName(sink).start()
      try q.processAllAvailable() finally q.stop()
      s.table(sink)
        .select(col("user_id"), col("m.event_type").as("last_type"),
          col("m.value").as("last_value"), col("m.tus").as("last_ts"))
        .where(col("last_type") =!= "error")
        .orderBy("user_id")
      } finally deleteRecursively(streamDir)
    }),
    "q_stream_dedup" -> ((s, d) => {
      // Streaming exact-dedup in the gate: the events file is staged
      // TWICE (a full replay), dropDuplicatesWithinWatermark removes the
      // replayed ids, and the oracle is the plain batch count — so the
      // streaming dedup must reconstruct the original corpus exactly.
      val streamDir = java.nio.file.Files.createTempDirectory("graft-q-dedup-stream")
      try {
      stageEventsInto(d, streamDir, prefix = "a_")
      stageEventsInto(d, streamDir, prefix = "b_")
      val sink = "stream_dedup_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val q = graft.streaming.EventStreams.dedupStream(
          graft.streaming.EventStreams.eventsStream(s, streamDir.toString))
        .select("event_id", "event_type")
        .writeStream.outputMode("append").format("memory").queryName(sink).start()
      try q.processAllAvailable() finally q.stop()
      s.table(sink).groupBy("event_type").agg(count(lit(1)).as("cnt"))
        .orderBy("event_type")
      } finally deleteRecursively(streamDir)
    }),
    "q_stream_exactly_once" -> ((s, d) => {
      // Exactly-once SINK evidence in the gate (r12 VERDICT item 7):
      // batchId-keyed idempotent foreachBatch parquet writes, with the
      // failure ACTUALLY forced — after the first run completes, the
      // newest commit-log entry is deleted (the crashed-after-write-
      // before-commit window every sink can hit) and the stream
      // restarts from the same checkpoint, re-executing that
      // micro-batch with the same batchId. The replayed write lands on
      // its own batch_id directory (overwrite), so the read-back
      // equals the plain batch oracle exactly; an append sink would
      // double the replayed batch and hash-mismatch. Two micro-batches
      // by construction: the staged fixture + a far-future sentinel
      // file (filtered out of the readout), maxFilesPerTrigger = 1.
      val streamDir = java.nio.file.Files.createTempDirectory("graft-q-e1o-stream")
      val ckpt = java.nio.file.Files.createTempDirectory("graft-q-e1o-ckpt")
      val out = java.nio.file.Files.createTempDirectory("graft-q-e1o-out")
      try {
        stageEventsInto(d, streamDir)
        writeSentinel(s, d, streamDir, "e1o_sentinel", plusDays = 30)
        def run(): Unit = {
          val q = graft.streaming.EventStreams
            .eventsStream(s, streamDir.toString, maxFilesPerTrigger = Some(1))
            .select(col("event_id"), col("event_type"), col("value"))
            .writeStream
            .option("checkpointLocation", ckpt.toString)
            .foreachBatch(graft.streaming.EventStreams
              .idempotentBatchWrite(out.toString))
            .start()
          try q.processAllAvailable() finally q.stop()
        }
        run()
        graft.streaming.EventStreams.forceReplayOfLastBatch(ckpt.toString)
        run() // replays the last batch with the SAME batchId
        s.read.parquet(out.toString)
          .where(col("event_id") >= 0) // drop the sentinel
          .groupBy("event_type")
          .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("val"))
          .orderBy("event_type")
          .localCheckpoint(true) // sever from the reaped temp dirs
      } finally {
        deleteRecursively(streamDir); deleteRecursively(ckpt)
        deleteRecursively(out)
      }
    }),
    "q_source_csv" -> ((s, d) => {
      // csv source INSIDE the oracle gate: customer is round-tripped
      // through csv (header + declared schema) and aggregated from the
      // csv scan; the oracle reads the original parquet — so the csv
      // writer/parser must preserve every value exactly
      val cust = t(s, d, "customer")
      withTempDir("graft-q-csv") { dir =>
        cust.write.mode("overwrite").option("header", "true").csv(dir)
        s.read.option("header", "true").schema(cust.schema).csv(dir)
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("cnt"), round(sum(col("c_acctbal")), 2).as("bal"),
            min(col("c_name")).as("first_name"))
          .orderBy("c_mktsegment")
      }
    }),
    "q_layout_compaction" -> ((s, d) => {
      // small-files compaction — the OPTIMIZE/maintenance operator
      // every long-lived table needs (streaming ingest and per-key
      // writers fragment layouts; 100 TB of 1 MB files kills scan
      // throughput on open/footer overhead). A deliberately
      // fragmented write (64 shards) is rewritten to 2 right-sized
      // files; content survives bit-exactly, proven by the per-source
      // order-independent fingerprint the oracle computes from the
      // ORIGINAL table. The filesystem half (64 → 2 data files) is
      // pinned in Wave27Spec — file counts aren't SQL-visible.
      withTempDir("graft-q-compact") { dir =>
        t(s, d, "documents").repartition(64)
          .write.mode("overwrite").parquet(s"$dir/frag")
        s.read.parquet(s"$dir/frag").repartition(2)
          .write.mode("overwrite").parquet(s"$dir/compact")
        s.read.parquet(s"$dir/compact")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).cast("long").as("total_chars"),
            // XOR, not SUM (same rationale as q_text_pii's red_fp): the
            // LONG sum of 48-bit row hashes wraps in Spark but errors
            // in DuckDB's HUGEINT->BIGINT cast at larger SFs; XOR is
            // bounded and order-free, and still moves on any
            // lost/corrupted row
            bit_xor(conv(substring(md5(col("text")), 1, 12), 16, 10)
              .cast("long")).as("text_fp"))
          .orderBy("source")
      }
    }),
    "q_join_dpp" -> ((s, d) => {
      // DYNAMIC partition pruning — the 100 TB fact–dim shape: the
      // fact side is a year-partitioned layout; which years survive is
      // only known at runtime through the dim's parity filter, and
      // Spark injects the dim's year set as a runtime partition filter
      // on the fact scan (explain shows dynamicpruningexpression —
      // pinned in Wave27Spec), so even-year directories are never
      // read. Static pruning (q_source_partitioned) covers the
      // literal-predicate case; THIS is the join-driven case that
      // saves the scan on a real star schema. Oracle applies the
      // parity filter directly to the unpartitioned table.
      withTempDir("graft-q-dpp") { dir =>
        t(s, d, "orders").withColumn("o_year", year(col("o_orderdate")))
          .write.mode("overwrite").partitionBy("o_year").parquet(s"$dir/fact")
        t(s, d, "orders").select(year(col("o_orderdate")).as("y")).distinct()
          .withColumn("parity", pmod(col("y"), lit(2)))
          .write.mode("overwrite").parquet(s"$dir/dim")
        val fact = s.read.parquet(s"$dir/fact")
        val dim = s.read.parquet(s"$dir/dim").where(col("parity") === 1)
        fact.join(dim, fact("o_year") === dim("y"))
          .groupBy(col("o_year")).agg(count(lit(1)).as("cnt"),
            round(sum(col("o_totalprice")), 2).as("total"))
          .orderBy("o_year")
      }
    }),
    "q_source_partitioned" -> ((s, d) => {
      // hive-style partitioned layout INSIDE the gate: orders written
      // partitionBy(year), then one partition read back — the filter
      // prunes directories (PartitionFilters, zero data files touched
      // outside 1997); the oracle filters the original table
      withTempDir("graft-q-part") { dir =>
        t(s, d, "orders")
          .withColumn("o_year", year(col("o_orderdate")))
          .write.mode("overwrite").partitionBy("o_year").parquet(dir)
        s.read.parquet(dir)
          .where(col("o_year") === 1997)
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("cnt"), round(sum(col("o_totalprice")), 2).as("total"))
          .orderBy("o_orderpriority")
      }
    }),
    "q_source_orc" -> ((s, d) => {
      // orc source inside the gate (same contract as q_source_csv):
      // part is round-tripped through ORC and aggregated from the ORC
      // scan; the oracle reads the original parquet
      val part = t(s, d, "part")
      withTempDir("graft-q-orc") { dir =>
        part.write.mode("overwrite").orc(dir)
        s.read.orc(dir)
          .groupBy("p_brand")
          .agg(count(lit(1)).as("cnt"), sum(col("p_size")).as("total_size"),
            min(col("p_name")).as("first_name"))
          .orderBy("p_brand")
      }
    }),
    "q_source_jsonl" -> ((s, d) => {
      // JSON-lines source inside the gate (same contract as
      // q_source_csv): customer round-tripped through newline-
      // delimited JSON with a declared read schema; the oracle reads
      // the original parquet, so the JSON writer/parser must preserve
      // every value exactly (doubles survive via shortest-roundtrip
      // formatting).
      val cust = t(s, d, "customer")
      withTempDir("graft-q-jsonl") { dir =>
        cust.write.mode("overwrite").json(dir)
        s.read.schema(cust.schema).json(dir)
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("cnt"), round(sum(col("c_acctbal")), 2).as("bal"),
            max(col("c_name")).as("last_name"))
          .orderBy("c_mktsegment")
      }
    }),
    "q_scalar_interval" -> ((s, d) => {
      // interval arithmetic family: month/day addition (month-end
      // clamped identically by both engines), last_day, day diffs,
      // quarter, and day-of-week (Spark is 1=Sunday, DuckDB 0=Sunday —
      // normalised to 0-based). Temporal outputs as strings/ints per
      // the parity rules.
      t(s, d, "orders").where(col("o_orderkey") % 199 === 0)
        .select(col("o_orderkey"),
          date_format(add_months(col("o_orderdate"), 3), "yyyy-MM-dd").as("plus3m"),
          date_format(date_add(col("o_orderdate"), 45), "yyyy-MM-dd").as("plus45d"),
          date_format(last_day(col("o_orderdate")), "yyyy-MM-dd").as("eom"),
          datediff(lit("1998-01-01").cast("date"), col("o_orderdate"))
            .cast("int").as("days_to_98"),
          quarter(col("o_orderdate")).cast("int").as("qtr"),
          (dayofweek(col("o_orderdate")) - 1).cast("int").as("dow"))
        .orderBy("o_orderkey")
    }),
    "q_agg_listagg" -> ((s, d) => {
      // ordered string aggregation (listagg / string_agg): collect,
      // sort deterministically, join — the Spark formulation keeps the
      // per-group list bounded by the group (fine for id-list outputs;
      // unbounded-text groups should aggregate hashes instead)
      t(s, d, "orders").where(col("o_custkey") <= 50)
        .groupBy("o_custkey")
        .agg(concat_ws(",",
          transform(array_sort(collect_list(col("o_orderkey"))),
            x => x.cast("string"))).as("order_ids"),
          count(lit(1)).as("cnt"))
        .orderBy("o_custkey")
    }),
    "q_agg_mode" -> ((s, d) => {
      // mode (most frequent value) as an explicit argmax: count per
      // (group, value), then ONE max-of-(cnt, -value) struct hash agg
      // — deterministic tie-break to the smallest value, no window
      // sort, fully partial-aggregatable at scale
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"), col("l_quantity"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy("l_returnflag")
        .agg(max(struct(col("cnt"), (-col("l_quantity")).as("nq"))).as("m"))
        .select(col("l_returnflag"), round(-col("m.nq"), 2).as("mode_qty"),
          col("m.cnt").as("cnt"))
        .orderBy("l_returnflag")
    }),
    "q_agg_percentile" -> ((s, d) => {
      // exact interpolated percentiles (p25/p50/p75) per group with
      // ENGINEERED bit-parity: both engines evaluate the same explicit
      // formula pos = p*(n-1); v[lo] + (pos-floor(pos))*(v[hi]-v[lo])
      // over the same rank-addressed values, so every double op is
      // identical IEEE arithmetic — no reliance on the engines'
      // percentile builtins interpolating in the same order, and no
      // rounding band-aid. Scale: one sort-shuffle per group (window
      // rank + count) and a conditional hash agg — no per-group
      // array collection.
      val wN = Window.partitionBy("l_returnflag")
      val base = t(s, d, "lineitem")
        .select(col("l_returnflag"), col("l_extendedprice"))
        .withColumn("rn", row_number().over(wN.orderBy("l_extendedprice")))
        .withColumn("n", count(lit(1)).over(wN))
      val ps = Seq(0.25 -> "25", 0.5 -> "50", 0.75 -> "75")
      def pos(p: Double) = (col("n") - 1).cast("double") * p
      val aggs = max(col("n")).as("n") +: ps.flatMap { case (p, tag) =>
        Seq(max(when(col("rn") === floor(pos(p)) + 1, col("l_extendedprice"))).as(s"lo$tag"),
          max(when(col("rn") === ceil(pos(p)) + 1, col("l_extendedprice"))).as(s"hi$tag"))
      }
      def posN(p: Double) = (col("n") - 1).cast("double") * p
      base.groupBy("l_returnflag").agg(aggs.head, aggs.tail: _*)
        .select(col("l_returnflag") +: ps.map { case (p, tag) =>
          (col(s"lo$tag") +
            (posN(p) - floor(posN(p))) * (col(s"hi$tag") - col(s"lo$tag"))).as(s"p$tag")
        } :+ col("n").cast("long").as("cnt"): _*)
        .orderBy("l_returnflag")
    }),
    "q_window_nth" -> ((s, d) => {
      // nth_value / first_value / last_value with explicit frames (the
      // frame-sensitive window family): running 3rd order price, first
      // price so far, and the partition-final price
      val wRun = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t(s, d, "orders")
        .where(col("o_custkey") <= 200)
        .select(col("o_custkey"), col("o_orderkey"),
          round(nth_value(col("o_totalprice"), 3).over(wRun), 2).as("third_price"),
          round(first(col("o_totalprice")).over(wRun), 2).as("first_price"),
          round(last(col("o_totalprice")).over(wAll), 2).as("final_price"))
        .orderBy("o_custkey", "o_orderkey")
    }),
    "q_set_bag" -> ((s, d) => {
      // bag-semantics set ops: INTERSECT ALL / EXCEPT ALL keep
      // duplicate multiplicity (min / difference of per-row counts) —
      // the multiset complement of q_set_ops' distinct-set trio
      val a = t(s, d, "lineitem").where(col("l_quantity") < 10)
        .select(col("l_suppkey"), col("l_returnflag"))
      val b = t(s, d, "lineitem").where(col("l_extendedprice") < 2000)
        .select(col("l_suppkey"), col("l_returnflag"))
      val ia = a.intersectAll(b)
        .groupBy("l_suppkey", "l_returnflag").agg(count(lit(1)).as("cnt"))
        .withColumn("op", lit("intersect_all"))
      val ea = a.exceptAll(b)
        .groupBy("l_suppkey", "l_returnflag").agg(count(lit(1)).as("cnt"))
        .withColumn("op", lit("except_all"))
      ia.unionAll(ea)
        .select(col("op"), col("l_suppkey"), col("l_returnflag"), col("cnt"))
        .orderBy("op", "l_suppkey", "l_returnflag")
    }),
    "q_join_interval" -> ((s, d) => {
      // interval OVERLAP join via bin-explode: order activity windows
      // [orderdate, +orderkey%25 d] against 45-day-strided audit
      // windows of 15 days. Each interval explodes to the 30-day bins
      // it touches (≤2 per side — bounded, data-independent), the join
      // is an EQUI-join on bin (+ exact overlap re-check + distinct),
      // so no unbounded inequality cross product ever forms. The
      // oracle is the plain inequality join — binning must be
      // result-invisible. At 100 TB the bin key shuffles both sides
      // into co-located hash partitions; the audit side is tiny and
      // broadcasts, so the fact side never shuffles at all.
      val epoch = to_date(lit("1970-01-01"))
      def bin(c: org.apache.spark.sql.Column) = floor(datediff(c, epoch) / 30)
      val o = t(s, d, "orders").select(col("o_orderkey"), to_date(col("o_orderdate")).as("os"),
        date_add(col("o_orderdate"), (col("o_orderkey") % 25).cast("int")).as("oe"))
      val win = s.range(0, 56).select(col("id").as("window_id"),
          date_add(to_date(lit("1992-01-05")), (col("id") * 45).cast("int")).as("ws"))
        .withColumn("we", date_add(col("ws"), 14))
      val ob = o.withColumn("bin", explode(sequence(bin(col("os")), bin(col("oe")))))
      val wb = win.withColumn("bin", explode(sequence(bin(col("ws")), bin(col("we")))))
      ob.join(broadcast(wb), "bin")
        .where(col("os") <= col("we") && col("oe") >= col("ws"))
        .select("window_id", "o_orderkey").distinct()
        .groupBy("window_id").agg(count(lit(1)).as("n_orders"))
        .orderBy("window_id")
    }),
    "q_window_pattern" -> ((s, d) => {
      // MATCH_RECOGNIZE-style sequence detection as gaps-and-islands:
      // per customer (orders ascending), maximal streaks of strictly
      // increasing o_totalprice; report the streak-length histogram
      // for streaks of ≥2 rises. Two row_numbers over the same sort
      // (island id = rn - rn-within-flag) — both window passes share
      // one partition sort, no self-join, no iteration; the heavy
      // lifting is a single per-customer sort that scales as one
      // shuffle at any SF.
      val wk = Window.partitionBy("o_custkey").orderBy("k")
      val wu = Window.partitionBy("o_custkey", "up").orderBy("k")
      val o = t(s, d, "orders").select(col("o_custkey"),
        col("o_orderkey").cast("long").as("k"), col("o_totalprice"))
      o.withColumn("up",
          (col("o_totalprice") > lag(col("o_totalprice"), 1).over(wk)).cast("int"))
        .where(col("up").isNotNull)
        .withColumn("rn", row_number().over(wk))
        .withColumn("island", col("rn") - row_number().over(wu))
        .where(col("up") === 1)
        .groupBy("o_custkey", "island").agg(count(lit(1)).as("streak_len"))
        .where(col("streak_len") >= 2)
        .groupBy("streak_len").agg(count(lit(1)).as("n_streaks"))
        .orderBy("streak_len")
    }),
    "q_skyline" -> ((s, d) => {
      // 2-D skyline / Pareto frontier (minimize price, maximize size)
      // WITHOUT the O(n²) dominance self-join: fold to per-price max
      // size (bounded by DISTINCT prices — the big shrink), one
      // ascending prefix-max over that bounded table, and a part is
      // on the frontier iff its size equals its price's max AND
      // strictly exceeds every lower price's max. Dominance
      // (o.price≤p.price, o.size≥p.size, one strict) is exactly
      // (prevmax ≥ size) OR (same-price max > size). At 100 TB the
      // only single-task step is the prefix-max over distinct prices;
      // the per-row work is two hash aggs + a broadcast join back.
      // Oracle: the textbook NOT EXISTS dominance query — the
      // prefix-max rewrite must be result-invisible.
      val p = t(s, d, "part").select(col("p_partkey"),
        col("p_retailprice").as("price"), col("p_size").as("size"))
      val perPrice = p.groupBy("price").agg(max("size").as("msz"))
      val w = Window.orderBy("price").rowsBetween(Window.unboundedPreceding, -1)
      val pref = perPrice.withColumn("prevmax", max(col("msz")).over(w))
      p.join(broadcast(pref), Seq("price"))
        .where(col("size") === col("msz") &&
               (col("prevmax").isNull || col("prevmax") < col("size")))
        .groupBy(col("price"), col("size"))
        .agg(count(lit(1)).as("n_parts"))
        .orderBy("price")
    }),
    "q_events_cohort" -> ((s, d) => {
      // the full cohort matrix (q_events_retention generalized):
      // users grouped by first-seen WEEK, activity counted at every
      // (cohort_week, weeks_since) cell — the standard triangular
      // retention artifact. Weeks are epoch-day/7 integer arithmetic
      // (no calendar/locale ambiguity cross-engine); the matrix is
      // one distinct fold + first-seen agg + a same-key join + one
      // count(DISTINCT) per cell.
      val epoch = to_date(lit("1970-01-01"))
      val ud = Tables.events(s, d)
        .select(col("user_id"),
          floor(datediff(to_date(col("ts")), epoch) / 7).cast("long").as("wk"))
        .distinct()
      val first = ud.groupBy("user_id").agg(min("wk").as("cohort_wk"))
      ud.join(first, "user_id")
        .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("weeks_since"))
        .agg(countDistinct(col("user_id")).as("n_active"))
        .orderBy("cohort_wk", "weeks_since")
    }),
    "q_events_growth" -> ((s, d) => {
      // growth accounting: per day, NEW users (first-ever activity)
      // vs RETURNING. first-seen day is one per-user agg; the daily
      // split is a distinct-fold join on user_id — both sides arrive
      // hash-partitioned by the same key, so the join adds no extra
      // shuffle at any scale.
      val ud = Tables.events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      val first = ud.groupBy("user_id").agg(min("day").as("first_day"))
      ud.join(first, "user_id")
        .groupBy("day")
        .agg(count(when(col("day") === col("first_day"), 1)).as("new_users"),
             count(when(col("day") =!= col("first_day"), 1)).as("returning_users"))
        .select(col("day").cast("string").as("day"),
          col("new_users"), col("returning_users"))
        .orderBy("day")
    }),
    "q_events_rolling_distinct" -> ((s, d) => {
      // 7-day rolling DISTINCT users per day. Sliding-window distinct
      // does not decompose into window-function prefix state, and the
      // per-day self-join is O(days × events). Scalable shape: fold
      // to distinct (user, day) first (the big shrink), explode each
      // into the 7 target days it serves (BOUNDED ×7 multiplier on
      // the folded table, not the raw events), keep only observed
      // days, then a plain count(DISTINCT) per target day.
      val ud = Tables.events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      val days = ud.select("day").distinct().withColumnRenamed("day", "tday")
      ud.select(col("user_id"),
          explode(sequence(lit(0), lit(6))).as("off"), col("day"))
        .select(col("user_id"), date_add(col("day"), col("off")).as("tday"))
        .join(days, Seq("tday"), "left_semi")
        .groupBy("tday")
        .agg(countDistinct(col("user_id")).as("n_users"))
        .select(col("tday").cast("string").as("day"), col("n_users"))
        .orderBy("day")
    }),
    "q_events_paths" -> ((s, d) => {
      // per-user 3-step event-type path mining (clickstream n-grams):
      // two leads over ONE per-user time sort produce every
      // consecutive triple, then a hash agg ranks paths — one shuffle
      // (the per-user sort) + partial/final agg, no self-joins. The
      // top-10 boundary is deterministic: (n desc, path asc), and ts
      // ties inside a user are broken by event_id in the sort.
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("e2", lead(col("event_type"), 1).over(w))
        .withColumn("e3", lead(col("event_type"), 2).over(w))
        .where(col("e3").isNotNull)
        .select(concat_ws("->", col("event_type"), col("e2"), col("e3")).as("path"))
        .groupBy("path").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("path")).limit(10)
    }),
    "q_merge_upsert" -> ((s, d) => {
      // MERGE INTO (the lakehouse upsert primitive) as ONE full-outer
      // join: target = customer snapshot; source = a deterministic
      // change batch derived from orders — updates (op=U) for every
      // ordering customer, deletes (op=D) for custkey%13=0, inserts
      // (op=I) keyed above the target key space for custkey%17=0.
      // Clause resolution: MATCHED & D → delete, MATCHED → update,
      // NOT MATCHED BY SOURCE → carry, NOT MATCHED & I → insert.
      // NOT one full-outer join — Spark cannot broadcast either side
      // of a full-outer, so that shape shuffles the whole snapshot on
      // k. Instead the broadcast-only decomposition a lakehouse MERGE
      // compiles to: (1) upsert pass = target LEFT OUTER
      // broadcast(delta) — deletes filtered, updates resolved, the
      // 100 TB target never shuffles; (2) matched-keys = target SEMI
      // broadcast(delta keys), ≤|delta| rows out of a key-pruned
      // column scan; (3) inserts = delta 'I' rows ANTI
      // broadcast(matched-keys) — both sides delta-sized. Output
      // folded per segment; balances are 2-decimal-exact so the
      // decimal sum is order-independent (Parity).
      val tgt = t(s, d, "customer").select(col("c_custkey").as("k"),
        col("c_mktsegment").as("seg"), col("c_acctbal").as("bal"))
      val chg = t(s, d, "orders").groupBy(col("o_custkey").as("k"))
        .agg(max(col("o_totalprice")).as("new_bal"))
      val src = chg.select(col("k"), col("new_bal"),
          when(col("k") % 13 === 0, lit("D")).otherwise(lit("U")).as("op"))
        .unionByName(chg.where(col("k") % 17 === 0)
          .select((col("k") + 1000000L).as("k"), col("new_bal"), lit("I").as("op")))
        .withColumn("in_s", lit(1))
      val upserted = tgt.join(broadcast(src), Seq("k"), "left_outer")
        .where(col("in_s").isNull || col("op") =!= "D")
        .select(col("seg"),
          when(col("in_s").isNotNull, col("new_bal")).otherwise(col("bal")).as("bal"))
      val matchedKeys = tgt.select("k").join(broadcast(src.select("k")), Seq("k"), "left_semi")
      val inserts = src.where(col("op") === "I")
        .join(broadcast(matchedKeys), Seq("k"), "left_anti")
        .select(lit("NEW").as("seg"), col("new_bal").as("bal"))
      upserted.unionByName(inserts)
        .groupBy("seg")
        .agg(count(lit(1)).as("n"), Parity.decSum2(col("bal")).as("total"))
        .orderBy("seg")
    }),
    "q_agg_incremental" -> ((s, d) => {
      // Incremental view maintenance: history lives as per-batch
      // PARTIAL aggregate states (decimal sums + counts per group); a
      // newly-arrived batch computes only ITS partials and the
      // refreshed view is the O(groups) state merge — never a rescan
      // of history. Modeled as the two-level shape over one scan:
      // level 1 materializes per-(group, batch) states, level 2 merges
      // them. The oracle recomputes over the full table, so the
      // split+merge must be result-invisible — decimal partials make
      // the merge order-independent (a double sum would drift).
      val li = t(s, d, "lineitem")
      val states = li
        .groupBy(col("l_returnflag"), pmod(col("l_orderkey"), lit(4)).as("batch"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("s_qty"),
             sum(col("l_extendedprice").cast("decimal(18,2)")).as("s_price"),
             count(lit(1)).as("pn"))
      states.groupBy("l_returnflag")
        .agg(sum(col("s_qty")).cast("double").as("sum_qty"),
             sum(col("s_price")).cast("double").as("sum_price"),
             sum(col("pn")).as("n"))
        .orderBy("l_returnflag")
    }),
    "q_agg_bitmap" -> ((s, d) => {
      // BITMAP_UNION exact distinct (the Doris/ClickHouse bitmap
      // aggregate re-expressed relationally): suppkeys pack into
      // 64-bit words (word = k>>6, bit = k&63), bit_or folds each
      // group's words, popcount-sum reads the cardinality — two
      // codegen'd hash aggs with mergeable state, no Expand rewrite
      // and no per-group sort. This is the exact-distinct shape that
      // survives 100 TB: state is bounded by keyspace/64 words per
      // group and partials combine map-side. Oracle: plain
      // count(DISTINCT) — the bitmap must be result-invisible.
      t(s, d, "lineitem")
        .select(col("l_returnflag"), shiftright(col("l_suppkey"), 6).as("w"),
          // functions.shiftleft only takes a literal shift — the
          // column-shift form goes through the SQL parser
          expr("shiftleft(CAST(1 AS BIGINT), CAST(l_suppkey % 64 AS INT))").as("m"))
        .groupBy(col("l_returnflag"), col("w"))
        .agg(bit_or(col("m")).as("bits"))
        .groupBy("l_returnflag")
        .agg(sum(bit_count(col("bits"))).cast("long").as("n_distinct"))
        .orderBy("l_returnflag")
    }),
    "q_source_evolution" -> ((s, d) => {
      // schema evolution across file generations — the lakehouse
      // reality that columns get ADDED mid-corpus: generation 1 wrote
      // (k, name); generation 2 added score. mergeSchema unifies the
      // footer schemas at planning time (no rewrite of old files —
      // at 100 TB rewriting history for a new column is a non-
      // starter), old rows surface NULL score, and the fold must
      // count/sum accordingly. Oracle: closed form from the same
      // source rows.
      withTempDir("graft-q-evolve") { dir =>
        val n = t(s, d, "nation")
        n.where(col("n_nationkey") < 13)
          .select(col("n_nationkey").cast("long").as("k"), col("n_name").as("name"))
          .write.parquet(s"$dir/gen1")
        n.where(col("n_nationkey") >= 13)
          .select(col("n_nationkey").cast("long").as("k"), col("n_name").as("name"),
            (col("n_nationkey") * 10L).as("score"))
          .write.parquet(s"$dir/gen2")
        s.read.option("mergeSchema", "true").parquet(s"$dir/gen1", s"$dir/gen2")
          .agg(count(lit(1)).as("n_rows"),
               count(col("score")).as("n_scored"),
               coalesce(sum("score"), lit(0L)).cast("long").as("sum_score"))
      }
    }),
    "q_catalog_timetravel" -> ((s, d) => {
      // O7's versioning surface oracle-checked in the gate (it was
      // spec-only before): commit v1 = nation-derived edges, commit
      // v2 = v1 + a delta, read BOTH back — v1 through explicit time
      // travel, v2 through the atomic _latest pointer — and fold to
      // per-version fingerprints. The oracle computes the same counts
      // closed-form from nation, so a torn/misdirected version read
      // hash-mismatches. Catalog rooted in a reaped temp dir; the
      // result is checkpointed before the files go (withTempDir).
      withTempDir("graft-q-catalog") { dir =>
        val cat = new graft.operators.GraphCatalog(s, dir)
        val base = t(s, d, "nation").where(col("n_nationkey") > 0)
          .select(col("n_nationkey").cast("long").as("src"),
            floor(col("n_nationkey") / 2).cast("long").as("dst"))
        val delta = t(s, d, "nation").where(col("n_nationkey") < 10)
          .select(col("n_nationkey").cast("long").as("src"),
            (col("n_nationkey") + 100).cast("long").as("dst"))
        val v1 = cat.commitVersion("g", base)
        cat.commitVersion("g", base.unionByName(delta))
        def fold(df: DataFrame, tag: String) =
          df.agg(count(lit(1)).as("n_edges"), sum("dst").cast("long").as("sum_dst"))
            .withColumn("version", lit(tag))
        fold(cat.loadVersion("g", v1), "v1")
          .unionByName(fold(cat.loadLatest("g"), "v2"))
          .select(col("version"), col("n_edges"), col("sum_dst"))
          .orderBy("version")
      }
    }),
    "q_agg_gini" -> ((s, d) => {
      // Gini coefficient of order value per priority class — the
      // inequality/concentration diagnostic (0 = uniform spend, ->1 =
      // one order dominates). Closed form over the ascending rank:
      // G = 2·Σ(rank·x)/(n·Σx) − (n+1)/n, with both sums EXACT
      // decimals (rank·x is int×decimal) so only the final closed-form
      // division is floating — identical IEEE ops both engines. Ties
      // carry equal x, so Σ(rank·x) is permutation-invariant; one rank
      // window per group + one agg.
      val dec = col("o_totalprice").cast("decimal(18,2)")
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      t(s, d, "orders")
        .select(col("o_orderpriority"), col("o_totalprice"), col("o_orderkey"))
        .withColumn("rn", row_number().over(w))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), sum(dec).as("sx"),
          sum(col("rn") * dec).as("srx"))
        .select(col("o_orderpriority"), col("n").cast("long").as("n"),
          round(lit(2.0) * col("srx").cast("double") /
              (col("n") * col("sx").cast("double")) -
            (col("n") + 1).cast("double") / col("n"), 6).as("gini"))
        .orderBy("o_orderpriority")
    }),
    "q_agg_entropy" -> ((s, d) => {
      // Shannon entropy of each event type's value-bucket distribution
      // — the spread/imbalance diagnostic (uniform -> ln(bins), spiky
      // -> 0). Per-bucket -p·ln(p) terms round(8) then decimal-sum
      // (the accumulation-order-independence pattern), so the oracle
      // is exact. Two hash aggs keyed by (type, bucket) then type.
      val b = Tables.events(s, d).where(col("value").isNotNull)
        .groupBy(col("event_type"),
          floor(col("value") / 10).cast("long").as("bin"))
        .agg(count(lit(1)).as("c"))
      val n = b.groupBy("event_type").agg(sum(col("c")).as("n"),
        count(lit(1)).as("n_bins"))
      b.join(broadcast(n), "event_type")
        .select(col("event_type"), col("n"), col("n_bins"),
          round((col("c").cast("double") / col("n")) *
            -log(col("c").cast("double") / col("n")), 8).as("term"))
        .groupBy("event_type")
        .agg(max(col("n")).cast("long").as("n"),
          max(col("n_bins")).cast("long").as("n_bins"),
          round(sum(col("term").cast("decimal(38,18)")).cast("double"), 4)
            .as("entropy"))
        .orderBy("event_type")
    }),
    "q_events_bounce" -> ((s, d) => {
      // bounce rate — the classic engagement metric: fraction of
      // 30-minute sessions containing exactly one event, per event
      // type of the session's FIRST event (what page type loses
      // people). Sessions come from the same gaps-and-islands build as
      // q_events_sessionize (one user-keyed exchange carries the lag,
      // the running session id, and the fold); the first-event
      // attribute is a struct-min, not a second sort.
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val e = Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("tus"))
        .withColumn("gap", col("tus") - lag(col("tus"), 1).over(w))
        .withColumn("brk", when(col("gap").isNull || col("gap") > 1800L * 1000000L, 1)
          .otherwise(0))
        .withColumn("sid", sum(col("brk")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val sess = e.groupBy("user_id", "sid")
        .agg(count(lit(1)).as("n_events"),
          min(struct(col("tus"), col("event_id"), col("event_type"))).as("f"))
        .select(col("f.event_type").as("first_type"), col("n_events"))
      sess.groupBy("first_type")
        .agg(count(lit(1)).as("n_sessions"),
          sum(when(col("n_events") === 1, 1L).otherwise(0L)).as("n_bounce"))
        .select(col("first_type"), col("n_sessions"), col("n_bounce"),
          round(col("n_bounce").cast("double") / col("n_sessions"), 4)
            .as("bounce_rate"))
        .orderBy("first_type")
    }),
    "q_events_rfm" -> ((s, d) => {
      // RFM segmentation (recency / frequency / monetary — the classic
      // customer-scoring rollup): one agg per customer, three ntile(4)
      // windows with id tiebreaks so quartile membership is total-
      // ordered, segment = the concatenated score. The windows run
      // over the ~|customers| aggregate, not the orders table; the
      // sample filter applies AFTER scoring so quartiles are
      // population-global (the correct RFM semantics). At 100 TB the
      // global ntile becomes approx-percentile CUT-POINTS broadcast
      // back (same scores, no single-task sort) — the exact window
      // here is what makes the oracle bit-exact.
      val o = t(s, d, "orders")
      val refDate = o.agg(max(col("o_orderdate")).as("ref"))
      val per = o.groupBy(col("o_custkey"))
        .agg(max(col("o_orderdate")).as("last_order"),
          count(lit(1)).as("frequency"),
          round(sum(col("o_totalprice").cast("decimal(18,2)")), 2).cast("double")
            .as("monetary"))
        .crossJoin(broadcast(refDate))
        .withColumn("recency_days", datediff(col("ref"), col("last_order")))
      def nt(order: org.apache.spark.sql.Column*) = ntile(4).over(
        org.apache.spark.sql.expressions.Window.orderBy(order: _*))
      per
        .withColumn("r_score", nt(col("recency_days"), col("o_custkey")))
        .withColumn("f_score", nt(col("frequency").desc, col("o_custkey")))
        .withColumn("m_score", nt(col("monetary").desc, col("o_custkey")))
        .where(col("o_custkey") % 50 === 0)
        .select(col("o_custkey").as("custkey"), col("recency_days"),
          col("frequency"), col("monetary"),
          concat(col("r_score"), col("f_score"), col("m_score")).as("segment"))
        .orderBy("custkey")
    }),
    "q_events_window_funnel" -> ((s, d) => {
      // windowFunnel (the ClickHouse-popularised funnel): deepest
      // view -> click -> purchase chain per user where every step lands
      // within 1 hour of ITS OWN anchor view — not the first-touch-only
      // chain q_events_funnel measures (an anchor view with no click
      // must not block a later complete chain). Exact anchor search:
      // per-user equi-joins with time residuals, work bounded by each
      // user's per-step event counts; one summary row.
      val e = Tables.events(s, d)
        .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("tus"))
      val hourUs = 3600L * 1000000L
      def step(t: String) = e.where(col("event_type") === t)
        .select(col("user_id"), col("tus"))
      val v = step("view").select(col("user_id"), col("tus").as("vt"))
      val c = step("click").select(col("user_id"), col("tus").as("ct"))
      val p = step("purchase").select(col("user_id"), col("tus").as("pt"))
      val l1 = v.select("user_id").distinct()
      val vc = v.join(c, Seq("user_id"))
        .where(col("ct") > col("vt") && col("ct") <= col("vt") + hourUs)
      val l2 = vc.select("user_id").distinct()
      val l3 = vc.join(p, Seq("user_id"))
        .where(col("pt") > col("ct") && col("pt") <= col("vt") + hourUs)
        .select("user_id").distinct()
      l1.agg(count(lit(1)).as("n_level1"))
        .crossJoin(l2.agg(count(lit(1)).as("n_level2")))
        .crossJoin(l3.agg(count(lit(1)).as("n_level3")))
    }),
    "q_observe" -> ((s, d) => {
      // the `Dataset.observe` / CollectMetrics observability API
      // in-gate: production pipelines attach named metric aggregates
      // to a flowing query (row counts, checksums, freshness) and read
      // them from the listener/Observation without a second scan —
      // this query proves the plumbing end to end by returning the
      // OBSERVED values themselves, which must equal the oracle's
      // direct aggregation. The decimal sum keeps the money metric
      // accumulation-order independent.
      val obs = org.apache.spark.sql.Observation()
      val df = t(s, d, "orders").observe(obs,
        count(lit(1)).as("n_rows"),
        round(sum(col("o_totalprice").cast("decimal(18,2)")), 2).cast("double")
          .as("total_price"),
        max(col("o_orderkey")).as("max_key"))
      df.count() // flow the data; metrics land in the Observation
      val m = obs.get
      import s.implicits._
      Seq((m("n_rows").asInstanceOf[Long], m("total_price").asInstanceOf[Double],
        m("max_key").asInstanceOf[Long]))
        .toDF("n_rows", "total_price", "max_key")
    }),
    "q_scalar_try" -> ((s, d) => {
      // ANSI-safe error handling surface: try_divide / try_cast /
      // try_element_at return NULL where the strict forms would raise
      // (divide-by-zero, malformed cast, out-of-bounds index) — the
      // functions a 100 TB pipeline uses so one malformed row cannot
      // kill a stage. Oracle via the NULLIF/CASE equivalents.
      t(s, d, "orders").where(col("o_orderkey") % 97 === 0)
        .select(col("o_orderkey"),
          round(expr("try_divide(o_totalprice, o_custkey % 3)"), 4).as("td"),
          expr("try_cast(o_orderpriority AS INT)").as("tc"),
          // +1 keeps the index in 1..4: index 0 is INVALID even for the
          // try_ form (Spark raises INVALID_INDEX_OF_ZERO); 3 and 4
          // are out of bounds -> NULL, which is what try_ suppresses
          expr("try_element_at(array(o_custkey, o_custkey + 1), " +
            "CAST(o_custkey % 4 AS INT) + 1)").as("te"))
        .orderBy("o_orderkey")
    }),
    "q_agg_tukey" -> ((s, d) => {
      // Tukey-fence OUTLIER census per group — the boxplot rule
      // (fences at q1/q3 ± 1.5·IQR) that q_events_anomaly's 2-sigma
      // gate misses on heavy tails: per event_type, the quartiles,
      // fences, and how many observations fall outside each. One
      // rank window yields both quartile interpolations (the
      // q_agg_winsor recipe); the fence arithmetic is a fixed IEEE
      // expression of the interpolated doubles (1.5 is exact binary);
      // the census is one conditional aggregate under a broadcast
      // bounds join. Counts are integer-exact; the four float outputs
      // round at 4 like the rest of the percentile family.
      val e = Tables.events(s, d).where(col("value").isNotNull)
        .select(col("event_type"), col("value"))
      val w = Window.partitionBy("event_type")
      val rk = e.withColumn("rn", row_number().over(w.orderBy("value")))
        .withColumn("n", count(lit(1)).over(w))
      def pos(p: Double) = (col("n") - 1).cast("double") * p
      val pct = rk.groupBy("event_type").agg(
          max(col("n")).as("n"),
          max(when(col("rn") === floor(pos(0.25)) + 1, col("value"))).as("lo25"),
          max(when(col("rn") === ceil(pos(0.25)) + 1, col("value"))).as("hi25"),
          max(when(col("rn") === floor(pos(0.75)) + 1, col("value"))).as("lo75"),
          max(when(col("rn") === ceil(pos(0.75)) + 1, col("value"))).as("hi75"))
        .select(col("event_type"), col("n"),
          (col("lo25") + (pos(0.25) - floor(pos(0.25))) *
            (col("hi25") - col("lo25"))).as("q1"),
          (col("lo75") + (pos(0.75) - floor(pos(0.75))) *
            (col("hi75") - col("lo75"))).as("q3"))
        .select(col("event_type"), col("n"), col("q1"), col("q3"),
          (col("q1") - lit(1.5) * (col("q3") - col("q1"))).as("lof"),
          (col("q3") + lit(1.5) * (col("q3") - col("q1"))).as("hif"))
      e.join(broadcast(pct), "event_type")
        .groupBy("event_type")
        .agg(max(col("n")).cast("long").as("n"),
          round(max(col("q1")), 4).as("q1"),
          round(max(col("q3")), 4).as("q3"),
          round(max(col("lof")), 4).as("lo_fence"),
          round(max(col("hif")), 4).as("hi_fence"),
          sum(when(col("value") < col("lof"), 1L).otherwise(0L)).as("n_below"),
          sum(when(col("value") > col("hif"), 1L).otherwise(0L)).as("n_above"))
        .orderBy("event_type")
    }),
    "q_agg_winsor" -> ((s, d) => {
      // robust statistics, the clamping siblings of q_agg_mad:
      // WINSORIZED mean (values clamped into [p10, p90]) and TRIMMED
      // mean (values outside dropped) per group — the standard
      // heavy-tail-resistant location estimates reported next to MAD.
      // Both percentiles come from ONE rank window via the
      // q_agg_percentile engineered-parity formula (rank-addressed
      // lo/hi + the identical IEEE interpolation both engines — ties
      // in the sort are harmless because only the VALUE at the rank
      // is read); the clamp/trim pass is a broadcast join of the
      // group-level bounds. Means follow the term-local round(8) →
      // decimal-sum recipe, output round(4) — terms two orders finer
      // than the output so a mean quotient cannot sit near a rounding
      // half (the r13 division-boundary rule).
      val e = Tables.events(s, d).where(col("value").isNotNull)
        .select(col("event_type"), col("value"))
      val w = Window.partitionBy("event_type")
      val rk = e.withColumn("rn", row_number().over(w.orderBy("value")))
        .withColumn("n", count(lit(1)).over(w))
      def pos(p: Double) = (col("n") - 1).cast("double") * p
      val pct = rk.groupBy("event_type").agg(
          max(col("n")).as("n"),
          max(when(col("rn") === floor(pos(0.1)) + 1, col("value"))).as("lo10"),
          max(when(col("rn") === ceil(pos(0.1)) + 1, col("value"))).as("hi10"),
          max(when(col("rn") === floor(pos(0.9)) + 1, col("value"))).as("lo90"),
          max(when(col("rn") === ceil(pos(0.9)) + 1, col("value"))).as("hi90"))
        .select(col("event_type"), col("n"),
          (col("lo10") + (pos(0.1) - floor(pos(0.1))) *
            (col("hi10") - col("lo10"))).as("p10"),
          (col("lo90") + (pos(0.9) - floor(pos(0.9))) *
            (col("hi90") - col("lo90"))).as("p90"))
      e.join(broadcast(pct), "event_type")
        .select(col("event_type"), col("n"), col("p10"), col("p90"),
          round(least(greatest(col("value"), col("p10")), col("p90")), 8)
            .cast("decimal(38,18)").as("wv"),
          when(col("value") >= col("p10") && col("value") <= col("p90"),
            round(col("value"), 8).cast("decimal(38,18)")).as("tv"))
        .groupBy("event_type")
        .agg(max(col("n")).cast("long").as("n"),
          round(max(col("p10")), 4).as("p10"),
          round(max(col("p90")), 4).as("p90"),
          round(sum(col("wv")).cast("double") / max(col("n")), 4).as("wmean"),
          count(col("tv")).as("n_trim"),
          round(sum(col("tv")).cast("double") / count(col("tv")), 4).as("tmean"))
        .orderBy("event_type")
    }),
    "q_agg_hhi" -> ((s, d) => {
      // Herfindahl–Hirschman concentration index per market — the
      // antitrust/portfolio concentration audit next to Gini's
      // inequality and entropy's spread: HHI = Σ share_i² over
      // suppliers within a nation's order volume, in exact integer
      // ppm of the 0..1 scale (Σ c_i² · 1e6 div total² — one
      // HUGEINT-safe cross-multiplied division, zero floats). One
      // (nation, supplier) hash agg + one nation agg.
      val c = t(s, d, "lineitem")
        .join(t(s, d, "supplier").select(col("s_suppkey"), col("s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_nationkey").as("nation"), col("l_suppkey"))
        .agg(count(lit(1)).as("ci"))
      c.groupBy("nation")
        .agg(count(lit(1)).as("n_suppliers"),
          sum(col("ci")).as("total"),
          sum(col("ci") * col("ci")).as("sq"))
        .select(col("nation"), col("n_suppliers"), col("total"),
          expr("CAST(sq AS DECIMAL(38,0)) * 1000000 div (total * total)")
            .cast("long").as("hhi_ppm"))
        .orderBy("nation")
    }),
    "q_events_seasonal" -> ((s, d) => {
      // weekly SEASONAL INDEX — the seasonal-adjustment companion to
      // q_events_acf's cycle detector: per day-of-week, the ratio of
      // the dow's daily mean to the overall daily mean, in exact
      // integer ppm (cnt_dow·n_days·1e6 div (n_dow_days·total) —
      // cross-multiplied, HUGEINT-safe, zero floats). dow derives
      // from epoch-days mod 7 — locale-free and identical across
      // engines (dayofweek() conventions differ). One day hash agg
      // (study-length-bounded) + a 7-row window.
      val byDay = Tables.events(s, d)
        .groupBy(col("ts").cast("date").as("day"))
        .agg(count(lit(1)).as("cnt"))
        .select(expr("datediff(day, DATE'1970-01-01') % 7").as("dow"), col("cnt"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
      byDay.groupBy("dow")
        .agg(count(lit(1)).as("n_days"), sum(col("cnt")).as("n_events"))
        .withColumn("tot_days", sum(col("n_days")).over(w))
        .withColumn("tot_events", sum(col("n_events")).over(w))
        .select(col("dow").cast("long").as("dow"), col("n_days"), col("n_events"),
          expr("CAST(n_events AS DECIMAL(38,0)) * tot_days * 1000000 div " +
            "(n_days * tot_events)").cast("long").as("idx_ppm"))
        .orderBy("dow")
    }),
    "q_events_psi" -> ((s, d) => {
      // Population Stability Index — THE industry drift score next to
      // KS (max ECDF gap) and CUSUM (sequential alarm): per event
      // type, PSI = Σ_b (p_b − q_b)·ln(p_b/q_b) between the study's
      // first 8 days (reference window) and the rest (monitoring
      // window), over 12 fixed 25-unit value buckets with add-1
      // smoothing (the full bucket spine is generated, so empty
      // buckets contribute their smoothed term in both engines).
      // Float discipline = the q_text_jsd recipe: the ln argument is
      // a cross-multiplied exact integer ratio, each bucket term is
      // ONE fixed expression of exact-integer-derived doubles rounded
      // term-local at 8 into a decimal sum; psi is a round of that
      // exact sum — no closing division.
      val ev = Tables.events(s, d).where(col("value").isNotNull)
        .select(col("event_type"), col("ts").cast("date").as("day"),
          greatest(least(
            expr("CAST(round(value, 2) AS DECIMAL(12,2)) * 100 div 2500"),
            lit(11L)), lit(0L)).as("b"))
        .localCheckpoint(true) // min-day scalar + spine + counts
      val minDay = broadcast(ev.agg(min(col("day")).as("d0")))
      val counts = ev.crossJoin(minDay)
        .groupBy("event_type", "b")
        .agg(sum(when(datediff(col("day"), col("d0")) < 8, 1L)
            .otherwise(0L)).as("na"),
          sum(when(datediff(col("day"), col("d0")) >= 8, 1L)
            .otherwise(0L)).as("nb"))
      val spine = ev.select("event_type").distinct()
        .select(col("event_type"), explode(sequence(lit(0L), lit(11L))).as("b"))
      val full = spine.join(counts, Seq("event_type", "b"), "left_outer")
        .select(col("event_type"), col("b"),
          coalesce(col("na"), lit(0L)).as("na"),
          coalesce(col("nb"), lit(0L)).as("nb"))
      val tot = full.groupBy("event_type")
        .agg((sum(col("na")) + 12).as("na1"), (sum(col("nb")) + 12).as("nb1"))
      full.join(tot, "event_type")
        .select(col("event_type"), col("na1"), col("nb1"),
          round((((col("na") + 1).cast("double") / col("na1")) -
              ((col("nb") + 1).cast("double") / col("nb1"))) *
            log(((col("na") + 1) * col("nb1")).cast("double") /
              ((col("nb") + 1) * col("na1")).cast("double")), 8)
            .cast("decimal(38,18)").as("term"))
        .groupBy("event_type")
        .agg((max(col("na1")) - 12).cast("long").as("n_ref"),
          (max(col("nb1")) - 12).cast("long").as("n_mon"),
          round(sum(col("term")).cast("double"), 6).as("psi"))
        .orderBy("event_type")
    }),
    "q_events_pareto" -> ((s, d) => {
      // revenue CONCENTRATION curve (the 80/20 audit): per-user exact
      // value totals in integer micros, users ranked into value
      // deciles (ntile with id tiebreak — the q_events_rfm shape),
      // per-decile user count + value sum + CUMULATIVE share of the
      // total in exact integer ppm. All arithmetic integer-exact:
      // round(value,6)·1e6 is an integer by construction, the ppm is
      // one HUGEINT-safe integer division. The 10-row decile axis
      // bounds every window.
      val perUser = Tables.events(s, d)
        .groupBy("user_id")
        .agg(sum(expr("CAST(round(value, 6) AS DECIMAL(19,6)) * 1000000")
          .cast("long")).as("mi"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("mi").desc, col("user_id"))
      val dec10 = perUser.withColumn("decile", ntile(10).over(w))
        .groupBy("decile")
        .agg(count(lit(1)).as("n_users"), sum(col("mi")).as("mi"))
      val wc = org.apache.spark.sql.expressions.Window
        .orderBy("decile")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val wt = org.apache.spark.sql.expressions.Window
        .partitionBy(lit(1))
      dec10
        .withColumn("cum_mi", sum(col("mi")).over(wc))
        .withColumn("total_mi", sum(col("mi")).over(wt))
        .select(col("decile"), col("n_users"), col("mi").as("val_micros"),
          expr("CAST(cum_mi AS DECIMAL(38,0)) * 1000000 div total_mi")
            .cast("long").as("cum_ppm"))
        .orderBy("decile")
    }),
    "q_agg_mad" -> ((s, d) => {
      // robust statistics: exact median + median-absolute-deviation
      // per group, both via the q_agg_percentile ENGINEERED-parity
      // formula (rank-addressed lo/hi + the same IEEE interpolation
      // expression both engines) — MAD is the outlier-scale measure
      // the 2-sigma anomaly query can't give on heavy-tailed data.
      // Two rank windows (one per pass) + a broadcast stats join; no
      // per-group array collection anywhere.
      val e = Tables.events(s, d).where(col("value").isNotNull)
        .select(col("event_type"), col("value"))
      def medianOf(df: DataFrame, valCol: String, out: String) = {
        val w = Window.partitionBy("event_type")
        val pos = (col("n") - 1).cast("double") * 0.5
        df.withColumn("rn", row_number().over(w.orderBy(valCol)))
          .withColumn("n", count(lit(1)).over(w))
          .groupBy("event_type")
          .agg(max(col("n")).as("n"),
            max(when(col("rn") === floor(pos) + 1, col(valCol))).as("lo"),
            max(when(col("rn") === ceil(pos) + 1, col(valCol))).as("hi"))
          .select(col("event_type"), col("n"),
            (col("lo") + (((col("n") - 1).cast("double") * 0.5) -
              floor((col("n") - 1).cast("double") * 0.5)) *
              (col("hi") - col("lo"))).as(out))
      }
      val med = medianOf(e, "value", "med")
      val dev = e.join(broadcast(med.select(col("event_type"), col("med"))),
          "event_type")
        .select(col("event_type"), abs(col("value") - col("med")).as("dev"))
      val mad = medianOf(dev, "dev", "mad")
      med.join(mad.select(col("event_type"), col("mad")), "event_type")
        .select(col("event_type"), col("n").cast("long").as("n"),
          round(col("med"), 4).as("med"), round(col("mad"), 4).as("mad"))
        .orderBy("event_type")
    }),
    "q_join_lateral" -> ((s, d) => {
      // LATERAL correlated subquery (SQL:2016 / Spark 3.4 lateral
      // join): top-3 orders PER customer written the declarative way —
      // the correlated ORDER BY ... LIMIT decorrelates into the same
      // per-key rank machinery the window form uses, proving the SQL
      // surface without a hand-rolled row_number. Sampled key space
      // bounds the output.
      t(s, d, "customer").createOrReplaceTempView("customer_lat")
      t(s, d, "orders").createOrReplaceTempView("orders_lat")
      s.sql("""
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM customer_lat c
        JOIN LATERAL (
          SELECT o_orderkey, o_totalprice FROM orders_lat o
          WHERE o.o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey LIMIT 3) t
        WHERE c.c_custkey % 100 = 0
        ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey""")
    }),
    "q_stream_source_synth" -> ((s, _) => {
      // the custom MicroBatchStream source executed AS A STREAM in the
      // gate: admission control paces 5000 rows into 5 micro-batches
      // of 1000 (SynthSourceSpec pins the batch count); the complete-
      // mode aggregate must equal the closed-form DuckDB range()
      // rebuild of the identical md5-derived rows — the determinism
      // convention extended to a streaming SOURCE, so even the
      // connector's generator is oracle-checked. (No count(DISTINCT):
      // streaming aggregation doesn't support it — max/sum/count are
      // the mergeable-state subset.)
      val sink = "stream_synth_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val src = s.readStream.format("graft-synth-events")
        .option("totalRows", 5000L).option("rowsPerBatch", 1000L)
        .option("partitions", 4).load()
      val q = src.groupBy("event_type")
        .agg(count(lit(1)).as("cnt"),
          round(sum(col("value").cast("decimal(18,2)")), 2).cast("double")
            .as("total_value"),
          max(col("user_id")).as("max_user"))
        .writeStream.outputMode("complete").format("memory").queryName(sink).start()
      try q.processAllAvailable() finally q.stop()
      s.table(sink).orderBy("event_type")
    }),
    "q_catalog_vacuum" -> ((s, d) => {
      // retention GC in-gate: commit three versions, expire all but
      // the latest (the catalog's vacuum — time-travel window
      // management), then report the surviving history: version count,
      // the latest version number (commit numbering is deterministic),
      // and the latest snapshot's fingerprint. A vacuum that deletes
      // the wrong dir or breaks the pointer hash-mismatches.
      withTempDir("graft-q-catvac") { dir =>
        val cat = new graft.operators.GraphCatalog(s, dir)
        val nat = t(s, d, "nation").select(col("n_nationkey").cast("long").as("k"))
        cat.commitVersion("g", nat.where(col("k") > 0)
          .select(col("k").as("src"), floor(col("k") / 2).cast("long").as("dst")))
        cat.commitVersion("g", nat.where(col("k") < 10)
          .select(col("k").as("src"), (col("k") + 100).as("dst")))
        cat.commitVersion("g", nat.where(col("k") >= 5)
          .select(col("k").as("src"), (col("k") % 5).as("dst")))
        cat.expireVersions("g", keep = 1, orphanGraceMs = 0)
        val latest = cat.loadLatest("g")
        latest.agg(count(lit(1)).as("n_edges"),
            sum("dst").cast("long").as("sum_dst"))
          .select(lit(cat.listVersions("g").size).as("n_versions"),
            lit(cat.latestVersion("g").get).as("latest_version"),
            col("n_edges"), col("sum_dst"))
      }
    }),
    "q_catalog_integrity" -> ((s, d) => {
      // MERKLE-style table-integrity digests — the maintenance audit a
      // 100 TB catalog runs after every write: per-row digests fold by
      // xor (order- and partitioning-independent, so any execution
      // produces the same digest) into per-BUCKET digests, and
      // re-verifying after an upsert costs only the TOUCHED buckets —
      // an unchanged bucket digest certifies every row in it without
      // re-reading the others' content at comparison time. The entry
      // demonstrates the blast radius: a hash-designated ~1/16 slice
      // of orders is "rewritten" (its digest input gains a version
      // tag) and the before/after census shows, per bucket of the
      // 64-bucket spine, row count, touched count, both digests, and
      // the changed flag — Σ changed IS the incremental re-verify
      // cost. One scan, one hash agg; 48-bit md5-slice digests in
      // exact Long xor.
      t(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          integTouched.as("t"))
        .select((col("o_orderkey") % 64).as("bucket"), col("t"),
          integDig(lit("")).as("d0"),
          integDig(when(col("t"), lit("v2")).otherwise(lit(""))).as("d1"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("t"), 1L).otherwise(0L)).as("n_touched"),
          expr("bit_xor(d0)").as("dig_before"),
          expr("bit_xor(d1)").as("dig_after"))
        .withColumn("changed",
          when(col("dig_before") =!= col("dig_after"), 1).otherwise(0))
        .orderBy("bucket")
    }),
    "q_stream_integrity" -> ((s, d) => {
      // the xor-digest's PAYOFF, run end-to-end as a stream: because
      // row digests fold by xor, an upsert maintains a bucket digest
      // with ONE xor of (old_row_digest ^ new_row_digest) per touched
      // row — no re-read of the bucket's untouched rows, the whole
      // reason a 100 TB catalog keeps Merkle digests at all. The
      // touched slice's rewrites ARRIVE as a file stream (two real
      // micro-batches via maxFilesPerTrigger = 1); each batch appends
      // its per-bucket xor-delta and touched-count partials through
      // foreachBatch; the final table is base-digest xor the folded
      // deltas. Xor associativity + commutativity make the maintained
      // table independent of arrival order and batching, so
      // q_catalog_integrity's batch oracle applies VERBATIM — the
      // maintained digest table provably equals the recompute.
      // REPLAY-IDEMPOTENT (r17 verdict item 1): partials are
      // batchId-keyed overwrites (idempotentBatchWrite), because the
      // failure mode of an append sink is maximal here — a replayed
      // batch's delta xor-CANCELS its own first copy in the fold and
      // the auditor reports the touched buckets unchanged
      // (corrupted-clean, silent). Wave31Spec forces the replay and a
      // kill-between-batches restart and pins both against the batch
      // recompute.
      val o = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
      val base = o.withColumn("t", integTouched)
        .select((col("o_orderkey") % 64).as("bucket"), col("t"),
          integDig(lit("")).as("d0"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_rows"), expr("bit_xor(d0)").as("dig_before"))
        .localCheckpoint(true)
      val streamDir = java.nio.file.Files.createTempDirectory("graft-q-integ-in")
      val ckpt = java.nio.file.Files.createTempDirectory("graft-q-integ-ckpt")
      val outDir = java.nio.file.Files.createTempDirectory("graft-q-integ-out")
      try {
        val arriving = o.where(integTouched)
        PipelineQueries.stageDocsChunk(
          arriving.where(col("o_orderkey") % 2 === 0), streamDir, "a")
        PipelineQueries.stageDocsChunk(
          arriving.where(col("o_orderkey") % 2 =!= 0), streamDir, "b")
        val out = outDir.resolve("partials").toString
        runIntegrityStream(s, arriving.schema, streamDir, ckpt, out)
        integFold(s, base, out)
          // detach from the temp dir (eager blocks) so cleanup can run
          .localCheckpoint(true)
      } finally {
        deleteRecursively(streamDir)
        deleteRecursively(ckpt)
        deleteRecursively(outDir)
      }
    }),
    "q_source_corrupt" -> ((s, d) => {
      // corrupt-file tolerance (the robustness surface a 100 TB lake
      // needs: one torn object must not kill the job): a garbage
      // .parquet file planted next to a good one is SKIPPED under
      // ignoreCorruptFiles, and the good file's rows all survive —
      // fingerprinted against the closed-form oracle.
      withTempDir("graft-q-corrupt") { dir =>
        val good = s"$dir/data"
        t(s, d, "nation").where(col("n_nationkey") < 15)
          .select(col("n_nationkey").cast("long").as("k"))
          .coalesce(1).write.mode("overwrite").parquet(good)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(good, "part-corrupt.parquet"),
          "this is not a parquet file".getBytes("UTF-8"))
        s.read.option("ignoreCorruptFiles", "true").parquet(good)
          .agg(count(lit(1)).as("n_rows"), sum(col("k")).cast("long").as("sum_k"))
      }
    }),
    "q_catalog_diff" -> ((s, d) => {
      // Snapshot DIFF between two catalog versions — the "what changed
      // between v1 and v2" audit every versioned lakehouse exposes
      // (Delta CDF / Iceberg changelog shape). v2 drops the high-key
      // edges and adds a delta; the diff time-travels BOTH versions
      // and EXCEPT ALLs each way, folding to per-direction
      // fingerprints. The oracle computes the same counts closed-form
      // from nation (25 rows at every SF), so a misdirected version
      // read or a lossy EXCEPT hash-mismatches.
      withTempDir("graft-q-catdiff") { dir =>
        val cat = new graft.operators.GraphCatalog(s, dir)
        val base = t(s, d, "nation").where(col("n_nationkey") > 0)
          .select(col("n_nationkey").cast("long").as("src"),
            floor(col("n_nationkey") / 2).cast("long").as("dst"))
        val delta = t(s, d, "nation").where(col("n_nationkey") < 10)
          .select(col("n_nationkey").cast("long").as("src"),
            (col("n_nationkey") + 100).cast("long").as("dst"))
        val v1 = cat.commitVersion("g", base)
        cat.commitVersion("g",
          base.where(col("src") < 20).unionByName(delta))
        def fold(df: DataFrame, tag: String) =
          df.agg(count(lit(1)).as("n_edges"),
              sum("dst").cast("long").as("sum_dst"))
            .select(lit(tag).as("change"), col("n_edges"), col("sum_dst"))
        val old = cat.loadVersion("g", v1)
        val neu = cat.loadLatest("g")
        fold(neu.exceptAll(old), "added")
          .unionByName(fold(old.exceptAll(neu), "removed"))
          .orderBy("change")
      }
    }),
    "q_window_distinct" -> ((s, d) => {
      // distinct-count-in-window via the dense_rank idiom: windows
      // can't host count(DISTINCT), but max(dense_rank over the value
      // order) per partition IS the distinct count — no second
      // aggregation pass over the base table, both windows share one
      // per-customer sort/shuffle. Emitted per customer with their
      // order count for the oracle to cross-check.
      val wv = Window.partitionBy("o_custkey").orderBy("o_orderpriority")
      t(s, d, "orders")
        .where(col("o_custkey") % 50 === 0)
        .withColumn("dr", dense_rank().over(wv))
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
             max(col("dr")).cast("long").as("n_priorities"))
        .orderBy("o_custkey")
    }),
    "q_agg_histo_quantile" -> ((s, d) => {
      // mergeable fixed-bin histogram quantiles: state is ≤25 bins per
      // group regardless of NDV — the percentile pattern that scales
      // where exact percentile must sort every group (and the batch
      // twin of streaming/t-digest-style quantile state). Quantile =
      // lower edge of the first bin whose cumulative count clears p·n,
      // with the threshold checks in INTEGER arithmetic (cum·2 ≥ n,
      // cum·10 ≥ 9n, cum·100 ≥ 99n) so no float boundary enters the
      // oracle compare. Bin width 2 over l_quantity ∈ [1, 50].
      val b = t(s, d, "lineitem")
        .groupBy(col("l_returnflag"),
          floor(col("l_quantity") / 2).cast("long").as("bin"))
        .agg(count(lit(1)).as("c"))
      val cum = b
        .withColumn("cum", sum("c").over(
          Window.partitionBy("l_returnflag").orderBy("bin")))
        .withColumn("n", sum("c").over(Window.partitionBy("l_returnflag")))
      cum.groupBy("l_returnflag")
        .agg(min(when(col("cum") * 2 >= col("n"), col("bin") * 2)).as("p50"),
             min(when(col("cum") * 10 >= col("n") * 9, col("bin") * 2)).as("p90"),
             min(when(col("cum") * 100 >= col("n") * 99, col("bin") * 2)).as("p99"))
        .orderBy("l_returnflag")
    }),
    "q_join_nullsafe" -> ((s, d) => {
      // null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL
      // keys MATCH each other instead of vanishing — the semantics
      // dimension joins add over plain =. Both sides fold first
      // (grouped to a handful of keys), so the null-safe full-outer
      // is a trivially small join; at scale the fold is where the
      // data volume dies. returnflag 'N' and linestatus 'F' are
      // nulled: the NULL row pairs up, A/R/O stay unmatched.
      val a = t(s, d, "lineitem")
        .groupBy(expr("nullif(l_returnflag, 'N')").as("k"))
        .agg(count(lit(1)).as("cnt_l"))
      val b = t(s, d, "lineitem")
        .groupBy(expr("nullif(l_linestatus, 'F')").as("k"))
        .agg(count(lit(1)).as("cnt_r"))
      a.join(b, a("k") <=> b("k"), "full_outer")
        .select(coalesce(a("k"), b("k")).as("k"),
          a("cnt_l").as("cnt_l"), b("cnt_r").as("cnt_r"),
          (a("cnt_l").isNotNull && b("cnt_r").isNotNull).as("matched"))
        .orderBy(col("k").asc_nulls_first)
    }),
    "q_agg_bitmap_intersect" -> ((s, d) => {
      // bitmap SET ALGEBRA (the Theta-sketch intersection analog,
      // exact): distinct suppliers active in BOTH 1995 and 2000 —
      // build one word-packed bitmap per year, AND them word-wise
      // (equi-join on word index + bitwise &), popcount-sum the
      // result. Distinct-set intersection without ever materializing
      // either distinct set: state is keyspace/64 words per side, the
      // join carries only word cells. The same word tables answer
      // union/difference with | / & ~ — one build, any set expression.
      val li = t(s, d, "lineitem").select(col("l_suppkey"),
        year(col("l_shipdate")).as("yr"))
      def words(y: Int) = li.where(col("yr") === y)
        .select(shiftright(col("l_suppkey"), 6).as("w"),
          expr("shiftleft(CAST(1 AS BIGINT), CAST(l_suppkey % 64 AS INT))").as("m"))
        .groupBy("w").agg(bit_or(col("m")).as(s"bits$y"))
      words(1995).join(words(2000), "w")
        .select(bit_count(col("bits1995").bitwiseAND(col("bits2000"))).as("pc"))
        .agg(coalesce(sum(col("pc")), lit(0)).cast("long").as("n_both"))
    }),
    "q_agg_bitmap_native" -> ((s, d) => {
      // the SAME bitmap-distinct semantics as q_agg_bitmap, but as the
      // native TypedImperativeAggregate (functions/expressions/
      // BitmapDistinct): the bitmap IS the aggregation buffer, so one
      // agg pass (map-side partial, reduce-side merge of sparse word
      // maps) replaces the relational two-level word fold — the
      // sketch-library extension tier, exercised through the SQL
      // function registry. Oracle: plain count(DISTINCT), again.
      graft.functions.expressions.GraftFunctions.register(s)
      t(s, d, "lineitem")
        .groupBy(col("l_linestatus"), (col("l_orderkey") % 2).as("side"))
        .agg(expr("bitmap_distinct(l_partkey)").as("n_parts"))
        .orderBy("l_linestatus", "side")
    }),
    "q_join_skew" -> ((s, d) => {
      // salted skew join in the gate: a deliberately hot modulo key is
      // spread over 8 salts (deterministic hash salt, not rand()); the
      // oracle is the PLAIN join — salting must be result-invisible
      val l = t(s, d, "lineitem")
        .select((col("l_suppkey") % 10).as("k"), col("l_orderkey"), col("l_linenumber"))
      val r = t(s, d, "nation")
        .select((col("n_nationkey") % 10).as("k"), col("n_name"))
      graft.operators.SkewJoin.saltedInnerJoin(l, r, "k", salts = 8,
          saltCols = Seq("l_orderkey", "l_linenumber"))
        .groupBy("k", "n_name").agg(count(lit(1)).as("cnt"))
        .orderBy("k", "n_name")
    }),
    "q_stream_join" -> ((s, d) => {
      // stream-STREAM interval join executed as a stream in the gate:
      // view events joined to the same user's click events arriving
      // within 30 minutes — two independent file-stream readers over
      // the same events directory, watermarked both sides so join
      // state evicts by event time. Inner-join pairs emit without
      // waiting on the watermark, so one processAllAvailable drains
      // everything; the oracle is the equivalent batch interval join.
      val streamDir = java.nio.file.Files.createTempDirectory("graft-q-join-stream")
      try {
      stageEventsInto(d, streamDir)
      val views = graft.streaming.EventStreams.eventsStream(s, streamDir.toString)
        .where(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("user_id"), col("ts").as("vts"))
      val clicks = graft.streaming.EventStreams.eventsStream(s, streamDir.toString)
        .where(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
          col("ts").as("cts"))
      val sink = "stream_join_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val q = graft.streaming.EventStreams
        .intervalJoin(views, clicks, "user_id", "c_user", "vts", "cts")
        .select(col("user_id"), col("view_id"), col("click_id"),
          (unix_timestamp(col("cts")) - unix_timestamp(col("vts"))).as("gap_s"))
        .writeStream.outputMode("append").format("memory").queryName(sink).start()
      try q.processAllAvailable() finally q.stop()
      s.table(sink).groupBy("user_id")
        .agg(count(lit(1)).as("n_pairs"), min(col("gap_s")).as("min_gap_s"),
          max(col("gap_s")).as("max_gap_s"))
        .orderBy("user_id")
      } finally deleteRecursively(streamDir)
    }),
    "q_stream_join_outer" -> ((s, d) => {
      // LEFT-OUTER stream-stream interval join: q_stream_join's pairs
      // PLUS every view with no click in its 30-minute window,
      // null-padded. An unmatched view can only emit once the engine
      // can PROVE no matching click will arrive — its interval end
      // must fall below the global watermark (min over both sides of
      // max event time - 2h), at which point the eviction no-data
      // micro-batch (which processAllAvailable waits for) releases it.
      // Views whose interval end is still above the final watermark
      // stay in state unemitted — the oracle carries the same cutoff.
      val streamDir = java.nio.file.Files.createTempDirectory("graft-q-join-outer-stream")
      try {
      stageEventsInto(d, streamDir)
      val views = graft.streaming.EventStreams.eventsStream(s, streamDir.toString)
        .where(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("user_id"), col("ts").as("vts"))
      val clicks = graft.streaming.EventStreams.eventsStream(s, streamDir.toString)
        .where(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
          col("ts").as("cts"))
      val sink = "stream_join_outer_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val q = graft.streaming.EventStreams
        .intervalJoin(views, clicks, "user_id", "c_user", "vts", "cts",
          joinType = "left_outer")
        .select(col("user_id"), col("view_id"), col("click_id"))
        .writeStream.outputMode("append").format("memory").queryName(sink).start()
      try q.processAllAvailable() finally q.stop()
      s.table(sink).groupBy("user_id")
        .agg(count(lit(1)).as("n_rows"), count(col("click_id")).as("n_matched"),
          sum(when(col("click_id").isNull, 1L).otherwise(0L)).as("n_unmatched"))
        .orderBy("user_id")
      } finally deleteRecursively(streamDir)
    }),
    "q_stream_join_full" -> ((s, d) => {
      // FULL-outer stream-stream interval join: pairs, watermark-
      // evicted unmatched views (as in q_stream_join_outer) AND
      // watermark-evicted unmatched clicks. A click's match window is
      // views with vts in [cts - 30min, cts], so its state is provably
      // dead once the view-side watermark passes cts itself — a
      // DIFFERENT cutoff than the view side's vts + 30min, and the
      // oracle carries both.
      val streamDir = java.nio.file.Files.createTempDirectory("graft-q-join-full-stream")
      try {
      stageEventsInto(d, streamDir)
      val views = graft.streaming.EventStreams.eventsStream(s, streamDir.toString)
        .where(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("user_id"), col("ts").as("vts"))
      val clicks = graft.streaming.EventStreams.eventsStream(s, streamDir.toString)
        .where(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
          col("ts").as("cts"))
      val sink = "stream_join_full_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val q = graft.streaming.EventStreams
        .intervalJoin(views, clicks, "user_id", "c_user", "vts", "cts",
          joinType = "full_outer")
        .select(coalesce(col("user_id"), col("c_user")).as("uid"),
          col("view_id"), col("click_id"))
        .writeStream.outputMode("append").format("memory").queryName(sink).start()
      try q.processAllAvailable() finally q.stop()
      s.table(sink).groupBy(col("uid"))
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("view_id").isNotNull && col("click_id").isNotNull, 1L)
            .otherwise(0L)).as("n_pairs"),
          sum(when(col("click_id").isNull, 1L).otherwise(0L)).as("n_view_only"),
          sum(when(col("view_id").isNull, 1L).otherwise(0L)).as("n_click_only"))
        .orderBy("uid")
      } finally deleteRecursively(streamDir)
    }),
    "q_stream_enrich" -> ((s, d) => {
      // third streaming-executed gate member: stream-static broadcast
      // enrichment (events joined to the nation dim per micro-batch),
      // raw enriched rows landed append-mode, aggregated from the sink
      val streamDir = java.nio.file.Files.createTempDirectory("graft-q-enrich-stream")
      try {
      stageEventsInto(d, streamDir)
      val dim = t(s, d, "nation").select(col("n_nationkey"), col("n_name"))
      val stream = graft.streaming.EventStreams.eventsStream(s, streamDir.toString)
        .withColumn("nk", col("user_id") % 25)
      val sink = "stream_enrich_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val q = graft.streaming.EventStreams.enrichStream(stream, dim, "nk", "n_nationkey")
        .select(col("event_id"), col("n_name"), col("value"))
        .writeStream.outputMode("append").format("memory").queryName(sink).start()
      try q.processAllAvailable() finally q.stop()
      s.table(sink).groupBy("n_name")
        .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("val"))
        .orderBy("n_name")
      } finally deleteRecursively(streamDir)
    }),
    "q_events_funnel" -> ((s, d) => {
      // sequential funnel view -> click -> purchase: each stage's
      // timestamp must be strictly after the previous stage's (classic
      // event-sequence analytics). Seconds-floored epochs keep the
      // comparison identical under Spark's µs vs DuckDB's ns precision.
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("event_type"), unix_timestamp(col("ts")).as("sec"))
      val tv = ev.where(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("sec")).as("tv"))
      val tc = ev.where(col("event_type") === "click").join(tv, "user_id")
        .where(col("sec") > col("tv")).groupBy("user_id").agg(min(col("sec")).as("tc"))
      val tp = ev.where(col("event_type") === "purchase").join(tc, "user_id")
        .where(col("sec") > col("tc")).groupBy("user_id").agg(min(col("sec")).as("tp"))
      tv.agg(count(lit(1)).as("n_view"))
        .crossJoin(tc.agg(count(lit(1)).as("n_click")))
        .crossJoin(tp.agg(count(lit(1)).as("n_purchase")))
        .crossJoin(tp.join(tv, "user_id")
          .agg(round(avg(col("tp") - col("tv")), 2).as("avg_secs")))
    }),
    "q_window_sliding" -> ((s, d) => {
      // sliding time windows (1 h window, 30 min slide): every event
      // lands in exactly two overlapping windows
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("w_start"),
          col("event_type"), col("cnt"))
        .orderBy("w_start", "event_type")
    }),
    "q_agg_bool" -> ((s, d) => {
      // boolean/conditional aggregate family; max_by/min_by tie-broken
      // by aggregating over the UNIQUE c_custkey (deterministic)
      t(s, d, "customer").groupBy("c_mktsegment")
        .agg(bool_and(col("c_acctbal") > -999).as("all_above"),
          bool_or(col("c_acctbal") > 9000).as("any_rich"),
          count_if(col("c_acctbal") < 0).as("n_neg"),
          max_by(col("c_name"), col("c_custkey")).as("last_cust"),
          min_by(col("c_name"), col("c_custkey")).as("first_cust"))
        .orderBy("c_mktsegment")
    }),
    "q_scalar_bits" -> ((s, d) => {
      // bitwise scalar family (mask/shift/xor — the partition-bucket
      // and fingerprint arithmetic toolkit)
      t(s, d, "orders").where(col("o_orderkey") % 31 === 0)
        .select(col("o_orderkey"),
          (col("o_orderkey").bitwiseAND(255)).as("lo8"),
          (col("o_orderkey").bitwiseOR(15)).as("or15"),
          (col("o_orderkey").bitwiseXOR(col("o_custkey"))).as("x"),
          shiftleft(col("o_orderkey"), 2).as("shl"),
          shiftright(col("o_orderkey"), 3).as("shr"))
        .orderBy("o_orderkey")
    }),
    "q_scalar_hash" -> ((s, d) => {
      // cryptographic-hash scalar family (content addressing / split
      // keys): md5 + sha-256 over text, grouped into 16 hex buckets
      t(s, d, "documents")
        .select(col("doc_id"), md5(col("text")).as("h_md5"),
          sha2(col("text"), 256).as("h_sha256"))
        .withColumn("bucket", substring(col("h_sha256"), 1, 1))
        .orderBy("doc_id")
    }),
    "q_tpch_q18" -> ((s, d) => {
      // TPC-H Q18 shape (large-volume orders): orders whose summed
      // quantity clears a threshold, joined back to customer; the
      // aggregate-then-join keeps the HAVING filter before the join
      val big = t(s, d, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"))
        .where(col("sum_qty") > 150)
      val o = t(s, d, "orders")
      val c = t(s, d, "customer")
      big.join(o, big("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .select(col("c_custkey"), col("o_orderkey"),
          round(col("o_totalprice"), 2).as("price"), col("sum_qty"))
        .orderBy(col("price").desc, col("o_orderkey"))
        .limit(100)
    }),
    "q_tpch_q10" -> ((s, d) => {
      // TPC-H Q10 shape: revenue lost to returned items per customer,
      // one quarter window; nation broadcast, top 20
      val li = t(s, d, "lineitem").where(col("l_returnflag") === "R")
      val o = t(s, d, "orders")
        .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
      val c = t(s, d, "customer")
      val n = t(s, d, "nation")
      c.join(o, c("c_custkey") === o("o_custkey"))
        .join(li, o("o_orderkey") === li("l_orderkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
        .agg(revenueSum.as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }),
    "q_stream_sessionize" -> ((s, d) => {
      // Stateful flatMapGroupsWithState sessionization EXECUTED AS A
      // STREAM inside the exact-match gate: all events land in batch 1,
      // then two sentinel-user far-future files advance the watermark so
      // every real user's final session is timeout-emitted; the sentinel
      // is excluded from the result, which must equal the batch
      // window-function sessionization (q_events_sessionize's oracle).
      import org.apache.spark.sql.functions.{col => c}
      val streamDir = java.nio.file.Files.createTempDirectory("graft-q-sess-stream")
      try {
      val e0 = java.nio.file.Files.createDirectory(streamDir.resolve("e0"))
      stageEventsInto(d, e0)
      // sentinel writer: one far-future event for user -1, ts encoded
      // in the staged fixture's dtype (see writeSentinel)
      def sentinel(tag: String, plusDays: Long): Unit =
        writeSentinel(s, d, streamDir, tag, plusDays)
      val sink = "stream_sess_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val events = graft.streaming.EventStreams.eventsStream(s, streamDir.toString + "/*")
        .select(c("event_id"), c("ts"), c("user_id"), c("event_type"), c("value"))
        .as[graft.streaming.EventStreams.Event](
          org.apache.spark.sql.Encoders.product[graft.streaming.EventStreams.Event])
      val q = graft.streaming.EventStreams.sessionize(events)
        .toDF()
        .writeStream.outputMode("append").format("memory").queryName(sink).start()
      try {
        q.processAllAvailable()
        sentinel("s1", 10); q.processAllAvailable()
        sentinel("s2", 20); q.processAllAvailable()
      } finally q.stop()
      s.table(sink).where(col("user_id") >= 0)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_sessions"), sum(col("n_events")).as("n_events"))
        .orderBy("user_id")
      } finally deleteRecursively(streamDir)
    }),
    "q_stream_scd2" -> ((s, d) => streamScd2(s, d)),
    "q_stream_scd2_rocksdb" -> ((s, d) =>
      // the IDENTICAL streaming SCD-2 drive, executed on the RocksDB
      // state store (r14 verdict item 2): flatMapGroupsWithState's
      // per-user buffered suffixes are exactly the keyed state that
      // must spill to executor-local disk at 100 TB — the default
      // HDFS-backed provider holds it in heap. Same oracle as
      // q_stream_scd2: the provider must be invisible in the result.
      graft.streaming.StateStores.withProvider(
        s, graft.streaming.StateStores.RocksDb)(streamScd2(s, d))),
    "q_stream_quantile" -> ((s, d) => {
      // Streaming quantiles, completing the stream-sketch trio (HLL
      // distinct, top-n heavy hitters, and this): per-event-type
      // p50/p90/p99 of `value` from a mergeable fixed-bin histogram —
      // the streaming state is the (event_type, bin) counts, ≤50 bins
      // per group no matter how many events arrive (the shape t-digest
      // style quantile state takes at scale; exact percentile would
      // have to buffer every value). Complete-mode count agg is the
      // stream; the cumulative fold + integer-arithmetic quantile
      // picks run batch-side from the sink (same cut rules as the
      // batch q_agg_histo_quantile oracle twin).
      val streamDir = java.nio.file.Files.createTempDirectory("graft-q-quant-stream")
      try {
      stageEventsInto(d, streamDir)
      val sink = "stream_quant_" + java.util.UUID.randomUUID().toString.replace("-", "")
      // value IS NOT NULL on BOTH sides: a NULL value would land in a
      // NULL bin that Spark's cumulative window orders first while
      // DuckDB orders NULLS LAST, skewing every cut (latent today —
      // the fixture has no NULL values — but ordering semantics must
      // not depend on that staying true)
      val q = graft.streaming.EventStreams.eventsStream(s, streamDir.toString)
        .where(col("value").isNotNull)
        .groupBy(col("event_type"), floor(col("value") / 10).cast("long").as("bin"))
        .agg(count(lit(1)).as("c"))
        .writeStream.outputMode("complete").format("memory").queryName(sink).start()
      try q.processAllAvailable() finally q.stop()
      val cum = s.table(sink)
        .withColumn("cum", sum("c").over(
          Window.partitionBy("event_type").orderBy("bin")))
        .withColumn("n", sum("c").over(Window.partitionBy("event_type")))
      cum.groupBy("event_type")
        .agg(min(when(col("cum") * 2 >= col("n"), col("bin") * 10)).as("p50"),
             min(when(col("cum") * 10 >= col("n") * 9, col("bin") * 10)).as("p90"),
             min(when(col("cum") * 100 >= col("n") * 99, col("bin") * 10)).as("p99"))
        .orderBy("event_type")
      } finally deleteRecursively(streamDir)
    }),
    "q_stream_topn" -> ((s, d) => {
      // Streaming heavy-hitters: per-event-type top-3 users by event
      // count, computed from a complete-mode streaming count agg (the
      // running (type, user) counts ARE the stream state — a standard
      // partial+final hash agg whose state tracks key cardinality,
      // not stream length) with the rank cut applied batch-side from
      // the sink (streaming queries cannot stack a window over an
      // agg). Deterministic tie-break (cnt desc, user asc) keeps the
      // row hash-exact vs the batch oracle.
      val streamDir = java.nio.file.Files.createTempDirectory("graft-q-topn-stream")
      try {
      stageEventsInto(d, streamDir)
      val sink = "stream_topn_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val q = graft.streaming.EventStreams.eventsStream(s, streamDir.toString)
        .groupBy("event_type", "user_id")
        .agg(count(lit(1)).as("cnt"))
        .writeStream.outputMode("complete").format("memory").queryName(sink).start()
      try q.processAllAvailable() finally q.stop()
      val w = Window.partitionBy("event_type")
        .orderBy(col("cnt").desc, col("user_id"))
      s.table(sink)
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= 3)
        .select(col("event_type"), col("rk"), col("user_id"), col("cnt"))
        .orderBy("event_type", "rk")
      } finally deleteRecursively(streamDir)
    }),
    "q_stream_hll" -> ((s, d) => {
      // Streaming approximate-distinct: the deterministic 64-register
      // HLL (q_sketch_hll's estimator) executed as a STREAM. The only
      // streaming state is the per-(event_type, register) max-rank —
      // a complete-mode partial+final max agg holding 64 registers per
      // group no matter how many events stream through, the canonical
      // bounded-state stream sketch. The register→estimate fold runs
      // batch-side from the sink (stacked streaming aggregations are
      // unsupported by design, and the fold is O(groups×64)). Oracle =
      // the identical deterministic estimator in DuckDB, hash-exact.
      val streamDir = java.nio.file.Files.createTempDirectory("graft-q-hll-stream")
      try {
      stageEventsInto(d, streamDir)
      val sink = "stream_hll_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val h = md5(concat(lit("hll|"), col("k")))
      val q = graft.streaming.EventStreams.eventsStream(s, streamDir.toString)
        .select(col("event_type"), col("user_id").cast("string").as("k"))
        .select(col("event_type"),
          (conv(substring(h, 1, 8), 16, 10).cast("long") % 64).cast("int").as("idx"),
          conv(substring(h, 9, 8), 16, 10).cast("long").as("v"))
        .select(col("event_type"), col("idx"),
          when(col("v") === 0, lit(33)).otherwise(lit(33) - length(bin(col("v")))).as("rho"))
        .groupBy("event_type", "idx").agg(max("rho").as("m"))
        .writeStream.outputMode("complete").format("memory").queryName(sink).start()
      try q.processAllAvailable() finally q.stop()
      val exact = Tables.events(s, d).groupBy("event_type")
        .agg(countDistinct("user_id").as("n_exact"))
      s.table(sink)
        .groupBy("event_type")
        .agg(sum(pow(lit(2.0), -col("m"))).as("ssum"), count(lit(1)).as("nreg"))
        .join(exact, Seq("event_type"))
        .select(col("event_type"), col("n_exact"),
          round(lit(0.709) * 4096.0 / (col("ssum") + (lit(64) - col("nreg")) * 1.0), 4)
            .as("n_est"))
        .orderBy("event_type")
      } finally deleteRecursively(streamDir)
    }),
    "q_stream_asof" -> ((s, d) => {
      // STREAM-STREAM as-of enrichment executed as a stream inside the
      // exact-match gate (same drive pattern as q_stream_scd2): all
      // events land in batch 1, sentinel files advance the watermark so
      // every real left row's emission is released; result must equal
      // the batch union+window as-of (q_asof_join's DuckDB ASOF oracle).
      import org.apache.spark.sql.functions.{col => c}
      val streamDir = java.nio.file.Files.createTempDirectory("graft-q-asof-stream")
      try {
      val e0 = java.nio.file.Files.createDirectory(streamDir.resolve("e0"))
      stageEventsInto(d, e0)
      def sentinel(tag: String, plusDays: Long): Unit =
        writeSentinel(s, d, streamDir, tag, plusDays)
      val sink = "stream_asof_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val events = graft.streaming.EventStreams.eventsStream(s, streamDir.toString + "/*")
        .select(c("event_id"), c("ts"), c("user_id"), c("event_type"), c("value"))
        .as[graft.streaming.EventStreams.Event](
          org.apache.spark.sql.Encoders.product[graft.streaming.EventStreams.Event])
      val q = graft.streaming.EventStreams.asofEnrich(events)
        .toDF()
        .writeStream.outputMode("append").format("memory").queryName(sink).start()
      try {
        q.processAllAvailable()
        sentinel("s1", 10); q.processAllAvailable()
        sentinel("s2", 20); q.processAllAvailable()
      } finally q.stop()
      s.table(sink).where(col("user_id") >= 0)
        .select("event_id", "user_id", "purchase_id", "gap_sec")
        .orderBy("event_id")
      } finally deleteRecursively(streamDir)
    }),
    "q_events_locf" -> ((s, d) => {
      // time-series gap filling: per-user daily values on a dense date
      // spine, missing days filled last-observation-carried-forward —
      // one explode for the spine, one left join, one running
      // last(ignoreNulls) window; no driver-side loops, spine rows
      // bounded by user-activity spans.
      val daily = Tables.events(s, d)
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(round(sum(col("value")), 2).as("v"))
      val spine = daily.groupBy("user_id")
        .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
        .select(col("user_id"), explode(sequence(col("d0"), col("d1"))).as("day"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(daily, Seq("user_id", "day"), "left_outer")
        .withColumn("filled", last(col("v"), ignoreNulls = true).over(w))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_days"),
          sum(when(col("v").isNull, 1L).otherwise(0L)).as("n_filled"),
          sum(col("filled").cast("decimal(18,2)")).cast("double").as("sum_filled"))
        .orderBy("user_id")
    }),
    "q_profile" -> ((s, d) => {
      // dataset profiling (the data-card primitive): per-column row /
      // null / distinct counts. One aggregation scan PER column rather
      // than one multi-distinct agg — multi-distinct plans as an
      // Expand that multiplies every row by the column count before
      // the shuffle, while per-column scans each prune to a single
      // column (ReadSchema: one field) and run in parallel.
      val o = t(s, d, "orders")
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderdate", "o_orderpriority")
        .map { c =>
          o.agg(count(lit(1)).as("n_rows"),
              sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_nulls"),
              countDistinct(col(c)).as("n_distinct"))
            .select(lit(c).as("col_name"), col("n_rows"), col("n_nulls"),
              col("n_distinct"))
        }
        .reduce(_ unionAll _)
        .orderBy("col_name")
    }),
    "q_events_session_native" -> ((s, d) => {
      // Spark's NATIVE SessionWindow operator (vs q_events_sessionize's
      // lag-composed twin): merging aggregation over gap-extended
      // [start, last+30min) intervals. Boundary semantics differ from
      // the composed form at exact ties — session_window starts a new
      // session at gap >= 30min (intervals are half-open), so the
      // oracle compares microsecond-exact epochs with >=, not >.
      Tables.events(s, d)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("ne"))
        // integer-microsecond duration, NOT cast-to-double subtraction:
        // µs/1e6 rounds per operand, and a 1-ulp difference flips
        // floor() at exact-second boundaries (every single-event
        // session is exactly 1800 s) — div keeps both engines exact
        .withColumn("dur",
          expr("(unix_micros(sw.end) - unix_micros(sw.start)) div 1000000"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_sessions"), sum(col("ne")).cast("long").as("n_events"),
          max(col("dur")).cast("long").as("max_sess_secs"))
        .orderBy("user_id")
    }),
    "q_stream_session_native" -> ((s, d) => {
      // streaming twin of q_events_session_native: the native merging
      // SessionWindow state operator executed by a real streaming query
      // (complete mode keeps every session, so the oracle is the same
      // batch SQL — stream must agree with batch exactly).
      val streamDir = java.nio.file.Files.createTempDirectory("graft-q-sess-stream")
      try {
      stageEventsInto(d, streamDir)
      val sink = "stream_session_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val q = graft.streaming.EventStreams.eventsStream(s, streamDir.toString)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("ne"))
        .writeStream.outputMode("complete").format("memory").queryName(sink).start()
      try q.processAllAvailable() finally q.stop()
      s.table(sink)
        .withColumn("dur",
          expr("(unix_micros(sw.end) - unix_micros(sw.start)) div 1000000"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_sessions"), sum(col("ne")).cast("long").as("n_events"),
          max(col("dur")).cast("long").as("max_sess_secs"))
        .orderBy("user_id")
      } finally deleteRecursively(streamDir)
    }),
    "q_events_scd2" -> ((s, d) => {
      // type-2 slowly-changing-dimension build from an event stream —
      // the lakehouse CDC-merge shape: per user, collapse consecutive
      // same-state events into validity intervals (gaps-and-islands by
      // VALUE change, where q_events_sessionize islands by TIME gap).
      // One window pass (lag + running change-flag sum) + one hash
      // agg; at 100 TB this is a single user-partitioned exchange, and
      // version ordinals/validity bounds are exact integers (epoch
      // micros) so the oracle hash-matches bit-for-bit.
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, d).where(col("user_id") <= 50)
        .withColumn("chg", when(lag(col("event_type"), 1).over(w).isNull ||
          lag(col("event_type"), 1).over(w) =!= col("event_type"), 1).otherwise(0))
        .withColumn("ver", sum(col("chg"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("ver"), col("event_type"))
        .agg(unix_micros(min(col("ts"))).as("valid_from"),
          unix_micros(max(col("ts"))).as("valid_to"),
          count(lit(1)).as("n_events"))
        .orderBy("user_id", "ver")
    }),
    "q_events_sessionize" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .withColumn("gap", col("ts").cast("double") - lag(col("ts"), 1).over(w).cast("double"))
        .withColumn("boundary", when(col("gap").isNull || col("gap") > 1800.0, 1).otherwise(0))
        .withColumn("sess", sum(col("boundary"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id")
        .agg(max(col("sess")).cast("long").as("n_sessions"), count(lit(1)).as("n_events"))
        .orderBy("user_id")
    }))

  val oracles: Map[String, String] = Map(
    "q_filter_project" ->
      """SELECT l_orderkey, l_linenumber, round(l_extendedprice * l_discount, 4) AS disc_amount FROM lineitem WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00' AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24 ORDER BY l_orderkey, l_linenumber""",
    "q_agg_groupingsets" ->
      """SELECT o_orderstatus, o_orderpriority, count(*)::BIGINT AS cnt FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ()) ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""",
    "q_udaf_weighted" ->
      """SELECT l_returnflag, round(sum(l_extendedprice * l_quantity) / sum(l_quantity), 2) AS wavg_price FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q_agg_groupby" ->
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity),2) AS sum_qty, round(sum(l_extendedprice),2) AS sum_base, sum((l_extendedprice*(1-l_discount))::DECIMAL(18,4))::DOUBLE AS sum_disc, round(avg(l_quantity),2) AS avg_qty, count(*)::BIGINT AS cnt FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00' GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""",
    "q_agg_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey)::BIGINT AS nparts, count(DISTINCT l_suppkey)::BIGINT AS nsupps, count(*)::BIGINT AS cnt FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q_agg_rollup" ->
      """SELECT o_orderstatus, o_orderpriority, count(*)::BIGINT AS cnt, round(sum(o_totalprice),2) AS total FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority) ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""",
    "q_agg_cube" ->
      """SELECT l_returnflag, l_linestatus, count(*)::BIGINT AS cnt, round(sum(l_quantity),2) AS qty FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus) ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""",
    "q_agg_stats" ->
      """SELECT l_linestatus, round(min(l_extendedprice),2) AS mn, round(max(l_extendedprice),2) AS mx, round(avg(l_extendedprice),2) AS av, round(stddev_samp(l_extendedprice),2) AS sd, round(quantile_cont(l_extendedprice, 0.5),2) AS med FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""",
    "q_agg_having" ->
      """SELECT o_custkey, count(*)::BIGINT AS n, round(sum(o_totalprice),2) AS spend FROM orders GROUP BY o_custkey HAVING count(*) >= 15 ORDER BY o_custkey""",
    "q_scalar_null" ->
      """SELECT l_orderkey, l_linenumber, nullif(l_discount, 0.0) AS d_or_null, coalesce(nullif(l_discount, 0.0), -1.0) AS d_filled, (nullif(l_discount, 0.0) IS NOT DISTINCT FROM nullif(l_tax, 0.0)) AS nse FROM lineitem WHERE l_orderkey % 25 = 0 ORDER BY l_orderkey, l_linenumber""",
    "q_union_all" ->
      """SELECT c_custkey, count(*)::BIGINT AS appearances FROM (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING' UNION ALL SELECT c_custkey FROM customer WHERE c_acctbal > 9000) GROUP BY c_custkey HAVING count(*) = 2 ORDER BY c_custkey""",
    "q_join_broadcast" ->
      """SELECT n_name, count(*)::BIGINT AS cnt, round(sum(c_acctbal),2) AS bal FROM customer JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'EUROPE' GROUP BY n_name ORDER BY n_name""",
    "q_join_bloom" ->
      """SELECT o_orderpriority, count(*)::BIGINT AS n, sum(o_totalprice::DECIMAL(18,2))::DOUBLE AS spend FROM orders WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING') GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q_layout_zorder" ->
      ("""WITH b AS (SELECT (o_custkey % 1024)::BIGINT AS x, (floor(o_totalprice / 500.0)::BIGINT % 1024) AS y FROM orders), zt AS (SELECT x, y, (""" +
        (0 until 10).map(i => s"(((x >> $i) & 1) << ${2 * i}) + (((y >> $i) & 1) << ${2 * i + 1})").mkString(" + ") +
        """) AS z FROM b) SELECT (z >> 14)::BIGINT AS zbucket, count(*)::BIGINT AS n, min(x)::BIGINT AS x_min, max(x)::BIGINT AS x_max, min(y)::BIGINT AS y_min, max(y)::BIGINT AS y_max FROM zt GROUP BY 1 ORDER BY zbucket"""),
    "q_join_sortmerge" ->
      """SELECT o_orderpriority, sum((l_extendedprice*(1-l_discount))::DECIMAL(18,4))::DOUBLE AS revenue, count(*)::BIGINT AS cnt FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    // DELIBERATELY the direct full join (q_join_sortmerge's SQL): the
    // engine side maintains the view incrementally from the staged
    // base + three delta terms, and equality with the recompute is
    // the IVM correctness statement
    "q_ivm_join" ->
      """SELECT o_orderpriority, sum((l_extendedprice*(1-l_discount))::DECIMAL(18,4))::DOUBLE AS revenue, count(*)::BIGINT AS cnt FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    // the streaming-maintained view must equal the same direct
    // recompute under any batching — additivity of the partial
    // aggregates is the proof, the oracle is the check
    "q_stream_ivm_join" ->
      """SELECT o_orderpriority, sum((l_extendedprice*(1-l_discount))::DECIMAL(18,4))::DOUBLE AS revenue, count(*)::BIGINT AS cnt FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q_join_semi" ->
      """SELECT c_mktsegment, count(*)::BIGINT AS cnt FROM customer WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "q_join_anti" ->
      """SELECT c_mktsegment, count(*)::BIGINT AS cnt FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "q_join_outer" ->
      """WITH per_order AS (SELECT o_orderkey, count(l_orderkey)::BIGINT AS nlines FROM orders LEFT JOIN lineitem ON o_orderkey = l_orderkey GROUP BY o_orderkey) SELECT nlines, count(*)::BIGINT AS norders FROM per_order GROUP BY nlines ORDER BY nlines""",
    "q_tpch_q3" ->
      """SELECT l_orderkey, sum((l_extendedprice*(1-l_discount))::DECIMAL(18,4))::DOUBLE AS revenue FROM lineitem JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00' AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00' GROUP BY l_orderkey ORDER BY revenue DESC, l_orderkey LIMIT 10""",
    "q_tpch_q5" ->
      """SELECT n_name, sum((l_extendedprice*(1-l_discount))::DECIMAL(18,4))::DOUBLE AS revenue FROM lineitem JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey JOIN nation ON s_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00' GROUP BY n_name ORDER BY revenue DESC, n_name""",
    "q_window_rank" ->
      """SELECT o_custkey, o_orderkey, round(o_totalprice,2) AS price, rn FROM (SELECT o_custkey, o_orderkey, o_totalprice, row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)::INT AS rn FROM orders) WHERE rn <= 3 ORDER BY o_custkey, rn""",
    "q_window_running" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber, round(sum(l_quantity) OVER (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),2) AS running_qty FROM lineitem WHERE l_suppkey <= 10 ORDER BY l_suppkey, l_orderkey, l_linenumber""",
    "q_window_lag" ->
      """SELECT o_custkey, o_orderkey, round(o_totalprice - lag(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),2) AS delta FROM orders ORDER BY o_custkey, o_orderkey""",
    "q_window_range_frame" ->
      """SELECT o_custkey, o_orderkey, count(*) OVER (PARTITION BY o_custkey ORDER BY floor(o_totalprice)::BIGINT RANGE BETWEEN 50000 PRECEDING AND CURRENT ROW)::BIGINT AS n_in_range FROM orders WHERE o_custkey <= 30 ORDER BY o_custkey, o_orderkey""",
    "q_sort_topk" ->
      """SELECT l_orderkey, l_linenumber, round(l_extendedprice,2) AS price FROM lineitem ORDER BY price DESC, l_orderkey, l_linenumber LIMIT 20""",
    "q_set_ops" ->
      """(SELECT c_custkey FROM customer WHERE c_mktsegment IN ('BUILDING','AUTOMOBILE') INTERSECT SELECT c_custkey FROM customer WHERE c_acctbal > 0) EXCEPT SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 400000 ORDER BY c_custkey""",
    "q_scalar_string" ->
      """SELECT p_partkey, lower(p_name) AS lname, upper(p_brand) AS ubrand, substr(p_name,1,5) AS pfx, length(p_name)::INT AS len, coalesce(regexp_extract(p_name, '([0-9]+)', 1), '') AS num, concat_ws('-', p_brand, p_type) AS cat, lpad(p_partkey::VARCHAR, 8, '0') AS padded FROM part WHERE p_partkey % 10 = 0 ORDER BY p_partkey""",
    "q_histogram" ->
      """SELECT CASE WHEN c_acctbal < -1000.0 THEN 0 WHEN c_acctbal >= 10000.0 THEN 12 ELSE floor((c_acctbal - (-1000.0)) / ((10000.0 - (-1000.0)) / 11)) + 1 END::BIGINT AS bucket, count(*)::BIGINT AS cnt FROM customer GROUP BY 1 ORDER BY bucket""",
    "q_agg_moments" ->
      """WITH g AS (SELECT l_returnflag, count(*)::DOUBLE AS n, round(sum(l_quantity::DECIMAL(18,2)), 2)::DOUBLE AS s1, round(sum(l_quantity::DECIMAL(18,2) * l_quantity::DECIMAL(18,2)), 2)::DOUBLE AS s2, round(sum(l_quantity::DECIMAL(18,2) * l_quantity::DECIMAL(18,2) * l_quantity::DECIMAL(18,2)), 2)::DOUBLE AS s3, round(sum(l_quantity::DECIMAL(18,2) * l_quantity::DECIMAL(18,2) * l_quantity::DECIMAL(18,2) * l_quantity::DECIMAL(18,2)), 0)::DOUBLE AS s4 FROM lineitem GROUP BY l_returnflag) SELECT l_returnflag, round((s3/n - 3.0*(s1/n)*(s2/n) + 2.0*(s1/n)*(s1/n)*(s1/n)) / sqrt((s2/n - (s1/n)*(s1/n)) * (s2/n - (s1/n)*(s1/n)) * (s2/n - (s1/n)*(s1/n))), 6) + 0.0 AS skew, round((s4/n - 4.0*(s1/n)*(s3/n) + 6.0*(s1/n)*(s1/n)*(s2/n) - 3.0*(s1/n)*(s1/n)*(s1/n)*(s1/n)) / ((s2/n - (s1/n)*(s1/n)) * (s2/n - (s1/n)*(s1/n))) - 3.0, 6) + 0.0 AS kurt FROM g ORDER BY l_returnflag""",
    // same per-pair rounded division, same explicit middle-position
    // median, same integer OLS power sums + closed form
    "q_agg_theilsen" ->
      """WITH daily AS (SELECT ts::DATE AS day, count(*)::BIGINT AS x FROM events GROUP BY 1), p AS (SELECT a.day AS da, b.day AS db, round((b.x - a.x)::DOUBLE / date_diff('day', a.day, b.day)::DOUBLE, 6) AS sl FROM daily a JOIN daily b ON a.day < b.day), rk AS (SELECT sl, row_number() OVER (ORDER BY sl, da, db) AS rk, count(*) OVER () AS n FROM p), med AS (SELECT round(avg(sl), 6) AS theilsen, max(n)::BIGINT AS n_pairs FROM rk WHERE rk = (n + 1) // 2 OR rk = (n + 2) // 2), o AS (SELECT count(*)::DOUBLE AS n, sum(t)::DOUBLE AS sx, sum(x)::DOUBLE AS sy, sum(t * x)::DOUBLE AS sxy, sum(t * t)::DOUBLE AS sxx FROM (SELECT date_diff('day', DATE '1970-01-01', day)::BIGINT AS t, x FROM daily)) SELECT o.n::BIGINT AS n_days, med.n_pairs, med.theilsen, round((o.n * o.sxy - o.sx * o.sy) / (o.n * o.sxx - o.sx * o.sx), 6) AS ols_slope FROM o CROSS JOIN med""",
    // same decimal power sums, same closed forms, same parenthesization
    "q_agg_regr" ->
      """WITH l AS (SELECT l_returnflag, l_quantity::DECIMAL(18,2) AS x, l_extendedprice::DECIMAL(18,2) AS y FROM lineitem), g AS (SELECT l_returnflag, count(*)::DOUBLE AS n, round(sum(x), 2)::DOUBLE AS sx, round(sum(y), 2)::DOUBLE AS sy, round(sum(x * y), 2)::DOUBLE AS sxy, round(sum(x * x), 2)::DOUBLE AS sxx, round(sum(y * y), 0)::DOUBLE AS syy FROM l GROUP BY l_returnflag) SELECT l_returnflag, n::BIGINT AS regr_count, round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope, round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6) AS intercept, round((n * sxy - sx * sy) / (n * sxx - sx * sx) * ((n * sxy - sx * sy) / (n * syy - sy * sy)), 6) AS r2 FROM g ORDER BY l_returnflag""",
    "q_agg_corr" ->
      """WITH g AS (SELECT l_returnflag, count(*)::DOUBLE AS n, round(sum(l_quantity::DECIMAL(18,2)), 2)::DOUBLE AS sx, round(sum(l_extendedprice::DECIMAL(18,2)), 2)::DOUBLE AS sy, round(sum(l_quantity::DECIMAL(18,2) * l_extendedprice::DECIMAL(18,2)), 2)::DOUBLE AS sxy, round(sum(l_quantity::DECIMAL(18,2) * l_quantity::DECIMAL(18,2)), 2)::DOUBLE AS sxx, round(sum(l_extendedprice::DECIMAL(18,2) * l_extendedprice::DECIMAL(18,2)), 0)::DOUBLE AS syy, round(sum(l_discount::DECIMAL(18,2)), 2)::DOUBLE AS sd, round(sum(l_tax::DECIMAL(18,2)), 2)::DOUBLE AS st, round(sum(l_discount::DECIMAL(18,2) * l_tax::DECIMAL(18,2)), 4)::DOUBLE AS sdt FROM lineitem GROUP BY l_returnflag) SELECT l_returnflag, round((n * sxy - sx * sy) / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 4) + 0.0 AS corr_qp, round((sdt - sd * st / n) / (n - 1.0), 6) + 0.0 AS cov_dt FROM g ORDER BY l_returnflag""",
    "q_scalar_more" ->
      """SELECT p_partkey, replace(p_brand, '#', '-') AS tbrand, array_to_string(list_transform(string_split(lower(p_name), ' '), w -> concat(upper(w[1]), w[2:])), ' ') AS icap, reverse(p_type) AS rtype, repeat('x', (p_size % 4)::INT) AS rep, CASE WHEN strpos(p_name, '_') IS NULL THEN 0 ELSE strpos(p_name, '_') END::INT AS uspos FROM part WHERE p_partkey % 17 = 0 ORDER BY p_partkey""",
    "q_array_ops" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk FROM documents WHERE doc_id % 3 = 0) SELECT doc_id, len(tk)::INT AS n, list_sort(tk)[1] AS first_sorted, list_contains(tk, 'the') AS has_the, array_to_string(tk[1:3], '|') AS first3 FROM t ORDER BY doc_id""",
    "q_scalar_date" ->
      """SELECT o_orderkey, year(o_orderdate)::INT AS yr, month(o_orderdate)::INT AS mo, day(o_orderdate)::INT AS dom, quarter(o_orderdate)::INT AS qtr, strftime(o_orderdate, '%Y-%m') AS ym, date_diff('day', o_orderdate::DATE, DATE '2002-01-01')::INT AS days_to, strftime(o_orderdate::DATE + INTERVAL 30 DAY, '%Y-%m-%d') AS plus30 FROM orders WHERE o_orderkey % 7 = 0 ORDER BY o_orderkey""",
    "q_scalar_math" ->
      """SELECT l_orderkey, l_linenumber, round(sqrt(l_extendedprice),4) AS sq, round(pow(l_discount,2),6) AS d2, round(abs(l_tax - l_discount),4) AS ad, ceil(l_quantity)::BIGINT AS cq, floor(l_extendedprice/1000)::BIGINT AS kprice, (l_quantity::INT % 7)::INT AS qmod, round(ln(l_extendedprice),4) AS lnp FROM lineitem WHERE l_orderkey % 50 = 0 ORDER BY l_orderkey, l_linenumber""",
    "q_scalar_case" ->
      """SELECT CASE WHEN c_acctbal < 0 THEN 'neg' WHEN c_acctbal < 3000 THEN 'low' WHEN c_acctbal < 7000 THEN 'mid' ELSE 'high' END AS bucket, count(*)::BIGINT AS cnt, round(sum(c_acctbal),2) AS bal FROM customer GROUP BY 1 ORDER BY bucket""",
    "q_json" ->
      """SELECT event_type, count(*)::BIGINT AS cnt, round(avg(json_extract_string(props, '$.k')::INT),2) AS avg_k, max(json_extract_string(props, '$.k')::INT)::INT AS max_k FROM events GROUP BY event_type ORDER BY event_type""",
    "q_json_schema" ->
      """SELECT event_id, json_extract_string(props, '$.k')::INT AS k FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL AND json_extract_string(props, '$.k')::INT % 10 = 0 ORDER BY event_id""",
    "q_events_hourly" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hr, event_type, count(*)::BIGINT AS cnt, round(sum(value),2) AS val FROM events GROUP BY 1, 2 ORDER BY hr, event_type""",
    "q_cdc_snapshot" ->
      """WITH r AS (SELECT user_id, event_type, value, epoch_us(ts)::BIGINT AS tus, row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn FROM events) SELECT user_id, event_type AS last_type, value AS last_value, tus AS last_ts FROM r WHERE rn = 1 AND event_type <> 'error' ORDER BY user_id""",
    "q_quality_checks" ->
      """WITH s AS (SELECT (count(*) - count(DISTINCT o_orderkey))::BIGINT AS pk_unique_orderkey, count(*) FILTER (WHERE o_custkey IS NULL)::BIGINT AS notnull_custkey, count(*) FILTER (WHERE o_totalprice <= 0)::BIGINT AS positive_totalprice, count(*) FILTER (WHERE o_orderstatus NOT IN ('F','O','P'))::BIGINT AS status_in_domain, count(*) FILTER (WHERE o_orderdate < TIMESTAMP '1992-01-01' OR o_orderdate >= TIMESTAMP '1999-01-01')::BIGINT AS orderdate_in_range FROM orders) SELECT check_name, violations FROM (SELECT 'pk_unique_orderkey' AS check_name, pk_unique_orderkey AS violations FROM s UNION ALL SELECT 'notnull_custkey', notnull_custkey FROM s UNION ALL SELECT 'positive_totalprice', positive_totalprice FROM s UNION ALL SELECT 'status_in_domain', status_in_domain FROM s UNION ALL SELECT 'orderdate_in_range', orderdate_in_range FROM s UNION ALL SELECT 'fk_orders_customer', count(*)::BIGINT FROM orders LEFT JOIN customer ON o_custkey = c_custkey WHERE c_custkey IS NULL) ORDER BY check_name""",
    "q_events_abtest" ->
      """WITH g AS (SELECT sum(CASE WHEN event_type = 'view' THEN 1 END)::DOUBLE AS na, round(sum(CASE WHEN event_type = 'view' THEN value::DECIMAL(18,6) END), 6)::DOUBLE AS sa1, round(sum(CASE WHEN event_type = 'view' THEN value::DECIMAL(18,6) * value::DECIMAL(18,6) END), 6)::DOUBLE AS sa2, sum(CASE WHEN event_type = 'click' THEN 1 END)::DOUBLE AS nb, round(sum(CASE WHEN event_type = 'click' THEN value::DECIMAL(18,6) END), 6)::DOUBLE AS sb1, round(sum(CASE WHEN event_type = 'click' THEN value::DECIMAL(18,6) * value::DECIMAL(18,6) END), 6)::DOUBLE AS sb2 FROM events WHERE event_type IN ('view', 'click') AND value IS NOT NULL) SELECT na::BIGINT AS n_a, nb::BIGINT AS n_b, round(sa1 / na, 4) AS mean_a, round(sb1 / nb, 4) AS mean_b, round((sa1 / na - sb1 / nb) * (sa1 / na - sb1 / nb) / ((sa2 - sa1 * sa1 / na) / (na - 1) / na + (sb2 - sb1 * sb1 / nb) / (nb - 1) / nb), 4) AS t2, round(((sa2 - sa1 * sa1 / na) / (na - 1) / na + (sb2 - sb1 * sb1 / nb) / (nb - 1) / nb) * ((sa2 - sa1 * sa1 / na) / (na - 1) / na + (sb2 - sb1 * sb1 / nb) / (nb - 1) / nb) / ((sa2 - sa1 * sa1 / na) / (na - 1) / na * ((sa2 - sa1 * sa1 / na) / (na - 1) / na) / (na - 1) + (sb2 - sb1 * sb1 / nb) / (nb - 1) / nb * ((sb2 - sb1 * sb1 / nb) / (nb - 1) / nb) / (nb - 1)), 2) AS df FROM g""",
    "q_window_ewma" ->
      """WITH l AS (SELECT user_id, list(value ORDER BY ts, event_id) AS vals FROM events WHERE value IS NOT NULL GROUP BY user_id) SELECT user_id, len(vals)::BIGINT AS n_events, round(list_reduce(vals, (acc, x) -> 0.2::DOUBLE * x + 0.8::DOUBLE * acc), 4) AS ewma FROM l ORDER BY user_id""",
    "q_window_locf" ->
      """SELECT user_id, event_id, CASE WHEN event_type <> 'error' THEN value END AS reading, last_value(CASE WHEN event_type <> 'error' THEN value END IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled FROM events WHERE user_id % 25 = 0 ORDER BY user_id, event_id""",
    // open/close via row_number (DuckDB arg_min takes no struct key);
    // the engine's struct-min/max picks the same unique (tus,event_id)
    // extremes, so the raw doubles agree bit-for-bit
    "q_events_ohlc" ->
      """WITH e AS (SELECT event_type, date_trunc('hour', ts) AS hr0, epoch_us(ts)::BIGINT AS tus, event_id, value FROM events WHERE value IS NOT NULL), r AS (SELECT *, row_number() OVER (PARTITION BY event_type, hr0 ORDER BY tus, event_id) AS rf, row_number() OVER (PARTITION BY event_type, hr0 ORDER BY tus DESC, event_id DESC) AS rl FROM e) SELECT event_type, strftime(hr0, '%Y-%m-%d %H:%M:%S') AS hr, max(CASE WHEN rf = 1 THEN value END) AS open, max(value) AS high, min(value) AS low, max(CASE WHEN rl = 1 THEN value END) AS close, count(*)::BIGINT AS volume, round(sum(value::DECIMAL(18,6)), 2)::DOUBLE AS turnover FROM r GROUP BY event_type, hr0 ORDER BY event_type, hr""",
    "q_events_concurrency" ->
      """WITH b AS (SELECT event_type, epoch_us(ts)::BIGINT AS t, 1 AS delta FROM events UNION ALL SELECT event_type, epoch_us(ts)::BIGINT + 300000000, -1 FROM events), c AS (SELECT event_type, t, delta, sum(delta) OVER (PARTITION BY event_type ORDER BY t, delta ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc FROM b), p AS (SELECT *, max(conc) OVER (PARTITION BY event_type) AS peak FROM c) SELECT event_type, max(conc)::BIGINT AS peak, min(CASE WHEN conc = peak THEN t END)::BIGINT AS first_peak_us, sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END)::BIGINT AS n_intervals FROM p GROUP BY event_type ORDER BY event_type""",
    // same quasi-identifier tuple with the shift-then-floor-division
    // balance band on explicitly ROUNDED integer cents (both engines
    // round, so neither cast rule matters), same bit-length census,
    // same min-group / singleton readouts
    "q_privacy_kanon" ->
      """WITH g AS (SELECT c_nationkey, c_mktsegment, (round(c_acctbal * 100)::BIGINT + 100000) // 100000 AS bal_band, count(*) AS gsz FROM customer GROUP BY 1, 2, 3), st AS (SELECT min(gsz)::BIGINT AS kanon, sum(CASE WHEN gsz = 1 THEN 1 ELSE 0 END)::BIGINT AS n_singletons FROM g) SELECT length(format('{:b}', gsz))::INT AS bucket, count(*)::BIGINT AS n_groups, sum(gsz)::BIGINT AS n_rows, (SELECT kanon FROM st) AS kanon, (SELECT n_singletons FROM st) AS n_singletons FROM g GROUP BY bucket ORDER BY bucket""",
    // same coarser quasi-identifier pair, same rounded-cents band as
    // the sensitive attribute, same min-l / homogeneous-group scalars
    "q_privacy_ldiversity" ->
      """WITH g AS (SELECT c_nationkey, c_mktsegment, count(DISTINCT (round(c_acctbal * 100)::BIGINT + 100000) // 100000)::BIGINT AS l, count(*) AS gsz FROM customer GROUP BY 1, 2), st AS (SELECT min(l)::BIGINT AS ldiv, sum(CASE WHEN l = 1 THEN 1 ELSE 0 END)::BIGINT AS n_homogeneous FROM g) SELECT l, count(*)::BIGINT AS n_groups, sum(gsz)::BIGINT AS n_rows, (SELECT ldiv FROM st) AS ldiv, (SELECT n_homogeneous FROM st) AS n_homogeneous FROM g GROUP BY l ORDER BY l""",
    // same rounded-cents bands, same full group×band spine, same
    // cross-multiplied |cum_gb·N − cumN_b·n_g| prefix terms, same
    // integer-ppm normalization by (B−1)·n_g·N
    "q_privacy_tcloseness" ->
      """WITH b AS (SELECT c_nationkey, c_mktsegment, (round(c_acctbal * 100)::BIGINT + 100000) // 100000 AS band FROM customer), gb AS (SELECT c_nationkey, c_mktsegment, band, count(*)::BIGINT AS ngb FROM b GROUP BY 1, 2, 3), g AS (SELECT c_nationkey, c_mktsegment, sum(ngb)::BIGINT AS ng FROM gb GROUP BY 1, 2), bd AS (SELECT band, sum(ngb)::BIGINT AS nb FROM gb GROUP BY band), bc AS (SELECT sum(nb)::BIGINT AS nn, count(*)::BIGINT AS bcnt FROM bd), bdc AS (SELECT band, sum(nb) OVER (ORDER BY band ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cumnb FROM bd), sp AS (SELECT g.c_nationkey, g.c_mktsegment, g.ng, bdc.band, bdc.cumnb FROM g CROSS JOIN bdc), cm AS (SELECT sp.c_nationkey, sp.c_mktsegment, sp.ng, sp.cumnb, sum(coalesce(gb.ngb, 0)) OVER (PARTITION BY sp.c_nationkey, sp.c_mktsegment ORDER BY sp.band ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cumg FROM sp LEFT JOIN gb ON gb.c_nationkey = sp.c_nationkey AND gb.c_mktsegment = sp.c_mktsegment AND gb.band = sp.band) SELECT c_nationkey, c_mktsegment, max(ng)::BIGINT AS gsz, (sum(abs(cumg * (SELECT nn FROM bc) - cumnb * ng)) * 1000000 // (greatest(1, (SELECT bcnt FROM bc) - 1) * max(ng) * (SELECT nn FROM bc)))::BIGINT AS t_ppm FROM cm GROUP BY c_nationkey, c_mktsegment ORDER BY c_nationkey, c_mktsegment""",
    // same per-key counts, same bit-length buckets, same
    // cross-multiplied max·K·10⁶ // N integer skew ratio
    "q_profile_skew" ->
      """WITH c AS (SELECT o_custkey AS k, count(*) AS cnt FROM orders GROUP BY o_custkey), g AS (SELECT count(*)::BIGINT AS kk, sum(cnt)::BIGINT AS n, max(cnt)::BIGINT AS mx FROM c) SELECT length(format('{:b}', cnt))::INT AS bucket, count(*)::BIGINT AS n_keys, sum(cnt)::BIGINT AS n_rows, min(cnt)::BIGINT AS min_cnt, max(cnt)::BIGINT AS max_cnt, (SELECT mx * kk * 1000000 // n FROM g)::BIGINT AS skew_ppm FROM c GROUP BY bucket ORDER BY bucket""",
    // same low-8-bit coordinates, same Morton interleave constants,
    // same 32-way z-range vs orderkey-range buckets, same zone-map
    // min/max readout and x BETWEEN 10 AND 20 prune probe
    "q_layout_skipping" ->
      s"""WITH li AS (SELECT l_orderkey, (l_partkey % 256)::BIGINT AS x, (l_suppkey % 256)::BIGINT AS y FROM lineitem), mx AS (SELECT max(l_orderkey)::BIGINT AS omax FROM lineitem), zz AS (SELECT l_orderkey, x, y, ($zInterleaveSql)::BIGINT AS z FROM li), b AS (SELECT 'zorder' AS layout, (z // 2048)::BIGINT AS bucket, x, y FROM zz UNION ALL SELECT 'natural' AS layout, ((l_orderkey * 32) // ((SELECT omax FROM mx) + 1))::BIGINT AS bucket, x, y FROM zz) SELECT layout, bucket, count(*)::BIGINT AS n, min(x)::BIGINT AS min_x, max(x)::BIGINT AS max_x, min(y)::BIGINT AS min_y, max(y)::BIGINT AS max_y, (CASE WHEN max(x) < 10 OR min(x) > 20 THEN 0 ELSE 1 END)::BIGINT AS scan_hit FROM b GROUP BY layout, bucket ORDER BY layout, bucket""",
    "q_profile_table" ->
      """WITH s AS (SELECT count(*) FILTER (WHERE o_orderkey IS NULL)::BIGINT AS nn_orderkey, count(DISTINCT o_orderkey)::BIGINT AS nd_orderkey, min(o_orderkey)::DOUBLE AS mn_orderkey, max(o_orderkey)::DOUBLE AS mx_orderkey, count(*) FILTER (WHERE o_custkey IS NULL)::BIGINT AS nn_custkey, count(DISTINCT o_custkey)::BIGINT AS nd_custkey, min(o_custkey)::DOUBLE AS mn_custkey, max(o_custkey)::DOUBLE AS mx_custkey, count(*) FILTER (WHERE o_orderstatus IS NULL)::BIGINT AS nn_orderstatus, count(DISTINCT o_orderstatus)::BIGINT AS nd_orderstatus, count(*) FILTER (WHERE o_totalprice IS NULL)::BIGINT AS nn_totalprice, count(DISTINCT o_totalprice)::BIGINT AS nd_totalprice, min(o_totalprice) AS mn_totalprice, max(o_totalprice) AS mx_totalprice, count(*) FILTER (WHERE o_orderdate IS NULL)::BIGINT AS nn_orderdate, count(DISTINCT o_orderdate)::BIGINT AS nd_orderdate, epoch_us(min(o_orderdate))::DOUBLE AS mn_orderdate, epoch_us(max(o_orderdate))::DOUBLE AS mx_orderdate, count(*) FILTER (WHERE o_orderpriority IS NULL)::BIGINT AS nn_orderpriority, count(DISTINCT o_orderpriority)::BIGINT AS nd_orderpriority FROM orders) SELECT col_name, n_null, n_distinct, min_v, max_v FROM (SELECT 'orderkey' AS col_name, nn_orderkey AS n_null, nd_orderkey AS n_distinct, mn_orderkey AS min_v, mx_orderkey AS max_v FROM s UNION ALL SELECT 'custkey', nn_custkey, nd_custkey, mn_custkey, mx_custkey FROM s UNION ALL SELECT 'orderstatus', nn_orderstatus, nd_orderstatus, NULL, NULL FROM s UNION ALL SELECT 'totalprice', nn_totalprice, nd_totalprice, mn_totalprice, mx_totalprice FROM s UNION ALL SELECT 'orderdate', nn_orderdate, nd_orderdate, mn_orderdate, mx_orderdate FROM s UNION ALL SELECT 'orderpriority', nn_orderpriority, nd_orderpriority, NULL, NULL FROM s) ORDER BY col_name""",
    "q_events_anomaly" ->
      """WITH st AS (SELECT user_id, count(*)::DOUBLE AS n, round(sum(value::DECIMAL(18,6)), 6)::DOUBLE AS s1, round(sum(value::DECIMAL(18,6) * value::DECIMAL(18,6)), 6)::DOUBLE AS s2 FROM events GROUP BY user_id) SELECT e.user_id, max(st.n)::BIGINT AS n_events, round(max(st.s1/st.n), 4) AS mean_value, count(*) FILTER (WHERE (e.value - st.s1/st.n) * (e.value - st.s1/st.n) > 4.0 * (st.s2/st.n - (st.s1/st.n)*(st.s1/st.n)))::BIGINT AS n_outliers FROM events e JOIN st ON e.user_id = st.user_id GROUP BY e.user_id ORDER BY e.user_id""",
    "q_events_transitions" ->
      """WITH o AS (SELECT user_id, event_type AS to_type, lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS from_type FROM events) SELECT from_type, to_type, count(*)::BIGINT AS n, count(DISTINCT user_id)::BIGINT AS n_users FROM o WHERE from_type IS NOT NULL GROUP BY from_type, to_type ORDER BY from_type, to_type""",
    // mirrors the apriori prune + 1000-item basket cap (both are
    // no-ops on fixture data — baskets hold <= 13 parts — but the
    // oracle encodes the FULL semantics so it stays exact on any data)
    "q_basket_pairs" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey FROM lineitem), fr AS (SELECT l_partkey FROM li GROUP BY l_partkey HAVING count(*) >= 3), pr AS (SELECT ok, l_partkey FROM li WHERE l_partkey IN (SELECT l_partkey FROM fr)), sm AS (SELECT ok FROM pr GROUP BY ok HAVING count(*) <= 1000), it AS (SELECT ok, l_partkey FROM pr WHERE ok IN (SELECT ok FROM sm)) SELECT a.l_partkey AS pi, b.l_partkey AS pj, count(*)::BIGINT AS n_orders FROM it a JOIN it b ON a.ok = b.ok AND a.l_partkey < b.l_partkey GROUP BY 1, 2 HAVING count(*) >= 3 ORDER BY n_orders DESC, pi, pj""",
    "q_events_twa" ->
      """WITH e AS (SELECT user_id, event_id, value, epoch_us(ts)::BIGINT AS tus FROM events), o AS (SELECT user_id, value, tus, lead(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id) - tus AS dur FROM e) SELECT user_id, count(*)::BIGINT AS n_holds, sum(dur)::BIGINT AS held_us, round(sum(round(value,6)::DECIMAL(19,6) * dur::DECIMAL(19,0))::DOUBLE / sum(dur)::DOUBLE, 6) AS twa FROM o WHERE dur IS NOT NULL GROUP BY user_id ORDER BY user_id""",
    "q_window_extras" ->
      """SELECT o_custkey, o_orderkey, rank() OVER (PARTITION BY o_custkey ORDER BY o_orderpriority)::INT AS rk, dense_rank() OVER (PARTITION BY o_custkey ORDER BY o_orderpriority)::INT AS dr, ntile(4) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)::INT AS quartile, first_value(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_ord, last_value(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_ord, round(percent_rank() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), 4) AS pr, round(cume_dist() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), 4) AS cd FROM orders WHERE o_custkey <= 50 ORDER BY o_custkey, o_orderkey""",
    "q_date_spine" ->
      """WITH fs AS (SELECT l_orderkey, min(l_shipdate) AS first_ship FROM lineitem GROUP BY l_orderkey), sp AS (SELECT unnest(generate_series(o_orderdate::DATE, fs.first_ship::DATE, INTERVAL 1 DAY))::DATE AS day FROM orders JOIN fs ON o_orderkey = fs.l_orderkey WHERE date_diff('day', o_orderdate::DATE, fs.first_ship::DATE) BETWEEN 0 AND 30) SELECT strftime(day, '%Y-%m') AS ym, count(*)::BIGINT AS n_days FROM sp GROUP BY ym ORDER BY ym""",
    "q_crosstab" ->
      """SELECT l_returnflag AS l_returnflag_l_linestatus, sum(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END)::BIGINT AS "F", sum(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END)::BIGINT AS "O" FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag_l_linestatus""",
    "q_collect" ->
      """SELECT l_returnflag, array_to_string(list_sort(list_distinct(list(l_linestatus))), ',') AS statuses, array_to_string(list_transform(list_sort(list_distinct(list(l_linenumber)))[1:3], x -> x::VARCHAR), ',') AS lines3 FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q_pivot" ->
      """SELECT l_linestatus, round(sum(CASE WHEN l_returnflag = 'A' THEN l_quantity END),2) AS "A", round(sum(CASE WHEN l_returnflag = 'N' THEN l_quantity END),2) AS "N", round(sum(CASE WHEN l_returnflag = 'R' THEN l_quantity END),2) AS "R" FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""",
    "q_subquery" ->
      """SELECT c_mktsegment, count(*)::BIGINT AS cnt, round(avg(c_acctbal),2) AS avg_bal FROM customer WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer) AND EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00') GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "q_asof_join" ->
      """WITH p AS (SELECT user_id, ts, max(event_id) AS purchase_id FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts), e AS (SELECT event_id, user_id, ts FROM events WHERE event_type <> 'purchase') SELECT e.event_id, e.user_id, p.purchase_id, (floor(epoch(e.ts)) - floor(epoch(p.ts)))::BIGINT AS gap_sec FROM e ASOF LEFT JOIN p ON e.user_id = p.user_id AND e.ts >= p.ts ORDER BY e.event_id""",
    "q_asof_exec" ->
      """WITH p AS (SELECT user_id, ts, max(event_id) AS purchase_id FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts), e AS (SELECT event_id, user_id, ts FROM events WHERE event_type <> 'purchase') SELECT e.event_id, e.user_id, p.purchase_id, (floor(epoch(e.ts)) - floor(epoch(p.ts)))::BIGINT AS gap_sec FROM e ASOF LEFT JOIN p ON e.user_id = p.user_id AND e.ts >= p.ts ORDER BY e.event_id""",
    // streaming histogram quantiles vs the identical bin/cut rules
    "q_stream_quantile" ->
      """WITH b AS (SELECT event_type, floor(value / 10)::BIGINT AS bin, count(*)::BIGINT AS c FROM events WHERE value IS NOT NULL GROUP BY 1, 2), cu AS (SELECT event_type, bin, c, sum(c) OVER (PARTITION BY event_type ORDER BY bin) AS cum, sum(c) OVER (PARTITION BY event_type) AS n FROM b) SELECT event_type, min(CASE WHEN cum * 2 >= n THEN bin * 10 END)::BIGINT AS p50, min(CASE WHEN cum * 10 >= n * 9 THEN bin * 10 END)::BIGINT AS p90, min(CASE WHEN cum * 100 >= n * 99 THEN bin * 10 END)::BIGINT AS p99 FROM cu GROUP BY event_type ORDER BY event_type""",
    // streaming heavy-hitters vs the same batch window cut
    "q_stream_topn" ->
      """WITH c AS (SELECT event_type, user_id, count(*)::BIGINT AS cnt FROM events GROUP BY event_type, user_id), r AS (SELECT event_type, user_id, cnt, row_number() OVER (PARTITION BY event_type ORDER BY cnt DESC, user_id) AS rk FROM c) SELECT event_type, rk::INT AS rk, user_id, cnt FROM r WHERE rk <= 3 ORDER BY event_type, rk""",
    // streaming twin of q_sketch_hll over events: identical registers
    "q_stream_hll" ->
      """WITH h AS (SELECT event_type, ('0x' || substr(md5('hll|' || user_id::VARCHAR), 1, 8))::BIGINT % 64 AS idx, ('0x' || substr(md5('hll|' || user_id::VARCHAR), 9, 8))::BIGINT AS v FROM events), rg AS (SELECT event_type, idx, max(CASE WHEN v = 0 THEN 33 ELSE 33 - length(format('{:b}', v)) END) AS m FROM h GROUP BY event_type, idx), ex AS (SELECT event_type, count(DISTINCT user_id)::BIGINT AS n_exact FROM events GROUP BY event_type) SELECT rg.event_type, ex.n_exact, round(0.709 * 4096.0 / (sum(pow(2.0, -m)) + (64 - count(*)) * 1.0), 4) AS n_est FROM rg JOIN ex ON rg.event_type = ex.event_type GROUP BY rg.event_type, ex.n_exact ORDER BY rg.event_type""",
    // streaming twin of q_asof_join — stream must equal batch exactly
    "q_stream_asof" ->
      """WITH p AS (SELECT user_id, ts, max(event_id) AS purchase_id FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts), e AS (SELECT event_id, user_id, ts FROM events WHERE event_type <> 'purchase') SELECT e.event_id, e.user_id, p.purchase_id, (floor(epoch(e.ts)) - floor(epoch(p.ts)))::BIGINT AS gap_sec FROM e ASOF LEFT JOIN p ON e.user_id = p.user_id AND e.ts >= p.ts ORDER BY e.event_id""",
    "q_asof_exec_bucketed" ->
      """WITH p AS (SELECT user_id, ts, max(event_id) AS purchase_id FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts), e AS (SELECT event_id, user_id, ts FROM events WHERE event_type <> 'purchase') SELECT e.event_id, e.user_id, p.purchase_id, (floor(epoch(e.ts)) - floor(epoch(p.ts)))::BIGINT AS gap_sec FROM e ASOF LEFT JOIN p ON e.user_id = p.user_id AND e.ts >= p.ts ORDER BY e.event_id""",
    "q_asof_forward" ->
      """WITH p AS (SELECT user_id, ts, max(event_id) AS purchase_id FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts), c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'), m AS (SELECT c.event_id, c.user_id, c.ts, (SELECT min(p.ts) FROM p WHERE p.user_id = c.user_id AND p.ts >= c.ts) AS mts FROM c) SELECT m.event_id, m.user_id, p.purchase_id, CASE WHEN m.mts IS NULL THEN NULL ELSE (floor(epoch(m.mts)) - floor(epoch(m.ts)))::BIGINT END AS gap_sec FROM m LEFT JOIN p ON p.user_id = m.user_id AND p.ts = m.mts ORDER BY m.event_id""",
    // both directional correlated picks, then the same least-gap
    // CASE the engine applies (tie -> backward)
    "q_asof_nearest" ->
      """WITH p AS (SELECT user_id, ts, max(event_id) AS purchase_id FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts), c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'), m AS (SELECT c.event_id, c.user_id, c.ts, (SELECT max(p.ts) FROM p WHERE p.user_id = c.user_id AND p.ts <= c.ts) AS bts, (SELECT min(p.ts) FROM p WHERE p.user_id = c.user_id AND p.ts >= c.ts) AS fts FROM c), g AS (SELECT event_id, user_id, ts, bts, fts, CASE WHEN bts IS NULL THEN NULL ELSE (floor(epoch(ts)) - floor(epoch(bts)))::BIGINT END AS b_gap, CASE WHEN fts IS NULL THEN NULL ELSE (floor(epoch(fts)) - floor(epoch(ts)))::BIGINT END AS f_gap FROM m), sel AS (SELECT event_id, user_id, CASE WHEN f_gap IS NULL OR (b_gap IS NOT NULL AND b_gap <= f_gap) THEN bts ELSE fts END AS sts, CASE WHEN f_gap IS NULL OR (b_gap IS NOT NULL AND b_gap <= f_gap) THEN b_gap ELSE f_gap END AS gap_sec FROM g) SELECT s.event_id, s.user_id, p.purchase_id, s.gap_sec FROM sel s LEFT JOIN p ON p.user_id = s.user_id AND p.ts = s.sts ORDER BY s.event_id""",
    "q_events_attribution" ->
      """WITH c AS (SELECT user_id, ts, max(event_id) AS click_id FROM events WHERE event_type = 'click' GROUP BY user_id, ts), p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') SELECT p.event_id, p.user_id, CASE WHEN floor(epoch(p.ts)) - floor(epoch(c.ts)) <= 3600 THEN c.click_id END AS click_id, CASE WHEN floor(epoch(p.ts)) - floor(epoch(c.ts)) <= 3600 THEN (floor(epoch(p.ts)) - floor(epoch(c.ts)))::BIGINT END AS gap_sec FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts ORDER BY p.event_id""",
    "q_stream_hourly" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hr, event_type, count(*)::BIGINT AS cnt, round(sum(value),2) AS val FROM events GROUP BY 1, 2 ORDER BY hr, event_type""",
    "q_stream_dedup" ->
      """SELECT event_type, count(*)::BIGINT AS cnt FROM events GROUP BY event_type ORDER BY event_type""",
    // the idempotent batchId-keyed sink must reconstruct the plain
    // batch aggregate EXACTLY even though one micro-batch was
    // force-replayed after its commit record was destroyed
    "q_stream_exactly_once" ->
      """SELECT event_type, count(*)::BIGINT AS cnt, round(sum(value), 2) AS val FROM events GROUP BY event_type ORDER BY event_type""",
    "q_join_skew" ->
      """SELECT l_suppkey % 10 AS k, n_name, count(*)::BIGINT AS cnt FROM lineitem JOIN nation ON l_suppkey % 10 = n_nationkey % 10 GROUP BY 1, 2 ORDER BY k, n_name""",
    // the oracle is the PLAIN inequality join — the bin-explode
    // candidate generation must be result-invisible
    "q_join_interval" ->
      """WITH w AS (SELECT i::BIGINT AS window_id, (DATE '1992-01-05' + (i * 45)::INT) AS ws FROM range(56) t(i)), w2 AS (SELECT window_id, ws, ws + 14 AS we FROM w), o AS (SELECT o_orderkey, o_orderdate::DATE AS os, o_orderdate::DATE + (o_orderkey % 25)::INT AS oe FROM orders) SELECT window_id, count(*)::BIGINT AS n_orders FROM o JOIN w2 ON os <= we AND oe >= ws GROUP BY window_id ORDER BY window_id""",
    "q_window_pattern" ->
      """WITH o AS (SELECT o_custkey, o_orderkey::BIGINT AS k, o_totalprice FROM orders), f AS (SELECT o_custkey, k, CASE WHEN o_totalprice > lag(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY k) THEN 1 ELSE 0 END AS up, lag(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY k) AS pv FROM o), g AS (SELECT o_custkey, k, up, row_number() OVER (PARTITION BY o_custkey ORDER BY k) - row_number() OVER (PARTITION BY o_custkey, up ORDER BY k) AS island FROM f WHERE pv IS NOT NULL), runs AS (SELECT o_custkey, island, count(*) AS streak_len FROM g WHERE up = 1 GROUP BY o_custkey, island HAVING count(*) >= 2) SELECT streak_len::BIGINT AS streak_len, count(*)::BIGINT AS n_streaks FROM runs GROUP BY streak_len ORDER BY streak_len""",
    // the oracle is the textbook O(n²) NOT EXISTS dominance query;
    // the engine's prefix-max rewrite must be result-invisible
    "q_skyline" ->
      """WITH p AS (SELECT p_partkey, p_retailprice AS price, p_size AS size FROM part), f AS (SELECT * FROM p a WHERE NOT EXISTS (SELECT 1 FROM p o WHERE o.price <= a.price AND o.size >= a.size AND (o.price < a.price OR o.size > a.size))) SELECT price, size::INT AS size, count(*)::BIGINT AS n_parts FROM f GROUP BY price, size ORDER BY price""",
    "q_events_cohort" ->
      """WITH ud AS (SELECT DISTINCT user_id, ((ts::DATE - DATE '1970-01-01') // 7)::BIGINT AS wk FROM events), f AS (SELECT user_id, min(wk) AS cohort_wk FROM ud GROUP BY user_id) SELECT f.cohort_wk, (ud.wk - f.cohort_wk)::BIGINT AS weeks_since, count(DISTINCT ud.user_id)::BIGINT AS n_active FROM ud JOIN f USING (user_id) GROUP BY 1, 2 ORDER BY cohort_wk, weeks_since""",
    "q_events_growth" ->
      """WITH ud AS (SELECT DISTINCT user_id, ts::DATE AS day FROM events), f AS (SELECT user_id, min(day) AS first_day FROM ud GROUP BY user_id) SELECT ud.day::VARCHAR AS day, count(CASE WHEN ud.day = f.first_day THEN 1 END)::BIGINT AS new_users, count(CASE WHEN ud.day <> f.first_day THEN 1 END)::BIGINT AS returning_users FROM ud JOIN f USING (user_id) GROUP BY ud.day ORDER BY day""",
    // the oracle is the naive day×activity range join; the engine's
    // bounded explode must be result-invisible
    "q_events_rolling_distinct" ->
      """WITH ud AS (SELECT DISTINCT user_id, ts::DATE AS day FROM events), days AS (SELECT DISTINCT day FROM ud) SELECT d.day::VARCHAR AS day, count(DISTINCT u.user_id)::BIGINT AS n_users FROM days d JOIN ud u ON u.day BETWEEN d.day - 6 AND d.day GROUP BY d.day ORDER BY day""",
    "q_events_paths" ->
      """WITH q AS (SELECT event_type, lead(event_type, 1) OVER w AS e2, lead(event_type, 2) OVER w AS e3 FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)) SELECT event_type || '->' || e2 || '->' || e3 AS path, count(*)::BIGINT AS n FROM q WHERE e3 IS NOT NULL GROUP BY 1 ORDER BY n DESC, path LIMIT 10""",
    // MERGE expressed relationally — clause semantics mirrored 1:1
    "q_merge_upsert" ->
      """WITH tgt AS (SELECT c_custkey AS k, c_mktsegment AS seg, c_acctbal AS bal FROM customer), chg AS (SELECT o_custkey AS k, max(o_totalprice) AS new_bal FROM orders GROUP BY o_custkey), src AS (SELECT k, new_bal, CASE WHEN k % 13 = 0 THEN 'D' ELSE 'U' END AS op FROM chg UNION ALL SELECT k + 1000000, new_bal, 'I' FROM chg WHERE k % 17 = 0), m AS (SELECT t.k AS tk, s.k AS sk, t.seg, t.bal, s.new_bal, s.op FROM tgt t FULL OUTER JOIN src s ON t.k = s.k), o AS (SELECT coalesce(seg, 'NEW') AS seg, CASE WHEN sk IS NOT NULL THEN new_bal ELSE bal END AS bal FROM m WHERE (tk IS NOT NULL AND sk IS NULL) OR (tk IS NOT NULL AND sk IS NOT NULL AND op <> 'D') OR (tk IS NULL AND op = 'I')) SELECT seg, count(*)::BIGINT AS n, sum(bal::DECIMAL(18,2))::DOUBLE AS total FROM o GROUP BY seg ORDER BY seg""",
    // the oracle recomputes over the FULL table: the per-batch
    // partial-state split + merge must be result-invisible
    "q_agg_incremental" ->
      """SELECT l_returnflag, sum(l_quantity::DECIMAL(18,2))::DOUBLE AS sum_qty, sum(l_extendedprice::DECIMAL(18,2))::DOUBLE AS sum_price, count(*)::BIGINT AS n FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    // the oracle is plain count(DISTINCT): the word/bit packing and
    // bit_or/popcount fold must be result-invisible
    "q_agg_bitmap" ->
      """SELECT l_returnflag, count(DISTINCT l_suppkey)::BIGINT AS n_distinct FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    // the intersection bitmap must be result-invisible: oracle is the
    // plain two-sided distinct intersection
    "q_agg_bitmap_intersect" ->
      """SELECT count(*)::BIGINT AS n_both FROM (SELECT DISTINCT l_suppkey FROM lineitem WHERE year(l_shipdate) = 1995 INTERSECT SELECT DISTINCT l_suppkey FROM lineitem WHERE year(l_shipdate) = 2000)""",
    "q_agg_bitmap_native" ->
      """SELECT l_linestatus, (l_orderkey % 2)::BIGINT AS side, count(DISTINCT l_partkey)::BIGINT AS n_parts FROM lineitem GROUP BY 1, 2 ORDER BY l_linestatus, side""",
    // deterministic estimators (per-group HLL registers + fixed-bin
    // median) — the oracle rebuilds the identical sketch state
    "q_agg_approx" ->
      """WITH r0 AS (SELECT l_returnflag, ('0x' || substr(md5('hll|' || l_partkey::VARCHAR), 1, 8))::BIGINT % 64 AS idx, ('0x' || substr(md5('hll|' || l_partkey::VARCHAR), 9, 8))::BIGINT AS v FROM lineitem), rg AS (SELECT l_returnflag, idx, max(CASE WHEN v = 0 THEN 33 ELSE 33 - length(format('{:b}', v)) END) AS m FROM r0 GROUP BY 1, 2), hll AS (SELECT l_returnflag, round(0.709 * 4096.0 / (sum(pow(2.0, -m)) + (64 - count(*)) * 1.0), 4) AS approx_parts FROM rg GROUP BY 1), b AS (SELECT l_returnflag, floor(l_extendedprice / 2000)::BIGINT AS bin, count(*) AS c FROM lineitem GROUP BY 1, 2), cb AS (SELECT l_returnflag, bin, sum(c) OVER (PARTITION BY l_returnflag ORDER BY bin) AS cum, sum(c) OVER (PARTITION BY l_returnflag) AS n FROM b), md AS (SELECT l_returnflag, min(CASE WHEN cum * 2 >= n THEN bin * 2000 END)::BIGINT AS approx_med FROM cb GROUP BY 1) SELECT l_returnflag, approx_parts, approx_med FROM hll JOIN md USING (l_returnflag) ORDER BY l_returnflag""",
    // integer-threshold cumulative picks — the binning is the
    // operator; the oracle rebuilds the same histogram exactly
    "q_agg_histo_quantile" ->
      """WITH b AS (SELECT l_returnflag, (floor(l_quantity / 2))::BIGINT AS bin, count(*) AS c FROM lineitem GROUP BY 1, 2), cum AS (SELECT l_returnflag, bin, c, sum(c) OVER (PARTITION BY l_returnflag ORDER BY bin) AS cum, sum(c) OVER (PARTITION BY l_returnflag) AS n FROM b) SELECT l_returnflag, min(CASE WHEN cum * 2 >= n THEN bin * 2 END)::BIGINT AS p50, min(CASE WHEN cum * 10 >= n * 9 THEN bin * 2 END)::BIGINT AS p90, min(CASE WHEN cum * 100 >= n * 99 THEN bin * 2 END)::BIGINT AS p99 FROM cum GROUP BY l_returnflag ORDER BY l_returnflag""",
    // old-generation rows must read as NULL score: count(col) skips
    // them, the sum sees only generation-2 values
    "q_source_evolution" ->
      """SELECT count(*)::BIGINT AS n_rows, count(CASE WHEN n_nationkey >= 13 THEN 1 END)::BIGINT AS n_scored, coalesce(sum(CASE WHEN n_nationkey >= 13 THEN n_nationkey * 10 END), 0)::BIGINT AS sum_score FROM nation""",
    // closed-form per-version fingerprints from the same source rows
    "q_catalog_timetravel" ->
      """WITH v1 AS (SELECT count(*)::BIGINT AS n_edges, sum(n_nationkey // 2)::BIGINT AS sum_dst FROM nation WHERE n_nationkey > 0), dlt AS (SELECT count(*)::BIGINT AS n, sum(n_nationkey + 100)::BIGINT AS sd FROM nation WHERE n_nationkey < 10) SELECT 'v1' AS version, n_edges, sum_dst FROM v1 UNION ALL SELECT 'v2', v1.n_edges + dlt.n, v1.sum_dst + dlt.sd FROM v1, dlt ORDER BY version""",
    "q_events_bounce" ->
      """WITH e AS (SELECT user_id, ts, event_id, event_type, epoch_us(ts)::BIGINT AS tus FROM events), g AS (SELECT *, tus - lag(tus) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap FROM e), b AS (SELECT *, CASE WHEN gap IS NULL OR gap > 1800000000 THEN 1 ELSE 0 END AS brk FROM g), sx AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM b), sess AS (SELECT user_id, sid, count(*)::BIGINT AS n_events, (min({'t': tus, 'e': event_id, 'y': event_type})).y AS first_type FROM sx GROUP BY user_id, sid) SELECT first_type, count(*)::BIGINT AS n_sessions, sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)::BIGINT AS n_bounce, round(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)::DOUBLE / count(*), 4) AS bounce_rate FROM sess GROUP BY first_type ORDER BY first_type""",
    // gini: decimal rank sums; rfm below: ntile quartiles with id
    // tiebreaks, sample AFTER scoring
    "q_agg_gini" ->
      """WITH r AS (SELECT o_orderpriority, o_totalprice::DECIMAL(18,2) AS x, row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey) AS rn FROM orders), g AS (SELECT o_orderpriority, count(*)::BIGINT AS n, sum(x) AS sx, sum(rn * x) AS srx FROM r GROUP BY o_orderpriority) SELECT o_orderpriority, n, round(2.0 * srx::DOUBLE / (n * sx::DOUBLE) - (n + 1)::DOUBLE / n, 6) AS gini FROM g ORDER BY o_orderpriority""",
    "q_agg_entropy" ->
      """WITH b AS (SELECT event_type, floor(value / 10)::BIGINT AS bin, count(*)::BIGINT AS c FROM events WHERE value IS NOT NULL GROUP BY 1, 2), n AS (SELECT event_type, sum(c)::BIGINT AS n, count(*)::BIGINT AS n_bins FROM b GROUP BY event_type), tm AS (SELECT b.event_type, n.n, n.n_bins, round((b.c::DOUBLE / n.n) * -ln(b.c::DOUBLE / n.n), 8) AS term FROM b JOIN n ON b.event_type = n.event_type) SELECT event_type, max(n)::BIGINT AS n, max(n_bins)::BIGINT AS n_bins, round(sum(term::DECIMAL(38,18))::DOUBLE, 4) AS entropy FROM tm GROUP BY event_type ORDER BY event_type""",
    "q_events_rfm" ->
      """WITH ref AS (SELECT max(o_orderdate) AS ref FROM orders), per AS (SELECT o_custkey, max(o_orderdate) AS last_order, count(*)::BIGINT AS frequency, round(sum(o_totalprice::DECIMAL(18,2)), 2)::DOUBLE AS monetary FROM orders GROUP BY o_custkey), rec AS (SELECT per.*, date_diff('day', last_order::DATE, ref::DATE)::INT AS recency_days FROM per, ref), sc AS (SELECT *, ntile(4) OVER (ORDER BY recency_days, o_custkey) AS r_score, ntile(4) OVER (ORDER BY frequency DESC, o_custkey) AS f_score, ntile(4) OVER (ORDER BY monetary DESC, o_custkey) AS m_score FROM rec) SELECT o_custkey AS custkey, recency_days, frequency, monetary, r_score::VARCHAR || f_score::VARCHAR || m_score::VARCHAR AS segment FROM sc WHERE o_custkey % 50 = 0 ORDER BY custkey""",
    "q_events_window_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts)::BIGINT AS tus FROM events), v AS (SELECT user_id, tus AS vt FROM e WHERE event_type = 'view'), c AS (SELECT user_id, tus AS ct FROM e WHERE event_type = 'click'), p AS (SELECT user_id, tus AS pt FROM e WHERE event_type = 'purchase'), vc AS (SELECT v.user_id, v.vt, c.ct FROM v JOIN c ON v.user_id = c.user_id AND c.ct > v.vt AND c.ct <= v.vt + 3600000000), l3 AS (SELECT DISTINCT vc.user_id FROM vc JOIN p ON vc.user_id = p.user_id AND p.pt > vc.ct AND p.pt <= vc.vt + 3600000000) SELECT (SELECT count(DISTINCT user_id) FROM v)::BIGINT AS n_level1, (SELECT count(DISTINCT user_id) FROM vc)::BIGINT AS n_level2, (SELECT count(*) FROM l3)::BIGINT AS n_level3""",
    "q_observe" ->
      """SELECT count(*)::BIGINT AS n_rows, round(sum(o_totalprice::DECIMAL(18,2)), 2)::DOUBLE AS total_price, max(o_orderkey)::BIGINT AS max_key FROM orders""",
    // try_element_at is 1-based and NULL out of bounds; the engine
    // probes indices 1..4 over a 2-element array — the CASE mirrors it
    "q_scalar_try" ->
      """SELECT o_orderkey, round(o_totalprice / nullif(o_custkey % 3, 0), 4) AS td, TRY_CAST(o_orderpriority AS INT) AS tc, CASE WHEN o_custkey % 4 = 0 THEN o_custkey WHEN o_custkey % 4 = 1 THEN o_custkey + 1 ELSE NULL END AS te FROM orders WHERE o_orderkey % 97 = 0 ORDER BY o_orderkey""",
    // same rank-addressed lo/hi + identical interpolation expression
    // in both passes (median, then median of absolute deviations)
    // same one-window rank-addressed quartiles, same IEEE fence
    // expression (1.5 exact binary), same strict outside comparisons
    "q_agg_tukey" ->
      """WITH e AS (SELECT event_type, value FROM events WHERE value IS NOT NULL), rk AS (SELECT event_type, value, row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn, count(*) OVER (PARTITION BY event_type) AS n FROM e), p AS (SELECT event_type, max(n) AS n, max(CASE WHEN rn = floor((n-1) * 0.25) + 1 THEN value END) AS lo25, max(CASE WHEN rn = ceil((n-1) * 0.25) + 1 THEN value END) AS hi25, max(CASE WHEN rn = floor((n-1) * 0.75) + 1 THEN value END) AS lo75, max(CASE WHEN rn = ceil((n-1) * 0.75) + 1 THEN value END) AS hi75 FROM rk GROUP BY event_type), q AS (SELECT event_type, n, lo25 + ((n-1) * 0.25 - floor((n-1) * 0.25)) * (hi25 - lo25) AS q1, lo75 + ((n-1) * 0.75 - floor((n-1) * 0.75)) * (hi75 - lo75) AS q3 FROM p), f AS (SELECT event_type, n, q1, q3, q1 - 1.5 * (q3 - q1) AS lof, q3 + 1.5 * (q3 - q1) AS hif FROM q) SELECT e.event_type, max(f.n)::BIGINT AS n, round(max(f.q1), 4) AS q1, round(max(f.q3), 4) AS q3, round(max(f.lof), 4) AS lo_fence, round(max(f.hif), 4) AS hi_fence, sum(CASE WHEN e.value < f.lof THEN 1 ELSE 0 END)::BIGINT AS n_below, sum(CASE WHEN e.value > f.hif THEN 1 ELSE 0 END)::BIGINT AS n_above FROM e JOIN f ON e.event_type = f.event_type GROUP BY e.event_type ORDER BY e.event_type""",
    // same one-window rank-addressed percentiles, same IEEE clamp and
    // inclusive trim bounds, same round(8)-term decimal-sum means
    "q_agg_winsor" ->
      """WITH e AS (SELECT event_type, value FROM events WHERE value IS NOT NULL), rk AS (SELECT event_type, value, row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn, count(*) OVER (PARTITION BY event_type) AS n FROM e), p AS (SELECT event_type, max(n) AS n, max(CASE WHEN rn = floor((n-1) * 0.1) + 1 THEN value END) AS lo10, max(CASE WHEN rn = ceil((n-1) * 0.1) + 1 THEN value END) AS hi10, max(CASE WHEN rn = floor((n-1) * 0.9) + 1 THEN value END) AS lo90, max(CASE WHEN rn = ceil((n-1) * 0.9) + 1 THEN value END) AS hi90 FROM rk GROUP BY event_type), pp AS (SELECT event_type, n, lo10 + ((n-1) * 0.1 - floor((n-1) * 0.1)) * (hi10 - lo10) AS p10, lo90 + ((n-1) * 0.9 - floor((n-1) * 0.9)) * (hi90 - lo90) AS p90 FROM p), c AS (SELECT e.event_type, pp.n, pp.p10, pp.p90, round(least(greatest(e.value, pp.p10), pp.p90), 8)::DECIMAL(38,18) AS wv, CASE WHEN e.value >= pp.p10 AND e.value <= pp.p90 THEN round(e.value, 8)::DECIMAL(38,18) END AS tv FROM e JOIN pp ON e.event_type = pp.event_type) SELECT event_type, max(n)::BIGINT AS n, round(max(p10), 4) AS p10, round(max(p90), 4) AS p90, round(sum(wv)::DOUBLE / max(n), 4) AS wmean, count(tv)::BIGINT AS n_trim, round(sum(tv)::DOUBLE / count(tv), 4) AS tmean FROM c GROUP BY event_type ORDER BY event_type""",
    // same per-supplier counts, same HUGEINT-safe squared-share ppm
    "q_agg_hhi" ->
      """WITH c AS (SELECT s.s_nationkey AS nation, l.l_suppkey, count(*)::BIGINT AS ci FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey GROUP BY 1, 2) SELECT nation, count(*)::BIGINT AS n_suppliers, sum(ci)::BIGINT AS total, (sum(ci * ci)::HUGEINT * 1000000 // (sum(ci)::HUGEINT * sum(ci)))::BIGINT AS hhi_ppm FROM c GROUP BY nation ORDER BY nation""",
    // same epoch-days-mod-7 dow, same cross-multiplied HUGEINT ppm
    "q_events_seasonal" ->
      """WITH bd AS (SELECT ts::DATE AS day, count(*)::BIGINT AS cnt FROM events GROUP BY 1), dw AS (SELECT date_diff('day', DATE '1970-01-01', day) % 7 AS dow, cnt FROM bd), g AS (SELECT dow, count(*)::BIGINT AS n_days, sum(cnt)::BIGINT AS n_events FROM dw GROUP BY dow), t AS (SELECT sum(n_days)::BIGINT AS tot_days, sum(n_events)::BIGINT AS tot_events FROM g) SELECT g.dow::BIGINT AS dow, g.n_days, g.n_events, (g.n_events::HUGEINT * t.tot_days * 1000000 // (g.n_days::HUGEINT * t.tot_events))::BIGINT AS idx_ppm FROM g CROSS JOIN t ORDER BY dow""",
    // same 12-bucket spine + add-1 smoothing, same cross-multiplied
    // integer ratio inside ln, same term-local round(8) decimal sum
    "q_events_psi" ->
      """WITH ev AS (SELECT event_type, ts::DATE AS day, greatest(least((round(value, 2)::DECIMAL(12,2) * 100)::BIGINT // 2500, 11), 0) AS b FROM events WHERE value IS NOT NULL), d0 AS (SELECT min(day) AS d0 FROM ev), cnt AS (SELECT event_type, b, sum(CASE WHEN date_diff('day', d0.d0, ev.day) < 8 THEN 1 ELSE 0 END)::BIGINT AS na, sum(CASE WHEN date_diff('day', d0.d0, ev.day) >= 8 THEN 1 ELSE 0 END)::BIGINT AS nb FROM ev CROSS JOIN d0 GROUP BY event_type, b), spine AS (SELECT DISTINCT event_type, unnest(range(12)) AS b FROM ev), fl AS (SELECT s.event_type, s.b, coalesce(c.na, 0) AS na, coalesce(c.nb, 0) AS nb FROM spine s LEFT JOIN cnt c ON s.event_type = c.event_type AND s.b = c.b), tt AS (SELECT event_type, sum(na) + 12 AS na1, sum(nb) + 12 AS nb1 FROM fl GROUP BY event_type), tm AS (SELECT fl.event_type, tt.na1, tt.nb1, round((((fl.na + 1)::DOUBLE / tt.na1) - ((fl.nb + 1)::DOUBLE / tt.nb1)) * ln(((fl.na + 1) * tt.nb1)::DOUBLE / ((fl.nb + 1) * tt.na1)::DOUBLE), 8)::DECIMAL(38,18) AS term FROM fl JOIN tt USING (event_type)) SELECT event_type, (max(na1) - 12)::BIGINT AS n_ref, (max(nb1) - 12)::BIGINT AS n_mon, round(sum(term)::DOUBLE, 6) AS psi FROM tm GROUP BY event_type ORDER BY event_type""",
    // same integer-micros totals, same ntile(10) (value desc, id)
    // deciles, same HUGEINT-safe cumulative ppm
    "q_events_pareto" ->
      """WITH pu AS (SELECT user_id, sum((round(value, 6)::DECIMAL(19,6) * 1000000)::BIGINT)::BIGINT AS mi FROM events GROUP BY user_id), dd AS (SELECT ntile(10) OVER (ORDER BY mi DESC, user_id)::INT AS decile, mi FROM pu), g AS (SELECT decile, count(*)::BIGINT AS n_users, sum(mi)::BIGINT AS val_micros FROM dd GROUP BY decile), cu AS (SELECT decile, n_users, val_micros, sum(val_micros) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_mi, sum(val_micros) OVER () AS total_mi FROM g) SELECT decile, n_users, val_micros, (cum_mi::HUGEINT * 1000000 // total_mi)::BIGINT AS cum_ppm FROM cu ORDER BY decile""",
    "q_agg_mad" ->
      """WITH e AS (SELECT event_type, value FROM events WHERE value IS NOT NULL), b1 AS (SELECT event_type, value, row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn, count(*) OVER (PARTITION BY event_type) AS n FROM e), m1 AS (SELECT event_type, max(n) AS n, max(CASE WHEN rn = floor((n - 1)::DOUBLE * 0.5)::BIGINT + 1 THEN value END) AS lo, max(CASE WHEN rn = ceil((n - 1)::DOUBLE * 0.5)::BIGINT + 1 THEN value END) AS hi FROM b1 GROUP BY event_type), med AS (SELECT event_type, n, lo + (((n - 1)::DOUBLE * 0.5) - floor((n - 1)::DOUBLE * 0.5)) * (hi - lo) AS med FROM m1), d2 AS (SELECT e.event_type, abs(e.value - med.med) AS dev FROM e JOIN med ON e.event_type = med.event_type), b2 AS (SELECT event_type, dev, row_number() OVER (PARTITION BY event_type ORDER BY dev) AS rn, count(*) OVER (PARTITION BY event_type) AS n FROM d2), m2 AS (SELECT event_type, max(n) AS n, max(CASE WHEN rn = floor((n - 1)::DOUBLE * 0.5)::BIGINT + 1 THEN dev END) AS lo, max(CASE WHEN rn = ceil((n - 1)::DOUBLE * 0.5)::BIGINT + 1 THEN dev END) AS hi FROM b2 GROUP BY event_type), mad AS (SELECT event_type, lo + (((n - 1)::DOUBLE * 0.5) - floor((n - 1)::DOUBLE * 0.5)) * (hi - lo) AS mad FROM m2) SELECT med.event_type, med.n::BIGINT AS n, round(med.med, 4) AS med, round(mad.mad, 4) AS mad FROM med JOIN mad ON med.event_type = mad.event_type ORDER BY med.event_type""",
    "q_join_lateral" ->
      """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice FROM customer c, LATERAL (SELECT o_orderkey, o_totalprice FROM orders o WHERE o.o_custkey = c.c_custkey ORDER BY o_totalprice DESC, o_orderkey LIMIT 3) t WHERE c.c_custkey % 100 = 0 ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey""",
    // closed-form rebuild of the synthetic generator: same md5 hex
    // slices, same modulus derivations, over range(5000)
    "q_stream_source_synth" ->
      """WITH g AS (SELECT i, md5('ev|' || i) AS h FROM range(5000) t(i)), r AS (SELECT i AS event_id, ('0x' || substr(h, 1, 4))::BIGINT % 50 AS user_id, ['view','click','purchase','signup','error'][(('0x' || substr(h, 5, 1))::BIGINT % 5) + 1] AS event_type, (('0x' || substr(h, 6, 4))::BIGINT % 10000) / 100.0 AS value FROM g) SELECT event_type, count(*)::BIGINT AS cnt, round(sum(value::DECIMAL(18,2)), 2)::DOUBLE AS total_value, max(user_id)::BIGINT AS max_user FROM r GROUP BY event_type ORDER BY event_type""",
    // same 48-bit md5-slice row digests (version tag spliced into the
    // touched slice's input), same 64-bucket xor fold
    "q_catalog_integrity" ->
      """WITH o AS (SELECT o_orderkey, o_custkey, o_orderstatus, ('0x' || substr(md5(o_orderkey::VARCHAR), 1, 4))::BIGINT % 16 = 5 AS t FROM orders), rb AS (SELECT o_orderkey % 64 AS bucket, t, ('0x' || substr(md5(o_orderkey::VARCHAR || '|' || o_custkey::VARCHAR || '|' || o_orderstatus || '|'), 1, 12))::BIGINT AS d0, ('0x' || substr(md5(o_orderkey::VARCHAR || '|' || o_custkey::VARCHAR || '|' || o_orderstatus || '|' || CASE WHEN t THEN 'v2' ELSE '' END), 1, 12))::BIGINT AS d1 FROM o) SELECT bucket::BIGINT AS bucket, count(*)::BIGINT AS n_rows, sum(CASE WHEN t THEN 1 ELSE 0 END)::BIGINT AS n_touched, bit_xor(d0)::BIGINT AS dig_before, bit_xor(d1)::BIGINT AS dig_after, (CASE WHEN bit_xor(d0) <> bit_xor(d1) THEN 1 ELSE 0 END)::INT AS changed FROM rb GROUP BY bucket ORDER BY bucket""",
    // the stream-maintained digest table provably equals the batch
    // recompute (xor additivity — arrival-order/batching independent),
    // so q_catalog_integrity's oracle applies verbatim
    "q_stream_integrity" ->
      """WITH o AS (SELECT o_orderkey, o_custkey, o_orderstatus, ('0x' || substr(md5(o_orderkey::VARCHAR), 1, 4))::BIGINT % 16 = 5 AS t FROM orders), rb AS (SELECT o_orderkey % 64 AS bucket, t, ('0x' || substr(md5(o_orderkey::VARCHAR || '|' || o_custkey::VARCHAR || '|' || o_orderstatus || '|'), 1, 12))::BIGINT AS d0, ('0x' || substr(md5(o_orderkey::VARCHAR || '|' || o_custkey::VARCHAR || '|' || o_orderstatus || '|' || CASE WHEN t THEN 'v2' ELSE '' END), 1, 12))::BIGINT AS d1 FROM o) SELECT bucket::BIGINT AS bucket, count(*)::BIGINT AS n_rows, sum(CASE WHEN t THEN 1 ELSE 0 END)::BIGINT AS n_touched, bit_xor(d0)::BIGINT AS dig_before, bit_xor(d1)::BIGINT AS dig_after, (CASE WHEN bit_xor(d0) <> bit_xor(d1) THEN 1 ELSE 0 END)::INT AS changed FROM rb GROUP BY bucket ORDER BY bucket""",
    // three deterministic commits (v0,v1,v2), keep=1 -> one survivor
    "q_catalog_vacuum" ->
      """SELECT 1::INT AS n_versions, 2::INT AS latest_version, count(*)::BIGINT AS n_edges, sum(n_nationkey % 5)::BIGINT AS sum_dst FROM nation WHERE n_nationkey >= 5""",
    "q_source_corrupt" ->
      """SELECT count(*)::BIGINT AS n_rows, sum(n_nationkey)::BIGINT AS sum_k FROM nation WHERE n_nationkey < 15""",
    // closed-form: removed = base edges with key >= 20, added = the
    // delta rows (dst >= 100 so no collision with any base row)
    "q_catalog_diff" ->
      """WITH rem AS (SELECT count(*)::BIGINT AS n_edges, sum(n_nationkey // 2)::BIGINT AS sum_dst FROM nation WHERE n_nationkey >= 20), ad AS (SELECT count(*)::BIGINT AS n_edges, sum(n_nationkey + 100)::BIGINT AS sum_dst FROM nation WHERE n_nationkey < 10) SELECT 'added' AS change, n_edges, sum_dst FROM ad UNION ALL SELECT 'removed', n_edges, sum_dst FROM rem ORDER BY change""",
    // the dense_rank max must equal plain count(DISTINCT)
    "q_window_distinct" ->
      """SELECT o_custkey, count(*)::BIGINT AS n_orders, count(DISTINCT o_orderpriority)::BIGINT AS n_priorities FROM orders WHERE o_custkey % 50 = 0 GROUP BY o_custkey ORDER BY o_custkey""",
    // identical to q_cdc_snapshot's oracle: the stream must land
    // exactly where the batch fold lands
    "q_stream_cdc" ->
      """WITH r AS (SELECT user_id, event_type, value, epoch_us(ts)::BIGINT AS tus, row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn FROM events) SELECT user_id, event_type AS last_type, value AS last_value, tus AS last_ts FROM r WHERE rn = 1 AND event_type <> 'error' ORDER BY user_id""",
    "q_join_nullsafe" ->
      """WITH a AS (SELECT nullif(l_returnflag, 'N') AS k, count(*)::BIGINT AS cnt_l FROM lineitem GROUP BY 1), b AS (SELECT nullif(l_linestatus, 'F') AS k, count(*)::BIGINT AS cnt_r FROM lineitem GROUP BY 1) SELECT coalesce(a.k, b.k) AS k, a.cnt_l, b.cnt_r, (a.cnt_l IS NOT NULL AND b.cnt_r IS NOT NULL) AS matched FROM a FULL OUTER JOIN b ON a.k IS NOT DISTINCT FROM b.k ORDER BY k NULLS FIRST""",
    "q_source_partitioned" ->
      """SELECT o_orderpriority, count(*)::BIGINT AS cnt, round(sum(o_totalprice), 2) AS total FROM orders WHERE year(o_orderdate) = 1997 GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    // the parameters inlined as literals
    "q_sql_params" ->
      """SELECT p_brand, count(*)::BIGINT AS n, sum(p_size)::BIGINT AS sz FROM part WHERE p_size BETWEEN 5 AND 20 AND p_brand <> 'Brand#45' GROUP BY p_brand ORDER BY p_brand""",
    // the dynamic statement inlined, parameter bound as a literal
    "q_sql_exec_immediate" ->
      """SELECT s_nationkey, count(*)::BIGINT AS n, round(sum(s_acctbal::DECIMAL(38,6))::DOUBLE, 2) AS bal FROM supplier WHERE s_acctbal > 1000 GROUP BY s_nationkey ORDER BY s_nationkey""",
    // pipe markers are analysis-time only — the oracle IS the nested form
    "q_sql_pipe" ->
      """SELECT o_orderpriority, count(*)::BIGINT AS n, round(sum(o_totalprice::DECIMAL(38,6)), 2)::DOUBLE AS tot FROM orders WHERE o_orderstatus = 'O' GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    // the UDF body inlined; same decimal-sum rounding
    "q_udf_sql" ->
      """SELECT l_returnflag, count(*)::BIGINT AS n, round(sum((l_extendedprice * (1.0 - l_discount))::DECIMAL(38,6))::DOUBLE, 2) AS sum_disc_price FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    // the collation's equivalence classes == lower() classes
    "q_scalar_collation" ->
      """WITH m AS (SELECT CASE WHEN p_partkey % 2 = 0 THEN upper(p_brand) ELSE lower(p_brand) END AS bm, p_size FROM part) SELECT lower(bm) AS brand, count(*)::BIGINT AS n, sum(p_size)::BIGINT AS sz FROM m GROUP BY lower(bm) ORDER BY brand""",
    // JSON path access in DuckDB; the schema fingerprint is the
    // constant OBJECT<k: BIGINT> (all props rows carry one int field —
    // the assumption is pinned at every SF by FixtureCanarySpec's
    // props canary, which fails by name if the fixture or Spark's
    // schema_of_variant rendering drifts)
    "q_json_variant" ->
      """SELECT event_type, count(*)::BIGINT AS n, sum(json_extract_string(props, '$.k')::INT)::BIGINT AS sum_k, max(json_extract_string(props, '$.k')::INT)::BIGINT AS max_k, 'OBJECT<k: BIGINT>' AS variant_schema FROM events GROUP BY event_type ORDER BY event_type""",
    // the same slug pipeline in SQL: lower -> non-alnum runs to '-'
    // -> strip edge dashes
    "q_udf_scalar" ->
      """SELECT p_partkey, trim(regexp_replace(lower(p_name), '[^a-z0-9]+', '-', 'g'), '-') AS slug FROM part WHERE p_partkey % 37 = 0 ORDER BY p_partkey""",
    // same journey-chain build, same absorbing rows, same removal
    // diversion, same six decimal-term steps per chain
    "q_events_markov_attribution" -> {
      def chain(tag: String, tcte: String): String = {
        val steps = (1 to 6).map { k =>
          val prev = if (k == 1) s"p_${tag}_0" else s"p_${tag}_${k - 1}"
          s"p_${tag}_$k AS (SELECT t.dst AS st, round(sum((p.m * t.p)::DECIMAL(38,18))::DOUBLE, 8) AS m FROM $prev p JOIN $tcte t ON t.src = p.st GROUP BY t.dst)"
        }.mkString(", ")
        s"p_${tag}_0 AS (SELECT 'start' AS st, 1.0::DOUBLE AS m), $steps"
      }
      val removedT = Seq("click", "error", "signup", "view").map { c =>
        s"t_$c AS (SELECT src, CASE WHEN dst = '$c' THEN 'null' ELSE dst END AS dst, round(sum(p::DECIMAL(38,18))::DOUBLE, 8) AS p FROM (SELECT src, dst, p FROM tsh WHERE src <> '$c' UNION ALL SELECT * FROM ab) GROUP BY 1, 2)"
      }.mkString(", ")
      val chains = chain("all", "t_all") + ", " +
        Seq("click", "error", "signup", "view")
          .map(c => chain(c, s"t_$c")).mkString(", ")
      val rows = Seq("click", "error", "signup", "view").map { c =>
        s"SELECT '$c' AS channel, (SELECT round(m, 6) FROM p_all_6 WHERE st = 'purchase') AS p_conv, (SELECT round(m, 6) FROM p_${c}_6 WHERE st = 'purchase') AS p_without"
      }.mkString(" UNION ALL ")
      s"""WITH fp AS (SELECT user_id, min(ts) AS pts FROM events WHERE event_type = 'purchase' GROUP BY 1), st0 AS (SELECT e.user_id, e.event_type, e.ts, e.event_id FROM events e LEFT JOIN fp ON e.user_id = fp.user_id WHERE fp.pts IS NULL OR e.ts <= fp.pts), sq AS (SELECT user_id, event_type, lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt, row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn FROM st0), tr AS (SELECT 'start' AS src, event_type AS dst FROM sq WHERE rn = 1 UNION ALL SELECT event_type, nxt FROM sq WHERE nxt IS NOT NULL UNION ALL SELECT event_type, 'null' FROM sq WHERE nxt IS NULL AND event_type <> 'purchase'), tr2 AS (SELECT src, dst FROM tr WHERE src <> 'purchase'), tsh AS (SELECT src, dst, round(count(*)::DOUBLE / sum(count(*)) OVER (PARTITION BY src), 8) AS p FROM tr2 GROUP BY src, dst), ab AS (SELECT 'purchase' AS src, 'purchase' AS dst, 1.0::DOUBLE AS p UNION ALL SELECT 'null', 'null', 1.0::DOUBLE), t_all AS (SELECT src, dst, round(sum(p::DECIMAL(38,18))::DOUBLE, 8) AS p FROM (SELECT * FROM tsh UNION ALL SELECT * FROM ab) GROUP BY 1, 2), $removedT, $chains SELECT channel, p_conv, p_without, round(1.0 - p_without / p_conv, 4) AS removal_effect FROM ($rows) ORDER BY channel"""
    },
    // same string-form first digit, same literal Benford table
    "q_agg_benford" ->
      """WITH dg AS (SELECT regexp_extract(o_totalprice::VARCHAR, '[1-9]')::INT AS digit FROM orders), c AS (SELECT digit, count(*) AS n FROM dg GROUP BY 1), t AS (SELECT sum(n)::DOUBLE AS total FROM c), b AS (SELECT digit, n, round(n::DOUBLE / t.total, 4) AS freq, CASE digit WHEN 1 THEN 0.30103 WHEN 2 THEN 0.176091 WHEN 3 THEN 0.124939 WHEN 4 THEN 0.09691 WHEN 5 THEN 0.079181 WHEN 6 THEN 0.066947 WHEN 7 THEN 0.057992 WHEN 8 THEN 0.051153 WHEN 9 THEN 0.045757 END AS benford_p, round(pow(n::DOUBLE / t.total - (CASE digit WHEN 1 THEN 0.30103 WHEN 2 THEN 0.176091 WHEN 3 THEN 0.124939 WHEN 4 THEN 0.09691 WHEN 5 THEN 0.079181 WHEN 6 THEN 0.066947 WHEN 7 THEN 0.057992 WHEN 8 THEN 0.051153 WHEN 9 THEN 0.045757 END), 2), 6) AS dev2 FROM c, t) SELECT digit, n::BIGINT AS n, freq, benford_p, dev2 FROM b ORDER BY digit""",
    // same integer power sums per lag, same closed form + -0.0 guard
    "q_events_acf" ->
      """WITH daily AS (SELECT ts::DATE AS day, count(*)::BIGINT AS x FROM events GROUP BY 1), ks AS (SELECT unnest(range(1, 8)) AS k), p AS (SELECT ks.k, a.x AS xa, b.x AS xb FROM daily a CROSS JOIN ks JOIN daily b ON a.day + to_days(ks.k::INT) = b.day), g AS (SELECT k, count(*)::DOUBLE AS n, sum(xa)::DOUBLE AS sx, sum(xb)::DOUBLE AS sy, sum(xa * xb)::DOUBLE AS sxy, sum(xa * xa)::DOUBLE AS sxx, sum(xb * xb)::DOUBLE AS syy FROM p GROUP BY k) SELECT k::INT AS k, n::BIGINT AS n_pairs, round((n * sxy - sx * sy) / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) + 0.0 AS acf FROM g ORDER BY k""",
    // same integer absolute-error sums on the same evaluation days,
    // same single closing division
    // same exact-integer running sums, same single-IEEE-op unrounded
    // float outputs, same (gain desc, day) argmax tiebreak
    "q_events_changepoint" ->
      """WITH daily AS (SELECT ts::DATE AS day, count(*)::BIGINT AS x FROM events GROUP BY 1), run AS (SELECT day, sum(x) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s1, count(*) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n1 FROM daily), tot AS (SELECT sum(x)::BIGINT AS st, count(*)::BIGINT AS nt FROM daily), g AS (SELECT day::VARCHAR AS split_day, n1, nt - n1 AS n2, s1, st - s1 AS s2, nt FROM run CROSS JOIN tot WHERE n1 < nt) SELECT split_day, n1::BIGINT AS n1, n2::BIGINT AS n2, ((s1 * n2 - s2 * n1)::DOUBLE * (s1 * n2 - s2 * n1)::DOUBLE / (nt * n1 * n2)::DOUBLE) AS gain, (s1::DOUBLE / n1) AS mean_before, (s2::DOUBLE / n2) AS mean_after FROM g ORDER BY gain DESC, split_day LIMIT 1""",
    // same dyadic half-scaling in exact decimals, same per-step
    // decimal round(6), same exact final casts
    "q_events_holt" ->
      ("""WITH daily AS (SELECT ts::DATE AS day, count(*)::BIGINT AS x FROM events GROUP BY 1), tl AS (SELECT x, row_number() OVER (ORDER BY day DESC) AS rd FROM daily), se AS (SELECT (17 - rd)::INT AS rn, x::DECIMAL(20,6) AS y FROM tl WHERE rd <= 16), h1 AS (SELECT (SELECT y FROM se WHERE rn = 1)::DECIMAL(24,6) AS l, ((SELECT y FROM se WHERE rn = 2) - (SELECT y FROM se WHERE rn = 1))::DECIMAL(24,6) AS b), """ +
        (2 to 16).map(t =>
          s"h$t AS (SELECT lt::DECIMAL(24,6) AS l, round((lt - l + b) * 0.5::DECIMAL(2,1), 6)::DECIMAL(24,6) AS b FROM (SELECT l, b, round(((SELECT y FROM se WHERE rn = $t) + l + b) * 0.5::DECIMAL(2,1), 6) AS lt FROM h${t - 1}))").mkString(", ") +
        """ SELECT 16::INT AS n_days, l::DOUBLE AS level, b::DOUBLE AS trend, (l + b)::DOUBLE AS f1, (l + 2 * b)::DOUBLE AS f2, (l + 3 * b)::DOUBLE AS f3 FROM h16 WHERE (SELECT count(*) FROM se) = 16"""),
    "q_events_forecast" ->
      """WITH daily AS (SELECT ts::DATE AS day, count(*)::BIGINT AS x FROM events GROUP BY 1), j AS (SELECT a.x, b.x AS x1, c.x AS x7 FROM daily a JOIN daily b ON b.day + to_days(1) = a.day JOIN daily c ON c.day + to_days(7) = a.day) SELECT count(*)::BIGINT AS n_eval, sum(abs(x - x1))::BIGINT AS sae_naive, sum(abs(x - x7))::BIGINT AS sae_seasonal, round(sum(abs(x - x7))::DOUBLE / sum(abs(x - x1))::DOUBLE, 6) AS mase7 FROM j""",
    // same (ts, event_id) lag order, same integer-second gaps, same
    // bit-length buckets
    "q_events_interarrival" ->
      """WITH g AS (SELECT user_id, ts, event_id, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM events), gp AS (SELECT (epoch_us(ts) - epoch_us(prev)) // 1000000 AS gap_s FROM g WHERE prev IS NOT NULL), b AS (SELECT gap_s, (CASE WHEN gap_s <= 0 THEN 0 ELSE length(format('{:b}', gap_s)) END)::INT AS bucket FROM gp) SELECT bucket, count(*)::BIGINT AS n_gaps, min(gap_s)::BIGINT AS min_s, max(gap_s)::BIGINT AS max_s FROM b GROUP BY bucket ORDER BY bucket""",
    // same lossless ·100 quantization, same cross-multiplied integer
    // ECDF numerator, one closing division
    "q_events_ks" ->
      """WITH v AS (SELECT event_type, round(value * 100)::BIGINT AS b FROM events WHERE event_type IN ('click', 'error')), g AS (SELECT b, sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS ca, sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS cb FROM v GROUP BY b), c AS (SELECT b, sum(ca) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuma, sum(cb) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb FROM g), t AS (SELECT sum(ca)::BIGINT AS n, sum(cb)::BIGINT AS m FROM g) SELECT t.n, t.m, max(abs(c.cuma * t.m - c.cumb * t.n))::BIGINT AS d_num, round(max(abs(c.cuma * t.m - c.cumb * t.n))::DOUBLE / (t.n * t.m), 6) AS d FROM c CROSS JOIN t GROUP BY t.n, t.m""",
    // same decimal daily means/targets, same ordered greatest-fold
    "q_events_cusum" ->
      """WITH daily AS (SELECT event_type, ts::DATE AS day, round(sum(value::DECIMAL(38,6))::DOUBLE / count(*), 6) AS x FROM events GROUP BY 1, 2), tgt AS (SELECT event_type, round(sum(x::DECIMAL(38,18))::DOUBLE / count(*), 6) AS tgt FROM daily GROUP BY 1), tm AS (SELECT d.event_type, d.day, round(d.x - t.tgt - 0.5, 6) AS dev FROM daily d JOIN tgt t USING (event_type)), pk AS (SELECT event_type, list_sort(list(struct_pack(day := day, dev := dev))) AS ds FROM tm GROUP BY 1) SELECT tm.event_type AS event_type, tm.day::VARCHAR AS day, round(list_reduce(list_prepend(0.0::DOUBLE, list_transform(list_filter(pk.ds, x -> x.day <= tm.day), x -> x.dev)), (a, b) -> round(greatest(0.0, a + b), 8)), 6) AS cusum, round(list_reduce(list_prepend(0.0::DOUBLE, list_transform(list_filter(pk.ds, x -> x.day <= tm.day), x -> x.dev)), (a, b) -> round(greatest(0.0, a + b), 8)), 6) > 2.0 AS alarm FROM tm JOIN pk USING (event_type) ORDER BY event_type, day""",
    // same entry/death/censor rules, same ordered per-step-rounded fold
    "q_events_survival" ->
      """WITH s AS (SELECT user_id, min(ts) AS start FROM events WHERE event_type = 'signup' GROUP BY 1), dth AS (SELECT e.user_id, min(e.ts) AS death FROM events e JOIN s ON e.user_id = s.user_id WHERE e.event_type = 'error' AND e.value > 80 AND e.ts > s.start GROUP BY 1), c AS (SELECT user_id, max(ts) AS last FROM events GROUP BY 1), dur AS (SELECT s.user_id, date_diff('day', s.start::DATE, coalesce(dth.death, c.last)::DATE) AS dur, dth.death IS NOT NULL AS died FROM s JOIN c USING (user_id) LEFT JOIN dth USING (user_id)), dt AS (SELECT dur AS t, count(*) AS d FROM dur WHERE died GROUP BY 1), nt AS (SELECT dt.t, count(*) AS n FROM (SELECT DISTINCT t FROM dt) dt JOIN dur ON dur.dur >= dt.t GROUP BY 1), tm AS (SELECT dt.t, dt.d, nt.n, 1.0 - dt.d::DOUBLE / nt.n AS term FROM dt JOIN nt USING (t)), al AS (SELECT list_sort(list(struct_pack(t := t, term := term))) AS ts0 FROM tm) SELECT tm.t::BIGINT AS t, tm.n::BIGINT AS n, tm.d::BIGINT AS d, round(list_reduce(list_prepend(1.0::DOUBLE, list_transform(list_filter(al.ts0, x -> x.t <= tm.t), x -> x.term)), (a, b) -> round(a * b, 12)), 6) AS s_t FROM tm, al ORDER BY t""",
    // same md5 arrival jitter, same two-phase prefix max (batch-local
    // window + carry over batch maxima), same hour buckets
    "q_events_disorder" ->
      """WITH a AS (SELECT event_id, epoch_us(ts)::BIGINT AS tus, event_id + (('0x' || substr(md5('arr|' || event_id::VARCHAR), 1, 4))::BIGINT % 120) - 60 AS ak FROM events), b AS (SELECT *, ak // 100 AS batch FROM a), bm AS (SELECT batch, max(tus) AS bmax FROM b GROUP BY batch), rm AS (SELECT batch, max(bmax) OVER (ORDER BY batch ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS carry FROM bm), loc AS (SELECT event_id, batch, tus, max(tus) OVER (PARTITION BY batch ORDER BY ak, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lmax FROM b), lt AS (SELECT greatest(0, greatest(coalesce(lmax, 0), coalesce(carry, 0)) - tus) AS late FROM loc JOIN rm USING (batch)) SELECT (CASE WHEN late = 0 THEN 0 ELSE least(late // 3600000000 + 1, 10) END)::BIGINT AS bucket, count(*)::BIGINT AS n_events, (max(late) // 1000000)::BIGINT AS max_late_s FROM lt GROUP BY 1 ORDER BY bucket""",
    // compaction is pure layout: the oracle fingerprints the ORIGINAL
    // table — any lost/duplicated/corrupted row changes the sum
    "q_layout_compaction" ->
      """SELECT source, count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS total_chars, bit_xor(('0x' || substr(md5(text), 1, 12))::BIGINT)::BIGINT AS text_fp FROM documents GROUP BY source ORDER BY source""",
    // the runtime dim filter applied statically — semantics of DPP are
    // pure pruning, so the plain filtered aggregate is the oracle
    "q_join_dpp" ->
      """SELECT year(o_orderdate)::INT AS o_year, count(*)::BIGINT AS cnt, round(sum(o_totalprice), 2) AS total FROM orders WHERE year(o_orderdate) % 2 = 1 GROUP BY 1 ORDER BY 1""",
    "q_source_orc" ->
      """SELECT p_brand, count(*)::BIGINT AS cnt, sum(p_size)::BIGINT AS total_size, min(p_name) AS first_name FROM part GROUP BY p_brand ORDER BY p_brand""",
    "q_source_jsonl" ->
      """SELECT c_mktsegment, count(*)::BIGINT AS cnt, round(sum(c_acctbal), 2) AS bal, max(c_name) AS last_name FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "q_scalar_interval" ->
      """SELECT o_orderkey, strftime(o_orderdate + INTERVAL 3 MONTH, '%Y-%m-%d') AS plus3m, strftime(o_orderdate + INTERVAL 45 DAY, '%Y-%m-%d') AS plus45d, strftime(last_day(o_orderdate::DATE)::TIMESTAMP, '%Y-%m-%d') AS eom, date_diff('day', o_orderdate::DATE, DATE '1998-01-01')::INT AS days_to_98, quarter(o_orderdate)::INT AS qtr, dayofweek(o_orderdate)::INT AS dow FROM orders WHERE o_orderkey % 199 = 0 ORDER BY o_orderkey""",
    "q_agg_listagg" ->
      """SELECT o_custkey, string_agg(o_orderkey::VARCHAR, ',' ORDER BY o_orderkey) AS order_ids, count(*)::BIGINT AS cnt FROM orders WHERE o_custkey <= 50 GROUP BY o_custkey ORDER BY o_custkey""",
    "q_agg_mode" ->
      """WITH c AS (SELECT l_returnflag, l_quantity, count(*) AS cnt FROM lineitem GROUP BY 1, 2) SELECT l_returnflag, round(-((max({'c': cnt, 'nq': -l_quantity})).nq), 2) AS mode_qty, (max({'c': cnt, 'nq': -l_quantity})).c::BIGINT AS cnt FROM c GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q_agg_percentile" ->
      ("""WITH b AS (SELECT l_returnflag, l_extendedprice, row_number() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS rn, count(*) OVER (PARTITION BY l_returnflag) AS n FROM lineitem), g AS (SELECT l_returnflag, max(n) AS n, """ +
        Seq("25" -> "0.25", "50" -> "0.5", "75" -> "0.75").map { case (t, p) =>
          s"max(CASE WHEN rn = floor((n - 1)::DOUBLE * $p)::BIGINT + 1 THEN l_extendedprice END) AS lo$t, " +
            s"max(CASE WHEN rn = ceil((n - 1)::DOUBLE * $p)::BIGINT + 1 THEN l_extendedprice END) AS hi$t"
        }.mkString(", ") +
        """ FROM b GROUP BY 1) SELECT l_returnflag, """ +
        Seq("25" -> "0.25", "50" -> "0.5", "75" -> "0.75").map { case (t, p) =>
          s"lo$t + ((n - 1)::DOUBLE * $p - floor((n - 1)::DOUBLE * $p)) * (hi$t - lo$t) AS p$t"
        }.mkString(", ") +
        """, n::BIGINT AS cnt FROM g ORDER BY l_returnflag"""),
    "q_window_nth" ->
      """SELECT o_custkey, o_orderkey, round(nth_value(o_totalprice, 3) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS third_price, round(first_value(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS first_price, round(last_value(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING), 2) AS final_price FROM orders WHERE o_custkey <= 200 ORDER BY o_custkey, o_orderkey""",
    "q_set_bag" ->
      """WITH a AS (SELECT l_suppkey, l_returnflag FROM lineitem WHERE l_quantity < 10), b AS (SELECT l_suppkey, l_returnflag FROM lineitem WHERE l_extendedprice < 2000), ia AS (SELECT 'intersect_all' AS op, l_suppkey, l_returnflag, count(*)::BIGINT AS cnt FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b) GROUP BY 2, 3), ea AS (SELECT 'except_all' AS op, l_suppkey, l_returnflag, count(*)::BIGINT AS cnt FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b) GROUP BY 2, 3) SELECT op, l_suppkey, l_returnflag, cnt FROM (SELECT * FROM ia UNION ALL SELECT * FROM ea) ORDER BY op, l_suppkey, l_returnflag""",
    "q_source_csv" ->
      """SELECT c_mktsegment, count(*)::BIGINT AS cnt, round(sum(c_acctbal), 2) AS bal, min(c_name) AS first_name FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "q_stream_enrich" ->
      """SELECT n_name, count(*)::BIGINT AS cnt, round(sum(value), 2) AS val FROM events JOIN nation ON user_id % 25 = n_nationkey GROUP BY n_name ORDER BY n_name""",
    "q_stream_join" ->
      """WITH v AS (SELECT event_id AS view_id, user_id, ts AS vts FROM events WHERE event_type = 'view'), c AS (SELECT event_id AS click_id, user_id AS c_user, ts AS cts FROM events WHERE event_type = 'click') SELECT v.user_id, count(*)::BIGINT AS n_pairs, min(floor(epoch(cts))::BIGINT - floor(epoch(vts))::BIGINT) AS min_gap_s, max(floor(epoch(cts))::BIGINT - floor(epoch(vts))::BIGINT) AS max_gap_s FROM v JOIN c ON v.user_id = c.c_user AND cts >= vts AND cts <= vts + INTERVAL 30 MINUTE GROUP BY v.user_id ORDER BY v.user_id""",
    "q_stream_join_outer" ->
      """WITH v AS (SELECT event_id AS view_id, user_id, ts AS vts FROM events WHERE event_type = 'view'), c AS (SELECT event_id AS click_id, user_id AS c_user, ts AS cts FROM events WHERE event_type = 'click'), wm AS (SELECT least((SELECT max(vts) FROM v), (SELECT max(cts) FROM c)) - INTERVAL 2 HOUR AS w), pairs AS (SELECT v.user_id, v.view_id, c.click_id FROM v JOIN c ON v.user_id = c.c_user AND cts >= vts AND cts <= vts + INTERVAL 30 MINUTE), unmatched AS (SELECT v.user_id, v.view_id FROM v, wm WHERE v.vts + INTERVAL 30 MINUTE < wm.w AND NOT EXISTS (SELECT 1 FROM c WHERE c.c_user = v.user_id AND c.cts >= v.vts AND c.cts <= v.vts + INTERVAL 30 MINUTE)) SELECT user_id, count(*)::BIGINT AS n_rows, count(click_id)::BIGINT AS n_matched, sum(CASE WHEN click_id IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_unmatched FROM (SELECT user_id, click_id FROM pairs UNION ALL SELECT user_id, NULL::BIGINT AS click_id FROM unmatched) GROUP BY user_id ORDER BY user_id""",
    "q_stream_join_full" ->
      """WITH v AS (SELECT event_id AS view_id, user_id, ts AS vts FROM events WHERE event_type = 'view'), c AS (SELECT event_id AS click_id, user_id AS c_user, ts AS cts FROM events WHERE event_type = 'click'), wm AS (SELECT least((SELECT max(vts) FROM v), (SELECT max(cts) FROM c)) - INTERVAL 2 HOUR AS w), pairs AS (SELECT v.user_id AS uid, v.view_id, c.click_id FROM v JOIN c ON v.user_id = c.c_user AND cts >= vts AND cts <= vts + INTERVAL 30 MINUTE), vu AS (SELECT v.user_id AS uid, v.view_id FROM v, wm WHERE v.vts + INTERVAL 30 MINUTE < wm.w AND NOT EXISTS (SELECT 1 FROM c WHERE c.c_user = v.user_id AND c.cts >= v.vts AND c.cts <= v.vts + INTERVAL 30 MINUTE)), cu AS (SELECT c.c_user AS uid, c.click_id FROM c, wm WHERE c.cts < wm.w AND NOT EXISTS (SELECT 1 FROM v WHERE v.user_id = c.c_user AND c.cts >= v.vts AND c.cts <= v.vts + INTERVAL 30 MINUTE)) SELECT uid, count(*)::BIGINT AS n_rows, sum(CASE WHEN view_id IS NOT NULL AND click_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_pairs, sum(CASE WHEN click_id IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_view_only, sum(CASE WHEN view_id IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_click_only FROM (SELECT uid, view_id, click_id FROM pairs UNION ALL SELECT uid, view_id, NULL::BIGINT FROM vu UNION ALL SELECT uid, NULL::BIGINT, click_id FROM cu) GROUP BY uid ORDER BY uid""",
    "q_events_funnel" ->
      """WITH ev AS (SELECT user_id, event_type, floor(epoch(ts))::BIGINT AS sec FROM events), tv AS (SELECT user_id, min(sec) AS tv FROM ev WHERE event_type = 'view' GROUP BY user_id), tc AS (SELECT e.user_id, min(e.sec) AS tc FROM ev e JOIN tv ON e.user_id = tv.user_id AND e.sec > tv.tv WHERE e.event_type = 'click' GROUP BY e.user_id), tp AS (SELECT e.user_id, min(e.sec) AS tp FROM ev e JOIN tc ON e.user_id = tc.user_id AND e.sec > tc.tc WHERE e.event_type = 'purchase' GROUP BY e.user_id) SELECT (SELECT count(*) FROM tv)::BIGINT AS n_view, (SELECT count(*) FROM tc)::BIGINT AS n_click, (SELECT count(*) FROM tp)::BIGINT AS n_purchase, (SELECT round(avg(tp.tp - tv.tv), 2) FROM tp JOIN tv ON tp.user_id = tv.user_id) AS avg_secs""",
    "q_window_sliding" ->
      """WITH ev AS (SELECT event_type, floor(epoch(ts))::BIGINT AS es FROM events), w AS (SELECT event_type, (es // 1800 - k.k) * 1800 AS ws FROM ev CROSS JOIN (SELECT unnest([0, 1]) AS k) k) SELECT strftime(to_timestamp(ws), '%Y-%m-%d %H:%M:%S') AS w_start, event_type, count(*)::BIGINT AS cnt FROM w GROUP BY 1, 2 ORDER BY w_start, event_type""",
    "q_unpivot" ->
      """WITH t AS (SELECT l_orderkey, l_linenumber, round(l_quantity, 2) AS qty, round(l_extendedprice, 2) AS price, round(l_discount, 2) AS disc FROM lineitem WHERE l_orderkey % 97 = 0) SELECT l_orderkey, l_linenumber, metric, value FROM (SELECT l_orderkey, l_linenumber, 'qty' AS metric, qty AS value FROM t UNION ALL SELECT l_orderkey, l_linenumber, 'price', price FROM t UNION ALL SELECT l_orderkey, l_linenumber, 'disc', disc FROM t) ORDER BY l_orderkey, l_linenumber, metric""",
    "q_array_hof" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings WHERE vec_id % 40 = 0) SELECT vec_id, len(list_filter(v, x -> x > 0))::INT AS n_pos, len(list_filter(v, x -> x > 2.0)) > 0 AS any_big, round(list_reduce(list_prepend(0.0::DOUBLE, list_transform(v, x -> x * x)), (a, x) -> a + x), 4) AS sumsq, round(v[1] * 2, 4) AS first_doubled FROM e ORDER BY vec_id""",
    "q_subquery_corr" ->
      """SELECT c.c_custkey, round(c.c_acctbal, 2) AS bal, (SELECT round(max(o.o_totalprice), 2) FROM orders o WHERE o.o_custkey = c.c_custkey) AS max_spend FROM customer c WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 450000) ORDER BY c.c_custkey""",
    "q_agg_bool" ->
      """SELECT c_mktsegment, bool_and(c_acctbal > -999) AS all_above, bool_or(c_acctbal > 9000) AS any_rich, count_if(c_acctbal < 0)::BIGINT AS n_neg, max_by(c_name, c_custkey) AS last_cust, min_by(c_name, c_custkey) AS first_cust FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "q_scalar_bits" ->
      """SELECT o_orderkey, (o_orderkey & 255)::BIGINT AS lo8, (o_orderkey | 15)::BIGINT AS or15, xor(o_orderkey, o_custkey)::BIGINT AS x, (o_orderkey << 2)::BIGINT AS shl, (o_orderkey >> 3)::BIGINT AS shr FROM orders WHERE o_orderkey % 31 = 0 ORDER BY o_orderkey""",
    "q_scalar_hash" ->
      """SELECT doc_id, md5(text) AS h_md5, sha256(text) AS h_sha256, substr(sha256(text), 1, 1) AS bucket FROM documents ORDER BY doc_id""",
    "q_tpch_q18" ->
      """WITH big AS (SELECT l_orderkey, round(sum(l_quantity), 2) AS sum_qty FROM lineitem GROUP BY l_orderkey HAVING round(sum(l_quantity), 2) > 150) SELECT c_custkey, o_orderkey, round(o_totalprice, 2) AS price, sum_qty FROM big JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey ORDER BY price DESC, o_orderkey LIMIT 100""",
    "q_tpch_q10" ->
      """SELECT c_custkey, c_name, c_acctbal, n_name, sum((l_extendedprice*(1-l_discount))::DECIMAL(18,4))::DOUBLE AS revenue FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON o_orderkey = l_orderkey JOIN nation ON c_nationkey = n_nationkey WHERE l_returnflag = 'R' AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01' GROUP BY c_custkey, c_name, c_acctbal, n_name ORDER BY revenue DESC, c_custkey LIMIT 20""",
    "q_events_scd2" ->
      """WITH e AS (SELECT user_id, ts, event_id, event_type FROM events WHERE user_id <= 50), c AS (SELECT user_id, ts, event_id, event_type, CASE WHEN lag(event_type) OVER w IS NULL OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), v AS (SELECT user_id, ts, event_type, sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS ver FROM c) SELECT user_id, ver::BIGINT AS ver, event_type, epoch_us(min(ts))::BIGINT AS valid_from, epoch_us(max(ts))::BIGINT AS valid_to, count(*)::BIGINT AS n_events FROM v GROUP BY user_id, ver, event_type ORDER BY user_id, ver""",
    "q_stream_scd2" -> streamScd2OracleSql,
    // IDENTICAL oracle by construction: the RocksDB entry runs the
    // same drive, so any provider-visible divergence hash-mismatches
    "q_stream_scd2_rocksdb" -> streamScd2OracleSql,
    "q_events_sessionize" ->
      """WITH g AS (SELECT user_id, ts, event_id, epoch(ts) - lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap FROM events), b AS (SELECT user_id, ts, event_id, CASE WHEN gap IS NULL OR gap > 1800.0 THEN 1 ELSE 0 END AS boundary FROM g), s AS (SELECT user_id, sum(boundary) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess FROM b) SELECT user_id, max(sess)::BIGINT AS n_sessions, count(*)::BIGINT AS n_events FROM s GROUP BY user_id ORDER BY user_id""",
    "q_events_locf" ->
      """WITH daily AS (SELECT user_id, ts::DATE AS day, round(sum(value), 2) AS v FROM events GROUP BY 1, 2), span AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1), spine AS (SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day FROM span), j AS (SELECT s.user_id, s.day, d.v FROM spine s LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day), f AS (SELECT user_id, day, v, last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled FROM j) SELECT user_id, count(*)::BIGINT AS n_days, sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_filled, sum(filled::DECIMAL(18,2))::DOUBLE AS sum_filled FROM f GROUP BY user_id ORDER BY user_id""",
    "q_profile" ->
      ("""SELECT * FROM (""" +
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderdate", "o_orderpriority")
          .map(c => s"SELECT '$c' AS col_name, count(*)::BIGINT AS n_rows, sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_nulls, count(DISTINCT $c)::BIGINT AS n_distinct FROM orders")
          .mkString(" UNION ALL ") +
        """) ORDER BY col_name"""),
    "q_events_session_native" ->
      """WITH ev AS (SELECT user_id, ts, epoch_us(ts) AS us FROM events), o AS (SELECT user_id, ts, us, CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w >= 1800000000 THEN 1 ELSE 0 END AS b FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts)), sx AS (SELECT user_id, ts, us, sum(b) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM o), ag AS (SELECT user_id, sid, count(*) AS ne, min(us) AS fu, max(us) AS lu FROM sx GROUP BY 1, 2) SELECT user_id, count(*)::BIGINT AS n_sessions, sum(ne)::BIGINT AS n_events, max((lu + 1800000000 - fu) // 1000000)::BIGINT AS max_sess_secs FROM ag GROUP BY user_id ORDER BY user_id""",
    "q_stream_session_native" ->
      """WITH ev AS (SELECT user_id, ts, epoch_us(ts) AS us FROM events), o AS (SELECT user_id, ts, us, CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w >= 1800000000 THEN 1 ELSE 0 END AS b FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts)), sx AS (SELECT user_id, ts, us, sum(b) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM o), ag AS (SELECT user_id, sid, count(*) AS ne, min(us) AS fu, max(us) AS lu FROM sx GROUP BY 1, 2) SELECT user_id, count(*)::BIGINT AS n_sessions, sum(ne)::BIGINT AS n_events, max((lu + 1800000000 - fu) // 1000000)::BIGINT AS max_sess_secs FROM ag GROUP BY user_id ORDER BY user_id""",
    "q_stream_sessionize" ->
      """WITH g AS (SELECT user_id, ts, event_id, epoch(ts) - lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap FROM events), b AS (SELECT user_id, ts, event_id, CASE WHEN gap IS NULL OR gap > 1800.0 THEN 1 ELSE 0 END AS boundary FROM g), s AS (SELECT user_id, sum(boundary) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess FROM b) SELECT user_id, max(sess)::BIGINT AS n_sessions, count(*)::BIGINT AS n_events FROM s GROUP BY user_id ORDER BY user_id""")
}
