package graft.queries

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Fixture-table access for the query inventory (TESTDATA.md). */
object Tables {
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** The data version of fixture tables `names` under `dir`: the
    * [[SessionMemo.fingerprint]] of their listings (a missing table
    * lists nothing). Memo keys that include it re-derive instead of
    * serving stale state after a mid-session refresh. */
  def fingerprint(s: SparkSession, dir: String, names: String*): Long =
    SessionMemo.fingerprint(names.flatMap { name =>
      val p = new Path(s"$dir/$name.parquet")
      try p.getFileSystem(s.sparkContext.hadoopConfiguration).listStatus(p).toSeq
      catch { case _: java.io.FileNotFoundException => Nil }
    })

  /** Spread a sub-split scan across the session's cores before a
    * CPU-heavy per-row derivation (optimization guide §2.5, "input
    * skew: one huge unsplittable file — repartition immediately after
    * the read"): the test-SF fixtures are single parquet files far
    * below one 128 MB split, so every per-row-expensive stage that
    * hangs off the scan (per-position md5 chunking, shingle
    * generation, tokenization) otherwise runs as ONE task while the
    * other cores idle — and a localCheckpoint downstream freezes that
    * single-partition layout for every later stage too. The exchange
    * is keyed (deterministic hash of `key`, no sort) and sized by
    * defaultParallelism (the harness-parameterised core count, never
    * a constant), with an explicit numPartitions so AQE does not
    * coalesce the deliberately tiny shuffle back to one partition.
    * Guarded: a scan that already carries >= defaultParallelism
    * splits (the 100 TB case) passes through untouched — re-sharding
    * data for parallelism it already has is pure waste. Row-level
    * derivations commute with partitioning, so consumers' results
    * are identical on any key. */
  def spread(df: DataFrame, key: String): DataFrame = {
    val n = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= n) df
    else df.repartition(n, col(key))
  }

  /** Loads `events` with a session-timezone TIMESTAMP `ts`, adapting to
    * whatever physical type the fixture was written with. The driver's
    * fixtures have shipped `ts` as TIMESTAMP(NANOS) (Spark 4 surfaces
    * it as a nanos LONG under `legacy.parquet.nanosAsLong`) and, since
    * the 2026-08-13 refresh, as TIMESTAMP(MICROS) with
    * isAdjustedToUTC=false (surfaced as TIMESTAMP_NTZ). Both arrive at
    * the same microsecond-precision TimestampType here; the NTZ wall
    * clock is re-interpreted in the session zone (UTC for
    * Verify/Bench), which is exactly how the DuckDB oracle reads the
    * same naive values. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    // harmless for timestamp fixtures; required before the read for
    // nanos fixtures (without it Spark rejects the file outright)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = t(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType => // nanos-as-long: exact integer truncation to micros
        raw.withColumn("ts", expr("timestamp_micros(CAST(ts DIV 1000 AS BIGINT))"))
      case TimestampNTZType => // naive micros: wall clock -> session zone
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType => raw
      case other => throw new IllegalStateException(
        s"events.ts has unsupported parquet type $other (expected " +
          "nanos-long, TIMESTAMP_NTZ, or TIMESTAMP)")
    }
  }
}
