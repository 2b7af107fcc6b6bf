package org.apache.spark.sql.graftshim

import org.apache.spark.SparkEnv
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.objects.AssertNotNull
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.RDDBlockId

/** Minimal `private[sql]` bridge (the standard extension-library
  * pattern, cf. Delta/Iceberg shims): exposes Dataset.ofRows so graft
  * can materialize a DataFrame from a custom LogicalPlan node. */
object Bridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `o`'s observed row, waiting at most Spark's 100 ms for the
    * listener bus to deliver it; None when it is not in by then. */
  def observedRow(o: Observation): Option[Row] = o.getRowOrEmpty

  /** `c` declared non-nullable; a null value fails the query (the
    * check a typed collect into a primitive field makes). */
  def notNull(c: Column): Column =
    classic.ExpressionUtils.column(AssertNotNull(classic.ExpressionUtils.expression(c)))

  /** Replace a materialised localCheckpoint's inherited size ESTIMATE
    * with the checkpoint's actual block size.
    * `Dataset.localCheckpoint` copies the pre-checkpoint plan's
    * estimated Statistics into `LogicalRDD.originStats`; Catalyst's
    * size-only estimator multiplies child sizes at every join, so in
    * an iterative self-joining loop that inherited estimate compounds
    * exponentially across rounds — by round ~10 the sizeInBytes
    * BigInt has millions of digits and the driver burns minutes in
    * BigInteger multiplication inside stats estimation. The actual
    * block size also gives the optimizer truthful broadcast decisions
    * for subsequent joins over the checkpoint. The sizes come from the
    * block-manager master, which records every block before the job
    * that stored it returns (the UI status store behind
    * `SparkContext.getRDDStorageInfo` is fed asynchronously by the
    * listener bus, so a read there can miss blocks and leave the
    * broadcast choice to event timing). No-op on frames that are not
    * LogicalRDD-backed. */
  def resetCheckpointStats(df: DataFrame): DataFrame =
    df.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        val actual = SparkEnv.get.blockManager.master.getStorageStatus.iterator
          .flatMap(_.rddBlocks).collect {
            case (RDDBlockId(id, _), s) if id == lr.rdd.id => s.memSize + s.diskSize
          }.sum
        // no blocks (evicted, or an empty checkpoint): keep the
        // inherited estimate rather than stamping a small constant — an
        // under-estimate would flip the planner into BROADCASTING an
        // arbitrarily large state table, which is far worse than one
        // round of a compounding (always upward) estimate
        if (actual <= 0) df else restated(df, lr, Statistics(sizeInBytes = BigInt(actual)))
      case _ => df
    }

  /** The RDDs of the checkpoints [[withRowCount]] restated, held
    * weakly. */
  private val counted = java.util.Collections.synchronizedSet(
    java.util.Collections.newSetFromMap(new java.util.WeakHashMap[RDD[_], java.lang.Boolean]()))

  /** A `localCheckpoint` whose plan statistics carry `rows` as its exact
    * row count (and a size of `rows` rows of its schema), so a bounded
    * collect over it can refuse without a job. `rows` must be the
    * checkpoint's true row count. No-op on frames that are not
    * LogicalRDD-backed. */
  def withRowCount(df: DataFrame, rows: Long): DataFrame =
    df.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        counted.add(lr.rdd)
        restated(df, lr, Statistics(
          sizeInBytes = EstimationUtils.getSizePerRow(lr.output) * rows max 1,
          rowCount = Some(BigInt(rows))))
      case _ => df
    }

  /** The row count [[withRowCount]] stated for `lr`; None for any other
    * checkpoint, whose statistics may hold an estimate (Spark's own
    * `localCheckpoint` copies the optimized plan's, and a limit, say,
    * states its limit however few rows it keeps). */
  def statedRowCount(lr: LogicalRDD): Option[BigInt] =
    if (counted.contains(lr.rdd)) lr.stats.rowCount else None

  /** `lr`, the plan of `df`, over the same RDD with `stats`. */
  private def restated(df: DataFrame, lr: LogicalRDD, stats: Statistics): DataFrame =
    ofRows(df.sparkSession, new LogicalRDD(
      lr.output, lr.rdd, lr.outputPartitioning, lr.outputOrdering,
      lr.isStreaming, lr.stream)(
      df.sparkSession.asInstanceOf[classic.SparkSession], Some(stats), None))
}
