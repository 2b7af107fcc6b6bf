package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.objects.AssertNotNull
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/** Minimal `private[sql]` bridge (the standard extension-library
  * pattern, cf. Delta/Iceberg shims): exposes Dataset.ofRows so graft
  * can materialize a DataFrame from a custom LogicalPlan node. */
object Bridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `c` declared non-nullable; a null value fails the query (the
    * check a typed collect into a primitive field makes). */
  def notNull(c: Column): Column =
    classic.ExpressionUtils.column(AssertNotNull(classic.ExpressionUtils.expression(c)))

  /** Replace an eagerly-localCheckpointed DataFrame's inherited size
    * ESTIMATE with the checkpoint's actual materialised block size.
    * `Dataset.localCheckpoint` copies the pre-checkpoint plan's
    * estimated Statistics into `LogicalRDD.originStats`; Catalyst's
    * size-only estimator multiplies child sizes at every join, so in
    * an iterative self-joining loop that inherited estimate compounds
    * exponentially across rounds — by round ~10 the sizeInBytes
    * BigInt has millions of digits and the driver burns minutes in
    * BigInteger multiplication inside stats estimation. The actual
    * block size also gives the optimizer truthful broadcast decisions
    * for subsequent joins over the checkpoint. No-op on frames that
    * are not LogicalRDD-backed. */
  def resetCheckpointStats(df: DataFrame): DataFrame =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        val sc = df.sparkSession.sparkContext
        sc.getRDDStorageInfo.find(_.id == lr.rdd.id)
          .map(i => BigInt(i.memSize + i.diskSize)).filter(_ > 0) match {
          case Some(actual) =>
            ofRows(df.sparkSession, new org.apache.spark.sql.execution.LogicalRDD(
              lr.output, lr.rdd, lr.outputPartitioning, lr.outputOrdering,
              lr.isStreaming, lr.stream)(
              df.sparkSession.asInstanceOf[classic.SparkSession],
              Some(org.apache.spark.sql.catalyst.plans.logical.Statistics(
                sizeInBytes = actual)),
              None))
          // block status not visible yet (the master update is async)
          // or blocks evicted: keep the inherited estimate rather than
          // stamping a small constant — an under-estimate would flip
          // the planner into BROADCASTING an arbitrarily large state
          // table, which is far worse than one round of a compounding
          // (always upward) estimate
          case None => df
        }
      case _ => df
    }
}
