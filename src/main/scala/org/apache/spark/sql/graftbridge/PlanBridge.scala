package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into Spark 4's `private[sql]` classic Dataset API so the
  * engine can materialize a DataFrame from a custom catalyst
  * `LogicalPlan` node (and read a frame's analyzed plan to build one).
  * Lives under `org.apache.spark.sql` purely for access; contains no
  * Spark code.
  */
object PlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def analyzed(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed

  /** `localCheckpoint` with a STATS BARRIER: materializes (or, with
    * `eager = false`, marks) the frame's internal RDD exactly like
    * `Dataset.localCheckpoint`, but rebuilds the result as a bare
    * [[org.apache.spark.sql.execution.LogicalRDD]] WITHOUT the
    * origin-plan stats rewrite Spark 4's checkpoint performs
    * (`LogicalRDD.fromDataset` → `rewriteStatsAndConstraints`).
    *
    * `eager = false` defers only the checkpoint's own job. Under AQE,
    * `queryExecution.toRdd` runs the adaptive plan's shuffle stages as
    * jobs while the barrier is built, so building it is not free: a
    * plan with s shuffle stages starts about s jobs here (one
    * distributed `Graph.components` round starts 9 in all).
    *
    * Why this exists (optimization r14): Catalyst's size-in-bytes
    * estimate of a join MULTIPLIES the children's BigInt sizes, and a
    * checkpoint that inherits those products feeds them into the next
    * round's joins — in an iterative operator (Borůvka rounds, label
    * propagation, pointer doubling) the estimate's DIGIT COUNT doubles
    * per join-of-checkpoints round, until `BigInteger.multiply` inside
    * `SizeInBytesOnlyStatsPlanVisitor` dominates the driver (observed:
    * the r14 single-linkage rewrite spent minutes in ToomCook3
    * multiplication on 500-row frames — a pure planning artifact).
    * Resetting to the session default size per round keeps estimates
    * bounded; runtime join strategy is unaffected in practice because
    * these frames were never broadcastable-by-estimate anyway and AQE
    * decides from MEASURED sizes at execution.
    */
  def localCheckpointStatsBarrier(df: DataFrame,
                                  eager: Boolean): DataFrame = {
    val (out, rdd) = statsBarrier(df)
    if (eager) rdd.count()
    out
  }

  /** Eager [[localCheckpointStatsBarrier]] that returns the frame's row
    * count with it: the count is the one job that materializes it.
    */
  def countedStatsBarrier(df: DataFrame): (DataFrame, Long) = {
    val (out, rdd) = statsBarrier(df)
    (out, rdd.count())
  }

  private def statsBarrier(df: DataFrame): (DataFrame, RDD[InternalRow]) = {
    import org.apache.spark.sql.execution.LogicalRDD
    val ds = df.asInstanceOf[classic.Dataset[_]]
    val spark = ds.sparkSession
    // same row-buffer copy Dataset.checkpoint performs: unsafe rows are
    // reused mutable buffers and must be copied before caching
    val rdd = ds.queryExecution.toRdd.map(_.copy())
    rdd.localCheckpoint()
    (classic.Dataset.ofRows(spark,
      LogicalRDD(ds.queryExecution.analyzed.output, rdd)(spark)), rdd)
  }
}
