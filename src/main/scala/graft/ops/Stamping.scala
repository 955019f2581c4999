package graft.ops

import java.time.LocalDate

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, LongType}

/** Surrogate-key and audit-column stamping (SURVEY.md §2.2 P11-P13).
  *
  * Reference: `script/nh-etl-universal-cleaning.py:84-85`,
  * `script/nh-etl-provider-transform.py:121-122`,
  * `script/nh-etl-quality-transform.py:50-51`.
  *
  * The reference uses `monotonically_increasing_id()` (partition-layout
  * dependent ⇒ non-deterministic run-to-run) and `current_date()`
  * (wall-clock dependent). Both get injectable deterministic modes here so
  * results are oracle-comparable (SURVEY.md §7.4).
  */
object Stamping {

  /** How to assign the `row_id` surrogate key. */
  sealed trait IdStrategy

  /** Reference-faithful: `monotonically_increasing_id()`. O(1) per row,
    * fully parallel, NO shuffle — the right choice at 100 TB when ids only
    * need uniqueness, not density or stability.
    */
  case object Monotonic extends IdStrategy

  /** Deterministic dense ids via `row_number()` over a total order.
    * NOTE: a global (unpartitioned) window collapses to a single task —
    * correct but serial; use only for oracle-checked tests or small dims.
    * At scale prefer [[Monotonic]].
    */
  final case class Deterministic(orderCols: Seq[String]) extends IdStrategy

  def withRowId(df: DataFrame, strategy: IdStrategy = Monotonic): DataFrame =
    strategy match {
      case Monotonic =>
        df.withColumn("row_id", monotonically_increasing_id().cast(LongType))
      case Deterministic(orderCols) =>
        // a global window serializes the whole frame through one task;
        // warn when the input is visibly larger than a small dimension so
        // a copy-paste onto a fact table doesn't silently go single-core
        val parts = df.rdd.getNumPartitions
        if (parts > 8)
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"Stamping.Deterministic collapses $parts input partitions " +
              "into ONE task (global row_number window); use " +
              "Monotonic for large frames")
        val w = Window.orderBy(orderCols.map(col): _*)
        df.withColumn("row_id", (row_number().over(w) - 1).cast(LongType))
    }

  /** P12: audit date. `clock=None` ⇒ reference-faithful `current_date()`;
    * a fixed date makes output deterministic for the oracle.
    */
  def withEtlDate(df: DataFrame, clock: Option[LocalDate] = None): DataFrame =
    clock match {
      case None    => df.withColumn("etl_date", current_date().cast(DateType))
      case Some(d) => df.withColumn("etl_date", lit(java.sql.Date.valueOf(d)))
    }

  /** The P11+P12 pair as stamped by every reference job. */
  def stamp(df: DataFrame,
            id: IdStrategy = Monotonic,
            clock: Option[LocalDate] = None): DataFrame =
    withEtlDate(withRowId(df, id), clock)
}
