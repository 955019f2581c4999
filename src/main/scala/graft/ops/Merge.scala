package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Warehouse-layer SCD merge operators (SURVEY.md §2.8 W2).
  *
  * Reference intent: six Snowflake `SP_MERGE_DIM_*` stored procedures
  * (`README.md:238-269`; role name `SCD1n2_Snow_Role` at `README.md:174`
  * signals SCD Type-1/2). Bodies are not in the repo, so semantics here are
  * the standard forms: SCD1 = upsert-by-pk (updates win, inserts appended,
  * unmatched target retained); SCD2 = close-and-insert with
  * effective_from / effective_to / is_current maintenance.
  *
  * No table format (Delta/Iceberg) is available, so the merge is expressed
  * as a pure DataFrame transform; callers persist via
  * write-to-temp-then-swap (SURVEY.md §7.4.5). At scale both sides shuffle
  * on the pk once (sort-merge).
  */
object Merge {

  /** SCD1 upsert: rows in `updates` replace same-pk rows in `target`;
    * new pks are appended; untouched target rows pass through.
    * Both frames must share the same schema.
    */
  def scd1(target: DataFrame, updates: DataFrame, pk: String): DataFrame = {
    require(target.columns.sameElements(updates.columns),
      s"schema mismatch: ${target.columns.mkString(",")} vs " +
        updates.columns.mkString(","))
    val valueCols = target.columns.filterNot(_ == pk)
    // re-alias the update side (fresh exprIds) so target/updates may share
    // lineage (self-derived) without tripping the ambiguous-self-join check
    val uRenamed = updates.toDF(updates.columns.map("__u_" + _): _*)
    val uPk = col(s"__u_$pk")
    // full outer on pk; updates win per column
    target.join(uRenamed, col(pk) === uPk, "full_outer")
      .select(
        coalesce(uPk, col(pk)).as(pk) +:
          valueCols.map { c =>
            when(uPk.isNotNull, col(s"__u_$c")).otherwise(col(c)).as(c)
          }: _*)
  }

  /** SCD2 merge. `target` carries (pk, attrs..., effective_from,
    * effective_to, is_current); `updates` carries (pk, attrs...).
    * Changed rows: current version closed at `loadDate`, new version
    * opened; unchanged rows pass through; new pks inserted.
    */
  def scd2(target: DataFrame, updates: DataFrame, pk: String,
           attrCols: Seq[String], loadDate: java.sql.Date): DataFrame = {
    val load = lit(loadDate)
    val openEnd = lit(java.sql.Date.valueOf("9999-12-31"))

    val cur = target.filter(col("is_current"))
    val hist = target.filter(!col("is_current"))

    val changed = attrCols
      .map(c => !(col(s"u.$c") <=> col(s"t.$c")))
      .reduce(_ || _)

    val joined = cur.as("t")
      .join(updates.as("u"), col(s"t.$pk") === col(s"u.$pk"), "full_outer")

    // 1) current rows with no update, or with an identical update: as-is
    val unchanged = joined
      .filter(col(s"u.$pk").isNull || !changed)
      .select(col("t.*"))
    // 2) current rows whose update differs: closed
    val closed = joined
      .filter(col(s"u.$pk").isNotNull && col(s"t.$pk").isNotNull && changed)
      .select(
        (col(s"t.$pk").as(pk) +: attrCols.map(c => col(s"t.$c").as(c))) ++
          Seq(col("t.effective_from").as("effective_from"),
            load.as("effective_to"),
            lit(false).as("is_current")): _*)
    // 3) new versions: differing update, or brand-new pk
    val opened = joined
      .filter(col(s"u.$pk").isNotNull &&
        (col(s"t.$pk").isNull || changed))
      .select(
        (col(s"u.$pk").as(pk) +: attrCols.map(c => col(s"u.$c").as(c))) ++
          Seq(load.as("effective_from"),
            openEnd.as("effective_to"),
            lit(true).as("is_current")): _*)

    hist.unionByName(unchanged).unionByName(closed).unionByName(opened)
  }

  /** SCD6 hybrid merge (Kimball's "1+2+3"): the [[scd2]] row history,
    * PLUS the SCD1 overlay (`cur_<attr>`: the key's CURRENT value
    * stamped on every historical row, so history-filtered queries read
    * today's attribute without a read-time self-join), PLUS the SCD3
    * column (`prev_<attr>`: the immediately-previous value, on the
    * current row only). Two windows over each key's version frame —
    * bounded by the version count per key, never corpus-wide.
    */
  def scd6(target: DataFrame, updates: DataFrame, pk: String,
           attrCols: Seq[String], trackedCol: String,
           loadDate: java.sql.Date): DataFrame = {
    val merged = scd2(target, updates, pk, attrCols, loadDate)
    val wCur = Window.partitionBy(pk)
    val wOrd = Window.partitionBy(pk)
      .orderBy(col("effective_from").asc, col("effective_to").asc,
        col("is_current").asc)
    merged
      .withColumn(s"cur_$trackedCol",
        max(when(col("is_current"), col(trackedCol))).over(wCur))
      .withColumn(s"prev_$trackedCol",
        when(col("is_current"), lag(col(trackedCol), 1).over(wOrd)))
  }

  /** Point-in-time SCD2 lookup: the version of each key valid AT `at`,
    * under the half-open `[effective_from, effective_to)` convention
    * [[scd2]] writes (a version closed at the load date excludes it;
    * the replacement opened that day includes it). This is the query
    * shape SCD2 dims exist for — "join facts to the dim as it was" —
    * and at scale it is a plain filter (partition-prunable on
    * `effective_to` when the dim is date-partitioned), never a window.
    */
  def pointInTime(dim: DataFrame, at: java.sql.Date,
                  fromCol: String = "effective_from",
                  toCol: String = "effective_to"): DataFrame =
    dim.filter(col(fromCol) <= lit(at) && col(toCol) > lit(at))

  /** Snapshot diff — the CDC between two versions of a keyed table:
    * one row per key that was `added` (new only), `removed` (old only),
    * or `changed` (both sides, any compare column null-safely
    * different). Unchanged keys are dropped. The audit primitive behind
    * incremental publishing: feed the output to [[scd1]]/[[scd2]]
    * consumers, or count per type as a load health check.
    *
    * Scale shape: each side projects to key + compare columns before
    * the single pk-hash full-outer join (sort-merge at dimension scale,
    * broadcastable when one snapshot is batch-small); comparisons are
    * columnar null-safe equality inside codegen — no row hashing, no
    * second shuffle.
    */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame, pk: String,
                   compareCols: Seq[String]): DataFrame = {
    require(compareCols.nonEmpty, "need at least one compare column")
    val o = oldSnap.select((pk +: compareCols).map(c =>
      col(c).as("__o_" + c)): _*)
    val n = newSnap.select((pk +: compareCols).map(c =>
      col(c).as("__n_" + c)): _*)
    val oPk = col("__o_" + pk)
    val nPk = col("__n_" + pk)
    val differs = compareCols.map(c =>
      !(col("__o_" + c) <=> col("__n_" + c))).reduce(_ || _)
    o.join(n, oPk === nPk, "full_outer")
      .withColumn("change_type",
        when(oPk.isNull, lit("added"))
          .when(nPk.isNull, lit("removed"))
          .when(differs, lit("changed")))
      .filter(col("change_type").isNotNull)
      .select(coalesce(nPk, oPk).as(pk), col("change_type"))
  }
}
