package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** Universal-cleaning operators (SURVEY.md §2.2 P1/P2/P4).
  *
  * Reference semantics: `script/nh-etl-universal-cleaning.py:23-52` —
  * column-name normalization (strip/lower, space|slash|dash|dot → `_`,
  * parens removed), a case-insensitive canonical rename map, and a
  * trim of every cell.
  *
  * Unlike the reference's per-column `withColumnRenamed`/`withColumn`
  * loops (O(cols) Project nodes, O(cols²) analysis), every operator here
  * is a SINGLE projection — at 100 TB / thousands of columns the plan
  * stays constant-depth and fully inside whole-stage codegen.
  */
object Cleaning {

  /** Canonical rename map (`nh-etl-universal-cleaning.py:23-30`). */
  val RenameMap: Map[String, String] = Map(
    "cms_certification_number_ccn" -> "facility_number",
    "provider_name" -> "facility_name",
    "provider_address" -> "facility_address",
    "provider_type" -> "facility_type",
    "deficiency_tag_number" -> "deficiency_tag",
    "scope_severity_code" -> "severity_level")

  /** P1: normalize one column name (`nh-etl-universal-cleaning.py:37`). */
  def normalizeName(name: String): String =
    name.trim.toLowerCase
      .replace(" ", "_")
      .replace("(", "")
      .replace(")", "")
      .replace("/", "_")
      .replace("-", "_")
      .replace(".", "_")

  /** P1 over a frame: one `toDF` projection, not a rename loop. */
  def normalizeColumnNames(df: DataFrame): DataFrame =
    df.toDF(df.columns.map(normalizeName): _*)

  /** P2: case-insensitive rename through a map; unmatched names pass
    * through (`nh-etl-universal-cleaning.py:46-52`).
    */
  def renameColumns(df: DataFrame,
                    renames: Map[String, String] = RenameMap): DataFrame = {
    val lookup = renames.map { case (k, v) => k.trim.toLowerCase -> v }
    df.toDF(df.columns.map(c => lookup.getOrElse(c.trim.toLowerCase, c)): _*)
  }

  /** P4, reference-exact: trim EVERY column (`:41-44`). On the all-string
    * CSV frames this is lossless; on typed frames Spark would cast — use
    * [[trimStrings]] for typed tables.
    */
  def trimAll(df: DataFrame): DataFrame =
    df.select(df.columns.map(c => trim(col(c)).as(c)): _*)

  /** P4, type-aware: trim only StringType columns, one projection. */
  def trimStrings(df: DataFrame): DataFrame = {
    val stringCols = df.schema.fields
      .collect { case f if f.dataType == StringType => f.name }.toSet
    df.select(df.columns.map { c =>
      if (stringCols(c)) trim(col(c)).as(c) else col(c)
    }: _*)
  }

  /** The full universal-cleaning chain P1→P2→P4 as one composed operator
    * (`nh-etl-universal-cleaning.py:81-83`). Catalyst collapses the three
    * projections into one.
    */
  def universalClean(df: DataFrame): DataFrame =
    trimAll(renameColumns(normalizeColumnNames(df)))
}
