package graft.pipeline

import java.time.LocalDate

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

import graft.ops.{Cleaning, DriverSchema, Joins, Split, Stamping}

/** The reference pipeline end-to-end, Spark-first (SURVEY.md §3):
  * ingest → universal cleaning → archive raw → validate staging →
  * parallel (provider transform, quality transform).
  *
  * Differences from the reference, by design:
  *  - validation BLOCKS (the reference's never did, §3.1.5);
  *  - the provider frame is persisted before its 5-way fan-out (the
  *    reference re-scans staging parquet per output, §3.3);
  *  - independent writes overlap: the raw domains clean concurrently and
  *    the five provider outputs are written concurrently, each on a fresh
  *    thread via [[Runner.fanOut]] (the reference loops over them);
  *  - the stages issue only the jobs that write data: CSV headers and
  *    Parquet footers are read on the driver ([[DriverSchema]]) instead
  *    of by Spark's schema-inference jobs, and the empty-domain test is
  *    a row count observed on the staging write, not a separate probe;
  *  - a delivered release without rows leaves no staging output, where
  *    the reference's `continue` kept an earlier run's;
  *  - per-domain cleaning failures quarantine to the error zone and the
  *    run continues (C2 semantics preserved).
  */
final class NursingHomePipeline(spark: SparkSession, lake: Lake,
                                idStrategy: Stamping.IdStrategy = Stamping.Monotonic,
                                clock: Option[LocalDate] = None) {

  private def readCsv(path: String, schema: StructType): DataFrame =
    spark.read.option("header", true).schema(schema).csv(path)

  private def staged(domain: String): DataFrame =
    DriverSchema.parquet(spark, lake.stagingDomain(domain))

  /** Stage 2 (`nh-etl-universal-cleaning.py:70-102`): for each raw
    * domain, concurrently: CSV all-string read → normalize names →
    * rename map → trim → stamp → staging parquet. Empty domains skipped;
    * failures routed to the error zone.
    */
  def universalCleaning(): Seq[(String, String)] =
    Runner.fanOut(Catalog.domains(lake.raw))(cleanDomain)

  /** One domain of stage 2: a single job, the staging write. Its row
    * count is observed on the write; a release without rows has its
    * output removed. A domain with nothing delivered (no file, or only
    * blank ones, as after a manifest-skipped re-delivery) is not touched,
    * so an earlier run's output stays. Both are reported `skipped-empty`.
    */
  private def cleanDomain(domain: String): (String, String) = {
    val path = lake.rawDomain(domain)
    val out = new Path(lake.stagingDomain(domain))
    try DriverSchema.csvHeader(spark, path) match {
      case None => domain -> "skipped-empty"
      case Some(schema) =>
        val rows = Observation()
        Stamping.stamp(Cleaning.universalClean(readCsv(path, schema)),
          idStrategy, clock)
          .observe(rows, count(lit(1)).as("rows"))
          .write.mode("overwrite").parquet(out.toString)
        if (rows.get("rows") != 0L) domain -> "staged"
        else {
          out.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .delete(out, true)
          domain -> "skipped-empty"
        }
    } catch {
      case e: Exception =>
        try DriverSchema.csvHeader(spark, path).foreach(schema =>
          readCsv(path, schema).write.mode("overwrite")
            .parquet(lake.errorDomain(domain)))
        catch { case _: Exception => () }
        domain -> s"error: ${e.getMessage}"
    }
  }

  /** Stage 5a (`nh-etl-provider-transform.py`): vertical split of the
    * wide provider table into 5 dims with 2 broadcast left-joins.
    * The source frame is persisted once for the fan-out; the outputs are
    * written concurrently, each but `facility` stamped first.
    */
  def providerTransform(): Seq[String] = {
    val df = staged("provider_info").persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val surveySummary = Split.guardedDrop(staged("survey_summary"),
        Split.DropCols)
      val penaltiesExt = Split.guardedDrop(staged("penalties"),
        Split.DropCols)
      def stamped(frame: DataFrame) = Stamping.stamp(frame, idStrategy, clock)

      val outputs: Seq[(String, DataFrame)] = Seq(
        // facility: explicit 23-col projection, written as-is (`:36-62`)
        "facility" -> Split.Facility(df),
        "staffing" -> stamped(Split.Staffing(df)),
        "rating" -> stamped(Split.Rating(df)),
        "surveys" -> stamped(Joins.leftEnrich(Split.Surveys(df),
          surveySummary, Split.Pk)),
        "penalties" -> stamped(Joins.leftEnrich(Split.Penalties(df),
          penaltiesExt, Split.Pk)))

      Runner.fanOut(outputs) { case (name, frame) =>
        frame.write.mode("overwrite").parquet(lake.transformDomain(name))
        name
      }
    } finally df.unpersist()
  }

  /** Stage 5b (`nh-etl-quality-transform.py:27-67`): quality-measures
    * projection with guarded drop, stamped, written; failures quarantine
    * the staged frame to the error zone.
    */
  def qualityTransform(): String = {
    val domain = "qualitymsr_mds"
    val df = staged(domain)
    try {
      val projected = Split.Quality(
        Split.guardedDrop(df,
          Seq("facility_name", "provider_address", "city_town", "zip_code")))
      Stamping.stamp(projected, idStrategy, clock)
        .write.mode("overwrite").parquet(lake.transformDomain(domain))
      domain
    } catch {
      case e: Exception =>
        df.write.mode("overwrite").parquet(lake.errorDomain(domain))
        throw e
    }
  }

  /** The full DAG (§3.1), stage-for-stage with the Step Function. */
  def run(inboxDir: String, manifestPath: String,
          requiredDomains: Seq[String] = Seq("provider_info",
            "qualitymsr_mds", "survey_summary", "penalties")): Runner.RunResult =
    Runner.run(Seq(
      Runner.Single(Runner.Stage("sync_inbox", () => {
        val r = Ingest.run(inboxDir, lake, manifestPath)
        s"synced=${r.synced.size} skipped=${r.skipped.size}"
      })),
      Runner.Single(Runner.Stage("universal_cleaning", () =>
        universalCleaning().map { case (d, s) => s"$d:$s" }.mkString(","))),
      Runner.Single(Runner.Stage("move_source_files", () =>
        Ingest.archiveRaw(lake, requiredDomains.toSet).toSeq.sorted
          .map { case (d, t) => s"$d->$t" }.mkString(","))),
      Runner.Single(Runner.Stage("validate_staging", () => {
        val v = Catalog.validate(lake.staging, requiredDomains)
        if (!v.ok) throw new IllegalStateException(v.message)
        v.message
      })),
      Runner.Par(Seq(
        Runner.Stage("provider_transform", () =>
          providerTransform().sorted.mkString(",")),
        Runner.Stage("quality_transform", () => qualityTransform())))))
}
