package graft.pipeline

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Zoned lake layout (SURVEY.md §1.1): raw → staging → transform, with
  * processed/ and error/ side zones. A "table" is a directory of files
  * per domain folder, and the catalog IS the directory listing
  * (`nh-etl-universal-cleaning.py:58-63`) — no metastore.
  *
  * Paths are plain strings so any Hadoop-compatible filesystem works at
  * scale; the listing helpers use java.nio for the local case the tests
  * exercise.
  */
final case class Lake(root: String) {
  val raw: String = s"$root/raw"
  val staging: String = s"$root/staging"
  val transform: String = s"$root/transform"
  val processed: String = s"$root/processed"
  val error: String = s"$root/error"

  def rawDomain(domain: String): String = s"$raw/$domain"
  def stagingDomain(domain: String): String = s"$staging/$domain"
  def transformDomain(domain: String): String = s"$transform/$domain"
  def errorDomain(domain: String): String = s"$error/$domain"
}

object Catalog {

  /** S6: domain discovery — immediate subdirectories of a zone path
    * (the reference's `CommonPrefixes` listing).
    */
  def domains(zonePath: String): Seq[String] = {
    val p = Paths.get(zonePath)
    if (!Files.isDirectory(p)) Seq.empty
    else Files.list(p).iterator().asScala
      .filter(Files.isDirectory(_))
      .map(_.getFileName.toString)
      .toSeq.sorted
  }

  /** True if the domain directory contains at least one data file. */
  def nonEmpty(domainPath: String): Boolean = {
    val p = Paths.get(domainPath)
    Files.isDirectory(p) && Files.list(p).iterator().asScala
      .exists(f => Files.isRegularFile(f) &&
        !f.getFileName.toString.startsWith(".") &&
        !f.getFileName.toString.startsWith("_"))
  }

  /** C5: completeness validation (`validate_staging.py:15-47`), but
    * BLOCKING — the reference returns an error payload that nothing
    * checks, so missing domains never stop its pipeline; here a failed
    * validation is a typed failure the runner gates on (intentional
    * behavioral fix, SURVEY.md §7.4.4).
    */
  final case class ValidationResult(ok: Boolean, missing: Seq[String]) {
    def message: String =
      if (ok) "All staging folders populated"
      else s"No files found in: ${missing.mkString(", ")}"
  }

  def validate(zonePath: String, required: Seq[String]): ValidationResult = {
    val missing = required.filterNot(d => nonEmpty(s"$zonePath/$d"))
    ValidationResult(missing.isEmpty, missing)
  }
}
