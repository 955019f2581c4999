package graft.pipeline

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.time.Instant
import scala.annotation.tailrec
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

/** File-ingest source stage (SURVEY.md §2.1 S5/S6, §2.5 F5, §2.3 J3,
  * §2.7 C4/C8): enumerate an inbox, route each file by normalized
  * filename, skip files already in the manifest ledger, copy with
  * retry, append ledger entries.
  *
  * Mirrors `script/sync-drive-to-s3.py`: the network Drive source is out
  * of engine scope; the inbox directory plays its role. Routing
  * reproduces `determine_s3_path` (`:40-45`): strip `NH_` and `_`,
  * lowercase, first mapping key contained in the normalized name wins,
  * `_DEFAULT` otherwise. Manifest reproduces `metadata/processed_files
  * .json` (`:16,24-38`): file-level exactly-once ingestion.
  */
object Ingest {

  /** Routing table, reference `script/config.json:7-13` semantics: the
    * first pattern contained in the normalized name wins, `other`
    * otherwise.
    */
  private val Routes: Seq[(String, String)] = Seq(
    "ProviderInfo" -> "provider_info",
    "Penalties" -> "penalties",
    "SurveySummary" -> "survey_summary",
    "QualityMDS" -> "qualitymsr_mds")

  /** F5: filename → domain. */
  def route(fileName: String): String = {
    val normalized =
      fileName.replace("NH_", "").replace("_", "").toLowerCase
    Routes
      .collectFirst { case (pat, dom) if normalized.contains(pat.toLowerCase) => dom }
      .getOrElse("other")
  }

  /** Manifest ledger entry (`sync-drive-to-s3.py:126-131`). */
  final case class ManifestEntry(fileId: String, fileName: String,
                                 destKey: String, syncedAt: String)

  /** Minimal JSON codec for the ledger (no external deps). */
  object Manifest {
    def load(path: String): Seq[ManifestEntry] = {
      val p = Paths.get(path)
      if (!Files.exists(p)) return Seq.empty
      val txt = Files.readString(p)
      // entries were written by save(): one object per line block. Field
      // pattern admits escaped characters so quote/backslash filenames
      // round-trip (a bare [^"]* would split on the escaped quote and
      // cause re-ingestion of an already-synced file).
      val f = """"((?:[^"\\]|\\.)*)""""
      val entry =
        (s"""\\{\\s*"file_id":\\s*$f,\\s*"file_name":\\s*$f,\\s*"dest_key":\\s*$f,\\s*"synced_at":\\s*$f\\s*\\}""").r
      entry.findAllMatchIn(txt).map(m =>
        ManifestEntry(unesc(m.group(1)), unesc(m.group(2)),
          unesc(m.group(3)), unesc(m.group(4)))).toSeq
    }

    /** Inverse of save()'s esc(). */
    private def unesc(s: String): String = {
      val sb = new StringBuilder
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == '\\' && i + 1 < s.length) {
          s.charAt(i + 1) match {
            case 'u' if i + 6 <= s.length &&
                s.substring(i + 2, i + 6)
                  .forall(ch => Character.digit(ch, 16) >= 0) =>
              // malformed \uXXXX (bad hex) falls through to the generic
              // branch and emits the raw chars — matches load()'s
              // lenient-skip posture instead of crashing the whole load
              sb.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar)
              i += 6
            case other => sb.append(other); i += 2
          }
        } else { sb.append(c); i += 1 }
      }
      sb.toString
    }

    def save(path: String, entries: Seq[ManifestEntry]): Unit = {
      def esc(s: String) = s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      }
      val body = entries.map { e =>
        s"""  {"file_id": "${esc(e.fileId)}", "file_name": "${esc(e.fileName)}", "dest_key": "${esc(e.destKey)}", "synced_at": "${esc(e.syncedAt)}"}"""
      }.mkString("[\n", ",\n", "\n]")
      Files.createDirectories(Paths.get(path).getParent)
      Files.writeString(Paths.get(path), body)
    }
  }

  /** C4: bounded retry (`sync-drive-to-s3.py:50-57`): 3 tries, 100 ms
    * apart (the reference waits 5 s between Drive downloads; a local
    * copy needs no such back-off).
    */
  @tailrec
  private def retry[T](op: () => T, tries: Int = 3): T =
    Try(op()) match {
      case Success(v) => v
      case Failure(_) if tries > 1 =>
        Thread.sleep(100)
        retry(op, tries - 1)
      case Failure(e) => throw new RuntimeException("Max retries exceeded", e)
    }

  /** S5 convert step — the Sheets-export analogue
    * (`sync-drive-to-s3.py:59-66,97-121`: Google-Sheets files are not
    * copied byte-for-byte but EXPORTED as CSV before landing in S3).
    * Here the non-CSV tabular format in scope is `.tsv`: each inbox
    * `*.tsv` is rewritten as RFC-4180 CSV (fields containing comma,
    * quote, or newline are quoted; quotes doubled) under the same base
    * name with a `.csv` extension, and the original is removed — so
    * routing and the manifest only ever see the converted artifact,
    * exactly like the reference only ever sees the exported CSV.
    * Returns (from, to) name pairs.
    */
  def convertInbox(inboxDir: String): Seq[(String, String)] = {
    val inbox = Paths.get(inboxDir)
    if (!Files.isDirectory(inbox)) return Seq.empty
    def csvField(f: String): String =
      if (f.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
        "\"" + f.replace("\"", "\"\"") + "\""
      else f
    Files.list(inbox).iterator().asScala
      .filter(f => Files.isRegularFile(f) &&
        f.getFileName.toString.toLowerCase.endsWith(".tsv"))
      .toSeq.sortBy(_.getFileName.toString)
      .flatMap { f =>
        val name = f.getFileName.toString
        val csvName = name.dropRight(4) + ".csv"
        Try {
          val converted = Files.readAllLines(f).asScala
            .map(_.split("\t", -1).map(csvField).mkString(","))
            .mkString("\n")
          Files.writeString(inbox.resolve(csvName), converted)
          Files.delete(f)
          name -> csvName
        } match {
          case Success(pair) => Some(pair)
          case Failure(e) =>
            // a malformed (non-UTF-8/binary) .tsv must not block the rest
            // of the inbox — leave it in place, matching the pipeline's
            // lenient per-item posture; it will route as-is (→ error zone)
            System.err.println(s"[ingest] convert skipped $name: ${e.getMessage}")
            None
        }
      }
  }

  /** JSONL corpus source — the LLM-training staple format — with the
    * reference's error-sink posture (S4/C2) applied per LINE: a
    * malformed record neither kills the read nor silently vanishes; it
    * lands in the returned `bad` frame with its raw text, for error-zone
    * routing.
    *
    * One pass over the input writes a typed staging parquet (good rows +
    * `_corrupt_record`), then both returned frames read from the stage.
    * That is the 100 TB shape: no `cache()` of the raw json (Spark's
    * alternative for querying `_corrupt_record`), the expensive
    * JSON parse happens once, and the stage is a restart point.
    * Schema is enforced (PERMISSIVE): missing fields null, type
    * mismatches corrupt the line.
    */
  def readJsonl(spark: org.apache.spark.sql.SparkSession, path: String,
                schema: org.apache.spark.sql.types.StructType,
                stageDir: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{StringType, StructField}
    require(!schema.fieldNames.contains("_corrupt_record"),
      "schema must not predeclare _corrupt_record")
    val withCorrupt = org.apache.spark.sql.types
      .StructType(schema.fields :+ StructField("_corrupt_record", StringType))
    spark.read
      .schema(withCorrupt)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)
      .write.mode("overwrite").parquet(stageDir)
    val staged = spark.read.parquet(stageDir)
    (staged.filter(col("_corrupt_record").isNull).drop("_corrupt_record"),
      staged.filter(col("_corrupt_record").isNotNull)
        .select(col("_corrupt_record").as("raw_line")))
  }

  final case class IngestReport(synced: Seq[ManifestEntry],
                                skipped: Seq[String])

  /** The full ingest stage: inbox → raw zone. File identity = name +
    * size + mtime (the local stand-in for the Drive file id).
    */
  def run(inboxDir: String, lake: Lake, manifestPath: String): IngestReport = {
    // Sheets-export analogue first: routing/manifest must only ever see
    // the converted CSV artifact (no-op when nothing needs converting)
    convertInbox(inboxDir)
    val manifest = Manifest.load(manifestPath)
    val known = manifest.map(_.fileId).toSet
    val inbox = Paths.get(inboxDir)
    val files =
      if (!Files.isDirectory(inbox)) Seq.empty[Path]
      else Files.list(inbox).iterator().asScala
        .filter(Files.isRegularFile(_)).toSeq.sortBy(_.getFileName.toString)

    val (newFiles, skipped) = files.partition { f =>
      val id = fileId(f)
      !known.contains(id)
    }

    val synced = newFiles.map { f =>
      val name = f.getFileName.toString
      val domain = route(name)
      val destKey = s"${lake.rawDomain(domain)}/$name"
      retry { () =>
        Files.createDirectories(Paths.get(lake.rawDomain(domain)))
        Files.copy(f, Paths.get(destKey), StandardCopyOption.REPLACE_EXISTING)
      }
      ManifestEntry(fileId(f), name, destKey, Instant.now.toString)
    }

    Manifest.save(manifestPath, manifest ++ synced)
    IngestReport(synced, skipped.map(_.getFileName.toString))
  }

  private def fileId(f: Path): String =
    s"${f.getFileName}:${Files.size(f)}:${Files.getLastModifiedTime(f).toMillis}"

  /** C6: archival move — raw domains to processed/ if allowlisted, else
    * error/ (`move_sources_files.py:16-40`).
    */
  def archiveRaw(lake: Lake, allowlist: Set[String]): Map[String, String] = {
    Catalog.domains(lake.raw).map { domain =>
      val target =
        if (allowlist(domain)) s"${lake.processed}/$domain"
        else s"${lake.error}/raw_$domain"
      val src = Paths.get(lake.rawDomain(domain))
      Files.createDirectories(Paths.get(target))
      Files.list(src).iterator().asScala
        .filter(Files.isRegularFile(_)).foreach { f =>
          Files.move(f, Paths.get(target, f.getFileName.toString),
            StandardCopyOption.REPLACE_EXISTING)
        }
      domain -> target
    }.toMap
  }
}
