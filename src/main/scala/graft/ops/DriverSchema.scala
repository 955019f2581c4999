package graft.ops

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets

import scala.util.Try

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** File-source schemas read on the driver, so a read plans without
  * Spark's schema-inference job.
  *
  * Without a schema, `spark.read.csv` runs a job to fetch the first line
  * and `spark.read.parquet` runs one to read a footer (`SchemaMergeUtils`
  * starts it even for one file). A daily DAG of small writes spends a
  * large share of its jobs on them. Both schemas here come from one file,
  * read on the driver, and equal what Spark infers (`DriverSchemaSpec`).
  */
object DriverSchema {

  /** Footer key under which Spark's Parquet writer stores the written
    * schema as JSON; Spark's inference returns it when present.
    */
  val RowMetadataKey = "org.apache.spark.sql.parquet.row.metadata"

  private def conf(spark: SparkSession) = spark.sparkContext.hadoopConfiguration

  /** The path itself if it is a file, else its entries. */
  private def listing(spark: SparkSession, path: String): Seq[FileStatus] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf(spark))
    val st = fs.getFileStatus(p)
    if (st.isDirectory) fs.listStatus(p).toSeq else Seq(st)
  }

  /** Spark's file listing skips names starting with `_` or `.`. */
  private def visible(f: FileStatus): Boolean = {
    val n = f.getPath.getName
    !n.startsWith("_") && !n.startsWith(".")
  }

  /** The schema `spark.read.parquet(path)` infers, from the
    * [[RowMetadataKey]] footer entry of the first part file (all part
    * files of a Spark write share it, and Spark's inference also reads
    * only one when schema merging is off). None when the key is missing
    * or the path holds partition directories; the caller then lets Spark
    * infer.
    */
  def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val parts = listing(spark, path).filter(visible)
    if (parts.exists(_.isDirectory)) None
    else parts.map(_.getPath).sortBy(_.getName).headOption.flatMap { part =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(part, conf(spark)))
      val json = try Option(reader.getFooter.getFileMetaData
        .getKeyValueMetaData.get(RowMetadataKey))
      finally reader.close()
      json.flatMap(j => Try(DataType.fromJson(j)).toOption).map(nullable)
        .collect { case s: StructType => s }
    }
  }

  /** The writer keeps non-null flags in the footer; a file-source read
    * reports every level nullable, as Spark's `asNullable` does.
    */
  private def nullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType =>
      MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** `spark.read.parquet(path)` with the schema from [[footerSchema]], so
    * planning the read starts no job.
    */
  def parquet(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path) match {
      case Some(s) => spark.read.schema(s).parquet(path)
      case None => spark.read.parquet(path)
    }

  /** The schema `spark.read.option("header", true).csv(path)` infers.
    * Spark takes the first non-blank line of its first input partition,
    * whose files are ordered largest first; the same line is read here
    * (ties by name) and handed to Spark's own header logic as a one-line
    * local Dataset, which plans a `LocalTableScan` and starts no job.
    * None when no file has a non-blank line: the input has no rows.
    */
  def csvHeader(spark: SparkSession, path: String): Option[StructType] = {
    val codecs = new CompressionCodecFactory(conf(spark))
    def firstLine(f: Path): Option[String] = {
      val raw = f.getFileSystem(conf(spark)).open(f)
      val in = Option(codecs.getCodec(f)).fold[java.io.InputStream](raw)(
        _.createInputStream(raw))
      val lines = new BufferedReader(
        new InputStreamReader(in, StandardCharsets.UTF_8))
      // Hadoop's line reader drops a UTF-8 byte-order mark
      try (Option(lines.readLine()).map(_.stripPrefix("\uFEFF")).iterator ++
        Iterator.continually(lines.readLine()).takeWhile(_ != null))
        .find(_.trim.nonEmpty)
      finally lines.close()
    }
    val files = listing(spark, path).filter(f => f.isFile && visible(f))
      .sortBy(f => (-f.getLen, f.getPath.getName))
    files.iterator.flatMap(f => firstLine(f.getPath)).nextOption().map { line =>
      import spark.implicits._
      spark.read.option("header", true).csv(Seq(line).toDS()).schema
    }
  }
}
