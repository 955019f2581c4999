package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Crash-safe dimension persistence for the SCD merges (SURVEY.md §7.4.5).
  *
  * [[Merge.scd1]]/[[Merge.scd2]] are pure transforms; a user doing
  * read-modify-overwrite against the SAME path they read from would
  * otherwise clobber their input halfway through a failed write (Spark's
  * `mode("overwrite")` deletes the target before writing). The committing
  * writer closes that hole:
  *
  *  1. the result is FULLY materialized to a hidden sibling temp dir —
  *     any failure here (executor loss, bad data, OOM) leaves the target
  *     byte-identical and readable, and the temp is cleaned up;
  *  2. only then is the target swapped out via two directory renames
  *     (atomic on HDFS/POSIX; the vulnerable window is two metadata ops,
  *     not the minutes-long data write);
  *  3. a crash inside the swap window is repaired by [[recover]], which
  *     restores the displaced original.
  *
  * Temp/trash names start with `.` so Spark's file listing ignores them
  * if the dimension lives inside a scanned directory tree. On an object
  * store without atomic rename the right tool is a table format
  * (Delta/Iceberg); this writer is the no-dependency HDFS/local answer.
  */
object CommitWriter {

  private def fs(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def sibling(target: Path, tag: String, id: String): Path =
    new Path(target.getParent, s".${target.getName}.$tag-$id")

  /** Overwrite `path` with `df` such that a failure at ANY point before
    * the final rename leaves the previous contents intact and readable.
    * The frame may itself read from `path` (read-modify-overwrite): it is
    * materialized to the temp dir before the target is touched.
    */
  def overwriteAtomic(df: DataFrame, path: String): Unit = {
    val spark = df.sparkSession
    val target = new Path(path)
    val filesystem = fs(spark, target)
    val id = java.util.UUID.randomUUID().toString.take(8)
    val tmp = sibling(target, "tmp", id)
    val trash = sibling(target, "old", id)

    try df.write.mode("overwrite").parquet(tmp.toString)
    catch {
      case e: Throwable =>
        filesystem.delete(tmp, true)
        throw e
    }

    val existed = filesystem.exists(target)
    if (existed && !filesystem.rename(target, trash)) {
      filesystem.delete(tmp, true)
      throw new java.io.IOException(s"commit failed: cannot displace $target")
    }
    if (!filesystem.rename(tmp, target)) {
      if (existed) filesystem.rename(trash, target) // roll back
      filesystem.delete(tmp, true)
      throw new java.io.IOException(s"commit failed: cannot publish $target")
    }
    if (existed) filesystem.delete(trash, true)
  }

  /** Repair after a crash inside the swap window: if the target is
    * missing but a displaced `.name.old-*` sibling exists, restore the
    * newest one; stray temp dirs are removed. Returns true if a restore
    * happened. Safe to call unconditionally at job start.
    */
  def recover(spark: SparkSession, path: String): Boolean = {
    val target = new Path(path)
    val filesystem = fs(spark, target)
    val parent = target.getParent
    if (!filesystem.exists(parent)) return false
    val leftovers = filesystem.listStatus(parent).toSeq
      .filter(_.getPath.getName.startsWith(s".${target.getName}."))
    val (trashes, tmps) = leftovers.partition(
      _.getPath.getName.contains(".old-"))
    tmps.foreach(t => filesystem.delete(t.getPath, true))
    if (!filesystem.exists(target) && trashes.nonEmpty) {
      val newest = trashes.maxBy(_.getModificationTime).getPath
      filesystem.rename(newest, target)
      trashes.map(_.getPath).filterNot(_ == newest)
        .foreach(filesystem.delete(_, true))
      true
    } else {
      trashes.foreach(t => filesystem.delete(t.getPath, true))
      false
    }
  }

  /** SCD1 upsert of `updates` into the dimension stored at `path`,
    * committed crash-safely. The target's schema comes from its footer
    * ([[DriverSchema.parquet]]), so reading it starts no job.
    */
  def scd1InPlace(spark: SparkSession, path: String, updates: DataFrame,
                  pk: String): Unit =
    overwriteAtomic(Merge.scd1(DriverSchema.parquet(spark, path), updates, pk),
      path)

  /** SCD2 merge of `updates` into the dimension stored at `path`,
    * committed crash-safely; the target is read as in [[scd1InPlace]].
    */
  def scd2InPlace(spark: SparkSession, path: String, updates: DataFrame,
                  pk: String, attrCols: Seq[String],
                  loadDate: java.sql.Date): Unit =
    overwriteAtomic(
      Merge.scd2(DriverSchema.parquet(spark, path), updates, pk, attrCols, loadDate),
      path)
}
