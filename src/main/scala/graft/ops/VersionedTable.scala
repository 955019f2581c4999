package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Multi-version table layout with time travel — the no-dependency
  * HDFS/local answer to "read the table as it was before tonight's
  * load" (the lakehouse feature the reference approximates by keeping
  * raw/staging/transform zone copies; ref README.md:158-220 rebuilds
  * dims destructively and loses history).
  *
  * Layout under `root/`:
  * {{{
  *   v=1/  v=2/  ...      full parquet snapshots
  *   v=N/_commit_ts       commit wall-clock millis (time travel key)
  *   v=N/_COMMITTED       marker, written LAST — the commit point
  *   _LATEST              pointer cache (best-effort, never trusted)
  * }}}
  *
  * Crash safety without a transaction log: a writer that dies mid-write
  * leaves `v=N` WITHOUT the `_COMMITTED` marker; readers resolve the
  * latest version as max(n with marker), so a torn snapshot is
  * invisible. The next `commit` allocates past the orphan and `vacuum`
  * deletes it.
  *
  * Concurrent writers (optimistic concurrency): version numbers are
  * allocated by EXCLUSIVE creation of a root-level `_claim=N` file
  * (atomic namenode op on HDFS; O_EXCL-window on local FS) — two
  * committers racing for N see exactly one win the claim, the loser
  * retries at N+1, and BOTH snapshots land durably under distinct
  * versions (serialized by claim order; last committer wins the
  * `_LATEST` cache, which readers never trust anyway). Without the
  * claim step two writers could both pass the non-atomic
  * `errorifexists` pre-check and interleave part-files into the same
  * `v=N` — a torn snapshot WITH a commit marker. A claim whose writer
  * died is a harmless numbering hole; `vacuum` sweeps stale claims
  * below the latest committed version. Cross-table transactions still
  * need a real log format (Delta/Iceberg).
  *
  * 100 TB shape: each version is written once and never rewritten —
  * commit cost is the data write plus two tiny metadata files; version
  * resolution lists ONE directory level; `read` targets exactly one
  * `v=N` subtree so nothing scans history; `vacuum(keepLast)` bounds
  * total storage to keepLast snapshots. For tables where full snapshots
  * are too large, the SCD2 merge ([[Merge.scd2]]) is the row-level
  * history alternative; this layout is for dims/marts where snapshot
  * isolation and instant rollback matter more than write amplification.
  */
object VersionedTable {

  private def fs(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def vdir(root: String, n: Long) = new Path(root, s"v=$n")

  private def writeSmall(spark: SparkSession, p: Path, s: String): Unit = {
    val filesystem = fs(spark, p)
    val out = filesystem.create(p, true)
    try out.write(s.getBytes("UTF-8")) finally out.close()
  }

  private def readSmall(spark: SparkSession, p: Path): Option[String] = {
    val filesystem = fs(spark, p)
    if (!filesystem.exists(p)) None
    else {
      val in = filesystem.open(p)
      try {
        val bytes = new Array[Byte](64)
        val n = in.read(bytes)
        Some(new String(bytes, 0, math.max(n, 0), "UTF-8").trim)
      } finally in.close()
    }
  }

  /** All version numbers present on disk (committed or torn). */
  private def allDirs(spark: SparkSession, root: String): Seq[Long] = {
    val rootPath = new Path(root)
    val filesystem = fs(spark, rootPath)
    if (!filesystem.exists(rootPath)) Seq.empty
    else filesystem.listStatus(rootPath).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case s if s.startsWith("v=") => s.drop(2).toLong }
      .sorted
  }

  /** Version numbers currently held by a claim file (committed-or-not). */
  private def claimedDirs(spark: SparkSession, root: String): Seq[Long] = {
    val rootPath = new Path(root)
    val filesystem = fs(spark, rootPath)
    if (!filesystem.exists(rootPath)) Seq.empty
    else filesystem.listStatus(rootPath).toSeq
      .filter(_.isFile)
      .map(_.getPath.getName)
      .collect { case s if s.startsWith("_claim=") => s.drop(7).toLong }
  }

  /** Atomically claim the next free version number: exclusive create of
    * `root/_claim=N` (overwrite=false). Exactly one of any set of
    * racing writers wins a given N; losers observe the claim on the
    * next listing and move past it. Returns the claimed number.
    */
  private def claimNext(spark: SparkSession, root: String): Long = {
    val rootPath = new Path(root)
    val filesystem = fs(spark, rootPath)
    if (!filesystem.exists(rootPath)) filesystem.mkdirs(rootPath)
    var attempts = 0
    while (attempts < 64) {
      val used = allDirs(spark, root) ++ claimedDirs(spark, root)
      val n = if (used.isEmpty) 1L else used.max + 1
      val claimPath = new Path(rootPath, s"_claim=$n")
      try {
        if (filesystem.getScheme == "file") {
          // RawLocalFileSystem.create(overwrite=false) is a non-atomic
          // exists-then-create — two local writers can both "win" the
          // same N. java.nio.Files.createFile is true O_EXCL (throws
          // FileAlreadyExistsException, an IOException, to the loser).
          java.nio.file.Files.createFile(java.nio.file.Paths.get(
            filesystem.makeQualified(claimPath).toUri.getPath))
        } else {
          // HDFS/object-store create(overwrite=false) is atomic at the
          // namenode; keep the FileSystem path for those schemes.
          filesystem.create(claimPath, false).close()
        }
        return n
      } catch {
        case _: java.io.IOException => attempts += 1 // lost the race; retry
      }
    }
    throw new IllegalStateException(
      s"could not claim a version under $root after 64 attempts " +
        "(pathological contention)")
  }

  private def releaseClaim(spark: SparkSession, root: String,
                           n: Long): Unit =
    fs(spark, new Path(root)).delete(new Path(root, s"_claim=$n"), false)

  private def isCommitted(spark: SparkSession, root: String,
                          n: Long): Boolean =
    fs(spark, new Path(root)).exists(new Path(vdir(root, n), "_COMMITTED"))

  /** Committed versions, ascending. */
  def versions(spark: SparkSession, root: String): Seq[Long] =
    allDirs(spark, root).filter(isCommitted(spark, root, _))

  /** Commit `df` as the next version; returns the version number.
    * `nowMillis` is injectable for deterministic tests.
    */
  def commit(df: DataFrame, root: String,
             nowMillis: () => Long = System.currentTimeMillis): Long = {
    val spark = df.sparkSession
    val n = claimNext(spark, root)
    val dir = vdir(root, n)
    df.write.mode("errorifexists").parquet(dir.toString)
    writeSmall(spark, new Path(dir, "_commit_ts"), nowMillis().toString)
    requireClaimLive(spark, root, n)
    writeSmall(spark, new Path(dir, "_COMMITTED"), "")
    writeSmall(spark, new Path(root, "_LATEST"), n.toString) // cache only
    releaseClaim(spark, root, n) // v=N itself holds the number now
    n
  }

  /** Guard against a commit that outlived vacuum's `claimTtlMillis`:
    * once vacuum sweeps our claim it may also delete part-files from
    * the uncommitted `v=N` dir, and writing `_COMMITTED` after that
    * would publish a TORN version — marked committed, missing data,
    * which is strictly worse than lost work. Checked immediately
    * before the marker write; a swept claim aborts the commit loudly.
    * (A vacuum landing in the instant between this check and the
    * marker write can still produce the torn state — the check
    * shrinks the 24 h exposure window to microseconds, it cannot
    * close it without a lock the lake layout doesn't have. Writers
    * expected to run past the TTL must raise it.)
    */
  private def requireClaimLive(spark: SparkSession, root: String,
                               n: Long): Unit = {
    if (!fs(spark, new Path(root)).exists(new Path(root, s"_claim=$n")))
      throw new IllegalStateException(
        s"claim for version $n of $root vanished before _COMMITTED " +
          "was written — this commit outlived the vacuum claim TTL " +
          "and the version dir may be partially swept; aborting " +
          "rather than publishing a torn committed version")
  }

  /** Latest committed version, if any. Trusts the `_LATEST` cache only
    * when it points at a committed dir; otherwise falls back to the
    * listing (torn pointer writes or stale caches can't break reads).
    */
  def latestVersion(spark: SparkSession, root: String): Option[Long] = {
    val cached = readSmall(spark, new Path(root, "_LATEST"))
      .flatMap(s => scala.util.Try(s.toLong).toOption)
      .filter(isCommitted(spark, root, _))
    cached.orElse(versions(spark, root).lastOption)
  }

  /** Read a specific version, or the latest committed one. */
  def read(spark: SparkSession, root: String,
           version: Option[Long] = None): DataFrame = {
    val n = version.getOrElse(latestVersion(spark, root).getOrElse(
      throw new java.io.FileNotFoundException(
        s"no committed version under $root")))
    require(isCommitted(spark, root, n),
      s"version $n at $root does not exist or is not committed")
    spark.read.parquet(vdir(root, n).toString)
  }

  /** Time travel: the newest version committed at or before
    * `tsMillis`. None if the table didn't exist yet.
    */
  def versionAsOf(spark: SparkSession, root: String,
                  tsMillis: Long): Option[Long] =
    versions(spark, root).filter { n =>
      readSmall(spark, new Path(vdir(root, n), "_commit_ts"))
        .exists(_.toLong <= tsMillis)
    }.lastOption

  def readAsOf(spark: SparkSession, root: String, tsMillis: Long): DataFrame =
    read(spark, root, Some(versionAsOf(spark, root, tsMillis).getOrElse(
      throw new java.io.FileNotFoundException(
        s"no version of $root existed at $tsMillis"))))

  /** mtime of `_claim=n`, or None if the claim no longer exists. A
    * racing commit's releaseClaim can delete a claim between vacuum's
    * listing and this stat; a vanished claim is NOT live — it can only
    * disappear because its commit completed (at some n claimNext
    * allocated ABOVE every version visible to this vacuum, so its dir
    * is never doomed here) or because another vacuum already swept it.
    * Either way treating it as gone is safe; throwing mid-vacuum is
    * not (ADVICE r8). Only a FILE-NOT-FOUND maps to None, though: a
    * transient IO/permission error says nothing about liveness, and
    * classifying it as "dead" would let vacuum sweep an in-flight
    * writer's dir — those rethrow so the vacuum aborts instead
    * (ADVICE r9).
    */
  private[ops] def claimMtime(filesystem: org.apache.hadoop.fs.FileSystem,
                              root: String, n: Long): Option[Long] =
    try {
      Some(filesystem.getFileStatus(new Path(root, s"_claim=$n"))
        .getModificationTime)
    } catch {
      case _: java.io.FileNotFoundException => None
    }

  /** Delete everything except the newest `keepLast` committed versions;
    * torn (uncommitted) dirs below the latest committed version are
    * removed once their claim is stale, as are stale claim files.
    * Returns the deleted version numbers.
    *
    * A claim below the committed frontier is NOT proof its writer is
    * dead — a slow writer legitimately holds `_claim=N` whenever a
    * faster one commits N+1 first. So vacuum only sweeps a claim (and
    * any uncommitted `v=N` dir it protects) when the claim file's
    * mtime is older than `claimTtlMillis` (default 24 h — far beyond
    * any real commit duration); an uncommitted dir with NO live claim
    * is torn debris and is removed immediately. This makes vacuum safe
    * to run concurrently with commits, not just "while none in flight".
    *
    * TTL failure mode, stated plainly: a writer that legitimately runs
    * LONGER than `claimTtlMillis` has its live claim and its partially
    * written `v=N` dir swept — and without a guard its late
    * `_COMMITTED` write would then publish a committed version with
    * missing part-files (corruption, not just lost work). Both commit
    * paths therefore re-verify the claim file still exists immediately
    * before writing `_COMMITTED` and abort loudly if it vanished; see
    * `requireClaimLive` for the residual microsecond window. Size the
    * TTL above any plausible commit duration.
    * `nowMillis` is injectable for deterministic tests.
    */
  def vacuum(spark: SparkSession, root: String, keepLast: Int,
             claimTtlMillis: Long = 24L * 3600 * 1000,
             nowMillis: () => Long = System.currentTimeMillis): Seq[Long] = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val committed = versions(spark, root)
    val keep = committed.takeRight(keepLast).toSet
    val latest = committed.lastOption.getOrElse(return Seq.empty)
    val rootPath = new Path(root)
    val filesystem = fs(spark, rootPath)
    val cutoff = nowMillis() - claimTtlMillis
    // A racing commit's releaseClaim can delete a claim between the
    // listing above and the stat below. A vanished claim is NOT live:
    // it can only disappear because its commit completed (at some
    // n > this vacuum's `latest` snapshot — claimNext always claims
    // above every visible version, so its dir is never doomed here)
    // or because another vacuum already swept it. Either way skipping
    // it is safe; throwing mid-vacuum is not.
    val liveClaims = claimedDirs(spark, root)
      .filter(n => claimMtime(filesystem, root, n).exists(_ >= cutoff))
      .toSet
    val doomed = allDirs(spark, root)
      .filter(n => n < latest && !keep(n) &&
        (isCommitted(spark, root, n) || !liveClaims(n)))
    doomed.foreach(n => filesystem.delete(vdir(root, n), true))
    // stale claims from dead writers can never complete — sweep them so
    // the namespace stays tidy; fresh ones belong to in-flight commits
    claimedDirs(spark, root).filter(n => n < latest && !liveClaims(n))
      .foreach(releaseClaim(spark, root, _))
    doomed
  }
}
