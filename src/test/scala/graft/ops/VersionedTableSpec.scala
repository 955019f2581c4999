package graft.ops

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.SparkSpec

class VersionedTableSpec extends SparkSpec {
  import spark.implicits._

  private def tmpRoot(): String =
    Files.createTempDirectory("vtbl").resolve("t").toString

  private def df(v: Int) = (1 to 3).map(i => (i.toLong, v)).toDF("id", "val")

  test("commit / read latest / read pinned / versions") {
    val root = tmpRoot()
    assert(VersionedTable.commit(df(1), root, () => 1000L) == 1L)
    assert(VersionedTable.commit(df(2), root, () => 2000L) == 2L)
    assert(VersionedTable.commit(df(3), root, () => 3000L) == 3L)
    assert(VersionedTable.versions(spark, root) == Seq(1L, 2L, 3L))
    assert(VersionedTable.read(spark, root)
      .agg(max("val")).head().getInt(0) == 3)
    assert(VersionedTable.read(spark, root, Some(1L))
      .agg(max("val")).head().getInt(0) == 1)
  }

  test("two concurrent writers land distinct durable versions (OCC race)") {
    val root = tmpRoot()
    val perWriter = 8
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    import scala.jdk.CollectionConverters._
    val tasks = (1 to 2).map { w =>
      new java.util.concurrent.Callable[Seq[Long]] {
        def call(): Seq[Long] = {
          barrier.await() // both writers start allocating together
          (1 to perWriter).map { i =>
            VersionedTable.commit(df(w * 100 + i), root,
              () => (w * 100 + i).toLong)
          }
        }
      }
    }
    val got = pool.invokeAll(tasks.asJava).asScala.flatMap(_.get()).toSeq
    pool.shutdown()
    // every commit won a distinct version and all are durable
    assert(got.size == 2 * perWriter)
    assert(got.distinct.size == got.size, s"version collision: $got")
    assert(VersionedTable.versions(spark, root).toSet == got.toSet)
    // each snapshot is internally consistent (one writer's rows only)
    got.foreach { n =>
      val vals = VersionedTable.read(spark, root, Some(n))
        .select("val").distinct().collect().map(_.getInt(0)).toSeq
      assert(vals.size == 1, s"v=$n mixes writers: $vals")
    }
    // no leftover claim files once all commits completed
    val claims = new java.io.File(root).listFiles()
      .filter(_.getName.startsWith("_claim="))
    assert(claims.isEmpty, s"stale claims: ${claims.map(_.getName).toSeq}")
  }

  test("time travel resolves the newest version at or before ts") {
    val root = tmpRoot()
    VersionedTable.commit(df(1), root, () => 1000L)
    VersionedTable.commit(df(2), root, () => 2000L)
    assert(VersionedTable.versionAsOf(spark, root, 999L).isEmpty)
    assert(VersionedTable.versionAsOf(spark, root, 1000L).contains(1L))
    assert(VersionedTable.versionAsOf(spark, root, 1500L).contains(1L))
    assert(VersionedTable.readAsOf(spark, root, 5000L)
      .agg(max("val")).head().getInt(0) == 2)
  }

  test("torn commit (no marker) is invisible and vacuumed") {
    val root = tmpRoot()
    VersionedTable.commit(df(1), root, () => 1000L)
    // simulate a writer that died after the data write, before the
    // marker: a v=2 dir with parquet but no _COMMITTED
    df(99).write.parquet(s"$root/v=2")
    assert(VersionedTable.versions(spark, root) == Seq(1L))
    assert(VersionedTable.read(spark, root)
      .agg(max("val")).head().getInt(0) == 1)
    // next commit allocates PAST the orphan — never reuses its number
    assert(VersionedTable.commit(df(3), root, () => 3000L) == 3L)
    assert(VersionedTable.read(spark, root)
      .agg(max("val")).head().getInt(0) == 3)
    // vacuum removes the orphan (and old versions beyond the window)
    assert(VersionedTable.vacuum(spark, root, keepLast = 1) == Seq(1L, 2L))
    assert(VersionedTable.versions(spark, root) == Seq(3L))
    intercept[IllegalArgumentException] {
      VersionedTable.read(spark, root, Some(1L))
    }
  }

  test("stale or missing _LATEST cache never breaks reads") {
    val root = tmpRoot()
    VersionedTable.commit(df(1), root, () => 1000L)
    VersionedTable.commit(df(2), root, () => 2000L)
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(root, "_LATEST"), false)
    assert(VersionedTable.latestVersion(spark, root).contains(2L))
    val out = fs.create(new Path(root, "_LATEST"), true)
    out.write("garbage".getBytes); out.close()
    assert(VersionedTable.latestVersion(spark, root).contains(2L))
    assert(VersionedTable.read(spark, root)
      .agg(max("val")).head().getInt(0) == 2)
  }

  test("vacuum spares a fresh in-flight claim, sweeps a stale one") {
    val root = tmpRoot()
    VersionedTable.commit(df(1), root, () => 1000L)
    VersionedTable.commit(df(2), root, () => 2000L)
    // a slow writer holds _claim=3 but a faster one committed v=4
    // first — the claim (and its partially-written dir) must survive
    // vacuum while fresh (ADVICE r7: sweeping it would destroy an
    // in-flight commit)
    new java.io.File(root, "_claim=3").createNewFile()
    df(93).write.parquet(s"$root/v=3") // data written, marker not yet
    VersionedTable.commit(df(4), root, () => 4000L)
    assert(VersionedTable.versions(spark, root) == Seq(1L, 2L, 4L))
    // fresh claim (mtime = now): v=3 and its claim are protected;
    // committed v=1 still vacuums
    assert(VersionedTable.vacuum(spark, root, keepLast = 2) == Seq(1L))
    assert(new java.io.File(root, "_claim=3").exists())
    assert(new java.io.File(root, "v=3").exists())
    // same claim judged via an injected clock far past the TTL:
    // now it is debris from a dead writer — dir and claim both go
    val sweep = VersionedTable.vacuum(spark, root, keepLast = 2,
      claimTtlMillis = 60000L,
      nowMillis = () => System.currentTimeMillis() + 3600_000L)
    assert(sweep == Seq(3L))
    assert(!new java.io.File(root, "_claim=3").exists())
    assert(!new java.io.File(root, "v=3").exists())
    assert(VersionedTable.versions(spark, root) == Seq(2L, 4L))
  }

  test("a claim that vanishes between vacuum's list and stat is not-live") {
    // the race itself (releaseClaim landing inside vacuum's filter) is
    // a microsecond window; the contract it must satisfy is this one:
    // stat of a gone claim yields None (treated not-live), never throws
    val root = tmpRoot()
    VersionedTable.commit(df(1), root, () => 1000L)
    val filesystem = new Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(VersionedTable.claimMtime(filesystem, root, 99L).isEmpty)
    new java.io.File(root, "_claim=7").createNewFile()
    assert(VersionedTable.claimMtime(filesystem, root, 7L).nonEmpty)
  }

  test("commit outliving the claim TTL aborts instead of publishing torn") {
    val root = tmpRoot()
    VersionedTable.commit(df(1), root, () => 1000L)
    // simulate a vacuum sweeping our claim mid-commit: the injected
    // clock fires after the parquet write and before _COMMITTED, the
    // exact window where a TTL-expired claim gets swept
    val ex = intercept[IllegalStateException] {
      VersionedTable.commit(df(2), root, () => {
        new java.io.File(root, "_claim=2").delete()
        2000L
      })
    }
    assert(ex.getMessage.contains("torn"))
    // the half-written version must stay invisible: no marker, not listed
    assert(!new java.io.File(s"$root/v=2", "_COMMITTED").exists())
    assert(VersionedTable.versions(spark, root) == Seq(1L))
    // and the table is not wedged: the next commit claims past the debris
    assert(VersionedTable.commit(df(3), root, () => 3000L) == 3L)
    assert(VersionedTable.versions(spark, root) == Seq(1L, 3L))
  }

  test("vacuum keeps the newest keepLast committed versions") {
    val root = tmpRoot()
    (1 to 5).foreach(v =>
      VersionedTable.commit(df(v), root, () => v * 1000L))
    assert(VersionedTable.vacuum(spark, root, keepLast = 2) ==
      Seq(1L, 2L, 3L))
    assert(VersionedTable.versions(spark, root) == Seq(4L, 5L))
    // rollback to the older retained snapshot still works
    assert(VersionedTable.read(spark, root, Some(4L))
      .agg(max("val")).head().getInt(0) == 4)
  }
}
