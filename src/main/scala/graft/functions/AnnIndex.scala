package graft.functions

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.VersionedTable

/** Persistent ANN index artifacts (VERDICT r13 #7).
  *
  * At 100 TB an IVF coarse quantizer or a PQ codebook is a DATASET,
  * not a per-query byproduct: training reads a corpus sample once,
  * and every query thereafter should serve from the committed
  * artifact. This module stores both artifact kinds through
  * [[graft.ops.VersionedTable]], which gives them the same guarantees
  * as any other lake table — atomic publish via the `_COMMITTED`
  * marker (readers never see a torn index), versioned history (an
  * index rebuild is a new version, rollback is instant), and
  * `vacuum`-bounded storage.
  *
  * Layout: one tiny parquet snapshot per version.
  *   - IVF centroids:  (cell INT, centroid ARRAY<FLOAT>), one row per
  *     coarse cell, cells contiguous 0..k-1.
  *   - PQ codebooks:   (m INT, code INT, centroid ARRAY<FLOAT>), one
  *     row per (subspace, code), both contiguous from 0.
  *
  * Both artifacts are bounded by construction (k ≤ 4096 cells; M·K
  * codebook entries, e.g. 16·32), so the load-side collect is a
  * driver-sized metadata read — the same class as a broadcast dim.
  *
  * Round-trip exactness: centroids are float32 end-to-end (training
  * emits float-cast means, parquet stores IEEE floats bit-exactly),
  * so an index committed and re-loaded serves BIT-IDENTICAL results
  * to the in-session artifact — pinned by `AnnIndexSpec` and by the
  * `sim_ivf_persisted` / `sim_pq_persisted` gate queries, whose
  * oracles are the in-session training recipes.
  */
object AnnIndex {

  private val centroidSchema = StructType(Seq(
    StructField("cell", IntegerType, nullable = false),
    StructField("centroid", ArrayType(FloatType, containsNull = false),
      nullable = false)))

  private val codebookSchema = StructType(Seq(
    StructField("m", IntegerType, nullable = false),
    StructField("code", IntegerType, nullable = false),
    StructField("centroid", ArrayType(FloatType, containsNull = false),
      nullable = false)))

  /** Commit IVF centroids as the next index version; returns it. */
  def commitCentroids(spark: SparkSession, cents: Seq[Array[Float]],
                      root: String,
                      nowMillis: () => Long = System.currentTimeMillis)
      : Long = {
    require(cents.nonEmpty, "cannot commit an empty centroid index")
    val rows = cents.zipWithIndex.map { case (c, i) => Row(i, c.toSeq) }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), centroidSchema)
    VersionedTable.commit(df, root, nowMillis)
  }

  /** Load the centroid index (latest committed version by default).
    * Validates contiguity: cells must be exactly 0..k-1, each once —
    * a hole or duplicate means a foreign table was pointed at, and
    * serving from it would silently misroute every query.
    */
  def loadCentroids(spark: SparkSession, root: String,
                    version: Option[Long] = None): Seq[Array[Float]] = {
    val rows = VersionedTable.read(spark, root, version)
      .select(col("cell").cast("int"), col("centroid").cast("array<float>"))
      .collect()
    val byCell = rows.map(r => r.getInt(0) -> r.getSeq[Float](1).toArray)
    val cells = byCell.map(_._1).sorted
    require(cells.sameElements(Array.range(0, rows.length)),
      s"centroid index at $root is not contiguous 0..${rows.length - 1}: " +
        s"got cells ${cells.take(8).mkString(",")}…")
    byCell.sortBy(_._1).map(_._2).toSeq
  }

  /** Commit PQ codebooks as the next index version; returns it. */
  def commitCodebooks(spark: SparkSession,
                      books: ProductQuantization.Codebooks, root: String,
                      nowMillis: () => Long = System.currentTimeMillis)
      : Long = {
    require(books.nonEmpty && books.forall(_.nonEmpty),
      "cannot commit an empty codebook index")
    val k = books.head.length
    require(books.forall(_.length == k),
      s"ragged codebooks: every subspace must have $k codes")
    val rows = for {
      (cb, mi) <- books.zipWithIndex
      (c, code) <- cb.zipWithIndex
    } yield Row(mi, code, c.toSeq)
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), codebookSchema)
    VersionedTable.commit(df, root, nowMillis)
  }

  /** Load the codebook index (latest committed version by default).
    * Validates the (m, code) grid is dense: M subspaces × K codes,
    * each exactly once.
    */
  def loadCodebooks(spark: SparkSession, root: String,
                    version: Option[Long] = None)
      : ProductQuantization.Codebooks = {
    val rows = VersionedTable.read(spark, root, version)
      .select(col("m").cast("int"), col("code").cast("int"),
        col("centroid").cast("array<float>"))
      .collect()
    require(rows.nonEmpty, s"codebook index at $root is empty")
    val m = rows.map(_.getInt(0)).max + 1
    val k = rows.map(_.getInt(1)).max + 1
    require(rows.length == m * k,
      s"codebook index at $root is not a dense ${m}x$k grid " +
        s"(${rows.length} rows)")
    val grid = Array.ofDim[Array[Float]](m, k)
    rows.foreach { r =>
      require(grid(r.getInt(0))(r.getInt(1)) == null,
        s"duplicate codebook entry (${r.getInt(0)},${r.getInt(1)}) at $root")
      grid(r.getInt(0))(r.getInt(1)) = r.getSeq[Float](2).toArray
    }
    grid.map(_.toIndexedSeq).toSeq
  }

  /** Serve-or-build: load the latest committed centroid index, or —
    * when none exists yet — train one with `train` and commit it
    * before serving. The amortization contract at scale: the first
    * caller pays the (sample-bounded) training cost once; every later
    * session loads the committed artifact and pays only a k-row
    * metadata read. Concurrent first callers are safe — VersionedTable
    * claims serialize the commits and each caller serves from its own
    * trained copy (identical when training is deterministic).
    */
  def centroidsOrTrain(spark: SparkSession, root: String)
                      (train: => Seq[Array[Float]]): Seq[Array[Float]] =
    VersionedTable.latestVersion(spark, root) match {
      case Some(v) => loadCentroids(spark, root, Some(v))
      case None =>
        val cents = train
        commitCentroids(spark, cents, root)
        cents
    }

  /** Serve-or-build for PQ codebooks; same contract as
    * [[centroidsOrTrain]].
    */
  def codebooksOrTrain(spark: SparkSession, root: String)
                      (train: => ProductQuantization.Codebooks)
      : ProductQuantization.Codebooks =
    VersionedTable.latestVersion(spark, root) match {
      case Some(v) => loadCodebooks(spark, root, Some(v))
      case None =>
        val books = train
        commitCodebooks(spark, books, root)
        books
    }
}
