package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale utilities: skew-salted joins and co-located (bucketed) joins.
  *
  * AQE's skew-join split (`spark.sql.adaptive.skewJoin`, on by default in
  * [[graft.GraftSession]]) handles most skew at runtime; [[saltedJoin]]
  * is the explicit fallback for pathological hot keys (one key ≫
  * everything, e.g. null-ish sentinel ids in 100 TB fact tables) where
  * pre-splitting beats runtime re-planning.
  */
object Scale {

  /** Skew-salted inner/left equi-join: the LEFT (large, skewed) side gets
    * a random salt in [0, salts); the RIGHT side is replicated once per
    * salt value. The hot key's rows then spread over `salts` reducers
    * instead of one.
    *
    * Row multiplication is on the right side only (×salts) — keep it the
    * smaller input. Results equal the plain join for any join type that
    * doesn't need right-side row identity (inner/left).
    */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String,
                 salts: Int, joinType: String = "inner"): DataFrame = {
    require(salts > 0)
    val saltedLeft = left.withColumn("__salt",
      (rand(seed = 42) * salts).cast("int"))
    val saltedRight = right.crossJoin(
      right.sparkSession.range(salts).select(col("id").cast("int")
        .as("__salt")))
    saltedLeft.join(saltedRight, Seq(key, "__salt"), joinType)
      .drop("__salt")
  }

  /** Key-distribution diagnostic for join/agg planning: per-key counts
    * reduced to one summary row — key cardinality, row total, the
    * max/mean/percentile per-key counts, the skew ratio (max/mean, the
    * "should this join be salted?" signal), and the exact self-join
    * cardinality Σ cnt² (what a sessionization or pair-generation join
    * on this key would produce — the number that decides whether a
    * within-key quadratic operator is affordable).
    *
    * Scale shape: one map-side-combined hash aggregation to per-key
    * counts (narrow: key + count), then a single-row global reduce over
    * those counts. Percentiles run on the per-key COUNT frame (one row
    * per distinct key), not the data — at 100 TB the count frame is the
    * small derivative. All-integer except the rounded ratios, so the
    * profile is engine-reproducible. The exact `percentile` buffers the
    * count frame in the final reducer — fine to ~10⁸ distinct keys;
    * beyond that swap in the mergeable bottom-k sketch
    * ([[graft.expressions.KqAgg]]) and accept approximate
    * quantiles.
    */
  def keySkewProfile(df: DataFrame, keyCol: String): DataFrame =
    df.groupBy(col(keyCol)).agg(count(lit(1)).as("cnt"))
      .agg(
        count(lit(1)).as("n_keys"),
        sum(col("cnt")).as("n_rows"),
        max(col("cnt")).as("max_cnt"),
        round(percentile(col("cnt"), lit(0.5)), 4).as("p50_cnt"),
        round(percentile(col("cnt"), lit(0.99)), 4).as("p99_cnt"),
        sum(col("cnt") * col("cnt")).as("selfjoin_rows"))
      // mean_cnt = n_rows/n_keys and skew_ratio = max_cnt·n_keys/n_rows
      // are exact integer ratios — emitted on the exact 4-dp grid
      // (integer half-up + one exact division, build-invariant)
      .withColumn("mean_cnt",
        graft.functions.ExactGrid.eRatio(col("n_rows"), col("n_keys"),
          10000L))
      .withColumn("skew_ratio",
        graft.functions.ExactGrid.eRatio(col("max_cnt") * col("n_keys"),
          col("n_rows"), 10000L))

  /** Pre-partition two frames identically so a subsequent join is a
    * zero-shuffle zip of co-located partitions (both sides exchange once,
    * reusable across multiple joins/aggregations on the same key).
    */
  def coPartition(a: DataFrame, b: DataFrame, key: String,
                  partitions: Int): (DataFrame, DataFrame) =
    (a.repartition(partitions, col(key)),
      b.repartition(partitions, col(key)))

  /** Hive-layout partitioned write: one `col=value/` directory level per
    * partition column, so any read with a predicate on those columns
    * prunes whole directories BEFORE listing files — the difference
    * between scanning 100 TB and scanning one day/language of it. This
    * is the lake-zone analogue of the reference's domain-folder layout
    * (one folder per domain under each zone,
    * `nh-etl-universal-cleaning.py:58-63`), promoted from a naming
    * convention to a layout the engine's planner actually exploits
    * (`PartitionFilters` in the scan, vs a post-scan `Filter`).
    *
    * `dynamicOverwrite = true` scopes `mode("overwrite")` to ONLY the
    * partitions present in `df` (spark.sql `partitionOverwriteMode =
    * dynamic`) — the incremental daily load: rewriting today's
    * `etl_date=.../` leaves every other date's data untouched. With
    * `false`, overwrite is the default static whole-table replace. The
    * previous session setting is restored either way.
    *
    * Choose partition columns with FEW distinct values (language, date,
    * source bucket — not doc_id): each distinct tuple is a directory,
    * and millions of tiny directories are their own scale pathology.
    */
  def writePartitioned(df: DataFrame, path: String, partCols: Seq[String],
                       dynamicOverwrite: Boolean = true): Unit = {
    require(partCols.nonEmpty, "writePartitioned needs partition columns")
    val conf = df.sparkSession.conf
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = conf.get(key, "STATIC")
    conf.set(key, if (dynamicOverwrite) "dynamic" else "static")
    try df.write.mode("overwrite").partitionBy(partCols: _*).parquet(path)
    finally conf.set(key, prev)
  }

  /** Z-order clustered write: range-partition and sort by the Morton key
    * of `cols`, so each output file covers a compact hyper-rectangle of
    * the interleaved dimensions and its parquet min-max stats are tight
    * on EVERY one of them — point/range predicates on any listed column
    * skip most files, not just predicates on a single sort column.
    *
    * `bitsPerCol` must satisfy `cols.length * bitsPerCol <= 63`; values
    * are clamped modulo `2^bitsPerCol`, so pre-scale columns with larger
    * domains. The z-key is computed, used for the exchange + local sort,
    * and dropped — the layout IS the artifact. `files` bounds the output
    * file count (range partitioner → one file per partition).
    */
  def writeZOrdered(df: DataFrame, path: String, bitsPerCol: Int,
                    files: Int, cols: String*): Unit = {
    val zkey = graft.expressions.ZOrder
      .zorder_key(bitsPerCol, cols.map(col): _*)
    df.withColumn("__zkey", zkey)
      .repartitionByRange(files, col("__zkey"))
      .sortWithinPartitions("__zkey")
      .drop("__zkey")
      .write.mode("overwrite").parquet(path)
  }
}
