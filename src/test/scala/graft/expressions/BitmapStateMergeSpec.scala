package graft.expressions

import org.apache.spark.sql.functions.{col, pmod}

import graft.SparkSpec

/** `bitmap_merge_state` ([[BitmapAgg]] merging states into a state) and
  * [[BitmapCardinality]] (scalar count of one stored state) — the two
  * pieces that make bitmap set-propagation iterable.
  */
class BitmapStateMergeSpec extends SparkSpec {
  import spark.implicits._

  test("merge of partial states equals the single-pass state") {
    // split 0..999 into 4 groups, store per-group states, merge them:
    // cardinality must be exactly 1000 (lossless union)
    val df = spark.range(1000).toDF("id")
      .withColumn("g", pmod(col("id"), org.apache.spark.sql.functions.lit(4)))
    val partials = df.groupBy("g").agg(Bitmaps.bitmap_state(col("id")).as("st"))
    val merged = partials.agg(
      Bitmaps.bitmap_merge_state(col("st")).as("st"))
    val n = merged.select(Bitmaps.bitmap_cardinality(col("st")))
      .as[Long].head()
    assert(n == 1000L)
  }

  test("cardinality of a per-group state matches count_distinct") {
    val df = Seq((0L, 1L), (0L, 1L), (0L, 2L), (1L, 5L)).toDF("g", "v")
    val out = df.groupBy("g")
      .agg(Bitmaps.bitmap_state(col("v")).as("st"))
      .select(col("g"), Bitmaps.bitmap_cardinality(col("st")).as("n"))
      .as[(Long, Long)].collect().toMap
    assert(out == Map(0L -> 2L, 1L -> 1L))
  }

  test("state merge is duplicate-insensitive (idempotent union)") {
    val df = Seq(0L, 1L, 2L).toDF("v")
    val st = df.agg(Bitmaps.bitmap_state(col("v")).as("st"))
    val doubled = st.unionAll(st)
    val n = doubled.agg(Bitmaps.bitmap_merge_state(col("st")).as("st"))
      .select(Bitmaps.bitmap_cardinality(col("st")))
      .as[Long].head()
    assert(n == 3L)
  }
}
