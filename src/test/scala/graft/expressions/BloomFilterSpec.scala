package graft.expressions

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ops.Joins

class BloomFilterSpec extends SparkSpec {

  test("no false negatives: every inserted key passes bloom_contains") {
    val keys = spark.range(10000).select((col("id") * 7 + 3).as("k"))
    val bytes = keys
      .agg(Blooms.bloom_agg(col("k"), 1 << 16, 5).as("bf"))
      .head().getAs[Array[Byte]](0)
    val missed = keys
      .filter(!Blooms.bloom_contains(lit(bytes), col("k")))
      .count()
    assert(missed == 0L, s"bloom filter lost $missed inserted keys")
  }

  test("false-positive rate stays near the sized bound") {
    // n=10k keys into m=2^17 bits with j=5 hashes: textbook
    // p = (1 - e^(-jn/m))^j ~ 0.22% — assert an order-of-magnitude cap
    val keys = spark.range(10000).select(col("id").as("k"))
    val bytes = keys
      .agg(Blooms.bloom_agg(col("k"), 1 << 17, 5).as("bf"))
      .head().getAs[Array[Byte]](0)
    val probes = spark.range(1000000, 1100000).select(col("id").as("k"))
    val fp = probes
      .filter(Blooms.bloom_contains(lit(bytes), col("k")))
      .count()
    assert(fp < 2000, s"fp rate ${fp / 100000.0} far above the ~0.0022 bound")
  }

  test("partial merge: filter built across partitions equals 1-partition build") {
    val keys = spark.range(5000).select((col("id") * 13).as("k"))
    def build(parts: Int): Array[Byte] = keys.repartition(parts)
      .agg(Blooms.bloom_agg(col("k"), 1 << 14, 4).as("bf"))
      .head().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(build(1), build(8)),
      "bitwise-OR merge must make the filter partition-independent")
  }

  test("bloom_merge rollup equals the single-pass filter (exact union)") {
    val keys = spark.range(20000).select((col("id") % 10).as("day"),
      (col("id") * 11 + 1).as("k"))
    val single = keys.agg(Blooms.bloom_agg(col("k"), 1 << 14, 4).as("bf"))
      .head().getAs[Array[Byte]](0)
    val rolled = keys.groupBy("day")
      .agg(Blooms.bloom_agg(col("k"), 1 << 14, 4).as("bf"))
      .agg(Blooms.bloom_merge(col("bf")).as("m"))
      .head().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(single, rolled),
      "per-day filters OR-merged must equal the single-pass filter")
  }

  test("bloom_merge rejects mismatched filter shapes") {
    val a = spark.range(10)
      .agg(Blooms.bloom_agg(col("id"), 1 << 10, 4).as("bf"))
    val b = spark.range(10)
      .agg(Blooms.bloom_agg(col("id"), 1 << 11, 4).as("bf"))
    val e = intercept[Exception] {
      a.unionByName(b).coalesce(1)
        .agg(Blooms.bloom_merge(col("bf"))).head()
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    assert(chain(e).exists(_.contains("mismatched")),
      s"expected shape-mismatch error, got: ${chain(e).mkString(" | ")}")
  }

  test("SQL surface: bloom_agg builds, bloom_contains probes, bad arity rejects") {
    graft.GraftFunctions.register(spark)
    spark.range(100).select(col("id").as("v"))
      .createOrReplaceTempView("bloom_in")
    val hit = spark.sql(
      """SELECT bloom_contains((SELECT bloom_agg(v, 4096, 4) FROM bloom_in),
        |                      50L) AS hit""".stripMargin).head().getBoolean(0)
    assert(hit, "inserted key must pass via the SQL surface")
    intercept[Exception] {
      spark.sql("SELECT bloom_agg(v, v, 4) FROM bloom_in").head()
    }
  }

  test("bloomPrunedSemiJoin equals the plain semi-join exactly") {
    val li = spark.read.parquet(sf("sf0.001") + "/lineitem.parquet")
    val dim = spark.read.parquet(sf("sf0.001") + "/orders.parquet")
      .filter(col("o_orderpriority") === "1-URGENT")
    val pruned = Joins.bloomPrunedSemiJoin(li, dim, "l_orderkey",
      "o_orderkey", numBits = 1 << 14, numHashes = 5)
    val plain = li.join(
      dim.select(col("o_orderkey").as("l_orderkey")).distinct(),
      Seq("l_orderkey"), "left_semi")
    assert(pruned.count() == plain.count())
    assert(pruned.exceptAll(plain).isEmpty && plain.exceptAll(pruned).isEmpty,
      "bloom prune + exact join must be bit-equal to the plain semi-join")
  }

  test("tiny filter (high fp) still exact after the refining join") {
    // deliberately undersized: 256 bits for ~1500 keys — almost every
    // probe passes the bloom, correctness must come from the exact join
    val li = spark.read.parquet(sf("sf0.001") + "/lineitem.parquet")
    val dim = spark.read.parquet(sf("sf0.001") + "/orders.parquet")
      .filter(col("o_totalprice") > 150000)
    val pruned = Joins.bloomPrunedSemiJoin(li, dim, "l_orderkey",
      "o_orderkey", numBits = 256, numHashes = 2)
    val plain = li.join(
      dim.select(col("o_orderkey").as("l_orderkey")).distinct(),
      Seq("l_orderkey"), "left_semi")
    assert(pruned.exceptAll(plain).isEmpty && plain.exceptAll(pruned).isEmpty)
  }
}
