package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec

class ScaleSpec extends SparkSpec {
  import spark.implicits._

  test("saltedJoin equals plain join on skewed data") {
    // 10k rows of one hot key + a long tail
    val left = spark.range(10000).select(lit(1L).as("k"),
        col("id").as("v"))
      .union(spark.range(100).select((col("id") + 2).as("k"),
        col("id").as("v")))
    val right = Seq((1L, "hot"), (2L, "a"), (50L, "b")).toDF("k", "name")

    val plain = left.join(right, Seq("k"), "inner")
      .groupBy("k").agg(count(lit(1)).as("n"), sum("v").as("sv"))
      .orderBy("k").as[(Long, Long, Long)].collect().toSeq
    val salted = Scale.saltedJoin(left, right, "k", salts = 8)
      .groupBy("k").agg(count(lit(1)).as("n"), sum("v").as("sv"))
      .orderBy("k").as[(Long, Long, Long)].collect().toSeq
    assert(salted == plain)
    assert(salted.head._2 == 10000L)
  }

  test("saltedJoin's salt spreads the hot key's reducer partition") {
    // the straggler mechanism, asserted on the partitioning itself: a
    // plain equi-join hash-distributes rows by key, so a 90%-hot key
    // puts ~90% of all rows on ONE reducer; the operator's salt column
    // (rand(seed=42)*salts — replicated here verbatim) bounds the max
    // partition near the mean. Explicit repartition(n, cols) mirrors
    // the join's exchange while staying immune to AQE coalescing and
    // broadcast thresholds, so the test needs NO session-conf
    // mutation (the shared test session races under parallel suites).
    // The measured wall-time twin (plain vs salted join on the 20M-row
    // zipf fixture) is recorded in BENCH_NOTES.
    val salts = 64
    val left = spark.range(90000).select(lit(1L).as("k"), col("id").as("v"))
      .union(spark.range(10000).select((col("id") + 2).as("k"),
        col("id").as("v")))
    val salted = left.withColumn("__salt",
      (rand(seed = 42) * salts).cast("int"))
    def partSizes(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.queryExecution.toRdd
        .mapPartitions(it => Iterator.single(it.size.toLong))
        .collect().toSeq
    val total = 100000.0
    val plain = partSizes(left.repartition(32, col("k")))
    val spread = partSizes(salted.repartition(32, col("k"), col("__salt")))
    assert(plain.max >= 0.9 * total,
      s"fixture no longer skewed: plain max ${plain.max}")
    // 64 salt buckets over 32 reducers is lumpy; anything under 15% of
    // total proves the straggler is gone (mean is ~3.1%)
    assert(spread.max <= 0.15 * total,
      s"salting left a straggler: max ${spread.max} of $total rows " +
        s"on one partition")
  }

  test("saltedJoin left type keeps unmatched left rows") {
    val left = Seq((1L, "x"), (9L, "y")).toDF("k", "v")
    val right = Seq((1L, "r")).toDF("k", "r")
    val out = Scale.saltedJoin(left, right, "k", 4, "left")
      .orderBy("k").as[(Long, String, String)].collect().toSeq
    assert(out == Seq((1L, "x", "r"), (9L, "y", null)))
  }

  test("writePartitioned: hive layout, partition-pruned read") {
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString
    val docs = Seq(
      (1L, "en", 10L), (2L, "en", 20L), (3L, "de", 30L),
      (4L, "de", 40L), (5L, "fr", 50L)).toDF("id", "lang", "v")
    Scale.writePartitioned(docs, dir, Seq("lang"))

    // hive directory-per-value layout on disk
    val subdirs = new java.io.File(dir).listFiles().filter(_.isDirectory)
      .map(_.getName).sorted.toSeq
    assert(subdirs == Seq("lang=de", "lang=en", "lang=fr"))

    // the predicate must reach the scan as a PARTITION filter (directory
    // pruning before any file is read), not a post-scan row filter
    val pruned = spark.read.parquet(dir).filter(col("lang") === "en")
    val plan = pruned.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      .replaceAll("#\\d+", "")
    assert(plan.contains("PartitionFilters"), plan)
    assert(plan.contains("(lang = en)"), plan)
    assert(pruned.select(sum("v")).as[Long].head() == 30L)

    // the layout is physically partition-local: removing another
    // language's directory cannot affect rows outside it
    val de = new java.io.File(dir, "lang=de")
    de.listFiles().foreach(_.delete()); de.delete()
    val rest = spark.read.parquet(dir)
    assert(rest.count() == 3)
    assert(rest.filter(col("lang") === "en").count() == 2)
  }

  test("writePartitioned: dynamic overwrite touches only written partitions") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dyn").toString
    val v1 = Seq((1L, "en"), (2L, "en"), (3L, "de"), (4L, "fr"))
      .toDF("id", "lang")
    Scale.writePartitioned(v1, dir, Seq("lang"))

    // incremental load: only the en partition is in the frame, so only
    // en/ is rewritten — de and fr survive
    val enOnly = Seq((9L, "en")).toDF("id", "lang")
    Scale.writePartitioned(enOnly, dir, Seq("lang"))
    val after = spark.read.parquet(dir)
    assert(after.count() == 3)
    assert(after.filter(col("lang") === "en").select("id")
      .as[Long].collect().toSeq == Seq(9L))
    assert(after.filter(col("lang") === "de").count() == 1)

    // static overwrite is the whole-table replace
    Scale.writePartitioned(enOnly, dir, Seq("lang"),
      dynamicOverwrite = false)
    assert(spark.read.parquet(dir).count() == 1)

    // the session-level overwrite mode is restored afterwards
    assert(spark.conf.get("spark.sql.sources.partitionOverwriteMode")
      .equalsIgnoreCase("static"))
  }

  test("bucketed tables join with ZERO shuffle exchanges") {
    import java.nio.file.Files
    val base = Files.createTempDirectory("graft-bucket-spec").toString
    val a = spark.range(1000).select(col("id").as("k"),
      (col("id") * 2).as("va"))
    val b = spark.range(500).select(col("id").as("k"),
      (col("id") * 3).as("vb"))
    a.write.mode("overwrite").bucketBy(4, "k").sortBy("k")
      .option("path", s"$base/a").saveAsTable("bkt_a_spec")
    b.write.mode("overwrite").bucketBy(4, "k").sortBy("k")
      .option("path", s"$base/b").saveAsTable("bkt_b_spec")
    // disable auto-broadcast so the join would NEED a shuffle if the
    // bucketing were not honored
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.table("bkt_a_spec")
        .join(spark.table("bkt_b_spec"), Seq("k"))
      assert(j.count() == 500)
      val plan = j.queryExecution.executedPlan.toString
      val shuffles = plan.linesIterator
        .count(_.contains("Exchange hashpartitioning"))
      assert(shuffles == 0,
        s"bucket-local join must not shuffle, got $shuffles exchanges")
      assert(plan.contains("SortMergeJoin"),
        "expected a sort-merge join over the bucketed scans")
      assert(plan.contains("SelectedBucketsCount"),
        "expected bucketed scans on both sides")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS bkt_a_spec")
      spark.sql("DROP TABLE IF EXISTS bkt_b_spec")
    }
  }

  test("coPartition co-locates and the join avoids extra exchanges") {
    val (a, b) = Scale.coPartition(
      spark.range(1000).select(col("id").as("k"), col("id").as("va")),
      spark.range(500).select(col("id").as("k"), col("id").as("vb")),
      "k", 8)
    val joined = a.join(b, Seq("k"))
    assert(joined.count() == 500)
    // both sides already hash-partitioned on k: the join itself must not
    // introduce new SHUFFLES beyond the two repartitions (a broadcast
    // exchange of the small side is fine and not a shuffle)
    val exchanges = joined.queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 2, s"expected <=2 shuffle exchanges, got $exchanges")
  }
}
