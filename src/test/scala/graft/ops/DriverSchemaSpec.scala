package graft.ops

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.functions._

import graft.{JobCount, SparkSpec}

/** The driver-side schema reads must equal Spark's own inference. */
class DriverSchemaSpec extends SparkSpec {
  import spark.implicits._

  private def csvDir(files: (String, String)*): String = {
    val dir = Files.createTempDirectory("driver-schema-csv")
    files.foreach { case (name, body) =>
      Files.writeString(dir.resolve(name), body) }
    dir.toString
  }

  private def assertCsvHeaderAsSpark(path: String): Unit = {
    val inferred = spark.read.option("header", true).csv(path).schema
    assert(DriverSchema.csvHeader(spark, path).contains(inferred))
  }

  test("csvHeader: duplicate names, as Spark disambiguates them") {
    assertCsvHeaderAsSpark(csvDir("a.csv" -> "id,Name,name,id\n1,a,b,2\n"))
  }

  test("csvHeader: blank names, as Spark fills them in") {
    assertCsvHeaderAsSpark(csvDir("a.csv" -> "id,, ,x\n1,2,3,4\n"))
  }

  test("csvHeader: quoted commas inside a name") {
    val dir = csvDir("a.csv" -> "\"City, Town\",\"Zip\",plain\nA,1,x\n")
    assertCsvHeaderAsSpark(dir)
    assert(DriverSchema.csvHeader(spark, dir).get.fieldNames.toSeq ==
      Seq("City, Town", "Zip", "plain"))
  }

  test("csvHeader: a multi-file domain takes the largest file's header") {
    val dir = csvDir(
      "a_small.csv" -> "small_a,small_b\n1,2\n",
      "b_large.csv" -> ("large_a,large_b\n" + "10,20\n" * 50),
      "c_mid.csv" -> ("mid_a,mid_b\n" + "3,4\n" * 5))
    assertCsvHeaderAsSpark(dir)
    assert(DriverSchema.csvHeader(spark, dir).get.fieldNames.toSeq ==
      Seq("large_a", "large_b"))
  }

  test("csvHeader: leading blank lines and a byte-order mark are skipped") {
    assertCsvHeaderAsSpark(csvDir("a.csv" -> "\uFEFF\n  \nk,v\n1,2\n"))
    assertCsvHeaderAsSpark(csvDir("a.csv" -> "\uFEFFk,v\r\n1,2\r\n"))
  }

  test("csvHeader: a compressed file is read through its codec") {
    val dir = Files.createTempDirectory("driver-schema-gz")
    val out = new java.util.zip.GZIPOutputStream(
      Files.newOutputStream(dir.resolve("a.csv.gz")))
    try out.write("zipped_a,zipped_b\n1,2\n".getBytes("UTF-8"))
    finally out.close()
    assertCsvHeaderAsSpark(dir.toString)
    assert(DriverSchema.csvHeader(spark, dir.toString).get.fieldNames.toSeq ==
      Seq("zipped_a", "zipped_b"))
  }

  test("csvHeader: None when no file has a non-blank line") {
    assert(DriverSchema.csvHeader(spark, csvDir("a.csv" -> "")).isEmpty)
    assert(DriverSchema.csvHeader(spark, csvDir("a.csv" -> "\n \n")).isEmpty)
  }

  test("footerSchema equals Spark's inferred schema, nullability included") {
    val path = Files.createTempDirectory("driver-schema-pq").resolve("t")
      .toString
    spark.range(20).select(
      col("id"),
      col("id").cast("int").as("i"),
      lit("x").as("s"),
      array(col("id"), lit(null).cast("long")).as("arr"),
      struct(col("id").as("a"), lit(1.5).as("b")).as("st"),
      map(lit("k"), col("id")).as("m"),
      lit(java.sql.Date.valueOf("2025-04-02")).as("d"),
      col("id").cast("decimal(12,2)").as("dec"))
      .repartition(3).write.parquet(path)
    val inferred = spark.read.parquet(path).schema
    val footer = DriverSchema.footerSchema(spark, path)
    assert(footer.contains(inferred))
    val read = DriverSchema.parquet(spark, path)
    assert(read.schema == inferred)
    assert(read.orderBy("id").collect().toSeq ==
      spark.read.parquet(path).orderBy("id").collect().toSeq)
  }

  test("footerSchema: without the Spark footer key, fall back to inference") {
    val dir = Files.createTempDirectory("driver-schema-raw")
    val file = new Path(dir.resolve("part-0.parquet").toUri)
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 k; optional binary v (UTF8); }")
    val writer = ExampleParquetWriter.builder(file).withType(schema).build()
    val groups = new SimpleGroupFactory(schema)
    try (1 to 3).foreach(i =>
      writer.write(groups.newGroup().append("k", i.toLong).append("v", s"v$i")))
    finally writer.close()
    assert(DriverSchema.footerSchema(spark, dir.toString).isEmpty)
    val read = DriverSchema.parquet(spark, dir.toString)
    assert(read.schema == spark.read.parquet(dir.toString).schema)
    assert(read.as[(Long, String)].collect().toSet ==
      Set((1L, "v1"), (2L, "v2"), (3L, "v3")))
  }

  test("footerSchema: partition directories fall back to inference") {
    val path = Files.createTempDirectory("driver-schema-part").resolve("t")
      .toString
    Seq((1L, "a"), (2L, "b")).toDF("k", "p").write.partitionBy("p")
      .parquet(path)
    assert(DriverSchema.footerSchema(spark, path).isEmpty)
    assert(DriverSchema.parquet(spark, path).schema ==
      spark.read.parquet(path).schema)
  }

  test("the schema-carrying reads start no job") {
    val root = Files.createTempDirectory("driver-schema-jobs")
    val pq = root.resolve("pq").toString
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(pq)
    val csv = root.resolve("csv")
    Files.createDirectories(csv)
    Files.writeString(csv.resolve("a.csv"), "k,v\n1,a\n")
    // Spark's own reads start one inference job each
    assert(JobCount(spark)(spark.read.parquet(pq)) == 1)
    assert(JobCount(spark)(
      spark.read.option("header", true).csv(csv.toString)) == 1)
    assert(JobCount(spark)(DriverSchema.parquet(spark, pq)) == 0)
    assert(JobCount(spark)(DriverSchema.csvHeader(spark, csv.toString)) == 0)
  }
}
