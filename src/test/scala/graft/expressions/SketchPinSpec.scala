package graft.expressions

import java.security.MessageDigest

import scala.io.Source

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.functions.{col, lit}

import graft.SparkSpec

/** Pins every raw, state and merge variant of the HLL, KMV, bitmap,
  * quantile and Bloom aggregates: per call its result type, its
  * auto-generated column name, its aggregate's plan text and, per group,
  * its output (the estimate, or the sha256 of the state bytes). Each
  * function is called through SQL where it is registered and through its
  * Column helper. The merge variants read states that the state variants
  * built, plus one null state per group.
  *
  * The expected lines are `src/test/resources/sketch_pins.tsv`; a change
  * to any sketch's bytes, type, name or plan text fails here.
  */
class SketchPinSpec extends SparkSpec {
  import spark.implicits._

  /** 3,000 seeded rows in 4 partitions: two groups, five parts per group,
    * about one value in eight null.
    */
  private lazy val raw: DataFrame = {
    val rnd = new scala.util.Random(1014)
    (0 until 3000).map { i =>
      val v = if (rnd.nextInt(8) == 0) None
        else Some(rnd.nextInt(900).toLong + 300L * (i % 2))
      (i.toLong, (i % 2).toLong, (i % 5).toLong, v)
    }.toDF("id", "g", "part", "v").repartition(4, col("id"))
  }

  /** Per-(g, part) states from a state variant, plus a null state per g. */
  private def states(state: Column): DataFrame =
    raw.groupBy("g", "part").agg(state.as("st"))
      .union(spark.range(2).select(col("id").as("g"), lit(-1L).as("part"),
        lit(null).cast("binary").as("st")))
      .repartition(3, col("part"))

  /** (function, input table, SQL call if registered, Column call). */
  private lazy val calls: Seq[(String, String, Option[String], Column)] = {
    import Bitmaps._, Blooms._, HllSketches._, Kq._, Sketches._
    val v = col("v")
    val st = col("st")
    Seq(
      ("hll_distinct", "raw", Some("hll_distinct(v)"), hll_distinct(v)),
      ("hll_state", "raw", Some("hll_state(v)"), hll_state(v)),
      ("hll_merge_est", "hll", Some("hll_merge_est(st)"), hll_merge_est(st)),
      ("hll_merge_state", "hll", None, hll_merge_state(st)),
      ("kmv_distinct", "raw", Some("kmv_distinct(v, 64)"),
        kmv_distinct(v, 64)),
      ("kmv_state", "raw", Some("kmv_state(v, 64)"), kmv_state(v, 64)),
      ("kmv_merge_est", "kmv", Some("kmv_merge_est(st)"), kmv_merge_est(st)),
      ("bitmap_distinct", "raw", None, bitmap_distinct(v)),
      ("bitmap_state", "raw", None, bitmap_state(v)),
      ("bitmap_merge_count", "bitmap", None, bitmap_merge_count(st)),
      ("bitmap_merge_state", "bitmap", None, bitmap_merge_state(st)),
      ("kq_state", "raw", Some("kq_state(v, 48, id)"),
        kq_state(v, 48, col("id"))),
      ("kq_merge", "kq", Some("kq_merge(st)"), kq_merge(st)),
      ("bloom_agg", "raw", Some("bloom_agg(v, 1024, 3)"),
        bloom_agg(v, 1024, 3)),
      ("bloom_merge", "bloom", Some("bloom_merge(st)"), bloom_merge(st)))
  }

  private def tables: Map[String, DataFrame] = Map(
    "raw" -> raw,
    "hll" -> states(HllSketches.hll_state(col("v"))),
    "kmv" -> states(Sketches.kmv_state(col("v"), 64)),
    "bitmap" -> states(Bitmaps.bitmap_state(col("v"))),
    "kq" -> states(Kq.kq_state(col("v"), 48, col("id"))),
    "bloom" -> states(Blooms.bloom_agg(col("v"), 1024, 3)))

  private def sha256(b: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(b).map("%02x".format(_)).mkString

  /** One tab-separated line: function, path, type, column name, plan
    * text with expression ids dropped, then `g=value` per group.
    */
  private def pin(fn: String, path: String, df: DataFrame): String = {
    val field = df.schema.fields(1)
    val plan = df.queryExecution.analyzed.flatMap(_.expressions.flatMap(
      _.collect { case a: AggregateExpression => a.toString }))
      .mkString(";").replaceAll("#\\d+L?", "")
    val values = df.orderBy("g").collect().map { r =>
      val out = r.get(1) match {
        case b: Array[Byte] => sha256(b)
        case x => String.valueOf(x)
      }
      s"${r.getLong(0)}=$out"
    }
    (Seq(fn, path, field.dataType.simpleString, field.name, plan) ++ values)
      .mkString("\t")
  }

  test("every sketch variant keeps its outputs, types, names and plan text") {
    val ts = tables
    ts.foreach { case (name, df) => df.createOrReplaceTempView(s"pin_$name") }
    val actual = calls.flatMap { case (fn, input, sql, column) =>
      val viaSql = sql.map(s => pin(fn, "sql",
        spark.sql(s"SELECT g, $s FROM pin_$input GROUP BY g")))
      viaSql.toSeq :+ pin(fn, "column", ts(input).groupBy("g").agg(column))
    }
    val src = Source.fromResource("sketch_pins.tsv")(scala.io.Codec.UTF8)
    val expected = try src.getLines().toList finally src.close()
    val diff = actual.zipAll(expected, "<none>", "<none>")
      .filter { case (a, e) => a != e }
    assert(diff.isEmpty, diff.map { case (a, e) =>
      s"\n  expected: $e\n  actual:   $a" }.mkString)
  }
}
