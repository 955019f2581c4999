package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Pins the r13 money-surface determinism invariant (VERDICT r12 #1).
  *
  * `round(DOUBLE, n)` is implementation-defined in the last ulp: Spark
  * rounds the shortest-repr BigDecimal HALF_UP, DuckDB multiplies and
  * nearbyint-s (and has changed across releases). Applied as the FINAL
  * op over a cents-scaled division it is a mathematical no-op (the
  * value is already on the n-decimal grid) whose only possible effect
  * is a cross-build hash flip — which is exactly how agg_grouping_sets
  * went red at the r12 driver gate while passing locally. The exact
  * money discipline is: sum integer cents exactly, integer half-up
  * onto the target grid, then ONE int->double conversion and ONE
  * division by a power of ten (both correctly rounded under IEEE-754,
  * hence build-invariant), with NO trailing round.
  *
  * This spec greps the query/oracle sources for the banned tails so
  * the pattern cannot silently reappear.
  */
class MoneyTailSpec extends AnyFunSuite {

  // every main source file: builders and oracles live in per-family
  // files, so a fixed list would miss the next file a query moves to
  private val sources: Seq[String] = {
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    try walk.iterator().asScala.map(_.toString)
      .filter(_.endsWith(".scala")).toSeq.sorted
    finally walk.close()
  }

  private def read(p: String): String =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)),
      java.nio.charset.StandardCharsets.UTF_8)

  // A cents-scaled division (/ 100.0 or / 10000.0) must never be
  // followed by a round-precision argument — i.e. it must not sit
  // inside a round(..., n) tail. The banned shape is the literal
  // `/ 100.0, <digit>)` (and the 1e4 twin) that every pre-r13 money
  // tail used, on either the Column-API or SQL-string side.
  private val banned = Seq(
    raw"/ ?100\.0, ?\d\)".r,
    raw"/ ?10000\.0, ?\d\)".r,
    raw"/ ?1000000\.0, ?\d\)".r, // 6-decimal grid (rev_index family, r13)
    raw"\* ?100\.0\), ?\d\)".r) // round(x / (count * 100.0), n)

  test("no round(DOUBLE, n) tail over a cents-scaled division") {
    assert(sources.exists(_.endsWith("queries/SqlQueries.scala")))
    for (path <- sources) {
      val text = read(path)
      for (re <- banned) {
        val hits = re.findAllMatchIn(text).map { m =>
          val line = text.substring(0, m.start).count(_ == '\n') + 1
          s"$path:$line `${m.matched}`"
        }.toList
        assert(hits.isEmpty,
          s"banned money round-tail pattern `$re` found at: " +
            hits.mkString("; "))
      }
    }
  }

  test("oracle SQL strings carry no round-wrapped cents division") {
    // Runtime check over the assembled oracle map (catches builder-
    // generated SQL that a source grep could miss): `round(` must not
    // appear with a `/ 100.0` inside its argument span ending in `, n)`.
    val res = Seq(
      raw"round\([^;]*?/ ?100\.0, ?\d\)".r,
      raw"round\([^;]*?/ ?10000\.0, ?\d\)".r,
      raw"round\([^;]*?/ ?1000000\.0, ?\d\)".r)
    val bad = SparkEntry.oracleSql.collect {
      case (name, sql) if res.exists(_.findFirstIn(sql).isDefined) => name
    }
    assert(bad.isEmpty, s"oracle round-tail over cents division in: $bad")
  }
}
