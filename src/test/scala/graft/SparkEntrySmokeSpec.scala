package graft

import scala.jdk.CollectionConverters._

/** t1-style smoke: every registered query runs at sf0.001 and returns a
  * sane frame; the registry holds each name once, with its oracle, and
  * the query sources define each name once.
  */
class SparkEntrySmokeSpec extends SparkSpec {

  test("entry() returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("no duplicate query/oracle keys in the SparkEntry source") {
    // Each query and its oracle are one QueryDef in a family object
    // under graft.queries. Scan those sources for the literal names and
    // assert global uniqueness: a re-added name (a second profile_benford
    // once slipped in) must show up here, not only at registration.
    val dir = java.nio.file.Paths.get("src/main/scala/graft/queries")
    val files = {
      val st = java.nio.file.Files.list(dir)
      try st.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally st.close()
    }
    val defKey = """QueryDef\("([a-z0-9_]+)"""".r
    val names = files.flatMap(f => defKey.findAllMatchIn(
      java.nio.file.Files.readString(f)).map(_.group(1)))
    val dupes = names.groupBy(identity).collect {
      case (k, v) if v.size > 1 => k -> v.size }
    assert(dupes.isEmpty, s"duplicate query/oracle keys: $dupes")
    // every literal definition is a registered query with its oracle
    val unregistered = names.toSet -- SparkEntry.queries.keySet
    assert(unregistered.isEmpty, s"defined but not registered: $unregistered")
    assert((names.toSet -- SparkEntry.oracleSql.keySet).isEmpty)
    // and the scan sees every registered name, so a duplicate cannot hide
    assert(names.size == SparkEntry.queries.size)
  }

  test("registry: one definition per name, builders and oracles aligned") {
    // a second definition under an existing name fails at registration
    // and the message names the key
    val d = graft.queries.QueryDef("dup_name", (s, dir) => s.emptyDataFrame,
      "SELECT 1")
    val e = intercept[IllegalArgumentException](
      graft.queries.QueryDef.register(Seq(d, d)))
    assert(e.getMessage.contains("'dup_name'"), e.getMessage)
    // registering and looking up a builder never generates oracle SQL
    val lazyOracle = graft.queries.QueryDef("lazy_oracle",
      (s, dir) => s.emptyDataFrame, sys.error("oracle generated"))
    assert(graft.queries.QueryDef.register(Seq(lazyOracle))
      .contains("lazy_oracle"))
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.size == 362)
  }

  SparkEntry.queries.foreach { case (name, fn) =>
    test(s"query $name runs at sf0.001") {
      val df = fn(spark, sf("sf0.001"))
      val n = df.count()
      // near-dup pair queries and highly selective filters may
      // legitimately match nothing at sf0.001; everything else should
      // produce rows on the fixture
      if (!Set("dedup_minhash", "dedup_simhash", "dedup_ngram_jaccard",
        "dedup_ngram_blocked", "dedup_embedding", "q7_volume_shipping",
        "q9_product_profit", "regexp_filter").contains(name)) {
        assert(n > 0, s"$name returned 0 rows")
      }
      assert(df.columns.nonEmpty)
    }
  }
}
