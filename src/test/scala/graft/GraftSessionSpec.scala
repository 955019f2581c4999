package graft

import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** The suite-shared session is built by [[GraftSession.builder]], so it
  * carries [[GraftExtensions]] without any runtime registration.
  */
class GraftSessionSpec extends SparkSpec {
  // a new session of the shared context: injected functions only, none
  // of the runtime registrations other suites make on the shared session
  private lazy val injected = spark.newSession()

  test("extensions expose native expressions to SQL") {
    val row = injected.sql(
      """SELECT simhash64('hello world hello') AS sh,
        |       cosine_sim(array(1.0f, 0.0f), array(1.0f, 0.0f)) AS cs,
        |       sorted_array_jaccard(array(1L, 2L), array(2L, 3L)) AS j,
        |       sorted_array_overlap(array(1L, 2L, 3L), array(2L, 3L, 4L))
        |         AS ov,
        |       size(minhash_sig('a b c d e')) AS nsig,
        |       size(shingle_hashes('a b c d e')) AS nsh
        |""".stripMargin).head()
    assert(row.getLong(0) != 0L)
    assert(row.getDouble(1) == 1.0)
    assert(math.abs(row.getDouble(2) - 1.0 / 3.0) < 1e-12)
    assert(row.getLong(3) == 2L)
    assert(row.getInt(4) == 16)
    assert(row.getInt(5) == 3)
    // aggregate registration: top-2 values by key per group
    injected.range(10).selectExpr("id % 2 AS g", "id AS k", "id * 10 AS v")
      .createOrReplaceTempView("tkb")
    val agg = injected.sql(
      "SELECT g, top_k_by(k, v, 2) AS t FROM tkb GROUP BY g ORDER BY g")
      .collect()
    assert(agg(0).getSeq[Long](1) == Seq(80L, 60L))
    assert(agg(1).getSeq[Long](1) == Seq(90L, 70L))
    // sketch-family SQL surface: cms, kq, zorder round-trips
    injected.range(1000).selectExpr("id", "concat('t', id % 7) AS tok",
      "CAST(id % 100 AS DOUBLE) AS v")
      .createOrReplaceTempView("sk_in")
    val sk = injected.sql(
      """SELECT cms_estimate((SELECT cms_state(tok, 4, 64) FROM sk_in),
        |         't0', 4) AS est,
        |       kq_quantile((SELECT kq_state(v, 64, id) FROM sk_in),
        |         0.5) AS p50,
        |       zorder_key(8, 3, 5) AS z""".stripMargin).head()
    assert(sk.getLong(0) >= 143L, s"cms lost mass: ${sk.getLong(0)}")
    assert(sk.getDouble(1) >= 0.0 && sk.getDouble(1) <= 99.0)
    assert(sk.getLong(2) == ZOrderImplRef.interleave2(3L, 5L, 8))
  }

  private object ZOrderImplRef {
    def interleave2(x: Long, y: Long, bits: Int): Long = {
      var out = 0L
      for (b <- 0 until bits) {
        out |= ((x >>> b) & 1L) << (2 * b)
        out |= ((y >>> b) & 1L) << (2 * b + 1)
      }
      out
    }
  }

  test("SQL functions honor optional literal args and reject over-arity") {
    val row = injected.sql(
      """SELECT size(minhash_sig('a b c d e', 2, 32)) AS nsig,
        |       size(shingle_hashes('a b c d e', 2)) AS nsh
        |""".stripMargin).head()
    assert(row.getInt(0) == 32)
    assert(row.getInt(1) == 4) // 5 tokens, 2-shingles
    // over-arity must error, not silently ignore the extra args
    intercept[Exception] {
      injected.sql("SELECT simhash64('x', 3)").head()
    }
    intercept[Exception] {
      injected.sql("SELECT minhash_sig('x', 2, 16, 99)").head()
    }
    // barrier is a SQL-visible identity
    assert(injected.sql("SELECT pushdown_barrier(21 * 2)").head().getInt(0)
      == 42)
    intercept[Exception] {
      injected.sql("SELECT pushdown_barrier(1, 2)").head()
    }
  }

  test("the session injects the function table; register adds exactly it") {
    val names = GraftBuilders.functions.map(_._1)
    assert(names.size == 25 && names.distinct == names, s"table: $names")
    // a new session of the shared context starts from the built-in and
    // injected functions only, whatever other suites registered at run time
    val fresh = spark.newSession()
    val reg = fresh.sessionState.functionRegistry
    def namesWhere(p: ExpressionInfo => Boolean): Set[String] =
      reg.listFunction().filter(id => reg.lookupFunction(id).exists(p))
        .map(_.funcName).toSet
    val injectedBy = classOf[GraftExtensions].getName
    assert(namesWhere(_.getClassName == injectedBy) == names.toSet)
    names.foreach(n => assert(fresh.catalog.functionExists(n), n))
    GraftFunctions.register(fresh)
    assert(namesWhere(_.getSource == "scala_udf") == names.toSet)
    assert(namesWhere(_.getClassName == injectedBy).isEmpty)
  }

  test("shuffle partitions follow the master's thread count") {
    val cores = Runtime.getRuntime.availableProcessors()
    assert(GraftSession.shufflePartitions("local[3]") == 3)
    assert(GraftSession.shufflePartitions("local[3, 2]") == 3)
    assert(GraftSession.shufflePartitions("local") == cores)
    assert(GraftSession.shufflePartitions("local[*]") == cores)
    assert(GraftSession.shufflePartitions("local[*,2]") == cores)
    assert(GraftSession.shufflePartitions("spark://host:7077") == 200)
    assert(GraftSession.shufflePartitions("yarn") == 200)
    // getOrCreate hands back the shared session and applies the builder's
    // runtime settings to it; put the shared value back afterwards
    val key = "spark.sql.shuffle.partitions"
    val shared = spark.conf.get(key)
    try {
      val built = GraftSession.builder("local[2]").getOrCreate()
      assert(built.conf.get(key) == "2")
    } finally spark.conf.set(key, shared)
  }
}
