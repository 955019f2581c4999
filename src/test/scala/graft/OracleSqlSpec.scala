package graft

import org.apache.spark.sql.functions._

/** Guards for the generated DuckDB oracles (OracleSql).
  *
  * The xxhash64 emulation documents a scope: ASCII text and tokens of at
  * most 23 bytes (2 words + int + 3 tail bytes; the 32-byte stripe loop
  * is not emulated). These tests pin that scope against the fixture the
  * driver verifies with — if a future data generation violates it, the
  * oracles would silently hash differently, so fail HERE instead.
  */
class OracleSqlSpec extends SparkSpec {
  import spark.implicits._

  private def docs(sfDir: String) =
    Tables.load(spark, sf(sfDir), "documents")

  private val GuardedSfs = Seq("sf0.001", "sf0.01", "sf0.1")

  test("events.ts loads as TIMESTAMP_LTZ under the pinned UTC session") {
    // The driver regenerates testdata between rounds, and the events
    // `ts` parquet logical type has already shifted once (NANOS →
    // µs/NTZ), silently breaking every event-time + streaming path
    // until Tables.load normalized it. This guard makes the NEXT
    // regeneration fail loudly here instead: whatever physical type
    // ships, the loaded column must come out TimestampType (LTZ).
    import org.apache.spark.sql.types.TimestampType
    GuardedSfs.foreach { s =>
      val ts = Tables.load(spark, sf(s), "events").schema("ts").dataType
      assert(ts == TimestampType,
        s"$s: events.ts loaded as $ts, not TimestampType — the driver " +
          "regenerated the fixture with a ts type Tables.load does not " +
          "normalize; extend the normalization before trusting any " +
          "event-time query")
    }
  }

  test("fixture tokens stay inside the emulated xxhash64 scope") {
    GuardedSfs.foreach { s =>
      val toks = docs(s).select(
        explode(split(trim(lower(col("text"))), "\\s+")).as("tok"))
      val maxLen = toks.select(max(octet_length(col("tok")))).as[Int].head()
      assert(maxLen <= 23, s"$s: token of $maxLen bytes exceeds oracle scope")
    }
  }

  test("fixture text is pure ASCII (ord == byte assumption)") {
    GuardedSfs.foreach { s =>
      val nonAscii = docs(s)
        .filter(col("text").rlike("[^\\x00-\\x7F]")).count()
      assert(nonAscii == 0, s"$s: $nonAscii non-ASCII docs break emulation")
    }
  }

  test("fixture has no empty/whitespace-only docs (sentinel-signature gap)") {
    // Spark gives empty docs sentinel MinHash signatures (two empty docs
    // band-match with est 1.0) and SimHash 0L, while the oracle's token
    // CTE drops them entirely — equality holds only while no empty docs
    // exist, so pin that
    GuardedSfs.foreach { s =>
      val empty = docs(s).filter(length(trim(col("text"))) === 0).count()
      assert(empty == 0, s"$s: $empty empty docs would diverge from oracle")
    }
  }

  test("generated oracles are well-formed (no unrendered interpolation)") {
    val generated = Seq("dedup_minhash", "dedup_ngram_jaccard",
      "dedup_simhash", "dedup_components", "multimodal_features",
      "sim_lsh_topk", "sim_ivf_topk").map(SparkEntry.oracleSql)
    generated.foreach { sql =>
      assert(sql.length > 500)
      assert(!sql.contains("$"), "unrendered interpolation")
      assert(sql.trim.startsWith("WITH"))
    }
    // every query has an oracle and vice versa
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
  }

  test("oracle SQL matches the pinned per-query hashes") {
    // src/test/resources/oracle_sql.sha256 holds one
    // `name<TAB>sha256(oracle SQL)` line per query. Moving or rewriting
    // an oracle generator must leave its SQL byte-identical; this checks
    // that without Spark or DuckDB.
    val src = scala.io.Source.fromResource("oracle_sql.sha256")
    val pinned = try src.getLines().map { line =>
      val Array(name, hash) = line.split('\t')
      name -> hash
    }.toMap finally src.close()
    def sha256(s: String): String = java.security.MessageDigest
      .getInstance("SHA-256")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString
    val actual = SparkEntry.oracleSql.map { case (n, sql) => n -> sha256(sql) }
    val unpinned = actual.keySet -- pinned.keySet
    val gone = pinned.keySet -- actual.keySet
    assert(unpinned.isEmpty, s"queries not pinned: ${unpinned.toSeq.sorted}")
    assert(gone.isEmpty, s"pinned queries gone: ${gone.toSeq.sorted}")
    val changed = actual.collect { case (n, h) if pinned(n) != h => n }
    assert(changed.isEmpty,
      s"oracle SQL changed: ${changed.toSeq.sorted.mkString(", ")}")
  }

  test("det4Minors ≡ det4 ≡ BigInt reference on signed random matrices") {
    // The Spark side of rank-4 ALS evaluates Cramer's determinants in
    // the complementary-minor form while the oracle keeps the Leibniz
    // text; this pins the two generated SQL expressions to each other
    // AND to an independent BigInt cofactor expansion, at entry
    // magnitudes past the query's loud guard (|a| ≤ 1e8, |b| ≤ 2e9) so
    // the DECIMAL(38,0) path is exercised at worst-case width.
    val rnd = new scala.util.Random(42)
    def refDet(m: Array[Array[BigInt]]): BigInt = {
      def det(rows: Seq[Int], cols: Seq[Int]): BigInt =
        if (rows.size == 1) m(rows.head)(cols.head)
        else cols.indices.map { ci =>
          val sign = if (ci % 2 == 0) BigInt(1) else BigInt(-1)
          sign * m(rows.head)(cols(ci)) *
            det(rows.tail, cols.patch(ci, Nil, 1))
        }.sum
      det(0 to 3, 0 to 3)
    }
    val cases = (1 to 8).map { _ =>
      Array.fill(4, 4)(BigInt((rnd.nextLong() % 2000000000L)))
    } ++ Seq(
      Array.tabulate(4, 4)((i, j) => BigInt(if (i == j) 1 else 0)),
      Array.tabulate(4, 4)((i, j) =>
        BigInt(if (Seq(1, 0, 2, 3)(i) == j) 1 else 0))) // odd perm
    cases.foreach { m =>
      val acc = (i: Int, j: Int) =>
        s"cast(${m(i)(j)} as decimal(38,0))"
      val row = spark.sql(
        s"SELECT (${OracleSql.det4(acc)}) AS leib," +
          s" (${OracleSql.det4Minors(acc)}) AS minors").head()
      val leib = BigInt(row.getDecimal(0).toBigInteger)
      val minors = BigInt(row.getDecimal(1).toBigInteger)
      assert(leib == minors, s"forms diverge: $leib vs $minors")
      assert(minors == refDet(m), s"both diverge from reference")
    }
  }
}
