package graft

import graft.expressions.TextHashImpl
import graft.functions.Similarity

/** Generated DuckDB oracle SQL for the queries whose Spark implementation
  * rests on 64-bit hashing (MinHash / SimHash / shingle hashes) or on
  * seeded random projections (hyperplane LSH) — none of which DuckDB has
  * natively.
  *
  * The xxHash64 family is emulated exactly: 64-bit wrapping arithmetic is
  * done in HUGEINT (int128) modulo 2^64 — a 64×64 multiply is split into
  * 32-bit halves so no intermediate exceeds int128 — and XOR round-trips
  * through BIGINT two's complement. Each hash step lives in its own CTE
  * projection level: DuckDB expands lateral column aliases by textual
  * substitution, so a 40-step chain in ONE select list would blow up
  * exponentially, while chained projections stay linear.
  *
  * Shared constants come from the SAME code the Spark expressions use:
  * [[TextHashImpl.permConstants]] for the MinHash permutations and
  * [[Similarity.hyperplanes]] for the LSH plane matrices — emitted as SQL
  * literals, so the oracle provably hashes with identical parameters.
  *
  * Scope honesty: the byte-level xxHash64 emulation covers tokens up to
  * 23 bytes (2×8-byte words + 4-byte word + 3 tail bytes) and ASCII text
  * (DuckDB `ord` yields code points, which equal bytes only for ASCII).
  * The fixture corpus satisfies both (max token 8 bytes, pure ASCII at
  * every scale factor); a general-purpose oracle would need the 32-byte
  * stripe loop as a recursive CTE.
  *
  * Hub CTEs (tokh/shash/mins/sigv/bvals/cand/fcand/edges/…) are emitted
  * `AS MATERIALIZED`: they are referenced several times — `edges` once
  * per RECURSIVE iteration — and DuckDB's default CTE inlining would
  * re-evaluate the whole upstream hash-emulation pipeline at every
  * reference. Semantics are identical; at the 10× (50k-doc) audit
  * fixture this is the difference between minutes and unbounded hours
  * for `dedup_components`.
  */
object OracleSql {

  private val M = BigInt("18446744073709551616")  // 2^64
  private val H = BigInt("9223372036854775808")   // 2^63
  private val B32 = BigInt("4294967296")          // 2^32
  private def u(l: Long): String = java.lang.Long.toUnsignedString(l)
  private val P1 = u(0x9E3779B185EBCA87L)
  private val P2 = u(0xC2B2AE3D27D4EB4FL)
  private val P3 = u(0x165667B19E3779F9L)
  private val P4 = u(0x85EBCA77C2B2AE63L)
  private val P5 = u(0x27D4EB2F165667C5L)

  // ---------- 64-bit-wrapping SQL fragments (operands: u64 HUGEINTs) ----------

  /** u64 → signed i64 (two's complement reinterpretation). */
  private def sig(x: String): String =
    s"(CASE WHEN ($x) >= $H THEN (($x) - $M)::BIGINT ELSE ($x)::BIGINT END)"

  /** Bitwise XOR of two u64s via signed BIGINT xor(). */
  private def xor64(a: String, b: String): String =
    s"(CASE WHEN xor(${sig(a)}, ${sig(b)}) < 0 " +
      s"THEN xor(${sig(a)}, ${sig(b)})::HUGEINT + $M " +
      s"ELSE xor(${sig(a)}, ${sig(b)})::HUGEINT END)"

  /** Logical right shift of a u64. */
  private def shr(x: String, k: Int): String = s"(($x) // ${BigInt(1) << k})"

  /** Rotate-left of a u64 (low and high parts cannot overlap). */
  private def rotl(x: String, r: Int): String =
    s"(((($x) * ${BigInt(1) << r}) % $M) + (($x) // ${BigInt(1) << (64 - r)}))"

  /** 64×64 → low-64 multiply via 32-bit halves (max intermediate ~2^97,
    * safely inside int128).
    */
  private def mul64(a: String, b: String): String =
    s"(((($a) % $B32) * (($b) // $B32) + (($a) // $B32) * (($b) % $B32)) " +
      s"% $B32 * $B32 + (($a) % $B32) * (($b) % $B32)) % $M"

  /** Spark-semantics rounding: Spark's `round` is HALF_UP on the double's
    * SHORTEST DECIMAL representation (`BigDecimal.valueOf`), while plain
    * DuckDB `round` rounds the scaled binary value — divergent exactly on
    * values that print as x.…5 at the target scale. The VARCHAR hop is
    * shortest round-trip and DECIMAL rounding is half-away-from-zero,
    * which is HALF_UP's behavior for both signs.
    */
  private def roundSpark(e: String, n: Int): String =
    s"round(CAST(CAST(($e) AS VARCHAR) AS DECIMAL(38,20)), $n)::DOUBLE"

  /** Chained-CTE builder: each added column is its own projection level. */
  private final class Chain(prefix: String, base: String) {
    private val ctes =
      scala.collection.mutable.ArrayBuffer(s"${prefix}0 AS ($base)")
    private var k = 0
    def add(name: String, expr: String): String = {
      val prev = s"$prefix$k"; k += 1
      ctes += s"$prefix$k AS (SELECT *, $expr AS $name FROM $prev)"
      name
    }
    def addMulti(pairs: Seq[(String, String)]): Unit = {
      val prev = s"$prefix$k"; k += 1
      val sel = pairs.map { case (n, e) => s"$e AS $n" }.mkString(", ")
      ctes += s"$prefix$k AS (SELECT *, $sel FROM $prev)"
    }
    def last: String = s"$prefix$k"
    def render: String = ctes.mkString(",\n")
  }

  /** One 8-byte-word round of XXH64:
    * h' = rotl27(h ^ rotl31(w*P2)*P1)*P1 + P4; NULL w keeps h.
    */
  private def wordStep(ch: Chain, h0: String, w: String,
                       tag: String): String = {
    val a = ch.add(s"${tag}a", mul64(w, P2))
    val b = ch.add(s"${tag}b", rotl(a, 31))
    val c = ch.add(s"${tag}c", mul64(b, P1))
    val d = ch.add(s"${tag}d", xor64(h0, c))
    val e = ch.add(s"${tag}e", s"(${mul64(rotl(d, 27), P1)} + $P4) % $M")
    ch.add(s"${tag}f", s"coalesce($e, $h0)")
  }

  /** XXH64 finalization avalanche. */
  private def fmix(ch: Chain, h: String, tag: String): String = {
    val f1 = ch.add(s"${tag}1", xor64(h, shr(h, 33)))
    val f2 = ch.add(s"${tag}2", mul64(f1, P2))
    val f3 = ch.add(s"${tag}3", xor64(f2, shr(f2, 29)))
    val f4 = ch.add(s"${tag}4", mul64(f3, P3))
    ch.add(s"${tag}5", xor64(f4, shr(f4, 32)))
  }

  /** XXH64.hashLong(l, seed) as chained columns; NULL l yields NULL. */
  private def hashLong(ch: Chain, l: String, seed: String,
                       tag: String): String = {
    val s0 = ch.add(s"${tag}s", s"(($seed) + $P5 + 8) % $M")
    val a = ch.add(s"${tag}a", mul64(l, P2))
    val b = ch.add(s"${tag}b", rotl(a, 31))
    val c = ch.add(s"${tag}c", mul64(b, P1))
    val d = ch.add(s"${tag}d", xor64(s0, c))
    val e = ch.add(s"${tag}e", s"(${mul64(rotl(d, 27), P1)} + $P4) % $M")
    fmix(ch, e, s"${tag}f")
  }

  /** Token rows (doc_id, i, tok) — the same canonicalization as
    * TextHash.tokenize: lower, trim, split on whitespace runs; empty
    * text yields zero tokens (not one empty token).
    */
  private def tokenBase(docsRel: String): String =
    s"""SELECT doc_id, unnest(toks) AS tok, unnest(range(1, len(toks)+1)) AS i FROM (
      |  SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
      |       ELSE regexp_split_to_array(lower(trim(text)), '\\s+') END AS toks
      |  FROM $docsRel)""".stripMargin

  /** XXH64(token bytes, seed 42) for every token: tokh(doc_id, i, thu).
    * `docsRel` lets a caller hash a DERIVED (doc_id, text) relation —
    * e.g. the dual-route fixture's synthetic corpus — instead of the
    * raw documents table.
    */
  private def tokenHashCtes(docsRel: String = "documents"): String = {
    val ch = new Chain("tk", tokenBase(docsRel))
    ch.add("n", "length(tok)::HUGEINT")
    ch.addMulti((0 until 23).map(j =>
      s"by$j" -> s"CASE WHEN n >= ${j + 1} THEN ord(substr(tok, ${j + 1}, 1))::HUGEINT END"))
    var h = ch.add("h0", s"(42 + $P5 + n) % $M")
    val w1 = ch.add("w1", "CASE WHEN n >= 8 THEN " +
      (0 until 8).map(j => s"by$j * ${BigInt(256).pow(j)}").mkString(" + ") +
      " END")
    h = wordStep(ch, h, w1, "t")
    val w2 = ch.add("w2", "CASE WHEN n >= 16 THEN " +
      (0 until 8).map(j => s"by${j + 8} * ${BigInt(256).pow(j)}").mkString(" + ") +
      " END")
    h = wordStep(ch, h, w2, "u")
    // 4-byte little-endian word at byte offset 8*(n//8) when n%8 >= 4
    val i4cases = Seq(0, 8, 16).map { base =>
      val terms = (0 until 4)
        .map(j => s"by${base + j} * ${BigInt(256).pow(j)}").mkString(" + ")
      s"WHEN n // 8 = ${base / 8} THEN $terms"
    }.mkString(" ")
    val i4 = ch.add("i4", s"CASE WHEN n % 8 >= 4 THEN (CASE $i4cases END) END")
    val v1 = ch.add("v1", xor64(h, s"(($i4) * $P1) % $M"))
    val v2 = ch.add("v2", s"(${mul64(rotl(v1, 23), P2)} + $P3) % $M")
    h = ch.add("v3", s"coalesce($v2, $h)")
    // up to 3 tail bytes at offset 8*(n//8) + (4 if the int was consumed)
    ch.add("tboff", "8 * (n // 8) + CASE WHEN n % 8 >= 4 THEN 4 ELSE 0 END")
    for (k <- 0 until 3) {
      val sel = (0 until 23)
        .map(j => s"WHEN tboff + $k = $j THEN by$j").mkString(" ")
      val b = ch.add(s"tb$k",
        s"CASE WHEN n % 4 >= ${k + 1} THEN (CASE $sel END) END")
      val hx = ch.add(s"x${k}a", xor64(h, s"(($b) * $P5) % $M"))
      val hb = ch.add(s"x${k}b", mul64(rotl(hx, 11), P1))
      h = ch.add(s"x${k}c", s"coalesce($hb, $h)")
    }
    val hu = fmix(ch, h, "f")
    ch.add("thu", hu)
    ch.render +
      s",\ntokh AS MATERIALIZED (SELECT doc_id, i, tok, thu FROM ${ch.last})"
  }

  /** Word-3-gram shingle hashes (xxhash64 chain over the window's token
    * hashes, seed 42; short docs yield one whole-document shingle):
    * shash(doc_id, i, shu).
    */
  private def shingleHashCtes(shingleN: Int = 3): String = {
    val joins = (2 to shingleN).map(j =>
      s"  LEFT JOIN tokh t$j ON t$j.doc_id = t1.doc_id AND t$j.i = t1.i + ${j - 1}")
      .mkString("\n")
    val aCols = (2 to shingleN).map(j => s"t$j.thu AS a$j").mkString(", ")
    val sbase =
      s"""SELECT t1.doc_id, t1.i, t1.thu AS a1${if (shingleN > 1) ", " + aCols else ""}
         |  FROM tokh t1
         |  JOIN tcnt USING (doc_id)
         |$joins
         |  WHERE t1.i <= CASE WHEN ntok <= $shingleN THEN 1 ELSE ntok - ${shingleN - 1} END""".stripMargin
    val ch = new Chain("sg", sbase)
    var h = hashLong(ch, "a1", "42::HUGEINT", "w1x")
    for (j <- 2 to shingleN) {
      val hx = hashLong(ch, s"a$j", h, s"w${j}x")
      h = ch.add(s"hh$j", s"coalesce($hx, $h)")
    }
    ch.add("shu", h)
    "tcnt AS MATERIALIZED (SELECT doc_id, count(*) AS ntok FROM tokh GROUP BY doc_id),\n" +
      ch.render +
      s",\nshash AS MATERIALIZED (SELECT doc_id, i, shu FROM ${ch.last})"
  }

  /** MinHash signatures + LSH band candidates, permutation constants from
    * [[TextHashImpl.permConstants]] (splitmix64-derived, identical to the
    * native expression). Bands are matched by VALUE (the Spark side
    * matches by xxhash64 of the band slice — equal modulo 64-bit hash
    * collisions). Emits perms/permuted/mins/sigv/bvals/cand.
    */
  private def minhashCtes(numHashes: Int, rowsPerBand: Int): String = {
    val (pa, pb) = TextHashImpl.permConstants(numHashes)
    val permRows = (0 until numHashes)
      .map(p => s"(${p}, ${u(pa(p))}::HUGEINT, ${u(pb(p))}::HUGEINT)")
      .mkString(", ")
    s"""perms(p, pa, pb) AS (VALUES $permRows),
       |permuted AS (
       |  SELECT s.doc_id, pr.p, ${sig(s"(${mul64("pr.pa", "s.shu")} + pr.pb) % $M")} AS pv
       |  FROM shash s CROSS JOIN perms pr),
       |mins AS MATERIALIZED (SELECT doc_id, p, min(pv) AS mv FROM permuted GROUP BY doc_id, p),
       |sigv AS MATERIALIZED (SELECT doc_id, list(mv ORDER BY p) AS sg FROM mins GROUP BY doc_id),
       |bvals AS MATERIALIZED (SELECT doc_id, p // $rowsPerBand AS band, list(mv ORDER BY p) AS bv
       |          FROM mins GROUP BY doc_id, p // $rowsPerBand),
       |cand AS MATERIALIZED (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |         FROM bvals a JOIN bvals b ON a.band = b.band AND a.bv = b.bv
       |              AND a.doc_id < b.doc_id)""".stripMargin
  }

  /** 4-dp exact-grid signature-agreement estimate — the DuckDB twin of
    * engine `Dedup.estJaccard` (OVERFLOW_AUDIT r14): matches and
    * numHashes are exact ints, so integer half-up onto the 1e-4 grid
    * (`(2k·10⁴ + n) // (2n)`) followed by ONE exact division replaces
    * the build-sensitive `round(DOUBLE, 4)` tail.
    */
  private def estJaccardE4(numHashes: Int): String =
    s"(CAST((2 * len(list_filter(range(1, ${numHashes + 1}), i -> sa.sg[i] = sb.sg[i])) * 10000 + $numHashes) // (2 * $numHashes) AS DOUBLE) / 10000.0)"

  /** Exact-grid ratio of two non-negative exact ints a/b at 10^-s —
    * DuckDB twin of `graft.functions.ExactGrid.eRatio` (integer
    * half-up, one exact division, no round(DOUBLE, n) tail).
    */
  private[graft] def eRatioE(a: String, b: String, scale: Long): String =
    s"(CAST((2 * ($a) * $scale + ($b)) // (2 * ($b)) AS DOUBLE) / $scale.0)"

  /** Oracle for `dedup_minhash`: LSH candidates with signature-agreement
    * estimate >= 0.5.
    */
  def dedupMinhash(numHashes: Int = 16, rowsPerBand: Int = 2): String = {
    val est = estJaccardE4(numHashes)
    s"""WITH ${tokenHashCtes()},
       |${shingleHashCtes()},
       |${minhashCtes(numHashes, rowsPerBand)}
       |SELECT c.id_a, c.id_b, $est AS est_jaccard
       |FROM cand c JOIN sigv sa ON sa.doc_id = c.id_a
       |            JOIN sigv sb ON sb.doc_id = c.id_b
       |WHERE $est >= 0.5""".stripMargin
  }

  /** Oracle for `dedup_containment`: MinHash-LSH candidate pairs (same
    * CTEs as [[dedupMinhash]]), exact containment of the smaller
    * distinct-shingle-hash set in the larger —
    * `|A∩B| / min(|A|,|B|)` — computed over the `shash` hash domain the
    * engine's [[graft.expressions.SortedArrayOverlap]] merges.
    */
  def dedupContainment(numHashes: Int = 16, rowsPerBand: Int = 2,
                       minCont: Double = 0.5): String =
    s"""WITH ${tokenHashCtes()},
       |${shingleHashCtes()},
       |${minhashCtes(numHashes, rowsPerBand)},
       |ssz AS MATERIALIZED (
       |  SELECT doc_id, count(DISTINCT shu) AS sz FROM shash GROUP BY doc_id),
       |ov AS (
       |  SELECT c.id_a, c.id_b, count(DISTINCT sa.shu) AS ovl
       |  FROM cand c
       |  JOIN shash sa ON sa.doc_id = c.id_a
       |  JOIN shash sb ON sb.doc_id = c.id_b AND sb.shu = sa.shu
       |  GROUP BY c.id_a, c.id_b),
       |ct AS (
       |  SELECT o.id_a, o.id_b,
       |    ${eRatioE("o.ovl", "least(za.sz, zb.sz)", 10000L)}
       |      AS containment
       |  FROM ov o JOIN ssz za ON za.doc_id = o.id_a
       |            JOIN ssz zb ON zb.doc_id = o.id_b)
       |SELECT id_a, id_b, containment FROM ct
       |WHERE containment >= $minCont""".stripMargin

  /** Oracle for `text_cdc_chunks`: the same token-hash chain (`tokh`),
    * boundary rule `thu % 2^maskBits == 0` (u64 low bits == the
    * engine's two's-complement bitwise-AND), prefix-sum chunk index,
    * and md5 over the 1-based token slice.
    */
  def textCdcChunks(maskBits: Int = 4): String = {
    val mod = 1L << maskBits
    s"""WITH ${tokenHashCtes()},
       |bnd AS (
       |  SELECT doc_id, i,
       |    CASE WHEN (thu % $mod) = 0 THEN 1 ELSE 0 END AS f
       |  FROM tokh),
       |cix AS (
       |  SELECT doc_id, i,
       |    coalesce(sum(f) OVER (PARTITION BY doc_id ORDER BY i
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS chunk_idx
       |  FROM bnd),
       |g AS (
       |  SELECT doc_id, chunk_idx::BIGINT AS chunk_idx,
       |    min(i)::BIGINT AS start_tok, count(*)::BIGINT AS n_toks
       |  FROM cix GROUP BY 1, 2),
       |d AS (
       |  SELECT doc_id,
       |    CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
       |         ELSE regexp_split_to_array(lower(trim(text)), '\\s+') END
       |      AS toks
       |  FROM documents)
       |SELECT g.doc_id, g.chunk_idx, g.start_tok, g.n_toks,
       |  md5(array_to_string(
       |    d.toks[g.start_tok : g.start_tok + g.n_toks - 1], ' '))
       |    AS fingerprint
       |FROM g JOIN d USING (doc_id)""".stripMargin
  }

  /** Oracle for `text_novelty`: the same bigram shingle-hash chain,
    * reference set = distinct hashes of the `doc_id % 10 < 5` half,
    * per-candidate coverage by hash join, one division, Spark rounding.
    */
  def textNovelty(): String =
    s"""WITH ${tokenHashCtes()},
       |${shingleHashCtes(2)},
       |refset AS MATERIALIZED (
       |  SELECT DISTINCT shu FROM shash WHERE doc_id % 10 < 5),
       |cs AS MATERIALIZED (
       |  SELECT DISTINCT doc_id, shu FROM shash WHERE doc_id % 10 >= 5),
       |tot AS (SELECT doc_id, count(*) AS n_bigrams FROM cs GROUP BY 1),
       |hit AS (
       |  SELECT c.doc_id, count(*) AS k
       |  FROM cs c JOIN refset r USING (shu) GROUP BY 1)
       |SELECT t.doc_id, t.n_bigrams,
       |  ${eRatioE("t.n_bigrams - coalesce(h.k, 0)", "t.n_bigrams",
            10000L)}
       |    AS novelty
       |FROM tot t LEFT JOIN hit h USING (doc_id)""".stripMargin

  /** Oracle for `approx_distinct_kmv`: the KMV estimate is reproduced
    * EXACTLY — XXH64.hashLong(l_orderkey, 42) via the HUGEINT chain,
    * distinct hashes ranked unsigned-ascending per group, estimate
    * `(k-1) * 2^64 // u_k` in HUGEINT floor division (the engine does
    * the identical BigInt math), exact count below k. Scope: key column
    * must be a non-negative BIGINT (signed bit-pattern == HUGEINT value;
    * l_orderkey >= 1 by construction).
    */
  /** Oracle for `approx_jaccard_kmv`: KMV/theta set algebra between
    * the even- and odd-doc token-hash sets, reproduced exactly. Per
    * side: distinct XXH64 token hashes (seed 42, the [[tokenHashCtes]]
    * emulation), the k unsigned-smallest retained, theta = k-th value
    * (2^64 sentinel below k). Global theta = least of the two; the
    * theta-filtered retained sets give the exact sample intersection/
    * union the engine computes on its two deserialized sketch buffers,
    * and the union estimate re-runs the KMV estimator on the merged
    * k-min set — all HUGEINT, no floats.
    */
  def approxJaccardKmv(k: Int = 256): String = {
    val km1 = k - 1
    s"""WITH ${tokenHashCtes()},
       |sides AS (
       |  SELECT CASE WHEN doc_id % 2 = 0 THEN 'even' ELSE 'odd' END
       |    AS side, thu FROM tokh),
       |dh AS (SELECT DISTINCT side, thu FROM sides),
       |rk AS (SELECT side, thu,
       |    row_number() OVER (PARTITION BY side ORDER BY thu) AS rn,
       |    count(*) OVER (PARTITION BY side) AS n
       |  FROM dh),
       |ret AS (SELECT side, thu, rn, n FROM rk WHERE rn <= $k),
       |th AS (SELECT side, max(n) AS n,
       |    CASE WHEN max(n) >= $k
       |      THEN max(CASE WHEN rn = $k THEN thu END)
       |      ELSE 18446744073709551616::HUGEINT END AS theta
       |  FROM ret GROUP BY side),
       |est AS (SELECT side,
       |    CASE WHEN n < $k THEN n::HUGEINT
       |      ELSE ($km1::HUGEINT * 18446744073709551616) // theta END
       |      AS est
       |  FROM th),
       |g AS (SELECT min(theta) AS theta FROM th),
       |sa AS (SELECT r.thu FROM ret r, g
       |  WHERE r.side = 'even' AND r.thu < g.theta),
       |sb AS (SELECT r.thu FROM ret r, g
       |  WHERE r.side = 'odd' AND r.thu < g.theta),
       |samp AS (SELECT
       |    (SELECT count(*) FROM sa JOIN sb ON sa.thu = sb.thu)::HUGEINT
       |      AS inter,
       |    (SELECT count(DISTINCT thu) FROM
       |      (SELECT thu FROM sa UNION ALL SELECT thu FROM sb))::HUGEINT
       |      AS uni),
       |um AS (SELECT DISTINCT thu FROM ret),
       |urk AS (SELECT thu,
       |    row_number() OVER (ORDER BY thu) AS rn,
       |    count(*) OVER () AS n
       |  FROM um),
       |uag AS (SELECT max(CASE WHEN rn = $k THEN thu END) AS uk,
       |    least(max(n), $k) AS n
       |  FROM urk WHERE rn <= $k),
       |uest AS (SELECT CASE WHEN n < $k THEN n::HUGEINT
       |    ELSE ($km1::HUGEINT * 18446744073709551616) // uk END AS est
       |  FROM uag)
       |SELECT
       |  (SELECT est FROM est WHERE side = 'even')::BIGINT AS n_even_est,
       |  (SELECT est FROM est WHERE side = 'odd')::BIGINT AS n_odd_est,
       |  (SELECT est FROM uest)::BIGINT AS union_est,
       |  samp.inter::BIGINT AS sample_inter,
       |  samp.uni::BIGINT AS sample_union,
       |  (CASE WHEN samp.uni = 0 THEN 0
       |    ELSE (samp.inter * 1000000) // samp.uni END)::BIGINT
       |    AS jaccard_ppm
       |FROM samp""".stripMargin
  }

  def approxDistinctKmv(k: Int = 256): String = {
    val ch = new Chain("kv",
      "SELECT DISTINCT l_returnflag AS grp, l_orderkey::HUGEINT AS lv FROM lineitem")
    val hv = hashLong(ch, "lv", "42", "h")
    s"""WITH ${ch.render},
       |hh AS MATERIALIZED (SELECT DISTINCT grp, $hv AS hv FROM ${ch.last}),
       |rk AS (SELECT grp, hv,
       |         row_number() OVER (PARTITION BY grp ORDER BY hv) AS rn,
       |         count(*) OVER (PARTITION BY grp) AS n
       |       FROM hh),
       |ag AS (SELECT grp, max(n) AS n,
       |         max(CASE WHEN rn = $k THEN hv END) AS uk
       |       FROM rk GROUP BY grp),
       |ex AS (SELECT l_returnflag AS grp,
       |         count(DISTINCT l_orderkey) AS exact_orders
       |       FROM lineitem GROUP BY 1)
       |SELECT a.grp AS l_returnflag,
       |  CASE WHEN a.n < $k THEN a.n::BIGINT
       |       ELSE least((${k - 1}::HUGEINT * 18446744073709551616) // a.uk,
       |                  9223372036854775807)::BIGINT END AS approx_orders,
       |  e.exact_orders
       |FROM ag a JOIN ex e ON e.grp = a.grp""".stripMargin
  }

  /** Oracle for `approx_distinct_hll` (and, via lossless elementwise-max
    * register merge, `approx_distinct_hll_rollup`): the whole HLL
    * pipeline re-derived in SQL from the shared constants in
    * [[graft.expressions.Hll]] — bucket/rank by integer bit tests on
    * the emulated XXH64, the harmonic sum as the exact dyadic HUGEINT
    * `Σ 2^(59-M_j)`, the raw estimate as one HUGEINT floor division
    * with α pre-scaled to millionths, and the linear-counting
    * correction from the SAME 64-entry scaled-ln table the engine
    * compiles in. No floats anywhere, so the approximation matches the
    * engine bit-for-bit.
    */
  def approxDistinctHll(): String = {
    import graft.expressions.Hll
    val sb = Hll.SuffixBits
    val two = BigInt(1) << sb
    val ch = new Chain("hl",
      "SELECT DISTINCT l_returnflag AS grp, l_orderkey::HUGEINT AS lv FROM lineitem")
    val hv = hashLong(ch, "lv", "42", "h")
    val rankCase = (1 to sb)
      .map(r => s"WHEN sfx >= ${BigInt(1) << (sb - r)} THEN $r")
      .mkString("\n|     ")
    val termCase = (0 to sb + 1)
      .map(m => s"WHEN $m THEN ${BigInt(1) << (sb + 1 - m)}")
      .mkString("\n|           ")
    val lnCase = (1 to Hll.M)
      .map(v => s"WHEN $v THEN ${Hll.LnTable(v - 1)}")
      .mkString("\n|            ")
    s"""WITH ${ch.render},
       |hh AS MATERIALIZED (SELECT DISTINCT grp, $hv AS hv FROM ${ch.last}),
       |bx AS (SELECT grp, hv // $two AS j, hv % $two AS sfx FROM hh),
       |br AS (SELECT grp, j,
       |   CASE WHEN sfx = 0 THEN ${sb + 1}
       |     $rankCase END AS r FROM bx),
       |regs AS (SELECT grp, j, max(r) AS m FROM br GROUP BY 1, 2),
       |fr AS (SELECT g.grp, t.j, coalesce(rg.m, 0) AS m
       |       FROM (SELECT DISTINCT grp FROM regs) g
       |       CROSS JOIN range(0, ${Hll.M}) t(j)
       |       LEFT JOIN regs rg ON rg.grp = g.grp AND rg.j = t.j),
       |ag AS (SELECT grp,
       |         sum(CASE m
       |           $termCase END)::HUGEINT AS s,
       |         sum(CASE WHEN m = 0 THEN 1 ELSE 0 END)::BIGINT AS v
       |       FROM fr GROUP BY grp),
       |es AS (SELECT grp, v,
       |         CAST('${Hll.RawNumerator}' AS HUGEINT) // (s * 1000000)
       |           AS raw
       |       FROM ag),
       |ex AS (SELECT l_returnflag AS grp,
       |         count(DISTINCT l_orderkey) AS exact_orders
       |       FROM lineitem GROUP BY 1)
       |SELECT e.grp AS l_returnflag,
       |  CASE WHEN e.v > 0 AND e.raw <= ${Hll.LinearThreshold}
       |       THEN (${Hll.M}::HUGEINT * (CASE e.v
       |            $lnCase END)) // 1000000
       |       ELSE least(e.raw, 9223372036854775807) END::BIGINT
       |    AS approx_orders,
       |  x.exact_orders
       |FROM es e JOIN ex x ON x.grp = e.grp""".stripMargin
  }

  /** Oracle for `split_train_val_test`: same id-hash bucket, same
    * cumulative thresholds, first-match-wins CASE.
    */
  def assignSplit(fractions: Seq[(String, Double)]): String = {
    val scale = 1000000L
    val cum = fractions.scanLeft(0.0) { case (a, (_, f)) => a + f }
      .tail.map(c => (c * scale).toLong)
    val whens = fractions.init.zip(cum.init)
      .map { case ((n, _), t) => s"WHEN b < $t THEN '$n'" }
      .mkString(" ")
    s"""WITH ${idHashCtes()},
       |bk AS (SELECT doc_id,
       |         ((hv % $scale) + $scale) % $scale AS b FROM hashed)
       |SELECT doc_id,
       |  CASE $whens ELSE '${fractions.last._1}' END AS split
       |FROM bk""".stripMargin
  }

  /** Oracle for `interpolate_hourly`: same dedupe (max per second),
    * same lead-window segmentation, same per-segment grid explode, and
    * the interpolation formula in the same IEEE association, with
    * Spark-semantics rounding.
    */
  def interpolateHourly(): String =
    s"""WITH obs AS (
       |  SELECT event_type AS t, CAST(floor(epoch(ts)) AS BIGINT) AS e,
       |         max(value) AS v
       |  FROM events GROUP BY 1, 2),
       |seg AS (
       |  SELECT t, e, v,
       |    lead(e) OVER (PARTITION BY t ORDER BY e) AS ne,
       |    lead(v) OVER (PARTITION BY t ORDER BY e) AS nv
       |  FROM obs),
       |b AS (
       |  SELECT *, ((e + 3599) // 3600) * 3600 AS gs,
       |    CASE WHEN ne IS NULL THEN e ELSE ne - 1 END AS ge
       |  FROM seg),
       |g AS (
       |  SELECT t, e, v, ne, nv,
       |    unnest(CASE WHEN gs <= ge THEN generate_series(gs, ge, 3600)
       |           ELSE [] END) AS grid
       |  FROM b)
       |SELECT t AS event_type, grid AS grid_epoch,
       |  ${roundSpark(
            "CASE WHEN ne IS NULL THEN v ELSE v + (nv - v) * " +
              "((grid - e)::DOUBLE / (ne - e)::DOUBLE) END", 4)}
       |    AS value_interp
       |FROM g""".stripMargin

  /** Oracle for `bm25_topk`: same tf/df/len aggregations, the SAME
    * IEEE double operations in the same association order (the engine
    * folds term scores in sorted-term order left-to-right; DuckDB's
    * `list_reduce(list(x ORDER BY term), +)` reproduces it — the fold's
    * `0.0 + s1` seed is bit-transparent for positive scores), ranking
    * on the 4-decimal Spark-rounded score with a doc-id tie-break.
    */
  def bm25TopK(queries: Seq[(Int, String)], k: Int,
               k1: Double = 1.2, b: Double = 0.75): String =
    s"WITH ${bm25Ctes(queries, k1, b)}\n" +
      s"SELECT query_id, rank, doc_id, score FROM rk WHERE rank <= $k"

  /** Shared CTE body for [[bm25TopK]] and [[hybridRrf]]: tokenization,
    * tf/df/len, the query-term VALUES table, per-(query, doc) scores,
    * and the `rk` ranking.
    */
  private def bm25Ctes(queries: Seq[(Int, String)],
                       k1: Double, b: Double): String = {
    val qvals = queries.flatMap { case (qid, text) =>
      text.toLowerCase.trim.split("\\s+").toSeq.distinct
        .map(t => s"($qid, '$t')")
    }.mkString(", ")
    s"""t AS (
       |  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)),
       |    '\\s+')) AS term
       |  FROM documents WHERE length(trim(text)) > 0),
       |dl AS (SELECT doc_id, count(*) AS len FROM t GROUP BY 1),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
       |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |st AS (SELECT count(*) AS n_docs, sum(len) AS total_len FROM dl),
       |qt(query_id, term) AS (VALUES $qvals),
       |sc AS (
       |  SELECT qt.query_id, tf.doc_id, tf.term,
       |    ln(1.0 + (st.n_docs::DOUBLE - dfq.df + 0.5) / (dfq.df + 0.5))
       |      * (tf.tf * ${k1 + 1.0})
       |      / (tf.tf + $k1 * (${1.0 - b} + $b * dl.len::DOUBLE
       |          / (st.total_len::DOUBLE / st.n_docs::DOUBLE))) AS tscore
       |  FROM tf JOIN qt USING (term) JOIN dfq USING (term)
       |    JOIN dl USING (doc_id) CROSS JOIN st),
       |pd AS (
       |  SELECT query_id, doc_id,
       |    list_reduce(list(tscore ORDER BY term),
       |      (acc, x) -> acc + x) AS raw
       |  FROM sc GROUP BY 1, 2),
       |rs AS (SELECT query_id, doc_id,
       |         ${roundSpark("raw", 4)} AS score FROM pd),
       |rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
       |         ORDER BY CAST(round(score * 10000) AS BIGINT) DESC,
       |                  doc_id ASC) AS INTEGER) AS rank
       |       FROM rs)""".stripMargin
  }

  /** Oracle for `hybrid_retrieval_rrf`: reciprocal-rank fusion of the
    * BM25 ranking (shared CTEs) and a boolean term-overlap ranking.
    * The fused score `coalesce(1/(c+rank_a), 0) + coalesce(1/(c+rank_b),
    * 0)` is two IEEE divisions and one addition in fixed order — exact
    * cross-engine — then Spark-rounded for the rank key.
    */
  def hybridRrf(queries: Seq[(Int, String)], k: Int, c: Int = 60,
                k1: Double = 1.2, b: Double = 0.75): String =
    s"""WITH ${bm25Ctes(queries, k1, b)},
       |bm AS (SELECT query_id, doc_id, rank FROM rk WHERE rank <= $k),
       |ov AS (SELECT qt.query_id, tf.doc_id, count(*) AS overlap
       |       FROM tf JOIN qt USING (term) GROUP BY 1, 2),
       |ovr AS (SELECT query_id, doc_id,
       |          row_number() OVER (PARTITION BY query_id
       |            ORDER BY overlap DESC, doc_id ASC) AS rank
       |        FROM ov),
       |ob AS (SELECT query_id, doc_id, rank FROM ovr WHERE rank <= $k),
       |fu AS (
       |  SELECT coalesce(bm.query_id, ob.query_id) AS query_id,
       |    coalesce(bm.doc_id, ob.doc_id) AS doc_id,
       |    CASE
       |      WHEN bm.rank IS NOT NULL AND ob.rank IS NOT NULL THEN
       |        ${eRatioE(s"($c + bm.rank) + ($c + ob.rank)",
                  s"($c + bm.rank) * ($c + ob.rank)", 1000000L)}
       |      WHEN bm.rank IS NOT NULL THEN
       |        ${eRatioE("1", s"$c + bm.rank", 1000000L)}
       |      ELSE ${eRatioE("1", s"$c + ob.rank", 1000000L)}
       |    END AS rrf
       |  FROM bm FULL OUTER JOIN ob
       |    ON bm.query_id = ob.query_id AND bm.doc_id = ob.doc_id),
       |fr AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
       |         ORDER BY CAST(round(rrf * 1000000) AS BIGINT) DESC,
       |                  doc_id ASC) AS INTEGER) AS rank
       |       FROM fu)
       |SELECT query_id, rank, doc_id, rrf FROM fr WHERE rank <= $k""".stripMargin

  /** Oracle for `approx_quantiles_sample` (and its lossless rollup
    * twin): emulate the deterministic bottom-k row sample — rank rows by
    * the chained xxhash64 of the (orderkey, linenumber) row key, keep
    * the k unsigned-smallest per group, and read the positional quantile
    * `ceil(q * m)` off the sample's value order. IEEE `q * m` and ceil
    * are bit-deterministic in both engines, so the estimate matches
    * exactly.
    */
  def quantileSample(k: Int = 256,
                     qs: Seq[(String, Double)] = Seq(
                       "p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99)): String = {
    val ch = new Chain("qq",
      "SELECT l_returnflag AS g, l_quantity AS v, " +
        "l_orderkey::HUGEINT AS ka, l_linenumber::HUGEINT AS kb " +
        "FROM lineitem")
    val h1 = hashLong(ch, "ka", "42", "p")
    val h2 = hashLong(ch, "kb", h1, "w")
    val cols = qs.map { case (n, q) =>
      s"max(CASE WHEN vr.r = greatest(1, least(m.m, " +
        s"CAST(ceil($q * m.m) AS BIGINT))) THEN vr.v END) AS $n"
    }.mkString(",\n  ")
    s"""WITH ${ch.render},
       |dd AS (SELECT g, $h2 AS hv, min(v) AS v
       |       FROM ${ch.last} GROUP BY 1, 2),
       |rk AS (SELECT g, v,
       |         row_number() OVER (PARTITION BY g ORDER BY hv) AS rn
       |       FROM dd),
       |smp AS (SELECT g, v FROM rk WHERE rn <= $k),
       |m AS (SELECT g, count(*) AS m FROM smp GROUP BY g),
       |vr AS (SELECT s.g, s.v,
       |         row_number() OVER (PARTITION BY s.g ORDER BY s.v) AS r
       |       FROM smp s)
       |SELECT vr.g AS l_returnflag,
       |  $cols
       |FROM vr JOIN m ON m.g = vr.g
       |GROUP BY 1""".stripMargin
  }

  /** Oracle for `events_rolling_quantiles`: per-day bottom-k sketch
    * states merged over a trailing `window`-day frame. Reproduces the
    * engine ([[graft.expressions.KqBuffer]]) EXACTLY: rows hash by
    * event_id (the emulated xxhash64 chain, seed 42), each day keeps
    * the k unsigned-smallest (hash → min value) pairs, the window
    * merge re-applies the same rule over the union of the member
    * days' samples (bottom-k of bottom-k unions is lossless), and the
    * quantile is the value at 1-based rank `ceil(q·m)` of the merged
    * sample's sorted values.
    */
  def eventsRollingQuantiles(k: Int = 256, window: Int = 7): String = {
    val ch = new Chain("rq",
      "SELECT datediff('day', DATE '2024-01-01', ts::DATE)::INT AS day, " +
        "CAST(round(value * 100) AS DOUBLE) AS v, " +
        "event_id::HUGEINT AS ka FROM events")
    val h = hashLong(ch, "ka", "42", "p")
    s"""WITH ${ch.render},
       |dd AS (SELECT day, $h AS hv, min(v) AS v
       |       FROM ${ch.last} GROUP BY 1, 2),
       |rk AS (SELECT day, hv, v,
       |         row_number() OVER (PARTITION BY day ORDER BY hv) AS rn
       |       FROM dd),
       |smp AS (SELECT day, hv, v FROM rk WHERE rn <= $k),
       |days AS (SELECT DISTINCT day FROM dd),
       |wm AS (SELECT t.day AS day, s.hv, min(s.v) AS v
       |       FROM days t JOIN smp s
       |         ON s.day BETWEEN t.day - ${window - 1} AND t.day
       |       GROUP BY 1, 2),
       |wrk AS (SELECT day, hv, v,
       |          row_number() OVER (PARTITION BY day ORDER BY hv) AS rn
       |        FROM wm),
       |wsmp AS (SELECT day, v FROM wrk WHERE rn <= $k),
       |m AS (SELECT day, count(*) AS m FROM wsmp GROUP BY day),
       |vr AS (SELECT s.day, s.v,
       |         row_number() OVER (PARTITION BY s.day ORDER BY s.v) AS r
       |       FROM wsmp s)
       |SELECT vr.day,
       |  max(CASE WHEN vr.r = greatest(1, least(m.m,
       |    CAST(ceil(0.5 * m.m) AS BIGINT))) THEN vr.v END) AS p50_cents,
       |  max(CASE WHEN vr.r = greatest(1, least(m.m,
       |    CAST(ceil(0.9 * m.m) AS BIGINT))) THEN vr.v END) AS p90_cents
       |FROM vr JOIN m ON m.day = vr.day
       |GROUP BY 1""".stripMargin
  }

  /** Oracle for `heavy_hitters_cms`: bit-exact count-min emulation.
    * Token strings hash once (the existing xxhash64 string emulation),
    * each distinct hash re-hashes per sketch row via `hashLong(thu,
    * 1000+r)`, buckets are the low bits (`w` a power of two, so the
    * unsigned mod equals the JVM's signed mask), and each row's bucket
    * count is the sum of colliding tokens' exact counts — exactly the
    * grid the Spark aggregate builds. The estimate is the least of the
    * d bucket counts. Heavy hitters = tokens with above-`1/vocabFactor`
    * frequency (integer-exact threshold).
    */
  def heavyHittersCms(d: Int = 4, w: Int = 32,
                      vocabFactor: Int = 32): String = {
    require(w >= 2 && (w & (w - 1)) == 0, s"w must be a power of two: $w")
    val ch = new Chain("cm", "SELECT thu FROM tc")
    val bCols = (1 to d).map { r =>
      val h = hashLong(ch, "thu", (1000 + r).toString, s"r$r")
      ch.add(s"b$r", s"($h) % $w")
    }
    val bcCtes = (1 to d).map { r =>
      s"""bc$r AS (SELECT dh.b$r AS b, sum(t.exact_cnt)::BIGINT AS cnt
         |  FROM dh JOIN tc t ON t.thu = dh.thu GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    val joins = (1 to d)
      .map(r => s"JOIN bc$r c$r ON c$r.b = dh.b$r").mkString("\n  ")
    val leastExpr = (1 to d).map(r => s"c$r.cnt")
      .mkString("least(", ", ", ")")
    s"""WITH ${tokenHashCtes()},
       |tc AS MATERIALIZED (SELECT thu, any_value(tok) AS token,
       |    count(*)::BIGINT AS exact_cnt FROM tokh GROUP BY thu),
       |${ch.render},
       |dh AS MATERIALIZED (SELECT thu, ${bCols.mkString(", ")}
       |  FROM ${ch.last}),
       |$bcCtes,
       |tot AS (SELECT sum(exact_cnt) AS n FROM tc)
       |SELECT t.token, t.exact_cnt, $leastExpr AS cms_cnt
       |FROM tc t JOIN dh ON dh.thu = t.thu
       |  $joins
       |  CROSS JOIN tot
       |WHERE t.exact_cnt * $vocabFactor >= tot.n""".stripMargin
  }

  /** Oracle for `dedup_incremental`: same banding CTEs over ALL docs;
    * keep candidate pairs touching at least one "new" doc
    * (doc_id % 10 >= 8), drop hist-hist, orient so the reported doc is
    * always new (for a new-hist pair the new side, for new-new the
    * HIGHER id — lowest-id-kept convention), estimate from signature
    * agreement. k/numHashes estimates are exact in <= 4 decimals, so the
    * round is semantics-free on both sides.
    */
  def dedupIncremental(numHashes: Int = 16, rowsPerBand: Int = 2,
                       newMod: Int = 10, newFrom: Int = 8): String = {
    val est = estJaccardE4(numHashes)
    val aNew = s"(c.id_a % $newMod >= $newFrom)"
    val bNew = s"(c.id_b % $newMod >= $newFrom)"
    s"""WITH ${tokenHashCtes()},
       |${shingleHashCtes()},
       |${minhashCtes(numHashes, rowsPerBand)}
       |SELECT
       |  CASE WHEN $aNew AND NOT $bNew THEN c.id_a ELSE c.id_b END AS doc_id,
       |  CASE WHEN $aNew AND NOT $bNew THEN c.id_b ELSE c.id_a END AS dup_of,
       |  CASE WHEN $aNew <> $bNew THEN 'history' ELSE 'batch' END AS dup_source,
       |  $est AS est_jaccard
       |FROM cand c JOIN sigv sa ON sa.doc_id = c.id_a
       |            JOIN sigv sb ON sb.doc_id = c.id_b
       |WHERE ($aNew OR $bNew) AND $est >= 0.5""".stripMargin
  }

  /** Oracle for `dedup_ngram_jaccard`: exact Jaccard over distinct
    * shingle-hash sets, restricted to the LSH candidate pairs.
    */
  def dedupNgramJaccard(numHashes: Int = 16, rowsPerBand: Int = 2): String = {
    val jac = eRatioE("coalesce(i.ic, 0)",
      "za.sz + zb.sz - coalesce(i.ic, 0)", 10000L)
    s"""WITH ${tokenHashCtes()},
       |${shingleHashCtes()},
       |${minhashCtes(numHashes, rowsPerBand)},
       |sset AS MATERIALIZED (SELECT DISTINCT doc_id, shu FROM shash),
       |ssz AS MATERIALIZED (SELECT doc_id, count(*) AS sz FROM sset GROUP BY doc_id),
       |inter AS (
       |  SELECT c.id_a, c.id_b, count(*) AS ic
       |  FROM cand c
       |  JOIN sset x ON x.doc_id = c.id_a
       |  JOIN sset y ON y.doc_id = c.id_b AND y.shu = x.shu
       |  GROUP BY c.id_a, c.id_b)
       |SELECT c.id_a, c.id_b, $jac AS jaccard
       |FROM cand c
       |JOIN ssz za ON za.doc_id = c.id_a
       |JOIN ssz zb ON zb.doc_id = c.id_b
       |LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
       |WHERE $jac >= 0.5""".stripMargin
  }

  /** MinHash candidates (est >= 0.5) closed into connected components by
    * a recursive CTE: comp(doc_id, rep_id). Emitted after the
    * token/shingle/minhash CTEs.
    */
  /** Filtered near-dup candidate pairs (signature estimate >= 0.5) and
    * their symmetric edge/vertex closure: fcand/edges/verts. Shared by
    * the components and PageRank oracles.
    */
  private def edgeCtes(numHashes: Int): String = {
    val est = estJaccardE4(numHashes)
    s"""fcand AS MATERIALIZED (
       |  SELECT c.id_a, c.id_b
       |  FROM cand c JOIN sigv sa ON sa.doc_id = c.id_a
       |              JOIN sigv sb ON sb.doc_id = c.id_b
       |  WHERE $est >= 0.5),
       |edges AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM fcand
       |          UNION SELECT id_b, id_a FROM fcand),
       |verts AS MATERIALIZED (SELECT DISTINCT src AS id FROM edges)""".stripMargin
  }

  private def componentCtes(numHashes: Int): String =
    s"""${edgeCtes(numHashes)},
       |reach(id, r) AS (
       |  SELECT id, id FROM verts
       |  UNION
       |  SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r),
       |comp AS (SELECT id AS doc_id, min(r) AS rep_id FROM reach GROUP BY id)""".stripMargin

  /** Oracle for `graph_triangles`: canonical a<b near-dup edges,
    * wedges closed by the (a, c) edge, per-vertex membership counts —
    * mirrors [[graft.functions.Graph.triangleCounts]].
    */
  /** Oracle for `dedup_prefix_filter`: the PPJoin pipeline replayed in
    * plain SQL — distinct tokens, df rollup, rare-first per-doc prefix
    * via row_number, prefix-token candidate join, exact intersection
    * count, integer jac_ppm gate. Mirrors
    * [[graft.functions.Dedup.prefixFilterPairs]].
    *
    * r14 (VERDICT r13 #3): the intersection count is computed as
    * `len(list_intersect)` over per-doc INTEGER token-id lists (a
    * dense token→id bijection keeps it exact) instead of the
    * cand × tk × tk re-join + group-by whose intermediate spilled
    * >77 GB at the 10× fixture — the list build is corpus-sized, the
    * per-pair intersection streams, and the oracle stays one
    * statement.
    */
  def dedupPrefixFilter(minSim: Double = 0.5, shingleN: Int = 3): String = {
    val minPpm = math.round(minSim * 1000000)
    val n = shingleN
    s"""WITH toks AS (
       |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+')
       |    AS a
       |  FROM documents WHERE length(trim(text)) > 0),
       |raw AS (
       |  SELECT doc_id, unnest(
       |    CASE WHEN len(a) <= $n THEN [array_to_string(a, ' ')]
       |    ELSE [array_to_string(a[i+1:i+$n], ' ')
       |          FOR i IN range(0, len(a) - ${n - 1})] END) AS token
       |  FROM toks),
       |tk AS MATERIALIZED (SELECT DISTINCT doc_id, token FROM raw),
       |dfq AS (SELECT token, count(*) AS df FROM tk GROUP BY 1),
       |sz AS MATERIALIZED (
       |  SELECT doc_id, count(*) AS sz FROM tk GROUP BY 1),
       |pref AS MATERIALIZED (
       |  SELECT doc_id, token FROM (
       |    SELECT t.doc_id, t.token, s.sz,
       |      row_number() OVER (PARTITION BY t.doc_id
       |        ORDER BY d.df ASC, t.token ASC) AS pos
       |    FROM tk t JOIN dfq d USING (token) JOIN sz s USING (doc_id))
       |  WHERE pos <= sz - ceil($minSim * sz) + 1),
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM pref a JOIN pref b ON b.token = a.token
       |    AND a.doc_id < b.doc_id),
       |tid AS MATERIALIZED (
       |  SELECT token, row_number() OVER (ORDER BY token) AS t
       |  FROM (SELECT DISTINCT token FROM tk)),
       |tkl AS MATERIALIZED (
       |  SELECT k.doc_id, list(d.t ORDER BY d.t) AS tl
       |  FROM tk k JOIN tid d USING (token) GROUP BY 1),
       |q AS (
       |  SELECT c.id_a, c.id_b,
       |    len(list_intersect(a.tl, b.tl))::BIGINT AS ic,
       |    len(a.tl)::BIGINT AS sza, len(b.tl)::BIGINT AS szb
       |  FROM cand c JOIN tkl a ON a.doc_id = c.id_a
       |              JOIN tkl b ON b.doc_id = c.id_b)
       |SELECT id_a, id_b, ic,
       |  ((ic * 1000000) // (sza + szb - ic))::BIGINT AS jac_ppm
       |FROM q
       |WHERE (ic * 1000000) // (sza + szb - ic) >= $minPpm""".stripMargin
  }

  /** Oracle for `recs_als_rank1`: the two ALS alternations unrolled —
    * identical ratings rollup, identical integer factor updates
    * (per-term v²//1e6 truncation, integral num·1e6//(den+λ)
    * division — all operands positive so DuckDB floor-div equals
    * Spark trunc-div), identical fixed eval slice, anti-join and
    * per-customer top-3.
    */
  def recsAlsRank1(rounds: Int = 2, lam: Long = 100000L): String = {
    val sb = new StringBuilder
    sb.append(
      """WITH ratings AS MATERIALIZED (
        |  SELECT o.o_custkey AS c, l.l_partkey AS p,
        |    sum(CAST(l.l_quantity AS BIGINT))::BIGINT AS r
        |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        |  GROUP BY 1, 2),
        |v0 AS (SELECT DISTINCT p, 1000000::BIGINT AS v_e6
        |  FROM ratings),
        |""".stripMargin)
    for (rd <- 1 to rounds) {
      sb.append(
        s"""u$rd AS MATERIALIZED (
           |  SELECT r.c,
           |    ((sum(r.r * v.v_e6) * 1000000)
           |      // (sum(v.v_e6 * v.v_e6 // 1000000) + $lam))::BIGINT
           |      AS u_e6
           |  FROM ratings r JOIN v${rd - 1} v ON v.p = r.p
           |  GROUP BY 1),
           |v$rd AS MATERIALIZED (
           |  SELECT r.p,
           |    ((sum(r.r * u.u_e6) * 1000000)
           |      // (sum(u.u_e6 * u.u_e6 // 1000000) + $lam))::BIGINT
           |      AS v_e6
           |  FROM ratings r JOIN u$rd u ON u.c = r.c
           |  GROUP BY 1),
           |""".stripMargin)
    }
    sb.append(
      s"""scored AS (
         |  SELECT u.c, v.p,
         |    (u.u_e6 * v.v_e6 // 1000000)::BIGINT AS score_e6
         |  FROM u$rounds u CROSS JOIN v$rounds v
         |  WHERE u.c <= 20
         |    AND NOT EXISTS (SELECT 1 FROM ratings x
         |      WHERE x.c = u.c AND x.p = v.p)),
         |ranked AS (
         |  SELECT c, p, score_e6,
         |    row_number() OVER (PARTITION BY c
         |      ORDER BY score_e6 DESC, p ASC)::INT AS rank
         |  FROM scored)
         |SELECT c AS o_custkey, p AS l_partkey, score_e6, rank
         |FROM ranked WHERE rank <= 3""".stripMargin)
    sb.toString
  }

  /** Oracle for `recs_als_rank2`: the unrolled rank-2 alternation —
    * same ratings rollup, the Knuth multiplicative-hash f2 init, the
    * five per-entity Gram sums with the per-term //1e6 truncation,
    * and the Cramer 2×2 solve in HUGEINT (Spark mirrors it in
    * DECIMAL(38,0); both `div` and `//` truncate toward zero, so the
    * signed factor arithmetic is engine-identical).
    */
  def recsAlsRank2(rounds: Int = 2, lam: Long = 100000L): String = {
    val sb = new StringBuilder
    sb.append(
      """WITH ratings AS MATERIALIZED (
        |  SELECT o.o_custkey AS c, l.l_partkey AS p,
        |    sum(CAST(l.l_quantity AS BIGINT))::BIGINT AS r
        |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        |  GROUP BY 1, 2),
        |v0 AS (SELECT DISTINCT p, 1000000::BIGINT AS f1,
        |  ((p * 2654435761) % 2000001 - 1000000)::BIGINT AS f2
        |  FROM ratings),
        |""".stripMargin)
    def cramer = Seq("f1" -> ("b1", "a22l", "b2"),
      "f2" -> ("b2", "a11l", "b1")).map { case (f, (bx, ax, by)) =>
      s"""    ((($bx::HUGEINT * $ax::HUGEINT - $by::HUGEINT
         |      * a12::HUGEINT) * 1000000)
         |      // greatest(a11l::HUGEINT * a22l::HUGEINT
         |      - a12::HUGEINT * a12::HUGEINT, 1::HUGEINT))::BIGINT
         |      AS $f""".stripMargin
    }.mkString(",\n")
    def half(outCte: String, inCte: String, joinKey: String,
             outKey: String): String =
      s"""${outCte}g AS MATERIALIZED (
         |  SELECT r.$outKey AS k,
         |    (sum((x.f1 * x.f1) // 1000000) + $lam)::BIGINT AS a11l,
         |    sum((x.f1 * x.f2) // 1000000)::BIGINT AS a12,
         |    (sum((x.f2 * x.f2) // 1000000) + $lam)::BIGINT AS a22l,
         |    sum(r.r * x.f1)::BIGINT AS b1,
         |    sum(r.r * x.f2)::BIGINT AS b2
         |  FROM ratings r JOIN $inCte x ON x.$joinKey = r.$joinKey
         |  GROUP BY 1),
         |$outCte AS MATERIALIZED (
         |  SELECT k AS $outKey,
         |$cramer
         |  FROM ${outCte}g),
         |""".stripMargin
    for (rd <- 1 to rounds) {
      sb.append(half(s"u$rd", s"v${rd - 1}", "p", "c"))
      sb.append(half(s"v$rd", s"u$rd", "c", "p"))
    }
    sb.append(
      s"""scored AS (
         |  SELECT u.c, v.p,
         |    ((u.f1::HUGEINT * v.f1::HUGEINT
         |      + u.f2::HUGEINT * v.f2::HUGEINT) // 1000000)::BIGINT
         |      AS score_e6
         |  FROM u$rounds u CROSS JOIN v$rounds v
         |  WHERE u.c <= 20
         |    AND NOT EXISTS (SELECT 1 FROM ratings x
         |      WHERE x.c = u.c AND x.p = v.p)),
         |ranked AS (
         |  SELECT c, p, score_e6,
         |    row_number() OVER (PARTITION BY c
         |      ORDER BY score_e6 DESC, p ASC)::INT AS rank
         |  FROM scored)
         |SELECT c AS o_custkey, p AS l_partkey, score_e6, rank
         |FROM ranked WHERE rank <= 3""".stripMargin)
    sb.toString
  }

  /** Leibniz expansion of a 4×4 determinant as a SQL expression
    * string — 24 signed 4-entry products over `m(i, j)` (0-indexed
    * entry accessor). Shared by the rank-4 ALS engine query (entries
    * cast to DECIMAL(38,0)) and its DuckDB oracle (HUGEINT), so both
    * sides solve the normal equations with the IDENTICAL integer
    * expression.
    */
  def det4(m: (Int, Int) => String): String = {
    val perms = List(0, 1, 2, 3).permutations.toList
    def sign(p: List[Int]): Int = {
      var s = 1
      for (i <- 0 until 4; j <- i + 1 until 4) if (p(i) > p(j)) s = -s
      s
    }
    perms.map { p =>
      val prod = (0 until 4).map(i => m(i, p(i))).mkString(" * ")
      (if (sign(p) > 0) "+ " else "- ") + s"($prod)"
    }.mkString(" ")
  }

  /** The same 4×4 determinant as [[det4]], restructured as the Laplace
    * expansion in complementary 2×2 minors (rows 1–2 × rows 3–4): six
    * signed products of 2×2 minors instead of 24 products of four
    * entries. Algebraically identical over exact integer arithmetic,
    * and every intermediate stays within det4's magnitude analysis
    * (|minor| ≤ 2·max|m|², |minor·minor| ≤ 4·max|m|⁴, sum of six ≤
    * 24·max|m|⁴ — the SAME bound the Leibniz form's 24 terms carry),
    * so the VALUES are identical; only the expression tree shrinks
    * (30 multiplies vs 72, and the six row-1–2 minors repeat across
    * Cramer's five determinants, where codegen subexpression
    * elimination shares them). The Spark side of rank-4 ALS uses this
    * form; the DuckDB oracle keeps the [[det4]] Leibniz text — both
    * compute the same integer, pinned by the oracle hash gate.
    */
  def det4Minors(m: (Int, Int) => String): String = {
    def top(i: Int, j: Int) =
      s"(${m(0, i)} * ${m(1, j)} - ${m(0, j)} * ${m(1, i)})"
    def bot(i: Int, j: Int) =
      s"(${m(2, i)} * ${m(3, j)} - ${m(2, j)} * ${m(3, i)})"
    // sign of the (cols {i,j} | complement {k,l}) term along rows 1–2
    // is (−1)^(1+2+ (i+1)+(j+1)) for 0-indexed i<j — checked against
    // det4 on permutation matrices in OracleSqlSpec.
    val terms = Seq((0, 1, 2, 3, "+"), (0, 2, 1, 3, "-"),
      (0, 3, 1, 2, "+"), (1, 2, 0, 3, "+"), (1, 3, 0, 2, "-"),
      (2, 3, 0, 1, "+"))
    terms.map { case (i, j, k, l, s) =>
      s"$s ${top(i, j)} * ${bot(k, l)}"
    }.mkString(" ")
  }

  /** Canonical Gram-entry name for the symmetric 4×4 normal matrix:
    * a{i}{j} with i ≤ j, diagonals carrying the ridge λ ("l" suffix).
    */
  def gram4Name(i: Int, j: Int): String = {
    val (x, y) = (math.min(i, j), math.max(i, j))
    s"a${x + 1}${y + 1}" + (if (x == y) "l" else "")
  }

  /** Oracle for `recs_als_rank4` (VERDICT r11 #8 / r12 #7): the
    * rank-2 Cramer machinery generalized — per-entity 4×4 ridge
    * normal-equation solve via Cramer's rule with [[det4]]-generated
    * determinants, replayed in HUGEINT. Factors are e3 longs (e6
    * would push the 4-entry determinant products past DECIMAL(38,0) /
    * HUGEINT — the scale is chosen so |num·1e3| stays ≤ ~1e35 at the
    * measured per-entity density with ~10× headroom; the engine side
    * guards the Gram magnitudes loudly). Init: f1 = 1e3, f2..f4 are
    * three distinct public multiplicative-hash spreads in
    * [−1000, 1000] (Knuth 2654435761; xxhash32 primes 2246822519,
    * 3266489917) — identical integer init in both engines.
    */
  def recsAlsRank4(rounds: Int = 2, lam: Long = 100L): String = {
    val sb = new StringBuilder
    sb.append(
      """WITH ratings AS MATERIALIZED (
        |  SELECT o.o_custkey AS c, l.l_partkey AS p,
        |    sum(CAST(l.l_quantity AS BIGINT))::BIGINT AS r
        |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        |  GROUP BY 1, 2),
        |v0 AS (SELECT DISTINCT p, 1000::BIGINT AS f1,
        |  ((p * 2654435761) % 2001 - 1000)::BIGINT AS f2,
        |  ((p * 2246822519) % 2001 - 1000)::BIGINT AS f3,
        |  ((p * 3266489917) % 2001 - 1000)::BIGINT AS f4
        |  FROM ratings),
        |""".stripMargin)
    def mA(i: Int, j: Int) = s"${gram4Name(i, j)}::HUGEINT"
    val detSql = det4(mA)
    val cramer = (0 until 4).map { k =>
      val num = det4((i, j) => if (j == k) s"b${i + 1}::HUGEINT"
        else mA(i, j))
      s"""    ((($num) * 1000)
         |      // greatest(($detSql), 1::HUGEINT))::BIGINT
         |      AS f${k + 1}""".stripMargin
    }.mkString(",\n")
    val gramSums = (for (i <- 1 to 4; j <- i to 4) yield
      if (i == j)
        s"(sum((x.f$i * x.f$j) // 1000) + $lam)::BIGINT AS a$i${j}l"
      else s"sum((x.f$i * x.f$j) // 1000)::BIGINT AS a$i$j")
      .mkString(",\n    ")
    val bSums = (1 to 4).map(i =>
      s"sum(r.r * x.f$i)::BIGINT AS b$i").mkString(",\n    ")
    def half(outCte: String, inCte: String, joinKey: String,
             outKey: String): String =
      s"""${outCte}g AS MATERIALIZED (
         |  SELECT r.$outKey AS k,
         |    $gramSums,
         |    $bSums
         |  FROM ratings r JOIN $inCte x ON x.$joinKey = r.$joinKey
         |  GROUP BY 1),
         |$outCte AS MATERIALIZED (
         |  SELECT k AS $outKey,
         |$cramer
         |  FROM ${outCte}g),
         |""".stripMargin
    for (rd <- 1 to rounds) {
      sb.append(half(s"u$rd", s"v${rd - 1}", "p", "c"))
      sb.append(half(s"v$rd", s"u$rd", "c", "p"))
    }
    val dot = (1 to 4).map(i => s"u.f$i::HUGEINT * v.f$i::HUGEINT")
      .mkString(" + ")
    sb.append(
      s"""scored AS (
         |  SELECT u.c, v.p,
         |    (($dot) // 1000)::BIGINT AS score_e3
         |  FROM u$rounds u CROSS JOIN v$rounds v
         |  WHERE u.c <= 20
         |    AND NOT EXISTS (SELECT 1 FROM ratings x
         |      WHERE x.c = u.c AND x.p = v.p)),
         |ranked AS (
         |  SELECT c, p, score_e3,
         |    row_number() OVER (PARTITION BY c
         |      ORDER BY score_e3 DESC, p ASC)::INT AS rank
         |  FROM scored)
         |SELECT c AS o_custkey, p AS l_partkey, score_e3, rank
         |FROM ranked WHERE rank <= 3""".stripMargin)
    sb.toString
  }

  /** Oracle for `embed_isolation_forest`: the hash-derandomized
    * forest replayed — node split parameters from the exact XXH64
    * emulation over (tree·2²⁰ + node), identical global-range e6
    * thresholds, the same depth-unrolled walk, population rollup,
    * isolation depths with the standard c(m) correction, and the same
    * (avg-path, vec_id) top-50 order.
    */
  def embedIsolationForest(trees: Int = 16, depth: Int = 8): String = {
    val ch = new Chain("ifh", "SELECT t, node, ku FROM ikeys")
    val h = hashLong(ch, "ku", "42::HUGEINT", "g")
    ch.add("hv", sig(h))
    val cols = (0 until 4)
    val ptsCols = cols.map(f =>
      s"floor(embedding[${f + 1}]::DOUBLE * 1000000.0 + 0.5)::BIGINT" +
        s" AS x$f").mkString(",\n    ")
    val rngCols = cols.map(f =>
      s"min(x$f) AS mn$f, max(x$f) AS mx$f").mkString(", ")
    def caseOver(mk: Int => String): String =
      "CASE nt.f " + cols.map(f => s"WHEN $f THEN ${mk(f)}")
        .mkString(" ") + " END"
    val walk = (1 to depth).map { l =>
      val xv = caseOver(f => s"p.x$f")
      val thr = caseOver(f =>
        s"r.mn$f + ((r.mx$f - r.mn$f) * nt.u) // 1000000")
      s"""lvl$l AS MATERIALIZED (
         |  SELECT p.*, p.n${l - 1} * 2 + ($xv > $thr)::BIGINT AS n$l
         |  FROM lvl${l - 1} p
         |  JOIN ntab nt ON nt.t = p.t AND nt.node = p.n${l - 1}
         |  CROSS JOIN rng r)""".stripMargin
    }.mkString(",\n")
    val pathsSel = (1 to depth).map(l =>
      s"SELECT vec_id, t, ${l}::BIGINT AS l, n$l AS node FROM lvl$depth")
      .mkString("\n  UNION ALL ")
    val cOfLeaf = """CASE WHEN leafm <= 1 THEN 0.0
      |      WHEN leafm = 2 THEN 1.0
      |      ELSE (ln(leafm::DOUBLE - 1.0) + 0.5772156649) * 2.0
      |        - (leafm::DOUBLE - 1.0) * 2.0 / leafm::DOUBLE
      |      END""".stripMargin
    s"""WITH epts AS MATERIALIZED (
       |  SELECT vec_id,
       |    $ptsCols
       |  FROM embeddings),
       |rng AS MATERIALIZED (SELECT $rngCols FROM epts),
       |ikeys AS (
       |  SELECT r1.range::BIGINT AS t, r2.range::BIGINT AS node,
       |    (r1.range * 1048576 + r2.range)::HUGEINT AS ku
       |  FROM range(0, $trees) r1, range(1, ${1 << depth}) r2),
       |${ch.render},
       |ntab AS MATERIALIZED (
       |  SELECT t, node, ((hv % 4) + 4) % 4 AS f,
       |    ((CASE WHEN hv < 0 THEN hv::HUGEINT + $M
       |      ELSE hv::HUGEINT END) // 256) % 1000000 AS u
       |  FROM ${ch.last}),
       |lvl0 AS (
       |  SELECT e.*, tr.range::BIGINT AS t, 1::BIGINT AS n0
       |  FROM epts e, range(0, $trees) tr),
       |$walk,
       |paths AS MATERIALIZED (
       |  $pathsSel),
       |pops AS MATERIALIZED (
       |  SELECT t, l, node, count(*)::BIGINT AS cnt
       |  FROM paths GROUP BY 1, 2, 3),
       |pertree AS MATERIALIZED (
       |  SELECT p.vec_id, p.t,
       |    min(CASE WHEN c.cnt = 1 THEN p.l END) AS iso_l,
       |    max(CASE WHEN p.l = $depth THEN c.cnt END) AS leafm
       |  FROM paths p JOIN pops c USING (t, l, node)
       |  GROUP BY 1, 2),
       |hpt AS MATERIALIZED (
       |  SELECT vec_id,
       |    CASE WHEN iso_l IS NOT NULL THEN iso_l * 1000000
       |    ELSE ${depth * 1000000} + round(($cOfLeaf)
       |      * 1000000.0)::BIGINT END::BIGINT AS h_e6
       |  FROM pertree),
       |nn AS (SELECT count(*)::BIGINT AS n FROM epts),
       |cnv AS (SELECT CASE WHEN n <= 1 THEN 0.0 WHEN n = 2 THEN 1.0
       |    ELSE (ln(n::DOUBLE - 1.0) + 0.5772156649) * 2.0
       |      - (n::DOUBLE - 1.0) * 2.0 / n::DOUBLE END AS c FROM nn),
       |agg AS MATERIALIZED (
       |  SELECT vec_id, (sum(h_e6) // $trees)::BIGINT AS avg_path_e6
       |  FROM hpt GROUP BY 1),
       |topk AS (
       |  SELECT vec_id, avg_path_e6,
       |    round(pow(2.0, -(avg_path_e6::DOUBLE / 1000000.0)
       |      / (SELECT c FROM cnv)) * 1000000.0)::BIGINT AS score_e6
       |  FROM agg ORDER BY avg_path_e6 ASC, vec_id ASC LIMIT 50)
       |SELECT row_number() OVER (ORDER BY avg_path_e6 ASC, vec_id ASC)
       |    ::INT AS rank,
       |  vec_id, avg_path_e6, score_e6
       |FROM topk""".stripMargin
  }

  /** Oracle for `orders_cox_ph`: the Breslow partial-likelihood
    * gradient ascent unrolled round by round — identical subject
    * frame (first order → reorder duration, horizon-censored),
    * identical e9-rounded risk weights (exp touched once per subject
    * per round), identical suffix-sum risk sets over the distinct-day
    * frame, identical e6 ratio/rounding and double β updates in the
    * same evaluation order. Every chain CTE is MATERIALIZED (the
    * DuckDB inlining-explosion discipline).
    */
  def ordersCoxPh(iters: Int = 4, lr: Double = 0.5): String = {
    val sb = new StringBuilder
    sb.append(
      s"""WITH od AS (
         |  SELECT o_custkey, o_orderdate::DATE AS od, o_totalprice,
         |    o_orderpriority, o_orderkey FROM orders),
         |hz AS (SELECT max(od) AS hz FROM od),
         |ranked AS (
         |  SELECT o_custkey, od, o_totalprice, o_orderpriority,
         |    row_number() OVER (PARTITION BY o_custkey
         |      ORDER BY od, o_orderkey) AS rn,
         |    lead(od) OVER (PARTITION BY o_custkey
         |      ORDER BY od, o_orderkey) AS nxt
         |  FROM od),
         |subj AS (
         |  SELECT CASE WHEN nxt IS NOT NULL
         |      THEN datediff('day', od, nxt)
         |      ELSE datediff('day', od, (SELECT hz FROM hz))
         |      END::BIGINT AS dur,
         |    CASE WHEN nxt IS NOT NULL THEN 1 ELSE 0 END::BIGINT
         |      AS event,
         |    o_totalprice / 500000.0 AS x1,
         |    (substr(o_orderpriority, 1, 1) IN ('1', '2'))::INT::DOUBLE
         |      AS x2
         |  FROM ranked WHERE rn = 1),
         |subje AS MATERIALIZED (
         |  SELECT dur, event, x1, x2,
         |    round(x1 * 1000000.0)::BIGINT AS x1_e6,
         |    round(x2 * 1000000.0)::BIGINT AS x2_e6
         |  FROM subj WHERE dur > 0),
         |ne AS (SELECT sum(event)::BIGINT AS ne FROM subje),
         |bt0 AS (SELECT 0.0::DOUBLE AS b1, 0.0::DOUBLE AS b2),
         |""".stripMargin)
    for (r <- 1 to iters) {
      val sfx = "OVER (ORDER BY dur DESC ROWS BETWEEN UNBOUNDED " +
        "PRECEDING AND CURRENT ROW)"
      sb.append(
        s"""pw$r AS MATERIALIZED (
           |  SELECT s.dur, s.event, s.x1_e6, s.x2_e6,
           |    round(exp(b.b1 * s.x1 + b.b2 * s.x2)
           |      * 1000000000.0)::BIGINT AS w_e9,
           |    round(exp(b.b1 * s.x1 + b.b2 * s.x2) * s.x1
           |      * 1000000000.0)::BIGINT AS wx1_e9,
           |    round(exp(b.b1 * s.x1 + b.b2 * s.x2) * s.x2
           |      * 1000000000.0)::BIGINT AS wx2_e9
           |  FROM subje s CROSS JOIN bt${r - 1} b),
           |rd$r AS MATERIALIZED (
           |  SELECT dur, sum(w_e9)::BIGINT AS s0,
           |    sum(wx1_e9)::BIGINT AS s1, sum(wx2_e9)::BIGINT AS s2,
           |    sum(event)::BIGINT AS d,
           |    sum(CASE WHEN event = 1 THEN x1_e6 ELSE 0 END)::BIGINT
           |      AS dx1,
           |    sum(CASE WHEN event = 1 THEN x2_e6 ELSE 0 END)::BIGINT
           |      AS dx2
           |  FROM pw$r GROUP BY 1),
           |sf$r AS MATERIALIZED (
           |  SELECT dur, d, dx1, dx2,
           |    sum(s0) $sfx::BIGINT AS cs0,
           |    sum(s1) $sfx::BIGINT AS cs1,
           |    sum(s2) $sfx::BIGINT AS cs2
           |  FROM rd$r),
           |gr$r AS MATERIALIZED (
           |  SELECT (sum(dx1) - sum(d * round(cs1::DOUBLE / cs0::DOUBLE
           |      * 1000000.0)::BIGINT))::BIGINT AS g1,
           |    (sum(dx2) - sum(d * round(cs2::DOUBLE / cs0::DOUBLE
           |      * 1000000.0)::BIGINT))::BIGINT AS g2
           |  FROM sf$r WHERE d > 0),
           |bt$r AS MATERIALIZED (
           |  SELECT b.b1 + $lr * ((g.g1::DOUBLE / 1000000.0) / ne.ne)
           |      AS b1,
           |    b.b2 + $lr * ((g.g2::DOUBLE / 1000000.0) / ne.ne) AS b2
           |  FROM bt${r - 1} b CROSS JOIN gr$r g CROSS JOIN ne),
           |""".stripMargin)
    }
    sb.append(
      s"""pwf AS MATERIALIZED (
         |  SELECT s.dur, s.event,
         |    round((b.b1 * s.x1 + b.b2 * s.x2) * 1000000.0)::BIGINT
         |      AS z_e6,
         |    round(exp(b.b1 * s.x1 + b.b2 * s.x2)
         |      * 1000000000.0)::BIGINT AS w_e9
         |  FROM subje s CROSS JOIN bt$iters b),
         |rdf AS MATERIALIZED (
         |  SELECT dur, sum(w_e9)::BIGINT AS s0, sum(event)::BIGINT AS d,
         |    sum(CASE WHEN event = 1 THEN z_e6 ELSE 0 END)::BIGINT AS dz
         |  FROM pwf GROUP BY 1),
         |sff AS MATERIALIZED (
         |  SELECT dur, d, dz,
         |    sum(s0) OVER (ORDER BY dur DESC ROWS BETWEEN UNBOUNDED
         |      PRECEDING AND CURRENT ROW)::BIGINT AS cs0
         |  FROM rdf),
         |nn AS (SELECT count(*)::BIGINT AS n FROM subje)
         |SELECT round(b.b1 * 1000000.0)::BIGINT AS b1_e6,
         |  round(b.b2 * 1000000.0)::BIGINT AS b2_e6,
         |  round(exp(b.b1) * 1000000.0)::BIGINT AS hr1_e6,
         |  round(exp(b.b2) * 1000000.0)::BIGINT AS hr2_e6,
         |  nn.n AS n, ne.ne AS n_events,
         |  (SELECT (sum(dz) - sum(d * round(ln(cs0::DOUBLE
         |      / 1000000000.0) * 1000000.0)::BIGINT))::BIGINT
         |   FROM sff WHERE d > 0) AS pll_e6
         |FROM bt$iters b CROSS JOIN nn CROSS JOIN ne""".stripMargin)
    sb.toString
  }

  /** Oracle for `dedup_auto_route` (VERDICT r9 #6): recomputes the
    * routing statistic — the size-biased mean shingle df Σdf²/Σdf —
    * in SQL and gates BOTH full path replays on it (the banded
    * [[dedupMinhash]] chain where load ≥ threshold, the exact
    * [[dedupPrefixFilter]] chain where load < threshold; prefix-side
    * CTEs are p-prefixed to avoid colliding with the minhash chain's
    * names), so the hash compare proves the routing decision AND the
    * routed pair set per fixture.
    */
  def dedupAutoRoute(minSim: Double = 0.5, shingleN: Int = 3,
                     numHashes: Int = 16, rowsPerBand: Int = 2,
                     hotThreshold: Double = 8.0,
                     sampleCutoff: Long = 8192L,
                     sampleMod: Int = 16): String = {
    val minPpm = math.round(minSim * 1000000)
    val n = shingleN
    val est = estJaccardE4(numHashes)
    s"""WITH ${tokenHashCtes()},
       |${shingleHashCtes()},
       |${minhashCtes(numHashes, rowsPerBand)},
       |ptoks AS (
       |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+')
       |    AS a
       |  FROM documents WHERE length(trim(text)) > 0),
       |praw AS (
       |  SELECT doc_id, unnest(
       |    CASE WHEN len(a) <= $n THEN [array_to_string(a, ' ')]
       |    ELSE [array_to_string(a[i+1:i+$n], ' ')
       |          FOR i IN range(0, len(a) - ${n - 1})] END) AS token
       |  FROM ptoks),
       |ptk AS MATERIALIZED (SELECT DISTINCT doc_id, token FROM praw),
       |pdfq AS MATERIALIZED (
       |  SELECT token, count(*) AS df FROM ptk GROUP BY 1),
       |${idHashCtes()},
       |qmod AS (SELECT CASE WHEN (SELECT count(*) FROM documents)
       |    <= $sampleCutoff THEN 1 ELSE $sampleMod END AS m),
       |stk AS MATERIALIZED (
       |  SELECT t.doc_id, t.token FROM ptk t
       |  JOIN hashed h ON h.doc_id = t.doc_id
       |  CROSS JOIN qmod q WHERE ((h.hv % q.m) + q.m) % q.m = 0),
       |sdfq AS (SELECT token, count(*) AS df FROM stk GROUP BY 1),
       |lod AS (SELECT CASE WHEN coalesce(sum(df), 0) = 0 THEN 0.0
       |    ELSE 1.0 + (sum(df * df)::DOUBLE / sum(df) - 1.0)
       |      * (SELECT m FROM qmod) END AS l FROM sdfq),
       |psz AS MATERIALIZED (
       |  SELECT doc_id, count(*) AS sz FROM ptk GROUP BY 1),
       |ppref AS MATERIALIZED (
       |  SELECT doc_id, token FROM (
       |    SELECT t.doc_id, t.token, s.sz,
       |      row_number() OVER (PARTITION BY t.doc_id
       |        ORDER BY d.df ASC, t.token ASC) AS pos
       |    FROM ptk t JOIN pdfq d USING (token) JOIN psz s USING (doc_id))
       |  WHERE pos <= sz - ceil($minSim * sz) + 1),
       |pcand AS MATERIALIZED (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM ppref a JOIN ppref b ON b.token = a.token
       |    AND a.doc_id < b.doc_id),
       |ptid AS MATERIALIZED (
       |  SELECT token, row_number() OVER (ORDER BY token) AS t
       |  FROM (SELECT DISTINCT token FROM ptk)),
       |ptkl AS MATERIALIZED (
       |  SELECT k.doc_id, list(d.t ORDER BY d.t) AS tl
       |  FROM ptk k JOIN ptid d USING (token) GROUP BY 1),
       |pq AS (
       |  SELECT c.id_a, c.id_b,
       |    len(list_intersect(a.tl, b.tl))::BIGINT AS ic,
       |    len(a.tl)::BIGINT AS sza, len(b.tl)::BIGINT AS szb
       |  FROM pcand c JOIN ptkl a ON a.doc_id = c.id_a
       |               JOIN ptkl b ON b.doc_id = c.id_b)
       |SELECT c.id_a, c.id_b,
       |  CAST(round($est * 1000000) AS BIGINT) AS sim_ppm,
       |  'banded' AS route
       |FROM cand c JOIN sigv sa ON sa.doc_id = c.id_a
       |            JOIN sigv sb ON sb.doc_id = c.id_b
       |WHERE $est >= $minSim AND (SELECT l FROM lod) >= $hotThreshold
       |UNION ALL
       |SELECT id_a, id_b,
       |  ((ic * 1000000) // (sza + szb - ic))::BIGINT AS sim_ppm,
       |  'prefix' AS route
       |FROM pq
       |WHERE (ic * 1000000) // (sza + szb - ic) >= $minPpm
       |  AND (SELECT l FROM lod) < $hotThreshold""".stripMargin
  }

  /** Oracle for `dedup_auto_route_mixed` (VERDICT r10 #7): the
    * per-SOURCE routing dial — size-biased mean shingle df recomputed
    * per source with a per-source sampling modulus — gating BOTH full
    * path replays per source, restricted to within-source pairs. The
    * banded/prefix chains run over the full corpus (signatures are
    * per-doc and the prefix filter is lossless under any global df
    * order, so the full-corpus candidate superset restricted to
    * same-source routed pairs equals the engine's subset-union runs).
    */
  def dedupAutoRouteBySource(minSim: Double = 0.5, shingleN: Int = 3,
                             numHashes: Int = 16, rowsPerBand: Int = 2,
                             hotThreshold: Double = 8.0,
                             sampleCutoff: Long = 8192L,
                             sampleMod: Int = 16,
                             docsRel: String = "documents"): String = {
    val minPpm = math.round(minSim * 1000000)
    val n = shingleN
    val est = estJaccardE4(numHashes)
    s"""WITH ${tokenHashCtes(docsRel)},
       |${shingleHashCtes()},
       |${minhashCtes(numHashes, rowsPerBand)},
       |ptoks AS (
       |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+')
       |    AS a
       |  FROM $docsRel WHERE length(trim(text)) > 0),
       |praw AS (
       |  SELECT doc_id, unnest(
       |    CASE WHEN len(a) <= $n THEN [array_to_string(a, ' ')]
       |    ELSE [array_to_string(a[i+1:i+$n], ' ')
       |          FOR i IN range(0, len(a) - ${n - 1})] END) AS token
       |  FROM ptoks),
       |ptk AS MATERIALIZED (SELECT DISTINCT doc_id, token FROM praw),
       |pdfq AS MATERIALIZED (
       |  SELECT token, count(*) AS df FROM ptk GROUP BY 1),
       |${idHashCtes(docsRel)},
       |srcm AS MATERIALIZED (SELECT doc_id, source FROM $docsRel),
       |scnt AS (SELECT source, count(*) AS nd FROM $docsRel
       |  GROUP BY 1),
       |smod AS MATERIALIZED (
       |  SELECT source, CASE WHEN nd <= $sampleCutoff THEN 1
       |    ELSE $sampleMod END AS m
       |  FROM scnt),
       |sstk AS MATERIALIZED (
       |  SELECT sm.source, sm.m, t.token
       |  FROM ptk t
       |  JOIN hashed h ON h.doc_id = t.doc_id
       |  JOIN srcm s2 ON s2.doc_id = t.doc_id
       |  JOIN smod sm ON sm.source = s2.source
       |  WHERE ((h.hv % sm.m) + sm.m) % sm.m = 0),
       |ssdf AS (SELECT source, m, token, count(*) AS df
       |  FROM sstk GROUP BY 1, 2, 3),
       |slod AS MATERIALIZED (
       |  SELECT source,
       |    1.0 + (sum(df * df)::DOUBLE / sum(df) - 1.0) * m AS l
       |  FROM ssdf GROUP BY source, m),
       |srt AS MATERIALIZED (
       |  SELECT s.source, CASE WHEN coalesce(l.l, 0) >= $hotThreshold
       |    THEN 'banded' ELSE 'prefix' END AS route
       |  FROM scnt s LEFT JOIN slod l USING (source)),
       |psz AS MATERIALIZED (
       |  SELECT doc_id, count(*) AS sz FROM ptk GROUP BY 1),
       |ppref AS MATERIALIZED (
       |  SELECT doc_id, token FROM (
       |    SELECT t.doc_id, t.token, s.sz,
       |      row_number() OVER (PARTITION BY t.doc_id
       |        ORDER BY d.df ASC, t.token ASC) AS pos
       |    FROM ptk t JOIN pdfq d USING (token) JOIN psz s USING (doc_id))
       |  WHERE pos <= sz - ceil($minSim * sz) + 1),
       |pcand AS MATERIALIZED (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM ppref a JOIN ppref b ON b.token = a.token
       |    AND a.doc_id < b.doc_id),
       |ptid AS MATERIALIZED (
       |  SELECT token, row_number() OVER (ORDER BY token) AS t
       |  FROM (SELECT DISTINCT token FROM ptk)),
       |ptkl AS MATERIALIZED (
       |  SELECT k.doc_id, list(d.t ORDER BY d.t) AS tl
       |  FROM ptk k JOIN ptid d USING (token) GROUP BY 1),
       |pq AS (
       |  SELECT c.id_a, c.id_b,
       |    len(list_intersect(a.tl, b.tl))::BIGINT AS ic,
       |    len(a.tl)::BIGINT AS sza, len(b.tl)::BIGINT AS szb
       |  FROM pcand c JOIN ptkl a ON a.doc_id = c.id_a
       |               JOIN ptkl b ON b.doc_id = c.id_b)
       |SELECT c.id_a, c.id_b,
       |  CAST(round($est * 1000000) AS BIGINT) AS sim_ppm,
       |  sa2.source AS source, 'banded' AS route
       |FROM cand c JOIN sigv sa ON sa.doc_id = c.id_a
       |            JOIN sigv sb ON sb.doc_id = c.id_b
       |            JOIN srcm sa2 ON sa2.doc_id = c.id_a
       |            JOIN srcm sb2 ON sb2.doc_id = c.id_b
       |            JOIN srt rt ON rt.source = sa2.source
       |WHERE sa2.source = sb2.source AND rt.route = 'banded'
       |  AND $est >= $minSim
       |UNION ALL
       |SELECT q.id_a, q.id_b,
       |  ((q.ic * 1000000) // (q.sza + q.szb - q.ic))::BIGINT AS sim_ppm,
       |  sa2.source AS source, 'prefix' AS route
       |FROM pq q
       |JOIN srcm sa2 ON sa2.doc_id = q.id_a
       |JOIN srcm sb2 ON sb2.doc_id = q.id_b
       |JOIN srt rt ON rt.source = sa2.source
       |WHERE sa2.source = sb2.source AND rt.route = 'prefix'
       |  AND (q.ic * 1000000) // (q.sza + q.szb - q.ic) >= $minPpm"""
      .stripMargin
  }

  /** Oracle for `dedup_auto_route_dual` (ADVICE r11): the per-source
    * dial and BOTH path replays of [[dedupAutoRouteBySource]], run
    * over the synthetic dual-route corpus derived in-query from the
    * documents table — 'tpl' groups of 16 identical docs (hot →
    * banded), 'o_pair' unique-vocabulary boundary pairs at jaccard
    * 20/36 (cold → prefix), everything else original text under
    * 'o_'-prefixed sources. Mirrors the Spark-side derivation token
    * for token; sampleCutoff forces the full profile so the dial is
    * deterministic at any fixture size.
    */
  def dedupAutoRouteDual(): String = {
    // NOTE: this snippet is embedded into templates that re-apply
    // stripMargin, so no continuation line may START with '|' (a
    // leading '||' would be eaten as a margin) — concatenations keep
    // '||' at line ends.
    val docsRel =
      """(SELECT doc_id,
        |   CASE WHEN doc_id % 4 = 0 THEN 'tpl'
        |        WHEN doc_id % 200 IN (1, 5) THEN 'o_pair'
        |        ELSE 'o_' || source END AS source,
        |   CASE WHEN doc_id % 4 = 0 THEN
        |       array_to_string(['g' || (doc_id // 64)::VARCHAR ||
        |         'w' || i::VARCHAR FOR i IN range(0, 30)], ' ')
        |     WHEN doc_id % 200 = 1 THEN
        |       array_to_string(['p' || (doc_id // 200)::VARCHAR ||
        |         'u' || i::VARCHAR FOR i IN range(0, 30)], ' ')
        |     WHEN doc_id % 200 = 5 THEN
        |       array_to_string(['p' || (doc_id // 200)::VARCHAR ||
        |         CASE WHEN i < 22 THEN 'u' ELSE 'v' END ||
        |         i::VARCHAR FOR i IN range(0, 30)], ' ')
        |     ELSE text END AS text
        | FROM documents)""".stripMargin
    dedupAutoRouteBySource(sampleCutoff = 1000000L, docsRel = docsRel)
  }

  /** Oracle for `graph_link_predict`: the mutual-kNN edge set (same
    * CTEs as `dedup_mutual_knn`), degrees from the exploded edge list,
    * wedge join x–y ⋈ y–z (x < z), hub-discounted integer RA score,
    * existing edges removed by NOT EXISTS. Mirrors
    * [[graft.functions.Dedup.linkPrediction]] over the reciprocal
    * top-k graph.
    */
  def graphLinkPredict(minCos: Double = 0.2, k: Int = 3,
                       nTables: Int = 8, targetBucket: Int = 128,
                       minBits: Int = 4, maxBits: Int = 16,
                       dim: Int = 64, seed: Long = 42L): String =
    s"""WITH ${embLshPairsCtes(nTables, targetBucket, minBits, maxBits, dim, seed)},
       |thr AS (SELECT id_a, id_b, cos FROM pairs WHERE cos >= $minCos),
       |symc AS (
       |  SELECT id_a AS a, id_b AS b, cos FROM thr
       |  UNION ALL SELECT id_b, id_a, cos FROM thr),
       |rkd AS (
       |  SELECT a, b, row_number() OVER (PARTITION BY a
       |    ORDER BY cos DESC, b ASC) AS rnk
       |  FROM symc),
       |topk AS (SELECT * FROM rkd WHERE rnk <= $k),
       |ce AS MATERIALIZED (
       |  SELECT x.a, x.b
       |  FROM topk x JOIN topk y ON x.a = y.b AND x.b = y.a
       |  WHERE x.a < x.b),
       |sym AS (SELECT a AS src, b AS dst FROM ce
       |        UNION ALL SELECT b, a FROM ce),
       |deg AS (SELECT src AS y, count(*)::BIGINT AS deg
       |        FROM sym GROUP BY 1),
       |wedge AS (
       |  SELECT s1.dst AS y, s1.src AS x, s2.dst AS z
       |  FROM sym s1 JOIN sym s2 ON s2.src = s1.dst
       |  WHERE s1.src < s2.dst),
       |scored AS (
       |  SELECT w.x AS id_a, w.z AS id_b, count(*)::BIGINT AS cn,
       |    sum(1000000 // d.deg)::BIGINT AS ra_ppm
       |  FROM wedge w JOIN deg d ON d.y = w.y
       |  GROUP BY 1, 2)
       |SELECT s.id_a, s.id_b, s.cn, s.ra_ppm FROM scored s
       |WHERE NOT EXISTS (
       |  SELECT 1 FROM ce e
       |  WHERE e.a = s.id_a AND e.b = s.id_b)""".stripMargin

  /** Oracle for `sim_graph_topk`: the mutual-kNN edge CTEs (shared
    * with [[graphLinkPredict]]) plus the two-round beam search
    * unrolled — entries, expand-by-edges, exact-cosine re-rank to beam
    * 8 each round, top-5 out. Mirrors the `sim_graph_topk` query.
    */
  def simGraphTopK(minCos: Double = 0.2, k: Int = 3, nTables: Int = 8,
                   targetBucket: Int = 128, minBits: Int = 4,
                   maxBits: Int = 16, dim: Int = 64, seed: Long = 42L,
                   beam: Int = 8, outK: Int = 5,
                   entryMod: Int = 500): String = {
    def rank(candCte: String, name: String) =
      s"""$name AS (SELECT query_id, cand, rn FROM (
         |  SELECT c.query_id, c.cand, row_number() OVER (
         |    PARTITION BY c.query_id
         |    ORDER BY list_cosine_similarity(q.v, x.v) DESC,
         |      c.cand ASC) AS rn
         |  FROM $candCte c JOIN cv x ON x.cand = c.cand
         |  JOIN qv q ON q.query_id = c.query_id
         |  WHERE c.cand <> c.query_id)
         |  WHERE rn <= $beam)""".stripMargin
    s"""WITH ${embLshPairsCtes(nTables, targetBucket, minBits, maxBits, dim, seed)},
       |thr AS (SELECT id_a, id_b, cos FROM pairs WHERE cos >= $minCos),
       |symc AS (
       |  SELECT id_a AS a, id_b AS b, cos FROM thr
       |  UNION ALL SELECT id_b, id_a, cos FROM thr),
       |rkd AS (
       |  SELECT a, b, row_number() OVER (PARTITION BY a
       |    ORDER BY cos DESC, b ASC) AS rnk
       |  FROM symc),
       |tpk AS (SELECT * FROM rkd WHERE rnk <= $k),
       |ce AS MATERIALIZED (
       |  SELECT x.a, x.b
       |  FROM tpk x JOIN tpk y ON x.a = y.b AND x.b = y.a
       |  WHERE x.a < x.b),
       |sym AS (SELECT a AS src, b AS dst FROM ce
       |        UNION ALL SELECT b, a FROM ce),
       |qv AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS v
       |       FROM embeddings WHERE vec_id < 8),
       |cv AS (SELECT vec_id AS cand, embedding::DOUBLE[] AS v
       |       FROM embeddings),
       |ent AS (SELECT vec_id AS cand FROM embeddings
       |        WHERE vec_id % $entryMod = 0),
       |c0 AS (SELECT q.query_id, e.cand FROM qv q CROSS JOIN ent e),
       |${rank("c0", "b0")},
       |c1 AS (SELECT DISTINCT query_id, cand FROM (
       |  SELECT query_id, cand FROM b0
       |  UNION ALL SELECT b.query_id, s.dst AS cand
       |  FROM b0 b JOIN sym s ON s.src = b.cand)),
       |${rank("c1", "b1")},
       |c2 AS (SELECT DISTINCT query_id, cand FROM (
       |  SELECT query_id, cand FROM b1
       |  UNION ALL SELECT b.query_id, s.dst AS cand
       |  FROM b1 b JOIN sym s ON s.src = b.cand)),
       |${rank("c2", "b2")}
       |SELECT query_id, rn::INT AS rank, cand AS neighbor_id
       |FROM b2 WHERE rn <= $outK""".stripMargin
  }

  /** Oracle for `ml_logreg_train`: the 3-round full-batch gradient
    * descent unrolled as a CTE chain. Each round's gradient is the sum
    * of PER-SAMPLE e6-scaled rounded BIGINTs (exactly the engine's
    * map-side integer reduction), and the weight updates replay the
    * identical double arithmetic `w − 0.1·((G/1e6)/n)` — so weights,
    * accuracy, and the e6-scaled log loss are bit-stable cross-engine.
    */
  def mlLogregTrain(iters: Int = 3): String = {
    def z(w: String) =
      s"($w.b + $w.w1*f.x1 + $w.w2*f.x2 + $w.w3*f.x3)"
    def p(w: String) = s"(1.0/(1.0 + exp(-${z(w)})))"
    def g(w: String, x: String) =
      s"sum(round(((${p(w)} - f.y) * $x) * 1000000.0)::BIGINT)::BIGINT"
    val sb = new StringBuilder
    sb ++=
      s"""WITH feat AS (
         |  SELECT (length(text)::DOUBLE / 1000.0) AS x1,
         |    (len(a)::DOUBLE / 100.0) AS x2,
         |    (len(list_distinct(a))::DOUBLE
         |      / greatest(len(a), 1)::DOUBLE) AS x3,
         |    (lang = 'en')::INT::DOUBLE AS y
         |  FROM (SELECT lang, text,
         |      regexp_split_to_array(lower(trim(text)), '\\s+') AS a
         |    FROM documents WHERE length(trim(text)) > 0)),
         |c AS (SELECT count(*)::BIGINT AS n FROM feat),
         |w0 AS (SELECT 0.0::DOUBLE AS b, 0.0::DOUBLE AS w1,
         |       0.0::DOUBLE AS w2, 0.0::DOUBLE AS w3)""".stripMargin
    for (i <- 1 to iters) {
      val pw = s"w${i - 1}"
      sb ++=
        s""",
           |g$i AS (SELECT ${g("w", "1.0")} AS gb,
           |  ${g("w", "f.x1")} AS g1,
           |  ${g("w", "f.x2")} AS g2,
           |  ${g("w", "f.x3")} AS g3
           |  FROM feat f CROSS JOIN $pw w),
           |w$i AS (SELECT
           |  w.b - 0.1::DOUBLE * ((g.gb::DOUBLE / 1000000.0) / c.n) AS b,
           |  w.w1 - 0.1::DOUBLE * ((g.g1::DOUBLE / 1000000.0) / c.n) AS w1,
           |  w.w2 - 0.1::DOUBLE * ((g.g2::DOUBLE / 1000000.0) / c.n) AS w2,
           |  w.w3 - 0.1::DOUBLE * ((g.g3::DOUBLE / 1000000.0) / c.n) AS w3
           |  FROM $pw w, g$i g, c)""".stripMargin
    }
    sb ++=
      s"""
         |, fin AS (SELECT f.y, ${p("w")} AS p
         |  FROM feat f CROSS JOIN w$iters w),
         |m AS (SELECT count(*)::BIGINT AS n,
         |  sum(((p >= 0.5)::INT = y::INT)::BIGINT)::BIGINT AS correct,
         |  sum(round((-(y * ln(p) + (1.0 - y) * ln(1.0 - p)))
         |    * 1000000.0)::BIGINT)::BIGINT AS loss_e6
         |  FROM fin)
         |SELECT round(w.b * 1000000.0)::BIGINT AS b_e6,
         |  round(w.w1 * 1000000.0)::BIGINT AS w1_e6,
         |  round(w.w2 * 1000000.0)::BIGINT AS w2_e6,
         |  round(w.w3 * 1000000.0)::BIGINT AS w3_e6,
         |  m.n, m.correct, m.loss_e6
         |FROM w$iters w CROSS JOIN m""".stripMargin
    sb.toString
  }

  /** Oracle for `ml_logreg_cv`: [[mlLogregTrain]] unrolled per fold —
    * train CTEs filtered to fold <> f, the eval pass to fold = f,
    * 3-row UNION ALL result. Mirrors the `ml_logreg_cv` builder loop exactly.
    */
  def mlLogregCv(folds: Int = 3, iters: Int = 3): String = {
    def z(w: String) =
      s"($w.b + $w.w1*f.x1 + $w.w2*f.x2 + $w.w3*f.x3)"
    def p(w: String) = s"(1.0/(1.0 + exp(-${z(w)})))"
    def g(w: String, x: String) =
      s"sum(round(((${p(w)} - f.y) * $x) * 1000000.0)::BIGINT)::BIGINT"
    val sb = new StringBuilder
    sb ++=
      s"""WITH feat AS (
         |  SELECT (doc_id % $folds)::INT AS fold,
         |    (length(text)::DOUBLE / 1000.0) AS x1,
         |    (len(a)::DOUBLE / 100.0) AS x2,
         |    (len(list_distinct(a))::DOUBLE
         |      / greatest(len(a), 1)::DOUBLE) AS x3,
         |    (lang = 'en')::INT::DOUBLE AS y
         |  FROM (SELECT doc_id, lang, text,
         |      regexp_split_to_array(lower(trim(text)), '\\s+') AS a
         |    FROM documents WHERE length(trim(text)) > 0))""".stripMargin
    for (fo <- 0 until folds) {
      sb ++=
        s""",
           |tr$fo AS (SELECT * FROM feat WHERE fold <> $fo),
           |c$fo AS (SELECT count(*)::BIGINT AS n FROM tr$fo),
           |w${fo}_0 AS (SELECT 0.0::DOUBLE AS b, 0.0::DOUBLE AS w1,
           |  0.0::DOUBLE AS w2, 0.0::DOUBLE AS w3)""".stripMargin
      for (i <- 1 to iters) {
        val pw = s"w${fo}_${i - 1}"
        sb ++=
          s""",
             |g${fo}_$i AS (SELECT ${g("w", "1.0")} AS gb,
             |  ${g("w", "f.x1")} AS g1,
             |  ${g("w", "f.x2")} AS g2,
             |  ${g("w", "f.x3")} AS g3
             |  FROM tr$fo f CROSS JOIN $pw w),
             |w${fo}_$i AS (SELECT
             |  w.b - 0.1::DOUBLE * ((g.gb::DOUBLE / 1000000.0) / c.n) AS b,
             |  w.w1 - 0.1::DOUBLE * ((g.g1::DOUBLE / 1000000.0) / c.n) AS w1,
             |  w.w2 - 0.1::DOUBLE * ((g.g2::DOUBLE / 1000000.0) / c.n) AS w2,
             |  w.w3 - 0.1::DOUBLE * ((g.g3::DOUBLE / 1000000.0) / c.n) AS w3
             |  FROM $pw w, g${fo}_$i g, c$fo c)""".stripMargin
      }
      sb ++=
        s""",
           |fin$fo AS (SELECT f.y, ${p("w")} AS p
           |  FROM feat f CROSS JOIN w${fo}_$iters w WHERE f.fold = $fo),
           |m$fo AS (SELECT count(*)::BIGINT AS n_test,
           |  sum(((p >= 0.5)::INT = y::INT)::BIGINT)::BIGINT AS correct,
           |  sum(round((-(y * ln(p) + (1.0 - y) * ln(1.0 - p)))
           |    * 1000000.0)::BIGINT)::BIGINT AS loss_e6
           |  FROM fin$fo),
           |r$fo AS (SELECT $fo::INT AS fold, c.n AS n_train,
           |  round(w.b * 1000000.0)::BIGINT AS b_e6,
           |  round(w.w1 * 1000000.0)::BIGINT AS w1_e6,
           |  round(w.w2 * 1000000.0)::BIGINT AS w2_e6,
           |  round(w.w3 * 1000000.0)::BIGINT AS w3_e6,
           |  m.n_test, m.correct, m.loss_e6
           |  FROM w${fo}_$iters w CROSS JOIN m$fo m CROSS JOIN c$fo c)"""
          .stripMargin
    }
    sb ++= "\n" + (0 until folds)
      .map(fo => s"SELECT * FROM r$fo").mkString("\nUNION ALL\n")
    sb.toString
  }

  /** Oracle for `graph_neighborhood`: recursive ≤`hops` walk over the
    * self-looped near-dup edge set, min-hop dedup, then per-vertex
    * reach counts at each hop — the exact ground truth the engine's
    * bitmap-state propagation must reproduce. Mirrors the
    * `graph_neighborhood` bitmap loop in [[graft.queries.GraphQueries]].
    */
  def graphNeighborhood(numHashes: Int = 16, rowsPerBand: Int = 2,
                        hops: Int = 3): String =
    s"""WITH RECURSIVE ${tokenHashCtes()},
       |${shingleHashCtes()},
       |${minhashCtes(numHashes, rowsPerBand)},
       |${edgeCtes(numHashes)},
       |es AS (SELECT src, dst FROM edges
       |       UNION SELECT id, id FROM verts),
       |walk(src, dst, h) AS (
       |  SELECT src, dst, 1 FROM es
       |  UNION
       |  SELECT w.src, e.dst, w.h + 1 FROM walk w
       |  JOIN es e ON e.src = w.dst
       |  WHERE w.h < $hops),
       |r AS (SELECT src, dst, min(h) AS mh FROM walk GROUP BY 1, 2)
       |SELECT src AS doc_id,
       |  (count(*) FILTER (WHERE mh <= 1))::BIGINT AS n1,
       |  (count(*) FILTER (WHERE mh <= 2))::BIGINT AS n2,
       |  count(*)::BIGINT AS n3
       |FROM r GROUP BY 1""".stripMargin

  /** Oracle for `graph_neighborhood_hll`: the HyperANF loop with HLL
    * register states instead of exact sets, re-derived end to end —
    * the recursive walk gives each vertex's TRUE hop-h reachable set,
    * every reachable dst is hashed through the bit-exact XXH64
    * emulation, and bucket/rank/registers/estimator reuse the shared
    * integer constants of [[approxDistinctHll]]. HLL registers from a
    * merged union equal registers over the union set (max is
    * associative), so the engine's iterated state merges land on these
    * exact estimates bit for bit.
    */
  def graphNeighborhoodHll(numHashes: Int = 16, rowsPerBand: Int = 2,
                           hops: Int = 3): String = {
    import graft.expressions.Hll
    val sb = Hll.SuffixBits
    val two = BigInt(1) << sb
    val ch = new Chain("gh", "SELECT dst, dst::HUGEINT AS lv FROM dv")
    val hv = hashLong(ch, "lv", "42", "h")
    val rankCase = (1 to sb)
      .map(r => s"WHEN sfx >= ${BigInt(1) << (sb - r)} THEN $r")
      .mkString("\n|     ")
    val termCase = (0 to sb + 1)
      .map(m => s"WHEN $m THEN ${BigInt(1) << (sb + 1 - m)}")
      .mkString("\n|           ")
    val lnCase = (1 to Hll.M)
      .map(v => s"WHEN $v THEN ${Hll.LnTable(v - 1)}")
      .mkString("\n|            ")
    s"""WITH RECURSIVE ${tokenHashCtes()},
       |${shingleHashCtes()},
       |${minhashCtes(numHashes, rowsPerBand)},
       |${edgeCtes(numHashes)},
       |es AS (SELECT src, dst FROM edges
       |       UNION SELECT id, id FROM verts),
       |walk(src, dst, h) AS (
       |  SELECT src, dst, 1 FROM es
       |  UNION
       |  SELECT w.src, e.dst, w.h + 1 FROM walk w
       |  JOIN es e ON e.src = w.dst
       |  WHERE w.h < $hops),
       |rw AS MATERIALIZED (
       |  SELECT src, dst, min(h) AS mh FROM walk GROUP BY 1, 2),
       |dv AS (SELECT DISTINCT dst FROM rw),
       |${ch.render},
       |hh AS MATERIALIZED (SELECT dst, $hv AS hv FROM ${ch.last}),
       |bx AS (SELECT dst, hv // $two AS j, hv % $two AS sfx FROM hh),
       |br AS (SELECT dst, j,
       |   CASE WHEN sfx = 0 THEN ${sb + 1}
       |     $rankCase END AS r FROM bx),
       |hp AS (SELECT unnest([${(1 to hops).mkString(", ")}]) AS h),
       |regs AS (SELECT w.src, hp.h, b.j, max(b.r) AS m
       |         FROM rw w JOIN br b ON b.dst = w.dst
       |         JOIN hp ON w.mh <= hp.h GROUP BY 1, 2, 3),
       |fr AS (SELECT g.src, g.h, t.j, coalesce(rg.m, 0) AS m
       |       FROM (SELECT DISTINCT src, h FROM regs) g
       |       CROSS JOIN range(0, ${Hll.M}) t(j)
       |       LEFT JOIN regs rg ON rg.src = g.src AND rg.h = g.h
       |         AND rg.j = t.j),
       |ag AS (SELECT src, h,
       |         sum(CASE m
       |           $termCase END)::HUGEINT AS s,
       |         sum(CASE WHEN m = 0 THEN 1 ELSE 0 END)::BIGINT AS v
       |       FROM fr GROUP BY 1, 2),
       |esr AS (SELECT src, h, v,
       |         CAST('${Hll.RawNumerator}' AS HUGEINT) // (s * 1000000)
       |           AS raw
       |       FROM ag),
       |ev2 AS (SELECT src, h,
       |  CASE WHEN v > 0 AND raw <= ${Hll.LinearThreshold}
       |       THEN (${Hll.M}::HUGEINT * (CASE v
       |            $lnCase END)) // 1000000
       |       ELSE least(raw, 9223372036854775807) END::BIGINT AS e
       |  FROM esr)
       |SELECT src AS doc_id,
       |  max(CASE WHEN h = 1 THEN e END)::BIGINT AS n1_est,
       |  max(CASE WHEN h = 2 THEN e END)::BIGINT AS n2_est,
       |  max(CASE WHEN h = 3 THEN e END)::BIGINT AS n3_est
       |FROM ev2 GROUP BY 1""".stripMargin
  }

  /** Oracle for `split_leakage_safe`: component closure (the
    * `dedup_components` CTEs), singleton docs their own rep, the REP id
    * hashed through the XXH64 chain into the same 0.9/0.05/0.05 buckets
    * as [[assignSplit]] — so every member of a near-dup cluster lands
    * in the same split.
    */
  def splitLeakageSafe(numHashes: Int = 16, rowsPerBand: Int = 2): String =
    s"""WITH RECURSIVE ${tokenHashCtes()},
       |${shingleHashCtes()},
       |${minhashCtes(numHashes, rowsPerBand)},
       |${componentCtes(numHashes)},
       |full_docs AS (
       |  SELECT d.doc_id, coalesce(c.rep_id, d.doc_id) AS rep
       |  FROM documents d LEFT JOIN comp c USING (doc_id)),
       |reps AS (SELECT DISTINCT rep AS doc_id FROM full_docs),
       |${idHashCtes("reps", "doc_id")},
       |bk AS (SELECT doc_id AS rep,
       |         ((hv % 1000000) + 1000000) % 1000000 AS b FROM hashed)
       |SELECT f.doc_id, f.rep,
       |  CASE WHEN b < 900000 THEN 'train'
       |       WHEN b < 950000 THEN 'val'
       |       ELSE 'test' END AS split
       |FROM full_docs f JOIN bk USING (rep)""".stripMargin

  def graphTriangles(numHashes: Int = 16, rowsPerBand: Int = 2): String =
    s"""WITH ${tokenHashCtes()},
       |${shingleHashCtes()},
       |${minhashCtes(numHashes, rowsPerBand)},
       |${edgeCtes(numHashes)},
       |ce AS MATERIALIZED (SELECT DISTINCT id_a AS a, id_b AS b FROM fcand),
       |tri AS (
       |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
       |  FROM ce e1
       |  JOIN ce e2 ON e2.a = e1.b
       |  JOIN ce e3 ON e3.a = e1.a AND e3.b = e2.b),
       |nodes AS (
       |  SELECT x AS doc_id FROM tri
       |  UNION ALL SELECT y FROM tri
       |  UNION ALL SELECT z FROM tri)
       |SELECT doc_id, count(*)::BIGINT AS n_triangles
       |FROM nodes GROUP BY 1""".stripMargin

  /** Oracle for `cluster_dbscan_grid` (VERDICT r13 #4): the DuckDB twin
    * now mirrors the ENGINE's scale discipline instead of degrading to
    * the quadratic all-pairs definition that timed out at the 10×
    * fixture (2400 s pool cap + a 3600 s solo watchdog the recursive
    * closure did not honor):
    *
    *   1. distinct-coordinate rollup (`reps`) — duplicate mass becomes
    *      one representative with a multiplicity, exactly as
    *      `ops.Dbscan.reps` (co-located points are role-
    *      interchangeable, see the engine's exactness argument);
    *   2. the 3×3 eps-cell grid join — each rep probes 9 cells, pairs
    *      hash-join on (cx, cy) and pass the EXACT integer squared-
    *      distance filter, so pair generation is O(candidate pairs),
    *      never O(n²); the superset-then-exact-filter is lossless for
    *      any integer division flavor (a cell is at most eps wide, so
    *      |Δx| ≤ eps ⇒ |Δcx| ≤ 1);
    *   3. core components via `rounds` UNROLLED min-label rounds, each
    *      an edge relax + a pointer jump (label ← min(label,
    *      label(label))) — O(log diameter) convergence instead of the
    *      transitive-closure CTE whose intermediate size is quadratic
    *      in component size on the dense 10× eps-graph;
    *   4. a convergence SENTINEL: if the last two label frames differ,
    *      one poison row (vec_id −1, role −1, cluster = #unconverged)
    *      is appended, flipping the gate red LOUDLY instead of ever
    *      passing split labels silently (the single-linkage
    *      convergence-tripwire precedent).
    */
  def clusterDbscanGrid(eps: Long = 50000L, minPts: Long = 8L,
                        rounds: Int = 12): String = {
    val eps2 = eps * eps
    val labelCtes = (1 to rounds).map { k =>
      s"""e$k AS MATERIALIZED (
         |  SELECT v, min(l) AS l FROM (
         |    SELECT v, l FROM l${k - 1}
         |    UNION ALL
         |    SELECT e.dst AS v, p.l FROM l${k - 1} p
         |    JOIN ce e ON e.src = p.v
         |  ) GROUP BY v),
         |l$k AS MATERIALIZED (
         |  SELECT a.v, least(a.l, coalesce(b.l, a.l)) AS l
         |  FROM e$k a LEFT JOIN e$k b ON b.v = a.l)""".stripMargin
    }.mkString(",\n")
    s"""WITH pts AS MATERIALIZED (
       |  SELECT vec_id,
       |    floor(embedding[1]::DOUBLE * 1000000.0 + 0.5)::BIGINT AS x,
       |    floor(embedding[2]::DOUBLE * 1000000.0 + 0.5)::BIGINT AS y
       |  FROM embeddings),
       |cells AS MATERIALIZED (
       |  SELECT min(vec_id)::BIGINT AS rid, x, y,
       |    count(*)::BIGINT AS mult, x // $eps AS cx, y // $eps AS cy
       |  FROM pts GROUP BY x, y),
       |probe AS (
       |  SELECT c.rid, c.x, c.y, c.mult,
       |    c.cx + o.ox AS cx, c.cy + o.oy AS cy
       |  FROM cells c CROSS JOIN (
       |    SELECT a.ox, b.oy FROM (VALUES (-1), (0), (1)) a(ox),
       |         (VALUES (-1), (0), (1)) b(oy)) o),
       |nbr AS MATERIALIZED (
       |  SELECT a.rid AS ra, b.rid AS rb, b.mult AS mult_b
       |  FROM cells a JOIN probe b ON b.cx = a.cx AND b.cy = a.cy
       |  WHERE a.rid <> b.rid
       |    AND (a.x - b.x) * (a.x - b.x)
       |      + (a.y - b.y) * (a.y - b.y) <= $eps2),
       |roles AS MATERIALIZED (
       |  SELECT c.rid, c.x, c.y, c.mult,
       |    (CASE WHEN c.mult + coalesce(w.wnn, 0) >= $minPts
       |      THEN 1 ELSE 0 END) AS is_core
       |  FROM cells c LEFT JOIN (
       |    SELECT ra AS rid, sum(mult_b) AS wnn FROM nbr GROUP BY 1) w
       |    USING (rid)),
       |ce AS MATERIALIZED (
       |  SELECT n.ra AS src, n.rb AS dst FROM nbr n
       |  JOIN roles sa ON sa.rid = n.ra AND sa.is_core = 1
       |  JOIN roles sb ON sb.rid = n.rb AND sb.is_core = 1),
       |l0 AS MATERIALIZED (
       |  SELECT rid AS v, rid AS l FROM roles WHERE is_core = 1),
       |$labelCtes,
       |delta AS (
       |  SELECT count(*)::BIGINT AS d
       |  FROM l$rounds a JOIN l${rounds - 1} b
       |    ON a.v = b.v AND a.l <> b.l),
       |corelbl AS MATERIALIZED (
       |  SELECT v AS rid, l AS cluster FROM l$rounds),
       |borderlbl AS MATERIALIZED (
       |  SELECT r.rid, min(cl.cluster) AS cluster
       |  FROM roles r JOIN nbr n ON n.ra = r.rid
       |  JOIN corelbl cl ON cl.rid = n.rb
       |  WHERE r.is_core = 0 GROUP BY 1),
       |lbl AS (
       |  SELECT rid, 2 AS role, cluster FROM corelbl
       |  UNION ALL
       |  SELECT rid, 1, cluster FROM borderlbl
       |  UNION ALL
       |  SELECT r.rid, 0, -1 FROM roles r
       |  WHERE r.is_core = 0
       |    AND r.rid NOT IN (SELECT rid FROM borderlbl))
       |SELECT p.vec_id, l.role::BIGINT AS role,
       |  l.cluster::BIGINT AS cluster
       |FROM pts p JOIN cells c USING (x, y) JOIN lbl l ON l.rid = c.rid
       |UNION ALL
       |SELECT (-1)::BIGINT, (-1)::BIGINT, d FROM delta WHERE d > 0"""
      .stripMargin
  }

  /** Oracle for `graph_clustering_coeff`: same candidate-edge closure
    * as `graph_triangles`; degrees from the exploded edge list, cc =
    * exact-integer `2·T / (deg·(deg−1))` with one IEEE division.
    */
  def graphClusteringCoeff(numHashes: Int = 16,
                           rowsPerBand: Int = 2): String =
    s"""WITH ${tokenHashCtes()},
       |${shingleHashCtes()},
       |${minhashCtes(numHashes, rowsPerBand)},
       |${edgeCtes(numHashes)},
       |ce AS MATERIALIZED (SELECT DISTINCT id_a AS a, id_b AS b FROM fcand),
       |tri AS (
       |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
       |  FROM ce e1
       |  JOIN ce e2 ON e2.a = e1.b
       |  JOIN ce e3 ON e3.a = e1.a AND e3.b = e2.b),
       |nodes AS (
       |  SELECT x AS doc_id FROM tri
       |  UNION ALL SELECT y FROM tri
       |  UNION ALL SELECT z FROM tri),
       |tc AS (SELECT doc_id, count(*)::BIGINT AS n_triangles
       |       FROM nodes GROUP BY 1),
       |degn AS (SELECT a AS doc_id FROM ce
       |         UNION ALL SELECT b FROM ce),
       |deg AS (SELECT doc_id, count(*)::BIGINT AS degree
       |        FROM degn GROUP BY 1)
       |SELECT d.doc_id, d.degree,
       |  coalesce(tc.n_triangles, 0)::BIGINT AS n_triangles,
       |  ${eRatioE("2 * coalesce(tc.n_triangles, 0)",
            "d.degree * (d.degree - 1)", 10000L)} AS cc
       |FROM deg d LEFT JOIN tc USING (doc_id)
       |WHERE d.degree >= 2""".stripMargin

  /** Oracle for `graph_pagerank`: the same edge closure, outdegrees,
    * and `iters` unrolled integer-exact rank rounds
    * (`floor(rank·damping% / (100·deg))` contributions, long sums,
    * constant teleport in millionths).
    */
  /** Oracle for `incr_agg_merge`: the direct full recompute the
    * incremental merge must equal — per-customer count/sum/min/max over
    * exact integer cents plus the derived rounded mean.
    */
  def incrAggMerge(): String =
    s"""WITH c AS (
       |  SELECT o_custkey,
       |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
       |  FROM orders)
       |SELECT o_custkey,
       |  count(*) AS st_cnt,
       |  CAST(sum(cents) AS BIGINT) AS st_sum,
       |  min(cents) AS st_min,
       |  max(cents) AS st_max,
       |  ${eRatioE("CAST(sum(cents) AS BIGINT)", "count(*)", 10000L)} AS st_avg
       |FROM c GROUP BY o_custkey""".stripMargin

  /** Oracle for `analytics_linreg`: identical sufficient statistics in
    * HUGEINT, identical final IEEE association (num::DOUBLE/den::DOUBLE,
    * then (sy - slope*sx)/n), Spark-semantics rounding.
    */
  def analyticsLinreg(): String = {
    val slope = "(n*sxy - sx*sy)::DOUBLE / (n*sxx - sx*sx)::DOUBLE"
    s"""WITH m AS (
       |  SELECT l_returnflag,
       |    CAST(l_quantity AS BIGINT)::HUGEINT AS x,
       |    CAST(floor(l_extendedprice * 100) AS BIGINT)::HUGEINT AS y
       |  FROM lineitem),
       |st AS (
       |  SELECT l_returnflag, count(*)::HUGEINT AS n,
       |    sum(x) AS sx, sum(y) AS sy,
       |    sum(x * x) AS sxx, sum(x * y) AS sxy
       |  FROM m GROUP BY l_returnflag)
       |SELECT l_returnflag, CAST(n AS BIGINT) AS n,
       |  ${roundSpark(slope, 6)} AS slope,
       |  ${roundSpark(s"(sy::DOUBLE - ($slope) * sx::DOUBLE) / n::DOUBLE", 2)} AS intercept
       |FROM st""".stripMargin
  }

  /** Oracle for `profile_correlations`: one sufficient-statistics row
    * in HUGEINT, three long-form Pearson r values with the engine's
    * exact IEEE association (num::DOUBLE / sqrt(da::DOUBLE * db::DOUBLE)).
    */
  def profileCorrelations(): String = {
    def r(a: String, b: String): String = roundSpark(
      s"(n*s_${a}_$b - s_$a*s_$b)::DOUBLE / " +
        s"sqrt((n*s_${a}_$a - s_$a*s_$a)::DOUBLE * " +
        s"(n*s_${b}_$b - s_$b*s_$b)::DOUBLE)", 6)
    s"""WITH m AS (
       |  SELECT CAST(l_quantity AS BIGINT)::HUGEINT AS qty,
       |    CAST(floor(l_extendedprice * 100) AS BIGINT)::HUGEINT AS price,
       |    CAST(floor(l_discount * 10000) AS BIGINT)::HUGEINT AS disc
       |  FROM lineitem),
       |st AS (
       |  SELECT count(*)::HUGEINT AS n,
       |    sum(qty) AS s_qty, sum(price) AS s_price, sum(disc) AS s_disc,
       |    sum(qty * qty) AS s_qty_qty,
       |    sum(price * price) AS s_price_price,
       |    sum(disc * disc) AS s_disc_disc,
       |    sum(qty * price) AS s_qty_price,
       |    sum(qty * disc) AS s_qty_disc,
       |    sum(price * disc) AS s_price_disc
       |  FROM m)
       |SELECT 'qty_price' AS pair, ${r("qty", "price")} AS r FROM st
       |UNION ALL
       |SELECT 'qty_disc', ${r("qty", "disc")} FROM st
       |UNION ALL
       |SELECT 'price_disc', ${r("price", "disc")} FROM st""".stripMargin
  }

  /** Oracle for `text_bpe_encode`: re-derives the top-`nMerges` merge
    * table exactly like [[textBpePairs]], then emulates the engine's
    * rank-ordered left-to-right merge passes WITHOUT recursion. Each
    * token is wrapped in its OWN delimiter pair (`D tok D`, D =
    * chr(31), never inside an `[a-z0-9]` word), so a word starts as
    * `Dc1DDc2D...DcnD` and one merge pass is ONE SQL
    * `replace(DaDDbD → DabD)`. Each match consumes exactly two
    * complete self-contained token wrappers — adjacent candidate pairs
    * share NO characters (an interleaved `Dc1Dc2D` encoding would make
    * neighboring matches share a delimiter, and `replace`'s
    * non-overlapping scan would skip every other merge: "bbbb" with
    * (b,b) must give 2 tokens, not 3). Left-to-right non-overlapping
    * `replace` is then bit-for-bit the engine's token-level pass
    * ([[graft.expressions.BpeOps.wordTokens]]). Token count =
    * delimiter count / 2. Missing ranks (tiny corpora) fall back to
    * an unmatchable chr(1) pair.
    */
  /** Oracle for `text_bpe_learn`: the iterative merge loop unrolled —
    * per round, adjacent-pair counts over the CURRENT segmentation
    * (DuckDB symbol lists), the (cnt DESC, l, r) argmax, then greedy
    * left-to-right re-segmentation via the delimiter-string replace
    * trick (global `replace` over ␟-wrapped tokens merges
    * non-overlapping left-to-right, the same semantics as the
    * engine's array fold — verified on the 'abab'→'ab ab' and
    * 'aaa'→'aa a' shapes).
    *
    * Every chain CTE is `AS MATERIALIZED`: each `w$i` is referenced
    * twice (p$i and w${i+1}) and each `t$i` five times (four scalar
    * subqueries in the replace plus the final UNION), so DuckDB's
    * per-reference CTE inlining re-evaluates the whole prefix
    * exponentially (2^rounds) without the fence — the r7 gate measured
    * >650 s for 6 rounds at sf0.01; materialized it is seconds.
    */
  def textBpeLearn(nMerges: Int = 6): String = {
    val d = "chr(31)"
    val sb = new StringBuilder
    sb ++=
      """WITH w1 AS MATERIALIZED (
        |  SELECT string_split(w, '') AS syms, count(*)::BIGINT AS wc
        |  FROM (
        |    SELECT unnest(string_split_regex(lower(text), '[^a-z0-9]+'))
        |      AS w
        |    FROM documents)
        |  WHERE length(w) >= 2 GROUP BY w)""".stripMargin
    for (i <- 1 to nMerges) {
      val l = s"(SELECT l FROM t$i)"
      val r = s"(SELECT r FROM t$i)"
      sb ++=
        s""",
           |p$i AS (
           |  SELECT syms[j] AS l, syms[j + 1] AS r, wc
           |  FROM w$i, LATERAL (SELECT unnest(range(1, len(syms))) AS j) u),
           |t$i AS MATERIALIZED (
           |  SELECT l, r, sum(wc)::BIGINT AS cnt FROM p$i GROUP BY 1, 2
           |  ORDER BY cnt DESC, l ASC, r ASC LIMIT 1),
           |w${i + 1} AS MATERIALIZED (
           |  SELECT string_split(trim(replace(
           |      $d || array_to_string(syms, $d || $d) || $d,
           |      $d || $l || $d || $d || $r || $d,
           |      $d || $l || $r || $d),
           |    $d), $d || $d) AS syms, wc
           |  FROM w$i)""".stripMargin
    }
    sb ++= (1 to nMerges).map { i =>
      s"""
         |SELECT $i AS rank, l, r, l || r AS pair, cnt FROM t$i""".stripMargin
    }.mkString("\nUNION ALL")
    sb.toString
  }

  def textBpeEncode(nMerges: Int = 8): String = {
    val d = "chr(31)"
    val enc = (1 to nMerges).foldLeft(
      s"regexp_replace(w, '(.)', $d || '\\1' || $d, 'g')") { (prev, i) =>
      val m = s"coalesce((SELECT pair FROM m WHERE rk = $i), " +
        "chr(1) || chr(1))"
      s"""replace($prev,
         |      $d || substr($m, 1, 1) || $d || $d || substr($m, 2, 1) || $d,
         |      $d || $m || $d)""".stripMargin
    }
    s"""WITH w0 AS (
       |  SELECT w, count(*) AS wc FROM (
       |    SELECT unnest(string_split_regex(lower(text), '[^a-z0-9]+'))
       |      AS w
       |    FROM documents)
       |  WHERE length(w) >= 2 GROUP BY w),
       |p AS (
       |  SELECT unnest(list_transform(range(1, length(w)),
       |                i -> substr(w, i, 2))) AS pair, wc
       |  FROM w0),
       |c AS (SELECT pair, CAST(sum(wc) AS BIGINT) AS cnt
       |      FROM p GROUP BY pair),
       |m AS (
       |  SELECT pair, CAST(row_number() OVER
       |    (ORDER BY cnt DESC, pair ASC) AS INT) AS rk
       |  FROM c ORDER BY cnt DESC, pair ASC LIMIT $nMerges),
       |dw AS (
       |  SELECT doc_id, w FROM (
       |    SELECT doc_id,
       |      unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS w
       |    FROM documents)
       |  WHERE length(w) >= 1),
       |e AS (
       |  SELECT doc_id, w,
       |    $enc AS enc
       |  FROM dw),
       |agg AS (
       |  SELECT doc_id, count(*) AS n_words, sum(length(w)) AS n_chars,
       |    sum((length(enc) - length(replace(enc, chr(31), ''))) // 2)
       |      AS n_tokens
       |  FROM e GROUP BY 1)
       |SELECT doc.doc_id, coalesce(a.n_words, 0)::INT AS n_words,
       |  coalesce(a.n_chars, 0)::BIGINT AS n_chars,
       |  coalesce(a.n_tokens, 0)::INT AS n_tokens
       |FROM documents doc LEFT JOIN agg a USING (doc_id)""".stripMargin
  }

  /** Oracle for `text_bpe_pairs`: word histogram → in-word adjacent
    * character pairs weighted by word count → deterministic top-k cut
    * (count desc, pair asc).
    */
  def textBpePairs(topK: Int = 30): String =
    s"""WITH w AS (
       |  SELECT w, count(*) AS wc FROM (
       |    SELECT unnest(string_split_regex(lower(text), '[^a-z0-9]+'))
       |      AS w
       |    FROM documents)
       |  WHERE length(w) >= 2 GROUP BY w),
       |p AS (
       |  SELECT unnest(list_transform(range(1, length(w)),
       |                i -> substr(w, i, 2))) AS pair, wc
       |  FROM w),
       |c AS (SELECT pair, CAST(sum(wc) AS BIGINT) AS cnt
       |      FROM p GROUP BY pair)
       |SELECT pair, cnt FROM c
       |ORDER BY cnt DESC, pair ASC LIMIT $topK""".stripMargin

  /** Oracle for `sample_budget_fill`: one global per-source window
    * cumsum in (shard, hash, id) order — provably the same order as the
    * engine's two-phase shard-offset + intra-shard prefix sum.
    */
  def sampleBudgetFill(budget: Long, shardBits: Int = 6): String = {
    val shift = 64 - shardBits
    val mask = (1L << shardBits) - 1
    s"""WITH ${idHashCtes()},
       |b AS (
       |  SELECT d.source, d.doc_id, length(d.text)::BIGINT AS cost,
       |         h.hv, ((h.hv >> $shift) & $mask) AS shard
       |  FROM documents d JOIN hashed h ON h.doc_id = d.doc_id),
       |c AS (
       |  SELECT source, doc_id, cost,
       |    CAST(sum(cost) OVER (PARTITION BY source
       |      ORDER BY shard, hv, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cost
       |      AS BIGINT) AS cum_before
       |  FROM b)
       |SELECT source, doc_id, cost, cum_before
       |FROM c WHERE cum_before < $budget""".stripMargin
  }

  /** Oracle for `events_anomaly`: hourly counts per type, the z>3 gate
    * in exact HUGEINT arithmetic, z derived from the same integers with
    * the engine's IEEE association and Spark-semantics rounding.
    */
  def eventsAnomaly(): String =
    s"""WITH hourly AS (
       |  SELECT event_type,
       |    CAST(CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS BIGINT)
       |      AS hour,
       |    count(*) AS cnt
       |  FROM events GROUP BY 1, 2),
       |st AS (
       |  SELECT event_type, count(*)::HUGEINT AS n,
       |    sum(cnt::HUGEINT) AS sc, sum(cnt::HUGEINT * cnt) AS scc
       |  FROM hourly GROUP BY event_type)
       |SELECT h.event_type, h.hour, h.cnt,
       |  ${roundSpark(
          "(n*h.cnt - sc)::DOUBLE / sqrt((n*scc - sc*sc)::DOUBLE)", 4)} AS z
       |FROM hourly h JOIN st ON st.event_type = h.event_type
       |WHERE (n*h.cnt - sc)*(n*h.cnt - sc) > 9*(n*scc - sc*sc)
       |  AND n*h.cnt - sc > 0""".stripMargin

  /** Oracle for `graph_kcore`: the same near-dup edge set, peeled for
    * `rounds` unrolled iterations — each round recomputes degrees over
    * the surviving edges and keeps vertices with degree >= k, exactly
    * mirroring [[graft.functions.Graph.kCore]]'s bounded-round loop.
    */
  def graphKcore(numHashes: Int = 16, rowsPerBand: Int = 2,
                 k: Int = 2, rounds: Int = 4): String = {
    val sb = new StringBuilder
    sb ++=
      s"""WITH ${tokenHashCtes()},
         |${shingleHashCtes()},
         |${minhashCtes(numHashes, rowsPerBand)},
         |${edgeCtes(numHashes)},
         |e0 AS (SELECT src, dst FROM edges)""".stripMargin
    for (i <- 1 to rounds) {
      sb ++=
        s""",
           |d$i AS (SELECT src, count(*) AS deg FROM e${i - 1} GROUP BY src),
           |a$i AS (SELECT src AS node FROM d$i WHERE deg >= $k),
           |e$i AS (SELECT e.src, e.dst FROM e${i - 1} e
           |        JOIN a$i x ON x.node = e.src
           |        JOIN a$i y ON y.node = e.dst)""".stripMargin
    }
    sb ++=
      s"""
         |SELECT src AS doc_id, CAST(count(*) AS BIGINT) AS core_deg
         |FROM e$rounds GROUP BY src HAVING count(*) >= $k""".stripMargin
    sb.toString
  }

  /** Oracle for `graph_bfs_depth`: the same near-dup edge set as the
    * engine ([[graft.functions.Graph.bfsDepthsFromSeeds]]); the seed
    * set is the `nSeeds` smallest vertex ids of the candidate graph (a
    * deterministic, always-non-empty stand-in for an audit table); a
    * depth-bounded recursive closure records every (vertex, hops) pair
    * reachable from a seed within `rounds` hops, and `min(hops)` per
    * vertex IS the BFS distance — the frontier discipline is an
    * engine-side efficiency, not a semantic difference.
    */
  def graphBfsDepth(numHashes: Int = 16, rowsPerBand: Int = 2,
                    nSeeds: Int = 5, rounds: Int = 4): String =
    s"""WITH RECURSIVE ${tokenHashCtes()},
       |${shingleHashCtes()},
       |${minhashCtes(numHashes, rowsPerBand)},
       |${edgeCtes(numHashes)},
       |seeds AS MATERIALIZED (
       |  SELECT id FROM verts ORDER BY id LIMIT $nSeeds),
       |reach(id, d) AS (
       |  SELECT id, 0 FROM seeds
       |  UNION
       |  SELECT e.dst, r.d + 1 FROM reach r
       |  JOIN edges e ON e.src = r.id WHERE r.d < $rounds)
       |SELECT id AS doc_id, min(d)::BIGINT AS depth
       |FROM reach GROUP BY 1""".stripMargin

  /** Oracle for `graph_betweenness`: k-source depth-bounded Brandes,
    * fully unrolled — per level a frontier expansion with σ summed
    * over shortest-path DAG edges (anti-joined against the visited
    * set), then the backward dependency fold with the engine's exact
    * per-term e6 integral truncation. Every level CTE is MATERIALIZED
    * (sequential chain, multi-referenced).
    */
  def graphBetweenness(numHashes: Int = 16, rowsPerBand: Int = 2,
                       nSeeds: Int = 4, levels: Int = 4): String = {
    val sb = new StringBuilder
    sb ++=
      s"""WITH ${tokenHashCtes()},
         |${shingleHashCtes()},
         |${minhashCtes(numHashes, rowsPerBand)},
         |${edgeCtes(numHashes)},
         |bseeds AS MATERIALIZED (
         |  SELECT id FROM verts ORDER BY id LIMIT $nSeeds),
         |bl0 AS MATERIALIZED (
         |  SELECT id AS s, id AS node, 1::BIGINT AS sig FROM bseeds),
         |bv0 AS MATERIALIZED (SELECT s, node FROM bl0)""".stripMargin
    for (l <- 1 to levels) {
      sb ++=
        s""",
           |bl$l AS MATERIALIZED (
           |  SELECT p.s, e.dst AS node, sum(p.sig)::BIGINT AS sig
           |  FROM bl${l - 1} p JOIN edges e ON e.src = p.node
           |  WHERE NOT EXISTS (SELECT 1 FROM bv${l - 1} w
           |    WHERE w.s = p.s AND w.node = e.dst)
           |  GROUP BY 1, 2),
           |bv$l AS MATERIALIZED (
           |  SELECT s, node FROM bv${l - 1}
           |  UNION ALL SELECT s, node FROM bl$l)""".stripMargin
    }
    sb ++=
      s""",
         |bd$levels AS MATERIALIZED (
         |  SELECT s, node, sig, 0::BIGINT AS delta FROM bl$levels)"""
        .stripMargin
    for (l <- levels to 1 by -1) {
      sb ++=
        s""",
           |bd${l - 1} AS MATERIALIZED (
           |  SELECT u.s, u.node, u.sig,
           |    COALESCE(t.dsum, 0)::BIGINT AS delta
           |  FROM bl${l - 1} u LEFT JOIN (
           |    SELECT uu.s, uu.node,
           |      sum((uu.sig * (1000000 + v.delta)) // v.sig)::BIGINT
           |        AS dsum
           |    FROM bl${l - 1} uu JOIN edges e ON e.src = uu.node
           |    JOIN bd$l v ON v.node = e.dst AND v.s = uu.s
           |    GROUP BY 1, 2) t
           |    ON t.s = u.s AND t.node = u.node)""".stripMargin
    }
    val union = (1 to levels)
      .map(l => s"SELECT s, node, delta FROM bd$l")
      .mkString("\n  UNION ALL ")
    sb ++=
      s"""
         |SELECT node AS doc_id, count(*)::BIGINT AS n_sources,
         |  sum(delta)::BIGINT AS bc_e6
         |FROM ($union) q
         |WHERE node <> s GROUP BY 1""".stripMargin
    sb.toString
  }

  /** Oracle for `graph_sssp`: the same near-dup candidate machinery
    * with edges carrying integer ppm DISSIMILARITY weights
    * ((10000 − round(est·10⁴))·100 — exact: est is a 4-dp-rounded
    * multiple of 1/16, so every product is integer-valued in DOUBLE);
    * the seed set is the `nSeeds` smallest vertex ids; a depth-bounded
    * recursive closure enumerates all walks of ≤ `rounds` edges and
    * `min(total weight)` per vertex IS the Bellman–Ford result after
    * `rounds` relaxation rounds ([[graft.functions.Graph.ssspFromSeeds]]).
    */
  def graphSssp(numHashes: Int = 16, rowsPerBand: Int = 2,
                nSeeds: Int = 5, rounds: Int = 4): String = {
    val est = estJaccardE4(numHashes)
    s"""WITH RECURSIVE ${tokenHashCtes()},
       |${shingleHashCtes()},
       |${minhashCtes(numHashes, rowsPerBand)},
       |fw AS MATERIALIZED (
       |  SELECT c.id_a, c.id_b,
       |    CAST(10000 - round($est * 10000) AS BIGINT) * 100 AS w
       |  FROM cand c JOIN sigv sa ON sa.doc_id = c.id_a
       |              JOIN sigv sb ON sb.doc_id = c.id_b
       |  WHERE $est >= 0.5),
       |wedges AS MATERIALIZED (
       |  SELECT id_a AS src, id_b AS dst, w FROM fw
       |  UNION SELECT id_b, id_a, w FROM fw),
       |wverts AS MATERIALIZED (SELECT DISTINCT src AS id FROM wedges),
       |wseeds AS MATERIALIZED (
       |  SELECT id FROM wverts ORDER BY id LIMIT $nSeeds),
       |wreach(id, d, h) AS (
       |  SELECT id, 0::BIGINT, 0 FROM wseeds
       |  UNION
       |  SELECT e.dst, r.d + e.w, r.h + 1 FROM wreach r
       |  JOIN wedges e ON e.src = r.id WHERE r.h < $rounds)
       |SELECT id AS doc_id, min(d)::BIGINT AS dist_ppm
       |FROM wreach GROUP BY 1""".stripMargin
  }

  /** Oracle for `graph_label_prop`: the same near-dup edge set,
    * `rounds` unrolled synchronous label-propagation steps — per step,
    * neighbor-label counts then the (count desc, label asc) mode —
    * mirroring [[graft.functions.Graph.labelPropagation]] exactly.
    */
  def graphLabelProp(numHashes: Int = 16, rowsPerBand: Int = 2,
                     rounds: Int = 3): String = {
    val sb = new StringBuilder
    sb ++=
      s"""WITH ${tokenHashCtes()},
         |${shingleHashCtes()},
         |${minhashCtes(numHashes, rowsPerBand)},
         |${edgeCtes(numHashes)},
         |l0 AS (SELECT id AS node, id AS label FROM verts)""".stripMargin
    for (i <- 1 to rounds) {
      sb ++=
        s""",
           |n$i AS (
           |  SELECT e.src AS node, l.label, count(*) AS cnt
           |  FROM edges e JOIN l${i - 1} l ON l.node = e.dst
           |  GROUP BY 1, 2),
           |l$i AS (
           |  SELECT node, label FROM (
           |    SELECT node, label, row_number() OVER (PARTITION BY node
           |      ORDER BY cnt DESC, label ASC) AS rn
           |    FROM n$i)
           |  WHERE rn = 1)""".stripMargin
    }
    sb ++=
      s"""
         |SELECT node AS doc_id, label AS community FROM l$rounds""".stripMargin
    sb.toString
  }

  /** Oracle for `graph_modularity`: the label-propagation communities
    * ([[graphLabelProp]] CTEs), then Newman modularity of the
    * partition as ONE exact integer ratio — Q·4m² = Σ_c (4m·e_c −
    * d_c²), reported in e9 fixed point.
    */
  def graphModularity(numHashes: Int = 16, rowsPerBand: Int = 2,
                      rounds: Int = 3): String = {
    val sb = new StringBuilder
    sb ++=
      s"""WITH ${tokenHashCtes()},
         |${shingleHashCtes()},
         |${minhashCtes(numHashes, rowsPerBand)},
         |${edgeCtes(numHashes)},
         |l0 AS (SELECT id AS node, id AS label FROM verts)""".stripMargin
    for (i <- 1 to rounds) {
      sb ++=
        s""",
           |n$i AS (
           |  SELECT e.src AS node, l.label, count(*) AS cnt
           |  FROM edges e JOIN l${i - 1} l ON l.node = e.dst
           |  GROUP BY 1, 2),
           |l$i AS (
           |  SELECT node, label FROM (
           |    SELECT node, label, row_number() OVER (PARTITION BY node
           |      ORDER BY cnt DESC, label ASC) AS rn
           |    FROM n$i)
           |  WHERE rn = 1)""".stripMargin
    }
    sb ++=
      s""",
         |comm AS MATERIALIZED (
         |  SELECT node, label AS community FROM l$rounds),
         |und AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM fcand),
         |mstat AS (SELECT count(*)::BIGINT AS m FROM und),
         |intra AS (SELECT ca.community, count(*)::BIGINT AS e_c
         |  FROM und u JOIN comm ca ON ca.node = u.a
         |  JOIN comm cb ON cb.node = u.b
         |  WHERE ca.community = cb.community GROUP BY 1),
         |deg AS (SELECT comm.community, count(*)::BIGINT AS d_c
         |  FROM edges e JOIN comm ON comm.node = e.src GROUP BY 1),
         |parts AS (SELECT d.community, coalesce(i.e_c, 0)::BIGINT AS e_c,
         |    d.d_c
         |  FROM deg d LEFT JOIN intra i USING (community)),
         |num AS (SELECT
         |    sum(4 * m.m::HUGEINT * p.e_c - p.d_c::HUGEINT * p.d_c) AS n,
         |    max(m.m) AS m, count(*)::BIGINT AS n_communities
         |  FROM parts p, mstat m)
         |SELECT n_communities, m AS n_edges,
         |  ((n * 1000000000) // (4 * m::HUGEINT * m))::BIGINT AS q_e9
         |FROM num""".stripMargin
    sb.toString
  }

  /** Oracle for `graph_louvain`: the deterministic synchronous
    * modularity local move replayed — per round, each node's candidate
    * communities (neighbor communities + its own, max-deduped k_{i,c}),
    * the exact integer gain 2m·k_{i,c} − k_i·(d_c − [c = c_i]·k_i),
    * argmax by (gain DESC, comm ASC). Mirrors
    * [[graft.functions.Graph.louvainLocalMove]] over the near-dup
    * graph.
    */
  def graphLouvain(numHashes: Int = 16, rowsPerBand: Int = 2,
                   rounds: Int = 2): String = {
    val sb = new StringBuilder
    sb ++=
      s"""WITH ${tokenHashCtes()},
         |${shingleHashCtes()},
         |${minhashCtes(numHashes, rowsPerBand)},
         |${edgeCtes(numHashes)},
         |ldeg AS MATERIALIZED (
         |  SELECT src AS node, count(*)::BIGINT AS ki
         |  FROM edges GROUP BY 1),
         |lm AS (SELECT (count(*) / 2)::BIGINT AS m FROM edges),
         |c0 AS (SELECT id AS node, id AS comm FROM verts)""".stripMargin
    for (r <- 1 to rounds) {
      sb ++=
        s""",
           |dc$r AS (SELECT c.comm, sum(d.ki)::BIGINT AS dc
           |  FROM c${r - 1} c JOIN ldeg d USING (node) GROUP BY 1),
           |kic$r AS (
           |  SELECT e.src AS node, c.comm, count(*)::BIGINT AS kic
           |  FROM edges e JOIN c${r - 1} c ON c.node = e.dst
           |  GROUP BY 1, 2),
           |cd$r AS (SELECT node, comm, max(kic)::BIGINT AS kic FROM (
           |  SELECT node, comm, kic FROM kic$r
           |  UNION ALL SELECT node, comm, 0::BIGINT FROM c${r - 1})
           |  GROUP BY 1, 2),
           |sc$r AS (
           |  SELECT a.node, a.comm,
           |    (2 * m.m * a.kic - d.ki * (dc.dc
           |      - CASE WHEN a.comm = cur.comm THEN d.ki
           |        ELSE 0 END))::BIGINT AS gain
           |  FROM cd$r a JOIN dc$r dc USING (comm)
           |  JOIN c${r - 1} cur ON cur.node = a.node
           |  JOIN ldeg d ON d.node = a.node
           |  CROSS JOIN lm m),
           |c$r AS MATERIALIZED (SELECT node, comm FROM (
           |  SELECT node, comm, row_number() OVER (PARTITION BY node
           |    ORDER BY gain DESC, comm ASC) AS rn
           |  FROM sc$r) WHERE rn = 1)""".stripMargin
    }
    sb ++=
      s"""
         |SELECT node AS doc_id, comm AS community
         |FROM c$rounds""".stripMargin
    sb.toString
  }

  /** Oracle for `graph_louvain_multilevel`: the phase-1 sweep CTEs of
    * [[graphLouvain]], then Blondel's community aggregation (inter
    * weights = cross-edge counts, doubled intra self-loops), the SAME
    * weighted synchronous local move on the supernode graph, and the
    * two-level label unfold. Mirrors
    * [[graft.functions.Graph.louvainMultilevel]].
    */
  def graphLouvainMultilevel(numHashes: Int = 16, rowsPerBand: Int = 2,
                             rounds1: Int = 2,
                             rounds2: Int = 2): String = {
    val sb = new StringBuilder
    sb ++=
      s"""WITH ${tokenHashCtes()},
         |${shingleHashCtes()},
         |${minhashCtes(numHashes, rowsPerBand)},
         |${edgeCtes(numHashes)},
         |ldeg AS MATERIALIZED (
         |  SELECT src AS node, count(*)::BIGINT AS ki
         |  FROM edges GROUP BY 1),
         |lm AS (SELECT (count(*) / 2)::BIGINT AS m FROM edges),
         |c0 AS (SELECT id AS node, id AS comm FROM verts)""".stripMargin
    for (r <- 1 to rounds1) {
      sb ++=
        s""",
           |dc$r AS (SELECT c.comm, sum(d.ki)::BIGINT AS dc
           |  FROM c${r - 1} c JOIN ldeg d USING (node) GROUP BY 1),
           |kic$r AS (
           |  SELECT e.src AS node, c.comm, count(*)::BIGINT AS kic
           |  FROM edges e JOIN c${r - 1} c ON c.node = e.dst
           |  GROUP BY 1, 2),
           |cd$r AS (SELECT node, comm, max(kic)::BIGINT AS kic FROM (
           |  SELECT node, comm, kic FROM kic$r
           |  UNION ALL SELECT node, comm, 0::BIGINT FROM c${r - 1})
           |  GROUP BY 1, 2),
           |sc$r AS (
           |  SELECT a.node, a.comm,
           |    (2 * m.m * a.kic - d.ki * (dc.dc
           |      - CASE WHEN a.comm = cur.comm THEN d.ki
           |        ELSE 0 END))::BIGINT AS gain
           |  FROM cd$r a JOIN dc$r dc USING (comm)
           |  JOIN c${r - 1} cur ON cur.node = a.node
           |  JOIN ldeg d ON d.node = a.node
           |  CROSS JOIN lm m),
           |c$r AS MATERIALIZED (SELECT node, comm FROM (
           |  SELECT node, comm, row_number() OVER (PARTITION BY node
           |    ORDER BY gain DESC, comm ASC) AS rn
           |  FROM sc$r) WHERE rn = 1)""".stripMargin
    }
    // phase 2: aggregate communities to a weighted supernode graph —
    // inter weights both directions, intra folded into 2× self-loops
    sb ++=
      s""",
         |p1 AS MATERIALIZED (SELECT node, comm FROM c$rounds1),
         |em AS MATERIALIZED (
         |  SELECT ca.comm AS ca, cb.comm AS cb
         |  FROM fcand u JOIN p1 ca ON ca.node = u.id_a
         |  JOIN p1 cb ON cb.node = u.id_b),
         |winter AS (
         |  SELECT least(ca, cb) AS x, greatest(ca, cb) AS y,
         |    count(*)::BIGINT AS w
         |  FROM em WHERE ca <> cb GROUP BY 1, 2),
         |wintra AS (
         |  SELECT ca AS x, (2 * count(*))::BIGINT AS w
         |  FROM em WHERE ca = cb GROUP BY 1),
         |wedges AS MATERIALIZED (
         |  SELECT x AS src, y AS dst, w FROM winter
         |  UNION ALL SELECT y, x, w FROM winter
         |  UNION ALL SELECT x, x, w FROM wintra),
         |wdeg AS MATERIALIZED (
         |  SELECT src AS node, sum(w)::BIGINT AS ki
         |  FROM wedges GROUP BY 1),
         |wm AS (SELECT (sum(w) / 2)::BIGINT AS m FROM wedges),
         |w0 AS (SELECT node, node AS comm FROM wdeg)""".stripMargin
    for (r <- 1 to rounds2) {
      sb ++=
        s""",
           |wdc$r AS (SELECT c.comm, sum(d.ki)::BIGINT AS dc
           |  FROM w${r - 1} c JOIN wdeg d USING (node) GROUP BY 1),
           |wkic$r AS (
           |  SELECT e.src AS node, c.comm, sum(e.w)::BIGINT AS kic
           |  FROM wedges e JOIN w${r - 1} c ON c.node = e.dst
           |  WHERE e.src <> e.dst
           |  GROUP BY 1, 2),
           |wcd$r AS (SELECT node, comm, max(kic)::BIGINT AS kic FROM (
           |  SELECT node, comm, kic FROM wkic$r
           |  UNION ALL SELECT node, comm, 0::BIGINT FROM w${r - 1})
           |  GROUP BY 1, 2),
           |wsc$r AS (
           |  SELECT a.node, a.comm,
           |    (2 * m.m * a.kic - d.ki * (dc.dc
           |      - CASE WHEN a.comm = cur.comm THEN d.ki
           |        ELSE 0 END))::BIGINT AS gain
           |  FROM wcd$r a JOIN wdc$r dc USING (comm)
           |  JOIN w${r - 1} cur ON cur.node = a.node
           |  JOIN wdeg d ON d.node = a.node
           |  CROSS JOIN wm m),
           |w$r AS MATERIALIZED (SELECT node, comm FROM (
           |  SELECT node, comm, row_number() OVER (PARTITION BY node
           |    ORDER BY gain DESC, comm ASC) AS rn
           |  FROM wsc$r) WHERE rn = 1)""".stripMargin
    }
    sb ++=
      s"""
         |SELECT p.node AS doc_id, w.comm AS community
         |FROM p1 p JOIN w$rounds2 w ON w.node = p.comm""".stripMargin
    sb.toString
  }

  /** Oracle for `cluster_single_linkage_2d`: Borůvka replayed against
    * the ALL-PAIRS eps-edge definition (no grid — proving the engine's
    * grid candidate graph lossless, the dbscan-oracle precedent).
    * Each round every component picks its (w, a, b)-lexicographic-min
    * outgoing edge; the accumulated forest's components come from a
    * per-round recursive reachability closure (exact, no iteration
    * bound); after `rounds` no-op-padded rounds (Borůvka halves
    * components, so rounds ≥ ⌈log2 n⌉ converges — n ≤ 2^rounds at
    * every oracle-gated fixture), the k−1 heaviest forest edges are
    * cut and clusters labeled by min rid. Mirrors
    * [[graft.ops.SingleLinkage]].
    */
  /** Convergence tripwire (ADVICE r12 #3): the engine side `require`s
    * Borůvka convergence, but this fixed-`rounds` replay previously had
    * no equivalent — on a fixture with > 2^rounds initial components an
    * unconverged forest surfaced only as a confusing hash mismatch. The
    * final `unconv` CTE counts cross-component eps-edges left after
    * round `rounds` and emits a loud sentinel row (cluster = -1,
    * n_points = -edges) when any remain, so the gate fails with an
    * explicit non-convergence signal instead of a value diff.
    */
  def clusterSingleLinkage2d(k: Int = 8, eps: Long = 50000L,
                             rounds: Int = 12): String = {
    val sb = new StringBuilder
    sb ++=
      s"""WITH RECURSIVE pts AS (
         |  SELECT vec_id,
         |    CAST(floor(embedding[1]::DOUBLE * 1000000 + 0.5) AS BIGINT)
         |      AS x,
         |    CAST(floor(embedding[2]::DOUBLE * 1000000 + 0.5) AS BIGINT)
         |      AS y
         |  FROM embeddings),
         |reps AS MATERIALIZED (
         |  SELECT x, y, min(vec_id) AS rid, count(*) AS mult
         |  FROM pts GROUP BY 1, 2),
         |sledges AS MATERIALIZED (
         |  SELECT a, b, w FROM (
         |    SELECT ra.rid AS a, rb.rid AS b,
         |      (ra.x - rb.x) * (ra.x - rb.x)
         |        + (ra.y - rb.y) * (ra.y - rb.y) AS w
         |    FROM reps ra JOIN reps rb ON ra.rid < rb.rid)
         |  WHERE w <= ${eps * eps}),
         |bc0 AS (SELECT rid AS node, rid AS label FROM reps),
         |acc0 AS (SELECT a, b, w FROM sledges WHERE false)""".stripMargin
    for (r <- 1 to rounds) {
      sb ++=
        s""",
           |cx$r AS (
           |  SELECT e.a, e.b, e.w, ca.label AS la, cb.label AS lb
           |  FROM sledges e JOIN bc${r - 1} ca ON ca.node = e.a
           |  JOIN bc${r - 1} cb ON cb.node = e.b
           |  WHERE ca.label <> cb.label),
           |pk$r AS (
           |  SELECT DISTINCT a, b, w FROM (
           |    SELECT a, b, w, row_number() OVER (PARTITION BY c
           |      ORDER BY w, a, b) AS rn
           |    FROM (SELECT la AS c, a, b, w FROM cx$r
           |      UNION ALL SELECT lb, a, b, w FROM cx$r))
           |  WHERE rn = 1),
           |acc$r AS MATERIALIZED (
           |  SELECT DISTINCT a, b, w FROM (
           |    SELECT a, b, w FROM acc${r - 1}
           |    UNION ALL SELECT a, b, w FROM pk$r)),
           |sym$r AS (SELECT a AS src, b AS dst FROM acc$r
           |  UNION ALL SELECT b, a FROM acc$r),
           |rc$r(id, rr) AS (
           |  SELECT rid, rid FROM reps
           |  UNION
           |  SELECT rc$r.id, s.dst FROM rc$r
           |  JOIN sym$r s ON s.src = rc$r.rr),
           |bc$r AS MATERIALIZED (
           |  SELECT id AS node, min(rr) AS label FROM rc$r
           |  GROUP BY 1)""".stripMargin
    }
    sb ++=
      s""",
         |mstr AS (SELECT a, b, w, row_number() OVER (
         |    ORDER BY w DESC, a DESC, b DESC) AS rk
         |  FROM acc$rounds),
         |kept AS (SELECT a AS src, b AS dst FROM mstr WHERE rk > ${k - 1}
         |  UNION ALL
         |  SELECT b, a FROM mstr WHERE rk > ${k - 1}),
         |rck(id, rr) AS (
         |  SELECT rid, rid FROM reps
         |  UNION
         |  SELECT rck.id, s.dst FROM rck JOIN kept s ON s.src = rck.rr),
         |fin AS (SELECT id AS rid, min(rr) AS cluster FROM rck
         |  GROUP BY 1),
         |unconv AS (
         |  SELECT count(*)::BIGINT AS n FROM sledges e
         |  JOIN bc$rounds ca ON ca.node = e.a
         |  JOIN bc$rounds cb ON cb.node = e.b
         |  WHERE ca.label <> cb.label)
         |SELECT f.cluster, sum(r.mult)::BIGINT AS n_points,
         |  count(*)::BIGINT AS n_distinct,
         |  min(r.x) AS min_x, max(r.x) AS max_x,
         |  min(r.y) AS min_y, max(r.y) AS max_y
         |FROM reps r JOIN fin f ON f.rid = r.rid
         |GROUP BY 1
         |UNION ALL
         |SELECT -1::BIGINT, -n, -1::BIGINT, 0::BIGINT, 0::BIGINT,
         |  0::BIGINT, 0::BIGINT
         |FROM unconv WHERE n > 0""".stripMargin
    sb.toString
  }

  /** Oracle for `export_shards`: xxhash64(doc_id) mod nShards shard
    * assignment (the integer-hash CTE chain) + per-shard volume stats.
    */
  /** Oracle for `export_rendezvous_shards`: highest-random-weight
    * (rendezvous) hashing — per (doc, shard) score is the chained
    * xxhash64 of (doc_id, shard) (seed 42, exactly Spark's multi-arg
    * fold), the winner is the max SIGNED score with shard-asc
    * tie-break, and the stability half recomputes the winner with one
    * shard added: HRW's guarantee is that a doc moves only when the
    * NEW shard wins, so moved counts are ~1/(n+1) of each shard.
    */
  def exportRendezvousShards(nShards: Int = 8): String = {
    val ch = new Chain("rv",
      s"SELECT d.doc_id, t.sh, d.doc_id::HUGEINT AS ka, " +
        s"t.sh::HUGEINT AS kb " +
        s"FROM documents d CROSS JOIN range(0, ${nShards + 1}) t(sh)")
    val h1 = hashLong(ch, "ka", "42", "p")
    val h2 = hashLong(ch, "kb", h1, "w")
    s"""WITH ${ch.render},
       |scored AS MATERIALIZED (
       |  SELECT doc_id, sh::BIGINT AS sh, ${sig(h2)} AS hv
       |  FROM ${ch.last}),
       |a8 AS (
       |  SELECT doc_id, sh AS s8 FROM (
       |    SELECT doc_id, sh, row_number() OVER (PARTITION BY doc_id
       |      ORDER BY hv DESC, sh ASC) AS rn
       |    FROM scored WHERE sh < $nShards)
       |  WHERE rn = 1),
       |a9 AS (
       |  SELECT doc_id, sh AS s9 FROM (
       |    SELECT doc_id, sh, row_number() OVER (PARTITION BY doc_id
       |      ORDER BY hv DESC, sh ASC) AS rn
       |    FROM scored)
       |  WHERE rn = 1)
       |SELECT a8.s8 AS shard, count(*)::BIGINT AS n_docs,
       |  sum(CASE WHEN a8.s8 <> a9.s9 THEN 1 ELSE 0 END)::BIGINT
       |    AS n_moved
       |FROM a8 JOIN a9 ON a8.doc_id = a9.doc_id
       |GROUP BY 1""".stripMargin
  }

  /** Oracle for `privacy_randomized_response`: both per-user coins are
    * chained xxhash64 values — the constant first-argument hash
    * (xxhash64(13, user_id) = hashLong(user_id, hashLong(13, 42))) is
    * folded at build time with Spark's own XXH64, so the emulated
    * chain provably replays the engine's coin flips.
    */
  def privacyRandomizedResponse(): String = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val s13 = u(XXH64.hashLong(13L, 42L))
    val s17 = u(XXH64.hashLong(17L, 42L))
    val ch = new Chain("rr",
      "SELECT user_id, user_id::HUGEINT AS ka, " +
        "max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)" +
        "::BIGINT AS t " +
        "FROM events GROUP BY 1, 2")
    val h1 = hashLong(ch, "ka", s"$s13::HUGEINT", "c1")
    val h2 = hashLong(ch, "ka", s"$s17::HUGEINT", "c2")
    s"""WITH ${ch.render},
       |coins AS (
       |  SELECT t,
       |    ((${sig(h1)} % 4) + 4) % 4 AS c1,
       |    ((${sig(h2)} % 2) + 2) % 2 AS c2
       |  FROM ${ch.last}),
       |rep AS (
       |  SELECT t, CASE WHEN c1 < 3 THEN t ELSE c2 END AS report
       |  FROM coins),
       |m AS (SELECT count(*)::BIGINT AS n_users,
       |  sum(t)::BIGINT AS true_cnt, sum(report)::BIGINT AS obs_cnt
       |  FROM rep)
       |SELECT n_users, true_cnt, obs_cnt,
       |  ((8 * obs_cnt - n_users) * 100 // 6)::BIGINT AS est_e2,
       |  (((8 * obs_cnt - n_users) * 100 // 6) - true_cnt * 100)
       |    ::BIGINT AS err_e2
       |FROM m""".stripMargin
  }

  def exportShards(nShards: Int = 8): String =
    s"""WITH ${idHashCtes()},
       |sh AS (
       |  SELECT d.doc_id,
       |         ((h.hv % $nShards) + $nShards) % $nShards AS shard,
       |         length(d.text) AS chars
       |  FROM documents d JOIN hashed h ON h.doc_id = d.doc_id)
       |SELECT CAST(shard AS INTEGER) AS shard,
       |  count(*) AS n_docs,
       |  CAST(sum(chars) AS BIGINT) AS total_chars,
       |  min(doc_id) AS min_id, max(doc_id) AS max_id
       |FROM sh GROUP BY shard""".stripMargin

  def graphPagerank(numHashes: Int = 16, rowsPerBand: Int = 2,
                    iters: Int = 3, dampingPct: Int = 85): String = {
    val sb = new StringBuilder
    sb ++=
      s"""WITH ${tokenHashCtes()},
         |${shingleHashCtes()},
         |${minhashCtes(numHashes, rowsPerBand)},
         |${edgeCtes(numHashes)},
         |deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
         |r0 AS (SELECT id, 1000000::BIGINT AS rank FROM verts)""".stripMargin
    for (i <- 1 to iters) {
      sb ++=
        s""",
           |c$i AS (
           |  SELECT e.dst AS id,
           |    CAST(floor(r${i - 1}.rank * $dampingPct
           |      / (100 * deg.deg)) AS BIGINT) AS c
           |  FROM edges e
           |  JOIN r${i - 1} ON r${i - 1}.id = e.src
           |  JOIN deg ON deg.src = e.src),
           |r$i AS (
           |  SELECT v.id,
           |    (${(100L - dampingPct) * 10000L} + coalesce(s.i, 0))::BIGINT
           |      AS rank
           |  FROM verts v LEFT JOIN (
           |    SELECT id, sum(c)::BIGINT AS i FROM c$i GROUP BY 1) s
           |    USING (id))""".stripMargin
    }
    sb ++= s"\nSELECT id AS doc_id, rank FROM r$iters"
    sb.toString
  }

  /** Oracle for `graph_personalized_pagerank`: [[graphPagerank]] with
    * the initial mass and the per-round teleport gated to the seed set
    * (`id % seedMod = 0`) — mirroring
    * [[graft.functions.Graph.personalizedPageRank]] exactly.
    */
  def graphPersonalizedPagerank(numHashes: Int = 16,
                                rowsPerBand: Int = 2, iters: Int = 3,
                                dampingPct: Int = 85,
                                seedMod: Int = 100): String = {
    val tele = (100L - dampingPct) * 10000L
    val sb = new StringBuilder
    sb ++=
      s"""WITH ${tokenHashCtes()},
         |${shingleHashCtes()},
         |${minhashCtes(numHashes, rowsPerBand)},
         |${edgeCtes(numHashes)},
         |deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
         |r0 AS (SELECT id, CASE WHEN id % $seedMod = 0
         |  THEN 1000000 ELSE 0 END::BIGINT AS rank FROM verts)""".stripMargin
    for (i <- 1 to iters) {
      sb ++=
        s""",
           |c$i AS (
           |  SELECT e.dst AS id,
           |    CAST(floor(r${i - 1}.rank * $dampingPct
           |      / (100 * deg.deg)) AS BIGINT) AS c
           |  FROM edges e
           |  JOIN r${i - 1} ON r${i - 1}.id = e.src
           |  JOIN deg ON deg.src = e.src),
           |r$i AS (
           |  SELECT v.id,
           |    (CASE WHEN v.id % $seedMod = 0 THEN $tele ELSE 0 END
           |      + coalesce(s.i, 0))::BIGINT AS rank
           |  FROM verts v LEFT JOIN (
           |    SELECT id, sum(c)::BIGINT AS i FROM c$i GROUP BY 1) s
           |    USING (id))""".stripMargin
    }
    sb ++= s"\nSELECT id AS doc_id, rank FROM r$iters"
    sb.toString
  }

  /** Oracle for `graph_hits`: the canonical a<b candidate pairs as a
    * DIRECTED edge list, `iters` exact-integer HITS rounds — each side
    * summed from the other then re-normalized by integer division
    * with the round's max — mirroring
    * [[graft.functions.Graph.hits]] bit-for-bit.
    */
  def graphHits(numHashes: Int = 16, rowsPerBand: Int = 2,
                iters: Int = 2): String = {
    val sb = new StringBuilder
    sb ++=
      s"""WITH ${tokenHashCtes()},
         |${shingleHashCtes()},
         |${minhashCtes(numHashes, rowsPerBand)},
         |${edgeCtes(numHashes)},
         |de AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM fcand),
         |vv AS MATERIALIZED (
         |  SELECT DISTINCT src AS id FROM de
         |  UNION SELECT DISTINCT dst FROM de),
         |h0 AS (SELECT id, 1000000::BIGINT AS hub FROM vv)""".stripMargin
    for (i <- 1 to iters) {
      sb ++=
        s""",
           |araw$i AS (
           |  SELECT v.id, coalesce(s.s, 0)::BIGINT AS raw
           |  FROM vv v LEFT JOIN (
           |    SELECT e.dst AS id, sum(h.hub)::BIGINT AS s
           |    FROM de e JOIN h${i - 1} h ON h.id = e.src GROUP BY 1) s
           |    USING (id)),
           |amax$i AS (SELECT max(raw)::BIGINT AS mx FROM araw$i),
           |a$i AS (SELECT id,
           |  ((raw * 1000000) // greatest(mx, 1))::BIGINT AS auth
           |  FROM araw$i, amax$i),
           |hraw$i AS (
           |  SELECT v.id, coalesce(s.s, 0)::BIGINT AS raw
           |  FROM vv v LEFT JOIN (
           |    SELECT e.src AS id, sum(a.auth)::BIGINT AS s
           |    FROM de e JOIN a$i a ON a.id = e.dst GROUP BY 1) s
           |    USING (id)),
           |hmax$i AS (SELECT max(raw)::BIGINT AS mx FROM hraw$i),
           |h$i AS (SELECT id,
           |  ((raw * 1000000) // greatest(mx, 1))::BIGINT AS hub
           |  FROM hraw$i, hmax$i)""".stripMargin
    }
    sb ++=
      s"""
         |SELECT a.id AS doc_id, a.auth, h.hub
         |FROM a$iters a JOIN h$iters h USING (id)""".stripMargin
    sb.toString
  }

  /** Oracle for `events_ab_cuped`: the same arm hash as
    * [[eventsAbTest]], pre/post per-user revenue, pooled exact
    * moments, θ/adjusted-mean/variance-reduction as the identical
    * IEEE chains over those integers.
    */
  def eventsAbCuped(): String =
    s"""WITH ${idHashCtes("(SELECT DISTINCT user_id FROM events)",
         "user_id")},
       |arm AS (SELECT user_id, ((hv % 2) + 2) % 2 AS arm FROM hashed),
       |per AS (
       |  SELECT e.user_id,
       |    sum(CASE WHEN datediff('day', DATE '2024-01-01',
       |          e.ts::DATE) < 15 AND e.event_type = 'purchase'
       |        THEN CAST(round(e.value * 100) AS BIGINT)
       |        ELSE 0 END)::BIGINT AS x,
       |    sum(CASE WHEN datediff('day', DATE '2024-01-01',
       |          e.ts::DATE) >= 15 AND e.event_type = 'purchase'
       |        THEN CAST(round(e.value * 100) AS BIGINT)
       |        ELSE 0 END)::BIGINT AS y
       |  FROM events e GROUP BY 1),
       |pa AS (SELECT p.user_id, p.x, p.y, a.arm
       |  FROM per p JOIN arm a USING (user_id)),
       |pooled AS (SELECT count(*)::HUGEINT AS n,
       |    sum(x::HUGEINT) AS sx, sum(y::HUGEINT) AS sy,
       |    sum(x::HUGEINT * x) AS sxx, sum(x::HUGEINT * y) AS sxy,
       |    sum(y::HUGEINT * y) AS syy FROM pa),
       |arms AS (SELECT arm, count(*)::BIGINT AS n_users,
       |    sum(x)::BIGINT AS sx_arm, sum(y)::BIGINT AS sy_arm
       |  FROM pa GROUP BY 1),
       |j AS (SELECT a.arm, a.n_users, a.sx_arm, a.sy_arm,
       |    p.n, p.sx, p.sy, p.sxx, p.sxy, p.syy,
       |    (p.n*p.sxy - p.sx*p.sy)::DOUBLE /
       |      (p.n*p.sxx - p.sx*p.sx)::DOUBLE AS th
       |  FROM arms a CROSS JOIN pooled p)
       |SELECT arm, n_users, sx_arm, sy_arm,
       |  ${roundSpark("th", 6)} AS theta,
       |  ${roundSpark(
             "sy_arm::DOUBLE / n_users - th * (sx_arm::DOUBLE / n_users" +
               " - sx::DOUBLE / n::DOUBLE)", 4)} AS adj_mean_y_cents,
       |  ${roundSpark(
             "(n*sxy - sx*sy)::DOUBLE * (n*sxy - sx*sy)::DOUBLE / " +
               "((n*sxx - sx*sx)::DOUBLE * (n*syy - sy*sy)::DOUBLE)",
             6)} AS var_reduction
       |FROM j""".stripMargin

  /** Oracle for `events_diff_in_diff`: the same arm hash and pre/post
    * per-user revenue as [[eventsAbCuped]], four mean divisions, the
    * DiD contrast as the identical IEEE chain.
    */
  def eventsDiffInDiff(): String =
    s"""WITH ${idHashCtes("(SELECT DISTINCT user_id FROM events)",
         "user_id")},
       |arm AS (SELECT user_id, ((hv % 2) + 2) % 2 AS arm FROM hashed),
       |per AS (
       |  SELECT e.user_id,
       |    sum(CASE WHEN datediff('day', DATE '2024-01-01',
       |          e.ts::DATE) < 15 AND e.event_type = 'purchase'
       |        THEN CAST(round(e.value * 100) AS BIGINT)
       |        ELSE 0 END)::BIGINT AS x,
       |    sum(CASE WHEN datediff('day', DATE '2024-01-01',
       |          e.ts::DATE) >= 15 AND e.event_type = 'purchase'
       |        THEN CAST(round(e.value * 100) AS BIGINT)
       |        ELSE 0 END)::BIGINT AS y
       |  FROM events e GROUP BY 1),
       |pa AS MATERIALIZED (SELECT p.x, p.y, a.arm
       |  FROM per p JOIN arm a USING (user_id)),
       |arms AS (SELECT arm, count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
       |  sum(y)::BIGINT AS sy FROM pa GROUP BY 1),
       |a0 AS (SELECT n AS n0, sx AS sx0, sy AS sy0 FROM arms
       |  WHERE arm = 0),
       |a1 AS (SELECT n AS n1, sx AS sx1, sy AS sy1 FROM arms
       |  WHERE arm = 1)
       |SELECT n0, n1,
       |  ((2 * sx0::HUGEINT * 10000 + n0) // (2 * n0::HUGEINT))::DOUBLE
       |    / 10000.0 AS pre0,
       |  ((2 * sy0::HUGEINT * 10000 + n0) // (2 * n0::HUGEINT))::DOUBLE
       |    / 10000.0 AS post0,
       |  ((2 * sx1::HUGEINT * 10000 + n1) // (2 * n1::HUGEINT))::DOUBLE
       |    / 10000.0 AS pre1,
       |  ((2 * sy1::HUGEINT * 10000 + n1) // (2 * n1::HUGEINT))::DOUBLE
       |    / 10000.0 AS post1,
       |  ((2 * ((sy1::HUGEINT - sx1::HUGEINT) * n0
       |        - (sy0::HUGEINT - sx0::HUGEINT) * n1) * 10000
       |      + (CASE WHEN (sy1::HUGEINT - sx1::HUGEINT) * n0
       |            - (sy0::HUGEINT - sx0::HUGEINT) * n1 >= 0
       |          THEN n0::HUGEINT * n1 ELSE -(n0::HUGEINT * n1) END))
       |    // (2 * n0::HUGEINT * n1))::DOUBLE / 10000.0 AS did_cents
       |FROM a0, a1""".stripMargin

  /** Oracle for `graph_random_walks`: the candidate edge set, seeds =
    * the `nSeeds` smallest vertices, `steps` unrolled argmin-by-hash
    * transitions through the SAME xxhash64(step, walk, neighbor)
    * chain, ties by neighbor id.
    */
  def graphRandomWalks(numHashes: Int = 16, rowsPerBand: Int = 2,
                       steps: Int = 4, nSeeds: Int = 5): String = {
    val sb = new StringBuilder
    sb ++=
      s"""WITH ${tokenHashCtes()},
         |${shingleHashCtes()},
         |${minhashCtes(numHashes, rowsPerBand)},
         |${edgeCtes(numHashes)},
         |seeds AS MATERIALIZED (
         |  SELECT id FROM verts ORDER BY id LIMIT $nSeeds),
         |s0 AS (SELECT id AS walk_id, id AS node FROM seeds)""".stripMargin
    for (t <- 1 to steps) {
      val ch = new Chain(s"wk$t",
        s"SELECT w.walk_id, e.dst, w.walk_id::HUGEINT AS wu, " +
          s"e.dst::HUGEINT AS du " +
          s"FROM s${t - 1} w JOIN edges e ON e.src = w.node")
      val h1 = hashLong(ch, s"$t::HUGEINT", "42::HUGEINT", "ha")
      val h2 = hashLong(ch, "wu", h1, "hb")
      val h3 = hashLong(ch, "du", h2, "hc")
      val m = ch.add("m", s"($h3) % ${1L << 40}")
      sb ++=
        s""",
           |${ch.render},
           |s$t AS (SELECT walk_id, dst AS node FROM (
           |  SELECT walk_id, dst, row_number() OVER (
           |    PARTITION BY walk_id ORDER BY $m, dst) AS rn
           |  FROM ${ch.last}) WHERE rn = 1)""".stripMargin
    }
    sb ++= "\nSELECT walk_id::BIGINT AS walk_id, 0::INT AS step, " +
      "node::BIGINT AS node FROM s0"
    for (t <- 1 to steps)
      sb ++= s"\nUNION ALL SELECT walk_id::BIGINT, $t::INT, " +
        s"node::BIGINT FROM s$t"
    sb.toString
  }

  /** Oracle for `privacy_dp_counts`: per-nation counts + the seeded
    * discrete-Laplace noise — the same xxhash64(7, key) chain through
    * the emulated XXH64, reduced mod 2⁴⁰ and mapped through the SAME
    * inverse-CDF threshold literals the engine broadcasts.
    */
  def privacyDpCounts(rows: Seq[(Long, Long, Long)]): String = {
    val vals = rows
      .map { case (k, lo, hi) => s"($k, ${lo}::HUGEINT, ${hi}::HUGEINT)" }
      .mkString(", ")
    val ch = new Chain("dp",
      "SELECT c_nationkey::HUGEINT AS nk, count(*)::BIGINT AS true_cnt " +
        "FROM customer GROUP BY 1")
    val h1 = hashLong(ch, "7::HUGEINT", "42::HUGEINT", "q")
    val h2 = hashLong(ch, "nk", h1, "r")
    val m = ch.add("m", s"($h2) % ${1L << 40}")
    s"""WITH ${ch.render},
       |tab(noise, lo, hi) AS (SELECT * FROM (VALUES $vals))
       |SELECT CAST(nk AS BIGINT) AS c_nationkey, true_cnt,
       |  noise::BIGINT AS noise,
       |  (true_cnt + noise)::BIGINT AS noisy_cnt
       |FROM ${ch.last} JOIN tab ON $m >= lo AND $m < hi""".stripMargin
  }

  /** Oracle for `events_bootstrap_ci`: the daily rollup fanned out to
    * `nBoot` replicates, Poisson(1) weights drawn through the SAME
    * xxhash64(11, b, day) chain and threshold literals as the engine,
    * replicate means by integer division, CI via order statistics.
    */
  def eventsBootstrapCi(rows: Seq[(Long, Long, Long)],
                        nBoot: Int): String = {
    val vals = rows
      .map { case (w, lo, hi) => s"($w, ${lo}::HUGEINT, ${hi}::HUGEINT)" }
      .mkString(", ")
    val loRank = math.max(1, (nBoot * 25) / 1000)
    val hiRank = nBoot - loRank
    val ch = new Chain("bs",
      "SELECT d.day::HUGEINT AS day, d.cents, rb.b::HUGEINT AS b " +
        "FROM daily d CROSS JOIN " +
        s"(SELECT unnest(range(0, $nBoot)) AS b) rb")
    val h1 = hashLong(ch, "11::HUGEINT", "42::HUGEINT", "q")
    val h2 = hashLong(ch, "b", h1, "r")
    val h3 = hashLong(ch, "day", h2, "s")
    val m = ch.add("m", s"($h3) % ${1L << 40}")
    s"""WITH daily AS MATERIALIZED (
       |  SELECT datediff('day', DATE '2024-01-01', ts::DATE)::BIGINT
       |    AS day,
       |    sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS cents
       |  FROM events GROUP BY 1),
       |${ch.render},
       |tab(w, lo, hi) AS (SELECT * FROM (VALUES $vals)),
       |wts AS (SELECT day, cents, b, w FROM ${ch.last}
       |  JOIN tab ON $m >= lo AND $m < hi),
       |means AS (SELECT b,
       |    (sum(w * cents) // sum(w))::BIGINT AS mean_cents
       |  FROM wts GROUP BY b HAVING sum(w) > 0),
       |ranked AS (SELECT b, mean_cents,
       |  row_number() OVER (ORDER BY mean_cents ASC, b ASC) AS rk
       |  FROM means),
       |ci AS (SELECT count(*)::BIGINT AS n_boot,
       |  min(CASE WHEN rk = $loRank THEN mean_cents END)::BIGINT
       |    AS lo95_cents,
       |  min(CASE WHEN rk = $hiRank THEN mean_cents END)::BIGINT
       |    AS hi95_cents
       |  FROM ranked),
       |obs AS (SELECT count(*)::BIGINT AS n_days,
       |  (sum(cents) // count(*))::BIGINT AS mean_obs_cents FROM daily)
       |SELECT o.n_days, c.n_boot, o.mean_obs_cents,
       |  c.lo95_cents, c.hi95_cents
       |FROM ci c CROSS JOIN obs o""".stripMargin
  }

  /** Oracle for `dedup_components`: the same MinHash candidate pairs
    * (est >= 0.5), closed into connected components by a recursive CTE —
    * every vertex labeled with the minimum reachable id.
    */
  def dedupComponents(numHashes: Int = 16, rowsPerBand: Int = 2): String =
    s"""WITH RECURSIVE ${tokenHashCtes()},
       |${shingleHashCtes()},
       |${minhashCtes(numHashes, rowsPerBand)},
       |${componentCtes(numHashes)}
       |SELECT doc_id, rep_id FROM comp""".stripMargin

  /** Oracle for `curate_canonical_docs`: the component closure joined
    * to the quality oracle; per cluster the (quality desc, doc_id asc)
    * winner — mirroring the bounded top-1-by aggregate.
    */
  def curateCanonicalDocs(qualitySql: String, numHashes: Int = 16,
                          rowsPerBand: Int = 2): String =
    s"""WITH RECURSIVE ${tokenHashCtes()},
       |${shingleHashCtes()},
       |${minhashCtes(numHashes, rowsPerBand)},
       |${componentCtes(numHashes)},
       |q AS ($qualitySql),
       |j AS (SELECT c.rep_id, c.doc_id, q.quality
       |      FROM comp c JOIN q USING (doc_id)),
       |r AS (SELECT rep_id, doc_id, quality,
       |        row_number() OVER (PARTITION BY rep_id
       |          ORDER BY CAST(round(quality * 10000) AS BIGINT) DESC,
       |                   doc_id ASC) AS rn
       |      FROM j)
       |SELECT rep_id AS cluster_rep, doc_id AS canonical_id, quality
       |FROM r WHERE rn = 1""".stripMargin

  /** Oracle for `training_mix` — the composed pipeline: quality filter,
    * near-dup removal (cluster non-representatives dropped), stratified
    * hash sampling over the language strata, then shard-local sequence
    * packing of the survivors. Every stage reuses the independently
    * verified oracle formulation.
    */
  def trainingMix(langSql: String, qualitySql: String,
                  minQuality: Double, enThreshold: Long,
                  defaultThreshold: Long, budgetTokens: Long,
                  shardSize: Long, numHashes: Int = 16,
                  rowsPerBand: Int = 2): String =
    s"""WITH RECURSIVE ${tokenHashCtes()},
       |${shingleHashCtes()},
       |${minhashCtes(numHashes, rowsPerBand)},
       |${componentCtes(numHashes)},
       |drops AS (SELECT doc_id FROM comp WHERE rep_id <> doc_id),
       |lang AS ($langSql),
       |qual AS ($qualitySql),
       |${idHashCtes()},
       |surv AS (
       |  SELECT d.doc_id, l.lang_pred, q.quality,
       |    CAST(len(regexp_extract_all(d.text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]'))
       |      AS BIGINT) AS n_tokens
       |  FROM documents d
       |  JOIN lang l ON l.doc_id = d.doc_id
       |  JOIN qual q ON q.doc_id = d.doc_id
       |  WHERE q.quality >= $minQuality
       |    AND d.doc_id NOT IN (SELECT doc_id FROM drops)),
       |samp AS (
       |  SELECT s.* FROM surv s JOIN hashed h ON h.doc_id = s.doc_id
       |  WHERE ((h.hv % 1000000) + 1000000) % 1000000 <
       |    CASE WHEN s.lang_pred = 'en' THEN $enThreshold
       |         ELSE $defaultThreshold END),
       |pk AS (
       |  SELECT *, CAST(doc_id // $shardSize AS BIGINT) AS shard,
       |    sum(n_tokens) OVER (PARTITION BY doc_id // $shardSize
       |      ORDER BY doc_id) - n_tokens AS strt
       |  FROM samp)
       |SELECT doc_id, lang_pred, quality, n_tokens, shard,
       |  CAST(strt // $budgetTokens AS BIGINT) AS pack_in_shard,
       |  CAST(strt - (strt // $budgetTokens) * $budgetTokens AS BIGINT)
       |    AS pack_offset
       |FROM pk""".stripMargin

  /** Oracle for `text_decontaminate`: distinct width-`shingleN` shingle
    * hashes of the eval slice (doc_id % `evalMod` == 0) matched against
    * every other doc's shingle set.
    */
  def textDecontaminate(shingleN: Int, evalMod: Int): String =
    s"""WITH ${tokenHashCtes()},
       |${shingleHashCtes(shingleN)},
       |sset AS MATERIALIZED (SELECT DISTINCT doc_id, shu FROM shash),
       |ctam AS MATERIALIZED (SELECT DISTINCT shu FROM sset WHERE doc_id % $evalMod = 0)
       |SELECT s.doc_id, CAST(count(DISTINCT s.shu) AS BIGINT) AS n_hits
       |FROM sset s JOIN ctam c ON c.shu = s.shu
       |WHERE s.doc_id % $evalMod <> 0
       |GROUP BY s.doc_id""".stripMargin

  /** Oracle for `dedup_simhash`: 64-bit SimHash from per-token-hash bit
    * tallies, then ALL pairs within Hamming distance 3 — equal to the
    * Spark side's quarter-blocked pair set by pigeonhole (distance <= 3
    * forces agreement on at least one of 4 16-bit quarters).
    */
  def dedupSimhash(maxDist: Int = 3): String = {
    val smu = "sum(CASE WHEN tally > 0 THEN (1::HUGEINT << b) ELSE 0 END)::HUGEINT"
    s"""WITH ${tokenHashCtes()},
       |bits AS (
       |  SELECT t.doc_id, g.b,
       |    CASE WHEN (t.thu // (1::HUGEINT << g.b)) % 2 = 1 THEN 1 ELSE -1 END AS w
       |  FROM tokh t, generate_series(0, 63) g(b)),
       |tall AS (SELECT doc_id, b, sum(w) AS tally FROM bits GROUP BY doc_id, b),
       |simsig AS MATERIALIZED (SELECT doc_id, ${sig(smu)} AS sm FROM tall GROUP BY doc_id)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(bit_count(xor(a.sm, b.sm)) AS INTEGER) AS hamming
       |FROM simsig a JOIN simsig b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.sm, b.sm)) <= $maxDist""".stripMargin
  }

  /** Oracle for `events_ab_test`: deterministic experiment assignment
    * — `arm = pmod(xxhash64(user_id), 2)` over DISTINCT users (the
    * exact hashLong emulation, so assignment is user-sticky and
    * engine-reproducible) — then per-arm funnel metrics in exact
    * integers.
    */
  def eventsAbTest(): String =
    s"""WITH ${idHashCtes("(SELECT DISTINCT user_id FROM events)",
         "user_id")},
       |arm AS (
       |  SELECT user_id, ((hv % 2) + 2) % 2 AS arm FROM hashed),
       |m AS (
       |  SELECT e.user_id, a.arm,
       |    count(CASE WHEN e.event_type = 'purchase' THEN 1 END) AS np,
       |    sum(CASE WHEN e.event_type = 'purchase'
       |        THEN CAST(round(e.value * 100) AS BIGINT)
       |        ELSE 0 END) AS rev
       |  FROM events e JOIN arm a USING (user_id) GROUP BY 1, 2)
       |SELECT arm, count(*) AS n_users,
       |  sum(CASE WHEN np >= 14 THEN 1 ELSE 0 END)::BIGINT AS n_heavy,
       |  sum(np)::BIGINT AS n_purchases,
       |  sum(rev)::BIGINT AS revenue_cents,
       |  ((sum(CASE WHEN np >= 14 THEN 1 ELSE 0 END)::BIGINT * 1000000)
       |    // count(*))::BIGINT AS heavy_ppm
       |FROM m GROUP BY 1""".stripMargin

  /** Oracle for `pref_bradley_terry`: the comparison mining and the
    * unrolled MM rounds replayed — same duel rule (strict spend win,
    * ties abstain), same e6 integral-term denominators in HUGEINT,
    * same zero-win boundary behavior.
    */
  def prefBradleyTerry(iters: Int = 3): String = {
    val sb = new StringBuilder
    sb ++=
      s"""WITH ud AS MATERIALIZED (
         |  SELECT user_id,
         |    datediff('day', DATE '2024-01-01', ts::DATE) AS day,
         |    event_type,
         |    sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS c
         |  FROM events GROUP BY 1, 2, 3),
         |duel AS (
         |  SELECT CASE WHEN a.c > b.c THEN a.event_type
         |      WHEN a.c < b.c THEN b.event_type END AS winner,
         |    CASE WHEN a.c > b.c THEN b.event_type
         |      WHEN a.c < b.c THEN a.event_type END AS loser
         |  FROM ud a JOIN ud b ON a.user_id = b.user_id
         |    AND a.day = b.day AND a.event_type < b.event_type),
         |wins AS MATERIALIZED (
         |  SELECT winner AS i, loser AS j, count(*)::BIGINT AS n
         |  FROM duel WHERE winner IS NOT NULL GROUP BY 1, 2),
         |opp AS MATERIALIZED (
         |  SELECT i, j, sum(n)::BIGINT AS m FROM (
         |    SELECT i, j, n FROM wins
         |    UNION ALL SELECT j, i, n FROM wins)
         |  GROUP BY 1, 2),
         |items AS (SELECT DISTINCT i FROM opp),
         |wt AS MATERIALIZED (
         |  SELECT it.i, coalesce(s.w, 0)::BIGINT AS w
         |  FROM items it LEFT JOIN (SELECT i, sum(n)::BIGINT AS w
         |    FROM wins GROUP BY 1) s USING (i)),
         |s0 AS (SELECT i, 1000000::BIGINT AS s FROM items)""".stripMargin
    for (r <- 1 to iters) {
      sb ++=
        s""",
           |d$r AS (
           |  SELECT o.i,
           |    sum((o.m::HUGEINT * 1000000000000)
           |      // greatest(si.s + sj.s, 1))::BIGINT AS dd
           |  FROM opp o JOIN s${r - 1} si ON si.i = o.i
           |  JOIN s${r - 1} sj ON sj.i = o.j
           |  GROUP BY 1),
           |s$r AS MATERIALIZED (
           |  SELECT wt.i,
           |    ((wt.w::HUGEINT * 1000000000000)
           |      // greatest(dd::HUGEINT, 1))::BIGINT AS s
           |  FROM wt JOIN d$r USING (i))""".stripMargin
    }
    sb ++=
      s"""
         |SELECT s.i AS event_type, wt.w AS wins,
         |  oc.m AS n_comparisons, s.s AS strength_e6
         |FROM s$iters s JOIN wt USING (i)
         |JOIN (SELECT i, sum(m)::BIGINT AS m FROM opp GROUP BY 1) oc
         |  USING (i)""".stripMargin
    sb.toString
  }

  /** Oracle for `events_anova_f`: the same per-group sums, HUGEINT
    * Σv², the identical floor decomposition of S²/n, and the same
    * staged integral division — engine-identical to the last cent².
    */
  def eventsAnovaF(): String = {
    def tg(sC: String, nC: String): String = {
      val a = s"($sC // greatest($nC, 1))"
      val r = s"($sC - $a * $nC)"
      s"($a::HUGEINT * $a * $nC + 2 * $a::HUGEINT * $r" +
        s" + ($r * $r // greatest($nC, 1))::HUGEINT)"
    }
    s"""WITH ev AS MATERIALIZED (
       |  SELECT CASE WHEN event_type = 'purchase' THEN 0
       |      WHEN event_type = 'view' THEN 1 ELSE 2 END AS g,
       |    CAST(round(value * 100) AS BIGINT) AS v
       |  FROM events
       |  WHERE event_type IN ('purchase', 'view', 'click')),
       |a AS (
       |  SELECT
       |    sum(CASE WHEN g = 0 THEN 1 ELSE 0 END)::BIGINT AS n0,
       |    sum(CASE WHEN g = 1 THEN 1 ELSE 0 END)::BIGINT AS n1,
       |    sum(CASE WHEN g = 2 THEN 1 ELSE 0 END)::BIGINT AS n2,
       |    sum(CASE WHEN g = 0 THEN v ELSE 0 END)::BIGINT AS s0,
       |    sum(CASE WHEN g = 1 THEN v ELSE 0 END)::BIGINT AS s1,
       |    sum(CASE WHEN g = 2 THEN v ELSE 0 END)::BIGINT AS s2,
       |    sum(v::HUGEINT * v) AS q
       |  FROM ev),
       |b AS (
       |  SELECT n0, n1, n2, (n0 + n1 + n2)::BIGINT AS nn,
       |    (s0 + s1 + s2)::BIGINT AS ss, s0, s1, s2, q
       |  FROM a),
       |c AS (
       |  SELECT n0, n1, n2, nn, q,
       |    (${tg("s0", "n0")} + ${tg("s1", "n1")}
       |      + ${tg("s2", "n2")}) AS tsum,
       |    ${tg("ss", "nn")} AS gg
       |  FROM b),
       |e AS (
       |  SELECT n0, n1, n2, nn, (tsum - gg) AS ssb, (q - tsum) AS ssw
       |  FROM c),
       |f AS (
       |  SELECT n0, n1, n2,
       |    (n0 > 0 AND n1 > 0 AND n2 > 0 AND nn > 3 AND ssw > 0)
       |      AS ok,
       |    CASE WHEN n0 > 0 AND n1 > 0 AND n2 > 0 AND nn > 3
       |        AND ssw > 0
       |      THEN (ssb * (nn - 3) * 1000000 // (ssw * 2))::BIGINT
       |      ELSE 0 END AS f_e6
       |  FROM e)
       |SELECT n0 AS n_purchase, n1 AS n_view, n2 AS n_click, f_e6,
       |  CASE WHEN ok AND f_e6 >= 2995733 THEN 1 ELSE 0 END::BIGINT
       |    AS reject_05
       |FROM f""".stripMargin
  }

  /** Oracle for `events_sprt`: Wald's SPRT replayed — the same
    * xxhash64 arm assignment, daily purchase rollup, cumulative
    * counts, and the PRECOMPUTED integer log-likelihood constants
    * (182322 / −68993 e6 per trial, boundary ±2944439) — pure
    * integer arithmetic end to end, no libm in either engine.
    */
  def eventsSprt(lnA: Long = 182322L, lnB: Long = -68993L,
                 up: Long = 2944439L): String =
    s"""WITH ${idHashCtes("(SELECT DISTINCT user_id FROM events)",
         "user_id")},
       |arm1 AS MATERIALIZED (
       |  SELECT user_id, ((hv % 2) + 2) % 2 AS arm FROM hashed),
       |daily AS MATERIALIZED (
       |  SELECT datediff('day', DATE '2024-01-01', e.ts::DATE)
       |      ::BIGINT AS day,
       |    count(*)::BIGINT AS n,
       |    sum((e.event_type = 'purchase')::BIGINT)::BIGINT AS c
       |  FROM events e JOIN arm1 a USING (user_id)
       |  WHERE a.arm = 1 GROUP BY 1),
       |cum AS (
       |  SELECT day,
       |    sum(n) OVER w::BIGINT AS n_cum,
       |    sum(c) OVER w::BIGINT AS conv_cum
       |  FROM daily
       |  WINDOW w AS (ORDER BY day ASC ROWS BETWEEN UNBOUNDED
       |    PRECEDING AND CURRENT ROW)),
       |llr AS (
       |  SELECT day, n_cum, conv_cum,
       |    (conv_cum * $lnA + (n_cum - conv_cum) * ($lnB))::BIGINT
       |      AS llr_e6
       |  FROM cum),
       |v AS (
       |  SELECT day, n_cum, conv_cum, llr_e6,
       |    (CASE WHEN llr_e6 >= $up THEN 1
       |      WHEN llr_e6 <= -$up THEN -1 ELSE 0 END)::BIGINT
       |      AS verdict
       |  FROM llr)
       |SELECT day, n_cum, conv_cum, llr_e6, verdict,
       |  max(abs(verdict)) OVER (ORDER BY day ASC ROWS BETWEEN
       |    UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS stopped
       |FROM v""".stripMargin

  /** Oracle for `events_bandit_replay`: the epsilon-greedy replay
    * rebuilt end-to-end — xxhash64(day) and xxhash64(day + 777)
    * through the exact XXH64 chain emulation on the distinct-day
    * frame, the complete (day × arm) grid with zero fill, cumulative
    * PRIOR-day stats via 1-PRECEDING windows, e6 integral-div means
    * with the same optimistic-init constant, argmax by
    * (mean_e6 DESC, typ ASC), and the regret rollup.
    */
  def eventsBanditReplay(): String = {
    val ch = new Chain("bd",
      """SELECT day, day::HUGEINT AS d1u, (day + 777)::HUGEINT AS d2u
        |  FROM (SELECT DISTINCT
        |      datediff('day', DATE '2024-01-01', ts::DATE)::BIGINT
        |        AS day
        |    FROM events) q""".stripMargin)
    val h1 = hashLong(ch, "d1u", "42::HUGEINT", "ga")
    val h2 = hashLong(ch, "d2u", "42::HUGEINT", "gb")
    ch.add("h1v", sig(h1))
    ch.add("h2v", sig(h2))
    s"""WITH ${ch.render},
       |hday AS (SELECT day, h1v, h2v FROM ${ch.last}),
       |evd AS (
       |  SELECT datediff('day', DATE '2024-01-01', ts::DATE)::BIGINT
       |      AS day,
       |    event_type AS typ,
       |    CAST(round(value * 100) AS BIGINT) AS cents
       |  FROM events),
       |daily AS MATERIALIZED (
       |  SELECT day, typ, count(*)::BIGINT AS n,
       |    sum(cents)::BIGINT AS cc
       |  FROM evd GROUP BY 1, 2),
       |grid AS (
       |  SELECT d.day, t.typ, COALESCE(x.n, 0)::BIGINT AS n,
       |    COALESCE(x.cc, 0)::BIGINT AS cc
       |  FROM (SELECT DISTINCT day FROM daily) d
       |  CROSS JOIN (SELECT DISTINCT typ FROM daily) t
       |  LEFT JOIN daily x ON x.day = d.day AND x.typ = t.typ),
       |st AS MATERIALIZED (
       |  SELECT day, typ, n, cc,
       |    COALESCE(sum(n) OVER (PARTITION BY typ ORDER BY day
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |      0)::BIGINT AS cn,
       |    COALESCE(sum(cc) OVER (PARTITION BY typ ORDER BY day
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |      0)::BIGINT AS ccents
       |  FROM grid),
       |st2 AS MATERIALIZED (
       |  SELECT day, typ, n, cc,
       |    (CASE WHEN cn > 0 THEN (ccents::HUGEINT * 1000000) // cn
       |      ELSE 1000000000000000 END)::BIGINT AS mean_e6,
       |    (CASE WHEN n > 0 THEN (cc::HUGEINT * 1000000) // n
       |      ELSE 0 END)::BIGINT AS dm_e6
       |  FROM st),
       |exploit AS (
       |  SELECT day, typ AS ex_t FROM (
       |    SELECT day, typ, row_number() OVER (PARTITION BY day
       |      ORDER BY mean_e6 DESC, typ ASC) AS rn
       |    FROM st2) r WHERE rn = 1),
       |best AS (
       |  SELECT day, max(dm_e6)::BIGINT AS best_e6 FROM st2 GROUP BY 1),
       |arms AS (
       |  SELECT day, list_sort(list(typ)) AS arms FROM st2 GROUP BY 1),
       |chosen AS (
       |  SELECT h.day,
       |    ((h.h1v % 4) + 4) % 4 = 0 AS explored,
       |    CASE WHEN ((h.h1v % 4) + 4) % 4 = 0
       |      THEN a.arms[(((h.h2v % len(a.arms)) + len(a.arms))
       |        % len(a.arms) + 1)::INT]
       |      ELSE e.ex_t END AS chosen_type
       |  FROM hday h JOIN exploit e ON e.day = h.day
       |  JOIN arms a ON a.day = h.day),
       |rew AS (
       |  SELECT c.day, c.chosen_type, c.explored,
       |    COALESCE(s.dm_e6, 0)::BIGINT AS reward_e6, b.best_e6
       |  FROM chosen c JOIN best b ON b.day = c.day
       |  LEFT JOIN st2 s ON s.day = c.day AND s.typ = c.chosen_type)
       |SELECT day, chosen_type, explored, reward_e6, best_e6,
       |  (best_e6 - reward_e6)::BIGINT AS regret_e6,
       |  sum(best_e6 - reward_e6) OVER (ORDER BY day
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
       |    AS cum_regret_e6
       |FROM rew""".stripMargin
  }

  /** Oracle for `multimodal_ahash`: recompute the 8×8 average-hash
    * straight from the fixture's pixel formula
    * (`p(x,y) = (id + 7x + 13y) % 256`, dims `16 + id % 32` by
    * `16 + 7·id % 32`) with the engine's exact sample-index math
    * (`x = col·w div 8`), integer mean, and u64→i64 reinterpretation.
    * PNG is lossless and the JDK raster reads gray samples directly,
    * so the real-codec round trip must land on these bits exactly.
    */
  def multimodalAhash(): String =
    s"""WITH dims AS (
       |  SELECT doc_id,
       |    CAST(16 + doc_id % 32 AS INT) AS width,
       |    CAST(16 + (doc_id * 7) % 32 AS INT) AS height
       |  FROM documents),
       |s AS (
       |  SELECT d.doc_id, d.width, d.height, g.k,
       |    ((d.doc_id + 7 * (((g.k % 8) * d.width) // 8)
       |      + 13 * (((g.k // 8) * d.height) // 8)) % 256) AS p
       |  FROM dims d,
       |    LATERAL (SELECT unnest(generate_series(0, 63)) AS k) g),
       |m AS (
       |  SELECT doc_id, sum(p)::BIGINT // 64 AS mean
       |  FROM s GROUP BY 1),
       |hb AS (
       |  SELECT s.doc_id, s.width, s.height,
       |    sum(CASE WHEN s.p > m.mean
       |        THEN (1::HUGEINT << s.k) ELSE 0::HUGEINT END) AS hu
       |  FROM s JOIN m USING (doc_id) GROUP BY 1, 2, 3)
       |SELECT doc_id AS media_id, width, height,
       |  ${sig("hu")} AS ahash
       |FROM hb""".stripMargin

  /** Oracle for the SMOOTH (JPEG-twin) fixture's lossless aHash:
    * identical sample/mean/bit math to [[multimodalAhash]] but over
    * the clamped linear ramp `p(x,y) = min(255, 4x + 3y + id % 64)`
    * ([[graft.multimodal.Multimodal.ImageCodec.smoothPixel]]). PNG is
    * lossless, so the engine's sniffing decode of the smooth PNG must
    * land on these bits exactly — this is the independent recompute
    * the cross-format-twin gate checks the band join's output against
    * (ADVICE r8: the verdict column alone was unfalsifiable).
    */
  def multimodalSmoothAhash(): String =
    s"""WITH sdims AS (
       |  SELECT doc_id,
       |    CAST(16 + doc_id % 32 AS INT) AS width,
       |    CAST(16 + (doc_id * 7) % 32 AS INT) AS height
       |  FROM documents),
       |ss AS (
       |  SELECT d.doc_id, d.width, d.height, g.k,
       |    least(255, 4 * (((g.k % 8) * d.width) // 8)
       |      + 3 * (((g.k // 8) * d.height) // 8) + d.doc_id % 64) AS p
       |  FROM sdims d,
       |    LATERAL (SELECT unnest(generate_series(0, 63)) AS k) g),
       |sm AS (
       |  SELECT doc_id, sum(p)::BIGINT // 64 AS mean
       |  FROM ss GROUP BY 1),
       |shb AS (
       |  SELECT ss.doc_id, ss.width, ss.height,
       |    sum(CASE WHEN ss.p > sm.mean
       |        THEN (1::HUGEINT << ss.k) ELSE 0::HUGEINT END) AS hu
       |  FROM ss JOIN sm USING (doc_id) GROUP BY 1, 2, 3)
       |SELECT doc_id AS media_id, width, height,
       |  ${sig("hu")} AS ahash
       |FROM shb""".stripMargin

  /** Oracle for `ml_quantile_regression`: the τ = 0.9 pinball
    * subgradient descent unrolled round by round (one MATERIALIZED
    * g/w CTE pair per step — the sequential-chain class MUST be
    * materialized or DuckDB re-inlines the whole prefix 2^rounds
    * times). Same integer update as the engine:
    * w ← w − (gq·w0) // (10·sx·div), gq = 10·Σ_{y<wx} x − 9·Σx.
    */
  def mlQuantileRegression(
      sched: Seq[Int] = Seq(1, 1, 1, 2, 4, 8)): String = {
    val rounds = sched.zipWithIndex.map { case (div, i) =>
      val prev = if (i == 0) "w0" else s"w$i"
      s"""g${i + 1} AS MATERIALIZED (
         |  SELECT b.flag, max(w.sx) AS sx, max(w.n) AS n,
         |    max(w.w0e6) AS w0e6, max(w.w) AS wp,
         |    10 * sum(CASE WHEN b.y * 1000000 < w.w * b.x
         |        THEN b.x ELSE 0 END)::HUGEINT
         |      - 9 * max(w.sx) AS gq
         |  FROM base b JOIN $prev w ON w.flag = b.flag GROUP BY 1),
         |w${i + 1} AS MATERIALIZED (
         |  SELECT flag, sx, n, w0e6,
         |    wp - (gq * w0e6) // (10 * sx * $div) AS w
         |  FROM g${i + 1})""".stripMargin
    }.mkString(",\n")
    val wN = s"w${sched.size}"
    s"""WITH base AS MATERIALIZED (
       |  SELECT l_returnflag AS flag, CAST(l_quantity AS BIGINT) AS x,
       |    CAST(floor(l_extendedprice * 100) AS BIGINT) AS y
       |  FROM lineitem WHERE l_quantity >= 1),
       |s0 AS MATERIALIZED (
       |  SELECT flag, sum(x)::HUGEINT AS sx, sum(y)::HUGEINT AS sy,
       |    count(*)::BIGINT AS n FROM base GROUP BY 1),
       |w0 AS MATERIALIZED (
       |  SELECT flag, sx, n, (sy * 1000000) // sx AS w0e6,
       |    (sy * 1000000) // sx AS w FROM s0),
       |$rounds
       |SELECT b.flag, max(w.w)::BIGINT AS w_e6, max(w.n)::BIGINT AS n,
       |  ((sum(CASE WHEN b.y * 1000000 <= w.w * b.x THEN 1 ELSE 0
       |      END)::HUGEINT * 1000000) // max(w.n))::BIGINT
       |    AS cover_ppm,
       |  ((sum(CASE WHEN b.y * 1000000 <= w.w * b.x THEN b.x ELSE 0
       |      END)::HUGEINT * 1000000) // max(w.sx))::BIGINT
       |    AS xcover_ppm
       |FROM base b JOIN $wN w ON w.flag = b.flag GROUP BY 1""".stripMargin
  }

  /** Oracle for `sample_priority_topk`: Duffield–Lund–Thorup priority
    * sampling — same xxhash64(doc_id) residue coin (the [[idHashCtes]]
    * chain), same integer priority w·10¹² // (u+1), top-k by
    * (priority DESC, doc_id ASC), threshold = the (k+1)-th priority,
    * estimator ŵ = max(w, τ). When the corpus has ≤ k eligible docs
    * there is no rank-(k+1) row and DLT defines NO threshold (every
    * doc is taken, ŵ = w): tau joins LEFT with a 0 fallback so the
    * oracle degrades exactly like the engine's null-skipping
    * `greatest` instead of CROSS-JOINing against an empty frame
    * (ADVICE r9).
    */
  def samplePriorityTopk(k: Int = 100): String =
    s"""WITH ${idHashCtes()},
       |dw AS (SELECT doc_id,
       |    len(regexp_split_to_array(lower(trim(text)), '\\s+'))::BIGINT
       |      AS w
       |  FROM documents WHERE length(trim(text)) > 0),
       |pr AS (SELECT dw.doc_id, dw.w,
       |    ((h.hv % 1000000000000) + 1000000000000) % 1000000000000
       |      + 1 AS u
       |  FROM dw JOIN hashed h USING (doc_id)),
       |q AS (SELECT doc_id, w,
       |    (w::HUGEINT * 1000000000000) // u AS priority FROM pr),
       |r AS (SELECT doc_id, w, priority,
       |    row_number() OVER (ORDER BY priority DESC, doc_id ASC)
       |      AS rn FROM q),
       |tau AS (SELECT priority AS tv FROM r WHERE rn = ${k + 1})
       |SELECT r.doc_id, r.w, r.priority::BIGINT AS priority,
       |  greatest(r.w::HUGEINT, coalesce(tau.tv, 0))::BIGINT AS w_hat
       |FROM r LEFT JOIN tau ON true WHERE rn <= $k""".stripMargin

  /** Oracle for `text_feature_hash`: the hashing-trick featurization —
    * every whitespace-token OCCURRENCE hashed with the exact XXH64
    * emulation ([[tokenHashCtes]]), bucketed by unsigned mod (equal to
    * Spark's `pmod` of the signed hash: the 2⁶⁴ offset vanishes mod a
    * power of two), counted per (doc, bucket).
    */
  def textFeatureHash(buckets: Int = 64): String =
    s"""WITH ${tokenHashCtes()}
       |SELECT doc_id, (thu % $buckets)::BIGINT AS bucket,
       |  count(*) AS cnt
       |FROM tokh GROUP BY 1, 2""".stripMargin

  /** xxhash64(doc_id) for every document as chained CTEs:
    * hashed(doc_id, hv) with hv signed — the sampling gate's hash.
    */
  private def idHashCtes(table: String = "documents",
                         idCol: String = "doc_id"): String = {
    val unsId = s"(CASE WHEN $idCol < 0 THEN $idCol::HUGEINT + $M " +
      s"ELSE $idCol::HUGEINT END)"
    val ch = new Chain("ih",
      s"SELECT $idCol, $unsId AS idu FROM $table")
    val h = hashLong(ch, "idu", "42::HUGEINT", "g")
    ch.add("hv", sig(h))
    ch.render + s",\nhashed AS (SELECT $idCol, hv FROM ${ch.last})"
  }

  /** Oracle for `sample_stratified`: the deterministic hash gate
    * (xxhash64(doc_id) pmod 1e6 under a per-language threshold) over the
    * language-ID strata; `langSql` is the text_langid oracle, reused
    * verbatim as a CTE so both queries share one definition of the
    * stratum.
    */
  def sampleStratified(langSql: String, enThreshold: Long,
                       defaultThreshold: Long): String =
    s"""WITH lang AS ($langSql),
       |${idHashCtes()}
       |SELECT h.doc_id, l.lang_pred
       |FROM hashed h JOIN lang l ON l.doc_id = h.doc_id
       |WHERE ((h.hv % 1000000) + 1000000) % 1000000 <
       |  CASE WHEN l.lang_pred = 'en' THEN $enThreshold ELSE $defaultThreshold END""".stripMargin

  /** Oracle for `sample_quality_weighted`: the weighted Bernoulli gate —
    * keep iff `xxhash64(doc_id) pmod 1e6 < floor(quality·1e6)`, with the
    * quality score from the shared quality oracle (`qualitySql` reused
    * verbatim so both queries share one definition of the weight).
    */
  def sampleQualityWeighted(qualitySql: String): String =
    s"""WITH q AS ($qualitySql),
       |${idHashCtes()}
       |SELECT h.doc_id, d.source
       |FROM hashed h
       |JOIN q ON q.doc_id = h.doc_id
       |JOIN documents d ON d.doc_id = h.doc_id
       |WHERE ((h.hv % 1000000) + 1000000) % 1000000 <
       |  CAST(floor(q.quality * 1000000) AS BIGINT)""".stripMargin

  /** Oracle for `curate_cluster_quota`: the adaptive k-means assignment
    * (same CTEs as `cluster_kmeans`) with at most `quota` members kept
    * per cluster by xxhash64(vec_id) DESCENDING — the same top-k-by-hash
    * winner set the bounded aggregate produces.
    */
  def curateClusterQuota(targetClusterSize: Int = 256, minK: Int = 8,
                         iters: Int = 3, dim: Int = 64,
                         quota: Int = 16): String =
    s"""WITH ${kmeansCtes(adaptiveKSql(targetClusterSize, minK), iters, dim)},
       |${idHashCtes("embeddings", "vec_id")},
       |r AS (
       |  SELECT f.vec_id, f.cluster,
       |    row_number() OVER (PARTITION BY f.cluster
       |      ORDER BY h.hv DESC, f.vec_id ASC) AS rn
       |  FROM fin f JOIN hashed h ON h.vec_id = f.vec_id)
       |SELECT vec_id, cluster FROM r WHERE rn <= $quota""".stripMargin

  /** Oracle for `training_mix_semantic`: the composed embedding-side
    * mix — `semSql` (the dedup_semantic oracle) names the dropped
    * vec_ids, `gateSql` (the curate_quality_gate oracle) supplies
    * keep_prob, and the survivors pack with the same shard-local cumsum
    * as `pack_training`.
    */
  def trainingMixSemantic(semSql: String, gateSql: String,
                          budgetTokens: Long, shardSize: Long): String =
    s"""WITH sem AS ($semSql),
       |gate AS ($gateSql),
       |keepd AS (
       |  SELECT d.doc_id, g.keep_prob,
       |    CAST(len(regexp_extract_all(d.text,
       |      '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_tokens,
       |    CAST(d.doc_id // $shardSize AS BIGINT) AS shard
       |  FROM documents d JOIN gate g ON g.doc_id = d.doc_id
       |  WHERE g.keep_prob >= 0.5
       |    AND d.doc_id NOT IN (SELECT vec_id FROM sem)),
       |c AS (
       |  SELECT doc_id, keep_prob, n_tokens, shard,
       |    sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id)
       |      - n_tokens AS strt
       |  FROM keepd)
       |SELECT doc_id, keep_prob, n_tokens, shard,
       |  CAST(strt // $budgetTokens AS BIGINT) AS pack_in_shard,
       |  CAST(strt - (strt // $budgetTokens) * $budgetTokens AS BIGINT)
       |    AS pack_offset
       |FROM c""".stripMargin

  /** Oracle for `embed_outliers`: the k-means assignment's 4-decimal
    * cosine scaled to integers (`floor(sim·10⁴)`), exact integer
    * moments per cluster, and the identical IEEE mean/σ/z formula.
    */
  def embedOutliers(targetClusterSize: Int = 256, minK: Int = 8,
                    iters: Int = 3, dim: Int = 64,
                    zThresh: Double = 2.0): String =
    s"""WITH ${kmeansCtes(adaptiveKSql(targetClusterSize, minK), iters, dim)},
       |x AS (
       |  SELECT vec_id, cluster, ${roundSpark("sim", 4)} AS sim,
       |    CAST(floor(${roundSpark("sim", 4)} * 10000) AS BIGINT) AS s4
       |  FROM fin),
       |st AS (
       |  SELECT cluster, count(*) AS n, sum(s4)::BIGINT AS s1,
       |    sum(s4 * s4)::BIGINT AS s2
       |  FROM x GROUP BY 1),
       |y AS (
       |  SELECT x.vec_id, x.cluster, x.sim, x.s4,
       |    st.s1::DOUBLE / st.n AS mu,
       |    sqrt(st.s2::DOUBLE / st.n
       |      - (st.s1::DOUBLE / st.n) * (st.s1::DOUBLE / st.n)) AS sigma
       |  FROM x JOIN st USING (cluster)),
       |z AS (
       |  SELECT vec_id, cluster, sim,
       |    CASE WHEN sigma > 0
       |      THEN ${roundSpark("(s4::DOUBLE - mu) / sigma", 4)}
       |      ELSE 0.0 END AS zscore
       |  FROM y)
       |SELECT vec_id, cluster, sim, zscore,
       |  zscore <= -$zThresh AS is_outlier
       |FROM z""".stripMargin

  /** Oracle for `sample_temperature`: per-source counts → temperature
    * keep-thresholds `floor(1e6 * sqrt(n_min/n))` (alpha = 0.5; `sqrt`
    * is correctly rounded under IEEE 754 in both engines, so the
    * thresholds match bit-for-bit) → the same xxhash64(doc_id) gate as
    * `sample_stratified`.
    */
  def sampleTemperature(): String =
    s"""WITH c AS (
       |  SELECT source, count(*)::BIGINT AS n FROM documents GROUP BY source),
       |mn AS (SELECT min(n) AS nmin FROM c),
       |thr AS (
       |  SELECT source,
       |    CAST(floor(1000000 * sqrt(nmin::DOUBLE / n::DOUBLE)) AS BIGINT)
       |      AS thr
       |  FROM c, mn),
       |${idHashCtes()}
       |SELECT d.doc_id, d.source
       |FROM documents d
       |JOIN hashed h ON h.doc_id = d.doc_id
       |JOIN thr ON thr.source = d.source
       |WHERE ((h.hv % 1000000) + 1000000) % 1000000 < thr.thr""".stripMargin

  /** Oracle for `multimodal_features`: byte stats over the UTF-8 bytes of
    * `text` (ASCII corpus, so `ord` per char IS the byte) — length,
    * Java-style `crc*31+b` wrapping checksum via list_reduce in HUGEINT,
    * exact integer mean, and Shannon entropy with Java's log(p)/log(2)
    * formulation.
    */
  def multimodalFeatures(): String =
    s"""WITH cl AS (
       |  SELECT doc_id AS media_id, string_split(text, '') AS cs FROM documents),
       |crc AS (
       |  SELECT media_id, len(cs)::BIGINT AS n_bytes,
       |    list_reduce(list_prepend(0::HUGEINT, list_transform(cs, c -> ord(c)::HUGEINT)),
       |                (a, b) -> (a * 31 + b) % $M) AS crcu
       |  FROM cl),
       |chars AS (SELECT media_id, unnest(cs) AS c FROM cl),
       |hist AS (
       |  SELECT media_id, ord(c) AS b, count(*) AS cnt
       |  FROM chars GROUP BY media_id, ord(c)),
       |stats AS (
       |  SELECT h.media_id, sum(h.b * h.cnt) AS bsum,
       |    -sum((h.cnt::DOUBLE / c.n_bytes) * (ln(h.cnt::DOUBLE / c.n_bytes) / ln(2))) AS ent
       |  FROM hist h JOIN crc c USING (media_id) GROUP BY h.media_id)
       |SELECT c.media_id, c.n_bytes, ${sig("c.crcu")} AS checksum,
       |  coalesce(${eRatioE("s.bsum", "c.n_bytes", 10000L)}, 0.0)
       |    AS mean_byte,
       |  ${roundSpark("coalesce(s.ent, 0.0)", 4)} AS entropy_bits
       |FROM crc c LEFT JOIN stats s ON s.media_id = c.media_id""".stripMargin

  /** Oracle for `sim_lsh_topk`: the seeded plane matrices from
    * [[Similarity.hyperplanes]] emitted as DOUBLE[] literals; per-table
    * sign-bit signatures, OR-ed bucket match, cosine rank.
    */
  def simLshTopK(nTables: Int = 12, nBits: Int = 3, dim: Int = 64,
                 seed: Long = 42L, k: Int = 5): String = {
    val planes = Similarity.hyperplanes(nTables, nBits, dim, seed)
    val sigExprs: String =
      (0 until nTables).map { l =>
        val bits = (0 until nBits).map { p =>
          val lits = planes(l)(p).map(_.toString).mkString(", ")
          s"CASE WHEN list_dot_product(v, [$lits]::DOUBLE[]) >= 0 THEN ${1 << p} ELSE 0 END"
        }.mkString(" + ")
        s"($bits) AS s$l"
      }.mkString(", ")
    val tblMatch = (0 until nTables).map(l => s"q.s$l = e.s$l").mkString(" OR ")
    s"""WITH qv AS (
       |  SELECT vec_id AS query_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 8),
       |ev AS (
       |  SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS v FROM embeddings),
       |q AS (SELECT query_id, v, $sigExprs FROM qv),
       |e AS (SELECT neighbor_id, v, $sigExprs FROM ev),
       |scored AS (
       |  SELECT q.query_id, e.neighbor_id, list_cosine_similarity(q.v, e.v) AS score
       |  FROM q JOIN e ON ($tblMatch)
       |  WHERE e.neighbor_id <> q.query_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, score,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY score DESC, neighbor_id ASC) AS INTEGER) AS rank
       |  FROM scored)
       |SELECT query_id, rank, neighbor_id, ${roundSpark("score", 4)} AS score
       |FROM ranked WHERE rank <= $k""".stripMargin
  }

  /** Oracle for `embed_project`: the k seeded Gaussian projection
    * planes ([[graft.functions.Projection.gaussianMatrix]], same
    * generator as the LSH plane oracles) emitted as DOUBLE[] literals;
    * one row per (vec_id, dim) with the `1/sqrt(k)`-scaled dot.
    */
  def embedProject(k: Int = 8, dim: Int = 64, seed: Long = 7L): String = {
    val planes = graft.functions.Projection.gaussianMatrix(k, dim, seed)
    val scale = 1.0 / math.sqrt(k.toDouble)
    val rows = (0 until k).map { j =>
      val lits = planes(j).map(_.toString).mkString(", ")
      s"""SELECT vec_id, $j AS dim,
         |  ${roundSpark(s"list_dot_product(v, [$lits]::DOUBLE[]) * $scale", 4)}
         |    AS val FROM ev""".stripMargin
    }.mkString("\n  UNION ALL ")
    s"""WITH ev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
       |$rows""".stripMargin
  }

  /** Oracle for `embed_truncate`: matryoshka prefix stats — first
    * renormalized component + retained-energy ratio over the 16-dim
    * prefix (same `sqrt(list_sum(x*x))` norm formulation as
    * `embed_norms`).
    */
  def embedTruncate(k: Int = 16): String =
    s"""WITH ev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |pre AS (SELECT vec_id, v[1:$k] AS p, v FROM ev),
       |n AS (SELECT vec_id, p,
       |  sqrt(list_sum(list_transform(p, x -> x * x))) AS np,
       |  sqrt(list_sum(list_transform(v, x -> x * x))) AS nv
       |  FROM pre)
       |SELECT vec_id,
       |  ${roundSpark("CASE WHEN np > 0 THEN p[1] / np ELSE p[1] END", 4)}
       |    AS t0,
       |  ${roundSpark("CASE WHEN nv > 0 THEN np / nv ELSE 0.0 END", 4)}
       |    AS energy_ratio
       |FROM n""".stripMargin

  /** Oracle for `dedup_embedding_lsh` (count-adaptive resolution): the
    * engine picks `bits = min b in [minBits, maxBits] :
    * targetBucket * 2^b >= count(*)` ([[Similarity.adaptiveBits]], pure
    * integer arithmetic so SQL can replicate it exactly) and buckets on
    * the first `bits` planes per table. Because the plane family is
    * resolution-NESTED (per-(table, plane) seeding —
    * [[Similarity.hyperplanes]]), this oracle computes each table's
    * signature once at `maxBits` and masks to the low `bits` bits: the
    * masked value IS the `bits`-plane signature. Candidate shape mirrors
    * the engine — per-table banded rows, equality bucket join, DISTINCT
    * pairs, exact cosine refine. The round goes through VARCHAR→DECIMAL
    * to reproduce Spark's shortest-decimal HALF_UP semantics.
    */
  def dedupEmbeddingLsh(minCos: Double, nTables: Int = 8,
                        targetBucket: Int = 128, minBits: Int = 4,
                        maxBits: Int = 16, dim: Int = 64,
                        seed: Long = 42L): String =
    s"""WITH ${embLshPairsCtes(nTables, targetBucket, minBits, maxBits, dim, seed)}
       |SELECT id_a, id_b, cos FROM pairs WHERE cos >= $minCos""".stripMargin

  /** Shared CTE body (through `pairs`: id_a < id_b, exact 4-dp cosine)
    * for the LSH-banded embedding candidate queries.
    */
  private def embLshPairsCtes(nTables: Int, targetBucket: Int,
                              minBits: Int, maxBits: Int, dim: Int,
                              seed: Long): String = {
    val planes = Similarity.hyperplanes(nTables, maxBits, dim, seed)
    val sigExprs: String =
      (0 until nTables).map { l =>
        val bits = (0 until maxBits).map { p =>
          val lits = planes(l)(p).map(_.toString).mkString(", ")
          s"CASE WHEN list_dot_product(v, [$lits]::DOUBLE[]) >= 0 THEN ${1L << p} ELSE 0 END"
        }.mkString(" + ")
        s"($bits) AS s$l"
      }.mkString(", ")
    val banded = (0 until nTables)
      .map(l => s"SELECT id, $l AS t, s$l % m AS bk FROM sgm")
      .mkString("\n  UNION ALL ")
    val cosR = roundSpark("list_cosine_similarity(va.v, vb.v)", 4)
    s"""ev AS (
       |  SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
       |prm AS (
       |  SELECT (1::BIGINT << coalesce(
       |    (SELECT min(b) FROM generate_series($minBits, $maxBits) g(b)
       |     WHERE $targetBucket * (1::BIGINT << b) >= (SELECT count(*) FROM ev)),
       |    $maxBits)) AS m),
       |sg AS MATERIALIZED (SELECT id, $sigExprs FROM ev),
       |sgm AS MATERIALIZED (SELECT id, ${(0 until nTables).map(l => s"s$l").mkString(", ")}, m
       |  FROM sg CROSS JOIN prm),
       |bnd AS MATERIALIZED (
       |  $banded),
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |  FROM bnd a JOIN bnd b ON a.t = b.t AND a.bk = b.bk AND a.id < b.id),
       |pairs AS (
       |  SELECT c.id_a, c.id_b, $cosR AS cos
       |  FROM cand c JOIN ev va ON va.id = c.id_a
       |              JOIN ev vb ON vb.id = c.id_b)""".stripMargin
  }

  /** Oracle for `dedup_mutual_knn`: the same LSH candidate pairs
    * thresholded at `minCos`, symmetrized; per vertex the neighbors
    * rank by (cos DESC, id ASC) and only the top `k` survive; a pair
    * is MUTUAL iff each endpoint ranks the other within its own top-k
    * — the reciprocal-nearest-neighbor filter that strips asymmetric
    * hub links from a near-dup graph before clustering.
    */
  def dedupMutualKnn(minCos: Double, k: Int, nTables: Int = 8,
                     targetBucket: Int = 128, minBits: Int = 4,
                     maxBits: Int = 16, dim: Int = 64,
                     seed: Long = 42L): String =
    s"""WITH ${embLshPairsCtes(nTables, targetBucket, minBits, maxBits, dim, seed)},
       |thr AS (SELECT id_a, id_b, cos FROM pairs WHERE cos >= $minCos),
       |sym AS (
       |  SELECT id_a AS a, id_b AS b, cos FROM thr
       |  UNION ALL SELECT id_b, id_a, cos FROM thr),
       |rkd AS (
       |  SELECT a, b, cos, CAST(row_number() OVER (PARTITION BY a
       |    ORDER BY cos DESC, b ASC) AS INTEGER) AS rnk
       |  FROM sym),
       |topk AS (SELECT * FROM rkd WHERE rnk <= $k)
       |SELECT x.a AS id_a, x.b AS id_b, x.cos,
       |  x.rnk AS rank_ab, y.rnk AS rank_ba
       |FROM topk x JOIN topk y ON x.a = y.b AND x.b = y.a
       |WHERE x.a < x.b""".stripMargin

  /** Oracle for `sim_quantized_topk`: int8 quantization (per-vector
    * scale 127/max|x|, Spark-semantics rounding) then exact integer
    * dot/norm cosine, rank, k.
    */
  def simQuantizedTopK(dim: Int = 64, k: Int = 5): String = {
    val dot = s"list_sum(list_transform(range(1, ${dim + 1}), i -> a[i] * b[i]))::DOUBLE"
    val na = s"list_sum(list_transform(range(1, ${dim + 1}), i -> a[i] * a[i]))::DOUBLE"
    val nb = s"list_sum(list_transform(range(1, ${dim + 1}), i -> b[i] * b[i]))::DOUBLE"
    s"""WITH base AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |scaled AS (
       |  SELECT vec_id, v,
       |    CASE WHEN list_max(list_transform(v, x -> abs(x))) > 0
       |         THEN 127.0 / list_max(list_transform(v, x -> abs(x)))
       |         ELSE 1.0 END AS sc
       |  FROM base),
       |qz AS (
       |  SELECT vec_id,
       |    list_transform(v, x -> CAST(${roundSpark("x * sc", 0)} AS INTEGER)) AS qv
       |  FROM scaled),
       |sc AS (
       |  SELECT qy.vec_id AS query_id, e.vec_id AS neighbor_id,
       |    qy.qv AS a, e.qv AS b
       |  FROM qz qy JOIN qz e ON e.vec_id <> qy.vec_id
       |  WHERE qy.vec_id < 8),
       |scored AS (
       |  SELECT query_id, neighbor_id,
       |    CASE WHEN $na > 0 AND $nb > 0
       |         THEN $dot / sqrt($na) / sqrt($nb) ELSE 0.0 END AS score
       |  FROM sc),
       |ranked AS (
       |  SELECT query_id, neighbor_id, score,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY score DESC, neighbor_id ASC) AS INTEGER) AS rank
       |  FROM scored)
       |SELECT query_id, rank, neighbor_id, ${roundSpark("score", 4)} AS score
       |FROM ranked WHERE rank <= $k""".stripMargin
  }

  /** Oracle for `cluster_farthest_first`: the Gonzalez traversal
    * unrolled — the int8 quantization CTE (same formulation as
    * [[simQuantizedTopK]]), then per round an argmax-of-min-distance
    * selection (ORDER BY dmin DESC, vec_id ASC LIMIT 1, matching the
    * engine's TakeOrdered tie-break) with exact BIGINT squared
    * distances, then the nearest-center assignment rollup. Every CTE
    * in the sequential chain is MATERIALIZED (per-reference inlining
    * re-evaluates the whole prefix otherwise).
    */
  def clusterFarthestFirst(dim: Int = 64, k: Int = 4): String = {
    def dist(a: String, b: String) =
      s"list_sum(list_transform(range(1, ${dim + 1}), " +
        s"i -> ($a[i] - $b[i])::BIGINT * ($a[i] - $b[i])::BIGINT))::BIGINT"
    val sb = new StringBuilder
    sb.append(
      s"""WITH base AS MATERIALIZED (
         |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |scaled AS (
         |  SELECT vec_id, v,
         |    CASE WHEN list_max(list_transform(v, x -> abs(x))) > 0
         |         THEN 127.0 / list_max(list_transform(v, x -> abs(x)))
         |         ELSE 1.0 END AS sc
         |  FROM base),
         |qz AS MATERIALIZED (
         |  SELECT vec_id,
         |    list_transform(v, x -> CAST(${roundSpark("x * sc", 0)}
         |      AS INTEGER)) AS qv
         |  FROM scaled),
         |c1 AS MATERIALIZED (
         |  SELECT vec_id AS cid, qv FROM qz ORDER BY vec_id ASC LIMIT 1),
         |d1 AS MATERIALIZED (
         |  SELECT q.vec_id, q.qv, ${dist("q.qv", "c.qv")} AS dmin
         |  FROM qz q CROSS JOIN c1 c)""".stripMargin)
    for (r <- 2 to k) {
      sb.append(
        s""",
           |c$r AS MATERIALIZED (
           |  SELECT vec_id AS cid, qv FROM d${r - 1}
           |  ORDER BY dmin DESC, vec_id ASC LIMIT 1)""".stripMargin)
      if (r < k) sb.append(
        s""",
           |d$r AS MATERIALIZED (
           |  SELECT d.vec_id, d.qv,
           |    least(d.dmin, ${dist("d.qv", "c.qv")}) AS dmin
           |  FROM d${r - 1} d CROSS JOIN c$r c)""".stripMargin)
    }
    sb.append(
      s""",
         |cents AS (${(1 to k).map(r => s"SELECT cid, qv FROM c$r")
        .mkString(" UNION ALL ")}),
         |ad AS (
         |  SELECT q.vec_id, c.cid, ${dist("q.qv", "c.qv")} AS dd
         |  FROM qz q CROSS JOIN cents c),
         |best AS (
         |  SELECT vec_id, cid, dd, row_number() OVER (
         |    PARTITION BY vec_id ORDER BY dd ASC, cid ASC) AS rn
         |  FROM ad)
         |SELECT cid AS center_id, count(*)::BIGINT AS n_assigned,
         |  max(dd)::BIGINT AS radius_sq
         |FROM best WHERE rn = 1 GROUP BY cid""".stripMargin)
    sb.toString
  }

  /** Oracle for `ml_knn_classify`: the same int8 quantization CTE as
    * [[simQuantizedTopK]] (with the label carried), exact BIGINT
    * squared distances, per-query rank window (d2 ASC, neighbor ASC),
    * 5-vote majority with ties toward the smaller label.
    */
  def mlKnnClassify(dim: Int = 64, k: Int = 5): String = {
    val d2 = s"list_sum(list_transform(range(1, ${dim + 1}), " +
      "i -> (q.q_qv[i] - c.c_qv[i])::BIGINT * " +
      "(q.q_qv[i] - c.c_qv[i])::BIGINT))::BIGINT"
    s"""WITH base AS (
       |  SELECT vec_id, label, embedding::DOUBLE[] AS v
       |  FROM embeddings),
       |scaled AS (
       |  SELECT vec_id, label, v,
       |    CASE WHEN list_max(list_transform(v, x -> abs(x))) > 0
       |         THEN 127.0 / list_max(list_transform(v, x -> abs(x)))
       |         ELSE 1.0 END AS sc
       |  FROM base),
       |qz AS MATERIALIZED (
       |  SELECT vec_id, label,
       |    list_transform(v, x -> CAST(${roundSpark("x * sc", 0)}
       |      AS INTEGER)) AS qv
       |  FROM scaled),
       |q AS (SELECT vec_id AS query_id, label AS true_label,
       |    qv AS q_qv FROM qz WHERE vec_id % 5 = 0 AND vec_id < 2500),
       |c AS (SELECT vec_id AS neighbor_id, label AS n_label,
       |    qv AS c_qv FROM qz WHERE vec_id % 5 <> 0),
       |kd AS (
       |  SELECT q.query_id, q.true_label, c.neighbor_id, c.n_label,
       |    $d2 AS d2
       |  FROM q CROSS JOIN c),
       |rk AS (
       |  SELECT query_id, true_label, n_label,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY d2 ASC, neighbor_id ASC) AS rank
       |  FROM kd),
       |votes AS (
       |  SELECT query_id, true_label, n_label,
       |    count(*)::BIGINT AS votes
       |  FROM rk WHERE rank <= $k GROUP BY 1, 2, 3),
       |win AS (
       |  SELECT query_id, true_label, n_label AS pred_label, votes,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY votes DESC, n_label ASC) AS rn
       |  FROM votes)
       |SELECT query_id, true_label, pred_label, votes,
       |  (pred_label = true_label) AS correct
       |FROM win WHERE rn = 1""".stripMargin
  }

  /** Oracle for `sim_binary_topk`: the 1-bit sign-quantization codes
    * rebuilt as HUGEINT bit sums (bit i set iff embedding[i+1] > 0 —
    * float compared exactly, no rounding), converted to signed 64-bit,
    * hamming = bit_count(xor), per-query rank window with the same
    * (hamming asc, neighbor_id asc) tie-break as the engine.
    */
  def simBinaryTopK(dim: Int = 64, k: Int = 5): String = {
    val bits = s"list_sum(list_transform(range(1, ${dim + 1}), " +
      "i -> CASE WHEN embedding[i] > 0 THEN (1::HUGEINT << (i - 1)) " +
      "ELSE 0::HUGEINT END))::HUGEINT"
    s"""WITH code AS (
       |  SELECT vec_id, ${sig(bits)} AS bits FROM embeddings),
       |cand AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    bit_count(xor(q.bits, c.bits))::INT AS hamming
       |  FROM code q JOIN code c ON c.vec_id <> q.vec_id
       |  WHERE q.vec_id < 8),
       |ranked AS (
       |  SELECT query_id, neighbor_id, hamming,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY hamming ASC, neighbor_id ASC) AS INTEGER) AS rank
       |  FROM cand)
       |SELECT query_id, rank, neighbor_id, hamming
       |FROM ranked WHERE rank <= $k""".stripMargin
  }

  /** Oracle for `sim_ivf_topk`: centroids = per-(cell, dim) float-cast
    * means over the 1-in-4 systematic sample, nProbe nearest cells per
    * query, exact cosine rank within probed cells.
    */
  def simIvfTopK(dim: Int = 64, nProbe: Int = 3, k: Int = 5): String =
    s"""WITH centd AS (
       |  SELECT label AS cell, g.i AS dim, CAST(avg(embedding[g.i]) AS FLOAT) AS m
       |  FROM embeddings, generate_series(1, $dim) g(i)
       |  WHERE vec_id % 4 = 0
       |  GROUP BY label, g.i),
       |cent AS (
       |  SELECT cell, list(m ORDER BY dim)::DOUBLE[] AS centroid FROM centd GROUP BY cell),
       |qv AS (
       |  SELECT vec_id AS query_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 8),
       |probes AS (
       |  SELECT query_id, cell, v FROM (
       |    SELECT q.query_id, c.cell, q.v,
       |      CAST(row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY list_cosine_similarity(q.v, c.centroid) DESC, c.cell ASC)
       |        AS INTEGER) AS pr
       |    FROM qv q CROSS JOIN cent c)
       |  WHERE pr <= $nProbe),
       |scored AS (
       |  SELECT p.query_id, e.vec_id AS neighbor_id,
       |    list_cosine_similarity(p.v, e.embedding::DOUBLE[]) AS score
       |  FROM embeddings e JOIN probes p ON e.label = p.cell
       |  WHERE e.vec_id <> p.query_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, score,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY score DESC, neighbor_id ASC) AS INTEGER) AS rank
       |  FROM scored)
       |SELECT query_id, rank, neighbor_id, ${roundSpark("score", 4)} AS score
       |FROM ranked WHERE rank <= $k""".stripMargin

  /** Oracle for `retrieval_metrics`: boolean-AND qrels (doc contains
    * every distinct query term), BM25 ranking via the shared CTEs, and
    * recall/MRR/nDCG with the same ascending-order folds and the same
    * embedded ln2 literal as the engine.
    */
  def retrievalMetrics(queries: Seq[(Int, String)], k: Int,
                       k1: Double = 1.2, b: Double = 0.75): String = {
    val ln2 = math.log(2.0)
    s"""WITH ${bm25Ctes(queries, k1, b)},
       |bmk AS (SELECT query_id, doc_id, rank FROM rk WHERE rank <= $k),
       |dt AS (SELECT DISTINCT doc_id, term FROM t),
       |nq AS (SELECT query_id, count(*) AS nq FROM qt GROUP BY 1),
       |ov AS (SELECT qt.query_id, dt.doc_id, count(*) AS c
       |       FROM dt JOIN qt USING (term) GROUP BY 1, 2),
       |qr AS (SELECT ov.query_id, ov.doc_id
       |       FROM ov JOIN nq USING (query_id) WHERE ov.c = nq.nq),
       |nrel AS (SELECT query_id, count(*) AS n_rel FROM qr GROUP BY 1),
       |hit AS (SELECT b2.query_id, b2.rank
       |        FROM bmk b2 JOIN qr USING (query_id, doc_id)),
       |hs AS (SELECT query_id,
       |         list_reduce(list($ln2 / ln(rank + 1.0) ORDER BY rank),
       |           (a, x) -> a + x) AS dcg,
       |         min(rank) AS first_rank, count(*) AS n_hits
       |       FROM hit GROUP BY 1),
       |met AS (
       |  SELECT n.query_id, n.n_rel, hs.dcg, hs.first_rank, hs.n_hits,
       |    list_reduce(list_transform(range(1, least(n.n_rel, $k) + 1),
       |      i -> $ln2 / ln(i + 1.0)), (a, x) -> a + x) AS idcg
       |  FROM nrel n LEFT JOIN hs ON hs.query_id = n.query_id)
       |SELECT query_id, n_rel,
       |  ${eRatioE("coalesce(n_hits, 0)", "n_rel", 10000L)}
       |    AS recall_$k,
       |  coalesce(${eRatioE("1", "first_rank", 10000L)}, 0.0) AS mrr_$k,
       |  ${roundSpark("coalesce(dcg, 0.0) / idcg", 4)} AS ndcg_$k
       |FROM met""".stripMargin
  }

  /** Oracle for `text_perplexity`: the add-one bigram LM trained on the
    * corpus — identical long counts, identical `ln((c+1)/(denom+V))`
    * doubles, per-doc fold in position order (`list_reduce` over
    * `list(lp ORDER BY pos)`; the engine's `0.0 + x` seed is exact), and
    * the Spark-rounded 4-decimal mean NLL.
    */
  def textPerplexity(): String =
    s"""WITH d AS (
       |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS arr
       |  FROM documents WHERE length(trim(text)) > 0),
       |t AS (
       |  SELECT doc_id, unnest(arr) AS w,
       |    generate_subscripts(arr, 1) AS pos
       |  FROM d),
       |uni AS (SELECT w, count(*) AS cu FROM t GROUP BY 1),
       |st AS (SELECT count(*) AS n, count(DISTINCT w) AS v FROM t),
       |bg AS (
       |  SELECT doc_id, unnest(arr[1:len(arr) - 1]) AS w1,
       |    unnest(arr[2:len(arr)]) AS w2,
       |    generate_subscripts(arr[1:len(arr) - 1], 1) AS pos
       |  FROM d WHERE len(arr) > 1),
       |bc AS (SELECT w1, w2, count(*) AS cb FROM bg GROUP BY 1, 2),
       |term1 AS (
       |  SELECT f.doc_id, 1 AS pos,
       |    ln((uni.cu + 1.0) / CAST(st.n + st.v AS DOUBLE)) AS lp
       |  FROM (SELECT doc_id, arr[1] AS w FROM d) f
       |  JOIN uni USING (w) CROSS JOIN st),
       |termb AS (
       |  SELECT bg.doc_id, bg.pos + 1 AS pos,
       |    ln((bc.cb + 1.0) / CAST(uni.cu + st.v AS DOUBLE)) AS lp
       |  FROM bg JOIN bc USING (w1, w2)
       |  JOIN uni ON uni.w = bg.w1 CROSS JOIN st),
       |terms AS (SELECT * FROM term1 UNION ALL SELECT * FROM termb),
       |agg AS (
       |  SELECT doc_id,
       |    list_reduce(list(lp ORDER BY pos), (a, x) -> a + x) AS raw,
       |    count(*) AS n_tokens
       |  FROM terms GROUP BY 1)
       |SELECT doc_id, n_tokens,
       |  ${roundSpark("-(raw / n_tokens::DOUBLE)", 4)} AS avg_nll
       |FROM agg""".stripMargin

  /** Shared CTE body for `cluster_kmeans` / `dedup_semantic`: seeds =
    * the k lowest-id vectors OF THE TRAINING SAMPLE (`tv`, the
    * 1-in-mod systematic slice), `iters` unrolled Lloyd rounds over the
    * sample, final assignment over the full corpus. Mirrors
    * [[graft.functions.Clustering.kmeansAssign]]'s determinism contract:
    * float-cast per-dim means each round (absorbing summation-order
    * ulps, same as the IVF centroid oracle), argmax ties toward the
    * smaller cluster index, empty clusters carry the previous centroid
    * via the LEFT JOIN coalesce.
    */
  private def kmeansCtes(kSql: String, iters: Int, dim: Int,
                         modSql: String = sampleModSql(4096)): String = {
    val sb = new StringBuilder
    sb ++=
      s"""ev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |tv AS (SELECT vec_id, v FROM ev WHERE vec_id % $modSql = 0),
         |cent0 AS (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER)
         |           AS cluster,
         |         v AS centroid
         |  FROM (SELECT vec_id, v FROM tv ORDER BY vec_id LIMIT $kSql))""".stripMargin
    for (i <- 1 to iters) {
      sb ++=
        s""",
           |asg$i AS (
           |  SELECT vec_id, v, cluster FROM (
           |    SELECT e.vec_id, e.v, c.cluster,
           |      row_number() OVER (PARTITION BY e.vec_id
           |        ORDER BY list_cosine_similarity(e.v, c.centroid) DESC,
           |                 c.cluster ASC) AS rn
           |    FROM tv e CROSS JOIN cent${i - 1} c)
           |  WHERE rn = 1),
           |upd$i AS (
           |  SELECT cluster, g.i AS d, CAST(avg(v[g.i]) AS FLOAT) AS m
           |  FROM asg$i, generate_series(1, $dim) g(i)
           |  GROUP BY cluster, g.i),
           |newc$i AS (
           |  SELECT cluster, list(m ORDER BY d)::DOUBLE[] AS centroid
           |  FROM upd$i GROUP BY cluster),
           |cent$i AS (
           |  SELECT p.cluster, coalesce(n.centroid, p.centroid) AS centroid
           |  FROM cent${i - 1} p LEFT JOIN newc$i n USING (cluster))""".stripMargin
    }
    sb ++=
      s""",
         |fin AS (
         |  SELECT vec_id, cluster, sim FROM (
         |    SELECT e.vec_id, c.cluster,
         |      list_cosine_similarity(e.v, c.centroid) AS sim,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY list_cosine_similarity(e.v, c.centroid) DESC,
         |                 c.cluster ASC) AS rn
         |    FROM ev e CROSS JOIN cent$iters c)
         |  WHERE rn = 1)""".stripMargin
    sb.toString
  }

  /** Oracle for `sim_pq_topk`: per-subspace codebooks (K lowest-id
    * subvector seeds, unrolled Lloyd rounds under `|c|² − 2·x·c` with
    * smaller-code ties and float-cast means), PQ encoding, and the ADC
    * score as a subspace-ordered `list_reduce` of LUT partials —
    * matching [[graft.functions.ProductQuantization]] bit-for-bit
    * before the 4-decimal round.
    */
  def simPqTopK(m: Int = 4, k: Int = 16, iters: Int = 2, dim: Int = 64,
                topK: Int = 5, trainBudget: Int = 4096): String =
    s"""WITH ${pqCtes(m, k, iters, dim, sampleModSql(trainBudget))}
       |SELECT query_id, rank, neighbor_id, score
       |FROM rk WHERE rank <= $topK""".stripMargin

  /** Oracle for `sim_pq_refined`: the ADC shortlist reranked by the
    * exact inner product — candidates only, same fold order as the
    * engine's native dot product.
    */
  def simPqRefined(m: Int = 4, k: Int = 16, iters: Int = 2,
                   dim: Int = 64, topK: Int = 5,
                   shortlist: Int = 20, trainBudget: Int = 4096): String =
    s"""WITH ${pqCtes(m, k, iters, dim, sampleModSql(trainBudget))},
       |cand AS (SELECT query_id, neighbor_id FROM rk
       |         WHERE rank <= $shortlist),
       |ex AS (
       |  SELECT c.query_id, c.neighbor_id,
       |    ${roundSpark("list_inner_product(q.v, n.v)", 4)} AS score
       |  FROM cand c
       |  JOIN ev n ON n.vec_id = c.neighbor_id
       |  JOIN qv q ON q.query_id = c.query_id),
       |rk2 AS (
       |  SELECT query_id, neighbor_id, score,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY CAST(round(score * 10000) AS BIGINT) DESC,
       |               neighbor_id ASC) AS INTEGER) AS rank
       |  FROM ex)
       |SELECT query_id, rank, neighbor_id, score
       |FROM rk2 WHERE rank <= $topK""".stripMargin

  /** Shared CTE body for the PQ oracles, ending at `rk` (ADC-ranked
    * candidates) with `ev`/`qv` available for exact reranks. Codebook
    * training (seeds + Lloyd rounds) draws from the 1-in-mod systematic
    * sample `tv`; encoding covers the full corpus — mirroring
    * [[graft.functions.ProductQuantization.trainCodebooks]]'s
    * sample-gated default build.
    */
  private def pqCtes(m: Int, k: Int, iters: Int, dim: Int,
                     modSql: String = sampleModSql(4096)): String = {
    val sub = dim / m
    val sb = new StringBuilder
    sb ++= "ev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)"
    sb ++= s""",
      |tv AS (SELECT vec_id, v FROM ev WHERE vec_id % $modSql = 0)""".stripMargin
    def argmin(src: String, cb: String): String =
      s"""  SELECT vec_id, x, code FROM (
         |    SELECT s.vec_id, s.x, c.code,
         |      row_number() OVER (PARTITION BY s.vec_id ORDER BY
         |        (list_inner_product(c.c, c.c)
         |          - 2.0 * list_inner_product(s.x, c.c)) ASC,
         |        c.code ASC) AS rn
         |    FROM $src s CROSS JOIN $cb c)
         |  WHERE rn = 1""".stripMargin
    for (mi <- 0 until m) {
      val lo = mi * sub + 1
      val hi = (mi + 1) * sub
      sb ++= s""",
        |sv$mi AS (SELECT vec_id, v[$lo:$hi] AS x FROM ev),
        |ts$mi AS (SELECT vec_id, v[$lo:$hi] AS x FROM tv),
        |cb${mi}_0 AS (
        |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER)
        |           AS code,
        |         x AS c
        |  FROM (SELECT vec_id, x FROM ts$mi ORDER BY vec_id LIMIT $k))""".stripMargin
      for (i <- 1 to iters) {
        sb ++= s""",
          |as${mi}_$i AS (
          |${argmin(s"ts$mi", s"cb${mi}_${i - 1}")}),
          |up${mi}_$i AS (
          |  SELECT code, g.i AS d, CAST(avg(x[g.i]) AS FLOAT) AS mu
          |  FROM as${mi}_$i, generate_series(1, $sub) g(i)
          |  GROUP BY 1, 2),
          |nc${mi}_$i AS (
          |  SELECT code, list(mu ORDER BY d)::DOUBLE[] AS c
          |  FROM up${mi}_$i GROUP BY 1),
          |cb${mi}_$i AS (
          |  SELECT p.code, coalesce(n.c, p.c) AS c
          |  FROM cb${mi}_${i - 1} p LEFT JOIN nc${mi}_$i n USING (code))""".stripMargin
      }
      sb ++= s""",
        |en$mi AS (
        |${argmin(s"sv$mi", s"cb${mi}_$iters")})""".stripMargin
    }
    val encUnion = (0 until m)
      .map(mi => s"SELECT vec_id, $mi AS m, code FROM en$mi")
      .mkString("\n  UNION ALL ")
    val lutUnion = (0 until m).map { mi =>
      val lo = mi * sub + 1
      val hi = (mi + 1) * sub
      s"SELECT q.query_id, $mi AS m, c.code, " +
        s"list_inner_product(q.v[$lo:$hi], c.c) AS pd " +
        s"FROM qv q CROSS JOIN cb${mi}_$iters c"
    }.mkString("\n  UNION ALL ")
    sb ++= s""",
      |enc AS (
      |  $encUnion),
      |qv AS (SELECT vec_id AS query_id, v FROM ev WHERE vec_id < 8),
      |lut AS (
      |  $lutUnion),
      |sc AS (
      |  SELECT l.query_id, e.vec_id AS neighbor_id, l.m, l.pd
      |  FROM enc e JOIN lut l ON l.m = e.m AND l.code = e.code
      |  WHERE e.vec_id <> l.query_id),
      |pd AS (
      |  SELECT query_id, neighbor_id,
      |    ${roundSpark(
             "list_reduce(list(pd ORDER BY m), (a, x) -> a + x)", 4)}
      |      AS score
      |  FROM sc GROUP BY 1, 2),
      |rk AS (
      |  SELECT query_id, neighbor_id, score,
      |    CAST(row_number() OVER (PARTITION BY query_id
      |      ORDER BY CAST(round(score * 10000) AS BIGINT) DESC,
      |               neighbor_id ASC) AS INTEGER) AS rank
      |  FROM pd)""".stripMargin
    sb.toString
  }

  /** Count-adaptive k as a LIMIT subquery — mirrors
    * [[graft.functions.Clustering.adaptiveK]] exactly (`least` /
    * `greatest` / integer-exact ceil over the same corpus count,
    * including the `maxK` cap).
    */
  private def adaptiveKSql(target: Int, minK: Int,
                           maxK: Int = 4096): String =
    s"(SELECT least($maxK, greatest($minK, " +
      s"CAST(ceil(count(*)::DOUBLE / $target) AS BIGINT))) FROM ev)"

  /** 1-in-mod training-sample modulus as a scalar subquery — mirrors
    * [[graft.functions.Clustering.trainSampleMod]] exactly (integer
    * floor division of the corpus count by the training budget).
    */
  private def sampleModSql(budget: Int): String =
    s"(SELECT greatest(1, count(*) // $budget) FROM ev)"

  /** Oracle for `sim_ivf_kmeans_topk`: learned-cell IVF — the shared
    * k-means CTEs supply the trained centroids (`cent<iters>`) and the
    * full-corpus assignment (`fin` = the inverted lists); queries probe
    * their nProbe nearest centroids and rank exactly within probed
    * cells, mirroring [[graft.functions.Similarity.ivfKmeansTopK]].
    */
  def simIvfKmeansTopK(nProbe: Int, k: Int, iters: Int = 3,
                       dim: Int = 64, targetClusterSize: Int = 256,
                       minK: Int = 8): String =
    s"""WITH ${kmeansCtes(adaptiveKSql(targetClusterSize, minK), iters, dim)},
       |qv AS (
       |  SELECT vec_id AS query_id, v FROM ev WHERE vec_id < 8),
       |probes AS (
       |  SELECT query_id, cell, v FROM (
       |    SELECT q.query_id, c.cluster AS cell, q.v,
       |      CAST(row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY list_cosine_similarity(q.v, c.centroid) DESC,
       |                 c.cluster ASC) AS INTEGER) AS pr
       |    FROM qv q CROSS JOIN cent$iters c)
       |  WHERE pr <= $nProbe),
       |scored AS (
       |  SELECT p.query_id, f.vec_id AS neighbor_id,
       |    list_cosine_similarity(p.v, e.v) AS score
       |  FROM fin f
       |  JOIN ev e ON e.vec_id = f.vec_id
       |  JOIN probes p ON f.cluster = p.cell
       |  WHERE f.vec_id <> p.query_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, score,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY score DESC, neighbor_id ASC) AS INTEGER) AS rank
       |  FROM scored)
       |SELECT query_id, rank, neighbor_id, ${roundSpark("score", 4)} AS score
       |FROM ranked WHERE rank <= $k""".stripMargin

  /** Oracle for `cluster_kmeans`: final Lloyd assignment with the
    * 4-decimal-rounded cosine to the winning centroid; cluster count
    * adapts to the corpus like the engine's.
    */
  def clusterKmeans(targetClusterSize: Int = 256, minK: Int = 8,
                    iters: Int = 3, dim: Int = 64): String =
    s"""WITH ${kmeansCtes(adaptiveKSql(targetClusterSize, minK), iters, dim)}
       |SELECT vec_id, cluster, ${roundSpark("sim", 4)} AS sim
       |FROM fin""".stripMargin

  /** Oracle for `dedup_semantic`: within-cluster pairs above `minCos`
    * (on the 4-decimal-rounded cosine), dropped = larger id; reports
    * the smallest witness and the witness count.
    */
  def dedupSemantic(targetClusterSize: Int = 256, minK: Int = 8,
                    iters: Int = 3, dim: Int = 64,
                    minCos: Double = 0.4): String =
    s"""WITH ${kmeansCtes(adaptiveKSql(targetClusterSize, minK), iters, dim)},
       |mem AS (SELECT f.vec_id, f.cluster, e.v
       |        FROM fin f JOIN ev e USING (vec_id)),
       |pr AS (
       |  SELECT a.cluster, a.vec_id AS id_a, b.vec_id AS id_b,
       |    ${roundSpark("list_cosine_similarity(a.v, b.v)", 4)} AS cos
       |  FROM mem a JOIN mem b
       |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id)
       |SELECT id_b AS vec_id, cluster, min(id_a) AS dup_of,
       |  count(*) AS n_witnesses
       |FROM pr WHERE cos >= $minCos GROUP BY 1, 2""".stripMargin

  /** Oracle for `profile_histogram`: identical one-division equi-width
    * binning (floor over the shared IEEE width, top edge folded into
    * the last bin), bin_lo recomputed per row then grouped.
    */
  def profileHistogram(nBins: Int = 20): String =
    s"""WITH mm AS (
       |  SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi
       |  FROM orders),
       |b AS (
       |  SELECT CAST(least(floor((o_totalprice - lo)
       |      / ((hi - lo) / $nBins.0)), ${nBins - 1}.0) AS INTEGER)
       |      AS bin,
       |    lo, (hi - lo) / $nBins.0 AS w
       |  FROM orders, mm)
       |SELECT bin, ${roundSpark("lo + bin * w", 4)} AS bin_lo,
       |  count(*) AS n
       |FROM b GROUP BY 1, 2""".stripMargin

  /** Oracle for `text_collocations`: bigram lift over exact integer
    * counts, one IEEE division, TOTAL-ordered top-k (lift desc, then
    * the pair) so the LIMIT boundary is deterministic on both engines.
    */
  def textCollocations(minCount: Long = 5, topK: Int = 50): String =
    s"""WITH d AS (
       |  SELECT regexp_split_to_array(lower(trim(text)), '\\s+') AS arr
       |  FROM documents WHERE length(trim(text)) > 0),
       |t AS (SELECT unnest(arr) AS w FROM d),
       |uni AS (SELECT w, count(*) AS cu FROM t GROUP BY 1),
       |bg AS (
       |  SELECT unnest(arr[1:len(arr) - 1]) AS w1,
       |    unnest(arr[2:len(arr)]) AS w2
       |  FROM d WHERE len(arr) > 1),
       |bc AS (SELECT w1, w2, count(*) AS cab FROM bg GROUP BY 1, 2),
       |tot AS (SELECT count(*) AS n FROM bg)
       |SELECT bc.w1, bc.w2, bc.cab,
       |  ${roundSpark("(bc.cab * tot.n)::DOUBLE / (ua.cu * ub.cu)::DOUBLE", 4)}
       |    AS lift
       |FROM bc
       |JOIN uni ua ON ua.w = bc.w1
       |JOIN uni ub ON ub.w = bc.w2
       |CROSS JOIN tot
       |WHERE bc.cab >= $minCount
       |ORDER BY lift DESC, bc.w1, bc.w2
       |LIMIT $topK""".stripMargin

  /** Oracle for `curate_dsir_sample`: DSIR importance weights from the
    * same token-xxhash bucket stream — add-one-smoothed bucket models
    * for the target slice vs the raw corpus, per-doc position-ordered
    * fold of the `ln` ratio terms (identical long counts → identical
    * IEEE doubles on both engines, same contract as `text_perplexity`),
    * top-quartile keep via `quantile_cont` over the rounded weights
    * (the `percentile` mirror established by `curate_quality_bins`).
    */
  def curateDsirSample(dim: Int = 4096,
                       targetLang: String = "en"): String =
    s"""WITH ${tokenHashCtes()},
       |tb AS MATERIALIZED (
       |  SELECT k.doc_id, k.i AS pos, (k.thu % $dim) AS b,
       |    (d.lang = '$targetLang') AS is_target
       |  FROM tokh k JOIN documents d USING (doc_id)),
       |tcn AS (SELECT b, count(*) AS ct FROM tb WHERE is_target
       |        GROUP BY 1),
       |rcn AS (SELECT b, count(*) AS cr FROM tb GROUP BY 1),
       |tot AS (SELECT sum(CASE WHEN is_target THEN 1 ELSE 0 END)::BIGINT
       |          AS nt, count(*)::BIGINT AS nr
       |        FROM tb),
       |terms AS (
       |  SELECT tb.doc_id, tb.pos,
       |    ln((coalesce(tcn.ct, 0) + 1.0)
       |        / CAST(tot.nt + $dim AS DOUBLE))
       |    - ln((rcn.cr + 1.0) / CAST(tot.nr + $dim AS DOUBLE)) AS lr
       |  FROM tb LEFT JOIN tcn USING (b) JOIN rcn USING (b)
       |    CROSS JOIN tot),
       |agg AS (
       |  SELECT doc_id,
       |    list_reduce(list(lr ORDER BY pos), (a, x) -> a + x) AS raw,
       |    count(*) AS n_tokens
       |  FROM terms GROUP BY 1),
       |w AS (
       |  SELECT doc_id, n_tokens,
       |    ${roundSpark("raw / n_tokens::DOUBLE", 4)} AS imp_weight
       |  FROM agg),
       |th AS (SELECT quantile_cont(imp_weight, 0.75) AS p75 FROM w)
       |SELECT doc_id, n_tokens, imp_weight, (imp_weight > p75) AS keep
       |FROM w, th""".stripMargin

  /** Oracle for `text_classifier_score`: per-token xxhash64 → low-bits
    * bucket (`dim` a power of two, so the HUGEINT mod equals the
    * engine's signed-long mask) → the query's derived integer weight
    * `((b·2654435761) mod 2001) − 1000`, summed exactly per document.
    * Blank docs (no tokh rows) left-join back as (0, 0, false).
    */
  def textClassifierScore(dim: Int = 4096): String = {
    require(dim >= 2 && (dim & (dim - 1)) == 0,
      s"dim must be a power of two: $dim")
    s"""WITH ${tokenHashCtes()},
       |ds AS (
       |  SELECT doc_id, count(*)::INT AS n_tokens,
       |    sum((((thu % $dim) * 2654435761) % 2001) - 1000)::BIGINT
       |      AS score
       |  FROM tokh GROUP BY doc_id)
       |SELECT d.doc_id, coalesce(ds.n_tokens, 0)::INT AS n_tokens,
       |  coalesce(ds.score, 0)::BIGINT AS score,
       |  (coalesce(ds.score, 0) > 0) AS keep
       |FROM documents d LEFT JOIN ds USING (doc_id)""".stripMargin
  }

  /** Oracle for `events_dtw_pairs`: replays the engine's full DTW DP
    * (exact Long |a−b| cost, min over up/left/diag) as a recursive CTE
    * that fills the dim×dim grid ONE cell per iteration in row-major
    * order, carrying the grid as a growing BIGINT list — recursion
    * materializes every step, so the 3-reference-per-cell recurrence
    * can't hit DuckDB's CTE-inlining explosion (pitfall the chained-
    * alias form would). Cell (i,j) lives at 1-based list position
    * i*dim+j+1; unavailable neighbors take a large sentinel that can
    * never win `least` (every cell after the first has ≥1 real
    * neighbor). Profiles and the top-N frame are MATERIALIZED (each
    * referenced twice by the pair self-join).
    */
  def eventsDtwPairs(dim: Int = 24, topN: Int = 8): String = {
    require(dim >= 2 && topN >= 2, s"need dim/topN >= 2: $dim/$topN")
    val lastK = dim * dim - 1
    val sent = "4611686018427387904" // 2^62: never wins least()
    s"""WITH RECURSIVE grid AS (
       |  SELECT e.user_id, x.h,
       |    sum(CASE WHEN extract(hour FROM e.ts) = x.h
       |        THEN 1 ELSE 0 END)::BIGINT AS cnt
       |  FROM events e
       |    CROSS JOIN (SELECT unnest(range($dim)) AS h) x
       |  GROUP BY e.user_id, x.h),
       |prof AS MATERIALIZED (
       |  SELECT user_id, sum(cnt)::BIGINT AS n_events,
       |    list(cnt ORDER BY h) AS prof
       |  FROM grid GROUP BY user_id),
       |top AS MATERIALIZED (
       |  SELECT user_id, prof FROM prof
       |  ORDER BY n_events DESC, user_id LIMIT $topN),
       |pairs AS MATERIALIZED (
       |  SELECT a.user_id AS user_a, b.user_id AS user_b,
       |    a.prof AS av, b.prof AS bv
       |  FROM top a JOIN top b ON a.user_id < b.user_id),
       |dp AS (
       |  SELECT user_a, user_b, av, bv, 0 AS k,
       |    [abs(av[1] - bv[1])] AS cells
       |  FROM pairs
       |  UNION ALL
       |  SELECT user_a, user_b, av, bv, k + 1,
       |    list_append(cells,
       |      abs(av[(k + 1) // $dim + 1] - bv[(k + 1) % $dim + 1]) +
       |      least(
       |        CASE WHEN (k + 1) // $dim > 0
       |          THEN cells[k - ${dim - 2}] ELSE $sent END,
       |        CASE WHEN (k + 1) % $dim > 0
       |          THEN cells[k + 1] ELSE $sent END,
       |        CASE WHEN (k + 1) // $dim > 0 AND (k + 1) % $dim > 0
       |          THEN cells[k - ${dim - 1}] ELSE $sent END))
       |  FROM dp WHERE k < $lastK)
       |SELECT user_a, user_b, cells[${lastK + 1}]::BIGINT AS dtw_cost
       |FROM dp WHERE k = $lastK""".stripMargin
  }
}
