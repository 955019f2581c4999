package graft

import graft.expressions.TextHashImpl
import graft.functions.Similarity

/** The DuckDB oracle SQL that more than one query shares: the xxHash64
  * emulation, the CTE builders (token/shingle hashes, MinHash bands,
  * near-dup edges and components, BM25, k-means, PQ, id hashes), the
  * oracles that queries of different families call, and the determinant
  * texts of the rank-4 ALS query. Each query's own oracle sits beside its
  * builder in its `graft.queries` family object; these pieces exist
  * because the Spark side rests on 64-bit hashing (MinHash / SimHash /
  * shingle hashes) or seeded random projections (hyperplane LSH), none of
  * which DuckDB has natively.
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

  private[graft] val M = BigInt("18446744073709551616")  // 2^64
  private val H = BigInt("9223372036854775808")   // 2^63
  private val B32 = BigInt("4294967296")          // 2^32
  private[graft] def u(l: Long): String = java.lang.Long.toUnsignedString(l)
  private val P1 = u(0x9E3779B185EBCA87L)
  private val P2 = u(0xC2B2AE3D27D4EB4FL)
  private val P3 = u(0x165667B19E3779F9L)
  private val P4 = u(0x85EBCA77C2B2AE63L)
  private val P5 = u(0x27D4EB2F165667C5L)

  // ---------- 64-bit-wrapping SQL fragments (operands: u64 HUGEINTs) ----------

  /** u64 → signed i64 (two's complement reinterpretation). */
  private[graft] def sig(x: String): String =
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
  private[graft] def roundSpark(e: String, n: Int): String =
    s"round(CAST(CAST(($e) AS VARCHAR) AS DECIMAL(38,20)), $n)::DOUBLE"

  /** Chained-CTE builder: each added column is its own projection level. */
  private[graft] final class Chain(prefix: String, base: String) {
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
  private[graft] def hashLong(ch: Chain, l: String, seed: String,
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
  private[graft] def tokenHashCtes(docsRel: String = "documents"): String = {
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
  private[graft] def shingleHashCtes(shingleN: Int = 3): String = {
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
  private[graft] def minhashCtes(numHashes: Int, rowsPerBand: Int): String = {
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
  private[graft] def estJaccardE4(numHashes: Int): String =
    s"(CAST((2 * len(list_filter(range(1, ${numHashes + 1}), i -> sa.sg[i] = sb.sg[i])) * 10000 + $numHashes) // (2 * $numHashes) AS DOUBLE) / 10000.0)"

  /** Exact-grid ratio of two non-negative exact ints a/b at 10^-s —
    * DuckDB twin of `graft.functions.ExactGrid.eRatio` (integer
    * half-up, one exact division, no round(DOUBLE, n) tail).
    */
  private[graft] def eRatioE(a: String, b: String, scale: Long): String =
    s"(CAST((2 * ($a) * $scale + ($b)) // (2 * ($b)) AS DOUBLE) / $scale.0)"

  /** Oracle for `text_cdc_chunks`: the same token-hash chain (`tokh`),
    * boundary rule `thu % 2^maskBits == 0` (u64 low bits == the
    * engine's two's-complement bitwise-AND), prefix-sum chunk index,
    * and md5 over the 1-based token slice.
    */
  def textCdcChunks(maskBits: Int): String = {
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

  /** Shared CTE body of the `bm25_topk`, `hybrid_retrieval_rrf` and
    * `retrieval_metrics` oracles: tokenization, tf/df/len, the
    * query-term VALUES table, per-(query, doc) scores, and the `rk`
    * ranking.
    */
  private[graft] def bm25Ctes(queries: Seq[(Int, String)],
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

  /** Filtered near-dup candidate pairs (signature estimate >= 0.5) and
    * their symmetric edge/vertex closure: fcand/edges/verts. Shared by
    * the components and PageRank oracles.
    */
  private[graft] def edgeCtes(numHashes: Int): String = {
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

  /** MinHash candidates (est >= 0.5) closed into connected components by
    * a recursive CTE: comp(doc_id, rep_id). Emitted after the
    * token/shingle/minhash CTEs.
    */
  private[graft] def componentCtes(numHashes: Int): String =
    s"""${edgeCtes(numHashes)},
       |reach(id, r) AS (
       |  SELECT id, id FROM verts
       |  UNION
       |  SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r),
       |comp AS (SELECT id AS doc_id, min(r) AS rep_id FROM reach GROUP BY id)""".stripMargin

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

  /** Oracle for `dedup_components`: the same MinHash candidate pairs
    * (est >= 0.5), closed into connected components by a recursive CTE —
    * every vertex labeled with the minimum reachable id.
    */
  def dedupComponents(numHashes: Int, rowsPerBand: Int): String =
    s"""WITH RECURSIVE ${tokenHashCtes()},
       |${shingleHashCtes()},
       |${minhashCtes(numHashes, rowsPerBand)},
       |${componentCtes(numHashes)}
       |SELECT doc_id, rep_id FROM comp""".stripMargin

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

  /** xxhash64(doc_id) for every document as chained CTEs:
    * hashed(doc_id, hv) with hv signed — the sampling gate's hash.
    */
  private[graft] def idHashCtes(table: String = "documents",
                         idCol: String = "doc_id"): String = {
    val unsId = s"(CASE WHEN $idCol < 0 THEN $idCol::HUGEINT + $M " +
      s"ELSE $idCol::HUGEINT END)"
    val ch = new Chain("ih",
      s"SELECT $idCol, $unsId AS idu FROM $table")
    val h = hashLong(ch, "idu", "42::HUGEINT", "g")
    ch.add("hv", sig(h))
    ch.render + s",\nhashed AS (SELECT $idCol, hv FROM ${ch.last})"
  }

  /** Shared CTE body (through `pairs`: id_a < id_b, exact 4-dp cosine)
    * for the LSH-banded embedding candidate queries.
    */
  private[graft] def embLshPairsCtes(nTables: Int, targetBucket: Int,
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
  private[graft] def kmeansCtes(kSql: String, iters: Int, dim: Int,
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

  /** Shared CTE body for the PQ oracles, ending at `rk` (ADC-ranked
    * candidates) with `ev`/`qv` available for exact reranks. Codebook
    * training (seeds + Lloyd rounds) draws from the 1-in-mod systematic
    * sample `tv`; encoding covers the full corpus — mirroring
    * [[graft.functions.ProductQuantization.trainCodebooks]]'s
    * sample-gated default build.
    */
  private[graft] def pqCtes(m: Int, k: Int, iters: Int, dim: Int,
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
  private[graft] def adaptiveKSql(target: Int, minK: Int,
                           maxK: Int = 4096): String =
    s"(SELECT least($maxK, greatest($minK, " +
      s"CAST(ceil(count(*)::DOUBLE / $target) AS BIGINT))) FROM ev)"

  /** 1-in-mod training-sample modulus as a scalar subquery — mirrors
    * [[graft.functions.Clustering.trainSampleMod]] exactly (integer
    * floor division of the corpus count by the training budget).
    */
  private[graft] def sampleModSql(budget: Int): String =
    s"(SELECT greatest(1, count(*) // $budget) FROM ev)"

  /** Oracle for `dedup_semantic`: within-cluster pairs above `minCos`
    * (on the 4-decimal-rounded cosine), dropped = larger id; reports
    * the smallest witness and the witness count.
    */
  def dedupSemantic(targetClusterSize: Int, minK: Int, iters: Int, dim: Int,
      minCos: Double): String =
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

}
