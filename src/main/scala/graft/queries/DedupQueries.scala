package graft
package queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Clustering, Dedup, Graph, Similarity}
import graft.OracleSql.{embLshPairsCtes, eRatioE, estJaccardE4, idHashCtes,
  minhashCtes, shingleHashCtes, sig, tokenHashCtes}
import graft.queries.QueryKit._

/** Near-duplicate detection (exact, MinHash, SimHash, n-gram, embedding
  * LSH) and record linkage over the documents corpus.
  */
object DedupQueries {

  val defs: Seq[QueryDef] = Seq(
    QueryDef("dedup_exact", (s, dir) => {
      Dedup.exact(t(s, dir, "documents"), "doc_id", "text")
    },
      """SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
        |    AS fingerprint,
        |  min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents
        |GROUP BY 1""".stripMargin),

    QueryDef("dedup_minhash", nearDupPairs, {
      // Oracle for `dedup_minhash`: LSH candidates with signature-agreement
      // estimate >= 0.5.
      val est = estJaccardE4(NumHashes)
      s"""WITH ${nearDupCtes}
         |SELECT c.id_a, c.id_b, $est AS est_jaccard
         |FROM cand c JOIN sigv sa ON sa.doc_id = c.id_a
         |            JOIN sigv sb ON sb.doc_id = c.id_b
         |WHERE $est >= 0.5""".stripMargin
    }),

    locally {
      val (minSim, shingleN, hotThreshold) = (0.5, 3, 8.0)
      // the df-profile sampling the engine's profile pass defaults to
      val (sampleCutoff, sampleMod) =
        (Dedup.ProfileSampleCutoff, Dedup.ProfileSampleMod)
      QueryDef("dedup_auto_route", (s, dir) => {
        // the measured dedup-path dial as a first-class query
        // (VERDICT r9 #6): one cheap df-profile pre-pass (size-biased
        // mean shingle df — the expected bucket population a random
        // posting sees, the direct driver of prefix candidate mass)
        // routes the corpus to the exact prefix-filter path when buckets
        // are cold or the banded MinHash-LSH path when the vocabulary is
        // closed/dense and exact candidates would go quadratic (the r6
        // adversarial floor). The oracle recomputes the SAME statistic
        // in SQL and gates BOTH full path replays on it, so the routing
        // decision itself is hash-proven, per fixture, per path — the
        // driver gate exercises the prefix branch (sf0.01: load 2.1),
        // sf0.1 exercises the banded branch (load 10.7; threshold 8
        // justified from the measured decade tables in BENCH_NOTES).
        // The corpus-wide route is the per-source router over one
        // constant source: one block yields the same pairs, and its
        // load is the corpus-wide statistic.
        Dedup.similarityPairsAutoBySource(
            tsp(s, dir, "documents", "doc_id")
              .withColumn("__corpus", lit("corpus")),
            "doc_id", "text", "__corpus", minSim, shingleN, NumHashes,
            RowsPerBand, hotThreshold, sampleCutoff, sampleMod)
          .select("id_a", "id_b", "sim_ppm", "route")
      }, {
        // Oracle for `dedup_auto_route` (VERDICT r9 #6): recomputes the routing
        // statistic — the size-biased mean shingle df Σdf²/Σdf — in SQL and
        // gates BOTH full path replays on it (the banded the `dedup_minhash`
        // oracle chain where load ≥ threshold, the exact the
        // `dedup_prefix_filter` oracle chain where load < threshold;
        // prefix-side CTEs are p-prefixed to avoid colliding with the minhash
        // chain's names), so the hash compare proves the routing decision AND
        // the routed pair set per fixture.
        val minPpm = math.round(minSim * 1000000)
        val n = shingleN
        val est = estJaccardE4(NumHashes)
        s"""WITH ${nearDupCtes},
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
      })
    },

    locally {
      val (minSim, shingleN, hotThreshold) = (0.5, 3, 8.0)
      val (sampleCutoff, sampleMod) =
        (Dedup.ProfileSampleCutoff, Dedup.ProfileSampleMod)
      QueryDef("dedup_auto_route_mixed", (s, dir) => {
        // the dial's THIRD outcome (VERDICT r10 #7): per-SOURCE routing
        // for mixed corpora. The realistic crawl shape is a closed-vocab
        // core (templated/boilerplate sources) plus an open-vocab tail —
        // a single corpus-global dial mis-serves one half. Each source
        // is priced by ITS OWN size-biased mean-df statistic (ONE
        // sampled profile pass for all sources, per-source sampling
        // modulus), routed independently, and the union of the two path
        // runs is restricted to within-source pairs (per-shard dedup
        // semantics). The oracle recomputes the per-source dial AND both
        // path replays in SQL, so every source's routing decision and
        // routed pair set is hash-proven. SimilarityRouteSpec measures
        // the mixed fixture where this beats BOTH single-path choices.
        Dedup.similarityPairsAutoBySource(
          tsp(s, dir, "documents", "doc_id"), "doc_id", "text", "source",
          minSim, shingleN, NumHashes, RowsPerBand, hotThreshold,
          sampleCutoff, sampleMod)
      }, autoRouteBySourceOracle(minSim, shingleN, hotThreshold,
        sampleCutoff, sampleMod, "documents"))
    },

    locally {
      val (minSim, shingleN, hotThreshold) = (0.5, 3, 8.0)
      // the full df profile: the dial is closed-form at any fixture size
      val (sampleCutoff, sampleMod) = (1000000L, 16)
      QueryDef("dedup_auto_route_dual", (s, dir) => {
        // gate-visible dual-route fixture (ADVICE r11): the real-source
        // mixed query routes every sf0.01 source prefix, so the oracle
        // twin's banded/prefix UNION was only exercised by unit specs.
        // This corpus is derived IN-QUERY from documents so BOTH routes
        // emit pairs at every fixture: 'tpl' holds 16 identical docs per
        // doc_id-div-64 group (within-group shingle df 16 → hot → banded;
        // per-group vocabulary is unique, so candidate buckets stay
        // group-sized), 'o_pair' holds unique-vocabulary boundary pairs
        // at exact jaccard 20/36 (→ cold → prefix), and the remaining
        // docs keep their original text under 'o_'-prefixed sources
        // (cold → prefix). sampleCutoff forces the full df profile so
        // the dial is closed-form deterministic at any fixture size.
        val raw = tsp(s, dir, "documents", "doc_id")
        def words(mk: Column => Column) = array_join(
          transform(sequence(lit(0), lit(29)), mk), " ")
        val tpl = words(i => concat(lit("g"),
          expr("doc_id div 64").cast("string"), lit("w"),
          i.cast("string")))
        val pairBase = words(i => concat(lit("p"),
          expr("doc_id div 200").cast("string"), lit("u"),
          i.cast("string")))
        val pairPart = words(i => concat(lit("p"),
          expr("doc_id div 200").cast("string"),
          when(i < 22, lit("u")).otherwise(lit("v")), i.cast("string")))
        val docs2 = raw.select(col("doc_id"),
          when(col("doc_id") % 4 === 0, lit("tpl"))
            .when(col("doc_id") % 200 === 1 || col("doc_id") % 200 === 5,
              lit("o_pair"))
            .otherwise(concat(lit("o_"), col("source"))).as("source"),
          when(col("doc_id") % 4 === 0, tpl)
            .when(col("doc_id") % 200 === 1, pairBase)
            .when(col("doc_id") % 200 === 5, pairPart)
            .otherwise(col("text")).as("text"))
          // r14: the synthesized corpus (30-word concat per row) is read
          // by the profile pass AND both route replays — materialize the
          // derivation once instead of re-synthesizing it per pass
          // (lazy, r15: the dial's collect materializes it in-action)
          .localCheckpoint(false)
        Dedup.similarityPairsAutoBySource(docs2, "doc_id", "text",
          "source", minSim, shingleN, NumHashes, RowsPerBand, hotThreshold,
          sampleCutoff, sampleMod)
      }, {
        // Oracle for `dedup_auto_route_dual` (ADVICE r11): the per-source
        // dial and BOTH path replays of `autoRouteBySourceOracle`, run
        // over the synthetic dual-route corpus derived in-query from the
        // documents table — 'tpl' groups of 16 identical docs (hot →
        // banded), 'o_pair' unique-vocabulary boundary pairs at jaccard
        // 20/36 (cold → prefix), everything else original text under
        // 'o_'-prefixed sources. Mirrors the Spark-side derivation token
        // for token; sampleCutoff forces the full profile so the dial is
        // deterministic at any fixture size.
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
        autoRouteBySourceOracle(minSim, shingleN, hotThreshold, sampleCutoff,
          sampleMod, docsRel)
      })
    },

    locally {
      val (newMod, newFrom) = (10, 8) // docs with id % 10 >= 8 are new
      QueryDef("dedup_incremental", (s, dir) => {
        // daily-ingestion shape: docs with doc_id % 10 >= 8 are "today's
        // batch", the rest are history known only through a persisted
        // (doc_id, sig) fingerprint store — historical text never rescanned
        val docs = t(s, dir, "documents")
        val hist = Dedup.signatureStore(
          docs.filter(col("doc_id") % newMod < newFrom), "doc_id", "text",
          numHashes = NumHashes)
        val batch = Dedup.signatureStore(
          docs.filter(col("doc_id") % newMod >= newFrom), "doc_id", "text",
          numHashes = NumHashes)
        Dedup.incrementalCandidates(batch, hist, NumHashes, RowsPerBand)
      }, {
        // Oracle for `dedup_incremental`: same banding CTEs over ALL docs;
        // keep candidate pairs touching at least one "new" doc
        // (doc_id % 10 >= 8), drop hist-hist, orient so the reported doc is
        // always new (for a new-hist pair the new side, for new-new the
        // HIGHER id — lowest-id-kept convention), estimate from signature
        // agreement. k/numHashes estimates are exact in <= 4 decimals, so the
        // round is semantics-free on both sides.
        val est = estJaccardE4(NumHashes)
        val aNew = s"(c.id_a % $newMod >= $newFrom)"
        val bNew = s"(c.id_b % $newMod >= $newFrom)"
        s"""WITH ${nearDupCtes}
           |SELECT
           |  CASE WHEN $aNew AND NOT $bNew THEN c.id_a ELSE c.id_b END AS doc_id,
           |  CASE WHEN $aNew AND NOT $bNew THEN c.id_b ELSE c.id_a END AS dup_of,
           |  CASE WHEN $aNew <> $bNew THEN 'history' ELSE 'batch' END AS dup_source,
           |  $est AS est_jaccard
           |FROM cand c JOIN sigv sa ON sa.doc_id = c.id_a
           |            JOIN sigv sb ON sb.doc_id = c.id_b
           |WHERE ($aNew OR $bNew) AND $est >= 0.5""".stripMargin
      })
    },

    locally {
      val maxDist = 3
      QueryDef("dedup_simhash", (s, dir) => {
        Dedup.simHashPairs(t(s, dir, "documents"), "doc_id", "text", maxDist)
      }, {
        // Oracle for `dedup_simhash`: 64-bit SimHash from per-token-hash bit
        // tallies, then ALL pairs within Hamming distance 3 — equal to the
        // Spark side's quarter-blocked pair set by pigeonhole (distance <= 3
        // forces agreement on at least one of 4 16-bit quarters).
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
      })
    },

    QueryDef("dedup_components", (s, dir) => {
      // pairs → clusters: every doc in a near-dup cluster labeled with
      // the minimum reachable doc_id (keep rep_id == doc_id, drop rest)
      val pairs = nearDupPairs(s, dir)
      Graph.components(pairs, "id_a", "id_b")
    }, OracleSql.dedupComponents(NumHashes, RowsPerBand)),

    QueryDef("dedup_edit_distance", (s, dir) => {
      // title-key fuzzy matching: exact-prefix blocks bound the pair
      // space, Levenshtein over the 40-char leading span keeps dist<=4
      Dedup.editDistancePairs(t(s, dir, "documents"), "doc_id", "text",
        prefixLen = 8, titleLen = 40, maxDist = 4)
    },
      """WITH t AS (
        |  SELECT doc_id, substring(text, 1, 40) AS title,
        |         substring(text, 1, 8) AS blk
        |  FROM documents)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  levenshtein(a.title, b.title)::INT AS edit_dist
        |FROM t a JOIN t b ON a.blk = b.blk AND a.doc_id < b.doc_id
        |WHERE levenshtein(a.title, b.title) <= 4""".stripMargin),

    QueryDef("dedup_ngram_jaccard", (s, dir) => {
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
        shingleN = 3, minSim = 0.5)
    }, {
      // Oracle for `dedup_ngram_jaccard`: exact Jaccard over distinct
      // shingle-hash sets, restricted to the LSH candidate pairs.
      val jac = eRatioE("coalesce(i.ic, 0)",
        "za.sz + zb.sz - coalesce(i.ic, 0)", 10000L)
      s"""WITH ${nearDupCtes},
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
    }),

    QueryDef("dedup_ngram_blocked", (s, dir) => {
      // oracle-check variant over a FIXED doc slice: token-count blocking
      // goes quadratic within blocks, so the verifiable twin stays
      // constant-size across scale factors; ngramJaccardPairs (LSH
      // candidates) is the scale path
      Dedup.ngramJaccardBlocked(
        Tables.spread(t(s, dir, "documents")
          .filter(col("doc_id") < 1000), "doc_id"),
        "doc_id", "text", shingleN = 3, minSim = 0.3, blockWidth = 5)
    },
      s"""WITH s AS (
        |  SELECT doc_id,
        |    CAST(floor(len(regexp_split_to_array(lower(trim(text)), '\\s+'))
        |      / 5) AS BIGINT) AS block,
        |    list_distinct(list_transform(
        |      generate_series(1, greatest(1,
        |        len(regexp_split_to_array(lower(trim(text)), '\\s+')) - 2)),
        |      i -> array_to_string(list_slice(
        |        regexp_split_to_array(lower(trim(text)), '\\s+'),
        |        i, i + 2), ' '))) AS sh
        |  FROM documents WHERE doc_id < 1000)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  ${OracleSql.eRatioE("len(list_intersect(a.sh, b.sh))",
             "len(list_distinct(list_concat(a.sh, b.sh)))", 10000L)}
        |    AS jaccard
        |FROM s a JOIN s b ON a.block = b.block AND a.doc_id < b.doc_id
        |WHERE ${OracleSql.eRatioE("len(list_intersect(a.sh, b.sh))",
             "len(list_distinct(list_concat(a.sh, b.sh)))", 10000L)}
        |  >= 0.3""".stripMargin),

    locally {
      val (minSim, shingleN) = (0.5, 3)
      QueryDef("dedup_prefix_filter", (s, dir) => {
        // PPJoin prefix filtering: exact 3-gram-shingle Jaccard >= 0.5
        // pairs with ZERO false negatives — candidates only where two
        // docs share a rare-first prefix shingle, so the boilerplate head
        // of the shingle space never joins. The deterministic complement
        // to the MinHash/LSH recall family (same similarity, no misses).
        Dedup.prefixFilterPairs(tsp(s, dir, "documents", "doc_id"),
          "doc_id", "text", minSim, shingleN)
      }, {
        // Oracle for `dedup_prefix_filter`: the PPJoin pipeline replayed in
        // plain SQL — distinct tokens, df rollup, rare-first per-doc prefix
        // via row_number, prefix-token candidate join, exact intersection
        // count, integer jac_ppm gate. Mirrors
        // [[graft.functions.Dedup.prefixFilterPairs]].
        //
        // r14 (VERDICT r13 #3): the intersection count is computed as
        // `len(list_intersect)` over per-doc INTEGER token-id lists (a
        // dense token→id bijection keeps it exact) instead of the
        // cand × tk × tk re-join + group-by whose intermediate spilled
        // >77 GB at the 10× fixture — the list build is corpus-sized, the
        // per-pair intersection streams, and the oracle stays one
        // statement.
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
      })
    },

    QueryDef("dedup_repeated_spans", (s, dir) => {
      // substring-granularity exact dedup (Lee et al., ACL'22): every
      // 5-token window occurring in >= 2 DISTINCT docs, with document
      // reach and occurrence counts — catches the boilerplate
      // paragraph pasted into thousands of otherwise-unique pages that
      // whole-doc fingerprints miss. Map-only span fan-out, one
      // (span, doc) rollup with partial aggregation.
      Dedup.repeatedSpans(tsp(s, dir, "documents", "doc_id"), "doc_id",
        "text", spanTokens = 5, minDocs = 2)
    },
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+')
        |    AS a
        |  FROM documents),
        |sp AS (
        |  SELECT doc_id, unnest(
        |    CASE WHEN len(a) = 5 THEN [array_to_string(a, ' ')]
        |    ELSE [array_to_string(a[i+1:i+5], ' ')
        |          FOR i IN range(0, len(a) - 4)] END) AS span
        |  FROM toks WHERE len(a) >= 5)
        |SELECT span, count(DISTINCT doc_id)::BIGINT AS n_docs,
        |  count(*)::BIGINT AS n_occ, min(doc_id)::BIGINT AS first_doc
        |FROM sp GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2""".stripMargin),

    QueryDef("dedup_sorted_neighborhood", (s, dir) => {
      // Hernandez–Stolfo merge/purge (SIGMOD'95): the sort key must be
      // CONTENT-derived (the classic prescription) — metadata blocks
      // like (lang, source) miss twins whose labels differ. Key = first
      // token; within each key, length-sorted rank windows (w=5)
      // generate O(n·w) candidates, verified with exact distinct-
      // trigram Jaccard in integer ppm. At this fixture the window
      // catches 25/25 of the all-pairs >=0.3 truth set with ~2k
      // comparisons instead of 125k. The rank window is PARTITIONED by
      // the block key, never a corpus-global sort.
      Dedup.sortedNeighborhoodPairs(
        t(s, dir, "documents")
          .withColumn("snm_key",
            element_at(Dedup.tokens(col("text")), 1)),
        "doc_id", "text", blockCols = Seq("snm_key"), window = 5,
        shingleN = 3, minSim = 0.3)
    },
      """WITH d AS (
        |  SELECT doc_id, lang, source, text FROM documents
        |  WHERE length(trim(text)) > 0),
        |rk AS (
        |  SELECT doc_id,
        |    regexp_split_to_array(lower(trim(text)), '\s+')[1] AS snm_key,
        |    row_number() OVER (
        |      PARTITION BY regexp_split_to_array(lower(trim(text)),
        |        '\s+')[1]
        |      ORDER BY length(text) ASC, doc_id ASC) AS rnk
        |  FROM d),
        |cand AS MATERIALIZED (
        |  SELECT least(a.doc_id, b.doc_id) AS id_a,
        |    greatest(a.doc_id, b.doc_id) AS id_b
        |  FROM rk a JOIN rk b ON a.snm_key = b.snm_key
        |    AND b.rnk BETWEEN a.rnk + 1 AND a.rnk + 5),
        |tk AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+')
        |    AS a
        |  FROM d),
        |sh AS MATERIALIZED (
        |  SELECT DISTINCT doc_id, unnest(
        |    CASE WHEN len(a) <= 3 THEN [array_to_string(a, ' ')]
        |    ELSE [array_to_string(a[i+1:i+3], ' ')
        |          FOR i IN range(0, len(a) - 2)] END) AS token
        |  FROM tk),
        |sz AS MATERIALIZED (
        |  SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT c.id_a, c.id_b, count(*) AS ic
        |  FROM cand c
        |  JOIN sh x ON x.doc_id = c.id_a
        |  JOIN sh y ON y.doc_id = c.id_b AND y.token = x.token
        |  GROUP BY 1, 2)
        |SELECT c.id_a, c.id_b, coalesce(i.ic, 0)::BIGINT AS ic,
        |  ((coalesce(i.ic, 0)::BIGINT * 1000000)
        |    // (sa.sz + sb.sz - coalesce(i.ic, 0)))::BIGINT AS jac_ppm
        |FROM cand c
        |JOIN sz sa ON sa.doc_id = c.id_a
        |JOIN sz sb ON sb.doc_id = c.id_b
        |LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
        |WHERE (coalesce(i.ic, 0)::BIGINT * 1000000)
        |  // (sa.sz + sb.sz - coalesce(i.ic, 0)) >= 300000""".stripMargin),

    QueryDef("dedup_lsh_tuning", (s, dir) => {
      // LSH dial selection AS a query: expected recall of each
      // (rows-per-band, bands) MinHash config over the corpus's OWN
      // measured pair-similarity distribution — Σ 1−(1−s^r)^b across
      // exact-Jaccard candidate pairs (SNM at a low 0.1 gate supplies
      // the distribution without an all-pairs join). Powers are
      // explicit repeated squarings, so the doubles are identical
      // cross-engine; per-pair probabilities round to e6 BIGINTs
      // before the exact sum. The table answers "which banding do I
      // run at 100 TB for ~95% recall" from data, not folklore.
      val pairs = Dedup.sortedNeighborhoodPairs(
        t(s, dir, "documents")
          .withColumn("snm_key",
            element_at(Dedup.tokens(col("text")), 1)),
        "doc_id", "text", blockCols = Seq("snm_key"), window = 5,
        shingleN = 3, minSim = 0.02)
      val grid = {
        import s.implicits._
        Seq((2, 8), (4, 4), (8, 2), (2, 16), (4, 8)).toDF("r", "b")
      }
      pairs
        .withColumn("sim", col("jac_ppm").cast("double") / 1000000.0)
        .withColumn("p2", col("sim") * col("sim"))
        .withColumn("p4", col("p2") * col("p2"))
        .withColumn("p8", col("p4") * col("p4"))
        .crossJoin(broadcast(grid))
        .withColumn("sr", when(col("r") === 2, col("p2"))
          .when(col("r") === 4, col("p4")).otherwise(col("p8")))
        .withColumn("q", lit(1.0) - col("sr"))
        .withColumn("q2", col("q") * col("q"))
        .withColumn("q4", col("q2") * col("q2"))
        .withColumn("q8", col("q4") * col("q4"))
        .withColumn("q16", col("q8") * col("q8"))
        .withColumn("pdet", lit(1.0) - (when(col("b") === 2, col("q2"))
          .when(col("b") === 4, col("q4"))
          .when(col("b") === 8, col("q8")).otherwise(col("q16"))))
        .groupBy("r", "b")
        .agg(count(lit(1)).as("n_pairs"),
          sum(round(col("pdet") * 1000000.0, 0).cast("long"))
            .as("exp_detected_e6"))
    },
      """WITH d AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE length(trim(text)) > 0),
        |rk AS (
        |  SELECT doc_id,
        |    regexp_split_to_array(lower(trim(text)), '\s+')[1] AS snm_key,
        |    row_number() OVER (
        |      PARTITION BY regexp_split_to_array(lower(trim(text)),
        |        '\s+')[1]
        |      ORDER BY length(text) ASC, doc_id ASC) AS rnk
        |  FROM d),
        |cand AS MATERIALIZED (
        |  SELECT least(a.doc_id, b.doc_id) AS id_a,
        |    greatest(a.doc_id, b.doc_id) AS id_b
        |  FROM rk a JOIN rk b ON a.snm_key = b.snm_key
        |    AND b.rnk BETWEEN a.rnk + 1 AND a.rnk + 5),
        |tk AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+')
        |    AS a
        |  FROM d),
        |sh AS MATERIALIZED (
        |  SELECT DISTINCT doc_id, unnest(
        |    CASE WHEN len(a) <= 3 THEN [array_to_string(a, ' ')]
        |    ELSE [array_to_string(a[i+1:i+3], ' ')
        |          FOR i IN range(0, len(a) - 2)] END) AS token
        |  FROM tk),
        |sz AS MATERIALIZED (
        |  SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT c.id_a, c.id_b, count(*) AS ic
        |  FROM cand c
        |  JOIN sh x ON x.doc_id = c.id_a
        |  JOIN sh y ON y.doc_id = c.id_b AND y.token = x.token
        |  GROUP BY 1, 2),
        |pr AS (
        |  SELECT ((coalesce(i.ic, 0)::BIGINT * 1000000)
        |      // (sa.sz + sb.sz - coalesce(i.ic, 0)))::BIGINT AS jac_ppm
        |  FROM cand c
        |  JOIN sz sa ON sa.doc_id = c.id_a
        |  JOIN sz sb ON sb.doc_id = c.id_b
        |  LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
        |  WHERE (coalesce(i.ic, 0)::BIGINT * 1000000)
        |    // (sa.sz + sb.sz - coalesce(i.ic, 0)) >= 20000),
        |pw AS (
        |  SELECT jac_ppm::DOUBLE / 1000000.0 AS sim,
        |    (jac_ppm::DOUBLE / 1000000.0)
        |      * (jac_ppm::DOUBLE / 1000000.0) AS p2
        |  FROM pr),
        |pp AS (SELECT sim, p2, p2 * p2 AS p4, (p2 * p2) * (p2 * p2)
        |    AS p8 FROM pw),
        |g AS (SELECT * FROM (VALUES (2, 8), (4, 4), (8, 2), (2, 16),
        |    (4, 8)) t(r, b)),
        |e AS (
        |  SELECT g.r, g.b,
        |    1.0 - (CASE WHEN g.r = 2 THEN p.p2
        |           WHEN g.r = 4 THEN p.p4 ELSE p.p8 END) AS q
        |  FROM pp p CROSS JOIN g),
        |e2 AS (SELECT r, b, q, q * q AS q2 FROM e),
        |e4 AS (SELECT r, b, q, q2, q2 * q2 AS q4 FROM e2),
        |e8 AS (SELECT r, b, q, q2, q4, q4 * q4 AS q8 FROM e4),
        |e16 AS (SELECT r, b, q2, q4, q8, q8 * q8 AS q16 FROM e8)
        |SELECT r, b, count(*)::BIGINT AS n_pairs,
        |  sum(round((1.0 - (CASE WHEN b = 2 THEN q2
        |      WHEN b = 4 THEN q4 WHEN b = 8 THEN q8 ELSE q16 END))
        |    * 1000000.0)::BIGINT)::BIGINT AS exp_detected_e6
        |FROM e16 GROUP BY 1, 2""".stripMargin),

    QueryDef("link_fellegi_sunter", (s, dir) => {
      // Fellegi–Sunter record linkage (JASA 1969) against a
      // deterministically degraded twin of the customer table (name
      // truncated for custkey%5==0, segment case-mangled for %3==0,
      // balance shifted by custkey%7 cents): block on the perturbation-
      // invariant (nationkey, upper(segment)), score candidates by
      // summed integer log-odds of per-field agreement, keep decisive
      // pairs. Name agreement carries the discriminating weight (names
      // are unique), so the threshold admits true matches and the known
      // misses are exactly the doubly-degraded records. Balances
      // compare in exact integer cents — no float boundary anywhere.
      // Blocking refinement (round 8, after the full-surface 10× run
      // measured 100× pair growth in the 125 fixed (nation, segment)
      // blocks): a THIRD key on the name's last-3 characters — the
      // perturbation model truncates the PREFIX, so the tail is
      // match-invariant, and the decision threshold (1 600 000) is
      // reachable only with name agreement, so pairs pruned by the
      // tail key can never be decisive — the OUTPUT is provably
      // unchanged (the oracle keeps the 2-key join and still
      // hash-matches) while candidate mass drops from quadratic-in-
      // block to ~linear. This is standard ER practice: block on the
      // stable substring of the discriminating field.
      val c = t(s, dir, "customer")
      val L = c.select(col("c_custkey"), col("c_name"),
        col("c_mktsegment"),
        round(col("c_acctbal") * 100, 0).cast("long").as("c_cents"),
        col("c_nationkey").as("blk_nat"),
        upper(col("c_mktsegment")).as("blk_seg"),
        expr("right(c_name, 3)").as("blk_tail"))
      val R = c.select(
        col("c_custkey").as("p_custkey"),
        when(pmod(col("c_custkey"), lit(5)) === 0,
          regexp_replace(col("c_name"), "^Customer", "Cust"))
          .otherwise(col("c_name")).as("p_name"),
        when(pmod(col("c_custkey"), lit(3)) === 0, lower(col("c_mktsegment")))
          .otherwise(col("c_mktsegment")).as("p_mktsegment"),
        (round(col("c_acctbal") * 100, 0).cast("long") +
          pmod(col("c_custkey"), lit(7))).as("p_cents"),
        col("c_nationkey").as("blk_nat"))
        .withColumn("blk_seg", upper(col("p_mktsegment")))
        .withColumn("blk_tail", expr("right(p_name, 3)"))
      L.join(R, Seq("blk_nat", "blk_seg", "blk_tail"))
        .withColumn("name_a",
          (col("c_name") === col("p_name")).cast("int"))
        .withColumn("seg_a",
          (col("c_mktsegment") === col("p_mktsegment")).cast("int"))
        .withColumn("bal_a",
          (abs(col("c_cents") - col("p_cents")) <= 2).cast("int"))
        .withColumn("score_ppm", expr(
          "name_a*2400000 - (1-name_a)*800000 + seg_a*1200000 - " +
            "(1-seg_a)*600000 + bal_a*1000000 - (1-bal_a)*500000")
          .cast("long"))
        .filter(col("score_ppm") >= 1600000)
        .select(col("c_custkey"), col("p_custkey"), col("name_a"),
          col("seg_a"), col("bal_a"), col("score_ppm"),
          (col("c_custkey") === col("p_custkey")).cast("int")
            .as("is_true"))
    },
      """WITH pert AS (
        |  SELECT c_custkey AS p_custkey,
        |    CASE WHEN c_custkey % 5 = 0
        |      THEN regexp_replace(c_name, '^Customer', 'Cust')
        |      ELSE c_name END AS p_name,
        |    c_nationkey AS p_nationkey,
        |    CASE WHEN c_custkey % 3 = 0 THEN lower(c_mktsegment)
        |      ELSE c_mktsegment END AS p_mktsegment,
        |    round(c_acctbal * 100)::BIGINT + (c_custkey % 7) AS p_cents
        |  FROM customer),
        |sc AS (
        |  SELECT c.c_custkey, p.p_custkey,
        |    (c.c_name = p.p_name)::INT AS name_a,
        |    (c.c_mktsegment = p.p_mktsegment)::INT AS seg_a,
        |    (abs(round(c.c_acctbal * 100)::BIGINT - p.p_cents) <= 2)::INT
        |      AS bal_a
        |  FROM customer c JOIN pert p ON c.c_nationkey = p.p_nationkey
        |    AND upper(c.c_mktsegment) = upper(p.p_mktsegment))
        |SELECT c_custkey, p_custkey, name_a, seg_a, bal_a,
        |  (name_a*2400000 - (1-name_a)*800000 + seg_a*1200000
        |    - (1-seg_a)*600000 + bal_a*1000000
        |    - (1-bal_a)*500000)::BIGINT AS score_ppm,
        |  (c_custkey = p_custkey)::INT AS is_true
        |FROM sc
        |WHERE name_a*2400000 - (1-name_a)*800000 + seg_a*1200000
        |  - (1-seg_a)*600000 + bal_a*1000000 - (1-bal_a)*500000
        |  >= 1600000""".stripMargin),

    locally {
      val minCont = 0.5
      QueryDef("dedup_containment", (s, dir) => {
        // near-subset screen: containment of the smaller shingle set in
        // the larger, exact, over MinHash-LSH candidates — catches
        // quote/excerpt copies that symmetric Jaccard under-scores
        Dedup.containmentPairs(t(s, dir, "documents"), "doc_id", "text",
          shingleN = 3, minCont, NumHashes, RowsPerBand)
      },
        // Oracle for `dedup_containment`: MinHash-LSH candidate pairs (same
        // CTEs as the `dedup_minhash` oracle), exact containment of the smaller
        // distinct-shingle-hash set in the larger —
        // `|A∩B| / min(|A|,|B|)` — computed over the `shash` hash domain the
        // engine's [[graft.expressions.SortedArrayOverlap]] merges.
        s"""WITH ${nearDupCtes},
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
           |WHERE containment >= $minCont""".stripMargin)
    },

    QueryDef("dedup_chain_overlap", (s, dir) => {
      // split/concatenation detection: doc A's LAST three tokens equal
      // doc B's FIRST three — the boundary signature of one document
      // sliced into shards (or shards re-glued), which symmetric
      // whole-doc similarity misses entirely. One equi-join on the
      // short boundary phrase (at 100 TB you'd join on xxhash64 of the
      // phrase; the string key keeps the oracle trivially mirrorable);
      // docs under 6 tokens are excluded so head and tail can't overlap.
      val tk = t(s, dir, "documents")
        .select(col("doc_id"), Dedup.tokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= 6)
        .select(col("doc_id"),
          concat_ws(" ", slice(col("toks"), 1, 3)).as("head_key"),
          concat_ws(" ", slice(col("toks"), -3, 3)).as("tail_key"))
      tk.select(col("doc_id").as("id_a"), col("tail_key"))
        .join(tk.select(col("doc_id").as("id_b"),
          col("head_key").as("tail_key")), Seq("tail_key"))
        .filter(col("id_a") =!= col("id_b"))
        .select(col("id_a"), col("id_b"), col("tail_key").as("boundary"))
    },
      """WITH tk AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
        |         ELSE regexp_split_to_array(lower(trim(text)), '\s+')
        |    END AS toks
        |  FROM documents),
        |ft AS (
        |  SELECT doc_id,
        |    array_to_string(toks[1:3], ' ') AS head_key,
        |    array_to_string(toks[-3:], ' ') AS tail_key
        |  FROM tk WHERE len(toks) >= 6)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  a.tail_key AS boundary
        |FROM ft a JOIN ft b
        |  ON a.tail_key = b.head_key AND a.doc_id <> b.doc_id""".stripMargin),

    QueryDef("dedup_cdc_shared", (s, dir) => {
      // cross-document shared-chunk ratio over CONTENT-DEFINED chunks —
      // the shift-robust upgrade of text_boilerplate's fixed stride: a
      // prefix edit no longer hides downstream shared chunks. Narrow
      // fingerprint-keyed aggregation over the chunk frame.
      val chunks = Dedup.cdcChunks(t(s, dir, "documents"), "doc_id",
        "text", maskBits = 4).select("doc_id", "fingerprint")
      val sh = chunks.groupBy("fingerprint")
        .agg(countDistinct("doc_id").as("nd"))
      chunks.join(sh, Seq("fingerprint"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_shared"))
        .select(col("doc_id"), col("n_chunks"), col("n_shared"),
          // exact 4-dp grid (r13 determinism ledger)
          (expr("cast((2 * n_shared * 10000 + n_chunks) div" +
            " (2 * n_chunks) as double)") / 10000.0).as("shared_ratio"))
    },
      s"""WITH c AS (${OracleSql.textCdcChunks(maskBits = 4)}),
         |sh AS (
         |  SELECT fingerprint, count(DISTINCT doc_id) AS nd
         |  FROM c GROUP BY 1),
         |a AS (
         |  SELECT c.doc_id, count(*) AS n_chunks,
         |    sum(CASE WHEN sh.nd >= 2 THEN 1 ELSE 0 END)::BIGINT
         |      AS n_shared
         |  FROM c JOIN sh USING (fingerprint) GROUP BY 1)
         |SELECT doc_id, n_chunks, n_shared,
         |  ((2 * n_shared * 10000 + n_chunks) // (2 * n_chunks))
         |    ::DOUBLE / 10000.0 AS shared_ratio
         |FROM a""".stripMargin),

    QueryDef("dedup_embedding", (s, dir) => {
      Similarity.embeddingNearDups(t(s, dir, "embeddings"),
        "vec_id", "embedding", minCos = 0.4, maxId = 1000)
    },
      """WITH e AS (SELECT vec_id AS id, embedding AS v FROM embeddings
        |           WHERE vec_id < 1000)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  round(list_cosine_similarity(a.v::DOUBLE[], b.v::DOUBLE[]), 4)
        |    AS cos
        |FROM e a JOIN e b ON a.id < b.id
        |WHERE round(list_cosine_similarity(a.v::DOUBLE[], b.v::DOUBLE[]), 4)
        |      >= 0.4""".stripMargin),

    locally {
      val (minCos, dim, targetBucket, nTables, minBits, maxBits, seed) =
        (0.4, 64, 128, 8, 4, 16, 42L)
      QueryDef("dedup_embedding_lsh", (s, dir) => {
        // the SCALE path for embedding near-dup: candidates bounded by
        // multi-table hyperplane buckets, exact cosine refine — no bounded
        // id slice, no cross join. Bucket resolution adapts to the corpus
        // count (fixed nBits measured 108x slower at a 10x corpus —
        // BENCH_NOTES round 4); the oracle replicates the same integer
        // bits rule and masks nested max-resolution signatures.
        Similarity.embeddingNearDupsLshAuto(t(s, dir, "embeddings"),
          "vec_id", "embedding", minCos, dim, targetBucket, nTables, minBits,
          maxBits, seed)
      }, {
        // Oracle for `dedup_embedding_lsh` (count-adaptive resolution): the
        // engine picks `bits = min b in [minBits, maxBits] :
        // targetBucket * 2^b >= count(*)` ([[Similarity.adaptiveBits]], pure
        // integer arithmetic so SQL can replicate it exactly) and buckets on
        // the first `bits` planes per table. Because the plane family is
        // resolution-NESTED (per-(table, plane) seeding —
        // [[Similarity.hyperplanes]]), this oracle computes each table's
        // signature once at `maxBits` and masks to the low `bits` bits: the
        // masked value IS the `bits`-plane signature. Candidate shape mirrors
        // the engine — per-table banded rows, equality bucket join, DISTINCT
        // pairs, exact cosine refine. The round goes through VARCHAR→DECIMAL
        // to reproduce Spark's shortest-decimal HALF_UP semantics.
        s"""WITH ${embLshPairsCtes(nTables, targetBucket, minBits,
            maxBits, dim, seed)}
           |SELECT id_a, id_b, cos FROM pairs WHERE cos >= $minCos""".stripMargin
      })
    },

    locally {
      import MutualKnn._
      QueryDef("dedup_mutual_knn", (s, dir) => {
        // reciprocal-nearest-neighbor filter over the LSH candidate
        // graph: per vertex only the top-3 neighbors by exact cosine
        // survive, and a pair is kept iff EACH endpoint ranks the other
        // in its own top-3 — strips the asymmetric hub links that glue
        // unrelated clusters through a popular center (SemDeDup-style
        // pipelines apply exactly this before component-finding). Scale
        // shape: the window runs on the banded candidate-pair frame
        // (bounded buckets), never the corpus; mutuality is a self-join
        // of the top-k frame on the reversed key.
        mutualKnnPairs(s, dir)
      },
        // Oracle for `dedup_mutual_knn`: the same LSH candidate pairs
        // thresholded at `minCos`, symmetrized; per vertex the neighbors
        // rank by (cos DESC, id ASC) and only the top `k` survive; a pair
        // is MUTUAL iff each endpoint ranks the other within its own top-k
        // — the reciprocal-nearest-neighbor filter that strips asymmetric
        // hub links from a near-dup graph before clustering.
        s"""WITH ${embLshPairsCtes(nTables, targetBucket, minBits,
            maxBits, dim, seed)},
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
           |WHERE x.a < x.b""".stripMargin)
    },

    locally {
      val (iters, minCos, targetClusterSize, minK) = (3, 0.4, 256, 8)
      QueryDef("dedup_semantic", (s, dir) => {
        // SemDeDup-style semantic pruning: near-dup pairs only form
        // WITHIN a k-means cluster — the cluster partition bounds the
        // candidate set (count-adaptive k keeps per-cluster membership
        // ~constant as the corpus grows; no O(n^2) cross join)
        Clustering.semanticDedupAdaptive(t(s, dir, "embeddings"),
          "vec_id", "embedding", iters, minCos, targetClusterSize, minK)
      }, OracleSql.dedupSemantic(targetClusterSize, minK, iters,
        dim = EmbeddingDim, minCos))
    },

    QueryDef("link_jaro_winkler", (s, dir) => {
      // fuzzy record-linkage scoring with the native [[JaroWinkler]]
      // expression (codegen'd; bit-exact twin of DuckDB's builtin):
      // nation-blocked customer-name self-join, pairs scored in ppm,
      // kept above 0.955 — the transposition-tolerant name matcher
      // that complements link_fellegi_sunter's field-agreement
      // log-odds. The bounded-key filter caps the demo pair frame; at
      // 100 TB the candidate generation is the existing blocked /
      // sorted-neighborhood / LSH machinery, and THIS expression is
      // the scorer that runs inside whole-stage codegen on each
      // surviving pair.
      import graft.expressions.JaroWinklerCol.jaro_winkler
      val c = t(s, dir, "customer")
        .filter(col("c_custkey") < 500)
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
      val jw = jaro_winkler(col("a.c_name"), col("b.c_name"))
      c.as("a").join(c.as("b"),
          col("a.c_nationkey") === col("b.c_nationkey") &&
            col("a.c_custkey") < col("b.c_custkey"))
        .filter(jw > 0.955)
        .select(col("a.c_custkey").as("id_a"),
          col("b.c_custkey").as("id_b"),
          round(jw * 1000000, 0).cast("long").as("jw_ppm"))
    },
      """WITH c AS (
        |  SELECT c_custkey, c_name, c_nationkey FROM customer
        |  WHERE c_custkey < 500)
        |SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
        |  CAST(round(jaro_winkler_similarity(a.c_name, b.c_name)
        |    * 1000000, 0) AS BIGINT) AS jw_ppm
        |FROM c a JOIN c b
        |  ON a.c_nationkey = b.c_nationkey
        |  AND a.c_custkey < b.c_custkey
        |WHERE jaro_winkler_similarity(a.c_name, b.c_name) > 0.955""".stripMargin),

    QueryDef("link_survivorship", (s, dir) => {
      // golden-record construction — the stage AFTER matching in an
      // entity-resolution pipeline (Fellegi–Sunter/Jaro–Winkler score
      // pairs; THIS op merges each matched cluster into one surviving
      // record under explicit per-attribute rules): name by the
      // completeness rule (longest, tie → lexicographic min), balance
      // by the max rule, segment by deterministic mode (most frequent,
      // tie → lexicographic min). Pipeline: nation-blocked JW pairs →
      // min-label connected components → two narrow per-cluster
      // rollups + a per-cluster top-1 window (partitioned — no global
      // sort). At 100 TB the candidate stage is the existing blocked/
      // sorted-neighborhood/LSH machinery; components converge in
      // O(cluster diameter) checkpointed rounds; survivorship itself
      // is cluster-local.
      import graft.expressions.JaroWinklerCol.jaro_winkler
      val c = t(s, dir, "customer")
        .filter(col("c_custkey") < 500)
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
          floor(col("c_acctbal") * 100).cast("long").as("bal_cents"),
          col("c_mktsegment"))
      val jw = jaro_winkler(col("a.c_name"), col("b.c_name"))
      val pairs = c.as("a").join(c.as("b"),
          col("a.c_nationkey") === col("b.c_nationkey") &&
            col("a.c_custkey") < col("b.c_custkey"))
        .filter(jw > 0.955)
        .select(col("a.c_custkey").as("u"), col("b.c_custkey").as("v"))
      // materialize the member frame ONCE: three rollups (canonical
      // name, segment mode, count/max) read it, and an uncut plan
      // would re-run the match join + component join per rollup
      val members = Graph.components(pairs, "u", "v")
        .withColumnRenamed("rep_id", "rep")
        .join(c, col("doc_id") === col("c_custkey"))
        .localCheckpoint(true)
      val canon = members.withColumn("rn", row_number().over(
          Window.partitionBy("rep")
            .orderBy(length(col("c_name")).desc, col("c_name"))))
        .filter(col("rn") === 1)
        .select(col("rep"), col("c_name").as("canonical_name"))
      val segMode = members
        .groupBy(col("rep"), col("c_mktsegment"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("rep")
            .orderBy(col("cnt").desc, col("c_mktsegment"))))
        .filter(col("rn") === 1)
        .select(col("rep"), col("c_mktsegment").as("seg_mode"))
      members.groupBy("rep")
        .agg(count(lit(1)).as("n_members"),
          max("bal_cents").as("max_bal_cents"))
        .join(canon, "rep").join(segMode, "rep")
        .select(col("rep").as("cluster_key"), col("n_members"),
          col("canonical_name"), col("max_bal_cents"), col("seg_mode"))
    },
      // min-label closure over the symmetric JW match graph (recursive
      // UNION dedups each round → terminates at the component diameter);
      // survivorship rules replayed verbatim: longest-name/lex-min,
      // max balance, deterministic mode. DuckDB's builtin JW is the
      // proven bit-exact twin of the native expression.
      """WITH RECURSIVE c AS MATERIALIZED (
        |  SELECT c_custkey, c_name, c_nationkey,
        |    CAST(floor(c_acctbal * 100) AS BIGINT) AS bal_cents,
        |    c_mktsegment
        |  FROM customer WHERE c_custkey < 500),
        |pairs AS MATERIALIZED (
        |  SELECT a.c_custkey AS u, b.c_custkey AS v
        |  FROM c a JOIN c b ON a.c_nationkey = b.c_nationkey
        |    AND a.c_custkey < b.c_custkey
        |  WHERE jaro_winkler_similarity(a.c_name, b.c_name) > 0.955),
        |edges AS MATERIALIZED (
        |  SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
        |reach AS (
        |  SELECT u AS n, v AS r FROM edges
        |  UNION
        |  SELECT e.u AS n, r.r FROM edges e JOIN reach r ON e.v = r.n),
        |comp AS MATERIALIZED (
        |  SELECT n AS id, least(n, min(r)) AS rep FROM reach GROUP BY n),
        |m AS MATERIALIZED (
        |  SELECT comp.rep, c.* FROM comp JOIN c ON c.c_custkey = comp.id),
        |canon AS (
        |  SELECT rep, c_name AS canonical_name FROM (
        |    SELECT rep, c_name, row_number() OVER (PARTITION BY rep
        |      ORDER BY length(c_name) DESC, c_name) AS rn FROM m)
        |  WHERE rn = 1),
        |segmode AS (
        |  SELECT rep, c_mktsegment AS seg_mode FROM (
        |    SELECT rep, c_mktsegment, row_number() OVER (
        |        PARTITION BY rep
        |        ORDER BY count(*) DESC, c_mktsegment) AS rn
        |    FROM m GROUP BY rep, c_mktsegment)
        |  WHERE rn = 1),
        |agg AS (
        |  SELECT rep, count(*)::BIGINT AS n_members,
        |    max(bal_cents)::BIGINT AS max_bal_cents
        |  FROM m GROUP BY rep)
        |SELECT agg.rep AS cluster_key, agg.n_members,
        |  canon.canonical_name, agg.max_bal_cents, segmode.seg_mode
        |FROM agg JOIN canon USING (rep) JOIN segmode USING (rep)""".stripMargin)
  )

  /** Oracle for `dedup_auto_route_mixed` and `dedup_auto_route_dual`
    * (VERDICT r10 #7): the per-SOURCE routing dial — size-biased mean
    * shingle df recomputed per source with a per-source sampling
    * modulus — gating BOTH full path replays per source, restricted to
    * within-source pairs. The banded/prefix chains run over the full
    * corpus (signatures are per-doc and the prefix filter is lossless
    * under any global df order, so the full-corpus candidate superset
    * restricted to same-source routed pairs equals the engine's
    * subset-union runs).
    */
  private def autoRouteBySourceOracle(minSim: Double, shingleN: Int,
      hotThreshold: Double, sampleCutoff: Long, sampleMod: Int,
      docsRel: String): String = {
    val minPpm = math.round(minSim * 1000000)
    val n = shingleN
    val est = estJaccardE4(NumHashes)
    s"""WITH ${tokenHashCtes(docsRel)},
       |${shingleHashCtes()},
       |${minhashCtes(NumHashes, RowsPerBand)},
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
}
