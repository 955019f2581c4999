package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Dedup, ExactGrid, LanguageModel, Retrieval,
  TextFunctions}
import graft.expressions.UnicodeNormalizeCol
import graft.OracleSql.{bm25Ctes, eRatioE, roundSpark, shingleHashCtes,
  tokenHashCtes}
import graft.queries.QueryKit._

/** Text analysis for LLM data: normalization, quality signals, language
  * ID, tokenizers, n-gram models, decontamination and BM25 retrieval.
  */
object TextQueries {

  /** Stopword list for the Gopher-style quality rules — shared literal
    * set between the `text_gopher_rules` engine query and its oracle.
    */
  private val GopherStopwords: Seq[String] =
    Seq("the", "a", "and", "of", "to", "in", "is", "that")

  /** Fixed keyword queries for the BM25 retrieval surface (terms drawn
    * from the synthetic corpus vocabulary; shared by the Spark query
    * and the generated oracle).
    */
  private val Bm25Queries: Seq[(Int, String)] = Seq(
    1 -> "join hash table",
    2 -> "stream window agg",
    3 -> "customer order line")

  val defs: Seq[QueryDef] = Seq(
    QueryDef("corpus_kl_drift", (s, dir) => {
      // per-source token-distribution divergence: t_s-weighted
      // KL(source ‖ corpus) in micronats — the information-theoretic
      // "did this source's crawl silently change" monitor
      // (events_drift is L1 over event types; this is the text-modality
      // twin). Counts stay exact integers end-to-end; the only float is
      // one ln() per (source, token) over identical integer ratios in
      // both engines, scaled+rounded to BIGINT BEFORE the sum — no
      // order-dependent double accumulation. Narrow (source, token)
      // rollups; the source totals broadcast.
      val tok = t(s, dir, "documents")
        .filter(length(trim(col("text"))) > 0)
        .select(col("source"),
          explode(Dedup.tokens(col("text"))).as("token"))
      val sc = tok.groupBy("source", "token")
        .agg(count(lit(1)).as("c_s"))
        // three consumers (join left, source totals, global counts):
        // materialize the vocabulary-sized rollup once, or the corpus
        // tokenization explode runs three times
        .localCheckpoint(true)
      val ts = sc.groupBy("source").agg(sum("c_s").as("t_s"))
      val gc = sc.groupBy("token").agg(sum("c_s").as("c_g"))
      val tg = ts.agg(sum("t_s").as("t_g"))
      sc.join(broadcast(ts), Seq("source"))
        .join(gc, Seq("token"))
        .crossJoin(broadcast(tg))
        .withColumn("contrib", col("c_s") *
          round(lit(1000000) *
            log((col("c_s") * col("t_g")).cast("double") /
              (col("c_g") * col("t_s")).cast("double")), 0).cast("long"))
        .groupBy("source", "t_s")
        .agg(sum(col("contrib")).as("kl_weighted_sum"))
    },
      """WITH tok AS (
        |  SELECT source, unnest(
        |    regexp_split_to_array(lower(trim(text)), '\s+')) AS token
        |  FROM documents WHERE length(trim(text)) > 0),
        |sc AS (
        |  SELECT source, token, count(*)::BIGINT AS c_s
        |  FROM tok GROUP BY 1, 2),
        |ts AS (SELECT source, sum(c_s)::BIGINT AS t_s FROM sc GROUP BY 1),
        |gc AS (SELECT token, sum(c_s)::BIGINT AS c_g FROM sc GROUP BY 1),
        |tg AS (SELECT sum(t_s)::BIGINT AS t_g FROM ts)
        |SELECT s.source, ts.t_s,
        |  sum(s.c_s * round(1000000 *
        |    ln((s.c_s * tg.t_g)::DOUBLE / (gc.c_g * ts.t_s)::DOUBLE)
        |  )::BIGINT)::BIGINT AS kl_weighted_sum
        |FROM sc s JOIN ts USING (source) JOIN gc USING (token)
        |CROSS JOIN tg
        |GROUP BY 1, 2""".stripMargin),

    QueryDef("text_rake_keywords", (s, dir) => {
      // RAKE keyword extraction (Rose et al. 2010): phrases are maximal
      // stopword-free token runs; a word scores degree/frequency over
      // the phrase corpus (degree = summed length of phrases containing
      // it) and a phrase scores the sum of its words' scores — all in
      // integer ppm (deg·1e6 div freq), cross-engine exact. The fixture
      // vocabulary has no natural stopwords, so the 5 most frequent
      // tokens play the role. Everything is doc-partitioned windows +
      // vocabulary-sized rollups; the exploded token frame is
      // checkpointed once instead of re-derived per consumer.
      val stop = Seq("join", "hash", "row", "batch", "scan")
      val tok = tsp(s, dir, "documents", "doc_id")
        .filter(length(trim(col("text"))) > 0)
        .select(col("doc_id"),
          posexplode(Dedup.tokens(col("text"))).as(Seq("pos", "w")))
      val seg = tok
        .withColumn("is_stop", col("w").isInCollection(stop))
        .withColumn("phrase_id", sum(col("is_stop").cast("int"))
          .over(Window.partitionBy("doc_id").orderBy("pos")))
        .filter(!col("is_stop"))
        .localCheckpoint(false) // lazy: action fusion (r15)
      val ph = seg.groupBy("doc_id", "phrase_id")
        .agg(array_join(transform(
            array_sort(collect_list(struct(col("pos"), col("w")))),
            x => x("w")), " ").as("phrase"),
          count(lit(1)).as("plen"))
        .localCheckpoint(false)
      val wstat = seg
        .join(ph.select("doc_id", "phrase_id", "plen"),
          Seq("doc_id", "phrase_id"))
        .groupBy("w")
        .agg(sum("plen").as("deg"), count(lit(1)).as("freq"))
        .withColumn("wscore_ppm", expr("(deg * 1000000L) div freq"))
      val psc = seg.join(wstat.select("w", "wscore_ppm"), Seq("w"))
        .groupBy("doc_id", "phrase_id")
        .agg(sum("wscore_ppm").as("score_ppm"))
      ph.join(psc, Seq("doc_id", "phrase_id"))
        .groupBy("phrase")
        .agg(count(lit(1)).as("n_occ"), min("score_ppm").as("score_ppm"))
        .filter(col("n_occ") >= 3)
    },
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+')
        |    AS a
        |  FROM documents WHERE length(trim(text)) > 0),
        |pos AS (
        |  SELECT doc_id, unnest([{'pos': i, 'w': a[i+1]}
        |    FOR i IN range(len(a))], recursive := true)
        |  FROM toks),
        |seg AS MATERIALIZED (
        |  SELECT doc_id, pos, w, phrase_id FROM (
        |    SELECT doc_id, pos, w,
        |      w IN ('join', 'hash', 'row', 'batch', 'scan') AS is_stop,
        |      sum(CASE WHEN w IN ('join', 'hash', 'row', 'batch', 'scan')
        |          THEN 1 ELSE 0 END)
        |        OVER (PARTITION BY doc_id ORDER BY pos) AS phrase_id
        |    FROM pos)
        |  WHERE NOT is_stop),
        |ph AS MATERIALIZED (
        |  SELECT doc_id, phrase_id,
        |    string_agg(w, ' ' ORDER BY pos) AS phrase,
        |    count(*)::BIGINT AS plen
        |  FROM seg GROUP BY 1, 2),
        |wstat AS (
        |  SELECT w, ((sum(plen) * 1000000) // count(*))::BIGINT
        |    AS wscore_ppm
        |  FROM seg JOIN ph USING (doc_id, phrase_id) GROUP BY 1),
        |psc AS (
        |  SELECT s.doc_id, s.phrase_id,
        |    sum(wscore_ppm)::BIGINT AS score_ppm
        |  FROM seg s JOIN wstat USING (w) GROUP BY 1, 2)
        |SELECT ph.phrase, count(*)::BIGINT AS n_occ,
        |  min(psc.score_ppm)::BIGINT AS score_ppm
        |FROM ph JOIN psc USING (doc_id, phrase_id)
        |GROUP BY 1 HAVING count(*) >= 3""".stripMargin),

    QueryDef("text_token_count", (s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"),
        TextFunctions.subwordCount(col("text")).as("n_subwords"))
    },
      """SELECT doc_id,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(regexp_split_to_array(trim(text), '\s+')) END
        |    AS n_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]'))
        |    AS BIGINT) AS n_subwords
        |FROM documents""".stripMargin),

    QueryDef("text_langid", (s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"),
        TextFunctions.langId(col("text")).as("lang_pred"))
    }, LangIdOracle),

    QueryDef("text_langid_confusion", (s, dir) => {
      // classifier eval against REAL labels: the fixture's lang column
      // is ground truth, so the n-gram language-ID gets a proper
      // confusion matrix — count + recall per (label, predicted) cell.
      // One map-only scoring pass, one narrow two-key rollup.
      val scored = t(s, dir, "documents").select(col("lang"),
        TextFunctions.langId(col("text")).as("lang_pred"))
      val perLabel = scored.groupBy("lang")
        .agg(count(lit(1)).as("n_label"))
      scored.groupBy("lang", "lang_pred")
        .agg(count(lit(1)).as("n"))
        .join(broadcast(perLabel), Seq("lang"))
        .select(col("lang"), col("lang_pred"), col("n"),
          expr("cast((n * 1000000) div n_label AS bigint)")
            .as("cell_ppm"))
    },
      s"""WITH p AS ($LangIdOracle),
         |j AS (
         |  SELECT d.lang, p.lang_pred
         |  FROM documents d JOIN p ON p.doc_id = d.doc_id),
         |pl AS (SELECT lang, count(*)::BIGINT AS n_label
         |  FROM j GROUP BY 1)
         |SELECT j.lang, j.lang_pred, count(*)::BIGINT AS n,
         |  ((count(*)::HUGEINT * 1000000) // max(pl.n_label))::BIGINT
         |    AS cell_ppm
         |FROM j JOIN pl ON pl.lang = j.lang
         |GROUP BY j.lang, j.lang_pred""".stripMargin),

    QueryDef("text_quality", (s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"),
        TextFunctions.qualityScore(col("text")).as("quality"))
    }, QualityOracle),

    QueryDef("text_fingerprint", (s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"),
        TextFunctions.fingerprint(col("text")).as("fingerprint"))
    },
      """SELECT doc_id,
        |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
        |    AS fingerprint
        |FROM documents""".stripMargin),

    QueryDef("text_redact", (s, dir) => {
      // PII scrub over a deterministic PII-bearing column (the fixture
      // corpus is synthetic words, so the query plants an email, phone,
      // IP, and long id per doc — same construction in the oracle)
      val synthetic = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com or 555-123-4567 from 10.0."),
        pmod(col("doc_id"), lit(250)).cast("string"), lit(".9 ref "),
        (col("doc_id") + 1000000).cast("string"))
      tsp(s, dir, "documents", "doc_id").select(col("doc_id"),
        TextFunctions.redactPii(synthetic).as("clean_text"))
    },
      """SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |    text || ' contact user' || doc_id ||
        |      '@example.com or 555-123-4567 from 10.0.' ||
        |      ((doc_id % 250) + 250) % 250 || '.9 ref ' || (doc_id + 1000000),
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g'),
        |    '\b\d{6,}\b', '<NUM>', 'g') AS clean_text
        |FROM documents""".stripMargin),

    QueryDef("text_repetition", (s, dir) => {
      // Gopher/RefinedWeb-style repetition signals: repeated-token
      // ratio, top-token frequency, repeated-bigram ratio
      // token stats from one explode→double-agg pipeline (total, distinct,
      // and top counts all fall out of the (doc, token) count frame);
      // bigram stats map-only — distinct count via the native sorted
      // shingle-hash set, total count derived from n (n-1 bigrams, or one
      // whole-doc shingle when n <= 2), so no bigram strings are ever
      // built or shuffled
      val docs = t(s, dir, "documents")
      val tokStats = docs
        .select(col("doc_id"), explode(Dedup.tokens(col("text"))).as("g"))
        .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
        .groupBy("doc_id").agg(sum("c").as("n"), count(lit(1)).as("d"),
          max("c").as("top_cnt"))
      val bigStats = docs.select(col("doc_id"),
        size(graft.expressions.exprs.shingle_hashes(col("text"), 2))
          .cast("long").as("db"))
      tokStats.join(bigStats, Seq("doc_id"))
        .withColumn("nb",
          when(col("n") <= 2, lit(1L)).otherwise(col("n") - 1))
        .select(col("doc_id"),
          // exact 4-dp grids (r13 determinism ledger): integer half-up
          // over the exact int ratios, one int->double division each
          (expr("cast((2 * (n - d) * 10000 + n) div (2 * n) as double)")
            / 10000.0).as("rep_token_ratio"),
          (expr("cast((2 * top_cnt * 10000 + n) div (2 * n) as double)")
            / 10000.0).as("top_token_ratio"),
          (expr("cast((2 * (nb - db) * 10000 + nb) div (2 * nb)" +
            " as double)") / 10000.0).as("rep_bigram_ratio"))
    },
      """WITH d0 AS (
        |  SELECT doc_id,
        |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents),
        |b0 AS (
        |  SELECT doc_id, toks,
        |    CASE WHEN len(toks) <= 2 THEN [array_to_string(toks, ' ')]
        |         ELSE list_transform(range(1, len(toks)),
        |                i -> toks[i] || ' ' || toks[i+1]) END AS bigs
        |  FROM d0),
        |base AS (
        |  SELECT doc_id, len(toks)::BIGINT AS n,
        |    len(list_distinct(toks))::BIGINT AS d,
        |    len(bigs)::BIGINT AS nb, len(list_distinct(bigs))::BIGINT AS db
        |  FROM b0),
        |ex AS (SELECT doc_id, unnest(toks) AS tok FROM d0),
        |cnt AS (SELECT doc_id, tok, count(*) AS c FROM ex GROUP BY doc_id, tok),
        |top AS (SELECT doc_id, max(c) AS top_cnt FROM cnt GROUP BY doc_id)
        |SELECT b.doc_id,
        |  ((2 * (b.n - b.d) * 10000 + b.n) // (2 * b.n))::DOUBLE
        |    / 10000.0 AS rep_token_ratio,
        |  ((2 * t.top_cnt * 10000 + b.n) // (2 * b.n))::DOUBLE
        |    / 10000.0 AS top_token_ratio,
        |  ((2 * (b.nb - b.db) * 10000 + b.nb) // (2 * b.nb))::DOUBLE
        |    / 10000.0 AS rep_bigram_ratio
        |FROM base b JOIN top t USING (doc_id)""".stripMargin),

    QueryDef("text_boilerplate", (s, dir) => {
      // RefinedWeb-style cross-document boilerplate signal: fixed
      // 32-token chunks, md5 chunk fingerprints, a chunk is SHARED when
      // it appears in >= 2 distinct docs. Chunks project to (doc_id,
      // fp) before any shuffle, so the two aggs move narrow rows only
      val chunks = tsp(s, dir, "documents", "doc_id")
        .select(col("doc_id"),
          explode(TextFunctions.chunkTokens(col("text"), 32, 0))
            .as("chunk"))
        .select(col("doc_id"), md5(col("chunk")).as("fp"))
      val shared = chunks.groupBy("fp")
        .agg(count_distinct(col("doc_id")).as("nd"))
      chunks.join(shared, Seq("fp"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("nd") >= 2, 1L).otherwise(0L))
            .as("n_shared_chunks"))
        .select(col("doc_id"), col("n_chunks"), col("n_shared_chunks"),
          // exact 4-dp grid (r13 determinism ledger)
          (expr("cast((2 * n_shared_chunks * 10000 + n_chunks) div" +
            " (2 * n_chunks) as double)") / 10000.0).as("shared_ratio"))
    },
      """WITH d AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents WHERE length(trim(text)) > 0),
        |s AS (
        |  SELECT doc_id, toks,
        |         unnest(generate_series(1, len(toks), 32)) AS st
        |  FROM d),
        |ch AS (
        |  SELECT doc_id,
        |    md5(array_to_string(toks[st : least(st + 31, len(toks))], ' '))
        |      AS fp
        |  FROM s),
        |sh AS (SELECT fp, count(DISTINCT doc_id) AS nd FROM ch GROUP BY 1),
        |agg AS (
        |  SELECT ch.doc_id, count(*) AS n_chunks,
        |    CAST(sum(CASE WHEN sh.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_shared_chunks
        |  FROM ch JOIN sh USING (fp) GROUP BY 1)
        |SELECT doc_id, n_chunks, n_shared_chunks,
        |  ((2 * n_shared_chunks * 10000 + n_chunks) // (2 * n_chunks))
        |    ::DOUBLE / 10000.0 AS shared_ratio
        |FROM agg""".stripMargin),

    QueryDef("text_perplexity", (s, dir) => {
      // CCNet-style LM quality gate: mean negative log-likelihood per
      // doc under an add-one bigram model trained on the corpus itself.
      // Counts are linear aggregations; bigrams derive map-side from
      // the token array (no positional self-join); per-doc fold is
      // position-ordered, so the oracle matches bit-for-bit
      LanguageModel.bigramNll(t(s, dir, "documents"))
    },
      // Oracle for `text_perplexity`: the add-one bigram LM trained on the
      // corpus — identical long counts, identical `ln((c+1)/(denom+V))`
      // doubles, per-doc fold in position order (`list_reduce` over
      // `list(lp ORDER BY pos)`; the engine's `0.0 + x` seed is exact), and
      // the Spark-rounded 4-decimal mean NLL.
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
         |FROM agg""".stripMargin),

    locally {
      val (shingleN, evalMod) = (4, 13)
      QueryDef("text_decontaminate", (s, dir) => {
        // test-set decontamination: docs sharing any 4-gram with the eval
        // slice (doc_id % 13 == 0) are flagged with their hit count
        val docs = t(s, dir, "documents")
        val contamination = Dedup.evalShingles(
          docs.filter(col("doc_id") % evalMod === 0), "text", shingleN)
        Dedup.contaminationHits(docs.filter(col("doc_id") % evalMod =!= 0),
          "doc_id", "text", contamination, shingleN)
      },
        // Oracle for `text_decontaminate`: distinct width-`shingleN` shingle
        // hashes of the eval slice (doc_id % `evalMod` == 0) matched against
        // every other doc's shingle set.
        s"""WITH ${tokenHashCtes()},
           |${shingleHashCtes(shingleN)},
           |sset AS MATERIALIZED (SELECT DISTINCT doc_id, shu FROM shash),
           |ctam AS MATERIALIZED (SELECT DISTINCT shu FROM sset WHERE doc_id % $evalMod = 0)
           |SELECT s.doc_id, CAST(count(DISTINCT s.shu) AS BIGINT) AS n_hits
           |FROM sset s JOIN ctam c ON c.shu = s.shu
           |WHERE s.doc_id % $evalMod <> 0
           |GROUP BY s.doc_id""".stripMargin)
    },

    QueryDef("text_exact_decontaminate", (s, dir) => {
      // strictest leakage screen: corpus docs containing an eval
      // snippet VERBATIM (30-char span of each doc_id % 29 == 0 doc);
      // snippet set broadcast, corpus scanned once map-only.
      // Oracle-twin variant over a FIXED doc slice (same convention as
      // dedup_ngram_blocked): the instr nested-loop is O(docs·snippets)
      // by construction, so the verifiable twin stays constant-size
      // across scale factors; text_multipattern_scan (one Aho-Corasick
      // walk per doc, full corpus, full snippet set) is the scale path
      val docs = Tables.spread(
        t(s, dir, "documents").filter(col("doc_id") < 5000), "doc_id")
      val snips = docs.filter(col("doc_id") % 29 === 0)
        .select(col("doc_id").as("snip_id"),
          substring(col("text"), 11, 30).as("snippet"))
        .filter(length(col("snippet")) >= 20)
      Dedup.substringContamination(docs.filter(col("doc_id") % 29 =!= 0),
        "doc_id", "text", snips, "snip_id", "snippet")
    },
      """WITH sl AS (SELECT * FROM documents WHERE doc_id < 5000),
        |snips AS (
        |  SELECT doc_id AS snip_id, substring(text, 11, 30) AS snippet
        |  FROM sl WHERE doc_id % 29 = 0),
        |f AS (SELECT * FROM snips WHERE length(snippet) >= 20)
        |SELECT d.doc_id, count(*) AS n_hits,
        |  min(f.snip_id) AS first_snippet_id
        |FROM sl d JOIN f ON position(f.snippet IN d.text) > 0
        |WHERE d.doc_id % 29 <> 0
        |GROUP BY d.doc_id""".stripMargin),

    QueryDef("corpus_report", (s, dir) => {
      // one-row dataset datasheet: sizes, source/language mix, mean
      // quality — all counts integer-exact (quality summed as scaled
      // ints so the mean is aggregation-order independent), one
      // map-side-combined global reduce
      val docs = t(s, dir, "documents")
      val q4 = floor(TextFunctions.qualityScore(col("text")) * 10000)
        .cast("long")
      docs.agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("source")).as("n_sources"),
          sum(TextFunctions.tokenCount(col("text"))).as("total_tokens"),
          sum(q4).as("q4sum"),
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"))
        .select(col("n_docs"), col("n_sources"), col("total_tokens"),
          // exact 4-dp grid landing (r13 determinism ledger): integer
          // half-up over the exact int ratio, one int->double division
          (expr("cast((2 * q4sum + n_docs) div (2 * n_docs) as double)")
            / 10000.0).as("mean_quality"),
          (expr("cast((2 * n_en * 10000 + n_docs) div (2 * n_docs)" +
            " as double)") / 10000.0).as("pct_en"))
    },
      s"""WITH q AS ($QualityOracle)
         |SELECT count(*) AS n_docs,
         |  count(DISTINCT d.source) AS n_sources,
         |  sum(CASE WHEN length(trim(d.text)) = 0 THEN 0
         |      ELSE len(regexp_split_to_array(trim(d.text), '\\s+'))
         |      END)::BIGINT AS total_tokens,
         |  ((2 * sum(CAST(floor(q.quality * 10000) AS BIGINT))::HUGEINT
         |      + count(*)) // (2 * count(*)))::DOUBLE / 10000.0
         |    AS mean_quality,
         |  ((2 * sum(CASE WHEN d.lang = 'en' THEN 1 ELSE 0
         |      END)::HUGEINT * 10000 + count(*)) // (2 * count(*)))
         |    ::DOUBLE / 10000.0 AS pct_en
         |FROM documents d JOIN q ON q.doc_id = d.doc_id""".stripMargin),

    QueryDef("text_novelty", (s, dir) => {
      // bigram novelty vs a reference corpus half: the fraction of a
      // doc's distinct bigrams unseen in the reference — high = novel
      // content worth keeping, near-zero = the corpus already says this
      // (the n-gram-coverage cousin of decontamination, ratio-valued).
      // Narrow hash-keyed join against the vocabulary-sized ref set.
      val docs = t(s, dir, "documents")
      val refSet = docs.filter(col("doc_id") % 10 < 5)
        .select(explode(
          graft.expressions.exprs.shingle_hashes(col("text"), 2)).as("sh"))
        .distinct()
      val cand = docs.filter(col("doc_id") % 10 >= 5)
        .select(col("doc_id"),
          explode(graft.expressions.exprs.shingle_hashes(col("text"), 2))
            .as("sh"))
      val tot = cand.groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"))
      val hit = cand.join(refSet, Seq("sh"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_known"))
      tot.join(hit, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_bigrams"),
          // 1 - k/n = (n-k)/n: exact integer ratio on the 4-dp grid
          ExactGrid.eRatio(col("n_bigrams") - coalesce(col("n_known"), lit(0L)),
            col("n_bigrams"), 10000L).as("novelty"))
    },
      // Oracle for `text_novelty`: the same bigram shingle-hash chain,
      // reference set = distinct hashes of the `doc_id % 10 < 5` half,
      // per-candidate coverage by hash join, one division, Spark rounding.
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
         |FROM tot t LEFT JOIN hit h USING (doc_id)""".stripMargin),

    locally {
      val maskBits = 4
      QueryDef("text_cdc_chunks", (s, dir) => {
        // shift-robust chunking: boundaries where the token hash has 4
        // low zero bits (expected 16-token chunks) — an edit re-chunks
        // only its neighborhood, so shared-chunk fingerprints survive
        // prefix insertions that break fixed-stride chunking
        Dedup.cdcChunks(tsp(s, dir, "documents", "doc_id"), "doc_id",
          "text", maskBits)
      }, OracleSql.textCdcChunks(maskBits))
    },

    QueryDef("text_rarity", (s, dir) => {
      // IDF-flavored rarity without ln: integer df sums, one division —
      // bit-reproducible under any aggregation order
      TextFunctions.tokenRarity(t(s, dir, "documents"), "doc_id", "text")
    }, RarityOracle),

    QueryDef("text_tfidf_topk", (s, dir) => {
      // top-5 characteristic terms per doc by tf·idf, with the idf log
      // made libm-free: idf₂ = floor(log₂(N/df)) computed as the bit
      // length of the integer quotient (length(bin(N div df)) − 1) —
      // exact integer both engines, zero float risk. One token-count
      // shuffle + a vocabulary-frame df agg joined back; the per-doc
      // ranking is a doc-partitioned window over ≤|distinct tokens per
      // doc| rows with a total (score desc, token asc) tie-break.
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), explode(Dedup.tokens(col("text"))).as("tok"))
      val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      val total = t(s, dir, "documents").agg(count(lit(1)).as("n_docs"))
      val scored = tf.join(dfreq, Seq("tok"))
        .crossJoin(broadcast(total))
        // two extra resolution bits (4·N) keep common tokens at a
        // small nonzero weight instead of flattening them all to 0
        .withColumn("idf2", expr("length(bin((n_docs * 4) div df)) - 1"))
        .withColumn("score", col("tf") * col("idf2"))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("score").desc, col("tok").asc)
      scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5 && col("score") > 0)
        .select(col("doc_id"), col("rk"), col("tok"), col("tf"),
          col("score"))
    },
      """WITH tk AS (
        |  SELECT doc_id, unnest(
        |    CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
        |         ELSE regexp_split_to_array(lower(trim(text)), '\s+')
        |    END) AS tok
        |  FROM documents),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tk GROUP BY 1, 2),
        |dfq AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |sc AS (
        |  SELECT t.doc_id, t.tok, t.tf,
        |    (length(bin((n.n_docs * 4) // d.df)) - 1)::BIGINT AS idf2
        |  FROM tf t JOIN dfq d USING (tok), n),
        |rk AS (
        |  SELECT doc_id, tok, tf, tf * idf2 AS score,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY tf * idf2 DESC, tok ASC) AS rk
        |  FROM sc)
        |SELECT doc_id, rk::INT AS rk, tok, tf, score
        |FROM rk WHERE rk <= 5 AND score > 0""".stripMargin),

    locally {
      val (minCount, topK) = (5L, 50)
      QueryDef("text_collocations", (s, dir) => {
        // phrase mining: top-50 adjacent pairs by lift (monotone PMI),
        // exact integer counts, one division, bounded TakeOrdered top-k
        TextFunctions.collocations(t(s, dir, "documents"), "text",
          minCount, topK)
      },
        // Oracle for `text_collocations`: bigram lift over exact integer
        // counts, one IEEE division, TOTAL-ordered top-k (lift desc, then
        // the pair) so the LIMIT boundary is deterministic on both engines.
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
           |LIMIT $topK""".stripMargin)
    },

    locally {
      val dim = 4096
      QueryDef("text_classifier_score", (s, dir) => {
        // fastText-style hashed linear gate, one map-only pass: the
        // "model" here is a derived integer weight per bucket (the
        // multiplicative-mix formula below, reproduced by the oracle) —
        // a trained model would ship its real weight array through the
        // same parameter
        val weights = Array.tabulate(dim)(b =>
          ((b.toLong * 2654435761L) % 2001L).toInt - 1000)
        TextFunctions.classifierScore(t(s, dir, "documents"),
          "doc_id", "text", weights)
      }, {
        // Oracle for `text_classifier_score`: per-token xxhash64 → low-bits
        // bucket (`dim` a power of two, so the HUGEINT mod equals the
        // engine's signed-long mask) → the query's derived integer weight
        // `((b·2654435761) mod 2001) − 1000`, summed exactly per document.
        // Blank docs (no tokh rows) left-join back as (0, 0, false).
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
      })
    },

    QueryDef("text_multipattern_scan", (s, dir) => {
      // the same screen as text_exact_decontaminate, at snippet-set
      // scale: all snippets compiled into one Aho-Corasick automaton,
      // one walk per doc — no nested-loop join, cost independent of the
      // snippet count
      val docs = t(s, dir, "documents")
      val snips = docs.filter(col("doc_id") % 29 === 0)
        .select(col("doc_id").as("snip_id"),
          substring(col("text"), 11, 30).as("snippet"))
        .filter(length(col("snippet")) >= 20)
      Dedup.substringContaminationAC(docs.filter(col("doc_id") % 29 =!= 0),
        "doc_id", "text", snips, "snip_id", "snippet")
    },
      // same oracle as text_exact_decontaminate by design: the automaton
      // formulation is physically different, semantically identical
      """WITH snips AS (
        |  SELECT doc_id AS snip_id, substring(text, 11, 30) AS snippet
        |  FROM documents WHERE doc_id % 29 = 0),
        |f AS (SELECT * FROM snips WHERE length(snippet) >= 20)
        |SELECT d.doc_id, count(*) AS n_hits,
        |  min(f.snip_id) AS first_snippet_id
        |FROM documents d JOIN f ON position(f.snippet IN d.text) > 0
        |WHERE d.doc_id % 29 <> 0
        |GROUP BY d.doc_id""".stripMargin),

    locally {
      val (k, k1, b) = (10, 1.2, 0.75)
      QueryDef("bm25_topk", (s, dir) => {
        // lexical retrieval: BM25 top-10 per keyword query — the
        // complement to the embedding ANN family (hybrid retrieval fuses
        // both). Winners via the bounded top-k aggregate; score fold is
        // order-defined (sorted terms, left-to-right), so the oracle
        // reproduces the doubles bit-for-bit before the 4-decimal round.
        Retrieval.bm25TopK(s, t(s, dir, "documents"), Bm25Queries, k, k1, b)
      }, {
        // Oracle for `bm25_topk`: same tf/df/len aggregations, the SAME
        // IEEE double operations in the same association order (the engine
        // folds term scores in sorted-term order left-to-right; DuckDB's
        // `list_reduce(list(x ORDER BY term), +)` reproduces it — the fold's
        // `0.0 + s1` seed is bit-transparent for positive scores), ranking
        // on the 4-decimal Spark-rounded score with a doc-id tie-break.
        s"WITH ${bm25Ctes(Bm25Queries, k1, b)}\n" +
          s"SELECT query_id, rank, doc_id, score FROM rk WHERE rank <= $k"
      })
    },

    locally {
      val (k, c, k1, b) = (10, 60, 1.2, 0.75)
      QueryDef("hybrid_retrieval_rrf", (s, dir) => {
        // hybrid retrieval: reciprocal-rank fusion of BM25 and boolean
        // term-overlap rankings — fixed-order reciprocal sum, bounded
        // top-k winners, all deterministic => exact oracle
        val docs = t(s, dir, "documents")
        Retrieval.rrfFuse(
          Retrieval.bm25TopK(s, docs, Bm25Queries, k, k1, b),
          Retrieval.booleanOverlapTopK(s, docs, Bm25Queries, k), k, c)
      }, {
        // Oracle for `hybrid_retrieval_rrf`: reciprocal-rank fusion of the
        // BM25 ranking (shared CTEs) and a boolean term-overlap ranking.
        // The fused score `coalesce(1/(c+rank_a), 0) + coalesce(1/(c+rank_b),
        // 0)` is two IEEE divisions and one addition in fixed order — exact
        // cross-engine — then Spark-rounded for the rank key.
        s"""WITH ${bm25Ctes(Bm25Queries, k1, b)},
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
      })
    },

    locally {
      val (k, k1, b) = (10, 1.2, 0.75)
      QueryDef("retrieval_metrics", (s, dir) => {
        // retrieval evaluation: recall/MRR/nDCG@10 of the BM25 ranking
        // against boolean-AND qrels (doc contains every query term) —
        // system-independent judgments both engines recompute exactly
        Retrieval.retrievalMetrics(s, t(s, dir, "documents"),
          Bm25Queries, k, k1, b)
      }, {
        // Oracle for `retrieval_metrics`: boolean-AND qrels (doc contains
        // every distinct query term), BM25 ranking via the shared CTEs, and
        // recall/MRR/nDCG with the same ascending-order folds and the same
        // embedded ln2 literal as the engine.
        val ln2 = math.log(2.0)
        s"""WITH ${bm25Ctes(Bm25Queries, k1, b)},
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
      })
    },

    QueryDef("text_chunk", (s, dir) => {
      // embedding/RAG preprocessing: 64-token chunks, 16-token overlap
      // (step 48) — map-only transform+slice, no shuffle
      t(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(TextFunctions.chunkTokens(col("text"), 64, 16))
            .as(Seq("pos", "chunk_text")))
        .select(col("doc_id"), col("pos").cast("long").as("chunk_idx"),
          col("chunk_text"),
          TextFunctions.tokenCount(col("chunk_text")).as("n_tokens"))
    },
      """WITH d AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents WHERE length(trim(text)) > 0),
        |s AS (
        |  SELECT doc_id, toks,
        |         unnest(generate_series(1, len(toks), 48)) AS st
        |  FROM d)
        |SELECT doc_id, CAST((st - 1) // 48 AS BIGINT) AS chunk_idx,
        |  array_to_string(toks[st : least(st + 63, len(toks))], ' ')
        |    AS chunk_text,
        |  CAST(least(64, len(toks) - st + 1) AS BIGINT) AS n_tokens
        |FROM s""".stripMargin),

    locally {
      val topK = 30
      QueryDef("text_bpe_pairs", (s, dir) =>
        TextFunctions.bpePairCounts(t(s, dir, "documents"), "text", topK),
          // Oracle for `text_bpe_pairs`: word histogram → in-word adjacent
          // character pairs weighted by word count → deterministic top-k cut
          // (count desc, pair asc).
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
             |ORDER BY cnt DESC, pair ASC LIMIT $topK""".stripMargin)
    },

    QueryDef("text_normalize", (s, dir) => {
      // canonical text normalization: NFC compose (native codegen'd
      // expression — Spark ships no normalization builtin), casefold,
      // whitespace collapse, trim — the canonicalization pass that
      // runs BEFORE fingerprint/shingle hashing so codepoint-variant
      // twins dedup together. The fixture text is pure ASCII, so a
      // decomposed suffix ("e" + combining acute U+0301) is injected
      // to make the NFC step observable: both engines must compose it
      // to the single codepoint U+00E9. Map-only, stays inside
      // whole-stage codegen.
      val dirty = concat(col("text"), lit("  Cafe\u0301  "))
      val norm = trim(regexp_replace(
        lower(UnicodeNormalizeCol.unicode_normalize(dirty)),
        "\\s+", " "))
      t(s, dir, "documents").select(col("doc_id"),
        length(dirty).as("len_raw"),
        length(norm).as("len_norm"),
        substring(norm, 1, 30).as("norm_prefix"))
    },
      """WITH d AS (
        |  SELECT doc_id, text || '  Cafe' || chr(769) || '  ' AS dirty
        |  FROM documents),
        |n AS (
        |  SELECT doc_id, dirty,
        |    trim(regexp_replace(lower(nfc_normalize(dirty)),
        |      '\s+', ' ', 'g')) AS norm
        |  FROM d)
        |SELECT doc_id, length(dirty)::INT AS len_raw,
        |  length(norm)::INT AS len_norm,
        |  substr(norm, 1, 30) AS norm_prefix
        |FROM n""".stripMargin),

    QueryDef("text_zipf_fit", (s, dir) => {
      // Zipf-law fit over the token frequency spectrum: least-squares
      // slope of ln(freq) on ln(rank) — the corpus-linguistics
      // diagnostic ("is this corpus natural-language-shaped or
      // machine-generated?"). Per-rank log coordinates round to e6
      // BIGINTs, the regression sums run in DECIMAL(38,0) (vocab can
      // be millions; long Σxy overflows), and only the final
      // slope/intercept divisions touch doubles — identical in both
      // engines. Rank window runs on the vocabulary-sized frequency
      // frame, never the corpus.
      val d = "decimal(38,0)"
      val tf = t(s, dir, "documents")
        .filter(length(trim(col("text"))) > 0)
        .select(explode(Dedup.tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("f"))
      val rk = tf.withColumn("rank", row_number().over(
        Window.orderBy(col("f").desc, col("token").asc)))
      val pts = rk.select(
        round(log(col("rank").cast("double")) * 1000000.0, 0)
          .cast("long").as("x"),
        round(log(col("f").cast("double")) * 1000000.0, 0)
          .cast("long").as("y"))
      pts.agg(
          count(lit(1)).cast(d).as("n"),
          sum(col("x").cast(d)).as("sx"),
          sum(col("y").cast(d)).as("sy"),
          sum(col("x").cast(d) * col("y").cast(d)).as("sxy"),
          sum(col("x").cast(d) * col("x").cast(d)).as("sxx"))
        .select(
          col("n").cast("long").as("n_tokens"),
          round((col("n") * col("sxy") - col("sx") * col("sy"))
            .cast("double") /
            (col("n") * col("sxx") - col("sx") * col("sx"))
              .cast("double") * 1000000.0, 0).cast("long")
            .as("slope_e6"))
    },
      """WITH tf AS (
        |  SELECT token, count(*)::BIGINT AS f FROM (
        |    SELECT unnest(regexp_split_to_array(lower(trim(text)),
        |      '\s+')) AS token
        |    FROM documents WHERE length(trim(text)) > 0)
        |  GROUP BY 1),
        |rk AS (
        |  SELECT f, row_number() OVER (ORDER BY f DESC, token ASC)
        |    AS rank
        |  FROM tf),
        |pts AS (
        |  SELECT round(ln(rank::DOUBLE) * 1000000.0)::BIGINT AS x,
        |    round(ln(f::DOUBLE) * 1000000.0)::BIGINT AS y
        |  FROM rk),
        |m AS (
        |  SELECT count(*)::HUGEINT AS n,
        |    sum(x::HUGEINT)::HUGEINT AS sx, sum(y::HUGEINT)::HUGEINT
        |      AS sy,
        |    sum(x::HUGEINT * y::HUGEINT)::HUGEINT AS sxy,
        |    sum(x::HUGEINT * x::HUGEINT)::HUGEINT AS sxx
        |  FROM pts)
        |SELECT n::BIGINT AS n_tokens,
        |  round((n * sxy - sx * sy)::DOUBLE
        |    / (n * sxx - sx * sx)::DOUBLE * 1000000.0)::BIGINT
        |    AS slope_e6
        |FROM m""".stripMargin),

    QueryDef("index_postings", (s, dir) => {
      // inverted-index construction: per token, document frequency and
      // the first-10 posting list — the head of each posting list via
      // the bounded top-k aggregate (ordKey = -doc_id keeps the
      // SMALLEST ids with <=10 entries of map-side state per token),
      // never a collect of the full posting list. df >= 5 prunes the
      // hapax tail that would dominate row count without serving
      // retrieval.
      val toks = t(s, dir, "documents")
        .filter(length(trim(col("text"))) > 0)
        .select(col("doc_id"),
          explode(split(lower(trim(col("text"))), "\\s+")).as("token"))
        .distinct()
      toks.groupBy("token")
        .agg(count(lit(1)).as("df"),
          array_join(graft.expressions.TopKBy.top_k_by(-col("doc_id"),
            col("doc_id"), 10), ",").as("postings_head"))
        .filter(col("df") >= 5)
    },
      """WITH raw AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(lower(trim(text)), '\s+'))
        |      AS token
        |  FROM documents WHERE length(trim(text)) > 0),
        |toks AS (SELECT DISTINCT doc_id, token FROM raw)
        |SELECT token, count(*)::BIGINT AS df,
        |  array_to_string((array_agg(doc_id ORDER BY doc_id))[1:10], ',')
        |    AS postings_head
        |FROM toks GROUP BY token HAVING count(*) >= 5""".stripMargin),

    locally {
      val buckets = 64
      QueryDef("text_feature_hash", (s, dir) => {
        // hashing-trick featurization: every token OCCURRENCE lands in
        // one of 64 hash buckets — the fixed-width sparse text features
        // (COO form) a linear classifier or quality model trains on, at
        // any vocabulary size and with no vocabulary shuffle or
        // dictionary build. Map-only explode + one (doc, bucket) agg;
        // the same whitespace tokenization the simhash family verifies.
        val docs = t(s, dir, "documents")
        docs.select(col("doc_id"),
            explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
          .filter(length(col("tok")) > 0)
          .select(col("doc_id"), pmod(xxhash64(col("tok")), lit(buckets))
            .as("bucket"))
          .groupBy("doc_id", "bucket").agg(count(lit(1)).as("cnt"))
      },
        // Oracle for `text_feature_hash`: the hashing-trick featurization —
        // every whitespace-token OCCURRENCE hashed with the exact XXH64
        // emulation ([[tokenHashCtes]]), bucketed by unsigned mod (equal to
        // Spark's `pmod` of the signed hash: the 2⁶⁴ offset vanishes mod a
        // power of two), counted per (doc, bucket).
        s"""WITH ${tokenHashCtes()}
           |SELECT doc_id, (thu % $buckets)::BIGINT AS bucket,
           |  count(*) AS cnt
           |FROM tokh GROUP BY 1, 2""".stripMargin)
    },

    QueryDef("text_gopher_rules", (s, dir) => {
      // Gopher-style document quality rules (Rae et al. 2021, the
      // standard pretraining-corpus filter battery) in exact integer
      // arithmetic: word count bounds, mean word length band
      // (centi-chars), stopword presence, alphabetic-token fraction
      // (ppm). One tokenize + one per-doc rollup — map-side combined,
      // corpus-linear; the pass verdict composes the four rules the
      // way a curation pipeline gates documents before training.
      val docs = t(s, dir, "documents")
      val tok = docs.select(col("doc_id"),
          explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
        .filter(length(col("tok")) > 0)
      tok.groupBy("doc_id").agg(
          count(lit(1)).as("n_words"),
          expr("sum(length(tok)) * 100 div count(1)")
            .as("mean_word_len_e2"),
          sum(when(col("tok").isin(GopherStopwords: _*), 1L)
            .otherwise(0L)).as("stopword_hits"),
          expr("sum(CASE WHEN tok rlike '^[a-z]+$' THEN 1 ELSE 0 END)" +
            " * 1000000 div count(1)").as("alpha_ppm"))
        .withColumn("pass",
          col("n_words").between(20, 100000) &&
            col("mean_word_len_e2").between(300, 1000) &&
            col("stopword_hits") >= 2 &&
            col("alpha_ppm") >= 800000)
    },
      s"""WITH tok AS (
         |  SELECT doc_id, t AS tok FROM (
         |    SELECT doc_id,
         |      unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t
         |    FROM documents) u WHERE length(t) > 0),
         |m AS (
         |  SELECT doc_id, count(*)::BIGINT AS n_words,
         |    (sum(length(tok)) * 100 // count(*))::BIGINT
         |      AS mean_word_len_e2,
         |    sum(CASE WHEN tok IN (${GopherStopwords
                .map("'" + _ + "'").mkString(", ")})
         |      THEN 1 ELSE 0 END)::BIGINT AS stopword_hits,
         |    (sum(CASE WHEN regexp_full_match(tok, '[a-z]+')
         |      THEN 1 ELSE 0 END) * 1000000 // count(*))::BIGINT
         |      AS alpha_ppm
         |  FROM tok GROUP BY 1)
         |SELECT doc_id, n_words, mean_word_len_e2, stopword_hits,
         |  alpha_ppm,
         |  (n_words BETWEEN 20 AND 100000
         |    AND mean_word_len_e2 BETWEEN 300 AND 1000
         |    AND stopword_hits >= 2 AND alpha_ppm >= 800000) AS pass
         |FROM m""".stripMargin),

    QueryDef("text_char_entropy", (s, dir) => {
      // character-level Shannon entropy per document (bits, e6) — the
      // information-density quality signal: natural prose sits near
      // 4–4.5 bits/char, repetitive template spam collapses toward 0,
      // keyboard mash saturates toward log2(alphabet). The char-level
      // twin of the token-level TTR/perplexity battery. Determinism:
      // counts are exact; the single float reduction Σ c·ln c runs as
      // a LEFT FOLD over the char-sorted count array (identical
      // association in both engines), H = (ln n − S/n)/ln 2, rounded
      // e6. Two narrow rollups — (doc, char) counts, then per-doc
      // fold on the alphabet-bounded array; the explode is map-only.
      // OPTIMIZATION r14: the per-char explode (one row per CHARACTER
      // of every document, through two shuffles) is replaced by an
      // in-row run-length pass — per-document aggregation is row-local
      // work, so the whole query is now MAP-ONLY (guide §2.4: remove
      // shuffles outright). `sc` is the doc's chars sorted; `ends` the
      // 1-based positions where a run of equal chars ends; run lengths
      // are the diffs of consecutive ends. The Σ c·ln c fold runs over
      // the SAME char-ascending count order as the old sort_array of
      // (ch, c) structs, so the single float reduction associates
      // identically and the emitted value is bit-equal (oracle-pinned).
      val dx = tsp(s, dir, "documents", "doc_id")
        .select(col("doc_id"), lower(trim(col("text"))).as("tx"))
        .filter(length(col("tx")) > 0)
      dx.select(col("doc_id"),
          expr("array_sort(split(tx, ''))").as("sc"))
        .select(col("doc_id"), size(col("sc")).cast("long")
            .as("n_chars"),
          expr("filter(sequence(1, size(sc)), i -> IF(i = size(sc)," +
            " true, element_at(sc, i + 1) != element_at(sc, i)))")
            .as("ends"))
        .select(col("doc_id"), col("n_chars"),
          size(col("ends")).cast("long").as("n_distinct"),
          expr("cast(round((ln(cast(n_chars as double))" +
            " - aggregate(transform(ends, (e, k) ->" +
            " e - IF(k = 0, 0, element_at(ends, k))), 0D, (acc, c) ->" +
            " acc + cast(c as double) * ln(cast(c as double)))" +
            " / cast(n_chars as double)) / ln(2D) * 1000000, 0)" +
            " as long)").as("entropy_bits_e6"))
    },
      """WITH dx AS (
        |  SELECT doc_id, lower(trim(text)) AS tx FROM documents
        |  WHERE length(trim(text)) > 0),
        |ch AS (
        |  SELECT doc_id, substr(tx, g.i, 1) AS ch
        |  FROM dx, LATERAL (SELECT unnest(generate_series(1,
        |    length(tx))) AS i) g),
        |cc AS (
        |  SELECT doc_id, ch, count(*)::BIGINT AS c
        |  FROM ch GROUP BY 1, 2),
        |ag AS (
        |  SELECT doc_id, sum(c)::BIGINT AS n_chars,
        |    count(*)::BIGINT AS n_distinct,
        |    list_sort(list({'ch': ch, 'c': c})) AS arr
        |  FROM cc GROUP BY 1)
        |SELECT doc_id, n_chars, n_distinct,
        |  round((ln(n_chars::DOUBLE)
        |    - list_reduce(list_transform(arr,
        |        e -> e.c::DOUBLE * ln(e.c::DOUBLE)), (a, b) -> a + b)
        |      / n_chars::DOUBLE) / ln(2::DOUBLE)
        |    * 1000000)::BIGINT AS entropy_bits_e6
        |FROM ag""".stripMargin),

    QueryDef("text_ttr", (s, dir) => {
      // lexical diversity profile: type-token ratio and hapax-legomena
      // fraction per document (ppm) — the vocabulary-richness signal
      // quality classifiers use alongside the Gopher rules (template
      // spam has pathologically low TTR; keyboard mash has high hapax).
      // OPTIMIZATION r14: per-document aggregation is row-local — the
      // old (doc, token) explode + two shuffled rollups become one
      // MAP-ONLY in-row run-length pass over the doc's sorted token
      // array (same trick as text_char_entropy; all values are exact
      // integers, so equality is structural).
      val docs = tsp(s, dir, "documents", "doc_id")
      docs.select(col("doc_id"),
          expr("array_sort(filter(split(lower(trim(text)), '\\\\s+')," +
            " t -> length(t) > 0))").as("st"))
        .filter(size(col("st")) > 0)
        .select(col("doc_id"),
          size(col("st")).cast("long").as("n_tokens"),
          expr("filter(sequence(1, size(st)), i -> IF(i = size(st)," +
            " true, element_at(st, i + 1) != element_at(st, i)))")
            .as("ends"))
        .select(col("doc_id"), col("n_tokens"),
          size(col("ends")).cast("long").as("n_types"),
          expr("cast(size(filter(transform(ends, (e, k) ->" +
            " e - IF(k = 0, 0, element_at(ends, k))), c -> c = 1))" +
            " as long)").as("n_hapax"))
        .select(col("doc_id"), col("n_tokens"), col("n_types"),
          col("n_hapax"),
          expr("n_types * 1000000 div n_tokens").as("ttr_ppm"),
          expr("n_hapax * 1000000 div n_types").as("hapax_ppm"))
    },
      """WITH tok AS (
        |  SELECT doc_id, t AS tok FROM (
        |    SELECT doc_id,
        |      unnest(string_split_regex(lower(trim(text)), '\s+')) AS t
        |    FROM documents) u WHERE length(t) > 0),
        |tc AS (SELECT doc_id, tok, count(*)::BIGINT AS c
        |  FROM tok GROUP BY 1, 2)
        |SELECT doc_id, sum(c)::BIGINT AS n_tokens,
        |  count(*)::BIGINT AS n_types,
        |  sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::BIGINT AS n_hapax,
        |  (count(*) * 1000000 // sum(c))::BIGINT AS ttr_ppm,
        |  (sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000000
        |    // count(*))::BIGINT AS hapax_ppm
        |FROM tc GROUP BY 1""".stripMargin),

    QueryDef("text_vocab_coverage", (s, dir) => {
      // vocabulary coverage curve: token types ranked by frequency,
      // cumulative occurrence share in ppm — "how much of the corpus
      // does a k-type vocabulary cover?", the statistic tokenizer
      // vocab-size decisions read off. One tokenize + one type rollup;
      // the rank/cumsum window runs on the VOCABULARY-sized frame
      // (types, not occurrences — the r6 discipline), so the global
      // window is safe at any corpus size with a bounded type count
      // and becomes a per-shard curve under open vocabularies.
      val docs = t(s, dir, "documents")
      val tc = docs.select(explode(split(lower(trim(col("text"))),
          "\\s+")).as("tok"))
        .filter(length(col("tok")) > 0)
        .groupBy("tok").agg(count(lit(1)).as("c"))
        .localCheckpoint(true) // total + window read it
      val tot = tc.agg(sum("c").as("total"))
      val w = Window.orderBy(col("c").desc, col("tok").asc)
      tc.withColumn("rank", row_number().over(w))
        .withColumn("cum", sum("c").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .crossJoin(broadcast(tot))
        .select(col("rank").cast("long").as("rank"), col("tok"),
          col("c"), col("cum"),
          // cum <= total token occurrences — unbounded at corpus
          // scale (1e13 tokens × 1e6 blows a long), so the scaled
          // product clears into DECIMAL(38,0) (overflow-sweep r12)
          expr("cast(cast(cum as decimal(38,0)) * 1000000 div total" +
            " as bigint)").as("coverage_ppm"))
    },
      """WITH tok AS (
        |  SELECT t AS tok FROM (
        |    SELECT unnest(string_split_regex(lower(trim(text)),
        |      '\s+')) AS t
        |    FROM documents) u WHERE length(t) > 0),
        |tc AS (SELECT tok, count(*)::BIGINT AS c FROM tok GROUP BY 1),
        |tot AS (SELECT sum(c)::BIGINT AS total FROM tc),
        |r AS (SELECT tok, c,
        |    row_number() OVER (ORDER BY c DESC, tok ASC)::BIGINT
        |      AS rank,
        |    sum(c) OVER (ORDER BY c DESC, tok ASC
        |      ROWS UNBOUNDED PRECEDING)::BIGINT AS cum
        |  FROM tc)
        |SELECT r.rank, r.tok, r.c, r.cum,
        |  (r.cum::HUGEINT * 1000000 // t.total)::BIGINT AS coverage_ppm
        |FROM r CROSS JOIN tot t""".stripMargin),

    locally {
      val nMerges = 6
      QueryDef("text_bpe_learn", (s, dir) => {
        // TRUE iterative BPE training (vs text_bpe_encode's one-pass
        // approximation): 6 merge rounds, each re-counting adjacent
        // symbol pairs over the CURRENT segmentation — the pair picked
        // at round i reflects rounds 1..i-1's merges, exactly the
        // Sennrich et al. loop. Distributed-trainer shape: the corpus
        // is scanned ONCE into a (word, count) frame; every round's
        // work — pair count + greedy left-to-right re-segmentation — is
        // VOCABULARY-sized, with the 1-row argmax as the only driver
        // hand-off per round (how production BPE trainers distribute).
        val docs = t(s, dir, "documents")
        var cur = docs
          .select(explode(split(lower(col("text")), "[^a-z0-9]+")).as("w"))
          .filter(length(col("w")) >= 2)
          .groupBy("w").agg(count(lit(1)).as("wc"))
          .select(expr("split(w, '')").as("syms"), col("wc"))
          .localCheckpoint(true)
        val learned =
          scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
        for (i <- 1 to nMerges) {
          val top = cur.filter(size(col("syms")) >= 2)
            .select(explode(expr(
              "transform(sequence(1, size(syms) - 1), j -> " +
                "struct(element_at(syms, j) AS l, " +
                "element_at(syms, j + 1) AS r))")).as("p"), col("wc"))
            .groupBy(col("p.l").as("l"), col("p.r").as("r"))
            .agg(sum("wc").as("cnt"))
            .orderBy(col("cnt").desc, col("l").asc, col("r").asc)
            .limit(1).collect()
          if (top.nonEmpty) {
            val (l, r, c) =
              (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
            learned += ((i, l, r, c))
            // greedy left-to-right merge of (l, r) — tokens are
            // [a-z0-9]+ so literal inlining is injection-safe
            cur = cur.select(expr(
              s"""aggregate(syms, cast(array() AS array<string>),
                 |  (acc, x) -> CASE WHEN size(acc) > 0
                 |    AND element_at(acc, -1) = '$l' AND x = '$r'
                 |  THEN concat(slice(acc, 1, size(acc) - 1), array('$l$r'))
                 |  ELSE concat(acc, array(x)) END)""".stripMargin)
              .as("syms"), col("wc"))
              .localCheckpoint(true)
          }
        }
        import s.implicits._
        learned.toSeq.toDF("rank", "l", "r", "cnt")
          .select(col("rank"), col("l"), col("r"),
            concat(col("l"), col("r")).as("pair"), col("cnt"))
      }, {
        // Oracle for `text_bpe_learn`: the iterative merge loop unrolled —
        // per round, adjacent-pair counts over the CURRENT segmentation
        // (DuckDB symbol lists), the (cnt DESC, l, r) argmax, then greedy
        // left-to-right re-segmentation via the delimiter-string replace
        // trick (global `replace` over ␟-wrapped tokens merges
        // non-overlapping left-to-right, the same semantics as the
        // engine's array fold — verified on the 'abab'→'ab ab' and
        // 'aaa'→'aa a' shapes).
        //
        // Every chain CTE is `AS MATERIALIZED`: each `w$i` is referenced
        // twice (p$i and w${i+1}) and each `t$i` five times (four scalar
        // subqueries in the replace plus the final UNION), so DuckDB's
        // per-reference CTE inlining re-evaluates the whole prefix
        // exponentially (2^rounds) without the fence — the r7 gate measured
        // >650 s for 6 rounds at sf0.01; materialized it is seconds.
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
      })
    },

    locally {
      val nMerges = 8
      QueryDef("text_bpe_encode", (s, dir) => {
        // apply a trained BPE merge table corpus-wide: the per-document
        // post-merge token count (the number that prices packing, token
        // budgets, and per-token costs). The merge table is the top-8
        // first-pass pairs (count desc, pair asc — the trained artifact
        // text_bpe_pairs verifies); collecting 8 rows is the
        // broadcast-small artifact hand-off, and the encode itself is
        // ONE map-only native expression per doc, O(len · merges),
        // inside whole-stage codegen.
        val docs = t(s, dir, "documents")
        val merges = TextFunctions.bpePairCounts(docs, "text", nMerges)
          .collect().map(_.getString(0)).toSeq
        val ws = "filter(split(lower(text), '[^a-z0-9]+'), " +
          "w -> length(w) >= 1)"
        docs.select(col("doc_id"),
          size(expr(ws)).as("n_words"),
          expr(s"aggregate($ws, 0L, (a, x) -> a + length(x))")
            .as("n_chars"),
          graft.expressions.BpeCol.bpe_token_count(col("text"), merges)
            .as("n_tokens"))
      }, {
        // Oracle for `text_bpe_encode`: re-derives the top-`nMerges` merge
        // table exactly like the `text_bpe_pairs` oracle, then emulates the
        // engine's rank-ordered left-to-right merge passes WITHOUT recursion.
        // Each token is wrapped in its OWN delimiter pair (`D tok D`, D =
        // chr(31), never inside an `[a-z0-9]` word), so a word starts as
        // `Dc1DDc2D...DcnD` and one merge pass is ONE SQL `replace(DaDDbD →
        // DabD)`. Each match consumes exactly two complete self-contained token
        // wrappers — adjacent candidate pairs share NO characters (an
        // interleaved `Dc1Dc2D` encoding would make neighboring matches share a
        // delimiter, and `replace`'s non-overlapping scan would skip every
        // other merge: "bbbb" with (b,b) must give 2 tokens, not 3).
        // Left-to-right non-overlapping `replace` is then bit-for-bit the
        // engine's token-level pass ([[graft.expressions.BpeOps.wordTokens]]).
        // Token count = delimiter count / 2. Missing ranks (tiny corpora) fall
        // back to an unmatchable chr(1) pair.
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
      })
    },

    QueryDef("text_readability", (s, dir) => {
      // per-corpus-slice readability audit: Flesch reading-ease over
      // (source, lang), from exact integer counts — words (whitespace
      // tokens), sentences (split on [.!?]+; the synthetic fixture has
      // no sentence punctuation, so each doc degenerates to ONE
      // sentence and the words/sentence term carries the doc length —
      // real corpora split properly through the same regex), and
      // syllables approximated as vowel GROUPS (the standard heuristic:
      // "table" → a+e = 2). Vowel groups come from two regexp_replace
      // lengths (collapse-vs-delete difference), identical semantics in
      // both engines. Per-doc score in e3 fixed point with integer
      // division, then an exact integer sum per slice — no float ever
      // enters, so the oracle matches bit-for-bit. Map-only over the
      // corpus + a tiny rollup: the 100 TB shape of every quality gate.
      val txt = t(s, dir, "documents")
        .filter(length(trim(col("text"))) > 0)
      val scored = txt.select(col("source"), col("lang"),
          size(split(trim(col("text")), "\\s+")).cast("long").as("w"),
          greatest(size(expr(
            "filter(split(text, '[.!?]+'), x -> length(trim(x)) > 0)")),
            lit(1)).cast("long").as("sent"),
          (length(regexp_replace(lower(col("text")), "[aeiou]+", "V"))
            - length(regexp_replace(lower(col("text")), "[aeiou]+", "")))
            .cast("long").as("syll"))
        .withColumn("flesch_e3",
          expr("206835 - (1015 * w) div sent - (84600 * syll) div w"))
      scored.groupBy("source", "lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("w").as("n_words"), sum("syll").as("n_syllables"),
          sum("flesch_e3").as("sum_flesch_e3"))
    },
      """WITH d AS (
        |  SELECT source, lang,
        |    len(string_split_regex(trim(text), '\s+'))::BIGINT AS w,
        |    greatest(len(list_filter(string_split_regex(text, '[.!?]+'),
        |      x -> trim(x) != '')), 1)::BIGINT AS sent,
        |    (length(regexp_replace(lower(text), '[aeiou]+', 'V', 'g'))
        |     - length(regexp_replace(lower(text), '[aeiou]+', '', 'g'))
        |    )::BIGINT AS syll
        |  FROM documents WHERE length(trim(text)) > 0),
        |f AS (
        |  SELECT source, lang, w, syll,
        |    (206835 - (1015 * w) // sent - (84600 * syll) // w)::BIGINT
        |      AS flesch_e3
        |  FROM d)
        |SELECT source, lang, count(*)::BIGINT AS n_docs,
        |  sum(w)::BIGINT AS n_words, sum(syll)::BIGINT AS n_syllables,
        |  sum(flesch_e3)::BIGINT AS sum_flesch_e3
        |FROM f GROUP BY source, lang""".stripMargin),

    QueryDef("text_kn_bigram", (s, dir) => {
      // Kneser-Ney smoothed bigram LM trained corpus-wide (Kneser &
      // Ney '95, the workhorse n-gram smoother): P(w2|w1) =
      // (c12−d)/c1 + d·N1+(w1,·)/c1 · N1+(·,w2)/N1+(·,·), discount
      // d = 3/4 — every term a ratio of exact integer counts, held in
      // e6 fixed point with integer division (the fixed-point form IS
      // the query's determinism contract; it tracks the real-valued
      // formula to ~1e-6). Bigrams come from a MAP-ONLY zip of each
      // token array with its own tail — no position self-join — and
      // every frame after the (w1,w2) rollup is vocabulary²-bounded.
      // Top-30 by smoothed probability, fully tie-broken.
      val d = t(s, dir, "documents")
        .filter(length(trim(col("text"))) > 0)
        .select(split(lower(trim(col("text"))), "\\s+").as("a"))
        .filter(size(col("a")) >= 2)
      val bg = d.select(explode(expr(
          "zip_with(slice(a, 1, size(a) - 1), slice(a, 2, size(a) - 1), " +
            "(x, y) -> named_struct('w1', x, 'w2', y))")).as("z"))
        .select(col("z.w1").as("w1"), col("z.w2").as("w2"))
      val c12 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
        .localCheckpoint(true) // three marginal rollups read it
      val c1 = c12.groupBy("w1")
        .agg(sum("c12").as("c1"), count(lit(1)).as("n1w1"))
      val r = c12.groupBy("w2").agg(count(lit(1)).as("n1r"))
      val tot = c12.agg(count(lit(1)).as("n1tot"))
      c12.join(c1, Seq("w1")).join(r, Seq("w2"))
        .crossJoin(broadcast(tot))
        .select(col("w1"), col("w2"), col("c12"), col("c1"),
          (expr("((4*c12 - 3) * 1000000) div (4*c1)") +
            expr("(3 * n1w1 * ((n1r * 1000000) div n1tot)) div (4*c1)"))
            .as("p_kn_e6"))
        .orderBy(col("p_kn_e6").desc, col("w1").asc, col("w2").asc)
        .limit(30)
    },
      """WITH toks AS (
        |  SELECT regexp_split_to_array(lower(trim(text)), '\s+') AS a
        |  FROM documents WHERE length(trim(text)) > 0),
        |bg AS (SELECT unnest(a[1:len(a)-1]) AS w1,
        |    unnest(a[2:len(a)]) AS w2
        |  FROM toks WHERE len(a) >= 2),
        |c12 AS (SELECT w1, w2, count(*)::BIGINT AS c12
        |  FROM bg GROUP BY 1, 2),
        |c1 AS (SELECT w1, sum(c12)::BIGINT AS c1,
        |    count(*)::BIGINT AS n1w1 FROM c12 GROUP BY 1),
        |r AS (SELECT w2, count(*)::BIGINT AS n1r FROM c12 GROUP BY 1),
        |tot AS (SELECT count(*)::BIGINT AS n1tot FROM c12),
        |p AS (SELECT c.w1, c.w2, c.c12, a.c1,
        |    (((4*c.c12 - 3) * 1000000) // (4*a.c1)
        |     + (3 * a.n1w1 * ((r.n1r * 1000000) // t.n1tot))
        |       // (4*a.c1))::BIGINT AS p_kn_e6
        |  FROM c12 c JOIN c1 a USING (w1) JOIN r USING (w2)
        |  CROSS JOIN tot t)
        |SELECT w1, w2, c12, c1, p_kn_e6 FROM p
        |ORDER BY p_kn_e6 DESC, w1, w2 LIMIT 30""".stripMargin)
  )
}
