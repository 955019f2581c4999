package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Clustering, Curation, Dedup, ExactGrid, Graph,
  Importance, Packing, Sampling, TextFunctions}
import graft.multimodal.Multimodal
import graft.OracleSql.{adaptiveKSql, componentCtes, idHashCtes, kmeansCtes,
  roundSpark, tokenHashCtes}
import graft.queries.QueryKit._

/** Training-data curation: quality gates, sampling, leakage-safe splits,
  * training mixes and sequence packing.
  */
object CurationQueries {

  /** curate_quality_gate oracle, shared with training_mix_semantic (the
    * composed mix must gate with the same probabilities the standalone
    * query verifies).
    */
  private lazy val QualityGateOracle: String =
    s"""WITH q AS ($QualityOracle),
       |n AS (
       |  SELECT doc_id,
       |    (CASE WHEN length(trim(text)) = 0 THEN 0
       |          ELSE len(regexp_split_to_array(trim(text), '\\s+')) END)::BIGINT
       |      AS n_tokens
       |  FROM documents),
       |z AS (
       |  SELECT q.doc_id,
       |    -1.4 + q.quality * 2.2 +
       |      least(n.n_tokens / 256.0, 1.0) * 1.1 AS z
       |  FROM q JOIN n USING (doc_id)),
       |p AS (
       |  SELECT doc_id,
       |    round(CAST(CAST((0.5 + 0.5 * z / (1.0 + abs(z)))
       |      AS VARCHAR) AS DECIMAL(38,20)), 4)::DOUBLE AS keep_prob
       |  FROM z)
       |SELECT doc_id, keep_prob, keep_prob >= 0.5 AS keep FROM p""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("split_leakage_safe", (s, dir) => {
      // group-aware train/val/test split: the SPLIT UNIT is the
      // near-dup CLUSTER, so a training doc can never have an eval-set
      // near-duplicate — the leakage a doc-keyed hash split permits
      // (split_train_val_test is that baseline). Cluster reps from
      // connected components over the MinHash-LSH graph; singletons
      // are their own rep; the REP id hashes into 0.9/0.05/0.05
      // buckets, so membership is stable as the corpus grows and
      // every cluster member shares a split by construction.
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minHashCandidates(docs, "doc_id", "text")
        .filter(col("est_jaccard") >= 0.5)
      val comp = Graph.components(pairs, "id_a", "id_b")
      docs.select("doc_id")
        .join(comp, Seq("doc_id"), "left")
        .withColumn("rep", coalesce(col("rep_id"), col("doc_id")))
        .select(col("doc_id"), col("rep"),
          Sampling.assignSplit(col("rep"),
            Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
            .as("split"))
    },
      // Oracle for `split_leakage_safe`: component closure (the
      // `dedup_components` CTEs), singleton docs their own rep, the REP id
      // hashed through the XXH64 chain into the same 0.9/0.05/0.05 buckets as
      // the `split_train_val_test` oracle — so every member of a near-dup
      // cluster lands in the same split.
      s"""WITH RECURSIVE ${nearDupCtes},
         |${componentCtes(NumHashes)},
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
         |FROM full_docs f JOIN bk USING (rep)""".stripMargin),

    QueryDef("curate_canonical_docs", (s, dir) => {
      // canonical-doc selection: per near-dup cluster keep the highest-
      // quality member (ties to the smaller id) via the bounded
      // top-1-by aggregate — map-side partials, never a cluster-wide
      // window sort; the production step between dedup and training mix
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minHashCandidates(docs, "doc_id", "text")
        .filter(col("est_jaccard") >= 0.5)
      val comp = Graph.components(pairs, "id_a", "id_b")
      val q = docs.select(col("doc_id"),
        functions.TextFunctions.qualityScore(col("text")).as("quality"))
      val j = comp.join(q, Seq("doc_id"))
      val ord = round(col("quality") * 10000).cast("long") *
        lit(1L << 40) - col("doc_id")
      functions.Curation.capPerGroup(j, "rep_id", "doc_id", ord, 1)
        .select(col("rep_id").as("cluster_rep"),
          col("doc_id").as("canonical_id"), col("quality"))
    }, {
      // Oracle for `curate_canonical_docs`: the component closure joined
      // to the quality oracle; per cluster the (quality desc, doc_id asc)
      // winner — mirroring the bounded top-1-by aggregate.
      s"""WITH RECURSIVE ${nearDupCtes},
         |${componentCtes(NumHashes)},
         |q AS ($QualityOracle),
         |j AS (SELECT c.rep_id, c.doc_id, q.quality
         |      FROM comp c JOIN q USING (doc_id)),
         |r AS (SELECT rep_id, doc_id, quality,
         |        row_number() OVER (PARTITION BY rep_id
         |          ORDER BY CAST(round(quality * 10000) AS BIGINT) DESC,
         |                   doc_id ASC) AS rn
         |      FROM j)
         |SELECT rep_id AS cluster_rep, doc_id AS canonical_id, quality
         |FROM r WHERE rn = 1""".stripMargin
    }),

    QueryDef("pack_training", (s, dir) => {
      // context-window packing: shard-local concat-and-chunk at a 2048-
      // token budget over 100-id shards
      Packing.packForTraining(t(s, dir, "documents"), "doc_id",
        TextFunctions.subwordCount(col("text")),
        budgetTokens = 2048, shardSize = 100)
        .select("doc_id", "n_tokens", "shard", "pack_in_shard",
          "pack_offset")
    },
      """WITH n0 AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]'))
        |      AS BIGINT) AS n_tokens,
        |    CAST(doc_id // 100 AS BIGINT) AS shard
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tokens, shard,
        |    sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id)
        |      - n_tokens AS strt
        |  FROM n0)
        |SELECT doc_id, n_tokens, shard,
        |  CAST(strt // 2048 AS BIGINT) AS pack_in_shard,
        |  CAST(strt - (strt // 2048) * 2048 AS BIGINT) AS pack_offset
        |FROM c""".stripMargin),

    QueryDef("pack_bestfit", (s, dir) => {
      // BEST-FIT-DECREASING context-window packing — the padding-
      // minimizing counterpart of pack_training's arrival-order
      // concat-and-chunk: within each 100-id shard, docs sorted by
      // token count DESC are placed into the FULLEST bin that still
      // fits (ties → lowest bin), else a new bin opens. BFD is the
      // classic 11/9·OPT+1 guarantee; on this fixture it fills bins
      // to exactly the 2048 cap where arrival-order packing leaves
      // padding. The whole shard folds in ONE codegen'd higher-order
      // aggregate (state = bin loads + assignments, ≤ shardSize
      // each); shards are independent, so the corpus-sized work is
      // one (shard)-keyed rollup — the same distribution contract as
      // pack_training, just a smarter local packer. All arithmetic is
      // integer; the oracle replays the identical fold as a recursive
      // CTE (argmax-fitting-bin with strict > ⇒ identical
      // tie-breaks).
      val cap = 2048
      val arr = t(s, dir, "documents")
        .select(col("doc_id"),
          TextFunctions.subwordCount(col("text")).cast("long")
            .as("n_tokens"))
        .withColumn("shard", expr("doc_id div 100"))
        .groupBy("shard")
        .agg(sort_array(collect_list(struct(
          (-col("n_tokens")).as("s1"), col("doc_id").as("id"),
          col("n_tokens").as("t")))).as("arr"))
      val best = s"IF(size(acc.loads) = 0, 0," +
        s" aggregate(sequence(1, size(acc.loads))," +
        s" named_struct('i', 0, 'l', cast(-1 as bigint))," +
        s" (b, i) -> IF(element_at(acc.loads, i) + e.t <= $cap" +
        s" AND element_at(acc.loads, i) > b.l," +
        s" named_struct('i', i, 'l', element_at(acc.loads, i)), b)).i)"
      val fold =
        s"""aggregate(arr,
           |  named_struct(
           |    'loads', cast(array() as array<bigint>),
           |    'asg', cast(array() as
           |      array<struct<id: bigint, bin: int, t: bigint>>)),
           |  (acc, e) -> named_struct(
           |    'loads',
           |      CASE WHEN ($best) > 0
           |        THEN transform(acc.loads,
           |          (l, j) -> IF(j + 1 = ($best), l + e.t, l))
           |        ELSE concat(acc.loads, array(e.t)) END,
           |    'asg', concat(acc.asg, array(named_struct(
           |      'id', e.id,
           |      'bin', cast(IF(($best) > 0, ($best),
           |        size(acc.loads) + 1) as int),
           |      't', e.t)))))""".stripMargin
      arr.select(col("shard"), expr(fold).as("res"))
        .select(col("shard"), explode(col("res.asg")).as("a"))
        .select(col("a.id").as("doc_id"), col("a.t").as("n_tokens"),
          col("shard"), col("a.bin").as("bin"))
    },
      """WITH RECURSIVE n0 AS MATERIALIZED (
        |  SELECT doc_id, CAST(len(regexp_extract_all(text,
        |    '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |tk AS MATERIALIZED (
        |  SELECT doc_id, doc_id // 100 AS shard, n_tokens,
        |    row_number() OVER (PARTITION BY doc_id // 100
        |      ORDER BY n_tokens DESC, doc_id ASC) AS rk
        |  FROM n0),
        |cnt AS MATERIALIZED (
        |  SELECT shard, count(*)::BIGINT AS m FROM tk GROUP BY 1),
        |st AS (
        |  SELECT shard, 0::BIGINT AS k, []::BIGINT[] AS loads,
        |    []::STRUCT(id BIGINT, bin INTEGER, t BIGINT)[] AS asg
        |  FROM cnt
        |  UNION ALL
        |  SELECT s.shard, s.k + 1, u.newloads, u.newasg
        |  FROM st s
        |  JOIN tk t ON t.shard = s.shard AND t.rk = s.k + 1,
        |  LATERAL (SELECT CASE WHEN len(s.loads) = 0 THEN 0
        |    ELSE list_reduce(
        |      list_concat([0::BIGINT], range(1, len(s.loads) + 1)),
        |      (b, i) -> CASE WHEN s.loads[i] + t.n_tokens <= 2048
        |        AND (b = 0 OR s.loads[i] > s.loads[b])
        |        THEN i ELSE b END)
        |    END AS best) bb,
        |  LATERAL (SELECT
        |    CASE WHEN bb.best > 0
        |      THEN list_transform(range(1, len(s.loads) + 1),
        |        j -> CASE WHEN j = bb.best
        |          THEN s.loads[j] + t.n_tokens ELSE s.loads[j] END)
        |      ELSE list_append(s.loads, t.n_tokens) END AS newloads,
        |    list_append(s.asg, {'id': t.doc_id,
        |      'bin': (CASE WHEN bb.best > 0 THEN bb.best
        |        ELSE len(s.loads) + 1 END)::INTEGER,
        |      't': t.n_tokens}) AS newasg) u
        |),
        |fin AS (
        |  SELECT st.shard, st.asg FROM st
        |  JOIN cnt ON cnt.shard = st.shard AND st.k = cnt.m)
        |SELECT a.id AS doc_id, a.t AS n_tokens, fin.shard, a.bin
        |FROM fin, LATERAL (SELECT unnest(asg) AS a) x""".stripMargin),

    locally {
      val (iters, minCos, targetClusterSize, minK) = (3, 0.4, 256, 8)
      val (budgetTokens, shardSize) = (2048, 100)
      QueryDef("training_mix_semantic", (s, dir) => {
        // the embedding-side training mix, end to end: within-cluster
        // semantic near-dups dropped, the linear quality gate, shard-
        // local context-window packing — each stage independently
        // oracle-verified, composed here (the vector twin of training_mix)
        val docs = t(s, dir, "documents")
        val drops = Clustering.semanticDedupAdaptive(
          t(s, dir, "embeddings"), "vec_id", "embedding",
          iters, minCos, targetClusterSize, minK)
          .select(col("vec_id").as("doc_id"))
        val quality = TextFunctions.qualityScore(col("text"))
        val lenNorm = least(
          TextFunctions.tokenCount(col("text")).cast("double") / lit(256.0),
          lit(1.0))
        val gated = docs.join(drops, Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("text"),
            Curation.linearKeepProb(-1.4, quality -> 2.2, lenNorm -> 1.1)
              .as("keep_prob"))
          .filter(col("keep_prob") >= 0.5)
        Packing.packForTraining(gated, "doc_id",
          TextFunctions.subwordCount(col("text")),
          budgetTokens, shardSize)
          .select("doc_id", "keep_prob", "n_tokens", "shard",
            "pack_in_shard", "pack_offset")
      }, {
        // Oracle for `training_mix_semantic`: the composed embedding-side mix
        // — `semSql` (the dedup_semantic oracle) names the dropped vec_ids,
        // `QualityGateOracle` (the curate_quality_gate oracle) supplies
        // keep_prob, and the survivors pack with the same shard-local cumsum
        // as `pack_training`.
        val semSql = OracleSql.dedupSemantic(targetClusterSize, minK, iters,
          dim = EmbeddingDim, minCos)
        s"""WITH sem AS ($semSql),
           |gate AS ($QualityGateOracle),
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
      })
    },

    QueryDef("pack_length_batches", (s, dir) => {
      // length-bucketed inference batching: similar-length docs fill
      // 512-token batches within (16-token-wide bucket, 2000-id shard)
      // — one hash shuffle, shard-local window cumsum, no global sort
      Packing.batchByLength(
        t(s, dir, "documents").select("doc_id", "text"),
        "doc_id", TextFunctions.tokenCount(col("text")),
        bucketWidth = 16, budgetTokens = 512, shardSize = 2000)
        .select("doc_id", "bucket", "shard", "n_tokens", "batch_in_shard")
    },
      """WITH n0 AS (
        |  SELECT doc_id,
        |    (CASE WHEN length(trim(text)) = 0 THEN 0
        |          ELSE len(regexp_split_to_array(trim(text), '\s+')) END)::BIGINT
        |      AS n_tokens
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(n_tokens // 16 AS BIGINT) AS bucket,
        |    CAST(doc_id // 2000 AS BIGINT) AS shard
        |  FROM n0),
        |c AS (
        |  SELECT doc_id, bucket, shard, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY bucket, shard ORDER BY doc_id)
        |      - n_tokens AS strt
        |  FROM b)
        |SELECT doc_id, bucket, shard, n_tokens,
        |  CAST(strt // 512 AS BIGINT) AS batch_in_shard
        |FROM c""".stripMargin),

    locally {
      val (minQuality, enRate, defaultRate) = (0.5, 0.5, 0.9)
      val (budgetTokens, shardSize) = (2048L, 100L)
      QueryDef("training_mix", (s, dir) => {
        // the composed pipeline, end to end: near-dup clusters resolved and
        // non-representatives dropped, quality gate, per-language
        // deterministic sampling, shard-local context-window packing —
        // every stage independently oracle-verified, composed here
        val docs = t(s, dir, "documents")
        val pairs = Dedup.minHashCandidates(docs, "doc_id", "text",
            numHashes = NumHashes, rowsPerBand = RowsPerBand)
          .filter(col("est_jaccard") >= 0.5)
        val drops = Graph.components(pairs, "id_a", "id_b")
          .filter(col("rep_id") =!= col("doc_id")).select("doc_id")
        val enriched = docs.select(col("doc_id"), col("text"),
          TextFunctions.langId(col("text")).as("lang_pred"),
          TextFunctions.qualityScore(col("text")).as("quality"))
          .join(drops, Seq("doc_id"), "left_anti")
          .filter(col("quality") >= minQuality)
        val sampled = Sampling.sampleStratified(enriched, "doc_id",
          col("lang_pred"), Map("en" -> enRate), defaultRate)
        Packing.packForTraining(sampled, "doc_id",
          TextFunctions.subwordCount(col("text")), budgetTokens, shardSize)
          .select("doc_id", "lang_pred", "quality", "n_tokens", "shard",
            "pack_in_shard", "pack_offset")
      }, {
        // Oracle for `training_mix` — the composed pipeline: quality filter,
        // near-dup removal (cluster non-representatives dropped), stratified
        // hash sampling over the language strata, then shard-local sequence
        // packing of the survivors. Every stage reuses the independently
        // verified oracle formulation.
        val enThreshold = (enRate * 1000000).toLong
        val defaultThreshold = (defaultRate * 1000000).toLong
        s"""WITH RECURSIVE ${nearDupCtes},
           |${componentCtes(NumHashes)},
           |drops AS (SELECT doc_id FROM comp WHERE rep_id <> doc_id),
           |lang AS ($LangIdOracle),
           |qual AS ($QualityOracle),
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
      })
    },

    locally {
      val (dim, targetLang) = (4096, "en")
      QueryDef("curate_dsir_sample", (s, dir) => {
        // DSIR: importance weights of every doc toward the en slice
        // (hashed-unigram target/raw likelihood ratio), then a one-row
        // percentile reduce broadcast back as the top-quartile gate —
        // no global sort, no window
        val w = Importance.dsirWeights(t(s, dir, "documents"),
          "doc_id", "text", col("lang") === targetLang, dim)
        val th = w.agg(percentile(col("imp_weight"), lit(0.75)).as("p75"))
        w.crossJoin(broadcast(th))
          .select(col("doc_id"), col("n_tokens"), col("imp_weight"),
            (col("imp_weight") > col("p75")).as("keep"))
      }, {
        // Oracle for `curate_dsir_sample`: DSIR importance weights from the
        // same token-xxhash bucket stream — add-one-smoothed bucket models
        // for the target slice vs the raw corpus, per-doc position-ordered
        // fold of the `ln` ratio terms (identical long counts → identical
        // IEEE doubles on both engines, same contract as `text_perplexity`),
        // top-quartile keep via `quantile_cont` over the rounded weights
        // (the `percentile` mirror established by `curate_quality_bins`).
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
      })
    },

    QueryDef("sample_quality_weighted", (s, dir) => {
      // quality-proportional keep: each doc survives with probability
      // equal to its (rounded, deterministic) quality score — one
      // map-only hash-gated pass, monotone in the score
      val docs = t(s, dir, "documents")
      Sampling.sampleWeighted(docs, "doc_id",
        TextFunctions.qualityScore(col("text")))
        .select("doc_id", "source")
    }, {
      // Oracle for `sample_quality_weighted`: the weighted Bernoulli gate —
      // keep iff `xxhash64(doc_id) pmod 1e6 < floor(quality·1e6)`, with the
      // quality score from the shared quality oracle (`QualityOracle` reused
      // verbatim so both queries share one definition of the weight).
      s"""WITH q AS ($QualityOracle),
         |${idHashCtes()}
         |SELECT h.doc_id, d.source
         |FROM hashed h
         |JOIN q ON q.doc_id = h.doc_id
         |JOIN documents d ON d.doc_id = h.doc_id
         |WHERE ((h.hv % 1000000) + 1000000) % 1000000 <
         |  CAST(floor(q.quality * 1000000) AS BIGINT)""".stripMargin
    }),

    locally {
      val (iters, targetClusterSize, minK, quota, dim) =
        (3, 256, 8, 16, EmbeddingDim)
      QueryDef("curate_cluster_quota", (s, dir) => {
        // semantic-diversity pruning: at most 16 members per k-means
        // cluster, chosen by deterministic id-hash — winner ids from the
        // bounded top-k aggregate, never a window sort
        val emb = t(s, dir, "embeddings")
        val assigned = Clustering.kmeansAssignAdaptive(emb, "vec_id",
          "embedding", iters, targetClusterSize, minK)
          .select("vec_id", "cluster")
        Clustering.clusterQuota(assigned, "vec_id", "cluster", quota)
      },
        // Oracle for `curate_cluster_quota`: the adaptive k-means assignment
        // (same CTEs as `cluster_kmeans`) with at most `quota` members kept
        // per cluster by xxhash64(vec_id) DESCENDING — the same top-k-by-hash
        // winner set the bounded aggregate produces.
        s"""WITH ${kmeansCtes(adaptiveKSql(targetClusterSize, minK), iters, dim)},
           |${idHashCtes("embeddings", "vec_id")},
           |r AS (
           |  SELECT f.vec_id, f.cluster,
           |    row_number() OVER (PARTITION BY f.cluster
           |      ORDER BY h.hv DESC, f.vec_id ASC) AS rn
           |  FROM fin f JOIN hashed h ON h.vec_id = f.vec_id)
           |SELECT vec_id, cluster FROM r WHERE rn <= $quota""".stripMargin)
    },

    locally {
      val (enRate, defaultRate) = (0.25, 0.75)
      QueryDef("sample_stratified", (s, dir) => {
        // deterministic per-language training-mix sampling: en kept at
        // 25%, everything else at 75% — map-only, partition-independent.
        // eagerStratum pins the gate above the langId projection, so the
        // derived stratum evaluates once per row, not once in the pushed
        // filter and again in the output projection
        val withLang = t(s, dir, "documents").select(col("doc_id"),
          TextFunctions.langId(col("text")).as("lang_pred"))
        Sampling.sampleStratified(withLang, "doc_id", col("lang_pred"),
          Map("en" -> enRate), defaultRate, eagerStratum = true)
          .select("doc_id", "lang_pred")
      }, {
        // Oracle for `sample_stratified`: the deterministic hash gate
        // (xxhash64(doc_id) pmod 1e6 under a per-language threshold) over the
        // language-ID strata; `LangIdOracle` is the text_langid oracle,
        // reused verbatim as a CTE so both queries share one definition of
        // the stratum.
        val enThreshold = (enRate * 1000000).toLong
        val defaultThreshold = (defaultRate * 1000000).toLong
        s"""WITH lang AS ($LangIdOracle),
           |${idHashCtes()}
           |SELECT h.doc_id, l.lang_pred
           |FROM hashed h JOIN lang l ON l.doc_id = h.doc_id
           |WHERE ((h.hv % 1000000) + 1000000) % 1000000 <
           |  CASE WHEN l.lang_pred = 'en' THEN $enThreshold ELSE $defaultThreshold END""".stripMargin
      })
    },

    QueryDef("sample_temperature", (s, dir) => {
      // alpha=0.5 temperature resampling over sources: one narrow count
      // pass sizes each source, then a map-only id-hash gate keeps each
      // source at floor(1e6*sqrt(n_min/n)) per million — thresholds are
      // sqrt-exact, so the oracle reproduces them bit-for-bit
      Sampling.sampleTemperature(t(s, dir, "documents"), "doc_id",
        "source", alpha = 0.5)
        .select("doc_id", "source")
    },
      // Oracle for `sample_temperature`: per-source counts → temperature
      // keep-thresholds `floor(1e6 * sqrt(n_min/n))` (alpha = 0.5; `sqrt`
      // is correctly rounded under IEEE 754 in both engines, so the
      // thresholds match bit-for-bit) → the same xxhash64(doc_id) gate as
      // `sample_stratified`.
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
         |WHERE ((h.hv % 1000000) + 1000000) % 1000000 < thr.thr""".stripMargin),

    locally {
      val fractions = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)
      QueryDef("split_train_val_test", (s, dir) => {
        // deterministic disjoint split: a doc's assignment never changes
        // as the corpus grows — leak-free eval sets across versions
        t(s, dir, "documents").select(col("doc_id"),
          Sampling.assignSplit(col("doc_id"), fractions).as("split"))
      }, {
        // Oracle for `split_train_val_test`: same id-hash bucket, same
        // cumulative thresholds, first-match-wins CASE.
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
      })
    },

    QueryDef("curate_domain_cap", (s, dir) => {
      // per-domain cap (C4/RefinedWeb-style): keep the 10 best-quality
      // docs per source. Winner ids come from the bounded top-k
      // aggregate (map-side <=k per group per partition), NOT a full
      // window sort; the packed (quality, doc_id) long makes the winner
      // set deterministic under any partitioning.
      val docs = t(s, dir, "documents").select("doc_id", "source", "text")
      val ord = Curation.qualityOrd(
        TextFunctions.qualityScore(col("text")), col("doc_id"))
      Curation.capPerGroup(docs, "source", "doc_id", ord, k = 10)
        .select("doc_id", "source")
    },
      s"""WITH q AS ($QualityOracle),
         |j AS (SELECT d.doc_id, d.source,
         |        CAST(round(q.quality * 10000) AS BIGINT) * 281474976710656
         |          - d.doc_id AS ord
         |      FROM documents d JOIN q ON q.doc_id = d.doc_id),
         |r AS (SELECT doc_id, source,
         |        row_number() OVER (PARTITION BY source ORDER BY ord DESC)
         |          AS rn
         |      FROM j)
         |SELECT doc_id, source FROM r WHERE rn <= 10""".stripMargin),

    QueryDef("curate_source_quality", (s, dir) => {
      // robust per-source quality: winsorized mean (clamped to the
      // source's own p10/p90) so a handful of junk or jackpot docs
      // can't move a source's ranking — thresholds from one per-source
      // percentile agg, the mean from exact scaled-integer sums
      val scored = t(s, dir, "documents").select(col("source"),
        TextFunctions.qualityScore(col("text")).as("q"))
      val th = scored.groupBy("source").agg(
        percentile(col("q"), lit(0.1)).as("p10"),
        percentile(col("q"), lit(0.9)).as("p90"))
      scored.join(th, Seq("source"))
        .select(col("source"),
          floor(least(greatest(col("q"), col("p10")), col("p90")) * 10000)
            .cast("long").as("c4"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("c4").as("s4"))
        .select(col("source"), col("n_docs"),
          ExactGrid.eRatio(col("s4"), col("n_docs") * lit(10000L), 10000L)
            .as("robust_mean_quality"))
    },
      s"""WITH q0 AS ($QualityOracle),
         |sq AS (
         |  SELECT d.source, q0.quality AS q
         |  FROM q0 JOIN documents d ON d.doc_id = q0.doc_id),
         |th AS (
         |  SELECT source, quantile_cont(q, 0.1) AS p10,
         |    quantile_cont(q, 0.9) AS p90
         |  FROM sq GROUP BY 1),
         |c AS (
         |  SELECT sq.source,
         |    CAST(floor(least(greatest(sq.q, th.p10), th.p90) * 10000)
         |      AS BIGINT) AS c4
         |  FROM sq JOIN th USING (source)),
         |a AS (
         |  SELECT source, count(*) AS n_docs, sum(c4)::BIGINT AS s4
         |  FROM c GROUP BY 1)
         |SELECT source, n_docs,
         |  ${OracleSql.eRatioE("s4", "n_docs * 10000", 10000L)}
         |    AS robust_mean_quality
         |FROM a""".stripMargin),

    QueryDef("curate_quality_bins", (s, dir) => {
      // equal-frequency quality quartiles: one global 3-threshold
      // percentile reduce, broadcast back, map-only binning — balanced
      // strata for A/B eval splits without a global sort. The scored
      // frame is materialized ONCE (localCheckpoint): both the
      // percentile agg and the binning consume it, and the regex-heavy
      // quality score must not be recomputed per branch
      val scored = t(s, dir, "documents").select(col("doc_id"),
        TextFunctions.qualityScore(col("text")).as("quality"))
        .localCheckpoint(true)
      val th = scored.agg(
        percentile(col("quality"), lit(0.25)).as("p25"),
        percentile(col("quality"), lit(0.5)).as("p50"),
        percentile(col("quality"), lit(0.75)).as("p75"))
      scored.crossJoin(broadcast(th))
        .select(col("doc_id"), col("quality"),
          when(col("quality") <= col("p25"), 0)
            .when(col("quality") <= col("p50"), 1)
            .when(col("quality") <= col("p75"), 2)
            .otherwise(3).as("bin"))
    },
      s"""WITH q AS ($QualityOracle),
         |th AS (
         |  SELECT quantile_cont(quality, 0.25) AS p25,
         |         quantile_cont(quality, 0.5) AS p50,
         |         quantile_cont(quality, 0.75) AS p75
         |  FROM q)
         |SELECT doc_id, quality,
         |  CASE WHEN quality <= p25 THEN 0
         |       WHEN quality <= p50 THEN 1
         |       WHEN quality <= p75 THEN 2
         |       ELSE 3 END AS bin
         |FROM q, th""".stripMargin),

    QueryDef("curate_quality_gate", (s, dir) => {
      // linear-classifier keep gate: fixed-weight score over the
      // quality signal and normalized length, squashed by the algebraic
      // sigmoid (engine-exact, no libm exp) — map-only scoring pass
      val docs = t(s, dir, "documents")
      val quality = TextFunctions.qualityScore(col("text"))
      val lenNorm = least(
        TextFunctions.tokenCount(col("text")).cast("double") / lit(256.0),
        lit(1.0))
      docs.select(col("doc_id"),
          Curation.linearKeepProb(-1.4, quality -> 2.2, lenNorm -> 1.1)
            .as("keep_prob"))
        .withColumn("keep", col("keep_prob") >= 0.5)
    }, QualityGateOracle),

    QueryDef("curate_curriculum", (s, dir) => {
      // easy-to-hard training order without a global sort: 8 interleave
      // shards each rank their own docs by token count; global position
      // deals the shards round-robin
      Curation.curriculumOrder(
        t(s, dir, "documents").select("doc_id", "text"), "doc_id",
        TextFunctions.tokenCount(col("text")).cast("long"), nShards = 8)
        .select("doc_id", "shard", "shard_rank", "global_pos")
    },
      """WITH n AS (
        |  SELECT doc_id,
        |    (CASE WHEN length(trim(text)) = 0 THEN 0
        |          ELSE len(regexp_split_to_array(trim(text), '\s+')) END)::BIGINT
        |      AS difficulty
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, CAST(doc_id % 8 AS BIGINT) AS shard, difficulty,
        |    CAST(row_number() OVER (PARTITION BY doc_id % 8
        |      ORDER BY difficulty ASC, doc_id ASC) AS BIGINT) AS shard_rank
        |  FROM n)
        |SELECT doc_id, shard, shard_rank,
        |  (shard_rank - 1) * 8 + shard AS global_pos
        |FROM r""".stripMargin),

    locally {
      val (budget, shardBits) = (4000L, 6)
      QueryDef("sample_budget_fill", (s, dir) =>
        // deterministic per-source budget fill in hash order — the
        // distributed-prefix-sum mix constructor (4000 chars per source)
        Sampling.budgetFill(t(s, dir, "documents"), "doc_id", "source",
          length(col("text")), budget, shardBits), {
            // Oracle for `sample_budget_fill`: one global per-source window
            // cumsum in (shard, hash, id) order — provably the same order as
            // the engine's two-phase shard-offset + intra-shard prefix sum.
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
          })
    },

    QueryDef("curate_pareto", (s, dir) => {
      // multi-objective skyline: documents not strictly dominated on
      // (quality, rarity) — band-pruned, never the quadratic NOT EXISTS
      val docs = t(s, dir, "documents")
      val q = docs.select(col("doc_id"),
        TextFunctions.qualityScore(col("text")).as("quality"))
      val r = TextFunctions.tokenRarity(docs, "doc_id", "text")
        .select(col("doc_id"), col("rarity"))
      val m = q.join(r, Seq("doc_id"))
        .select(col("doc_id"),
          round(col("quality") * 10000, 0).cast("long").as("quality_s"),
          round(col("rarity") * 10000, 0).cast("long").as("rarity_s"))
      Curation.paretoFront(m, "doc_id", "quality_s", "rarity_s",
        bandWidth = 64L)
    },
      s"""WITH q AS ($QualityOracle),
         |rr AS ($RarityOracle),
         |m AS (
         |  SELECT q.doc_id,
         |    CAST(round(q.quality * 10000) AS BIGINT) AS quality_s,
         |    CAST(round(rr.rarity * 10000) AS BIGINT) AS rarity_s
         |  FROM q JOIN rr ON rr.doc_id = q.doc_id)
         |SELECT m.doc_id, m.quality_s, m.rarity_s FROM m
         |WHERE NOT EXISTS (SELECT 1 FROM m m2
         |                  WHERE m2.quality_s > m.quality_s
         |                    AND m2.rarity_s > m.rarity_s)""".stripMargin),

    QueryDef("curate_quality_calibrated", (s, dir) => {
      // cross-source quality calibration: a raw score gate is unfair
      // when sources have different score distributions (a web-crawl
      // 0.6 ≠ a curated-corpus 0.6) — so each doc gets its
      // WITHIN-SOURCE percentile, in exact integer arithmetic:
      // pct = (#docs in source with strictly lower score)·10⁴ div n.
      // The corpus-sized work is one (source, score) count agg; the
      // prefix sums run on the bounded distinct-score frame
      // (sources × 10⁴ scores max) and join back broadcast.
      val docs = t(s, dir, "documents")
      val scored = docs.select(col("doc_id"), col("source"),
        round(TextFunctions.qualityScore(col("text")) * 10000, 0)
          .cast("long").as("score_s"))
      val g = scored.groupBy("source", "score_s")
        .agg(count(lit(1)).as("cnt"))
      val wPre = Window.partitionBy("source").orderBy("score_s")
        .rowsBetween(Window.unboundedPreceding, -1)
      val wAll = Window.partitionBy("source")
      val pctMap = g
        .withColumn("below", coalesce(sum("cnt").over(wPre), lit(0L)))
        .withColumn("n", sum("cnt").over(wAll))
        .select(col("source"), col("score_s"),
          expr("(below * 10000) div n").as("pct"))
      scored.join(broadcast(pctMap), Seq("source", "score_s"))
        .select(col("doc_id"), col("source"), col("score_s"), col("pct"))
    },
      s"""WITH q AS ($QualityOracle),
         |sc AS (
         |  SELECT d.doc_id, d.source,
         |    CAST(round(q.quality * 10000) AS BIGINT) AS score_s
         |  FROM documents d JOIN q ON q.doc_id = d.doc_id),
         |g AS (
         |  SELECT source, score_s, count(*) AS cnt
         |  FROM sc GROUP BY 1, 2),
         |pm AS (
         |  SELECT source, score_s,
         |    ((coalesce(sum(cnt) OVER (PARTITION BY source
         |        ORDER BY score_s
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |        0)::BIGINT * 10000)
         |      // (sum(cnt) OVER (PARTITION BY source))::BIGINT)::BIGINT
         |      AS pct
         |  FROM g)
         |SELECT sc.doc_id, sc.source, sc.score_s, pm.pct
         |FROM sc JOIN pm USING (source, score_s)""".stripMargin),

    QueryDef("curate_multimodal_dedup", (s, dir) => {
      // cross-modal canonicalization: a doc survives only if it is the
      // canonical owner of BOTH its image identity (identical aHash —
      // the fixture plants exact image twins at id ± 256) and its
      // acoustic identity (same frame count + energy-rhythm
      // fingerprint). The composition every multimodal training
      // pipeline runs before packing: text/image/audio dedup keys
      // computed once each (real codec paths), canonical = min id per
      // signature group, one narrow join per modality. The signature-
      // canon frames scale with the corpus → NO broadcast hints.
      val docs = t(s, dir, "documents")
      // r15: each modality's signature frame is referenced twice (the
      // canon rollup AND the join side), and exchange reuse cannot
      // dedupe the differing subtrees — without a checkpoint the full
      // codec pipeline (render + hash, the query's dominant cost) ran
      // TWICE per modality. Lazily checkpoint each once.
      val img = Multimodal.averageHashes(
          Multimodal.renderPngImages(docs)).toDF()
        .select(col("media_id"), col("ahash"))
        .localCheckpoint(false)
      val aud = Multimodal.audioFingerprints(
          Multimodal.renderWavAudio(docs)).toDF()
        .select(col("media_id"), col("n_frames"), col("fp"))
        .localCheckpoint(false)
      val imgCanon = img.groupBy("ahash")
        .agg(min("media_id").as("img_rep"))
      val audCanon = aud.groupBy("n_frames", "fp")
        .agg(min("media_id").as("aud_rep"))
      docs.select(col("doc_id"))
        .join(img, col("doc_id") === img("media_id")).drop("media_id")
        .join(imgCanon, Seq("ahash"))
        .join(aud, col("doc_id") === aud("media_id")).drop("media_id")
        .join(audCanon, Seq("n_frames", "fp"))
        .select(col("doc_id"), col("ahash"), col("n_frames"), col("fp"),
          col("img_rep"), col("aud_rep"),
          (col("doc_id") === col("img_rep") &&
            col("doc_id") === col("aud_rep")).as("keep"))
    },
      s"""WITH img AS (
         |  SELECT media_id, ahash FROM (
         |${OracleSql.multimodalAhash()}
         |  )),
         |aud AS (SELECT media_id, n_frames, fp FROM (
         |$AudioFpOracleSql
         |  )),
         |ic AS (SELECT ahash, min(media_id) AS img_rep
         |  FROM img GROUP BY 1),
         |ac AS (SELECT n_frames, fp, min(media_id) AS aud_rep
         |  FROM aud GROUP BY 1, 2)
         |SELECT d.doc_id, i.ahash, a.n_frames, a.fp,
         |  ic.img_rep, ac.aud_rep,
         |  (d.doc_id = ic.img_rep AND d.doc_id = ac.aud_rep) AS keep
         |FROM documents d
         |JOIN img i ON i.media_id = d.doc_id
         |JOIN ic USING (ahash)
         |JOIN aud a ON a.media_id = d.doc_id
         |JOIN ac ON ac.n_frames = a.n_frames AND ac.fp = a.fp"""
        .stripMargin),

    locally {
      val k = 100
      QueryDef("sample_priority_topk", (s, dir) => {
        // PRIORITY SAMPLING (Duffield–Lund–Thorup, JACM'07): the
        // fixed-SIZE weighted sample the curation stack lacked — the
        // existing weighted gates (sample_quality_weighted,
        // sample_temperature) are Bernoulli, whose output size drifts
        // with the corpus; a training-data budget wants exactly k docs
        // with long-doc-favoring inclusion AND an unbiased weight
        // estimator. Priority q_i = w_i · 10¹² div u_i with u_i the
        // doc's deterministic xxhash64 residue (the replayable-coin
        // discipline every sampler in this engine uses), keep the k
        // largest, threshold τ = the (k+1)-th priority, and emit the
        // DLT estimator ŵ_i = max(w_i, τ) — Σŵ over the sample is
        // unbiased for Σw over the corpus. Scale: the only global op is
        // top-(k+1) — TakeOrderedAndProject, a per-partition heap +
        // driver merge of k+1 rows, NO full sort/shuffle; the window
        // runs on the k+1-row frame.
        val docs = t(s, dir, "documents")
          .filter(length(trim(col("text"))) > 0)
          .select(col("doc_id"),
            size(split(lower(trim(col("text"))), "\\s+")).cast("long")
              .as("w"))
        val pri = docs
          .withColumn("u",
            pmod(xxhash64(col("doc_id")), lit(1000000000000L)) + 1)
          .select(col("doc_id"), col("w"),
            expr("w * 1000000000000 div u").as("priority"))
        // one linear plan: rank and threshold both come from windows
        // over the k+1-row TakeOrdered output (bounded single-task
        // frames), so TakeOrderedAndProject stays visible and pinned in
        // the final physical plan — no checkpoint/rejoin to hide it
        pri.orderBy(col("priority").desc, col("doc_id").asc)
          .limit(k + 1)
          .withColumn("rn", row_number().over(
            Window.orderBy(col("priority").desc, col("doc_id").asc)))
          .withColumn("tau", max(when(col("rn") === k + 1,
            col("priority"))).over(
            Window.rowsBetween(Window.unboundedPreceding,
              Window.unboundedFollowing)))
          .filter(col("rn") <= k)
          .select(col("doc_id"), col("w"), col("priority"),
            greatest(col("w"), col("tau")).as("w_hat"))
      },
        // Oracle for `sample_priority_topk`: Duffield–Lund–Thorup priority
        // sampling — same xxhash64(doc_id) residue coin (the [[idHashCtes]]
        // chain), same integer priority w·10¹² // (u+1), top-k by
        // (priority DESC, doc_id ASC), threshold = the (k+1)-th priority,
        // estimator ŵ = max(w, τ). When the corpus has ≤ k eligible docs
        // there is no rank-(k+1) row and DLT defines NO threshold (every
        // doc is taken, ŵ = w): tau joins LEFT with a 0 fallback so the
        // oracle degrades exactly like the engine's null-skipping
        // `greatest` instead of CROSS-JOINing against an empty frame
        // (ADVICE r9).
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
           |FROM r LEFT JOIN tau ON true WHERE rn <= $k""".stripMargin)
    },

    QueryDef("curate_mmr", (s, dir) => {
      // TRUE maximal marginal relevance (Carbonell–Goldstein 1998) —
      // the greedy relevance/diversity tradeoff sim_diverse_topk's
      // label quota only approximates: each round picks
      // argmax 0.7·rel − 0.3·max-sim-to-selected. Pool = top-16
      // cosine neighbors of query 0; rel and pairwise sims land in
      // e6 longs ONCE via floor(x·1e6 + 0.5) — floor is bit-identical
      // on the identical doubles both engines already produce across
      // the ANN surface (unlike round(), whose half-up tie semantics
      // differ engine-to-engine) — so the greedy
      // argmax chain is pure integer arithmetic (score_e7 = 7·rel_e6
      // − 3·maxsim_e6) with id-asc tie-breaks. Scale: the pool bound
      // makes every round a 16-row frame; the only corpus-sized work
      // is the one broadcast-query scoring scan — MMR cost is
      // k·pool², independent of corpus size.
      import graft.expressions.exprs
      val emb = t(s, dir, "embeddings")
      val qv = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("q_vec"))
      val pool = emb.crossJoin(broadcast(qv))
        .filter(col("vec_id") =!= 0)
        .select(col("vec_id"), col("embedding"),
          floor(exprs.cosine_sim(col("q_vec"), col("embedding"))
            * 1000000.0 + 0.5).as("rel_e6"))
        .withColumn("rn", row_number().over(
          Window.orderBy(col("rel_e6").desc, col("vec_id").asc)))
        .filter(col("rn") <= 16).drop("rn")
        .localCheckpoint(true) // 5 greedy rounds + the pair frame
      val pairs = pool.select(col("vec_id").as("ia"),
          col("embedding").as("va"))
        .join(pool.select(col("vec_id").as("ib"),
          col("embedding").as("vb")), col("ia") =!= col("ib"))
        .select(col("ia"), col("ib"),
          floor(exprs.cosine_sim(col("va"), col("vb")) * 1000000.0
            + 0.5).as("sim_e6"))
        .localCheckpoint(true) // read once per greedy round
      val p0 = pool.select("vec_id", "rel_e6")
      var selected = p0
        .orderBy(col("rel_e6").desc, col("vec_id").asc).limit(1)
        .select(col("vec_id"), lit(1L).as("rank"),
          (col("rel_e6") * 7).as("mmr_e7"))
      for (r <- 2 to 5) {
        val sel = selected.select(col("vec_id").as("sid"))
        val cand = p0.join(sel, col("vec_id") === col("sid"),
            "left_anti")
          .join(pairs, col("vec_id") === col("ia"))
          .join(sel.withColumnRenamed("sid", "jb"),
            col("ib") === col("jb"))
          .groupBy("vec_id", "rel_e6")
          .agg(max("sim_e6").as("maxsim_e6"))
          .select(col("vec_id"),
            (col("rel_e6") * 7 - col("maxsim_e6") * 3).as("mmr_e7"))
        val pick = cand.orderBy(col("mmr_e7").desc, col("vec_id").asc)
          .limit(1)
          .select(col("vec_id"), lit(r.toLong).as("rank"),
            col("mmr_e7"))
        selected = selected.unionByName(pick)
      }
      selected.join(p0, Seq("vec_id"))
        .select(col("rank"), col("vec_id"), col("rel_e6"),
          col("mmr_e7"))
    }, {
      val sb = new StringBuilder
      sb ++=
        """WITH qv AS (SELECT embedding AS q FROM embeddings
          |  WHERE vec_id = 0),
          |sc0 AS (
          |  SELECT e.vec_id, e.embedding,
          |    floor(list_cosine_similarity(e.embedding::DOUBLE[],
          |      qv.q::DOUBLE[]) * 1000000.0 + 0.5)::BIGINT AS rel_e6
          |  FROM embeddings e CROSS JOIN qv WHERE e.vec_id <> 0),
          |pool AS MATERIALIZED (
          |  SELECT vec_id, embedding, rel_e6 FROM (
          |    SELECT *, row_number() OVER (
          |      ORDER BY rel_e6 DESC, vec_id ASC) AS rn FROM sc0)
          |  WHERE rn <= 16),
          |pairs AS MATERIALIZED (
          |  SELECT a.vec_id AS ia, b.vec_id AS ib,
          |    floor(list_cosine_similarity(a.embedding::DOUBLE[],
          |      b.embedding::DOUBLE[]) * 1000000.0 + 0.5)::BIGINT
          |      AS sim_e6
          |  FROM pool a JOIN pool b ON a.vec_id <> b.vec_id),
          |sel1 AS MATERIALIZED (
          |  SELECT vec_id, 1::BIGINT AS rank,
          |    (rel_e6 * 7)::BIGINT AS mmr_e7
          |  FROM pool ORDER BY rel_e6 DESC, vec_id ASC LIMIT 1)"""
          .stripMargin
      for (r <- 2 to 5) {
        val prevSels = (1 until r).map(i => s"SELECT vec_id FROM sel$i")
          .mkString(" UNION ALL ")
        sb ++=
          s""",
             |selall${r - 1} AS (${prevSels}),
             |cand$r AS (
             |  SELECT p.vec_id,
             |    (p.rel_e6 * 7 - max(pr.sim_e6) * 3)::BIGINT AS mmr_e7
             |  FROM pool p
             |  JOIN pairs pr ON pr.ia = p.vec_id
             |  JOIN selall${r - 1} s ON pr.ib = s.vec_id
             |  WHERE p.vec_id NOT IN (SELECT vec_id FROM selall${r - 1})
             |  GROUP BY p.vec_id, p.rel_e6),
             |sel$r AS MATERIALIZED (
             |  SELECT vec_id, $r::BIGINT AS rank, mmr_e7 FROM cand$r
             |  ORDER BY mmr_e7 DESC, vec_id ASC LIMIT 1)""".stripMargin
      }
      sb ++=
        """
          |SELECT u.rank, u.vec_id, p.rel_e6, u.mmr_e7
          |FROM (SELECT * FROM sel1 UNION ALL SELECT * FROM sel2
          |  UNION ALL SELECT * FROM sel3 UNION ALL SELECT * FROM sel4
          |  UNION ALL SELECT * FROM sel5) u
          |JOIN pool p ON p.vec_id = u.vec_id""".stripMargin
      sb.toString
    })
  )
}
