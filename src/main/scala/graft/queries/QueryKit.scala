package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Helpers shared by more than one query family: table loading, the
  * near-duplicate, market-basket and mutual-kNN bases, and the oracle
  * SQL that several queries verify against.
  */
object QueryKit {

  /** Oracle for the acoustic fingerprint (shared by
    * `multimodal_audio_fingerprint` and the cross-modal dedup
    * composition): per-frame energies and threshold bits recomputed
    * from the PCM sample formula.
    */
  private[queries] val AudioFpOracleSql: String =
    """WITH n AS (
      |  SELECT doc_id, CAST(800 + doc_id % 800 AS INT) AS n
      |  FROM documents),
      |sm AS (SELECT nn.doc_id, gs.i,
      |    ((nn.doc_id * 31 + gs.i * 17) % 65536) - 32768 AS s
      |  FROM n nn, LATERAL (SELECT
      |    unnest(generate_series(0, (nn.n // 100) * 100 - 1)) AS i) gs),
      |fe AS (SELECT doc_id, (i // 100)::INT AS f,
      |    sum(s * s)::BIGINT AS e FROM sm GROUP BY 1, 2),
      |agg AS (SELECT doc_id, count(*)::INT AS n_frames,
      |    sum(e)::BIGINT AS energy_sum FROM fe GROUP BY 1),
      |m AS (SELECT a.doc_id, a.n_frames, a.energy_sum,
      |    (a.energy_sum // a.n_frames)::BIGINT AS mean FROM agg a)
      |SELECT m.doc_id AS media_id, m.n_frames, m.energy_sum,
      |  coalesce(sum(CASE WHEN fe.e > m.mean
      |    THEN (1::BIGINT << fe.f) ELSE 0 END), 0)::BIGINT AS fp
      |FROM m JOIN fe USING (doc_id) GROUP BY 1, 2, 3""".stripMargin

  /** Inverse-CDF threshold table over the 2⁴⁰ hash domain for an
    * arbitrary discrete distribution: rows (value, lo, hi) with
    * m ∈ [lo, hi) → value. Gap-free and exhaustive by construction
    * (each hi is the next row's lo; the final hi is forced to 2⁴⁰).
    */
  private[queries] def cdfThresholds(pmf: Seq[(Long, Double)])
      : Seq[(Long, Long, Long)] = {
    val M = 1L << 40
    val total = pmf.map(_._2).sum
    var acc = 0.0
    val rows = pmf.map { case (k, p) =>
      val lo = math.round(acc / total * M)
      acc += p
      val hi = math.round(acc / total * M)
      (k, lo, hi)
    }
    rows.init :+ ((rows.last._1, rows.last._2, M))
  }

  private[queries] def t(s: SparkSession, dir: String,
      name: String): DataFrame =
    Tables.load(s, dir, name)

  /** MinHash banding of the near-duplicate candidate graph (16 hashes
    * in bands of 2 rows). The queries that walk [[nearDupPairs]] pass
    * the same two numbers to their oracles.
    */
  private[queries] val NumHashes = 16
  private[queries] val RowsPerBand = 2

  /** Oracle twin of [[nearDupPairs]]: the token-hash, shingle-hash and
    * MinHash-band CTEs of the same banding, ending in the `cand` pairs
    * and `sigv` signatures.
    */
  private[queries] def nearDupCtes: String =
    s"${OracleSql.tokenHashCtes()},\n${OracleSql.shingleHashCtes()},\n" +
      OracleSql.minhashCtes(NumHashes, RowsPerBand)

  /** [[nearDupCtes]] plus the near-dup graph's `edges` and `verts`. */
  private[queries] def nearDupEdgeCtes: String =
    s"$nearDupCtes,\n${OracleSql.edgeCtes(NumHashes)}"

  /** Near-duplicate document pairs: MinHash-LSH candidates with
    * estimated Jaccard >= 0.5 — the graph the graph queries and the
    * component dedups walk.
    */
  private[queries] def nearDupPairs(s: SparkSession, dir: String): DataFrame =
    graft.functions.Dedup.minHashCandidates(t(s, dir, "documents"),
        "doc_id", "text", numHashes = NumHashes, rowsPerBand = RowsPerBand)
      .filter(col("est_jaccard") >= 0.5)

  /** Opt-in scan spread (Tables.spread) for queries whose per-row map
    * work dominates a full-table exchange — custom sketch aggregates
    * that hash every row, per-document sort/shingle passes. Measured
    * per query before adoption (r14 A/B at sf0.1, runs=5): the sketch
    * queries drop ~1.0 s each, the shingle-heavy dedup twins up to
    * 2.7 s, while cheap aggregations LOSE ~1 s under a universal
    * load-time spread (each extra driver action re-pays the exchange),
    * which is why this is per-query and not in Tables.load.
    */
  private[queries] def tsp(s: SparkSession, dir: String, name: String,
      key: String): DataFrame =
    Tables.spread(Tables.load(s, dir, name), key)

  /** Per-order sorted distinct item arrays — the shared base of the
    * market-basket family (basket_lift / basket_rules /
    * basket_frequent_triples / recs_item_cosine). OPTIMIZATION r14
    * (guide §2.4): the old shape built li = distinct(orderkey, partkey)
    * and SELF-JOINED it within orders, paying the distinct exchange,
    * a second exchange by orderkey and a sort-merge self-join before
    * any pair existed. ONE groupBy(orderkey) with collect_set does the
    * per-order dedup AND the basket assembly in a single shuffle;
    * every downstream frame is then map-side from the materialized
    * baskets: item counts are an explode+rollup, co-occurrence pairs
    * explode directly from the sorted array (i < j ≡ the old
    * a.partkey < b.partkey), so the pair fan-out stays bounded by
    * basket size exactly as before. Scale: baskets is order-dimension-
    * sized with bounded arrays (the same bound the self-join relied
    * on); the checkpoint replaces 3-4 re-scans of the fact table per
    * query.
    */
  private[queries] def orderBaskets(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      // NOTE (ADVICE r14): collect_set drops null keys where the old
      // distinct(orderkey, partkey) kept them — equivalence relies on
      // l_partkey being NOT NULL, which holds for this schema (fact
      // foreign key); re-check before reusing with a nullable key.
      .agg(sort_array(collect_set(col("l_partkey"))).as("items"))
      // lazy (r15 action fusion): each consumer query's first action
      // materializes the baskets; the eager count pass is gone
      .localCheckpoint(false)

  /** All within-order item pairs (pa < pb), one row per (order, pair) —
    * map-side from the sorted basket array.
    */
  private[queries] def basketPairs(baskets: DataFrame): DataFrame =
    baskets.select(col("l_orderkey"), explode(expr(
        "flatten(transform(items, (x, i) -> transform(" +
          "slice(items, i + 2, size(items) - i - 1)," +
          " y -> named_struct('pa', x, 'pb', y))))")).as("p"))
      .select(col("l_orderkey"), col("p.pa"), col("p.pb"))

  /** Width of the fixture's `embeddings.embedding` vectors, which the
    * embedding builders and their oracles read.
    */
  private[queries] val EmbeddingDim: Int = 64

  /** The mutual-kNN graph's settings: the cosine floor, the neighbors
    * each vector keeps, and the hyperplane-LSH candidate search.
    * [[mutualKnnPairs]] builds the graph with them; the oracles of the
    * queries that walk it replay them.
    */
  private[queries] object MutualKnn {
    val (minCos, k, dim, seed) = (0.2, 3, EmbeddingDim, 42L)
    val (nTables, targetBucket, minBits, maxBits) = (8, 128, 4, 16)
  }

  /** Reciprocal top-k cosine neighbors over the LSH-banded embedding
    * candidate graph — shared by `dedup_mutual_knn` (which emits it)
    * and `graph_link_predict` (which scores the holes it leaves: a
    * degree-capped kNN graph is non-transitive by construction, so
    * two-hop pairs genuinely missing their direct edge exist).
    */
  private[queries] def mutualKnnPairs(s: SparkSession, dir: String): DataFrame = {
    import MutualKnn._
    val pairs = graft.functions.Similarity.embeddingNearDupsLshAuto(
        t(s, dir, "embeddings"), "vec_id", "embedding", minCos, dim,
        targetBucket, nTables, minBits, maxBits, seed)
      .localCheckpoint(false) // lazy: action fusion (r15)
    val sym = pairs
      .select(col("id_a").as("a"), col("id_b").as("b"), col("cos"))
      .unionByName(pairs.select(col("id_b").as("a"),
        col("id_a").as("b"), col("cos")))
    val w = Window.partitionBy("a")
      .orderBy(col("cos").desc, col("b").asc)
    val topk = sym.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
    topk.as("x")
      .join(topk.as("y"),
        col("x.a") === col("y.b") && col("x.b") === col("y.a"))
      .filter(col("x.a") < col("x.b"))
      .select(col("x.a").as("id_a"), col("x.b").as("id_b"),
        col("x.cos").as("cos"), col("x.rnk").cast("int").as("rank_ab"),
        col("y.rnk").cast("int").as("rank_ba"))
  }

  /** text_quality oracle, shared with training_mix (the quality gate
    * must agree with the verified score).
    *
    * Rounding detail: Spark's `round` does HALF_UP on the double's
    * SHORTEST DECIMAL representation (`BigDecimal.valueOf`), while
    * DuckDB's rounds the scaled binary value — they disagree exactly on
    * values that PRINT as x.xxxx5 (e.g. 0.65675 → 0.6568 vs 0.6567; 3
    * docs at sf0.1 hit this). The VARCHAR→DECIMAL hop reproduces
    * Spark's semantics: DuckDB's double→VARCHAR cast is shortest
    * round-trip, and DECIMAL rounding is half-away-from-zero (= HALF_UP
    * for the non-negative score).
    */
  private[queries] val QualityOracle: String =
    """SELECT doc_id, round(CAST(CAST((
      |  0.35 * least(length(text) / 500.0, 1.0) +
      |  0.35 * (CASE WHEN length(text) > 0 THEN
      |    length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0
      |      / length(text) ELSE 0 END) +
      |  0.2 * (CASE WHEN (CASE WHEN length(trim(text)) = 0 THEN 0
      |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END) > 0
      |    AND (length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0
      |      / (CASE WHEN length(trim(text)) = 0 THEN 1
      |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END))
      |      BETWEEN 3.0 AND 10.0
      |    THEN 1.0 ELSE 0.5 END) -
      |  0.1 * (CASE WHEN length(text) > 0 THEN
      |    least(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) * 1.0
      |      / length(text) * 10.0, 1.0) ELSE 0 END)
      |  ) AS VARCHAR) AS DECIMAL(38,20)), 4)::DOUBLE AS quality
      |FROM documents""".stripMargin

  /** text_rarity oracle, shared with curate_pareto (the skyline must
    * rank on the same rarity the standalone query verifies).
    */
  private[queries] val RarityOracle: String =
    """WITH tk AS (
      |  SELECT doc_id, unnest(list_distinct(
      |    CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
      |         ELSE regexp_split_to_array(lower(trim(text)), '\s+') END))
      |    AS tok
      |  FROM documents),
      |dfq AS (SELECT tok, count(*) AS df FROM tk GROUP BY 1),
      |n AS (SELECT count(*) AS n_docs FROM documents),
      |a AS (
      |  SELECT t.doc_id, sum(d.df)::BIGINT AS sum_df,
      |    count(*) AS n_distinct
      |  FROM tk t JOIN dfq d USING (tok) GROUP BY 1)
      |SELECT doc_id, n_distinct,
      |  round(CAST(CAST((1.0 - sum_df / (n_distinct * n_docs))
      |    AS VARCHAR) AS DECIMAL(38,20)), 4)::DOUBLE AS rarity
      |FROM a, n""".stripMargin

  /** text_langid oracle, shared with sample_stratified (the
    * sampling strata must agree with the verified language-ID).
    */
  private[queries] val LangIdOracle: String =
    """WITH s AS (
      |  SELECT doc_id, ' ' || lower(text) || ' ' AS p FROM documents),
      |sc AS (
      |  SELECT doc_id,
      |    (CASE WHEN p LIKE '% the %' THEN 1 ELSE 0 END +
      |     CASE WHEN p LIKE '% and %' THEN 1 ELSE 0 END +
      |     CASE WHEN p LIKE '% of %' THEN 1 ELSE 0 END +
      |     CASE WHEN p LIKE '% to %' THEN 1 ELSE 0 END +
      |     CASE WHEN p LIKE '% in %' THEN 1 ELSE 0 END) AS s_en,
      |    (CASE WHEN p LIKE '% der %' THEN 1 ELSE 0 END +
      |     CASE WHEN p LIKE '% die %' THEN 1 ELSE 0 END +
      |     CASE WHEN p LIKE '% und %' THEN 1 ELSE 0 END +
      |     CASE WHEN p LIKE '% das %' THEN 1 ELSE 0 END +
      |     CASE WHEN p LIKE '% ist %' THEN 1 ELSE 0 END) AS s_de,
      |    (CASE WHEN p LIKE '% el %' THEN 1 ELSE 0 END +
      |     CASE WHEN p LIKE '% la %' THEN 1 ELSE 0 END +
      |     CASE WHEN p LIKE '% que %' THEN 1 ELSE 0 END +
      |     CASE WHEN p LIKE '% los %' THEN 1 ELSE 0 END +
      |     CASE WHEN p LIKE '% una %' THEN 1 ELSE 0 END) AS s_es,
      |    (CASE WHEN p LIKE '% le %' THEN 1 ELSE 0 END +
      |     CASE WHEN p LIKE '% les %' THEN 1 ELSE 0 END +
      |     CASE WHEN p LIKE '% des %' THEN 1 ELSE 0 END +
      |     CASE WHEN p LIKE '% est %' THEN 1 ELSE 0 END +
      |     CASE WHEN p LIKE '% une %' THEN 1 ELSE 0 END) AS s_fr
      |  FROM s)
      |SELECT doc_id,
      |  CASE
      |    WHEN s_en > 0 AND s_en >= s_de AND s_en >= s_es AND s_en >= s_fr
      |      THEN 'en'
      |    WHEN s_de > 0 AND s_de > s_en AND s_de >= s_es AND s_de >= s_fr
      |      THEN 'de'
      |    WHEN s_es > 0 AND s_es > s_en AND s_es > s_de AND s_es >= s_fr
      |      THEN 'es'
      |    WHEN s_fr > 0 AND s_fr > s_en AND s_fr > s_de AND s_fr > s_es
      |      THEN 'fr'
      |    ELSE 'und' END AS lang_pred
      |FROM sc""".stripMargin
}
