package graft
package queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{AnnIndex, Clustering, ProductQuantization, Projection,
  Similarity}
import graft.OracleSql.{Chain, M, adaptiveKSql, embLshPairsCtes, hashLong,
  kmeansCtes, pqCtes, roundSpark, sampleModSql, sig}
import graft.queries.QueryKit._

/** Vector similarity search (brute force, LSH, IVF, PQ, quantized and
  * graph indexes) and embedding diagnostics.
  */
object SimilarityQueries {

  val defs: Seq[QueryDef] = Seq(
    locally {
      import MutualKnn._
      val (beam, outK, entryMod) = (8, 5, 500)
      QueryDef("sim_graph_topk", (s, dir) => {
        // graph-walk ANN (the HNSW/NSG family, Spark-native): greedy
        // beam search over the mutual-kNN graph — fixed entry points,
        // two rounds of expand-neighbors → exact-cosine re-rank → keep
        // beam 8, then top-5 out. Per round ONE edge join on the beam
        // frame (queries × beam ≤ 8 rows each) + a beam-bounded window —
        // the search cost is independent of corpus size once the graph
        // is built, which is exactly why graph indexes won the ANN
        // benchmark wars. Deterministic: ties break by candidate id;
        // the oracle unrolls both rounds over the same edge CTEs.
        import graft.expressions.exprs
        val emb = t(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("query_id"), col("embedding").as("q_vec"))
        val sym = {
          val ce = mutualKnnPairs(s, dir).select("id_a", "id_b")
          ce.select(col("id_a").as("src"), col("id_b").as("dst"))
            .unionByName(ce.select(col("id_b").as("src"),
              col("id_a").as("dst")))
            .localCheckpoint(false) // two expansion rounds read it (lazy, r15)
        }
        val vecs = emb.select(col("vec_id").as("cand"),
          col("embedding").as("c_vec"))
        def topB(cands: DataFrame, b: Int): DataFrame = {
          val w = Window.partitionBy("query_id")
            .orderBy(col("score").desc, col("cand").asc)
          cands.join(vecs, Seq("cand"))
            .join(broadcast(queries), Seq("query_id"))
            .filter(col("cand") =!= col("query_id"))
            .withColumn("score",
              exprs.cosine_sim(col("q_vec"), col("c_vec")))
            .withColumn("rn", row_number().over(w))
            .filter(col("rn") <= b)
            .select("query_id", "cand", "rn")
        }
        def expand(front: DataFrame): DataFrame =
          front.select("query_id", "cand")
            .unionByName(front.select(col("query_id"),
                col("cand").as("src"))
              .join(sym, Seq("src"))
              .select(col("query_id"), col("dst").as("cand")))
            .distinct()
        val ent = emb.filter(pmod(col("vec_id"), lit(entryMod)) === 0)
          .select(col("vec_id").as("cand"))
        val b0 = topB(queries.select("query_id").crossJoin(broadcast(ent)),
          beam).localCheckpoint(false) // lazy: action fusion (r15)
        val b1 = topB(expand(b0), beam).localCheckpoint(false)
        val b2 = topB(expand(b1), beam)
        b2.filter(col("rn") <= outK)
          .select(col("query_id"), col("rn").cast("int").as("rank"),
            col("cand").as("neighbor_id"))
      }, {
        // Oracle for `sim_graph_topk`: the mutual-kNN edge CTEs (shared
        // with the `graph_link_predict` oracle) plus the two-round beam search
        // unrolled — entries, expand-by-edges, exact-cosine re-rank to beam
        // 8 each round, top-5 out. Mirrors the `sim_graph_topk` query.
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
        s"""WITH ${embLshPairsCtes(nTables, targetBucket, minBits,
            maxBits, dim, seed)},
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
      })
    },

    QueryDef("sim_bruteforce_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 8)
      Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 5)
        .select("query_id", "rank", "neighbor_id")
    },
      """WITH q AS (SELECT vec_id AS query_id, embedding AS q_vec
        |           FROM embeddings WHERE vec_id < 8),
        |scored AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |    list_cosine_similarity(e.embedding::DOUBLE[], q.q_vec::DOUBLE[])
        |      AS score
        |  FROM embeddings e CROSS JOIN q
        |  WHERE e.vec_id <> q.query_id),
        |ranked AS (
        |  SELECT query_id, neighbor_id,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY score DESC, neighbor_id ASC) AS INTEGER) AS rank
        |  FROM scored)
        |SELECT query_id, rank, neighbor_id FROM ranked WHERE rank <= 5""".stripMargin),

    QueryDef("sim_diverse_topk", (s, dir) => {
      // label-diversified retrieval: at most 2 results per label, then
      // top-5 by score — quota-based MMR-lite over the broadcast-query
      // map-only scan
      val emb = t(s, dir, "embeddings")
      Similarity.diverseTopK(emb, emb.filter(col("vec_id") < 8),
        "vec_id", "embedding", "label", k = 5, perLabel = 2)
        .select("query_id", "rank", "neighbor_id", "label")
    },
      """WITH q AS (SELECT vec_id AS query_id, embedding AS q_vec
        |           FROM embeddings WHERE vec_id < 8),
        |scored AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id, e.label,
        |    list_cosine_similarity(e.embedding::DOUBLE[], q.q_vec::DOUBLE[])
        |      AS score
        |  FROM embeddings e CROSS JOIN q
        |  WHERE e.vec_id <> q.query_id),
        |lr AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id, label
        |    ORDER BY score DESC, neighbor_id ASC) AS label_rank
        |  FROM scored),
        |r AS (
        |  SELECT query_id, neighbor_id, label,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY score DESC, neighbor_id ASC) AS INTEGER) AS rank
        |  FROM lr WHERE label_rank <= 2)
        |SELECT query_id, rank, neighbor_id, label FROM r
        |WHERE rank <= 5""".stripMargin),

    QueryDef("sim_hard_negatives", (s, dir) => {
      // contrastive hard negatives: most-similar DIFFERENT-label
      // neighbors per query — broadcast queries, one map-only corpus
      // scan, label filter ahead of the dot product
      val emb = t(s, dir, "embeddings")
      Similarity.mineHardNegatives(emb, emb.filter(col("vec_id") < 8),
        "vec_id", "embedding", "label", k = 5)
        .select("query_id", "rank", "neighbor_id")
    },
      """WITH q AS (SELECT vec_id AS query_id, embedding AS q_vec,
        |                  label AS q_label
        |           FROM embeddings WHERE vec_id < 8),
        |scored AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |    list_cosine_similarity(e.embedding::DOUBLE[], q.q_vec::DOUBLE[])
        |      AS score
        |  FROM embeddings e CROSS JOIN q
        |  WHERE e.label <> q.q_label),
        |ranked AS (
        |  SELECT query_id, neighbor_id,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY score DESC, neighbor_id ASC) AS INTEGER) AS rank
        |  FROM scored)
        |SELECT query_id, rank, neighbor_id FROM ranked WHERE rank <= 5""".stripMargin),

    locally {
      // 12 tables × 3 bits: recall@5 >= 0.9 asserted in FunctionsSpec
      // (measured 1.0 on this corpus); more bits + more tables at larger
      // corpus sizes
      val (k, dim, nBits, nTables, seed) = (5, EmbeddingDim, 3, 12, 42L)
      QueryDef("sim_lsh_topk", (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") < 8)
        Similarity.lshTopK(emb, queries, "vec_id", "embedding", k, dim,
          nBits, nTables, seed)
          .select("query_id", "rank", "neighbor_id", "score")
      }, {
        // Oracle for `sim_lsh_topk`: the seeded plane matrices from
        // [[Similarity.hyperplanes]] emitted as DOUBLE[] literals; per-table
        // sign-bit signatures, OR-ed bucket match, cosine rank.
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
      })
    },

    QueryDef("embed_norms", (s, dir) => {
      t(s, dir, "embeddings").select(
        col("vec_id"),
        round(Similarity.l2Norm(col("embedding")), 4).as("l2_norm"))
    },
      """SELECT vec_id,
        |  round(sqrt(list_sum(list_transform(embedding::DOUBLE[],
        |    x -> x * x))), 4) AS l2_norm
        |FROM embeddings""".stripMargin),

    locally {
      val (k, dim, seed) = (8, EmbeddingDim, 7L)
      QueryDef("embed_project", (s, dir) => {
        // JL random projection 64 -> 8 dims: map-only, seed-derived
        // matrix (no training pass, no artifact), norm-preserving in
        // expectation via the 1/sqrt(k) scale
        val planes = Projection.gaussianMatrix(k, dim, seed)
        t(s, dir, "embeddings")
          .select(col("vec_id"),
            posexplode(Projection.project(col("embedding"), planes)))
          .select(col("vec_id"), col("pos").as("dim"),
            round(col("col"), 4).as("val"))
      }, {
        // Oracle for `embed_project`: the k seeded Gaussian projection
        // planes ([[graft.functions.Projection.gaussianMatrix]], same
        // generator as the LSH plane oracles) emitted as DOUBLE[] literals;
        // one row per (vec_id, dim) with the `1/sqrt(k)`-scaled dot.
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
      })
    },

    locally {
      val k = 16
      QueryDef("embed_truncate", (s, dir) => {
        // matryoshka prefix truncation to 16 dims + renorm: first
        // renormalized component and the retained-energy ratio
        val e = t(s, dir, "embeddings")
        val full = Similarity.l2Norm(col("embedding"))
        val prefixNorm = Similarity.l2Norm(
          slice(col("embedding").cast("array<double>"), 1, k))
        e.select(col("vec_id"),
          round(element_at(
            Projection.truncateRenorm(col("embedding"), k), 1), 4).as("t0"),
          round(when(full > 0, prefixNorm / full).otherwise(lit(0.0)), 4)
            .as("energy_ratio"))
      },
        // Oracle for `embed_truncate`: matryoshka prefix stats — first
        // renormalized component + retained-energy ratio over the 16-dim
        // prefix (same `sqrt(list_sum(x*x))` norm formulation as
        // `embed_norms`).
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
           |FROM n""".stripMargin)
    },

    locally {
      val (k, dim) = (5, EmbeddingDim)
      QueryDef("sim_quantized_topk", (s, dir) => {
        // brute-force top-k over int8-quantized vectors: 4x smaller
        // corpus for the memory-bound regime; integer dot/norms accumulate
        // exactly, so scores are order-independent
        val emb = t(s, dir, "embeddings")
        val corpus = emb.select(col("vec_id").as("neighbor_id"),
          Similarity.quantize(col("embedding"))._2.as("c_q"))
        val queries = broadcast(emb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("query_id"),
            Similarity.quantize(col("embedding"))._2.as("q_q")))
        val w = Window.partitionBy("query_id")
          .orderBy(col("score").desc, col("neighbor_id").asc)
        corpus.crossJoin(queries)
          .filter(col("neighbor_id") =!= col("query_id"))
          .withColumn("score",
            round(Similarity.quantizedCosine(col("q_q"), col("c_q")), 4))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= k)
          .select("query_id", "rank", "neighbor_id", "score")
      }, {
        // Oracle for `sim_quantized_topk`: int8 quantization (per-vector
        // scale 127/max|x|, Spark-semantics rounding) then exact integer
        // dot/norm cosine, rank, k.
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
      })
    },

    locally {
      val (k, dim) = (5, EmbeddingDim)
      QueryDef("sim_binary_topk", (s, dir) => {
        // 1-BIT embedding quantization ANN: each 64-dim float vector
        // compresses to a single sign-bit long — 32× smaller than
        // float32, the binary-code regime production vector stores use
        // for the first-pass scan — and similarity is hamming distance
        // via one xor + popcount per candidate: pure integer work, no
        // floats, so scores are exact and order-independent. Completes
        // the quantization ladder float → int8 (sim_quantized_topk) →
        // PQ codes (sim_pq_topk) → 1 bit. Scale shape: the corpus side
        // is a map-only projection to 8 bytes/vector (the whole 100 TB
        // corpus fits hot at this width), queries broadcast, top-k via
        // the bounded per-query window on the candidate frame.
        // native fused loop (codegen'd, no intermediate array) — the
        // zip_with+aggregate composition is bit-identical but runs two
        // lambdas per element per row; PqExpressionsSpec pins parity
        val signBits = graft.expressions.exprs.sign_pack(
          col("embedding").cast("array<double>"))
        val emb = t(s, dir, "embeddings")
        val corpus = emb.select(col("vec_id").as("neighbor_id"),
          signBits.as("c_bits"))
        val queries = broadcast(emb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("query_id"), signBits.as("q_bits")))
        val w = Window.partitionBy("query_id")
          .orderBy(col("hamming").asc, col("neighbor_id").asc)
        corpus.crossJoin(queries)
          .filter(col("neighbor_id") =!= col("query_id"))
          .withColumn("hamming",
            expr("cast(bit_count(c_bits ^ q_bits) as int)"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= k)
          .select("query_id", "rank", "neighbor_id", "hamming")
      }, {
        // Oracle for `sim_binary_topk`: the 1-bit sign-quantization codes
        // rebuilt as HUGEINT bit sums (bit i set iff embedding[i+1] > 0 —
        // float compared exactly, no rounding), converted to signed 64-bit,
        // hamming = bit_count(xor), per-query rank window with the same
        // (hamming asc, neighbor_id asc) tie-break as the engine.
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
      })
    },

    locally {
      val (k, nProbe, dim) = (5, 3, EmbeddingDim)
      QueryDef("sim_ivf_topk", (s, dir) => {
        // ROLE (measured, BENCH_NOTES r5 recall table): metadata-cell
        // IVF is the SHARD-PRUNING form — correct when cells correlate
        // with geometry (language/domain/source shards). On this
        // fixture's geometry-agnostic labels recall@5 is structurally
        // ~nProbe/nCells (0.35 at 50k): treat it as a partition-pruned
        // CANDIDATE GENERATOR, not a standalone ANN. The headline
        // unlabeled-corpus path is sim_ivf_kmeans_topk (learned cells,
        // 0.875 at 50k probing ~15%).
        val emb = t(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") < 8)
        // quantizer trained once on a deterministic 1-in-4 systematic
        // sample, then reused — the probe plan never scans the full corpus
        // to rebuild centroids
        val cent = Similarity.trainCentroids(
          emb.filter(col("vec_id") % 4 === 0), "embedding", "label")
        Similarity.ivfTopK(emb, queries, "vec_id", "embedding", "label",
          k, nProbe, centroids = Some(cent))
      },
        // Oracle for `sim_ivf_topk`: centroids = per-(cell, dim) float-cast
        // means over the 1-in-4 systematic sample, nProbe nearest cells per
        // query, exact cosine rank within probed cells.
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
           |FROM ranked WHERE rank <= $k""".stripMargin)
    },

    locally {
      val (k, nProbe, iters, targetClusterSize, minK) = (5, 12, 3, 256, 8)
      QueryDef("sim_ivf_kmeans_topk", (s, dir) => {
        // learned-cell IVF: sampled k-means trains the coarse quantizer,
        // one native-assign pass builds the inverted lists, queries probe
        // their 8 nearest cells — cells align with embedding geometry, so
        // recall concentrates on true neighbors instead of the
        // nProbe/nCells floor of metadata cells (see sim_ivf_topk)
        val emb = t(s, dir, "embeddings")
        Similarity.ivfKmeansTopK(emb, emb.filter(col("vec_id") < 8),
          "vec_id", "embedding", k, nProbe, iters, targetClusterSize, minK)
      }, simIvfKmeansTopK(nProbe, k, iters, dim = EmbeddingDim,
        targetClusterSize, minK))
    },

    locally {
      val (m, k, iters, topK, trainBudget) = (16, 32, 2, 5, 512)
      QueryDef("sim_pq_topk", (s, dir) => {
        // product-quantized ANN (IVF+PQ's memory half): 64 floats ->
        // 4 codebook bytes per vector; queries answered from a broadcast
        // LUT of partial dots over narrow (id, m, code) triples — corpus
        // vectors are read once, at encode time.
        // ROLE (measured, BENCH_NOTES r5 recall table): pure ADC is the
        // CANDIDATE GENERATOR — 16-byte quantization distortion exceeds
        // the fixture's dense cosine-band gaps, so in-band ordering is
        // noise (recall@5 0.475 at 50k; k=64 codes only 0.55). The
        // production/headline pattern is sim_pq_refined: ADC shortlist
        // + exact rerank = 0.95 at the same corpus.
        val emb = t(s, dir, "embeddings")
        ProductQuantization.adcTopK(s, emb, emb.filter(col("vec_id") < 8),
          "vec_id", "embedding", m, k, iters, topK,
          trainBudget = trainBudget)
      }, simPqTopK(m, k, iters, dim = EmbeddingDim, topK,
        trainBudget))
    },

    locally {
      val (m, k, iters, topK, shortlist, trainBudget) =
        (16, 32, 2, 5, 150, 512)
      val dim = EmbeddingDim
      QueryDef("sim_pq_refined", (s, dir) => {
        // the production PQ pattern: ADC shortlist (4x over-fetch) then
        // exact rerank on candidates only — recovers PQ's recall loss
        // with a shortlist-sized vector join, never a corpus rescan
        val emb = t(s, dir, "embeddings")
        ProductQuantization.adcTopKRefined(s, emb,
          emb.filter(col("vec_id") < 8), "vec_id", "embedding",
          m, k, iters, topK, shortlist = shortlist, trainBudget = trainBudget)
      },
        // Oracle for `sim_pq_refined`: the ADC shortlist reranked by the
        // exact inner product — candidates only, same fold order as the
        // engine's native dot product.
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
           |FROM rk2 WHERE rank <= $topK""".stripMargin)
    },

    locally {
      val (k, nProbe, iters, targetClusterSize, minK) = (5, 12, 3, 256, 8)
      QueryDef("sim_ivf_persisted", (s, dir) => {
        // VERDICT r13 #7: the IVF coarse quantizer as a committed lake
        // artifact, not a per-query byproduct. Trains the SAME quantizer
        // as sim_ivf_kmeans_topk, commits it through VersionedTable
        // (atomic _COMMITTED publish), then serves the query FROM THE
        // LOADED version — the oracle is the in-session training recipe,
        // so a green row proves the persisted round-trip is bit-exact.
        // At 100 TB the root is a shared lake path and only the first
        // session trains (centroidsOrTrain); here a fresh temp root per
        // run keeps the gate stateless (no stale-index hazard).
        val emb = t(s, dir, "embeddings")
        val root = java.nio.file.Files.createTempDirectory("graft_ivf_idx")
          .resolve("ivf").toString
        val n = emb.count()
        val kCells = Clustering.adaptiveK(n, targetClusterSize, minK,
          maxK = 4096)
        val mod = Clustering.trainSampleMod(n, trainBudget = 4096)
        AnnIndex.centroidsOrTrain(s, root)(
          Clustering.trainKmeans(emb, "vec_id", "embedding", kCells,
            iters, mod))
        val loaded = AnnIndex.loadCentroids(s, root)
        Similarity.ivfKmeansTopK(emb, emb.filter(col("vec_id") < 8),
          "vec_id", "embedding", k, nProbe,
          centroids = Some(loaded))
      },
        // persisted-index variants (VERDICT r13 #7): the oracle is the
        // IN-SESSION training recipe — a green row proves the committed
        // VersionedTable artifact round-trips bit-exactly
        simIvfKmeansTopK(nProbe, k, iters, dim = EmbeddingDim,
          targetClusterSize, minK))
    },

    locally {
      val (m, k, iters, topK, trainBudget) = (16, 32, 2, 5, 512)
      QueryDef("sim_pq_persisted", (s, dir) => {
        // VERDICT r13 #7, PQ half: codebooks committed through
        // VersionedTable and served from the loaded version. Same
        // training recipe (and oracle) as sim_pq_topk — green proves
        // the committed codebook is bit-identical to the in-session one.
        val emb = t(s, dir, "embeddings")
        val root = java.nio.file.Files.createTempDirectory("graft_pq_idx")
          .resolve("pq").toString
        val mod = Clustering.trainSampleMod(emb.count(), trainBudget)
        AnnIndex.codebooksOrTrain(s, root)(
          ProductQuantization.trainCodebooks(emb, "vec_id", "embedding",
            m, k, iters, sampleMod = mod))
        val loaded = AnnIndex.loadCodebooks(s, root)
        ProductQuantization.adcTopK(s, emb, emb.filter(col("vec_id") < 8),
          "vec_id", "embedding", m, k, iters, topK, books = Some(loaded))
      }, simPqTopK(m, k, iters, dim = EmbeddingDim, topK,
        trainBudget))
    },

    QueryDef("embed_drift", (s, dir) => {
      // embedding-distribution drift between two corpus halves: cosine
      // of the per-dimension MEAN vectors, with the means accumulated
      // as scaled integers (exact under any aggregation order) and the
      // final 64-element cosine a deterministic left-to-right fold —
      // the vector-modality twin of events_drift ("did the new batch's
      // embedding space shift?"). Norms are reported in the same
      // millionths domain as the scaled means (cosine is scale-free).
      val sc = t(s, dir, "embeddings")
        .select((col("vec_id") % 2).as("half"),
          posexplode(col("embedding")).as(Seq("dim", "x")))
        .select(col("half"), col("dim"),
          floor(col("x").cast("double") * 1000000).cast("long").as("xi"))
      val m = sc.groupBy("half", "dim")
        .agg(sum("xi").as("sx"), count(lit(1)).as("n"))
        .select(col("half"), col("dim"),
          (col("sx").cast("double") / col("n")).as("m"))
      def meanVec(half: Int) = m.filter(col("half") === half)
        .groupBy().agg(array_sort(collect_list(struct(col("dim"),
          col("m")))).as("dm"))
        .select(transform(col("dm"), _.getField("m")).as(s"v$half"))
      meanVec(0).crossJoin(meanVec(1))
        .select(
          round(Similarity.cosine(col("v0"), col("v1")), 4)
            .as("mean_cosine"),
          round(Similarity.l2Norm(col("v0")), 2).as("norm_a"),
          round(Similarity.l2Norm(col("v1")), 2).as("norm_b"))
    },
      """WITH s AS (
        |  SELECT e.vec_id % 2 AS half, d.i AS dim,
        |    CAST(floor(e.embedding[d.i]::DOUBLE * 1000000) AS BIGINT)
        |      AS xi
        |  FROM embeddings e,
        |    LATERAL (SELECT unnest(generate_series(1,
        |      len(e.embedding))) AS i) d),
        |g AS (
        |  SELECT half, dim, sum(xi)::BIGINT AS sx, count(*) AS n
        |  FROM s GROUP BY 1, 2),
        |m AS (SELECT half, dim, sx::DOUBLE / n AS m FROM g),
        |a AS (SELECT list(m ORDER BY dim) AS v0 FROM m WHERE half = 0),
        |b AS (SELECT list(m ORDER BY dim) AS v1 FROM m WHERE half = 1)
        |SELECT
        |  round(CAST(CAST(list_cosine_similarity(v0, v1) AS VARCHAR)
        |    AS DECIMAL(38,20)), 4)::DOUBLE AS mean_cosine,
        |  round(CAST(CAST(sqrt(list_sum(list_transform(v0, x -> x * x)))
        |    AS VARCHAR) AS DECIMAL(38,20)), 2)::DOUBLE AS norm_a,
        |  round(CAST(CAST(sqrt(list_sum(list_transform(v1, x -> x * x)))
        |    AS VARCHAR) AS DECIMAL(38,20)), 2)::DOUBLE AS norm_b
        |FROM a, b""".stripMargin),

    locally {
      val (iters, targetClusterSize, minK, zThresh, dim) =
        (3, 256, 8, 2.0, EmbeddingDim)
      QueryDef("embed_outliers", (s, dir) => {
        // per-cluster cohesion z-score: integer-exact moments over the
        // scaled cosine, so the flag set is aggregation-order independent
        Clustering.embeddingOutliers(t(s, dir, "embeddings"),
          "vec_id", "embedding", iters, targetClusterSize, minK, zThresh)
      },
        // Oracle for `embed_outliers`: the k-means assignment's 4-decimal
        // cosine scaled to integers (`floor(sim·10⁴)`), exact integer
        // moments per cluster, and the identical IEEE mean/σ/z formula.
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
           |FROM z""".stripMargin)
    },

    QueryDef("embed_pca_power", (s, dir) => {
      // top principal direction of the embedding corpus via POWER
      // ITERATION, run entirely in exact integer arithmetic:
      // embeddings quantize to e4 ints (map-only); each of 2 rounds is
      // ONE distributed pass — per-vector projection s = ⟨q, v⟩ as an
      // exact long fold, then per-dimension w_d = Σ q_d·s as a
      // map-side-combined decimal sum — followed by L∞ normalization
      // by integer division (the k-means/logreg driver-state pattern:
      // 64 longs cross the driver per round, never data). Power
      // iteration is how distributed PCA actually ships (Spark MLlib,
      // scikit randomized SVD); the integer fixed-point form makes it
      // bit-reproducible, so the oracle replays both rounds in SQL.
      val q = t(s, dir, "embeddings").select(col("vec_id"),
          expr("transform(embedding, x -> " +
            "cast(round(cast(x AS double) * 10000.0d) AS bigint))")
            .as("qv"))
        .localCheckpoint(true) // 2 power rounds re-read it
      val dec = "decimal(38,0)"
      val dim = EmbeddingDim
      var v: Array[Long] = Array.fill(dim)(1000000L)
      for (_ <- 1 to 2) {
        val vlit = array(v.map(lit(_)): _*)
        val w = q.withColumn("vl", vlit)
          .withColumn("s", expr("aggregate(zip_with(qv, vl, " +
            "(a, b) -> a * b), 0L, (acc, x) -> acc + x)"))
          .select(posexplode(col("qv")).as(Seq("d", "qd")), col("s"))
          .groupBy("d")
          .agg(sum(col("qd").cast(dec) * col("s")).as("w"))
          .orderBy("d").collect()
          .map(r => BigInt(r.getDecimal(1).toBigInteger))
        val maxAbs = w.map(_.abs).max.max(BigInt(1))
        // BigInt / truncates toward zero — the same semantics as the
        // oracle's // and the engine's div
        v = w.map(x => ((x * 1000000) / maxAbs).toLong)
      }
      import s.implicits._
      v.zipWithIndex.map { case (vd, d) => (d, vd) }.toSeq
        .toDF("d", "v_e6")
    },
      """WITH q AS (
        |  SELECT vec_id, list_transform(embedding::DOUBLE[],
        |    x -> CAST(round(x * 10000) AS BIGINT)) AS qv
        |  FROM embeddings),
        |qd AS (SELECT vec_id, unnest(qv) AS qd,
        |  generate_subscripts(qv, 1) AS d FROM q),
        |s1 AS (SELECT vec_id, sum(qd * 1000000)::BIGINT AS s
        |  FROM qd GROUP BY 1),
        |w1 AS (SELECT d, sum(qd::HUGEINT * s1.s) AS w
        |  FROM qd JOIN s1 USING (vec_id) GROUP BY d),
        |m1 AS (SELECT greatest(max(abs(w)), 1) AS m FROM w1),
        |v1 AS (SELECT d, ((w * 1000000) // m)::BIGINT AS v
        |  FROM w1, m1),
        |s2 AS (SELECT qd.vec_id, sum(qd.qd * v1.v)::BIGINT AS s
        |  FROM qd JOIN v1 USING (d) GROUP BY 1),
        |w2 AS (SELECT qd.d, sum(qd.qd::HUGEINT * s2.s) AS w
        |  FROM qd JOIN s2 USING (vec_id) GROUP BY 1),
        |m2 AS (SELECT greatest(max(abs(w)), 1) AS m FROM w2)
        |SELECT (d - 1)::INT AS d, ((w * 1000000) // m)::BIGINT AS v_e6
        |FROM w2, m2""".stripMargin),

    locally {
      val (trees, depth) = (16, 8)
      QueryDef("embed_isolation_forest", (s, dir) => {
        // Isolation Forest (Liu–Ting–Zhou, ICDM'08) — the model-based
        // anomaly detector the distance family (embed_outliers = centroid
        // z-scores, profile_iqr = univariate fences) can't replace:
        // anomalies are points that isolate in FEW random axis-parallel
        // splits, which catches sparse-region outliers regardless of
        // their distance to any centroid. Hash-derandomized variant so
        // the forest is replayable bit-for-bit: 16 trees × depth 8 over
        // the first 4 embedding coords (e6 longs); node (t, i) draws its
        // split feature from pmod(xxhash64(t·2²⁰ + i), 4) and its
        // threshold from the feature's EXACT global [min, max] at a
        // hash-chosen ppm fraction (the classic per-node subsample range
        // is data-order-dependent; global ranges keep the isolation
        // principle — dense regions need many splits, sparse points few —
        // and make the oracle a pure replay). Path length h = first
        // level the point is alone in its node (population rollup per
        // (tree, level, node) — one shuffle), else depth + c(leaf pop)
        // (the standard average-BST correction; ln touched once per
        // unresolved leaf). Score 2^(−h̄/c(n)) e6-rounded; top 50
        // anomalies out. Scale: ×16 trees ×8 levels is a map-side
        // constant; the only shuffles are the node rollup and the final
        // TakeOrdered(50).
        val pts = t(s, dir, "embeddings")
          .select(Seq(col("vec_id")) ++ (0 until 4).map(f =>
            floor(col("embedding").getItem(f).cast("double")
              * 1000000.0 + 0.5).as(s"x$f")): _*)
          .localCheckpoint(true) // ranges + walk read it
        val ranges = pts.agg(
          (0 until 4).flatMap(f => Seq(min(col(s"x$f")).as(s"mn$f"),
            max(col(s"x$f")).as(s"mx$f"))).head,
          (0 until 4).flatMap(f => Seq(min(col(s"x$f")).as(s"mn$f"),
            max(col(s"x$f")).as(s"mx$f"))).tail: _*)
        var walk = pts
          .withColumn("t", explode(array((0 until trees).map(i =>
            lit(i.toLong)): _*)))
          .crossJoin(broadcast(ranges))
          .withColumn("n0", lit(1L))
        for (l <- 1 to depth) {
          walk = walk
            .withColumn("h", xxhash64(col("t") * lit(1048576L) +
              col(s"n${l - 1}")))
            .withColumn("f", pmod(col("h"), lit(4L)))
            .withColumn("u", pmod(shiftrightunsigned(col("h"), 8),
              lit(1000000L)))
            .withColumn("thr", (0 until 4).map(f =>
                when(col("f") === f, col(s"mn$f") +
                  expr(s"(mx$f - mn$f) * u div 1000000")))
              .reduceRight(_.otherwise(_)))
            .withColumn("xv", (0 until 4).map(f =>
                when(col("f") === f, col(s"x$f")))
              .reduceRight(_.otherwise(_)))
            .withColumn(s"n$l", col(s"n${l - 1}") * 2 +
              (col("xv") > col("thr")).cast("long"))
            .drop("h", "f", "u", "thr", "xv")
        }
        val paths = walk.select(col("vec_id"), col("t"),
            explode(array((1 to depth).map(l => struct(lit(l).as("l"),
              col(s"n$l").as("node"))): _*)).as("e"))
          .select(col("vec_id"), col("t"), col("e.l"), col("e.node"))
          .localCheckpoint(true) // population rollup + re-join read it
        val pops = paths.groupBy("t", "l", "node")
          .agg(count(lit(1)).as("cnt"))
        val gamma = 0.5772156649
        def cOf(m: Column): Column = when(m <= 1, lit(0.0))
          .when(m === 2, lit(1.0))
          .otherwise((log(m.cast("double") - 1.0) + gamma) * 2.0 -
            (m.cast("double") - 1.0) * 2.0 / m.cast("double"))
        val perTree = paths.join(pops, Seq("t", "l", "node"))
          .groupBy("vec_id", "t")
          .agg(min(when(col("cnt") === 1, col("l"))).as("iso_l"),
            max(when(col("l") === depth, col("cnt"))).as("leafm"))
          .select(col("vec_id"),
            when(col("iso_l").isNotNull, col("iso_l") * 1000000L)
              .otherwise(lit(depth * 1000000L) +
                round(cOf(col("leafm")) * 1000000.0, 0).cast("long"))
              .as("h_e6"))
        // c(n) stays in the expression domain (Spark log ≡ DuckDB ln on
        // identical doubles — the engine-wide ln discipline; a
        // driver-side math.log would be a third libm)
        val cnFrame = pts.agg(count(lit(1)).as("nn"))
          .select(cOf(col("nn")).as("cn"))
        perTree.groupBy("vec_id")
          .agg(expr(s"sum(h_e6) div $trees").as("avg_path_e6"))
          .crossJoin(broadcast(cnFrame))
          .withColumn("score_e6",
            round(pow(lit(2.0), -(col("avg_path_e6").cast("double") /
              1000000.0) / col("cn")) * 1000000.0, 0).cast("long"))
          .drop("cn")
          .orderBy(col("avg_path_e6").asc, col("vec_id").asc)
          .limit(50)
          .withColumn("rank", row_number().over(
            Window.orderBy(col("avg_path_e6").asc, col("vec_id").asc)))
          .select("rank", "vec_id", "avg_path_e6", "score_e6")
      }, {
        // Oracle for `embed_isolation_forest`: the hash-derandomized
        // forest replayed — node split parameters from the exact XXH64
        // emulation over (tree·2²⁰ + node), identical global-range e6
        // thresholds, the same depth-unrolled walk, population rollup,
        // isolation depths with the standard c(m) correction, and the same
        // (avg-path, vec_id) top-50 order.
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
      })
    }
  )

  /** Oracle for `sim_pq_topk`: per-subspace codebooks (K lowest-id
    * subvector seeds, unrolled Lloyd rounds under `|c|² − 2·x·c` with
    * smaller-code ties and float-cast means), PQ encoding, and the ADC
    * score as a subspace-ordered `list_reduce` of LUT partials —
    * matching [[graft.functions.ProductQuantization]] bit-for-bit
    * before the 4-decimal round.
    */
  private def simPqTopK(m: Int, k: Int, iters: Int, dim: Int, topK: Int,
      trainBudget: Int): String =
    s"""WITH ${pqCtes(m, k, iters, dim, sampleModSql(trainBudget))}
       |SELECT query_id, rank, neighbor_id, score
       |FROM rk WHERE rank <= $topK""".stripMargin

  /** Oracle for `sim_ivf_kmeans_topk`: learned-cell IVF — the shared
    * k-means CTEs supply the trained centroids (`cent<iters>`) and the
    * full-corpus assignment (`fin` = the inverted lists); queries probe
    * their nProbe nearest centroids and rank exactly within probed
    * cells, mirroring [[graft.functions.Similarity.ivfKmeansTopK]].
    */
  private def simIvfKmeansTopK(nProbe: Int, k: Int, iters: Int, dim: Int,
      targetClusterSize: Int, minK: Int): String =
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
}
