package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.expressions.exprs

/** Vector-similarity operators over an `array<float>` embedding column.
  *
  * All arithmetic is done in DOUBLE (elements cast before multiplying) so
  * results are reproducible across engines and run-to-run: a left-to-right
  * fold over the array is order-deterministic, unlike a shuffle-order
  * dependent aggregation.
  *
  * Scale design: [[bruteForceTopK]] broadcasts the (small) query set and
  * scans the corpus once — at 100 TB this is a map-only pass, no shuffle
  * except the final per-query top-k (tiny). [[lshTopK]] cuts the candidate
  * set with random-hyperplane buckets for the many-query / all-pairs case.
  */
object Similarity {

  /** Dot product of two float-array columns, computed in double. */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a.cast("array<double>"), b.cast("array<double>"), _ * _),
      lit(0.0), _ + _)

  /** L2 norm in double. */
  def l2Norm(a: Column): Column = {
    val d = a.cast("array<double>")
    sqrt(aggregate(zip_with(d, d, _ * _), lit(0.0), _ + _))
  }

  /** Cosine similarity in double; 0.0 when either side has zero norm. */
  def cosine(a: Column, b: Column): Column = {
    val denom = l2Norm(a) * l2Norm(b)
    when(denom > 0, dot(a, b) / denom).otherwise(lit(0.0))
  }

  /** The per-query rank tail of every top-k operator here: each query's
    * top `k` rows of `scored` by (score desc, neighbor_id asc), as
    * (query_id, rank, neighbor_id, `extra`…, score) with the score
    * rounded to 4 places.
    */
  private def topKPerQuery(scored: DataFrame, k: Int,
                           extra: Column*): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(Seq(col("query_id"), col("rank"), col("neighbor_id")) ++
        extra :+ round(col("score"), 4).as("score"): _*)
  }

  /** The IVF probe: routes each query to its `nProbe` nearest `cent`
    * (cell, centroid) rows by cosine (ties to the lower cell), then
    * ranks exactly inside the probed (neighbor_id, c_vec, cell) `cells`
    * only.
    */
  private def probeTopK(cells: DataFrame, cent: DataFrame,
                        queries: DataFrame, idCol: String, vecCol: String,
                        k: Int, nProbe: Int): DataFrame = {
    val qCells = queries.select(col(idCol).as("query_id"),
        col(vecCol).as("q_vec"))
      .crossJoin(broadcast(cent))
      .withColumn("cdist", exprs.cosine_sim(col("q_vec"), col("centroid")))
    val wq = Window.partitionBy("query_id")
      .orderBy(col("cdist").desc, col("cell").asc)
    val probes = qCells.withColumn("pr", row_number().over(wq))
      .filter(col("pr") <= nProbe)
      .select(col("query_id"), col("q_vec"), col("cell"))
    topKPerQuery(cells.join(broadcast(probes), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("score", exprs.cosine_sim(col("q_vec"), col("c_vec"))), k)
  }

  /** Exact brute-force top-k cosine neighbors for a set of query vectors.
    *
    * @param corpus   (idCol, vecCol) table — the full embedding corpus
    * @param queries  (idCol, vecCol) table — small; broadcast
    * @return (query_id, neighbor_id, rank, score) — self-matches excluded,
    *         rank by (score desc, neighbor_id asc) for determinism.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, k: Int): DataFrame = {
    val q = broadcast(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec")))
    val scored = corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
      .crossJoin(q)
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("score", exprs.cosine_sim(col("q_vec"), col("c_vec")))
    topKPerQuery(scored, k)
  }

  /** Hard-negative mining for contrastive training: for each query
    * vector, the top-k most-similar corpus vectors with a DIFFERENT
    * label — the "looks like a positive, isn't one" examples that make
    * embedding models actually learn boundaries (random negatives are
    * trivially separable).
    *
    * Scale shape: identical to [[bruteForceTopK]] — the query set
    * (with labels) is broadcast, the corpus scanned once map-only, and
    * only the per-query top-k survivors reach the final (tiny) rank
    * shuffle. The label filter runs BEFORE the cosine, so same-label
    * rows never pay the dot product. For query sets too large to
    * broadcast, generate candidates with [[lshTopK]]'s bucket join
    * first and apply the label filter inside the bucket.
    */
  def mineHardNegatives(corpus: DataFrame, queries: DataFrame,
                        idCol: String, vecCol: String, labelCol: String,
                        k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("q_vec"), col(labelCol).as("q_label")))
    val scored = corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"),
        col(labelCol).as("c_label"))
      .crossJoin(q)
      .filter(col("c_label") =!= col("q_label"))
      .withColumn("score", exprs.cosine_sim(col("q_vec"), col("c_vec")))
    topKPerQuery(scored, k)
  }

  /** Label-diversified top-k: per query, at most `perLabel` results from
    * any one label, ranked by cosine — the cheap deterministic cousin of
    * MMR reranking (diversity enforced by a category quota instead of
    * pairwise similarity), for retrieval mixes and negative pools that
    * must not be dominated by one cluster/domain.
    *
    * Scale shape: [[bruteForceTopK]]'s broadcast-queries map-only scan,
    * plus one extra narrow window (query, label) for the quota before
    * the per-query rank. Both windows partition on the (small) query
    * key — the scored-candidate frame, not the corpus, is what sorts.
    */
  def diverseTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                  vecCol: String, labelCol: String, k: Int,
                  perLabel: Int): DataFrame = {
    val q = broadcast(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec")))
    val scored = corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"),
        col(labelCol).as("label"))
      .crossJoin(q)
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("score", exprs.cosine_sim(col("q_vec"), col("c_vec")))
    val wl = Window.partitionBy("query_id", "label")
      .orderBy(col("score").desc, col("neighbor_id").asc)
    topKPerQuery(scored
      .withColumn("label_rank", row_number().over(wl))
      .filter(col("label_rank") <= perLabel), k, col("label"))
  }

  /** Embedding-cosine near-duplicate pairs: all (a<b) pairs with cosine
    * above the threshold, over a bounded id range. Exact (no LSH) — the
    * oracle-checkable baseline; at corpus scale swap the cross join for
    * [[lshTopK]]-style bucketing.
    */
  def embeddingNearDups(corpus: DataFrame, idCol: String, vecCol: String,
                        minCos: Double, maxId: Long): DataFrame = {
    val e = corpus.filter(col(idCol) < maxId)
      .select(col(idCol).as("id"), col(vecCol).as("v"))
    val a = e.select(col("id").as("id_a"), col("v").as("v_a"))
    val b = e.select(col("id").as("id_b"), col("v").as("v_b"))
    a.crossJoin(broadcast(b))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos",
        round(graft.expressions.exprs.cosine_sim(col("v_a"), col("v_b")), 4))
      .filter(col("cos") >= minCos)
      .select("id_a", "id_b", "cos")
  }

  /** Coarse-quantizer training: per-cell mean vector over `train` (pass a
    * SAMPLE of the corpus, not the corpus — a deterministic systematic
    * sample like `id % m === 0` keeps the build reproducible AND makes it
    * a fraction of a full scan). Build once, reuse across [[ivfTopK]]
    * calls: at 100 TB the quantizer is trained on a few million sampled
    * rows and persisted, never recomputed per probe.
    */
  def trainCentroids(train: DataFrame, vecCol: String,
                     labelCol: String): DataFrame =
    train.select(col(labelCol).as("cell"),
        posexplode(col(vecCol)).as(Seq("dim", "x")))
      .groupBy("cell", "dim").agg(avg("x").as("m"))
      .groupBy("cell").agg(array_sort(collect_list(struct(col("dim"),
        col("m")))).as("dm"))
      .select(col("cell"), transform(col("dm"), _.getField("m"))
        .cast("array<float>").as("centroid"))

  /** Embedding near-dup pairs at scale: multi-table hyperplane LSH
    * buckets bound the candidate set (pairs only ever materialize within
    * a (table, bucket) group — never the O(n²) cross product), then the
    * exact cosine refine keeps pairs above `minCos`. The scale path for
    * [[embeddingNearDups]], same OR-ed-tables shape as [[lshTopK]].
    *
    * Shuffle shape: the bucket self-join moves only the narrow
    * (id, tbl, bucket) triple — never the vectors. Candidate pairs
    * collapse to distinct (id_a, id_b) BEFORE the refine, and the two
    * vector columns are joined back on id afterwards, so each side's
    * vectors cross the wire once (keyed by id), not once per table.
    * Same narrow-shuffle trick as [[Dedup.minHashCandidates]]; it also
    * means the exact cosine is computed once per pair instead of once
    * per (pair, matching table).
    */
  def embeddingNearDupsLsh(corpus: DataFrame, idCol: String, vecCol: String,
                           minCos: Double, dim: Int, nBits: Int = 4,
                           nTables: Int = 8, seed: Long = 42L): DataFrame = {
    val planes = hyperplanes(nTables, nBits, dim, seed)
    val sigCol = exprs.hyperplane_sigs(col(vecCol), planes)
    // narrow banded frame: one (id, tbl, bucket) row per table per vector
    val banded = corpus.select(col(idCol).as("id"),
      posexplode(sigCol).as(Seq("tbl", "bucket")))
    val a = banded.select(col("tbl"), col("bucket"), col("id").as("id_a"))
    val b = banded.select(col("tbl"), col("bucket"), col("id").as("id_b"))
    val cands = a.join(b, Seq("tbl", "bucket"))
      .filter(col("id_a") < col("id_b"))
      // a pair matching in several tables appears once per table —
      // collapse before fetching vectors or computing anything
      .select("id_a", "id_b")
      .distinct()
    // exact refine: join the vectors back on id (wide columns shuffle
    // once per side here, keyed by id — not ×nTables through the buckets)
    Dedup.joinPairSides(cands,
        corpus.select(col(idCol).as("doc_id"), col(vecCol).as("v")), "v")
      .withColumn("cos",
        round(exprs.cosine_sim(col("v_a"), col("v_b")), 4))
      .filter(col("cos") >= minCos)
      .select("id_a", "id_b", "cos")
  }

  /** Bucket-resolution rule for hyperplane LSH at scale: per-table
    * bucket count must grow WITH the corpus so expected bucket
    * membership — and with it the within-bucket pair work, which is
    * quadratic in membership — stays constant. A fixed `nBits` that is
    * correct at 2k vectors produces 100× the candidate pairs at 20k
    * (10× rows ⇒ 10× per-bucket membership ⇒ 100× pairs per bucket).
    * `nBits = min b in [minBits, maxBits] : targetBucketSize * 2^b >= n`
    * (the integer-exact form of `ceil(log2(n / targetBucketSize))`,
    * clamped). Kept in pure integer arithmetic — no log/ceil floating
    * point — so an independent SQL oracle evaluating the same rule over
    * the same count can never disagree on a power-of-two boundary.
    *
    * The recall price of finer buckets is paid in tables: per-table
    * collision probability for similarity `p` is `p^nBits`, so keep
    * `nTables` growing with `nBits` (the OR-construction dial) when
    * tightening buckets.
    */
  def adaptiveBits(corpusRows: Long, targetBucketSize: Int = 128,
                   minBits: Int = 4, maxBits: Int = 20): Int = {
    require(targetBucketSize > 0 && minBits >= 0 && maxBits >= minBits)
    var b = minBits
    while (b < maxBits && targetBucketSize.toLong * (1L << b) < corpusRows)
      b += 1
    b
  }

  /** [[embeddingNearDupsLsh]] with corpus-adaptive bucket resolution:
    * one (cheap, parquet-footer-served) count picks `nBits` via
    * [[adaptiveBits]], so the operator keeps near-constant per-bucket
    * work from thousands to billions of rows instead of silently going
    * quadratic. Exact-refine semantics are unchanged — precision stays
    * 1 at any resolution; only recall depends on (nBits, nTables).
    */
  def embeddingNearDupsLshAuto(corpus: DataFrame, idCol: String,
                               vecCol: String, minCos: Double, dim: Int,
                               targetBucketSize: Int = 128,
                               nTables: Int = 8, minBits: Int = 4,
                               maxBits: Int = 20,
                               seed: Long = 42L): DataFrame = {
    val bits = adaptiveBits(corpus.count(), targetBucketSize, minBits,
      maxBits)
    embeddingNearDupsLsh(corpus, idCol, vecCol, minCos, dim,
      nBits = bits, nTables = nTables, seed = seed)
  }

  /** IVF-style ANN: a coarse quantizer (centroid per `labelCol` cell)
    * routes each query to its `nProbe` nearest cells; exact ranking runs
    * only inside the probed cells. The inverted-file shape: at 100 TB the
    * corpus is partitioned by cell, so a probe reads ~nProbe/nCells of
    * the data instead of all of it.
    *
    * Recall trade-off: cells here are METADATA partitions (`labelCol`).
    * When labels correlate with embedding geometry (language, domain,
    * source shards — the production sharding case) within-cell recall
    * is high; when they are geometry-agnostic, expected recall degrades
    * toward nProbe/nCells (measured 0.35 at nProbe=3 over 10 random
    * labels on the 50k fixture). For geometry-aligned cells use
    * [[ivfKmeansTopK]], which learns the partition instead.
    *
    * @param centroids precomputed (cell, centroid) frame from
    *                  [[trainCentroids]]; when None, trains on a 1-in-4
    *                  systematic sample of the corpus (never the full
    *                  corpus — the quantizer build must not scan 100 TB)
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, labelCol: String, k: Int,
              nProbe: Int = 2,
              centroids: Option[DataFrame] = None): DataFrame = {
    val cent = centroids.getOrElse(
      trainCentroids(corpus.filter(col(idCol) % 4 === 0), vecCol, labelCol))
    val cells = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("c_vec"), col(labelCol).as("cell"))
    probeTopK(cells, cent, queries, idCol, vecCol, k, nProbe)
  }

  /** IVF over LEARNED cells: the coarse quantizer is a sampled k-means
    * ([[Clustering.trainKmeans]] — Lloyd rounds on ~`trainBudget` rows,
    * cell count adaptive in the corpus), the inverted lists are one
    * native-assign pass over the corpus, and queries probe their
    * `nProbe` nearest cells. This is the standard IVF recipe (cells
    * aligned with embedding geometry) — use it when no
    * geometry-correlated metadata shard exists; measured recall@5 at
    * the 50k fixture sits with the probed fraction concentrated on true
    * neighbors rather than the ~nProbe/nCells floor of random cells.
    *
    * Scale shape: quantizer build is sample-bounded; the corpus-side
    * pass is one map-only native assign (vector copied once per row);
    * the probe join moves only the probed cells' vectors, keyed by
    * cell; at 100 TB the corpus is partition-pruned by cell id.
    */
  def ivfKmeansTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, k: Int, nProbe: Int, iters: Int = 3,
                    targetClusterSize: Int = 256, minK: Int = 8,
                    maxK: Int = 4096, trainBudget: Int = 4096,
                    centroids: Option[Seq[Array[Float]]] = None)
      : DataFrame = {
    val session = corpus.sparkSession
    import session.implicits._
    // `centroids` injects a pre-built coarse quantizer (e.g. one loaded
    // from a committed [[AnnIndex]] version) — the 100 TB shape, where
    // the quantizer is a build artifact and the query path never counts
    // or trains. Default trains in-session on a bounded sample.
    val cents = centroids.getOrElse {
      val n = corpus.count()
      val kCells = Clustering.adaptiveK(n, targetClusterSize, minK, maxK)
      val mod = Clustering.trainSampleMod(n, trainBudget)
      Clustering.trainKmeans(corpus, idCol, vecCol, kCells, iters, mod)
    }

    // inverted lists: one native-assign pass over the corpus
    val cells = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("c_vec"),
      exprs.kmeans_assign(col(vecCol).cast("array<float>"),
        cents.toArray).getField("cluster").as("cell"))

    val centDf = cents.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toDF("cell", "centroid")
    probeTopK(cells, centDf, queries, idCol, vecCol, k, nProbe)
  }

  /** Symmetric int8 quantization of a float vector: per-vector scale
    * `127 / max|x|`, elements rounded half-up to [-127, 127]. Returns
    * (scale DOUBLE, q ARRAY<int>) — 4× smaller vectors for memory-bound
    * ANN at 100 TB; exact arithmetic (one division + rounds), so the
    * quantized corpus is reproducible across engines and runs.
    */
  def quantize(vec: Column): (Column, Column) = {
    val absMax = aggregate(vec.cast("array<double>"), lit(0.0),
      (acc, x) => greatest(acc, abs(x)))
    val scale = when(absMax > 0, lit(127.0) / absMax).otherwise(lit(1.0))
    // one fused native loop (absMax fold + HALF_UP rounds) — the
    // transform composition re-evaluated a lambda per element per row;
    // bit-identical (see [[graft.expressions.Int8Ops.quantize]])
    val q = exprs.int8_quantize(vec.cast("array<double>"))
    (scale, q)
  }

  /** Cosine over int8-quantized vectors: integer dot/norms accumulated
    * exactly, one double division at the end — deterministic regardless
    * of accumulation order, unlike float sums. The quantization error is
    * the accuracy dial; ranks survive for well-spread embeddings.
    */
  def quantizedCosine(qa: Column, qb: Column): Column =
    // one fused native integer loop (see [[graft.expressions.Int8Ops]])
    // — the zip_with/aggregate composition allocated intermediate
    // arrays and ran a lambda per element per row; bit-identical result
    // for equal-length vectors (integer sums are exact either way)
    exprs.int8_cosine_sim(qa, qb)

  /** Random-hyperplane signature: `planes(p)(d)` dotted with the vector,
    * sign bit per plane packed into a long. Deterministic given the
    * caller's seeded plane matrix.
    */
  def hyperplaneSignature(vec: Column, planes: Array[Array[Double]]): Column =
    planes.zipWithIndex.map { case (plane, p) =>
      val planeCol = array(plane.map(lit): _*)
      val d = aggregate(
        zip_with(vec.cast("array<double>"), planeCol, _ * _), lit(0.0), _ + _)
      when(d >= 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))

  /** The seeded plane matrices for [[lshTopK]]: `nTables` independent
    * tables of `nBits` Gaussian hyperplanes each. Plane `(l, p)` is drawn
    * from its own `(seed, l, p)`-derived stream, so the family is
    * RESOLUTION-NESTED: `hyperplanes(T, b, d, s)` is exactly the first
    * `b` planes per table of `hyperplanes(T, B, d, s)` for any `B >= b`
    * (and likewise a table-count prefix). Nesting is what lets a
    * count-adaptive caller — and its oracle — compute signatures once at
    * max resolution and mask down to `b` low bits: the masked signature
    * equals the signature the `b`-plane family would have produced.
    * Deterministic, so an external oracle can reproduce the exact planes.
    */
  def hyperplanes(nTables: Int, nBits: Int, dim: Int,
                  seed: Long): Array[Array[Array[Double]]] =
    Array.tabulate(nTables, nBits) { (l, p) =>
      // splitmix-style stream split keeps per-plane streams decorrelated
      val rnd = new scala.util.Random(
        seed ^ (l.toLong * 0x9E3779B97F4A7C15L) ^ (p.toLong * 0xBF58476D1CE4E5B9L))
      Array.fill(dim)(rnd.nextGaussian())
    }

  /** Approximate top-k via multi-table hyperplane LSH: `nTables`
    * independent `nBits`-plane signatures, candidates = bucket match in
    * ANY table (OR-ed, the same shape as MinHash banding). A single table
    * loses neighbors that land just across one hyperplane; L tables drive
    * miss probability to (1-p)^L while each extra table costs only one
    * more narrow map-side signature — the standard recall/cost dial.
    *
    * Scale shape: signatures are map-only; the bucket join shuffles
    * (table, bucket) keys; duplicate candidates collapse on the narrow
    * (query_id, neighbor_id, score) triple before ranking.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, dim: Int, nBits: Int = 8,
              nTables: Int = 4, seed: Long = 42L): DataFrame = {
    val planes = hyperplanes(nTables, nBits, dim, seed)
    // one (tbl, bucket) row per table per vector; all signatures computed
    // in a single native-expression pass (the plane tensor is a codegen
    // reference object, not nTables*nBits literal arrays in the plan)
    val sigs = (c: Column) => posexplode(exprs.hyperplane_sigs(c, planes))

    val q = broadcast(queries.select(
      col(idCol).as("query_id"), col(vecCol).as("q_vec"),
      sigs(col(vecCol)).as(Seq("tbl", "bucket"))))
    val cand = corpus.select(
      col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"),
      sigs(col(vecCol)).as(Seq("tbl", "bucket")))

    val scored = cand.join(q, Seq("tbl", "bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("score", exprs.cosine_sim(col("q_vec"), col("c_vec")))
      // a pair matching in several tables appears once per table; the
      // scores are identical, so collapse on the narrow triple
      .groupBy("query_id", "neighbor_id").agg(max("score").as("score"))
    topKPerQuery(scored, k)
  }
}
