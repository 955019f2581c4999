package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.expressions.TopKBy

/** Keyword retrieval: BM25-scored top-k documents per query — the
  * lexical complement to the embedding ANN operators in [[Similarity]]
  * (hybrid retrieval pipelines run both and fuse).
  *
  * Scale shape: every retriever here reads one query-term postings
  * frame ([[postings]]): one scan and tokenization of the documents,
  * one row per doc id with its token count and the tf of each query
  * term. Tokens outside the query set are dropped on the map side, so
  * the one doc-id shuffle moves counts, not text. BM25's `df`, `n_docs`
  * and `total_len` are one small aggregate of that frame, broadcast
  * once; per-doc scores, boolean overlaps and boolean-AND judgments are
  * computed in the row, one array slot per query (the query set is
  * tiny and known on the driver). Winners per query come from the
  * bounded [[graft.expressions.TopKByAgg]] (map-side ≤k per query per
  * partition), and the score is decoded from the winner's packed key,
  * so no frame is joined back to its own winners. Queries that build
  * several retrievers over the same documents plan the same postings
  * exchange, which adaptive execution reuses.
  *
  * Determinism contract (what makes the DuckDB oracle exact): the
  * per-(query, doc) score folds term scores in SORTED TERM ORDER via a
  * left-to-right `aggregate` fold — both engines then execute the same
  * IEEE double additions in the same order — and ranking uses the score
  * rounded to 4 decimals with a doc-id tie-break packed into one long.
  * Doc ids must lie in [0, 2^40) for that key to order them.
  */
object Retrieval {

  /** The terms of a query set: `terms` holds the distinct terms of all
    * queries, and each query lists its own distinct terms as indices
    * into `terms`, in Spark's string order (the order `sort_array`
    * sorts them in).
    */
  private final case class QuerySet(terms: Seq[String],
                                    byQuery: Seq[(Int, Seq[Int])])

  private def querySet(queries: Seq[(Int, String)]): QuerySet = {
    require(queries.nonEmpty, "no queries")
    require(queries.map(_._1).distinct.size == queries.size,
      "query ids must be distinct")
    val parsed = queries.map { case (qid, text) =>
      qid -> text.toLowerCase.trim.split("\\s+").toSeq.distinct
        .sortWith((x, y) =>
          UTF8String.fromString(x).compareTo(UTF8String.fromString(y)) < 0)
    }
    val terms = parsed.flatMap(_._2).distinct
    QuerySet(terms, parsed.map { case (qid, ts) => qid -> ts.map(terms.indexOf) })
  }

  private def tf(i: Int): Column = col(s"tf_$i")

  /** The query-term postings of `docs`: one row per doc id, holding
    * `len`, the document's token count, and `tf_i`, the count of
    * `terms(i)`. Tokens are the `\s+` split of `lower(trim(text))`
    * (Spark's `trim` strips spaces only, so a text that starts with a
    * tab has an empty first token, and it counts); blank texts are not
    * documents, and rows that share a doc id merge into one.
    */
  private def postings(docs: DataFrame, terms: Seq[String], idCol: String,
                       textCol: String): DataFrame = {
    val tfs = terms.indices.map(i => s"tf_$i")
    docs
      .filter(length(trim(col(textCol))) > 0)
      .select(col(idCol),
        split(lower(trim(col(textCol))), "\\s+").as("toks"))
      .select(col(idCol), size(col("toks")).as("len"),
        filter(col("toks"), _.isin(terms: _*)).as("hits"))
      .select(col(idCol) +: col("len") +: terms.zip(tfs).map { case (t, c) =>
        size(filter(col("hits"), _ === lit(t))).as(c)
      }: _*)
      .groupBy(idCol)
      .agg(sum("len").as("len"), tfs.map(c => sum(c).as(c)): _*)
  }

  /** One row per (query, doc) pair that shares a term: (query_id, id,
    * score, rel) — the BM25 score rounded to 4 decimals, and whether the
    * doc holds every term of the query.
    */
  private def bm25Scored(docs: DataFrame, qs: QuerySet, k1: Double,
                         b: Double, idCol: String,
                         textCol: String): DataFrame = {
    val p = postings(docs, qs.terms, idCol, textCol)
    val m = qs.terms.size
    // corpus constants: one tiny row, broadcast-cross-joined
    val stats = p
      .agg(count(lit(1)).as("n_docs"), sum("len").as("total_len") +:
        (0 until m).map(i => count(when(tf(i) > 0, 1)).as(s"df_$i")): _*)
      .select(
        (col("total_len").cast("double") / col("n_docs").cast("double"))
          .as("avg_len") +:
        (0 until m).map { i =>
          val df = col(s"df_$i")
          log(lit(1.0) + (col("n_docs").cast("double") - df + lit(0.5))
            / (df + lit(0.5))).as(s"idf_$i")
        }: _*)
    def tscore(i: Int): Column =
      col(s"idf_$i") * (tf(i) * lit(k1 + 1.0)) /
        (tf(i) + lit(k1) * (lit(1.0 - b)
          + lit(b) * col("len").cast("double") / col("avg_len")))
    val perQuery = qs.byQuery.map { case (qid, ix) =>
      val terms = array(ix.map(i =>
        struct(tf(i).as("tf"), tscore(i).as("tscore"))): _*)
      // order-defined fold: term scores in sorted-term order, summed
      // left-to-right from 0.0 — bit-reproducible across engines and
      // partitionings
      val raw = aggregate(filter(terms, _.getField("tf") > 0), lit(0.0),
        (acc, x) => acc + x.getField("tscore"))
      struct(lit(qid).as("query_id"), round(raw, 4).as("score"),
        ix.map(tf(_) > 0).reduce(_ || _).as("any"),
        ix.map(tf(_) > 0).reduce(_ && _).as("rel"))
    }
    p.crossJoin(broadcast(stats))
      .select(col(idCol),
        inline(filter(array(perQuery: _*), _.getField("any"))))
      .drop("any")
  }

  /** The packed rank key: `grid` descending, then doc id ascending. */
  private def rankKey(grid: Column, idCol: String): Column =
    grid * lit(1L << 40) - col(idCol)

  /** Bounded top-k per query by [[rankKey]]: (query_id, rank, id, grid),
    * rank 1-based, with each winner's `grid` decoded from its key.
    */
  private def topK(df: DataFrame, grid: Column, k: Int,
                   idCol: String): DataFrame = {
    val key = rankKey(grid, idCol)
    df.groupBy("query_id")
      .agg(TopKBy.top_k_by(key, col(idCol), k).as("ids"),
        TopKBy.top_k_by(key, key, k).as("keys"))
      .select(col("query_id"),
        posexplode(arrays_zip(col("ids"), col("keys"))).as(Seq("pos", "w")))
      .select(col("query_id"), (col("pos") + 1).as("rank"),
        col("w.ids").as(idCol),
        shiftright(col("w.keys") + col("w.ids"), 40).as("grid"))
  }

  /** BM25 top-k. `queries`: (query_id, whitespace keywords), ids
    * distinct. Returns (query_id, rank, doc_id, score) with score
    * rounded to 4 decimals, rank 1-based by (score desc, doc_id asc).
    */
  def bm25TopK(spark: SparkSession, docs: DataFrame,
               queries: Seq[(Int, String)], k: Int,
               k1: Double = 1.2, b: Double = 0.75,
               idCol: String = "doc_id", textCol: String = "text")
      : DataFrame = {
    val scored = bm25Scored(docs, querySet(queries), k1, b, idCol, textCol)
    // the rounded score is the 1e-4 grid point: grid / 1e4 is that double
    topK(scored, round(col("score") * 10000).cast("long"), k, idCol)
      .select(col("query_id"), col("rank"), col(idCol),
        (col("grid").cast("double") / lit(10000.0)).as("score"))
  }

  /** Boolean term-overlap retriever: rank docs by how many DISTINCT
    * query terms they contain (desc, doc-id tie-break). The
    * recall-oriented counterpart BM25 gets fused with in
    * [[rrfFuse]] — same bounded-top-k winner shape.
    */
  def booleanOverlapTopK(spark: SparkSession, docs: DataFrame,
                         queries: Seq[(Int, String)], k: Int,
                         idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame = {
    val qs = querySet(queries)
    val overlap = qs.byQuery.map { case (qid, ix) =>
      struct(lit(qid).as("query_id"),
        ix.map(i => when(tf(i) > 0, 1L).otherwise(0L)).reduce(_ + _)
          .as("overlap"))
    }
    // every document has a token, so the `len` filter keeps every row;
    // reading `len` keeps this postings plan the same as BM25's, so a
    // query that runs both retrievers shuffles the postings once
    val rows = postings(docs, qs.terms, idCol, textCol)
      .filter(col("len") > 0)
      .select(col(idCol),
        inline(filter(array(overlap: _*), _.getField("overlap") > 0)))
    topK(rows, col("overlap"), k, idCol)
      .select(col("query_id"), col("rank"), col(idCol))
  }

  /** Retrieval quality metrics for a ranking against deterministic
    * relevance judgments: a doc is RELEVANT to a query iff it contains
    * EVERY distinct query term (boolean-AND qrels — system-independent
    * and recomputable by the oracle). Returns one row per query with
    * relevant docs: (query_id, n_rel, recall_k, mrr_k, ndcg_k), all
    * rounded to 4 decimals.
    *
    * Determinism: DCG folds hit ranks ascending and IDCG folds
    * 1..min(n_rel, k) ascending, both with the exact `0.0 + x` seed;
    * the log2 discount is `ln2 / ln(rank+1)` with ln2 embedded as one
    * shared double literal — the identical IEEE operation sequence in
    * both engines.
    *
    * Scale shape: the ranking is BM25's bounded top-k, and the
    * judgments ride along in the same aggregate: a relevant doc shares
    * a term with the query, so it is a scored row, and the relevance
    * flags kept under the same rank keys line up with the ranking.
    */
  def retrievalMetrics(spark: SparkSession, docs: DataFrame,
                       queries: Seq[(Int, String)], k: Int,
                       k1: Double = 1.2, b: Double = 0.75,
                       idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    val ln2 = math.log(2.0)
    val key = rankKey(round(col("score") * 10000).cast("long"), idCol)
    bm25Scored(docs, querySet(queries), k1, b, idCol, textCol)
      .groupBy("query_id")
      .agg(count(when(col("rel"), 1)).as("n_rel"),
        TopKBy.top_k_by(key, col("rel").cast("long"), k).as("rels"))
      .filter(col("n_rel") > 0)
      // the ranks of the relevant docs in the top k, ascending
      .withColumn("hits", filter(
        transform(col("rels"), (r, i) => when(r === 1L, i + 1)),
        _.isNotNull))
      .withColumn("dcg", aggregate(col("hits"), lit(0.0),
        (acc, r) => acc + lit(ln2) / log(r.cast("double") + lit(1.0))))
      .withColumn("idcg",
        aggregate(sequence(lit(1L), least(col("n_rel"), lit(k.toLong))),
          lit(0.0),
          (acc, i) => acc + lit(ln2) / log(i.cast("double") + lit(1.0))))
      // recall and MRR are exact integer ratios — emitted on the exact
      // 4-dp grid (OVERFLOW_AUDIT r14); nDCG's dcg/idcg are genuinely
      // inexact doubles, where the round IS the intended quantization
      .select(col("query_id"), col("n_rel"),
        ExactGrid.eRatio(size(col("hits")), col("n_rel"), 10000L)
          .as(s"recall_$k"),
        coalesce(ExactGrid.eRatio(lit(1L), array_min(col("hits")), 10000L),
          lit(0.0)).as(s"mrr_$k"),
        round(col("dcg") / col("idcg"), 4).as(s"ndcg_$k"))
  }

  /** Reciprocal-rank fusion: `Σ 1/(c + rank)` over the rankings a doc
    * appears in (absent → contributes 0) — the standard way to combine
    * retrievers whose scores aren't comparable (BM25 + ANN, BM25 +
    * boolean). The fused score is an exact small-integer ratio —
    * 1/d₁ + 1/d₂ = (d₁+d₂)/(d₁·d₂) — emitted on the exact 1e-6 grid
    * (integer half-up + one exact division, build-invariant); top-k
    * per query via the bounded aggregate on the packed grid key.
    *
    * Inputs need columns (query_id, doc_id, rank), at most one row per
    * (query_id, doc_id) each, as a ranking has. Rankings from the
    * top-k retrievers here arrive partitioned by query_id, which serves
    * both the per-doc merge and the per-query top-k without a shuffle.
    */
  def rrfFuse(a: DataFrame, b: DataFrame, k: Int, c: Int = 60,
              idCol: String = "doc_id"): DataFrame = {
    def side(df: DataFrame, fromA: Boolean) =
      df.select(col("query_id"), col(idCol), col("rank"),
        lit(fromA).as("from_a"))
    val fused = side(a, fromA = true).unionByName(side(b, fromA = false))
      .groupBy("query_id", idCol)
      .agg(max(when(col("from_a"), col("rank"))).as("rank_a"),
        max(when(!col("from_a"), col("rank"))).as("rank_b"))
    val d1 = lit(c.toLong) + col("rank_a")
    val d2 = lit(c.toLong) + col("rank_b")
    val rrf =
      when(col("rank_a").isNotNull && col("rank_b").isNotNull,
        ExactGrid.eRatio(d1 + d2, d1 * d2, 1000000L))
      .when(col("rank_a").isNotNull,
        ExactGrid.eRatio(lit(1L), d1, 1000000L))
      .otherwise(ExactGrid.eRatio(lit(1L), d2, 1000000L))
    // the fused score is the 1e-6 grid point: grid / 1e6 is that double
    topK(fused.withColumn("rrf", rrf),
        round(col("rrf") * 1000000).cast("long"), k, idCol)
      .select(col("query_id"), col("rank"), col(idCol),
        (col("grid").cast("double") / lit(1000000.0)).as("rrf"))
  }
}
