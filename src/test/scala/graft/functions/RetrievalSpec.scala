package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{JobCount, SparkEntry, SparkSpec}

class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  test("bm25 ranks the doc matching all query terms first") {
    val docs = Seq(
      (1L, "spark shuffle join hash table scan"),
      (2L, "hash table"),
      (3L, "window agg stream stream stream"),
      (4L, "completely unrelated words here")
    ).toDF("doc_id", "text")
    val out = Retrieval.bm25TopK(spark, docs, Seq(1 -> "hash table"), k = 3)
      .orderBy("rank").as[(Int, Int, Long, Double)].collect()
    // doc 2 is ALL query terms (short => high tf weight); doc 1 matches
    // both terms too; doc 4 matches none and must be absent
    assert(out.map(_._3).toSet == Set(1L, 2L))
    assert(out.head._3 == 2L, s"shortest all-term doc should rank 1: $out")
    assert(out.forall(_._4 > 0))
  }

  test("scores and ranks are partition-independent") {
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
      .select("doc_id", "text")
    val qs = Seq(1 -> "join hash table", 2 -> "stream window agg")
    def run(parts: Int) =
      Retrieval.bm25TopK(spark, docs.repartition(parts), qs, k = 5)
        .as[(Int, Int, Long, Double)].collect().toSet
    assert(run(1) == run(7),
      "order-defined fold must make scores partitioning-invariant")
  }

  test("retrievalMetrics: perfect retrieval scores 1.0 across the board") {
    val docs = Seq(
      (1L, "apple banana"),
      (2L, "apple apple banana"),
      (3L, "cherry plum"),
      (4L, "apple only here")
    ).toDF("doc_id", "text")
    // rel(q) = docs containing BOTH terms = {1, 2}; BM25 must put both
    // in its top-10, so recall = mrr = ndcg = 1
    val m = Retrieval.retrievalMetrics(spark, docs,
        Seq(1 -> "apple banana"), k = 10)
      .as[(Int, Long, Double, Double, Double)].collect()
    assert(m.length == 1)
    val (_, nRel, recall, mrr, ndcg) = m.head
    assert(nRel == 2L)
    assert(recall == 1.0 && mrr == 1.0 && ndcg == 1.0, m.head.toString)
  }

  test("retrievalMetrics stay in [0, 1] on the real corpus") {
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
      .select("doc_id", "text")
    val qs = Seq(1 -> "join hash table", 2 -> "stream window agg",
      3 -> "zzz-not-in-corpus qqq")
    val m = Retrieval.retrievalMetrics(spark, docs, qs, k = 10)
      .as[(Int, Long, Double, Double, Double)].collect()
    assert(m.nonEmpty)
    m.foreach { case (qid, nRel, recall, mrr, ndcg) =>
      assert(nRel > 0)
      assert(recall >= 0 && recall <= 1, s"q$qid recall $recall")
      assert(mrr >= 0 && mrr <= 1, s"q$qid mrr $mrr")
      assert(ndcg >= 0 && ndcg <= 1.0001, s"q$qid ndcg $ndcg")
    }
    // the nonsense query has no all-term doc => contributes no row
    assert(!m.exists(_._1 == 3), "no-relevant-docs query must be absent")
  }

  test("rrf fusion rewards docs ranked by both retrievers") {
    val a = Seq((1, 1, 10L), (1, 2, 20L)).toDF("query_id", "rank", "doc_id")
      .select(col("query_id"), col("doc_id"), col("rank"))
    val b = Seq((1, 1, 20L), (1, 2, 30L)).toDF("query_id", "rank", "doc_id")
      .select(col("query_id"), col("doc_id"), col("rank"))
    val out = Retrieval.rrfFuse(a, b, k = 3)
      .orderBy("rank").as[(Int, Int, Long, Double)].collect().toSeq
    // doc 20 appears in BOTH rankings (ranks 2 and 1) => top; docs 10
    // and 30 each appear once at ranks 1/2
    assert(out.map(_._3) == Seq(20L, 10L, 30L), s"got $out")
    val expected20 = math.rint((1.0 / 62 + 1.0 / 61) * 1e6) / 1e6
    assert(math.abs(out.head._4 - expected20) < 1e-9)
  }

  test("boolean overlap ranks by distinct query terms present") {
    val docs = Seq(
      (1L, "join join join"),          // 1 distinct term
      (2L, "join hash"),               // 2
      (3L, "join hash table extra")    // 3
    ).toDF("doc_id", "text")
    val out = Retrieval
      .booleanOverlapTopK(spark, docs, Seq(1 -> "join hash table"), k = 3)
      .orderBy("rank").as[(Int, Int, Long)].collect().toSeq
    assert(out.map(_._3) == Seq(3L, 2L, 1L), s"got $out")
  }

  test("absent query terms contribute nothing (unknown term query is empty)") {
    val docs = Seq((1L, "alpha beta")).toDF("doc_id", "text")
    val out = Retrieval.bm25TopK(spark, docs,
      Seq(1 -> "nonexistent tokens"), k = 5)
    assert(out.count() == 0)
  }

  // Pinned outputs: exact values (`==` on doubles) on a corpus with the
  // tokenizer's edge cases. Spark's `trim` strips spaces only, so a text
  // that starts with a tab or newline splits into an empty first token,
  // which counts toward the document's length.
  private def edgeCorpus = Seq(
    (1L, "Join hash TABLE join common"),
    (2L, "\tjoin table common"),         // empty first token
    (2L, "hash common"),                 // duplicate id: merges with the row above
    (3L, "\nstream window common"),      // empty first token
    (4L, "   "),                         // whitespace-only: not a document
    (5L, "common join hash table stream window agg"),
    (6L, "common"),
    (7L, "common table table table"),
    (8L, "window common\tstream")
  ).toDF("doc_id", "text")                // "common": in every document

  // a whitespace-only text that `trim` keeps: two empty tokens
  private def edgeCorpusWithTabDoc =
    edgeCorpus.union(Seq((9L, " \t\n ")).toDF("doc_id", "text"))

  // repeated and upper-case terms; a term in every document; no hits
  private val edgeQueries = Seq(1 -> "JOIN hash Join", 2 -> "common",
    3 -> "zzz qqq", 4 -> "table stream window")

  private def ranked(df: DataFrame) =
    df.as[(Int, Int, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq

  test("pinned: bm25TopK on the edge-case corpus") {
    assert(ranked(Retrieval.bm25TopK(spark, edgeCorpus, edgeQueries, k = 3)) ==
      Seq((1, 1, 1L, 1.8597), (1, 2, 2L, 1.4209), (1, 3, 5L, 1.3131),
        (2, 1, 6L, 0.094), (2, 2, 2L, 0.0798), (2, 3, 8L, 0.0736),
        (4, 1, 8L, 1.8847), (4, 2, 5L, 1.7701), (4, 3, 3L, 1.6997)))
    // the kept whitespace-only doc moves n_docs and the average length;
    // docs 3 and 7 tie on the rounded score and rank by doc id
    assert(ranked(Retrieval.bm25TopK(spark, edgeCorpusWithTabDoc, edgeQueries,
        k = 10)) ==
      Seq((1, 1, 1L, 2.0702), (1, 2, 2L, 1.5682), (1, 3, 5L, 1.4454),
        (2, 1, 6L, 0.263), (2, 2, 2L, 0.2198), (2, 3, 8L, 0.2031),
        (2, 4, 3L, 0.1823), (2, 5, 7L, 0.1823), (2, 6, 1L, 0.1654),
        (2, 7, 5L, 0.1395),
        (4, 1, 8L, 2.1041), (4, 2, 5L, 1.9758), (4, 3, 3L, 1.8889),
        (4, 4, 7L, 1.0892), (4, 5, 1L, 0.6288), (4, 6, 2L, 0.5754)))
  }

  test("pinned: booleanOverlapTopK on the edge-case corpus") {
    def run(docs: DataFrame, k: Int) =
      Retrieval.booleanOverlapTopK(spark, docs, edgeQueries, k)
        .as[(Int, Int, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(run(edgeCorpus, 3) ==
      Seq((1, 1, 1L), (1, 2, 2L), (1, 3, 5L),
        (2, 1, 1L), (2, 2, 2L), (2, 3, 3L),
        (4, 1, 5L), (4, 2, 3L), (4, 3, 8L)))
    assert(run(edgeCorpusWithTabDoc, 10) ==
      Seq((1, 1, 1L), (1, 2, 2L), (1, 3, 5L),
        (2, 1, 1L), (2, 2, 2L), (2, 3, 3L), (2, 4, 5L), (2, 5, 6L),
        (2, 6, 7L), (2, 7, 8L),
        (4, 1, 5L), (4, 2, 3L), (4, 3, 8L), (4, 4, 1L), (4, 5, 2L),
        (4, 6, 7L)))
  }

  test("pinned: retrievalMetrics on the edge-case corpus") {
    def run(docs: DataFrame, k: Int) =
      Retrieval.retrievalMetrics(spark, docs, edgeQueries, k)
        .as[(Int, Long, Double, Double, Double)].collect().sortBy(_._1).toSeq
    assert(run(edgeCorpus, 2) ==
      Seq((1, 3L, 0.6667, 1.0, 1.0), (2, 7L, 0.2857, 1.0, 1.0),
        (4, 1L, 1.0, 0.5, 0.6309)))
    assert(run(edgeCorpusWithTabDoc, 10) ==
      Seq((1, 3L, 1.0, 1.0, 1.0), (2, 7L, 1.0, 1.0, 1.0),
        (4, 1L, 1.0, 0.5, 0.6309)))
  }

  test("pinned: rrfFuse of BM25 and boolean overlap on the edge-case corpus") {
    val out = Retrieval.rrfFuse(
      Retrieval.bm25TopK(spark, edgeCorpus, edgeQueries, k = 3),
      Retrieval.booleanOverlapTopK(spark, edgeCorpus, edgeQueries, k = 3),
      k = 4)
    assert(ranked(out) ==
      Seq((1, 1, 1L, 0.032787), (1, 2, 2L, 0.032258), (1, 3, 5L, 0.031746),
        (2, 1, 2L, 0.032258), (2, 2, 1L, 0.016393), (2, 3, 6L, 0.016393),
        (2, 4, 3L, 0.015873),
        (4, 1, 5L, 0.032522), (4, 2, 8L, 0.032266), (4, 3, 3L, 0.032002)))
  }

  test("pinned: rrfFuse keeps one-sided queries and breaks ties by doc id") {
    val a = Seq((1, 10L, 1), (1, 20L, 2), (1, 30L, 3), (2, 40L, 1))
      .toDF("query_id", "doc_id", "rank")
    val b = Seq((1, 30L, 1), (1, 50L, 2), (1, 11L, 3), (3, 60L, 1),
      (3, 61L, 2)).toDF("query_id", "doc_id", "rank")
    // 20 and 50 tie at 1/62: k = 3 keeps 20, the smaller id
    assert(ranked(Retrieval.rrfFuse(a, b, k = 3)) ==
      Seq((1, 1, 30L, 0.032266), (1, 2, 10L, 0.016393),
        (1, 3, 20L, 0.016129), (2, 1, 40L, 0.016393),
        (3, 1, 60L, 0.016393), (3, 2, 61L, 0.016129)))
    assert(ranked(Retrieval.rrfFuse(a, b, k = 2, c = 7)) ==
      Seq((1, 1, 30L, 0.225), (1, 2, 10L, 0.125), (2, 1, 40L, 0.125),
        (3, 1, 60L, 0.125), (3, 2, 61L, 0.111111)))
  }

  test("a query list must be non-empty, with distinct ids") {
    val docs = Seq((1L, "alpha beta")).toDF("doc_id", "text")
    intercept[IllegalArgumentException](
      Retrieval.bm25TopK(spark, docs, Seq.empty, k = 5))
    intercept[IllegalArgumentException](
      Retrieval.booleanOverlapTopK(spark, docs, Seq(1 -> "alpha", 1 -> "beta"),
        k = 5))
  }

  // The job floor of the two BM25 queries: one postings shuffle, the
  // corpus-constant aggregate and its broadcast, one top-k shuffle per
  // ranking, and the result job. A statistic that re-reads the corpus,
  // or a top-k joined back to its input, shows up here as extra jobs.
  test("hybrid_retrieval_rrf and retrieval_metrics stay within their job ceilings") {
    val ceilings = Seq("hybrid_retrieval_rrf" -> 6, "retrieval_metrics" -> 5)
    for ((name, ceiling) <- ceilings) {
      val df = SparkEntry.queries(name)(spark, sf("sf0.001"))
      val jobs = JobCount(spark)(df.queryExecution.toRdd.count())
      assert(jobs <= ceiling, s"$name started $jobs jobs, ceiling $ceiling")
    }
  }
}
