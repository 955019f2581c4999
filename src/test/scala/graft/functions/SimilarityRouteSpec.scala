package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The measured dedup-path dial (VERDICT r9 #6): the size-biased mean
  * shingle df must route CLOSED-vocabulary corpora (hot buckets, the
  * quadratic-candidate adversarial floor) to the MinHash-LSH banded
  * path and OPEN-vocabulary corpora (df-bounded buckets) to the exact
  * prefix-filter path — and each route's output must be exactly the
  * underlying per-path function's output (which the oracle queries
  * gate), never a third semantics.
  */
class SimilarityRouteSpec extends SparkSpec {

  import spark.implicits._

  // 400 docs over a 6-word vocabulary: every shingle bucket is hot
  private lazy val closedDocs = {
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val rnd = new scala.util.Random(7L)
    (0 until 400).map { i =>
      (i.toLong, (0 until 30).map(_ => vocab(rnd.nextInt(6)))
        .mkString(" "))
    }.toDF("doc_id", "text")
  }

  // 400 docs of globally-unique words: every df = 1
  private lazy val openDocs = (0 until 400).map { i =>
    (i.toLong, (0 until 30).map(j => s"w${i}_$j").mkString(" "))
  }.toDF("doc_id", "text")

  /** The corpus-wide dial and router: the per-source forms over one
    * constant source column.
    */
  private def oneSource(docs: DataFrame): DataFrame =
    docs.withColumn("__corpus", lit("corpus"))

  private def corpusLoad(docs: DataFrame): Double = Dedup
    .sizeBiasedMeanDfBySource(oneSource(docs), "doc_id", "text", "__corpus")
    .head().getDouble(1)

  /** The corpus's route (its load against the default threshold 8) and
    * its routed (id_a, id_b, sim_ppm) pairs, every one on that route.
    */
  private def routeCorpus(docs: DataFrame): (String, DataFrame) = {
    val route = if (corpusLoad(docs) >= 8.0) "banded" else "prefix"
    val pairs = Dedup.similarityPairsAutoBySource(oneSource(docs),
      "doc_id", "text", "__corpus").localCheckpoint()
    assert(pairs.filter(col("route") =!= route).isEmpty,
      s"pairs off the corpus route $route")
    (route, pairs.select("id_a", "id_b", "sim_ppm"))
  }

  test("size-biased mean df separates the two vocabulary classes") {
    val closed = corpusLoad(closedDocs)
    val open = corpusLoad(openDocs)
    assert(closed >= 8.0, s"closed-vocab load unexpectedly cold: $closed")
    assert(open < 8.0 && open >= 1.0,
      s"open-vocab load unexpectedly hot: $open")
  }

  test("routing flips between the fixture classes and each path " +
      "reproduces its underlying function exactly") {
    val (rClosed, pairsClosed) = routeCorpus(closedDocs)
    assert(rClosed == "banded")
    val (rOpen, pairsOpen) = routeCorpus(openDocs)
    assert(rOpen == "prefix")
    // banded route == minHashCandidates thresholded, uniform schema
    val wantBanded = Dedup
      .minHashCandidates(closedDocs, "doc_id", "text")
      .filter(col("est_jaccard") >= 0.5)
      .select(col("id_a"), col("id_b"),
        round(col("est_jaccard") * 1000000).cast("long").as("sim_ppm"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    val gotBanded = pairsClosed.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(gotBanded == wantBanded)
    assert(gotBanded.nonEmpty, "closed-vocab fixture found no dups")
    // prefix route == prefixFilterPairs, uniform schema (all-unique
    // words -> zero pairs is the CORRECT exact answer)
    val wantPrefix = Dedup
      .prefixFilterPairs(openDocs, "doc_id", "text")
      .select(col("id_a"), col("id_b"), col("jac_ppm").as("sim_ppm"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    val gotPrefix = pairsOpen.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(gotPrefix == wantPrefix)
  }

  // ---- mixed-corpus fixture (VERDICT r10 #7): a closed-vocab CORE
  // source (prefix candidates quadratic — the r6 adversarial floor)
  // plus an open-vocab TAIL source holding true near-dup pairs AT the
  // similarity boundary (jac ≈ 0.556 — close enough to 0.5 that the
  // 16-hash banded estimate drops a deterministic fraction of them;
  // the exact prefix path finds every one). A single corpus-global
  // route must lose on one half: banded-everything loses recall on
  // the tail, prefix-everything pays the quadratic candidate mass on
  // the core. Per-source routing takes each half's right path.
  private lazy val mixedDocs = {
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val rnd = new scala.util.Random(7L)
    val core = (0 until 2400).map { i =>
      (i.toLong, "core",
        (0 until 30).map(_ => vocab(rnd.nextInt(6))).mkString(" "))
    }
    // 40 boundary pairs: partner keeps the first 22 of 30 unique
    // words -> 20 shared trigrams, union 36, exact jac = 0.5555
    val tail = (0 until 40).flatMap { i =>
      val base = (0 until 30).map(j => s"w${i}_$j")
      val part = base.take(22) ++ (22 until 30).map(j => s"v${i}_$j")
      Seq((10000L + 2 * i, "tail", base.mkString(" ")),
        (10001L + 2 * i, "tail", part.mkString(" ")))
    }
    (core ++ tail).toDF("doc_id", "source", "text")
      .localCheckpoint(true)
  }

  private def pairSet(df: org.apache.spark.sql.DataFrame) =
    df.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("per-source dial prices the mixed corpus's halves differently") {
    val loads = Dedup
      .sizeBiasedMeanDfBySource(mixedDocs, "doc_id", "text", "source")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(loads("core") >= 8.0,
      s"closed core unexpectedly cold: ${loads("core")}")
    assert(loads("tail") < 8.0 && loads("tail") >= 1.0,
      s"open tail unexpectedly hot: ${loads("tail")}")
  }

  test("per-source routing beats banded-everything on recall and " +
      "prefix-everything on wall over the mixed corpus") {
    def timed[A](a: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val r = a
      (r, (System.nanoTime() - t0) / 1e9)
    }
    // exact truth on the tail: every boundary pair (jac 0.5555 >= 0.5)
    val tailTruth = pairSet(Dedup.prefixFilterPairs(
      mixedDocs.filter(col("source") === "tail"), "doc_id", "text"))
    assert(tailTruth.size == 40, s"fixture: ${tailTruth.size} pairs")
    val (routed, routedWall) = timed {
      Dedup.similarityPairsAutoBySource(mixedDocs, "doc_id", "text",
        "source").localCheckpoint(true)
    }
    val routedTail = pairSet(routed.filter(col("source") === "tail"))
    val routedCore = pairSet(routed.filter(col("source") === "core"))
    // banded-everything: same-source restriction applied for a fair
    // comparison (the routed semantics)
    val srcMap = mixedDocs.select(col("doc_id"), col("source"))
    val (bandedTailFound, _) = timed {
      val all = Dedup.minHashCandidates(mixedDocs, "doc_id", "text")
        .filter(col("est_jaccard") >= 0.5)
        .join(srcMap.select(col("doc_id").as("id_a"),
          col("source").as("sa")), Seq("id_a"))
        .join(srcMap.select(col("doc_id").as("id_b"),
          col("source").as("sb")), Seq("id_b"))
        .filter(col("sa") === col("sb"))
      pairSet(all.filter(col("sa") === "tail"))
    }
    // prefix-everything: the quadratic candidate mass on the core
    val (prefixAll, prefixWall) = timed {
      val all = Dedup.prefixFilterPairs(mixedDocs, "doc_id", "text")
        .join(srcMap.select(col("doc_id").as("id_a"),
          col("source").as("sa")), Seq("id_a"))
        .join(srcMap.select(col("doc_id").as("id_b"),
          col("source").as("sb")), Seq("id_b"))
        .filter(col("sa") === col("sb"))
      all.count()
    }
    // RECALL: routed's tail output is the exact truth; banded's tail
    // output misses boundary pairs (the banding miss rate made flesh)
    assert(routedTail == tailTruth,
      s"routed tail ${routedTail.size} != truth ${tailTruth.size}")
    assert(bandedTailFound.subsetOf(tailTruth))
    assert(bandedTailFound.size < tailTruth.size,
      s"fixture lost its teeth: banded found all ${tailTruth.size}")
    // the core half: routed == the banded path's own output there
    val coreBanded = pairSet(Dedup.minHashCandidates(
        mixedDocs.filter(col("source") === "core"), "doc_id", "text")
      .filter(col("est_jaccard") >= 0.5))
    assert(routedCore == coreBanded)
    // WALL: the routed run never pays the core's quadratic prefix
    // candidates (margin by design: ~2.9M core candidate pairs on the
    // prefix path vs ~100k banded candidates + an 80-doc exact run)
    assert(routedWall < prefixWall,
      f"routed $routedWall%.1f s !< prefix-everything $prefixWall%.1f s" +
        s" (prefix same-source pairs: $prefixAll)")
    info(f"routed wall $routedWall%.2f s vs prefix-everything " +
      f"$prefixWall%.2f s; tail recall: routed ${routedTail.size}/" +
      f"${tailTruth.size}, banded-everything ${bandedTailFound.size}/" +
      f"${tailTruth.size}")
  }

  test("driver fixture routes by scale exactly as the decade tables " +
      "predict") {
    // sf0.1 documents (5k docs, closed ~31-word vocabulary): measured
    // size-biased mean df 10.7 -> banded (the r6 table shows the
    // prefix path quadratic there: 409k -> 44.9M candidates).
    val big = spark.read.parquet(sf("sf0.1") + "/documents.parquet")
    assert(corpusLoad(big) >= 8.0)
    // sf0.001 (50 docs): vocabulary not yet saturated, buckets cold,
    // the exact path is right (and cheap) -> prefix.
    val small = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    assert(corpusLoad(small) < 8.0)
  }

  test("empty corpus routes to an empty pair frame, not an error") {
    // ADVICE r12 #5: degenerate input must yield the output schema
    // with zero rows (callers that tolerated empty input keep working)
    val empty = Seq.empty[(Long, String, String)]
      .toDF("doc_id", "text", "source")
    val out = Dedup.similarityPairsAutoBySource(
      empty, "doc_id", "text", "source")
    assert(out.columns.toSet ==
      Set("id_a", "id_b", "sim_ppm", "source", "route"))
    assert(out.count() == 0L)
  }
}
