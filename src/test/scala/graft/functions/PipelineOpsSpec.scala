package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.expressions.exprs
import graft.ops.Scale

/** Round-4 pipeline operators: containment dedup, exact-substring
  * decontamination, hard-negative mining, length-bucketed batching,
  * key-skew profiling, linear quality gate, curriculum ordering.
  */
class PipelineOpsSpec extends SparkSpec {
  import spark.implicits._

  private def countExchanges(df: DataFrame): Int =
    "Exchange".r.findAllIn(df.queryExecution.executedPlan.toString).size

  // ---------------- sorted_array_overlap / containment ----------------

  test("sorted_array_overlap counts the intersection of sorted hash sets") {
    val df = Seq(
      ("a b c d e", "c d e f g"),  // 3-shingle sets overlap in 1 (c d e)
      ("a b c", "a b c"),          // identical single-shingle sets
      ("a b c", "x y z")           // disjoint
    ).toDF("x", "y")
    val got = df.select(
      exprs.sorted_array_overlap(
        exprs.shingle_hashes($"x", 3), exprs.shingle_hashes($"y", 3)))
      .as[Long].collect().toSeq
    assert(got == Seq(1L, 1L, 0L))
  }

  test("containmentPairs scores an embedded excerpt 1.0 where jaccard is the length ratio") {
    // doc 2 = the first 40 tokens of doc 1 (a verbatim excerpt); doc 3
    // unrelated. High shingle overlap keeps the pair inside MinHash-LSH
    // reach; containment must hit 1.0 while jaccard stays at ~40/60.
    val full = (1 to 60).map(i => s"tok$i").mkString(" ")
    val excerpt = (1 to 40).map(i => s"tok$i").mkString(" ")
    val other = (200 to 260).map(i => s"zzz$i").mkString(" ")
    val docs = Seq((1L, full), (2L, excerpt), (3L, other))
      .toDF("doc_id", "text")
    val pairs = Dedup.containmentPairs(docs, "doc_id", "text",
      shingleN = 3, minCont = 0.9)
      .as[(Long, Long, Double)].collect().toSeq
    assert(pairs == Seq((1L, 2L, 1.0)))
    val jac = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      shingleN = 3, minSim = 0.1)
      .as[(Long, Long, Double)].collect().toSeq
    assert(jac.nonEmpty && jac.head._3 < 0.7,
      s"jaccard should under-score the excerpt pair, got $jac")
  }

  test("containmentPairs bucket join shuffles no array columns") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.types.ArrayType
    val docs = Seq((1L, "a b c d e f"), (2L, "a b c d")).toDF("doc_id", "text")
    val plan = Dedup.containmentPairs(docs, "doc_id", "text")
      .queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    // the candidate-generation exchanges (band join + distinct) must be
    // narrow; only the post-distinct shingle-set re-join may carry arrays
    val bandExchanges = plan.collect {
      case e: Exchange if e.output.exists(_.name == "band") &&
        e.output.exists(_.name == "band_hash") => e
    }
    assert(bandExchanges.nonEmpty,
      s"expected the (band, band_hash) exchange:\n$plan")
    bandExchanges.foreach { e =>
      val wide = e.output.filter(_.dataType.isInstanceOf[ArrayType])
      assert(wide.isEmpty,
        s"array columns cross the band exchange: ${wide.map(_.name)}")
    }
  }

  // ---------------- exact-substring decontamination ----------------

  test("substringContamination flags verbatim inclusion only") {
    val docs = Seq(
      (10L, "alpha beta SECRET EVAL SPAN gamma delta"),
      (11L, "no leakage in this document at all"),
      (12L, "prefix SECRET EVAL SPAN suffix")
    ).toDF("doc_id", "text")
    val snips = Seq((1L, "SECRET EVAL SPAN"), (2L, "absent pattern"))
      .toDF("snip_id", "snippet")
    val got = Dedup.substringContamination(docs, "doc_id", "text",
      snips, "snip_id", "snippet")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((10L, 1L, 1L), (12L, 1L, 1L)))
  }

  test("substringContamination counts multiple snippet hits per doc") {
    val docs = Seq((1L, "xx AAA yy BBB zz")).toDF("doc_id", "text")
    val snips = Seq((7L, "AAA"), (8L, "BBB"), (9L, "CCC"))
      .toDF("snip_id", "snippet")
    val got = Dedup.substringContamination(docs, "doc_id", "text",
      snips, "snip_id", "snippet")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L, 7L)))
  }

  test("aho-corasick matches overlapping/suffix patterns (classic he/she/his/hers)") {
    val pats = Array("he", "she", "his", "hers")
    val df = Seq("ushers", "this", "hah", "shehe").toDF("t")
    val got = df.select(
      exprs.multi_pattern_matches($"t", pats)).as[Seq[Int]]
      .collect().toSeq
    // ushers: she(1) he(0) hers(3); this: his(2); hah: none;
    // shehe: she(1) he(0)
    assert(got == Seq(Seq(0, 1, 3), Seq(2), Seq(), Seq(0, 1)))
  }

  test("aho-corasick handles match at start/end and duplicate patterns") {
    val pats = Array("abc", "cde", "abc")
    val df = Seq("abcde", "xxabc", "ab").toDF("t")
    val got = df.select(
      exprs.multi_pattern_matches($"t", pats)).as[Seq[Int]]
      .collect().toSeq
    assert(got == Seq(Seq(0, 1, 2), Seq(0, 2), Seq()))
  }

  test("substringContaminationAC equals the instr formulation, with no nested-loop join") {
    val docs = (0L until 200L)
      .map(i => (i, s"doc $i body " +
        (if (i % 7 == 0) "LEAK-A marker " else "") +
        (if (i % 11 == 0) "LEAK-B marker " else "") + "tail"))
      .toDF("doc_id", "text")
    val snips = Seq((100L, "LEAK-A marker"), (200L, "LEAK-B marker"),
      (300L, "never present")).toDF("snip_id", "snippet")
    val viaInstr = Dedup.substringContamination(
      docs, "doc_id", "text", snips, "snip_id", "snippet")
      .as[(Long, Long, Long)].collect().toSet
    val viaAc = Dedup.substringContaminationAC(
      docs, "doc_id", "text", snips, "snip_id", "snippet")
      .as[(Long, Long, Long)].collect().toSet
    assert(viaAc == viaInstr)
    assert(viaAc.nonEmpty)
    val plan = Dedup.substringContaminationAC(
      docs, "doc_id", "text", snips, "snip_id", "snippet")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop"),
      s"AC scan should not plan a nested-loop join:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      "AC scan should be map-only (broadcast idx map join, no shuffle)")
  }

  // ---------------- integer pagerank ----------------

  test("pageRank: hub of a star outranks leaves, exact integer fixpoint") {
    // star: 0-1, 0-2, 0-3 (symmetric; hub outdeg 3, leaf outdeg 1).
    // Hand-computed, millionths:
    // r1: hub = 150000 + 3*floor(1e6*85/(100*1)) = 2700000
    //     leaf = 150000 + floor(1e6*85/(100*3)) = 433333
    // r2: hub = 150000 + 3*floor(433333*85/(100*1)) = 1254999
    //     leaf = 150000 + floor(2700000*85/(100*3)) = 915000
    val pairs = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("id_a", "id_b")
    val got = Graph.personalizedPageRank(pairs, "id_a", "id_b",
        _ => lit(true), iters = 2)
      .as[(Long, Long)].collect().toMap
    assert(got(0L) == 1254999L, s"hub: ${got(0L)}")
    assert(got(1L) == 915000L && got(2L) == 915000L && got(3L) == 915000L)
  }

  test("pageRank is partition-independent; uniform ring stays at the fixpoint") {
    val pairs = (0L until 40L).map(i => (i, (i + 1) % 40))
      .toDF("id_a", "id_b")
    def run(d: org.apache.spark.sql.DataFrame) =
      Graph.personalizedPageRank(d, "id_a", "id_b", _ => lit(true),
        iters = 3)
        .as[(Long, Long)].collect().toSet
    val base = run(pairs.repartition(1))
    assert(base == run(pairs.repartition(7)))
    // degree-2-everywhere ring: 150000 + 2*floor(r*85/200) is the
    // fixpoint at r = 1e6 — every vertex stays exactly there
    assert(base.size == 40)
    assert(base.map(_._2) == Set(1000000L))
  }

  // ---------------- content-defined chunking ----------------

  test("cdcChunks covers every token exactly once, in order") {
    val docs = Seq((1L, (1 to 100).map(i => s"tok$i").mkString(" ")))
      .toDF("doc_id", "text")
    val got = Dedup.cdcChunks(docs, "doc_id", "text", maskBits = 3)
      .select("chunk_idx", "start_tok", "n_toks")
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(got.head._2 == 1L)
    // chunks tile the token range: each starts where the previous ended
    got.sliding(2).foreach {
      case Seq((_, s1, n1), (_, s2, _)) => assert(s2 == s1 + n1)
      case _ =>
    }
    assert(got.map(_._3).sum == 100L)
  }

  test("cdcChunks is shift-robust: a prefix edit preserves downstream fingerprints") {
    val body = (1 to 200).map(i => s"tok$i").mkString(" ")
    val docs = Seq((1L, body), (2L, "inserted prefix words " + body))
      .toDF("doc_id", "text")
    val fps = Dedup.cdcChunks(docs, "doc_id", "text", maskBits = 3)
      .select("doc_id", "fingerprint").as[(Long, String)].collect()
    val a = fps.filter(_._1 == 1L).map(_._2).toSet
    val b = fps.filter(_._1 == 2L).map(_._2).toSet
    val shared = a.intersect(b).size
    // all but the first chunk (perturbed by the prefix) should re-align
    assert(shared >= a.size - 2,
      s"expected near-total fingerprint overlap, got $shared of ${a.size}")
  }

  // ---------------- token rarity ----------------

  test("tokenRarity: ubiquitous tokens → 0, unique vocabulary → high") {
    val docs = Seq(
      (1L, "common common words"),
      (2L, "common words here"),
      (3L, "common words also"),
      (4L, "zq1 zq2 zq3")
    ).toDF("doc_id", "text")
    val got = TextFunctions.tokenRarity(docs, "doc_id", "text")
      .select("doc_id", "rarity").as[(Long, Double)].collect().toMap
    // doc 4: 3 unique tokens, df 1 each → 1 - 3/(3*4) = 0.75
    assert(got(4L) == 0.75)
    // docs of corpus-wide tokens score much lower
    assert(got(1L) < 0.5 && got(4L) > got(1L))
  }

  // ---------------- hard-negative mining ----------------

  test("mineHardNegatives never returns a same-label neighbor and ranks by cosine") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f), 0),
      (1L, Array(0.9f, 0.1f), 0),   // same label as 0 — must not appear
      (2L, Array(0.8f, 0.2f), 1),   // closest different-label
      (3L, Array(0.0f, 1.0f), 1),
      (4L, Array(-1.0f, 0.0f), 2)
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.mineHardNegatives(vecs,
      vecs.filter($"vec_id" === 0), "vec_id", "embedding", "label", k = 2)
      .select("rank", "neighbor_id").as[(Int, Long)].collect().toSeq
      .sortBy(_._1)
    assert(got == Seq((1, 2L), (2, 3L)))
  }

  // ---------------- length-bucketed batching ----------------

  test("batchByLength fills budget-quantized batches within (bucket, shard)") {
    // 4 docs of 10 tokens in bucket 0 / shard 0 with budget 25:
    // starts 0,10,20,30 → batches 0,0,0,1
    val docs = (0L to 3L).map(i => (i, (1 to 10).mkString(" ")))
      .toDF("doc_id", "text")
    val got = Packing.batchByLength(docs, "doc_id",
      TextFunctions.tokenCount($"text"), bucketWidth = 16,
      budgetTokens = 25L, shardSize = 100L)
      .select("doc_id", "batch_in_shard").as[(Long, Long)]
      .collect().toSeq.sortBy(_._1)
    assert(got == Seq((0L, 0L), (1L, 0L), (2L, 0L), (3L, 1L)))
  }

  test("batchByLength is partition-independent and single-shuffle") {
    val docs = (0L until 64L)
      .map(i => (i, (1L to (i % 7 + 1)).mkString(" ")))
      .toDF("doc_id", "text")
    def run(d: DataFrame) = Packing.batchByLength(d, "doc_id",
      TextFunctions.tokenCount(col("text")), bucketWidth = 2,
      budgetTokens = 8L, shardSize = 16L)
      .select("doc_id", "bucket", "shard", "batch_in_shard")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(run(docs.repartition(1)) == run(docs.repartition(7)))
    assert(countExchanges(
      Packing.batchByLength(docs, "doc_id",
        TextFunctions.tokenCount(col("text")), 2, 8L, 16L)) == 1)
  }

  // ---------------- weighted sampling ----------------

  test("sampleWeighted keep rate tracks the weight and is monotone in it") {
    val df = (0L until 4000L).toDF("id")
    def kept(w: Double) = Sampling.sampleWeighted(df, "id", lit(w))
      .count().toDouble / 4000
    assert(kept(0.0) == 0.0)
    assert(kept(1.0) == 1.0)
    val half = kept(0.5)
    assert(half > 0.45 && half < 0.55, s"got $half")
    // monotone: rows kept at 0.3 stay kept at 0.6
    val ids30 = Sampling.sampleWeighted(df, "id", lit(0.3))
      .as[Long].collect().toSet
    val ids60 = Sampling.sampleWeighted(df, "id", lit(0.6))
      .as[Long].collect().toSet
    assert(ids30.subsetOf(ids60))
  }

  test("sampleWeighted is shuffle-free (map-only gate)") {
    val df = (0L until 100L).toDF("id")
    assert(countExchanges(
      Sampling.sampleWeighted(df, "id", lit(0.4))) == 0)
  }

  // ---------------- cluster quota ----------------

  test("clusterQuota caps every cluster at k with a deterministic winner set") {
    val rows = (0L until 300L).map(i => (i, i % 3)).toDF("id", "cluster")
    val got = Clustering.clusterQuota(rows, "id", "cluster", k = 10)
      .as[(Long, Long)].collect().toSeq
    val byCluster = got.groupBy(_._2)
    assert(byCluster.keySet == Set(0L, 1L, 2L))
    assert(byCluster.values.forall(_.size == 10))
    // winners are the 10 highest xxhash64(id) per cluster — re-run equal
    val again = Clustering.clusterQuota(rows.repartition(7), "id",
      "cluster", k = 10).as[(Long, Long)].collect().toSeq
    assert(got.toSet == again.toSet)
  }

  // ---------------- diversified top-k ----------------

  test("diverseTopK enforces the per-label quota then ranks by score") {
    // query 0; labels: 1 has three very close vectors, 2 has one far
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f), 9),
      (1L, Array(0.99f, 0.1f), 1),
      (2L, Array(0.98f, 0.12f), 1),
      (3L, Array(0.97f, 0.14f), 1),   // third label-1 — must be cut
      (4L, Array(0.5f, 0.8f), 2)
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.diverseTopK(vecs,
      vecs.filter($"vec_id" === 0), "vec_id", "embedding", "label",
      k = 3, perLabel = 2)
      .select("rank", "neighbor_id", "label")
      .as[(Int, Long, Int)].collect().toSeq.sortBy(_._1)
    assert(got.map(_._2) == Seq(1L, 2L, 4L),
      s"expected label quota to cut vec 3, got $got")
    assert(got.count(_._3 == 1) == 2)
  }

  // ---------------- embedding outliers ----------------

  test("embeddingOutliers flags the vector far from its cluster's cohesion") {
    // cluster seeds are lowest ids; 20 tight vectors near axis-x plus
    // one anti-aligned — the stray must be the only outlier
    val tight = (0L until 20L).map { i =>
      (i, Array(1.0f, (i % 5) * 0.01f, 0.0f), 0)
    }
    val stray = Seq((20L, Array(-1.0f, 0.2f, 0.0f), 0))
    val vecs = (tight ++ stray).toDF("vec_id", "embedding", "label")
    val got = Clustering.embeddingOutliers(vecs, "vec_id", "embedding",
      iters = 2, targetClusterSize = 256, minK = 1, zThresh = 2.0)
      .select("vec_id", "is_outlier").as[(Long, Boolean)]
      .collect().toMap
    assert(got(20L), "the anti-aligned vector must be flagged")
    assert(got.count(_._2) == 1,
      s"only the stray should flag, got ${got.filter(_._2)}")
  }

  test("embeddingOutliers flag set is partition-independent") {
    val vecs = (0L until 60L)
      .map(i => (i, Array((i % 7).toFloat + 1f, (i % 3).toFloat, 1.0f), 0))
      .toDF("vec_id", "embedding", "label")
    def run(d: org.apache.spark.sql.DataFrame) =
      Clustering.embeddingOutliers(d, "vec_id", "embedding", iters = 2,
        targetClusterSize = 20, minK = 2)
        .select("vec_id", "zscore", "is_outlier")
        .as[(Long, Double, Boolean)].collect().toSet
    assert(run(vecs.repartition(1)) == run(vecs.repartition(7)))
  }

  // ---------------- key-skew profile ----------------

  test("keySkewProfile reports exact distribution stats and self-join size") {
    val df = (Seq.fill(4)("hot") ++ Seq("cold")).toDF("k")
    val row = Scale.keySkewProfile(df, "k").collect().head
    assert(row.getAs[Long]("n_keys") == 2L)
    assert(row.getAs[Long]("n_rows") == 5L)
    assert(row.getAs[Long]("max_cnt") == 4L)
    assert(row.getAs[Double]("mean_cnt") == 2.5)
    assert(row.getAs[Double]("p50_cnt") == 2.5)
    assert(row.getAs[Long]("selfjoin_rows") == 17L)  // 16 + 1
    assert(row.getAs[Double]("skew_ratio") == 1.6)   // 4 / 2.5
  }

  // ---------------- linear quality gate ----------------

  test("linearKeepProb is 0.5 at z=0, monotone, and bounded in (0,1)") {
    val df = Seq(-100.0, -1.0, 0.0, 1.0, 100.0).toDF("x")
    val got = df.select(
      Curation.linearKeepProb(0.0, col("x") -> 1.0).as("p"))
      .as[Double].collect().toSeq
    assert(got(2) == 0.5)
    assert(got == got.sorted, s"not monotone: $got")
    assert(got.forall(p => p > 0.0 && p < 1.0))
    // weighted form: bias -1 + 2*0.5 = 0 → exactly 0.5
    val p0 = Seq(0.5).toDF("q")
      .select(Curation.linearKeepProb(-1.0, col("q") -> 2.0))
      .as[Double].head()
    assert(p0 == 0.5)
  }

  // ---------------- curriculum ordering ----------------

  test("curriculumOrder interleaves shards easy-first with unique global positions") {
    val docs = (0L until 40L).map(i => (i, (40L - i))).toDF("doc_id", "d")
    val got = Curation.curriculumOrder(docs, "doc_id", col("d"), nShards = 4)
      .select("doc_id", "shard", "shard_rank", "global_pos")
      .as[(Long, Long, Long, Long)].collect().toSeq
    // positions are a permutation of 0..39 by construction
    assert(got.map(_._4).toSet == (0L until 40L).toSet)
    // position mod nShards recovers the shard (round-robin deal)
    assert(got.forall { case (_, sh, _, p) => p % 4 == sh })
    // within a shard, difficulty never decreases along the ranks
    got.groupBy(_._2).foreach { case (_, rows) =>
      val byRank = rows.sortBy(_._3).map(r => 40L - r._1) // difficulty
      assert(byRank == byRank.sorted)
    }
    // single shuffle: hash on shard + shard-local sort, no global sort
    assert(countExchanges(Curation.curriculumOrder(
      docs, "doc_id", col("d"), nShards = 4)) == 1)
  }
}
