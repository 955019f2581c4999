package graft

import org.apache.spark.sql.functions._

import graft.functions.Graph

/** Round-6 operator family: HITS, incremental components, the DP
  * threshold table, trend/readability/HDR/sequence/CV queries.
  */
class Round6OpsSpec extends SparkSpec {

  test("hits: hand-checked scores on a tiny directed graph") {
    import spark.implicits._
    // 1→3, 2→3, 3→4: vertex 3 is the sole authority target of two
    // hubs; 4 is reachable only from 3.
    val e = Seq((1L, 3L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    val r = Graph.hits(e, "a", "b", iters = 1)
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2)))
      .toMap
    // auth raw: v3 = hub(1)+hub(2) = 2e6 (max), v4 = 1e6, v1=v2=0
    assert(r(3L)._1 == 1000000L)
    assert(r(4L)._1 == 500000L)
    assert(r(1L)._1 == 0L && r(2L)._1 == 0L)
    // hub raw: h1 = auth(3) = 1e6 (max), h2 = 1e6, h3 = auth(4) = 5e5
    assert(r(1L)._2 == 1000000L && r(2L)._2 == 1000000L)
    assert(r(3L)._2 == 500000L)
    assert(r(4L)._2 == 0L)
  }

  test("hits: normalization keeps every score in [0, 1e6]") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val e = Seq.fill(200)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .filter(p => p._1 != p._2).distinct.toDF("a", "b")
    val r = Graph.hits(e, "a", "b", iters = 3).collect()
    assert(r.nonEmpty)
    r.foreach { x =>
      assert(x.getLong(1) >= 0L && x.getLong(1) <= 1000000L)
      assert(x.getLong(2) >= 0L && x.getLong(2) <= 1000000L)
    }
    assert(r.map(_.getLong(1)).max == 1000000L,
      "some vertex must hold the L-inf max authority")
  }

  test("incrementalComponents equals from-scratch components") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val pairs = Seq.fill(120)(
        (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter(p => p._1 != p._2).distinct.toDF("a", "b")
      .localCheckpoint(true)
    val full = Graph.components(pairs, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // base = edges among even "old" vertices only; delta = the rest.
    // The merge closes the base labels together with the delta pairs.
    val isBase = col("a") % 2 === 0 && col("b") % 2 === 0
    val baseLabels = Graph.components(pairs.filter(isBase), "a", "b")
    val incr = Graph.components(
        baseLabels.select(col("doc_id").as("a"), col("rep_id").as("b"))
          .unionByName(pairs.filter(!isBase)), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(incr == full,
      "merged base labels + delta must equal the from-scratch labeling")
  }

  test("dp threshold table covers [0, 2^40) exactly, monotone in k") {
    val rows = graft.queries.ProfileQueries.dpGeomThresholds
    assert(rows.size == 51)
    assert(rows.head._2 == 0L)
    assert(rows.last._3 == (1L << 40))
    rows.sliding(2).foreach { case Seq(a, b) =>
      assert(a._3 == b._2, s"gap/overlap between $a and $b")
      assert(a._1 + 1 == b._1, "noise values must be consecutive")
    }
    rows.foreach { case (_, lo, hi) => assert(hi >= lo) }
    // the k=0 bucket is the widest (mode of the discrete Laplace)
    val widths = rows.map(r => r._1 -> (r._3 - r._2)).toMap
    assert(widths(0L) == widths.values.max)
  }

  test("trend_mann_kendall: internal consistency at sf0.001") {
    val r = SparkEntry.queries("trend_mann_kendall")(
      spark, sf("sf0.001")).head()
    val n = r.getAs[Long]("n_days")
    val s = r.getAs[Long]("s_stat")
    val maxS = n * (n - 1) / 2
    assert(math.abs(s) <= maxS, "S is bounded by the pair count")
    assert(r.getAs[Long]("var18") > 0)
    val z = r.getAs[Double]("z")
    val trend = r.getAs[String]("trend")
    if (z > 1.96) assert(trend == "up")
    else if (z < -1.96) assert(trend == "down")
    else assert(trend == "none")
  }

  test("hdr histogram: est_lb within 3.2% below the exact percentile") {
    val est = SparkEntry.queries("profile_hdr_histogram")(
      spark, sf("sf0.001"))
      .filter(col("scope") === "ALL")
      .collect().map(r => r.getAs[Int]("p") -> r.getAs[Long]("est_lb"))
      .toMap
    val cents = Tables.load(spark, sf("sf0.001"), "lineitem")
      .select(floor(col("l_extendedprice") * 100).cast("long").as("v"))
    val n = cents.count()
    for ((p, lb) <- est) {
      // exact percentile = smallest v with rank >= ceil(p% * n)
      val target = (n * p + 99) / 100
      val exact = cents.orderBy("v").limit(target.toInt)
        .agg(max("v")).head().getLong(0)
      assert(lb <= exact, s"p$p lower bound $lb above exact $exact")
      assert(lb.toDouble >= exact * (1.0 - 1.0 / 16.0),
        s"p$p lower bound $lb more than one sub-bucket below $exact")
    }
  }

  test("sequence detect: gaps within the 12-h bound, strict order") {
    val rows = SparkEntry.queries("events_sequence_detect")(
      spark, sf("sf0.001")).collect()
    assert(rows.nonEmpty, "fixture must contain at least one sequence")
    rows.foreach { r =>
      val g1 = r.getAs[Long]("gap1_s")
      val g2 = r.getAs[Long]("gap2_s")
      assert(g1 >= 0 && g1 <= 43200)
      assert(g2 >= 0 && g2 <= 43200)
    }
    // LAST-match: one row per purchase id
    val pids = rows.map(_.getAs[Long]("p_id"))
    assert(pids.distinct.length == pids.length)
  }

  test("ml_ridge_normal matches a BigInt Cramer solve on sf0.001") {
    val got = SparkEntry.queries("ml_ridge_normal")(
      spark, sf("sf0.001")).collect()
      .map(r => r.getAs[String]("l_returnflag") ->
        (r.getAs[Double]("b1"), r.getAs[Double]("b2")))
      .toMap
    val rows = Tables.load(spark, sf("sf0.001"), "lineitem")
      .select(col("l_returnflag"),
        col("l_quantity").cast("long"),
        floor(col("l_discount") * 10000).cast("long"),
        floor(col("l_extendedprice") * 100).cast("long"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    rows.groupBy(_._1).foreach { case (flag, g) =>
      val n = BigInt(g.size)
      def S(f: ((String, Long, Long, Long)) => BigInt): BigInt =
        g.map(f).sum
      val s1 = S(r => BigInt(r._2)); val s2 = S(r => BigInt(r._3))
      val sy = S(r => BigInt(r._4))
      val s11 = S(r => BigInt(r._2) * r._2)
      val s22 = S(r => BigInt(r._3) * r._3)
      val s12 = S(r => BigInt(r._2) * r._3)
      val s1y = S(r => BigInt(r._2) * r._4)
      val s2y = S(r => BigInt(r._3) * r._4)
      val sxx1 = n * s11 - s1 * s1; val sxx2 = n * s22 - s2 * s2
      val sx12 = n * s12 - s1 * s2
      val sx1y = n * s1y - s1 * sy; val sx2y = n * s2y - s2 * sy
      val det = sxx1 * sxx2 - sx12 * sx12
      val b1 = (sx1y * sxx2 - sx2y * sx12).toDouble / det.toDouble
      val b2 = (sx2y * sxx1 - sx1y * sx12).toDouble / det.toDouble
      assert(math.abs(got(flag)._1 - b1) < 1e-4,
        s"$flag b1: got ${got(flag)._1}, want $b1")
      assert(math.abs(got(flag)._2 - b2) < 1e-4,
        s"$flag b2: got ${got(flag)._2}, want $b2")
    }
  }

  test("ml_logreg_cv: three folds, disjoint sizes sum to corpus") {
    val rows = SparkEntry.queries("ml_logreg_cv")(
      spark, sf("sf0.001")).collect()
    assert(rows.map(_.getAs[Int]("fold")).sorted.toSeq == Seq(0, 1, 2))
    val total = Tables.load(spark, sf("sf0.001"), "documents")
      .filter(length(trim(col("text"))) > 0).count()
    rows.foreach { r =>
      assert(r.getAs[Long]("n_train") + r.getAs[Long]("n_test") == total)
      assert(r.getAs[Long]("correct") <= r.getAs[Long]("n_test"))
    }
  }

  test("random walks are valid paths, deterministic across runs") {
    def run() = SparkEntry.queries("graph_random_walks")(
      spark, sf("sf0.001")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val rows = run()
    assert(rows.count(_._2 == 0) == 5, "5 seed walks at step 0")
    assert(rows.count(_._2 == 4) == 5,
      "symmetric graph has no dead ends: every walk completes 4 steps")
    // every consecutive (step, step+1) pair must be a real edge
    val edges = {
      import org.apache.spark.sql.functions._
      val p = functions.Dedup.minHashCandidates(
          Tables.load(spark, sf("sf0.001"), "documents"),
          "doc_id", "text")
        .filter(col("est_jaccard") >= 0.5)
        .select("id_a", "id_b").collect()
        .flatMap(r => Seq((r.getLong(0), r.getLong(1)),
          (r.getLong(1), r.getLong(0)))).toSet
      p
    }
    val byWalk = rows.groupBy(_._1)
    byWalk.foreach { case (_, steps) =>
      val path = steps.toSeq.sortBy(_._2).map(_._3)
      path.sliding(2).foreach { case Seq(a, b) =>
        assert(edges.contains((a, b)), s"non-edge transition $a -> $b")
      }
    }
    assert(run() == rows, "hash-derandomized walks must replay exactly")
  }

  test("CUPED: variance reduction in [0,1], both arms present") {
    val rows = SparkEntry.queries("events_ab_cuped")(
      spark, sf("sf0.001")).collect()
    assert(rows.map(_.getAs[Long]("arm")).sorted.toSeq == Seq(0L, 1L))
    rows.foreach { r =>
      val vr = r.getAs[Double]("var_reduction")
      assert(vr >= 0.0 && vr <= 1.0, s"corr^2 out of range: $vr")
      assert(!r.getAs[Double]("theta").isNaN)
    }
  }

  test("Holt-Winters: 7 forecast rows with shared level/trend") {
    val rows = SparkEntry.queries("events_holt_winters")(
      spark, sf("sf0.001")).collect()
    assert(rows.map(_.getAs[Int]("h")).sorted.toSeq == (1 to 7))
    assert(rows.map(_.getAs[Long]("level_cents")).distinct.length == 1)
    assert(rows.map(_.getAs[Long]("trend_cents")).distinct.length == 1)
  }

  test("audio fingerprint matches a direct formula computation") {
    import graft.multimodal.Multimodal
    val got = Multimodal.audioFingerprints(
        Multimodal.renderWavAudio(
          Tables.load(spark, sf("sf0.001"), "documents")))
      .collect().map(f => f.media_id -> f).toMap
    for (id <- Seq(0L, 3L, 801L) if got.contains(id)) {
      val n = Multimodal.AudioCodec.nSamples(id)
      val nf = n / 100
      val energies = (0 until nf).map { f =>
        (0 until 100).map { i =>
          val v = Multimodal.AudioCodec.sample(id, f * 100 + i).toLong
          v * v
        }.sum
      }
      val mean = energies.sum / nf
      var fp = 0L
      energies.zipWithIndex.foreach { case (e, f) =>
        if (e > mean) fp |= 1L << f
      }
      assert(got(id).n_frames == nf && got(id).fp == fp &&
        got(id).energy_sum == energies.sum,
        s"fingerprint mismatch for id=$id")
    }
  }

  test("incremental top-k equals the direct global top-10") {
    import org.apache.spark.sql.functions._
    val got = SparkEntry.queries("incr_topk_merge")(
      spark, sf("sf0.001")).collect()
      .map(r => (r.getAs[Int]("rank"), r.getAs[Long]("o_orderkey")))
    val want = Tables.load(spark, sf("sf0.001"), "orders")
      .select(col("o_orderkey"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      .orderBy(col("cents").desc, col("o_orderkey").asc).limit(10)
      .collect().map(_.getLong(0)).zipWithIndex
      .map { case (k, i) => (i + 1, k) }
    assert(got.sortBy(_._1).toSeq == want.toSeq)
  }

  test("pca power iteration is L-inf normalized over 64 dims") {
    val rows = SparkEntry.queries("embed_pca_power")(
      spark, sf("sf0.001")).collect()
    assert(rows.length == 64)
    val vs = rows.map(_.getAs[Long]("v_e6"))
    assert(vs.map(math.abs).max == 1000000L,
      "some dimension must hold the L-inf max")
    assert(vs.forall(v => math.abs(v) <= 1000000L))
  }

  test("KN bigram probabilities stay within the unit bound") {
    val rows = SparkEntry.queries("text_kn_bigram")(
      spark, sf("sf0.001")).collect()
    assert(rows.nonEmpty && rows.length <= 30)
    rows.foreach { r =>
      val p = r.getAs[Long]("p_kn_e6")
      assert(p > 0 && p <= 1000000L, s"p out of (0, 1]: $p")
    }
  }

  test("modularity: Q within Newman bounds, communities partition verts") {
    val r = SparkEntry.queries("graph_modularity")(
      spark, sf("sf0.001")).head()
    val q = r.getAs[Long]("q_e9")
    assert(q >= -500000000L && q <= 1000000000L,
      s"Q out of [-1/2, 1]: $q")
    assert(r.getAs[Long]("n_communities") >= 1)
    assert(r.getAs[Long]("n_edges") >= 1)
  }

  test("DiD: estimate consistent with the four reported means") {
    val r = SparkEntry.queries("events_diff_in_diff")(
      spark, sf("sf0.001")).head()
    val did = r.getAs[Double]("did_cents")
    val recomputed = (r.getAs[Double]("post1") - r.getAs[Double]("pre1")) -
      (r.getAs[Double]("post0") - r.getAs[Double]("pre0"))
    // the reported means are rounded to 4dp; the estimate is computed
    // from the unrounded chain, so agreement is to ~2e-4
    assert(math.abs(did - recomputed) < 5e-4,
      s"did=$did recomputed=$recomputed")
    assert(r.getAs[Long]("n0") > 0 && r.getAs[Long]("n1") > 0)
  }

  test("text_readability: integer identity words >= vowel groups / 3") {
    val rows = SparkEntry.queries("text_readability")(
      spark, sf("sf0.001")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_words") > 0)
      assert(r.getAs[Long]("n_syllables") > 0)
      assert(r.getAs[Long]("n_docs") > 0)
    }
  }
}
