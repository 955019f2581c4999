package graft.functions

import org.apache.spark.sql.functions._
import graft.{JobCount, SparkSpec}
import graft.expressions.exprs

class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("tokenCount: blank → 0, whitespace runs collapse") {
    val df = Seq("", "  ", "one", "a b  c\td").toDF("t")
    val got = df.select(TextFunctions.tokenCount($"t")).as[Long]
      .collect().toSeq
    assert(got == Seq(0L, 0L, 1L, 4L))
  }

  test("langId picks marker-majority language, und when no markers") {
    val df = Seq(
      "the cat and the dog of to in",
      "der hund und die katze ist das",
      "zzz qqq").toDF("t")
    val got = df.select(TextFunctions.langId($"t")).as[String]
      .collect().toSeq
    assert(got == Seq("en", "de", "und"))
  }

  test("hashed classifier: exact token-weight sums, blank → (0,0)") {
    // dim=2: bucket = low bit of the token hash, weights = (+5, -3) —
    // score is the exact count-weighted sum, independent of row order
    val w = Array(5, -3)
    val df = Seq((1L, "alpha beta gamma alpha"), (2L, ""), (3L, "  "))
      .toDF("doc_id", "text")
    val got = TextFunctions.classifierScore(df, "doc_id", "text", w)
      .as[(Long, Int, Long, Boolean)].collect().sortBy(_._1).toSeq
    // recompute expected from the same public hash the engine uses
    val hv = df.filter($"doc_id" === 1)
      .select(explode(split(lower(trim($"text")), "\\s+")).as("tok"))
      .select(xxhash64($"tok")).as[Long].collect()
    val exp1 = hv.map(h => w((h & 1L).toInt).toLong).sum
    assert(got == Seq((1L, 4, exp1, exp1 > 0),
      (2L, 0, 0L, false), (3L, 0, 0L, false)))
  }

  test("DSIR weights rank target-vocabulary docs above raw-only docs") {
    val docs = Seq(
      (1L, "aaa aaa aaa", true), (2L, "aaa aaa bbb", true),
      (3L, "bbb bbb bbb", false), (4L, "aaa bbb bbb", false),
      (5L, "", false)).toDF("doc_id", "text", "is_t")
    val w = Importance.dsirWeights(docs, "doc_id", "text",
      $"is_t", dim = 64)
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    assert(w.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L)) // blank excluded
    val byId = w.map(x => x._1 -> x._3).toMap
    // all-target-vocab doc beats mixed beats raw-only; monotone in the
    // share of target-typical tokens (absolute sign is smoothing-
    // dominated at toy scale, so only the ordering is contractual)
    assert(byId(1L) > byId(2L) && byId(2L) > byId(4L) &&
      byId(4L) > byId(3L), byId.toString)
  }

  test("fingerprint is whitespace/case canonical") {
    val df = Seq(("A  B\tc", "a b c")).toDF("x", "y")
    val r = df.select(
      TextFunctions.fingerprint($"x") === TextFunctions.fingerprint($"y"))
      .as[Boolean].head()
    assert(r)
  }

  test("native simhash: identical text → identical hash; near text → small hamming") {
    val df = Seq(
      ("a", "the quick brown fox jumps over the lazy dog again and again"),
      ("b", "the quick brown fox jumps over the lazy dog again and again"),
      ("c", "the quick brown fox jumps over the lazy cat again and again"),
      ("d", "completely different words entirely unrelated content here now")
    ).toDF("id", "t")
    val sigs = df.select($"id", exprs.simhash64($"t")).as[(String, Long)]
      .collect().toMap
    assert(sigs("a") == sigs("b"))
    val nearDist = java.lang.Long.bitCount(sigs("a") ^ sigs("c"))
    val farDist = java.lang.Long.bitCount(sigs("a") ^ sigs("d"))
    assert(nearDist < farDist,
      s"near=$nearDist should be < far=$farDist")
  }

  test("simHashPairs half/1-flip blocking equals the brute-force " +
      "all-pairs join at maxDist 3") {
    // adversarial corpus: near-dup clusters (1-2 token edits around a
    // shared template) + unrelated tails, deterministic seed
    val rnd = new scala.util.Random(7)
    val docs = (0 until 60).map { i =>
      val fam = i / 6
      val words = (0 until 25).map { j =>
        if (rnd.nextInt(10) == 0) s"n${i}_$j" else s"f${fam}_$j"
      }
      (i.toLong, words.mkString(" "))
    }.toDF("doc_id", "text")
    val blocked = graft.functions.Dedup
      .simHashPairs(docs, "doc_id", "text", maxDist = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val sig = docs.select($"doc_id", exprs.simhash64($"text").as("s"))
    val brute = sig.as("a").crossJoin(sig.as("b"))
      .filter($"a.doc_id" < $"b.doc_id")
      .filter(bit_count($"a.s".bitwiseXOR($"b.s")) <= 3)
      .select($"a.doc_id", $"b.doc_id").as[(Long, Long)]
      .collect().toSet
    assert(blocked == brute,
      s"missing=${brute -- blocked} extra=${blocked -- brute}")
    assert(brute.nonEmpty, "fixture produced no close pairs")
  }

  test("native minhash signature: est jaccard high for near-dups, low for unrelated") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val near = (1 to 40).map(i => if (i == 20) "CHANGED" else s"tok$i")
      .mkString(" ")
    val far = (100 to 140).map(i => s"other$i").mkString(" ")
    val df = Seq(("a", base), ("b", near), ("c", far)).toDF("id", "t")
    val sig = df.select($"id", exprs.minhash_sig($"t", 3, 16).as("s"))
    val pairs = sig.as("x").crossJoin(sig.as("y"))
      .filter($"x.id" < $"y.id")
      .select($"x.id", $"y.id",
        Dedup.estJaccard($"x.s", $"y.s").as("j"))
      .as[(String, String, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    assert(pairs(("a", "b")) > 0.5, s"near-dup est ${pairs(("a", "b"))}")
    assert(pairs(("a", "c")) < 0.2, s"unrelated est ${pairs(("a", "c"))}")
  }

  test("shingle_hashes + sorted_array_jaccard: exact jaccard via merge") {
    val df = Seq(("x", "a b c d e", "a b c d e"), ("y", "a b c d e", "f g h i j"))
      .toDF("id", "s", "t")
    val got = df.select(exprs.sorted_array_jaccard(
      exprs.shingle_hashes($"s", 2), exprs.shingle_hashes($"t", 2)))
      .as[Double].collect().toSeq
    assert(got == Seq(1.0, 0.0))
  }

  test("native cosine_sim matches HOF cosine to 1e-9") {
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
      .limit(50)
    val a = emb.select($"vec_id".as("ia"), $"embedding".as("va"))
    val b = emb.select($"vec_id".as("ib"), $"embedding".as("vb"))
    val joined = a.crossJoin(b).filter($"ia" < $"ib").limit(200)
    val diffs = joined.select(
      abs(exprs.cosine_sim($"va", $"vb") -
        Similarity.cosine($"va", $"vb")).as("d"))
      .agg(max($"d")).as[Double].head()
    assert(diffs < 1e-9, s"max diff $diffs")
  }

  test("exact dedup groups identical canonical text") {
    val df = Seq((1L, "Hello  World"), (2L, "hello world"), (3L, "bye"))
      .toDF("doc_id", "text")
    val out = Dedup.exact(df, "doc_id", "text")
      .select($"keep_id", $"n_copies").as[(Long, Long)]
      .collect().toSet
    assert(out == Set((1L, 2L), (3L, 1L)))
  }

  test("native hyperplane_sigs bit-identical to the HOF signature") {
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val planes = Similarity.hyperplanes(4, 5, 64, 42L)
    val hof = array((0 until 4).map(l =>
      Similarity.hyperplaneSignature($"embedding", planes(l))): _*)
    val native = exprs.hyperplane_sigs($"embedding", planes)
    val nDiff = emb.filter(hof =!= native).count()
    assert(nDiff == 0, s"$nDiff vectors disagree")
  }

  test("multi-table LSH recall@5 >= 0.9 vs brute force") {
    val emb = spark.read.parquet(sf("sf0.01") + "/embeddings.parquet")
    val queries = emb.filter($"vec_id" < 8)
    val truth = Similarity
      .bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .select($"query_id", $"neighbor_id").as[(Long, Long)]
      .collect().toSet
    val got = Similarity
      .lshTopK(emb, queries, "vec_id", "embedding", 5, 64,
        nBits = 3, nTables = 12)
      .select($"query_id", $"neighbor_id").as[(Long, Long)]
      .collect().toSet
    val recall = (truth intersect got).size.toDouble / truth.size
    assert(recall >= 0.9, s"recall@5 = $recall (${truth.size} truth pairs)")
  }

  test("ivfTopK with precomputed sampled centroids matches on-the-fly path") {
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val queries = emb.filter($"vec_id" < 4)
    val cent = Similarity.trainCentroids(
      emb.filter($"vec_id" % 4 === 0), "embedding", "label")
    // one centroid per cell, dim preserved
    val cells = cent.select($"cell").as[Int].collect()
    assert(cells.distinct.length == cells.length && cells.nonEmpty)
    assert(cent.select(size($"centroid")).as[Int].head() == 64)
    val pre = Similarity.ivfTopK(emb, queries, "vec_id", "embedding",
      "label", k = 3, nProbe = 2, centroids = Some(cent))
      .collect().map(_.toSeq).toSet
    val auto = Similarity.ivfTopK(emb, queries, "vec_id", "embedding",
      "label", k = 3, nProbe = 2)
      .collect().map(_.toSeq).toSet
    assert(pre == auto)
  }

  test("learned-cell IVF beats metadata cells and clears recall 0.8") {
    val emb = spark.read.parquet(sf("sf0.01") + "/embeddings.parquet")
    val queries = emb.filter($"vec_id" < 8)
    val truth = Similarity
      .bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .select($"query_id", $"neighbor_id").as[(Long, Long)]
      .collect().toSet
    val got = Similarity
      .ivfKmeansTopK(emb, queries, "vec_id", "embedding", k = 5,
        nProbe = 4)
      .select($"query_id", $"neighbor_id").as[(Long, Long)]
      .collect().toSet
    val recall = (truth intersect got).size.toDouble / truth.size
    // 500 vectors -> minK=8 cells; probing half must carry most truth
    assert(recall >= 0.8, s"learned-cell recall@5 = $recall")
  }

  test("int8-quantized cosine preserves top-5 neighbors") {
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val queries = emb.filter($"vec_id" < 8)
    val truth = Similarity
      .bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val got = graft.SparkEntry.queries("sim_quantized_topk")(
      spark, sf("sf0.001"))
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (truth intersect got).size.toDouble / truth.size
    assert(recall >= 0.8, s"quantized recall@5 = $recall")
  }

  test("1-bit sign codes: bounded recall on isotropic vectors") {
    // Axis-sign binary codes are the no-rotation degenerate case of
    // hyperplane codes; on this fixture's isotropic embeddings their
    // structural recall ceiling is low (0.425 measured at the 20k
    // corpus, 0.175 at this 500-vector fixture — BENCH_NOTES round-8
    // addendum). Pin a floor an order of magnitude above the random
    // baseline (5/499 ≈ 0.01) so a broken pack/popcount path can't
    // hide behind the known coarseness.
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val queries = emb.filter($"vec_id" < 8)
    val truth = Similarity
      .bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val got = graft.SparkEntry.queries("sim_binary_topk")(
      spark, sf("sf0.001"))
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (truth intersect got).size.toDouble / truth.size
    assert(recall >= 0.1, s"binary recall@5 = $recall")
  }

  test("embedding near-dup LSH: exact precision, bounded recall loss") {
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val exact = Similarity
      .embeddingNearDups(emb, "vec_id", "embedding", 0.4, Long.MaxValue)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val lsh = Similarity
      .embeddingNearDupsLsh(emb, "vec_id", "embedding", 0.4, dim = 64)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact), "refine is exact, so precision must be 1")
    assert(exact.nonEmpty)
    val recall = lsh.size.toDouble / exact.size
    assert(recall >= 0.5, s"recall $recall (${exact.size} true pairs)")
  }

  test("hyperplane family is resolution- and table-nested") {
    import graft.functions.Similarity.hyperplanes
    val big = hyperplanes(8, 16, 64, 42L)
    val small = hyperplanes(8, 4, 64, 42L)
    for (l <- 0 until 8; p <- 0 until 4)
      assert(big(l)(p).sameElements(small(l)(p)),
        s"plane ($l,$p) must not depend on nBits")
    val fewer = hyperplanes(3, 16, 64, 42L)
    for (l <- 0 until 3; p <- 0 until 16)
      assert(big(l)(p).sameElements(fewer(l)(p)),
        s"plane ($l,$p) must not depend on nTables")
    // masking low bits of a 16-plane signature == the 4-plane signature
    // (what the count-adaptive oracle relies on)
  }

  test("adaptive LSH bits track corpus size; auto variant stays exact") {
    import graft.functions.Similarity.adaptiveBits
    assert(adaptiveBits(500) == 4)       // clamped at the floor
    assert(adaptiveBits(2048, 128) == 4) // exact power-of-two boundary
    assert(adaptiveBits(2049, 128) == 5)
    assert(adaptiveBits(20480, 128) == 8)  // 10x corpus -> ~10x buckets
    assert(adaptiveBits(1L << 40, 128) == 20) // ceiling clamp
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val exact = Similarity
      .embeddingNearDups(emb, "vec_id", "embedding", 0.4, Long.MaxValue)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val auto = Similarity
      .embeddingNearDupsLshAuto(emb, "vec_id", "embedding", 0.4, dim = 64)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(auto.subsetOf(exact), "refine is exact at any resolution")
    assert(auto.nonEmpty)
  }

  test("hash sampling: deterministic, partition-independent, monotone") {
    val df = spark.range(10000).toDF("id")
    val a = Sampling.sample(df, "id", 0.1).as[Long].collect().toSet
    val b = Sampling.sample(df.repartition(7), "id", 0.1)
      .as[Long].collect().toSet
    assert(a == b, "kept set must not depend on partitioning")
    assert(math.abs(a.size / 10000.0 - 0.1) < 0.02, s"rate off: ${a.size}")
    val c = Sampling.sample(df, "id", 0.2).as[Long].collect().toSet
    assert(a.subsetOf(c), "raising the rate must keep previously-kept rows")
  }

  test("split assignment: disjoint, stable under corpus growth, sized") {
    import org.apache.spark.sql.functions.col
    val fr = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)
    def splits(n: Long): Map[Long, String] = spark.range(n).toDF("id")
      .select(col("id"), Sampling.assignSplit(col("id"), fr).as("s"))
      .as[(Long, String)].collect().toMap
    val small = splits(5000)
    val big = splits(20000)
    // growth stability: every original doc keeps its split
    small.foreach { case (id, s) => assert(big(id) == s, s"doc $id moved") }
    // sized roughly to the fractions
    val frac = big.values.groupBy(identity).view.mapValues(_.size / 20000.0)
    assert(math.abs(frac("train") - 0.9) < 0.02, frac.toMap.toString)
    assert(math.abs(frac("val") - 0.05) < 0.01)
    intercept[IllegalArgumentException] {
      Sampling.assignSplit(col("id"), Seq("a" -> 0.5, "b" -> 0.4))
    }
  }

  test("temperature thresholds: exact sqrt flattening, alpha endpoints") {
    import org.apache.spark.sql.functions.{col, explode, lit, sequence}
    // groups sized 100 / 400 / 10000
    val df = Seq(("a", 100L), ("b", 400L), ("c", 10000L)).toDF("g", "n")
      .select(col("g"), explode(sequence(lit(1L), col("n"))).as("id"))
    def thr(alpha: Double): Map[String, Long] =
      Sampling.temperatureThresholds(df, "g", alpha)
        .as[(String, Long)].collect().toMap
    // alpha=0.5: floor(1e6*sqrt(100/n)) — smallest keeps all
    assert(thr(0.5) == Map("a" -> 1000000L, "b" -> 500000L, "c" -> 100000L))
    // alpha=1: natural distribution, keep everything
    assert(thr(1.0) == Map("a" -> 1000000L, "b" -> 1000000L,
      "c" -> 1000000L))
    // alpha=0: fully flat, every group sized to n_min
    assert(thr(0.0) == Map("a" -> 1000000L, "b" -> 250000L, "c" -> 10000L))
    intercept[IllegalArgumentException] {
      Sampling.temperatureThresholds(df, "g", 1.5)
    }
  }

  test("temperature sampling: partition-independent, monotone in alpha") {
    import org.apache.spark.sql.functions.{col, explode, lit, sequence}
    val df = Seq(("a", 200L), ("b", 3200L)).toDF("g", "n")
      .select(col("g"), explode(sequence(lit(1L), col("n"))).as("id"),
        (col("n") * 1000).as("payload"))
    def kept(d: org.apache.spark.sql.DataFrame, alpha: Double) =
      Sampling.sampleTemperature(d, "id", "g", alpha)
        .select("g", "id").as[(String, Long)].collect().toSet
    val half = kept(df, 0.5)
    assert(kept(df.repartition(7), 0.5) == half,
      "kept set must not depend on partitioning")
    // smallest group fully kept; larger group near its sqrt rate
    assert(half.count(_._1 == "a") == 200)
    val bRate = half.count(_._1 == "b") / 3200.0
    assert(math.abs(bRate - 0.25) < 0.03, s"b rate $bRate, expected ~0.25")
    // shared hash gate => kept sets are monotone in alpha
    assert(half.subsetOf(kept(df, 0.8)))
    // payload columns survive (threshold column is internal)
    val cols = Sampling.sampleTemperature(df, "id", "g", 0.5).columns.toSeq
    assert(cols.sorted == Seq("g", "id", "payload"))
  }

  test("redactPii scrubs emails, phones, IPs, and long digit runs") {
    val df = Seq("write bob.smith+x@corp.example.org or call 555-123-4567 " +
      "from 10.0.3.9 ref 12345678 ok 123").toDF("t")
    val got = df.select(TextFunctions.redactPii($"t")).as[String].head()
    assert(got == "write <EMAIL> or call <PHONE> from <IP> ref <NUM> ok 123",
      got)
  }

  test("repetition signals: repeated text scores high, varied text low") {
    val df = Seq((1L, "a a a a b")).toDF("doc_id", "text")
    val toks = Dedup.tokens($"text")
    val bigs = Dedup.shingles($"text", 2)
    val row = df.select(
      (lit(1.0) - size(array_distinct(toks)).cast("double") / size(toks))
        .as("rep_tok"),
      (lit(1.0) - size(array_distinct(bigs)).cast("double") / size(bigs))
        .as("rep_big"))
      .as[(Double, Double)].head()
    assert(row == ((0.6, 0.5)), row.toString) // 2/5 distinct; {a a, a b}/4
  }

  test("packing: budget boundaries, straddling docs, shard independence") {
    // budget 10, shard 100: docs of 4+4+4 tokens — third doc starts at
    // cumsum 8, still pack 0 (straddles into pack 1); fourth starts at 12
    val df = Seq((1L, 4L), (2L, 4L), (3L, 4L), (4L, 4L), (101L, 4L))
      .toDF("doc_id", "nt")
    val got = Packing
      .packForTraining(df, "doc_id", $"nt", budgetTokens = 10, shardSize = 100)
      .select($"doc_id", $"shard", $"pack_in_shard", $"pack_offset")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == Set(
      (1L, 0L, 0L, 0L), (2L, 0L, 0L, 4L), (3L, 0L, 0L, 8L),
      (4L, 0L, 1L, 2L),
      (101L, 1L, 0L, 0L))) // new shard restarts packing
  }

  test("decontamination flags docs overlapping the eval set") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"), // eval
      (2L, "a quick brown fox jumps over the lazy cat"),   // shares 5-grams
      (3L, "completely different text with no overlap at all"),
      (4L, "the quick brown fox jumps over the lazy dog")  // exact dup of eval
    ).toDF("doc_id", "text")
    val contamination = Dedup.evalShingles(
      docs.filter($"doc_id" === 1), "text", shingleN = 5)
    val hits = Dedup.contaminationHits(docs.filter($"doc_id" =!= 1),
      "doc_id", "text", contamination, shingleN = 5)
      .as[(Long, Long)].collect().toMap
    assert(hits.contains(2L) && hits.contains(4L) && !hits.contains(3L))
    assert(hits(4L) == 5L) // 9 tokens → 5 five-gram shingles, all shared
  }

  test("connected components: chain, triangle, isolated pair → min-id reps") {
    // chain 1-2-3-4 (diameter 3 takes more than one star round),
    // triangle 10-11-12, plain pair 20-21
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L), (20L, 21L)).toDF("id_a", "id_b")
    // the default budget runs the union-find, "0" the star-contraction
    // rounds
    for (budget <- Seq(Graph.ccLocalMax.toString, "0")) {
      val got = withCcLocalMax(budget) {
        Graph.components(pairs, "id_a", "id_b").as[(Long, Long)].collect()
      }
      assert(got.toSet == Set((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L),
        (10L, 10L), (11L, 10L), (12L, 10L), (20L, 20L), (21L, 20L)),
        s"budget $budget")
    }
  }

  test("triangle counts: clique counts C(n-1,2) per node, chains none") {
    // K4 on 1-4 (each node in C(3,2)=3 triangles), triangle 10-12
    // (1 each), chain 20-21-22 (none), duplicate/reversed edges ignored
    val pairs = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (3L, 2L), (2L, 1L), // reversed duplicates must not double-count
      (10L, 11L), (11L, 12L), (10L, 12L),
      (20L, 21L), (21L, 22L)).toDF("id_a", "id_b")
    val got = Graph.triangleCounts(pairs, "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L,
      10L -> 1L, 11L -> 1L, 12L -> 1L))
  }

  test("edit-distance pairs: blocked candidates, bounded distance") {
    val docs = Seq(
      (1L, "prefix00 alpha beta gamma"),
      (2L, "prefix00 alpha beta gamme"),   // dist 1 from doc 1
      (3L, "prefix00 wholly different text here"), // same block, far
      (4L, "prefix99 alpha beta gamma")    // near doc 1 but other block
    ).toDF("doc_id", "text")
    val got = Dedup.editDistancePairs(docs, "doc_id", "text",
        prefixLen = 8, titleLen = 40, maxDist = 4)
      .as[(Long, Long, Int)].collect().toSet
    assert(got == Set((1L, 2L, 1)),
      s"expected only the in-block near pair, got $got")
  }

  test("edit-distance pairs: segment candidates match brute force " +
    "on adversarial mutations") {
    // deterministic fuzz around the PassJoin second blocking key:
    // titles share an 8-char block prefix, then up-to-5 random edits
    // (sub/ins/del) over a 32-char suffix — pairs at dist 5 must drop,
    // dist <= 4 must survive with the exact distance, INCLUDING
    // truncated short titles (the brute-force side route) and edits
    // that concentrate indels early (max segment shift)
    val rnd = new scala.util.Random(0xED17)
    val alpha = "abcdefgh"
    def mutate(s: String, nEdits: Int): String = {
      var cs = s.toVector
      (0 until nEdits).foreach { _ =>
        val i = rnd.nextInt(cs.length)
        rnd.nextInt(3) match {
          case 0 => cs = cs.updated(i, alpha(rnd.nextInt(alpha.length)))
          case 1 => cs = (cs.take(i) :+ alpha(rnd.nextInt(alpha.length))) ++ cs.drop(i)
          case 2 => cs = cs.take(i) ++ cs.drop(i + 1)
        }
      }
      cs.mkString
    }
    // 12 shared base strings: docs mutate a COMMON base, so variants
    // of the same base within the same block form the true pair set
    val bases = Vector.fill(12)(
      Vector.fill(32)(alpha(rnd.nextInt(alpha.length))).mkString)
    val docs = (0 until 120).map { i =>
      val blk = s"block0${i % 3} "
      val seed = bases(i / 10)
      val text =
        if (i % 11 == 0) blk + mutate(seed, 1 + rnd.nextInt(5)).take(12) // short title
        else if (i % 2 == 0)
          (blk + seed).take(40) + " trailing text beyond the title"
        else (blk + mutate(seed, 1 + rnd.nextInt(5))).take(40) +
          " trailing text beyond the title"
      (i.toLong, text)
    }.toDF("doc_id", "text")
    val got = Dedup.editDistancePairs(docs, "doc_id", "text",
        prefixLen = 8, titleLen = 40, maxDist = 4)
      .as[(Long, Long, Int)].collect().toSet
    val t = docs.select(col("doc_id"),
      substring(col("text"), 1, 40).as("title"),
      substring(col("text"), 1, 8).as("blk"))
    val brute = t.as("a").join(t.as("b"),
        col("a.blk") === col("b.blk") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        levenshtein(col("a.title"), col("b.title")).as("d"))
      .filter(col("d") <= 4)
      .as[(Long, Long, Int)].collect().toSet
    assert(brute.nonEmpty, "fixture must produce near pairs")
    assert(got == brute,
      s"missed: ${(brute -- got).take(5)}; extra: ${(got -- brute).take(5)}")
  }

  test("star contraction matches plain propagation on mixed clusters") {
    val ps = Seq((1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L), (20L, 21L))
    // plain min-label propagation, run to its fixpoint on the driver:
    // each round every vertex takes the least label among itself and
    // its neighbours
    val adj = (ps ++ ps.map(_.swap)).groupBy(_._1)
      .map { case (v, es) => v -> es.map(_._2) }
    var plain = adj.keys.map(v => v -> v).toMap
    var changed = true
    while (changed) {
      val next = plain.map { case (v, l) =>
        v -> (l +: adj(v).map(plain)).min }
      changed = next != plain
      plain = next
    }
    // budget 0 pins the distributed star-contraction rounds
    val star = withCcLocalMax("0") {
      Graph.components(ps.toDF("id_a", "id_b"), "id_a", "id_b")
        .as[(Long, Long)].collect().toSet
    }
    assert(star == plain.toSet)
  }

  test("star contraction converges on diameters plain propagation can't") {
    // path 0-1-...-64: diameter 64. Min-label propagation moves a label
    // one hop per round, so it would need 64 rounds; large-star/
    // small-star squares the jump length per round. Budget 0 pins the
    // DISTRIBUTED rounds — the small-graph endgame would otherwise
    // solve this 65-edge fixture in one union-find task.
    def jobsOf(ps: Seq[(Long, Long)]): (Int, Set[(Long, Long)]) =
      withCcLocalMax("0") {
        var out: org.apache.spark.sql.DataFrame = null
        val jobs = JobCount(spark) {
          out = Graph.components(ps.toDF("id_a", "id_b"), "id_a", "id_b")
        }
        (jobs, out.as[(Long, Long)].collect().toSet)
      }
    // a single edge takes exactly two rounds (the star, then the
    // unchanged confirmation round) after the one count job; AQE runs
    // each round's shuffle stages as jobs of their own
    val perRound = (jobsOf(Seq((0L, 1L)))._1 - 1) / 2
    val (jobs, labels) = jobsOf((0L until 64L).map(i => (i, i + 1)))
    assert(labels == (0L to 64L).map(i => (i, 0L)).toSet,
      "star contraction must reach the component minimum")
    assert(jobs <= 1 + 10 * perRound,
      s"$jobs jobs: more than 10 rounds of $perRound jobs each")
  }

  test("connected components leave no cached frames behind") {
    spark.catalog.clearCache()
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val labels = Graph.components(pairs, "id_a", "id_b")
    assert(labels.count() == 5)
    val star = withCcLocalMax("0")(Graph.components(pairs, "id_a", "id_b"))
    assert(star.count() == 5)
    // private[sql] accessors are public at the bytecode level
    val ss = spark.getClass.getMethod("sharedState").invoke(spark)
    val cm = ss.getClass.getMethod("cacheManager").invoke(ss)
    val empty = cm.getClass.getMethod("isEmpty").invoke(cm)
      .asInstanceOf[Boolean]
    assert(empty, "Graph.components retained a cache")
  }

  test("minhash LSH candidates find planted near-duplicates") {
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    val cands = Dedup.minHashCandidates(docs, "doc_id", "text")
    assert(cands.count() > 0)
    // est_jaccard should correlate with exact jaccard on the candidates
    val joined = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      minSim = 0.0)
    assert(joined.filter($"jaccard" >= 0.8).count() > 0,
      "expected some true near-dups among candidates")
  }

  test("incremental dedup equals batch dedup restricted to new docs") {
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    val hist = Dedup.signatureStore(
      docs.filter($"doc_id" % 10 < 8), "doc_id", "text")
    val batch = Dedup.signatureStore(
      docs.filter($"doc_id" % 10 >= 8), "doc_id", "text")
    val inc = Dedup.incrementalCandidates(batch, hist)
      .select($"doc_id", $"dup_of", $"dup_source", $"est_jaccard")
      .as[(Long, Long, String, Double)].collect().toSet

    // reference semantics: full-corpus candidates, pairs touching a new
    // doc, oriented new-first / higher-id-first
    val full = Dedup.minHashCandidates(docs, "doc_id", "text")
      .filter($"est_jaccard" >= 0.5)
      .as[(Long, Long, Double)].collect()
    def isNew(id: Long) = id % 10 >= 8
    val expected = full.collect {
      case (a, b, e) if isNew(a) || isNew(b) =>
        val (doc, dup) = if (isNew(a) && !isNew(b)) (a, b) else (b, a)
        val src = if (isNew(a) != isNew(b)) "history" else "batch"
        (doc, dup, src, e)
    }.toSet
    assert(inc == expected)
    // every reported duplicate is a new doc; hist-hist never appears
    assert(inc.forall { case (d, _, _, _) => isNew(d) })
    assert(inc.exists(_._3 == "history") || inc.exists(_._3 == "batch"))
  }

  test("token chunking produces overlapping windows that cover the doc") {
    import org.apache.spark.sql.functions.col
    val text = (1 to 10).map(i => s"w$i").mkString(" ")
    val chunks = Seq(text).toDF("text")
      .select(TextFunctions.chunkTokens(col("text"), 4, 2).as("c"))
      .as[Seq[String]].head()
    // step 2 over 10 tokens: starts 1,3,5,7,9
    assert(chunks == Seq(
      "w1 w2 w3 w4", "w3 w4 w5 w6", "w5 w6 w7 w8", "w7 w8 w9 w10",
      "w9 w10"))
    // consecutive chunks share exactly the overlap
    chunks.sliding(2).foreach {
      case Seq(a, b) =>
        assert(a.split(" ").takeRight(2).sameElements(b.split(" ").take(2))
          || b.split(" ").length < 2)
      case _ => ()
    }
  }

  test("chunking edge cases: short doc is one chunk, blank is none") {
    import org.apache.spark.sql.functions.col
    val rows = Seq("only two", "   ", "").toDF("text")
      .select(TextFunctions.chunkTokens(col("text"), 64, 16).as("c"))
      .as[Seq[String]].collect()
    assert(rows(0) == Seq("only two"))
    assert(rows(1).isEmpty && rows(2).isEmpty)
    intercept[IllegalArgumentException] {
      TextFunctions.chunkTokens(col("text"), 4, 4) // overlap == chunk
    }
  }
}
