package graft.functions

import graft.SparkSpec

/** [[Dedup.prefixFilterPairs]] — PPJoin prefix-filtered exact-Jaccard
  * self-join — and [[Dedup.linkPrediction]] — Resource-Allocation
  * scores over non-adjacent two-hop pairs.
  */
class PrefixFilterSpec extends SparkSpec {
  import spark.implicits._

  // shingleN = 1 makes the shingle set the token set — hand-checkable.
  private def docs = Seq(
    (1L, "a b c d"),     // {a,b,c,d}
    (2L, "a b c e"),     // {a,b,c,e} — jac(1,2) = 3/5 = 0.6
    (3L, "a b x y z w"), // jac(1,3) = 2/8, below threshold
    (4L, "q r s t")      // disjoint from all
  ).toDF("doc_id", "text")

  test("finds exactly the pairs at or above the Jaccard threshold") {
    val out = Dedup
      .prefixFilterPairs(docs, "doc_id", "text", minSim = 0.5, shingleN = 1)
      .select("id_a", "id_b", "jac_ppm")
      .as[(Long, Long, Long)].collect().toList
    assert(out == List((1L, 2L, 600000L)))
  }

  test("zero false negatives vs the naive all-pairs join") {
    // every >= 0.5 pair from brute force must appear — the lossless
    // property prefix filtering is chosen for over LSH
    val texts = Seq(
      5L -> "m n o p", 6L -> "m n o q", 7L -> "m n o p",
      8L -> "n o p q", 9L -> "z z2 z3 z4")
    val df = texts.toDF("doc_id", "text")
    def toks(t: String) = t.split(" ").toSet
    val brute = for {
      (ia, ta) <- texts; (ib, tb) <- texts if ia < ib
      inter = toks(ta).intersect(toks(tb)).size
      uni = toks(ta).union(toks(tb)).size
      if inter * 1000000L / uni >= 500000L
    } yield (ia, ib)
    val got = Dedup
      .prefixFilterPairs(df, "doc_id", "text", minSim = 0.5, shingleN = 1)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == brute.toSet)
  }

  test("link prediction scores non-adjacent wedges, skips edges") {
    // path 1-2-3 plus hub 10 joined to 1, 3, 4: wedge (1,3) through 2
    // AND through 10; (1,4)/(3,4) through 10 only; (1,3) is NOT an
    // edge so it scores, (1,2) IS an edge so it must not appear
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 1L), (10L, 3L), (10L, 4L))
      .toDF("id_a", "id_b")
    val out = Dedup.linkPrediction(edges, "id_a", "id_b")
      .select("id_a", "id_b", "cn", "ra_ppm")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    // deg: 1->2, 2->2, 3->2, 10->3, 4->1
    assert(out((1L, 3L)) == (2L, 500000L + 333333L))
    assert(out((1L, 4L)) == (1L, 333333L))
    assert(out((3L, 4L)) == (1L, 333333L))
    assert(!out.contains((1L, 2L)) && !out.contains((2L, 3L)))
    // (2, 10) shares neighbors 1 and 3 (deg 2 each)
    assert(out((2L, 10L)) == (2L, 1000000L))
    assert(out.size == 4, s"unexpected pairs: ${out.keySet}")
  }

  test("undirected: reversed and duplicated input edges collapse") {
    val edges = Seq((2L, 1L), (1L, 2L), (3L, 2L)).toDF("id_a", "id_b")
    val out = Dedup.linkPrediction(edges, "id_a", "id_b")
      .select("id_a", "id_b", "cn").as[(Long, Long, Long)].collect()
    assert(out.toList == List((1L, 3L, 1L)))
  }
}
