package graft.ops

import graft.SparkSpec

/** Borůvka single-linkage (VERDICT r11 #5): the engine's grid-graph
  * MST + k-cut must equal a brute-force Kruskal/union-find
  * single-linkage over the all-pairs eps-graph on random point sets —
  * including duplicate-heavy and chain-shaped data (long chains are
  * the adversary for both the grid join and the contraction loop).
  */
class SingleLinkageSpec extends SparkSpec {

  import spark.implicits._

  /** Exact reference: Kruskal over all eps-pairs with the same
    * (w, a, b) lexicographic edge order, stop-free (full forest),
    * then delete the k−1 heaviest forest edges and label components
    * by min rid.
    */
  private def bruteCut(pts: Seq[(Long, Long, Long)], eps: Long,
                       k: Int): Map[Long, Long] = {
    // distinct-coordinate reps: rid = min vec_id
    val reps = pts.groupBy(p => (p._2, p._3))
      .map { case ((x, y), ps) => (ps.map(_._1).min, x, y) }.toSeq
    val ids = reps.map(_._1)
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(i: Long): Long =
      if (parent(i) == i) i
      else { val r = find(parent(i)); parent(i) = r; r }
    val edges = (for {
      a <- reps; b <- reps if a._1 < b._1
      w = (a._2 - b._2) * (a._2 - b._2) + (a._3 - b._3) * (a._3 - b._3)
      if w <= eps * eps
    } yield (w, a._1, b._1)).sorted
    val forest = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
    for ((w, a, b) <- edges) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { parent(ra) = rb; forest += ((w, a, b)) }
    }
    // cut the k−1 heaviest by (w, a, b) desc
    val cut = forest.sorted(Ordering[(Long, Long, Long)].reverse)
      .take(k - 1).toSet
    val p2 = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find2(i: Long): Long =
      if (p2(i) == i) i else { val r = find2(p2(i)); p2(i) = r; r }
    for (e @ (_, a, b) <- forest if !cut(e)) {
      val (ra, rb) = (find2(a), find2(b))
      if (ra != rb) p2(ra) = rb
    }
    val root2min = ids.groupBy(find2).map { case (r, ms) => r -> ms.min }
    ids.map(i => i -> root2min(find2(i))).toMap
  }

  private def engineCut(pts: Seq[(Long, Long, Long)], eps: Long,
                        k: Int): Map[Long, Long] = {
    val df = pts.toDF("vec_id", "x", "y")
    val rp = Dbscan.reps(df)
    val mst = SingleLinkage.mstEdges(rp, eps)
    SingleLinkage.cut(rp, mst, k)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("grid Borůvka + cut equals brute-force Kruskal single-linkage " +
      "on random point sets") {
    val rnd = new scala.util.Random(31L)
    for (trial <- 0 until 4) {
      val n = 40 + trial * 25
      val pts = (0 until n).map { i =>
        (i.toLong, rnd.nextInt(400).toLong, rnd.nextInt(400).toLong)
      }
      assert(engineCut(pts, eps = 60L, k = 5) ==
        bruteCut(pts, eps = 60L, k = 5), s"trial $trial diverged")
    }
  }

  test("duplicate mass and a long chain don't break the forest or " +
      "the contraction fallback") {
    // 30-link chain at spacing 10 (single component, diameter 30) +
    // 5 copies of one far point (duplicate mass) + two singletons
    val chain = (0 until 30).map(i => (i.toLong, i * 10L, 0L))
    val dups = (100 until 105).map(i => (i.toLong, 5000L, 5000L))
    val single = Seq((200L, 9000L, 0L), (201L, 0L, 9000L))
    val pts = chain ++ dups ++ single
    val got = engineCut(pts, eps = 15L, k = 3)
    val brute = bruteCut(pts, eps = 15L, k = 3)
    assert(got == brute)
    // the k−1 = 2 heaviest forest edges are chain links (tie-broken
    // (w, a, b) DESC → links 27–28 and 28–29), so the chain splits
    // into exactly {0..27}, {28}, {29}
    assert(chain.map(c => got(c._1)).toSet == Set(0L, 28L, 29L))
    assert(got.contains(100L) && !got.contains(101L),
      "duplicate coordinates must collapse to the min-rid rep")
  }
}
