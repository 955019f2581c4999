package graft.ops

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** Dense-data guards of the grid DBSCAN (VERDICT r9 #1): the
  * multiplicity rollup must bound candidate volume on a mode-collapsed
  * corpus, hot-cell salting must leave the pair set unchanged, and the
  * whole pipeline must agree with a brute-force point-level DBSCAN on
  * random data (including data engineered to trip both guards).
  */
class DbscanSpec extends SparkSpec {

  import spark.implicits._

  private val EPS = 100L
  private val MIN = 4L

  private def ptsDf(rows: Seq[(Long, Long, Long)]): DataFrame =
    rows.toDF("vec_id", "x", "y")

  /** Reference DBSCAN: all-pairs, point-level, driver-side. */
  private def brute(rows: Seq[(Long, Long, Long)], eps: Long,
                    minPts: Long): Map[Long, (Long, Long)] = {
    def near(a: (Long, Long, Long), b: (Long, Long, Long)) =
      (a._2 - b._2) * (a._2 - b._2) +
        (a._3 - b._3) * (a._3 - b._3) <= eps * eps
    val core = rows.filter(p => rows.count(q => near(p, q)) >= minPts)
      .map(_._1).toSet
    // min-label components over core-core eps edges
    var label = core.map(id => id -> id).toMap
    var changed = true
    while (changed) {
      changed = false
      for {
        p <- rows if core(p._1)
        q <- rows if core(q._1) && near(p, q)
      } {
        val m = math.min(label(p._1), label(q._1))
        if (label(p._1) != m) { label += p._1 -> m; changed = true }
        if (label(q._1) != m) { label += q._1 -> m; changed = true }
      }
    }
    rows.map { p =>
      if (core(p._1)) p._1 -> ((2L, label(p._1)))
      else {
        val coreNbrs = rows.filter(q => core(q._1) && q._1 != p._1 &&
          near(p, q))
        if (coreNbrs.nonEmpty)
          p._1 -> ((1L, coreNbrs.map(q => label(q._1)).min))
        else p._1 -> ((0L, -1L))
      }
    }.toMap
  }

  private def collectOut(df: DataFrame): Map[Long, (Long, Long)] =
    df.collect().map(r => r.getAs[Long]("vec_id") ->
      ((r.getAs[Long]("role"), r.getAs[Long]("cluster")))).toMap

  test("mode collapse: 50k co-located points collapse to ONE " +
      "representative — candidates bounded, output exact") {
    // 50,000 copies of one coordinate plus 6 distinct points: the
    // point-level candidate join would emit ~2.5e9 pairs; the rollup
    // must emit only distinct-coordinate pairs.
    val dup = (0L until 50000L).map(i => (i, 500L, 500L))
    val rest = Seq((60001L, 560L, 500L), (60002L, 620L, 500L),
      (60003L, 5000L, 5000L), (60004L, 5040L, 5000L),
      (60005L, 9000L, 9000L), (60006L, 9100L, 9120L))
    val pts = ptsDf(dup ++ rest)
    val pairs = Dbscan.neighborPairs(Dbscan.reps(pts), EPS).collect()
    // 7 distinct coords; only genuinely-within-eps coord pairs emit
    assert(pairs.length <= 7 * 6,
      s"candidate volume not bounded: ${pairs.length} pairs")
    // the duplicated coordinate appears as ONE rep with mult 50000
    val reps = Dbscan.reps(pts).collect()
    assert(reps.length == 7)
    assert(reps.find(r => r.getAs[Long]("x") == 500L &&
      r.getAs[Long]("y") == 500L).get.getAs[Long]("mult") == 50000L)
    val out = collectOut(Dbscan.cluster(pts, EPS, MIN))
    assert(out.size == 50006)
    // every duplicate is core (49,999 coincident neighbors) in the
    // cluster labeled by the min vec_id = 0
    dup.foreach { case (id, _, _) => assert(out(id) == ((2L, 0L)),
      s"dup $id got ${out(id)}") }
    // 60001 is within eps of the dup pile -> core (mass >= MIN);
    // 60002 is within eps of 60001 only -> border of cluster 0
    assert(out(60001L) == ((2L, 0L)))
    assert(out(60002L) == ((1L, 0L)))
    // isolated pairs/singletons: degree 2 < MIN -> noise
    Seq(60003L, 60004L, 60005L, 60006L).foreach(id =>
      assert(out(id) == ((0L, -1L)), s"$id got ${out(id)}"))
  }

  test("hot-cell salting: pair set identical with and without the " +
      "salt path engaged") {
    // 300 distinct coords inside a single eps-cell plus scattered
    // outliers; threshold 64 forces the salted join for that cell.
    val dense = (0 until 300).map(i =>
      (i.toLong, (i % 20).toLong * 5, (i / 20).toLong * 5))
    val sparse = (0 until 40).map(i =>
      (1000L + i, 10000L + i * 300L, 20000L + i * 170L))
    val pts = ptsDf(dense ++ sparse)
    def pairSet(threshold: Long) =
      Dbscan.neighborPairs(Dbscan.reps(pts), EPS,
          hotCellThreshold = threshold, salts = 8)
        .select("ra", "rb").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val salted = pairSet(64L)
    val unsalted = pairSet(Long.MaxValue)
    assert(salted == unsalted,
      s"salting changed the pair set: ${salted.size} vs ${unsalted.size}")
    assert(salted.nonEmpty)
    // and the full clustering agrees with brute force on this shape
    val out = collectOut(Dbscan.cluster(pts, EPS, MIN,
      hotCellThreshold = 64L, salts = 8))
    val ref = brute(dense ++ sparse, EPS, MIN)
    assert(out == ref)
  }

  test("random fixture with duplicates: output matches brute-force " +
      "point-level DBSCAN exactly") {
    val rnd = new scala.util.Random(20260815L)
    val base = (0 until 400).map { i =>
      (i.toLong, rnd.nextInt(2000).toLong, rnd.nextInt(2000).toLong)
    }
    // inject duplicate mass: 30 extra copies of 10 of the coords
    val dups = (0 until 30).map { i =>
      val (_, x, y) = base(i % 10)
      (10000L + i, x, y)
    }
    val rows = base ++ dups
    val out = collectOut(Dbscan.cluster(ptsDf(rows), EPS, MIN))
    val ref = brute(rows, EPS, MIN)
    assert(out.size == ref.size)
    val diff = out.keys.filter(k => out(k) != ref(k)).take(5)
    assert(diff.isEmpty, s"first mismatches: ${diff.map(k =>
      s"$k engine=${out(k)} ref=${ref(k)}").mkString("; ")}")
  }

  test("core-graph diameter beyond the propagation budget falls back " +
      "to star contraction — one cluster, minimal label") {
    // 120 colinear points spaced eps apart: every point is core
    // (minPts=2 counting itself), the core graph is a path of diameter
    // 119 — min-label propagation cannot converge in 40 rounds; the
    // components kernel must still emit ONE cluster labeled by the
    // component minimum (a silent 40-round cut would split the chain
    // into >1 label)
    val rows = (0L until 120L).map(i => (i, i * EPS, 0L))
    val out = collectOut(Dbscan.cluster(ptsDf(rows), EPS, 2L))
    assert(out.size == 120)
    assert(out.values.forall(_ == ((2L, 0L))),
      s"expected every point core in cluster 0, got ${out.toSeq
        .filter(_._2 != ((2L, 0L))).take(5)}")
  }
}
