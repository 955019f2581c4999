package graft.functions

import graft.SparkSpec

class GraphBfsSpec extends SparkSpec {
  import spark.implicits._

  // three components, each holding one seed (id % 10 == 0): a path
  // 10-1-2-3-4 whose far end exceeds the round bound, a triangle
  // 20-21-22, and a single edge 30-31
  private def pairs = Seq(
    (10L, 1L), (1L, 2L), (2L, 3L), (3L, 4L),
    (20L, 21L), (21L, 22L), (20L, 22L),
    (30L, 31L)
  ).toDF("id_a", "id_b")

  private def seed(id: org.apache.spark.sql.Column) = id % 10 === 0

  test("min hop distances from the seed set, bound respected") {
    val out = Graph.bfsDepths(pairs, "id_a", "id_b", seed, rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(out(10L) == 0L && out(20L) == 0L && out(30L) == 0L)
    assert(out(1L) == 1L && out(2L) == 2L && out(3L) == 3L)
    assert(!out.contains(4L), "4 is 4 hops out, beyond the bound")
    assert(out(21L) == 1L && out(22L) == 1L)
    assert(out(31L) == 1L)
  }

  test("multi-source takes the MINIMUM over seeds, not first-found") {
    // 5 sits 1 hop from seed 40 and 2 hops from seed 50: expect 1
    val g = Seq((40L, 5L), (50L, 6L), (6L, 5L)).toDF("id_a", "id_b")
    val out = Graph.bfsDepths(g, "id_a", "id_b", seed, rounds = 4)
      .as[(Long, Long)].collect().toMap
    assert(out(5L) == 1L && out(6L) == 1L)
  }

  test("no seeds in the graph yields an empty result, not depth-0 spam") {
    val g = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    assert(Graph.bfsDepths(g, "id_a", "id_b", seed, rounds = 2)
      .count() == 0L)
  }

  test("edges are traversed undirected regardless of pair orientation") {
    // seed on the b-side of the only edge: traversal must still reach a
    val g = Seq((7L, 40L)).toDF("id_a", "id_b")
    val out = Graph.bfsDepths(g, "id_a", "id_b", seed, rounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(out(40L) == 0L && out(7L) == 1L)
  }

  test("sssp: weighted distances on a path, round bound respected") {
    // 1 -2- 2 -5- 3 -1- 4 seeded at 1: dists 0/2/7/8; 3 rounds reach 4
    val g = Seq((1L, 2L, 2L), (2L, 3L, 5L), (3L, 4L, 1L))
      .toDF("id_a", "id_b", "w")
    val seeds = Seq(1L).toDF("id")
    val d3 = Graph.ssspFromSeeds(g, "id_a", "id_b", "w", seeds, rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(d3 == Map(1L -> 0L, 2L -> 2L, 3L -> 7L, 4L -> 8L))
    val d2 = Graph.ssspFromSeeds(g, "id_a", "id_b", "w", seeds, rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(!d2.contains(4L), "4 needs 3 edges, beyond the 2-round bound")
  }

  test("sssp: longer-but-lighter path beats the direct heavy edge") {
    // 1->3 direct w=10 vs 1-1-2-2-3 total 3; Bellman-Ford must relax
    // the 2-edge path once enough rounds are allowed
    val g = Seq((1L, 3L, 10L), (1L, 2L, 1L), (2L, 3L, 2L))
      .toDF("id_a", "id_b", "w")
    val seeds = Seq(1L).toDF("id")
    val d1 = Graph.ssspFromSeeds(g, "id_a", "id_b", "w", seeds, rounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(d1(3L) == 10L, "one round only sees the direct edge")
    val d2 = Graph.ssspFromSeeds(g, "id_a", "id_b", "w", seeds, rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(d2(3L) == 3L, "two rounds relax through the light path")
  }

  test("sssp: multi-seed takes the minimum over sources") {
    val g = Seq((10L, 5L, 4L), (20L, 5L, 2L)).toDF("id_a", "id_b", "w")
    val seeds = Seq(10L, 20L).toDF("id")
    val out = Graph.ssspFromSeeds(g, "id_a", "id_b", "w", seeds, rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(out(5L) == 2L)
  }
}
