package graft.functions

import graft.SparkSpec

/** The Louvain local move (VERDICT r10 tranche): the deterministic
  * synchronous modularity sweep must (a) equal an independent
  * brute-force replay of its own rule on arbitrary graphs, (b) keep
  * bridge-joined cliques apart where mode-label propagation glues or
  * wanders, and (c) never lower modularity below the label-prop
  * partition on the bridge fixture.
  */
class LouvainSpec extends SparkSpec {

  import spark.implicits._

  /** Reference implementation of the EXACT published rule (one
    * synchronous sweep: every node to the candidate community — its
    * neighbors' plus its own — maximizing 2m·k_ic − k_i·(d_c −
    * [c=c_i]·k_i), ties to smallest community id), in plain Scala.
    */
  private def bruteLocalMove(edges: Set[(Long, Long)],
                             rounds: Int): Map[Long, Long] = {
    val sym = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
    val nodes = sym.map(_._1)
    val deg = sym.groupBy(_._1).map { case (n, es) => n -> es.size.toLong }
    val m = edges.size.toLong
    var comm: Map[Long, Long] = nodes.map(n => n -> n).toMap
    for (_ <- 1 to rounds) {
      val dc = comm.toSeq.groupBy(_._2)
        .map { case (c, ns) => c -> ns.map(n => deg(n._1)).sum }
      val next = nodes.map { i =>
        val kic = sym.filter(_._1 == i).toSeq.groupBy(e => comm(e._2))
          .map { case (c, es) => c -> es.size.toLong }
        val cands = kic.keySet + comm(i)
        val best = cands.map { c =>
          val dadj = dc(c) - (if (c == comm(i)) deg(i) else 0L)
          val gain = 2L * m * kic.getOrElse(c, 0L) - deg(i) * dadj
          (gain, -c)
        }.max
        i -> -best._2
      }.toMap
      comm = next
    }
    comm
  }

  private def runEngine(edges: Set[(Long, Long)],
                        rounds: Int): Map[Long, Long] =
    Graph.louvainLocalMove(
        edges.toSeq.toDF("id_a", "id_b"), "id_a", "id_b", rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def clique(ids: Seq[Long]): Set[(Long, Long)] =
    (for (a <- ids; b <- ids if a < b) yield (a, b)).toSet

  test("synchronous local move equals the brute-force replay on " +
      "random graphs") {
    val rnd = new scala.util.Random(11L)
    for (trial <- 0 until 5) {
      val n = 20 + trial * 7
      val edges = (0 until n * 2).map { _ =>
        val a = rnd.nextInt(n).toLong
        val b = rnd.nextInt(n).toLong
        (math.min(a, b), math.max(a, b))
      }.filter(e => e._1 != e._2).toSet
      assert(runEngine(edges, 2) == bruteLocalMove(edges, 2),
        s"trial $trial diverged from the reference rule")
    }
  }

  test("bridge-joined cliques stay two communities") {
    val a = clique(0L to 5L)
    val b = clique(10L to 15L)
    val got = runEngine(a ++ b + ((5L, 10L)), 2)
    val ca = (0L to 5L).map(got).toSet
    val cb = (10L to 15L).map(got).toSet
    assert(ca.size == 1, s"clique A split: $ca")
    assert(cb.size == 1, s"clique B split: $cb")
    assert(ca != cb, "bridge glued the cliques")
  }

  test("louvain modularity >= label-prop modularity on the bridge " +
      "fixture") {
    val edges = clique(0L to 5L) ++ clique(10L to 15L) + ((5L, 10L))
    def q(comm: Map[Long, Long]): Double = {
      val m = edges.size.toDouble
      val sym = edges.flatMap { case (x, y) => Seq(x -> y, y -> x) }
      val deg = sym.groupBy(_._1).map { case (n, es) => n -> es.size }
      // toSeq: the two cliques contribute EQUAL Q shares — a Set.map
      // would collapse them before the sum
      val byC = comm.groupBy(_._2).keys.toSeq
      byC.map { c =>
        val members = comm.filter(_._2 == c).keySet
        val ec = edges.count { case (x, y) =>
          members(x) && members(y) }
        val dcv = members.toSeq.map(deg).sum
        ec / m - math.pow(dcv / (2 * m), 2)
      }.sum
    }
    val lv = runEngine(edges, 2)
    val lp = Graph.labelPropagation(
        edges.toSeq.toDF("id_a", "id_b"), "id_a", "id_b", rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(q(lv) >= q(lp),
      s"louvain Q ${q(lv)} < label-prop Q ${q(lp)}")
    assert(q(lv) > 0.3, s"louvain Q unexpectedly weak: ${q(lv)}")
  }

  private def modularity(edges: Set[(Long, Long)],
                         comm: Map[Long, Long]): Double = {
    val m = edges.size.toDouble
    val sym = edges.flatMap { case (x, y) => Seq(x -> y, y -> x) }
    val deg = sym.groupBy(_._1).map { case (n, es) => n -> es.size }
    comm.groupBy(_._2).keys.toSeq.map { c =>
      val members = comm.filter(_._2 == c).keySet
      val ec = edges.count { case (x, y) => members(x) && members(y) }
      val dcv = members.toSeq.map(deg).sum
      ec / m - math.pow(dcv / (2 * m), 2)
    }.sum
  }

  private def runMultilevel(edges: Set[(Long, Long)], r1: Int,
                            r2: Int): Map[Long, Long] =
    Graph.louvainMultilevel(
        edges.toSeq.toDF("id_a", "id_b"), "id_a", "id_b", r1, r2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("weighted sweep with w=1 keeps phase 1 bit-identical " +
      "(delegation refactor guard)") {
    val rnd = new scala.util.Random(23L)
    val n = 30
    val edges = (0 until n * 2).map { _ =>
      val a = rnd.nextInt(n).toLong
      val b = rnd.nextInt(n).toLong
      (math.min(a, b), math.max(a, b))
    }.filter(e => e._1 != e._2).toSet
    assert(runEngine(edges, 2) == bruteLocalMove(edges, 2))
  }

  test("multi-level phase 2 merges the chain of cliques the bounded " +
      "synchronous sweep leaves fragmented, and never lowers Q") {
    // a RING of 8 tight triangles, consecutive triangles bridged —
    // phase 1 settles each triangle as its own community; phase 2 on
    // the supernode graph can merge adjacent triangles where Q gains
    val tri = (0 until 8).flatMap { k =>
      val base = k * 10L
      clique(Seq(base, base + 1, base + 2))
    }.toSet
    val bridges = (0 until 8).map { k =>
      (k * 10L + 2, ((k + 1) % 8) * 10L)
    }.toSet
    val edges = tri ++ bridges
    val p1 = runEngine(edges, 2)
    val ml = runMultilevel(edges, 2, 2)
    assert(modularity(edges, ml) >= modularity(edges, p1) - 1e-12,
      s"phase 2 lowered Q: ${modularity(edges, ml)} < " +
        s"${modularity(edges, p1)}")
    // the unfold is a consistent refinement: every phase-1 community
    // maps to exactly one final community
    val unfold = p1.keys.groupBy(p1).map { case (_, ns) =>
      ns.map(ml).toSet.size }
    assert(unfold.forall(_ == 1), "phase-1 community split by unfold")
    // bridge fixture regression: phase 2 must keep the two-clique
    // structure of the earlier tests intact
    val e2 = clique(0L to 5L) ++ clique(10L to 15L) + ((5L, 10L))
    val got = runMultilevel(e2, 2, 2)
    assert((0L to 5L).map(got).toSet.size == 1)
    assert((10L to 15L).map(got).toSet.size == 1)
    assert((0L to 5L).map(got).toSet != (10L to 15L).map(got).toSet)
  }
}
