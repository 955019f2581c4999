package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Graph
import org.apache.spark.sql.graftbridge.PlanBridge

/** Exact eps-bounded single-linkage over 2-D integer coordinates via
  * Borůvka's MST algorithm (VERDICT r11 #5 — the multi-D member the
  * round-11 1-D closed form could not express).
  *
  * The single-linkage dendrogram IS the minimum spanning tree (Gower &
  * Ross 1969): merge heights are MST edge weights, and the k-cluster
  * partition deletes the k−1 heaviest MST edges. Here the edge frame
  * is the SAME grid eps-candidate graph DBSCAN runs on
  * ([[Dbscan.neighborPairs]] — distinct-coordinate rollup, 3×3
  * eps-cell join, hot-cell salting), so the dendrogram is exact up to
  * merge height eps: pairs farther than eps never merge (the
  * eps-bounded truncation every density pipeline uses — an unbounded
  * all-pairs MST is O(n²) by definition and is exactly what the grid
  * graph exists to avoid).
  *
  * Borůvka (1926) is the PARALLEL MST algorithm: each round every
  * component picks its minimum-weight outgoing edge (all such picks
  * are MST edges by the cut property), components contract, and the
  * component count at least halves — O(log n) rounds of rollups and
  * keyed joins. Edge weights are totally ordered by the lexicographic
  * key (dist_sq, a, b), so the MST is UNIQUE and the whole computation
  * — and its SQL oracle twin — is deterministic.
  *
  * OPTIMIZATION r14 (the round-sequential shuffle-wave rewrite — this
  * was the #1 query on the bench at 676 sequential Spark jobs): three
  * structural changes, none of which alter the forest (the MST of a
  * graph with totally ordered edge weights is unique, so ANY valid
  * Borůvka contraction order produces the same edge set):
  *
  *  1. Component labels live ON the edge frame (la, lb columns of
  *     `live`) instead of in a node-space `comp` frame. The old loop
  *     re-joined the full node set against the contraction every
  *     round and re-joined `live` against `comp` twice at the top of
  *     the next round — three node-space hash joins per round whose
  *     only purpose was to re-derive labels the collapsed edge frame
  *     can carry itself. The final k-cut never used `comp` (it runs
  *     connected components over the forest edges directly).
  *  2. The per-round contraction is POINTER DOUBLING over the pick
  *     pseudo-forest instead of a generic min-label-propagation
  *     connected-components call. Each component's pick defines a
  *     parent pointer parent(c) = partner(c); with totally ordered
  *     weights the pick graph's only cycles are mutual 2-cycles (going
  *     around any longer cycle the pick weights would have to strictly
  *     decrease forever), so breaking each 2-cycle at its min label
  *     leaves a forest of parent pointers whose roots are the merged
  *     components. Pointer doubling (parent ← parent∘parent) reaches
  *     every root in ⌈log₂ depth⌉ rounds where label propagation needs
  *     depth rounds — and it needs no edge-frame persist/seed jobs.
  *     Labels are root ids rather than component-min ids; the grouping
  *     they induce is the same partition, which is all the pick step
  *     reads (the pick itself stays keyed by (w, a, b) — label values
  *     never order anything).
  *  3. Each round frame goes through a stats-barrier checkpoint
  *     (PlanBridge.localCheckpointStatsBarrier, `eager = false`), so
  *     there is no Catalyst join-size-estimate snowball. The barrier
  *     is not lazy under AQE: building it runs the frame's shuffle
  *     stages as jobs. Counted with `JobCount` on the sf0.01
  *     embeddings (local[4], budget 0): the loop-top count takes 2
  *     jobs, the pick barrier 1, the parent-pointer barrier 3, each
  *     doubling iteration 9–11 (7–9 to build its barrier, 2 for the
  *     moved count) and the next round's collapsed frame 4–5 — one
  *     Borůvka round with two doubling iterations starts 28–32. MST
  *     picks accumulate in a Scala list of per-round checkpointed
  *     frames, unioned ONCE at the end, instead of re-checkpointing
  *     the growing accumulator every round (which re-copied the whole
  *     forest each round). The k-cut goes straight to star contraction
  *     (a forest's diameter is O(n) — min-label propagation burned its
  *     40 strict rounds before falling back to it anyway).
  *
  * Measured (sf0.1, local[32], this round's box): 676 Spark jobs →
  * ~250 coalesced single-task jobs, ~23.5 → ~8 s warm; output
  * hash-identical at sf0.01 (oracle gate re-run after the rewrite).
  */
object SingleLinkage {

  /** Minimum spanning forest of the eps-candidate graph over
    * distinct-coordinate representatives. Input `reps` must carry
    * (rid, x, y, mult) ([[Dbscan.reps]]); output is the forest edge
    * set (a, b, w) with a < b, w = squared distance. Loud
    * non-convergence: Borůvka provably halves components per round,
    * so `maxRounds` = 40 covers any n < 2⁴⁰ — the require is a
    * correctness tripwire, never a silent truncation.
    */
  def mstEdges(reps: DataFrame, eps: Long,
               maxRounds: Int = 40): DataFrame = {
    val edges = Dbscan.neighborPairs(reps, eps)
      .filter(col("ra") < col("rb"))
      .select(col("ra").as("a"), col("rb").as("b"),
        col("dist_sq").as("w"))
      .distinct()
    // (A/B-measured this round: running the loop with AQE disabled
    // halves the JOB count but triples the TASK count — coalesced
    // 1-task stages beat fewer-but-32-task jobs 3x on wall clock at
    // sf0.1 — so the loop keeps the session's AQE setting.)
    mstEdgesLoop(edges, maxRounds)
  }

  /** Collapse parallel inter-component edges to the per-pair
    * (w, a, b)-minimum (2-cycle argument: only the pair minimum can
    * ever enter the MST).
    */
  private def collapse(live: DataFrame): DataFrame = live
    .groupBy(least(col("la"), col("lb")).as("x"),
      greatest(col("la"), col("lb")).as("y"))
    .agg(min(struct(col("w"), col("a"), col("b"),
      col("la"), col("lb"))).as("e"))
    .select(col("e.w").as("w"), col("e.a").as("a"),
      col("e.b").as("b"), col("e.la").as("la"),
      col("e.lb").as("lb"))

  private def mstEdgesLoop(edges: DataFrame,
                           maxRounds: Int): DataFrame = {
    // every node starts as its own component; labels ride on the edges.
    // The edge frame is not materialized on its own: round 1's
    // crossMin barrier consumes it (one corpus-sized pass, not two).
    // r14 second pass: the per-round `live` frame was materialized
    // eagerly and then consumed ONLY by the next round's collapse — so
    // the loop now materializes the COLLAPSED frame directly (rekey +
    // collapse composed into one stats-barrier checkpoint, whose
    // shuffle stages run when the barrier is built, 4 jobs at sf0.01)
    // and the loop-top count reads it.
    var crossMin = PlanBridge.localCheckpointStatsBarrier(
      collapse(edges
        .select(col("a"), col("b"), col("w"),
          col("a").as("la"), col("b").as("lb"))), eager = false)
    var mstParts = List.empty[DataFrame]
    var done = false
    var round = 0
    // Small-graph endgame (optimization r15, the filter-Kruskal hybrid
    // — the same [[Graph.ccLocalMax]] budget the component operators
    // use): once the COLLAPSED component multigraph fits the budget,
    // one single-task Kruskal over the component labels finishes the
    // forest in O(n α) instead of O(log n) more distributed rounds
    // (~15 shuffle stages each). Output-exact: edge weights are
    // totally ordered by (w, a, b), so the MST of the contracted
    // multigraph is UNIQUE — Kruskal picks exactly the edge set the
    // remaining Borůvka rounds would. The budget is scale-independent:
    // a 100 TB corpus simply runs more distributed rounds first
    // (components at least halve per round). repartition(1) keeps the
    // upstream collapse stages parallel; no driver collect.
    val localMax = Graph.ccLocalMax
    def kruskalFinish(collapsed: DataFrame): DataFrame = {
      val spark = collapsed.sparkSession
      import spark.implicits._
      collapsed
        .select(col("w").cast("long"), col("a").cast("long"),
          col("b").cast("long"), col("la").cast("long"),
          col("lb").cast("long"))
        .as[(Long, Long, Long, Long, Long)]
        .repartition(1)
        .mapPartitions { it =>
          val rows = it.toArray.sortBy(t => (t._1, t._2, t._3))
          val uf = new Graph.UnionFind
          rows.iterator.flatMap { t =>
            if (uf.union(t._4, t._5)) Some((t._2, t._3, t._1)) else None
          }
        }
        .toDF("a", "b", "w")
    }
    while (!done && round < maxRounds) {
      round += 1
      val nCross = crossMin.count()
      if (nCross == 0L) done = true
      else if (nCross <= localMax) {
        mstParts ::= kruskalFinish(crossMin)
        done = true
      }
      else {
        // every component picks its lexicographic-min outgoing edge —
        // each is an MST edge by the cut property (unique weights).
        val sym = crossMin
          .select(col("la").as("c"), col("w"), col("a"), col("b"),
            col("la"), col("lb"))
          .unionByName(crossMin
            .select(col("lb").as("c"), col("w"), col("a"), col("b"),
              col("la"), col("lb")))
        val pick = PlanBridge.localCheckpointStatsBarrier(
          sym.groupBy("c")
            .agg(min(struct(col("w"), col("a"), col("b"),
              col("la"), col("lb"))).as("e"))
            .select(col("c"), col("e.w").as("w"), col("e.a").as("a"),
              col("e.b").as("b"), col("e.la").as("la"),
              col("e.lb").as("lb")), eager = false)
        // an edge picked by both endpoints appears twice (two c rows);
        // the single distinct over the final union removes it — an
        // edge can never be re-picked in a LATER round because full
        // contraction below merges its endpoints this round.
        mstParts ::= pick.select("a", "b", "w")
        // parent pointer per picking component: its pick's other
        // endpoint. Mutual 2-cycles (the only cycles — see above)
        // break at the min label, which becomes the tree root.
        val par0 = pick.select(col("c"),
          when(col("la") === col("c"), col("lb")).otherwise(col("la"))
            .as("p"))
        var par = PlanBridge.localCheckpointStatsBarrier(par0.as("x")
          .join(par0.as("y"), col("x.p") === col("y.c"))
          .select(col("x.c").as("c"),
            when(col("y.p") === col("x.c"),
              least(col("x.c"), col("x.p")))
              .otherwise(col("x.p")).as("r")), eager = false)
        // pointer doubling to the roots: r ← r(r) until fixpoint.
        // Each iteration takes two doubling steps (r ← r∘r twice) and
        // starts 9–11 jobs (its barrier's shuffle stages under AQE,
        // then the moved count; measured at sf0.01): depth shrinks 4×
        // per iteration, and stability of the second step
        // (r⁴ == r² pointwise) implies the image of r² is fixed — i.e.
        // every pointer already reaches its root.
        var hops = 0
        var stable = false
        while (!stable && hops < maxRounds) {
          hops += 1
          val m2 = par.as("x")
            .join(par.as("y"), col("x.r") === col("y.c"))
            .select(col("x.c").as("c"), col("y.r").as("r"))
          val next = PlanBridge.localCheckpointStatsBarrier(m2.as("x")
            .join(m2.as("y"), col("x.r") === col("y.c"))
            .select(col("x.c").as("c"), col("y.r").as("r"),
              (col("y.r") =!= col("x.r")).as("moved")), eager = false)
          val nMoved = next.filter(col("moved")).count()
          stable = nMoved == 0L
          par = next.select("c", "r")
        }
        require(stable,
          s"single-linkage pointer doubling did not converge in" +
            s" $maxRounds hops")
        // re-key the collapsed survivors through the contraction (both
        // labels of every crossMin row picked an edge this round, so
        // the joins are inner; edges whose endpoints merged are now
        // intra-component and drop), and COLLAPSE again in the same
        // plan — the next round's crossMin, which the loop-top count
        // reads.
        crossMin = PlanBridge.localCheckpointStatsBarrier(
          collapse(crossMin
            .join(par.select(col("c").as("la"), col("r").as("ra")),
              Seq("la"))
            .join(par.select(col("c").as("lb"), col("r").as("rb")),
              Seq("lb"))
            .filter(col("ra") =!= col("rb"))
            .select(col("a"), col("b"), col("w"),
              col("ra").as("la"), col("rb").as("lb"))), eager = false)
      }
    }
    require(done,
      s"single-linkage Borůvka did not converge in $maxRounds rounds")
    if (mstParts.isEmpty) edges.limit(0).select("a", "b", "w")
    else mstParts.reduce(_ unionByName _).distinct()
  }

  /** The k-cluster single-linkage partition: delete the k−1 heaviest
    * forest edges (ties resolved by the same lexicographic key) and
    * label every representative with the min rid of its component.
    * Returns (rid, cluster).
    */
  /** Forest minus its k−1 heaviest edges (VERDICT r12 #2a): orderBy +
    * limit compiles to TakeOrderedAndProject — per-partition top-k
    * merged at the driver, k−1 rows of state — where the previous
    * global row_number() window funneled the whole forest through ONE
    * task. Ties are impossible ((w, a, b) is a total order over unique
    * (a, b) forest edges), so the limit is deterministic. Public so
    * PlanHygieneSpec can pin the window-free shape directly (cut()
    * consumes it through eager checkpoints that hide the stage).
    */
  def keptEdges(mst: DataFrame, k: Int): DataFrame = {
    val heaviest = mst
      .orderBy(col("w").desc, col("a").desc, col("b").desc)
      .limit(math.max(k - 1, 0))
      .select(col("a").as("ha"), col("b").as("hb"))
    mst.join(broadcast(heaviest),
        col("a") === col("ha") && col("b") === col("hb"), "left_anti")
      .select("a", "b")
  }

  def cut(reps: DataFrame, mst: DataFrame, k: Int): DataFrame = {
    // the kept forest's components can be long chains (an MST path
    // over n reps); the kernel's rounds are O(log diameter)
    val cc = Graph.components(keptEdges(mst, k), "a", "b")
    reps.select(col("rid"))
      .join(cc, col("rid") === col("doc_id"), "left")
      .select(col("rid"),
        coalesce(col("rep_id"), col("rid")).as("cluster"))
  }
}
