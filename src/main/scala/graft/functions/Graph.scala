package graft.functions

import scala.collection.mutable.LongMap

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

/** Graph operators over pair lists (near-dup candidates, links,
  * eps-neighbor pairs): the one connected-components kernel every
  * component labeling goes through, and the general graph algorithms
  * (PageRank, HITS, k-core, label propagation, Louvain, BFS, SSSP,
  * triangles) built on the same symmetric edge set.
  */
object Graph {

  // ---------------- connected components ----------------

  /** Union-find over long ids with path compression. Union links the
    * larger root under the smaller, so every root IS the minimum of its
    * set (each id starts as its own root) — the min-id-per-component
    * fixed point [[components]] returns.
    */
  final class UnionFind {
    private val parent = LongMap.empty[Long]

    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) {
        val n = parent(c); parent(c) = r; c = n
      }
      r
    }

    /** Merges the sets of `a` and `b`; false when already one set. */
    def union(a: Long, b: Long): Boolean = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      ra != rb
    }
  }

  /** Small-graph endgame budget shared by the iterative component /
    * forest operators (optimization r15, the filter-Kruskal hybrid
    * discipline): once an iterative operator's CURRENT edge set fits
    * this many rows, it finishes in ONE single-task union-find stage
    * instead of paying O(log diameter) more distributed rounds of
    * ~10 shuffle stages each. 256 Ki edges ≈ 4 MB in one task — the
    * same magnitude a broadcast-hash-join build side ships to every
    * executor — and the budget is scale-independent: a 100 TB graph
    * simply runs distributed rounds until the contraction fits.
    * Overridable through the `spark.graft.cc.local.max` system
    * property (0 forces the distributed rounds).
    */
  def ccLocalMax: Long =
    sys.props.get("spark.graft.cc.local.max")
      .map(_.toLong).getOrElse(262144L)

  /** Round cap of the star-contraction loop. Rounds are O(log
    * diameter), so 40 covers any practical graph; hitting it fails
    * loudly instead of returning non-minimal labels.
    */
  private val MaxRounds = 40

  /** The symmetric edge set of a pair list: both orientations of every
    * pair as distinct (src, dst) longs, a self-pair kept as (a, a).
    */
  private def symmetricEdges(pairs: DataFrame, aCol: String,
                             bCol: String): DataFrame =
    pairs
      .select(col(aCol).cast("long").as("src"),
        col(bCol).cast("long").as("dst"))
      .unionByName(pairs.select(col(bCol).cast("long").as("src"),
        col(aCol).cast("long").as("dst")))
      .distinct()

  /** The canonical undirected edge set of a pair list: each pair once,
    * as distinct longs (a, b) with a < b; self-pairs dropped.
    */
  private[functions] def undirectedEdges(pairs: DataFrame, aCol: String,
                                         bCol: String): DataFrame =
    pairs
      .select(least(col(aCol), col(bCol)).cast("long").as("a"),
        greatest(col(aCol), col(bCol)).cast("long").as("b"))
      .filter(col("a") < col("b"))
      .distinct()

  /** One-task union-find over a bounded, already materialized (src,
    * dst) edge frame: every endpoint labeled with its component
    * MINIMUM, in O(E α(E)) inside a single executor task. coalesce(1)
    * reads the stored blocks without a shuffle; no driver collect.
    * Only call under [[ccLocalMax]].
    */
  private def localMinLabels(e: DataFrame): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    e.select(col("src").cast("long"), col("dst").cast("long"))
      .as[(Long, Long)]
      .coalesce(1)
      .mapPartitions { it =>
        val uf = new UnionFind
        val edges = it.toArray
        edges.foreach { case (a, b) => uf.union(a, b) }
        edges.iterator.flatMap(t => Iterator(t._1, t._2))
          .toArray.distinct.iterator.map(v => (v, uf.find(v)))
      }
      .toDF("src", "dst")
  }

  /** Connected components over a pair list: `(doc_id, rep_id)` for
    * every endpoint of a pair, `rep_id` the minimum id reachable
    * through the pair graph (a self-pair `(a, a)` alone yields
    * `(a, a)`) — the step that turns pairwise similarity into a
    * keep/drop decision (keep `id == rep_id`).
    *
    * The pairs are cast to one (src, dst) long edge frame and counted
    * once: one job, which also materializes the frame. The count is
    * the number of rows the union-find task would read, so up to
    * [[ccLocalMax]] rows that one task finishes, when the result is
    * read. Past it, alternating large-star / small-star rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14) re-point whole neighborhoods at their minimum, so a
    * label's jump length roughly squares per round — O(log diameter)
    * rounds, each one stats-barrier checkpoint plus one (count, hash)
    * checksum action that detects the fixed point. Under AQE building
    * the barrier already runs the round's shuffle stages, so one round
    * starts 9 jobs (7 stages, 2 for the checksum; measured with
    * `JobCount` on a one-edge graph at budget 0). Once the CURRENT edge set fits the budget, the union-find
    * finishes: the rewiring rounds preserve the vertex partition, so
    * its stars are the fixed point the remaining rounds would reach.
    */
  def components(pairs: DataFrame, aCol: String,
                 bCol: String): DataFrame = {
    // one orientation is enough: union-find ignores edge direction,
    // and large-star symmetrizes its input every round
    val (edges, n) = PlanBridge.countedStatsBarrier(pairs.select(
      col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst")))
    if (n <= ccLocalMax)
      return localMinLabels(edges)
        .select(col("src").as("doc_id"), col("dst").as("rep_id"))
        .localCheckpoint(false)

    // large-star: every neighbor v > u re-points at m(u) = min(Γ(u) ∪ u)
    def largeStar(e: DataFrame): DataFrame = {
      val s = e.unionByName(e.select(col("dst").as("src"),
        col("src").as("dst")))
      val m = s.groupBy("src").agg(min("dst").as("mn"))
        .select(col("src"), least(col("src"), col("mn")).as("m"))
      s.filter(col("dst") > col("src"))
        .join(m, Seq("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct()
    }

    // small-star: neighbors v ≤ u (and u itself) re-point at their min
    def smallStar(e: DataFrame): DataFrame = {
      val dir = e.select(greatest(col("src"), col("dst")).as("src"),
          least(col("src"), col("dst")).as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct()
      val m = dir.groupBy("src").agg(min("dst").as("m"))
      dir.join(m, Seq("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .unionByName(m.select(col("src"), col("m").as("dst")))
        .filter(col("src") =!= col("dst"))
        .distinct()
    }

    // order-independent fingerprint of the edge set: at the fixed point
    // the emitted orientation is canonical (src > dst), so equal
    // (count, xor-of-hashes) across rounds ⇒ the set is stable. XOR
    // (not sum) because ANSI mode makes a long sum overflow-checked.
    def checksum(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)), expr("bit_xor(xxhash64(src, dst))"))
        .head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    val verts = edges.select(col("src").as("id"))
      .unionByName(edges.select(col("dst").as("id"))).distinct()
    // Per-round lazy stats-barrier checkpoint (optimization r14, see
    // PlanBridge.localCheckpointStatsBarrier): large-star/small-star
    // reference their input several times, so an uncut logical plan
    // grows ~12× per round; building the barrier runs the round's
    // shuffle stages (AQE), the checksum reads it, and resetting the size estimate stops Catalyst's
    // join-size BigInts from snowballing.
    var e = edges
    var last: Option[(Long, Long)] = None
    var size = n
    var converged = false
    var rounds = 0
    while (!converged && size > ccLocalMax && rounds < MaxRounds) {
      e = PlanBridge.localCheckpointStatsBarrier(
        smallStar(largeStar(e)), eager = false)
      val sum = checksum(e)
      converged = last.contains(sum)
      last = Some(sum)
      size = sum._1
      rounds += 1
    }
    require(converged || size <= ccLocalMax,
      s"connected components did not converge in $MaxRounds rounds")
    if (!converged && size > 0)
      e = PlanBridge.localCheckpointStatsBarrier(localMinLabels(e),
        eager = false)
    // at the fixed point the edge set is a union of stars (leaf, root)
    val leaf = e.groupBy(col("src").as("id")).agg(min("dst").as("rep"))
    verts.join(leaf, Seq("id"), "left")
      .select(col("id").as("doc_id"),
        coalesce(col("rep"), col("id")).as("rep_id"))
  }

  // ---------------- graph algorithms ----------------

  /** Deterministic integer personalized PageRank over an undirected
    * pair graph (near-dup candidates, citation/link pairs): teleport
    * mass returns ONLY to the seed set (a predicate over vertex ids), so
    * rank measures proximity to the seeds — the standard "contamination
    * spread" / "related docs" ranking ([[bfsDepths]] gives hop
    * distance; this weighs ALL paths, not just the shortest). With
    * every vertex a seed (`_ => lit(true)`) it is plain PageRank:
    * authority scores for quality weighting — a document endorsed by
    * many well-connected near-dups/links ranks high, the
    * CommonCrawl-host-rank idea applied per document.
    *
    * All arithmetic is EXACT INTEGER: ranks live in millionths,
    * per-edge contributions are `floor(rank·damping% / (100·outdeg))`,
    * the teleport `(100−d)·10⁴` is gated per vertex, and the per-vertex
    * reduce sums longs — so the fixpoint iteration is reproducible
    * under any partitioning or aggregation order (float PageRank is
    * not) and bit-reproducible by the SQL oracle. No normalization
    * pass: the teleport constant keeps scores in a stable integer
    * range, and downstream use is ordinal. The symmetric edge set means
    * no dangling vertices.
    *
    * Scale shape: per round, one narrow (src, rank, deg) join plus one
    * map-side-combined sum — the connected-components discipline
    * ([[components]]), including the per-round (lazy, r15)
    * `localCheckpoint` that drops lineage and caches nothing past the
    * return.
    */
  def personalizedPageRank(pairs: DataFrame, aCol: String, bCol: String,
                           seed: Column => Column, iters: Int = 3,
                           dampingPct: Int = 85): DataFrame = {
    require(iters >= 1 && dampingPct > 0 && dampingPct < 100)
    val e = symmetricEdges(pairs, aCol, bCol).localCheckpoint(false)
    val outdeg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    val verts = e.select(col("src").as("id")).distinct()
    val teleport = (100L - dampingPct) * 10000L
    def gate(c: Column): Column =
      when(seed(col("id")), c).otherwise(lit(0L))
    var r = verts.withColumn("rank", gate(lit(1000000L)))
    for (_ <- 1 to iters) {
      val contrib = e
        .join(r.withColumnRenamed("id", "src"), Seq("src"))
        .join(outdeg, Seq("src"))
        .select(col("dst").as("id"),
          floor(col("rank") * dampingPct / (lit(100) * col("deg")))
            .cast("long").as("c"))
      r = verts
        .join(contrib.groupBy("id").agg(sum("c").as("in")), Seq("id"),
          "left")
        .select(col("id"),
          (gate(lit(teleport)) + coalesce(col("in"), lit(0L)))
            .as("rank"))
        .localCheckpoint(false)
    }
    r.select(col("id").as("doc_id"), col("rank"))
  }

  /** HITS hubs-and-authorities (Kleinberg, JACM'99) over a DIRECTED
    * edge list, `iters` mutual-reinforcement rounds in exact integer
    * arithmetic: authority(v) = Σ hub(u) over in-edges, hub(v) =
    * Σ authority(w) over out-edges, each side re-normalized to a
    * 0..10⁶ scale by integer division with the round's max (the
    * fixed-point analogue of L∞ normalization — deterministic under
    * any partitioning, unlike float L2). On the canonical a<b
    * near-dup edge orientation, authorities are the "most duplicated
    * targets" and hubs the "most duplicating sources" — a different
    * ranking than [[personalizedPageRank]]'s undirected authority, and
    * the classic web-graph dual.
    *
    * Scale shape: per round two narrow (id, score) joins against the
    * checkpointed edge list + two map-side-combined sums; the max for
    * normalization is a 1-row broadcast, never a collect. Per-round
    * lazy (r15) `localCheckpoint` truncates the iterative lineage
    * ([[personalizedPageRank]] discipline).
    */
  def hits(pairs: DataFrame, aCol: String, bCol: String,
           iters: Int = 2): DataFrame = {
    require(iters >= 1)
    val e = pairs
      .select(col(aCol).cast("long").as("src"),
        col(bCol).cast("long").as("dst"))
      .distinct().localCheckpoint(false)
    val verts = e.select(col("src").as("id"))
      .unionByName(e.select(col("dst").as("id")))
      .distinct().localCheckpoint(false)
    def normalize(raw: DataFrame, out: String): DataFrame = {
      val mx = raw.agg(max("raw").as("mx"))
      raw.crossJoin(broadcast(mx))
        .select(col("id"),
          expr("(raw * 1000000) div greatest(mx, 1)").as(out))
        .localCheckpoint(false)
    }
    var h = verts.withColumn("hub", lit(1000000L))
    var a = verts.withColumn("auth", lit(1000000L))
    for (_ <- 1 to iters) {
      val aRaw = verts.join(
        e.join(h.withColumnRenamed("id", "src"), Seq("src"))
          .groupBy(col("dst").as("id")).agg(sum("hub").as("s")),
        Seq("id"), "left")
        .select(col("id"), coalesce(col("s"), lit(0L)).as("raw"))
      a = normalize(aRaw, "auth")
      val hRaw = verts.join(
        e.join(a.withColumnRenamed("id", "dst")
            .withColumnRenamed("auth", "av"), Seq("dst"))
          .groupBy(col("src").as("id")).agg(sum("av").as("s")),
        Seq("id"), "left")
        .select(col("id"), coalesce(col("s"), lit(0L)).as("raw"))
      h = normalize(hRaw, "hub")
    }
    a.join(h, Seq("id")).select(col("id").as("doc_id"),
      col("auth"), col("hub"))
  }

  /** Bounded-round k-core peeling over the undirected near-dup graph:
    * repeatedly drop vertices with degree < k (and their edges) for
    * `rounds` iterations, then report the survivors with their final
    * within-core degree. The k-core separates DENSE duplicate
    * communities (every member ≥ k strong neighbours) from stars and
    * chains that exact-threshold pairing can't tell apart — the
    * canonical "keep one per clique, review the periphery" split.
    *
    * Bounded rounds (like [[personalizedPageRank]]'s `iters`) keep the
    * operator a fixed-depth DAG the oracle can unroll; on near-dup
    * graphs the peel converges in a handful of rounds because cliques
    * are stable under deletion.
    *
    * Scale shape: each round is two semi-joins of the narrow (src,
    * dst) edge list against a key-only survivor set, plus one
    * map-side-combined degree count — no row ever carries more than
    * two longs, and the per-round lazy (r15) `localCheckpoint`
    * truncates the iterative lineage ([[components]]
    * discipline).
    */
  def kCore(pairs: DataFrame, aCol: String, bCol: String,
            k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1)
    var e = symmetricEdges(pairs, aCol, bCol).localCheckpoint(false)
    var deg: DataFrame = null
    for (_ <- 1 to rounds) {
      deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
      val alive = deg.filter(col("deg") >= k)
        .select(col("src").as("node"))
        .localCheckpoint(false)
      e = e
        .join(alive.withColumnRenamed("node", "src"), Seq("src"),
          "left_semi")
        .join(alive.withColumnRenamed("node", "dst"), Seq("dst"),
          "left_semi")
        .localCheckpoint(false)
    }
    // survivors with their degree inside the final peeled graph
    e.groupBy("src").agg(count(lit(1)).as("core_deg"))
      .filter(col("core_deg") >= k)
      .select(col("src").as("doc_id"), col("core_deg"))
  }

  /** Synchronous label propagation over the undirected near-dup graph,
    * `rounds` fixed iterations: every vertex adopts the MODE of its
    * neighbors' labels (count desc, label asc tie-break — fully
    * deterministic, unlike classic randomized LPA), seeded with its own
    * id. Communities differ from [[components]]: a bridge
    * vertex joins the side with more of its neighbors instead of
    * gluing both sides into one component — the granularity that
    * separates two near-dup families connected by one borderline pair.
    *
    * Shape: per round, one edge×labels join (narrow id pairs) and one
    * (vertex, label) count agg; the mode is a bounded `min(struct)`
    * fold, never a per-vertex window sort. `localCheckpoint` per round
    * caps lineage exactly like [[kCore]].
    */
  def labelPropagation(pairs: DataFrame, aCol: String, bCol: String,
                       rounds: Int): DataFrame = {
    require(rounds >= 1)
    val e = symmetricEdges(pairs, aCol, bCol).localCheckpoint(false)
    var labels = e.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
      .localCheckpoint(false)
    for (_ <- 1 to rounds) {
      labels = e
        .join(labels.select(col("node").as("dst"), col("label")),
          Seq("dst"))
        .groupBy(col("src"), col("label"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("src").as("node"))
        .agg(min(struct((-col("cnt")).as("nc"), col("label")))
          .getField("label").as("label"))
        .localCheckpoint(false)
    }
    labels.select(col("node").as("doc_id"), col("label").as("community"))
  }

  /** Louvain-style modularity local move (Blondel–Guillaume–Lambiotte–
    * Lefebvre, J. Stat. Mech. 2008, phase 1) — the community detection
    * that OPTIMIZES modularity, where [[labelPropagation]] merely
    * follows majority labels (graph_modularity scores a partition;
    * this one improves it). Deterministic synchronous variant:
    * `rounds` sweeps where every node simultaneously moves to the
    * candidate community (its neighbors' communities plus its own)
    * maximizing the exact integer gain score 2m·k_{i,c} − k_i·d_c^{−i}
    * (the standard ΔQ numerator with the constant self-terms dropped —
    * they are equal across a node's candidates, so the argmax is the
    * true Louvain local move), ties to the SMALLEST community id.
    * Sequential Louvain is order-dependent; the synchronous sweep is
    * replayable in any engine, which is what makes the oracle a plain
    * SQL twin.
    *
    * Scale shape per round: one (node, neighbor-community) rollup over
    * the edge list (the corpus-sized shuffle), one community-degree
    * rollup, keyed joins, and a per-node argmax via min/max-by struct
    * (bounded by degree). The 1-row edge-count frame broadcasts.
    * Bound stated: gains live in longs — exact while
    * 2m·deg_max < 2⁶³.
    */
  def louvainLocalMove(pairs: DataFrame, aCol: String, bCol: String,
                       rounds: Int): DataFrame = {
    require(rounds >= 1)
    val e = symmetricEdges(pairs, aCol, bCol)
      // drop self-pairs HERE (ADVICE r12 #4): the weighted core prices
      // a self-loop row as twice the intra weight, so a stray (a, a)
      // input pair surviving as a w=1 half-loop would silently skew
      // degrees; current candidate generators only emit id_a < id_b,
      // but the normalization — not the caller — owns the contract
      .filter(col("src") =!= col("dst"))
      .withColumn("w", lit(1L))
    louvainLocalMoveWeighted(e, rounds)
      .select(col("node").as("doc_id"), col("comm").as("community"))
  }

  /** The weighted synchronous local-move core both Louvain levels run
    * on: `edges` is a DIRECTED symmetric frame `(src, dst, w)` where a
    * self-loop row (src = dst) carries TWICE the intra weight (both
    * endpoints), so `ki = Σ w` is the weighted degree and
    * `m = Σ w / 2` the total weight. Self-loops contribute to degrees
    * and community loads but never to a candidate k_{i,c} (the
    * `src ≠ dst` filter) — exactly the weighted gain numerator
    * 2m·k_{i,c} − k_i·(d_c − [c = c_i]·k_i) of Blondel et al. 2008
    * §2. With w ≡ 1 this is bit-identical to the round-11 unweighted
    * sweep (sum ≡ count). Overflow bound (count class): gains are
    * ≤ 4m² < 2⁶³ for m ≤ 1.5e9 total edge weight — loud past it.
    */
  def louvainLocalMoveWeighted(edges: DataFrame,
                               rounds: Int): DataFrame = {
    require(rounds >= 1)
    // OPTIMIZATION r15 — three per-round joins and one per-round edge
    // pass removed, values bit-identical:
    //  * ki RIDES the labeling frame (node, ki, comm) and the edge
    //    frame (ki of src attached ONCE at setup), so the old
    //    per-round comm⋈deg and gain⋈deg node-space joins are gone —
    //    dcomm is a direct rollup of the labeling, and grouping by
    //    (node, ki) is the same partition (ki is a function of node);
    //  * the "staying is always a candidate" row carries an is_cc
    //    FLAG through the max-dedup instead of re-joining the previous
    //    labeling to recover the current community: the union row
    //    exists exactly for (node, current comm), so max(f) marks it
    //    and [comm = cc]·ki becomes is_cc·ki — the same gain;
    //  * m is a 1-row lazily checkpointed frame computed once — the
    //    old broadcast subtree re-aggregated the full edge frame
    //    every round.
    val e = edges.localCheckpoint(false)
    val deg = e.groupBy(col("src").as("node"))
      .agg(sum("w").as("ki"))
      .localCheckpoint(false)
    val e2 = e.filter(col("src") =!= col("dst"))
      .join(deg.select(col("node").as("src"), col("ki").as("kis")),
        Seq("src"))
      .localCheckpoint(false)
    val mstat = e.agg((sum("w") / 2).cast("long").as("m"))
      .localCheckpoint(false)
    var comm = deg.select(col("node"), col("ki"))
      .withColumn("comm", col("node"))
      .localCheckpoint(false)
    for (_ <- 1 to rounds) {
      val dcomm = comm.groupBy("comm").agg(sum("ki").as("dc"))
      val kic = e2
        .join(comm.select(col("node").as("dst"), col("comm")),
          Seq("dst"))
        .groupBy(col("src").as("node"), col("comm"))
        .agg(sum("w").as("kic"), max("kis").as("ki"))
      val cand = kic.withColumn("f", lit(0L))
        .unionByName(comm.select(col("node"), col("comm"),
          lit(0L).as("kic"), col("ki"), lit(1L).as("f")))
        .groupBy("node", "comm")
        .agg(max("kic").as("kic"), max("ki").as("ki"),
          max("f").as("is_cc"))
      comm = cand
        .join(dcomm, Seq("comm"))
        .crossJoin(broadcast(mstat))
        .withColumn("gain",
          lit(2L) * col("m") * col("kic") - col("ki") *
            (col("dc") - col("is_cc") * col("ki")))
        .groupBy("node", "ki")
        .agg(max(struct(col("gain"), (-col("comm")).as("nc")))
          .getField("nc").as("nc"))
        .select(col("node"), col("ki"), (-col("nc")).as("comm"))
        .localCheckpoint(false)
    }
    comm.select("node", "comm")
  }

  /** Multi-level Louvain (VERDICT r11 #4 — the phase the round-11
    * local move lacked): phase 1 runs `rounds1` synchronous sweeps on
    * the raw graph; phase 2 AGGREGATES each community to a supernode
    * (Blondel et al. 2008 §2, the "community aggregation" step) —
    * inter-community edge weights are the cross-edge counts, each
    * community's intra-edge count becomes a self-loop of twice that
    * weight, so the aggregated graph's modularity function equals the
    * original partition's — reruns the SAME weighted sweep on the
    * supernode graph, and unfolds labels through the two levels. This
    * reaches merges a bounded number of synchronous local moves
    * cannot (large-diameter community hierarchies), while every step
    * stays a rollup + keyed joins: the aggregation is ONE edge rollup
    * over the phase-1 labels, and the level-2 sweep runs on the
    * communities-sized frame.
    */
  def louvainMultilevel(pairs: DataFrame, aCol: String, bCol: String,
                        rounds1: Int, rounds2: Int): DataFrame = {
    val c1 = louvainLocalMove(pairs, aCol, bCol, rounds1)
      .localCheckpoint(false)
    val und = undirectedEdges(pairs, aCol, bCol)
    val m1 = und
      .join(c1.select(col("doc_id").as("a"), col("community").as("ca")),
        Seq("a"))
      .join(c1.select(col("doc_id").as("b"), col("community").as("cb")),
        Seq("b"))
    val inter = m1.filter(col("ca") =!= col("cb"))
      .groupBy(least(col("ca"), col("cb")).as("x"),
        greatest(col("ca"), col("cb")).as("y"))
      .agg(count(lit(1)).as("w"))
    val intra = m1.filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("x"))
      .agg((count(lit(1)) * lit(2L)).as("w"))
    val agg = inter
      .select(col("x").as("src"), col("y").as("dst"), col("w"))
      .unionByName(inter.select(col("y").as("src"),
        col("x").as("dst"), col("w")))
      .unionByName(intra.select(col("x").as("src"),
        col("x").as("dst"), col("w")))
    val c2 = louvainLocalMoveWeighted(agg, rounds2)
    c1.join(c2.select(col("node").as("community"),
        col("comm").as("c2")), Seq("community"))
      .select(col("doc_id"), col("c2").as("community"))
  }

  /** Bounded-round multi-source BFS over the undirected near-dup
    * graph: minimum hop distance from any SEED vertex (a predicate
    * over vertex ids — e.g. an audited/“known-contaminated” doc set)
    * within `rounds` hops. The contamination-blast-radius query: given
    * flagged documents, how much of the corpus sits within h near-dup
    * hops of one? Vertices unreachable in `rounds` hops are absent
    * from the output (distance genuinely unknown at this bound, not 0).
    *
    * Classic BFS frontier discipline: per round only the NEWLY reached
    * vertices (left-anti vs the visited set) expand, so each edge is
    * traversed at most once per endpoint discovery, not once per
    * round. Per-round lazy (r15) `localCheckpoint` truncates lineage
    * ([[components]] discipline); every shuffled row is a
    * pair of longs.
    */
  def bfsDepths(pairs: DataFrame, aCol: String, bCol: String,
                seed: Column => Column, rounds: Int): DataFrame =
    bfsDepthsCore(pairs, aCol, bCol,
      verts => verts.filter(seed(col("id"))), rounds)

  /** [[bfsDepths]] with the seed set given as a one-column DataFrame of
    * vertex ids instead of a predicate — the shape for seed sets that
    * are themselves query results (e.g. "the N lexically-smallest
    * vertices of the candidate graph", an audit table, a quarantine
    * list). Seeds not present in the graph are ignored (semi-join), so
    * a stale quarantine list cannot invent vertices.
    */
  def bfsDepthsFromSeeds(pairs: DataFrame, aCol: String, bCol: String,
                         seeds: DataFrame, rounds: Int): DataFrame = {
    val s = seeds.select(
      col(seeds.columns.head).cast("long").as("id"))
    bfsDepthsCore(pairs, aCol, bCol,
      verts => verts.join(s, Seq("id"), "left_semi"), rounds)
  }

  /** Bounded-round single-source(-set) shortest paths over the
    * WEIGHTED undirected near-dup graph — Bellman–Ford with `rounds`
    * relaxation rounds: after round r every vertex holds the minimum
    * total weight over walks of ≤ r edges from any seed (vertices
    * unreachable in `rounds` hops are absent). The weighted refinement
    * of [[bfsDepthsFromSeeds]]: with edge weight = 1 − similarity, the
    * distance is a DISSIMILARITY budget — "everything within ε of a
    * flagged document, transitively" — which ranks blast-radius
    * vertices by contamination strength instead of hop count.
    *
    * Scale shape: each round joins the narrow (id, dist) frame to the
    * edge list (both shuffled by key) and takes a per-vertex min —
    * rows are triples of longs; per-round lazy (r15) `localCheckpoint`
    * truncates lineage exactly like [[components]]. Weights
    * are caller-provided integers (exact math end to end).
    */
  def ssspFromSeeds(pairs: DataFrame, aCol: String, bCol: String,
                    wCol: String, seeds: DataFrame,
                    rounds: Int): DataFrame = {
    require(rounds >= 1)
    val e = pairs
      .select(col(aCol).cast("long").as("src"),
        col(bCol).cast("long").as("dst"), col(wCol).cast("long").as("w"))
      .unionByName(pairs.select(col(bCol).cast("long").as("src"),
        col(aCol).cast("long").as("dst"), col(wCol).cast("long").as("w")))
      .distinct()
      .localCheckpoint(false)
    val verts = e.select(col("src").as("id")).distinct()
    val s = seeds.select(col(seeds.columns.head).cast("long").as("id"))
    var dist = verts.join(s, Seq("id"), "left_semi")
      .withColumn("dist", lit(0L))
      .localCheckpoint(false)
    for (_ <- 1 to rounds) {
      val relaxed = e
        .join(dist.select(col("id").as("src"), col("dist")), Seq("src"))
        .select(col("dst").as("id"), (col("dist") + col("w")).as("dist"))
      dist = dist.unionByName(relaxed)
        .groupBy("id").agg(min("dist").as("dist"))
        .localCheckpoint(false)
    }
    dist.select(col("id").as("doc_id"), col("dist"))
  }

  private def bfsDepthsCore(pairs: DataFrame, aCol: String, bCol: String,
                            seedOf: DataFrame => DataFrame,
                            rounds: Int): DataFrame = {
    require(rounds >= 1)
    val e = symmetricEdges(pairs, aCol, bCol).localCheckpoint(false)
    val verts = e.select(col("src").as("id")).distinct()
    var visited = seedOf(verts)
      .withColumn("depth", lit(0L))
      .localCheckpoint(false)
    var frontier = visited
    for (d <- 1 to rounds) {
      frontier = e
        .join(frontier.select(col("id").as("src")), Seq("src"))
        .select(col("dst").as("id")).distinct()
        .join(visited.select("id"), Seq("id"), "left_anti")
        .withColumn("depth", lit(d.toLong))
        .localCheckpoint(false)
      visited = visited.unionByName(frontier).localCheckpoint(false)
    }
    visited.select(col("id").as("doc_id"), col("depth"))
  }

  /** Per-vertex triangle counts over the undirected near-dup graph —
    * the local clustering signal: near-dup CLIQUES (true duplicate
    * groups) are triangle-dense, while chains of borderline pairs
    * (threshold noise) carry none, so the count separates "genuine
    * cluster member" from "bridge artifact" better than degree.
    *
    * Shape: edges canonicalized to a < b and deduplicated; wedges
    * (a<b<c) materialize via one self-join on the middle vertex and
    * close via a second join on the (a, c) edge — both joins move only
    * narrow id pairs, shuffled by join key. Output: (doc_id,
    * n_triangles) for every vertex in at least one triangle.
    */
  def triangleCounts(pairs: DataFrame, aCol: String,
                     bCol: String): DataFrame = {
    val e = undirectedEdges(pairs, aCol, bCol)
    // wedges x<y<z: e(x,y) ⋈ e(y,z); closed by the (x,z) edge
    val wedge = e
      .join(e.select(col("a").as("b"), col("b").as("c")), Seq("b"))
    val tri = wedge.join(
      e.select(col("a"), col("b").as("c")), Seq("a", "c"))
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("doc_id"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** Per-node local clustering coefficient over the candidate graph:
    * `cc(v) = 2·T(v) / (deg(v)·(deg(v)−1))` for nodes of degree ≥ 2 —
    * the clique-vs-bridge separator ([[triangleCounts]] gives the
    * numerator; a dup CLIQUE scores ~1, a chain of borderline pairs
    * ~0). Integer-exact numerator/denominator with a single IEEE
    * division, so cross-engine comparison is bit-stable.
    *
    * Scale shape: degrees are one narrow aggregate over the exploded
    * edge list; the triangle join is the standard x<y<z wedge closure
    * (cost bounded by candidate-graph density, which dedup banding
    * already bounds); one final key join.
    */
  def clusteringCoefficient(pairs: DataFrame, aCol: String,
                            bCol: String): DataFrame = {
    val e = undirectedEdges(pairs, aCol, bCol)
    val deg = e.select(explode(array(col("a"), col("b"))).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("degree"))
    val tri = triangleCounts(pairs, aCol, bCol)
    deg.filter(col("degree") >= 2)
      .join(tri, Seq("doc_id"), "left")
      .select(col("doc_id"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        ExactGrid.eRatio(lit(2L) * coalesce(col("n_triangles"), lit(0L)),
          col("degree") * (col("degree") - 1), 10000L).as("cc"))
  }
}
