package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Graph

/** Grid-accelerated DBSCAN (Ester et al., KDD'96) over integer-scaled
  * 2-D coordinates, hardened for the two dense-data failure shapes a
  * 100 TB embedding corpus actually produces (VERDICT r9 #1):
  *
  * 1. '''Duplicate mass''' (mode collapse / copied vectors): points
  *    first roll up to DISTINCT coordinates with a multiplicity count,
  *    and every downstream stage — candidate join, degree, components,
  *    border attach — runs at the representative level. A cell holding
  *    a million copies of one vector contributes ONE representative,
  *    not 10¹² candidate pairs. Exactness is preserved because
  *    co-located points are role-interchangeable: they share the same
  *    eps-neighborhood, hence the same multiplicity-weighted degree
  *    (own mult − 1 + Σ neighbor mult), the same core verdict, and the
  *    same cluster label (the representative id IS the min vec_id at
  *    the coordinate, so min-label components agree with the
  *    point-level run).
  *
  * 2. '''Dense distinct cells''' (many DISTINCT coordinates in one
  *    eps-cell): a per-cell count pre-pass marks cells holding ≥
  *    `hotCellThreshold` representatives; their probe rows are salted
  *    by `pmod(xxhash64(rid), salts)` and their build rows replicated
  *    `salts` ways, so one hot cell's pair volume spreads over `salts`
  *    tasks instead of landing on a single shuffle key (the engine's
  *    standard salted-join discipline; deterministic, pair set
  *    unchanged). The volume itself is NOT a data liability: after the
  *    rollup, a point's 3×3-cell candidates all lie within 2√2·eps,
  *    and a covering argument (constant number of eps/2-radius balls,
  *    each of whose occupants are pairwise true neighbors) bounds
  *    candidate pairs by O(true eps-pair mass + distinct points) — a
  *    packing constant, not a data property. Dense DISTINCT cells
  *    imply quadratically many TRUE neighbor pairs, which any exact
  *    DBSCAN must touch; salting makes that mass parallel.
  *
  * Reference analogy: the ref pipeline's dedupe-then-transform staging
  * (etl/02_transformation per SURVEY §2) — here the dedupe IS the
  * algorithmic guard.
  */
object Dbscan {

  /** Distinct-coordinate rollup: one representative per (x, y) with
    * `rid` = min vec_id at the coordinate and `mult` = its population.
    */
  def reps(pts: DataFrame): DataFrame =
    pts.groupBy("x", "y")
      .agg(min("vec_id").as("rid"), count(lit(1)).as("mult"))

  /** Representative-level eps-neighbor pairs via the 3×3 eps-cell grid
    * join, hot cells salted. Input must carry (rid, x, y, mult);
    * output is (ra, rb, mult_a, mult_b, dist_sq) for every ordered
    * pair of DISTINCT coordinates within eps (both directions emitted,
    * ra ≠ rb — same-coordinate mass is exact-distance-0 and is
    * accounted for by `mult`, never enumerated).
    */
  def neighborPairs(reps: DataFrame, eps: Long,
                    hotCellThreshold: Long = 4096L,
                    salts: Int = 32): DataFrame = {
    val hot = reps
      .select(expr(s"x div $eps").as("cx"), expr(s"y div $eps").as("cy"))
      .groupBy("cx", "cy").agg(count(lit(1)).as("hot_n"))
      .filter(col("hot_n") >= hotCellThreshold)
    val aSide = reps
      .select(col("rid").as("ra"), col("x").as("xa"),
        col("y").as("ya"), col("mult").as("mult_a"),
        expr(s"x div $eps").as("cx"), expr(s"y div $eps").as("cy"))
      .join(broadcast(hot), Seq("cx", "cy"), "left")
      .withColumn("salt", when(col("hot_n").isNotNull,
        pmod(xxhash64(col("ra")), lit(salts.toLong)))
        .otherwise(lit(0L)))
      .drop("hot_n")
    val offs = Seq(-1L, 0L, 1L)
    val saltArr = array((0 until salts).map(i => lit(i.toLong)): _*)
    val bSide = reps
      .select(col("rid").as("rb"), col("x").as("xb"),
        col("y").as("yb"), col("mult").as("mult_b"))
      .withColumn("ox", explode(array(offs.map(lit(_)): _*)))
      .withColumn("oy", explode(array(offs.map(lit(_)): _*)))
      .select(col("rb"), col("xb"), col("yb"), col("mult_b"),
        (expr(s"xb div $eps") + col("ox")).as("cx"),
        (expr(s"yb div $eps") + col("oy")).as("cy"))
      .join(broadcast(hot), Seq("cx", "cy"), "left")
      .withColumn("salt", explode(when(col("hot_n").isNotNull, saltArr)
        .otherwise(array(lit(0L)))))
      .drop("hot_n")
    aSide.join(bSide, Seq("cx", "cy", "salt"))
      .filter(col("ra") =!= col("rb"))
      .withColumn("dist_sq",
        (col("xa") - col("xb")) * (col("xa") - col("xb")) +
          (col("ya") - col("yb")) * (col("ya") - col("yb")))
      .filter(col("dist_sq") <= lit(eps * eps))
      .select(col("ra"), col("rb"), col("mult_a"), col("mult_b"),
        col("dist_sq"))
  }

  /** Full DBSCAN: input (vec_id, x, y) with integer coordinates;
    * output (vec_id, role, cluster) — role 2 = core, 1 = border,
    * 0 = noise (cluster −1); cluster = min vec_id among the
    * eps-component's core points. `minPts` counts the point itself.
    */
  def cluster(pts: DataFrame, eps: Long, minPts: Long,
              hotCellThreshold: Long = 4096L,
              salts: Int = 32): DataFrame = {
    val p = pts.localCheckpoint(true) // rollup + final expansion
    val rp = reps(p).localCheckpoint(true) // grid sides + label joins
    val nbr = neighborPairs(rp, eps, hotCellThreshold, salts)
      .select("ra", "rb", "mult_b")
      .localCheckpoint(true) // degree, core edges, border labels
    // multiplicity-weighted neighborhood size: |N_eps(p)| incl. p
    // itself = own mult + Σ mult over distinct neighbor coords
    val wdeg = nbr.groupBy(col("ra").as("rid"))
      .agg(sum("mult_b").as("wnn"))
    val roles = rp.join(wdeg, Seq("rid"), "left")
      .select(col("rid"), col("x"), col("y"), col("mult"),
        (col("mult") + coalesce(col("wnn"), lit(0L)) >= minPts)
          .cast("long").as("is_core"))
      .localCheckpoint(true) // core filter read three times
    val coreIds = roles.filter(col("is_core") === 1).select("rid")
    val coreEdges = nbr
      .join(coreIds.select(col("rid").as("ra")), Seq("ra"))
      .join(coreIds.select(col("rid").as("rb")), Seq("rb"))
    val comp = Graph.components(coreEdges, "ra", "rb")
    val coreLbl = coreIds
      .join(comp, col("rid") === col("doc_id"), "left")
      .select(col("rid"),
        coalesce(col("rep_id"), col("rid")).as("cluster"))
      .localCheckpoint(true) // border labels + output read it
    val borderLbl = roles.filter(col("is_core") === 0).select("rid")
      .join(nbr, col("rid") === col("ra"))
      .join(coreLbl.select(col("rid").as("rb"), col("cluster")),
        Seq("rb"))
      .groupBy("rid").agg(min("cluster").as("cluster"))
    val noise = roles.filter(col("is_core") === 0).select("rid")
      .join(borderLbl.select("rid"), Seq("rid"), "left_anti")
    val coordLbl = coreLbl
      .select(col("rid"), lit(2L).as("role"), col("cluster"))
      .unionByName(borderLbl.select(col("rid"), lit(1L).as("role"),
        col("cluster")))
      .unionByName(noise.select(col("rid"), lit(0L).as("role"),
        lit(-1L).as("cluster")))
    p.join(rp.join(coordLbl, Seq("rid"))
        .select("x", "y", "role", "cluster"), Seq("x", "y"))
      .select(col("vec_id"), col("role"), col("cluster"))
  }
}
