package graft.functions

import org.apache.spark.sql.functions._

import graft.{JobCount, SparkSpec}

/** The small-graph endgame (optimization r15) must be a pure
  * IMPLEMENTATION switch: for the same input, the single-task
  * union-find path (budget above the edge count) and the distributed
  * rounds path (budget forced to 0 via the system property) must
  * produce identical labelings from [[Graph.components]], equal to a
  * reference union-find; and the
  * single-linkage Kruskal endgame must yield the identical forest and
  * cut. Fixtures deliberately include long chains (the diameter
  * adversary), cliques, self-contained stars and isolated pairs.
  */
class ComponentsEndgameSpec extends SparkSpec {

  import spark.implicits._

  // chain 0-1-...-19, clique {100..104}, pair (200, 201), star 300
  private val pairs = Seq.tabulate(19)(i =>
      (i.toLong, i.toLong + 1)) ++
    (for (a <- 100 to 104; b <- (a + 1) to 104)
      yield (a.toLong, b.toLong)) ++
    Seq((200L, 201L), (300L, 301L), (300L, 302L), (300L, 303L))

  private def df = pairs.toDF("id_a", "id_b")

  private def labelsOf(out: org.apache.spark.sql.DataFrame)
      : Map[Long, Long] =
    out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("connectedComponents: endgame equals distributed rounds") {
    val local = withCcLocalMax("1000000") {
      labelsOf(Graph.components(df, "id_a", "id_b"))
    }
    val dist = withCcLocalMax("0") {
      labelsOf(Graph.components(df, "id_a", "id_b"))
    }
    assert(local == dist)
    // and both are the min-id contract
    assert(local(19L) == 0L && local(104L) == 100L &&
      local(201L) == 200L && local(303L) == 300L)
  }

  test("starContraction: endgame equals distributed rounds") {
    // the star-contraction rounds against the union-find on a graph
    // whose diameter (64) and stars are larger than the shared
    // fixture's: a chain given in reversed pair order, a 20-leaf star
    // whose hub is not its minimum, and a clique
    val star = (0L until 64L).map(i => (i + 1, i)) ++
      (1L to 20L).map(i => (500L, 400L + i)) ++
      (for (a <- 900L to 905L; b <- (a + 1) to 905L) yield (b, a))
    val g = star.toDF("id_a", "id_b")
    val local = withCcLocalMax("1000000") {
      labelsOf(Graph.components(g, "id_a", "id_b"))
    }
    val dist = withCcLocalMax("0") {
      labelsOf(Graph.components(g, "id_a", "id_b"))
    }
    assert(local == dist)
    assert(local(64L) == 0L && local(500L) == 401L &&
      local(420L) == 401L && local(905L) == 900L)
  }

  test("incrementalComponents: endgame equals distributed, any base") {
    // the incremental merge shape: stored base labels (one edge per old
    // vertex to its rep) closed together with the delta pairs
    val isBase = col("id_a") % 3 =!= 0
    val merged = Graph.components(df.filter(isBase), "id_a", "id_b")
      .select(col("doc_id").as("id_a"), col("rep_id").as("id_b"))
      .unionByName(df.filter(!isBase))
    val local = withCcLocalMax("1000000") {
      labelsOf(Graph.components(merged, "id_a", "id_b"))
    }
    val dist = withCcLocalMax("0") {
      labelsOf(Graph.components(merged, "id_a", "id_b"))
    }
    assert(local == dist)
    assert(local == labelsOf(Graph.components(df, "id_a", "id_b")))
  }

  test("components match a reference union-find on random graphs") {
    // reference: every endpoint labeled with the min id of its set
    def reference(ps: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def root(x: Long): Long =
        if (parent.getOrElse(x, x) == x) x else root(parent(x))
      ps.foreach { case (a, b) =>
        val (ra, rb) = (root(a), root(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      ps.flatMap(p => Seq(p._1, p._2)).distinct.map(v => v -> root(v)).toMap
    }
    for (seed <- Seq(1, 2, 3)) {
      val rnd = new scala.util.Random(seed)
      // ~60 vertices, sparse enough to leave several components, plus
      // self-pairs (one on an otherwise isolated vertex)
      val ps = Seq.fill(45)((rnd.nextInt(60).toLong,
        rnd.nextInt(60).toLong)) :+ ((70L, 70L))
      val want = reference(ps)
      val g = ps.toDF("id_a", "id_b")
      for (budget <- Seq("0", Graph.ccLocalMax.toString)) {
        val got = withCcLocalMax(budget) {
          labelsOf(Graph.components(g, "id_a", "id_b"))
        }
        assert(got == want, s"seed $seed budget $budget")
      }
    }
  }

  test("components start one job on a small graph") {
    // the small-graph path's only action is the edge count; the
    // union-find runs when the result is read
    val jobs = JobCount(spark) {
      Graph.components(df, "id_a", "id_b")
    }
    assert(jobs == 1)
  }

  test("single-linkage: Kruskal endgame equals distributed Borůvka") {
    // duplicate-heavy 2-D points with two well-separated blobs plus a
    // long chain — exercises collapse, the cut and the k-partition
    val pts = (0L until 40L).map(i => (i, i * 10, 0L)) ++
      Seq((100L, 5000L, 5000L), (101L, 5005L, 5005L),
        (102L, 5010L, 5000L), (200L, 9000L, 9000L),
        (201L, 9000L, 9000L), (202L, 9008L, 9002L))
    val df2 = pts.toDF("vec_id", "x", "y")
    def run(): Seq[(Long, Long)] = {
      val rp = graft.ops.Dbscan.reps(df2)
      val mst = graft.ops.SingleLinkage.mstEdges(rp, eps = 100L)
      graft.ops.SingleLinkage.cut(rp, mst, k = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    }
    val local = withCcLocalMax("1000000")(run())
    val dist = withCcLocalMax("0")(run())
    assert(local == dist)
  }
}
