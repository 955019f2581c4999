package graft.functions

import graft.SparkSpec

class GraphKcoreSpec extends SparkSpec {
  import spark.implicits._

  // triangle {1,2,3} + pendant chain 3-4-5 + isolated edge 6-7
  private def pairs = Seq(
    (1L, 2L), (2L, 3L), (1L, 3L), // triangle: the 2-core
    (3L, 4L), (4L, 5L), // chain peels from the end
    (6L, 7L) // degree-1 pair, dies round 1
  ).toDF("id_a", "id_b")

  test("2-core keeps the triangle and peels chains and pendants") {
    val out = Graph.kCore(pairs, "id_a", "id_b", k = 2, rounds = 4)
      .orderBy("doc_id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(out.forall(_.getLong(1) == 2L)) // within-core degrees
  }

  test("3-core of a triangle is empty; 1-core keeps everything") {
    assert(Graph.kCore(pairs, "id_a", "id_b", k = 3, rounds = 3)
      .count() == 0L)
    assert(Graph.kCore(pairs, "id_a", "id_b", k = 1, rounds = 1)
      .count() == 7L)
  }

  test("bounded rounds converge on a long chain only gradually") {
    // path 1-2-3-...-8: 2-core is empty, but each round only peels the
    // two endpoints — after 2 rounds the middle still survives, a
    // direct check of the documented bounded-round semantics
    val chain = (1L to 7L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val after2 = Graph.kCore(chain, "id_a", "id_b", k = 2, rounds = 2)
    // edges among {3..6} remain; of those, only 4 and 5 still have
    // degree >= 2 inside the peeled graph (the output's own gate)
    assert(after2.count() == 2L)
    val after4 = Graph.kCore(chain, "id_a", "id_b", k = 2, rounds = 4)
    assert(after4.count() == 0L)
  }
}
