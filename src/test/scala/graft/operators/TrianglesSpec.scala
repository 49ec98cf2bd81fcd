package graft.operators

import graft.SparkSpec

/** Planted-graph tests for the degree-oriented triangle enumeration: a K4
  * pins the each-triangle-exactly-once contract under heavy sharing (every
  * edge belongs to two triangles), a diagonal square pins the two-triangle
  * overlap case, and triangle-free structures (path, star) pin the empty
  * result — the wedge-closure join must not hallucinate closures from
  * shared centers alone. */
class TrianglesSpec extends SparkSpec {
  import spark.implicits._

  private def enumerate(edges: Seq[(Long, Long)]) = {
    val und = edges.toDF("u", "v")
    Triangles.enumerate(und, Graph.degrees(und))
  }

  private def tris(edges: Seq[(Long, Long)]): Set[(Long, Long, Long)] =
    enumerate(edges).collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("K4: all four triangles enumerated exactly once, sorted a<b<c") {
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val got = enumerate(k4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length == 4, s"K4 has exactly 4 triangles; got ${got.toSeq}")
    assert(got.toSet == Set((1L, 2L, 3L), (1L, 2L, 4L), (1L, 3L, 4L),
      (2L, 3L, 4L)))
  }

  test("square with one diagonal: the two diagonal triangles, nothing else") {
    assert(tris(Seq((8L, 9L), (9L, 10L), (10L, 11L), (8L, 11L), (8L, 10L)))
      == Set((8L, 9L, 10L), (8L, 10L, 11L)))
  }

  test("triangle-free graphs (path, star) produce no rows") {
    assert(tris(Seq((1L, 2L), (2L, 3L), (3L, 4L))).isEmpty)
    // star: every wedge shares center 1 but no closure edge exists
    assert(tris(Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L))).isEmpty)
  }
}
