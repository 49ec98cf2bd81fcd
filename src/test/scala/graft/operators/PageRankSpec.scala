package graft.operators

import graft.SparkSpec

/** The operator's contract is an exact integer recurrence, so the spec can
  * demand bit-equality against a sequential reference implementation — no
  * tolerance bands (the oracle replays the same recurrence on the real
  * click graph; these pin shapes the corpus doesn't exercise). */
class PageRankSpec extends SparkSpec {
  import spark.implicits._

  /** Sequential replay of the documented recurrence (Scale, 0.85 damping,
    * DIV truncation, leaking dangling mass). */
  private def ref(edges: Seq[(Long, Long)], nodes: Seq[Long],
      iters: Int): Map[Long, Long] = {
    val out = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val n = nodes.size
    var r = nodes.map(_ -> PageRank.Scale / n).toMap
    for (_ <- 1 to iters) {
      val in = edges.groupBy(_._2).view
        .mapValues(_.map { case (s, _) => r(s) / out(s) }.sum).toMap
      r = nodes.map(v =>
        v -> (150000000000L / n + 85L * in.getOrElse(v, 0L) / 100)).toMap
    }
    r
  }

  private def run(edges: Seq[(Long, Long)], nodes: Seq[Long],
      iters: Int): Map[Long, Long] =
    PageRank.run(edges.toDF("src", "dst"), "src", "dst",
        nodes.toDF("id"), "id", nodes.toDF("id"), iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("random graphs match the sequential recurrence bit-for-bit") {
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 3) {
      val n = 10 + trial * 5
      val nodes = (0L until n).toSeq
      val edges = Seq.fill(n * 2)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }.distinct
      val got = run(edges, nodes, 5)
      val want = ref(edges, nodes, 5)
      assert(got == want, s"trial $trial: diff=${
        got.toSet.diff(want.toSet).take(5)}")
    }
  }

  test("an inward star concentrates mass on the hub; sources keep teleport only") {
    // leaves 1..9 all point at 0: after one iteration the hub holds the
    // teleport share plus 85% of every leaf's full rank; each leaf (no
    // in-edges) holds exactly the teleport share — and the values are the
    // recurrence's, bit-for-bit
    val nodes = (0L until 10L).toSeq
    val edges = (1L until 10L).map(i => (i, 0L))
    val got = run(edges, nodes, 3)
    val teleport = 150000000000L / 10
    assert((1L until 10L).forall(got(_) == teleport),
      s"source leaves must hold exactly the teleport mass, got $got")
    assert(got(0L) > got(1L) * 5, s"hub must dominate, got $got")
    assert(got == ref(edges, nodes, 3))
  }
}
