package graft

import graft.operators.GraphCC

class GraphCCSpec extends SparkSpec {

  private def cc(verts: Seq[(String, Long)], pairs: Seq[(String, Long, Long)],
                 maxIter: Int = 50): Map[(String, Long), Long] = {
    import spark.implicits._
    GraphCC.connectedComponents(
        verts.toDF("key", "id"), pairs.toDF("key", "id_a", "id_b"), maxIter)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
  }

  test("transitive chain collapses to one component; isolated vertex keeps its id") {
    val got = cc(
      verts = Seq(("k", 1L), ("k", 2L), ("k", 3L), ("k", 9L)),
      pairs = Seq(("k", 1L, 2L), ("k", 2L, 3L)))
    assert(got == Map(("k", 1L) -> 1L, ("k", 2L) -> 1L, ("k", 3L) -> 1L, ("k", 9L) -> 9L))
  }

  test("keys are independent graphs; edge direction does not matter") {
    val got = cc(
      verts = Seq(("a", 1L), ("a", 2L), ("b", 1L), ("b", 2L), ("b", 3L)),
      // b's edges given in 'reversed' direction — symmetrized internally
      pairs = Seq(("a", 1L, 2L), ("b", 3L, 2L), ("b", 2L, 1L)))
    assert(got == Map(("a", 1L) -> 1L, ("a", 2L) -> 1L,
      ("b", 1L) -> 1L, ("b", 2L) -> 1L, ("b", 3L) -> 1L))
  }

  test("long path needs diameter rounds and still converges") {
    // path 1-2-3-...-40: min label must walk the whole chain
    val n = 40L
    val got = cc(
      verts = (1L to n).map(i => ("p", i)),
      pairs = (1L until n).map(i => ("p", i, i + 1)))
    assert(got.values.toSet == Set(1L))
  }

  test("fails loudly when maxIter is below the component diameter") {
    val n = 30L
    val ex = intercept[IllegalArgumentException] {
      cc(verts = (1L to n).map(i => ("p", i)),
        pairs = (1L until n).map(i => ("p", i, i + 1)),
        maxIter = 3)
    }
    assert(ex.getMessage.contains("did not converge"))
  }

  test("empty edge set: every vertex is its own component") {
    val got = cc(verts = Seq(("k", 5L), ("k", 7L)), pairs = Nil)
    assert(got == Map(("k", 5L) -> 5L, ("k", 7L) -> 7L))
  }

  test("a one-edge graph runs within its job budget") {
    // edge checkpoint, then two rounds' AQE stages; no graph-size pre-count
    import spark.implicits._
    val (_, jobs) = jobsDuring(GraphCC.connectedComponents(
      Seq(("k", 1L), ("k", 2L)).toDF("key", "id"), Seq(("k", 1L, 2L)).toDF("key", "id_a", "id_b")))
    assert(jobs <= 12, s"connectedComponents ran $jobs jobs")
  }

  test("non-broadcast fallback path (threshold 0) produces identical labels") {
    import spark.implicits._
    // a mix of chains, stars, and isolated vertices across keys
    val verts = (for (k <- Seq("a", "b"); i <- 1L to 30L) yield (k, i)).toDF("key", "id")
    val pairs = ((1L until 15L).map(i => ("a", i, i + 1)) ++      // chain in a
      (17L to 25L).map(i => ("a", 16L, i)) ++                     // star in a
      Seq(("b", 3L, 9L), ("b", 9L, 27L))).toDF("key", "id_a", "id_b")
    val hinted = GraphCC.connectedComponents(verts.toDF(), pairs.toDF())
      .orderBy("key", "id").collect().toSeq
    val plain = GraphCC.connectedComponents(verts.toDF(), pairs.toDF(),
        broadcastThreshold = 0L)
      .orderBy("key", "id").collect().toSeq
    assert(hinted == plain)
  }
}
