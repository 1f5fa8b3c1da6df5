package graft

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
import org.scalacheck.{Gen, Prop}

import graft.operators.GraphCC

class GraphCCSpec extends SparkSpec {

  private def run(verts: Seq[(String, Long)], pairs: Seq[(String, Long, Long)],
                  maxIter: Int = 50): Seq[(String, Long, Long)] = {
    import spark.implicits._
    GraphCC.connectedComponents(
        verts.toDF("key", "id"), pairs.toDF("key", "id_a", "id_b"), maxIter)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq.sorted
  }

  private def cc(verts: Seq[(String, Long)], pairs: Seq[(String, Long, Long)],
                 maxIter: Int = 50): Map[(String, Long), Long] =
    run(verts, pairs, maxIter).map { case (k, id, c) => (k, id) -> c }.toMap

  /** Driver-side union-find over each key's vertex set, one output row per
    * vertex row: comp = the smallest id of the vertex's component. An edge
    * with an endpoint outside the vertex set is ignored. */
  private def unionFind(verts: Seq[(String, Long)],
                        pairs: Seq[(String, Long, Long)]): Seq[(String, Long, Long)] = {
    val parent = scala.collection.mutable.Map.empty[(String, Long), (String, Long)]
    def find(v: (String, Long)): (String, Long) =
      parent.get(v).filter(_ != v).map(find).getOrElse(v)
    val known = verts.toSet
    for ((k, a, b) <- pairs if known((k, a)) && known((k, b))) {
      val (ra, rb) = (find((k, a)), find((k, b)))
      // the smaller root wins, so every root is its component's minimum
      if (ra._2 < rb._2) parent(rb) = ra else if (rb._2 < ra._2) parent(ra) = rb
    }
    verts.map(v => (v._1, v._2, find(v)._2)).sorted
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
    // one job per round, two rounds: the inputs are local relations, so
    // planning them starts no job
    import spark.implicits._
    val (_, jobs) = jobsDuring(GraphCC.connectedComponents(
      Seq(("k", 1L), ("k", 2L)).toDF("key", "id"), Seq(("k", 1L, 2L)).toDF("key", "id_a", "id_b")))
    assert(jobs <= 3, s"connectedComponents ran $jobs jobs")
  }

  test("chains, stars and isolated vertices across keys match a driver-side union-find") {
    val verts = for (k <- Seq("a", "b"); i <- 1L to 30L) yield (k, i)
    val pairs = (1L until 15L).map(i => ("a", i, i + 1)) ++      // chain in a
      (17L to 25L).map(i => ("a", 16L, i)) ++                     // star in a
      Seq(("b", 3L, 9L), ("b", 9L, 27L))
    assert(run(verts, pairs) == unionFind(verts, pairs))
  }

  test("small multi-key graphs match a driver-side union-find (fixed-seed property)") {
    // few ids per key, so graphs carry self-loops, duplicate edges,
    // duplicate vertices and endpoints outside the vertex set
    val id = Gen.choose(0L, 9L)
    val key = Gen.oneOf("a", "b", "c")
    val graph = for {
      nv <- Gen.choose(0, 12)
      verts <- Gen.listOfN(nv, Gen.zip(key, id))
      ne <- Gen.choose(0, 14)
      pairs <- Gen.listOfN(ne, Gen.zip(key, id, id))
    } yield (verts, pairs)
    PropCheck(Prop.forAll(graph) { case (verts, pairs) =>
      run(verts, pairs) == unionFind(verts, pairs)
    }, minTests = 25, seed = 15L)
  }

  test("int and long ids keep their types; comp takes the wider one") {
    import spark.implicits._
    val vi = Seq(("k", 1), ("k", 2), ("k", 3)).toDF("key", "id")
    val pi = Seq(("k", 2, 1)).toDF("key", "id_a", "id_b")
    val vl = vi.select(col("key"), col("id").cast("long"))
    val pl = pi.select(col("key"), col("id_a").cast("long"), col("id_b").cast("long"))
    def typed(v: org.apache.spark.sql.DataFrame, p: org.apache.spark.sql.DataFrame) = {
      val out = GraphCC.connectedComponents(v, p)
      (out.schema.fields.map(_.dataType).toSeq,
        out.orderBy("id").collect().map(r => (r.get(1), r.get(2))).toSeq)
    }
    assert(typed(vi, pi) == ((Seq(StringType, IntegerType, IntegerType),
      Seq((1, 1), (2, 1), (3, 3)))))
    assert(typed(vl, pl) == ((Seq(StringType, LongType, LongType),
      Seq((1L, 1L), (2L, 1L), (3L, 3L)))))
    assert(typed(vi, pl) == ((Seq(StringType, IntegerType, LongType),
      Seq((1, 1L), (2, 1L), (3, 3L)))))
  }

  test("a null vertex id fails, naming the column") {
    import spark.implicits._
    val verts = Seq(("k", Some(1L)), ("k", None)).toDF("key", "id")
    val ex = intercept[Exception](GraphCC.connectedComponents(
      verts, Seq(("k", 1L, 2L)).toDF("key", "id_a", "id_b")).collect())
    assert(Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null).exists(t =>
      t.isInstanceOf[IllegalArgumentException] &&
        t.getMessage.contains("column `id` holds a null")), ex)
  }
}
