package graft

import org.apache.spark.sql.functions._

import graft.operators.Lloyd

/** The Lloyd k-means trainer behind the persisted IVF index (v15):
  * integer-exact, so retraining at ANY parallelism must produce
  * bit-identical centroids; convergence is a true fixpoint; empty
  * clusters carry their previous centroid. */
class LloydSpec extends SparkSpec {

  import spark.implicits._

  /** Deterministic integer test vectors around k well-separated sites:
    * vec v belongs to site v % k, offset by a small per-vector jitter. */
  private def qvecs(n: Int, k: Int, d: Int) =
    (0L until n.toLong).map { v =>
      val site = (v % k).toInt
      val vec = (0 until d).map { dim =>
        (site * 40 - 60) + ((v * 31 + dim * 17) % 7).toInt - 3
      }
      (v, vec)
    }.toDF("vec_id", "qvec")

  test("training is bit-identical across parallelism") {
    val base = qvecs(240, 4, 8)
    val t1 = Lloyd.train(spark, base.repartition(1), k = 4, maxIters = 8)
    val t32 = Lloyd.train(spark, base.repartition(13), k = 4, maxIters = 8)
    assert(t1.centroidIds.sameElements(t32.centroidIds))
    assert(t1.centroidsMilli.zip(t32.centroidsMilli)
      .forall { case (a, b) => a.sameElements(b) },
      "centroids must not depend on partitioning")
    assert(t1.lastUpdate == t32.lastUpdate)
    assert(t1.iterations == t32.iterations && t1.converged == t32.converged)
  }

  test("convergence is a fixpoint: more iterations change nothing") {
    val base = qvecs(240, 4, 8)
    val short = Lloyd.train(spark, base, k = 4, maxIters = 8)
    val long = Lloyd.train(spark, base, k = 4, maxIters = 20)
    assert(short.converged, "well-separated sites must converge within 8 rounds")
    assert(short.centroidsMilli.zip(long.centroidsMilli)
      .forall { case (a, b) => a.sameElements(b) },
      "a converged run must equal a deeper run (the unrolled-oracle premise)")
    assert(short.lastUpdate == long.lastUpdate)
  }

  test("assignment mass is total and exact") {
    val n = 240
    val t = Lloyd.train(spark, qvecs(n, 4, 8), k = 4, maxIters = 8)
    // per-dim assignment counts each sum to n (every vector assigned once)
    (0 until 8).foreach { dim =>
      val total = t.centroidIds.map(id => t.lastUpdate.getOrElse((id, dim), (0L, 0L))._1).sum
      assert(total == n, s"dim $dim assignment mass $total != $n")
    }
    // milli centroids are the exact rounded mean of their members' sums
    t.rows.foreach { case (_, _, cm, nAssigned, sumQ) =>
      if (nAssigned > 0)
        assert(cm == Math.floorDiv(2000L * sumQ + nAssigned, 2L * nAssigned))
    }
  }

  test("an empty cluster keeps its previous centroid") {
    // seeds 0/1 identical and 2/3 identical: distance ties break to the
    // lower centroid id, so clusters 1 and 3 drain in round one
    val allSame = (0L until 40L).map { v =>
      val vec = (0 until 8).map(dim => if (v < 2) 5 + dim else 100)
      (v, vec)
    }.toDF("vec_id", "qvec")
    val t = Lloyd.train(spark, allSame, k = 4, maxIters = 4)
    // at least one cluster must have ended empty, and its centroid must be
    // finite/unchanged rather than dropped from the map
    assert(t.centroidIds.length == 4 && t.centroidsMilli.forall(_.length == 8))
    val empties = t.centroidIds.zipWithIndex.filter { case (id, _) =>
      (0 until 8).forall(dim => t.lastUpdate.get((id, dim)).isEmpty)
    }
    assert(empties.nonEmpty, "fixture should drain at least one cluster")
  }

  test("a round is one job: seed collect plus one per round") {
    val (t, jobs) = jobsDuring(
      Lloyd.train(spark, qvecs(240, 4, 8).coalesce(1), k = 4, maxIters = 8))
    assert(t.iterations > 1)
    assert(jobs == 1 + t.iterations, s"${t.iterations} rounds ran $jobs jobs")
  }

  test("a vector whose length differs from the centroids' fails naming both lengths") {
    val bad = qvecs(40, 4, 8).union(Seq((99L, Seq(1, 2, 3))).toDF("vec_id", "qvec"))
    val e = intercept[Exception](Lloyd.train(spark, bad, k = 4, maxIters = 2))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).exists(c =>
      c.isInstanceOf[IllegalArgumentException] &&
        c.getMessage.contains("vector has 3 dims, centroids have 8")), e)
  }

  test("a row with a null qvec joins no cluster") {
    val base = qvecs(240, 4, 8)
    val withNull = base.union(Seq((999L, null: Seq[Int])).toDF("vec_id", "qvec"))
    val t = Lloyd.train(spark, withNull, k = 4, maxIters = 8)
    val ref = Lloyd.train(spark, base, k = 4, maxIters = 8)
    assert(t.lastUpdate == ref.lastUpdate && t.iterations == ref.iterations)
    assert(t.centroidsMilli.zip(ref.centroidsMilli).forall { case (a, b) => a.sameElements(b) })
  }

  test("trained centroid frame serves exact cm/1000 doubles") {
    val t = Lloyd.train(spark, qvecs(80, 4, 8), k = 4, maxIters = 8)
    val served = t.centroidFrame(spark)
      .select(col("centroid_id"), posexplode(col("c_emb")).as(Seq("dim", "x")))
      .as[(Long, Int, Double)].collect()
      .map { case (id, dim, x) => (id, dim) -> x }.toMap
    t.rows.foreach { case (id, dim, cm, _, _) =>
      assert(served((id, dim)) == cm / 1000.0)
    }
  }
}
