package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Integer-exact Lloyd k-means trainer — the index-build loop behind the
  * persisted IVF index. North-star training-data-pipeline surface (SURVEY
  * §7 step 8's ANN scale path), not reference surface: the standard coarse
  * quantizer build (Lloyd 1982; Jégou et al., "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011, §III), distributed and
  * engine-exact.
  *
  * The `v10_kmeans_step` gate verifies ONE update step; this runs the real
  * loop: assign every quantized vector to its nearest centroid, recompute
  * centroids, repeat to a fixpoint (or `maxIters`). Everything is exact
  * integer arithmetic so the result is bit-stable across partitioning and
  * engines:
  *
  *  - vectors are int8-quantized (`qx` in [-127, 127]), centroids held at
  *    MILLI precision (`cm = round(1000 * mean)` as a long);
  *  - distances are `Σ (1000·qx − cm)²` — exact longs, order-independent;
  *  - ties break on the lower centroid id (deterministic argmin);
  *  - the centroid update is the exact rational round-half-up
  *    `floorDiv(2000·Σqx + n, 2n)` on the driver — no float summation
  *    anywhere, so reruns at any parallelism produce identical centroids;
  *  - an empty cluster keeps its previous centroid (standard Lloyd
  *    degenerate-case handling, and what keeps the map total).
  *
  * Convergence is a TRUE fixpoint: when an iteration leaves every `cm`
  * unchanged, the next assignment — a pure function of the centroids —
  * would repeat exactly, so stopping early equals running more iterations.
  * (That equivalence is what lets a fixed-depth unrolled SQL oracle check
  * a convergence-stopped run: surplus oracle iterations are no-ops.)
  *
  * Scale shape (MLlib KMeans's): the `qvec` scan is planned ONCE, and
  * each round is ONE `treeAggregate` over it whose closure carries that
  * round's k×d milli-centroids and folds dense per-partition partials —
  * k counts and k·d sums — so no shuffle grows with corpus size and the
  * driver materializes only k·(d+1) longs per round. A round runs no
  * Catalyst query, no codegen and no encoder; the loop is one job per
  * round plus the seed collect. The k·d centroid state (≤ a few thousand
  * values) is the documented driver-side index-build loop, not a data
  * collect. */
object Lloyd {

  /** Final trainer state: centroid ids with their milli-precision
    * coordinates, the last round's per-(centroid, dim) assignment stats
    * (n, Σqx; (0,0) for a cluster that ended empty), and loop telemetry. */
  final case class Trained(
      centroidIds: Array[Long],
      centroidsMilli: Array[Array[Long]],
      lastUpdate: Map[(Long, Int), (Long, Long)],
      iterations: Int,
      converged: Boolean) {

    /** (centroid_id, dim, cm, n_assigned, sum_q) rows, ordered. */
    def rows: Seq[(Long, Int, Long, Long, Long)] =
      for {
        (id, c) <- centroidIds.zip(centroidsMilli).toSeq
        dim <- c.indices
      } yield {
        val (n, s) = lastUpdate.getOrElse((id, dim), (0L, 0L))
        (id, dim, c(dim), n, s)
      }

    /** Centroids as exact double arrays (`cm / 1000.0`) for cosine-space
      * serving, keyed like the sampled-centroid tables. */
    def centroidFrame(spark: SparkSession): DataFrame = {
      import spark.implicits._
      centroidIds.zip(centroidsMilli)
        .map { case (id, c) => (id, c.map(_ / 1000.0).toSeq) }.toSeq
        .toDF("centroid_id", "c_emb")
    }
  }

  /** Train k centroids over `qvecs` (`vec_id: long`, `qvec: array<int>`).
    * Seeds are the qvecs of the k lowest `vec_id`s (scaled to milli) —
    * the same deterministic seeding the one-step gate uses. */
  def train(spark: SparkSession, qvecs: DataFrame, k: Int, maxIters: Int): Trained = {
    import spark.implicits._
    val seeds = qvecs.filter(col("vec_id") < k)
      .select(col("vec_id"), col("qvec"))
      .as[(Long, Seq[Int])].collect().sortBy(_._1)
    require(seeds.length == k,
      s"expected $k seed vectors with vec_id < $k, found ${seeds.length}")
    val ids = seeds.map(_._1)
    require(k > 0 && ids.distinct.length == k,
      s"expected $k > 0 distinct seed vec_ids, got ${ids.mkString(", ")}")
    val d = seeds.head._2.length
    require(seeds.forall(_._2.length == d),
      s"seed vectors differ in length: ${seeds.map(_._2.length).distinct.mkString(", ")}")
    var cent: Array[Array[Long]] = seeds.map(_._2.map(_.toLong * 1000L).toArray)
    var lastUpd = Map.empty[(Long, Int), (Long, Long)]
    var it = 0
    var converged = false
    // planned once: every round re-runs this RDD, never a new query
    val scan = qvecs.select("qvec").queryExecution.toRdd
    while (it < maxIters && !converged) {
      val c = cent
      // per centroid: n assigned, then Σqx per dim (k + k·d dense longs)
      val (n, s) = scan.treeAggregate((new Array[Long](k), new Array[Long](k * d)))(
        { case (acc @ (ns, ss), row) =>
          if (!row.isNullAt(0)) { // a null vector joins no cluster
            val q = row.getArray(0)
            if (q.numElements() != d) throw new IllegalArgumentException(
              s"Lloyd: vector has ${q.numElements()} dims, centroids have $d")
            // argmin under exact integer L2; only a strict improvement
            // wins, so ties go to the lowest (ascending) centroid id
            var best = 0
            var bestD = Long.MaxValue
            var j = 0
            while (j < k) {
              val cm = c(j)
              var dist = 0L
              var i = 0
              while (i < d) {
                val v = 1000L * q.getInt(i) - cm(i)
                dist += v * v
                i += 1
              }
              if (dist < bestD) { bestD = dist; best = j }
              j += 1
            }
            ns(best) += 1
            var i = 0
            while (i < d) { ss(best * d + i) += q.getInt(i); i += 1 }
          }
          acc
        },
        { case (acc @ (ns, ss), (ns2, ss2)) =>
          var i = 0
          while (i < k) { ns(i) += ns2(i); i += 1 }
          i = 0
          while (i < k * d) { ss(i) += ss2(i); i += 1 }
          acc
        })
      lastUpd = (for (j <- 0 until k if n(j) > 0; dim <- 0 until d)
        yield (ids(j), dim) -> (n(j), s(j * d + dim))).toMap
      // exact round-half-up of 1000·s/n: floor((2000s + n) / 2n); an
      // empty cluster carries its old centroid
      val next = Array.tabulate(k) { j =>
        if (n(j) == 0) c(j)
        else Array.tabulate(d)(dim => Math.floorDiv(2000L * s(j * d + dim) + n(j), 2L * n(j)))
      }
      it += 1
      converged = next.zip(cent).forall { case (a, b) => java.util.Arrays.equals(a, b) }
      cent = next
    }
    Trained(ids, cent, lastUpd, it, converged)
  }
}
