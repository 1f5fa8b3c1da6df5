package graft.operators

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftSqlShim}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** Generic distributed connected components: frontier-based Hash-Min label
  * propagation over an edge list, keyed so many independent graphs (one per
  * `key`) resolve in the same pass.
  *
  * Used by near-dup clustering (d6/d7/e4 over LSH pairs, m4 over media
  * hash pairs, d13 over embedding pairs) — the "collapse candidate pairs into
  * duplicate clusters" step every corpus-scale dedup pipeline ends with
  * (reference merge semantics: `form_calcs.py:748-792`, re-expressed as
  * order-independent components).
  *
  * Scale shape (GraphX Pregel's): Spark SQL plans the two inputs once, and
  * the rounds run as RDD jobs, so a round plans no query and generates no
  * code. The symmetrized edges are hash-partitioned once on (key, source),
  * indexed as one adjacency map per partition and persisted; the vertex
  * labels (key, id) → (comp, changed) live under the same partitioner.
  * Each round looks up the vertices that changed last round (if a label
  * did not change, every neighbor already saw it) in their partition's
  * map — the edges never move and are never scanned whole — and reduces
  * the messages to one minimum per target, the round's only shuffle; the
  * labels then take their partition's minima in one pass. Every vertex
  * is in the first round's frontier with its own id as label. Merge/dedup graphs have tiny components, so the frontier
  * collapses after the first round and later rounds are near-free —
  * O(diameter) rounds of one job each.
  *
  * Fault tolerance: each round's labels are `localCheckpoint`ed, which
  * keeps their blocks on the executors that computed them and drops the
  * lineage, so losing one of those executors fails the query instead of
  * replaying every earlier round — the trade
  * [[graft.operators.Allocation.allocateRounds]] documents.
  */
object GraphCC {

  /** Connected components of the undirected graph (`vertices`, `pairs`).
    *
    * @param vertices (key, id) — every vertex, including isolated ones; a
    *                 null id fails the task, naming the column
    * @param pairs    (key, id_a, id_b) — one row per undirected edge (either
    *                 direction; symmetrized internally). An edge with an
    *                 endpoint outside `vertices`, or with a null, is ignored.
    *                 Ids are int or long.
    * @return (key, id, comp) where comp = smallest id reachable from id,
    *         typed as `least(id, id_a, id_b)`; one row per vertex row
    * @throws IllegalArgumentException if a component's diameter exceeds
    *         maxIter (wrong labels would otherwise be returned silently)
    */
  def connectedComponents(vertices: DataFrame, pairs: DataFrame,
                          maxIter: Int = 50): DataFrame = {
    val vsel = vertices.select("key", "id")
    val Array(keyField, idField) = vsel.schema.fields
    val types = idField.dataType +: pairs.select("id_a", "id_b").schema.map(_.dataType)
    require(types.forall(t => t == IntegerType || t == LongType),
      s"GraphCC ids must be int or long, got ${types.map(_.simpleString).mkString(", ")}")
    val compType = if (types.contains(LongType)) LongType else IntegerType
    val kt = keyField.dataType
    // the inputs are planned once, ids widened to long; every round below
    // re-runs these RDDs, never a new query
    val verts = vsel.select(col("key"), col("id").cast(LongType)).queryExecution.toRdd.map { r =>
      if (r.isNullAt(1)) throw new IllegalArgumentException("GraphCC: vertex column `id` holds a null")
      ((InternalRow.copyValue(r.get(0, kt)), r.getLong(1)), (r.getLong(1), true))
    }
    val pairRows = pairs.select(col("key").cast(kt), col("id_a").cast(LongType),
      col("id_b").cast(LongType)).queryExecution.toRdd
    val part = new HashPartitioner(math.max(verts.getNumPartitions, pairRows.getNumPartitions))
    // (key, source) -> its targets, both directions, one map per partition
    // so a round looks up its frontier instead of joining every edge; an
    // edge holding a null matches no vertex
    val adj = pairRows.filter(!_.anyNull).flatMap { r =>
      val k = InternalRow.copyValue(r.get(0, kt))
      Seq(((k, r.getLong(1)), r.getLong(2)), ((k, r.getLong(2)), r.getLong(1)))
    }.groupByKey(part).mapPartitions(it => Iterator(it.toMap), preservesPartitioning = true)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // (key, id) -> (comp, changed): every vertex starts in the frontier;
    // the lazy checkpoint is materialized by the frontier count, so a
    // round is ONE job
    var labels: RDD[((Any, Long), (Long, Boolean))] = verts.partitionBy(part)
    var frontier = 0L
    var rounds = 0
    do {
      val msgs = labels.zipPartitions(adj) { (ls, a) =>
        val nbrs = a.next()
        ls.filter(_._2._2).flatMap { case (v @ (k, _), (c, _)) =>
          nbrs.getOrElse(v, Nil).map(n => ((k, n), c))
        }
      }.reduceByKey(part, math.min(_, _))
      val prev = labels
      labels = prev.zipPartitions(msgs, preservesPartitioning = true) { (ls, ms) =>
        val best = ms.toMap
        ls.map { case (v, (c, _)) => v -> best.get(v).filter(_ < c).fold((c, false))((_, true)) }
      }.localCheckpoint()
      frontier = labels.filter(_._2._2).count()
      prev.unpersist(blocking = false)
      rounds += 1
    } while (frontier > 0 && rounds < maxIter)
    adj.unpersist(blocking = false)
    // a component with diameter > maxIter would silently return wrong
    // labels — fail loudly instead
    require(frontier == 0,
      s"Hash-Min connected components did not converge in $maxIter iterations; " +
        "raise maxIter (component diameter exceeds the bound)")
    val (idInt, compInt) = (idField.dataType == IntegerType, compType == IntegerType)
    GraftSqlShim.internalFrame(vertices.sparkSession,
      labels.map { case ((k, id), (c, _)) =>
        InternalRow(k, if (idInt) id.toInt else id, if (compInt) c.toInt else c)
      },
      StructType(Seq(keyField, idField, StructField("comp", compType, idField.nullable))))
  }
}
