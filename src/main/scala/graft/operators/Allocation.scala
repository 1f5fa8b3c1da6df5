package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Sinks

/** E2 — the work-allocation state machine (`src/az_proc.py:408-445`,
  * `download_distribution.py:53-60`): take the first N unallocated items
  * under an explicit total order, assign them round-robin to annotators,
  * carry the remainder forward as state.
  *
  * The reference mutates `.npy` arrays in place and relies on array order;
  * here the order is an explicit sort key, state is a Parquet checkpoint,
  * and re-runs are idempotent (allocation is derived from rank, so the same
  * inputs always produce the same split — the anti-join memoization pattern
  * of SURVEY.md §2.9).
  */
object Allocation {

  /** One allocation round: returns (allocated-with-annotator, remaining).
    *
    * The rank comes from [[GlobalRank]] (range shuffle + per-partition
    * row_number + broadcast offsets), NOT an un-partitioned window — the
    * round-1 `Window.orderBy(...)` form planned a single-partition sort of
    * the whole remaining catalog, the classic global-window scale-killer. */
  def allocate(remaining: DataFrame, orderCols: Seq[String],
               n: Int, annotators: Seq[String]): (DataFrame, DataFrame) = {
    val ranked = GlobalRank.withGlobalRowNumber(remaining, orderCols.map(col), "rn")
    val allocated = ranked.filter(col("rn") <= n)
      .withColumn("annotator",
        element_at(array(annotators.map(lit): _*),
          ((col("rn") - 1) % annotators.length).cast("int") + 1))
      .drop("rn")
    val rest = ranked.filter(col("rn") > n).drop("rn")
    (allocated, rest)
  }

  /** Run `rounds` allocation rounds, truncating lineage between rounds the
    * way repeated CLI invocations of the reference would (each round's
    * remainder is materialized — via the Parquet state dir when given,
    * else a localCheckpoint — so round r does NOT replay rounds 1..r-1's
    * global-sort windows). Returns the union of all allocations tagged
    * with their round. */
  def allocateRounds(spark: SparkSession, initial: DataFrame,
                     orderCols: Seq[String], n: Int, annotators: Seq[String],
                     rounds: Int, stateDir: Option[String] = None): DataFrame = {
    var remaining = initial
    var acc: Option[DataFrame] = None
    (1 to rounds).foreach { r =>
      val (allocated, rest) = allocate(remaining, orderCols, n, annotators)
      val tagged = allocated.withColumn("round", lit(r))
      acc = Some(acc.map(_.unionByName(tagged)).getOrElse(tagged))
      remaining = stateDir match {
        case Some(d) =>
          val path = s"$d/remaining_r$r"
          Sinks.checkpointState(rest, path)
          // state is re-read (a real checkpoint) under the schema it was
          // written with, so the read starts no inference job
          spark.read.schema(rest.schema).parquet(path)
        case None => rest.localCheckpoint()
      }
    }
    acc.get
  }
}
